package perfbench

import graft.index.Ivf
import graft.operators.PQ
import graft.service.VectorService
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `ingest`: writes beside reads through [[VectorService]]. Set-up bulk
  * loads an index; the run repeats WRITE, DELETE, OPTIMIZE (flush) and a
  * cold SEARCH over a growing segment count, then compacts, re-clusters,
  * searches the routed tree and drives one IPC session. */
object Ingest {

  final case class Size(bulk: Int, dim: Int, clusters: Int, write: Int, delete: Int,
      queries: Int, degree: Int, beam: Int, ef: Int, segmentRows: Int, setups: Int,
      ipcRows: Int, ipcQueries: Int, roundSeconds: Double, searches: Int, warmRounds: Int)

  def size(name: String): Size = name match {
    case "tiny" => Size(bulk = 1000, dim = 16, clusters = 4, write = 200, delete = 20,
      queries = 5, degree = 12, beam = 32, ef = 32, segmentRows = 1024, setups = 2,
      ipcRows = 300, ipcQueries = 2, roundSeconds = 1, searches = 1, warmRounds = 1)
    case _ => Size(bulk = 3000, dim = 64, clusters = 16, write = 750, delete = 75,
      queries = 10, degree = 16, beam = 64, ef = 64, segmentRows = 2048, setups = 2,
      ipcRows = 500, ipcQueries = 3, roundSeconds = 2.5, searches = 2, warmRounds = 1)
  }

  val K = 10

  def run(spark: SparkSession, o: Opts, out: Outcome, tr: Option[SparkTrace]): Unit = {
    import spark.implicits._
    val z = size(o.size)
    val timers = new Timers
    def traced[A](kind: String)(body: => A): A = SparkTrace.within(tr, spark, kind)(body)
    val rnd = new java.util.Random(o.seed ^ 0x5eed)
    // a fixed number of timed rounds, about `--seconds` of churn on this
    // machine: every run, however fast, churns the same index sizes
    val timedRounds = math.max(1, math.ceil(o.seconds / z.roundSeconds).toInt)
    // every row the run writes, plus the query pool, drawn up front
    val total = z.bulk + z.write * (z.warmRounds + timedRounds)
    val c = Truth.corpus(o.seed, total, z.dim, z.clusters, 4 * z.queries)
    val deleted = new java.util.BitSet(total)
    var written = 0
    def isLive(i: Int): Boolean = i < written && !deleted.get(i)
    val ex = new Truth.Exact(c.vecs, isLive)
    val live: Long => Boolean = id => id >= 0 && id < total && isLive(id.toInt)
    def rows(from: Int, until: Int): DataFrame =
      (from until until).map(i => (i.toLong, c.vecs(i).toSeq)).toDF("id", "vec")

    val root = s"${o.runDir}/ingest"
    val svc = new VectorService(spark, root)

    // ---- set-up: bulk WRITE + OPTIMIZE into a fresh index, several
    // times; the last index is the one the run churns ----
    Timing.phase("ingest: set-up")
    val bulk = rows(0, z.bulk).cache()
    bulk.count()
    val setupTimes = (0 until z.setups).map { r =>
      val (_, s) = Timing.time(traced("build") {
        svc.create(s"idx$r", maxDegree = z.degree, beamWidth = z.beam, segmentRows = z.segmentRows)
        svc.write(s"idx$r", bulk)
        svc.optimize(s"idx$r")
      })
      s
    }
    bulk.unpersist()
    written = z.bulk
    val name = s"idx${z.setups - 1}"
    Timing.phase(s"ingest: set-ups ${setupTimes.map(s => f"$s%.2f").mkString(" ")} s")
    out.put("setup_s", Timing.median(setupTimes), "s")

    var hits = 0L; var truthN = 0L
    var rank = 0
    def nextQueries(): Seq[(Long, Array[Float])] = (0 until z.queries).map { _ =>
      val i = rank % c.queries.length; rank += 1; (i.toLong, c.queries(i))
    }
    /** One SEARCH, checked against brute force over the live rows. */
    def search(what: String): Option[Double] = {
      val qs = nextQueries()
      val r = op(s"search $what")(traced("search")(Serve.ranked(svc.search(name,
        Serve.queryDf(spark, qs), K, z.ef))))
      r.map { case (res, s) =>
        qs.foreach { case (qid, q) =>
          val (ids, scores) = res.getOrElse(qid, (Array.empty[Long], Array.empty[Double]))
          hits += Truth.checkTopK(out, s"$what q$qid", ex, live, q, ids, scores, ex.topK(q, K))
          truthN += K
        }
        s
      }
    }
    def op[A](what: String)(body: => A): Option[(A, Double)] = {
      out.attempted += 1
      try Some(Timing.time(body))
      catch {
        case e: Exception =>
          out.failed += 1
          System.err.println(s"[perfbench] ingest $what failed: $e")
          None
      }
    }

    // ---- the churn loop: whole rounds, the first ones untimed while the
    // JIT warms up, then the timed ones ----
    val writeSecs = collection.mutable.ArrayBuffer.empty[Double]
    val churnMs = collection.mutable.ArrayBuffer.empty[Double]
    def round(timed: Boolean): Unit = {
      val from = written
      val w = op("write")(traced("write")(timers("service.write_s")(svc.write(name, rows(from, from + z.write)))))
      val victims = Iterator.continually(rnd.nextInt(from)).filter(i => !deleted.get(i))
        .distinct.take(z.delete).toArray
      op("delete")(traced("delete")(timers("service.delete_s")(
        svc.delete(name, victims.map(_.toLong).toSeq.toDF("id")))))
        .foreach { _ => victims.foreach(deleted.set) }
      val f = op("flush")(traced("flush")(timers("service.flush_s")(svc.optimize(name))))
      f.foreach { _ => written = from + z.write }
      for (ws <- w; fs <- f if timed) writeSecs += ws._2 + fs._2
      (0 until z.searches).foreach(_ => search("churn").foreach(s => if (timed) churnMs += s * 1e3))
    }
    Timing.phase("ingest: warm-up")
    (0 until z.warmRounds).foreach(_ => round(timed = false))
    Timing.phase(s"ingest: loop, $timedRounds timed rounds")
    (0 until timedRounds).foreach(_ => round(timed = true))
    def show(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    System.err.println(s"[perfbench] ingest: write+flush ${show(writeSecs)} s; churn searches " +
      s"${show(churnMs.map(_ / 1e3))} s")

    // ---- maintenance: compaction, then re-clustering into a routed tree ----
    Timing.phase("ingest: maintenance")
    val compact = op("compact")(traced("compact")(svc.optimize(name, compactNow = true)))
    val stored = storedIds(spark, s"$root/$name")
    val want = (0 until written).filter(i => !deleted.get(i)).map(_.toLong).toSet
    if (stored.length != stored.distinct.length) out.wrong("compaction: duplicate stored ids")
    if (stored.toSet != want)
      out.wrong(s"compaction: ${stored.toSet.diff(want).size} stored ids never written or deleted, " +
        s"${want.diff(stored.toSet).size} live ids missing")
    val cluster = op("cluster")(traced("compact")(svc.optimize(name, cluster = true)))
    val hitsBefore = hits; val truthBefore = truthN
    val routed = search("routed")
    val finalRecall = (hits - hitsBefore).toDouble / math.max(1L, truthN - truthBefore)

    // rows made searchable per second of WRITE + OPTIMIZE, over every
    // timed round
    val rowsPerS = writeSecs.size * z.write / math.max(writeSecs.sum, 1e-9)
    out.put("ops_per_s", rowsPerS, "1/s")
    out.put("op_p50_ms", Timing.median(churnMs.toSeq), "ms")
    out.put("quality", hits.toDouble / math.max(1L, truthN), "ratio")

    Timing.phase("ingest: ipc")
    // one IPC session on the first live rows (ids there are insertion
    // ordinals, so it gets its own brute force)
    val ipcVecs = (0 until written).filter(i => !deleted.get(i)).take(z.ipcRows).map(c.vecs(_)).toArray
    val ipcEx = new Truth.Exact(ipcVecs, _ => true)
    val ipcQs = nextQueries().take(z.ipcQueries)
    Layers.ipc(spark, o, out, ipcVecs, ipcQs, z.degree, z.beam, z.ef,
      (q, ids) => { val tt = ipcEx.topK(q, K).toSet; ids.count(tt.contains) })

    Timing.phase("ingest: ipc done")
    if (tr.isEmpty) return

    // ---------------- traced run: the per-layer figures ----------------
    out.put("ingest.rows_per_s", rowsPerS, "1/s")
    out.put("ingest.rounds", timedRounds.toDouble, "count")
    out.put("ingest.churn_search_ms", Timing.median(churnMs.toSeq), "ms")
    // a failed operation leaves its metric unmeasured, and the launcher
    // refuses a traced run that lacks one
    compact.foreach(r => out.put("ingest.compact_s", r._2, "s"))
    cluster.foreach(r => out.put("ingest.cluster_s", r._2, "s"))
    out.put("ingest.recall_at_10", finalRecall, "ratio")
    out.put("service.write_s", timers.median("service.write_s"), "s")
    out.put("service.delete_s", timers.median("service.delete_s"), "s")
    out.put("service.flush_s", timers.median("service.flush_s"), "s")
    out.put("service.search_ms", Timing.median(churnMs.toSeq), "ms")
    routed.foreach(s => out.put("service.routed_search_ms", s * 1e3, "ms"))
    out.put("ingest.index_bytes_per_vector",
      Layers.dirBytes(s"$root/$name").toDouble / math.max(1, want.size), "bytes")

    // training layers on the live rows the cluster compaction saw
    val liveRows = (0 until written).filter(i => !deleted.get(i)).map(i => (i.toLong, c.vecs(i).toSeq))
      .toDF("id", "vec").cache()
    liveRows.count()
    val nlist = math.max(1, want.size / z.segmentRows)
    out.put("pq.train_s", Timing.time(PQ.train(liveRows, "vec", z.dim / 4))._2, "s")
    val (ivf, ivfS) = Timing.time(Ivf.train(liveRows, "vec", nlist))
    out.put("ivf.train_s", ivfS, "s")
    out.put("ivf.assign_s", Timing.time(Ivf.assign(liveRows, "vec", ivf).count())._2, "s")
    liveRows.unpersist()

    tr.foreach(_.drain(spark))
    SparkTrace.put(out, tr, "build")
    SparkTrace.put(out, tr, "write")
    SparkTrace.put(out, tr, "delete")
    SparkTrace.put(out, tr, "flush")
    SparkTrace.put(out, tr, "search")
    SparkTrace.put(out, tr, "compact")
  }

  /** Ids stored in the index's serving generation. */
  def storedIds(spark: SparkSession, dir: String): Array[Long] = {
    val cur = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/_current")), "UTF-8").trim
    spark.read.option("basePath", s"$dir/$cur").parquet(s"$dir/$cur/*")
      .select(col("node_id").cast("long")).collect().map(_.getLong(0))
  }
}

package perfbench

import graft.index.{Ann, Ivf}
import graft.operators.{KnnExact, PQ}
import graft.plans.AnnCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `serve`: a seeded clustered corpus built into an exact-scored index and
  * a PQ two-phase index, both pinned; the run sends batched top-10,
  * batched threshold and single-query searches in a closed loop. */
object Serve {

  final case class Size(n: Int, dim: Int, clusters: Int, pool: Int, batch: Int,
      thresholdBatch: Int, singles: Int, degree: Int, beam: Int, ef: Int, pqM: Int,
      setups: Int, ipcQueries: Int, segmentRows: Int, warmSeconds: Double)

  def size(name: String): Size = name match {
    case "tiny" => Size(n = 1500, dim = 16, clusters = 8, pool = 40, batch = 10,
      thresholdBatch = 5, singles = 2, degree = 12, beam = 32, ef = 32, pqM = 4,
      setups = 2, ipcQueries = 2, segmentRows = 400, warmSeconds = 1)
    case _ => Size(n = 5000, dim = 64, clusters = 32, pool = 400, batch = 100,
      thresholdBatch = 20, singles = 4, degree = 16, beam = 64, ef = 64, pqM = 16,
      setups = 2, ipcQueries = 10, segmentRows = 1280, warmSeconds = 4)
  }

  val K = 10

  def queryDf(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
  }

  /** (qid -> ranked (ids, scores)) from a (qid, rank, nid, score) result. */
  def ranked(df: DataFrame): Map[Long, (Array[Long], Array[Double])] =
    df.select(col("qid").cast("long"), col("rank").cast("int"), col("nid").cast("long"),
        col("score").cast("double"))
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        val s = rs.sortBy(_.getInt(1))
        q -> (s.map(_.getLong(2)), s.map(_.getDouble(3)))
      }

  def run(spark: SparkSession, o: Opts, out: Outcome, tr: Option[SparkTrace]): Unit = {
    import spark.implicits._
    val z = size(o.size)
    val timers = new Timers
    def traced[A](kind: String)(body: => A): A = SparkTrace.within(tr, spark, kind)(body)

    Timing.phase("serve: inputs")
    val c = Truth.corpus(o.seed, z.n, z.dim, z.clusters, z.pool)
    val ex = new Truth.Exact(c.vecs, _ => true)
    val live: Long => Boolean = id => id >= 0 && id < z.n
    // truth for every pool query, computed once, outside any timing
    val truth = c.queries.map(q => ex.topK(q, K))
    // one threshold for the whole run: the median pool query's 20th best
    val t = Timing.median(c.queries.toSeq.take(math.min(z.pool, 100)).map(q => ex.kthScore(q, 20)))
    val tTruth = c.queries.map(q => ex.above(q, t))

    Timing.phase("serve: truth done")
    val basePath = s"${o.runDir}/serve/base"
    val base = spark.sparkContext
      .parallelize(c.vecs.indices.map(i => (i.toLong, c.vecs(i).toSeq)), o.cores)
      .toDF("id", "vec").cache()
    base.count()
    val params = Ann.Params(metric = "COSINE", maxDegree = z.degree, beamWidth = z.beam,
      segmentRows = z.segmentRows)
    val pqParams = params.copy(pqM = z.pqM)

    var next = 0
    def take(n: Int): Seq[(Long, Array[Float])] = (0 until n).map { _ =>
      val i = next % z.pool; next += 1; (i.toLong, c.queries(i))
    }
    var hits = 0L; var truthN = 0L
    var pqHits = 0L; var pqTruthN = 0L
    var tHits = 0L; var tTruthN = 0L

    def checkTopK(what: String, qs: Seq[(Long, Array[Float])],
        res: Map[Long, (Array[Long], Array[Double])]): Int =
      qs.map { case (qid, q) =>
        val (ids, scores) = res.getOrElse(qid, (Array.empty[Long], Array.empty[Double]))
        Truth.checkTopK(out, s"$what q$qid", ex, live, q, ids, scores, truth(qid.toInt))
      }.sum
    def exactSearch(path: String, qs: Seq[(Long, Array[Float])]) =
      ranked(Ann.searchIndex(spark, path, queryDf(spark, qs), K, z.ef, params))
    def pqSearch(path: String, qs: Seq[(Long, Array[Float])]) =
      ranked(Ann.searchIndex(spark, path, queryDf(spark, qs), K, z.ef, pqParams, rerankK = 4 * K))

    // ---- set-up: build both indexes, pin them and answer one batch on
    // each (the first search of an index assembles its segment graphs);
    // several times, the last pair serves, the first exact index stays
    // unpinned as the cold route's copy ----
    Timing.phase("serve: set-up")
    val setupTimes = (0 until z.setups).map { r =>
      val exactPath = s"${o.runDir}/serve/exact$r"
      val pqPath = s"${o.runDir}/serve/pq$r"
      if (r > 0) { Ann.unpin(s"${o.runDir}/serve/exact${r - 1}"); Ann.unpin(s"${o.runDir}/serve/pq${r - 1}") }
      val qs = take(z.batch)
      val t0 = Timing.now()
      traced("build") {
        timers("ann.build_s")(Ann.buildIndex(base, exactPath, params))
        timers("ann.build_pq_s")(Ann.buildIndex(base, pqPath, pqParams))
        timers("ann.pin_s") { Ann.pin(spark, exactPath); Ann.pin(spark, pqPath) }
        val (e, p) = timers("ann.first_batch_s")((exactSearch(exactPath, qs), pqSearch(pqPath, qs)))
        val secs = Timing.secs(t0)
        checkTopK("first exact", qs, e); checkTopK("first pq", qs, p)
        secs
      }
    }
    val exactPath = s"${o.runDir}/serve/exact${z.setups - 1}"
    val pqPath = s"${o.runDir}/serve/pq${z.setups - 1}"
    val coldPath = s"${o.runDir}/serve/exact0"
    Timing.phase(s"serve: set-ups ${setupTimes.map(s => f"$s%.2f").mkString(" ")} s")
    out.put("setup_s", Timing.median(setupTimes), "s")

    // ---- the closed loop: whole rounds, untimed until the JIT has warmed
    // up, then timed until the run time is spent ----
    val exactBatch = collection.mutable.ArrayBuffer.empty[Double]
    val pqBatch = collection.mutable.ArrayBuffer.empty[Double]
    val thrBatch = collection.mutable.ArrayBuffer.empty[Double]
    val singleMs = collection.mutable.ArrayBuffer.empty[Double]

    /** One operation of `n` queries: Some(result, seconds), or None when it
      * threw (all `n` count as failed). */
    def op[A](n: Int)(body: => A): Option[(A, Double)] = {
      out.attempted += n
      try Some(Timing.time(body))
      catch {
        case e: Exception =>
          out.failed += n
          System.err.println(s"[perfbench] serve op failed: $e")
          None
      }
    }

    def round(timed: Boolean): Unit = {
      val qs = take(z.batch)
      op(z.batch)(traced("batch")(exactSearch(exactPath, qs))).foreach { case (res, s) =>
        if (timed) exactBatch += s
        hits += checkTopK("exact", qs, res); truthN += K.toLong * qs.size
      }
      op(z.batch)(traced("batch")(pqSearch(pqPath, qs))).foreach { case (res, s) =>
        if (timed) pqBatch += s
        pqHits += checkTopK("pq", qs, res); pqTruthN += K.toLong * qs.size
      }
      val tqs = take(z.thresholdBatch)
      op(z.thresholdBatch)(traced("threshold")(
        Ann.thresholdSearchIndex(spark, exactPath, queryDf(spark, tqs), t, z.ef, params)
          .select(col("qid").cast("long"), col("nid").cast("long"), col("score").cast("double"))
          .collect().groupBy(_.getLong(0))))
        .foreach { case (res, s) =>
          if (timed) thrBatch += s
          tqs.foreach { case (qid, q) =>
            val rs = res.getOrElse(qid, Array.empty)
            val want = tTruth(qid.toInt)
            tHits += Truth.checkThreshold(out, s"threshold q$qid", ex, live, q, t,
              rs.map(_.getLong(1)), rs.map(_.getDouble(2)), want)
            tTruthN += want.size
          }
        }
      take(z.singles).foreach { one =>
        op(1)(traced("single")(exactSearch(exactPath, Seq(one)))).foreach { case (res, s) =>
          if (timed) singleMs += s * 1e3
          hits += checkTopK("single", Seq(one), res); truthN += K
        }
      }
    }

    Timing.phase("serve: warm-up")
    val warmUntil = Timing.now() + (z.warmSeconds * 1e9).toLong
    do round(timed = false) while (Timing.now() < warmUntil)
    Timing.phase("serve: loop")
    val deadline = Timing.now() + (o.seconds * 1e9).toLong
    while (Timing.now() < deadline) round(timed = true)
    Timing.phase("serve: loop done")
    def show(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    System.err.println(s"[perfbench] serve: exact batches ${show(exactBatch)} s; pq ${show(pqBatch)} s; " +
      s"threshold ${show(thrBatch)} s; singles ${show(singleMs.map(_ / 1e3))} s")
    val exactQueries = exactBatch.size * z.batch
    // batch throughput: every timed batch's queries (exact, PQ, threshold)
    // over their summed search time; single queries are op_p50_ms
    val batchQueries = exactQueries + pqBatch.size * z.batch + thrBatch.size * z.thresholdBatch
    val batchSecs = exactBatch.sum + pqBatch.sum + thrBatch.sum
    out.put("ops_per_s", batchQueries / math.max(batchSecs, 1e-9), "1/s")
    out.put("op_p50_ms", Timing.median(singleMs.toSeq), "ms")
    out.put("quality", hits.toDouble / math.max(1L, truthN), "ratio")

    if (tr.isEmpty) return

    // ---------------- traced run: the per-layer figures ----------------
    out.put("serve.search_qps", exactQueries / math.max(exactBatch.sum, 1e-9), "1/s")
    out.put("serve.pq_search_qps", pqBatch.size * z.batch / math.max(pqBatch.sum, 1e-9), "1/s")
    out.put("serve.threshold_qps", thrBatch.size * z.thresholdBatch / math.max(thrBatch.sum, 1e-9), "1/s")
    out.put("serve.search_p50_ms", Timing.median(singleMs.toSeq), "ms")
    out.put("serve.search_tail_ms", Timing.tail(singleMs.toSeq), "ms")
    out.put("serve.recall_at_10", hits.toDouble / math.max(1L, truthN), "ratio")
    out.put("serve.pq_recall_at_10", pqHits.toDouble / math.max(1L, pqTruthN), "ratio")
    out.put("serve.threshold_recall", tHits.toDouble / math.max(1L, tTruthN), "ratio")
    out.put("serve.index_bytes_per_vector", Layers.dirBytes(exactPath).toDouble / z.n, "bytes")
    out.put("ann.build_s", timers.median("ann.build_s"), "s")
    out.put("ann.build_pq_s", timers.median("ann.build_pq_s"), "s")
    out.put("ann.pin_s", timers.median("ann.pin_s"), "s")
    out.put("ann.first_batch_s", timers.median("ann.first_batch_s"), "s")
    out.put("ann.pinned_batch_s", Timing.median(exactBatch.toSeq), "s")

    val probe = take(z.batch)
    val qdf = queryDf(spark, probe)
    // effort counters on the pinned exact and PQ routes
    val m = Ann.newMetrics(spark)
    Ann.searchIndex(spark, exactPath, qdf, K, z.ef, params, metrics = Some(m)).collect()
    val mpq = Ann.newMetrics(spark)
    Ann.searchIndex(spark, pqPath, qdf, K, z.ef, pqParams, rerankK = 4 * K, metrics = Some(mpq)).collect()
    out.put("ann.visited_per_query", m.visited.value.toDouble / probe.size, "count")
    out.put("ann.expanded_per_query", m.expanded.value.toDouble / probe.size, "count")
    out.put("ann.reranked_per_query", mpq.reranked.value.toDouble / probe.size, "count")

    // cold route: the same batch on the unpinned copy of the exact index
    val cold = (0 until 3).map(_ => Timing.time(ranked(Ann.searchIndex(spark, coldPath, qdf, K, z.ef, params)))._2)
    out.put("ann.cold_batch_s", Timing.median(cold), "s")

    // operators: the same batch as an exact Spark scan, no graph
    val exactScan = (0 until 3).map { _ =>
      val (res, s) = Timing.time(ranked(KnnExact.knn(base, qdf, K, "COSINE")))
      checkTopK("knnexact", probe, res)
      s
    }
    out.put("knnexact.batch_s", Timing.median(exactScan), "s")

    // training layers on the same rows
    out.put("pq.train_s", Timing.time(PQ.train(base, "vec", z.pqM))._2, "s")
    val (ivf, ivfS) = Timing.time(Ivf.train(base, "vec", z.clusters))
    out.put("ivf.train_s", ivfS, "s")
    out.put("ivf.assign_s", Timing.time(Ivf.assign(base, "vec", ivf).count())._2, "s")

    // plans: one query as SQL over the registered table
    base.write.parquet(basePath)
    AnnCatalog.register(spark, basePath, AnnCatalog.IndexInfo(exactPath, "id", "vec", z.ef, params))
    graft.GraftFunctions.register(spark)
    spark.read.parquet(basePath).createOrReplaceTempView("serve_base")
    val sqlMs = probe.take(math.min(10, probe.size)).map { case (qid, q) =>
      val lit = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
      val df = spark.sql(s"SELECT * FROM serve_base ORDER BY graft_cosine_sim(vec, $lit) DESC LIMIT $K")
      val (ids, s) = Timing.time(df.collect().map(_.getAs[Long]("id")))
      if (!df.queryExecution.executedPlan.toString.contains("KnnIndexScan"))
        out.wrong("plans: the SQL top-k did not use the index scan")
      if (ids.length != K || ids.distinct.length != K || !ids.forall(live))
        out.wrong(s"plans q$qid: ids ${ids.mkString(",")}")
      s * 1e3
    }
    AnnCatalog.clear()
    out.put("plans.sql_single_ms", Timing.median(sqlMs), "ms")

    Layers.kernelAndGraph(out, c.vecs.take(z.segmentRows), c.queries, z.degree, z.beam, z.ef)
    Layers.ipc(spark, o, out, c.vecs, probe.take(z.ipcQueries), z.degree, z.beam, z.ef,
      (q, ids) => { val tt = ex.topK(q, K); ids.count(tt.toSet.contains) })

    tr.foreach(_.drain(spark))
    SparkTrace.put(out, tr, "build")
    SparkTrace.put(out, tr, "single")
    SparkTrace.put(out, tr, "batch")
    SparkTrace.put(out, tr, "threshold")
  }
}

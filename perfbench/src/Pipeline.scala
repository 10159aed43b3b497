package perfbench

import graft.Tables
import graft.queries.CorpusPrepQueries
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** `pipeline`: the first call, in a fresh session, of every CorpusPrep
  * entry of `SparkEntry.queries` on the seeded tables in `<run-dir>/data`.
  * Only each entry's execution is timed; its rows are then written to
  * `<run-dir>/pipeline/<entry>` beside the entry's DuckDB oracle SQL, and
  * the launcher compares the two. CorpusPrep builds no ANN index, so a
  * search or build change leaves this workload flat; TextDedup and
  * Retrieval are left out to keep a run short (see the README). */
object Pipeline {

  val module = "corpusprep"

  /** Set-up: a fresh session that has read its input tables. */
  def freshSession(o: Opts, data: String): SparkSession = {
    val s = Spark.start(o)
    Seq("documents", "embeddings").foreach(t => Tables.load(s, data, t).count())
    s
  }

  /** Runs the entries on `spark0` after two more set-ups; returns the
    * session in use at the end. */
  def run(spark0: SparkSession, firstSetupS: Double, o: Opts, out: Outcome,
      newTrace: SparkSession => Option[SparkTrace]): SparkSession = {
    val data = s"${o.runDir}/data"
    var spark = spark0
    // more set-ups, each a stopped session followed by a fresh one
    val setups = firstSetupS +: (1 until 3).map { _ =>
      spark.stop()
      val (s, secs) = Timing.time(freshSession(o, data))
      spark = s
      secs
    }
    out.put("setup_s", Timing.median(setups), "s")
    val tr = newTrace(spark)

    val outDir = Paths.get(o.runDir, "pipeline")
    Files.createDirectories(outDir)
    val oracles = collection.mutable.LinkedHashMap.empty[String, String]
    val times = collection.mutable.LinkedHashMap.empty[String, Double]
    var writeS = 0.0
    for ((name, fn) <- CorpusPrepQueries.queries.toSeq.sortBy(_._1)) {
      out.attempted += 1
      try {
        val t0 = Timing.now()
        val (df, rows) = SparkTrace.within(tr, spark, "entry") { val df = fn(spark, data); (df, df.collect()) }
        val secs = Timing.secs(t0)
        times(name) = secs
        val tw = Timing.now()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(outDir.resolve(name).toString)
        writeS += Timing.secs(tw)
        CorpusPrepQueries.oracles.get(name) match {
          case Some(sql) => oracles(name) = sql
          case None => out.wrong(s"pipeline $name has no oracle")
        }
      } catch {
        case e: Exception =>
          out.failed += 1
          System.err.println(s"[perfbench] pipeline $name failed: $e")
      }
    }
    System.err.println(f"[perfbench] pipeline: result writes ${writeS}%.1f s")
    Files.write(outDir.resolve("oracle_sql.json"), json(oracles).getBytes(StandardCharsets.UTF_8))

    val entryTimes = times.values.toSeq
    val total = entryTimes.sum
    out.put("ops_per_s", entryTimes.size / math.max(total, 1e-9), "1/s")
    out.put("op_p50_ms", Timing.median(entryTimes) * 1e3, "ms")
    // quality is the share of entries whose rows equal the oracle's; the
    // launcher fills it in after the DuckDB comparison
    if (tr.isDefined) {
      out.put(s"pipeline.${module}_s", total, "s")
      times.foreach { case (k, v) => out.put(s"pipeline.${k}_s", v, "s") }
      tr.foreach(_.drain(spark))
      SparkTrace.put(out, tr, "entry")
    }
    spark
  }

  def json(m: collection.Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
  }
}

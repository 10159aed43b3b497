package perfbench

import org.apache.spark.sql.SparkSession

/** One workload run in this JVM. Prints the run's outcome as one line
  * `PERFBENCH_RESULT {json}` on stdout; the launcher shapes the final
  * result from it. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val out = new Outcome
    System.err.println(s"[perfbench] kernels: ${graft.simd.Kernels.INSTANCE.name}")
    def trace(spark: SparkSession): Option[SparkTrace] =
      if (!o.trace) None
      else {
        val t = new SparkTrace
        spark.sparkContext.addSparkListener(t)
        Some(t)
      }
    val (spark0, sessionS) = Timing.time(
      if (o.workload == "pipeline") Pipeline.freshSession(o, s"${o.runDir}/data") else Spark.start(o))
    var spark = spark0
    Timing.phase("session up")
    try {
      o.workload match {
        case "serve" => Serve.run(spark, o, out, trace(spark))
        case "ingest" => Ingest.run(spark, o, out, trace(spark))
        case "pipeline" => spark = Pipeline.run(spark, sessionS, o, out, trace)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (o.trace) {
        out.put("spark.session_s", sessionS, "s")
        out.put("simd.panama", if (graft.simd.Kernels.INSTANCE.name.startsWith("panama")) 1.0 else 0.0, "count")
      }
    } finally { Timing.phase("stopping"); spark.stop() }
    Timing.phase("done")
    println("PERFBENCH_RESULT " + out.json)
  }
}

package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Command-line options shared by every workload. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    size: String,
    runDir: String,
    cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      workload = m("workload"),
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      size = m.getOrElse("size", "full"),
      runDir = m("run-dir"),
      cores = m.getOrElse("cores", "4").toInt)
  }
}

/** One workload run's outcome: operations attempted/failed, whether every
  * checked output was correct, and the metrics by name. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var correct = true
  private val notes = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Record a failed correctness check (first few messages go to stderr). */
  def wrong(msg: String): Unit = {
    correct = false
    if (notes.size < 20) { notes += msg; System.err.println(s"[perfbench] WRONG: $msg") }
  }

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

object Timing {
  private val start = System.nanoTime()

  /** A progress line on stderr with the seconds since the JVM started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%7.2f s  $what")

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[A](body: => A): (A, Double) = { val t0 = now(); val a = body; (a, secs(t0)) }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it; with
    * fewer than forty samples the median (no tail can be claimed). */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n < 40) median(s)
    else {
      // percentile p such that n * (1 - p) >= 10 -> index n - 11
      s(n - 11)
    }
  }
}

/** Wall seconds of each call into a layer, by layer name, timed from the
  * benchmark's side of the public call. */
final class Timers {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def apply[A](name: String)(body: => A): A = {
    val t0 = Timing.now()
    try body
    finally samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Timing.secs(t0)
  }

  def median(name: String): Double =
    samples.get(name).filter(_.nonEmpty).map(b => Timing.median(b.toSeq)).getOrElse(0.0)
}

/** Spark work counted for one operation kind. */
final class OpCounts {
  var jobs = 0L; var jobsEnded = 0L; var stages = 0L; var tasks = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var cpuNs = 0L
}

/** Spark work per operation kind, counted by a listener that the benchmark
  * registers on its own session. The kind travels as a local property of
  * the submitting thread, so attribution holds however late the
  * asynchronous listener bus delivers the events. */
final class SparkTrace extends SparkListener {
  private val Prop = "perfbench.op"
  private val byKind = mutable.HashMap.empty[String, OpCounts]
  private val stageKind = mutable.HashMap.empty[Int, String]
  private val jobKind = mutable.HashMap.empty[Int, String]
  private val calls = mutable.HashMap.empty[String, Long]

  private def kindOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Prop))).getOrElse("other")

  private def counts(k: String): OpCounts = byKind.getOrElseUpdate(k, new OpCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = kindOf(e.properties)
    counts(k).jobs += 1
    jobKind(e.jobId) = k
    e.stageIds.foreach(stageKind(_) = k)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    counts(jobKind.getOrElse(e.jobId, "other")).jobsEnded += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageKind(e.stageInfo.stageId) = kindOf(e.properties)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageKind.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageKind.getOrElse(e.stageId, "other"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.cpuNs += m.executorCpuTime
    }
  }

  /** Run `body` as one operation of `kind`, its Spark jobs attributed to
    * that kind. */
  def as[A](spark: SparkSession, kind: String)(body: => A): A = {
    synchronized(calls(kind) = calls.getOrElse(kind, 0L) + 1)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, kind)
    try body finally sc.setLocalProperty(Prop, prev)
  }

  /** Wait until the bus has delivered every event posted so far: run one
    * marker job and wait for its end event (the bus is FIFO). */
  def drain(spark: SparkSession): Unit = {
    val before = synchronized(counts("marker").jobsEnded)
    as(spark, "marker") { spark.sparkContext.parallelize(Seq(1), 1).count() }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (synchronized(counts("marker").jobsEnded) <= before && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  def snapshot(kind: String): OpCounts = synchronized(byKind.getOrElse(kind, new OpCounts))
  def callsOf(kind: String): Long = synchronized(calls.getOrElse(kind, 0L))
}

object SparkTrace {
  /** Run `body` as one operation of `kind` when tracing, as is otherwise. */
  def within[A](tr: Option[SparkTrace], spark: SparkSession, kind: String)(body: => A): A =
    tr.fold(body)(_.as(spark, kind)(body))

  /** Spark work per operation of `kind`: jobs, stages, tasks, shuffle and
    * spill bytes, executor CPU. Zero when the kind never ran (or untraced). */
  def put(out: Outcome, tr: Option[SparkTrace], kind: String): Unit = {
    val c = tr.map(_.snapshot(kind)).getOrElse(new OpCounts)
    val n = math.max(1L, tr.map(_.callsOf(kind)).getOrElse(1L)).toDouble
    out.put(s"spark.$kind.jobs", c.jobs / n, "count")
    out.put(s"spark.$kind.stages", c.stages / n, "count")
    out.put(s"spark.$kind.tasks", c.tasks / n, "count")
    out.put(s"spark.$kind.shuffle_bytes", c.shuffleBytes / n, "bytes")
    out.put(s"spark.$kind.spill_bytes", c.spillBytes / n, "bytes")
    out.put(s"spark.$kind.executor_cpu_s", c.cpuNs / 1e9 / n, "s")
  }
}

object Spark {
  /** The session every workload runs on: local[cores], scratch space and
    * the warehouse inside the run directory. */
  def start(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.runDir}/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

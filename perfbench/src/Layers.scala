package perfbench

import graft.index.Vamana
import graft.service.IpcServer
import graft.simd.Kernels
import org.apache.spark.sql.SparkSession

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.SocketChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Probes of single layers on the workload's own vectors: the SIMD kernel
  * and one in-process graph (traced runs), and the IPC front end. */
object Layers {

  def dirBytes(path: String): Long = {
    val s = Files.walk(Paths.get(path))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  /** simd.* and vamana.*: the kernel on dim-d rows, then one segment's graph
    * built and searched on one thread. */
  def kernelAndGraph(out: Outcome, seg: Array[Array[Float]], queries: Array[Array[Float]],
      degree: Int, beam: Int, ef: Int): Unit = {
    val k = Kernels.INSTANCE
    val calls = 1 << 20
    var sink = 0.0
    val perCall = (0 until 7).map { _ =>
      val t0 = Timing.now()
      var i = 0
      while (i < calls) { sink += k.dot(seg(i % seg.length), seg((i * 7 + 3) % seg.length)); i += 1 }
      Timing.secs(t0) * 1e9 / calls
    }
    if (sink.isNaN) out.wrong("simd: dot produced NaN")
    out.put("simd.dot_ns", Timing.median(perCall.drop(2)), "ns")

    val (g, buildS) = Timing.time(new Vamana(seg, "COSINE", degree, beam).build(1))
    out.put("vamana.build_vps", seg.length / buildS, "1/s")
    val ex = new Truth.Exact(seg, _ => true)
    val vc = new Vamana.VisitCounter
    val t0 = Timing.now()
    val res = queries.map(q => g.search(q, 10, ef, _ => true, vc))
    val us = Timing.secs(t0) * 1e6 / queries.length
    res.zip(queries).zipWithIndex.foreach { case ((r, q), i) =>
      Truth.checkTopK(out, s"vamana q$i", ex, id => id >= 0 && id < seg.length, q,
        r.map(_._1.toLong), r.map(_._2), ex.topK(q, 10))
    }
    out.put("vamana.search_us", us, "us")
    out.put("vamana.visited_per_query", vc.n.toDouble / queries.length, "count")
  }

  /** A line-protocol client for [[IpcServer]]. */
  final class Client(path: String) {
    private val ch = SocketChannel.open(StandardProtocolFamily.UNIX)
    ch.connect(UnixDomainSocketAddress.of(path))
    private val pending = new StringBuilder
    private val buf = ByteBuffer.allocate(1 << 16)

    def send(line: String): String = {
      val o = ByteBuffer.wrap((line + "\n").getBytes(StandardCharsets.UTF_8))
      while (o.hasRemaining) ch.write(o)
      var nl = pending.indexOf("\n")
      while (nl < 0) {
        if (ch.read(buf) == -1) throw new IllegalStateException("server closed the connection")
        buf.flip(); pending.append(StandardCharsets.UTF_8.decode(buf)); buf.clear()
        nl = pending.indexOf("\n")
      }
      val r = pending.substring(0, nl)
      pending.delete(0, nl + 1)
      r
    }
    def close(): Unit = ch.close()
  }

  def vecLit(v: Array[Float]): String = v.mkString("[", ",", "]")

  /** One IPC session over `vecs` (ids = positions): CREATE, BULKLOAD,
    * OPTIMIZE, then single-query SEARCHes, each checked. `hitsOf(q, ids)`
    * counts true top-10 members. Puts ipc.search_ms and ipc.recall_at_10;
    * a verb answered with anything but its success reply counts as a
    * failed operation. */
  def ipc(spark: SparkSession, o: Opts, out: Outcome, vecs: Array[Array[Float]],
      queries: Seq[(Long, Array[Float])], degree: Int, beam: Int, ef: Int,
      hitsOf: (Array[Float], Array[Long]) => Int): Unit = {
    val dir = Paths.get(o.runDir, "ipc")
    Files.createDirectories(dir)
    val bin = dir.resolve("vectors.bin")
    val bb = ByteBuffer.allocate(vecs.length * vecs(0).length * 4).order(ByteOrder.LITTLE_ENDIAN)
    vecs.foreach(_.foreach(bb.putFloat))
    Files.write(bin, bb.array())
    // unix socket paths are length-limited: use a path relative to the
    // working directory
    val sock = Paths.get("").toAbsolutePath.relativize(dir.resolve("s.sock").toAbsolutePath).toString
    val srv = new IpcServer(spark, dir.resolve("root").toString, sock)
    try {
      val c = new Client(sock)
      try {
        def expectOk(line: String): Unit = {
          out.attempted += 1
          val r = c.send(line)
          if (r != "OK") { out.failed += 1; System.err.println(s"[perfbench] ipc '${line.take(40)}': $r") }
        }
        expectOk(s"CREATE ${vecs(0).length} COSINE $degree $beam")
        expectOk(s"BULKLOAD ${bin.toAbsolutePath}")
        expectOk("OPTIMIZE")
        var hits = 0L
        val ms = queries.map { case (qid, q) =>
          out.attempted += 1
          val (r, s) = Timing.time(c.send(s"SEARCH $ef 10 ${vecLit(q)}"))
          if (!r.startsWith("RESULT [")) {
            out.failed += 1; System.err.println(s"[perfbench] ipc SEARCH: $r")
          } else {
            val body = r.stripPrefix("RESULT [").stripSuffix("]")
            val ids = if (body.isEmpty) Array.empty[Long] else body.split(",").map(_.toLong)
            if (ids.length != 10 || ids.distinct.length != 10 || !ids.forall(i => i >= 0 && i < vecs.length))
              out.wrong(s"ipc q$qid: ids ${ids.mkString(",")}")
            hits += hitsOf(q, ids)
          }
          s * 1e3
        }
        out.put("ipc.search_ms", Timing.median(ms), "ms")
        out.put("ipc.recall_at_10", hits.toDouble / (10L * math.max(1, queries.size)), "ratio")
      } finally c.close()
    } finally srv.close()
  }
}

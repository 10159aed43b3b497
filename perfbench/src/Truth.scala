package perfbench

/** Seeded inputs and the independent truth every search result is checked
  * against. Plain Scala double arithmetic only: nothing here calls the
  * program's kernels, expressions or exact-search operators. */
object Truth {

  /** A clustered corpus: `n` vectors of `dim` floats around `clusters`
    * random centres (Gaussian spread `sigma`), ids 0..n-1, and `nq` query
    * vectors drawn from the same mixture. */
  final case class Corpus(vecs: Array[Array[Float]], queries: Array[Array[Float]])

  def corpus(seed: Long, n: Int, dim: Int, clusters: Int, nq: Int, sigma: Double = 0.35): Corpus = {
    val rnd = new java.util.Random(seed)
    val centres = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian()))
    def draw(): Array[Float] = {
      val c = centres(rnd.nextInt(clusters))
      Array.tabulate(dim)(i => (c(i) + sigma * rnd.nextGaussian()).toFloat)
    }
    val vecs = Array.fill(n)(draw())
    val qs = Array.fill(nq)(draw())
    Corpus(vecs, qs)
  }

  def norm(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** The program's cosine score convention: (1 + cos) / 2. */
  def score(q: Array[Float], qn: Double, v: Array[Float], vn: Double): Double = {
    var d = 0.0; var i = 0
    while (i < q.length) { d += q(i).toDouble * v(i).toDouble; i += 1 }
    (1.0 + d / (qn * vn)) / 2.0
  }

  /** Brute force over the live rows of `vecs` (ids = positions). */
  final class Exact(vecs: Array[Array[Float]], live: Int => Boolean) {
    private val norms = vecs.map(norm)

    def scoreOf(q: Array[Float], id: Long): Double = score(q, norm(q), vecs(id.toInt), norms(id.toInt))

    /** Top-k ids, score descending then id ascending. */
    def topK(q: Array[Float], k: Int): Array[Long] = {
      val qn = norm(q)
      val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
        (a: (Double, Int), b: (Double, Int)) =>
          if (a._1 != b._1) java.lang.Double.compare(a._1, b._1) else Integer.compare(b._2, a._2))
      var i = 0
      while (i < vecs.length) {
        if (live(i)) {
          heap.add((score(q, qn, vecs(i), norms(i)), i))
          if (heap.size > k) heap.poll()
        }
        i += 1
      }
      val out = new Array[Long](heap.size)
      var j = out.length - 1
      while (!heap.isEmpty) { out(j) = heap.poll()._2.toLong; j -= 1 }
      out
    }

    /** Every live id with score >= t. */
    def above(q: Array[Float], t: Double): Set[Long] = {
      val qn = norm(q)
      vecs.indices.iterator.filter(i => live(i) && score(q, qn, vecs(i), norms(i)) >= t)
        .map(_.toLong).toSet
    }

    /** The score of the k-th best live row: a threshold with about k hits. */
    def kthScore(q: Array[Float], k: Int): Double = scoreOf(q, topK(q, k).last)
  }

  /** Float tolerance between the program's scores and the double truth. */
  val Tol = 1e-4

  /** Checks one top-k answer (ids and scores in rank order): k distinct
    * ids, scores that never increase, each score equal to the independent
    * cosine, and no id outside the live set. Returns the hits against the
    * true top-k (recall numerator). */
  def checkTopK(out: Outcome, what: String, ex: Exact, live: Long => Boolean,
      q: Array[Float], ids: Array[Long], scores: Array[Double], truth: Array[Long]): Int = {
    val k = truth.length
    if (ids.length != k) out.wrong(s"$what: ${ids.length} results, want $k")
    if (ids.distinct.length != ids.length) out.wrong(s"$what: duplicate ids ${ids.mkString(",")}")
    var i = 1
    while (i < scores.length) {
      if (scores(i) > scores(i - 1)) out.wrong(s"$what: score rises at rank ${i + 1}")
      i += 1
    }
    ids.zip(scores).foreach { case (id, s) =>
      if (!live(id)) out.wrong(s"$what: id $id was never written or is deleted")
      else {
        val want = ex.scoreOf(q, id)
        if (math.abs(want - s) > Tol) out.wrong(s"$what: id $id score $s, want $want")
      }
    }
    val t = truth.toSet
    ids.count(t.contains)
  }

  /** Checks one threshold answer: distinct ids, every hit >= t with its
    * independent score, no id outside the live set. Returns the hits
    * against the true set. */
  def checkThreshold(out: Outcome, what: String, ex: Exact, live: Long => Boolean,
      q: Array[Float], t: Double, ids: Array[Long], scores: Array[Double], truth: Set[Long]): Int = {
    if (ids.distinct.length != ids.length) out.wrong(s"$what: duplicate ids")
    ids.zip(scores).foreach { case (id, s) =>
      if (!live(id)) out.wrong(s"$what: id $id was never written or is deleted")
      else {
        val want = ex.scoreOf(q, id)
        if (math.abs(want - s) > Tol) out.wrong(s"$what: id $id score $s, want $want")
        if (want < t - Tol || s < t) out.wrong(s"$what: id $id score $s below threshold $t")
      }
    }
    ids.count(truth.contains)
  }
}

package perfbench

import scala.collection.mutable

/** BM25 recomputed by the benchmark from the generated files alone: its
  * own tf, dl, df, N and avgdl, idf = ln((N − df + 0.5)/(df + 0.5) + 1),
  * k1 = 1.2, b = 0.75. The engine is used only to split text
  * (CodeTokenizer) — no engine scoring code runs here.
  *
  * `docTokens(d)` are the tokens of the document the engine calls `d`
  * (the docs table maps files to ids; see [[Corpus.docTokens]]).
  */
final class Bm25Oracle(docTokens: Array[Array[String]]) {
  val K1 = 1.2
  val B = 0.75
  val n: Int = docTokens.length
  val dl: Array[Int] = docTokens.map(_.length)
  val avgdl: Double = dl.iterator.map(_.toLong).sum.toDouble / n

  // term → (doc ids ascending, tfs)
  private val postings: Map[String, (Array[Int], Array[Int])] = {
    val m = mutable.HashMap[String, (mutable.ArrayBuilder.ofInt, mutable.ArrayBuilder.ofInt)]()
    var d = 0
    while (d < n) {
      val tf = mutable.LinkedHashMap[String, Int]()
      docTokens(d).foreach(t => tf(t) = tf.getOrElse(t, 0) + 1)
      tf.foreach { case (t, c) =>
        val (ids, tfs) = m.getOrElseUpdate(t, (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt))
        ids += d; tfs += c
      }
      d += 1
    }
    m.iterator.map { case (t, (a, b)) => t -> (a.result(), b.result()) }.toMap
  }

  def contains(t: String): Boolean = postings.contains(t)
  def df(t: String): Int = postings.get(t).fold(0)(_._1.length)
  def idf(t: String): Double = {
    val f = df(t).toDouble
    math.log((n - f + 0.5) / (f + 0.5) + 1.0)
  }

  private val acc = new Array[Double](n)
  private val seen = new Array[Boolean](n)

  /** BM25 of every document matching ≥1 of `terms`: (ids, scores), ids in
    * first-match order. The arrays are fresh; internal scratch is reset.
    */
  def scoreAll(terms: Seq[String]): (Array[Int], Array[Double]) = {
    val matched = new mutable.ArrayBuilder.ofInt
    terms.distinct.foreach { t =>
      postings.get(t).foreach { case (ids, tfs) =>
        val w = idf(t)
        var i = 0
        while (i < ids.length) {
          val d = ids(i)
          val tf = tfs(i).toDouble
          val part = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl(d) / avgdl))
          if (!seen(d)) { seen(d) = true; matched += d }
          acc(d) += w * part
          i += 1
        }
      }
    }
    val ids = matched.result()
    val scores = ids.map(acc(_))
    ids.foreach { d => acc(d) = 0.0; seen(d) = false }
    (ids, scores)
  }

  /** Σ idf·(k1+1) over the query's indexed terms — the blend normalizer. */
  def ubNorm(terms: Seq[String]): Double =
    math.max(terms.distinct.filter(contains).map(idf(_) * (K1 + 1.0)).sum, 1e-12)
}

/** λτ recomputed by the benchmark from the stored `vocab` and `graph`
  * (SURVEY §2.6 T1–T3), densely over every graph node:
  *   T1  τ = mean of the item's own values (zeros included), floor 1e-10
  *   T3  E = xᵀLx / xᵀx, edge energy Σ w(xᵢ−xⱼ)², w = max(−Lᵢⱼ, 0),
  *       G = Σ (w(xᵢ−xⱼ)²/energy)², λ = τ·E/(E+τ) + (1−τ)·clamp(G, 0, 1)
  * where x is the item's in-vocab term mass normalised to sum 1.
  */
final class LambdaOracle(vocab: Map[String, Int], coo: Array[(Int, Int, Double)], nNodes: Int) {
  private val rows: Array[Array[(Int, Double)]] = {
    val b = Array.fill(nNodes)(mutable.ArrayBuffer[(Int, Double)]())
    coo.foreach { case (i, j, v) => b(i) += ((j, v)) }
    b.map(_.toArray)
  }

  def lambda(counts: Iterable[(String, Double)]): Option[Double] = {
    val x = new Array[Double](nNodes)
    var mass = 0.0
    counts.foreach { case (t, c) => vocab.get(t).foreach { i => x(i) += c; mass += c } }
    if (mass == 0.0) return None
    var i = 0
    while (i < nNodes) { x(i) /= mass; i += 1 }
    val tau = math.max(x.sum / nNodes, 1e-10)
    var num, energy, denom = 0.0
    i = 0
    while (i < nNodes) {
      denom += x(i) * x(i)
      rows(i).foreach { case (j, v) =>
        num += x(i) * v * x(j)
        if (i != j && -v > 0.0) { val d = x(i) - x(j); energy += -v * d * d }
      }
      i += 1
    }
    val e = if (denom > 1e-12) num / denom else 0.0
    var g = 0.0
    if (energy > 0.0) {
      i = 0
      while (i < nNodes) {
        rows(i).foreach { case (j, v) =>
          if (i != j && -v > 0.0) {
            val d = x(i) - x(j)
            val share = -v * d * d / energy
            g += share * share
          }
        }
        i += 1
      }
    }
    Some(tau * (e / (e + tau)) + (1.0 - tau) * math.max(0.0, math.min(1.0, g)))
  }
}

/** Answer checks shared by every workload. Each returns None when the
  * answer holds, or a one-line reason.
  */
object Check {
  val Tol = 1e-9
  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= Tol * math.max(1.0, math.abs(b))
  /** Equal scores for ranking: within Tol of each other relatively, so
    * that small scores (a hot term's idf is ~1e-4) are not all tied.
    */
  def tied(a: Double, b: Double): Boolean = math.abs(a - b) <= Tol * math.max(math.abs(a), math.abs(b))

  /** (score DESC, docId ASC), strictly. */
  def ordered(ans: Array[(Long, Double)]): Boolean =
    ans.indices.drop(1).forall { i =>
      val (d0, s0) = ans(i - 1); val (d1, s1) = ans(i)
      s0 > s1 || (s0 == s1 && d0 < d1)
    }

  /** The oracle's top k of (ids, scores) over every matching document, in
    * (score DESC, docId ASC) order, where scores [[tied]] to the first
    * score of their run count as equal and the run is ordered by docId.
    */
  def expectedTopK(ids: Array[Int], scores: Array[Double], k: Int): Array[(Long, Double)] = {
    if (ids.isEmpty || k <= 0) return Array.empty
    // every document within Tol of the k-th best score is a candidate
    val kth = {
      val heap = new java.util.PriorityQueue[java.lang.Double]()
      scores.foreach { s => heap.add(s); if (heap.size > k) heap.poll() }
      heap.peek().doubleValue
    }
    val floor = kth - 2 * Tol * math.abs(kth)
    val cand = ids.indices.filter(i => scores(i) >= floor).map(i => (ids(i).toLong, scores(i)))
      .sortBy { case (d, s) => (-s, d) }
    val out = mutable.ArrayBuffer[(Long, Double)]()
    var i = 0
    while (i < cand.length && out.size < k) {
      val head = cand(i)._2
      var j = i
      while (j < cand.length && tied(cand(j)._2, head)) j += 1
      out ++= cand.slice(i, j).sortBy(_._1)
      i = j
    }
    out.take(k).toArray
  }

  /** `ans` is the top-k of the scores (ids, scores) the oracle computed
    * for every matching document: min(k, #matches) rows in (score DESC,
    * docId ASC) order, equal row by row to [[expectedTopK]] — the same
    * doc ids, scores [[close]] — so a document lost at the k-th row to a
    * higher doc id of equal score fails too.
    */
  def topK(ans: Array[(Long, Double)], ids: Array[Int], scores: Array[Double], k: Int): Option[String] = {
    val want = math.min(k, ids.length)
    if (ans.length != want) return Some(s"${ans.length} rows, expected $want")
    if (!ordered(ans)) return Some("rows not in (score DESC, docId ASC) order")
    val exp = expectedTopK(ids, scores, k)
    ans.indices.collectFirst {
      case i if ans(i)._1 != exp(i)._1 || !close(ans(i)._2, exp(i)._2) =>
        s"row $i: doc ${ans(i)._1} score ${ans(i)._2}, oracle doc ${exp(i)._1} score ${exp(i)._2}"
    }
  }

  /** Two answers to the same query agree row by row. */
  def same(a: Array[(Long, Double)], b: Array[(Long, Double)]): Option[String] =
    if (a.length != b.length) Some(s"${a.length} rows vs ${b.length}")
    else a.indices.collectFirst {
      case i if a(i)._1 != b(i)._1 || !close(a(i)._2, b(i)._2) => s"row $i: ${a(i)} vs ${b(i)}"
    }
}

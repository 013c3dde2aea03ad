package graftbench

import scala.collection.mutable

/** Driver-side references the benchmark checks graft's outputs against.
  * Each is written from the operator's documented semantics, not from
  * graft's code: a plain loop, a hash map or a union-find.
  */
object Reference {
  private val stopwords = Gen.Stopwords.toSet
  private val punct = ".,;:!?'\"()".toSet

  /** Whitespace tokens; empty tokens are kept, as graft's `split(text, " ")`. */
  def tokens(text: String): Array[String] = text.split(" ", -1)

  /** The quality score: 0.5 * min(chars / 200, 1) + 0.25 * (punctuation
    * share < 0.2 ? 1 : 0.5) + 0.25 * (stopword share in [0.05, 0.6] ? 1 : 0.5),
    * rounded half-up to 6 places. */
  def qualityScore(text: String): Double = {
    val len = text.codePointCount(0, text.length).toDouble
    val lenScore = math.min(len / 200.0, 1.0)
    val punctRatio = text.count(punct).toDouble / math.max(len, 1.0)
    val toks = tokens(text)
    val swRatio = toks.count(stopwords).toDouble / math.max(toks.length.toDouble, 1.0)
    val punctOk = if (punctRatio < 0.2) 1.0 else 0.5
    val swOk = if (swRatio >= 0.05 && swRatio <= 0.6) 1.0 else 0.5
    BigDecimal(lenScore * 0.5 + punctOk * 0.25 + swOk * 0.25)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Distinct word 3-grams. */
  def shingles(text: String): Array[String] =
    tokens(text).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toArray.distinct

  /** Pairs (a < b) with Jaccard(shingles) >= tau, via an inverted index:
    * each doc counts its overlaps with earlier docs through the postings
    * of its shingles, so only docs sharing a shingle are ever compared. */
  def jaccardPairs(docs: Seq[(Long, Array[String])], tau: Double): Seq[(Long, Long)] = {
    val postings = mutable.HashMap[String, mutable.ArrayBuffer[Int]]()
    val ids = docs.map(_._1).toArray
    val sizes = docs.map(_._2.length).toArray
    val out = mutable.ArrayBuffer[(Long, Long)]()
    val inter = mutable.HashMap[Int, Int]()
    docs.iterator.zipWithIndex.foreach { case ((_, sh), i) =>
      inter.clear()
      sh.foreach(s => postings.get(s).foreach(_.foreach(j =>
        inter.update(j, inter.getOrElse(j, 0) + 1))))
      inter.foreach { case (j, n) =>
        if (n.toDouble / (sizes(i) + sizes(j) - n).toDouble >= tau)
          out += (math.min(ids(i), ids(j)) -> math.max(ids(i), ids(j)))
      }
      sh.foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer[Int]()) += i)
    }
    out.toSeq
  }

  /** Connected components over `pairs`: node -> minimum id of its
    * component, for every node that appears in a pair. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** Near-dup labels of a doc set: Jaccard >= tau over 3-gram sets, then
    * components. */
  def nearDupLabels(docs: Seq[(Long, String)], tau: Double): Map[Long, Long] =
    components(jaccardPairs(docs.map { case (id, t) => id -> shingles(t) }, tau))

  /** 1 - cosine similarity in double, clamped; a zero vector gives 2. */
  def cosineDistance(a: Array[Float], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 2.0
    else 1.0 - math.max(-1.0, math.min(1.0, dot / (math.sqrt(na) * math.sqrt(nb))))
  }

  /** Exact top-k by (distance, id) over every vector, optionally skipping
    * one id. */
  def topK(q: Array[Double], ids: Array[Long], vecs: Array[Array[Float]], k: Int,
      exclude: Long = Long.MinValue): Seq[(Long, Double)] = {
    val order = Ordering.by[(Long, Double), (Double, Long)](h => (h._2, h._1))
    val heap = mutable.PriorityQueue.empty[(Long, Double)](order) // max-heap: worst on top
    var i = 0
    while (i < ids.length) {
      if (ids(i) != exclude) {
        val h = ids(i) -> cosineDistance(vecs(i), q)
        if (heap.size < k) heap.enqueue(h)
        else if (order.lt(h, heap.head)) { heap.dequeue(); heap.enqueue(h) }
      }
      i += 1
    }
    heap.toSeq.sorted(order)
  }
}

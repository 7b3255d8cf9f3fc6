package perfbench

import scala.collection.mutable

/** Plain-Scala reference for the dedup outputs, computed from the
  * generated token ids and never through the library's kernels: exact
  * token-trigram Jaccard and connected components by union-find.
  */
object Oracle {

  val Threshold = 0.5

  /** Distinct token trigrams, each packed exactly into one long (token
    * ids are below 2^21), sorted.
    */
  def trigrams(tokens: Array[Int]): Array[Long] = {
    require(tokens.forall(t => t >= 0 && t < (1 << 21)), "token id out of range")
    if (tokens.length < 3) Array.empty
    else Array.tabulate(tokens.length - 2) { i =>
      (tokens(i).toLong << 42) | (tokens(i + 1).toLong << 21) | tokens(i + 2).toLong
    }.distinct.sorted
  }

  /** Jaccard of two sorted distinct arrays. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Component label (the minimum member id) of every id in `pairs`. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // the root is always the smaller id, so it is the component minimum
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** The ids `nearDupCorpus` must drop: every member of a component of
    * the pair graph except its minimum.
    */
  def expectedDropped(pairs: Iterable[(Long, Long)]): Set[Long] =
    components(pairs).collect { case (id, comp) if id != comp => id }.toSet

  /** Inverted trigram index over the documents seen so far, for finding
    * a document's near-duplicates among earlier ones without a scan.
    */
  final class Index {
    private val grams = mutable.HashMap.empty[Long, Array[Long]]
    private val postings = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]

    def add(id: Long, g: Array[Long]): Unit = {
      grams(id) = g
      g.foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += id)
    }

    def apply(id: Long): Array[Long] = grams(id)

    /** Whether some indexed document with id in `eligible` has Jaccard at
      * or above the threshold with `g`.
      */
    def hasNearDup(g: Array[Long], eligible: Long => Boolean): Boolean = {
      val shared = mutable.HashMap.empty[Long, Int]
      g.foreach(s => postings.get(s).foreach(_.foreach { d =>
        if (eligible(d)) shared(d) = shared.getOrElse(d, 0) + 1
      }))
      // Jaccard >= t needs |A ∩ B| >= t * |A|, which prunes most candidates
      shared.exists { case (d, c) => c >= Threshold * g.length && jaccard(g, grams(d)) >= Threshold }
    }
  }
}

package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything the library sees is derived from
  * the seed alone, through `SplittableRandom`, whose sequence is fixed by
  * its specification; `digest` fingerprints what was generated so the
  * tests can pin that equal seeds give identical inputs.
  */
object Gen {

  /** A Friedman-#1 regression row: 8 uniform features of which the first
    * five carry signal; `label` thresholds the target near its mean.
    */
  final case class TabRow(x: Array[Double], y: Double, label: Double)

  val TabFeatures = 8
  val LabelThreshold = 14.4

  def friedman(seed: Long, n: Int): Array[TabRow] = {
    val rng = new SplittableRandom(seed)
    Array.fill(n) {
      val x = Array.fill(TabFeatures)(rng.nextDouble())
      val y = 10 * math.sin(math.Pi * x(0) * x(1)) + 20 * math.pow(x(2) - 0.5, 2) +
        10 * x(3) + 5 * x(4) + gaussian(rng)
      TabRow(x, y, if (y > LabelThreshold) 1.0 else 0.0)
    }
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller; 1 - u keeps the log argument in (0, 1]
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  /** Corpus shape. Exactly a `DupShare` of the documents, evenly spaced,
    * are near-duplicates: copies of a cluster template (an earlier
    * original document) with `EditMin`..`EditMax` of the tokens edited.
    * Exactly a `HotShare` of the copies go to the first template, the hot
    * cluster; the others pick the template of rank r (in order of
    * creation) with weight r^-`ZipfTemplates`, so early templates gather
    * large clusters and sizes are heavy-tailed. Original documents have
    * `MinLen`..`MaxLen` tokens drawn from a Zipf(`ZipfS`) vocabulary of
    * `Vocab` words. The seed decides the text and which template each
    * copy picks, but not how many copies there are or the hot cluster's
    * size, and copies are always of templates, so every planted cluster
    * is a star: the work the dedup does varies little from seed to seed.
    */
  val Vocab = 20000
  val ZipfS = 1.05
  val MinLen = 100
  val MaxLen = 300
  val DupShare = 0.3
  val EditMin = 0.02
  val EditMax = 0.10
  val HotShare = 0.04
  val ZipfTemplates = 0.6

  final case class Doc(id: Long, tokens: Array[Int])

  /** Word for vocabulary rank `k`: little-endian base 26, so distinct
    * ranks give distinct lowercase words.
    */
  def word(k: Int): String = {
    val sb = new StringBuilder
    var v = k
    while ({ sb += ('a' + v % 26).toChar; v /= 26; v > 0 }) ()
    sb.toString
  }

  def text(tokens: Array[Int]): String = tokens.iterator.map(word).mkString(" ")

  /** Stateful generator: documents get consecutive ids from `firstId`.
    * `planted` holds (source id, near-duplicate id) for every copy made.
    */
  final class Corpus(seed: Long, firstId: Long = 0L) {
    private val rng = new SplittableRandom(seed)
    private val cdf = {
      val w = Array.tabulate(Vocab)(k => 1.0 / math.pow(k + 1, ZipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    val docs = ArrayBuffer.empty[Doc]
    val planted = ArrayBuffer.empty[(Long, Long)]
    private val templates = ArrayBuffer.empty[Int] // indices of the original documents
    private var copies = 0

    private def zipf(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, Vocab - 1)
    }

    /** Whether the `i`-th event of a stream at rate `share` fires. */
    private def every(i: Int, share: Double): Boolean =
      math.floor((i + 1) * share) > math.floor(i * share)

    def next(): Doc = {
      val id = firstId + docs.length
      val doc =
        if (templates.length > 1 && every(docs.length, DupShare)) {
          val t =
            if (every(copies, HotShare)) templates(0)
            else templates(1 + powerLawRank(templates.length - 1))
          copies += 1
          planted += ((docs(t).id, id))
          Doc(id, edit(docs(t).tokens))
        } else {
          templates += docs.length
          val len = MinLen + rng.nextInt(MaxLen - MinLen + 1)
          Doc(id, Array.fill(len)(zipf()))
        }
      docs += doc
      doc
    }

    /** A rank in [0, n) drawn with weight (rank + 1)^-zipfTemplates, by
      * inverting the continuous power law on [1, n + 1).
      */
    private def powerLawRank(n: Int): Int = {
      val e = 1 - ZipfTemplates
      val x = math.pow((math.pow(n + 1, e) - 1) * rng.nextDouble() + 1, 1 / e)
      math.min(n - 1, math.max(0, x.toInt - 1))
    }

    def take(n: Int): IndexedSeq[Doc] = IndexedSeq.fill(n)(next())

    private def edit(src: Array[Int]): Array[Int] = {
      val out = ArrayBuffer.from(src)
      val share = EditMin + rng.nextDouble() * (EditMax - EditMin)
      val edits = math.max(1, math.round(share * src.length).toInt)
      var e = 0
      while (e < edits) {
        val pos = rng.nextInt(out.length)
        val kind = rng.nextDouble()
        if (kind < 0.7) out(pos) = zipf()
        else if (kind < 0.85 && out.length > MinLen / 2) out.remove(pos)
        else out.insert(pos, zipf())
        e += 1
      }
      out.toArray
    }
  }

  /** FNV-1a over a stream of longs. */
  def digest(values: Iterator[Long]): Long = {
    var h = 0xcbf29ce484222325L
    values.foreach { v =>
      var i = 0
      while (i < 8) {
        h = (h ^ ((v >>> (8 * i)) & 0xff)) * 0x100000001b3L
        i += 1
      }
    }
    h
  }

  def digestDocs(docs: Iterable[Doc]): Long =
    digest(docs.iterator.flatMap(d => Iterator(d.id, d.tokens.length.toLong) ++ d.tokens.iterator.map(_.toLong)))

  def digestRows(rows: Iterable[TabRow]): Long =
    digest(rows.iterator.flatMap(r =>
      (r.x.iterator ++ Iterator(r.y, r.label)).map(java.lang.Double.doubleToLongBits)))
}

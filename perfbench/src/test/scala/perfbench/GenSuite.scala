package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are a function of the seed, and the oracle agrees with
  * hand-computed answers.
  */
class GenSuite extends AnyFunSuite {

  test("equal seeds give identical tabular inputs, other seeds other inputs") {
    val a = Gen.friedman(7L, 500)
    assert(Gen.digestRows(a) == Gen.digestRows(Gen.friedman(7L, 500)))
    assert(Gen.digestRows(a) != Gen.digestRows(Gen.friedman(8L, 500)))
    val positives = a.count(_.label == 1.0)
    assert(positives > 150 && positives < 350, s"$positives of 500 labelled 1")
  }

  test("equal seeds give identical corpora, batches and planted pairs") {
    def run(seed: Long) = {
      val g = new Gen.Corpus(seed)
      val day0 = g.take(300)
      val batch = g.take(50)
      (Gen.digestDocs(day0), Gen.digestDocs(batch), g.planted.toList)
    }
    assert(run(3L) == run(3L))
    assert(run(3L)._1 != run(4L)._1)
  }

  test("text round-trips through the words and near-duplicates are near") {
    assert((0 until 100000).map(Gen.word).distinct.size == 100000)
    assert(Gen.word(0) == "a" && Gen.word(26) == "ab")
    val g = new Gen.Corpus(11L)
    val docs = g.take(400)
    docs.foreach(d => assert(d.tokens.length >= 50 && d.tokens.forall(_ < Gen.Vocab)))
    assert(Gen.text(docs.head.tokens).split(" ").length == docs.head.tokens.length)
    val share = g.planted.size.toDouble / docs.size
    assert(share > 0.2 && share < 0.4, s"planted share $share")
    val byId = docs.map(d => d.id -> Oracle.trigrams(d.tokens)).toMap
    val js = g.planted.map { case (a, b) => Oracle.jaccard(byId(a), byId(b)) }
    assert(js.count(_ >= Oracle.Threshold).toDouble / js.size > 0.8)
    // sources are cluster templates, which are never copies themselves
    val copies = g.planted.map(_._2).toSet
    assert(g.planted.forall { case (src, _) => !copies(src) })
  }

  test("trigram Jaccard, components and the documents nearDupCorpus drops") {
    val a = Oracle.trigrams(Array(1, 2, 3, 4, 5))
    val b = Oracle.trigrams(Array(1, 2, 3, 4, 6))
    assert(a.length == 3)
    assert(Oracle.jaccard(a, b) == 2.0 / 4.0)
    assert(Oracle.jaccard(a, a) == 1.0)
    assert(Oracle.trigrams(Array(1, 1, 1, 1)).length == 1)
    val pairs = Seq((5L, 9L), (3L, 9L), (10L, 11L))
    assert(Oracle.components(pairs) == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 10L -> 10L, 11L -> 10L))
    assert(Oracle.expectedDropped(pairs) == Set(5L, 9L, 11L))
  }

  test("the index finds a near-duplicate only among eligible documents") {
    val idx = new Oracle.Index
    val base = (0 until 100).toArray
    val near = base.updated(50, 999)
    idx.add(1L, Oracle.trigrams(base))
    idx.add(2L, Oracle.trigrams((200 until 300).toArray))
    assert(idx.hasNearDup(Oracle.trigrams(near), _ => true))
    assert(!idx.hasNearDup(Oracle.trigrams(near), _ != 1L))
  }
}

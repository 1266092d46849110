package graft

import graft.index.SynonymTfIdfIndex
import org.scalatest.funsuite.AnyFunSuite

/** The full scan-and-sort that `SynonymTfIdfIndex.search` replaced: score
  * every synonym with `SparseVec.dot`, sort by (-score, synNorm), take n,
  * drop zero scores. Kept as the reference the postings search must equal. */
object TfIdfScanReference {
  final class Scan(index: SynonymTfIdfIndex) {
    private val vectors = index.synNorms.map(s =>
      index.vectorizer.transform(s.toLowerCase(java.util.Locale.ROOT)))

    def search(queryNorm: String, topN: Int): Seq[(String, Double)] = {
      val q = index.vectorizer.transform(queryNorm)
      if (q.indices.isEmpty) return Seq.empty
      val scored = new Array[(String, Double)](index.synNorms.length)
      var i = 0
      while (i < index.synNorms.length) {
        scored(i) = (index.synNorms(i), q.dot(vectors(i)) * 100.0)
        i += 1
      }
      scored.sortBy { case (s, sc) => (-sc, s) }.take(topN).filter(_._2 > 0.0)
        .toSeq
    }
  }

  /** Same synonyms, same order, same raw score bits. */
  def sameBits(a: Seq[(String, Double)], b: Seq[(String, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((sa, ca), (sb, cb)) =>
      sa == sb &&
        java.lang.Double.doubleToRawLongBits(ca) ==
          java.lang.Double.doubleToRawLongBits(cb)
    }
}

class TfIdfSearchSpec extends AnyFunSuite {
  import TfIdfScanReference._

  /** Short strings over a tiny alphabet: many duplicates, many synonyms with
    * identical bigram multisets (exact score ties). */
  private def randomWord(r: scala.util.Random, alphabet: String, maxLen: Int) =
    Iterator.fill(1 + r.nextInt(maxLen))(alphabet(r.nextInt(alphabet.length)))
      .mkString

  private def randomIndex(seed: Long, n: Int): (SynonymTfIdfIndex, scala.util.Random) = {
    val r = new scala.util.Random(seed)
    val syns = Seq.fill(n)(randomWord(r, "abcde f", 7))
    (SynonymTfIdfIndex.fit(syns), r)
  }

  private def assertSame(index: SynonymTfIdfIndex, scan: Scan, q: String, n: Int): Unit = {
    val got = index.search(q, n)
    val want = scan.search(q, n)
    assert(sameBits(got, want), s"query '$q' topN $n:\n got  $got\n want $want")
  }

  test("postings search equals the full scan bit for bit on random tie-heavy sets") {
    var compared = 0
    for (seed <- 1L to 12L) {
      val (index, r) = randomIndex(seed, 50 + (seed % 4).toInt * 100)
      val scan = new Scan(index)
      for (_ <- 0 until 150) {
        val q = randomWord(r, "abcdefABX ", 9)
        for (n <- Seq(0, 1, 5, 20, 100000)) { assertSame(index, scan, q, n); compared += 1 }
      }
    }
    assert(compared == 12 * 150 * 5)
  }

  test("edge queries: empty, one char, out of vocabulary, topN beyond matches") {
    val (index, _) = randomIndex(99L, 300)
    val scan = new Scan(index)
    assert(index.search("", 20).isEmpty)
    assert(index.search("a", 20).isEmpty)
    assert(index.search("zq", 20).isEmpty) // both bigrams unseen
    assert(index.search("xyzw", 20).isEmpty)
    for (q <- Seq("", "a", "zq", "xyzw", "ab", "abcde", "fab"); n <- Seq(0, 1, 5, 20)) {
      assertSame(index, scan, q, n)
    }
    // more matches requested than exist: every positive-scoring synonym
    val all = index.search("ab", Int.MaxValue)
    assert(all.nonEmpty && all.length < index.synNorms.length)
    assert(sameBits(all, scan.search("ab", Int.MaxValue)))
    assert(all.forall(_._2 > 0.0))
  }

  test("exact ties are ordered by synNorm") {
    // "aba"/"bab" share the bigram multiset {ab, ba}, and the rotations
    // "abca"/"bcab"/"cabc" share {ab, bc, ca}: each group ties exactly
    val index = SynonymTfIdfIndex.fit(Seq("cabc", "bab", "bcab", "aba", "abca", "dd"))
    val got = index.search("ab", 10)
    assert(got.map(_._1) == Seq("aba", "bab", "abca", "bcab", "cabc"))
    assert(got(0)._2 == got(1)._2 && got(2)._2 == got(3)._2 && got(3)._2 == got(4)._2)
    assert(got(1)._2 > got(2)._2)
    assert(sameBits(got, new Scan(index).search("ab", 10)))
  }

  test("two threads searching one index concurrently get the scan's results") {
    val (index, r) = randomIndex(7L, 400)
    val scan = new Scan(index)
    val queries = Seq.fill(400)(randomWord(r, "abcdef ", 8))
    val want = queries.map(q => scan.search(q, 20))
    val start = new java.util.concurrent.CountDownLatch(1)
    val mismatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = Seq(0, 1).map { t =>
      val th = new Thread(() => {
        start.await()
        for (_ <- 0 until 20; i <- queries.indices) {
          // the two threads walk the queries in opposite directions
          val j = if (t == 0) i else queries.length - 1 - i
          if (!sameBits(index.search(queries(j), 20), want(j)))
            mismatches.incrementAndGet()
        }
      })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join())
    assert(mismatches.get == 0)
  }
}

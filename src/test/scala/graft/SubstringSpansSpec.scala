package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tdp.SubstringSpans

/** Span-level ExactSubstr dedup: kernel properties + e2e vs an independent
  * naive re-derivation (fresh per-position polynomial hash instead of the
  * rolling update, real-substring grouping instead of md5, boolean-mask
  * removal instead of interval merging). */
class SubstringSpansSpec extends AnyFunSuite with SparkTestBase {
  import SubstringSpans.{anchorPositions, mergeSpans, removeSpans}

  private val K = 16; private val P = 8; private val L = 64

  private def seededText(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(('a' + r.nextInt(26)).toChar).mkString
  }

  // ---- independent naive re-derivation -------------------------------

  /** Non-rolling hash of the k-gram at i (fresh polynomial per position). */
  private def freshHash(t: String, i: Int): Long = {
    var h = 0L; var j = 0
    while (j < K) { h = h * 1000000007L + t.charAt(i + j); j += 1 }
    h
  }

  private def naive(docs: Seq[(Long, String)]): Map[Long, (Int, Int, String)] = {
    val anchors = docs.flatMap { case (id, t) =>
      (0 to t.length - L).filter(i => (freshHash(t, i) & (P - 1)) == 0)
        .map(i => (t.substring(i, i + L), id, i))
    }
    val dupKeys = anchors.groupBy(_._1).filter(_._2.size >= 2).keySet
    val byDoc = anchors.filter(a => dupKeys(a._1)).groupBy(_._2)
    docs.flatMap { case (id, t) =>
      byDoc.get(id).map { as =>
        val mask = new Array[Boolean](t.length)
        as.foreach { case (_, _, i) => (i until i + L).foreach(mask(_) = true) }
        // count maximal masked runs + masked chars; cleaned = unmasked chars
        var spans = 0
        mask.indices.foreach(i => if (mask(i) && (i == 0 || !mask(i - 1))) spans += 1)
        val clean = t.zipWithIndex.collect { case (c, i) if !mask(i) => c }.mkString
        id -> ((spans, mask.count(identity), clean))
      }
    }.toMap
  }

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] = {
    import spark.implicits._
    val out = SubstringSpans.duplicateSpans(spark, docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, String)].collect()
    graft.util.CacheRegistry.releaseAll()
    out.map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
  }

  private def checkAgainstNaive(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] = {
    val got = run(docs)
    val want = naive(docs)
    assert(got.keySet == want.keySet, s"doc sets differ: $got vs $want")
    val byId = docs.toMap
    got.foreach { case (id, (nSpans, dupChars, cleanLen, cleanMd5)) =>
      val (wSpans, wDup, wClean) = want(id)
      assert(nSpans == wSpans, s"doc $id spans")
      assert(dupChars == wDup, s"doc $id dup chars")
      assert(cleanLen == wClean.length, s"doc $id clean len")
      assert(cleanMd5 == SubstringSpans.md5Hex(wClean), s"doc $id clean text")
      assert(cleanLen == byId(id).length - dupChars)
    }
    got
  }

  // ---- kernel ---------------------------------------------------------

  test("anchors are content-aligned: a shared run selects the same " +
    "content-relative positions regardless of document offset") {
    val runTxt = seededText(1, 300)
    for (shift <- 0 to 9) {
      val a = seededText(2, 40) + runTxt + seededText(3, 40)
      val b = seededText(4, 40 + shift) + runTxt + seededText(5, 25)
      val inRunA = anchorPositions(a, K, P, L).map(_ - 40)
        .filter(i => i >= 0 && i + L <= runTxt.length)
      val inRunB = anchorPositions(b, K, P, L).map(_ - (40 + shift))
        .filter(i => i >= 0 && i + L <= runTxt.length)
      assert(inRunA.nonEmpty, "a 300-char run must contain anchors")
      assert(inRunA.toSeq == inRunB.toSeq, s"shift $shift misaligns anchors")
    }
  }

  test("mergeSpans merges overlap and adjacency, keeps gaps") {
    assert(mergeSpans(Array(0, 10, 64, 200), 64).toSeq ==
      Seq((0, 128), (200, 264))) // 0+64 overlaps 10, 64 adjacent → one span
    assert(removeSpans("ab" * 50, Array((2, 4), (4, 6))) == "ab" * 48)
  }

  test("removeSpans cuts exactly the spans") {
    val t = "0123456789"
    assert(removeSpans(t, Array((0, 3), (5, 7))) == "34789")
    assert(removeSpans(t, Array((0, 10))) == "")
    assert(removeSpans(t, Array.empty) == t)
  }

  // ---- e2e ------------------------------------------------------------

  test("cross-doc shared run is found in BOTH docs and removed; unique " +
    "content survives; unrelated docs emit no row (naive cross-validation)") {
    val shared = seededText(10, 250)
    val docs = Seq(
      (0L, seededText(11, 80) + shared + seededText(12, 80)),
      (1L, seededText(13, 55) + shared + seededText(14, 120)),
      (2L, seededText(15, 400)))
    val got = checkAgainstNaive(docs)
    assert(got.keySet == Set(0L, 1L))
    // the interior of the run is gone from both; the unique flanks survive
    assert(got(0L)._2 >= 150 && got(1L)._2 >= 150, s"dup chars: $got")
  }

  test("within-doc repeat: BOTH occurrences are removed (ExactSubstr " +
    "behavior), pinned against the naive mask") {
    val chunk = seededText(20, 200)
    val docs = Seq(
      (0L, seededText(21, 60) + chunk + seededText(22, 60) + chunk + seededText(23, 30)),
      (1L, seededText(24, 350)))
    val got = checkAgainstNaive(docs)
    assert(got.keySet == Set(0L))
    assert(got(0L)._1 == 2L, s"expected two merged spans: $got") // two occurrences
    assert(got(0L)._2 >= 2 * 150, s"both copies must be cut: $got")
  }

  test("offset-shift sweep: the pair is found at every alignment (the " +
    "content-defined-anchor property a tumbling winnow lacks)") {
    val shared = seededText(30, 250)
    for (shift <- 0 to 7) {
      val docs = Seq(
        (0L, seededText(31, 64) + shared),
        (1L, seededText(32, 64 + shift) + shared + seededText(33, 10)),
        (2L, seededText(34, 330)))
      val got = checkAgainstNaive(docs)
      assert(got.keySet == Set(0L, 1L), s"shift $shift missed the pair")
    }
  }

  test("seeded fuzz: 20 random corpora with planted cross-doc runs, " +
    "within-doc repeats and decoys all match the naive mask") {
    for (seed <- 1 to 20) {
      val r = new scala.util.Random(1000 + seed)
      val runs = Seq.fill(1 + r.nextInt(3))(seededText(seed * 100 + r.nextInt(50), 80 + r.nextInt(220)))
      val docs = (0L until 12L).map { i =>
        val sb = new StringBuilder(seededText(seed * 1000 + i.toInt, 30 + r.nextInt(120)))
        // plant 0-2 shared runs at random positions (append keeps offsets random
        // via the random-length prefixes)
        (0 until r.nextInt(3)).foreach { _ =>
          sb.append(runs(r.nextInt(runs.length)))
          sb.append(seededText(seed * 7000 + r.nextInt(99), 5 + r.nextInt(40)))
        }
        if (r.nextInt(4) == 0 && runs.nonEmpty) sb.append(runs.head) // repeats
        (i, sb.toString)
      }
      checkAgainstNaive(docs)
    }
  }

  test("short docs (below the key window) are silently span-free") {
    val docs = Seq((0L, "tiny"), (1L, "tiny"), (2L, seededText(40, 63)),
      (3L, seededText(40, 63)))
    assert(run(docs).isEmpty) // no position fits an L-window
  }
}

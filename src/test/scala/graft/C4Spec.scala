package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tdp.C4

/** C4 rule-set (Raffel et al. 2020 §2.2): line/page filters + the
  * three-sentence-span all-but-one dedup (canonical copy KEPT — the
  * contrast with ExactSubstr's remove-all). */
class C4Spec extends AnyFunSuite with SparkTestBase {

  test("line filter: terminal punctuation, >=5 words, javascript") {
    assert(C4.lineKept("this line has five words."))
    assert(C4.lineKept("question lines also count as lines?"))
    assert(C4.lineKept("""quoted endings count as terminal too."""+"\""))
    assert(!C4.lineKept("no terminal punctuation on this line here"))
    assert(!C4.lineKept("too short line."))
    assert(!C4.lineKept("please enable JavaScript to view this page."))
    assert(!C4.lineKept(""))
  }

  test("sentence split: mark+space delimits; the mark stays attached") {
    assert(C4.sentences("one two. three four! five six? seven").toSeq ==
      Seq("one two.", "three four!", "five six?", "seven"))
    // newline acts as the delimiting space
    assert(C4.sentences("one two.\nthree four.").toSeq ==
      Seq("one two.", "three four."))
    // no marks -> the whole text is one "sentence"
    assert(C4.sentences("no marks at all").toSeq == Seq("no marks at all"))
  }

  test("quality: page flags and retained text") {
    import spark.implicits._
    val docs = Seq(
      (0L, "first good line with five words.\ntoo short.\nsecond keeper line is here now!\nthird keeper sentence line right here?"),
      (1L, "lorem ipsum appears on this page here.\nanother fine line with enough words.\nmore good sentences to pass the bar.\nlast keeper line with enough words."),
      (2L, "this page mentions a { brace today.\nsecond line here with five words.\nthird line right here with words.\nfourth line right here with words."),
      (3L, "win big at the casino tonight friends.\nsecond line here with five words.\nthird line right here with words.\nfourth line right here with words."),
      (4L, "only one good line on this page.")).toDF("doc_id", "text")
    val out = C4.quality(spark, docs)
      .as[(Long, Long, Long, Long, Boolean, Boolean, Boolean, Boolean, String)]
      .collect().map(r => r._1 -> r).toMap
    // doc 0: 4 lines, "too short." dropped, 3 sentences kept -> keep
    assert(out(0L)._3 == 3 && out(0L)._4 == 3 && out(0L)._8)
    assert(out(0L)._9 == graft.tdp.SubstringSpans.md5Hex(
      "first good line with five words.\nsecond keeper line is here now!\nthird keeper sentence line right here?"))
    // doc 1: lorem ipsum kills the page even though lines pass
    assert(out(1L)._6 && !out(1L)._8)
    // doc 2: brace; doc 3: blocklist word
    assert(out(2L)._7 && !out(2L)._8)
    assert(out(3L)._5 && !out(3L)._8)
    // doc 4: under 3 sentences in retained text
    assert(out(4L)._4 == 1 && !out(4L)._8)
  }

  test("three-sentence dedup: canonical occurrence kept, others removed; " +
    "within-doc self-repeat deduped too") {
    import spark.implicits._
    val span = "alpha one two three. beta four five six! gamma seven eight nine?"
    val docs = Seq(
      (0L, s"$span tail zero."),                     // canonical (min doc_id)
      (1L, s"head one. $span"),                      // duplicate -> removed
      (2L, s"unrelated page. with its own. sentences here. fully unique."),
      (3L, s"$span middle filler text. $span"))      // dup + self-repeat
      .toDF("doc_id", "text")
    val out = C4.threeSentenceDedup(spark, docs)
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    graft.util.CacheRegistry.releaseAll()
    def md5(s: String) = graft.tdp.SubstringSpans.md5Hex(s)
    // doc 0 keeps everything (canonical occurrence of the span)
    assert(out(0L)._5 == 0 && out(0L)._6 == md5(s"$span tail zero."))
    // doc 1 loses the 3 span sentences, keeps its head
    assert(out(1L)._5 == 3 && out(1L)._6 == md5("head one."))
    // doc 2 untouched, zero dup windows
    assert(out(2L)._4 == 0 && out(2L)._5 == 0)
    // doc 3: both span copies are non-canonical -> 6 sentences removed
    assert(out(3L)._5 == 6 && out(3L)._6 == md5("middle filler text."))
  }

  test("seeded fuzz: random sentence soups vs an independent naive " +
    "canonical-mask re-derivation (20 corpora)") {
    import spark.implicits._
    def md5(s: String) = graft.tdp.SubstringSpans.md5Hex(s)
    for (seed <- 1 to 20) {
      val r = new scala.util.Random(2000 + seed)
      // small sentence vocabulary forces genuine window collisions
      val vocab = (0 until 12).map(i => s"sentence v$seed token $i ends here.")
      val docs = (0L until 15L).map { i =>
        (i, Seq.fill(2 + r.nextInt(10))(vocab(r.nextInt(vocab.length))).mkString(" "))
      }
      // naive: windows as raw strings, count + canonical min (doc, pos), mask
      val occ = docs.flatMap { case (id, t) =>
        val s = C4.sentences(t)
        (0 to s.length - 3).map(i => (s.slice(i, i + 3).mkString(" "), id, i))
      }
      val stats = occ.groupBy(_._1).map { case (w, os) =>
        w -> ((os.size, os.map(o => (o._2, o._3)).min))
      }
      val want = docs.map { case (id, t) =>
        val s = C4.sentences(t)
        val mine = occ.filter(_._2 == id)
        val nWin = mine.size
        val nDup = mine.count(o => stats(o._1)._1 >= 2)
        val removed = mine.filter { o =>
          val (n, canon) = stats(o._1); n >= 2 && canon != ((o._2, o._3))
        }.flatMap(o => o._3 until o._3 + 3).toSet
        val clean = s.indices.filterNot(removed).map(s).mkString(" ")
        id -> ((s.length.toLong, nWin.toLong, nDup.toLong,
          removed.size.toLong, md5(clean)))
      }.toMap
      val got = C4.threeSentenceDedup(spark, docs.toDF("doc_id", "text"))
        .as[(Long, Long, Long, Long, Long, String)].collect()
        .map(x => x._1 -> ((x._2, x._3, x._4, x._5, x._6))).toMap
      graft.util.CacheRegistry.releaseAll()
      assert(got == want, s"seed $seed")
    }
  }

  test("banner-style corpus-hot span: every non-canonical occurrence " +
    "removed, exactly one survivor") {
    import spark.implicits._
    val banner = "subscribe now today. follow us always. download the app."
    val docs = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) s"$banner unique tail $i here." else s"own page $i. fully unique text. nothing shared at all."))
      .toDF("doc_id", "text")
    val out = C4.threeSentenceDedup(spark, docs)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    graft.util.CacheRegistry.releaseAll()
    val removedDocs = out.filter(_._5 > 0).map(_._1).toSet
    // every even doc except the canonical doc 0 lost the banner sentences
    assert(removedDocs == (2L until 40L by 2).toSet)
    assert(out.find(_._1 == 0L).get._5 == 0)
  }
}

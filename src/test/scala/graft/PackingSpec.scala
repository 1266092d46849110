package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tdp.Packing

/** GPT-style sequence packing: the distributed two-phase prefix-sum must
  * equal a sequential local reference, independent of input partitioning. */
class PackingSpec extends AnyFunSuite with SparkTestBase {

  /** Sequential reference: concatenate in doc_id order, cut every C. */
  private def reference(docs: Seq[(Long, String)], c: Long): Seq[(Long, Long, Long, Long, Long)] = {
    val sorted = docs.sortBy(_._1)
    var off = 0L
    val members = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { case (id, t) =>
      val n = Packing.tokenCount(t)
      (off / c to (off + n - 1) / c).foreach(ch => members += ((ch, id)))
      off += n
    }
    val total = off
    members.groupBy(_._1).toSeq.sortBy(_._1).map { case (ch, ms) =>
      (ch, ms.size.toLong, ms.map(_._2).min, ms.map(_._2).max,
        math.min((ch + 1) * c, total) - ch * c)
    }
  }

  private def run(docs: Seq[(Long, String)], c: Long, parts: Int) = {
    import spark.implicits._
    val out = Packing.packSequences(spark,
        docs.toDF("doc_id", "text").repartition(parts), capacity = c)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    graft.util.CacheRegistry.releaseAll()
    out
  }

  test("tokenCount: whitespace words + one separator") {
    assert(Packing.tokenCount("a b  c") == 4) // 3 words + separator
    assert(Packing.tokenCount("") == 1)       // empty doc = separator only
  }

  test("packing equals the sequential reference, at any input partitioning") {
    val r = new scala.util.Random(7)
    val docs = (0L until 200L).map(i =>
      (i, Seq.fill(1 + r.nextInt(40))("w" + r.nextInt(9)).mkString(" ")))
    val want = reference(docs, 64)
    assert(run(docs, 64, 1) == want)
    assert(run(docs, 64, 13) == want)
  }

  test("a document longer than the capacity spans several sequences; " +
    "the tail sequence carries the remainder") {
    val docs = Seq(
      (0L, Seq.fill(10)("x").mkString(" ")),   // 11 tokens
      (1L, Seq.fill(70)("y").mkString(" ")),   // 71 tokens -> spans 3 chunks at C=32
      (2L, Seq.fill(5)("z").mkString(" ")))    // 6 tokens
    val got = run(docs, 32, 2)
    assert(got == reference(docs, 32))
    // doc 1 overlaps chunks 0..2 (offsets 11..81)
    assert(got.filter(r => r._3 <= 1 && 1 <= r._4).map(_._1) == Seq(0L, 1L, 2L))
    // total = 88 -> tail chunk holds 88 - 64 = 24 tokens
    assert(got.last._5 == 24)
  }

  test("seeded fuzz: random corpora x capacities x partitionings all " +
    "match the sequential reference") {
    for (seed <- 1 to 10) {
      val r = new scala.util.Random(3000 + seed)
      val c = Seq(16L, 50L, 128L)(r.nextInt(3))
      val docs = (0L until (20L + r.nextInt(150))).map(i =>
        (i, Seq.fill(r.nextInt(3 * c.toInt))("w").mkString(" ")))
      val want = reference(docs, c)
      assert(run(docs, c, 1 + r.nextInt(16)) == want, s"seed $seed cap $c")
    }
  }

  test("exact-multiple total: the final sequence is full") {
    // 4 docs x 16 tokens = 64 = 2 x C(32)
    val docs = (0L until 4L).map(i => (i, Seq.fill(15)("t").mkString(" ")))
    val got = run(docs, 32, 3)
    assert(got == reference(docs, 32))
    assert(got.map(_._5).toSet == Set(32L))
  }
}

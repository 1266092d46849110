package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tdp.LmFilter

/** CCNet-style unigram surprisal filter: exact whole-bit math vs a naive
  * sequential re-derivation; rare-word docs score high, common-word docs
  * low. */
class LmFilterSpec extends AnyFunSuite with SparkTestBase {

  test("ilog2 is exact at powers of two and their neighbors") {
    assert(LmFilter.ilog2(1L) == 0)
    for (k <- 1 to 62) {
      val p = 1L << k
      assert(LmFilter.ilog2(p) == k)
      assert(LmFilter.ilog2(p - 1) == k - 1)
      assert(LmFilter.ilog2(p + 1) == k)
    }
  }

  private def naive(docs: Seq[(Long, String)], thr: Long): Map[Long, (Long, Long, Long, Boolean)] = {
    val all = docs.flatMap(_._2.split(" ").filter(_.nonEmpty))
    val counts = all.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val total = all.size.toLong
    docs.map { case (id, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      val bits = ws.map(w => (LmFilter.ilog2(total) - LmFilter.ilog2(counts(w))).toLong).sum
      val mean = bits * 100 / ws.length
      id -> ((ws.length.toLong, bits, mean, mean <= thr))
    }.toMap
  }

  test("matches the naive derivation; common-word pages keep, rare-word " +
    "pages drop (the CCNet head/tail split)") {
    import spark.implicits._
    val common = Seq.fill(50)("the quick brown fox jumps").mkString(" ")
    val docs = (0L until 20L).map { i =>
      if (i < 16) (i, common)
      else (i, (0 until 40).map(j => s"rare${i}token$j").mkString(" ")) // singletons
    }
    val thr = 300L
    val got = LmFilter.surprisal(spark, docs.toDF("doc_id", "text"), thr)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    graft.util.CacheRegistry.releaseAll()
    assert(got == naive(docs, thr))
    assert((0L until 16L).forall(got(_)._4), "common pages must keep")
    assert((16L until 20L).forall(!got(_)._4), "singleton-word pages must drop")
  }

  test("seeded fuzz: 10 random corpora match the naive derivation at any " +
    "partitioning") {
    import spark.implicits._
    for (seed <- 1 to 10) {
      val r = new scala.util.Random(4000 + seed)
      val vocab = (0 until 30).map(i => s"w$i")
      val docs = (0L until 25L).map(i =>
        (i, Seq.fill(1 + r.nextInt(60))(vocab(r.nextInt(vocab.length))).mkString(" ")))
      val got = LmFilter.surprisal(spark,
          docs.toDF("doc_id", "text").repartition(1 + r.nextInt(7)), 505L)
        .as[(Long, Long, Long, Long, Boolean)].collect()
        .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
      graft.util.CacheRegistry.releaseAll()
      assert(got == naive(docs, 505L), s"seed $seed")
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tdp.Mixture

/** mT5/PaLM temperature mixing: exact-integer quota math + the
  * deterministic ppm-hash realization. */
class MixtureSpec extends AnyFunSuite with SparkTestBase {

  test("isqrt is exact at squares, square±1, and large values") {
    for (v <- Seq(0L, 1L, 2L, 3L, 4L, 15L, 16L, 17L, 999999L, 1000000L)) {
      val r = Mixture.isqrt(BigInt(v))
      assert(r * r <= v && (r + 1) * (r + 1) > v, s"isqrt($v)=$r")
    }
    val big = BigInt(10).pow(24) - 1 // just under (10^12)^2
    assert(Mixture.isqrt(big) == BigInt(10).pow(12) - 1)
    assert(Mixture.isqrt(BigInt(10).pow(24)) == BigInt(10).pow(12))
  }

  test("temperature quotas: sqrt-proportional, low-resource domains boosted") {
    import spark.implicits._
    // 3 domains: 900/100/4 docs -> sqrt weights 30/10/2 (ratios exact)
    val docs = ((0L until 900L).map(i => (i, "aa")) ++
      (900L until 1000L).map(i => (i, "bb")) ++
      (1000L until 1004L).map(i => (i, "cc"))).toDF("doc_id", "lang")
    val out = Mixture.temperatureMix(spark, docs, budget = 420L)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    graft.util.CacheRegistry.releaseAll()
    // weights: 30/42, 10/42, 2/42 in ppm (exact integer division)
    assert(out("aa")._3 == 1000000L * 30 / 42)
    assert(out("bb")._3 == 1000000L * 10 / 42)
    assert(out("cc")._3 == 1000000L * 2 / 42)
    // targets: 420 * w -> 300 / 100 / 20
    assert(out("aa")._4 == 300 && out("bb")._4 == 100 && out("cc")._4 == 20)
    // cc's target (20) exceeds its 4 docs -> threshold capped at 1e6,
    // every cc doc sampled: the low-resource boost saturates
    assert(out("cc")._5 == 1000000L && out("cc")._6 == 4)
    // proportions: bb is 10% of corpus but gets ~24% of the budget
    assert(out("bb")._4 * 1.0 / 420 > 0.2)
    // realized counts approximate targets through the hash threshold
    assert(math.abs(out("aa")._6 - 300) < 60, s"got ${out("aa")._6}")
  }

  test("deterministic across partitionings and runs") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, if (i % 7 == 0) "x" else "y"))
    val a = Mixture.temperatureMix(spark, docs.toDF("doc_id", "lang").repartition(3))
      .collect().toSeq
    graft.util.CacheRegistry.releaseAll()
    val b = Mixture.temperatureMix(spark, docs.toDF("doc_id", "lang").repartition(11))
      .collect().toSeq
    graft.util.CacheRegistry.releaseAll()
    assert(a == b)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.util.TaskMetrics

/** Skew stress assertions (round-4 directive #1): the salted / capped /
  * join-back plans must keep a bounded per-task row spread on a corpus
  * BUILT to be hostile (a duplicate mega-cluster, a hot entity, a
  * directory page), while the naive shapes measurably violate it on the
  * same data. Record counts, not times, are asserted — they are
  * deterministic functions of data + plan, so the bound holds at any
  * cluster size; wall-time spreads are reported by SkewBench.
  */
class SkewSpec extends AnyFunSuite with SparkTestBase {

  private val HotCopies = 8000
  private val UniqueDocs = 2000

  /** (doc_id, text): one template duplicated HotCopies times + unique docs. */
  private def hostileDocs() = {
    import spark.implicits._
    val template = "the quick template page body that repeats verbatim across the crawl"
    spark.range(HotCopies + UniqueDocs).select(
      $"id".as("doc_id"),
      when($"id" < HotCopies, lit(template))
        .otherwise(concat(lit("unique page "), $"id", lit(" body words "),
          ($"id" * 31 % 977).cast("string"))).as("text"))
  }

  /** Run `action`, then read spread stats over its tasks (every read of
    * [[TaskMetrics]] drains the listener bus first). */
  private def measureSpread[A](action: => Unit)(read: TaskMetrics => A): A = {
    val metrics = TaskMetrics.attach(spark.sparkContext)
    try { action; read(metrics) }
    finally metrics.close()
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("exact-dedup groupBy+join-back bounds reducer rows; Window puts the cluster on one task") {
    import spark.implicits._
    val docs = hostileDocs()
    val hashed = docs.select($"doc_id", md5(to_binary($"text", lit("utf-8"))).as("text_md5"))

    // the shipped plan: map-side partial agg collapses the mega-cluster to
    // one row per map task before the shuffle; the join back is SALTED on
    // (text_md5, hash(doc_id) % 16) so the hot hash spreads over 16
    // reducers even when the counts side cannot broadcast
    val boundedSpread = measureSpread {
      val counts = hashed.groupBy($"text_md5").agg(count(lit(1)).as("n_same_text"))
      graft.tdp.Dedup.saltedJoinBack(hashed, counts, "text_md5", "doc_id").count()
    }(_.worstReadRatio())
    assert(boundedSpread <= 6.0,
      s"groupBy+salted-join-back spread $boundedSpread exceeds bound")

    // the naive shape this plan replaced (r2 finding): a Window over the
    // cluster key ships every row of the mega-cluster to one reducer.
    // (The window column must be CONSUMED — a bare count() prunes it away.)
    val windowMax = measureSpread {
      import org.apache.spark.sql.expressions.Window
      hashed.withColumn("n_same_text",
          count(lit(1)).over(Window.partitionBy($"text_md5")))
        .agg(sum($"n_same_text")).collect()
    }(_.stageSpreads(minTasks = 1).map(_.max(_.shuffleReadRecords)).maxOption.getOrElse(0L))
    assert(windowMax >= HotCopies,
      s"expected the Window reducer to read the whole $HotCopies-row cluster, saw $windowMax")
  }

  test("AQE skew-join splits the hot-key join-back when broadcast is impossible") {
    import spark.implicits._
    // at 10^12 docs the counts side is too large to broadcast AND arrives
    // as a materialized table (the production write-once/read-many shape) —
    // the join then shuffles on the hot hash and AQE's skew-join split is
    // the defense. Force that regime: no broadcast, aggressive split
    // sizing, no small-partition coalescing (which would otherwise merge
    // this KB-scale corpus into one task and mask the skew path). The
    // counts side must be a plain scan: Spark only partition-splits an SMJ
    // whose children are direct shuffle stages, so a same-query aggregate
    // feeding the join would (correctly) not be splittable.
    val docs = hostileDocs()
    val hashed = docs.select($"doc_id", md5(to_binary($"text", lit("utf-8"))).as("text_md5"))
    val countsDir = java.nio.file.Files.createTempDirectory("skew_counts").toString
    hashed.groupBy($"text_md5").agg(count(lit(1)).as("n_same_text"))
      .write.mode("overwrite").parquet(countsDir)
    val maxRead = withConf(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k") {
      measureSpread {
        val counts = spark.read.parquet(countsDir)
        // a real materialization of the join output (collect / parquet
        // write): a same-stage downstream aggregate would make AQE's
        // requirement validation conservatively skip the skew split
        hashed.join(counts, "text_md5").collect()
      }(_.stageSpreads(minTasks = 1).map(_.max(_.shuffleReadRecords)).maxOption.getOrElse(0L))
    }
    assert(maxRead < HotCopies,
      s"hot join partition was not split: one task read $maxRead rows (cluster = $HotCopies)")
  }

  test("capped co-occurrence bounds per-task pair fanout; uncapped explodes on a directory page") {
    import spark.implicits._
    // 200 normal pages × 5 objs + one directory page with 300 distinct objs
    val normal = spark.range(200).select(
      concat(lit("https://graft.test/doc/"), $"id").as("url"),
      explode(array((0 until 5).map(i => concat(lit("OBJ:"), (($"id" * 7 + i) % 50).cast("string"))): _*)).as("obj"))
    val directory = spark.range(300).select(
      lit("https://graft.test/doc/directory").as("url"),
      concat(lit("DIR:"), $"id").as("obj"))
    val triples = normal.union(directory)
      .select($"url", lit("mentions_x").as("pred"), $"obj")

    val cappedMaxWrite = measureSpread {
      graft.triples.GraphStats.cooccurrenceEdges(spark, triples, maxObjsPerDoc = 64).count()
    }(_.stageSpreads(minTasks = 1).map(_.max(_.shuffleWriteRecords)).maxOption.getOrElse(0L))
    // 64 objs → ≤ 2016 pairs from any single document, plus normal traffic
    assert(cappedMaxWrite <= 64L * 63 / 2 + 3000,
      s"capped plan wrote $cappedMaxWrite records from one task")

    val uncappedMaxWrite = measureSpread {
      val perDoc = triples.groupBy($"url", $"obj").agg(count(lit(1)).as("_n"))
        .select($"url", $"obj")
      val a = perDoc.toDF("url", "obj_a"); val b = perDoc.toDF("url", "obj_b")
      a.join(b, Seq("url")).filter($"obj_a" < $"obj_b")
        .groupBy($"obj_a", $"obj_b").agg(count(lit(1)).as("n_docs")).count()
    }(_.stageSpreads(minTasks = 1).map(_.max(_.shuffleWriteRecords)).maxOption.getOrElse(0L))
    assert(uncappedMaxWrite >= 300L * 299 / 2,
      s"expected the uncapped directory-page task to write ≥ ${300 * 299 / 2} pairs, saw $uncappedMaxWrite")
  }

  test("salted object counts: spread bounded AND equal to the plain aggregation under a hot entity") {
    import spark.implicits._
    // hot entity in 60% of 20k docs + a 50-obj tail
    val triples = spark.range(20000).select(
      concat(lit("https://graft.test/doc/"), $"id").as("subj"),
      lit("mentions_x").as("pred"),
      when($"id" % 5 < 3, lit("OBJ:HOT"))
        .otherwise(concat(lit("OBJ:"), ($"id" % 50).cast("string"))).as("obj"),
      concat(lit("https://graft.test/doc/"), $"id").as("url"))

    val spread = measureSpread {
      graft.triples.GraphStats.saltedObjectCounts(spark, triples).count()
    }(_.worstReadRatio())
    assert(spread <= 6.0, s"salted aggregation spread $spread exceeds bound")

    val salted = graft.triples.GraphStats.saltedObjectCounts(spark, triples)
    val plain = triples.groupBy($"pred", $"obj")
      .agg(count(lit(1)).as("n_mentions"), countDistinct($"url").as("n_docs"))
      .orderBy($"pred", $"obj")
    assert(salted.collect().toSeq == plain.collect().toSeq,
      "salted two-phase result differs from plain group-by")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import graft.model._
import graft.ontology.OntologyRow
import graft.index.Resources
import graft.link.{Ladders, MappingStep, MappingResources}
import graft.ner.TrieNer
import graft.post.{Abbreviation, Cleanup, MergeOverlaps}

/** Golden-asset layer (ref kazu/tests/test_assets/full_pipeline/{0,1,2}:
  * abstracts + expected entity CSVs): short bio-style documents through the
  * full doc-local chain, asserting exact (namespace, match, class, start,
  * end, mapping idx) tuples.
  */
class GoldenPipelineSpec extends AnyFunSuite {

  private val rows = Seq(
    OntologyRow("GENE_DB", "gene", "ENSG1", "EGFR", "EGFR", "exact"),
    OntologyRow("GENE_DB", "gene", "ENSG1", "EGFR", "epidermal growth factor receptor", "exact"),
    OntologyRow("DIS_DB", "disease", "MONDO:1", "breast cancer", "breast cancer", "exact"),
    OntologyRow("DIS_DB", "disease", "MONDO:5", "non-small cell lung cancer",
      "non-small cell lung cancer", "exact"),
    OntologyRow("DIS_DB", "disease", "MONDO:5", "non-small cell lung cancer",
      "NSCLC", "exact"))
  private val res = Resources.build(rows,
    p => if (p == "GENE_DB") "gene" else "disease", version = "golden/1")

  private def runPipeline(text: String): KDoc = {
    val d0 = KDoc("doc://g", new java.sql.Timestamp(0), text, "en",
      Seq(Section("body", text)))
    val ner = TrieNer.processDoc(res)(d0)
    val mapped = MappingStep.processPartition(res, Ladders.default)(Iterator(ner)).next()
    MergeOverlaps.processDoc(MergeOverlaps.Config())(
      Cleanup.processDoc(Cleanup.Config())(
        Abbreviation.processDoc(mapped)))
  }

  test("golden doc 1: gene + disease grounded with exact spans") {
    val text = "EGFR is overexpressed in breast cancer."
    val d = runPipeline(text)
    val got = d.entities.map(e =>
      (e.namespace, e.matchStr, e.entityClass, e.start, e.end,
        e.mappings.map(_.idx).sorted.mkString(",")))
    assert(got.toSet == Set(
      ("TrieNer", "EGFR", "gene", 0, 4, "ENSG1"),
      ("TrieNer", "breast cancer", "disease", 25, 38, "MONDO:1")))
  }

  test("golden doc 2: abbreviation defined then reused, propagates mapping") {
    val text = "Patients with non-small cell lung cancer (NSCLC) were treated. NSCLC progressed."
    val d = runPipeline(text)
    val abbrevs = d.entities.filter(_.namespace == Abbreviation.Namespace)
    // both NSCLC occurrences grounded to MONDO:5 at HIGHLY_LIKELY
    assert(abbrevs.map(e => (e.matchStr, e.start, e.end)).toSet ==
      Set(("NSCLC", 42, 47), ("NSCLC", 63, 68)))
    assert(abbrevs.forall(_.mappings.map(_.idx) == Seq("MONDO:5")))
    // the long form itself is also grounded
    val long = d.entities.find(_.matchStr == "non-small cell lung cancer").get
    assert(long.mappings.map(_.idx) == Seq("MONDO:5"))
  }

  test("golden doc 3: long synonym and overlap merge") {
    val text = "The epidermal growth factor receptor (EGFR) pathway."
    val d = runPipeline(text)
    // long form grounded; the parenthesised EGFR becomes an abbreviation
    // copy of it (same ENSG1 mapping)
    val got = d.entities.map(e => (e.matchStr, e.entityClass,
      e.mappings.map(_.idx).mkString(","))).toSet
    assert(got == Set(
      ("epidermal growth factor receptor", "gene", "ENSG1"),
      ("EGFR", "gene", "ENSG1")))
  }
}

class StreamingRatesSpec extends AnyFunSuite with SparkTestBase {
  test("watermarked windowed mention rates over a page stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rates").toString
    graft.pipeline.Pages.fromDocuments(spark, "/root/testdata/sf0.001")
      .limit(40).write.mode("overwrite").parquet(dir)
    val pages = graft.streaming.StreamingPipeline.pagesStream(spark, dir)
    val rates = graft.streaming.StreamingPipeline.mentionRates(
      spark, pages, spark.sparkContext.broadcast(Resources.corpus))
    val q = rates.writeStream
      .format("memory").queryName("rates_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    // append mode only emits closed windows (past the watermark); with one
    // micro-batch nothing may close — assert the query ran and the state
    // store holds windowed aggregates instead
    val progress = q.lastProgress
    assert(progress != null)
    assert(progress.stateOperators.nonEmpty)
    assert(progress.stateOperators.head.numRowsTotal > 0)
  }
}

class OverlapJoinSpec extends AnyFunSuite with SparkTestBase {
  test("bucketed overlap join ≡ theta overlap join (property, random spans)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(55)
    def spans(n: Int) = (0 until n).map { _ =>
      val url = s"u${rnd.nextInt(12)}"
      val s = rnd.nextInt(500)
      (url, s, s + 1 + rnd.nextInt(130), if (rnd.nextBoolean()) "a" else "b")
    }
    val p = spans(300).toDF("url", "start", "end", "entity_class")
    val g = spans(300).toDF("url", "start", "end", "entity_class")
    val bucketed = graft.eval.Acceptance.overlapJoinBucketed(spark, p, g)
      .collect().map(_.toSeq).toSet
    // reference theta join
    val gg = g.select($"url".as("g_url"), $"start".as("g_start"),
      $"end".as("g_end"), $"entity_class".as("g_class")).distinct()
    val theta = p.distinct().join(gg,
        $"url" === $"g_url" && $"entity_class" === $"g_class" &&
        $"g_start" < $"end" && $"start" < $"g_end")
      .select($"url", $"start", $"end", $"entity_class", $"g_start", $"g_end")
      .distinct()
      .collect().map(_.toSeq).toSet
    assert(bucketed == theta)
    assert(theta.nonEmpty)
  }

  test("nerScoresBucketed ≡ nerScores (random spans, both persist paths)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    def spans(n: Int) = (0 until n).map { _ =>
      val url = s"u${rnd.nextInt(12)}"
      val s = rnd.nextInt(500)
      (url, s, s + 1 + rnd.nextInt(130), if (rnd.nextBoolean()) "a" else "b")
    }
    val p = spans(250).toDF("url", "start", "end", "entity_class")
    val g = spans(250).toDF("url", "start", "end", "entity_class")
    val plain = graft.eval.Acceptance.nerScores(spark, p, g)
      .collect().map(_.toSeq).toList
    val bucketed = graft.eval.Acceptance.nerScoresBucketed(spark, p, g)
      .collect().map(_.toSeq).toList
    graft.util.CacheRegistry.releaseAll()
    assert(bucketed == plain)
    assert(plain.nonEmpty)
  }

  test("linkingScores single-pass set-compare ≡ intersect/except algebra (property)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // random per-mapping rows; sources skewed so some appear only in gold
    // (pure-fn) or only in test (pure-fp) — the paths the old na.fill(0)
    // covered. default_label is sometimes NULL: SQL set ops treat NULL
    // keys as equal, so a NULL-labelled mapping present on both sides must
    // count as tp — join-equality formulations get this wrong, which is
    // why the implementation groups presence flags instead of joining.
    val rnd = new scala.util.Random(91)
    def mappings(n: Int, sources: Seq[String]) = (0 until n).map { _ =>
      val url = s"u${rnd.nextInt(8)}"
      val s = rnd.nextInt(200)
      (url, s, s + 1 + rnd.nextInt(60), if (rnd.nextBoolean()) "a" else "b",
        sources(rnd.nextInt(sources.size)),
        if (rnd.nextInt(6) == 0) null else s"lbl${rnd.nextInt(5)}",
        s"idx${rnd.nextInt(9)}")
    }
    val pred = mappings(400, Seq("S1", "S2", "S3", "ONLYTEST"))
      .toDF("url", "start", "end", "entity_class", "source", "default_label", "idx")
    val gold = mappings(400, Seq("S1", "S2", "S3", "ONLYGOLD"))
      .toDF("url", "start", "end", "entity_class", "source", "default_label", "idx")
    val got = graft.eval.Acceptance.linkingScores(spark, pred, gold)
      .collect().map(_.toSeq).toList
    graft.util.CacheRegistry.releaseAll()
    // reference formulation: re-derive testMap/goldMap and score with
    // intersect + two excepts (the set algebra the reference's
    // aggregate_linking_results computes with python sets)
    val mapCols = Seq("url", "g_start", "g_end", "entity_class", "source",
      "default_label", "idx")
    val pe = pred.select($"url", $"start", $"end", $"entity_class").distinct()
    val ge = gold.select($"url", $"start".as("g_start"), $"end".as("g_end"),
      $"entity_class").distinct()
    val ov = pe.join(ge,
        pe("url") === ge("url") && pe("entity_class") === ge("entity_class") &&
        $"g_start" < pe("end") && pe("start") < $"g_end")
      .select(pe("url"), $"g_start", $"g_end", pe("entity_class"), pe("start"), pe("end"))
      .distinct()
    val tm = ov.join(pred, Seq("url", "start", "end", "entity_class"))
      .select(mapCols.map(col): _*).distinct()
    val gm = gold.select($"url", $"start".as("g_start"), $"end".as("g_end"),
        $"entity_class", $"source", $"default_label", $"idx")
      .join(ov.select($"url", $"g_start", $"g_end", $"entity_class").distinct(),
        Seq("url", "g_start", "g_end", "entity_class"))
      .select(mapCols.map(col): _*).distinct()
    val tp = gm.intersect(tm).groupBy($"source").agg(count(lit(1)).as("tp"))
    val fn = gm.except(tm).groupBy($"source").agg(count(lit(1)).as("fn"))
    val fp = tm.except(gm).groupBy($"source").agg(count(lit(1)).as("fp"))
    val expected = tp.join(fp, Seq("source"), "outer").join(fn, Seq("source"), "outer")
      .na.fill(0L)
      .select($"source", $"tp", $"fp", $"fn")
      .withColumn("precision",
        when($"tp" + $"fp" === 0, 0.0).otherwise($"tp" / ($"tp" + $"fp")))
      .withColumn("recall",
        when($"tp" + $"fn" === 0, 0.0).otherwise($"tp" / ($"tp" + $"fn")))
      .orderBy($"source")
      .collect().map(_.toSeq).toList
    assert(got == expected)
    assert(got.nonEmpty)
    // the skewed sources exercised both single-membership paths
    val bySource = got.map(r => r.head.toString -> r).toMap
    assert(bySource.contains("ONLYGOLD") || bySource.contains("ONLYTEST"))
  }
}

class PartitioningInvarianceSpec extends AnyFunSuite with SparkTestBase {
  test("triples identical under different input partitionings") {
    import graft.index.Resources
    import graft.pipeline.{Pages, Pipeline}
    import graft.triples.Triples
    val res = spark.sparkContext.broadcast(Resources.corpus)
    def run(parts: Int) = {
      val pages = Pages.fromDocuments(spark, "/root/testdata/sf0.001")
        .repartition(parts)
      Triples.fromDocs(spark, Pipeline.run(spark, pages, res)._1)
        .collect().toSet
    }
    assert(run(2) == run(13))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.index.Resources
import graft.pipeline.Json
import graft.streaming.StreamingPipeline

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  test("streaming pages → triples via file source, micro-batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // batch-write one micro-batch of pages
    graft.pipeline.Pages.fromDocuments(spark, "/root/testdata/sf0.001")
      .limit(50).write.mode("overwrite").parquet(dir)

    val pages = StreamingPipeline.pagesStream(spark, dir)
    assert(pages.isStreaming)
    val triples = StreamingPipeline.triplesStream(spark, pages,
      spark.sparkContext.broadcast(Resources.corpus))
    val q = triples.writeStream
      .format("memory").queryName("triples_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val n = spark.sql("SELECT count(*) FROM triples_stream").head().getLong(0)
    assert(n > 0)
    val objs = spark.sql("SELECT DISTINCT obj FROM triples_stream")
      .collect().map(_.getString(0)).toSet
    assert(objs.contains("SYS:SPARK") || objs.contains("OP:SORT"))
  }

  test("flatMapGroupsWithState sessionization emits closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingPipeline.Event]
    val ts = (m: Long) => new java.sql.Timestamp(1700000000000L + m * 60000)
    input.addData(
      StreamingPipeline.Event(1, ts(0), "a"),
      StreamingPipeline.Event(1, ts(5), "b"),
      StreamingPipeline.Event(1, ts(90), "c"), // 85-min gap → closes session
      StreamingPipeline.Event(2, ts(1), "a"))
    val sessions = StreamingPipeline.sessionize(spark, input.toDS())
    val q = sessions.writeStream
      .format("memory").queryName("sessions_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM sessions_stream").as[StreamingPipeline.SessionOut]
      .collect()
    // user 1's first session (2 events) closed by the later event
    assert(rows.exists(r => r.user_id == 1 && r.nEvents == 2))
  }
}

class JsonSpec extends AnyFunSuite with SparkTestBase {
  test("doc JSON round-trip is lossless through the full pipeline output") {
    import spark.implicits._
    import graft.pipeline.{Pages, Pipeline}
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val pages = graft.pipeline.Pages.fromDocuments(spark, "/root/testdata/sf0.001")
      .limit(20)
    val (full, _) = Pipeline.run(spark, pages, res)
    // the ner_only hand-off: trie mentions still carry their candidates
    val ner = Pages.toDocs(spark, pages).mapPartitions(it =>
      Pipeline.mapDocs(Pipeline.nerOnly(Pipeline.steps(res.value)))(it))
    for (docs <- Seq(full, ner)) {
      val originals = docs.collect().sortBy(_.url)
      val dir = java.nio.file.Files.createTempDirectory("graft-json").toString
      Json.writeJson(docs, dir)
      val roundTripped = Json.readJson(spark, dir).collect().sortBy(_.url)
      assert(roundTripped.toSeq == originals.toSeq)
    }
    assert(full.collect().exists(_.entities.exists(_.mappings.nonEmpty)))
    assert(ner.collect().exists(_.entities.exists(_.candidates.nonEmpty)))
  }

  test("warcTs round-trips at microsecond precision") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2023-11-14 22:13:20.123456")
    val doc = graft.model.KDoc("https://t", ts, "x", "en",
      Seq(graft.model.Section("body", "x")), Some("e"))
    val back = Json.fromJson(spark, Json.toJson(Seq(doc).toDS())).collect()
    assert(back.toSeq == Seq(doc))
    assert(back.head.warcTs.getNanos == 123456000)
  }
}

class GoldReaderSpec extends AnyFunSuite with SparkTestBase {
  test("parses Label-Studio-style export into gold entities") {
    val json =
      """[{"data": {"url": "doc://1", "text": "EGFR in breast cancer"},
        |  "annotations": [{"result": [
        |    {"value": {"start": 0, "end": 4, "labels": ["gene"], "text": "EGFR"},
        |     "meta": {"source": "ENSEMBL", "mapping_id": "ENSG1"}},
        |    {"value": {"start": 8, "end": 21, "labels": ["disease"], "text": "breast cancer"},
        |     "meta": {"source": "MONDO", "mapping_id": "MONDO_1"}}]}]}]""".stripMargin
    val f = java.nio.file.Files.createTempFile("gold", ".json")
    java.nio.file.Files.writeString(f, json)
    val df = graft.eval.GoldReader.fromLabelStudioJson(spark, f.toString)
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("entity_class")).toSet == Set("gene", "disease"))
    assert(rows.find(_.getAs[String]("match") == "EGFR").get
      .getAs[String]("mapping_id") == "ENSG1")
  }

  test("writer → reader round-trip: pipeline docs become annotation tasks") {
    import spark.implicits._
    // real pipeline output docs (so entities carry grounded mappings)
    val pages = graft.pipeline.Pages.fromDocuments(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.expr(
        "cast(regexp_extract(url, '([0-9]+)$', 1) as long) < 20"))
    val res = spark.sparkContext.broadcast(graft.index.Resources.corpus)
    val (docs, _) = graft.pipeline.Pipeline.run(spark, pages, res)
    val cached = docs.persist()
    val dir = java.nio.file.Files.createTempDirectory("ls-tasks").toString
    graft.eval.GoldWriter.writeLabelStudioJson(cached, dir)

    val back = graft.eval.GoldReader.fromLabelStudioJson(spark, dir)
      .select($"url", $"start", $"end", $"match", $"entity_class",
        $"source", $"mapping_id")
      .as[(String, Int, Int, String, String, String, String)]
      .collect().toSet
    val expected = cached.collect().flatMap { d =>
      d.sections.flatMap(_.entities.flatMap { e =>
        val m = e.mappings.headOption
        e.spans.map(sp => (d.url, sp.start, sp.end,
          d.sections.head.text.substring(sp.start, sp.end),
          e.entityClass, m.map(_.source).orNull, m.map(_.idx).orNull))
      })
    }.toSet
    assert(expected.nonEmpty)
    assert(back == expected,
      s"missing=${(expected -- back).take(3)} extra=${(back -- expected).take(3)}")
    cached.unpersist()
  }

  test("REFERENCE-shaped export parses verbatim (fixture from the reference's own converter)") {
    // ls_reference_export.json is generated by tools/make_ls_fixture.py:
    // the reference's KazuToLabelStudioConverter over the exact scenario of
    // kazu/tests/test_label_studio.py, round-trip-validated against the
    // reference's LSToKazuConversion. Our reader must reconstruct the same
    // gold entities from the same bytes — non-contiguous relation links,
    // taxonomy mapping regions and unmapped sentinel included.
    val path = getClass.getResource("/ls_reference_export.json").getPath
    val rows = graft.eval.GoldReader.fromReferenceExport(spark, path)
      .collect()
      .map(r => (r.getAs[String]("entity_class"), r.getAs[String]("match"),
        r.getAs[Seq[Int]]("starts").sorted,
        r.getAs[Seq[org.apache.spark.sql.Row]]("mappings")
          .map(m => (m.getAs[String]("source"), m.getAs[String]("idx")))))
      .toSet
    assert(rows.size == 3, rows)
    // same assertions as the reference's test_kazu_doc_to_label_studio
    assert(rows.contains(("gene", "cat mat", Seq(4, 19),
      Seq("test1" -> "1", "test2" -> "2"))), rows)
    assert(rows.contains(("disease", "mat", Seq(19),
      Seq("test3" -> "3"))), rows)
    // the reference keeps the unmapped sentinel as a ("None", "unmapped")
    // mapping (LSToKazuConversion.create_mappings) — mirrored
    assert(rows.contains(("drug", "cat", Seq(4),
      Seq("None" -> "unmapped"))), rows)
    assert(rows.forall(_ != null))
  }

  test("writer shifts multi-section spans to task-text offsets") {
    import graft.model._
    val doc = KDoc("u", new java.sql.Timestamp(0), "abs body", "en", Seq(
      Section("abstract", "foo bar",
        Seq(Mention("foo", "x", Seq(CharSpan(0, 3)), "t", 50, "FOO"))),
      Section("body", "spark joins",
        Seq(Mention("spark", "component", Seq(CharSpan(0, 5)), "t", 50, "SPARK")))))
    val json = graft.eval.GoldWriter.taskJson(doc)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val text = node.path("data").path("text").asText
    assert(text == "foo bar spark joins")
    val results = node.path("annotations").path(0).path("result")
    (0 until results.size()).foreach { i =>
      val v = results.path(i).path("value")
      // the annotated slice of the TASK text must equal the recorded text
      assert(text.substring(v.path("start").asInt, v.path("end").asInt) ==
        v.path("text").asText)
    }
    assert(results.path(1).path("value").path("start").asInt == 8)
  }
}

/** Cross-validation: the stateful streaming sessionizer and the batch
  * window-function sessionization (q5) must agree on closed sessions. */
class SessionizeCrossCheckSpec extends AnyFunSuite with SparkTestBase {
  test("streaming closed sessions consistent with batch lag-window sessions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select($"user_id", $"ts", $"event_type")
      .as[graft.streaming.StreamingPipeline.Event]
      .collect().toSeq

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamingPipeline.Event]
    input.addData(events: _*)
    val q = graft.streaming.StreamingPipeline.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("xcheck_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("SELECT user_id, sessionStart, nEvents FROM xcheck_sessions")
      .as[(Long, Long, Long)].collect().toSet

    // batch: lag-window session starts (millisecond precision, matching the
    // stream's gap rule); drop each user's LAST session (still open in the
    // stream — never emitted)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts")
    val sessions = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("tsMs", unix_millis($"ts".cast("timestamp")))
      .withColumn("prevMs", lag($"tsMs", 1).over(w))
      .withColumn("newSess",
        when($"prevMs".isNull || $"tsMs" - $"prevMs" > 1800000L, 1)
          .otherwise(0))
      .withColumn("sessId", sum($"newSess").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sessId")
      .agg(min($"tsMs").as("sessionStart"), count(lit(1)).as("nEvents"))
    val lastSess = sessions.groupBy($"user_id")
      .agg(max($"sessId").as("maxSess"))
    val batch = sessions.join(lastSess, "user_id")
      .filter($"sessId" =!= $"maxSess")
      .select($"user_id", $"sessionStart", $"nEvents")
      .as[(Long, Long, Long)].collect().toSet

    assert(batch.nonEmpty)
    assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
  }
}

/** Streaming exact dedup: first-seen survives within and across
  * micro-batches; duplicates carry their occurrence number. */
class StreamingDedupSpec extends AnyFunSuite with SparkTestBase {
  test("first-seen wins across micro-batches; duplicates flagged") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val pages = input.toDF().toDF("url", "text")
    val q = graft.streaming.StreamingPipeline.dedupStream(spark, pages)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    // batch 1: two distinct texts + an in-batch duplicate
    input.addData(("u1", "alpha text"), ("u2", "beta text"), ("u3", "alpha text"))
    q.processAllAvailable()
    // batch 2: a cross-batch duplicate and a fresh text
    input.addData(("u4", "alpha text"), ("u5", "gamma text"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM dedup_stream")
      .as[graft.streaming.StreamingPipeline.DedupDecision].collect()
      .map(d => d.url -> d).toMap
    assert(rows("u1").isFirstSeen && rows("u1").nOccurrence == 1)
    assert(!rows("u3").isFirstSeen && rows("u3").nOccurrence == 2) // in-batch dup
    assert(!rows("u4").isFirstSeen && rows("u4").nOccurrence == 3) // cross-batch dup
    assert(rows("u2").isFirstSeen && rows("u5").isFirstSeen)
    assert(rows.values.count(_.isFirstSeen) == 3)
  }

  test("near-dup stream: minhash LSH state finds pairs across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearA = base.replace("token7", "tokenX")   // ~0.9 jaccard vs base
    val nearB = base.replace("token9", "tokenY")
    val other = (1 to 40).map(i => s"word$i").mkString(" ")
    val input = MemoryStream[(String, String)]
    val pages = input.toDF().toDF("url", "text")
    val q = graft.streaming.StreamingPipeline.nearDupStream(spark, pages)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    // batch 1: base + an unrelated doc — no pairs yet
    input.addData(("a", base), ("z", other))
    q.processAllAvailable()
    val afterB1 = spark.sql("SELECT DISTINCT url, matchedUrl FROM neardup_stream")
      .as[(String, String)].collect().toSet
    assert(afterB1.isEmpty, afterB1)
    // batch 2: two near-dups of `base` arrive later — the stateful index
    // must match them against batch-1 state (cross-batch) and each other
    input.addData(("b", nearA), ("c", nearB))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.sql("SELECT DISTINCT url, matchedUrl FROM neardup_stream")
      .as[(String, String)].collect().toSet
    assert(pairs.contains(("b", "a")), pairs) // cross-batch
    assert(pairs.contains(("c", "a")), pairs)
    assert(pairs.contains(("c", "b")), pairs) // in-batch
    assert(!pairs.exists(p => p._1 == "z" || p._2 == "z"), pairs)
    // estimated similarity is high for the planted pairs
    val sims = spark.sql("SELECT estJaccard FROM neardup_stream")
      .as[Double].collect()
    assert(sims.forall(_ >= 0.7))
  }

  test("near-dup TTL: expired state forgotten, reinserted copy still caught in-window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearA = base.replace("token7", "tokenX")
    val nearB = base.replace("token9", "tokenY")
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val pages = input.toDF().toDF("url", "text", "warc_ts")
    val ttlMs = 60_000L
    val q = graft.streaming.StreamingPipeline
      .nearDupStreamTtl(spark, pages, ttlMs)
      .writeStream.format("memory").queryName("neardup_ttl")
      .outputMode("append").start()
    // t=10s: original (off the 0 boundary: a row at exactly the initial
    // watermark is dropped as late). t=40s (inside TTL): near-dup — caught.
    input.addData(("a", base, ts(10_000L)))
    q.processAllAvailable()
    input.addData(("d", nearA, ts(40_000L)))
    q.processAllAvailable()
    // t=210s: gap > TTL past both a (10s) and d (40s) — state for them is
    // evicted on access, so this near-dup of the SAME text is NOT flagged…
    input.addData(("b", nearA, ts(210_000L)))
    q.processAllAvailable()
    // …but it re-entered state: a third copy at t=240s (inside b's TTL
    // window) is still caught against the reinserted copy.
    input.addData(("c", nearB, ts(240_000L)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.sql("SELECT DISTINCT url, matchedUrl FROM neardup_ttl")
      .as[(String, String)].collect().toSet
    assert(pairs.contains(("d", "a")), pairs)        // in-TTL cross-batch
    assert(pairs.contains(("c", "b")), pairs)        // caught vs reinserted copy
    assert(!pairs.exists(p => p._1 == "b" && p._2 != "b"),
      s"expired entries must not match: $pairs")     // b found nothing
    assert(!pairs.exists(p => p._2 == "a" && p._1 != "d"),
      s"a must be forgotten after TTL: $pairs")
  }

  test("re-crawled url replaces its bucket entry instead of evicting neighbors") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearV = base.replace("token7", "tokenX")
    val nearB = base.replace("token9", "tokenY")
    val input = MemoryStream[(String, String)]
    val pages = input.toDF().toDF("url", "text")
    // tiny bucket cap: 3 re-crawls of one url would overflow it if arrivals
    // ACCUMULATED (self-matches emit nothing, so the copies would silently
    // evict every other signature sharing the bucket)
    val q = graft.streaming.StreamingPipeline
      .nearDupStream(spark, pages, maxBucket = 2)
      .writeStream.format("memory").queryName("neardup_recrawl")
      .outputMode("append").start()
    input.addData(("v", nearV)) // the neighbor that must survive
    q.processAllAvailable()
    // the same url re-crawled repeatedly (boilerplate page re-fetched)
    (1 to 4).foreach { _ => input.addData(("a", base)); q.processAllAvailable() }
    // a genuine near-dup of v arrives AFTER the re-crawl burst
    input.addData(("b", nearB))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.sql("SELECT DISTINCT url, matchedUrl FROM neardup_recrawl")
      .as[(String, String)].collect().toSet
    assert(pairs.contains(("b", "v")),
      s"v was evicted by re-crawl copies of a: $pairs")
    assert(pairs.contains(("b", "a")), pairs)
  }
}

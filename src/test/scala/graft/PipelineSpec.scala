package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.index.Resources
import graft.model._
import graft.ontology.CorpusOntology
import graft.pipeline.{Pages, Pipeline}
import graft.triples.Triples
import graft.eval.Acceptance

/** End-to-end pipeline behavior on the driver-generated corpus: smoke,
  * failure isolation, checkpoint/resume determinism, lineage, and the
  * acceptance P/R gate vs an independently-computed gold set.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("end-to-end: pages → triples, with entities grounded") {
    val pages = Pages.fromDocuments(spark, sfDir)
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val (docs, _) = Pipeline.run(spark, pages, res)
    val triples = Triples.fromDocs(spark, docs).cache()
    assert(triples.count() > 0)
    val objs = triples.select("obj").distinct().collect().map(_.getString(0)).toSet
    assert(objs.contains("OP:SORT") && objs.contains("SYS:SPARK"))
    // subjects carry mention anchors
    val t = triples.head()
    assert(t.subj.matches("https://graft\\.test/doc/\\d+#\\d+-\\d+"))
  }

  test("failure isolation: oversized and mismatching docs become rows") {
    import spark.implicits._
    val big = "x " * 150000 // > 200k chars
    val pages = Seq(
      PageRow("u1", new java.sql.Timestamp(0),
        graft.text.Html.wrap("t", big).getBytes("UTF-8"), big, "en"),
      PageRow("u2", new java.sql.Timestamp(0),
        graft.text.Html.wrap("t", "good sort doc").getBytes("UTF-8"),
        "good sort doc", "en"),
      PageRow("u3", new java.sql.Timestamp(0),
        "<html><body>other</body></html>".getBytes("UTF-8"),
        "DIFFERENT pre-extracted text", "en"),
      // no html bytes: extraction itself throws
      PageRow("u4", new java.sql.Timestamp(0), null, "", "en")
    ).toDF()
    val docs = Pages.toDocs(spark, pages).collect()
    assert(docs.find(_.url == "u1").get.error.exists(_.contains("doc length")))
    assert(docs.find(_.url == "u2").get.error.isEmpty)
    assert(docs.find(_.url == "u3").get.error.exists(_.contains("mismatch")))
    assert(docs.find(_.url == "u4").get.error.exists(_.contains("NullPointerException")))
    val fails = Pipeline.failures(spark,
      Pages.toDocs(spark, pages), "run-test").collect()
    assert(fails.map(_.url).toSet == Set("u1", "u3", "u4"))
    assert(fails.forall(_.stage == "extract"), fails.toSeq)
  }

  test("checkpoint/resume: identical triples, lineage rows per stage×partition") {
    // explicit file: URI — resume decisions must go through the Hadoop
    // FileSystem API (cluster-safe), not java.io.File (r1 ADVICE finding)
    val local = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val dir = s"file:$local"
    val pages = Pages.fromDocuments(spark, sfDir)
    val res = spark.sparkContext.broadcast(Resources.corpus)

    val cfg = Pipeline.Config(checkpointDir = Some(dir), runId = "run-a")
    val (docs1, lineage1) = Pipeline.run(spark, pages, res, cfg = cfg)
    val t1 = Triples.fromDocs(spark, docs1).collect().toSet

    // lineage: one row per (stage, partition), gathered during the write —
    // no second read pass (counts live in the _LINEAGE sidecar inside the
    // published v=0 snapshot)
    assert(lineage1.nonEmpty)
    val stages = lineage1.map(_.stage).distinct
    assert(stages.contains("extract") && stages.contains("trie_ner") &&
      stages.contains("mapping") && stages.contains("merge"))
    assert(lineage1.forall(_.rowsIn > 0))
    assert(lineage1.forall(_.runId == "run-a"))
    stages.foreach { st =>
      assert(new java.io.File(s"$local/$st/v=0/_LINEAGE").isFile, s"sidecar for $st")
      assert(new java.io.File(s"$local/$st/_CURRENT").isFile, s"pointer for $st")
    }

    // resume: published snapshots exist → read back, not recomputed; same
    // output, lineage recovered from the sidecar, snapshot untouched
    // (modification times prove no rewrite)
    def mtimes(): Map[String, Long] =
      stages.map(st => st -> new java.io.File(s"$local/$st/v=0/_SUCCESS").lastModified).toMap
    val before = mtimes()
    val cfg2 = cfg.copy(resume = true, runId = "run-b")
    val (docs2, lineage2) = Pipeline.run(spark, pages, res, cfg = cfg2)
    val t2 = Triples.fromDocs(spark, docs2).collect().toSet
    assert(t1 == t2)
    assert(mtimes() == before, "resume must not rewrite published snapshots")
    assert(lineage2.map(l => (l.stage, l.partitionId, l.rowsIn)).toSet ==
      lineage1.map(l => (l.stage, l.partitionId, l.rowsIn)).toSet)

    // an UNPUBLISHED snapshot (pointer present but _SUCCESS missing — a
    // torn write) is never resumed from: a fresh v=1 is staged + published
    assert(new java.io.File(s"$local/mapping/v=0/_SUCCESS").delete())
    val (docs3, _) = Pipeline.run(spark, pages, res,
      cfg = cfg.copy(resume = true, runId = "run-c"))
    assert(Triples.fromDocs(spark, docs3).collect().toSet == t1)
    assert(new java.io.File(s"$local/mapping/v=1/_SUCCESS").isFile,
      "recompute must stage a NEW snapshot version")
    assert(scala.io.Source.fromFile(s"$local/mapping/_CURRENT").mkString.trim == "1")

    // time travel: the superseded extract snapshot stays readable by
    // version and equals the current one (deterministic recompute)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mappingTable = new org.apache.hadoop.fs.Path(s"$dir/mapping")
    assert(graft.pipeline.Snapshots.allVersions(fs, mappingTable) == Seq(0L, 1L))
    val v1 = Pipeline.readStage(spark, dir, "mapping").collect().map(_.url).sorted
    // v=0 lost its _SUCCESS above, so compare against v=1 explicitly
    val v1Again = Pipeline.readStage(spark, dir, "mapping", version = 1).collect()
      .map(_.url).sorted
    assert(v1.sameElements(v1Again))

    // expiry: old snapshots are dropped, the published one never is
    val expired = graft.pipeline.Snapshots.expire(fs, mappingTable, keep = 1)
    assert(expired == Seq(0L))
    assert(graft.pipeline.Snapshots.allVersions(fs, mappingTable) == Seq(1L))
    assert(graft.pipeline.Snapshots.currentVersion(fs, mappingTable).contains(1L))
  }

  test("lineage carries the version of the bundle the run used") {
    val probe = Resources.build(CorpusOntology.rows, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords, version = "lineage-probe/1")
    val res = spark.sparkContext.broadcast(probe)
    val pages = Pages.fromDocuments(spark, sfDir).limit(20)
    val (fused, fusedLineage) = Pipeline.run(spark, pages, res, withTransformerNer = false)
    fused.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    val (_, ckptLineage) = Pipeline.run(spark, pages, res, withTransformerNer = false,
      cfg = Pipeline.Config(checkpointDir = Some(s"file:$dir")))
    for (lineage <- Seq(fusedLineage, ckptLineage)) {
      assert(lineage.nonEmpty)
      assert(lineage.forall(_.resourceVersion == "lineage-probe/1"), lineage)
    }
  }

  test("fused and staged execution paths produce identical triples") {
    // two independent compositions of the same stages: the fused single
    // mapPartitions (no checkpoint) vs the snapshot-staged path — their
    // outputs must agree exactly
    val pages = Pages.fromDocuments(spark, sfDir).limit(120)
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val (fused, _) = Pipeline.run(spark, pages, res)
    val dir = s"file:${java.nio.file.Files.createTempDirectory("graft-fvs")}"
    val (staged, _) = Pipeline.run(spark, pages, res,
      cfg = Pipeline.Config(checkpointDir = Some(dir), runId = "fvs"))
    val a = Triples.fromDocs(spark, fused).collect().toSet
    val b = Triples.fromDocs(spark, staged).collect().toSet
    assert(a == b, s"fused-only: ${(a -- b).take(3)}; staged-only: ${(b -- a).take(3)}")
    assert(a.nonEmpty)
  }

  test("step groups compose: ner_only docs through a JSON round-trip and " +
    "linkingStages equal the full pipeline") {
    import spark.implicits._
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val pages = Pages.fromDocuments(spark, sfDir).limit(100)
    val nerDocs = Pages.toDocs(spark, pages).mapPartitions(it =>
      Pipeline.mapDocs(Pipeline.nerOnly(Pipeline.steps(res.value)))(it))
    // hand off through the docs-JSON contract, as Main does
    val dir = java.nio.file.Files.createTempDirectory("graft-stepgroup").toString
    graft.pipeline.Json.writeJson(nerDocs, dir)
    val resumedDocs = graft.pipeline.Json.readJson(spark, dir)
      .mapPartitions(it => Pipeline.linkingStages(res.value)(it))
    val composed = Triples.fromDocs(spark, resumedDocs).collect().toSet

    val (fullDocs, _) = Pipeline.run(spark, pages, res)
    val full = Triples.fromDocs(spark, fullDocs).collect().toSet
    assert(composed == full)
    assert(composed.nonEmpty)

    // a doc that already carries a gene mention: the entity splitter runs in
    // ner_only, so BRCA1/2 is split the same way on both routes
    val text = "BRCA1/2 carriers"
    val gene = KDoc("g", new java.sql.Timestamp(0), text, "en", Seq(Section("body", text,
      Seq(Mention("BRCA1/2", "gene", Seq(CharSpan(0, 7)), "t", 50, "BRCA1/2")))))
    val steps = Pipeline.steps(res.value)
    val viaGroups = Pipeline.compose(Pipeline.linkingOnly(steps))(
      Pipeline.compose(Pipeline.nerOnly(steps))(gene))
    val oneShot = Pipeline.compose(steps)(gene)
    assert(viaGroups == oneShot)
    assert(oneShot.entities.map(_.matchStr).contains("BRCA2"), oneShot.entities)
  }

  test("incremental ingest: a new crawl slice processes only unseen urls") {
    import spark.implicits._
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val all = Pages.fromDocuments(spark, sfDir)
    val firstHalf = all.filter($"url".substr(-1, 1).isin("0", "2", "4", "6", "8"))
    val (docs1, _) = Pipeline.run(spark, firstHalf, res)
    val existing = Triples.fromDocs(spark, docs1).toDF().cache()

    // second batch = the FULL corpus; the anti-join must cut it to unseen
    val newPages = Pipeline.newPagesOnly(all, existing)
    assert(newPages.count() + firstHalf.count() >= all.count())
    assert(newPages.join(firstHalf.select("url"), Seq("url")).count() ==
      firstHalf.join(existing.select("url"), Seq("url"), "left_anti").count(),
      "only no-triple pages of the first batch may reappear")
    val (docs2, _) = Pipeline.run(spark, newPages, res)
    val appended = Triples.fromDocs(spark, docs2).toDF()

    // union equals a from-scratch full run
    val (docsFull, _) = Pipeline.run(spark, all, res)
    val full = Triples.fromDocs(spark, docsFull).collect().toSet
    val incremental = (existing.as[graft.model.Triple].collect() ++
      appended.as[graft.model.Triple].collect()).toSet
    assert(incremental == full)

    // a third incremental pass over the same corpus adds nothing for pages
    // that produced triples
    val third = Pipeline.newPagesOnly(all,
      existing.union(appended)).count()
    val noTriplePages = all.count() - existing.union(appended)
      .select("url").distinct().count()
    assert(third == noTriplePages)
  }

  test("incremental commit: legacy migration, empty increments, atomic inc= partitions") {
    import spark.implicits._
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val out = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def slice(lo: Long, hi: Long) = Pages.fromDocuments(spark, sfDir)
      .filter(org.apache.spark.sql.functions.expr(
        s"cast(regexp_extract(url, '([0-9]+)$$', 1) as long) >= $lo and " +
        s"cast(regexp_extract(url, '([0-9]+)$$', 1) as long) < $hi"))

    // seed a LEGACY layout: top-level pred= partitions (the old raw append)
    val (legacyDocs, _) = Pipeline.run(spark, slice(0, 5), res)
    Triples.fromDocs(spark, legacyDocs).toDF().write.mode("overwrite")
      .partitionBy("pred").parquet(s"$out/triples")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/triples"))
      .exists(_.getPath.getName.startsWith("pred=")))
    val legacyCount = spark.read.parquet(s"$out/triples").count()

    // an incremental run over overlapping pages must migrate the legacy
    // table under inc=legacy, see its urls, and process only the new ones
    val (_, _, committed) = Pipeline.runIncremental(spark, slice(0, 10), res,
      Pipeline.Config(runId = "r1"), out)
    val st = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/triples"))
      .map(_.getPath.getName).toSet
    assert(!st.exists(_.startsWith("pred=")), st)
    assert(st.contains("inc=legacy") && st.contains("inc=r1"), st)
    val table = spark.read.option("basePath", s"$out/triples").parquet(s"$out/triples")
    assert(table.filter($"inc" === "legacy").count() == legacyCount)
    assert(committed.endsWith("inc=r1"))
    // no url processed twice
    val perUrl = table.select("url", "inc").distinct()
      .groupBy("url").count().filter($"count" > 1).count()
    assert(perUrl == 0)

    // an EMPTY increment (all urls already present) commits an empty
    // partition; the next run must still read the table (no schema crash)
    Pipeline.runIncremental(spark, slice(0, 10), res,
      Pipeline.Config(runId = "r2"), out)
    val (_, _, c3) = Pipeline.runIncremental(spark, slice(10, 12), res,
      Pipeline.Config(runId = "r3"), out)
    assert(c3.endsWith("inc=r3"))
    // retried run-id gets a unique partition instead of a failed rename
    val (_, _, c4) = Pipeline.runIncremental(spark, slice(10, 12), res,
      Pipeline.Config(runId = "r3"), out)
    assert(c4.endsWith("inc=r3-2"), c4)
    // final table = exactly the union of all processed urls' triples
    val (fullDocs, _) = Pipeline.run(spark, slice(0, 12), res)
    val expected = Triples.fromDocs(spark, fullDocs).collect().toSet
    val got = spark.read.option("basePath", s"$out/triples")
      .parquet(s"$out/triples").drop("inc")
      .as[graft.model.Triple].collect().toSet
    assert(got == expected)
  }

  test("acceptance: NER + triple P/R ≥ 0.95 vs independent gold") {
    import spark.implicits._
    // gold derived INDEPENDENTLY of the pipeline: regex over raw text for
    // unambiguous single-word terms (same set the DuckDB oracle checks)
    val safeTerms: Map[String, (String, String)] = Map(
      "filter" -> ("operator", "OP:FILTER"), "agg" -> ("operator", "OP:AGGREGATE"),
      "group" -> ("operator", "OP:AGGREGATE"), "order" -> ("operator", "OP:ORDER_BY"),
      "spark" -> ("component", "SYS:SPARK"), "column" -> ("component", "SYS:COLUMN"),
      "row" -> ("component", "SYS:ROW"), "batch" -> ("component", "SYS:BATCH"),
      "query" -> ("component", "SYS:QUERY"), "key" -> ("component", "SYS:KEY"),
      "value" -> ("component", "SYS:VALUE"))
    val docsRaw = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val gold = docsRaw.flatMap { case (id, text) =>
      safeTerms.flatMap { case (term, (cls, obj)) =>
        val re = ("\\b" + term + "\\b").r
        re.findAllMatchIn(text).map(m =>
          (Pages.urlOf(id), m.start, m.end, cls,
            s"${Pages.urlOf(id)}#${m.start}-${m.end}", s"mentions_$cls", obj))
      }
    }.toSeq.toDF("url", "start", "end", "entity_class", "subj", "pred", "obj")

    val res = spark.sparkContext.broadcast(Resources.corpus)
    val (docs, _) = Pipeline.run(spark, Pages.fromDocuments(spark, sfDir), res)
    val triples = Triples.fromDocs(spark, docs).toDF().cache()

    // triple-level P/R restricted to the gold objs (pipeline also emits
    // other classes of triples, which the gold doesn't cover)
    val goldObjs = safeTerms.values.map(_._2).toSeq.distinct
    val (p, r) = Acceptance.tripleScores(spark,
      triples.filter($"obj".isin(goldObjs: _*)), gold)
    assert(p >= 0.95, s"triple precision $p")
    assert(r >= 0.95, s"triple recall $r")

    // NER soft-span P/R on those mentions
    val predNer = triples.filter($"obj".isin(goldObjs: _*))
      .select($"url", $"start", $"end",
        regexp_replace($"pred", "mentions_", "").as("entity_class"))
    val scores = Acceptance.nerScores(spark, predNer, gold).collect()
    scores.foreach { row =>
      assert(row.getAs[Double]("precision") >= 0.95, row.toString)
      assert(row.getAs[Double]("recall") >= 0.95, row.toString)
    }
  }
}

class TripleSinkSpec extends AnyFunSuite with SparkTestBase {
  test("bucketed triples table: partitioned by pred, bucketed by subj") {
    import graft.index.Resources
    import graft.pipeline.{Pages, Pipeline}
    import graft.triples.Triples
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val pages = Pages.fromDocuments(spark, "/root/testdata/sf0.001").limit(50)
    val (docs, _) = Pipeline.run(spark, pages, res)
    val triples = Triples.fromDocs(spark, docs)
    Triples.writeBucketed(spark, triples, "triples_bucketed", buckets = 4)
    val back = spark.table("triples_bucketed")
    assert(back.count() == triples.count())
    val catalogTable = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("triples_bucketed"))
    assert(catalogTable.partitionColumnNames == Seq("pred"))
    assert(catalogTable.bucketSpec.exists(b =>
      b.numBuckets == 4 && b.bucketColumnNames == Seq("subj")))
    spark.sql("DROP TABLE triples_bucketed")
  }
}

/** Robustness: messy foreign HTML (boilerplate, entities, unicode, nested
  * tags, empty pre-extracted text) through the full pipeline. */
class MessyHtmlSpec extends AnyFunSuite with SparkTestBase {
  test("foreign html pages survive the pipeline and yield mentions") {
    import spark.implicits._
    def page(url: String, html: String) =
      PageRow(url, new java.sql.Timestamp(0), html.getBytes("UTF-8"), "", "en")
    val pages = Seq(
      page("h1", """<html><head><title>Nav</title><script>var x="<sort>";</script></head>
        |<body><nav>menu</nav><p>the sort and filter run in spark &amp; batch</p>
        |<style>p{color:red}</style><!-- comment --></body></html>""".stripMargin),
      page("h2", "<html><body><div><p>query κ window</p><p>value &#65; key</p></div></body></html>"),
      page("h3", "no tags at all just sort and spark"),
      page("h4", "<body><p></p></body>"), // empty body
      page("h5", "<html><body><p>unclosed tag <b>filter here")
    ).toDF()
    val res = spark.sparkContext.broadcast(graft.index.Resources.corpus)
    val (docs, _) = graft.pipeline.Pipeline.run(spark, pages, res)
    val collected = docs.collect()
    assert(collected.forall(_.error.isEmpty))
    val triples = graft.triples.Triples.fromDocs(spark, docs).collect()
    val byUrl = triples.groupBy(_.url)
    assert(byUrl.contains("h1")) // sort/filter/spark/batch found
    assert(byUrl.contains("h3"))
    assert(byUrl.contains("h5")) // filter found despite unclosed tag
    // offsets index into the EXTRACTED text
    val h1 = collected.find(_.url == "h1").get
    h1.sections.head.entities.foreach { e =>
      assert(h1.text.substring(e.start, e.end) == e.matchStr)
    }
  }
}

/** Per-document fanout bound of the co-occurrence aggregate: a pathological
  * page with k entities must not emit k²/2 pairs (r1 ADVICE finding). */
class CooccurrenceCapSpec extends AnyFunSuite with SparkTestBase {
  test("pathological doc is capped at top-N objs; truncation observed") {
    import spark.implicits._
    val patho = (0 until 200).map(i => ("u_patho", f"E:$i%03d", 1))
    val normal = Seq(("u_1", "E:000", 5), ("u_1", "E:001", 1), ("u_2", "E:000", 1))
    val triples = (patho ++ normal)
      .flatMap { case (u, o, n) => Seq.fill(n)((u, "mentions_x", o)) }
      .toDF("url", "pred", "obj")
    val out = graft.triples.GraphStats.cooccurrenceEdges(spark, triples, maxObjsPerDoc = 64)
    val rows = out.collect()
    // kept objs for u_patho: top-64 by (count desc, obj) = E:000..E:063, so
    // every emitted pair is among those (u_1's pair coincides with one)
    assert(rows.length == 64 * 63 / 2, s"got ${rows.length} pairs")
    val shared = rows.find(r => r.getString(0) == "E:000" && r.getString(1) == "E:001").get
    assert(shared.getAs[Long]("n_docs") == 2) // u_patho + u_1
    val metric = out.queryExecution.observedMetrics("cooccurrence_cap")
    assert(metric.getAs[Long]("n_truncated_doc_objs") == 200 - 64)

    // cap above the per-doc distinct-obj count ⇒ identical to the uncapped
    // aggregate (the driver-query regime: 64 > ontology size)
    val un = graft.triples.GraphStats.cooccurrenceEdges(spark, triples, maxObjsPerDoc = 1000)
    assert(un.count() == 200L * 199 / 2) // u_1's pair coincides with a patho pair
  }
}

class FusedLineageSpec extends AnyFunSuite with SparkTestBase {
  test("fused pipeline surfaces per-partition lineage after an action") {
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val pages = Pages.fromDocuments(spark, "/root/testdata/sf0.001").repartition(3)
    val (docs, lineage) = Pipeline.run(spark, pages, res)
    assert(lineage.isEmpty)          // nothing executed yet
    val n = docs.count()             // action
    assert(lineage.nonEmpty)
    assert(lineage.map(_.rowsIn).sum == n)
    assert(lineage.forall(_.stage == "fused_pipeline"))
  }

  test("CLI arg parsing: valueless --resume does not desynchronize later options") {
    val opts = graft.pipeline.Main.parseArgs(Array(
      "--step-group", "incremental", "--checkpoint", "c",
      "--resume", "--run-id", "myrun", "--input", "in", "--output", "out"))
    assert(opts("resume") == "true" && opts("run-id") == "myrun")
    assert(opts("input") == "in" && opts("output") == "out")
    assert(opts("step-group") == "incremental" && opts("checkpoint") == "c")
    intercept[IllegalArgumentException] {
      graft.pipeline.Main.parseArgs(Array("--run-id")) // dangling value opt
    }
    // boolean flags: bare and =true/=false accepted, anything else rejected
    // ("--int8=1" silently coercing to FALSE would run the float model)
    assert(graft.pipeline.Main.parseArgs(Array("--int8"))("int8") == "true")
    assert(graft.pipeline.Main.parseArgs(Array("--int8=false"))("int8") == "false")
    intercept[IllegalArgumentException] {
      graft.pipeline.Main.parseArgs(Array("--int8=1"))
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.Main.parseArgs(Array("--resume=yes"))
    }
  }

  test("expire with no published pointer protects the newest complete snapshot") {
    import org.apache.hadoop.fs.Path
    val local = java.nio.file.Files.createTempDirectory("graft-expire").toString
    val table = new Path(s"file:$local/t")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // v=0 complete, v=1 complete, v=2 crashed mid-stage (no _SUCCESS);
    // the writer died before ever publishing a pointer
    Seq(0L, 1L).foreach { v =>
      fs.mkdirs(graft.pipeline.Snapshots.versionPath(table, v))
      fs.create(new Path(graft.pipeline.Snapshots.versionPath(table, v), "_SUCCESS")).close()
    }
    fs.mkdirs(graft.pipeline.Snapshots.versionPath(table, 2L))
    val dropped = graft.pipeline.Snapshots.expire(fs, table, keep = 1)
    // the newest COMPLETE snapshot (v=1) must survive; v=0 and the crashed
    // v=2 staging are reclaimed
    assert(dropped.toSet == Set(0L, 2L))
    assert(fs.exists(graft.pipeline.Snapshots.versionPath(table, 1L)))
    assert(!fs.exists(graft.pipeline.Snapshots.versionPath(table, 0L)))
  }

  test("explicit-version time travel refuses an incomplete snapshot") {
    import org.apache.hadoop.fs.Path
    val local = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val dir = s"file:$local"
    val table = new Path(s"$dir/extract")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(graft.pipeline.Snapshots.versionPath(table, 3L)) // no _SUCCESS
    val e = intercept[IllegalArgumentException] {
      Pipeline.readStage(spark, dir, "extract", version = 3L)
    }
    assert(e.getMessage.contains("incomplete"))
  }

  test("corrupt JSON line becomes a failed-doc row, not a task abort") {
    import spark.implicits._
    val pages = Pages.fromDocuments(spark, "/root/testdata/sf0.001").limit(4)
    val docs = Pages.toDocs(spark, pages)
    val good = graft.pipeline.Json.toJson(docs).collect().toSeq
    // a well-formed line with one entity, and five variants that each break
    // one field: a nested number that is a string, missing or null (the
    // from_json reader aborted the task on these), sections that are not
    // an array and an unparseable timestamp (it dropped the entities or the
    // timestamp without an error)
    val wellFormed = """{"url":"https://y","warcTs":"2023-01-01T00:00:00.000Z",""" +
      """"sections":[{"name":"body","text":"EGFR","entities":[{"matchStr":"EGFR",""" +
      """"entityClass":"gene","spans":[{"start":0,"end":4}],"namespace":"t",""" +
      """"mentionConfidence":100,"matchNorm":"EGFR","candidates":[],"mappings":[]}],""" +
      """"sentenceSpans":[]}]}"""
    val malformed = Seq(
      wellFormed.replace(""""start":0""", """"start":"x""""),
      wellFormed.replace(""""start":0,""", ""),
      wellFormed.replace(""""mentionConfidence":100""", """"mentionConfidence":null"""),
      """{"url":"https://y","sections":{"name":"body","text":"EGFR"}}""",
      wellFormed.replace(""""2023-01-01T00:00:00.000Z"""", """"yesterday""""))
    assert(malformed.distinct.size == 5 && !malformed.contains(wellFormed))
    val lines = (good ++ Seq("""{"url": "https://x", "warcTs": 12, truncated""",
      wellFormed) ++ malformed).toDS()
    val back = graft.pipeline.Json.fromJson(spark, lines).collect()
    assert(back.length == good.length + 7)
    val bad = back.filter(_.error.isDefined)
    assert(bad.length == 6 && bad.forall(_.url.startsWith("corrupt-json-")))
    assert(bad.forall(d => d.error.contains("read_json: corrupt json line") &&
      d.warcTs.getTime == 0L && d.text.isEmpty && d.lang.isEmpty &&
      d.sections != null && d.sections.isEmpty))
    assert(bad.map(_.url).distinct.length == 6)
    assert(back.find(_.url == "https://y").get.entities.map(_.spans) ==
      Seq(Seq(graft.model.CharSpan(0, 4))))
    // the failed rows flow through the failure sink, and the linking stages
    // skip them instead of NPEing (the module contract: failures are ROWS)
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val linked = graft.pipeline.Json.fromJson(spark, lines)
      .mapPartitions(it => Pipeline.linkingStages(res.value)(it)).collect()
    assert(linked.count(_.error.isDefined) == 6)
    val roundTripped = back.filter(_.error.isEmpty).map(_.url).toSet
    assert(roundTripped == docs.collect().map(_.url).toSet + "https://y")
  }

  test("a hand-off line that leaves out its empty arrays links like the full line") {
    import spark.implicits._
    val norm = graft.text.Normalizer.normalize("hash join", "operator")
    val full = """{"url":"https://z","warcTs":"2023-01-01T00:00:00.000Z",""" +
      """"sections":[{"name":"body","text":"hash join","entities":[{"matchStr":"hash join",""" +
      """"entityClass":"operator","spans":[{"start":0,"end":9}],"namespace":"t",""" +
      s""""mentionConfidence":50,"matchNorm":"$norm","candidates":[],"mappings":[]}],""" +
      """"sentenceSpans":[]}]}"""
    val lean = full.replace(""","candidates":[],"mappings":[]""", "")
      .replace(""","sentenceSpans":[]""", "")
    val nulls = full.replace(""""candidates":[]""", """"candidates":null""")
      .replace(""""sentenceSpans":[]""", """"sentenceSpans":null""")
    assert(!lean.contains("candidates") && !lean.contains("sentenceSpans") &&
      nulls.contains("\"sentenceSpans\":null"))
    val res = spark.sparkContext.broadcast(Resources.corpus)
    def triples(line: String) = {
      val linked = graft.pipeline.Json.fromJson(spark, Seq(line).toDS())
        .mapPartitions(it => Pipeline.linkingStages(res.value)(it)).collect()
      assert(linked.forall(_.error.isEmpty), linked.flatMap(_.error).mkString)
      linked.toSeq.flatMap(Triples.fromDoc).toSet
    }
    val want = triples(full)
    assert(want.exists(_.url == "https://z"))
    assert(triples(lean) == want && triples(nulls) == want)
  }
}

/** Failure isolation per step: each named step in turn throws on one doc.
  * In both the fused and the checkpointed run that doc becomes exactly one
  * failure row, named after the step, and every other doc keeps the clean
  * run's triples. */
class StepIsolationSpec extends AnyFunSuite with SparkTestBase {
  import StepIsolationSpec._

  test("a step that throws on one doc fails only that doc, fused and checkpointed") {
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val pages = Pages.fromDocuments(spark, "/root/testdata/sf0.001")
      .filter(expr("cast(regexp_extract(url, '([0-9]+)$', 1) as long) < 8"))
    def triples(docs: org.apache.spark.sql.Dataset[KDoc]) =
      Triples.fromDocs(spark, docs).collect().toSet
    val (clean, _) = Pipeline.runSteps(spark, pages, res, Pipeline.Config())(allSteps)
    assert(Pipeline.failures(spark, clean, "clean").count() == 0)
    val cleanTriples = triples(clean)
    val victim = cleanTriples.map(_.url).min
    val names = allSteps(Resources.corpus).map(_.name)
    assert(names == Seq("trie_ner", "transformer_ner", "entity_splitter",
      "entity_class_disambig", "dict_linking", "class_filter", "mapping", "xref",
      "abbrev", "cleanup", "merge"))
    for (name <- names; checkpointed <- Seq(false, true)) {
      val cfg =
        if (!checkpointed) Pipeline.Config()
        else Pipeline.Config(checkpointDir = Some(
          s"file:${java.nio.file.Files.createTempDirectory("graft-iso")}"))
      val (docs, _) = Pipeline.runSteps(spark, pages, res, cfg)(throwingAt(name, victim))
      val fails = Pipeline.failures(spark, docs, "iso").collect()
      val where = s"$name, checkpointed=$checkpointed"
      assert(fails.map(f => (f.url, f.stage)).toSeq == Seq((victim, name)), where)
      assert(fails.head.error.contains(Planted), where)
      assert(triples(docs).filter(_.url != victim) == cleanTriples.filter(_.url != victim),
        where)
    }
  }

  test("a step whose open throws fails every doc at that step, fused and checkpointed") {
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val pages = Pages.fromDocuments(spark, "/root/testdata/sf0.001")
      .filter(expr("cast(regexp_extract(url, '([0-9]+)$', 1) as long) < 8"))
    val (clean, _) = Pipeline.runSteps(spark, pages, res, Pipeline.Config())(allSteps)
    val urls = clean.collect().map(_.url).sorted.toSeq
    assert(urls.nonEmpty)
    for (name <- allSteps(Resources.corpus).map(_.name); checkpointed <- Seq(false, true)) {
      val cfg =
        if (!checkpointed) Pipeline.Config()
        else Pipeline.Config(checkpointDir = Some(
          s"file:${java.nio.file.Files.createTempDirectory("graft-iso-open")}"))
      val (docs, _) = Pipeline.runSteps(spark, pages, res, cfg)(openThrowingAt(name))
      val fails = Pipeline.failures(spark, docs, "iso-open").collect()
      val where = s"$name, checkpointed=$checkpointed"
      assert(fails.map(_.url).sorted.toSeq == urls, where)
      assert(fails.forall(f => f.stage == name && f.error.contains(Planted)), where)
    }
  }
}

object StepIsolationSpec {
  val Planted = "planted step failure"

  /** Every optional step switched on, with configs inert on the corpus. */
  val allSteps: Resources => Seq[Pipeline.Step] = r => Pipeline.steps(r,
    classRules = graft.link.ClassFilter.Rules(classRules = Map("no_such_class" -> Map.empty)),
    classDisambig = SparkEntry.twoClassConfig,
    xrefs = Some(graft.link.Xref.XrefMap(Map.empty)))

  def throwingAt(name: String, victim: String): Resources => Seq[Pipeline.Step] = r =>
    allSteps(r).map { s =>
      if (s.name != name) s
      else Pipeline.Step(name, () => {
        val f = s.open()
        d => if (d.url == victim) throw new IllegalStateException(Planted) else f(d)
      })
    }

  def openThrowingAt(name: String): Resources => Seq[Pipeline.Step] = r =>
    allSteps(r).map { s =>
      if (s.name != name) s
      else Pipeline.Step(name, () => throw new IllegalStateException(Planted))
    }
}

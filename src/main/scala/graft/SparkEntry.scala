package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.index.Resources
import graft.ontology.CorpusOntology
import graft.pipeline.{Pages, Pipeline}
import graft.triples.Triples
import graft.tdp.{Ann, Dedup, Multimodal, TextStats}
import graft.util.CacheRegistry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 that is implemented has a `queries`
  * entry; SQL-expressible ones also carry a DuckDB oracle in [[oracleSql]]
  * (same column names, same ordering, integer/cent-based aggregates for
  * bit-exact cross-engine parity).
  */
object SparkEntry {

  // ---- shared helpers -----------------------------------------------------

  /** The bundle's broadcast, memoized per (session, bundle): resources are
    * write-once/read-many, so re-broadcasting the bundle (trie + payloads +
    * candidate/metadata columns, the reference's model-pack analogue) on
    * every query call would re-serialize and re-ship megabytes per run — on
    * a 1000-executor cluster that is a full fleet re-distribution per query,
    * and in the bench it was the prime suspect for a phantom per-run
    * regression. The bundle itself is the key (`Resources.equals`: every
    * column, the classes and the version; the production bundles are
    * lazy-val singletons, so the lookup is an `eq`), so a different bundle
    * always gets its own broadcast. */
  private[graft] def broadcastResources(spark: SparkSession, res: Resources) =
    CacheRegistry.memo(spark, res)(spark.sparkContext.broadcast(res))

  private def resources(spark: SparkSession) =
    broadcastResources(spark, Resources.corpus)

  /** Full KG pipeline docs for a scale-factor dir (no checkpointing in
    * driver-run queries; checkpoint/resume is exercised by PipelineSpec and
    * the spark-submit mains). Persisted AND memoized per (session, dir):
    * every downstream query ends in an orderBy whose range-partitioner
    * SAMPLING pass would otherwise recompute the whole pipeline (incl.
    * transformer inference) a second time, and the several kg_* queries of
    * one Verify/Bench session share a single materialization instead of
    * each holding its own corpus-sized cache until session end. */
  private def pipelineDocs(spark: SparkSession, sfDir: String) =
    CacheRegistry.memo(spark, ("pipelineDocs", sfDir)) {
      val pages = Pages.fromDocuments(spark, sfDir)
      val (docs, _) = Pipeline.run(spark, pages, resources(spark))
      docs.persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** One triple-assembly pass per (session, dir): every triple-derived query
    * (dump, agg, graph stats, co-occurrence) reads this persisted table
    * instead of re-running the assembly flatMap over the persisted docs.
    * At 100 TB the production shape is write-once/read-many (the pipeline
    * publishes a triples snapshot and the aggregates read it); in the
    * driver-run queries this persist is that snapshot's stand-in. */
  private def pipelineTriples(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.memo(spark, ("pipelineTriples", sfDir)) {
      Triples.fromDocs(spark, pipelineDocs(spark, sfDir)).toDF()
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** One trie-only pipeline pass per (session, dir) (withTransformerNer =
    * false): the "previous crawl's pipeline" side of kg_acceptance_corpus.
    * Much cheaper than the full pipeline (no transformer inference) and
    * read by every bench repeat of the comparison row, so it persists
    * exactly like [[pipelineTriples]]. */
  private def trieOnlyTriples(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.memo(spark, ("trieOnlyTriples", sfDir)) {
      val pages = Pages.fromDocuments(spark, sfDir)
      val (docs, _) = Pipeline.run(spark, pages, resources(spark),
        withTransformerNer = false)
      Triples.fromDocs(spark, docs).toDF()
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Scale-adaptive scan spread (optimization guide §2.2/§6 — r8). A small
    * scale factor arrives as ONE parquet split, so every narrow per-doc
    * stage downstream (Gopher rules, PNG codec, mutation NER, minhash...)
    * ran on a single core: the r8 profile measured gopher_repetition as 3
    * jobs / 3 tasks with 1.7 s of task time on one task at local[32].
    * When the scan yields fewer partitions than the session's parallelism,
    * round-robin repartition to defaultParallelism (REPARTITION_BY_NUM —
    * AQE never coalesces a user-specified partition count; a hash exchange
    * on doc_id could collide hot). At production scale (splits >> cores)
    * this is a NO-OP — no exchange is added — so the shipped plan shape is
    * unchanged where it matters and the bench stops measuring a one-core
    * serialization artifact. */
  private[graft] def spreadScan(s: SparkSession, df: DataFrame): DataFrame = {
    val want = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  private def docsDf(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** [[docsDf]] + [[spreadScan]] — ONLY for queries whose downstream is a
    * CPU-heavy narrow per-doc stage (codec decode, mutation regexes, n-gram
    * rule families, window hashing): there the one-split serialization
    * dominates and the r8 A/B measured 2-4x. For cheap narrow/shuffle
    * queries the added exchange + extra map tasks measurably LOSE time at
    * this scale (r8 full-suite A/B: +0.1-0.9 s each), so they stay on the
    * plain scan. */
  private def docsDfSpread(s: SparkSession, dir: String): DataFrame =
    spreadScan(s, docsDf(s, dir))

  /** The four planted URL surface forms per 4-doc logical page — ONE
    * definition shared by url_canonical and dedup_url_text (the fixture
    * must stay byte-identical across both rows and their oracle CASE
    * tables). */
  private def plantedUrl: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat(lit("https://"),
      when(col("doc_id") % 5 === 0, lit("GRAFT.Test")).otherwise(lit("graft.test")),
      lit("/doc/"), floor(col("doc_id") / 4).cast("long").cast("string"),
      when(col("doc_id") % 4 === 0, lit("?utm_source=feed&b=2&a=1"))
        .when(col("doc_id") % 4 === 1, lit("?b=2&a=1#frag"))
        .when(col("doc_id") % 4 === 2, lit(""))
        .otherwise(lit("?a=1&utm_campaign=x")))
  }

  /** The synthesized eval corpus for the decontamination rows — ONE
    * definition shared by decontaminate and decontaminate_sharded. */
  private def decontaminationBench(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.filter(col("doc_id") % 50 === 0)
      .select(slice(split(col("text"), " "), 5, 21).as("w"))
      .filter(size(col("w")) === 21)
      .select(concat_ws(" ", col("w")).as("bench_text"))
  }

  /** 4×6-word boilerplate banner planted as a corpus-wide PARAGRAPH in the
    * multi-line corpus (the CCNet cookie-banner shape, now with real '\n'
    * structure). */
  private val NlBannerLines = Seq(
    "cookie notice accept our terms and",
    "privacy policy before continuing to read",
    "this page content here now ok",
    "fine yes please do thank you")

  /** Multi-line corpus derivation (round-6: prove the '\n'-split
    * line/paragraph path, not just the 8-word-chunk fallback): rebuild each
    * doc's text with real newline structure — '\n' before every 6th word,
    * '\n\n' before every 24th — then plant (a) the corpus-wide banner
    * paragraph on every 3rd doc, (b) a duplicate of the doc's first line on
    * every 4th, (c) a duplicate of its first paragraph on every 10th, so
    * the duplicate-line/paragraph rules and corpus-wide paragraph dedup all
    * measure non-trivially over genuine newline boundaries. Replayed
    * word-for-word by the SQL in `nlDocsSource`. */
  private def newlineDocs(s: SparkSession, dir: String,
      spread: Boolean = false): DataFrame = {
    import s.implicits._
    val banner = NlBannerLines.mkString("\n")
    (if (spread) docsDfSpread(s, dir) else docsDf(s, dir))
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) =>
        val words = t.split(" ", -1)
        val sb = new StringBuilder
        if (id % 3 == 0) sb.append(banner).append("\n\n")
        var j = 0
        while (j < words.length) {
          if (j > 0)
            sb.append(if (j % 24 == 0) "\n\n" else if (j % 6 == 0) "\n" else " ")
          sb.append(words(j))
          j += 1
        }
        def seg(a: Int, b: Int) = words.slice(a, b).mkString(" ")
        if (id % 4 == 0) sb.append('\n').append(seg(0, 6))
        if (id % 10 == 0) sb.append("\n\n").append(seg(0, 6)).append('\n')
          .append(seg(6, 12)).append('\n').append(seg(12, 18)).append('\n')
          .append(seg(18, 24))
        (id, sb.toString)
      }.toDF("doc_id", "text")
  }

  /** One banner LINE of three ≥5-word sentences — planted on every 6th doc
    * so the C4 three-sentence dedup sees a corpus-hot window and the line
    * filters see a well-formed line. */
  private val C4BannerLine =
    "subscribe to our newsletter for updates today. " +
      "follow us on social media channels now. " +
      "download our free mobile app here today."

  /** Sentence-structured corpus derivation for the C4 rules (the base
    * corpus has NO punctuation, like the newline case): every 8 words form
    * a sentence (mark cycles . . . ? . ! . by sentence index mod 7), every
    * 2 sentences form a line, then deterministic hazard lines are planted —
    * banner (id%6), self-duplicate first-3-sentences (id%9), a
    * no-terminal-punctuation line (id%2), a <5-word line (id%5), a
    * javascript line (id%11), "lorem ipsum" (id%37), a curly brace (id%41),
    * a blocklist word (id%43). Replayed word-for-word by `c4DocsSource`. */
  private def c4Docs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfSpread(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) =>
        val words = t.split(" ", -1)
        def mark(j: Int) = if (j % 7 == 3) "?" else if (j % 7 == 5) "!" else "."
        val nSent = (words.length + 7) / 8
        val sent = Array.tabulate(nSent)(j =>
          words.slice(8 * j, 8 * j + 8).mkString(" ") + mark(j))
        val nLine = (nSent + 1) / 2
        val lines = scala.collection.mutable.ArrayBuffer.tabulate(nLine)(k =>
          sent.slice(2 * k, 2 * k + 2).mkString(" "))
        if (id % 6 == 0) lines.prepend(C4BannerLine)
        if (id % 9 == 0 && nSent >= 3) lines += sent.take(3).mkString(" ")
        if (id % 2 == 0) lines += "no terminal punctuation on this line here"
        if (id % 5 == 0) lines += "too short line."
        if (id % 11 == 0) lines += "please enable javascript to view this page."
        if (id % 37 == 0) lines += "lorem ipsum dolor sit amet here friends."
        if (id % 41 == 0) lines += "config { } braces block removed today."
        if (id % 43 == 0) lines += "win big at the casino tonight friends."
        (id, lines.mkString("\n"))
      }.toDF("doc_id", "text")
  }

  /** DuckDB replay of [[c4Docs]] (yields (doc_id, text)). */
  private val c4DocsSource: String = {
    s"""SELECT doc_id,
       |  array_to_string(
       |      CASE WHEN doc_id % 6 = 0 THEN ['$C4BannerLine'] ELSE [] END
       |      || lns
       |      || CASE WHEN doc_id % 9 = 0 AND len(snt) >= 3
       |           THEN [array_to_string(snt[1:3], ' ')] ELSE [] END
       |      || CASE WHEN doc_id % 2 = 0
       |           THEN ['no terminal punctuation on this line here'] ELSE [] END
       |      || CASE WHEN doc_id % 5 = 0 THEN ['too short line.'] ELSE [] END
       |      || CASE WHEN doc_id % 11 = 0
       |           THEN ['please enable javascript to view this page.'] ELSE [] END
       |      || CASE WHEN doc_id % 37 = 0
       |           THEN ['lorem ipsum dolor sit amet here friends.'] ELSE [] END
       |      || CASE WHEN doc_id % 41 = 0
       |           THEN ['config { } braces block removed today.'] ELSE [] END
       |      || CASE WHEN doc_id % 43 = 0
       |           THEN ['win big at the casino tonight friends.'] ELSE [] END,
       |    chr(10)) AS text
       |FROM (
       |  SELECT doc_id, snt,
       |         [array_to_string(snt[2*k+1 : 2*k+2], ' ')
       |          for k in generate_series(0, CAST(ceil(len(snt)/2.0) AS INT) - 1)] AS lns
       |  FROM (
       |    SELECT doc_id,
       |           [array_to_string(w[8*j+1 : 8*j+8], ' ') ||
       |              CASE WHEN j % 7 = 3 THEN '?'
       |                   WHEN j % 7 = 5 THEN '!' ELSE '.' END
       |            for j in generate_series(0, CAST(ceil(len(w)/8.0) AS INT) - 1)] AS snt
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))""".stripMargin
  }

  /** The decontamination oracle (shared verbatim by `decontaminate` and
    * `decontaminate_sharded` — the two engine paths must be byte-identical). */
  private val decontaminateOracle: String =
    """WITH bench AS (
      |  SELECT string_split(text, ' ')[5:25] AS w
      |  FROM documents
      |  WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 25),
      |bgrams AS (
      |  SELECT DISTINCT unnest([array_to_string(w[i : i+12], ' ')
      |                          for i in generate_series(1, 9)]) AS ngram
      |  FROM bench),
      |docw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dgrams AS (
      |  SELECT DISTINCT doc_id,
      |         unnest([array_to_string(w[i : i+12], ' ')
      |                 for i in generate_series(1, greatest(len(w) - 12, 0))]) AS ngram
      |  FROM docw),
      |hits AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
      |  FROM dgrams JOIN bgrams USING (ngram) GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated_ngrams,
      |       coalesce(h.n, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** DuckDB replay of [[newlineDocs]] (yields (doc_id, text)).
    * array_to_string of an EMPTY list is NULL in DuckDB (Scala mkString is
    * "") — every segment is coalesced so a short doc's out-of-range slice
    * contributes an empty string on both engines. */
  private val nlDocsSource: String = {
    val bannerSql = NlBannerLines.map(l => s"'$l'").mkString(" || chr(10) || ")
    def seg(lo: Int, hi: Int) = s"coalesce(array_to_string(w[$lo:$hi], ' '), '')"
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN $bannerSql || chr(10) || chr(10) ELSE '' END
       |  || array_to_string([CASE WHEN i = 1 THEN w[i]
       |       WHEN (i-1) % 24 = 0 THEN chr(10) || chr(10) || w[i]
       |       WHEN (i-1) % 6 = 0 THEN chr(10) || w[i]
       |       ELSE ' ' || w[i] END for i in generate_series(1, len(w))], '')
       |  || CASE WHEN doc_id % 4 = 0
       |       THEN chr(10) || ${seg(1, 6)} ELSE '' END
       |  || CASE WHEN doc_id % 10 = 0
       |       THEN chr(10) || chr(10) || ${seg(1, 6)}
       |            || chr(10) || ${seg(7, 12)}
       |            || chr(10) || ${seg(13, 18)}
       |            || chr(10) || ${seg(19, 24)} ELSE '' END AS text
       |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)""".stripMargin
  }

  /** Force the shared per-session materializations (pipeline docs +
    * assembled triples) so benchmarks can price the one-time
    * write-once/read-many cost separately from the queries that read it. */
  def materializeShared(spark: SparkSession, sfDir: String): Unit = {
    pipelineTriples(spark, sfDir).count()
    // the trie-only comparison pipeline is also write-once/read-many
    // (kg_acceptance_corpus's gold side): billing its one-time build to
    // that query's first timed run would re-create exactly the
    // materialization/per-query conflation materialize_sec exists to avoid
    trieOnlyTriples(spark, sfDir).count()
    ()
  }

  // ---- strategy-isolation harness (E10/E11/E13/E16 driver-oracle rows) ----

  /** A runner whose ONLY route to a mapping is `strategy` succeeding: one
    * ExactMatch rung carrying the single disambiguation strategy, marked
    * essential, registered at every mention-confidence level for both the
    * symbolic and non-symbolic folds — so a green oracle row proves that
    * exact strategy (and nothing else) resolved the planted mention. */
  private def isolatedRunner(
      strategy: () => graft.link.DisambiguationStrategy): graft.link.StrategyRunner = {
    import graft.link._
    def exec = ConfidenceLevelExecution(
      Map.empty,
      Seq(new ExactMatchMapping(graft.model.StringMatchConfidence.HighlyLikely,
        Seq(strategy()), disambiguationEssential = true)),
      stopOnSuccess = true)
    val m = Map(
      graft.model.MentionConfidence.HighlyLikely -> exec,
      graft.model.MentionConfidence.Probable -> exec,
      graft.model.MentionConfidence.Possible -> exec)
    StrategyRunner(m, m)
  }

  /** Sliced + suffixed full-pipeline run → suffix-region triples: the shared
    * shape of kg_abbrev / kg_disambig, factored for the per-strategy rows.
    * No transformer pass — the strategies under test live strictly
    * downstream of NER, the planted mentions are gazetteer matches, and
    * skipping C2 removes the dominant duplicate-inference cost of running a
    * second full pipeline per query. */
  private def suffixedTriples(
      s: SparkSession, dir: String, residue: Int, suffix: String,
      res: Resources, runner: graft.link.StrategyRunner,
      classDisambig: graft.link.EntityClassDisambiguation.Config =
        graft.link.EntityClassDisambiguation.Config(Map.empty),
      xrefs: Option[graft.link.Xref.XrefMap] = None
  ): DataFrame = {
    import s.implicits._
    // r8: doc_id filter on the scan (html never synthesized for dropped
    // docs) + the length lens from the raw scan instead of a second
    // synth pass — see Pages.fromDocuments docIdResidue
    val pages0 = Pages.fromDocuments(s, dir, docIdResidue = Some((5, residue)))
    val pages = pages0.withColumn("text", concat($"text", lit(suffix)))
    val withHtml = pages.select($"url", $"warc_ts",
      to_binary(concat(lit("<html><body><p>"), $"text", lit("</p></body></html>")),
        lit("utf-8")).as("html"),
      $"text", $"lang")
    // E17 xref expansion rides Pipeline.run's mapping post-processing
    // (selectable step, as the reference's CrossReferenceManager is)
    val (docs0, _) = Pipeline.run(s, withHtml, broadcastResources(s, res),
      runner = runner, withTransformerNer = false,
      classDisambig = classDisambig, xrefs = xrefs)
    // per-call persist (each strategy row runs its own sliced pipeline);
    // released by the bench/verify drivers via CacheRegistry once the
    // returned plan has materialized
    val docs = CacheRegistry.register(
      docs0.persist(StorageLevel.MEMORY_AND_DISK))
    val lens = docsDf(s, dir).filter($"doc_id" % 5 === residue)
      .select(concat(lit("https://graft.test/doc/"), $"doc_id").as("url"),
        length($"text").as("orig_len"))
    Triples.fromDocs(s, docs).toDF()
      .join(lens, "url")
      .filter($"start" >= $"orig_len")
      .select($"url", $"start", $"end", $"pred", $"obj",
        $"matchStr".as("match"))
      .orderBy($"url", $"start", $"obj")
  }

  /** E10 planted Gilda contexts: invented words absent from the corpus, so
    * the whole-document Gilda vector contains EXACTLY the suffix's one
    * context word — dot(doc, OP:FILTER-context) ≈ 0.707 vs 0.0 for OP:SORT,
    * clearing the 0.01 runner-up delta deterministically. */
  private[graft] val plantedGildaContexts: Map[(String, String), String] = Map(
    (CorpusOntology.OpsParser, "OP:FILTER") -> "zzqpred zzqsieve",
    (CorpusOntology.OpsParser, "OP:SORT") -> "zzqorder zzqrank")
  private[graft] lazy val plantedGildaScorer: graft.link.GildaScorer =
    graft.link.GildaScorer.forContexts(plantedGildaContexts)

  /** E11 resources: the corpus ontology with an `annotation_score` planted on
    * OP:SORT — the popularity prior AnnotationLevelDisambiguation reads. */
  private lazy val annotScoreResources: Resources = {
    import graft.ontology._
    val (cands, meta) = ResourceBuild.buildCandidates(CorpusOntology.rows)
    val meta2 = meta.map(m =>
      if (m.idx == "OP:SORT") m.copy(extras = Map("annotation_score" -> "5")) else m)
    val strRes = ResourceBuild.defaultResources(cands,
      CorpusOntology.entityClassOf, CorpusOntology.CommonWords)
    Resources.assemble(
      CorpusOntology.rows.map(_.parserName).distinct
        .map(p => p -> CorpusOntology.entityClassOf(p)).toMap,
      cands, meta2, strRes, "synthetic-ontology/1+annot")
  }

  /** E13 resources: "FILTERX" is a planted symbolic ambiguous synonym of
    * {OP:SORT}, {OP:FILTER} whose MiniBern embedding is decisively nearer
    * the default label "filter" (cos ≈ 0.72) than "sort" (≈ −0.10) —
    * margin pinned by SimilaritySpec. Absent from all corpus text. */
  private lazy val embedLabelResources: Resources = {
    import graft.ontology._
    val extra = Seq(
      OntologyRow(CorpusOntology.OpsParser, "operator", "OP:SORT", "sort", "FILTERX", "exactSyn"),
      OntologyRow(CorpusOntology.OpsParser, "operator", "OP:FILTER", "filter", "FILTERX", "exactSyn"))
    Resources.build(CorpusOntology.rows ++ extra, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords, "synthetic-ontology/1+filterx")
  }

  /** E16 resources: "pane" and "vane" exist in BOTH parsers (operator and
    * component classes) with identical spans — the span-identical
    * multi-class shape EntityClassDisambiguation resolves. */
  private[graft] lazy val twoClassResources: Resources = {
    import graft.ontology._
    val extra = Seq(
      OntologyRow(CorpusOntology.OpsParser, "operator", "OP:PANE", "pane", "pane", "exactSyn"),
      OntologyRow(CorpusOntology.SysParser, "component", "SYS:PANE", "pane", "pane", "exactSyn"),
      OntologyRow(CorpusOntology.OpsParser, "operator", "OP:VANE", "vane", "vane", "exactSyn"),
      OntologyRow(CorpusOntology.SysParser, "component", "SYS:VANE", "vane", "vane", "exactSyn"))
    Resources.build(CorpusOntology.rows ++ extra, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords, "synthetic-ontology/1+twoclass")
  }

  /** The three planted per-strategy harnesses, exposed for the
    * ladder-parity exporter ([[LadderExport]] replays them through the
    * REFERENCE's own strategy classes): (slice residue, suffix, resources,
    * isolated runner). */
  private[graft] def plantedHarness(mode: String)
      : (Int, String, Resources, graft.link.StrategyRunner) = mode match {
    case "gilda" => (1, " XSF zzqpred.", Resources.corpus,
      isolatedRunner(() => new graft.link.GildaTfIdfDisambiguation(
        graft.model.DisambiguationConfidence.Probable,
        explicitScorer = Some(plantedGildaScorer))))
    case "annotation" => (2, " XSF wins.", annotScoreResources,
      isolatedRunner(() => new graft.link.AnnotationLevelDisambiguation(
        graft.model.DisambiguationConfidence.Possible)))
    case "embed" => (3, " FILTERX wins.", embedLabelResources,
      isolatedRunner(() => new graft.link.PreferNearestEmbeddingToDefaultLabel(
        graft.model.DisambiguationConfidence.Possible)))
    case m => sys.error(s"unknown planted mode $m")
  }

  /** Non-negative residue of a (possibly negative) doc_id — the planted-row
    * selector shared by the kg_opsin / kg_spacy_ner / kg_stanza_sentences
    * fixtures (the oracle side computes doc_id % k on non-negative ids, so
    * both sides agree; the double-mod only matters defensively). */
  private def plantResidue(n: Long, k: Int): Int = ((n % k) + k).toInt % k

  /** C9-chemistry planted IUPAC names — ONE definition shared by the
    * kg_opsin query and its oracle CASE table. Index = doc_id % 5;
    * (name, expected SMILES in [[graft.ner.OpsinNer.MiniIupacResolver]]'s
    * normal form). The last entry is deliberately OUTSIDE the resolver
    * grammar (the reference's own unparseable example family) → no row.
    * "Cyclohexane" exercises case-insensitivity, "butan-3-amine" the
    * mirror-locant canonicalization (≡ butan-2-amine). */
  private[graft] val opsinPlantedNames: Vector[(String, String)] = Vector(
    ("methane", "C"),
    ("Cyclohexane", "C1CCCCC1"),
    ("propan-1-ol", "C(O)CC"),
    ("butan-3-amine", "CC(N)CC"),
    ("dianhydro-glucitol", ""))

  /** C8 planted ruler sentences — ONE definition shared by the
    * kg_spacy_ner query (both the appended text and the EntityRuler
    * patterns) and its oracle CASE table. Index = doc_id % 3;
    * (sentence body, gazetteer phrase at body offset 0, UPPERCASE label —
    * the step must lowercase it). Docs append ". " + body, so the body
    * always starts a fresh sentence at code-point length(text) + 2. */
  private[graft] val spacyPlantedSents: Vector[(String, String, String)] = Vector(
    ("zzqaspirin helps.", "zzqaspirin", "DRUG"),
    ("zzqbreast zzqcancer ward.", "zzqbreast zzqcancer", "DISEASE"),
    ("zzqEGFR rose fast.", "zzqEGFR", "GENE"))

  /** C10 planted tails — ONE definition shared by kg_stanza_sentences and
    * its oracle CASE table. Index = doc_id % 3: residues 0/1 append
    * ". " + tail and emit the token-derived span of every sentence fully
    * inside the tail (tail 1 is UNTERMINATED with trailing spaces — the
    * stanza span ends at its last TOKEN, which is the semantics the oracle
    * pins); residue 2 instead PRE-SETS sentence spans, so the write-once
    * setter contract routes the doc to the failure path → an error row.
    * The expected spans (relative to the ". " + tail string) are LITERAL
    * hand-derived constants, deliberately NOT computed by the stand-in
    * pipeline — the oracle must stay independent of the tokenizer so a
    * segmentation regression fails the driver gate instead of shifting
    * both sides in lockstep; StanzaSpec asserts the pipeline reproduces
    * exactly these literals. */
  private[graft] val stanzaPlantedTails: Vector[(String, Seq[(Int, Int)])] = Vector(
    ("Zq alpha. Beta gamma!  ", Seq((2, 11), (12, 23))),
    ("Zz one two three  ", Seq((2, 18))),
    ("", Seq.empty))

  /** E17 planted xref map — the kg_xref oracle row AND the reference-code
    * parity replay (tools/xref_parity.py) share this one definition. One
    * metadata parser per target SOURCE, as the reference's
    * source_to_parser_metadata_lookup models it. */
  private[graft] val plantedXrefMap: graft.link.Xref.XrefMap =
    graft.link.Xref.XrefMap(Map(
      ("OP", "OP:FILTER") -> Seq(
        graft.link.Xref.XrefTarget("xref_meta", "XREF", "XREF:XFILTER", "xfilter"),
        graft.link.Xref.XrefTarget("xref2_meta", "XR2", "XR2:FILTER", "xfilter2")),
      ("SYS", "SYS:SPARK") -> Seq(
        graft.link.Xref.XrefTarget("xref_meta", "XREF", "XREF:XSPARK", "xspark"))))

  /** E16 config: "pane" has an operator context corpus containing the
    * suffix's context word (score 1.0 ≥ 0.5) while the component context
    * never matches (0.0 < 0.5) → operator wins, the component mention is
    * dropped; NEITHER of "vane"'s class contexts matches → both dropped. */
  private[graft] lazy val twoClassConfig: graft.link.EntityClassDisambiguation.Config = {
    import graft.link.EntityClassDisambiguation._
    Config(Map(
      "pane" -> Seq(
        DisambiguationEntry("operator", Seq("zzwop"), 0.5),
        DisambiguationEntry("component", Seq("zzwcomp"), 0.5)),
      "vane" -> Seq(
        DisambiguationEntry("operator", Seq("zzwnever"), 0.5),
        DisambiguationEntry("component", Seq("zzwnope"), 0.5))))
  }

  /** Filesystem path of a committed fixture for oracle SQL (DuckDB runs
    * driver-side against real files). Override the repo root for checkouts
    * not rooted at the driver default. */
  private def fixturePath(name: String): String =
    s"${sys.env.getOrElse("GRAFT_REPO_ROOT", "/root/repo")}/src/test/resources/$name"


  // ---- driver contract ----------------------------------------------------

  /** Flagship: full KG construction on sf0.001 — pages → trie NER → mapping
    * ladder → abbreviation → cleanup → overlap merge → (subj, pred, obj). */
  def entry(spark: SparkSession): DataFrame =
    pipelineTriples(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- KG pipeline ------------------------------------------------------
    "kg_extract_text" -> ((s, dir) => {
      import s.implicits._
      val pages = Pages.fromDocuments(s, dir)
      Pages.toDocs(s, pages)
        .filter(_.error.isEmpty)
        .map(d => (d.url, d.text))
        .toDF("url", "text")
        .select($"url", md5(to_binary($"text", lit("utf-8"))).as("text_md5"),
          length($"text").cast("long").as("n_chars"))
        .orderBy($"url")
    }),
    "kg_ner_mentions" -> ((s, dir) => {
      import s.implicits._
      val res = resources(s)
      // spread=true: the whole-corpus trie scan is the heavy narrow stage
      // this row measures — serialized on one core without it (r8)
      val pages = Pages.fromDocuments(s, dir, spread = true)
      Pages.toDocs(s, pages)
        .flatMap { d =>
          if (d.error.isDefined) Iterator.empty
          else d.sections.iterator.flatMap(sec =>
            graft.ner.TrieNer.matchText(res.value, sec.text)
              .map(m => (d.url, m.matchStr, m.entityClass)))
        }
        .toDF("url", "match", "entity_class")
        .groupBy($"match", $"entity_class")
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct($"url").as("n_docs"))
        .orderBy($"match", $"entity_class")
    }),
    "kg_triples_agg" -> ((s, dir) => {
      import s.implicits._
      // NO exclusion list (rounds 1-2 excluded ambiguous/model-vocab objs):
      // the full-dump oracle derivation covers every (pred, obj) slice
      pipelineTriples(s, dir)
        .groupBy($"pred", $"obj")
        .agg(count(lit(1)).as("n_mentions"))
        .orderBy($"pred", $"obj")
    }),
    "kg_normalize_vocab" -> ((s, dir) => {
      import s.implicits._
      // the native Catalyst normalize expression over the corpus vocabulary
      // (whole-stage codegen'd; no UDF); oracle = a fixture produced by
      // executing the REFERENCE normalizer (see oracleSql), and kernel
      // parity is additionally pinned by 8000+ reference-generated
      // fixtures in NormalizerSpec
      graft.functions.GraftFunctions.register(s)
      docsDf(s, dir)
        .select(explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .distinct()
        .selectExpr("word",
          "graft_normalize(word, 'unknown') AS syn_norm",
          "graft_classify_symbolic(word, 'unknown') AS is_symbolic")
        .orderBy($"word")
    }),
    "kg_graph_stats" -> ((s, dir) => {
      import s.implicits._
      // salted two-phase aggregation over the triples table — the explicit
      // hot-entity-skew defense; must produce numbers identical to the
      // plain group-by oracle
      val triples = pipelineTriples(s, dir) // no exclusions (round 3)
      graft.triples.GraphStats.saltedObjectCounts(s, triples)
    }),
    "kg_cooccurrence" -> ((s, dir) => {
      import s.implicits._
      // entity co-occurrence edges: the graph-materialization aggregate.
      // Per-doc distinct objs are capped (top-N by mention count) before the
      // url-keyed self-join so a pathological page cannot emit k^2/2 pairs;
      // the cap (64) exceeds the whole ontology size, so on this corpus no
      // row is dropped and the oracle stays exact (GraphStats + SCALE.md §3)
      val triples = pipelineTriples(s, dir) // no exclusions (round 3)
      graft.triples.GraphStats.cooccurrenceEdges(s, triples)
    }),
    "kg_abbrev" -> ((s, dir) => {
      import s.implicits._
      // Schwartz–Hearst end-to-end with exactly computable offsets: append
      // a deterministic abbreviation-definition suffix to every document,
      // run the FULL pipeline, emit the AbbreviationFinder-namespace
      // triples. The suffix defines "hash join (HJ)" then reuses "HJ", so
      // each doc must yield exactly two HJ mentions mapped to OP:HASH_JOIN
      // at offsets len(text)+12 and len(text)+22.
      // bounded doc slice (same predicate in the oracle): this query runs a
      // SECOND full pipeline over suffix-modified text that cannot share the
      // memoized docs, so restricting both sides keeps the oracle exact
      // while cutting the duplicate inference pass to a fifth
      val pages = Pages.fromDocuments(s, dir, docIdResidue = Some((5, 0)))
        .withColumn("text",
          concat($"text", lit(" hash join (HJ) wins. HJ is used.")))
      val pagesWithHtml = pages.select(
        $"url", $"warc_ts",
        // re-derive html so extraction stays byte-identical
        to_binary(concat(lit("<html><body><p>"), $"text", lit("</p></body></html>")),
          lit("utf-8")).as("html"),
        $"text", $"lang")
      val (docs0, _) = Pipeline.run(s, pagesWithHtml, resources(s))
      val docs = CacheRegistry.register(
        docs0.persist(StorageLevel.MEMORY_AND_DISK))
      Triples.fromDocs(s, docs).toDF()
        .filter($"namespace" === "AbbreviationFinder")
        .select($"url", $"start", $"end", $"pred", $"obj",
          $"matchStr".as("match"))
        .orderBy($"url", $"start")
    }),
    "kg_disambig" -> ((s, dir) => {
      import s.implicits._
      // Oracles the disambiguation ladder itself, with NO exclusion list
      // (r1 VERDICT next-round #3): a deterministic suffix appends (a) the
      // unambiguous definer "filter", (b) the genuinely ambiguous symbol
      // "XSF" — two EquivalentIdSets {OP:SORT}/{OP:FILTER} — which
      // DefinedElsewhereInDocument (E8) must narrow to OP:FILTER because
      // only FILTER is defined elsewhere in the doc, and (c) "scan", whose
      // MERGED_AS_NON_SYMBOLIC single id set emits both scan ids with
      // disambiguation_not_required (faithful reference semantics for
      // non-symbolic ambiguity). Docs containing "sort" are excluded by
      // the same regex on both sides — there OP:SORT would legitimately
      // remain defined-elsewhere too and XSF would stay ambiguous.
      // bounded doc slice, same rationale (and predicate) as kg_abbrev
      val pages0 = Pages.fromDocuments(s, dir, docIdResidue = Some((5, 0)))
        .filter(!$"text".rlike("(?i)\\bsort\\b"))
      val pages = pages0.withColumn("text",
        concat($"text", lit(" filter wins. XSF wins. scan ends.")))
      val withHtml = pages.select($"url", $"warc_ts",
        to_binary(concat(lit("<html><body><p>"), $"text", lit("</p></body></html>")),
          lit("utf-8")).as("html"),
        $"text", $"lang")
      val (docs0, _) = Pipeline.run(s, withHtml, resources(s))
      val docs = CacheRegistry.register(
        docs0.persist(StorageLevel.MEMORY_AND_DISK))
      val lens = pages0.select($"url", length($"text").as("orig_len"))
      Triples.fromDocs(s, docs).toDF()
        .join(lens, "url")
        .filter($"start" >= $"orig_len")
        .select($"url", $"start", $"end", $"pred", $"obj",
          $"matchStr".as("match"))
        .orderBy($"url", $"start", $"obj")
    }),
    "kg_triples" -> ((s, dir) => {
      import s.implicits._
      pipelineTriples(s, dir)
        .select($"subj", $"pred", $"obj", $"confidence", $"namespace",
          $"matchStr".as("match"), $"start", $"end", $"url")
        .orderBy($"url", $"start", $"end", $"pred", $"obj")
    }),
    // ---- per-strategy driver oracles (E10/E11/E13/E16) --------------------
    "kg_gilda_disambig" -> ((s, dir) =>
      // E10: the ambiguous symbol XSF + a context word only OP:FILTER's
      // planted Gilda context contains; the isolated ladder gives the
      // GildaTfIdf strategy (exact 0.01 runner-up delta semantics) the only
      // route to a mapping
      suffixedTriples(s, dir, 1, " XSF zzqpred.", Resources.corpus,
        isolatedRunner(() => new graft.link.GildaTfIdfDisambiguation(
          graft.model.DisambiguationConfidence.Probable,
          explicitScorer = Some(plantedGildaScorer))))),
    "kg_annotation_prior" -> ((s, dir) =>
      // E11: XSF again, but resolution comes from the annotation_score
      // popularity prior planted on OP:SORT (5 vs absent=0)
      suffixedTriples(s, dir, 2, " XSF wins.", annotScoreResources,
        isolatedRunner(() => new graft.link.AnnotationLevelDisambiguation(
          graft.model.DisambiguationConfidence.Possible)))),
    "kg_embed_default_label" -> ((s, dir) =>
      // E13: planted symbolic synonym FILTERX resolves to the id whose
      // default-label MiniBern embedding is nearest the mention
      suffixedTriples(s, dir, 3, " FILTERX wins.", embedLabelResources,
        isolatedRunner(() => new graft.link.PreferNearestEmbeddingToDefaultLabel(
          graft.model.DisambiguationConfidence.Possible)))),
    "kg_entity_class_disambig" -> ((s, dir) =>
      // E16: span-identical two-class mentions; sentence-context tf-idf
      // keeps pane→operator (context word present), drops pane→component,
      // and drops BOTH vane classes (no context clears its threshold)
      suffixedTriples(s, dir, 4, " pane zzwop waits. vane rests.",
        twoClassResources, graft.link.Ladders.default,
        classDisambig = twoClassConfig)),
    "kg_xref" -> ((s, dir) =>
      // E17 CrossReferenceManager: a planted OXO-style xref map expands the
      // suffix's two unambiguous mentions into xref'd-ontology mappings —
      // OP:FILTER fans out to TWO targets (multi-target expansion),
      // SYS:SPARK to one — so each sliced doc emits exactly 5 suffix-region
      // triples (2 original + 3 expanded) at offsets derived from the
      // original text length
      suffixedTriples(s, dir, 0, " filter spark.", Resources.corpus,
        graft.link.Ladders.default,
        xrefs = Some(SparkEntry.plantedXrefMap))),
    "kg_mutations" -> ((s, dir) => {
      import s.implicits._
      // C9 SETH mutation NER as a driver row: every doc gets a deterministic
      // suffix planting one mention of each asked family — nucleotide
      // substitution, deletion, insertion, protein substitution, frameshift,
      // a dbSNP id, and a parenthesized "(p.X123Y)" literature form (close
      // paren trimmed) — with all variable parts (positions, bases, residue
      // names) derived arithmetically from doc_id at FIXED widths, so the
      // oracle reconstructs every span offset and normalized HGVS without a
      // regex. The recognizer scans the full decorated text (the corpus part
      // is provably pattern-free: all-lowercase, no digits).
      val aa3 = graft.ner.MutationNer.AminoAcids3
      docsDfSpread(s, dir).select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (n, t) =>
          val bases = "ACGT"
          val b1 = bases(((n % 4) + 4).toInt % 4)
          val b2 = bases((((n + 1) % 4) + 4).toInt % 4)
          val p1 = 100 + n % 900; val p2 = 200 + n % 700
          val p3 = 100 + n % 899; val p4 = 300 + n % 600
          val p5 = 400 + n % 500; val rsid = 1000 + n % 9000
          val aa1 = aa3((n % 20).toInt); val aa2 = aa3(((n + 7) % 20).toInt)
          val suffix = s" variant c.$p1$b1>$b2 and c.${p2}del$b1 plus " +
            s"c.${p3}_${p3 + 1}ins$b2$b1 with p.$aa1$p4$aa2 frameshift " +
            s"p.$aa1${p5}fs and rs$rsid found. also (p.$aa2$p4$aa1) noted."
          // emit CODE-POINT offsets: the oracle reconstructs spans as
          // length(text)+k and DuckDB counts code points, while Java String
          // indices are UTF-16 units — a non-BMP char in the corpus would
          // silently shift every planted offset by one. All mentions live in
          // the ASCII suffix (the corpus part is pattern-free), so shifting
          // by the doc's surrogate-pair deficit is exact.
          val cpBase = (t.codePointCount(0, t.length) - t.length).toLong
          graft.ner.MutationNer.findMutations(t + suffix).map { m =>
            (n, m.start + cpBase, m.end + cpBase, m.text, m.hgvs,
              m.mutationType, m.wtResidue, m.mutResidue, m.foundWith,
              m.proteinMutation, m.nucleotideMutation, m.ambiguous)
          }
        }
        .toDF("doc_id", "start", "end", "match", "hgvs", "mutation_type",
          "wt", "mut", "found_with", "is_protein", "is_nucleotide", "ambiguous")
        .orderBy($"doc_id", $"start")
    }),
    "kg_opsin" -> ((s, dir) => {
      import s.implicits._
      // C9 chemistry half (OpsinStep): every doc plants a deterministic
      // IUPAC name in a " chem: NAME yes ok." suffix plus THREE entities
      // mimicking the reference scenarios — a transformer-TRUNCATED
      // unmapped drug entity over the name's first 4 chars (the step must
      // re-extend through hyphens, try "NAME yes ok." / "NAME yes" / "NAME"
      // longest-first, and resolve NAME via the pluggable resolver), a
      // wrong-class entity on the same span (never touched, opsin.py:296),
      // and an ALREADY-MAPPED drug entity on "yes" (skipped by the
      // zero-mappings gate, opsin.py:298). Docs with residue 4 plant an
      // unresolvable name → the parse-failure path, no row. The oracle
      // reconstructs every surviving (span, match, smiles) from doc_id.
      val names = SparkEntry.opsinPlantedNames
      val prefixLen = 4 // " chem: " is 7 chars; entity covers name[0:4)
      val docs: org.apache.spark.sql.Dataset[graft.model.KDoc] =
        docsDf(s, dir).select($"doc_id", $"text").as[(Long, String)]
          .map { case (n, t) =>
            import graft.model._
            val (name, _) = names(plantResidue(n, 5))
            val text = t + " chem: " + name + " yes ok."
            val ns = t.length + 7 // name start (UTF-16 units, Java side)
            val truncated = Mention(
              matchStr = name.substring(0, prefixLen), entityClass = "drug",
              spans = Seq(CharSpan(ns, ns + prefixLen)), namespace = "test",
              mentionConfidence = MentionConfidence.Probable,
              matchNorm = graft.text.Normalizer.normalize(name.substring(0, prefixLen), "drug"))
            val wrongClass = truncated.copy(entityClass = "component",
              matchNorm = graft.text.Normalizer.normalize(name.substring(0, prefixLen), "component"))
            val ys = ns + name.length + 1 // "yes"
            val preMapped = Mention(
              matchStr = "yes", entityClass = "drug",
              spans = Seq(CharSpan(ys, ys + 3)), namespace = "test",
              mentionConfidence = MentionConfidence.Probable,
              matchNorm = graft.text.Normalizer.normalize("yes", "drug"),
              mappings = Seq(Mapping("yes", "TEST", "test_parser", "TEST:1",
                "TestStep", StringMatchConfidence.HighlyLikely, None, None)))
            KDoc(s"doc://$n", new java.sql.Timestamp(0L), text, "en",
              Seq(Section("body", text,
                Seq(truncated, wrongClass, preMapped))))
          }
      graft.ner.OpsinNer.annotate(s, docs,
          () => graft.ner.OpsinNer.MiniIupacResolver,
          graft.ner.OpsinNer.Config(entityClass = "drug",
            requiredEntityClasses = Some(Set("drug"))))
        .flatMap { d =>
          // code-point offsets for the oracle (DuckDB length() counts code
          // points; Java spans are UTF-16 units — same shift as kg_mutations)
          val t = d.sections.head.text
          val cpBase = (t.codePointCount(0, t.length) - t.length).toLong
          val n = d.url.stripPrefix("doc://").toLong
          d.entities.flatMap(e => e.mappings.filter(_.source == "Opsin")
            .map(m => (n, e.start + cpBase, e.end + cpBase, e.matchStr, m.idx)))
        }
        .toDF("doc_id", "start", "end", "match", "smiles")
        .orderBy($"doc_id")
    }),
    "kg_spacy_ner" -> ((s, dir) => {
      import s.implicits._
      // C8 (SpacyNerStep): every doc appends ". " + a planted ruler
      // sentence (doc_id % 3 selects it); the step's EntityRuler stand-in
      // must find the gazetteer phrase on token boundaries, LOWERCASE the
      // uppercase label, and (addSentenceSpans) set token-derived sentence
      // spans — the output row carries the entity plus its containing
      // sentence span, all CASE-reconstructable from doc_id and
      // length(text). zzq-prefixed phrases are corpus-impossible, so the
      // full-text scan can only hit the planted tail.
      val planted = SparkEntry.spacyPlantedSents
      val docs: org.apache.spark.sql.Dataset[graft.model.KDoc] =
        docsDf(s, dir).select($"doc_id", $"text").as[(Long, String)]
          .map { case (n, t) =>
            import graft.model._
            val (body, _, _) = planted(plantResidue(n, 3))
            val text = t + ". " + body
            KDoc(s"doc://$n", new java.sql.Timestamp(0L), text, "en",
              Seq(Section("body", text)))
          }
      val patterns = planted.map { case (_, phrase, label) => phrase -> label }.toMap
      graft.ner.SpacyNer.annotate(s, docs,
          () => new graft.ner.SpacyNer.RulerPipeline(patterns))
        .flatMap { d =>
          val sec = d.sections.head
          val t = sec.text
          val cpBase = (t.codePointCount(0, t.length) - t.length).toLong
          val n = d.url.stripPrefix("doc://").toLong
          sec.entities.filter(_.namespace == graft.ner.SpacyNer.Namespace).map { e =>
            val sent = sec.sentenceSpans
              .find(sp => sp.start <= e.start && e.end <= sp.end)
              .getOrElse(sys.error(s"entity outside any sentence: $e"))
            (n, e.start + cpBase, e.end + cpBase, e.matchStr, e.entityClass,
              sent.start + cpBase, sent.end + cpBase)
          }
        }
        .toDF("doc_id", "start", "end", "match", "entity_class",
          "sent_start", "sent_end")
        .orderBy($"doc_id")
    }),
    "kg_stanza_sentences" -> ((s, dir) => {
      import s.implicits._
      // C10 (StanzaStep): residues 0/1 append ". " + a planted tail and
      // emit the token-derived span of every sentence starting inside the
      // tail (tail 1 is unterminated — its span must end at the last TOKEN,
      // not the text end); residue 2 arrives with sentence spans PRE-SET,
      // so the write-once setter contract yields an error row instead.
      val tails = SparkEntry.stanzaPlantedTails
      val docs: org.apache.spark.sql.Dataset[graft.model.KDoc] =
        docsDf(s, dir).select($"doc_id", $"text").as[(Long, String)]
          .map { case (n, t) =>
            import graft.model._
            val r = plantResidue(n, 3)
            val text = if (r == 2) t else t + ". " + tails(r)._1
            val preSet = if (r == 2) Seq(CharSpan(0, 1)) else Seq.empty
            KDoc(s"doc://$n", new java.sql.Timestamp(0L), text, "en",
              Seq(Section("body", text, sentenceSpans = preSet)))
          }
      graft.ner.StanzaSentencer.annotate(s, docs)
        .flatMap { d =>
          val n = d.url.stripPrefix("doc://").toLong
          val sec = d.sections.head
          val t = sec.text
          val cpBase = (t.codePointCount(0, t.length) - t.length).toLong
          d.error match {
            case Some(msg) => Seq((n, None: Option[Long], None: Option[Long], msg))
            case None =>
              // tail starts at UTF-16 baseLen + 2; baseLen = len - tailLen - 2
              val r = plantResidue(n, 3)
              val tailStart = t.length - tails(r)._1.length
              sec.sentenceSpans.filter(_.start >= tailStart)
                .map(sp => (n, Some(sp.start + cpBase), Some(sp.end + cpBase), ""))
          }
        }
        .toDF("doc_id", "sent_start", "sent_end", "error")
        .orderBy($"doc_id", $"sent_start")
    }),
    "kg_acceptance" -> ((s, dir) => {
      import s.implicits._
      // acceptance P/R as a driver row (ref annotation/acceptance_test.py
      // soft-span semantics): pred = every distinct pipeline entity span,
      // gold = a deterministic transform of the same span set (all operator
      // spans verbatim + one synthetic [0,5) component span per url), so
      // tp/fp/fn exercise exact matches, partial overlaps, misses, and
      // spurious predictions; the oracle replays the interval join over the
      // full-dump derivation
      // r8: ONE distinct span table, persisted, feeds the pred side AND
      // both gold derivations — previously `spans` was unpersisted and its
      // dump-wide distinct recomputed three times (pred, gold-operator,
      // gold-urls), measured as ~55 s of task time on this row alone.
      // Both sides stay distinct by construction (operator spans are a
      // subset of `spans`; the synthetic rows differ in entity_class), so
      // nerScores skips its per-side re-distinct/persist.
      // r8: the scoring joins/groupBys key on the document ~8 times; the
      // 28-char url string is bijective with its numeric doc id on this
      // corpus (Pages.urlOf), so the spans table carries the LONG id under
      // the url column name — narrower shuffle keys and cheaper hashing
      // (guide §2.3), with tp/fp/fn per class unchanged (url is never an
      // output column here)
      val spans = CacheRegistry.register(
        pipelineTriples(s, dir)
          .select(substring_index($"url", "/", -1).cast("long").as("url"),
            $"start", $"end",
            regexp_replace($"pred", "^mentions_", "").as("entity_class"))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK))
      // gold persisted too (r8): it feeds the interval join AND the
      // set-compare union, and its derivation carries the per-doc distinct
      // shuffle — unpersisted it re-ran once per consumer
      val gold = CacheRegistry.register(
        spans.filter($"entity_class" === "operator")
          .unionByName(spans.select($"url").distinct()
            .select($"url", lit(0).as("start"), lit(5).as("end"),
              lit("component").as("entity_class")))
          .persist(StorageLevel.MEMORY_AND_DISK))
      graft.eval.Acceptance.nerScores(s, spans, gold, inputsDistinct = true)
    }),
    "kg_acceptance_corpus" -> ((s, dir) => {
      import s.implicits._
      // corpus×corpus acceptance: P/R between two pipeline VERSIONS' full
      // span sets — trie-only (the "previous crawl") vs trie+transformer —
      // through the BUCKETED equi-join rewrite: both sides are corpus-sized
      // so neither may broadcast, and the overlap predicate rides an
      // equi-keyed (url, class, bucket) shuffle join. This is the
      // re-crawl-comparison shape a 100-TB pipeline upgrade runs.
      // r8: no .distinct() here — nerScoresBucketed distincts + persists
      // each side itself, so the outer distinct was a duplicate full
      // shuffle of both corpus-derived span sets per run
      // long doc key, same bijection rationale as kg_acceptance (r8)
      def spans(t: DataFrame) = t.select(
        substring_index($"url", "/", -1).cast("long").as("url"),
        $"start", $"end",
        regexp_replace($"pred", "^mentions_", "").as("entity_class"))
      graft.eval.Acceptance.nerScoresBucketed(s,
        spans(pipelineTriples(s, dir)), spans(trieOnlyTriples(s, dir)))
    }),
    "kg_acceptance_linking" -> ((s, dir) => {
      import s.implicits._
      // linking-level acceptance (ref calculate_linking_matches): per
      // soft-matched gold entity, set-compare the union of matched test
      // mappings vs gold mappings, per source. Gold = the pipeline's own
      // mapping set with two planted perturbations — OP:SORT renamed (an
      // fp+fn pair in source OP wherever sort mentions resolve) and SYS
      // ids suffixed on odd docs (fp+fn in SYS on half the corpus) — so
      // tp, fp and fn all measure non-trivially per source
      val t = pipelineTriples(s, dir)
      val labels = CorpusOntology.rows.map(r => (r.idx, r.defaultLabel))
        .distinct.toDF("idx", "default_label")
      // the mapping set feeds BOTH scoring sides (pred verbatim; gold is a
      // perturbation of it) — persist, or the dump-wide distinct + label
      // join executes once per side when linkingScores materializes its
      // per-side persists (measured ~2x on the slowest bench row)
      // r8: LONG doc key under the url column (bijective with the url on
      // this corpus — see kg_acceptance) so the ~8 downstream exchanges and
      // the 7-column set-compare key on a long, not a 28-char string
      val mappings = CacheRegistry.register(
        t.select(substring_index($"url", "/", -1).cast("long").as("url"),
            $"start", $"end",
            regexp_replace($"pred", "^mentions_", "").as("entity_class"),
            split($"obj", ":").getItem(0).as("source"), $"obj".as("idx"))
          .distinct()
          .join(broadcast(labels), "idx")
          .persist(StorageLevel.MEMORY_AND_DISK))
      val docId = $"url"
      val gold = mappings
        // label-ONLY perturbation: same (source, idx), renamed label — the
        // reference identity (source, "label|idx") counts this fp+fn
        .withColumn("default_label",
          when($"idx" === "OP:FILTER" && docId % 7 === 0, lit("filter-renamed"))
            .otherwise($"default_label"))
        .withColumn("idx",
          when($"idx" === "OP:SORT", lit("OP:SORTED"))
            .when($"source" === "SYS" && docId % 2 === 1, concat($"idx", lit("X")))
            .otherwise($"idx"))
      graft.eval.Acceptance.linkingScores(s, mappings, gold)
    }),

    "kg_classfilter" -> ((s, dir) => {
      import s.implicits._
      import graft.link.ClassFilter
      // E15 rules-based class filter, oracled end-to-end: a deterministic
      // suffix plants (a) an FP trigger token "bogus" — the FP rule on
      // (operator, "filter") fires in the suffix sentence and drops every
      // filter mention DOC-WIDE (rule results OR-aggregate per key); (b) a
      // TP trigger "realctx" — the TP rule on (component, "spark") fires, so
      // spark mentions survive (including the suffix's own); and (c)
      // (component, "query") carries a TP rule that never fires anywhere →
      // every query mention is dropped. The oracle replays the full triple
      // dump over the same sliced + suffixed corpus minus the dropped keys.
      val rules = ClassFilter.Rules(mentionRules = Map(
        "operator" -> Map(
          "filter" -> Map("fp" -> Seq(Seq(ClassFilter.TokenRule(lower = Some("bogus")))))),
        "component" -> Map(
          "spark" -> Map("tp" -> Seq(Seq(ClassFilter.TokenRule(lower = Some("realctx"))))),
          "query" -> Map("tp" -> Seq(Seq(ClassFilter.TokenRule(lower = Some("zzznever"))))))))
      val pages = Pages.fromDocuments(s, dir, docIdResidue = Some((10, 0)))
        .withColumn("text", concat($"text", lit(" filter bogus realctx spark")))
      val withHtml = pages.select($"url", $"warc_ts",
        to_binary(concat(lit("<html><body><p>"), $"text", lit("</p></body></html>")),
          lit("utf-8")).as("html"),
        $"text", $"lang")
      val (docs0, _) = Pipeline.run(s, withHtml, resources(s), classRules = rules)
      val docs = CacheRegistry.register(
        docs0.persist(StorageLevel.MEMORY_AND_DISK))
      Triples.fromDocs(s, docs).toDF()
        .select($"subj", $"pred", $"obj", $"confidence", $"namespace",
          $"matchStr".as("match"), $"start", $"end", $"url")
        .orderBy($"url", $"start", $"end", $"pred", $"obj")
    }),

    // ---- relational plane (scan/filter/agg/join/window/topk/antijoin) -----
    "q1_agg" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter($"l_shipdate" < lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").cast("long").as("sum_qty"),
          sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("sum_price_cents"),
          sum(expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
            .as("sum_revenue_cents"),
          countDistinct($"l_partkey").as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),
    "q2_join_agg" -> ((s, dir) => {
      import s.implicits._
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      orders
        .join(broadcast(customer), $"o_custkey" === $"c_custkey")
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(
          sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("revenue_cents"),
          count(lit(1)).as("n_orders"),
          countDistinct($"c_custkey").as("n_customers"))
        .orderBy($"n_name")
    }),
    "q3_topk" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy($"o_custkey")
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy($"revenue_cents".desc, $"o_custkey")
        .limit(10)
    }),
    "q4_antijoin" -> ((s, dir) => {
      import s.implicits._
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      customer
        .join(orders.filter($"o_orderpriority" === "1-URGENT"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_customers_no_orders"))
        .orderBy($"n_name")
    }),
    "q5_window_sessions" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("new_session",
          when($"prev_ts".isNull ||
            unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1L)
            .otherwise(0L))
        .groupBy($"user_id")
        .agg(sum($"new_session").as("n_sessions"),
          count(lit(1)).as("n_events"),
          sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
        .orderBy($"user_id")
    }),

    "q6_percentiles" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("value_cents", expr("cast(round(value * 100) as bigint)"))
        .groupBy($"event_type")
        .agg(
          expr("cast(percentile(value_cents, 0.5) as double)").as("p50_cents"),
          expr("cast(percentile(value_cents, 0.9) as double)").as("p90_cents"),
          min($"value_cents").as("min_cents"),
          max($"value_cents").as("max_cents"))
        .orderBy($"event_type")
    }),
    "q7_rollup" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/orders.parquet")
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("revenue_cents"))
        .select(
          coalesce($"o_orderstatus", lit("ALL")).as("o_orderstatus"),
          coalesce($"o_orderpriority", lit("ALL")).as("o_orderpriority"),
          $"n_orders", $"revenue_cents")
        .orderBy($"o_orderstatus", $"o_orderpriority")
    }),

    // ---- training-data pipeline ops ---------------------------------------
    "dedup_exact" -> ((s, dir) => {
      import s.implicits._
      // groupBy + SALTED join back, NOT a window over text_md5: a window
      // puts every row of a duplicate cluster on one reducer (a 10^7-copy
      // boilerplate page = one straggler task at web scale), while groupBy
      // collapses each map partition to one row per distinct hash before
      // the shuffle (partial aggregation). The join back is explicitly
      // salted: at corpus scale the counts side exceeds any broadcast
      // threshold, and a plain hash join on text_md5 would put the hot
      // hash's entire cluster on one reducer again (AQE's skew split
      // cannot apply when the counts side is a same-query aggregate —
      // measured at SkewBench scale 3: ratio 8.5 unsalted, 1.1 salted).
      // Salting replicates each count row across SaltBuckets and keys the
      // join on (text_md5, salt = hash(doc_id) % SaltBuckets), spreading
      // any cluster over SaltBuckets reducers deterministically — no
      // broadcast or runtime re-plan dependence.
      // r8: only duplicated hashes (n ≥ 2) replicate into the salted join —
      // a unique page's count is implicitly 1 (left-join default), so the
      // exploded side shrinks from |distinct hashes|×16 to |dup hashes|×16
      val hashed = docsDf(s, dir)
        .select($"doc_id", md5(to_binary($"text", lit("utf-8"))).as("text_md5"))
      val counts = hashed.groupBy($"text_md5")
        .agg(count(lit(1)).as("n_same_text"))
        .filter($"n_same_text" >= 2)
      Dedup.saltedLeftJoinDups(hashed, counts, "text_md5", "doc_id")
        .select($"doc_id", $"text_md5",
          coalesce($"n_same_text", lit(1L)).as("n_same_text"))
        .orderBy($"doc_id")
    }),
    "dedup_jaccard" -> ((s, dir) => {
      import s.implicits._
      // sketch → verify: MinHash band candidates (equi-join on (band,
      // bucket) — NO cartesian/inequality join in the plan), then exact
      // word-set Jaccard on candidates only. The sketch hashes 1-gram
      // shingles — the SAME set the verify stage measures (3-gram shingles
      // estimate order-sensitive overlap, a different similarity). Banding
      // 32×2 puts the S-curve threshold at (1/32)^(1/2)≈0.18, so a true
      // pair at j≥0.8 is missed w.p. (1−0.8²)^32 ≈ 6e-15 — the oracle
      // (all-pairs ground truth) stays exact. At 100 TB the candidate join
      // is the only quadratic-risk stage and it is bounded by bucket size.
      val d = docsDf(s, dir).filter($"doc_id" < 100)
      val cands = Dedup.minhashCandidatePairs(s, d, numHashes = 64, bands = 32)
      val words = d.select($"doc_id",
        array_distinct(split($"text", " ")).as("words"))
      cands
        .join(words.select($"doc_id".as("doc_a"), $"words".as("wa")), "doc_a")
        .join(words.select($"doc_id".as("doc_b"), $"words".as("wb")), "doc_b")
        .withColumn("jaccard",
          size(array_intersect($"wa", $"wb")).cast("double") /
            size(array_union($"wa", $"wb")).cast("double"))
        .filter($"jaccard" >= 0.8)
        .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
        .orderBy($"doc_a", $"doc_b")
    }),
    "dedup_clusters" -> ((s, dir) => {
      import s.implicits._
      // the dedup DECISION stage: sketch (minhash bands) → exact verify →
      // connected components → one canonical doc per duplicate cluster.
      // Iterative hash-min label propagation; the oracle recomputes the
      // transitive closure of the all-pairs j≥0.8 graph with a recursive
      // CTE, so the distributed iteration is checked against an
      // independent exact algorithm.
      val d = docsDf(s, dir).filter($"doc_id" < 100)
      val cands = Dedup.minhashCandidatePairs(s, d, numHashes = 64, bands = 32)
      val words = d.select($"doc_id", array_distinct(split($"text", " ")).as("words"))
      val pairs = cands
        .join(words.select($"doc_id".as("doc_a"), $"words".as("wa")), "doc_a")
        .join(words.select($"doc_id".as("doc_b"), $"words".as("wb")), "doc_b")
        .filter(size(array_intersect($"wa", $"wb")).cast("double") /
          size(array_union($"wa", $"wb")).cast("double") >= 0.8)
        .select($"doc_a", $"doc_b")
      Dedup.connectedComponents(s, d.select($"doc_id"), pairs)
        .withColumn("is_canonical", $"cluster_id" === $"doc_id")
        .orderBy($"doc_id")
    }),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(s, docsDf(s, dir))),
    "url_canonical" -> ((s, dir) => {
      import s.implicits._
      // crawl-frontier URL canonicalization: deterministic decorations give
      // every 4-doc group one logical page behind four surface forms
      // (tracking params, unsorted query, fragment, mixed-case host); the
      // oracle derives the EXPECTED canonical form independently from
      // doc_id, so any canonicalizer misstep mismatches
      val urls = docsDf(s, dir).select($"doc_id", plantedUrl.as("url"))
      graft.tdp.UrlCanonical.dedupByUrl(s, urls)
    }),
    "dedup_url_text" -> ((s, dir) => {
      import s.implicits._
      // the crawl-ingest COMPOSITION (canonical-url first, content-hash
      // second): stage 1 collapses the four planted URL surface forms into
      // canonical groups and keeps the min-doc representative; stage 2
      // exact-dedups the REPRESENTATIVES by content hash (texts planted so
      // each 8-id block shares one payload → adjacent canonical groups are
      // content dups). n_same_content counts representatives, never raw
      // docs — the layers compose without double-counting a page that was
      // already collapsed by URL.
      val src = docsDf(s, dir).select($"doc_id".as("src_id"), $"text")
      val base = docsDf(s, dir).select($"doc_id",
        ($"doc_id" - $"doc_id" % 8).as("src_id"), plantedUrl.as("url"))
      val docs2 = base.join(src, "src_id").select($"doc_id", $"url", $"text")
      val canon = graft.tdp.UrlCanonical.dedupByUrl(s, docs2.select($"doc_id", $"url"))
      val reps = canon.filter($"doc_id" === $"canonical_doc")
        .select($"doc_id", $"url_canonical", $"n_same_url")
      val withHash = reps.join(docs2.select($"doc_id", $"text"), "doc_id")
        .withColumn("h", md5(to_binary($"text", lit("utf-8"))))
        .select($"doc_id", $"url_canonical", $"n_same_url", $"h")
      // r8: duplicated content hashes only (see dedup_exact) — unique
      // representatives default to (canonical = self, n = 1) via the left
      // salted join
      val counts = withHash.groupBy($"h")
        .agg(min($"doc_id").as("content_canonical"),
          count(lit(1)).as("n_same_content"))
        .filter($"n_same_content" >= 2)
      graft.tdp.Dedup.saltedLeftJoinDups(withHash, counts, "h", "doc_id")
        .withColumn("content_canonical", coalesce($"content_canonical", $"doc_id"))
        .withColumn("n_same_content", coalesce($"n_same_content", lit(1L)))
        .withColumn("is_content_dup", $"doc_id" =!= $"content_canonical")
        .select($"doc_id", $"url_canonical", $"n_same_url",
          $"content_canonical", $"n_same_content", $"is_content_dup")
        .orderBy($"doc_id")
    }),
    "dedup_paragraph" -> ((s, dir) => {
      import s.implicits._
      // CCNet-style corpus-wide paragraph dedup: a planted 24-word cookie
      // banner prepended to every third doc becomes EXACTLY its first
      // 3-line paragraph (structure chunks from position 0), creating the
      // hot corpus-wide boilerplate key the salted join-back bounds
      val banner = "cookie notice accept our terms and privacy policy " +
        "before continuing to read this page content here now ok fine " +
        "yes please do thank you" // exactly 24 words = one full paragraph
      val decorated = docsDf(s, dir).withColumn("text",
        when($"doc_id" % 3 === 0, concat(lit(banner), lit(" "), $"text"))
          .otherwise($"text"))
      graft.tdp.ParagraphDedup.paragraphDedup(s, decorated)
    }),
    "dedup_paragraph_nl" -> ((s, dir) =>
      // the SAME corpus-wide paragraph dedup over the multi-line corpus:
      // paragraph boundaries come from real '\n\n' splits (the banner
      // paragraph is the hot corpus-wide key), not the chunked fallback
      graft.tdp.ParagraphDedup.paragraphDedup(s, newlineDocs(s, dir))),
    "gopher_repetition_nl" -> ((s, dir) =>
      // the full 13-rule family over the multi-line corpus: duplicate-line
      // and duplicate-paragraph rules measure over genuine '\n'/'\n\n'
      // boundaries (planted first-line/first-paragraph repeats + the %3
      // banner paragraph give them non-trivial mass)
      graft.tdp.Gopher.repetition(s, newlineDocs(s, dir, spread = true))),
    "dedup_substring" -> ((s, dir) =>
      // substring-anchored dedup: winnowed Rabin-Karp fingerprints as
      // shared-16-char-run anchors, mega-postings dropped via broadcast
      // anti-join, pair score = shared-anchor count
      graft.tdp.DedupSubstring.substringPairs(s, docsDf(s, dir))),
    "dedup_substring_spans" -> ((s, dir) =>
      // the full ExactSubstr (Lee et al.) semantics: content-defined
      // anchors key md5(L-char window); any window occurring >=2 times in
      // the corpus marks its range in EVERY occurrence; per-doc ranges
      // merge and are removed — output pins the cleaned text by md5
      graft.tdp.SubstringSpans.duplicateSpans(s, docsDfSpread(s, dir))),
    "c4_quality" -> ((s, dir) =>
      // the C4 (Raffel et al. 2020) line + page rules over the
      // sentence-structured fixture; clean_md5 pins the retained text
      graft.tdp.C4.quality(s, c4Docs(s, dir))),
    "pack_sequences" -> ((s, dir) =>
      // GPT-style concat-and-cut training-sequence packing via the
      // two-phase distributed prefix-sum (NO single-task global window);
      // driver materialization bounded by partition count only
      graft.tdp.Packing.packSequences(s, docsDf(s, dir))),
    "corpus_mix" -> ((s, dir) =>
      // mT5/PaLM temperature sampling (alpha = 0.5): per-domain quotas
      // B*sqrt(n_d)/sum(sqrt) in EXACT integer math (isqrt + integer
      // division — no float normalization to diverge cross-engine),
      // realized by the deterministic ppm hash threshold
      graft.tdp.Mixture.temperatureMix(s, docsDf(s, dir))),
    "lm_surprisal" -> ((s, dir) =>
      // CCNet-style LM quality filter with the corpus's own unigram model
      // and EXACT whole-bit surprisal (ilog2 = bit length - 1; no float
      // log anywhere) — keep the low-surprisal head
      graft.tdp.LmFilter.surprisal(s, docsDf(s, dir))),
    "c4_three_sentence_dedup" -> ((s, dir) =>
      // C4's corpus-level rule: of any 3-sentence span occurring more
      // than once, keep ONE canonical occurrence (contrast ExactSubstr:
      // remove all); hot banner span joins back through the salted join
      graft.tdp.C4.threeSentenceDedup(s, c4Docs(s, dir))),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(s, docsDf(s, dir))),
    "corpus_sample" -> ((s, dir) => {
      import s.implicits._
      // deterministic stratified sampling: 30% of en docs, 10% of others —
      // byte-reproducible across engines (pure integer hash, no RNG)
      TextStats.stratifiedSample(s, docsDf(s, dir),
          Map("en" -> 3000, "de" -> 1000, "fr" -> 1000, "es" -> 1000,
            "zh" -> 1000))
        .select($"doc_id", $"lang")
        .orderBy($"doc_id")
    }),
    "pii_scrub" -> ((s, dir) => {
      import s.implicits._
      // PII redaction end-to-end with exactly checkable outcomes: inject a
      // deterministic PII suffix into every document (the corpus itself is
      // synthetic and PII-free), scrub, emit redaction counts + the md5 of
      // the scrubbed text — the oracle replays the same RE2-safe patterns
      val withPii = docsDf(s, dir).withColumn("text",
        concat($"text", lit(" contact bob@example.com or 555-123-4567 at 10.0.0.1 now.")))
      TextStats.scrubPii(s, withPii)
    }),
    "decontaminate" -> ((s, dir) => {
      import s.implicits._
      // benchmark decontamination (13-gram overlap, the GPT-3/PaLM window):
      // the synthesized eval corpus is a 21-word slice of every 50th
      // document, so those documents — and any document sharing a 13-gram
      // with them (exact/near duplicates) — must flag; the oracle recomputes
      // the distinct-overlap counts relationally
      val docs = docsDf(s, dir)
      graft.tdp.Decontaminate.flagContaminated(s, docs,
        decontaminationBench(docs))
    }),
    "decontaminate_sharded" -> ((s, dir) => {
      // the SAME decontamination semantics forced down the sharded
      // equi-join fallback (broadcastNgramBound = 0): proves the
      // above-the-broadcast-ceiling path against the identical oracle —
      // the r5 spec equivalence test, promoted to a driver CORRECTNESS row
      val docs = docsDf(s, dir)
      graft.tdp.Decontaminate.flagContaminated(s, docs,
        decontaminationBench(docs), broadcastNgramBound = 0L)
    }),
    "dedup_stream" -> ((s, dir) =>
      // the stateful streaming exact-dedup surfaced as a driver row: the
      // corpus replays through dedupStream in 4 deterministic micro-batches
      // and the oracle replays occurrence numbers as row_number() per
      // content hash ordered by (batch, url) — the STREAMBATCH.md contract
      // at CORRECTNESS-gate strength
      graft.streaming.StreamingPipeline.dedupStreamReplay(s, docsDf(s, dir))),
    "text_quality" -> ((s, dir) => TextStats.quality(s, docsDf(s, dir))),
    "gopher_repetition" -> ((s, dir) => {
      import s.implicits._
      // the FULL 13-rule Gopher repetition family (dup line/para count+char
      // fractions, top-2/3/4-gram char fractions, dup-5..10-gram char
      // fractions at the published thresholds). Planted repeats — the doc's
      // own leading 12/24 words re-appended on deterministic doc_id slices —
      // give the duplicate rules non-trivial mass; every fraction is an
      // int/int double division, IEEE-identical cross-engine.
      val decorated = docsDfSpread(s, dir).withColumn("text", concat(
        $"text",
        when($"doc_id" % 4 === 0,
          concat(lit(" "), concat_ws(" ", slice(split($"text", " "), 1, 12))))
          .otherwise(lit("")),
        when($"doc_id" % 10 === 0,
          concat(lit(" "), concat_ws(" ", slice(split($"text", " "), 1, 24))))
          .otherwise(lit(""))))
      graft.tdp.Gopher.repetition(s, decorated)
    }),
    "gopher_quality" -> ((s, dir) => {
      import s.implicits._
      // the 7 Gopher quality rules; deterministic decorations plant
      // bullet-starting lines (%5), stop words (%3), and symbol/ellipsis/
      // non-alpha words (%7) so each rule measures non-trivially
      val decorated = docsDf(s, dir).withColumn("text", concat(
        when($"doc_id" % 5 === 0, lit("- ")).otherwise(lit("")),
        $"text",
        when($"doc_id" % 3 === 0, lit(" of the")).otherwise(lit("")),
        when($"doc_id" % 7 === 0, lit(" 42 ## ...")).otherwise(lit(""))))
      graft.tdp.Gopher.quality(s, decorated)
    }),
    "lang_id" -> ((s, dir) => TextStats.langId(s, docsDf(s, dir))),
    "bpe_tokens" -> ((s, dir) => {
      import s.implicits._
      // REAL BPE token counts (committed train-once merge asset; exact
      // leftmost-lowest-rank encode) — replaces the regex approximation for
      // token budgeting; per-partition word→count memo makes the pass
      // O(distinct words) on the closed vocabulary
      val ranks = graft.text.Bpe.committedRanks
      docsDf(s, dir).select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions { it =>
          val memo = scala.collection.mutable.HashMap.empty[String, Int]
          it.map { case (id, text) =>
            val words = text.split(" ", -1)
            var total = 0L
            words.foreach { w =>
              total += memo.getOrElseUpdate(w, graft.text.Bpe.encode(w, ranks).length)
            }
            (id, words.length.toLong, total)
          }
        }
        .toDF("doc_id", "n_words", "n_bpe_tokens")
        .orderBy($"doc_id")
    }),
    "doc_fingerprint" -> ((s, dir) => TextStats.fingerprintDocs(s, docsDf(s, dir))),
    "multimodal_meta" -> ((s, dir) => {
      // REAL codec work: the payload is a length-delimited container of
      // synthetic PNG frames and extractMeta runs javax.imageio decodes in
      // the executor-pinned codec session; the oracle re-derives the
      // decoded metadata from the doc_id formulas (geometry + gray-value
      // checksum), so a codec that misreads even one pixel hash-mismatches.
      // n_bytes (PNG-compressed size) is engine-side only — compression
      // output length is not relationally derivable.
      val media = Multimodal.mediaFromDocuments(s, docsDfSpread(s, dir))
      Multimodal.extractMeta(s, media)
        .select(col("doc_id"), col("n_frames"), col("width"), col("height"),
          col("n_pixels"), col("px_sum"))
    }),
    "multimodal_neardup" -> ((s, dir) => {
      // image-level near-dup: per-frame aHash from DECODED pixels (real
      // codec work), doc fingerprint = frame-0 hash, identical-hash
      // clustering through the shared salted join-back; the oracle
      // re-derives every hash from the synthetic pixel formulas
      val media = Multimodal.mediaFromDocuments(s, docsDfSpread(s, dir))
      Multimodal.perceptualNearDup(s, media)
    }),
    "multimodal_hamming" -> ((s, dir) => {
      // hash-cluster graph: hamming<=3 pairs BETWEEN distinct perceptual
      // hashes via the 4x16-bit block pigeonhole — one edge per hash pair
      // regardless of cluster sizes (no document-pair explosion)
      val media = Multimodal.mediaFromDocuments(s, docsDfSpread(s, dir))
      Multimodal.hammingPairs(s, media)
    }),
    "dedup_embedding" -> ((s, dir) => {
      import s.implicits._
      // sketch → verify: banded-LSH candidate pairs (equi-join on (table,
      // bucket) — the cartesian inequality join is gone from the plan),
      // exact cosine verification on candidates only. The 0.4 similarity
      // threshold is adversarially low for hyperplane LSH (bit-agree prob
      // 0.63), so coverage needs many short tables (4 bits × 48); at
      // production near-dup thresholds (≥0.8) the same code prunes with
      // far fewer tables (see Ann.LshConfig.forCorpus). AnnSpec asserts
      // candidate coverage of every true pair on this corpus.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .filter($"vec_id" < 200)
      // candidate pairs are (id, id) only — the bucket self-join never
      // shuffles vectors; the verify stage re-fetches them here with two
      // id-keyed equi-joins (each vector crosses the wire once, not ×tables)
      Ann.lshCandidatePairs(s, emb, Ann.LshConfig(4, 48))
        .join(emb.select($"vec_id".as("id_a"), $"embedding".as("emb_a")), "id_a")
        .join(emb.select($"vec_id".as("id_b"), $"embedding".as("emb_b")), "id_b")
        .select($"id_a", $"id_b", $"emb_a", $"emb_b")
        .as[(Long, Long, Seq[Float], Seq[Float])]
        .map { case (x, y, va, vb) =>
          (x, y, Ann.round4(Ann.cosine(va, vb)))
        }
        .toDF("id_a", "id_b", "cos_sim")
        .filter($"cos_sim" >= 0.4)
        .orderBy($"id_a", $"id_b")
    }),
    "ann_brute" -> ((s, dir) =>
      Ann.bruteTopK(s, spreadScan(s, s.read.parquet(s"$dir/embeddings.parquet")))),
    "ann_lsh" -> ((s, dir) =>
      // pinned to the auto-sizing result for the verify corpus (N=500 →
      // 3 bits/table, 6 tables; LshConfig.forCorpus(500)) so the DuckDB
      // oracle can replicate the exact plane set; the library default
      // auto-sizes from the corpus count (AnnSpec covers sf0.1)
      Ann.lshTopK(s, s.read.parquet(s"$dir/embeddings.parquet"),
        cfg = OracleLshConfig)),
    "ann_ivf" -> ((s, dir) =>
      // kmeansIters=0 keeps the strided deterministic seed centroids, which
      // the DuckDB oracle replicates row-for-row; Lloyd-refined centroids
      // (the production default) are recall-tested in AnnSpec
      Ann.ivfTopK(s, s.read.parquet(s"$dir/embeddings.parquet"),
        numCells = 8, nProbe = 4, kmeansIters = 0))
  )

  /** ann_lsh oracle geometry: LshConfig.forCorpus(500) materialized. */
  private val OracleLshConfig = Ann.LshConfig(3, 6)

  // ---- oracle SQL ----------------------------------------------------------

  /** Hyperplane literals for the ann_lsh oracle: (table, planeIdx, coeffs).
    * Scala Double.toString round-trips exactly through DuckDB's parser, so
    * both engines dot against bit-identical planes. */
  private def lshPlaneValues(cfg: Ann.LshConfig, dim: Int = 64): String =
    (0 until cfg.numTables).flatMap { t =>
      (0 until cfg.bitsPerTable).map { b =>
        val vals = Ann.hyperplane(dim, t * cfg.bitsPerTable + b).mkString(", ")
        s"($t, $b, [$vals]::DOUBLE[])"
      }
    }.mkString(", ")

  private def nerTermsValues: String =
    CorpusOntology.nerTerms
      .map { case (t, c) => s"('$t','$c')" }
      .mkString(", ")

  def oracleSql: Map[String, String] = Map(
    "kg_extract_text" ->
      """SELECT concat('https://graft.test/doc/', CAST(doc_id AS VARCHAR)) AS url,
        |       md5(text) AS text_md5, CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY url""".stripMargin,
    "kg_ner_mentions" ->
      s"""WITH terms("match", entity_class) AS (VALUES $nerTermsValues),
         |c AS (
         |  SELECT d.doc_id, t."match", t.entity_class,
         |         len(regexp_extract_all(d.text, '\\b' || t."match" || '\\b')) AS n
         |  FROM documents d CROSS JOIN terms t)
         |SELECT "match", entity_class, CAST(sum(n) AS BIGINT) AS n_mentions,
         |       CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
         |FROM c GROUP BY "match", entity_class HAVING sum(n) > 0
         |ORDER BY "match", entity_class""".stripMargin,
    // exclusion-free aggregates derived from the full-dump oracle (the
    // rounds-1/2 regex-VALUES oracles needed an ambiguous-obj exclusion
    // list; the dump derivation covers every (pred, obj) slice)
    "kg_triples_agg" -> OracleSql.kgTriplesAgg,
    "kg_graph_stats" -> OracleSql.kgGraphStats,
    "kg_cooccurrence" -> OracleSql.kgCooccurrence,
    "kg_abbrev" ->
      """WITH occ(off_s, off_e) AS (VALUES (12, 14), (22, 24))
        |SELECT concat('https://graft.test/doc/', CAST(doc_id AS VARCHAR)) AS url,
        |       CAST(length(text) + off_s AS INT) AS start,
        |       CAST(length(text) + off_e AS INT) AS "end",
        |       'mentions_operator' AS pred, 'OP:HASH_JOIN' AS obj,
        |       'HJ' AS "match"
        |FROM documents CROSS JOIN occ
        |WHERE doc_id % 5 = 0
        |ORDER BY url, start""".stripMargin,
    "kg_disambig" ->
      """WITH base AS (
        |  SELECT concat('https://graft.test/doc/', CAST(doc_id AS VARCHAR)) AS url,
        |         length(text) AS len
        |  FROM documents
        |  WHERE doc_id % 5 = 0
        |    AND NOT regexp_matches(text, '(?i)\bsort\b')),
        |expected(off_s, off_e, obj, m) AS (VALUES
        |  (1, 7, 'OP:FILTER', 'filter'),
        |  (14, 17, 'OP:FILTER', 'XSF'),
        |  (24, 28, 'OP:INDEX_SCAN', 'scan'),
        |  (24, 28, 'OP:TABLE_SCAN', 'scan'))
        |SELECT url, CAST(len + off_s AS INT) AS start,
        |       CAST(len + off_e AS INT) AS "end",
        |       'mentions_operator' AS pred, obj, m AS "match"
        |FROM base CROSS JOIN expected
        |ORDER BY url, start, obj""".stripMargin,
    // the four per-strategy rows share one relational shape: every sliced
    // doc must emit EXACTLY the planted suffix mention, resolved to the id
    // only the isolated strategy can pick, at offsets derived from the
    // original text length (suffix layouts in the query comments)
    "kg_gilda_disambig" ->
      """WITH base AS (
        |  SELECT concat('https://graft.test/doc/', CAST(doc_id AS VARCHAR)) AS url,
        |         length(text) AS len
        |  FROM documents WHERE doc_id % 5 = 1)
        |SELECT url, CAST(len + 1 AS INT) AS start, CAST(len + 4 AS INT) AS "end",
        |       'mentions_operator' AS pred, 'OP:FILTER' AS obj, 'XSF' AS "match"
        |FROM base ORDER BY url, start, obj""".stripMargin,
    "kg_annotation_prior" ->
      """WITH base AS (
        |  SELECT concat('https://graft.test/doc/', CAST(doc_id AS VARCHAR)) AS url,
        |         length(text) AS len
        |  FROM documents WHERE doc_id % 5 = 2)
        |SELECT url, CAST(len + 1 AS INT) AS start, CAST(len + 4 AS INT) AS "end",
        |       'mentions_operator' AS pred, 'OP:SORT' AS obj, 'XSF' AS "match"
        |FROM base ORDER BY url, start, obj""".stripMargin,
    "kg_embed_default_label" ->
      """WITH base AS (
        |  SELECT concat('https://graft.test/doc/', CAST(doc_id AS VARCHAR)) AS url,
        |         length(text) AS len
        |  FROM documents WHERE doc_id % 5 = 3)
        |SELECT url, CAST(len + 1 AS INT) AS start, CAST(len + 8 AS INT) AS "end",
        |       'mentions_operator' AS pred, 'OP:FILTER' AS obj, 'FILTERX' AS "match"
        |FROM base ORDER BY url, start, obj""".stripMargin,
    "kg_entity_class_disambig" ->
      """WITH base AS (
        |  SELECT concat('https://graft.test/doc/', CAST(doc_id AS VARCHAR)) AS url,
        |         length(text) AS len
        |  FROM documents WHERE doc_id % 5 = 4)
        |SELECT url, CAST(len + 1 AS INT) AS start, CAST(len + 5 AS INT) AS "end",
        |       'mentions_operator' AS pred, 'OP:PANE' AS obj, 'pane' AS "match"
        |FROM base ORDER BY url, start, obj""".stripMargin,
    // E17: every sliced doc carries the suffix " filter spark." whose two
    // unambiguous mentions expand through the planted xref map — OP:FILTER
    // into two xref'd targets, SYS:SPARK into one
    "kg_xref" ->
      """WITH base AS (
        |  SELECT concat('https://graft.test/doc/', CAST(doc_id AS VARCHAR)) AS url,
        |         length(text) AS len
        |  FROM documents WHERE doc_id % 5 = 0),
        |expected(off_s, off_e, pred, obj, m) AS (VALUES
        |  (1, 7,  'mentions_operator',  'OP:FILTER',    'filter'),
        |  (1, 7,  'mentions_operator',  'XREF:XFILTER', 'filter'),
        |  (1, 7,  'mentions_operator',  'XR2:FILTER',   'filter'),
        |  (8, 13, 'mentions_component', 'SYS:SPARK',    'spark'),
        |  (8, 13, 'mentions_component', 'XREF:XSPARK',  'spark'))
        |SELECT url, CAST(len + off_s AS INT) AS start,
        |       CAST(len + off_e AS INT) AS "end",
        |       pred, obj, m AS "match"
        |FROM base CROSS JOIN expected
        |ORDER BY url, start, obj""".stripMargin,
    // C9 mutation NER: every planted mention re-derived arithmetically
    // (fixed-width positions/bases/residues from doc_id; offsets from
    // length(text) + literal segment widths) — no regex on the oracle side
    "kg_mutations" -> {
      val aa3 = graft.ner.MutationNer.AminoAcids3.map(a => s"'$a'").mkString(", ")
      val aa1 = graft.ner.MutationNer.AminoAcids1.map(a => s"'$a'").mkString(", ")
      s"""WITH v AS (
         |  SELECT doc_id, length(text) AS L,
         |    ['A','C','G','T'][CAST(doc_id % 4 AS INT) + 1] AS b1,
         |    ['A','C','G','T'][CAST((doc_id + 1) % 4 AS INT) + 1] AS b2,
         |    CAST(100 + doc_id % 900 AS VARCHAR) AS p1,
         |    CAST(200 + doc_id % 700 AS VARCHAR) AS p2,
         |    CAST(100 + doc_id % 899 AS VARCHAR) AS p3,
         |    CAST(101 + doc_id % 899 AS VARCHAR) AS p3b,
         |    CAST(300 + doc_id % 600 AS VARCHAR) AS p4,
         |    CAST(400 + doc_id % 500 AS VARCHAR) AS p5,
         |    CAST(1000 + doc_id % 9000 AS VARCHAR) AS rsid,
         |    [$aa3][CAST(doc_id % 20 AS INT) + 1] AS aa1,
         |    [$aa3][CAST((doc_id + 7) % 20 AS INT) + 1] AS aa2,
         |    [$aa1][CAST(doc_id % 20 AS INT) + 1] AS a1,
         |    [$aa1][CAST((doc_id + 7) % 20 AS INT) + 1] AS a2
         |  FROM documents)
         |SELECT doc_id, start, "end", match, hgvs, mutation_type, wt, mut,
         |       found_with, is_protein, is_nucleotide, ambiguous
         |FROM (
         |  SELECT doc_id, L+9 AS start, L+17 AS "end",
         |    'c.' || p1 || b1 || '>' || b2 AS match,
         |    'c.' || p1 || b1 || '>' || b2 AS hgvs,
         |    'SUBSTITUTION' AS mutation_type, b1 AS wt, b2 AS mut,
         |    'SETH' AS found_with, false AS is_protein,
         |    true AS is_nucleotide, false AS ambiguous
         |  FROM v
         |  UNION ALL
         |  SELECT doc_id, L+22, L+31,
         |    'c.' || p2 || 'del' || b1, 'c.' || p2 || 'del' || b1,
         |    'DELETION', b1, '', 'SETH', false, true, false FROM v
         |  UNION ALL
         |  SELECT doc_id, L+37, L+51,
         |    'c.' || p3 || '_' || p3b || 'ins' || b2 || b1,
         |    'c.' || p3 || '_' || p3b || 'ins' || b2 || b1,
         |    'INSERTION', '', b2 || b1, 'SETH', false, true, false FROM v
         |  UNION ALL
         |  SELECT doc_id, L+57, L+68,
         |    'p.' || aa1 || p4 || aa2, 'p.' || aa1 || p4 || aa2,
         |    'SUBSTITUTION', a1, a2, 'SETH', true, false, false FROM v
         |  UNION ALL
         |  SELECT doc_id, L+80, L+90,
         |    'p.' || aa1 || p5 || 'fs', 'p.' || aa1 || p5 || 'fs',
         |    'FRAMESHIFT', a1, '', 'SETH', true, false, false FROM v
         |  UNION ALL
         |  SELECT doc_id, L+95, L+101,
         |    'rs' || rsid, 'rs' || rsid,
         |    'DBSNP', '', '', 'DBSNP', false, false, false FROM v
         |  UNION ALL
         |  -- parenthesized literature form "(p.Aa2NNNAa1)": the recognizer
         |  -- keeps the mention and trims the sentence's close paren
         |  SELECT doc_id, L+115, L+126,
         |    'p.' || aa2 || p4 || aa1, 'p.' || aa2 || p4 || aa1,
         |    'SUBSTITUTION', a2, a1, 'SETH', true, false, false FROM v)
         |ORDER BY doc_id, start""".stripMargin
    },
    // OPSIN chemistry resolution: the oracle reconstructs the repaired
    // entity (full-name span + SMILES) per doc from doc_id; residue-4 docs
    // plant an unresolvable name → filtered out (parse-failure path)
    "kg_opsin" -> {
      val nameCase = opsinPlantedNames.take(4).zipWithIndex
        .map { case ((n, _), i) => s"WHEN $i THEN '$n'" }.mkString(" ")
      val lenCase = opsinPlantedNames.take(4).zipWithIndex
        .map { case ((n, _), i) => s"WHEN $i THEN ${n.length}" }.mkString(" ")
      val smilesCase = opsinPlantedNames.take(4).zipWithIndex
        .map { case ((_, s), i) => s"WHEN $i THEN '$s'" }.mkString(" ")
      s"""SELECT doc_id,
         |  length(text) + 7 AS start,
         |  length(text) + 7 + (CASE doc_id % 5 $lenCase END) AS "end",
         |  CASE doc_id % 5 $nameCase END AS match,
         |  CASE doc_id % 5 $smilesCase END AS smiles
         |FROM documents
         |WHERE doc_id % 5 <> 4
         |ORDER BY doc_id""".stripMargin
    },
    // spaCy-step NER: one planted ruler entity per doc — the oracle
    // reconstructs the entity (token-boundary phrase match, LOWERCASED
    // label) and its containing token-derived sentence span from doc_id
    "kg_spacy_ner" -> {
      val phraseCase = spacyPlantedSents.zipWithIndex
        .map { case ((_, p, _), i) => s"WHEN $i THEN '$p'" }.mkString(" ")
      val phraseLenCase = spacyPlantedSents.zipWithIndex
        .map { case ((_, p, _), i) => s"WHEN $i THEN ${p.length}" }.mkString(" ")
      val classCase = spacyPlantedSents.zipWithIndex
        .map { case ((_, _, l), i) =>
          s"WHEN $i THEN '${l.toLowerCase(java.util.Locale.ROOT)}'" }.mkString(" ")
      val bodyLenCase = spacyPlantedSents.zipWithIndex
        .map { case ((b, _, _), i) => s"WHEN $i THEN ${b.length}" }.mkString(" ")
      s"""SELECT doc_id,
         |  length(text) + 2 AS start,
         |  length(text) + 2 + (CASE doc_id % 3 $phraseLenCase END) AS "end",
         |  CASE doc_id % 3 $phraseCase END AS match,
         |  CASE doc_id % 3 $classCase END AS entity_class,
         |  length(text) + 2 AS sent_start,
         |  length(text) + 2 + (CASE doc_id % 3 $bodyLenCase END) AS sent_end
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    },
    // stanza-step sentence segmentation: the oracle re-derives the
    // token-derived tail sentence spans from the LITERAL constants in
    // stanzaPlantedTails (hand-derived, pipeline-independent — a
    // tokenizer regression fails here instead of shifting both sides;
    // the tail is position-independent because ". " always closes the
    // preceding sentence) and the write-once failure rows for residue-2
    "kg_stanza_sentences" -> {
      val okRows = stanzaPlantedTails.take(2).zipWithIndex.flatMap {
        case ((_, spans), r) =>
          spans.map { case (a, b) =>
            s"""SELECT doc_id, length(text) + $a AS sent_start,
               |  length(text) + $b AS sent_end, '' AS error
               |FROM documents WHERE doc_id % 3 = $r""".stripMargin
          }
      }
      val errRow =
        s"""SELECT doc_id, CAST(NULL AS BIGINT) AS sent_start,
           |  CAST(NULL AS BIGINT) AS sent_end,
           |  '${graft.ner.StanzaSentencer.Namespace}: Immutable sentence_spans is already set' AS error
           |FROM documents WHERE doc_id % 3 = 2""".stripMargin
      (okRows :+ errRow).mkString("", "\nUNION ALL\n", "\nORDER BY doc_id, sent_start")
    },
    // acceptance P/R: pred + gold both re-derived from the full-dump
    // derivation, tp/fp/fn via the soft-span overlap join
    "kg_acceptance" ->
      s"""WITH spans AS MATERIALIZED (
         |  SELECT DISTINCT url, start, "end",
         |         replace(pred, 'mentions_', '') AS entity_class
         |  FROM (${OracleSql.kgTriples})),
         |gold AS MATERIALIZED (
         |  SELECT url, start, "end", entity_class FROM spans
         |  WHERE entity_class = 'operator'
         |  UNION
         |  SELECT DISTINCT url, 0, 5, 'component' FROM spans),
         |pred AS MATERIALIZED (SELECT url, start, "end", entity_class FROM spans),
         |ov AS MATERIALIZED (
         |  SELECT p.url, p.start, p."end", p.entity_class,
         |         g.start AS g_start, g."end" AS g_end
         |  FROM pred p JOIN gold g
         |    ON p.url = g.url AND p.entity_class = g.entity_class
         |   AND g.start < p."end" AND p.start < g."end"),
         |tpc AS (SELECT entity_class, count(*) AS tp FROM (
         |  SELECT DISTINCT url, g_start, g_end, entity_class FROM ov)
         |  GROUP BY entity_class),
         |fpc AS (SELECT entity_class, count(*) AS fp FROM (
         |  SELECT url, start, "end", entity_class FROM pred
         |  EXCEPT
         |  SELECT DISTINCT url, start, "end", entity_class FROM ov)
         |  GROUP BY entity_class),
         |fnc AS (SELECT entity_class, count(*) AS fn FROM (
         |  SELECT url, start, "end", entity_class FROM gold
         |  EXCEPT
         |  SELECT DISTINCT url, g_start, g_end, entity_class FROM ov)
         |  GROUP BY entity_class),
         |cls AS (SELECT DISTINCT entity_class FROM (
         |  SELECT entity_class FROM pred UNION SELECT entity_class FROM gold))
         |SELECT entity_class,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn,
         |  CASE WHEN tp + fp = 0 THEN 0.0
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS "precision",
         |  CASE WHEN tp + fn = 0 THEN 0.0
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall
         |FROM (
         |  SELECT c.entity_class, coalesce(t.tp, 0) AS tp,
         |         coalesce(f.fp, 0) AS fp, coalesce(n.fn, 0) AS fn
         |  FROM cls c LEFT JOIN tpc t USING (entity_class)
         |  LEFT JOIN fpc f USING (entity_class)
         |  LEFT JOIN fnc n USING (entity_class))
         |ORDER BY entity_class""".stripMargin,
    // corpus×corpus acceptance: pred = full-pipeline spans, gold =
    // trie-only-pipeline spans (both re-derived from their dump
    // derivations); bucketing is an execution rewrite with identical
    // semantics, so the oracle replays the plain interval join
    "kg_acceptance_corpus" ->
      s"""WITH pred AS MATERIALIZED (
         |  SELECT DISTINCT url, start, "end",
         |         replace(pred, 'mentions_', '') AS entity_class
         |  FROM (${OracleSql.kgTriples})),
         |gold AS MATERIALIZED (
         |  SELECT DISTINCT url, start, "end",
         |         replace(pred, 'mentions_', '') AS entity_class
         |  FROM (${OracleSql.kgTriplesTrieOnly})),
         |ov AS MATERIALIZED (
         |  SELECT p.url, p.start, p."end", p.entity_class,
         |         g.start AS g_start, g."end" AS g_end
         |  FROM pred p JOIN gold g
         |    ON p.url = g.url AND p.entity_class = g.entity_class
         |   AND g.start < p."end" AND p.start < g."end"),
         |tpc AS (SELECT entity_class, count(*) AS tp FROM (
         |  SELECT DISTINCT url, g_start, g_end, entity_class FROM ov)
         |  GROUP BY entity_class),
         |fpc AS (SELECT entity_class, count(*) AS fp FROM (
         |  SELECT url, start, "end", entity_class FROM pred
         |  EXCEPT
         |  SELECT DISTINCT url, start, "end", entity_class FROM ov)
         |  GROUP BY entity_class),
         |fnc AS (SELECT entity_class, count(*) AS fn FROM (
         |  SELECT url, start, "end", entity_class FROM gold
         |  EXCEPT
         |  SELECT DISTINCT url, g_start, g_end, entity_class FROM ov)
         |  GROUP BY entity_class),
         |cls AS (SELECT DISTINCT entity_class FROM (
         |  SELECT entity_class FROM pred UNION SELECT entity_class FROM gold))
         |SELECT entity_class,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn,
         |  CASE WHEN tp + fp = 0 THEN 0.0
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS "precision",
         |  CASE WHEN tp + fn = 0 THEN 0.0
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall
         |FROM (
         |  SELECT c.entity_class, coalesce(t.tp, 0) AS tp,
         |         coalesce(f.fp, 0) AS fp, coalesce(n.fn, 0) AS fn
         |  FROM cls c LEFT JOIN tpc t USING (entity_class)
         |  LEFT JOIN fpc f USING (entity_class)
         |  LEFT JOIN fnc n USING (entity_class))
         |ORDER BY entity_class""".stripMargin,
    // linking acceptance: the same planted perturbations + per-source set
    // algebra replayed over the full-dump derivation
    "kg_acceptance_linking" -> {
      // the closed ontology's default labels, shipped as literals — part of
      // the reference's mapping identity (source, "default_label|idx")
      val labelVals = CorpusOntology.rows.map(r => (r.idx, r.defaultLabel))
        .distinct.sorted.map { case (i, l) => s"('$i', '$l')" }.mkString(", ")
      s"""WITH labels(idx, default_label) AS (VALUES $labelVals),
         |m AS MATERIALIZED (
         |  SELECT DISTINCT d.url, d.start, d."end",
         |         replace(d.pred, 'mentions_', '') AS entity_class,
         |         split_part(d.obj, ':', 1) AS source, l.default_label,
         |         d.obj AS idx
         |  FROM (${OracleSql.kgTriples}) d JOIN labels l ON l.idx = d.obj),
         |g AS MATERIALIZED (
         |  SELECT url, start, "end", entity_class, source,
         |         CASE WHEN idx = 'OP:FILTER'
         |               AND CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) % 7 = 0
         |              THEN 'filter-renamed' ELSE default_label END AS default_label,
         |         CASE WHEN idx = 'OP:SORT' THEN 'OP:SORTED'
         |              WHEN source = 'SYS'
         |               AND CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) % 2 = 1
         |              THEN idx || 'X'
         |              ELSE idx END AS idx
         |  FROM m),
         |pe AS (SELECT DISTINCT url, start, "end", entity_class FROM m),
         |ge AS (SELECT DISTINCT url, start AS g_start, "end" AS g_end,
         |              entity_class FROM g),
         |ov AS MATERIALIZED (
         |  SELECT DISTINCT p.url, e.g_start, e.g_end, p.entity_class,
         |         p.start, p."end"
         |  FROM pe p JOIN ge e
         |    ON p.url = e.url AND p.entity_class = e.entity_class
         |   AND e.g_start < p."end" AND p.start < e.g_end),
         |tm AS MATERIALIZED (
         |  SELECT DISTINCT o.url, o.g_start, o.g_end, o.entity_class,
         |         m.source, m.default_label, m.idx
         |  FROM ov o JOIN m ON m.url = o.url AND m.start = o.start
         |   AND m."end" = o."end" AND m.entity_class = o.entity_class),
         |gk AS (SELECT DISTINCT url, g_start, g_end, entity_class FROM ov),
         |gm AS MATERIALIZED (
         |  SELECT DISTINCT g.url, g.start AS g_start, g."end" AS g_end,
         |         g.entity_class, g.source, g.default_label, g.idx
         |  FROM g JOIN gk ON g.url = gk.url AND g.start = gk.g_start
         |   AND g."end" = gk.g_end AND g.entity_class = gk.entity_class),
         |tpc AS (SELECT source, count(*) AS tp FROM (
         |  SELECT * FROM gm INTERSECT SELECT * FROM tm) GROUP BY source),
         |fnc AS (SELECT source, count(*) AS fn FROM (
         |  SELECT * FROM gm EXCEPT SELECT * FROM tm) GROUP BY source),
         |fpc AS (SELECT source, count(*) AS fp FROM (
         |  SELECT * FROM tm EXCEPT SELECT * FROM gm) GROUP BY source),
         |srcs AS (SELECT DISTINCT source FROM (
         |  SELECT source FROM gm UNION SELECT source FROM tm))
         |SELECT source,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn,
         |  CASE WHEN tp + fp = 0 THEN 0.0
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS "precision",
         |  CASE WHEN tp + fn = 0 THEN 0.0
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall
         |FROM (
         |  SELECT s.source, coalesce(t.tp, 0) AS tp, coalesce(f.fp, 0) AS fp,
         |         coalesce(n.fn, 0) AS fn
         |  FROM srcs s LEFT JOIN tpc t USING (source)
         |  LEFT JOIN fpc f USING (source)
         |  LEFT JOIN fnc n USING (source))
         |ORDER BY source""".stripMargin
    },
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_revenue_cents,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q3_topk" ->
      """SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_custkey
        |ORDER BY revenue_cents DESC, o_custkey LIMIT 10""".stripMargin,
    "q4_antijoin" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers_no_orders
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q5_window_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |        OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q6_percentiles" ->
      """WITH e AS (SELECT event_type,
        |             CAST(round(value * 100) AS BIGINT) AS value_cents
        |           FROM events)
        |SELECT event_type,
        |  CAST(quantile_cont(value_cents, 0.5) AS DOUBLE) AS p50_cents,
        |  CAST(quantile_cont(value_cents, 0.9) AS DOUBLE) AS p90_cents,
        |  CAST(min(value_cents) AS BIGINT) AS min_cents,
        |  CAST(max(value_cents) AS BIGINT) AS max_cents
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q7_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        |       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS text_md5,
        |  CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_same_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
        |  FROM documents WHERE doc_id < 100)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.words, b.words)) * 1.0 /
        |        len(list_distinct(list_concat(a.words, b.words))), 4) AS jaccard
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.words, b.words)) * 1.0 /
        |      len(list_distinct(list_concat(a.words, b.words))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // independent exact check of the distributed label propagation: the
    // oracle computes the transitive closure of the j≥0.8 graph recursively
    "dedup_clusters" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
        |      FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.words, b.words)) * 1.0 /
        |        len(list_distinct(list_concat(a.words, b.words))) >= 0.8),
        |edges AS (SELECT da AS s, db AS t FROM pairs
        |          UNION SELECT db, da FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT reach.doc_id, e.t FROM reach JOIN edges e ON e.s = reach.r)
        |SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
        |       min(r) = doc_id AS is_canonical
        |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "corpus_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (((doc_id + 17) % 2147483648) * 2654435761) % 10000 <
        |      CASE WHEN lang = 'en' THEN 3000
        |           WHEN lang IN ('de', 'fr', 'es', 'zh') THEN 1000
        |           ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    // independent check of the Catalyst normalize/classify expressions: a
    // fixture produced by EXECUTING THE REFERENCE IMPLEMENTATION
    // (kazu.utils.string_normalizer.StringNormalizer.normalize /
    // classify_symbolic, driver-side python) over the closed corpus
    // vocabulary; the oracle re-derives the distinct-word set from the
    // documents table and inner-joins, so an engine word missing from the
    // fixture (or vice versa) fails the row-count compare loudly
    "kg_normalize_vocab" ->
      s"""WITH words AS (
        |  SELECT DISTINCT unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |fx AS (
        |  SELECT * FROM read_csv(
        |    '${fixturePath("normalize_vocab_fixture.tsv")}',
        |    delim='\\t', header=true,
        |    columns={'word': 'VARCHAR', 'syn_norm': 'VARCHAR',
        |             'is_symbolic': 'BOOLEAN'}))
        |SELECT w.word, fx.syn_norm, fx.is_symbolic
        |FROM words w JOIN fx USING (word)
        |WHERE w.word != ''
        |ORDER BY w.word""".stripMargin,
    // the flagship: the FULL end-to-end triple dump (offsets included),
    // re-derived relationally with no exclusions — see OracleSql.kgTriples
    "kg_triples" -> OracleSql.kgTriples,
    "kg_classfilter" -> OracleSql.kgClassFilter,
    // the hash-sketch operators: kernels recomputed in SQL with HUGEINT
    // mod-2^64 arithmetic (OracleSql) — independent bit-exact checks of the
    // minhash/simhash/Rabin–Karp pipelines, constants shipped as literals
    "dedup_minhash" -> OracleSql.dedupMinhash,
    "dedup_substring" -> OracleSql.dedupSubstring(minShared = 2, maxPosting = 20L),
    "dedup_substring_spans" -> OracleSql.substringSpans(p = 8, l = 64),
    "c4_quality" -> OracleSql.c4Quality(c4DocsSource, graft.tdp.C4.DefaultBlocklist),
    "pack_sequences" -> OracleSql.packSequences(capacity = 256L),
    "corpus_mix" -> OracleSql.corpusMix(budget = 200L, salt = 17L),
    "lm_surprisal" -> OracleSql.lmSurprisal(keepMeanBitsX100 = 505L),
    "c4_three_sentence_dedup" -> OracleSql.c4ThreeSentenceDedup(c4DocsSource),
    "url_canonical" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    'https://graft.test/doc/' || CAST(doc_id // 4 AS VARCHAR) ||
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN '?a=1&b=2'
        |      WHEN 1 THEN '?a=1&b=2'
        |      WHEN 2 THEN ''
        |      ELSE '?a=1' END AS url_canonical
        |  FROM documents),
        |g AS (SELECT url_canonical, min(doc_id) AS canonical_doc,
        |             count(*) AS n_same_url
        |      FROM c GROUP BY url_canonical)
        |SELECT c.doc_id, c.url_canonical, g.canonical_doc,
        |       CAST(g.n_same_url AS BIGINT) AS n_same_url,
        |       c.doc_id != g.canonical_doc AS is_dup
        |FROM c JOIN g USING (url_canonical)
        |ORDER BY c.doc_id""".stripMargin,
    "dedup_url_text" ->
      """WITH t AS (
        |  SELECT d.doc_id, s.text
        |  FROM documents d JOIN documents s ON s.doc_id = d.doc_id - d.doc_id % 8),
        |c AS (
        |  SELECT doc_id,
        |    'https://graft.test/doc/' || CAST(doc_id // 4 AS VARCHAR) ||
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN '?a=1&b=2'
        |      WHEN 1 THEN '?a=1&b=2'
        |      WHEN 2 THEN ''
        |      ELSE '?a=1' END AS url_canonical
        |  FROM documents),
        |g AS (SELECT url_canonical, min(doc_id) AS canonical_doc,
        |             count(*) AS n_same_url
        |      FROM c GROUP BY url_canonical),
        |reps AS (SELECT c.doc_id, c.url_canonical, g.n_same_url
        |         FROM c JOIN g USING (url_canonical)
        |         WHERE c.doc_id = g.canonical_doc),
        |rh AS (SELECT r.doc_id, r.url_canonical, r.n_same_url, md5(t.text) AS h
        |       FROM reps r JOIN t USING (doc_id)),
        |hc AS (SELECT h, min(doc_id) AS content_canonical,
        |              count(*) AS n_same_content
        |       FROM rh GROUP BY h)
        |SELECT rh.doc_id, rh.url_canonical,
        |       CAST(rh.n_same_url AS BIGINT) AS n_same_url,
        |       hc.content_canonical,
        |       CAST(hc.n_same_content AS BIGINT) AS n_same_content,
        |       rh.doc_id != hc.content_canonical AS is_content_dup
        |FROM rh JOIN hc USING (h)
        |ORDER BY rh.doc_id""".stripMargin,
    "dedup_paragraph" -> OracleSql.dedupParagraph(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN 'cookie notice accept our terms and privacy policy before continuing to read this page content here now ok fine yes please do thank you ' || text
        |       ELSE text END AS text
        |FROM documents""".stripMargin),
    "dedup_paragraph_nl" ->
      OracleSql.dedupParagraph(nlDocsSource, newlineStructure = true),
    "gopher_repetition_nl" ->
      OracleSql.gopherRepetition(nlDocsSource, newlineStructure = true),
    "dedup_simhash" -> OracleSql.dedupSimhash,
    "doc_fingerprint" -> OracleSql.docFingerprint,
    "pii_scrub" -> {
      val email = TextStats.EmailRe
      val phone = TextStats.PhoneRe
      val ip = TextStats.Ipv4Re
      s"""WITH t AS (
         |  SELECT doc_id,
         |         text || ' contact bob@example.com or 555-123-4567 at 10.0.0.1 now.' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(text, '$email', '[EMAIL]', 'g'), '$phone')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(regexp_replace(text, '$email', '[EMAIL]', 'g'),
         |                   '$phone', '[PHONE]', 'g'), '$ip')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |      '$email', '[EMAIL]', 'g'), '$phone', '[PHONE]', 'g'),
         |      '$ip', '[IP]', 'g')) AS scrubbed_md5
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "decontaminate" -> decontaminateOracle,
    // identical SQL by construction: the sharded join path must produce
    // byte-identical output to the broadcast path
    "decontaminate_sharded" -> decontaminateOracle,
    "dedup_stream" ->
      """WITH p AS (
        |  SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) AS bsz FROM documents),
        |h AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS url, md5(text) AS text_md5,
        |         doc_id // (SELECT bsz FROM p) AS b
        |  FROM documents)
        |SELECT url, text_md5, rn = 1 AS is_first_seen,
        |       CAST(rn AS BIGINT) AS n_occurrence
        |FROM (SELECT url, text_md5,
        |             row_number() OVER (PARTITION BY text_md5 ORDER BY b, url) AS rn
        |      FROM h)
        |ORDER BY url""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS BIGINT) AS n_stopwords,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "gopher_repetition" ->
      OracleSql.gopherRepetition(
        """SELECT doc_id, text
          |  || CASE WHEN doc_id % 4 = 0
          |          THEN ' ' || array_to_string(string_split(text, ' ')[1:12], ' ')
          |          ELSE '' END
          |  || CASE WHEN doc_id % 10 = 0
          |          THEN ' ' || array_to_string(string_split(text, ' ')[1:24], ' ')
          |          ELSE '' END AS text
          |FROM documents""".stripMargin),
    "gopher_quality" ->
      OracleSql.gopherQuality(
        """SELECT doc_id,
          |  CASE WHEN doc_id % 5 = 0 THEN '- ' ELSE '' END || text
          |  || CASE WHEN doc_id % 3 = 0 THEN ' of the' ELSE '' END
          |  || CASE WHEN doc_id % 7 = 0 THEN ' 42 ## ...' ELSE '' END AS text
          |FROM documents""".stripMargin),
    "bpe_tokens" -> OracleSql.bpeTokens(graft.text.Bpe.committed),
    "lang_id" -> {
      // replicate TextStats.predictLang relationally: per-language
      // stopword-profile vote (int/int division is bit-identical), zh =
      // non-ascii char ratio, argmax with (-score, lang) tiebreak
      val profiles = TextStats.LangProfiles.toSeq.sortBy(_._1).map { case (l, ws) =>
        if (ws.isEmpty) s"('$l', [])"
        else s"('$l', [${ws.toSeq.sorted.map(w => s"'$w'").mkString(", ")}])"
      }.mkString(", ")
      s"""WITH profiles(lang, words) AS (VALUES $profiles),
         |toks AS (
         |  SELECT doc_id, text,
         |         regexp_split_to_array(lower(text), '\\s+') AS ws
         |  FROM documents),
         |scored AS (
         |  SELECT t.doc_id, p.lang,
         |         CASE WHEN p.lang = 'zh' THEN
         |           CAST(length(regexp_replace(t.text, '[\\x00-\\x7F]', '', 'g')) AS DOUBLE)
         |             / greatest(length(t.text), 1)
         |         ELSE
         |           CAST(len(list_filter(t.ws, x -> list_contains(p.words, x))) AS DOUBLE)
         |             / len(t.ws)
         |         END AS score
         |  FROM toks t CROSS JOIN profiles p),
         |ranked AS (
         |  SELECT doc_id, lang, score,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
         |  FROM scored)
         |SELECT doc_id, lang AS lang_pred, score AS lang_score
         |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    "multimodal_meta" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_frames,
        |                  8 + doc_id % 24 AS w, 8 + (doc_id * 31) % 24 AS h
        |           FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |         sum((x.range + y.range + d.doc_id + f.range) % 256) AS px_sum
        |  FROM d, range(3) f, range(32) x, range(32) y
        |  WHERE f.range < d.n_frames AND x.range < d.w AND y.range < d.h
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id, CAST(d.n_frames AS BIGINT) AS n_frames,
        |       CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |       CAST(d.w * d.h AS BIGINT) AS n_pixels,
        |       CAST(px.px_sum AS BIGINT) AS px_sum
        |FROM d JOIN px USING (doc_id) ORDER BY doc_id""".stripMargin,
    "multimodal_neardup" -> OracleSql.multimodalNearDup,
    "multimodal_hamming" -> OracleSql.multimodalHamming,
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[],
        |             b.embedding::DOUBLE[]), 4) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]), 4) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "ann_brute" ->
      """WITH q AS (SELECT vec_id AS q_vec_id, embedding AS q_emb
        |           FROM embeddings WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q.q_vec_id, e.vec_id AS neighbor_vec_id,
        |         round(list_cosine_similarity(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cos_sim
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.q_vec_id),
        |ranked AS (
        |  SELECT q_vec_id, neighbor_vec_id, cos_sim,
        |         row_number() OVER (PARTITION BY q_vec_id
        |                            ORDER BY cos_sim DESC, neighbor_vec_id) AS rank
        |  FROM pairs)
        |SELECT q_vec_id, CAST(rank AS BIGINT) AS rank, neighbor_vec_id, cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,
    // replicates the banded multi-table index bit-for-bit: identical plane
    // literals, sign-bit buckets, same-bucket candidates, exact-cosine top-k
    "ann_lsh" ->
      s"""WITH planes(tbl, pidx, vals) AS (VALUES ${lshPlaneValues(OracleLshConfig)}),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |sig AS (
         |  SELECT e.vec_id, p.tbl,
         |         CAST(sum(CASE WHEN list_dot_product(e.emb, p.vals) >= 0
         |                       THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e CROSS JOIN planes p GROUP BY e.vec_id, p.tbl),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_vec_id, s.vec_id AS neighbor_vec_id
         |  FROM sig q JOIN sig s ON s.tbl = q.tbl AND s.bucket = q.bucket
         |  WHERE q.vec_id < 10 AND s.vec_id != q.vec_id),
         |scored AS (
         |  SELECT c.q_vec_id, c.neighbor_vec_id,
         |         round(list_cosine_similarity(eq.emb, en.emb), 4) AS cos_sim
         |  FROM cand c JOIN e eq ON eq.vec_id = c.q_vec_id
         |              JOIN e en ON en.vec_id = c.neighbor_vec_id),
         |ranked AS (
         |  SELECT q_vec_id, neighbor_vec_id, cos_sim,
         |         row_number() OVER (PARTITION BY q_vec_id
         |                            ORDER BY cos_sim DESC, neighbor_vec_id) AS rank
         |  FROM scored)
         |SELECT q_vec_id, CAST(rank AS BIGINT) AS rank, neighbor_vec_id, cos_sim
         |FROM ranked WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,
    // replicates IVF with the deterministic strided-seed quantizer
    // (kmeansIters=0): sample = vec_id % 7 ordered, centroid c = sample row
    // floor(c·n/8); nearest-centroid assignment (L2, cell tiebreak); each
    // query probes its 4 closest cells by cosine
    "ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |samp0 AS (SELECT vec_id, emb FROM e WHERE vec_id % 7 = 0
        |          ORDER BY vec_id LIMIT 2048),
        |samp AS (SELECT emb, row_number() OVER (ORDER BY vec_id) - 1 AS rn
        |         FROM samp0),
        |cent AS (SELECT r.range AS cell, s.emb AS cemb
        |         FROM range(8) r JOIN samp s
        |           ON s.rn = (r.range * (SELECT count(*) FROM samp)) // 8),
        |assign AS (
        |  SELECT e.vec_id, e.emb, c.cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |                            ORDER BY list_distance(e.emb, c.cemb), c.cell) AS rnk
        |  FROM e CROSS JOIN cent c),
        |cells AS (SELECT vec_id, emb, cell FROM assign WHERE rnk = 1),
        |probes AS (
        |  SELECT q_vec_id, cell FROM (
        |    SELECT q.vec_id AS q_vec_id, c.cell,
        |           row_number() OVER (PARTITION BY q.vec_id
        |                              ORDER BY list_cosine_similarity(q.emb, c.cemb) DESC, c.cell) AS rnk
        |    FROM e q CROSS JOIN cent c WHERE q.vec_id < 10)
        |  WHERE rnk <= 4),
        |cand AS (
        |  SELECT DISTINCT p.q_vec_id, s.vec_id AS neighbor_vec_id
        |  FROM probes p JOIN cells s ON s.cell = p.cell
        |  WHERE s.vec_id != p.q_vec_id),
        |scored AS (
        |  SELECT c.q_vec_id, c.neighbor_vec_id,
        |         round(list_cosine_similarity(eq.emb, en.emb), 4) AS cos_sim
        |  FROM cand c JOIN e eq ON eq.vec_id = c.q_vec_id
        |              JOIN e en ON en.vec_id = c.neighbor_vec_id),
        |ranked AS (
        |  SELECT q_vec_id, neighbor_vec_id, cos_sim,
        |         row_number() OVER (PARTITION BY q_vec_id
        |                            ORDER BY cos_sim DESC, neighbor_vec_id) AS rank
        |  FROM scored)
        |SELECT q_vec_id, CAST(rank AS BIGINT) AS rank, neighbor_vec_id, cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin
  )
}

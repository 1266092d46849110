package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.ner.EntitySplitter
import graft.link.{EmbeddingLinking, Xref}
import graft.index.Resources
import graft.ontology.OntologyRow

class ExplosionMatcherSpec extends AnyFunSuite {
  import graft.ner.{ExplosionMatcher, TrieNer}
  import graft.index.Resources
  import graft.ontology.OntologyRow

  test("strict vs lowercase matchers honour per-synonym case sensitivity") {
    // autocuration marks symbolic synonyms case-sensitive: "EGFR" must
    // match only in original case; "tumour" matches any casing
    val rows = Seq(
      OntologyRow("G", "gene", "G:1", "EGFR", "EGFR", "t"),
      OntologyRow("D", "disease", "D:1", "tumour", "tumour", "t"))
    val res = Resources.build(rows,
      p => if (p == "G") "gene" else "disease", version = "expl/1")
    val hit = ExplosionMatcher.matchText(res, "EGFR causes a Tumour")
    assert(hit.map(e => (e.matchStr, e.entityClass)).toSet ==
      Set(("EGFR", "gene"), ("Tumour", "disease")))
    // linking candidates attached at match time (joint NER + linking)
    assert(hit.forall(_.candidates.nonEmpty))
    assert(hit.forall(_.candidates.forall(_.metrics.exactMatch.contains(true))))
    // lowercase "egfr" must NOT match the case-sensitive symbol
    val miss = ExplosionMatcher.matchText(res, "egfr causes a tumour")
    assert(miss.map(_.matchStr) == Seq("tumour"))
  }

  test("multi-token phrases match as token sequences") {
    val res = Resources.corpus
    val hits = ExplosionMatcher.matchText(res, "a hash join and a table scan")
    val byMatch = hits.map(e => e.matchStr -> e).toMap
    assert(byMatch.contains("hash join") && byMatch.contains("table scan"))
    assert(byMatch("hash join").candidates
      .exists(_.candidate.synonymNorm == "HASH JOIN"))
  }

  test("pipeline with explosion matcher yields identical triples to the char-trie pipeline") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    import org.apache.spark.sql.functions.expr
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val pages = graft.pipeline.Pages.fromDocuments(spark, "/root/testdata/sf0.001")
      .filter(expr("cast(regexp_extract(url, '([0-9]+)$', 1) as long) < 40"))
    val (a, _) = graft.pipeline.Pipeline.run(spark, pages, res)
    // the same step list with the gazetteer step swapped
    val (b, _) = graft.pipeline.Pipeline.runSteps(spark, pages, res,
      graft.pipeline.Pipeline.Config())(ExplosionMatcherSpec.withExplosionMatcher)
    def key(t: graft.model.Triple) = (t.url, t.start, t.end, t.pred, t.obj, t.confidence)
    val ta = graft.triples.Triples.fromDocs(spark, a).collect().map(key).toSet
    val tb = graft.triples.Triples.fromDocs(spark, b).collect().map(key).toSet
    assert(ta.nonEmpty && ta == tb,
      s"a-only=${(ta -- tb).take(3)} b-only=${(tb -- ta).take(3)}")
  }

  test("cross-validation: explosion matcher ≡ char-trie NER on the corpus") {
    // both steps implement the same gazetteer semantics (the reference's
    // default superseded the explosion step with the char automaton); they
    // must agree entity-for-entity: spans, classes, confidences, candidates
    val res = Resources.corpus
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val texts = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("text").limit(200)
        .collect().map(_.getString(0))
      texts.foreach { t =>
        def key(e: graft.model.Mention) =
          (e.start, e.end, e.entityClass, e.mentionConfidence,
            e.candidates.map(c => (c.candidate.parserName, c.candidate.synonymNorm)).toSet)
        val trie = TrieNer.matchText(res, t).map(key).toSet
        val expl = ExplosionMatcher.matchText(res, t).map(key).toSet
        assert(trie == expl,
          s"divergence on '${t.take(80)}...': trie-only=${(trie -- expl).take(3)} expl-only=${(expl -- trie).take(3)}")
      }
    } finally () // shared session; do not stop
  }
}

object ExplosionMatcherSpec {
  /** The default step list with the explosion-style matcher as `trie_ner`. */
  val withExplosionMatcher: Resources => Seq[graft.pipeline.Pipeline.Step] = r =>
    graft.pipeline.Pipeline.steps(r).map { s =>
      if (s.name != "trie_ner") s
      else graft.pipeline.Pipeline.Step(s.name, () => graft.ner.ExplosionMatcher.processDoc(r))
    }
}

class EntitySplitterSpec extends AnyFunSuite {
  private def m(text: String, s: Int, e: Int, cls: String): Mention =
    Mention(text.substring(s, e), cls, Seq(CharSpan(s, e)), "t", 50, "N")

  private val cfg = EntitySplitter.Config(
    numericalClasses = Set("gene"), conjunctionClasses = Set("disease"))

  test("numerical list: HER2/3 → HER2 + HER3 (exact reference semantics)") {
    val text = "HER2/3 amplified"
    val out = EntitySplitter.splitNumericalList(m(text, 0, 6, "gene"), text)
    assert(out.map(_.matchStr) == Seq("HER2", "HER3"))
    val her3 = out(1)
    assert(her3.spans == Seq(CharSpan(0, 3), CharSpan(5, 6)))
    assert(!her3.isContiguous && out.head.isContiguous)
  }

  test("conjunction: lung and liver cancer → liver cancer + lung cancer") {
    val text = "lung and liver cancer"
    val out = EntitySplitter.splitConjunction(m(text, 0, 21, "disease"), text)
    assert(out.map(_.matchStr) == Seq("liver cancer", "lung cancer"))
    assert(out(1).spans == Seq(CharSpan(0, 4), CharSpan(15, 21)))
  }

  test("no split on plain mentions") {
    val text = "breast cancer"
    assert(EntitySplitter.split(cfg)(m(text, 0, 13, "disease"), text).isEmpty)
  }

  test("reference fixture table: every row passes (no divergences remain)") {
    // entity_splitter_cases.tsv ports the reference's own test inputs
    // (test_entity_post_processing.py) plus structurally re-derived
    // base-NP coordination shapes (round 7) — every row is executed and
    // asserted against its recorded expectation
    val lines = scala.io.Source.fromFile(
      "src/test/resources/entity_splitter_cases.tsv")("UTF-8")
      .getLines().drop(1).filter(_.nonEmpty).toSeq
    assert(lines.size >= 5)
    var passCount = 0
    lines.foreach { line =>
      val cols = line.split("\t")
      val (rule, cls, text) = (cols(1), cols(2), cols(3))
      val (s, e) = (cols(4).toInt, cols(5).toInt)
      val status = cols(7)
      val ent = m(text, s, e, cls)
      val got = EntitySplitter.split(cfg)(ent, text).map(_.matchStr).toSet
      if (cols(6) == "(none)") {
        // anchor-None rows: the reference emits NOTHING — so must we
        assert(got.isEmpty, s"${cols(0)} [$status]: expected no split, got $got")
      } else {
        val expected = cols(6).split("\\|").toSet
        assert(expected.subsetOf(got + ent.matchStr),
          s"${cols(0)} [$status]: expected $expected ⊄ $got")
      }
      got.foreach { g =>
        val sp = EntitySplitter.split(cfg)(ent, text).find(_.matchStr == g).get.spans
        sp.foreach(cs => assert(text.substring(cs.start, cs.end).nonEmpty))
      }
      if (status == "pass") passCount += 1
    }
    assert(passCount >= 7, "every fixture row must pass (no recorded divergences remain)")
  }

  test("splitter is reachable from Pipeline.run via config") {
    // wiring check without Spark: the step list applies the default
    // splitter config (numerical lists of genes) after NER
    val res = graft.index.Resources.corpus
    val doc = KDoc("u", new java.sql.Timestamp(0),
      "the XQ1/2 thing", "en",
      Seq(Section("body", "the XQ1/2 thing",
        Seq(m("the XQ1/2 thing", 4, 9, "gene")))))
    val out = graft.pipeline.Pipeline.compose(
      graft.pipeline.Pipeline.steps(res, withTransformerNer = false))(doc)
    val matches = out.entities.map(_.matchStr)
    assert(matches.contains("XQ2"), matches)
  }
}

class XrefSpec extends AnyFunSuite {
  test("xref expansion adds mappings in target ontologies") {
    val xm = Xref.XrefMap(Map(
      ("MONDO", "MONDO:1") -> Seq(
        Xref.XrefTarget("MEDDRA_DB", "MEDDRA", "M123", "breast cancer"))))
    val base = Mapping("breast cancer", "MONDO", "DIS_DB", "MONDO:1",
      "s", "HIGHLY_LIKELY", None, None)
    val e = Mention("breast cancer", "disease", Seq(CharSpan(0, 13)), "t", 50,
      "BREAST CANCER", mappings = Seq(base))
    val d = Xref.processDoc(xm)(KDoc("u", new java.sql.Timestamp(0), "x", "en",
      Seq(Section("s", "x", Seq(e)))))
    val mappings = d.entities.head.mappings
    assert(mappings.size == 2)
    assert(mappings.exists(m => m.source == "MEDDRA" && m.idx == "M123"))
  }
}

class EmbeddingLinkingSpec extends AnyFunSuite {
  private val rows = Seq(
    OntologyRow("DB", "disease", "D:1", "influenza", "influenza", "exact"),
    OntologyRow("DB", "disease", "D:2", "measles", "measles", "exact"))
  private val res = Resources.build(rows, _ => "disease", version = "embtest/1")

  test("attaches nearest-synonym candidates by embedding cosine") {
    val e = Mention("influenzas", "disease", Seq(CharSpan(0, 10)), "ModelNer",
      50, "INFLUENZA") // matchNorm (depluralized) == syn_norm → but assume
    val d = KDoc("u", new java.sql.Timestamp(0), "influenzas", "en",
      Seq(Section("s", "influenzas", Seq(e))))
    val out = EmbeddingLinking.processPartition(res)(Iterator(d)).next()
    val cands = out.entities.head.candidates
    assert(cands.nonEmpty)
    assert(cands.head.candidate.synonymNorm == "INFLUENZA")
    assert(cands.head.metrics.embedScore.exists(_ >= 0.7))
  }

  test("leaves entities with existing candidates untouched") {
    val cand = CandidateWithMetrics(
      LinkingCandidate("DB", "MEASLES", Seq("measles"), false, Seq("exact"),
        Seq(EquivalentIdSet(Seq(IdAndSource("D:2", "D")))), "UNAMBIGUOUS"),
      LinkingMetrics(exactMatch = Some(true)))
    val e = Mention("measles", "disease", Seq(CharSpan(0, 7)), "TrieNer", 50,
      "MEASLES", candidates = Seq(cand))
    val d = KDoc("u", new java.sql.Timestamp(0), "measles", "en",
      Seq(Section("s", "measles", Seq(e))))
    val out = EmbeddingLinking.processPartition(res)(Iterator(d)).next()
    assert(out.entities.head.candidates == Seq(cand))
  }

  test("a second embedder on the same bundle scores against its own synonym vectors") {
    val e = Mention("influenzas", "disease", Seq(CharSpan(0, 10)), "ModelNer", 50, "INFLUENZA")
    val d = KDoc("u", new java.sql.Timestamp(0), "influenzas", "en",
      Seq(Section("s", "influenzas", Seq(e))))
    def scores(embedder: graft.text.Similarity.Embedder) =
      EmbeddingLinking.processPartition(res, embedder)(Iterator(d)).next()
        .entities.head.candidates.map(c => c.candidate.synonymNorm -> c.metrics.embedScore.get)
    assert(scores(graft.ner.MiniBernEmbedder).head._1 == "INFLUENZA")
    // one vector for every string: every synonym scores 1.0
    val constant = new graft.text.Similarity.Embedder {
      private val v = graft.ner.MiniBernEmbedder.embed("constant")
      def embed(s: String): Array[Float] = v
    }
    val got = scores(constant)
    assert(got.map(_._1) == Seq("INFLUENZA", "MEASLE"))
    assert(got.forall(_._2 > 0.9999), got)
  }
}

class CurationSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.ontology._

  test("global actions drop ids via anti-join semantics") {
    val rows = CorpusOntology.rows
    val kept = Curation.applyGlobalActions(rows,
      Map("OPS" -> Set("OP:SORT")))
    assert(!kept.exists(_.idx == "OP:SORT"))
    assert(kept.exists(_.idx == "OP:FILTER"))
  }

  test("curation overrides replace defaults; conflicts resolved deterministically") {
    val defaults = Seq(StringResource("P", "disease", "FLU",
      Seq(SynonymSpec("flu", caseSensitive = false, MentionConfidence.Probable)),
      Behaviour.AddForNerAndLinking))
    val overrides = Seq(
      StringResource("P", "disease", "FLU",
        Seq(SynonymSpec("flu", caseSensitive = true, MentionConfidence.Possible)),
        Behaviour.AddForNerAndLinking),
      StringResource("P", "disease", "FLU",
        Seq(SynonymSpec("flu", caseSensitive = false, MentionConfidence.HighlyLikely)),
        Behaviour.AddForNerAndLinking),
      StringResource("P", "disease", "NEWSYN",
        Seq(SynonymSpec("newsyn", caseSensitive = false, MentionConfidence.Probable)),
        Behaviour.AddForLinkingOnly))
    val (merged, conflicts) = Curation.applyCurations(defaults, overrides)
    assert(conflicts.size == 1)
    val flu = merged.find(_.synNorm == "FLU").get
    // ci wins, max confidence wins
    assert(flu.synonyms == Seq(SynonymSpec("flu", caseSensitive = false,
      MentionConfidence.HighlyLikely)))
    // novel curation appended; linking-only → no NER synonyms
    val newsyn = merged.find(_.synNorm == "NEWSYN").get
    assert(newsyn.activeNerSynonyms.isEmpty)
  }

  test("DROP_FOR_LINKING wins conflicts") {
    val overrides = Seq(
      StringResource("P", "disease", "X",
        Seq(SynonymSpec("x", false, 50)), Behaviour.AddForNerAndLinking),
      StringResource("P", "disease", "X",
        Seq(SynonymSpec("x", false, 50)), Behaviour.DropForLinking))
    val (merged, _) = Curation.applyCurations(Seq.empty, overrides)
    assert(merged.head.behaviour == Behaviour.DropForLinking)
  }
}

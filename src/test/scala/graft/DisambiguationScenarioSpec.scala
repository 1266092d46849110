package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.index.Resources
import graft.link._
import graft.ontology.{OntologyRow, ResourceBuild}
import graft.text.Normalizer

/** Port of the reference's p27 disambiguation scenarios
  * (kazu/tests/test_disambiguation_strategies.py:65-310): the ambiguous
  * gene string "p27" resolving via document evidence, context tf-idf,
  * annotation priors and default-label preference.
  */
class DisambiguationScenarioSpec extends AnyFunSuite {

  private val P = "P27_DB"
  private val rows = Seq(
    OntologyRow(P, "gene", "1", "CDKN1B", "CDKN1B", "test"),
    OntologyRow(P, "gene", "1", "CDKN1B", "p27", "test"),
    OntologyRow(P, "gene", "2", "PSMD9", "p27", "test"),
    OntologyRow(P, "gene", "3", "Autoantigen p27", "Autoantigen p27", "test"),
    OntologyRow(P, "gene", "3", "Autoantigen p27", "p27", "test"))
  private val res = Resources.build(rows, _ => "gene", version = "p27/1")
  private val mres = MappingResources.forResources(res)

  private val p27Norm = Normalizer.normalize("p27", "gene")
  private val cdkn1bNorm = Normalizer.normalize("CDKN1B", "gene")
  private val autoNorm = Normalizer.normalize("Autoantigen p27", "gene")

  private def cand(norm: String) =
    CandidateWithMetrics(res.candidate(P, norm).get, LinkingMetrics())

  private val p27IdSets: Set[EquivalentIdSet] =
    res.candidate(P, p27Norm).get.associatedIdSets.map(_.canonical).toSet

  private def mention(m: String, cls: String, start: Int,
      cands: Seq[CandidateWithMetrics], mappings: Seq[Mapping] = Seq.empty) =
    Mention(m, cls, Seq(CharSpan(start, start + m.length)), "test", 50,
      Normalizer.normalize(m, cls), candidates = cands, mappings = mappings)

  private def work(ms: Mention*): DocWork = workIn(mres)(ms: _*)

  private def workIn(r: MappingResources)(ms: Mention*): DocWork =
    DocWork(KDoc("u", new java.sql.Timestamp(0), "text", "en",
      Seq(Section("s", "text", ms.toSeq))), r)

  test("p27 candidate is genuinely ambiguous (3 id sets)") {
    assert(p27IdSets.size == 3)
  }

  test("DefinedElsewhereInDocument: resolves only once evidence exists") {
    val strategy = new DefinedElsewhereInDocument(DisambiguationConfidence.HighlyLikely)
    // no mappings anywhere → empty
    val w0 = work(mention("p27", "gene", 0, Seq(cand(p27Norm))),
      mention("Autoantigen p27", "gene", 40, Seq(cand(autoNorm))))
    assert(strategy(p27IdSets, w0, P, "p27", p27Norm).isEmpty)

    // the autoantigen mention is mapped to id 3 (built through
    // MappingFactory, as the reference does) → p27 resolves to {3}
    def factoryMapping(idx: String): Mapping =
      MappingFactory.fromIdSets(mres,
        res.candidate(P, if (idx == "3") autoNorm else cdkn1bNorm).get
          .associatedIdSets.filter(_.ids.exists(_.idx == idx)),
        P, "test", StringMatchConfidence.HighlyLikely, None, None).head
    val mapped3 = factoryMapping("3")
    val w1 = work(mention("p27", "gene", 0, Seq(cand(p27Norm))),
      mention("Autoantigen p27", "gene", 40, Seq(cand(autoNorm)), Seq(mapped3)))
    val r1 = strategy(p27IdSets, w1, P, "p27", p27Norm)
    assert(r1.map(_.ids.map(_.idx).toSet) == Set(Set("3")))

    // a second mapped entity (CDKN1B → id 1) → two id sets survive
    val mapped1 = factoryMapping("1")
    val w2 = work(mention("p27", "gene", 0, Seq(cand(p27Norm))),
      mention("Autoantigen p27", "gene", 40, Seq(cand(autoNorm)), Seq(mapped3)),
      mention("CDKN1B", "gene", 70, Seq(cand(cdkn1bNorm)), Seq(mapped1)))
    val r2 = strategy(p27IdSets, w2, P, "p27", p27Norm)
    assert(r2.map(_.ids.map(_.idx).toSet) == Set(Set("3"), Set("1")))
  }

  test("TfIdf context: CDKN1B in context resolves p27 to id 1") {
    val strategy = new TfIdfContextDisambiguation(
      DisambiguationConfidence.Possible, contextThreshold = 0.0,
      relevantAggregations = Set(graft.model.IdAggregation.Unambiguous,
        graft.model.IdAggregation.ResolvedBySimilarity,
        graft.model.IdAggregation.MergedAsNonSymbolic,
        graft.model.IdAggregation.NoStrategy))
    val w = work(
      mention("CDKN1B", "gene", 48, Seq.empty),
      mention("p27", "gene", 0, Seq(cand(p27Norm))))
    val r = strategy(p27IdSets, w, P, "p27", p27Norm)
    assert(r.map(_.ids.map(_.idx).toSet) == Set(Set("1")), r)
  }

  test("AnnotationLevel: higher prior wins; ties keep both") {
    def resWithScores(scores: Map[String, Int]): MappingResources = {
      val (cands, metadata) = ResourceBuild.buildCandidates(rows)
      val meta = metadata.map { m =>
        m.copy(extras = m.extras ++ scores.get(m.idx).map(s =>
          "annotation_score" -> s.toString))
      }
      val res2 = Resources.assemble(res.entityClassOf, cands, meta,
        ResourceBuild.defaultResources(cands, _ => "gene"), res.version + scores.hashCode)
      MappingResources.forResources(res2)
    }
    val strategy = new AnnotationLevelDisambiguation(DisambiguationConfidence.Possible)
    def w(r: MappingResources) = workIn(r)(mention("CDKN1B", "gene", 48, Seq(cand(cdkn1bNorm))))

    val w1 = w(resWithScores(Map("1" -> 10, "2" -> 5, "3" -> 5)))
    val r1 = strategy(p27IdSets, w1, P, "CDKN1B", cdkn1bNorm)
    assert(r1.map(_.ids.map(_.idx).toSet) == Set(Set("1")))

    val w2 = w(resWithScores(Map("1" -> 10, "2" -> 5, "3" -> 10)))
    val r2 = strategy(p27IdSets, w2, P, "CDKN1B", cdkn1bNorm)
    assert(r2.map(_.ids.map(_.idx).toSet) == Set(Set("1"), Set("3")))
  }

  test("GildaTfIdf: wiki-style context resolves p27 to id 1; delta rule fails ties") {
    // port of test_GildaTfIdfContextStrategy (test_disambiguation_strategies
    // .py:311-369): id 1 carries the CDKN1B wiki paragraph as context, every
    // other id an irrelevant string; doc text mentions CDKN1B
    val contexts = Map(
      (P, "1") ->
        """Cyclin-dependent kinase inhibitor 1B (p27Kip1) is an enzyme inhibitor
          |that in humans is encoded by the CDKN1B gene. It encodes a protein
          |which belongs to the Cip/Kip family of cyclin dependent kinase (Cdk)
          |inhibitor proteins. The encoded protein binds to and prevents the
          |activation of cyclin E-CDK2 or cyclin D-CDK4 complexes, and thus
          |controls the cell cycle progression at G1.""".stripMargin,
      (P, "2") -> "this is not relevant",
      (P, "3") -> "this is not relevant")
    // the reference fits its vectorizer on a broad pretrained corpus
    // (model_path), NOT on the contexts. Mimic its idf profile: English
    // function words appear in nearly every document of any large corpus
    // (idf → 1), while entity terms stay rare — so append the function
    // words to every tinybern-sentence chunk
    val modelCorpus = scala.io.Source
      .fromFile("src/test/resources/minibern_golden.tsv").getLines()
      .filter(_.nonEmpty).map(_.split(" ")(0)).grouped(20)
      .map(_.mkString(" ") + " this is not but in it of the a and")
      .toSeq ++ contexts.values
    val scorer = GildaScorer.forContexts(contexts, Some(modelCorpus))
    val strategy = new GildaTfIdfDisambiguation(
      DisambiguationConfidence.Probable, explicitScorer = Some(scorer))
    val text = "p27 is often confused, but in this context it's CDKN1B"
    val w = DocWork(KDoc("u", new java.sql.Timestamp(0), text, "en",
      Seq(Section("s", text, Seq(
        mention("p27", "gene", 0, Seq(cand(p27Norm))),
        mention("CDKN1B", "gene", text.length - 6, Seq.empty))))), mres)
    val r = strategy(p27IdSets, w, P, "p27", p27Norm)
    assert(r.map(_.ids.map(_.idx).toSet) == Set(Set("1")), r)

    // delta rule: when the runner-up is within 0.01 the strategy must fail
    // rather than guess (strategies.py:345-356)
    val tiedScorer = GildaScorer.forContexts(Map(
      (P, "1") -> "CDKN1B gene context",
      (P, "2") -> "CDKN1B gene context",
      (P, "3") -> "something else"))
    val tied = new GildaTfIdfDisambiguation(
      DisambiguationConfidence.Probable, explicitScorer = Some(tiedScorer))
    assert(tied(p27IdSets, w, P, "p27", p27Norm).isEmpty)

    // ids without any context score 0 (the null-vector rule): with only an
    // irrelevant corpus, no set beats another and disambiguation fails
    val nullScorer = GildaScorer.forContexts(Map((P, "9") -> "unrelated"))
    val nulls = new GildaTfIdfDisambiguation(
      DisambiguationConfidence.Probable, explicitScorer = Some(nullScorer))
    assert(nulls(p27IdSets, w, P, "p27", p27Norm).isEmpty)

    // multi-id equivalent set: the reference's idx_to_set yields a distinct
    // set OBJECT per idx, so two ids of the SAME EquivalentIdSet tying
    // within 0.01 also fail disambiguation (strategies.py:345-356 under
    // `is`-identity) — the delta rule applies to every subsequent idx
    val multiSet: Set[EquivalentIdSet] = Set(
      EquivalentIdSet(Seq(IdAndSource("1a", P), IdAndSource("1b", P))),
      EquivalentIdSet(Seq(IdAndSource("9", P))))
    val sameSetTie = new GildaTfIdfDisambiguation(
      DisambiguationConfidence.Probable,
      explicitScorer = Some(GildaScorer.forContexts(Map(
        (P, "1a") -> "CDKN1B gene context",
        (P, "1b") -> "CDKN1B gene context",
        (P, "9") -> "something else"))))
    assert(sameSetTie(multiSet, w, P, "p27", p27Norm).isEmpty,
      "two same-set ids within the 0.01 delta must fail, as the reference does")
    // but a clear margin between the two same-set ids still resolves to
    // that set (the runner-up idx maps back to the winning set)
    val sameSetClear = new GildaTfIdfDisambiguation(
      DisambiguationConfidence.Probable,
      explicitScorer = Some(GildaScorer.forContexts(Map(
        (P, "1a") -> contexts((P, "1")),
        (P, "1b") -> "barely related words",
        (P, "9") -> "something else"),
        Some(modelCorpus))))
    assert(sameSetClear(multiSet, w, P, "p27", p27Norm)
      .map(_.ids.map(_.idx).toSet) == Set(Set("1a", "1b")))
  }

  test("PreferDefaultLabelMatch: CDKN1B match keeps only id 1") {
    val strategy = new PreferDefaultLabelMatch(DisambiguationConfidence.HighlyLikely)
    val w = work(mention("CDKN1B", "gene", 48, Seq(cand(cdkn1bNorm))))
    val r = strategy(p27IdSets, w, P, "CDKN1B", cdkn1bNorm)
    assert(r.map(_.ids.map(_.idx).toSet) == Set(Set("1")))
    // an unrelated match keeps nothing
    assert(strategy(p27IdSets, w, P, "xyz",
      Normalizer.normalize("xyz", "gene")).isEmpty)
  }
}

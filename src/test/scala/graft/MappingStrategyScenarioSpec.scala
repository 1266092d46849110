package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.index.Resources
import graft.link._
import graft.ontology.OntologyRow
import graft.text.Normalizer

/** Port of the reference's mapping-strategy scenario suite
  * (kazu/tests/test_mapping_strategies.py:75-286 over the conftest.py:75-110
  * p27 fixture): each string-matching strategy driven through its full
  * `apply` path, with the reference's own correctness check — the (parser,
  * idx) set of the produced mappings must equal the id sets of the expected
  * candidates exactly.
  */
class MappingStrategyScenarioSpec extends AnyFunSuite {

  private val P = "test_parser"
  // conftest.py p27 fixture: ids 1/2/3, each with three synonyms, "p27"
  // shared by all three (the ambiguity driver)
  private val rows = Seq(
    OntologyRow(P, "test", "1", "CDKN1B", "cyclin-dependent kinase inhibitor 1B (p27, Kip1)", ""),
    OntologyRow(P, "test", "1", "CDKN1B", "CDKN1B", ""),
    OntologyRow(P, "test", "1", "CDKN1B", "p27", ""),
    OntologyRow(P, "test", "2", "PAK2", "PAK-2p27", ""),
    OntologyRow(P, "test", "2", "PAK2", "p27", ""),
    OntologyRow(P, "test", "2", "PAK2", "PAK2", ""),
    OntologyRow(P, "test", "3", "ZNRD2", "Autoantigen p27", ""),
    OntologyRow(P, "test", "3", "ZNRD2", "ZNRD2", ""),
    OntologyRow(P, "test", "3", "ZNRD2", "p27", ""))
  // entity class "test" → the DEFAULT normalizer, exactly the reference's
  // stated reason for using entity_class="test" in these tests
  private val res = Resources.build(rows, _ => "test", version = "p27-mapping/1")

  private def norm(s: String) = Normalizer.normalize(s, "test")

  private def allCandidates(metrics: LinkingCandidate => LinkingMetrics)
      : Seq[CandidateWithMetrics] =
    res.candidatesOf(P).map(res.candidateAt)
      .sortBy(_.synonymNorm)
      .map(c => CandidateWithMetrics(c, metrics(c)))

  // MappingFactory reads the doc's MappingResources (as the mapping step
  // passes them in)
  private def work(text: String, m: String, cls: String, r: Resources = res): DocWork =
    DocWork(KDoc("u", new java.sql.Timestamp(0), text, "en", Seq(Section("s", text,
      Seq(Mention(m, cls, Seq(CharSpan(0, m.length)), "test", 50, norm(m)))))),
      MappingResources.forResources(r))

  /** check_correct_candidates_selected (test_mapping_strategies.py:54-72):
    * symmetric difference of candidate id sets vs mapping ids is empty. */
  private def checkSelected(expected: Seq[LinkingCandidate], mappings: Seq[Mapping]): Unit = {
    val candidateIds = expected.flatMap(c =>
      c.associatedIdSets.flatMap(_.ids.map(i => (c.parserName, i.idx)))).toSet
    val mappingIds = mappings.map(m => (m.parserName, m.idx)).toSet
    assert(candidateIds == mappingIds,
      s"expected $candidateIds got $mappingIds")
  }

  test("ExactMatchMappingStrategy: the exact-match candidate's ids, all of them") {
    val target = res.candidate(P, norm("p27")).get
    val cands = allCandidates(c =>
      LinkingMetrics(exactMatch = Some(c.synonymNorm == target.synonymNorm)))
    val strategy = new ExactMatchMapping(StringMatchConfidence.HighlyLikely)
    val mappings = strategy("p27", norm("p27"), work("p27 is often confused", "p27", "test"), cands)
    // "p27" refers to all three ids → three ambiguous mappings, exactly the
    // reference's check (its target candidate carries ids 1, 2 AND 3)
    checkSelected(Seq(target), mappings)
  }

  test("SymbolMatchMappingStrategy: PAK-2p27 selects the PAK-2p27 candidate") {
    val target = res.candidate(P, norm("PAK-2p27")).get
    val cands = allCandidates(_ => LinkingMetrics())
    val strategy = new SymbolMatchMapping(StringMatchConfidence.HighlyLikely)
    val mappings = strategy("PAK-2p27", norm("PAK-2p27"),
      work("PAK-2p27 is often confused", "PAK-2p27", "test"), cands)
    checkSelected(Seq(target), mappings)
  }

  test("SynNormIsSubStringMappingStrategy: 'CDKN1B gene' selects CDKN1B") {
    val target = res.candidate(P, norm("CDKN1B")).get
    val cands = allCandidates(_ => LinkingMetrics())
    val strategy = new SynNormIsSubStringMapping(StringMatchConfidence.HighlyLikely)
    val mappings = strategy("CDKN1B gene", norm("CDKN1B gene"),
      work("CDKN1B gene has the wrong NER spans on it", "CDKN1B gene", "test"), cands)
    checkSelected(Seq(target), mappings)
  }

  test("StrongMatchMappingStrategy: (threshold 100, differential 0) keeps only " +
    "the top-scored group; (85, 15) keeps the 88-scored group too") {
    // deterministic analog of the reference's sort_then_group enumeration:
    // the CDKN1B synonym group scores 100, the PAK2 group 88, the rest 70
    val s100 = res.candidate(P, norm("CDKN1B")).get
    val s88 = res.candidate(P, norm("PAK2")).get
    def score(c: LinkingCandidate): Double =
      if (c.associatedIdSets == s100.associatedIdSets) 100.0
      else if (c.associatedIdSets == s88.associatedIdSets) 88.0
      else 70.0
    val cands = allCandidates(c => LinkingMetrics(searchScore = Some(score(c))))
    val doc = work("p27 is often confused", "p27", "test")

    val strict = new StrongMatchMapping(StringMatchConfidence.HighlyLikely,
      searchThreshold = 100.0, differential = 0.0)
    checkSelected(Seq(s100), strict("p27", norm("p27"), doc, cands))

    val loose = new StrongMatchMapping(StringMatchConfidence.HighlyLikely,
      searchThreshold = 85.0, differential = 15.0)
    checkSelected(Seq(s100, s88), loose("p27", norm("p27"), doc, cands))
  }

  // --- the disease fixture (test_mapping_strategies.py:34-50, :241-286) ---

  private val diseaseRows = Seq(
    OntologyRow(P, "disease", "1", "Heck's disease", "Heck's disease", ""),
    OntologyRow(P, "disease", "1", "Heck's disease", "Heck disease", ""),
    OntologyRow(P, "disease", "2", "Neck Disease", "Neck Disease", ""))
  private val diseaseRes =
    Resources.build(diseaseRows, _ => "disease", version = "heck-neck/1")

  test("StrongMatchWithEmbeddingConfirmation: the embedding disambiguates " +
    "Heck vs Neck disease (real encoder inference)") {
    for ((ent, targetToken) <- Seq(
        ("Neck disease", "NECK"), ("Heck disease", "HECK"))) {
      val cands = diseaseRes.candidatesOf(P).map(diseaseRes.candidateAt)
        .sortBy(_.synonymNorm)
        .map(c => CandidateWithMetrics(c, LinkingMetrics(searchScore = Some(95.0))))
      val targets = cands.map(_.candidate).filter(_.synonymNorm.contains(targetToken))
      assert(targets.nonEmpty)
      // threshold 0.85 for the MiniBern stand-in's geometry: same-concept
      // strings measure ≥0.90 here ("Heck disease" vs "Heck's disease"
      // 0.903), cross-concept ≤0.76 ("Neck disease" vs "Heck disease"
      // 0.762 — neck/heck share subword pieces by design of the
      // morphological-synonym encoder). The reference gates this test on
      // its trained model pack for exactly this model-dependence.
      val strategy = new StrongMatchWithEmbeddingConfirmation(
        StringMatchConfidence.HighlyLikely,
        searchThreshold = 90.0, differential = 0.0,
        embeddingThreshold = 0.85)
      val mappings = strategy(ent, Normalizer.normalize(ent, "disease"),
        work(s"$ent is often confused", ent, "disease", diseaseRes), cands)
      checkSelected(targets, mappings)
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.index.Resources
import graft.link._
import graft.ontology.{MetadataRow, OntologyRow}

/** Port of the reference's StrategyRunner scenario test
  * (kazu/tests/test_linking_strategy_runner.py:27-470): six entity groups
  * exercising strategy laddering, per-parser resolution tracking,
  * disambiguation triggering and default-strategy fallback, with
  * stop_on_success = false.
  */
class StrategyRunnerScenarioSpec extends AnyFunSuite {

  private val P1 = "test_parser1"
  private val P2 = "test_parser2"

  private def cand(parser: String, synNorm: String, ids: String*) =
    CandidateWithMetrics(
      LinkingCandidate(parser, synNorm, Seq(synNorm), isSymbolic = true,
        Seq("test"),
        ids.map(i => EquivalentIdSet(Seq(IdAndSource(i, parser)))),
        IdAggregation.NoStrategy),
      LinkingMetrics())

  // DummyParser shape (kazu/tests/utils.py): syn "1"→first, "2"→second, "3"→third
  private val p1h1 = cand(P1, "1", "first")
  private val p1h2 = cand(P1, "3", "third")
  private val p2h1 = cand(P2, "2", "second")
  private val p2h2 = cand(P2, "3", "third")

  /** TestStrategy: fires only for a given match, keeps candidates carrying
    * an expected id (ref :48-90). */
  private class TestStrategy(
      val confidence: String,
      entMatch: String,
      expectedIds: Set[String],
      val disambiguationStrategies: Seq[DisambiguationStrategy] = Seq.empty
  ) extends MappingStrategy {
    val disambiguationEssential = false
    def filterCandidates(m: String, mn: String, doc: DocWork,
        candidates: Seq[CandidateWithMetrics], parser: String): Seq[CandidateWithMetrics] =
      if (m == entMatch)
        candidates.filter(_.candidate.associatedIdSets.exists(
          _.ids.exists(i => expectedIds.contains(i.idx))))
      else Seq.empty
  }

  private class NoopStrategy(val confidence: String) extends MappingStrategy {
    val disambiguationStrategies: Seq[DisambiguationStrategy] = Seq.empty
    val disambiguationEssential = false
    def filterCandidates(m: String, mn: String, doc: DocWork,
        candidates: Seq[CandidateWithMetrics], parser: String): Seq[CandidateWithMetrics] =
      candidates
  }

  private class DoNothingDisamb extends DisambiguationStrategy {
    val confidence = DisambiguationConfidence.Ambiguous
    def disambiguate(idSets: Set[EquivalentIdSet], doc: DocWork, p: String,
        m: String, mn: String): Set[EquivalentIdSet] = Set.empty
  }
  private class PickIdDisamb(expected: String) extends DisambiguationStrategy {
    val confidence = DisambiguationConfidence.Possible
    def disambiguate(idSets: Set[EquivalentIdSet], doc: DocWork, p: String,
        m: String, mn: String): Set[EquivalentIdSet] =
      idSets.filter(_.ids.exists(_.idx == expected))
  }

  private def ent(m: String, cls: String, conf: Int, ns: String, start: Int,
      cands: CandidateWithMetrics*) =
    Mention(m, cls, Seq(CharSpan(start, start + 1)), ns, conf, m.toUpperCase,
      candidates = cands.toSeq)

  test("six reference scenario groups resolve as the reference asserts") {
    val hl = StringMatchConfidence.HighlyLikely
    val exec = ConfidenceLevelExecution(
      entClassStrategies = Map("test_class" -> Seq(
        new TestStrategy(hl, "test_1", Set("first")),
        new TestStrategy(hl, "test_2", Set("second")),
        new TestStrategy(hl, "test_3", Set("first", "second")),
        new TestStrategy(hl, "test_4", Set("third"),
          Seq(new DoNothingDisamb, new PickIdDisamb("third"))),
        new NoopStrategy(hl))),
      defaultStrategies = Seq(new TestStrategy(hl, "unknown", Set("first", "second"))),
      stopOnSuccess = false)
    val runner = StrategyRunner(
      symbolicStrategies = Map(
        MentionConfidence.HighlyLikely -> exec, MentionConfidence.Probable -> exec),
      nonSymbolicStrategies = Map(
        MentionConfidence.HighlyLikely -> exec, MentionConfidence.Probable -> exec))

    // metadata for MappingFactory lookups
    val rows = Seq(P1, P2).flatMap(p => Seq("first", "second", "third").map(i =>
      OntologyRow(p, "test_class", i, i, i, "test")))
    val res = Resources.build(rows, _ => "test_class", version = "runner-scenario/1")

    val HL = MentionConfidence.HighlyLikely
    val PR = MentionConfidence.Probable
    val doc = KDoc("u", new java.sql.Timestamp(0), "hello", "en", Seq(Section(
      "s", "hello", Seq(
        ent("test_1", "test_class", HL, "group1", 0, p1h1),
        ent("test_1", "test_class", HL, "group1", 10, p1h1),
        ent("test_2", "test_class", HL, "group2", 0, p2h1),
        ent("test_2", "test_class", HL, "group2", 15, p2h1),
        ent("test_3", "test_class", PR, "group3", 0, p1h1, p2h1),
        ent("test_3", "test_class", PR, "group3", 15, p1h1, p2h1),
        ent("test_4", "test_class", PR, "group4", 0, p1h1, p1h2),
        ent("test_4", "test_class", PR, "group4", 15, p1h1, p1h2),
        ent("test_5", "test_class", PR, "group5", 0, p2h1, p2h2),
        ent("test_5", "test_class", PR, "group5", 15, p2h1, p2h2),
        ent("test_default", "unknown", PR, "group_default", 0, p1h2, p2h2),
        ent("test_default", "unknown", PR, "group_default", 15, p1h2, p2h2)))))

    val out = runner.process(doc, MappingResources.forResources(res))
    def group(m: String) = out.entities.filter(_.matchStr == m)

    // group 1: single candidate, first strategy fires → 1 mapping ("first")
    group("test_1").foreach { e =>
      assert(e.mappings.map(_.idx) == Seq("first"), e.mappings)
    }
    // group 2: first strategy fails, second fires → "second"
    group("test_2").foreach { e =>
      assert(e.mappings.map(_.idx) == Seq("second"))
    }
    // group 3: one candidate per parser → one mapping from EACH parser
    group("test_3").foreach { e =>
      assert(e.mappings.map(_.idx).toSet == Set("first", "second"))
      assert(e.mappings.size == 2)
    }
    // group 4: two candidates one parser; strategy filter + disambiguation
    // → single "third" mapping
    group("test_4").foreach { e =>
      assert(e.mappings.map(_.idx) == Seq("third"))
    }
    // group 5: noop strategy keeps both candidates, no disambiguation →
    // both mappings, flagged AMBIGUOUS
    group("test_5").foreach { e =>
      assert(e.mappings.map(_.idx).toSet == Set("second", "third"))
      assert(e.mappings.forall(_.disambiguationConfidence.contains(
        DisambiguationConfidence.Ambiguous)))
    }
    // default-class entities: default strategy's match gate ("unknown")
    // doesn't fire for match "test_default" → no mappings
    group("test_default").foreach(e => assert(e.mappings.isEmpty))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.Resources
import graft.link.{DictionaryLinking, Ladders, MappingResources, MappingStep}
import graft.model._
import graft.ner.{ExplosionMatcher, TrieNer}
import graft.ontology._

/** Derived state (fuzzy indexes, mapping resources, token matchers) belongs
  * to the bundle instance it was built from: two bundles under one version
  * never share it, a mapping function opened for one bundle keeps reading
  * that bundle, and a deserialized copy gives the same outputs. */
class ResourcesDerivedSpec extends AnyFunSuite {

  private val Quux = OntologyRow(CorpusOntology.OpsParser, "operator", "OP:QUUXIFIER",
    "quuxifier", "quuxifier", "exactSyn")

  /** The corpus bundle, and the same plus `quuxifier`: both under the
    * default version. */
  private def pair(): (Resources, Resources) = {
    def build(rows: Seq[OntologyRow]) =
      Resources.build(rows, CorpusOntology.entityClassOf, CorpusOntology.CommonWords)
    val (a, b) = (build(CorpusOntology.rows), build(CorpusOntology.rows :+ Quux))
    assert(a.version == b.version && a != b)
    (a, b)
  }

  private def fuzzy(res: Resources): Seq[String] =
    DictionaryLinking.search(res, DictionaryLinking.indexesFor(res), "QUUXIFIERS", "operator")
      .map(_.candidate.synonymNorm)

  private def tokens(res: Resources): Seq[(String, String, String)] =
    ExplosionMatcher.matchText(res, "the quuxifier and the value")
      .flatMap(m => m.candidates.map(c => (m.matchStr, m.entityClass, c.candidate.synonymNorm)))

  private def warm(res: Resources): Unit = {
    fuzzy(res); tokens(res); MappingResources.forResources(res).contextVectorizers
  }

  test("two bundles under one version each see only their own synonyms") {
    for (corpusFirst <- Seq(true, false)) {
      val (a, b) = pair()
      if (corpusFirst) { warm(a); warm(b) } else { warm(b); warm(a) }
      assert(!fuzzy(a).contains("QUUXIFIER"))
      assert(fuzzy(b).contains("QUUXIFIER"))
      assert(MappingResources.forResources(a).resources eq a)
      assert(MappingResources.forResources(b).resources eq b)
      assert(tokens(a) == Seq(("value", "component", "VALUE")))
      assert(tokens(b) ==
        Seq(("quuxifier", "operator", "QUUXIFIER"), ("value", "component", "VALUE")))
    }
  }

  test("a mapping function opened for one bundle keeps that bundle's labels") {
    val a = Resources.corpus
    val relabelled = CorpusOntology.rows.map(r =>
      if (r.idx == "OP:SORT") r.copy(defaultLabel = "sort (relabelled)") else r)
    val b = Resources.build(relabelled, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords, "relabelled/1")
    val doc = TrieNer.processDoc(a)(KDoc("u", new java.sql.Timestamp(0),
      "We sort the rows.", "en", Seq(Section("body", "We sort the rows."))))
    val forA = MappingStep.open(a, Ladders.default)
    MappingStep.open(b, Ladders.default)
    def sortLabels(d: KDoc) = d.entities.flatMap(_.mappings).filter(_.idx == "OP:SORT")
      .map(_.defaultLabel)
    assert(sortLabels(forA(doc)) == Seq("sort"))
    assert(sortLabels(MappingStep.open(b, Ladders.default)(doc)) == Seq("sort (relabelled)"))
  }

  test("a Java-deserialized copy gives the outputs of the original") {
    val (_, b) = pair()
    val copy = ResourcesScaleProbe.deserialize[Resources](ResourcesScaleProbe.serialize(b))
    assert(copy ne b)
    assert(fuzzy(copy) == fuzzy(b))
    assert(tokens(copy) == tokens(b))
    val text = "We sort the quuxifier rows by value."
    val doc = KDoc("u", new java.sql.Timestamp(0), text, "en", Seq(Section("body", text)))
    def run(res: Resources) = MappingStep.open(res, Ladders.default)(
      DictionaryLinking.open(res)(TrieNer.processDoc(res)(doc)))
    val out = run(copy)
    assert(out.entities.exists(_.mappings.exists(_.idx == "OP:QUUXIFIER")))
    assert(out == run(b))
  }
}

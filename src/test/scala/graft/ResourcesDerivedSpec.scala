package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{AhoCorasick, AhoCorasickReference, Resources}
import graft.link.{DictionaryLinking, Ladders, MappingResources, MappingStep}
import graft.model._
import graft.ner.{ExplosionMatcher, TrieNer}
import graft.ontology._
import graft.pipeline.Pipeline

/** Derived state (the trie automaton, fuzzy indexes, mapping resources,
  * token matchers) belongs to the bundle instance it was built from: two
  * bundles under one version never share it, a mapping function opened for
  * one bundle keeps reading that bundle, and a deserialized copy gives the
  * same outputs. The automaton is built on first scan, once, and is never
  * serialized. */
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

  private def corpusBundle(): Resources =
    Resources.build(CorpusOntology.rows, CorpusOntology.entityClassOf, CorpusOntology.CommonWords)

  private def doc(text: String): KDoc =
    KDoc("u", new java.sql.Timestamp(0), text, "en", Seq(Section("body", text)))

  test("linking_only over docs with trie mentions never builds the automaton") {
    val docs = Seq("We sort the rows by value.", "Sort, then SORT the value again.")
      .map(t => TrieNer.processDoc(Resources.corpus)(doc(t)))
    assert(docs.forall(_.entities.exists(_.namespace == TrieNer.Namespace)))
    val fresh = corpusBundle()
    assert(fresh == Resources.corpus && !fresh.hasDerived(AhoCorasick))
    val out = Pipeline.linkingStages(fresh)(docs.iterator).toList
    assert(out.forall(_.error.isEmpty))
    assert(out.flatMap(_.entities).flatMap(_.mappings).map(_.idx).toSet ==
      Set("OP:SORT", "SYS:VALUE"))
    assert(!fresh.hasDerived(AhoCorasick))
    fresh.trie
    assert(fresh.hasDerived(AhoCorasick))
  }

  test("four threads scanning a fresh bundle build one automaton and find the same mentions") {
    val res = Resources.build(CorpusOntology.rows ++ ResourcesScaleProbe.rows(7L, 10000),
      CorpusOntology.entityClassOf, CorpusOntology.CommonWords, "probe/10000")
    val text = (0 until 2000 by 97).map(k => res.trieKeys(k)).mkString("We sort ", " and ", " by value.")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val go = new java.util.concurrent.CountDownLatch(1)
      val tasks = (0 until 4).map(_ => pool.submit(() => {
        go.await()
        val mentions = TrieNer.matchText(res, text)
        (mentions, res.trie)
      }))
      go.countDown()
      val got = tasks.map(_.get())
      val (mentions, trie) = got.head
      assert(got.forall { case (m, t) => (t eq trie) && m == mentions })
      assert(res.trie eq trie)
      // against a copy whose automaton one thread builds alone
      val copy = ResourcesScaleProbe.deserialize[Resources](ResourcesScaleProbe.serialize(res))
      assert(mentions.size > 20 && mentions == TrieNer.matchText(copy, text))
    } finally pool.shutdown()
  }

  test("a Java-serialized 10k-synonym bundle carries its trie keys, not the automaton") {
    val res = Resources.build(CorpusOntology.rows ++ ResourcesScaleProbe.rows(42L, 10000),
      CorpusOntology.entityClassOf, CorpusOntology.CommonWords, "probe/10000")
    val cold = ResourcesScaleProbe.serialize(res)
    val trie = res.trie
    val bytes = ResourcesScaleProbe.serialize(res)
    // the bundle as it shipped with the automaton in it: the keys array is
    // shared, so the stream writes it once
    val withAutomaton = ResourcesScaleProbe.serialize(Array[AnyRef](res, trie)).length
    info(f"Java-serialized bytes: ${bytes.length}%,d without the automaton, " +
      f"$withAutomaton%,d with it")
    assert(bytes.length == cold.length && bytes.length < withAutomaton / 2)
    val copy = ResourcesScaleProbe.deserialize[Resources](bytes)
    assert(copy == res && !copy.hasDerived(AhoCorasick))
    val want = AhoCorasickReference.arrays(AhoCorasick.build(res.trieKeys))
    assert(AhoCorasickReference.arrays(copy.trie).lazyZip(want).forall(java.util.Objects.deepEquals))
    assert(copy.trie.keys sameElements res.trieKeys)
  }
}

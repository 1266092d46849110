package graft.ner

import graft.model._
import graft.index.Resources
import graft.text.Tokenizer

/** Token-based joint NER + linking — the explosion/spaCy matcher step (ref
  * ExplosionStringMatchingStep + OntologyMatcher,
  * kazu/steps/joint_ner_and_linking/explosion.py:26-140,
  * kazu/ontology_matching/ontology_matcher.py:70-265). The reference builds
  * two spaCy PhraseMatchers — strict (ORTH) for case-sensitive synonyms and
  * lowercase (NORM) for the rest — and converts matched spans into entities
  * whose linking candidates are attached immediately (exact_match=True),
  * with mention confidence = max over the contributing synonyms.
  *
  * Re-expression: two token-sequence tries over [[Tokenizer]] tokens (the
  * PhraseMatcher is exactly a token-trie scan), built once per bundle
  * instance from the same broadcast [[Resources]] bundle the char
  * trie uses. In the reference's default pipeline this step is superseded
  * by the memory-efficient char automaton (our C1 [[TrieNer]]); both
  * implement the same gazetteer semantics, and ExplosionMatcherSpec
  * cross-validates them entity-for-entity over the corpus. TP/FP context
  * filtering (ontology_matcher.py:267-357) is intentionally NOT duplicated
  * here: the same curated rule semantics run downstream as the E15
  * rules-based class filter ([[graft.link.ClassFilter]]).
  */
object ExplosionMatcher {

  val Namespace = "ExplosionStringMatching"

  private final class Node {
    val next = new java.util.HashMap[String, Node]()
    var hits: List[Int] = Nil // payload rows
  }

  /** Two token tries: strict (original-case tokens) and lowercase.
    * Deliberately NOT Serializable: the trie is rebuilt per bundle instance
    * via [[matchersFor]] (from the broadcast Resources), never shipped in a
    * closure — Node is a plain mutable HashMap trie. */
  final class Matchers(res: Resources) {
    private[ExplosionMatcher] val strict = new Node
    private[ExplosionMatcher] val lower = new Node

    private def insert(root: Node, tokens: Seq[String], p: Int): Unit = {
      var n = root
      tokens.foreach { t =>
        var c = n.next.get(t)
        if (c == null) { c = new Node; n.next.put(t, c) }
        n = c
      }
      n.hits ::= p
    }

    (0 until res.payloadCount).foreach { p =>
      val surface = res.payloadOriginalCase(p)
      val toks = Tokenizer.tokenize(surface)
        .map(t => surface.substring(t.start, t.end))
      if (toks.nonEmpty) {
        if (res.payloadCaseSensitive(p)) insert(strict, toks.toSeq, p)
        else insert(lower,
          toks.map(_.toLowerCase(java.util.Locale.ROOT)).toSeq, p)
      }
    }
  }

  def matchersFor(res: Resources): Matchers =
    res.derived(ExplosionMatcher)(new Matchers(res))

  /** All gazetteer matches of a section text as entities with linking
    * candidates attached — one entity per (span, entity class), confidence
    * = max over contributing synonyms (ref explosion.py:96-117). */
  def matchText(res: Resources, text: String): Seq[Mention] = {
    val m = matchersFor(res)
    val toks = Tokenizer.tokenize(text)
    val orth = toks.map(t => text.substring(t.start, t.end))
    val norm = orth.map(_.toLowerCase(java.util.Locale.ROOT))
    // (startChar, endChar) → class → contributing payload+parser pairs
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Int), scala.collection.mutable.LinkedHashMap[String, List[(Int, String)]]]
    def emit(i: Int, j: Int, p: Int): Unit = {
      val span = (toks(i).start, toks(j).end)
      val byClass = grouped.getOrElseUpdate(span,
        scala.collection.mutable.LinkedHashMap.empty)
      val cls = res.payloadClass(p)
      byClass(cls) = (res.payloadParserStart(p) until res.payloadParserEnd(p)).toList
        .map(j => (p, res.payloadParser(j))) ::: byClass.getOrElse(cls, Nil)
    }
    def scan(root: Node, words: IndexedSeq[String]): Unit = {
      var i = 0
      while (i < words.length) {
        var n = root
        var j = i
        var continue = true
        while (continue && j < words.length) {
          n = n.next.get(words(j))
          if (n == null) continue = false
          else {
            n.hits.foreach(emit(i, j, _))
            j += 1
          }
        }
        i += 1
      }
    }
    scan(m.strict, orth)
    scan(m.lower, norm)
    grouped.iterator.flatMap { case ((s, e), byClass) =>
      byClass.iterator.map { case (cls, contribs) =>
        val matchStr = text.substring(s, e)
        val cands = contribs
          .map { case (p, parser) => (parser, res.payloadSynNorm(p)) }.distinct.sorted
          .flatMap { case (parser, synNorm) =>
            res.candidate(parser, synNorm).map(c =>
              CandidateWithMetrics(c, LinkingMetrics(exactMatch = Some(true))))
          }
        Mention(
          matchStr = matchStr,
          entityClass = cls,
          spans = Seq(CharSpan(s, e)),
          namespace = Namespace,
          mentionConfidence = contribs.map(c => res.payloadConfidence(c._1)).max,
          matchNorm = graft.text.Normalizer.normalize(matchStr, cls),
          candidates = cands)
      }
    }.toSeq.sortBy(e => (e.start, e.end, e.entityClass))
  }

  def processDoc(res: Resources)(doc: KDoc): KDoc =
    if (doc.error.isDefined) doc
    else doc.copy(sections = doc.sections.map(s =>
      s.copy(entities = s.entities ++ matchText(res, s.text))))
}

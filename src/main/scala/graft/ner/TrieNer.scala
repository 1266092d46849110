package graft.ner

import graft.model._
import graft.index.Resources
import graft.text.{Normalizer, Tokenizer}

/** Dictionary NER + exact-match pre-linking over the gazetteer trie (built
  * once per JVM from the broadcast bundle's keys) — the default first
  * stage, re-expressing the reference's MemoryEfficientStringMatchingStep
  * scan semantics
  * (kazu/steps/joint_ner_and_linking/memory_efficient_string_matching.py:96-185)
  * as a document-local pure function. No shuffle: the stage is a narrow map.
  */
object TrieNer {

  val Namespace = "TrieNer"

  /** Process one section text: emits ALL boundary-valid gazetteer hits,
    * overlapping included (overlap resolution is MergeOverlaps, later).
    */
  def matchText(res: Resources, text: String): Seq[Mention] = {
    val matchable = text.toLowerCase(java.util.Locale.ROOT)
    val (starts, ends) = Tokenizer.boundaries(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    val trie = res.trie // one derived-memo lookup per call, not per match
    trie.scan(matchable, (endIdx, keyIdx) => {
      val key = trie.keys(keyIdx)
      val startIdx = endIdx - key.length + 1
      if (Tokenizer.wordIsValid(startIdx, endIdx, starts, ends)) {
        val matchedText = text.substring(startIdx, endIdx + 1)
        // the key's payloads are sorted by class: one mention per class run
        val last = res.payloadEnd(keyIdx)
        var p = res.payloadStart(keyIdx)
        while (p < last) {
          val cls = res.payloadClass(p)
          // candidate rows are in (parser, synNorm) order; per-parser max
          // confidence (ref :118-149) is the max over the case-matching
          // payloads, each of which has at least one parser
          val rows = scala.collection.mutable.SortedSet.empty[Int]
          var conf = Int.MinValue
          while (p < last && res.payloadClass(p) == cls) {
            val caseOk = !res.payloadCaseSensitive(p) || matchedText == res.payloadOriginalCase(p)
            if (caseOk) {
              conf = math.max(conf, res.payloadConfidence(p))
              var j = res.payloadParserStart(p)
              while (j < res.payloadParserEnd(p)) {
                if (res.payloadCandidate(j) >= 0) rows += res.payloadCandidate(j)
                j += 1
              }
            }
            p += 1
          }
          if (rows.nonEmpty) {
            out += Mention(
              matchStr = matchedText,
              entityClass = cls,
              spans = Seq(CharSpan(startIdx, endIdx + 1)),
              namespace = Namespace,
              mentionConfidence = conf,
              matchNorm = Normalizer.normalize(matchedText, cls),
              candidates = rows.toList.map(c => CandidateWithMetrics(res.candidateAt(c),
                LinkingMetrics(exactMatch = Some(true))))
            )
          }
        }
      }
    })
    out.sortBy(m => (m.start, m.end, m.entityClass)).toSeq
  }

  /** Stage: doc → doc with trie mentions appended to each section. */
  def processDoc(res: Resources)(doc: KDoc): KDoc =
    if (doc.error.isDefined) doc
    else doc.copy(sections = doc.sections.map { s =>
      s.copy(
        entities = s.entities ++ matchText(res, s.text),
        sentenceSpans =
          if (s.sentenceSpans.nonEmpty) s.sentenceSpans
          else Tokenizer.sentenceSpans(s.text)
      )
    })
}

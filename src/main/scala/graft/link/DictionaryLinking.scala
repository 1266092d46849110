package graft.link

import graft.model._
import graft.index.{Resources, SynonymTfIdfIndex}
import graft.text.Similarity

/** Fuzzy candidate generation (ref DictionaryEntityLinkingStep +
  * DictionaryIndex, kazu/steps/linking/dictionary.py:14-85,
  * kazu/utils/link_index.py:26-139).
  *
  * Entities already exact-linked by the trie stage are skipped
  * (`skip_ner_namespaces`, conf/DictionaryEntityLinkingStep/default.yaml:5-8).
  * Lookups dedup by (matchNorm, entityClass) per partition — the relational
  * form of the reference's LRU cache (size 50000): identical mentions across
  * a partition hit the cache, and the group-by-mention dedup happens
  * naturally because mentions of one document are processed together.
  *
  * Search semantics per parser index (link_index.py:88-117):
  * exact syn_norm hit short-circuits (exact_match=True); otherwise char-
  * bigram tf-idf cosine top-n (scores ×100) gated by the NumberMatch
  * boolean scorer.
  */
object DictionaryLinking {

  val TopN = 20 // ref conf/DictionaryEntityLinkingStep/default.yaml:4
  // ref default.yaml:5-7 lists BOTH joint ner+linking steps
  val SkipNamespaces: Set[String] =
    Set(graft.ner.TrieNer.Namespace, graft.ner.ExplosionMatcher.Namespace)

  /** Per-parser fuzzy indexes, fitted once per bundle instance (an
    * executor's copy of the broadcast), like the reference's disk-cached
    * tf-idf matrices. */
  final class LinkingIndexes(res: Resources) {
    val byParser: Map[String, SynonymTfIdfIndex] =
      res.candidateParsers.map { parser =>
        parser -> SynonymTfIdfIndex.fit(res.candidatesOf(parser).map(res.candidateSynNorm))
      }.toMap
    val parsersByClass: Map[String, Seq[String]] =
      res.entityClassOf.toSeq.groupBy(_._2)
        .map { case (cls, ps) => cls -> ps.map(_._1).sorted }
  }

  def indexesFor(res: Resources): LinkingIndexes =
    res.derived(DictionaryLinking)(new LinkingIndexes(res))

  def search(
      res: Resources,
      idx: LinkingIndexes,
      matchNorm: String,
      entityClass: String
  ): Seq[CandidateWithMetrics] = {
    val parsers = idx.parsersByClass.getOrElse(entityClass, Seq.empty)
    parsers.flatMap { parser =>
      res.candidate(parser, matchNorm) match {
        case Some(c) =>
          // exact syn_norm hit short-circuits (link_index.py:88-91)
          Seq(CandidateWithMetrics(c,
            LinkingMetrics(searchScore = Some(100.0), exactMatch = Some(true))))
        case None =>
          idx.byParser.get(parser).toSeq.flatMap { index =>
            index.search(matchNorm, TopN).flatMap { case (synNorm, score) =>
              // boolean scorer gate (link_index.py:62-70, :112-117)
              if (!Similarity.NumberMatch.matches(matchNorm, synNorm)) None
              else res.candidate(parser, synNorm).map(c =>
                CandidateWithMetrics(c,
                  LinkingMetrics(searchScore = Some(score),
                    exactMatch = Some(false))))
            }
          }
      }
    }
  }

  def processPartition(res: Resources)(docs: Iterator[KDoc]): Iterator[KDoc] =
    docs.map(open(res))

  /** The per-document linking function of one partition (or request). */
  def open(res: Resources): KDoc => KDoc = {
    val idx = indexesFor(res)
    // partition-scoped lookup cache (the reference's LRU, relationally:
    // dedup by (matchNorm, class) before the index probe)
    val cache = scala.collection.mutable.HashMap.empty[(String, String), Seq[CandidateWithMetrics]]
    doc =>
      if (doc.error.isDefined) doc
      else doc.copy(sections = doc.sections.map { s =>
        s.copy(entities = s.entities.map { e =>
          if (SkipNamespaces.contains(e.namespace) || e.candidates.nonEmpty) e
          else {
            val cands = cache.getOrElseUpdate((e.matchNorm, e.entityClass),
              search(res, idx, e.matchNorm, e.entityClass))
            e.copy(candidates = cands)
          }
        })
      })
  }
}

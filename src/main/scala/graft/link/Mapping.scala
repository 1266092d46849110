package graft.link

import graft.model._
import graft.index.{Resources, TfIdfVectorizer, Featurizer, SparseVec}
import graft.text.{Normalizer, Similarity}

import scala.collection.mutable

/** The mapping/disambiguation plane (ref SURVEY.md §2.E): a document-local
  * ordered fold. All state is per-document and task-local — the reference
  * keeps this state on shared step instances and resets it per document
  * (strategy_runner.py:148-159); in Spark the config objects are broadcast
  * and immutable, and mutable state lives in [[ExecState]]/[[DocWork]]
  * created per row, so concurrent tasks cannot interfere. Each
  * [[DocWork]] carries the [[MappingResources]] of the bundle it is mapped
  * against, and the strategies read them from there.
  */

/** Mutable working view of one mention during mapping. */
final class MentionWork(val m: Mention) {
  val mappings: mutable.LinkedHashSet[Mapping] = mutable.LinkedHashSet.empty
  /** EntityKey (ref strategy_runner.py:26-37): hashable identity of entities
    * that are identical for mapping purposes. The reference's frozenset
    * component is replaced by a canonical sorted candidate-key string
    * (SURVEY.md §7.4 risk 2 — deterministic ordering). */
  lazy val entityKey: (String, String, String, String) = (
    m.matchStr,
    m.matchNorm,
    m.entityClass,
    m.candidates.map(c => c.candidate.parserName + "\u0000" + c.candidate.synonymNorm)
      .sorted.mkString("\u0001")
  )
}

/** Mutable working view of one document during mapping. */
final class DocWork(val doc: KDoc, val works: Array[Array[MentionWork]],
    val resources: MappingResources) {
  def allMentions: Iterator[MentionWork] = works.iterator.flatMap(_.iterator)
  /** Both pre-existing mappings on the entity (from earlier steps) and ones
    * created during this run — the reference reads `entity.mappings`, which
    * contains both (strategies.py:100-149). */
  def allMappings: Iterator[Mapping] =
    allMentions.flatMap(w => w.m.mappings.iterator ++ w.mappings.iterator)
  /** doc context features, computed once per (doc, parser) on demand
    * (ref TfIdfDisambiguationStrategy.prepare caching). */
  private val docVecCache = mutable.HashMap.empty[String, SparseVec]
  def docVector(parser: String, vectorizer: TfIdfVectorizer): SparseVec =
    docVecCache.getOrElseUpdate(parser, {
      val ctx = allMentions.map(_.m.matchNorm).mkString(" ")
      vectorizer.transform(ctx)
    })
  /** Whole-document text vector for the Gilda scorer (ref
    * cacheable_build_document_representation, strategies.py:303-316: the
    * raw section text, not the mention norms). */
  def rawDocVector(scorer: GildaScorer): SparseVec =
    docVecCache.getOrElseUpdate("\u0000gilda", {
      scorer.vectorizer.transform(doc.sections.map(_.text).mkString(" "))
    })
}

object DocWork {
  def apply(doc: KDoc, resources: MappingResources): DocWork =
    new DocWork(doc, doc.sections.map(_.entities.map(new MentionWork(_)).toArray).toArray,
      resources)

  /** Write accumulated mappings back into an immutable document. */
  def reassemble(w: DocWork): KDoc =
    w.doc.copy(sections = w.doc.sections.zipWithIndex.map { case (s, i) =>
      s.copy(entities = w.works(i).map(mw =>
        mw.m.copy(mappings = mw.m.mappings ++ mw.mappings.toSeq)).toSeq)
    })
}

// ---------------------------------------------------------------------------
// Disambiguation strategies (ref disambiguation/strategies.py)
// ---------------------------------------------------------------------------

abstract class DisambiguationStrategy extends Serializable {
  def confidence: String
  def name: String = getClass.getSimpleName.stripSuffix("$")
  def prepare(doc: DocWork): Unit = ()
  def disambiguate(
      idSets: Set[EquivalentIdSet],
      doc: DocWork,
      parserName: String,
      entMatch: String,
      entMatchNorm: String
  ): Set[EquivalentIdSet]
  final def apply(
      idSets: Set[EquivalentIdSet],
      doc: DocWork,
      parserName: String,
      entMatch: String,
      entMatchNorm: String
  ): Set[EquivalentIdSet] = {
    prepare(doc)
    disambiguate(idSets, doc, parserName, entMatch, entMatchNorm)
  }
}

/** Keep ids already mapped elsewhere in the same document
  * (ref strategies.py:100-149). Order-dependent: relies on the runner's
  * high-confidence-first fold. */
final class DefinedElsewhereInDocument(val confidence: String)
    extends DisambiguationStrategy {
  override def name = "DefinedElsewhereInDocumentDisambiguationStrategy"
  def disambiguate(
      idSets: Set[EquivalentIdSet], doc: DocWork, parserName: String,
      entMatch: String, entMatchNorm: String): Set[EquivalentIdSet] = {
    val mapped: Set[(String, String, String)] =
      doc.allMappings.map(m => (m.parserName, m.source, m.idx)).toSet
    idSets.flatMap { idSet =>
      val kept = idSet.ids.filter(i => mapped((parserName, i.source, i.idx)))
      if (kept.nonEmpty) Some(EquivalentIdSet(kept).canonical) else None
    }
  }
}

/** Document-context tf-idf disambiguation (ref strategies.py:152-269):
  * score each id-set's unambiguous synonyms against the doc's entity-string
  * context vector; pick the synonym ≥ threshold resolving to exactly one
  * id set. */
final class TfIdfContextDisambiguation(
    val confidence: String,
    contextThreshold: Double = 0.7,
    relevantAggregations: Set[String] = Set(IdAggregation.Unambiguous,
      IdAggregation.ResolvedBySimilarity, IdAggregation.MergedAsNonSymbolic)
) extends DisambiguationStrategy {
  override def name = "TfIdfDisambiguationStrategy"
  def disambiguate(
      idSets: Set[EquivalentIdSet], doc: DocWork, parserName: String,
      entMatch: String, entMatchNorm: String): Set[EquivalentIdSet] = {
    val res = doc.resources
    val vectorizer = res.contextVectorizer(parserName).getOrElse(return Set.empty)
    val docVec = doc.docVector(parserName, vectorizer)
    // syn → id sets it belongs to, via unambiguous-ish synonyms of each id
    val synToSets = mutable.HashMap.empty[String, mutable.Set[EquivalentIdSet]]
    idSets.foreach { idSet =>
      idSet.ids.foreach { id =>
        res.synsForId(parserName, id.idx).foreach { case (syn, agg) =>
          if (relevantAggregations.contains(agg))
            synToSets.getOrElseUpdate(syn, mutable.Set.empty) += idSet
        }
      }
    }
    if (synToSets.isEmpty) return Set.empty
    val scored = synToSets.keys.toSeq.sorted
      .map(syn => (syn, vectorizer.transform(syn).dot(docVec)))
      .sortBy { case (s, sc) => (-sc, s) }
    scored.collectFirst {
      case (syn, score) if score >= contextThreshold && synToSets(syn).size == 1 =>
        synToSets(syn).toSet
    }.getOrElse(Set.empty)
  }
}

/** Gilda-style per-id context scorer (ref GildaTfIdfScorer,
  * context_scoring.py:92-232): one word-level tf-idf model over per-id
  * context strings; an id without a context scores 0 (the reference's
  * null-vector rule). */
final class GildaScorer(
    val vectorizer: TfIdfVectorizer,
    idVectors: Map[(String, String), SparseVec]
) extends Serializable {
  def idVector(parser: String, idx: String): Option[SparseVec] =
    idVectors.get((parser, idx))
}

object GildaScorer {
  /** Build from a contexts table {(parser, idx) → context string} — the
    * shape of the reference's contexts json {"parser": {"idx": "text"}}.
    * The tf-idf model is fit on `modelCorpus` when given (the reference's
    * separate pretrained `model_path` vectorizer — a broad corpus keeps
    * stopword idf low), else on the context strings themselves. */
  def forContexts(
      contexts: Map[(String, String), String],
      modelCorpus: Option[Seq[String]] = None
  ): GildaScorer = {
    val ordered = contexts.toSeq.sortBy(_._1)
    val vec = TfIdfVectorizer.fit(
      modelCorpus.getOrElse(ordered.map(_._2)), Featurizer.sklearnWords)
    new GildaScorer(vec, ordered.map { case (k, v) => k -> vec.transform(v) }.toMap)
  }
}

/** Pretrained-context tf-idf disambiguation (ref
  * GildaTfIdfDisambiguationStrategy, strategies.py:272-358): rank candidate
  * ids by dot(doc-text vector, id-context vector); the best id's set wins
  * only if the first id belonging to a DIFFERENT set scores at least
  * `contextThresholdDelta` (0.01) below it — otherwise disambiguation
  * fails (empty result). Contexts: production loads wiki-style
  * descriptions; the default here is synthesized from the ontology's own
  * labels + synonyms (MappingResources.gildaScorer); tests inject explicit
  * contexts (the p27 scenario port). */
final class GildaTfIdfDisambiguation(
    val confidence: String,
    contextThresholdDelta: Double = 0.01,
    explicitScorer: Option[GildaScorer] = None
) extends DisambiguationStrategy {
  override def name = "GildaTfIdfDisambiguationStrategy"
  def disambiguate(
      idSets: Set[EquivalentIdSet], doc: DocWork, parserName: String,
      entMatch: String, entMatchNorm: String): Set[EquivalentIdSet] = {
    val scorer = explicitScorer.getOrElse(doc.resources.gildaScorer)
    val docVec = doc.rawDocVector(scorer)
    val idxToSets = mutable.HashMap.empty[String, Set[EquivalentIdSet]]
    idSets.foreach(s => s.ids.foreach { id =>
      idxToSets(id.idx) = idxToSets.getOrElse(id.idx, Set.empty) + s
    })
    // deterministic ranking: score desc, idx asc (the reference's argsort
    // order is its id-insertion order; sorting ids first makes ties stable)
    val ordered = idxToSets.keys.toSeq.sorted
      .map(idx => (idx, scorer.idVector(parserName, idx).map(docVec.dot).getOrElse(0.0)))
      .sortBy { case (idx, sc) => (-sc, idx) }
    var bestSet: Option[Set[EquivalentIdSet]] = None
    var bestScore = 0.0
    var i = 0
    while (i < ordered.length) {
      val (idx, score) = ordered(i)
      val thisSet = idxToSets(idx)
      bestSet match {
        case None =>
          bestSet = Some(thisSet); bestScore = score
        case Some(bs) =>
          // the reference's idx_to_set yields a DISTINCT set object per idx,
          // so its `best_set is this_set` identity check never matches: the
          // second-ranked idx — even one from the SAME EquivalentIdSet —
          // always triggers the delta rule (ref :345-356). A runner-up
          // within 0.01 therefore fails disambiguation outright.
          return if (bestScore - score < contextThresholdDelta) Set.empty else bs
      }
      i += 1
    }
    Set.empty // ref :357-358 (only one distinct set — not reachable in use)
  }
}

/** Popularity prior (ref strategies.py:361-397): prefer ids with the highest
  * `annotation_score` metadata. */
final class AnnotationLevelDisambiguation(val confidence: String)
    extends DisambiguationStrategy {
  override def name = "AnnotationLevelDisambiguationStrategy"
  def disambiguate(
      idSets: Set[EquivalentIdSet], doc: DocWork, parserName: String,
      entMatch: String, entMatchNorm: String): Set[EquivalentIdSet] = {
    var best = 0
    var bestSets = Set.empty[EquivalentIdSet]
    idSets.toSeq.sortBy(_.ids.headOption.map(_.idx).getOrElse("")).foreach { idSet =>
      idSet.ids.foreach { id =>
        val score = doc.resources.resources.metadataExtra(parserName, id.idx, "annotation_score")
          .map(_.toInt).getOrElse(0)
        if (score > best) { best = score; bestSets = Set(idSet) }
        else if (score == best) bestSets += idSet
      }
    }
    bestSets
  }
}

/** Keep ids whose normalized default label equals the match norm
  * (ref strategies.py:400-446). */
final class PreferDefaultLabelMatch(val confidence: String)
    extends DisambiguationStrategy {
  override def name = "PreferDefaultLabelMatchDisambiguationStrategy"
  def disambiguate(
      idSets: Set[EquivalentIdSet], doc: DocWork, parserName: String,
      entMatch: String, entMatchNorm: String): Set[EquivalentIdSet] = {
    val kept = idSets.flatMap(_.ids).filter { id =>
      doc.resources.normalizedDefaultLabel(parserName, id.idx) == entMatchNorm
    }
    if (kept.isEmpty) Set.empty
    else Set(EquivalentIdSet(kept.toSeq).canonical)
  }
}

/** Prefer ids whose default-label embedding is nearest the mention
  * (ref strategies.py:449-507). */
final class PreferNearestEmbeddingToDefaultLabel(
    val confidence: String,
    scorer: Similarity.Scorer = Similarity.defaultEmbedding
) extends DisambiguationStrategy {
  override def name = "PreferNearestEmbeddingToDefaultLabelDisambiguationStrategy"
  def disambiguate(
      idSets: Set[EquivalentIdSet], doc: DocWork, parserName: String,
      entMatch: String, entMatchNorm: String): Set[EquivalentIdSet] = {
    val labels = doc.resources.resources
    val scored = idSets.flatMap(_.ids).toSeq
      .map(id => (id, scorer.score(entMatch, labels.defaultLabel(parserName, id.idx))))
    if (scored.isEmpty) return Set.empty
    val best = scored.map(_._2).max
    Set(EquivalentIdSet(scored.filter(_._2 == best).map(_._1)).canonical)
  }
}

// ---------------------------------------------------------------------------
// Mapping strategies (ref mapping_strategies/strategies.py)
// ---------------------------------------------------------------------------

object MappingFactory {
  /** id sets → Mapping rows with metadata lookups (ref strategies.py:21-105). */
  def fromIdSets(
      res: MappingResources,
      idSets: Iterable[EquivalentIdSet],
      parserName: String,
      stringMatchStrategy: String,
      stringMatchConfidence: String,
      disambiguationStrategy: Option[String],
      disambiguationConfidence: Option[String]
  ): Seq[Mapping] = {
    idSets.toSeq.sortBy(_.ids.headOption.map(i => (i.idx, i.source)).getOrElse(("", "")))
      .flatMap(_.ids.map { id =>
        Mapping(
          defaultLabel = res.resources.defaultLabel(parserName, id.idx),
          source = id.source,
          parserName = parserName,
          idx = id.idx,
          stringMatchStrategy = stringMatchStrategy,
          stringMatchConfidence = stringMatchConfidence,
          disambiguationStrategy = disambiguationStrategy,
          disambiguationConfidence = disambiguationConfidence
        )
      })
  }
}

abstract class MappingStrategy extends Serializable {
  def confidence: String
  def disambiguationStrategies: Seq[DisambiguationStrategy]
  def disambiguationEssential: Boolean
  def name: String = getClass.getSimpleName.stripSuffix("$")

  val DisambiguationNotRequired = "disambiguation_not_required"

  def filterCandidates(
      entMatch: String,
      entMatchNorm: String,
      doc: DocWork,
      candidates: Seq[CandidateWithMetrics],
      parserName: String
  ): Seq[CandidateWithMetrics]

  /** Ref strategies.py:198-238 `disambiguate_if_required`. */
  private def disambiguateIfRequired(
      filtered: Seq[CandidateWithMetrics],
      doc: DocWork,
      parserName: String,
      entMatch: String,
      entMatchNorm: String
  ): (Set[EquivalentIdSet], Option[String], Option[String]) = {
    val allIdSets: Set[EquivalentIdSet] =
      filtered.flatMap(_.candidate.associatedIdSets.map(_.canonical)).toSet
    if (!disambiguationEssential && allIdSets.size == 1)
      (allIdSets, Some(DisambiguationNotRequired), None)
    else if (!disambiguationEssential && disambiguationStrategies.isEmpty)
      (allIdSets, None, Some(DisambiguationConfidence.Ambiguous))
    else {
      disambiguationStrategies.foreach { strategy =>
        val f = strategy(allIdSets, doc, parserName, entMatch, entMatchNorm)
        if (f.size == 1)
          return (f, Some(strategy.name), Some(strategy.confidence))
      }
      if (disambiguationEssential)
        (Set.empty, None, Some(DisambiguationConfidence.Ambiguous))
      else (allIdSets, None, Some(DisambiguationConfidence.Ambiguous))
    }
  }

  /** Ref strategies.py:240-296 `__call__` — candidates are all same-parser. */
  final def apply(
      entMatch: String,
      entMatchNorm: String,
      doc: DocWork,
      candidates: Seq[CandidateWithMetrics]
  ): Seq[Mapping] = {
    val parserName = candidates.head.candidate.parserName
    val filtered =
      filterCandidates(entMatch, entMatchNorm, doc, candidates, parserName)
    if (filtered.isEmpty) Seq.empty
    else {
      val (idSets, disambStrategy, disambConfidence) =
        disambiguateIfRequired(filtered, doc, parserName, entMatch, entMatchNorm)
      MappingFactory.fromIdSets(doc.resources, idSets, parserName, name, confidence,
        disambStrategy, disambConfidence)
    }
  }
}

/** Keep exact matches (ref strategies.py:282-293). */
final class ExactMatchMapping(
    val confidence: String,
    val disambiguationStrategies: Seq[DisambiguationStrategy] = Seq.empty,
    val disambiguationEssential: Boolean = false
) extends MappingStrategy {
  override def name = "ExactMatchMappingStrategy"
  def filterCandidates(entMatch: String, entMatchNorm: String, doc: DocWork,
      candidates: Seq[CandidateWithMetrics], parserName: String): Seq[CandidateWithMetrics] =
    candidates.filter(_.metrics.exactMatch.contains(true))
}

/** Token-multiset containment, "MAP K8" vs "MAPK8" (ref :296-335). */
final class SymbolMatchMapping(
    val confidence: String,
    val disambiguationStrategies: Seq[DisambiguationStrategy] = Seq.empty,
    val disambiguationEssential: Boolean = false
) extends MappingStrategy {
  override def name = "SymbolMatchMappingStrategy"
  def filterCandidates(entMatch: String, entMatchNorm: String, doc: DocWork,
      candidates: Seq[CandidateWithMetrics], parserName: String): Seq[CandidateWithMetrics] =
    candidates.filter(c =>
      SymbolMatchMapping.matchSymbols(entMatchNorm, c.candidate.synonymNorm))
}
object SymbolMatchMapping {
  /** Exact port of match_symbols (ref :303-321). */
  def matchSymbols(s1: String, s2: String): Boolean = {
    val t1 = s1.split(" ", -1); val t2 = s2.split(" ", -1)
    val (longest, shortest0) = if (t1.length > t2.length) (t1, s2) else (t2, s1)
    var shortest = shortest0
    longest.foreach { tok =>
      if (!shortest.contains(tok)) return false
      shortest = shortest.replaceFirst(java.util.regex.Pattern.quote(tok), "")
    }
    shortest.trim.isEmpty
  }
}

/** synonym_norm ∈ whitespace tokens of match_norm, unique-longest preferred
  * (ref :338-399). */
final class SynNormIsSubStringMapping(
    val confidence: String,
    val disambiguationStrategies: Seq[DisambiguationStrategy] = Seq.empty,
    val disambiguationEssential: Boolean = false,
    minSynNormLen: Int = 3
) extends MappingStrategy {
  override def name = "SynNormIsSubStringMappingStrategy"
  def filterCandidates(entMatch: String, entMatchNorm: String, doc: DocWork,
      candidates: Seq[CandidateWithMetrics], parserName: String): Seq[CandidateWithMetrics] = {
    val normTokens = entMatchNorm.split(" ").toSet
    val eligible = candidates
      .filter(c => normTokens.contains(c.candidate.synonymNorm) &&
        c.candidate.synonymNorm.length >= minSynNormLen)
      .map(c => (c, c.candidate.synonymNorm.length))
      .sortBy(-_._2)
    eligible.groupBy(_._2).toSeq.sortBy(-_._1).foreach { case (_, group) =>
      if (group.size == 1) return Seq(group.head._1)
    }
    Seq.empty
  }
}

/** search_score ≥ threshold and within differential of best (ref :402-477). */
class StrongMatchMapping(
    val confidence: String,
    val disambiguationStrategies: Seq[DisambiguationStrategy] = Seq.empty,
    val disambiguationEssential: Boolean = false,
    searchThreshold: Double = 80.0,
    symbolicOnly: Boolean = false,
    differential: Double = 2.0
) extends MappingStrategy {
  override def name = "StrongMatchMappingStrategy"
  def filterCandidates(entMatch: String, entMatchNorm: String, doc: DocWork,
      candidates: Seq[CandidateWithMetrics], parserName: String): Seq[CandidateWithMetrics] = {
    val relevant = candidates.filter(c =>
      c.metrics.searchScore.isDefined && (!symbolicOnly || c.candidate.isSymbolic))
    if (relevant.isEmpty) return Seq.empty
    val best = relevant.map(_.metrics.searchScore.get).max
    relevant.filter { c =>
      val s = c.metrics.searchScore.get
      s >= searchThreshold && best - s <= differential
    }
  }
}

/** StrongMatch + embedding confirmation ≥ threshold against a raw synonym,
  * dedup by id-set (ref :480-553). */
final class StrongMatchWithEmbeddingConfirmation(
    confidence: String,
    scorer: Similarity.Scorer = Similarity.defaultEmbedding,
    disambiguationStrategies: Seq[DisambiguationStrategy] = Seq.empty,
    disambiguationEssential: Boolean = false,
    searchThreshold: Double = 80.0,
    embeddingThreshold: Double = 0.60,
    symbolicOnly: Boolean = false,
    differential: Double = 2.0
) extends StrongMatchMapping(confidence, disambiguationStrategies,
    disambiguationEssential, searchThreshold, symbolicOnly, differential) {
  override def name = "StrongMatchWithEmbeddingConfirmationStringMatchingStrategy"
  override def filterCandidates(entMatch: String, entMatchNorm: String, doc: DocWork,
      candidates: Seq[CandidateWithMetrics], parserName: String): Seq[CandidateWithMetrics] = {
    val strong = super.filterCandidates(entMatch, entMatchNorm, doc, candidates, parserName)
      .sortBy(-_.metrics.searchScore.getOrElse(0.0))
    val seenIdSets = mutable.Set.empty[Seq[EquivalentIdSet]]
    strong.filter { c =>
      val key = c.candidate.associatedIdSets.map(_.canonical)
      if (seenIdSets.contains(key)) false
      else {
        seenIdSets += key
        c.candidate.rawSynonyms.exists(syn =>
          scorer.score(entMatch, syn) >= embeddingThreshold)
      }
    }
  }
}

// ---------------------------------------------------------------------------
// Derived per-job lookup state shared by strategies
// ---------------------------------------------------------------------------

/** Wraps [[Resources]] with the derived indexes the mapping plane needs
  * (context vectorizers per parser, id→synonyms). Built once per bundle
  * instance ([[MappingResources.forResources]]) and handed to the strategies
  * in each [[DocWork]], so strategy configs stay serializable values.
  */
final class MappingResources(val resources: Resources) {
  lazy val contextVectorizers: Map[String, TfIdfVectorizer] = {
    resources.candidateParsers.map { parser =>
      val syns = resources.candidatesOf(parser).map(resources.candidateSynNorm)
      parser -> TfIdfVectorizer.fit(syns, Featurizer.contextFeatures)
    }.toMap
  }
  def contextVectorizer(parser: String): Option[TfIdfVectorizer] =
    contextVectorizers.get(parser)

  lazy val idToSyns: Map[(String, String), Seq[(String, String)]] =
    (0 until resources.candidateCount)
      .flatMap(c => resources.candidateIdxs(c).map(idx =>
        (resources.candidateParser(c), idx) ->
          (resources.candidateSynNorm(c), resources.candidateAggregatedBy(c))))
      .groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).distinct.sorted }

  def synsForId(parser: String, idx: String): Seq[(String, String)] =
    idToSyns.getOrElse((parser, idx), Seq.empty)

  /** Synthesized Gilda contexts: each id's context string = its default
    * label + all its raw synonyms — the wiki-description slot of the
    * reference (context_scoring.py contexts json) filled from the
    * ontology's own text, since no external context asset exists here. */
  lazy val gildaScorer: GildaScorer = {
    val ctxs = (0 until resources.candidateCount)
      .flatMap(c => resources.candidateIdxs(c).map(idx =>
        (resources.candidateParser(c), idx) -> resources.candidateRawSynonyms(c)))
      .groupBy(_._1)
      .map { case ((p, idx), vs) =>
        val label = resources.defaultLabel(p, idx)
        (p, idx) -> (label +: vs.flatMap(_._2).distinct.sorted).mkString(" ")
      }
    GildaScorer.forContexts(ctxs)
  }

  /** Each id's default label normalized under its parser's class, filled
    * on first use per metadata row — the result depends only on
    * (parser, idx), and disambiguation asks for it once per candidate id. */
  private lazy val normalizedLabels =
    new java.util.concurrent.atomic.AtomicReferenceArray[String](resources.metadataCount)

  def normalizedDefaultLabel(parser: String, idx: String): String = {
    def normalize = Normalizer.normalize(resources.defaultLabel(parser, idx),
      resources.entityClassOf.getOrElse(parser, "unknown"))
    val m = resources.metadataRow(parser, idx)
    if (m < 0) normalize
    else {
      var label = normalizedLabels.get(m)
      if (label == null) { label = normalize; normalizedLabels.set(m, label) }
      label
    }
  }
}

object MappingResources {
  /** One fit of the context vectorizers per bundle instance — the Spark
    * analogue of the reference's singleton TfIdfScorer,
    * context_scoring.py:49-69. */
  def forResources(res: Resources): MappingResources =
    res.derived(MappingResources)(new MappingResources(res))
}

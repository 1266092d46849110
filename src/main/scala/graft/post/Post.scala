package graft.post

import graft.model._

/** Overlap/nesting resolution (ref MergeOverlappingEntsStep,
  * kazu/steps/other/merge_overlapping_ents.py:10-140): document-local
  * sweep-line — sort contiguous entities by start, grow maximal overlap
  * "locations", keep one winner per location.
  */
object MergeOverlaps {

  /** Class priority, first = highest (ref conf/MergeOverlappingEntsStep/
    * default.yaml lists disease..cellular_component; our corpus classes are
    * appended for the synthetic ontology). */
  val DefaultPreferredOrder: Seq[String] = Seq(
    "disease", "drug", "gene", "anatomy", "cell_line", "cell_type",
    "biological_process", "molecular_function", "cellular_component",
    "operator", "component"
  )

  final case class Config(preferredOrder: Seq[String] = DefaultPreferredOrder,
      ignoreNonContiguous: Boolean = true) extends Serializable {
    // first = higher priority ⇒ larger rank (ref reversed-enumerate)
    val rank: Map[String, Int] =
      preferredOrder.reverse.zipWithIndex.toMap
  }

  /** Winner sort key (ref :54-70): mappings > span length > class priority >
    * mention confidence > class name, all descending. */
  private def winner(cfg: Config, ents: Seq[Mention]): Mention =
    ents.sortBy { e =>
      (!e.mappings.nonEmpty, // false (has mappings) sorts first
        -(e.end - e.start),
        -cfg.rank.getOrElse(e.entityClass, 0),
        -e.mentionConfidence,
        e.entityClass) // reverse-alphabetical => invert below
    }(Ordering.Tuple5(Ordering.Boolean, Ordering.Int, Ordering.Int,
      Ordering.Int, Ordering.String.reverse)).head

  def processSection(cfg: Config, s: Section): Section = {
    if (s.entities.isEmpty) return s
    val (contig, nonContig) =
      if (cfg.ignoreNonContiguous) s.entities.partition(_.isContiguous)
      else (s.entities, Seq.empty[Mention])
    if (contig.isEmpty) return s
    val sorted = contig.sortBy(e => (e.start, e.end))
    val kept = scala.collection.mutable.ArrayBuffer.empty[Mention]
    var group = scala.collection.mutable.ArrayBuffer(sorted.head)
    var start = sorted.head.start
    var end = sorted.head.end
    sorted.tail.foreach { e =>
      if (start <= e.start && e.start < end) {
        if (e.end > end) end = e.end
        group += e
      } else {
        kept += (if (group.size > 1) winner(cfg, group.toSeq) else group.head)
        group = scala.collection.mutable.ArrayBuffer(e)
        start = e.start; end = e.end
      }
    }
    kept += (if (group.size > 1) winner(cfg, group.toSeq) else group.head)
    s.copy(entities = kept.toSeq ++ nonContig)
  }

  def processDoc(cfg: Config)(doc: KDoc): KDoc =
    if (doc.error.isDefined) doc
    else doc.copy(sections = doc.sections.map(processSection(cfg, _)))
}

/** Final cleanup filters (ref CleanupStep + default actions,
  * kazu/steps/other/cleanup.py:26-223, conf/CleanupActions/default.yaml):
  * drop AMBIGUOUS-disambiguation mappings, then drop unmapped entities below
  * PROBABLE mention confidence; optional URI stripping.
  */
object Cleanup {

  final case class Config(
      dropDisambiguationConfidences: Set[String] = Set(DisambiguationConfidence.Ambiguous),
      dropStringMatchConfidences: Set[String] = Set.empty,
      minUnmappedConfidence: Int = MentionConfidence.Probable,
      stripUris: Boolean = true,
      clearCandidates: Boolean = true
  ) extends Serializable

  /** Ref StripMappingURIsAction._strip_uri (cleanup.py:139-157): urlparse,
    * then the PATH's last '/'-segment — the query and fragment are dropped
    * first, exactly as urlparse separates them (".../onto.owl#GO_0005634"
    * → "onto.owl", ".../a?q=1" → "a", authority-only → ""). Deliberate
    * deviation, documented: the reference's scheme test on modern Python
    * treats a CURIE prefix as a scheme ("MONDO:0004979" → scheme "mondo",
    * stripped to "0004979"), contradicting its own docstring's intent; we
    * require "://" so CURIE ids pass through unchanged. */
  def stripUri(idx: String): String = {
    val scheme = idx.indexOf("://")
    if (scheme < 0) idx
    else {
      val afterScheme = idx.substring(scheme + 3)
      val path0 = afterScheme.takeWhile(_ != '#').takeWhile(_ != '?')
      val slash = path0.indexOf('/')
      if (slash < 0) "" // authority only: urlparse path is empty
      else path0.substring(path0.lastIndexOf('/') + 1)
    }
  }

  // --- composable action plane (ref cleanup.py:26-223) ---------------------
  // Each action is a pure KDoc => KDoc; [[step]] composes them with per-doc
  // failure isolation (an action that throws marks the doc failed, it never
  // kills the task — ref CleanupStep + document_iterating_step, pinned by
  // the reference's test_cleanup_step scenario).

  type Action = KDoc => KDoc

  /** Ref MappingFilterCleanupAction: drop any mapping matched by a filter. */
  def mappingFilterAction(filters: Seq[Mapping => Boolean]): Action =
    doc => doc.copy(sections = doc.sections.map(s =>
      s.copy(entities = s.entities.map(e =>
        e.copy(mappings = e.mappings.filterNot(m => filters.exists(_(m))))))))

  /** Ref EntityFilterCleanupAction: drop any entity matched by a filter. */
  def entityFilterAction(filters: Seq[Mention => Boolean]): Action =
    doc => doc.copy(sections = doc.sections.map(s =>
      s.copy(entities = s.entities.filterNot(e => filters.exists(_(e))))))

  /** Ref DropMappingsByConfidenceMappingFilter. */
  def dropMappingsByConfidence(stringMatchRanks: Set[String],
      disambiguationRanks: Set[String]): Mapping => Boolean =
    m => stringMatchRanks(m.stringMatchConfidence) ||
      m.disambiguationConfidence.exists(disambiguationRanks)

  /** Ref DropUnmappedEntityFilter: unmapped, (optionally) from one of the
    * given namespaces, (optionally) below a mention-confidence floor. */
  def dropUnmappedEntity(fromNamespaces: Option[Set[String]] = None,
      minConfidence: Option[Int] = Some(MentionConfidence.Probable)): Mention => Boolean =
    e => fromNamespaces.forall(_(e.namespace)) && e.mappings.isEmpty &&
      minConfidence.forall(e.mentionConfidence < _)

  /** Ref DropEntityIfClassNotMatchedFilter. */
  def dropEntityIfClassNotMatched(required: Set[String]): Mention => Boolean =
    e => !required(e.entityClass)

  /** Ref DropEntityIfMatchInSetFilter (match compared lower-cased). */
  def dropEntityIfMatchInSet(drop: Map[String, Set[String]]): Mention => Boolean =
    e => drop.getOrElse(e.entityClass, Set.empty)(
      e.matchStr.toLowerCase(java.util.Locale.ROOT))

  /** Ref DropByMinLenFilter. */
  def dropByMinLen(minLen: Int): Mention => Boolean =
    e => e.matchStr.length < minLen

  /** Ref LinkingCandidateRemovalCleanupAction. */
  val clearCandidatesAction: Action =
    doc => doc.copy(sections = doc.sections.map(s =>
      s.copy(entities = s.entities.map(_.copy(candidates = Seq.empty)))))

  /** Ref StripMappingURIsAction: `parsersToStrip = None` strips every
    * mapping; otherwise only mappings from the listed parsers. */
  def stripMappingUris(parsersToStrip: Option[Set[String]] = None): Action =
    doc => doc.copy(sections = doc.sections.map(s =>
      s.copy(entities = s.entities.map(e =>
        e.copy(mappings = e.mappings.map(m =>
          if (parsersToStrip.forall(_(m.parserName)))
            m.copy(idx = stripUri(m.idx))
          else m))))))

  /** Ref DropMappingsByParserNameRankAction: for an entity class with a
    * configured parser rank (first = preferred), keep ONLY the mappings of
    * the best-ranked parser that has any. A mapping whose parser is absent
    * from the rank is a configuration error (ref KazuConfigurationError) —
    * the throw routes to the failed-doc sink via [[step]]. */
  def dropMappingsByParserNameRank(rank: Map[String, Seq[String]]): Action =
    doc => doc.copy(sections = doc.sections.map(s =>
      s.copy(entities = s.entities.map { e =>
        rank.get(e.entityClass) match {
          case None => e
          case Some(order) =>
            if (e.mappings.isEmpty) e
            else {
              val ranked = e.mappings.map { m =>
                val i = order.indexOf(m.parserName)
                if (i < 0) throw new IllegalArgumentException(
                  s"mapping parser '${m.parserName}' has no configured rank " +
                    s"for entity class '${e.entityClass}'")
                (m, i)
              }
              val best = ranked.map(_._2).min
              e.copy(mappings = ranked.filter(_._2 == best).map(_._1))
            }
        }
      })))

  /** Compose actions; a doc already failed passes through. An action that
    * throws fails the doc through the pipeline's one failure-isolation
    * wrapper, `Pipeline.compose` (ref CleanupStep over
    * document_iterating_step — the failing doc lands in failures, the rest
    * proceed). */
  def step(actions: Seq[Action])(doc: KDoc): KDoc =
    if (doc.error.isDefined) doc
    else actions.foldLeft(doc)((d, a) => a(d))

  /** The default-config path, expressed as the equivalent action chain
    * (drop-by-confidence → strip URIs → drop unmapped low-confidence →
    * clear candidates — the reference's default CleanupActions). */
  def processDoc(cfg: Config)(doc: KDoc): KDoc = {
    val actions = Seq.newBuilder[Action]
    actions += mappingFilterAction(Seq(dropMappingsByConfidence(
      cfg.dropStringMatchConfidences, cfg.dropDisambiguationConfidences)))
    if (cfg.stripUris) actions += stripMappingUris(None)
    actions += entityFilterAction(Seq(dropUnmappedEntity(
      None, Some(cfg.minUnmappedConfidence))))
    if (cfg.clearCandidates) actions += clearCandidatesAction
    step(actions.result())(doc)
  }
}

package graft.link

import graft.model._
import graft.index.Resources
import graft.text.Normalizer

import scala.collection.mutable

/** Conditional strategy-ladder execution per confidence level
  * (ref ConfidenceLevelStrategyExecution, strategy_runner.py:40-159).
  * This class is pure config (broadcastable); mutable tracking state lives
  * in [[ExecState]] created per document.
  */
final case class ConfidenceLevelExecution(
    entClassStrategies: Map[String, Seq[MappingStrategy]],
    defaultStrategies: Seq[MappingStrategy],
    stopOnSuccess: Boolean
) extends Serializable {

  def longestStrategyListSize: Int =
    (defaultStrategies.size +: entClassStrategies.values.map(_.size).toSeq).max

  def strategiesFor(entityClass: String): Seq[MappingStrategy] =
    entClassStrategies.getOrElse(entityClass, defaultStrategies)

  final class ExecState {
    val unresolvedParsers = mutable.HashMap.empty[(String, String, String, String), mutable.Set[String]]
    val entityMapped = mutable.HashMap.empty[(String, String, String, String), Boolean]
  }

  /** Run strategy #strategyIndex over the reference entity of a group
    * (ref strategy_runner.py:92-147). */
  def run(
      state: ExecState,
      entity: MentionWork,
      strategyIndex: Int,
      doc: DocWork
  ): Seq[Mapping] = {
    val strategies = strategiesFor(entity.m.entityClass)
    if (strategyIndex >= strategies.size) return Seq.empty
    val strategy = strategies(strategyIndex)
    val key = entity.entityKey
    val unresolved = state.unresolvedParsers.getOrElseUpdate(key,
      mutable.Set.from(entity.m.candidates.map(_.candidate.parserName)))
    if (unresolved.isEmpty) Seq.empty
    else if (stopOnSuccess && state.entityMapped.getOrElse(key, false)) Seq.empty
    else {
      val out = mutable.ArrayBuffer.empty[Mapping]
      entity.m.candidates
        .filter(c => unresolved.contains(c.candidate.parserName))
        .groupBy(_.candidate.parserName)
        .toSeq.sortBy(_._1)
        .foreach { case (_, parserCandidates) =>
          strategy(entity.m.matchStr, entity.m.matchNorm, doc, parserCandidates)
            .foreach { mapping =>
              unresolved -= mapping.parserName
              state.entityMapped(key) = true
              out += mapping
            }
        }
      out.toSeq
    }
  }
}

/** Orchestrates the confidence-ordered, symbolism-split strategy fold over
  * one document (ref StrategyRunner, strategy_runner.py:162-343).
  */
final case class StrategyRunner(
    symbolicStrategies: Map[Int, ConfidenceLevelExecution],
    nonSymbolicStrategies: Map[Int, ConfidenceLevelExecution]
) extends Serializable {

  def process(doc: KDoc, resources: MappingResources): KDoc = {
    val work = DocWork(doc, resources)
    // sort by (-confidence, entityKey) — ref strategy_runner.py:250-260
    val sorted = work.allMentions.toArray.sortBy(w =>
      (-w.m.mentionConfidence, w.entityKey))
    // group by confidence (descending, groups are contiguous after sort)
    val byConfidence = sorted.foldLeft(List.empty[(Int, mutable.ArrayBuffer[MentionWork])]) {
      case (acc, w) =>
        acc match {
          case (c, buf) :: _ if c == w.m.mentionConfidence => buf += w; acc
          case _ => (w.m.mentionConfidence, mutable.ArrayBuffer(w)) :: acc
        }
    }.reverse
    byConfidence.foreach { case (conf, ents) =>
      // split symbolic / non-symbolic by (match, class) — ref :213-237
      val (symbolic, nonSymbolic) = {
        val s = mutable.ArrayBuffer.empty[MentionWork]
        val n = mutable.ArrayBuffer.empty[MentionWork]
        ents.groupBy(w => (w.m.matchStr, w.m.entityClass)).toSeq
          .sortBy(_._1).foreach { case ((m, cls), group) =>
            if (Normalizer.classifySymbolic(m, cls)) s ++= group else n ++= group
          }
        (s, n)
      }
      nonSymbolicStrategies.get(conf).foreach(execute(nonSymbolic, work, _))
      symbolicStrategies.get(conf).foreach(execute(symbolic, work, _))
    }
    DocWork.reassemble(work)
  }

  /** Ref execute_hit_post_processing_strategies (strategy_runner.py:301-343). */
  private def execute(
      ents: mutable.ArrayBuffer[MentionWork],
      doc: DocWork,
      exec: ConfidenceLevelExecution
  ): Unit = {
    if (ents.isEmpty) return
    val state = new exec.ExecState
    // group by EntityKey; input must be entity-key-sorted (it is: the
    // caller's sort key ends with entityKey, and groupBy-split preserves it)
    val groups = ents.toSeq.sortBy(_.entityKey).foldLeft(
      List.empty[mutable.ArrayBuffer[MentionWork]]) { (acc, w) =>
      acc match {
        case buf :: _ if buf.head.entityKey == w.entityKey => buf += w; acc
        case _ => mutable.ArrayBuffer(w) :: acc
      }
    }.reverse
    (0 until exec.longestStrategyListSize).foreach { i =>
      groups.foreach { group =>
        val mappings = exec.run(state, group.head, i, doc)
        if (mappings.nonEmpty)
          group.foreach(member => member.mappings ++= mappings)
      }
    }
  }
}

/** The default strategy-ladder configuration, mirroring
  * kazu/conf/MappingStep/default.yaml:1-218 structure (symbolic vs
  * non-symbolic × {HIGHLY_LIKELY, PROBABLE, POSSIBLE} with per-class
  * overrides). Per conf/DisambiguationStrategies/default.yaml the gene
  * ladder's middle slot is GildaTfIdf — implemented with the exact 0.01
  * runner-up-delta semantics (link.GildaTfIdfDisambiguation, p27 scenario
  * ported) and instantiable here via `geneContextStrategy`. The DEFAULT
  * binding keeps the document-context tf-idf strategy in that slot: with
  * no pretrained wiki-context asset in this environment, Gilda contexts
  * synthesized from ontology labels+synonyms rank by context LENGTH when a
  * document carries no discriminating text, silently resolving cases that
  * must stay ambiguous (NerLinkSpec pins that behavior). The SapBERT
  * embedding scorer slot is the deterministic embedding scorer
  * (Similarity.defaultEmbedding).
  */
object Ladders {

  import StringMatchConfidence._
  import DisambiguationConfidence.{HighlyLikely => DHL, Probable => DP, Possible => DPoss}

  private def disambDefault: Seq[DisambiguationStrategy] = Seq(
    new DefinedElsewhereInDocument(DHL),
    new TfIdfContextDisambiguation(DP)
  )
  /** The reference gene slot (GildaTfIdf) for deployments that supply a
    * real pretrained context table. */
  def geneContextStrategy(scorer: GildaScorer): DisambiguationStrategy =
    new GildaTfIdfDisambiguation(DP, explicitScorer = Some(scorer))

  private def disambGene: Seq[DisambiguationStrategy] = Seq(
    new DefinedElsewhereInDocument(DHL),
    new TfIdfContextDisambiguation(DP),
    new AnnotationLevelDisambiguation(DPoss)
  )
  private def disambPreferDefaultLabel: Seq[DisambiguationStrategy] =
    Seq(new PreferDefaultLabelMatch(DHL))
  private def disambCellLine: Seq[DisambiguationStrategy] = Seq(
    new DefinedElsewhereInDocument(DHL),
    new TfIdfContextDisambiguation(DP)
  )

  def default: StrategyRunner = {
    val symbolicHL = ConfidenceLevelExecution(
      entClassStrategies = Map(
        "gene" -> Seq(
          new ExactMatchMapping(HighlyLikely, disambPreferDefaultLabel, disambiguationEssential = true),
          new ExactMatchMapping(HighlyLikely, disambGene),
          new SymbolMatchMapping(Probable, disambGene),
          new SynNormIsSubStringMapping(Probable, disambGene),
          new StrongMatchMapping(Possible, disambGene, symbolicOnly = true, searchThreshold = 90.0)
        ),
        "disease" -> Seq(
          new ExactMatchMapping(HighlyLikely, disambDefault),
          new SymbolMatchMapping(Probable, disambDefault),
          new SynNormIsSubStringMapping(Probable, disambDefault),
          new StrongMatchMapping(Possible, disambDefault, symbolicOnly = true)
        ),
        "drug" -> Seq(new ExactMatchMapping(HighlyLikely, disambDefault)),
        "cell_line" -> Seq(
          new ExactMatchMapping(HighlyLikely, disambCellLine),
          new SymbolMatchMapping(Probable, disambCellLine),
          new SynNormIsSubStringMapping(Probable, disambCellLine)
        )
      ),
      defaultStrategies = Seq(
        new ExactMatchMapping(HighlyLikely, disambDefault),
        new SymbolMatchMapping(Probable, disambDefault),
        new SynNormIsSubStringMapping(Probable, disambDefault),
        new StrongMatchMapping(Possible, disambDefault, symbolicOnly = true)
      ),
      stopOnSuccess = true
    )
    val symbolicProbable = ConfidenceLevelExecution(
      entClassStrategies = Map(
        "gene" -> Seq(
          new ExactMatchMapping(HighlyLikely, disambPreferDefaultLabel, disambiguationEssential = true),
          new ExactMatchMapping(HighlyLikely, disambGene)
        )
      ),
      defaultStrategies = Seq(new ExactMatchMapping(HighlyLikely, disambDefault)),
      stopOnSuccess = true
    )
    val possible = ConfidenceLevelExecution(
      entClassStrategies = Map.empty,
      defaultStrategies = Seq(
        new ExactMatchMapping(HighlyLikely,
          Seq(new DefinedElsewhereInDocument(DHL)), disambiguationEssential = true)
      ),
      stopOnSuccess = true
    )
    val nonSymbolicHL = ConfidenceLevelExecution(
      entClassStrategies = Map(
        "drug" -> Seq(
          new ExactMatchMapping(HighlyLikely, disambPreferDefaultLabel, disambiguationEssential = true),
          new ExactMatchMapping(HighlyLikely, disambDefault)
        ),
        "gene" -> Seq(
          new ExactMatchMapping(HighlyLikely, disambPreferDefaultLabel, disambiguationEssential = true),
          new ExactMatchMapping(HighlyLikely, disambGene),
          new SynNormIsSubStringMapping(Probable, disambGene),
          new StrongMatchMapping(Probable, disambGene)
        ),
        "disease" -> Seq(
          new ExactMatchMapping(HighlyLikely, disambPreferDefaultLabel, disambiguationEssential = true),
          new ExactMatchMapping(HighlyLikely, disambDefault),
          new StrongMatchWithEmbeddingConfirmation(Possible,
            disambiguationStrategies = disambDefault)
        ),
        "cell_line" -> Seq(
          new ExactMatchMapping(HighlyLikely, disambPreferDefaultLabel, disambiguationEssential = true),
          new ExactMatchMapping(HighlyLikely, disambCellLine),
          new SymbolMatchMapping(Probable, disambCellLine),
          new SynNormIsSubStringMapping(Probable, disambCellLine)
        )
      ),
      defaultStrategies = Seq(
        new ExactMatchMapping(HighlyLikely, disambPreferDefaultLabel, disambiguationEssential = true),
        new ExactMatchMapping(HighlyLikely, disambDefault),
        new StrongMatchMapping(Possible, disambDefault)
      ),
      stopOnSuccess = true
    )
    val nonSymbolicProbable = ConfidenceLevelExecution(
      entClassStrategies = Map(
        "gene" -> Seq(
          new ExactMatchMapping(HighlyLikely, disambPreferDefaultLabel, disambiguationEssential = true),
          new ExactMatchMapping(HighlyLikely, disambGene)
        )
      ),
      defaultStrategies = Seq(
        new ExactMatchMapping(HighlyLikely, disambPreferDefaultLabel, disambiguationEssential = true),
        new ExactMatchMapping(HighlyLikely, disambDefault)
      ),
      stopOnSuccess = true
    )
    StrategyRunner(
      symbolicStrategies = Map(
        MentionConfidence.HighlyLikely -> symbolicHL,
        MentionConfidence.Probable -> symbolicProbable,
        MentionConfidence.Possible -> possible
      ),
      nonSymbolicStrategies = Map(
        MentionConfidence.HighlyLikely -> nonSymbolicHL,
        MentionConfidence.Probable -> nonSymbolicProbable,
        MentionConfidence.Possible -> possible
      )
    )
  }
}

/** The MappingStep stage: runs the strategy fold per document against the
  * bundle's MappingResources (ref mapping_step.py:13-27). */
object MappingStep {
  def processPartition(
      resources: Resources,
      runner: StrategyRunner
  )(docs: Iterator[KDoc]): Iterator[KDoc] =
    docs.map(open(resources, runner))

  /** The per-document mapping function over `resources`' MappingResources. */
  def open(resources: Resources, runner: StrategyRunner): KDoc => KDoc = {
    val mres = MappingResources.forResources(resources)
    doc => if (doc.error.isDefined) doc else runner.process(doc, mres)
  }
}

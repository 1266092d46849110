package kgbench

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.CollectionAccumulator
import graft.index.Resources
import graft.link.{ClassFilter, DictionaryLinking, Ladders, MappingStep}
import graft.model._
import graft.ner.{EntitySplitter, MiniBern, TokenClassifier, TrieNer}
import graft.pipeline.{Json, Pages, Pipeline}
import graft.post.{Abbreviation, Cleanup, MergeOverlaps}
import graft.text.Html
import graft.triples.Triples

/** The batch step groups, called the way `graft.pipeline.Main` calls them,
  * and their traced twins. */
object Batch {

  final case class Outcome(docs: Long, failed: Long)

  /** The input balancing `Pipeline.run` applies, for the paths that do not
    * go through it. */
  def balanced(spark: SparkSession, pages: DataFrame): DataFrame =
    pages.repartition(spark.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col("url"))

  /** The `full` step group: triples by `pred`, failures and lineage. */
  def full(spark: SparkSession, pages: DataFrame, res: Broadcast[Resources],
      out: String, cfg: Pipeline.Config): Outcome = {
    import spark.implicits._
    val (docs0, lineage) = Pipeline.run(spark, pages, res, cfg = cfg)
    val docs = docs0.persist(StorageLevel.MEMORY_AND_DISK)
    Triples.fromDocs(spark, docs).toDF().write.mode("overwrite")
      .partitionBy("pred").parquet(s"$out/triples")
    Pipeline.failures(spark, docs, cfg.runId).toDF()
      .write.mode("overwrite").parquet(s"$out/failures")
    docs.unpersist()
    val rows = lineage.toList
    if (rows.nonEmpty) rows.toDF().write.mode("overwrite").parquet(s"$out/lineage")
    // a checkpointed run has lineage rows per stage: count the last stage
    val last = rows.filter(_.stage == rows.last.stage)
    Outcome(last.map(_.rowsIn).sum, last.map(_.failures).sum)
  }

  /** The `ner_only` hand-off (trie + transformer NER, docs JSON), balanced
    * so the `linking_only` input arrives in one split per core. */
  def nerOnly(spark: SparkSession, pages: DataFrame, res: Broadcast[Resources],
      out: String): Unit = {
    import spark.implicits._
    val docs = Pages.toDocs(spark, balanced(spark, pages)).mapPartitions { it =>
      val session = TokenClassifier.executorSession(false)
      it.map(d => TokenClassifier.processDoc(session)(TrieNer.processDoc(res.value)(d)))
    }
    Json.writeJson(docs, out)
  }

  /** The `linking_only` step group over a docs-JSON hand-off. The
    * resources reach the tasks through the broadcast, as in
    * `Pipeline.run`, not inside the task closure. */
  def linkingOnly(spark: SparkSession, handoff: String, res: Broadcast[Resources],
      out: String): Outcome = {
    import spark.implicits._
    val n = spark.sparkContext.longAccumulator("kgbench-docs")
    val f = spark.sparkContext.longAccumulator("kgbench-failed")
    val docs = Json.readJson(spark, handoff)
      .mapPartitions(it => Pipeline.linkingStages(res.value)(it))
      .mapPartitions(_.map { d => n.add(1); if (d.error.isDefined) f.add(1); d })
    Triples.fromDocs(spark, docs).toDF().write.mode("overwrite")
      .partitionBy("pred").parquet(s"$out/triples")
    Outcome(n.value, f.value)
  }

  // ---- traced twins ------------------------------------------------------

  final class Sink(spark: SparkSession) extends Serializable {
    val spans: CollectionAccumulator[Span] =
      spark.sparkContext.collectionAccumulator[Span]("kgbench-spans")
    val counts: CollectionAccumulator[Map[String, Double]] =
      spark.sparkContext.collectionAccumulator[Map[String, Double]]("kgbench-counts")
  }

  /** `Pages.toDocs`' per-row body: the extract step. */
  private def extract(p: PageRow): KDoc = {
    val extracted = Html.extractBytes(p.html)
    if (p.text != null && p.text.nonEmpty && extracted != p.text)
      KDoc(p.url, p.warc_ts, extracted, p.lang, Seq.empty,
        error = Some(s"text-extraction mismatch (${Html.version})"))
    else if (extracted.length > Pages.SkipDocLen)
      KDoc(p.url, p.warc_ts, "", p.lang, Seq.empty,
        error = Some(s"doc length ${extracted.length} > ${Pages.SkipDocLen}"))
    else KDoc(p.url, p.warc_ts, extracted, p.lang, Seq(Section("body", extracted)))
  }

  private def nEntities(ds: Array[KDoc]): Long =
    ds.iterator.filter(_.error.isEmpty).map(_.entities.size.toLong).sum

  /** `Pipeline.fusedStages` step by step over one buffered partition. Each
    * step gets its whole input as an array before its span opens, so the
    * pull-based linking and mapping iterators never bill upstream work. */
  def tracedPages(res: Broadcast[Resources], sink: Sink)(it: Iterator[PageRow]): Iterator[Triple] = {
    val tr = new Tracer(s"partition-${TaskContext.getPartitionId()}", "task")
    val rows = tr.span("spark.input")(it.toArray)
    val r = res.value
    val session = TokenClassifier.executorSession(false)
    var docs = tr.span("pipeline.extract")(rows.map(extract))
    val e0 = tr.span("trace.bookkeeping")(nEntities(docs))
    docs = tr.span("ner.trie")(docs.map(TrieNer.processDoc(r)))
    val e1 = tr.span("trace.bookkeeping") {
      val e = nEntities(docs)
      tr.count("ner.trie.mentions", e - e0)
      docs.foreach { d =>
        if (d.error.isEmpty) d.sections.foreach { s =>
          TokenClassifier.frames(TokenClassifier.wordpieces(s.text)).foreach { f =>
            tr.count("ner.transformer.frames", 1)
            tr.count("ner.transformer.flop", MiniBern.flops(f.size).toDouble)
          }
        }
      }
      e
    }
    docs = tr.span("ner.transformer")(docs.map(TokenClassifier.processDoc(session)))
    tr.span("trace.bookkeeping")(tr.count("ner.transformer.mentions", nEntities(docs) - e1))
    docs = tr.span("ner.splitter")(docs.map(EntitySplitter.processDoc(EntitySplitter.Config.default)))
    linkTail(r, tr, docs, sink)
  }

  /** `Pipeline.linkingStages` step by step over one buffered partition. */
  def tracedDocs(res: Broadcast[Resources], sink: Sink)(it: Iterator[KDoc]): Iterator[Triple] = {
    val tr = new Tracer(s"partition-${TaskContext.getPartitionId()}", "task")
    val docs = tr.span("spark.input")(it.toArray)
    linkTail(res.value, tr, docs, sink)
  }

  private def linkTail(r: Resources, tr: Tracer, in: Array[KDoc], sink: Sink): Iterator[Triple] = {
    var docs = in
    val keys = tr.span("trace.bookkeeping") {
      val eligible = for {
        d <- docs.iterator if d.error.isEmpty
        e <- d.entities.iterator
        if !DictionaryLinking.SkipNamespaces.contains(e.namespace) && e.candidates.isEmpty
      } yield (e.matchNorm, e.entityClass)
      val ks = eligible.toVector
      tr.count("link.dict.lookups", ks.size)
      ks.toSet
    }
    docs = tr.span("link.dict")(DictionaryLinking.processPartition(r)(docs.iterator).toArray)
    tr.span("trace.bookkeeping") {
      val exact = docs.iterator.filter(_.error.isEmpty).flatMap(_.entities)
        .filter(e => keys((e.matchNorm, e.entityClass)) &&
          e.candidates.exists(_.metrics.exactMatch.contains(true)))
        .map(e => (e.matchNorm, e.entityClass)).toSet
      tr.count("link.dict.searches", keys.size)
      tr.count("link.dict.exact", exact.size)
    }
    docs = tr.span("link.class_filter")(docs.map(ClassFilter.processDoc(ClassFilter.Rules())))
    docs = tr.span("link.mapping")(
      MappingStep.processPartition(r, Ladders.default)(docs.iterator).toArray)
    tr.span("trace.bookkeeping") {
      val es = docs.iterator.filter(_.error.isEmpty).flatMap(_.entities).toVector
      tr.count("link.mapping.entities", es.size)
      tr.count("link.mapping.mapped", es.count(_.mappings.nonEmpty))
    }
    docs = tr.span("post.abbrev")(docs.map(Abbreviation.processDoc))
    val c0 = tr.span("trace.bookkeeping")(nEntities(docs))
    docs = tr.span("post.cleanup")(docs.map(Cleanup.processDoc(Cleanup.Config())))
    val c1 = tr.span("trace.bookkeeping")(nEntities(docs))
    docs = tr.span("post.merge")(docs.map(MergeOverlaps.processDoc(MergeOverlaps.Config())))
    val triples = tr.span("triples.assemble")(docs.flatMap(Triples.fromDoc))
    tr.span("trace.bookkeeping") {
      tr.count("post.cleanup.dropped", c0 - c1)
      tr.count("post.merge.dropped", c1 - nEntities(docs))
      tr.count("triples.rows", triples.length)
      tr.count("docs", docs.length)
      tr.count("failed", docs.count(_.error.isDefined))
    }
    // the consumer (the parquet writer, which sorts by `pred` first) pulls
    // the triples after the chain has run: from its first pull to the end of
    // the task is `triples.write`, and the task span ends with the task
    var pulled = 0L
    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      val end = System.nanoTime()
      tr.record("triples.write", if (pulled == 0L) end else pulled, end)
      val (spans, counts) = tr.finish()
      spans.foreach(sink.spans.add)
      sink.counts.add(counts)
    }
    val out = triples.iterator
    new Iterator[Triple] {
      def hasNext: Boolean = {
        if (pulled == 0L) pulled = System.nanoTime()
        out.hasNext
      }
      def next(): Triple = out.next()
    }
  }

  def writeTriples(triples: Dataset[Triple], out: String): Unit =
    triples.toDF().write.mode("overwrite").partitionBy("pred").parquet(s"$out/triples")
}

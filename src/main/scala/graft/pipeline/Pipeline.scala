package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.broadcast.Broadcast
import scala.util.control.NonFatal
import graft.model._
import graft.index.Resources
import graft.ner.{EntitySplitter, TokenClassifier, TrieNer}
import graft.link.{ClassFilter, DictionaryLinking, EntityClassDisambiguation, Ladders, MappingStep, StrategyRunner, Xref}
import graft.post.{Abbreviation, Cleanup, MergeOverlaps}

/** Stage composition + checkpoint/resume + per-partition lineage
  * (ref Pipeline driver, kazu/pipeline/__init__.py:132-326; step order
  * kazu/conf/Pipeline/default.yaml:3-11; resumability per the north rule).
  *
  * The step order lives in one place, [[Pipeline.steps]]; every path runs
  * that list or a named slice of it. Every step is a narrow per-document map
  * — the only shuffle boundaries in the whole flow are input partitioning
  * and the final triple-side aggregations (SURVEY.md §3.1). Failure
  * isolation: [[Pipeline.compose]] wraps every step once and writes an
  * exception into the row (`KDoc.error`), so one bad page never kills a
  * task; failed rows route to the failures table under the step's name.
  *
  * Checkpointing: each named stage can persist to `<dir>/<stage>` (parquet
  * here; Iceberg snapshots in production — same contract: atomic replace +
  * readable-by-version). On resume, a stage directory that already exists is
  * read instead of recomputed, making any run resumable mid-corpus. Each
  * checkpoint write also appends per-partition lineage rows (stage,
  * partition, counts, resource/model versions, wall time).
  */
object Pipeline {

  final case class Config(
      checkpointDir: Option[String] = None,
      resume: Boolean = false,
      runId: String = "run-0",
      // opt-in int8 transformer inference (the reference's quantization
      // plane, kazu/quantization/ — enabled via pipeline config there too)
      int8Transformer: Boolean = false
  ) {
    /** Lineage records the version of the session this config actually
      * selects — never a free-floating string, so float and int8 outputs
      * cannot mix under one model label. */
    def modelVersion: String =
      graft.ner.TokenClassifier.executorSession(int8Transformer).version
  }

  final class Run(
      spark: SparkSession,
      cfg: Config,
      resourceVersion: String,
      val lineage: scala.collection.mutable.ArrayBuffer[LineageRow]
  ) {
    import spark.implicits._

    /** Checkpoint one stage to a versioned snapshot table ([[Snapshots]]:
      * the Iceberg contract — stage a complete `v=<n>` dir, then publish by
      * atomic pointer swap, old snapshots stay readable by version).
      * Cluster-safe: all decisions go through the Hadoop FileSystem of the
      * checkpoint URI (file:, hdfs:, s3a:, ...), and resume only ever binds
      * to a PUBLISHED complete snapshot. Lineage is gathered in a single
      * pass DURING the snapshot write (accumulator keyed by partition id —
      * task retries overwrite, never double-count) and persisted to a
      * `_LINEAGE` sidecar inside the snapshot, so a resumed run recovers
      * the stage's lineage without re-reading the stage table.
      */
    def stage(name: String, ds: => Dataset[KDoc]): Dataset[KDoc] =
      cfg.checkpointDir match {
        case None => ds
        case Some(dir) =>
          val table = new org.apache.hadoop.fs.Path(s"$dir/$name")
          val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val t0 = System.currentTimeMillis()
          val current = Snapshots.currentVersion(fs, table)
          val resumed = cfg.resume && current.isDefined
          val version =
            if (resumed) current.get else Snapshots.nextVersion(fs, table)
          val vPath = Snapshots.versionPath(table, version)
          val sidecar = new org.apache.hadoop.fs.Path(vPath, "_LINEAGE")
          if (!resumed) {
            val acc = spark.sparkContext
              .collectionAccumulator[(Int, Long, Long)](s"graft-lineage-$name")
            // count inside the write path: the parquet writer drains every
            // partition iterator fully, so the on-exhaustion accumulator
            // update always fires exactly once per task attempt
            ds.mapPartitions(Pipeline.countedPartition(acc))
              .write.mode("overwrite").parquet(vPath.toString)
            val counts = Pipeline.dedupCounts(acc)
            val out = fs.create(sidecar, true)
            counts.foreach { case (pid, n, f) => out.write(s"$pid,$n,$f\n".getBytes("UTF-8")) }
            out.close()
            Snapshots.publish(fs, table, version) // atomic replace
          }
          val wall = System.currentTimeMillis() - t0
          val counts: Seq[(Int, Long, Long)] =
            if (!fs.exists(sidecar)) Seq.empty
            else {
              val in = fs.open(sidecar)
              val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
              txt.linesIterator.filter(_.nonEmpty).map { l =>
                val Array(p, n, f) = l.split(","); (p.toInt, n.toLong, f.toLong)
              }.toSeq
            }
          counts.foreach { case (pid, n, fails) =>
            lineage += LineageRow(name, pid, s"$vPath/part-$pid",
              resourceVersion, cfg.modelVersion,
              rowsIn = n, rowsOut = n, failures = fails,
              wallMs = if (resumed) 0L else wall, runId = cfg.runId)
          }
          spark.read.parquet(vPath.toString).as[KDoc]
      }
  }

  /** Time-travel read of a checkpointed stage: `version < 0` resolves the
    * published current snapshot. */
  def readStage(
      spark: SparkSession,
      checkpointDir: String,
      stage: String,
      version: Long = -1L
  ): Dataset[KDoc] = {
    import spark.implicits._
    val table = new org.apache.hadoop.fs.Path(s"$checkpointDir/$stage")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v =
      if (version >= 0) {
        // explicit time travel must honor the same completeness gate as
        // pointer resolution: a crashed staging attempt leaves part files
        // without _SUCCESS, and reading them would silently truncate
        require(fs.exists(new org.apache.hadoop.fs.Path(
            Snapshots.versionPath(table, version), "_SUCCESS")),
          s"snapshot v=$version of $table is incomplete (no _SUCCESS)")
        version
      } else Snapshots.currentVersion(fs, table).getOrElse(
        sys.error(s"no published snapshot for $table"))
    spark.read.parquet(Snapshots.versionPath(table, v).toString).as[KDoc]
  }

  /** One named document step. `open` runs once per partition (or server
    * request) and returns the per-document function; it holds the
    * per-partition state: the dictionary-lookup cache, the bundle's
    * mapping resources, the transformer session. */
  final case class Step(name: String, open: () => KDoc => KDoc)

  /** The default document pipeline: the ONE place the step order lives,
    * mirroring the reference default step order
    * (conf/Pipeline/default.yaml:3-11). Every path runs this list or a slice
    * of it: the fused and checkpointed [[run]], [[nerOnly]] /
    * [[linkingOnly]] (`pipeline.Main` and the server routes), streaming and
    * the ladder export. A step whose config is empty is left out. Extraction
    * is not a step: it maps page rows to docs ([[Pages.toDocs]]).
    *
    *   trie_ner → transformer_ner → entity_splitter → entity_class_disambig
    *   → dict_linking → class_filter → mapping → xref → abbrev → cleanup
    *   → merge
    */
  def steps(
      resources: Resources,
      runner: StrategyRunner = Ladders.default,
      classRules: ClassFilter.Rules = ClassFilter.Rules(),
      withTransformerNer: Boolean = true,
      classDisambig: EntityClassDisambiguation.Config =
        EntityClassDisambiguation.Config(Map.empty),
      xrefs: Option[Xref.XrefMap] = None,
      int8Transformer: Boolean = false
  ): Seq[Step] = {
    def pure(name: String, f: KDoc => KDoc) = Step(name, () => f)
    Seq(
      Some(pure("trie_ner", TrieNer.processDoc(resources))),
      Option.when(withTransformerNer)(Step("transformer_ner", () =>
        TokenClassifier.processDoc(TokenClassifier.executorSession(int8Transformer)))),
      // the non-contiguous splitter runs right after NER, as the reference
      // attaches it to the NER step (entity_post_processing.py)
      Some(pure("entity_splitter", EntitySplitter.processDoc(EntitySplitter.Config.default))),
      // optional entity-class disambiguation (E16, non-default in the
      // reference too) resolves span-identical multi-class groups BEFORE
      // linking, as the reference step does
      Option.when(!classDisambig.isEmpty)(
        pure("entity_class_disambig", EntityClassDisambiguation.processDoc(classDisambig))),
      Some(Step("dict_linking", () => DictionaryLinking.open(resources))),
      Option.when(!classRules.isEmpty)(pure("class_filter", ClassFilter.processDoc(classRules))),
      Some(Step("mapping", () => MappingStep.open(resources, runner))),
      // E17 cross-reference expansion rides mapping post-processing, as the
      // reference's CrossReferenceManager does (disabled by default there too)
      xrefs.map(x => pure("xref", Xref.processDoc(x))),
      Some(pure("abbrev", Abbreviation.processDoc(_: KDoc))),
      Some(pure("cleanup", Cleanup.processDoc(Cleanup.Config()))),
      Some(pure("merge", MergeOverlaps.processDoc(MergeOverlaps.Config())))
    ).flatten
  }

  /** The `ner_only` step group (ref conf/Pipeline/default.yaml:14-20,
    * pipeline/__init__.py:233-276): every step before dictionary linking. */
  def nerOnly(steps: Seq[Step]): Seq[Step] = steps.takeWhile(_.name != "dict_linking")

  /** The `linking_only` step group: dictionary linking onward, over docs
    * that already carry entities. Deliberate widening vs the reference's
    * configured group (which lists only dictionary linking + mapping):
    * including the post-processing tail makes `ner_only ∘ linking_only ≡
    * full pipeline` hold exactly — spec-pinned both through the docs-JSON
    * hand-off and over HTTP. */
  def linkingOnly(steps: Seq[Step]): Seq[Step] = steps.dropWhile(_.name != "dict_linking")

  /** Open every step and chain them under the one failure-isolation
    * contract: a doc that already failed passes through unchanged, and a
    * non-fatal exception becomes the doc's error, prefixed with the step's
    * name — one bad page never kills a task. A step that fails to open
    * throws its exception for every doc that reaches it, so each becomes a
    * failure row of that step instead of a task abort. */
  def compose(steps: Seq[Step]): KDoc => KDoc = {
    val opened = steps.map(s =>
      (s.name, try s.open() catch { case NonFatal(e) => (_: KDoc) => throw e }))
    doc => opened.foldLeft(doc) { case (d, (name, f)) =>
      if (d.error.isDefined) d
      else
        try f(d)
        catch {
          case NonFatal(e) =>
            d.copy(error = Some(s"$name: ${e.getClass.getName}: ${e.getMessage}"))
        }
    }
  }

  /** Run `steps` over one partition; the steps open when it starts. */
  def mapDocs(steps: Seq[Step])(docs: Iterator[KDoc]): Iterator[KDoc] =
    docs.map(compose(steps))

  /** The `linking_only` step group over one partition of default-config
    * docs (`pipeline.Main`'s linking_only). */
  def linkingStages(resources: Resources)(docs: Iterator[KDoc]): Iterator[KDoc] =
    mapDocs(linkingOnly(steps(resources)))(docs)

  /** Wrap a partition's doc stream so (rows, failures) reach the lineage
    * accumulator exactly once, on exhaustion — the ONE definition of the
    * count-on-exhaustion contract, shared by the checkpointed stage writer
    * and the fused path (previously two divergent hand-rolled copies). */
  private[pipeline] def countedPartition(
      acc: org.apache.spark.util.CollectionAccumulator[(Int, Long, Long)])(
      it: Iterator[KDoc]): Iterator[KDoc] = {
    val pid = org.apache.spark.TaskContext.getPartitionId()
    var n = 0L; var fails = 0L
    val mapped = it.map { d => n += 1; if (d.error.isDefined) fails += 1; d }
    new Iterator[KDoc] {
      private var emitted = false
      def hasNext: Boolean = {
        val h = mapped.hasNext
        if (!h && !emitted) { emitted = true; acc.add((pid, n, fails)) }
        h
      }
      def next(): KDoc = mapped.next()
    }
  }

  /** Dedup accumulated per-partition counts by partition id: a retried or
    * speculative attempt adds a second entry for the same pid; the stages
    * are deterministic so completed attempts agree — keep the max, because
    * an attempt killed mid-partition reports a PARTIAL count. */
  private[pipeline] def dedupCounts(
      acc: org.apache.spark.util.CollectionAccumulator[(Int, Long, Long)])
      : Seq[(Int, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    acc.value.asScala.toSeq
      .groupBy(_._1)
      .map { case (_, es) => es.maxBy(e => (e._2, e._3)) }
      .toSeq.sortBy(_._1)
  }

  def run(
      spark: SparkSession,
      pages: org.apache.spark.sql.DataFrame,
      resources: Broadcast[Resources],
      runner: StrategyRunner = Ladders.default,
      cfg: Config = Config(),
      classRules: ClassFilter.Rules = ClassFilter.Rules(),
      withTransformerNer: Boolean = true,
      classDisambig: EntityClassDisambiguation.Config =
        EntityClassDisambiguation.Config(Map.empty),
      xrefs: Option[Xref.XrefMap] = None
  ): (Dataset[KDoc], Seq[LineageRow]) = {
    val int8 = cfg.int8Transformer
    runSteps(spark, pages, resources, cfg)(r =>
      steps(r, runner, classRules, withTransformerNer, classDisambig, xrefs, int8))
  }

  /** [[run]] over the step list `stepsOf` builds from the executor's
    * resources (built inside each task, so the broadcast never rides a task
    * closure). Tests substitute steps here. */
  private[graft] def runSteps(
      spark: SparkSession,
      pages: org.apache.spark.sql.DataFrame,
      resources: Broadcast[Resources],
      cfg: Config
  )(stepsOf: Resources => Seq[Step]): (Dataset[KDoc], Seq[LineageRow]) = {
    import spark.implicits._

    // Input balancing (SURVEY §4): the transformer stage is the compute
    // hot spot, so the input must spread across all cores BEFORE the fused
    // mapPartitions — a small parquet source arrives as one split, which
    // would serialize the whole pipeline onto one task. Hash on url (the
    // well-distributed key). At corpus scale the source arrives in
    // thousands of splits and this is a no-op.
    val parallelism = spark.sparkContext.defaultParallelism
    val pagesBalanced =
      if (pages.rdd.getNumPartitions < parallelism)
        pages.repartition(parallelism, org.apache.spark.sql.functions.col("url"))
      else pages
    val docs = Pages.toDocs(spark, pagesBalanced)
    val resourceVersion = resources.value.version // read on the driver

    if (cfg.checkpointDir.isEmpty) {
      // fused fast path: extract + every step in one mapPartitions — one
      // encoder deserialize + serialize per document for the whole pipeline
      // instead of one per step. At 32 cores this roughly halves
      // allocation/memory traffic, the scaling bottleneck of the staged plan
      // (each step boundary re-materializes the full nested KDoc row).
      // Checkpointed runs cut the chain: resumability is exactly that cut.
      // Lineage without a materialization barrier: per-partition counts are
      // tracked in a CollectionAccumulator and surface as lineage rows once
      // an action has run (counts reflect tasks executed so far).
      val acc = spark.sparkContext.collectionAccumulator[(Int, Long, Long)]("graft-lineage")
      val out = docs.mapPartitions(it =>
        countedPartition(acc)(mapDocs(stepsOf(resources.value))(it)))
      // a view: materializes rows whenever accessed, so lineage read AFTER
      // an action reflects the executed partitions
      val lineageView: Seq[LineageRow] = new scala.collection.immutable.AbstractSeq[LineageRow] {
        private def rows: Seq[LineageRow] =
          dedupCounts(acc).map { case (pid, n, fails) =>
            LineageRow("fused_pipeline", pid, s"partition-$pid",
              resourceVersion, cfg.modelVersion, n, n, fails, 0L, cfg.runId)
          }
        def apply(i: Int): LineageRow = rows(i)
        def length: Int = rows.length
        def iterator: Iterator[LineageRow] = rows.iterator
      }
      return (out, lineageView)
    }

    // checkpointed: one snapshot per step, named after it
    val runCtx = new Run(spark, cfg, resourceVersion, scala.collection.mutable.ArrayBuffer.empty)
    val out = stepsOf(resources.value).map(_.name)
      .foldLeft(runCtx.stage("extract", docs)) { (ds, name) =>
        runCtx.stage(name, ds.mapPartitions(it =>
          mapDocs(stepsOf(resources.value).filter(_.name == name))(it)))
      }
    (out, runCtx.lineage.toSeq)
  }

  /** Failed docs as failure rows. A failure's error text starts with the
    * name of the step that wrote it (`extract` for [[Pages.toDocs]]), which
    * becomes the row's stage. */
  def failures(spark: SparkSession, docs: Dataset[KDoc], runId: String): Dataset[FailureRow] = {
    import spark.implicits._
    docs.flatMap(d => d.error.map(e => FailureRow(d.url, e.takeWhile(_ != ':'), e, runId)))
  }

  /** Incremental ingest: restrict a page batch to urls NOT already present
    * in the existing triples table (left-anti join on url — at 10^12 docs a
    * new crawl slice must never reprocess the corpus; the anti-join keys on
    * the well-distributed url and AQE handles the size asymmetry). Pages
    * whose processing produced no triples are re-attempted — cheap, and it
    * makes the operation idempotent rather than at-most-once. */
  def newPagesOnly(
      pages: org.apache.spark.sql.DataFrame,
      existingTriples: org.apache.spark.sql.DataFrame
  ): org.apache.spark.sql.DataFrame =
    pages.join(existingTriples.select("url").distinct(), Seq("url"), "left_anti")

  /** The incremental step group (see Main): anti-join new pages against the
    * committed triples table, run the pipeline, stage the increment and
    * commit it with ONE atomic directory rename as a new `inc=<id>`
    * partition — the rename is the manifest, so a crash mid-write leaves
    * only invisible staging data and the rerun reprocesses those urls.
    * Returns (docs, lineage, committedPath). Extracted from Main so the
    * commit/migration/bootstrap logic is unit-testable.
    */
  def runIncremental(
      spark: SparkSession,
      pages: org.apache.spark.sql.DataFrame,
      resources: Broadcast[Resources],
      cfg: Config,
      output: String
  ): (Dataset[KDoc], Seq[LineageRow], String) = {
    val triplesPath = new org.apache.hadoop.fs.Path(s"$output/triples")
    val fs = triplesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // migrate a legacy layout (top-level pred= partitions from the old
    // raw-append mode) under inc=legacy, so partition discovery never sees
    // two conflicting directory depths
    if (fs.exists(triplesPath) &&
        fs.listStatus(triplesPath).exists(_.getPath.getName.startsWith("pred="))) {
      val legacy = new org.apache.hadoop.fs.Path(triplesPath, "inc=legacy")
      fs.mkdirs(legacy)
      fs.listStatus(triplesPath)
        .filter(_.getPath.getName.startsWith("pred="))
        .foreach { st =>
          require(fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(legacy, st.getPath.getName)),
            s"legacy migration failed for ${st.getPath}")
        }
    }
    // "table exists" = an inc= partition with actual parquet data — an
    // empty committed increment (zero triples) must not force a schema-less
    // read on the next run
    def hasParquet(p: org.apache.hadoop.fs.Path): Boolean = {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    val hasTable = fs.exists(triplesPath) &&
      fs.listStatus(triplesPath).exists(_.getPath.getName.startsWith("inc=")) &&
      hasParquet(triplesPath)
    // single-writer contract (same as the snapshot pointer swap): staging
    // dirs from crashed prior runs are invisible to readers but leak disk
    // forever — each has a different runId, so no later run would ever
    // overwrite them. Reclaim them before staging ours.
    val outPath = new org.apache.hadoop.fs.Path(output)
    if (fs.exists(outPath))
      fs.listStatus(outPath)
        .filter(_.getPath.getName.startsWith("_staging_triples_"))
        .foreach(st => fs.delete(st.getPath, true))
    val newPages =
      if (!hasTable) pages
      else newPagesOnly(pages,
        spark.read.option("basePath", s"$output/triples")
          .parquet(s"$output/triples"))
    val (docs0, lineage) = run(spark, newPages, resources, cfg = cfg)
    // persisted: the staging write below and the caller's failures write are
    // two actions over one inference-heavy lineage; the CALLER unpersists
    val docs = docs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val staging = new org.apache.hadoop.fs.Path(s"$output/_staging_triples_${cfg.runId}")
    graft.triples.Triples.fromDocs(spark, docs).toDF().write.mode("overwrite")
      .partitionBy("pred").parquet(staging.toString)
    fs.mkdirs(triplesPath)
    // unique partition name even if the same run-id is retried after a
    // successful commit (the retry's anti-join usually empties it anyway)
    var target = new org.apache.hadoop.fs.Path(triplesPath, s"inc=${cfg.runId}")
    var attempt = 1
    while (fs.exists(target)) {
      attempt += 1
      target = new org.apache.hadoop.fs.Path(triplesPath, s"inc=${cfg.runId}-$attempt")
    }
    require(fs.rename(staging, target),
      s"incremental commit failed: rename $staging -> $target")
    (docs, lineage, target.toString)
  }
}

package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.index.Resources
import graft.triples.Triples

/** spark-submit entry points with step-group selection — the batch
  * equivalent of the reference's service routes + pipeline step groups
  * (ner_only / linking_only, kazu/conf/Pipeline/default.yaml:14-20,
  * kazu/pipeline/__init__.py:233-276; SURVEY.md §3.2).
  *
  * Usage: spark-submit --class graft.pipeline.Main <jar> \
  *   --step-group full|ner_only|linking_only \
  *   --input <sfDir or pages parquet> --output <dir> \
  *   [--checkpoint <dir>] [--resume] [--run-id <id>]
  */
object Main {

  /** Valueless flags. Parsed positionally: a fixed-stride pairing would
    * desynchronize on the first flag and silently drop every later option
    * (e.g. `--resume --run-id x` losing the run id → a random UUID runId →
    * broken lineage correlation). */
  private val flagOpts = Set("resume", "int8")

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument: $a")
      // --key=value is the escape hatch for values that themselves start
      // with "--" (a path, a flag-looking run-id); split on the FIRST '='
      // so values containing '=' survive
      val eq = a.indexOf('=')
      if (eq >= 0) {
        val (k, v) = (a.substring(2, eq), a.substring(eq + 1))
        // boolean flags only accept true/false through the = form —
        // "--int8=1" silently coercing to FALSE would run the float model
        // while the operator believes quantization is on
        require(!flagOpts(k) || v == "true" || v == "false",
          s"--$k is a boolean flag: use --$k, --$k=true or --$k=false (got '$v')")
        m += k -> v; i += 1
      }
      else {
        val k = a.drop(2)
        if (flagOpts(k)) { m += k -> "true"; i += 1 }
        else {
          // positional values must not look like options — silently
          // consuming a typo'd "--restume" as the previous option's value
          // would run with the wrong config; flag-looking VALUES go
          // through the --key=value escape hatch above
          require(i + 1 < args.length && !args(i + 1).startsWith("--"),
            s"--$k needs a value (use --$k=value for values starting with '--')")
          m += k -> args(i + 1); i += 2
        }
      }
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)

    val stepGroup = opts.getOrElse("step-group", "full")
    val input = opts.getOrElse("input", "/root/testdata/sf0.001")
    val output = opts.getOrElse("output", "/tmp/graft-out")
    val runId = opts.getOrElse("run-id", s"run-${java.util.UUID.randomUUID()}")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .appName(s"graft-$stepGroup")
      .config("spark.sql.shuffle.partitions", cpus)
    // spark-submit injects the master; standalone runs fall back to local
    val withMaster =
      if (sys.props.contains("spark.master")) builder
      else builder.master(s"local[$cpus]")
    val spark = withMaster
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // lazy: linking_only consumes a docs-JSON hand-off, not a pages table —
    // an eager read here would fail on $input/documents.parquet before the
    // branch ever ran
    lazy val pages = Pages.fromDocuments(spark, input)
    val res = spark.sparkContext.broadcast(Resources.corpus)
    val cfg = Pipeline.Config(
      checkpointDir = opts.get("checkpoint"),
      resume = opts.get("resume").contains("true"),
      runId = runId,
      // --int8: the reference's opt-in quantized-inference plane
      int8Transformer = opts.get("int8").contains("true"))

    stepGroup match {
      case "ner_only" =>
        // every step before linking: emit mention rows AND the document
        // JSON so a later linking_only run can resume from it (step-group
        // composability, ref pipeline/__init__.py:233-276)
        // persisted: the mention rows AND the docs-JSON hand-off are two
        // actions over the same (transformer-inference-heavy) lineage
        val int8 = cfg.int8Transformer
        val docs = Pages.toDocs(spark, pages).mapPartitions(it => Pipeline.mapDocs(
            Pipeline.nerOnly(Pipeline.steps(res.value, int8Transformer = int8)))(it))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.flatMap(d => d.sections.flatMap(_.entities.map(e =>
            (d.url, e.matchStr, e.entityClass, e.start, e.end, e.namespace))))
          .toDF("url", "match", "entity_class", "start", "end", "namespace")
          .write.mode("overwrite").parquet(s"$output/mentions")
        Json.writeJson(docs, s"$output/docs_json")
        docs.unpersist()
      case "linking_only" =>
        // consume ner_only's document JSON: run ONLY the linking_only steps
        // over the already-recognized entities. The broadcast is read
        // inside the task: `res.value` here would ship the bundle in every
        // task closure
        val docs = Json.readJson(spark, s"$input")
          .mapPartitions(it => Pipeline.linkingStages(res.value)(it))
        Triples.fromDocs(spark, docs).toDF().write.mode("overwrite")
          .partitionBy("pred").parquet(s"$output/triples")
      case "incremental" =>
        // process ONLY pages whose url is absent from the existing triples
        // table, append the new triples (at corpus scale a crawl slice must
        // never trigger a full reprocess). Bootstrap: with no existing
        // table yet, every page is new.
        //
        // Idempotence needs the append to be ATOMIC with respect to the
        // anti-join: a raw `mode("append")` that dies mid-write would leave
        // a url with a partial triple set that the rerun's anti-join then
        // skips forever. So each increment is staged to a side directory
        // and committed by a single directory rename into the table as a
        // new `inc=<id>` partition — the rename IS the manifest: a failed
        // run leaves only invisible staging data and the rerun reprocesses
        // those urls from scratch.
        val (docs, lineage, _) =
          Pipeline.runIncremental(spark, pages, res, cfg, output)
        // docs is persisted by runIncremental (its triples staging write and
        // this failures write are two actions over one inference-heavy
        // lineage); released here, after the last consumer
        Pipeline.failures(spark, docs, runId).toDF()
          .write.mode("append").parquet(s"$output/failures")
        docs.unpersist()
        if (lineage.nonEmpty)
          lineage.toDF().write.mode("append").parquet(s"$output/lineage")
      case "full" =>
        val (docs0, lineage) = Pipeline.run(spark, pages, res, cfg = cfg)
        // two actions (triples, failures) over one transformer-inference-
        // heavy lineage: without a persist the full pipeline executes twice
        // in the default fused (no --checkpoint) mode
        val docs = docs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val triples = Triples.fromDocs(spark, docs)
        // graph table layout: partition by predicate (tiny, one per entity
        // class); url-bucketing inside each partition comes free from the
        // upstream hash partitioning of docs (production: Iceberg
        // PARTITIONED BY (pred, bucket(64, subj)))
        triples.toDF().write.mode("overwrite")
          .partitionBy("pred").parquet(s"$output/triples")
        Pipeline.failures(spark, docs, runId).toDF()
          .write.mode("overwrite").parquet(s"$output/failures")
        docs.unpersist()
        // overwrite, matching triples/failures: a full run REPLACES the
        // table, so its lineage must describe exactly the current data —
        // appending would accumulate stale rows from replaced runs
        // (incremental mode appends, because there the table accretes)
        if (lineage.nonEmpty)
          lineage.toDF().write.mode("overwrite").parquet(s"$output/lineage")
    }
    spark.stop()
  }
}

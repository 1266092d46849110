package kgbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.index.Resources
import graft.ontology.CorpusOntology
import graft.pipeline.{Pages, Pipeline}
import scala.jdk.CollectionConverters._

/** The JVM half of the benchmark: runs one workload and writes
  * `<work>/result.json`. `run.py` makes the inputs, checks every output
  * against the DuckDB oracle and prints the metrics. Every parameter of a
  * workload is set in [[main]]'s workload match.
  *
  *   --workload fused_1k|linking_1k_ont30k|serve_40rps
  *   --seed n --seconds s --trace 0|1 --work dir --data dir [--boot 1]
  *
  * With `--boot 1` the JVM only does the workload's set-up, prints the
  * milliseconds from JVM start until it is done, and exits.
  */
object Main {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
    def boot: Boolean = m.get("boot").contains("1")
    def work: String = apply("work")
    def data: String = apply("data")
    val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  }

  /** Samples per end-to-end metric, extras printed for people, per-layer
    * values, and the output directories the oracle gate must check. */
  final class Result {
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val tripleDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    val digestPairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var spans: Seq[Span] = Seq.empty
    var attempted = 0L
    var failed = 0L
    var serveRows: Option[String] = None
    var calibrationBefore = 0.0
  }

  def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]").appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSpark(): Unit = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    .foreach { s => s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }

  /** Doc texts as `run.py` writes them beside documents.parquet, one
    * `doc_id<TAB>text` line each. */
  def texts(o: Opts): IndexedSeq[String] = {
    val src = scala.io.Source.fromFile(s"${o.data}/texts.tsv", "UTF-8")
    val t = try src.getLines().map(_.split("\t", 2)).toVector finally src.close()
    require(t.indices.forall(i => t(i)(0).toInt == i), "doc ids must be 0..n-1")
    t.map(_(1))
  }

  /** The corpus ontology plus `synonyms` seeded synthetic ones, none of
    * whose tokens clashes with a word of the input texts. */
  def ontologyRows(o: Opts, synonyms: Int): Seq[graft.ontology.OntologyRow] =
    if (synonyms == 0) CorpusOntology.rows
    else CorpusOntology.rows ++
      SynthOntology.generate(o.seed, synonyms, texts(o).flatMap(_.split(" ")).toSet)

  def buildResources(o: Opts, synonyms: Int): Resources =
    Resources.build(ontologyRows(o, synonyms), CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords, version = s"kgbench/${o.workload}/$synonyms/${o.seed}")

  final case class Env(spark: SparkSession, res: Resources,
      bres: Broadcast[Resources], pages: DataFrame)

  /** Model load as a fresh executor JVM pays it. The pipeline itself uses
    * the JVM-wide session, which only the first call builds. */
  def loadModel(): Unit = {
    graft.ner.TokenClassifier.executorSession(false)
    new graft.ner.MiniBern(graft.ner.TokenClassifier.CorpusVocab)
  }

  /** One set-up: Spark session, resource bundle (with the synthetic
    * synonyms), broadcast, model load and the page table. */
  def batchSetup(o: Opts, cores: Int, synonyms: Int): Env = {
    stopSpark()
    val spark = session(cores, o.work)
    val res = buildResources(o, synonyms)
    val bres = spark.sparkContext.broadcast(res)
    loadModel()
    Env(spark, res, bres, Pages.fromDocuments(spark, o.data))
  }

  /** Set-up is done: `setup_s` is the time from JVM start until now, as
    * served time since `main` started, the same definition for every
    * workload. A `--boot 1` JVM prints it (in ms) and exits; `run.py` adds
    * those fresh-JVM samples to this one. */
  def setupDone(o: Opts, r: Result): Unit = {
    val ms = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime *
      servedShare(startTicks, cpuTicks())
    if (o.boot) {
      println(ms)
      System.exit(0)
    }
    r.samples("setup_s") = Seq(ms / 1000.0)
    if (o.trace) r.calibrationBefore = graft.Bench.calibrationProbe()
  }

  /** Time `body` after a full collection, so garbage left by earlier work
    * is not collected on its clock. */
  def timeClean[T](body: => T): (Double, T) = { System.gc(); time(body) }

  /** Busy and stolen clock ticks of all CPUs, from /proc/stat. A stolen
    * tick is one in which a CPU had work but the hypervisor ran another
    * guest. (0, 0) where /proc/stat is not readable. */
  def cpuTicks(): (Long, Long) = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val t = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (t(0) + t(1) + t(2) + t(5) + t(6), t(7))
  }.getOrElse((0L, 0L))

  /** The share of the CPU time asked for between two [[cpuTicks]] readings
    * that the hypervisor gave: busy / (busy + stolen); 1 on an unshared
    * machine. */
  def servedShare(t0: (Long, Long), t1: (Long, Long)): Double = {
    val (busy, stolen) = (t1._1 - t0._1, t1._2 - t0._2)
    if (busy + stolen > 0) busy.toDouble / (busy + stolen) else 1.0
  }

  /** [[timeClean]], also returning the served share over the timed
    * interval: (wall seconds, served share, result). Their product, the
    * served time, is to first order the wall time of the same work when no
    * CPU time is stolen (README.md, "Host load"). */
  def timeServed[T](body: => T): (Double, Double, T) = {
    System.gc()
    val t0 = cpuTicks()
    val (sec, v) = time(body)
    (sec, servedShare(t0, cpuTicks()), v)
  }

  /** Ticks when `main` started, for the served share of set-up. */
  private var startTicks = (0L, 0L)

  /** Heap in use after a forced full collection, in MB: the least of three
    * collections 200 ms apart, so threads still winding down release what
    * they hold. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def serializedBytes(x: AnyRef): Long = {
    var n = 0L
    val counter = new java.io.OutputStream {
      def write(b: Int): Unit = n += 1
      override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
    }
    val out = new java.io.ObjectOutputStream(counter)
    out.writeObject(x); out.close()
    n
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The q-quantile with linear interpolation between order statistics,
    * as Python's `statistics.quantiles(method="inclusive")`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val h = q * (s.length - 1)
      val i = math.floor(h).toInt
      if (i + 1 >= s.length) s.last else s(i) + (h - i) * (s(i + 1) - s(i))
    }
  }

  // ---- batch workloads ----------------------------------------------------

  /** Both batch workloads share one shape: set up once, `prepare` (inputs
    * that are not part of set-up), a cold run, `warmupRuns` unmeasured runs
    * (the JIT compiles for tens of seconds after the cold run, and each
    * JVM takes its own path there), then warm runs for `--seconds`. Every
    * run is timed as served time ([[timeServed]]). `one` runs the step
    * group once into `out`. */
  def batch(o: Opts, r: Result, synonyms: Int, warmupRuns: Int, prepare: Env => Unit,
      one: (Env, String) => Batch.Outcome): Unit = {
    val env = batchSetup(o, o.cores, synonyms)
    setupDone(o, r)
    prepare(env)
    var runNo = 0
    val walls, shares, jit = scala.collection.mutable.ArrayBuffer.empty[Double]
    val comp = java.lang.management.ManagementFactory.getCompilationMXBean
    def run(): Double = {
      runNo += 1
      val out = s"${o.work}/out/run-$runNo"
      val c0 = comp.getTotalCompilationTime
      val (wall, share, oc) = timeServed(one(env, out))
      jit += (comp.getTotalCompilationTime - c0).toDouble
      r.tripleDirs += s"$out/triples"
      r.attempted += oc.docs; r.failed += oc.failed
      walls += wall; shares += share
      wall * share
    }
    r.samples("cold_s") = Seq(run())
    for (_ <- 1 to warmupRuns) run()
    val measured = walls.length
    val warm = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < o.seconds) b += run()
      b.toSeq
    }
    val docs = r.attempted / runNo
    r.samples("docs_per_s") = warm.map(docs / _)
    r.samples("latency_p50_ms") = warm.map(_ * 1000)
    r.samples("latency_p90_ms") = Seq(quantile(warm, 0.9) * 1000)
    // after the session stops, so idle executor threads do not count
    stopSpark()
    r.samples("retained_heap_mb") = Seq(retainedHeapMb())
    r.info("run_walls_s") = walls.map(x => f"$x%.3f").mkString(" ")
    r.info("run_served_shares") = shares.map(x => f"$x%.3f").mkString(" ")
    r.info("run_jit_ms") = jit.map(x => f"$x%.0f").mkString(" ")
    r.info("warm_runs") = walls.length - measured
  }

  /** Trace mode for a batch workload: a warm-up run, one untraced run with
    * the Spark counters on, the traced composition of the same steps twice
    * (the first builds the code Spark generates for its plans, the second
    * is measured), and a run at half the cores for `pipeline.scaling_eff`.
    * Every output goes through the oracle gate, and the traced and
    * untraced digests must match. */
  def batchTrace(o: Opts, r: Result, synonyms: Int, prepare: Env => Unit,
      one: (Env, String) => Batch.Outcome,
      traced: (Env, Batch.Sink) => org.apache.spark.sql.Dataset[graft.model.Triple]): Unit = {
    val env = batchSetup(o, o.cores, synonyms)
    setupDone(o, r)
    val (buildSec, res) = time(buildResources(o, synonyms))
    r.layers("index.resources.build_ms") = buildSec * 1000
    r.layers("index.resources.bytes") = serializedBytes(res).toDouble
    val (fitSec, idx) = time(new graft.link.DictionaryLinking.LinkingIndexes(res))
    r.layers("index.tfidf.fit_ms") = fitSec * 1000
    r.layers("index.tfidf.synonyms") = idx.byParser.values.map(_.synNorms.length).sum.toDouble
    prepare(env)
    val sc = env.spark.sparkContext
    val counters = new SparkCounters
    sc.addSparkListener(counters)
    def outcome(dir: String, oc: Batch.Outcome): Unit = {
      r.tripleDirs += s"$dir/triples"
      r.attempted += oc.docs; r.failed += oc.failed
    }
    val warmup = s"${o.work}/out/warmup"
    outcome(warmup, one(env, warmup))
    counters.reset(sc)
    val plain = s"${o.work}/out/untraced"
    val (plainSec, oc) = timeClean(one(env, plain))
    outcome(plain, oc)
    r.layers ++= counters.snapshot(sc)
    def tracedOnce(dir: String): (Batch.Sink, Double, Double) = {
      val sink = new Batch.Sink(env.spark)
      counters.reset(sc)
      val (sec, _) = timeClean(Batch.writeTriples(traced(env, sink), dir))
      r.tripleDirs += s"$dir/triples"
      (sink, sec, counters.snapshot(sc)("spark.task_ms"))
    }
    tracedOnce(s"${o.work}/out/traced-warmup")
    val tracedDir = s"${o.work}/out/traced"
    val (sink, tracedSec, taskMs) = tracedOnce(tracedDir)
    sc.removeSparkListener(counters)
    r.digestPairs += ((s"$plain/triples", s"$tracedDir/triples"))
    val spans = sink.spans.value.asScala.toSeq
    val counts = Spans.sumCounts(sink.counts.value.asScala)
    val self = Spans.selfMs(spans)
    r.spans = spans
    def c(k: String) = counts.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    for (k <- Seq("pipeline.extract", "ner.trie", "ner.transformer", "ner.splitter",
        "link.dict", "link.class_filter", "link.mapping", "post.abbrev",
        "post.cleanup", "post.merge", "triples.assemble", "spark.input"))
      r.layers(s"$k.self_ms") = self.getOrElse(k, 0.0)
    r.layers("ner.transformer.frames") = c("ner.transformer.frames")
    r.layers("ner.transformer.mentions") = c("ner.transformer.mentions")
    r.layers("ner.transformer.gflops") =
      ratio(c("ner.transformer.flop") / 1e9, self.getOrElse("ner.transformer", 0.0) / 1000)
    r.layers("ner.trie.mentions") = c("ner.trie.mentions")
    r.layers("link.dict.searches") = c("link.dict.searches")
    r.layers("link.dict.cache_hit_ratio") =
      if (c("link.dict.lookups") > 0) 1 - c("link.dict.searches") / c("link.dict.lookups") else 0.0
    r.layers("link.dict.exact_ratio") = ratio(c("link.dict.exact"), c("link.dict.searches"))
    r.layers("link.dict.ms_per_search") =
      ratio(self.getOrElse("link.dict", 0.0), c("link.dict.searches"))
    r.layers("link.mapping.mapped_ratio") = ratio(c("link.mapping.mapped"), c("link.mapping.entities"))
    r.layers("post.cleanup.dropped") = c("post.cleanup.dropped")
    r.layers("post.merge.dropped") = c("post.merge.dropped")
    r.layers("triples.rows") = c("triples.rows")
    r.layers("triples.write_ms") = self.getOrElse("triples.write", 0.0)
    val bookkeeping = self.getOrElse("trace.bookkeeping", 0.0)
    val layerSum = self.filter { case (k, _) => k != "task" && k != "trace.bookkeeping" }.values.sum
    r.layers("trace.task_ms") = spans.filter(_.name == "task").map(_.ms).sum
    r.layers("trace.bookkeeping_ms") = bookkeeping
    // layer self times against the task time Spark measured for the traced
    // job, less the benchmark's own counting work
    r.layers("trace.layer_sum_ratio") = ratio(layerSum, taskMs - bookkeeping)
    r.layers("trace.overhead") = ratio(tracedSec, plainSec)
    r.info("traced_wall_s") = tracedSec
    r.info("untraced_wall_s") = plainSec
    r.info("traced_job_task_ms") = taskMs
    val half = math.max(1, o.cores / 2)
    val halfEnv = batchSetup(o, half, synonyms)
    prepare(halfEnv)
    val halfDir = s"${o.work}/out/half"
    val (halfSec, halfOc) = timeClean(one(halfEnv, halfDir))
    outcome(halfDir, halfOc)
    r.layers("pipeline.scaling_eff") = ratio(oc.docs / plainSec, 2 * halfOc.docs / halfSec)
    r.info("half_cores") = half
  }

  def fusedOne(e: Env, out: String): Batch.Outcome =
    Batch.full(e.spark, e.pages, e.bres, out, Pipeline.Config(runId = "kgbench"))

  def tracedPages(e: Env, sink: Batch.Sink) = {
    import e.spark.implicits._
    // a local, so the task closure holds the broadcast, not `e` and the
    // resource bundle in it
    val bres = e.bres
    Batch.balanced(e.spark, e.pages).as[graft.model.PageRow]
      .mapPartitions(Batch.tracedPages(bres, sink))
  }

  /** `fused_1k`; its trace run also times the checkpointed path and a
    * resume over its snapshots, for the `pipeline.snapshot.*` layers. */
  def fused(o: Opts, r: Result, warmupRuns: Int): Unit =
    if (!o.trace) batch(o, r, 0, warmupRuns, _ => (), fusedOne)
    else {
      batchTrace(o, r, 0, _ => (), fusedOne, tracedPages)
      val env = batchSetup(o, o.cores, 0)
      val out = s"${o.work}/out/checkpointed"
      def ckpt(resume: Boolean, dir: String) = {
        val (sec, oc) = timeClean(Batch.full(env.spark, env.pages, env.bres, dir,
          Pipeline.Config(checkpointDir = Some(s"$out/checkpoint"), resume = resume,
            runId = "kgbench")))
        r.tripleDirs += s"$dir/triples"
        r.attempted += oc.docs; r.failed += oc.failed
        sec
      }
      r.layers("pipeline.checkpointed_ms") = ckpt(resume = false, out) * 1000
      r.layers("pipeline.resume.read_ms") = ckpt(resume = true, s"$out/resumed") * 1000
      env.spark.read.parquet(s"$out/lineage")
        .groupBy("stage").agg(org.apache.spark.sql.functions.max("wallMs")).collect()
        .foreach(row => r.layers(s"pipeline.snapshot.stage_ms.${row.getString(0)}") =
          row.getLong(1).toDouble)
      r.layers("pipeline.snapshot.bytes") = du(new java.io.File(s"$out/checkpoint")).toDouble
    }

  /** `linking_1k_ont30k` with `synonyms` synthetic synonyms. The `ner_only`
    * hand-off is an input, not set-up: made once, with the corpus
    * ontology, after set-up and before the first timed run. */
  def linking(o: Opts, r: Result, synonyms: Int, warmupRuns: Int): Unit = {
    val handoff = s"${o.work}/handoff"
    val prepare: Env => Unit = e =>
      if (!new java.io.File(handoff).exists()) {
        val corpus = e.spark.sparkContext.broadcast(Resources.corpus)
        r.info("handoff_ms") = time(Batch.nerOnly(e.spark, e.pages, corpus, handoff))._1 * 1000
      }
    val one: (Env, String) => Batch.Outcome =
      (e, out) => Batch.linkingOnly(e.spark, handoff, e.bres, out)
    if (o.trace)
      batchTrace(o, r, synonyms, prepare, one, (e, sink) => {
        import e.spark.implicits._
        val bres = e.bres // as in `tracedPages`
        graft.pipeline.Json.readJson(e.spark, handoff)
          .mapPartitions(Batch.tracedDocs(bres, sink))
      })
    else batch(o, r, synonyms, warmupRuns, prepare, one)
  }

  def du(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(du).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  // ---- serve workload -----------------------------------------------------

  /** `serve_40rps`: set-up is the resource build, model load and
    * `Server.start`, what a server process does before it can take its
    * first request. Then 50 requests one at a time (`cold_s`), a 3 s
    * warm-up and a 3 s closed loop of 2 clients (`docs_per_s`), and an
    * open loop at `refRate` for `--seconds` on `nproc` connections, in
    * windows of `window` requests (latency); all timed as served time. The
    * trace run adds `max_rps` from `sweep` rates of 3 s each against
    * `p99LimitMs`, and the in-process split of a request. */
  def serve(o: Opts, r: Result, refRate: Double, window: Int, sweep: Seq[Double],
      p99LimitMs: Double): Unit = {
    val res = Resources.build(CorpusOntology.rows, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords)
    graft.ner.TokenClassifier.executorSession(false)
    val server = graft.serve.Server.start(res, 0)
    setupDone(o, r)
    val payloads = texts(o).map(Serve.body)
    // request order: blocks of `window` docs, each block one doc from each
    // of `window` strata of text length, in seeded order within the block,
    // so every window carries the same mix of short and long docs
    val rnd = new scala.util.Random(o.seed)
    val order = {
      val byLength = payloads.indices.sortBy(i => (payloads(i).length, i))
      val n = byLength.length
      val strata = (0 until window).map(s => byLength.slice(s * n / window, (s + 1) * n / window))
      (0 until strata.map(_.length).max).flatMap(b => rnd.shuffle(strata.map(st => st(b % st.length))))
    }
    val port = server.getAddress.getPort
    val path = "/api/kazu/ner_and_linking"
    // distinct (doc, response rows) pairs for the oracle gate; every doc's
    // response is deterministic, so this holds at most one entry per doc
    val responses = scala.collection.mutable.LinkedHashSet.empty[(Int, String)]
    def keep(rs: Seq[Serve.Resp]): Seq[Serve.Resp] = {
      r.attempted += rs.length
      r.failed += rs.count(!_.ok)
      rs.filter(_.ok).foreach(x => responses += ((x.doc, x.rows)))
      rs
    }
    val conns = o.cores
    def tput(rs: Seq[Serve.Resp]) =
      rs.count(_.ok) / ((rs.map(_.doneNs).max - rs.map(_.sentNs).min) / 1e9)
    def lat(rs: Seq[Serve.Resp]) = rs.map(x => if (x.ok) x.latencyMs else Double.PositiveInfinity)
    try {
      val (coldWall, coldShare, _) =
        timeServed(keep(Serve.closedLoop(port, path, payloads, order, 1, count = 50)))
      r.samples("cold_s") = Seq(coldWall * coldShare)
      keep(Serve.closedLoop(port, path, payloads, order, 2, 3.0)) // warm-up
      val (_, twoShare, two) =
        timeServed(keep(Serve.closedLoop(port, path, payloads, order, 2, 3.0)))
      r.samples("docs_per_s") = Seq(tput(two) / twoShare)
      // the reference loop in windows of `window` requests, each on its own block,
      // each window's latencies times its served share; the metrics are
      // the medians over the windows
      val windows = (0 until math.max(1, (refRate * o.seconds / window).toInt)).map { w =>
        val (_, share, rs) = timeServed(keep(Serve.openLoop(port, path, payloads, order,
          refRate, window / refRate, conns, from = w * window)))
        (rs, share)
      }
      val steady = windows.flatMap(_._1)
      def perWindow(q: Double) = windows.map { case (rs, share) => quantile(lat(rs), q) * share }
      r.samples("latency_p50_ms") = perWindow(0.50)
      r.samples("latency_p90_ms") = perWindow(0.90)
      r.info("reference_rate") = refRate
      r.info("reference_requests") = steady.length
      r.info("reference_gen_late_p50_ms") = quantile(steady.map(_.lateMs), 0.5)
      r.info("reference_served_shares") = windows.map(w => f"${w._2}%.3f").mkString(" ")
      r.info("reference_wall_p50_p90_ms") = windows.map { case (rs, _) =>
        f"${quantile(lat(rs), 0.5)}%.2f/${quantile(lat(rs), 0.9)}%.2f" }.mkString(" ")
      if (o.trace) {
        // max_rps: the highest fixed rate whose p99 stays under the limit
        // with no growing backlog
        val steps = sweep.map { rate =>
          val rs = keep(Serve.openLoop(port, path, payloads, order, rate, 3.0, conns))
          val (a, b) = rs.splitAt(rs.length / 2)
          (rate, quantile(lat(rs), 0.99), median(b.map(_.lateMs)) > median(a.map(_.lateMs)) + 5.0)
        }
        r.info("rate_p99_ms") = steps.map { case (rate, p99, g) =>
          f"$rate%.0f/s: $p99%.1f ms${if (g) " backlog growing" else ""}" }.mkString(", ")
        r.layers("serve.max_rps") = steps.filter { case (_, p99, g) =>
          p99 <= p99LimitMs && !g }.map(_._1).maxOption.getOrElse(0.0)
        val one = keep(Serve.closedLoop(port, path, payloads, order, 1, 3.0))
        r.layers("serve.scaling_eff") = tput(two) / (2 * tput(one))
        serveTrace(r, res, payloads, order, steady)
      }
      val rowsFile = s"${o.work}/serve_rows.tsv"
      val w = new java.io.PrintWriter(rowsFile, "UTF-8")
      try responses.foreach { case (d, rows) =>
        w.print(s"$d\u0001${rows.replace("\n", "\u0002")}\n")
      } finally w.close()
      r.serveRows = Some(rowsFile)
      responses.clear()
      r.samples("retained_heap_mb") = Seq(retainedHeapMb())
    } finally server.stop(0)
  }

  /** In-process split of a request: parse, pipeline and render, timed per
    * doc with the public functions the route handler calls; the HTTP
    * overhead is what the reference-rate latency leaves over. */
  def serveTrace(r: Result, res: Resources, payloads: IndexedSeq[Array[Byte]],
      order: IndexedSeq[Int], steady: Seq[Serve.Resp]): Unit = {
    val mapper = new ObjectMapper()
    val service = new graft.serve.Server.Service(res)
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    val parse, inproc, render = scala.collection.mutable.ArrayBuffer.empty[Double]
    order.take(200).zipWithIndex.foreach { case (d, i) =>
      val tr = new Tracer(s"request-$i", "request")
      val doc = tr.span("serve.json_parse")(service.docFromText(
        mapper.readTree(payloads(d)).path("text").asText(""), "doc-0"))
      val out = tr.span("serve.inproc")(service.nerAndLinking(doc))
      tr.span("serve.json_render")(mapper.writeValueAsString(graft.serve.Server.docToJsonNode(out)))
      val (ss, _) = tr.finish()
      spans ++= ss
      ss.foreach { s => s.name match {
        case "serve.json_parse" => parse += s.ms
        case "serve.inproc" => inproc += s.ms
        case "serve.json_render" => render += s.ms
        case _ => } }
    }
    steady.zipWithIndex.foreach { case (x, i) =>
      spans += Span("http.request", s"http-$i", "", x.dueNs, x.doneNs)
    }
    r.spans = spans.toSeq
    val httpP50 = quantile(steady.filter(_.ok).map(x => (x.doneNs - x.sentNs) / 1e6), 0.5)
    r.layers("serve.json_parse_ms") = median(parse.toSeq)
    r.layers("serve.inproc_ms") = median(inproc.toSeq)
    r.layers("serve.json_render_ms") = median(render.toSeq)
    r.layers("serve.http_overhead_ms") =
      httpP50 - median(parse.toSeq) - median(inproc.toSeq) - median(render.toSeq)
    r.layers("serve.gen_late_ms") = quantile(steady.map(_.lateMs), 0.5)
    val endDue = steady.map(_.dueNs).max
    r.layers("serve.backlog") = steady.count(x => x.dueNs <= endDue && x.sentNs > endDue).toDouble
  }

  // ---- entry ---------------------------------------------------------------

  def machine(): java.util.Map[String, Object] = {
    val mem = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:")).getOrElse("") finally src.close()
    }.getOrElse("")
    Map[String, Object](
      "nproc" -> Int.box(Runtime.getRuntime.availableProcessors),
      "mem_total" -> mem.replace("MemTotal:", "").trim,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "vector_gemm" -> Boolean.box(graft.ner.VectorGemm.AVAILABLE)).asJava
  }

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      "arguments are --key value pairs")
    startTicks = cpuTicks()
    val o = Opts(args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap)
    val r = new Result
    // every parameter of a workload is set here
    o.workload match {
      case "fused_1k" => fused(o, r, warmupRuns = 3)
      case "linking_1k_ont30k" => linking(o, r, synonyms = 30000, warmupRuns = 3)
      case "serve_40rps" =>
        serve(o, r, refRate = 40, window = 80, sweep = Seq(20.0, 40, 80, 160), p99LimitMs = 200)
      case w => sys.error(s"unknown workload $w")
    }
    stopSpark()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.work}/oracle_kg_triples.sql"),
      graft.SparkEntry.oracleSql("kg_triples"))
    val mach = new java.util.LinkedHashMap[String, Object](machine())
    if (o.trace) {
      mach.put("calibration_before_s", Double.box(r.calibrationBefore))
      mach.put("calibration_after_s", Double.box(graft.Bench.calibrationProbe()))
    }
    def jmap(m: collection.Map[String, _]): java.util.Map[String, Object] = {
      val j = new java.util.LinkedHashMap[String, Object]()
      m.foreach { case (k, v) => j.put(k, v match {
        case s: Seq[_] => s.map(_.asInstanceOf[AnyRef]).asJava
        case x => x.asInstanceOf[AnyRef]
      }) }
      j
    }
    val out = new java.util.LinkedHashMap[String, Object]()
    out.put("workload", o.workload)
    out.put("attempted", Long.box(r.attempted))
    out.put("failed", Long.box(r.failed))
    out.put("samples", jmap(r.samples.map { case (k, v) => k -> v.map(Double.box) }))
    out.put("info", jmap(r.info))
    out.put("per_layer", jmap(r.layers.map { case (k, v) => k -> Double.box(v) }))
    out.put("triple_dirs", r.tripleDirs.asJava)
    out.put("digest_pairs", r.digestPairs.map { case (a, b) => java.util.List.of(a, b) }.asJava)
    out.put("serve_rows", r.serveRows.orNull)
    out.put("machine", mach)
    out.put("self_ms", jmap(Spans.selfMs(r.spans).map { case (k, v) => k -> Double.box(v) }))
    out.put("spans", r.spans.map(s => Map[String, Object]("name" -> s.name,
      "trace" -> s.traceId, "parent" -> s.parent,
      "start_ns" -> Long.box(s.startNs), "end_ns" -> Long.box(s.endNs)).asJava).asJava)
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(s"${o.work}/result.json"), out)
    System.exit(0)
  }
}

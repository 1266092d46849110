package graft.bench

import graft.util.TaskMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew stress bench (round-4 directive #1): build a deliberately hostile
  * corpus — a boilerplate template duplicated 10^5×, a hot entity in 60% of
  * documents, a directory page with 5,000 distinct entities — run the
  * skew-sensitive queries on it, and record measured per-task spreads
  * (records + time) for both the shipped plans and their naive shapes.
  *
  *   sbt "runMain graft.bench.SkewBench [workDir]"
  *
  * Emits one JSON line per measured query plus a trailing summary line, and
  * writes the shipped plans' outputs as parquet so `tools/skew_oracle.py`
  * can replay the same aggregations in DuckDB over the same synthesized
  * inputs (the "oracles still green on the skewed corpus" check).
  * Committed results: SKEW.md.
  *
  * Scale knobs (env): SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_SKEW_SCALE (default 1.0, multiplies corpus sizes).
  */
object SkewBench {

  final case class Result(
      name: String,
      wallSec: Double,
      rows: Long,
      worstReadRatio: Double,
      worstReadBytesRatio: Double,
      maxShuffleRead: Long,
      maxShuffleWrite: Long,
      maxShuffleReadBytes: Long,
      maxTaskMs: Long,
      medianTaskMs: Long,
      verdict: String)

  /** `body` must MATERIALIZE its plan itself (parquet write + read-back
    * count for the shipped plans; a noop-format write for the naive
    * contrasts — a bare count() would let Catalyst prune the very
    * window/collect under measurement) and return its row count (-1 when
    * not meaningful). `verdictFn` turns the measured spreads into the
    * query's verdict — shipped plans assert a bounded ratio, each naive
    * contrast asserts ITS specific skew signature (cluster-on-one-task row
    * count, payload-bytes concentration, single-task pair fanout). */
  private def measure(spark: SparkSession, name: String)(
      body: => Long)(verdictFn: Result => String): Result = {
    val metrics = TaskMetrics.attach(spark.sparkContext)
    val t0 = System.nanoTime()
    val rows = body
    val wall = (System.nanoTime() - t0) / 1e9
    val spreads = try metrics.stageSpreads(minTasks = 2) finally metrics.close()
    val ratio = if (spreads.isEmpty) 1.0 else spreads.map(_.readRatio()).max
    val bratio = if (spreads.isEmpty) 1.0 else spreads.map(_.readBytesRatio()).max
    val busiest = spreads.sortBy(-_.max(_.runMs)).headOption
    def worst(f: TaskMetrics.TaskRow => Long) = spreads.map(_.max(f)).maxOption.getOrElse(0L)
    val r0 = Result(name, wall, rows, ratio, bratio,
      worst(_.shuffleReadRecords), worst(_.shuffleWriteRecords), worst(_.shuffleReadBytes),
      busiest.map(_.max(_.runMs)).getOrElse(0L),
      busiest.map(_.median(_.runMs)).getOrElse(0L),
      "")
    val r = r0.copy(verdict = verdictFn(r0))
    println(f"""{"query":"${r.name}","wall_sec":${r.wallSec}%.2f,"rows":${r.rows},"worst_read_ratio":${r.worstReadRatio}%.2f,"worst_read_bytes_ratio":${r.worstReadBytesRatio}%.2f,"max_shuffle_read":${r.maxShuffleRead},"max_shuffle_write":${r.maxShuffleWrite},"max_shuffle_read_bytes":${r.maxShuffleReadBytes},"max_task_ms":${r.maxTaskMs},"median_task_ms":${r.medianTaskMs},"verdict":"${r.verdict}"}""")
    r
  }

  /** Shipped-plan verdict: bounded per-task row AND byte spread. */
  private def bounded(r: Result): String =
    if (r.worstReadRatio <= 6.0 && r.worstReadBytesRatio <= 8.0) "BOUNDED(pass)"
    else "UNBOUNDED(FAIL)"

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft_skew")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SKEW_SCALE", "1.0").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    val hotCopies = (100000 * scale).toInt
    val uniqueDocs = (100000 * scale).toInt
    val triplesDocs = (1000000 * scale).toInt
    val dirObjs = (5000 * scale).toInt

    // ---- hostile corpora ----------------------------------------------------
    val template = ("boilerplate template body " * 8).trim
    spark.range(hotCopies + uniqueDocs).select(
        $"id".as("doc_id"),
        when($"id" < hotCopies, lit(template))
          .otherwise(concat_ws(" ",
            // 8 id-derived tokens: distinct docs share almost no words, so
            // the near-dup tier sees a genuinely diverse survivor set
            concat(lit("wa"), ($"id" * 7919 % 1000003).cast("string")),
            concat(lit("wb"), ($"id" * 104729 % 999983).cast("string")),
            concat(lit("wc"), ($"id" * 15485863 % 982451653).cast("string")),
            concat(lit("wd"), ($"id" * 32452843 % 899809363).cast("string")),
            concat(lit("we"), ($"id" * 49979687 % 715225739).cast("string")),
            concat(lit("wf"), ($"id" * 67867967 % 512927357).cast("string")),
            concat(lit("wg"), ($"id" * 86028121 % 334214459).cast("string")),
            concat(lit("wh"), ($"id" * 93083 % 256203161).cast("string"))))
          .as("text"))
      .write.mode("overwrite").parquet(s"$workDir/docs_skew")
    val docs = spark.read.parquet(s"$workDir/docs_skew")

    // triples: hot obj in 60% of docs, 3 tail objs each, one directory page
    val normalTriples = spark.range(triplesDocs).select(
        concat(lit("https://graft.test/doc/"), $"id").as("url"),
        explode(array(
          when($"id" % 5 < 3, lit("OBJ:HOT")).otherwise(concat(lit("OBJ:t"), ($"id" % 10000).cast("string"))),
          concat(lit("OBJ:a"), (($"id" * 7) % 10000).cast("string")))).as("obj"))
    val directory = spark.range(dirObjs).select(
        lit("https://graft.test/doc/directory").as("url"),
        concat(lit("DIR:"), $"id").as("obj"))
    normalTriples.union(directory)
      .select(concat($"url", lit("#0-1")).as("subj"), lit("mentions_x").as("pred"),
        $"obj", $"url")
      .write.mode("overwrite").parquet(s"$workDir/triples_skew")
    val triples = spark.read.parquet(s"$workDir/triples_skew")

    println(s"""{"corpus":{"hot_copies":$hotCopies,"unique_docs":$uniqueDocs,"triples_docs":$triplesDocs,"directory_objs":$dirObjs}}""")
    val results = scala.collection.mutable.ArrayBuffer.empty[Result]

    // ---- dedup tier ---------------------------------------------------------
    val hashed = docs.select($"doc_id",
      md5(to_binary($"text", lit("utf-8"))).as("text_md5"))
    results += measure(spark, "dedup_exact_joinback") {
      // the shipped shape (SparkEntry dedup_exact): partial-agg counts +
      // SALTED join back — at this corpus size the counts side exceeds the
      // broadcast threshold, and an unsalted hash join would put the hot
      // hash's whole cluster on one reducer (measured: ratio 8.5 at scale
      // 3 before salting; AQE's skew split cannot apply when the counts
      // side is a same-query aggregate)
      val counts = hashed.groupBy($"text_md5").agg(count(lit(1)).as("n_same_text"))
      graft.tdp.Dedup.saltedJoinBack(hashed, counts, "text_md5", "doc_id")
        .select($"doc_id", $"text_md5", $"n_same_text")
        .write.mode("overwrite").parquet(s"$workDir/out_dedup_exact")
      spark.read.parquet(s"$workDir/out_dedup_exact").count()
    }(bounded)
    results += measure(spark, "dedup_exact_window_naive") {
      import org.apache.spark.sql.expressions.Window
      hashed.withColumn("n_same_text",
          count(lit(1)).over(Window.partitionBy($"text_md5")))
        .write.mode("overwrite").format("noop").save()
      -1L
    }(r =>
      // the skew signature: the whole mega-cluster lands on ONE window
      // task. AQE byte-balancing can even out the REST of the load at this
      // corpus size (so a ratio test under-reports), but no optimizer can
      // split a window partition — at 10^7 copies that task alone is hours.
      if (r.maxShuffleRead >= hotCopies) "SKEWED(cluster on one task, as expected)"
      else "naive-shape-did-not-skew(UNEXPECTED)")
    // the tier composition: exact dedup collapses the 10^5-copy cluster to
    // ONE survivor before near-dup sketching ever sees it
    results += measure(spark, "dedup_tier_exact_then_minhash") {
      val survivors = docs.groupBy($"text").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id", $"text")
      graft.tdp.Dedup.minhashCandidatePairs(spark, survivors,
        numHashes = 64, bands = 16, shingleN = 1).count()
    }(bounded)
    // in-operator backstop: the RAW corpus (mega-cluster intact) with the
    // bucket-occupancy cap — the degenerate buckets are dropped wholesale
    // instead of emitting ~hotCopies^2 x bands candidate pairs
    results += measure(spark, "dedup_minhash_bucket_cap_raw") {
      graft.tdp.Dedup.minhashCandidatePairs(spark, docs,
        numHashes = 64, bands = 16, shingleN = 1, maxBucket = 64).count()
    }(bounded)
    graft.util.CacheRegistry.releaseAll()

    // ---- paragraph dedup (round 5) ------------------------------------------
    results += measure(spark, "paragraph_dedup_salted") {
      // the template's paragraphs are ONE md5 key carried by all 10^5
      // copies — the count join-back goes through the shared 16-way salted
      // join, so the mega-cluster spreads across reducers
      graft.tdp.ParagraphDedup.paragraphDedup(spark, docs)
        .write.mode("overwrite").parquet(s"$workDir/out_para_dedup")
      spark.read.parquet(s"$workDir/out_para_dedup").count()
    }(bounded)

    // ---- substring-anchor dedup (round 5) -----------------------------------
    results += measure(spark, "substring_anchor_blacklist") {
      // every template copy shares EVERY winnowed anchor → posting lists of
      // 10^5 → all template anchors land on the mega-posting blacklist
      // (broadcast anti-join) and the pair join sees only the diverse tail
      graft.tdp.DedupSubstring.substringPairs(spark, docs)
        .write.mode("overwrite").parquet(s"$workDir/out_substring")
      spark.read.parquet(s"$workDir/out_substring").count()
    }(bounded)
    graft.util.CacheRegistry.releaseAll()
    val substrNaiveCopies = math.min(1000, hotCopies)
    results += measure(spark, "substring_anchor_uncapped_naive") {
      // naive contrast at a REDUCED copy count (the full 10^5 cluster would
      // emit ~10^10-pair fanout): with no posting cap, each template anchor
      // key alone fans out copies²/2 pairs on its single join task
      val slice = docs.filter($"doc_id" < substrNaiveCopies || $"doc_id" >= hotCopies)
      graft.tdp.DedupSubstring.substringPairs(spark, slice,
        maxPosting = Long.MaxValue).count()
    }(r =>
      if (r.maxShuffleWrite >= substrNaiveCopies.toLong * (substrNaiveCopies - 1) / 2)
        "SKEWED(single-anchor pair fanout, as expected)"
      else "naive-shape-did-not-skew(UNEXPECTED)")
    graft.util.CacheRegistry.releaseAll()

    // ---- span-level ExactSubstr (round 7) ------------------------------------
    results += measure(spark, "substring_spans_mega_key") {
      // the template is periodic, so its anchor WINDOWS collapse to a few
      // distinct md5 keys each carried by ~10^5 copies — duplicate marking
      // is count (map-side partial) + semi-join, so the mega-key costs its
      // own row count spread across reducers, never a copies^2 fanout
      graft.tdp.SubstringSpans.duplicateSpans(spark, docs)
        .write.mode("overwrite").parquet(s"$workDir/out_substring_spans")
      spark.read.parquet(s"$workDir/out_substring_spans").count()
    }(bounded)
    graft.util.CacheRegistry.releaseAll()
    results += measure(spark, "substring_spans_window_naive") {
      import org.apache.spark.sql.expressions.Window
      // naive contrast: marking duplicates with count() OVER (PARTITION BY
      // key) pins every occurrence of the mega-key on ONE window task
      val anch = docs.select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.tdp.SubstringSpans.anchorPositions(t, 16, 8, 64).iterator
            .map(i => (graft.tdp.SubstringSpans.md5Hex(t.substring(i, i + 64)), id, i))
        }.toDF("key", "doc_id", "pos")
      anch.withColumn("n", count(lit(1)).over(Window.partitionBy($"key")))
        .filter($"n" >= 2)
        .write.mode("overwrite").format("noop").save()
      -1L
    }(r =>
      if (r.maxShuffleRead >= hotCopies) "SKEWED(mega-key on one task, as expected)"
      else "naive-shape-did-not-skew(UNEXPECTED)")

    // ---- C4 three-sentence dedup (round 7) -----------------------------------
    // the skew corpus has no punctuation, so derive a sentence-structured
    // variant: the SAME banner window on EVERY doc (worst hot key: one
    // 3-sentence span with corpus-many occurrences, only one canonical)
    val c4docs = docs.select($"doc_id", $"text")
      .withColumn("text", concat(
        lit("shared banner sentence one. shared banner sentence two. " +
          "shared banner sentence three. "),
        $"text", lit(" unique tail "), $"doc_id", lit(" closes this page.")))
    results += measure(spark, "c4_spans_mega_key") {
      graft.tdp.C4.threeSentenceDedup(spark, c4docs)
        .write.mode("overwrite").parquet(s"$workDir/out_c4_spans")
      spark.read.parquet(s"$workDir/out_c4_spans").count()
    }(bounded)
    graft.util.CacheRegistry.releaseAll()

    // ---- corpus×corpus acceptance (round 6) ---------------------------------
    // both span sets corpus-sized; a "hot page" url carries 10^5 spans on
    // EACH side — the worst (url, class) key for the overlap join. The
    // bucketed rewrite scatters it over position buckets (width 64), so no
    // single (url, class, bucket) key concentrates.
    val nSpans = (500000 * scale).toInt
    val hotSpanCopies = (100000 * scale).toInt
    def spanSet(seed: Int): DataFrame = {
      val tail = spark.range(nSpans).select(
        concat(lit("https://graft.test/doc/"), ($"id" % 200000)).as("url"),
        (($"id" * seed) % 5000).cast("int").as("start"),
        ((($"id" * seed) % 5000) + 5).cast("int").as("end"),
        when($"id" % 2 === 0, lit("operator")).otherwise(lit("component"))
          .as("entity_class"))
      val hot = spark.range(hotSpanCopies).select(
        lit("https://graft.test/doc/hotpage").as("url"),
        ($"id" * 7 % 1000000).cast("int").as("start"),
        ($"id" * 7 % 1000000 + 5).cast("int").as("end"),
        lit("operator").as("entity_class"))
      tail.unionByName(hot)
    }
    spanSet(7919).write.mode("overwrite").parquet(s"$workDir/spans_pred")
    spanSet(104729).write.mode("overwrite").parquet(s"$workDir/spans_gold")
    val spansPred = spark.read.parquet(s"$workDir/spans_pred")
    val spansGold = spark.read.parquet(s"$workDir/spans_gold")
    results += measure(spark, "acceptance_bucketed_corpus") {
      graft.eval.Acceptance.nerScoresBucketed(spark, spansPred, spansGold)
        .write.mode("overwrite").parquet(s"$workDir/out_acceptance")
      graft.util.CacheRegistry.releaseAll()
      spark.read.parquet(s"$workDir/out_acceptance").count()
    }(bounded)
    // max(1, …): a sub-1e-5 SPARK_GRAFT_SKEW_SCALE smoke run truncates
    // hotSpanCopies to 0, and the keep-1-in-N filter below divides by this
    val hotNaive = math.max(1, math.min(5000, hotSpanCopies))
    results += measure(spark, "acceptance_theta_naive") {
      // naive contrast at a REDUCED hot-span count (the full 10^5×10^5
      // single-key probe would run for hours): the theta join sort-merges
      // on (url, class) alone, so BOTH sides' hot-page spans meet on one
      // reducer task
      import spark.implicits._
      def slim(df: DataFrame) = df.filter($"url" =!= "https://graft.test/doc/hotpage" ||
        pmod(hash($"start"), lit(hotSpanCopies / hotNaive)) === 0)
      val g = slim(spansGold).select($"url".as("g_url"), $"start".as("g_start"),
        $"end".as("g_end"), $"entity_class".as("g_class"))
      // merge hint: at THIS reduced size Catalyst would broadcast one side
      // and hide the skew; at corpus scale neither side fits a broadcast,
      // and the SMJ-on-(url, class) shape below is what actually runs
      slim(spansPred).hint("merge").join(g,
          $"url" === $"g_url" && $"entity_class" === $"g_class" &&
          $"g_start" < $"end" && $"start" < $"g_end")
        .write.mode("overwrite").format("noop").save()
      -1L
    }(r =>
      // the skew signature: the hot (url, class) key's rows all shuffle to
      // ONE sort-merge task. A smoke scale that truncates hotSpanCopies to
      // 0 has no hot key at all — the threshold (>=1 row) would be
      // trivially met by any task, so label the verdict inapplicable
      // instead of reporting phantom skew
      if (hotSpanCopies == 0) "no-hot-rows-at-this-scale(verdict n/a)"
      else if (r.maxShuffleRead >= hotNaive) "SKEWED(hot page on one task, as expected)"
      else "naive-shape-did-not-skew(UNEXPECTED)")

    // ---- triples aggregations ----------------------------------------------
    results += measure(spark, "graph_stats_salted") {
      graft.triples.GraphStats.saltedObjectCounts(spark, triples)
        .write.mode("overwrite").parquet(s"$workDir/out_graph_stats")
      spark.read.parquet(s"$workDir/out_graph_stats").count()
    }(bounded)
    results += measure(spark, "posting_list_naive_collect") {
      // per-entity posting-list materialization, naive: every url of the
      // hot entity crosses the wire to ONE reducer — as list PAYLOAD, so
      // the skew is in BYTES (row counts look tame: partial collect_list
      // ships one huge row per map task)
      triples.groupBy($"obj").agg(collect_list($"url").as("urls"))
        .select($"obj", size($"urls").as("n"))
        .write.mode("overwrite").format("noop").save()
      -1L
    }(r =>
      // threshold 4: the raw row-payload ratio is ~14x (hot df x tasks /
      // tail rows) but shuffle bytes are POST-lz4, and the hot list's
      // monotone urls compress ~3x better than the mixed tail — ~5x
      // compressed is the one-task payload concentration signature here,
      // vs 1.3-1.7x for every bounded plan
      if (r.worstReadBytesRatio > 4.0) "SKEWED(payload bytes on one task, as expected)"
      else "naive-shape-did-not-skew(UNEXPECTED)")
    results += measure(spark, "posting_list_salted_sizes") {
      // the defense: DON'T materialize per-entity lists — keep adjacency
      // as the (obj, url) pair table (bucketed by subj in the triples
      // sink) and compute per-entity sizes via the salted two-phase agg;
      // nothing obj-keyed ever carries the hot entity's full payload
      triples.withColumn("_salt", pmod(hash($"url"), lit(64)))
        .groupBy($"obj", $"_salt").agg(collect_list($"url").as("urls"))
        .groupBy($"obj").agg(sum(size($"urls")).as("n"))
        .write.mode("overwrite").format("noop").save()
      -1L
    }(bounded)
    results += measure(spark, "cooccurrence_capped") {
      graft.triples.GraphStats.cooccurrenceEdges(spark, triples, maxObjsPerDoc = 64)
        .write.mode("overwrite").parquet(s"$workDir/out_cooccurrence")
      spark.read.parquet(s"$workDir/out_cooccurrence").count()
    }(bounded)
    results += measure(spark, "cooccurrence_uncapped_naive") {
      val perDoc = triples.groupBy($"url", $"obj").agg(count(lit(1)).as("_n"))
        .select($"url", $"obj")
      val a = perDoc.toDF("url", "obj_a"); val b = perDoc.toDF("url", "obj_b")
      a.join(b, Seq("url")).filter($"obj_a" < $"obj_b")
        .groupBy($"obj_a", $"obj_b").agg(count(lit(1)).as("n_docs")).count()
    }(r =>
      // the skew signature: one join task alone emits the directory page's
      // ~dirObjs^2/2 pairs
      if (r.maxShuffleWrite >= dirObjs.toLong * (dirObjs - 1) / 2)
        "SKEWED(single-task pair fanout, as expected)"
      else "naive-shape-did-not-skew(UNEXPECTED)")

    val boundedOk = results.count(_.verdict.startsWith("BOUNDED"))
    val boundedAll = results.count(r => r.verdict.contains("BOUNDED") || r.verdict.contains("UNBOUNDED"))
    val naiveOk = results.count(_.verdict.startsWith("SKEWED"))
    println(s"""{"metric":"skew_bench","bounded_pass":$boundedOk,"bounded_total":$boundedAll,"naive_skew_demonstrated":$naiveOk,"work_dir":"$workDir","scale":$scale}""")
    spark.stop()
  }
}

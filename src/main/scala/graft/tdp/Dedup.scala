package graft.tdp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators over the `documents`
  * table. Three tiers:
  *
  *  - exact: hash-groupBy on md5(text) — one shuffle on the hash, partial
  *    aggregation map-side; at 100 TB this is the cheapest possible dedup
  *    (hash is 16 bytes/row into the shuffle, not the text).
  *  - n-gram Jaccard: exact pairwise similarity — O(n²), only for bounded
  *    candidate sets (or as the verify stage after LSH candidate gen).
  *  - MinHash + LSH: shingle → minhash signature → band buckets →
  *    self-join within buckets. Scales linearly in corpus size: the only
  *    shuffle keys are (band, bucketHash), and hot buckets are bounded by
  *    banding; pairs are verified with exact signature similarity.
  *  - SimHash: 64-bit fingerprint; near-dups = small hamming distance,
  *    bucketed by 16-bit blocks (pigeonhole: dist ≤ 3 ⇒ ≥1 identical block).
  */
object Dedup {

  /** Hot-key-safe join of per-row data against per-key aggregates: the
    * aggregate side is replicated over `saltBuckets` salts and the join
    * keys on (key, hash(rowId) % saltBuckets), spreading any hot key's
    * cluster over `saltBuckets` reducers deterministically — no dependence
    * on broadcast thresholds or AQE re-planning (once the aggregate side
    * outgrows broadcast, a plain hash join puts a hot key's whole cluster
    * on one reducer, and AQE's skew split cannot apply when the aggregate
    * feeds the join in the same query — measured in SKEW.md). The ONE
    * definition of the shipped shape: the bench and the skew spec measure
    * this function, so they cannot drift from production. */
  def saltedJoinBack(
      rows: DataFrame,
      perKey: DataFrame,
      keyCol: String,
      rowIdCol: String,
      saltBuckets: Int = 16
  ): DataFrame = {
    val salted = perKey.withColumn("_salt",
      explode(array((0 until saltBuckets).map(lit(_)): _*)))
    rows.withColumn("_salt", pmod(hash(col(rowIdCol)), lit(saltBuckets)))
      .join(salted, Seq(keyCol, "_salt"))
      .drop("_salt")
  }

  /** [[saltedJoinBack]] for the dominant dedup shape where every
    * NON-duplicated key's aggregate row is derivable (n = 1, canonical =
    * the row itself): the caller pre-filters `perKeyDups` to keys with
    * n ≥ 2 and coalesces the defaults after this LEFT salted join. The
    * replicated side then carries only the duplicate keys — on a mostly-
    * unique corpus that is orders of magnitude smaller than the full
    * per-key aggregate the inner form replicates ×saltBuckets (r8, guide
    * §2.3 "shuffle fewer bytes"; the hot-key bound is unchanged — a
    * mega-cluster key still spreads over saltBuckets reducers). */
  def saltedLeftJoinDups(
      rows: DataFrame,
      perKeyDups: DataFrame,
      keyCol: String,
      rowIdCol: String,
      saltBuckets: Int = 16
  ): DataFrame = {
    val salted = perKeyDups.withColumn("_salt",
      explode(array((0 until saltBuckets).map(lit(_)): _*)))
    rows.withColumn("_salt", pmod(hash(col(rowIdCol)), lit(saltBuckets)))
      .join(salted, Seq(keyCol, "_salt"), "left")
      .drop("_salt")
  }

  // --- MinHash -------------------------------------------------------------

  /** Word 3-gram shingles. */
  def shingles(text: String, n: Int = 3): Array[String] = {
    val words = text.split(" ")
    if (words.length < n) Array(text)
    else Array.tabulate(words.length - n + 1)(i => words.slice(i, i + n).mkString(" "))
  }

  private def hash64(s: String, seed: Long): Long = {
    // xorshift-mixed FNV-1a — deterministic across JVMs
    var h = 1469598103934665603L ^ seed
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 1099511628211L
      i += 1
    }
    h ^= (h >>> 33); h *= -49064778989728563L; h ^= (h >>> 33)
    h
  }

  /** MinHash over `shingleN`-gram shingles. The shingle order must match
    * the similarity the verify stage measures: 3-grams estimate
    * order-sensitive text overlap; 1-grams estimate word-SET Jaccard
    * (duplicate words collapse under min-hashing automatically). */
  def minhashSignature(text: String, numHashes: Int = 64, shingleN: Int = 3): Array[Long] = {
    val sh = shingles(text, shingleN)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    sh.foreach { s =>
      val base = hash64(s, 0)
      var k = 0
      while (k < numHashes) {
        // k-th hash via seeded remix of the base hash (one string pass total)
        var h = base ^ (k.toLong * -7046029254386353131L)
        h ^= (h >>> 32); h *= -4417276706812531889L; h ^= (h >>> 29)
        if (h < sig(k)) sig(k) = h
        k += 1
      }
    }
    sig
  }

  /** Estimated Jaccard from two signatures. */
  def signatureSimilarity(a: Seq[Long], b: Seq[Long]): Double =
    a.zip(b).count { case (x, y) => x == y }.toDouble / a.size

  /** Candidate near-dup pairs via LSH banding + signature verification.
    * bands × rowsPerBand = numHashes; with 16 bands × 4 rows, the S-curve
    * threshold sits near (1/16)^(1/4) ≈ 0.5.
    */
  def minhashPairs(
      spark: SparkSession,
      docs: DataFrame, // (doc_id, text)
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7
  ): DataFrame = {
    import spark.implicits._
    val rowsPerBand = numHashes / bands
    // persisted: the signature map (64 remixes × every shingle — the
    // dominant CPU cost) feeds THREE plan branches (bucket explode + the
    // two verify-side re-fetch joins) that shuffle on different keys, so
    // without a persist it would be computed three times per document.
    // 512 B/doc. Lifecycle: Dataset.persist registers in CacheManager,
    // which holds the entry until an explicit unpersist() or session end
    // (ContextCleaner only reclaims RDD-level caches) — so long-lived
    // callers must call `CacheRegistry.releaseAll()` once the returned plan
    // has been materialized; the bench/verify drivers do.
    val sigs = docs
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .map { case (id, text) => (id, minhashSignature(text, numHashes)) }
      .toDF("doc_id", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.util.CacheRegistry.register(sigs)
    // explode into (band, bucket, id) keys — the ONLY shuffle payload of the
    // self-join; shipping the 64-hash signature on both sides would
    // multiply shuffle bytes by 512 B × bands (the r2 finding). The verify
    // stage re-fetches signatures by the well-distributed doc id instead.
    val buckets = sigs
      .as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until bands).iterator.map { b =>
          val bucket = java.util.Arrays.hashCode(
            sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand))
          (b, bucket, id)
        }
      }
      .toDF("band", "bucket", "doc_id")
    val a = buckets.as("a")
    val b = buckets.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(sigs.select($"doc_id".as("doc_a"), $"sig".as("sig_a")), "doc_a")
      .join(sigs.select($"doc_id".as("doc_b"), $"sig".as("sig_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"sig_a", $"sig_b")
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (x, y, sa, sb) =>
        (x, y, signatureSimilarity(sa.toSeq, sb.toSeq))
      }
      .toDF("doc_a", "doc_b", "est_jaccard")
      .filter($"est_jaccard" >= threshold)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Candidate pairs only (no signature re-verification): the sketch stage
    * of a sketch→verify dedup. `bands × rowsPerBand = numHashes`; with 32
    * bands × 2 rows the S-curve threshold sits near (1/32)^(1/2) ≈ 0.18 —
    * a true pair at Jaccard ≥ 0.8 is missed w.p. (1−0.8²)^32 ≈ 6e-15, so
    * an exact verify stage downstream reproduces the all-pairs ground
    * truth while the plan stays an equi-join on (band, bucket).
    *
    * `maxBucket`: optional bucket-occupancy cap (default: unlimited, which
    * keeps the oracle-checked default plan byte-identical). A degenerate
    * mega-bucket — every copy of a boilerplate template lands in the same
    * (band, bucket) in EVERY band — would otherwise emit O(n²) candidate
    * pairs; with the cap, buckets above the occupancy limit are dropped
    * wholesale (the standard LSH practice: a mega-bucket carries no
    * near-dup information the exact-dedup tier hasn't already captured,
    * and its members still pair through their other, non-degenerate
    * bands). The skew tier-composition answer remains exact-dedup FIRST
    * (SkewBench); the cap is the in-operator backstop. */
  def minhashCandidatePairs(
      spark: SparkSession,
      docs: DataFrame, // (doc_id, text)
      numHashes: Int = 64,
      bands: Int = 32,
      shingleN: Int = 1,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    import spark.implicits._
    val rowsPerBand = numHashes / bands
    val buckets0 = docs
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sig = minhashSignature(text, numHashes, shingleN)
        (0 until bands).iterator.map { b =>
          val bucket = java.util.Arrays.hashCode(
            sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand))
          (b, bucket, id)
        }
      }
      .toDF("band", "bucket", "doc_id")
    val buckets =
      if (maxBucket == Int.MaxValue) buckets0
      else {
        // the capped shape adds plan branches (occupancy agg + the drop
        // filter, then the a/b self-join) that would each recompute the
        // per-doc signatures — persist them once (caller-released, as in
        // minhashPairs); the uncapped default plan is left untouched
        // (its self-join reuses one exchange, and PLANS.md pins its shape)
        val cached = graft.util.CacheRegistry.register(
          buckets0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // occupancy via groupBy (map-side partial — never a Window over the
        // possibly-hot bucket key). Mega-buckets are FEW by definition
        // (each one is ≥ maxBucket docs, so |blacklist| ≤ rows·bands /
        // maxBucket and in practice orders of magnitude below that), so
        // the blacklist broadcasts and the drop is a broadcast ANTI join —
        // the mega-bucket's rows are dropped map-side without ever
        // shuffling on the hot bucket key (an inner join against the
        // keep-list would ship every hot row to one reducer just to
        // discard it). Degenerate regime: a corpus that is MOSTLY clusters
        // of ~maxBucket docs makes the blacklist corpus-sized; there the
        // broadcast hint is ignored/fails and the right call is the
        // exact-dedup tier first (SKEW.md), which removes those clusters
        // before sketching.
        val mega = cached.groupBy($"band", $"bucket")
          .agg(count(lit(1)).as("_occ"))
          .filter($"_occ" > maxBucket)
          .select($"band", $"bucket")
        cached.join(broadcast(mega), Seq("band", "bucket"), "left_anti")
      }
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Connected components over near-duplicate pairs — the stage that turns
    * a pair list into dedup DECISIONS (keep one doc per duplicate cluster).
    *
    * Algorithm: iterative hash-min label propagation. Every doc starts with
    * label = its own id; each round every edge pushes the smaller label
    * across, until no label changes. Rounds = O(cluster diameter) — near-dup
    * clusters are shallow (stars around a template), so a handful of rounds
    * converge even at 10^12 docs; every round is one groupBy(doc) shuffle
    * keyed on the well-distributed doc id, nothing keys on the (hot)
    * cluster label. The iteration-count and convergence are driven from the
    * driver via a cheap `isEmpty` on the change set (AQE sizes each round).
    *
    * Returns (doc_id, cluster_id) with cluster_id = min doc id of the
    * component — the canonical survivor of each cluster.
    */
  def connectedComponents(
      spark: SparkSession,
      docIds: DataFrame, // (doc_id)
      pairs: DataFrame,  // (doc_a, doc_b)
      maxIterations: Int = 20,
      localEdgeThreshold: Long = 1L << 20
  ): DataFrame = {
    import spark.implicits._
    // pay for the (sketch → verify) candidate lineage ONCE: the adaptive
    // gate's count and the chosen branch both consume it
    val cachedPairs = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeCount = cachedPairs.count()
    // Adaptive local execution: the candidate-pair graph is orders of
    // magnitude smaller than the corpus (only near-duplicates edge), so
    // when the EDGES fit the driver a local union-find beats paying
    // whole-job overhead per distributed round. Only edge-participating ids
    // are collected — never the corpus id list; every other doc is its own
    // singleton cluster, restored by a broadcast-map lookup (coalesce) on
    // the distributed side. The iterative path below is the shape that
    // scales when the edge set genuinely doesn't fit.
    if (edgeCount <= localEdgeThreshold) {
      val es = cachedPairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          // min-id root wins, so the root IS the canonical cluster id
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val roots: Map[Long, Long] =
        es.flatMap(e => Seq(e._1, e._2)).distinct.map(id => id -> find(id)).toMap
      val bc = spark.sparkContext.broadcast(roots)
      val out = docIds.select($"doc_id").as[Long]
        .map(id => (id, bc.value.getOrElse(id, id)))
        .toDF("doc_id", "cluster_id")
      cachedPairs.unpersist()
      return out
    }
    // undirected edge list, symmetric
    val edges = cachedPairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(cachedPairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct()
      .cache()
    var labels = docIds.select($"doc_id", $"doc_id".as("cluster_id"))
      .as[(Long, Long)].cache()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // one shuffle per round: the doc's own label rides through the
      // aggregation tagged `is_own`, so the new label (min over self +
      // neighbours) AND the change count come out of the same job — the
      // change count via an observe metric instead of a separate join
      val own = labels.toDF("doc_id", "cluster_id")
        .withColumn("is_own", org.apache.spark.sql.functions.lit(true))
      val neighbourMin = edges
        .join(labels.toDF("doc_id", "cluster_id"), $"dst" === $"doc_id")
        .select($"src".as("doc_id"), $"cluster_id",
          org.apache.spark.sql.functions.lit(false).as("is_own"))
      import org.apache.spark.sql.functions.{min, max, when, sum, lit => flit}
      val updated = own.union(neighbourMin)
        .groupBy($"doc_id")
        .agg(min($"cluster_id").as("cluster_id"),
          max(when($"is_own", $"cluster_id")).as("_old"))
        .observe(s"cc_round_$iter",
          sum(when($"cluster_id" =!= $"_old", 1L).otherwise(0L)).as("n_changed"))
        .select($"doc_id", $"cluster_id")
        .as[(Long, Long)].cache()
      updated.count() // materialize (also populates the observe metric)
      val changed = updated.queryExecution.observedMetrics(s"cc_round_$iter")
        .getAs[Long]("n_changed")
      converged = changed == 0L
      labels.unpersist()
      labels = updated
      iter += 1
    }
    edges.unpersist()
    cachedPairs.unpersist()
    // returning partially-propagated labels would silently split clusters
    // (docs farther than maxIterations hops from the component minimum keep
    // a non-minimal id) — fail loudly instead
    require(converged,
      s"connected components did not converge in $maxIterations rounds " +
        "(component diameter exceeds the bound); raise maxIterations")
    labels.toDF("doc_id", "cluster_id")
  }

  // --- SimHash -------------------------------------------------------------

  def simhash(text: String): Long = {
    val weights = new Array[Int](64)
    text.split(" ").foreach { w =>
      val h = hash64(w, 17)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) weights(bit) += 1 else weights(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (weights(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** Near-dup pairs with hamming distance ≤ maxDist, candidate-generated by
    * 16-bit block bucketing (4 blocks ⇒ any pair at distance ≤ 3 shares one). */
  def simhashPairs(
      spark: SparkSession,
      docs: DataFrame,
      maxDist: Int = 3
  ): DataFrame = {
    import spark.implicits._
    val hashes = docs.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) => (id, simhash(t)) }
      .toDF("doc_id", "simhash")
    val blocks = hashes.as[(Long, Long)]
      .flatMap { case (id, h) =>
        (0 until 4).map(blk => (blk, (h >>> (blk * 16)) & 0xFFFFL, id, h))
      }
      .toDF("blk", "blk_val", "doc_id", "simhash")
    val a = blocks.as("a"); val b = blocks.as("b")
    a.join(b,
        col("a.blk") === col("b.blk") && col("a.blk_val") === col("b.blk_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct()
      .withColumn("hamming", expr("cast(bit_count(ha ^ hb) as int)"))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}

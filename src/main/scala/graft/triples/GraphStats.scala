package graft.triples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-side aggregations over the triples table with explicit hot-key
  * skew handling (north rule: "salted shuffles for hot-entity skew").
  *
  * A per-OBJECT aggregation is the skew point of a KG at web scale: one
  * entity ("cancer") can appear in a large fraction of 10^12 pages, so a
  * plain `groupBy(obj)` puts that key's entire traffic on one reducer.
  * Two defenses compose here:
  *
  *  1. **salting**: partial-aggregate on (obj, salt = hash(subj) % S),
  *     then final-aggregate on obj — the hot key fans out over S reducers
  *     and the second shuffle carries only S rows per key;
  *  2. **distinct-first for count-distinct**: `COUNT(DISTINCT url)` per obj
  *     is computed by de-duplicating (obj, url) pairs first — that shuffle
  *     keys on the PAIR, which is well-distributed even when obj is hot.
  *
  * (AQE skew-join splitting handles the join-side analogue automatically;
  * salting is the aggregation-side defense that must be explicit.)
  */
object GraphStats {

  def saltedObjectCounts(
      spark: SparkSession,
      triples: DataFrame,
      saltBuckets: Int = 16
  ): DataFrame = {
    import spark.implicits._
    val partial = triples
      .withColumn("_salt", pmod(hash($"subj"), lit(saltBuckets)))
      .groupBy($"pred", $"obj", $"_salt")
      .agg(count(lit(1)).as("_partial"))
    val mentions = partial
      .groupBy($"pred", $"obj")
      .agg(sum($"_partial").as("n_mentions"))
    val docs = triples
      .select($"pred", $"obj", $"url")
      .distinct() // shuffle keyed on the well-distributed (pred,obj,url)
      .groupBy($"pred", $"obj")
      .agg(count(lit(1)).as("n_docs"))
    mentions.join(docs, Seq("pred", "obj"))
      .orderBy($"pred", $"obj")
  }

  /** Entity co-occurrence edges: for every pair of distinct entities
    * mentioned in the same document, the number of co-mentioning documents.
    *
    * Scale shape: the self-join keys on the well-distributed `url`, never on
    * the hot `obj` — but an unbounded per-document pair explosion is its own
    * skew: a directory-style page mentioning 10^4 entities alone emits
    * ~5*10^7 pairs. So distinct objs are capped per document at
    * `maxObjsPerDoc` (top-N by mention count, obj tiebreak) BEFORE the
    * self-join, bounding per-doc fanout at N^2/2. Truncation is surfaced
    * through the Spark `observe` metric `n_truncated_doc_objs` (observation
    * name "cooccurrence_cap"), so a production run logs how many (url, obj)
    * rows the cap dropped instead of silently narrowing the graph.
    */
  def cooccurrenceEdges(
      spark: SparkSession,
      triples: DataFrame,
      maxObjsPerDoc: Int = 64
  ): DataFrame = {
    import spark.implicits._
    // r8 reshape (identical output, oracle-checked): the round-7 plan was
    // Window(row_number over url) for the cap + a url-keyed SELF-JOIN for
    // the pairs — the window cost an extra url exchange + sort, and the
    // self-join's two branches re-computed (or re-read) the whole capped
    // subtree. One groupBy(url) with an in-row sorted top-N and in-row
    // pair generation does both: per-doc state is the same distinct-obj
    // list the window sorted, the cap is the same (count desc, obj asc)
    // prefix, and the pair fanout stays bounded at N²/2 per doc. All
    // higher-order functions — whole-stage codegen, no typed map.
    val perDoc = triples
      .groupBy($"url", $"obj")
      .agg(count(lit(1)).as("_n_mentions"))
    val capped = perDoc
      .groupBy($"url")
      // struct(-n, obj) sorts ascending == (mention count desc, obj asc),
      // exactly the window's ordering; slice takes the row_number ≤ N set
      .agg(collect_list(struct((-$"_n_mentions").as("negn"), $"obj")).as("objs"))
      .select($"url",
        expr(s"transform(slice(array_sort(objs), 1, $maxObjsPerDoc), x -> x.obj)")
          .as("top"),
        greatest(size($"objs") - maxObjsPerDoc, lit(0)).as("_n_over"))
      // same truncation metric (rows dropped by the cap) under the same
      // observation name as the round-7 window form
      .observe("cooccurrence_cap",
        sum($"_n_over").as("n_truncated_doc_objs"))
    capped
      // spread the pair fanout (r8): the capped doc-list table is tiny in
      // BYTES (one row per doc, ≤N obj refs), so AQE's byte-based coalescing
      // collapses the url exchange to very few reduce tasks — but the stage
      // DOWNSTREAM of it generates up to N²/2 pairs per row, i.e. its cost is
      // compute-dense per input byte and bytes are the wrong sizing proxy
      // (guide §2.5: compute skew, not byte skew). Re-keying the capped rows
      // across the cluster's parallelism (cluster-derived, not a constant)
      // costs one narrow doc-count-sized shuffle and lets the quadratic
      // Generate+partial-pair-agg stage run at full width at every scale.
      // The width is read when the plan is built; under dynamic allocation
      // defaultParallelism can still be 2 before executors register, so
      // the shuffle-partition setting is its floor.
      // Round-robin, not hash-by-url: a url-hash request matches the url
      // exchange above it and Catalyst elides it as redundant — AQE then
      // re-collapses the read at runtime. (The pre-repartition local sort is
      // over one capped row per doc — negligible.)
      .repartition(math.max(spark.sparkContext.defaultParallelism,
        spark.conf.get("spark.sql.shuffle.partitions").toInt))
      // unordered pairs with obj_a < obj_b in UTF8 order — the same binary
      // string comparison the round-7 join filter used
      .select(explode(expr(
        "flatten(transform(top, x -> " +
          "transform(filter(top, y -> y > x), y -> " +
          "named_struct('obj_a', x, 'obj_b', y))))")).as("p"))
      .select($"p.obj_a".as("obj_a"), $"p.obj_b".as("obj_b"))
      .groupBy($"obj_a", $"obj_b")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"obj_a", $"obj_b")
  }
}

package graft

import graft.index.SynonymTfIdfIndex

/** Dictionary-search latency against ontology size S.
  *
  * For S = 10^4, 10^5 and 10^6 seeded synthetic synonyms, fits one
  * `SynonymTfIdfIndex` and reports the fit time, the postings' size, how many
  * synonyms a lookup scores, and the per-lookup latency of the postings
  * search against the full scan-and-sort it replaced
  * ([[TfIdfScanReference]]). Every timed query's results are also compared
  * bit for bit between the two.
  *
  *   SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.TfIdfScaleProbe"
  *
  * Synonyms are 1–3 tokens; each token is a corpus-ontology synonym word
  * with 1–3 random char edits over the ontology's alphabet. Queries are
  * synonyms of the index with one more edit, so nearly all of them miss the
  * exact lookup, as the mentions that reach the fuzzy search do.
  */
object TfIdfScaleProbe {

  def synonyms(seed: Long, n: Int): Array[String] = {
    val words = graft.ontology.CorpusOntology.rows
      .flatMap(_.syn.toLowerCase(java.util.Locale.ROOT).split(" "))
      .filter(_.length >= 3).distinct.sorted.toArray
    val alphabet = words.flatMap(_.toCharArray).distinct.sorted
    val rnd = new java.util.SplittableRandom(seed)
    def token(): String = edit(rnd, alphabet, words(rnd.nextInt(words.length)), 1 + rnd.nextInt(3))
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val s = Seq.fill(1 + rnd.nextInt(3))(token()).mkString(" ")
      if (seen.add(s)) { out(i) = s; i += 1 }
    }
    out
  }

  private def edit(rnd: java.util.SplittableRandom, alphabet: Array[Char], w: String, edits: Int): String = {
    val sb = new StringBuilder(w)
    for (_ <- 0 until edits) {
      val c = alphabet(rnd.nextInt(alphabet.length))
      rnd.nextInt(3) match {
        case 0 => sb.setCharAt(rnd.nextInt(sb.length), c)
        case 1 => sb.insert(rnd.nextInt(sb.length + 1), c)
        case _ => if (sb.length > 2) sb.deleteCharAt(rnd.nextInt(sb.length)) else sb.append(c)
      }
    }
    sb.toString
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; s(s.length / 2)
  }

  /** Per-lookup ms of each query, after one untimed pass over them. */
  private def lookupMs(queries: Seq[String], f: String => Seq[(String, Double)]): Seq[Double] = {
    queries.foreach(f)
    queries.map { q =>
      val t0 = System.nanoTime(); f(q); (System.nanoTime() - t0) / 1e6
    }
  }

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(10000, 100000, 1000000)
    val rt = Runtime.getRuntime
    println(s"cpus=${rt.availableProcessors} max_heap_mb=${rt.maxMemory >> 20} " +
      s"jdk=${System.getProperty("java.version")}")
    println("| synonyms S | fit ms | postings MB | scored per lookup | postings p50 ms | postings mean ms | scan p50 ms | scan mean ms | scan / postings (p50) |")
    println("|---|---|---|---|---|---|---|---|---|")
    for (n <- sizes) {
      val syns = synonyms(42L, n)
      System.gc()
      val t0 = System.nanoTime()
      val index = SynonymTfIdfIndex.fit(syns.toIndexedSeq)
      val fitMs = (System.nanoTime() - t0) / 1e6
      val bytes = 4L * index.offsets.length + 4L * index.postSyn.length + 8L * index.postW.length

      val rnd = new java.util.SplittableRandom(7L)
      val alphabet = syns.flatMap(_.toCharArray).distinct.sorted
      val queries = Seq.fill(400)(edit(rnd, alphabet, syns(rnd.nextInt(n)), 1))
      // synonyms sharing a bigram with the query: the ones the postings visit
      val scored = queries.map { q =>
        val seen = new java.util.BitSet(n)
        index.vectorizer.transform(q).indices.foreach { f =>
          (index.offsets(f) until index.offsets(f + 1)).foreach(k => seen.set(index.postSyn(k)))
        }
        seen.cardinality.toDouble
      }
      val fast = lookupMs(queries, index.search(_, 20))
      // the scan costs O(S log S) per lookup: time fewer queries at large S
      val scanQueries = queries.take(math.max(10, math.min(400, 4000000 / n)))
      val scan = new TfIdfScanReference.Scan(index)
      val slow = lookupMs(scanQueries, scan.search(_, 20))
      val diffs = scanQueries.count(q =>
        !TfIdfScanReference.sameBits(index.search(q, 20), scan.search(q, 20)))
      require(diffs == 0, s"$diffs of ${scanQueries.length} queries differ from the scan at S=$n")
      println(f"| $n%,d | $fitMs%.0f | ${bytes / 1e6}%.1f | ${scored.sum / scored.length}%,.0f | " +
        f"${median(fast)}%.3f | ${fast.sum / fast.length}%.3f | ${median(slow)}%.2f | " +
        f"${slow.sum / slow.length}%.2f | ${median(slow) / median(fast)}%.0f× |")
      println(s"  (postings timed over ${queries.length} lookups, scan over ${scanQueries.length}; " +
        s"all ${scanQueries.length} compared bit for bit)")
    }
  }
}

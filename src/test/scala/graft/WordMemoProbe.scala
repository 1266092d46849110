package graft

import graft.ner.{MiniBern, TokenClassifier}
import graft.ner.TokenClassifier.Piece

/** Word-run memo traffic against vocabulary size.
  *
  * For two inputs — documents over the benchmark's closed 30-word vocabulary
  * (`kgbench/vocab.txt`), and Zipf(1.0) text over a 50,000-word synthetic
  * vocabulary — and for several memo bounds, runs every document's frames
  * through `TokenClassifier.processText` on a fresh session, one thread, and
  * reports the memo hit ratio, the transformer NER ms per document, the ms
  * per document of the whole-frame `forward` alone (the model cost without
  * the memo) and the memo's size in entries and bytes.
  *
  *   sbt "Test/runMain graft.WordMemoProbe"
  *
  * Documents have 10–99 words, as in the benchmark's generator. Synthetic
  * words are 2–14 lowercase letters, one in ten capitalised. Bytes are a
  * layout estimate for a 64-bit JVM with compressed oops: key String and its
  * array, value float array, map node and table slot per entry.
  */
object WordMemoProbe {

  private def vocabFile: Vector[String] = {
    val src = scala.io.Source.fromFile("kgbench/vocab.txt", "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toVector finally src.close()
  }

  private def synthVocab(seed: Long, n: Int): Vector[String] = {
    val rnd = new java.util.SplittableRandom(seed)
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < n) {
      val len = 2 + rnd.nextInt(13)
      seen.add(Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString)
    }
    val words = seen.toArray(new Array[String](0)).toVector
    words.map(w => if (rnd.nextInt(10) == 0) w.capitalize else w)
  }

  /** Inverse-CDF sampler of Zipf(s) over ranks 0 until n. */
  private final class Zipf(n: Int, s: Double, seed: Long) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val rnd = new java.util.SplittableRandom(seed)
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def docs(n: Int, seed: Long, pick: () => String): Seq[String] = {
    val rnd = new java.util.SplittableRandom(seed)
    Seq.fill(n)(Seq.fill(10 + rnd.nextInt(90))(pick()).mkString(" "))
  }

  private def batches(text: String): Seq[Seq[IndexedSeq[Piece]]] = {
    val pieces = TokenClassifier.wordpieces(text)
    if (pieces.isEmpty) Seq.empty
    else TokenClassifier.frames(pieces).grouped(TokenClassifier.BatchSize).toSeq
  }

  private def align(b: Long): Long = (b + 7) & ~7L

  /** Estimated bytes of one memo entry. */
  def entryBytes(key: String, value: Array[Float]): Long = {
    val coder = if (key.forall(_ <= 'ÿ')) 1 else 2
    align(24) + align(16L + coder * key.length) + align(16L + 4L * value.length) +
      32 + 8 // map node, table slot at the map's load factor
  }

  /** ms per document of `f` over `ds`. */
  private def msPerDoc(ds: Seq[String], f: String => Unit): Double = {
    val t0 = System.nanoTime()
    ds.foreach(f)
    (System.nanoTime() - t0) / 1e6 / ds.size
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 4000
    val bounds = Seq(1 << 12, 1 << 14, MiniBern.MemoRuns, 1 << 18).distinct.sorted
    val vocab = TokenClassifier.CorpusVocab
    val rt = Runtime.getRuntime
    println(s"cpus=${rt.availableProcessors} max_heap_mb=${rt.maxMemory >> 20} " +
      s"jdk=${System.getProperty("java.version")} vector=${graft.ner.VectorGemm.AVAILABLE} docs=$nDocs")

    val bench = vocabFile
    val synth = synthVocab(11L, 50000)
    val zipf = new Zipf(synth.size, 1.0, 12L)
    val benchRnd = new java.util.SplittableRandom(13L)
    val inputs = Seq(
      s"benchmark vocabulary (${bench.size} words)" ->
        docs(nDocs, 1L, () => bench(benchRnd.nextInt(bench.size))),
      f"Zipf(1.0), ${synth.size}%,d words" -> docs(nDocs, 2L, () => synth(zipf.next())))

    // JIT warm-up on other text of both kinds, through both paths
    val warm = new MiniBern(vocab)
    (docs(1000, 3L, () => synth(zipf.next())) ++
      docs(1000, 4L, () => bench(benchRnd.nextInt(bench.size)))).foreach { t =>
      TokenClassifier.processText(warm, t); batches(t).foreach(warm.forward)
    }

    println("| input | memo bound (runs) | word runs per doc | hit ratio | transformer NER ms/doc | whole-frame forward ms/doc | runs held | memo MB |")
    println("|---|---|---|---|---|---|---|---|")
    for ((name, ds) <- inputs) {
      val reference = new MiniBern(vocab)
      val fwdMs = msPerDoc(ds, t => batches(t).foreach(reference.forward))
      for (bound <- bounds) {
        val m = new MiniBern(vocab, MiniBern.Config(), bound)
        val ms = msPerDoc(ds, t => TokenClassifier.processText(m, t))
        val (hits, misses, held) = m.memoStats
        val bytes = m.memoEntries.map { case (k, v) => entryBytes(k, v) }.sum
        println(f"| $name | $bound%,d | ${(hits + misses).toDouble / ds.size}%.1f | " +
          f"${hits.toDouble / (hits + misses)}%.3f | $ms%.3f | $fwdMs%.3f | $held%,d | ${bytes / 1e6}%.2f |")
      }
    }
    val n = MiniBern.Config().maxWordPieces
    val worst = entryBytes("Ā" * (8 * n), new Array[Float](n * TokenClassifier.Labels.size))
    println(s"worst-case entry ($n pieces of 6 non-Latin-1 chars): $worst bytes; " +
      f"at the bound ${MiniBern.MemoRuns}%,d runs: ${worst * MiniBern.MemoRuns / 1e6}%.1f MB")
  }
}

package graft.index

import scala.collection.mutable

/** Minimal deterministic TF-IDF vectorizer + CSR store, re-expressing the
  * role sklearn's TfidfVectorizer plays in the reference (char-bigram index
  * for fuzzy candidate search, kazu/utils/link_index.py:123-139; word 1-2 +
  * char 2-3 gram context scorer,
  * kazu/steps/linking/post_processing/disambiguation/context_scoring.py:23-90).
  *
  * Formulae match sklearn defaults: tf = raw count, idf = ln((1+n)/(1+df))+1
  * (smooth), l2-normalized vectors. The synonym index is fitted once per
  * parser per bundle instance, on first use (`DictionaryLinking.indexesFor`),
  * not in the resource build, so the broadcast bundle carries no vectors;
  * per-row scoring is a sparse dot product — the "similarity theta-join" of
  * SURVEY.md §2.G executed map-side.
  */
final case class SparseVec(indices: Array[Int], values: Array[Double])
    extends Serializable {
  def dot(other: SparseVec): Double = {
    var i = 0; var j = 0; var s = 0.0
    while (i < indices.length && j < other.indices.length) {
      val a = indices(i); val b = other.indices(j)
      if (a == b) { s += values(i) * other.values(j); i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    s
  }
}

object Featurizer {
  /** char n-grams as in ref kazu/utils/utils.py:151-180. */
  def charNgrams(s: String, n: Int): Seq[String] =
    if (s.length < n) Seq.empty
    else (0 to s.length - n).map(i => s.substring(i, i + n))

  def wordNgrams(s: String, n: Int): Seq[String] = {
    val words = s.split(" ")
    if (words.length < n) Seq.empty
    else (0 to words.length - n).map(i => words.slice(i, i + n).mkString(" "))
  }

  /** Feature extraction configs. */
  def charBigrams(s: String): Seq[String] = charNgrams(s, 2)

  /** sklearn TfidfVectorizer() default features: lowercase word tokens of
    * ≥2 word-chars (token_pattern \b\w\w+\b). */
  def sklearnWords(s: String): Seq[String] =
    "\\b\\w\\w+\\b".r.findAllIn(s.toLowerCase(java.util.Locale.ROOT)).toSeq

  /** word 1-2 grams + char 2-3 grams (disambiguation context features). */
  def contextFeatures(s: String): Seq[String] = {
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    lower.split(" ").toSeq ++ wordNgrams(lower, 2) ++
      charNgrams(lower, 2).map("c2:" + _) ++ charNgrams(lower, 3).map("c3:" + _)
  }
}

final class TfIdfVectorizer(
    val vocab: Map[String, Int],
    val idf: Array[Double],
    featurize: String => Seq[String]
) extends Serializable {

  def transform(s: String): SparseVec = {
    val counts = mutable.HashMap.empty[Int, Double]
    featurize(s).foreach { f =>
      vocab.get(f).foreach(i => counts(i) = counts.getOrElse(i, 0.0) + 1.0)
    }
    val idx = counts.keys.toArray.sorted
    val vals = idx.map(i => counts(i) * idf(i))
    val norm = math.sqrt(vals.map(v => v * v).sum)
    SparseVec(idx, if (norm > 0) vals.map(_ / norm) else vals)
  }
}

object TfIdfVectorizer {
  def fit(corpus: Seq[String], featurize: String => Seq[String]): TfIdfVectorizer = {
    val df = mutable.HashMap.empty[String, Int]
    corpus.foreach { docStr =>
      featurize(docStr).distinct.foreach(f => df(f) = df.getOrElse(f, 0) + 1)
    }
    val vocab = df.keys.toSeq.sorted.zipWithIndex.toMap
    val n = corpus.size.toDouble
    val idf = new Array[Double](vocab.size)
    df.foreach { case (f, d) =>
      idf(vocab(f)) = math.log((1.0 + n) / (1.0 + d)) + 1.0
    }
    new TfIdfVectorizer(vocab, idf, featurize)
  }
}

/** Per-parser fuzzy synonym index: tf-idf char-bigram vectors of every
  * synonym norm (ref DictionaryIndex, kazu/utils/link_index.py:26-139),
  * stored transposed as CSR postings.
  *
  * Layout: synonym `s` is `synNorms(s)` (distinct, ascending). The postings
  * of feature `f` are `postSyn(k)` / `postW(k)` for `k` in
  * `offsets(f) until offsets(f + 1)`, synonyms ascending, where `postW(k)`
  * is the synonym's l2-normalized tf-idf weight for `f`.
  *
  * `search` visits only synonyms that share a bigram with the query (every
  * other synonym scores 0, which the reference filters out). It walks the
  * query's features in ascending order and adds `q·w` into a per-synonym
  * accumulator starting at 0.0 — the order and operands of `SparseVec.dot` —
  * so every score is bit-identical to a full scan. Results are ordered by
  * (score desc, synNorm asc); ties compare synonym indexes, which is synNorm
  * order because `synNorms` is sorted.
  */
final class SynonymTfIdfIndex private (
    val vectorizer: TfIdfVectorizer,
    val synNorms: Array[String],
    private[graft] val offsets: Array[Int],
    private[graft] val postSyn: Array[Int],
    private[graft] val postW: Array[Double]
) extends Serializable {

  // the index is shared by concurrent Spark tasks and server threads, so
  // each thread gets its own accumulator; all slots are 0.0 between calls
  @transient private lazy val scratch: ThreadLocal[SynonymTfIdfIndex.Scratch] =
    ThreadLocal.withInitial(() => new SynonymTfIdfIndex.Scratch(synNorms.length))

  /** Top-n fuzzy matches of a query norm, scores scaled ×100
    * (ref link_index.py:96-108). */
  def search(queryNorm: String, topN: Int): Seq[(String, Double)] = {
    val q = vectorizer.transform(queryNorm)
    if (q.indices.isEmpty || topN <= 0) return Seq.empty
    val sc = scratch.get()
    val acc = sc.acc; val touched = sc.touched
    var nt = 0
    var i = 0
    while (i < q.indices.length) {
      val f = q.indices(i); val qv = q.values(i)
      var k = offsets(f)
      val end = offsets(f + 1)
      while (k < end) {
        val s = postSyn(k)
        val p = qv * postW(k)
        // weights are positive, so p is 0.0 only on underflow; skipping it
        // adds nothing and keeps each synonym in `touched` at most once
        if (p > 0.0) {
          val a = acc(s)
          if (a == 0.0) { touched(nt) = s; nt += 1 }
          acc(s) = a + p
        }
        k += 1
      }
      i += 1
    }
    val top = new SynonymTfIdfIndex.TopN(math.min(topN, nt))
    i = 0
    while (i < nt) {
      val s = touched(i)
      val score = acc(s) * 100.0
      acc(s) = 0.0
      if (score > 0.0) top.offer(s, score)
      i += 1
    }
    top.result(synNorms)
  }
}

object SynonymTfIdfIndex {
  def fit(synNorms: Seq[String]): SynonymTfIdfIndex = {
    val sorted = synNorms.distinct.sorted.toArray
    val vec = TfIdfVectorizer.fit(
      sorted.toIndexedSeq,
      s => Featurizer.charBigrams(s.toLowerCase(java.util.Locale.ROOT)))
    val vectors = sorted.map(s => vec.transform(s.toLowerCase(java.util.Locale.ROOT)))
    // one O(nnz) transpose: count per feature, prefix-sum, then fill in
    // ascending synonym order
    val offsets = new Array[Int](vec.idf.length + 1)
    vectors.foreach(_.indices.foreach(f => offsets(f + 1) += 1))
    var f = 0
    while (f < vec.idf.length) { offsets(f + 1) += offsets(f); f += 1 }
    val fill = java.util.Arrays.copyOf(offsets, vec.idf.length)
    val postSyn = new Array[Int](offsets(vec.idf.length))
    val postW = new Array[Double](postSyn.length)
    var s = 0
    while (s < vectors.length) {
      val v = vectors(s)
      var j = 0
      while (j < v.indices.length) {
        val k = fill(v.indices(j))
        postSyn(k) = s; postW(k) = v.values(j)
        fill(v.indices(j)) = k + 1
        j += 1
      }
      s += 1
    }
    new SynonymTfIdfIndex(vec, sorted, offsets, postSyn, postW)
  }

  private final class Scratch(n: Int) {
    val acc = new Array[Double](n)
    val touched = new Array[Int](n)
  }

  /** Bounded min-heap of the best `cap` (score, synonym) pairs; the root is
    * the worst kept pair: lowest score, then highest synonym index. */
  private final class TopN(cap: Int) {
    private val score = new Array[Double](cap)
    private val syn = new Array[Int](cap)
    private var n = 0

    private def worse(i: Int, j: Int): Boolean =
      score(i) < score(j) || (score(i) == score(j) && syn(i) > syn(j))

    private def swap(i: Int, j: Int): Unit = {
      val sc = score(i); score(i) = score(j); score(j) = sc
      val sy = syn(i); syn(i) = syn(j); syn(j) = sy
    }

    private def siftDown(from: Int, size: Int): Unit = {
      var i = from
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < size && worse(l, m)) m = l
        if (r < size && worse(r, m)) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }

    def offer(s: Int, sc: Double): Unit =
      if (n < cap) {
        score(n) = sc; syn(n) = s
        var i = n; n += 1
        while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if (cap > 0 && (sc > score(0) || (sc == score(0) && s < syn(0)))) {
        score(0) = sc; syn(0) = s
        siftDown(0, n)
      }

    /** Kept pairs best first; consumes the heap. */
    def result(synNorms: Array[String]): Seq[(String, Double)] = {
      val out = new Array[(String, Double)](n)
      var size = n
      while (size > 0) {
        size -= 1
        out(size) = (synNorms(syn(0)), score(0))
        swap(0, size)
        siftDown(0, size)
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
  }
}

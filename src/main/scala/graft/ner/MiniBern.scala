package graft.ner

import graft.ner.TokenClassifier.{ModelSession, Piece}

/** Pure-JVM mini-transformer token classifier — the real forward pass behind
  * the TransformerNer stage (ref TransformersModelForTokenClassificationNerStep,
  * kazu/steps/ner/hf_token_classification.py:64-352; TinyBERN2-style token
  * classification).
  *
  * No ONNX runtime jar exists in this zero-egress container, so instead of an
  * exported model this is a from-scratch encoder with embedded deterministic
  * weights, doing the actual math a TinyBERN2 session would do per frame:
  *
  *   - token/positional embedding lookup + layer norm
  *   - `layers`× encoder blocks: multi-head self-attention (QKV projections,
  *     scaled dot-product scores, row softmax, output projection, residual +
  *     layer norm) and a GELU feed-forward (d → 4d → d, residual + layer norm)
  *   - a classification head over the 5 BIO labels
  *
  * All position-wise GEMMs are **batched across the frames of a batch** (one
  * flat [ΣnPieces × d] matrix per projection — the Spark `mapPartitions`
  * batching of the step feeds `TokenClassifier.BatchSize` frames at a time),
  * so the inference cost and batch shape are real; BENCH reports the
  * per-frame FLOPs via [[MiniBern.flops]].
  *
  * Three deliberate, documented divergences from a trained TinyBERN2:
  *
  *   0. **Hybrid word+subword input embeddings** (fastText-style): each
  *      piece's input sums a dominant whole-word hashed embedding with the
  *      subword-piece embedding plus small structural features (relative
  *      position in word, word piece-count, continuation flag). A trained
  *      model separates morphology via its learned weights; with fixed
  *      random features the word-level component is what makes distinct
  *      words near-orthogonal ("stream" vs "streams").
  *   1. **Attention is word-local**: piece i attends to piece j iff they
  *      belong to the same whitespace word (a block-diagonal mask applied
  *      after the full QKᵀ scores — FLOP-identical to frame-wide attention).
  *      This makes each word's representation a pure function of the word,
  *      so model behavior is exactly pinnable by fixtures (MiniBernSpec +
  *      the tinybern-style golden TSV) with zero cross-context drift. The
  *      word-run memo of [[MiniBern.predict]] depends on it: a piece's
  *      logits are a function of its word's piece run in the frame alone,
  *      so each distinct run is encoded once per session. A model with
  *      frame-wide attention must not keep the memo.
  *   2. **The head is a prototype classifier**: the trunk is run once at
  *      construction over each vocabulary word; the L2-normalized outputs
  *      become per-label prototype rows P, and head logits are
  *      `scale·(max_label(P·x̂) − threshold)` with logit(O) = 0. A trained
  *      dense head would need training data; the prototype head gives the
  *      same linear-readout cost (one [nLabels′ × d] GEMM) with behavior
  *      that is provable: a vocabulary word scores cosine 1.0 exactly, and
  *      MiniBernSpec asserts every other corpus/golden token stays below
  *      `threshold` with margin.
  *
  * Activation semantics downstream match the reference exactly
  * (hf_token_classification.py:326-352): softmax over label logits for the
  * single-label path, heaviside(logits, 0) for the multilabel path — see
  * [[TokenClassifier.Activations]].
  */
object MiniBern {

  final case class Config(
      hidden: Int = 64,
      layers: Int = 2,
      heads: Int = 4,
      ffn: Int = 256,
      maxWordPieces: Int = 16, // relative-position / word-shape table size
      scale: Float = 10f,
      threshold: Float = 0.88f, // calibrated: MiniBernSpec asserts margin
      seed: Long = 0x67726166745f6eL,
      // Opt-in int8 dynamic quantization of the linear layers — the
      // reference's quantization plane (kazu/quantization/
      // int8_x86_quantizer.py; opt-in there too, via pipeline config).
      // OFF by default: measured ~1.0x on the JVM (no VNNI path); see
      // [[Int8Quantizer]] for the scheme + the honest perf story.
      int8: Boolean = false
  )

  /** Word runs the memo of [[MiniBern.predict]] holds before it is cleared.
    * `WordMemoProbe` (BENCH.md "4-core baseline") picked it: on Zipf(1.0)
    * text over 50,000 words, 4,000 docs held 31k runs (5.2 MB) at a hit
    * ratio of 0.86, where 2^14 runs gave 0.78 and 2^18 no more than 2^16.
    * An entry takes at most about 670 bytes (16 pieces of 6 non-Latin-1
    * chars: key, logits, map node), so a session's memo stays under 45 MB. */
  val MemoRuns: Int = 1 << 16

  /** FLOPs of one frame forward pass (multiply+add = 2 FLOPs), for BENCH. */
  def flops(nPieces: Int, cfg: Config = Config()): Long = {
    val d = cfg.hidden.toLong; val n = nPieces.toLong
    val perLayer =
      2 * (3 * n * d * d) + // QKV projections
        2 * (2 * n * n * d) + // scores + context
        2 * (n * d * d) + // output projection
        2 * (2L * n * d * cfg.ffn) // FFN in + out
    cfg.layers * perLayer
  }

  /** Deterministic gaussian weights: splitmix64 stream + Box-Muller, keyed
    * by (seed, tag) so every matrix is independent and reproducible. */
  private[ner] def gaussian(seed: Long, tag: String, n: Int, std: Double): Array[Float] = {
    var x = seed ^ (tag.hashCode.toLong * 0x9e3779b97f4a7c15L)
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def unit(): Double = (next() >>> 11).toDouble / (1L << 53).toDouble
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val u1 = math.max(unit(), 1e-12); val u2 = unit()
      val r = math.sqrt(-2.0 * math.log(u1))
      out(i) = (r * math.cos(2 * math.Pi * u2) * std).toFloat
      if (i + 1 < n) out(i + 1) = (r * math.sin(2 * math.Pi * u2) * std).toFloat
      i += 2
    }
    out
  }
}

final class MiniBern private[graft] (
    vocab: Map[String, String],
    cfg: MiniBern.Config,
    memoRuns: Int
) extends ModelSession {
  import MiniBern._
  import TokenClassifier.Labels

  def this(vocab: Map[String, String], cfg: MiniBern.Config = MiniBern.Config()) =
    this(vocab, cfg, MiniBern.MemoRuns)
  require(memoRuns > 0, s"memoRuns=$memoRuns")

  // quantization is part of the model identity: anything keyed by version
  // (pipeline metadata, broadcast memos) must not mix float and int8 outputs
  val version = if (cfg.int8) "minibern/3-int8" else "minibern/3"

  private val d = cfg.hidden
  private val dk = d / cfg.heads
  private val invSqrtDk = (1.0 / math.sqrt(dk)).toFloat

  // ---- embedded weights (deterministic) -----------------------------------
  private val std = 1.0 / math.sqrt(d)
  // Feature weights: the whole-word component dominates so distinct words
  // are near-orthogonal at the input regardless of shared subword pieces
  // ("stream"/"streams", "sort"/"sorting"); shared structural features
  // (position, word shape, continuation flag) are kept small so they don't
  // correlate unrelated words of the same shape.
  private val contVec = gaussian(cfg.seed, "cont", d, 0.25)
  private val posEmb = gaussian(cfg.seed, "pos", cfg.maxWordPieces * d, 0.25)
  private val lenEmb = gaussian(cfg.seed, "wlen", cfg.maxWordPieces * d, 0.25)
  /** One linear layer in whichever representation the session was built
    * with. Under cfg.int8, the float matrix is a TEMPORARY passed through
    * [[Int8Quantizer.quantizeWeights]] and dropped — the session retains
    * only the int8 copy + scales (the reference quantizes once at
    * model-load and keeps only the quantized graph,
    * int8_x86_quantizer.py:26-43; for a real weight set this is where the
    * 4x weight-footprint/broadcast shrink comes from). Activations are
    * quantized dynamically per batch inside gemmDynamic. */
  private sealed trait Linear {
    def apply(a: Array[Float], n: Int): Array[Float]
  }
  private final class FloatLinear(w: Array[Float], k: Int, m: Int) extends Linear {
    def apply(a: Array[Float], n: Int): Array[Float] = gemm(a, n, k, w, m)
  }
  private final class QuantLinear(qm: Int8Quantizer.QuantizedMatrix) extends Linear {
    def apply(a: Array[Float], n: Int): Array[Float] =
      Int8Quantizer.gemmDynamic(a, n, qm.k, qm)
  }
  private def mkLinear(w: Array[Float], k: Int, m: Int): Linear =
    if (cfg.int8) new QuantLinear(Int8Quantizer.quantizeWeights(w, k, m))
    else new FloatLinear(w, k, m)
  // Biases stay float in both representations — they're added after
  // dequantization, as in the x86 dynamic config.
  private final case class Layer(
      wq: Linear, wk: Linear, wv: Linear, wo: Linear,
      w1: Linear, b1: Array[Float], w2: Linear, b2: Array[Float])
  private val layerWeights: IndexedSeq[Layer] =
    (0 until cfg.layers).map { l =>
      Layer(
        mkLinear(gaussian(cfg.seed, s"wq$l", d * d, std), d, d),
        mkLinear(gaussian(cfg.seed, s"wk$l", d * d, std), d, d),
        mkLinear(gaussian(cfg.seed, s"wv$l", d * d, std), d, d),
        mkLinear(gaussian(cfg.seed, s"wo$l", d * d, std), d, d),
        mkLinear(gaussian(cfg.seed, s"w1$l", d * cfg.ffn, std), d, cfg.ffn),
        gaussian(cfg.seed, s"b1$l", cfg.ffn, 0.0),
        mkLinear(gaussian(cfg.seed, s"w2$l", cfg.ffn * d, 1.0 / math.sqrt(cfg.ffn)), cfg.ffn, d),
        gaussian(cfg.seed, s"b2$l", d, 0.0))
    }

  /** Hashed token embedding, generated on the fly from a 64-bit key of the
    * lowercased piece (case-insensitive, "uncased" model). A materialized
    * finite table would collide hashed pieces into shared rows (and a rare
    * collision WITH a vocabulary piece would fabricate entity hits); keying
    * the weight stream by the full 64-bit hash makes collisions ~2^-64.
    * Memoized per session — the working set is the corpus piece vocabulary.
    */
  // Memo is BOUNDED: over an unbounded corpus the piece/word vocabulary is
  // unbounded too, and an executor-pinned session must not grow with it. A
  // full clear on overflow is safe: entries are pure deterministic
  // functions of the key and regenerate on demand (the reference's LRU
  // caches serve the same role, conf cache_sizes).
  private val MaxCacheEntries = 1 << 18
  private val embCache = new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()
  private def hashedEmbedding(key: String, tag: String, std: Double): Array[Float] = {
    val cacheKey = tag + "\u0000" + key
    var e = embCache.get(cacheKey)
    if (e == null) {
      val h1 = scala.util.hashing.MurmurHash3.stringHash(key, 0x6d62)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(key, 0x7a91)
      e = gaussian(cfg.seed ^ ((h1.toLong << 32) | (h2.toLong & 0xffffffffL)), tag, d, std)
      if (embCache.size >= MaxCacheEntries) embCache.clear()
      embCache.put(cacheKey, e)
    }
    e
  }
  /** Subword-piece embedding (case-insensitive, "uncased" model). */
  private def tokenEmbedding(piece: String): Array[Float] =
    hashedEmbedding(piece.toLowerCase(java.util.Locale.ROOT), "tok", 1.0)
  /** Whole-word embedding — hybrid word+subword input (fastText-style):
    * the dominant feature, making distinct words near-orthogonal even when
    * they share leading pieces. Generated on the fly from the 64-bit word
    * hash, so collisions are ~2^-64 (a finite table would alias rows). */
  private def wordEmbedding(word: String): Array[Float] =
    hashedEmbedding(word.toLowerCase(java.util.Locale.ROOT), "word", 2.0)

  // ---- kernels -------------------------------------------------------------
  /** C[n×m] = A[n×k] · B[k×m]; ikj loop order, 4-way k-unrolled so the JIT
    * vectorizes a 4-term FMA chain per j lane (measured 1.6× over the
    * scalar-broadcast form at these shapes: 6.4 vs 3.9 GFLOP/s/core for
    * d→ffn, 5.3 vs ~3.5 for d→d). */
  private def gemm(a: Array[Float], n: Int, k: Int, b: Array[Float], m: Int): Array[Float] = {
    // r8: the sampled-frame profile showed this loop as THE pipeline compute
    // hotspot (gemm+gelu+trunk ~70% of non-idle executor samples on the
    // transformer rows). The Vector API port is lane-wise BIT-IDENTICAL to
    // the scalar loop below (same association order, mul+add, no FMA —
    // pinned by MiniBernSpec's bit-equality fuzz) and measured 3.5x here;
    // the scalar loop stays as the fallback for JVMs launched without
    // --add-modules=jdk.incubator.vector.
    if (VectorGemm.AVAILABLE) return VectorGemm.gemm(a, n, k, b, m)
    val c = new Array[Float](n * m)
    var i = 0
    while (i < n) {
      val co = i * m; val ak = i * k
      var p = 0
      while (p + 4 <= k) {
        val a0 = a(ak + p); val a1 = a(ak + p + 1)
        val a2 = a(ak + p + 2); val a3 = a(ak + p + 3)
        val b0 = p * m; val b1 = (p + 1) * m
        val b2 = (p + 2) * m; val b3 = (p + 3) * m
        var j = 0
        while (j < m) {
          c(co + j) += a0 * b(b0 + j) + a1 * b(b1 + j) +
            a2 * b(b2 + j) + a3 * b(b3 + j)
          j += 1
        }
        p += 4
      }
      while (p < k) {
        val av = a(ak + p); val bo = p * m
        var j = 0
        while (j < m) { c(co + j) += av * b(bo + j); j += 1 }
        p += 1
      }
      i += 1
    }
    c
  }

  private def layerNormInPlace(x: Array[Float], n: Int): Unit = {
    var i = 0
    while (i < n) {
      val off = i * d
      var mean = 0f; var j = 0
      while (j < d) { mean += x(off + j); j += 1 }
      mean /= d
      var v = 0f; j = 0
      while (j < d) { val t = x(off + j) - mean; v += t * t; j += 1 }
      val inv = (1.0 / math.sqrt(v / d + 1e-5)).toFloat
      j = 0
      while (j < d) { x(off + j) = (x(off + j) - mean) * inv; j += 1 }
      i += 1
    }
  }

  private def gelu(x: Float): Float = {
    val c = 0.7978845608028654f // sqrt(2/pi)
    val t = c * (x + 0.044715f * x * x * x)
    (0.5f * x * (1f + math.tanh(t).toFloat))
  }

  /** Trunk forward for a batch of frames. Position-wise ops (projections,
    * FFN, norms) run on ONE flat [total × d] matrix across all frames —
    * genuinely batched GEMMs; attention runs per frame with the word-local
    * block mask. Returns the flat hidden states + per-frame row offsets.
    */
  private def trunk(
      frames: Seq[IndexedSeq[Piece]],
      includeWordFeature: Boolean = true
  ): (Array[Float], Array[Int]) = {
    val offsets = frames.scanLeft(0)(_ + _.length).toArray
    val total = offsets.last
    val x = new Array[Float](total * d)
    // embeddings: token + continuation flag + within-word relative position
    var f = 0
    while (f < frames.length) {
      val frame = frames(f)
      // per-word piece count (word-shape feature) and reconstructed word text
      // (hybrid word+subword embedding)
      val wordLen = scala.collection.mutable.HashMap.empty[Int, Int]
      frame.foreach(p => wordLen.update(p.wordId, wordLen.getOrElse(p.wordId, 0) + 1))
      val wordText = scala.collection.mutable.HashMap.empty[Int, String]
      frame.foreach { p =>
        val t = if (p.token.startsWith("##")) p.token.substring(2) else p.token
        wordText.update(p.wordId, wordText.getOrElse(p.wordId, "") + t)
      }
      var i = 0
      var posInWord = 0
      while (i < frame.length) {
        if (i > 0 && frame(i).wordId == frame(i - 1).wordId) posInWord += 1
        else posInWord = 0
        val row = (offsets(f) + i) * d
        val tok = tokenEmbedding(frame(i).token)
        // token-classification mode sums the DOMINANT whole-word feature
        // (distinct words near-orthogonal — what the prototype head needs);
        // encoder mode omits it, leaving the subword-compositional view
        // (shared pieces ⇒ nearby vectors — the morphological-synonym
        // geometry SapBERT training produces, which the linking
        // confirmation thresholds rely on)
        val wrd =
          if (includeWordFeature) wordEmbedding(wordText(frame(i).wordId))
          else null
        val po = math.min(posInWord, cfg.maxWordPieces - 1) * d
        val lo = math.min(wordLen(frame(i).wordId) - 1, cfg.maxWordPieces - 1) * d
        val cont = frame(i).token.startsWith("##")
        var j = 0
        while (j < d) {
          x(row + j) = (if (wrd == null) 0f else wrd(j)) + tok(j) +
            posEmb(po + j) + lenEmb(lo + j) +
            (if (cont) contVec(j) else 0f)
          j += 1
        }
        i += 1
      }
      f += 1
    }
    layerNormInPlace(x, total)

    layerWeights.foreach { lw =>
      // batched projections over the whole batch; each Linear is float GEMM
      // or the int8 dynamic-quant kernel per session config (linear ops
      // only — attention softmax, norms and GELU stay float, like the
      // reference's dynamic x86 config)
      val q = lw.wq(x, total)
      val k = lw.wk(x, total)
      val v = lw.wv(x, total)
      val ctx = new Array[Float](total * d)
      // attention per frame (word-local mask applied to full QK^T scores)
      var fi = 0
      while (fi < frames.length) {
        val frame = frames(fi); val base = offsets(fi); val n = frame.length
        var h = 0
        while (h < cfg.heads) {
          val ho = h * dk
          var i = 0
          while (i < n) {
            val qo = (base + i) * d + ho
            val wid = frame(i).wordId
            // scores for allowed (same-word) keys ONLY (r8): the mask is
            // word-local, so scores of other-word keys were computed and
            // then overwritten with 0 — skipping their QK dot products is
            // bit-identical (maxS/z/ctx never read them) and removes the
            // O(n·dk) majority of the attention work per query (words are
            // ≤ maxWordPieces pieces; the frame is n tokens)
            var maxS = Float.NegativeInfinity
            val scores = new Array[Float](n)
            var j = 0
            while (j < n) {
              if (frame(j).wordId == wid) {
                var s = 0f
                val ko = (base + j) * d + ho
                var t = 0
                while (t < dk) { s += q(qo + t) * k(ko + t); t += 1 }
                s *= invSqrtDk
                scores(j) = s
                if (s > maxS) maxS = s
              }
              j += 1
            }
            var z = 0f
            j = 0
            while (j < n) {
              if (frame(j).wordId == wid) {
                scores(j) = math.exp((scores(j) - maxS).toDouble).toFloat
                z += scores(j)
              } else scores(j) = 0f
              j += 1
            }
            val co = (base + i) * d + ho
            j = 0
            while (j < n) {
              val a = scores(j) / z
              if (a != 0f) {
                val vo = (base + j) * d + ho
                var t = 0
                while (t < dk) { ctx(co + t) += a * v(vo + t); t += 1 }
              }
              j += 1
            }
            i += 1
          }
          h += 1
        }
        fi += 1
      }
      val attnOut = lw.wo(ctx, total)
      var r = 0
      while (r < total * d) { x(r) += attnOut(r); r += 1 }
      layerNormInPlace(x, total)
      // FFN (batched)
      val hBuf = lw.w1(x, total)
      var i = 0
      while (i < total) {
        val off = i * cfg.ffn
        var j = 0
        while (j < cfg.ffn) { hBuf(off + j) = gelu(hBuf(off + j) + lw.b1(j)); j += 1 }
        i += 1
      }
      val ffnOut = lw.w2(hBuf, total)
      r = 0
      while (r < total * d) { x(r) += ffnOut(r) + lw.b2(r % d); r += 1 }
      layerNormInPlace(x, total)
    }
    (x, offsets)
  }

  // ---- prototype head -------------------------------------------------------
  private def l2norm(v: Array[Float]): Array[Float] = {
    var s = 0f; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val inv = (1.0 / math.sqrt(math.max(s, 1e-12f))).toFloat
    val out = new Array[Float](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  /** (normalized prototype row, label index) — built by running the trunk
    * once over each vocabulary word at construction time. */
  private val prototypes: Array[(Array[Float], Int)] = {
    val labelIdx = Labels.zipWithIndex.toMap
    vocab.toSeq.sortBy(_._1).flatMap { case (word, cls) =>
      val pieces = TokenClassifier.wordpieces(word)
      val (h, _) = trunk(Seq(pieces))
      pieces.indices.map { i =>
        val row = java.util.Arrays.copyOfRange(h, i * d, (i + 1) * d)
        val label = (if (pieces(i).token.startsWith("##")) "I-" else "B-") + cls
        (l2norm(row), labelIdx(label))
      }
    }.toArray
  }

  /** Sentence/string encoder over the SAME trunk (the D3/D4 slot — SapBERT
    * in the reference, kazu/utils/sapbert.py:84-254): wordpiece → trunk →
    * mean-pool over piece hidden states → L2 normalize. Real inference
    * FLOPs per call; with word-local attention the pooled vector is the
    * mean of per-word representations, so distinct words contribute
    * near-orthogonal components (bag-of-words-like geometry: two strings
    * score by shared-word overlap, exact matches score 1.0). */
  def encode(text: String): Array[Float] = {
    val pieces = TokenClassifier.wordpieces(text)
    val out = new Array[Float](d)
    if (pieces.isEmpty) return out
    val fs = TokenClassifier.frames(pieces)
    // encoder mode: same trunk, same FLOPs, but input WITHOUT the dominant
    // whole-word feature, so morphological variants ("influenza" /
    // "influenzza") share most of their piece components and land nearby
    val (h, offsets) = trunk(fs, includeWordFeature = false)
    val total = offsets.last
    var r = 0
    while (r < total) {
      var j = 0
      while (j < d) { out(j) += h(r * d + j); j += 1 }
      r += 1
    }
    var j = 0
    while (j < d) { out(j) /= total; j += 1 }
    l2norm(out)
  }

  // ---- word-run memo -----------------------------------------------------
  // Logits of a word run, flat [pieces × labels], keyed by [[runKey]]. Its
  // own per session: the float and int8 sessions never share entries.
  private val runMemo = new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()
  private val memoHits = new java.util.concurrent.atomic.LongAdder
  private val memoMisses = new java.util.concurrent.atomic.LongAdder

  /** (runs served from the memo, runs not served from it, runs held). */
  private[graft] def memoStats: (Long, Long, Int) =
    (memoHits.sum, memoMisses.sum, runMemo.size)
  /** A snapshot of the memo's entries, for footprint measurements. */
  private[graft] def memoEntries: Seq[(String, Array[Float])] = {
    import scala.jdk.CollectionConverters._
    runMemo.entrySet.asScala.toSeq.map(e => (e.getKey, e.getValue))
  }

  /** The piece tokens of `frame[from, until)`, each prefixed by its length
    * as two chars, so distinct token sequences never share a key. The
    * tokens keep the `##` continuation marker, so a run cut at the frame's
    * left edge (`##ow`) never shares a key with the word `ow`. */
  private def runKey(frame: IndexedSeq[Piece], from: Int, until: Int): String = {
    val sb = new java.lang.StringBuilder
    var i = from
    while (i < until) {
      val t = frame(i).token
      sb.append((t.length >>> 16).toChar).append(t.length.toChar).append(t)
      i += 1
    }
    sb.toString
  }

  /** Logits for a batch of frames (windows of [[TokenClassifier.wordpieces]],
    * in which a word's pieces are consecutive and word ids increase).
    *
    * Every op of the forward pass works row by row except attention, which
    * is word-local (divergence 1), so a piece's logits depend only on its
    * word run: the maximal run of pieces with its word id in the frame.
    * Each run is looked up in a per-session memo. A hit copies the cached
    * logits. The misses of one call go through ONE batched [[forward]],
    * each distinct run as its own frame, and are stored. The result is
    * bit-identical to `forward(frames)`: GEMM rows (vector and scalar),
    * layer norms and the int8 activation scales are all per row, and the
    * attention of a run sees the same keys in the same order.
    *
    * The memo is bounded: at [[MiniBern.MemoRuns]] runs it is cleared, and
    * runs longer than `cfg.maxWordPieces` pieces (words over 64 chars:
    * URLs, hashes) are computed but never stored, which caps an entry near
    * 670 bytes. A clear by another thread is harmless: a hit keeps the array
    * it read, and misses are filled from this call's own forward pass. */
  def predict(frames: Seq[IndexedSeq[Piece]]): Array[Array[Array[Float]]] = {
    val nl = Labels.size
    val out = frames.iterator.map(f => new Array[Array[Float]](f.length)).toArray
    def fill(fi: Int, from: Int, until: Int, logits: Array[Float]): Unit = {
      var i = from
      while (i < until) {
        out(fi)(i) = java.util.Arrays.copyOfRange(logits, (i - from) * nl, (i - from + 1) * nl)
        i += 1
      }
    }
    // this call's misses: one forward frame per distinct key, and each
    // place (frame, start, end, miss) it fills
    val missOf = new java.util.HashMap[String, Integer]()
    val missRuns = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Piece]]
    val pending = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
    var hits = 0L
    var fi = 0
    while (fi < frames.length) {
      val frame = frames(fi)
      var s = 0
      while (s < frame.length) {
        val wid = frame(s).wordId
        require(s == 0 || wid > frame(s - 1).wordId,
          s"word ids must increase along a frame: ${frame(s - 1).wordId} then $wid")
        var e = s + 1
        while (e < frame.length && frame(e).wordId == wid) e += 1
        val key = runKey(frame, s, e)
        val cached = runMemo.get(key)
        if (cached != null) { fill(fi, s, e, cached); hits += 1 }
        else {
          var m = missOf.get(key)
          if (m == null) {
            m = missRuns.length
            missOf.put(key, m)
            missRuns += frame.slice(s, e)
          }
          pending += ((fi, s, e, m.intValue))
        }
        s = e
      }
      fi += 1
    }
    memoHits.add(hits)
    if (missRuns.nonEmpty) {
      memoMisses.add(pending.length)
      val logits = forward(missRuns.toIndexedSeq).map { rows =>
        val flat = new Array[Float](rows.length * nl)
        var i = 0
        while (i < rows.length) { System.arraycopy(rows(i), 0, flat, i * nl, nl); i += 1 }
        flat
      }
      missOf.forEach { (key, m) =>
        if (missRuns(m).length <= cfg.maxWordPieces) {
          if (runMemo.size >= memoRuns) runMemo.clear()
          runMemo.put(key, logits(m))
        }
      }
      pending.foreach { case (f, s, e, m) => fill(f, s, e, logits(m)) }
    }
    out
  }

  /** The whole-frame forward pass: trunk over all frames in one batch, then
    * the prototype head per piece. [[predict]] sends its misses through it;
    * tests use it on whole frames as the reference for the memo. */
  private[graft] def forward(frames: Seq[IndexedSeq[Piece]]): Array[Array[Array[Float]]] = {
    if (frames.isEmpty) return Array.empty
    val (h, offsets) = trunk(frames)
    frames.zipWithIndex.map { case (frame, fi) =>
      val out = new Array[Array[Float]](frame.length)
      var i = 0
      while (i < frame.length) {
        val xn = l2norm(java.util.Arrays.copyOfRange(
          h, (offsets(fi) + i) * d, (offsets(fi) + i + 1) * d))
        val logits = new Array[Float](Labels.size) // logit(O) = 0
        var best = Array.fill(Labels.size)(Float.NegativeInfinity)
        prototypes.foreach { case (p, li) =>
          var s = 0f; var j = 0
          while (j < d) { s += p(j) * xn(j); j += 1 }
          if (s > best(li)) best(li) = s
        }
        var li = 1
        while (li < Labels.size) {
          logits(li) =
            if (best(li) == Float.NegativeInfinity) -cfg.scale * cfg.threshold
            else cfg.scale * (best(li) - cfg.threshold)
          li += 1
        }
        out(i) = logits
        i += 1
      }
      out
    }.toArray
  }
}

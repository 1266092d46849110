package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ner.{MiniBern, TokenClassifier}
import graft.ner.TokenClassifier.{Activations, Word}

/** The real transformer forward pass: determinism, activation semantics
  * (softmax / multilabel heaviside, ref hf_token_classification.py:326-352),
  * vocabulary separation margin over the full corpus token inventory, and
  * the tinybern-style golden TSV replay (word-level BIO labels).
  */
class MiniBernSpec extends AnyFunSuite with SparkTestBase {

  private val session = TokenClassifier.executorSession
  private val cfg = MiniBern.Config()

  private def logitsFor(token: String): Array[Array[Float]] = {
    val pieces = TokenClassifier.wordpieces(token)
    if (pieces.isEmpty) Array.empty
    else session.predict(Seq(pieces)).head
  }

  test("deterministic: repeated forward passes are bit-identical") {
    val pieces = TokenClassifier.wordpieces("the window shows a vector")
    val a = session.predict(Seq(pieces))
    val b = session.predict(Seq(pieces))
    assert(a.head.flatten.toSeq == b.head.flatten.toSeq)
    // and a freshly-constructed model (as on another executor JVM) agrees
    val fresh = new MiniBern(TokenClassifier.CorpusVocab)
    assert(fresh.predict(Seq(pieces)).head.flatten.toSeq == a.head.flatten.toSeq)
  }

  test("softmax rows sum to 1; heaviside is {0,1} with 0 at exactly 0") {
    val logits = Array(-3.2f, 0.0f, 1.7f, 0.4f, -0.1f)
    val sm = Activations.softmax(logits)
    assert(math.abs(sm.sum - 1.0) < 1e-5)
    assert(sm.indices.maxBy(sm(_)) == logits.indices.maxBy(logits(_)))
    assert(Activations.heaviside(logits).toSeq == Seq(0f, 0f, 1f, 1f, 0f))
  }

  // the whole-frame forward pass: predict's word-run memo would make the
  // next two cases hold by construction (WordMemoSpec pins the memo)
  private val model = TokenClassifier.executorMiniBern

  test("word-local attention: in-context logits equal isolated-word logits") {
    val ctx = TokenClassifier.wordpieces("results window shows")
    val ctxLogits = model.forward(Seq(ctx)).head
    val alone = TokenClassifier.wordpieces("window")
    val aloneLogits = model.forward(Seq(alone)).head
    val windowPieceIdxs = ctx.zipWithIndex.filter(_._1.wordId == 1).map(_._2)
    windowPieceIdxs.zipWithIndex.foreach { case (ci, ai) =>
      assert(ctxLogits(ci).toSeq == aloneLogits(ai).toSeq)
    }
  }

  test("batching: batched frames produce the same logits as one-by-one") {
    val f1 = TokenClassifier.wordpieces("sort the records")
    val f2 = TokenClassifier.wordpieces("a vector arrived")
    val batched = model.forward(Seq(f1, f2))
    assert(batched(0).flatten.toSeq == model.forward(Seq(f1)).head.flatten.toSeq)
    assert(batched(1).flatten.toSeq == model.forward(Seq(f2)).head.flatten.toSeq)
  }

  test("separation margin: vocab words hit cosine 1.0, all other corpus and " +
    "golden tokens stay below threshold with margin") {
    import spark.implicits._
    val corpusTokens = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .flatMap { dir =>
        spark.read.parquet(s"$dir/documents.parquet")
          .select($"text").as[String].collect()
          .flatMap(_.split("\\s+").toSeq)
      }
    val goldenTokens = GoldenCorpus.tokens()
    val distinct = (corpusTokens ++ goldenTokens)
      .map(_.toLowerCase(java.util.Locale.ROOT)).distinct.filter(_.nonEmpty)
    assert(distinct.size > 200, s"token inventory too small: ${distinct.size}")

    var worst = ("", Float.NegativeInfinity)
    distinct.foreach { tok =>
      val ls = logitsFor(tok)
      val maxLabelLogit = if (ls.isEmpty) Float.NegativeInfinity else ls.flatMap(_.drop(1)).max
      if (TokenClassifier.CorpusVocab.contains(tok)) {
        // prototype construction ⇒ exact cosine 1.0 ⇒ logit = scale·(1−τ)
        assert(math.abs(maxLabelLogit - cfg.scale * (1 - cfg.threshold)) < 1e-4,
          s"vocab word $tok logit $maxLabelLogit")
      } else if (maxLabelLogit > worst._2) worst = (tok, maxLabelLogit)
    }
    val worstCos = worst._2 / cfg.scale + cfg.threshold
    info(f"closest non-vocab token: '${worst._1}' cosine $worstCos%.4f vs threshold ${cfg.threshold}")
    assert(worstCos < cfg.threshold - 0.03,
      s"margin too small: '${worst._1}' at cosine $worstCos")
  }

  test("tinybern-style golden TSV: word-level BIO labels match the model") {
    val sentences = GoldenCorpus.sentences()
    assert(sentences.size >= 30)

    sentences.foreach { sent =>
      val words = sent.map(_._1)
      val text = words.mkString(" ")
      val mentions = TokenClassifier.processText(session, text)
      // char ranges of each TSV word in the joined text
      var off = 0
      val got = sent.map { case (w, _) =>
        val s = off; val e = off + w.length
        off = e + 1
        val b = mentions.find(m => m.entityClass.nonEmpty && m.start == s)
        val i = mentions.find(m => m.start <= s && e <= m.end)
        if (b.isDefined) "B-" + b.get.entityClass
        else if (i.isDefined) "I-" + i.get.entityClass
        else "O"
      }
      assert(got == sent.map(_._2),
        s"sentence '$text'\n  expected ${sent.map(_._2)}\n  got      $got")
    }
  }

  test("multilabel heaviside path: parallel class spans start/extend/close") {
    // inject word-level activated confidences directly (the model itself is
    // single-label by construction; the decode path must still implement
    // the reference MultilabelSpanFinder semantics exactly)
    def word(wid: Int, s: Int, e: Int, conf: Array[Float]) =
      Word(IndexedSeq(TokenClassifier.Piece(0, "x", s, e, wid)),
        IndexedSeq(conf), s, e, wid)
    // labels: O, B-operator, I-operator, B-component, I-component
    val opAndComp = Array(0f, 1f, 0f, 1f, 0f)
    val compOnly = Array(0f, 0f, 0f, 0f, 1f)
    val none = Array(1f, 0f, 0f, 0f, 0f)
    val text = "aa bb cc"
    val words = IndexedSeq(
      word(0, 0, 2, opAndComp), // starts operator + component
      word(1, 3, 5, compOnly),  // operator closes, component extends
      word(2, 6, 8, none))      // component closes
    val spans = TokenClassifier.findSpansMultilabel(text, words)
    val byClass = spans.groupBy(_.clazz)
    assert(byClass("operator").head.words.map(_.charStart) == Seq(0))
    assert(byClass("component").head.words.map(_.charStart) == Seq(0, 3))

    // span-breaking char: word not appended, but span stays active (ref
    // MultilabelSpanFinder.process_next_word — close only on label change)
    val text2 = "aa (bb cc"
    val words2 = IndexedSeq(
      word(0, 0, 2, compOnly),
      word(1, 4, 6, compOnly), // preceded by '(' → not appended
      word(2, 7, 9, compOnly)) // appended again
    val spans2 = TokenClassifier.findSpansMultilabel(text2, words2)
    assert(spans2.size == 1)
    assert(spans2.head.words.map(_.charStart) == Seq(0, 7))

    // end-to-end: processText with useMultilabel produces class-level spans
    val ments = TokenClassifier.processText(session, "the window is big", useMultilabel = true)
    assert(ments.map(m => (m.matchStr, m.entityClass)) == Seq(("window", "operator")))
  }

  test("property: long multi-frame texts — model mentions equal the " +
    "regex-derived vocabulary occurrences (stitching never drops or " +
    "fabricates at frame boundaries)") {
    val rnd = new scala.util.Random(4242)
    val filler = Vector("alpha", "bravo", "charlie", "delta", "echofox",
      "golf", "hotel", "india", "juliet", "kilowatt", "lima", "papa")
    val vocabWords = TokenClassifier.CorpusVocab.keys.toVector
    (0 until 20).foreach { _ =>
      val nWords = 150 + rnd.nextInt(400) // several frames
      val words = (0 until nWords).map { _ =>
        if (rnd.nextInt(12) == 0) vocabWords(rnd.nextInt(vocabWords.size))
        else filler(rnd.nextInt(filler.size))
      }
      val text = words.mkString(" ")
      val mentions = TokenClassifier.processText(session, text)
      // expected coverage from an independent word-level simulation of the
      // SimpleSpanFinder semantics (already fixture-pinned by 400
      // reference-executed BIO cases): an O word closes spans; a vocab
      // word starts a span only when none is active; same-class extends
      // (copy-on-new-B); a DIFFERENT-class B while a span is active is
      // dropped without starting (the reference quirk, :96-126). What this
      // test pins is everything else: frame stitching, word-local
      // determinism, and offsets over multi-frame texts.
      val starts = words.scanLeft(0)((off, w) => off + w.length + 1)
      val active = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      def closeAll(): Unit = {
        active.foreach { case (_, s, e) => spans += ((s, e)) }
        active.clear()
      }
      words.zipWithIndex.foreach { case (w, i) =>
        val s = starts(i); val e = s + w.length
        TokenClassifier.CorpusVocab.get(w) match {
          case None => closeAll()
          case Some(cls) =>
            if (active.isEmpty) active += ((cls, s, e))
            else active.indices.foreach { ai =>
              val (c, as, _) = active(ai)
              if (c == cls) { spans += ((as, active(ai)._3)); active(ai) = (c, as, e) }
            }
        }
      }
      closeAll()
      val expectedCovered = spans.flatMap { case (s, e) => s until e }.toSet
        .filter(i => !text.charAt(i).isWhitespace)
      val gotCovered = mentions.flatMap(m => m.start until m.end).toSet
        .filter(i => !text.charAt(i).isWhitespace) // merged spans cover joins
      assert(gotCovered == expectedCovered,
        s"coverage mismatch in: ${text.take(120)}...")
      // offsets always index the text exactly
      mentions.foreach(m => assert(text.substring(m.start, m.end) == m.matchStr))
    }
  }

  test("FLOPs accounting: a full frame costs real compute") {
    val perFrame = MiniBern.flops(TokenClassifier.MaxSeqLen - 2)
    assert(perFrame > 10_000_000L, s"per-frame FLOPs $perFrame")
    info(s"FLOPs per full frame: $perFrame")
  }

  test("encoder: trunk-backed, subword-compositional, deterministic") {
    import graft.text.Similarity
    val m = TokenClassifier.executorMiniBern
    def cos(a: String, b: String) = Similarity.cosine(m.encode(a), m.encode(b))
    // exact strings encode identically (and the embedder memo returns the
    // same array the session computes)
    assert(cos("influenza", "influenza") > 0.99999)
    assert(java.util.Arrays.equals(graft.ner.MiniBernEmbedder.embed("measles"),
      m.encode("measles")))
    // morphological variants share pieces and land nearby — the geometry
    // the E6 embedding-confirmation threshold (0.60) relies on
    assert(cos("influenza", "influenzza") >= 0.60,
      s"morph sim ${cos("influenza", "influenzza")}")
    // unrelated words stay well below the confirmation threshold
    assert(cos("influenza", "mumps") < 0.45,
      s"unrelated sim ${cos("influenza", "mumps")}")
    // multi-word strings: shared words dominate similarity
    assert(cos("breast cancer", "breast cancers") >
      cos("breast cancer", "insulin"))
  }

  test("VectorGemm is BIT-identical to the scalar gemm reference (r8 fuzz)") {
    // the SIMD port must reproduce the scalar loop's exact float op order
    // (left association, mul+add, no FMA) — a single ULP of drift here
    // would ripple through every transformer-derived oracle row. Reference
    // reimplemented independently; shapes cover k%4 and m%laneWidth tails.
    assume(graft.ner.VectorGemm.AVAILABLE)
    def ref(a: Array[Float], n: Int, k: Int, b: Array[Float], m: Int): Array[Float] = {
      val c = new Array[Float](n * m)
      // grouped-by-4 reference, matching MiniBern's unrolled scalar loop
      // (identical association: 4 p-terms left-associated per update)
      for (i <- 0 until n) {
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
      }
      c
    }
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 40) {
      val n = rnd.nextInt(9) + 1
      val k = rnd.nextInt(70) + 1   // exercises the p-tail (k % 4 != 0)
      val m = rnd.nextInt(70) + 1   // exercises the j-tail (m % lanes != 0)
      val a = Array.fill(n * k)(rnd.nextFloat() - 0.5f)
      val b = Array.fill(k * m)(rnd.nextFloat() - 0.5f)
      val cs = ref(a, n, k, b, m)
      val cv = graft.ner.VectorGemm.gemm(a, n, k, b, m)
      cs.indices.foreach { i =>
        assert(java.lang.Float.floatToRawIntBits(cs(i)) ==
          java.lang.Float.floatToRawIntBits(cv(i)),
          s"bit drift at $i for n=$n k=$k m=$m: ${cs(i)} vs ${cv(i)}")
      }
    }
  }
}

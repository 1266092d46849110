package graft.ner

import graft.model._
import graft.text.{Normalizer, Tokenizer}

/** Transformer token-classification NER plumbing (ref
  * TransformersModelForTokenClassificationNerStep,
  * kazu/steps/ner/hf_token_classification.py:64-352 + TokenizedWordProcessor
  * kazu/steps/ner/tokenized_word_processor.py:16-433).
  *
  * All the Spark-side and sequence-processing machinery is real — wordpiece
  * tokenization with offsets, sliding-window framing (max_seq 128 / stride
  * 16 / batch 4, ref conf defaults), half-stride frame stitching, word
  * reassembly, BIO span decoding, per-class suffix stripping — executed in
  * `mapPartitions` with an executor-pinned model session. The forward pass
  * is [[MiniBern]]: a from-scratch pure-JVM transformer encoder (batched
  * GEMMs, multi-head attention, GELU FFN, layer norms) with embedded
  * deterministic weights — real inference FLOPs per frame, standing in for
  * the TinyBERN2 ONNX session that the zero-egress container cannot host.
  * Swapping in an exported model touches ONLY [[ModelSession]]. A
  * contextual model (frame-wide attention, as in a trained TinyBERN2) must
  * not inherit MiniBern's word-run memo: its logits for a word depend on
  * the rest of the frame.
  */
object TokenClassifier {

  val Namespace = "TransformerNer"
  val MaxSeqLen = 128 // ref conf/TransformersModelForTokenClassificationNerStep/default.yaml:5
  val Stride = 16     // :4
  val BatchSize = 4   // :3

  val Labels: IndexedSeq[String] = IndexedSeq(
    "O", "B-operator", "I-operator", "B-component", "I-component")

  // --- wordpiece-ish tokenizer with char offsets --------------------------

  final case class Piece(tokenId: Int, token: String, start: Int, end: Int, wordId: Int)

  /** Greedy fixed-size wordpiece split (stand-in for the HF tokenizer; same
    * output contract: subword pieces with char offsets + word ids). */
  def wordpieces(text: String): IndexedSeq[Piece] = {
    val words = Tokenizer.tokenize(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[Piece]
    var wid = 0
    words.foreach { w =>
      val wtext = text.substring(w.start, w.end)
      var off = 0
      var first = true
      while (off < wtext.length) {
        val len = math.min(4, wtext.length - off)
        val pieceText = (if (first) "" else "##") + wtext.substring(off, off + len)
        out += Piece(pieceText.hashCode, pieceText, w.start + off,
          w.start + off + len, wid)
        off += len
        first = false
      }
      wid += 1
    }
    out.toIndexedSeq
  }

  // --- model session (executor-pinned) ------------------------------------

  trait ModelSession extends Serializable {
    /** logits(frame)(tokenIdx)(labelIdx) for a batch of frames (padded). */
    def predict(frames: Seq[IndexedSeq[Piece]]): Array[Array[Array[Float]]]
    def version: String
  }

  /** The model's recognized vocabulary over the synthetic corpus: overlaps
    * the gazetteer on some terms (exercising overlap merge) and adds terms
    * the trie does not know (exercising the dictionary-linking path D1/D2).
    * These words become the [[MiniBern]] prototype head; MiniBernSpec
    * asserts the trained separation margin over the whole corpus vocabulary,
    * so tagging behavior is exactly: these words and nothing else. */
  val CorpusVocab: Map[String, String] = Map(
    "window" -> "operator",
    "sort" -> "operator",
    "vector" -> "component",
    "stream" -> "component",
    "customer" -> "component" // not in gazetteer → needs fuzzy linking
  )

  private object SessionHolder {
    // lazy singleton per executor JVM (ref: per-Ray-worker model copy,
    // amortized per JVM here); weights are deterministic, so every executor
    // materializes the identical model. The int8 variant is a SEPARATE
    // pinned singleton (distinct model identity, see MiniBern.version) —
    // a job that flips the quantization flag must never reuse float state.
    lazy val session: MiniBern = new MiniBern(CorpusVocab)
    lazy val int8Session: MiniBern =
      new MiniBern(CorpusVocab, MiniBern.Config(int8 = true))
  }
  def executorSession: ModelSession = SessionHolder.session
  /** The executor-pinned session for a given quantization choice — the
    * product route to the reference's opt-in int8 plane
    * (kazu/quantization/, enabled via pipeline config there; via
    * [[graft.pipeline.Pipeline.Config.int8Transformer]] here). */
  def executorSession(int8: Boolean): ModelSession =
    if (int8) SessionHolder.int8Session else SessionHolder.session
  /** The same executor-pinned model, typed for its encoder surface (the
    * D3/D4 embedding slot shares the NER trunk + weight memo). */
  def executorMiniBern: MiniBern = SessionHolder.session

  // --- activations (ref hf_token_classification.py:326-352) ----------------

  object Activations {
    /** get_single_label_activations: softmax over the label axis. */
    def softmax(logits: Array[Float]): Array[Float] = {
      var max = Float.NegativeInfinity
      logits.foreach(l => if (l > max) max = l)
      val out = new Array[Float](logits.length)
      var z = 0.0
      var i = 0
      while (i < logits.length) {
        out(i) = math.exp((logits(i) - max).toDouble).toFloat; z += out(i); i += 1
      }
      i = 0
      while (i < logits.length) { out(i) = (out(i) / z).toFloat; i += 1 }
      out
    }

    /** get_multilabel_activations: heaviside(logits, 0) as 0/1 ints
      * (torch.heaviside with values=[0.0] maps x==0 → 0). */
    def heaviside(logits: Array[Float]): Array[Float] =
      logits.map(l => if (l > 0f) 1f else 0f)
  }

  // --- framing + stitching -------------------------------------------------

  final case class Word(
      pieces: IndexedSeq[Piece],
      logits: IndexedSeq[Array[Float]],
      charStart: Int,
      charEnd: Int, // inclusive of last char? ref uses end offset; we keep exclusive
      wordId: Int
  )

  /** Slice pieces into overlapping frames of (MaxSeqLen - 2) content tokens
    * with `Stride` token overlap (the [CLS]/[SEP] slots are accounted for,
    * not materialized). */
  def frames(pieces: IndexedSeq[Piece]): Seq[IndexedSeq[Piece]] = {
    val content = MaxSeqLen - 2
    if (pieces.length <= content) Seq(pieces)
    else {
      val step = content - Stride
      val out = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Piece]]
      var start = 0
      while (start < pieces.length) {
        out += pieces.slice(start, math.min(start + content, pieces.length))
        if (start + content >= pieces.length) start = pieces.length
        else start += step
      }
      out.toSeq
    }
  }

  /** Stitch frames back into words, dropping half-stride margins
    * (ref frame_to_tok_word, hf_token_classification.py:184-277). */
  def stitchToWords(
      frameList: Seq[IndexedSeq[Piece]],
      logits: Array[Array[Array[Float]]]
  ): IndexedSeq[Word] = {
    val halfStride = Stride / 2
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Piece, Array[Float])]
    val n = frameList.size
    frameList.zipWithIndex.foreach { case (frame, fi) =>
      val startIdx =
        if (n == 1 || fi == 0) 0 else halfStride
      val endIdx =
        if (n == 1 || fi == n - 1) frame.length else frame.length - halfStride
      var i = startIdx
      while (i < endIdx) {
        kept += ((frame(i), logits(fi)(i)))
        i += 1
      }
    }
    // dedup overlapping piece ranges (keep first occurrence per char start)
    val seen = scala.collection.mutable.Set.empty[Int]
    val uniq = kept.filter { case (p, _) => seen.add(p.start) }
    // group consecutive pieces by word id
    val out = scala.collection.mutable.ArrayBuffer.empty[Word]
    var buf = scala.collection.mutable.ArrayBuffer.empty[(Piece, Array[Float])]
    def flush(): Unit = if (buf.nonEmpty) {
      val ps = buf.map(_._1).toIndexedSeq
      out += Word(ps, buf.map(_._2).toIndexedSeq,
        ps.head.start, ps.last.end, ps.head.wordId)
      buf = scala.collection.mutable.ArrayBuffer.empty
    }
    uniq.foreach { case (p, l) =>
      if (buf.nonEmpty && buf.last._1.wordId != p.wordId) flush()
      buf += ((p, l))
    }
    flush()
    out.toIndexedSeq
  }

  // --- BIO decode (SimpleSpanFinder port, tokenized_word_processor.py) ----

  val SpanBreakingChars: Set[Char] = Set('(', ')', ';')

  /** Per-class suffix strip regexes (ref conf yaml:33-34 gene example). */
  val StripRe: Map[String, scala.util.matching.Regex] = Map(
    "gene" -> "( (gene|protein)s?)+$".r
  )

  final case class TokSpan(clazz: String, words: Seq[Word])

  def bioLabels(word: Word): Set[(String, Option[String])] =
    word.logits.map { l =>
      val best = Labels(l.indices.maxBy(l(_)))
      if (best == "O") ("O", None)
      else {
        val Array(bio, cls) = best.split("-", 2)
        (bio, Some(cls))
      }
    }.toSet

  def findSpans(text: String, words: IndexedSeq[Word]): Seq[TokSpan] = {
    val active = scala.collection.mutable.ArrayBuffer.empty[(String, scala.collection.mutable.ArrayBuffer[Word])]
    val closed = scala.collection.mutable.ArrayBuffer.empty[TokSpan]
    var any = false
    def closeAll(): Unit = {
      active.foreach { case (c, ws) =>
        if (ws.nonEmpty) closed += TokSpan(c, ws.toSeq)
      }
      active.clear()
    }
    def startSpans(labels: Set[(String, Option[String])], w: Word): Unit =
      labels.foreach {
        case ("B", Some(c)) =>
          active += ((c, scala.collection.mutable.ArrayBuffer(w)))
        case _ =>
      }
    words.foreach { w =>
      val labels = bioLabels(w)
      val continueOk = {
        val classes = labels.map(_._2)
        !(classes.contains(None) ||
          (w.charStart > 0 && SpanBreakingChars.contains(text.charAt(w.charStart - 1))))
      }
      if (!any || active.isEmpty) startSpans(labels, w)
      else if (continueOk) {
        active.foreach { case (c, ws) =>
          // B entries first so the copy-on-new-B snapshot precedes any
          // append of the current word (ref :106-126; the reference
          // iterates a set — B-first makes the order deterministic)
          labels.toSeq.sortBy(_._1).foreach { case (bio, cls) =>
            if (bio == "B" && cls.contains(c))
              closed += TokSpan(c, ws.toSeq) // copy-on-new-B
            if (cls.contains(c)) ws += w
          }
        }
      } else {
        closeAll()
        startSpans(labels, w)
      }
      any = true
    }
    closeAll()
    closed.toSeq
  }

  /** spans → Mentions with trailing-space fix + suffix strip
    * (ref spans_to_entities, tokenized_word_processor.py:368-433). */
  def spansToMentions(spans: Seq[TokSpan], text: String): Seq[Mention] =
    spans.map { span =>
      val start = span.words.map(_.charStart).min
      var end = span.words.map(_.charEnd).max
      var matchStr = text.substring(start, math.min(end, text.length))
      if (matchStr.length > 1 && matchStr.last == ' ' && matchStr.exists(_.isLetter)) {
        end -= 1
        matchStr = text.substring(start, end)
      }
      StripRe.get(span.clazz).foreach { re =>
        matchStr = re.replaceAllIn(matchStr, "")
        end = start + matchStr.length
      }
      Mention(
        matchStr = matchStr,
        entityClass = span.clazz,
        spans = Seq(CharSpan(start, end)),
        namespace = Namespace,
        mentionConfidence = MentionConfidence.Probable,
        matchNorm = Normalizer.normalize(matchStr, span.clazz))
    }

  // --- multilabel span finding (ref MultilabelSpanFinder,
  // tokenized_word_processor.py:215-317): labels are class-level, a word
  // carries every class whose heaviside-activated confidence is 1 anywhere
  // in the word; spans per class start/extend/close independently ----------

  /** Class labels active on a word under multilabel activations: any piece
    * with confidence > 0 for a non-O label contributes that label's class
    * (ref get_class_labels, :270-281). */
  def multilabelClasses(word: Word): Set[String] =
    (for {
      conf <- word.logits.iterator
      li <- conf.indices.iterator
      if li > 0 && conf(li) > 0f
    } yield Labels(li).split("-", 2)(1)).toSet

  def findSpansMultilabel(text: String, words: IndexedSeq[Word]): Seq[TokSpan] = {
    val active = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Word]]
    val closed = scala.collection.mutable.ArrayBuffer.empty[TokSpan]
    words.foreach { w =>
      val classes = multilabelClasses(w)
      val newLabels = (classes -- active.keySet).toSeq.sorted
      // labels no longer predicted close their span (ref :309-310)
      (active.keySet.toSet -- classes).toSeq.sorted.foreach { c =>
        closed += TokSpan(c, active.remove(c).get.toSeq)
      }
      // new labels start a span with this word (ref :305-307)
      newLabels.foreach { c =>
        active += c -> scala.collection.mutable.ArrayBuffer(w)
      }
      // continuing labels extend, unless a span-breaking char precedes the
      // word or nothing continues (ref span_continue_condition :283-296,
      // :312-315 — note: on a break char the span stays ACTIVE but the
      // word is not appended, faithful to the reference)
      val continuing = (classes & active.keySet.toSet) -- newLabels
      val continueOk = continuing.nonEmpty &&
        !(w.charStart > 0 && SpanBreakingChars.contains(text.charAt(w.charStart - 1)))
      if (continueOk)
        continuing.toSeq.sorted.foreach(c => active(c) += w)
    }
    active.toSeq.foreach { case (c, ws) => closed += TokSpan(c, ws.toSeq) }
    closed.toSeq
  }

  // --- the stage -----------------------------------------------------------

  /** Run the token-classification NER over one section text.
    *
    * `useMultilabel=false` (default, ref conf): logits → softmax
    * confidences → per-piece argmax → BIO SimpleSpanFinder.
    * `useMultilabel=true`: logits → heaviside 0/1 confidences → class-level
    * MultilabelSpanFinder.
    */
  def processText(
      session: ModelSession,
      text: String,
      useMultilabel: Boolean = false
  ): Seq[Mention] = {
    val pieces = wordpieces(text)
    if (pieces.isEmpty) return Seq.empty
    val fs = frames(pieces)
    // batched forward passes (BatchSize frames per call)
    val logits = fs.grouped(BatchSize).flatMap(b => session.predict(b)).toArray
    val act: Array[Float] => Array[Float] =
      if (useMultilabel) Activations.heaviside else Activations.softmax
    val activated = logits.map(_.map(act))
    val words = stitchToWords(fs, activated)
    val spans =
      if (useMultilabel) findSpansMultilabel(text, words)
      else findSpans(text, words)
    spansToMentions(spans, text)
  }

  def processDoc(session: ModelSession, useMultilabel: Boolean = false)(doc: KDoc): KDoc =
    if (doc.error.isDefined) doc
    else doc.copy(sections = doc.sections.map(s =>
      s.copy(entities = s.entities ++ processText(session, s.text, useMultilabel))))
}

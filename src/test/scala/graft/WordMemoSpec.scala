package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ner.{MiniBern, TokenClassifier}
import graft.ner.TokenClassifier.Piece

/** The word-run memo of `MiniBern.predict` is exact: on every batch it
  * returns the raw float bits of the whole-frame forward pass
  * (`MiniBern.forward`), on cold and warm sessions, float and int8, under
  * two threads and across an overflow clear.
  *
  * The texts mix corpus words, their mixed-case forms, out-of-vocabulary
  * words (some over 64 chars, which the memo never stores) and
  * punctuation; many run past one 126-piece frame, so frames cut words at
  * both window edges. One crafted text puts the tail piece of a cut word
  * (`##efgh` at the start of frame 2) beside the whole word `efgh`.
  */
class WordMemoSpec extends AnyFunSuite {

  private val vocab = TokenClassifier.CorpusVocab

  private val corpusWords: Vector[String] =
    (vocab.keys ++ graft.ontology.CorpusOntology.rows.flatMap(_.syn.split(" ")))
      .filter(_.nonEmpty).toVector.distinct.sorted

  private def oov(rnd: scala.util.Random, len: Int): String = {
    val letters = "abcdefghijklmnopqrstuvwxyzäöüσς0123456789"
    Seq.fill(len)(letters(rnd.nextInt(letters.length))).mkString
  }

  private def word(rnd: scala.util.Random): String = rnd.nextInt(20) match {
    case r if r < 11 => corpusWords(rnd.nextInt(corpusWords.size))
    case r if r < 14 =>
      corpusWords(rnd.nextInt(corpusWords.size)).map(c => if (rnd.nextBoolean()) c.toUpper else c)
    case r if r < 18 => oov(rnd, 1 + rnd.nextInt(20))
    case 18 => Seq("(", ")", ";", ",", ".", "-")(rnd.nextInt(6))
    case _ => if (rnd.nextInt(8) == 0) oov(rnd, 65 + rnd.nextInt(40)) else oov(rnd, 5 + rnd.nextInt(12))
  }

  /** ≥ 110 one-piece words, then `abcdefgh` on pieces 109–110 (frame 2
    * starts at piece 110), a word across frame 1's right edge (pieces
    * 125–126), and the whole words `efgh` and `wxyz` after them. */
  private val edgeText: String =
    (Seq.fill(109)("the") ++ Seq("abcdefgh") ++ Seq.fill(14)("a") ++
      Seq("wxyzabcd", "efgh", "wxyz", "EFGH", "sort") ++ Seq.fill(120)("row")).mkString(" ")

  private def texts(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    edgeText +: Seq.fill(n)(Seq.fill(1 + rnd.nextInt(260))(word(rnd)).mkString(" "))
  }

  private def batches(text: String): Seq[Seq[IndexedSeq[Piece]]] = {
    val pieces = TokenClassifier.wordpieces(text)
    if (pieces.isEmpty) Seq.empty
    else TokenClassifier.frames(pieces).grouped(TokenClassifier.BatchSize).toSeq
  }

  private def bits(l: Array[Array[Array[Float]]]): Vector[Vector[Vector[Int]]] =
    l.iterator.map(_.iterator.map(_.iterator.map(java.lang.Float.floatToRawIntBits).toVector).toVector).toVector

  /** Every batch of `ts` through the memo equals the whole-frame forward. */
  private def assertExact(m: MiniBern, ts: Seq[String], what: String): Unit =
    ts.zipWithIndex.foreach { case (t, ti) =>
      batches(t).zipWithIndex.foreach { case (b, bi) =>
        assert(bits(m.predict(b)) == bits(m.forward(b)), s"$what: text $ti batch $bi: ${t.take(80)}")
      }
    }

  test("the edge text cuts a word at each frame edge") {
    val frames = TokenClassifier.frames(TokenClassifier.wordpieces(edgeText))
    assert(frames.size >= 2)
    assert(frames(1).head.token == "##efgh")
    assert(frames(0).last.token == "wxyz" && frames(1)(16).token == "##abcd")
  }

  test("float session: memoized predict equals the whole-frame forward, cold and warm") {
    val m = new MiniBern(vocab)
    val ts = texts(1L, 40)
    assertExact(m, ts, "cold")
    val (hits0, misses0, _) = m.memoStats
    assert(misses0 > 0 && hits0 > 0)
    assertExact(m, ts ++ texts(2L, 20), "warm")
    val (hits1, misses1, held) = m.memoStats
    assert(hits1 > hits0 && held > 0 && held <= MiniBern.MemoRuns)
    info(s"runs: $hits1 hits, $misses1 misses, $held held")
  }

  test("int8 session: exact, and never served the float session's entries") {
    val f = new MiniBern(vocab)
    val q = new MiniBern(vocab, MiniBern.Config(int8 = true))
    val ts = texts(3L, 30)
    assertExact(f, ts, "float warm-up")
    assertExact(q, ts, "int8 cold")
    assertExact(q, ts, "int8 warm")
    assertExact(f, ts, "float after int8")
  }

  test("two threads sharing one session stay exact, also while the memo clears") {
    for (bound <- Seq(MiniBern.MemoRuns, 48)) {
      val m = new MiniBern(vocab, MiniBern.Config(), bound)
      val ts = texts(4L, 30)
      val ref = ts.map(t => batches(t).map(b => bits(m.forward(b))))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = Seq(ts.indices, ts.indices.reverse).zipWithIndex.map { case (order, tid) =>
        new Thread(() =>
          for (_ <- 0 until 3; ti <- order) {
            batches(ts(ti)).zipWithIndex.foreach { case (b, bi) =>
              val got =
                try bits(m.predict(b))
                catch { case e: Throwable => failures.add(s"thread $tid: $e"); Vector.empty }
              if (got != ref(ti)(bi)) failures.add(s"bound $bound thread $tid text $ti batch $bi")
            }
          })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(failures.isEmpty, failures.toString)
      assert(m.memoStats._3 <= bound)
    }
  }

  test("an overflow clear in the middle of a batch keeps the batch exact") {
    val m = new MiniBern(vocab, MiniBern.Config(), 5)
    val text = (corpusWords.take(12) ++ corpusWords.take(12).reverse ++ Seq("efgh", "EFGH")).mkString(" ")
    val b = batches(text)
    assert(b.size == 1)
    val distinct = b.head.flatMap(_.map(_.wordId)).distinct.size
    assert(distinct > 5)
    assert(bits(m.predict(b.head)) == bits(m.forward(b.head)), "cold")
    assert(m.memoStats._3 <= 5)
    assert(bits(m.predict(b.head)) == bits(m.forward(b.head)), "after the clear")
    assert(m.memoStats._1 > 0, "the second call found the runs stored after the last clear")
  }

  test("runs longer than maxWordPieces pieces are exact but not stored") {
    val m = new MiniBern(vocab)
    val long = "x" * (4 * MiniBern.Config().maxWordPieces + 1)
    val b = batches(s"sort $long")
    assert(bits(m.predict(b.head)) == bits(m.forward(b.head)))
    assert(m.memoStats._3 == 1, "only `sort` is stored")
    assert(bits(m.predict(b.head)) == bits(m.forward(b.head)))
    assert(m.memoStats._2 == 3, "the long run went through the forward pass again")
  }
}

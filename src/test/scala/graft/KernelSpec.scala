package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.CharSpan
import graft.text.{Html, Similarity, Tokenizer}
import graft.index.AhoCorasick

class TokenizerSpec extends AnyFunSuite {
  test("tokens: words, punctuation, hyphen joining, digit dots") {
    def toks(s: String): Seq[String] =
      Tokenizer.tokenize(s).map(t => s.substring(t.start, t.end)).toSeq
    assert(toks("EGFR is (mutated).") == Seq("EGFR", "is", "(", "mutated", ")", "."))
    assert(toks("ALK-Abello rocks") == Seq("ALK-Abello", "rocks"))
    assert(toks("pH 3.5 rising") == Seq("pH", "3.5", "rising"))
    assert(toks("a--b") == Seq("a", "-", "-", "b"))
    assert(toks("end.") == Seq("end", "."))
  }

  test("boundaries drive wordIsValid like the reference") {
    val text = "(EGFR) and EGFRx"
    val (starts, ends) = Tokenizer.boundaries(text)
    // "EGFR" inside parens: valid
    assert(Tokenizer.wordIsValid(1, 4, starts, ends))
    // "EGFR" inside "EGFRx": start valid, end not
    assert(!Tokenizer.wordIsValid(11, 14, starts, ends))
  }

  test("sentence splitting") {
    val s = Tokenizer.sentenceSpans("First one. Second two! Third")
    assert(s == Seq(CharSpan(0, 10), CharSpan(11, 22), CharSpan(23, 28)))
  }
}

class HtmlSpec extends AnyFunSuite {
  test("wrap/extract round-trips arbitrary text byte-identically") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab <>&;#x01 \u00e9\u4e2d\u03b2\"'\n\t&amp;&#65;</p><script>"
    (0 until 500).foreach { _ =>
      val s = (0 until rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val cleaned = s.filterNot(c => Character.isISOControl(c) && c != '\n' && c != '\t')
      assert(Html.extract(Html.wrap("t", cleaned)) == cleaned, s"roundtrip failed for: $cleaned")
    }
    assert(Html.extract(Html.wrap("t", "a < b & c > d")) == "a < b & c > d")
  }

  test("boilerplate stripping on foreign html") {
    val html = """<html><head><title>T</title><script>var x=1;</script></head>
<body><style>p{}</style><p>Hello &amp; goodbye</p><!-- note --></body></html>"""
    assert(Html.extract(html) == "Hello & goodbye")
  }

  test("length-changing case folds (Turkish dotted I) do not corrupt offsets") {
    // U+0130 lowercases to TWO chars ("i" + combining dot): the old
    // lowered-copy index search shifted every span by one per occurrence
    // and threw StringIndexOutOfBounds past the end (a Spark task abort)
    val payload = "\u0130stanbul \u0130\u0130\u0130\u0130\u0130\u0130\u0130\u0130\u0130x"
    assert(Html.extract(s"<body>$payload</body>") == payload)
    assert(Html.extract(s"<BODY><P>$payload</P></BODY>") == payload)
    assert(Html.extract(
      s"<body><script>var a;</script>$payload<!-- \u0130 --></body>") == payload)
  }
}

class AhoCorasickSpec extends AnyFunSuite {
  test("finds all occurrences incl. overlapping, vs naive scan") {
    val keys = Array("he", "she", "his", "hers", "s")
    val trie = AhoCorasick.build(keys)
    val text = "ushers she his"
    val got = trie.findAll(text).map { case (e, k) => (e - keys(k).length + 1, keys(k)) }.toSet
    val expected = (for {
      k <- keys.toSeq
      i <- 0 to text.length - k.length
      if text.regionMatches(i, k, 0, k.length)
    } yield (i, k)).toSet
    assert(got == expected)
  }

  test("property: matches equal naive search for random inputs") {
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val keys = (0 until 1 + rnd.nextInt(8)).map(_ =>
        (0 until 1 + rnd.nextInt(4)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
        .distinct.toArray
      val text = (0 until 60).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      val trie = AhoCorasick.build(keys)
      val got = trie.findAll(text)
        .map { case (e, k) => (e - keys(k).length + 1, keys(k)) }.toSet
      val expected = (for {
        k <- keys.toSeq
        i <- 0 to text.length - k.length
        if text.regionMatches(i, k, 0, k.length)
      } yield (i, k)).toSet
      assert(got == expected, s"keys=${keys.mkString(",")} text=$text")
    }
  }

  test("build gives the arrays of the sorted-map-per-node reference build") {
    import graft.index.AhoCorasickReference
    // shared prefixes over a small alphabet, one-char keys and non-BMP
    // characters (two chars each); given order and sorted order, and a
    // repeated key (the last index wins in both)
    val alphabet = Vector("a", "b", "c", "é", "中", "😀", "𐐷", " ")
    def same(keys: Array[String]): Unit = {
      val got = AhoCorasickReference.arrays(AhoCorasick.build(keys))
      val want = AhoCorasickReference.arrays(AhoCorasickReference.build(keys))
      assert(got.lazyZip(want).forall(java.util.Objects.deepEquals),
        s"keys=${keys.mkString("|")}")
    }
    for (seed <- 1 to 60) {
      val rnd = new scala.util.Random(seed)
      val keys = (0 until 1 + rnd.nextInt(40)).map(_ =>
        Seq.fill(1 + rnd.nextInt(if (seed % 3 == 0) 2 else 7))(
          alphabet(rnd.nextInt(alphabet.size))).mkString).distinct.toArray
      same(keys)
      same(keys.sorted)
    }
    same(Array("a", "b", "ab", "a"))
    same(Array("😀", "\ud83d", "x😀y", "é"))
    same(graft.TfIdfScaleProbe.synonyms(7L, 2000).map(_.toLowerCase(java.util.Locale.ROOT)))
  }
}

class SimilaritySpec extends AnyFunSuite {
  test("NumberMatch: multiset equality of integers") {
    assert(Similarity.NumberMatch.matches("MAPK8", "MAP K 8"))
    assert(!Similarity.NumberMatch.matches("MAPK8", "MAPK9"))
    assert(!Similarity.NumberMatch.matches("IL2 IL2", "IL2"))
    assert(Similarity.NumberMatch.matches("no numbers", "none here"))
  }

  test("EntitySubtype: TYPE n containment") {
    assert(Similarity.EntitySubtype.matches("DIABETES", "DIABETES TYPE 2"))
    assert(Similarity.EntitySubtype.matches("DIABETES TYPE 2", "DIABETES TYPE 2"))
    assert(!Similarity.EntitySubtype.matches("DIABETES TYPE 2", "DIABETES"))
    // boundary: TYPE II must not extract as the phrase "TYPE I" (which made
    // distinct roman-numeral subtypes mutually compatible), and an embedded
    // "...TYPE n" (PROTOTYPE 2) is not a subtype phrase
    assert(!Similarity.EntitySubtype.matches("DIABETES TYPE I", "DIABETES TYPE II"))
    assert(!Similarity.EntitySubtype.matches("X TYPE 23", "X TYPE 2"))
    assert(Similarity.EntitySubtype.matches("X TYPE II", "Y TYPE II"))
    assert(Similarity.EntitySubtype.matches("PROTOTYPE 2", "ANYTHING"))
    // un-normalized subtractive/V/X numerals: the scorer canonicalizes
    // through the reference normalizer's substitution pass, so distinct
    // roman subtypes are DISTINCT phrases (not mutually-empty ⇒ vacuously
    // compatible), and mixed notations of the SAME subtype agree
    assert(!Similarity.EntitySubtype.matches("DISEASE TYPE IV", "DISEASE TYPE V"))
    assert(!Similarity.EntitySubtype.matches("DISEASE TYPE IX", "DISEASE TYPE XI"))
    assert(Similarity.EntitySubtype.matches("DISEASE TYPE IV", "DISEASE TYPE 4"))
    assert(Similarity.EntitySubtype.matches("DISEASE TYPE V", "DISEASE TYPE 5"))
    assert(!Similarity.EntitySubtype.matches("DISEASE TYPE I", "DISEASE TYPE IV"))
  }

  test("ratio behaves like an indel similarity") {
    assert(Similarity.ratio("abc", "abc") == 100.0)
    assert(Similarity.ratio("abcd", "abce") == 75.0)
    assert(Similarity.ratio("", "") == 100.0)
  }

  test("embedding scorer: identical strings similar, different less so") {
    val s = Similarity.defaultEmbedding
    assert(s.score("breast cancer", "breast cancer") == 1.0)
    assert(s.score("breast cancer", "breast cancers") >
      s.score("breast cancer", "insulin"))
  }

  test("E13 oracle assumption: FILTERX decisively nearer 'filter' than 'sort'") {
    // the kg_embed_default_label driver oracle plants FILTERX as an
    // ambiguous synonym of {OP:FILTER}, {OP:SORT} and asserts
    // PreferNearestEmbeddingToDefaultLabel resolves it to OP:FILTER; this
    // pins the embedding-geometry margin that derivation rests on
    val s = Similarity.defaultEmbedding
    val toFilter = s.score("FILTERX", "filter")
    val toSort = s.score("FILTERX", "sort")
    assert(toFilter >= 0.5, s"score(FILTERX, filter) = $toFilter")
    assert(toFilter - toSort >= 0.3,
      s"margin collapsed: filter=$toFilter sort=$toSort")
  }
}

/** Cross-validation of the char-bigram tf-idf index against an independent
  * numpy implementation of the sklearn formulae (the reference fits
  * sklearn's TfidfVectorizer, link_index.py:123-139). */
class TfIdfCrossCheckSpec extends AnyFunSuite {
  test("search scores match the numpy implementation to 1e-6") {
    implicit val codec: scala.io.Codec = scala.io.Codec.UTF8
    val src = scala.io.Source.fromResource("tfidf_scores.tsv")
    val lines = try src.getLines().toList finally src.close()
    val syns = lines.head.split("\t")(1).split(";").toSeq
    val index = graft.index.SynonymTfIdfIndex.fit(syns)
    var bad = List.empty[String]
    lines.tail.foreach { line =>
      val parts = line.split("\t", -1)
      val q = parts(0)
      val expected =
        if (parts(1).isEmpty) Seq.empty
        else parts(1).split(";").toSeq.map { e =>
          val Array(s, sc) = e.split("\\|"); (s, sc.toDouble)
        }
      val got = index.search(q, 5)
      if (got.map(_._1) != expected.map(_._1))
        bad ::= s"$q: order ${got.map(_._1)} vs ${expected.map(_._1)}"
      else got.zip(expected).foreach { case ((_, g), (_, e)) =>
        if (math.abs(g - e) > 1e-6) bad ::= s"$q: score $g vs $e"
      }
    }
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }
}

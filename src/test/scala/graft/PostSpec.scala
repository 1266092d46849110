package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.post.{Abbreviation, Cleanup, MergeOverlaps}

class MergeOverlapsSpec extends AnyFunSuite {
  private def ent(start: Int, end: Int, cls: String, conf: Int = 50,
      mapped: Boolean = false, ns: String = "t"): Mention =
    Mention(s"m$start-$end", cls, Seq(CharSpan(start, end)), ns, conf, "NORM",
      mappings = if (mapped)
        Seq(Mapping("l", "S", "P", "X", "s", "HIGHLY_LIKELY", None, None))
      else Seq.empty)

  private def merge(ents: Mention*): Seq[Mention] =
    MergeOverlaps.processSection(MergeOverlaps.Config(),
      Section("s", "x" * 100, ents.toSeq)).entities

  test("nested entities: longest span wins when mappings equal") {
    val kept = merge(ent(0, 10, "gene"), ent(0, 4, "gene"))
    assert(kept.map(_.spans.head) == Seq(CharSpan(0, 10)))
  }

  test("mapped entity beats longer unmapped entity") {
    val kept = merge(ent(0, 10, "gene"), ent(0, 4, "gene", mapped = true))
    assert(kept.map(_.spans.head) == Seq(CharSpan(0, 4)))
  }

  test("class priority breaks ties (disease > gene)") {
    val kept = merge(ent(0, 4, "gene"), ent(0, 4, "disease"))
    assert(kept.map(_.entityClass) == Seq("disease"))
  }

  test("transitively overlapping entities form one location") {
    // A [0,5) overlaps B [3,8); B overlaps C [7,12); A does not overlap C
    val kept = merge(ent(0, 5, "gene"), ent(3, 8, "gene"), ent(7, 12, "gene"))
    assert(kept.size == 1) // one location → one winner
  }

  test("non-overlapping entities all kept; non-contiguous bypass") {
    val nc = Mention("nc", "gene", Seq(CharSpan(0, 2), CharSpan(8, 10)), "t", 50, "NC")
    val kept = merge(ent(0, 4, "gene"), ent(5, 7, "disease"), nc)
    assert(kept.size == 3)
  }

  test("higher mention confidence wins among equals") {
    val kept = merge(ent(0, 4, "gene", conf = 100), ent(0, 4, "gene", conf = 50))
    assert(kept.head.mentionConfidence == 100)
  }

  // Literal port of the reference's five step scenarios
  // (kazu/tests/test_merge_overlapping_ents_step.py:23-318); namespaces
  // mirror the explosion/transformer steps of the originals.
  test("reference case 1: longer span with no mappings is filtered") {
    val ex = ent(0, 8, "drug", mapped = true, ns = "explosion")
    val tr = ent(0, 13, "drug", ns = "transformer")
    assert(merge(ex, tr) == Seq(ex))
  }

  test("reference case 2: shorter span filtered when the longer has a mapping") {
    val ex = ent(0, 8, "drug", mapped = true, ns = "explosion")
    val tr = ent(0, 13, "drug", mapped = true, ns = "transformer")
    assert(merge(ex, tr) == Seq(tr))
  }

  test("reference case 3: equal spans resolve by preferred class (drug > anatomy)") {
    val ex = ent(0, 8, "anatomy", mapped = true, ns = "explosion")
    val tr = ent(0, 8, "drug", mapped = true, ns = "transformer")
    assert(merge(ex, tr) == Seq(tr))
  }

  test("reference case 4: overlapping non-contained spans keep the longest") {
    val ex = ent(0, 8, "anatomy", mapped = true, ns = "explosion")
    val tr = ent(0, 13, "drug", mapped = true, ns = "transformer")
    val tr2 = ent(8, 22, "disease", mapped = true, ns = "transformer")
    assert(merge(ex, tr, tr2) == Seq(tr2))
  }

  test("reference case 5: multiple locations, touching spans stay separate") {
    val ex = ent(0, 8, "anatomy", mapped = true, ns = "explosion")
    val tr = ent(0, 13, "drug", mapped = true, ns = "transformer")
    val tr2 = ent(8, 22, "disease", mapped = true, ns = "transformer")
    val tr3 = ent(23, 34, "disease", mapped = true, ns = "transformer")
    val tr4 = ent(34, 44, "disease", mapped = true, ns = "transformer")
    assert(merge(ex, tr, tr2, tr3, tr4) == Seq(tr2, tr3, tr4))
  }
}

class AbbreviationSpec extends AnyFunSuite {
  private def mention(text: String, s: Int, e: Int, cls: String,
      mapped: Boolean): Mention =
    Mention(text.substring(s, e), cls, Seq(CharSpan(s, e)), "TrieNer", 50, "N",
      mappings = if (mapped)
        Seq(Mapping("nsclc", "MONDO", "DIS_DB", "MONDO:5", "s", "HIGHLY_LIKELY", None, None))
      else Seq.empty)

  test("Schwartz-Hearst core: NSCLC ← non-small cell lung cancer") {
    val long = IndexedSeq("non-small", "cell", "lung", "cancer")
    assert(Abbreviation.findAbbreviation(long, Seq("NSCLC")).contains(0))
    // HMM does not match 'something else'
    assert(Abbreviation.findAbbreviation(IndexedSeq("something", "else"),
      Seq("HMM")).isEmpty)
  }

  test("abbreviation entities propagate from long form across the doc") {
    val text = "non-small cell lung cancer (NSCLC) is common. NSCLC patients respond."
    val longEnt = mention(text, 0, 26, "disease", mapped = true)
    val d = Abbreviation.processDoc(
      KDoc("u", new java.sql.Timestamp(0), text, "en",
        Seq(Section("body", text, Seq(longEnt)))))
    val abbrevEnts = d.entities.filter(_.namespace == Abbreviation.Namespace)
    // both NSCLC occurrences (in parens + later) get entities copied from
    // the long form, carrying its mappings, at HIGHLY_LIKELY confidence
    assert(abbrevEnts.size == 2)
    assert(abbrevEnts.forall(_.entityClass == "disease"))
    assert(abbrevEnts.forall(_.mappings.nonEmpty))
    assert(abbrevEnts.forall(_.mentionConfidence == MentionConfidence.HighlyLikely))
    assert(abbrevEnts.map(_.matchStr).toSet == Set("NSCLC"))
  }

  test("existing entities at abbreviation spans are replaced") {
    val text = "breast cancer (BC) relapsed. BC again."
    val longEnt = mention(text, 0, 13, "disease", mapped = true)
    // a wrong entity sitting exactly on the later "BC"
    val wrong = mention(text, 29, 31, "gene", mapped = false)
    val d = Abbreviation.processDoc(
      KDoc("u", new java.sql.Timestamp(0), text, "en",
        Seq(Section("body", text, Seq(longEnt, wrong)))))
    assert(!d.entities.exists(e => e.entityClass == "gene"))
    assert(d.entities.count(_.namespace == Abbreviation.Namespace) == 2)
  }

  test("no abbreviation when letters don't match") {
    val text = "some phrase (XYZ) here"
    val d = Abbreviation.processDoc(
      KDoc("u", new java.sql.Timestamp(0), text, "en",
        Seq(Section("body", text, Seq.empty))))
    assert(d.entities.isEmpty)
  }

  // Literal port of the reference's step scenarios
  // (kazu/tests/test_abbreviation_finder_step.py:7-81).
  private val ts0 = new java.sql.Timestamp(0)

  test("reference scenario: copy of entity data across sections") {
    val t1 = "Acute Mylenoid Leukaemia (AML) is a form of cancer. AML is treatable."
    val t2 = "AML is a serious disease"
    val ent1 = mention(t1, 0, 24, "disease", mapped = true)
    val ent2 = mention(t1, 26, 29, "gene", mapped = false)
    val ent3 = mention(t2, 0, 3, "gene", mapped = false)
    val d = Abbreviation.processDoc(KDoc("u", ts0, t1 + " " + t2, "en",
      Seq(Section("part1", t1, Seq(ent1, ent2)), Section("part2", t2, Seq(ent3)))))
    assert(d.sections(0).entities.size == 3)
    assert(d.sections(1).entities.size == 1)
    d.entities.foreach { e =>
      assert(Set("AML", "Acute Mylenoid Leukaemia")(e.matchStr))
      assert(e.entityClass == "disease")
    }
  }

  test("reference scenario: removal when the long form has no entities") {
    val t3 = "Auto Mega Liquid (AML) is not form of cancer"
    val t4 = "AML something I just made up"
    val ent4 = mention(t3, 18, 21, "disease", mapped = false)
    val ent5 = mention(t4, 0, 3, "gene", mapped = false)
    val d = Abbreviation.processDoc(KDoc("u", ts0, t3 + " " + t4, "en",
      Seq(Section("part1", t3, Seq(ent4)), Section("part2", t4, Seq(ent5)))))
    assert(d.entities.isEmpty)
  }

  test("reference scenario: exclude_abbrvs keeps existing short-form entities") {
    val t3 = "Auto Mega Liquid (AML) is not form of cancer"
    val t4 = "AML something I just made up"
    val ent4 = mention(t3, 18, 21, "disease", mapped = false)
    val ent5 = mention(t4, 0, 3, "gene", mapped = false)
    val d = Abbreviation.processDoc(KDoc("u", ts0, t3 + " " + t4, "en",
      Seq(Section("part1", t3, Seq(ent4)), Section("part2", t4, Seq(ent5)))),
      excludeAbbrvs = Set("AML"))
    val ents = d.entities
    assert(ents.size == 2)
    assert(ents.forall(_.matchStr == "AML"))
    assert(ents.map(_.entityClass).toSet == Set("disease", "gene"))
  }
}

class CleanupSpec extends AnyFunSuite {
  test("drops AMBIGUOUS mappings and unmapped low-confidence entities") {
    val ambiguous = Mapping("l", "S", "P", "X1", "s", "HIGHLY_LIKELY",
      None, Some(DisambiguationConfidence.Ambiguous))
    val good = Mapping("l", "S", "P", "http://purl.obolibrary.org/obo/MONDO_1",
      "s", "HIGHLY_LIKELY", None, None)
    val e1 = Mention("a", "disease", Seq(CharSpan(0, 1)), "t", 50, "A",
      mappings = Seq(ambiguous, good))
    val e2 = Mention("b", "disease", Seq(CharSpan(2, 3)), "t", 10, "B") // POSSIBLE unmapped
    val e3 = Mention("c", "disease", Seq(CharSpan(4, 5)), "t", 50, "C") // PROBABLE unmapped
    val d = Cleanup.processDoc(Cleanup.Config())(
      KDoc("u", new java.sql.Timestamp(0), "text", "en",
        Seq(Section("s", "text", Seq(e1, e2, e3)))))
    val ents = d.entities
    assert(ents.map(_.matchStr) == Seq("a", "c")) // e2 dropped
    assert(ents.head.mappings.size == 1)          // ambiguous dropped
    assert(ents.head.mappings.head.idx == "MONDO_1") // URI stripped
  }

  test("stripUri follows urlparse path semantics: fragment/query dropped, CURIEs kept") {
    // reference _strip_uri keeps only the PATH's last segment — urlparse
    // separates the fragment and query BEFORE the path split
    assert(Cleanup.stripUri("http://purl.obolibrary.org/obo/MONDO_1") == "MONDO_1")
    assert(Cleanup.stripUri("http://example.org/onto.owl#GO_0005634") == "onto.owl")
    assert(Cleanup.stripUri("http://x/a?q=1") == "a")
    assert(Cleanup.stripUri("http://x/a/b/") == "")  // trailing slash: empty segment
    assert(Cleanup.stripUri("http://example.org") == "") // authority only: empty path
    // documented deviation from the reference's urlparse-on-CURIE behavior:
    // a CURIE prefix is NOT a scheme here, ids pass through unchanged
    assert(Cleanup.stripUri("MONDO:0004979") == "MONDO:0004979")
    assert(Cleanup.stripUri("plain_id") == "plain_id")
  }

  // Literal ports of the reference's cleanup-action scenarios
  // (kazu/tests/test_cleanup.py:188-441) over the composable action plane.
  private val ts0 = new java.sql.Timestamp(0)
  private def mapping(parser: String, idx: String) =
    Mapping("lbl", "SRC", parser, idx, "test", "HIGHLY_LIKELY", None,
      Some("HIGHLY_LIKELY"))
  private def simpleCleanupDoc(): KDoc = {
    val text = "Asthma is in mondo and HSC0054 is a cell line in CLO."
    val asthma = Mention("Asthma", "disease", Seq(CharSpan(0, 6)), "test", 50, "A",
      mappings = Seq(
        mapping("mondo", "http://purl.obolibrary.org/obo/MONDO_0004979"),
        mapping("not_mondo", "http://purl.obolibrary.org/obo/MONDO_0004979")))
    val hsc = Mention("HSC0054", "cell_line", Seq(CharSpan(23, 30)), "test", 50, "H",
      mappings = Seq(
        mapping("clo", "http://purl.obolibrary.org/obo/CLO_0051085"),
        mapping("not_clo", "http://purl.obolibrary.org/obo/CLO_0051085")))
    KDoc("u", ts0, text, "en", Seq(Section("body", text, Seq(asthma, hsc))))
  }

  test("reference: URI stripping scoped to some parsers only") {
    val d = Cleanup.stripMappingUris(Some(Set("mondo", "clo")))(simpleCleanupDoc())
    val Seq(asthma, hsc) = d.entities
    assert(asthma.mappings.map(m => (m.parserName, m.idx)).toSet == Set(
      ("mondo", "MONDO_0004979"),
      ("not_mondo", "http://purl.obolibrary.org/obo/MONDO_0004979")))
    assert(hsc.mappings.map(m => (m.parserName, m.idx)).toSet == Set(
      ("clo", "CLO_0051085"),
      ("not_clo", "http://purl.obolibrary.org/obo/CLO_0051085")))
  }

  test("reference: drop mappings by parser-name rank") {
    val d = Cleanup.dropMappingsByParserNameRank(Map(
      "disease" -> Seq("mondo", "not_mondo"),
      "cell_line" -> Seq("not_clo", "clo")))(simpleCleanupDoc())
    val Seq(asthma, hsc) = d.entities
    assert(asthma.mappings.map(_.parserName) == Seq("mondo"))
    assert(hsc.mappings.map(_.parserName) == Seq("not_clo"))
  }

  test("reference: entity filters (min-len, class-not-matched, match-in-set)") {
    def ent(m: String, cls: String) =
      Mention(m, cls, Seq(CharSpan(0, math.max(1, m.length))), "test", 50, "N")
    val minLen = Cleanup.dropByMinLen(2)
    assert(!minLen(ent("lo", "test")) && minLen(ent("l", "test")))
    val classFilter = Cleanup.dropEntityIfClassNotMatched(Set("required1", "required2"))
    assert(!classFilter(ent("lo", "required1")) && !classFilter(ent("lo", "required2")))
    assert(classFilter(ent("lo", "discard1")) && classFilter(ent("lo", "discard2")))
    val inSet = Cleanup.dropEntityIfMatchInSet(Map(
      "gene" -> Set("abd", "def"), "disease" -> Set("disease1")))
    assert(!inSet(ent("required", "gene")) && !inSet(ent("required2", "disease")) &&
      !inSet(ent("required3", "drug")))
    assert(inSet(ent("abd", "gene")) && inSet(ent("Disease1", "disease")))
  }

  test("reference: cleanup step isolates a failing action to the doc") {
    // action 2 throws on docs carrying a tricky-namespace entity; the other
    // doc is processed normally (match upper-cased via a mapping-preserving
    // transform stand-in: here we drop short sections, then throw on gremlin)
    val dropShortSections: Cleanup.Action =
      d => d.copy(sections = d.sections.filter(_.text.length >= 3))
    val failOnGremlin: Cleanup.Action = d => {
      if (d.entities.exists(_.namespace == "tricky_ent_step"))
        throw new IllegalStateException("fails on ents from tricky_ent_step!")
      d
    }
    val doc1 = KDoc("d1", ts0, "x", "en", Seq(
      Section("doc1_section1", "hi"),
      Section("doc1_section2", "2nd section in doc1")))
    val doc2 = KDoc("d2", ts0, "cursed document with a gremlin entity", "en", Seq(
      Section("body", "cursed document with a gremlin entity", Seq(
        Mention("gremlin", "tricky_entity", Seq(CharSpan(23, 30)),
          "tricky_ent_step", 50, "G")))))
    // the pipeline's failure-isolation wrapper around the cleanup step
    def isolated(actions: Seq[Cleanup.Action]): KDoc => KDoc =
      graft.pipeline.Pipeline.compose(Seq(graft.pipeline.Pipeline.Step("cleanup",
        () => Cleanup.step(actions))))
    val step = isolated(Seq(dropShortSections, failOnGremlin))
    val out1 = step(doc1); val out2 = step(doc2)
    assert(out1.error.isEmpty && out1.sections.size == 1)
    assert(out2.error.exists(_.contains("tricky_ent_step")))
    // rank misconfiguration also routes to the failure row, not a crash
    val bad = isolated(Seq(Cleanup.dropMappingsByParserNameRank(
      Map("disease" -> Seq("only_this")))))(simpleCleanupDoc())
    assert(bad.error.exists(_.contains("no configured rank")))
  }
}

class MultiSectionSpec extends AnyFunSuite {
  test("abbreviations learned in one section apply across ALL sections") {
    val s1 = "breast cancer (BC) was diagnosed."
    val s2 = "Later, BC metastasized."
    val longEnt = Mention("breast cancer", "disease", Seq(CharSpan(0, 13)),
      "TrieNer", 50, "BREAST CANCER",
      mappings = Seq(Mapping("breast cancer", "MONDO", "DIS_DB", "MONDO:1",
        "s", "HIGHLY_LIKELY", None, None)))
    val d = Abbreviation.processDoc(KDoc("u", new java.sql.Timestamp(0),
      s1 + " " + s2, "en", Seq(
        Section("abstract", s1, Seq(longEnt)),
        Section("body", s2))))
    val bodyEnts = d.sections(1).entities
    assert(bodyEnts.size == 1)
    assert(bodyEnts.head.matchStr == "BC")
    assert(bodyEnts.head.mappings.map(_.idx) == Seq("MONDO:1"))
    val abstractAbbrevs = d.sections(0).entities
      .filter(_.namespace == Abbreviation.Namespace)
    assert(abstractAbbrevs.size == 1) // the definition-site BC
  }
}

/** F2 parity: fixtures generated by executing the reference
  * MergeOverlappingEntsStep over 300 random entity layouts (full winner
  * tuples kept tie-free — ties resolve by arbitrary set order in the
  * reference). */
class MergeOverlapsParitySpec extends AnyFunSuite {
  test("sweep-merge matches reference on 300 fuzzed layouts") {
    implicit val codec: scala.io.Codec = scala.io.Codec.UTF8
    val src = scala.io.Source.fromResource("merge_overlap_fuzz.tsv")
    val lines = try src.getLines().toList finally src.close()
    assert(lines.size == 300)
    val cfg = MergeOverlaps.Config(preferredOrder =
      Seq("disease", "drug", "gene", "anatomy", "operator", "component"))
    var bad = List.empty[String]
    lines.foreach { line =>
      val Array(inSpec, outSpec) = line.split("\t", -1)
      val ents = inSpec.split(";").toSeq.map { es =>
        val f = es.split(",")
        Mention(s"m${f(0)}", f(2), Seq(CharSpan(f(0).toInt, f(1).toInt)), "t",
          f(3).toInt, "N",
          mappings = if (f(4) == "1")
            Seq(Mapping("l", "S", "P", "X", "s", "HIGHLY_LIKELY", None, None))
          else Seq.empty)
      }
      val kept = MergeOverlaps.processSection(cfg, Section("s", "x" * 300, ents))
        .entities.map(e => (e.start, e.end, e.entityClass)).sorted
      val expected =
        if (outSpec.isEmpty) Seq.empty
        else outSpec.split(";").toSeq.map { es =>
          val f = es.split(",")
          (f(0).toInt, f(1).toInt, f(2))
        }.sorted
      if (kept != expected)
        bad ::= s"in=$inSpec\n got=$kept\n exp=$expected"
    }
    assert(bad.isEmpty, s"${bad.size} divergences; first 2:\n${bad.take(2).mkString("\n---\n")}")
  }
}

/** F3 parity: fixtures generated by executing the reference CleanupStep with
  * its default-config actions over 300 random entity/mapping layouts. */
class CleanupParitySpec extends AnyFunSuite {
  test("cleanup matches reference on 300 fuzzed layouts") {
    implicit val codec: scala.io.Codec = scala.io.Codec.UTF8
    val src = scala.io.Source.fromResource("cleanup_fuzz.tsv")
    val lines = try src.getLines().toList finally src.close()
    assert(lines.size == 300)
    val cfg = Cleanup.Config(stripUris = false, clearCandidates = false)
    var bad = List.empty[String]
    lines.foreach { line =>
      val parts = line.split("\t", -1)
      val (inStr, outStr) = (parts(0), parts(1))
      val ents = inStr.split("#").toSeq.map { es =>
        val f = es.split(",", -1)
        val mappings =
          if (f(3).isEmpty) Seq.empty
          else f(3).split(";").toSeq.map { ms =>
            val g = ms.split("\\|")
            Mapping("l", "S", "P", g(0), "s", g(1), None,
              if (g(2) == "NONE") None else Some(g(2)))
          }
        Mention(s"m${f(0)}", "c", Seq(CharSpan(f(0).toInt, f(1).toInt)), "ns",
          f(2).toInt, "N", mappings = mappings)
      }
      val d = Cleanup.processDoc(cfg)(KDoc("u", new java.sql.Timestamp(0),
        "y" * 120, "en", Seq(Section("s", "y" * 120, ents))))
      val kept = d.entities.map(e =>
        (e.start, e.mentionConfidence, e.mappings.map(_.idx).sorted.mkString(",")))
        .sorted
      val expected =
        if (outStr.isEmpty) Seq.empty
        else outStr.split("#").toSeq.map { es =>
          val f = es.split(",", -1)
          (f(0).toInt, f(1).toInt, f.drop(2).mkString(","))
        }.sorted
      if (kept != expected) bad ::= s"in=$inStr\n got=$kept\n exp=$expected"
    }
    assert(bad.isEmpty, s"${bad.size} divergences; first 2:\n${bad.take(2).mkString("\n---\n")}")
  }
}

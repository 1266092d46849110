package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{AhoCorasickReference, Resources, ResourcesReference}
import graft.model._
import graft.ner.TrieNer
import graft.ontology._
import graft.text.{Normalizer, Tokenizer}

/** The columnar bundle against the object-graph one it replaced
  * ([[ResourcesReference]]), built from the same rows: every payload,
  * candidate, metadata and default-label lookup, the trie arrays, the
  * trie-NER output, a Java-serialization round trip and concurrent
  * candidate building. */
class ResourcesSpec extends AnyFunSuite {
  import ResourcesSpec._

  private lazy val corpus = (Resources.corpus,
    ResourcesReference.build(CorpusOntology.rows, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords))

  private lazy val synthRows = CorpusOntology.rows ++ ResourcesScaleProbe.rows(11L, 30000)
  private lazy val synth = (
    Resources.build(synthRows, CorpusOntology.entityClassOf, CorpusOntology.CommonWords, "synth"),
    ResourcesReference.build(synthRows, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords, "synth"))

  /** Curated input through `assemble`: metadata extras, and a candidate and
    * a metadata row given twice (the last one wins). */
  private lazy val curated = {
    val (cands, meta) = ResourceBuild.buildCandidates(CorpusOntology.rows)
    val strRes = ResourceBuild.defaultResources(cands, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords)
    val meta2 = meta.zipWithIndex.map { case (m, i) =>
      if (i % 3 == 0) m.copy(extras = Map("annotation_score" -> i.toString, "b" -> "x")) else m
    } :+ meta.head.copy(defaultLabel = "relabelled")
    val cands2 = cands :+ cands.head.copy(aggregatedBy = IdAggregation.ModifiedByCuration)
    val classes = CorpusOntology.rows.map(_.parserName).distinct
      .map(p => p -> CorpusOntology.entityClassOf(p)).toMap
    (Resources.assemble(classes, cands2, meta2, strRes, "curated"),
      ResourcesReference.assemble(classes, cands2, meta2, strRes, "curated"))
  }

  test("every lookup equals the map-based bundle's: corpus ontology") {
    sameLookups(corpus._1, corpus._2)
  }

  test("every lookup equals the map-based bundle's: 30k synthetic synonyms") {
    val (res, ref) = synth
    assert(ref.synonyms.size > 30000 && ref.payloads.exists(_.length > 1) &&
      ref.payloads.exists(_.exists(_.caseSensitive)) &&
      ref.synonyms.values.exists(_.associatedIdSets.size > 1))
    sameLookups(res, ref)
  }

  test("every lookup equals the map-based bundle's: curated extras and repeated rows") {
    val (res, ref) = curated
    val (parser, idx) = ref.metadata.keys.min
    assert(res.defaultLabel(parser, idx) == "relabelled")
    assert(res.candidateAggregatedBy(0) == IdAggregation.ModifiedByCuration)
    sameLookups(res, ref)
  }

  test("trie NER over the columns gives the mentions of the map-based bundle") {
    for ((res, ref) <- Seq(corpus, synth)) {
      val rnd = new scala.util.Random(5)
      val surfaces = ref.payloads.flatMap(_.map(_.originalCase))
      val texts = Seq.fill(300) {
        Seq.fill(1 + rnd.nextInt(6)) {
          val s = surfaces(rnd.nextInt(surfaces.length))
          rnd.nextInt(3) match {
            case 0 => s.toLowerCase(java.util.Locale.ROOT)
            case 1 => s.toUpperCase(java.util.Locale.ROOT)
            case _ => s
          }
        }.mkString(" ", ", ", ".")
      }
      texts.foreach(t => assert(TrieNer.matchText(res, t) == trieReference(ref, t), t))
    }
  }

  test("a Java-serialization round trip gives an equal bundle") {
    for ((res, ref) <- Seq(corpus, synth, curated)) {
      val back = ResourcesScaleProbe.deserialize[Resources](ResourcesScaleProbe.serialize(res))
      assert(back ne res)
      assert(back == res && back.hashCode == res.hashCode)
      sameLookups(back, ref)
    }
    // a different bundle under the same version is not equal: "sort" as a
    // common word changes one payload's confidence only
    val other = Resources.build(CorpusOntology.rows, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords + "sort", Resources.corpus.version)
    assert(other != Resources.corpus)
    assert(Resources.build(CorpusOntology.rows, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords) == Resources.corpus)
  }

  test("two threads building candidates at once get equal, shared values") {
    val (res, ref) = synth
    val fresh = ResourcesScaleProbe.deserialize[Resources](ResourcesScaleProbe.serialize(res))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val go = new java.util.concurrent.CountDownLatch(1)
      val tasks = Seq(0, 1).map(t => pool.submit(() => {
        go.await()
        val order = if (t == 0) 0 until fresh.candidateCount
          else (0 until fresh.candidateCount).reverse
        order.map(c => c -> fresh.candidateAt(c)).sortBy(_._1).map(_._2)
      }))
      go.countDown()
      val Seq(a, b) = tasks.map(_.get())
      assert(a == b && a.lazyZip(b).forall(_ eq _))
      assert(a == ref.synonyms.toSeq.sortBy(_._1).map(_._2))
      assert((0 until fresh.candidateCount).forall(c => fresh.candidateAt(c) eq a(c)))
    } finally pool.shutdown()
  }
}

object ResourcesSpec {
  import org.scalatest.Assertions._

  def sameLookups(res: Resources, ref: ResourcesReference): Unit = {
    assert(res.version == ref.version && res.entityClassOf == ref.entityClassOf)
    // the trie
    assert(AhoCorasickReference.arrays(res.trie).lazyZip(AhoCorasickReference.arrays(ref.trie))
      .forall(java.util.Objects.deepEquals))
    // payloads of every trie key
    assert(res.payloadEnd(ref.payloads.length - 1) == res.payloadCount)
    ref.payloads.indices.foreach { k =>
      val want = ref.payloads(k)
      val got = res.payloadStart(k) until res.payloadEnd(k)
      assert(got.size == want.length, s"key $k")
      got.lazyZip(want).foreach { (p, w) =>
        assert(res.payloadClass(p) == w.entityClass &&
          res.payloadConfidence(p) == w.mentionConfidence &&
          res.payloadCaseSensitive(p) == w.caseSensitive &&
          res.payloadSynNorm(p) == w.synNorm && res.payloadOriginalCase(p) == w.originalCase)
        val parsers = res.payloadParserStart(p) until res.payloadParserEnd(p)
        assert(parsers.map(res.payloadParser) == w.parserNames.toSeq)
        parsers.foreach { j =>
          val c = res.payloadCandidate(j)
          assert(c == res.candidateRow(res.payloadParser(j), w.synNorm))
          assert((if (c < 0) None else Some(res.candidateAt(c))) ==
            ref.candidate(res.payloadParser(j), w.synNorm))
        }
      }
    }
    // candidates
    val keys = ref.synonyms.keys.toSeq.sorted
    assert(res.candidateCount == keys.size)
    assert((0 until res.candidateCount).map(c =>
      (res.candidateParser(c), res.candidateSynNorm(c))) == keys)
    ref.synonyms.foreach { case ((p, s), want) =>
      val c = res.candidateRow(p, s)
      assert(res.candidate(p, s).contains(want))
      assert(res.candidateRawSynonyms(c) == want.rawSynonyms &&
        res.candidateAggregatedBy(c) == want.aggregatedBy &&
        res.candidateIdxs(c) == want.associatedIdSets.flatMap(_.ids.map(_.idx)))
      assert(res.candidate(p, s + "#").isEmpty && res.candidate(p + "#", s).isEmpty)
    }
    assert(res.candidateParsers == keys.map(_._1).distinct)
    res.candidateParsers.foreach { p =>
      assert(res.candidatesOf(p).map(res.candidateSynNorm) == keys.filter(_._1 == p).map(_._2))
    }
    assert(res.candidatesOf("#").isEmpty && res.candidate("#", "#").isEmpty)
    // metadata
    val metaKeys = ref.metadata.keys.toSeq.sorted
    assert((0 until res.metadataCount).map(res.metadataAt) == metaKeys.map(ref.metadata))
    ref.metadata.foreach { case ((p, idx), want) =>
      assert(res.metadataAt(res.metadataRow(p, idx)) == want)
      assert(res.defaultLabel(p, idx) == ref.defaultLabel(p, idx))
      (want.extras.keys ++ Seq("#")).foreach { k =>
        assert(res.metadataExtra(p, idx, k) == want.extras.get(k))
      }
      assert(res.metadataRow(p, idx + "#") == -1 && res.defaultLabel(p, idx + "#") == idx + "#")
    }
  }

  /** `TrieNer.matchText` as it read the map-based bundle: group each key's
    * payloads by class, per-parser max confidence, dedup by (parser,
    * synNorm), sort by (parser, synNorm). */
  def trieReference(res: ResourcesReference, text: String): Seq[Mention] = {
    val matchable = text.toLowerCase(java.util.Locale.ROOT)
    val (starts, ends) = Tokenizer.boundaries(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    res.trie.scan(matchable, (endIdx, keyIdx) => {
      val key = res.trie.keys(keyIdx)
      val startIdx = endIdx - key.length + 1
      if (Tokenizer.wordIsValid(startIdx, endIdx, starts, ends)) {
        val matchedText = text.substring(startIdx, endIdx + 1)
        val byClass = res.payloads(keyIdx).groupBy(_.entityClass)
        byClass.keys.toSeq.sorted.foreach { cls =>
          var candidates = List.empty[CandidateWithMetrics]
          var seen = Set.empty[(String, String)]
          val parserConf = scala.collection.mutable.Map.empty[String, Int]
          byClass(cls).foreach { e =>
            if (!e.caseSensitive || matchedText == e.originalCase) {
              e.parserNames.foreach { p =>
                parserConf.updateWith(p)(old =>
                  Some(math.max(old.getOrElse(0), e.mentionConfidence)))
                if (!seen((p, e.synNorm))) {
                  seen += ((p, e.synNorm))
                  res.candidate(p, e.synNorm).foreach { c =>
                    candidates ::= CandidateWithMetrics(c,
                      LinkingMetrics(exactMatch = Some(true)))
                  }
                }
              }
            }
          }
          if (candidates.nonEmpty)
            out += Mention(matchedText, cls, Seq(CharSpan(startIdx, endIdx + 1)),
              TrieNer.Namespace, parserConf.values.max, Normalizer.normalize(matchedText, cls),
              candidates.reverse.sortBy(c => (c.candidate.parserName, c.candidate.synonymNorm)))
        }
      }
    })
    out.sortBy(m => (m.start, m.end, m.entityClass)).toSeq
  }
}

package graft.index

import java.util.concurrent.atomic.AtomicReferenceArray
import scala.collection.immutable.ArraySeq
import graft.model._
import graft.ontology._

/** The per-job resource bundle: everything the reference keeps in its
  * process-global in-memory DBs + pickled automaton
  * (kazu/database/in_memory_db.py:23-149,
  * memory_efficient_string_matching.py:42-94), frozen into one serializable
  * value that the driver builds once and ships as a single Spark broadcast
  * (of the automaton, only its keys: each JVM that scans builds it).
  * Executors share it across all tasks — the Spark analogue of the
  * reference's per-Ray-worker model-pack copy, amortized per JVM instead of
  * per worker (SURVEY.md §4).
  *
  * Layout: flat columns, not an object graph. Every string (trie key,
  * class, parser, synonym, id, label, extra) is stored once in `strings`,
  * and the three tables hold `Int` ids into it, `Int`/`Boolean` values and
  * CSR offsets — row `r`'s entries of a nested field sit at
  * `[start(r), start(r + 1))` of its value column:
  *  - payloads, grouped by trie key (key `k`'s at
  *    `[payloadStart(k), payloadEnd(k))`), each run sorted by
  *    (class, confidence desc, case-sensitive, synNorm, original case); a
  *    payload's parsers are a sorted CSR run, each with the row of its
  *    (parser, synNorm) candidate;
  *  - candidates in (parser, synNorm) order, with raw synonyms, mapping
  *    types and id sets (a CSR of id sets, each a CSR of (idx, source));
  *  - metadata rows in (parser, idx) order, with their extras sorted by key.
  * Candidates and metadata rows are found through open-addressing `Int`
  * tables over (parser, synNorm) and (parser, idx), linear probing, load at
  * most 1/2, slot value row + 1 (0 = empty).
  *
  * Why columnar: the bundle is a broadcast, so Spark walks it once for its
  * size estimate, Java-serializes it on the driver and deserializes it in
  * every executor JVM — all linear in the number of objects. As maps of case
  * classes, 30,000 synonyms were about 400,000 objects; as columns they are
  * a few dozen arrays (the size estimate samples long arrays), and the heap
  * loses the per-row object, tuple-key and collection headers. The
  * broadcast carries the trie keys, not the automaton over them: at 30,000
  * synonyms the automaton's arrays were more than half the serialized bytes,
  * and only the trie-NER step scans with them.
  * `candidateAt` still hands out a shared [[LinkingCandidate]], built on
  * first use per row per JVM into a transient slot array.
  *
  * Derived state (the Aho-Corasick automaton over the trie keys, fuzzy
  * indexes, mapping vectorizers, token matchers, synonym embeddings) lives
  * and dies with the bundle instance, built once per instance through
  * [[derived]], where it is first used: a job that never scans text never
  * builds the automaton. Ship the bundle to tasks only by
  * broadcast, read by `bc.value` inside the task: an executor's tasks then
  * share one instance, while a closure-captured bundle is a fresh copy per
  * task that refits everything. `version` is only a label for lineage and
  * equality; nothing is keyed by it.
  */
final class Resources private (
    /** The distinct lower-cased trie keys, ascending: key `k` of [[trie]]. */
    private[graft] val trieKeys: Array[String],
    private val strings: Array[String],
    private val keyPayloadStart: Array[Int],
    private val payClass: Array[Int],
    private val payConfidence: Array[Int],
    private val payCaseSensitive: Array[Boolean],
    private val paySynNorm: Array[Int],
    private val payOriginalCase: Array[Int],
    private val payParserStart: Array[Int],
    private val payParser: Array[Int],
    private val payCandidate: Array[Int],
    private val candParser: Array[Int],
    private val candSynNorm: Array[Int],
    private val candSymbolic: Array[Boolean],
    private val candAggregatedBy: Array[Int],
    private val candRawStart: Array[Int],
    private val candRaw: Array[Int],
    private val candTypeStart: Array[Int],
    private val candType: Array[Int],
    private val candSetStart: Array[Int],
    private val setIdStart: Array[Int],
    private val idIdx: Array[Int],
    private val idSource: Array[Int],
    private val candIndex: Array[Int],
    private val metaParser: Array[Int],
    private val metaIdx: Array[Int],
    private val metaLabel: Array[Int],
    private val metaExtraStart: Array[Int],
    private val metaExtraKey: Array[Int],
    private val metaExtraValue: Array[Int],
    private val metaIndex: Array[Int],
    val entityClassOf: Map[String, String], // parser → class
    val version: String
) extends Serializable {
  import Resources._

  // ---- payloads of trie key k: [payloadStart(k), payloadEnd(k)) --------------

  def payloadStart(key: Int): Int = keyPayloadStart(key)
  def payloadEnd(key: Int): Int = keyPayloadStart(key + 1)
  def payloadCount: Int = payClass.length
  def payloadClass(p: Int): String = strings(payClass(p))
  def payloadConfidence(p: Int): Int = payConfidence(p)
  def payloadCaseSensitive(p: Int): Boolean = payCaseSensitive(p)
  def payloadSynNorm(p: Int): String = strings(paySynNorm(p))
  def payloadOriginalCase(p: Int): String = strings(payOriginalCase(p))
  /** Payload p's parsers, ascending, at [payloadParserStart(p), payloadParserEnd(p)). */
  def payloadParserStart(p: Int): Int = payParserStart(p)
  def payloadParserEnd(p: Int): Int = payParserStart(p + 1)
  def payloadParser(j: Int): String = strings(payParser(j))
  /** The candidate row of (payloadParser(j), synNorm of its payload), or -1. */
  def payloadCandidate(j: Int): Int = payCandidate(j)

  // ---- candidates, in (parser, synNorm) order ----------------------------------

  def candidateCount: Int = candParser.length
  def candidateParser(c: Int): String = strings(candParser(c))
  def candidateSynNorm(c: Int): String = strings(candSynNorm(c))
  def candidateAggregatedBy(c: Int): String = strings(candAggregatedBy(c))
  def candidateRawSynonyms(c: Int): Seq[String] = slice(candRawStart, candRaw, c)
  /** The idx of every id of every id set of candidate c. */
  def candidateIdxs(c: Int): Seq[String] =
    slice(setIdStart(candSetStart(c)), setIdStart(candSetStart(c + 1)), idIdx)

  /** The parsers that have candidates, ascending. */
  def candidateParsers: Seq[String] = {
    val b = Seq.newBuilder[String]
    var c = 0
    while (c < candParser.length) {
      if (c == 0 || candParser(c) != candParser(c - 1)) b += strings(candParser(c))
      c += 1
    }
    b.result()
  }

  /** The candidate rows of `parser`, ascending by synNorm. */
  def candidatesOf(parser: String): Range = {
    def lowerBound(strict: Boolean): Int = {
      var lo = 0
      var hi = candParser.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val cmp = strings(candParser(mid)).compareTo(parser)
        if (cmp < 0 || (strict && cmp == 0)) lo = mid + 1 else hi = mid
      }
      lo
    }
    lowerBound(strict = false) until lowerBound(strict = true)
  }

  /** The row of candidate (parser, synNorm), or -1. */
  def candidateRow(parser: String, synNorm: String): Int =
    probe(candIndex, candParser, candSynNorm, strings, parser, synNorm)

  /** The automaton over [[trieKeys]], built on first use per instance. */
  def trie: AhoCorasick = derived(AhoCorasick)(AhoCorasick.build(trieKeys))

  @transient private lazy val slots = new AtomicReferenceArray[LinkingCandidate](candidateCount)

  @transient private lazy val memo = new java.util.concurrent.ConcurrentHashMap[AnyRef, AnyRef]()

  /** The state `key` names, built from this instance at most once (concurrent
    * callers wait). `build` must not call `derived`: `computeIfAbsent`
    * forbids recursive updates. */
  private[graft] def derived[T <: AnyRef](key: AnyRef)(build: => T): T =
    memo.computeIfAbsent(key, _ => build).asInstanceOf[T]

  /** Whether this instance has built the state `key` names. */
  private[graft] def hasDerived(key: AnyRef): Boolean = memo.containsKey(key)

  /** Candidate row c as a shared value, built on its first use in this JVM. */
  def candidateAt(c: Int): LinkingCandidate = {
    val got = slots.get(c)
    if (got != null) got
    else {
      val built = LinkingCandidate(
        parserName = candidateParser(c),
        synonymNorm = candidateSynNorm(c),
        rawSynonyms = candidateRawSynonyms(c),
        isSymbolic = candSymbolic(c),
        mappingTypes = slice(candTypeStart, candType, c),
        associatedIdSets = ArraySeq.unsafeWrapArray(
          Array.tabulate(candSetStart(c + 1) - candSetStart(c)) { i =>
            val s = candSetStart(c) + i
            EquivalentIdSet(ArraySeq.unsafeWrapArray(
              Array.tabulate(setIdStart(s + 1) - setIdStart(s)) { j =>
                IdAndSource(strings(idIdx(setIdStart(s) + j)), strings(idSource(setIdStart(s) + j)))
              }))
          }),
        aggregatedBy = candidateAggregatedBy(c))
      if (slots.compareAndSet(c, null, built)) built else slots.get(c)
    }
  }

  def candidate(parser: String, synNorm: String): Option[LinkingCandidate] = {
    val c = candidateRow(parser, synNorm)
    if (c < 0) None else Some(candidateAt(c))
  }

  // ---- metadata rows, in (parser, idx) order -----------------------------------

  def metadataCount: Int = metaParser.length

  /** The row of metadata (parser, idx), or -1. */
  def metadataRow(parser: String, idx: String): Int =
    probe(metaIndex, metaParser, metaIdx, strings, parser, idx)

  def metadataAt(m: Int): MetadataRow = MetadataRow(
    strings(metaParser(m)), strings(metaIdx(m)), strings(metaLabel(m)),
    (metaExtraStart(m) until metaExtraStart(m + 1))
      .map(e => strings(metaExtraKey(e)) -> strings(metaExtraValue(e))).toMap)

  def defaultLabel(parser: String, idx: String): String = {
    val m = metadataRow(parser, idx)
    if (m < 0) idx else strings(metaLabel(m))
  }

  def metadataExtra(parser: String, idx: String, key: String): Option[String] = {
    val m = metadataRow(parser, idx)
    if (m < 0) None
    else (metaExtraStart(m) until metaExtraStart(m + 1))
      .find(e => strings(metaExtraKey(e)) == key).map(e => strings(metaExtraValue(e)))
  }

  private def slice(start: Array[Int], values: Array[Int], r: Int): Seq[String] =
    slice(start(r), start(r + 1), values)

  private def slice(from: Int, until: Int, values: Array[Int]): Seq[String] =
    ArraySeq.unsafeWrapArray(Array.tabulate(until - from)(i => strings(values(from + i))))

  private def columns: Seq[AnyRef] = Seq(trieKeys, strings,
    keyPayloadStart, payClass, payConfidence, payCaseSensitive, paySynNorm,
    payOriginalCase, payParserStart, payParser, payCandidate,
    candParser, candSynNorm, candSymbolic, candAggregatedBy, candRawStart,
    candRaw, candTypeStart, candType, candSetStart, setIdStart, idIdx,
    idSource, candIndex,
    metaParser, metaIdx, metaLabel, metaExtraStart, metaExtraKey,
    metaExtraValue, metaIndex)

  /** Same columns, classes and version: two builds from the same rows are
    * equal, and so is a deserialized copy. */
  override def equals(other: Any): Boolean = other match {
    case that: Resources => (this eq that) || (version == that.version &&
      entityClassOf == that.entityClassOf &&
      columns.lazyZip(that.columns).forall(java.util.Objects.deepEquals))
    case _ => false
  }

  override def hashCode: Int = (version, candidateCount, payloadCount).##
}

object Resources {

  /** Assemble the broadcastable bundle from ontology_raw rows.
    * Mirrors the reference automaton build
    * (memory_efficient_string_matching.py:42-94): key = lower-cased synonym
    * text; payload = per-(class, confidence, caseSensitive, synNorm,
    * originalCase) parser sets, restricted to NER-active synonyms.
    */
  def build(
      rows: Seq[OntologyRow],
      entityClassOf: String => String,
      commonWords: Set[String] = Set.empty,
      version: String = "synthetic-ontology/1"
  ): Resources = {
    val (candidates, metadata) = ResourceBuild.buildCandidates(rows)
    val resources =
      ResourceBuild.defaultResources(candidates, entityClassOf, commonWords)
    assemble(rows.map(_.parserName).distinct.map(p => p -> entityClassOf(p)).toMap,
      candidates, metadata, resources, version)
  }

  /** One NER-active synonym of one string resource, before grouping. */
  private final case class PayloadRow(key: String, cls: String, conf: Int,
      caseSensitive: Boolean, synNorm: String, originalCase: String, parser: String) {
    def samePayload(o: PayloadRow): Boolean = key == o.key && cls == o.cls &&
      conf == o.conf && caseSensitive == o.caseSensitive && synNorm == o.synNorm &&
      originalCase == o.originalCase
  }

  private val payloadOrder: Ordering[PayloadRow] = (a: PayloadRow, b: PayloadRow) => {
    var c = a.key.compareTo(b.key)
    if (c == 0) c = a.cls.compareTo(b.cls)
    if (c == 0) c = Integer.compare(b.conf, a.conf)
    if (c == 0) c = java.lang.Boolean.compare(a.caseSensitive, b.caseSensitive)
    if (c == 0) c = a.synNorm.compareTo(b.synNorm)
    if (c == 0) c = a.originalCase.compareTo(b.originalCase)
    if (c == 0) c = a.parser.compareTo(b.parser)
    c
  }

  private def byPair[V](a: V => String, b: V => String): Ordering[V] = (x: V, y: V) => {
    val c = a(x).compareTo(a(y))
    if (c != 0) c else b(x).compareTo(b(y))
  }

  /** `vs` sorted by `order`, keeping the last of each run of equal keys.
    * The sort is stable, and linear on input that is already sorted. */
  private def lastOf[V <: AnyRef: scala.reflect.ClassTag](vs: Seq[V], order: Ordering[V]): Array[V] = {
    val sorted = vs.toArray
    java.util.Arrays.sort(sorted, order)
    sorted.indices.collect {
      case i if i + 1 == sorted.length || order.compare(sorted(i), sorted(i + 1)) != 0 => sorted(i)
    }.toArray
  }

  /** Assemble from explicit (possibly human-curated) resources — the entry
    * point the curation pipeline and the reference-scenario tests use.
    * A repeated (parser, synNorm) candidate or (parser, idx) metadata row
    * keeps its last occurrence. */
  def assemble(
      entityClassOf: Map[String, String],
      candidates: Seq[LinkingCandidate],
      metadata: Seq[MetadataRow],
      resources: Seq[StringResource],
      version: String
  ): Resources = {
    import scala.collection.mutable.ArrayBuilder
    val rows = resources.iterator.flatMap(res => res.activeNerSynonyms.iterator.map(syn =>
      PayloadRow(syn.text.toLowerCase(java.util.Locale.ROOT), res.entityClass,
        syn.mentionConfidence, syn.caseSensitive, res.synNorm, syn.text, res.parserName)))
      .toArray
    require(rows.nonEmpty, "no NER-active synonyms in ontology")
    java.util.Arrays.sort(rows, payloadOrder)
    val cands = lastOf(candidates, byPair[LinkingCandidate](_.parserName, _.synonymNorm))
    val metas = lastOf(metadata, byPair[MetadataRow](_.parserName, _.idx))

    val keys = rows.indices.collect {
      case i if i == 0 || rows(i).key != rows(i - 1).key => rows(i).key
    }.toArray
    val pool = new Pool
    keys.foreach(pool.id)

    val candParser = cands.map(c => pool.id(c.parserName))
    val candSynNorm = cands.map(c => pool.id(c.synonymNorm))
    val candAggregatedBy = cands.map(c => pool.id(c.aggregatedBy))
    val candRaw, candType, candSet, setIds = new Csr(pool)
    val idSource = new ArrayBuilder.ofInt
    cands.foreach { c =>
      candRaw.row(c.rawSynonyms)
      candType.row(c.mappingTypes)
      candSet.rowOf(c.associatedIdSets.size)
      c.associatedIdSets.foreach { s =>
        setIds.row(s.ids.map(_.idx))
        s.ids.foreach(id => idSource += pool.id(id.source))
      }
    }
    val candStrings = pool.strings // all the candidate index compares
    val candIndex = buildIndex(candParser, candSynNorm, candStrings)

    val payClass, payConfidence, paySynNorm, payOriginalCase = new ArrayBuilder.ofInt
    val payCaseSensitive = new ArrayBuilder.ofBoolean
    val keyPayloadStart, payParserStart, payParser, payCandidate = new ArrayBuilder.ofInt
    keyPayloadStart += 0
    payParserStart += 0
    var payloads, parsers = 0
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      payClass += pool.id(r.cls); payConfidence += r.conf
      payCaseSensitive += r.caseSensitive; paySynNorm += pool.id(r.synNorm)
      payOriginalCase += pool.id(r.originalCase)
      payloads += 1
      // one payload per (class, conf, cs, synNorm, originalCase) of a key;
      // its rows are consecutive and sorted by parser
      var j = i
      while (j < rows.length && rows(j).samePayload(r)) {
        if (j == i || rows(j).parser != rows(j - 1).parser) {
          payParser += pool.id(rows(j).parser)
          payCandidate += probe(candIndex, candParser, candSynNorm, candStrings,
            rows(j).parser, r.synNorm)
          parsers += 1
        }
        j += 1
      }
      payParserStart += parsers
      if (j == rows.length || rows(j).key != r.key) keyPayloadStart += payloads
      i = j
    }

    val metaParser = metas.map(m => pool.id(m.parserName))
    val metaIdx = metas.map(m => pool.id(m.idx))
    val metaLabel = metas.map(m => pool.id(m.defaultLabel))
    val extras = new Csr(pool)
    val extraValue = new ArrayBuilder.ofInt
    metas.foreach { m =>
      val kvs = m.extras.toSeq.sortBy(_._1)
      extras.row(kvs.map(_._1))
      kvs.foreach(kv => extraValue += pool.id(kv._2))
    }
    val strings = pool.strings
    new Resources(
      keys,
      strings,
      keyPayloadStart.result(), payClass.result(), payConfidence.result(),
      payCaseSensitive.result(), paySynNorm.result(), payOriginalCase.result(),
      payParserStart.result(), payParser.result(), payCandidate.result(),
      candParser, candSynNorm, cands.map(_.isSymbolic), candAggregatedBy,
      candRaw.start, candRaw.values, candType.start, candType.values,
      candSet.start, setIds.start, setIds.values, idSource.result(), candIndex,
      metaParser, metaIdx, metaLabel, extras.start, extras.values,
      extraValue.result(), buildIndex(metaParser, metaIdx, strings),
      entityClassOf,
      version)
  }

  /** The string pool under construction: each distinct string gets the id
    * of its first occurrence. */
  private final class Pool {
    private val ids = new java.util.HashMap[String, Integer]()
    private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def id(s: String): Int = {
      val got = ids.get(s)
      if (got != null) got.intValue
      else { ids.put(s, buf.length); buf += s; buf.length - 1 }
    }
    def strings: Array[String] = buf.toArray
  }

  /** A CSR column under construction: row r's values at [start(r), start(r + 1)). */
  private final class Csr(pool: Pool) {
    private val starts = new scala.collection.mutable.ArrayBuilder.ofInt
    private val vals = new scala.collection.mutable.ArrayBuilder.ofInt
    private var n = 0
    starts += 0
    def row(strs: Seq[String]): Unit = {
      strs.foreach(s => vals += pool.id(s))
      n += strs.size
      starts += n
    }
    /** A row whose `k` entries are rows of another CSR. */
    def rowOf(k: Int): Unit = { n += k; starts += n }
    def start: Array[Int] = starts.result()
    def values: Array[Int] = vals.result()
  }

  @inline private def hashOf(s: String): Int = if (s == null) 0 else s.hashCode

  @inline private def slot(a: String, b: String): Int = {
    val h = (hashOf(a) * 31 + hashOf(b)) * 0x9E3779B1
    h ^ (h >>> 16)
  }

  /** Open-addressing table over the (a(r), b(r)) pairs, which are distinct:
    * slot holds row + 1, 0 is empty, linear probing, load at most 1/2. */
  private def buildIndex(a: Array[Int], b: Array[Int], strings: Array[String]): Array[Int] = {
    var size = 2
    while (size < 2 * a.length) size <<= 1
    val table = new Array[Int](size)
    val mask = size - 1
    var r = 0
    while (r < a.length) {
      var s = slot(strings(a(r)), strings(b(r))) & mask
      while (table(s) != 0) s = (s + 1) & mask
      table(s) = r + 1
      r += 1
    }
    table
  }

  /** The row r with (a(r), b(r)) = (x, y), or -1. */
  private def probe(table: Array[Int], a: Array[Int], b: Array[Int],
      strings: Array[String], x: String, y: String): Int = {
    val mask = table.length - 1
    var s = slot(x, y) & mask
    var r = table(s) - 1
    while (r >= 0 && !(strings(b(r)) == y && strings(a(r)) == x)) {
      s = (s + 1) & mask
      r = table(s) - 1
    }
    r
  }

  /** The corpus-vocabulary bundle used for tests/bench over the driver's
    * `documents` table. */
  lazy val corpus: Resources =
    build(CorpusOntology.rows, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords)
}

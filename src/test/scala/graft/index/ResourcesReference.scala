package graft.index

import graft.model._
import graft.ontology._

/** The bundle layout [[Resources]] replaced, kept as the cross-check
  * reference: one `GazPayload` object per (key, class, confidence,
  * case-sensitivity, synNorm, original case) with its parser array, and
  * `Map`s from (parser, synNorm) to candidate and from (parser, idx) to
  * metadata row. `ResourcesSpec` compares every lookup of the two, and
  * `ResourcesScaleProbe` compares their build, size-estimate and
  * serialization costs. */
final class ResourcesReference(
    val trie: AhoCorasick,
    /** payloads(i) belongs to trie key i (the lower-cased surface form). */
    val payloads: Array[Array[ResourcesReference.GazPayload]],
    val synonyms: Map[(String, String), LinkingCandidate], // (parser, synNorm)
    val metadata: Map[(String, String), MetadataRow],      // (parser, idx)
    val entityClassOf: Map[String, String],                // parser → class
    val version: String
) extends Serializable {

  def candidate(parser: String, synNorm: String): Option[LinkingCandidate] =
    synonyms.get((parser, synNorm))

  def defaultLabel(parser: String, idx: String): String =
    metadata.get((parser, idx)).map(_.defaultLabel).getOrElse(idx)
}

object ResourcesReference {

  final case class GazPayload(
      entityClass: String,
      mentionConfidence: Int,
      caseSensitive: Boolean,
      synNorm: String,
      originalCase: String,
      parserNames: Array[String]
  ) extends Serializable

  def build(
      rows: Seq[OntologyRow],
      entityClassOf: String => String,
      commonWords: Set[String] = Set.empty,
      version: String = "synthetic-ontology/1"
  ): ResourcesReference = {
    val (candidates, metadata) = ResourceBuild.buildCandidates(rows)
    val resources =
      ResourceBuild.defaultResources(candidates, entityClassOf, commonWords)
    assemble(rows.map(_.parserName).distinct.map(p => p -> entityClassOf(p)).toMap,
      candidates, metadata, resources, version)
  }

  def assemble(
      entityClassOf: Map[String, String],
      candidates: Seq[LinkingCandidate],
      metadata: Seq[MetadataRow],
      resources: Seq[StringResource],
      version: String
  ): ResourcesReference = {
    // key(lowercased) → (class, conf, cs, synNorm, originalCase) → parser set
    val keyMap = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[(String, Int, Boolean, String, String), scala.collection.mutable.TreeSet[String]]]
    resources.foreach { res =>
      res.activeNerSynonyms.foreach { syn =>
        val inner = keyMap.getOrElseUpdate(
          syn.text.toLowerCase(java.util.Locale.ROOT),
          scala.collection.mutable.LinkedHashMap.empty)
        inner.getOrElseUpdate(
          (res.entityClass, syn.mentionConfidence, syn.caseSensitive,
            res.synNorm, syn.text),
          scala.collection.mutable.TreeSet.empty[String]) += res.parserName
      }
    }
    require(keyMap.nonEmpty, "no NER-active synonyms in ontology")
    val keys = keyMap.keys.toArray.sorted
    val payloads: Array[Array[GazPayload]] = keys.map { k =>
      keyMap(k).toArray
        .sortBy { case ((cls, conf, cs, sn, oc), _) => (cls, -conf, cs, sn, oc) }
        .map { case ((cls, conf, cs, sn, oc), parsers) =>
          GazPayload(cls, conf, cs, sn, oc, parsers.toArray)
        }
    }
    new ResourcesReference(
      AhoCorasickReference.build(keys),
      payloads,
      candidates.map(c => (c.parserName, c.synonymNorm) -> c).toMap,
      metadata.map(m => (m.parserName, m.idx) -> m).toMap,
      entityClassOf,
      version
    )
  }
}

/** The automaton build [[AhoCorasick.build]] replaced: a sorted map per
  * trie node, frozen to the same CSR arrays. */
object AhoCorasickReference {

  def build(keys: Array[String]): AhoCorasick = {
    require(keys.nonEmpty, "empty gazetteer")
    import scala.collection.mutable
    // --- trie construction with per-node sorted maps
    val children = mutable.ArrayBuffer[mutable.TreeMap[Char, Int]](mutable.TreeMap.empty)
    val nodeKey = mutable.ArrayBuffer[Int](-1)
    var ki = 0
    while (ki < keys.length) {
      var state = 0
      val k = keys(ki)
      var i = 0
      while (i < k.length) {
        val c = k.charAt(i)
        state = children(state).getOrElseUpdate(c, {
          children += mutable.TreeMap.empty
          nodeKey += -1
          children.length - 1
        })
        i += 1
      }
      nodeKey(state) = ki
      ki += 1
    }
    val n = children.length
    // --- BFS fail links + report links
    val fail = new Array[Int](n)
    val report = Array.fill(n)(-1)
    val queue = new java.util.ArrayDeque[Integer]()
    children(0).foreach { case (_, s) => fail(s) = 0; queue.add(s) }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      report(u) =
        if (nodeKey(fail(u)) >= 0) fail(u) else report(fail(u))
      children(u).foreach { case (c, v) =>
        var f = fail(u)
        var dest = -1
        while (dest == -1) {
          dest = children(f).getOrElse(c, -1)
          if (dest == -1) {
            if (f == 0) dest = 0 // stay at root (no edge)
            else f = fail(f)
          }
        }
        fail(v) = if (dest == v) 0 else dest
        queue.add(v)
      }
    }
    // --- freeze to CSR
    val edgeCount = children.iterator.map(_.size).sum
    val nodeEdgeStart = new Array[Int](n + 1)
    val edgeChar = new Array[Char](edgeCount)
    val edgeDest = new Array[Int](edgeCount)
    var pos = 0
    var u = 0
    while (u < n) {
      nodeEdgeStart(u) = pos
      children(u).foreach { case (c, v) =>
        edgeChar(pos) = c; edgeDest(pos) = v; pos += 1
      }
      u += 1
    }
    nodeEdgeStart(n) = pos
    new AhoCorasick(keys, nodeEdgeStart, edgeChar, edgeDest, fail,
      nodeKey.toArray, report)
  }

  /** The automaton's arrays, for comparing two builds. */
  def arrays(ac: AhoCorasick): Seq[AnyRef] = Seq(ac.keys, ac.nodeEdgeStart,
    ac.edgeChar, ac.edgeDest, ac.fail, ac.nodeKey, ac.reportLink)
}

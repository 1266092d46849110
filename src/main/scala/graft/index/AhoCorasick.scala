package graft.index

/** Aho-Corasick automaton over chars, frozen into CSR-style primitive
  * arrays. It stands in for the reference's pickled `ahocorasick.Automaton`
  * (kazu/steps/joint_ner_and_linking/memory_efficient_string_matching.py:42-94;
  * same memory-first motivation as CHANGELOG.md:224), but is not shipped:
  * each JVM that scans builds the arrays once from the broadcast bundle's
  * keys ([[Resources.trie]]), so a job that never scans never holds them.
  *
  * Matching emits (inclusiveEndOffset, keyIndex) for EVERY key occurrence,
  * overlapping included — overlap resolution is a later pipeline stage, as in
  * the reference. Output sets are not materialized per node: each node keeps
  * only its own key plus a report link to the nearest suffix node that is
  * also a key, so automaton size is O(total key chars).
  *
  * Layout: nodes are numbered in the order the keys, taken in the given
  * order, first reach them (the root is 0). Node `u`'s outgoing edges sit at
  * `[nodeEdgeStart(u), nodeEdgeStart(u + 1))` of `edgeChar`/`edgeDest`,
  * ascending by char, so a transition is a binary search in one short run.
  * Seven arrays in all, whatever the number of keys: the heap holds a
  * handful of objects, not one per node.
  */
final class AhoCorasick private[index] (
    val keys: Array[String],
    private[index] val nodeEdgeStart: Array[Int], // CSR: node i's edges at [start(i), start(i+1))
    private[index] val edgeChar: Array[Char],
    private[index] val edgeDest: Array[Int],
    private[index] val fail: Array[Int],
    private[index] val nodeKey: Array[Int],       // key index terminating at node, or -1
    private[index] val reportLink: Array[Int]     // nearest suffix node with nodeKey != -1, or -1
) extends Serializable {

  def size: Int = keys.length

  @inline private def goto(state: Int, c: Char): Int = {
    var lo = nodeEdgeStart(state)
    var hi = nodeEdgeStart(state + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mc = edgeChar(mid)
      if (mc == c) return edgeDest(mid)
      else if (mc < c) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** Scan `text`, invoking `emit(inclusiveEnd, keyIdx)` for every match. */
  def scan(text: CharSequence, emit: (Int, Int) => Unit): Unit = {
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      var next = goto(state, c)
      while (next == -1 && state != 0) {
        state = fail(state)
        next = goto(state, c)
      }
      state = if (next == -1) 0 else next
      // walk report chain
      var s = if (nodeKey(state) >= 0) state else reportLink(state)
      while (s != -1) {
        emit(i, nodeKey(s))
        s = reportLink(s)
      }
      i += 1
    }
  }

  def findAll(text: CharSequence): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    scan(text, (e, k) => out += ((e, k)))
    out.toSeq
  }
}

object AhoCorasick {

  /** Build from distinct keys (caller lower-cases if case-insensitive
    * matching is wanted, mirroring the reference automaton which is built on
    * `syn.text.lower()`). A repeated key maps to its last index.
    *
    * The trie is grown through one open-addressing table from
    * (parent, char) to child, each node recording only its parent and its
    * incoming char; the CSR edge runs are then laid out by a counting pass
    * over parents and one sort per run. No per-node map is ever allocated,
    * and the arrays are those a sorted-map-per-node build gives. */
  def build(keys: Array[String]): AhoCorasick = {
    require(keys.nonEmpty, "empty gazetteer")
    val maxNodes = 1 + keys.iterator.map(_.length.toLong).sum
    require(maxNodes < Int.MaxValue / 4, "gazetteer too large")
    val cap = maxNodes.toInt
    val parent = new Array[Int](cap)
    val inChar = new Array[Char](cap)
    val nodeKey0 = new Array[Int](cap)
    nodeKey0(0) = -1
    // (parent << 16 | char) → child; -1 marks an empty slot
    var tableSize = 2
    while (tableSize < 2 * cap) tableSize <<= 1
    val mask = tableSize - 1
    val slotKey = Array.fill(tableSize)(-1L)
    val slotNode = new Array[Int](tableSize)
    var n = 1
    var ki = 0
    while (ki < keys.length) {
      val k = keys(ki)
      var state = 0
      var i = 0
      while (i < k.length) {
        val c = k.charAt(i)
        val edge = (state.toLong << 16) | c
        var s = mix(edge) & mask
        while (slotKey(s) != -1L && slotKey(s) != edge) s = (s + 1) & mask
        if (slotKey(s) == -1L) {
          slotKey(s) = edge; slotNode(s) = n
          parent(n) = state; inChar(n) = c; nodeKey0(n) = -1
          n += 1
        }
        state = slotNode(s)
        i += 1
      }
      nodeKey0(state) = ki
      ki += 1
    }
    // --- freeze to CSR: count edges per parent, place, sort each run by char
    val nodeEdgeStart = new Array[Int](n + 1)
    var v = 1
    while (v < n) { nodeEdgeStart(parent(v) + 1) += 1; v += 1 }
    var u = 0
    while (u < n) { nodeEdgeStart(u + 1) += nodeEdgeStart(u); u += 1 }
    val packed = new Array[Long](n - 1) // char << 32 | dest
    val cursor = java.util.Arrays.copyOf(nodeEdgeStart, n)
    v = 1
    while (v < n) {
      val p = parent(v)
      packed(cursor(p)) = (inChar(v).toLong << 32) | v
      cursor(p) += 1
      v += 1
    }
    val edgeChar = new Array[Char](n - 1)
    val edgeDest = new Array[Int](n - 1)
    u = 0
    while (u < n) {
      java.util.Arrays.sort(packed, nodeEdgeStart(u), nodeEdgeStart(u + 1))
      u += 1
    }
    var e = 0
    while (e < n - 1) {
      edgeChar(e) = (packed(e) >>> 32).toChar
      edgeDest(e) = packed(e).toInt
      e += 1
    }
    val ac = new AhoCorasick(keys, nodeEdgeStart, edgeChar, edgeDest,
      new Array[Int](n), java.util.Arrays.copyOf(nodeKey0, n), Array.fill(n)(-1))
    // --- BFS fail links + report links over the frozen edges
    val fail = ac.fail
    val report = ac.reportLink
    val nodeKey = ac.nodeKey
    val queue = new Array[Int](n)
    var head = 0
    var tail = 0
    e = nodeEdgeStart(0)
    while (e < nodeEdgeStart(1)) { fail(edgeDest(e)) = 0; queue(tail) = edgeDest(e); tail += 1; e += 1 }
    while (head < tail) {
      val u = queue(head); head += 1
      report(u) = if (nodeKey(fail(u)) >= 0) fail(u) else report(fail(u))
      e = nodeEdgeStart(u)
      while (e < nodeEdgeStart(u + 1)) {
        val c = edgeChar(e)
        val v = edgeDest(e)
        var f = fail(u)
        var dest = ac.goto(f, c)
        while (dest == -1 && f != 0) { f = fail(f); dest = ac.goto(f, c) }
        if (dest == -1) dest = 0 // stay at root (no edge)
        fail(v) = if (dest == v) 0 else dest
        queue(tail) = v; tail += 1
        e += 1
      }
    }
    ac
  }

  /** Murmur3's 64-bit finalizer, folded to an int. */
  private def mix(x: Long): Int = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h.toInt
  }
}

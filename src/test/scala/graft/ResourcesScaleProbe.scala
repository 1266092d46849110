package graft

import graft.index.{AhoCorasick, Resources, ResourcesReference}
import graft.ontology.{CorpusOntology, OntologyRow}

/** Resource-bundle set-up cost against ontology size S.
  *
  * For S = 10^4, 10^5 and 10^6 seeded synthetic synonyms added to the
  * corpus ontology, builds the columnar [[Resources]] and the object-graph
  * bundle it replaced ([[ResourcesReference]]) from the same rows, and
  * reports for each the build time, Spark's `SizeEstimator` (the walk a
  * broadcast pays before it serializes) time and bytes, and Java
  * serialization and deserialization time and bytes — the set-up work of a
  * broadcast on the driver and in every executor JVM. Two more rows price
  * the automaton the columnar bundle no longer carries: `automaton` is
  * `AhoCorasick.build` over the bundle's keys (the build each JVM that scans
  * pays) and the automaton's own Java bytes and deserialize time, keys
  * included (so at most what a JVM no longer pays to receive the arrays);
  * `columnar + automaton` is the bundle as it was shipped with the
  * automaton in it (keys written once).
  *
  *   SPARK_DRIVER_MEM=6g sbt "Test/runMain graft.ResourcesScaleProbe"
  *
  * Pass sizes as arguments to run fewer (`... ResourcesScaleProbe 10000`).
  * Each timing is the best of three after one untimed run, except at
  * S >= 10^6, where one run is timed.
  */
object ResourcesScaleProbe {

  /** Seeded synthetic ontology rows over both corpus parsers: every 5th
    * synonym upper-cased (so symbolic and case-sensitive), three synonyms
    * per id, every 7th synonym also naming a shared `ALT` id (ambiguous),
    * and every 11th one repeated capitalized under another id (one trie
    * key, several payloads). */
  def rows(seed: Long, n: Int): Seq[OntologyRow] = {
    val syns = TfIdfScaleProbe.synonyms(seed, n)
    val rnd = new java.util.SplittableRandom(seed)
    val out = Vector.newBuilder[OntologyRow]
    var i = 0
    while (i < n) {
      val (parser, cls, prefix) =
        if (i % 2 == 0) (CorpusOntology.OpsParser, "operator", "OP")
        else (CorpusOntology.SysParser, "component", "SYS")
      val id = f"$prefix:SYN_${i / 6}%07d"
      val syn = if (i % 5 == 0) syns(i).toUpperCase(java.util.Locale.ROOT) else syns(i)
      out += OntologyRow(parser, cls, id, s"label ${i / 6}", syn,
        if (i % 3 == 0) "exactSyn" else "relatedSyn")
      if (i % 7 == 0)
        out += OntologyRow(parser, cls, f"$prefix:ALT_${rnd.nextInt(1 + n / 50)}%07d",
          "alt", syn, "relatedSyn")
      if (i % 11 == 0)
        out += OntologyRow(parser, cls, f"$prefix:CAP_$i%07d", "cap",
          syns(i).capitalize, "exactSyn")
      i += 1
    }
    out.result()
  }

  def serialize(x: AnyRef): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(x); out.close()
    bytes.toByteArray
  }

  def deserialize[T](b: Array[Byte]): T =
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b)).readObject().asInstanceOf[T]

  /** Best-of-`reps` ms of `body`, after one untimed run when `reps` > 1. */
  private def ms[T](reps: Int)(body: => T): (Double, T) = {
    var out = if (reps > 1) body else null.asInstanceOf[T]
    val times = (1 to reps).map { _ =>
      System.gc()
      val t0 = System.nanoTime(); out = body; (System.nanoTime() - t0) / 1e6
    }
    (times.min, out)
  }

  /** One row of the table; `build` is timed only when `timed`. */
  private def report[T <: AnyRef](label: String, n: Int, build: => T, timed: Boolean = true): T = {
    val reps = if (n >= 1000000) 1 else 3
    val (buildMs, bundle) = if (timed) ms(reps)(build) else (Double.NaN, build)
    val (estMs, est) = ms(reps)(org.apache.spark.util.SizeEstimator.estimate(bundle))
    val (serMs, bytes) = ms(reps)(serialize(bundle))
    val (deserMs, _) = ms(reps)(deserialize[AnyRef](bytes))
    val built = if (timed) f"$buildMs%.0f" else "—"
    println(f"| $n%,d | $label | $built | $estMs%.0f | ${est / 1e6}%.1f | " +
      f"$serMs%.0f | ${bytes.length / 1e6}%.2f | $deserMs%.0f |")
    bundle
  }

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(10000, 100000, 1000000)
    val rt = Runtime.getRuntime
    println(s"cpus=${rt.availableProcessors} max_heap_mb=${rt.maxMemory >> 20} " +
      s"jdk=${System.getProperty("java.version")}")
    println("| synonyms S | bundle | build ms | SizeEstimator ms | estimate MB | serialize ms | Java bytes MB | deserialize ms |")
    println("|---|---|---|---|---|---|---|---|")
    for (n <- sizes) {
      val all = CorpusOntology.rows ++ rows(42L, n)
      def build[T](f: (Seq[OntologyRow], String => String, Set[String], String) => T): T =
        f(all, CorpusOntology.entityClassOf, CorpusOntology.CommonWords, s"probe/$n")
      report("reference (maps)", n, build(ResourcesReference.build))
      val res = report("columnar", n, build(Resources.build))
      val trie = report("automaton", n, AhoCorasick.build(res.trieKeys))
      report("columnar + automaton", n, Array[AnyRef](res, trie), timed = false)
    }
  }
}

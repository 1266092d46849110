package kgbench

/** One timed interval of a traced unit. `traceId` names the unit (a
  * partition or a request); `parent` is the name of the enclosing span in the
  * same trace, empty for the root. */
final case class Span(name: String, traceId: String, parent: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span and counter buffer for one traced unit. Spans nest one
  * level under `root`; they are read out only when the run ends. */
final class Tracer(traceId: String, root: String) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val rootStart = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    spans += Span(name, traceId, root, t0, System.nanoTime())
    r
  }

  def record(name: String, startNs: Long, endNs: Long): Unit =
    spans += Span(name, traceId, root, startNs, endNs)

  def count(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v

  def finish(): (Seq[Span], Map[String, Double]) = {
    spans += Span(root, traceId, "", rootStart, System.nanoTime())
    (spans.toSeq, counts.toMap)
  }
}

object Spans {
  /** Self time per span name, summed over traces: a span's duration minus
    * the part of it that its children cover. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val self = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    spans.groupBy(_.traceId).values.foreach { trace =>
      trace.foreach { s =>
        val covered = trace.filter(_.parent == s.name).map { c =>
          math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
        }.sum
        self(s.name) = self.getOrElse(s.name, 0.0) + (s.endNs - s.startNs - covered) / 1e6
      }
    }
    self.toMap
  }

  def sumCounts(all: Iterable[Map[String, Double]]): Map[String, Double] =
    all.flatten.groupMapReduce(_._1)(_._2)(_ + _)
}

package kgbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** HTTP load against `Server.start`: closed loops with a fixed number of
  * clients, and an open loop that sends on a fixed schedule. Latency is
  * counted from each request's due time, so a stall also bills the requests
  * queued behind it. */
object Serve {

  private val mapper = new ObjectMapper()

  /** One request: `doc` indexes the input texts; times are System.nanoTime. */
  final case class Resp(doc: Int, status: Int, dueNs: Long, sentNs: Long,
      doneNs: Long, rows: String) {
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    def lateMs: Double = (sentNs - dueNs) / 1e6
    def ok: Boolean = status / 100 == 2
  }

  def body(text: String): Array[Byte] =
    mapper.writeValueAsBytes(Map("text" -> text).asJava)

  /** The response's mapped mentions as sorted `start end class obj` lines,
    * in the shape of `Triples.fromDoc`. */
  def rows(json: com.fasterxml.jackson.databind.JsonNode): String = {
    val out = for {
      s <- json.path("sections").elements().asScala
      e <- s.path("entities").elements().asScala
      m <- e.path("mappings").elements().asScala
    } yield {
      val spans = e.path("spans").elements().asScala.toSeq
      val start = if (spans.isEmpty) 0 else spans.map(_.path("start").asInt).min
      val end = if (spans.isEmpty) 0 else spans.map(_.path("end").asInt).max
      val (idx, src) = (m.path("idx").asText, m.path("source").asText)
      val obj = if (idx.startsWith(src + ":")) idx else s"$src:$idx"
      s"$start\t$end\t${e.path("entity_class").asText}\t$obj"
    }
    out.toSeq.sorted.mkString("\n")
  }

  /** One keep-alive HTTP/1.1 connection that writes each request as a
    * single segment, so client-side Nagle never delays a request body. */
  final class Conn(port: Int, path: String) {
    private var sock: java.net.Socket = _
    private var in: java.io.BufferedInputStream = _

    private def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n' && c >= 0) { if (c != '\r') sb += c.toChar; c = in.read() }
      if (c < 0) throw new java.io.EOFException("connection closed")
      sb.toString
    }

    def post(body: Array[Byte]): (Int, Array[Byte]) = {
      if (sock == null) {
        sock = new java.net.Socket("localhost", port)
        sock.setTcpNoDelay(true); sock.setSoTimeout(5000)
        in = new java.io.BufferedInputStream(sock.getInputStream)
      }
      val head = (s"POST $path HTTP/1.1\r\nHost: localhost:$port\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      sock.getOutputStream.write(head ++ body)
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        if (h.toLowerCase.startsWith("content-length:")) len = h.substring(15).trim.toInt
        h = line()
      }
      (status, in.readNBytes(len))
    }

    def close(): Unit = if (sock != null) { sock.close(); sock = null }
  }

  def send(conn: Conn, payload: Array[Byte], doc: Int, dueNs: Long): Resp = {
    val sent = System.nanoTime()
    try {
      val (status, bytes) = conn.post(payload)
      val done = System.nanoTime()
      Resp(doc, status, dueNs, sent, done,
        if (status / 100 == 2) rows(mapper.readTree(bytes)) else "")
    } catch {
      case _: java.io.IOException =>
        conn.close()
        Resp(doc, 0, dueNs, sent, System.nanoTime(), "")
    }
  }

  /** `n` client threads, each with its own connection. */
  private def workers(n: Int, port: Int, path: String)(body: Conn => Unit): Unit = {
    val ts = (0 until n).map { w =>
      new Thread(() => { val c = new Conn(port, path); try body(c) finally c.close() },
        s"kgbench-client-$w")
    }
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  /** `clients` callers, each sending its next request when the previous
    * one returns, for `seconds` or until `count` requests have gone out;
    * docs are taken in `order`, round robin. */
  def closedLoop(port: Int, path: String, payloads: IndexedSeq[Array[Byte]], order: IndexedSeq[Int],
      clients: Int, seconds: Double = 1e6, count: Int = Int.MaxValue): Seq[Resp] = {
    val next = new AtomicInteger(0)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Resp]()
    workers(clients, port, path) { conn =>
      var i = next.getAndIncrement()
      while (i < count && System.nanoTime() < end) {
        val d = order(i % order.length)
        out.add(send(conn, payloads(d), d, System.nanoTime()))
        i = next.getAndIncrement()
      }
    }
    out.asScala.toSeq
  }

  /** Open loop at `rate` requests/s for `seconds`: request i is due at
    * start + i / rate and goes out on the first free connection of `conns`;
    * docs are taken in `order` from position `from` on. */
  def openLoop(port: Int, path: String, payloads: IndexedSeq[Array[Byte]], order: IndexedSeq[Int],
      rate: Double, seconds: Double, conns: Int, from: Int = 0): Seq[Resp] = {
    val n = math.max(1, (rate * seconds).toInt)
    val next = new AtomicInteger(0)
    val start = System.nanoTime() + 1000000L
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Resp]()
    workers(conns, port, path) { conn =>
      var i = next.getAndIncrement()
      while (i < n) {
        val due = start + (i * 1e9 / rate).toLong
        var wait = due - System.nanoTime()
        while (wait > 0) { java.util.concurrent.locks.LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
        val d = order((from + i) % order.length)
        out.add(send(conn, payloads(d), d, due))
        i = next.getAndIncrement()
      }
    }
    out.asScala.toSeq.sortBy(_.dueNs)
  }
}

package perfbench

import java.io._
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import graft.sdk.GraftClient
import graft.server.native.NativeClient

/** Values as every protocol renders them, normalised so that the same
  * result compares equal whichever path carried it: numbers to their
  * plain decimal form, NULL to one marker. */
object Norm {
  private val Num = """-?\d+(\.\d+)?([eE][-+]?\d+)?""".r
  val Null = "\\N"

  def apply(v: Any): String = v match {
    case null => Null
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else num(d.toString)
    case f: Float => apply(f.toDouble)
    case b: java.math.BigDecimal => num(b.toPlainString)
    case s: String => if (Num.matches(s)) num(s) else s
    case other => apply(other.toString)
  }

  private def num(s: String): String = {
    val b = new java.math.BigDecimal(s).stripTrailingZeros()
    if (b.signum == 0) "0" else b.toPlainString
  }

  def row(r: Seq[Any]): String = r.map(apply).mkString("\u0001")

  /** Order-insensitive fingerprint of a row set: count and a sum of
    * per-row 64-bit hashes. */
  def fingerprint(rows: Iterator[String]): (Long, Long) = {
    var n = 0L; var h = 0L
    rows.foreach { r => n += 1; h += hash64(r) }
    (n, h)
  }

  def hash64(s: String): Long = {
    val b = s.getBytes(UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x1b873593)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
}

/** Counts the bytes a client reads off its socket. */
final class CountingInputStream(in: InputStream) extends FilterInputStream(in) {
  @volatile var count = 0L
  override def read(): Int = { val b = super.read(); if (b >= 0) count += 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = super.read(b, off, len); if (n > 0) count += n; n
  }
}

/** One client connection to a serving tier. `query` returns the
  * result rows as normalised strings and throws on a server error. */
trait Conn {
  def proto: String
  def query(sql: String): Seq[String]
  /** Bytes received so far (0 where the transport hides them). */
  def bytesIn: Long
  def close(): Unit
}

/** Minimal PostgreSQL v3 simple-query client. */
final class PgConn(port: Int) extends Conn {
  val proto = "pgwire"
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val counted = new CountingInputStream(new BufferedInputStream(sock.getInputStream))
  private val in = new DataInputStream(counted)
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  locally {
    val body = new ByteArrayOutputStream()
    val d = new DataOutputStream(body)
    d.writeInt(196608)
    for ((k, v) <- Seq("user" -> "bench", "database" -> "default")) {
      d.write(k.getBytes(UTF_8)); d.writeByte(0); d.write(v.getBytes(UTF_8)); d.writeByte(0)
    }
    d.writeByte(0)
    out.writeInt(4 + body.size()); body.writeTo(out); out.flush()
    drain(_ => ())
  }

  def bytesIn: Long = counted.count

  /** Reads messages through ReadyForQuery; returns the error message
    * if the server sent one. */
  private def drain(onRow: Array[Byte] => Unit): Option[String] = {
    var err: Option[String] = None
    var done = false
    while (!done) {
      val tpe = in.readUnsignedByte().toChar
      val payload = new Array[Byte](in.readInt() - 4)
      in.readFully(payload)
      tpe match {
        case 'D' => onRow(payload)
        case 'E' => err = Some(errorText(payload))
        case 'Z' => done = true
        case _ =>
      }
    }
    err
  }

  private def errorText(p: Array[Byte]): String = {
    var i = 0; var msg = "error"
    while (i < p.length && p(i) != 0) {
      val code = p(i).toChar
      val end = p.indexOf(0.toByte, i + 1)
      if (code == 'M') msg = new String(p, i + 1, end - i - 1, UTF_8)
      i = end + 1
    }
    msg
  }

  def query(sql: String): Seq[String] = {
    val b = sql.getBytes(UTF_8)
    out.writeByte('Q'); out.writeInt(4 + b.length + 1); out.write(b); out.writeByte(0)
    out.flush()
    val rows = Seq.newBuilder[String]
    drain { p =>
      val d = new DataInputStream(new ByteArrayInputStream(p))
      val n = d.readShort()
      rows += Norm.row((0 until n).map { _ =>
        val len = d.readInt()
        if (len < 0) null else { val v = new Array[Byte](len); d.readFully(v); new String(v, UTF_8) }
      })
    }.foreach(e => throw new RuntimeException(s"pgwire: $e"))
    rows.result()
  }

  def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: IOException => }
    sock.close()
  }
}

/** `POST /query` over HTTP/1.1. */
final class HttpConn(port: Int) extends Conn {
  val proto = "http"
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/query")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  @volatile private var received = 0L
  def bytesIn: Long = received

  def query(sql: String): Seq[String] = {
    val req = HttpRequest.newBuilder(uri)
      .POST(HttpRequest.BodyPublishers.ofString(s"""{"query": ${Stats.jsonStr(sql)}}""")).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    received += r.body().length
    val tree = mapper.readTree(r.body())
    if (r.statusCode() != 200) throw new RuntimeException(s"http ${r.statusCode()}: ${tree.path("error").asText()}")
    import scala.jdk.CollectionConverters._
    tree.path("data").elements().asScala.map { row =>
      Norm.row(row.elements().asScala.map { v =>
        if (v.isNull) null else if (v.isNumber) v.numberValue() match {
          case d: java.lang.Double => d.doubleValue()
          case n => n.toString
        } else v.asText()
      }.toSeq)
    }.toSeq
  }

  def close(): Unit = ()
}

/** The native protocol through the SDK's pooled client. The SDK does
  * not expose its socket, so [[NativeConn.countedBytes]] re-issues a
  * statement on a raw client whose input stream is counted. */
final class NativeConn(port: Int) extends Conn {
  val proto = "native"
  val sdk: GraftClient = GraftClient.open(GraftClient.Options(
    port = port, maxOpenConns = 1, maxIdleConns = 1))
  def bytesIn: Long = 0L

  def query(sql: String): Seq[String] =
    sdk.query(sql).rows.map(r => Norm.row(r.values))

  private var raw: Option[(NativeClient, CountingInputStream)] = None

  private def rawClient(): (NativeClient, CountingInputStream) = raw.getOrElse {
    val c = new NativeClient("127.0.0.1", port)
    val f = classOf[NativeClient].getDeclaredField("in")
    f.setAccessible(true)
    val counted = new CountingInputStream(f.get(c).asInstanceOf[InputStream])
    f.set(c, counted)
    c.hello()
    raw = Some((c, counted))
    (c, counted)
  }

  /** Bytes the server sends for `sql` on the native protocol, and the
    * row count. */
  def countedBytes(sql: String): (Long, Int) = {
    val (c, counted) = rawClient()
    val before = counted.count
    val (_, rows) = c.query(sql)
    (counted.count - before, rows.size)
  }

  def close(): Unit = {
    sdk.close()
    raw.foreach(_._1.close())
  }
}

package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import graft.server.PgWire

/** What one statement returned, as the client saw it. */
final case class WireResult(rows: Long, fp: Fingerprint, bytes: Long, tag: String,
    error: Option[String], firstRowNs: Long, phases: Map[String, Long],
    firstRow: Seq[Option[String]], messages: Long) {
  def ok: Boolean = error.isEmpty
}

/** A thin PostgreSQL protocol-3 client on the engine's own framing
  * (`graft.server.PgWire`): simple queries, extended queries with Bind
  * parameters and paged Execute, COPY OUT and COPY IN. With `split` the
  * extended protocol sends one message at a time and waits on a Flush
  * for its reply, so parse, bind, describe, first row and drain are
  * timed apart; without it the messages go out in one write. */
final class WireClient(port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.connect(new InetSocketAddress("127.0.0.1", port), 15000)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val rawOut = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
  private val out = new PgWire.Out(rawOut)

  /** Backend process id the server announced (its job group key). */
  var pid: Int = -1
  /** Protocol messages received so far. */
  var messages: Long = 0L

  startup()

  private def startup(): Unit = {
    val body = new ByteArrayOutputStream()
    val d = new DataOutputStream(body)
    d.writeInt(196608)
    Seq("user" -> "postgres", "database" -> "postgres").foreach { case (k, v) =>
      d.write(k.getBytes(UTF_8)); d.writeByte(0); d.write(v.getBytes(UTF_8)); d.writeByte(0)
    }
    d.writeByte(0)
    rawOut.writeInt(4 + body.size); body.writeTo(rawOut); rawOut.flush()
    var ready = false
    while (!ready) {
      val m = read()
      m.tag match {
        case 'R' => require(java.nio.ByteBuffer.wrap(m.body).getInt == 0,
          "server asked for a password; the benchmark serves without one")
        case 'K' => pid = java.nio.ByteBuffer.wrap(m.body).getInt
        case 'E' => throw new IllegalStateException("startup failed: " + errorText(m.body))
        case 'Z' => ready = true
        case _ =>
      }
    }
  }

  private var received = 0L
  private def read(): PgWire.Message = {
    val m = PgWire.readMessage(in)
    messages += 1
    received += 5 + m.body.length
    m
  }

  private def cstr(d: DataOutputStream, s: String): Unit = {
    d.write(s.getBytes(UTF_8)); d.writeByte(0)
  }

  private def errorText(body: Array[Byte]): String = {
    val fields = new String(body, UTF_8).split("\u0000").filter(_.nonEmpty)
    val code = fields.find(_.startsWith("C")).map(_.drop(1)).getOrElse("?????")
    val msg = fields.find(_.startsWith("M")).map(_.drop(1)).getOrElse("")
    s"$code $msg"
  }

  /** Fields of a DataRow body. */
  private def dataRow(body: Array[Byte]): Seq[Option[Array[Byte]]] = {
    val b = java.nio.ByteBuffer.wrap(body)
    val n = b.getShort.toInt
    (0 until n).map { _ =>
      val len = b.getInt
      if (len < 0) None else { val v = new Array[Byte](len); b.get(v); Some(v) }
    }
  }

  /** Reads replies until `stop` says so; folds DataRow and CopyData
    * rows. CopyData rows are whole lines (text) or binary-COPY tuples;
    * the binary header and trailer are framing, not rows. */
  private final class Reader(t0: Long) {
    var rows = 0L
    var fp = Fingerprint.Empty
    var tag = ""
    var error: Option[String] = None
    var firstRowNs = -1L
    var firstRow: Seq[Option[String]] = Nil
    private val startBytes = received
    private val startMessages = messages
    def bytes: Long = received - startBytes
    private def row(fields: Seq[Option[Array[Byte]]]): Unit = {
      if (firstRowNs < 0) {
        firstRowNs = System.nanoTime() - t0
        firstRow = fields.map(_.map(new String(_, UTF_8)))
      }
      rows += 1
      fp = fp + Fingerprint(1, Fingerprint.hashWireRow(fields))
    }
    /** Handle one message; returns its tag. */
    def step(): Char = {
      val m = read()
      m.tag match {
        case 'D' => row(dataRow(m.body))
        case 'd' =>
          val b = m.body
          val framing = java.util.Arrays.equals(b, PgWire.CopyBinaryHeader) ||
            java.util.Arrays.equals(b, PgWire.CopyBinaryTrailer)
          if (!framing) row(Seq(Some(b)))
        case 'C' => tag = new String(m.body, 0, m.body.length - 1, UTF_8)
        case 'E' => if (error.isEmpty) error = Some(errorText(m.body))
        case _ =>
      }
      m.tag
    }
    def until(tags: Char*): Char = {
      var t = step()
      while (!tags.contains(t)) t = step()
      t
    }
    def result(phases: Map[String, Long] = Map.empty): WireResult =
      WireResult(rows, fp, bytes, tag, error, firstRowNs, phases, firstRow,
        messages - startMessages)
  }

  /** Simple-protocol query (also COPY ... TO STDOUT). */
  def simple(sql: String): WireResult = {
    val t0 = System.nanoTime()
    val r = new Reader(t0)
    out.msg('Q')(cstr(_, sql)); out.flush()
    r.until('Z')
    r.result()
  }

  /** `COPY ... FROM STDIN` of `payload` (text format), sent in chunks. */
  def copyIn(sql: String, payload: Array[Byte]): WireResult = {
    val t0 = System.nanoTime()
    val r = new Reader(t0)
    out.msg('Q')(cstr(_, sql)); out.flush()
    val t = r.until('G', 'Z')
    if (t == 'G') {
      var off = 0
      while (off < payload.length) {
        val n = math.min(1 << 16, payload.length - off)
        out.msg('d')(_.write(payload, off, n))
        off += n
      }
      out.msg('c')(_ => ()); out.flush()
      r.until('Z')
    }
    r.result()
  }

  /** Extended protocol: Parse, Bind (text parameters), Describe,
    * Execute in pages of `pageRows` (0 = all), Sync. */
  def extended(sql: String, params: Seq[String], binary: Boolean,
      pageRows: Int, split: Boolean): WireResult = {
    val t0 = System.nanoTime()
    val r = new Reader(t0)
    val phases = scala.collection.mutable.LinkedHashMap[String, Long]()
    var mark = t0
    def lap(name: String): Unit = if (split) {
      val now = System.nanoTime(); phases(name) = now - mark; mark = now
    }
    def flushAndWait(tags: Char*): Char = {
      if (split) { out.msg('H')(_ => ()); out.flush(); r.until(tags: _*) } else ' '
    }
    out.msg('P') { d => cstr(d, ""); cstr(d, sql); d.writeShort(0) }
    if (flushAndWait('1', 'E') == 'E') return finish(r, phases)
    lap("parse")
    out.msg('B') { d =>
      cstr(d, ""); cstr(d, "")
      d.writeShort(0)
      d.writeShort(params.size)
      params.foreach { p => val b = p.getBytes(UTF_8); d.writeInt(b.length); d.write(b) }
      d.writeShort(1); d.writeShort(if (binary) 1 else 0)
    }
    if (flushAndWait('2', 'E') == 'E') return finish(r, phases)
    lap("bind")
    out.msg('D') { d => d.writeByte('P'); cstr(d, "") }
    if (flushAndWait('T', 'n', 'E') == 'E') return finish(r, phases)
    lap("describe")
    var more = true
    var firstLap = true
    while (more) {
      out.msg('E') { d => cstr(d, ""); d.writeInt(pageRows) }
      out.msg('H')(_ => ()); out.flush()
      var t = r.step()
      while (!"sCIE".contains(t)) {
        if (split && firstLap && t == 'D') { lap("first_row"); firstLap = false }
        t = r.step()
      }
      more = t == 's'
    }
    if (split && firstLap) lap("first_row")
    lap("drain")
    finish(r, phases)
  }

  private def finish(r: Reader, phases: scala.collection.mutable.Map[String, Long]): WireResult = {
    out.msg('S')(_ => ()); out.flush()
    r.until('Z')
    r.result(phases.toMap)
  }

  override def close(): Unit = {
    try { out.msg('X')(_ => ()); out.flush() } catch { case _: Throwable => }
    sock.close()
  }
}

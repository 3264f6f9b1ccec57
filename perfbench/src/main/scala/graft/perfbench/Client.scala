package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** How a read statement's Arrow result is fetched: `fetch_arrow` (one
  * frame holding the whole IPC stream) or paged `fetch_arrow_stream`
  * (`pageFrames` frames per call, resumed with `offset_frame`). */
sealed trait FetchMode
case object Whole extends FetchMode
final case class Paged(pageFrames: Int) extends FetchMode

/** One read statement as the client saw it. Times are milliseconds; the
  * statement's latency runs from prepare sent to close answered, less the
  * second fetch a traced run adds. */
final case class ReadSample(
    handle: String,
    startNs: Long,
    endNs: Long,
    prepareMs: Double,
    bindMs: Double,
    executeMs: Double,
    firstBatchMs: Double,   // execute sent → first record-batch frame in
    lastFrameMs: Double,    // execute sent → last frame in
    fetchMs: Double,        // first fetch verb(s) of the handle
    refetchMs: Double,      // second fetch of the handle (traced runs only)
    closeMs: Double,
    bytes: Long,
    frames: Int,
    ipc: Array[Byte]) {
  def totalMs: Double = (endNs - startNs) / 1e6 - refetchMs
}

/** A client of the framed-JSON socket protocol (4-byte big-endian length
  * + UTF-8 JSON, Arrow IPC payload frames after a fetch header), the same
  * verbs a Flight-SQL-style client sends. Records client-side verb spans
  * into [[Tracer]] while tracing is on. */
final class Client(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
  private val mapper = new ObjectMapper()
  private var token: String = _

  private def send(fields: (String, Any)*): Unit = {
    val o = mapper.createObjectNode()
    fields.foreach {
      case (k, v: String) => o.put(k, v)
      case (k, v: Int) => o.put(k, v)
      case (k, v: Seq[_]) =>
        val a = o.putArray(k); v.foreach(x => a.add(x.toString))
      case (k, v) => throw new IllegalArgumentException(s"$k: $v")
    }
    val b = o.toString.getBytes(UTF_8)
    out.writeInt(b.length); out.write(b); out.flush()
  }

  private def frame(): Array[Byte] = {
    val b = new Array[Byte](in.readInt()); in.readFully(b); b
  }

  private def header(): JsonNode = {
    val h = mapper.readTree(new String(frame(), UTF_8))
    if (!h.get("ok").asBoolean())
      throw new IllegalStateException(h.path("error").asText("server error"))
    h
  }

  private def call(fields: (String, Any)*): JsonNode = { send(fields: _*); header() }

  def handshake(user: String = "admin", password: String = "password"): Unit =
    token = call("cmd" -> "handshake", "user" -> user, "password" -> password)
      .get("token").asText()

  def closeSession(): Unit = call("cmd" -> "close_session", "token" -> token)

  /** DDL/DML round trip (`execute_update`). */
  def update(sql: String): Unit = call("cmd" -> "execute_update", "token" -> token, "sql" -> sql)

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** prepare → bind → execute → fetch → close. With `refetch`, fetches
    * the handle a second time (served from the engine's cached encoding). */
  def read(sql: String, params: Seq[String], mode: FetchMode,
      refetch: Boolean = false): ReadSample = {
    val t0 = System.nanoTime()
    val handle = call("cmd" -> "prepare", "token" -> token, "sql" -> sql)
      .get("handle").asText()
    val t1 = System.nanoTime()
    if (params.nonEmpty) call("cmd" -> "bind", "handle" -> handle, "params" -> params)
    val t2 = System.nanoTime()
    call("cmd" -> "execute", "handle" -> handle)
    val t3 = System.nanoTime()
    val (ipc, frames, tFirst) = fetch(handle, mode)
    val t4 = System.nanoTime()
    val refetchMs = if (refetch) { fetch(handle, mode); ms(t4, System.nanoTime()) } else 0.0
    val t5 = System.nanoTime()
    call("cmd" -> "close_statement", "handle" -> handle)
    val t6 = System.nanoTime()
    if (Tracer.on) {
      val st = Tracer.record("statement", t0, t6, handle, parent = 0L)
      Tracer.record("prepare", t0, t1, handle, st)
      if (params.nonEmpty) Tracer.record("bind", t1, t2, handle, st)
      Tracer.record("execute", t2, t3, handle, st)
      Tracer.record("fetch", t3, t4, handle, st)
      if (refetch) Tracer.record("refetch", t4, t5, handle, st)
      Tracer.record("close", t5, t6, handle, st)
    }
    ReadSample(handle, t0, t6, ms(t0, t1), ms(t1, t2), ms(t2, t3),
      ms(t2, tFirst), ms(t2, t4), ms(t3, t4), refetchMs, ms(t5, t6),
      ipc.length.toLong, frames, ipc)
  }

  /** Returns (IPC stream, frames received, nanoTime of the first
    * record-batch frame). */
  private def fetch(handle: String, mode: FetchMode): (Array[Byte], Int, Long) = mode match {
    case Whole =>
      call("cmd" -> "fetch_arrow", "handle" -> handle)
      val b = frame()
      (b, 1, System.nanoTime())
    case Paged(page) =>
      val buf = new java.io.ByteArrayOutputStream()
      var next = 0; var frames = 0; var tFirst = 0L
      while (next >= 0) {
        val h = call("cmd" -> "fetch_arrow_stream", "handle" -> handle,
          "max_frames" -> page, "offset_frame" -> next)
        (0 until h.get("frames").asInt()).foreach { _ =>
          buf.write(frame())
          frames += 1
          if (frames == 2 && tFirst == 0L) tFirst = System.nanoTime() // frame 0 is the schema
        }
        next = h.get("next_frame").asInt()
      }
      (buf.toByteArray, frames, if (tFirst == 0L) System.nanoTime() else tFirst)
  }

  override def close(): Unit = sock.close()
}

package workbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** A Postgres v3 simple-query client: one connection, trust auth.
  * `query` returns the text rows of every result set of the statement
  * (or `;`-batch) and fails on an ErrorResponse. */
final class PgClient(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  locally {
    val payload = new java.io.ByteArrayOutputStream()
    val d = new DataOutputStream(payload)
    d.writeInt(196608)
    Seq("user" -> "bench", "database" -> "graft").foreach { case (k, v) =>
      d.write(k.getBytes(UTF_8)); d.writeByte(0); d.write(v.getBytes(UTF_8)); d.writeByte(0)
    }
    d.writeByte(0)
    out.writeInt(4 + payload.size()); payload.writeTo(out); out.flush()
    readUntilReady()
  }

  def query(sql: String): Seq[IndexedSeq[Option[String]]] = {
    val b = sql.getBytes(UTF_8)
    out.writeByte('Q'); out.writeInt(4 + b.length + 1); out.write(b); out.writeByte(0)
    out.flush()
    readUntilReady()
  }

  private def readUntilReady(): Seq[IndexedSeq[Option[String]]] = {
    val rows = mutable.ArrayBuffer.empty[IndexedSeq[Option[String]]]
    var error: Option[String] = None
    var done = false
    while (!done) {
      val tpe = in.readByte().toChar
      val body = new Array[Byte](in.readInt() - 4)
      in.readFully(body)
      tpe match {
        case 'D' =>
          val d = new DataInputStream(new java.io.ByteArrayInputStream(body))
          rows += (0 until d.readShort()).map { _ =>
            val n = d.readInt()
            if (n < 0) None else { val v = new Array[Byte](n); d.readFully(v); Some(new String(v, UTF_8)) }
          }
        case 'E' =>
          error = Some(body.map(c => if (c == 0) ' ' else c.toChar).mkString.trim)
        case 'Z' => done = true
        case _ =>
      }
    }
    error.foreach(e => throw new RuntimeException(s"pgwire error: $e"))
    rows.toSeq
  }

  def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Throwable => }
    sock.close()
  }
}

/** A client of the HTTP JSON front door. Each request opens and closes
  * its own connection (the JVM runs with `http.keepAlive=false`), so the
  * client holds at most one connection, and none between requests. */
final class HttpClient(port: Int) {
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  private def post(path: String, body: String): com.fasterxml.jackson.databind.JsonNode = {
    val c = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      c.setRequestMethod("POST"); c.setDoOutput(true)
      val out = c.getOutputStream
      out.write(body.getBytes(UTF_8)); out.close()
      if (c.getResponseCode != 200) {
        val err = Option(c.getErrorStream).map(s => new String(s.readAllBytes(), UTF_8)).getOrElse("")
        throw new RuntimeException(s"HTTP ${c.getResponseCode}: ${err.take(300)}")
      }
      val in = c.getInputStream
      try om.readTree(in) finally in.close()
    } finally c.disconnect()
  }

  def query(sql: String): Seq[Map[String, com.fasterxml.jackson.databind.JsonNode]] = {
    val rows = post("/query", sql).get("rows")
    (0 until rows.size()).map { i =>
      val m = mutable.LinkedHashMap.empty[String, com.fasterxml.jackson.databind.JsonNode]
      rows.get(i).fields().forEachRemaining(e => m(e.getKey) = e.getValue)
      m.toMap
    }
  }

  def tx(sql: String): Long = post("/tx", sql).get("txId").asLong()
}

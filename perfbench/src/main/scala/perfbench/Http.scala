package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

/** One keep-alive HTTP/1.1 connection for a closed-loop client: POST with
  * Content-Length, read status, headers and a Content-Length or chunked
  * body. Blocking I/O and TCP_NODELAY, so a timing is the server's work
  * plus one loopback round trip and nothing of a client framework. */
final class Http(port: Int) extends AutoCloseable {
  private val socket = new Socket()
  socket.setTcpNoDelay(true)
  socket.connect(new InetSocketAddress("127.0.0.1", port))
  socket.setSoTimeout(60000)
  private val out = new BufferedOutputStream(socket.getOutputStream)
  private val in = new BufferedInputStream(socket.getInputStream)
  private val head = s"Host: 127.0.0.1:$port\r\nContent-Type: application/json\r\n"

  /** Returns (status, body). */
  def post(path: String, body: String): (Int, String) = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    out.write(s"POST $path HTTP/1.1\r\n${head}Content-Length: ${b.length}\r\n\r\n"
      .getBytes(StandardCharsets.US_ASCII))
    out.write(b)
    out.flush()
    val statusLine = line()
    val status = statusLine.split(' ')(1).toInt
    var length = -1
    var chunked = false
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (i > 0) {
        val k = h.substring(0, i).trim
        val v = h.substring(i + 1).trim
        if (k.equalsIgnoreCase("content-length")) length = v.toInt
        else if (k.equalsIgnoreCase("transfer-encoding") && v.equalsIgnoreCase("chunked")) chunked = true
      }
      h = line()
    }
    val text =
      if (chunked) {
        val sb = new java.lang.StringBuilder
        var n = Integer.parseInt(line().trim, 16)
        while (n > 0) {
          sb.append(new String(bytes(n), StandardCharsets.UTF_8))
          line()
          n = Integer.parseInt(line().trim, 16)
        }
        line()
        sb.toString
      } else {
        require(length >= 0, s"response without framing: $statusLine")
        new String(bytes(length), StandardCharsets.UTF_8)
      }
    (status, text)
  }

  private def bytes(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r <= 0) throw new java.io.EOFException("connection closed mid-body")
      off += r
    }
    buf
  }

  private def line(): String = {
    val sb = new java.lang.StringBuilder(64)
    var c = in.read()
    if (c == -1) throw new java.io.EOFException("connection closed")
    while (c != -1 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  override def close(): Unit = socket.close()
}

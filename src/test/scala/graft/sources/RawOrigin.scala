package graft.sources

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** An in-process HTTP/1.1 origin on raw sockets, for client wire tests.
  * Each accepted connection gets a daemon thread that reads request heads
  * and answers each with `respond(n, head)`, where `n` counts requests over
  * all connections from 0 and `head` is the request head as sent, CRLFs
  * kept. A reply goes out in one write; a `stall` reply is never answered.
  */
final class RawOrigin(respond: (Int, String) => RawOrigin.Reply) extends AutoCloseable {
  private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
  private val sockets = ConcurrentHashMap.newKeySet[Socket]()
  private val count = new AtomicInteger()
  /** Connections accepted so far. */
  val accepted = new AtomicInteger()
  private val heads = new ConcurrentLinkedQueue[String]()

  daemon("raw-origin-accept") { () =>
    try while (true) {
      val s = server.accept()
      sockets.add(s)
      accepted.incrementAndGet()
      daemon("raw-origin")(() => serve(s))
    } catch { case _: java.io.IOException => () } // closed
  }

  def port: Int = server.getLocalPort
  def url(path: String): String = s"http://127.0.0.1:$port$path"
  /** Request heads received so far, in arrival order. */
  def requests: List[String] = heads.asScala.toList

  override def close(): Unit = { server.close(); sockets.forEach(s => s.close()) }

  private def daemon(name: String)(body: Runnable): Unit = {
    val t = new Thread(body, name); t.setDaemon(true); t.start()
  }

  private def serve(s: Socket): Unit =
    try {
      val in = new BufferedInputStream(s.getInputStream)
      var head = RawOrigin.readHead(in)
      while (head != null) {
        heads.add(head)
        val r = respond(count.getAndIncrement(), head)
        if (!r.stall) {
          s.getOutputStream.write(r.bytes)
          s.getOutputStream.flush()
        }
        head = if (r.close) null else RawOrigin.readHead(in)
      }
    } catch { case _: java.io.IOException => () }
    finally { sockets.remove(s); s.close() }
}

object RawOrigin {
  final case class Reply(bytes: Array[Byte], close: Boolean = false, stall: Boolean = false)

  def raw(text: String, close: Boolean = false): Reply = Reply(text.getBytes(UTF_8), close)

  /** A 200 with a `Content-Length` body and the given header lines. */
  def ok(body: String, headers: String*): Reply = {
    val b = body.getBytes(UTF_8)
    Reply(("HTTP/1.1 200 OK\r\n" + headers.map(_ + "\r\n").mkString +
      s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b)
  }

  val Stall: Reply = Reply(Array.emptyByteArray, stall = true)

  /** A request head up to its empty line, or null at end of stream. */
  def readHead(in: InputStream): String = {
    val head = new java.io.ByteArrayOutputStream()
    var last4 = 0
    var c = in.read()
    while (c >= 0) {
      head.write(c)
      last4 = last4 << 8 | c
      if (last4 == 0x0d0a0d0a) return head.toString(ISO_8859_1)
      c = in.read()
    }
    null
  }
}

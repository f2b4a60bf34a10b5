package perfbench

import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** A loopback TCP relay in front of the ClickHouse endpoint that counts the
  * bytes the sink sends — the `sink.bytes_sent` counter of a traced run.
  * One thread per direction per connection. */
final class ByteProxy(targetPort: Int) extends AutoCloseable {
  val bytesUp = new AtomicLong()
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(InetAddress.getLoopbackAddress, 0))
  def url: String = s"http://127.0.0.1:${server.getLocalPort}"
  private val sockets = new ConcurrentLinkedQueue[Socket]()
  private val threads = new ConcurrentLinkedQueue[Thread]()

  private def start(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => try body catch { case _: java.io.IOException => () }, name)
    t.setDaemon(true)
    threads.add(t)
    t.start()
  }

  private def pump(from: Socket, to: Socket, count: Option[AtomicLong]): Unit = {
    val in = from.getInputStream
    val out = to.getOutputStream
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      out.flush()
      count.foreach(_.addAndGet(n))
      n = in.read(buf)
    }
    to.shutdownOutput()
  }

  start("byte-proxy-accept") {
    while (!server.isClosed) {
      val client = server.accept()
      val upstream = new Socket(InetAddress.getLoopbackAddress, targetPort)
      sockets.add(client); sockets.add(upstream)
      start("byte-proxy-up")(pump(client, upstream, Some(bytesUp)))
      start("byte-proxy-down")(pump(upstream, client, None))
    }
  }

  override def close(): Unit = {
    server.close()
    sockets.forEach(s => scala.util.Try(s.close()))
    threads.forEach(_.join(5000))
  }
}

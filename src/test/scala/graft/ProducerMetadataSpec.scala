package graft

import graft.sources.KafkaWire
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** A loopback TCP proxy in front of a broker port that records the
  * (api_key, api_version) of every request frame a client sends
  * through it; responses are piped back unchanged. */
final class RequestCountingProxy(brokerPort: Int) extends AutoCloseable {
  private val server = new java.net.ServerSocket(0)
  val requests = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
  def port: Int = server.getLocalPort

  private def daemon(body: => Unit): Unit = {
    val t = new Thread(() => try body catch { case _: java.io.IOException => })
    t.setDaemon(true)
    t.start()
  }

  daemon {
    while (true) {
      val client = server.accept()
      val broker = new java.net.Socket("localhost", brokerPort)
      daemon(broker.getInputStream.transferTo(client.getOutputStream))
      daemon {
        val in = new java.io.DataInputStream(client.getInputStream)
        val out = broker.getOutputStream
        try while (true) {
          val len = in.readInt()
          val frame = new Array[Byte](len)
          in.readFully(frame)
          val b = java.nio.ByteBuffer.wrap(frame)
          requests.add((b.getShort(0).toInt, b.getShort(2).toInt))
          out.write(java.nio.ByteBuffer.allocate(4).putInt(len).array())
          out.write(frame)
          out.flush()
        } finally { client.close(); broker.close() }
      }
    }
  }

  def close(): Unit = server.close()
}

/** The producer's Metadata round trips: the partition count and the
  * routing view come from ONE Metadata request to the bootstrap. */
class ProducerMetadataSpec extends AnyFunSuite {
  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  test("a producer sends one Metadata request to the bootstrap broker") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    val proxy = new RequestCountingProxy(srv.port)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", proxy.port, "t")
      try {
        prod.send(0, Seq(("k".getBytes(u8), "v".getBytes(u8))), 1L)
        assert(prod.partitions === 1)
      } finally prod.close()
      // the broker advertises its own port, so the data path goes to
      // the leader directly: only control calls cross the proxy
      val metadata = proxy.requests.asScala.count(_._1 == 3)
      assert(metadata === 1, proxy.requests.asScala.toSeq)
      assert(srv.stored("t", 0).map(r => new String(r.value, u8)) === Seq("v"))
    } finally {
      proxy.close()
      srv.stop()
    }
  }
}

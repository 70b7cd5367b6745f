package graft

import graft.sources.KafkaWire

/** KIP-482 FLEXIBLE VERSIONS — the r16 verdict's #6: tagged-field/
  * compact encodings for ApiVersions v3 and Metadata v9, the versions
  * a modern real broker prefers. These specs pin the special cases of
  * the flexible protocol and the one-version-per-API data path:
  *
  *  - ApiVersions v3's RESPONSE header stays v0 (so a client that
  *    guessed too high can still read the error code), and v3 and v0
  *    advertise one api table;
  *  - request header v2 carries a tag buffer after client_id;
  *  - each data-path API advertises exactly the one version the
  *    client sends, and the double serves it. */
class FlexibleVersionsSpec extends SparkSuite {

  test("ApiVersions v3 and v0 advertise the identical api table, and v3 includes itself") {
    val cl = new MiniKafkaCluster(numBrokers = 1, numPartitions = 2)
    try {
      val c = new KafkaWire.Conn("localhost", cl.bootstrapPort)
      try {
        val (e0, v0) = KafkaWire.apiVersions(c)
        val (e3, v3) = KafkaWire.apiVersionsV3(c)
        assert(e0 === 0 && e3 === 0)
        assert(v3 === v0, "one api table, two encodings")
        assert(v3(18) === (0, 3), "the flexible handshake advertises itself")
        assert(v3(3)._2 >= 9, "flexible Metadata advertised")
      } finally c.close()
    } finally cl.stop()
  }

  test("the data path advertises one version per API, the one the client sends, and serves it") {
    val cl = new MiniKafkaCluster(numBrokers = 1, numPartitions = 2)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost",
        cl.bootstrapPort, "t", acks = "all")
      try prod.send(0, (0 until 3).map(i =>
        (s"k$i".getBytes, s"v$i".getBytes)), 1L)
      finally prod.close()
      val c = new KafkaWire.Conn("localhost", cl.bootstrapPort)
      try {
        val (_, apis) = KafkaWire.apiVersions(c)
        // Produce 3, Fetch 9, ListOffsets 2, Metadata 9 — no ranges
        assert(apis(0) === (3, 3) && apis(1) === (9, 9))
        assert(apis(2) === (2, 2) && apis(3) === (9, 9))
        val view = KafkaWire.clusterMetadata(c, "t")
        assert(view.partitions === 2 && view.leaders(0) === 0)
        assert(view.epochOf(0) === cl.leaderEpochOf("t", 0))
        val (recs, hw, nextPos) = KafkaWire.fetch(c, "t", 0, 0L)
        assert(recs.length === 3 && hw === 3L && nextPos === 3L)
        assert(KafkaWire.listOffset(c, "t", 0) === 3L)
        // a version outside the advertised table is not served: the
        // double drops the connection instead of answering
        intercept[java.io.IOException] {
          c.call(1, 4, new KafkaWire.Writer().int32(-1).result())
        }
      } finally c.close()
    } finally cl.stop()
  }
}

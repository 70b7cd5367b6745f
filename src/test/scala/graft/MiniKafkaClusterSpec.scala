package graft

import graft.sources.KafkaWire

/** MULTI-BROKER routing: a real cluster spreads partition leadership
  * over brokers, and a client holding one bootstrap address must
  * DISCOVER the others through metadata, route the data path per
  * partition, and re-route on re-election — the single-broker shape
  * every prior round tested silently assumed away. The double's
  * brokers share state ("replication is instantaneous") but enforce
  * leadership on Produce/Fetch/DeleteRecords for real: landing on a
  * non-leader answers NOT_LEADER_FOR_PARTITION, never data. */
class MiniKafkaClusterSpec extends SparkSuite {

  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  test("metadata exposes every broker and true leaders; non-leaders refuse the data path") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 4)
    try {
      val boot = new KafkaWire.Conn("localhost", cl.bootstrapPort)
      try {
        val view = KafkaWire.clusterMetadata(boot, "t")
        assert(view.brokers.keySet === Set(0, 1))
        assert(view.brokers(0)._2 === cl.port(0))
        assert(view.brokers(1)._2 === cl.port(1))
        // leadership spreads round-robin
        assert(view.leaders === Map(0 -> 0, 1 -> 1, 2 -> 0, 3 -> 1))
        // the bootstrap broker (0) leads p0: direct produce works
        KafkaTestKit.produce(boot, "t", 0,
          Seq(("k".getBytes(u8), "v".getBytes(u8))), 1L)
        // ...but REFUSES p1's data path, loudly and typed
        intercept[KafkaWire.NotLeaderException] {
          KafkaTestKit.produce(boot, "t", 1,
            Seq(("k".getBytes(u8), "v".getBytes(u8))), 1L)
        }
        intercept[KafkaWire.NotLeaderException] {
          KafkaWire.fetch(boot, "t", 1, 0L)
        }
        intercept[KafkaWire.NotLeaderException] {
          KafkaWire.deleteRecords(boot, "t", 1, 0L)
        }
        // offset lookups are leader-only too (the offset index lives
        // with the log); listOffsetsAll routes them per partition
        intercept[KafkaWire.NotLeaderException] {
          KafkaWire.listOffset(boot, "t", 1, -1L)
        }
        assert(KafkaWire.listOffsetsAll(boot, "t", -2L) ===
          Map(0 -> 0L, 1 -> 0L, 2 -> 0L, 3 -> 0L))
        // the leader itself serves p1
        val c1 = KafkaWire.leaderConn("localhost", cl.bootstrapPort, "t", 1)
        try {
          KafkaTestKit.produce(c1, "t", 1,
            Seq(("k1".getBytes(u8), "v1".getBytes(u8))), 1L)
          val (recs, _, _) = KafkaWire.fetch(c1, "t", 1, 0L)
          assert(recs.map(r => new String(r.key, u8)) === Seq("k1"))
        } finally c1.close()
      } finally boot.close()
    } finally cl.stop()
  }

  test("the routing producer reaches every partition from one bootstrap address") {
    val cl = new MiniKafkaCluster(numBrokers = 3, numPartitions = 6)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", cl.bootstrapPort,
        "t", idempotent = true)
      try {
        (0 until 6).foreach { p =>
          prod.send(p, (0 until 5).map(i =>
            (s"k$p-$i".getBytes(u8), "v".getBytes(u8))), 1L)
        }
      } finally prod.close()
      (0 until 6).foreach { p =>
        assert(cl.stored("t", p).length === 5, s"partition $p")
      }
    } finally cl.stop()
  }

  test("a re-election mid-stream: producer and consumer re-route with no loss or duplication") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 1)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", cl.bootstrapPort,
        "t", idempotent = true)
      try {
        prod.send(0, (0 until 10).map(i =>
          (s"a$i".getBytes(u8), "v".getBytes(u8))), 1L)
        assert(cl.leaderOf("t", 0) === 0)
        // the controller moves p0 to broker 1 between sends: the
        // producer's next send hits NOT_LEADER, refreshes its view,
        // and lands on the new leader — sequences are cluster state,
        // so the idempotent stream continues without a gap
        cl.moveLeader("t", 0, 1)
        prod.send(0, (0 until 10).map(i =>
          (s"b$i".getBytes(u8), "v".getBytes(u8))), 2L)
      } finally prod.close()
      assert(cl.stored("t", 0).length === 20)

      // consumer: drain half from the old leader, re-elect, and the
      // SAME logical read continues from the same position — typed
      // NOT_LEADER, re-resolve, zero loss, zero duplication
      var conn = KafkaWire.leaderConn("localhost", cl.bootstrapPort, "t", 0)
      var fetcher = new KafkaWire.GrowingFetcher(conn, "t", 0)
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0L
      val (first, _) = fetcher.fetchAt(pos)
      got ++= first.map(r => new String(r.key, u8))
      pos = first.last.offset + 1
      cl.moveLeader("t", 0, 0) // re-elect back to broker 0
      val e = intercept[KafkaWire.NotLeaderException] { fetcher.fetchAt(pos) }
      assert(e.partition === 0)
      conn.close()
      conn = KafkaWire.leaderConn("localhost", cl.bootstrapPort, "t", 0)
      fetcher = new KafkaWire.GrowingFetcher(conn, "t", 0)
      var done = false
      while (!done) {
        val (recs, hw) = fetcher.fetchAt(pos)
        if (recs.isEmpty) done = true
        else { got ++= recs.map(r => new String(r.key, u8))
          pos = recs.last.offset + 1; done = pos >= hw }
      }
      conn.close()
      assert(got.toSeq === ((0 until 10).map(i => s"a$i") ++
        (0 until 10).map(i => s"b$i")))
    } finally cl.stop()
  }

  test("the DSv2 sink and source work against a multi-broker cluster via one bootstrap") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 4)
    try {
      import spark.implicits._
      (1 to 200).map(i => (s"key$i", s"val$i")).toDF("key", "value")
        .repartition(4)
        .write.format("graft-kafka")
        .option("host", "localhost").option("port", cl.bootstrapPort.toString)
        .option("topic", "t").mode("append").save()
      // murmur2 spreads 200 keys over 4 partitions on 2 brokers; the
      // source's readers each resolve their partition's leader
      val back = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", cl.bootstrapPort.toString)
        .option("topic", "t").load()
      assert(back.count() === 200L)
      assert(back.select("key").as[String].collect().toSet ===
        (1 to 200).map(i => s"key$i").toSet)
      // both brokers actually served data (leaders 0,1,0,1 and murmur2
      // hits all four partitions with 200 distinct keys)
      assert((0 until 4).forall(p => cl.stored("t", p).nonEmpty))
      // a re-election between reads is invisible to a fresh read
      cl.moveLeader("t", 0, 1)
      assert(spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", cl.bootstrapPort.toString)
        .option("topic", "t").load().count() === 200L)
    } finally cl.stop()
  }

  test("pollOnce and the group poll route by leader on a multi-broker cluster") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 4)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", cl.bootstrapPort, "t")
      try (0 until 4).foreach { p =>
        prod.send(p, (0 until 10).map(i =>
          (s"k$p-$i".getBytes(u8), "v".getBytes(u8))), 1L)
      } finally prod.close()
      assert(KafkaWire.pollOnce(spark, "localhost", cl.bootstrapPort, "t")
        .count() === 40L)
      val grouped = graft.sources.KafkaGroup.pollGroup(spark, "localhost",
        cl.bootstrapPort, "t", "gc")
      assert(grouped.count() === 40L)
      // second group poll resumes from the committed positions: empty
      assert(graft.sources.KafkaGroup.pollGroup(spark, "localhost",
        cl.bootstrapPort, "t", "gc").count() === 0L)
    } finally cl.stop()
  }
}

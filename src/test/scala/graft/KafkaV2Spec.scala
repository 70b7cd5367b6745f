package graft

import graft.sources.KafkaWire

/** Record-batch v2 (magic 2) on the wire: Produce v3 / Fetch v9
  * roundtrips with per-record timestamps and headers, compressed
  * batches, and the idempotent producer — broker-side sequence dedup
  * that closes the post-append-drop duplicate WITHOUT the J1
  * absorber, plus epoch fencing of zombie producers.
  *
  * The reference's producer/consumer (collect/producer.py:26-29,
  * collect/consumer.py:152-159) run against a modern broker that
  * speaks exactly this format. */
class KafkaV2Spec extends SparkSuite {

  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  // ── v2 on the wire ──────────────────────────────────────────────────

  test("produce v3 → fetch v9: per-record timestamps and headers survive the wire") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t")
      try {
        // per-record timestamps + headers
        prod.sendRecords(0, Seq(
          KafkaWire.Record(0L, 100L, "k1".getBytes(u8), "기사 1".getBytes(u8),
            Seq("traceId" -> "abc".getBytes(u8), "null-h" -> null)),
          KafkaWire.Record(0L, 250L, "k2".getBytes(u8), "기사 2".getBytes(u8))))
      } finally prod.close()
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        val (recs, hw, _) = KafkaWire.fetch(c, "t", 0, 0L)
        assert(hw == 2L && recs.length == 2)
        assert(recs.map(_.offset) == Seq(0L, 1L))
        assert(recs.map(_.timestamp) == Seq(100L, 250L),
          "v2 keeps per-record timestamps")
        assert(new String(recs(0).value, u8) == "기사 1")
        val hs = recs(0).headers.toMap
        assert(new String(hs("traceId"), u8) == "abc")
        assert(hs("null-h") == null)
        assert(recs(1).headers.isEmpty)
      } finally c.close()
    } finally srv.stop()
  }

  for ((name, codec) <- Seq("gzip" -> KafkaWire.Codec.Gzip,
      "snappy" -> KafkaWire.Codec.Snappy, "lz4" -> KafkaWire.Codec.Lz4)) {
    test(s"v2 $name-compressed batch round-trips the wire; resume inside it drops below-cursor records") {
      val srv = new MiniKafkaServer(numPartitions = 1)
      try {
        val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t")
        try prod.send(0, (0 to 4).map(i =>
          (s"k$i".getBytes(u8), s"기사 본문 $i".getBytes(u8))), 9L, codec = codec)
        finally prod.close()
        assert(srv.storedBatchCodecs("t", 0) == Seq(codec))
        // a v2 batch is atomic: fetching from offset 2 serves the whole
        // batch; pollOnce must emit exactly 2..4 once
        val out = KafkaWire.pollOnce(spark, "localhost", srv.port, "t",
          fromOffset = 2L).collect()
        assert(out.map(_.getAs[Long]("offset")).sorted.toSeq == Seq(2L, 3L, 4L))
        assert(out.map(_.getAs[String]("key")).sorted.toSeq ==
          Seq("k2", "k3", "k4"))
      } finally srv.stop()
    }
  }

  // ── the idempotent producer ─────────────────────────────────────────

  test("idempotent produce: a post-append drop retry is DEDUPED broker-side — no duplicate, no J1 needed") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      srv.dropNextProduceAfterAppend.set(1)
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true)
      try {
        val base = prod.send(0,
          Seq(("k1".getBytes(u8), "v1".getBytes(u8)),
              ("k2".getBytes(u8), "v2".getBytes(u8))), 1L)
        assert(base == 0L, "the dedup ack must carry the ORIGINAL base offset")
        // a second batch continues the sequence cleanly after the retry
        prod.send(0, Seq(("k3".getBytes(u8), "v3".getBytes(u8))), 2L)
      } finally prod.close()
      // KafkaSinkFaultSpec's non-idempotent twin stores 4 records here
      // (the batch lands twice); with sequences the broker dropped the
      // replay — the inversion the r13 verdict asked for
      val stored = srv.stored("t", 0)
      assert(stored.length == 3,
        s"broker must dedup the retried batch, got ${stored.length} records")
      assert(stored.map(r => new String(r.key, u8)) == Seq("k1", "k2", "k3"))
      assert(srv.producesAppended.get() == 2, "exactly two real appends")
    } finally srv.stop()
  }

  test("idempotent produce: a pre-append drop retry still lands exactly once") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      srv.dropNextProduce.set(1)
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true)
      try prod.send(0, Seq(("k".getBytes(u8), "v".getBytes(u8))), 1L)
      finally prod.close()
      assert(srv.stored("t", 0).length == 1)
    } finally srv.stop()
  }

  test("sequence gap is a loud OutOfOrderSequenceException, not silent reordering") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        val (pid, epoch) = KafkaWire.initProducerId(c)
        def batch(seq: Int, v: String) = KafkaWire.encodeRecordBatch(0L,
          Seq(KafkaWire.Record(0L, 1L, null, v.getBytes(u8))),
          producerId = pid, producerEpoch = epoch, baseSequence = seq)
        assert(KafkaWire.produceV3(c, "t", 0, batch(0, "a")) == 0L)
        // skipping sequence 1 must be rejected
        intercept[KafkaWire.OutOfOrderSequenceException] {
          KafkaWire.produceV3(c, "t", 0, batch(2, "b"))
        }
        // the gap record never landed
        assert(srv.stored("t", 0).length == 1)
      } finally c.close()
    } finally srv.stop()
  }

  test("epoch fencing: a re-initialized producer id fences its zombie predecessor") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        // instance A of the producer identified by "pipeline-1"
        val (pidA, epochA) = KafkaWire.initProducerId(c, "pipeline-1")
        // instance B restarts with the same id: same pid, bumped epoch
        val (pidB, epochB) = KafkaWire.initProducerId(c, "pipeline-1")
        assert(pidA == pidB, "a transactional id maps to a stable pid")
        assert(epochB == epochA + 1, "each re-init bumps the epoch")
        // B produces first — establishes the new epoch at the broker
        KafkaWire.produceV3(c, "t", 0, KafkaWire.encodeRecordBatch(0L,
          Seq(KafkaWire.Record(0L, 1L, null, "from-B".getBytes(u8))),
          producerId = pidB, producerEpoch = epochB, baseSequence = 0))
        // the zombie A is FENCED — its produce must not land
        intercept[KafkaWire.ProducerFencedException] {
          KafkaWire.produceV3(c, "t", 0, KafkaWire.encodeRecordBatch(0L,
            Seq(KafkaWire.Record(0L, 1L, null, "from-A".getBytes(u8))),
            producerId = pidA, producerEpoch = epochA, baseSequence = 0))
        }
        val stored = srv.stored("t", 0)
        assert(stored.length == 1 &&
          new String(stored.head.value, u8) == "from-B")
      } finally c.close()
    } finally srv.stop()
  }

  // ── the DSv2 sink/source on the v2 path ─────────────────────────────

  test("graft-kafka sink negotiates v2 and the source reads it back; idempotent option accepted") {
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      import spark.implicits._
      (1 to 20).map(i => (s"key-$i", s"기사 $i")).toDF("key", "value")
        .repartition(2)
        .write.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("idempotent", "true")
        .mode("append").save()
      val all = (0 until 2).flatMap(p => srv.stored("t", p))
      assert(all.length == 20)
      // the source's fetch reads the v2 batches back
      val back = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").load()
      assert(back.count() == 20L)
      assert(back.select("value").collect().map(_.getString(0)).toSet ==
        (1 to 20).map(i => s"기사 $i").toSet)
    } finally srv.stop()
  }

  test("headers round-trip the DSv2 halves: sink headers column -> broker -> includeHeaders read") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("key", StringType), StructField("value", StringType),
        StructField("headers", graft.sources.KafkaWireDataSource.headersType)))
      val rows = Seq(
        Row("k1", "v1", Seq(Row("trace", "abc".getBytes(u8)), Row("nil", null))),
        Row("k2", "v2", null))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
        .write.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").mode("append").save()
      val back = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("includeHeaders", "true").load()
        .orderBy("offset").collect()
      assert(back.length === 2)
      assert(back.head.schema.fieldNames.contains("headers"))
      val h1 = back(0).getAs[scala.collection.Seq[Row]]("headers")
        .map(r => r.getString(0) ->
          Option(r.getAs[Array[Byte]](1)).map(new String(_, u8)))
      assert(h1.toSeq === Seq("trace" -> Some("abc"), "nil" -> None))
      assert(back(1).getAs[scala.collection.Seq[Row]]("headers").isEmpty,
        "a record produced without headers reads as an empty array")
      // without the option the schema stays header-free (opt-in)
      val plain = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").load()
      assert(!plain.schema.fieldNames.contains("headers"))
    } finally srv.stop()
  }

  test("startingTimestamp: the per-partition time lookup starts the read mid-log") {
    import org.apache.spark.sql.streaming.Trigger
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t")
      try {
        // v2 keeps PER-RECORD timestamps — the time index is real
        prod.sendRecords(0, Seq(
          KafkaWire.Record(0L, 1000L, "old1".getBytes(u8), "v".getBytes(u8)),
          KafkaWire.Record(0L, 2000L, "old2".getBytes(u8), "v".getBytes(u8)),
          KafkaWire.Record(0L, 3000L, "new1".getBytes(u8), "v".getBytes(u8)),
          KafkaWire.Record(0L, 4000L, "new2".getBytes(u8), "v".getBytes(u8))))
      } finally prod.close()
      def readFrom(ts: Long) = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("startingTimestamp", ts.toString)
        .load().collect().map(_.getAs[String]("key")).toSeq
      assert(readFrom(2500L) === Seq("new1", "new2"),
        "the batch read must start at the earliest record at/after ts")
      assert(readFrom(2000L) === Seq("old2", "new1", "new2"))
      assert(readFrom(0L) === Seq("old1", "old2", "new1", "new2"))
      // nothing that new: the DEFAULT is the stock connector's 'error'
      // strategy — a mistyped timestamp must not silently read zero
      // rows; opting into 'latest' starts (emptily) at the log end
      val noneThatNew = intercept[Exception] { readFrom(99999L) }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(noneThatNew)
        .exists(_.contains("no offset at/after startingTimestamp")))
      val optedIn = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("startingTimestamp", "99999")
        .option("startingOffsetsByTimestampStrategy", "latest")
        .load().collect()
      assert(optedIn.isEmpty)
      // the streaming initial offset resolves the same way
      val outDir = java.nio.file.Files.createTempDirectory("ts-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("ts-ckpt").toString
      val q = spark.readStream.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("startingTimestamp", "3000").load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      assert(spark.read.parquet(outDir).collect()
        .map(_.getAs[String]("key")).sorted.toSeq === Seq("new1", "new2"))
    } finally srv.stop()
  }

  test("endingTimestamp bounds the batch window; a stream rejects it loudly") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t")
      try prod.sendRecords(0, Seq(
        KafkaWire.Record(0L, 1000L, "a".getBytes(u8), "v".getBytes(u8)),
        KafkaWire.Record(0L, 2000L, "b".getBytes(u8), "v".getBytes(u8)),
        KafkaWire.Record(0L, 3000L, "c".getBytes(u8), "v".getBytes(u8)),
        KafkaWire.Record(0L, 4000L, "d".getBytes(u8), "v".getBytes(u8))))
      finally prod.close()
      val win = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t")
        .option("startingTimestamp", "2000")
        .option("endingTimestamp", "3500") // exclusive: first offset >= it
        .load().collect().map(_.getAs[String]("key")).toSeq
      assert(win === Seq("b", "c"),
        "[startingTimestamp, endingTimestamp) must window the batch read")
      // the rejection fires on the STREAM thread (scan planning), so it
      // surfaces through the query handle, not start()
      val q = spark.readStream.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("endingTimestamp", "3500").load()
        .writeStream.format("noop").start()
      val err = intercept[Exception] {
        try q.processAllAvailable() finally q.stop()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(err).exists(_.contains("bounds a BATCH read")))
    } finally srv.stop()
  }

  test("startingTimestamp and startingOffsets are mutually exclusive, loudly") {
    val err = intercept[Exception] {
      spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", "1").option("topic", "t")
        .option("startingOffsets", "earliest")
        .option("startingTimestamp", "1000").load()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("mutually exclusive")))
  }

  test("v2 compressed sink batch: codec option produces ONE magic-2 batch, read back whole") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      import spark.implicits._
      (1 to 30).map(i => (s"k$i", s"기사 내용 $i")).toDF("key", "value")
        .coalesce(1)
        .write.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("codec", "lz4")
        .mode("append").save()
      assert(srv.storedBatchCodecs("t", 0) == Seq(KafkaWire.Codec.Lz4))
      val back = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").load()
      assert(back.count() == 30L)
    } finally srv.stop()
  }
}

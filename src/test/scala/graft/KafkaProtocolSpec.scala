package graft

import graft.news.NewsSchema
import graft.sources.{KafkaWire, Rss}

import org.apache.spark.sql.functions._

/** S2/S3 BYTE TRANSPORT: the from-scratch wire-protocol client driven
  * over real TCP against the in-JVM broker double — the layer
  * KafkaWireSpec's serialization contracts left unpinned. Every byte
  * here travels framed protocol requests through actual sockets:
  * ApiVersions, Metadata, murmur2-routed Produce, CRC-verified Fetch,
  * and the full producer→broker→consumer→enrich pipeline. */
class KafkaProtocolSpec extends SparkSuite {

  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  test("produce → fetch round-trips records over TCP with CRC-verified content") {
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        // handshake surfaces the server's advertised versions
        val (err, apis) = KafkaWire.apiVersions(c)
        assert(err == 0 && apis(0)._2 >= 2 && apis(1)._2 >= 2)
        assert(KafkaWire.partitionCount(c, "article-topic") == 2)

        // 20 distinct keys: murmur2 provably spreads them (my impl
        // matches Kafka's published vectors — "21" → -973932308,
        // "foobar" → -790332482 — pinned below), so both partitions
        // must land records (P[all one side] = 2^-19).
        val recs = (1 to 20).map(i =>
          (s"http://n/$i".getBytes(u8), s"""{"n":$i,"제목":"기사 $i"}""".getBytes(u8)))
        assert(KafkaWire.murmur2("21".getBytes(u8)) == -973932308)
        assert(KafkaWire.murmur2("foobar".getBytes(u8)) == -790332482)
        recs.groupBy(r => KafkaWire.partitionFor(r._1, 2)).foreach {
          case (p, rs) =>
            val base = KafkaTestKit.produce(c, "article-topic", p, rs, 1716500000000L)
            assert(base == 0L) // first batch per partition
        }
        assert(srv.stored("article-topic", 0).nonEmpty)
        assert(srv.stored("article-topic", 1).nonEmpty)

        val back = (0 until 2).flatMap { p =>
          val (rs, hw, _) = KafkaWire.fetch(c, "article-topic", p, 0L)
          assert(hw == rs.length.toLong) // read to the high watermark
          assert(rs.map(_.offset) == rs.indices.map(_.toLong)) // contiguous
          // the client's routing and the broker's storage agree
          rs.foreach(r => assert(KafkaWire.partitionFor(r.key, 2) == p))
          rs
        }
        assert(back.length == 20)
        val byKey = back.map(r => new String(r.key, u8) -> new String(r.value, u8)).toMap
        assert(byKey("http://n/3") == """{"n":3,"제목":"기사 3"}""")
        assert(back.forall(_.timestamp == 1716500000000L))
      } finally c.close()
    } finally srv.stop()
  }

  test("a corrupted message set fails CRC validation instead of yielding rows") {
    val set = KafkaWire.encodeRecordBatch(0L, Seq(KafkaWire.Record(0L, 1L,
      "k".getBytes(u8), "value-payload".getBytes(u8))))
    // flip one byte inside the record (inside the CRC32C coverage)
    set(set.length - 3) = (set(set.length - 3) ^ 0x01).toByte
    intercept[java.io.IOException] { KafkaWire.decodeRecordSet(set) }
  }

  test("null key and null value survive the wire (tombstone shape)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        KafkaTestKit.produce(c, "t", 0,
          Seq((null, "v0".getBytes(u8)), ("k1".getBytes(u8), null)), 5L)
        val (rs, _, _) = KafkaWire.fetch(c, "t", 0, 0L)
        assert(rs.length == 2)
        assert(rs(0).key == null && new String(rs(0).value, u8) == "v0")
        assert(new String(rs(1).key, u8) == "k1" && rs(1).value == null)
      } finally c.close()
    } finally srv.stop()
  }

  test("consumer resumes from an offset: only records past it are delivered") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        KafkaTestKit.produce(c, "t", 0,
          (1 to 5).map(i => (null, s"v$i".getBytes(u8))), 1L)
        val (first, hw, _) = KafkaWire.fetch(c, "t", 0, 0L)
        assert(first.length == 5 && hw == 5L)
        // resume from the watermark: nothing new
        val (empty, hw2, _) = KafkaWire.fetch(c, "t", 0, hw)
        assert(empty.isEmpty && hw2 == 5L)
        // produce more, resume again: exactly the new tail
        KafkaTestKit.produce(c, "t", 0, Seq((null, "v6".getBytes(u8))), 2L)
        val (tail, _, _) = KafkaWire.fetch(c, "t", 0, hw)
        assert(tail.map(r => new String(r.value, u8)) == Seq("v6"))
        assert(tail.head.offset == 5L)
      } finally c.close()
    } finally srv.stop()
  }

  test("fetch max_bytes caps at whole messages and the client pages through") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        val big = (1 to 10).map(i => (null, Array.fill[Byte](100)(i.toByte)))
        // five 2-record batches of ~279 bytes: a 300-byte window holds
        // one whole batch (2 records) and a sliced tail
        big.grouped(2).foreach(b => KafkaTestKit.produce(c, "t", 0, b, 1L))
        val (page, hw, _) = KafkaWire.fetch(c, "t", 0, 0L, maxBytes = 300)
        assert(page.length == 2 && hw == 10L)
        // paging from the last delivered offset reaches the rest
        var off = page.last.offset + 1
        var n = page.length
        while (off < hw) {
          val (p2, _, _) = KafkaWire.fetch(c, "t", 0, off, maxBytes = 300)
          n += p2.length; off = p2.last.offset + 1
        }
        assert(n == 10)
      } finally c.close()
    } finally srv.stop()
  }

  test("graft-kafka readStream: earliest start, checkpointed resume, exactly once (broker v2)") {
    import org.apache.spark.sql.streaming.Trigger
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      def send(vals: String*): Unit =
        vals.groupBy(v => KafkaWire.partitionFor(v.getBytes(u8), 2)).foreach {
          case (p, vs) => KafkaTestKit.produce(c, "t", p,
            vs.map(v => (v.getBytes(u8), s"payload-$v".getBytes(u8))), 1L)
        }
      try {
        send("a", "b", "c")
        val ckpt = java.nio.file.Files.createTempDirectory("gk-ckpt").toString
        val outDir = java.nio.file.Files.createTempDirectory("gk-out").toString
        // parquet sink: the memory sink refuses checkpoint recovery,
        // and the restart-resume semantics are exactly what's under test
        def runOnce(): Unit = {
          val q = spark.readStream.format("graft-kafka")
            .option("host", "localhost").option("port", srv.port.toString)
            .option("topic", "t").load()
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.processAllAvailable(); q.stop()
        }
        runOnce()
        val first = spark.read.parquet(outDir).collect()
        assert(first.map(_.getAs[String]("key")).toSet == Set("a", "b", "c"))
        assert(first.map(_.getAs[String]("value")).toSet ==
          Set("payload-a", "payload-b", "payload-c"))
        // restart from the checkpoint: ONLY records past the committed
        // offsets are delivered (the exactly-once resume T1 needs)
        send("d", "e")
        runOnce()
        val all = spark.read.parquet(outDir).collect()
        assert(all.length == 5, "a resumed run must not re-deliver")
        assert(all.map(_.getAs[String]("key")).toSet == Set("a", "b", "c", "d", "e"))
        // offsets are the broker's real positions, contiguous per partition
        all.groupBy(_.getAs[Int]("partition")).foreach { case (_, rows) =>
          val offs = rows.map(_.getAs[Long]("offset")).sorted.toSeq
          assert(offs == (0L until offs.length).toSeq)
        }
        // batch read sees earliest..latest
        val batch = spark.read.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t").load()
        assert(batch.count() == 5L)
      } finally c.close()
    } finally srv.stop()
  }

  test("T1: fromKafkaWire streams wire records through the full enrich pipeline") {
    import org.apache.spark.sql.streaming.Trigger
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      val fake = new Rss.FeedFetcher {
        def fetch(url: String): Seq[Rss.FeedEntry] = Seq(
          Rss.FeedEntry("김기자", s"$url/1", "인공지능 기술이 발전했다", "AI 뉴스",
            "2025-05-24 09:00:00"),
          Rss.FeedEntry(null, s"$url/2", "코스피 상승", "증시", "2025-05-24 09:05:00"))
      }
      KafkaWire.produceDataFrame(
        Rss.toKafkaJson(Rss.pollOnce(spark, Seq("http://f"), fake)),
        "localhost", srv.port, "article-topic", 1716500000000L)
      val enriched = graft.streaming.EnrichStream.enrichParsed(
        graft.streaming.EnrichStream.fromKafkaWire(
          spark, "localhost", srv.port, "article-topic"), embedDim = 8)
      val q = enriched.writeStream.format("memory").queryName("gkw")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val rows = spark.table("gkw").collect()
      assert(rows.length == 2)
      val byLink = rows.map(r => r.getAs[String]("link") -> r).toMap
      assert(byLink("http://f/1").getAs[String]("author") == "김기자")
      assert(byLink("http://f/1")
        .getAs[scala.collection.Seq[Float]]("embedding").length == 8)
    } finally srv.stop()
  }

  test("consumer-group offsets: commit/fetch roundtrip, and pollOnce(groupId) consumes each record once") {
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        // protocol roundtrip: unknown group reads None, commit persists
        assert(KafkaWire.fetchOffsets(c, "g1", "t", Seq(0, 1)) ===
          Map(0 -> None, 1 -> None))
        KafkaWire.commitOffsets(c, "g1", "t", Map(0 -> 7L, 1 -> 3L))
        assert(KafkaWire.fetchOffsets(c, "g1", "t", Seq(0, 1)) ===
          Map(0 -> Some(7L), 1 -> Some(3L)))
        // groups are isolated
        assert(KafkaWire.fetchOffsets(c, "g2", "t", Seq(0)) === Map(0 -> None))

        // the reference consumer's shape: group + commit + resume
        // (collect/consumer.py: kafka-python group_id,
        // auto_offset_reset=earliest) — each record consumed ONCE
        // across successive polls of the same group
        def send(vals: String*): Unit =
          vals.groupBy(v => KafkaWire.partitionFor(v.getBytes(u8), 2)).foreach {
            case (p, vs) => KafkaTestKit.produce(c, "articles", p,
              vs.map(v => (v.getBytes(u8), v.getBytes(u8))), 1L)
          }
        send("a", "b", "c")
        val poll1 = KafkaWire.pollOnce(spark, "localhost", srv.port,
          "articles", groupId = Some("news-group")).collect()
        assert(poll1.map(_.getAs[String]("key")).toSet === Set("a", "b", "c"))
        // nothing new: the committed positions make the next poll empty
        assert(KafkaWire.pollOnce(spark, "localhost", srv.port,
          "articles", groupId = Some("news-group")).count() === 0L)
        send("d", "e")
        val poll3 = KafkaWire.pollOnce(spark, "localhost", srv.port,
          "articles", groupId = Some("news-group")).collect()
        assert(poll3.map(_.getAs[String]("key")).toSet === Set("d", "e"),
          "a group resumes from its committed positions, exactly the tail")
        // a DIFFERENT group still starts from earliest
        assert(KafkaWire.pollOnce(spark, "localhost", srv.port,
          "articles", groupId = Some("fresh-group")).count() === 5L)
      } finally c.close()
    } finally srv.stop()
  }

  test("S4: CREATE TABLE ... USING graft-kafka — the declarative source-table shape") {
    // consumer2.py:136-152 declares the Kafka source as a Flink DDL
    // table; the Spark-first form is SQL DDL over the DSv2 provider,
    // with PROCTIME() becoming current_timestamp() at read time.
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try KafkaTestKit.produce(c, "article-topic", 0,
        Seq(("k1".getBytes(u8), """{"t":"기사"}""".getBytes(u8))), 7L)
      finally c.close()
      spark.sql("DROP TABLE IF EXISTS news_wire")
      spark.sql(s"""CREATE TABLE news_wire USING `graft-kafka`
        OPTIONS (host 'localhost', port '${srv.port}', topic 'article-topic')""")
      try {
        val rows = spark.sql(
          """SELECT key, value, current_timestamp() AS proctime
            |FROM news_wire""".stripMargin).collect()
        assert(rows.length == 1)
        assert(rows.head.getAs[String]("key") == "k1")
        assert(rows.head.getAs[String]("value") == """{"t":"기사"}""")
        assert(rows.head.getAs[java.sql.Timestamp]("proctime") != null)
      } finally spark.sql("DROP TABLE news_wire")
    } finally srv.stop()
  }

  test("S2→S3 end to end: RSS → produceDataFrame → broker → pollOnce → enrich (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      val fake = new Rss.FeedFetcher {
        def fetch(url: String): Seq[Rss.FeedEntry] = Seq(
          Rss.FeedEntry("김기자", s"$url/1", "인공지능 기술이 발전했다", "AI 뉴스",
            "2025-05-24 09:00:00"),
          Rss.FeedEntry(null, s"$url/2", "코스피 상승", "증시", "2025-05-24 09:05:00"),
          Rss.FeedEntry("이기자", s"$url/3", "우주 탐사 성공", "과학", "2025-05-24 09:10:00"))
      }
      // S2: the producer's wire rows, written by EXECUTORS over TCP
      val wire = Rss.toKafkaJson(Rss.pollOnce(spark, Seq("http://f"), fake))
      KafkaWire.produceDataFrame(wire, "localhost", srv.port,
        "article-topic", 1716500000000L)

      // S3: partition-parallel consume from earliest, then the same
      // enrichment the streaming consumer runs
      val consumed = KafkaWire.pollOnce(spark, "localhost", srv.port,
        "article-topic")
      assert(consumed.count() == 3L)
      // Korean text survived the transport byte-exactly
      val parsed = consumed.select(
        from_json(col("value"), NewsSchema.wireSchema).as("m")).select("m.*")
      val r1 = parsed.where(col("link") === "http://f/1").collect().head
      assert(r1.getAs[String]("author") == "김기자")
      assert(r1.getAs[String]("summary") == "인공지능 기술이 발전했다")
      // keys route identically on client and broker
      assert(consumed.select("key", "partition").collect().forall { r =>
        KafkaWire.partitionFor(r.getAs[String]("key").getBytes(u8), 2) ==
          r.getAs[Int]("partition")
      })
      // the consumer pipeline's parse + enrich (the batch form of
      // EnrichStream.enrichParsed — watermark dedup is streaming-only)
      val parsedIn = consumed
        .select(from_json(col("value"), NewsSchema.wireSchema).as("m"))
        .select("m.*").where(col("link").isNotNull)
      val enriched = graft.udfs.Enrichers.enrich(parsedIn, "summary", 8)
      assert(enriched.count() == 3L)
      assert(enriched.select("link").collect().map(_.getString(0)).toSet ==
        Set("http://f/1", "http://f/2", "http://f/3"))
      assert(enriched.select("embedding").collect()
        .forall(_.getAs[scala.collection.Seq[Float]](0).length == 8))
    } finally srv.stop()
  }
}

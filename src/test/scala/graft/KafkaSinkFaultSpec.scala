package graft

import graft.sources.KafkaWire

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The write half of S2 as a DSv2 sink, plus the wire client under
  * injected broker faults — proving the retry/abort split behind the
  * at-least-once claim with real failures on real sockets:
  *
  *  - connection drop BEFORE the broker appends → retry re-sends, no
  *    loss and no duplicate;
  *  - connection drop AFTER the append but before the ack → retry
  *    DUPLICATES (the unavoidable half of at-least-once), absorbed
  *    downstream by the J1 anti-join/dropDuplicates upsert;
  *  - torn Fetch frame → loud I/O failure, never rows from a torn
  *    frame, never a hang (read timeout bounds it);
  *  - correlation-id mismatch → abort, NOT retry: a broker that
  *    mis-routes responses cannot be trusted with a resend. */
class KafkaSinkFaultSpec extends SparkSuite {

  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  test("df.write.format(graft-kafka): batch DSv2 write lands murmur2-routed records (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      import spark.implicits._
      (1 to 40).map(i => (s"key-$i", s"val-$i")).toDF("key", "value")
        .repartition(4)
        .write.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").mode("append").save()
      val all = (0 until 2).flatMap(p => srv.stored("t", p).map(r =>
        (p, new String(r.key, u8), new String(r.value, u8))))
      assert(all.length == 40)
      assert(all.map(_._2).toSet == (1 to 40).map(i => s"key-$i").toSet)
      // client-side routing matches what a stock partitioner would pick
      all.foreach { case (p, k, _) =>
        assert(KafkaWire.partitionFor(k.getBytes(u8), 2) == p)
      }
    } finally srv.stop()
  }

  test("writeStream.format(graft-kafka): epoch-keyed sink with checkpointed resume (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(String, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("gks-ckpt").toString
      def runOnce(): Unit = {
        val q = in.toDF().toDF("key", "value")
          .writeStream.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t")
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      in.addData(("a", "va"), ("b", "vb"), ("c", "vc"))
      runOnce()
      def keys() = (0 until 2).flatMap(p =>
        srv.stored("t", p).map(r => new String(r.key, u8)))
      assert(keys().sorted == Seq("a", "b", "c"))
      // resume: the engine's commit log replays nothing already committed
      in.addData(("d", "vd"))
      runOnce()
      assert(keys().sorted == Seq("a", "b", "c", "d"),
        "a resumed sink run must not re-produce committed epochs")
      // and the graft-kafka SOURCE reads the sink's records back — the
      // wire round-trips through both DSv2 halves
      val back = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").load()
      assert(back.count() == 4L)
    } finally srv.stop()
  }

  test("sink rejects an input without key/value columns, loudly") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      import spark.implicits._
      val err = intercept[Exception] {
        Seq(("a", "b")).toDF("k", "v")
          .write.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t").mode("append").save()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(err).exists(_.contains("key and value columns")))
    } finally srv.stop()
  }

  test("missing port option fails with the required-options message, not NumberFormatException") {
    val err = intercept[Exception] {
      spark.read.format("graft-kafka")
        .option("host", "localhost").option("topic", "t").load()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("host, port, topic are required")))
  }

  // ── r12 advice #1: a gzip batch serves below-cursor records the
  // consumer must drop. The broker double stores batches and serves
  // them whole, so this is testable for real. ───────────────────────
  test("resume inside a gzip wrapper: below-cursor records are dropped, not re-emitted (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        val recs = (0 to 4).map(i => (s"k$i".getBytes(u8), s"v$i".getBytes(u8)))
        KafkaTestKit.produce(c, "t", 0, recs, 9L, codec = KafkaWire.Codec.Gzip)
        // the raw wire serves the WHOLE batch from offset 2 — proof
        // the below-cursor records really travel
        val (raw, _, _) = KafkaWire.fetch(c, "t", 0, 2L)
        assert(raw.map(_.offset) == Seq(0L, 1L, 2L, 3L, 4L))
      } finally c.close()
      // pollOnce from offset 2 must emit exactly 2..4 — once
      val out = KafkaWire.pollOnce(spark, "localhost", srv.port, "t",
        fromOffset = 2L).collect()
      assert(out.map(_.getAs[Long]("offset")).sorted.toSeq == Seq(2L, 3L, 4L))
      assert(out.map(_.getAs[String]("key")).sorted.toSeq == Seq("k2", "k3", "k4"))
    } finally srv.stop()
  }

  test("gzip wrapper spanning a micro-batch boundary: streaming stays exactly-once (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        KafkaTestKit.produce(c, "t", 0,
          (0 to 2).map(i => (s"a$i".getBytes(u8), s"v$i".getBytes(u8))), 1L,
          codec = KafkaWire.Codec.Gzip)
        val ckpt = java.nio.file.Files.createTempDirectory("gz-ckpt").toString
        val outDir = java.nio.file.Files.createTempDirectory("gz-out").toString
        def runOnce(): Unit = {
          val q = spark.readStream.format("graft-kafka")
            .option("host", "localhost").option("port", srv.port.toString)
            .option("topic", "t").load()
            .writeStream.format("parquet").option("path", outDir)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.processAllAvailable(); q.stop()
        }
        runOnce()
        KafkaTestKit.produce(c, "t", 0,
          (3 to 5).map(i => (s"a$i".getBytes(u8), s"v$i".getBytes(u8))), 2L,
          codec = KafkaWire.Codec.Gzip)
        runOnce()
        val all = spark.read.parquet(outDir).collect()
        assert(all.length == 6, "wrapper resume must neither lose nor duplicate")
        assert(all.map(_.getAs[Long]("offset")).sorted.toSeq == (0L to 5L))
      } finally c.close()
    } finally srv.stop()
  }

  // ── r12 advice #2: a message larger than max_bytes yields ZERO
  // complete records; the reader must grow-and-retry, never skip. ────
  test("oversized message: the reader grows max_bytes instead of silently skipping (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        val big = Array.fill[Byte](3 << 20)(7) // 3 MiB > the 1 MiB start
        KafkaTestKit.produce(c, "t", 0, Seq(("small".getBytes(u8), "v".getBytes(u8))), 1L)
        KafkaTestKit.produce(c, "t", 0, Seq(("big".getBytes(u8), big)), 2L)
        KafkaTestKit.produce(c, "t", 0, Seq(("tail".getBytes(u8), "w".getBytes(u8))), 3L)
        // the raw first fetch at the big message really is empty
        val (raw, hw, _) = KafkaWire.fetch(c, "t", 0, 1L)
        assert(raw.isEmpty && hw == 3L,
          "broker must truncate the oversized message at max_bytes")
      } finally c.close()
      // pollOnce and the DSv2 reader both deliver ALL three records
      val polled = KafkaWire.pollOnce(spark, "localhost", srv.port, "t").collect()
      assert(polled.map(_.getAs[String]("key")).sorted.toSeq ==
        Seq("big", "small", "tail"))
      val scanned = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").load().collect()
      assert(scanned.map(_.getAs[String]("key")).sorted.toSeq ==
        Seq("big", "small", "tail"))
      assert(scanned.find(_.getAs[String]("key") == "big").get
        .getAs[String]("value").length == (3 << 20))
    } finally srv.stop()
  }

  // ── fault injection: the retry/abort contract ──────────────────────

  test("produce retry after a pre-append connection drop: no loss, no duplicate (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      srv.dropNextProduce.set(1)
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t")
      try prod.send(0, Seq(("k1".getBytes(u8), "v1".getBytes(u8))), 1L)
      finally prod.close()
      val stored = srv.stored("t", 0)
      assert(stored.length == 1)
      assert(new String(stored.head.key, u8) == "k1")
      assert(srv.producesAppended.get() == 1, "the dropped attempt appended nothing")
    } finally srv.stop()
  }

  test("produce retry after a post-append drop DUPLICATES; the J1 upsert absorbs it (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      srv.dropNextProduceAfterAppend.set(1)
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t")
      try prod.send(0,
        Seq(("k1".getBytes(u8), "v1".getBytes(u8)),
            ("k2".getBytes(u8), "v2".getBytes(u8))), 1L)
      finally prod.close()
      // at-least-once, demonstrated: the batch landed twice
      val stored = srv.stored("t", 0)
      assert(stored.length == 4, "an unacked-but-appended batch is re-sent")
      assert(srv.producesAppended.get() == 2)
      // …and the canonical downstream absorber removes the replay: the
      // J1 shape keeps the first arrival per key (consumer.py's
      // ON CONFLICT (link) DO NOTHING)
      val consumed = KafkaWire.pollOnce(spark, "localhost", srv.port, "t")
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val absorbed = consumed
        .withColumn("rn", row_number().over(
          Window.partitionBy("key").orderBy("offset")))
        .where(col("rn") === 1).drop("rn")
      assert(absorbed.count() == 2L)
      assert(absorbed.select("key").collect().map(_.getString(0)).sorted.toSeq
        == Seq("k1", "k2"))
    } finally srv.stop()
  }

  test("exhausted produce retries surface the I/O failure (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      srv.dropNextProduce.set(10) // more drops than maxAttempts
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        maxAttempts = 3)
      try intercept[java.io.IOException] {
        prod.send(0, Seq(("k".getBytes(u8), "v".getBytes(u8))), 1L)
      } finally prod.close()
      assert(srv.stored("t", 0).isEmpty)
    } finally srv.stop()
  }

  test("torn fetch frame: loud I/O failure, no rows from a torn frame, no hang (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        KafkaTestKit.produce(c, "t", 0, Seq(("k".getBytes(u8), "v".getBytes(u8))), 1L)
        srv.truncateNextFetch.set(1)
        val t0 = System.nanoTime()
        intercept[java.io.IOException] { KafkaWire.fetch(c, "t", 0, 0L) }
        assert((System.nanoTime() - t0) < 10e9, "EOF must surface promptly")
      } finally c.close()
      // a fresh connection reads the record intact
      val c2 = new KafkaWire.Conn("localhost", srv.port)
      try {
        val (rs, _, _) = KafkaWire.fetch(c2, "t", 0, 0L)
        assert(rs.length == 1 && new String(rs.head.value, u8) == "v")
      } finally c2.close()
    } finally srv.stop()
  }

  test("correlation-id mismatch ABORTS the producer — no blind resend (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t")
      try {
        prod.send(0, Seq(("k0".getBytes(u8), "v0".getBytes(u8))), 1L)
        srv.corruptNextCorrelation.set(1)
        intercept[IllegalArgumentException] {
          prod.send(0, Seq(("k1".getBytes(u8), "v1".getBytes(u8))), 2L)
        }
      } finally prod.close()
    } finally srv.stop()
  }

  // ── the full codec battery: gzip, snappy (xerial stream framing),
  // lz4 (standard frame) — each compressed batch round-trips the wire
  // with absolute offsets and CRC32C-verified records. ───────────────
  for ((name, codec) <- Seq("gzip" -> KafkaWire.Codec.Gzip,
      "snappy" -> KafkaWire.Codec.Snappy, "lz4" -> KafkaWire.Codec.Lz4)) {
    test(s"$name wrapper round-trips the wire with Korean payloads intact (broker v2)") {
      val srv = new MiniKafkaServer(numPartitions = 1)
      try {
        val c = new KafkaWire.Conn("localhost", srv.port)
        try {
          val recs = (1 to 4).map(i =>
            (s"k$i".getBytes(u8), s"기사 본문 $i".getBytes(u8)))
          KafkaTestKit.produce(c, "t", 0, Seq((null, "plain".getBytes(u8))), 1L)
          KafkaTestKit.produce(c, "t", 0, recs, 2L, codec = codec)
          val (back, hw, _) = KafkaWire.fetch(c, "t", 0, 0L)
          assert(hw == 5L && back.length == 5)
          assert(back.map(_.offset) == (0L to 4L))
          assert(new String(back(0).value, u8) == "plain")
          assert(back.drop(1).map(r => new String(r.value, u8)) ==
            (1 to 4).map(i => s"기사 본문 $i"))
          // mid-wrapper resume drops below-cursor records for every codec
          val consumed = KafkaWire.pollOnce(spark, "localhost", srv.port,
            "t", fromOffset = 3L).collect()
          assert(consumed.map(_.getAs[Long]("offset")).sorted.toSeq ==
            Seq(3L, 4L))
        } finally c.close()
      } finally srv.stop()
    }
  }

  test("startingOffsets=latest: a fresh stream sees only post-start records (broker v2)") {
    import org.apache.spark.sql.streaming.Trigger
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        KafkaTestKit.produce(c, "t", 0, Seq(("old".getBytes(u8), "old".getBytes(u8))), 1L)
        val ckpt = java.nio.file.Files.createTempDirectory("lo-ckpt").toString
        val outDir = java.nio.file.Files.createTempDirectory("lo-out").toString
        def runOnce(): Unit = {
          val q = spark.readStream.format("graft-kafka")
            .option("host", "localhost").option("port", srv.port.toString)
            .option("topic", "t").option("startingOffsets", "latest").load()
            .writeStream.format("parquet").option("path", outDir)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.processAllAvailable(); q.stop()
        }
        runOnce() // initial offset = latest: nothing to read
        KafkaTestKit.produce(c, "t", 0, Seq(("new".getBytes(u8), "new".getBytes(u8))), 2L)
        runOnce() // resumes from the checkpoint, picks up only the new row
        val rows = spark.read.parquet(outDir).collect()
        assert(rows.map(_.getAs[String]("key")).toSeq == Seq("new"),
          "latest start must skip pre-existing records and resume exactly-once")
      } finally c.close()
    } finally srv.stop()
  }

  test("unknown startingOffsets value fails loudly") {
    val err = intercept[Exception] {
      spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", "1").option("topic", "t")
        .option("startingOffsets", "sometime").load()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("startingOffsets must be")))
  }

  test("sink codec option: batches travel compressed and land intact (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      import spark.implicits._
      (1 to 30).map(i => (s"k$i", s"기사 내용 $i")).toDF("key", "value")
        .coalesce(1)
        .write.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("codec", "snappy")
        .mode("append").save()
      // the broker received ONE snappy wrapper batch, records intact
      assert(srv.storedBatchCodecs("t", 0) == Seq(KafkaWire.Codec.Snappy))
      val vals = srv.stored("t", 0).map(r => new String(r.value, u8))
      assert(vals == (1 to 30).map(i => s"기사 내용 $i"))
      // and the source reads it back through the wrapper decode
      val back = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").load()
      assert(back.count() == 30L)
    } finally srv.stop()
  }

  test("unknown codec option fails loudly") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq(("a", "b")).toDF("key", "value")
        .write.format("graft-kafka")
        .option("host", "localhost").option("port", "1")
        .option("topic", "t").option("codec", "zstd")
        .mode("append").save()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("codec must be")))
  }

  test("maxOffsetsPerTrigger: AvailableNow drains in rate-limited batches, exactly once (broker v2)") {
    import org.apache.spark.sql.streaming.Trigger
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        (0 until 10).foreach { i =>
          val k = s"k$i".getBytes(u8)
          KafkaTestKit.produce(c, "t", 0,
            Seq((k, s"v$i".getBytes(u8))), 1L)
        }
        // spread a few records onto partition 1 so the proportional
        // allocation has two lags to split
        (10 until 14).foreach { i =>
          KafkaTestKit.produce(c, "t", 1,
            Seq((s"k$i".getBytes(u8), s"v$i".getBytes(u8))), 1L)
        }
        val outDir = java.nio.file.Files.createTempDirectory("mo-out").toString
        val ckpt = java.nio.file.Files.createTempDirectory("mo-ckpt").toString
        val q = spark.readStream.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t").option("maxOffsetsPerTrigger", "4").load()
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
        val rows = spark.read.parquet(outDir).collect()
        assert(rows.length == 14, "the drain must reach the captured end")
        assert(rows.map(_.getAs[String]("key")).toSet ==
          (0 until 14).map(i => s"k$i").toSet)
        // the commit log records one entry per micro-batch: 14 records
        // at <= 4 per trigger needs at least 4 batches
        val commits = Option(new java.io.File(ckpt, "commits").list())
          .getOrElse(Array.empty).count(!_.startsWith("."))
        assert(commits >= 4, s"expected >= 4 rate-limited batches, got $commits")
      } finally c.close()
    } finally srv.stop()
  }

  test("minPartitions: one topic partition splits into N exactly-once scan tasks (broker v2)") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        (0 until 10).foreach { i =>
          KafkaTestKit.produce(c, "t", 0,
            Seq((s"k$i".getBytes(u8), s"v$i".getBytes(u8))), 1L)
        }
        // one compressed wrapper SPANNING the slice boundary: atomic on
        // the wire, so two adjacent slices both receive it and must
        // keep only their own offsets
        KafkaTestKit.produce(c, "t", 0,
          (10 until 15).map(i => (s"k$i".getBytes(u8), s"v$i".getBytes(u8))),
          2L, codec = KafkaWire.Codec.Gzip)
      } finally c.close()
      val df = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("minPartitions", "4").load()
      assert(df.rdd.getNumPartitions === 4,
        "one topic partition must split into 4 scan tasks")
      val rows = df.select(
        org.apache.spark.sql.functions.spark_partition_id().as("pid"),
        org.apache.spark.sql.functions.col("offset"),
        org.apache.spark.sql.functions.col("key")).collect()
      assert(rows.length === 15, "no loss, no duplicate across slices")
      assert(rows.map(_.getAs[Long]("offset")).sorted.toSeq === (0L until 15L))
      // per-slice ordering: offsets ascend within every scan task and
      // the tasks cover contiguous, disjoint ranges
      val slices = rows.groupBy(_.getInt(0)).values.map { rs =>
        val offs = rs.map(_.getAs[Long]("offset")).toSeq
        assert(offs === offs.sorted, "in-slice order must be offset order")
        (offs.min, offs.max)
      }.toSeq.sortBy(_._1)
      assert(slices.length === 4)
      slices.sliding(2).foreach { case Seq((_, hi), (lo2, _)) =>
        assert(lo2 === hi + 1, s"slices must tile the range: $slices")
      case _ => }
      // the streaming path splits the same way and stays exactly-once
      val outDir = java.nio.file.Files.createTempDirectory("mp-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("mp-ckpt").toString
      val q = spark.readStream.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("minPartitions", "4").load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.read.parquet(outDir).collect()
      assert(streamed.length === 15)
      assert(streamed.map(_.getAs[Long]("offset")).sorted.toSeq === (0L until 15L))
    } finally srv.stop()
  }

  test("minPartitions rejects non-positive values") {
    val err = intercept[Exception] {
      spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", "1").option("topic", "t")
        .option("minPartitions", "0").load()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("minPartitions must be positive")))
  }

  test("maxOffsetsPerTrigger rejects non-positive values") {
    val err = intercept[Exception] {
      spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", "1").option("topic", "t")
        .option("maxOffsetsPerTrigger", "0").load()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("maxOffsetsPerTrigger must be positive")))
  }
}

package graft

import graft.sources.KafkaWire

/** RETENTION / data-loss contract: real consumers hit log truncation —
  * a checkpointed offset can fall below the broker's advancing
  * log-start offset. Pins the wire-level OFFSET_OUT_OF_RANGE surface
  * (typed exception, never silent empty), the earliest/timestamp
  * lookups against a truncated head, and the source's failOnDataLoss
  * option in both positions: true (default) fails the resumed query
  * loudly; false skips to the surviving head with a WARN and keeps
  * exactly the records that still exist. */
class KafkaDataLossSpec extends SparkSuite {

  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  private def produceN(srv: MiniKafkaServer, topic: String, n: Int,
      from: Int = 0): Unit = {
    val prod = new KafkaWire.RetryingProducer("localhost", srv.port, topic)
    try (from until from + n).foreach { i =>
      prod.send(0, Seq((s"k$i".getBytes(u8), s"v$i".getBytes(u8))),
        1716500000000L + i)
    } finally prod.close()
  }

  test("wire level: a fetch below the log start is OFFSET_OUT_OF_RANGE, typed and loud") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      produceN(srv, "t", 20)
      srv.truncateBefore("t", 0, 10L)
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        // earliest now resolves to the truncated head, not 0
        assert(KafkaWire.listOffset(c, "t", 0, -2L) === 10L)
        assert(KafkaWire.listOffset(c, "t", 0, -1L) === 20L)
        // a fetch below the head throws the TYPED exception — at the
        // old start and mid-gap; never an empty "nothing here" result
        val e1 = intercept[KafkaWire.OffsetOutOfRangeException] {
          KafkaWire.fetch(c, "t", 0, 0L)
        }
        assert(e1.offset === 0L && e1.partition === 0)
        intercept[KafkaWire.OffsetOutOfRangeException] {
          KafkaWire.fetch(c, "t", 0, 5L)
        }
        // the surviving range reads back whole
        val (recs, hw, _) = KafkaWire.fetch(c, "t", 0, 10L)
        assert(hw === 20L)
        assert(recs.map(r => new String(r.key, u8)) ===
          (10 until 20).map(i => s"k$i"))
        // a timestamp lookup can only land in surviving data
        assert(KafkaWire.listOffset(c, "t", 0, 1716500000005L) === 10L)
      } finally c.close()
    } finally srv.stop()
  }

  test("failOnDataLoss=true (default): a checkpoint below the log start fails the resumed query loudly") {
    import org.apache.spark.sql.streaming.Trigger
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      produceN(srv, "t", 5)
      val ckpt = java.nio.file.Files.createTempDirectory("loss-ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("loss-out").toString
      def drain(): Unit = {
        val q = spark.readStream.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t").load()
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      drain() // checkpoint now points at offset 5
      assert(spark.read.parquet(outDir).count() === 5L)
      produceN(srv, "t", 15, from = 5) // log: 0..20
      srv.truncateBefore("t", 0, 10L)  // offsets 5..9 are GONE
      // the resume reads from the checkpointed 5 — below the log start:
      // the default contract fails the query, naming the loss
      val ex = intercept[Exception] { drain() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("data may have been lost")),
        s"expected a loud data-loss failure, got: ${messages(ex).mkString(" | ")}")
      assert(spark.read.parquet(outDir).count() === 5L, "no partial output")
    } finally srv.stop()
  }

  test("failOnDataLoss=false: the resume skips the lost range and reads exactly the survivors") {
    import org.apache.spark.sql.streaming.Trigger
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      produceN(srv, "t", 5)
      val ckpt = java.nio.file.Files.createTempDirectory("skip-ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("skip-out").toString
      def drain(): Unit = {
        val q = spark.readStream.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t").option("failOnDataLoss", "false")
          .load()
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      drain()
      assert(spark.read.parquet(outDir).count() === 5L)
      produceN(srv, "t", 15, from = 5)
      srv.truncateBefore("t", 0, 10L) // offsets 5..9 deleted
      drain() // resumes at the surviving head, no failure
      val keys = spark.read.parquet(outDir)
        .select("key").collect().map(_.getString(0)).toSet
      // 0..4 from the first drain, 10..19 from the resume; 5..9 LOST
      assert(keys === ((0 until 5) ++ (10 until 20)).map(i => s"k$i").toSet)
      // and the checkpoint advanced: one more drain re-reads nothing
      drain()
      assert(spark.read.parquet(outDir).count() === 15L)
    } finally srv.stop()
  }

  test("DeleteRecords drives retention over the wire and groupLag reads through it") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      produceN(srv, "t", 20)
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        // lag before any commit: the whole log
        assert(KafkaWire.groupLag(c, "gl", "t", Seq(0)) === Map(0 -> 20L))
        KafkaWire.commitOffsets(c, "gl", "t", Map(0 -> 15L))
        assert(KafkaWire.groupLag(c, "gl", "t", Seq(0)) === Map(0 -> 5L))
        // retention through the PROTOCOL (kafka-delete-records.sh's
        // call), not the test hook: low watermark comes back
        assert(KafkaWire.deleteRecords(c, "t", 0, 10L) === 10L)
        assert(KafkaWire.listOffset(c, "t", 0, -2L) === 10L)
        intercept[KafkaWire.OffsetOutOfRangeException] {
          KafkaWire.fetch(c, "t", 0, 0L)
        }
        // a never-committed group's lag counts from the SURVIVING head
        assert(KafkaWire.groupLag(c, "gl2", "t", Seq(0)) === Map(0 -> 10L))
      } finally c.close()
    } finally srv.stop()
  }

  test("a batch read over a truncated topic reads earliest-to-latest of what survives") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      produceN(srv, "t", 20)
      srv.truncateBefore("t", 0, 12L)
      val rows = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").load()
        .select("key").collect().map(_.getString(0)).toSet
      assert(rows === (12 until 20).map(i => s"k$i").toSet)
    } finally srv.stop()
  }
}

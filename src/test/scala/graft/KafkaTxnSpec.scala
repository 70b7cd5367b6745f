package graft

import graft.sources.KafkaWire
import graft.sources.KafkaWire.Isolation

/** Transactions on the wire — the exactly-once layer above r14's
  * idempotent producer: transactional batches pin the partition's
  * LAST STABLE OFFSET, EndTxn writes commit/abort control markers,
  * read_committed consumers see a transaction's records atomically on
  * commit and NEVER on abort (the aborted_transactions filter), and a
  * re-initialized transactional id aborts + fences its zombie
  * predecessor. The DSv2 sink rides this as `transactionalIdPrefix`:
  * a failed Spark task's flushed rows are aborted, not absorbed —
  * exactly-once without the J1 anti-join. */
class KafkaTxnSpec extends SparkSuite {

  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  private def committedKeys(srv: MiniKafkaServer, topic: String): Seq[String] = {
    val c = new KafkaWire.Conn("localhost", srv.port)
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val f = new KafkaWire.GrowingFetcher(c, topic, 0, Isolation.ReadCommitted)
      var pos = 0L
      var done = false
      while (!done) {
        val (recs, wm) = f.fetchAt(pos)
        if (recs.isEmpty) done = true
        else { out ++= recs.map(r => new String(r.key, u8))
          pos = recs.last.offset + 1; done = pos >= wm }
      }
      out.toSeq
    } finally c.close()
  }

  test("an open transaction pins the LSO; commit makes its records visible atomically") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      // a plain committed record first
      val plain = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true)
      try plain.send(0, Seq(("base".getBytes(u8), "v".getBytes(u8))), 1L)
      finally plain.close()

      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true, transactionalId = "txn-a")
      try {
        prod.beginTransaction()
        prod.send(0, Seq(("t1".getBytes(u8), "v1".getBytes(u8)),
          ("t2".getBytes(u8), "v2".getBytes(u8))), 2L)
        // OPEN: LSO pinned at the transaction's first record (offset 1)
        assert(srv.lastStable("t", 0) === 1L)
        val c = new KafkaWire.Conn("localhost", srv.port)
        try {
          val (unc, hw, _) = KafkaWire.fetch(c, "t", 0, 0L)
          assert(hw === 3L && unc.length === 3,
            "read_uncommitted sees in-flight transactional records")
          val (com, lso, _) = KafkaWire.fetch(c, "t", 0, 0L,
            isolation = Isolation.ReadCommitted)
          assert(lso === 1L)
          assert(com.map(r => new String(r.key, u8)) === Seq("base"),
            "read_committed must stop at the LSO")
          // a committed reader's admission window also stops at the LSO
          assert(KafkaWire.listOffset(c, "t", 0, -1L,
            Isolation.ReadCommitted) === 1L)
        } finally c.close()
        prod.commitTransaction()
      } finally prod.close()
      // COMMITTED: marker landed (offset 3), LSO = log end, all visible
      assert(srv.lastStable("t", 0) === 4L)
      assert(committedKeys(srv, "t") === Seq("base", "t1", "t2"))
    } finally srv.stop()
  }

  test("an aborted transaction is PERMANENTLY invisible to read_committed") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true, transactionalId = "txn-b")
      try {
        prod.beginTransaction()
        prod.send(0, Seq(("dead1".getBytes(u8), "x".getBytes(u8)),
          ("dead2".getBytes(u8), "x".getBytes(u8))), 1L)
        prod.abortTransaction()
        prod.beginTransaction()
        prod.send(0, Seq(("live".getBytes(u8), "y".getBytes(u8))), 2L)
        prod.commitTransaction()
      } finally prod.close()
      // log: [dead1 dead2][ABORT][live][COMMIT] — offsets 0..4
      assert(committedKeys(srv, "t") === Seq("live"),
        "aborted records must be filtered via the aborted_transactions index")
      // read_uncommitted sees the aborted data but never the markers
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        val (unc, hw, _) = KafkaWire.fetch(c, "t", 0, 0L)
        assert(hw === 5L)
        assert(unc.map(r => new String(r.key, u8)) ===
          Seq("dead1", "dead2", "live"))
        assert(unc.map(_.offset) === Seq(0L, 1L, 3L),
          "markers occupy offsets 2 and 4 but never surface as data")
      } finally c.close()
    } finally srv.stop()
  }

  test("interleaved transactions: commit and abort resolve independently for a committed reader") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val a = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true, transactionalId = "txn-A")
      val b = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true, transactionalId = "txn-B")
      try {
        a.beginTransaction(); b.beginTransaction()
        a.send(0, Seq(("a1".getBytes(u8), "v".getBytes(u8))), 1L)
        b.send(0, Seq(("b1".getBytes(u8), "v".getBytes(u8))), 1L)
        a.send(0, Seq(("a2".getBytes(u8), "v".getBytes(u8))), 2L)
        // nothing stable while both are open
        assert(srv.lastStable("t", 0) === 0L)
        a.abortTransaction()
        // A resolved, but B still pins the LSO at its first record
        assert(srv.lastStable("t", 0) === 1L)
        b.send(0, Seq(("b2".getBytes(u8), "v".getBytes(u8))), 3L)
        b.commitTransaction()
      } finally { a.close(); b.close() }
      assert(committedKeys(srv, "t") === Seq("b1", "b2"),
        "only the committed producer's records survive the filter")
    } finally srv.stop()
  }

  test("a re-initialized transactional id ABORTS and fences its zombie's open transaction") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val zombie = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true, transactionalId = "task-7")
      zombie.beginTransaction()
      zombie.send(0, Seq(("zombie".getBytes(u8), "x".getBytes(u8))), 1L)
      // the task "crashes" (no EndTxn); its retry re-inits the SAME id
      val retry = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true, transactionalId = "task-7")
      try {
        retry.beginTransaction() // init here aborts the zombie's txn
        assert(srv.lastStable("t", 0) === 2L,
          "the predecessor's open transaction must be aborted at re-init")
        retry.send(0, Seq(("fresh".getBytes(u8), "y".getBytes(u8))), 2L)
        retry.commitTransaction()
      } finally retry.close()
      // the zombie's late commit is FENCED, never resurrects its rows
      intercept[KafkaWire.ProducerFencedException] {
        zombie.commitTransaction()
      }
      zombie.close()
      assert(committedKeys(srv, "t") === Seq("fresh"))
    } finally srv.stop()
  }

  test("exactly-once DSv2 sink: a failed Spark task's rows are aborted, never visible to read_committed") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      import spark.implicits._
      def write(df: org.apache.spark.sql.DataFrame): Unit =
        df.coalesce(1).write.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t")
          .option("transactionalIdPrefix", "eos")
          .mode("append").save()
      // a successful transactional write
      write((1 to 10).map(i => (s"ok$i", s"v$i")).toDF("key", "value"))
      def committedCount() = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("isolationLevel", "read_committed")
        .load().count()
      assert(committedCount() === 10L)
      // a FAILING write: 600 rows flush once (500-record chunks), then
      // a poisoned row throws inside the task — the writer aborts
      val poison = org.apache.spark.sql.functions.udf { (k: String) =>
        if (k == "boom550") throw new RuntimeException("poisoned row")
        k
      }
      // spark.range, NOT a local Seq: ConvertToLocalRelation would
      // evaluate the poison udf on the DRIVER at optimization time and
      // the task (and its flush) would never run
      val bad = spark.range(1, 601)
        .select(org.apache.spark.sql.functions
          .concat(org.apache.spark.sql.functions.lit("boom"), $"id").as("key"),
          org.apache.spark.sql.functions.lit("x").as("value"))
        .withColumn("key", poison($"key"))
      intercept[Exception] { write(bad) }
      // the failed task's FLUSHED rows sit in the log...
      val uncommitted = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").load().count()
      assert(uncommitted > 10L,
        "the aborted attempt's flushed rows are physically in the log")
      // ...but a committed reader NEVER sees them — no J1 needed
      assert(committedCount() === 10L,
        "exactly-once: aborted task rows must stay invisible")
      // and a retry of the same logical write lands exactly once
      write((1 to 5).map(i => (s"retry$i", "v")).toDF("key", "value"))
      assert(committedCount() === 15L)
    } finally srv.stop()
  }

  test("exactly-once consume-transform-produce: offsets move atomically with the produced records") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      // source data
      val src = new KafkaWire.RetryingProducer("localhost", srv.port, "src")
      try src.send(0, (0 until 10).map(i =>
        (s"k$i".getBytes(u8), s"v$i".getBytes(u8))), 1L)
      finally src.close()
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        def committedOffset(): Option[Long] =
          KafkaWire.fetchOffsets(c, "etl", "src", Seq(0))(0)
        def readSrcFrom(off: Long): Seq[KafkaWire.Record] =
          KafkaWire.fetch(c, "src", 0, off)._1
        def transformAndStage(p: KafkaWire.RetryingProducer): Unit = {
          val from = committedOffset().getOrElse(0L)
          val recs = readSrcFrom(from)
          p.send(0, recs.map(r =>
            (r.key, (new String(r.value, u8) + "-out").getBytes(u8))), 2L)
          p.sendOffsetsToTransaction("etl", "src",
            Map(0 -> (recs.last.offset + 1)))
        }
        // attempt 1 does ALL the work, then CRASHES before commit
        val attempt1 = new KafkaWire.RetryingProducer("localhost", srv.port,
          "dst", idempotent = true, transactionalId = "etl-txn")
        attempt1.beginTransaction()
        transformAndStage(attempt1)
        // crash: no EndTxn. Nothing moved — staged offsets invisible,
        // produced rows invisible to read_committed
        assert(committedOffset().isEmpty,
          "staged offsets must not leak before commit")
        assert(committedKeys(srv, "dst").isEmpty)

        // the restarted loop: same transactional id — init fences the
        // zombie and aborts its half-done transaction, then the retry
        // re-reads from the UNMOVED position and lands exactly once
        val attempt2 = new KafkaWire.RetryingProducer("localhost", srv.port,
          "dst", idempotent = true, transactionalId = "etl-txn")
        try {
          attempt2.beginTransaction()
          assert(committedOffset().isEmpty, "aborted staging stays gone")
          transformAndStage(attempt2)
          attempt2.commitTransaction()
        } finally attempt2.close()
        // atomically: offsets moved AND exactly the 10 transformed rows
        assert(committedOffset().contains(10L))
        assert(committedKeys(srv, "dst") === (0 until 10).map(i => s"k$i"))
        // the fenced zombie can neither stage offsets nor commit
        intercept[KafkaWire.ProducerFencedException] {
          attempt1.sendOffsetsToTransaction("etl", "src", Map(0 -> 99L))
        }
        attempt1.close()
        // next loop iteration: position at 10, nothing left to read
        assert(readSrcFrom(committedOffset().get).isEmpty)

        // explicit-abort path: staged offsets are discarded with it
        val aborter = new KafkaWire.RetryingProducer("localhost", srv.port,
          "dst", idempotent = true, transactionalId = "etl-abort")
        try {
          aborter.beginTransaction()
          aborter.sendOffsetsToTransaction("etl", "src", Map(0 -> 3L))
          aborter.abortTransaction()
        } finally aborter.close()
        assert(committedOffset().contains(10L),
          "an aborted transaction's staged offsets must not apply")
      } finally c.close()
    } finally srv.stop()
  }

  test("transactionalCommit=job: a 4-task job failing at task 3 publishes ZERO rows; the retry lands exactly once") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions.{concat, lit}
      def write(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t")
          .option("transactionalIdPrefix", "job-eos")
          .option("transactionalCommit", "job")
          .mode("append").save()
      def committed() = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("isolationLevel", "read_committed")
        .load()
      // 4 input partitions of 500 rows each; the LAST row of partition
      // 3 is poisoned, so tasks 0-2 run to completion (each flushes its
      // full 500-row transactional batch and reports its open txn to
      // the driver) while task 3 dies — under TASK-level commit, tasks
      // 0-2's rows would already be published
      val poison = org.apache.spark.sql.functions.udf { (k: String) =>
        if (k == "boom1999") throw new RuntimeException("poisoned row")
        k
      }
      // spark.range, not a local Seq: ConvertToLocalRelation would run
      // the poison udf on the driver at plan time
      val bad = spark.range(0, 2000, 1, 4)
        .select(concat(lit("boom"), $"id").as("key"), lit("x").as("value"))
        .withColumn("key", poison($"key"))
      intercept[Exception] { write(bad) }
      // the completed tasks' rows are physically in the log...
      val flushed = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").load().count()
      assert(flushed >= 500L,
        "completed tasks flushed their transactional batches")
      // ...but the driver aborted EVERY task's transaction: the failed
      // job published NOTHING (task-level commit would show 1500 here)
      assert(committed().count() === 0L,
        "a job-committed write must be all-or-nothing")
      // the retried job (same ids — the epoch bump fences leftovers)
      // lands each row exactly once
      val good = spark.range(0, 2000, 1, 4)
        .select(concat(lit("r"), $"id").as("key"), lit("x").as("value"))
      write(good)
      val keys = committed().select("key").as[String].collect()
      assert(keys.length === 2000)
      assert(keys.toSet === (0 until 2000).map(i => s"r$i").toSet)
      // zero-row tasks hold (empty) transactions too — the fan-out
      // EndTxn on a partition-free transaction is a safe no-op
      write(spark.range(0, 3, 1, 1).repartition(6)
        .select(concat(lit("z"), $"id").as("key"), lit("x").as("value")))
      assert(committed().count() === 2003L)
    } finally srv.stop()
  }

  test("transactionalCommit=job on a STREAM: each epoch's task transactions commit at the epoch") {
    import org.apache.spark.sql.streaming.Trigger
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      import spark.implicits._
      val srcDir = java.nio.file.Files.createTempDirectory("jobtxn-src")
      val ckpt = java.nio.file.Files.createTempDirectory("jobtxn-ckpt").toString
      def writeBatchFile(n: Int, tag: String): Unit =
        (1 to n).map(i => (s"$tag$i", "v")).toDF("key", "value")
          .coalesce(1).write.mode("append").parquet(srcDir.toString)
      def drainEpoch(): Unit = {
        val q = spark.readStream
          .schema("key STRING, value STRING").parquet(srcDir.toString)
          .repartition(3) // several tasks per epoch, all driver-committed
          .writeStream.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t")
          .option("transactionalIdPrefix", "stream-eos")
          .option("transactionalCommit", "job")
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      def committed() = spark.read.format("graft-kafka")
        .option("host", "localhost").option("port", srv.port.toString)
        .option("topic", "t").option("isolationLevel", "read_committed")
        .load().select($"key").as[String].collect().toSet
      writeBatchFile(7, "a")
      drainEpoch()
      assert(committed() === (1 to 7).map(i => s"a$i").toSet,
        "the epoch's transactions commit via the driver fan-out")
      // a second epoch on the SAME checkpoint reuses the stable
      // transactional ids (epoch bump) and lands exactly once more
      writeBatchFile(4, "b")
      drainEpoch()
      assert(committed() === ((1 to 7).map(i => s"a$i") ++
        (1 to 4).map(i => s"b$i")).toSet)
    } finally srv.stop()
  }

  test("read_committed streaming source: the drain stops at the LSO and resumes past the commit") {
    import org.apache.spark.sql.streaming.Trigger
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", srv.port, "t",
        idempotent = true, transactionalId = "txn-s")
      val ckpt = java.nio.file.Files.createTempDirectory("txn-ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("txn-out").toString
      def drain(): Unit = {
        val q = spark.readStream.format("graft-kafka")
          .option("host", "localhost").option("port", srv.port.toString)
          .option("topic", "t").option("isolationLevel", "read_committed")
          .load()
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      try {
        prod.beginTransaction()
        prod.send(0, Seq(("open1".getBytes(u8), "v".getBytes(u8))), 1L)
        drain() // open transaction: the committed drain admits nothing
        assert(spark.read.parquet(outDir).count() === 0L)
        prod.commitTransaction()
        drain() // now the committed records flow, exactly once
        val rows = spark.read.parquet(outDir).collect()
        assert(rows.map(_.getAs[String]("key")).toSeq === Seq("open1"))
        drain() // idempotent resume: markers don't re-deliver anything
        assert(spark.read.parquet(outDir).count() === 1L)
      } finally { prod.close() }
    } finally srv.stop()
  }
}

package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `format("graft-kafka")` — the Structured Streaming source over the
  * from-scratch wire client ([[KafkaWire]]): T1's
  * `readStream.format("kafka").option("startingOffsets","earliest")`
  * shape (collect/consumer.py:152-159) with the connector replaced by
  * this library's own protocol implementation, since the sandbox
  * ships neither kafka-clients nor spark-sql-kafka.
  *
  * Offsets are the REAL thing rather than a simulation: a batch is
  * the per-partition range [start, end) where `end` comes from
  * ListOffsets(latest) at planning time, the ranges ride the
  * checkpoint as JSON, executors fetch their own ranges over TCP
  * (one task per topic partition — the connector's parallelism
  * shape), and a restart resumes from the checkpointed next-offset
  * map exactly once. Schema mirrors the connector's core columns:
  * (partition INT, offset LONG, timestamp LONG, key STRING,
  * value STRING).
  *
  * Options: host, port, topic (required); startingOffsets
  * earliest|latest; maxOffsetsPerTrigger (admission control);
  * minPartitions (split per-topic-partition offset ranges into at
  * least this many scan tasks — a 1-partition topic otherwise caps
  * consume at one task); includeHeaders true|false (append the
  * `headers ARRAY<STRUCT<key,value>>` column; a record without
  * headers reads as an empty array); isolationLevel read_uncommitted|read_committed
  * (committed reads stop at the last stable offset, filter aborted
  * transactions, and never surface control markers); failOnDataLoss
  * true|false (what to do when retention deleted offsets a checkpoint
  * still points at: true — the default, the stock connector's — fails
  * the query loudly; false skips to the surviving log head with a
  * WARN); sink-side:
  * codec none|gzip|snappy|lz4 (record-batch compression), idempotent
  * true|false (producer sequences, broker-side retry dedup),
  * transactionalIdPrefix (EXACTLY-ONCE: one
  * transaction per task, committed in commit(), aborted on task
  * failure — a read_committed consumer never sees a failed attempt's
  * rows); transactionalCommit task|job (job = tasks leave their
  * transactions open and the DRIVER commits them all only after every
  * task succeeded — a job failing at task 3 of 4 publishes ZERO rows;
  * see KafkaWireWrite.endAll for the honest atomicity/availability
  * trade); an input `headers` column of the canonical struct shape is
  * written as record headers. Batch reads (spark.read) scan
  * earliest..latest.
  */
class KafkaWireDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kafka"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaWireDataSource.schemaWith(
      Option(options.get("includeHeaders")).contains("true"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // option names are case-insensitive, the stock connector's contract
    // — a mis-cased maxOffsetsPerTrigger silently ignored would mean an
    // unbounded first batch, the exact scenario the option prevents
    val opts = new CaseInsensitiveStringMap(properties)
    val host = opts.get("host")
    val port = opts.get("port")
    val topic = opts.get("topic")
    require(host != null && port != null && topic != null,
      "options host, port, topic are required")
    val starting = Option(opts.get("startingOffsets")).getOrElse("earliest")
    require(starting == "earliest" || starting == "latest",
      s"startingOffsets must be earliest or latest, got '$starting'")
    val startingTs = Option(opts.get("startingTimestamp")).map { v =>
      val t = try java.lang.Long.parseLong(v)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"startingTimestamp must be a non-negative epoch-ms long, got '$v'")
      }
      require(t >= 0, s"startingTimestamp must be non-negative, got $t")
      t
    }
    require(!(startingTs.isDefined && opts.containsKey("startingOffsets")),
      "startingTimestamp and startingOffsets are mutually exclusive")
    val endingTs = Option(opts.get("endingTimestamp")).map { v =>
      val t = try java.lang.Long.parseLong(v)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"endingTimestamp must be a non-negative epoch-ms long, got '$v'")
      }
      require(t >= 0, s"endingTimestamp must be non-negative, got $t")
      t
    }
    (startingTs, endingTs) match {
      case (Some(a), Some(b)) => require(a <= b,
        s"startingTimestamp $a must be <= endingTimestamp $b")
      case _ =>
    }
    val tsStrategy = Option(opts.get("startingOffsetsByTimestampStrategy"))
      .getOrElse("error")
    require(tsStrategy == "error" || tsStrategy == "latest",
      "startingOffsetsByTimestampStrategy must be error or latest, " +
        s"got '$tsStrategy'")
    require(!(opts.containsKey("startingOffsetsByTimestampStrategy") &&
        startingTs.isEmpty),
      "startingOffsetsByTimestampStrategy needs startingTimestamp")
    val codec = KafkaWire.Codec.forName(
      Option(opts.get("codec")).getOrElse("none"))
    // acks: "all"/"-1" (default — acked only when every in-sync replica
    // persisted; survives clean leader failover) or "1" (leader-only —
    // a record acked just before the leader dies can be lost). The
    // stock connector's kafka.acks passthrough, validated at plan time.
    val acks = Option(opts.get("acks")).getOrElse("all") match {
      case "all" | "-1" => "all"
      case "1" => "1"
      case other => throw new IllegalArgumentException(
        s"acks must be all|-1|1, got '$other'")
    }
    val idempotent = Option(opts.get("idempotent")).exists { v =>
      require(v == "true" || v == "false",
        s"idempotent must be true or false, got '$v'")
      v == "true"
    }
    val isolation = KafkaWire.Isolation.forName(
      Option(opts.get("isolationLevel")).getOrElse("read_uncommitted"))
    val txnPrefix = Option(opts.get("transactionalIdPrefix"))
    txnPrefix.foreach(pfx => require(pfx.nonEmpty,
      "transactionalIdPrefix must be non-empty"))
    val txnJobCommit = Option(opts.get("transactionalCommit")).map { v =>
      require(v == "task" || v == "job",
        s"transactionalCommit must be task or job, got '$v'")
      v == "job"
    }.getOrElse(false)
    require(!(txnJobCommit && txnPrefix.isEmpty),
      "transactionalCommit=job needs transactionalIdPrefix")
    val includeHeaders = Option(opts.get("includeHeaders")).exists { v =>
      require(v == "true" || v == "false",
        s"includeHeaders must be true or false, got '$v'")
      v == "true"
    }
    val failOnDataLoss = Option(opts.get("failOnDataLoss")).map { v =>
      require(v == "true" || v == "false",
        s"failOnDataLoss must be true or false, got '$v'")
      v == "true"
    }.getOrElse(true)
    val minPartitions = Option(opts.get("minPartitions")).map { v =>
      val n = try Integer.parseInt(v)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"minPartitions must be a positive int, got '$v'")
      }
      require(n > 0, s"minPartitions must be positive, got $n")
      n
    }
    val maxOffsets = Option(opts.get("maxOffsetsPerTrigger")).map { v =>
      try java.lang.Long.parseLong(v): Long
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"maxOffsetsPerTrigger must be a positive long, got '$v'")
      }
    }
    maxOffsets.foreach(m => require(m > 0,
      s"maxOffsetsPerTrigger must be positive, got $m"))
    new KafkaWireTable(host, Integer.parseInt(port), topic, starting, codec,
      maxOffsets, idempotent, minPartitions, includeHeaders,
      isolation, txnPrefix, startingTs, endingTs, txnJobCommit,
      failOnDataLoss, tsStrategy, acks)
  }
}

object KafkaWireDataSource {
  val schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = true)))

  /** The headers column type — the stock connector's shape:
    * ARRAY<STRUCT<key STRING, value BINARY>>. */
  val headersType: ArrayType = ArrayType(StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", BinaryType, nullable = true))))

  /** Read schema, with the headers column appended when
    * includeHeaders=true (the stock connector's opt-in — a schema
    * change behind an option, never a surprise column). */
  def schemaWith(includeHeaders: Boolean): StructType =
    if (!includeHeaders) schema
    else StructType(schema.fields :+
      StructField("headers", headersType, nullable = true))
}

private[sources] class KafkaWireTable(host: String, port: Int, topic: String,
    startingOffsets: String = "earliest", codec: Int = KafkaWire.Codec.None,
    maxOffsetsPerTrigger: Option[Long] = None,
    idempotent: Boolean = false, minPartitions: Option[Int] = None,
    includeHeaders: Boolean = false,
    isolation: Int = KafkaWire.Isolation.ReadUncommitted,
    txnPrefix: Option[String] = None,
    startingTimestamp: Option[Long] = None,
    endingTimestamp: Option[Long] = None,
    txnJobCommit: Boolean = false,
    failOnDataLoss: Boolean = true,
    tsStrategy: String = "error",
    acks: String = "all")
    extends Table with SupportsRead with SupportsWrite {
  require(host != null && topic != null, "options host, port, topic are required")
  override def name(): String = s"graft-kafka($topic@$host:$port)"
  override def schema(): StructType =
    KafkaWireDataSource.schemaWith(includeHeaders)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new KafkaWireScan(host, port, topic, startingOffsets,
          maxOffsetsPerTrigger, minPartitions, includeHeaders, isolation,
          startingTimestamp, endingTimestamp, failOnDataLoss, tsStrategy)
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new KafkaWireWrite(host, port, topic, info.schema(), codec,
          idempotent, txnPrefix, txnJobCommit, acks)
    }
}

/** The write half of S2 as a first-class DSv2 sink: `df.write` /
  * `writeStream.format("graft-kafka")` — the declarative shape of the
  * reference's producer loop (collect/producer.py:50), replacing the
  * foreachPartition/foreachBatch helpers with the engine-managed
  * epoch-id-keyed protocol. Without `transactionalIdPrefix`,
  * semantics are AT-LEAST-ONCE, exactly like the stock connector's: a
  * task retry or epoch replay re-produces its rows, and the canonical
  * downstream absorber is the J1 anti-join upsert. The input needs `key`/`value` columns of STRING or BINARY
  * type (the stock connector's contract — ACCEPT_ANY_SCHEMA skips the
  * engine's schema check, so the type gate lives here and fails at
  * PLAN time, never by reinterpreting row bytes); extra columns are
  * ignored, so a `graft-kafka` source can round-trip straight back
  * into the sink. Records are CreateTime-stamped per flush (the stock
  * producer stamps per send), not per query start. */
private[sources] class KafkaWireWrite(host: String, port: Int, topic: String,
    schema: StructType, codec: Int = KafkaWire.Codec.None,
    idempotent: Boolean = false,
    txnPrefix: Option[String] = None,
    txnJobCommit: Boolean = false,
    acks: String = "all") extends Write {
  require(schema.fieldNames.contains("key") && schema.fieldNames.contains("value"),
    s"graft-kafka sink needs key and value columns; got ${schema.simpleString}")
  private def binaryness(field: String): Boolean =
    schema(field).dataType match {
      case StringType => false
      case BinaryType => true
      case other => throw new IllegalArgumentException(
        s"graft-kafka sink: column '$field' must be STRING or BINARY, " +
          s"got ${other.simpleString} — cast it explicitly")
    }
  // evaluated at Write construction = plan time, before any task runs
  private val keyBinary = binaryness("key")
  private val valueBinary = binaryness("value")
  // optional headers column (the stock connector's write contract):
  // validated at PLAN time against the canonical array<struct<key
  // string, value binary>> shape
  private val headersIdx: Int =
    if (!schema.fieldNames.contains("headers")) -1
    else {
      val ok = schema("headers").dataType match {
        case ArrayType(StructType(fields), _) if fields.length == 2 =>
          fields(0).name == "key" && fields(0).dataType == StringType &&
            fields(1).name == "value" && fields(1).dataType == BinaryType
        case _ => false
      }
      require(ok, s"graft-kafka sink: column 'headers' must be " +
        s"${KafkaWireDataSource.headersType.simpleString}, " +
        s"got ${schema("headers").dataType.simpleString}")
      schema.fieldIndex("headers")
    }
  private def factory = KafkaWriterFactory(host, port, topic,
    schema.fieldIndex("key"), schema.fieldIndex("value"),
    keyBinary, valueBinary, codec, idempotent, headersIdx,
    txnPrefix, txnJobCommit, acks)

  // ── transactionalCommit=job: driver-coordinated EndTxn fan-out ──────
  //
  // Task-level transactions (the default, the stock connector's shape)
  // leave a hole: a 4-task job that dies AFTER tasks 1-2 committed
  // their transactions has already published those tasks' rows — the
  // job "failed" but half its output is visible. In job mode each task
  // flushes its transactional batches and returns with its transaction
  // still OPEN (invisible to read_committed, LSO-pinned), reporting
  // (transactionalId, pid, epoch) in its commit message; the DRIVER
  // commits every task's transaction only once ALL tasks succeeded,
  // and aborts them all on job failure — the failing-at-task-3 job
  // publishes ZERO rows.
  //
  // The honest trade: (a) ATOMICITY residue — the commit fan-out
  // itself is not atomic; a driver crash partway through the EndTxn
  // loop leaves earlier transactions committed and later ones aborted-
  // on-retry (the retry's InitProducerId epoch bump aborts leftovers),
  // so the vulnerability window shrinks from "any task failure after
  // the first task commit" to "driver death inside the fan-out loop" —
  // eliminating it entirely needs a recoverable 2PC ledger (Flink's
  // TwoPhaseCommitSink persists pre-committed txns in its checkpoint;
  // Spark DSv2 exposes no recoverable pre-commit hook). (b)
  // AVAILABILITY — every task's transaction stays open (pinning its
  // partitions' LSO, blocking read_committed consumers past it) until
  // the SLOWEST task finishes, where task mode releases each task's
  // rows as it completes.
  private def endAll(messages: Array[WriterCommitMessage],
      commit: Boolean): Unit = {
    val pending = messages.collect { case m: KafkaTxnPending => m }
    if (pending.nonEmpty) {
      val c = new KafkaWire.Conn(host, port)
      try pending.foreach { m =>
        try KafkaWire.endTxn(c, m.transactionalId, m.producerId,
          m.producerEpoch, commit)
        catch {
          // on ABORT a fenced EndTxn is fine — a newer attempt's
          // InitProducerId already bumped the epoch, which aborted this
          // transaction; on COMMIT fencing must stay LOUD (a concurrent
          // writer superseded this job — its rows are gone)
          case e: KafkaWire.ProducerFencedException if !commit =>
            val _ = e
        }
      } finally c.close()
    }
  }

  override def toBatch: BatchWrite = new BatchWrite {
    private val f = factory
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = f
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      if (txnJobCommit) endAll(messages, commit = true)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      if (txnJobCommit) endAll(messages, commit = false)
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    private val f = factory
    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory = f
    // task mode: records are on the broker (and task transactions
    // committed) when each task's commit() returns; the epoch-level
    // call is bookkeeping. Job mode: the epoch's task transactions
    // commit HERE, atomically-ish (see endAll's honest-trade note).
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      if (txnJobCommit) endAll(messages, commit = true)
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      if (txnJobCommit) endAll(messages, commit = false)
  }
}

private[sources] case class KafkaWriteCommit(rows: Long) extends WriterCommitMessage

/** A job-commit task's receipt: its transaction is flushed but still
  * OPEN on the broker — the driver EndTxns it at job commit/abort. */
private[sources] case class KafkaTxnPending(transactionalId: String,
    producerId: Long, producerEpoch: Int, rows: Long)
  extends WriterCommitMessage

private[sources] case class KafkaWriterFactory(host: String, port: Int,
    topic: String, keyIdx: Int, valueIdx: Int,
    keyBinary: Boolean, valueBinary: Boolean,
    codec: Int = KafkaWire.Codec.None,
    idempotent: Boolean = false, headersIdx: Int = -1,
    txnPrefix: Option[String] = None, txnJobCommit: Boolean = false,
    acks: String = "all")
    extends DataWriterFactory with StreamingDataWriterFactory {
  // the transactional id is STABLE per (prefix, topic, input
  // partition): a retried task re-inits the same id, which bumps the
  // epoch — fencing the zombie attempt AND aborting anything it left
  // open. Streaming epochs reuse the id sequentially (one transaction
  // per epoch per partition).
  private def tid(partitionId: Int): Option[String] =
    txnPrefix.map(pfx => s"$pfx-$topic-$partitionId")
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KafkaProduceWriter(host, port, topic, keyIdx, valueIdx,
      keyBinary, valueBinary, codec, idempotent, headersIdx,
      tid(partitionId), txnJobCommit, acks)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new KafkaProduceWriter(host, port, topic, keyIdx, valueIdx,
      keyBinary, valueBinary, codec, idempotent, headersIdx,
      tid(partitionId), txnJobCommit, acks)
}

/** One task's producer: buffers rows, routes them to topic partitions
  * by murmur2(key), flushes 500-record chunks through the
  * reconnect-retrying client. An abort stops cleanly but cannot unsend
  * flushed chunks — that is the at-least-once contract, absorbed by
  * the J1 upsert downstream. */
private[sources] class KafkaProduceWriter(host: String, port: Int,
    topic: String, keyIdx: Int, valueIdx: Int,
    keyBinary: Boolean, valueBinary: Boolean,
    codec: Int = KafkaWire.Codec.None,
    idempotent: Boolean = false, headersIdx: Int = -1,
    transactionalId: Option[String] = None,
    txnJobCommit: Boolean = false,
    acks: String = "all")
    extends DataWriter[InternalRow] {
  // idempotent=true: this TASK's producer gets a fresh PID and
  // per-partition sequences, so the client's own I/O retries dedup
  // broker-side (exactly-once across connection faults). A whole-task
  // retry is a NEW writer = new PID — that replay is still absorbed
  // downstream (the stock connector's non-transactional contract).
  //
  // transactionalId set (transactionalIdPrefix option): the task's
  // rows ride ONE transaction — commit() flushes then commits it,
  // abort() aborts it, and a read_committed consumer sees a failed
  // task's rows NEVER (not even transiently). This is the
  // exactly-once sink; transactions imply idempotence. Granularity is
  // the TASK (each task commits its own transaction; a job-level abort
  // after some tasks committed cannot recall those — Spark's commit
  // coordinator prevents double-committing a partition). Two
  // boundaries, both inherent to one-phase transactional sinks:
  // the prefix must be UNIQUE PER QUERY over a topic (two live queries
  // sharing one would fence each other), and a connection failure
  // DURING the EndTxn(commit) ack leaves the classic commit ambiguity
  // — the broker may have committed while the task reports failure, so
  // a task retry re-produces committed rows. Closing that needs an
  // engine-side 2PC ledger (the Flink TwoPhaseCommitSink shape), which
  // Spark's DSv2 does not offer a recoverable hook for.
  private val prod = new KafkaWire.RetryingProducer(host, port, topic,
    idempotent = idempotent || transactionalId.isDefined,
    transactionalId = transactionalId.orNull, acks = acks)
  if (transactionalId.isDefined) prod.beginTransaction()
  private val buf =
    scala.collection.mutable.ArrayBuffer.empty[KafkaWire.Record]
  private var written = 0L

  private def bytesAt(row: InternalRow, idx: Int, binary: Boolean): Array[Byte] =
    if (row.isNullAt(idx)) null
    else if (binary) row.getBinary(idx)
    else row.getUTF8String(idx).getBytes

  private def headersAt(row: InternalRow): Seq[(String, Array[Byte])] =
    if (headersIdx < 0 || row.isNullAt(headersIdx)) Nil
    else {
      val arr = row.getArray(headersIdx)
      (0 until arr.numElements()).map { i =>
        val h = arr.getStruct(i, 2)
        h.getUTF8String(0).toString -> (if (h.isNullAt(1)) null else h.getBinary(1))
      }
    }

  override def write(row: InternalRow): Unit = {
    buf += KafkaWire.Record(0L, 0L,
      bytesAt(row, keyIdx, keyBinary),
      bytesAt(row, valueIdx, valueBinary),
      headersAt(row))
    written += 1
    if (buf.length >= 500) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    val nParts = prod.partitions
    // CreateTime per flush — a long-running streaming query must stamp
    // records near their actual produce time, not the query start
    val ts = System.currentTimeMillis()
    buf.groupBy(r => KafkaWire.partitionFor(r.key, nParts)).foreach {
      case (p, recs) =>
        prod.sendRecords(p, recs.toSeq.map(_.copy(timestamp = ts)), codec)
    }
    buf.clear()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    if (transactionalId.isDefined && txnJobCommit) {
      // job-commit mode: leave the transaction OPEN (its rows stay
      // invisible to read_committed) and hand the (tid, pid, epoch)
      // receipt to the driver, which EndTxns every task's transaction
      // only once the whole job succeeded
      val (pid, epoch) = prod.producerIdentity
      KafkaTxnPending(transactionalId.get, pid, epoch, written)
    } else {
      if (transactionalId.isDefined) prod.commitTransaction()
      KafkaWriteCommit(written)
    }
  }
  override def abort(): Unit =
    if (transactionalId.isDefined) {
      // flushed rows become PERMANENTLY invisible to read_committed;
      // unflushed rows are simply dropped with the buffer
      buf.clear()
      prod.abortTransaction()
    }
  override def close(): Unit = prod.close()
}

private[sources] class KafkaWireScan(host: String, port: Int, topic: String,
    startingOffsets: String = "earliest",
    maxOffsetsPerTrigger: Option[Long] = None,
    minPartitions: Option[Int] = None,
    includeHeaders: Boolean = false,
    isolation: Int = KafkaWire.Isolation.ReadUncommitted,
    startingTimestamp: Option[Long] = None,
    endingTimestamp: Option[Long] = None,
    failOnDataLoss: Boolean = true,
    tsStrategy: String = "error")
    extends Scan with Batch {
  override def readSchema(): StructType =
    KafkaWireDataSource.schemaWith(includeHeaders)

  private def offsets(timestamp: Long): Map[Int, Long] = {
    val c = new KafkaWire.Conn(host, port)
    // read_committed resolves "latest" to the LAST STABLE offset — a
    // batch read must not plan a range into an open transaction; each
    // partition's lookup is routed to its LEADER (offset indexes live
    // with the log on a multi-broker cluster)
    try KafkaWire.listOffsetsAll(c, topic, timestamp, isolation)
    finally c.close()
  }

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    // timestamp bounds resolve per partition through the ListOffsets
    // time lookup: start = earliest offset at/after startingTimestamp
    // (else earliest); end = earliest offset at/after endingTimestamp,
    // EXCLUSIVE (else latest) - the stock connector's batch window.
    // A lookup the broker answers -1 ("nothing that new") resolves per
    // the published contract: a START falls to
    // startingOffsetsByTimestampStrategy — error (default: a mistyped
    // timestamp must not silently read zero rows) or latest; an END
    // past all data simply reads to the log end.
    val fromRaw = offsets(startingTimestamp.getOrElse(-2L))
    val untilRaw = offsets(endingTimestamp.getOrElse(-1L))
    val latest: Map[Int, Long] =
      if (fromRaw.values.exists(_ < 0) || untilRaw.values.exists(_ < 0))
        offsets(-1L)
      else Map.empty
    val from = fromRaw.map { case (p, o) =>
      if (o >= 0) p -> o
      else if (tsStrategy == "latest") p -> latest(p)
      else throw new IllegalStateException(
        s"no offset at/after startingTimestamp ${startingTimestamp.get} " +
          s"in $topic-$p; set startingOffsetsByTimestampStrategy=latest " +
          "to start at the log end instead of failing")
    }
    val until = untilRaw.map { case (p, o) =>
      p -> (if (o >= 0) o else latest(p)) }
    val ranges = from.keys.toSeq.sorted.map(p => (p, from(p), until(p)))
    KafkaWireScan.splitRanges(ranges, minPartitions.getOrElse(0))
      .map { case (p, lo, hi) =>
        KafkaRangePartition(host, port, topic, p, lo, hi,
          includeHeaders, isolation, failOnDataLoss): InputPartition }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KafkaRangeReaderFactory

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(endingTimestamp.isEmpty,
      "endingTimestamp bounds a BATCH read; a stream has no end - use " +
        "Trigger.AvailableNow to drain to the current end instead")
    new KafkaWireMicroBatchStream(host, port, topic, startingOffsets,
      maxOffsetsPerTrigger, minPartitions, includeHeaders, isolation,
      startingTimestamp, failOnDataLoss, tsStrategy)
  }
}

private[sources] object KafkaWireScan {
  /** Split per-topic-partition offset ranges into AT LEAST `minTasks`
    * scan tasks (the stock connector's minPartitions contract,
    * best-effort proportional): a topic with fewer partitions than the
    * cluster has cores otherwise caps scan parallelism at the topic
    * width — the measured 73 k rows/s single-task tail vs 623 k at
    * four partitions (BASELINE round-13 wire table). Slices are
    * contiguous [lo, hi) subranges, so per-range order is preserved
    * and the below-cursor drop in the reader keeps a compressed batch
    * spanning a slice boundary exactly-once: each slice keeps only the
    * offsets inside its own range. */
  private[sources] def splitRanges(ranges: Seq[(Int, Long, Long)],
      minTasks: Int): Seq[(Int, Long, Long)] = {
    val total = ranges.map { case (_, f, u) => math.max(0L, u - f) }.sum
    if (minTasks <= ranges.size || total == 0L) ranges
    else ranges.flatMap { case (p, from, until) =>
      val size = math.max(0L, until - from)
      val share = math.round(minTasks.toDouble * size / total)
      val pieces = math.max(1L, math.min(size, share)).toInt
      (0 until pieces).flatMap { i =>
        val lo = from + size * i / pieces
        val hi = from + size * (i + 1) / pieces
        if (hi > lo) Some((p, lo, hi)) else None
      }
    }
  }
}

/** Next-offset-to-read per partition — the checkpointed position. */
private[sources] case class KafkaWireOffset(next: Map[Int, Long]) extends Offset {
  override def json(): String =
    next.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

private[sources] object KafkaWireOffset {
  def fromJson(s: String): KafkaWireOffset = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    KafkaWireOffset(JsonMethods.parse(s).extract[Map[String, Long]]
      .map { case (k, v) => k.toInt -> v })
  }
}

private[sources] class KafkaWireMicroBatchStream(host: String, port: Int,
    topic: String, startingOffsets: String = "earliest",
    maxOffsetsPerTrigger: Option[Long] = None,
    minPartitions: Option[Int] = None,
    includeHeaders: Boolean = false,
    isolation: Int = KafkaWire.Isolation.ReadUncommitted,
    startingTimestamp: Option[Long] = None,
    failOnDataLoss: Boolean = true,
    tsStrategy: String = "error")
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  @volatile private var lastKnownEnd: Option[Map[Int, Long]] = None

  private def endOffsets(): Map[Int, Long] = {
    val c = new KafkaWire.Conn(host, port)
    // read_committed batches end at the LAST STABLE offset;
    // leader-routed per partition
    val snap = try KafkaWire.listOffsetsAll(c, topic, -1L, isolation)
      finally c.close()
    lastKnownEnd = Some(snap)
    snap
  }

  // startingOffsets: earliest (the reference's auto_offset_reset,
  // collect/consumer.py:154) or latest (ListOffsets -1) — only
  // consulted on a FRESH checkpoint, the stock connector's contract.
  override def initialOffset(): Offset = {
    // startingTimestamp wins (validated mutually exclusive upstream):
    // the per-partition time lookup; else earliest/latest. A time
    // lookup the broker answers -1 ("nothing that new") follows
    // startingOffsetsByTimestampStrategy: error (default) or latest.
    val ts = startingTimestamp
      .getOrElse(if (startingOffsets == "latest") -1L else -2L)
    val c = new KafkaWire.Conn(host, port)
    try {
      val raw = KafkaWire.listOffsetsAll(c, topic, ts, isolation)
      val latest: Map[Int, Long] =
        if (raw.values.exists(_ < 0) && tsStrategy == "latest")
          KafkaWire.listOffsetsAll(c, topic, -1L, isolation)
        else Map.empty
      KafkaWireOffset(raw.map { case (p, o) =>
        p -> (if (o >= 0) o
          else if (tsStrategy == "latest") latest(p)
          else throw new IllegalStateException(
            s"no offset at/after startingTimestamp ${startingTimestamp.get} " +
              s"in $topic-$p; set startingOffsetsByTimestampStrategy=latest " +
              "to start at the log end instead of failing"))
      })
    } finally c.close()
  }

  // ── admission control (the stock connector's backpressure contract):
  // maxOffsetsPerTrigger caps each micro-batch's total record count,
  // allocated across partitions proportionally to their lag; under
  // Trigger.AvailableNow the end offsets are CAPTURED once at query
  // start, so the run drains exactly to that point across however
  // many rate-limited batches it takes. ──────────────────────────────
  @volatile private var availableNowEnd: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(endOffsets())

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Proportional-to-lag allocation of a ReadMaxRows cap (the stock
    * source's rate-limit shape), remainders to the laggiest partitions. */
  private[sources] def capByRows(start: Map[Int, Long], end: Map[Int, Long],
      max: Long): Map[Int, Long] = {
    val lags = end.map { case (p, e) =>
      p -> math.max(0L, e - start.getOrElse(p, 0L)) }
    val total = lags.values.sum
    if (total <= max) end
    else {
      // prorate in DOUBLE (the stock source does the same): Long
      // max*lag overflows for large caps x large lags. Each share is
      // then granted against a RUNNING remaining budget — double
      // rounding past 2^53 can round a share ABOVE its exact value, so
      // summing unclamped shares could exceed max; with the running
      // budget the invariant "admitted <= max" holds by construction.
      var remaining = max
      val ordered = lags.toSeq.sortBy { case (p, lag) => (-lag, p) }
      val give = scala.collection.mutable.Map.empty[Int, Long]
      ordered.foreach { case (p, lag) =>
        val share = math.min(lag,
          math.max(0L, (max.toDouble * lag / total).toLong))
        val g = math.min(share, remaining)
        give(p) = g
        remaining -= g
      }
      // hand the rounding remainder to the laggiest partitions, never
      // past a partition's own lag and never past the budget
      ordered.foreach { case (p, lag) =>
        if (remaining > 0) {
          val add = math.min(lag - give(p), remaining)
          give(p) += add
          remaining -= add
        }
      }
      end.map { case (p, e) =>
        p -> math.min(e, start.getOrElse(p, 0L) + give(p)) }
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KafkaWireOffset].next
    val target = availableNowEnd.getOrElse(endOffsets())
    KafkaWireOffset(limit match {
      case m: ReadMaxRows => capByRows(s, target, m.maxRows())
      case _ => target
    })
  }

  // progress reporting reuses the trigger's own ListOffsets sweep —
  // latestOffset (or the AvailableNow capture) just refreshed it; a
  // second broker round-trip per batch would be pure overhead
  override def reportLatestOffset(): Offset =
    KafkaWireOffset(availableNowEnd.orElse(lastKnownEnd).getOrElse(endOffsets()))

  // the engine calls the limit-aware form above once a source declares
  // SupportsAdmissionControl; reaching this would silently bypass the
  // rate limit, so fail loudly (the stock source does the same)
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")
  override def deserializeOffset(json: String): Offset =
    KafkaWireOffset.fromJson(json)
  override def commit(end: Offset): Unit = () // positions live in the checkpoint

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KafkaWireOffset].next
    val e = end.asInstanceOf[KafkaWireOffset].next
    val ranges = e.keys.toSeq.sorted.flatMap { p =>
      val from = s.getOrElse(p, 0L); val until = e(p)
      if (until > from) Some((p, from, until)) else None
    }
    KafkaWireScan.splitRanges(ranges, minPartitions.getOrElse(0))
      .map { case (p, lo, hi) =>
        KafkaRangePartition(host, port, topic, p, lo, hi,
          includeHeaders, isolation, failOnDataLoss): InputPartition }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KafkaRangeReaderFactory
  override def stop(): Unit = ()
}

/** One topic partition's [from, until) range — fetched by the task. */
private[sources] case class KafkaRangePartition(host: String, port: Int,
    topic: String, partition: Int, from: Long, until: Long,
    includeHeaders: Boolean = false,
    isolation: Int = KafkaWire.Isolation.ReadUncommitted,
    failOnDataLoss: Boolean = true)
    extends InputPartition

private[sources] class KafkaRangeReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new KafkaRangeReader(p.asInstanceOf[KafkaRangePartition])
}

private[sources] class KafkaRangeReader(p: KafkaRangePartition)
    extends PartitionReader[InternalRow] {
  // the DATA path goes to the partition's LEADER, discovered through
  // the bootstrap broker's metadata (on a one-broker cluster this IS
  // the bootstrap), and every fetch is PINNED to the leader epoch that
  // metadata named (KIP-320): a mid-read re-election surfaces as
  // NOT_LEADER or FENCED_LEADER_EPOCH — the epoch catches the case
  // the NOT_LEADER answer cannot, a deposed broker that still
  // believes it leads — and re-resolves below
  private var route =
    KafkaWire.leaderRoute(p.host, p.port, p.topic, p.partition)
  private def conn = route.conn
  private var fetcher = new KafkaWire.GrowingFetcher(conn, p.topic,
    p.partition, p.isolation, currentLeaderEpoch = route.epoch)
  private var reroutes = 0
  private var buf: Seq[KafkaWire.Record] = Seq.empty
  private var i = -1
  private var pos = p.from

  override def next(): Boolean = {
    i += 1
    if (i < buf.length) return true
    while (pos < p.until) {
      // GrowingFetcher owns the recovery algorithm (below-cursor drop
      // for wrapper batches, grow-on-truncation, loud too-large
      // failure); the range end is this reader's only extra bound.
      val fetched =
        try Some(fetcher.fetchAt(pos))
        catch {
          case e @ (_: KafkaWire.NotLeaderException |
              _: KafkaWire.FencedLeaderEpochException |
              _: KafkaWire.UnknownLeaderEpochException |
              _: java.net.SocketException | _: java.io.EOFException |
              _: java.net.ConnectException |
              _: java.net.SocketTimeoutException) =>
            // leadership moved mid-read (NOT_LEADER from a follower,
            // FENCED from a superseded epoch pin, UNKNOWN from a
            // behind broker — or the leader simply DIED, which
            // surfaces as a dead socket, not a tidy error code):
            // re-resolve through metadata — which carries the NEW
            // epoch to re-pin on — and continue from the SAME
            // position; the range's exactly-once contract is
            // position-based, not connection-based. Bounded: a
            // flapping controller must fail loudly.
            reroutes += 1
            if (reroutes > 8) throw e
            try conn.close() catch { case _: Exception => }
            try {
              route = KafkaWire.leaderRoute(p.host, p.port,
                p.topic, p.partition)
              fetcher = new KafkaWire.GrowingFetcher(conn, p.topic,
                p.partition, p.isolation, currentLeaderEpoch = route.epoch)
            } catch {
              // the offline window: no live leader to resolve yet —
              // the next fetchAt on the closed conn throws back into
              // this branch, which counts and retries the resolution
              case _: Exception => Thread.sleep(25)
            }
            None
          case e: KafkaWire.OffsetOutOfRangeException =>
            // retention advanced the log start past this range's
            // position (a checkpoint that outlived the log head). The
            // stock connector's contract, verbatim: failOnDataLoss=true
            // (default) fails the query loudly; =false warns, skips to
            // the new log start, and continues — records in between
            // are GONE either way, the option only chooses honesty mode
            if (p.failOnDataLoss)
              throw new IllegalStateException(
                s"some data may have been lost: offsets [${e.offset}, ...) " +
                  s"of ${p.topic}-${p.partition} were deleted by retention " +
                  "before this query read them. Set failOnDataLoss=false " +
                  "to skip lost ranges instead of failing.", e)
            val earliest =
              KafkaWire.listOffset(conn, p.topic, p.partition, -2L, p.isolation)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"data loss on ${p.topic}-${p.partition}: skipping offsets " +
                s"[$pos, $earliest) deleted by retention (failOnDataLoss=false)")
            if (earliest <= pos) return false // defensive: no progress
            pos = earliest // loop re-fetches from the surviving head
            None
        }
      fetched match {
        case None => // loss skip advanced pos: retry the fetch
        case Some((kept, _)) =>
          val inRange = kept.filter(_.offset < p.until)
          if (inRange.nonEmpty) {
            buf = inRange; i = 0; pos = inRange.last.offset + 1
            return true
          }
          // kept is either empty (caught up to a regressed hw —
          // defensive) or entirely past the exclusive range end: done
          return false
      }
    }
    false
  }

  override def get(): InternalRow = {
    val r = buf(i)
    val core = Seq[Any](p.partition, r.offset, r.timestamp,
      if (r.key == null) null else UTF8String.fromBytes(r.key),
      if (r.value == null) null else UTF8String.fromBytes(r.value))
    if (!p.includeHeaders) InternalRow(core: _*)
    else {
      // per-record headers; none reads as an empty array, never null
      val hs = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        r.headers.map { case (k, v) =>
          InternalRow(UTF8String.fromString(k), v) }.toArray[Any])
      InternalRow((core :+ (hs: Any)): _*)
    }
  }

  override def close(): Unit = conn.close()
}

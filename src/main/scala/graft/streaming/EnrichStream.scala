package graft.streaming

import graft.news.{Lake, NewsSchema}
import graft.udfs.Enrichers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streaming enrich pipeline (SURVEY.md §3.2; reference:
  * collect/consumer2.py): Kafka JSON → parse → processing-time column →
  * bounded dedup → enrich (U1–U3) → dual sink. The store sink is
  * exactly-once-EFFECT (upsert-by-link is idempotent under replay); the
  * lake sink is at-least-once (a replayed batch re-appends — readers
  * should dedup by link, or the in-stream watermark dedup bounds the
  * duplication window to the dedup horizon).
  *
  * Mapping from the reference:
  *  - S4 source DDL → `readStream.format("kafka")` + `from_json`;
  *  - `proctime AS PROCTIME()` (T2) → `current_timestamp()`;
  *  - producer's 1000-URL deque (F12) → `dropDuplicatesWithinWatermark`
  *    (state bounded by the watermark instead of a fixed count);
  *  - JDBC `ON CONFLICT DO NOTHING` (S5) → `Lake.upsertByLink` inside
  *    `foreachBatch` (J1 left-anti), which also writes the partitioned
  *    file sink (S7) from the same computed batch (T8: one computation,
  *    two sinks).
  */
object EnrichStream {

  /** Kafka source (S3/S4). Requires the Kafka connector on the
    * classpath at runtime; query shape is identical to [[enrichParsed]]
    * fed from any other source. */
  def fromKafka(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest") // collect/consumer.py:154
      .load()
      .selectExpr("CAST(value AS STRING) AS json")

  /** The same consumer entry on the library's OWN wire-protocol source
    * (`graft-kafka`, [[graft.sources.KafkaWireDataSource]]) — runnable
    * in-sandbox against a real TCP broker endpoint, earliest offsets,
    * checkpointed exactly-once resume. Query shape downstream is
    * identical to [[fromKafka]]. */
  def fromKafkaWire(spark: SparkSession, host: String, port: Int,
      topic: String, isolationLevel: String = "read_uncommitted"): DataFrame =
    spark.readStream.format("graft-kafka")
      .option("host", host).option("port", port.toString)
      .option("topic", topic)
      .option("isolationLevel", isolationLevel)
      .load()
      .selectExpr("CAST(value AS STRING) AS json")

  /** Parse the wire JSON, dedup by link within the watermark (F12 — the
    * streaming analogue of the producer's bounded URL deque, state
    * bounded by event time instead of a fixed count), then enrich.
    * Input: one string column `json`. */
  def enrichParsed(raw: DataFrame, embedDim: Int = 768,
      dedupHorizon: String = "1 hour"): DataFrame = {
    val parsed = raw
      .select(from_json(col("json"), NewsSchema.wireSchema).as("m")) // X16
      .select(col("m.*"))
      .where(col("link").isNotNull)
      .withColumn("proctime", current_timestamp()) // T2
      .withColumn("updated_ts", to_timestamp(col("updated")))
      .withColumn("event_ts", coalesce(col("updated_ts"), col("proctime")))
      .withWatermark("event_ts", dedupHorizon)
      .dropDuplicatesWithinWatermark("link")
    Enrichers.enrich(parsed, "summary", embedDim)
  }

  /** Start the dual-sink query (T8). `storePath` gets upsert-by-link
    * parquet (exactly-once-effect); `lakePath` gets yyyyMMdd-partitioned
    * parquet rolled per trigger (S7's 1-min rolling ≈ trigger cadence). */
  def start(enriched: DataFrame, storePath: String, lakePath: String,
      checkpoint: String, trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    enriched.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withRows(batch) { rows => // shared by both sinks — computed once
          val stamped = rows.withColumn("partition_ts",
            coalesce(col("updated_ts"), col("proctime")))
          Lake.upsertByLink(rows.sparkSession, stamped, storePath)
          Lake.append(stamped, lakePath, "partition_ts")
        }
      }
      .start()

  /** Run a `foreachBatch` body on a micro-batch's rows, computed once,
    * unless it has none.
    *
    * The watermark dedup in [[enrichParsed]] makes Spark run a zero-row
    * micro-batch after each data batch, only so that the dedup can
    * evict expired state; sink work on it would append empty files.
    * The batch is persisted and counted first: the count runs every
    * partition, so the dedup's state store still commits its version
    * and evicts.
    *
    * `body` gets a frame over the cached rows' RDD, not the batch
    * itself: a self-join re-instances the batch's relation, and a
    * re-instanced foreachBatch relation misses the cache, so each such
    * plan would recompute the whole micro-batch (source read, parse,
    * enrich and the stateful dedup). */
  def withRows(batch: DataFrame)(body: DataFrame => Unit): Unit = {
    batch.persist()
    try {
      if (batch.count() > 0)
        body(batch.sparkSession.createDataFrame(batch.rdd, batch.schema))
    } finally batch.unpersist(blocking = false)
  }
}

package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Ingest-time chunk-span deduplication — the streaming face of the
  * batch `dedup_chunk_spans` operator (operators/Dedup.scala): each
  * arriving document is cut into 8-token chunks and scored against the
  * corpus-so-far's chunk-hash set, so repeated spans (boilerplate,
  * quoted text, re-crawls) are flagged BEFORE they land, instead of by
  * a later full-corpus sweep.
  *
  * The accumulated state is the distinct chunk-hash table — NOT stream
  * operator state: like CdcStream/DecontamStream, the stream routes
  * through `foreachBatch { b => sink(score(b, seen)); seen += fresh(b,
  * seen) }`, because per-hash streaming state would grow one state row
  * per corpus chunk inside the checkpoint. As a batch table the hash
  * set lives in the lake as plain parquet appended per batch (not
  * bucketed or partitioned by hash, so every trigger scans all of it),
  * merges idempotently (distinct union), and is exactly what the batch
  * operator would have built.
  *
  * Scale shape matches the batch op: chunks are content-addressed, so
  * the only per-batch work is a map-side chunk explode, one
  * hash-keyed aggregation over the (small) batch, and a hash-keyed
  * left join against the seen table — no pairwise comparison, cost
  * independent of how many historical documents share a span.
  *
  * Parity contract (spec-pinned): replaying a corpus through
  * `score`/`freshHashes` in ascending doc_id batches reproduces the
  * batch operator's per-doc (n_chunks, n_dup, dup_frac) exactly — the
  * canonical-occurrence rule (min doc_id, then min offset) is the
  * arrival order of an ordered replay.
  */
object SpanDedupStream {

  /** Attach `n_chunks` / `n_dup` / `dup_frac` to a `(doc_id, text)`
    * micro-batch. A chunk occurrence is duplicate if its hash is in
    * `seen` (a one-column `h` frame) OR an earlier occurrence exists
    * within this batch (min doc_id, then min offset). Chunk-less docs
    * (under one token) pass through as clean zero-count rows — an
    * ingest gate must never silently drop documents. */
  def score(docs: DataFrame, seen: DataFrame): DataFrame = {
    val ch = Dedup.chunkRowsOf(docs)
    // The seen-table join is deliberately hint-free: it is tiny at
    // bootstrap but corpus-sized at scale, and AQE's runtime-stats
    // decision picks broadcast vs shuffle correctly at both ends —
    // a forced broadcast() would be wrong the moment the hash table
    // outgrows the driver.
    val perDoc = ch
      .join(Dedup.ownerRows(ch), Seq("h"))
      .join(seen.select(col("h")).distinct()
        .withColumn("old", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("old").isNotNull ||
          !(col("doc_id") === col("d0") && col("idx") === col("i0")),
          1L).otherwise(0L)).as("n_dup"))
    docs.select(col("doc_id")).dropDuplicates("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(graft.functions.Num.roundp(
          col("n_dup").cast("double") / col("n_chunks"), 4), lit(0.0d))
          .as("dup_frac"))
  }

  /** The batch's chunk hashes not yet in `seen` — what the sink
    * appends to the accumulated hash table after scoring. */
  def freshHashes(docs: DataFrame, seen: DataFrame): DataFrame =
    Dedup.chunkRowsOf(docs).select(col("h")).distinct()
      .join(seen.select(col("h")), Seq("h"), "left_anti")

  /** The seen-hash table's schema: one md5 chunk-hash column `h`.
    * Readers pass it to `read.schema` so no trigger infers it from
    * the parquet footers. */
  val SeenSchema: StructType = new StructType().add("h", StringType)

  /** An empty seen-hash table (bootstrap state). */
  def emptySeen(s: SparkSession): DataFrame =
    s.createDataFrame(java.util.Collections.emptyList[Row](), SeenSchema)
}

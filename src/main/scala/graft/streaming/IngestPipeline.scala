package graft.streaming

import graft.news.Lake
import graft.udfs.Enrichers
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The COMPOSED ingest path — every gate the reference applies (or
  * should apply) between a feed and its lake, as ONE
  * readStream-to-sink pipeline (reference: collect/producer.py polls →
  * collect/consumer.py enriches and upserts; the dedup/decontam gates
  * are this library's training-data extensions):
  *
  *   graft-rss source (per-feed dedup-horizon offsets)
  *     → enrich (classify / keywords / embedding, U1–U3)
  *     → chunk-span dedup gate  (SpanDedupStream vs the corpus-so-far)
  *     → LSH near-dup gate      (LshDedupStream vs the corpus-so-far)
  *     → decontamination gate   (DecontamStream vs the eval shingles)
  *     → lake upsert-by-link    (exactly-once-effect, J1/S5)
  *
  * State placement follows each piece's own contract: the FEED dedup
  * horizon lives in the source offset (checkpoint-restored), the
  * chunk-hash corpus state lives in the LAKE (parquet `seenPath`, not
  * stream state), the MinHash band/shingle/size artifacts likewise
  * live under `lshPath` (appended per batch, idempotent by doc id;
  * they are not bucketed, so every trigger reads the whole seen,
  * band, shingle and size tables and the lake's links — per-batch
  * cost grows with the corpus), the eval shingle set is a broadcast-sized
  * batch frame, and delivered links live in the store itself (the
  * anti-join upsert). Nothing in the checkpoint grows with the
  * corpus — a restart replays at most one uncommitted micro-batch,
  * and every sink here is idempotent-effect (upsert by link; hash and
  * artifact appends are keyed anti-joins).
  *
  * Gate results are ATTACHED, not enforced (`dup_frac`,
  * `contaminated` columns on the lake rows): the curation decision —
  * drop, down-weight, re-route — is a downstream policy over flagged
  * data, and an ingest gate that silently deletes is unauditable.
  *
  * IngestPipelineSpec pins the end-to-end contract: two polls through
  * a checkpoint restart land each link once, with gate columns equal
  * to the batch operators replayed over the same arrival order.
  */
object IngestPipeline {

  /** Start the composed pipeline. `evalShingles`: one `s` column (see
    * [[DecontamStream.evalShingles]]). `seenPath` accumulates the
    * corpus chunk-hash table across batches AND runs. */
  def start(spark: SparkSession, feeds: String, storePath: String,
      seenPath: String, lshPath: String, evalShingles: DataFrame,
      checkpoint: String, horizon: Int = 1000, embedDim: Int = 768,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val src = spark.readStream.format("graft-rss")
      .option("feeds", feeds).option("horizon", horizon.toString)
      .load()
      .where(col("link").isNotNull)
      .withColumn("proctime", current_timestamp())
    val enriched = Enrichers.enrich(src, "summary", embedDim)
    enriched.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, storePath, seenPath, lshPath, evalShingles)
      }
      .start()
  }

  /** One micro-batch through the gate chain + lake upsert + corpus-state
    * append. Public so the chain can hang off ANY enriched source
    * (kafka, file, MemoryStream — StreamBench drives it this way), not
    * only the graft-rss reader `start` wires up. Expects `link` +
    * `summary` columns (plus whatever payload should land in the lake).
    *
    * A batch without rows (the no-data micro-batch the watermark dedup
    * of [[EnrichStream.enrichParsed]] asks for) is counted and then
    * left: no gate runs and no state file is appended. A batch with
    * rows is cached by that count, and every gate and write below
    * reads the cached rows ([[EnrichStream.withRows]]). */
  def processBatch(batch: DataFrame, storePath: String, seenPath: String,
      lshPath: String, evalShingles: DataFrame): Unit =
    EnrichStream.withRows(batch) { rows =>
      val s = rows.sparkSession
      val docs = rows.select(col("link").as("doc_id"),
        col("summary").as("text"))
      // gate state is read with its known schema: no footer-reading
      // inference job per table per trigger
      val seen =
        if (Lake.pathExists(s, seenPath))
          s.read.schema(SpanDedupStream.SeenSchema).parquet(seenPath)
        else SpanDedupStream.emptySeen(s)
      val span = SpanDedupStream.score(docs, seen)
        .withColumnRenamed("doc_id", "link")
      val (bandsP, shP, szP) =
        (s"$lshPath/bands", s"$lshPath/shingles", s"$lshPath/sizes")
      val (cBands, cSh, cSz) =
        if (Lake.pathExists(s, szP))
          (s.read.schema(LshDedupStream.BandsSchema).parquet(bandsP),
            s.read.schema(LshDedupStream.ShinglesSchema).parquet(shP),
            s.read.schema(LshDedupStream.SizesSchema).parquet(szP))
        else LshDedupStream.emptyArtifacts(s)
      val lsh = LshDedupStream.gate(docs, cBands, cSh, cSz)
        .withColumnRenamed("doc_id", "link")
      val dec = DecontamStream.score(docs, evalShingles)
        .withColumnRenamed("doc_id", "link")
      val gated = rows.join(span, Seq("link"), "left")
        .join(lsh, Seq("link"), "left")
        .join(dec, Seq("link"), "left")
      Lake.upsertByLink(s, gated, storePath)
      // The batch's new hashes and new doc ids extend the corpus state,
      // each computed against the PRE-append tables the gates read.
      // The appends are written straight from their plans: `seen` and
      // `cSz` listed their files when they were created above, so no
      // append below can be read back by the anti-join that feeds it.
      // `newDocs` (ids not yet in the sizes table: a replay-idempotent
      // append) is cached only because three writes share it.
      SpanDedupStream.freshHashes(docs, seen)
        .write.mode(SaveMode.Append).parquet(seenPath)
      val newDocs = docs.dropDuplicates("doc_id")
        .join(cSz.select(col("c_id").as("doc_id")), Seq("doc_id"), "left_anti")
        .persist()
      val (nb, nsh, nsz) = LshDedupStream.corpusArtifacts(newDocs)
      nb.write.mode(SaveMode.Append).parquet(bandsP)
      nsh.write.mode(SaveMode.Append).parquet(shP)
      nsz.write.mode(SaveMode.Append).parquet(szP)
      newDocs.unpersist(blocking = false)
    }
}

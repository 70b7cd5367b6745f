package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Streaming near-duplicate gate — the ingest-time face of the batch
  * `dedup_incremental` operator (operators/Dedup.scala): arriving
  * documents are MinHash-signed as they come in, probed against the
  * standing corpus's persisted band table for bucket collisions, and
  * candidates are verified at exact 3-gram Jaccard — so a near-copy of
  * something already in the lake is flagged BEFORE it lands, without a
  * later full-corpus LSH sweep. Complements [[SpanDedupStream]] (exact
  * chunk spans) with similarity-level dedup.
  *
  * Signing is per-document with no cross-batch state, so the streaming
  * form is `foreachBatch { b => sink(gate(b, corpus artifacts)) }` —
  * the same constant-memory shape as [[DecontamStream]]. The corpus
  * band/shingle/size tables are batch frames built once and reused
  * every trigger. The gate's own work is batch-sized (signatures of
  * the arriving docs), but its joins take the corpus tables whole:
  * finding bucket collisions scans every corpus band row, and the
  * verify joins scan the corpus shingle and size tables, so a
  * trigger's read cost grows with the standing corpus. Nothing is
  * partitioned by band key or c_id yet, so no scan is pruned to the
  * batch's colliding buckets.
  */
object LshDedupStream {

  /** Corpus-side artifacts for a docs frame: (bands, distinct
    * shingles, per-doc shingle counts) — rename to c_id to keep the
    * stream side's doc_id unambiguous. */
  def corpusArtifacts(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val sh = Dedup.shinglesOf(docs)
    val bands = Dedup.bandRowsOf(Dedup.minhashesOf(sh))
      .select(col("doc_id").as("c_id"), col("band"), col("key"))
    val ex = sh.distinct().select(col("doc_id").as("c_id"), col("s"))
    // one size row per DOC (not per shingled doc): a shingle-less doc
    // must still register in the artifact, or the pipeline's
    // append-by-anti-join would retry it every trigger
    val sizes = docs.select(col("doc_id").as("c_id")).distinct()
      .join(ex.groupBy(col("c_id")).agg(count(lit(1)).as("n")), Seq("c_id"), "left")
      .select(col("c_id"), coalesce(col("n"), lit(0L)).as("c_sz"))
    (bands, ex, sizes)
  }

  /** Schemas of the persisted (bands, shingles, sizes) artifacts with
    * STRING ids (links are the doc ids in the lake pipeline). Readers
    * pass them to `read.schema` so no trigger infers them from the
    * parquet footers. */
  val BandsSchema: StructType =
    new StructType().add("c_id", StringType).add("band", IntegerType).add("key", StringType)
  val ShinglesSchema: StructType = new StructType().add("c_id", StringType).add("s", StringType)
  val SizesSchema: StructType = new StructType().add("c_id", StringType).add("c_sz", LongType)

  /** Empty artifacts — the lake-pipeline bootstrap, mirroring
    * [[SpanDedupStream.emptySeen]]. */
  def emptyArtifacts(s: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    def empty(schema: StructType) =
      s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    (empty(BandsSchema), empty(ShinglesSchema), empty(SizesSchema))
  }

  /** Small-file compaction over the three persisted artifacts: every
    * trigger appends a file per task, so a long-running gate turns its
    * band/shingle/size tables into file-listing storms exactly like
    * the lake partitions (Lake.compactPartition's problem). Rewrites
    * each artifact directory into ceil(bytes / targetFileBytes) files
    * with the same write-aside-then-rename swap. Contents unchanged;
    * returns the per-artifact file counts. Run it from the maintenance
    * cadence, not the trigger path. */
  def compactArtifacts(s: org.apache.spark.sql.SparkSession, lshPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, Int] = {
    val conf = s.sparkContext.hadoopConfiguration
    Seq("bands", "shingles", "sizes").map { name =>
      val dir = new org.apache.hadoop.fs.Path(s"$lshPath/$name")
      val fs = dir.getFileSystem(conf)
      if (!fs.exists(dir)) name -> 0
      else {
        val bytes = fs.getContentSummary(dir).getLength
        val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        val tmp = new org.apache.hadoop.fs.Path(s"$lshPath/.compact_$name")
        s.read.parquet(dir.toString)
          .repartition(nFiles)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("compression", "zstd").parquet(tmp.toString)
        val old = new org.apache.hadoop.fs.Path(s"$lshPath/.old_$name")
        fs.rename(dir, old)
        fs.rename(tmp, dir)
        fs.delete(old, true)
        name -> fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
      }
    }.toMap
  }

  /** Attach `near_dup` / `match_id` / `jacc` to a `(doc_id, text)`
    * micro-batch. Semantics match the batch operator's near-dup stage:
    * candidate = shared LSH band bucket; verified at exact 3-gram
    * Jaccard >= `threshold`; match_id = lowest qualifying corpus id.
    * Docs producing no shingles (< 3 tokens) pass through as unique —
    * an ingest gate must not drop them. */
  def gate(docs: DataFrame, corpusBands: DataFrame, corpusShingles: DataFrame,
      corpusSizes: DataFrame, threshold: Double = 0.5): DataFrame = {
    val bs = Dedup.shinglesOf(docs).distinct()
    val bands = Dedup.bandRowsOf(Dedup.minhashesOf(bs))
    val cand = bands.join(corpusBands, Seq("band", "key"))
      .select(col("doc_id"), col("c_id")).distinct()
    val sizes = bs.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cand.join(bs, "doc_id")
      .join(corpusShingles, Seq("c_id", "s"))
      .groupBy(col("doc_id"), col("c_id")).agg(count(lit(1)).as("i"))
    val j = col("i").cast("double") /
      (col("sz") + col("c_sz") - col("i")).cast("double")
    val near = inter.join(sizes, "doc_id").join(corpusSizes, "c_id")
      .where(j >= threshold)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("c_id"),
        graft.functions.Num.roundp(j, 4).as("j"))).as("m"))
      .select(col("doc_id"), col("m.c_id").as("match_id"),
        col("m.j").as("jacc"))
    docs.select(col("doc_id")).dropDuplicates("doc_id")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("match_id").isNotNull.as("near_dup"),
        col("match_id"), col("jacc"))
  }
}

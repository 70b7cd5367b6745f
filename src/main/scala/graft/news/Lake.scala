package graft.news

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The parquet lake layer (SURVEY.md §7.1 module 5).
  *
  * Layout: date-partitioned by `year_month_day` = yyyyMMdd (X12,
  * collect/consumer2.py:205,220) so the daily-report date filter (F5)
  * becomes Catalyst partition pruning — one directory scanned per day
  * instead of the reference's full glob scan
  * (dags/scripts/spark_daily_report.py:50,63).
  */
object Lake {

  val PartitionCol = "year_month_day"

  def withPartitionKey(df: DataFrame, ts: String): DataFrame =
    df.withColumn(PartitionCol, date_format(col(ts), "yyyyMMdd"))

  /** Append a batch, date-partitioned. zstd: best scan-speed/size
    * tradeoff for a lake that is written once and scanned daily. */
  def append(df: DataFrame, path: String, ts: String = "updated"): Unit =
    withPartitionKey(df, ts).write.mode(SaveMode.Append)
      .option("compression", "zstd")
      .partitionBy(PartitionCol).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** J1: dedup-on-write = the reference's `INSERT … ON CONFLICT (link)
    * DO NOTHING` (collect/consumer.py:81) as a left-anti join against
    * the existing store + in-batch dropDuplicates. Idempotent-effect:
    * re-appending the same batch is a no-op, which is what makes
    * at-least-once delivery exactly-once-effect (T1/T5).
    *
    * The store's links are read with their known schema, so no call
    * reads parquet footers to infer it.
    *
    * Returns the rows actually written. */
  def upsertByLink(spark: SparkSession, batch: DataFrame, storePath: String): DataFrame = {
    val deduped = batch.dropDuplicates("link")
    val fresh =
      if (pathExists(spark, storePath)) {
        val existing = spark.read.schema(new StructType().add("link", StringType))
          .parquet(storePath)
        deduped.join(existing, Seq("link"), "left_anti")
      } else deduped
    // Two jobs on `fresh` (head + write) — persist to avoid recompute.
    fresh.persist()
    if (fresh.head(1).nonEmpty)
      fresh.write.mode(SaveMode.Append).parquet(storePath)
    val out = fresh
    fresh.unpersist(blocking = false)
    out
  }

  /** S12: post-report archival — move one day's partition directory from
    * the realtime lake into the archive (reference: webhdfs renames at
    * dags/scripts/spark_daily_report.py:285-293). A filesystem rename,
    * not a data rewrite: O(1) metadata on HDFS-like stores. Returns the
    * number of entries moved. */
  def archivePartition(spark: SparkSession, lakePath: String,
      archivePath: String, ymd: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$lakePath/$PartitionCol=$ymd")
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) 0
    else {
      val dstDir = new org.apache.hadoop.fs.Path(archivePath)
      if (!fs.exists(dstDir)) fs.mkdirs(dstDir)
      val dst = new org.apache.hadoop.fs.Path(dstDir, s"$PartitionCol=$ymd")
      val n = fs.listStatus(src).length
      fs.rename(src, dst)
      n
    }
  }

  /** Small-file compaction for one day's partition. Every streaming
    * trigger appends a file per task (S7's 1-min rolling), so a day
    * accumulates hundreds of small files — at 100 TB that turns every
    * scan into a file-listing + task-scheduling storm. Rewrites the
    * partition into ceil(bytes / targetFileBytes) files and swaps it in
    * atomically-enough (write aside, rename over; the same rename
    * primitive S12 archival uses). Returns the new file count. */
  def compactPartition(spark: SparkSession, lakePath: String, ymd: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val part = new org.apache.hadoop.fs.Path(s"$lakePath/$PartitionCol=$ymd")
    val fs = part.getFileSystem(conf)
    if (!fs.exists(part)) return 0
    val bytes = fs.getContentSummary(part).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(s"$lakePath/.compact_$PartitionCol=$ymd")
    spark.read.parquet(part.toString)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(s"$lakePath/.old_$PartitionCol=$ymd")
    fs.rename(part, old)
    fs.rename(tmp, part)
    fs.delete(old, true)
    fs.listStatus(part).count(_.getPath.getName.endsWith(".parquet"))
  }

  private[graft] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

package graft

import java.io.File
import java.nio.file.Files

import graft.streaming.{EnrichStream, IngestPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The watermark dedup in `EnrichStream.enrichParsed` makes Spark run a
  * zero-row micro-batch after each data batch so that it can evict.
  * `IngestPipeline.processBatch` must let that batch run (the dedup
  * state still commits and evicts) but do no gate work on it: no file
  * lands under the seen table, the LSH artifacts or the store. A data
  * batch is computed once, however many gate plans read it. */
class NoDataBatchSpec extends SparkSuite {

  private def wire(link: String, summary: String, updated: String): String =
    s"""{"author":"kim","link":"$link","summary":"$summary","title":"t","updated":"$updated"}"""

  private def files(dir: String): Int = {
    val f = new File(dir)
    if (!f.exists()) 0
    else Files.walk(f.toPath).filter(Files.isRegularFile(_)).count().toInt
  }

  test("a no-data micro-batch runs the dedup but writes no gate state; " +
      "the next data batch lands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("nodata").toString
    val (store, seenP, lshP) = (s"$base/store", s"$base/seen", s"$base/lsh")
    val stateDirs = Seq(store, seenP, s"$lshP/bands", s"$lshP/shingles", s"$lshP/sizes")
    val evalShingles = Seq("quick brown fox jumps over the lazy dog").toDF("text")
      .select(graft.functions.Text.tokens(col("text")).as("tok"))
      .select(explode(graft.functions.Text.shingles(col("tok"), 3)).as("s"))
      .distinct()

    // batch id → state files before and after processBatch
    val seenFiles = scala.collection.mutable.LinkedHashMap[Long, (Seq[Int], Seq[Int])]()
    val mem = MemoryStream[String]
    val q = EnrichStream.enrichParsed(mem.toDF().toDF("json"), embedDim = 8)
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val before = stateDirs.map(files)
        IngestPipeline.processBatch(batch, store, seenP, lshP, evalShingles)
        seenFiles(id) = (before, stateDirs.map(files))
      }
      .start()
    try {
      // poll 1 at 09:00; poll 2 three hours later moves the watermark
      // past poll 1's rows; poll 3 repeats a poll-2 link inside the
      // horizon and brings one new link
      mem.addData(
        wire("http://nd/1", "alpha bravo charlie delta echo foxtrot golf hotel", "2025-05-24 09:00:00"),
        wire("http://nd/2", "india juliet kilo lima mike november oscar papa", "2025-05-24 09:01:00"),
        wire("http://nd/3", "quebec romeo sierra tango uniform victor whiskey", "2025-05-24 09:02:00"))
      q.processAllAvailable()
      mem.addData(
        wire("http://nd/4", "xray yankee zulu amber basalt cobalt dune ember", "2025-05-24 12:00:00"),
        wire("http://nd/5", "fjord glacier harbor inlet jetty karst lagoon mesa", "2025-05-24 12:01:00"))
      q.processAllAvailable()
      mem.addData(
        wire("http://nd/5", "fjord glacier harbor inlet jetty karst lagoon mesa", "2025-05-24 12:05:00"),
        wire("http://nd/6", "north oasis prairie quarry ridge savanna tundra vale", "2025-05-24 12:06:00"))
      q.processAllAvailable()
      assert(q.exception.isEmpty && q.isActive)

      // an idle trigger may repeat a batch id later; the first
      // progress of an id is the batch's own
      val progress = q.recentProgress.filter(p => seenFiles.contains(p.batchId))
        .groupBy(_.batchId).map { case (id, ps) => id -> ps.head }
      val ids = progress.keys.toSeq.sorted
      val noData = ids.filter(id => progress(id).numInputRows == 0)
      assert(noData.nonEmpty, s"no zero-row batch ran: ${ids.map(i => i -> progress(i).numInputRows)}")
      noData.foreach { id =>
        val (before, after) = seenFiles(id)
        assert(before == after, s"no-data batch $id added state files: $before -> $after")
      }

      // the watermark dedup still evicts: poll 1's rows leave the state
      val dedup = ids.map(id => progress(id).stateOperators(0))
      val rows = dedup.map(_.numRowsTotal)
      assert(rows.max == 5L && rows.sliding(2).exists { case Seq(a, b) => b < a },
        s"state rows per batch: $rows")
      // each data batch ran the dedup once: a recomputed batch would
      // count its kept rows again per recomputation
      assert(dedup.map(_.numRowsUpdated).filter(_ > 0) == Seq(3L, 2L, 1L),
        s"dedup rows updated per batch: ${dedup.map(_.numRowsUpdated)}")
      // ... and still drops the repeated link of poll 3
      val dropped = ids.map(id => progress(id).stateOperators(0).customMetrics
        .get("numDroppedDuplicateRows").longValue()).sum
      assert(dropped == 1L, s"dropped duplicates: $dropped")

      // the data batch after the no-data ones lands its rows and state
      val links = spark.read.parquet(store).select("link").as[String].collect().sorted.toSeq
      assert(links == (1 to 6).map(i => s"http://nd/$i"), links)
      val lastData = ids.filter(id => progress(id).numInputRows > 0).last
      val (before, after) = seenFiles(lastData)
      assert(after.zip(before).forall { case (a, b) => a > b }, s"$before -> $after")
      assert(spark.read.parquet(seenP).count() > 0 &&
        spark.read.parquet(s"$lshP/sizes").count() == 6L)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new File(base))
    }
  }
}

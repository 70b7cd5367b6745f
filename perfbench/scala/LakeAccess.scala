package graft.benchaccess

import org.apache.spark.sql.SparkSession

/** The program's own path test (`Lake.pathExists`, package-private),
  * for the traced ingest replay, so that it decides "state exists" the
  * way `IngestPipeline.processBatch` does. */
object LakeAccess {
  def pathExists(spark: SparkSession, path: String): Boolean =
    graft.news.Lake.pathExists(spark, path)
}

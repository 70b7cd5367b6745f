package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM (suites run sequentially). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", SparkSuite.warehouse)
    .getOrCreate()

  val sf001 = "/root/testdata/sf0.001"
}

object SparkSuite {
  /** The session's warehouse: one directory per test JVM, whichever
    * suite builds the session first, deleted when the JVM exits. */
  lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toString
  }
}

package graft

import graft.operators.Maintenance
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties}

/** Randomized invariants of the compaction packing rule
  * (bin = ⌊bytes-before / target⌋ over size-descending order), checked
  * through the real Catalyst plan for ANY generated manifest:
  *
  *  1. the bins partition the input (every file exactly once);
  *  2. per-bin byte sums are exact;
  *  3. an above-target file is always alone in its bin and flagged;
  *  4. an unflagged bin totals < 2× target (the first member can start
  *     anywhere inside the bin's byte span — the same ≤ one-file
  *     overshoot Spark's own maxSplitBytes packing has);
  *  5. bin count ≤ ⌈total/target⌉ + #oversized (no fragmentation).
  */
object CompactionProperties extends Properties("graft.compaction") {

  // Same settings as SparkSuite: suites share one JVM, and whichever
  // runs first wins getOrCreate — a divergent config here would
  // silently re-configure every ScalaTest suite that follows.
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", SparkSuite.warehouse)
    .getOrCreate()

  private val Target = 1000L

  // Sizes straddle the target: plenty of tiny files, some oversized.
  private val manifest: Gen[List[Long]] = {
    val size = Gen.frequency(
      5 -> Gen.choose(1L, 400L),
      3 -> Gen.choose(400L, 999L),
      2 -> Gen.choose(1000L, 3500L))
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, size))
  }

  property("packing invariants hold for any manifest") =
    Prop.forAll(manifest) { sizes =>
      import spark.implicits._
      val files = sizes.zipWithIndex.map { case (b, i) => (f"f$i%03d", b) }
      val byName = files.toMap
      val plan = Maintenance
        .compactionPlan(files.toDF("file", "bytes"), Target).collect()
      val planned = plan.flatMap(_.getString(3).split(","))
      val partition = planned.sorted.toSeq == files.map(_._1).sorted
      val perBin = plan.forall { r =>
        val members = r.getString(3).split(",")
        val bytes = r.getLong(2)
        val oversized = r.getBoolean(4)
        val sumOk = bytes == members.map(byName).sum
        val overOk =
          if (members.exists(byName(_) > Target)) members.length == 1 && oversized
          else !oversized && bytes < 2 * Target
        sumOk && overOk
      }
      val total = sizes.sum
      val nOver = sizes.count(_ > Target)
      val countOk = plan.length <= (total + Target - 1) / Target + nOver
      partition && perBin && countOk
    }
}

package graft

import java.nio.file.Files

import graft.operators.ArtifactCache
import org.apache.spark.sql.functions._

/** Disk-artifact contract: build-once/read-many, torso recovery, corpus
  * invalidation and stale-generation eviction, and the pointer-claim
  * immutability guarantee under concurrent double-build and
  * lost-cross-process races, for parquet and directory artifacts.
  *
  * The battery is ABSTRACT over the commit primitive (the
  * IncPostingsSpec pattern): the artifact pointer commits through
  * `CommitPrimitive.active` since r14, so every contract here is
  * proven under BOTH the single-host CAS (POSIX hard link) and the
  * lake-filesystem one (Hadoop rename-without-overwrite). */
abstract class ArtifactCacheBattery extends SparkSuite
    with org.scalatest.BeforeAndAfterAll {
  protected def primitive: graft.operators.CommitPrimitive
  private var saved: graft.operators.CommitPrimitive = _
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    saved = graft.operators.CommitPrimitive.active
    graft.operators.CommitPrimitive.set(primitive)
  }
  override protected def afterAll(): Unit = {
    graft.operators.CommitPrimitive.set(saved)
    super.afterAll()
  }

  /** Fresh source dir with a tiny `documents.parquet`, returning its
    * path — each test gets its own fingerprint universe. */
  private def mkSource(rows: Int): String = {
    val dir = Files.createTempDirectory("ac-src").toString
    spark.range(rows).select(col("id").as("doc_id"),
        concat(lit("d"), col("id")).as("text"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private def artifactRoot(dir: String): java.io.File =
    new java.io.File("/tmp/graft-artifact-cache").listFiles()
      .filter(_.getName.startsWith(dir.replaceAll("[^A-Za-z0-9._-]", "_")))
      .head

  test("artifact builds once, then serves reads without re-running the build") {
    val dir = mkSource(10)
    var builds = 0
    def getSame() = ArtifactCache.parquet(spark, dir, "stable", Seq("documents")) {
      builds += 1
      Tables(spark, dir, "documents").withColumn("l", length(col("text")))
    }
    assert(getSame().count() === 10)
    assert(getSame().count() === 10)
    assert(builds === 1, "second read must hit the published artifact")
  }

  test("regenerating the source invalidates the artifact (new fingerprint)") {
    val dir = mkSource(5)
    def build(tag: String) = ArtifactCache.parquet(spark, dir, "inv", Seq("documents")) {
      Tables(spark, dir, "documents").withColumn("tag", lit(tag))
    }
    assert(build("a").select("tag").distinct().collect().map(_.getString(0)).toSeq === Seq("a"))
    // Regenerate the source (different length/mtime → different key).
    spark.range(7).select(col("id").as("doc_id"),
        concat(lit("xx"), col("id")).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val b = build("b")
    assert(b.count() === 7)
    assert(b.select("tag").distinct().collect().map(_.getString(0)).toSeq === Seq("b"))
  }

  test("concurrent double-build races publish exactly one pointed artifact") {
    val dir = mkSource(20)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 2).map { i =>
      Future {
        ArtifactCache.parquet(spark, dir, "race", Seq("documents")) {
          Thread.sleep(50L * i)
          Tables(spark, dir, "documents").select(col("doc_id"))
        }.count()
      }
    }
    val counts = futures.map(f => Await.result(f, 120.seconds))
    assert(counts === Seq(20L, 20L))
    val root = artifactRoot(dir)
    // .graft-commit-lock is the HadoopRename primitive's cross-process
    // flock file — infrastructure, not artifact state
    val entries = root.listFiles().map(_.getName)
      .filterNot(_ == ".graft-commit-lock").toSeq.sorted
    // Exactly ONE pointer + ONE uniquely-named directory, nothing else:
    // no claim-tmp leftovers, no second build dir.
    assert(entries.count(_ == "race.ptr") === 1, entries.toString)
    val dirs = entries.filter(_.startsWith("race-"))
    assert(dirs.length === 1,
      s"one winning directory expected, got $entries")
    val pointed = Files.readString(
      new java.io.File(root, "race.ptr").toPath).trim
    assert(dirs === Seq(pointed), "the pointer names the surviving dir")
    assert(entries.toSet === Set("race.ptr", pointed))
    assert(new java.io.File(root, s"$pointed/_GRAFT_DONE").exists(),
      "marker travels inside the published dir")
  }

  test("a build that loses the cross-process pointer claim serves the winner's artifact") {
    val dir = mkSource(8)
    // Simulate another PROCESS publishing while OUR build runs: the
    // build closure itself fabricates the foreign publication (complete
    // dir + marker + claimed pointer), so our claim MUST lose and the
    // returned frame must be the foreign content — never our own.
    // A seed artifact first, so the cache root exists for the closure.
    ArtifactCache.parquet(spark, dir, "seed", Seq("documents")) {
      Tables(spark, dir, "documents")
    }.count()
    def root = artifactRoot(dir)
    val me = ArtifactCache.parquet(spark, dir, "lost", Seq("documents")) {
      // foreign winner: doc_ids shifted by 1000 so content is tellable
      val foreign = new java.io.File(root, "lost-foreign")
      spark.range(8).select((col("id") + 1000).as("doc_id"))
        .coalesce(1).write.mode("overwrite").parquet(foreign.toString)
      new java.io.File(foreign, "_GRAFT_DONE").createNewFile()
      Files.writeString(new java.io.File(root, "lost.ptr").toPath,
        "lost-foreign")
      Tables(spark, dir, "documents").select(col("doc_id")) // ours: 0..7
    }
    val ids = me.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (1000L to 1007L),
      "the claim loser must serve the winner's directory")
    // our losing build directory was discarded; only the winner's
    // dir + pointer remain (plus the seed artifact's pair)
    val entries = root.listFiles().map(_.getName)
      .filter(_.startsWith("lost")).toSet
    assert(entries === Set("lost.ptr", "lost-foreign"), entries.toString)
  }

  test("a cold build evicts stale generations of its own corpus only (bare-fingerprint rule)") {
    val dir = mkSource(6)
    def build(name: String) = ArtifactCache.parquet(spark, dir, name, Seq("documents")) {
      Tables(spark, dir, "documents")
    }.count()
    build("kept")
    val root = artifactRoot(dir)
    val prefix = s"${dir.replaceAll("[^A-Za-z0-9._-]", "_")}-documents-"
    // an older generation of this corpus (bare fingerprint): evicted
    val stale = new java.io.File(root.getParentFile, prefix + "1-1")
    // the root of ANOTHER corpus, a dir named `<dir>-documents-x`,
    // whose name extends the prefix: kept
    val otherCorpus = new java.io.File(root.getParentFile, prefix + "x-1-1")
    try {
      Seq(stale, otherCorpus).foreach(_.mkdirs())
      build("second") // cold for this name: runs the eviction pass
      assert(!stale.exists(), "stale bare-fingerprint generation must be evicted")
      assert(otherCorpus.exists(), "another corpus's root must survive")
      // the same-corpus artifact of another name is untouched
      val kept = Files.readString(new java.io.File(root, "kept.ptr").toPath).trim
      assert(new java.io.File(root, s"$kept/${ArtifactCache.Done}").exists())
      assert(build("kept") === 6L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(otherCorpus)
  }

  test("concurrent callers of a directory artifact share one build and one directory") {
    val dir = mkSource(4)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val building = new java.util.concurrent.CountDownLatch(1)
    def call(): java.io.File =
      ArtifactCache.dir(spark, dir, "slow", Seq("documents")) { d =>
        builds.incrementAndGet()
        Files.writeString(new java.io.File(d, "first").toPath, "1")
        building.countDown()
        Thread.sleep(1000) // the second caller arrives mid-build
        Files.writeString(new java.io.File(d, "last").toPath, "2")
      }
    val f1 = Future(call())
    assert(building.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val f2 = Future(call())
    val (d1, d2) = (Await.result(f1, 60.seconds), Await.result(f2, 60.seconds))
    assert(d1 === d2, "both callers get the same directory")
    assert(builds.get === 1, "the build ran once")
    assert(Files.readString(new java.io.File(d1, "first").toPath) === "1")
    assert(Files.readString(new java.io.File(d1, "last").toPath) === "2")
    assert(new java.io.File(d1, ArtifactCache.Done).exists())
    val entries = artifactRoot(dir).list()
      .filterNot(_ == ".graft-commit-lock").toSeq.sorted
    assert(entries === Seq(d1.getName, "slow.ptr").sorted,
      "exactly one pointer and one directory remain")
  }

  test("an unreferenced torso directory is ignored and the artifact is rebuilt") {
    val dir = mkSource(8)
    // First build publishes; then simulate a killed build of a SECOND
    // artifact: a directory with junk exists but no pointer was ever
    // claimed for it.
    val torsoParent = {
      ArtifactCache.parquet(spark, dir, "first", Seq("documents")) {
        Tables(spark, dir, "documents")
      }.count()
      artifactRoot(dir)
    }
    val torso = new java.io.File(torsoParent, "torso-deadbeef")
    torso.mkdirs()
    Files.writeString(torso.toPath.resolve("garbage.parquet"), "not parquet")
    val df = ArtifactCache.parquet(spark, dir, "torso", Seq("documents")) {
      Tables(spark, dir, "documents").select(col("doc_id"))
    }
    assert(df.count() === 8)
  }
}

/** The battery under the single-host primitive: POSIX hard link. */
class ArtifactCacheSpec extends ArtifactCacheBattery {
  override protected def primitive = graft.operators.CommitPrimitive.LocalLink
}

/** The SAME battery under the lake-filesystem primitive: Hadoop
  * `FileSystem.rename` without overwrite — the artifact pointer must
  * commit with unchanged semantics when the CAS is the one HDFS
  * actually offers. */
class ArtifactCacheHadoopCommitSpec extends ArtifactCacheBattery {
  override protected def primitive = graft.operators.CommitPrimitive.HadoopRename
}

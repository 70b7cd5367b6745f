package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-keyed memo for `spark.read.parquet` frames.
  *
  * Why: every `read.parquet` costs ~50-60 ms of SERIAL driver work
  * (footer/schema read + InMemoryFileIndex build) even when the same
  * file was read moments ago — and the 262-query inventory re-opens
  * the same ten tables and a few dozen artifacts hundreds of times per
  * run (measured: 50 warm re-reads of one table = 2.9 s driver wall).
  * The memo returns the SAME DataFrame (an immutable logical plan +
  * snapshot file index), so footer reads happen once per (session,
  * path, source generation). No data and no results are cached —
  * execution still scans parquet from disk on every action; only the
  * driver-side plan-metadata rebuild is deduplicated.
  *
  * Invalidation matches the repo's artifact-fingerprint protocol
  * (length + mtime of the path): a REGENERATED source — new corpus
  * generation written over the same path — stats to a different
  * fingerprint and gets a fresh read, so the ArtifactCache
  * "regeneration invalidates" contract survives (pinned in
  * ArtifactCacheSpec). A stat() per access replaces a footer read.
  * Callers whose paths mutate WITHOUT a fingerprint change (in-place
  * appends that keep mtime — not a pattern this repo has) must keep
  * calling `read.parquet` directly.
  *
  * Entries live in a [[SessionMemo]], so a long-lived JVM running
  * many sessions cannot leak. */
object ReadMemo {
  private val memo = new SessionMemo[(String, String), DataFrame]

  def parquet(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    memo(spark, (path, s"${f.length()}-${f.lastModified()}"))(
      spark.read.parquet(path))
  }
}

package graft.operators

import graft.Tables
import graft.functions.{Num, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF index — the build-once / search-many deployment shape
  * of the `sim_ivf_*` inventory queries (SURVEY.md north-star
  * similarity surface). The index is a VERSIONED directory of paired
  * parquet tables plus a pointer file:
  *
  *   <path>/CURRENT           the live generation number N (text)
  *   <path>/v<N>/centroids    centroid_id, c_emb (double[], codebook)
  *   <path>/v<N>/assignments  vec_id, embedding, centroid_id (bucketed
  *                            data co-located by cell)
  *
  * Codebook and assignments version TOGETHER: an assignment is only
  * meaningful against the codebook that produced it, so a generation
  * is the atomic unit. A retrain writes the next generation beside the
  * live one and swaps CURRENT afterwards — a reader that resolved the
  * pointer before the swap keeps a complete, immutable generation for
  * its whole query (no read-own-write window). Generations older than
  * the immediately previous one are pruned after a swap: in-flight
  * readers span at most one retrain horizon.
  *
  * The codebook is **fixed-size** (K centroids, independent of corpus
  * size): K vectors sampled deterministically (smallest
  * `md5(vec_id)` — an order-statistics sample over a uniform hash, so
  * the seeds are spread over the corpus no matter how ids cluster),
  * then refined with quantized Lloyd rounds. Every per-vector
  * assignment is therefore an O(K·Dim) **map-side expression over
  * driver-literal centroids** — no shuffle, no join, and the only
  * datastructure that scales with anything is the K×Dim codebook
  * (constant). At 100 TB: one pass to sample (TakeOrdered, O(K)
  * memory), `CbRounds` map-side-combined aggregation passes to refine
  * (shuffle carries ≤ K×Dim rows), one map-only pass to assign.
  *
  * Search broadcasts only the (tiny) query set with its probed cells;
  * the assignments table is partitioned on `centroid_id`, and because
  * the probed cells are a subset of the ≤K known cids, search pushes
  * an `IN (probed cids)` literal filter that prunes to the probed
  * directories instead of scanning the corpus.
  *
  * TWO deployment shapes, one algorithm: this versioned-dir format is
  * the READ-OPTIMIZED shape — statically cell-partitioned files,
  * directory pruning per probe, appends cheap but deletes/edits
  * requiring a rebuild. The `ivfvec` LSM kind below is the
  * CHURN-OPTIMIZED shape — the same rows on [[IncPostings]]'
  * generations/tombstones machinery, where deletes and edits are
  * delta commits, the codebook versions atomically with each
  * generation (manifest meta), drift reclusters in place, and a
  * compaction in cid layout recovers the read-optimized file layout.
  * A production deployment runs the LSM shape under churn and reads
  * through its compacted segments; both are oracled end to end.
  */
object IvfIndex {

  /** Codebook size — fixed, corpus-size-independent (a production
    * index would pick 2^8–2^16 by corpus scale; the shape is the
    * same). */
  val K = 16

  /** Quantized Lloyd refinement rounds after sampling. */
  val CbRounds = 2

  /** Codebook size for ALL-PAIRS workloads (SemDeDup): unlike search —
    * where a probe touches one cell and fixed K is right — a within-cell
    * self-join does Σ cell² work, which at fixed K is O(n²/K). Scaling
    * K ∝ √n balances the two n-dependent costs: assignment O(n·K) and
    * pair generation K·(n/K)² both become O(n^1.5) — the standard IVF
    * sizing rule (and SemDeDup's own: cluster count grows with the
    * corpus). At extreme scale the next step is a 2-level codebook
    * (assignment O(n·√K) with cell size still bounded); the √n rule is
    * what the 10× slope table verifies empirically. Floor K so small
    * corpora keep the search-grade codebook. */
  def semK(n: Long): Int =
    math.max(K, math.floor(math.sqrt(n / 2.0)).toInt)

  private val Dim = 64

  private def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Sequential double fold of Σ aᵢ·bᵢ over two array<double> columns —
    * codegen'd ([[graft.plans.VecDotD]]); the oracle computes the
    * identical fold (list_sum ∘ list_transform), so scores agree
    * bit-for-bit before quantization collapses the residue. */
  def foldDot(a: Column, b: Column): Column = Vectors.dotD(a, b)

  /** Per-centroid (quantized squared L2, cid) candidate structs over an
    * array<double> column `v` — ONE codegen'd kernel with a RUNTIME
    * loop over the codebook ([[graft.plans.CentroidStructs]]), so the
    * generated code is O(1) in K (an unrolled K-kernel formulation made
    * janino compile time the dominant cost past K≈30 — fatal for the
    * adaptive-K SemDeDup path). Struct ordering (d, then cid) is the
    * tie-break convention shared with the SQL oracles'
    * `ORDER BY dist, cid`. */
  def centStructs(cents: Seq[(Long, Array[Double])], v: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.plans.CentroidStructs(
      org.apache.spark.sql.GraftBridge.expression(v),
      cents.map(_._1).toArray, cents.map(_._2).toArray))

  /** Nearest centroid struct (d, cid) — a pure map-side expression. */
  def nearest(cents: Seq[(Long, Array[Double])], v: Column): Column =
    array_min(centStructs(cents, v))

  /** The `nprobe` nearest cells, closest first. */
  def probeCells(cents: Seq[(Long, Array[Double])], v: Column, nprobe: Int): Column =
    slice(array_sort(centStructs(cents, v)), 1, nprobe)

  /** Train the fixed-K codebook: deterministic hash-order sample of K
    * vectors (cid = rank in that order), then `rounds` Lloyd updates —
    * assignment by quantized-distance argmin (ties → smaller cid),
    * per-dimension means quantized at 1e-6 (the same grid convention
    * as MLOps.lloydKMeans, which is what lets a DuckDB oracle replay
    * the identical recurrence). Clusters that lose all members are
    * dropped (both engines drop them the same way: the mean aggregation
    * simply has no group). Nothing here collects the dataset — only
    * K×Dim means per round. */
  def trainCodebook(corpus: DataFrame, k: Int = K,
      rounds: Int = CbRounds): Seq[(Long, Array[Double])] = {
    val e = corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    var cents: Seq[(Long, Array[Double])] =
      e.orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
        .limit(k).collect().toSeq.zipWithIndex
        .map { case (r, i) =>
          i.toLong -> r.getAs[scala.collection.Seq[Double]]("v").toArray }
    for (_ <- 1 to rounds) {
      // Materialization barrier: phrased as one projection, Catalyst
      // folds the O(K·Dim) nearest() INTO the Generate and re-evaluates
      // it per EXPLODED row — a Dim× (64×) multiplier on the whole
      // assignment cost, measured as the dominant ~250 s of the 100×
      // SemDeDup run (stack: getField(cid) inside generate_doConsume).
      // The persisted assignment evaluates nearest once per vector; the
      // explode then reads cached (cid, v) rows.
      val asg = e.select(nearest(cents, col("v")).getField("cid").as("cid"),
        col("v")).persist()
      val byDim = asg
        .select(col("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .collect()
      asg.unpersist(blocking = false)
      cents = byDim.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (cid, rows) =>
        val c = new Array[Double](Dim)
        rows.foreach(r => c(r.getInt(1)) = q6(r.getDouble(2)))
        cid -> c
      }
    }
    cents
  }

  // ---- generation pointer ------------------------------------------------

  private def hfs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The live generation number, if the index exists. CURRENT is an
    * advisory HINT (r14): the commit point is the `gen-N` claim file
    * (see [[claimGeneration]]), so a missing hint — a fresh index, or
    * the HDFS hint-swap window where delete+rename leaves no CURRENT
    * for a moment — recovers by scanning the claims for the newest
    * generation whose tables are on disk (Iceberg's version-hint
    * recovery shape). */
  def currentVersion(spark: SparkSession, path: String): Option[Int] = {
    val f = hfs(spark, path)
    val cur = new org.apache.hadoop.fs.Path(s"$path/CURRENT")
    if (f.exists(cur)) {
      val in = f.open(cur)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
      finally in.close()
    } else {
      val root = new java.io.File(path)
      Generations.claimed(path)
        // claimed AND complete: assignments' _SUCCESS is written by the
        // committing parquet job AFTER centroids, so its presence means
        // the whole generation landed (a crash mid-build leaves a
        // claimed number with no _SUCCESS — skipped here)
        .filter(n => new java.io.File(root,
          s"v$n/assignments/_SUCCESS").exists())
        .maxOption
    }
  }

  // generation claims route through the shared [[Generations]] helper
  // — the same commit mechanic as the BM25 serving folds (unified
  // r14; previously this index's only mutation guard was the advisory
  // pointer swap). Exactly one writer owns each number, so two
  // concurrent retrains can never interleave writes inside one vN
  // directory.

  /** Directory of the live generation. Resolve ONCE per operation and
    * read both tables from the resolved dir — that is what makes a
    * concurrent retrain invisible to an in-flight reader. */
  def currentDir(spark: SparkSession, path: String): String =
    currentVersion(spark, path).map(n => s"$path/v$n").getOrElse(path)

  /** Point CURRENT at generation `n`: write to a temp name, then
    * delete+rename into place. Since r14 this is the advisory HINT,
    * not the commit point — [[claimGeneration]] owns the generation;
    * the hint is rewritten only after the claimed generation's tables
    * are complete, and a reader that catches the HDFS delete→rename
    * window recovers through the claim scan in [[currentVersion]]. */
  private[operators] def writePointer(spark: SparkSession, path: String,
      n: Int): Unit = {
    val f = hfs(spark, path)
    // WRITER-UNIQUE temp name: two racing builds each swap their own
    // hint (a fixed name let one racer's rename consume the other's
    // temp file — caught by IvfGenerationSpec's racing-builds test).
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.CURRENT-$n-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val cur = new org.apache.hadoop.fs.Path(s"$path/CURRENT")
    // MONOTONIC hint (r14 advice): plain last-writer-wins let a build
    // that finished OUT of claim order regress CURRENT to an older
    // (complete, but stale) generation until the next build. Re-read
    // the hint and swap only UPWARD: an out-of-order finisher is now a
    // no-op. Two writers can still interleave read→rename (filesystem
    // renames offer no true CAS), shrinking but not closing the
    // window — acceptable because the hint is ADVISORY: readers that
    // find a stale or missing hint recover through the claim scan, and
    // the next upward writer restores it.
    val hintNow: Option[Int] =
      if (!f.exists(cur)) None
      else try {
        val in = f.open(cur)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
        finally in.close()
      } catch { case _: Exception => None } // torn hint: recovery scan owns it
    if (hintNow.exists(_ >= n)) return
    val out = f.create(tmp, true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(cur, false)
    if (!f.rename(tmp, cur)) {
      // a racer re-created CURRENT between our delete and rename: its
      // hint is equally valid (claim-complete generation) — the swap
      // is advisory, so losing it is not an error. Clean our temp.
      f.delete(tmp, false)
      if (!f.exists(cur))
        throw new java.io.IOException(s"pointer swap failed for $path -> v$n")
    }
  }

  /** Drop generations older than the previous one (current and
    * current−1 stay: in-flight readers hold at most one horizon). */
  private def pruneVersions(spark: SparkSession, path: String, live: Int): Unit = {
    val f = hfs(spark, path)
    (1 until live - 1).foreach { n =>
      f.delete(new org.apache.hadoop.fs.Path(s"$path/v$n"), true)
    }
  }

  // ---- build / append / retrain ------------------------------------------

  /** Build and persist the index as the NEXT generation (train the
    * codebook, or accept a pre-trained one — the incremental-
    * maintenance path keeps the original codebook across appends),
    * assign map-side, write partitioned by cell, then swap CURRENT. */
  def build(spark: SparkSession, corpus: DataFrame, path: String,
      codebook: Option[Seq[(Long, Array[Double])]] = None): Unit = {
    val cents = codebook.getOrElse(trainCodebook(corpus))
    // claim BEFORE the heavy writes: the claim reserves the generation
    // number, so a racing build/retrain lands in its own vN and the
    // LAST hint swap wins — never two writers inside one directory
    val next = Generations.claimNext(path,
      currentVersion(spark, path).getOrElse(0) + 1)
    val dir = s"$path/v$next"
    writeCodebook(spark, cents, dir)
    assignAndWrite(corpus, cents, dir, SaveMode.Overwrite)
    writePointer(spark, path, next)
    pruneVersions(spark, path, next)
  }

  /** Incremental maintenance: assign new vectors to the EXISTING
    * codebook and append to the live generation's bucketed assignments
    * table — the continuous-ingest shape (reference:
    * collect/ollama_consumer.py:336-359 re-embeds each arriving
    * batch). Appends mutate the live generation in place (parquet
    * append adds files, never rewrites), which is safe for readers;
    * only a retrain needs the new-generation isolation. Because
    * assignment is a deterministic function of (codebook, vector),
    * append-then-search equals a fresh build over the union with the
    * same codebook. */
  def append(spark: SparkSession, path: String, newVectors: DataFrame): Unit = {
    val dir = currentDir(spark, path)
    assignAndWrite(newVectors, readCodebookDir(spark, dir), dir, SaveMode.Append)
  }

  /** Cell-size skew (max / median over non-empty cells) above which
    * [[appendOrRetrain]] retrains: a codebook frozen at build time
    * decays under distribution drift — new vectors pile into few cells,
    * so probe-1 recall drops (the probed cell is ever less likely to
    * hold the true neighbors) AND search cost grows (the probed cell is
    * the big one). 4× is loose enough that organic growth from the
    * build distribution never trips it. */
  val SkewRetrainRatio = 4.0

  /** Incremental append with drift handling: assign the batch to the
    * EXISTING codebook, then measure cell-size skew; past
    * [[SkewRetrainRatio]], retrain the codebook on the full index
    * contents and reassign everything. Returns true iff a retrain
    * happened. Because [[trainCodebook]] is deterministic in the vector
    * multiset (hash-order seed sample + quantized Lloyd), a retrained
    * index is IDENTICAL to a fresh build over the union — spec-pinned.
    * The skew probe is one count-by-cell aggregation (K rows); the
    * retrain pays one full reassignment pass, amortized over the drift
    * horizon. The retrain reads the live generation and writes the
    * NEXT one (build() swaps the pointer at the end), so there is no
    * read-own-write hazard and a reader that resolved the old pointer
    * is untouched — no driver-side materialization needed. */
  def appendOrRetrain(spark: SparkSession, path: String,
      newVectors: DataFrame): Boolean = {
    append(spark, path, newVectors)
    val dir = currentDir(spark, path)
    val sizes = spark.read.parquet(s"$dir/assignments")
      .groupBy(col("centroid_id")).count()
      .collect().map(_.getAs[Long]("count")).sorted
    val median = sizes(sizes.length / 2)
    if (sizes.last <= SkewRetrainRatio * median) false
    else {
      val all = spark.read.parquet(s"$dir/assignments")
        .select(col("vec_id"), col("embedding"))
      build(spark, all, path)
      true
    }
  }

  def readCodebook(spark: SparkSession, path: String): Seq[(Long, Array[Double])] =
    readCodebookDir(spark, currentDir(spark, path))

  private def readCodebookDir(spark: SparkSession,
      dir: String): Seq[(Long, Array[Double])] =
    spark.read.parquet(s"$dir/centroids").collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        r.getAs[scala.collection.Seq[Double]]("c_emb").toArray)
      .sortBy(_._1).toSeq

  private def writeCodebook(spark: SparkSession,
      cents: Seq[(Long, Array[Double])], dir: String): Unit = {
    import spark.implicits._
    cents.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("centroid_id", "c_emb")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
  }

  private def assignAndWrite(vectors: DataFrame,
      cents: Seq[(Long, Array[Double])], dir: String, mode: SaveMode): Unit =
    vectors
      .select(col("vec_id"), col("embedding"),
        nearest(cents, col("embedding").cast("array<double>"))
          .getField("cid").as("centroid_id"))
      .write.mode(mode)
      .partitionBy("centroid_id") // probe → directory pruning
      .parquet(s"$dir/assignments")

  /** Top-k cosine neighbors for `queries` (vec_id, embedding), probing
    * each query's `nprobe` nearest cells. Probe cells come from the
    * driver-side codebook (≤K distinct values), so the scan carries a
    * literal IN filter — static partition pruning, no join needed to
    * decide which directories to read. Returns
    * (q_id, vec_id, score, rk). */
  def search(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 3, nprobe: Int = 1): DataFrame = {
    // Pin the generation ONCE: codebook and assignments must come from
    // the same version even if a retrain swaps CURRENT mid-query.
    val dir = currentDir(spark, path)
    val cents = readCodebookDir(spark, dir)
    val q = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("p",
        explode(probeCells(cents, col("q_emb").cast("array<double>"), nprobe)))
      .select(col("q_id"), col("q_emb"), col("p").getField("cid").as("centroid_id"))
    val cids = q.select("centroid_id").distinct().collect().map(_.getLong(0))
    // partitionBy wrote centroid_id as a directory key, which reads back
    // with an INFERRED (int) type — pin it to long right after the scan so
    // the isin partition filter and the join against the bigint probe cids
    // are type-stable instead of leaning on implicit coercion. (Partition
    // pruning still applies: the predicate references only the partition
    // column, casts included — IvfIndexSpec pins the pruned read.)
    val assigned = spark.read.parquet(s"$dir/assignments")
      .withColumn("centroid_id", col("centroid_id").cast("long"))
      .where(col("centroid_id").isin(cids: _*))
    val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    assigned.join(broadcast(q), "centroid_id")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), score.as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  // ---- inventory surface --------------------------------------------------

  /** A build-once IVF artifact over `dir`'s embeddings: the versioned
    * index `buildAt` lays out, published through [[ArtifactCache]]. */
  private def persisted(s: SparkSession, dir: String, name: String)(
      buildAt: String => Unit): String =
    ArtifactCache.dir(s, dir, name, Seq("embeddings"))(d => buildAt(d.toString))
      .toString

  /** Deterministic on-disk versioned index for `dir` — build-once /
    * search-many ACROSS sessions. */
  def persistedPath(s: SparkSession, dir: String): String =
    persisted(s, dir, "ivf-full")(build(s, Tables(s, dir, "embeddings"), _))

  /** The simulated continuous-ingest split for the ORACLED incremental
    * timeline: residue-19 vec_ids are the "arrivals" appended after the
    * base build (~5% of the corpus — a daily-ingest-sized batch). SQL
    * form shared with the DuckDB oracle so both sides derive the same
    * split by construction. */
  val IncArrivalsWhere = "vec_id % 19 = 0"

  /** Build-once incremental index for `dir`: codebook trained on the
    * base (pre-arrival) vectors only, arrivals appended to the live
    * generation through [[append]] — the frozen-codebook ingest path,
    * published as its own artifact beside [[persistedPath]].
    * Because assignment is deterministic in (codebook, vector), the
    * result is bit-identical to a same-codebook build over the union —
    * which is exactly what the oracle recomputes. */
  def incPersistedPath(s: SparkSession, dir: String): String =
    persisted(s, dir, "ivf-inc") { path =>
      val e = Tables(s, dir, "embeddings")
      build(s, e.where(not(expr(IncArrivalsWhere))), path)
      append(s, path, e.where(expr(IncArrivalsWhere)))
    }

  /** The simulated DRIFT cohort for the ORACLED retrain timeline: a
    * third of the corpus (residue-3 vec_ids) re-arrives shifted +10.0
    * per dimension — far outside the build distribution, so the whole
    * cohort piles into one or two cells of the frozen codebook and
    * trips [[SkewRetrainRatio]]. Disjoint residue from the append
    * timeline's %19 so the two inventory indexes never share a cache
    * key shape. SQL form shared with the DuckDB oracle. */
  val RetrainArrivalsWhere = "vec_id % 3 = 0"

  /** The shifted arrival batch (float32 `x + 10.0f` per dim — the
    * oracle reproduces the same rounding via DOUBLE add + FLOAT cast). */
  private[graft] def retrainArrivals(e: DataFrame): DataFrame =
    e.where(expr(RetrainArrivalsWhere))
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))

  /** The post-retrain corpus: unshifted base ∪ shifted arrivals —
    * what the retrained index indexes, and where its queries come
    * from. */
  private[graft] def retrainCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    e.where(not(expr(RetrainArrivalsWhere)))
      .select(col("vec_id"), col("embedding"))
      .unionByName(retrainArrivals(e))
  }

  /** Build-once RETRAIN timeline (r11 verdict #8): base build on the
    * non-arrival subset, then [[appendOrRetrain]] with the shifted
    * cohort — the skew policy MUST trip (required loudly, so a policy
    * regression fails the build rather than silently serving the
    * frozen codebook), leaving a generation-2 index retrained on the
    * union. Search over it is oracled end to end: the DuckDB twin
    * trains on the same union, so a hash match certifies both the
    * trigger and the post-retrain search semantics. */
  def retrainPersistedPath(s: SparkSession, dir: String): String =
    persisted(s, dir, "ivf-retrain") { path =>
      val e = Tables(s, dir, "embeddings")
      build(s, e.where(not(expr(RetrainArrivalsWhere))), path)
      val retrained = appendOrRetrain(s, path, retrainArrivals(e))
      require(retrained,
        s"skewed arrival batch must trip the retrain policy at $dir")
    }

  // ---- the LSM vector timeline (kind `ivfvec`) ----------------------------

  /** The same simulated v1 → v2 churn event that drives the text-index
    * timelines ([[IncPostings.deltaDocs]]: residue-97 drops, residue-31
    * edits, residue-89 adds), applied to the EMBEDDING side of the
    * corpus — when a document is edited it is re-embedded (here a
    * deterministic float32 `x + 0.25f` per dimension, far enough to
    * move cells), when it is added its vector arrives verbatim at the
    * shifted id, and when it is dropped its vector must leave the
    * index. Only these delta vectors are ever re-assigned — the
    * standing corpus is never re-read, which is the cost shape a
    * 100 TB vector index needs under churn. */
  private[graft] def deltaVecs(e: DataFrame,
      shift: Long = Maintenance.AddShift): DataFrame = {
    val edited = e
      .where(col("vec_id") % 97 =!= 0 && col("vec_id") % 31 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(0.25f)).as("embedding"))
    val added = e.where(col("vec_id") % 89 === 0)
      .select((col("vec_id") + lit(shift)).as("vec_id"), col("embedding"))
    edited.unionByName(added)
  }

  /** v1 vec_ids whose index rows die in the increment: drops AND edits
    * (the edit's new row rides the delta segment at the tombstone's
    * seq — the [[IncPostings]] visibility rule keeps exactly it). The
    * column is named doc_id because that is the key the LSM tombstone
    * anti-join kills on. */
  private[graft] def vecTombstones(e: DataFrame): DataFrame =
    e.where(col("vec_id") % 97 === 0 ||
        (col("vec_id") % 97 =!= 0 && col("vec_id") % 31 === 0))
      .select(col("vec_id").as("doc_id"))

  /** The post-churn (v2) vector corpus: unchanged survivors ∪ the
    * delta — what the merged index must be equivalent to, and where
    * its queries come from. */
  private[graft] def v2Vectors(e: DataFrame,
      shift: Long = Maintenance.AddShift): DataFrame =
    e.where(col("vec_id") % 97 =!= 0 && col("vec_id") % 31 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(deltaVecs(e, shift))

  /** (doc_id, cid, embedding) — the vector index's LSM row layout:
    * each vector's frozen-codebook cell assignment with the vector
    * denormalized in (so search scans no side table). One row per
    * vector; the timeline's tombstones keep that invariant across
    * edits. Assignment is a map-side expression over driver-literal
    * centroids — a delta commit never shuffles. */
  private[graft] def vecRowsOf(cents: Seq[(Long, Array[Double])],
      vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id").as("doc_id"),
      nearest(cents, col("embedding").cast("array<double>"))
        .getField("cid").as("cid"),
      col("embedding"))

  /** The ivfvec timeline root: codebook trained ONCE on the v1 corpus
    * (frozen across the increment — the [[append]] contract, now with
    * the delete/edit story the append path lacks), base commit of the
    * v1 assignment, then one delta commit of re-assigned arrivals +
    * tombstones. Generations, compaction, retention and time travel
    * all ride [[IncPostings]]' machinery unchanged, which closes the
    * engine's last index family (trigram / positional / BM25 /
    * lshband / vectors) onto ONE maintenance protocol. */
  private[graft] def lsmRoot(s: SparkSession, dir: String): java.io.File =
    IncPostings.lsmArtifact(s, dir, "ivfvec", src = "embeddings") { root =>
      val e = Tables(s, dir, "embeddings")
      // the session-memoized v1 codebook — sim_ivf_*, the lifecycle and
      // the retrain timeline all train on the same corpus; one training
      // per session serves them all
      val cents = Similarity.codebook(s, dir)
      writeCodebook(s, cents, root.toString)
      IncPostings.commitBase(root,
        vecRowsOf(cents, e.select(col("vec_id"), col("embedding"))))
      IncPostings.commitDelta(root, vecRowsOf(cents, deltaVecs(e)),
        vecTombstones(e))
    }

  /** The codebook that produced generation `gen`: the manifest's
    * kind-owned meta attachment when present (post-recluster
    * generations, and every generation of the retrain timeline), else
    * the root-level base codebook (the frozen-codebook timelines). */
  private[graft] def codebookOf(s: SparkSession, root: java.io.File,
      gen: Int): Seq[(Long, Array[Double])] =
    IncPostings.manifestOf(root, gen).meta
      .map(readCodebookDir(s, _))
      .getOrElse(readCodebookDir(s, root.toString))

  /** The frozen codebook + live merged (doc_id, cid, embedding) view. */
  private[graft] def mergedVectors(
      s: SparkSession, dir: String): (Seq[(Long, Array[Double])], DataFrame) = {
    val root = lsmRoot(s, dir)
    (codebookOf(s, root, IncPostings.committedGen(root)),
      IncPostings.readCurrent(s, root))
  }

  /** Cell-size skew (max / median) of a merged (…, cid, …) view — the
    * [[SkewRetrainRatio]] gauge on the LSM timeline; one K-row
    * aggregation, never corpus-sized on the driver. */
  private[graft] def cellSkew(view: DataFrame): Double = {
    val sizes = view.groupBy(col("cid")).count()
      .collect().map(_.getAs[Long]("count")).sorted
    sizes.last.toDouble / sizes(sizes.length / 2)
  }

  /** RECLUSTER the live generation: retrain the codebook on the merged
    * view's vectors and publish codebook + full reassignment in ONE
    * atomic commit ([[IncPostings.commitReplace]]) — the LSM answer to
    * [[appendOrRetrain]]'s drift handling. The new codebook rides the
    * manifest's kind-owned meta, so prior generations keep reading
    * with the codebook that produced them (time travel ACROSS a
    * codebook change), and a racing delta — whose rows were assigned
    * under the old codebook — conflicts the replace instead of mixing
    * codebooks in one view. Returns the committed generation. */
  private[graft] def recluster(s: SparkSession, root: java.io.File): Int = {
    val basisGen = IncPostings.committedGen(root)
    val corpus = IncPostings.readAt(s, root, basisGen)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val cents = trainCodebook(corpus)
    val cbDir = IncPostings.newDataDir(root, "meta")
    writeCodebook(s, cents, cbDir.toString)
    IncPostings.commitReplace(s, root, vecRowsOf(cents, corpus), basisGen,
      Some(cbDir.toString), layout = Seq("cid", "doc_id"))
  }

  /** The LSM retrain timeline's skewed-arrival cohort: residue-3=1
    * vec_ids (a third of the corpus — a re-embedding-wave-sized
    * batch; smaller cohorts measured below the 4x gauge at sf0.001)
    * re-arrive at ids past the churn adds' range, shifted +10.0f per
    * dimension — far outside the build distribution, so under the
    * frozen codebook the whole cohort piles into one or two cells and
    * trips [[SkewRetrainRatio]]. Residue disjoint from the
    * versioned-dir retrain timeline's %3=0 so the two inventory
    * indexes never share a drift cohort. SQL twin in
    * [[Similarity.sqlIvfLsmRetrainSearch]]. */
  private[graft] val LsmSkewShift: Long = 2 * Maintenance.AddShift
  private[graft] def skewVecs(e: DataFrame): DataFrame =
    e.where(col("vec_id") % 3 === 1)
      .select((col("vec_id") + lit(LsmSkewShift)).as("vec_id"),
        transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))

  /** The post-recluster corpus: the v2 churn survivors ∪ the skewed
    * arrivals — exactly what the recluster's merged view held, and
    * what the oracle trains on. */
  private[graft] def lsmRetrainCorpus(e: DataFrame): DataFrame =
    v2Vectors(e).unionByName(skewVecs(e))

  /** The ivfvec RETRAIN timeline root: base (frozen v1 codebook as the
    * gen-1 meta attachment) → churn delta → skewed-arrival delta
    * (assigned under the DECAYED frozen codebook) → skew gauge MUST
    * trip (required loudly: a policy regression fails the build) →
    * [[recluster]] publishes the retrained codebook + reassignment as
    * generation 4. */
  private[graft] def lsmRetrainRoot(s: SparkSession, dir: String): java.io.File =
    IncPostings.lsmArtifact(s, dir, "ivfvec-retrain", src = "embeddings") { root =>
      val e = Tables(s, dir, "embeddings")
      val cents = Similarity.codebook(s, dir) // session-memoized v1 training
      val cbDir = IncPostings.newDataDir(root, "meta")
      writeCodebook(s, cents, cbDir.toString)
      IncPostings.commitBase(root,
        vecRowsOf(cents, e.select(col("vec_id"), col("embedding"))),
        meta = Some(cbDir.toString))
      IncPostings.commitDelta(root, vecRowsOf(cents, deltaVecs(e)),
        vecTombstones(e))
      IncPostings.commitDelta(root, vecRowsOf(cents, skewVecs(e)),
        e.where(lit(false)).select(col("vec_id").as("doc_id")))
      val skew = cellSkew(IncPostings.readCurrent(s, root))
      require(skew > SkewRetrainRatio,
        f"skewed arrivals must trip the recluster policy at $dir (skew $skew%.1f)")
      recluster(s, root)
    }

  /** The full VECTOR index lifecycle as ONE artifact (the
    * pipe_index_lifecycle precedent at the ivfvec kind): base commit →
    * delta commit → pre-maintenance probe snapshot → compaction in
    * cell layout → retention to the single live generation. The
    * composed query probes the RETAINED index and carries the probe
    * drift, so a compaction losing a tombstone or a retention sweeping
    * a live segment fails the hash GATE, not just the spec. */
  private def vecLifecycleRoot(s: SparkSession, dir: String): java.io.File =
    IncPostings.lsmArtifact(s, dir, "ivfvec-lifecycle", src = "embeddings") { root =>
      val e = Tables(s, dir, "embeddings")
      val cents = Similarity.codebook(s, dir) // session-memoized v1 training
      writeCodebook(s, cents, root.toString)
      IncPostings.commitBase(root,
        vecRowsOf(cents, e.select(col("vec_id"), col("embedding"))))
      IncPostings.commitDelta(root, vecRowsOf(cents, deltaVecs(e)),
        vecTombstones(e))
      searchView(cents, IncPostings.readCurrent(s, root),
          v2Vectors(e).where(col("vec_id") < 5), k = 3, nprobe = 1)
        .write.mode(SaveMode.Overwrite)
        .parquet(new java.io.File(root, "probe-before").toString)
      IncPostings.compact(s, root, layout = Seq("cid", "doc_id"))
      // graceMs = 0: single-writer by construction (the store builds
      // once), and the query pins the terminal retained state.
      IncPostings.retain(s, root, keepGens = 1, graceMs = 0L)
    }

  /** [[search]] over a merged LSM view instead of a versioned
    * directory: probe each query's `nprobe` nearest cells under the
    * frozen codebook, broadcast the (tiny) query×cell set against the
    * view, exact-cosine rank within the probed cells. The cell filter
    * reaches every segment scan through the merge-on-read union the
    * same way the text probes' `g IN` does; a compaction with
    * layout=Seq("cid") restores static file-level pruning. */
  private[graft] def searchView(cents: Seq[(Long, Array[Double])],
      view: DataFrame, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val q = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("p",
        explode(probeCells(cents, col("q_emb").cast("array<double>"), nprobe)))
      .select(col("q_id"), col("q_emb"), col("p").getField("cid").as("cid"))
    val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    view.join(broadcast(q), "cid")
      .where(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id").as("vec_id"), score.as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** The persisted versioned index must reproduce the inline
    * `sim_ivf_search` EXACTLY — trainCodebook is deterministic in the
    * vector multiset, probe-1 search visits the query's own cell — so
    * the two queries share one oracle and the hash gate certifies the
    * whole persist→version→search path at every SF. The INC variant
    * searches the appended index; its oracle trains the codebook on
    * the base subset only, so a hash match proves the frozen-codebook
    * append preserved search semantics end to end. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ivf_persisted" -> ((s, dir) =>
      search(s, persistedPath(s, dir),
        Tables(s, dir, "embeddings").where(col("vec_id") < 5), k = 3, nprobe = 1)),
    "sim_ivf_inc" -> ((s, dir) =>
      search(s, incPersistedPath(s, dir),
        Tables(s, dir, "embeddings").where(col("vec_id") < 5), k = 3, nprobe = 1)),
    // Queries come from the POST-RETRAIN corpus (vec 0 and 3 are
    // shifted arrivals), matching the oracle's index-contents q set.
    "sim_ivf_retrain" -> ((s, dir) =>
      search(s, retrainPersistedPath(s, dir),
        retrainCorpus(s, dir).where(col("vec_id") < 5), k = 3, nprobe = 1)),

    // ── Probe-1 top-3 search through the MERGED LSM vector index:
    // base∪delta minus tombstones under the frozen v1 codebook, with
    // queries drawn from the v2 corpus. The oracle trains the same
    // codebook on v1, assigns the v2 corpus, and searches it directly
    // — a hash match proves the increment preserved ANN-search
    // semantics through deletes and edits, which the append-only
    // sim_ivf_inc path never exercises. ─────────────────────────────
    "sim_ivf_lsm" -> ((s, dir) => {
      val (cents, view) = mergedVectors(s, dir)
      searchView(cents, view,
        v2Vectors(Tables(s, dir, "embeddings")).where(col("vec_id") < 5),
        k = 3, nprobe = 1)
    }),

    // ── Probe-1 top-3 search through the RECLUSTERED LSM vector
    // index: the skewed-arrival cohort decays the frozen codebook,
    // the gauge trips, and recluster publishes a retrained codebook +
    // full reassignment in one atomic generation (kind-owned manifest
    // meta — codebook and assignments version TOGETHER, the property
    // the versioned-dir format had and the LSM kind now shares). The
    // oracle trains on the same merged corpus, so a hash match
    // certifies the trigger AND post-recluster search semantics. ────
    "sim_ivf_lsm_retrain" -> ((s, dir) => {
      val root = lsmRetrainRoot(s, dir)
      val gen = IncPostings.committedGen(root)
      searchView(codebookOf(s, root, gen), IncPostings.readAt(s, root, gen),
        lsmRetrainCorpus(Tables(s, dir, "embeddings")).where(col("vec_id") < 5),
        k = 3, nprobe = 1)
    }),

    // ── The composed vector-index lifecycle: ONE query runs base →
    // delta → compaction (cid layout) → retention, probes the
    // RETAINED index, and pins the drift against the pre-maintenance
    // probe (must be 0/0) plus the terminal generation constants —
    // the pipe_index_lifecycle contract at the ivfvec kind. ─────────
    "pipe_vector_lifecycle" -> ((s, dir) => {
      val root = vecLifecycleRoot(s, dir)
      val cents = readCodebookDir(s, root.toString)
      val after = searchView(cents, IncPostings.readCurrent(s, root),
        v2Vectors(Tables(s, dir, "embeddings")).where(col("vec_id") < 5),
        k = 3, nprobe = 1)
      val before = s.read.parquet(
        new java.io.File(root, "probe-before").toString)
      val drift = after.exceptAll(before)
        .agg(count(lit(1)).as("probe_only_after"))
        .crossJoin(before.exceptAll(after)
          .agg(count(lit(1)).as("probe_only_before")))
      after.crossJoin(drift)
        .withColumn("live_gen",
          lit(IncPostings.committedGen(root)).cast("long"))
        .withColumn("n_gens_retained",
          lit(IncPostings.committedGens(root).size).cast("long"))
    }),

    // ── Structural parity for the vector timeline: merged ≡ fresh
    // same-codebook assignment of the v2 corpus as a MULTISET of
    // (doc_id, cid, embedding) rows — the embedding column makes a
    // corrupted vector fail here, not just a wrong cell. The oracle
    // pins the summary from the corpus and asserts both differences
    // are zero. ─────────────────────────────────────────────────────
    "sim_ivf_lsm_parity" -> ((s, dir) => {
      val (cents, merged) = mergedVectors(s, dir)
      val fresh = vecRowsOf(cents, v2Vectors(Tables(s, dir, "embeddings")))
      val stats = fresh.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("cid")).as("n_cells"),
        sum(col("cid")).as("sum_cid"))
      IncPostings.multisetDrift(merged, fresh).crossJoin(stats)
    })
  )

  def oracles: Map[String, String] = Map(
    "sim_ivf_persisted" -> Similarity.oracles("sim_ivf_search"),
    "sim_ivf_inc" -> Similarity.sqlIvfIncSearch,
    "sim_ivf_retrain" -> Similarity.sqlIvfRetrainSearch,
    "sim_ivf_lsm" -> Similarity.sqlIvfLsmSearch,
    "sim_ivf_lsm_parity" -> Similarity.sqlIvfLsmParity,
    "pipe_vector_lifecycle" -> Similarity.sqlIvfLsmLifecycle,
    "sim_ivf_lsm_retrain" -> Similarity.sqlIvfLsmRetrainSearch
  )
}

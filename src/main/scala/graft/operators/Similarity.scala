package graft.operators

import graft.Tables
import graft.functions.Num
import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - brute-force cosine top-k: exact baseline, broadcast the (small)
  *    query set against the corpus — one pass, no shuffle of the corpus;
  *  - IVF: a **fixed-size** codebook (K centroids, corpus-size-
  *    independent — sampled deterministically and Lloyd-refined, see
  *    [[IvfIndex.trainCodebook]]) routes each vector to its nearest
  *    cell as a map-side expression over driver-literal centroids —
  *    assignment is O(n·K) with a constant-size broadcast, never a
  *    cross join that grows with the corpus;
  *  - IVF+PQ: ADC-style scoring over int8-quantized codes inside the
  *    probed cells, exact re-rank of the shortlist — the memory path
  *    that serves a billion-vector index from the 4×-smaller codes;
  *  - embedding near-dup pairs: label-blocked cosine >= τ (blocking keys
  *    bound the pair blow-up the same way LSH bands do for text).
  *
  * All vector math is `Vectors.dot`-style sequential double folds
  * (codegen'd higher-order functions) so an oracle computing the same
  * fold matches to ~1e-14 — scores are rounded well above that.
  */
object Similarity {

  val Dim = 64
  val Planes = 6
  /** Hard cap on the hard-negative anchor batch: at most this many
    * anchor ids qualify at ANY corpus size, so the anchor broadcast is
    * constant-size and mining stays O(B·n). */
  val HardNegAnchors = 64L
  /** Matryoshka prefix length used by sim_mrl_recall. */
  val MrlDim = 16

  // ── Fixed-K codebook, memoized per (session, sf dir): training runs
  // one sample pass + CbRounds refinement aggregations; every sim_ivf_*
  // entry shares the result. (Unlike the former DedupCluster CC memo —
  // now the cc-labels disk artifact — this caches a driver-side array,
  // not a persisted frame, so it pins nothing in the block manager.) ──
  private val cbCache = new graft.SessionMemo[String, Seq[(Long, Array[Double])]]

  private[operators] def codebook(s: SparkSession, dir: String): Seq[(Long, Array[Double])] =
    cbCache(s, dir)(IvfIndex.trainCodebook(Tables(s, dir, "embeddings")))

  /** Adaptive-K codebook for the ALL-PAIRS (SemDeDup) workload:
    * K = [[IvfIndex.semK]](corpus size) = max(K, ⌊√(n/2)⌋), so the
    * within-cell self-join stays O(n^1.5) total instead of O(n²/K) at
    * fixed K — the round-5 scale finding. The count comes from parquet
    * metadata (no scan); training cost is the same sample + Lloyd
    * recurrence, just with more cells. Cached separately from the
    * search codebook (same memo + eviction shape). */
  private def semCodebook(s: SparkSession, dir: String): Seq[(Long, Array[Double])] =
    cbCache(s, dir + "#sem") {
      val e = Tables(s, dir, "embeddings")
      IvfIndex.trainCodebook(e, IvfIndex.semK(e.count()))
    }

  /** (vec_id, embedding, centroid_id): map-side coarse assignment. */
  private def assigned(s: SparkSession, dir: String): DataFrame = {
    val cents = codebook(s, dir)
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        IvfIndex.nearest(cents, col("embedding").cast("array<double>"))
          .getField("cid").as("centroid_id"))
  }

  val queries: Map[String, Relational.Q] = Map(

    // ── int8 scalar quantization of the embedding corpus: per-DIM
    // affine codes (min/max over the corpus, 256 levels) — the 4×
    // memory cut that makes a billion-vector ANN index RAM-resident.
    // Reports per-vector reconstruction error (L∞, MSE) and the
    // original↔reconstructed cosine (the recall proxy: ANN over int8
    // is sound iff this stays ≈1). Dim stats are a 64-row broadcast;
    // integer codes are exact IEEE arithmetic, so both engines
    // quantize identically. ──────────────────────────────────────────
    "sim_quantize_int8" -> ((s, dir) => {
      val x = Tables(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").as("d"), col("col").cast("double").as("v"))
      val dims = x.groupBy(col("d"))
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        .withColumn("scale", (col("hi") - col("lo")) / 255.0)
      val code = when(col("scale") === 0, lit(0)).otherwise(
        least(lit(255.0), greatest(lit(0.0),
          floor((col("v") - col("lo")) / col("scale") + 0.5))).cast("int"))
      val r = x.join(broadcast(dims), "d")
        .withColumn("recon", col("lo") + code.cast("double") * col("scale"))
      val cosRec = sum(col("v") * col("recon")) /
        (sqrt(sum(col("v") * col("v"))) * sqrt(sum(col("recon") * col("recon"))))
      r.groupBy(col("vec_id")).agg(
        Num.roundp(max(abs(col("recon") - col("v"))), 6).as("linf"),
        Num.roundp(avg((col("recon") - col("v")) * (col("recon") - col("v"))), 8).as("mse"),
        Num.roundp(cosRec, 6).as("cos_rec"))
    }),

    // ── Recall of int8-quantized search against exact search: top-5 by
    // cosine over RECONSTRUCTED vectors vs the full-precision top-5,
    // recall@5 per query. Reconstructions are re-assembled into d-ordered
    // lists and scored with the sequential foldDot so the score is
    // bit-deterministic and identical to the oracle's ordered fold (an
    // unordered sum could flip a 1e-6-quantized tie between engines).
    // Recall 1.0 here is the empirical license to serve ANN from the
    // 4×-smaller codes. ───────────────────────────────────────────────
    "sim_quantized_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir, "embeddings")
      // Exact top-5 (same rule as sim_topk_bruteforce).
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val exScore = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      val exact = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), exScore.as("score"))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"))
      // Reconstructed vectors, exploded as (vec_id, d, recon).
      val x = e.select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").as("d"), col("col").cast("double").as("v"))
      val dims = x.groupBy(col("d"))
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        .withColumn("scale", (col("hi") - col("lo")) / 255.0)
      val code = when(col("scale") === 0, lit(0)).otherwise(
        least(lit(255.0), greatest(lit(0.0),
          floor((col("v") - col("lo")) / col("scale") + 0.5))).cast("int"))
      val r = x.join(broadcast(dims), "d")
        .select(col("vec_id"), col("d"), (col("lo") + code.cast("double") * col("scale")).as("rv"))
      // d-ORDERED reconstruction lists + sequential folds (not an
      // unordered sum over the exploded rows): both engines then add in
      // the SAME order, so a score at a 1e-6 grid boundary can't flip
      // between Spark and the oracle (same contract as pqSearch's rlist).
      val rlist = r.groupBy(col("vec_id"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("rv")))),
          p => p.getField("rv")).as("rv"))
        .withColumn("nrm", sqrt(IvfIndex.foldDot(col("rv"), col("rv"))))
      val qlist = rlist.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("rv").as("qv"), col("nrm").as("q_nrm"))
      val quant = rlist.crossJoin(broadcast(qlist))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          Num.roundp(IvfIndex.foldDot(col("qv"), col("rv")) /
            (col("q_nrm") * col("nrm")), 6).as("score"))
      val qTop = quant
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"))
      exact.join(qTop, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id"))
        .agg((count(lit(1)).cast("double") / 5.0).as("recall5"))
    }),

    // ── brute-force cosine top-5 for query vectors vec_id < 5 ─────────
    "sim_topk_bruteforce" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), score.as("score"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
    }),

    // ── Contrastive hard-negative mining: for each anchor vector, the
    // top-5 most-similar vectors carrying a DIFFERENT label — the
    // negatives an embedding-model trainer actually wants (near the
    // anchor yet wrong, so the margin gradient is informative; random
    // negatives are trivially separated). Anchors are the vec_id % 100
    // slice CAPPED at HardNegAnchors ids — in deployment the anchor
    // side is one training batch, bounded by construction, and the cap
    // makes that bound structural: the broadcast is ≤ HardNegAnchors
    // rows at any corpus size and the scan-side work is O(B·n), linear
    // in the corpus (without the cap, anchors ∝ n makes it O(n²/100) —
    // the decontam_embed scale-killer class). When the candidate side
    // must shrink too, the IVF cell-blocked path (probe the anchor's
    // nearest cells, then filter by label) is the scale route with the
    // existing codebook machinery. ───────────────────────────────────
    "sim_hard_negatives" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir, "embeddings")
      val q = e.where(col("vec_id") % 100 === 0 &&
          col("vec_id") < HardNegAnchors * 100L)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"))
      val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .where(col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id"), col("label"), score.as("score"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
    }),

    // ── Matryoshka-truncation recall (Kusupati et al. 2022): rank by
    // cosine over the FIRST MrlDim dims only, then measure recall@5 of
    // the truncated ranking against the full-Dim exact top-5. This is
    // the evidence gate for serving ANN from prefix-truncated vectors
    // (Dim/MrlDim × less memory bandwidth — at 100 TB the scan cost IS
    // the memory traffic). Same bounded-anchor contract as the other
    // recall queries (5 fixed query ids → broadcast), one linear pass
    // over the corpus per side. ──────────────────────────────────────
    "sim_mrl_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      def top5(score: Column) = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), score.as("score"))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"))
      val exact = top5(Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6))
      val trunc = top5(Num.roundp(Vectors.cosine(
        slice(col("q_emb"), 1, MrlDim), slice(col("embedding"), 1, MrlDim)), 6))
      exact.join(trunc, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id"))
        .agg((count(lit(1)).cast("double") / 5.0).as("recall5"))
    }),

    // ── Sign-bit binary quantization + Hamming ranking: each vector
    // collapses to ONE long (bit j = sign of dim j), candidates rank by
    // popcount(xor) — 32× less data than float32[64] and the distance
    // is a single xor+popcnt, the cheapest possible first-stage filter
    // before exact re-rank (the standard binary-quantization serving
    // recipe). Packing is one map-side fold; ranking reuses the
    // bounded-anchor broadcast. The oracle counts differing sign bits
    // directly — same value, no 64-bit shift semantics to align. ─────
    "sim_binary_hamming" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val packed = Tables(s, dir, "embeddings").select(col("vec_id"),
        expr("aggregate(transform(embedding, (x, j) -> " +
          "IF(x > CAST(0 AS FLOAT), shiftleft(CAST(1 AS BIGINT), j), " +
          "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, b) -> a | b)").as("code"))
      val q = packed.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("code").as("q_code"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("ham"), col("vec_id"))
      packed.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          bit_count(col("code").bitwiseXOR(col("q_code"))).cast("long").as("ham"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 10)
    }),

    // ── The cell-blocked scale route for hard-negative mining (the
    // path sim_hard_negatives' scaladoc promises): each anchor probes
    // only its 2 nearest IVF cells and mines different-label
    // neighbors from those cells' members — per-anchor work is
    // O(probed-cell size), not O(corpus), so the candidate side
    // shrinks with K exactly like ANN search does. Same bounded-
    // anchor broadcast; recall vs the exhaustive miner is the
    // documented trade (cells hold same-cluster vectors, which is
    // where hard negatives live). ────────────────────────────────────
    "sim_hard_negatives_ivf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = codebook(s, dir)
      val e = Tables(s, dir, "embeddings")
      val probes = e.where(col("vec_id") % 100 === 0 &&
          col("vec_id") < HardNegAnchors * 100L)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"),
          explode(IvfIndex.probeCells(cents,
            col("embedding").cast("array<double>"), 2)).as("p"))
        .select(col("q_id"), col("q_label"), col("q_emb"),
          col("p").getField("cid").as("centroid_id"))
      val a = assigned(s, dir).join(e.select(col("vec_id"), col("label")), "vec_id")
      val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      a.join(broadcast(probes), "centroid_id")
        .where(col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id"), col("label"), score.as("score"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
    }),

    // ── IVF assignment: nearest centroid per vector. The codebook is
    // K driver literals — the whole query is one map-side pass, no
    // join, no shuffle (.explain: a single Project over the scan). ────
    "sim_ivf_assign" -> ((s, dir) => {
      val cents = codebook(s, dir)
      Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          IvfIndex.nearest(cents, col("embedding").cast("array<double>")).as("b"))
        .select(col("vec_id"),
          col("b").getField("cid").as("centroid_id"),
          col("b").getField("d").as("dist"))
    }),

    // ── per-label centroid, computed columnar (posexplode → hash agg):
    // the no-UDF, no-MLlib way to aggregate vectors — each (label, dim)
    // cell partial-aggregates map-side, so the shuffle carries one row
    // per label×64 dims regardless of corpus size. ────────────────────
    "sim_label_centroids" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .toDF("label", "dim", "v")
        .groupBy(col("label"), col("dim"))
        .agg(Num.roundp(avg(col("v").cast("double")), 6).as("centroid_v"),
          count(lit(1)).as("n_vecs"))),

    // ── Embedding-space outlier sweep: squared distance of every
    // vector to its OWN label's centroid, z-scored within the label —
    // the standard mislabeled/garbage-vector detector run before
    // training on labeled embeddings (a far-from-centroid vector is a
    // labeling error or junk input). Three aggregate passes, all
    // map-side combined: centroids (labels×Dim rows, broadcast back),
    // per-vector distance (one explode join against that broadcast),
    // per-label moments (labels rows, broadcast back). Nothing joins
    // corpus-to-corpus — linear at any scale. Centroid, distance and
    // the moments are quantized before the z so cross-engine summation
    // order never reaches the 1e-4 output grid. ──────────────────────
    "sim_label_outliers" -> ((s, dir) => {
      val x = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos").as("dim"),
          col("col").cast("double").as("v"))
      val cent = x.groupBy(col("label"), col("dim"))
        .agg(Num.roundp(avg(col("v")), 6).as("c"))
      val dist = x.join(broadcast(cent), Seq("label", "dim"))
        .groupBy(col("vec_id"), col("label"))
        .agg(Num.roundp(sum((col("v") - col("c")) * (col("v") - col("c"))), 6)
          .as("dist2"))
      // Moments from PLAIN sums (quantized 1e-3 over ~1e5-magnitude
      // values): cross-engine residue is summation order only
      // (~1e-11, far under the half-grid), unlike stddev_samp whose
      // engine-specific algorithms differ by enough to flip a 1e-6
      // grid (observed at sf0.001). mu/sigma then DERIVE identically
      // on both engines from bit-equal inputs.
      val moments = dist.groupBy(col("label"))
        .agg(Num.roundp(sum(col("dist2")), 3).as("s1"),
          Num.roundp(sum(col("dist2") * col("dist2")), 3).as("s2"),
          count(lit(1)).as("n"))
      val mu = col("s1") / col("n")
      val sigma = sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
        (col("n") - 1))
      dist.join(broadcast(moments), "label")
        .select(col("vec_id"), col("label"), col("dist2"),
          Num.roundp((col("dist2") - mu) / sigma, 4).as("z"))
        .withColumn("outlier", col("z") > 2.0)
    }),

    // ── embedding near-duplicate pairs (label-blocked) ────────────────
    "dedup_embed_cosine" -> ((s, dir) => {
      val a = Tables(s, dir, "embeddings").select(
        col("label"), col("vec_id").as("a"), col("embedding").as("ea"))
      val b = Tables(s, dir, "embeddings").select(
        col("label"), col("vec_id").as("b"), col("embedding").as("eb"))
      val cos = Vectors.cosine(col("ea"), col("eb"))
      a.join(b, "label").where(col("a") < col("b"))
        .where(cos >= 0.4)
        .select(col("label"), col("a"), col("b"), Num.roundp(cos, 4).as("cos"))
    }),

    // ── hyperplane-LSH near-dup: the no-labels scale path ─────────────
    // Random-hyperplane signature (sign of dot with H fixed
    // pseudo-hyperplanes) buckets the corpus; only bucket collisions are
    // cosine-verified — candidate generation is O(collisions), not
    // O(n²). The hyperplanes are derived from integer arithmetic both
    // engines compute identically (no float constants to ship).
    "dedup_embed_lsh" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val planeDot = (h: Int) => aggregate(
        transform(sequence(lit(0), lit(Dim - 1)), d =>
          element_at(col("embedding"), d + 1).cast("double") *
            (((lit(h) * Dim + d) * 73 % 199 - 99).cast("double") / 99.0d)),
        lit(0.0d), (acc, x) => acc + x)
      val bucket = concat((0 until Planes).map(h =>
        when(planeDot(h) >= 0, "1").otherwise("0")): _*)
      val bucketed = e.select(col("vec_id"), col("embedding"), bucket.as("bkt"))
      val a = bucketed.select(col("bkt"), col("vec_id").as("a"), col("embedding").as("ea"))
      val b = bucketed.select(col("bkt"), col("vec_id").as("b"), col("embedding").as("eb"))
      val cos = Vectors.cosine(col("ea"), col("eb"))
      a.join(b, "bkt").where(col("a") < col("b"))
        .where(cos >= 0.3)
        .select(col("a"), col("b"), Num.roundp(cos, 4).as("cos"))
    }),

    // ── SemDeDup: semantic near-dup purge inside learned clusters
    // (Abbas et al. 2023, arXiv:2303.09540). An ADAPTIVE-K codebook
    // (K = semK(n) = max(16, ⌊√(n/2)⌋) — enforced, not aspirational)
    // blocks candidate pairs exactly like LSH bands block text
    // near-dups — pairs never cross a cell, so the self-join is
    // O(Σ cell²) = O(n^1.5) with cells of size ~√n, never corpus²,
    // and co-partitioning on centroid_id keeps it cell-local at any
    // scale (the codebook broadcast stays K×Dim ∝ √n). Keep-rule:
    // of each similar pair the member FARTHEST from its centroid
    // survives (the paper's diversity-keeping rule) — "farthest" reads
    // the quantized assignment distance both engines already share, so
    // the survivor choice is engine-stable; ties break to smaller id. ─
    "dedup_semantic" -> ((s, dir) => {
      val near = IvfIndex.nearest(semCodebook(s, dir),
        col("embedding").cast("array<double>"))
      val base = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), near.as("b"))
        .select(col("vec_id"), col("embedding"),
          col("b").getField("cid").as("centroid_id"),
          col("b").getField("d").as("dist"))
      // Block-split the within-cell self-join: a cell's O(cell²) pair
      // work otherwise lands in ONE task (join key = centroid_id), and
      // the biggest cells become a 2-task tail that dominated the 100×
      // run. Tag the left side with a deterministic block (vec_id mod
      // B), replicate the right side to every block, and join on
      // (cell, block): each (u, v) pair still meets EXACTLY once — at
      // block u%B — so the result is identical, but a cell's work
      // spreads over B tasks. Replication costs B× the right side's
      // shuffle volume; B=8 trades ~2.4 GB of extra shuffle at the
      // 100× corpus for an 8-way split of the quadratic tail.
      val B = 8L
      val l = base.select(col("centroid_id"), col("vec_id").as("u"),
        col("embedding").as("eu"), col("dist").as("du"),
        pmod(col("vec_id"), lit(B)).as("blk"))
      val r = base.select(col("centroid_id"), col("vec_id").as("v"),
        col("embedding").as("ev"), col("dist").as("dv"))
        .withColumn("blk", explode(array((0L until B).map(lit(_)): _*)))
      val cos = Num.roundp(Vectors.cosine(col("eu"), col("ev")), 6)
      val dominated = (col("du") > col("dv")) ||
        (col("du") === col("dv") && col("u") < col("v"))
      val perVec = l.join(r, Seq("centroid_id", "blk"))
        .where(col("u") =!= col("v") && cos >= 0.35)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n_dups"), max(dominated.cast("int")).as("pu"))
        .select(col("v").as("vec_id"), col("n_dups"), col("pu"))
      base.select(col("vec_id"), col("centroid_id"), col("dist"))
        .join(perVec, Seq("vec_id"), "left")
        .select(col("vec_id"), col("centroid_id"), col("dist"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          (coalesce(col("pu"), lit(0)) === 1).as("purged"))
    }),

    // ── Embedding-space decontamination: the SEMANTIC counterpart of
    // decontam_ngram — train vectors too close (cosine) to any held-out
    // eval vector are flagged, catching paraphrased/near-translated
    // contamination the n-gram overlap test can't see. Same eval slice
    // rule (id % 97) and the same scale shape as the n-gram op: the
    // eval side is benchmark-sized and BROADCAST (bound ENFORCED by
    // decontamEmbed — see its scaladoc), the train side never
    // shuffles — one map-side pass + a per-vector aggregation. ────────
    "decontam_embed" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      decontamEmbed(e.where(col("vec_id") % 97 =!= 0),
        e.where(col("vec_id") % 97 === 0))
    }),

    // ── IVF top-k search: route the query to its cell, search only
    // cell members (probe=1). Assignment is map-side; the only join is
    // cell-members ⋈ broadcast(5 queries). ────────────────────────────
    "sim_ivf_search" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val a = assigned(s, dir)
      val q = a.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("centroid_id"))
      val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      a.join(broadcast(q), "centroid_id")
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), score.as("score"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
    }),

    // ── IVF multi-probe search: each query probes its 2 nearest cells —
    // the recall/cost lever of a real IVF index (nprobe). Probe cells
    // come from the same driver-literal codebook (array_sort over K
    // candidate structs — map-side, no centroid join at all). ─────────
    "sim_ivf_probe2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = codebook(s, dir)
      val e = Tables(s, dir, "embeddings")
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          explode(IvfIndex.probeCells(cents, col("embedding").cast("array<double>"), 2)).as("p"))
        .select(col("q_id"), col("q_emb"), col("p").getField("cid").as("centroid_id"))
      val a = assigned(s, dir)
      val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      a.join(broadcast(probes), "centroid_id")
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), score.as("score"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
    }),

    // ── ANN quality metric: recall@3 of probe-1 IVF against the exact
    // brute-force top-3 — the number that justifies (or vetoes) the
    // approximate path at scale. ─────────────────────────────────────
    "sim_ivf_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val brute = bruteTruth(s, dir)
      val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      val a = assigned(s, dir)
      val qa = a.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("centroid_id"))
      val ivf = a.join(broadcast(qa), "centroid_id")
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), score.as("score"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      brute.join(ivf, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
          Num.roundp(sum(coalesce(col("hit"), lit(0L))) / 3.0d, 4).as("recall3"))
    }),

    // ── The recall/cost CURVE: recall@3 at nprobe ∈ {1, 2, 4} in one
    // result — the operating table an ANN deployment reads to pick its
    // probe budget (recall must be non-decreasing in nprobe; the spec
    // and oracle pin the whole curve, not one point). Each nprobe level
    // reuses the same memoized assignment and brute-force truth; the
    // probed-cells set is a map-side driver-literal expression, so the
    // extra levels cost only their candidate joins. ──────────────────
    "sim_ivf_recall_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = codebook(s, dir)
      val e = Tables(s, dir, "embeddings")
      val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      val brute = bruteTruth(s, dir)
      val a = assigned(s, dir)
      RecallCurveProbes.map { np =>
        val probes = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            explode(IvfIndex.probeCells(cents,
              col("embedding").cast("array<double>"), np)).as("p"))
          .select(col("q_id"), col("q_emb"), col("p").getField("cid").as("centroid_id"))
        val ivf = a.join(broadcast(probes), "centroid_id")
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), score.as("score"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
          .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
        brute.join(ivf, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
            Num.roundp(sum(coalesce(col("hit"), lit(0L))) / 3.0d, 4).as("recall3"))
          .select(lit(np.toLong).as("nprobe"), col("q_id"),
            col("n_hits"), col("recall3"))
      }.reduce(_ unionByName _)
    }),

    // ── IVF+PQ search: ADC scoring over int8-reconstructed codes in
    // the 2 probed cells, shortlist top-10 by ADC cosine, exact re-rank
    // to top-3. This is the production ANN read path: the shortlist is
    // computed from 4×-smaller codes (RAM-resident at scale), full-
    // precision vectors are touched only for the 10-row re-rank. ─────
    "sim_ivf_pq_search" -> ((s, dir) => pqSearch(s, dir)),

    // ── recall@3 of IVF+PQ vs exact brute force: probe-2 + re-rank
    // must dominate the plain probe-1 recall (sim_ivf_recall) for the
    // PQ path to be worth its extra index. ───────────────────────────
    "sim_ivf_pq_recall" -> ((s, dir) => {
      val brute = bruteTruth(s, dir)
      val pq = pqSearch(s, dir)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      brute.join(pq, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
          Num.roundp(sum(coalesce(col("hit"), lit(0L))) / 3.0d, 4).as("recall3"))
    })
  )

  /** nprobe levels of the sim_ivf_recall_curve operating table. */
  val RecallCurveProbes: Seq[Int] = Seq(1, 2, 4)

  /** Exact brute-force top-3 ground truth for the fixed ANN query set
    * (vec_id < 5): (q_id, vec_id) pairs, cosine desc, ties by vec_id.
    * A disk artifact keyed on the embeddings corpus fingerprint — the
    * truth is a pure function of the corpus and EVERY recall metric
    * (plain IVF, the nprobe curve, IVF+PQ) joins against the same
    * pairs, so recomputing the O(n·K) exact scan per recall query per
    * session was pure waste; an index retrain never invalidates it
    * (only a corpus regeneration does, via the fingerprint). */
  private def bruteTruth(s: SparkSession, dir: String): DataFrame =
    ArtifactCache.parquet(s, dir, "ann-truth-top3", Seq("embeddings")) {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), score.as("score"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3).select(col("q_id"), col("vec_id"))
    }

  /** Eval-side row bound for [[decontamEmbed]]'s broadcast. 100k × a
    * 64-dim double vector ≈ 50 MB — inside a healthy executor broadcast
    * budget with headroom. Real eval benchmarks are thousands of rows;
    * the bound exists to FAIL FAST if someone points the gate at a
    * corpus-sized "eval" slice (which would OOM the broadcast at scale)
    * instead of silently degrading. */
  val MaxEvalBroadcast = 100000L

  /** Flag train vectors with cosine ≥ 0.35 to any eval vector. The
    * plan shape is broadcast(eval) ⋈ train with NO shuffle of the train
    * side — correct only while the eval side is broadcast-sized, so the
    * size contract is asserted (count on the eval frame — one cheap
    * pass over the small side) rather than documented-and-hoped. For an
    * eval set past the bound, the scalable rewrite is cell-blocking:
    * assign BOTH sides with [[IvfIndex.nearest]] and join on
    * centroid_id (the dedup_semantic shape) — approximate (cross-cell
    * pairs are missed, recall governed by nprobe), which is why it is
    * not silently substituted here. */
  def decontamEmbed(train: DataFrame, eval: DataFrame,
      maxEvalRows: Long = MaxEvalBroadcast): DataFrame = {
    val n = eval.count()
    require(n <= maxEvalRows,
      s"decontam eval side has $n rows > broadcast bound $maxEvalRows: " +
        "not a benchmark-sized eval set — use an IVF-cell-blocked join " +
        "(assign both sides with IvfIndex.nearest, join on centroid_id)")
    val ev = eval.select(col("vec_id").as("e_id"), col("embedding").as("ee"))
    val cos = Vectors.cosine(col("embedding"), col("ee"))
    train.crossJoin(broadcast(ev))
      .where(cos >= 0.35)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        Num.roundp(max(cos), 4).as("max_cos"))
  }

  /** IVF+PQ: probe 2 cells, ADC-score int8 reconstructions (query at
    * full precision — the "asymmetric" in ADC), shortlist 10, exact
    * re-rank to 3. At 100 TB the rlist (code) table is written
    * co-partitioned with the assignments so the candidate join is
    * cell-local; here it composes the sim_quantize_int8 machinery
    * inline. */
  private def pqSearch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = codebook(s, dir)
    val e = Tables(s, dir, "embeddings")
    // int8 reconstruction lists (same affine codes as sim_quantize_int8)
    val x = e.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("d"), col("col").cast("double").as("v"))
    val dims = x.groupBy(col("d"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .withColumn("scale", (col("hi") - col("lo")) / 255.0)
    val code = when(col("scale") === 0, lit(0)).otherwise(
      least(lit(255.0), greatest(lit(0.0),
        floor((col("v") - col("lo")) / col("scale") + 0.5))).cast("int"))
    val rx = x.join(broadcast(dims), "d")
      .select(col("vec_id"), col("d"), (col("lo") + code.cast("double") * col("scale")).as("rv"))
    val rlist = rx.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("rv")))),
        p => p.getField("rv")).as("rv"))
      .withColumn("rnrm", sqrt(IvfIndex.foldDot(col("rv"), col("rv"))))
    // coarse assignment (map-side, driver-literal codebook)
    val asgn = e.select(col("vec_id"),
      IvfIndex.nearest(cents, col("embedding").cast("array<double>"))
        .getField("cid").as("centroid_id"))
    // queries: 2 probed cells + full-precision double vector + norm
    val qv = col("embedding").cast("array<double>")
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), qv.as("q_v"),
        explode(IvfIndex.probeCells(cents, qv, 2)).as("p"))
      .select(col("q_id"), col("q_v"), col("p").getField("cid").as("centroid_id"))
      .withColumn("q_nrm", sqrt(IvfIndex.foldDot(col("q_v"), col("q_v"))))
    // ADC shortlist: cosine(query full-precision, reconstructed codes)
    val adc = Num.roundp(
      IvfIndex.foldDot(col("q_v"), col("rv")) / (col("q_nrm") * col("rnrm")), 6)
    val wa = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("vec_id"))
    val short = asgn.join(broadcast(probes), "centroid_id")
      .join(rlist, "vec_id")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), adc.as("adc"))
      .withColumn("ark", row_number().over(wa)).where(col("ark") <= 10)
      .select(col("q_id"), col("vec_id"))
    // exact re-rank over the full-precision float vectors
    val qe = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val score = Num.roundp(Vectors.cosine(col("q_emb"), col("embedding")), 6)
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    short.join(broadcast(qe), "q_id")
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("q_id"), col("vec_id"), score.as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
  }

  /** DuckDB double-precision sequential dot product over FLOAT[] lists —
    * same fold as Vectors.dot. */
  private[operators] def sqlDot(a: String, b: String) =
    s"list_sum(list_transform(range(64), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)))"

  private[operators] def sqlNorm(a: String) = s"sqrt(${sqlDot(a, a)})"

  /** Prefix-dim variants (Matryoshka truncation). */
  private def sqlDotN(a: String, b: String, n: Int) =
    s"list_sum(list_transform(range($n), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)))"
  private def sqlNormN(a: String, n: Int) = s"sqrt(${sqlDotN(a, a, n)})"

  /** Shared oracle prelude: the identical codebook recurrence (hash-
    * order seed sample, quantized Lloyd rounds) + quantized-argmin
    * assignment, as MATERIALIZED CTEs (DuckDB would otherwise inline
    * and re-expand the chained recurrence). Ends with:
    *   cb       (cid, v DOUBLE[])        — the codebook
    *   celldist (vec_id, cid, dist)      — quantized dist to every cell
    *   asgn     (vec_id, centroid_id, dist) — nearest cell
    */
  private def sqlCbWith(kSelect: String, trainWhere: String = "TRUE",
      corpusSql: String = "SELECT vec_id, embedding FROM embeddings",
      trainSql: String = ""): String = {
    // The training corpus is usually a WHERE-subset of the indexed
    // corpus (the frozen-codebook append oracle); the LSM timeline
    // instead trains on v1 while indexing v2 — two sets related by
    // churn, neither a subset of the other — so `trainSql`, when
    // given, defines e0t from its own corpus instead of filtering e0.
    val e0t =
      if (trainSql.isEmpty) s"e0t AS MATERIALIZED (SELECT * FROM e0 WHERE $trainWhere)"
      else
        s"""e0t AS MATERIALIZED (
           |  SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS v
           |  FROM ($trainSql))""".stripMargin
    val rounds = (1 to IvfIndex.CbRounds).map { t =>
      s"""cba$t AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      floor(list_sum(list_transform(range(1, ${Dim + 1}),
         |        i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) * 1000000 + 0.5) / 1000000,
         |      c.cid) AS rn
         |    FROM e0t e, cb${t - 1} c) WHERE rn = 1),
         |cb$t AS MATERIALIZED (
         |  SELECT cid, list(m ORDER BY i) AS v FROM (
         |    SELECT a.cid, r.i AS i, floor(avg(e.v[r.i]) * 1000000 + 0.5) / 1000000 AS m
         |    FROM cba$t a JOIN e0t e USING (vec_id), range(1, ${Dim + 1}) r(i)
         |    GROUP BY 1, 2) GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS MATERIALIZED (
       |  SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS v
       |  FROM ($corpusSql)),
       |$e0t,
       |kk AS MATERIALIZED ($kSelect),
       |cb0 AS MATERIALIZED (
       |  SELECT cid, v FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid, v
       |    FROM e0t) s, kk
       |  WHERE s.cid < kk.k),
       |$rounds,
       |cb AS MATERIALIZED (SELECT cid, v FROM cb${IvfIndex.CbRounds}),
       |celldist AS MATERIALIZED (
       |  SELECT e.vec_id, c.cid,
       |    floor(list_sum(list_transform(range(1, ${Dim + 1}),
       |      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) * 1000000 + 0.5) / 1000000 AS dist
       |  FROM e0 e, cb c),
       |asgn AS MATERIALIZED (
       |  SELECT vec_id, cid AS centroid_id, dist FROM (
       |    SELECT vec_id, cid, dist,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM celldist) WHERE rn = 1)""".stripMargin
  }

  /** Fixed-K prelude (search-grade codebook, all sim_ivf_* oracles). */
  private lazy val sqlCb: String =
    sqlCbWith(s"SELECT CAST(${IvfIndex.K} AS BIGINT) AS k")

  /** Probe-1 top-3 search body over a codebook prelude — shared by the
    * full-corpus oracle and the incremental-index oracle, which differ
    * ONLY in which vectors trained the codebook. */
  private def sqlIvfSearch(prelude: String, extraCols: String = ""): String =
    s"""WITH $prelude,
       |n AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, a.centroid_id, ${sqlNorm("e.embedding")} AS nrm
       |  FROM e0 e JOIN asgn a USING (vec_id)),
       |scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 AS score
       |  FROM n q JOIN n e ON q.centroid_id = e.centroid_id
       |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT q_id, vec_id, score, rk$extraCols FROM ranked WHERE rk <= 3""".stripMargin

  /** Oracle for [[IvfIndex]]'s incremental timeline: the codebook is
    * trained on the pre-arrival subset ONLY (the frozen-codebook
    * contract of append()), while assignment and search cover every
    * vector — base and appended alike. */
  private[operators] lazy val sqlIvfIncSearch: String =
    sqlIvfSearch(sqlCbWith(s"SELECT CAST(${IvfIndex.K} AS BIGINT) AS k",
      s"NOT (${IvfIndex.IncArrivalsWhere})"))

  /** Oracle for the RETRAIN path: the corpus is base ∪ the shifted
    * (out-of-distribution) arrival batch, and the codebook is trained
    * on ALL of it — appendOrRetrain's post-retrain state is provably a
    * fresh build over the union (trainCodebook is deterministic in
    * the vector multiset; IvfIndexSpec pins the identity), so the
    * oracle replays exactly that. The DOUBLE-add-then-CAST-to-FLOAT
    * shift reproduces Spark's float32 `x + 10.0f` bit-for-bit (both
    * are round-to-nearest-float of the exact sum). */
  private[operators] lazy val sqlIvfRetrainSearch: String =
    sqlIvfSearch(sqlCbWith(s"SELECT CAST(${IvfIndex.K} AS BIGINT) AS k",
      corpusSql = s"""SELECT vec_id, embedding FROM embeddings
         | WHERE NOT (${IvfIndex.RetrainArrivalsWhere})
         | UNION ALL
         | SELECT vec_id, CAST(list_transform(embedding,
         |   x -> CAST(x AS DOUBLE) + 10.0) AS FLOAT[]) AS embedding
         | FROM embeddings WHERE ${IvfIndex.RetrainArrivalsWhere}""".stripMargin))

  /** The v2 (post-churn) vector corpus in SQL — the embedding twin of
    * [[IncPostings.sqlV2]]: residue-97 drops, residue-31 edits
    * re-embedded (DOUBLE add + FLOAT cast reproduces Spark's float32
    * `x + 0.25f` bit-for-bit), residue-89 adds verbatim at the
    * shifted id. */
  private lazy val sqlV2Vectors: String =
    s"""SELECT vec_id, embedding FROM embeddings
       | WHERE vec_id % 97 <> 0 AND vec_id % 31 <> 0
       | UNION ALL
       | SELECT vec_id, CAST(list_transform(embedding,
       |   x -> CAST(x AS DOUBLE) + 0.25) AS FLOAT[]) AS embedding
       | FROM embeddings WHERE vec_id % 97 <> 0 AND vec_id % 31 = 0
       | UNION ALL
       | SELECT vec_id + 10000000 AS vec_id, embedding
       | FROM embeddings WHERE vec_id % 89 = 0""".stripMargin

  /** Prelude for the LSM vector timeline: codebook trained on the v1
    * corpus (the frozen-at-base-commit contract), assignment and
    * search over the v2 corpus — deletes and edits applied. */
  private lazy val sqlCbLsm: String =
    sqlCbWith(s"SELECT CAST(${IvfIndex.K} AS BIGINT) AS k",
      corpusSql = sqlV2Vectors,
      trainSql = "SELECT vec_id, embedding FROM embeddings")

  /** Oracle for [[IvfIndex]]'s `sim_ivf_lsm`: probe-1 top-3 search of
    * the v2 corpus under the v1-trained codebook — exactly what the
    * merged (base∪delta minus tombstones) view must serve. */
  private[operators] lazy val sqlIvfLsmSearch: String = sqlIvfSearch(sqlCbLsm)

  /** Oracle for `sim_ivf_lsm_retrain`: the recluster trains on the
    * merged view — the v2 churn survivors ∪ the +10.0f-shifted
    * residue-3=1 arrivals — and searches it, so the oracle trains and
    * indexes that same union (the DOUBLE add + FLOAT cast reproduces
    * Spark's float32 shift bit-for-bit, the sqlIvfRetrainSearch
    * precedent). */
  private[operators] lazy val sqlIvfLsmRetrainSearch: String =
    sqlIvfSearch(sqlCbWith(s"SELECT CAST(${IvfIndex.K} AS BIGINT) AS k",
      corpusSql = s"""$sqlV2Vectors
         | UNION ALL
         | SELECT vec_id + ${IvfIndex.LsmSkewShift} AS vec_id,
         |   CAST(list_transform(embedding,
         |     x -> CAST(x AS DOUBLE) + 10.0) AS FLOAT[]) AS embedding
         | FROM embeddings WHERE vec_id % 3 = 1""".stripMargin))

  /** Oracle for `pipe_vector_lifecycle`: the retained, compacted
    * index must serve the same search as the pre-maintenance view
    * (drift 0/0), land at generation 3 (base, delta, compaction) with
    * exactly one retained manifest — the pipe_index_lifecycle
    * constants at the ivfvec kind. */
  private[operators] lazy val sqlIvfLsmLifecycle: String =
    sqlIvfSearch(sqlCbLsm, extraCols =
      """,
        |  CAST(0 AS BIGINT) AS probe_only_after,
        |  CAST(0 AS BIGINT) AS probe_only_before,
        |  CAST(3 AS BIGINT) AS live_gen,
        |  CAST(1 AS BIGINT) AS n_gens_retained""".stripMargin)

  /** Oracle for `sim_ivf_lsm_parity`: the merged view equals a fresh
    * same-codebook v2 assignment, so both multiset differences are
    * zero and the summary comes straight from the oracle's own
    * assignment of the v2 corpus. */
  private[operators] lazy val sqlIvfLsmParity: String =
    s"""WITH $sqlCbLsm
       |SELECT CAST(0 AS BIGINT) AS only_merged,
       |  CAST(0 AS BIGINT) AS only_fresh,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT centroid_id) AS BIGINT) AS n_cells,
       |  CAST(sum(centroid_id) AS BIGINT) AS sum_cid
       |FROM asgn""".stripMargin

  /** Adaptive-K prelude — the SQL twin of [[IvfIndex.semK]]:
    * K = greatest(16, ⌊√(n/2)⌋), the all-pairs (SemDeDup) sizing. */
  private lazy val sqlCbSem: String =
    sqlCbWith(s"SELECT greatest(CAST(${IvfIndex.K} AS BIGINT), " +
      s"CAST(floor(sqrt(count(*) / 2.0)) AS BIGINT)) AS k FROM e0")

  val oracles: Map[String, String] = Map(
    "sim_quantized_recall" ->
      s"""WITH x AS (
         |  SELECT vec_id, r.range AS d, CAST(embedding[r.range + 1] AS DOUBLE) AS v
         |  FROM embeddings, range($Dim) r),
         |dims AS (
         |  SELECT d, min(v) AS lo, max(v) AS hi, (max(v) - min(v)) / 255.0 AS scale
         |  FROM x GROUP BY d),
         |rx AS (
         |  SELECT vec_id, d,
         |    lo + CAST(CASE WHEN scale = 0 THEN 0
         |      ELSE CAST(least(255.0, greatest(0.0, floor((v - lo) / scale + 0.5))) AS INTEGER)
         |      END AS DOUBLE) * scale AS rv
         |  FROM x JOIN dims USING (d)),
         |n AS (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
         |ex AS (
         |  SELECT q.vec_id AS q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 DESC,
         |      e.vec_id) AS rk
         |  FROM n q JOIN n e ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
         |exact5 AS (SELECT q_id, vec_id FROM ex WHERE rk <= 5),
         |rlist AS (
         |  -- d-ordered list + sequential fold, mirroring the Spark side's
         |  -- foldDot (an unordered sum(rv*rv) could flip a 1e-6 boundary).
         |  SELECT vec_id, list(rv ORDER BY d) AS rv FROM rx GROUP BY vec_id),
         |rn AS (
         |  SELECT vec_id, rv,
         |    sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> rv[i] * rv[i]))) AS nrm
         |  FROM rlist),
         |qs AS (
         |  SELECT q.vec_id AS q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      floor((list_sum(list_transform(range(1, ${Dim + 1}), i -> q.rv[i] * e.rv[i]))
         |        / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 DESC, e.vec_id) AS rk
         |  FROM rn q JOIN rn e ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
         |q5 AS (SELECT q_id, vec_id FROM qs WHERE rk <= 5)
         |SELECT q_id, CAST(count(*) AS DOUBLE) / 5.0 AS recall5
         |FROM exact5 JOIN q5 USING (q_id, vec_id)
         |GROUP BY q_id""".stripMargin,

    "sim_quantize_int8" ->
      s"""WITH x AS (
         |  SELECT vec_id, r.range AS d, CAST(embedding[r.range + 1] AS DOUBLE) AS v
         |  FROM embeddings, range($Dim) r),
         |dims AS (
         |  SELECT d, min(v) AS lo, max(v) AS hi, (max(v) - min(v)) / 255.0 AS scale
         |  FROM x GROUP BY d),
         |q AS (
         |  SELECT vec_id, v, lo, scale,
         |    CASE WHEN scale = 0 THEN 0
         |         ELSE CAST(least(255.0, greatest(0.0, floor((v - lo) / scale + 0.5))) AS INTEGER)
         |    END AS code
         |  FROM x JOIN dims USING (d)),
         |r AS (SELECT vec_id, v, lo + CAST(code AS DOUBLE) * scale AS recon FROM q)
         |SELECT vec_id,
         |  floor(max(abs(recon - v)) * 1000000 + 0.5) / 1000000 AS linf,
         |  floor(avg((recon - v) * (recon - v)) * 100000000 + 0.5) / 100000000 AS mse,
         |  floor(sum(v * recon) / (sqrt(sum(v * v)) * sqrt(sum(recon * recon))) * 1000000 + 0.5) / 1000000 AS cos_rec
         |FROM r GROUP BY vec_id""".stripMargin,

    "sim_label_outliers" ->
      s"""WITH x AS MATERIALIZED (
         |  SELECT vec_id, label, r.range AS dim,
         |    CAST(embedding[r.range + 1] AS DOUBLE) AS v
         |  FROM embeddings, range($Dim) r),
         |cent AS MATERIALIZED (
         |  SELECT label, dim, floor(avg(v) * 1000000 + 0.5) / 1000000 AS c
         |  FROM x GROUP BY label, dim),
         |dist AS MATERIALIZED (
         |  SELECT vec_id, x.label AS label,
         |    floor(sum((v - c) * (v - c)) * 1000000 + 0.5) / 1000000 AS dist2
         |  FROM x JOIN cent ON x.label = cent.label AND x.dim = cent.dim
         |  GROUP BY vec_id, x.label),
         |mo AS (
         |  SELECT label, floor(sum(dist2) * 1000 + 0.5) / 1000 AS s1,
         |    floor(sum(dist2 * dist2) * 1000 + 0.5) / 1000 AS s2,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM dist GROUP BY label)
         |SELECT vec_id, label, dist2,
         |  floor((dist2 - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))
         |    * 10000 + 0.5) / 10000 AS z,
         |  floor((dist2 - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))
         |    * 10000 + 0.5) / 10000 > 2.0 AS outlier
         |FROM dist JOIN mo USING (label)""".stripMargin,

    "sim_label_centroids" ->
      """SELECT label, CAST(i AS INTEGER) AS dim,
        |  floor(avg(CAST(embedding[i+1] AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS centroid_v,
        |  count(*) AS n_vecs
        |FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i) d
        |GROUP BY 1, 2""".stripMargin,

    "sim_topk_bruteforce" ->
      s"""WITH n AS (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS q_id, e.vec_id,
         |    floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 AS score
         |  FROM n q JOIN n e ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, vec_id, score, rk FROM ranked WHERE rk <= 5""".stripMargin,

    "sim_mrl_recall" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm,
         |    ${sqlNormN("embedding", MrlDim)} AS tnrm
         |  FROM embeddings),
         |ex AS (
         |  SELECT q.vec_id AS q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 DESC,
         |      e.vec_id) AS rk
         |  FROM n q JOIN n e ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
         |tr AS (
         |  SELECT q.vec_id AS q_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      floor((${sqlDotN("q.embedding", "e.embedding", MrlDim)} / (q.tnrm * e.tnrm)) * 1000000 + 0.5) / 1000000 DESC,
         |      e.vec_id) AS rk
         |  FROM n q JOIN n e ON q.vec_id < 5 AND e.vec_id <> q.vec_id)
         |SELECT q_id, CAST(count(*) AS DOUBLE) / 5.0 AS recall5
         |FROM (SELECT q_id, vec_id FROM ex WHERE rk <= 5) x
         |JOIN (SELECT q_id, vec_id FROM tr WHERE rk <= 5) t USING (q_id, vec_id)
         |GROUP BY q_id""".stripMargin,

    "sim_binary_hamming" ->
      s"""WITH h AS (
         |  SELECT q.vec_id AS q_id, e.vec_id,
         |    CAST(list_sum(list_transform(range($Dim), j ->
         |      CASE WHEN (q.embedding[j+1] > 0) <> (e.embedding[j+1] > 0)
         |           THEN 1 ELSE 0 END)) AS BIGINT) AS ham
         |  FROM embeddings q JOIN embeddings e
         |    ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, ham,
         |    row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS rk
         |  FROM h)
         |SELECT q_id, vec_id, ham, rk FROM ranked WHERE rk <= 10""".stripMargin,

    "sim_hard_negatives" ->
      s"""WITH n AS (
         |  SELECT vec_id, label, embedding, ${sqlNorm("embedding")} AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS q_id, e.vec_id, e.label,
         |    floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm))
         |      * 1000000 + 0.5) / 1000000 AS score
         |  FROM n q JOIN n e
         |    ON q.vec_id % 100 = 0 AND q.vec_id < ${HardNegAnchors * 100}
         |   AND e.label <> q.label),
         |ranked AS (
         |  SELECT q_id, vec_id, label, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id)
         |      AS rk
         |  FROM scored)
         |SELECT q_id, vec_id, label, score, rk FROM ranked WHERE rk <= 5""".stripMargin,

    "sim_ivf_assign" ->
      s"""WITH $sqlCb
         |SELECT vec_id, centroid_id, dist FROM asgn""".stripMargin,

    "decontam_embed" ->
      s"""WITH n AS (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings)
         |SELECT t.vec_id AS vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
         |  floor(max(${sqlDot("t.embedding", "ev.embedding")} / (t.nrm * ev.nrm)) * 10000 + 0.5) / 10000 AS max_cos
         |FROM n t JOIN n ev ON t.vec_id % 97 <> 0 AND ev.vec_id % 97 = 0
         |WHERE ${sqlDot("t.embedding", "ev.embedding")} / (t.nrm * ev.nrm) >= 0.35
         |GROUP BY t.vec_id""".stripMargin,

    "dedup_embed_cosine" ->
      s"""WITH n AS (SELECT vec_id, label, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings)
         |SELECT a.label, a.vec_id AS a, b.vec_id AS b,
         |  floor((${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS cos
         |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4""".stripMargin,

    "dedup_embed_lsh" -> {
      val bucketBits = (0 until Planes).map { h =>
        s"""CASE WHEN list_sum(list_transform(range($Dim),
           |  d -> CAST(embedding[d+1] AS DOUBLE) * CAST((($h * $Dim + d) * 73 % 199 - 99) AS DOUBLE) / 99.0)) >= 0
           |  THEN '1' ELSE '0' END""".stripMargin
      }.mkString(" || ")
      s"""WITH n AS (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm,
         |  $bucketBits AS bkt FROM embeddings)
         |SELECT a.vec_id AS a, b.vec_id AS b,
         |  floor((${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS cos
         |FROM n a JOIN n b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
         |WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.3""".stripMargin
    },

    "dedup_semantic" ->
      s"""WITH $sqlCbSem,
         |n AS MATERIALIZED (
         |  SELECT a.vec_id, a.centroid_id, a.dist, e.embedding,
         |    ${sqlNorm("e.embedding")} AS nrm
         |  FROM asgn a JOIN e0 e USING (vec_id)),
         |dups AS (
         |  SELECT v.vec_id, CAST(count(*) AS BIGINT) AS n_dups,
         |    max(CASE WHEN u.dist > v.dist
         |             OR (u.dist = v.dist AND u.vec_id < v.vec_id)
         |        THEN 1 ELSE 0 END) AS pu
         |  FROM n v JOIN n u
         |    ON u.centroid_id = v.centroid_id AND u.vec_id <> v.vec_id
         |  WHERE floor((${sqlDot("u.embedding", "v.embedding")} / (u.nrm * v.nrm)) * 1000000 + 0.5) / 1000000 >= 0.35
         |  GROUP BY v.vec_id)
         |SELECT a.vec_id, a.centroid_id, a.dist,
         |  coalesce(d.n_dups, 0) AS n_dups,
         |  coalesce(d.pu, 0) = 1 AS purged
         |FROM asgn a LEFT JOIN dups d USING (vec_id)""".stripMargin,

    "sim_ivf_search" -> sqlIvfSearch(sqlCb),

    "sim_ivf_probe2" ->
      s"""WITH $sqlCb,
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS q_id, cid AS centroid_id FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS prk
         |    FROM celldist WHERE vec_id < 5) WHERE prk <= 2),
         |n AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, a.centroid_id, ${sqlNorm("e.embedding")} AS nrm
         |  FROM e0 e JOIN asgn a USING (vec_id)),
         |nq AS MATERIALIZED (
         |  SELECT p.q_id, e.embedding AS q_emb, ${sqlNorm("e.embedding")} AS nrm, p.centroid_id
         |  FROM probes p JOIN e0 e ON e.vec_id = p.q_id),
         |scored AS (
         |  SELECT q.q_id, e.vec_id,
         |    floor((${sqlDot("q.q_emb", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 AS score
         |  FROM nq q JOIN n e ON q.centroid_id = e.centroid_id
         |  WHERE e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT q_id, vec_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, vec_id, score, rk FROM ranked WHERE rk <= 3""".stripMargin,

    "sim_hard_negatives_ivf" ->
      s"""WITH $sqlCb,
         |probes AS MATERIALIZED (
         |  SELECT q_id, centroid_id FROM (
         |    SELECT vec_id AS q_id, cid AS centroid_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS prk
         |    FROM celldist
         |    WHERE vec_id % 100 = 0 AND vec_id < ${HardNegAnchors * 100})
         |  WHERE prk <= 2),
         |n AS MATERIALIZED (
         |  SELECT e.vec_id, l.label, e.embedding, a.centroid_id,
         |    ${sqlNorm("e.embedding")} AS nrm
         |  FROM e0 e JOIN asgn a USING (vec_id)
         |  JOIN embeddings l ON l.vec_id = e.vec_id),
         |nq AS MATERIALIZED (
         |  SELECT p.q_id, l.label AS q_label, e.embedding AS q_emb,
         |    ${sqlNorm("e.embedding")} AS nrm, p.centroid_id
         |  FROM probes p JOIN e0 e ON e.vec_id = p.q_id
         |  JOIN embeddings l ON l.vec_id = p.q_id),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, e.label,
         |    floor((${sqlDot("q.q_emb", "e.embedding")} / (q.nrm * e.nrm))
         |      * 1000000 + 0.5) / 1000000 AS score
         |  FROM nq q JOIN n e ON q.centroid_id = e.centroid_id
         |  WHERE e.label <> q.q_label),
         |ranked AS (
         |  SELECT q_id, vec_id, label, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id)
         |      AS rk
         |  FROM scored)
         |SELECT q_id, vec_id, label, score, rk FROM ranked WHERE rk <= 5""".stripMargin,

    "sim_ivf_recall" ->
      s"""WITH $sqlCb,
         |nall AS MATERIALIZED (
         |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM e0),
         |brute AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.vec_id AS q_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 DESC,
         |        e.vec_id) AS rk
         |    FROM nall q JOIN nall e ON q.vec_id < 5 AND e.vec_id <> q.vec_id)
         |  WHERE rk <= 3),
         |n AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, a.centroid_id, ${sqlNorm("e.embedding")} AS nrm
         |  FROM e0 e JOIN asgn a USING (vec_id)),
         |ivf AS (
         |  SELECT q_id, vec_id, 1 AS hit FROM (
         |    SELECT q.vec_id AS q_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 DESC,
         |        e.vec_id) AS rk
         |    FROM n q JOIN n e ON q.centroid_id = e.centroid_id
         |    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id)
         |  WHERE rk <= 3)
         |SELECT b.q_id, CAST(sum(coalesce(ivf.hit, 0)) AS BIGINT) AS n_hits,
         |  floor((sum(coalesce(ivf.hit, 0)) / 3.0) * 10000 + 0.5) / 10000 AS recall3
         |FROM brute b LEFT JOIN ivf ON b.q_id = ivf.q_id AND b.vec_id = ivf.vec_id
         |GROUP BY b.q_id""".stripMargin,

    "sim_ivf_pq_search" -> sqlPqSearch,

    "sim_ivf_recall_curve" -> {
      val perNp = RecallCurveProbes.map { np =>
        s"""SELECT CAST($np AS BIGINT) AS nprobe, b.q_id,
           |  CAST(sum(coalesce(h.hit, 0)) AS BIGINT) AS n_hits,
           |  floor((sum(coalesce(h.hit, 0)) / 3.0) * 10000 + 0.5) / 10000 AS recall3
           |FROM brute b LEFT JOIN (
           |  SELECT q_id, vec_id, 1 AS hit FROM (
           |    SELECT q.q_id, e.vec_id,
           |      row_number() OVER (PARTITION BY q.q_id ORDER BY
           |        floor((${sqlDot("q.q_emb", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 DESC,
           |        e.vec_id) AS rk
           |    FROM (SELECT p.q_id, e0.embedding AS q_emb, ${sqlNorm("e0.embedding")} AS nrm, p.centroid_id
           |          FROM probes p JOIN e0 ON e0.vec_id = p.q_id
           |          WHERE p.prk <= $np) q
           |    JOIN n e ON q.centroid_id = e.centroid_id
           |    WHERE e.vec_id <> q.q_id)
           |  WHERE rk <= 3) h
           |ON b.q_id = h.q_id AND b.vec_id = h.vec_id
           |GROUP BY b.q_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $sqlCb,
         |nall AS MATERIALIZED (
         |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM e0),
         |brute AS MATERIALIZED (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.vec_id AS q_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 DESC,
         |        e.vec_id) AS rk
         |    FROM nall q JOIN nall e ON q.vec_id < 5 AND e.vec_id <> q.vec_id)
         |  WHERE rk <= 3),
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS q_id, cid AS centroid_id, prk FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS prk
         |    FROM celldist WHERE vec_id < 5)
         |  WHERE prk <= ${RecallCurveProbes.max}),
         |n AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, a.centroid_id, ${sqlNorm("e.embedding")} AS nrm
         |  FROM e0 e JOIN asgn a USING (vec_id))
         |$perNp""".stripMargin
    },

    "sim_ivf_pq_recall" ->
      s"""WITH nall AS MATERIALIZED (
         |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
         |brute AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.vec_id AS q_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 DESC,
         |        e.vec_id) AS rk
         |    FROM nall q JOIN nall e ON q.vec_id < 5 AND e.vec_id <> q.vec_id)
         |  WHERE rk <= 3),
         |pq AS (SELECT q_id, vec_id, 1 AS hit FROM ($sqlPqSearch))
         |SELECT b.q_id, CAST(sum(coalesce(pq.hit, 0)) AS BIGINT) AS n_hits,
         |  floor((sum(coalesce(pq.hit, 0)) / 3.0) * 10000 + 0.5) / 10000 AS recall3
         |FROM brute b LEFT JOIN pq ON b.q_id = pq.q_id AND b.vec_id = pq.vec_id
         |GROUP BY b.q_id""".stripMargin
  )

  /** IVF+PQ oracle: codebook prelude + int8 reconstruction lists + ADC
    * shortlist + exact re-rank — the same staged computation as
    * pqSearch, every score quantized on the shared 1e-6 grid. */
  private lazy val sqlPqSearch: String =
    s"""WITH $sqlCb,
       |x AS MATERIALIZED (
       |  SELECT vec_id, r.range AS d, CAST(embedding[r.range + 1] AS DOUBLE) AS qv
       |  FROM embeddings, range($Dim) r),
       |dims AS MATERIALIZED (
       |  SELECT d, min(qv) AS lo, max(qv) AS hi, (max(qv) - min(qv)) / 255.0 AS scale
       |  FROM x GROUP BY d),
       |rx AS MATERIALIZED (
       |  SELECT vec_id, d,
       |    lo + CAST(CASE WHEN scale = 0 THEN 0
       |      ELSE CAST(least(255.0, greatest(0.0, floor((qv - lo) / scale + 0.5))) AS INTEGER)
       |      END AS DOUBLE) * scale AS rv
       |  FROM x JOIN dims USING (d)),
       |rl0 AS MATERIALIZED (
       |  SELECT vec_id, list(rv ORDER BY d) AS rv FROM rx GROUP BY vec_id),
       |rlist AS MATERIALIZED (
       |  -- rnrm from the d-ORDERED list (sequential fold), mirroring the
       |  -- Spark side's sqrt(vec_dot_d(rv, rv)) — an unordered sum(rv*rv)
       |  -- could differ by ~1e-16 and flip a 1e-6-quantized ADC score at
       |  -- a grid boundary (VecDotD's bit-for-bit contract).
       |  SELECT vec_id, rv,
       |    sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> rv[i] * rv[i]))) AS rnrm
       |  FROM rl0),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS q_id, cid AS centroid_id FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS prk
       |    FROM celldist WHERE vec_id < 5) WHERE prk <= 2),
       |qn AS MATERIALIZED (
       |  SELECT vec_id AS q_id, v,
       |    sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> v[i] * v[i]))) AS q_nrm
       |  FROM e0 WHERE vec_id < 5),
       |adc AS (
       |  SELECT p.q_id, a.vec_id,
       |    floor((list_sum(list_transform(range(1, ${Dim + 1}), i -> q.v[i] * r.rv[i]))
       |           / (q.q_nrm * r.rnrm)) * 1000000 + 0.5) / 1000000 AS adc
       |  FROM probes p
       |  JOIN qn q ON q.q_id = p.q_id
       |  JOIN asgn a ON a.centroid_id = p.centroid_id
       |  JOIN rlist r ON r.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.q_id),
       |short AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS ark
       |    FROM adc) WHERE ark <= 10),
       |nf AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
       |rer AS (
       |  SELECT s.q_id, s.vec_id,
       |    floor((${sqlDot("q.embedding", "e.embedding")} / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 AS score
       |  FROM short s
       |  JOIN nf q ON q.vec_id = s.q_id
       |  JOIN nf e ON e.vec_id = s.vec_id)
       |SELECT q_id, vec_id, score, rk FROM (
       |  SELECT q_id, vec_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk
       |  FROM rer) WHERE rk <= 3""".stripMargin
}

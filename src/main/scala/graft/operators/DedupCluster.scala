package graft.operators

import graft.Tables
import graft.functions.Num
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster resolution — the step a 100 TB dedup pipeline runs
  * AFTER candidate pairing (MinHash/SimHash emit PAIRS; purging needs
  * CLUSTERS): connected components over the near-dup pair graph, then one
  * canonical survivor per component.
  *
  * The component algorithm is iterative min-label propagation: every node
  * starts labeled with itself; each round every node takes the min label
  * in its neighborhood; converged when no label changes. Rounds = graph
  * diameter, and each round is one key-partitioned shuffle (join on the
  * edge endpoint) + one aggregate — the alternating large-star/small-star
  * optimization (Kiveris et al., "Connected Components in MapReduce",
  * SoCC'14) halves round count on long chains, but near-dup graphs are
  * overwhelmingly tiny cliques (diameter ≤ 2-3), where plain propagation
  * already converges in 2 rounds and per-round cost dominates.
  *
  * Scale notes: labels are persisted per round and the previous round's
  * cache is freed eagerly (the lineage would otherwise grow one join per
  * round and re-execute from parquet on every action); convergence is
  * detected by the monotone label-sum aggregate (labels only ever
  * decrease), one map-side-combined pass over the round's shuffle
  * output. Duplicate candidate edges are fine — consumers feed the
  * UN-deduplicated LSH pairs and skip that distinct exchange
  * entirely. At 100 TB the edge set (LSH collisions) is orders of
  * magnitude smaller than the corpus, so every round shuffles only the
  * duplicate subgraph, never the full corpus; the final purge is one
  * broadcast-able anti join against the corpus.
  */
object DedupCluster {

  /** Connected components of an undirected edge list (columns `a`, `b`).
    * Returns (node, cluster_id) with cluster_id = min node id reachable.
    * Only nodes that appear in at least one edge are returned. */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 25): DataFrame =
    connectedComponentsWithCache(edges, maxRounds)._1

  /** As [[connectedComponents]], but also hands back the final-round
    * PERSISTED label frame: the public result is a rename-projection
    * over it, and `unpersist` on a derived frame is a no-op (the cache
    * manager matches plans by sameResult), so a caller that does not
    * want the session-long cache — e.g. a one-shot incremental merge —
    * must release the underlying frame itself once its downstream has
    * materialized. */
  private[operators] def connectedComponentsWithCache(
      edges: DataFrame, maxRounds: Int = 25): (DataFrame, DataFrame) = {
    // Symmetrize once: propagation below only follows src→dst.
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Seed with min(self, neighbors): fuses the first propagation round
    // into label init, so the dominant case — tiny cliques — starts at
    // the fixpoint and needs exactly one confirmation round.
    var labels = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("comp"))
      .select(col("src").as("node"), col("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Convergence check: labels are per-node minima, so they only ever
    // decrease — the label sum is strictly monotone and "sum unchanged"
    // ⟺ "no label changed". One map-side-combined aggregate per round
    // instead of a join; decimal(38) so 1e9 nodes × 1e9 ids can't wrap.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels) // also materializes labels + sym cache
    var round = 0
    // no edge → no label: the sum over zero rows is SQL NULL, and an
    // empty label set is already a fixpoint
    var converged = prevSum == null
    while (!converged && round < maxRounds) {
      // Min label over self ∪ neighbors, one shuffle on the node key.
      val viaEdges = sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("comp"))
      val next = labels.union(viaEdges)
        .groupBy("node").agg(min(col("comp")).as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val s = labelSum(next) // materializes next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist(blocking = false)
      labels = next
      round += 1
    }
    // `labels` was materialized by the convergence aggregate; the edge
    // cache is no longer needed.
    sym.unpersist(blocking = false)
    (labels.select(col("node"), col("comp").as("cluster_id")), labels)
  }

  /** doc → duplicate-cluster labels as a DISK ARTIFACT (build-once /
    * read-many): the cluster map is a pure function of the documents
    * table that a production pipeline persists and refreshes when the
    * corpus changes — exactly what inc_cc_merge's base labels already
    * model. Six inventory queries (clusters, purge, dedup-aware
    * weights, leakage split, keep-longest, quality-mix) consume the
    * same labels; the parquet read is analyzed-plan-cache friendly
    * (the r5 in-session memo existed because the iterative
    * var-rebinding inside connectedComponents defeats plan matching —
    * a stable scan does not), NOTHING stays pinned in the block
    * manager between queries, and cold SESSIONS — not just cold
    * queries — skip the propagation entirely. The CC-internal persist
    * is released as soon as the parquet is published. */
  def lshClusters(s: SparkSession, dir: String): DataFrame = {
    var built: Option[DataFrame] = None
    // finally: if the parquet write or publish rename throws AFTER the
    // propagation ran, the labels cache must still be released.
    try ArtifactCache.parquet(s, dir, "cc-labels", Seq("documents")) {
      val (o, cache) = connectedComponentsWithCache(Dedup.lshCandidatesRaw(s, dir))
      built = Some(cache); o
    } finally built.foreach(_.unpersist(blocking = false))
  }

  val queries: Map[String, Relational.Q] = Map(

    // ── doc → duplicate-cluster id over the MinHash-LSH pair graph, with
    // the canonical-survivor flag (min doc_id keeps). ──────────────────
    "dedup_cc_clusters" -> ((s, dir) => {
      val cc = lshClusters(s, dir)
      cc.select(col("node").as("doc_id"), col("cluster_id"),
        (col("node") === col("cluster_id")).as("keep"))
    }),

    // ── Dedup × quality interaction report — does near-dup removal
    // SHIFT the quality distribution? Per duplicate cluster: does it
    // straddle token-length quality buckets, and would the min-id
    // canonical policy keep a different bucket than keep-longest?
    // (Straddling clusters are where dedup is also a quality decision
    // — the curation review runs this before choosing a keep policy.)
    // Buckets are integer-exact (token counts), so the report is
    // engine-stable. Cost: the cluster map is duplicate-subgraph-sized
    // (broadcastable); both windows partition by cluster_id over
    // cluster MEMBERS only — docs without an LSH collision never enter
    // any window; the final rollup is 4-row-sized. ───────────────────
    "dedup_quality_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cc = lshClusters(s, dir)
        .select(col("node").as("doc_id"), col("cluster_id"))
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        size(graft.functions.Text.tokens(col("text"))).cast("long").as("n_tokens"))
      val m = cc.join(docs, "doc_id")
        .withColumn("bucket", when(col("n_tokens") < 40, "short")
          .when(col("n_tokens") <= 80, "mid").otherwise("long"))
      val wLong = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      // The min-id canonical needs no window: a cluster's label IS its
      // minimum member id (connectedComponents' min-label invariant),
      // so the canonical row is simply doc_id === cluster_id.
      val per = m
        .withColumn("rk", row_number().over(wLong))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("bucket")).as("nb"),
          max(when(col("rk") === 1, col("bucket"))).as("longest_b"),
          max(when(col("doc_id") === col("cluster_id"), col("bucket"))).as("canon_b"))
      per.groupBy((col("nb") > 1).as("straddles"),
          (col("canon_b") =!= col("longest_b")).as("policy_disagrees"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("n_docs")).as("n_docs"))
    }),

    // ── Dedup-aware sampling weights — "count each unique content
    // once": every doc in a duplicate cluster carries weight
    // 1/cluster_size (singletons weigh 1), so an expectation over the
    // weighted corpus equals an expectation over unique contents — the
    // standard correction when training without hard-deleting dups.
    // Σ weight == number of unique contents by construction. Only the
    // duplicate subgraph joins in (tiny, broadcastable); the rest of
    // the corpus passes through the left join untouched. ─────────────
    "samp_dedup_aware" -> ((s, dir) => {
      val cc = lshClusters(s, dir)
      val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cl_sz"))
      val m = cc.join(sizes, "cluster_id")
        .select(col("node").as("doc_id"), col("cluster_id"), col("cl_sz"))
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(m, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id"),
          coalesce(col("cl_sz"), lit(1L)).as("cluster_size"),
          Num.roundp(lit(1.0) / coalesce(col("cl_sz"), lit(1L)), 6).as("weight"))
    }),

    // ── Leakage-controlled train/val/test split: the split key is the
    // duplicate CLUSTER (singletons group as themselves), so near-dups
    // can never straddle folds — the failure mode that inflates eval
    // scores when doc-level hashing splits a duplicate pair across
    // train and test. Same md5-threshold split family as
    // samp_hash_split; one extra broadcast-able left join against the
    // cluster map (tiny: only docs with an LSH collision appear). ────
    "samp_leakage_split" -> ((s, dir) => {
      val cc = lshClusters(s, dir)
        .select(col("node").as("doc_id"), col("cluster_id"))
      val grp = coalesce(col("cluster_id"), col("doc_id"))
      val h = substring(md5(concat(lit("gsplit|"), grp.cast("string"))), 1, 1)
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(grp.as("grp"),
          when(h <= "b", "train").when(h <= "d", "val").otherwise("test").as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("grp")).as("n_groups"))
    }),

    // ── corpus after the purge: drop every non-canonical cluster member,
    // summarized per lang (docs outside any cluster all survive). ──────
    "dedup_cc_purge" -> ((s, dir) => {
      val drop = lshClusters(s, dir)
        .where(col("node") =!= col("cluster_id"))
        .select(col("node").as("doc_id"))
      Tables(s, dir, "documents")
        .join(drop, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ── INCREMENTAL connected components — the cluster map maintained
    // under a delta batch without re-propagating the historical graph:
    // base components (both-endpoints-old edges) are CONTRACTED to
    // their labels, the delta edges are rewritten onto contracted ids,
    // and CC runs only on that delta-sized graph; base nodes relabel
    // through one label join, delta-only nodes take their contracted
    // label directly. Exactness: a base label is its component's min
    // member, so the contracted min equals the merged component's
    // global min — the oracle is the FULL recompute over all edges
    // (identical output to dedup_cc_clusters), which is the identity
    // under test. At 100 TB the delta is batch-sized: the historical
    // edge set never shuffles again, only the (tiny) label map joins. ─
    "inc_cc_merge" -> ((s, dir) => {
      // The LSH band join is the expensive producer and BOTH slices
      // filter it — persist once so base/delta/contracted all read the
      // same materialization instead of re-running the band join (in
      // production the base edges are yesterday's PERSISTED pair table
      // and only the delta is fresh; the persist models that).
      val pairs = Dedup.lshCandidatesRaw(s, dir)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val isOld = (c: org.apache.spark.sql.Column) => c % 7 =!= 0
      val base = pairs.where(isOld(col("a")) && isOld(col("b")))
      val delta = pairs.where(!(isOld(col("a")) && isOld(col("b"))))
      // The base labels are a DISK ARTIFACT (yesterday's persisted
      // cluster map, the production incremental shape): the first
      // session builds them once, every later session — and every
      // downstream reference in THIS query — reads parquet. This also
      // sidesteps the fixpoint-lineage replay hazard: the iterative
      // var-rebinding inside connectedComponents defeats Spark's
      // plan-cache matching (see lshClusters), and without a stable
      // backing store every action replayed the whole propagation —
      // measured 39 s for a 341-edge contracted graph.
      // Capture the CC-internal label frame if the artifact build runs,
      // so its final-round persist can be released once the parquet is
      // published (the artifact read replaces it).
      var baseBuilt: Option[DataFrame] = None
      var mergedCacheOpt: Option[DataFrame] = None
      // finally: by the time the try body completes, everything
      // downstream of the pair table has materialized (localCheckpoint
      // is eager) and on a FAILED run the caches must not outlive the
      // query either — bench runs each query several times; leaked
      // copies accumulate in the block manager and pressure the other
      // artifact caches at the 100x corpus.
      try {
        val baseCC = try ArtifactCache.parquet(s, dir, "cc-base-labels",
          Seq("documents")) {
          val (out, cache) = connectedComponentsWithCache(base)
          baseBuilt = Some(cache); out
        } finally baseBuilt.foreach(_.unpersist(blocking = false))
        val contracted = delta
          .join(baseCC.select(col("node").as("a"), col("cluster_id").as("la")),
            Seq("a"), "left")
          .join(baseCC.select(col("node").as("b"), col("cluster_id").as("lb")),
            Seq("b"), "left")
          .select(coalesce(col("la"), col("a")).as("a"),
            coalesce(col("lb"), col("b")).as("b"))
        val (mergedOut, mergedCache) = connectedComponentsWithCache(contracted)
        mergedCacheOpt = Some(mergedCache)
        val merged = mergedOut.localCheckpoint()
          .select(col("node").as("cid"), col("cluster_id").as("mid"))
        val fromBase = baseCC.join(merged,
            baseCC("cluster_id") === merged("cid"), "left")
          .select(col("node"),
            coalesce(col("mid"), col("cluster_id")).as("cluster_id"))
        // Contracted ids not present among base NODES are exactly the
        // delta-only nodes (every base label is itself a base node).
        val deltaOnly = merged
          .join(baseCC.select(col("node").as("cid")), Seq("cid"), "left_anti")
          .select(col("cid").as("node"), col("mid").as("cluster_id"))
        fromBase.unionByName(deltaOnly)
          .select(col("node").as("doc_id"), col("cluster_id"),
            (col("node") === col("cluster_id")).as("keep"))
      } finally {
        mergedCacheOpt.foreach(_.unpersist(blocking = false))
        pairs.unpersist(blocking = false)
      }
    }),

    // ── Quality-aware survivor selection: per duplicate cluster keep the
    // LONGEST member (most-complete-version policy — the practical
    // alternative to min-id when near-dups are truncations of one
    // another). Token count is integer-exact, so the survivor choice is
    // engine-stable with no float quantization; ties break to smaller
    // doc_id. Cost: one broadcast-able join of the (tiny) cluster map
    // against the corpus + one window over cluster members only — docs
    // without an LSH collision never enter the window. ────────────────
    "dedup_keep_longest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cc = lshClusters(s, dir)
        .select(col("node").as("doc_id"), col("cluster_id"))
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        size(graft.functions.Text.tokens(col("text"))).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      cc.join(docs, "doc_id")
        .withColumn("rk", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rk") === 1, col("doc_id"))).as("kept_doc_id"),
          max(when(col("rk") === 1, col("n_tokens"))).as("kept_n_tokens"))
    })
  )

  // The oracle walks the pair graph with a recursive CTE (UNION dedups,
  // so the fixpoint is the reachability closure) and takes the min
  // reachable id per node — same semantics as the Spark propagation.
  private[operators] val sqlCc =
    s"""${Dedup.sqlCandidates.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |edges AS (
       |  SELECT a AS src, b AS dst FROM cand
       |  UNION ALL SELECT b AS src, a AS dst FROM cand),
       |walk(node, comp) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node),
       |cc AS (SELECT node, min(comp) AS cluster_id FROM walk GROUP BY node)""".stripMargin

  val oracles: Map[String, String] = Map(
    "samp_dedup_aware" ->
      s"""$sqlCc,
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cl_sz
         |       FROM cc GROUP BY cluster_id)
         |SELECT d.doc_id AS doc_id, cc.cluster_id AS cluster_id,
         |  coalesce(sz.cl_sz, 1) AS cluster_size,
         |  floor(1.0 / coalesce(sz.cl_sz, 1) * 1000000 + 0.5) / 1000000 AS weight
         |FROM documents d
         |LEFT JOIN cc ON cc.node = d.doc_id
         |LEFT JOIN sz ON sz.cluster_id = cc.cluster_id""".stripMargin,

    "samp_leakage_split" ->
      s"""$sqlCc,
         |grouped AS (
         |  SELECT coalesce(cc.cluster_id, d.doc_id) AS grp
         |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
         |tagged AS (
         |  SELECT grp,
         |    CASE WHEN substr(md5('gsplit|' || CAST(grp AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
         |         WHEN substr(md5('gsplit|' || CAST(grp AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM grouped)
         |SELECT split, count(*) AS n_docs, count(DISTINCT grp) AS n_groups
         |FROM tagged GROUP BY split""".stripMargin,

    "dedup_cc_clusters" ->
      s"""$sqlCc
         |SELECT node AS doc_id, cluster_id, node = cluster_id AS keep
         |FROM cc""".stripMargin,

    "dedup_quality_mix" ->
      s"""$sqlCc,
         |mem AS (
         |  SELECT c.cluster_id, c.node AS doc_id,
         |    CAST(len(list_filter(string_split(d.text, ' '), t -> t <> '')) AS BIGINT)
         |      AS n_tokens
         |  FROM cc c JOIN documents d ON d.doc_id = c.node),
         |bk AS (
         |  SELECT cluster_id, doc_id, n_tokens,
         |    CASE WHEN n_tokens < 40 THEN 'short'
         |         WHEN n_tokens <= 80 THEN 'mid' ELSE 'long' END AS bucket,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_tokens DESC, doc_id) AS rk
         |  FROM mem),
         |per AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
         |    count(DISTINCT bucket) AS nb,
         |    max(CASE WHEN rk = 1 THEN bucket END) AS longest_b,
         |    max(CASE WHEN doc_id = cluster_id THEN bucket END) AS canon_b
         |  FROM bk GROUP BY cluster_id)
         |SELECT nb > 1 AS straddles, canon_b <> longest_b AS policy_disagrees,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs
         |FROM per GROUP BY 1, 2""".stripMargin,

    // The identity under test: incremental merge == full recompute.
    "inc_cc_merge" ->
      s"""$sqlCc
         |SELECT node AS doc_id, cluster_id, node = cluster_id AS keep
         |FROM cc""".stripMargin,

    "dedup_cc_purge" ->
      s"""$sqlCc
         |SELECT lang, count(*) AS n_docs FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
         |GROUP BY lang""".stripMargin,

    "dedup_keep_longest" ->
      s"""$sqlCc,
         |mem AS (
         |  SELECT c.cluster_id, c.node AS doc_id,
         |    CAST(len(list_filter(string_split(d.text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens
         |  FROM cc c JOIN documents d ON d.doc_id = c.node),
         |rk AS (
         |  SELECT cluster_id, doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_tokens DESC, doc_id) AS rk
         |  FROM mem)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  max(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc_id,
         |  max(CASE WHEN rk = 1 THEN n_tokens END) AS kept_n_tokens
         |FROM rk GROUP BY cluster_id""".stripMargin
  )
}

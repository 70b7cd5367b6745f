package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan hygiene: these assertions pin the plan shapes that
  * matter at 100 TB — filters reaching the parquet scan, projection
  * pruning in ReadSchema, dimension joins broadcast, top-k executed as
  * TakeOrderedAndProject (not sort-the-world), and the custom vector
  * expressions actually present (i.e. not silently replaced by the
  * interpreted HOF path). A regression here can keep results correct
  * while destroying scalability, which row-equality tests never catch.
  */
class PlanSpec extends SparkSuite {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("date-range filter is pushed down to the parquet scan (F5)") {
    val plan = formatted(SparkEntry.queries("f5_date_range_agg")(spark, sf001))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
  }

  test("projection pruning reaches ReadSchema (F1)") {
    val plan = formatted(SparkEntry.queries("f1_project_filter")(spark, sf001))
    // only the 4 selected columns are read
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double,l_extendedprice:double>"), plan)
  }

  test("dimension joins are broadcast (J2a)") {
    val plan = physical(SparkEntry.queries("j2_dim_broadcast")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("top-k is TakeOrderedAndProject, not a global sort (O2)") {
    val plan = physical(SparkEntry.queries("o2_topk_parts")(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("grouped aggregation is partial+final hash aggregate (A1)") {
    val plan = physical(SparkEntry.queries("a1_pricing_summary")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial_"), plan)
  }

  test("similarity queries use the native vector expressions") {
    val plan = physical(SparkEntry.queries("sim_topk_bruteforce")(spark, sf001))
    assert(plan.contains("vec_dot"), plan)
    val plan2 = physical(SparkEntry.queries("sim_ivf_assign")(spark, sf001))
    assert(plan2.contains("centroid_structs"), plan2)
  }

  test("IVF assignment is a pure map pass — no exchange, no join (fixed-K codebook)") {
    // The r4 design had a corpus-sized centroid cross join; the fixed-K
    // codebook turns assignment into a map-side K-way argmin over
    // driver-literal centroids. Any Exchange or Join here means the
    // codebook grew back into the plan.
    val plan = physical(SparkEntry.queries("sim_ivf_assign")(spark, sf001))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("bm25 ranks with TakeOrderedAndProject and broadcasts the term stats") {
    val df = SparkEntry.queries("idx_bm25_topk")(spark, sf001)
    val plan = physical(df)
    // final ranking is a top-k, never sort-the-world
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the |terms|-row idf/stats side is broadcast — the postings side
    // never shuffles to meet it
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("chunk-span dedup shuffles only on the content hash — no pairwise join") {
    val plan = physical(SparkEntry.queries("dedup_chunk_spans")(spark, sf001))
    // content-addressed: ownership is a hash-keyed aggregation + join;
    // a cartesian/BNL anywhere means an accidental all-pairs compare
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the ownership aggregation partial-aggregates before its exchange
    assert(plan.contains("partial_min"), plan)
  }

  test("anti join plans as a join, not a per-row subquery (J1)") {
    val plan = physical(SparkEntry.queries("j1_anti_join")(spark, sf001))
    assert(plan.contains("LeftAnti"), plan)
  }

  test("Q10 takes top-20 engine-side with the flag filter pushed down") {
    val plan = formatted(SparkEntry.queries("sql_q10_returned")(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan)
  }

  test("Q5 pushes the region predicate into the scan") {
    val df = SparkEntry.queries("sql_q5_region_revenue")(spark, sf001)
    val plan = formatted(df)
    assert(plan.contains("EqualTo(r_name,ASIA)"), plan)
    val phys = physical(df)
    // region, nation, supplier, customer are all fixed-or-small dims:
    // every one of them must meet the fact chain as a broadcast — an
    // AQE flip to SortMergeJoin here re-shuffles the fact at scale
    // (r7 perf-weak pin).
    assert(phys.contains("BroadcastHashJoin"), phys)
    assert("BroadcastHashJoin".r.findAllIn(phys).size >= 3, phys)
  }

  test("Q3 pushes both dimension filters into the scans and broadcasts customer") {
    val df = SparkEntry.queries("sql_q3_shipping")(spark, sf001)
    val plan = formatted(df)
    // segment filter reaches the customer scan; date filter reaches the
    // orders scan — neither survives as a post-join filter
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
    assert(plan.contains("LessThan(o_orderdate"), plan)
    val phys = physical(df)
    // the filtered customer dim is broadcast (r7 perf-weak pin), and
    // the final top-10 is TakeOrderedAndProject, not sort-the-world
    assert(phys.contains("BroadcastHashJoin"), phys)
    assert(phys.contains("TakeOrderedAndProject"), phys)
  }

  test("tfidf top-3 per doc uses WindowGroupLimit, not full sort+filter") {
    val plan = physical(SparkEntry.queries("text_tfidf_topterms")(spark, sf001))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("hash sampling is a pure map-side scan — no exchange at all") {
    val plan = physical(SparkEntry.queries("samp_stratified")(spark, sf001))
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1)"), plan) // one whole-stage codegen span
  }

  test("Q4 EXISTS executes as a semi join with the date filter pushed down") {
    val plan = formatted(SparkEntry.queries("sql_q4_priority")(spark, sf001))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
  }

  test("Q7/Q8 broadcast the fixed-cardinality nation/region dims") {
    val p7 = physical(SparkEntry.queries("sql_q7_trade_volume")(spark, sf001))
    assert(p7.contains("BroadcastHashJoin"), p7)
    val p8 = physical(SparkEntry.queries("sql_q8_market_share")(spark, sf001))
    assert(p8.contains("BroadcastHashJoin"), p8)
  }

  test("epoch shuffle windows are shard-partitioned — no global sort") {
    // The per-epoch permutation must never funnel the corpus through
    // one partition: the only window is PARTITIONED by shard.
    val p = physical(SparkEntry.queries("samp_epoch_shuffle")(spark, sf001))
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("layout_skipping has no Window at all (key-range file arithmetic)") {
    // The first implementation used two global row_number windows and
    // degraded 20× at the 100× corpus; the redesign assigns files by
    // key-range arithmetic over broadcast scalars. Any Window here is
    // the regression coming back.
    val p = physical(SparkEntry.queries("layout_skipping")(spark, sf001))
    assert(!p.contains("Window"), p)
  }

  test("Q7's implied region IN-filter is pushed to BOTH region scans") {
    // The disjunctive pair predicate implies r_name IN (ASIA, EUROPE)
    // on both the customer and supplier legs; Catalyst can't factor an
    // OR across two columns, so the query writes the IN explicitly.
    // Both region parquet scans must carry the pushed In-filter — if
    // either leg joins the fact at full region width again, this pin
    // fails before the regression costs anything at scale.
    val p7 = formatted(SparkEntry.queries("sql_q7_trade_volume")(spark, sf001))
    val pushedIn = "In(r_name, [ASIA,EUROPE])"
    val hits = p7.sliding(pushedIn.length).count(_ == pushedIn)
    assert(hits >= 2, s"expected $pushedIn pushed on both region legs, found $hits:\n$p7")
  }

  test("trigram substring search probes the persisted gram postings, not a corpus explode") {
    // The pg_trgm-shaped index must be the BUILD-ONCE artifact: the
    // query's plan reads the trigram-postings parquet with the pattern
    // grams pushed into the scan, and contains no Generate (the r9
    // regression: a corpus-char-sized explode ran per query).
    val p = formatted(SparkEntry.queries("idx_trigram_substr")(spark, sf001))
    assert(p.contains("trigram-postings"), p)
    assert(!p.contains("Generate"), p)
    assert(p.contains("In(g, "), p)
  }

  test("cluster-map consumers read the cc-labels artifact, not a propagation") {
    // lshClusters is a build-once parquet artifact since round 10: the
    // consumer plan must be a scan of cc-labels (plus its own joins),
    // with no shuffle-heavy label propagation re-run per query.
    val p = formatted(SparkEntry.queries("dedup_cc_clusters")(spark, sf001))
    assert(p.contains("cc-labels"), p)
  }

  test("phrase search probes the positional-postings artifact, not a corpus explode") {
    val p = formatted(SparkEntry.queries("idx_phrase_search")(spark, sf001))
    assert(p.contains("positional-postings"), p)
    assert(!p.contains("Generate"), p)
    assert(p.contains("In(tok, "), p) // both phrase terms pushed to the scan
  }

  test("regex prefilter probes the gram postings; the regex runs on candidates only") {
    val p = formatted(SparkEntry.queries("idx_regex_prefilter")(spark, sf001))
    assert(p.contains("trigram-postings"), p)
    assert(!p.contains("Generate"), p)
    assert(p.contains("In(g, "), p) // required-span grams pushed to the scan
    // RLIKE must sit above the candidate join, not on a corpus scan:
    // the documents scan itself carries no regex filter.
    assert(p.contains("RLIKE") || p.contains("rlike"), p)
  }

  test("batched substring probe: one artifact pass, broadcast pattern map, no explode") {
    val p = formatted(SparkEntry.queries("idx_substr_batch")(spark, sf001))
    assert(p.contains("trigram-postings"), p)
    assert(!p.contains("Generate"), p)
    assert(p.contains("In(g, "), p) // union of all patterns' grams pushed
    assert(p.contains("BroadcastHashJoin"), p) // pattern map never shuffles postings
  }

  test("Q21 NOT EXISTS executes as an anti join, EXISTS as a semi join") {
    val plan = physical(SparkEntry.queries("sql_q21_waiting_supplier")(spark, sf001))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  test("Q19's disjunctive join keeps the part-key equality as the join key") {
    // the OR predicate must not force a nested-loop join: Catalyst
    // extracts the common p_partkey equality as the hash-join key
    val plan = physical(SparkEntry.queries("sql_q19_disjunctive")(spark, sf001))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("multiple DISTINCT aggregates plan as one Expand, not self-joins") {
    val plan = physical(SparkEntry.queries("a_multi_distinct")(spark, sf001))
    assert(plan.contains("Expand"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("ShingleCountRewrite folds shingle counts to size arithmetic") {
    import org.apache.spark.sql.functions._
    import graft.functions.Text
    spark.experimental.extraOptimizations = Seq(graft.plans.ShingleCountRewrite)
    try {
      val docs = Tables(spark, sf001, "documents")
      def counted = docs.select(col("doc_id"),
        size(Text.shingles(Text.tokens(col("text")), 3)).as("n_sh"))
      // the optimized plan must not build the shingle array at all
      assert(!counted.queryExecution.optimizedPlan.toString.contains("word_shingles"),
        counted.queryExecution.optimizedPlan.toString)
      val rewritten = counted.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_sh")).toMap
      spark.experimental.extraOptimizations = Nil
      val baseline = counted.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_sh")).toMap
      assert(rewritten == baseline)
      assert(baseline.values.exists(_ > 0))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("ShingleCountRewrite preserves NULL token arrays") {
    import org.apache.spark.sql.functions._
    import graft.functions.Text
    import spark.implicits._
    spark.experimental.extraOptimizations = Seq(graft.plans.ShingleCountRewrite)
    try {
      val df = Seq((1L, Seq("a", "b", "c", "d")), (2L, null))
        .toDF("id", "tok")
      val out = df.select(col("id"), size(Text.shingles(col("tok"), 3)).as("n"))
        .collect().map(r => r.getAs[Long]("id") ->
          Option(r.getAs[Any]("n"))).toMap
      assert(out(1L).contains(2)) // 4 tokens → 2 shingles of 3
      assert(out(2L).isEmpty || out(2L).contains(-1)) // null (or legacy -1)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("Q13's outer join keeps the ON-clause filter off the outer side") {
    // 150 customers, 1337 non-LOW orders: every customer row survives
    val plan = physical(SparkEntry.queries("sql_q13_custdist")(spark, sf001))
    assert(plan.contains("LeftOuter") || plan.contains("RightOuter"), plan)
  }

  test("bloom bit-set probe is a broadcast join — the fact side never shuffles for it") {
    val plan = physical(SparkEntry.queries("bloom_prefilter")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("z-order key computation is shuffle-free, codegen'd scan arithmetic") {
    val df = SparkEntry.queries("layout_zorder")(spark, sf001)
    val plan = physical(df)
    assert(!plan.contains("Exchange"), plan) // pure projection over the scan
    assert(plan.startsWith("*("), plan) // whole-stage codegen spans the plan
  }

  test("funnel shuffles on user_id only — stages stay co-partitioned") {
    // Each stage filters a different event type, so the exchanges have
    // distinct children (no literal reuse) — but every one of them must
    // key on user_id: a shuffle on any other key would mean a stage
    // broke co-partitioning and will re-shuffle the fact at scale.
    val plan = physical(SparkEntry.queries("ev_funnel")(spark, sf001))
    val offKey = "Exchange hashpartitioning\\((?!user_id)".r.findAllIn(plan).toSeq
    assert(offKey.isEmpty, s"non-user_id shuffles: $offKey\n$plan")
  }

  test("scd2 runs both window passes plus the rollup in one user_id shuffle") {
    val plan = physical(SparkEntry.queries("scd2_history")(spark, sf001))
    // One exchange on user_id; the second window's requirement is
    // satisfied by the first's output partitioning.
    assert(plan.split("Exchange hashpartitioning\\(user_id").length <= 2, plan)
  }

  test("binned interval join is an equi-join — the theta form would be BNL") {
    val plan = physical(SparkEntry.queries("iv_overlap_join")(spark, sf001))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("cdc apply partial-aggregates below its one exchange — no per-key sort-the-world window") {
    val plan = physical(SparkEntry.queries("cdc_apply_latest")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    // max_by(struct) plans as sort-based aggregate: partial before the
    // exchange, final after — one shuffle of pre-combined rows.
    assert(plan.split("Exchange hashpartitioning\\(user_id").length <= 2, plan)
    assert(plan.toLowerCase.contains("partial"), plan)
  }

  test("prefix similarity join never explodes candidates against the element table") {
    val df = SparkEntry.queries("simjoin_prefix")(spark, sf001)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), plan)
    // The verify side carries collected arrays through the codegen'd
    // merge kernel, not a per-candidate-token join.
    assert(plan.contains("sorted_intersect_count_str"), plan)
  }

  test("decontamination broadcasts the eval shingle set — train side never shuffles it") {
    val plan = physical(SparkEntry.queries("decontam_ngram")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("covariance-PCA projects eigenvector literals over the cached scan") {
    // The fits run eagerly inside pcaPower; what the query RETURNS must
    // be a pure projection (dot products against driver-held literals)
    // over the cached two-column view — no join, no shuffle, no
    // recompute of the fit.
    val plan = physical(SparkEntry.queries("m1b_pca_power")(spark, sf001))
    assert(plan.contains("InMemoryTableScan"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    val scan = formatted(spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding"))
    assert(scan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), scan)
  }

  test("dsir selection ranks with TakeOrderedAndProject, never sort-the-world") {
    val plan = physical(SparkEntry.queries("dsir_select")(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("intra-doc span trimming shuffles only on doc-keyed partitions") {
    // Every window/aggregate is keyed by doc_id (or doc_id+gram); an
    // exchange on any other leading key means per-doc work leaked into
    // a cross-doc shuffle.
    val plan = physical(SparkEntry.queries("text_dedup_intradoc")(spark, sf001))
    val offKey = "Exchange hashpartitioning\\((?!doc_id)".r.findAllIn(plan).toSeq
    assert(offKey.isEmpty, s"non-doc_id shuffles: $offKey\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hard-negative mining broadcasts the capped anchor batch") {
    val plan = physical(SparkEntry.queries("sim_hard_negatives")(spark, sf001))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("vec_dot"), plan)
  }

  test("binary hamming packing is map-side; ranking broadcasts 5 query codes") {
    val plan = physical(SparkEntry.queries("sim_binary_hamming")(spark, sf001))
    // the packed code is computed in the scan projection (no exchange
    // before the broadcast join against the 5 anchors)
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("exact triangle census: dst-side adjacency is broadcast below the ceiling") {
    // graph_triangles materializes its 1-row result and releases its
    // caches, so the shape is pinned on the census' LAZY plan.
    val (df, cleanup) = graft.operators.Graph
      .triangleStatsPlan(graft.operators.Graph.coPurchaseEdges(spark, sf001))
    try {
      val plan = physical(df)
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      // The per-edge kernel must be the codegen'd merge, not the
      // hash-building array_intersect.
      assert(plan.contains("sorted_intersect_count"), plan)
    } finally cleanup()
  }

  test("capped link prediction: in-list wedge expansion, no pair join, engine-side top-k") {
    // Pin the LAZY plan (the inventory query materializes it through a
    // LIMIT-bounded collect and returns a local frame).
    val (df, caches) = graft.operators.Graph.cappedLinkPredict(spark, sf001)
    try {
      val plan = physical(df)
      // The wedge set comes from Generate (explode over the Q-capped
      // list expansion) — a self-join of the adjacency here would be the
      // unbounded Σ deg² shape the quota exists to prevent.
      assert(plan.contains("Generate"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("TakeOrderedAndProject"), plan)
      // The capped adjacency AND the co-purchase edge artifact are
      // cached across their multiple consumers.
      assert(plan.contains("InMemoryTableScan"), plan)
    } finally caches.foreach(_.unpersist(blocking = false))
  }

  test("keyed CMS: exactly one pass over lineitem feeds sketch, probe and ranking") {
    val df = SparkEntry.queries("sk_cms_heavy")(spark, sf001)
    val plan = physical(df)
    // The corpus-sized aggregate is localCheckpointed: the consumer
    // plan scans the checkpoint, never lineitem.parquet (the keyed
    // sketch build is |suppliers|-sized by construction).
    assert(!plan.contains("lineitem.parquet"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("LSM vector search: broadcast probe over the merged view, no corpus shuffle") {
    val plan = physical(SparkEntry.queries("sim_ivf_lsm")(spark, sf001))
    // tombstone anti-join AND the query x cell probe are both broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains(", LeftAnti,"), plan)
    assert(plan.contains(", Inner,"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("post-recluster search reads ONE compacted segment with its own codebook") {
    // scan locations print in full only past the default 100-char cap,
    // which cuts them off before the artifact's directory name
    val key = "spark.sql.maxMetadataStringLength"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1000")
    val plan =
      try physical(SparkEntry.queries("sim_ivf_lsm_retrain")(spark, sf001))
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // commitReplace leaves a single segment and zero tombstones: the
    // VIEW side is exactly one scan of the ivfvec-retrain artifact with no
    // anti-join — the read-optimized shape recovered after drift.
    // (The query side unions the corpus construction; that's input
    // prep, not index reads.)
    val artifact = graft.operators.IvfIndex.lsmRetrainRoot(spark, sf001).toString
    assert(plan.split(java.util.regex.Pattern.quote(artifact)).length - 1 == 1, plan)
    assert(!plan.contains("LeftAnti"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("LSM bm25 probe pushes the token filter into every segment scan (r13 re-base)") {
    val df = SparkEntry.queries("idx_bm25_inc_search")(spark, sf001)
    val plan = formatted(df)
    // the merged view is base + delta segments: the terms filter must
    // reach BOTH parquet scans (In(token,...)), and the stats side is
    // broadcast — the postings never shuffle to meet |terms| rows
    assert(plan.split("In\\(token").length - 1 >= 2, plan.take(4000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
  }

  test("served fold searches through bucket-dir pruning (idx_bm25_lsm_served)") {
    val df = SparkEntry.queries("idx_bm25_lsm_served")(spark, sf001)
    val plan = formatted(df)
    // the serving layout's whole point: the scan carries tbucket
    // PartitionFilters (directory pruning to the query terms' buckets)
    // plus the pushed token filter within the bucket
    assert(plan.contains("PartitionFilters: [tbucket"), plan.take(4000))
    assert(plan.contains("In(token"), plan.take(4000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }
}

package graft

import graft.operators.IvfIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Build-once / search-many IVF index: persisted layout, directory
  * pruning by probed cell, and agreement with the inline inventory
  * query (sim_ivf_search computes the same probe-1 search without the
  * persisted index). */
class IvfIndexSpec extends SparkSuite {

  test("persisted index reproduces the inline probe-1 search") {
    val tmp = Files.createTempDirectory("ivf").toString + "/idx"
    val corpus = Tables(spark, sf001, "embeddings")
    IvfIndex.build(spark, corpus, tmp)

    // layout: generation dir v1 + CURRENT pointer; assignments
    // partitioned by centroid_id; the codebook is FIXED-SIZE (≤ K
    // cells, independent of corpus size)
    assert(IvfIndex.currentVersion(spark, tmp).contains(1))
    val dirs = new java.io.File(s"${IvfIndex.currentDir(spark, tmp)}/assignments")
      .list().filter(_.startsWith("centroid_id="))
    assert(dirs.length > 1 && dirs.length <= IvfIndex.K, dirs.toSeq)

    val queries = corpus.where(col("vec_id") < 5)
    val got = IvfIndex.search(spark, tmp, queries, k = 3, nprobe = 1)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk")) -> r.getAs[Long]("vec_id"))
      .toMap
    val want = SparkEntry.queries("sim_ivf_search")(spark, sf001)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk")) -> r.getAs[Long]("vec_id"))
      .toMap
    assert(got == want)
  }

  test("incPersistedPath: arrivals land in the live generation; codebook is base-trained") {
    val corpus = Tables(spark, sf001, "embeddings")
    val path = IvfIndex.incPersistedPath(spark, sf001)
    val dir = IvfIndex.currentDir(spark, path)
    // Every vector — base and appended arrivals — is searchable.
    val assigned = spark.read.parquet(s"$dir/assignments")
    assert(assigned.count() === corpus.count())
    val nArrivals = corpus.where(expr(IvfIndex.IncArrivalsWhere)).count()
    assert(assigned.where(expr(IvfIndex.IncArrivalsWhere)).count() === nArrivals)
    assert(nArrivals > 0)
    // The codebook is the BASE-ONLY training result (frozen at build):
    // identical to training on the base subset, different from the
    // full-corpus codebook (else the inc oracle would be vacuous).
    val baseCb = IvfIndex.trainCodebook(
      corpus.where(not(expr(IvfIndex.IncArrivalsWhere))))
    val gotCb = IvfIndex.readCodebook(spark, path)
    assert(gotCb.map(_._1) === baseCb.map(_._1))
    assert(gotCb.zip(baseCb).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    val fullCb = IvfIndex.trainCodebook(corpus)
    assert(!gotCb.zip(fullCb).forall { case ((_, a), (_, b)) => a.sameElements(b) })
  }

  test("search scans only the probed cells (partition pruning pinned)") {
    val tmp = Files.createTempDirectory("ivf-prune").toString + "/idx"
    val corpus = Tables(spark, sf001, "embeddings")
    IvfIndex.build(spark, corpus, tmp)
    val plan = IvfIndex.search(spark, tmp, corpus.where(col("vec_id") < 5),
        k = 3, nprobe = 1)
      .queryExecution.executedPlan.toString
    // The assignments scan must carry a static IN filter on the
    // partition column — the probed cells are driver-side literals, so
    // pruning needs no join or runtime filter to engage.
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert("PartitionFilters: \\[[^\\]]*centroid_id[^\\]]* IN \\(".r
      .findFirstIn(plan).isDefined, "no static IN pruning on centroid_id")
  }

  test("wider probes never lose neighbors found by narrower ones") {
    val tmp = Files.createTempDirectory("ivf2").toString + "/idx"
    val corpus = Tables(spark, sf001, "embeddings")
    IvfIndex.build(spark, corpus, tmp)
    val queries = corpus.where(col("vec_id") < 5)
    def scores(nprobe: Int): Map[Long, Double] =
      IvfIndex.search(spark, tmp, queries, k = 1, nprobe = nprobe).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("score")).toMap
    val s1 = scores(1)
    val s2 = scores(2)
    // the rank-1 score can only improve (or stay) as probes widen
    assert(s1.keySet == s2.keySet)
    assert(s1.forall { case (q, sc) => s2(q) >= sc })
  }

  test("codebook size is corpus-independent (same K at 4x the corpus)") {
    // sf0.001 has 500 vectors, sf0.1 has 2000 — the codebook must not
    // grow with the corpus (the r4 scale-killer: centroids = n/50).
    val cbSmall = IvfIndex.trainCodebook(Tables(spark, sf001, "embeddings"))
    val cbBig = IvfIndex.trainCodebook(Tables(spark, "/root/testdata/sf0.1", "embeddings"))
    assert(cbSmall.length <= IvfIndex.K && cbBig.length <= IvfIndex.K)
    assert(cbBig.length == IvfIndex.K) // no empty cells at 2000 vectors
  }

  test("incremental append equals a fresh batch build with the same codebook") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmpA = Files.createTempDirectory("ivf-inc").toString + "/idx"
    val tmpB = Files.createTempDirectory("ivf-full").toString + "/idx"
    val corpus = Tables(spark, sf001, "embeddings")

    // Build on the first half only; the codebook freezes there.
    IvfIndex.build(spark, corpus.where(col("vec_id") < 250), tmpA)

    // Stream the remaining vectors in over two micro-batches — the
    // continuous-ingest shape: each batch is assigned to the EXISTING
    // codebook and appended to the bucketed assignments table.
    val ids = MemoryStream[Long]
    val q = ids.toDS().toDF("id").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IvfIndex.append(spark, tmpA,
          batch.join(corpus, batch("id") === corpus("vec_id"))
            .select(corpus("vec_id"), corpus("embedding")))
      }
      .start()
    try {
      ids.addData(250L until 375L: _*)
      q.processAllAvailable()
      ids.addData(375L until 500L: _*)
      q.processAllAvailable()
    } finally q.stop()

    // Fresh batch build over the FULL corpus with the same codebook.
    IvfIndex.build(spark, corpus, tmpB,
      codebook = Some(IvfIndex.readCodebook(spark, tmpA)))

    val queries = corpus.where(col("vec_id") < 5)
    def rows(path: String) =
      IvfIndex.search(spark, path, queries, k = 3, nprobe = 2).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSet
    assert(rows(tmpA) == rows(tmpB))
    // and the appended index really holds the whole corpus
    assert(spark.read
      .parquet(s"${IvfIndex.currentDir(spark, tmpA)}/assignments")
      .count() === 500L)
  }

  test("drifted append triggers a retrain; retrained index == fresh build on the union") {
    val tmpA = Files.createTempDirectory("ivf-drift").toString + "/idx"
    val tmpB = Files.createTempDirectory("ivf-drift-full").toString + "/idx"
    val corpus = Tables(spark, sf001, "embeddings")
    val base = corpus.where(col("vec_id") < 300)
    // A shifted cohort far outside the build distribution: every vector
    // lands in one or two cells of the frozen codebook.
    val drifted = corpus.where(col("vec_id") >= 300)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))

    IvfIndex.build(spark, base, tmpA)
    // In-distribution append: no retrain.
    assert(!IvfIndex.appendOrRetrain(spark, tmpA,
      corpus.where(col("vec_id") >= 300 && col("vec_id") < 350)))
    // Out-of-distribution cohort: skew trips the retrain.
    assert(IvfIndex.appendOrRetrain(spark, tmpA,
      drifted.where(col("vec_id") >= 350)))

    // The retrained index is exactly a fresh build over the union —
    // trainCodebook is deterministic in the vector multiset.
    val union = base.select(col("vec_id"), col("embedding"))
      .unionByName(corpus.where(col("vec_id") >= 300 && col("vec_id") < 350)
        .select(col("vec_id"), col("embedding")))
      .unionByName(drifted.where(col("vec_id") >= 350))
    IvfIndex.build(spark, union, tmpB)
    def cb(path: String) =
      IvfIndex.readCodebook(spark, path).map { case (c, v) => (c, v.toSeq) }
    assert(cb(tmpA) == cb(tmpB))
    val queries = corpus.where(col("vec_id") < 5)
    def rows(path: String) =
      IvfIndex.search(spark, path, queries, k = 3, nprobe = 2).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSet
    assert(rows(tmpA) == rows(tmpB))
  }

  test("retrain publishes a new generation; a reader of the old one is unaffected") {
    val tmp = Files.createTempDirectory("ivf-ver").toString + "/idx"
    val corpus = Tables(spark, sf001, "embeddings")
    IvfIndex.build(spark, corpus.where(col("vec_id") < 300), tmp)
    assert(IvfIndex.currentVersion(spark, tmp).contains(1))

    // A reader resolves the generation dir BEFORE the retrain and
    // snapshots what it sees there.
    val oldDir = IvfIndex.currentDir(spark, tmp)
    def snapshot() = spark.read.parquet(s"$oldDir/assignments")
      .select(col("vec_id"), col("centroid_id").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = snapshot()

    // Drifted cohort forces a retrain → v2 + pointer swap.
    val drifted = corpus.where(col("vec_id") >= 300)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))
    assert(IvfIndex.appendOrRetrain(spark, tmp, drifted))
    assert(IvfIndex.currentVersion(spark, tmp).contains(2))
    assert(IvfIndex.currentDir(spark, tmp) != oldDir)

    // The old generation is bit-stable up to the reader's horizon: the
    // retrain wrote ONLY the new dir. (The drifted append itself added
    // rows to v1 — parquet append adds files, it rewrites nothing — so
    // every pre-append row is still there with its original cell.)
    val after = snapshot()
    assert(before.forall { case (k, v) => after.get(k).contains(v) })
    // and the new generation serves the full corpus
    val served = spark.read
      .parquet(s"${IvfIndex.currentDir(spark, tmp)}/assignments").count()
    assert(served === 500L)
  }

  test("sim_ivf_retrain is non-vacuous: retrained search differs from the frozen-codebook twin") {
    val e = Tables(spark, sf001, "embeddings")
    // The oracled retrain timeline: policy must have tripped (the
    // builder requires it), leaving generation 2.
    val retrained = IvfIndex.retrainPersistedPath(spark, sf001)
    assert(IvfIndex.currentVersion(spark, retrained).contains(2))
    // Frozen-codebook twin: same base, same shifted arrivals, but a
    // plain append — no retrain.
    val frozen = Files.createTempDirectory("ivf-frozen").toString + "/idx"
    IvfIndex.build(spark, e.where(not(expr(IvfIndex.RetrainArrivalsWhere))), frozen)
    IvfIndex.append(spark, frozen, IvfIndex.retrainArrivals(e))
    val queries = IvfIndex.retrainCorpus(spark, sf001).where(col("vec_id") < 5)
    def rows(path: String) =
      IvfIndex.search(spark, path, queries, k = 3, nprobe = 1).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
          r.getAs[Long]("vec_id"))).toSet
    assert(rows(retrained) !== rows(frozen),
      "the retrain must change search results on the drifted corpus, or the oracle is vacuous")
  }

  test("stale-sibling eviction spares other index kinds (inc root survives a base build)") {
    // The base and incremental indexes are two artifacts of one corpus
    // generation. A cold base build evicts sibling roots of OLDER
    // generations only — names whose remainder after the corpus prefix
    // is a bare fingerprint — never the incremental index beside it.
    val dir = Files.createTempDirectory("ivf-evict").toString
    Files.copy(java.nio.file.Paths.get(s"$sf001/embeddings.parquet"),
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
    val inc = new java.io.File(IvfIndex.incPersistedPath(spark, dir))
    val root = inc.getParentFile
    val prefix = s"${dir.replaceAll("[^A-Za-z0-9._-]", "_")}-embeddings-"
    val staleBase = new java.io.File(root.getParentFile, prefix + "50-60")    // older fp: evict
    val otherKind = new java.io.File(root.getParentFile, prefix + "inc-50-60") // not a bare fp: keep
    try {
      Seq(staleBase, otherKind).foreach(_.mkdirs())
      val base = IvfIndex.persistedPath(spark, dir) // cold: runs the eviction pass
      assert(base !== inc.toString)
      assert(!staleBase.exists(), "stale same-corpus generation must be evicted")
      assert(otherKind.exists(), "a root whose remainder is not a bare fingerprint must survive")
      assert(new java.io.File(inc, operators.ArtifactCache.Done).exists(),
        "the inc index must survive a base build")
      assert(IvfIndex.currentVersion(spark, inc.toString).isDefined)
    } finally Seq(otherKind, root).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  test("int8 quantization: error bounded by half a step, cosine recall ~1") {
    import org.apache.spark.sql.functions._
    val q = SparkEntry.queries("sim_quantize_int8")(spark, sf001)
    // Widest per-dim step over the corpus bounds every L-inf error.
    val x = Tables(spark, sf001, "embeddings")
      .select(posexplode(col("embedding")))
      .select(col("pos").as("d"), col("col").cast("double").as("v"))
    val maxStep = x.groupBy("d").agg(((max(col("v")) - min(col("v"))) / 255.0).as("sc"))
      .agg(max(col("sc"))).head().getDouble(0)
    val bad = q.where(col("linf") > maxStep / 2 + 1e-9 || col("cos_rec") < 0.999).count()
    assert(bad === 0L)
    assert(q.count() === Tables(spark, sf001, "embeddings").count())
  }

  test("quantized search reproduces the exact top-5 (recall@5 = 1.0)") {
    val r = SparkEntry.queries("sim_quantized_recall")(spark, sf001).collect()
    assert(r.length === 5)
    r.foreach(row => assert(row.getDouble(1) === 1.0, s"q ${row.getLong(0)}"))
  }

  test("ivfvec LSM: drops leave, edits move cells, adds land, time travel sees v1") {
    import graft.operators.{IncPostings, IvfIndex}
    val (cents, merged) = IvfIndex.mergedVectors(spark, sf001)
    val root = IvfIndex.lsmRoot(spark, sf001)
    val e = Tables(spark, sf001, "embeddings")
    def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("doc_id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val now = cellsOf(merged)
    val v1 = cellsOf(IncPostings.readAt(spark, root, 1))

    // every merged doc appears exactly once (the tombstone seq rule)
    assert(merged.groupBy(col("doc_id")).count()
      .where(col("count") > 1).count() === 0L)

    val dropped = e.where(col("vec_id") % 97 === 0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(dropped.nonEmpty && dropped.forall(d => !now.contains(d)))

    // non-vacuity of EDITS: every edited vec survives at its own id,
    // and the +0.25f re-embedding moved at least one to a new cell —
    // so the tombstone+delta pair is provably exercised, not a no-op
    val edited = e.where(col("vec_id") % 97 =!= 0 && col("vec_id") % 31 === 0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(edited.nonEmpty && edited.forall(now.contains))
    assert(edited.exists(id => now(id) != v1(id)),
      "no edited vector changed cell — the edit delta is vacuous")

    // ADDS: verbatim copies land at the shifted id in the SAME cell as
    // their v1 source (assignment is deterministic in the vector)
    val adds = e.where(col("vec_id") % 89 === 0)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(adds.nonEmpty && adds.forall(id =>
      now(id + operators.Maintenance.AddShift) == v1(id)))

    // time travel: generation 1 IS the v1 assignment, as a multiset
    val freshV1 = IvfIndex.vecRowsOf(cents,
      e.select(col("vec_id"), col("embedding")))
    val g1 = IncPostings.readAt(spark, root, 1)
    assert(g1.exceptAll(freshV1).count() === 0L)
    assert(freshV1.exceptAll(g1).count() === 0L)
  }

  test("ivfvec recluster: codebook versions with the generation; time travel crosses it") {
    import graft.operators.{IncPostings, IvfIndex}
    val root = IvfIndex.lsmRetrainRoot(spark, sf001)
    val e = Tables(spark, sf001, "embeddings")
    val gen = IncPostings.committedGen(root)
    assert(gen === 4) // base, churn delta, skew delta, recluster
    val cbOld = IvfIndex.codebookOf(spark, root, 3)
    val cbNew = IvfIndex.codebookOf(spark, root, gen)
    // non-vacuity: the recluster actually retrained
    assert(cbOld.map(_._2.toSeq) != cbNew.map(_._2.toSeq),
      "reclustered codebook must differ from the frozen one")
    // generation 3 (pre-recluster) still reads as the OLD codebook's
    // assignment of the same corpus; generation 4 as the NEW one's —
    // and at least one vector moved cell between them
    val corpus = IvfIndex.lsmRetrainCorpus(e)
    val g3 = IncPostings.readAt(spark, root, 3)
    val g4 = IncPostings.readAt(spark, root, gen)
    def diff(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).count() + b.exceptAll(a).count()
    assert(diff(g3, IvfIndex.vecRowsOf(cbOld, corpus)) === 0L)
    assert(diff(g4, IvfIndex.vecRowsOf(cbNew, corpus)) === 0L)
    val moved = g3.select(col("doc_id"), col("cid").as("c3"))
      .join(g4.select(col("doc_id"), col("cid").as("c4")), "doc_id")
      .where(col("c3") =!= col("c4")).count()
    assert(moved > 0L, "recluster must move at least one vector's cell")
  }

  test("commitReplace conflicts on ANY racing commit (no codebook mixing)") {
    import graft.operators.{IncPostings, IvfIndex}
    import spark.implicits._
    val tmp = Files.createTempDirectory("ivfvec-replace").toFile
    val e = Tables(spark, sf001, "embeddings").where(col("vec_id") < 30)
    val cents = IvfIndex.trainCodebook(e)
    IncPostings.commitBase(tmp, IvfIndex.vecRowsOf(cents, e))
    val basisGen = IncPostings.committedGen(tmp)
    // A delta lands between the basis read and the replace commit: its
    // rows were assigned under the basis codebook, so the replace must
    // ABORT rather than publish a view mixing interpretations.
    IncPostings.commitDelta(tmp,
      IvfIndex.vecRowsOf(cents, Seq((99L, Seq.fill(64)(0.1f)))
        .toDF("vec_id", "embedding")),
      Seq.empty[Long].toDF("doc_id"))
    intercept[IncPostings.ReplaceConflict] {
      IncPostings.commitReplace(spark, tmp,
        IvfIndex.vecRowsOf(cents, e), basisGen, Some("cb2"),
        layout = Seq("cid", "doc_id"))
    }
    // The failed replace published nothing: the live view is basis+delta.
    assert(IncPostings.committedGen(tmp) === basisGen + 1)
    assert(IncPostings.readCurrent(spark, tmp).count() === e.count() + 1)
  }

  test("a delta derived under a superseded codebook is rejected (MetaConflict)") {
    import graft.operators.{IncPostings, IvfIndex}
    import spark.implicits._
    val tmp = Files.createTempDirectory("ivfvec-metaconflict").toFile
    val base = Tables(spark, sf001, "embeddings")
      .where(col("vec_id") < 50).select(col("vec_id"), col("embedding"))
    val cb1 = IvfIndex.trainCodebook(base)
    val cb1Dir = IncPostings.newDataDir(tmp, "meta")
    spark.createDataFrame(cb1.map { case (cid, c) => (cid, c.toSeq) })
      .toDF("centroid_id", "c_emb").write.parquet(s"$cb1Dir/centroids")
    IncPostings.commitBase(tmp, IvfIndex.vecRowsOf(cb1, base),
      meta = Some(cb1Dir.toString))
    // Derive a delta under cb1, then let a recluster land first.
    val rows = IvfIndex.vecRowsOf(cb1,
      Seq((999L, Seq.fill(64)(0.2f))).toDF("vec_id", "embedding"))
    IvfIndex.recluster(spark, tmp)
    intercept[IncPostings.MetaConflict] {
      IncPostings.commitDelta(tmp, rows, Seq.empty[Long].toDF("doc_id"),
        derivedUnder = Some(cb1Dir.toString))
    }
    // An interpretation-free commit (no derivedUnder) is the caller's
    // explicit choice and still goes through — text kinds rely on it.
    IncPostings.commitDelta(tmp,
      IvfIndex.vecRowsOf(IvfIndex.codebookOf(spark, tmp,
        IncPostings.committedGen(tmp)),
        Seq((999L, Seq.fill(64)(0.2f))).toDF("vec_id", "embedding")),
      Seq.empty[Long].toDF("doc_id"))
    assert(IncPostings.readCurrent(spark, tmp).count() === 51L)
  }

  test("racing delta vs recluster: MetaConflict forces re-derivation, no codebook mixing") {
    import graft.operators.{IncPostings, IvfIndex}
    import spark.implicits._
    val tmp = Files.createTempDirectory("ivfvec-race").toFile
    val base = Tables(spark, sf001, "embeddings")
      .where(col("vec_id") < 100).select(col("vec_id"), col("embedding"))
    val cb1 = IvfIndex.trainCodebook(base)
    val cb1Dir = IncPostings.newDataDir(tmp, "meta")
    spark.createDataFrame(cb1.map { case (cid, c) => (cid, c.toSeq) })
      .toDF("centroid_id", "c_emb").write.parquet(s"$cb1Dir/centroids")
    IncPostings.commitBase(tmp, IvfIndex.vecRowsOf(cb1, base),
      meta = Some(cb1Dir.toString))
    val arrivals = Tables(spark, sf001, "embeddings")
      .where(col("vec_id") >= 100 && col("vec_id") < 130)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq)).toSeq

    // Writer A: 10 one-vector deltas, each derived under the LIVE
    // codebook and committed with derivedUnder — on MetaConflict (the
    // reclusterer won meanwhile) it re-reads and re-derives.
    // Writer B: one recluster, retried on ReplaceConflict (a delta won
    // meanwhile). Either serialization is legal; mixing is not.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    import scala.concurrent.{ExecutionContext, Future, Await}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val fA = Future {
      arrivals.take(10).foreach { case (id, emb) =>
        var done = false
        while (!done) {
          val gen = IncPostings.committedGen(tmp)
          val meta = IncPostings.manifestOf(tmp, gen).meta
          val cb = IvfIndex.codebookOf(spark, tmp, gen)
          val rows = IvfIndex.vecRowsOf(cb,
            Seq((id, emb)).toDF("vec_id", "embedding"))
          try {
            IncPostings.commitDelta(tmp, rows,
              Seq.empty[Long].toDF("doc_id"), derivedUnder = meta)
            done = true
          } catch { case _: IncPostings.MetaConflict => /* re-derive */ }
        }
      }
    }
    val fB = Future {
      var done = false
      while (!done) {
        try { IvfIndex.recluster(spark, tmp); done = true }
        catch { case _: IncPostings.ReplaceConflict => /* rebase */ }
      }
    }
    Await.result(fA, 300.seconds); Await.result(fB, 300.seconds)
    pool.shutdown()

    // Whatever the interleaving: every committed row's cid must be the
    // live codebook's assignment of its vector IF it was committed
    // after the recluster, or a pre-recluster row that the recluster's
    // replace folded in. Check the invariant that matters: rows
    // committed at generations AFTER the replace all agree with the
    // live codebook, and no doc is lost or duplicated.
    val gen = IncPostings.committedGen(tmp)
    val live = IncPostings.readCurrent(spark, tmp)
    assert(live.groupBy(col("doc_id")).count()
      .where(col("count") > 1).count() === 0L)
    assert(live.count() === 100L + 10L)
    val liveCb = IvfIndex.codebookOf(spark, tmp, gen)
    val replaceGen = (1 to gen).find(g =>
      IncPostings.manifestOf(tmp, g).meta.exists(_ != cb1Dir.toString)).get
    val m = IncPostings.manifestOf(tmp, gen)
    val postReplaceSegs = m.segments.filter(_.seq > replaceGen)
    postReplaceSegs.foreach { seg =>
      val rows = spark.read.parquet(seg.path)
      val want = IvfIndex.vecRowsOf(liveCb,
        rows.select(col("doc_id").as("vec_id"), col("embedding")))
      assert(rows.exceptAll(want).count() === 0L,
        s"segment ${seg.path} holds rows not derived under the live codebook")
    }
  }

  test("retention reclaims a reclustered-away codebook past its horizon") {
    import graft.operators.{IncPostings, IvfIndex}
    val tmp = Files.createTempDirectory("ivfvec-cbretain").toFile
    val e = Tables(spark, sf001, "embeddings").where(col("vec_id") < 30)
    val cents = IvfIndex.trainCodebook(e)
    val cb1 = IncPostings.newDataDir(tmp, "meta")
    // private writeCodebook path: reuse recluster's public surface by
    // committing base with meta, then reclustering
    e.sparkSession.createDataFrame(
      cents.map { case (cid, c) => (cid, c.toSeq) })
      .toDF("centroid_id", "c_emb")
      .write.parquet(s"$cb1/centroids")
    IncPostings.commitBase(tmp, IvfIndex.vecRowsOf(cents, e),
      meta = Some(cb1.toString))
    val gen2 = IvfIndex.recluster(spark, tmp)
    val cb2 = IncPostings.manifestOf(tmp, gen2).meta.get
    assert(cb2 != cb1.toString)
    IncPostings.retain(spark, tmp, keepGens = 1, graceMs = 0L)
    assert(!cb1.exists(), "expired generation's codebook must be reclaimed")
    assert(new java.io.File(cb2).exists(), "live codebook must survive")
    // the surviving generation still reads with its own codebook
    assert(IvfIndex.codebookOf(spark, tmp, gen2).nonEmpty)
  }

  test("ivfvec LSM: compaction (cid layout) + retention leave search unchanged") {
    import graft.operators.{IncPostings, IvfIndex}
    val tmp = Files.createTempDirectory("ivfvec-lc").toFile
    val e = Tables(spark, sf001, "embeddings")
    val cents = IvfIndex.trainCodebook(e)
    IncPostings.commitBase(tmp,
      IvfIndex.vecRowsOf(cents, e.select(col("vec_id"), col("embedding"))))
    IncPostings.commitDelta(tmp,
      IvfIndex.vecRowsOf(cents, IvfIndex.deltaVecs(e)),
      IvfIndex.vecTombstones(e))
    val qs = IvfIndex.v2Vectors(e).where(col("vec_id") < 5)
    def hits(): Seq[(Long, Long, Long)] =
      IvfIndex.searchView(cents, IncPostings.readCurrent(spark, tmp),
        qs, k = 3, nprobe = 1)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
          r.getAs[Long]("vec_id"))).toSeq.sorted
    val before = hits()
    // vector rows have no `g` column — compaction lays out by cell,
    // which is also what restores file-level pruning for cell probes
    IncPostings.compact(spark, tmp, layout = Seq("cid", "doc_id"))
    assert(IncPostings.committedGen(tmp) === 3)
    assert(hits() === before)
    IncPostings.retain(spark, tmp, keepGens = 1, graceMs = 0L)
    assert(hits() === before)
    assert(IncPostings.liveSegmentCount(tmp) === 1)
  }
}

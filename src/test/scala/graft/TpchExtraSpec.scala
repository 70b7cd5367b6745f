package graft

import org.apache.spark.sql.functions._

/** Invariant checks for the round-3 TPC-H battery (TpchExtra) and the
  * dedup cluster resolution on sf0.001; exact values are hash-checked
  * against DuckDB by the oracle gate. */
class TpchExtraSpec extends SparkSuite {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf001)

  test("sql_q4_priority counts only 1996 orders and covers all priorities seen") {
    val r = run("sql_q4_priority").collect()
    assert(r.nonEmpty)
    val total = r.map(_.getAs[Long]("order_count")).sum
    assert(total > 0 && total <= 1500) // bounded by the order count
  }

  test("sql_q7_trade_volume emits only the two asymmetric region pairs") {
    val r = run("sql_q7_trade_volume").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val sr = row.getAs[String]("supp_region")
      val cr = row.getAs[String]("cust_region")
      assert(Set(sr, cr) == Set("ASIA", "EUROPE"))
      val yr = row.getAs[Int]("l_year")
      assert(yr == 1996 || yr == 1997)
    }
  }

  test("sql_q8_market_share is a share in [0,1] per year") {
    val r = run("sql_q8_market_share").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val s = row.getAs[Double]("mkt_share")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("sql_q13_custdist distribution sums to the customer count") {
    val r = run("sql_q13_custdist").collect()
    assert(r.map(_.getAs[Long]("custdist")).sum == 150)
  }

  test("sql_q14_promo_share is a percentage in [0,100]") {
    val v = run("sql_q14_promo_share").collect()(0).getAs[Double]("promo_revenue")
    assert(v >= 0.0 && v <= 100.0)
  }

  test("sql_q15_top_supplier returns the strict revenue max") {
    val r = run("sql_q15_top_supplier").collect()
    assert(r.length >= 1)
    // ties are astronomically unlikely in the synthetic data
    assert(r.length == 1)
    assert(r(0).getAs[Double]("total_revenue") > 0)
  }

  test("sql_q18_big_orders only emits orders with sum_qty > 300") {
    val r = run("sql_q18_big_orders").collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Double]("sum_qty") > 300))
  }

  test("sql_q21_waiting_supplier never blames a supplier for a solo order") {
    // every counted line sits in an order with >= 2 suppliers, so a
    // supplier can never owe more waits than late multi-supplier lines
    val r = run("sql_q21_waiting_supplier").collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Long]("numwait") >= 1))
  }

  test("sql_q22_idle_balance keeps only above-threshold balances") {
    val r = run("sql_q22_idle_balance").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("numcust") >= 1)
      // average balance of the kept set must exceed the global floor-avg
      assert(row.getAs[Double]("totacctbal") / row.getAs[Long]("numcust") > 0)
    }
  }

  test("sql_q2_min_cost_supp picks one minimum-price supplier per part") {
    val rows = run("sql_q2_min_cost_supp").collect()
    assert(rows.nonEmpty)
    // a part may tie across suppliers, but each (part, supplier) appears once
    val pairs = rows.map(r => (r.getAs[Long]("p_partkey"), r.getAs[Long]("s_suppkey")))
    assert(pairs.distinct.length == pairs.length)
    assert(rows.forall(_.getAs[Double]("unit_price") > 0))
  }

  test("sql_q11_important_value keeps only above-mean-multiple parts") {
    val rows = run("sql_q11_important_value").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("part_value") > 0))
  }

  test("sql_q16_supplier_cnt only counts the allowed sizes") {
    val rows = run("sql_q16_supplier_cnt").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set(1, 5, 9, 13)(r.getAs[Int]("p_size"))))
    assert(rows.forall(_.getAs[Long]("supplier_cnt") >= 1))
  }

  test("sql_q20_heavy_shippers emits each qualifying supplier once") {
    val rows = run("sql_q20_heavy_shippers").collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getAs[Long]("s_suppkey"))
    assert(ids.distinct.length == ids.length)
  }

  test("dedup_cc_clusters labels are component minima and keep-flags agree") {
    val rows = run("dedup_cc_clusters").collect()
    assert(rows.nonEmpty)
    val label = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val cl = r.getAs[Long]("cluster_id")
      assert(cl <= id) // min-label: never above the member id
      assert(label(cl) == cl) // the canonical member labels itself
      assert(r.getAs[Boolean]("keep") == (id == cl))
    }
    // cluster ids must themselves appear as nodes (closure property)
    assert(label.values.toSet.subsetOf(label.keySet))
  }

  test("connectedComponents merges transitively linked pairs") {
    import spark.implicits._
    // chain 1-2-3-4 plus islands (5,6), (8,9): 2 + 1 + 1 components
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (8L, 9L))
      .toDF("a", "b")
    val cc = operators.DedupCluster.connectedComponents(edges).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id")).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L))
  }

  test("a corpus with no near-duplicate pair has no duplicate clusters and purges nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc-none").toString
    // 12 documents over disjoint vocabularies: no LSH band collides
    (0 until 12).map { i =>
      val words = (0 until 40).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, words, "en", "web", words.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.dir")
    val part = new java.io.File(s"$dir/documents.dir").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val prefix = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    try {
      def q(name: String) = SparkEntry.queries(name)(spark, dir)
      assert(q("dedup_cc_clusters").count() == 0L)
      assert(q("dedup_cc_purge").collect()
        .map(_.getAs[Long]("n_docs")).sum == 12L)
    } finally {
      Option(new java.io.File("/tmp/graft-artifact-cache").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(prefix))
        .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("dedup_cc_purge drops exactly the non-canonical cluster members") {
    val kept = run("dedup_cc_purge").collect()
      .map(_.getAs[Long]("n_docs")).sum
    val dropped = run("dedup_cc_clusters").collect()
      .count(r => !r.getAs[Boolean]("keep"))
    assert(kept + dropped == 500)
    assert(dropped > 0) // the testdata plants near-dup pairs
  }
}

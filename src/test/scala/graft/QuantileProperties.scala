package graft

import graft.operators.Extended
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties}

/** Randomized equivalence of the spill-safe rank-selection quantile
  * operator ([[Extended.exactQuantiles]]) with Spark's buffering
  * `percentile()` aggregate, through real Catalyst plans, on generated
  * data that INCLUDES the contract edges the r13 scaladoc had to
  * document away:
  *
  *  - groups whose values are all-NULL in one or every value column
  *    (percentile yields NULL; keepAllNullGroups=true must too, and
  *    must KEEP the group);
  *  - single-row groups (rank 0 = floor = ceil, no interpolation);
  *  - duplicate values, negative values, and a NULL group KEY with
  *    real values (set-op null semantics, not join equality).
  *
  * Green means the operator is a drop-in for percentile()/median()
  * everywhere — same numbers, same rows — while ranking through the
  * spilling window sort instead of buffering every group value. */
object QuantileProperties extends Properties("graft.quantiles") {

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

  /** One group's rows: (key, Option[v1], Option[v2]) with deliberate
    * all-NULL columns, single rows, and duplicates. */
  private val groupGen: Gen[(Option[Int], List[(Option[Double], Option[Double])])] =
    for {
      key <- Gen.frequency(6 -> Gen.chooseNum(0, 4).map(Some(_)),
        1 -> Gen.const(None)) // NULL group key, with real values
      n <- Gen.frequency(3 -> Gen.chooseNum(1, 12), 1 -> Gen.const(1))
      mode1 <- Gen.oneOf("vals", "allnull", "mixed")
      mode2 <- Gen.oneOf("vals", "allnull", "mixed")
      base <- Gen.chooseNum(-50, 50)
      rows <- Gen.listOfN(n, for {
        v1 <- Gen.chooseNum(0, 9).map(d => (base + d).toDouble)
        v2 <- Gen.chooseNum(0, 9).map(d => (base - d).toDouble)
        nul1 <- Gen.prob(0.3)
        nul2 <- Gen.prob(0.3)
      } yield (
        mode1 match { case "vals" => Some(v1)
          case "allnull" => None
          case _ => if (nul1) None else Some(v1) },
        mode2 match { case "vals" => Some(v2)
          case "allnull" => None
          case _ => if (nul2) None else Some(v2) }))
    } yield (key, rows)

  private val datasetGen: Gen[List[(Option[Int], Option[Double], Option[Double])]] =
    for {
      ng <- Gen.chooseNum(1, 6)
      groups <- Gen.listOfN(ng, groupGen)
    } yield groups.flatMap { case (k, rows) =>
      rows.map { case (a, b) => (k, a, b) } }

  private val qGen: Gen[Double] =
    Gen.oneOf(0.0, 0.25, 0.5, 0.75, 0.95, 1.0)

  property("rank-selection quantiles == percentile() incl. all-NULL and single-row groups") =
    Prop.forAll(datasetGen, qGen, qGen) { (rows, q1, q2) =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val df = rows.toDF("g", "a", "b")
      val specs = Seq(("a", "qa", q1), ("b", "qb", q2))
      val got = Extended
        .exactQuantiles(df, "g", specs, keepAllNullGroups = true)
        .collect()
        .map(r => (Option(r.get(0)),
          Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double])))
        .toSet
      val want = df.groupBy(col("g"))
        .agg(percentile(col("a"), lit(q1)).as("qa"),
          percentile(col("b"), lit(q2)).as("qb"))
        .collect()
        .map(r => (Option(r.get(0)),
          Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double])))
        .toSet
      def close(x: Option[Double], y: Option[Double]) = (x, y) match {
        case (None, None) => true
        case (Some(a), Some(b)) => math.abs(a - b) < 1e-9
        case _ => false
      }
      val keysGot = got.map(_._1); val keysWant = want.map(_._1)
      val matched = keysGot == keysWant && got.forall { g =>
        want.exists(w => w._1 == g._1 && close(g._2, w._2) && close(g._3, w._3))
      }
      if (!matched) println(s"got=$got\nwant=$want\nq1=$q1 q2=$q2")
      matched
    }

  property("WINDOW strategy (histMaxGroups=0) == percentile() on the same generated edges") =
    Prop.forAll(datasetGen, qGen, qGen) { (rows, q1, q2) =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val df = rows.toDF("g", "a", "b")
      val specs = Seq(("a", "qa", q1), ("b", "qb", q2))
      // histMaxGroups = 0 forces the r14 window path; the default run
      // above exercises histogram bisection — the two strategies must
      // be interchangeable on every contract edge
      val got = Extended
        .exactQuantiles(df, "g", specs, keepAllNullGroups = true,
          histMaxGroups = 0)
        .collect()
        .map(r => (Option(r.get(0)),
          Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double])))
        .toSet
      val want = df.groupBy(col("g"))
        .agg(percentile(col("a"), lit(q1)).as("qa"),
          percentile(col("b"), lit(q2)).as("qb"))
        .collect()
        .map(r => (Option(r.get(0)),
          Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double])))
        .toSet
      def close(x: Option[Double], y: Option[Double]) = (x, y) match {
        case (None, None) => true
        case (Some(a), Some(b)) => math.abs(a - b) < 1e-9
        case _ => false
      }
      got.map(_._1) == want.map(_._1) && got.forall { g =>
        want.exists(w => w._1 == g._1 && close(g._2, w._2) && close(g._3, w._3))
      }
    }

  property("histogram and window strategies agree exactly on wide-range and duplicate-heavy values") =
    Prop.forAll(Gen.listOfN(400, Gen.oneOf(
      Gen.chooseNum(-1e12, 1e12),
      Gen.chooseNum(0.0, 1.0),
      Gen.oneOf(7.0, 7.0, 7.0, -3.5))), qGen) { (vs, q) =>
      import spark.implicits._
      val df = vs.zipWithIndex.map { case (v, i) => (i % 2, v) }.toDF("g", "a")
      val specs = Seq(("a", "qa", q))
      def run(h: Int) = Extended.exactQuantiles(df, "g", specs,
          histMaxGroups = h)
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
      val hist = run(4096)
      val win = run(0)
      hist.keySet == win.keySet &&
        hist.forall { case (k, v) => math.abs(v - win(k)) < 1e-9 }
    }

  property("default (drop) mode returns exactly the groups with any non-NULL value") =
    Prop.forAll(datasetGen, qGen) { (rows, q) =>
      import spark.implicits._
      val df = rows.toDF("g", "a", "b")
      val got = Extended
        .exactQuantiles(df, "g", Seq(("a", "qa", q), ("b", "qb", q)))
        .collect().map(r => Option(r.get(0))).toSet
      val want = rows.filter(r => r._2.isDefined || r._3.isDefined)
        .map(_._1.map(_.asInstanceOf[Any])).toSet
      got == want
    }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RangeBinJoin optimizer rule: a declarative
  * `JOIN ON p >= lo AND p <= hi` must plan as the binned equi-join
  * (no nested loop), return exactly the brute-force rows with
  * multiplicity, honor strict bounds, and out-of-scope shapes must
  * pass through untouched.
  */
class RangeRuleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val pts: Seq[Double] = Seq(0.5, 1.0, 7.9, 8.0, 15.0, 20.9, 21.0,
    36.5, 37.0, 50.0, 51.0, -3.0, -9.0)
  // ("b1", 8, 21) twice: multiplicity must be preserved; one interval
  // spans negative buckets; one is inverted (matches nothing).
  private val bands: Seq[(String, Double, Double)] = Seq(
    ("b0", 1.0, 8.0), ("b1", 8.0, 21.0), ("b1", 8.0, 21.0),
    ("b2", 21.0, 37.0), ("bn", -10.0, 0.0), ("inv", 30.0, 10.0))

  test("declarative closed-range join: no nested loop, equals brute force") {
    import spark.implicits._
    val l = pts.toDF("p")
    val r = bands.toDF("band", "lo", "hi")
    val joined = l.join(r, col("p") >= col("lo") && col("p") <= col("hi"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"rule did not fire, plan:\n$plan")
    val got = joined.collect().map(x => (x.getDouble(0), x.getString(1)))
      .sorted.toSeq
    val brute = (for {
      p <- pts; (b, lo, hi) <- bands if p >= lo && p <= hi
    } yield (p, b)).sorted
    assert(got == brute)
    // the duplicated b1 interval must double its matches
    assert(got.count(_ == (15.0, "b1")) == 2)
  }

  test("strict bounds and residual conjuncts survive the rewrite exactly") {
    import spark.implicits._
    val l = pts.toDF("p")
    val r = bands.toDF("band", "lo", "hi")
    val joined = l.join(r,
      col("p") >= col("lo") && col("p") < col("hi")
        && col("band") =!= "bn")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"plan:\n$plan")
    val got = joined.collect().map(x => (x.getDouble(0), x.getString(1)))
      .sorted.toSeq
    val brute = (for {
      p <- pts; (b, lo, hi) <- bands if p >= lo && p < hi && b != "bn"
    } yield (p, b)).sorted
    assert(got == brute, "half-open boundary points must drop")
  }

  test("nulls drop exactly like the un-rewritten join") {
    import spark.implicits._
    val l = Seq(Some(5.0), None).toDF("p")
    val r = Seq(("a", Some(1.0), Some(8.0)), ("n", None, Some(8.0)))
      .toDF("band", "lo", "hi")
    val joined = l.join(r, col("p") >= col("lo") && col("p") <= col("hi"))
    val got = joined.collect().map(x => (x.getDouble(0), x.getString(1)))
    assert(got.toSeq == Seq((5.0, "a")))
  }

  test("equi-key joins and outer joins stay un-rewritten") {
    import spark.implicits._
    // hand-binned shape: bucket equality + range verify in one
    // condition — must not be re-blocked.
    val l = Seq((15.0, 1L)).toDF("p", "kb")
    val r = Seq(("b1", 8.0, 21.0, 1L)).toDF("band", "lo", "hi", "kb2")
    val keyed = l.join(r, col("kb") === col("kb2")
      && col("p") >= col("lo") && col("p") <= col("hi"))
    val kp = keyed.queryExecution.executedPlan.toString
    assert(!kp.contains("Generate explode"),
      s"rule re-blocked an equi-key join, plan:\n$kp")
    assert(keyed.count() == 1)
    val lo = pts.toDF("p")
    val ro = bands.toDF("band", "lo", "hi")
    val outer = lo.join(ro,
      col("p") >= col("lo") && col("p") <= col("hi"), "left")
    val op = outer.queryExecution.executedPlan.toString
    assert(op.contains("NestedLoop") || op.contains("CartesianProduct"),
      s"outer join must pass through, plan:\n$op")
  }

  test("one-sided range predicates pass through (no sandwich, no rewrite)") {
    import spark.implicits._
    val l = pts.toDF("p")
    val r = bands.toDF("band", "lo", "hi")
    val joined = l.join(r, col("p") >= col("lo"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("NestedLoop") || plan.contains("CartesianProduct"),
      s"a lone lower bound must not be binned, plan:\n$plan")
    assert(joined.count() ==
      (for { p <- pts; (_, lo, _) <- bands if p >= lo } yield 1).size.toLong)
  }

  test("NaN/Inf bounds fall to the residual and match the un-rewritten join exactly") {
    import spark.implicits._
    // hi = NaN admits EVERY point under Spark's NaN-greatest ordering
    // (p <= NaN is always true); hi = +Inf likewise. The pre-r10
    // rewrite silently dropped those matches (NaN buckets to 0) or
    // threw on the infinite sequence; the residual now carries them.
    val bad = Seq(("ok", 1.0, 8.0), ("nan", 1.0, Double.NaN),
      ("inf", 1.0, Double.PositiveInfinity),
      ("ninf", Double.NegativeInfinity, 8.0))
    val l = pts.toDF("p")
    val r = bad.toDF("band", "lo", "hi")
    val joined = l.join(r, col("p") >= col("lo") && col("p") <= col("hi"))
    val got = joined.collect().map(x => (x.getDouble(0), x.getString(1)))
      .sorted.toSeq
    def le(a: Double, b: Double): Boolean =
      java.lang.Double.compare(a, b) <= 0
    val want = (for {
      p <- pts; (b, lo, hi) <- bad if le(lo, p) && le(p, hi)
    } yield (p, b)).sorted
    assert(got == want, s"got $got want $want")
  }

  test("a sentinel-span interval (SCD2 end-of-time) no longer fails the query") {
    import spark.implicits._
    // 40 sane bands plus one [0, 2.5e17] sentinel: the outlier's span
    // is ~1e16 buckets at the probed width — the pre-r10 rewrite threw
    // 'Too long sequence'; now it routes to the residual exactly.
    val bandRows = (0 until 40).map(i =>
      (s"b$i", i * 20.0, i * 20.0 + 10.0)) :+ ("sent", 0.0, 2.53e17)
    val l = pts.toDF("p")
    val r = bandRows.toDF("band", "lo", "hi")
    val joined = l.join(r, col("p") >= col("lo") && col("p") <= col("hi"))
    val got = joined.collect().map(x => (x.getDouble(0), x.getString(1)))
      .sorted.toSeq
    val want = (for {
      p <- pts; (b, lo, hi) <- bandRows if p >= lo && p <= hi
    } yield (p, b)).sorted
    assert(got == want)
    // every non-negative point sits inside the sentinel interval —
    // proof the residual branch kept it rather than dropping it
    assert(got.count(_._2 == "sent") == pts.count(p => p >= 0.0))
  }

  test("the bin width adapts to the data's interval lengths (stats probe)") {
    import spark.implicits._
    def fire(rows: Seq[(String, Double, Double)]): Double = {
      val l = pts.toDF("p")
      val r = rows.toDF("band", "lo", "hi")
      TestSpark.bucketWidth(l.join(r, col("p") >= col("lo") && col("p") <= col("hi")))
    }
    // quantity-scale bands (~10 wide) and epoch-scale bands (~40000
    // wide) through the SAME rule: the probed median, quantized to a
    // power of two, must land within 2x of each scale.
    val narrow = (0 until 50).map(i => (s"n$i", i * 20.0, i * 20.0 + 10.0))
    val wide = (0 until 50).map(i => (s"w$i", i * 1e5, i * 1e5 + 40000.0))
    val wNarrow = fire(narrow)
    assert(wNarrow >= 5.0 && wNarrow <= 20.0,
      s"narrow-band width should track ~10, got $wNarrow")
    val wWide = fire(wide)
    assert(wWide >= 20000.0 && wWide <= 80000.0,
      s"wide-band width should track ~40000, got $wWide")
  }

  test("q_range_join plans NestedLoop-free through the rule") {
    val p = SparkEntry.queries("q_range_join")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
  }

  test("the rule fires on the spark.sql TEXT path (q_sql_range's plan)") {
    // The q_sql_jaccard contract for the range rule: the SAME
    // byte-identical ANSI string q_sql_range executes (VALUES-CTE
    // bands, DECIMAL literal bounds) must plan NestedLoop-free.
    import spark.implicits._
    Seq(1.0, 5.0, 8.0, 20.0, 21.0, 37.0, 50.0, 51.0)
      .toDF("l_quantity").createOrReplaceTempView("lineitem")
    val q = spark.sql(graft.operators.Relational.SqlRangeText)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"rule did not fire on the SQL-text path, plan:\n$p")
    // Half-open [lo, hi) semantics through the parsed DECIMAL bounds:
    // 8 lands in p1 not p0, 21 in p2 not p1, 51 drops entirely.
    val rows = q.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("p0", 2L, 6L), ("p1", 2L, 28L),
      ("p2", 1L, 21L), ("p3", 2L, 87L)), s"got $rows")
  }
}

package graft

import graft.plans.IntervalOverlapJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The IntervalOverlapJoin optimizer rule: a declarative
  * `JOIN ON a.lo <= b.hi AND b.lo <= a.hi` must plan as the binned
  * equi-join (no nested loop), return exactly the brute-force pairs
  * WITH multiplicity (the canonical shared-bucket filter), and
  * out-of-scope shapes must pass through untouched.
  */
class IntervalRuleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val G = IntervalOverlapJoin.BinWidth

  // Spans chosen to cross several 1800-wide buckets (multi-bucket
  // matches exercise the canonical filter), plus touching endpoints,
  // a duplicate row (multiplicity), a negative span, and an inverted
  // interval whose RAW predicate can still hold.
  private val ls: Seq[(String, Double, Double)] = Seq(
    ("L0", 0.0, 4000.0), ("L1", 3600.0, 3600.0), ("L2", 9000.0, 12600.0),
    ("L2", 9000.0, 12600.0), ("L3", -5000.0, -100.0), ("Linv", 7000.0, 5000.0))
  private val rs: Seq[(String, Double, Double)] = Seq(
    ("R0", 3500.0, 10000.0), ("R1", 4000.0, 4000.0), ("R2", 12600.0, 20000.0),
    ("R3", -200.0, 100.0), ("R4", 5500.0, 6500.0))

  private def brute(pred: ((String, Double, Double), (String, Double, Double)) => Boolean)
      : Seq[(String, String)] =
    (for (l <- ls; r <- rs if pred(l, r)) yield (l._1, r._1)).sorted

  test("declarative overlap join: no nested loop, equals brute force with multiplicity") {
    import spark.implicits._
    val l = ls.toDF("la", "lo1", "hi1")
    val r = rs.toDF("rb", "lo2", "hi2")
    val joined = l.join(r,
      col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"rule did not fire, plan:\n$p")
    val got = joined.collect().map(x => (x.getString(0), x.getString(3)))
      .sorted.toSeq
    val want = brute { case ((_, lo1, hi1), (_, lo2, hi2)) =>
      lo1 <= hi2 && lo2 <= hi1
    }
    assert(got == want)
    // the duplicated L2 row must double every one of its matches
    assert(got.count(_ == ("L2", "R0")) == 2)
    // multi-bucket overlaps must appear exactly once per row pair
    assert(got.count(_ == ("L0", "R0")) == 1,
      "canonical filter must collapse multi-bucket matches")
    // the inverted-interval row's raw-predicate matches must survive
    assert(want.exists(_._1 == "Linv") == got.exists(_._1 == "Linv"))
  }

  test("strict bounds and residual conjuncts survive the rewrite exactly") {
    import spark.implicits._
    val l = ls.toDF("la", "lo1", "hi1")
    val r = rs.toDF("rb", "lo2", "hi2")
    val joined = l.join(r,
      col("lo1") < col("hi2") && col("lo2") < col("hi1")
        && col("rb") =!= "R4")
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
    val got = joined.collect().map(x => (x.getString(0), x.getString(3)))
      .sorted.toSeq
    assert(got == brute { case ((_, lo1, hi1), (b, lo2, hi2)) =>
      lo1 < hi2 && lo2 < hi1 && b != "R4"
    }, "touching endpoints must drop under strict bounds")
  }

  test("nulls drop exactly like the un-rewritten join") {
    import spark.implicits._
    val l = Seq(("a", Some(1.0), Some(5.0)), ("n", None, Some(5.0)))
      .toDF("la", "lo1", "hi1")
    val r = Seq(("b", Some(4.0), Some(9.0)), ("m", Some(4.0), None))
      .toDF("rb", "lo2", "hi2")
    val joined = l.join(r,
      col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
    assert(joined.collect().map(x => (x.getString(0), x.getString(3)))
      .toSeq == Seq(("a", "b")))
  }

  test("equi-key joins, outer joins, and same-direction pairs pass through") {
    import spark.implicits._
    val l = ls.toDF("la", "lo1", "hi1")
    val r = rs.toDF("rb", "lo2", "hi2")
    val keyed = l.withColumn("k", lit(1))
      .join(r.withColumn("k2", lit(1)),
        col("k") === col("k2")
          && col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
    assert(!keyed.queryExecution.executedPlan.toString
      .contains("Generate explode"), "equi-key join must not be re-blocked")
    val outer = l.join(r,
      col("lo1") <= col("hi2") && col("lo2") <= col("hi1"), "left")
    val po = outer.queryExecution.executedPlan.toString
    assert(po.contains("NestedLoop") || po.contains("CartesianProduct"),
      s"outer join must pass through, plan:\n$po")
    // two inequalities in the SAME direction are not an overlap sandwich
    val same = l.join(r, col("lo1") <= col("hi2") && col("hi1") <= col("lo2"))
    val ps = same.queryExecution.executedPlan.toString
    // both run L→R: no R→L conjunct, so the rule must not fire
    assert(ps.contains("NestedLoop") || ps.contains("CartesianProduct"),
      s"same-direction pair must pass through, plan:\n$ps")
  }

  test("q_session_overlap plans the binned equi-join with only guarded residuals") {
    // The session frames are runtime data (checkpoints), so the rule
    // cannot prove their spans safe at plan time: the main branch must
    // be the bucket equi-join, and the ONLY nested loops allowed are
    // the two hint-broadcast residual branches over the span-guard
    // filters (empty on sane data — AQE deletes them at runtime).
    val p = SparkEntry.queries("q_session_overlap")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(p.contains("Generate explode(__graft_iks"),
      s"binned branch missing, plan:\n$p")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nlj <= 2, s"expected at most the two guarded residuals, got $nlj:\n$p")
  }

  test("NaN/Inf bounds fall to the residual and match the un-rewritten join exactly") {
    import spark.implicits._
    // hi2 = NaN overlaps EVERYTHING under Spark's NaN-greatest
    // ordering (lo1 <= NaN is true for every lo1); +Inf likewise; the
    // pre-r10 rewrite silently dropped those matches (NaN has no
    // bucket) or threw (infinite sequence). Compare against the
    // rule-disabled session to pin exact equality.
    val lrows = Seq(("L0", 0.0, 4000.0), ("Ln", Double.NaN, Double.NaN),
      ("Li", 0.0, Double.PositiveInfinity))
    val rrows = Seq(("R0", 3500.0, 10000.0), ("Rn", 100.0, Double.NaN),
      ("Ri", Double.NegativeInfinity, 50.0))
    val l = lrows.toDF("la", "lo1", "hi1")
    val r = rrows.toDF("rb", "lo2", "hi2")
    val joined = l.join(r,
      col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
    val got = joined.collect().map(x => (x.getString(0), x.getString(3)))
      .sorted.toSeq
    // independent reference under Spark's total order (NaN greatest)
    def le(a: Double, b: Double): Boolean =
      java.lang.Double.compare(a, b) <= 0
    val want = (for {
      (la, lo1, hi1) <- lrows; (rb, lo2, hi2) <- rrows
      if le(lo1, hi2) && le(lo2, hi1)
    } yield (la, rb)).sorted
    assert(got == want, s"got $got want $want")
  }

  test("a sentinel-span row (epoch-micros against a seconds width) no longer fails") {
    import spark.implicits._
    // One outlier interval among sane ones: the pre-r10 rewrite threw
    // 'Too long sequence'. Among 41 rows the outlier drags the mean
    // span, and so the width, up with it (it then spans ~56 buckets
    // and stays on the binned path); among many rows it routes to the
    // residual (next test). Either way the query answers exactly.
    val lrows = (0 until 40).map(i =>
      (s"L$i", i * 5000.0, i * 5000.0 + 4000.0)) :+ ("Lsent", 0.0, 2.53e17)
    val l = lrows.toDF("la", "lo1", "hi1")
    val r = rs.toDF("rb", "lo2", "hi2")
    val joined = l.join(r,
      col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
    val got = joined.collect().map(x => (x.getString(0), x.getString(3)))
      .sorted.toSeq
    val want = (for {
      (la, lo1, hi1) <- lrows; (rb, lo2, hi2) <- rs
      if lo1 <= hi2 && lo2 <= hi1
    } yield (la, rb)).sorted
    assert(got == want)
    // the sentinel matches everything, and every match survives on
    // the path it took
    assert(got.count(_._1 == "Lsent") == rs.size)
  }

  test("a sentinel-span row among many sane rows takes the residual") {
    import spark.implicits._
    // 400 sane rows keep the mean span near 6e14, so the sentinel
    // spans ~450 buckets, past the cap: the probe's max finite length
    // switches the residual on and the outlier joins exactly there.
    val lrows = (0 until 400).map(i =>
      (s"L$i", i * 5000.0, i * 5000.0 + 4000.0)) :+ ("Lsent", 0.0, 2.53e17)
    val l = lrows.toDF("la", "lo1", "hi1")
    val r = rs.toDF("rb", "lo2", "hi2")
    val joined = l.join(r,
      col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), s"residual missing, plan:\n$p")
    val got = joined.collect().map(x => (x.getString(0), x.getString(3)))
      .sorted.toSeq
    val want = (for {
      (la, lo1, hi1) <- lrows; (rb, lo2, hi2) <- rs
      if lo1 <= hi2 && lo2 <= hi1
    } yield (la, rb)).sorted
    assert(got == want)
    assert(got.count(_._1 == "Lsent") == rs.size)
  }

  test("the bin width tracks the MEAN span when most intervals are points") {
    import spark.implicits._
    // 95 zero-length intervals and 5 of 800: the median is 0 (it
    // would give the BinWidth fallback), the mean is 40. Both the
    // driver-side path (a local side) and the probe job (a
    // checkpointed side) must land within 2x of the mean.
    val rows = (0 until 100).map(i =>
      (s"i$i", i * 1000.0, i * 1000.0 + (if (i % 20 == 0) 800.0 else 0.0)))
    def width(l: org.apache.spark.sql.DataFrame): Double = {
      val r = l.toDF("rb", "lo2", "hi2")
      TestSpark.bucketWidth(l.join(r, col("lo1") <= col("hi2") && col("lo2") <= col("hi1")))
    }
    val local = rows.toDF("la", "lo1", "hi1")
    for ((name, side) <- Seq("local" -> local, "checkpointed" -> local.localCheckpoint())) {
      val w = width(side)
      assert(w >= 20.0 && w <= 80.0 && w != G, s"$name side: width $w, mean span 40")
    }
  }

  test("the bin width adapts to the data's interval lengths (stats probe)") {
    import spark.implicits._
    def fire(rows: Seq[(String, Double, Double)]): Double = {
      val l = rows.toDF("la", "lo1", "hi1")
      val r = rows.toDF("rb", "lo2", "hi2")
      TestSpark.bucketWidth(l.join(r, col("lo1") <= col("hi2") && col("lo2") <= col("hi1")))
    }
    // short sessions (~40s) and long shifts (~40000s) through the SAME
    // rule: each must get a width at its own scale — the probed mean
    // quantized to a power of two, within 2x either side.
    val short = (0 until 50).map(i => (s"s$i", i * 100.0, i * 100.0 + 40.0))
    val long = (0 until 50).map(i => (s"l$i", i * 1e5, i * 1e5 + 40000.0))
    val wShort = fire(short)
    assert(wShort >= 20.0 && wShort <= 80.0,
      s"short-session width should track ~40s, got $wShort")
    val wLong = fire(long)
    assert(wLong >= 20000.0 && wLong <= 80000.0,
      s"long-shift width should track ~40000s, got $wLong")
  }

  test("the rule fires on the spark.sql TEXT path (q_sql_interval's plan)") {
    // The q_sql_jaccard contract for interval overlap: the SAME ANSI
    // string q_sql_interval executes over its view must plan
    // NestedLoop-free through the parser/analyzer path.
    import spark.implicits._
    Seq( // user 1 ∩ user 2 = [750, 2000] → ov 1250 → bucket 2;
      // user 3 overlaps nobody; same-user pairs excluded by <.
      (1L, 0L, 2000L), (2L, 750L, 3000L), (3L, 10000L, 10100L))
      .toDF("user_id", "st_s", "en_s")
      .createOrReplaceTempView("sess_sql_iv")
    val q = spark.sql(graft.operators.EventsOps.SqlIntervalText)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"rule did not fire on the SQL-text path, plan:\n$p")
    assert(p.contains("Generate explode"), s"binned plan missing:\n$p")
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((2L, 1L)), s"got $rows")
  }
}

package graft

import graft.operators.{Arms, EventsOps}
import java.sql.Timestamp
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Hand-exact pins for the round-11 classical-statistics additions:
  * Kendall τ-b (closed-form concordance on planted grids), quantile
  * treatment effects (a pure location shift moves every quantile by
  * exactly the shift), CMH (Simpson's setup — marginal lift, zero
  * stratified effect — reads null where the pooled test fires), and
  * the runs test (perfect alternation vs two blocks).
  */
class Round11StatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")

  test("kendall: perfect monotone grid reads tau_b = 1, anti-monotone -1") {
    import spark.implicits._
    // y = 10x, no ties anywhere: every pair concordant.
    val up = (1L to 12L).map(i => (i, 10 * i)).toDF("x", "y")
    val got = EventsOps.kendallTau(up).collect()(0)
    assert(got.getLong(0) == 12)
    assert(got.getDouble(1) == 1.0, s"tau_b ${got.getDouble(1)}")
    // Reversed: every pair discordant.
    val down = (1L to 12L).map(i => (i, -10 * i)).toDF("x", "y")
    assert(EventsOps.kendallTau(down).collect()(0).getDouble(1) == -1.0)
  }

  test("kendall: tie-heavy 2x2 grid matches the closed-form tau_b") {
    import spark.implicits._
    // Cells: (0,0)x3, (0,1)x1, (1,0)x1, (1,1)x3. C = 3*3 = 9,
    // D = 1*1 = 1; n = 8, ties: tx = {4,4}, ty = {4,4} ->
    // dx = dy = 8*7 - 2*4*3 = 32; tau_b = (9-1)/sqrt(16*16) = 0.5.
    val rows = Seq.fill(3)((0L, 0L)) ++ Seq((0L, 1L), (1L, 0L)) ++
      Seq.fill(3)((1L, 1L))
    val got = EventsOps.kendallTau(rows.toDF("x", "y")).collect()(0)
    assert(got.getDouble(1) == 0.5, s"tau_b ${got.getDouble(1)}")
  }

  test("quantile TE: a pure location shift moves every quantile by the shift") {
    import spark.implicits._
    // Arm A (even users): values 1..40 dollars; arm B (odd users):
    // the same values + 7.25. Every quantile effect is exactly 7.25.
    val rows = (1L to 40L).flatMap(i => Seq(
      (2 * i, "buy", i.toDouble),
      (2 * i + 1, "buy", i.toDouble + 7.25)))
    val got = EventsOps.quantileTe(
      rows.toDF("user_id", "event_type", "value")).collect()
    assert(got.length == 3)
    for (r <- got) {
      assert(r.getDouble(4) == 7.25,
        s"p=${r.getDouble(1)}: qte ${r.getDouble(4)}")
      assert(r.getDouble(3) == r.getDouble(2) + 7.25)
    }
    // And the quantile values themselves: k = ceil(p*40) -> 10/20/30.
    assert(got.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0, 30.0))
  }

  test("CMH: Simpson's setup reads null where the pooled test fires") {
    import spark.implicits._
    // Day 1: arm0 heavy traffic, 50% convert both arms (40/80 vs
    // 10/20). Day 2: arm1 heavy traffic, 10% convert both arms
    // (2/20 vs 8/80). Within every day the arms are IDENTICAL, but
    // pooled arm0 converts 42/100 vs arm1 18/100 — the classic
    // confound-by-day. CMH must read exactly zero effect.
    def burst(day: Int, grp: Long, conv: Int, total: Int, base: Long) =
      (0 until total).map { i =>
        val u = base + 2 * i + grp
        (u, if (i < conv) "purchase" else "view", ts(day))
      }
    val rows = burst(1, 0, 40, 80, 1000) ++ burst(1, 1, 10, 20, 3000) ++
      burst(2, 0, 2, 20, 5000) ++ burst(2, 1, 8, 80, 7000)
    val got = EventsOps.cmhTest(
      rows.toDF("user_id", "event_type", "ts"), "purchase").collect()(0)
    assert(got.getLong(0) == 2 && got.getLong(1) == 200)
    assert(got.getDouble(2) == 0.0, s"cmh_chi2 ${got.getDouble(2)}")
    assert(got.getDouble(3) == 1.0, s"or_mh ${got.getDouble(3)}")
    assert(got.getLong(4) == 0)
    // Sanity: the pooled chi-square DOES fire on the same rows.
    val pooled = EventsOps.chisqIndependence(
      rows.map { case (u, t, _) => (u, t) }.toDF("user_id", "event_type"))
      .collect()(0)
    assert(pooled.getLong(7) == 1, s"pooled should reject: $pooled")
  }

  test("TOST: within-margin nudge is equivalent, out-of-margin lift is not") {
    import spark.implicits._
    // 'same': identical arm distributions (diff 0, margin $20 clears
    // easily). 'lift': arm B = arm A + $50 — outside the margin, so
    // the lower one-sided test must fail. ±$1 jitter gives a
    // nonzero Welch se.
    val rows = (0L until 100L).flatMap { i =>
      val jit = if (i % 2 == 0) 1.0 else -1.0
      Seq((2 * i, "same", 100.0 + jit), (2 * i + 1, "same", 100.0 + jit),
        (2 * i, "lift", 100.0 + jit), (2 * i + 1, "lift", 150.0 + jit))
    }
    val got = EventsOps.tostEquivalence(
      rows.toDF("user_id", "event_type", "value"), EventsOps.TostMarginCents)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getLong(5)))).toMap
    assert(got("same") == ((0.0, 1L)), s"same: ${got("same")}")
    assert(got("lift")._1 == -50.0 && got("lift")._2 == 0L,
      s"lift: ${got("lift")}")
  }

  test("Holm: step-down rejects the lifted types, keeps the null") {
    import spark.implicits._
    def arm(tpe: String, base: Double, lift: Double) =
      (0L until 60L).flatMap { i =>
        val jit = if (i % 2 == 0) 2.0 else -2.0
        Seq((2 * i, tpe, base + jit), (2 * i + 1, tpe, base + lift + jit))
      }
    val rows = arm("a", 100, 80) ++ arm("b", 100, 50) ++
      arm("c", 100, 40) ++ arm("nul", 100, 0)
    val got = EventsOps.holmReadout(EventsOps.welchScored(
      Arms.powerSums(Arms.armed(rows.toDF("user_id", "event_type", "value"),
        Seq(col("event_type"))))))
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(got == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "nul" -> 0L),
      s"got $got")
  }

  test("Ljung-Box: a square wave fires, a lone spike does not") {
    import spark.implicits._
    val wave = (0L until 48L).map(t => (t, if (t % 2 == 0) 0L else 10L))
    val gotW = EventsOps.ljungBox(wave.toDF("t", "x"), 12).collect()(0)
    assert(gotW.getLong(4) == 1, s"square wave must fire: $gotW")
    val spike = (0L until 50L).map(t => (t, if (t == 0) 1L else 0L))
    val gotS = EventsOps.ljungBox(spike.toDF("t", "x"), 12).collect()(0)
    assert(gotS.getLong(4) == 0, s"lone spike must not fire: $gotS")
  }

  test("EWMA control: a sustained +30 shift crosses at the predicted hour") {
    import spark.implicits._
    // 30 hours at 100, then 10 at 130. z_t = 130 - 30*0.8^(t-29)
    // crosses mu + sigma (= 107.5 + 13.156) at t = 35 exactly.
    val rows = (0L until 40L).map(t => (t, if (t < 30) 100L else 130L))
    val got = EventsOps.ewmaControl(rows.toDF("t", "x")).collect()(0)
    assert(got.getLong(0) == 40)
    assert(got.getDouble(1) == 107.5)
    assert(got.getLong(3) == 5, s"n_ooc ${got.getLong(3)}")
    assert(got.getLong(4) == 35, s"first_ooc_t ${got.getLong(4)}")
  }

  test("runs: perfect alternation reads z > 0, two blocks z < 0") {
    import spark.implicits._
    // 'alt': daily totals alternate 1,9,1,9,... over 20 days ->
    // maximal runs. 'blk': 10 low days then 10 high days -> 2 runs.
    val rows = (1 to 20).flatMap { d =>
      Seq(("alt", ts(d), if (d % 2 == 0) 9.0 else 1.0),
        ("blk", ts(d), if (d <= 10) 1.0 else 9.0))
    }
    val got = EventsOps.runsTest(rows.toDF("event_type", "ts", "value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    val (altRuns, altZ, altRandom) = got("alt")
    val (blkRuns, blkZ, blkRandom) = got("blk")
    assert(altRuns == 20 && altZ > 1.96 && altRandom == 0,
      s"alt: $altRuns $altZ")
    assert(blkRuns == 2 && blkZ < -1.96 && blkRandom == 0,
      s"blk: $blkRuns $blkZ")
  }
}

package graft

import graft.operators.EventsOps
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral contracts for this session's additions, starting with
  * the RFM scorer: a planted 4-user cohort whose exact quartile
  * boundaries (and therefore 1-4 scores) are derivable by hand.
  */
class Round9OpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** 6dp HALF_UP — the engines' shared rounding grid. */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue

  // ---- q_rfm ----

  test("rfmScored assigns hand-derived quartile scores on a planted cohort") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-31 00:00:00")
    def at(daysBefore: Int) =
      new java.sql.Timestamp(base.getTime - daysBefore * 86400000L)
    // Purchases per user: u1 is best on all three axes, u4 worst.
    //   recency days:   u1=0  u2=10 u3=20 u4=30  → quartiles 7.5/15/22.5
    //   frequency:      u1=8  u2=4  u3=2  u4=1   → quartiles 1.75/3/5
    //   monetary (sum): u1=8  u2=4  u3=2  u4=1   → same boundaries ×1e6
    val rows =
      (1 to 8).map(i => (1L, at(if (i == 1) 0 else 5), "purchase", 1.0)) ++
        (1 to 4).map(_ => (2L, at(10), "purchase", 1.0)) ++
        (1 to 2).map(_ => (3L, at(20), "purchase", 1.0)) ++
        Seq((4L, at(30), "purchase", 1.0),
          // non-purchase event pins the anchor at `base`
          (5L, at(0), "view", 0.0))
    val ev = rows.toDF("user_id", "ts", "event_type", "value")
    val got = EventsOps.rfmScored(ev)
      .select("user_id", "r_score", "f_score", "m_score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 4L, 4L, 4L), (2L, 3L, 3L, 3L), (3L, 2L, 2L, 2L), (4L, 1L, 1L, 1L)))
  }

  // ---- q_kcore ----

  test("corePeelTrace peels a weak pendant off a heavy triangle") {
    import spark.implicits._
    // Triangle 1-2-3 (w=10 each; weighted degrees 20/20/21) plus a
    // pendant 4 hanging off node 3 (w=1; degree 1). W=31, n=4, avg
    // weighted degree 15.5 → T = ceil(0.9·15.5) = 14. Round 1 peels
    // the pendant; the triangle survives every later round.
    val und = Seq((1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L), (3L, 4L, 1L))
      .toDF("u", "v", "w")
    val got = graft.operators.GraphOps.corePeelTrace(und)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.head == (0L, 4L, 4L))
    assert(got.tail.map(t => (t._2, t._3)).forall(_ == (3L, 3L)))
    assert(got.map(_._1) == (0L to 6L))
  }

  // ---- q_lpa_modularity ----

  test("lpaModularity separates two planted cliques across a weak bridge") {
    import spark.implicits._
    // Two triangles (internal w=5) bridged by one w=1 edge. Hand-run
    // LPA converges to communities {1,2,3} and {11,12,13}; modularity
    // num = 2·(2·15·62 − 31²) = 1798, m2² = 3844 → Q ≈ 0.467742.
    val und = Seq(
      (1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L),
      (11L, 12L, 5L), (11L, 13L, 5L), (12L, 13L, 5L),
      (3L, 11L, 1L)).toDF("u", "v", "w")
    val got = graft.operators.GraphOps.lpaModularity(und).collect()
    assert(got.length == 2)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 11L))
    assert(got.forall(_.getLong(1) == 3L))     // n_nodes
    assert(got.forall(_.getLong(2) == 15L))    // in_w
    assert(got.forall(_.getLong(3) == 31L))    // tot_w
    assert(got.forall(_.getDouble(4) == 0.467742))
  }

  // ---- q_mv_join_incremental ----

  test("q_mv_join_incremental: delta-merge equals a direct full recompute") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_mv_join_incremental")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long").as("cents"))
    val full = li
      .join(graft.Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        (sum(col("cents")) / 100.0).cast("double").as("revenue"))
      .orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == full)
  }

  test("q_mv_join_incremental: the merge never rescans base history") {
    // The persisted base view enters as a checkpointed RDD scan; raw
    // lineitem appears exactly once in the refresh plan (the delta).
    val p = SparkEntry.queries("q_mv_join_incremental")(spark, dir)
      .queryExecution.executedPlan.toString
    val lineitemScans = "lineitem".r.findAllIn(p).length
    assert(p.contains("Scan ExistingRDD"), s"plan:\n$p")
    assert(lineitemScans <= 2, // path + pushed-filter mention of ONE scan
      s"base history rescanned, plan:\n$p")
  }

  // ---- q_file_skipping ----

  test("q_file_skipping: range layout prunes files and loses no rows") {
    import org.apache.spark.sql.functions._
    // Replicate the layout + manifest to check the pruning ratio: a
    // half-year slice of a 1995-2001 shipdate span must skip most of
    // the 8 range-partitioned files.
    val out = graft.operators.Scratch.dir()
    graft.Tables.lineitem(spark, dir)
      .select(col("l_shipdate").cast("timestamp").as("l_shipdate"))
      .repartitionByRange(8, col("l_shipdate"))
      .write.parquet(out)
    val manifest = spark.read.parquet(out)
      .groupBy(input_file_name().as("file"))
      .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
      .collect()
    val d1 = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val d2 = java.sql.Timestamp.valueOf("1996-07-01 00:00:00")
    val surviving = manifest.count(r =>
      !r.getTimestamp(2).before(d1) && r.getTimestamp(1).before(d2))
    assert(manifest.length == 8, s"expected 8 files, got ${manifest.length}")
    assert(surviving <= 2, s"pruning too weak: $surviving of 8 files survive")
    // and the query's answer equals a plain full scan under the filter
    val got = SparkEntry.queries("q_file_skipping")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = graft.Tables.lineitem(spark, dir)
      .filter(col("l_shipdate").cast("timestamp") >= lit(d1)
        && col("l_shipdate").cast("timestamp") < lit(d2))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.functions.Portable.exactSum(
          col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == full)
  }

  // ---- q_markov_absorb ----

  test("markovAbsorb on a planted self-loop chain equals 1 - 0.5^k") {
    import spark.implicits._
    // a → purchase with p=0.5, a → a with p=0.5: hitting probability
    // within 5 steps is 1 − 0.5⁵ = 0.96875 (exact in binary, so the
    // 9dp per-round grid never rounds anything).
    val probs = Seq(("a", "purchase", 0.5), ("a", "a", 0.5),
      ("purchase", "a", 1.0)).toDF("src", "dst", "p")
    val got = graft.operators.EventsOps.markovAbsorb(probs, "purchase", 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("a") == 0.96875)
    assert(got("purchase") == 1.0 - 0.0625) // p→a then a absorbs in ≤4
  }

  test("q_markov_absorb probabilities live in [0, 1]") {
    val rows = SparkEntry.queries("q_markov_absorb")(spark, dir).collect()
    assert(rows.length > 0)
    rows.foreach(r => assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  // ---- q_psi_drift ----

  test("q_psi_drift: every PSI term is non-negative and they sum to the index") {
    val rows = SparkEntry.queries("q_psi_drift")(spark, dir).collect()
    assert(rows.nonEmpty)
    // (p−q)·ln(p/q) ≥ 0 for all p,q > 0 — a theorem, so any negative
    // term is an arithmetic bug, not drift
    rows.foreach(r => assert(r.getDouble(3) >= 0.0, s"negative term: $r"))
    val psi = rows.head.getDouble(4)
    val sum = rows.map(r => math.round(r.getDouble(3) * 1e6)).sum / 1e6
    assert(math.abs(psi - sum) < 1e-9)
    // the two halves of one uniform stream must NOT read as drifted
    assert(psi < 0.2, s"false drift alarm: $psi")
  }

  // ---- q_ab_test ----

  test("q_ab_test: the hash split partitions events exactly") {
    val r = SparkEntry.queries("q_ab_test")(spark, dir).collect()(0)
    val (na, xa, nb, xb) = (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
    val total = graft.Tables.events(spark, dir).count()
    assert(na + nb == total)
    assert(xa <= na && xb <= nb && xa >= 0 && xb >= 0)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    // both arms populated — a broken hash would dump everyone in one
    assert(na > 0 && nb > 0)
  }

  // ---- q_acf ----

  test("q_acf: 24 lags, every coefficient within [-1, 1] by Cauchy-Schwarz") {
    val rows = SparkEntry.queries("q_acf")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 24L))
    rows.foreach(r => assert(r.getDouble(1).abs <= 1.0 + 1e-9,
      s"|acf| > 1 at lag ${r.getLong(0)}: ${r.getDouble(1)}"))
  }

  // ---- q_ppr ----

  test("q_ppr: mass conserves to ~1 and concentrates above uniform on seeds") {
    val rows = SparkEntry.queries("q_ppr")(spark, dir).collect()
    assert(rows.nonEmpty)
    val mass = rows.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"PPR mass $mass")
    val n = rows.length
    val seedAvg = rows.filter(_.getLong(2) == 1).map(_.getDouble(1)).sum /
      rows.count(_.getLong(2) == 1)
    // restart mass keeps seeds above the uniform score
    assert(seedAvg > 1.0 / n, s"seed avg $seedAvg vs uniform ${1.0 / n}")
  }

  // ---- q_changepoint ----

  test("changepointOf nails a planted level shift exactly") {
    import spark.implicits._
    // 40 hours at 10 then 40 at 20: the only true split is k=40.
    val series = ((0 until 40).map(t => (t.toLong, 10L))
      ++ (40 until 80).map(t => (t.toLong, 20L))).toDF("t", "x")
    val r = graft.operators.EventsOps.changepointOf(series).collect()(0)
    assert(r.getLong(0) == 40L, s"split at ${r.getLong(0)}")
    assert(r.getDouble(1) == 10.0 && r.getDouble(2) == 20.0)
  }

  // ---- q_scd2_merge ----

  test("q_scd2_merge: the seeded merge equals the full rebuild exactly") {
    val merged = SparkEntry.queries("q_scd2_merge")(spark, dir).collect()
      .map(_.toSeq).toSet
    val rebuilt = graft.operators.EventsOps.scd2Of(spark, dir).collect()
      .map(_.toSeq).toSet
    assert(merged == rebuilt)
    assert(merged.nonEmpty)
  }

  // ---- q_bloom_skipping ----

  test("q_bloom_skipping: the bloom manifest prunes most files for a point probe") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Scratch.dir()
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate").cast("timestamp").as("sd"))
    li.repartitionByRange(8, col("sd")).write.parquet(out)
    val key = li.agg(max(col("l_orderkey"))).collect()(0).getLong(0)
    val keyHash = spark.sql(s"SELECT xxhash64(CAST($key AS BIGINT))")
      .collect()(0).getLong(0)
    val manifest = spark.read.parquet(out)
      .groupBy(input_file_name().as("file"))
      .agg(expr("bloom_agg(xxhash64(l_orderkey))").as("bf"))
      .collect()
    assert(manifest.length == 8)
    val surviving = manifest.count { r =>
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bf")))
        .mightContainLong(keyHash)
    }
    // ground truth: one order's lines scatter across shipdate files,
    // so several files LEGITIMATELY hold the key
    val trueFiles = spark.read.parquet(out)
      .filter(col("l_orderkey") === key)
      .select(input_file_name()).distinct().count()
    assert(surviving >= trueFiles, "bloom false negative — impossible")
    assert(surviving <= trueFiles + 1,
      s"FP rate implausible: $surviving survive, $trueFiles real")
    assert(trueFiles < 8, "probe key degenerate: present in every file")
  }

  // ---- q_al_uncertainty ----

  test("q_al_uncertainty: margins ascend and never exceed the vote count") {
    val rows = SparkEntry.queries("q_al_uncertainty")(spark, dir).collect()
    assert(rows.length == 20)
    val margins = rows.map(_.getLong(5))
    for (i <- 1 until margins.length) assert(margins(i) >= margins(i - 1))
    rows.foreach { r =>
      assert(r.getLong(5) == r.getLong(2) - r.getLong(4))
      assert(r.getLong(5) >= 0)
    }
  }

  // ---- q_heaps_law ----

  test("q_heaps_law: cumulative counts are monotone and beta in [0, 1]") {
    val rows = SparkEntry.queries("q_heaps_law")(spark, dir).collect()
    assert(rows.length == 10)
    val toks = rows.map(_.getLong(1)); val vocab = rows.map(_.getLong(2))
    for (i <- 1 until 10) {
      assert(toks(i) > toks(i - 1), "token cumulative not increasing")
      assert(vocab(i) >= vocab(i - 1), "vocabulary shrank")
    }
    val beta = rows.head.getDouble(3)
    assert(beta >= 0.0 && beta <= 1.0, s"beta $beta")
  }

  // ---- q_assortativity ----

  test("q_assortativity: r is a correlation, in [-1, 1]") {
    val r = SparkEntry.queries("q_assortativity")(spark, dir).collect()(0)
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    assert(r.getDouble(2).abs <= 1.0 + 1e-9)
  }

  // ---- q_debounce ----

  test("q_debounce keeps at least one event per key and never more than all") {
    val rows = SparkEntry.queries("q_debounce")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  // ---- q_bootstrap_ci ----

  test("q_bootstrap_ci: the interval brackets the point estimate tightly") {
    val r = SparkEntry.queries("q_bootstrap_ci")(spark, dir).collect()(0)
    val (mean, lo, hi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] excludes mean $mean")
    assert(hi > lo, "degenerate interval")
    // width sanity: a 1k+ sample mean's 95% CI is a few percent wide
    assert((hi - lo) / mean < 0.5, s"CI implausibly wide: [$lo, $hi]")
    assert(r.getLong(3) == 32)
  }

  // ---- q_survival_km ----

  test("kmCurve matches hand-computed Kaplan-Meier on a planted cohort") {
    import spark.implicits._
    // Lifetimes: 1 (death), 2 (censored), 3, 3 (deaths), 5 (censored).
    // S(1) = 1 - 1/5 = 0.8; at t=3 risk set {3,3,5}: S(3) = 0.8·(1/3).
    val per = Seq((1L, 0L), (2L, 1L), (3L, 0L), (3L, 0L), (5L, 1L))
      .toDF("lt", "censored")
    val got = graft.operators.EventsOps.kmCurve(per)
      .orderBy("t_days").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 2)
    assert(got(0) == ((1L, 5L, 1L, 0.8)))
    assert(got(1)._1 == 3L && got(1)._2 == 3L && got(1)._3 == 2L)
    assert(math.abs(got(1)._4 - 0.8 / 3.0) < 1e-4)
  }

  test("kmCurve short-circuits to zero when the last risk set dies out") {
    import spark.implicits._
    val per = Seq((1L, 0L), (2L, 0L)).toDF("lt", "censored")
    val got = graft.operators.EventsOps.kmCurve(per)
      .orderBy("t_days").collect().map(_.getDouble(3))
    assert(got.last == 0.0)
  }

  // ---- q_calibration ----

  test("q_calibration: bins tile [0,1], ECE consistent with the bin table") {
    val rows = SparkEntry.queries("q_calibration")(spark, dir).collect()
    assert(rows.length >= 3, "probabilities did not spread across bins")
    val n = rows.map(_.getLong(1)).sum.toDouble
    val ece = rows.head.getDouble(4)
    val recomputed = rows.map(r =>
      math.round((r.getDouble(3) - r.getDouble(2)).abs * 1e6) * r.getLong(1))
      .sum / 1e6 / n
    assert(math.abs(ece - r6(recomputed)) < 1e-9)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1)
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1)
    }
  }

  // ---- q_gini_activity ----

  test("q_gini_activity: Gini in [0,1) and the top decile holds at least its share") {
    val r = SparkEntry.queries("q_gini_activity")(spark, dir).collect()(0)
    val gini = r.getDouble(2); val top = r.getDouble(3)
    assert(gini >= 0.0 && gini < 1.0)
    // the top floor(N/10) most-active users hold at least their
    // head-count share of events, by definition of sorting
    val nu = r.getLong(0)
    assert(top >= (nu / 10).toDouble / nu - 1e-6, s"top decile share $top")
    assert(top <= 1.0)
  }

  // ---- q_model_auc ----

  test("q_model_auc: both classes populated, AUC in (0.5, 1]") {
    val r = SparkEntry.queries("q_model_auc")(spark, dir).collect()(0)
    assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    assert(r.getLong(1) + r.getLong(2) == r.getLong(0))
    val auc = r.getDouble(3)
    // recency is IN the score, so the model must beat chance
    assert(auc > 0.5 && auc <= 1.0, s"auc $auc")
  }

  // ---- q_next_item_eval ----

  test("q_next_item_eval: hits and cold-starts partition sanely") {
    val r = SparkEntry.queries("q_next_item_eval")(spark, dir).collect()(0)
    val (nTest, nCold, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTest > 0)
    assert(nHit + nCold <= nTest) // cold transitions can never hit
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  // ---- q_vector_audit ----

  test("q_vector_audit flags planted NaN, zero-norm and wrong-dim vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Plant pathologies in a scratch embeddings table and run the
    // same audit expressions through the registry path.
    val good = Array.fill(64)(0.5f)
    val nan = good.updated(3, Float.NaN)
    val zero = Array.fill(64)(0.0f)
    val short = Array.fill(16)(0.5f)
    val d = java.nio.file.Files.createTempDirectory("graft-audit").toString
    Seq((0L, good, 0), (1L, nan, 0), (2L, zero, 0), (3L, short, 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    val r = SparkEntry.queries("q_vector_audit")(spark, d).collect()(0)
    assert(r.getLong(0) == 4)  // n_vectors
    assert(r.getLong(1) == 1)  // bad dim (short)
    assert(r.getLong(3) == 1)  // NaN
    assert(r.getLong(4) == 1)  // zero norm
  }

  // ---- q_sql_shared ----

  test("q_sql_shared: the oracle string IS the executed SQL, and it plans a star join") {
    // Portability by identity, not by twin spellings: the registry's
    // oracle entry must be the very text the engine executes.
    assert(SparkEntry.oracleSql("q_sql_shared").contains("TEMP") == false)
    val df = SparkEntry.queries("q_sql_shared")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    val rows = df.collect()
    assert(rows.length <= 10 && rows.nonEmpty)
    val revs = rows.map(_.getDouble(1))
    for (i <- 1 until revs.length) assert(revs(i) <= revs(i - 1))
  }

  // ---- q_stl_seasonal ----

  test("q_stl_seasonal returns the 5 largest-magnitude residual hours") {
    val rows = SparkEntry.queries("q_stl_seasonal")(spark, dir).collect()
    assert(rows.length == 5)
    val mags = rows.map(r => r.getDouble(3).abs)
    for (i <- 1 until mags.length) assert(mags(i) <= mags(i - 1))
    rows.foreach(r => assert(r.getLong(4) == 0L || r.getLong(4) == 1L))
  }

  // ---- q_holt_winters ----

  test("q_holt_winters equals a sequential Scala fold of the same recurrence") {
    val xs = graft.operators.EventsOps.hourlySeries(spark, dir)
      .orderBy("t").collect().map(_.getLong(1).toDouble)
    var l = xs(0); var b = xs(1) - xs(0)
    for (v <- xs.drop(2)) {
      val nl = r6(0.5 * v + 0.5 * (l + b))
      val nb = r6(0.3 * (nl - l) + 0.7 * b)
      l = nl; b = nb
    }
    val rows = SparkEntry.queries("q_holt_winters")(spark, dir).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getDouble(1) == r6(l + r.getLong(0) * b),
        s"horizon ${r.getLong(0)}")
    }
  }

  // ---- q_rocchio_expand ----

  test("q_rocchio_expand: expansion excludes query terms, ranked by weight") {
    val rows = SparkEntry.queries("q_rocchio_expand")(spark, dir).collect()
    assert(rows.length == 8)
    val terms = rows.map(_.getString(1))
    assert(terms.intersect(Seq("data", "query", "vector")).isEmpty)
    val weights = rows.map(_.getDouble(2))
    for (i <- 1 until weights.length) assert(weights(i) <= weights(i - 1))
    assert(weights.forall(_ >= 0.0)) // idf ≥ 0: df ≤ n_docs
  }

  // ---- q_csv_corrupt ----

  test("q_csv_corrupt: capture is lossless — valid + corrupt = all rows") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_csv_corrupt")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.documents(spark, dir)
    val expectedCorrupt = docs.filter(col("doc_id") % 97 === 0).count()
    val total = docs.count()
    assert(rows("_corrupt") == expectedCorrupt)
    assert(rows.values.sum == total)
  }

  // ---- q_dp_counts ----

  test("q_dp_counts: noise is Laplace-bounded and never zero-information") {
    val rows = SparkEntry.queries("q_dp_counts")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val noise = r.getDouble(2) - r.getLong(1)
      // |u| < 0.5 by construction → |noise| = |ln(1-2|u|)| is finite;
      // P(|noise| > 14) < 1e-6 per draw, and the draws are fixed.
      assert(noise.abs < 14.0, s"noise $noise out of Laplace range")
      assert(r.getDouble(3) == 1.0)
    }
    // the mechanism must actually perturb: not every noise is 0
    assert(rows.exists(r => (r.getDouble(2) - r.getLong(1)).abs > 1e-9))
  }

  // ---- q_shot_boundary ----

  test("shotBoundaries finds the planted scene cut and nothing else") {
    import spark.implicits._
    // Four 16-char frames: two 'a' scenes then two 'z' scenes. Diffs
    // are [0, 400, 0]; threshold 2·mean = 266.7 → exactly one cut.
    val text = "a" * 32 + "z" * 32
    val flat = "a" * 64
    val docs = Seq((1L, text), (2L, flat), (3L, "a" * 8))
      .toDF("doc_id", "text")
    val got = graft.operators.MultimodalOps.shotBoundaries(docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 4L, 2L), (2L, 4L, 1L), (3L, 1L, 1L)))
  }

  // ---- q_equidepth_hist ----

  test("q_equidepth_hist: buckets are equi-depth within interpolation slack") {
    val rows = SparkEntry.queries("q_equidepth_hist")(spark, dir).collect()
    assert(rows.length == 8)
    val counts = rows.map(_.getLong(1))
    val total = counts.sum
    val ideal = total / 8.0
    counts.foreach(c => assert(math.abs(c - ideal) <= ideal * 0.05 + 2,
      s"bucket sizes not equi-depth: ${counts.toSeq}"))
    // buckets tile the domain: hi(b) <= lo(b+1)
    val los = rows.map(_.getDouble(2)); val his = rows.map(_.getDouble(3))
    for (i <- 0 until 7) assert(his(i) <= los(i + 1))
  }

  // ---- q_kanon_generalize ----

  test("q_kanon_generalize: nested grids audit monotonically, one minimal choice") {
    val rows = SparkEntry.queries("q_kanon_generalize")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L))
    val ng = rows.map(_.getLong(1))
    val mg = rows.map(_.getLong(2))
    for (i <- 1 until rows.length) {
      // powers of two nest: div 2w == (div w) div 2, so coarsening can
      // only merge groups
      assert(ng(i) <= ng(i - 1), s"group count rose at w=${rows(i).getLong(0)}")
      assert(mg(i) >= mg(i - 1), s"min group shrank at w=${rows(i).getLong(0)}")
    }
    val k = graft.operators.TextOps.KAnonK
    rows.foreach(r =>
      assert((r.getLong(2) >= k) == (r.getLong(3) == 1L), s"flag wrong: $r"))
    val sat = rows.filter(_.getLong(3) == 1L)
    val chosen = rows.filter(_.getLong(4) == 1L)
    if (sat.nonEmpty) {
      assert(chosen.length == 1, "exactly one minimal satisfying width")
      assert(chosen.head.getLong(0) == sat.map(_.getLong(0)).min)
    } else assert(chosen.isEmpty)
  }

  // ---- q_fim_transform ----

  test("q_fim_transform conserves characters with all parts non-empty") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_fim_transform")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byLang = graft.Tables.documents(spark, dir)
      .filter(length(col("text")) >= 3)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(length(col("text")).cast("long")).as("chars"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (n, chars) = byLang(r.getString(0))
      assert(r.getLong(1) == n)
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == chars,
        "prefix+middle+suffix must conserve total chars")
      // every doc's three parts are provably >= 1 char
      assert(r.getLong(2) >= n && r.getLong(3) >= n && r.getLong(4) >= n)
    }
  }

  // ---- q_schema_evolution ----

  test("q_schema_evolution: merged read nulls exactly the pre-evolution files") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q_schema_evolution")(spark, dir).collect()(0)
    val docs = graft.Tables.documents(spark, dir)
    assert(r.getLong(0) == docs.count())
    assert(r.getLong(1) == docs.filter(col("doc_id") < 400).count(),
      "every gen-1 row (and only those) must surface null lang")
    assert(r.getLong(2) == docs.filter(col("doc_id") >= 400)
      .agg(sum("n_chars")).head().getLong(0))
    assert(r.getLong(3) >= 1)
  }

  // ---- q_schema_rename ----

  test("q_schema_rename: id mapping reunifies the rename the name read cannot") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q_schema_rename")(spark, dir).collect()(0)
    val docs = graft.Tables.documents(spark, dir)
    val gen1 = docs.filter(col("doc_id") % 2 === 0).count()
    assert(r.getLong(0) == docs.count())
    assert(r.getLong(1) == 0L,
      "id-mapped read must carry every gen1 lang into language")
    assert(r.getLong(2) == gen1, "source is null exactly for gen1 rows")
    assert(r.getLong(3) == gen1,
      "the name-based read must miss language for every gen1 row — " +
        "the defect the id mapping exists to fix")
    assert(r.getLong(4) == docs.agg(countDistinct(col("lang")))
      .head().getLong(0))
  }

  // ---- q_gdpr_delete ----

  test("q_gdpr_delete: erasure is total, survivors exact, and files were skipped") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q_gdpr_delete")(spark, dir).collect()(0)
    val ev = graft.Tables.events(spark, dir)
    val del = ev.agg(max(col("user_id"))).head().getLong(0)
    val expectDeleted = ev.filter(col("user_id") === del).count()
    assert(expectDeleted > 0, "the planted request must actually own rows")
    assert(r.getLong(0) == ev.count())
    assert(r.getLong(1) == expectDeleted, "every row of the subject erased")
    assert(r.getLong(2) == r.getLong(0) - expectDeleted)
    assert(r.getLong(4) == 1L,
      "the user-range layout must leave most files untouched")
  }

  // ---- q_theta_rolling ----

  test("q_theta_rolling: trailing-week WAU matches an independent set fold") {
    import org.apache.spark.sql.functions._
    val dayUsers = graft.Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct().collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1))
    val days = dayUsers.map(_._1).distinct.sorted
    val msWeek = 6L * 86400000L
    val got = SparkEntry.queries("q_theta_rolling")(spark, dir).collect()
    assert(got.map(_.getTimestamp(0).getTime).toSeq == days.toSeq)
    for (r <- got) {
      val d = r.getTimestamp(0).getTime
      val win = dayUsers.filter { case (e, _) => e >= d - msWeek && e <= d }
      assert(r.getLong(1) == win.map(_._1).distinct.length.toLong,
        s"window day coverage at $d")
      assert(r.getLong(2) == win.map(_._2).distinct.length.toLong,
        s"WAU at $d")
      assert(r.getLong(3) == 1L, "node-bounded windows stay exact-mode")
    }
    // early partial windows and a full steady state must both occur
    assert(got.head.getLong(1) == 1L && got.last.getLong(1) == 7L)
  }

  // ---- q_dedup_curve ----

  test("q_dedup_curve: thresholds refine — edges and removals monotone non-increasing") {
    val rows = SparkEntry.queries("q_dedup_curve")(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(0.5, 0.75, 1.0))
    val (edges, removed) = (rows.map(_._2), rows.map(_._5))
    assert(edges.zip(edges.tail).forall { case (a, b) => a >= b },
      "raising the threshold can only drop edges")
    assert(removed.zip(removed.tail).forall { case (a, b) => a >= b },
      "component refinement can only reduce removals")
    // identity: removals = dup docs - clusters at every point
    rows.foreach { case (_, _, nd, nc, nr) => assert(nr == nd - nc) }
    assert(rows.head._5 > 0, "the 0.5 point must find real near-dups")
  }

  // ---- q_cuped ----

  test("q_cuped: planted correlated pre-period shrinks variance and de-biases") {
    import spark.implicits._
    // 100 users: X_u = 1000 + u cents (pre), Y_u = 2X_u + small
    // deterministic noise + a 50-cent true treatment lift on odd
    // users. X correlates with parity (odd users have higher X), so
    // the RAW effect is biased upward by ~2 cents; CUPED removes the
    // pre-period imbalance and recovers ~the true 50-cent lift, and
    // with near-perfect X-Y correlation the variance reduction must
    // be large.
    val pre = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val post = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val rows = (0 until 100).flatMap { u =>
      val x = 1000 + u
      val noise = (u * 7) % 5 - 2
      val y = 2 * x + noise + (if (u % 2 == 1) 50 else 0)
      Seq((u.toLong, pre, "view", x / 100.0), (u.toLong, post, "view", y / 100.0))
    }
    val tmp = java.nio.file.Files.createTempDirectory("cuped").toString
    rows.toDF("user_id", "ts", "event_type", "value")
      .write.parquet(s"$tmp/events.parquet")
    val r = SparkEntry.queries("q_cuped")(spark, tmp).collect()(0)
    val (theta, raw, cuped, vr) =
      (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(math.abs(theta - 2.0) < 0.1, s"theta $theta should recover ~2")
    // rho^2 here is NOT ~1: the lift itself is Y-variance uncorrelated
    // with X. var(Y) ~= theta^2 var(X) + Delta^2/4 + var(noise)
    // = 4*833 + 625 + 2, so vr ~= 3333/3960 ~= 0.84 — assert the band.
    assert(vr > 0.8 && vr < 0.9, s"variance reduction $vr outside ~0.84 band")
    val truth = 0.50
    assert(math.abs(cuped - truth) < math.abs(raw - truth),
      s"CUPED ($cuped) must sit closer to the true lift than raw ($raw)")
    assert(math.abs(cuped - truth) < 0.05, s"CUPED estimate $cuped far off")
  }

  // ---- q_srm_check ----

  test("q_srm_check: balanced hash stays quiet; a planted 60/40 skew fires") {
    import spark.implicits._
    // Real data: the sticky hash must not trip the guardrail.
    val real = SparkEntry.queries("q_srm_check")(spark, dir).collect()(0)
    assert(real.getLong(5) == 0L,
      s"uniform hash assignment flagged SRM: chi2=${real.getDouble(4)}")
    assert(real.getLong(0) + real.getLong(1) ==
      graft.Tables.events(spark, dir).select("user_id").distinct().count())
    // Planted: users chosen so the md5 parity lands ~60/40 at n=2000 —
    // build by rejection so the imbalance is exact and deterministic.
    val ts = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    def side(u: Long): Long =
      graft.operators.TextOps.hash60(u.toString) % 2
    val a = (0L until 100000L).filter(side(_) == 0).take(1200)
    val b = (0L until 100000L).filter(side(_) == 1).take(800)
    val rows = (a ++ b).map(u => (u, ts, "view", 1.0))
    val tmp = java.nio.file.Files.createTempDirectory("srm").toString
    rows.toDF("user_id", "ts", "event_type", "value")
      .write.parquet(s"$tmp/events.parquet")
    val r = SparkEntry.queries("q_srm_check")(spark, tmp).collect()(0)
    assert(r.getLong(0) == 1200L && r.getLong(1) == 800L)
    // chi2 = 400^2/2000 = 80 >> 10.828
    assert(r.getDouble(4) == 80.0 && r.getLong(5) == 1L,
      s"planted 60/40 must fire: chi2=${r.getDouble(4)}")
  }

  // ---- q_winsorized_ab ----

  test("q_winsorized_ab: a single whale cannot decide the experiment") {
    import spark.implicits._
    // Both arms draw the same deterministic 1.00-5.00 pattern; arm 1
    // gets ONE 100,000.00 whale. The naive mean gap would be ~100 per
    // event-arm-size; the winsorized readout must cap the whale at the
    // pooled p99 and stay insignificant.
    val ts = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val rows = (0 until 1000).flatMap { i =>
      val v = 1.0 + (i % 5)
      Seq((2L * i, ts, "view", v), (2L * i + 1, ts, "view", v))
    } :+ (9999L, ts, "view", 100000.0)
    val tmp = java.nio.file.Files.createTempDirectory("wab").toString
    rows.toDF("user_id", "ts", "event_type", "value")
      .write.parquet(s"$tmp/events.parquet")
    val r = SparkEntry.queries("q_winsorized_ab")(spark, tmp).collect()(0)
    val (cap, diff, t, sig) =
      (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))
    assert(cap == 5.0, s"pooled p99 cap $cap should land on the 5.00 mode")
    assert(math.abs(diff) < 0.01, s"winsorized diff $diff should be ~0")
    assert(math.abs(t) < 1.96 && sig == 0L,
      s"the whale must not decide it: t=$t sig=$sig")
    // and the naive (un-winsorized) gap really was whale-sized
    val naive = 100000.0 / 1001
    assert(naive > 50, "planted whale sanity")
  }

  // ---- q_embed_drift ----

  test("q_embed_drift: a planted single-dimension shift tops the ranking") {
    import spark.implicits._
    // 200 vectors, deterministic small noise everywhere; odd vec_ids
    // (the 'current' side) shift dim 7 by +0.5 — the monitor must
    // rank dim 7 first with the planted mean shift and an L2 close
    // to it (all other dims carry only noise).
    val D = 64
    val rows = (0L until 200L).map { id =>
      val v = new Array[Float](D)
      for (j <- 0 until D) v(j) = (((id * 31 + j * 17) % 13).toInt - 6) / 100.0f
      if (id % 2 == 1) v(7) += 0.5f
      (id, v, (id % 10).toInt)
    }
    val tmp = java.nio.file.Files.createTempDirectory("edrift").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tmp/embeddings.parquet")
    val out = SparkEntry.queries("q_embed_drift")(spark, tmp).collect()
    assert(out.length == 5)
    val top = out.head
    assert(top.getLong(1) == 7L, s"top drifted dim ${top.getLong(1)} != 7")
    assert(math.abs(top.getDouble(2) - (-0.5)) < 0.02,
      s"planted shift not recovered: ${top.getDouble(2)}")
    assert(math.abs(top.getDouble(3)) > 1.0,
      s"planted shift should dominate the pooled sd: z=${top.getDouble(3)}")
    assert(math.abs(top.getDouble(4) - 0.5) < 0.05,
      s"L2 ${top.getDouble(4)} should be dominated by the planted dim")
    // every other reported dim is noise-scale
    out.tail.foreach(r => assert(math.abs(r.getDouble(2)) < 0.05))
  }

  // ---- q_ks_test ----

  test("q_ks_test: a planted half-shift yields D = 0.5 exactly") {
    import spark.implicits._
    // Arm 0 (even users): values 0.01..1.00; arm 1 (odd): 0.51..1.50.
    // ECDFs coincide-shifted by half the mass: sup gap at 1.00 is
    // F_A = 1 vs F_B = 0.5 -> D = 0.5 exactly in integer arithmetic.
    val ts = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val rows = (1 to 100).flatMap { i =>
      Seq((2L * i, ts, "view", i / 100.0),
        ((2L * i) + 1, ts, "view", (i + 50) / 100.0))
    }
    val tmp = java.nio.file.Files.createTempDirectory("ks").toString
    rows.toDF("user_id", "ts", "event_type", "value")
      .write.parquet(s"$tmp/events.parquet")
    val r = SparkEntry.queries("q_ks_test")(spark, tmp).collect()(0)
    assert(r.getLong(0) == 100L && r.getLong(1) == 100L)
    assert(r.getDouble(2) == 0.5, s"D ${r.getDouble(2)} != 0.5")
    val lam = BigDecimal(0.5 * math.sqrt(100.0 * 100 / 200))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
    assert(r.getDouble(3) == lam)
  }

  // ---- q_did ----

  test("q_did: planted parallel trends recover the lift; placebo lands at zero") {
    import spark.implicits._
    // Control means 10, 12, 14 across the three windows (trend +2);
    // treated 20, 22, 29 — same +2 trend plus a 5.00 lift in the post
    // window only. DiD must recover exactly 5.0; the placebo DiD over
    // the two pre halves must be exactly 0 (the assumption holding).
    def ts(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val rows = for {
      u <- 0L until 20L
      (day, base) <- Seq((3, 10.0), (10, 12.0), (20, 14.0))
    } yield {
      val lift = if (u % 2 == 1 && day == 20) 5.0 else 0.0
      val grpShift = if (u % 2 == 1) 10.0 else 0.0
      (u, ts(day), "view", base + grpShift + lift)
    }
    val tmp = java.nio.file.Files.createTempDirectory("did").toString
    rows.toDF("user_id", "ts", "event_type", "value")
      .write.parquet(s"$tmp/events.parquet")
    val r = SparkEntry.queries("q_did")(spark, tmp).collect()(0)
    assert(r.getLong(0) == 60L)
    assert(r.getDouble(1) == 5.0, s"DiD ${r.getDouble(1)} != planted lift")
    assert(r.getDouble(2) == 0.0, s"placebo ${r.getDouble(2)} != 0")
  }

  // ---- q_conformal ----

  test("q_conformal: qhat is the true order statistic; coverage recomputes exactly") {
    import org.apache.spark.sql.functions._
    val rows = graft.Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1) % 5,
        math.round(r.getDouble(2) * 100)))
    val got = SparkEntry.queries("q_conformal")(spark, dir).collect()
    assert(got.nonEmpty)
    for (g <- got) {
      val t = g.getString(0)
      val fit = rows.filter(x => x._1 == t && x._2 >= 2).map(_._3)
      val meanC = math.round(fit.sum.toDouble / fit.length)
      val calR = rows.filter(x => x._1 == t && x._2 == 1)
        .map(x => math.abs(x._3 - meanC)).sorted
      val k = math.ceil((calR.length + 1) * 0.9).toLong
      val qhat = calR((k - 1).toInt) // k-th smallest, 1-indexed
      assert(g.getLong(1) == calR.length.toLong, s"n_cal of $t")
      assert(g.getLong(2) == qhat, s"qhat of $t is the k-th order statistic")
      val test = rows.filter(x => x._1 == t && x._2 == 0)
        .map(x => math.abs(x._3 - meanC))
      assert(g.getLong(3) == test.length.toLong, s"n_test of $t")
      val cov = BigDecimal(test.count(_ <= qhat).toDouble / test.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
      assert(g.getDouble(4) == cov, s"coverage of $t")
      // the conformal guarantee, finite-sample band around 1 - alpha
      assert(g.getDouble(4) > 0.8 && g.getDouble(4) < 0.98,
        s"coverage of $t strays far from the 0.9 target: ${g.getDouble(4)}")
    }
  }

  // ---- q_moments / q_stream_moments ----

  test("q_moments matches Spark's built-in skewness/kurtosis within float slack") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_moments")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    // Independent reference: Spark's own float-path aggregates on the
    // cent-rounded values (the sketch is exact; the built-ins are
    // float folds — agreement within 1e-4 is the cross-check).
    val ref = graft.Tables.events(spark, dir)
      .select(col("event_type"),
        (round(col("value") * 100, 0) / 100.0).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), avg("v").as("mean"),
        stddev_pop(col("v")).as("sd"), skewness(col("v")).as("sk"),
        kurtosis(col("v")).as("ku"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(got.keySet == ref.keySet)
    for ((t, (n, mean, sd, sk, ku)) <- got) {
      val (rn, rmean, rsd, rsk, rku) = ref(t)
      assert(n == rn)
      assert(math.abs(mean - rmean) < 1e-4, s"$t mean $mean vs $rmean")
      assert(math.abs(sd - rsd) < 1e-4, s"$t sd $sd vs $rsd")
      assert(math.abs(sk - rsk) < 1e-3, s"$t skew $sk vs $rsk")
      assert(math.abs(ku - rku) < 1e-2, s"$t kurt $ku vs $rku")
    }
  }

  test("momentSums partials merge exactly (the mergeable-sketch contract)") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, dir)
    val full = graft.operators.EventsOps.momentSums(ev)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    // Split on an arbitrary predicate, sketch each half, merge by
    // plain addition — must equal the one-shot sketch EXACTLY.
    val a = graft.operators.EventsOps.momentSums(
      ev.filter(pmod(col("event_id"), lit(2)) === 0))
    val b = graft.operators.EventsOps.momentSums(
      ev.filter(pmod(col("event_id"), lit(2)) === 1))
    val merged = a.unionByName(b)
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"),
        sum("s3").as("s3"), sum("s4").as("s4"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(merged == full)
  }

  test("q_stream_moments equals the batch twin byte for byte") {
    val batch = SparkEntry.queries("q_moments")(spark, dir).collect().map(_.toSeq)
    val stream = SparkEntry.queries("q_stream_moments")(spark, dir).collect().map(_.toSeq)
    assert(stream.toSeq == batch.toSeq)
  }

  test("q_rfm: segment counts cover all purchase users exactly once") {
    val rows = SparkEntry.queries("q_rfm")(spark, dir).collect()
    assert(rows.nonEmpty)
    val nUsers = rows.map(_.getLong(4)).sum
    val purchasers = graft.Tables.events(spark, dir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(nUsers == purchasers)
    // scores live in [1, 4]
    rows.foreach { r =>
      for (i <- 0 to 2) assert(r.getLong(i) >= 1 && r.getLong(i) <= 4)
    }
  }
}

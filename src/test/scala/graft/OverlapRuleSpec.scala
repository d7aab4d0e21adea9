package graft

import graft.plans.OverlapJoinBlocking
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The OverlapJoinBlocking optimizer rule: a declarative
  * `JOIN ON size(array_intersect(a, b)) >= T` must plan as the
  * prefix-filtered token equi-join (no nested loop), return exactly
  * the brute-force pairs, and out-of-scope shapes must pass through
  * untouched.
  */
class OverlapRuleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // split()-produced arrays are the rule's target shape (null-free
  // elements — the containsNull=false scope guard).
  private val ls = Seq((1L, "a b c d"), (2L, "b c d e"), (3L, "x y"),
    (4L, "a b c d"), (5L, "a a b c d"))
  private val rs = Seq((10L, "a b c"), (11L, "c d e f"), (12L, "x y z"),
    (13L, "a b c"))

  private def df(xs: Seq[(Long, String)], id: String, arr: String): DataFrame = {
    import spark.implicits._
    xs.toDF(id, "s").select(col(id), split(col("s"), " ").as(arr))
  }

  private def brute(t: Int): Seq[(Long, Long)] =
    (for ((li, la) <- ls; (ri, ra) <- rs
      if la.split(" ").toSet.intersect(ra.split(" ").toSet).size >= t)
      yield (li, ri)).sorted

  test("declarative overlap>=3 join: no nested loop, equals brute force") {
    val joined = df(ls, "lid", "la").join(df(rs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra"))) >= lit(3))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"rule did not fire, plan:\n$p")
    // Size-only mode: the verify reads the merge-walk count, not an
    // array_intersect build (SortedIntersectSpec pins equivalence).
    assert(p.contains("sorted_intersect_count"),
      s"verify filter missing, plan:\n$p")
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    // brute uses SET intersection, so row 5's duplicated "a" token
    // must not double-count — covered by the equality itself.
    assert(got == brute(3), s"got $got want ${brute(3)}")
  }

  test("extra conjuncts ride along as residual predicates") {
    val joined = df(ls, "lid", "la").join(df(rs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra"))) >= lit(3)
        && col("rid") =!= lit(13L))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(got == brute(3).filterNot(_._2 == 13L))
  }

  test("the strict spelling size(..) > 2 blocks at T=3 too") {
    val joined = df(ls, "lid", "la").join(df(rs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra"))) > lit(2))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
    assert(joined.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      == brute(3))
  }

  test("outer joins and degenerate thresholds stay un-rewritten") {
    val outer = df(ls, "lid", "la").join(df(rs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra"))) >= lit(3), "left")
    val po = outer.queryExecution.executedPlan.toString
    assert(po.contains("NestedLoop") || po.contains("CartesianProduct"),
      s"outer join must pass through, plan:\n$po")
    val t0 = df(ls, "lid", "la").join(df(rs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra"))) >= lit(0))
    val p0 = t0.queryExecution.executedPlan.toString
    assert(p0.contains("NestedLoop") || p0.contains("CartesianProduct"),
      s"T=0 is vacuous and must pass through, plan:\n$p0")
    assert(t0.count() == ls.size.toLong * rs.size)
  }

  test("joins that already have an equi key are left alone (re-blocking guard)") {
    import spark.implicits._
    val l = Seq((1L, "a b c", "k")).toDF("lid", "s", "ka")
      .select(col("lid"), split(col("s"), " ").as("la"), col("ka"))
    val r = Seq((10L, "a b c", "k")).toDF("rid", "s", "kb")
      .select(col("rid"), split(col("s"), " ").as("ra"), col("kb"))
    val joined = l.join(r,
      col("ka") === col("kb")
        && size(array_intersect(col("la"), col("ra"))) >= lit(3))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Generate explode"),
      s"rule re-blocked an equi-key join, plan:\n$p")
    assert(joined.count() == 1)
  }

  test("rows with fewer than T distinct tokens drop via the empty prefix") {
    // (3L, "x y") has 2 < 3 distinct tokens: it can never qualify and
    // the Generate must drop it map-side — already covered by brute
    // equality, pinned here explicitly.
    val joined = df(ls, "lid", "la").join(df(rs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra"))) >= lit(3))
    assert(!joined.collect().exists(_.getLong(0) == 3L))
  }

  // ----- the relative-Jaccard face (PPJoin proper) -----

  // Richer corpus for the relative threshold: identical sets (J = 1),
  // near-identical, disjoint, subsets, duplicate tokens.
  private val jls = Seq((1L, "a b c d"), (2L, "b c d e f"), (3L, "x y"),
    (4L, "a b c d e f g h"), (5L, "a a b c d"), (6L, "p q r s"))
  private val jrs = Seq((10L, "a b c d"), (11L, "c d e f"), (12L, "x y z"),
    (13L, "a b c d e f g"), (14L, "p q r s"), (15L, "q r s t"))

  /** Exact-rational Jaccard brute force: |∩|·den ≥ num·|∪|. */
  private def jBrute(num: Long, den: Long,
      strict: Boolean = false): Seq[(Long, Long)] =
    (for {
      (li, la) <- jls; (ri, ra) <- jrs
      i = la.split(" ").toSet.intersect(ra.split(" ").toSet).size.toLong
      u = la.split(" ").toSet.union(ra.split(" ").toSet).size.toLong
      if (if (strict) i * den > num * u else i * den >= num * u)
    } yield (li, ri)).sorted

  test("jaccard >= 0.75 multiply spelling (double lit): no nested loop, equals brute force") {
    val joined = df(jls, "lid", "la").join(df(jrs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra")))
        >= lit(0.75) * size(array_union(col("la"), col("ra"))))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"jaccard rule did not fire, plan:\n$p")
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    // 0.75 is dyadic: double arithmetic == exact rational 3/4.
    assert(got == jBrute(3, 4), s"got $got want ${jBrute(3, 4)}")
    assert(got.nonEmpty && got.size < jls.size * jrs.size,
      "threshold must be non-vacuous on this corpus")
  }

  test("jaccard decimal SQL spelling and strict > both fire and match brute force") {
    val l = df(jls, "lid", "la")
    val r = df(jrs, "rid", "ra")
    val dec = l.join(r, expr(
      "size(array_intersect(la, ra)) >= 0.75 * size(array_union(la, ra))"))
    val pd = dec.queryExecution.executedPlan.toString
    assert(!pd.contains("NestedLoop") && !pd.contains("CartesianProduct"),
      s"decimal spelling did not fire, plan:\n$pd")
    assert(dec.collect().map(x => (x.getLong(0), x.getLong(2))).sorted.toSeq
      == jBrute(3, 4))
    val strict = l.join(r,
      size(array_intersect(col("la"), col("ra")))
        > lit(0.5) * size(array_union(col("la"), col("ra"))))
    val ps = strict.queryExecution.executedPlan.toString
    assert(!ps.contains("NestedLoop") && !ps.contains("CartesianProduct"),
      s"strict spelling did not fire, plan:\n$ps")
    assert(strict.collect().map(x => (x.getLong(0), x.getLong(2))).sorted.toSeq
      == jBrute(1, 2, strict = true))
  }

  test("jaccard division spelling fires with one token of slack, equals brute force") {
    val joined = df(jls, "lid", "la").join(df(jrs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra"))).cast("double")
        / size(array_union(col("la"), col("ra"))) >= lit(0.75))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"division spelling did not fire, plan:\n$p")
    assert(joined.collect().map(x => (x.getLong(0), x.getLong(2))).sorted.toSeq
      == jBrute(3, 4))
  }

  test("jaccard t = 1 keeps only identical sets; duplicates don't inflate") {
    val joined = df(jls, "lid", "la").join(df(jrs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra")))
        >= lit(1.0) * size(array_union(col("la"), col("ra"))))
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    // (1, 10) and (6, 14) identical; (5, 10) identical as SETS (the
    // duplicated "a"); multiplicity: exactly one row per pair.
    assert(got == Seq((1L, 10L), (5L, 10L), (6L, 14L)), s"got $got")
  }

  test("jaccard inclusive >= : the empty-empty pair qualifies via the sentinel") {
    import spark.implicits._
    def edf(xs: Seq[(Long, String)], id: String, arr: String) =
      xs.toDF(id, "s").select(col(id),
        expr("filter(split(s, ' '), x -> x <> '')").as(arr))
    val l = edf(Seq((1L, "a b c"), (2L, "")), "lid", "la")
    val r = edf(Seq((10L, "a b c"), (11L, "")), "rid", "ra")
    val joined = l.join(r,
      size(array_intersect(col("la"), col("ra")))
        >= lit(0.75) * size(array_union(col("la"), col("ra"))))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
    val got = joined.collect().map(x => (x.getLong(0), x.getLong(2))).sorted.toSeq
    // 0 >= 0.75·0 holds: (2, 11) must appear exactly once; the strict
    // spelling must NOT produce it.
    assert(got == Seq((1L, 10L), (2L, 11L)), s"got $got")
    val strict = l.join(r,
      size(array_intersect(col("la"), col("ra")))
        > lit(0.5) * size(array_union(col("la"), col("ra"))))
    assert(strict.collect().map(x => (x.getLong(0), x.getLong(2))).sorted.toSeq
      == Seq((1L, 10L)))
  }

  test("suffix filter forced on (gate = 0): every jaccard spelling stays brute-exact") {
    // The PPJoin+ suffix filter is size-gated off on short token sets
    // (these corpora), so force it onto every candidate pair to pin
    // its SOUNDNESS: an overestimating Hamming bound, or an off-by-one
    // in the |A∩B| ≤ 1 + (|as|+|bs|−H)/2 ≥ α₂ arithmetic, deletes
    // boundary-exact pairs and the brute equalities below fail. The
    // t = 1 corpus is the sharpest: identical sets have H = 0 and sit
    // exactly at α₂ = |A∪B|.
    spark.conf.set(OverlapJoinBlocking.SuffixMinTokensKey, "0")
    try {
      val joined = df(jls, "lid", "la").join(df(jrs, "rid", "ra"),
        size(array_intersect(col("la"), col("ra")))
          >= lit(0.75) * size(array_union(col("la"), col("ra"))))
      assert(joined.collect().map(r => (r.getLong(0), r.getLong(2)))
        .sorted.toSeq == jBrute(3, 4))
      val division = df(jls, "lid", "la").join(df(jrs, "rid", "ra"),
        size(array_intersect(col("la"), col("ra"))).cast("double")
          / size(array_union(col("la"), col("ra"))) >= lit(0.75))
      assert(division.collect().map(r => (r.getLong(0), r.getLong(2)))
        .sorted.toSeq == jBrute(3, 4))
      val exact = df(jls, "lid", "la").join(df(jrs, "rid", "ra"),
        size(array_intersect(col("la"), col("ra")))
          >= lit(1.0) * size(array_union(col("la"), col("ra"))))
      assert(exact.collect().map(r => (r.getLong(0), r.getLong(2)))
        .sorted.toSeq == Seq((1L, 10L), (5L, 10L), (6L, 14L)))
      // The inclusive ∅-∅ pair flows through the gate's degenerate
      // window unharmed even when the gate is 0 (−2 < 0).
      import spark.implicits._
      def edf(xs: Seq[(Long, String)], id: String, arr: String) =
        xs.toDF(id, "s").select(col(id),
          expr("filter(split(s, ' '), x -> x <> '')").as(arr))
      val l = edf(Seq((1L, "a b c"), (2L, "")), "lid", "la")
      val r = edf(Seq((10L, "a b c"), (11L, "")), "rid", "ra")
      val incl = l.join(r,
        size(array_intersect(col("la"), col("ra")))
          >= lit(0.75) * size(array_union(col("la"), col("ra"))))
      assert(incl.collect().map(x => (x.getLong(0), x.getLong(2)))
        .sorted.toSeq == Seq((1L, 10L), (2L, 11L)))
    } finally spark.conf.unset(OverlapJoinBlocking.SuffixMinTokensKey)
  }

  test("positional filter keeps boundary-exact deep-first-shared pairs") {
    import spark.implicits._
    // Pairs engineered to sit EXACTLY at both bounds the positional
    // filter reasons about: each side's sole private token sorts
    // FIRST, so the first shared token is at position 1 — the last
    // prefix slot — and min(la−pos_a, lb−pos_b) == α₂(la,lb) exactly.
    // Any off-by-one in the positional conjunct (or in α₂'s rounding)
    // deletes these pairs and the brute equality below fails.
    //  t = 0.875 (dyadic double → exact-rational α₂): 15-token sides
    //  sharing 14, J = 14/16 = 0.875 exactly.
    val sh14 = ('c' to 'p').map(_.toString).mkString(" ")
    //  t = 0.8 (decimal → exact; non-dyadic double → per-side
    //  fallback): 9-token sides sharing 8, J = 8/10 = 0.8 exactly.
    val sh8 = ('c' to 'j').map(_.toString).mkString(" ")
    val l = Seq((1L, s"a $sh14"), (2L, s"a $sh8"), (3L, "a z"))
      .toDF("lid", "s").select(col("lid"), split(col("s"), " ").as("la"))
    val r = Seq((10L, s"b $sh14"), (11L, s"b $sh8"), (12L, "b z"))
      .toDF("rid", "s").select(col("rid"), split(col("s"), " ").as("ra"))
    // Brute force models each spelling's OWN arithmetic: exact
    // rational for dyadic-double and decimal t, raw double compare
    // for the non-dyadic double (where 8 >= 0.8d·10 is FALSE — the
    // double literal exceeds 4/5, so the 9-token pair qualifies only
    // under the decimal spelling; the test pins both behaviors).
    def brute(qual: (Long, Long) => Boolean): Seq[(Long, Long)] = {
      val lls = Seq((1L, s"a $sh14"), (2L, s"a $sh8"), (3L, "a z"))
      val rrs = Seq((10L, s"b $sh14"), (11L, s"b $sh8"), (12L, "b z"))
      (for {
        (li, la) <- lls; (ri, ra) <- rrs
        i = la.split(" ").toSet.intersect(ra.split(" ").toSet).size.toLong
        u = la.split(" ").toSet.union(ra.split(" ").toSet).size.toLong
        if qual(i, u)
      } yield (li, ri)).sorted
    }
    val cases: Seq[(org.apache.spark.sql.Column, (Long, Long) => Boolean, String)] = Seq(
      (size(array_intersect(col("la"), col("ra")))
        >= lit(0.875) * size(array_union(col("la"), col("ra"))),
        (i, u) => i * 8 >= 7 * u, "dyadic double 0.875"),
      (size(array_intersect(col("la"), col("ra")))
        >= lit(0.8) * size(array_union(col("la"), col("ra"))),
        (i, u) => i.toDouble >= 0.8 * u.toDouble,
        "non-dyadic double 0.8 (per-side fallback)"),
      (expr("size(array_intersect(la, ra)) >= 0.8 * size(array_union(la, ra))"),
        (i, u) => i * 5 >= 4 * u, "decimal 0.8 (exact α₂)"))
    // Run each spelling under the default size gate AND with the
    // suffix filter forced onto every pair (gate = 0): the qualifying
    // pairs here are ALSO boundary-exact for the suffix test —
    // identical suffixes beyond the canonical position, prune margin
    // exactly 0 — so an overestimating Hamming bound deletes them.
    for (gate <- Seq(None, Some("0"));
        (cond, qual, tag) <- cases) {
      gate.foreach(g =>
        spark.conf.set(OverlapJoinBlocking.SuffixMinTokensKey, g))
      try {
        val joined = l.join(r, cond)
        val p = joined.queryExecution.executedPlan.toString
        assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
          s"[$tag gate=$gate] rule did not fire, plan:\n$p")
        val got = joined.collect().map(x => (x.getLong(0), x.getLong(2)))
          .sorted.toSeq
        assert(got == brute(qual),
          s"[$tag gate=$gate] got $got want ${brute(qual)}")
        assert(got.contains((1L, 10L)),
          s"[$tag gate=$gate] the boundary-exact 15-token pair must survive")
      } finally gate.foreach(_ =>
        spark.conf.unset(OverlapJoinBlocking.SuffixMinTokensKey))
    }
  }

  test("the rule fires on the spark.sql TEXT path (q_sql_jaccard's plan)") {
    import spark.implicits._
    val docs = (jls ++ Seq((10L, "a b c d"), (20L, "a b c d e")))
      .map { case (i, t) => (i * 10, t) } // ids divisible by 10
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    val q = spark.sql(graft.operators.DedupOps.SqlJaccardText)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"rule did not fire on the SQL-text path, plan:\n$p")
    // Identical sets (J = 1 >= 0.875) must appear: (10,"a b c d")
    // and (1->10L scaled doc 1 "a b c d") share everything.
    assert(q.collect().map(_.getLong(2)).sum > 0)
  }

  test("jaccard t outside (0, 1] passes through unrewritten") {
    for (t <- Seq(0.0, -0.5, 1.5)) {
      val joined = df(jls, "lid", "la").join(df(jrs, "rid", "ra"),
        size(array_intersect(col("la"), col("ra")))
          >= lit(t) * size(array_union(col("la"), col("ra"))))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("NestedLoop") || p.contains("CartesianProduct"),
        s"t=$t must pass through, plan:\n$p")
    }
  }

  test("the set-size probe decides the suffix filter BOTH ways (q_jaccard_shingle's regime)") {
    import spark.implicits._
    // LONG-token corpus (80 distinct tokens/row, combined median 160
    // >= the 64 gate): the PLAN-TIME probe — no conf override — must
    // emit the suffix-partition conjunct. Rows are cyclic 80-arcs
    // stepping by 7 on a 120-token alphabet, so the qualifying set is
    // hand-derivable: J >= 0.875 needs overlap >= 75, i.e. cyclic
    // start distance <= 5, and within ids 0..19 only the shift-17
    // pairs (7·17 ≡ 119 ≡ −1 mod 120 → overlap 79) qualify.
    val longDocs = (0L until 20L).map { i =>
      (i, (0 until 80).map(j => f"t${(i * 7 + j) % 120}%03d").mkString(" "))
    }
    val dfL = longDocs.toDF("lid", "s").select(col("lid"),
      expr("array_distinct(split(s, ' '))").as("la")).localCheckpoint()
    val dfR = dfL.select(col("lid").as("rid"), col("la").as("ra"))
    val j = dfL.join(dfR, size(array_intersect(col("la"), col("ra")))
        >= lit(0.875) * size(array_union(col("la"), col("ra")))
        && col("lid") < col("rid"))
    val p = j.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
    assert(p.contains("sorted_suffix_hamming_lb"),
      s"probe did not engage the suffix filter on a long-token corpus:\n$p")
    assert(j.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      == Seq((0L, 17L), (1L, 18L), (2L, 19L)))
    // SHORT-token corpus (the word-face shape): same spelling, the
    // probe must NOT emit the conjunct — the plan stays byte-free of
    // the suffix kernel, the lesson the per-row-gated variant taught.
    val shortJ = df(jls, "lid", "la").join(df(jrs, "rid", "ra"),
      size(array_intersect(col("la"), col("ra")))
        >= lit(0.75) * size(array_union(col("la"), col("ra"))))
    val sp = shortJ.queryExecution.executedPlan.toString
    assert(!sp.contains("sorted_suffix_hamming_lb"),
      s"suffix filter engaged on a short-token corpus:\n$sp")
  }
}

package graft

import graft.plans.OverlapJoinBlocking
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The df-ordered prefix upgrade of [[OverlapJoinBlocking]]: on a
  * planted Zipfian vocabulary the rare-first prefix order must (a)
  * fire (the skew gate), (b) slash candidate volume versus the
  * lexicographic order (measured by replicating the prefix-inverted-
  * index arithmetic in plain Scala), and (c) return exactly the
  * brute-force rows; on a near-uniform vocabulary the gate must stay
  * OFF and the zero-overhead lexicographic plan remain.
  */
class OverlapDfOrderSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val T = 3

  // Zipfian corpus: "aaa_hot" in EVERY doc (and lexicographically
  // FIRST, so the lex order puts it in every prefix — the worst
  // case); "aab_warm" in every even doc; two unique rare tokens per
  // doc. Docs 100/101 are the planted near-dup pair sharing
  // {aaa_hot, dup_a, dup_b} — overlap 3 = T.
  private val zipfDocs: Seq[(Long, Seq[String])] =
    (0L until 40L).map { i =>
      val rare = Seq(s"r_${i}_1", s"r_${i}_2")
      val toks =
        if (i % 2 == 0) Seq("aaa_hot", "aab_warm") ++ rare
        else Seq("aaa_hot") ++ rare :+ s"r_${i}_3"
      (i, toks)
    } ++ Seq(
      (100L, Seq("aaa_hot", "dup_a", "dup_b", "r_100_1")),
      (101L, Seq("aaa_hot", "dup_a", "dup_b", "r_101_1")))

  /** The prefix-filter candidate count (Σ over tokens of left-prefix
    * df × right-prefix df restricted to a < b for the self-join) —
    * the row count entering the blocked join, replicated in plain
    * Scala from the same definitions the rule uses. */
  private def candidates(docs: Seq[(Long, Seq[String])],
      dfOrder: Boolean): Long = {
    val df = docs.flatMap(_._2.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    val pfx = docs.map { case (id, toks) =>
      val d = toks.distinct
      val sorted =
        if (dfOrder) d.sortBy(t => (df(t), t)) else d.sorted
      id -> sorted.take(math.max(d.size - T + 1, 0))
    }
    val inv = pfx.flatMap { case (id, p) => p.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    inv.values.map { ids =>
      (for (a <- ids; b <- ids if a < b) yield 1L).sum
    }.sum
  }

  private def brute(docs: Seq[(Long, Seq[String])]): Set[(Long, Long)] =
    (for {
      (a, ta) <- docs; (b, tb) <- docs
      if a < b && ta.distinct.toSet.intersect(tb.distinct.toSet).size >= T
    } yield (a, b)).toSet

  private def runJoin(docs: Seq[(Long, Seq[String])])
      : (Set[(Long, Long)], String) = {
    import spark.implicits._
    // split()-produced arrays — the rule's containsNull=false scope.
    val txt = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
    val l = txt.toDF("doc_a", "s")
      .select(col("doc_a"), split(col("s"), " ").as("toks_a"))
    val r = txt.toDF("doc_b", "s")
      .select(col("doc_b"), split(col("s"), " ").as("toks_b"))
    val j = l.join(r,
      expr(s"size(array_intersect(toks_a, toks_b)) >= $T")
        && col("doc_a") < col("doc_b"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"rule did not fire, plan:\n$plan")
    (j.select("doc_a", "doc_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet, plan)
  }

  test("Zipfian vocabulary: skew gate fires, candidates collapse, result exact") {
    val lex = candidates(zipfDocs, dfOrder = false)
    val dfc = candidates(zipfDocs, dfOrder = true)
    // Lex order blocks every doc pair through aaa_hot (~42²/2); the
    // df order's rare-first prefixes leave only the planted dup pair.
    assert(lex > 500L, s"planted corpus lost its worst case: lex=$lex")
    assert(dfc * 20 < lex, s"df order must slash candidates: lex=$lex df=$dfc")
    val (got, plan) = runJoin(zipfDocs)
    // The canonical-copy dedup now runs on the (already df-encoded)
    // prefixes inside the join; the df path's plan signature is the
    // hot-rank map literal in the prefix projection.
    assert(plan.contains("sorted_intersect_first"),
      s"canonical prefix dedup missing, plan:\n$plan")
    assert(plan.contains("map(keys:"),
      s"df path did not fire on the skewed corpus, plan:\n$plan")
    assert(got == brute(zipfDocs), s"got $got want ${brute(zipfDocs)}")
    assert(got.contains((100L, 101L)))
  }

  test("near-uniform vocabulary: gate stays off, lexicographic plan, result exact") {
    val docs: Seq[(Long, Seq[String])] = (0L until 10L).map { i =>
      (i, Seq(s"u_${i}_1", s"u_${i}_2", s"u_${i}_3", s"u_${i}_4"))
    } ++ Seq(
      (50L, Seq("s_1", "s_2", "s_3", "u_50_x")),
      (51L, Seq("s_1", "s_2", "s_3", "u_51_x")))
    val (got, plan) = runJoin(docs)
    assert(!plan.contains("map(keys:"),
      s"uniform corpus must keep the zero-overhead lexicographic " +
        s"order, plan:\n$plan")
    assert(plan.contains("sorted_intersect_first"),
      s"canonical filter missing:\n$plan")
    assert(got == brute(docs), s"got $got")
    assert(got == Set((50L, 51L)))
  }

  test("jaccard face composes with the df order: Zipf gate fires, result exact") {
    import spark.implicits._
    // Same planted corpus, relative threshold t = 1/2 (dyadic): only
    // the dup pair qualifies (i=3, u=5 → 2i ≥ u); every other pair
    // shares at most {aaa_hot, aab_warm} of a ≥6-token union. The
    // per-row prefix + length filter must run over the ENCODED df
    // order and still match exact-rational brute force.
    val txt = zipfDocs.map { case (id, ts) => (id, ts.mkString(" ")) }
    val l = txt.toDF("doc_a", "s")
      .select(col("doc_a"), split(col("s"), " ").as("toks_a"))
    val r = txt.toDF("doc_b", "s")
      .select(col("doc_b"), split(col("s"), " ").as("toks_b"))
    val j = l.join(r,
      size(array_intersect(col("toks_a"), col("toks_b")))
        >= lit(0.5) * size(array_union(col("toks_a"), col("toks_b")))
        && col("doc_a") < col("doc_b"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"jaccard rule did not fire, plan:\n$plan")
    assert(plan.contains("sorted_intersect_first")
      && plan.contains("map(keys:"),
      s"df order did not fire on the skewed corpus, plan:\n$plan")
    val got = j.select("doc_a", "doc_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = (for {
      (a, ta) <- zipfDocs; (b, tb) <- zipfDocs
      i = ta.distinct.toSet.intersect(tb.distinct.toSet).size.toLong
      u = ta.distinct.toSet.union(tb.distinct.toSet).size.toLong
      if a < b && 2 * i >= u
    } yield (a, b)).toSet
    assert(got == want, s"got $got want $want")
    assert(got == Set((100L, 101L)))
  }

  test("dense skewed vocabulary: no rare tail, gate stays off, result exact") {
    // The sf0.1 synthetic-corpus shape that regressed 3× df-ordered:
    // the skew RATIO clears SkewGate (top = 400 ≥ 8 × floor = 36)
    // but the RAREST token still lands in 36 docs > MaxRareDf —
    // rare-first cannot isolate docs when no token is rare, and the
    // encoding taxes every row, so the rule must keep lexicographic.
    val docs: Seq[(Long, Seq[String])] = (0L until 400L).map { i =>
      (i, Seq("h_all", s"d_${i % 8}", s"e_${i % 10}", s"f_${i % 11}_x"))
    }
    val dfs = docs.flatMap(_._2.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    assert(dfs.values.min > OverlapJoinBlocking.MaxRareDf,
      s"corpus must be dense, min df ${dfs.values.min}")
    assert(dfs.values.max >=
      OverlapJoinBlocking.SkewGate * dfs.values.min,
      s"corpus must still be skewed, dfs ${dfs.values.max}/${dfs.values.min}")
    val (got, plan) = runJoin(docs)
    assert(!plan.contains("map(keys:"),
      s"dense corpus must keep lexicographic order, plan:\n$plan")
    assert(got == brute(docs), s"got ${got.size} want ${brute(docs).size}")
  }
}

package graft

import graft.plans.FuzzyJoinBlocking
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The FuzzyJoinBlocking optimizer rule: a declarative
  * `JOIN ON levenshtein(a, b) <= 1` must plan as the blocked
  * equi-join (no nested loop), return exactly the brute-force rows
  * WITH multiplicity, and out-of-scope shapes must pass through
  * untouched.
  */
class FuzzyRuleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private val ls = Seq("gizmo", "gadget", "widget", "flange", "ab", "x")
  // "gadget" twice on the right: multiplicity must be preserved.
  private val rs = Seq("gzmo", "gidget", "gadget", "gadget", "widgets", "ba", "")

  test("declarative ED<=1 join: no nested loop, equals brute force with multiplicity") {
    import spark.implicits._
    val l = ls.toDF("a")
    val r = rs.toDF("b")
    val joined = l.join(r, levenshtein(col("a"), col("b")) <= 1)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"rule did not fire, plan:\n$p")
    assert(p.contains("levenshtein"), s"verify filter missing, plan:\n$p")
    val got = joined.collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq
    val brute = (for (a <- ls; b <- rs if lev(a, b) <= 1) yield (a, b))
      .sorted
    assert(got == brute)
    // The duplicate "gadget" right row must yield two (gadget, gadget)
    // pairs — the canonical-key filter dedups KEY matches, not rows.
    assert(got.count(_ == ("gadget", "gadget")) == 2)
  }

  test("extra conjuncts ride along as residual predicates") {
    import spark.implicits._
    val l = ls.toDF("a")
    val r = rs.toDF("b")
    val joined = l.join(r,
      levenshtein(col("a"), col("b")) <= 1 && col("a") =!= col("b"))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
    val got = joined.collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq
    val brute =
      (for (a <- ls; b <- rs if lev(a, b) <= 1 && a != b) yield (a, b)).sorted
    assert(got == brute)
  }

  test("declarative ED<=2 join blocks via the delete-2 neighborhood") {
    import spark.implicits._
    val l = ls.toDF("a")
    val r = rs.toDF("b")
    val t2 = l.join(r, levenshtein(col("a"), col("b")) <= 2)
    val p2 = t2.queryExecution.executedPlan.toString
    assert(!p2.contains("NestedLoop") && !p2.contains("CartesianProduct"),
      s"d=2 must block through the rule, plan:\n$p2")
    val got2 = t2.collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(got2.toSeq ==
      (for (a <- ls; b <- rs if lev(a, b) <= 2) yield (a, b)).sorted)
    // "gadget" twice on the right: multiplicity preserved at d=2 too
    assert(got2.count(_ == ("gadget", "gadget")) == 2)
  }

  test("exhaustive small-universe recall: every {a,b}^<=4 pair within d=2 survives blocking") {
    import spark.implicits._
    // All 31 strings over {a,b} of length 0..4 — 961 ordered pairs,
    // each checked against the reference DP. The delete-2 blocking
    // must lose NONE of the qualifying pairs (the recall proof; the
    // verify already guarantees precision).
    val universe = (0 to 4).flatMap(n =>
      (0 until (1 << n)).map(m =>
        (0 until n).map(b => if (((m >> b) & 1) == 1) 'b' else 'a').mkString))
    val l = universe.toDF("a")
    val r = universe.toDF("b")
    val joined = l.join(r, levenshtein(col("a"), col("b")) <= 2)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
    val got = joined.collect().map(x => (x.getString(0), x.getString(1)))
      .sorted.toSeq
    val brute = (for (a <- universe; b <- universe if lev(a, b) <= 2)
      yield (a, b)).sorted
    assert(got == brute)
  }

  test("threshold 3 and outer joins stay un-rewritten") {
    import spark.implicits._
    val l = ls.toDF("a")
    val r = rs.toDF("b")
    val t3 = l.join(r, levenshtein(col("a"), col("b")) <= 3)
    val p3 = t3.queryExecution.executedPlan.toString
    assert(p3.contains("NestedLoop") || p3.contains("CartesianProduct"),
      s"d=3 must pass through, plan:\n$p3")
    val got3 = t3.collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(got3.toSeq ==
      (for (a <- ls; b <- rs if lev(a, b) <= 3) yield (a, b)).sorted)
    val outer = l.join(r, levenshtein(col("a"), col("b")) <= 1, "left")
    val po = outer.queryExecution.executedPlan.toString
    assert(po.contains("NestedLoop") || po.contains("CartesianProduct"),
      s"outer join must pass through, plan:\n$po")
  }

  test("empty and null strings behave like the un-rewritten join at d=2") {
    import spark.implicits._
    val l = Seq(Some(""), Some("ab"), None).toDF("a")
    val r = Seq(Some(""), Some("ba"), Some("abcd"), None).toDF("b")
    val joined = l.join(r, levenshtein(col("a"), col("b")) <= 2)
    val got = joined.collect()
      .map(x => (x.getString(0), x.getString(1))).sorted.toSeq
    // lev("","")=0, lev("","ba")=2, lev("ab","")=2, lev("ab","ba")=2,
    // lev("ab","abcd")=2; lev("","abcd")=4 drops; null rows drop.
    assert(got == Seq(("", ""), ("", "ba"), ("ab", ""), ("ab", "abcd"),
      ("ab", "ba")))
  }

  test("joins that already have an equi key are left alone (re-blocking guard)") {
    import spark.implicits._
    // A hand-blocked join shape: equi key + levenshtein verify in one
    // condition (what predicate pushdown produces from the blocked
    // form). The rule must NOT wrap it in a second neighborhood.
    val l = Seq(("gizmo", "g"), ("gadget", "g")).toDF("a", "ka")
    val r = Seq(("gzmo", "g"), ("gidget", "g")).toDF("b", "kb")
    val joined = l.join(r,
      col("ka") === col("kb") && levenshtein(col("a"), col("b")) <= 1)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Generate explode"),
      s"rule re-blocked an equi-key join, plan:\n$p")
    val got = joined.collect().map(r => (r.getString(0), r.getString(2)))
      .sorted.toSeq
    assert(got == Seq(("gadget", "gidget"), ("gizmo", "gzmo")))
    // A non-deterministic extra conjunct: the verify would re-evaluate
    // it per candidate copy, so the rule must leave the join alone.
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val plain = Seq("gizmo").toDF("a")
      .join(Seq("gzmo").toDF("b"), levenshtein(col("a"), col("b")) <= 1)
      .queryExecution.analyzed
    val noisy = TestSpark.withNondeterministicConjunct(plain)
    assert(FuzzyJoinBlocking(plain).exists(_.isInstanceOf[Generate]),
      "the deterministic twin must be rewritten")
    assert(!FuzzyJoinBlocking(noisy).exists(_.isInstanceOf[Generate]),
      s"rule blocked a non-deterministic condition:\n${FuzzyJoinBlocking(noisy)}")
  }

  test("empty and null strings behave like the un-rewritten join") {
    import spark.implicits._
    val l = Seq(Some(""), Some("a"), None).toDF("a")
    val r = Seq(Some(""), Some("b"), None).toDF("b")
    val joined = l.join(r, levenshtein(col("a"), col("b")) <= 1)
    val got = joined.collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    // ("",""): 0, ("","b")/("a",""): 1, ("a","b"): 1; null rows drop.
    assert(got == Seq(("", ""), ("", "b"), ("a", ""), ("a", "b")))
  }

  test("the rule fires on the spark.sql TEXT path (q_sql_fuzzy's plan)") {
    // The q_sql_jaccard contract for edit distance: the SAME
    // near-verbatim ANSI string q_sql_fuzzy executes must plan
    // NestedLoop-free through the parser/analyzer path.
    import spark.implicits._
    Seq("widget", "widgex", "gadget", "sprocket")
      .toDF("p_name").createOrReplaceTempView("part")
    val q = spark.sql(graft.operators.DedupOps.SqlFuzzyText)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"rule did not fire on the SQL-text path, plan:\n$p")
    assert(p.contains("Generate explode"), s"blocked plan missing:\n$p")
    // Only (widget, widgex) is within distance 1 → one 'w' rollup row.
    val rows = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("w", 1L)), s"got $rows")
  }
}

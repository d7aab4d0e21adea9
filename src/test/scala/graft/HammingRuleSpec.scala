package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.plans.HammingBandJoin contracts (the FuzzyRuleSpec
  * discipline): the rewritten plan must be NestedLoop-free, and its
  * result must equal a Scala brute force over planted signatures —
  * including pair multiplicity and radii other than 3.
  */
class HammingRuleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def bruteForce(sigs: Seq[(Long, Long)], r: Int): Set[(Long, Long)] =
    (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= r
    } yield (ia, ib)).toSet

  private def planted(r: Int): (Set[(Long, Long)], Set[(Long, Long)], String) = {
    import spark.implicits._
    // Signatures with controlled Hamming structure: a cluster around
    // 0xF0F0, far-away values, and a pair differing in exactly r bits.
    val base = 0xF0F0L
    val sigs = Seq(
      (1L, base), (2L, base ^ 1L), (3L, base ^ 3L),
      (4L, base ^ ((1L << r) - 1)), // exactly r bits from base
      (5L, 0x0F0F0F0FL), (6L, -1L), (7L, Long.MinValue),
      (8L, Long.MinValue ^ 1L))
    val df = sigs.toDF("id", "sig").localCheckpoint()
    val l = df.select(col("id").as("ida"), col("sig").as("sa"))
    val rr = df.select(col("id").as("idb"), col("sig").as("sb"))
    val joined = l.join(rr,
      expr(s"bit_count(sa ^ sb) <= $r") && col("ida") < col("idb"))
      .select("ida", "idb")
    val got = joined.collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(got.length == got.distinct.length, "pair multiplicity broken")
    (got.toSet, bruteForce(sigs, r),
      joined.queryExecution.executedPlan.toString)
  }

  test("banded rewrite equals brute force at radius 3, plan NestedLoop-free") {
    val (got, want, plan) = planted(3)
    assert(got == want, s"got $got want $want")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"rule did not fire, plan:\n$plan")
    assert(plan.contains("Generate explode"), s"plan:\n$plan")
  }

  test("banded rewrite equals brute force at radius 1 and 7") {
    for (r <- Seq(1, 7)) {
      val (got, want, plan) = planted(r)
      assert(got == want, s"radius $r: got $got want $want")
      assert(!plan.contains("NestedLoop"), s"radius $r plan:\n$plan")
    }
  }

  test("radius above the band cap falls back to the naive plan, still correct") {
    val (got, want, plan) = planted(9) // > MaxRadius: rule must NOT fire
    assert(got == want)
    assert(plan.contains("NestedLoop") || plan.contains("Cartesian"),
      s"unexpected rewrite at radius 9:\n$plan")
  }

  test("equi-key, outer and non-deterministic joins pass through") {
    import spark.implicits._
    val l = Seq((1L, 0xF0F0L, 0L), (2L, 0xF0F1L, 1L)).toDF("ida", "sa", "ka")
    val r = Seq((3L, 0xF0F0L, 0L), (4L, 0xF0F3L, 1L)).toDF("idb", "sb", "kb")
    val ham = expr("bit_count(sa ^ sb) <= 3")
    val keyed = l.join(r, col("ka") === col("kb") && ham)
    val pk = keyed.queryExecution.executedPlan.toString
    assert(!pk.contains("Generate explode"),
      s"rule re-blocked an equi-key join, plan:\n$pk")
    assert(keyed.select("ida", "idb").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq ==
      Seq((1L, 3L), (2L, 4L)))
    val outer = l.join(r, ham, "left")
    val po = outer.queryExecution.executedPlan.toString
    assert(po.contains("NestedLoop") || po.contains("Cartesian"),
      s"outer join must pass through, plan:\n$po")
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import graft.plans.HammingBandJoin
    val plain = l.join(r, ham).queryExecution.analyzed
    val noisy = TestSpark.withNondeterministicConjunct(plain)
    assert(HammingBandJoin(plain).exists(_.isInstanceOf[Generate]),
      "the deterministic twin must be rewritten")
    assert(!HammingBandJoin(noisy).exists(_.isInstanceOf[Generate]),
      s"rule banded a non-deterministic condition:\n${HammingBandJoin(noisy)}")
  }

  test("q_hamming_join plans banded and matches the hand-banded q_dedup_simhash pairs") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q_hamming_join")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"plan:\n$plan")
    val viaRule = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hand = SparkEntry.queries("q_dedup_simhash")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaRule == hand)
  }

  test("the rule fires on the spark.sql TEXT path (q_sql_hamming's plan)") {
    // The q_sql_jaccard contract carried to Hamming space: the SAME
    // ANSI string q_sql_hamming executes (signature build included)
    // must plan NestedLoop-free through the parser/analyzer path.
    import spark.implicits._
    Seq( // ids ≡ 0 mod 3 (the query's slice); two docs share text
      (30L, "alpha beta gamma delta epsilon"),
      (60L, "alpha beta gamma delta epsilon"),
      (90L, "zeta eta theta iota kappa lambda mu nu xi"))
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    val q = spark.sql(graft.operators.DedupOps.SqlHammingText)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"rule did not fire on the SQL-text path, plan:\n$p")
    assert(p.contains("Generate explode"), s"banded plan missing:\n$p")
    // The identical-text pair is Hamming 0 and must survive: one
    // rollup row (hamming=0, n_pairs=1, checksum=90).
    val rows = q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((0L, 1L, 90L)), s"got $rows")
  }
}

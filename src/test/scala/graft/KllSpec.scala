package graft

import graft.functions.Kll
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KLL rank-sketch primitives: the exact-window merge ≡ one-shot
  * canonicalization, weight conservation, fixed-split determinism,
  * and the deterministic CDF-bracket theorem (incl. under heavy
  * duplicates and through the kll_merge_agg state-table face) that
  * the registry rows' hard flags rely on.
  */
class KllSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Deterministic pseudo-random doubles (hash mix, no RNG). */
  private def mixed(n: Int): IndexedSeq[Double] =
    (1 to n).map { i =>
      val h = (i * 2654435761L) ^ ((i.toLong * 40503L) << 17)
      (Math.floorMod(h, 1000000L)).toDouble / 100.0
    }

  private def sketchBytes(vals: Seq[Double], parts: Int, k: Int): Array[Byte] = {
    import spark.implicits._
    vals.toDF("v").repartition(parts)
      .select(expr(s"kll_sketch_agg(v, $k)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** The CDF bracket at v = quantile(q): P(< v) ≤ q + ε ∧ P(≤ v) ≥ q − ε. */
  private def bracketHolds(vals: Seq[Double], sk: Array[Byte], q: Double): Boolean = {
    val v = Kll.quantile(sk, q)
    val eps = Kll.errBound(sk)
    val n = vals.length.toDouble
    val lt = vals.count(_ < v) / n
    val le = vals.count(_ <= v) / n
    lt <= q + eps && le >= q - eps
  }

  private val QGrid = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)

  test("exact window: merge ≡ one-shot bytes at 1/7/32 partitions, true order statistics") {
    val vals = mixed(500) // n < default k = 1024: no compaction anywhere
    val a = sketchBytes(vals, 1, 1024)
    val b = sketchBytes(vals, 7, 1024)
    val c = sketchBytes(vals, 32, 1024)
    assert(a.toSeq == b.toSeq && b.toSeq == c.toSeq,
      "exact-window sketch must be a pure function of the multiset")
    assert(Kll.isExact(a) && Kll.count(a) == 500L)
    val sorted = vals.sorted
    for (q <- QGrid) {
      val want = sorted(math.max(0, math.ceil(q * 500).toInt - 1))
      assert(Kll.quantile(a, q) == want, s"q=$q")
    }
  }

  test("compacted: CDF bracket holds at every split, n is conserved exactly") {
    val vals = mixed(100000)
    for (parts <- Seq(1, 7, 32)) {
      val sk = sketchBytes(vals, parts, 128)
      assert(!Kll.isExact(sk))
      assert(Kll.count(sk) == 100000L, s"weight conservation at $parts parts")
      for (q <- QGrid)
        assert(bracketHolds(vals, sk, q), s"bracket q=$q parts=$parts")
      // The bound is the sound worst case; the hash-offset compactor
      // should land far inside it on smooth data.
      val eps = Kll.errBound(sk)
      assert(eps < 0.2, s"bound must stay usable, got $eps")
    }
  }

  test("fixed split: sketch bytes are run-reproducible") {
    val vals = mixed(50000)
    val a = sketchBytes(vals, 8, 256)
    val b = sketchBytes(vals, 8, 256)
    assert(a.toSeq == b.toSeq, "no RNG: same split must give same bytes")
  }

  test("heavy duplicates: bracket is duplicate-safe") {
    // 80% of mass on one value; quantiles inside the tie must bracket
    // the STRICT rank, not the (legitimately overshooting) ≤-rank.
    val vals = (1 to 50000).map(i => if (i % 5 == 0) mixed(1).head + i else 42.0)
    val sk = sketchBytes(vals, 16, 128)
    for (q <- QGrid)
      assert(bracketHolds(vals, sk, q), s"bracket q=$q under 80% ties")
  }

  test("merge face: per-slice partials roll up with the same guarantees") {
    import spark.implicits._
    val vals = mixed(60000)
    val sliced = vals.zipWithIndex.map { case (v, i) => (i % 13, v) }
      .toDF("slice", "v")
    val merged = sliced.groupBy("slice")
      .agg(expr("kll_sketch_agg(v, 128)").as("sk"))
      .agg(expr("kll_merge_agg(sk, 128)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(Kll.count(merged) == 60000L)
    for (q <- QGrid)
      assert(bracketHolds(vals, merged, q), s"bracket q=$q through merge")
    // rank face: |kll_rank − true P(≤x)| ≤ ε on a value grid
    val eps = Kll.errBound(merged)
    val sorted = vals.sorted
    for (x <- Seq(sorted(600), sorted(30000), sorted(59000))) {
      val truth = vals.count(_ <= x).toDouble / vals.length
      assert(math.abs(Kll.rank(merged, x) - truth) <= eps, s"rank x=$x")
    }
  }

  test("weighted face, zero compactions: true quantiles of the expanded multiset, n exact") {
    import spark.implicits._
    // 40 distinct values with counts up to 37: the (value, count)
    // rollup face. Weighted inserts land copies at binary-decomposed
    // levels, so with no compaction the sketch answers TRUE quantiles
    // of the expanded multiset (every planted copy carries the same
    // value) even though the bytes are level-shaped.
    val rollup = (1 to 40).map(i => (i.toDouble, 1L + (i * 7) % 37))
    val expanded = rollup.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }
    for (parts <- Seq(1, 7, 32)) {
      val sk = rollup.toDF("v", "w").repartition(parts)
        .select(expr("kll_sketch_agg(v, 1024, w)").as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
      assert(Kll.isExact(sk), "no compaction should fire at this size")
      assert(Kll.count(sk) == expanded.length.toLong, "n must be exact")
      val sorted = expanded.sorted
      for (q <- QGrid) {
        val want = sorted(math.max(0, math.ceil(q * sorted.length).toInt - 1))
        assert(Kll.quantile(sk, q) == want, s"q=$q parts=$parts")
      }
    }
  }

  test("weighted face, compacting: CDF bracket and exact n at every split") {
    import spark.implicits._
    // Large weights (up to ~2^17) over a small k force compactions at
    // the direct-insert levels; the deterministic certificate must
    // still bracket true ranks of the EXPANDED multiset.
    val rollup = (1 to 3000).map { i =>
      val h = (i * 2654435761L) ^ ((i.toLong * 40503L) << 15)
      (Math.floorMod(h, 100000L).toDouble / 10.0,
        1L + Math.floorMod(h >> 21, 131072L))
    }
    val n = rollup.map(_._2).sum
    // True ranks from the rollup itself (no expansion needed).
    def ranks(x: Double): (Double, Double) = {
      val lt = rollup.collect { case (v, w) if v < x => w }.sum.toDouble / n
      val le = rollup.collect { case (v, w) if v <= x => w }.sum.toDouble / n
      (lt, le)
    }
    for (parts <- Seq(1, 7, 32)) {
      val sk = rollup.toDF("v", "w").repartition(parts)
        .select(expr("kll_sketch_agg(v, 64, w)").as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
      assert(Kll.count(sk) == n, "weight conservation through compaction")
      assert(!Kll.isExact(sk), "compactions must actually fire")
      val eps = Kll.errBound(sk)
      assert(eps < 0.5, s"certificate must stay informative, got $eps")
      for (q <- QGrid) {
        val (lt, le) = ranks(Kll.quantile(sk, q))
        assert(lt <= q + eps && le >= q - eps,
          s"bracket broke at q=$q parts=$parts: lt=$lt le=$le eps=$eps")
      }
    }
  }

  test("weighted face with unit weights is byte-identical to the raw face") {
    import spark.implicits._
    val vals = mixed(5000)
    val raw = sketchBytes(vals, 1, 256)
    val viaW = vals.map((_, 1L)).toDF("v", "w").repartition(1)
      .select(expr("kll_sketch_agg(v, 256, w)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(viaW.toSeq == raw.toSeq,
      "w=1 weighted path must reduce to the unweighted path exactly")
  }

  test("exact window through the merge face equals the one-shot bytes") {
    import spark.implicits._
    val vals = mixed(700)
    val oneShot = sketchBytes(vals, 1, 1024)
    val merged = vals.zipWithIndex.map { case (v, i) => (i % 7, v) }
      .toDF("slice", "v").repartition(7)
      .groupBy("slice").agg(expr("kll_sketch_agg(v, 1024)").as("sk"))
      .agg(expr("kll_merge_agg(sk, 1024)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(merged.toSeq == oneShot.toSeq)
    assert(Kll.isExact(merged))
  }
}

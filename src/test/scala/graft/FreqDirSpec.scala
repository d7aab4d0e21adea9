package graft

import graft.functions.FreqDir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frequent-Directions primitives: exact mode (Δ = 0 ⇒ BᵀB ≡ AᵀA) at
  * any split, planted-spike recovery under REAL shrinkage, the carried
  * certificate sandwich AᵀA − Δ·I ⪯ BᵀB ⪯ AᵀA, and the Jacobi
  * eigensolver itself on a known matrix.
  */
class FreqDirSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val D = 16

  /** Deterministic pseudo-noise in [-0.5, 0.5] (hash mix, no RNG). */
  private def noise(i: Int, j: Int): Double = {
    val h = (i.toLong * 2654435761L + j * 40503L) ^ ((i.toLong * j) << 13)
    Math.floorMod(h, 100000L).toDouble / 100000.0 - 0.5
  }

  private def sketchOf(vecs: Seq[Array[Double]], parts: Int,
      l: Int): Array[Byte] = {
    import spark.implicits._
    vecs.map(v => Tuple1(v)).toDF("embedding").repartition(parts)
      .agg(expr(s"fd_sketch_agg(embedding, $l)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  private def gramOf(vecs: Seq[Array[Double]]): Array[Array[Double]] = {
    val g = Array.ofDim[Double](D, D)
    vecs.foreach { v =>
      for (i <- 0 until D; j <- 0 until D) g(i)(j) += v(i) * v(j)
    }
    g
  }

  test("jacobi recovers a planted diagonal-plus-rotation spectrum") {
    // A = diag(5, 2, 1, ...) conjugated by a known Givens rotation:
    // eigenvalues must come back sorted, eigenvectors orthonormal.
    val a = Array.ofDim[Double](4, 4)
    a(0)(0) = 5; a(1)(1) = 2; a(2)(2) = 1; a(3)(3) = 0.5
    val (c, s) = (math.cos(0.7), math.sin(0.7))
    // rotate in the (0, 1) plane: A' = G A Gᵀ
    val ap = a.map(_.clone())
    ap(0)(0) = c * c * 5 + s * s * 2
    ap(1)(1) = s * s * 5 + c * c * 2
    ap(0)(1) = c * s * (5 - 2); ap(1)(0) = ap(0)(1)
    val (vals, vecs) = FreqDir.jacobiEigen(ap)
    assert(math.abs(vals(0) - 5) < 1e-12 && math.abs(vals(1) - 2) < 1e-12)
    assert(math.abs(math.abs(vecs(0)(0)) - c) < 1e-12)
    // orthonormality of the top two
    val dot = (0 until 4).map(r => vecs(r)(0) * vecs(r)(1)).sum
    assert(math.abs(dot) < 1e-12)
  }

  test("exact mode: no shrinkage => BtB equals the true Gram at any split") {
    val vecs = (0 until 20).map(i => Array.tabulate(D)(j => noise(i, j)))
    val truth = gramOf(vecs)
    for (parts <- Seq(1, 7, 32)) {
      val sk = sketchOf(vecs, parts, l = 12) // 20 < 2l = 24: no shrink
      assert(FreqDir.shrinkTotal(sk) == 0.0, s"parts=$parts")
      assert(FreqDir.count(sk) == 20L)
      val cov = FreqDir.cov(sk)
      for (i <- 0 until D; j <- 0 until D)
        assert(math.abs(cov(i)(j) - truth(i)(j)) < 1e-9,
          s"cell ($i,$j) at parts=$parts")
    }
  }

  test("planted spike survives real shrinkage at any split") {
    // 400 vectors = strong rank-1 spike along u + weak noise; l = 4
    // forces dozens of shrinks. The sketch's top eigenvector must
    // still align with u, and the certificate must hold.
    val u = Array.tabulate(D)(j => math.sin(j + 1.0))
    val un = math.sqrt(u.map(x => x * x).sum)
    for (j <- 0 until D) u(j) /= un
    val vecs = (0 until 400).map { i =>
      val amp = 3.0 + (i % 5) * 0.1
      Array.tabulate(D)(j => amp * u(j) + 0.05 * noise(i, j))
    }
    val truth = gramOf(vecs)
    val (lam1, _) = FreqDir.jacobiEigen(truth) match {
      case (vals, vecs0) => (vals(0), vecs0)
    }
    for (parts <- Seq(1, 7, 32)) {
      val sk = sketchOf(vecs, parts, l = 4)
      val delta = FreqDir.shrinkTotal(sk)
      assert(delta > 0.0, "l=4 over 400 rows must actually shrink")
      assert(FreqDir.count(sk) == 400L)
      val (lamB, vfd) = FreqDir.topEigen(sk)
      val cos = math.abs((0 until D).map(j => vfd(j) * u(j)).sum)
      assert(cos > 0.99, s"spike direction lost: cos=$cos parts=$parts")
      // Certificate sandwich at the sketch's own top direction:
      val ray = (for (i <- 0 until D; j <- 0 until D)
        yield vfd(i) * truth(i)(j) * vfd(j)).sum
      assert(lamB <= ray + 1e-9 * lam1, "BtB must never overestimate")
      assert(ray >= lam1 - delta - 1e-9 * lam1,
        s"sandwich: ray=$ray lam1=$lam1 delta=$delta")
    }
  }

  test("never-updated state finishes without crashing") {
    val empty = FreqDir.serialize(new FreqDir.State(4))
    assert(FreqDir.count(empty) == 0L)
    assert(FreqDir.shrinkTotal(empty) == 0.0)
    assert(FreqDir.cov(empty).length == 0)
    val (lam, v) = FreqDir.topEigen(empty)
    assert(lam == 0.0 && v.isEmpty)
  }

  test("merge soundness: per-slice partials keep the certificate") {
    import spark.implicits._
    val vecs = (0 until 300).map(i => Array.tabulate(D)(j =>
      noise(i, j) + (if (j == 3) 1.5 else 0.0)))
    val truth = gramOf(vecs)
    val lam1 = FreqDir.jacobiEigen(truth)._1(0)
    val bytes = vecs.zipWithIndex.map { case (v, i) => (i % 9, v) }
      .toDF("slice", "embedding").repartition(9)
      .groupBy("slice").agg(expr("fd_sketch_agg(embedding, 4)").as("sk"))
      .agg(expr("fd_merge_agg(sk, 4)").as("sk")) // the state-table rollup face
      .collect()(0).getAs[Array[Byte]](0)
    val merged = FreqDir.deserialize(bytes)
    assert(merged.n == 300L)
    val (vals, vecsM) = FreqDir.jacobiEigen(merged.gram())
    val vtop = Array.tabulate(D)(r => vecsM(r)(0))
    val ray = (for (i <- 0 until D; j <- 0 until D)
      yield vtop(i) * truth(i)(j) * vtop(j)).sum
    assert(vals(0) <= ray + 1e-9 * lam1)
    assert(ray >= lam1 - merged.shrinkTotal - 1e-9 * lam1)
  }

  test("weighted face: exact window equals the expanded Gram; certificate under shrinkage") {
    import spark.implicits._
    // (vector, count) rollup: 6 distinct vectors with counts up to 9
    // fit in the m = 2l = 16 buffer unexpanded — zero shrinks — and
    // the sketch Gram must equal the EXPANDED matrix's Gram (each
    // √w-scaled row contributes exactly w·vvᵀ, up to one IEEE
    // rounding per entry).
    val rollup = (0 until 6).map(i =>
      (Array.tabulate(D)(j => noise(i, j)), 1L + (i * 7) % 9))
    val expanded = rollup.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }
    val truth = gramOf(expanded)
    for (parts <- Seq(1, 7)) {
      val bytes = rollup.toDF("embedding", "w").repartition(parts)
        .agg(expr("fd_sketch_agg(embedding, 8, w)").as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
      val st = FreqDir.deserialize(bytes)
      assert(st.n == expanded.length.toLong, "weight conservation")
      assert(st.shrinkTotal == 0.0, "no shrink should fire at this size")
      val g = st.gram()
      for (i <- 0 until D; j <- 0 until D)
        assert(math.abs(g(i)(j) - truth(i)(j)) <= 1e-9 * (1 + math.abs(truth(i)(j))),
          s"gram($i,$j) parts=$parts")
    }
    // Big weights through a small l force shrinks; the carried
    // PSD-sandwich certificate must hold against the weighted Gram.
    val heavy = (0 until 200).map(i =>
      (Array.tabulate(D)(j => noise(i, j) + (if (j == 2) 1.0 else 0.0)),
        1L + (i * 13) % 5000))
    val wGram = {
      val g = Array.ofDim[Double](D, D)
      heavy.foreach { case (v, w) =>
        for (i <- 0 until D; j <- 0 until D) g(i)(j) += w * v(i) * v(j)
      }
      g
    }
    val lam1 = FreqDir.jacobiEigen(wGram)._1(0)
    val bytes = heavy.toDF("embedding", "w").repartition(7)
      .agg(expr("fd_sketch_agg(embedding, 4, w)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    val st = FreqDir.deserialize(bytes)
    assert(st.n == heavy.map(_._2).sum)
    assert(st.shrinkTotal > 0.0, "shrinks must actually fire")
    val (vals, vecsM) = FreqDir.jacobiEigen(st.gram())
    val vtop = Array.tabulate(D)(r => vecsM(r)(0))
    val ray = (for (i <- 0 until D; j <- 0 until D)
      yield vtop(i) * wGram(i)(j) * vtop(j)).sum
    assert(vals(0) <= ray + 1e-6 * lam1)
    assert(ray >= lam1 - st.shrinkTotal - 1e-6 * lam1)
  }
}

package graft

import graft.functions.MisraGries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Misra-Gries primitives: exact mode (Δ = 0 ⇒ stored ≡ true, bytes
  * canonical at any split), planted-Zipf heavy-hitter recovery under
  * real decrements, the full certificate (no overestimate / within-Δ /
  * coverage / a-priori bound) at 1/7/32 partitions, and the merge
  * face.
  */
class MisraGriesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def sketchOf(keys: Seq[String], parts: Int, k: Int): Array[Byte] = {
    import spark.implicits._
    keys.map(Tuple1(_)).toDF("key").repartition(parts)
      .agg(expr(s"mg_sketch_agg(key, $k)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** The full certificate against the true multiset. */
  private def certificateHolds(keys: Seq[String], sk: Array[Byte],
      k: Int): Unit = {
    val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d = MisraGries.delta(sk)
    assert(MisraGries.count(sk) == keys.length.toLong)
    assert(d * (k + 1) <= keys.length.toLong, s"a-priori bound: d=$d")
    truth.foreach { case (key, t) =>
      val est = MisraGries.estimate(sk, key)
      assert(est <= t, s"overestimate at $key: $est > $t")
      assert(est >= t - d, s"under-delta at $key: $est < $t - $d")
      if (t > d) assert(est > 0, s"coverage: $key has $t > delta $d")
    }
  }

  test("exact mode: <= k distinct keys => delta 0, stored == true, canonical bytes") {
    val keys = (1 to 300).map(i => s"k${i % 6}") // 6 distinct, k = 8
    val a = sketchOf(keys, 1, 8)
    val b = sketchOf(keys, 7, 8)
    val c = sketchOf(keys, 32, 8)
    assert(a.toSeq == b.toSeq && b.toSeq == c.toSeq,
      "exact-mode summary must be a pure function of the multiset")
    assert(MisraGries.delta(a) == 0L)
    (0 until 6).foreach(i =>
      assert(MisraGries.estimate(a, s"k$i") == 50L))
  }

  test("planted Zipf spike survives real decrements at any split") {
    // 1000 occurrences of the spike + 3000 spread over 600 tail keys;
    // k = 16 => delta <= 4000/17 < 236 << 1000: the spike MUST be
    // present with a near-true count.
    val keys = Seq.fill(1000)("HEAVY") ++
      (1 to 3000).map(i => s"tail${i % 600}")
    for (parts <- Seq(1, 7, 32)) {
      val sk = sketchOf(keys, parts, 16)
      assert(MisraGries.delta(sk) > 0L, "decrements must actually fire")
      certificateHolds(keys, sk, 16)
      val est = MisraGries.estimate(sk, "HEAVY")
      assert(est > 0L && est >= 1000L - MisraGries.delta(sk),
        s"spike lost at parts=$parts: est=$est")
    }
  }

  test("weighted face: exact-mode rollup bytes equal the raw-row bytes at 1/7/32 splits") {
    import spark.implicits._
    val keys = (1 to 300).map(i => s"k${i % 6}") // 6 distinct, k = 8
    val raw = sketchOf(keys, 1, 8)
    val rollup = keys.groupBy(identity).view.mapValues(_.size.toLong).toSeq
    for (parts <- Seq(1, 7, 32)) {
      val viaWeights = rollup.toDF("key", "w").repartition(parts)
        .agg(expr("mg_sketch_agg(key, 8, w)").as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
      assert(viaWeights.toSeq == raw.toSeq,
        s"weighted exact-mode bytes diverged at parts=$parts")
    }
  }

  test("weighted face under real decrements: certificate holds, n exact") {
    import spark.implicits._
    val keys = Seq.fill(1000)("HEAVY") ++ (1 to 3000).map(i => s"tail${i % 600}")
    val rollup = keys.groupBy(identity).view.mapValues(_.size.toLong).toSeq
    for (parts <- Seq(1, 7, 32)) {
      val sk = rollup.toDF("key", "w").repartition(parts)
        .agg(expr("mg_sketch_agg(key, 16, w)").as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
      certificateHolds(keys, sk, 16)
      assert(MisraGries.estimate(sk, "HEAVY") >=
        1000L - MisraGries.delta(sk))
    }
  }

  test("lazy-offset State matches an eager reference on random streams") {
    // The production State batches decrements through a base offset +
    // lazy dead-slot reclaim; this pins its LOGICAL state (stored
    // counts, delta, n) to the textbook eager algorithm, update by
    // update, on adversarial near-all-distinct and skewed streams.
    final class Eager(k: Int) {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L; var delta = 0L
      def update(key: String, w: Long): Unit = (1L to w).foreach { _ =>
        n += 1
        m.get(key) match {
          case Some(c) => m.update(key, c + 1)
          case None if m.size < k => m.update(key, 1L)
          case None =>
            delta += 1
            val ks = m.keys.toSeq
            ks.foreach(kk => m.update(kk, m(kk) - 1))
            ks.filter(m(_) == 0L).foreach(m.remove)
        }
      }
    }
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 5; k <- Seq(2, 5, 16)) {
      val eager = new Eager(k)
      val lazyS = new MisraGries.State(k)
      (1 to 2000).foreach { _ =>
        val key = s"x${rnd.nextInt(if (trial % 2 == 0) 40 else 1500)}"
        val w = 1L + rnd.nextInt(4)
        eager.update(key, w)
        lazyS.update(key, w)
      }
      assert(lazyS.n == eager.n && lazyS.delta == eager.delta,
        s"trial=$trial k=$k: n/delta diverged")
      assert(lazyS.logical.toMap == eager.m.toMap,
        s"trial=$trial k=$k: stored counts diverged")
    }
  }

  test("mg_entries surfaces the candidate list straight off state") {
    import spark.implicits._
    val keys = Seq.fill(1000)("HEAVY") ++ (1 to 3000).map(i => s"tail${i % 600}")
    val sk = sketchOf(keys, 7, 16)
    // JVM reader: sorted (count DESC, key), equal to the logical state.
    val es = MisraGries.entries(sk)
    assert(es.nonEmpty && es.head._1 == "HEAVY",
      s"the spike must rank first, got ${es.take(3).toSeq}")
    assert(es.map(_._2).sameElements(es.map(_._2).sortBy(-_)))
    assert(es.toMap == MisraGries.deserialize(sk).logical.toMap)
    // SQL surface: the same list through the registered expression.
    val row = Seq(Tuple1(sk)).toDF("sk")
      .selectExpr("inline(mg_entries(sk))")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(row.toSeq == es.toSeq)
  }

  test("merge face: per-slice partials keep the certificate and exactness") {
    import spark.implicits._
    val keys = Seq.fill(500)("HEAVY") ++ (1 to 2000).map(i => s"t${i % 300}")
    val merged = keys.zipWithIndex.map { case (key, i) => (i % 11, key) }
      .toDF("slice", "key").repartition(11)
      .groupBy("slice").agg(expr("mg_sketch_agg(key, 16)").as("sk"))
      .agg(expr("mg_merge_agg(sk, 16)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    certificateHolds(keys, merged, 16)
    assert(MisraGries.estimate(merged, "HEAVY") > 0L)
    // exact window through the merge face: tiny distinct set
    val small = (1 to 120).map(i => s"s${i % 4}")
    val oneShot = sketchOf(small, 1, 8)
    val viaMerge = small.zipWithIndex.map { case (key, i) => (i % 5, key) }
      .toDF("slice", "key")
      .groupBy("slice").agg(expr("mg_sketch_agg(key, 8)").as("sk"))
      .agg(expr("mg_merge_agg(sk, 8)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(viaMerge.toSeq == oneShot.toSeq)
  }
}

package graft

import graft.functions.HyperSig
import graft.plans.CosineBandJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The CosineBandJoin optimizer rule: a declarative
  * `JOIN ON cosine_sim(a, b) >= t` must plan as the hypersig banded
  * equi-join (no nested loop), return exactly the brute-force pairs
  * on corpora inside the rule's recall contract (signature distance
  * < NumBands), out-of-scope shapes must pass through untouched, and
  * the contract that keeps q_cos_join gate-exact — planted pairs of
  * the REAL corpus stay within the banding radius — is certified
  * here against the testdata parquet itself.
  */
class CosineRuleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Dim = 64

  /** Deterministic synthetic 64-dim float vectors: clusters c share a
    * base direction; member m scales it by 2^m (cosine exactly 1,
    * hypersig exactly equal — radius 0 by construction), so the rule's
    * pigeonhole guarantee applies with zero slack. Distinct clusters
    * are generic pseudo-random directions (pairwise cosine far from
    * 1). */
  private def vec(cluster: Int, member: Int): Array[Float] = {
    val base = Array.tabulate(Dim) { i =>
      val h = ((cluster * 1315423911) ^ (i * 2654435761L).toInt) & 0xffff
      (h - 32768).toFloat / 32768f
    }
    val scale = math.pow(2.0, member.toDouble).toFloat
    base.map(_ * scale)
  }

  /** Scala twin of CosineSim's fold (same sequential order). */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < Dim) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def sigOf(a: Array[Float]): Long =
    HyperSig.compute(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      a.map(x => x: Any)))

  private def hamming(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  //  4 clusters × 2 members (cosine 1 within, generic across) plus two
  //  singletons.
  private val rows: Seq[(Long, Array[Float])] =
    (for (c <- 0 until 4; m <- 0 until 2)
      yield ((c * 10 + m).toLong, vec(c, m))) ++
      Seq((90L, vec(9, 0)), (91L, vec(11, 0)))

  private def df(id: String, arr: String): DataFrame = {
    import spark.implicits._
    rows.toDF(id, arr)
  }

  private def brute(t: Double): Seq[(Long, Long)] =
    (for ((li, la) <- rows; (ri, ra) <- rows
      if cosine(la, ra) >= t) yield (li, ri)).sorted

  test("corpus is inside the recall contract (precondition, not a rule test)") {
    for ((li, la) <- rows; (ri, ra) <- rows if cosine(la, ra) >= 0.9)
      assert(hamming(sigOf(la), sigOf(ra)) < CosineBandJoin.NumBands,
        s"pair ($li,$ri) outside the signature radius — rebuild the corpus")
  }

  test("declarative cosine_sim >= 0.9 join: no nested loop, equals brute force") {
    val joined = df("lid", "la").join(df("rid", "ra"),
      expr("cosine_sim(la, ra)") >= lit(0.9))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"rule did not fire, plan:\n$p")
    assert(p.contains("cosine_sim"), s"verify missing, plan:\n$p")
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(got == brute(0.9), s"got $got want ${brute(0.9)}")
    assert(got.size > rows.size && got.size < rows.size * rows.size,
      "threshold must be non-vacuous on this corpus")
  }

  test("extra conjuncts ride along; SQL decimal spelling fires too") {
    val joined = df("lid", "la").join(df("rid", "ra"),
      expr("cosine_sim(la, ra) >= 0.9") && col("lid") < col("rid"))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(got == brute(0.9).filter(x => x._1 < x._2))
  }

  test("multiplicity: duplicate input rows multiply pairs, no dedup loss") {
    import spark.implicits._
    val twice = (rows ++ rows.take(2)).toDF("lid", "la")
    val joined = twice.join(df("rid", "ra"),
      expr("cosine_sim(la, ra)") >= lit(0.9))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    val dupIds = rows.take(2).map(_._1).toSet
    val want = (brute(0.9) ++ brute(0.9).filter(x => dupIds(x._1))).sorted
    assert(got == want, s"got $got want $want")
  }

  private def dotNormJoin(): DataFrame = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    def nrm(e: org.apache.spark.sql.Column) =
      sqrt(aggregate(transform(e, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x))
    val la = col("la"); val ra = col("ra")
    df("lid", "la").join(df("rid", "ra"),
      dot(la, ra) / (nrm(la) * nrm(ra)) >= lit(0.9))
  }

  test("the spelled-out dot/norm form WITHOUT the opt-in keeps exact semantics") {
    val joined = dotNormJoin()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("NestedLoop") || p.contains("CartesianProduct"),
      s"spelled form must pass through, plan:\n$p")
    assert(!p.contains("__graft_cband"))
  }

  test("t <= 0, t > 1, outer joins and equi-key joins pass through") {
    for (t <- Seq(0.0, -0.5, 1.5)) {
      val j = df("lid", "la").join(df("rid", "ra"),
        expr("cosine_sim(la, ra)") >= lit(t))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("NestedLoop") || p.contains("CartesianProduct"),
        s"t=$t must pass through, plan:\n$p")
    }
    val outer = df("lid", "la").join(df("rid", "ra"),
      expr("cosine_sim(la, ra)") >= lit(0.9), "left")
    val po = outer.queryExecution.executedPlan.toString
    assert(po.contains("NestedLoop") || po.contains("CartesianProduct"),
      s"outer join must pass through, plan:\n$po")
    import spark.implicits._
    val l = rows.map { case (i, v) => (i, v, i % 2) }.toDF("lid", "la", "ka")
    val r = rows.map { case (i, v) => (i, v, i % 2) }.toDF("rid", "ra", "kb")
    val keyed = l.join(r,
      col("ka") === col("kb") && expr("cosine_sim(la, ra)") >= lit(0.9))
    val pk = keyed.queryExecution.executedPlan.toString
    assert(!pk.contains("__graft_cband"),
      s"rule re-blocked an equi-key join, plan:\n$pk")
  }

  private def planesInPlan(joined: DataFrame): Set[Int] =
    joined.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect {
        case h: graft.functions.HyperplaneSignature => h.planes
      })
    }.flatten.toSet

  test("stats-derived geometry: small corpus keeps 16/4, web-scale stats pick 64/4") {
    // The rule sizes planes/bands from the plan's own row estimate at
    // rule-fire time (the Binning precedent). Small corpora keep the certified wide-radius demo
    // geometry; a side whose stats say tens of millions of rows gets
    // the Manku et al. 2007 64-bit / 4×16-bit operating point. Both
    // pins read the hypersig plane count out of the optimized plan —
    // the large one is never executed.
    val small = df("lid", "la").join(df("rid", "ra"),
      expr("cosine_sim(la, ra)") >= lit(0.9))
    assert(planesInPlan(small) == Set(CosineBandJoin.NumPlanes),
      s"small corpus must plan the demo geometry, got ${planesInPlan(small)}")
    val vecExpr = "transform(sequence(0, 63), i -> cast(id % 7 + i as float))"
    val big = spark.range(300000000L)
      .select(col("id").as("lid"), expr(vecExpr).as("la"))
    val bigR = spark.range(300000000L)
      .select(col("id").as("rid"), expr(vecExpr).as("ra"))
    val joined = big.join(bigR, expr("cosine_sim(la, ra)") >= lit(0.9))
    assert(planesInPlan(joined) == Set(HyperSig.MaxPlanes),
      s"web-scale stats must plan 64 planes, got ${planesInPlan(joined)}")
  }

  test("the rule fires on the spark.sql TEXT path (q_sql_cos's plan)") {
    // The q_sql_jaccard contract carried to the cosine rule: the
    // SAME ANSI string q_sql_cos executes must plan NestedLoop-free
    // through the parser/analyzer path, with the banded join's
    // marker columns present.
    import spark.implicits._
    val dir = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
      .createOrReplaceTempView("emb_sql_cos")
    val df = spark.sql(graft.operators.AnnOps.SqlCosText)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"sql-text cosine join did not fire, plan:\n$p")
    assert(p.contains("hypersig"), s"banded plan missing, plan:\n$p")
    // Every planted pair must come back (the fixture contract: each
    // slice vector pairs with its coordinate-halved copy).
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sliceIds = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" % 5 === 0).select("vec_id").as[Long].collect()
    assert(sliceIds.forall(id => got.contains((id, id + 100000L))),
      "a planted near-duplicate pair is missing")
  }

  test("kill-switch conf restores the nested loop") {
    spark.conf.set(CosineBandJoin.EnabledKey, "false")
    try {
      val j = df("lid", "la").join(df("rid", "ra"),
        expr("cosine_sim(la, ra)") >= lit(0.9))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("NestedLoop") || p.contains("CartesianProduct"),
        s"kill-switch ignored, plan:\n$p")
    } finally spark.conf.set(CosineBandJoin.EnabledKey, "true")
  }

  test("q_cos_join's planted corpus stays within the banding radius (gate certificate)") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(base.nonEmpty)
    var worst = 0
    for ((_, v) <- base) {
      val pert = v.clone(); pert(1) = (pert(1).toDouble * 0.5).toFloat
      val d = hamming(sigOf(v), sigOf(pert))
      worst = math.max(worst, d)
      assert(d < CosineBandJoin.NumBands,
        s"planted pair signature distance $d >= radius — q_cos_join would lose it")
      assert(cosine(v, pert) >= 0.9, "planted pair must qualify at t = 0.9")
    }
    // Radius 3 observed at every SF when this corpus was designed;
    // the assert above is the binding check, this logs headroom.
    assert(worst <= CosineBandJoin.NumBands - 1)
  }
}

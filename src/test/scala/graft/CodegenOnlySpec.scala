package graft

import graft.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{GenerateMutableProjection, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{LocalTableScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Loud-failure regression gate for the codegen of graft's custom
  * Catalyst expressions (the codegen'd ones among `Registry.functions`).
  *
  * Why this exists: broken `doGenCode` output does NOT fail the
  * build — Spark catches the Janino CompileException, logs one WARN,
  * and silently falls back to interpreted projection, voiding the
  * whole point of a fused expression while every correctness test
  * stays green. Two real instances motivated this suite:
  *   - CentArgmin/CosineSim derived a boxed temp's name from
  *     `ev.value`, which is not guaranteed to be a plain identifier
  *     in every codegen context (fixed via `ctx.freshName`);
  *   - Spark's own `BloomFilterMightContain` emits
  *     `mightContainLong((Long)<probe>)`, and when the probe constant
  *     folds to a NEGATIVE long literal Janino parses `(Long)-68…L`
  *     as "(expression Long) minus literal" and dies with
  *     `Expression "java.lang.Long" is not an rvalue` — seen live in
  *     ExtensionsSpec's `xxhash64(42L)` probe, which is why the
  *     engine registers graft's BloomMightContain instead.
  *
  * Two layers, both of which turn silent fallback into a test
  * failure:
  *  1. direct `GenerateUnsafeProjection.generate` /
  *     `GenerateMutableProjection.generate` over each expression —
  *     these throw on codegen compile errors (no fallback on this
  *     path) and the generated result is compared against the
  *     interpreted `eval`, pinning compilability AND codegen/interp
  *     agreement;
  *  2. SQL passes over every function with
  *     `spark.sql.codegen.factoryMode=CODEGEN_ONLY` and
  *     `spark.sql.codegen.fallback=false`, so a break anywhere in the
  *     planner-driven projection or whole-stage path also fails
  *     loudly instead of warning into the void.
  */
class CodegenOnlySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val vecType = ArrayType(FloatType, containsNull = false)
  private val toksType = ArrayType(StringType, containsNull = false)
  private val centType = StructType(Seq(
    StructField("cent_id", LongType, nullable = false),
    StructField("ce", vecType, nullable = false),
    StructField("cn2", DoubleType, nullable = false),
    StructField("cn", DoubleType, nullable = false)))
  private val csType = ArrayType(centType, containsNull = false)

  private def fvec(xs: Float*): GenericArrayData =
    new GenericArrayData(xs.toArray[Any])
  private def svec(xs: String*): GenericArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
  private def cent(id: Long, ce: Seq[Float]): GenericInternalRow = {
    val n2 = ce.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
    new GenericInternalRow(Array[Any](id, fvec(ce: _*), n2, math.sqrt(n2)))
  }

  /** A small serialized bloom sketch holding exactly {42}. */
  private lazy val bloomBytes: Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100)
    bf.putLong(42L)
    val baos = new java.io.ByteArrayOutputStream()
    bf.writeTo(baos)
    baos.toByteArray
  }

  /** Sketch bytes built by a family's own aggregate over `values`. */
  private def sketch[S](agg: SketchAgg[S], values: Any*): Array[Byte] = {
    val buf = agg.createAggregationBuffer()
    values.foreach(v => agg.update(buf, InternalRow(v)))
    agg.serialize(buf)
  }
  private lazy val thetaA = sketch(
    ThetaSketchAgg(BoundReference(0, LongType, nullable = true), Literal(12)),
    (1L to 50L): _*)
  private lazy val thetaB = sketch(
    ThetaSketchAgg(BoundReference(0, LongType, nullable = true), Literal(12)),
    (26L to 75L): _*)
  private lazy val kllBytes = sketch(
    KllSketchAgg(BoundReference(0, DoubleType, nullable = true), Literal(16),
      Literal(1L)),
    (1 to 100).map(_.toDouble): _*)
  private lazy val mgBytes = sketch(
    MgSketchAgg(BoundReference(0, StringType, nullable = true), Literal(2),
      Literal(1L)),
    Seq("a", "b", "a", "c", "a").map(UTF8String.fromString): _*)
  private lazy val cmsBytes = sketch(
    CmsSketchAgg(BoundReference(0, LongType, nullable = true), Literal(64),
      Literal(4), Literal(1L)),
    7L, 7L, 3L)

  private val dim = HyperSig.Dim
  private val emb: Seq[Float] = (0 until dim).map(i => (i % 7 - 3) * 0.25f)
  private val emb2: Seq[Float] = (0 until dim).map(i => (i % 5 - 2) * 0.5f)

  /** (name, expression over BoundReferences/Literals, input row). */
  private def cases: Seq[(String, Expression, InternalRow)] = {
    val vecRef = BoundReference(0, vecType, nullable = true)
    val vec2Ref = BoundReference(1, vecType, nullable = true)
    val csRef = BoundReference(1, csType, nullable = true)
    val toksRef = BoundReference(0, toksType, nullable = true)
    val embRow = new GenericInternalRow(Array[Any](
      fvec(emb: _*),
      new GenericArrayData(Array[Any](cent(4L, emb2), cent(2L, emb.map(_ + 1.0f))))))
    val pairRow = new GenericInternalRow(Array[Any](fvec(emb: _*), fvec(emb2: _*)))
    val tokRow = new GenericInternalRow(Array[Any](svec("the", "quick", "brown", "fox")))
    val bloomLit = Literal(bloomBytes, BinaryType)
    Seq(
      ("cent_argmin_l2", CentArgmin(vecRef, csRef, cosine = false), embRow),
      ("cent_argmin_cos", CentArgmin(vecRef, csRef, cosine = true), embRow),
      ("cosine_sim", CosineSim(vecRef, vec2Ref), pairRow),
      ("minhash60", MinHashSignature(toksRef), tokRow),
      ("simhash60", SimHashSignature(toksRef), tokRow),
      ("hypersig", HyperplaneSignature(vecRef),
        new GenericInternalRow(Array[Any](fvec(emb: _*)))),
      ("rollhash60",
        RollingGramHashes(BoundReference(0, StringType, nullable = true),
          Literal(3)),
        new GenericInternalRow(Array[Any](UTF8String.fromString("abcdef")))),
      ("jaro_winkler",
        JaroWinklerSim(BoundReference(0, StringType, nullable = true),
          Literal(UTF8String.fromString("marhta"), StringType)),
        new GenericInternalRow(Array[Any](UTF8String.fromString("martha")))),
      ("nfc_normalize",
        NfcNormalize(BoundReference(0, StringType, nullable = true)),
        new GenericInternalRow(Array[Any](UTF8String.fromString("caf\u00e9 e\u0301")))),
      ("char_counts",
        CharCounts(BoundReference(0, StringType, nullable = true),
          Literal(UTF8String.fromString("ac "), StringType)),
        new GenericInternalRow(Array[Any](UTF8String.fromString("caf\u00e9 Cab")))),
      ("bloom_might_contain(col)",
        BloomMightContain(bloomLit, BoundReference(0, LongType, nullable = false)),
        new GenericInternalRow(Array[Any](42L))),
      // The Janino trap shape: a folded NEGATIVE literal probe. With
      // Spark's built-in probe this projection does not compile.
      ("bloom_might_contain(-literal)",
        BloomMightContain(bloomLit, Literal(-6876166290308861218L)),
        new GenericInternalRow(0)),
      ("sorted_intersect_count",
        SortedIntersectCount(
          BoundReference(0, toksType, nullable = false),
          BoundReference(1, toksType, nullable = false)),
        new GenericInternalRow(Array[Any](
          svec("a", "b", "d"), svec("b", "c", "d")))),
      ("sorted_intersect_first",
        SortedIntersectFirst(
          BoundReference(0, toksType, nullable = false),
          BoundReference(1, toksType, nullable = false)),
        new GenericInternalRow(Array[Any](
          svec("a", "b", "d"), svec("b", "c", "d")))),
      ("sorted_suffix_hamming_lb",
        SortedSuffixHammingLB(
          BoundReference(0, toksType, nullable = false),
          BoundReference(1, toksType, nullable = false),
          Literal(1), Literal(0)),
        new GenericInternalRow(Array[Any](
          svec("a", "b", "d"), svec("b", "c", "d"))))) ++ sketchCases
  }

  /** The codegen'd sketch readouts over bytes from each family's builder. */
  private def sketchCases: Seq[(String, Expression, InternalRow)] = {
    val sk = BoundReference(0, BinaryType, nullable = true)
    def probe(dt: DataType) = BoundReference(1, dt, nullable = true)
    def one(bytes: Array[Byte]) = new GenericInternalRow(Array[Any](bytes))
    def two(bytes: Array[Byte], p: Any) = new GenericInternalRow(Array[Any](bytes, p))
    Seq(
      ("theta_estimate", ThetaEstimate(sk), one(thetaA)),
      ("theta_intersect_estimate",
        ThetaIntersectEstimate(sk, probe(BinaryType)), two(thetaA, thetaB)),
      ("theta_anotb_estimate",
        ThetaAnotBEstimate(sk, probe(BinaryType)), two(thetaA, thetaB)),
      ("kll_quantile", KllQuantile(sk, Literal(0.5)), one(kllBytes)),
      ("kll_rank", KllRank(sk, probe(DoubleType)), two(kllBytes, 30.0)),
      ("kll_n", KllN(sk), one(kllBytes)),
      ("kll_is_exact", KllIsExact(sk), one(kllBytes)),
      ("kll_err_bound", KllErrBound(sk), one(kllBytes)),
      ("mg_estimate", MgEstimate(sk, probe(StringType)),
        two(mgBytes, UTF8String.fromString("a"))),
      ("mg_delta", MgDelta(sk), one(mgBytes)),
      ("mg_n", MgN(sk), one(mgBytes)),
      // An int probe: the generated call widens it with a (long) cast.
      ("cms_estimate", CmsEstimate(sk, probe(IntegerType)), two(cmsBytes, 7)))
  }

  /** Normalizes a result (boxed scalar or ArrayData) for comparison. */
  private def norm(v: Any): Any = v match {
    case a: ArrayData => a.toLongArray.toSeq
    case x => x
  }

  private def projected(row: InternalRow, dt: DataType): Any = dt match {
    case IntegerType => if (row.isNullAt(0)) null else row.getInt(0)
    case LongType => if (row.isNullAt(0)) null else row.getLong(0)
    case DoubleType => if (row.isNullAt(0)) null else row.getDouble(0)
    case BooleanType => if (row.isNullAt(0)) null else row.getBoolean(0)
    case ArrayType(LongType, _) =>
      if (row.isNullAt(0)) null else row.getArray(0).toLongArray.toSeq
    case StringType =>
      if (row.isNullAt(0)) null else row.getUTF8String(0).clone()
    case other => fail(s"unhandled result type $other")
  }

  private def withStrictCodegen[A](body: => A): A = {
    val savedMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val savedFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally {
      savedMode.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      savedFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
    }
  }

  test("GenerateUnsafeProjection compiles and agrees with eval for all eight expressions") {
    for ((name, e, row) <- cases) {
      val interp = norm(e.eval(row))
      assert(interp != null, s"$name: test input unexpectedly evaluated to null")
      // generate() throws CompileException on broken codegen — there is
      // no interpreted fallback on this path, which is the point.
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      assert(projected(proj(row), e.dataType) === interp,
        s"$name: unsafe-projection codegen disagrees with interpreted eval")
    }
  }

  test("GenerateMutableProjection compiles and agrees with eval for all eight expressions") {
    for ((name, e, row) <- cases) {
      val interp = norm(e.eval(row))
      val proj = GenerateMutableProjection.generate(Seq(e))
      proj.target(new GenericInternalRow(1))
      assert(projected(proj(row), e.dataType) === interp,
        s"$name: mutable-projection codegen disagrees with interpreted eval")
    }
  }

  test("all-literal-argument SQL compiles under CODEGEN_ONLY") {
    // Fully-foldable arguments exercise constant folding plus the
    // projection paths over whatever survives folding — the class of
    // shape where both historical breaks hid.
    val sql =
      """SELECT minhash60(array('a b c', 'b c d')) AS mh,
        |  simhash60(array('a', 'b')) AS sh,
        |  rollhash60('abcdef', 3) AS rh,
        |  jaro_winkler('martha', 'marhta') AS jw,
        |  length(nfc_normalize('e\u0301x')) AS nn,
        |  hypersig(CAST(array_repeat(0.5D, 64) AS ARRAY<FLOAT>)) AS hs,
        |  cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |             CAST(array(0.5, 0.5) AS ARRAY<FLOAT>)) AS cs,
        |  cent_argmin_l2(
        |    CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |    array(struct(7L AS cent_id, CAST(array(1.0, 0.0) AS ARRAY<FLOAT>) AS ce, 1.0D AS cn2, 1.0D AS cn),
        |          struct(9L AS cent_id, CAST(array(0.0, 1.0) AS ARRAY<FLOAT>) AS ce, 1.0D AS cn2, 1.0D AS cn))) AS cell,
        |  cent_argmin_cos(
        |    CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |    array(struct(7L AS cent_id, CAST(array(1.0, 0.0) AS ARRAY<FLOAT>) AS ce, 1.0D AS cn2, 1.0D AS cn),
        |          struct(9L AS cent_id, CAST(array(0.0, 1.0) AS ARRAY<FLOAT>) AS ce, 1.0D AS cn2, 1.0D AS cn))) AS cell_cos
        |""".stripMargin
    withStrictCodegen {
      val row = spark.sql(sql).collect().head
      assert(row.getLong(7) == 7L && row.getLong(8) == 7L)
      assert(row.getSeq[Long](2) ===
        Seq("abc", "bcd", "cde", "def").map(RollHash.gramHash))
      assert(row.getDouble(3) == 0.9611111111111111)
      assert(row.getInt(4) == 2, "nfc composes e+combining-acute")
    }
  }

  test("bloom probe with folded negative-literal hash compiles under CODEGEN_ONLY") {
    // xxhash64(42L) folds to a negative long literal — the exact shape
    // that made Spark's built-in BloomFilterMightContain emit
    // uncompilable Java and silently interpret the projection.
    spark.range(100).createOrReplaceTempView("bloom_cg_t")
    withStrictCodegen {
      val row = spark.sql(
        """SELECT bloom_might_contain(
          |    (SELECT bloom_agg(xxhash64(id)) FROM bloom_cg_t),
          |    xxhash64(42L)) AS hit,
          |  bloom_might_contain(
          |    (SELECT bloom_agg(xxhash64(id)) FROM bloom_cg_t),
          |    xxhash64(1000L)) AS miss""".stripMargin).collect().head
      assert(row.getBoolean(0) && !row.getBoolean(1))
    }
  }

  test("sketch readouts over aggregated sketches run under CODEGEN_ONLY with whole-stage fallback off") {
    // Sketches built by aggregates over range() reach the readouts as
    // data, so the readout projection is compiled, not folded.
    val sel = spark.sql(
      """WITH s AS (
        |  SELECT theta_sketch_agg(id) AS ta, theta_sketch_agg(id + 50) AS tb,
        |    kll_sketch_agg(CAST(id AS DOUBLE), 16) AS kl,
        |    mg_sketch_agg(id % 3, 2) AS mg, cms_sketch_agg(id % 5) AS cm
        |  FROM range(100))
        |SELECT theta_estimate(ta), theta_intersect_estimate(ta, tb),
        |  theta_anotb_estimate(ta, tb), kll_quantile(kl, 0.5D),
        |  kll_rank(kl, 50.0D), kll_n(kl), kll_is_exact(kl), kll_err_bound(kl),
        |  mg_estimate(mg, '1'), mg_delta(mg), mg_n(mg), cms_estimate(cm, 3)
        |FROM s""".stripMargin)
    val baseline = sel.collect()
    withStrictCodegen {
      val strict = sel.collect()
      assert(strict.toSeq === baseline.toSeq)
      val r = strict.head
      assert(r.getLong(0) == 100L && r.getLong(1) == 50L && r.getLong(2) == 50L)
      assert(r.getLong(5) == 100L && !r.getBoolean(6) && r.getLong(10) == 100L)
      assert(r.getLong(11) >= 20L, "count-min never underestimates")
    }
  }

  test("all ten functions run end-to-end under CODEGEN_ONLY with whole-stage fallback off") {
    import spark.implicits._
    val bloomHex = bloomBytes.map("%02X".format(_)).mkString
    val df = Seq((emb.toArray, emb2.toArray, Seq("a", "b", "a c"), 42L, "rolling"))
      .toDF("e1", "e2", "toks", "k", "txt")
      .select(col("e1"), col("e2"), col("toks"), col("k"), col("txt"),
        array(struct(lit(4L).as("cent_id"), col("e2").as("ce"),
          aggregate(transform(col("e2"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, x) => a + x).as("cn2"),
          sqrt(aggregate(transform(col("e2"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, x) => a + x)).as("cn"))).as("cs"))
      // A checkpointed row is not a LocalRelation: the optimizer cannot
      // fold the projection below into the plan, so it runs as code.
      .localCheckpoint()
    val sel = df.select(
      expr("cent_argmin_l2(e1, cs)").as("a"),
      expr("cent_argmin_cos(e1, cs)").as("b"),
      expr("cosine_sim(e1, e2)").as("c"),
      expr("minhash60(toks)").as("d"),
      expr("simhash60(toks)").as("e"),
      expr("hypersig(e1)").as("f"),
      expr(s"bloom_might_contain(unhex('$bloomHex'), k)").as("g"),
      expr("rollhash60(txt, 4)").as("h"),
      expr("jaro_winkler(txt, 'rolled')").as("i"),
      expr("nfc_normalize(txt)").as("j"),
      expr("char_counts(txt, 'lo')").as("k"))
    val baseline = sel.collect()
    withStrictCodegen {
      val strict = sel.collect()
      assert(strict.toSeq === baseline.toSeq)
      val plan = sel.queryExecution.executedPlan
      assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined, plan)
      assert(plan.find(_.isInstanceOf[LocalTableScanExec]).isEmpty, plan)
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, Future}

/** Builds a session WITH spark.sql.extensions=graft.GraftExtensions
  * and exercises each injected function from pure SQL — the
  * spark-submit user's path. The shared test session must be cleared
  * from the default slot first or getOrCreate would return it (and
  * extensions only apply at session construction); it is restored
  * afterwards for the remaining suites.
  *
  * The later tests pin that both session kinds, [[GraftSession.build]]
  * and the extension plus [[GraftSession.install]], get the whole
  * [[Registry]] table the same way.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("extension-injected functions resolve from pure SQL") {
    val shared = TestSpark.spark // materialize before displacing it
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions is a STATIC conf — inert once a
      // SparkContext exists in the JVM — so the in-process test uses
      // the equivalent programmatic seam; spark-submit users set
      // --conf spark.sql.extensions=graft.GraftExtensions.
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val row = s.sql(
        """SELECT minhash60(array('a b c', 'b c d')) AS mh,
          |  simhash60(array('a', 'b')) AS sh,
          |  hypersig(CAST(array_repeat(0.5D, 64) AS ARRAY<FLOAT>)) IS NOT NULL AS hs_ok,
          |  cent_argmin_l2(
          |    CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
          |    array(struct(7L AS cent_id, CAST(array(1.0, 0.0) AS ARRAY<FLOAT>) AS ce, 1.0D AS cn2, 1.0D AS cn),
          |          struct(9L AS cent_id, CAST(array(0.0, 1.0) AS ARRAY<FLOAT>) AS ce, 1.0D AS cn2, 1.0D AS cn))) AS cell,
          |  cent_argmin_cos(
          |    CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
          |    array(struct(7L AS cent_id, CAST(array(1.0, 0.0) AS ARRAY<FLOAT>) AS ce, 1.0D AS cn2, 1.0D AS cn),
          |          struct(9L AS cent_id, CAST(array(0.0, 1.0) AS ARRAY<FLOAT>) AS ce, 1.0D AS cn2, 1.0D AS cn))) AS cell_cos
          |""".stripMargin).collect().head
      assert(row.getSeq[Long](0).length == 16)
      assert(row.getLong(1) != 0L)
      assert(row.getBoolean(2))
      assert(row.getLong(3) == 7L) // nearest by L2 and by cosine
      assert(row.getLong(4) == 7L)
      val rh = s.sql("SELECT rollhash60('abcdef', 3) AS rh").collect().head
      assert(rh.getSeq[Long](0) ==
        Seq("abc", "bcd", "cde", "def").map(graft.functions.RollHash.gramHash))
      s.range(200).createOrReplaceTempView("theta_ext_t")
      val th = s.sql(
        """SELECT theta_estimate(theta_union_agg(sk)) AS u,
          |  theta_intersect_estimate(min(sk), min(sk)) AS i
          |FROM (SELECT id % 2 AS g, theta_sketch_agg(id % 50) AS sk
          |      FROM theta_ext_t GROUP BY id % 2)""".stripMargin).collect().head
      // group 0 sketches the 25 even residues, group 1 the 25 odd;
      // union = 50, self-intersection of either = 25.
      assert(th.getLong(0) == 50L && th.getLong(1) == 25L)
      // Bloom pair: build over 0..99, probe a member and a non-member
      // (bloom guarantees no false negatives; 1000 is far outside).
      s.range(100).createOrReplaceTempView("bloom_ext_t")
      val b = s.sql(
        """SELECT bloom_might_contain(
          |    (SELECT bloom_agg(xxhash64(id)) FROM bloom_ext_t),
          |    xxhash64(42L)) AS hit,
          |  bloom_might_contain(
          |    (SELECT bloom_agg(xxhash64(id)) FROM bloom_ext_t),
          |    xxhash64(1000L)) AS miss""".stripMargin).collect().head
      assert(b.getBoolean(0))
      assert(!b.getBoolean(1))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  /** Runs `body` in a session `make` builds fresh, with the shared
    * test session displaced as in the test above and restored after. */
  private def inFresh[T](make: => SparkSession)(body: SparkSession => T): T = {
    val shared = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(make)
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  /** The two ways a session gets graft's table: built in code, or
    * given the functions by the extension and the rules by install. */
  private val sessionKinds: Seq[(String, () => SparkSession)] = Seq(
    "GraftSession.build" -> (() => GraftSession.build("2")),
    "GraftExtensions + install" -> { () =>
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      GraftSession.install(s)
      s
    })

  test("both session kinds hold the rules only in User Provided Optimizers and plan the NaN/Inf interval join fast") {
    for ((kind, make) <- sessionKinds) inFresh(make()) { s =>
      val placed = s.sessionState.optimizer.batches.flatMap(b =>
        b.rules.filter(Registry.rules.contains).map(b.name -> _))
      assert(placed == Registry.rules.map("User Provided Optimizers" -> _), kind)
      // IntervalRuleSpec's NaN/Inf join, the shape whose optimization
      // does not converge when the rules share a batch with
      // ColumnPruning and CollapseProject.
      import s.implicits._
      val l = Seq(("L0", 0.0, 4000.0), ("Ln", Double.NaN, Double.NaN),
        ("Li", 0.0, Double.PositiveInfinity)).toDF("la", "lo1", "hi1")
      val r = Seq(("R0", 3500.0, 10000.0), ("Rn", 100.0, Double.NaN),
        ("Ri", Double.NegativeInfinity, 50.0)).toDF("rb", "lo2", "hi2")
      val joined = l.join(r, col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
      val optimize = Future(joined.queryExecution.optimizedPlan)(
        scala.concurrent.ExecutionContext.global)
      Await.result(optimize, 5.seconds)
    }
  }

  test("both session kinds resolve every table function, and wrong arity names the function") {
    val names = Registry.functions.map(_._1.funcName)
    assert(names.distinct == names)
    val listed = sessionKinds.map { case (kind, make) =>
      inFresh(make()) { s =>
        val reg = s.sessionState.functionRegistry
        assert(names.filterNot(n => reg.functionExists(FunctionIdentifier(n))).isEmpty, kind)
        val e = intercept[IllegalArgumentException](s.sql("SELECT minhash60()"))
        assert(e.getMessage.contains("minhash60"), kind)
        reg.listFunction().toSet
      }
    }
    assert(listed.distinct.size == 1)
  }

  test("a fresh GraftSession.build session resolves the Theta names to graft's before any query") {
    inFresh(GraftSession.build("2")) { s =>
      def infoClass(name: String): Option[String] =
        s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name))
          .map(_.getClassName)
      assert(infoClass("theta_sketch_agg").contains(
        classOf[graft.functions.ThetaSketchAgg].getName))
      assert(infoClass("theta_union_agg").contains(
        classOf[graft.functions.ThetaUnionAgg].getName))
    }
  }
}

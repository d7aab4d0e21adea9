package graft

import graft.operators.Knn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** [[Knn]]'s neighbor-list contract on planted rows: ties go to the
  * smaller id, the cut lands at exactly k, the rank is a 1-based
  * BIGINT, a probe never lists itself — and each Spark piece and its
  * SQL text return the same rows (the text run through `spark.sql`).
  */
class KnnSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val K = 3
  private val ByScore = Knn.Rank(Knn.desc("cos_sim"), "neighbor_id", K)

  /** Probe 0: five neighbors, a three-way tie at 0.5 straddling the
    * cut. Probe 1: two neighbors, fewer than k. */
  private lazy val scored = {
    import spark.implicits._
    Seq((0L, 7L, 0.9), (0L, 9L, 0.5), (0L, 4L, 0.5), (0L, 2L, 0.5), (0L, 5L, 0.1),
      (1L, 3L, 0.2), (1L, 8L, 0.7)).toDF("probe_id", "neighbor_id", "cos_sim")
  }

  private def rows(df: DataFrame, rank: String = "rank"): Seq[(Long, Long, Double, Long)] =
    df.select(col("probe_id"), col("neighbor_id"), col("cos_sim"), col(rank).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq.sorted

  test("equal scores break ties by id and the cut lands at exactly k") {
    assert(rows(ByScore.ranked(scored)) == Seq(
      (0L, 2L, 0.5, 2L), (0L, 4L, 0.5, 3L), (0L, 7L, 0.9, 1L),
      (1L, 3L, 0.2, 2L), (1L, 8L, 0.7, 1L)))
  }

  test("the rank is a 1-based BIGINT; k = 1 keeps the argmax") {
    val top = ByScore.top(scored)
    assert(top.schema("rank").dataType == LongType)
    assert(top.agg(min("rank")).head().getLong(0) == 1L)
    val best = ByScore.copy(k = 1, as = "rn").cut(scored)
    assert(best.select("probe_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(0L -> 7L, 1L -> 8L))
  }

  test("the self pair is excluded, in both engines' spelling") {
    import spark.implicits._
    val e = (0L until 8L).map(i => (i, i * 10)).toDF("vec_id", "x")
    val pairs = Knn.pairs(Knn.panel(e, col("x").as("px")), e)
      .select("probe_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(pairs == (for (p <- 0L until Knn.NumProbes; v <- 0L until 8L if v != p)
      yield p -> v).toSet)
    e.createOrReplaceTempView("knn_e")
    val sqlPairs = spark.sql(
      s"""WITH e AS (SELECT * FROM knn_e),
         |probes AS (${Knn.panelSql("x AS px")})
         |SELECT probe_id, e.vec_id FROM ${Knn.pairsSql("e")}""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(sqlPairs == pairs)
  }

  test("the Spark ranking and its SQL text return the same rows") {
    scored.createOrReplaceTempView("knn_scored")
    val tail = spark.sql("WITH scored AS (SELECT * FROM knn_scored)" +
      ByScore.tailSql("probe_id, neighbor_id, cos_sim"))
    assert(rows(tail) == rows(ByScore.ranked(scored)))
    for (k <- Seq(1, 2, 4)) {
      val r = ByScore.copy(k = k, as = "rn")
      val cut = spark.sql(r.cutSql("probe_id, neighbor_id, cos_sim, rn",
        "probe_id, neighbor_id, cos_sim", "knn_scored"))
      assert(rows(cut, "rn") == rows(r.cut(scored), "rn"), s"k = $k")
    }
  }

  test("rerank fetches both payloads by id and ranks on the exact cosine") {
    import spark.implicits._
    val e = Seq((0L, Array(1f, 0f)), (1L, Array(1f, 1f)), (2L, Array(0f, 1f)),
      (3L, Array(2f, 2f))).toDF("vec_id", "embedding")
    val cands = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("probe_id", "neighbor_id")
    val got = Knn.rerank(cands, e, ByScore.copy(k = 2))
    // 1 and 3 point the same way (cosine 0.707107): the id breaks it.
    assert(rows(got) == Seq((0L, 1L, 0.707107, 1L), (0L, 3L, 0.707107, 2L)))
  }
}

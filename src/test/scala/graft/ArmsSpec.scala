package graft

import graft.operators.Arms
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The two-arm builders against their SQL twins: each `...Sql` text,
  * run by Spark itself over a temp view named `events`, returns the
  * rows of the matching Column-API builder on a planted frame that
  * includes a NEGATIVE user_id, which must land in neither parity arm
  * (DuckDB's `%` says −1 there; `pmod` would say arm 1). The shared
  * Welch text reads the closed-form z on grid-exact arms. The md5
  * split's SQL twin is DuckDB's hex-literal cast, which Spark does not
  * parse, so it stays covered by the oracle sweep.
  */
class ArmsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark

  /** Two days, three types; user −3 is the negative id. Arm 0 (even
    * users) of "view" holds cents {0, 6}, arm 1 (odd) {0, 8}. */
  private lazy val events: DataFrame = {
    import spark.implicits._
    def at(day: Int) = Timestamp.valueOf(s"2024-01-0$day 10:00:00")
    Seq(
      (at(1), 2L, "view", 0.00), (at(1), 4L, "view", 0.06),
      (at(2), 1L, "view", 0.00), (at(2), 3L, "view", 0.08),
      (at(1), 6L, "click", 1.25), (at(1), 7L, "click", 1.25),
      (at(2), 8L, "click", 2.50), (at(2), 9L, "click", 0.75),
      (at(1), 10L, "buy", 19.99), (at(2), 11L, "buy", 5.01),
      (at(2), -3L, "view", 0.06), (at(1), -3L, "buy", 7.00))
      .toDF("ts", "user_id", "event_type", "value")
  }

  override def beforeAll(): Unit = events.createOrReplaceTempView("events")

  override def afterAll(): Unit = spark.catalog.dropTempView("events")

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def sameRows(sql: String, built: DataFrame): Unit = {
    val viaSql = spark.sql(sql)
    assert(viaSql.columns.toSeq == built.columns.toSeq)
    assert(rows(viaSql) == rows(built), s"\n$sql")
  }

  test("armedSql returns the armed frame, keyed and unkeyed") {
    sameRows(Arms.armedSql(Seq("event_type")),
      Arms.armed(events, Seq(col("event_type"))))
    sameRows(Arms.armedSql(Nil, "v_c"), Arms.armed(events, Nil, "v_c"))
  }

  test("powerSumsSql returns the per-arm power sums") {
    sameRows(
      s"WITH e AS (${Arms.armedSql(Seq("event_type"))}) " +
        Arms.powerSumsSql(Seq("event_type")),
      Arms.powerSums(Arms.armed(events, Seq(col("event_type")))))
    sameRows(
      s"WITH e AS (${Arms.armedSql(Seq("CAST(ts AS DATE) AS day"))}) " +
        Arms.powerSumsSql(Seq("day"), suffix = "_d"),
      Arms.powerSums(Arms.armed(events, Seq(col("ts").cast("date").as("day"))),
        suffix = "_d"))
    sameRows(
      s"WITH e AS (${Arms.armedSql(Nil, "v_c")}) " +
        Arms.powerSumsSql(Nil, "v_c"),
      Arms.powerSums(Arms.armed(events, Nil, "v_c"), "v_c"))
  }

  test("valueCountsSql and countsSql return the per-arm counts") {
    sameRows(
      s"WITH e AS (${Arms.armedSql(Seq("event_type"), "v")}) " +
        Arms.valueCountsSql(Seq("event_type", "v")),
      Arms.valueCounts(Arms.armed(events, Seq(col("event_type")), "v")))
    sameRows(
      s"WITH e AS (${Arms.armedSql(Nil, "v_c")}) " +
        s"SELECT ${Arms.countsSql("na", "nb")} FROM e",
      Arms.counts(Arms.armed(events, Nil, "v_c"), "na", "nb"))
  }

  test("a negative user_id lands in neither parity arm") {
    val grp = Arms.armed(events.filter(col("user_id") === -3L), Nil)
      .select("grp").collect().map(_.getLong(0)).toSet
    assert(grp == Set(-1L))
    val viaSql = spark.sql(s"SELECT DISTINCT ${Arms.ParitySql} AS grp " +
      "FROM events WHERE user_id = -3").collect().map(_.getLong(0)).toSet
    assert(viaSql == Set(-1L))
    val t = Arms.powerSums(Arms.armed(events, Nil)).collect()(0)
    assert(t.getAs[Long]("na") + t.getAs[Long]("nb") == events.count() - 2)
  }

  test("the shared Welch text gives the closed-form z on grid-exact arms") {
    // view: A = {0, 6} cents, B = {0, 8}: var/n = 18/2 = 9 and 32/2 = 16,
    // so se = 5, the mean gap 3 − 4 = −1 and z = −0.2; pooled var 25.
    val got = Arms.powerSums(Arms.armed(
        events.filter(col("event_type") === "view" && col("user_id") >= 0),
        Seq(col("event_type"))))
      .selectExpr(s"${Arms.MeanDiffSql} AS d", s"${Arms.WelchSeSql} AS se",
        s"(${Arms.MeanDiffSql}) / ${Arms.WelchSeSql} AS z",
        s"${Arms.PooledVarSql} AS s2")
      .collect()(0)
    assert(got.getDouble(0) == -1.0 && got.getDouble(1) == 5.0)
    assert(got.getDouble(2) == (3.0 - 4.0) / 5.0, s"z ${got.getDouble(2)}")
    assert(got.getDouble(3) == 25.0)
  }
}

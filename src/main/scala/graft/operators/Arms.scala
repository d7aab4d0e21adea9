package graft.operators

import graft.functions.Portable.{md5Hash60, md5Hash60Sql}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-arm experiment statistics, Spark side and DuckDB side — the one
  * owner of the map → group-by-key → reduce shape every A/B row in
  * [[EventsOps]] (and its streaming twins in `StreamOps`) takes: put
  * each event's user in an arm, turn `value` into exact integer cents,
  * group by the caller's keys, and pivot additive per-arm sums.
  *
  * The pieces, each a Spark Column or frame beside its SQL twin:
  *  - the arm rules: [[parity]] (`user_id % 2`) and the sticky [[md5]]
  *    split of q_ab_test, q_srm_check and q_logrank;
  *  - [[cents]]: `value` as exact BIGINT cents;
  *  - [[armed]]: the (keys…, grp, cents) frame the pivots read;
  *  - [[powerSums]]: n, Σc, Σc² per arm (na sa qa nb sb qb) per key;
  *  - [[valueCounts]]: the per-arm counts (ca, cb) per key and value;
  *  - [[MeanDiffSql]], [[WelchSeSql]], [[PooledVarSql]]: the finishing
  *    formulas over the power sums, ONE text read by both engines
  *    (Spark through `selectExpr`).
  *
  * Arm 0 is A, arm 1 is B. Both engines take `%` as the truncating
  * remainder, so a negative user_id lands in neither arm on either side
  * (`pmod` would put it in arm 1 where DuckDB says −1). The arm and sum
  * texts are valid Spark SQL too; ArmsSpec runs each twin against its
  * Column-API builder.
  */
object Arms {

  // ---- assignment rules ----

  /** User parity: the arm of every parity-split row. */
  def parity: Column = col("user_id") % 2

  val ParitySql = "user_id % 2"

  /** The sticky md5 split: uniform, stateless, independent of parity. */
  def md5: Column = md5Hash60(col("user_id").cast("string")) % 2

  val Md5Sql: String = s"(${md5Hash60Sql("CAST(user_id AS VARCHAR)")}) % 2"

  // ---- the cents input ----

  /** `value` (two-decimal money) as exact BIGINT cents. */
  def cents: Column = round(col("value") * 100, 0).cast("long")

  val CentsSql = "CAST(round(value * 100) AS BIGINT)"

  // ---- Spark side ----

  /** `events` as (keys…, grp, `centsAs`): the parity arm and the cents. */
  def armed(events: DataFrame, keys: Seq[Column], centsAs: String = "c")
      : DataFrame =
    events.select(keys ++ Seq(parity.as("grp"), cents.as(centsAs)): _*)

  private def armSum(arm: Int, x: Column): Column =
    sum(when(col("grp") === arm, x).otherwise(0L))

  /** The per-arm counts `a` (arm 0) and `b` (arm 1) over a `grp` frame. */
  private def countAggs(a: String = "ca", b: String = "cb"): Seq[Column] =
    Seq(armSum(0, lit(1L)).as(a), armSum(1, lit(1L)).as(b))

  private def powerSumAggs(x: Column, suffix: String): Seq[Column] =
    for ((arm, a) <- Seq(0 -> "a", 1 -> "b");
         (p, t) <- Seq("n" -> lit(1L), "s" -> x, "q" -> x * x))
      yield armSum(arm, t).as(s"$p$a$suffix")

  private def pivot(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** na sa qa nb sb qb (names + `suffix`) of column `x` over a `grp`
    * frame, grouped by its other columns — the caller's keys. */
  def powerSums(armed: DataFrame, x: String = "c", suffix: String = ""): DataFrame =
    pivot(armed, armed.columns.toSeq.filterNot(Set("grp", x)),
      powerSumAggs(col(x), suffix))

  /** (ca, cb) over a `grp` frame, grouped by all its other columns —
    * the caller's keys and the value. */
  def valueCounts(armed: DataFrame): DataFrame =
    pivot(armed, armed.columns.toSeq.filterNot(_ == "grp"), countAggs())

  /** The per-arm counts `a` (arm 0) and `b` (arm 1) of a whole `grp`
    * frame: one row. */
  def counts(armed: DataFrame, a: String, b: String): DataFrame =
    pivot(armed, Nil, countAggs(a, b))

  // ---- DuckDB side ----

  /** Twin of [[armed]]: the body of a CTE over `events`. */
  def armedSql(keys: Seq[String], centsAs: String = "c"): String =
    (keys ++ Seq(s"$ParitySql AS grp", s"$CentsSql AS $centsAs"))
      .mkString("SELECT ", ",\n    ", "\n  FROM events")

  private def armSumSql(arm: Int, x: String): String =
    s"CAST(sum(CASE WHEN grp = $arm THEN $x ELSE 0 END) AS BIGINT)"

  /** The per-arm counts as a select list: twin of [[counts]]' aggregates. */
  def countsSql(a: String = "ca", b: String = "cb"): String =
    s"${armSumSql(0, "1")} AS $a,\n    ${armSumSql(1, "1")} AS $b"

  private def pivotSql(keys: Seq[String], aggs: String, from: String): String =
    (keys :+ aggs).mkString("SELECT ", ",\n    ", s"\n  FROM $from") +
      (if (keys.isEmpty) "" else keys.mkString(" GROUP BY ", ", ", ""))

  /** Twin of [[powerSums]]: the body of a CTE over `from`, grouped by
    * `keys`. */
  def powerSumsSql(keys: Seq[String], x: String = "c", suffix: String = "",
      from: String = "e"): String = {
    val aggs = for ((arm, a) <- Seq(0 -> "a", 1 -> "b");
                    (p, t) <- Seq("n" -> "1", "s" -> x, "q" -> s"$x * $x"))
      yield s"${armSumSql(arm, t)} AS $p$a$suffix"
    pivotSql(keys, aggs.mkString(",\n    "), from)
  }

  /** Twin of [[valueCounts]]: `keys` are the caller's keys and the value. */
  def valueCountsSql(keys: Seq[String], from: String = "e"): String =
    pivotSql(keys, countsSql(), from)

  // ---- formulas over na sa qa nb sb qb, shared by both engines ----

  /** n·Σc² − (Σc)² of arm `a`: n² times its (biased) variance. */
  private def ssSql(a: String): String =
    s"(CAST(n$a AS DOUBLE) * q$a - CAST(s$a AS DOUBLE) * s$a)"

  /** Mean of arm A minus mean of arm B. */
  val MeanDiffSql = "CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb"

  /** Welch's standard error of [[MeanDiffSql]]. */
  val WelchSeSql: String =
    s"""sqrt(${ssSql("a")}
       |    / (CAST(na AS DOUBLE) * na * (na - 1))
       |  + ${ssSql("b")}
       |    / (CAST(nb AS DOUBLE) * nb * (nb - 1)))""".stripMargin

  /** The pooled (equal-variance) sample variance of the two arms. */
  val PooledVarSql: String =
    s"""(${ssSql("a")} / na
       |  + ${ssSql("b")} / nb)
       |  / (na + nb - 2)""".stripMargin
}

package graft.operators

import graft.functions.CentAssign
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) cell routing, Spark side and DuckDB side — the
  * one owner of the decision every cell-partitioned search, clustering
  * and dedup query in [[AnnOps]] (and `EmbedStream`) makes: which
  * centroid cell a vector lives in, and which nprobe cells a probe
  * opens.
  *
  * The steps, in the order a query takes them:
  *  - [[seeds]]: the first k vectors as seed centroids (cent_id, ce);
  *  - [[Cells]]: the centroids packed into ONE broadcast row
  *    ([[packCents]]) under a [[Metric]], so assignment and routing
  *    are per-row expression work — the corpus never shuffles or sorts
  *    for them;
  *  - [[Cells.assign]]: each vector to its single nearest cell via the
  *    fused codegen'd argmin (`CentArgmin`);
  *  - [[Cells.probe]] / [[Cells.probeRanked]]: each probe to its nprobe
  *    nearest cells, the sorted slice of the composed (m, cent_id)
  *    structs.
  *
  * Both engines order cells by (metric, cent_id): the metric rounded to
  * 6dp, ties to the smaller cent_id. Spark's struct ordering IS that
  * order, so `array_min` of a [[Metric.metrics]] array is the assigned
  * cell and its sorted slice the routed cells; the oracle spells it as
  * `row_number() OVER (PARTITION BY e.vec_id ORDER BY <metric>,
  * c.cent_id)` ([[assignSql]], [[routeSql]], [[rankSql]]). Spark never
  * takes that window form: it re-shuffles corpus×k rows by vec_id per
  * assignment, and at 100 TB that exchange, once per Lloyd iteration,
  * dwarfs the assignment arithmetic itself.
  */
object Ivf {

  /** Embedding width: the length every SQL dot product walks. */
  private[operators] val Dim = 64

  // ---- vector arithmetic over array columns (no UDFs) ----

  private[operators] def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private[operators] def normSq(e: Column): Column =
    aggregate(transform(e, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  // ---- their DuckDB twins ----

  private[operators] def dotColSql(a: String, b: String, dim: Int = Dim): String =
    s"list_sum(list_transform(range($dim), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)))"

  private[operators] def normSqSql(e: String): String =
    s"list_sum(list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  private[operators] def normSql(e: String): String = s"sqrt(${normSqSql(e)})"

  /** DuckDB twin of the 6dp cosine; `dim` bounds the dot walk for
    * sliced prefix vectors (norms walk the list itself, so they
    * adapt). */
  private[operators] def cosSimSql(a: String, b: String, dim: Int = Dim): String =
    s"""round(${dotColSql(a, b, dim)} /
       |          (${normSql(a)} * ${normSql(b)}), 6)""".stripMargin

  /** A routing metric, smaller = nearer. Its composed forms read the
    * row's `embedding`, the row norm column [[withNorm]] adds, and the
    * packed `cs` column. */
  sealed abstract class Metric(normCol: String) {

    /** The row norm the composed metric reads, computed once per row. */
    protected def norm: Column

    /** The nearest cell's cent_id, fused: one compiled loop. */
    def argmin: Column

    /** array<struct(m, cent_id)> against every packed centroid, m
      * rounded 6dp — bit-identical to [[argmin]]'s metric
      * (CentAssignSpec). */
    def metrics: Column

    /** The metric as an ascending-nearest SQL `ORDER BY` key of vector
      * `v` against centroid `c`. */
    def orderSql(v: String = "embedding", c: String = "ce"): String

    final def withNorm(df: DataFrame): DataFrame = df.withColumn(normCol, norm)

    /** The nprobe nearest cells' (m, cent_id), nearest first. */
    final def routed(nprobe: Int): Column = slice(array_sort(metrics), 1, nprobe)
  }

  /** Squared L2: m = round(‖v‖² − 2·v·c + ‖c‖², 6), one dot fold per
    * centroid (the row's `vn2` and the pack's `cn2` are precomputed). */
  object L2 extends Metric("vn2") {
    protected def norm: Column = normSq(col("embedding"))
    def argmin: Column = CentAssign.argminL2("embedding", "cs")
    def metrics: Column = metricsOf("embedding")

    /** [[metrics]] of vector column `v`, whose squared norm is in `vn2`:
      * the PQ fold runs it per sub-space over the `sv` slices. */
    def metricsOf(v: String): Column = transform(col("cs"), c =>
      struct(
        round(col("vn2") - lit(2.0) * dotCol(col(v), c.getField("ce"))
          + c.getField("cn2"), 6).as("m"),
        c.getField("cent_id").as("cent_id")))
    def orderSql(v: String, c: String): String = d2Sql(normSqSql(v), v, c)

    /** The SQL metric with `v`'s squared norm given as `vn2`. */
    def d2Sql(vn2: String, v: String, c: String): String =
      s"""round($vn2
         |          - 2 * ${dotColSql(v, c)}
         |          + ${normSqSql(c)}, 6)""".stripMargin
  }

  /** Cosine, nearest = largest: m = −round(v·c / (‖v‖·‖c‖), 6). The
    * composed form folds the dot inline (the fused cosine_sim cannot
    * take a lambda-bound centroid) and is bit-identical to it by
    * CosSimSpec's contract, so the oracle's `cosSimSql DESC` ranks the
    * same values. */
  object Cos extends Metric("vn") {
    protected def norm: Column = sqrt(normSq(col("embedding")))
    def argmin: Column = CentAssign.argminCos("embedding", "cs")
    def metrics: Column = transform(col("cs"), c =>
      struct(
        (lit(0.0) - round(
          dotCol(col("embedding"), c.getField("ce")) /
            (col("vn") * c.getField("cn")), 6)).as("m"),
        c.getField("cent_id").as("cent_id")))
    def orderSql(v: String, c: String): String = s"${cosSimSql(v, c)} DESC"
  }

  // ---- Spark side ----

  /** The first k vectors (vec_id < k) as seed centroids (cent_id, ce). */
  def seeds(e: DataFrame, k: Int, ce: Column = col("embedding")): DataFrame =
    e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), ce.as("ce"))

  /** Centroids (cent_id, ce) collapsed to ONE broadcast row per value
    * of `keys` (the PQ fold packs per sub-space `sp`; a cell index
    * takes no key) holding `cs` = array<struct(cent_id, ce, cn2, cn)>,
    * the carrier of zero-shuffle assignment; norms are computed once
    * per centroid here, so the per-(row, centroid) metric runs one dot
    * fold. `cents` MUST be non-empty: [[seeds]] gives k ≥ 1 rows on any
    * real table and Lloyd recompute preserves non-emptiness. */
  private[graft] def packCents(cents: DataFrame, keys: String*): DataFrame =
    broadcast(cents.groupBy(keys.map(col): _*).agg(collect_list(struct(
      col("cent_id"), col("ce"),
      normSq(col("ce")).as("cn2"),
      sqrt(normSq(col("ce"))).as("cn"))).as("cs")))

  /** Centroids (cent_id, ce) packed once and routed to under `metric`. */
  final class Cells(cents: DataFrame, metric: Metric) {
    private val packed = packCents(cents)

    /** `df` beside the packed row, so the metric's columns can read `cs`. */
    def withCells(df: DataFrame): DataFrame = df.crossJoin(packed)

    /** The nearest cell's (m, cent_id) over [[withCells]] rows that
      * carry the metric's row norm: the composed argmin, for callers
      * that read the metric value. */
    def nearest: Column = array_min(metric.metrics)

    /** `df` with column `cell` = the cent_id of its nearest cell. */
    def assign(df: DataFrame, cell: String): DataFrame =
      withCells(df).withColumn(cell, metric.argmin)

    /** `df` once per each of its `nprobe` nearest cells, with column
      * `cell` = that cell's (m, cent_id). */
    def probe(df: DataFrame, nprobe: Int): DataFrame =
      withCells(metric.withNorm(df)).withColumn("cell", explode(metric.routed(nprobe)))

    /** [[probe]] keeping only `carried`, then `cent_id` and the cell's
      * 1-based `cell_rank` (1 = the assigned cell). */
    def probeRanked(df: DataFrame, nprobe: Int, carried: Column*): DataFrame = {
      val routed = withCells(metric.withNorm(df))
        .select(carried :+ posexplode(metric.routed(nprobe)): _*)
      routed.select(routed.columns.dropRight(2).toSeq.map(col) ++ Seq(
        col("col.cent_id").as("cent_id"), (col("pos") + 1).as("cell_rank")): _*)
    }
  }

  object Cells {
    def apply(cents: DataFrame, metric: Metric): Cells = new Cells(cents, metric)
  }

  // ---- DuckDB side ----

  /** Twin of [[seeds]]: the body of a seed-centroid CTE over `from`. */
  def seedSql(k: Int, from: String = "e", ce: String = "embedding"): String =
    s"SELECT vec_id AS cent_id, $ce AS ce FROM $from WHERE vec_id < $k"

  /** Each `e` row's cells numbered `rn` from 1 = nearest, ties by `tie`. */
  def rankSql(order: String, tie: String = "c.cent_id"): String =
    s"""row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        $order,
       |        $tie) AS rn""".stripMargin

  private def rankedSql(m: Metric, outer: String, inner: String,
      cents: String, from: String, where: String, keep: String): String =
    s"""SELECT $outer FROM (
       |    SELECT $inner,
       |      ${rankSql(m.orderSql())}
       |    FROM $from CROSS JOIN $cents c$where) WHERE $keep""".stripMargin

  /** Twin of [[Cells.assign]]: the body of a CTE selecting `outer` from each
    * `from` row's nearest cell, where `inner` names the `e.`/`c.`
    * columns `outer` reads. */
  def assignSql(m: Metric, outer: String, inner: String,
      cents: String = "cents", from: String = "e"): String =
    rankedSql(m, outer, inner, cents, from, "", "rn = 1")

  /** Twin of [[Cells.probe]]: [[assignSql]] over each row's `nprobe` nearest
    * cells (`rn` is the cell rank), for rows with vec_id below
    * `probesBelow` when given. */
  def routeSql(m: Metric, outer: String, inner: String, nprobe: Int,
      probesBelow: Option[Int] = None, cents: String = "cents",
      from: String = "e"): String =
    rankedSql(m, outer, inner, cents, from,
      probesBelow.fold("")(n => s"\n    WHERE e.vec_id < $n"), s"rn <= $nprobe")
}

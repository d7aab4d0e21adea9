package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Neighbor lists, Spark side and DuckDB side — the one owner of the
  * shape every search row in [[AnnOps]] (and TextOps' sparse and
  * late-interaction rankers) returns: for each probe, its k nearest
  * neighbors by a 6dp score, ties to the smaller id, numbered from 1.
  *
  * The pieces, in the order a search takes them, each beside its SQL
  * twin:
  *  - the probe panel: [[probeRows]] (vec_id below [[NumProbes]]) and
  *    [[panel]], which renames vec_id to probe_id and carries the
  *    caller's payload columns;
  *  - [[pairs]]: the broadcast panel crossed with a corpus frame, each
  *    probe's own row dropped ([[notSelf]]);
  *  - [[Rank]]: one statement of partition key, score, tie column, k
  *    and rank column, from which both the `row_number` window with
  *    its cut and the `row_number() OVER (…)` text are built;
  *  - [[rerank]]: ids-then-payloads — candidate (probe_id,
  *    neighbor_id) pairs fetch both embeddings by id and re-rank on the
  *    exact [[cosSim]].
  *
  * Object-init rule (as in [[Ivf]]): nothing here reads [[AnnOps]] or
  * TextOps, whose oracle strings are built eagerly from these.
  */
object Knn {

  /** The fixed probe panel: vectors with vec_id below this ask. */
  val NumProbes = 5

  /** The search score: cosine in double, rounded to 6dp BEFORE ranking
    * so both engines rank the same values. Backed by the fused native
    * [[graft.functions.CosSim]] expression (one codegen'd pass) —
    * bit-identical to the three-fold higher-order form it replaced,
    * which CosSimSpec asserts; the oracle's twin is [[Ivf.cosSimSql]]. */
  def cosSim(a: String, b: String): Column =
    round(graft.functions.CosSim.cosineSim(a, b), 6)

  // ---- the probe panel ----

  /** The rows of `df` whose `id` is below [[NumProbes]]. */
  def probeRows(df: DataFrame, id: String = "vec_id"): DataFrame =
    df.filter(col(id) < NumProbes)

  /** The probe rows as (probe_id, payload…). */
  def panel(df: DataFrame, payload: Column*): DataFrame =
    probeRows(df).select(col("vec_id").as("probe_id") +: payload: _*)

  /** Twin of [[panel]]: the body of a panel CTE over `from`. */
  def panelSql(payload: String, from: String = "e"): String =
    s"SELECT vec_id AS probe_id, $payload FROM $from WHERE vec_id < $NumProbes"

  // ---- self-excluded pairs ----

  /** A corpus row `id` that is not the probe itself. */
  def notSelf(id: String = "vec_id"): Column = col(id) =!= col("probe_id")

  /** Every (probe, corpus row) pair but the probe's own: the panel is
    * broadcast (always tiny) and the corpus streams once. */
  def pairs(panel: DataFrame, corpus: DataFrame): DataFrame =
    broadcast(panel).join(corpus, notSelf())

  /** Twin of [[pairs]]: the FROM text joining `panel` to `corpus`
    * ("table" or "table alias"). */
  def pairsSql(corpus: String, panel: String = "probes"): String =
    s"$panel JOIN $corpus ON ${corpus.split(' ').last}.vec_id <> probe_id"

  // ---- ranking ----

  /** One ORDER BY key: a column, ascending or descending. */
  final case class Key(name: String, descending: Boolean) {
    def column: Column = if (descending) col(name).desc else col(name)
    def sql: String = if (descending) s"$name DESC" else name
  }

  def desc(name: String): Key = Key(name, descending = true)
  def asc(name: String): Key = Key(name, descending = false)

  /** The per-`by` ranking by `score` with ties to the smaller `tie`,
    * numbered in column `as` from 1 and cut at `k` (k = 1 keeps the
    * `as = 1` argmax). */
  final case class Rank(score: Key, tie: String, k: Int,
      as: String = "rank", by: String = "probe_id") {

    def window: WindowSpec = Window.partitionBy(by).orderBy(score.column, col(tie))

    /** row_number over [[window]]: INT, 1 = best. */
    def number: Column = row_number().over(window)

    private def kept: Column = if (k == 1) col(as) === 1 else col(as) <= k

    /** `df`'s top k per `by`, `as` a 1-based BIGINT. */
    def top(df: DataFrame): DataFrame =
      df.withColumn(as, number.cast("long")).filter(kept)

    /** [[top]] in (`by`, `as`) order: the neighbor-list result. */
    def ranked(df: DataFrame): DataFrame = top(df).orderBy(by, as)

    /** `df`'s top k per `by` with row_number's INT `as`: candidate
      * pools and argmaxes that drop or re-weigh the rank. */
    def cut(df: DataFrame): DataFrame =
      df.withColumn(as, number).filter(kept)

    // ---- DuckDB side (row_number is BIGINT there) ----

    /** The window column text. */
    def overSql: String =
      s"""row_number() OVER (PARTITION BY $by
         |        ORDER BY ${score.sql}, $tie) AS $as""".stripMargin

    def keptSql: String = if (k == 1) s"$as = 1" else s"$as <= $k"

    /** Twin of [[top]]/[[cut]]: a CTE body selecting `outer` from the
      * kept rows of `from`, where `inner` names the columns `outer`
      * and the window read. */
    def cutSql(outer: String, inner: String, from: String): String =
      s"""SELECT $outer FROM (
         |    SELECT $inner,
         |      $overSql
         |    FROM $from) WHERE $keptSql""".stripMargin

    /** Twin of [[ranked]]: the tail closing a CTE chain whose last CTE
      * is `from` — a `ranked` CTE and the final SELECT of `cols` and
      * the rank. */
    def tailSql(cols: String, from: String = "scored"): String =
      s""", ranked AS (
         |  SELECT $cols,
         |    $overSql
         |  FROM $from)
         |SELECT $cols, $as
         |FROM ranked WHERE $keptSql
         |ORDER BY $by, $as""".stripMargin
  }

  // ---- ids-then-payloads re-rank ----

  /** Candidate (probe_id, neighbor_id) pairs re-ranked by `rank` on the
    * exact cosine: both embeddings are fetched from `e` (vec_id,
    * embedding) by keyed joins for the candidates alone. */
  def rerank(cands: DataFrame, e: DataFrame, rank: Rank): DataFrame =
    rank.ranked(cands
      .join(e.select(col("vec_id").as("probe_id"), col("embedding").as("pe")), "probe_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")), "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"), cosSim("pe", "ne").as("cos_sim")))

  /** Twin of [[rerank]]: the tail after a `cands(probe_id, neighbor_id)`
    * CTE, over the `e(vec_id, embedding)` CTE. */
  def rerankSql(rank: Rank): String =
    s""", scored AS (
       |  SELECT probe_id, neighbor_id, ${Ivf.cosSimSql("pe", "ne")} AS cos_sim
       |  FROM (SELECT c.probe_id, c.neighbor_id,
       |          ep.embedding AS pe, en.embedding AS ne
       |        FROM cands c
       |        JOIN e ep ON ep.vec_id = c.probe_id
       |        JOIN e en ON en.vec_id = c.neighbor_id)
       |)${rank.tailSql("probe_id, neighbor_id, cos_sim")}""".stripMargin
}

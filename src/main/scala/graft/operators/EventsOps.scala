package graft.operators

import graft.{Q, Tables}
import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table (ts, user_id,
  * event_type, value, props JSON). The reference is batch-only
  * (SURVEY.md §2.10), so these are the time-windowed extensions a
  * training-data pipeline needs, written as batch plans. Streaming
  * twins (watermark + window / session_window / streaming dedup) live
  * in [[graft.streaming.EventStream]].
  *
  * `Tables.events` truncates the parquet nanosecond `ts` to
  * microseconds (see [[graft.Tables.events]]); every oracle below
  * compares on `CAST(ts AS TIMESTAMP)` — DuckDB's identical ns→µs
  * truncation — so both engines window and order the same instants.
  *
  * Scale: tumbling windows are plain keyed aggregation (shuffle by
  * (window, type) — bounded output). Sessionization shuffles once by
  * user_id and runs two sequential window passes per partition; with
  * Structured Streaming the same logic is `session_window` +
  * watermark-bounded state.
  *
  * == The value-domain window class ==
  *
  * Several exact-order statistics here run an unpartitioned
  * `Window.orderBy(value)` — q_winsorized_ab's pooled-p99 cap,
  * q_ks_test's two ECDFs, q_conformal's conformal quantile,
  * q_model_auc's rank sums, q_gini_activity's Lorenz cumulative. The
  * single-partition window is safe in every one of these because its
  * input is never the event stream: it is a DISTINCT-VALUE rollup
  * over a domain that is FINITE BY CONSTRUCTION — `value` is
  * two-decimal money, so the rollup holds at most
  * (price-range × 100) rows regardless of event count (and AUC/Gini
  * rank over per-user aggregates, bounded by users). That
  * domain-cardinality assumption is the load-bearing fact: the
  * shuffle moves a bounded value-histogram, not data. If a
  * NEAR-CONTINUOUS metric (a 6dp score, a float latency) ever lands
  * in this seat, the assumption breaks and the escape hatch is the
  * BINNED machinery — [[AucBins]]/[[GiniBins]] and the
  * `q_model_auc_binned`/`q_gini_activity_binned` twins, whose window
  * input is B rows by fiat with a spec-pinned error bound.
  */
object EventsOps {

  /** 30-minute session gap — ONE owner for the boundary rule (>=)
    * shared by q_events_sessions and q_session_paths, Spark and
    * oracle alike. */
  private val SessionGapMicros = 30L * 60 * 1000000

  /** q_markov_absorb: k-step hitting-probability rounds
    * (oracle-unrolled, 9dp-rounded per round). */
  private[graft] val MarkovSteps = 5

  /** q_permutation_test: deterministic re-assignment draws. 199 is
    * the conventional odd draw count giving p multiples of 1/200.
    * MUST precede the registry val — the oracle text interpolates it
    * (the init-order lesson emSql's comment records). */
  private[graft] val PermDraws = 199

  /** q_attribution_removal: the channel list whose removal effects
    * are priced (a call-site config, like every attribution tool's
    * channel mapping — 'purchase' is the conversion, never removed).
    * Precedes the registry val (oracle interpolation). */
  private[graft] val AttrChannels = Seq("click", "error", "signup", "view")

  /** Oracle builder for one absorption variant: optionally filtered
    * probs, MarkovSteps unrolled rounds, and the start-weighted
    * conversion value on the 1e-9 grid. CTEs are suffixed by `tag`;
    * requires `probs(src, dst, p)` and `start(state, cnt, u)`. */
  private def removalVariantSql(tag: String, removed: Option[String])
      : String = {
    val probsName = removed.fold("probs")(_ => s"probs_$tag")
    val probsCte = removed.fold("") { r =>
      s"""probs_$tag AS (
         |  SELECT src, dst, p FROM probs
         |  WHERE src <> '$r' AND dst <> '$r'
         |), """.stripMargin
    }
    val a0 = s"""a${tag}0 AS (
                |  SELECT DISTINCT src AS state, CAST(0 AS DOUBLE) AS pa
                |  FROM $probsName
                |)""".stripMargin
    val rounds = (1 to MarkovSteps).map { k =>
      s"""a$tag$k AS (
         |  SELECT $probsName.src AS state,
         |    round(sum(p * CASE WHEN dst = 'purchase' THEN 1.0
         |      ELSE coalesce(prev.pa, 0) END), 9) AS pa
         |  FROM $probsName LEFT JOIN a$tag${k - 1} prev
         |    ON prev.state = $probsName.dst
         |  GROUP BY $probsName.src
         |)""".stripMargin
    }.mkString(", ")
    val startFilter = removed.fold("")(r => s"WHERE start.state <> '$r'")
    s"""$probsCte$a0, $rounds, v_$tag AS (
       |  SELECT CAST(coalesce(sum(CAST(round(CAST(cnt AS DOUBLE) / u
       |    * coalesce(a.pa, 0) * 1000000000.0) AS BIGINT)), 0)
       |    AS BIGINT) AS v9
       |  FROM start LEFT JOIN a$tag$MarkovSteps a ON a.state = start.state
       |  $startFilter
       |)""".stripMargin
  }

  /** q_model_auc_binned: equi-width score bins B — the rank-resolution
    * knob that keeps the cumulative window's input B-BOUNDED when the
    * score domain is near-continuous (a 6dp linear score is
    * near-injective over users, so the exact twin's distinct-score
    * rollup approaches #users at web scale). 8 is deliberately far
    * below sf0.001's distinct-score count so the correctness gate
    * exercises real quantization, not a pass-through; production picks
    * 1e3–1e5 (AUC error ≤ ½·same-bin pair mass — AucBinnedSpec pins
    * the bound). Spliced into the oracle so both engines bin
    * identically, in EXACT integer arithmetic on the ×1e6 score. */
  private[graft] val AucBins = 8

  /** q_gini_activity_binned: equi-width count bins — the same knob for
    * the Gini rollup (distinct per-user event counts concentrate in
    * practice but are unbounded in principle). Within-bin users are
    * treated as equal (the grouped-Gini construction), which can only
    * LOWER the coefficient — AucBinnedSpec pins that direction. */
  private[graft] val GiniBins = 8

  /** q_msprt mixture variance τ² (cents²) — spliced into both engines.
    * τ is the prior scale of plausible effects: 10 cents here, sized
    * to the synthetic value range; production tunes it to the
    * historically observed effect-size distribution. Declared above
    * the query registry (object-init order: the SQL string splices
    * it at Seq construction). */
  private[graft] val MsprtTau2 = 100.0

  /** q_fdr_bh: α = 0.05 as the exact rational 1/FdrAlphaInv, so the
    * BH step-up compare p ≤ i·α/m runs entirely in BIGINT
    * (p6i · FdrAlphaInv · m ≤ i · 10⁶ — no float threshold ever
    * decides a rejection). Declared above the registry (object-init
    * order: the SQL splices it at Seq construction). */
  private[graft] val FdrAlphaInv = 20L

  /** q_mixture_em: unrolled EM rounds (oracle CTEs mirror). */
  private[graft] val EmRounds = 5

  /** q_tost_equivalence: the ±margin in exact cents ($20 — sized so
    * the synthetic near-null arms demonstrate a PASSING equivalence
    * call at test SF; a deployment picks its own). Declared above
    * the registry (object-init order). */
  private[graft] val TostMarginCents = 2000L

  /** q_ljung_box: portmanteau lag count (oracle splices it). */
  private[graft] val LjungBoxLags = 12

  /** q_brier_decomp: forecast bins. Midpoint forecasts on a B-bin
    * grid make the Murphy identity exact (see the registry entry);
    * declared above the registry (object-init order). */
  private[graft] val BrierBins = 10

  /** q_logreg_irls: unrolled Newton/IRLS rounds (oracle CTEs mirror —
    * the EmRounds convention). Four suffice: the hour-histogram
    * likelihood is strictly concave and 2-parameter, so Newton is
    * quadratically convergent and the 1e-9 state grid pins both
    * engines to the same trajectory well before round 4. */
  private[graft] val IrlsRounds = 4

  /** One IRLS round's quantized mean: the per-cell sigmoid on the
    * 1e-9 grid (the mixture-EM responsibility convention) — ONE text
    * spliced into both engines; the single libm exp rounds onto the
    * shared integer grid. */
  private[graft] def irlsM9: String =
    "CAST(round(1000000000.0 / (1.0 + exp(-(b0 + b1 * x)))) AS BIGINT)"

  /** One IRLS round's exact sufficient statistics over (x, n, h, m9)
    * cells: weights w18 = m9·(10⁹−m9) are exact integers ≤ 2.5e17,
    * so X'WX and the score X'(y−μ) accumulate as exact
    * DECIMAL(38,0)/HUGEINT products — order-free across engines. */
  private[graft] def irlsSums(castTy: String): Seq[String] = Seq(
    "max(b0) AS b0", "max(b1) AS b1",
    s"sum(CAST(n AS $castTy) * (m9 * (1000000000 - m9))) AS s0",
    s"sum(CAST(n AS $castTy) * (m9 * (1000000000 - m9)) * x) AS s1",
    s"sum(CAST(n AS $castTy) * (m9 * (1000000000 - m9)) * x * x) AS s2",
    s"sum(CAST(h AS $castTy) * 1000000000 - CAST(n AS $castTy) * m9)" +
      " AS g0",
    s"sum((CAST(h AS $castTy) * 1000000000 - CAST(n AS $castTy) * m9)" +
      " * x) AS g1")

  /** One IRLS round's Newton step onto the 1e-9 state grid: δ =
    * (X'WX)⁻¹·X'(y−μ) via the 2×2 Cramer solve in DOUBLE from the
    * exact sums (the scale factors cancel to ×10⁹), singular → hold
    * state. Both state components re-round to 9dp each round (the
    * PageRank iterate-grid convention). */
  private[graft] def irlsStep: Seq[String] = Seq(
    """CASE WHEN CAST(s0 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) = 0 THEN b0 ELSE
      |  round(b0 + (CAST(s2 AS DOUBLE) * CAST(g0 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(g1 AS DOUBLE))
      |    / (CAST(s0 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |    * 1000000000.0, 9) END AS b0""".stripMargin,
    """CASE WHEN CAST(s0 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) = 0 THEN b1 ELSE
      |  round(b1 + (CAST(s0 AS DOUBLE) * CAST(g1 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(g0 AS DOUBLE))
      |    / (CAST(s0 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |    * 1000000000.0, 9) END AS b1""".stripMargin)

  /** The q_quantile_te oracle, shared VERBATIM by q_stream_quantile_te
    * (the fdrBhSql precedent — the stream's complete-mode (type,
    * cents, arm) rollup ≡ the batch vc CTE at any split, so one SQL
    * text serves both). Declared above the registry (init order). */
  private[graft] val quantileTeSql: String =
    s"""WITH e AS (
      |  ${Arms.armedSql(Seq("event_type"), "v")}
      |), vc AS (
      |  ${Arms.valueCountsSql(Seq("event_type", "v"))}
      |), cum AS (
      |  SELECT event_type, v,
      |    CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY v)
      |      AS BIGINT) AS cuma,
      |    CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v)
      |      AS BIGINT) AS cumb
      |  FROM vc
      |), bounds AS (
      |  SELECT event_type, na, nb, j,
      |    (na * j + 3) // 4 AS ka, (nb * j + 3) // 4 AS kb
      |  FROM (
      |    SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
      |      CAST(sum(cb) AS BIGINT) AS nb
      |    FROM vc GROUP BY event_type)
      |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)
      |  WHERE na > 0 AND nb > 0
      |)
      |SELECT event_type, CAST(j AS DOUBLE) / 4 AS p,
      |  round(CAST(min(CASE WHEN cuma >= ka THEN v END) AS DOUBLE)
      |    / 100, 6) AS q_a,
      |  round(CAST(min(CASE WHEN cumb >= kb THEN v END) AS DOUBLE)
      |    / 100, 6) AS q_b,
      |  round(CAST(min(CASE WHEN cumb >= kb THEN v END)
      |    - min(CASE WHEN cuma >= ka THEN v END) AS DOUBLE)
      |    / 100, 6) AS qte
      |FROM cum JOIN bounds USING (event_type)
      |GROUP BY event_type, j
      |ORDER BY event_type, p""".stripMargin

  /** The q_chisq_independence oracle, shared VERBATIM by
    * q_stream_chisq (the quantileTeSql precedent - the stream's
    * complete-mode (type, arm) cell rollup equals the batch `cells`
    * CTE at any split). Declared above the registry (init order). */
  private[graft] val chisqSql: String =
    s"""WITH e AS (
      |  SELECT event_type, ${Arms.ParitySql} AS grp FROM events
      |), cells AS (
      |  SELECT event_type, grp, CAST(count(*) AS BIGINT) AS o
      |  FROM e GROUP BY event_type, grp
      |), grid AS (
      |  SELECT t.event_type, g.grp, COALESCE(c.o, 0) AS o
      |  FROM (SELECT DISTINCT event_type FROM cells) t
      |  CROSS JOIN (SELECT DISTINCT grp FROM cells) g
      |  LEFT JOIN cells c
      |    ON c.event_type = t.event_type AND c.grp = g.grp
      |), tot AS (
      |  SELECT o,  event_type, grp,
      |    CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
      |    CAST(sum(o) OVER (PARTITION BY grp) AS BIGINT) AS c,
      |    CAST(sum(o) OVER () AS BIGINT) AS n
      |  FROM grid
      |), term AS (
      |  SELECT n, event_type, grp,
      |    CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c AS d,
      |    CAST(n AS DOUBLE) * r * c AS den
      |  FROM tot
      |), ag AS (
      |  SELECT max(n) AS n,
      |    CAST(count(DISTINCT event_type) AS BIGINT) AS nt,
      |    CAST(count(DISTINCT grp) AS BIGINT) AS ng,
      |    sum(CAST(round(d * d / den * 1000000000.0) AS HUGEINT)) AS s9
      |  FROM term
      |), fin AS (
      |  SELECT n, nt, ng, (nt - 1) * (ng - 1) AS df,
      |    CAST(s9 AS DOUBLE) / 1000000000.0 AS chi2g
      |  FROM ag
      |), o AS (
      |  SELECT n, nt, ng, df, round(chi2g, 6) AS chi2,
      |    CASE WHEN df = 0 THEN NULL ELSE
      |      round(sqrt(chi2g / (CAST(n AS DOUBLE)
      |        * least(nt - 1, ng - 1))), 6) END AS cramers_v,
      |    CASE WHEN df = 0 THEN NULL ELSE
      |      round((cbrt(chi2g / df) - 1 + 2.0 / (9 * df))
      |        / sqrt(2.0 / (9 * df)), 6) END AS wh_z
      |  FROM fin
      |)
      |SELECT n, nt, ng, df, chi2, cramers_v, wh_z,
      |  CAST(wh_z > 1.645 AS BIGINT) AS dependent
      |FROM o""".stripMargin

  /** The q_kruskal_wallis oracle, shared VERBATIM by q_stream_kruskal
    * (the quantileTeSql precedent - the stream's complete-mode
    * (type, cents) cell rollup equals the batch `cells` CTE at any
    * split). Declared above the registry (init order). */
  private[graft] val kruskalSql: String =
    """WITH e AS (
      |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events
      |), cells AS (
      |  SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY g, v
      |), tv AS (
      |  SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY v
      |), rk AS (
      |  SELECT v, 2 * (CAST(sum(t) OVER (ORDER BY v) AS BIGINT) - t)
      |      + t + 1 AS r2
      |  FROM tv
      |), rg AS (
      |  SELECT g, CAST(sum(c) AS BIGINT) AS n,
      |    sum(CAST(c AS HUGEINT) * r2) AS r2g
      |  FROM cells JOIN rk USING (v) GROUP BY g
      |), qr AS (
      |  SELECT g, n, (r2g * r2g) // n AS qg, (r2g * r2g) % n AS rg
      |  FROM rg
      |), pf AS (
      |  SELECT g, n, qg,
      |    CAST(round(CAST(rg AS DOUBLE) / n * 1000000000.0) AS BIGINT)
      |      AS f9
      |  FROM qr
      |), ag AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT)
      |      AS nn,
      |    sum(CAST(qg AS HUGEINT)) AS qa, CAST(sum(f9) AS BIGINT) AS fa
      |  FROM pf
      |), tie AS (
      |  SELECT coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t + 1)), 0)
      |    AS ties
      |  FROM tv
      |), fin AS (
      |  SELECT k, nn, k - 1 AS df,
      |    CAST(nn AS HUGEINT) * (nn - 1) * (nn + 1) AS nn3, ties,
      |    CASE WHEN nn < 2 THEN NULL ELSE
      |      round(3.0 * (CAST(qa AS DOUBLE)
      |          + CAST(fa AS DOUBLE) / 1000000000.0)
      |        / (CAST(nn AS DOUBLE) * (nn + 1)) - 3.0 * (nn + 1), 6)
      |      END AS h
      |  FROM ag CROSS JOIN tie
      |), co AS (
      |  SELECT k, nn, df, h,
      |    CASE WHEN h IS NULL OR nn3 - ties = 0 THEN NULL ELSE
      |      round(h * CAST(nn3 AS DOUBLE) / CAST(nn3 - ties AS DOUBLE),
      |        6) END AS h_corr
      |  FROM fin
      |)
      |SELECT k AS n_groups, nn AS n, df, h, h_corr,
      |  CASE WHEN df = 0 OR h_corr IS NULL OR h_corr <= 0 THEN NULL
      |    ELSE round((cbrt(h_corr / df) - 1 + 2.0 / (9 * df))
      |      / sqrt(2.0 / (9 * df)), 6) END AS wh_z,
      |  CAST(CASE WHEN df = 0 OR h_corr IS NULL OR h_corr <= 0
      |    THEN NULL
      |    ELSE round((cbrt(h_corr / df) - 1 + 2.0 / (9 * df))
      |      / sqrt(2.0 / (9 * df)), 6) END > 1.645 AS BIGINT)
      |    AS significant
      |FROM co""".stripMargin

  /** The q_ols_multi oracle, shared VERBATIM by q_stream_ols (the
    * quantileTeSql precedent - the stream's complete-mode 1-row
    * moment-sum state equals the batch `m` CTE at any split: all
    * nine sums are purely additive). Declared above the registry (init order). */
  private[graft] val olsSql: String =
    """WITH e AS (
      |  SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
      |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS z,
      |    CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events
      |), m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS s1, CAST(sum(z) AS HUGEINT) AS s2,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS s11,
      |    sum(CAST(x AS HUGEINT) * z) AS s12,
      |    sum(CAST(z AS HUGEINT) * z) AS s22,
      |    sum(CAST(x AS HUGEINT) * y) AS s1y,
      |    sum(CAST(z AS HUGEINT) * y) AS s2y,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM e
      |), c AS (
      |  SELECT n, s1, s2, sy,
      |    n * s11 - s1 * s1 AS sxx, n * s12 - s1 * s2 AS sxz,
      |    n * s22 - s2 * s2 AS szz, n * s1y - s1 * sy AS sxy,
      |    n * s2y - s2 * sy AS szy, n * syy - sy * sy AS syyc
      |  FROM m
      |), sl AS (
      |  SELECT n, s1, s2, sy, sxy, szy, syyc,
      |    CAST(sxx AS DOUBLE) * CAST(szz AS DOUBLE)
      |      - CAST(sxz AS DOUBLE) * CAST(sxz AS DOUBLE) AS det,
      |    CAST(sxy AS DOUBLE) * CAST(szz AS DOUBLE)
      |      - CAST(szy AS DOUBLE) * CAST(sxz AS DOUBLE) AS b1n,
      |    CAST(szy AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sxy AS DOUBLE) * CAST(sxz AS DOUBLE) AS b2n
      |  FROM c
      |), b AS (
      |  SELECT n, s1, s2, sy, sxy, szy, syyc,
      |    CASE WHEN det = 0 THEN NULL ELSE
      |      round(b1n / (det * 100), 6) END AS b_hour,
      |    CASE WHEN det = 0 THEN NULL ELSE
      |      round(b2n / (det * 100), 6) END AS b_dow
      |  FROM sl
      |)
      |SELECT n, b_hour, b_dow,
      |  CASE WHEN b_hour IS NULL THEN NULL ELSE
      |    round((CAST(sy AS DOUBLE) / 100 - b_hour * CAST(s1 AS DOUBLE)
      |      - b_dow * CAST(s2 AS DOUBLE)) / n, 6) END AS intercept,
      |  CASE WHEN b_hour IS NULL OR syyc <= 0 THEN NULL ELSE
      |    round((b_hour * 100 * CAST(sxy AS DOUBLE)
      |      + b_dow * 100 * CAST(szy AS DOUBLE))
      |      / CAST(syyc AS DOUBLE), 6) END AS r2
      |FROM b""".stripMargin

  /** The q_events_anomaly oracle, shared VERBATIM by q_stream_anomaly
    * (the quantileTeSql precedent — the stream's complete-mode
    * (hour, type, n) rollup ≡ the batch `hourly` CTE at any split,
    * so one SQL text serves both). Declared above the registry
    * (init order). */
  private[graft] val eventsAnomalySql: String =
    """WITH hourly AS (
      |  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
      |    AS hour, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT hour, event_type, n,
      |    sum(n) OVER (PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS base_sum,
      |    count(*) OVER (PARTITION BY event_type ORDER BY hour
      |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS base_cnt
      |  FROM hourly
      |)
      |SELECT hour, event_type, n,
      |  CASE WHEN base_cnt = 24
      |    THEN round(CAST(base_sum AS DOUBLE) / 24, 6) END AS baseline,
      |  CASE WHEN base_cnt = 24 AND n * 24 >= 2 * base_sum
      |    THEN CAST(1 AS BIGINT)
      |    WHEN base_cnt = 24 THEN CAST(0 AS BIGINT) END AS burst
      |FROM w ORDER BY event_type, hour""".stripMargin

  /** The centered lag products of a (t, x) series, shared by q_acf,
    * q_pacf/q_stream_pacf and q_ljung_box: `num` = (lag, num) with
    * num = Σ (x_t·n − S)(x_{t+lag}·n − S) over the band self-join at
    * lags 1..maxLag, and `den` = the lag-0 sum plus `denExtra`. The
    * factors scale as the total event count, so each is cast to
    * DECIMAL(38,0) BEFORE the first overflow-able product (the
    * mannWhitney convention) and μ never materializes as a float. The
    * series is read thrice (stats, pairs ×2, denom): checkpointed. */
  private[graft] def lagProducts(seriesRaw: DataFrame, maxLag: Int,
      denExtra: Column*): (DataFrame, DataFrame) = {
    val series = seriesRaw.localCheckpoint()
    val st = series.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val a = series.select(col("t").as("at"), col("x").as("ax"))
    val b = series.select(col("t").as("bt"), col("x").as("bx"))
    val num = a.join(b,
        col("bt") > col("at") && col("bt") <= col("at") + maxLag)
      .crossJoin(broadcast(st))
      .groupBy((col("bt") - col("at")).as("lag"))
      .agg(sum((col("ax") * col("n") - col("sx")).cast("decimal(38,0)")
        * (col("bx") * col("n") - col("sx")).cast("decimal(38,0)"))
        .as("num"))
    val den = series.crossJoin(broadcast(st))
      .agg(sum((col("x") * col("n") - col("sx")).cast("decimal(38,0)")
        * (col("x") * col("n") - col("sx")).cast("decimal(38,0)"))
        .as("den"), denExtra: _*)
    (num, den)
  }

  /** Twin of [[lagProducts]]: the `st`, `num` and `den` CTEs over a
    * `series` CTE, HUGEINT carrying the exact products. */
  private[graft] def lagProductsSql(maxLag: Int, denExtra: String = ""): String =
    s"""st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
       |  FROM series
       |), num AS (
       |  SELECT b.t - a.t AS lag,
       |    sum(CAST(a.x * n - sx AS HUGEINT) * (b.x * n - sx)) AS num
       |  FROM series a JOIN series b
       |    ON b.t > a.t AND b.t <= a.t + $maxLag
       |  CROSS JOIN st GROUP BY b.t - a.t
       |), den AS (
       |  SELECT sum(CAST(x * n - sx AS HUGEINT) * (x * n - sx)) AS den$denExtra
       |  FROM series CROSS JOIN st
       |)""".stripMargin

  /** PACF lags 1–3 over a (t, x) series (q_pacf + q_stream_pacf):
    * exact-DECIMAL centered products band-joined at ≤3 lags, then the
    * Durbin-Levinson closed forms on the 6dp grid. Ordered. */
  private[graft] def pacfOf(series: DataFrame): DataFrame = {
    val (num, den) = lagProducts(series, 3)
    def acfAt(k: Int): Column = max(when(col("lag") === k,
      round(col("num").cast("double") / col("den").cast("double"), 6)))
    val r = num.crossJoin(broadcast(den))
      .agg(acfAt(1).as("r1"), acfAt(2).as("r2"), acfAt(3).as("r3"))
    val dl2 = r.withColumn("phi22",
      round((col("r2") - col("r1") * col("r1"))
        / (lit(1) - col("r1") * col("r1")), 6))
    val dl21 = dl2.withColumn("phi21",
      round(col("r1") - col("phi22") * col("r1"), 6))
    val dl3 = dl21.select(col("r1"), col("phi22"),
      round((col("r3") - col("phi21") * col("r2") - col("phi22") * col("r1"))
        / (lit(1) - col("phi21") * col("r1") - col("phi22") * col("r2")), 6)
        .as("phi33"))
    dl3.select(explode(array(
        struct(lit(1L).as("lag"), col("r1").as("pacf")),
        struct(lit(2L).as("lag"), col("phi22").as("pacf")),
        struct(lit(3L).as("lag"), col("phi33").as("pacf")))).as("p"))
      .select(col("p.lag").as("lag"), col("p.pacf").as("pacf"))
      .orderBy("lag")
  }

  /** q_pacf's oracle — shared VERBATIM by q_stream_pacf (the
    * streaming face folds the same additive hour rollup as
    * complete-mode state). */
  private[graft] def pacfSql: String =
    s"""WITH $hourlySeriesSqlCte, ${lagProductsSql(3)}, r AS (
          |  SELECT
          |    max(CASE WHEN lag = 1
          |      THEN round(CAST(num AS DOUBLE) / den, 6) END) AS r1,
          |    max(CASE WHEN lag = 2
          |      THEN round(CAST(num AS DOUBLE) / den, 6) END) AS r2,
          |    max(CASE WHEN lag = 3
          |      THEN round(CAST(num AS DOUBLE) / den, 6) END) AS r3
          |  FROM num CROSS JOIN den
          |), dl2 AS (
          |  SELECT r1, r2, r3,
          |    round((r2 - r1 * r1) / (1 - r1 * r1), 6) AS phi22
          |  FROM r
          |), dl21 AS (
          |  SELECT r1, r2, r3, phi22,
          |    round(r1 - phi22 * r1, 6) AS phi21
          |  FROM dl2
          |), dl3 AS (
          |  SELECT r1, phi22,
          |    round((r3 - phi21 * r2 - phi22 * r1)
          |      / (1 - phi21 * r1 - phi22 * r2), 6) AS phi33
          |  FROM dl21
          |)
          |SELECT CAST(u.lag AS BIGINT) AS lag,
          |  CASE u.lag WHEN 1 THEN r1 WHEN 2 THEN phi22 ELSE phi33 END AS pacf
          |FROM dl3, unnest(range(1, 4)) AS u(lag)
          |ORDER BY lag""".stripMargin

  /** q_granger's oracle — shared VERBATIM by q_stream_granger (the
    * streaming face folds the same additive hour-pair rollup as
    * complete-mode state). */
  private[graft] def grangerSql: String =
    s"""WITH $xySeriesSqlCte, lagged AS (
          |  SELECT y AS y0, x AS x0,
          |    lag(y) OVER (ORDER BY t) AS y1,
          |    lag(x) OVER (ORDER BY t) AS x1
          |  FROM sxy
          |), rows0 AS (
          |  SELECT * FROM lagged WHERE y1 IS NOT NULL
          |), mo AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(y0) AS BIGINT) AS sy0, CAST(sum(x0) AS BIGINT) AS sx0,
          |    CAST(sum(y1) AS BIGINT) AS sy1, CAST(sum(x1) AS BIGINT) AS sx1,
          |    CAST(sum(y0 * y0) AS BIGINT) AS sy0y0,
          |    CAST(sum(x0 * x0) AS BIGINT) AS sx0x0,
          |    CAST(sum(y1 * y1) AS BIGINT) AS sy1y1,
          |    CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
          |    CAST(sum(y0 * y1) AS BIGINT) AS sy0y1,
          |    CAST(sum(y0 * x1) AS BIGINT) AS sy0x1,
          |    CAST(sum(x0 * y1) AS BIGINT) AS sx0y1,
          |    CAST(sum(x0 * x1) AS BIGINT) AS sx0x1,
          |    CAST(sum(y1 * x1) AS BIGINT) AS sy1x1
          |  FROM rows0
          |), dirs AS (
          |  SELECT 'x->y' AS direction, n,
          |    CAST(n AS HUGEINT) * sy0y0 - CAST(sy0 AS HUGEINT) * sy0 AS s00,
          |    CAST(n AS HUGEINT) * sy0y1 - CAST(sy0 AS HUGEINT) * sy1 AS s10,
          |    CAST(n AS HUGEINT) * sy0x1 - CAST(sy0 AS HUGEINT) * sx1 AS s20,
          |    CAST(n AS HUGEINT) * sy1y1 - CAST(sy1 AS HUGEINT) * sy1 AS s11,
          |    CAST(n AS HUGEINT) * sy1x1 - CAST(sy1 AS HUGEINT) * sx1 AS s12,
          |    CAST(n AS HUGEINT) * sx1x1 - CAST(sx1 AS HUGEINT) * sx1 AS s22
          |  FROM mo
          |  UNION ALL
          |  SELECT 'y->x', n,
          |    CAST(n AS HUGEINT) * sx0x0 - CAST(sx0 AS HUGEINT) * sx0,
          |    CAST(n AS HUGEINT) * sx0x1 - CAST(sx0 AS HUGEINT) * sx1,
          |    CAST(n AS HUGEINT) * sx0y1 - CAST(sx0 AS HUGEINT) * sy1,
          |    CAST(n AS HUGEINT) * sx1x1 - CAST(sx1 AS HUGEINT) * sx1,
          |    CAST(n AS HUGEINT) * sy1x1 - CAST(sy1 AS HUGEINT) * sx1,
          |    CAST(n AS HUGEINT) * sy1y1 - CAST(sy1 AS HUGEINT) * sy1
          |  FROM mo
          |), co AS (
          |  SELECT direction, n,
          |    round(CAST(s10 AS DOUBLE) / s11, 6) AS br,
          |    round(CAST(s10 * s22 - s20 * s12 AS DOUBLE)
          |      / CAST(s11 * s22 - s12 * s12 AS DOUBLE), 6) AS b1,
          |    round(CAST(s11 * s20 - s12 * s10 AS DOUBLE)
          |      / CAST(s11 * s22 - s12 * s12 AS DOUBLE), 6) AS b2,
          |    CAST(s00 AS DOUBLE) AS s00d, CAST(s10 AS DOUBLE) AS s10d,
          |    CAST(s20 AS DOUBLE) AS s20d
          |  FROM dirs
          |), fs AS (
          |  SELECT direction, n,
          |    round((b1 * s10d + b2 * s20d - br * s10d) * (n - 3)
          |      / (s00d - b1 * s10d - b2 * s20d), 6) AS f_stat
          |  FROM co
          |)
          |SELECT direction, n AS n_eff, f_stat,
          |  CAST(f_stat > 3.84 AS BIGINT) AS significant
          |FROM fs ORDER BY direction""".stripMargin

  /** q_cusum's oracle — shared VERBATIM by q_stream_cusum (the
    * streaming face folds the same hour rollup as complete-mode
    * state, so the readout is the identical bounded computation). */
  private[graft] def cusumSql: String =
    s"""WITH $hourlySeriesSqlCte, st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM series
      |), ks AS (
      |  SELECT (sx + n - 1) // n AS k_up, sx // n AS k_dn,
      |    round(5.0 * sqrt(CAST(CAST(n AS HUGEINT) * sxx
      |      - CAST(sx AS HUGEINT) * sx AS DOUBLE)) / n, 6) AS h
      |  FROM st
      |), cum AS (
      |  SELECT t, x, h,
      |    CAST(sum(x - k_up) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS c_up,
      |    CAST(sum(k_dn - x) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS c_dn
      |  FROM series CROSS JOIN ks
      |), s AS (
      |  SELECT t, x, h,
      |    c_up - least(CAST(0 AS BIGINT), min(c_up) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_up,
      |    c_dn - least(CAST(0 AS BIGINT), min(c_dn) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_dn
      |  FROM cum
      |)
      |SELECT t, x, s_up, s_dn,
      |  CAST(s_up > h OR s_dn > h AS BIGINT) AS alarm
      |FROM s ORDER BY t""".stripMargin

  /** The q_ewma_control oracle, shared VERBATIM by q_stream_ewma (the
    * eventsAnomalySql precedent — the stream's complete-mode hour
    * rollup ≡ the batch `hr` CTE at any split). A def, not a val: it
    * interpolates [[hourlySeriesSqlCte]], declared further down (the
    * registry-interpolation init-order rule). */
  private[graft] def ewmaSql: String =
    s"""WITH RECURSIVE $hourlySeriesSqlCte, x0 AS (
       |  SELECT t, CAST(x AS DOUBLE) AS x FROM series
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(x AS BIGINT)) AS BIGINT) AS sx,
       |    CAST(sum(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS BIGINT) AS sq
       |  FROM series
       |), ew AS (
       |  SELECT CAST(0 AS BIGINT) AS t,
       |    (SELECT x FROM x0 WHERE t = 0) AS z
       |  UNION ALL
       |  SELECT ew.t + 1, round(2e-1 * x0.x + 8e-1 * ew.z, 6)
       |  FROM ew JOIN x0 ON x0.t = ew.t + 1
       |), lim AS (
       |  SELECT n, round(CAST(sx AS DOUBLE) / n, 6) AS mu6,
       |    round(sqrt((CAST(n AS DOUBLE) * sq - CAST(sx AS DOUBLE) * sx)
       |      / (CAST(n AS DOUBLE) * (n - 1))), 6) AS sig6
       |  FROM st
       |), dev AS (
       |  SELECT n, mu6, sig6, t, round(abs(z - mu6), 6) AS dev6
       |  FROM ew CROSS JOIN lim
       |)
       |SELECT n AS n_hours, mu6 AS mu, sig6 AS sigma_z,
       |  CAST(sum(CASE WHEN dev6 > sig6 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_ooc,
       |  CAST(min(CASE WHEN dev6 > sig6 THEN t END) AS BIGINT)
       |    AS first_ooc_t,
       |  max(dev6) AS max_abs_dev
       |FROM dev GROUP BY n, mu6, sig6""".stripMargin

  /** The streamable state stage of q_events_anomaly: the (hour, type)
    * count rollup — purely additive, bounded by the hour×type
    * catalog, never stream volume (q_stream_anomaly folds it live as
    * complete-mode state; the q_stream_moments argument). */
  private[graft] def hourlyTypeRollup(ev: DataFrame): DataFrame =
    ev.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** The finishing stage of q_events_anomaly over the bounded rollup:
    * the trailing-24-observed-hour baseline compare. */
  private[graft] def anomalyFinish(hourly: DataFrame): DataFrame = {
    val frame = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-24, -1)
    hourly
      .withColumn("base_sum", sum(col("n")).over(frame))
      .withColumn("base_cnt", count(lit(1)).over(frame))
      .select(col("hour"), col("event_type"), col("n"),
        when(col("base_cnt") === 24,
          round(col("base_sum").cast("double") / 24, 6)).as("baseline"),
        when(col("base_cnt") === 24 && col("n") * 24 >= col("base_sum") * 2,
          1L).when(col("base_cnt") === 24, 0L).as("burst"))
      .orderBy("event_type", "hour")
  }

  /** Two-sided normal p-value in 1e-6 integer units from a 6dp-rounded
    * z column: the Abramowitz-Stegun 26.2.17 five-term polynomial tail
    * 1−Φ(|z|) = φ(|z|)·t·(b₁+t(b₂+t(b₃+t(b₄+t·b₅)))), t = 1/(1+0.2316419|z|),
    * |error| < 7.5e-8 — well inside the 1e-6 grid. ONE text spliced
    * into BOTH engines (the momentFinish mirrored-IEEE convention);
    * the single libm exp rounds onto the shared integer grid, so the
    * BH decision downstream is grid-determined (the q_dp_counts libm
    * note). FdrBhSpec pins the grid against published quantiles
    * (z=1.959964 → 50000, z=2.575829 → 10000, z=0 → 10⁶). */
  private[graft] def pNorm6Sql(z: String): String = {
    val t = s"(1.0 / (1.0 + 0.2316419 * abs($z)))"
    s"""CAST(round(2000000.0 * (0.3989422804014327
       |  * exp(-abs($z) * abs($z) / 2)
       |  * ($t * (0.319381530 + $t * (-0.356563782 + $t * (1.781477937
       |    + $t * (-1.821255978 + $t * 1.330274429))))))) AS BIGINT)"""
      .stripMargin
  }

  /** The mergeable moment-sketch core shared by q_moments and
    * q_stream_moments: per-type power sums of the ×100 fixed-point
    * value — n, Σc, Σc², Σc³, Σc⁴ — every one EXACT (BIGINT through
    * c³; c⁴ in DECIMAL(38,0) since a 5-digit cent value overflows
    * BIGINT at the 4th power) and purely ADDITIVE, which is the whole
    * point: partials merge associatively and order-free across
    * partitions, micro-batches, or days of history — no float sum
    * can drift the sketch. */
  private[graft] def momentSums(df: DataFrame): DataFrame =
    df.select(col("event_type"),
      round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"),
        sum(col("c") * col("c") * col("c")).as("s3"),
        sum((col("c") * col("c")).cast("decimal(38,0)")
          * (col("c") * col("c"))).as("s4"))

  /** Scalar finishing over a [[momentSums]] frame: mean/stddev/
    * skewness/excess-kurtosis from the raw moments, finished in EXACT
    * integer rationals (the r9 ADVICE #1 close-out). The old finish
    * divided early into doubles and relied on both engines evaluating
    * a token-mirrored IEEE expression tree — a convention, not an
    * arithmetic guarantee. This one reduces everything to exact
    * DECIMAL(38,0) integers first:
    *
    *   K  = floor(s1/n)  (pmod-adjusted so truncating and flooring
    *                      division agree — the SAME integer in any
    *                      engine, even for negative sums)
    *   Tj = Σ(c−K)^j     (binomial expansion over the raw sums —
    *                      EXACT, and centered so magnitudes collapse
    *                      from n·c^j to n·σ^j)
    *   A  = n·T2 − T1²                                  (= n²·m2)
    *   B  = n²·T3 − 3n·T1·T2 + 2T1³                      (= n³·m3)
    *   C  = n³·T4 − 4n²·T1·T3 + 6n·T1²·T2 − 3T1⁴         (= n⁴·m4)
    *
    * whence n cancels in the shape stats: stddev = √A/(100n),
    * skew = B/(A·√A), kurtosis = C/A² − 3. Each final is a handful of
    * individually CORRECTLY-ROUNDED IEEE operations (one decimal→
    * double cast per exact integer, sqrt, multiply, divide — no
    * catastrophic cancellation anywhere), so cross-engine equality is
    * guaranteed by IEEE-754 semantics on identical exact inputs, not
    * by expression-text mirroring. MomentsRationalSpec pins this
    * finish bit-for-bit against the retired mirrored-IEEE twin at all
    * three SFs.
    *
    * Exactness window: A stays within 38 digits to n ≈ 1e12 per
    * group, B to n ≈ 1e8, C to n⁴·σ⁴ < 1e38 (n ≈ 2e5 at σ ≈ 1e4
    * cents) — beyond that Spark's decimal overflows to NULL rather
    * than silently drifting, and the mirrored-double finish
    * ([[momentFinishMirrored]]) is the unbounded-scale alternative.
    * The DuckDB twin rides HUGEINT (128-bit), which caps at the same
    * ~1.7e38. */
  private[graft] def momentFinish(p: DataFrame): DataFrame =
    p.selectExpr("event_type", "n", "s1",
      "CAST(n AS DECIMAL(38,0)) AS nd",
      "CAST((s1 - (((s1 % n) + n) % n)) DIV n AS DECIMAL(38,0)) AS kd",
      "CAST(s1 AS DECIMAL(38,0)) AS s1d",
      "CAST(s2 AS DECIMAL(38,0)) AS s2d",
      "CAST(s3 AS DECIMAL(38,0)) AS s3d",
      "s4 AS s4d")
      .selectExpr("event_type", "n", "s1", "nd",
        "s1d - nd * kd AS t1",
        "s2d - 2 * kd * s1d + nd * kd * kd AS t2",
        "s3d - 3 * kd * s2d + 3 * kd * kd * s1d - nd * kd * kd * kd AS t3",
        "s4d - 4 * kd * s3d + 6 * kd * kd * s2d - 4 * kd * kd * kd * s1d"
          + " + nd * kd * kd * kd * kd AS t4")
      .selectExpr("event_type", "n", "s1",
        "nd * t2 - t1 * t1 AS a",
        "nd * nd * t3 - 3 * nd * t1 * t2 + 2 * t1 * t1 * t1 AS b",
        "nd * nd * nd * t4 - 4 * nd * nd * t1 * t3"
          + " + 6 * nd * t1 * t1 * t2 - 3 * t1 * t1 * t1 * t1 AS c")
      .selectExpr("event_type", "n",
        "round(CAST(s1 AS DOUBLE) / n / 100, 6) AS mean_value",
        "round(sqrt(CAST(a AS DOUBLE)) / n / 100, 6) AS stddev_value",
        "CASE WHEN a > 0 THEN round(CAST(b AS DOUBLE)"
          + " / (CAST(a AS DOUBLE) * sqrt(CAST(a AS DOUBLE))), 6) END"
          + " AS skewness",
        "CASE WHEN a > 0 THEN round(CAST(c AS DOUBLE)"
          + " / (CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) - 3, 6) END"
          + " AS ex_kurtosis")
      .orderBy("event_type")

  /** The retired mirrored-IEEE finishing (early division into double,
    * expression text mirrored token-for-token in the oracle) — kept
    * as the unbounded-scale alternative to [[momentFinish]]'s exact
    * window and as MomentsRationalSpec's comparison twin. */
  private[graft] def momentFinishMirrored(p: DataFrame): DataFrame =
    p.selectExpr("event_type", "n",
      "CAST(s1 AS DOUBLE) / n AS mc",
      "CAST(s2 AS DOUBLE) / n AS r2",
      "CAST(s3 AS DOUBLE) / n AS r3",
      "CAST(s4 AS DOUBLE) / n AS r4")
      .selectExpr("event_type", "n", "mc",
        "r2 - mc * mc AS m2",
        "r3 - 3 * mc * r2 + 2 * mc * mc * mc AS m3",
        "r4 - 4 * mc * r3 + 6 * mc * mc * r2 - 3 * mc * mc * mc * mc AS m4")
      .selectExpr("event_type", "n",
        "round(mc / 100, 6) AS mean_value",
        "round(sqrt(greatest(m2, 0.0)) / 100, 6) AS stddev_value",
        "CASE WHEN m2 > 0 THEN round(m3 / (m2 * sqrt(m2)), 6) END AS skewness",
        "CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3, 6) END AS ex_kurtosis")
      .orderBy("event_type")

  /** Shared oracle for q_moments AND q_stream_moments (batch/stream
    * twins agree byte-for-byte — additive sums make the stream equal
    * the batch at ANY micro-batch split). */
  private[graft] val momentsSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
      |), p AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s1,
      |    CAST(sum(c * c) AS BIGINT) AS s2,
      |    CAST(sum(c * c * c) AS BIGINT) AS s3,
      |    sum(CAST(c * c AS HUGEINT) * (c * c)) AS s4
      |  FROM c GROUP BY event_type
      |), k AS (
      |  SELECT event_type, n, s1,
      |    CAST(n AS HUGEINT) AS nd,
      |    CAST((s1 - (((s1 % n) + n) % n)) // n AS HUGEINT) AS kd,
      |    CAST(s1 AS HUGEINT) AS s1d, CAST(s2 AS HUGEINT) AS s2d,
      |    CAST(s3 AS HUGEINT) AS s3d, s4 AS s4d
      |  FROM p
      |), t AS (
      |  SELECT event_type, n, s1, nd,
      |    s1d - nd * kd AS t1,
      |    s2d - 2 * kd * s1d + nd * kd * kd AS t2,
      |    s3d - 3 * kd * s2d + 3 * kd * kd * s1d - nd * kd * kd * kd AS t3,
      |    s4d - 4 * kd * s3d + 6 * kd * kd * s2d - 4 * kd * kd * kd * s1d
      |      + nd * kd * kd * kd * kd AS t4
      |  FROM k
      |), m AS (
      |  SELECT event_type, n, s1,
      |    nd * t2 - t1 * t1 AS a,
      |    nd * nd * t3 - 3 * nd * t1 * t2 + 2 * t1 * t1 * t1 AS b,
      |    nd * nd * nd * t4 - 4 * nd * nd * t1 * t3
      |      + 6 * nd * t1 * t1 * t2 - 3 * t1 * t1 * t1 * t1 AS c
      |  FROM t
      |)
      |SELECT event_type, n,
      |  round(CAST(s1 AS DOUBLE) / n / 100, 6) AS mean_value,
      |  round(sqrt(CAST(a AS DOUBLE)) / n / 100, 6) AS stddev_value,
      |  CASE WHEN a > 0 THEN round(CAST(b AS DOUBLE)
      |    / (CAST(a AS DOUBLE) * sqrt(CAST(a AS DOUBLE))), 6) END AS skewness,
      |  CASE WHEN a > 0 THEN round(CAST(c AS DOUBLE)
      |    / (CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) - 3, 6) END AS ex_kurtosis
      |FROM m ORDER BY event_type""".stripMargin

  /** Shared oracle for q_debounce AND q_stream_debounce — the
    * batch/stream twins must agree byte-for-byte, so they share one
    * SQL (the hashEmbedSql precedent). */
  private[graft] val debounceSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      |        PARTITION BY user_id, event_type
      |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
      |  FROM events
      |)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 300000000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  round(CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 300000000
      |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS kept_ratio
      |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Shared churn-label chain for q_model_auc and its binned twin
    * (anchor → per → med → lab) — splice under WITH; exposes
    * lab(user_id, churned 0/1, score 6dp). */
  private[graft] val churnLabSqlCte: String =
    """anchor AS (
      |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS a_us FROM events
      |), per AS (
      |  SELECT user_id,
      |    (a_us - max(epoch_us(CAST(ts AS TIMESTAMP)))) // 86400000000
      |      AS r_days,
      |    count(*) AS f
      |  FROM events CROSS JOIN anchor GROUP BY user_id, a_us
      |), med AS (
      |  SELECT quantile_cont(CAST(r_days AS DOUBLE), 0.5) AS m FROM per
      |), lab AS (
      |  SELECT user_id,
      |    CASE WHEN r_days > m THEN 1 ELSE 0 END AS churned,
      |    round(0.1 * r_days - 0.05 * f, 6) AS score
      |  FROM per CROSS JOIN med
      |)""".stripMargin

  /** The Mann-Whitney U tail shared by the AUC twins — splice after a
    * CTE `byk(k, np_s, nn_s)` (any ordered key domain: exact scores
    * or bins). Exposes u(u2, np, nn, nk). */
  private[graft] val aucTailSqlCte: String =
    """cum AS (
      |  SELECT k, np_s, nn_s,
      |    CAST(coalesce(sum(nn_s) OVER (ORDER BY k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cumneg
      |  FROM byk
      |), u AS (
      |  SELECT CAST(sum(np_s * (2 * cumneg + nn_s)) AS BIGINT) AS u2,
      |    CAST(sum(np_s) AS BIGINT) AS np, CAST(sum(nn_s) AS BIGINT) AS nn,
      |    CAST(count(*) AS BIGINT) AS nk
      |  FROM cum
      |)""".stripMargin

  /** DuckDB twin of [[hourlySeries]]: hr → bounds → spine →
    * series(t, x) CTEs; splice under WITH. */
  private[graft] val hourlySeriesSqlCte: String =
    """hr AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
      |    count(*) AS x
      |  FROM events GROUP BY h
      |), bounds AS (
      |  SELECT min(h) AS h0, max(h) AS h1 FROM hr
      |), spine AS (
      |  SELECT h0 + i AS h FROM bounds, unnest(range(h1 - h0 + 1)) AS u(i)
      |), series AS (
      |  SELECT s.h - (SELECT h0 FROM bounds) AS t,
      |    CAST(coalesce(hr.x, 0) AS BIGINT) AS x
      |  FROM spine s LEFT JOIN hr ON hr.h = s.h
      |)""".stripMargin

  /** Granger F both directions over a (t, x, y) series (q_granger +
    * q_stream_granger): lags on one bounded window, ten exact-BIGINT
    * moments, DECIMAL-exact centered products, 6dp Cramer/F. */
  private[graft] def grangerOf(sxy: DataFrame): DataFrame = {
      val lagged = {
        val w = Window.orderBy("t")
        sxy
          .withColumn("y1", lag(col("y"), 1).over(w))
          .withColumn("x1", lag(col("x"), 1).over(w))
          .filter(col("y1").isNotNull)
          .select(col("y").as("y0"), col("x").as("x0"), col("y1"), col("x1"))
      }
      val mo = lagged.agg(count(lit(1)).as("n"),
        sum(col("y0")).as("sy0"), sum(col("x0")).as("sx0"),
        sum(col("y1")).as("sy1"), sum(col("x1")).as("sx1"),
        sum(col("y0") * col("y0")).as("sy0y0"),
        sum(col("x0") * col("x0")).as("sx0x0"),
        sum(col("y1") * col("y1")).as("sy1y1"),
        sum(col("x1") * col("x1")).as("sx1x1"),
        sum(col("y0") * col("y1")).as("sy0y1"),
        sum(col("y0") * col("x1")).as("sy0x1"),
        sum(col("x0") * col("y1")).as("sx0y1"),
        sum(col("x0") * col("x1")).as("sx0x1"),
        sum(col("y1") * col("x1")).as("sy1x1"))
        .localCheckpoint() // read twice: one row per direction
      def dec(c: Column): Column = c.cast("decimal(38,0)")
      def centered(sab: Column, sa: Column, sb: Column): Column =
        dec(col("n")) * sab - dec(sa) * sb
      def direction(tag: String, t0: String, l1: String, l2: String,
          st0t0: String, st0l1: String, st0l2: String,
          sl1l1: String, sl1l2: String, sl2l2: String) =
        mo.select(lit(tag).as("direction"), col("n"),
          centered(col(st0t0), col(t0), col(t0)).as("s00"),
          centered(col(st0l1), col(t0), col(l1)).as("s10"),
          centered(col(st0l2), col(t0), col(l2)).as("s20"),
          centered(col(sl1l1), col(l1), col(l1)).as("s11"),
          centered(col(sl1l2), col(l1), col(l2)).as("s12"),
          centered(col(sl2l2), col(l2), col(l2)).as("s22"))
      val dirs = direction("x->y", "sy0", "sy1", "sx1",
          "sy0y0", "sy0y1", "sy0x1", "sy1y1", "sy1x1", "sx1x1")
        .unionByName(direction("y->x", "sx0", "sx1", "sy1",
          "sx0x0", "sx0x1", "sx0y1", "sx1x1", "sy1x1", "sy1y1"))
      val det = (col("s11") * col("s22") - col("s12") * col("s12"))
        .cast("double")
      val co = dirs.select(col("direction"), col("n"),
        round(col("s10").cast("double") / col("s11").cast("double"), 6)
          .as("br"),
        round((col("s10") * col("s22") - col("s20") * col("s12"))
          .cast("double") / det, 6).as("b1"),
        round((col("s11") * col("s20") - col("s12") * col("s10"))
          .cast("double") / det, 6).as("b2"),
        col("s00").cast("double").as("s00d"),
        col("s10").cast("double").as("s10d"),
        col("s20").cast("double").as("s20d"))
      co.select(col("direction"), col("n").as("n_eff"),
          round((col("b1") * col("s10d") + col("b2") * col("s20d")
            - col("br") * col("s10d")) * (col("n") - 3)
            / (col("s00d") - col("b1") * col("s10d")
              - col("b2") * col("s20d")), 6).as("f_stat"))
        .withColumn("significant", (col("f_stat") > 3.84).cast("long"))
        .orderBy("direction")
  }

  /** Shared sessionization (q_events_sessions / q_session_paths):
    * one user-keyed shuffle, then lag-flag + cumulative-sum windows
    * ride the same ordering — returns the event stream (user_id,
    * event_id, event_type, ts) with `session_seq` attached. */
  private def sessionized(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select("user_id", "event_id", "event_type", "ts")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull
          || unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= SessionGapMicros,
          lit(1)).otherwise(lit(0)))
      .withColumn("session_seq",
        sum(col("new_session"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** DuckDB twin of [[sessionized]]: ev → flagged → sessions CTEs
    * ending in sessions(user_id, event_id, event_type, ts,
    * session_seq); splice under WITH. */
  private val sessionsSqlCte: String =
    """ev AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      |), flagged AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |           OR lag(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM flagged)""".stripMargin

  /** q_sql_interval's ANSI text (factored for IntervalRuleSpec's
    * sql-text plan pin): the naive interval-overlap theta join over
    * a temp view of [st_s, en_s] session intervals — q_session_
    * overlap's join, arriving through the parser instead of the
    * DataFrame API. The view (`sess_sql_iv`) is prepared by the
    * same sessionized() machinery; the DEMONSTRATION is the parsed
    * join predicate, which IntervalOverlapJoin must plan as the
    * binned equi-join (the q_sql_cos precedent: input via view,
    * join via SQL). Readout is the bounded per-10-minute-bucket
    * overlap histogram — a different face than q_session_overlap's
    * 1-row rollup, so the two rows also cross-check each other's
    * pair sets through the shared oracle CTE. */
  private[graft] val SqlIntervalText: String =
    """WITH p AS (
      |  SELECT least(a.en_s, b.en_s) - greatest(a.st_s, b.st_s) AS ov
      |  FROM sess_sql_iv a JOIN sess_sql_iv b
      |    ON a.st_s <= b.en_s AND b.st_s <= a.en_s
      |      AND a.user_id < b.user_id
      |)
      |SELECT CAST(ov DIV 600 AS BIGINT) AS ov_bucket,
      |  CAST(count(*) AS BIGINT) AS n_pairs
      |FROM p GROUP BY 1 ORDER BY ov_bucket""".stripMargin

  val all: Seq[Q] = Seq(
    Q(
      "q_events_hourly",
      "tumbling 1h window = date_trunc + keyed agg; partial agg bounds " +
        "shuffle volume by (hours × types) regardless of event count",
      Some(
        s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
           |  event_type, count(*) AS n,
           |  ${exactSumSql("value")} AS sum_value
           |FROM events
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    ) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
        .orderBy("hour", "event_type")
    },

    Q(
      "q_events_sliding",
      "SLIDING 1h window, 15min slide — each event lands in exactly 4 " +
        "overlapping windows via a map-side Expand (Spark's window() " +
        "with a slide), then one keyed agg bounded by windows×types; " +
        "the 4× row replication happens before the shuffle but " +
        "map-side partial agg collapses it to window-count rows. The " +
        "oracle derives the same 4 starts per event with pure integer " +
        "epoch-ms arithmetic",
      Some(
        s"""SELECT make_timestamp(((epoch_ms(CAST(ts AS TIMESTAMP)) // 900000 - i)
           |    * 900000) * 1000) AS win_start,
           |  event_type, count(*) AS n
           |FROM events, (SELECT unnest(range(4)) AS i)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    ) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("win.start").as("win_start"), col("event_type"), col("n"))
        .orderBy("win_start", "event_type")
    },

    Q(
      "q_events_sessions",
      "sessionization (30 min gap): one shuffle by user_id; session ids " +
        "from a cumulative sum over new-session flags — two sequential " +
        "window passes, no self-join; streaming twin = session_window",
      Some(
        s"""WITH $sessionsSqlCte
           |SELECT user_id, session_seq, count(*) AS n_events,
           |  min(event_id) AS first_event
           |FROM sessions GROUP BY user_id, session_seq
           |ORDER BY user_id, session_seq""".stripMargin),
    ) { (s, dir) =>
      sessionized(s, dir)
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
        .orderBy("user_id", "session_seq")
    },

    Q(
      "q_funnel",
      "staged conversion funnel (signup → click within 24h → purchase " +
        "within 24h of that click): each stage is a user-keyed " +
        "min-timestamp aggregate joined to the previous stage — " +
        "shuffles stay keyed by user_id and each stage's input " +
        "shrinks; no per-user event sorting, no self-join on the full " +
        "stream (window chosen to produce real attrition on the " +
        "synthetic stream)",
      Some(
        """WITH s AS (
          |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS st
          |  FROM events WHERE event_type = 'signup' GROUP BY user_id
          |), c AS (
          |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ct
          |  FROM events e JOIN s ON e.user_id = s.user_id
          |   AND CAST(e.ts AS TIMESTAMP) > s.st
          |   AND CAST(e.ts AS TIMESTAMP) <= s.st + INTERVAL 24 HOUR
          |  WHERE e.event_type = 'click' GROUP BY e.user_id
          |), p AS (
          |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS pt
          |  FROM events e JOIN c ON e.user_id = c.user_id
          |   AND CAST(e.ts AS TIMESTAMP) > c.ct
          |   AND CAST(e.ts AS TIMESTAMP) <= c.ct + INTERVAL 24 HOUR
          |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
          |)
          |SELECT (SELECT count(*) FROM s) AS n_signup,
          |       (SELECT count(*) FROM c) AS n_signup_click,
          |       (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val stage1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("st"))
      val stage2 = ev.filter(col("event_type") === "click").as("e")
        .join(stage1, col("e.user_id") === stage1("user_id") && col("e.ts") > col("st")
          && col("e.ts") <= col("st") + expr("INTERVAL 24 HOUR"))
        .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("ct"))
      val stage3 = ev.filter(col("event_type") === "purchase").as("e2")
        .join(stage2, col("e2.user_id") === stage2("user_id") && col("e2.ts") > col("ct")
          && col("e2.ts") <= col("ct") + expr("INTERVAL 24 HOUR"))
        .groupBy(col("e2.user_id")).agg(min(col("e2.ts")).as("pt"))
      stage1.agg(count(lit(1)).as("n_signup"))
        .crossJoin(stage2.agg(count(lit(1)).as("n_signup_click")))
        .crossJoin(stage3.agg(count(lit(1)).as("n_full_funnel")))
    },

    Q(
      "q_pivot",
      "pivot to wide format: per-user event-type counts with an " +
        "EXPLICIT pivot value list (never the infer-values two-pass " +
        "form at scale); one keyed shuffle, output bounded by " +
        "users × types",
      Some(
        """SELECT user_id,
          |  count(*) FILTER (WHERE event_type = 'click') AS click,
          |  count(*) FILTER (WHERE event_type = 'error') AS error,
          |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
          |  count(*) FILTER (WHERE event_type = 'view') AS view
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    ) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    },

    Q(
      "q_asof_join",
      "as-of join via the union+window algorithm: for every purchase, " +
        "the user's most recent strictly-earlier click. Both sides " +
        "union into one stream, one shuffle by user_id, a single " +
        "ignore-nulls window carries the last click forward — no " +
        "per-row range probe, no range-join explosion; THE scalable " +
        "as-of shape (engines with native ASOF JOIN plan exactly this)",
      Some(
        """WITH merged AS (
          |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
          |    last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
          |      OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
          |  FROM events)
          |SELECT event_id, user_id, ts, last_click_ts,
          |  date_diff('microsecond', last_click_ts, ts) AS micros_since_click
          |FROM merged WHERE event_type = 'purchase'
          |ORDER BY event_id""".stripMargin),
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("last_click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("last_click_ts"),
          (unix_micros(col("ts")) - unix_micros(col("last_click_ts")))
            .as("micros_since_click"))
        .orderBy("event_id")
    },

    Q(
      "q_events_json",
      "semi-structured props: JSON path extraction is a codegen'd " +
        "expression on the scan — no shuffle until the keyed agg",
      Some(
        """SELECT event_type,
          |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |  count(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"),
        )
        .orderBy("event_type")
    },

    Q(
      "q_upsert_latest",
      "CDC-style changelog compaction: the events table as an upsert " +
        "stream, latest record per user wins — one shuffle keyed by " +
        "user_id, row_number in a single pass per partition (ties " +
        "broken by event_id, so replays are deterministic); the " +
        "Structured Streaming twin is dropDuplicates/ " +
        "flatMapGroupsWithState keyed the same way",
      Some(
        """SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
          |  event_type AS last_type, value AS last_value
          |FROM (
          |  SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |  FROM events)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin),
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("last_ts"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id")
    },

    Q(
      "q_events_retention",
      "cohort retention: signup day = each user's first event day (one " +
        "user-keyed agg), activity days deduped per (user, day), d1/d7 " +
        "flags from a user-keyed join — every shuffle is keyed by " +
        "user_id or bounded by days; exact countDistinct per cohort is " +
        "the bench choice, approx_count_distinct the 100 TB one",
      Some(
        """WITH f AS (
          |  SELECT user_id,
          |    date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS cohort_day
          |  FROM events GROUP BY user_id
          |), a AS (
          |  SELECT DISTINCT user_id,
          |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS act_day
          |  FROM events)
          |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
          |  count(DISTINCT f.user_id) AS n_users,
          |  CAST(count(CASE WHEN act_day = cohort_day + INTERVAL 1 DAY
          |    THEN 1 END) AS BIGINT) AS d1_retained,
          |  CAST(count(CASE WHEN act_day = cohort_day + INTERVAL 7 DAY
          |    THEN 1 END) AS BIGINT) AS d7_retained
          |FROM f JOIN a ON f.user_id = a.user_id
          |GROUP BY cohort_day ORDER BY cohort_day""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val firsts = ev.groupBy("user_id")
        .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
      val act = ev
        .select(col("user_id"), date_trunc("day", col("ts")).as("act_day"))
        .distinct()
      firsts.join(act, Seq("user_id"))
        .groupBy("cohort_day")
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(when(col("act_day") === col("cohort_day") + expr("INTERVAL 1 DAY"), 1))
            .as("d1_retained"),
          count(when(col("act_day") === col("cohort_day") + expr("INTERVAL 7 DAY"), 1))
            .as("d7_retained"),
        )
        .orderBy("cohort_day")
    },

    Q(
      "q_events_zscore",
      "per-type z-score outliers (|z| > 3): stats are one keyed agg " +
        "bounded by #event_types, broadcast back for a per-row score — " +
        "the corpus never shuffles. Mean/variance use exact fixed-point " +
        "sums (of value and value², both rounded per row at 1e-6) so " +
        "both engines derive bit-identical stats at any parallelism",
      Some(
        """WITH stats AS (
          |  SELECT event_type, count(*) AS n,
          |    CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE)
          |      / 1000000.0 AS s1,
          |    CAST(sum(CAST(round(value * value * 1000000.0) AS BIGINT)) AS DOUBLE)
          |      / 1000000.0 AS s2
          |  FROM events GROUP BY event_type
          |), scored AS (
          |  SELECT e.event_id, e.event_type, e.value,
          |    round((e.value - s1 / n) /
          |      sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
          |  FROM events e JOIN stats s ON e.event_type = s.event_type)
          |SELECT event_id, event_type, value, z FROM scored
          |WHERE abs(z) > 3 ORDER BY event_type, event_id""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val stats = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * 1e6, 0).cast("long")).cast("double") / 1e6).as("s1"),
        (sum(round(col("value") * col("value") * 1e6, 0).cast("long")).cast("double") / 1e6)
          .as("s2"))
      // Same arithmetic shape as the oracle: mean = s1/n, var = s2/n −
      // mean², z rounded 6dp before the cut so the boundary can't
      // flutter between engines.
      val mean = col("s1") / col("n")
      val z = round((col("value") - mean) /
        sqrt(col("s2") / col("n") - mean * mean), 6)
      ev.join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"), z.as("z"))
        .filter(abs(col("z")) > 3)
        .orderBy("event_type", "event_id")
    },

    Q(
      "q_agg_incremental",
      "incremental aggregation via mergeable partial state: each day's " +
        "events fold into a (day,type)-keyed partial-state table " +
        "(counts + fixed-point cent sums — both mergeable by plain " +
        "addition), and the corpus-level metrics roll up from the " +
        "STATE (days×types rows), never rescanning raw history — at " +
        "100 TB yesterday's raw events stay in cold storage; only the " +
        "new day is scanned and its state rows appended. The oracle " +
        "aggregates the raw table directly, proving state-merge ≡ " +
        "full rescan",
      Some(
        s"""SELECT event_type, count(*) AS n_events,
           |  ${exactSumSql("value")} AS sum_value,
           |  ${exactAvgSql("value")} AS avg_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      // Stage 1 — the per-day state a real pipeline would persist:
      // additive components only (no avg in state; averages don't merge).
      val state = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      // Stage 2 — rollup reads state rows only.
      state.groupBy("event_type")
        .agg(sum(col("n")).as("n_events"),
          (sum(col("cents")) / 100.0).cast("double").as("sum_value"),
          (sum(col("cents")) / 100.0 / sum(col("n"))).cast("double").as("avg_value"))
        .orderBy("event_type")
    },

    Q(
      "q_dp_counts",
      "differentially-private release of per-type event counts " +
        "(ε = 1 Laplace mechanism): count queries have sensitivity 1, " +
        "so noise ~ Laplace(1/ε) via inverse-CDF −sign(u)·ln(1−2|u|) " +
        "— the third privacy operator beside q_kanon_audit's " +
        "re-identification gate and q_pii_scrub's redaction. The " +
        "uniform source is INJECTED behind the functions/DpNoise " +
        "seam: this gate-run row passes DpNoise.HashStandIn (md5 of " +
        "the released key — deterministic, oracle-matchable, " +
        "explicitly NOT private), a real release passes " +
        "DpNoise.Crypto (SecureRandom) and changes NOTHING else — " +
        "mechanism, sensitivity scaling, and the inverse CDF are " +
        "shared code, source-independence DpSeamSpec-pinned. One " +
        "#types-bounded agg + per-row noise arithmetic; the one " +
        "libm ln is 6dp-rounded. At 100 TB the agg is the only scan",
      Some {
        val h = graft.functions.Portable.md5Hash60Sql("event_type || '|dp1'")
        s"""WITH c AS (
           |  SELECT event_type, count(*) AS n_true FROM events GROUP BY event_type
           |), u AS (
           |  SELECT event_type, n_true,
           |    ((($h) % 999999 + 0.5) / 1000000.0) - 0.5 AS uu
           |  FROM c
           |)
           |SELECT event_type, n_true,
           |  round(n_true + round(-1.0 * sign(uu) * ln(1 - 2 * abs(uu)), 6), 6)
           |    AS n_dp,
           |  CAST(1.0 AS DOUBLE) AS epsilon
           |FROM u ORDER BY event_type""".stripMargin
      },
    ) { (s, dir) =>
      dpCounts(Tables.events(s, dir))
    },

    Q(
      "q_acf",
      "autocorrelation function of the hourly event-count series at " +
        "lags 1–24 — the seasonality diagnostic that tells a pipeline " +
        "whether a daily cycle exists before it fits one (a lag-24 " +
        "peak = daily rhythm; ACF near zero = the trailing-window " +
        "anomaly detectors are safe on raw counts). The series is " +
        "DENSIFIED onto the full hour spine first (missing hours " +
        "count 0 — the q_gap_fill lesson: ACF on a gappy series is " +
        "silently wrong); the centered products run as EXACT " +
        "DECIMAL(38,0)/HUGEINT integers ((x_t·n − S)·(x_{t+k}·n − S) " +
        "— μ never materializes as a float, and the cast lands " +
        "BEFORE the first overflow-able product: the factors scale " +
        "as the total event count, so past ~3e9 events their BIGINT " +
        "product would wrap silently in Spark while DuckDB raises — " +
        "the mannWhitney lesson) so fold order can't drift, and each " +
        "lag's single division is 6dp-rounded. One corpus scan to " +
        "the hour rollup; everything after is bounded by #hours×24 " +
        "(a band self-join of the spine)",
      Some(
        s"""WITH $hourlySeriesSqlCte, ${lagProductsSql(24)}
          |SELECT lag, round(CAST(num AS DOUBLE) / den, 6) AS acf
          |FROM num CROSS JOIN den ORDER BY lag""".stripMargin),
    ) { (s, dir) =>
      val (num, den) = lagProducts(hourlySeries(s, dir), 24)
      num.crossJoin(broadcast(den))
        .select(col("lag"),
          round(col("num").cast("double") / col("den").cast("double"), 6)
            .as("acf"))
        .orderBy("lag")
    },

    Q(
      "q_pacf",
      "partial autocorrelation of the hourly count series at lags " +
        "1–3 via the Durbin-Levinson closed forms — the AR-order " +
        "picker beside q_acf's MA diagnostic (ACF decaying while " +
        "PACF cuts off at p is the textbook AR(p) signature, and " +
        "choosing the anomaly-model lag off raw ACF overfits when " +
        "the series is autoregressive). Lags 1–3 keep the recursion " +
        "CLOSED-FORM: φ11=r1, φ22=(r2−r1²)/(1−r1²), and φ33 from " +
        "the level-2 coefficients — every named intermediate is " +
        "6dp-rounded so both engines walk identical IEEE doubles " +
        "from identical exact-integer ACF numerators (the q_acf " +
        "DECIMAL(38,0)/HUGEINT centered products, band-joined at " +
        "≤3 lags). One corpus scan to the hour rollup; everything " +
        "after is #hours×3-bounded, the final stack is 3 rows",
      Some(pacfSql),
    ) { (s, dir) =>
      pacfOf(hourlySeries(s, dir))
    },

    Q(
      "q_cusum",
      "two-sided CUSUM control chart over the hourly count series — " +
        "the drift detector beside q_changepoint's single " +
        "retrospective split and q_ewma_control's smoothed band " +
        "(CUSUM accumulates small persistent shifts the others " +
        "dilute). The nonlinear recursion S_t = max(0, S_{t−1} + " +
        "x_t − k) is rewritten as the EXACT window identity " +
        "S_t = C_t − min(0, min_{s≤t} C_s) over the cumulative sum " +
        "C of (x − k) — so both sides run plain cumsum + running-min " +
        "windows on exact BIGINTs, no sequential fold anywhere. " +
        "References k are the exact integer ceil/floor of the mean " +
        "((sx+n−1) div n, sx div n); the 5σ threshold is the ONE " +
        "libm sqrt, 6dp-rounded, of a DECIMAL(38,0)-exact variance " +
        "numerator (n·Σx² − (Σx)² wraps BIGINT at web-scale counts " +
        "— the q_acf lesson). One corpus scan to the hour rollup; " +
        "the windows ride the #hours-bounded series",
      Some(cusumSql),
    ) { (s, dir) =>
      cusumOf(hourlySeries(s, dir)).orderBy("t")
    },

    Q(
      "q_hurst",
      "Hurst exponent via rescaled-range (R/S) analysis over the " +
        "hourly series at block sizes 8/16/32 — the LONG-MEMORY " +
        "diagnostic completing the time-series family (ACF/PACF see " +
        "short lags; H > 0.5 means shocks persist across scales, so " +
        "trailing-window anomaly baselines under-forget). Per block " +
        "the cumulative-deviation range folds ENTIRELY in integers: " +
        "deviations scale by w (D_t = w·cumsum − pos·S_b — the mean " +
        "never floats), the w cancels algebraically in R/S = " +
        "range(D)/√(w·Σx²−S²), and the one libm sqrt per block is " +
        "6dp-rounded; zero-variance blocks drop in both engines. " +
        "Per-size R/S means fold as ×1e6 fixed point; the 3-point " +
        "ln-ln slope runs on ×1e6 integer lanes into ONE division. " +
        "One corpus scan to the hour rollup; blocks ride a bounded " +
        "(size, block)-keyed window — at 100 TB the same plan " +
        "handles daily blocks over years",
      Some(
        s"""WITH $hourlySeriesSqlCte, wset AS (
          |  SELECT unnest([8, 16, 32]) AS w
          |), rows0 AS (
          |  SELECT w, t // w AS blk, t, x FROM series CROSS JOIN wset
          |), ba AS (
          |  SELECT w, blk, CAST(count(*) AS BIGINT) AS cnt,
          |    CAST(sum(x) AS BIGINT) AS sb, CAST(sum(x * x) AS BIGINT) AS ssb
          |  FROM rows0 GROUP BY w, blk HAVING count(*) = w
          |), dd AS (
          |  SELECT r.w, r.blk, ba.sb, ba.ssb,
          |    r.w * sum(r.x) OVER (PARTITION BY r.w, r.blk ORDER BY r.t
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    - (row_number() OVER (PARTITION BY r.w, r.blk ORDER BY r.t))
          |      * ba.sb AS d
          |  FROM rows0 r JOIN ba ON ba.w = r.w AND ba.blk = r.blk
          |), rb AS (
          |  SELECT w, blk,
          |    CAST(max(d) - min(d) AS BIGINT) AS rng,
          |    round(sqrt(CAST(w * ssb - sb * sb AS DOUBLE)), 6) AS den
          |  FROM dd GROUP BY w, blk, sb, ssb
          |), rsb AS (
          |  SELECT w, round(CAST(rng AS DOUBLE) / den, 6) AS rs
          |  FROM rb WHERE den > 0
          |), rsw AS (
          |  SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
          |    round(CAST(sum(CAST(round(rs * 1000000) AS BIGINT)) AS DOUBLE)
          |      / 1000000.0 / count(*), 6) AS rs
          |  FROM rsb GROUP BY w
          |), pts AS (
          |  SELECT CAST(round(round(ln(CAST(w AS DOUBLE)), 6) * 1000000)
          |      AS BIGINT) AS lw,
          |    CAST(round(round(ln(rs), 6) * 1000000) AS BIGINT) AS lr
          |  FROM rsw
          |), hh AS (
          |  SELECT CASE WHEN count(*) >= 2 THEN round(
          |    CAST(count(*) * sum(lw * lr) - sum(lw) * sum(lr) AS DOUBLE)
          |    / CAST(count(*) * sum(lw * lw) - sum(lw) * sum(lw) AS DOUBLE),
          |    6) END AS hurst
          |  FROM pts
          |)
          |SELECT w, n_blocks, rs, hurst
          |FROM rsw CROSS JOIN hh ORDER BY w""".stripMargin),
    ) { (s, dir) =>
      hurstOf(hourlySeries(s, dir))
    },

    Q(
      "q_granger",
      "lag-1 Granger causality BOTH directions between the hourly " +
        "total-event and purchase series (does activity lead " +
        "purchases, or the reverse?): F-test of adding the OTHER " +
        "series' lag to an AR(1) of the target — the causal " +
        "time-series face beside q_acf/q_pacf's single-series " +
        "diagnostics and q_cuped's cross-sectional adjustment. Both " +
        "series densify onto ONE shared hour spine (a gap in either " +
        "is a real 0, the q_gap_fill lesson), lags ride one bounded " +
        "window, and each direction's two OLS fits collapse to TEN " +
        "exact-BIGINT moment sums: centered S_ab = n·Σab − Σa·Σb " +
        "products run DECIMAL(38,0) (S·S ~1e24 wraps BIGINT — the " +
        "q_acf lesson), the 2×2 Cramer solve and F are the only " +
        "float steps, every named coefficient 6dp-rounded so both " +
        "engines walk identical doubles. F = (gain)·(n−3)/RSS_u " +
        "with the 1/n scalings cancelled ALGEBRAICALLY, not " +
        "numerically. One corpus scan; everything after is " +
        "#hours-bounded",
      Some(grangerSql),
    ) { (s, dir) =>
      grangerOf(xySeries(s, dir))
    },


    Q(
      "q_holt_winters",
      "Holt linear-trend exponential smoothing over the hourly count " +
        "series (α=0.5, β=0.3) with a 6-hour forecast — the capacity-" +
        "planning / anomaly-baseline forecaster beside q_acf's " +
        "diagnostic. Smoothing is inherently SEQUENTIAL, so the " +
        "corpus collapses to the hour rollup (one scan), the " +
        "#hours-bounded series rides ONE row as a sorted array, and " +
        "the recursion is a single fold over that array — the " +
        "sequential part costs #hours scalar ops on one executor, " +
        "exactly as cheap as it can be (at 100 TB the series is " +
        "still just hours×8 bytes; the scan dominates). Every " +
        "level/trend update is 6dp-rounded and every field " +
        "double-cast, pinning both engines' folds step for step; " +
        "init l₁=x₁, b₁=x₂−x₁ (the standard two-point start)",
      Some(
        // The linear recursion is a RECURSIVE CTE, not a list_reduce
        // lambda: DuckDB evaluates a lambda's struct_pack fields
        // sequentially INTO the accumulator, so a field referencing
        // acc.l after l was assigned silently reads the new value.
        // Literals are e-notation DOUBLEs (a bare 0.5 is DECIMAL).
        s"""WITH RECURSIVE $hourlySeriesSqlCte, x0 AS (
           |  SELECT t, CAST(x AS DOUBLE) AS x FROM series
           |), hw AS (
           |  SELECT CAST(1 AS BIGINT) AS pos,
           |    (SELECT x FROM x0 WHERE t = 0) AS l,
           |    (SELECT x FROM x0 WHERE t = 1)
           |      - (SELECT x FROM x0 WHERE t = 0) AS b
           |  UNION ALL
           |  SELECT hw.pos + 1,
           |    round(5e-1 * x0.x + 5e-1 * (hw.l + hw.b), 6),
           |    round(3e-1 * (round(5e-1 * x0.x + 5e-1 * (hw.l + hw.b), 6)
           |        - hw.l) + 7e-1 * hw.b, 6)
           |  FROM hw JOIN x0 ON x0.t = hw.pos + 1
           |), fin AS (
           |  SELECT l, b FROM hw ORDER BY pos DESC LIMIT 1
           |)
           |SELECT CAST(h AS BIGINT) AS horizon,
           |  round(l + h * b, 6) AS forecast
           |FROM fin, unnest(range(1, 7)) AS u(h)
           |ORDER BY horizon""".stripMargin),
    ) { (s, dir) =>
      val xs = hourlySeries(s, dir)
        .agg(expr(
          "transform(array_sort(collect_list(struct(t, x))), p -> CAST(p.x AS DOUBLE))")
          .as("xs"))
      val fin = xs.select(expr(
        """aggregate(
          |  slice(xs, 3, size(xs) - 2),
          |  named_struct('l', element_at(xs, 1),
          |               'b', element_at(xs, 2) - element_at(xs, 1)),
          |  (acc, v) -> named_struct(
          |    'l', CAST(round(0.5D * v + 0.5D * (acc.l + acc.b), 6) AS DOUBLE),
          |    'b', CAST(round(0.3D * (round(0.5D * v
          |           + 0.5D * (acc.l + acc.b), 6) - acc.l)
          |         + 0.7D * acc.b, 6) AS DOUBLE)))""".stripMargin).as("fin"))
      fin.select(explode(sequence(lit(1L), lit(6L))).as("horizon"),
          col("fin.l").as("l"), col("fin.b").as("b"))
        .select(col("horizon"),
          round(col("l") + col("horizon") * col("b"), 6).as("forecast"))
        .orderBy("horizon")
    },

    Q(
      "q_model_auc",
      "exact ROC-AUC of a churn score, computed distributively as " +
        "the Mann-Whitney rank-sum — the model-eval primitive beside " +
        "q_next_item_eval's hit rate: label = the staler-than-median " +
        "half of users (a deterministic stand-in label, the " +
        "q_span_mask precedent — a fixed no-activity-in-7-days rule " +
        "degenerates to one class on uniformly-active synthetic " +
        "users; the AUC machinery is the content), score = pinned " +
        "linear model on (recency, frequency); AUC = P(score_pos > score_neg) + ½P(=). The " +
        "scalable formulation NEVER ranks users globally: users " +
        "collapse to the DISTINCT-SCORE rollup (the q_skyline " +
        "bounded-rollup-window pattern; distinct scores ≤ distinct " +
        "(r_days, f) pairs — bounded HERE, near-#users at 100 TB, " +
        "which is why q_model_auc_binned exists: the SAME tail over " +
        "a B-bin quantization, the twin a web-scale run points at), " +
        "the cumulative-negative " +
        "window runs over that rollup only, and U folds in exact ×2 " +
        "BIGINT fixed point (U2 = Σ np_s·(2·cumneg_below + nn_s)), " +
        "so tie handling is exact and fold order can't drift the " +
        "one final 6dp division. Positive-class recency is IN the " +
        "score by construction — AUC far above 0.5 is the expected " +
        "sanity reading, spec-pinned. The unpartitioned cumulative " +
        "window is the VALUE-DOMAIN WINDOW CLASS (one shared argument " +
        "— EventsOps scaladoc): input = a bounded distinct-value " +
        "rollup, never rows; the binned twin is the continuous-" +
        "domain escape hatch",
      Some(
        s"""WITH $churnLabSqlCte, byk AS (
           |  SELECT score AS k,
           |    CAST(sum(churned) AS BIGINT) AS np_s,
           |    CAST(sum(1 - churned) AS BIGINT) AS nn_s
           |  FROM lab GROUP BY score
           |), $aucTailSqlCte
           |SELECT np + nn AS n_users, np AS n_pos, nn AS n_neg,
           |  round(CAST(u2 AS DOUBLE) / (2.0 * np * nn), 6) AS auc
           |FROM u""".stripMargin),
    ) { (s, dir) =>
      val byk = churnScored(s, dir)
        .groupBy(col("score").as("k"))
        .agg(sum(col("churned")).as("np_s"),
          sum(lit(1L) - col("churned")).as("nn_s"))
      aucTail(byk)
        .select((col("np") + col("nn")).as("n_users"),
          col("np").as("n_pos"), col("nn").as("n_neg"),
          round(col("u2").cast("double") / (lit(2.0) * col("np") * col("nn")),
            6).as("auc"))
    },

    Q(
      "q_model_auc_binned",
      s"B-BINNED ROC-AUC ($AucBins equi-width score bins; " +
        "modelAucBinned(bins) is the call-site-parameterized builder " +
        "— any B, oracle clause derived from the same argument — and " +
        "this row registers the B=8 instance) — " +
        "q_model_auc's rank-resolution knob made real code: the same " +
        "churn labels and Mann-Whitney U tail, but users first " +
        "quantize onto a B-bin grid over [min score, max score], so " +
        "the SinglePartition cumulative window's input is PROVABLY " +
        "≤ B rows no matter how continuous the score domain is — the " +
        "standard distributed-AUC construction (the exact twin's " +
        "distinct-score rollup is near-#users when scores are " +
        "continuous). Binning is EXACT BIGINT arithmetic on the ×1e6 " +
        "integer score (both engines splice the same clause — no " +
        "float bin edge can drift), the bounds agg is one broadcast " +
        "1-row frame, and |AUC_B − AUC_exact| ≤ ½·(same-bin pos·neg " +
        "pair mass)/(np·nn) — the bin-width bound AucBinnedSpec " +
        "verifies against the exact twin, alongside the ≤ B plan pin. " +
        "n_bins ≤ B rides out as the occupancy diagnostic",
      Some(modelAucBinnedSql(AucBins)),
    ) { (s, dir) => modelAucBinned(s, dir, AucBins) },

    Q(
      "q_debounce",
      "time-windowed event debounce: a (user, type) event is NOISE if " +
        "the same key fired within the preceding 5 minutes — the " +
        "telemetry dedup for double-clicks, retry storms and SDK " +
        "re-sends, which exact dedup can't express (the repeats have " +
        "distinct ids and timestamps) and which " +
        "dropDuplicatesWithinWatermark handles on streams; this is " +
        "its BATCH face over history. One (user,type)-keyed window " +
        "pass (lag), the gap test an exact BIGINT µs comparison; " +
        "the rollup is #types-bounded with kept-ratio as one 6dp " +
        "division. Note the lag rule keeps a burst's FIRST event and " +
        "re-admits the key once any 5-minute silence passes — the " +
        "standard debounce, not a tumbling-window distinct; " +
        "q_stream_debounce is the stateful streaming face, sharing " +
        "this oracle verbatim",
      Some(debounceSql),
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val kept = when(col("gap_us").isNull
        || col("gap_us") >= 300000000L, 1L).otherwise(0L)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(kept).as("n_kept"),
          round(sum(kept).cast("double") / count(lit(1)), 6).as("kept_ratio"))
        .orderBy("event_type")
    },

    Q(
      "q_kanon_generalize",
      "k-anonymity GENERALIZATION search over the numeric " +
        "quasi-identifier pair (r_days, f): for every power-of-two " +
        "bucket width w ∈ {1..1024} the users re-group on the " +
        "coarsened pair (r_days div w, f div w) and the MINIMAL w " +
        "achieving min-group ≥ k is flagged `chosen` — the " +
        "mechanism a release pipeline runs when q_kanon_audit says " +
        "suppression would cost too many rows (generalize, don't " +
        "drop). Powers of two make the grids NESTED (div 2w = " +
        "div w then div 2), so min group size is provably " +
        "non-decreasing and group count non-increasing in w — the " +
        "monotonicity the spec pins — and ALL 11 candidate widths " +
        "evaluate in ONE pass: a map-side ×11 explode, one " +
        "(w, gr, gf)-keyed agg (bounded by 11× the QI domain), an " +
        "11-row width rollup, and the chosen-flag window over those " +
        "11 rows. No driver-side search loop — the whole ladder is " +
        "one declarative plan; k shares its owner with q_kanon_audit",
      Some {
        val k = graft.operators.TextOps.KAnonK
        s"""WITH $churnLabSqlCte, wid AS (
           |  SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024]) AS w
           |), g AS (
           |  SELECT w, r_days // w AS gr, f // w AS gf, count(*) AS n
           |  FROM per CROSS JOIN wid GROUP BY w, gr, gf
           |), bw AS (
           |  SELECT w, CAST(count(*) AS BIGINT) AS n_groups,
           |    CAST(min(n) AS BIGINT) AS min_group,
           |    CASE WHEN min(n) >= $k THEN CAST(1 AS BIGINT)
           |      ELSE CAST(0 AS BIGINT) END AS k_anonymous
           |  FROM g GROUP BY w
           |), c AS (
           |  SELECT w, n_groups, min_group, k_anonymous,
           |    CAST(coalesce(sum(k_anonymous) OVER (ORDER BY w
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS prior
           |  FROM bw
           |)
           |SELECT CAST(w AS BIGINT) AS w, n_groups, min_group, k_anonymous,
           |  CASE WHEN k_anonymous = 1 AND prior = 0 THEN CAST(1 AS BIGINT)
           |    ELSE CAST(0 AS BIGINT) END AS chosen
           |FROM c ORDER BY w""".stripMargin
      },
    ) { (s, dir) =>
      val k = graft.operators.TextOps.KAnonK
      val widths = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L)
      val per = userRecencyFreq(s, dir)
      val bw = per
        .select(explode(array(widths.map(lit): _*)).as("w"),
          col("r_days"), col("f"))
        .select(col("w"), expr("r_days div w").as("gr"),
          expr("f div w").as("gf"))
        .groupBy("w", "gr", "gf").agg(count(lit(1)).as("n"))
        .groupBy("w")
        .agg(count(lit(1)).as("n_groups"), min(col("n")).as("min_group"))
        .withColumn("k_anonymous",
          when(col("min_group") >= k, 1L).otherwise(0L))
      val wc = Window.orderBy("w")
        .rowsBetween(Window.unboundedPreceding, -1)
      bw.withColumn("prior",
        coalesce(sum(col("k_anonymous")).over(wc), lit(0L)))
        .select(col("w"), col("n_groups"), col("min_group"),
          col("k_anonymous"),
          when(col("k_anonymous") === 1L && col("prior") === 0L, 1L)
            .otherwise(0L).as("chosen"))
        .orderBy("w")
    },

    Q(
      "q_moments",
      "mergeable MOMENT SKETCH per event type: n, mean, stddev, " +
        "skewness, excess kurtosis — distribution-shape monitoring " +
        "(a value pipeline whose skew flips sign or whose kurtosis " +
        "explodes changed its tail behavior long before the mean " +
        "moves; q_events_zscore and q_mad_outliers flag POINTS, this " +
        "flags the DISTRIBUTION). The distributed part is power sums " +
        "of the ×100 fixed-point value — n, Σc..Σc⁴ — EXACT and " +
        "purely ADDITIVE (BIGINT through c³, DECIMAL(38,0)/HUGEINT " +
        "for c⁴: a 5-digit cent value overflows BIGINT at the 4th " +
        "power), so partials merge associatively and order-free " +
        "across partitions, micro-batches, or days of persisted " +
        "history — the q_agg_incremental/q_hll_partials mergeable-" +
        "state story for higher moments, and map-side partial agg " +
        "collapses each partition to #types rows before the one " +
        "shuffle (plan-pinned). Scalar finishing is per-GROUP bounded " +
        "arithmetic from the exact sums, its expression text mirrored " +
        "token-for-token in the oracle (identical IEEE trees; " +
        "m2^1.5 as m2·sqrt(m2) — sqrt is correctly-rounded IEEE " +
        "where libm pow is not), 6dp-rounded. Degenerate zero-" +
        "variance groups surface null shape stats, never NaN. " +
        "q_stream_moments is the streaming face, sharing this oracle " +
        "verbatim",
      Some(momentsSql),
    ) { (s, dir) =>
      momentFinish(momentSums(Tables.events(s, dir)))
    },

    Q(
      "q_bootstrap_ci",
      "Poisson-bootstrap 95% confidence interval for the mean event " +
        "value (B=32 replicas): each (event, replica) draws a " +
        "Poisson(1) weight — THE distributed bootstrap: classical " +
        "resampling needs the whole dataset per replica, the Poisson " +
        "approximation needs one pass with B counters, which is why " +
        "it's what production systems ship. Draws are deterministic " +
        "md5-seeded uniforms through the Poisson inverse CDF (k " +
        "capped at 4, ~1.9% tail mass — documented approximation; " +
        "the q_dp_counts stand-in precedent), replica sums fold in " +
        "exact cent fixed point, and the CI is an exact interpolated " +
        "percentile over the 32-BOUNDED replica means. The ×32 " +
        "explode is map-side and partial aggregation collapses it to " +
        "B rows per partition before any shuffle",
      Some {
        val h = graft.functions.Portable
          .md5Hash60Sql("CAST(event_id AS VARCHAR) || '|' || CAST(b AS VARCHAR)")
        s"""WITH draws AS (
           |  SELECT e.value, u.b,
           |    ($h) / 1152921504606846976.0 AS uu
           |  FROM events e CROSS JOIN (SELECT unnest(range(32)) AS b) u
           |), wts AS (
           |  SELECT value, b,
           |    CASE WHEN uu < 0.367879 THEN 0
           |         WHEN uu < 0.735759 THEN 1
           |         WHEN uu < 0.919699 THEN 2
           |         WHEN uu < 0.981012 THEN 3
           |         ELSE 4 END AS w
           |  FROM draws
           |), reps AS (
           |  SELECT b,
           |    round(CAST(sum(w * CAST(round(value * 100) AS BIGINT))
           |      AS DOUBLE) / 100.0 / sum(w), 6) AS mean_b
           |  FROM wts GROUP BY b
           |), pt AS (
           |  SELECT round(CAST(sum(CAST(round(value * 100) AS BIGINT))
           |    AS DOUBLE) / 100.0 / count(*), 6) AS mean_value
           |  FROM events
           |)
           |SELECT pt.mean_value,
           |  round(quantile_cont(mean_b, 0.025), 6) AS ci_lo,
           |  round(quantile_cont(mean_b, 0.975), 6) AS ci_hi,
           |  CAST(32 AS BIGINT) AS n_replicas
           |FROM reps CROSS JOIN pt
           |GROUP BY pt.mean_value""".stripMargin
      },
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "value")
      val draws = ev.select(col("event_id"), col("value"),
        explode(sequence(lit(0), lit(31))).as("b"))
        .select(col("value"), col("b"),
          (graft.functions.Portable.md5Hash60(
            concat(col("event_id").cast("string"), lit("|"),
              col("b").cast("string"))) / lit(1152921504606846976.0)).as("uu"))
      val wts = draws.select(col("value"), col("b"),
        when(col("uu") < 0.367879, 0L).when(col("uu") < 0.735759, 1L)
          .when(col("uu") < 0.919699, 2L).when(col("uu") < 0.981012, 3L)
          .otherwise(4L).as("w"))
      val reps = wts.groupBy("b")
        .agg(round((sum(col("w") * round(col("value") * 100, 0).cast("long"))
          .cast("double") / 100.0) / sum(col("w")), 6).as("mean_b"))
      val pt = ev.agg(round((sum(round(col("value") * 100, 0).cast("long"))
        .cast("double") / 100.0) / count(lit(1)), 6).as("mean_value"))
      reps.crossJoin(broadcast(pt))
        .groupBy("mean_value")
        .agg(round(expr("percentile(mean_b, 0.025)"), 6).as("ci_lo"),
          round(expr("percentile(mean_b, 0.975)"), 6).as("ci_hi"),
          lit(32L).as("n_replicas"))
        .select("mean_value", "ci_lo", "ci_hi", "n_replicas")
    },

    Q(
      "q_survival_km",
      "Kaplan-Meier survival over user lifetimes (days from first to " +
        "last activity; users active within 2 days of the corpus " +
        "edge are CENSORED — the estimator's whole point is using " +
        "them without pretending they died): S(t) = Π_{t'≤t} " +
        "(1 − d/n) over death times — retention analysis done right, " +
        "where q_events_retention's fixed-day grid undercounts " +
        "users still alive. Users collapse to the (lifetime, " +
        "censored) rollup; risk sets come from one descending " +
        "cumulative window over that BOUNDED rollup; the product " +
        "folds as exp of an exact ×1e6 fixed-point ln-sum of " +
        "6dp-rounded factors (zero factors short-circuit to S=0 via " +
        "a cumulative flag — ln(0) never evaluates). Output: death " +
        "times with risk set, deaths, and survival",
      Some(
        """WITH anchor AS (
          |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS a_us FROM events
          |), per AS (
          |  SELECT user_id,
          |    (max(epoch_us(CAST(ts AS TIMESTAMP)))
          |      - min(epoch_us(CAST(ts AS TIMESTAMP)))) // 86400000000 AS lt,
          |    CASE WHEN a_us - max(epoch_us(CAST(ts AS TIMESTAMP)))
          |      < 2 * 86400000000 THEN 1 ELSE 0 END AS censored
          |  FROM events CROSS JOIN anchor GROUP BY user_id, a_us
          |), ru AS (
          |  SELECT lt, CAST(sum(1 - censored) AS BIGINT) AS d,
          |    CAST(sum(censored) AS BIGINT) AS c
          |  FROM per GROUP BY lt
          |), risk AS (
          |  SELECT lt, d,
          |    CAST(sum(d + c) OVER (ORDER BY lt DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS n
          |  FROM ru
          |), fct AS (
          |  SELECT lt, d, n,
          |    round(1.0 - CAST(d AS DOUBLE) / n, 6) AS f6
          |  FROM risk WHERE d > 0
          |), cumf AS (
          |  SELECT lt, d, n,
          |    max(CASE WHEN f6 <= 0 THEN 1 ELSE 0 END) OVER (ORDER BY lt
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zflag,
          |    sum(CASE WHEN f6 > 0
          |      THEN CAST(round(ln(f6) * 1000000) AS BIGINT) END)
          |      OVER (ORDER BY lt
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
          |  FROM fct
          |)
          |SELECT lt AS t_days, n AS n_risk, d AS n_deaths,
          |  CASE WHEN zflag = 1 THEN 0.0
          |    ELSE round(exp(lnsum / 1000000.0), 6) END AS survival
          |FROM cumf ORDER BY t_days""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val anchor = ev.agg(max(unix_micros(col("ts"))).as("a_us"))
      val per = ev.groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
        .crossJoin(broadcast(anchor))
        .select(expr("(last_us - first_us) div 86400000000").as("lt"),
          when(col("a_us") - col("last_us") < 2L * 86400000000L, 1L)
            .otherwise(0L).as("censored"))
      kmCurve(per).orderBy("t_days")
    },

    Q(
      "q_logrank",
      "two-cohort log-rank test over the q_survival_km lifetimes, " +
        "arms split by the q_ab_test deterministic md5(user_id) hash " +
        "— the experiment readout when the metric is TIME-TO-CHURN, " +
        "not a rate: at every death time the A-arm's observed deaths " +
        "are compared to the hypergeometric expectation d·nA/n given " +
        "the pooled risk set, and χ² = (ΣO−ΣE)²/ΣV. Censoring is " +
        "handled exactly as the KM row does (corpus-edge users enter " +
        "risk sets but never die — a naive rate comparison would " +
        "count them as churned). Users collapse to the (arm, " +
        "lifetime, censored) rollup; per-arm risk sets are two " +
        "descending cumulative windows over the BOUNDED lifetime " +
        "rollup; per-time e/v terms divide DECIMAL(38,0)-exact " +
        "integer products (d·nA·nB·(n−d) overflows BIGINT at ~1e5 " +
        "users — the q_acf lesson, cast BEFORE the product) and " +
        "accumulate as 6dp ×1e6 fixed-point BIGINTs so fold order " +
        "can't drift either engine. The null result on the uniform " +
        "hash split is itself the correctness check",
      Some {
        s"""WITH anchor AS (
           |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS a_us FROM events
           |), per AS (
           |  SELECT user_id,
           |    CASE WHEN ${Arms.Md5Sql} = 0 THEN 1 ELSE 0 END AS is_a,
           |    (max(epoch_us(CAST(ts AS TIMESTAMP)))
           |      - min(epoch_us(CAST(ts AS TIMESTAMP)))) // 86400000000 AS lt,
           |    CASE WHEN a_us - max(epoch_us(CAST(ts AS TIMESTAMP)))
           |      < 2 * 86400000000 THEN 1 ELSE 0 END AS censored
           |  FROM events CROSS JOIN anchor GROUP BY user_id, a_us
           |), ru AS (
           |  SELECT lt,
           |    CAST(sum(is_a * (1 - censored)) AS BIGINT) AS da,
           |    CAST(sum(is_a * censored) AS BIGINT) AS ca,
           |    CAST(sum((1 - is_a) * (1 - censored)) AS BIGINT) AS db,
           |    CAST(sum((1 - is_a) * censored) AS BIGINT) AS cb
           |  FROM per GROUP BY lt
           |), risk AS (
           |  SELECT lt, da, db,
           |    CAST(sum(da + ca) OVER (ORDER BY lt DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS na,
           |    CAST(sum(db + cb) OVER (ORDER BY lt DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS nb
           |  FROM ru
           |), terms AS (
           |  SELECT da, da + db AS d, na, nb, na + nb AS n,
           |    round(CAST(CAST(da + db AS HUGEINT) * na AS DOUBLE)
           |      / (na + nb), 6) AS e_t,
           |    CASE WHEN na + nb > 1 THEN
           |      round(CAST(CAST(da + db AS HUGEINT) * na * nb
           |          * (na + nb - (da + db)) AS DOUBLE)
           |        / CAST(CAST(na + nb AS HUGEINT) * (na + nb)
           |          * (na + nb - 1) AS DOUBLE), 6)
           |    ELSE 0.0 END AS v_t
           |  FROM risk WHERE da + db > 0
           |), agg AS (
           |  SELECT CAST(sum(da) AS BIGINT) AS o_a,
           |    CAST(sum(CAST(round(e_t * 1000000) AS BIGINT)) AS DOUBLE)
           |      / 1000000.0 AS e_a,
           |    CAST(sum(CAST(round(v_t * 1000000) AS BIGINT)) AS DOUBLE)
           |      / 1000000.0 AS v
           |  FROM terms
           |)
           |SELECT o_a, round(e_a, 6) AS e_a, round(v, 6) AS v,
           |  round((o_a - e_a) * (o_a - e_a) / v, 6) AS chi2,
           |  CAST(round((o_a - e_a) * (o_a - e_a) / v, 6) > 3.841 AS BIGINT)
           |    AS significant
           |FROM agg""".stripMargin
      },
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val anchor = ev.agg(max(unix_micros(col("ts"))).as("a_us"))
      val isA = when(Arms.md5 === 0, 1L).otherwise(0L)
      val per = ev.groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
        .crossJoin(broadcast(anchor))
        .select(isA.as("is_a"),
          expr("(last_us - first_us) div 86400000000").as("lt"),
          when(col("a_us") - col("last_us") < 2L * 86400000000L, 1L)
            .otherwise(0L).as("censored"))
      logrankOf(per)
    },

    Q(
      "q_calibration",
      "reliability diagram + expected calibration error for the " +
        "churn model: the q_model_auc score, z-scored against " +
        "broadcast 1-row corpus moments (so the probabilities SPREAD " +
        "at any SF) and squashed through a 6dp sigmoid, becomes a " +
        "probability, users bucket into 10 fixed-width " +
        "probability bins, and each bin reports predicted confidence " +
        "vs observed rate — AUC says the model RANKS well; " +
        "calibration says whether 0.8 MEANS 80%, and production " +
        "thresholds are set off this table. One user-bounded agg to " +
        "features, per-row sigmoid+bin, then a 10-bounded rollup; " +
        "conf/acc are 6dp-rounded exact ratios and ECE folds " +
        "Σ n_b·|acc−conf| in exact ×1e6 BIGINT before its one " +
        "division — bin fold order can't drift it",
      Some(
        """WITH anchor AS (
          |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS a_us FROM events
          |), per AS (
          |  SELECT user_id,
          |    (a_us - max(epoch_us(CAST(ts AS TIMESTAMP)))) // 86400000000
          |      AS r_days,
          |    count(*) AS f
          |  FROM events CROSS JOIN anchor GROUP BY user_id, a_us
          |), med AS (
          |  SELECT quantile_cont(CAST(r_days AS DOUBLE), 0.5) AS m FROM per
          |), raw AS (
          |  SELECT r_days, round(0.1 * r_days - 0.05 * f, 6) AS x
          |  FROM per
          |), stz AS (
          |  SELECT round(CAST(sum(CAST(round(x * 1000000) AS BIGINT))
          |      AS DOUBLE) / 1000000.0 / count(*), 6) AS mu,
          |    round(sqrt(
          |      CAST(sum(CAST(round(x * x * 1000000) AS BIGINT)) AS DOUBLE)
          |        / 1000000.0 / count(*)
          |      - pow(CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
          |          / 1000000.0 / count(*), 2)), 6) AS sd
          |  FROM raw
          |), lab AS (
          |  SELECT CASE WHEN r_days > m THEN 1 ELSE 0 END AS churned,
          |    round(1.0 / (1.0 + exp(-round((x - mu) / sd, 6))), 6) AS p
          |  FROM raw CROSS JOIN med CROSS JOIN stz
          |), bins AS (
          |  SELECT least(9, CAST(floor(p * 10) AS BIGINT)) AS bin,
          |    CAST(count(*) AS BIGINT) AS n,
          |    CAST((2 * sum(CAST(round(p * 1000000) AS BIGINT)) + count(*))
          |      // (2 * count(*)) AS DOUBLE) / 1000000.0 AS conf,
          |    CAST((2 * 1000000 * sum(churned) + count(*))
          |      // (2 * count(*)) AS DOUBLE) / 1000000.0 AS acc
          |  FROM lab GROUP BY 1
          |), tot AS (
          |  SELECT round(CAST(sum(CAST(round(abs(acc - conf) * 1000000)
          |      AS BIGINT) * n) AS DOUBLE)
          |    / 1000000.0 / sum(n), 6) AS ece
          |  FROM bins
          |)
          |SELECT bin, n, conf, acc, ece
          |FROM bins CROSS JOIN tot ORDER BY bin""".stripMargin),
    ) { (s, dir) =>
      val per = userRecencyFreq(s, dir)
      val med = per.agg(expr("percentile(CAST(r_days AS DOUBLE), 0.5)").as("m"))
      val raw = per.select(col("r_days"),
        round(lit(0.1) * col("r_days") - lit(0.05) * col("f"), 6).as("x"))
      val x6sum = sum(round(col("x") * 1000000, 0).cast("long")).cast("double")
      val stz = raw.agg(
        round(x6sum / 1000000.0 / count(lit(1)), 6).as("mu"),
        round(sqrt(
          sum(round(col("x") * col("x") * 1000000, 0).cast("long"))
            .cast("double") / 1000000.0 / count(lit(1))
            - pow(x6sum / 1000000.0 / count(lit(1)), 2)), 6).as("sd"))
      val lab = raw.crossJoin(broadcast(med)).crossJoin(broadcast(stz))
        .select(
          when(col("r_days") > col("m"), 1L).otherwise(0L).as("churned"),
          round(lit(1.0) / (lit(1.0)
            + exp(-round((col("x") - col("mu")) / col("sd"), 6))), 6).as("p"))
      val bins = lab
        .groupBy(least(lit(9), floor(col("p") * 10)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          // half-up nearest-integer of sum6/n in EXACT arithmetic:
          // (2·sum6 + n) div (2n) — a double quotient landing a hair
          // under an x.5 boundary rounds differently per engine
          (expr("(2 * sum(CAST(round(p * 1000000) AS BIGINT)) + count(1)) div (2 * count(1))")
            .cast("double") / 1000000.0).as("conf"),
          (expr("(2 * 1000000 * sum(churned) + count(1)) div (2 * count(1))")
            .cast("double") / 1000000.0).as("acc"))
        .localCheckpoint() // read twice: ECE fold + output rows
      val tot = bins.agg(
        round((sum(round(abs(col("acc") - col("conf")) * 1000000, 0)
          .cast("long") * col("n")).cast("double") / 1000000.0) / sum(col("n")),
          6).as("ece"))
      bins.crossJoin(broadcast(tot)).orderBy("bin")
    },

    Q(
      "q_gini_activity",
      "activity-concentration readout: Gini coefficient and " +
        "top-decile share of per-user event counts — the statistical " +
        "twin of q_skew_diagnose's hot-key table (a Gini near 0.5+ " +
        "says per-user partitions WILL skew and the salting " +
        "machinery earns its keep). Scalably rank-free: users " +
        "collapse to the DISTINCT-COUNT rollup (n, users-with-n; " +
        "worst case every count distinct — q_gini_activity_binned is " +
        "the B-bin twin whose rollup is bounded by construction, the " +
        "one a 100 TB run points at); a " +
        "group spanning ranks [c+1, c+u] contributes n·(u·c + " +
        "u(u+1)/2) to the rank-weighted sum — ALL integer " +
        "arithmetic, the window runs over the bounded rollup only " +
        "(the q_model_auc pattern), and Gini's one division is " +
        "6dp-rounded. Top-decile share slices the same cumulative " +
        "frame at rank ceil(0.9·N) with integer partial-group " +
        "arithmetic. The unpartitioned cumulative window is the " +
        "VALUE-DOMAIN WINDOW CLASS (EventsOps scaladoc): input = the " +
        "bounded distinct-count rollup, never users; the binned twin " +
        "is the unbounded-domain escape hatch",
      Some(
        """WITH per AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY user_id
          |), rollup1 AS (
          |  SELECT n, CAST(count(*) AS BIGINT) AS u FROM per GROUP BY n
          |), cum AS (
          |  SELECT n, u,
          |    CAST(coalesce(sum(u) OVER (ORDER BY n
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS c
          |  FROM rollup1
          |), st AS (
          |  SELECT CAST(sum(u) AS BIGINT) AS nu,
          |    CAST(sum(n * u) AS BIGINT) AS t,
          |    CAST(sum(n * (u * c + u * (u + 1) // 2)) AS BIGINT) AS s
          |  FROM cum
          |), topd AS (
          |  SELECT CAST(sum(n * greatest(0,
          |    least(c + u, st.nu) - greatest(c, st.nu - (st.nu // 10))))
          |    AS BIGINT) AS top_events
          |  FROM cum CROSS JOIN st
          |)
          |SELECT st.nu AS n_users, st.t AS total_events,
          |  round(2.0 * st.s / (CAST(st.nu AS DOUBLE) * st.t)
          |    - (st.nu + 1.0) / st.nu, 6) AS gini,
          |  round(CAST(topd.top_events AS DOUBLE) / st.t, 6)
          |    AS top_decile_share
          |FROM st CROSS JOIN topd""".stripMargin),
    ) { (s, dir) =>
      val per = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val roll = per.groupBy("n").agg(count(lit(1)).as("u"))
      val wc = Window.orderBy("n")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = roll
        .withColumn("c", coalesce(sum(col("u")).over(wc), lit(0L)))
        .localCheckpoint() // read twice: stats + top-decile slice
      val st = cum.agg(sum(col("u")).as("nu"),
        sum(col("n") * col("u")).as("t"),
        sum(col("n") * (col("u") * col("c")
          + expr("u * (u + 1) div 2"))).as("s"))
      val topd = cum.crossJoin(broadcast(st))
        .agg(sum(col("n") * greatest(lit(0L),
          least(col("c") + col("u"), col("nu"))
            - greatest(col("c"), col("nu") - expr("nu div 10"))))
          .as("top_events"))
      st.crossJoin(broadcast(topd))
        .select(col("nu").as("n_users"), col("t").as("total_events"),
          round(lit(2.0) * col("s") / (col("nu").cast("double") * col("t"))
            - (col("nu") + lit(1.0)) / col("nu"), 6).as("gini"),
          round(col("top_events").cast("double") / col("t"), 6)
            .as("top_decile_share"))
    },

    Q(
      "q_gini_activity_binned",
      s"B-BINNED Gini ($GiniBins equi-width count bins; " +
        "giniBinned(bins) is the call-site-parameterized builder — " +
        "any B, oracle clause from the same argument — and this row " +
        "registers the B=8 instance) — " +
        "q_gini_activity's resolution knob made real code: per-user " +
        "counts first quantize onto a B-bin grid over [1, max count] " +
        "in EXACT integer arithmetic (bin = (n−1)·B div nmax, " +
        "clamped), so the cumulative-rank window's input is PROVABLY " +
        "≤ B rows however many distinct counts exist. Each bin's " +
        "users are treated as equal at the bin's mean (the standard " +
        "grouped-Gini construction: a bin with u users, t events and " +
        "c users below contributes t·c + t·(u+1)/2 to the rank sum — " +
        "carried ×2 as BIGINT so half-integers stay exact), which is " +
        "a mean-preserving contraction: G_binned ≤ G_exact ALWAYS, " +
        "the direction AucBinnedSpec pins alongside the ≤ B bound. " +
        "One corpus scan to per-user counts, one broadcast 1-row max, " +
        "one B-bounded rollup — nothing in the plan grows with the " +
        "count domain",
      Some(giniBinnedSql(GiniBins)),
    ) { (s, dir) => giniBinned(s, dir, GiniBins) },

    Q(
      "q_changepoint",
      "single change-point detection on the hourly count series " +
        "(binary segmentation / CUSUM form): the split k maximizing " +
        "the between-segment statistic F_k = (L_k·n − k·S)² / " +
        "(k·(n−k)) — the level-shift detector monitoring runs when " +
        "q_stl_seasonal's per-hour residuals page but the real story " +
        "is a regime change (deploy, outage, traffic migration), " +
        "not an outlier. One corpus scan to the hour rollup, one " +
        "cumulative window over the #hours-bounded series, and every " +
        "F numerator/denominator is EXACT BIGINT (DECIMAL(38) at " +
        "extreme scale — documented) with the one division " +
        "6dp-rounded before the argmax heap (ties to the earlier " +
        "hour). Output: the split hour, both segment means, and the " +
        "statistic",
      Some(
        s"""WITH $hourlySeriesSqlCte, cum AS (
           |  SELECT t, x,
           |    CAST(sum(x) OVER (ORDER BY t
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS lsum
           |  FROM series
           |), st AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
           |  FROM series
           |), scoredk AS (
           |  SELECT t + 1 AS k, lsum, n, s,
           |    round(CAST((lsum * n - (t + 1) * s) * (lsum * n - (t + 1) * s)
           |        AS DOUBLE) / ((t + 1) * (n - t - 1)), 6) AS f
           |  FROM cum CROSS JOIN st WHERE t + 1 < n
           |)
           |SELECT k AS split_hour,
           |  round(CAST(lsum AS DOUBLE) / k, 6) AS mean_left,
           |  round(CAST(s - lsum AS DOUBLE) / (n - k), 6) AS mean_right,
           |  f AS f_stat
           |FROM scoredk ORDER BY f DESC, k LIMIT 1""".stripMargin),
    ) { (s, dir) =>
      changepointOf(hourlySeries(s, dir))
    },

    Q(
      "q_stl_seasonal",
      "seasonal decomposition of the hourly series (STL-lite): the " +
        "hour-of-day profile (24-bounded means, the daily cycle " +
        "q_acf diagnoses) is the SEASONAL component; residual = " +
        "count − seasonal; the 5 most extreme hours come back with " +
        "a |residual| > 3σ anomaly flag — catching what " +
        "q_events_anomaly's trailing window structurally can't: a " +
        "quiet-hour spike that stays below the round-the-clock " +
        "average. One corpus scan to the hour rollup; the seasonal " +
        "profile and σ are bounded aggs broadcast back; seasonal " +
        "means and σ are 6dp-rounded at their division/sqrt " +
        "boundaries and σ's variance folds in exact ×1e6 fixed " +
        "point, so parallel sums can't drift the flag; top-5 is a " +
        "TakeOrdered heap on (|residual|, t)",
      Some(
        s"""WITH $hourlySeriesSqlCte, prof AS (
           |  SELECT t % 24 AS hod,
           |    round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS seasonal
           |  FROM series GROUP BY t % 24
           |), resid AS (
           |  SELECT s.t, s.x, p.seasonal, s.x - p.seasonal AS r
           |  FROM series s JOIN prof p ON s.t % 24 = p.hod
           |), sigma AS (
           |  SELECT round(sqrt(
           |    CAST(sum(CAST(round(r * r * 1000000) AS BIGINT)) AS DOUBLE)
           |      / 1000000.0 / count(*)), 6) AS sig
           |  FROM resid
           |)
           |SELECT t, x, seasonal, round(r, 6) AS residual,
           |  CAST(abs(r) > 3 * sig AS BIGINT) AS is_anomaly
           |FROM resid CROSS JOIN sigma
           |ORDER BY abs(round(r, 6)) DESC, t LIMIT 5""".stripMargin),
    ) { (s, dir) =>
      val series = hourlySeries(s, dir)
      val prof = series.groupBy((col("t") % 24).as("hod"))
        .agg(round(sum(col("x")).cast("double") / count(lit(1)), 6)
          .as("seasonal"))
      val resid = series.join(broadcast(prof), col("t") % 24 === col("hod"))
        .select(col("t"), col("x"), col("seasonal"),
          (col("x") - col("seasonal")).as("r"))
        .localCheckpoint() // read twice: sigma + ranking
      val sigma = resid.agg(round(sqrt(
        sum(round(col("r") * col("r") * 1000000, 0).cast("long")).cast("double")
          / 1000000.0 / count(lit(1))), 6).as("sig"))
      resid.crossJoin(broadcast(sigma))
        .select(col("t"), col("x"), col("seasonal"),
          round(col("r"), 6).as("residual"),
          (abs(col("r")) > lit(3) * col("sig")).cast("long").as("is_anomaly"))
        .orderBy(abs(col("residual")).desc, col("t")).limit(5)
        .orderBy(abs(col("residual")).desc, col("t"))
    },

    Q(
      "q_psi_drift",
      "population stability index between the reference and current " +
        "halves of the event stream (split at the median timestamp): " +
        "PSI = Σ_bins (p−q)·ln(p/q) over a 10-bin equi-width value " +
        "histogram — THE production ML-monitoring drift metric; " +
        "PSI > 0.2 pages someone. One scan builds both per-bin count " +
        "vectors (bin bounded, partial-agg friendly); proportions are " +
        "exact BIGINT ratios, Laplace-smoothed (+1) so empty bins " +
        "can't produce ±∞; each bin's ln term is 6dp-rounded at the " +
        "libm boundary and the total folds in exact ×1e6 fixed point " +
        "— bin fold order cannot drift the oracle. Output per-bin " +
        "contributions plus the index; at 100 TB the reference " +
        "histogram is persisted state, only the current day scans " +
        "(the q_agg_incremental shape)",
      Some(
        """WITH med AS (
          |  SELECT quantile_cont(epoch_us(CAST(ts AS TIMESTAMP)), 0.5) AS m
          |  FROM events
          |), rng AS (
          |  SELECT min(value) AS mn, max(value) AS mx FROM events
          |), b AS (
          |  SELECT least(9, CAST(floor((value - mn) * 10 / (mx - mn))
          |      AS BIGINT)) AS bin,
          |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= m
          |      THEN 'ref' ELSE 'cur' END AS side
          |  FROM events CROSS JOIN med CROSS JOIN rng
          |), h AS (
          |  SELECT bin,
          |    CAST(1 + sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
          |    CAST(1 + sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS nc
          |  FROM b GROUP BY bin
          |), t AS (
          |  SELECT CAST(sum(nr) AS DOUBLE) AS tr, CAST(sum(nc) AS DOUBLE) AS tc
          |  FROM h
          |), c AS (
          |  SELECT bin, nr, nc,
          |    round((nr / tr - nc / tc) * ln((nr / tr) / (nc / tc)), 6)
          |      AS psi_term
          |  FROM h CROSS JOIN t
          |), tot AS (
          |  SELECT CAST(sum(CAST(round(psi_term * 1000000) AS BIGINT))
          |    / 1000000.0 AS DOUBLE) AS psi FROM c
          |)
          |SELECT bin, nr, nc, psi_term, psi
          |FROM c CROSS JOIN tot ORDER BY bin""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("ts"), col("value"))
      val med = ev.agg(
        expr("percentile(unix_micros(ts), 0.5)").as("m"))
      val rng = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
      val h = ev.crossJoin(broadcast(med)).crossJoin(broadcast(rng))
        .select(
          least(lit(9), floor((col("value") - col("mn")) * 10
            / (col("mx") - col("mn")))).cast("long").as("bin"),
          when(unix_micros(col("ts")) <= col("m"), "ref")
            .otherwise("cur").as("side"))
        .groupBy("bin")
        .agg((lit(1L) + sum(when(col("side") === "ref", 1L).otherwise(0L)))
          .as("nr"),
          (lit(1L) + sum(when(col("side") === "cur", 1L).otherwise(0L)))
            .as("nc"))
        .localCheckpoint() // read twice: totals + terms
      val t = h.agg(sum("nr").cast("double").as("tr"),
        sum("nc").cast("double").as("tc"))
      val c = h.crossJoin(broadcast(t))
        .select(col("bin"), col("nr"), col("nc"),
          round((col("nr") / col("tr") - col("nc") / col("tc"))
            * log((col("nr") / col("tr")) / (col("nc") / col("tc"))), 6)
            .as("psi_term"))
        .localCheckpoint() // read twice: total + output rows
      val tot = c.agg((sum(round(col("psi_term") * 1000000, 0).cast("long"))
        / 1000000.0).cast("double").as("psi"))
      c.crossJoin(broadcast(tot)).orderBy("bin")
    },

    Q(
      "q_ab_test",
      "A/B experiment readout: users split 50/50 by a deterministic " +
        "md5 hash of user_id (the real assignment mechanism — sticky, " +
        "stateless, uniform), comparing purchase-per-event rates via " +
        "the two-proportion z-statistic with a |z| > 1.96 significance " +
        "flag — the experimentation primitive every growth pipeline " +
        "runs. Two user-bounded aggs (assignment is per-row hash " +
        "arithmetic, no shuffle to assign); the z arithmetic runs on " +
        "exact BIGINTs from both engines with the one sqrt 6dp-rounded " +
        "at the libm boundary. The null result on uniform synthetic " +
        "data is itself the correctness check: a biased hash or a " +
        "leaky split would light the flag",
      Some {
        s"""WITH a AS (
           |  SELECT CASE WHEN ${Arms.Md5Sql} = 0 THEN 'A' ELSE 'B' END AS grp,
           |    CAST(count(*) AS BIGINT) AS n_events,
           |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_purch
           |  FROM events GROUP BY grp
           |), w AS (
           |  SELECT
           |    max(CASE WHEN grp = 'A' THEN n_events END) AS na,
           |    max(CASE WHEN grp = 'A' THEN n_purch END) AS xa,
           |    max(CASE WHEN grp = 'B' THEN n_events END) AS nb,
           |    max(CASE WHEN grp = 'B' THEN n_purch END) AS xb
           |  FROM a
           |), z AS (
           |  SELECT na, xa, nb, xb,
           |    round((CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb) /
           |      round(sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
           |        * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))
           |        * (1.0 / na + 1.0 / nb)), 6), 6) AS z_stat
           |  FROM w
           |)
           |SELECT na, xa, round(CAST(xa AS DOUBLE) / na, 6) AS rate_a,
           |  nb, xb, round(CAST(xb AS DOUBLE) / nb, 6) AS rate_b,
           |  z_stat,
           |  CAST(abs(z_stat) > 1.96 AS BIGINT) AS significant
           |FROM z""".stripMargin
      },
    ) { (s, dir) =>
      val grp = when(Arms.md5 === 0, "A").otherwise("B")
      val a = Tables.events(s, dir)
        .groupBy(grp.as("grp"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purch"))
      val w = a.agg(
        max(when(col("grp") === "A", col("n_events"))).as("na"),
        max(when(col("grp") === "A", col("n_purch"))).as("xa"),
        max(when(col("grp") === "B", col("n_events"))).as("nb"),
        max(when(col("grp") === "B", col("n_purch"))).as("xb"))
      val pPool = (col("xa") + col("xb")).cast("double") / (col("na") + col("nb"))
      val se = round(sqrt(pPool * (lit(1) - pPool)
        * (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 6)
      w.select(col("na"), col("xa"),
        round(col("xa").cast("double") / col("na"), 6).as("rate_a"),
        col("nb"), col("xb"),
        round(col("xb").cast("double") / col("nb"), 6).as("rate_b"),
        round((col("xa").cast("double") / col("na")
          - col("xb").cast("double") / col("nb")) / se, 6).as("z_stat"))
        .withColumn("significant",
          (abs(col("z_stat")) > 1.96).cast("long"))
    },

    Q(
      "q_mad_outliers",
      "robust outliers via median absolute deviation (modified " +
        "z-score 0.6745·(x−med)/MAD, cut at 3.5): immune to the very " +
        "outliers that inflate q_events_zscore's σ. Two corpus passes " +
        "are inherent to nested exact medians (med, then MAD of " +
        "deviations); both medians are #types-bounded aggs broadcast " +
        "back — at 100 TB swap exact percentile for the mergeable " +
        "rank sketch (q_mad_kll IS that swap, wired and oracle-" +
        "gated). 6dp rounding on med, MAD, and the score keeps the " +
        "cut engine-identical",
      Some(
        """WITH med AS (
          |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
          |  FROM events GROUP BY event_type
          |), dev AS (
          |  SELECT e.event_id, e.event_type, e.value, m.med,
          |    abs(e.value - m.med) AS adev
          |  FROM events e JOIN med m USING (event_type)
          |), mad AS (
          |  SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
          |  FROM dev GROUP BY event_type
          |)
          |SELECT d.event_id, d.event_type, d.value,
          |  round(0.6745 * (d.value - d.med) / m.mad, 6) AS mz
          |FROM dev d JOIN mad m USING (event_type)
          |WHERE m.mad > 0
          |  AND abs(round(0.6745 * (d.value - d.med) / m.mad, 6)) > 3.5
          |ORDER BY d.event_type, d.event_id""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val med = ev.groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"), col("med"),
          abs(col("value") - col("med")).as("adev"))
      val mad = dev.groupBy("event_type")
        .agg(round(expr("percentile(adev, 0.5)"), 6).as("mad"))
      val mz = round(lit(0.6745) * (col("value") - col("med")) / col("mad"), 6)
      dev.join(broadcast(mad), Seq("event_type"))
        .filter(col("mad") > 0 && abs(mz) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"), mz.as("mz"))
        .orderBy("event_type", "event_id")
    },

    Q(
      "q_mad_kll",
      "q_mad_outliers' documented 100 TB path made real: both nested " +
        "medians ride MERGEABLE RANK SKETCHES (kll_sketch_agg, " +
        "k=512) instead of exact per-group percentile sorts — pass 1 " +
        "sketches value per type (median estimate read off KB " +
        "state), pass 2 sketches |value − med_est| per type (the " +
        "sketch-path MAD, self-consistently centered on the SKETCH " +
        "median). The q_approx_distinct oracle contract: exact " +
        "med/MAD (the q_mad_outliers arithmetic) are the oracle-" +
        "matched values; hard 0/1 flags assert exact n conservation " +
        "and the CDF-bracket theorem at BOTH sketch medians " +
        "(ε = kll_err_bound, duplicate-safe — events.value is 79% " +
        "zeros, the adversarial tie case KllSpec pins). The bracket " +
        "rescan is the gate's cost; at 100 TB you run the two " +
        "sketch passes alone — same scan count as exact, but the " +
        "aggs shuffle KB sketches, never sort value domains",
      Some(
        """WITH med AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |    round(quantile_cont(value, 0.5), 6) AS med
          |  FROM events GROUP BY event_type
          |), mad AS (
          |  SELECT e.event_type,
          |    round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
          |  FROM events e JOIN med m USING (event_type)
          |  GROUP BY e.event_type
          |)
          |SELECT m.event_type, m.n_events, m.med, d.mad,
          |  CAST(1 AS BIGINT) AS n_conserved,
          |  CAST(1 AS BIGINT) AS med_bracket_ok,
          |  CAST(1 AS BIGINT) AS mad_bracket_ok
          |FROM med m JOIN mad d USING (event_type)
          |ORDER BY m.event_type""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_type", "value")
      // Pass 1 — value sketch per type (exact median rides along as
      // the oracle-matched value).
      val med = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(expr("percentile(value, 0.5)"), 6).as("med"),
          expr("kll_sketch_agg(value, 512)").as("sk"))
        .select(col("event_type"), col("n_events"), col("med"),
          expr("kll_quantile(sk, 0.5D)").as("med_est"),
          expr("kll_err_bound(sk)").as("eps1"),
          expr("kll_n(sk)").as("kn"))
      // Pass 2 — deviation sketch vs the SKETCH median (the scale
      // path's own centering), plus exact MAD (vs the exact median,
      // the oracle's arithmetic) and med-bracket counts.
      val pass2 = ev.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("value"), col("n_events"),
          col("med"), col("med_est"), col("eps1"), col("kn"),
          abs(col("value") - col("med_est")).as("adev"),
          abs(col("value") - col("med")).as("adev_exact"))
      val mad = pass2.groupBy("event_type")
        .agg(max(col("n_events")).as("n_events"), max(col("med")).as("med"),
          max(col("med_est")).as("med_est"), max(col("eps1")).as("eps1"),
          max(col("kn")).as("kn"),
          round(expr("percentile(adev_exact, 0.5)"), 6).as("mad"),
          expr("kll_sketch_agg(adev, 512)").as("sk2"),
          sum(when(col("value") < col("med_est"), 1L).otherwise(0L))
            .as("lt_med"),
          sum(when(col("value") <= col("med_est"), 1L).otherwise(0L))
            .as("le_med"))
        .select(col("event_type"), col("n_events"), col("med"),
          col("med_est"), col("eps1"), col("kn"), col("mad"),
          col("lt_med"), col("le_med"),
          expr("kll_quantile(sk2, 0.5D)").as("mad_est"),
          expr("kll_err_bound(sk2)").as("eps2"))
      // Pass 3 — the gate's bracket verify for the deviation median.
      pass2.select("event_type", "adev")
        .join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(max(col("n_events")).as("n_events"), max(col("med")).as("med"),
          max(col("mad")).as("mad"), max(col("med_est")).as("med_est"),
          max(col("mad_est")).as("mad_est"), max(col("eps1")).as("eps1"),
          max(col("eps2")).as("eps2"), max(col("kn")).as("kn"),
          max(col("lt_med")).as("lt_med"), max(col("le_med")).as("le_med"),
          sum(when(col("adev") < col("mad_est"), 1L).otherwise(0L))
            .as("lt_mad"),
          sum(when(col("adev") <= col("mad_est"), 1L).otherwise(0L))
            .as("le_mad"))
        .select(col("event_type"), col("n_events"), col("med"), col("mad"),
          (col("kn") === col("n_events")).cast("long").as("n_conserved"),
          (col("lt_med").cast("double") / col("n_events")
            <= lit(0.5) + col("eps1")
            && col("le_med").cast("double") / col("n_events")
              >= lit(0.5) - col("eps1")).cast("long").as("med_bracket_ok"),
          (col("lt_mad").cast("double") / col("n_events")
            <= lit(0.5) + col("eps2")
            && col("le_mad").cast("double") / col("n_events")
              >= lit(0.5) - col("eps2")).cast("long").as("mad_bracket_ok"))
        .orderBy("event_type")
    },

    Q(
      "q_cumulative_users",
      "growth accounting — per-type daily new and cumulative distinct " +
        "users: first-seen day per (type,user) (one keyed agg), " +
        "new-user counts by that day (#days×#types-bounded agg), then " +
        "a running sum per type over the tiny series — the naive " +
        "per-day count-distinct-to-date would rescan the corpus once " +
        "per day (O(days × corpus)); this is one corpus pass plus " +
        "windowing over days×types rows. Day rendered as a string so " +
        "both engines emit identical text",
      Some(
        """WITH f AS (
          |  SELECT event_type, user_id,
          |    min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS d0
          |  FROM events GROUP BY event_type, user_id
          |), n AS (
          |  SELECT event_type, CAST(d0 AS VARCHAR) AS day, count(*) AS n_new
          |  FROM f GROUP BY event_type, d0
          |)
          |SELECT event_type, day, n_new,
          |  CAST(sum(n_new) OVER (PARTITION BY event_type ORDER BY day
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS cum_users
          |FROM n ORDER BY event_type, day""".stripMargin),
    ) { (s, dir) =>
      val firstSeen = Tables.events(s, dir)
        .groupBy("event_type", "user_id").agg(min(to_date(col("ts"))).as("d0"))
      val daily = firstSeen
        .groupBy(col("event_type"), date_format(col("d0"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_new"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum_users", sum(col("n_new")).over(w))
        .orderBy("event_type", "day")
    },

    Q(
      "q_scd2",
      "SCD2 dimension build from a change stream: per user, each " +
        "event_type change opens a versioned row with " +
        "[valid_from, valid_to) from the change ts and the NEXT " +
        "change's ts (null = current). ONE user_id-keyed shuffle: the " +
        "change filter (lag), version numbering (row_number) and " +
        "interval close (lead) all ride the same partitioning and " +
        "sort — Catalyst plans no second exchange for the post-filter " +
        "windows. Ties inside a user's timeline break by event_id, so " +
        "replayed changelogs rebuild identical versions. At 100 TB " +
        "this is the standard warehouse dimension rebuild: state per " +
        "user is its change count, never its event count",
      Some(
        """WITH e AS (
          |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
          |  FROM events
          |), ch AS (
          |  SELECT user_id, event_type, ts, event_id FROM (
          |    SELECT user_id, event_type, ts, event_id,
          |      lag(event_type) OVER (PARTITION BY user_id
          |        ORDER BY ts, event_id) AS prev_type
          |    FROM e)
          |  WHERE prev_type IS NULL OR prev_type <> event_type
          |)
          |SELECT user_id,
          |  CAST(row_number() OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS BIGINT) AS version,
          |  event_type, ts AS valid_from,
          |  lead(ts) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS valid_to,
          |  CASE WHEN lead(ts) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) IS NULL
          |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_current
          |FROM ch ORDER BY user_id, version""".stripMargin),
    ) { (s, dir) =>
      scd2Of(s, dir).orderBy("user_id", "version")
    },

    Q(
      "q_scd2_merge",
      "incremental SCD2 MERGE — the type-2 twin of " +
        "q_mv_join_incremental: the dimension persists from history " +
        "before the cutoff (checkpointed base), and the delta batch " +
        "merges WITHOUT replaying history — closed versions are " +
        "carried verbatim, untouched users keep their current rows, " +
        "and each delta user's suffix is rebuilt from ONE seed row " +
        "(their current version, re-entering the change chain with a " +
        "version offset so numbering continues) plus their delta " +
        "events. Merge cost ∝ delta + touched users' current rows — " +
        "never the changelog history; the time-ordered batch boundary " +
        "is what makes the seed sufficient (type-2 merges assume " +
        "in-order arrival; late data goes through a rebuild, which " +
        "is the industry contract too). The oracle is the FULL " +
        "rebuild over all events — merge ≡ rebuild, bit for bit, " +
        "version numbers included",
      Some(
        """WITH e AS (
          |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
          |  FROM events
          |), ch AS (
          |  SELECT user_id, event_type, ts, event_id FROM (
          |    SELECT user_id, event_type, ts, event_id,
          |      lag(event_type) OVER (PARTITION BY user_id
          |        ORDER BY ts, event_id) AS prev_type
          |    FROM e)
          |  WHERE prev_type IS NULL OR prev_type <> event_type
          |)
          |SELECT user_id,
          |  CAST(row_number() OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS BIGINT) AS version,
          |  event_type, ts AS valid_from,
          |  lead(ts) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS valid_to,
          |  CASE WHEN lead(ts) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) IS NULL
          |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_current
          |FROM ch ORDER BY user_id, version""".stripMargin),
    ) { (s, dir) =>
      val cutoff = lit("2024-01-24 00:00:00").cast("timestamp")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      // The persisted dimension: built once from pre-cutoff history.
      val base = scd2FromEvents(ev.filter(col("ts") < cutoff))
        .localCheckpoint()
      val delta = ev.filter(col("ts") >= cutoff).localCheckpoint()
      val deltaUsers = delta.select("user_id").distinct()
      val baseCur = base.filter(col("is_current") === 1)
        .localCheckpoint() // read twice: seeds + untouched users
      // Seed = each touched user's current version re-entering the
      // chain; voffset makes the rebuilt numbering continue.
      val seeds = baseCur.join(deltaUsers, "user_id")
        .select(col("user_id"), col("event_type"),
          col("valid_from").as("ts"), lit(-1L).as("event_id"),
          (col("version") - 1).as("voffset"))
      val voff = seeds.select("user_id", "voffset").distinct()
      val stream = seeds.select("user_id", "event_type", "ts", "event_id")
        .unionByName(delta.select("user_id", "event_type", "ts", "event_id"))
        .join(voff, Seq("user_id"), "left")
      val rebuilt = scd2FromEvents(stream)
      val untouchedCurrent = baseCur
        .join(deltaUsers, Seq("user_id"), "left_anti")
      base.filter(col("is_current") === 0)
        .unionByName(untouchedCurrent)
        .unionByName(rebuilt)
        .orderBy("user_id", "version")
    },

    Q(
      "q_scd2_pit_join",
      "POINT-IN-TIME snapshot reconstruction from the SCD2 dimension " +
        "(the temporal query versioned dims exist to answer): at each " +
        "of 12 hourly instants from the corpus start, how many users " +
        "sat in each state — every user's matching version is the one " +
        "with valid_from ≤ t < valid_to (null-open current rows " +
        "included), and [from, to) intervals partition each user's " +
        "timeline so exactly one version matches per (user, instant); " +
        "zero-length versions (two changes at one ts) match nothing " +
        "by construction. The 12-row instant spine broadcasts into " +
        "the dimension (version-count-sized, never event-count-" +
        "sized); the rollup is instants×#types rows. At 100 TB this " +
        "is the as-of-T audit/backfill readout — the dimension is " +
        "the only big side and it shuffles zero times (broadcast " +
        "range join), vs replaying raw history to T",
      Some(
        """WITH e AS (
          |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
          |  FROM events
          |), ch AS (
          |  SELECT user_id, event_type, ts, event_id FROM (
          |    SELECT user_id, event_type, ts, event_id,
          |      lag(event_type) OVER (PARTITION BY user_id
          |        ORDER BY ts, event_id) AS prev_type
          |    FROM e)
          |  WHERE prev_type IS NULL OR prev_type <> event_type
          |), dim AS (
          |  SELECT user_id, event_type AS state_type, ts AS valid_from,
          |    lead(ts) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS valid_to
          |  FROM ch
          |), spine AS (
          |  SELECT CAST(i AS BIGINT) AS snap_id,
          |    (SELECT min(ts) FROM e) + i * INTERVAL 1 HOUR AS t
          |  FROM unnest(range(12)) AS u(i)
          |)
          |SELECT s.snap_id, d.state_type, count(*) AS n_users
          |FROM spine s JOIN dim d
          |  ON d.valid_from <= s.t
          | AND (d.valid_to IS NULL OR s.t < d.valid_to)
          |GROUP BY s.snap_id, d.state_type
          |ORDER BY s.snap_id, d.state_type""".stripMargin),
    ) { (s, dir) =>
      val dim = scd2Of(s, dir)
        .select(col("user_id"), col("event_type").as("state_type"),
          col("valid_from"), col("valid_to"))
      val spine = Tables.events(s, dir).agg(min(col("ts")).as("t0"))
        .select(explode(sequence(lit(0L), lit(11L))).as("snap_id"),
          col("t0"))
        .select(col("snap_id"),
          expr("timestampadd(HOUR, snap_id, t0)").as("t"))
      dim.join(broadcast(spine),
          col("valid_from") <= col("t")
            && (col("valid_to").isNull || col("t") < col("valid_to")))
        .groupBy("snap_id", "state_type").agg(count(lit(1)).as("n_users"))
        .orderBy("snap_id", "state_type")
    },

    Q(
      "q_event_transitions",
      "first-order Markov transition matrix between consecutive " +
        "event types per user (the behavioral fingerprint funnels and " +
        "anomaly detectors consume): one user-keyed window shuffle " +
        "computes every lag pair, then the counts agg is bounded by " +
        "#types² (25 rows here) regardless of event volume — the " +
        "transition-probability window runs on that bounded rollup, " +
        "never on events. p = n / Σn per source type, 6dp-rounded " +
        "(one IEEE division of identical BIGINTs per row, no drift)",
      Some(
        """WITH seq AS (
          |  SELECT user_id, event_type,
          |    lag(event_type) OVER (PARTITION BY user_id
          |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
          |  FROM events
          |), pairs AS (
          |  SELECT prev_type, event_type, count(*) AS n
          |  FROM seq WHERE prev_type IS NOT NULL
          |  GROUP BY prev_type, event_type
          |)
          |SELECT prev_type, event_type, n,
          |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS p
          |FROM pairs ORDER BY prev_type, event_type""".stripMargin),
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
      val pw = Window.partitionBy("prev_type")
      pairs
        .withColumn("p", round(col("n").cast("double") / sum("n").over(pw), 6))
        .orderBy("prev_type", "event_type")
    },

    Q(
      "q_markov_absorb",
      s"Markov absorption attribution: from each event type, the " +
        s"probability of reaching 'purchase' within $MarkovSteps " +
        "steps of the user transition chain — the model-based " +
        "multi-touch attribution score (the Markov-chain alternative " +
        "to q_stream_attrib_last's last-click heuristic), computed " +
        "as the k-step hitting probability p_k(s) = Σ_t P(s→t)·" +
        "[t = purchase ? 1 : p_{k-1}(t)] with purchase absorbing. " +
        "The corpus-scale work is ONE user-keyed window pass for " +
        "transition pairs; everything after runs on the #types²-" +
        "bounded probability table (oracle-unrolled rounds, 9dp " +
        "rounding per round — the PageRank grid discipline; " +
        "transition probs are single IEEE divisions of identical " +
        "BIGINTs). At 100 TB the rounds cost #types² joins — " +
        "constant — regardless of event volume",
      Some {
        val head =
          """WITH seq AS (
            |  SELECT user_id, event_type,
            |    lag(event_type) OVER (PARTITION BY user_id
            |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
            |  FROM events
            |), pairs AS (
            |  SELECT prev_type, event_type, count(*) AS n
            |  FROM seq WHERE prev_type IS NOT NULL
            |  GROUP BY prev_type, event_type
            |), outn AS (
            |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS outn
            |  FROM pairs GROUP BY prev_type
            |), probs AS MATERIALIZED (
            |  SELECT prev_type AS src, event_type AS dst,
            |    CAST(n AS DOUBLE) / outn AS p
            |  FROM pairs JOIN outn USING (prev_type)
            |), a0 AS (
            |  SELECT DISTINCT src AS state, CAST(0 AS DOUBLE) AS pa FROM probs
            |)""".stripMargin
        val rounds = (1 to MarkovSteps).map { k =>
          s"""a$k AS (
             |  SELECT probs.src AS state,
             |    round(sum(p * CASE WHEN dst = 'purchase' THEN 1.0
             |      ELSE coalesce(prev.pa, 0) END), 9) AS pa
             |  FROM probs LEFT JOIN a${k - 1} prev ON prev.state = probs.dst
             |  GROUP BY probs.src
             |)""".stripMargin
        }.mkString(", ")
        s"""$head, $rounds
           |SELECT state AS event_type, round(pa, 6) AS p_absorb
           |FROM a$MarkovSteps ORDER BY event_type""".stripMargin
      },
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
        .localCheckpoint() // read twice: row sums + probabilities
      val outn = pairs.groupBy("prev_type").agg(sum("n").as("outn"))
      val probs = pairs.join(outn, "prev_type")
        .select(col("prev_type").as("src"), col("event_type").as("dst"),
          (col("n").cast("double") / col("outn")).as("p"))
        .localCheckpoint()
      markovAbsorb(probs, "purchase", MarkovSteps)
        .select(col("state").as("event_type"),
          round(col("pa"), 6).as("p_absorb"))
        .orderBy("event_type")
    },

    Q(
      "q_attribution_removal",
      s"Markov REMOVAL-EFFECT attribution (Anderl et al. 2014 — the " +
        "industry-standard multi-touch model): for each channel, " +
        "delete its node from the user transition chain and measure " +
        "how much start-weighted conversion DISAPPEARS — credit is " +
        "counterfactual contribution, not position (the principled " +
        "answer to q_stream_attrib_last's last-click and " +
        s"q_markov_absorb's raw hitting scores). Start distribution " +
        "= each user's first event type (exact counts); conversion " +
        s"value V = Σ π(s)·p_$MarkovSteps(s) with the k-step " +
        "absorption recursion on the 9dp iterate grid (the " +
        "q_markov_absorb machinery over the FILTERED #types² table — " +
        "edges into a removed channel are lost, not renormalized, " +
        "and journeys STARTING there are lost too, per the model); " +
        "all (1 + #channels) scenarios ride ONE keyed fixpoint: the " +
        "transition table explodes with a removal tag and " +
        "markovAbsorbKeyed runs the same checkpointed rounds over " +
        "(removed, state), so driver round-trips are MarkovSteps " +
        "regardless of channel count (pre-r11: one sequential " +
        "fixpoint per channel). Per-start terms quantize to the " +
        "1e-9 grid and sum exactly, so effects and the normalized " +
        "shares are deterministic cross-engine. At 100 TB: the " +
        "corpus pays TWO window passes (transitions + first events); " +
        "every absorption round is one join+agg on the bounded " +
        "tagged table — constant work however big the stream",
      Some {
        val head =
          """WITH seq AS (
            |  SELECT user_id, event_type,
            |    lag(event_type) OVER (PARTITION BY user_id
            |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type,
            |    row_number() OVER (PARTITION BY user_id
            |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
            |  FROM events
            |), pairs AS (
            |  SELECT prev_type, event_type, count(*) AS n
            |  FROM seq WHERE prev_type IS NOT NULL
            |  GROUP BY prev_type, event_type
            |), outn AS (
            |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS outn
            |  FROM pairs GROUP BY prev_type
            |), probs AS MATERIALIZED (
            |  SELECT prev_type AS src, event_type AS dst,
            |    CAST(n AS DOUBLE) / outn AS p
            |  FROM pairs JOIN outn USING (prev_type)
            |), start AS MATERIALIZED (
            |  SELECT event_type AS state, CAST(count(*) AS BIGINT) AS cnt,
            |    CAST(sum(count(*)) OVER () AS BIGINT) AS u
            |  FROM seq WHERE rn = 1 GROUP BY event_type
            |)""".stripMargin
        val variants = (removalVariantSql("b", None) +:
          AttrChannels.sorted.zipWithIndex.map { case (ch, i) =>
            removalVariantSql(s"c$i", Some(ch))
          }).mkString(", ")
        val effRows = AttrChannels.sorted.zipWithIndex.map { case (ch, i) =>
          s"SELECT '$ch' AS channel, v_b.v9 AS v9b, v_c$i.v9 AS v9r" +
            s" FROM v_b CROSS JOIN v_c$i"
        }.mkString("\n  UNION ALL\n  ")
        s"""$head, $variants, eff AS (
           |  $effRows
           |)
           |SELECT channel,
           |  round(CAST(v9b AS DOUBLE) / 1000000000.0, 6) AS v_base,
           |  round(CAST(v9r AS DOUBLE) / 1000000000.0, 6) AS v_removed,
           |  CASE WHEN v9b = 0 THEN NULL ELSE
           |    round(CAST(v9b - v9r AS DOUBLE) / v9b, 6) END
           |    AS removal_effect,
           |  CASE WHEN sum(v9b - v9r) OVER () = 0 THEN NULL ELSE
           |    round(CAST(v9b - v9r AS DOUBLE)
           |      / CAST(sum(v9b - v9r) OVER () AS DOUBLE), 6) END
           |    AS attribution_share
           |FROM eff ORDER BY channel""".stripMargin
      },
    ) { (s, dir) =>
      attributionRemoval(
        Tables.events(s, dir).select(col("user_id"), col("event_type"),
          col("ts"), col("event_id")),
        AttrChannels, "purchase")
    },

    Q(
      "q_session_paths",
      "top-20 session PATHS (first 4 event types per 30-min-gap " +
        "session, '>' joined) — the navigation-flow table product " +
        "analytics reads: reuses q_events_sessions' two-window " +
        "sessionization (ONE user-keyed shuffle), then each session " +
        "collapses to a ≤4-type string in a per-session agg whose " +
        "deterministic order comes from sorting the collected " +
        "(ts, event_id, type) structs — bounded by events-per-session, " +
        "never corpus-sorted. Path counts agg to #distinct-paths rows " +
        "and the final top-20 is a TakeOrdered heap (n DESC, path — " +
        "path is unique after the count agg, so the cut is " +
        "deterministic), not a global sort",
      Some(
        s"""WITH $sessionsSqlCte, paths AS (
          |  SELECT user_id, session_seq,
          |    array_to_string(list_slice(
          |      list(event_type ORDER BY ts, event_id), 1, 4), '>') AS path
          |  FROM sessions GROUP BY user_id, session_seq
          |), counted AS (
          |  SELECT path, count(*) AS n FROM paths GROUP BY path
          |)
          |SELECT path, n FROM counted
          |ORDER BY n DESC, path LIMIT 20""".stripMargin),
    ) { (s, dir) =>
      val paths = sessionized(s, dir)
        .groupBy("user_id", "session_seq")
        .agg(concat_ws(">", slice(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          e => e.getField("event_type")), 1, 4)).as("path"))
      paths.groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },

    Q(
      "q_hll_partials",
      "incremental DISTINCT via mergeable HLL sketch partials (the " +
        "q_agg_incremental pattern applied to count-distinct, the one " +
        "agg plain addition can't merge): each day folds to one " +
        "(day, type) DataSketches-HLL sketch row (hll_sketch_agg, " +
        "lgK=12); the corpus-level distinct-user estimate rolls up " +
        "from the STATE via hll_union_agg — days×types sketch rows, " +
        "never a raw-history rescan, so at 100 TB only the new day is " +
        "scanned and its sketch rows appended. DuckDB's HLL differs, " +
        "so (the q_approx_distinct contract) both engines emit the " +
        "exact count while the sketch is driver-checked through two " +
        "deterministic flags the oracle asserts: the union estimate " +
        "lands within 5% of exact, AND union-of-partials agrees with " +
        "the single-pass sketch estimate within 1% — NOT exact " +
        "equality, because a DataSketches union can finish in a " +
        "different internal mode than a direct build (measured 1488 " +
        "vs 1494 on 1500 true distinct at sf0.1); the 1% flag pins " +
        "the practical merge≡direct equivalence that makes the " +
        "state table trustworthy",
      Some(
        """SELECT event_type,
          |  count(DISTINCT user_id) AS n_users,
          |  CAST(1 AS BIGINT) AS within_5pct,
          |  CAST(1 AS BIGINT) AS union_within_1pct
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      // Stage 1 — the per-day sketch state a real pipeline persists.
      val state = ev.groupBy("day", "event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      // Stage 2 — rollup merges SKETCHES (days×types rows only).
      val merged = state.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("approx"))
      // Exact twin + direct single-pass sketch, for the two flags.
      val direct = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
            .as("direct_approx"))
      direct.join(merged, "event_type")
        .select(col("event_type"), col("n_users"),
          when(abs(col("approx") - col("n_users")).cast("double")
            / col("n_users") <= 0.05, 1L).otherwise(0L).as("within_5pct"),
          when(abs(col("approx") - col("direct_approx")).cast("double")
            / col("direct_approx") <= 0.01, 1L).otherwise(0L)
            .as("union_within_1pct"))
        .orderBy("event_type")
    },

    Q(
      "q_events_anomaly",
      "hourly burst detection: each (type, hour) bucket compared to " +
        "its trailing 24-observed-hour baseline — n ≥ 2× baseline " +
        "flags a burst; only full windows flag (partial baselines at " +
        "series start inflate ratios, so they stay null) — the " +
        "monitoring rollup every event pipeline pages on. The corpus " +
        "collapses to the hours×types hourly rollup FIRST (one keyed " +
        "agg, the q_events_hourly shape); the trailing window then " +
        "runs per type over that BOUNDED series — window state is 24 " +
        "counts, window input is hours not events. baseline = one " +
        "division of exact BIGINTs (sum over the full frame / 24); " +
        "ratio likewise — nothing here can drift with parallelism. " +
        "At 100 TB only the rollup touches events; production keeps " +
        "the rollup as incremental state (q_agg_incremental) and the " +
        "window cost stays days×types",
      Some(eventsAnomalySql),
    ) { (s, dir) =>
      anomalyFinish(hourlyTypeRollup(Tables.events(s, dir)))
    },

    Q(
      "q_gap_fill",
      "time-series GAP FILL: the hourly per-type series densified " +
        "onto a complete hour spine (min→max corpus hour), missing " +
        "buckets forward-filled from the last observed hour and " +
        "flagged — the resample/ffill primitive every monitoring and " +
        "feature pipeline needs before windows or models can assume " +
        "a regular grid (q_events_anomaly's trailing frame, for one, " +
        "is only calendar-correct on a dense series). The corpus " +
        "collapses to the hours×types rollup FIRST; the spine is a " +
        "1-row min/max agg exploded to hours × types (bounded, " +
        "broadcast-friendly); the fill is one ignore-nulls last_value " +
        "window per type over the BOUNDED spine — the q_asof_join " +
        "machinery on a grid. Leading gaps before a type's first " +
        "observation fill 0 in both engines",
      Some(
        """WITH hourly AS (
          |  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
          |    AS hour, event_type, count(*) AS n
          |  FROM events GROUP BY 1, 2
          |), bounds AS (
          |  SELECT min(hour) AS h0, max(hour) AS h1 FROM hourly
          |), spine AS (
          |  SELECT h0 + i * INTERVAL 1 HOUR AS hour, t.event_type
          |  FROM bounds,
          |    unnest(range(date_diff('hour', h0, h1) + 1)) AS u(i),
          |    (SELECT DISTINCT event_type FROM hourly) t
          |), joined AS (
          |  SELECT s.hour, s.event_type, h.n
          |  FROM spine s LEFT JOIN hourly h
          |    ON s.hour = h.hour AND s.event_type = h.event_type
          |)
          |SELECT hour, event_type,
          |  coalesce(n,
          |    coalesce(last_value(n IGNORE NULLS) OVER (
          |      PARTITION BY event_type ORDER BY hour
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0))
          |    AS n_filled,
          |  CASE WHEN n IS NULL THEN CAST(1 AS BIGINT)
          |    ELSE CAST(0 AS BIGINT) END AS was_gap
          |FROM joined ORDER BY event_type, hour""".stripMargin),
    ) { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // spine bounds + types + the fill join read it
      val bounds = hourly.agg(min(col("hour")).as("h0"),
        max(col("hour")).as("h1"))
      val spine = bounds
        .select(explode(sequence(lit(0L),
          expr("timestampdiff(HOUR, h0, h1)"))).as("i"), col("h0"))
        .select(expr("timestampadd(HOUR, i, h0)").as("hour"))
        .crossJoin(hourly.select("event_type").distinct())
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("hour", "event_type"), "left")
        .select(col("hour"), col("event_type"),
          coalesce(col("n"),
            coalesce(last(col("n"), ignoreNulls = true).over(w), lit(0L)))
            .as("n_filled"),
          when(col("n").isNull, 1L).otherwise(0L).as("was_gap"))
        .orderBy("event_type", "hour")
    },

    Q(
      "q_concurrency",
      "peak concurrent sessions per day via a SWEEP-LINE over session " +
        "boundaries — the capacity-planning curve (licenses, " +
        "connection pools, autoscaling floors) that pairwise interval " +
        "joins can't produce without O(n²): sessions collapse to " +
        "(start, +1)/(end, −1) boundary events, a running sum ordered " +
        "by (ts, +1-before-−1) counts active sessions, and the max " +
        "per day is the answer. The sweep is DAY-PARTITIONED (never " +
        "one global window): each day's running sum starts from a " +
        "carry-in of sessions spanning its midnight, computed by a " +
        "bounded join against the day spine — so at 100 TB every " +
        "window is day-sized and the carry join is spanning-sessions-" +
        "sized (≈ the concurrency level itself). Boundary ties at one " +
        "instant resolve +1 first (touching sessions overlap); " +
        "within equal (ts, delta) the running-sum MULTISET is " +
        "permutation-invariant, so the per-day max is deterministic",
      Some(
        s"""WITH $sessionsSqlCte, sess AS (
           |  SELECT user_id, session_seq, min(ts) AS st, max(ts) AS en
           |  FROM sessions GROUP BY user_id, session_seq
           |), bounds AS (
           |  SELECT CAST(st AS DATE) AS day, st AS t, 1 AS delta FROM sess
           |  UNION ALL
           |  SELECT CAST(en AS DATE) AS day, en AS t, -1 AS delta FROM sess
           |), carry AS (
           |  SELECT d.day, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT DISTINCT day FROM bounds) d
           |  JOIN sess ON sess.st < CAST(d.day AS TIMESTAMP)
           |           AND sess.en >= CAST(d.day AS TIMESTAMP)
           |  GROUP BY d.day
           |), swept AS (
           |  SELECT day,
           |    CAST(sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
           |  FROM bounds
           |)
           |SELECT s.day, max(s.run + coalesce(c.c, 0)) AS peak_concurrency
           |FROM swept s LEFT JOIN carry c ON s.day = c.day
           |GROUP BY s.day ORDER BY s.day""".stripMargin),
    ) { (s, dir) =>
      val sess = sessionized(s, dir)
        .groupBy("user_id", "session_seq")
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        .localCheckpoint() // boundaries + the carry join both read it
      val bounds = sess
        .select(to_date(col("st")).as("day"), col("st").as("t"),
          lit(1).as("delta"))
        .unionByName(sess.select(to_date(col("en")).as("day"),
          col("en").as("t"), lit(-1).as("delta")))
      val carry = bounds.select("day").distinct()
        .join(sess,
          col("st") < col("day").cast("timestamp")
            && col("en") >= col("day").cast("timestamp"))
        .groupBy("day").agg(count(lit(1)).as("c"))
      val sweep = Window.partitionBy("day")
        .orderBy(col("t"), col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bounds
        .withColumn("run", sum(col("delta")).over(sweep).cast("long"))
        .join(carry, Seq("day"), "left")
        .groupBy("day")
        .agg(max(col("run") + coalesce(col("c"), lit(0L)))
          .as("peak_concurrency"))
        .orderBy("day")
    },

    Q(
      "q_retention_matrix",
      "cohort retention MATRIX (the d1/d7 pair in q_events_retention " +
        "generalized to the full grid): users cohorted by first-" +
        "active day, counted on each later active day at offsets " +
        "0–7, with the rate against cohort size — the triangle chart " +
        "every growth dashboard renders. One corpus pass collapses " +
        "events to DISTINCT (user, day); first-day is a user-keyed " +
        "min over that (already user-bounded) stream; the matrix agg " +
        "is bounded by days×8 offsets and cohort sizes join back " +
        "from the offset-0 diagonal. rate = one IEEE division of " +
        "exact BIGINTs, 6dp-rounded",
      Some(
        """WITH ud AS (
          |  SELECT DISTINCT user_id,
          |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
          |  FROM events
          |), fd AS (
          |  SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
          |), m AS (
          |  SELECT fd.first_day AS cohort_day,
          |    date_diff('day', fd.first_day, ud.day) AS offset_days,
          |    count(*) AS n_users
          |  FROM ud JOIN fd ON ud.user_id = fd.user_id
          |  WHERE date_diff('day', fd.first_day, ud.day) <= 7
          |  GROUP BY 1, 2
          |)
          |SELECT m.cohort_day, CAST(m.offset_days AS BIGINT) AS offset_days,
          |  m.n_users,
          |  round(CAST(m.n_users AS DOUBLE) / c.n_users, 6) AS retention
          |FROM m JOIN m c
          |  ON m.cohort_day = c.cohort_day AND c.offset_days = 0
          |ORDER BY m.cohort_day, m.offset_days""".stripMargin),
    ) { (s, dir) =>
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val fd = ud.groupBy("user_id").agg(min(col("day")).as("first_day"))
      val m = ud.join(fd, "user_id")
        .select(col("first_day").as("cohort_day"),
          datediff(col("day"), col("first_day")).as("offset_days"))
        .filter(col("offset_days") <= 7)
        .groupBy("cohort_day", "offset_days")
        .agg(count(lit(1)).as("n_users"))
        .localCheckpoint() // joined against its own offset-0 diagonal
      m.join(m.filter(col("offset_days") === 0)
          .select(col("cohort_day"), col("n_users").as("cohort_size")),
          "cohort_day")
        .select(col("cohort_day"), col("offset_days").cast("long")
          .as("offset_days"), col("n_users"),
          round(col("n_users").cast("double") / col("cohort_size"), 6)
            .as("retention"))
        .orderBy("cohort_day", "offset_days")
    },

    Q(
      "q_funnel_time",
      "conversion LATENCY distribution (the how-long beside " +
        "q_funnel's how-many): per user, delay from first view to " +
        "the first purchase after it, summarized as p50/p90/max " +
        "minutes + converter count. Two user-keyed min-aggregates " +
        "(each stage's input shrinks), one user-keyed join, then the " +
        "exact percentiles run over one delay per CONVERTED user — " +
        "bounded by users, never events; at 100 TB swap exact " +
        "percentile_approx-style sketches in (the q_mad_outliers " +
        "note). Delays are exact BIGINT minute floors of µs " +
        "differences; percentiles interpolate two of them — 6dp " +
        "rounding pins the one float op",
      Some(
        """WITH v AS (
          |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS vt
          |  FROM events WHERE event_type = 'view' GROUP BY user_id
          |), p AS (
          |  SELECT e.user_id,
          |    min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS pt
          |  FROM events e JOIN v ON e.user_id = v.user_id
          |  WHERE e.event_type = 'purchase'
          |    AND CAST(e.ts AS TIMESTAMP) >= v.vt
          |  GROUP BY e.user_id
          |), d AS (
          |  SELECT (p.pt - epoch_us(v.vt)) // 60000000 AS delay_min
          |  FROM p JOIN v ON p.user_id = v.user_id
          |)
          |SELECT count(*) AS n_converted,
          |  round(quantile_cont(CAST(delay_min AS DOUBLE), 0.5), 6) AS p50_min,
          |  round(quantile_cont(CAST(delay_min AS DOUBLE), 0.9), 6) AS p90_min,
          |  CAST(max(delay_min) AS BIGINT) AS max_min
          |FROM d""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("vt"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .filter(col("ts") >= col("vt"))
        .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("pt"))
      val d = p.join(v, "user_id")
        .select(expr("(pt - unix_micros(vt)) div 60000000").as("delay_min"))
      d.agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(CAST(delay_min AS DOUBLE), 0.5)"), 6)
          .as("p50_min"),
        round(expr("percentile(CAST(delay_min AS DOUBLE), 0.9)"), 6)
          .as("p90_min"),
        max(col("delay_min")).as("max_min"))
    },

    Q(
      "q_time_decay_agg",
      "exponential time-decay aggregates (half-life 24h): each event " +
        "contributes w = 2^(−age/half_life) relative to the corpus " +
        "max timestamp — the feature-store freshness pattern " +
        "(trending scores, decayed engagement counts) that plain " +
        "windows can't express because every event always " +
        "contributes, just less. One #types-bounded agg; the " +
        "reference time travels as a broadcast 1-row max (at 100 TB " +
        "it's a pipeline parameter, not a scan). Age math is exact " +
        "BIGINT µs on identical operands; the only libm call (exp) " +
        "is 6dp-rounded per event and the decayed sums accumulate in " +
        "exact ×1e6 fixed point, so parallelism can't drift them. " +
        "Production twin: decayed state folds incrementally as " +
        "new_state = old·2^(−Δ/h) + today (the q_agg_incremental " +
        "merge shape) — no rescan",
      Some(
        """WITH ref AS (
          |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS ref_us FROM events
          |), aged AS (
          |  SELECT event_type, value,
          |    round(exp(-ln(2) * ((ref_us - epoch_us(CAST(ts AS TIMESTAMP)))
          |      / 3600000000.0) / 24.0), 6) AS w
          |  FROM events CROSS JOIN ref
          |)
          |SELECT event_type, count(*) AS n_events,
          |  CAST(sum(CAST(round(w * 1000000) AS BIGINT)) / 1000000.0
          |    AS DOUBLE) AS decayed_n,
          |  CAST(sum(CAST(round(w * value * 1000000) AS BIGINT)) / 1000000.0
          |    AS DOUBLE) AS decayed_value
          |FROM aged GROUP BY event_type ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("value"))
      val ref = ev.agg(max(unix_micros(col("ts"))).as("ref_us"))
      ev.crossJoin(broadcast(ref))
        .select(col("event_type"), col("value"),
          round(exp(lit(-math.log(2.0))
            * ((col("ref_us") - unix_micros(col("ts"))).cast("double")
              / lit(3600000000.0)) / lit(24.0)), 6).as("w"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("w") * 1000000, 0).cast("long")) / lit(1000000.0))
            .cast("double").as("decayed_n"),
          (sum(round(col("w") * col("value") * 1000000, 0).cast("long"))
            / lit(1000000.0)).cast("double").as("decayed_value"))
        .orderBy("event_type")
    },

    Q(
      "q_rfm",
      "RFM customer segmentation: per-user Recency/Frequency/Monetary " +
        "over purchases, scored 1-4 against exact quartile boundaries " +
        "and rolled into named segments. The textbook formulation is " +
        "ntile(4) — a SINGLE-PARTITION global sort over every user; " +
        "this plan instead computes the three quartile boundaries as " +
        "a 1-row agg over the (already user-bounded) RFM frame and " +
        "broadcasts them, so scoring is a per-row comparison and the " +
        "only shuffles are the user-keyed purchase agg and the " +
        "64-bounded segment rollup. Monetary accumulates in exact " +
        "×1e6 fixed point (the q_time_decay_agg trick) so float order " +
        "can't drift a user across a quartile boundary; recency is an " +
        "exact BIGINT day floor against the corpus max-ts anchor " +
        "(broadcast 1-row; a pipeline parameter at 100 TB). At scale " +
        "swap the exact interpolated percentiles for approx sketches " +
        "— boundaries only need to be consistent, not exact",
      Some(
        """WITH anchor AS (
          |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS anchor_us FROM events
          |), per AS (
          |  SELECT user_id,
          |    (anchor_us - max(epoch_us(CAST(ts AS TIMESTAMP)))) // 86400000000
          |      AS r_days,
          |    count(*) AS f,
          |    CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS m_us
          |  FROM events CROSS JOIN anchor
          |  WHERE event_type = 'purchase'
          |  GROUP BY user_id, anchor_us
          |), q AS (
          |  SELECT
          |    quantile_cont(CAST(r_days AS DOUBLE), 0.25) AS rq1,
          |    quantile_cont(CAST(r_days AS DOUBLE), 0.50) AS rq2,
          |    quantile_cont(CAST(r_days AS DOUBLE), 0.75) AS rq3,
          |    quantile_cont(CAST(f AS DOUBLE), 0.25) AS fq1,
          |    quantile_cont(CAST(f AS DOUBLE), 0.50) AS fq2,
          |    quantile_cont(CAST(f AS DOUBLE), 0.75) AS fq3,
          |    quantile_cont(CAST(m_us AS DOUBLE), 0.25) AS mq1,
          |    quantile_cont(CAST(m_us AS DOUBLE), 0.50) AS mq2,
          |    quantile_cont(CAST(m_us AS DOUBLE), 0.75) AS mq3
          |  FROM per
          |), scored AS (
          |  SELECT m_us,
          |    1 + CAST(r_days < rq3 AS BIGINT) + CAST(r_days < rq2 AS BIGINT)
          |      + CAST(r_days < rq1 AS BIGINT) AS r_score,
          |    1 + CAST(f > fq1 AS BIGINT) + CAST(f > fq2 AS BIGINT)
          |      + CAST(f > fq3 AS BIGINT) AS f_score,
          |    1 + CAST(m_us > mq1 AS BIGINT) + CAST(m_us > mq2 AS BIGINT)
          |      + CAST(m_us > mq3 AS BIGINT) AS m_score
          |  FROM per CROSS JOIN q
          |)
          |SELECT r_score, f_score, m_score,
          |  CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3
          |         THEN 'champion'
          |       WHEN r_score >= 3 AND f_score < 3 THEN 'recent'
          |       WHEN r_score < 3 AND f_score >= 3 THEN 'at_risk'
          |       ELSE 'hibernating' END AS segment,
          |  count(*) AS n_users,
          |  round(CAST(sum(m_us) AS DOUBLE) / 1000000.0 / count(*), 6)
          |    AS avg_monetary
          |FROM scored GROUP BY r_score, f_score, m_score
          |ORDER BY r_score, f_score, m_score""".stripMargin),
    ) { (s, dir) =>
      rfmScored(Tables.events(s, dir))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("m_us")).cast("double") / lit(1000000.0)
            / count(lit(1)), 6).as("avg_monetary"))
        .select(col("r_score"), col("f_score"), col("m_score"),
          when(col("r_score") >= 3 && col("f_score") >= 3
            && col("m_score") >= 3, "champion")
            .when(col("r_score") >= 3 && col("f_score") < 3, "recent")
            .when(col("r_score") < 3 && col("f_score") >= 3, "at_risk")
            .otherwise("hibernating").as("segment"),
          col("n_users"), col("avg_monetary"))
        .orderBy("r_score", "f_score", "m_score")
    },

    Q(
      "q_theta_intersect",
      "distinct-user OVERLAP between every event-type pair via THETA " +
        "sketches — the set operation HLL state structurally cannot " +
        "do (HLL unions; only theta intersects), which is why this " +
        "row exists beside q_hll_partials: a theta state table of " +
        "per-(day, type) sketch rows answers 'how many users do " +
        "types A and B share?' FROM STATE ALONE — at 100 TB a " +
        "KB-sized sketch join instead of a raw-history rescan. " +
        "Per-day partials union to per-type sketches " +
        "(theta_union_agg), every pair intersects via a broadcast " +
        "self-join of the types-sized sketch frame " +
        "(theta_intersect_estimate — types² rows, never touching " +
        "events again). Retention is hash-threshold-only under the " +
        "fixed seed, so sketches, unions, intersections, and " +
        "estimates are insertion-order-independent — reproducible " +
        "at any parallelism (ThetaSpec pins order/split invariance). " +
        "The q_hll_partials oracle contract: both engines emit the " +
        "EXACT pair overlap (user-keyed equi-join of the distinct " +
        "(type, user) frame, types²-bounded fan-out) while two " +
        "deterministic flags assert sketch quality — the direct " +
        "estimate within 5% of exact, and union-of-partials within " +
        "1% of the single-pass sketch (below the 4096 nominal " +
        "entries both are in EXACT mode, so the flags pin equality " +
        "at test SFs and the tolerance documents estimation-mode " +
        "behavior beyond)",
      Some(thetaIntersectSql),
    ) { (s, dir) =>
      val ev = thetaEvents(s, dir)
      val tu = ev.select("event_type", "user_id").distinct()
      // Stage 1 — the per-(day, type) sketch state a pipeline persists.
      val state = ev.groupBy("day", "event_type")
        .agg(expr("theta_sketch_agg(user_id)").as("sk"))
      // Stage 2 — rollups run on STATE/distinct frames, not raw events.
      val fromPartials = state.groupBy("event_type")
        .agg(expr("theta_union_agg(sk)").as("sk"))
      thetaReadout(tu, fromPartials)
    },

    Q(
      "q_theta_diff",
      "EXCLUSIVE audience per event type via theta A-NOT-B — with " +
        "q_theta_intersect's intersection, the full set algebra a " +
        "sketch state table supports: users who did THIS type and no " +
        "other, answered from per-type sketches alone " +
        "(theta_anotb_estimate of each type's sketch against the " +
        "union of all the others — a broadcast self-join of the " +
        "types-sized sketch frame, types² sketch unions, events " +
        "never rescanned). The q_hll_partials oracle contract " +
        "again: both engines emit the EXACT per-type distinct and " +
        "exclusive counts (one user-keyed type-count agg — a user " +
        "is exclusive iff they touched exactly one type), plus a " +
        "deterministic flag asserting the sketch path within 5% " +
        "(exact-mode equality at test SFs). At 100 TB this is the " +
        "churn-overlap audit every mixture owner runs daily, priced " +
        "at a KB state join",
      Some(
        """WITH tu AS (
          |  SELECT DISTINCT event_type, user_id FROM events
          |), u AS (
          |  SELECT user_id, count(*) AS nt FROM tu GROUP BY user_id
          |), x AS (
          |  SELECT t.event_type, CAST(count(*) AS BIGINT) AS n_exclusive
          |  FROM tu t JOIN u ON u.user_id = t.user_id AND u.nt = 1
          |  GROUP BY 1
          |), n AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
          |  FROM tu GROUP BY 1
          |)
          |SELECT n.event_type, n.n_users,
          |  coalesce(x.n_exclusive, 0) AS n_exclusive,
          |  CAST(1 AS BIGINT) AS excl_within_5pct
          |FROM n LEFT JOIN x USING (event_type)
          |ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      val tu = thetaEvents(s, dir).select("event_type", "user_id").distinct()
      val exact = tu
        .withColumn("nt", count(lit(1))
          .over(Window.partitionBy("user_id")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("nt") === 1, 1L).otherwise(0L)).as("n_exclusive"))
      val perType = tu.groupBy("event_type")
        .agg(expr("theta_sketch_agg(user_id)").as("sk"))
      val others = perType.select(col("event_type").as("t"), col("sk"))
        .join(broadcast(perType.select(col("event_type"), col("sk")
          .as("sk_o"))), col("event_type") =!= col("t"))
        .groupBy(col("t").as("event_type"))
        .agg(expr("theta_union_agg(sk_o)").as("others_sk"))
      val est = perType.join(others, Seq("event_type"))
        .select(col("event_type"),
          expr("theta_anotb_estimate(sk, others_sk)").as("est_excl"))
      exact.join(est, Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("n_exclusive"),
          when(abs(col("est_excl") - col("n_exclusive")).cast("double")
            / greatest(col("n_exclusive"), lit(1L)) <= 0.05, 1L)
            .otherwise(0L).as("excl_within_5pct"))
        .orderBy("event_type")
    },

    thetaRollingQ,

    kllRollingQ,

    Q(
      "q_srm_check",
      "SAMPLE RATIO MISMATCH guardrail (the check every experiment " +
        "readout must pass FIRST — an assignment imbalance invalidates " +
        "the md5-split rows q_ab_test/q_logrank downstream, and SRM is " +
        "the single most common way experiments silently rot): USERS " +
        "(the assignment unit, not events — event-level counts " +
        "conflate activity with assignment) split by the same sticky " +
        "md5 hash q_ab_test uses, compared to the expected 50/50 via " +
        "the one-degree chi-square χ² = (ua − ub)²/(ua + ub), exact " +
        "integers with one mirrored division, flagged at the " +
        "conventional p<0.001 guardrail (χ² > 10.828) — loose on " +
        "purpose, because SRM checks fire on every metric refresh " +
        "and a p<0.05 trigger would false-alarm weekly. Also emits " +
        "the per-arm EVENT counts whose imbalance is legitimate " +
        "(activity differs; only the USER split is guaranteed). " +
        "Two keyed aggs, 1-row output, zero windows",
      Some {
        s"""WITH u AS (
           |  SELECT DISTINCT user_id,
           |    CASE WHEN ${Arms.Md5Sql} = 0 THEN 0 ELSE 1 END AS grp
           |  FROM events
           |), uc AS (
           |  SELECT
           |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ua,
           |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ub
           |  FROM u
           |), ec AS (
           |  SELECT
           |    CAST(sum(CASE WHEN ${Arms.Md5Sql} = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS ea,
           |    CAST(sum(CASE WHEN ${Arms.Md5Sql} = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS eb
           |  FROM events
           |)
           |SELECT ua, ub, ea, eb,
           |  round(CAST((ua - ub) * (ua - ub) AS DOUBLE) / (ua + ub), 6)
           |    AS chi2,
           |  CAST(CAST((ua - ub) * (ua - ub) AS DOUBLE) / (ua + ub) > 10.828
           |    AS BIGINT) AS srm_flag
           |FROM uc CROSS JOIN ec""".stripMargin
      },
    ) { (s, dir) =>
      val grp = Arms.md5
      val uc = Tables.events(s, dir).select(col("user_id")).distinct()
        .agg(sum(when(grp === 0, 1L).otherwise(0L)).as("ua"),
          sum(when(grp === 1, 1L).otherwise(0L)).as("ub"))
      val ec = Tables.events(s, dir)
        .agg(sum(when(grp === 0, 1L).otherwise(0L)).as("ea"),
          sum(when(grp === 1, 1L).otherwise(0L)).as("eb"))
      uc.crossJoin(broadcast(ec))
        .selectExpr("ua", "ub", "ea", "eb",
          """round(CAST((ua - ub) * (ua - ub) AS DOUBLE) / (ua + ub), 6)
            |  AS chi2""".stripMargin,
          """CAST(CAST((ua - ub) * (ua - ub) AS DOUBLE) / (ua + ub) > 10.828
            |  AS BIGINT) AS srm_flag""".stripMargin)
    },

    Q(
      "q_winsorized_ab",
      "WINSORIZED A/B comparison (the heavy-tail hygiene every " +
        "experimentation platform applies before trusting a mean " +
        "shift): values cap at the pooled p99 — an EXACT order " +
        "statistic via the cents-domain cumulative (min value whose " +
        "cumulative count reaches ceil(0.99·n), the q_conformal " +
        "machinery) — then a Welch t-statistic on the capped metric, " +
        "with per-arm variances from exact capped power sums (the " +
        "(n·Σx² − (Σx)²) numerators in DECIMAL(38)/HUGEINT — the " +
        "moments-s4 precedent) and the one sqrt 6dp-rounded at the " +
        "libm boundary (the q_ab_test convention). Capping is " +
        "per-row integer arithmetic, so the whole readout stays " +
        "oracle-exact while doing the one thing the plain t-test " +
        "can't: keeping a single whale purchase from deciding the " +
        "experiment. One cents-domain window + two keyed aggs; " +
        "null result on uniform synthetic arms is the check. The p99 " +
        "window is the VALUE-DOMAIN WINDOW CLASS (EventsOps " +
        "scaladoc): two-decimal money makes the distinct-cents " +
        "rollup finite by construction",
      Some(
        s"""WITH e AS (
          |  ${Arms.armedSql(Nil, "v_c")}
          |), n AS (
          |  SELECT CAST(count(*) AS BIGINT) AS ntot,
          |    CAST(ceil(count(*) * 0.99) AS BIGINT) AS kk
          |  FROM e
          |), vc AS (
          |  SELECT v_c, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY v_c
          |), cum AS (
          |  SELECT v_c, sum(c) OVER (ORDER BY v_c) AS cle FROM vc
          |), cap AS (
          |  SELECT min(c.v_c) AS cap_c FROM cum c CROSS JOIN n
          |  WHERE c.cle >= n.kk
          |), wz AS (
          |  SELECT grp, least(v_c, cap_c) AS w_c FROM e CROSS JOIN cap
          |), s AS (
          |  ${Arms.powerSumsSql(Nil, "w_c", from = "wz")}
          |), f AS (
          |  SELECT na, nb, sa, sb,
          |    CAST(CAST(qa AS HUGEINT) * na - CAST(sa AS HUGEINT) * sa
          |      AS DOUBLE) AS va,
          |    CAST(CAST(qb AS HUGEINT) * nb - CAST(sb AS HUGEINT) * sb
          |      AS DOUBLE) AS vb
          |  FROM s
          |)
          |SELECT f.na, f.nb, round(CAST(cap.cap_c AS DOUBLE) / 100, 6)
          |    AS cap_value,
          |  round((CAST(f.sa AS DOUBLE) / f.na - CAST(f.sb AS DOUBLE) / f.nb)
          |    / 100, 6) AS mean_diff_w,
          |  round((CAST(f.sa AS DOUBLE) / f.na - CAST(f.sb AS DOUBLE) / f.nb)
          |    / round(sqrt(
          |        f.va / (CAST(f.na AS DOUBLE) * f.na * (f.na - 1))
          |      + f.vb / (CAST(f.nb AS DOUBLE) * f.nb * (f.nb - 1))), 6), 6)
          |    AS t_w,
          |  CAST(abs((CAST(f.sa AS DOUBLE) / f.na - CAST(f.sb AS DOUBLE)
          |      / f.nb)
          |    / round(sqrt(
          |        f.va / (CAST(f.na AS DOUBLE) * f.na * (f.na - 1))
          |      + f.vb / (CAST(f.nb AS DOUBLE) * f.nb * (f.nb - 1))), 6))
          |    > 1.96 AS BIGINT) AS significant
          |FROM f CROSS JOIN cap""".stripMargin),
    ) { (s, dir) =>
      val e = Arms.armed(Tables.events(s, dir), Nil, "v_c")
      val n = e.agg(count(lit(1)).as("ntot"),
        ceil(count(lit(1)) * 0.99).cast("long").as("kk"))
      val w = Window.orderBy("v_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cap = e.groupBy("v_c").agg(count(lit(1)).as("c"))
        .withColumn("cle", sum(col("c")).over(w))
        .crossJoin(broadcast(n))
        .filter(col("cle") >= col("kk"))
        .agg(min(col("v_c")).as("cap_c"))
      val wz = e.crossJoin(broadcast(cap))
        .select(col("grp"), least(col("v_c"), col("cap_c")).as("w_c"))
      Arms.powerSums(wz, "w_c")
        .selectExpr("na", "nb", "sa", "sb",
          """CAST(CAST(qa AS DECIMAL(38,0)) * na - CAST(sa AS DECIMAL(38,0))
            |  * sa AS DOUBLE) AS va""".stripMargin,
          """CAST(CAST(qb AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0))
            |  * sb AS DOUBLE) AS vb""".stripMargin)
        .crossJoin(broadcast(cap))
        .selectExpr("na", "nb",
          "round(CAST(cap_c AS DOUBLE) / 100, 6) AS cap_value",
          """round((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
            |  / 100, 6) AS mean_diff_w""".stripMargin,
          """round((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
            |  / round(sqrt(
            |      va / (CAST(na AS DOUBLE) * na * (na - 1))
            |    + vb / (CAST(nb AS DOUBLE) * nb * (nb - 1))), 6), 6)
            |  AS t_w""".stripMargin,
          """CAST(abs((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
            |  / round(sqrt(
            |      va / (CAST(na AS DOUBLE) * na * (na - 1))
            |    + vb / (CAST(nb AS DOUBLE) * nb * (nb - 1))), 6))
            |  > 1.96 AS BIGINT) AS significant""".stripMargin)
    },

    Q(
      "q_ks_test",
      "two-sample KOLMOGOROV-SMIRNOV: the exact sup-norm ECDF " +
        "distance between the two arms' value distributions — the " +
        "distribution-shape drift test beside q_psi_drift's binned " +
        "divergence (PSI needs bins and misses where mass moves " +
        "WITHIN a bin; KS is bin-free). The D statistic is computed " +
        "with ZERO float comparisons in the argmax: D·na·nb = " +
        "max|cum_a·nb − cum_b·na| over exact BIGINT cumulative " +
        "counts, so the maximizer is integer-exact and one final " +
        "mirrored IEEE division lands both engines on the same 6dp " +
        "D (plus the asymptotic λ = D·sqrt(na·nb/(na+nb)) effect " +
        "size). The cumulative window runs over the DISTINCT CENTS " +
        "VALUE rollup — bounded by the two-decimal price domain, " +
        "not row count (the q_model_auc_binned discipline, here " +
        "with a domain that is genuinely finite) — after one " +
        "grp×value keyed agg. At 100 TB: one keyed agg, one " +
        "value-domain window, 1-row output (the VALUE-DOMAIN WINDOW " +
        "CLASS — one shared argument, EventsOps scaladoc)",
      Some(
        s"""WITH e AS (
          |  ${Arms.armedSql(Nil, "v_c")}
          |), n AS (
          |  SELECT ${Arms.countsSql("na", "nb")}
          |  FROM e
          |), vc AS (
          |  ${Arms.valueCountsSql(Seq("v_c"))}
          |), cum AS (
          |  SELECT v_c,
          |    sum(ca) OVER (ORDER BY v_c) AS cuma,
          |    sum(cb) OVER (ORDER BY v_c) AS cumb
          |  FROM vc
          |), d AS (
          |  SELECT max(abs(cuma * nb - cumb * na)) AS dnum
          |  FROM cum CROSS JOIN n
          |)
          |SELECT na, nb,
          |  round(CAST(dnum AS DOUBLE) / (na * nb), 6) AS ks_d,
          |  round(CAST(dnum AS DOUBLE) / (na * nb)
          |    * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)), 6) AS ks_lambda
          |FROM d CROSS JOIN n""".stripMargin),
    ) { (s, dir) =>
      val e = Arms.armed(Tables.events(s, dir), Nil, "v_c")
      val n = Arms.counts(e, "na", "nb")
      val w = Window.orderBy("v_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = Arms.valueCounts(e)
        .withColumn("cuma", sum(col("ca")).over(w))
        .withColumn("cumb", sum(col("cb")).over(w))
      cum.crossJoin(broadcast(n))
        .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
          .as("dnum"))
        .crossJoin(broadcast(n))
        .selectExpr("na", "nb",
          "round(CAST(dnum AS DOUBLE) / (na * nb), 6) AS ks_d",
          """round(CAST(dnum AS DOUBLE) / (na * nb)
            |  * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)), 6) AS ks_lambda"""
            .stripMargin)
    },

    Q(
      "q_did",
      "DIFFERENCE-IN-DIFFERENCES (the causal-inference workhorse for " +
        "rollouts without randomization): outcome change in the " +
        "treated group minus the change in the control group, under " +
        "the parallel-trends assumption — reported HERE with its own " +
        "diagnostic: the pre-period is split in half and the placebo " +
        "DiD between the two pre halves estimates the trend gap " +
        "(≈ 0 is the assumption holding; the readout shows both so " +
        "a reviewer sees effect AND diagnostic together, which is " +
        "how DiD should always ship). Groups = user parity, periods " +
        "= Jan halves; every cell mean comes from an exact BIGINT " +
        "cents sum + count, and the two DiD estimates are mirrored " +
        "IEEE expressions over those exact sums — the q_cuped " +
        "discipline. One user-free keyed agg " +
        "(cells bounded at 2 groups × 3 windows), zero windows, " +
        "zero joins",
      Some(
        s"""WITH e AS (
          |  SELECT ${Arms.ParitySql} AS grp,
          |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08'
          |           THEN 0
          |         WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
          |           THEN 1
          |         ELSE 2 END AS win,
          |    ${Arms.CentsSql} AS v_c
          |  FROM events
          |), c AS (
          |  SELECT grp, win, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(v_c) AS BIGINT) AS s
          |  FROM e GROUP BY grp, win
          |), w AS (
          |  SELECT
          |    max(CASE WHEN grp = 1 AND win = 2 THEN CAST(s AS DOUBLE) / n END) AS t_post,
          |    max(CASE WHEN grp = 1 AND win = 1 THEN CAST(s AS DOUBLE) / n END) AS t_pre,
          |    max(CASE WHEN grp = 1 AND win = 0 THEN CAST(s AS DOUBLE) / n END) AS t_pre0,
          |    max(CASE WHEN grp = 0 AND win = 2 THEN CAST(s AS DOUBLE) / n END) AS c_post,
          |    max(CASE WHEN grp = 0 AND win = 1 THEN CAST(s AS DOUBLE) / n END) AS c_pre,
          |    max(CASE WHEN grp = 0 AND win = 0 THEN CAST(s AS DOUBLE) / n END) AS c_pre0,
          |    CAST(sum(n) AS BIGINT) AS n_events
          |  FROM c
          |)
          |SELECT n_events,
          |  round(((t_post - t_pre) - (c_post - c_pre)) / 100, 6) AS did,
          |  round(((t_pre - t_pre0) - (c_pre - c_pre0)) / 100, 6)
          |    AS placebo_did
          |FROM w""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.events(s, dir).select(
        Arms.parity.as("grp"),
        when(col("ts") < lit("2024-01-08").cast("timestamp"), 0)
          .when(col("ts") < lit("2024-01-16").cast("timestamp"), 1)
          .otherwise(2).as("win"),
        Arms.cents.as("v_c"))
      e.groupBy("grp", "win")
        .agg(count(lit(1)).as("n"), sum(col("v_c")).as("s"))
        .agg(
          max(when(col("grp") === 1 && col("win") === 2,
            col("s").cast("double") / col("n"))).as("t_post"),
          max(when(col("grp") === 1 && col("win") === 1,
            col("s").cast("double") / col("n"))).as("t_pre"),
          max(when(col("grp") === 1 && col("win") === 0,
            col("s").cast("double") / col("n"))).as("t_pre0"),
          max(when(col("grp") === 0 && col("win") === 2,
            col("s").cast("double") / col("n"))).as("c_post"),
          max(when(col("grp") === 0 && col("win") === 1,
            col("s").cast("double") / col("n"))).as("c_pre"),
          max(when(col("grp") === 0 && col("win") === 0,
            col("s").cast("double") / col("n"))).as("c_pre0"),
          sum(col("n")).as("n_events"))
        .selectExpr("n_events",
          "round(((t_post - t_pre) - (c_post - c_pre)) / 100, 6) AS did",
          """round(((t_pre - t_pre0) - (c_pre - c_pre0)) / 100, 6)
            |  AS placebo_did""".stripMargin)
    },

    Q(
      "q_cuped",
      "CUPED variance reduction (Deng et al. 2013 — the " +
        "experimentation-platform standard at Microsoft/Netflix " +
        "scale): per-user pre-period value (X, days 1-15) adjusts " +
        "the post-period metric (Y) as Y' = Y − θ(X − E[X]) with " +
        "θ = cov(X,Y)/var(X), shrinking metric variance by ρ² " +
        "without biasing the treatment effect (assignment = " +
        "user_id parity, the synthetic A/B harness). The whole " +
        "readout — θ, raw and CUPED effects, variance reduction — " +
        "REDUCES TO EXACT POWER SUMS: per-user cents totals, then " +
        "one user-keyed agg of n/Σx/Σy/Σx²/Σxy/Σy² plus treatment " +
        "slices (all BIGINT, order-free), with var(Y') = var(Y) − " +
        "2θcov + θ²var(X) expanded in closed form so NO per-user " +
        "double (θ-dependent) value is ever summed — the one design " +
        "choice that keeps a covariate adjustment oracle-exact. " +
        "Finishing is mirrored-text IEEE over the exact sums (the " +
        "momentFinish convention). At 100 TB: one user-keyed " +
        "rollup, one 1-row agg, zero windows",
      Some(
        s"""WITH e AS (
          |  SELECT user_id, ${Arms.CentsSql} AS v_c,
          |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
          |      THEN 0 ELSE 1 END AS period
          |  FROM events
          |), u AS (
          |  SELECT user_id, ${Arms.ParitySql} AS grp,
          |    CAST(sum(CASE WHEN period = 0 THEN v_c ELSE 0 END) AS BIGINT)
          |      AS x_c,
          |    CAST(sum(CASE WHEN period = 1 THEN v_c ELSE 0 END) AS BIGINT)
          |      AS y_c
          |  FROM e GROUP BY user_id
          |), s AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(x_c) AS BIGINT) AS sx, CAST(sum(y_c) AS BIGINT) AS sy,
          |    CAST(sum(x_c * x_c) AS BIGINT) AS sxx,
          |    CAST(sum(x_c * y_c) AS BIGINT) AS sxy,
          |    CAST(sum(y_c * y_c) AS BIGINT) AS syy,
          |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
          |    CAST(sum(CASE WHEN grp = 1 THEN x_c ELSE 0 END) AS BIGINT)
          |      AS sxt,
          |    CAST(sum(CASE WHEN grp = 1 THEN y_c ELSE 0 END) AS BIGINT)
          |      AS syt
          |  FROM u
          |), f AS (
          |  SELECT n, nt, n - nt AS nc, sx, sy, sxt, syt,
          |    (CAST(sxy AS DOUBLE) / n
          |      - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
          |      AS cov_xy,
          |    (CAST(sxx AS DOUBLE) / n
          |      - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
          |      AS var_x,
          |    (CAST(syy AS DOUBLE) / n
          |      - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
          |      AS var_y
          |  FROM s
          |)
          |SELECT n, nt,
          |  round(cov_xy / var_x, 6) AS theta,
          |  round((CAST(syt AS DOUBLE) / nt - CAST(sy - syt AS DOUBLE) / nc)
          |    / 100, 6) AS effect_raw,
          |  round(((CAST(syt AS DOUBLE) / nt - CAST(sy - syt AS DOUBLE) / nc)
          |    - cov_xy / var_x
          |      * (CAST(sxt AS DOUBLE) / nt - CAST(sx - sxt AS DOUBLE) / nc))
          |    / 100, 6) AS effect_cuped,
          |  round(1 - (var_y - cov_xy / var_x * cov_xy) / var_y, 6)
          |    AS var_reduction
          |FROM f""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"),
        Arms.cents.as("v_c"),
        when(col("ts") < lit("2024-01-16").cast("timestamp"), 0)
          .otherwise(1).as("period"))
      val u = e.groupBy("user_id").agg(
        sum(when(col("period") === 0, col("v_c")).otherwise(0L)).as("x_c"),
        sum(when(col("period") === 1, col("v_c")).otherwise(0L)).as("y_c"))
        .withColumn("grp", Arms.parity)
      u.agg(count(lit(1)).as("n"),
        sum(col("x_c")).as("sx"), sum(col("y_c")).as("sy"),
        sum(col("x_c") * col("x_c")).as("sxx"),
        sum(col("x_c") * col("y_c")).as("sxy"),
        sum(col("y_c") * col("y_c")).as("syy"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("grp") === 1, col("x_c")).otherwise(0L)).as("sxt"),
        sum(when(col("grp") === 1, col("y_c")).otherwise(0L)).as("syt"))
        .selectExpr("n", "nt", "n - nt AS nc", "sx", "sy", "sxt", "syt",
          """(CAST(sxy AS DOUBLE) / n
            |  - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
            |  AS cov_xy""".stripMargin,
          """(CAST(sxx AS DOUBLE) / n
            |  - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
            |  AS var_x""".stripMargin,
          """(CAST(syy AS DOUBLE) / n
            |  - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
            |  AS var_y""".stripMargin)
        .selectExpr("n", "nt",
          "round(cov_xy / var_x, 6) AS theta",
          """round((CAST(syt AS DOUBLE) / nt - CAST(sy - syt AS DOUBLE) / nc)
            |  / 100, 6) AS effect_raw""".stripMargin,
          """round(((CAST(syt AS DOUBLE) / nt - CAST(sy - syt AS DOUBLE) / nc)
            |  - cov_xy / var_x
            |    * (CAST(sxt AS DOUBLE) / nt - CAST(sx - sxt AS DOUBLE) / nc))
            |  / 100, 6) AS effect_cuped""".stripMargin,
          """round(1 - (var_y - cov_xy / var_x * cov_xy) / var_y, 6)
            |  AS var_reduction""".stripMargin)
    },

    Q(
      "q_conformal",
      "SPLIT-CONFORMAL prediction intervals (Vovk; the " +
        "distribution-free calibration standard): rows hash into " +
        "fit/calibration/test folds (event_id mod 5 — ROWS, not " +
        "users, because the conformal guarantee needs exchangeable " +
        "calibration/test UNITS; a user-level split clusters " +
        "correlated residuals and weakens coverage to the group " +
        "level, measured directly at tiny SF), a per-type exact " +
        "cents mean fits on the fit fold, qhat is the " +
        "ceil((n_cal+1)·0.9)-th smallest calibration residual, and " +
        "the test fold's coverage of mean ± qhat is the exact " +
        "finite-sample readout that must land near 90% by " +
        "exchangeability alone — no distributional assumption, " +
        "which is the whole point. EVERYTHING here is exact (no " +
        "sketch, no flags): residuals are integer cents, qhat is a " +
        "true order statistic computed as min{r : cum_count(r) ≥ k} " +
        "over the per-(type, residual-value) rollup — the cumulative " +
        "window's input is bounded by the CENTS VALUE DOMAIN (two-" +
        "decimal bounded prices), not row count, the q_model_auc_" +
        "binned discipline — and coverage is one mirrored IEEE " +
        "division of exact counts. At 100 TB: three keyed aggs and " +
        "two broadcast joins of #types-row frames; the only windows " +
        "run over value-domain-bounded rollups (the VALUE-DOMAIN " +
        "WINDOW CLASS — one shared argument, EventsOps scaladoc)",
      Some(
        """WITH e AS (
          |  SELECT event_type, event_id % 5 AS fold,
          |    CAST(round(value * 100) AS BIGINT) AS v_c
          |  FROM events
          |), m AS (
          |  SELECT event_type,
          |    CAST(round(CAST(sum(v_c) AS DOUBLE) / count(*)) AS BIGINT)
          |      AS mean_c
          |  FROM e WHERE fold >= 2 GROUP BY event_type
          |), cal AS (
          |  SELECT e.event_type, abs(e.v_c - m.mean_c) AS r
          |  FROM e JOIN m ON e.event_type = m.event_type WHERE e.fold = 1
          |), k AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
          |    CAST(ceil((count(*) + 1) * 0.9) AS BIGINT) AS kk
          |  FROM cal GROUP BY event_type
          |), rc AS (
          |  SELECT event_type, r, count(*) AS c FROM cal
          |  GROUP BY event_type, r
          |), cum AS (
          |  SELECT event_type, r,
          |    sum(c) OVER (PARTITION BY event_type ORDER BY r) AS cle
          |  FROM rc
          |), qh AS (
          |  SELECT c.event_type, min(c.r) AS qhat_c
          |  FROM cum c JOIN k ON k.event_type = c.event_type
          |    AND c.cle >= k.kk
          |  GROUP BY c.event_type
          |)
          |SELECT e.event_type, k.n_cal, qh.qhat_c,
          |  CAST(count(*) AS BIGINT) AS n_test,
          |  round(CAST(sum(CASE WHEN abs(e.v_c - m.mean_c) <= qh.qhat_c
          |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage
          |FROM e JOIN m ON e.event_type = m.event_type
          |JOIN qh ON qh.event_type = e.event_type
          |JOIN k ON k.event_type = e.event_type
          |WHERE e.fold = 0
          |GROUP BY e.event_type, k.n_cal, qh.qhat_c
          |ORDER BY e.event_type""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("event_type"),
        pmod(col("event_id"), lit(5)).as("fold"),
        round(col("value") * 100, 0).cast("long").as("v_c"))
      val m = e.filter(col("fold") >= 2).groupBy("event_type")
        .agg(round(sum(col("v_c")).cast("double") / count(lit(1)), 0)
          .cast("long").as("mean_c"))
      val cal = e.filter(col("fold") === 1)
        .join(broadcast(m), "event_type")
        .select(col("event_type"), abs(col("v_c") - col("mean_c")).as("r"))
      val k = cal.groupBy("event_type").agg(count(lit(1)).as("n_cal"),
        ceil((count(lit(1)) + 1) * 0.9).cast("long").as("kk"))
      val w = Window.partitionBy("event_type").orderBy("r")
      val qh = cal.groupBy("event_type", "r").agg(count(lit(1)).as("c"))
        .withColumn("cle", sum(col("c")).over(w))
        .join(broadcast(k), "event_type")
        .filter(col("cle") >= col("kk"))
        .groupBy("event_type").agg(min(col("r")).as("qhat_c"))
      e.filter(col("fold") === 0)
        .join(broadcast(m), "event_type")
        .join(broadcast(qh), "event_type")
        .join(broadcast(k.select(col("event_type"), col("n_cal"))),
          "event_type")
        .groupBy("event_type", "n_cal", "qhat_c")
        .agg(count(lit(1)).as("n_test"),
          round(sum(when(abs(col("v_c") - col("mean_c")) <= col("qhat_c"),
            1L).otherwise(0L)).cast("double") / count(lit(1)), 6)
            .as("coverage"))
        .select(col("event_type"), col("n_cal"), col("qhat_c"),
          col("n_test"), col("coverage"))
        .orderBy("event_type")
    },

    Q(
      "q_session_overlap",
      "cross-user SESSION OVERLAP pairs via the DECLARATIVE interval-" +
        "overlap join: sessions collapse to [start, end] second " +
        "intervals and the naive theta join `a.st <= b.en AND b.st " +
        "<= a.en AND a.user < b.user` — no equi keys, nested-loop " +
        "territory for Spark alone — is planned by the engine's " +
        "IntervalOverlapJoin optimizer rule (the FIFTH declarative-" +
        "scale rule): both sides explode over buckets of the mean " +
        "session span rounded to a power of two (32 s at sf0.1), " +
        "equi-join on the bucket, original predicate re-verified, " +
        "and the canonical shared-bucket filter (greatest of the two " +
        "lo-buckets) keeps exactly one match per qualifying pair — " +
        "the FuzzyJoinBlocking multiplicity trick on intervals. " +
        "Where q_concurrency's sweep-line answers 'how many at " +
        "once', this answers WHICH pairs co-occurred (co-presence/" +
        "collusion/contention analysis) — the join q_concurrency's " +
        "doc names as the O(n²) trap, made tractable by the " +
        "planner. Overlap arithmetic is exact BIGINT epoch-seconds " +
        "(both engines floor µs identically); readout is the " +
        "1-row pair-count/duration rollup. NestedLoop-free is " +
        "plan-pinned in IntervalRuleSpec; at 100 TB the one " +
        "shuffle is bucket-keyed and AQE-skew-splittable, with " +
        "candidates minimized when the bin width tracks the " +
        "typical session length (derived from the data's own " +
        "session lengths at plan time)",
      Some(
        s"""WITH $sessionsSqlCte, sess AS (
           |  SELECT user_id, session_seq,
           |    epoch_us(min(ts)) // 1000000 AS st_s,
           |    epoch_us(max(ts)) // 1000000 AS en_s
           |  FROM sessions GROUP BY user_id, session_seq
           |), p AS (
           |  SELECT least(a.en_s, b.en_s) - greatest(a.st_s, b.st_s) AS ov
           |  FROM sess a JOIN sess b
           |    ON a.st_s <= b.en_s AND b.st_s <= a.en_s
           |      AND a.user_id < b.user_id
           |)
           |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(ov) AS BIGINT) AS sum_overlap_s,
           |  CAST(max(ov) AS BIGINT) AS max_overlap_s
           |FROM p""".stripMargin),
    ) { (s, dir) =>
      val sess = sessionized(s, dir)
        .groupBy("user_id", "session_seq")
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        .select(col("user_id"),
          expr("unix_micros(st) div 1000000").as("st_s"),
          expr("unix_micros(en) div 1000000").as("en_s"))
        .localCheckpoint()
      val a = sess.select(col("user_id").as("ua"),
        col("st_s").as("sa"), col("en_s").as("ea"))
      val b = sess.select(col("user_id").as("ub"),
        col("st_s").as("sb"), col("en_s").as("eb"))
      val ov = least(col("ea"), col("eb")) - greatest(col("sa"), col("sb"))
      a.join(b, col("sa") <= col("eb") && col("sb") <= col("ea")
          && col("ua") < col("ub"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(ov).as("sum_overlap_s"),
          max(ov).as("max_overlap_s"))
    },

    Q(
      "q_sql_interval",
      "the SQL-TEXT face of the IntervalOverlapJoin rule: " +
        "q_session_overlap's naive overlap sandwich `a.st <= b.en " +
        "AND b.st <= a.en AND a.user < b.user` written as ANSI text " +
        "over a temp view of session intervals and executed through " +
        "spark.sql — proving the fifth declarative-scale rule fires " +
        "on the parsed-SQL path exactly as on DataFrame trees (the " +
        "q_sql_jaccard contract; pinned NestedLoop-free in " +
        "IntervalRuleSpec's sql-text test). The interval fixture " +
        "arrives via the q_sql_cos view precedent (sessionized() " +
        "prepares sess_sql_iv; the demonstration is the parsed " +
        "JOIN); readout is the per-10-minute overlap histogram, " +
        "cross-checking q_session_overlap's 1-row rollup through " +
        "the shared sessions oracle CTE",
      Some(
        s"""WITH $sessionsSqlCte, sess AS (
           |  SELECT user_id, session_seq,
           |    epoch_us(min(ts)) // 1000000 AS st_s,
           |    epoch_us(max(ts)) // 1000000 AS en_s
           |  FROM sessions GROUP BY user_id, session_seq
           |), p AS (
           |  SELECT least(a.en_s, b.en_s) - greatest(a.st_s, b.st_s) AS ov
           |  FROM sess a JOIN sess b
           |    ON a.st_s <= b.en_s AND b.st_s <= a.en_s
           |      AND a.user_id < b.user_id
           |)
           |SELECT CAST(ov // 600 AS BIGINT) AS ov_bucket,
           |  CAST(count(*) AS BIGINT) AS n_pairs
           |FROM p GROUP BY 1 ORDER BY ov_bucket""".stripMargin),
    ) { (s, dir) =>
      sessionized(s, dir)
        .groupBy("user_id", "session_seq")
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        .select(col("user_id"),
          expr("unix_micros(st) div 1000000").as("st_s"),
          expr("unix_micros(en) div 1000000").as("en_s"))
        .localCheckpoint()
        .createOrReplaceTempView("sess_sql_iv")
      s.sql(EventsOps.SqlIntervalText)
    },

    Q(
      "q_tcloseness",
      "t-CLOSENESS audit per event type over the cents value domain " +
        "— the third rung of the release-governance ladder " +
        "(q_kanon_audit: groups big enough; q_ldiversity: sensitive " +
        "values varied enough; HERE: the group's sensitive " +
        "DISTRIBUTION close enough to the global one that membership " +
        "leaks nothing distributional). Distance is the ordinal Earth " +
        "Mover's Distance of Li et al. 2007: EMD = sum_v |CumP_g(v) " +
        "- CumP(v)| / (m-1) over the m distinct global values — and " +
        "the whole computation is EXACT integers until one final " +
        "division: |cumg*N - cum*n_g| clears both denominators, the " +
        "per-type cumulative runs over the types x distinct-cents " +
        "grid (the VALUE-DOMAIN WINDOW CLASS — one shared argument, " +
        "EventsOps scaladoc), and the t <= 0.2 flag is the exact " +
        "integer comparison 5*emd_num <= n_g*N*(m-1), immune to the " +
        "division's rounding. At 100 TB: one corpus pass to (type, " +
        "cents) counts, a value-domain-bounded grid join + window, " +
        "#types output rows",
      Some(
        """WITH e AS (
          |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events
          |), gv AS (
          |  SELECT v, CAST(count(*) AS BIGINT) AS ctot FROM e GROUP BY v
          |), tv AS (
          |  SELECT event_type, v, CAST(count(*) AS BIGINT) AS cg
          |  FROM e GROUP BY event_type, v
          |), ty AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS ng FROM e
          |  GROUP BY event_type
          |), tot AS (
          |  SELECT CAST(count(*) AS BIGINT) AS nn,
          |    CAST(count(DISTINCT v) AS BIGINT) AS m FROM e
          |), grid AS (
          |  SELECT ty.event_type, ty.ng, gv.v, gv.ctot,
          |    coalesce(tv.cg, 0) AS cg
          |  FROM ty CROSS JOIN gv
          |  LEFT JOIN tv ON tv.event_type = ty.event_type AND tv.v = gv.v
          |), c AS (
          |  SELECT event_type, ng, v,
          |    sum(cg) OVER (PARTITION BY event_type ORDER BY v) AS cumg,
          |    sum(ctot) OVER (PARTITION BY event_type ORDER BY v) AS cum
          |  FROM grid
          |), d AS (
          |  SELECT event_type, ng,
          |    CAST(sum(abs(CAST(cumg AS HUGEINT) * nn
          |      - CAST(cum AS HUGEINT) * ng)) AS HUGEINT) AS emd_num
          |  FROM c CROSS JOIN tot GROUP BY event_type, ng, nn
          |)
          |SELECT d.event_type, d.ng AS n,
          |  round(CAST(d.emd_num AS DOUBLE)
          |    / (CAST(d.ng AS DOUBLE) * nn * (m - 1)), 6) AS emd,
          |  CASE WHEN d.emd_num * 5 <= CAST(d.ng AS HUGEINT) * nn * (m - 1)
          |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS t_close
          |FROM d CROSS JOIN tot ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("v"))
      val gv = e.groupBy("v").agg(count(lit(1)).as("ctot"))
      val tv = e.groupBy("event_type", "v").agg(count(lit(1)).as("cg"))
      val ty = e.groupBy("event_type").agg(count(lit(1)).as("ng"))
      val tot = e.agg(count(lit(1)).as("nn"),
        countDistinct(col("v")).as("m"))
      val grid = ty.crossJoin(broadcast(gv))
        .join(tv, Seq("event_type", "v"), "left")
        .select(col("event_type"), col("ng"), col("v"), col("ctot"),
          coalesce(col("cg"), lit(0L)).as("cg"))
      val w = Window.partitionBy("event_type").orderBy("v")
      val c = grid
        .withColumn("cumg", sum(col("cg")).over(w))
        .withColumn("cum", sum(col("ctot")).over(w))
      c.crossJoin(broadcast(tot))
        .groupBy("event_type", "ng", "nn")
        .agg(sum(abs(col("cumg").cast("decimal(38,0)") * col("nn")
          - col("cum").cast("decimal(38,0)") * col("ng"))).as("emd_num"))
        .crossJoin(broadcast(tot.select(col("m"))))
        .select(col("event_type"), col("ng").as("n"),
          round(col("emd_num").cast("double")
            / (col("ng").cast("double") * col("nn") * (col("m") - 1)), 6)
            .as("emd"),
          when(col("emd_num") * 5
            <= col("ng").cast("decimal(38,0)") * col("nn") * (col("m") - 1),
            1L).otherwise(0L).as("t_close"))
        .orderBy("event_type")
    },

    Q(
      "q_msprt",
      "mixture-SPRT SEQUENTIAL A/B test (Johari et al., the always-" +
        "valid-inference standard behind every modern peeking-safe " +
        "experimentation platform): where q_ab_test's fixed-horizon z " +
        "is only valid at ONE pre-registered n, the mSPRT likelihood " +
        "ratio against a N(0, tau^2) mixture alternative may be " +
        "monitored after EVERY day with exact type-I control — " +
        "ln Lambda_n = 0.5*ln(Vn/(Vn+tau^2)) + delta^2*tau^2/" +
        "(2*Vn*(Vn+tau^2)), rejected when the running max crosses " +
        "ln(1/alpha). The distributed shape: one corpus pass to " +
        "per-day exact arm power sums (n, sum-c, sum-c^2 as BIGINT — " +
        "the moments discipline), a #days-bounded cumulative window " +
        "(day-domain rollup, never rows), variance numerators in " +
        "exact n*q - s^2 integer form, and ln-domain finals (no exp " +
        "anywhere — the crossing flag compares the 6dp-rounded " +
        "running max against the ln(20) literal, so the alpha=0.05 " +
        "decision is determined by the rounded grid both engines " +
        "share). Null result on the uniform synthetic arms is the " +
        "expected reading; MsprtSpec plants a real lift and pins the " +
        "crossing day. At 100 TB: one keyed agg + a days-sized window",
      Some(msprtSql),
    ) { (s, dir) =>
      msprtCurve(Tables.events(s, dir)
        .select(col("ts"), col("user_id"), col("value")))
    },

    Q(
      "q_neyman_alloc",
      "NEYMAN-OPTIMAL stratified sampling allocation (the survey-" +
        "sampling classic behind every budgeted eval-set draw): given " +
        "a 1000-row labeling budget over event-type strata, allocate " +
        "proportional to N_h*S_h — variance-heavy strata earn more " +
        "samples than proportional allocation gives them, minimizing " +
        "the stratified estimator's variance at fixed budget (the " +
        "readout ships BOTH allocations; the gap IS the value of " +
        "knowing the variances). S_h comes from the exact integer " +
        "numerator N_h*q_h - s_h^2 (the moments discipline) with one " +
        "sqrt per stratum, each weight is then QUANTIZED to integer " +
        "micro-units and summed exactly (the c6 quantize-then-sum " +
        "discipline — no cross-engine float-sum ordering anywhere), " +
        "and shares/allocations are single IEEE divisions of exact " +
        "integers. At 100 TB: ONE corpus pass of map-side-combined " +
        "power sums to #strata rows, everything after is state-sized",
      Some(
        """WITH c AS (
          |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
          |  FROM events
          |), p AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS nh,
          |    CAST(sum(c) AS BIGINT) AS sh,
          |    CAST(sum(c * c) AS BIGINT) AS qh
          |  FROM c GROUP BY event_type
          |), wgt AS (
          |  SELECT event_type, nh,
          |    round(sqrt((CAST(nh AS DOUBLE) * qh - CAST(sh AS DOUBLE) * sh)
          |      / (CAST(nh AS DOUBLE) * (nh - 1))) / 100, 6) AS sd,
          |    CAST(round(nh * sqrt((CAST(nh AS DOUBLE) * qh
          |        - CAST(sh AS DOUBLE) * sh)
          |      / (CAST(nh AS DOUBLE) * (nh - 1))) * 1000000) AS BIGINT)
          |      AS w6
          |  FROM p
          |), tot AS (
          |  SELECT CAST(sum(w6) AS BIGINT) AS wtot,
          |    CAST(sum(nh) AS BIGINT) AS ntot FROM wgt
          |)
          |SELECT event_type, nh, sd,
          |  round(CAST(w6 AS DOUBLE) / wtot, 6) AS share,
          |  CAST(round(1000 * CAST(w6 AS DOUBLE) / wtot) AS BIGINT)
          |    AS alloc_neyman,
          |  CAST(round(1000 * CAST(nh AS DOUBLE) / ntot) AS BIGINT)
          |    AS alloc_prop
          |FROM wgt CROSS JOIN tot ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      val p = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("nh"), sum(col("c")).as("sh"),
          sum(col("c") * col("c")).as("qh"))
      val wgt = p.selectExpr("event_type", "nh",
        """round(sqrt((CAST(nh AS DOUBLE) * qh - CAST(sh AS DOUBLE) * sh)
          |  / (CAST(nh AS DOUBLE) * (nh - 1))) / 100, 6) AS sd""".stripMargin,
        """CAST(round(nh * sqrt((CAST(nh AS DOUBLE) * qh
          |    - CAST(sh AS DOUBLE) * sh)
          |  / (CAST(nh AS DOUBLE) * (nh - 1))) * 1000000) AS BIGINT)
          |  AS w6""".stripMargin)
      val tot = wgt.agg(sum(col("w6")).as("wtot"), sum(col("nh")).as("ntot"))
      wgt.crossJoin(broadcast(tot))
        .selectExpr("event_type", "nh", "sd",
          "round(CAST(w6 AS DOUBLE) / wtot, 6) AS share",
          "CAST(round(1000 * CAST(w6 AS DOUBLE) / wtot) AS BIGINT)"
            + " AS alloc_neyman",
          "CAST(round(1000 * CAST(nh AS DOUBLE) / ntot) AS BIGINT)"
            + " AS alloc_prop")
        .orderBy("event_type")
    },

    Q(
      "q_fdr_bh",
      "BENJAMINI-HOCHBERG FDR control across the per-type metric " +
        "family (Benjamini & Hochberg 1995, the multiple-testing " +
        "standard behind every many-metrics experiment readout): one " +
        "Welch z per event type between the q_ab_test arms, two-sided " +
        "p via the mirrored A&S 26.2.17 normal tail on the 1e-6 grid, " +
        "then the step-up — sort p ascending, reject ranks 1..i* " +
        "where i* = max{i : p_(i) <= i*alpha/m}. Running 5 metrics at " +
        "per-test alpha inflates family-wise false positives; BH caps " +
        "the FALSE DISCOVERY RATE and adaptively rejects MORE than " +
        "Bonferroni when many effects are real (FdrBhSpec pins a " +
        "3-vs-1 contrast). Everything decisive is exact: BIGINT power " +
        "sums, the grid p6i, and the BH compare p6i*20*m <= rk*1e6 in " +
        "pure integers (alpha = 1/20 exact). The uniform synthetic " +
        "arms read null — the expected result. At 100 TB: one keyed " +
        "corpus pass to #types rows; the rank/step-up windows run on " +
        "the #types-bounded rollup, never rows",
      Some(fdrBhSql),
    ) { (s, dir) =>
      fdrBhCurve(Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value")))
    },

    Q(
      "q_wasserstein",
      "exact 1-WASSERSTEIN (earth mover) distance between the two " +
        "arm value distributions per event type: W1 = ∫|F_a - F_b| dv " +
        "over the merged cents support — the metric that PRICES a " +
        "drift (average cents moved per unit mass) where q_ks_test's " +
        "sup-norm only detects it and q_psi_drift bins it away; W1 " +
        "obeys translation exactly (shift a distribution 50 cents, " +
        "W1 = 0.50 — WassersteinSpec pins it). Everything is exact " +
        "until one division: per support point the integrand " +
        "|cumA·nb - cumB·na| clears both denominators, the step " +
        "width (lead(v) - v) is an integer gap, terms sum in BIGINT " +
        "over the (type × distinct-cents) grid (the value-domain " +
        "window class), and W1 = Σ/(na·nb)/100 with the single IEEE " +
        "division 6dp-rounded. At 100 TB: one corpus pass to (type, " +
        "arm, cents) counts, domain-bounded windows, #types rows out",
      Some(
        s"""WITH e AS (
          |  ${Arms.armedSql(Seq("event_type"), "v")}
          |), vc AS (
          |  ${Arms.valueCountsSql(Seq("event_type", "v"))}
          |), cw AS (
          |  SELECT event_type, v,
          |    CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY v)
          |      AS BIGINT) AS cuma,
          |    CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v)
          |      AS BIGINT) AS cumb,
          |    CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
          |    CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb,
          |    lead(v) OVER (PARTITION BY event_type ORDER BY v) AS vnext
          |  FROM vc
          |)
          |SELECT event_type, max(na) AS na, max(nb) AS nb,
          |  round(CAST(sum(abs(cuma * nb - cumb * na)
          |      * (vnext - v)) AS DOUBLE)
          |    / (CAST(max(na) AS DOUBLE) * max(nb)) / 100, 6) AS w1
          |FROM cw WHERE vnext IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      wasserstein1(Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value")))
    },

    Q(
      "q_mann_whitney",
      "MANN-WHITNEY U / Wilcoxon rank-sum per event type: the " +
        "nonparametric A/B test that q_ab_test's t cannot replace " +
        "when the metric is skewed or ordinal — it compares RANKS, " +
        "so no moment needs to exist. Everything decisive is exact " +
        "integer arithmetic on the cents-value rollup: midranks " +
        "carry as DOUBLED ranks r2 = 2·cum_before + t + 1 (always an " +
        "integer — no half-rank floats), and every term that grows " +
        "past linear in N — the rank sum, the tie term Σ(t³−t), the " +
        "tie-corrected variance numerator na·nb·((N+1)N(N−1) − ties) " +
        "— is cast to DECIMAL(38,0) (HUGEINT on the oracle side — " +
        "the q_mixture_em convention) BEFORE the first overflow-able " +
        "product, so the N³/N⁵ cubics never pass through a silently " +
        "wrapping BIGINT multiply, and the z-statistic is ONE " +
        "mirrored IEEE expression 6dp-rounded. Also emits the " +
        "rank-biserial effect size r = 2U/(na·nb) − 1 from the same " +
        "integers. The ranking window runs over the DISTINCT-CENTS " +
        "rollup per type — the VALUE-DOMAIN WINDOW CLASS (EventsOps " +
        "scaladoc), bounded by the two-decimal money domain, never " +
        "rows. At 100 TB: one corpus pass to (type, cents) counts, " +
        "domain-bounded windows, #types rows out",
      Some(
        s"""WITH e AS (
          |  ${Arms.armedSql(Seq("event_type"), "v")}
          |), vc AS (
          |  ${Arms.valueCountsSql(Seq("event_type", "v"))}
          |), cw AS (
          |  SELECT event_type, ca, cb, ca + cb AS t,
          |    CAST(sum(ca + cb) OVER (PARTITION BY event_type ORDER BY v)
          |      AS BIGINT) AS cumt
          |  FROM vc
          |), ag AS (
          |  SELECT event_type,
          |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
          |    CAST(sum(CAST(ca AS HUGEINT) * (2 * (cumt - t) + t + 1))
          |      AS HUGEINT) AS ra2,
          |    CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS ties
          |  FROM cw GROUP BY event_type
          |), st AS (
          |  SELECT event_type, na, nb,
          |    ra2 - CAST(na AS HUGEINT) * (na + 1) AS u2a,
          |    ra2 - CAST(na AS HUGEINT) * (na + 1)
          |      - CAST(na AS HUGEINT) * nb AS znum,
          |    CAST(na AS HUGEINT) * nb
          |      * ((CAST(na + nb AS HUGEINT) + 1) * (na + nb)
          |        * (na + nb - 1) - ties)
          |      AS varnum,
          |    na + nb AS nn
          |  FROM ag WHERE na > 0 AND nb > 0
          |), fin AS (
          |  SELECT event_type, na, nb,
          |    CAST(u2a AS DOUBLE) / 2 AS u_stat,
          |    round(CAST(znum AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)
          |      AS rank_biserial,
          |    CASE WHEN varnum = 0 THEN NULL ELSE
          |      round(CAST(znum AS DOUBLE)
          |        / (2 * sqrt(CAST(varnum AS DOUBLE)
          |            / (12.0 * nn * (nn - 1)))), 6) END AS mw_z
          |  FROM st
          |)
          |SELECT event_type, na, nb, u_stat, rank_biserial, mw_z,
          |  CAST(abs(mw_z) > 1.96 AS BIGINT) AS significant
          |FROM fin ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      mannWhitney(Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value")))
    },

    Q(
      "q_chisq_independence",
      "CHI-SQUARE INDEPENDENCE test on the event_type × arm " +
        "contingency table (is WHAT users do independent of WHICH " +
        "arm they're in? — the guardrail that catches a treatment " +
        "changing the event MIX even when per-metric means hold), " +
        "with Cramér's V effect size and a Wilson-Hilferty cube-root " +
        "normal approximation for the significance flag (no χ² " +
        "quantile table needed at any df). Zero cells count: the " +
        "grid COMPLETES to #types × #arms before expected counts, " +
        "because a type absent from one arm is exactly the " +
        "dependence the test must see. Cross-engine determinism via " +
        "the QUANTIZE-THEN-SUM discipline (the q_mixture_em " +
        "convention): each cell's (O·N − r·c)²/(N·r·c) term is one " +
        "mirrored IEEE expression quantized to the 1e-9 grid, summed " +
        "exactly in DECIMAL(38,0)/HUGEINT — no float-sum order " +
        "dependence across cells. At 100 TB: ONE keyed corpus pass " +
        "to #types×2 cells; every window and join after that runs on " +
        "the types-bounded rollup (the bounded-rollup window class), " +
        "1-row output",
      Some(chisqSql),
    ) { (s, dir) =>
      chisqIndependence(Tables.events(s, dir)
        .select(col("event_type"), col("user_id")))
    },

    Q(
      "q_anova_f",
      "ONE-WAY ANOVA across event types on value: F statistic + η² " +
        "effect size — the k-group generalization of q_ab_test (is " +
        "ANY type's mean different?), run before k pairwise t-tests " +
        "inflate the family error that q_fdr_bh then has to mop up. " +
        "The exact-arithmetic core extends the momentFinish rational " +
        "discipline to PER-GROUP division: each Σ-of-squares term " +
        "S_g²/n_g splits into an exact DECIMAL(38,0) quotient plus a " +
        "remainder fraction r_g/n_g ∈ [0,1) quantized to the 1e-9 " +
        "grid (ONE correctly-rounded IEEE division of exact integers " +
        "— identical doubles both engines), quotients and grid " +
        "fractions then SUM EXACTLY in DECIMAL/BIGINT — no float-sum " +
        "order dependence across groups, SSB/SSW exact to 1e-9 by " +
        "construction. F and η² are a handful of correctly-rounded " +
        "IEEE ops on those near-exact sums, 6dp-rounded. At 100 TB: " +
        "one keyed corpus pass to #types power-sum rows, everything " +
        "after on the bounded rollup, 1-row output",
      Some(
        s"""WITH c AS (
           |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
           |  FROM events
           |), $anovaSqlTail""".stripMargin),
    ) { (s, dir) =>
      anovaF(Tables.events(s, dir)
        .select(col("event_type"), col("value")))
    },

    Q(
      "q_levene_bf",
      "BROWN-FORSYTHE variance-homogeneity test (Levene's test with " +
        "the median center — the robust variant): one-way ANOVA on " +
        "the ABSOLUTE DEVIATIONS from each group's median, which is " +
        "the assumption check q_anova_f itself rests on (equal group " +
        "variances) and the direct 'did the treatment change " +
        "SPREAD?' readout no mean test sees. Group medians are exact " +
        "order statistics on the cents rollup (upper median, the " +
        "2·cum ≥ n+1 convention), deviations are exact integers, and " +
        "the F algebra is LITERALLY q_anova_f's shared " +
        "quotient+remainder machinery — same engine helper, same " +
        "spliced oracle tail, so the two tests cannot drift apart. " +
        "At 100 TB: one corpus pass to the (type, cents) rollup for " +
        "medians (value-domain window class), one broadcast join " +
        "back, then the bounded ANOVA rollup, 1-row output",
      Some(
        s"""WITH raw AS (
           |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS rc
           |  FROM events
           |), vc AS (
           |  SELECT event_type, rc, CAST(count(*) AS BIGINT) AS t
           |  FROM raw GROUP BY event_type, rc
           |), cw AS (
           |  SELECT event_type, rc,
           |    CAST(sum(t) OVER (PARTITION BY event_type ORDER BY rc)
           |      AS BIGINT) AS cum,
           |    CAST(sum(t) OVER (PARTITION BY event_type) AS BIGINT) AS n
           |  FROM vc
           |), med AS (
           |  SELECT event_type,
           |    CAST(min(CASE WHEN cum * 2 >= n + 1 THEN rc END) AS BIGINT)
           |      AS med
           |  FROM cw GROUP BY event_type
           |), c AS (
           |  SELECT raw.event_type, abs(raw.rc - med.med) AS c
           |  FROM raw JOIN med ON raw.event_type = med.event_type
           |), $anovaSqlTail""".stripMargin),
    ) { (s, dir) =>
      brownForsythe(Tables.events(s, dir)
        .select(col("event_type"), col("value")))
    },

    Q(
      "q_decision_stump",
      "DECISION STUMP on value predicting purchase (the single best " +
        "threshold split by Gini impurity) — the feature-quality " +
        "probe every tabular pipeline runs before training anything: " +
        "if no cents threshold beats the baseline Gini, the feature " +
        "is noise for this label. Every candidate threshold is a " +
        "distinct-cents boundary, scored from CUMULATIVE class " +
        "counts (the value-domain window class — candidates live on " +
        "the bounded cents rollup, never on rows): maximizing " +
        "S = (p_L²+q_L²)/n_L + (p_R²+q_R²)/n_R is exactly " +
        "minimizing the weighted Gini (N−S)/N, and S rides the 1e-6 " +
        "grid as one mirrored IEEE expression per boundary with the " +
        "argmax ties broken by threshold — deterministic both " +
        "engines, no float argmax trusted. Readout: the split, its " +
        "side counts and purchase counts, baseline vs split Gini " +
        "(baseline exact DECIMAL/HUGEINT rationals), and the gain. " +
        "At 100 TB: one corpus pass to the cents rollup, one " +
        "domain-bounded window, 1-row output",
      Some(
        """WITH e AS (
          |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
          |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab
          |  FROM events
          |), vc AS (
          |  SELECT v, CAST(sum(lab) AS BIGINT) AS p,
          |    CAST(sum(1 - lab) AS BIGINT) AS q
          |  FROM e GROUP BY v
          |), cum AS (
          |  SELECT v,
          |    CAST(sum(p) OVER (ORDER BY v) AS BIGINT) AS pl,
          |    CAST(sum(q) OVER (ORDER BY v) AS BIGINT) AS ql,
          |    CAST(sum(p) OVER () AS BIGINT) AS pt,
          |    CAST(sum(q) OVER () AS BIGINT) AS qt
          |  FROM vc
          |), cand AS (
          |  SELECT v, pl, ql, pt, qt, pl + ql AS nl,
          |    (pt - pl) + (qt - ql) AS nr, pt - pl AS prr, qt - ql AS qrr
          |  FROM cum
          |), sc AS (
          |  SELECT v, pl, nl, nr, prr, pt, qt, nl + nr AS nn,
          |    CAST(round(((CAST(pl AS DOUBLE) * pl
          |        + CAST(ql AS DOUBLE) * ql) / nl
          |      + (CAST(prr AS DOUBLE) * prr
          |        + CAST(qrr AS DOUBLE) * qrr) / nr)
          |      * 1000000.0) AS BIGINT) AS s6
          |  FROM cand WHERE nr > 0
          |), best AS (
          |  SELECT * FROM sc ORDER BY s6 DESC, v LIMIT 1
          |), fin AS (
          |  SELECT round(CAST(v AS DOUBLE) / 100, 6) AS split_at,
          |    nl AS n_left, nr AS n_right, pl AS p_left, prr AS p_right,
          |    round(CAST(CAST(nn AS HUGEINT) * nn
          |        - CAST(pt AS HUGEINT) * pt - CAST(qt AS HUGEINT) * qt
          |        AS DOUBLE)
          |      / (CAST(nn AS DOUBLE) * nn), 6) AS gini_base,
          |    round((CAST(nn AS DOUBLE) - CAST(s6 AS DOUBLE) / 1000000.0)
          |      / nn, 6) AS gini_split
          |  FROM best
          |)
          |SELECT split_at, n_left, n_right, p_left, p_right,
          |  gini_base, gini_split,
          |  round(gini_base - gini_split, 6) AS gain
          |FROM fin""".stripMargin),
    ) { (s, dir) =>
      decisionStump(Tables.events(s, dir).select(
        round(col("value") * 100, 0).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("lab")))
    },

    Q(
      "q_mutual_information",
      "MUTUAL INFORMATION between event type and hour-of-day (how " +
        "many bits does WHEN tell you about WHAT?) — the " +
        "model-free dependence measure that catches what " +
        "q_chisq_independence's χ² scores as a test statistic and " +
        "q_correlated's Pearson can't see at all (MI is zero IFF " +
        "independent, any shape). MI = Σ p_xy·log2(N·n_xy/(n_x·n_y)) " +
        "over the (#types × 24)-bounded cell grid: each cell's term " +
        "is ONE mirrored IEEE expression on exact BIGINT counts " +
        "(empty cells contribute exactly 0 and drop), quantized to " +
        "the 1e-9 grid and summed in BIGINT — the " +
        "quantize-then-sum discipline. Normalized variant (MI / " +
        "min(H(X), H(Y)), entropies on the same grid) rides along " +
        "so 'is 0.02 bits a lot?' has an answer. At 100 TB: one " +
        "keyed corpus pass to the bounded cells, 1-row output",
      Some(
        """WITH e AS (
          |  SELECT event_type AS x,
          |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y
          |  FROM events
          |), cells AS (
          |  SELECT x, y, CAST(count(*) AS BIGINT) AS nxy
          |  FROM e GROUP BY x, y
          |), m AS (
          |  SELECT x, y, nxy,
          |    CAST(sum(nxy) OVER (PARTITION BY x) AS BIGINT) AS nx,
          |    CAST(sum(nxy) OVER (PARTITION BY y) AS BIGINT) AS ny,
          |    CAST(sum(nxy) OVER () AS BIGINT) AS n
          |  FROM cells
          |), t AS (
          |  SELECT max(n) AS n,
          |    CAST(sum(CAST(round(CAST(nxy AS DOUBLE) / n
          |      * log2(CAST(n AS DOUBLE) * nxy
          |        / (CAST(nx AS DOUBLE) * ny))
          |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS mi9
          |  FROM m
          |), hx AS (
          |  SELECT CAST(sum(CAST(round(CAST(nx AS DOUBLE) / n
          |      * log2(CAST(n AS DOUBLE) / nx)
          |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS h9
          |  FROM (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx,
          |          CAST(sum(sum(nxy)) OVER () AS BIGINT) AS n
          |        FROM cells GROUP BY x)
          |), hy AS (
          |  SELECT CAST(sum(CAST(round(CAST(ny AS DOUBLE) / n
          |      * log2(CAST(n AS DOUBLE) / ny)
          |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS h9
          |  FROM (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny,
          |          CAST(sum(sum(nxy)) OVER () AS BIGINT) AS n
          |        FROM cells GROUP BY y)
          |)
          |SELECT n,
          |  round(CAST(mi9 AS DOUBLE) / 1000000000.0, 6) AS mi_bits,
          |  round(CAST(hx.h9 AS DOUBLE) / 1000000000.0, 6) AS h_type,
          |  round(CAST(hy.h9 AS DOUBLE) / 1000000000.0, 6) AS h_hour,
          |  CASE WHEN least(hx.h9, hy.h9) = 0 THEN NULL ELSE
          |    round(CAST(mi9 AS DOUBLE) / least(hx.h9, hy.h9), 6) END
          |    AS mi_normalized
          |FROM t CROSS JOIN hx CROSS JOIN hy""".stripMargin),
    ) { (s, dir) =>
      mutualInformation(Tables.events(s, dir)
        .select(col("event_type").as("x"),
          hour(col("ts")).cast("long").as("y")))
    },

    Q(
      "q_benford",
      "BENFORD first-digit audit of the value column (Nigrini's " +
        "forensic screen: natural multi-scale amounts follow " +
        "P(d) = log10(1+1/d); fabricated or capped data doesn't — " +
        "the classic fraud/data-quality tripwire, run here as a " +
        "keyed rollup like any other guardrail). First digits come " +
        "from the DECIMAL STRING of the cents integer (substr of " +
        "CAST AS VARCHAR — no log10-at-a-power-boundary float " +
        "hazard), the digit grid COMPLETES to 1..9 so an absent " +
        "digit is evidence not silence, and both test statistics " +
        "(χ² against N·p_d, Nigrini's MAD with its 0.015 " +
        "nonconformity threshold) are quantize-then-sum: per-digit " +
        "mirrored IEEE terms on the 1e-9 grid, summed in BIGINT. " +
        "The uniform synthetic values flunk Benford loudly — the " +
        "expected reading, pinned by the oracle rather than " +
        "assumed. At 100 TB: one corpus pass to 9 digit counts, all " +
        "statistics on the 9-row grid, 9-row output",
      Some(
        """WITH c AS (
          |  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
          |  WHERE CAST(round(value * 100) AS BIGINT) > 0
          |), o AS (
          |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
          |    AS digit, CAST(count(*) AS BIGINT) AS o
          |  FROM c GROUP BY 1
          |), grid AS (
          |  SELECT d.digit, COALESCE(o.o, 0) AS o
          |  FROM (SELECT CAST(r AS BIGINT) + 1 AS digit
          |        FROM range(9) t(r)) d
          |  LEFT JOIN o ON o.digit = d.digit
          |), t AS (
          |  SELECT digit, o,
          |    CAST(sum(o) OVER () AS BIGINT) AS n,
          |    log10(1 + 1.0 / digit) AS p
          |  FROM grid
          |), q AS (
          |  SELECT digit, o, n, p,
          |    CAST(round((CAST(o AS DOUBLE) - n * p)
          |      * (CAST(o AS DOUBLE) - n * p) / (n * p)
          |      * 1000000000.0) AS BIGINT) AS chi9,
          |    CAST(round(abs(CAST(o AS DOUBLE) / n - p)
          |      * 1000000000.0) AS BIGINT) AS dev9
          |  FROM t
          |), g AS (
          |  SELECT digit, o, n, p, chi9, dev9,
          |    CAST(sum(chi9) OVER () AS BIGINT) AS chi9s,
          |    CAST(sum(dev9) OVER () AS BIGINT) AS dev9s
          |  FROM q
          |)
          |SELECT digit, o AS n_d,
          |  round(CAST(o AS DOUBLE) / n, 6) AS obs_p,
          |  round(p, 6) AS exp_p,
          |  round(CAST(chi9s AS DOUBLE) / 1000000000.0, 6) AS chi2,
          |  round(CAST(dev9s AS DOUBLE) / 1000000000.0 / 9, 6) AS mad,
          |  CAST(CAST(dev9s AS DOUBLE) / 1000000000.0 / 9 > 0.015
          |    AS BIGINT) AS nonconforming
          |FROM g ORDER BY digit""".stripMargin),
    ) { (s, dir) =>
      benford(Tables.events(s, dir).select(col("value")))
    },

    Q(
      "q_ltv_cohort",
      "cohort LTV curves: users cohorted by FIRST-SEEN week, " +
        "cumulative spend per user tracked by account age in weeks — " +
        "the triangle every growth/finance readout is built on " +
        "(q_events_retention counts who comes back; this prices what " +
        "they're worth while they do). Exact everywhere: first-seen " +
        "via a user-keyed min, week indexes by integer floor-div on " +
        "day numbers, per-(cohort, age) cents sums in BIGINT, the " +
        "cumulative along age over the (cohorts × ages)-bounded grid " +
        "(a few weeks each — bounded-rollup window class), and the " +
        "per-user LTV ONE mirrored division at the end. At 100 TB: " +
        "one user-keyed pass for cohorts, one keyed agg to the grid, " +
        "grid-sized windows, grid rows out",
      Some(
        """WITH f AS (
          |  SELECT user_id,
          |    CAST(min(datediff('day', DATE '1970-01-01',
          |      CAST(ts AS DATE))) AS BIGINT) AS d0
          |  FROM events GROUP BY user_id
          |), e AS (
          |  SELECT ev.user_id, f.d0 // 7 AS cohort_week,
          |    (CAST(datediff('day', DATE '1970-01-01', CAST(ev.ts AS DATE))
          |      AS BIGINT) - f.d0) // 7 AS age_week,
          |    CAST(round(ev.value * 100) AS BIGINT) AS c
          |  FROM events ev JOIN f ON ev.user_id = f.user_id
          |), cs AS (
          |  SELECT cohort_week,
          |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          |  FROM e GROUP BY cohort_week
          |), g AS (
          |  SELECT cohort_week, age_week, CAST(sum(c) AS BIGINT) AS sp
          |  FROM e GROUP BY cohort_week, age_week
          |), cum AS (
          |  SELECT cohort_week, age_week,
          |    CAST(sum(sp) OVER (PARTITION BY cohort_week ORDER BY age_week)
          |      AS BIGINT) AS cum_c
          |  FROM g
          |)
          |SELECT cum.cohort_week, cum.age_week, cs.n_users,
          |  round(CAST(cum_c AS DOUBLE) / cs.n_users / 100, 6)
          |    AS ltv_per_user
          |FROM cum JOIN cs ON cum.cohort_week = cs.cohort_week
          |ORDER BY cum.cohort_week, age_week""".stripMargin),
    ) { (s, dir) =>
      val base = Tables.events(s, dir).select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01")).cast("long")
          .as("d"),
        round(col("value") * 100, 0).cast("long").as("c"))
      val f = base.groupBy("user_id").agg(min(col("d")).as("d0"))
      val e = base.join(f, "user_id")
        .select(col("user_id"),
          expr("d0 DIV 7").as("cohort_week"),
          expr("(d - d0) DIV 7").as("age_week"), col("c"))
        .localCheckpoint() // read by the cohort-size agg AND the grid agg
      val cs = e.groupBy("cohort_week")
        .agg(countDistinct(col("user_id")).as("n_users"))
      val g = e.groupBy("cohort_week", "age_week")
        .agg(sum(col("c")).as("sp"))
      val wC = Window.partitionBy("cohort_week").orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum_c", sum(col("sp")).over(wC))
        .join(broadcast(cs), "cohort_week")
        .selectExpr("cohort_week", "age_week", "n_users",
          """round(CAST(cum_c AS DOUBLE) / n_users / 100, 6)
            |  AS ltv_per_user""".stripMargin)
        .orderBy("cohort_week", "age_week")
    },

    Q(
      "q_mcnemar",
      "McNEMAR'S paired test on within-user conversion flips: did " +
        "the same users who purchased in the first half of January " +
        "keep purchasing in the second? — the PAIRED complement to " +
        "q_ab_test's between-group z (marginal rates can hold " +
        "perfectly while the population underneath churns 1-for-1; " +
        "only the DISCORDANT cells b = pre-only and c = post-only " +
        "see it). χ² = (b−c)²/(b+c) plus the Edwards continuity-" +
        "corrected twin (|b−c|−1)²/(b+c) — exact BIGINT cells from " +
        "one user-keyed pass, each statistic ONE mirrored division, " +
        "6dp, NULL when no user flipped either way. At 100 TB: one " +
        "user-keyed boolean rollup, a 4-cell agg, 1-row output",
      Some(
        """WITH u AS (
          |  SELECT user_id,
          |    max(CASE WHEN event_type = 'purchase'
          |      AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
          |      THEN 1 ELSE 0 END) AS pre,
          |    max(CASE WHEN event_type = 'purchase'
          |      AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
          |      THEN 1 ELSE 0 END) AS post
          |  FROM events GROUP BY user_id
          |), cells AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_users,
          |    CAST(sum(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n00,
          |    CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n01,
          |    CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n10,
          |    CAST(sum(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n11
          |  FROM u
          |)
          |SELECT n_users, n00, n01, n10, n11,
          |  CASE WHEN n10 + n01 = 0 THEN NULL ELSE
          |    round(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
          |      / (n10 + n01), 6) END AS mcnemar_chi2,
          |  CASE WHEN n10 + n01 = 0 THEN NULL ELSE
          |    round(CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)
          |        AS DOUBLE) / (n10 + n01), 6) END AS chi2_cc
          |FROM cells""".stripMargin),
    ) { (s, dir) =>
      mcnemar(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts")))
    },

    Q(
      "q_offpolicy_ips",
      "OFF-POLICY EVALUATION via inverse propensity scoring (Horvitz-" +
        "Thompson / IPS — the counterfactual 'what would a DIFFERENT " +
        "policy have earned on this logged traffic?', the question " +
        "every recommender/bandit retrain asks before shipping): " +
        "actions = event types, rewards = value, behavior policy μ = " +
        "the empirical action frequency. Two targets from ONE " +
        "per-action rollup: the UNIFORM explorer (V = mean of " +
        "per-action mean rewards — IPS algebra collapses exactly; " +
        "per-action means quantized to the 1e-9 grid and summed in " +
        "BIGINT, the quantize-then-sum discipline) and the GREEDY " +
        "policy (always play the best observed arm — V = that arm's " +
        "mean, selected DETERMINISTICALLY by grid-mean then name; its " +
        "IPS effective sample size collapses to n_best, emitted as " +
        "the support-coverage diagnostic that tells you how much " +
        "logged data actually backs the counterfactual). At 100 TB: " +
        "one keyed corpus pass to #types power sums, all policy " +
        "algebra on the bounded rollup, 1-row output",
      Some(
        """WITH g AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS na,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sa
          |  FROM events GROUP BY event_type
          |), t AS (
          |  SELECT event_type, na, sa,
          |    CAST(round(CAST(sa AS DOUBLE) / na / 100 * 1000000000.0)
          |      AS BIGINT) AS m9
          |  FROM g
          |), tot AS (
          |  SELECT CAST(count(*) AS BIGINT) AS k,
          |    CAST(sum(na) AS BIGINT) AS n, CAST(sum(sa) AS BIGINT) AS s,
          |    CAST(sum(m9) AS BIGINT) AS um9
          |  FROM t
          |), best AS (
          |  SELECT event_type AS best_type, na AS n_best, sa AS s_best
          |  FROM t ORDER BY m9 DESC, event_type LIMIT 1
          |)
          |SELECT n, k, best_type, n_best AS ess_greedy,
          |  round(CAST(s AS DOUBLE) / n / 100, 6) AS v_logged,
          |  round(CAST(um9 AS DOUBLE) / 1000000000.0 / k, 6) AS v_uniform,
          |  round(CAST(s_best AS DOUBLE) / n_best / 100, 6) AS v_greedy
          |FROM tot CROSS JOIN best""".stripMargin),
    ) { (s, dir) =>
      offpolicyIps(Tables.events(s, dir)
        .select(col("event_type"), col("value")))
    },

    Q(
      "q_cms_topk",
      "COUNT-MIN SKETCH heavy-hitter check: one 128 KB CMS " +
        "(w=4096, d=4) over all event user_ids, then the exact " +
        "top-10 users' counts are re-read FROM THE SKETCH and " +
        "checked against the CMS guarantees — est ≥ true (a theorem: " +
        "every row only ever adds) and est ≤ true + 3N/w (Markov at " +
        "better than the e/w textbook slack). CMS is this engine's " +
        "FREQUENCY sketch beside theta/HLL's distinct family, and " +
        "the one that is LINEAR: merge = elementwise integer " +
        "addition, so the distributed aggregate is BYTE-IDENTICAL at " +
        "any partitioning (CmsSpec pins state equality across 1/7/32 " +
        "partitions and never-underestimate under forced w=4 " +
        "collisions). The oracle pins the exact counts and the " +
        "guarantee flags as invariants — an estimate outside its " +
        "bound fails the gate loudly. At 100 TB: per-partition " +
        "128 KB states, one tree-merge, heavy keys re-read from KB " +
        "state instead of a second corpus pass",
      Some(
        """WITH top AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          |  FROM events GROUP BY user_id
          |  ORDER BY n_events DESC, user_id LIMIT 10
          |)
          |SELECT user_id, n_events,
          |  CAST(1 AS BIGINT) AS no_underestimate,
          |  CAST(1 AS BIGINT) AS within_bound
          |FROM top ORDER BY n_events DESC, user_id""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"))
      val sk = e.agg(expr("cms_sketch_agg(user_id)").as("sk"),
        count(lit(1)).as("n_total"))
      val top = e.groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_events").desc, col("user_id")).limit(10)
      top.crossJoin(broadcast(sk))
        .selectExpr("user_id", "n_events",
          "cms_estimate(sk, user_id) AS est", "n_total")
        .selectExpr("user_id", "n_events",
          "CAST(est >= n_events AS BIGINT) AS no_underestimate",
          "CAST(est - n_events <= (3 * n_total) DIV 4096 AS BIGINT)"
            + " AS within_bound")
        .orderBy(col("n_events").desc, col("user_id"))
    },

    Q(
      "q_mg_heavy",
      "MISRA-GRIES guaranteed-frequent summary — the heavy-hitter " +
        "question CMS structurally cannot answer: WHICH keys are " +
        "frequent, from k counters of state alone (CMS estimates a " +
        "key you already hold; MG surfaces the candidates), with a " +
        "deterministic carried certificate true−Δ ≤ stored ≤ true " +
        "and every key above Δ provably present (functions/" +
        "MisraGries.scala, no RNG anywhere). Two faces gate here: " +
        "the event_type summary built from per-DAY partials through " +
        "mg_merge_agg stays EXACT (5 keys < k=8 ⇒ Δ=0, stored ≡ " +
        "true — the theta exact-mode contract, through the state-" +
        "table merge path), and the user_id summary at k=32 over " +
        "1500 near-uniform users exercises REAL decrements — the " +
        "honest no-heavy-hitters corpus — where the gate verifies " +
        "the FULL certificate over every user: no overestimate, " +
        "est ≥ true−Δ, max absent-key count ≤ Δ (coverage), and the " +
        "a-priori Δ·(k+1) ≤ n. All flags survive any partitioning/" +
        "merge order (the ACHPWY mergeable-summaries argument; " +
        "MisraGriesSpec plants a Zipf spike and pins recovery at " +
        "1/7/32 splits). At 100 TB: per-partition ≤k entries, one " +
        "tree-merge, candidates read from KB state — no second pass",
      Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(1 AS BIGINT) AS type_mg_exact,
          |  CAST(1 AS BIGINT) AS user_coverage_ok,
          |  CAST(1 AS BIGINT) AS user_no_overestimate,
          |  CAST(1 AS BIGINT) AS user_within_delta,
          |  CAST(1 AS BIGINT) AS delta_bound_ok
          |FROM events GROUP BY event_type ORDER BY event_type"""
          .stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("user_id"))
      // Face 1 — the state-table path: per-day type partials, merged.
      val typeMerged = ev.groupBy("day")
        .agg(expr("mg_sketch_agg(event_type, 8)").as("tsk"))
        .agg(expr("mg_merge_agg(tsk, 8)").as("tsk"))
      // Face 2 — real decrements: 1500 users through 32 counters.
      val userMerged = ev.agg(expr("mg_sketch_agg(user_id, 32)").as("usk"),
        count(lit(1)).as("n_total"))
      // Gate verify: the certificate over EVERY user (gate cost only;
      // at 100 TB you read candidates off the state and stop).
      val uflags = ev.groupBy("user_id").agg(count(lit(1)).as("n_u"))
        .crossJoin(broadcast(userMerged))
        .select(col("n_u"), col("n_total"),
          expr("mg_estimate(usk, CAST(user_id AS STRING))").as("est"),
          expr("mg_delta(usk)").as("du"))
        .agg(max(when(col("est") === 0L, col("n_u")).otherwise(0L))
            .as("max_absent"),
          sum(when(col("est") > col("n_u"), 1L).otherwise(0L)).as("overest"),
          sum(when(col("est") < col("n_u") - col("du"), 1L).otherwise(0L))
            .as("under"),
          max(col("du")).as("du"), max(col("n_total")).as("n_total"))
      ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(typeMerged))
        .crossJoin(broadcast(uflags))
        .select(col("event_type"), col("n_events"),
          (expr("mg_estimate(tsk, event_type)") === col("n_events")
            && expr("mg_delta(tsk)") === 0L).cast("long")
            .as("type_mg_exact"),
          (col("max_absent") <= col("du")).cast("long")
            .as("user_coverage_ok"),
          (col("overest") === 0L).cast("long").as("user_no_overestimate"),
          (col("under") === 0L).cast("long").as("user_within_delta"),
          (col("du") * 33L <= col("n_total")).cast("long")
            .as("delta_bound_ok"))
        .orderBy("event_type")
    },

    Q(
      "q_mg_weighted",
      "the WEIGHTED-INSERT face of q_mg_heavy — (key, count) rollups " +
        "feed mg_sketch_agg(key, k, w) without re-exploding to rows. " +
        "A weighted insert is EXACTLY w repeated unit inserts " +
        "(functions/MisraGries.scala: the decrement run collapses to " +
        "one batched cut), so in the exact window the rollup-built " +
        "bytes equal the raw-row bytes bit-for-bit — gated here as a " +
        "hard flag (type_bytes_match, md5-compared inside Spark) on " +
        "the 5-key event_type face. The 1500-user k=32 face exercises " +
        "real decrements through weights and re-verifies the FULL " +
        "carried certificate (no overestimate / within-Δ / coverage / " +
        "a-priori Δ·(k+1) ≤ n) over every user. At 100 TB the rollup " +
        "is the q_agg_incremental state table: heavy-hitter summaries " +
        "refresh from per-slice (key, count) partials at O(#distinct) " +
        "not O(#events) sketch-insert cost",
      Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(1 AS BIGINT) AS type_bytes_match,
          |  CAST(1 AS BIGINT) AS type_mg_exact,
          |  CAST(1 AS BIGINT) AS user_coverage_ok,
          |  CAST(1 AS BIGINT) AS user_no_overestimate,
          |  CAST(1 AS BIGINT) AS user_within_delta,
          |  CAST(1 AS BIGINT) AS delta_bound_ok
          |FROM events GROUP BY event_type ORDER BY event_type"""
          .stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"))
      // Exact-window face: raw rows vs the (event_type, count) rollup.
      val typeRaw = ev.agg(expr("mg_sketch_agg(event_type, 8)").as("raw_sk"))
      val typeRollup = ev.groupBy("event_type")
        .agg(count(lit(1)).as("w"))
        .agg(expr("mg_sketch_agg(event_type, 8, w)").as("roll_sk"))
      // Decrement face: the (user_id, count) rollup through k = 32.
      val userRollup = ev.groupBy("user_id").agg(count(lit(1)).as("n_u"))
      val userSk = userRollup
        .agg(expr("mg_sketch_agg(CAST(user_id AS STRING), 32, n_u)")
          .as("usk"), sum(col("n_u")).as("n_total"))
      val uflags = userRollup.crossJoin(broadcast(userSk))
        .select(col("n_u"), col("n_total"),
          expr("mg_estimate(usk, CAST(user_id AS STRING))").as("est"),
          expr("mg_delta(usk)").as("du"))
        .agg(max(when(col("est") === 0L, col("n_u")).otherwise(0L))
            .as("max_absent"),
          sum(when(col("est") > col("n_u"), 1L).otherwise(0L)).as("overest"),
          sum(when(col("est") < col("n_u") - col("du"), 1L).otherwise(0L))
            .as("under"),
          max(col("du")).as("du"), max(col("n_total")).as("n_total"))
      ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(typeRaw))
        .crossJoin(broadcast(typeRollup))
        .crossJoin(broadcast(uflags))
        .select(col("event_type"), col("n_events"),
          (md5(col("raw_sk")) === md5(col("roll_sk"))).cast("long")
            .as("type_bytes_match"),
          (expr("mg_estimate(roll_sk, event_type)") === col("n_events")
            && expr("mg_delta(roll_sk)") === 0L).cast("long")
            .as("type_mg_exact"),
          (col("max_absent") <= col("du")).cast("long")
            .as("user_coverage_ok"),
          (col("overest") === 0L).cast("long").as("user_no_overestimate"),
          (col("under") === 0L).cast("long").as("user_within_delta"),
          (col("du") * 33L <= col("n_total")).cast("long")
            .as("delta_bound_ok"))
        .orderBy("event_type")
    },

    Q(
      "q_cms_weighted",
      "the WEIGHTED-INSERT face of the count-min family: the " +
        "(user_id, count) rollup feeds cms_sketch_agg(user_id, 4096, " +
        "4, w), and LINEARITY makes the claim maximal — counters += w " +
        "is byte-identical to w unit inserts at ANY partitioning or " +
        "merge order, so the gate pins rollup bytes == raw-row bytes " +
        "as a hard md5 flag (functions/CountMin.scala), then re-runs " +
        "the never-underestimate and e·N/w bound checks on the top-10 " +
        "keys from the rollup-built sketch. At 100 TB: the rollup is " +
        "O(#users) not O(#events), the sketch state is 128 KB, and " +
        "the refresh path never touches raw rows",
      Some(
        """WITH top AS (
          |  SELECT user_id, count(*) AS n_events FROM events
          |  GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 10)
          |SELECT user_id, n_events,
          |  CAST(1 AS BIGINT) AS bytes_match,
          |  CAST(1 AS BIGINT) AS no_underestimate,
          |  CAST(1 AS BIGINT) AS within_bound
          |FROM top ORDER BY n_events DESC, user_id""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"))
      val raw = e.agg(expr("cms_sketch_agg(user_id)").as("raw_sk"),
        count(lit(1)).as("n_total"))
      val rollup = e.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      val viaW = rollup
        .agg(expr("cms_sketch_agg(user_id, 4096, 4, n_events)").as("sk"))
      val top = rollup
        .orderBy(col("n_events").desc, col("user_id")).limit(10)
      top.crossJoin(broadcast(raw)).crossJoin(broadcast(viaW))
        .selectExpr("user_id", "n_events",
          "CAST(md5(sk) = md5(raw_sk) AS BIGINT) AS bytes_match",
          "cms_estimate(sk, user_id) AS est", "n_total")
        .selectExpr("user_id", "n_events", "bytes_match",
          "CAST(est >= n_events AS BIGINT) AS no_underestimate",
          "CAST(est - n_events <= (3 * n_total) DIV 4096 AS BIGINT)"
            + " AS within_bound")
        .orderBy(col("n_events").desc, col("user_id"))
    },

    Q(
      "q_permutation_test",
      s"RANDOMIZATION (permutation) test on the arm mean difference: " +
        s"$PermDraws deterministic re-assignments of USERS (the " +
        "assignment unit — resampling events would break within-user " +
        "correlation) via the sticky md5 hash seeded by draw index, " +
        "each draw's |mean gap| compared to the observed one — the " +
        "inference that needs NO normality, NO variance formula, NO " +
        "asymptotics, exactly what q_ab_test's z assumes away. The " +
        "decisive comparison is FULLY EXACT: |sa_r·nb_r − sb_r·na_r|" +
        "·(na·nb) ≥ |sa·nb − sb·na|·(na_r·nb_r) cross-multiplies " +
        "exact BIGINT cents sums in DECIMAL(38,0)/HUGEINT — no " +
        "rounded mean ever enters the verdict, so the p-value " +
        "(n_extreme+1)/(n_valid+1) is an exact rational (draws with " +
        "an empty arm drop from both counts; vanishing probability " +
        "at corpus scale, handled for spec-sized inputs). One " +
        s"user-keyed rollup, ONE ${PermDraws}× explode of the USER " +
        "table (never the event stream), one draw-keyed agg, 1-row " +
        "output. At 100 TB: users × draws is state-sized, and the " +
        "explode rides the rollup — the corpus is read once",
      Some {
        val h = graft.functions.Portable.md5Hash60Sql(
          "CAST(user_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)")
        s"""WITH u AS (
           |  SELECT user_id, CAST(count(*) AS BIGINT) AS nu,
           |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS su
           |  FROM events GROUP BY user_id
           |), obs AS (
           |  SELECT
           |    CAST(sum(CASE WHEN ${Arms.ParitySql} = 0 THEN nu ELSE 0 END)
           |      AS BIGINT) AS na,
           |    CAST(sum(CASE WHEN ${Arms.ParitySql} = 0 THEN su ELSE 0 END)
           |      AS BIGINT) AS sa,
           |    CAST(sum(CASE WHEN ${Arms.ParitySql} = 1 THEN nu ELSE 0 END)
           |      AS BIGINT) AS nb,
           |    CAST(sum(CASE WHEN ${Arms.ParitySql} = 1 THEN su ELSE 0 END)
           |      AS BIGINT) AS sb
           |  FROM u
           |), g AS (
           |  SELECT r, CAST(($h) % 2 AS BIGINT) AS grp, nu, su
           |  FROM u CROSS JOIN range($PermDraws) t(r)
           |), draws AS (
           |  SELECT r,
           |    CAST(sum(CASE WHEN grp = 0 THEN nu ELSE 0 END) AS BIGINT)
           |      AS nar,
           |    CAST(sum(CASE WHEN grp = 0 THEN su ELSE 0 END) AS BIGINT)
           |      AS sar,
           |    CAST(sum(CASE WHEN grp = 1 THEN nu ELSE 0 END) AS BIGINT)
           |      AS nbr,
           |    CAST(sum(CASE WHEN grp = 1 THEN su ELSE 0 END) AS BIGINT)
           |      AS sbr
           |  FROM g GROUP BY r
           |), cmp AS (
           |  SELECT na, nb, sa, sb,
           |    CAST(count(*) AS BIGINT) AS n_valid,
           |    CAST(sum(CASE WHEN
           |        abs(CAST(sar AS HUGEINT) * nbr - CAST(sbr AS HUGEINT)
           |          * nar) * (CAST(na AS HUGEINT) * nb)
           |        >= abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT)
           |          * na) * (CAST(nar AS HUGEINT) * nbr)
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
           |  FROM draws CROSS JOIN obs
           |  WHERE nar > 0 AND nbr > 0
           |  GROUP BY na, nb, sa, sb
           |)
           |SELECT na, nb, n_valid, n_extreme,
           |  round((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
           |    / 100, 6) AS obs_diff,
           |  round(CAST(n_extreme + 1 AS DOUBLE) / (n_valid + 1), 6)
           |    AS p_value
           |FROM cmp""".stripMargin
      },
    ) { (s, dir) =>
      permutationTest(Tables.events(s, dir)
        .select(col("user_id"), col("value")))
    },

    Q(
      "q_spearman",
      "SPEARMAN rank correlation between hour-of-day and value (is " +
        "spend monotonically related to time of day?) — the " +
        "correlation that survives any monotone transform and " +
        "ignores whales, where q_correlated's Pearson needs " +
        "linearity and finite variance. Rho = Pearson over MIDRANKS, " +
        "and both rank maps are DOUBLED-rank integers (r2 = " +
        "2·cum_before + t + 1, the q_mann_whitney trick — no " +
        "half-rank floats) built on bounded domains: 24 hours and " +
        "the distinct-cents rollup (the VALUE-DOMAIN WINDOW CLASS). " +
        "The corpus never ranks row-by-row: each event picks its " +
        "ranks from the two BROADCAST rank maps, then one agg of " +
        "exact integer products (DECIMAL(38,0)/HUGEINT-squared " +
        "cross-terms) finishes with ONE mirrored IEEE expression, " +
        "6dp; the t-statistic derives from the 6dp-GRID rho, so both " +
        "engines agree by construction. At 100 TB: two domain-" +
        "bounded rank maps, two broadcast joins, one corpus agg, " +
        "1-row output",
      Some(
        """WITH e AS (
          |  SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
          |    CAST(round(value * 100) AS BIGINT) AS y
          |  FROM events
          |), rx AS (
          |  SELECT x, 2 * (CAST(sum(t) OVER (ORDER BY x) AS BIGINT) - t)
          |      + t + 1 AS r2x
          |  FROM (SELECT x, CAST(count(*) AS BIGINT) AS t FROM e GROUP BY x)
          |), ry AS (
          |  SELECT y, 2 * (CAST(sum(t) OVER (ORDER BY y) AS BIGINT) - t)
          |      + t + 1 AS r2y
          |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS t FROM e GROUP BY y)
          |), j AS (
          |  SELECT r2x, r2y FROM e
          |  JOIN rx ON e.x = rx.x JOIN ry ON e.y = ry.y
          |), ag AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(r2x) AS BIGINT) AS sx, CAST(sum(r2y) AS BIGINT) AS sy,
          |    sum(CAST(r2x AS HUGEINT) * r2y) AS sxy,
          |    sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
          |    sum(CAST(r2y AS HUGEINT) * r2y) AS syy
          |  FROM j
          |), d AS (
          |  SELECT n,
          |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
          |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
          |  FROM ag
          |), r AS (
          |  SELECT n,
          |    CASE WHEN dx = 0 OR dy = 0 THEN NULL ELSE
          |      round(CAST(num AS DOUBLE)
          |        / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))),
          |        6) END AS spearman_rho
          |  FROM d
          |)
          |SELECT n, spearman_rho,
          |  CASE WHEN spearman_rho IS NULL OR abs(spearman_rho) >= 1
          |      OR n <= 2 THEN NULL ELSE
          |    round(spearman_rho * sqrt((n - 2)
          |      / (1 - spearman_rho * spearman_rho)), 6) END AS t_stat
          |FROM r""".stripMargin),
    ) { (s, dir) =>
      spearman(Tables.events(s, dir)
        .select(hour(col("ts")).cast("long").as("x"),
          round(col("value") * 100, 0).cast("long").as("y")))
    },

    Q(
      "q_mixture_em",
      s"two-component 1-D GAUSSIAN MIXTURE via $EmRounds unrolled EM " +
        "rounds over the VALUE HISTOGRAM — the distribution " +
        "decomposer (is this metric one population or two?) beside " +
        "q_moments' shape summary and q_changepoint's time split. " +
        "The scale insight: EM over the (value, count) rollup is " +
        "ALGEBRAICALLY IDENTICAL to per-row EM — responsibilities " +
        "depend only on v — so the E/M passes run on the domain-" +
        "bounded histogram, never the corpus (one corpus pass total). " +
        "Cross-engine determinism, the hard part, is solved by the " +
        "quantize-then-sum discipline at its strongest: per-value " +
        "responsibilities are quantized to the 1e-9 grid with the " +
        "complement forced exact (r2 = 10^9 - r1 — no double " +
        "partition drift), every M-step sum then runs in EXACT " +
        "DECIMAL(38,0) (r9·c·v² products), and the new (pi, mu, var) " +
        "are single IEEE divisions rounded to 9dp before the next " +
        "round — the PageRank iterate-grid convention, so both " +
        "engines walk identical parameter trajectories (the pdf's " +
        "1/sqrt(2pi) cancels in the ratio and is dropped in both " +
        "texts; variances floor at 1 cent^2). Init is deterministic: " +
        "means at min/max, shared population variance, pi = 0.5. " +
        "MixtureEmSpec plants two point masses and pins exact " +
        "recovery of both means and weights. At 100 TB: one corpus " +
        s"pass to the cents histogram, then $EmRounds domain-bounded " +
        "passes against broadcast 1-row state",
      Some(emSql),
    ) { (s, dir) =>
      mixtureEm(Tables.events(s, dir).select(col("value")))
    },

    Q(
      "q_theil_sen",
      "THEIL-SEN robust trend per event type (Theil 1950 / Sen 1968, " +
        "the median-of-pairwise-slopes estimator with a 29.3% " +
        "breakdown point): where q_stl_seasonal and q_holt_winters " +
        "fit means that ANY outlier day drags, Theil-Sen's slope is " +
        "the median over all day-pair slopes — up to ~29% of days can " +
        "be garbage without moving it (TheilSenSpec plants exactly " +
        "that and pins exact recovery while OLS is pulled). The " +
        "distributed shape: one corpus pass to per-(type, day) exact " +
        "BIGINT sums, a type-keyed self-join of the #days-bounded " +
        "rollup (~#days²/2 pairs of STATE, never rows), each pair " +
        "slope ONE correctly-rounded IEEE division of exact integers " +
        "(num = s_j*n_i - s_i*n_j, den = n_i*n_j*(d_j-d_i) — " +
        "DECIMAL(38) at 100 TB), the median by explicit rank over the " +
        "type-partitioned slope order (identical doubles both " +
        "engines, so identical multisets — no engine median() " +
        "convention trusted), and the intercept as the median " +
        "residual against the 6dp-GRID slope. At 100 TB: one keyed " +
        "agg + state-sized pair join + bounded windows",
      Some(
        """WITH e AS (
          |  SELECT event_type,
          |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
          |    CAST(round(value * 100) AS BIGINT) AS c
          |  FROM events
          |), dd AS (
          |  SELECT event_type, d, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(c) AS BIGINT) AS s
          |  FROM e GROUP BY event_type, d
          |), sl AS (
          |  SELECT a.event_type,
          |    CAST(b.s * a.n - a.s * b.n AS DOUBLE)
          |      / (CAST(a.n AS DOUBLE) * b.n * (b.d - a.d)) AS sl
          |  FROM dd a JOIN dd b
          |    ON a.event_type = b.event_type AND a.d < b.d
          |), rs AS (
          |  SELECT event_type, sl,
          |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY sl)
          |      AS BIGINT) AS rn,
          |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
          |  FROM sl
          |), med AS (
          |  SELECT event_type, max(np) AS n_pairs,
          |    round(avg(CASE WHEN rn IN ((np + 1) // 2, (np + 2) // 2)
          |      THEN sl END) / 100, 6) AS slope
          |  FROM rs GROUP BY event_type
          |), res AS (
          |  SELECT dd.event_type,
          |    CAST(dd.s AS DOUBLE) / dd.n / 100 - med.slope * dd.d AS r
          |  FROM dd JOIN med ON med.event_type = dd.event_type
          |), rr AS (
          |  SELECT event_type, r,
          |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY r)
          |      AS BIGINT) AS rn,
          |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
          |  FROM res
          |)
          |SELECT med.event_type, ic.n_days, med.n_pairs, med.slope,
          |  ic.intercept
          |FROM med JOIN (
          |  SELECT event_type, max(nd) AS n_days,
          |    round(avg(CASE WHEN rn IN ((nd + 1) // 2, (nd + 2) // 2)
          |      THEN r END), 6) AS intercept
          |  FROM rr GROUP BY event_type
          |) ic ON ic.event_type = med.event_type
          |ORDER BY med.event_type""".stripMargin),
    ) { (s, dir) =>
      theilSen(Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("value")))
    },

    Q(
      "q_propensity_strat",
      "SUBCLASSIFICATION causal effect estimate (Cochran 1968 / " +
        "Rosenbaum-Rubin stratification, the simplest honest answer " +
        "to confounded assignment): per-user outcome = total event " +
        "value, treatment = the sticky arm, and the pre-treatment " +
        "covariate — activity band = min(n_events div 20, 7) — " +
        "stratifies users so the effect is measured WITHIN bands and " +
        "re-weighted by band population: ATE_strat = sum_s N_s*(mean_" +
        "Y_t,s - mean_Y_c,s) / sum_s N_s over strata with BOTH arms " +
        "present (the common-support/overlap assumption made an " +
        "explicit, counted filter — n_supported ships beside " +
        "n_strata). Where q_did needs a pre-period and q_cuped a " +
        "covariate regression, stratification needs only the band " +
        "rollup. The naive contrast ships beside it; on the " +
        "randomized synthetic arms the two agree (the null reading); " +
        "PropensityStratSpec plants activity-confounded assignment " +
        "where naive reads 131.0 and stratification recovers the " +
        "exact 12.5 truth. Exactness: per-user BIGINT cents rollup, " +
        "per-stratum effects on the 1e-6 grid then N_s-weighted " +
        "BIGINT sums (the c6 quantize-then-sum discipline), one final " +
        "division each. At 100 TB: one user-keyed corpus pass, then " +
        "#bands-bounded state",
      Some(
        s"""WITH u AS (
          |  SELECT user_id, ${Arms.ParitySql} AS t,
          |    CAST(count(*) AS BIGINT) AS n_u,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
          |  FROM events GROUP BY user_id
          |), b AS (
          |  SELECT least(n_u // 20, 7) AS band, t, user_id, y FROM u
          |), st AS (
          |  SELECT band,
          |    CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
          |    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS syt,
          |    CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
          |    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS syc
          |  FROM b GROUP BY band
          |), eff AS (
          |  SELECT band, nt + nc AS ns,
          |    CAST(round((CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / nc)
          |      / 100 * 1000000) AS BIGINT) AS e6
          |  FROM st WHERE nt > 0 AND nc > 0
          |)
          |SELECT
          |  (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_users,
          |  (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_strata,
          |  (SELECT CAST(count(*) AS BIGINT) FROM eff) AS n_supported,
          |  (SELECT round((CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS DOUBLE)
          |      / sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)
          |    - CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS DOUBLE)
          |      / sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)) / 100, 6)
          |   FROM u) AS ate_naive,
          |  (SELECT round(CAST(sum(ns * e6) AS DOUBLE) / sum(ns) / 1000000, 6)
          |   FROM eff) AS ate_strat""".stripMargin),
    ) { (s, dir) =>
      propensityStrat(Tables.events(s, dir)
        .select(col("user_id"), col("value")))
    },

    Q(
      "q_dp_quantile",
      "differentially-private MEDIAN per event type via the " +
        "EXPONENTIAL MECHANISM (McSherry-Talwar; the mechanism for " +
        "non-numeric/selection queries where Laplace on the value " +
        "would be nonsense): every distinct cent value is a candidate, " +
        "utility u(v) = -|#above - #below| (sensitivity 1, exact " +
        "integers off the cents-domain cumulative — the value-domain " +
        "window class), and the draw P(v) ∝ exp(ε·u/2) runs as the " +
        "GUMBEL-MAX trick — argmax of u·ε/2 + Gumbel(0,1), ε=1 — so " +
        "selection is one deterministic window argmax, no " +
        "normalization constant ever materializes. The Gumbel draw " +
        "-ln(-ln(U)) takes U from the functions/DpNoise source seam — " +
        "this gate-run row passes the md5(type|value) HashStandIn " +
        "(deterministic, explicitly NOT private), a real release " +
        "passes DpNoise.Crypto (SecureRandom) and changes nothing " +
        "else; mechanism, utility sensitivity, and the Gumbel-max " +
        "equivalence are shared code (DpSeamSpec pins that a peaked " +
        "landscape releases the exact median under EITHER source). " +
        "Ships " +
        "the true median (upper-median convention at even n: rank " +
        "floor(n/2)+1, the min v with 2*cum >= n+1 — no " +
        "interpolation, the released value is always a REAL domain " +
        "value) beside the release; DpQuantileSpec pins " +
        "that a peaked distribution forces the exact median through " +
        "ANY noise (utility gap dwarfs the bounded Gumbel range) and " +
        "recomputes the argmax independently. At 100 TB: one corpus " +
        "pass to (type, cents) counts, domain-bounded windows, " +
        "#types output rows",
      Some {
        val h = graft.functions.Portable.md5Hash60Sql(
          "event_type || '|' || CAST(v AS VARCHAR) || '|dpq'")
        s"""WITH e AS (
           |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
           |  FROM events
           |), vc AS (
           |  SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
           |  FROM e GROUP BY event_type, v
           |), cw AS (
           |  SELECT event_type, v, cnt,
           |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v)
           |      AS BIGINT) AS cum,
           |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
           |  FROM vc
           |), ss AS (
           |  SELECT event_type, v, cnt, cum, n,
           |    round(-abs(n - 2 * cum + cnt) * 0.5
           |      + round(-ln(-ln((($h) % 999999 + 0.5) / 1000000.0)), 6), 6)
           |      AS score
           |  FROM cw
           |), win AS (
           |  SELECT event_type, n,
           |    round(CAST(v AS DOUBLE) / 100, 6) AS dp_median
           |  FROM (
           |    SELECT event_type, v, n,
           |      row_number() OVER (PARTITION BY event_type
           |        ORDER BY score DESC, v) AS rk
           |    FROM ss) WHERE rk = 1
           |), tru AS (
           |  SELECT event_type,
           |    round(CAST(min(CASE WHEN cum * 2 >= n + 1 THEN v END)
           |      AS DOUBLE) / 100, 6) AS true_median
           |  FROM ss GROUP BY event_type
           |)
           |SELECT w.event_type, w.n, t.true_median, w.dp_median,
           |  round(abs(w.dp_median - t.true_median), 6) AS abs_err
           |FROM win w JOIN tru t ON t.event_type = w.event_type
           |ORDER BY w.event_type""".stripMargin
      },
    ) { (s, dir) =>
      dpQuantile(Tables.events(s, dir)
        .select(col("event_type"), col("value")))
    },

    Q(
      "q_power_mde",
      "experiment POWER ANALYSIS per event type — the minimum " +
        "detectable effect at the current sample and the sample size " +
        "a target effect would need (the planning readout every " +
        "experiment should consult BEFORE launch, and the " +
        "interpretation guard after: a null q_ab_test readout with " +
        "an MDE of 30% says nothing was learnable, not that nothing " +
        "happened). Closed forms at alpha=0.05 two-sided, power 80%: " +
        "MDE = (z_alpha/2 + z_beta) * SE_Welch = 2.801585 * " +
        "sqrt(s2*(1/na+1/nb)), and n/arm to detect a 1% relative " +
        "lift = ceil(2 * 2.801585^2 * s2 / (0.01*mean)^2). Pooled s2 " +
        "from the exact (n*q - s^2)-style BIGINT numerators (the " +
        "moments discipline), finals mirrored IEEE with 6dp " +
        "rounding; the z-constant sum is a shared literal (its " +
        "provenance spec-pinned against the A&S grid: Phi^-1 via the " +
        "q_fdr_bh tail at 6dp). PowerMdeSpec pins the closed form on " +
        "planted two-point arms and the 1/sqrt(n) scaling law. At " +
        "100 TB: ONE map-side-combined corpus pass to #types rows",
      Some(
        s"""WITH e AS (
          |  ${Arms.armedSql(Seq("event_type"), "c")}
          |), a AS (
          |  ${Arms.powerSumsSql(Seq("event_type"))}
          |), f AS (
          |  SELECT event_type, na, nb,
          |    (CAST(sa AS DOUBLE) + sb) / (na + nb) AS mc,
          |    ${Arms.PooledVarSql} AS s2
          |  FROM a WHERE na > 1 AND nb > 1
          |)
          |SELECT event_type, na, nb,
          |  round(mc / 100, 6) AS mean,
          |  round(sqrt(s2) / 100, 6) AS sd,
          |  round(2.801585 * sqrt(s2 * (1.0 / na + 1.0 / nb)) / 100, 6)
          |    AS mde_abs,
          |  round(2.801585 * sqrt(s2 * (1.0 / na + 1.0 / nb)) / mc, 6)
          |    AS mde_rel,
          |  CAST(ceil(2 * 2.801585 * 2.801585 * s2 / (0.01 * mc * (0.01 * mc)))
          |    AS BIGINT) AS n_per_arm_1pct
          |FROM f ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      powerMde(Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value")))
    },

    Q(
      "q_kendall_tau",
      "KENDALL τ-b rank correlation between hour-of-day and value — " +
        "the concordance coefficient beside q_spearman's rho: τ " +
        "counts pair ORDER agreements, so it has a direct " +
        "probabilistic reading (P(concordant) − P(discordant)) and " +
        "the -b form corrects for the heavy ties both bounded " +
        "domains guarantee. The naive Σ over n² pairs never " +
        "happens: C − D decomposes over the COMPLETED 24×cents grid " +
        "as ½·Σ_cells f(x,y)·Σ_{x'≠x} sign(x−x')·T(x',y), where " +
        "T(x',y) = (# below y) − (# above y) in column x' comes from " +
        "one per-column cumulative over the value domain (the " +
        "VALUE-DOMAIN WINDOW CLASS) — every term an exact " +
        "BIGINT/DECIMAL(38,0) integer, tie corrections Σt(t−1) " +
        "likewise, and τ-b plus the tie-naive normal z finish as " +
        "single mirrored IEEE expressions, 6dp. At 100 TB: one " +
        "corpus pass to (hour, cents) cells, a 24×cents-bounded " +
        "grid walk, 1-row output",
      Some(
        """WITH e AS (
          |  SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
          |    CAST(round(value * 100) AS BIGINT) AS y
          |  FROM events
          |), cells AS (
          |  SELECT x, y, CAST(count(*) AS BIGINT) AS f
          |  FROM e GROUP BY x, y
          |), grid AS (
          |  SELECT xs.x, ys.y, COALESCE(c.f, 0) AS f
          |  FROM (SELECT DISTINCT x FROM cells) xs
          |  CROSS JOIN (SELECT DISTINCT y FROM cells) ys
          |  LEFT JOIN cells c ON c.x = xs.x AND c.y = ys.y
          |), td AS (
          |  SELECT x AS x2, y,
          |    (below - (tot - below - f)) AS td
          |  FROM (
          |    SELECT x, y, f,
          |      CAST(sum(f) OVER (PARTITION BY x ORDER BY y)
          |        AS BIGINT) - f AS below,
          |      CAST(sum(f) OVER (PARTITION BY x) AS BIGINT) AS tot
          |    FROM grid)
          |), inner_s AS (
          |  SELECT c.x AS x1, c.y, c.f,
          |    CAST(sum(CASE WHEN c.x > td.x2 THEN td.td
          |      ELSE -td.td END) AS BIGINT) AS inn
          |  FROM cells c JOIN td ON td.y = c.y AND td.x2 <> c.x
          |  GROUP BY c.x, c.y, c.f
          |), cd AS (
          |  SELECT CAST(sum(CAST(f AS HUGEINT) * inn) AS HUGEINT) AS cmd2
          |  FROM inner_s
          |), xt AS (
          |  SELECT CAST(sum(t) AS BIGINT) AS n,
          |    CAST(sum(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT) AS tx2
          |  FROM (SELECT CAST(sum(f) AS BIGINT) AS t FROM cells GROUP BY x)
          |), yt AS (
          |  SELECT CAST(sum(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT) AS ty2
          |  FROM (SELECT CAST(sum(f) AS BIGINT) AS t FROM cells GROUP BY y)
          |), fin AS (
          |  SELECT n, cmd2,
          |    CAST(n AS HUGEINT) * (n - 1) - tx2 AS dx,
          |    CAST(n AS HUGEINT) * (n - 1) - ty2 AS dy,
          |    CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) AS zden2
          |  FROM cd CROSS JOIN xt CROSS JOIN yt
          |), r AS (
          |  SELECT n,
          |    CASE WHEN dx = 0 OR dy = 0 THEN NULL ELSE
          |      round(CAST(cmd2 AS DOUBLE)
          |        / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))),
          |        6) END AS tau_b,
          |    CASE WHEN n < 3 THEN NULL ELSE
          |      round(3 * CAST(cmd2 AS DOUBLE)
          |        / (2 * sqrt(CAST(zden2 AS DOUBLE) / 2)), 6)
          |      END AS kendall_z
          |  FROM fin
          |)
          |SELECT n, tau_b, kendall_z,
          |  CAST(abs(kendall_z) > 1.96 AS BIGINT) AS significant
          |FROM r""".stripMargin),
    ) { (s, dir) =>
      kendallTau(Tables.events(s, dir)
        .select(hour(col("ts")).cast("long").as("x"),
          round(col("value") * 100, 0).cast("long").as("y")))
    },

    Q(
      "q_quantile_te",
      "QUANTILE TREATMENT EFFECTS per event type: the arm-B-minus-" +
        "arm-A difference at p = .25/.50/.75, read off the per-arm " +
        "cents-domain cumulatives with exact integer index " +
        "arithmetic — the distributional readout q_ab_test's mean " +
        "difference flattens away (a treatment that moves only the " +
        "tail moves q75 and NOTHING else; QuantileTeSpec plants a " +
        "pure location shift and pins equal effects at every " +
        "quantile). Quantile = smallest cents whose arm cumulative " +
        "reaches k = ⌈p·n⌉ (the inverse-CDF definition; k in pure " +
        "integers since p = j/4 is exact) — the q_window_dist index " +
        "machinery pointed at arms instead of ntiles. At 100 TB: one " +
        "corpus pass to (type, cents, arm counts), domain-bounded " +
        "cumulative windows, a 3-row-per-type broadcast probe, " +
        "#types×3 rows out",
      Some(quantileTeSql),
    ) { (s, dir) =>
      quantileTe(Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value")))
    },

    Q(
      "q_cmh_test",
      "COCHRAN-MANTEL-HAENSZEL stratified association test (the " +
        "epidemiology/experimentation standard for 2×2 tables " +
        "ACROSS strata): does arm predict conversion CONTROLLING " +
        "for day — the common-odds-ratio question Simpson's paradox " +
        "makes q_chisq_independence's pooled table unable to " +
        "answer (CmhSpec plants exactly that: marginal lift, zero " +
        "stratified effect → CMH reads null where the pooled χ² " +
        "fires). Per-day cells (a,b,c,d) are exact BIGINT counts; " +
        "each stratum's E = n0·m1/T and hypergeometric variance " +
        "quantize to the 1e-9 grid and sum in DECIMAL(38,0) (the " +
        "q_chisq_independence convention), as do the Mantel-" +
        "Haenszel odds-ratio numerator Σa·d/T and denominator " +
        "Σb·c/T; χ² (df=1, no continuity correction — documented) " +
        "and OR finish as single mirrored IEEE divisions, 6dp. At " +
        "100 TB: one keyed corpus pass to #days cells; everything " +
        "after is #days-bounded, 1-row output",
      Some(
        s"""WITH e AS (
          |  SELECT CAST(ts AS DATE) AS day, ${Arms.ParitySql} AS grp,
          |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
          |  FROM events
          |), cells AS (
          |  SELECT day,
          |    CAST(sum(CASE WHEN grp = 0 THEN hit ELSE 0 END) AS BIGINT) AS a,
          |    CAST(sum(CASE WHEN grp = 0 THEN 1 - hit ELSE 0 END) AS BIGINT) AS b,
          |    CAST(sum(CASE WHEN grp = 1 THEN hit ELSE 0 END) AS BIGINT) AS c,
          |    CAST(sum(CASE WHEN grp = 1 THEN 1 - hit ELSE 0 END) AS BIGINT) AS d
          |  FROM e GROUP BY day
          |), m AS (
          |  SELECT day, a, b, c, d, a + b AS n0, c + d AS n1,
          |    a + c AS m1, b + d AS m0, a + b + c + d AS t
          |  FROM cells WHERE a + b + c + d > 1
          |), ag AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
          |    CAST(sum(t) AS BIGINT) AS n, CAST(sum(a) AS BIGINT) AS sa,
          |    CAST(sum(CAST(round(CAST(n0 AS DOUBLE) * m1 / t
          |      * 1000000000.0) AS HUGEINT)) AS HUGEINT) AS e9,
          |    CAST(sum(CAST(round(CAST(n0 AS DOUBLE) * n1 * m1 * m0
          |      / (CAST(t AS DOUBLE) * t * (t - 1))
          |      * 1000000000.0) AS HUGEINT)) AS HUGEINT) AS v9,
          |    CAST(sum(CAST(round(CAST(a AS DOUBLE) * d / t
          |      * 1000000000.0) AS HUGEINT)) AS HUGEINT) AS r9,
          |    CAST(sum(CAST(round(CAST(b AS DOUBLE) * c / t
          |      * 1000000000.0) AS HUGEINT)) AS HUGEINT) AS s9
          |  FROM m
          |), fin AS (
          |  SELECT n_strata, n,
          |    CAST(sa AS HUGEINT) * 1000000000 - e9 AS num9, v9, r9, s9
          |  FROM ag
          |), r AS (
          |  SELECT n_strata, n,
          |    CASE WHEN v9 = 0 THEN NULL ELSE
          |      round(CAST(num9 AS DOUBLE) * CAST(num9 AS DOUBLE)
          |        / (1000000000.0 * CAST(v9 AS DOUBLE)), 6)
          |      END AS cmh_chi2,
          |    CASE WHEN s9 = 0 THEN NULL ELSE
          |      round(CAST(r9 AS DOUBLE) / CAST(s9 AS DOUBLE), 6)
          |      END AS or_mh
          |  FROM fin
          |)
          |SELECT n_strata, n, cmh_chi2, or_mh,
          |  CAST(cmh_chi2 > 3.841459 AS BIGINT) AS significant
          |FROM r""".stripMargin),
    ) { (s, dir) =>
      cmhTest(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts")), "purchase")
    },

    Q(
      "q_runs_test",
      "WALD-WOLFOWITZ RUNS test per event type on the daily-total " +
        "sign sequence (above/below the daily median): the " +
        "randomness check that catches serial dependence — a metric " +
        "drifting up reads as few long runs, oscillation as too " +
        "many — where q_acf needs a lag structure and q_changepoint " +
        "a single split. Daily totals densify onto the global day " +
        "spine (the q_acf lesson); above/below compares 2·s against " +
        "the SUM of the two middle order statistics (exact integers " +
        "— the median never materializes as a float; equal-to-" +
        "median days are excluded, the standard treatment); runs " +
        "count via one lag over the #days-bounded sequence; the " +
        "normal z = (R − (2n₁n₂/n + 1))/σ finishes as one mirrored " +
        "IEEE expression over exact integer parts, 6dp. At 100 TB: " +
        "one keyed corpus pass to (type, day) sums; all windows run " +
        "on the #days-bounded rollup, #types rows out",
      Some(
        """WITH d0 AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
          |  FROM events GROUP BY event_type, day
          |), daily AS (
          |  SELECT t.event_type, dd.day, COALESCE(d0.s, 0) AS s
          |  FROM (SELECT DISTINCT event_type FROM d0) t
          |  CROSS JOIN (SELECT DISTINCT day FROM d0) dd
          |  LEFT JOIN d0 ON d0.event_type = t.event_type AND d0.day = dd.day
          |), med AS (
          |  SELECT event_type,
          |    CASE WHEN max(odd) = 1 THEN 2 * sum(pick) ELSE sum(pick) END AS m2
          |  FROM (
          |    SELECT event_type, s,
          |      CASE WHEN rn = (nd + 1) // 2 OR rn = (nd + 2) // 2
          |        THEN s END AS pick,
          |      CASE WHEN nd % 2 = 1 THEN 1 ELSE 0 END AS odd
          |    FROM (
          |      SELECT event_type, s,
          |        CAST(row_number() OVER (PARTITION BY event_type
          |          ORDER BY s, day) AS BIGINT) AS rn,
          |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
          |      FROM daily))
          |  GROUP BY event_type
          |), signed AS (
          |  SELECT d.event_type, d.day,
          |    CASE WHEN 2 * d.s > m.m2 THEN 1 ELSE 0 END AS up
          |  FROM daily d JOIN med m ON m.event_type = d.event_type
          |  WHERE 2 * d.s <> m.m2
          |), runs AS (
          |  SELECT event_type,
          |    CAST(sum(up) AS BIGINT) AS n1,
          |    CAST(sum(1 - up) AS BIGINT) AS n2,
          |    CAST(sum(chg) AS BIGINT) AS runs
          |  FROM (
          |    SELECT event_type, up,
          |      CASE WHEN lag(up) OVER (PARTITION BY event_type
          |          ORDER BY day) IS NULL
          |        OR lag(up) OVER (PARTITION BY event_type
          |          ORDER BY day) <> up
          |      THEN 1 ELSE 0 END AS chg
          |    FROM signed)
          |  GROUP BY event_type
          |), fin AS (
          |  SELECT event_type, n1, n2, runs,
          |    n1 + n2 AS nn, 2 * n1 * n2 AS p2
          |  FROM runs WHERE n1 > 0 AND n2 > 0
          |), r AS (
          |  SELECT event_type, n1, n2, runs,
          |    CASE WHEN nn < 2 OR p2 * (p2 - nn) <= 0 THEN NULL ELSE
          |      round((runs - (CAST(p2 AS DOUBLE) / nn + 1))
          |        / sqrt(CAST(p2 AS DOUBLE) * (p2 - nn)
          |          / (CAST(nn AS DOUBLE) * nn * (nn - 1))), 6)
          |      END AS runs_z
          |  FROM fin
          |)
          |SELECT event_type, n1, n2, runs, runs_z,
          |  CAST(abs(runs_z) <= 1.96 AS BIGINT) AS looks_random
          |FROM r ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      runsTest(Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("value")))
    },

    Q(
      "q_tost_equivalence",
      "TOST EQUIVALENCE test per event type (Schuirmann 1987 — two " +
        "one-sided Welch z's against a ±$20 margin): the question " +
        "q_ab_test CANNOT answer, because failing to reject the null " +
        "is not evidence of no effect — TOST flips the burden and " +
        "REJECTS non-equivalence, the reading a launch-safety " +
        "guardrail actually needs (ship iff the effect is provably " +
        "inside the margin). Exact BIGINT power sums; the mean " +
        "difference and Welch se land on the 6dp grid BEFORE the two " +
        "z divisions, so both engines make identical calls; " +
        "equivalent = min(z_lower, z_upper) > 1.645 (α = .05 " +
        "one-sided each — the standard 90% CI-in-margin view). " +
        "TostSpec plants a within-margin nudge and an out-of-margin " +
        "lift. At 100 TB: one keyed corpus pass to #types sums, " +
        "#types rows out",
      Some(
        s"""WITH e AS (
          |  ${Arms.armedSql(Seq("event_type"), "c")}
          |), su AS (
          |  ${Arms.powerSumsSql(Seq("event_type"))}
          |), g AS (
          |  SELECT event_type, na + nb AS n,
          |    round(${Arms.MeanDiffSql}, 6) AS dc6,
          |    round(${Arms.WelchSeSql}, 6) AS se6
          |  FROM su WHERE na > 1 AND nb > 1
          |), z AS (
          |  SELECT event_type, n, round(dc6 / 100, 6) AS diff,
          |    CASE WHEN se6 = 0 THEN NULL ELSE
          |      round((dc6 + $TostMarginCents) / se6, 6) END AS z_lower,
          |    CASE WHEN se6 = 0 THEN NULL ELSE
          |      round(($TostMarginCents - dc6) / se6, 6) END AS z_upper
          |  FROM g
          |)
          |SELECT event_type, n, diff, z_lower, z_upper,
          |  CAST(z_lower > 1.645 AND z_upper > 1.645 AS BIGINT) AS equivalent
          |FROM z ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      tostEquivalence(Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value")),
        TostMarginCents)
    },

    Q(
      "q_holm_bonferroni",
      "HOLM step-down FWER control across the per-type metric family " +
        "— q_fdr_bh's stricter sibling: where BH caps the false " +
        "DISCOVERY rate (step-UP from the worst p), Holm caps the " +
        "familywise error (step-DOWN from the best p, threshold " +
        "α/(m−i+1), STOPPING at the first failure) — uniformly more " +
        "powerful than plain Bonferroni at the same guarantee, and " +
        "the right default when ONE false positive is unacceptable " +
        "(launch gates) rather than a rate. Shares q_fdr_bh's whole " +
        "test stage (exact BIGINT arm power sums → Welch z → the " +
        "mirrored A&S 26.2.17 grid p), and the step-down compare " +
        "p6i·20·(m−rk+1) ≤ 10⁶ runs in pure integers; the stop-at-" +
        "first-failure is a prefix-max window over the #types-" +
        "bounded rollup. At 100 TB: one keyed corpus pass, #types " +
        "rows out",
      Some(
        s"""WITH e AS (
          |  ${Arms.armedSql(Seq("event_type"), "c")}
          |), su AS (
          |  ${Arms.powerSumsSql(Seq("event_type"))}
          |), f AS (
          |  SELECT event_type, na + nb AS n,
          |    round((${Arms.MeanDiffSql}) / ${Arms.WelchSeSql}, 6) AS z
          |  FROM su WHERE na > 1 AND nb > 1
          |), p AS (
          |  SELECT event_type, n, z, ${pNorm6Sql("z")} AS p6i FROM f
          |), rk AS (
          |  SELECT event_type, n, z, p6i,
          |    CAST(row_number() OVER (ORDER BY p6i, event_type) AS BIGINT)
          |      AS rk,
          |    CAST(count(*) OVER () AS BIGINT) AS m
          |  FROM p
          |), sd AS (
          |  SELECT event_type, n, z, p6i, rk,
          |    max(CASE WHEN p6i * $FdrAlphaInv * (m - rk + 1) > 1000000
          |      THEN 1 ELSE 0 END)
          |      OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING
          |        AND CURRENT ROW) AS cumfail
          |  FROM rk
          |)
          |SELECT event_type, n, z,
          |  round(CAST(p6i AS DOUBLE) / 1000000, 6) AS p, rk,
          |  CAST(1 - cumfail AS BIGINT) AS rejected
          |FROM sd ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      holmReadout(welchScored(Arms.powerSums(Arms.armed(Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value")),
        Seq(col("event_type"))))))
    },

    Q(
      "q_ljung_box",
      "LJUNG-BOX portmanteau whiteness test on the hourly count " +
        "series, lags 1–12 — q_acf's decision layer: ACF shows the " +
        "correlogram, Box-Ljung asks ONE question (is the series " +
        "white noise at all?) with a χ²(12) answer — the gate a " +
        "forecasting pipeline checks before trusting q_holt_winters' " +
        "residuals or q_events_anomaly's trailing windows. The " +
        "series densifies onto the hour spine (the q_acf lesson); " +
        "each lag's autocorrelation is the exact centered " +
        "DECIMAL(38,0)/HUGEINT quotient on the 6dp grid (cast " +
        "before the first overflow-able product — the mannWhitney " +
        "convention); the r²/(n−k) terms quantize to " +
        "the 1e-9 grid and sum exactly (the q_chisq_independence " +
        "convention); Q = n(n+2)·Σ and the Wilson-Hilferty cube-root " +
        "z finish as mirrored IEEE expressions. At 100 TB: one " +
        "corpus scan to the hour rollup, a 12-lag band self-join of " +
        "the #hours-bounded spine, 1-row output",
      Some(
        s"""WITH $hourlySeriesSqlCte,
          |${lagProductsSql(LjungBoxLags, ",\n    max(n) AS n")}, terms AS (
          |  SELECT n, lag,
          |    round(CAST(num AS DOUBLE) / den, 6) AS r6
          |  FROM num CROSS JOIN den
          |), s9 AS (
          |  SELECT n, CAST(count(*) AS BIGINT) AS lags,
          |    CAST(sum(CAST(round(r6 * r6 / (n - lag) * 1000000000.0)
          |      AS HUGEINT)) AS HUGEINT) AS s9
          |  FROM terms GROUP BY n
          |), q AS (
          |  SELECT n, lags,
          |    round(CAST(n AS DOUBLE) * (n + 2)
          |      * (CAST(s9 AS DOUBLE) / 1000000000.0), 6) AS lb_q
          |  FROM s9
          |), w AS (
          |  SELECT n, lags, lb_q,
          |    round((cbrt(lb_q / lags) - 1 + 2.0 / (9 * lags))
          |      / sqrt(2.0 / (9 * lags)), 6) AS wh_z
          |  FROM q
          |)
          |SELECT n, lags, lb_q, wh_z,
          |  CAST(wh_z > 1.645 AS BIGINT) AS autocorrelated
          |FROM w""".stripMargin),
    ) { (s, dir) =>
      ljungBox(hourlySeries(s, dir), LjungBoxLags)
    },

    Q(
      "q_ewma_control",
      "EWMA CONTROL CHART over the hourly count series (λ = 1/5, " +
        "steady-state 3σ limits — Roberts 1959, the SPC standard for " +
        "small sustained shifts that q_events_anomaly's per-point " +
        "z-test misses: the EWMA accumulates a 0.5σ drift into a " +
        "crossing within hours). λ = 1/5 makes the steady-state " +
        "limit collapse exactly: 3σ√(λ/(2−λ)) = 3σ·√(1/9) = σ — the " +
        "out-of-control compare is |z_t − μ| > σ with no extra " +
        "constants (time-varying early-t limits are the documented " +
        "refinement). The smoothing fold is the q_holt_winters " +
        "shape — the #hours-bounded series rides ONE row as a sorted " +
        "array, iterates 6dp-quantized so both engines walk the same " +
        "trajectory — and μ/σ come from exact BIGINT power sums. At " +
        "100 TB: one corpus scan to the hour rollup; the sequential " +
        "part is #hours scalar ops, 1-row output",
      Some(ewmaSql),
    ) { (s, dir) =>
      ewmaControl(hourlySeries(s, dir))
    },

    Q(
      "q_iv_wald",
      "INSTRUMENTAL-VARIABLE causal effect via the Wald estimator — " +
        "the encouragement-design readout beside q_ab_test (ITT) and " +
        "q_cuped: instrument z = user parity (as-if-random), " +
        "endogenous treatment x = the user's click count, outcome " +
        "y = purchase spend. LATE = (E[y|z=1]−E[y|z=0]) / " +
        "(E[x|z=1]−E[x|z=0]); the algebra clears every division — " +
        "LATE = (Σy₁·n₀ − Σy₀·n₁)/(Σx₁·n₀ − Σx₀·n₁) — so the whole " +
        "estimator is EXACT DECIMAL(38,0)/HUGEINT integer products " +
        "down to three final one-shot IEEE divisions (first stage, " +
        "ITT, LATE), 6dp. No grid rounds, no libm calls: the one " +
        "classical causal estimator that needs zero float discipline. " +
        "At 100 TB: one corpus pass to the per-user (x, y) rollup " +
        "(shuffle on user_id), one 2-arm agg, 1-row output",
      Some(
        s"""WITH u AS (
          |  SELECT ${Arms.ParitySql} AS z,
          |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS x,
          |    CAST(sum(CASE WHEN event_type = 'purchase'
          |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
          |      AS BIGINT) AS y
          |  FROM events GROUP BY user_id
          |), a AS (
          |  SELECT CAST(count(*) AS BIGINT) AS nu,
          |    CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          |    CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          |    sum(CASE WHEN z = 1 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx1,
          |    sum(CASE WHEN z = 0 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx0,
          |    sum(CASE WHEN z = 1 THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy1,
          |    sum(CASE WHEN z = 0 THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy0
          |  FROM u
          |), d AS (
          |  SELECT nu, n1,
          |    sx1 * n0 - sx0 * n1 AS fs_num,
          |    sy1 * n0 - sy0 * n1 AS rf_num,
          |    CAST(n1 AS HUGEINT) * n0 AS nd
          |  FROM a
          |)
          |SELECT nu AS n_users, n1 AS n_encouraged,
          |  CASE WHEN nd = 0 THEN NULL ELSE
          |    round(CAST(fs_num AS DOUBLE) / CAST(nd AS DOUBLE), 6)
          |    END AS first_stage,
          |  CASE WHEN nd = 0 THEN NULL ELSE
          |    round(CAST(rf_num AS DOUBLE) / (CAST(nd AS DOUBLE) * 100), 6)
          |    END AS itt,
          |  CASE WHEN fs_num = 0 THEN NULL ELSE
          |    round(CAST(rf_num AS DOUBLE) / (CAST(fs_num AS DOUBLE) * 100),
          |      6) END AS late
          |FROM d""".stripMargin),
    ) { (s, dir) =>
      ivWald(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value")))
    },

    Q(
      "q_rdd_sharp",
      "SHARP REGRESSION DISCONTINUITY: local-linear fits on both " +
        "sides of a cutoff in the running variable (user_id mod 1000, " +
        "cutoff 500, uniform kernel of half-width 250), treatment " +
        "effect = the gap between the two boundary intercepts — the " +
        "quasi-experimental estimator for score-threshold rollouts " +
        "(credit lines, eligibility scores) where q_ab_test has no " +
        "randomization to lean on. Each side's OLS is CLOSED-FORM on " +
        "exact sums: with d = r − cutoff, intercept = (Σy·Σd² − " +
        "Σd·Σdy)/(nΣd² − (Σd)²) and slope analogous — every moment an " +
        "exact DECIMAL(38,0)/HUGEINT product, one IEEE division per " +
        "coefficient, and τ = the DIFFERENCE OF THE TWO 6dp-GRID " +
        "intercepts so both engines agree by construction. At 100 TB: " +
        "one corpus pass to the per-user outcome rollup, bandwidth " +
        "filter, one 2-side agg, 1-row output",
      Some(
        """WITH u AS (
          |  SELECT user_id % 1000 AS r,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
          |  FROM events GROUP BY user_id
          |), w AS (
          |  SELECT CASE WHEN r >= 500 THEN 1 ELSE 0 END AS side,
          |    CAST(r - 500 AS BIGINT) AS d, y
          |  FROM u WHERE r >= 250 AND r < 750
          |), m AS (
          |  SELECT side, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(d) AS HUGEINT) AS sd,
          |    CAST(sum(d * d) AS HUGEINT) AS sdd,
          |    CAST(sum(y) AS HUGEINT) AS sy,
          |    sum(CAST(d AS HUGEINT) * y) AS sdy
          |  FROM w GROUP BY side
          |), c AS (
          |  SELECT side, n,
          |    CAST(n AS HUGEINT) * sdd - sd * sd AS den,
          |    sy * sdd - sd * sdy AS inum,
          |    CAST(n AS HUGEINT) * sdy - sd * sy AS snum
          |  FROM m
          |), p AS (
          |  SELECT
          |    max(CASE WHEN side = 0 THEN n END) AS n_left,
          |    max(CASE WHEN side = 1 THEN n END) AS n_right,
          |    max(CASE WHEN side = 0 AND den <> 0 THEN
          |      round(CAST(inum AS DOUBLE) / (CAST(den AS DOUBLE) * 100), 6)
          |      END) AS y0_left,
          |    max(CASE WHEN side = 1 AND den <> 0 THEN
          |      round(CAST(inum AS DOUBLE) / (CAST(den AS DOUBLE) * 100), 6)
          |      END) AS y0_right,
          |    max(CASE WHEN side = 0 AND den <> 0 THEN
          |      round(CAST(snum AS DOUBLE) / (CAST(den AS DOUBLE) * 100), 6)
          |      END) AS slope_left,
          |    max(CASE WHEN side = 1 AND den <> 0 THEN
          |      round(CAST(snum AS DOUBLE) / (CAST(den AS DOUBLE) * 100), 6)
          |      END) AS slope_right
          |  FROM c
          |)
          |SELECT n_left, n_right, y0_left, y0_right,
          |  slope_left, slope_right,
          |  round(y0_right - y0_left, 6) AS tau
          |FROM p""".stripMargin),
    ) { (s, dir) =>
      rddSharp(Tables.events(s, dir)
        .select(col("user_id"), col("value")))
    },

    Q(
      "q_mann_kendall",
      "MANN-KENDALL trend test on the daily-revenue series — the " +
        "nonparametric 'is this metric drifting?' beside " +
        "q_theil_sen's slope (the classical pairing: MK decides IF, " +
        "Theil-Sen says HOW MUCH): S = Σ_{i<j} sign(tot_j − tot_i) " +
        "over day pairs, tie-corrected variance 18·Var = N(N−1)(2N+5) " +
        "− Σt(t−1)(2t+5) with the cubics in DECIMAL(38,0)/HUGEINT " +
        "(the q_mann_whitney overflow discipline), continuity-" +
        "corrected z as ONE mirrored IEEE expression on exact " +
        "integers. The pair probe is O(days²) BY DESIGN: the series " +
        "is the DAY CATALOG, bounded by calendar time — not corpus " +
        "volume — so even a century is a 36k×36k nested loop on a " +
        "broadcast rollup. At 100 TB: one corpus pass to the daily " +
        "rollup, the pair probe never touches rows, 1-row output",
      Some(
        """WITH daily AS (
          |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
          |      AS day,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tot
          |  FROM events GROUP BY 1
          |), sp AS (
          |  SELECT CAST(sum(CASE WHEN b.tot > a.tot THEN 1
          |    WHEN b.tot < a.tot THEN -1 ELSE 0 END) AS BIGINT) AS s
          |  FROM daily a JOIN daily b ON a.day < b.day
          |), tie AS (
          |  SELECT CAST(count(*) AS BIGINT) AS nd,
          |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0)
          |      AS tie3
          |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
          |        FROM daily GROUP BY tot)
          |), v AS (
          |  SELECT nd, s,
          |    CAST(nd AS HUGEINT) * (nd - 1) * (2 * nd + 5) - tie3 AS var18
          |  FROM sp CROSS JOIN tie
          |), z AS (
          |  SELECT nd, s,
          |    CASE WHEN var18 <= 0 THEN NULL
          |      WHEN s > 0 THEN
          |        round((s - 1) * sqrt(18.0 / CAST(var18 AS DOUBLE)), 6)
          |      WHEN s < 0 THEN
          |        round((s + 1) * sqrt(18.0 / CAST(var18 AS DOUBLE)), 6)
          |      ELSE 0.0 END AS mk_z
          |  FROM v
          |)
          |SELECT nd AS n_days, s, mk_z,
          |  CAST(CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END
          |    AS BIGINT) AS trend,
          |  CAST(abs(mk_z) > 1.96 AS BIGINT) AS significant
          |FROM z""".stripMargin),
    ) { (s, dir) =>
      mannKendall(Tables.events(s, dir)
        .select(col("ts").cast("date").as("day"),
          round(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("day").agg(sum(col("c")).as("tot")))
    },

    Q(
      "q_cochran_q",
      "COCHRAN'S Q across the event-type catalog: did users' BINARY " +
        "incidence (touched type t at least once?) differ across the " +
        "k types — the k-treatment generalization of q_mcnemar " +
        "(k = 2 reduces to it) and the within-subject counterpart of " +
        "q_chisq_independence. Q = (k−1)(kΣG_j² − T²)/(kT − ΣL_i²) " +
        "with G_j the per-type user counts, L_i the per-user type " +
        "counts, T their shared total — EVERY term an exact " +
        "DECIMAL(38,0)/HUGEINT integer, one IEEE division, then the " +
        "Wilson-Hilferty normal approximation on the 6dp-GRID Q (the " +
        "q_chisq_independence convention) so both engines' " +
        "significance calls agree by construction. At 100 TB: the " +
        "incidence distinct is one shuffle on (user, type); both " +
        "marginals reduce it to catalog-/user-bounded rollups, 1-row " +
        "output",
      Some(
        """WITH inc AS (
          |  SELECT DISTINCT user_id, event_type FROM events
          |), gj AS (
          |  SELECT CAST(count(*) AS BIGINT) AS k,
          |    CAST(sum(g) AS BIGINT) AS tt,
          |    sum(CAST(g AS HUGEINT) * g) AS sg2
          |  FROM (SELECT CAST(count(*) AS BIGINT) AS g
          |        FROM inc GROUP BY event_type)
          |), li AS (
          |  SELECT CAST(count(*) AS BIGINT) AS nu,
          |    sum(CAST(l AS HUGEINT) * l) AS sl2
          |  FROM (SELECT CAST(count(*) AS BIGINT) AS l
          |        FROM inc GROUP BY user_id)
          |), qn AS (
          |  SELECT nu, k, k - 1 AS df,
          |    (k - 1) * (CAST(k AS HUGEINT) * sg2
          |      - CAST(tt AS HUGEINT) * tt) AS qnum,
          |    CAST(k AS HUGEINT) * tt - sl2 AS qden
          |  FROM gj CROSS JOIN li
          |), qs AS (
          |  SELECT nu, k, df,
          |    CASE WHEN qden = 0 THEN NULL ELSE
          |      round(CAST(qnum AS DOUBLE) / CAST(qden AS DOUBLE), 6)
          |      END AS q_stat
          |  FROM qn
          |)
          |SELECT nu AS n_users, k, df, q_stat,
          |  CASE WHEN df = 0 OR q_stat IS NULL THEN NULL ELSE
          |    round((cbrt(q_stat / df) - 1 + 2.0 / (9 * df))
          |      / sqrt(2.0 / (9 * df)), 6) END AS wh_z,
          |  CAST(CASE WHEN df = 0 OR q_stat IS NULL THEN NULL ELSE
          |    round((cbrt(q_stat / df) - 1 + 2.0 / (9 * df))
          |      / sqrt(2.0 / (9 * df)), 6) END > 1.645 AS BIGINT)
          |    AS significant
          |FROM qs""".stripMargin),
    ) { (s, dir) =>
      cochranQ(Tables.events(s, dir)
        .select(col("user_id"), col("event_type")))
    },

    Q(
      "q_kruskal_wallis",
      "KRUSKAL-WALLIS rank ANOVA across event types — the " +
        "nonparametric face of q_anova_f (k-group q_mann_whitney), " +
        "the spread-vs-location triple's third leg beside " +
        "q_levene_bf: are the k value DISTRIBUTIONS' locations " +
        "equal, whale-proof? Ranks are DOUBLED midrank integers " +
        "(r2 = 2·cum_before + t + 1, the q_mann_whitney trick) built " +
        "on the global cents rollup (the VALUE-DOMAIN WINDOW CLASS), " +
        "so the corpus never ranks row-by-row; per-group rank sums " +
        "are exact DECIMAL(38,0) products, the R²/n quotients ride " +
        "the quotient+remainder split (the q_anova_f algebra — " +
        "integral part exact, remainder on the 1e-9 grid), the tie " +
        "correction's cubics cast to DECIMAL BEFORE multiplying (the " +
        "q_mann_whitney overflow fix), and the Wilson-Hilferty z " +
        "reads the 6dp-GRID H. Exactness window: R2_g² needs " +
        "n_g·2N < 1e19 — beyond that DECIMAL(38,0) nulls rather than " +
        "drifts (the q_anova_f note). At 100 TB: one corpus pass to " +
        "the (type, cents) rollup, everything after is domain-" +
        "bounded, 1-row output",
      Some(kruskalSql),
    ) { (s, dir) =>
      kruskalWallis(Tables.events(s, dir)
        .select(col("event_type").as("g"),
          round(col("value") * 100, 0).cast("long").as("v")))
    },

    Q(
      "q_ols_multi",
      "MULTIPLE LINEAR REGRESSION of spend on hour-of-day + " +
        "day-of-week via the NORMAL EQUATIONS — the workhorse " +
        "multi-feature fit beside q_correlated's single-x slope and " +
        "q_theil_sen's robust one: every entry of X'X and X'y is one " +
        "exact DECIMAL(38,0)/HUGEINT power sum off a single corpus " +
        "pass (the momentSums discipline — order-free, mergeable, " +
        "streaming-additive), the 2×2 centered Cramer solve runs as " +
        "ONE mirrored IEEE expression per coefficient (6dp), and the " +
        "intercept + R² derive from the 6dp-GRID slopes so both " +
        "engines agree by construction. p features ⇒ p(p+3)/2 sums — " +
        "the same one-pass shape at any width; the solve is O(p³) on " +
        "the driver side of the agg, never the corpus. At 100 TB: " +
        "one scan, nine exact sums, 1-row output",
      Some(olsSql),
    ) { (s, dir) =>
      olsMulti(Tables.events(s, dir)
        .select(hour(col("ts")).cast("long").as("x"),
          dayofweek(col("ts")).cast("long").as("z"),
          round(col("value") * 100, 0).cast("long").as("y")))
    },

    Q(
      "q_logreg_irls",
      s"LOGISTIC REGRESSION of purchase propensity on hour-of-day " +
        s"via $IrlsRounds unrolled NEWTON/IRLS rounds over the " +
        "24-cell hour histogram — the supervised twin of " +
        "q_mixture_em's unsupervised EM, sharing its whole " +
        "discipline: the per-cell sigmoid depends only on x, so each " +
        "round is ALGEBRAICALLY IDENTICAL to per-row IRLS while " +
        "running on the domain-bounded rollup (ONE corpus pass " +
        "total); means quantize to the 1e-9 grid, making the weights " +
        "w = μ(1−μ) exact ≤2.5e17 integers, X'WX and the score " +
        "X'(y−μ) exact DECIMAL(38,0)/HUGEINT sums, and the 2×2 " +
        "Cramer Newton step ONE mirrored IEEE expression re-rounded " +
        "to the 9dp state grid — both engines walk identical " +
        "(b0, b1) trajectories (singular Hessian → hold state). At " +
        s"100 TB: one corpus pass to 24 cells, then $IrlsRounds " +
        "domain-bounded rounds against broadcast 1-row state, 1-row " +
        "output",
      Some(logregSql),
    ) { (s, dir) =>
      logregIrls(Tables.events(s, dir)
        .select(hour(col("ts")).cast("long").as("x"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("hit")))
    },

    Q(
      "q_friedman",
      "FRIEDMAN TEST on the day × event-type design: do the k types' " +
        "daily revenues keep the SAME within-day ordering across " +
        "blocks — the repeated-measures cousin of q_kruskal_wallis " +
        "(blocking removes day-level swings the way q_cuped removes " +
        "covariates) and the rank face of q_cochran_q's binary " +
        "design. Daily totals densify onto the day×type spine " +
        "(missing cells rank as exact zeros — the q_gap_fill move), " +
        "within-day DOUBLED midranks keep every rank an integer, and " +
        "the tie-general statistic χ² = (k−1)·Σ(R2_j − b(k+1))² / " +
        "(Σr2² − bk(k+1)²) is EXACT integers into one IEEE division " +
        "— the Wilson-Hilferty z then reads the 6dp grid. Block " +
        "ranking is k-bounded per day: the rank pass runs on the " +
        "day-catalog-sized rollup, never the corpus. At 100 TB: one " +
        "corpus pass to the daily rollup, calendar-bounded " +
        "everything after, 1-row output",
      Some(
        """WITH daily AS (
          |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
          |      AS day, event_type AS g,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |      AS tot
          |  FROM events GROUP BY 1, 2
          |), grid AS (
          |  SELECT d.day, t.g, coalesce(daily.tot, 0) AS tot
          |  FROM (SELECT DISTINCT day FROM daily) d
          |  CROSS JOIN (SELECT DISTINCT g FROM daily) t
          |  LEFT JOIN daily ON daily.day = d.day AND daily.g = t.g
          |), tg AS (
          |  SELECT day, tot, CAST(count(*) AS BIGINT) AS t
          |  FROM grid GROUP BY day, tot
          |), rk AS (
          |  SELECT day, tot,
          |    2 * (CAST(sum(t) OVER (PARTITION BY day ORDER BY tot)
          |      AS BIGINT) - t) + t + 1 AS r2
          |  FROM tg
          |), rc AS (
          |  SELECT grid.day, grid.g, rk.r2
          |  FROM grid JOIN rk ON grid.day = rk.day AND grid.tot = rk.tot
          |), pt AS (
          |  SELECT g, sum(CAST(r2 AS HUGEINT)) AS r2j FROM rc GROUP BY g
          |), tt AS (
          |  SELECT CAST(count(DISTINCT day) AS BIGINT) AS b,
          |    CAST(count(DISTINCT g) AS BIGINT) AS k,
          |    sum(CAST(r2 AS HUGEINT) * r2) AS scell
          |  FROM rc
          |), nm AS (
          |  SELECT b, k, scell,
          |    sum((r2j - CAST(b AS HUGEINT) * (k + 1))
          |      * (r2j - CAST(b AS HUGEINT) * (k + 1))) AS num
          |  FROM pt CROSS JOIN tt GROUP BY b, k, scell
          |), fin AS (
          |  SELECT b, k, k - 1 AS df,
          |    scell - CAST(b AS HUGEINT) * k * (k + 1) * (k + 1) AS den,
          |    num
          |  FROM nm
          |), ch AS (
          |  SELECT b, k, df,
          |    CASE WHEN den = 0 THEN NULL ELSE
          |      round((k - 1) * CAST(num AS DOUBLE) / CAST(den AS DOUBLE),
          |        6) END AS chi2_f
          |  FROM fin
          |)
          |SELECT b AS n_days, k, df, chi2_f,
          |  CASE WHEN df = 0 OR chi2_f IS NULL OR chi2_f <= 0 THEN NULL
          |    ELSE round((cbrt(chi2_f / df) - 1 + 2.0 / (9 * df))
          |      / sqrt(2.0 / (9 * df)), 6) END AS wh_z,
          |  CAST(CASE WHEN df = 0 OR chi2_f IS NULL OR chi2_f <= 0
          |    THEN NULL
          |    ELSE round((cbrt(chi2_f / df) - 1 + 2.0 / (9 * df))
          |      / sqrt(2.0 / (9 * df)), 6) END > 1.645 AS BIGINT)
          |    AS significant
          |FROM ch""".stripMargin),
    ) { (s, dir) =>
      friedman(Tables.events(s, dir)
        .select(col("ts").cast("date").as("day"),
          col("event_type").as("g"),
          round(col("value") * 100, 0).cast("long").as("c"))
        .groupBy("day", "g").agg(sum(col("c")).as("tot")))
    },

    Q(
      "q_jonckheere",
      "JONCKHEERE-TERPSTRA ordered-alternative test: does spend " +
        "shift monotonically across the ORDERED quarter-day buckets " +
        "(night → morning → afternoon → evening)? The trend-aware " +
        "sharpening of q_kruskal_wallis — KW asks 'any difference', " +
        "JT spends its power on the ordering — built as Σ of " +
        "pairwise Mann-Whitney counts over the per-bucket cents " +
        "rollups: each ordered pair's DOUBLED U (2·#less + #equal, " +
        "the q_mann_whitney midtie trick) reads off the lower " +
        "bucket's cumulative at the higher bucket's cells — " +
        "domain-bounded grid work, never a corpus pair scan. The " +
        "null moments are exact DECIMAL(38,0)/HUGEINT (cubics cast " +
        "BEFORE multiplying), z is one mirrored IEEE expression " +
        "(tie-free variance, the standard JT approximation — the " +
        "doc'd caveat), one-sided 1.645 call. JT×2 outputs BIGINT — " +
        "exact to N < 4·10⁹ pairs-halved, the q_anova_f window " +
        "note. At 100 TB: one corpus pass to the (bucket, cents) " +
        "rollup, 1-row output",
      Some(
        """WITH e AS (
          |  SELECT hour(CAST(ts AS TIMESTAMP)) // 6 AS grp,
          |    CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events
          |), cells AS (
          |  SELECT grp, v, CAST(count(*) AS BIGINT) AS c
          |  FROM e GROUP BY grp, v
          |), grid AS (
          |  SELECT g.grp, vv.v, coalesce(cells.c, 0) AS c
          |  FROM (SELECT DISTINCT grp FROM cells) g
          |  CROSS JOIN (SELECT DISTINCT v FROM cells) vv
          |  LEFT JOIN cells ON cells.grp = g.grp AND cells.v = vv.v
          |), cum AS (
          |  SELECT grp, v, c,
          |    CAST(sum(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT)
          |      - c AS cb
          |  FROM grid
          |), jt AS (
          |  SELECT coalesce(sum(CAST(hi.c AS HUGEINT)
          |    * (2 * lo.cb + lo.c)), 0) AS jt2
          |  FROM cum hi JOIN cum lo
          |    ON hi.v = lo.v AND lo.grp < hi.grp
          |), mom AS (
          |  SELECT CAST(count(*) AS BIGINT) AS k,
          |    CAST(sum(ng) AS BIGINT) AS nn,
          |    sum(CAST(ng AS HUGEINT) * ng) AS sn2,
          |    sum(CAST(ng AS HUGEINT) * ng * (2 * ng + 3)) AS sn23
          |  FROM (SELECT grp, CAST(sum(c) AS BIGINT) AS ng
          |        FROM cells GROUP BY grp)
          |), d AS (
          |  SELECT k, nn, jt2,
          |    2 * jt2 - (CAST(nn AS HUGEINT) * nn - sn2) AS num4,
          |    CAST(nn AS HUGEINT) * nn * (2 * nn + 3) - sn23 AS v72
          |  FROM jt CROSS JOIN mom
          |), z AS (
          |  SELECT k, nn, jt2,
          |    CASE WHEN v72 <= 0 THEN NULL ELSE
          |      round(CAST(num4 AS DOUBLE)
          |        / (4 * sqrt(CAST(v72 AS DOUBLE) / 72.0)), 6)
          |      END AS jt_z
          |  FROM d
          |)
          |SELECT k AS n_groups, nn AS n, CAST(jt2 AS BIGINT) AS jt_x2,
          |  jt_z, CAST(jt_z > 1.645 AS BIGINT) AS significant
          |FROM z""".stripMargin),
    ) { (s, dir) =>
      jonckheere(Tables.events(s, dir)
        .select(expr("CAST(hour(ts) DIV 6 AS BIGINT)").as("grp"),
          round(col("value") * 100, 0).cast("long").as("v")))
    },

    Q(
      "q_pr_auc",
      "PRECISION-RECALL AUC (average precision) of the churn score — " +
        "q_model_auc's imbalance-honest sibling: ROC-AUC reads 0.9 " +
        "on a 1-in-10⁴ positive class that PR exposes as near-" +
        "useless, which is why rare-event models (fraud, abuse, " +
        "quality flags) report AP. Same churn labels and DISTINCT-" +
        "SCORE rollup (never a global row rank): one descending " +
        "cumulative window over the bounded rollup gives (tp, " +
        "predicted-pos) per threshold, AP = Σ Δtp·precision / P " +
        "with each threshold's mass·precision QUANTIZED to the 1e-9 " +
        "grid and summed in DECIMAL(38,0)/HUGEINT (order-free — the " +
        "quantize-then-sum discipline), ONE final division by P. " +
        "Ties collapse to one block per score, the standard step-AP " +
        "treatment. Prevalence rides out as the random-classifier " +
        "baseline AP. At 100 TB: the binned-domain escape hatch is " +
        "the same one q_model_auc_binned documents — quantize " +
        "scores first, the tail is unchanged",
      Some(
        s"""WITH $churnLabSqlCte, byk AS (
           |  SELECT score AS k,
           |    CAST(sum(churned) AS BIGINT) AS np_s,
           |    CAST(sum(1 - churned) AS BIGINT) AS nn_s
           |  FROM lab GROUP BY score
           |), cum AS (
           |  SELECT np_s,
           |    CAST(sum(np_s) OVER (ORDER BY k DESC) AS BIGINT) AS tp,
           |    CAST(sum(np_s + nn_s) OVER (ORDER BY k DESC) AS BIGINT)
           |      AS pp
           |  FROM byk
           |), tm AS (
           |  SELECT CAST(round(CAST(np_s AS DOUBLE) * tp / pp
           |    * 1000000000.0) AS HUGEINT) AS t9
           |  FROM cum WHERE np_s > 0
           |), ta AS (
           |  SELECT coalesce(sum(t9), 0) AS s9 FROM tm
           |), tot AS (
           |  SELECT CAST(sum(np_s) AS BIGINT) AS np,
           |    CAST(sum(nn_s) AS BIGINT) AS nn
           |  FROM byk
           |)
           |SELECT np + nn AS n_users, np AS n_pos,
           |  CASE WHEN np = 0 THEN NULL ELSE
           |    round(CAST(s9 AS DOUBLE) / (1000000000.0 * np), 6)
           |    END AS ap,
           |  CASE WHEN np + nn = 0 THEN NULL ELSE
           |    round(CAST(np AS DOUBLE) / (np + nn), 6) END AS prevalence
           |FROM tot CROSS JOIN ta""".stripMargin),
    ) { (s, dir) =>
      prAucTail(churnScored(s, dir)
        .groupBy(col("score").as("k"))
        .agg(sum(col("churned")).as("np_s"),
          sum(lit(1L) - col("churned")).as("nn_s")))
    },

    Q(
      "q_brier_decomp",
      s"BRIER SCORE with the MURPHY DECOMPOSITION (reliability − " +
        "resolution + uncertainty) of the churn propensity — " +
        "q_calibration's scalar summary: reliability is the " +
        "calibration debt (0 = perfectly calibrated bins), " +
        "resolution the discrimination earned, uncertainty the " +
        s"irreducible base-rate floor. Scores quantize onto the " +
        s"$BrierBins-bin equi-width grid with EXACT BIGINT bin " +
        "edges (the q_model_auc_binned clause) and the forecast is " +
        "each bin's MIDPOINT — discrete forecasts make the Murphy " +
        "identity EXACT, spec-pinned. Every per-bin term has an " +
        "exact integer numerator ((2k+1)n_k − 2B·c_k and c_k·N − " +
        "C·n_k squared), quantizes to the 1e-9 grid and sums " +
        "order-free in DECIMAL(38,0)/HUGEINT; the identity-derived " +
        "Brier is ONE mirrored expression off the same sums. At " +
        "100 TB: one pass to the user frame, one to B bins, 1-row " +
        "output",
      Some(brierSql),
    ) { (s, dir) =>
      brierDecomp(churnScored(s, dir).select(col("churned"),
        round(col("score") * lit(1000000), 0).cast("long").as("si")))
    },

    Q(
      "q_cronbach_alpha",
      "CRONBACH'S ALPHA over the event-type catalog as the item " +
        "battery (per-user per-type activity counts as item scores) " +
        "— the internal-consistency readout: do the k activity " +
        "channels measure ONE underlying engagement trait (α → 1) " +
        "or k unrelated ones (α → 0)? The metrics-team use: before " +
        "averaging k signals into a composite health score, α says " +
        "whether the composite is coherent. α = k/(k−1)·(1 − " +
        "ΣVar_item/Var_total), and BOTH variance sums reduce to " +
        "exact integers — Σ_j(N·Q_j − S_j²) and N·Q_t − S_t² with " +
        "Q/S the per-item and per-user power sums (sparse rollups; " +
        "absent cells are true zeros and contribute nothing) — so α " +
        "is ONE mirrored IEEE division of exact DECIMAL(38,0)/" +
        "HUGEINT terms. At 100 TB: one shuffle on (user, type), " +
        "catalog- and user-bounded marginals, 1-row output",
      Some(
        """WITH cnt AS (
          |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS x
          |  FROM events GROUP BY 1, 2
          |), it AS (
          |  SELECT CAST(count(*) AS BIGINT) AS k,
          |    sum(CAST(q AS HUGEINT)) AS sumq,
          |    sum(CAST(s AS HUGEINT) * s) AS sums2
          |  FROM (SELECT event_type, CAST(sum(x) AS BIGINT) AS s,
          |          CAST(sum(x * x) AS BIGINT) AS q
          |        FROM cnt GROUP BY event_type)
          |), us AS (
          |  SELECT CAST(count(*) AS BIGINT) AS nu,
          |    CAST(sum(t) AS BIGINT) AS st,
          |    sum(CAST(t AS HUGEINT) * t) AS qt
          |  FROM (SELECT user_id, CAST(sum(x) AS BIGINT) AS t
          |        FROM cnt GROUP BY user_id)
          |), d AS (
          |  SELECT nu, k,
          |    CAST(nu AS HUGEINT) * sumq - sums2 AS num,
          |    CAST(nu AS HUGEINT) * qt - CAST(st AS HUGEINT) * st AS den
          |  FROM it CROSS JOIN us
          |)
          |SELECT nu AS n_users, k AS n_items,
          |  CASE WHEN k < 2 OR den = 0 THEN NULL ELSE
          |    round(CAST(k AS DOUBLE) / (k - 1)
          |      * (1 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)), 6)
          |    END AS alpha,
          |  CASE WHEN den = 0 THEN NULL ELSE
          |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
          |    END AS item_var_share
          |FROM d""".stripMargin),
    ) { (s, dir) =>
      cronbachAlpha(Tables.events(s, dir)
        .select(col("user_id"), col("event_type")))
    },

    Q(
      "q_welch_anova",
      "WELCH'S ANOVA across event types — q_anova_f without the " +
        "equal-variance assumption, completing the family triangle: " +
        "q_anova_f assumes homoscedasticity, q_levene_bf TESTS it, " +
        "and when Levene rejects THIS is the statistic you are " +
        "allowed to report (k-group Welch t, the default in modern " +
        "practice). The grid discipline stacks: per-group weights " +
        "w = n²(n−1)/(nΣx²−(Σx)²) and means quantize to 1e-9/" +
        "cent-hundredth grids via ONE mirrored IEEE expression each " +
        "from exact BIGINT power sums; the weighted center and " +
        "scatter then fold as EXACT DECIMAL(38,0)/HUGEINT products " +
        "of grid integers (order-free across groups — the quantize-" +
        "then-sum rule applied twice), the λ terms quantize again " +
        "against the exact weight total, and F/df₂ finish mirrored. " +
        "Zero-variance or singleton groups drop (their w is " +
        "undefined — the documented Welch scope). At 100 TB: one " +
        "keyed corpus pass to #types power-sum rows, two bounded-" +
        "rollup passes, 1-row output",
      Some(
        """WITH c AS (
          |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
          |  FROM events
          |), g AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(c) AS BIGINT) AS s,
          |    sum(CAST(c AS HUGEINT) * c) AS q
          |  FROM c GROUP BY event_type
          |), gw AS (
          |  SELECT n,
          |    CAST(round(1000000000.0 * CAST(n AS DOUBLE) * n * (n - 1)
          |      / CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE))
          |      AS HUGEINT) AS w9,
          |    CAST(round(100.0 * s / n) AS BIGINT) AS m2
          |  FROM g
          |  WHERE n >= 2 AND n * q - CAST(s AS HUGEINT) * s > 0
          |), tot AS (
          |  SELECT CAST(count(*) AS BIGINT) AS k,
          |    CAST(sum(n) AS BIGINT) AS nn,
          |    sum(w9) AS ww,
          |    sum(w9 * m2) AS xw1,
          |    sum(w9 * m2 * m2) AS xw2
          |  FROM gw
          |), lam AS (
          |  SELECT CAST(sum(CAST(round(1000000000.0
          |    * (1.0 - CAST(w9 AS DOUBLE) / CAST(ww AS DOUBLE))
          |    * (1.0 - CAST(w9 AS DOUBLE) / CAST(ww AS DOUBLE))
          |    / (n - 1)) AS BIGINT)) AS BIGINT) AS l9
          |  FROM gw CROSS JOIN tot
          |)
          |SELECT k AS n_groups, nn AS n, k - 1 AS df1,
          |  CASE WHEN k < 2 THEN NULL ELSE
          |    round((CAST(k AS DOUBLE) * k - 1)
          |      / (3.0 * CAST(l9 AS DOUBLE) / 1000000000.0), 6)
          |    END AS df2,
          |  CASE WHEN k < 2 THEN NULL ELSE
          |    round(((CAST(xw2 AS DOUBLE)
          |        - CAST(xw1 AS DOUBLE) * CAST(xw1 AS DOUBLE)
          |          / CAST(ww AS DOUBLE)) / 10000000000000.0 / (k - 1))
          |      / (1.0 + (2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1))
          |        * (CAST(l9 AS DOUBLE) / 1000000000.0)), 6)
          |    END AS f_welch
          |FROM tot CROSS JOIN lam""".stripMargin),
    ) { (s, dir) =>
      welchAnova(Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("c")))
    },
  )

  /** The q_fdr_bh test stage over any (event_type, user_id, value)
    * frame: per-type Welch z from exact BIGINT power sums → the
    * mirrored A&S grid p6i → [[bhReadout]]. Factored so FdrBhSpec can
    * plant per-type lifts and pin exactly which types reject. */
  private[graft] def fdrBhCurve(events: DataFrame): DataFrame =
    fdrFinish(Arms.powerSums(Arms.armed(events, Seq(col("event_type")))))

  /** Welch z + mirrored A&S grid p over per-type [[Arms.powerSums]] —
    * the shared test stage of q_fdr_bh and q_holm_bonferroni. The sums
    * are purely additive, so q_stream_fdr folds them as #types-bounded
    * complete-mode state that equals the batch rollup at any split.
    * Returns (event_type, n, z, p6i). */
  private[graft] def welchScored(sums: DataFrame): DataFrame =
    sums
      .filter(col("na") > 1 && col("nb") > 1)
      .selectExpr("event_type", "na + nb AS n",
        s"round((${Arms.MeanDiffSql}) / ${Arms.WelchSeSql}, 6) AS z")
      .selectExpr("event_type", "n", "z", s"${pNorm6Sql("z")} AS p6i")

  /** The finishing stage of q_fdr_bh over the per-type state: Welch z
    * → mirrored A&S grid p → [[bhReadout]]. Batch-side in both twins. */
  private[graft] def fdrFinish(sums: DataFrame): DataFrame =
    bhReadout(welchScored(sums))

  /** The HOLM step-down over a scored frame carrying (event_type,
    * p6i) — the FWER-controlling sibling of [[bhReadout]]: ranks
    * ascending on the exact grid, rank i's threshold is α/(m−i+1),
    * and rejection STOPS at the first failure (a prefix-max window
    * over the fail flag — step-down, where BH is step-up). The
    * compare p6i · FdrAlphaInv · (m−rk+1) ≤ 10⁶ runs in pure
    * integers. */
  private[graft] def holmReadout(scored: DataFrame): DataFrame = {
    val wRk = Window.orderBy("p6i", "event_type")
    val ranked = scored
      .withColumn("rk", row_number().over(wRk).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("fail",
        when(col("p6i") * lit(FdrAlphaInv) * (col("m") - col("rk") + 1)
          > lit(1000000L), 1L).otherwise(0L))
      .withColumn("cumfail", max(col("fail")).over(
        wRk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.select(col("event_type"), col("n"), col("z"),
      round(col("p6i").cast("double") / 1000000, 6).as("p"), col("rk"),
      (lit(1L) - col("cumfail")).as("rejected"))
      .orderBy("event_type")
  }

  /** The q_tost_equivalence computation over any (event_type,
    * user_id, value) frame — factored so TostSpec can plant a
    * within-margin nudge (equivalent) and an out-of-margin lift
    * (not): TWO one-sided Welch z's against ±margin cents; both
    * must clear 1.645 to declare equivalence (Schuirmann 1987).
    * Exact BIGINT power sums; diff and se land on the 6dp grid
    * BEFORE the z divisions so both engines decide identically. */
  private[graft] def tostEquivalence(events: DataFrame,
      marginCents: Long): DataFrame =
    Arms.powerSums(Arms.armed(events, Seq(col("event_type"))))
      .filter(col("na") > 1 && col("nb") > 1)
      .selectExpr("event_type", "na + nb AS n",
        s"round(${Arms.MeanDiffSql}, 6) AS dc6",
        s"round(${Arms.WelchSeSql}, 6) AS se6")
      .selectExpr("event_type", "n", "round(dc6 / 100, 6) AS diff",
        s"""CASE WHEN se6 = 0 THEN NULL ELSE
           |  round((dc6 + $marginCents) / se6, 6) END AS z_lower"""
          .stripMargin,
        s"""CASE WHEN se6 = 0 THEN NULL ELSE
           |  round(($marginCents - dc6) / se6, 6) END AS z_upper"""
          .stripMargin)
      .selectExpr("event_type", "n", "diff", "z_lower", "z_upper",
        "CAST(z_lower > 1.645 AND z_upper > 1.645 AS BIGINT) AS equivalent")
      .orderBy("event_type")

  /** The q_ljung_box computation over any (t, x) series — factored so
    * LjungBoxSpec can plant a strongly autocorrelated square wave
    * (fires) and a planted near-null series. ACF values land on the
    * 6dp grid (the q_acf arithmetic: exact centered
    * DECIMAL(38,0)/HUGEINT products — the factors scale as the total
    * event count, so the cast sits BEFORE the first overflow-able
    * product on both engines, the mannWhitney convention — one
    * division per lag), each lag's r²/(n−k) term quantizes to the
    * 1e-9 grid and sums exactly, and the Box-Ljung Q plus its
    * Wilson-Hilferty z finish as mirrored IEEE expressions. */
  private[graft] def ljungBox(series: DataFrame, maxLag: Int): DataFrame = {
    val (num, den) = lagProducts(series, maxLag, max(col("n")).as("n"))
    num.crossJoin(broadcast(den))
      .select(col("n"), col("lag"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("r6"))
      .selectExpr("n", "lag",
        """CAST(round(r6 * r6 / (n - lag) * 1000000000.0)
          |  AS DECIMAL(38,0)) AS term9""".stripMargin)
      .groupBy("n").agg(count(lit(1)).as("lags"), sum(col("term9")).as("s9"))
      .selectExpr("n", "lags",
        """round(CAST(n AS DOUBLE) * (n + 2)
          |  * (CAST(s9 AS DOUBLE) / 1000000000.0), 6) AS lb_q"""
          .stripMargin)
      .selectExpr("n", "lags", "lb_q",
        """round((cbrt(lb_q / lags) - 1 + 2.0 / (9 * lags))
          |  / sqrt(2.0 / (9 * lags)), 6) AS wh_z""".stripMargin)
      .selectExpr("n", "lags", "lb_q", "wh_z",
        "CAST(wh_z > 1.645 AS BIGINT) AS autocorrelated")
  }

  /** The q_ewma_control computation over any (t, x) series — factored
    * so EwmaSpec can plant a level shift and pin the first
    * out-of-control index. λ = 1/5 exactly, and the STEADY-STATE
    * 3σ_z limit collapses beautifully: 3·σ·√(λ/(2−λ)) = 3·σ·√(1/9)
    * = σ — the control compare is |z_t − μ| > σ with no extra
    * constants (time-varying early-t limits documented as the
    * refinement; steady-state is the standard chart face). The
    * smoothing fold is the q_holt_winters shape — #hours-bounded
    * array, 6dp-quantized iterates — emitting the whole trajectory;
    * μ and σ come from exact BIGINT power sums. */
  private[graft] def ewmaControl(seriesRaw: DataFrame): DataFrame = {
    val series = seriesRaw.localCheckpoint() // fold + stats
    val st = series.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sq"))
    val zs = series
      .agg(expr("transform(array_sort(collect_list(struct(t, x)))," +
        " p -> CAST(p.x AS DOUBLE))").as("xs"))
      .select(expr(
        """aggregate(
          |  slice(xs, 2, size(xs) - 1),
          |  named_struct('z', element_at(xs, 1),
          |               'arr', array(element_at(xs, 1))),
          |  (acc, v) -> named_struct(
          |    'z', CAST(round(2e-1 * v + 8e-1 * acc.z, 6) AS DOUBLE),
          |    'arr', concat(acc.arr, array(
          |      CAST(round(2e-1 * v + 8e-1 * acc.z, 6) AS DOUBLE)))),
          |  acc -> acc.arr)""".stripMargin).as("zs"))
      .select(posexplode(col("zs")).as(Seq("t", "z6")))
    zs.crossJoin(broadcast(st))
      .selectExpr("t", "z6", "n",
        "round(CAST(sx AS DOUBLE) / n, 6) AS mu6",
        """round(sqrt((CAST(n AS DOUBLE) * sq - CAST(sx AS DOUBLE) * sx)
          |  / (CAST(n AS DOUBLE) * (n - 1))), 6) AS sig6"""
          .stripMargin)
      .selectExpr("t", "n", "mu6", "sig6",
        "round(abs(z6 - mu6), 6) AS dev6")
      .groupBy("n", "mu6", "sig6").agg(
        sum(when(col("dev6") > col("sig6"), 1L).otherwise(0L)).as("n_ooc"),
        min(when(col("dev6") > col("sig6"), col("t"))).as("first_ooc_t"),
        max(col("dev6")).as("max_abs_dev"))
      .selectExpr("n AS n_hours", "mu6 AS mu", "sig6 AS sigma_z",
        "n_ooc", "CAST(first_ooc_t AS BIGINT) AS first_ooc_t",
        "max_abs_dev")
  }

  /** The BH step-up over a scored frame carrying (event_type, p6i) —
    * ranks ascending on the exact grid (ties by type), i* = max rank
    * satisfying the pure-integer compare, rejected = rk ≤ i*. The
    * global windows run on the #types-bounded test rollup (the
    * value-domain window class note at the top of this file), never
    * on rows. Extra columns ride along untouched. */
  private[graft] def bhReadout(scored: DataFrame): DataFrame = {
    val ranked = scored
      .withColumn("rk",
        row_number().over(Window.orderBy("p6i", "event_type")).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("imax",
        max(when(col("p6i") * lit(FdrAlphaInv) * col("m")
          <= col("rk") * lit(1000000L), col("rk")))
          .over(Window.partitionBy()))
    ranked.select(col("event_type"), col("n"), col("z"),
      round(col("p6i").cast("double") / 1000000, 6).as("p"), col("rk"),
      when(col("rk") <= coalesce(col("imax"), lit(0L)), 1L)
        .otherwise(0L).as("rejected"))
      .orderBy("event_type")
  }

  /** The q_propensity_strat computation over any (user_id, value)
    * frame — factored so PropensityStratSpec can plant activity-
    * confounded assignment and pin exact bias removal. Treatment is
    * the user-parity arm ([[Arms.parity]]); see the registry entry. */
  private[graft] def propensityStrat(events: DataFrame): DataFrame = {
    val u = events
      .select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_u"), sum(col("c")).as("y"))
      .select(Arms.parity.as("t"),
        least(floor(col("n_u") / 20), lit(7L)).as("band"), col("y"))
      .localCheckpoint() // read by the stratum AND naive rollups
    val st = u.groupBy("band").agg(
      sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
      sum(when(col("t") === 1, col("y")).otherwise(0L)).as("syt"),
      sum(when(col("t") === 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("t") === 0, col("y")).otherwise(0L)).as("syc"))
      .localCheckpoint()
    val eff = st.filter(col("nt") > 0 && col("nc") > 0)
      .selectExpr("band", "nt + nc AS ns",
        """CAST(round((CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / nc)
          |  / 100 * 1000000) AS BIGINT) AS e6""".stripMargin)
    val naive = u.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("t") === 1, col("y")).otherwise(0L)).as("syt"),
      sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
      sum(when(col("t") === 0, col("y")).otherwise(0L)).as("syc"),
      sum(when(col("t") === 0, 1L).otherwise(0L)).as("nc"))
      .selectExpr("n_users",
        """round((CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / nc)
          |  / 100, 6) AS ate_naive""".stripMargin)
    val strat = eff.agg(
      round(sum(col("ns") * col("e6")).cast("double")
        / sum(col("ns")) / 1000000, 6).as("ate_strat"),
      count(lit(1)).as("n_supported"))
    val nStrata = st.agg(count(lit(1)).as("n_strata"))
    naive.crossJoin(broadcast(nStrata)).crossJoin(broadcast(strat))
      .select(col("n_users"), col("n_strata"), col("n_supported"),
        col("ate_naive"), col("ate_strat"))
  }

  /** The q_power_mde computation over any (event_type, user_id,
    * value) frame — factored so PowerMdeSpec can plant known-variance
    * arms and pin the closed form + the 1/sqrt(n) scaling law. */
  private[graft] def powerMde(events: DataFrame): DataFrame =
    Arms.powerSums(Arms.armed(events, Seq(col("event_type"))))
      .filter(col("na") > 1 && col("nb") > 1)
      .selectExpr("event_type", "na", "nb",
        "(CAST(sa AS DOUBLE) + sb) / (na + nb) AS mc",
        s"${Arms.PooledVarSql} AS s2")
      .selectExpr("event_type", "na", "nb",
        "round(mc / 100, 6) AS mean",
        "round(sqrt(s2) / 100, 6) AS sd",
        """round(2.801585 * sqrt(s2 * (1.0 / na + 1.0 / nb)) / 100, 6)
          |  AS mde_abs""".stripMargin,
        """round(2.801585 * sqrt(s2 * (1.0 / na + 1.0 / nb)) / mc, 6)
          |  AS mde_rel""".stripMargin,
        """CAST(ceil(2 * 2.801585 * 2.801585 * s2 / (0.01 * mc * (0.01 * mc)))
          |  AS BIGINT) AS n_per_arm_1pct""".stripMargin)
      .orderBy("event_type")

  /** The q_dp_counts computation over any (event_type) frame —
    * factored behind the [[graft.functions.DpNoise]] source seam:
    * the registry row passes the default hash stand-in (the gate
    * needs bit-stable releases), a real release passes
    * [[graft.functions.DpNoise.Crypto]] and nothing else changes
    * (DpSeamSpec pins both paths). */
  private[graft] def dpCounts(events: DataFrame,
      source: graft.functions.DpNoise.Source =
        graft.functions.DpNoise.HashStandIn): DataFrame =
    events.groupBy("event_type").agg(count(lit(1)).as("n_true"))
      .select(col("event_type"), col("n_true"),
        round(col("n_true") + graft.functions.DpNoise.laplace(source,
          concat(col("event_type"), lit("|dp1")), 1.0), 6).as("n_dp"),
        lit(1.0).as("epsilon"))
      .orderBy("event_type")

  /** The q_dp_quantile computation over any (event_type, value)
    * frame — factored so DpQuantileSpec can plant peaked and tied
    * utility landscapes, with the uniform source injected behind the
    * [[graft.functions.DpNoise]] seam (hash stand-in for the gate,
    * SecureRandom for a real release — DpSeamSpec pins that a peaked
    * landscape releases the exact median under EITHER source). See
    * the registry entry for the mechanism. */
  private[graft] def dpQuantile(events: DataFrame,
      source: graft.functions.DpNoise.Source =
        graft.functions.DpNoise.HashStandIn): DataFrame = {
    val vc = events.select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("v"))
      .groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
    val scored = vc
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy("event_type").orderBy("v")))
      .withColumn("n", sum(col("cnt"))
        .over(Window.partitionBy("event_type")))
      .withColumn("score",
        round(-abs(col("n") - lit(2) * col("cum") + col("cnt")) * lit(0.5)
          + graft.functions.DpNoise.gumbel(source,
            concat(col("event_type"), lit("|"), col("v").cast("string"),
              lit("|dpq"))), 6))
    val win = scored
      .withColumn("rk", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("score").desc, col("v"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n"),
        round(col("v").cast("double") / 100, 6).as("dp_median"))
    val tru = scored.groupBy("event_type")
      .agg(round(min(when(col("cum") * 2 >= col("n") + 1, col("v")))
        .cast("double") / 100, 6).as("true_median"))
    win.join(tru, Seq("event_type"))
      .select(col("event_type"), col("n"), col("true_median"),
        col("dp_median"),
        round(abs(col("dp_median") - col("true_median")), 6).as("abs_err"))
      .orderBy("event_type")
  }

  /** The q_wasserstein computation over any (event_type, user_id,
    * value) frame — factored so WassersteinSpec can plant shifted
    * distributions and pin the translation property exactly. */
  private[graft] def wasserstein1(events: DataFrame): DataFrame = {
    val vc = Arms.valueCounts(Arms.armed(events, Seq(col("event_type")), "v"))
    val wO = Window.partitionBy("event_type").orderBy("v")
    val wP = Window.partitionBy("event_type")
    vc.withColumn("cuma", sum(col("ca")).over(wO))
      .withColumn("cumb", sum(col("cb")).over(wO))
      .withColumn("na", sum(col("ca")).over(wP))
      .withColumn("nb", sum(col("cb")).over(wP))
      .withColumn("vnext", lead(col("v"), 1).over(wO))
      .filter(col("vnext").isNotNull)
      .groupBy("event_type")
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        round(sum(abs(col("cuma") * col("nb") - col("cumb") * col("na"))
          * (col("vnext") - col("v"))).cast("double")
          / (max(col("na")).cast("double") * max(col("nb"))) / 100, 6)
          .as("w1"))
      .orderBy("event_type")
  }

  /** The q_mann_whitney computation over any (event_type, user_id,
    * value) frame — factored so MannWhitneySpec can plant separated
    * and tied arms and pin U, the rank-biserial, and the
    * tie-corrected z exactly. Arms split on user parity; all rank
    * algebra in exact integers (doubled midranks), with every
    * super-linear term (rank sum, Σ(t³−t), the N³ variance cubic)
    * cast to DECIMAL(38,0) BEFORE its first product so nothing ever
    * rides a silently-wrapping BIGINT multiply (Spark non-ANSI wraps
    * where DuckDB errors — the engines would diverge at scale); see
    * the registry entry. */
  private[graft] def mannWhitney(events: DataFrame): DataFrame = {
    val vc = Arms.valueCounts(Arms.armed(events, Seq(col("event_type")), "v"))
      .withColumn("t", col("ca") + col("cb"))
    val wO = Window.partitionBy("event_type").orderBy("v")
    vc.withColumn("cumt", sum(col("t")).over(wO))
      .groupBy("event_type").agg(
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(col("ca").cast("decimal(38,0)")
          * (lit(2L) * (col("cumt") - col("t"))
            + col("t") + 1L)).as("ra2"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("ties"))
      .filter(col("na") > 0 && col("nb") > 0)
      .selectExpr("event_type", "na", "nb",
        "ra2 - CAST(na AS DECIMAL(38,0)) * (na + 1) AS u2a",
        """ra2 - CAST(na AS DECIMAL(38,0)) * (na + 1)
          |  - CAST(na AS DECIMAL(38,0)) * nb AS znum""".stripMargin,
        """CAST(na AS DECIMAL(38,0)) * nb
          |  * ((CAST(na + nb AS DECIMAL(38,0)) + 1) * (na + nb)
          |    * (na + nb - 1) - ties)
          |  AS varnum""".stripMargin,
        "na + nb AS nn")
      .selectExpr("event_type", "na", "nb",
        "CAST(u2a AS DOUBLE) / 2 AS u_stat",
        """round(CAST(znum AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)
          |  AS rank_biserial""".stripMargin,
        """CASE WHEN varnum = 0 THEN NULL ELSE
          |  round(CAST(znum AS DOUBLE)
          |    / (2 * sqrt(CAST(varnum AS DOUBLE)
          |        / (12.0 * nn * (nn - 1)))), 6) END AS mw_z""".stripMargin)
      .selectExpr("event_type", "na", "nb", "u_stat", "rank_biserial",
        "mw_z", "CAST(abs(mw_z) > 1.96 AS BIGINT) AS significant")
      .orderBy("event_type")
  }

  /** The q_chisq_independence computation over any (event_type,
    * user_id) frame — factored so ChisqSpec can plant proportional
    * (χ² = 0) and hand-worked dependent tables, including a
    * zero-cell. Arms on user parity; quantize-then-sum per-cell
    * terms, see the registry entry. */
  private[graft] def chisqIndependence(events: DataFrame): DataFrame =
    chisqFinish(chisqCells(events))

  /** The streamable state stage of q_chisq_independence: the
    * (type, arm) cell rollup — purely additive, catalog-bounded
    * (q_stream_chisq folds it live as complete-mode state). */
  private[graft] def chisqCells(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), Arms.parity.as("grp"))
      .groupBy("event_type", "grp").agg(count(lit(1)).as("o"))

  /** The finishing stage of q_chisq_independence over the bounded
    * cell rollup. localCheckpoints first: the grid completion joins
    * two lineages of the cells frame, and a memory-sink table's
    * attributes do not deduplicate across lineages (the
    * quantileTeFinish note). */
  private[graft] def chisqFinish(cellsRaw: DataFrame): DataFrame = {
    val cells = cellsRaw.localCheckpoint()
    val grid = cells.select("event_type").distinct()
      .crossJoin(broadcast(cells.select("grp").distinct()))
      .join(cells, Seq("event_type", "grp"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val term = grid
      .withColumn("r", sum(col("o")).over(Window.partitionBy("event_type")))
      .withColumn("c", sum(col("o")).over(Window.partitionBy("grp")))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .selectExpr("n", "event_type", "grp",
        "CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c AS d",
        "CAST(n AS DOUBLE) * r * c AS den")
    term.agg(
        max(col("n")).as("n"),
        countDistinct(col("event_type")).as("nt"),
        countDistinct(col("grp")).as("ng"),
        sum(expr("CAST(round(d * d / den * 1000000000.0) AS DECIMAL(38,0))"))
          .as("s9"))
      .selectExpr("n", "nt", "ng", "(nt - 1) * (ng - 1) AS df",
        "CAST(s9 AS DOUBLE) / 1000000000.0 AS chi2g")
      .selectExpr("n", "nt", "ng", "df", "round(chi2g, 6) AS chi2",
        """CASE WHEN df = 0 THEN NULL ELSE
          |  round(sqrt(chi2g / (CAST(n AS DOUBLE)
          |    * least(nt - 1, ng - 1))), 6) END AS cramers_v""".stripMargin,
        """CASE WHEN df = 0 THEN NULL ELSE
          |  round((cbrt(chi2g / df) - 1 + 2.0 / (9 * df))
          |    / sqrt(2.0 / (9 * df)), 6) END AS wh_z""".stripMargin)
      .selectExpr("n", "nt", "ng", "df", "chi2", "cramers_v", "wh_z",
        "CAST(wh_z > 1.645 AS BIGINT) AS dependent")
  }

  /** Shared DuckDB oracle tail for the exact quotient+remainder ANOVA
    * algebra: everything after a CTE named `c(event_type, c)` — used
    * verbatim by q_anova_f (raw cents) and q_levene_bf (median
    * absolute deviations). A def (registry-interpolation init-order
    * rule). */
  private def anovaSqlTail: String =
    """g AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
      |  FROM c GROUP BY event_type
      |), t AS (
      |  SELECT n, s, q,
      |    CAST(s AS HUGEINT) * s AS s2d
      |  FROM g
      |), u AS (
      |  SELECT n, s, q, s2d // n AS qg, s2d % n AS rg FROM t
      |), f AS (
      |  SELECT n, s, q, qg,
      |    CAST(round(CAST(rg AS DOUBLE) / n * 1000000000.0) AS BIGINT)
      |      AS f9
      |  FROM u
      |), ag AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
      |    sum(CAST(q AS HUGEINT)) AS qq,
      |    sum(CAST(qg AS HUGEINT)) AS qa,
      |    CAST(sum(f9) AS BIGINT) AS fa
      |  FROM f
      |), gr AS (
      |  SELECT k, nn, qq, qa, fa,
      |    (CAST(ss AS HUGEINT) * ss) // nn AS qg,
      |    (CAST(ss AS HUGEINT) * ss) % nn AS rg
      |  FROM ag
      |), gd AS (
      |  SELECT k, nn, qq, qa, fa, qg,
      |    CAST(round(CAST(rg AS DOUBLE) / nn * 1000000000.0) AS BIGINT)
      |      AS fg
      |  FROM gr
      |), sums AS (
      |  SELECT k, nn,
      |    CAST(qa - qg AS DOUBLE)
      |      + CAST(fa - fg AS DOUBLE) / 1000000000.0 AS ssb,
      |    CAST(qq - qa AS DOUBLE)
      |      - CAST(fa AS DOUBLE) / 1000000000.0 AS ssw,
      |    CAST(qq - qg AS DOUBLE)
      |      - CAST(fg AS DOUBLE) / 1000000000.0 AS sst
      |  FROM gd
      |)
      |SELECT k AS n_groups, nn AS n, k - 1 AS df1, nn - k AS df2,
      |  CASE WHEN k <= 1 OR nn <= k OR ssw <= 0 THEN NULL ELSE
      |    round(ssb * (nn - k) / (ssw * (k - 1)), 6) END AS f_stat,
      |  CASE WHEN sst <= 0 THEN NULL ELSE
      |    round(ssb / sst, 6) END AS eta2
      |FROM sums""".stripMargin

  /** The q_levene_bf computation over any (event_type, value) frame —
    * exact per-group upper medians on the cents rollup, absolute
    * deviations fed straight into [[anovaF]] (deviation cents /100 so
    * the shared rounding round-trips exactly). Factored so LeveneSpec
    * can pin equal-spread F = 0 and a hand-transformed equivalence. */
  private[graft] def brownForsythe(events: DataFrame): DataFrame = {
    val raw = events.select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("rc"))
      .localCheckpoint() // read by the median rollup AND the deviation join
    val wO = Window.partitionBy("event_type").orderBy("rc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = raw.groupBy("event_type", "rc").agg(count(lit(1)).as("t"))
      .withColumn("cum", sum(col("t")).over(wO))
      .withColumn("n",
        sum(col("t")).over(Window.partitionBy("event_type")))
      .filter(col("cum") * 2 >= col("n") + 1)
      .groupBy("event_type").agg(min(col("rc")).as("med"))
    anovaF(raw.join(broadcast(med), "event_type")
      .select(col("event_type"),
        (abs(col("rc") - col("med")).cast("double") / 100).as("value")))
  }

  /** The q_anova_f computation over any (event_type, value) frame —
    * factored so AnovaSpec can plant groups with hand-exact F and η².
    * Exactness window (the momentFinish discipline): per-group S_g²
    * in DECIMAL(38,0) is exact to S_g ≈ 1e18 cents; the integral
    * quotients ride LONG (exact to ~9e18, i.e. n_g·mean² < 9e18 —
    * beyond that Spark overflows to NULL rather than drifting). */
  private[graft] def anovaF(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
      .selectExpr("n", "s", "q", "CAST(s AS DECIMAL(38,0)) * s AS s2d")
      .selectExpr("n", "s", "q", "s2d DIV n AS qg", "s2d % n AS rg")
      .selectExpr("n", "s", "q", "qg",
        """CAST(round(CAST(rg AS DOUBLE) / n * 1000000000.0) AS BIGINT)
          |  AS f9""".stripMargin)
      .agg(
        count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("s")).as("ss"),
        sum(col("q").cast("decimal(38,0)")).as("qq"),
        sum(col("qg").cast("decimal(38,0)")).as("qa"),
        sum(col("f9")).as("fa"))
      .selectExpr("k", "nn", "qq", "qa", "fa",
        "(CAST(ss AS DECIMAL(38,0)) * ss) DIV nn AS qg",
        "(CAST(ss AS DECIMAL(38,0)) * ss) % nn AS rg")
      .selectExpr("k", "nn", "qq", "qa", "fa", "qg",
        """CAST(round(CAST(rg AS DOUBLE) / nn * 1000000000.0) AS BIGINT)
          |  AS fg""".stripMargin)
      .selectExpr("k", "nn",
        """CAST(qa - qg AS DOUBLE)
          |  + CAST(fa - fg AS DOUBLE) / 1000000000.0 AS ssb""".stripMargin,
        """CAST(qq - qa AS DOUBLE)
          |  - CAST(fa AS DOUBLE) / 1000000000.0 AS ssw""".stripMargin,
        """CAST(qq - qg AS DOUBLE)
          |  - CAST(fg AS DOUBLE) / 1000000000.0 AS sst""".stripMargin)
      .selectExpr("k AS n_groups", "nn AS n", "k - 1 AS df1",
        "nn - k AS df2",
        """CASE WHEN k <= 1 OR nn <= k OR ssw <= 0 THEN NULL ELSE
          |  round(ssb * (nn - k) / (ssw * (k - 1)), 6) END
          |  AS f_stat""".stripMargin,
        """CASE WHEN sst <= 0 THEN NULL ELSE
          |  round(ssb / sst, 6) END AS eta2""".stripMargin)

  /** The q_decision_stump computation over any (v, lab) frame —
    * factored so StumpSpec can plant separable and mixed labelings
    * with hand-exact splits. See the registry entry. */
  private[graft] def decisionStump(events: DataFrame): DataFrame = {
    val vc = events.groupBy("v").agg(
      sum(col("lab")).as("p"), sum(lit(1L) - col("lab")).as("q"))
    val wO = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wA = Window.partitionBy()
    vc.withColumn("pl", sum(col("p")).over(wO))
      .withColumn("ql", sum(col("q")).over(wO))
      .withColumn("pt", sum(col("p")).over(wA))
      .withColumn("qt", sum(col("q")).over(wA))
      .selectExpr("v", "pl", "ql", "pt", "qt", "pl + ql AS nl",
        "(pt - pl) + (qt - ql) AS nr", "pt - pl AS prr", "qt - ql AS qrr")
      .filter(col("nr") > 0)
      .selectExpr("v", "pl", "nl", "nr", "prr", "pt", "qt",
        "nl + nr AS nn",
        """CAST(round(((CAST(pl AS DOUBLE) * pl
          |    + CAST(ql AS DOUBLE) * ql) / nl
          |  + (CAST(prr AS DOUBLE) * prr
          |    + CAST(qrr AS DOUBLE) * qrr) / nr)
          |  * 1000000.0) AS BIGINT) AS s6""".stripMargin)
      .orderBy(col("s6").desc, col("v")).limit(1)
      .selectExpr("round(CAST(v AS DOUBLE) / 100, 6) AS split_at",
        "nl AS n_left", "nr AS n_right", "pl AS p_left", "prr AS p_right",
        """round(CAST(CAST(nn AS DECIMAL(38,0)) * nn
          |    - CAST(pt AS DECIMAL(38,0)) * pt
          |    - CAST(qt AS DECIMAL(38,0)) * qt AS DOUBLE)
          |  / (CAST(nn AS DOUBLE) * nn), 6) AS gini_base""".stripMargin,
        """round((CAST(nn AS DOUBLE) - CAST(s6 AS DOUBLE) / 1000000.0)
          |  / nn, 6) AS gini_split""".stripMargin)
      .selectExpr("split_at", "n_left", "n_right", "p_left", "p_right",
        "gini_base", "gini_split",
        "round(gini_base - gini_split, 6) AS gain")
  }

  /** The q_mutual_information computation over any (x, y) pair frame
    * — factored so MutualInfoSpec can plant independent (MI = 0) and
    * deterministic (MI = H) tables. Quantize-then-sum per-cell terms;
    * see the registry entry. */
  private[graft] def mutualInformation(pairs: DataFrame): DataFrame = {
    val cells = pairs.groupBy("x", "y").agg(count(lit(1)).as("nxy"))
      .localCheckpoint() // read by the MI pass AND both entropy passes
    val t = cells
      .withColumn("nx", sum(col("nxy")).over(Window.partitionBy("x")))
      .withColumn("ny", sum(col("nxy")).over(Window.partitionBy("y")))
      .withColumn("n", sum(col("nxy")).over(Window.partitionBy()))
      .agg(max(col("n")).as("n"),
        sum(expr(
          """CAST(round(CAST(nxy AS DOUBLE) / n
            |  * log2(CAST(n AS DOUBLE) * nxy
            |    / (CAST(nx AS DOUBLE) * ny))
            |  * 1000000000.0) AS BIGINT)""".stripMargin)).as("mi9"))
    def entropy9(k: String, out: String): DataFrame =
      cells.groupBy(k).agg(sum(col("nxy")).as("nk"))
        .withColumn("n", sum(col("nk")).over(Window.partitionBy()))
        .agg(sum(expr(
          """CAST(round(CAST(nk AS DOUBLE) / n
            |  * log2(CAST(n AS DOUBLE) / nk)
            |  * 1000000000.0) AS BIGINT)""".stripMargin)).as(out))
    t.crossJoin(broadcast(entropy9("x", "h9x")))
      .crossJoin(broadcast(entropy9("y", "h9y")))
      .selectExpr("n",
        "round(CAST(mi9 AS DOUBLE) / 1000000000.0, 6) AS mi_bits",
        "round(CAST(h9x AS DOUBLE) / 1000000000.0, 6) AS h_type",
        "round(CAST(h9y AS DOUBLE) / 1000000000.0, 6) AS h_hour",
        """CASE WHEN least(h9x, h9y) = 0 THEN NULL ELSE
          |  round(CAST(mi9 AS DOUBLE) / least(h9x, h9y), 6) END
          |  AS mi_normalized""".stripMargin)
  }

  /** The q_benford computation over any single-column (value) frame —
    * factored so BenfordSpec can plant conforming (log-uniform grid)
    * and flunking (constant-magnitude) amounts. See the registry
    * entry for the string-first-digit and quantize-then-sum choices. */
  private[graft] def benford(values: DataFrame): DataFrame = {
    val c = values
      .select(round(col("value") * 100, 0).cast("long").as("c"))
      .filter(col("c") > 0)
    val o = c.select(
        substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("o"))
    val grid = c.sparkSession.range(1, 10)
      .select(col("id").as("digit"))
      .join(o, Seq("digit"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    grid
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .selectExpr("digit", "o", "n", "log10(1 + 1.0 / digit) AS p")
      .selectExpr("digit", "o", "n", "p",
        """CAST(round((CAST(o AS DOUBLE) - n * p)
          |  * (CAST(o AS DOUBLE) - n * p) / (n * p)
          |  * 1000000000.0) AS BIGINT) AS chi9""".stripMargin,
        """CAST(round(abs(CAST(o AS DOUBLE) / n - p)
          |  * 1000000000.0) AS BIGINT) AS dev9""".stripMargin)
      .withColumn("chi9s", sum(col("chi9")).over(Window.partitionBy()))
      .withColumn("dev9s", sum(col("dev9")).over(Window.partitionBy()))
      .selectExpr("digit", "o AS n_d",
        "round(CAST(o AS DOUBLE) / n, 6) AS obs_p",
        "round(p, 6) AS exp_p",
        "round(CAST(chi9s AS DOUBLE) / 1000000000.0, 6) AS chi2",
        "round(CAST(dev9s AS DOUBLE) / 1000000000.0 / 9, 6) AS mad",
        """CAST(CAST(dev9s AS DOUBLE) / 1000000000.0 / 9 > 0.015
          |  AS BIGINT) AS nonconforming""".stripMargin)
      .orderBy("digit")
  }

  /** The q_mcnemar computation over any (user_id, event_type, ts)
    * frame — factored so McnemarSpec can plant hand-countable flip
    * tables. Jan-16 split, 'purchase' as the conversion event. */
  private[graft] def mcnemar(events: DataFrame): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    events.groupBy("user_id").agg(
        max(when(col("event_type") === "purchase"
          && col("ts") < cut, 1).otherwise(0)).as("pre"),
        max(when(col("event_type") === "purchase"
          && col("ts") >= cut, 1).otherwise(0)).as("post"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("pre") === 0 && col("post") === 0, 1L)
          .otherwise(0L)).as("n00"),
        sum(when(col("pre") === 0 && col("post") === 1, 1L)
          .otherwise(0L)).as("n01"),
        sum(when(col("pre") === 1 && col("post") === 0, 1L)
          .otherwise(0L)).as("n10"),
        sum(when(col("pre") === 1 && col("post") === 1, 1L)
          .otherwise(0L)).as("n11"))
      .selectExpr("n_users", "n00", "n01", "n10", "n11",
        """CASE WHEN n10 + n01 = 0 THEN NULL ELSE
          |  round(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
          |    / (n10 + n01), 6) END AS mcnemar_chi2""".stripMargin,
        """CASE WHEN n10 + n01 = 0 THEN NULL ELSE
          |  round(CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)
          |      AS DOUBLE) / (n10 + n01), 6) END AS chi2_cc""".stripMargin)
  }

  /** The q_offpolicy_ips computation over any (event_type, value)
    * frame — factored so OffpolicySpec can plant arms with hand-exact
    * counterfactual values. See the registry entry. */
  private[graft] def offpolicyIps(events: DataFrame): DataFrame = {
    val g = events
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("na"), sum(col("c")).as("sa"))
      .selectExpr("event_type", "na", "sa",
        """CAST(round(CAST(sa AS DOUBLE) / na / 100 * 1000000000.0)
          |  AS BIGINT) AS m9""".stripMargin)
      .localCheckpoint() // read by the totals agg AND the argmax pick
    val tot = g.agg(count(lit(1)).as("k"), sum(col("na")).as("n"),
      sum(col("sa")).as("s"), sum(col("m9")).as("um9"))
    val best = g.orderBy(col("m9").desc, col("event_type")).limit(1)
      .select(col("event_type").as("best_type"), col("na").as("n_best"),
        col("sa").as("s_best"))
    tot.crossJoin(broadcast(best))
      .selectExpr("n", "k", "best_type", "n_best AS ess_greedy",
        "round(CAST(s AS DOUBLE) / n / 100, 6) AS v_logged",
        """round(CAST(um9 AS DOUBLE) / 1000000000.0 / k, 6)
          |  AS v_uniform""".stripMargin,
        """round(CAST(s_best AS DOUBLE) / n_best / 100, 6)
          |  AS v_greedy""".stripMargin)
  }

  /** The q_permutation_test computation over any (user_id, value)
    * frame — factored so PermutationSpec can plant separated and null
    * arms and pin the exact rational p. See the registry entry. */
  private[graft] def permutationTest(events: DataFrame): DataFrame = {
    import graft.functions.Portable.md5Hash60
    val u = events.select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("nu"), sum(col("c")).as("su"))
      .localCheckpoint() // read by the observed agg AND the draw explode
    val obs = u.agg(
      sum(when(Arms.parity === 0, col("nu")).otherwise(0L)).as("na"),
      sum(when(Arms.parity === 0, col("su")).otherwise(0L)).as("sa"),
      sum(when(Arms.parity === 1, col("nu")).otherwise(0L)).as("nb"),
      sum(when(Arms.parity === 1, col("su")).otherwise(0L)).as("sb"))
    val draws = u
      .withColumn("r", explode(sequence(lit(0), lit(PermDraws - 1))))
      .withColumn("grp", md5Hash60(
        concat(col("user_id").cast("string"), lit(":"),
          col("r").cast("string"))) % 2)
      .groupBy("r").agg(
        sum(when(col("grp") === 0, col("nu")).otherwise(0L)).as("nar"),
        sum(when(col("grp") === 0, col("su")).otherwise(0L)).as("sar"),
        sum(when(col("grp") === 1, col("nu")).otherwise(0L)).as("nbr"),
        sum(when(col("grp") === 1, col("su")).otherwise(0L)).as("sbr"))
    draws.crossJoin(broadcast(obs))
      .filter(col("nar") > 0 && col("nbr") > 0)
      .groupBy("na", "nb", "sa", "sb")
      .agg(count(lit(1)).as("n_valid"),
        sum(expr(
          """CASE WHEN
            |  abs(CAST(sar AS DECIMAL(38,0)) * nbr
            |    - CAST(sbr AS DECIMAL(38,0)) * nar)
            |    * (CAST(na AS DECIMAL(38,0)) * nb)
            |  >= abs(CAST(sa AS DECIMAL(38,0)) * nb
            |    - CAST(sb AS DECIMAL(38,0)) * na)
            |    * (CAST(nar AS DECIMAL(38,0)) * nbr)
            |THEN 1 ELSE 0 END""".stripMargin)).as("n_extreme"))
      .selectExpr("na", "nb", "n_valid", "n_extreme",
        """round((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
          |  / 100, 6) AS obs_diff""".stripMargin,
        """round(CAST(n_extreme + 1 AS DOUBLE) / (n_valid + 1), 6)
          |  AS p_value""".stripMargin)
  }

  /** The q_spearman computation over any (x, y) LONG frame — factored
    * so SpearmanSpec can plant monotone, inverse, and hand-ranked tied
    * pairs. Doubled-midrank maps over each bounded domain, broadcast
    * back; exact integer cross-products; see the registry entry. */
  private[graft] def spearman(pairs: DataFrame): DataFrame = {
    def rankMap(c: String, out: String): DataFrame = {
      val w = Window.orderBy(c)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pairs.groupBy(c).agg(count(lit(1)).as("t"))
        .withColumn("cumt", sum(col("t")).over(w))
        .select(col(c),
          (lit(2L) * (col("cumt") - col("t")) + col("t") + 1L).as(out))
    }
    pairs.join(broadcast(rankMap("x", "r2x")), Seq("x"))
      .join(broadcast(rankMap("y", "r2y")), Seq("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("r2x")).as("sx"), sum(col("r2y")).as("sy"),
        sum(col("r2x").cast("decimal(38,0)") * col("r2y")).as("sxy"),
        sum(col("r2x").cast("decimal(38,0)") * col("r2x")).as("sxx"),
        sum(col("r2y").cast("decimal(38,0)") * col("r2y")).as("syy"))
      .selectExpr("n",
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
          + " AS num",
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
          + " AS dx",
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"
          + " AS dy")
      .selectExpr("n",
        """CASE WHEN dx = 0 OR dy = 0 THEN NULL ELSE
          |  round(CAST(num AS DOUBLE)
          |    / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))),
          |    6) END AS spearman_rho""".stripMargin)
      .selectExpr("n", "spearman_rho",
        """CASE WHEN spearman_rho IS NULL OR abs(spearman_rho) >= 1
          |    OR n <= 2 THEN NULL ELSE
          |  round(spearman_rho * sqrt((n - 2)
          |    / (1 - spearman_rho * spearman_rho)), 6) END
          |  AS t_stat""".stripMargin)
  }

  /** The q_theil_sen computation over any (event_type, ts, value)
    * frame — factored so TheilSenSpec can plant an exact line with
    * outlier days and pin recovery. See the registry entry for the
    * exact-fraction / explicit-rank-median design. */
  private[graft] def theilSen(events: DataFrame): DataFrame = {
    val dd = events.select(col("event_type"),
        datediff(col("ts").cast("date"), lit("1970-01-01")).as("d"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("event_type", "d")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      .localCheckpoint() // read by the pair join AND the residual pass
    val sl = dd.as("a").join(dd.as("b"),
        col("a.event_type") === col("b.event_type")
          && col("a.d") < col("b.d"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.s") * col("a.n") - col("a.s") * col("b.n")).cast("double")
          / (col("a.n").cast("double") * col("b.n")
            * (col("b.d") - col("a.d")))).as("sl"))
    val wS = Window.partitionBy("event_type").orderBy("sl")
    val med = sl
      .withColumn("rn", row_number().over(wS).cast("long"))
      .withColumn("np",
        count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max(col("np")).as("n_pairs"),
        round(avg(when(col("rn") === floor((col("np") + 1) / 2)
          || col("rn") === floor((col("np") + 2) / 2), col("sl"))) / 100, 6)
          .as("slope"))
    val res = dd.join(med, Seq("event_type"))
      .select(col("event_type"),
        (col("s").cast("double") / col("n") / 100
          - col("slope") * col("d")).as("r"))
    val wR = Window.partitionBy("event_type").orderBy("r")
    val ic = res
      .withColumn("rn", row_number().over(wR).cast("long"))
      .withColumn("nd",
        count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max(col("nd")).as("n_days"),
        round(avg(when(col("rn") === floor((col("nd") + 1) / 2)
          || col("rn") === floor((col("nd") + 2) / 2), col("r"))), 6)
          .as("intercept"))
    med.join(ic, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("slope"), col("intercept"))
      .orderBy("event_type")
  }

  /** The q_msprt computation over any (ts, user_id, value) frame —
    * factored out so MsprtSpec can plant a lifted arm and pin the
    * crossing day. ln-domain throughout (see the registry entry). */
  private[graft] def msprtCurve(events: DataFrame): DataFrame =
    msprtFinish(Arms.powerSums(
      Arms.armed(events, Seq(col("ts").cast("date").as("day"))), suffix = "_d"))

  /** The finishing stage of q_msprt over the per-day arm power sums
    * ([[Arms.powerSums]] keyed by day, suffixed `_d`): #days-bounded
    * cumulative windows + ln-domain likelihood finals (see the
    * registry entry). The sums are purely additive, so q_stream_msprt
    * folds them as #days-bounded complete-mode state that equals the
    * batch rollup at any micro-batch split; batch-side in both twins. */
  private[graft] def msprtFinish(d: DataFrame): DataFrame = {
    val w = Window.orderBy("day")
    val cumul = d.select(col("day"),
      sum(col("na_d")).over(w).as("na"), sum(col("sa_d")).over(w).as("sa"),
      sum(col("qa_d")).over(w).as("qa"), sum(col("nb_d")).over(w).as("nb"),
      sum(col("sb_d")).over(w).as("sb"), sum(col("qb_d")).over(w).as("qb"))
    val f = cumul.filter(col("na") > 1 && col("nb") > 1)
      .selectExpr("day", "na + nb AS n",
        s"${Arms.MeanDiffSql} AS delta_c",
        s"${Arms.PooledVarSql} * (1.0 / na + 1.0 / nb) AS vn")
    val ll = f.selectExpr("day", "n", "delta_c",
      s"""CASE WHEN vn > 0 THEN round(
         |  0.5 * ln(vn / (vn + $MsprtTau2))
         |    + delta_c * delta_c * $MsprtTau2
         |      / (2 * vn * (vn + $MsprtTau2)), 6) END AS ln_lambda"""
        .stripMargin)
    ll.select(col("day"), col("n"),
      round(col("delta_c") / 100, 6).as("delta"), col("ln_lambda"),
      max(col("ln_lambda")).over(Window.orderBy("day")).as("ln_lambda_max"),
      when(max(col("ln_lambda")).over(Window.orderBy("day"))
        >= 2.995732, 1L).otherwise(0L).as("rejected"))
      .orderBy("day")
  }

  /** The q_fdr_bh oracle, shared VERBATIM by q_stream_fdr (the
    * msprtSql precedent). Lazy: referenced from the registry above
    * its definition. */
  private[graft] lazy val fdrBhSql: String =
    s"""WITH e AS (
           |  ${Arms.armedSql(Seq("event_type"))}
           |), a AS (
           |  ${Arms.powerSumsSql(Seq("event_type"))}
           |), f AS (
           |  SELECT event_type, na + nb AS n,
           |    round((${Arms.MeanDiffSql}) / ${Arms.WelchSeSql}, 6) AS z
           |  FROM a WHERE na > 1 AND nb > 1
           |), pp AS (
           |  SELECT event_type, n, z, ${pNorm6Sql("z")} AS p6i FROM f
           |), r AS (
           |  SELECT event_type, n, z, p6i,
           |    CAST(row_number() OVER (ORDER BY p6i, event_type) AS BIGINT) AS rk,
           |    CAST(count(*) OVER () AS BIGINT) AS m
           |  FROM pp
           |), x AS (
           |  SELECT event_type, n, z, p6i, rk,
           |    max(CASE WHEN p6i * $FdrAlphaInv * m <= rk * 1000000
           |      THEN rk END) OVER () AS imax
           |  FROM r
           |)
           |SELECT event_type, n, z,
           |  round(CAST(p6i AS DOUBLE) / 1000000, 6) AS p, rk,
           |  CASE WHEN rk <= coalesce(imax, 0) THEN CAST(1 AS BIGINT)
           |    ELSE CAST(0 AS BIGINT) END AS rejected
           |FROM x ORDER BY event_type""".stripMargin

  // ---- q_mixture_em shared expression texts (defs: init-order-safe).
  // The pdf's 1/sqrt(2*pi) cancels in the responsibility ratio and is
  // dropped from both engines' texts.
  private def emP(k: Int): String =
    s"(pi$k * exp(-(v - mu$k) * (v - mu$k) / (2 * var$k)) / sqrt(var$k))"

  /** Quantized responsibility of component 1 on the 1e-9 grid.
    * `castTy` differs per engine only in the exact-integer carrier:
    * DECIMAL(38,0) in Spark, HUGEINT in DuckDB (whose decimal
    * multiply caps total width at 38) — same VALUES either way.
    * The zero-density guard makes the degenerate cell deterministic
    * in BOTH engines: a value so far from both components that each
    * exp underflows to 0.0 would hit 0/0 = NaN, which Spark's
    * CAST(round(NaN) AS DECIMAL) nulls (sum then silently skips the
    * row) while DuckDB's HUGEINT cast raises — a silent cross-engine
    * divergence. Splitting the orphan 50/50 (r91 = 5e8) keeps its
    * mass in both sums, the least-information assignment. */
  private def emR91(castTy: String): String =
    s"""CAST(CASE WHEN ${emP(1)} + ${emP(2)} = 0 THEN 500000000
       |  ELSE round(${emP(1)} / (${emP(1)} + ${emP(2)}) * 1000000000)
       |  END AS $castTy)""".stripMargin

  /** M-step finals for component k from exact sums s/sv/sq: single
    * IEEE divisions rounded to the 9dp iterate grid; variance floors
    * at 1 cent². */
  private def emMStep(k: Int): Seq[String] = Seq(
    s"round(CAST(s$k AS DOUBLE) / 1000000000.0 / n, 9) AS pi$k",
    s"round(CAST(sv$k AS DOUBLE) / CAST(s$k AS DOUBLE), 9) AS mu$k",
    s"""round(greatest(CAST(sq$k AS DOUBLE) / CAST(s$k AS DOUBLE)
       |  - (CAST(sv$k AS DOUBLE) / CAST(s$k AS DOUBLE))
       |  * (CAST(sv$k AS DOUBLE) / CAST(s$k AS DOUBLE)), 1.0), 9)
       |  AS var$k""".stripMargin)

  private def emVar0: String =
    """round(greatest(CAST(sq AS DOUBLE) / n
      |  - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n), 1.0), 9)"""
      .stripMargin

  /** The q_mixture_em computation over any single-column (value)
    * frame — factored so MixtureEmSpec can plant two point masses.
    * See the registry entry for the quantize-then-sum EM design. */
  private[graft] def mixtureEm(values: DataFrame): DataFrame = {
    val vals = values
      .select(round(col("value") * 100, 0).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
      .localCheckpoint() // read by the init agg and every EM round
    var st = vals.agg(
        sum(col("c")).as("n0"), sum(col("c") * col("v")).as("sv"),
        sum(col("c") * col("v") * col("v")).as("sq"),
        min(col("v")).as("minv"), max(col("v")).as("maxv"))
      .selectExpr("CAST(n0 AS BIGINT) AS n",
        "CAST(0.5 AS DOUBLE) AS pi1", "CAST(minv AS DOUBLE) AS mu1",
        s"$emVar0 AS var1",
        "CAST(0.5 AS DOUBLE) AS pi2", "CAST(maxv AS DOUBLE) AS mu2",
        s"$emVar0 AS var2")
      .localCheckpoint()
    for (_ <- 1 to EmRounds) {
      val r = vals.crossJoin(broadcast(st))
        .selectExpr("v", "c", "n", s"${emR91("DECIMAL(38,0)")} AS r91")
        .selectExpr("v", "c", "n", "r91",
          "CAST(1000000000 AS DECIMAL(38,0)) - r91 AS r92")
      val sums = r.groupBy("n").agg(
        sum(col("r91") * col("c")).as("s1"),
        sum(col("r91") * col("c") * col("v")).as("sv1"),
        sum(col("r91") * col("c") * col("v") * col("v")).as("sq1"),
        sum(col("r92") * col("c")).as("s2"),
        sum(col("r92") * col("c") * col("v")).as("sv2"),
        sum(col("r92") * col("c") * col("v") * col("v")).as("sq2"))
      st = sums.selectExpr("n" +: (emMStep(1) ++ emMStep(2)): _*)
        .localCheckpoint()
    }
    st.selectExpr("CAST(1 AS BIGINT) AS k", "n", "round(pi1, 6) AS pi",
        "round(mu1 / 100, 6) AS mu", "round(sqrt(var1) / 100, 6) AS sd")
      .unionAll(st.selectExpr("CAST(2 AS BIGINT) AS k", "n",
        "round(pi2, 6) AS pi", "round(mu2 / 100, 6) AS mu",
        "round(sqrt(var2) / 100, 6) AS sd"))
      .orderBy("k")
  }

  /** The q_mixture_em oracle: the EM rounds unrolled as CTEs with the
    * shared expression texts. Lazy: referenced from the registry
    * above its definition. */
  private[graft] lazy val emSql: String = {
    val rounds = (1 to EmRounds).map { i =>
      s""", r$i AS (
         |  SELECT v, c, n, ${emR91("HUGEINT")} AS r91
         |  FROM vals CROSS JOIN st${i - 1}
         |), rr$i AS (
         |  SELECT v, c, n, r91,
         |    CAST(1000000000 AS HUGEINT) - r91 AS r92
         |  FROM r$i
         |), sm$i AS (
         |  SELECT n,
         |    sum(r91 * c) AS s1, sum(r91 * c * v) AS sv1,
         |    sum(r91 * c * v * v) AS sq1,
         |    sum(r92 * c) AS s2, sum(r92 * c * v) AS sv2,
         |    sum(r92 * c * v * v) AS sq2
         |  FROM rr$i GROUP BY n
         |), st$i AS (
         |  SELECT n, ${(emMStep(1) ++ emMStep(2)).mkString(",\n    ")}
         |  FROM sm$i
         |)""".stripMargin
    }.mkString
    s"""WITH vals AS (
       |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY v
       |), agg0 AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(c * v) AS BIGINT) AS sv,
       |    CAST(sum(c * v * v) AS BIGINT) AS sq,
       |    min(v) AS minv, max(v) AS maxv
       |  FROM vals
       |), st0 AS (
       |  SELECT n, CAST(0.5 AS DOUBLE) AS pi1, CAST(minv AS DOUBLE) AS mu1,
       |    $emVar0 AS var1,
       |    CAST(0.5 AS DOUBLE) AS pi2, CAST(maxv AS DOUBLE) AS mu2,
       |    $emVar0 AS var2
       |  FROM agg0
       |)$rounds
       |SELECT CAST(1 AS BIGINT) AS k, n, round(pi1, 6) AS pi,
       |  round(mu1 / 100, 6) AS mu, round(sqrt(var1) / 100, 6) AS sd
       |FROM st$EmRounds
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS k, n, round(pi2, 6) AS pi,
       |  round(mu2 / 100, 6) AS mu, round(sqrt(var2) / 100, 6) AS sd
       |FROM st$EmRounds
       |ORDER BY k""".stripMargin
  }

  /** The q_msprt oracle, shared VERBATIM by q_stream_msprt (the
    * momentsSql precedent — stream state ≡ batch rollup, so one SQL
    * text serves both). Lazy: referenced from the registry above its
    * definition (the thetaIntersectSql init-order rule). */
  private[graft] lazy val msprtSql: String =
    s"""WITH e AS (
       |  ${Arms.armedSql(Seq("CAST(ts AS DATE) AS day"))}
       |), d AS (
       |  ${Arms.powerSumsSql(Seq("day"), suffix = "_d")}
       |), cumul AS (
       |  SELECT day,
       |    CAST(sum(na_d) OVER (ORDER BY day) AS BIGINT) AS na,
       |    CAST(sum(sa_d) OVER (ORDER BY day) AS BIGINT) AS sa,
       |    CAST(sum(qa_d) OVER (ORDER BY day) AS BIGINT) AS qa,
       |    CAST(sum(nb_d) OVER (ORDER BY day) AS BIGINT) AS nb,
       |    CAST(sum(sb_d) OVER (ORDER BY day) AS BIGINT) AS sb,
       |    CAST(sum(qb_d) OVER (ORDER BY day) AS BIGINT) AS qb
       |  FROM d
       |), f AS (
       |  SELECT day, na + nb AS n,
       |    ${Arms.MeanDiffSql} AS delta_c,
       |    ${Arms.PooledVarSql} * (1.0 / na + 1.0 / nb) AS vn
       |  FROM cumul WHERE na > 1 AND nb > 1
       |), ll AS (
       |  SELECT day, n, delta_c,
       |    CASE WHEN vn > 0 THEN round(
       |      0.5 * ln(vn / (vn + $MsprtTau2))
       |        + delta_c * delta_c * $MsprtTau2
       |          / (2 * vn * (vn + $MsprtTau2)), 6) END AS ln_lambda
       |  FROM f
       |)
       |SELECT day, n, round(delta_c / 100, 6) AS delta,
       |  ln_lambda,
       |  max(ln_lambda) OVER (ORDER BY day) AS ln_lambda_max,
       |  CASE WHEN max(ln_lambda) OVER (ORDER BY day) >= 2.995732
       |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS rejected
       |FROM ll ORDER BY day""".stripMargin

  /** Registered in `all` beside the other theta faces (lazy: defined
    * below the registry that references it, the thetaIntersectSql
    * init-order rule). */
  private[graft] lazy val thetaRollingQ: Q = Q(
    "q_theta_rolling",
    "rolling 7-day distinct users (the WAU curve) answered from " +
      "per-DAY theta sketch state: one sketch row per day (the " +
      "persisted table), and each day's trailing-week distinct count " +
      "is a union of ≤7 sketch rows — the classic sliding-window " +
      "distinct problem, where the exact answer needs every window " +
      "to re-deduplicate its raw rows (a ×7 fan-out re-scan at 100 " +
      "TB, which is precisely what the oracle twin pays here under " +
      "the q_hll_partials contract) while the sketch path touches " +
      "days×KB state. The day-spine self-join is a broadcast range " +
      "join over #days rows; both engines emit the EXACT per-day " +
      "window day-coverage and WAU (distinct users over the raw " +
      "window — partial windows at series start included, identical " +
      "in both), plus the deterministic 5% sketch flag (exact-mode " +
      "equality at test SFs)",
    Some(
      """WITH ev AS (
        |  SELECT DISTINCT
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |      AS day, user_id
        |  FROM events
        |), days AS (
        |  SELECT DISTINCT day FROM ev
        |), w AS (
        |  SELECT d.day, e.day AS eday, e.user_id
        |  FROM days d JOIN ev e
        |    ON e.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |)
        |SELECT day,
        |  CAST(count(DISTINCT eday) AS BIGINT) AS n_days_window,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
        |  CAST(1 AS BIGINT) AS wau_within_5pct
        |FROM w GROUP BY day ORDER BY day""".stripMargin),
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    // The persisted state: one sketch row per day.
    val state = ev.groupBy("day")
      .agg(expr("theta_sketch_agg(user_id)").as("sk"))
    val days = state.select("day")
    // Sketch path: trailing-week union over ≤7 STATE rows per day.
    val est = days
      .join(broadcast(state.select(col("day").as("sday"), col("sk"))),
        col("sday") >= col("day") - expr("INTERVAL 6 DAYS")
          && col("sday") <= col("day"))
      .groupBy("day")
      .agg(expr("theta_estimate(theta_union_agg(sk))").as("est_wau"))
    // Exact twin: the ×7 raw-window fan-out the sketch path avoids.
    val exact = days
      .join(ev.select(col("day").as("eday"), col("user_id")),
        col("eday") >= col("day") - expr("INTERVAL 6 DAYS")
          && col("eday") <= col("day"))
      .groupBy("day")
      .agg(countDistinct(col("eday")).as("n_days_window"),
        countDistinct(col("user_id")).as("wau"))
    exact.join(est, Seq("day"))
      .select(col("day"), col("n_days_window"), col("wau"),
        when(abs(col("est_wau") - col("wau")).cast("double")
          / col("wau") <= 0.05, 1L).otherwise(0L).as("wau_within_5pct"))
      .orderBy("day")
  }

  private[graft] lazy val kllRollingQ: Q = Q(
    "q_kll_rolling",
    "rolling 7-day p90 of event values answered from per-DAY rank-" +
      "sketch state — q_theta_rolling's sliding-window shape applied " +
      "to QUANTILES, and the generic de-risk for the value-domain " +
      "window class: the exact answer re-sorts every window's raw " +
      "values (the ×7 fan-out re-scan the oracle twin pays here), " +
      "the sketch path merges ≤7 KB-sized state rows per day " +
      "(kll_merge_agg over a broadcast day-spine range join — " +
      "days×KB, the corpus read once at state-build). Gate contract " +
      "= exact per-window p90 both engines + the hard flags: exact " +
      "n conservation through the window merges and the CDF bracket " +
      "at the merged sketch's p90 with ε = kll_err_bound (sound " +
      "under any merge history — partial windows at series start " +
      "included). At 100 TB this is the p99-latency dashboard: " +
      "per-day sketch appends, every window readout touches state " +
      "only",
    Some(
      """WITH ev AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
        |    AS TIMESTAMP) AS day, value
        |  FROM events
        |), days AS (
        |  SELECT DISTINCT day FROM ev
        |), w AS (
        |  SELECT d.day, e.value
        |  FROM days d JOIN ev e
        |    ON e.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_window,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  CAST(1 AS BIGINT) AS n_conserved,
        |  CAST(1 AS BIGINT) AS p90_bracket_ok
        |FROM w GROUP BY day ORDER BY day""".stripMargin),
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("value"))
    // The persisted state: one rank sketch row per day.
    val state = ev.groupBy("day")
      .agg(expr("kll_sketch_agg(value, 256)").as("sk"))
    val days = state.select("day")
    // Sketch path: trailing-week merge over ≤7 STATE rows per day.
    val est = days
      .join(broadcast(state.select(col("day").as("sday"), col("sk"))),
        col("sday") >= col("day") - expr("INTERVAL 6 DAYS")
          && col("sday") <= col("day"))
      .groupBy("day")
      .agg(expr("kll_merge_agg(sk, 256)").as("msk"))
      .select(col("day"), expr("kll_quantile(msk, 0.9D)").as("e90"),
        expr("kll_err_bound(msk)").as("eps"), expr("kll_n(msk)").as("kn"))
    // Exact twin + bracket verify: the ×7 raw-window fan-out the
    // sketch path avoids (the gate's cost, per the q_kll_quantiles
    // contract).
    days
      .join(ev.select(col("day").as("eday"), col("value")),
        col("eday") >= col("day") - expr("INTERVAL 6 DAYS")
          && col("eday") <= col("day"))
      .join(broadcast(est), Seq("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_window"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        max(col("eps")).as("eps"), max(col("kn")).as("kn"),
        sum(when(col("value") < col("e90"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("value") <= col("e90"), 1L).otherwise(0L)).as("le"))
      .select(col("day"), col("n_window"), col("p90"),
        (col("kn") === col("n_window")).cast("long").as("n_conserved"),
        (col("lt").cast("double") / col("n_window")
          <= lit(0.9) + col("eps")
          && col("le").cast("double") / col("n_window")
            >= lit(0.9) - col("eps")).cast("long").as("p90_bracket_ok"))
      .orderBy("day")
  }

  /** Shared oracle for q_theta_intersect AND q_stream_theta — the
    * batch/stream twins agree byte-for-byte because theta state is a
    * pure function of the SET (the momentsSql precedent). Lazy: it is
    * referenced from `all` above its definition point, and a strict
    * val would still be null during object init. */
  private[graft] lazy val thetaIntersectSql: String =
    """WITH tu AS (
      |  SELECT DISTINCT event_type, user_id FROM events
      |), p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS n_overlap
      |  FROM tu a JOIN tu b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT type_a, type_b, n_overlap,
      |  CAST(1 AS BIGINT) AS within_5pct,
      |  CAST(1 AS BIGINT) AS partials_within_1pct
      |FROM p ORDER BY type_a, type_b""".stripMargin

  /** (event_type, day, user_id) frame both theta faces sketch. */
  private[graft] def thetaEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id"))

  /** Theta readout shared by q_theta_intersect and q_stream_theta:
    * exact pair overlap (user-keyed equi-join of the distinct
    * (type, user) frame, types²-bounded) plus the two deterministic
    * sketch-quality flags — the given per-type sketch frame (built
    * from day partials or streamed batch partials; callers differ
    * ONLY in how that state was accumulated) against exact, and
    * against a direct single-pass sketch of the same distinct frame.
    */
  private[graft] def thetaReadout(
      tu: DataFrame, fromPartials: DataFrame): DataFrame = {
    val exact = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_overlap"))
    val direct = tu.groupBy("event_type")
      .agg(expr("theta_sketch_agg(user_id)").as("sk"))
    def pairs(perType: DataFrame, estName: String): DataFrame =
      perType.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
        .join(broadcast(perType.select(col("event_type").as("type_b"),
          col("sk").as("sk_b"))), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          expr("theta_intersect_estimate(sk_a, sk_b)").as(estName))
    exact
      .join(broadcast(pairs(direct, "est_direct")), Seq("type_a", "type_b"))
      .join(broadcast(pairs(fromPartials, "est_partials")),
        Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_overlap"),
        when(abs(col("est_direct") - col("n_overlap")).cast("double")
          / col("n_overlap") <= 0.05, 1L).otherwise(0L).as("within_5pct"),
        when(abs(col("est_partials") - col("est_direct")).cast("double")
          / greatest(col("est_direct"), lit(1L)) <= 0.01, 1L).otherwise(0L)
          .as("partials_within_1pct"))
      .orderBy("type_a", "type_b")
  }

  /** RFM scoring core (q_rfm + Round9OpsSpec planted contract): one
    * user-keyed purchase agg → 1-row exact quartile boundaries
    * (broadcast) → per-row 1-4 scores. Returns (user_id, r_days, f,
    * m_us, r_score, f_score, m_score), unordered. */
  private[graft] def rfmScored(ev: DataFrame): DataFrame = {
    val anchor = ev.agg(max(unix_micros(col("ts"))).as("anchor_us"))
    val per = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("f"),
        sum(round(col("value") * 1000000, 0).cast("long")).as("m_us"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"), col("f"), col("m_us"),
        expr("(anchor_us - last_us) div 86400000000").as("r_days"))
      // read twice (boundaries + scoring) — cut the recompute
      .localCheckpoint()
    val q = per.agg(
      expr("percentile(CAST(r_days AS DOUBLE), array(0.25, 0.5, 0.75))").as("rq"),
      expr("percentile(CAST(f AS DOUBLE), array(0.25, 0.5, 0.75))").as("fq"),
      expr("percentile(CAST(m_us AS DOUBLE), array(0.25, 0.5, 0.75))").as("mq"))
    def gt(v: Column, qs: Column, i: Int): Column =
      (v > element_at(qs, i)).cast("long")
    def lt(v: Column, qs: Column, i: Int): Column =
      (v < element_at(qs, i)).cast("long")
    per.crossJoin(broadcast(q))
      .select(col("user_id"), col("r_days"), col("f"), col("m_us"),
        (lit(1L) + lt(col("r_days"), col("rq"), 3)
          + lt(col("r_days"), col("rq"), 2)
          + lt(col("r_days"), col("rq"), 1)).as("r_score"),
        (lit(1L) + gt(col("f"), col("fq"), 1) + gt(col("f"), col("fq"), 2)
          + gt(col("f"), col("fq"), 3)).as("f_score"),
        (lit(1L) + gt(col("m_us"), col("mq"), 1) + gt(col("m_us"), col("mq"), 2)
          + gt(col("m_us"), col("mq"), 3)).as("m_score"))
  }

  /** Densified hourly event-count series (t = hour index from the
    * corpus start, x = count; missing hours 0) — shared by q_acf and
    * q_holt_winters. One corpus scan to the hour rollup; the spine
    * explode is bounds-bounded. Unordered. */
  private[graft] def hourlySeries(s: SparkSession, dir: String): DataFrame =
    seriesOf(hourRollup(Tables.events(s, dir)))

  /** Densified hourly PAIR series on one shared spine: x = total
    * events, y = purchases (q_granger — a gap in either series is a
    * real 0). One corpus scan; spine bounds-bounded. Unordered. */
  private[graft] def xySeries(s: SparkSession, dir: String): DataFrame =
    xySeriesOf(xyRollup(Tables.events(s, dir)))

  /** The streamable state stage of the pair series: per-hour (x =
    * total, y = purchases) — purely additive, calendar-bounded
    * (q_stream_granger folds it live as complete-mode state). */
  private[graft] def xyRollup(ev: DataFrame): DataFrame =
    ev.select(expr("unix_micros(ts) div 3600000000").as("h"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy("h").agg(count(lit(1)).as("x"), sum(col("p")).as("y"))

  /** Densify an (h, x, y) rollup onto the contiguous 0-based t spine
    * (the seriesOf two-lineage checkpoint rule applies). */
  private[graft] def xySeriesOf(hrRaw: DataFrame): DataFrame = {
    val hr = hrRaw.localCheckpoint() // read twice: bounds + spine join
    val bounds = hr.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = bounds
      .select(explode(sequence(lit(0L), col("h1") - col("h0"))).as("t"),
        col("h0"))
      .select((col("h0") + col("t")).as("h"), col("t"))
    spine.join(hr, Seq("h"), "left")
      .select(col("t"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  /** DuckDB twin of [[xySeries]]: hrxy → bxy → spxy → sxy(t, x, y).
    * A `def`, not a `val`: the registry `all` initializes first, and a
    * later-declared val would interpolate as null (the ewmaSql rule). */
  private[graft] def xySeriesSqlCte: String =
    """hrxy AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
      |    count(*) AS x,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY h
      |), bxy AS (
      |  SELECT min(h) AS h0, max(h) AS h1 FROM hrxy
      |), spxy AS (
      |  SELECT h0 + i AS h, i AS t FROM bxy, unnest(range(h1 - h0 + 1)) AS u(i)
      |), sxy AS (
      |  SELECT s.t, CAST(coalesce(hrxy.x, 0) AS BIGINT) AS x,
      |    CAST(coalesce(hrxy.y, 0) AS BIGINT) AS y
      |  FROM spxy s LEFT JOIN hrxy ON hrxy.h = s.h
      |)""".stripMargin

  /** The streamable state stage of the hourly series: the epoch-hour
    * count rollup — purely additive, calendar-bounded
    * (q_stream_ewma folds it live as complete-mode state). */
  private[graft] def hourRollup(ev: DataFrame): DataFrame =
    ev.select(expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy("h").agg(count(lit(1)).as("x"))

  /** Densify an (h, x) hour rollup onto the contiguous 0-based t
    * spine. localCheckpoints its input first: the bounds agg and the
    * spine join are two lineages of the same frame, and a streaming
    * memory-sink table's attributes do not deduplicate across
    * lineages the way file scans do (the quantileTeFinish note) —
    * the checkpoint rebases both on one MultiInstanceRelation. */
  private[graft] def seriesOf(hrRaw: DataFrame): DataFrame = {
    val hr = hrRaw.localCheckpoint()
    val bounds = hr.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = bounds
      .select(explode(sequence(lit(0L), col("h1") - col("h0"))).as("i"),
        col("h0"))
      .select((col("h0") + col("i")).as("h"), col("i").as("t"))
    spine.join(hr, Seq("h"), "left")
      .select(col("t"), coalesce(col("x"), lit(0L)).as("x"))
  }

  /** q_changepoint core (planted-step spec entry point) over a
    * (t, x) series: exact-integer between-segment statistic, argmax
    * split via a TakeOrdered head. */
  private[graft] def changepointOf(seriesRaw: DataFrame): DataFrame = {
    val series = seriesRaw.localCheckpoint() // read twice: cum + totals
    val wc = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = series.withColumn("lsum", sum(col("x")).over(wc))
    val st = series.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    cum.crossJoin(broadcast(st))
      .filter(col("t") + 1 < col("n"))
      .select((col("t") + 1).as("k"), col("lsum"), col("n"), col("s"))
      .withColumn("f", round(
        ((col("lsum") * col("n") - col("k") * col("s"))
          * (col("lsum") * col("n") - col("k") * col("s"))).cast("double")
          / (col("k") * (col("n") - col("k"))), 6))
      .orderBy(col("f").desc, col("k")).limit(1)
      .select(col("k").as("split_hour"),
        round(col("lsum").cast("double") / col("k"), 6).as("mean_left"),
        round((col("s") - col("lsum")).cast("double") / (col("n") - col("k")),
          6).as("mean_right"),
        col("f").as("f_stat"))
  }

  /** Per-user (r_days, f) churn features against the corpus max-ts
    * anchor — shared by q_model_auc and q_calibration (one owner for
    * the recency rule, the sessionsSqlCte precedent). */
  private[graft] def userRecencyFreq(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val anchor = ev.agg(max(unix_micros(col("ts"))).as("a_us"))
    ev.groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"), count(lit(1)).as("f"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"), col("f"),
        expr("(a_us - last_us) div 86400000000").as("r_days"))
  }

  /** The labeled churn-score frame shared by the AUC twins: one row
    * per user, (churned 0/1, score 6dp) — the Spark twin of
    * [[churnLabSqlCte]]'s `lab`. */
  private[graft] def churnScored(s: SparkSession, dir: String): DataFrame = {
    val per = userRecencyFreq(s, dir)
    val med = per.agg(
      expr("percentile(CAST(r_days AS DOUBLE), 0.5)").as("m"))
    per.crossJoin(broadcast(med)).select(
      when(col("r_days") > col("m"), 1L).otherwise(0L).as("churned"),
      round(lit(0.1) * col("r_days") - lit(0.05) * col("f"), 6).as("score"))
  }

  /** Mann-Whitney U fold over a rollup (k, np_s, nn_s): the
    * cumulative-negative window (SinglePartition, but its input is
    * bounded by the CALLER's key domain — exact scores for the exact
    * twin, ≤ B bins for the binned one), then the exact ×2 BIGINT U
    * aggregate. Returns one row (u2, np, nn, nk). */
  private def aucTail(byk: DataFrame): DataFrame = {
    val wc = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, -1)
    byk
      .withColumn("cumneg", coalesce(sum(col("nn_s")).over(wc), lit(0L)))
      .agg(sum(col("np_s") * (lit(2L) * col("cumneg") + col("nn_s")))
        .as("u2"),
        sum(col("np_s")).as("np"), sum(col("nn_s")).as("nn"),
        count(lit(1)).as("nk"))
  }

  /** B-bin equi-width quantization of the ×1e6-integer score domain,
    * shared by q_model_auc_binned's engine and (via the spliced SQL
    * twin) its oracle: EXACT BIGINT arithmetic end to end — no
    * float boundary can drift a bin edge between engines. A
    * degenerate one-point domain collapses to bin 0. */
  private[graft] def binOf(bins: Int): Column =
    when(col("smax") === col("smin"), lit(0L))
      .otherwise(least(lit(bins - 1L),
        expr(s"((si - smin) * $bins) div (smax - smin)")))

  /** The B-binned AUC as a call-site-parameterized builder — any bins
    * value, the oracle clause derived from the same argument by
    * [[modelAucBinnedSql]] (q_model_auc_binned registers the
    * [[AucBins]] instance; AucBinnedSpec runs the error bound at
    * several B values through this entry point). */
  private[graft] def modelAucBinned(s: SparkSession, dir: String,
      bins: Int): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val si = churnScored(s, dir).select(col("churned"),
      round(col("score") * lit(1000000), 0).cast("long").as("si"))
    val bounds = si.agg(min(col("si")).as("smin"), max(col("si")).as("smax"))
    val byk = si.crossJoin(broadcast(bounds))
      .select(col("churned"), binOf(bins).as("k"))
      .groupBy("k")
      .agg(sum(col("churned")).as("np_s"),
        sum(lit(1L) - col("churned")).as("nn_s"))
    aucTail(byk)
      .select((col("np") + col("nn")).as("n_users"),
        col("np").as("n_pos"), col("nn").as("n_neg"),
        col("nk").as("n_bins"),
        round(col("u2").cast("double") / (lit(2.0) * col("np") * col("nn")),
          6).as("auc_binned"))
  }

  /** The B-binned Gini as a call-site-parameterized builder (the
    * [[modelAucBinned]] contract for the count domain);
    * q_gini_activity_binned registers the [[GiniBins]] instance. */
  private[graft] def giniBinned(s: SparkSession, dir: String,
      bins: Int): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val per = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val mx = per.agg(max(col("n")).as("nmax"))
    val g = per.crossJoin(broadcast(mx))
      .select(least(lit(bins - 1L),
        expr(s"((n - 1) * $bins) div nmax")).as("bin"), col("n"))
      .groupBy("bin")
      .agg(count(lit(1)).as("u"), sum(col("n")).as("t"))
    val wc = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("c", coalesce(sum(col("u")).over(wc), lit(0L)))
      .agg(sum(col("u")).as("nu"), sum(col("t")).as("tt"),
        sum(lit(2L) * col("t") * col("c") + col("t") * (col("u") + lit(1L)))
          .as("s2"),
        count(lit(1)).as("nb"))
      .select(col("nu").as("n_users"), col("tt").as("total_events"),
        col("nb").as("n_bins"),
        round(col("s2").cast("double") / (col("nu").cast("double") * col("tt"))
          - (col("nu") + lit(1.0)) / col("nu"), 6).as("gini_binned"))
  }

  /** DuckDB twin of [[giniBinned]] for the same `bins`. */
  private[graft] def giniBinnedSql(bins: Int): String =
    s"""WITH per AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY user_id
       |), mx AS (
       |  SELECT max(n) AS nmax FROM per
       |), binned AS (
       |  SELECT least(${bins - 1}, ((n - 1) * $bins) // nmax) AS bin, n
       |  FROM per CROSS JOIN mx
       |), g AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS u,
       |    CAST(sum(n) AS BIGINT) AS t
       |  FROM binned GROUP BY bin
       |), cum AS (
       |  SELECT bin, u, t,
       |    CAST(coalesce(sum(u) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS c
       |  FROM g
       |), st AS (
       |  SELECT CAST(sum(u) AS BIGINT) AS nu, CAST(sum(t) AS BIGINT) AS tt,
       |    CAST(sum(2 * t * c + t * (u + 1)) AS BIGINT) AS s2,
       |    CAST(count(*) AS BIGINT) AS nb
       |  FROM cum
       |)
       |SELECT nu AS n_users, tt AS total_events, nb AS n_bins,
       |  round(CAST(s2 AS DOUBLE) / (CAST(nu AS DOUBLE) * tt)
       |    - (nu + 1.0) / nu, 6) AS gini_binned
       |FROM st""".stripMargin

  /** DuckDB twin of [[modelAucBinned]] for the same `bins`. */
  private[graft] def modelAucBinnedSql(bins: Int): String =
    s"""WITH $churnLabSqlCte, si AS (
       |  SELECT churned, CAST(round(score * 1000000, 0) AS BIGINT) AS si
       |  FROM lab
       |), bounds AS (
       |  SELECT min(si) AS smin, max(si) AS smax FROM si
       |), byk AS (
       |  SELECT CASE WHEN smax = smin THEN 0
       |      ELSE least(${bins - 1}, ((si - smin) * $bins) // (smax - smin))
       |    END AS k,
       |    CAST(sum(churned) AS BIGINT) AS np_s,
       |    CAST(sum(1 - churned) AS BIGINT) AS nn_s
       |  FROM si CROSS JOIN bounds GROUP BY 1
       |), $aucTailSqlCte
       |SELECT np + nn AS n_users, np AS n_pos, nn AS n_neg,
       |  nk AS n_bins,
       |  round(CAST(u2 AS DOUBLE) / (2.0 * np * nn), 6) AS auc_binned
       |FROM u""".stripMargin

  /** Kaplan-Meier curve over a (lt, censored) frame (q_survival_km
    * + the planted-cohort spec): bounded (lifetime, censored) rollup,
    * descending cumulative risk sets, exp of an exact ×1e6 ln-sum of
    * 6dp factors with a zero-factor short-circuit. Unordered. */
  private[graft] def kmCurve(per: DataFrame): DataFrame = {
    val ru = per.groupBy("lt")
      .agg(sum(lit(1L) - col("censored")).as("d"),
        sum(col("censored")).as("c"))
    val wDesc = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = ru
      .withColumn("n", sum(col("d") + col("c")).over(wDesc))
      .filter(col("d") > 0)
      .withColumn("f6", round(lit(1.0) - col("d").cast("double") / col("n"), 6))
    val wAsc = Window.orderBy("lt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk
      .withColumn("zflag",
        max(when(col("f6") <= 0, 1).otherwise(0)).over(wAsc))
      .withColumn("lnsum", sum(when(col("f6") > 0,
        round(log(col("f6")) * 1000000, 0).cast("long"))).over(wAsc))
      .select(col("lt").as("t_days"), col("n").as("n_risk"),
        col("d").as("n_deaths"),
        when(col("zflag") === 1, 0.0)
          .otherwise(round(exp(col("lnsum") / 1000000.0), 6))
          .as("survival"))
  }

  /** Rescaled-range Hurst estimate over a (t, x) series (q_hurst +
    * the planted-trend spec): per (size, block) the cumulative
    * deviation folds in exact integers (D = w·cumsum − pos·S, the w
    * cancels in R/S algebraically), per-size means as ×1e6 fixed
    * point, 3-point ln-ln slope on ×1e6 integer lanes. Ordered. */
  private[graft] def hurstOf(seriesRaw: DataFrame): DataFrame = {
    val series = seriesRaw.localCheckpoint() // read per window size
    val ws = series.sparkSession.range(1)
      .select(explode(array(lit(8L), lit(16L), lit(32L))).as("w"))
    val rows = series.crossJoin(broadcast(ws))
      .select(col("w"), expr("t div w").as("blk"), col("t"), col("x"))
    val ba = rows.groupBy("w", "blk")
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sb"),
        sum(col("x") * col("x")).as("ssb"))
      .filter(col("cnt") === col("w"))
    val bw = Window.partitionBy("w", "blk").orderBy("t")
    val dd = rows.join(broadcast(ba), Seq("w", "blk"))
      .withColumn("cum", sum(col("x"))
        .over(bw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pos", row_number().over(bw))
      .select(col("w"), col("blk"), col("sb"), col("ssb"),
        (col("w") * col("cum") - col("pos") * col("sb")).as("d"))
    val rb = dd.groupBy("w", "blk", "sb", "ssb")
      .agg((max(col("d")) - min(col("d"))).as("rng"))
      .withColumn("den",
        round(sqrt((col("w") * col("ssb") - col("sb") * col("sb"))
          .cast("double")), 6))
      .filter(col("den") > 0)
      .withColumn("rs", round(col("rng").cast("double") / col("den"), 6))
    val rsw = rb.groupBy("w")
      .agg(count(lit(1)).as("n_blocks"),
        round(sum(round(col("rs") * 1000000, 0).cast("long")).cast("double")
          / 1000000.0 / count(lit(1)), 6).as("rs"))
      .localCheckpoint() // read twice: output rows + the slope
    val pts = rsw.select(
      round(round(log(col("w").cast("double")), 6) * 1000000, 0)
        .cast("long").as("lw"),
      round(round(log(col("rs")), 6) * 1000000, 0).cast("long").as("lr"))
    // The slope needs >= 2 surviving sizes (distinct w ⇒ distinct lw,
    // so the denominator is then nonzero); on a degenerate series
    // (< 16 hours) Spark's non-ANSI 0/0 yields NULL while DuckDB
    // under ieee_floating_point_ops yields NaN — guard BOTH engines
    // to an explicit NULL hurst instead.
    val hh = pts.agg(
      when(count(lit(1)) >= 2,
        round((count(lit(1)) * sum(col("lw") * col("lr"))
          - sum(col("lw")) * sum(col("lr"))).cast("double")
          / (count(lit(1)) * sum(col("lw") * col("lw"))
            - sum(col("lw")) * sum(col("lw"))).cast("double"), 6))
        .as("hurst"))
    rsw.crossJoin(broadcast(hh)).orderBy("w")
  }

  /** Two-sided CUSUM over a (t, x) series (q_cusum + the planted-
    * shift spec): S_t = max(0, S_{t−1} + x_t − k) folded as the exact
    * window identity C_t − min(0, min_{s≤t} C_s); integer ceil/floor
    * mean references, 5σ threshold from a DECIMAL-exact variance
    * numerator. Unordered (t, x, s_up, s_dn, alarm) rows. */
  private[graft] def cusumOf(seriesRaw: DataFrame): DataFrame = {
    val series = seriesRaw.localCheckpoint() // read twice: stats + windows
    val st = series.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"))
    val ks = st.select(
      expr("(sx + n - 1) div n").as("k_up"),
      expr("sx div n").as("k_dn"),
      round(lit(5.0) * sqrt((col("n").cast("decimal(38,0)") * col("sxx")
        - col("sx").cast("decimal(38,0)") * col("sx")).cast("double"))
        / col("n"), 6).as("h"))
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = series.crossJoin(broadcast(ks))
      .withColumn("c_up", sum(col("x") - col("k_up")).over(wCum))
      .withColumn("c_dn", sum(col("k_dn") - col("x")).over(wCum))
    cum
      .withColumn("s_up",
        col("c_up") - least(lit(0L), min(col("c_up")).over(wCum)))
      .withColumn("s_dn",
        col("c_dn") - least(lit(0L), min(col("c_dn")).over(wCum)))
      .select(col("t"), col("x"), col("s_up"), col("s_dn"),
        (col("s_up") > col("h") || col("s_dn") > col("h")).cast("long")
          .as("alarm"))
  }

  /** Log-rank statistic over an (is_a, lt, censored) per-user frame
    * (q_logrank + the planted-cohort spec): bounded lifetime rollup,
    * two descending cumulative per-arm risk sets, hypergeometric e/v
    * terms on DECIMAL(38,0)-exact integer products folded as 6dp
    * ×1e6 fixed-point BIGINTs. One output row. */
  private[graft] def logrankOf(per: DataFrame): DataFrame = {
    val ru = per.groupBy("lt")
      .agg(sum(col("is_a") * (lit(1L) - col("censored"))).as("da"),
        sum(col("is_a") * col("censored")).as("ca"),
        sum((lit(1L) - col("is_a")) * (lit(1L) - col("censored"))).as("db"),
        sum((lit(1L) - col("is_a")) * col("censored")).as("cb"))
    val wDesc = Window.orderBy(col("lt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = ru
      .withColumn("na", sum(col("da") + col("ca")).over(wDesc))
      .withColumn("nb", sum(col("db") + col("cb")).over(wDesc))
      .filter(col("da") + col("db") > 0)
    val d = col("da") + col("db")
    val n = col("na") + col("nb")
    val terms = risk.select(col("da"),
      round((d.cast("decimal(38,0)") * col("na")).cast("double") / n, 6)
        .as("e_t"),
      when(n > 1,
        round((d.cast("decimal(38,0)") * col("na") * col("nb") * (n - d))
          .cast("double")
          / (n.cast("decimal(38,0)") * n * (n - lit(1))).cast("double"), 6))
        .otherwise(lit(0.0)).as("v_t"))
    val agg = terms.agg(sum(col("da")).as("o_a"),
      (sum(round(col("e_t") * 1000000, 0).cast("long")).cast("double")
        / 1000000.0).as("e_a"),
      (sum(round(col("v_t") * 1000000, 0).cast("long")).cast("double")
        / 1000000.0).as("v"))
    val chi2 = round((col("o_a") - col("e_a")) * (col("o_a") - col("e_a"))
      / col("v"), 6)
    agg.select(col("o_a"), round(col("e_a"), 6).as("e_a"),
      round(col("v"), 6).as("v"), chi2.as("chi2"),
      (chi2 > 3.841).cast("long").as("significant"))
  }

  /** The q_attribution_removal computation over any (user_id,
    * event_type, ts, event_id) frame — factored so AttributionSpec
    * can plant journeys with hand-exact removal effects (sole-path
    * channel = full credit, bystander = none). See the registry
    * entry for the model. */
  private[graft] def attributionRemoval(events: DataFrame,
      channels: Seq[String], target: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .localCheckpoint() // read by the pair agg AND the start agg
    val pairs = ev.filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val outn = pairs.groupBy("prev_type").agg(sum("n").as("outn"))
    val probs = pairs.join(outn, "prev_type")
      .select(col("prev_type").as("src"), col("event_type").as("dst"),
        (col("n").cast("double") / col("outn")).as("p"))
      .localCheckpoint()
    val start = ev.filter(col("rn") === 1)
      .groupBy(col("event_type").as("state"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("u", sum(col("cnt")).over(Window.partitionBy()))
      .localCheckpoint()
    // ONE batched fixpoint for all (1 + K) removal scenarios: the
    // transition table explodes ×(1+K) with a `removed` tag (the
    // baseline keeps every edge; scenario r drops edges touching r),
    // and [[markovAbsorbKeyed]] runs the SAME MarkovSteps checkpointed
    // rounds over the (removed, state) key — constant driver
    // round-trips however many channels are audited, instead of the
    // pre-r11 (1 + K) sequential fixpoints. State stays bounded:
    // (1 + K) × #types² edges, (1 + K) × #types states.
    val NoneTag = "\u0000baseline"
    require(!channels.contains(NoneTag),
      "channel list collides with the internal baseline tag")
    val tags = probs.sparkSession.range(1).select(
      explode(array((NoneTag +: channels.sorted).map(lit): _*)).as("removed"))
    val probsX = probs.crossJoin(broadcast(tags))
      .filter(col("removed") === NoneTag
        || (col("src") =!= col("removed") && col("dst") =!= col("removed")))
    val paX = markovAbsorbKeyed(probsX, Seq("removed"), target, MarkovSteps)
    val startX = start.crossJoin(broadcast(tags))
      .filter(col("removed") === NoneTag || col("state") =!= col("removed"))
    // tags-left-join so a scenario whose every start state was removed
    // still lands a v9 = 0 row (the sequential form's global agg did).
    val v9All = tags.join(
        startX.join(paX, Seq("removed", "state"), "left")
          .groupBy("removed")
          .agg(coalesce(sum(expr(
            """CAST(round(CAST(cnt AS DOUBLE) / u
              |  * coalesce(pa, 0) * 1000000000.0) AS BIGINT)"""
              .stripMargin)), lit(0L)).as("v9")),
        Seq("removed"), "left")
      .withColumn("v9", coalesce(col("v9"), lit(0L)))
      .localCheckpoint()
    val base = v9All.filter(col("removed") === NoneTag)
      .select(col("v9").as("v9b"))
    val rows = v9All.filter(col("removed") =!= NoneTag)
      .select(col("removed").as("channel"), col("v9").as("v9r"))
    rows.crossJoin(broadcast(base))
      .withColumn("tot9",
        sum(col("v9b") - col("v9r")).over(Window.partitionBy()))
      .selectExpr("channel",
        "round(CAST(v9b AS DOUBLE) / 1000000000.0, 6) AS v_base",
        "round(CAST(v9r AS DOUBLE) / 1000000000.0, 6) AS v_removed",
        """CASE WHEN v9b = 0 THEN NULL ELSE
          |  round(CAST(v9b - v9r AS DOUBLE) / v9b, 6) END
          |  AS removal_effect""".stripMargin,
        """CASE WHEN tot9 = 0 THEN NULL ELSE
          |  round(CAST(v9b - v9r AS DOUBLE) / CAST(tot9 AS DOUBLE), 6)
          |  END AS attribution_share""".stripMargin)
      .orderBy("channel")
  }

  /** q_markov_absorb rounds (planted-chain spec entry point) over a
    * (src, dst, p) probability table: k-step hitting probability of
    * `target`, 9dp-rounded per round. Returns (state, pa). */
  private[graft] def markovAbsorb(
      probs: DataFrame, target: String, steps: Int): DataFrame =
    markovAbsorbKeyed(probs, Nil, target, steps)

  /** [[markovAbsorb]] generalized to run MANY absorption chains in
    * the SAME checkpointed fixpoint: `keys` names extra columns on
    * the (src, dst, p) table that partition it into independent
    * chains (q_attribution_removal's `removed` scenario tag), and
    * each round is ONE join + agg over the union of all chains'
    * bounded state — the q_kanon_generalize width-ladder discipline —
    * so driver round-trips stay MarkovSteps however many chains run.
    * Per chain the algebra is IDENTICAL to the unkeyed form (the
    * per-(keys, src) sums see exactly the rows the filtered
    * sequential run would), so results match it term for term.
    * Returns (keys..., state, pa). */
  private[graft] def markovAbsorbKeyed(probs: DataFrame, keys: Seq[String],
      target: String, steps: Int): DataFrame = {
    val kCols = keys.map(col)
    // r16 shape (guide §1.2 step 1): the r15 loop ran one checkpointed
    // join+agg Spark job per absorption step over a table the
    // operator's own contract bounds by #types² per chain. Each
    // chain's edge table now collapses to ONE row (sorted edge array —
    // a deterministic sum order, where the loop's partial-agg order
    // was partition-dependent) and all `steps` rounds run as a per-row
    // `aggregate` HOF carrying the state→pa map: same per-round
    // round(Σ p·(dst=target ? 1 : pa_prev(dst)), 9) grid, same
    // missing-state 0 default (states = distinct srcs, exactly the
    // loop's groupBy key set), one job instead of `steps`.
    val edgeList = collect_list(struct(col("src"), col("dst"), col("p")))
    val grouped =
      if (keys.isEmpty) probs.agg(edgeList.as("edges"))
      else probs.groupBy(kCols: _*).agg(edgeList.as("edges"))
    val edges = array_sort(col("edges"))
    val srcs = array_distinct(transform(edges, e => e.getField("src")))
    val paMap = aggregate(
      sequence(lit(1), lit(steps)),
      map_from_entries(transform(srcs, s => struct(s, lit(0.0)))),
      (m, _) => map_from_entries(transform(srcs, s =>
        struct(s, round(aggregate(edges, lit(0.0), (acc, e) =>
          acc + when(e.getField("src") === s,
            e.getField("p") * when(e.getField("dst") === lit(target),
              lit(1.0))
              .otherwise(coalesce(
                try_element_at(m, e.getField("dst")), lit(0.0))))
            .otherwise(lit(0.0))), 9)))))
    grouped
      .select(kCols :+ explode(map_entries(paMap)).as("kv"): _*)
      .select(kCols :+ col("kv.key").as("state")
        :+ col("kv.value").as("pa"): _*)
  }

  /** The SCD2 dimension build shared by q_scd2 and q_scd2_pit_join
    * (one owner for the change rule, version numbering and interval
    * close — the sessionsSqlCte precedent). Unordered. */
  private[graft] def scd2Of(s: SparkSession, dir: String): DataFrame =
    scd2FromEvents(Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts")))

  /** The SCD2 change-detection chain over any (event_id, user_id,
    * event_type, ts) frame — shared by the full build and
    * q_scd2_merge's incremental rebuild segment. The `voffset`
    * column (if present) shifts version numbers so a rebuilt suffix
    * continues the persisted dimension's numbering. */
  private[graft] def scd2FromEvents(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val base = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
    val version =
      if (ev.columns.contains("voffset"))
        coalesce(col("voffset"), lit(0L)) + col("rn")
      else col("rn")
    base.select(col("user_id"), version.as("version"), col("event_type"),
      col("ts").as("valid_from"), col("valid_to"),
      when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
  }

  /** The q_kendall_tau computation over any (x, y) BIGINT frame —
    * factored so KendallSpec can plant hand-counted concordance
    * tables (a perfect monotone grid, an anti-monotone one, and a
    * tie-heavy case checked against the closed-form τ-b). See the
    * registry entry for the grid decomposition. */
  private[graft] def kendallTau(pairs: DataFrame): DataFrame = {
    val cells = pairs.groupBy("x", "y").agg(count(lit(1)).as("f"))
      .localCheckpoint() // read by the grid completion AND the probe
    val grid = cells.select("x").distinct()
      .crossJoin(cells.select("y").distinct())
      .join(cells, Seq("x", "y"), "left")
      .withColumn("f", coalesce(col("f"), lit(0L)))
    val wv = Window.partitionBy("x").orderBy("y")
    val tdiff = grid
      .withColumn("below", sum(col("f")).over(wv) - col("f"))
      .withColumn("tot", sum(col("f")).over(Window.partitionBy("x")))
      .select(col("x").as("x2"), col("y"),
        (col("below") - (col("tot") - col("below") - col("f"))).as("td"))
    val inner = cells.select(col("x").as("x1"), col("y"), col("f"))
      .join(tdiff, Seq("y"))
      .filter(col("x2") =!= col("x1"))
      .groupBy("x1", "y", "f")
      .agg(sum(when(col("x1") > col("x2"), col("td"))
        .otherwise(-col("td"))).as("inn"))
    val cd = inner.agg(
      sum(col("f").cast("decimal(38,0)") * col("inn")).as("cmd2"))
    val xt = cells.groupBy("x").agg(sum(col("f")).as("t"))
      .agg(sum(col("t")).as("n"),
        sum(col("t").cast("decimal(38,0)") * (col("t") - 1)).as("tx2"))
    val yt = cells.groupBy("y").agg(sum(col("f")).as("t"))
      .agg(sum(col("t").cast("decimal(38,0)") * (col("t") - 1)).as("ty2"))
    cd.crossJoin(broadcast(xt)).crossJoin(broadcast(yt))
      .selectExpr("n", "cmd2",
        "CAST(n AS DECIMAL(38,0)) * (n - 1) - tx2 AS dx",
        "CAST(n AS DECIMAL(38,0)) * (n - 1) - ty2 AS dy",
        "CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5) AS zden2")
      .selectExpr("n",
        """CASE WHEN dx = 0 OR dy = 0 THEN NULL ELSE
          |  round(CAST(cmd2 AS DOUBLE)
          |    / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))),
          |    6) END AS tau_b""".stripMargin,
        """CASE WHEN n < 3 THEN NULL ELSE
          |  round(3 * CAST(cmd2 AS DOUBLE)
          |    / (2 * sqrt(CAST(zden2 AS DOUBLE) / 2)), 6)
          |  END AS kendall_z""".stripMargin)
      .selectExpr("n", "tau_b", "kendall_z",
        "CAST(abs(kendall_z) > 1.96 AS BIGINT) AS significant")
  }

  /** The q_quantile_te computation over any (event_type, user_id,
    * value) frame — factored so QuantileTeSpec can plant a pure
    * location shift and pin the exact per-quantile effect. Arms on
    * user parity; quartile indices k = ceil(p·n) in pure integers
    * (p = j/4 exact); quantile = smallest cents whose arm cumulative
    * reaches k — the inverse-CDF definition, window_dist's index
    * machinery on the per-arm cumulative. The (type, cents, ca, cb)
    * rollup is purely additive, so q_stream_quantile_te folds the
    * same [[Arms.valueCounts]] as complete-mode state. */
  private[graft] def quantileTe(events: DataFrame): DataFrame =
    quantileTeFinish(
      Arms.valueCounts(Arms.armed(events, Seq(col("event_type")), "v")))

  /** The finishing stage of q_quantile_te over the bounded rollup:
    * per-arm cumulatives + exact quartile-index probe. Arm totals
    * come from an unordered window over the SAME pass as the
    * cumulatives (no self-join: the rollup may be a streaming
    * memory-sink table, whose MemoryPlan attributes do not
    * deduplicate across two derivations the way file scans do —
    * joining two lineages of it throws conflicting-references). */
  private[graft] def quantileTeFinish(vc: DataFrame): DataFrame = {
    val wv = Window.partitionBy("event_type").orderBy("v")
    val wt = Window.partitionBy("event_type")
    vc
      .withColumn("cuma", sum(col("ca")).over(wv))
      .withColumn("cumb", sum(col("cb")).over(wv))
      .withColumn("na", sum(col("ca")).over(wt))
      .withColumn("nb", sum(col("cb")).over(wt))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("event_type"), col("v"), col("cuma"), col("cumb"),
        col("na"), col("nb"), explode(expr("array(1L, 2L, 3L)")).as("j"))
      .selectExpr("event_type", "v", "cuma", "cumb", "j",
        "(na * j + 3) DIV 4 AS ka", "(nb * j + 3) DIV 4 AS kb")
      .groupBy("event_type", "j").agg(
        min(when(col("cuma") >= col("ka"), col("v"))).as("qa_c"),
        min(when(col("cumb") >= col("kb"), col("v"))).as("qb_c"))
      .selectExpr("event_type", "CAST(j AS DOUBLE) / 4 AS p",
        "round(CAST(qa_c AS DOUBLE) / 100, 6) AS q_a",
        "round(CAST(qb_c AS DOUBLE) / 100, 6) AS q_b",
        "round(CAST(qb_c - qa_c AS DOUBLE) / 100, 6) AS qte")
      .orderBy("event_type", "p")
  }

  /** The q_cmh_test computation over any (user_id, event_type, ts)
    * frame — factored so CmhSpec can plant a confounded-by-day
    * design (marginal lift, zero stratified effect — Simpson's
    * setup) and a true uniform lift. Arms on user parity; strata =
    * day; outcome = the `target` event type. Per-stratum E and Var
    * terms quantize to the 1e-9 grid and sum exactly (the
    * q_chisq_independence convention); df = 1 so the significance
    * compare is z² against 1.96². */
  private[graft] def cmhTest(events: DataFrame, target: String): DataFrame = {
    val cells = events.select(
        col("ts").cast("date").as("day"),
        Arms.parity.as("grp"),
        when(col("event_type") === target, 1L).otherwise(0L).as("hit"))
      .groupBy("day").agg(
        sum(when(col("grp") === 0, col("hit")).otherwise(0L)).as("a"),
        sum(when(col("grp") === 0, lit(1L) - col("hit")).otherwise(0L)).as("b"),
        sum(when(col("grp") === 1, col("hit")).otherwise(0L)).as("c"),
        sum(when(col("grp") === 1, lit(1L) - col("hit")).otherwise(0L)).as("d"))
      .selectExpr("day", "a", "b", "c", "d",
        "a + b AS n0", "c + d AS n1", "a + c AS m1", "b + d AS m0",
        "a + b + c + d AS t")
      .filter(col("t") > 1)
    cells.agg(
        count(lit(1)).as("n_strata"), sum(col("t")).as("n"),
        sum(col("a")).as("sa"),
        sum(expr("CAST(round(CAST(n0 AS DOUBLE) * m1 / t" +
          " * 1000000000.0) AS DECIMAL(38,0))")).as("e9"),
        sum(expr("""CAST(round(CAST(n0 AS DOUBLE) * n1 * m1 * m0
          |  / (CAST(t AS DOUBLE) * t * (t - 1))
          |  * 1000000000.0) AS DECIMAL(38,0))""".stripMargin)).as("v9"),
        sum(expr("CAST(round(CAST(a AS DOUBLE) * d / t" +
          " * 1000000000.0) AS DECIMAL(38,0))")).as("r9"),
        sum(expr("CAST(round(CAST(b AS DOUBLE) * c / t" +
          " * 1000000000.0) AS DECIMAL(38,0))")).as("s9"))
      .selectExpr("n_strata", "n",
        "CAST(sa AS DECIMAL(38,0)) * 1000000000 - e9 AS num9", "v9",
        "r9", "s9")
      .selectExpr("n_strata", "n",
        """CASE WHEN v9 = 0 THEN NULL ELSE
          |  round(CAST(num9 AS DOUBLE) * CAST(num9 AS DOUBLE)
          |    / (1000000000.0 * CAST(v9 AS DOUBLE)), 6)
          |  END AS cmh_chi2""".stripMargin,
        """CASE WHEN s9 = 0 THEN NULL ELSE
          |  round(CAST(r9 AS DOUBLE) / CAST(s9 AS DOUBLE), 6)
          |  END AS or_mh""".stripMargin)
      .selectExpr("n_strata", "n", "cmh_chi2", "or_mh",
        "CAST(cmh_chi2 > 3.841459 AS BIGINT) AS significant")
  }

  /** The q_runs_test computation over any (event_type, ts, value)
    * frame — factored so RunsSpec can plant a perfectly alternating
    * series (maximal runs, z > 0) and a two-block series (minimal
    * runs, z < 0). Daily totals densify onto the global day spine
    * (the q_acf lesson); above/below classifies against the doubled
    * two-middle-order-stat median (exact integers — equal-to-median
    * days are excluded, the standard treatment); the runs count is
    * one lag over the #days-bounded sequence. */
  private[graft] def runsTest(events: DataFrame): DataFrame = {
    val daily0 = events.select(col("event_type"),
        col("ts").cast("date").as("day"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("event_type", "day").agg(sum(col("c")).as("s"))
    val daily = daily0.select("event_type").distinct()
      .crossJoin(daily0.select("day").distinct())
      .join(daily0, Seq("event_type", "day"), "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
    val wOrd = Window.partitionBy("event_type").orderBy("s", "day")
    val med = daily
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type").agg(
        sum(when(col("rn") === expr("(nd + 1) DIV 2")
          || col("rn") === expr("(nd + 2) DIV 2"), col("s"))).as("m2"),
        max(when((col("nd") % 2) === 1, 1L).otherwise(0L)).as("odd"))
      .selectExpr("event_type",
        "CASE WHEN odd = 1 THEN 2 * m2 ELSE m2 END AS m2")
    val signed = daily.join(broadcast(med), Seq("event_type"))
      .filter(lit(2L) * col("s") =!= col("m2"))
      .withColumn("up",
        when(lit(2L) * col("s") > col("m2"), 1L).otherwise(0L))
    val wDay = Window.partitionBy("event_type").orderBy("day")
    signed
      .withColumn("chg",
        when(lag(col("up"), 1).over(wDay).isNull
          || lag(col("up"), 1).over(wDay) =!= col("up"), 1L).otherwise(0L))
      .groupBy("event_type").agg(
        sum(col("up")).as("n1"),
        sum(lit(1L) - col("up")).as("n2"),
        sum(col("chg")).as("runs"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .selectExpr("event_type", "n1", "n2", "runs",
        "n1 + n2 AS nn", "2 * n1 * n2 AS p2")
      .selectExpr("event_type", "n1", "n2", "runs",
        """CASE WHEN nn < 2 OR p2 * (p2 - nn) <= 0 THEN NULL ELSE
          |  round((runs - (CAST(p2 AS DOUBLE) / nn + 1))
          |    / sqrt(CAST(p2 AS DOUBLE) * (p2 - nn)
          |      / (CAST(nn AS DOUBLE) * nn * (nn - 1))), 6)
          |  END AS runs_z""".stripMargin)
      .selectExpr("event_type", "n1", "n2", "runs", "runs_z",
        "CAST(abs(runs_z) <= 1.96 AS BIGINT) AS looks_random")
      .orderBy("event_type")
  }

  /** The q_iv_wald computation over any (user_id, event_type, value)
    * frame — factored so IvWaldSpec can plant perfect compliance
    * (LATE = ITT / first-stage exactly) and a zero-first-stage
    * degenerate arm. The division-free algebra: every arm sum is an
    * exact integer; see the registry entry. */
  private[graft] def ivWald(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100, 0).cast("long")).otherwise(0L)).as("y"))
      .select(Arms.parity.as("z"), col("x"), col("y"))
      .agg(
        count(lit(1)).as("nu"),
        sum(when(col("z") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("z") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("z") === 1, col("x")).otherwise(0L)
          .cast("decimal(38,0)")).as("sx1"),
        sum(when(col("z") === 0, col("x")).otherwise(0L)
          .cast("decimal(38,0)")).as("sx0"),
        sum(when(col("z") === 1, col("y")).otherwise(0L)
          .cast("decimal(38,0)")).as("sy1"),
        sum(when(col("z") === 0, col("y")).otherwise(0L)
          .cast("decimal(38,0)")).as("sy0"))
      .selectExpr("nu", "n1",
        "sx1 * n0 - sx0 * n1 AS fs_num",
        "sy1 * n0 - sy0 * n1 AS rf_num",
        "CAST(n1 AS DECIMAL(38,0)) * n0 AS nd")
      .selectExpr("nu AS n_users", "n1 AS n_encouraged",
        """CASE WHEN nd = 0 THEN NULL ELSE
          |  round(CAST(fs_num AS DOUBLE) / CAST(nd AS DOUBLE), 6)
          |  END AS first_stage""".stripMargin,
        """CASE WHEN nd = 0 THEN NULL ELSE
          |  round(CAST(rf_num AS DOUBLE) / (CAST(nd AS DOUBLE) * 100), 6)
          |  END AS itt""".stripMargin,
        """CASE WHEN fs_num = 0 THEN NULL ELSE
          |  round(CAST(rf_num AS DOUBLE) / (CAST(fs_num AS DOUBLE) * 100),
          |    6) END AS late""".stripMargin)

  /** The q_rdd_sharp computation over any (user_id, value) frame —
    * factored so RddSpec can plant a known jump at the cutoff on
    * linear-in-r outcomes (both side fits recover their line
    * exactly, τ = the planted jump). Running variable r = user_id
    * mod 1000, cutoff 500, uniform-kernel half-width 250. */
  private[graft] def rddSharp(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("y"))
      .select((col("user_id") % 1000).as("r"), col("y"))
      .filter(col("r") >= 250 && col("r") < 750)
      .select((col("r") >= 500).cast("long").as("side"),
        (col("r") - 500).as("d"), col("y"))
      .groupBy("side").agg(
        count(lit(1)).as("n"),
        sum(col("d").cast("decimal(38,0)")).as("sd"),
        sum((col("d") * col("d")).cast("decimal(38,0)")).as("sdd"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("d").cast("decimal(38,0)") * col("y")).as("sdy"))
      .selectExpr("side", "n",
        "CAST(n AS DECIMAL(38,0)) * sdd - sd * sd AS den",
        "sy * sdd - sd * sdy AS inum",
        "CAST(n AS DECIMAL(38,0)) * sdy - sd * sy AS snum")
      .agg(
        max(when(col("side") === 0, col("n"))).as("n_left"),
        max(when(col("side") === 1, col("n"))).as("n_right"),
        max(when(col("side") === 0 && col("den") =!= 0, expr(
          "round(CAST(inum AS DOUBLE) / (CAST(den AS DOUBLE) * 100), 6)")))
          .as("y0_left"),
        max(when(col("side") === 1 && col("den") =!= 0, expr(
          "round(CAST(inum AS DOUBLE) / (CAST(den AS DOUBLE) * 100), 6)")))
          .as("y0_right"),
        max(when(col("side") === 0 && col("den") =!= 0, expr(
          "round(CAST(snum AS DOUBLE) / (CAST(den AS DOUBLE) * 100), 6)")))
          .as("slope_left"),
        max(when(col("side") === 1 && col("den") =!= 0, expr(
          "round(CAST(snum AS DOUBLE) / (CAST(den AS DOUBLE) * 100), 6)")))
          .as("slope_right"))
      .selectExpr("n_left", "n_right", "y0_left", "y0_right",
        "slope_left", "slope_right",
        "round(y0_right - y0_left, 6) AS tau")

  /** The q_mann_kendall computation over any (day, tot) daily series
    * — factored so MannKendallSpec can plant strictly rising (S =
    * N(N−1)/2, z > 0), strictly falling, and constant (var18 = 0 →
    * NULL) series. The O(days²) pair probe runs as a nested loop on
    * the broadcast day rollup — calendar-bounded, never corpus-
    * bounded. */
  private[graft] def mannKendall(daily: DataFrame): DataFrame = {
    val d = daily.localCheckpoint() // read by the pair probe AND ties
    val sp = d.select(col("day").as("d1"), col("tot").as("t1"))
      .join(broadcast(d.select(col("day").as("d2"), col("tot").as("t2"))),
        col("d1") < col("d2"))
      .agg(coalesce(sum(when(col("t2") > col("t1"), 1L)
        .when(col("t2") < col("t1"), -1L).otherwise(0L)), lit(0L)).as("s"))
    val tie = d.groupBy("tot").agg(count(lit(1)).as("t"))
      .agg(count(lit(1)).as("ndist"),
        sum(col("t")).as("nd"),
        coalesce(sum(expr(
          "CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)")),
          lit(0).cast("decimal(38,0)")).as("tie3"))
    sp.crossJoin(broadcast(tie))
      .selectExpr("nd", "s",
        "CAST(nd AS DECIMAL(38,0)) * (nd - 1) * (2 * nd + 5) - tie3" +
          " AS var18")
      .selectExpr("nd", "s",
        """CASE WHEN var18 <= 0 THEN NULL
          |  WHEN s > 0 THEN
          |    round((s - 1) * sqrt(18.0 / CAST(var18 AS DOUBLE)), 6)
          |  WHEN s < 0 THEN
          |    round((s + 1) * sqrt(18.0 / CAST(var18 AS DOUBLE)), 6)
          |  ELSE 0.0 END AS mk_z""".stripMargin)
      .selectExpr("nd AS n_days", "s", "mk_z",
        "CAST(CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END" +
          " AS BIGINT) AS trend",
        "CAST(abs(mk_z) > 1.96 AS BIGINT) AS significant")
  }

  /** The q_cochran_q computation over any (user_id, event_type) frame
    * — factored so CochranSpec can plant uniform incidence (Q = 0)
    * and a one-type-dominant design with a hand-exact Q. */
  private[graft] def cochranQ(events: DataFrame): DataFrame = {
    val inc = events.select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint() // read by both marginals
    val gj = inc.groupBy("event_type").agg(count(lit(1)).as("g"))
      .agg(count(lit(1)).as("k"), sum(col("g")).as("tt"),
        sum(col("g").cast("decimal(38,0)") * col("g")).as("sg2"))
    val li = inc.groupBy("user_id").agg(count(lit(1)).as("l"))
      .agg(count(lit(1)).as("nu"),
        sum(col("l").cast("decimal(38,0)") * col("l")).as("sl2"))
    gj.crossJoin(broadcast(li))
      .selectExpr("nu", "k", "k - 1 AS df",
        """(k - 1) * (CAST(k AS DECIMAL(38,0)) * sg2
          |  - CAST(tt AS DECIMAL(38,0)) * tt) AS qnum""".stripMargin,
        "CAST(k AS DECIMAL(38,0)) * tt - sl2 AS qden")
      .selectExpr("nu", "k", "df",
        """CASE WHEN qden = 0 THEN NULL ELSE
          |  round(CAST(qnum AS DOUBLE) / CAST(qden AS DOUBLE), 6)
          |  END AS q_stat""".stripMargin)
      .selectExpr("nu AS n_users", "k", "df", "q_stat",
        """CASE WHEN df = 0 OR q_stat IS NULL THEN NULL ELSE
          |  round((cbrt(q_stat / df) - 1 + 2.0 / (9 * df))
          |    / sqrt(2.0 / (9 * df)), 6) END AS wh_z""".stripMargin)
      .selectExpr("n_users", "k", "df", "q_stat", "wh_z",
        "CAST(wh_z > 1.645 AS BIGINT) AS significant")
  }

  /** The q_kruskal_wallis computation over any (g, v) frame — group
    * label, integer value — factored so KruskalSpec can plant
    * identical groups (H = 0) and fully separated groups with a
    * hand-exact H. Doubled global midranks on the value rollup; the
    * per-group R²/n quotient+remainder split keeps the rank-sum
    * algebra exact (see the registry entry for the overflow
    * window). */
  private[graft] def kruskalWallis(groups: DataFrame): DataFrame =
    kruskalFinish(groups.groupBy("g", "v").agg(count(lit(1)).as("c")))

  /** The finishing stage of q_kruskal_wallis over the bounded (g, v,
    * c) cell rollup — the rollup is the streamable state (purely
    * additive, value-domain-bounded; q_stream_kruskal folds it
    * live). The localCheckpoint covers the memory-sink lineage rule
    * (the quantileTeFinish note) besides its reuse role. */
  private[graft] def kruskalFinish(cellsRaw: DataFrame): DataFrame = {
    val cells = cellsRaw
      .localCheckpoint() // read by the global rank map AND group sums
    val tv = cells.groupBy("v").agg(sum(col("c")).as("t"))
      .localCheckpoint() // read by the rank map AND the tie sum
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rk = tv
      .withColumn("cum", sum(col("t")).over(wv))
      .select(col("v"),
        (lit(2L) * (col("cum") - col("t")) + col("t") + 1).as("r2"))
    val ag = cells.join(rk, "v")
      .groupBy("g").agg(
        sum(col("c")).as("n"),
        sum(col("c").cast("decimal(38,0)") * col("r2")).as("r2g"))
      .selectExpr("g", "n", "(r2g * r2g) DIV n AS qg",
        "(r2g * r2g) % n AS rg")
      .selectExpr("g", "n", "qg",
        """CAST(round(CAST(rg AS DOUBLE) / n * 1000000000.0) AS BIGINT)
          |  AS f9""".stripMargin)
      .agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("qg")).as("qa"), sum(col("f9")).as("fa"))
    val tie = tv.agg(coalesce(
      sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1) * (t + 1)")),
      lit(0).cast("decimal(38,0)")).as("ties"))
    ag.crossJoin(broadcast(tie))
      .selectExpr("k", "nn", "k - 1 AS df",
        "CAST(nn AS DECIMAL(38,0)) * (nn - 1) * (nn + 1) AS nn3", "ties",
        """CASE WHEN nn < 2 THEN NULL ELSE
          |  round(3.0 * (CAST(qa AS DOUBLE)
          |      + CAST(fa AS DOUBLE) / 1000000000.0)
          |    / (CAST(nn AS DOUBLE) * (nn + 1)) - 3.0 * (nn + 1), 6)
          |  END AS h""".stripMargin)
      .selectExpr("k", "nn", "df", "h",
        """CASE WHEN h IS NULL OR nn3 - ties = 0 THEN NULL ELSE
          |  round(h * CAST(nn3 AS DOUBLE) / CAST(nn3 - ties AS DOUBLE),
          |    6) END AS h_corr""".stripMargin)
      .selectExpr("k AS n_groups", "nn AS n", "df", "h", "h_corr",
        """CASE WHEN df = 0 OR h_corr IS NULL OR h_corr <= 0 THEN NULL
          |  ELSE round((cbrt(h_corr / df) - 1 + 2.0 / (9 * df))
          |    / sqrt(2.0 / (9 * df)), 6) END AS wh_z""".stripMargin)
      .selectExpr("n_groups", "n", "df", "h", "h_corr", "wh_z",
        "CAST(wh_z > 1.645 AS BIGINT) AS significant")
  }

  /** The q_logreg_irls DuckDB oracle: hour histogram + IrlsRounds
    * unrolled (m_i, s_i, st_i) CTE triples built from the SAME
    * spliced expression texts the Spark loop uses (the mixtureEm
    * convention). A def, not a val: registry-interpolation init
    * order. */
  private[graft] def logregSql: String = {
    val rounds = (1 to IrlsRounds).map { i =>
      s"""m$i AS (
         |  SELECT x, n, h, b0, b1, $irlsM9 AS m9
         |  FROM hx CROSS JOIN st${i - 1}
         |), s$i AS (
         |  SELECT ${irlsSums("HUGEINT").mkString(",\n    ")}
         |  FROM m$i
         |), st$i AS (
         |  SELECT ${irlsStep.mkString(",\n    ")}
         |  FROM s$i
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH hx AS (
       |  SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS h
       |  FROM events GROUP BY 1
       |), st0 AS (
       |  SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1
       |), $rounds, tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n,
       |    CAST(sum(h) AS BIGINT) AS n_hits
       |  FROM hx
       |)
       |SELECT n, n_hits, round(b0, 6) AS b0, round(b1, 6) AS b1,
       |  round(1.0 / (1.0 + exp(-(b0 + b1 * 12))), 6) AS p_noon
       |FROM tot CROSS JOIN st$IrlsRounds""".stripMargin
  }

  /** The q_ols_multi computation over any (x, z, y) frame — two
    * integer features, integer outcome in cents — factored so
    * OlsSpec can plant an exact plane (recovered coefficients and
    * R² = 1) and a rank-deficient design (det = 0 → NULL). */
  private[graft] def olsMulti(rows: DataFrame): DataFrame =
    olsFinish(olsMoments(rows))

  /** The streamable state stage of q_ols_multi: the nine exact
    * moment sums as ONE additive row — the sufficient statistics of
    * the regression (q_stream_ols folds them live; any partition of
    * the corpus sums to the same state). */
  private[graft] def olsMoments(rows: DataFrame): DataFrame =
    rows.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("s1"),
      sum(col("z").cast("decimal(38,0)")).as("s2"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("s11"),
      sum(col("x").cast("decimal(38,0)") * col("z")).as("s12"),
      sum(col("z").cast("decimal(38,0)") * col("z")).as("s22"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("s1y"),
      sum(col("z").cast("decimal(38,0)") * col("y")).as("s2y"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))

  /** The finishing stage of q_ols_multi over the 1-row moment state:
    * the centered Cramer solve + grid-derived intercept and R². */
  private[graft] def olsFinish(m: DataFrame): DataFrame =
    m.selectExpr("n", "s1", "s2", "sy",
        "n * s11 - s1 * s1 AS sxx", "n * s12 - s1 * s2 AS sxz",
        "n * s22 - s2 * s2 AS szz", "n * s1y - s1 * sy AS sxy",
        "n * s2y - s2 * sy AS szy", "n * syy - sy * sy AS syyc")
      .selectExpr("n", "s1", "s2", "sy", "sxy", "szy", "syyc",
        """CAST(sxx AS DOUBLE) * CAST(szz AS DOUBLE)
          |  - CAST(sxz AS DOUBLE) * CAST(sxz AS DOUBLE)
          |  AS det""".stripMargin,
        """CAST(sxy AS DOUBLE) * CAST(szz AS DOUBLE)
          |  - CAST(szy AS DOUBLE) * CAST(sxz AS DOUBLE)
          |  AS b1n""".stripMargin,
        """CAST(szy AS DOUBLE) * CAST(sxx AS DOUBLE)
          |  - CAST(sxy AS DOUBLE) * CAST(sxz AS DOUBLE)
          |  AS b2n""".stripMargin)
      .selectExpr("n", "s1", "s2", "sy", "sxy", "szy", "syyc",
        """CASE WHEN det = 0 THEN NULL ELSE
          |  round(b1n / (det * 100), 6) END AS b_hour""".stripMargin,
        """CASE WHEN det = 0 THEN NULL ELSE
          |  round(b2n / (det * 100), 6) END AS b_dow""".stripMargin)
      .selectExpr("n", "b_hour", "b_dow",
        """CASE WHEN b_hour IS NULL THEN NULL ELSE
          |  round((CAST(sy AS DOUBLE) / 100 - b_hour * CAST(s1 AS DOUBLE)
          |    - b_dow * CAST(s2 AS DOUBLE)) / n, 6)
          |  END AS intercept""".stripMargin,
        """CASE WHEN b_hour IS NULL OR syyc <= 0 THEN NULL ELSE
          |  round((b_hour * 100 * CAST(sxy AS DOUBLE)
          |    + b_dow * 100 * CAST(szy AS DOUBLE))
          |    / CAST(syyc AS DOUBLE), 6) END AS r2""".stripMargin)

  /** The q_logreg_irls computation over any (x, hit) frame — integer
    * feature, 0/1 label — factored so LogregSpec can plant a
    * balanced design (zero score at the origin holds the state
    * there) and a monotone design (positive slope). The loop body
    * splices [[irlsM9]]/[[irlsSums]]/[[irlsStep]] — the exact texts
    * [[logregSql]] unrolls for DuckDB. */
  private[graft] def logregIrls(rows: DataFrame): DataFrame =
    logregFit(rows.groupBy("x").agg(
      count(lit(1)).as("n"), sum(col("hit")).as("h")))

  /** The finishing stage of q_logreg_irls over any (x, n, h)
    * histogram — the rollup is the streamable state (purely
    * additive, x-domain-bounded; q_stream_logreg folds it live). */
  private[graft] def logregFit(hxRaw: DataFrame): DataFrame = {
    val hx = hxRaw
      .localCheckpoint() // read by init totals and every round
    var st = hx.sparkSession.range(1)
      .selectExpr("CAST(0.0 AS DOUBLE) AS b0", "CAST(0.0 AS DOUBLE) AS b1")
    for (_ <- 1 to IrlsRounds) {
      val sums = irlsSums("DECIMAL(38,0)").map(expr)
      st = hx.crossJoin(broadcast(st))
        .selectExpr("x", "n", "h", "b0", "b1", s"$irlsM9 AS m9")
        .agg(sums.head, sums.tail: _*)
        .selectExpr(irlsStep: _*)
        .localCheckpoint()
    }
    hx.agg(sum(col("n")).as("n"), sum(col("h")).as("n_hits"))
      .crossJoin(broadcast(st))
      .selectExpr("n", "n_hits", "round(b0, 6) AS b0",
        "round(b1, 6) AS b1",
        "round(1.0 / (1.0 + exp(-(b0 + b1 * 12))), 6) AS p_noon")
  }

  /** The q_friedman computation over any sparse (day, g, tot) block
    * design — factored so FriedmanSpec can plant perfectly agreeing
    * blocks (χ² = b(k−1), the closed form) and within-block-constant
    * ones (denominator 0 → NULL). Densifies to the day×treatment
    * spine first: a missing cell is a true zero total. */
  private[graft] def friedman(daily: DataFrame): DataFrame = {
    val d = daily.localCheckpoint() // read by both spine axes + join
    val grid = d.select("day").distinct()
      .crossJoin(broadcast(d.select("g").distinct()))
      .join(d, Seq("day", "g"), "left")
      .withColumn("tot", coalesce(col("tot"), lit(0L)))
      .localCheckpoint() // read by the tie rollup AND the rank join
    val wd = Window.partitionBy("day").orderBy("tot")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rk = grid.groupBy("day", "tot").agg(count(lit(1)).as("t"))
      .withColumn("cum", sum(col("t")).over(wd))
      .select(col("day"), col("tot"),
        (lit(2L) * (col("cum") - col("t")) + col("t") + 1).as("r2"))
    val rc = grid.join(rk, Seq("day", "tot"))
      .select(col("day"), col("g"), col("r2"))
      .localCheckpoint() // read by per-type sums AND global totals
    val pt = rc.groupBy("g")
      .agg(sum(col("r2").cast("decimal(38,0)")).as("r2j"))
    val tt = rc.agg(
      countDistinct(col("day")).as("b"),
      countDistinct(col("g")).as("k"),
      sum((col("r2") * col("r2")).cast("decimal(38,0)")).as("scell"))
    pt.crossJoin(broadcast(tt))
      .selectExpr("b", "k", "scell",
        "r2j - CAST(b AS DECIMAL(38,0)) * (k + 1) AS dv")
      .groupBy("b", "k", "scell")
      .agg(sum(expr("dv * dv")).as("num"))
      .selectExpr("b", "k", "k - 1 AS df",
        "scell - CAST(b AS DECIMAL(38,0)) * k * (k + 1) * (k + 1) AS den",
        "num")
      .selectExpr("b AS n_days", "k", "df",
        """CASE WHEN den = 0 THEN NULL ELSE
          |  round((k - 1) * CAST(num AS DOUBLE) / CAST(den AS DOUBLE),
          |    6) END AS chi2_f""".stripMargin)
      .selectExpr("n_days", "k", "df", "chi2_f",
        """CASE WHEN df = 0 OR chi2_f IS NULL OR chi2_f <= 0 THEN NULL
          |  ELSE round((cbrt(chi2_f / df) - 1 + 2.0 / (9 * df))
          |    / sqrt(2.0 / (9 * df)), 6) END AS wh_z""".stripMargin)
      .selectExpr("n_days", "k", "df", "chi2_f", "wh_z",
        "CAST(wh_z > 1.645 AS BIGINT) AS significant")
  }

  /** The q_jonckheere computation over any (grp, v) frame — ordered
    * integer group, integer value — factored so JonckheereSpec can
    * plant fully separated ascending groups (JT = Σ n_g·n_h, the
    * maximum, with a closed-form z) and a reversed ordering
    * (mirrored negative z). */
  private[graft] def jonckheere(groups: DataFrame): DataFrame = {
    val cells = groups.groupBy("grp", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint() // read by the grid, the cum probe, moments
    val grid = cells.select("v").distinct()
      .crossJoin(broadcast(cells.select("grp").distinct()))
      .join(cells, Seq("grp", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wg = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cb", sum(col("c")).over(wg) - col("c"))
      .localCheckpoint() // both sides of the ordered-pair probe
    val jt = cum.select(col("grp").as("g2"), col("v").as("v2"),
        col("c").as("c2"))
      .join(cum.select(col("grp").as("g1"), col("v"), col("cb"),
        col("c").as("c1")),
        col("v") === col("v2") && col("g1") < col("g2"))
      .agg(coalesce(sum(expr("CAST(c2 AS DECIMAL(38,0)) * (2 * cb + c1)")),
        lit(0).cast("decimal(38,0)")).as("jt2"))
    val mom = cells.groupBy("grp").agg(sum(col("c")).as("ng"))
      .agg(count(lit(1)).as("k"), sum(col("ng")).as("nn"),
        sum(col("ng").cast("decimal(38,0)") * col("ng")).as("sn2"),
        sum(expr("CAST(ng AS DECIMAL(38,0)) * ng * (2 * ng + 3)"))
          .as("sn23"))
    jt.crossJoin(broadcast(mom))
      .selectExpr("k", "nn", "jt2",
        "2 * jt2 - (CAST(nn AS DECIMAL(38,0)) * nn - sn2) AS num4",
        "CAST(nn AS DECIMAL(38,0)) * nn * (2 * nn + 3) - sn23 AS v72")
      .selectExpr("k", "nn", "jt2",
        """CASE WHEN v72 <= 0 THEN NULL ELSE
          |  round(CAST(num4 AS DOUBLE)
          |    / (4 * sqrt(CAST(v72 AS DOUBLE) / 72.0)), 6)
          |  END AS jt_z""".stripMargin)
      .selectExpr("k AS n_groups", "nn AS n", "CAST(jt2 AS BIGINT) AS jt_x2",
        "jt_z", "CAST(jt_z > 1.645 AS BIGINT) AS significant")
  }

  /** The q_pr_auc tail over any byk(k, np_s, nn_s) distinct-score
    * rollup — factored so PrAucSpec can plant a perfect ranking
    * (AP = 1), a worst ranking, and an all-tied score (AP =
    * prevalence). */
  private[graft] def prAucTail(byk: DataFrame): DataFrame = {
    val b = byk.localCheckpoint() // read by the sweep AND the totals
    val wd = Window.orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ta = b
      .withColumn("tp", sum(col("np_s")).over(wd))
      .withColumn("pp", sum(col("np_s") + col("nn_s")).over(wd))
      .filter(col("np_s") > 0)
      .select(expr(
        """CAST(round(CAST(np_s AS DOUBLE) * tp / pp
          |  * 1000000000.0) AS DECIMAL(38,0))""".stripMargin).as("t9"))
      .agg(coalesce(sum(col("t9")), lit(0).cast("decimal(38,0)")).as("s9"))
    b.agg(sum(col("np_s")).as("np"), sum(col("nn_s")).as("nn"))
      .crossJoin(broadcast(ta))
      .selectExpr("np + nn AS n_users", "np AS n_pos",
        """CASE WHEN np = 0 THEN NULL ELSE
          |  round(CAST(s9 AS DOUBLE) / (1000000000.0 * np), 6)
          |  END AS ap""".stripMargin,
        """CASE WHEN np + nn = 0 THEN NULL ELSE
          |  round(CAST(np AS DOUBLE) / (np + nn), 6)
          |  END AS prevalence""".stripMargin)
  }

  /** The q_brier_decomp DuckDB oracle (the [[BrierBins]] instance; a
    * def for registry-interpolation init order). */
  private[graft] def brierSql: String = {
    val b2 = 2 * BrierBins
    s"""WITH $churnLabSqlCte, si AS (
       |  SELECT churned, CAST(round(score * 1000000, 0) AS BIGINT) AS si
       |  FROM lab
       |), bounds AS (
       |  SELECT min(si) AS smin, max(si) AS smax FROM si
       |), bn AS (
       |  SELECT CASE WHEN smax = smin THEN 0
       |      ELSE least(${BrierBins - 1},
       |        ((si - smin) * $BrierBins) // (smax - smin))
       |    END AS k,
       |    CAST(count(*) AS BIGINT) AS nk,
       |    CAST(sum(churned) AS BIGINT) AS ck
       |  FROM si CROSS JOIN bounds GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(nk) AS BIGINT) AS nn, CAST(sum(ck) AS BIGINT)
       |      AS cc,
       |    CAST(count(*) AS BIGINT) AS nb
       |  FROM bn
       |), tm AS (
       |  SELECT
       |    CAST(round(CAST(arel AS DOUBLE) * arel
       |      / (${b2 * b2}.0 * nk * nn) * 1000000000.0) AS HUGEINT)
       |      AS rel9,
       |    CAST(round(CAST(ares AS DOUBLE) * ares
       |      / (CAST(nk AS DOUBLE) * nn * nn * nn) * 1000000000.0)
       |      AS HUGEINT) AS res9
       |  FROM (
       |    SELECT nk, nn,
       |      (2 * k + 1) * nk - $b2 * ck AS arel,
       |      CAST(ck AS HUGEINT) * nn - CAST(cc AS HUGEINT) * nk AS ares
       |    FROM bn CROSS JOIN tot)
       |), ts AS (
       |  SELECT coalesce(sum(rel9), 0) AS srel9,
       |    coalesce(sum(res9), 0) AS sres9
       |  FROM tm
       |)
       |SELECT nn AS n_users, nb AS n_bins,
       |  CASE WHEN nn = 0 THEN NULL ELSE
       |    round((CAST(srel9 AS DOUBLE) - CAST(sres9 AS DOUBLE))
       |        / 1000000000.0
       |      + CAST(cc AS DOUBLE) * (nn - cc)
       |        / (CAST(nn AS DOUBLE) * nn), 6) END AS brier,
       |  round(CAST(srel9 AS DOUBLE) / 1000000000.0, 6) AS reliability,
       |  round(CAST(sres9 AS DOUBLE) / 1000000000.0, 6) AS resolution,
       |  CASE WHEN nn = 0 THEN NULL ELSE
       |    round(CAST(cc AS DOUBLE) * (nn - cc)
       |      / (CAST(nn AS DOUBLE) * nn), 6) END AS uncertainty
       |FROM tot CROSS JOIN ts""".stripMargin
  }

  /** The q_brier_decomp computation over any (churned, si) frame —
    * 0/1 outcome, ×1e6 integer score — factored so BrierSpec can
    * plant a two-rate design with hand-exact decomposition terms
    * and pin the Murphy identity against the directly computed
    * score. */
  private[graft] def brierDecomp(si: DataFrame): DataFrame = {
    val s2 = si.localCheckpoint() // read by the bounds AND the bins
    val bounds = s2.agg(min(col("si")).as("smin"), max(col("si")).as("smax"))
    val bins = s2.crossJoin(broadcast(bounds))
      .select(col("churned"), binOf(BrierBins).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("nk"), sum(col("churned")).as("ck"))
      .localCheckpoint() // read by the totals AND the term pass
    val tot = bins.agg(sum(col("nk")).as("nn"), sum(col("ck")).as("cc"),
      count(lit(1)).as("nb"))
    val b2 = 2 * BrierBins
    val tm = bins.crossJoin(broadcast(tot))
      .selectExpr("nk", "nn",
        s"(2 * k + 1) * nk - $b2 * ck AS arel",
        """CAST(ck AS DECIMAL(38,0)) * nn
          |  - CAST(cc AS DECIMAL(38,0)) * nk AS ares""".stripMargin)
      .selectExpr(
        s"""CAST(round(CAST(arel AS DOUBLE) * arel
           |  / (${b2 * b2}.0 * nk * nn) * 1000000000.0)
           |  AS DECIMAL(38,0)) AS rel9""".stripMargin,
        """CAST(round(CAST(ares AS DOUBLE) * ares
          |  / (CAST(nk AS DOUBLE) * nn * nn * nn) * 1000000000.0)
          |  AS DECIMAL(38,0)) AS res9""".stripMargin)
      .agg(coalesce(sum(col("rel9")), lit(0).cast("decimal(38,0)"))
        .as("srel9"),
        coalesce(sum(col("res9")), lit(0).cast("decimal(38,0)"))
          .as("sres9"))
    tot.crossJoin(broadcast(tm))
      .selectExpr("nn AS n_users", "nb AS n_bins", "cc", "srel9", "sres9")
      .selectExpr("n_users", "n_bins",
        """CASE WHEN n_users = 0 THEN NULL ELSE
          |  round((CAST(srel9 AS DOUBLE) - CAST(sres9 AS DOUBLE))
          |      / 1000000000.0
          |    + CAST(cc AS DOUBLE) * (n_users - cc)
          |      / (CAST(n_users AS DOUBLE) * n_users), 6)
          |  END AS brier""".stripMargin,
        "round(CAST(srel9 AS DOUBLE) / 1000000000.0, 6) AS reliability",
        "round(CAST(sres9 AS DOUBLE) / 1000000000.0, 6) AS resolution",
        """CASE WHEN n_users = 0 THEN NULL ELSE
          |  round(CAST(cc AS DOUBLE) * (n_users - cc)
          |    / (CAST(n_users AS DOUBLE) * n_users), 6)
          |  END AS uncertainty""".stripMargin)
  }

  /** The q_cronbach_alpha computation over any (user_id, event_type)
    * frame — factored so CronbachSpec can plant perfectly parallel
    * items (α = 1) and independent one-hot items (α ≤ 0). */
  private[graft] def cronbachAlpha(events: DataFrame): DataFrame = {
    val cnt = events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // read by the item AND the user marginal
    val it = cnt.groupBy("event_type")
      .agg(sum(col("x")).as("s"), sum(col("x") * col("x")).as("q"))
      .agg(count(lit(1)).as("k"),
        sum(col("q").cast("decimal(38,0)")).as("sumq"),
        sum(col("s").cast("decimal(38,0)") * col("s")).as("sums2"))
    val us = cnt.groupBy("user_id").agg(sum(col("x")).as("t"))
      .agg(count(lit(1)).as("nu"), sum(col("t")).as("st"),
        sum(col("t").cast("decimal(38,0)") * col("t")).as("qt"))
    it.crossJoin(broadcast(us))
      .selectExpr("nu", "k",
        "CAST(nu AS DECIMAL(38,0)) * sumq - sums2 AS num",
        """CAST(nu AS DECIMAL(38,0)) * qt
          |  - CAST(st AS DECIMAL(38,0)) * st AS den""".stripMargin)
      .selectExpr("nu AS n_users", "k AS n_items",
        """CASE WHEN k < 2 OR den = 0 THEN NULL ELSE
          |  round(CAST(k AS DOUBLE) / (k - 1)
          |    * (1 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)), 6)
          |  END AS alpha""".stripMargin,
        """CASE WHEN den = 0 THEN NULL ELSE
          |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
          |  END AS item_var_share""".stripMargin)
  }

  /** The q_welch_anova computation over any (event_type, c) frame —
    * integer cents — factored so WelchSpec can pin the k = 2
    * reduction to the squared Welch t on hand-exact groups, equal
    * groups at F = 0, and the zero-variance drop rule. */
  private[graft] def welchAnova(cells: DataFrame): DataFrame = {
    val gw = cells.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("q"))
      .filter(col("n") >= 2 &&
        col("n") * col("q") - col("s").cast("decimal(38,0)") * col("s") > 0)
      .selectExpr("n",
        """CAST(round(1000000000.0 * CAST(n AS DOUBLE) * n * (n - 1)
          |  / CAST(n * q - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE))
          |  AS DECIMAL(38,0)) AS w9""".stripMargin,
        "CAST(round(100.0 * s / n) AS BIGINT) AS m2")
      .localCheckpoint() // read by the totals AND the lambda pass
    val tot = gw.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("w9")).as("ww"),
      sum(col("w9") * col("m2")).as("xw1"),
      sum(col("w9") * col("m2") * col("m2")).as("xw2"))
    val lam = gw.crossJoin(broadcast(tot))
      .select(expr(
        """CAST(round(1000000000.0
          |  * (1.0 - CAST(w9 AS DOUBLE) / CAST(ww AS DOUBLE))
          |  * (1.0 - CAST(w9 AS DOUBLE) / CAST(ww AS DOUBLE))
          |  / (n - 1)) AS BIGINT)""".stripMargin).as("t9"))
      .agg(sum(col("t9")).as("l9"))
    tot.crossJoin(broadcast(lam))
      .selectExpr("k AS n_groups", "nn AS n", "k - 1 AS df1",
        """CASE WHEN k < 2 THEN NULL ELSE
          |  round((CAST(k AS DOUBLE) * k - 1)
          |    / (3.0 * CAST(l9 AS DOUBLE) / 1000000000.0), 6)
          |  END AS df2""".stripMargin,
        """CASE WHEN k < 2 THEN NULL ELSE
          |  round(((CAST(xw2 AS DOUBLE)
          |      - CAST(xw1 AS DOUBLE) * CAST(xw1 AS DOUBLE)
          |        / CAST(ww AS DOUBLE)) / 10000000000000.0 / (k - 1))
          |    / (1.0 + (2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1))
          |      * (CAST(l9 AS DOUBLE) / 1000000000.0)), 6)
          |  END AS f_welch""".stripMargin)
  }
}

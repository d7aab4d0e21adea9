package graft.operators

import graft.{Q, Tables}
import graft.functions.Portable._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational breadth: the queries a user of the reference would write
  * as map/reduce executable pairs, expressed as declarative plans so
  * Catalyst gets to optimize (pushdown, pruning, join selection, AQE).
  *
  * Scale stance per operator class:
  *  - aggregations: partial (map-side) agg + final agg, shuffle keyed by
  *    group columns; output cardinality bounded by group count.
  *  - joins: dimensions (region/nation/customer at TPC-H shape) are
  *    broadcast — no shuffle of the fact side; fact-fact joins
  *    (orders⋈lineitem) are shuffle hash/sort-merge on the join key and
  *    benefit from AQE skew handling.
  *  - windows: shuffle by partition key only; running frames are
  *    single-pass per partition.
  *  - top-k: `orderBy.limit` plans as TakeOrderedAndProject — per
  *    partition heap + driver merge of k rows, never a global sort.
  *
  * All money/quantity sums go through [[graft.functions.Portable]]
  * fixed-point so Spark and the DuckDB oracle agree bit-for-bit.
  */
object Relational {

  /** q_sql_shared: ONE SQL text executed verbatim by BOTH engines —
    * every construct here (DATE literals, one-arg round, BIGINT
    * casts, fixed-point cents) parses and means the same thing in
    * Spark SQL and DuckDB. */
  private val SharedQ3Sql: String =
    """SELECT l.l_orderkey,
      |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
      |    AS BIGINT)) / 100.0 AS DOUBLE) AS revenue,
      |  CAST(o.o_orderdate AS DATE) AS order_date
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
      |  AND CAST(l.l_shipdate AS DATE) > DATE '1997-01-01'
      |GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
      |ORDER BY revenue DESC, l.l_orderkey
      |LIMIT 10""".stripMargin

  private val revCents =
    "CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)"

  /** The rest of the byte-identical-SQL surface (the [[SharedQ3Sql]]
    * contract): ONE ANSI string per query, executed verbatim by BOTH
    * engines. Divisions go through an explicit CAST(... AS DOUBLE)
    * BEFORE the slash: a bare `sum(...)/100.0` would be decimal
    * division in Spark (100.0 parses as DECIMAL) and engine-specific
    * rounding at the result scale could diverge in the 7th digit —
    * double division is the same IEEE operation everywhere. */
  private val SharedQ1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
      |    / 100 AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |    / 100 AS sum_base_price,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
      |    AS BIGINT)) AS DOUBLE) / 10000 AS sum_disc_price,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
      |    * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_charge,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
      |    / 100 / count(*) AS avg_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |    / 100 / count(*) AS avg_price,
      |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
      |    / 100 / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private val SharedQ5Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
      |    AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
      |  count(*) AS n_items
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  private val SharedQ10Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
      |    AS BIGINT)) AS DOUBLE) / 10000 AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1997-07-01'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  private val SharedWindowSql: String =
    """WITH w AS (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rn,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
      |      PARTITION BY o_custkey
      |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cents
      |  FROM orders
      |)
      |SELECT o_custkey, o_orderkey, rn,
      |  CAST(run_cents AS DOUBLE) / 100 AS running_rev
      |FROM w
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** q_sql_range: the naive range theta join as ONE ANSI string in
    * the [[SharedQ3Sql]] byte-identical contract — every construct
    * (CTE column aliases over VALUES, half-open >=/< bounds, BIGINT
    * casts) parses and means the same thing in Spark SQL and DuckDB.
    * The RangeBinJoin rule must plan the parsed tree exactly as it
    * plans q_range_join's DataFrame twin — RangeRuleSpec pins it
    * NestedLoop-free. The 1.0-style literals parse as DECIMAL in
    * both engines; the rule's bucket arithmetic casts to double
    * either way, so the SQL face additionally exercises the
    * decimal-bound arm of the sandwich matcher. */
  private[graft] val SqlRangeText: String =
    """WITH bands(band, lo, hi) AS (VALUES
      |  ('p0', 1.0, 8.0), ('p1', 8.0, 21.0),
      |  ('p2', 21.0, 37.0), ('p3', 37.0, 51.0))
      |SELECT band, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem JOIN bands
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY band ORDER BY band""".stripMargin

  val all: Seq[Q] = Seq(
    Q(
      "q1_agg",
      "TPC-H Q1 shape: scan + pushed date filter, partial+final hash agg " +
        "on 2 low-cardinality keys; reduce side is O(groups) at any scale",
      Some(
        s"""SELECT l_returnflag, l_linestatus,
           |  ${exactSumSql("l_quantity")} AS sum_qty,
           |  ${exactSumSql("l_extendedprice")} AS sum_base_price,
           |  ${exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
           |  ${exactSumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
           |  ${exactAvgSql("l_quantity")} AS avg_qty,
           |  ${exactAvgSql("l_extendedprice")} AS avg_price,
           |  ${exactAvgSql("l_discount")} AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    ) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1999-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          exactAvg(col("l_quantity")).as("avg_qty"),
          exactAvg(col("l_extendedprice")).as("avg_price"),
          exactAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    },

    Q(
      "q_filter_project",
      "pushdown probe: predicate + 3-column projection reach the parquet " +
        "scan (PushedFilters/ReadSchema) — scan cost ∝ selected bytes, not table width",
      Some(
        """SELECT l_orderkey, l_linenumber, l_extendedprice
          |FROM lineitem
          |WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00' AND l_discount > 0.08
          |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp")
          && col("l_discount") > 0.08)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    Q(
      "q_join_broadcast",
      "star join: region+nation broadcast to every executor — the " +
        "customer fact side never shuffles for the join itself",
      Some(
        """SELECT r_name, n_name, count(*) AS n_cust,
          |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_bal
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name
          |ORDER BY r_name, n_name""".stripMargin),
    ) { (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), exactSum(col("c_acctbal")).as("sum_bal"))
        .orderBy("r_name", "n_name")
    },

    Q(
      "q_join_shuffle",
      "fact⋈fact: orders⋈lineitem shuffles both sides on the order key; " +
        "AQE coalesces post-shuffle partitions and splits skewed ones",
      Some(
        s"""SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders,
           |  CAST(sum($revCents) / 10000.0 AS DOUBLE) AS revenue
           |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |WHERE o_orderstatus = 'F'
           |GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin),
    ) { (s, dir) =>
      Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          countDistinct(col("o_orderkey")).as("n_orders"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        )
        .orderBy("o_orderpriority")
    },

    Q(
      "q_join_semi",
      "left-semi (EXISTS): ships only the join key of the probe side; " +
        "no payload duplication, no fan-out on multi-match",
      Some(
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
          |ORDER BY o_orderkey""".stripMargin),
    ) { (s, dir) =>
      Tables.orders(s, dir)
        .join(
          Tables.lineitem(s, dir).filter(col("l_quantity") >= 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    Q(
      "q_join_anti",
      "left-anti (NOT EXISTS): customers with no high-value order; anti " +
        "join instead of outer-join+null-filter keeps the plan single-pass. " +
        "Predicate chosen so the result is nonempty on the testdata (an " +
        "all-customers-match anti join would be a vacuous correctness row)",
      Some(
        """SELECT c_custkey, c_name FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_totalprice > 150000)
          |ORDER BY c_custkey""".stripMargin),
    ) { (s, dir) =>
      Tables.customer(s, dir)
        .join(
          Tables.orders(s, dir).filter(col("o_totalprice") > 150000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    Q(
      "q_join_salted",
      "skew-mitigation machinery: the fact side carries a deterministic " +
        "salt (linenumber mod 8) and the dim side is replicated 8× with " +
        "exploded salts, so one hot order key spreads over 8 reduce " +
        "sub-partitions; results are provably identical to the unsalted " +
        "join (each fact row matches exactly one replica) — the oracle " +
        "IS the unsalted join. AQE skew-split is the automatic cousin; " +
        "salting is the belt-and-suspenders for pathological keys",
      Some(
        s"""SELECT o_orderpriority, count(*) AS n_lines,
           |  CAST(sum($revCents) / 10000.0 AS DOUBLE) AS revenue
           |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin),
    ) { (s, dir) =>
      val saltN = 8
      val li = Tables.lineitem(s, dir)
        .withColumn("salt", pmod(col("l_linenumber"), lit(saltN)))
      val ord = Tables.orders(s, dir)
        .withColumn("salt", explode(sequence(lit(0), lit(saltN - 1))))
      li.join(ord,
          li("l_orderkey") === ord("o_orderkey") && li("salt") === ord("salt"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_lines"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        )
        .orderBy("o_orderpriority")
    },

    Q(
      "q_interval_join",
      "range/interval join: points (l_quantity) against a quantity-band " +
        "dimension WITHOUT an equality key. The naive plan is a " +
        "broadcast nested-loop join (every row tests every interval); " +
        "here each band is replicated per overlapped fixed-width bucket " +
        "and the point side computes its bucket, so the join is a " +
        "broadcast HASH join on bucket + residual BETWEEN — each row " +
        "probes only the bands its bucket overlaps. Band granularity " +
        "deliberately misaligned with bucket width to prove the " +
        "replication path; machinery is identical for overlapping bands",
      Some(
        s"""WITH tiers(tier, lo, hi) AS (VALUES
           |  ('t1_small', 1, 9), ('t2_mid', 10, 24),
           |  ('t3_large', 25, 39), ('t4_xl', 40, 50))
           |SELECT tier, count(*) AS n_lines,
           |  ${exactSumSql("l_quantity")} AS sum_qty
           |FROM lineitem JOIN tiers ON l_quantity BETWEEN lo AND hi
           |GROUP BY tier ORDER BY tier""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      val G = 8
      val tiers = Seq(
        ("t1_small", 1, 9), ("t2_mid", 10, 24),
        ("t3_large", 25, 39), ("t4_xl", 40, 50))
        .toDF("tier", "lo", "hi")
      // Dim side: one row per (band, overlapped bucket) — bounded by
      // bands × (band width / G), still a broadcastable dimension.
      val tierBuckets = tiers.withColumn("bucket",
        explode(sequence(floor(col("lo") / G).cast("int"), floor(col("hi") / G).cast("int"))))
      val pts = Tables.lineitem(s, dir)
        .select(col("l_quantity"), floor(col("l_quantity") / G).cast("int").as("bucket"))
      pts.join(broadcast(tierBuckets),
          pts("bucket") === tierBuckets("bucket")
            && col("l_quantity").between(col("lo"), col("hi")))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_lines"), exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy("tier")
    },

    Q(
      "q_range_join",
      "the DECLARATIVE face of the range/interval join: the user " +
        "writes the naive theta join `JOIN ON l_quantity >= lo AND " +
        "l_quantity < hi` — no equi keys, so Spark alone can only " +
        "nested-loop it — and the engine's RangeBinJoin optimizer " +
        "rule (the FOURTH declarative-scale rule beside fuzzy/" +
        "hamming/overlap blocking) plans it as a binned equi-join: " +
        "the point side computes floor(p/G), each interval explodes " +
        "over its overlapped buckets, and the original predicate " +
        "re-applies as the verify. The binning identity is exact " +
        "(floor and division by a positive constant are monotone) " +
        "and NO canonical filter is needed — a qualifying pair " +
        "meets on exactly one key because the point's bucket is " +
        "single-valued. Exercises the half-open >=/< spelling where " +
        "q_interval_join hand-binned a closed BETWEEN; NestedLoop-" +
        "free is plan-pinned here and in RangeRuleSpec (which also " +
        "pins brute-force equality, strict-bound semantics, the " +
        "equi-key re-blocking guard, and null/inverted-interval " +
        "passthrough). At 100 TB the blocked form is one bucket-" +
        "keyed shuffle (or a broadcast of the exploded dim), " +
        "AQE-skew-splittable — the interval side's fan-out is " +
        "interval-length/G dim rows, the planner-supplied version " +
        "of what q_interval_join builds by hand",
      Some(
        s"""WITH bands(band, lo, hi) AS (VALUES
           |  ('p0', 1.0, 8.0), ('p1', 8.0, 21.0),
           |  ('p2', 21.0, 37.0), ('p3', 37.0, 51.0))
           |SELECT band, count(*) AS n_lines,
           |  ${exactSumSql("l_quantity")} AS sum_qty
           |FROM lineitem JOIN bands
           |  ON l_quantity >= lo AND l_quantity < hi
           |GROUP BY band ORDER BY band""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      val bands = Seq(
        ("p0", 1.0, 8.0), ("p1", 8.0, 21.0),
        ("p2", 21.0, 37.0), ("p3", 37.0, 51.0))
        .toDF("band", "lo", "hi")
      Tables.lineitem(s, dir).select(col("l_quantity"))
        .join(bands,
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_lines"),
          exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy("band")
    },

    Q(
      "q_sql_range",
      "the SQL-TEXT face of the RangeBinJoin rule: q_range_join's " +
        "naive half-open range theta join written as ONE ANSI " +
        "string and executed through spark.sql — proving the binned " +
        "equi-join rule fires on the parsed-SQL path exactly as on " +
        "DataFrame trees (the q_sql_jaccard contract; pinned " +
        "NestedLoop-free in RangeRuleSpec's sql-text test). Every " +
        "construct is dialect-shared, so this face joins the " +
        "q_sql_q1 BYTE-IDENTICAL contract: the oracle is the same " +
        "Scala string. The band bounds parse as DECIMAL literals " +
        "here (the DataFrame twin builds double lits), exercising " +
        "the decimal-bound arm of the sandwich matcher",
      Some(Relational.SqlRangeText),
    ) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(Relational.SqlRangeText)
    },

    Q(
      "q_window_rank",
      "per-group top-1 via row_number window: single shuffle by customer, " +
        "rank computed in one pass per partition (no self-join)",
      Some(
        """SELECT o_custkey, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) WHERE rn = 1
          |ORDER BY o_custkey""".stripMargin),
    ) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    },

    Q(
      "q_window_dist",
      "distribution window functions (the rank family's other half): " +
        "per-(segment, quartile) ntile(4) boundaries, max " +
        "percent_rank and max cume_dist over order totals — computed " +
        "WITHOUT any raw-stream window: the corpus pays ONE keyed " +
        "pass to the (seg, cents) rollup, a cumulative count runs " +
        "over the bounded cents domain (the value-domain window " +
        "class, EventsOps scaladoc), and every output is exact " +
        "integer row arithmetic on quartile boundary indices " +
        "(ntile sizes are pure functions of N; the per-quartile " +
        "MIN/MAX/max-rank aggregates are tie-insensitive because " +
        "equal-cents rows are contiguous under any (cents, orderkey) " +
        "tiebreak — WindowDistSpec pins equality against the literal " +
        "window form at all three SFs). The oracle keeps the window " +
        "spelling as the independent reference. The pre-r11 form ran " +
        "ntile/percent_rank/cume_dist over the RAW order stream " +
        "partitioned by c_mktsegment (cardinality 5) — a 5-task " +
        "parallelism ceiling whose tasks sort n/5 corpus rows at any " +
        "scale; this shape's only corpus-sized shuffle is the rollup " +
        "groupBy, and all post-rollup work is cents-domain-bounded",
      Some(
        """WITH o AS (
          |  SELECT c_mktsegment AS seg,
          |    CAST(round(o_totalprice * 100) AS BIGINT) AS tc,
          |    o_orderkey AS ok
          |  FROM orders JOIN customer ON o_custkey = c_custkey
          |), w AS (
          |  SELECT seg, tc,
          |    ntile(4) OVER (PARTITION BY seg ORDER BY tc, ok) AS quartile,
          |    percent_rank() OVER (PARTITION BY seg ORDER BY tc, ok) AS pr,
          |    cume_dist() OVER (PARTITION BY seg ORDER BY tc, ok) AS cd
          |  FROM o
          |)
          |SELECT seg, CAST(quartile AS BIGINT) AS quartile,
          |  CAST(count(*) AS BIGINT) AS n,
          |  round(CAST(min(tc) AS DOUBLE) / 100, 6) AS lo_value,
          |  round(CAST(max(tc) AS DOUBLE) / 100, 6) AS hi_value,
          |  round(max(pr), 6) AS max_percent_rank,
          |  round(max(cd), 6) AS max_cume_dist
          |FROM w GROUP BY seg, quartile
          |ORDER BY seg, quartile""".stripMargin),
    ) { (s, dir) =>
      windowDistRollup(segTotals(s, dir))
    },

    Q(
      "q_window_running",
      "running total per customer: fixed-point cumulative sum is exact and " +
        "order-stable; frame = unbounded preceding → current row",
      Some(
        """SELECT o_custkey, o_orderkey,
          |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |    / 100.0 AS DOUBLE) AS running_spend
          |FROM orders
          |ORDER BY o_custkey, o_orderkey""".stripMargin),
    ) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .withColumn("running_spend",
          (sum(round(col("o_totalprice") * 100, 0).cast("long")).over(w) / 100.0)
            .cast("double"))
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    },

    Q(
      "q_window_lag",
      "lag analytic: days since the customer's previous order — one " +
        "shuffle by customer, sequential scan within partition",
      Some(
        """SELECT o_custkey, o_orderkey,
          |  date_diff('day',
          |    lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          |    o_orderdate) AS days_since_prev
          |FROM orders
          |ORDER BY o_custkey, o_orderkey""".stripMargin),
    ) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("days_since_prev",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).cast("long"))
        .select("o_custkey", "o_orderkey", "days_since_prev")
        .orderBy("o_custkey", "o_orderkey")
    },

    Q(
      "q_topk",
      "global top-k: plans as TakeOrderedAndProject (per-partition heap + " +
        "k-row driver merge), never a full sort at any scale",
      Some(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    ) { (s, dir) =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    Q(
      "q_topk_group",
      "per-group top-k via a typed Aggregator with a bounded k-element " +
        "buffer (SURVEY §7.4): partial buffers merge map-side, so the " +
        "shuffle carries at most k rows per group per partition — the " +
        "window row_number form (the oracle) shuffles every row; " +
        "deterministic total order (price desc, orderkey) in reduce, " +
        "merge, and the oracle's ORDER BY",
      Some(
        """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          |  FROM orders) WHERE rnk <= 2
          |ORDER BY o_custkey, rnk""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Aggregator
      // rows are (custkey, orderkey, totalprice)
      val ord: Ordering[(Long, Double)] =
        Ordering.by[(Long, Double), (Double, Long)] { case (k, p) => (-p, k) }
      val top2 = new Aggregator[(Long, Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {
        val k = 2
        def zero: Seq[(Long, Double)] = Seq.empty
        def reduce(b: Seq[(Long, Double)], a: (Long, Long, Double)): Seq[(Long, Double)] =
          (b :+ ((a._2, a._3))).sorted(ord).take(k)
        def merge(b1: Seq[(Long, Double)], b2: Seq[(Long, Double)]): Seq[(Long, Double)] =
          (b1 ++ b2).sorted(ord).take(k)
        def finish(b: Seq[(Long, Double)]): Seq[(Long, Double)] = b
        def bufferEncoder = implicitly[org.apache.spark.sql.Encoder[Seq[(Long, Double)]]]
        def outputEncoder = implicitly[org.apache.spark.sql.Encoder[Seq[(Long, Double)]]]
      }
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .agg(top2.toColumn.name("top"))
        .flatMap { case (cust, top) =>
          top.zipWithIndex.map { case ((ok, price), i) =>
            (cust, (i + 1).toLong, ok, price)
          }
        }
        .toDF("o_custkey", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rnk")
    },

    Q(
      "q_rollup",
      "ROLLUP over (returnflag, linestatus): grouping-set expansion stays " +
        "a single shuffle; subtotal rows carry NULL keys",
      Some(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_qty
          |FROM lineitem
          |GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    ) { (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    Q(
      "q_cube",
      "CUBE over (returnflag, linestatus): all grouping sets in one pass",
      Some(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem
          |GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    ) { (s, dir) =>
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    Q(
      "q_grouping_sets",
      "explicit GROUPING SETS — the general form cube/rollup " +
        "specialize: exactly the requested (priority,status), " +
        "(priority), and grand-total sets in ONE pass (an Expand of 3 " +
        "replicas per row, partial-agg collapsed before the shuffle — " +
        "never one scan per set), with grouping_id disambiguating " +
        "a real NULL key from a rolled-up one. Completes the " +
        "cube/rollup/grouping-sets trio; output bounded by the union " +
        "of set cardinalities",
      Some(
        """SELECT o_orderpriority, o_orderstatus,
          |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
          |  count(*) AS n,
          |  CAST(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) / 100.0
          |    AS DOUBLE) AS sum_price
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
          |  (o_orderpriority), ())
          |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin),
    ) { (s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          exactSum(col("o_totalprice")).as("sum_price"))
        .select("o_orderpriority", "o_orderstatus", "gid", "n", "sum_price")
        .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    },

    Q(
      "q_set_ops",
      "UNION/INTERSECT/EXCEPT on nation keys: set ops are hash " +
        "aggregations keyed by the full row",
      Some(
        """SELECT 'both' AS tag, nk FROM (
          |    SELECT c_nationkey AS nk FROM customer
          |    INTERSECT SELECT s_nationkey FROM supplier)
          |UNION ALL
          |SELECT 'cust_only' AS tag, nk FROM (
          |    SELECT c_nationkey AS nk FROM customer
          |    EXCEPT SELECT s_nationkey FROM supplier)
          |ORDER BY tag, nk""".stripMargin),
    ) { (s, dir) =>
      val c = Tables.customer(s, dir).select(col("c_nationkey").as("nk"))
      val sup = Tables.supplier(s, dir).select(col("s_nationkey").as("nk"))
      c.intersect(sup).withColumn("tag", lit("both"))
        .unionByName(c.except(sup).withColumn("tag", lit("cust_only")))
        .select("tag", "nk")
        .orderBy("tag", "nk")
    },

    Q(
      "q_join_outer",
      "full outer join with null-extension on both sides: customers " +
        "without orders and (synthetic) orders without customers both " +
        "survive; keyed shuffle join, null keys never explode",
      Some(
        """SELECT c_custkey, n_orders FROM (
          |  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
          |  FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
          |  GROUP BY c.c_custkey)
          |ORDER BY c_custkey NULLS FIRST""".stripMargin),
    ) { (s, dir) =>
      Tables.customer(s, dir).as("c")
        .join(Tables.orders(s, dir).as("o"),
          col("c.c_custkey") === col("o.o_custkey"), "full_outer")
        .groupBy(col("c.c_custkey").as("c_custkey"))
        .agg(count(col("o.o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey").asc_nulls_first)
    },

    Q(
      "q_scalar_funcs",
      "scalar-function breadth on the scan (date/math/string, all " +
        "codegen'd): the per-row expression surface a pipeline author " +
        "actually types; zero shuffle before the output sort",
      Some(
        """SELECT o_orderkey,
          |  CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
          |  CAST(date_part('month', o_orderdate) AS BIGINT) AS mon,
          |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_95,
          |  round(sqrt(o_totalprice), 4) AS sqrt_price,
          |  round(ln(o_totalprice), 6) AS ln_price,
          |  upper(substr(o_orderpriority, 1, 8)) AS prio,
          |  length(o_orderpriority) AS prio_len
          |FROM orders
          |WHERE o_orderdate >= DATE '1995-06-01'
          |ORDER BY o_orderkey""".stripMargin),
    ) { (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-06-01").cast("date"))
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mon"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since_95"),
          round(sqrt(col("o_totalprice")), 4).as("sqrt_price"),
          round(log(col("o_totalprice")), 6).as("ln_price"),
          upper(substring(col("o_orderpriority"), 1, 8)).as("prio"),
          length(col("o_orderpriority")).cast("long").as("prio_len"),
        )
        .orderBy("o_orderkey")
    },

    Q(
      "q_quantiles",
      "exact quantiles per group (linear interpolation — identical " +
        "definition in both engines): per-group sort of values; at " +
        "100 TB swap for the mergeable rank sketch — q_kll_quantiles " +
        "is that swap, wired and oracle-gated",
      Some(
        """SELECT l_returnflag,
          |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
          |  round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
          |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_price"),
        )
        .orderBy("l_returnflag")
    },

    Q(
      "q_kll_quantiles",
      "q_quantiles' documented 100 TB path made real: per-group " +
        "MERGEABLE RANK SKETCHES (kll_sketch_agg, k=256 — the " +
        "engine-native KLL/MRL compactor in functions/Kll.scala: " +
        "hash-seeded deterministic compaction, no RNG, exact weight " +
        "conservation, a DETERMINISTIC worst-case rank bound " +
        "numLevels/(k−1)) so the shuffle carries KB sketch state " +
        "instead of per-group value sorts. The q_approx_distinct " +
        "oracle contract: both engines emit the exact quantiles, " +
        "plus hard 0/1 flags Spark computes against its own sketch — " +
        "exact n conservation, and the CDF-BRACKET theorem at each " +
        "estimate (strict rank ≤ q+ε AND inclusive rank ≥ q−ε with " +
        "ε = kll_err_bound — duplicate-safe by construction, " +
        "KllSpec-pinned); the oracle asserts the theorems held. The " +
        "bracket-verify rescan is the GATE's cost only — at 100 TB " +
        "you run pass 1 alone: one scan, one #groups-bounded agg",
      Some(
        """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
          |  round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
          |  CAST(1 AS BIGINT) AS n_conserved,
          |  CAST(1 AS BIGINT) AS p50_bracket_ok,
          |  CAST(1 AS BIGINT) AS p95_bracket_ok
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
          .stripMargin),
    ) { (s, dir) =>
      val li = Tables.lineitem(s, dir).select("l_returnflag", "l_quantity")
      // Pass 1 — the production pass: sketch per group (the exact
      // percentiles ride along only as the oracle-matched values).
      val sk = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95_qty"),
          expr("kll_sketch_agg(l_quantity, 256)").as("sk"))
        .select(col("l_returnflag"), col("n_rows"), col("p50_qty"),
          col("p95_qty"),
          expr("kll_quantile(sk, 0.5D)").as("e50"),
          expr("kll_quantile(sk, 0.95D)").as("e95"),
          expr("kll_err_bound(sk)").as("eps"),
          expr("kll_n(sk)").as("kn"))
      // Pass 2 — the gate's bracket verify: true strict/inclusive
      // ranks of each sketch estimate against the raw data.
      li.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(max(col("n_rows")).as("n_rows"),
          max(col("p50_qty")).as("p50_qty"),
          max(col("p95_qty")).as("p95_qty"),
          max(col("eps")).as("eps"),
          max(col("kn")).as("kn"),
          sum(when(col("l_quantity") < col("e50"), 1L).otherwise(0L))
            .as("lt50"),
          sum(when(col("l_quantity") <= col("e50"), 1L).otherwise(0L))
            .as("le50"),
          sum(when(col("l_quantity") < col("e95"), 1L).otherwise(0L))
            .as("lt95"),
          sum(when(col("l_quantity") <= col("e95"), 1L).otherwise(0L))
            .as("le95"))
        .select(col("l_returnflag"), col("n_rows"), col("p50_qty"),
          col("p95_qty"),
          (col("kn") === col("n_rows")).cast("long").as("n_conserved"),
          (col("lt50").cast("double") / col("n_rows") <= lit(0.5) + col("eps")
            && col("le50").cast("double") / col("n_rows")
              >= lit(0.5) - col("eps")).cast("long").as("p50_bracket_ok"),
          (col("lt95").cast("double") / col("n_rows") <= lit(0.95) + col("eps")
            && col("le95").cast("double") / col("n_rows")
              >= lit(0.95) - col("eps")).cast("long").as("p95_bracket_ok"))
        .orderBy("l_returnflag")
    },

    Q(
      "q_kll_weighted",
      "the WEIGHTED-INSERT face of q_kll_quantiles — the state-table " +
        "deployment made direct: a (value, count) rollup feeds " +
        "kll_sketch_agg(v, 256, w) WITHOUT re-exploding to rows " +
        "(binary-decomposed O(log w) inserts, exact weight " +
        "conservation, the same deterministic certificate — " +
        "functions/Kll.scala). Exact quantiles ride along via " +
        "percentile's frequency argument over the same rollup; the " +
        "CDF-bracket flags verify the sketch against the rollup's own " +
        "weights, so the whole row is two scans of a #distinct-values-" +
        "bounded table. At 100 TB the rollup IS the q_agg_incremental " +
        "state table: sketches refresh from per-slice (value, count) " +
        "partials, never from raw rows",
      Some(
        """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
          |  round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
          |  CAST(1 AS BIGINT) AS n_conserved,
          |  CAST(1 AS BIGINT) AS p50_bracket_ok,
          |  CAST(1 AS BIGINT) AS p95_bracket_ok
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
          .stripMargin),
    ) { (s, dir) =>
      // The (value, count) state table — the only thing the sketch
      // pass ever reads.
      val rollup = Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("w"))
      val sk = rollup.groupBy("l_returnflag")
        .agg(sum(col("w")).as("n_rows"),
          round(expr("percentile(l_quantity, 0.5, w)"), 6).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.95, w)"), 6).as("p95_qty"),
          expr("kll_sketch_agg(l_quantity, 256, w)").as("sk"))
        .select(col("l_returnflag"), col("n_rows"), col("p50_qty"),
          col("p95_qty"),
          expr("kll_quantile(sk, 0.5D)").as("e50"),
          expr("kll_quantile(sk, 0.95D)").as("e95"),
          expr("kll_err_bound(sk)").as("eps"),
          expr("kll_n(sk)").as("kn"))
      // Bracket verify against the rollup's weights (gate cost only).
      rollup.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(max(col("n_rows")).as("n_rows"),
          max(col("p50_qty")).as("p50_qty"),
          max(col("p95_qty")).as("p95_qty"),
          max(col("eps")).as("eps"),
          max(col("kn")).as("kn"),
          sum(when(col("l_quantity") < col("e50"), col("w")).otherwise(0L))
            .as("lt50"),
          sum(when(col("l_quantity") <= col("e50"), col("w")).otherwise(0L))
            .as("le50"),
          sum(when(col("l_quantity") < col("e95"), col("w")).otherwise(0L))
            .as("lt95"),
          sum(when(col("l_quantity") <= col("e95"), col("w")).otherwise(0L))
            .as("le95"))
        .select(col("l_returnflag"), col("n_rows"), col("p50_qty"),
          col("p95_qty"),
          (col("kn") === col("n_rows")).cast("long").as("n_conserved"),
          (col("lt50").cast("double") / col("n_rows") <= lit(0.5) + col("eps")
            && col("le50").cast("double") / col("n_rows")
              >= lit(0.5) - col("eps")).cast("long").as("p50_bracket_ok"),
          (col("lt95").cast("double") / col("n_rows") <= lit(0.95) + col("eps")
            && col("le95").cast("double") / col("n_rows")
              >= lit(0.95) - col("eps")).cast("long").as("p95_bracket_ok"))
        .orderBy("l_returnflag")
    },

    Q(
      "q_approx_distinct",
      "the 100 TB distinct path: approx_count_distinct (HLL++, " +
        "rsd=0.01) is mergeable map-side so the shuffle carries " +
        "sketches, not keys. DuckDB's HLL differs, so the sketch " +
        "value itself can't be oracle-matched; instead both engines " +
        "emit the exact count plus a deterministic bound check " +
        "|approx−exact|/exact ≤ 0.05 as BIGINT 0/1 — Spark computes " +
        "the check against its own sketch (HLL is deterministic for " +
        "fixed input), the oracle asserts it holds. The exact twin " +
        "lives here only to make the sketch driver-checkable; at " +
        "100 TB you run only the sketch column",
      Some(
        """SELECT l_returnflag,
          |  count(DISTINCT l_partkey) AS n_parts,
          |  count(DISTINCT l_suppkey) AS n_supps,
          |  CAST(1 AS BIGINT) AS parts_within_5pct,
          |  CAST(1 AS BIGINT) AS supps_within_5pct
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ) { (s, dir) =>
      val within = (approx: Column, exact: Column) =>
        when(abs(approx - exact).cast("double") / exact <= 0.05, 1L)
          .otherwise(0L)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
          approx_count_distinct(col("l_suppkey"), 0.01).as("asu"),
        )
        .select(col("l_returnflag"), col("n_parts"), col("n_supps"),
          within(col("ap"), col("n_parts")).as("parts_within_5pct"),
          within(col("asu"), col("n_supps")).as("supps_within_5pct"))
        .orderBy("l_returnflag")
    },

    Q(
      "q_distinct_agg",
      "multi-distinct aggregation: Catalyst expands to grouped distinct " +
        "aggregates; at scale prefer approx_count_distinct (HLL sketch)",
      Some(
        """SELECT l_returnflag,
          |  count(DISTINCT l_partkey) AS n_parts,
          |  count(DISTINCT l_suppkey) AS n_supps,
          |  count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"),
        )
        .orderBy("l_returnflag")
    },

    Q(
      "q_star_multiway",
      "4-table star: orders⋈customer is the one true shuffle (both " +
        "fact-sized at scale, keyed on custkey); nation and region stay " +
        "broadcast so the join cascade adds zero extra fact shuffles — " +
        "Catalyst is free to reorder the dimension joins",
      Some(
        """SELECT r_name, o_orderpriority, count(*) AS n_orders,
          |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_price
          |FROM orders
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, o_orderpriority
          |ORDER BY r_name, o_orderpriority""".stripMargin),
    ) { (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy("r_name", "o_orderpriority")
    },

    Q(
      "q_local_volume",
      "TPC-H Q5 shape — the 6-table join with a CROSS-PATH equality " +
        "(c_nationkey = s_nationkey: the customer and the supplier " +
        "of each line item must share a nation), the one classic " +
        "join graph that is NOT a star: lineitem⋈orders and " +
        "orders⋈customer are the two true fact shuffles, supplier/" +
        "nation/region ride broadcast, and the cross-path constraint " +
        "lands as a post-join filter Catalyst folds into the " +
        "supplier broadcast join condition — no extra shuffle. The " +
        "date window pushes to the orders scan, the region filter " +
        "prunes the broadcast chain before it ships. Revenue is the " +
        "q1_agg fixed-point discipline (×10⁴ exact units). At " +
        "100 TB: two fact shuffles keyed on orderkey/custkey — the " +
        "minimum the join graph admits — and a #nations-row output",
      Some(
        s"""SELECT n_name,
           |  ${exactSumSql("l_extendedprice * (1 - l_discount)", 4)}
           |    AS revenue,
           |  count(*) AS n_items
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |  AND c_nationkey = s_nationkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
           |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
           |GROUP BY n_name
           |ORDER BY revenue DESC, n_name""".stripMargin),
    ) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate").cast("date") >= lit("1996-01-01")
            && col("o_orderdate").cast("date") < lit("1998-01-01")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    Q(
      "q_returned_revenue",
      "TPC-H Q10 shape — the returned-item report: which customers " +
        "returned the most revenue last half-year? lineitem filters " +
        "to returns (pushed to the scan), joins orders (date-" +
        "windowed, also pushed) then customer — two fact shuffles — " +
        "nation rides broadcast, and the per-customer rollup feeds " +
        "TakeOrderedAndProject: a per-partition top-20 heap + driver " +
        "merge of 20 rows, never a global sort (the q_topk plan " +
        "shape on a join tree). Revenue exact ×10⁴ fixed point, " +
        "ties broken on custkey for a deterministic hash. At " +
        "100 TB: the returns+date filters cut both fact sides " +
        "BEFORE their shuffles — selectivity does the scale work, " +
        "the top-k never materializes the full customer rollup " +
        "anywhere",
      Some(
        s"""SELECT c_custkey, c_name, n_name,
           |  ${exactSumSql("l_extendedprice * (1 - l_discount)", 4)}
           |    AS revenue
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |JOIN nation ON c_nationkey = n_nationkey
           |WHERE l_returnflag = 'R'
           |  AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
           |  AND CAST(o_orderdate AS DATE) < DATE '1997-07-01'
           |GROUP BY c_custkey, c_name, n_name
           |ORDER BY revenue DESC, c_custkey
           |LIMIT 20""".stripMargin),
    ) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate").cast("date") >= lit("1997-01-01")
            && col("o_orderdate").cast("date") < lit("1997-07-01")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    Q(
      "q_correlated",
      "correlated scalar subquery (per-customer order count ≥ 3): " +
        "Catalyst decorrelates it into an aggregate + join instead of " +
        "a per-row probe — the per-row subquery a naive engine would " +
        "run 100 B times becomes one keyed agg + one join",
      Some(
        """SELECT c_mktsegment, count(*) AS n_cust
          |FROM customer c
          |WHERE (SELECT count(*) FROM orders o
          |       WHERE o.o_custkey = c.c_custkey) >= 3
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    ) { (s, dir) =>
      // Through spark.sql on purpose: the demonstration is Catalyst's
      // subquery decorrelation, which only the SQL path exercises.
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_mktsegment, count(*) AS n_cust
          |FROM customer c
          |WHERE (SELECT count(*) FROM orders o
          |       WHERE o.o_custkey = c.c_custkey) >= 3
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },

    Q(
      "q_unpivot",
      "wide→long melt via Spark's native unpivot: the Expand operator " +
        "replicates each row once per measure column MAP-SIDE — no " +
        "shuffle, no join, one scan regardless of measure count; the " +
        "per-measure stats agg after it is bounded by #measures. The " +
        "inverse of q_pivot; fixed-point sums keep the double " +
        "accumulation order-independent across engines",
      Some(
        s"""WITH m AS (
           |  SELECT 'l_quantity' AS measure, l_quantity AS v FROM lineitem
           |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
           |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
           |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
           |)
           |SELECT measure, count(*) AS n, min(v) AS min_v, max(v) AS max_v,
           |  ${exactSumSql("v", 4)} AS sum_v
           |FROM m GROUP BY measure ORDER BY measure""".stripMargin),
    ) { (s, dir) =>
      val measures = Array("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      Tables.lineitem(s, dir)
        .unpivot(Array.empty[org.apache.spark.sql.Column], measures.map(col), "measure", "v")
        .groupBy("measure")
        .agg(count(lit(1)).as("n"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"),
          exactSum(col("v"), 4).as("sum_v"))
        .orderBy("measure")
    },

    Q(
      "q_join_bloom",
      "explicit bloom semi-join reduction (the machinery behind " +
        "Catalyst's InjectRuntimeFilter, applied deliberately): a " +
        "mergeable bloom_agg builds a ~1 MB sketch of the filtered " +
        "orders keys distributed, the scalar subquery ships it to " +
        "every lineitem task as a literal, and bloom_might_contain " +
        "discards ~80% of the fact side BEFORE the join shuffle — at " +
        "100 TB the bloom probe saves shuffling the non-matching " +
        "fact bytes entirely; the exact join above it removes the " +
        "bloom's false positives, so the result is oracle-identical " +
        "to the plain join",
      Some(
        s"""SELECT o_orderpriority, count(*) AS n_items,
           |  ${exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE o_totalprice > 400000
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    ) { (s, dir) =>
      Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
        .createOrReplaceTempView("bloom_orders")
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .createOrReplaceTempView("bloom_lineitem")
      s.sql(
        s"""WITH cand AS (
           |  SELECT l_orderkey, l_extendedprice, l_discount
           |  FROM bloom_lineitem
           |  WHERE bloom_might_contain(
           |    (SELECT bloom_agg(xxhash64(o_orderkey)) FROM bloom_orders),
           |    xxhash64(l_orderkey))
           |)
           |SELECT o_orderpriority, count(*) AS n_items,
           |  ${exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
           |FROM cand JOIN bloom_orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },

    Q(
      "q_bucket_join",
      "co-located fact⋈fact: both sides written bucketed+sorted by the " +
        "join key, so the join plans with ZERO exchange below it — at " +
        "100 TB this is THE recurring-join answer: the keyed layout is " +
        "paid once at ingest, every subsequent join on that key reads " +
        "buckets straight into a sort-merge join, and only the " +
        "#priorities-bounded agg shuffles. The SHUFFLE_MERGE hint " +
        "keeps the demonstration honest at test SF where the planner " +
        "would rather broadcast the small side",
      Some(
        s"""SELECT o_orderpriority, count(*) AS n_items,
           |  ${exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
           |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    ) { (s, dir) =>
      // Fixed table names + overwrite: repeated invocations in one
      // session reuse the same two catalog entries and warehouse paths
      // instead of accumulating a pair per run.
      val ot = "b_orders_q"
      val lt = "b_lineitem_q"
      Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      s.table(ot).hint("SHUFFLE_MERGE")
        .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
        .orderBy("o_orderpriority")
    },

    Q(
      "q_data_audit",
      "expectations-style data-quality audit — the validation stage a " +
        "pipeline runs before trusting a new batch: referential " +
        "integrity (lineitem→orders orphans via a key-only LEFT ANTI " +
        "join — the probe ships join keys, never payloads), primary-" +
        "key duplicates (keyed agg, HAVING>1), null and range " +
        "violations (column-pruned scans). Each check is one " +
        "scan-bounded agg; violation COUNTS (not rows) come back, so " +
        "output is #checks rows at any scale",
      Some(
        """SELECT 'lineitem_orphans' AS chk, (
          |  SELECT count(*) FROM lineitem l
          |  WHERE NOT EXISTS (SELECT 1 FROM orders o
          |                    WHERE o.o_orderkey = l.l_orderkey)) AS n_bad
          |UNION ALL
          |SELECT 'orders_dup_pk', (
          |  SELECT count(*) FROM (
          |    SELECT o_orderkey FROM orders
          |    GROUP BY o_orderkey HAVING count(*) > 1))
          |UNION ALL
          |SELECT 'orders_null_custkey', (
          |  SELECT count(*) FROM orders WHERE o_custkey IS NULL)
          |UNION ALL
          |SELECT 'lineitem_bad_discount', (
          |  SELECT count(*) FROM lineitem
          |  WHERE l_discount < 0 OR l_discount > 1)
          |ORDER BY chk""".stripMargin),
    ) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      def check(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_bad")).select(lit(name).as("chk"), col("n_bad"))
      check("lineitem_orphans",
        li.select("l_orderkey")
          .join(o.select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_anti"))
        .unionByName(check("orders_dup_pk",
          o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
            .filter(col("c") > 1)))
        .unionByName(check("orders_null_custkey",
          o.filter(col("o_custkey").isNull)))
        .unionByName(check("lineitem_bad_discount",
          li.filter(col("l_discount") < 0 || col("l_discount") > 1)))
        .orderBy("chk")
    },

    Q(
      "q_skew_diagnose",
      "join-key skew profiler — the diagnostic you run BEFORE choosing " +
        "a salting factor (q_join_salted) or AQE skew thresholds: " +
        "per-key counts (one keyed agg), the hottest 5 keys via " +
        "TakeOrderedAndProject (never a global sort), and each hot " +
        "key's skew multiple vs the mean ships with a broadcast 1-row " +
        "total — at 100 TB this costs one scan plus a key-bounded agg, " +
        "and its output decides whether the big join needs salt at all",
      Some(
        """WITH c AS (
          |  SELECT l_orderkey AS k, count(*) AS cnt FROM lineitem GROUP BY k
          |), s AS (
          |  SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows FROM c
          |), t AS (
          |  SELECT k, cnt, row_number() OVER (ORDER BY cnt DESC, k) AS rn FROM c
          |)
          |SELECT rn, k, cnt, n_keys, n_rows,
          |  round(CAST(cnt AS DOUBLE) * n_keys / n_rows, 6) AS skew_x
          |FROM t, s WHERE rn <= 5 ORDER BY rn""".stripMargin),
    ) { (s, dir) =>
      val c = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cnt"))
      val stats = c.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
      c.orderBy(col("cnt").desc, col("k")).limit(5)
        .crossJoin(broadcast(stats))
        .withColumn("rn",
          row_number().over(Window.orderBy(col("cnt").desc, col("k"))).cast("long"))
        .select(col("rn"), col("k"), col("cnt"), col("n_keys"), col("n_rows"),
          round(col("cnt").cast("double") * col("n_keys") / col("n_rows"), 6)
            .as("skew_x"))
        .orderBy("rn")
    },

    Q(
      "q_quantile_sketch",
      "sketch-based quantiles: a 1024-bin equi-width histogram of " +
        "o_totalprice (bin counts merge by addition — partial-agg " +
        "friendly, one number per bin crosses the wire) interpolated " +
        "at p50/p95/p99. Unlike t-digest/GK this sketch is exactly " +
        "deterministic, so the oracle reproduces it bit-for-bit; " +
        "error is bounded by bin width. The exact per-group sort " +
        "(q_quantiles) is the small-data twin; at 100 TB the " +
        "histogram is THE quantile plan — one scan, 1024-row state, " +
        "mergeable across partitions and days",
      Some(
        """WITH r AS (
          |  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
          |), b AS (
          |  SELECT least(1023, CAST(floor((o_totalprice - mn) * 1024 / (mx - mn))
          |    AS BIGINT)) AS bin, mn, mx
          |  FROM orders, r
          |), h AS (
          |  SELECT bin, min(mn) AS mn, min(mx) AS mx, count(*) AS n
          |  FROM b GROUP BY bin
          |), c AS (
          |  SELECT bin, mn, mx, n,
          |    sum(n) OVER (ORDER BY bin
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    sum(n) OVER () AS ntot
          |  FROM h
          |), q AS (
          |  SELECT p, bin, mn, mx, n, cum, ntot,
          |    row_number() OVER (PARTITION BY p ORDER BY bin) AS rn
          |  FROM c, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.95 AS DOUBLE)),
          |    (CAST(0.99 AS DOUBLE))) v(p)
          |  WHERE cum >= p * ntot
          |)
          |SELECT p, round(mn + (bin + (p * ntot - (cum - n)) / n)
          |  * ((mx - mn) / 1024.0), 6) AS est
          |FROM q WHERE rn = 1 ORDER BY p""".stripMargin),
    ) { (s, dir) =>
      val o = Tables.orders(s, dir).select(col("o_totalprice").as("x"))
      val rng = o.agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val hist = o.crossJoin(broadcast(rng))
        .withColumn("bin", least(lit(1023),
          floor((col("x") - col("mn")) * 1024 / (col("mx") - col("mn"))))
          .cast("long"))
        .groupBy("bin")
        .agg(min(col("mn")).as("mn"), min(col("mx")).as("mx"),
          count(lit(1)).as("n"))
      val wCum = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum(col("n")).over(wCum))
        .withColumn("ntot", sum(col("n")).over(Window.partitionBy()))
        .withColumn("p", explode(array(lit(0.5), lit(0.95), lit(0.99))))
        .filter(col("cum") >= col("p") * col("ntot"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("p").orderBy("bin")))
        .filter(col("rn") === 1)
        .select(col("p"),
          round(col("mn") + (col("bin") + (col("p") * col("ntot")
            - (col("cum") - col("n"))) / col("n"))
            * ((col("mx") - col("mn")) / 1024.0), 6).as("est"))
        .orderBy("p")
    },

    Q(
      "q_zorder_layout",
      "multi-dimensional clustering for data skipping: each order maps " +
        "to a Morton (z-order) value interleaving the bits of its " +
        "range-normalized (custkey, orderday) pair; rows grouped by " +
        "z-bucket are simultaneously range-bounded in BOTH dimensions " +
        "— the per-bucket min/max spans this emits are exactly the " +
        "parquet footer stats that would prune file reads for " +
        "EITHER-dimension predicates after a z-ordered rewrite. At " +
        "100 TB the z-value is the sort key of a one-off layout " +
        "rewrite; all arithmetic is integer (bit ops + integer div), " +
        "so both engines agree exactly",
      Some {
        val zbits = (0 until 8).map(i =>
          s"(((x8 >> $i) & 1) << ${2 * i}) + (((y8 >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH o AS (
           |  SELECT o_custkey,
           |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dday
           |  FROM orders
           |), rng AS (
           |  SELECT min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
           |         min(dday) AS min_d, max(dday) AS max_d FROM o
           |), zt AS (
           |  SELECT o_custkey, dday,
           |    ((o_custkey - min_ck) * 256) // (max_ck - min_ck + 1) AS x8,
           |    ((dday - min_d) * 256) // (max_d - min_d + 1) AS y8
           |  FROM o, rng
           |), zv AS (
           |  SELECT o_custkey, dday, ($zbits) // 1024 AS zbucket FROM zt
           |)
           |SELECT zbucket, count(*) AS n_orders,
           |  min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
           |  min(dday) AS d_lo, max(dday) AS d_hi
           |FROM zv GROUP BY zbucket ORDER BY zbucket""".stripMargin
      },
    ) { (s, dir) =>
      // Same bit-interleave loop as the oracle string above — the two
      // spellings differ only in shift syntax, generated from one range.
      val zbits = (0 until 8).map(i =>
        s"shiftleft(shiftright(x8, $i) & 1, ${2 * i}) + " +
          s"shiftleft(shiftright(y8, $i) & 1, ${2 * i + 1})")
        .mkString(" + ")
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long").as("dday"))
      val rng = o.agg(min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"),
        min(col("dday")).as("min_d"), max(col("dday")).as("max_d"))
      o.crossJoin(broadcast(rng))
        .withColumn("x8", expr("(o_custkey - min_ck) * 256 div (max_ck - min_ck + 1)"))
        .withColumn("y8", expr("(dday - min_d) * 256 div (max_d - min_d + 1)"))
        .withColumn("zbucket", expr(s"($zbits) div 1024"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_custkey")).as("ck_lo"), max(col("o_custkey")).as("ck_hi"),
          min(col("dday")).as("d_lo"), max(col("dday")).as("d_hi"))
        .orderBy("zbucket")
    },

    Q(
      "q_window_range",
      "RANGE-frame window: per-user trailing-1h event count ordered by " +
        "epoch-millis — a value-bounded frame (RANGE), not a row-count " +
        "frame; one user-keyed shuffle, single pass per partition with " +
        "a sliding frame boundary",
      Some(
        """SELECT event_id, user_id, n_1h FROM (
          |  SELECT event_id, user_id,
          |    count(*) OVER (PARTITION BY user_id
          |      ORDER BY epoch_ms(CAST(ts AS TIMESTAMP))
          |      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS n_1h
          |  FROM events)
          |ORDER BY event_id""".stripMargin),
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("tms")
        .rangeBetween(-3600000L, 0L)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("unix_millis(ts)").as("tms"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .select("event_id", "user_id", "n_1h")
        .orderBy("event_id")
    },

    Q(
      "q_snapshot_diff",
      "CDC between two table snapshots (the change feed a downstream " +
        "consumer applies): deterministic old/new views carved from " +
        "orders (old = keys %10≠0; new = keys %7≠0 with %3=0 prices " +
        "bumped 10%), FULL OUTER joined on the primary key and " +
        "classified added / removed / changed / unchanged per key — " +
        "output is the 4-row change summary. At 100 TB both snapshots " +
        "shuffle once co-partitioned on the PK (or zero times if both " +
        "are bucketed on it, the q_bucket_join layout); the classify " +
        "is per-row null/equality tests and the rollup is 4-row-" +
        "bounded. The 1.1 price factor is the same double literal in " +
        "both engines, so 'changed' equality tests cannot drift",
      Some(
        """WITH old AS (
          |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
          |), new AS (
          |  SELECT o_orderkey,
          |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
          |         ELSE o_totalprice END AS o_totalprice
          |  FROM orders WHERE o_orderkey % 7 <> 0
          |), diff AS (
          |  SELECT CASE
          |    WHEN o.o_orderkey IS NULL THEN 'added'
          |    WHEN n.o_orderkey IS NULL THEN 'removed'
          |    WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
          |    ELSE 'unchanged' END AS change_type
          |  FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
          |)
          |SELECT change_type, count(*) AS n FROM diff
          |GROUP BY change_type ORDER BY change_type""".stripMargin),
    ) { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val old = orders.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
        .select(col("o_orderkey").as("k_old"), col("o_totalprice").as("p_old"))
      val nw = orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .select(col("o_orderkey").as("k_new"),
          when(pmod(col("o_orderkey"), lit(3)) === 0,
            col("o_totalprice") * lit(1.1))
            .otherwise(col("o_totalprice")).as("p_new"))
      old.join(nw, col("k_new") === col("k_old"), "full_outer")
        .select(
          when(col("k_old").isNull, "added")
            .when(col("k_new").isNull, "removed")
            .when(col("p_old") =!= col("p_new"), "changed")
            .otherwise("unchanged").as("change_type"))
        .groupBy("change_type").agg(count(lit(1)).as("n"))
        .orderBy("change_type")
    },

    Q(
      "q_table_stats",
      "ANALYZE-style column statistics (rows, nulls, NDV, min/max per " +
        "column) — the optimizer-stats / data-catalog operator every " +
        "engine exposes: one narrow distinct-free scan computes " +
        "rows/nulls/min/max for all five columns, and NDV comes from " +
        "one (column, value) stack-explode + two-stage distinct agg — " +
        "a value-keyed shuffle of 5n NARROW rows with map-side " +
        "partial distinct (packing five countDistincts into the first " +
        "agg planned a 5-replica Expand of every full row: benched " +
        "~10× slower; at 100 TB swap the explode for " +
        "approx_count_distinct riding the narrow pass). The 1-row " +
        "stats result is checkpointed and unpivoted — the unpivot " +
        "reads ONE materialized row, never the table. min/max " +
        "surface as strings for a uniform schema; column types are " +
        "chosen so both engines print identically (ints, strings, " +
        "dates — doubles format engine-specifically and belong in a " +
        "typed stats table)",
      Some {
        val cols = Seq(
          ("l_orderkey", "CAST(min(l_orderkey) AS VARCHAR)",
            "CAST(max(l_orderkey) AS VARCHAR)", "l_orderkey"),
          ("l_partkey", "CAST(min(l_partkey) AS VARCHAR)",
            "CAST(max(l_partkey) AS VARCHAR)", "l_partkey"),
          ("l_linenumber", "CAST(min(l_linenumber) AS VARCHAR)",
            "CAST(max(l_linenumber) AS VARCHAR)", "l_linenumber"),
          ("l_returnflag", "min(l_returnflag)", "max(l_returnflag)",
            "l_returnflag"),
          ("l_shipdate", "CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR)",
            "CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR)", "l_shipdate"))
        val aggs = cols.zipWithIndex.map { case ((_, mn, mx, c), i) =>
          s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS nulls$i,
             |    CAST(count(DISTINCT $c) AS BIGINT) AS ndv$i,
             |    $mn AS min$i, $mx AS max$i""".stripMargin
        }.mkString(",\n    ")
        val branches = cols.zipWithIndex.map { case ((name, _, _, _), i) =>
          s"""SELECT '$name' AS column_name, n AS n_rows,
             |  nulls$i AS n_nulls, ndv$i AS n_distinct,
             |  min$i AS min_value, max$i AS max_value FROM a""".stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH a AS (
           |  SELECT count(*) AS n,
           |    $aggs
           |  FROM lineitem
           |)
           |$branches
           |ORDER BY column_name""".stripMargin
      },
    ) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      def statsOf(c: Column, asDate: Boolean): Seq[Column] = {
        val v = if (asDate) to_date(c) else c
        Seq(sum(when(c.isNull, 1L).otherwise(0L)),
          min(v).cast("string"), max(v).cast("string"))
      }
      val names = Seq("l_orderkey", "l_partkey", "l_linenumber",
        "l_returnflag", "l_shipdate")
      // Pass 1 — narrow, distinct-free stats in ONE scan; the 1-row
      // result materializes once and the unpivot reads it, not the
      // table. (Packing the five countDistincts into this agg planned
      // a 5-replica Expand of every row — benched 9.5 s vs ~1 s for
      // this split at sf0.1.)
      val aggCols = count(lit(1)).as("n") +: names.zipWithIndex.flatMap {
        case (c, i) =>
          statsOf(col(c), asDate = c == "l_shipdate").zip(
            Seq(s"nulls$i", s"min$i", s"max$i"))
            .map { case (e, alias) => e.as(alias) }
      }
      val a = li.agg(aggCols.head, aggCols.tail: _*).localCheckpoint()
      // Pass 2 — NDV for all columns via one (column, value) explode +
      // two-stage distinct agg: a value-keyed shuffle of 5n narrow
      // rows with map-side partial distinct, no full-row replication.
      val stackArgs = names.map { c =>
        val v = if (c == "l_shipdate") s"CAST(CAST($c AS DATE) AS STRING)"
        else s"CAST($c AS STRING)"
        s"'$c', $v"
      }.mkString(", ")
      val ndv = li
        .selectExpr(s"stack(${names.length}, $stackArgs) AS (column_name, v)")
        .filter(col("v").isNotNull)
        .distinct()
        .groupBy("column_name").agg(count(lit(1)).as("n_distinct"))
      names.zipWithIndex.map { case (name, i) =>
        a.select(lit(name).as("column_name"), col("n").as("n_rows"),
          col(s"nulls$i").as("n_nulls"),
          col(s"min$i").as("min_value"), col(s"max$i").as("max_value"))
      }.reduce(_ unionByName _)
        .join(ndv, "column_name")
        .select("column_name", "n_rows", "n_nulls", "n_distinct",
          "min_value", "max_value")
        .orderBy("column_name")
    },

    Q(
      "q_skyline",
      "2-D skyline (Pareto front) over parts on (retailprice, size), " +
        "both minimized: a part survives iff no other part is <= on " +
        "both dimensions and < on at least one. The naive formulation " +
        "is a NOT EXISTS self-join — a quadratic nested loop no " +
        "engine can hash-partition (that IS the oracle) — but a 2-D " +
        "skyline factors through sorting: collapse the corpus to " +
        "min-size-per-distinct-price (one keyed agg, bounded by the " +
        "price domain), take the running strict-prefix minimum over " +
        "the price-sorted series, and a part is dominated iff the " +
        "strictly-cheaper prefix reaches its size (<=) or its own " +
        "price group holds a smaller size (<). The bounded per-price " +
        "table broadcasts back, so the corpus is scanned twice and " +
        "shuffled once (the price agg); no comparison is ever " +
        "pairwise. Pure comparisons end to end — no arithmetic, so " +
        "nothing can drift between engines. At 100 TB the only " +
        "global-order state is the distinct-price series, the " +
        "dimension-domain-bounded rollup every sort-based skyline " +
        "rests on",
      Some(
        """SELECT p.p_partkey, p.p_retailprice AS price,
          |  CAST(p.p_size AS BIGINT) AS size
          |FROM part p
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM part q
          |  WHERE q.p_retailprice <= p.p_retailprice
          |    AND q.p_size <= p.p_size
          |    AND (q.p_retailprice < p.p_retailprice
          |         OR q.p_size < p.p_size))
          |ORDER BY p.p_partkey""".stripMargin),
    ) { (s, dir) =>
      skylineOf(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_retailprice").as("price"),
          col("p_size").cast("long").as("size")))
        .orderBy("p_partkey")
    },

    Q(
      "q_mv_join_incremental",
      "incremental maintenance of a JOIN-aggregate materialized view " +
        "(revenue per o_orderpriority over orders ⋈ lineitem): the " +
        "engine builds the view from a BASE batch (l_orderkey % 10 " +
        "≠ 0, checkpointed — the persisted MV), joins ONLY the delta " +
        "batch against orders for ΔV, and merges state by key — " +
        "q_agg_incremental's fold generalized across a join, the " +
        "algebra behind every streaming MV / Delta-style incremental " +
        "pipeline (insert-only delta: no retraction rows needed). At " +
        "100 TB the delta join costs Δ + matching order partitions " +
        "(zero-exchange with the q_bucket_join bucketed layout), " +
        "never a history rescan; state is (priorities)-bounded with " +
        "additive components only (counts + exact cent sums — " +
        "averages don't merge, so none are stored). The oracle is " +
        "the FULL recompute over all of lineitem, proving " +
        "delta-merge ≡ rescan",
      Some(
        s"""SELECT o.o_orderpriority,
           |  count(*) AS n_items,
           |  ${exactSumSql("l.l_extendedprice * (1 - l.l_discount)")}
           |    AS revenue
           |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin),
    ) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long").as("cents"))
      val orders = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
      def viewOf(items: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        items.join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      // The persisted MV: built once from the base batch. In a
      // deployed pipeline this is a table on disk; the checkpoint
      // models that the merge MUST NOT re-derive it from raw history.
      val baseView = viewOf(li.filter(col("l_orderkey") % 10 =!= 0))
        .localCheckpoint()
      // ΔV from the delta batch alone — the only join at refresh time.
      val deltaView = viewOf(li.filter(col("l_orderkey") % 10 === 0))
      baseView.unionByName(deltaView)
        .groupBy("o_orderpriority")
        .agg(sum(col("n")).as("n_items"),
          (sum(col("cents")) / 100.0).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },

    Q(
      "q_file_skipping",
      "manifest-based file skipping (the Iceberg/Delta data-skipping " +
        "mechanism, built explicitly): lineitem is rewritten " +
        "range-partitioned on l_shipdate into 8 files, a MANIFEST of " +
        "per-file [min, max] shipdate spans is derived (exactly what " +
        "table-format metadata stores), and a half-year range query " +
        "consults the manifest FIRST — only overlapping files are " +
        "opened; the residual filter still applies inside survivors. " +
        "The driver-side file list is O(#files) — manifest-sized, the " +
        "same class as every table format's planning step — and the " +
        "oracle aggregates the ORIGINAL table under the same " +
        "predicate, proving pruning lost nothing. At 100 TB this is " +
        "the difference between opening ~8% and 100% of a petabyte " +
        "of files; the layout rewrite is the one-off ingest cost " +
        "(the q_zorder_layout single-dimension special case)",
      Some(
        s"""SELECT l_returnflag, count(*) AS n_items,
           |  ${exactSumSql("l_extendedprice * (1 - l_discount)")} AS revenue
           |FROM lineitem
           |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
           |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1996-07-01'
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ) { (s, dir) =>
      val out = Scratch.dir()
      Tables.lineitem(s, dir)
        .select(col("l_shipdate").cast("timestamp").as("l_shipdate"),
          col("l_extendedprice"), col("l_discount"), col("l_returnflag"))
        .repartitionByRange(8, col("l_shipdate"))
        .write.parquet(out)
      val manifest = s.read.parquet(out)
        .groupBy(input_file_name().as("file"))
        .agg(min(col("l_shipdate")).as("lo"), max(col("l_shipdate")).as("hi"))
      val d1 = lit("1996-01-01").cast("timestamp")
      val d2 = lit("1996-07-01").cast("timestamp")
      // Manifest planning: O(#files) rows to the driver — the same
      // bounded metadata read every table format's planner performs.
      val files = manifest
        .filter(col("hi") >= d1 && col("lo") < d2)
        .select("file").collect().map(_.getString(0))
      s.read.parquet(files.toIndexedSeq: _*)
        .filter(col("l_shipdate") >= d1 && col("l_shipdate") < d2)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy("l_returnflag")
    },

    Q(
      "q_equidepth_hist",
      "equi-depth histogram over l_extendedprice (8 buckets): exact " +
        "interpolated septile boundaries as ONE 1-row agg broadcast " +
        "back, each row assigned bucket = Σ(v > qᵢ) — a pure per-row " +
        "comparison sum, no global sort, no ntile window — then " +
        "per-bucket count/min/max. The optimizer-statistics histogram " +
        "q_table_stats doesn't carry (equi-depth bounds selectivity " +
        "error by 1/B where equi-width can be arbitrarily wrong under " +
        "skew). At 100 TB swap the exact percentile for the mergeable " +
        "rank sketch — q_equidepth_kll IS that swap, wired and " +
        "oracle-gated; boundary comparisons are exact doubles from " +
        "identical interpolation in both engines",
      Some {
        val qs = (1 to 7).map(i =>
          s"quantile_cont(l_extendedprice, ${i / 8.0}) AS q$i").mkString(", ")
        val cmp = (1 to 7).map(i =>
          s"CAST(l_extendedprice > q$i AS BIGINT)").mkString(" + ")
        s"""WITH b AS (SELECT $qs FROM lineitem),
           |scored AS (
           |  SELECT ($cmp) AS bucket, l_extendedprice
           |  FROM lineitem CROSS JOIN b
           |)
           |SELECT bucket, count(*) AS n_rows,
           |  round(min(l_extendedprice), 6) AS lo,
           |  round(max(l_extendedprice), 6) AS hi
           |FROM scored GROUP BY bucket ORDER BY bucket""".stripMargin
      },
    ) { (s, dir) =>
      val li = Tables.lineitem(s, dir).select("l_extendedprice")
      val b = li.agg(
        expr(s"percentile(l_extendedprice, array(${(1 to 7).map(_ / 8.0).mkString(", ")}))")
          .as("qs"))
      val bucket = (1 to 7)
        .map(i => (col("l_extendedprice") > element_at(col("qs"), i)).cast("long"))
        .reduce(_ + _)
      li.crossJoin(broadcast(b))
        .select(bucket.as("bucket"), col("l_extendedprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("l_extendedprice")), 6).as("lo"),
          round(max(col("l_extendedprice")), 6).as("hi"))
        .orderBy("bucket")
    },

    Q(
      "q_equidepth_kll",
      "q_equidepth_hist's documented 100 TB path made real: the 7 " +
        "octile BOUNDARIES come from ONE mergeable rank sketch " +
        "(kll_sketch_agg, k=1024) instead of an exact interpolated " +
        "percentile over a per-group sort — one corpus scan into KB " +
        "state, boundaries read off the 1-row sketch. Boundary " +
        "VALUES aren't oracle-expressible (they depend on sketch " +
        "content), so the gate contract is the theorem itself: for " +
        "each boundary index i, the true CDF brackets i/8 within " +
        "ε = kll_err_bound (strict rank ≤ i/8+ε, inclusive rank " +
        "≥ i/8−ε) — hard 0/1 flags from a verify rescan (gate cost " +
        "only), the oracle asserts all 7 hold. Equi-depth from a " +
        "rank sketch is exactly how engine optimizers build " +
        "histogram statistics at scale",
      Some(
        """SELECT CAST(i AS BIGINT) AS i,
          |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
          |  CAST(1 AS BIGINT) AS bracket_ok
          |FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) t(i) ORDER BY i"""
          .stripMargin),
    ) { (s, dir) =>
      val li = Tables.lineitem(s, dir).select("l_extendedprice")
      // Pass 1 — the production pass: one scan, one 1-row sketch agg;
      // all 7 boundaries read off the same sketch.
      val bounds = li
        .agg(expr("kll_sketch_agg(l_extendedprice, 1024)").as("sk"),
          count(lit(1)).as("n_rows"))
        .select(col("n_rows"), expr("kll_err_bound(sk)").as("eps"),
          explode(expr(
            """transform(sequence(1, 7),
              |  i -> struct(i, kll_quantile(sk, CAST(i AS DOUBLE) / 8)
              |    AS b))""".stripMargin)).as("x"))
        .select(col("x.i").cast("long").as("i"), col("x.b").as("b"),
          col("n_rows"), col("eps"))
      // Pass 2 — the gate's bracket verify (7× fan-out of the scan).
      li.crossJoin(broadcast(bounds))
        .groupBy("i")
        .agg(max(col("n_rows")).as("n_rows"), max(col("eps")).as("eps"),
          sum(when(col("l_extendedprice") < col("b"), 1L).otherwise(0L))
            .as("lt"),
          sum(when(col("l_extendedprice") <= col("b"), 1L).otherwise(0L))
            .as("le"))
        .select(col("i"), col("n_rows"),
          (col("lt").cast("double") / col("n_rows")
            <= col("i").cast("double") / 8 + col("eps")
            && col("le").cast("double") / col("n_rows")
              >= col("i").cast("double") / 8 - col("eps"))
            .cast("long").as("bracket_ok"))
        .orderBy("i")
    },

    Q(
      "q_sql_shared",
      "the textual SQL entry point: TPC-H Q3 (shipping priority) as " +
        "ONE ANSI string that is byte-identical between the engine " +
        "(spark.sql over temp views) and the DuckDB oracle — the " +
        "strongest possible portability statement: not twin " +
        "spellings kept in sync, the SAME text. Catalyst plans it " +
        "exactly like the DataFrame twins (customer dim broadcast, " +
        "orders⋈lineitem keyed join, TakeOrdered top-10); revenue " +
        "accumulates in exact fixed-point cents so the ranking is " +
        "drift-free, ties by orderkey. A user of the reference who " +
        "speaks only SQL onboards with CREATE TEMP VIEW + this",
      Some(SharedQ3Sql),
    ) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(SharedQ3Sql)
    },

    Q(
      "q_sql_q1",
      "TPC-H Q1 through the byte-identical-SQL contract (the " +
        "q_sql_shared onboarding surface, broadened per shape): the " +
        "SAME ANSI string runs verbatim in both engines. Catalyst " +
        "plans it exactly like the q1_agg DataFrame twin — pushed " +
        "date filter, partial+final hash agg on 2 low-cardinality " +
        "keys, whole-stage codegen (PlanBudgetSpec pins the single " +
        "exchange). Sums ride the exact-cents discipline; every " +
        "division casts to DOUBLE first so both engines perform the " +
        "same IEEE operation (a bare /100.0 would be decimal math in " +
        "Spark with engine-specific result-scale rounding)",
      Some(SharedQ1Sql),
    ) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(SharedQ1Sql)
    },

    Q(
      "q_sql_q5",
      "TPC-H Q5 (local supplier volume) through the byte-identical-" +
        "SQL contract: the 6-table join graph with the cross-path " +
        "c_nationkey = s_nationkey equality, one ANSI string, both " +
        "engines verbatim. Catalyst recovers the q_local_volume plan " +
        "from the text alone: two fact shuffles (orderkey, custkey), " +
        "supplier/nation/region broadcast, date window pushed to the " +
        "orders scan — PlanBudgetSpec pins ≥3 broadcasts and ≤2 " +
        "fact joins, same budget as the DataFrame twin",
      Some(SharedQ5Sql),
    ) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      Tables.region(s, dir).createOrReplaceTempView("region")
      s.sql(SharedQ5Sql)
    },

    Q(
      "q_sql_q10",
      "TPC-H Q10 (returned-item report) through the byte-identical-" +
        "SQL contract: one ANSI string, both engines verbatim. " +
        "Catalyst recovers the q_returned_revenue plan from the " +
        "text: returns + date filters pushed below the two fact " +
        "shuffles, nation broadcast, and the ORDER BY + LIMIT 20 " +
        "planned as TakeOrderedAndProject (per-partition heaps + a " +
        "20-row driver merge, never a global sort) — PlanBudgetSpec " +
        "pins both, same budget as the DataFrame twin",
      Some(SharedQ10Sql),
    ) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      s.sql(SharedQ10Sql)
    },

    Q(
      "q_sql_window",
      "the WINDOWED face of the byte-identical-SQL contract: each " +
        "customer's first three orders with a running revenue total — " +
        "row_number and a cumulative frame sum over ONE window spec " +
        "(PARTITION BY custkey ORDER BY date, orderkey — orderkey " +
        "breaks date ties, so the frame is total-ordered and both " +
        "engines accumulate identical prefixes), one ANSI string, " +
        "both engines verbatim. The running total accumulates exact " +
        "cents (BIGINT) inside the frame and casts to DOUBLE only at " +
        "output, so no float-order drift is possible. Catalyst plans " +
        "both functions over a single custkey-keyed exchange — " +
        "PlanBudgetSpec pins exactly one hash exchange",
      Some(SharedWindowSql),
    ) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(SharedWindowSql)
    },

    Q(
      "q_csv_corrupt",
      "PERMISSIVE CSV ingestion with corrupt-record capture: ~1% of " +
        "the written lines (doc_id ≡ 0 mod 97) are deliberately " +
        "malformed; the reader parses with an explicit schema plus " +
        "the _corrupt_record column, so bad lines surface as data " +
        "(null fields + the raw line) instead of failing the job or " +
        "silently vanishing — the ingestion-robustness contract every " +
        "crawl pipeline needs, and the difference between PERMISSIVE " +
        "and FAILFAST at 100 TB is one bad line killing a day's run. " +
        "Row counts per lang + a '_corrupt' bucket; the oracle " +
        "recomputes both from the source-of-truth table, proving " +
        "capture is lossless (valid + corrupt = all). Schema-on-read " +
        "with no inference pass (the q_csv_source discipline)",
      Some(
        """SELECT lang, count(*) AS n FROM (
          |  SELECT CASE WHEN doc_id % 97 = 0 THEN '_corrupt' ELSE lang END
          |    AS lang
          |  FROM documents)
          |GROUP BY lang ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      val out = Scratch.dir()
      Tables.documents(s, dir)
        .select(when(col("doc_id") % 97 === 0, lit("corrupt###line"))
          .otherwise(concat_ws(",",
            col("doc_id"), col("n_chars"), col("lang"))).as("value"))
        .write.text(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, n_chars LONG, lang STRING, _corrupt_record STRING")
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        // Project ALL parsed fields first: column pruning would
        // otherwise drop doc_id from the parse, and without the
        // failing cast the malformed line never trips the corrupt
        // record (lang alone parses as null, silently "valid").
        .select(col("doc_id"), col("n_chars"), col("lang"),
          col("_corrupt_record"))
        .select(when(col("_corrupt_record").isNotNull
          || col("doc_id").isNull, lit("_corrupt"))
          .otherwise(col("lang")).as("lang"))
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    },

    Q(
      "q_schema_evolution",
      "SCHEMA-EVOLUTION read over mixed-generation files " +
        "(mergeSchema): generation 1 wrote (doc_id, text); a later " +
        "deploy added (lang, n_chars); ONE mergeSchema read unifies " +
        "both generations, surfacing the old files' missing columns " +
        "as nulls — the additive-column evolution every long-lived " +
        "table lives through (the read-side half of what table " +
        "formats call schema evolution; renames/drops need a " +
        "format's column-id mapping — documented out of scope). The " +
        "schema union is FOOTER metadata only — per file, no data " +
        "scan — and the rollup is one pass over the unified frame " +
        "with null-coverage counters per evolved column: the audit a " +
        "migration runs to learn how much history predates the new " +
        "columns (here 400 of 500 docs at test SF). Oracle mirrors " +
        "the generation split on doc_id",
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(sum(CASE WHEN doc_id < 400 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_lang_null,
          |  CAST(sum(CASE WHEN doc_id >= 400 THEN n_chars ELSE 0 END) AS BIGINT)
          |    AS sum_chars_gen2,
          |  CAST(count(DISTINCT CASE WHEN doc_id >= 400 THEN lang END) AS BIGINT)
          |    AS n_langs_gen2
          |FROM documents""".stripMargin),
    ) { (s, dir) =>
      val out = Scratch.dir()
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") < 400).select("doc_id", "text")
        .write.parquet(s"$out/gen1")
      docs.filter(col("doc_id") >= 400)
        .select("doc_id", "text", "lang", "n_chars")
        .write.parquet(s"$out/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$out/gen1", s"$out/gen2")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_lang_null"),
          sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars_gen2"),
          countDistinct(col("lang")).as("n_langs_gen2"))
    },

    Q(
      "q_schema_rename",
      "RENAME/DROP schema evolution via a COLUMN-ID manifest — the " +
        "half q_schema_evolution documents as out of scope for " +
        "name-based reads, implemented the way table formats " +
        "actually do it (Iceberg's field-id mapping distilled): " +
        "each generation dir carries a tiny `_manifest.csv` of " +
        "(field_id, physical_name) rows; generation 2 RENAMES lang " +
        "to language (same id 3), DROPS n_chars (id 4), and ADDS " +
        "source (id 5). The read maps each generation's physical " +
        "columns through its manifest to the LATEST names by id — " +
        "so gen1's `lang` lands in `language` (n_language_null = 0, " +
        "the id-mapping proof), dropped ids vanish, and added ids " +
        "surface as nulls for old files (n_source_null = gen1 " +
        "rows). The contrast column comes from the NAME-BASED " +
        "mergeSchema read of the same files, where the rename is " +
        "indistinguishable from drop+add and every gen1 row has a " +
        "null `language` (name_read_language_nulls) — parquet " +
        "footer names alone cannot express a rename, which is the " +
        "whole reason formats carry ids. Manifests are O(columns) " +
        "metadata read driver-side (the table-format planner's job, " +
        "the q_bloom_skipping manifest precedent); the mapping " +
        "itself is pure plan work (renames + unionByName), zero " +
        "extra passes. Oracle recomputes every counter from the " +
        "source-of-truth table over the doc_id parity split",
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(0 AS BIGINT) AS n_language_null,
          |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_source_null,
          |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS name_read_language_nulls,
          |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
          |FROM documents""".stripMargin),
    ) { (s, dir) =>
      import java.nio.file.{Files, Paths}
      val out = Scratch.dir()
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "lang", "n_chars")
        .write.parquet(s"$out/gen1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("lang").as("language"),
          col("source"))
        .write.parquet(s"$out/gen2")
      def writeManifest(gen: String, m: Seq[(Int, String)]): Unit =
        Files.writeString(Paths.get(s"$out/$gen/_manifest.csv"),
          m.map { case (i, n) => s"$i,$n" }.mkString("\n"))
      writeManifest("gen1",
        Seq(1 -> "doc_id", 2 -> "text", 3 -> "lang", 4 -> "n_chars"))
      writeManifest("gen2",
        Seq(1 -> "doc_id", 2 -> "text", 3 -> "language", 5 -> "source"))
      def readManifest(gen: String): Seq[(Int, String)] = {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(Paths.get(s"$out/$gen/_manifest.csv")).asScala
          .toSeq.map { l =>
            val Array(i, n) = l.split(","); (i.toInt, n)
          }
      }
      // Latest logical schema = the newest generation's manifest.
      val latest = readManifest("gen2").toMap
      def idMapped(gen: String): org.apache.spark.sql.DataFrame = {
        val byName = readManifest(gen).map(_.swap).toMap
        val df = s.read.parquet(s"$out/$gen")
        df.select(df.columns.toIndexedSeq
          .filter(c => latest.contains(byName(c)))
          .map(c => col(c).as(latest(byName(c)))): _*)
      }
      val unified = idMapped("gen1")
        .unionByName(idMapped("gen2"), allowMissingColumns = true)
      val mapped = unified.agg(count(lit(1)).as("n_rows"),
        sum(when(col("language").isNull, 1L).otherwise(0L))
          .as("n_language_null"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_source_null"),
        countDistinct(col("language")).as("n_langs"))
      // The name-based read of the SAME files: rename reads as
      // drop+add, so gen1 rows have a null `language`.
      val naive = s.read.option("mergeSchema", "true")
        .parquet(s"$out/gen1", s"$out/gen2")
        .agg(sum(when(col("language").isNull, 1L).otherwise(0L))
          .as("name_read_language_nulls"))
      mapped.crossJoin(naive)
        .select(col("n_rows"), col("n_language_null"), col("n_source_null"),
          col("name_read_language_nulls"), col("n_langs"))
    },

    Q(
      "q_gdpr_delete",
      "RIGHT-TO-BE-FORGOTTEN deletion without a table rewrite — the " +
        "write-side complement to q_bloom_skipping's read-side " +
        "pruning, and the deletion-vector/partial-compaction pattern " +
        "every table format ships for GDPR: the events table is laid " +
        "out user-range-partitioned (8 files), ONE user's erasure " +
        "request arrives (max user_id — a query parameter at 100 " +
        "TB), and the per-file bloom MANIFEST (bloom_agg of " +
        "xxhash64(user_id) per file — mergeable sketch metadata, the " +
        "q_bloom_skipping machinery) identifies which files can " +
        "contain the user. ONLY those files are rewritten with the " +
        "tombstone anti-filter; every other file is carried " +
        "byte-untouched — no-false-negatives guarantees no surviving " +
        "row of the user, and the skipped_files flag pins that " +
        "skipping actually happened (1 affected file of 8 under the " +
        "user-range layout; a ts-partitioned layout would smear the " +
        "user over every file, which is WHY erasure-heavy tables " +
        "cluster by subject id). Driver work is O(files) manifest " +
        "rows + one key lookup — the table-format planner's job. " +
        "Oracle recomputes every counter and the exact fixed-point " +
        "value sum of the survivors from the source-of-truth table",
      Some(
        s"""WITH t AS (SELECT max(user_id) AS del FROM events)
           |SELECT CAST(count(*) AS BIGINT) AS n_rows_before,
           |  CAST(sum(CASE WHEN user_id = del THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_rows_deleted,
           |  CAST(sum(CASE WHEN user_id <> del THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_rows_after,
           |  CAST(sum(CASE WHEN user_id <> del
           |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) / 100.0
           |    AS DOUBLE) AS sum_value_after,
           |  CAST(1 AS BIGINT) AS skipped_files
           |FROM events CROSS JOIN t""".stripMargin),
    ) { (s, dir) =>
      val out = Scratch.dir()
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"))
      ev.repartitionByRange(8, col("user_id")).write.parquet(s"$out/t")
      val staged = s.read.parquet(s"$out/t")
      val nBefore = staged.count()
      val del = staged.agg(max(col("user_id"))).collect()(0).getLong(0)
      val delHash = s.sql(s"SELECT xxhash64(CAST($del AS BIGINT))")
        .collect()(0).getLong(0)
      // Manifest: one mergeable bloom per file (O(files) sketch rows).
      val manifest = staged
        .groupBy(input_file_name().as("file"))
        .agg(expr("bloom_agg(xxhash64(user_id))").as("bf"))
        .collect()
      val (affected, untouched) = manifest.partition { r =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(
            r.getAs[Array[Byte]]("bf")))
          .mightContainLong(delHash)
      }
      // Partial compaction: the affected files rewritten with the
      // anti-filter, everything else carried untouched.
      s.read.parquet(affected.map(_.getString(0)).toIndexedSeq: _*)
        .filter(col("user_id") =!= del)
        .write.parquet(s"$out/rewritten")
      val after = s.read.parquet(
        (untouched.map(_.getString(0)) :+ s"$out/rewritten")
          .toIndexedSeq: _*)
      after
        .agg(count(lit(1)).as("n_rows_after"),
          (sum(round(col("value") * 100, 0).cast("long")) / 100.0)
            .cast("double").as("sum_value_after"))
        .select(lit(nBefore).as("n_rows_before"),
          (lit(nBefore) - col("n_rows_after")).as("n_rows_deleted"),
          col("n_rows_after"), col("sum_value_after"),
          lit(if (affected.length < manifest.length) 1L else 0L)
            .as("skipped_files"))
    },

    Q(
      "q_bloom_skipping",
      "BLOOM-manifest file skipping — the point-lookup complement to " +
        "q_file_skipping's min/max spans: the layout is " +
        "range-partitioned on l_shipdate, so a single-orderkey probe " +
        "defeats min/max pruning (every file's orderkey span covers " +
        "the key) but not per-file BLOOMS — exactly why table formats " +
        "and parquet attach bloom filters to high-cardinality point-" +
        "lookup columns. The manifest is one bloom_agg per file " +
        "(distributed, mergeable — the q_join_bloom machinery as " +
        "METADATA); planning probes #files sketches driver-side — " +
        "manifest-sized work, the table-format planner's job — and " +
        "no-false-negatives guarantees the matching file always " +
        "survives. At 100 TB two refinements keep planning bounded: " +
        "blooms are sized to each FILE's rows (~180 KB at 100k rows, " +
        "not this demo's fixed 1M-item default), and the probe runs " +
        "distributed over the manifest table with only surviving " +
        "FILE NAMES collected (O(matches), not O(files) sketches). " +
        "The residual filter still applies inside survivors; the " +
        "oracle recomputes from the original table, proving pruning " +
        "lost nothing",
      Some(
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  ${exactSumSql("l_extendedprice * (1 - l_discount)")} AS revenue
           |FROM lineitem
           |WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)""".stripMargin),
    ) { (s, dir) =>
      val out = Scratch.dir()
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
          col("l_shipdate").cast("timestamp").as("l_shipdate"))
      li.repartitionByRange(8, col("l_shipdate")).write.parquet(out)
      // The probe key (a query parameter at 100 TB) and its xxhash —
      // hashed by the ENGINE so manifest build and probe can't drift.
      val key = li.agg(max(col("l_orderkey"))).collect()(0).getLong(0)
      val keyHash = s.sql(s"SELECT xxhash64(CAST($key AS BIGINT))")
        .collect()(0).getLong(0)
      // Manifest: one mergeable bloom per file — O(#files) rows of
      // sketch metadata, the planning-side read every table format does.
      val manifest = s.read.parquet(out)
        .groupBy(input_file_name().as("file"))
        .agg(expr("bloom_agg(xxhash64(l_orderkey))").as("bf"))
        .collect()
      val surviving = manifest.filter { r =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bf")))
          .mightContainLong(keyHash)
      }.map(_.getString(0))
      s.read.parquet(surviving.toIndexedSeq: _*)
        .filter(col("l_orderkey") === key)
        .agg(count(lit(1)).as("n_rows"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
    },

    Q(
      "q_join_dpp",
      "dynamic partition pruning: the fact table is laid out " +
        "hive-partitioned on l_returnflag, the join dim carries a " +
        "flag-group attribute the fact doesn't have, and a query " +
        "filtering on that DIM attribute must prune FACT partitions " +
        "at runtime — the star-schema mechanism (Spark's DPP) where " +
        "the dim filter's surviving keys become a runtime IN-subquery " +
        "partition filter on the fact scan, so partitions for " +
        "non-qualifying flags are never opened even though the " +
        "pruning keys are unknowable at plan time. Plan-pinned: the " +
        "fact scan carries dynamicpruningexpression. At 100 TB this " +
        "is the date-dim/month-filter pattern — DPP turns a full " +
        "fact scan into reading only qualifying partitions; both " +
        "layout writes are the one-off ingest cost",
      Some(
        s"""WITH dim AS (
           |  SELECT * FROM (VALUES ('A', 'closed'), ('R', 'closed'),
           |    ('N', 'open')) AS t(flag, grp)
           |)
           |SELECT l.l_returnflag, count(*) AS n_items,
           |  ${exactSumSql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
           |FROM lineitem l JOIN dim ON dim.flag = l.l_returnflag
           |WHERE dim.grp = 'closed'
           |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      val factDir = Scratch.dir()
      Tables.lineitem(s, dir)
        .select(col("l_extendedprice"), col("l_discount"), col("l_returnflag"))
        .write.partitionBy("l_returnflag").parquet(factDir)
      // The dim must be a file source: DPP plans the runtime subquery
      // against scans, not in-memory LocalRelations.
      val dimDir = Scratch.dir()
      Seq(("A", "closed"), ("R", "closed"), ("N", "open"))
        .toDF("flag", "grp").write.parquet(dimDir)
      val fact = s.read.parquet(factDir)
      val dim = s.read.parquet(dimDir)
      fact.join(dim, fact("l_returnflag") === dim("flag"))
        .filter(col("grp") === "closed")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy("l_returnflag")
    },

    Q(
      "q_record_linkage",
      "FELLEGI-SUNTER probabilistic record-linkage scoring (Fellegi & " +
        "Sunter 1969, the entity-resolution decision theory under " +
        "every real linker): within-nation candidate pairs (blocking " +
        "caps the fan-out — the q_fuzzy_join lesson applied to " +
        "people-records), per-field agreement pattern gamma over " +
        "(market segment, $500 balance band, cents digits), and the " +
        "log-likelihood weight w = sum_f ln(m_f/u_f) on agree / " +
        "ln((1-m_f)/(1-u_f)) on disagree. The principled part: u " +
        "(chance agreement) is ESTIMATED FROM THE DATA as an exact " +
        "rational — u_f = sum_blocks sum_v C(n,2) / total within-" +
        "block pairs — so weights derive from corpus statistics, not " +
        "guesses (m fixed at 0.95, the EM-free textbook variant; " +
        "conditional independence is the model's stated assumption). " +
        "Readout = the 8-row PATTERN table (counts, weight, " +
        "match/possible/non_match at tau 4/0) — the FS decision " +
        "surface itself, bounded output however big the corpus. " +
        "Exactness: pattern counts and both u numerators/denominators " +
        "are BIGINT; each weight is a sum of three ln's on exact-" +
        "integer-ratio operands, mirrored text, 6dp. At 100 TB: " +
        "block-keyed self-join bounded by max block size, two keyed " +
        "aggs for u, 8 rows out",
      Some(
        """WITH b AS (
          |  SELECT c_custkey AS id, c_nationkey AS blk, c_mktsegment AS seg,
          |    CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 50000.0)
          |      AS BIGINT) AS band,
          |    CAST(round(c_acctbal * 100) AS BIGINT) % 100 AS c2
          |  FROM customer
          |), tot AS (
          |  SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) AS tp FROM (
          |    SELECT CAST(count(*) AS BIGINT) AS n FROM b GROUP BY blk)
          |), aseg AS (
          |  SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) AS agr FROM (
          |    SELECT CAST(count(*) AS BIGINT) AS n FROM b GROUP BY blk, seg)
          |), aband AS (
          |  SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) AS agr FROM (
          |    SELECT CAST(count(*) AS BIGINT) AS n FROM b GROUP BY blk, band)
          |), ac2 AS (
          |  SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) AS agr FROM (
          |    SELECT CAST(count(*) AS BIGINT) AS n FROM b GROUP BY blk, c2)
          |), pat AS (
          |  SELECT
          |    CASE WHEN l.seg = r.seg THEN 1 ELSE 0 END AS g_seg,
          |    CASE WHEN l.band = r.band THEN 1 ELSE 0 END AS g_band,
          |    CASE WHEN l.c2 = r.c2 THEN 1 ELSE 0 END AS g_c2,
          |    CAST(count(*) AS BIGINT) AS n_pairs
          |  FROM b l JOIN b r ON l.blk = r.blk AND l.id < r.id
          |  GROUP BY 1, 2, 3
          |), wgt AS (
          |  SELECT g_seg, g_band, g_c2, n_pairs,
          |    round(
          |      (CASE WHEN g_seg = 1
          |        THEN ln(0.95 * tp / aseg.agr)
          |        ELSE ln(0.05 * tp / (tp - aseg.agr)) END)
          |      + (CASE WHEN g_band = 1
          |        THEN ln(0.95 * tp / aband.agr)
          |        ELSE ln(0.05 * tp / (tp - aband.agr)) END)
          |      + (CASE WHEN g_c2 = 1
          |        THEN ln(0.95 * tp / ac2.agr)
          |        ELSE ln(0.05 * tp / (tp - ac2.agr)) END), 6) AS weight
          |  FROM pat CROSS JOIN tot CROSS JOIN aseg
          |  CROSS JOIN aband CROSS JOIN ac2
          |)
          |SELECT CAST(g_seg AS BIGINT) AS g_seg,
          |  CAST(g_band AS BIGINT) AS g_band, CAST(g_c2 AS BIGINT) AS g_c2,
          |  n_pairs, weight,
          |  CASE WHEN weight >= 4 THEN 'match'
          |    WHEN weight >= 0 THEN 'possible' ELSE 'non_match'
          |  END AS decision
          |FROM wgt ORDER BY g_seg, g_band, g_c2""".stripMargin),
    ) { (s, dir) =>
      recordLinkage(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("c_acctbal")))
    },

    Q(
      "q_snm_linkage",
      "SORTED-NEIGHBORHOOD linkage scoring (Hernández & Stolfo 1995, " +
        "the other classic ER blocking beside q_record_linkage's " +
        "equality blocks): every customer+supplier name is paired " +
        "with its 3 successors in name order WITHIN a sort-key " +
        "prefix block, each candidate scored by `jaro_winkler` — a " +
        "graft codegen'd Catalyst expression (Spark ships " +
        "levenshtein but no Jaro family; Winkler's prefix boost is " +
        "THE short-name comparator) pinned BIT-FOR-BIT to DuckDB's " +
        "jaro_winkler_similarity on 20k random pairs, so the band " +
        "floor(jw·20) is exact cross-engine, not rounded-lucky. " +
        "Readout = the similarity-band histogram with an exact-grid " +
        "mean (per-pair jw quantized to 1e-6 BIGINT, summed exactly " +
        "— no float-sum order dependence). The window is partitioned " +
        "by the 15-char prefix block: candidates = O(n·W) with W = 3, " +
        "never all-pairs, and the block bound keeps every window " +
        "partition-sized (adjacent-block boundary pairs are the " +
        "documented SNM seam — production runs a second pass with a " +
        "shifted key). At 100 TB: one range-partitioned sort, " +
        "per-block lead windows, 21-row output",
      Some(
        """WITH names AS (
          |  SELECT c_name AS name FROM customer
          |  UNION ALL SELECT s_name FROM supplier
          |), nb AS (
          |  SELECT name,
          |    lead(name, 1) OVER (PARTITION BY substr(name, 1, 15)
          |      ORDER BY name) AS n1,
          |    lead(name, 2) OVER (PARTITION BY substr(name, 1, 15)
          |      ORDER BY name) AS n2,
          |    lead(name, 3) OVER (PARTITION BY substr(name, 1, 15)
          |      ORDER BY name) AS n3
          |  FROM names
          |), pairs AS (
          |  SELECT name, n1 AS neighbor FROM nb WHERE n1 IS NOT NULL
          |  UNION ALL
          |  SELECT name, n2 FROM nb WHERE n2 IS NOT NULL
          |  UNION ALL
          |  SELECT name, n3 FROM nb WHERE n3 IS NOT NULL
          |), scored AS (
          |  SELECT jaro_winkler_similarity(name, neighbor) AS jw
          |  FROM pairs
          |), q AS (
          |  SELECT CAST(floor(jw * 20) AS BIGINT) AS band,
          |    CAST(round(jw * 1000000) AS BIGINT) AS jw6
          |  FROM scored
          |)
          |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
          |  round(CAST(sum(jw6) AS DOUBLE) / 1000000 / count(*), 6)
          |    AS avg_jw
          |FROM q GROUP BY band ORDER BY band""".stripMargin),
    ) { (s, dir) =>
      snmLinkage(
        Tables.customer(s, dir).select(col("c_name").as("name"))
          .unionAll(
            Tables.supplier(s, dir).select(col("s_name").as("name"))))
    },

    Q(
      "q_simpsons_flip",
      "SIMPSON'S PARADOX detector: the account-balance → order-total " +
        "regression slope per nation vs pooled — the classic " +
        "aggregation trap (every segment can trend one way while the " +
        "pool trends the other, because segment means confound the " +
        "relationship) surfaced as a per-segment sign-flip flag. The " +
        "decisive comparison is EXACT: an OLS slope's sign is the " +
        "sign of n·Σxy − Σx·Σy, an exact DECIMAL(38,0)/HUGEINT " +
        "integer, so sign_flip = sign(num_seg)·sign(num_pool) < 0 " +
        "never touches a float; the slopes themselves ship as ONE " +
        "mirrored division each, 6dp (NULL on zero-variance " +
        "segments). At 100 TB: one keyed corpus pass to per-nation " +
        "power sums + the same sums rolled up for the pool, " +
        "#nations rows out",
      Some(
        """WITH j AS (
          |  SELECT c_nationkey AS nation,
          |    CAST(round(c_acctbal * 100) AS BIGINT) AS x,
          |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
          |  FROM orders JOIN customer ON o_custkey = c_custkey
          |), g AS (
          |  SELECT nation, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |    sum(CAST(x AS HUGEINT) * y) AS sxy,
          |    sum(CAST(x AS HUGEINT) * x) AS sxx
          |  FROM j GROUP BY nation
          |), p AS (
          |  SELECT CAST(sum(n) AS BIGINT) AS np,
          |    CAST(sum(sx) AS BIGINT) AS sxp, CAST(sum(sy) AS BIGINT) AS syp,
          |    sum(sxy) AS sxyp, sum(sxx) AS sxxp
          |  FROM g
          |), d AS (
          |  SELECT nation, n,
          |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
          |    CAST(np AS HUGEINT) * sxyp - CAST(sxp AS HUGEINT) * syp
          |      AS nump,
          |    CAST(np AS HUGEINT) * sxxp - CAST(sxp AS HUGEINT) * sxp
          |      AS denp
          |  FROM g CROSS JOIN p
          |)
          |SELECT nation, n,
          |  CASE WHEN den = 0 THEN NULL ELSE
          |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END
          |    AS slope,
          |  CASE WHEN denp = 0 THEN NULL ELSE
          |    round(CAST(nump AS DOUBLE) / CAST(denp AS DOUBLE), 6) END
          |    AS pooled_slope,
          |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
          |    * CASE WHEN nump > 0 THEN 1 WHEN nump < 0 THEN -1 ELSE 0 END
          |    < 0 AS BIGINT) AS sign_flip
          |FROM d ORDER BY nation""".stripMargin),
    ) { (s, dir) =>
      val j = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation"),
          round(col("c_acctbal") * 100, 0).cast("long").as("x"),
          round(col("o_totalprice") * 100, 0).cast("long").as("y"))
      val g = j.groupBy("nation").agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
        .localCheckpoint() // read per-nation AND rolled up for the pool
      val p = g.agg(sum(col("n")).as("np"), sum(col("sx")).as("sxp"),
        sum(col("sy")).as("syp"), sum(col("sxy")).as("sxyp"),
        sum(col("sxx")).as("sxxp"))
      g.crossJoin(broadcast(p))
        .selectExpr("nation", "n",
          "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
            + " AS num",
          "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
            + " AS den",
          "CAST(np AS DECIMAL(38,0)) * sxyp"
            + " - CAST(sxp AS DECIMAL(38,0)) * syp AS nump",
          "CAST(np AS DECIMAL(38,0)) * sxxp"
            + " - CAST(sxp AS DECIMAL(38,0)) * sxp AS denp")
        .selectExpr("nation", "n",
          """CASE WHEN den = 0 THEN NULL ELSE
            |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END
            |  AS slope""".stripMargin,
          """CASE WHEN denp = 0 THEN NULL ELSE
            |  round(CAST(nump AS DOUBLE) / CAST(denp AS DOUBLE), 6) END
            |  AS pooled_slope""".stripMargin,
          """CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
            |  * CASE WHEN nump > 0 THEN 1 WHEN nump < 0 THEN -1 ELSE 0 END
            |  < 0 AS BIGINT) AS sign_flip""".stripMargin)
        .orderBy("nation")
    },

    Q(
      "q_ldiversity",
      "l-DIVERSITY audit over the customer quasi-identifier pair " +
        "(nation, market segment) with account-balance band as the " +
        "sensitive attribute — the governance gate k-anonymity " +
        "(q_kanon_audit) cannot provide: a group can be large (k-" +
        "anonymous) yet SENSITIVE-HOMOGENEOUS, so membership alone " +
        "discloses the secret; distinct-l-diversity requires >= 3 " +
        "distinct sensitive values per group. Bands are exact $2000 " +
        "cents intervals (floor of a correctly-rounded IEEE " +
        "quotient — deterministic cross-engine, negatives included), " +
        "the rollup is two keyed aggs bounded by QI-combo x band " +
        "cardinality, and the readout adds the recursive-diversity " +
        "face: max_share = modal-band count / n as ONE exact-integer " +
        "ratio (no float sums anywhere — a group passing distinct-l " +
        "but with max_share near 1 is still practically disclosed, " +
        "which is why both numbers ship). At 100 TB: one corpus " +
        "pass to (QI, band) counts, then nations x segments x bands " +
        "state — the q_kanon_audit scale shape exactly",
      Some(
        """WITH b AS (
          |  SELECT c_nationkey, c_mktsegment,
          |    CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
          |      / 200000.0) AS BIGINT) AS band
          |  FROM customer
          |), gb AS (
          |  SELECT c_nationkey, c_mktsegment, band,
          |    CAST(count(*) AS BIGINT) AS c
          |  FROM b GROUP BY c_nationkey, c_mktsegment, band
          |)
          |SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment,
          |  CAST(sum(c) AS BIGINT) AS n,
          |  count(*) AS n_bands,
          |  CASE WHEN count(*) >= 3 THEN CAST(1 AS BIGINT)
          |    ELSE CAST(0 AS BIGINT) END AS l_diverse,
          |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS max_share
          |FROM gb GROUP BY c_nationkey, c_mktsegment
          |ORDER BY nationkey, c_mktsegment""".stripMargin),
    ) { (s, dir) =>
      val b = Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(round(col("c_acctbal") * 100, 0).cast("long") / lit(200000.0))
            .cast("long").as("band"))
      b.groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(count(lit(1)).as("c"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(sum(col("c")).as("n"),
          count(lit(1)).as("n_bands"),
          max(col("c")).as("cmax"))
        .select(col("c_nationkey").cast("long").as("nationkey"),
          col("c_mktsegment"), col("n"), col("n_bands"),
          when(col("n_bands") >= 3, 1L).otherwise(0L).as("l_diverse"),
          round(col("cmax").cast("double") / col("n"), 6).as("max_share"))
        .orderBy("nationkey", "c_mktsegment")
    },
  )

  /** The q_snm_linkage computation over any single-column (name)
    * frame — factored so JaroWinklerSpec can plant known-similarity
    * neighborhoods. One `jaro_winkler` evaluation per candidate
    * (staged before band/grid derivation); see the registry entry. */
  private[graft] def snmLinkage(names: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wB = Window.partitionBy(substring(col("name"), 1, 15))
      .orderBy("name")
    val nb = names.select(col("name"),
      lead("name", 1).over(wB).as("n1"),
      lead("name", 2).over(wB).as("n2"),
      lead("name", 3).over(wB).as("n3"))
    nb.selectExpr("name", "stack(3, n1, n2, n3) AS neighbor")
      .filter(col("neighbor").isNotNull)
      .selectExpr("jaro_winkler(name, neighbor) AS jw")
      .selectExpr("CAST(floor(jw * 20) AS BIGINT) AS band",
        "CAST(round(jw * 1000000) AS BIGINT) AS jw6")
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        expr("round(CAST(sum(jw6) AS DOUBLE) / 1000000 / count(*), 6)")
          .as("avg_jw"))
      .orderBy("band")
  }

  /** The q_record_linkage computation over any (c_custkey,
    * c_nationkey, c_mktsegment, c_acctbal) frame — factored so
    * LinkageSpec can plant hand-countable blocks. See the registry
    * entry for the FS weight model. */
  private[graft] def recordLinkage(
      customers: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val b = customers.select(
        col("c_custkey").as("id"), col("c_nationkey").as("blk"),
        col("c_mktsegment").as("seg"),
        floor(round(col("c_acctbal") * 100, 0).cast("long") / lit(50000.0))
          .cast("long").as("band"),
        (round(col("c_acctbal") * 100, 0).cast("long") % 100).as("c2"))
      .localCheckpoint() // read by the pair join AND the four u aggs
    def pairsOf(keys: Column*): org.apache.spark.sql.DataFrame =
      b.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1) / 2).cast("long").as("agr"))
    val tot = pairsOf(col("blk")).withColumnRenamed("agr", "tp")
    val aseg = pairsOf(col("blk"), col("seg"))
    val aband = pairsOf(col("blk"), col("band"))
    val ac2 = pairsOf(col("blk"), col("c2"))
    val pat = b.as("l").join(b.as("r"),
        col("l.blk") === col("r.blk") && col("l.id") < col("r.id"))
      .select(
        when(col("l.seg") === col("r.seg"), 1L).otherwise(0L).as("g_seg"),
        when(col("l.band") === col("r.band"), 1L).otherwise(0L).as("g_band"),
        when(col("l.c2") === col("r.c2"), 1L).otherwise(0L).as("g_c2"))
      .groupBy("g_seg", "g_band", "g_c2")
      .agg(count(lit(1)).as("n_pairs"))
    pat.crossJoin(broadcast(tot))
      .crossJoin(broadcast(aseg.withColumnRenamed("agr", "agr_seg")))
      .crossJoin(broadcast(aband.withColumnRenamed("agr", "agr_band")))
      .crossJoin(broadcast(ac2.withColumnRenamed("agr", "agr_c2")))
      .selectExpr("g_seg", "g_band", "g_c2", "n_pairs",
        """round(
          |  (CASE WHEN g_seg = 1
          |    THEN ln(0.95 * tp / agr_seg)
          |    ELSE ln(0.05 * tp / (tp - agr_seg)) END)
          |  + (CASE WHEN g_band = 1
          |    THEN ln(0.95 * tp / agr_band)
          |    ELSE ln(0.05 * tp / (tp - agr_band)) END)
          |  + (CASE WHEN g_c2 = 1
          |    THEN ln(0.95 * tp / agr_c2)
          |    ELSE ln(0.05 * tp / (tp - agr_c2)) END), 6) AS weight"""
          .stripMargin)
      .selectExpr("g_seg", "g_band", "g_c2", "n_pairs", "weight",
        """CASE WHEN weight >= 4 THEN 'match'
          |  WHEN weight >= 0 THEN 'possible' ELSE 'non_match'
          |END AS decision""".stripMargin)
      .orderBy("g_seg", "g_band", "g_c2")
  }

  /** q_skyline core over any (p_partkey, price, size) frame (the spec
    * plants fronts with duplicates and same-price groups beside a
    * brute-force reference). Unordered; the Q adds the output sort.
    *
    * Distinct-price rollup first — the only input the global order
    * ever sees; `strict_min` = min size over all strictly cheaper
    * prices (null for the cheapest). A row survives iff the strictly
    * cheaper prefix never reaches its size AND it holds its price
    * group's minimum. */
  private[graft] def skylineOf(p: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val perPrice = p.groupBy("price").agg(min(col("size")).as("group_min"))
    val strictW = Window.orderBy("price")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bounds = perPrice
      .withColumn("strict_min", min(col("group_min")).over(strictW))
    p.join(broadcast(bounds), "price")
      .filter(coalesce(col("strict_min") > col("size"), lit(true))
        && col("group_min") === col("size"))
      .select(col("p_partkey"), col("price"), col("size"))
  }

  /** q_window_dist's input: (seg, tc, ok) = (market segment, order
    * total in exact cents, orderkey tiebreak) for every order. */
  private[graft] def segTotals(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        round(col("o_totalprice") * 100, 0).cast("long").as("tc"),
        col("o_orderkey").as("ok"))

  /** The q_window_dist computation WITHOUT a raw-stream window — the
    * scale-safe shape (see the registry entry). Semantics proof,
    * pinned against [[windowDistWindowForm]] in WindowDistSpec:
    * under the total order (tc, ok) over a segment's N rows,
    *
    *  - ntile(4) gives quartile q the row-index range
    *    [lo_i, hi_i] = [(q−1)·⌊N/4⌋ + min(q−1, N mod 4) + 1,
    *                     q·⌊N/4⌋ + min(q, N mod 4)]
    *    (earlier tiles take the remainder — pure integer functions of
    *    N alone, so the boundary table needs only per-seg counts);
    *  - percent_rank at row i is (i−1)/(N−1) and cume_dist is i/N
    *    (the total order makes every row its own peer group), so
    *    their per-quartile MAXes are single IEEE divisions of the
    *    exact integers (hi_i−1, N−1) and (hi_i, N);
    *  - min/max tc over the quartile are the tc's at rows lo_i/hi_i =
    *    the smallest rollup cents whose cumulative count reaches the
    *    index — equal-cents rows are CONTIGUOUS under any ok
    *    tiebreak, so no per-quartile aggregate can see the tiebreak
    *    (tie-insensitivity; the ok column exists only so the window
    *    REFERENCE form is deterministic).
    *
    * Cost: one corpus-keyed rollup shuffle; the cumulative window,
    * boundary build, and boundary⋈rollup probe all run on the
    * cents-domain-bounded rollup (the value-domain window class). */
  private[graft] def windowDistRollup(o: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val vc = o.groupBy("seg", "tc").agg(count(lit(1)).as("c"))
    val cum = vc.withColumn("cum",
      sum(col("c")).over(Window.partitionBy("seg").orderBy("tc")))
    val bounds = vc.groupBy("seg").agg(sum(col("c")).as("nt"))
      .select(col("seg"), col("nt"),
        explode(expr("array(1L, 2L, 3L, 4L)")).as("quartile"))
      .selectExpr("seg", "nt", "quartile",
        "(quartile - 1) * (nt DIV 4) + least(quartile - 1, nt % 4) + 1 AS lo_i",
        "quartile * (nt DIV 4) + least(quartile, nt % 4) AS hi_i")
      .filter(col("hi_i") >= col("lo_i")) // quartiles past N when N < 4
    cum.join(broadcast(bounds), Seq("seg"))
      .groupBy("seg", "quartile", "nt", "lo_i", "hi_i").agg(
        min(when(col("cum") >= col("lo_i"), col("tc"))).as("lo_tc"),
        min(when(col("cum") >= col("hi_i"), col("tc"))).as("hi_tc"))
      .selectExpr("seg", "quartile",
        "hi_i - lo_i + 1 AS n",
        "round(CAST(lo_tc AS DOUBLE) / 100, 6) AS lo_value",
        "round(CAST(hi_tc AS DOUBLE) / 100, 6) AS hi_value",
        // N = 1: both engines define percent_rank of the single row
        // as 0 rather than 0/0.
        """CASE WHEN nt = 1 THEN 0.0 ELSE
          |  round(CAST(hi_i - 1 AS DOUBLE) / CAST(nt - 1 AS DOUBLE), 6)
          |  END AS max_percent_rank""".stripMargin,
        "round(CAST(hi_i AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS max_cume_dist")
      .orderBy("seg", "quartile")
  }

  /** The literal window spelling of q_window_dist (the pre-r11 shape:
    * ntile/percent_rank/cume_dist over the raw per-segment stream) —
    * kept ONLY as WindowDistSpec's independent reference; the
    * registry runs [[windowDistRollup]]. */
  private[graft] def windowDistWindowForm(o: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("seg").orderBy(col("tc"), col("ok"))
    o.withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy("seg", "quartile").agg(
        count(lit(1)).as("n"),
        round(min(col("tc")).cast("double") / 100, 6).as("lo_value"),
        round(max(col("tc")).cast("double") / 100, 6).as("hi_value"),
        round(max(col("pr")), 6).as("max_percent_rank"),
        round(max(col("cd")), 6).as("max_cume_dist"))
      .orderBy("seg", "quartile")
  }
}

package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the item-transition graph derived from
  * `events`: each user's event sequence (ordered by ts, event_id)
  * yields directed edges `prev_item -> item` where item is the
  * integer `props.$.k` payload. This is the classic clickstream /
  * next-item Markov graph — nodes are catalog items (bounded by
  * catalog size, NOT by event volume), edge weights are transition
  * counts.
  *
  * The reference has no graph surface (SURVEY.md §2 is MapReduce
  * word-count/grep parity); these are the graph extensions a
  * training-data pipeline needs — PageRank for importance weighting
  * and degree-oriented triangle counting for community density — both
  * expressed as declarative keyed joins/aggs so Catalyst plans plain
  * shuffles, never a driver-side adjacency structure.
  *
  * Scale: edge construction is one window pass keyed by user_id (the
  * q_events_sessions shuffle shape) followed by an (a, b)-keyed agg
  * whose output is bounded by distinct observed transitions, not by
  * event count. Every fixpoint round is edge-keyed join + node-keyed
  * agg; per-round state is `localCheckpoint`ed exactly like
  * [[DedupOps.ccMinLabels]] and `AnnOps.trainKMeans`, and the only
  * scalar ever materialized driver-side is nothing at all — node
  * count and dangling mass travel as broadcast 1-row DataFrames.
  */
object GraphOps {

  /** Fixed PageRank rounds — mirrored by the unrolled oracle CTEs in
    * [[prRoundsSqlCte]]; both sides round each iterate to 9dp so the
    * only cross-engine divergence (float SUM order) is absorbed by
    * the rounding grid, the q_cooccur/q_lm_score precedent. */
  private[graft] val PrRounds = 5
  private[graft] val PrDamp = 0.85

  /** q_triangles keeps the top-E undirected edges by (weight, pair) —
    * a deterministic TakeOrderedAndProject (per-partition top-E,
    * driver merge of E×partitions rows), NOT a global window, so the
    * selection stays scale-safe when the edge set outgrows one
    * partition. */
  private[graft] val TriTopEdges = 400

  /** q_bfs_reach: relaxation rounds (oracle-unrolled) and the seed
    * rule — items with item % BfsSeedMod = 0 start at distance 0. */
  private[graft] val BfsRounds = 3
  private[graft] val BfsSeedMod = 13

  /** q_hits: fixed mutual-reinforcement rounds (oracle-unrolled),
    * L1-normalized and 9dp-rounded per half-round like PageRank. */
  private[graft] val HitsRounds = 3

  /** q_item_cf: minimum co-rating users for a pair to be a candidate
    * (kills the long tail of coincidental co-occurrence before the
    * cosine is even computed) and neighbors kept per item. */
  private[graft] val ItemCfMinSupport = 3
  private[graft] val ItemCfTopK = 3

  /** q_anf_reach: sketch-BFS rounds (oracle-unrolled pair closure). */
  private[graft] val AnfRounds = 3

  /** q_betweenness: bounded BFS radius (oracle-unrolled) and the
    * sampled-source rule — sources are items % BcSeedMod = 0 (the
    * BfsSeedMod convention). Brandes-Pich source sampling IS the
    * standard scale story for betweenness: exact all-sources Brandes
    * is O(V·E) and the sampled estimator is unbiased up to the n/|S|
    * factor; the radius bound truncates to paths ≤ BcRounds hops
    * (k-betweenness), which is what production graph engines ship. */
  private[graft] val BcRounds = 3
  private[graft] val BcSeedMod = 7

  /** q_random_walk: steps per walk (oracle-unrolled). */
  private[graft] val RwSteps = 4

  /** q_link_predict: predictions emitted (TakeOrdered heap cut). */
  private[graft] val LinkPredK = 20

  /** q_kcore: fixed peel rounds (oracle-unrolled; converged rounds
    * are no-ops so the trace is well-defined whether or not the
    * fixpoint lands early) and the threshold fraction 9/10: T =
    * ceil(0.9 · avg weighted degree), computed in exact BIGINT
    * arithmetic so both engines peel on the identical integer. */
  private[graft] val KcoreRounds = 6

  /** q_lpa_modularity: synchronous weighted label-propagation
    * rounds (oracle-unrolled; ties break to the min label so the
    * synchronous sweep is deterministic). */
  private[graft] val LpaRounds = 3

  /** q_scc: top-E directed edges kept (the TriTopEdges discipline —
    * weight-thresholding is what gives the dense synthetic transition
    * graph real SCC structure) and loud round caps for the three
    * convergence loops (trim / color / backward sweep). */
  private[graft] val SccTopEdges = 400
  private[graft] val SccMaxRounds = 60

  /** q_ktruss: k and the unrolled peel-round budget (oracle CTEs
    * mirror; KtrussSpec pins fixpoint-within-budget at driver SFs). */
  private[graft] val KtrussK = 4
  private[graft] val KtrussRounds = 12

  /** q_katz: attenuation α = 1/KatzAlphaInv (exact dyadic rational —
    * the whole truncated series clears denominators into one BIGINT)
    * and the number of path-length terms. */
  private[graft] val KatzAlphaInv = 8L
  private[graft] val KatzRounds = 4

  /** (user-ordered) item transitions: a = lag(item), b = item. */
  private[graft] def transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .select(lag(col("item"), 1).over(w).as("a"), col("item").as("b"))
      .filter(col("a").isNotNull)
  }

  /** Directed weighted edge list (a, b, n), one keyed agg over the
    * transition stream; output bounded by distinct item pairs. */
  private[graft] def edgesOf(s: SparkSession, dir: String): DataFrame =
    transitions(s, dir).groupBy("a", "b").agg(count(lit(1)).as("n"))

  /** Top-E undirected edge selection for q_triangles, pre-checkpoint
    * so GraphSpec can pin its TakeOrderedAndProject plan shape. */
  private[graft] def topEdges(s: SparkSession, dir: String): DataFrame =
    transitions(s, dir)
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("wa"),
        greatest(col("a"), col("b")).as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("wa"), col("wb"))
      .limit(TriTopEdges)
      .select("wa", "wb")

  /** Shared SQL prefix: ev → trans → edges CTEs (splice under WITH). */
  private val edgesSqlCte: String =
    """ev AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      |  FROM events
      |), trans AS (
      |  SELECT lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS a,
      |    item AS b
      |  FROM ev
      |), edges AS (
      |  SELECT a, b, count(*) AS n FROM trans WHERE a IS NOT NULL GROUP BY a, b
      |)""".stripMargin

  /** Weighted PageRank, one declarative round: contrib(b) = Σ_a
    * r(a)·p(a→b) (edge-keyed join, node-keyed agg), dangling mass as
    * one scalar sum, new iterate rounded to 9dp. Returns (node, r) for
    * `rounds` rounds from the uniform start.
    *
    * The loop invariants are computed once: the transition
    * probabilities, and each node's `dangling` flag (no out-edge) in
    * the checkpointed node table. The node count is read once and the
    * dangling mass once per round, as driver scalars (one tiny agg
    * job each, the [[Fixpoint.exactSum]] pattern); the divisions by
    * the node count are the same IEEE double divisions, moved to the
    * driver. Per-round lineage is cut by localCheckpoint. */
  private[graft] def pageRank(
      s: SparkSession, edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.localCheckpoint()
    val outw = e.groupBy("a").agg(sum("n").as("outw"))
    // transition probability is an exact IEEE division of two longs —
    // identical operands in both engines, so no rounding needed here
    val eprob = e.join(outw, "a")
      .select(col("a"), col("b"), (col("n") / col("outw")).as("p"))
      .localCheckpoint()
    // a node is dangling iff it never appears as a source
    val nodes = e.select(col("a").as("node"), lit(false).as("dangling"))
      .unionAll(e.select(col("b").as("node"), lit(true).as("dangling")))
      .groupBy("node").agg(bool_and(col("dangling")).as("dangling"))
      .localCheckpoint()
    val nn = nodes.count().toDouble
    var ranks = nodes
      .select(col("node"), col("dangling"), round(lit(1.0 / nn), 9).as("r"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val contrib = ranks.join(eprob, ranks("node") === eprob("a"))
        .groupBy(col("b").as("cnode"))
        .agg(sum(col("r") * col("p")).as("contrib"))
      val dang = ranks.filter(col("dangling"))
        .agg(coalesce(sum(col("r")), lit(0.0))).head().getDouble(0)
      ranks = ranks.select(col("node"), col("dangling"))
        .join(contrib, col("node") === col("cnode"), "left")
        .select(col("node"), col("dangling"),
          round(
            lit((1.0 - PrDamp) / nn) +
              lit(PrDamp) * (coalesce(col("contrib"), lit(0.0)) + lit(dang / nn)),
            9).as("r"))
        .localCheckpoint()
    }
    ranks.select("node", "r")
  }

  /** DuckDB twin of [[pageRank]]: unrolled r0..r`rounds` CTEs over the
    * edges CTE, identical 9dp per-round rounding. Splice after
    * [[edgesSqlCte]]. */
  private[graft] def prRoundsSqlCte(rounds: Int): String = {
    val head =
      """outw AS (
        |  SELECT a, CAST(sum(n) AS BIGINT) AS outw FROM edges GROUP BY a
        |), eprob AS (
        |  SELECT e.a, e.b, e.n / o.outw AS p FROM edges e JOIN outw o ON e.a = o.a
        |), nodes AS (
        |  SELECT DISTINCT a AS node FROM edges
        |  UNION SELECT DISTINCT b FROM edges
        |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
        |r0 AS (SELECT node, round(1.0 / nn, 9) AS r FROM nodes CROSS JOIN nn)""".stripMargin
    val iters = (1 to rounds).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS (
         |  SELECT nd.node,
         |    round((1.0 - $PrDamp) / nn.nn + $PrDamp * (
         |      coalesce(c.contrib, 0) + dg.dang / nn.nn), 9) AS r
         |  FROM nodes nd
         |  CROSS JOIN nn
         |  CROSS JOIN (SELECT coalesce(sum(r), 0) AS dang FROM $prev
         |              WHERE node NOT IN (SELECT a FROM outw)) dg
         |  LEFT JOIN (SELECT ep.b AS node, sum(rp.r * ep.p) AS contrib
         |             FROM $prev rp JOIN eprob ep ON rp.node = ep.a
         |             GROUP BY ep.b) c
         |    ON nd.node = c.node
         |)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** DuckDB twin of the q_hits loop: unrolled a{i}/h{i} CTEs, L1
    * normalization + 9dp rounding per half-round. Splice after
    * [[edgesSqlCte]]; exposes a$rounds / h$rounds. */
  private[graft] def hitsRoundsSqlCte(rounds: Int): String = {
    val head =
      """nodes AS (
        |  SELECT DISTINCT a AS node FROM edges
        |  UNION SELECT DISTINCT b FROM edges
        |), h0 AS (SELECT node, 1.0 AS h FROM nodes)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""ar$i AS (
         |  SELECT nd.node, coalesce(s.v, 0) AS ar
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.b AS node, sum(h.h * e.n) AS v
         |    FROM h${i - 1} h JOIN edges e ON h.node = e.a GROUP BY e.b) s
         |  ON nd.node = s.node
         |), a$i AS (
         |  SELECT node, round(ar / (SELECT sum(ar) FROM ar$i), 9) AS au
         |  FROM ar$i
         |), hr$i AS (
         |  SELECT nd.node, coalesce(s.v, 0) AS hr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.a AS node, sum(a.au * e.n) AS v
         |    FROM a$i a JOIN edges e ON a.node = e.b GROUP BY e.a) s
         |  ON nd.node = s.node
         |), h$i AS (
         |  SELECT node, round(hr / (SELECT sum(hr) FROM hr$i), 9) AS h
         |  FROM hr$i
         |)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  val all: Seq[Q] = Seq(
    Q(
      "q_pagerank",
      "weighted PageRank over the user→item transition graph (damping " +
        s"$PrDamp, $PrRounds fixed rounds, dangling mass redistributed " +
        "uniformly): edge build is one user-keyed window pass + an " +
        "(a,b)-keyed agg bounded by distinct transitions; every round " +
        "is an edge-keyed join + node-keyed agg with per-round " +
        "localCheckpoint (the ccMinLabels/trainKMeans lineage " +
        "discipline); each node's dangling flag rides the checkpointed " +
        "node table, and node count / dangling mass come back to the " +
        "driver as one scalar each (once, and once per round). " +
        "Per-round 9dp rounding pins both engines to the same grid so " +
        "float SUM order cannot drift the oracle. At 100 TB " +
        "ranks and edges shuffle on node keys; nothing here is " +
        "event-volume-sized after the first agg",
      Some(
        s"""WITH $edgesSqlCte,
           |${prRoundsSqlCte(PrRounds)}
           |SELECT node AS item, round(r, 6) AS pr
           |FROM r$PrRounds ORDER BY item""".stripMargin),
    ) { (s, dir) =>
      pageRank(s, edgesOf(s, dir), PrRounds)
        .select(col("node").as("item"), round(col("r"), 6).as("pr"))
        .orderBy("item")
    },

    Q(
      "q_scc",
      s"STRONGLY connected components of the top-$SccTopEdges " +
        "directed transition edges (weight-thresholding gives the " +
        "dense synthetic graph real SCC structure — the TriTopEdges " +
        "discipline): the DIRECTED twin of q_cc_star that every " +
        "navigation/dependency analysis needs — 'which item sets are " +
        "mutually reachable?' is what separates a recurrent browsing " +
        "core from one-way funnels, and undirected CC cannot see the " +
        "difference. Engine: trim + forward-max coloring + " +
        "same-color backward sweep (Orzan's distributed SCC) looped " +
        "to convergence — edge-keyed joins and node-keyed aggs over " +
        "localCheckpoint'ed node-sized state, NEVER the V² pair " +
        "closure (the oracle's recursive-CTE closure is exactly that " +
        "O(V²) object, affordable only because nodes are " +
        "catalog-bounded at test scale; SccSpec pins the engine " +
        "against it on planted multi-SCC digraphs). Readout = the " +
        "SCC size profile (label = min member). At 100 TB: rounds " +
        "scale with condensation depth after trim, state with nodes",
      Some(
        s"""WITH RECURSIVE $edgesSqlCte, te AS (
           |  SELECT a AS src, b AS dst FROM edges WHERE a <> b
           |  ORDER BY n DESC, a, b LIMIT $SccTopEdges
           |), nodes AS (
           |  SELECT DISTINCT src AS node FROM te
           |  UNION
           |  SELECT DISTINCT dst FROM te
           |), reach(s, t) AS (
           |  SELECT src, dst FROM te
           |  UNION
           |  SELECT r.s, e.dst FROM reach r JOIN te e ON e.src = r.t
           |), mutual AS (
           |  SELECT a.s AS u, a.t AS v
           |  FROM reach a JOIN reach b ON a.s = b.t AND a.t = b.s
           |), lab AS (
           |  SELECT n.node AS u,
           |    least(n.node, coalesce(min(m.v), n.node)) AS scc_label
           |  FROM nodes n LEFT JOIN mutual m ON m.u = n.node
           |  GROUP BY n.node
           |)
           |SELECT scc_label, CAST(count(*) AS BIGINT) AS n_nodes
           |FROM lab GROUP BY scc_label
           |ORDER BY n_nodes DESC, scc_label""".stripMargin),
    ) { (s, dir) =>
      val top = edgesOf(s, dir).filter(col("a") =!= col("b"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(SccTopEdges)
        .select(col("a").as("src"), col("b").as("dst"))
      sccMembership(top)
        .groupBy("scc_label").agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("scc_label"))
    },

    Q(
      "q_ppr",
      s"PERSONALIZED PageRank: importance with respect to a seed set " +
        s"(items ≡ 0 mod $BfsSeedMod, the q_bfs_reach seed rule) — " +
        "teleport mass restarts at the seeds instead of uniformly, " +
        "so scores answer 'important NEAR these items', the " +
        "trust-rank / related-items primitive q_pagerank's global " +
        "score can't express. Same round machinery as q_pagerank " +
        s"($PrRounds rounds, damping $PrDamp, dangling mass to the " +
        "TELEPORT vector, per-round 9dp grid, per-round " +
        "localCheckpoint, zero driver collects — seed count travels " +
        "as a broadcast 1-row frame); non-seed scores are pure " +
        "proximity mass. Output: item, ppr, is_seed",
      Some {
        val rounds = (1 to PrRounds).map { i =>
          val prev = s"r${i - 1}"
          s"""r$i AS (
             |  SELECT nd.node,
             |    round((1.0 - $PrDamp) * nd.ev + $PrDamp * (
             |      coalesce(c.contrib, 0) + dg.dang * nd.ev), 9) AS r
             |  FROM seeded nd
             |  CROSS JOIN (SELECT coalesce(sum(r), 0) AS dang FROM $prev
             |              WHERE node NOT IN (SELECT a FROM outw)) dg
             |  LEFT JOIN (SELECT ep.b AS node, sum(rp.r * ep.p) AS contrib
             |             FROM $prev rp JOIN eprob ep ON rp.node = ep.a
             |             GROUP BY ep.b) c
             |    ON nd.node = c.node
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH $edgesSqlCte, outw AS (
           |  SELECT a, CAST(sum(n) AS BIGINT) AS outw FROM edges GROUP BY a
           |), eprob AS (
           |  SELECT e.a, e.b, e.n / o.outw AS p FROM edges e JOIN outw o ON e.a = o.a
           |), nodes AS (
           |  SELECT DISTINCT a AS node FROM edges
           |  UNION SELECT DISTINCT b FROM edges
           |), ns AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS ns FROM nodes
           |  WHERE node % $BfsSeedMod = 0
           |), seeded AS (
           |  SELECT node, CASE WHEN node % $BfsSeedMod = 0
           |    THEN 1.0 / ns ELSE 0.0 END AS ev
           |  FROM nodes CROSS JOIN ns
           |), r0 AS (SELECT node, round(ev, 9) AS r FROM seeded),
           |$rounds
           |SELECT s.node AS item, round(r.r, 6) AS ppr,
           |  CAST(s.node % $BfsSeedMod = 0 AS BIGINT) AS is_seed
           |FROM r$PrRounds r JOIN seeded s ON s.node = r.node
           |ORDER BY item""".stripMargin
      },
    ) { (s, dir) =>
      val e = edgesOf(s, dir).localCheckpoint()
      val outw = e.groupBy("a").agg(sum("n").as("outw"))
      val eprob = e.join(outw, "a")
        .select(col("a"), col("b"), (col("n") / col("outw")).as("p"))
        .localCheckpoint()
      val nodes = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .distinct()
        .localCheckpoint()
      val ns = nodes.filter(col("node") % BfsSeedMod === 0)
        .agg(count(lit(1)).cast("double").as("ns"))
      val seeded = nodes.crossJoin(broadcast(ns))
        .select(col("node"),
          when(col("node") % BfsSeedMod === 0, lit(1.0) / col("ns"))
            .otherwise(lit(0.0)).as("ev"))
        .localCheckpoint() // re-read every round (teleport vector)
      var ranks = seeded.select(col("node"), round(col("ev"), 9).as("r"))
        .localCheckpoint()
      for (_ <- 1 to PrRounds) {
        val contrib = ranks.join(eprob, ranks("node") === eprob("a"))
          .groupBy(col("b").as("cnode"))
          .agg(sum(col("r") * col("p")).as("contrib"))
        val dang = ranks.join(outw, ranks("node") === outw("a"), "left_anti")
          .agg(coalesce(sum(col("r")), lit(0.0)).as("dang"))
        ranks = seeded
          .join(contrib, col("node") === col("cnode"), "left")
          .crossJoin(broadcast(dang))
          .select(col("node"),
            round(lit(1.0 - PrDamp) * col("ev")
              + lit(PrDamp) * (coalesce(col("contrib"), lit(0.0))
                + col("dang") * col("ev")), 9).as("r"))
          .localCheckpoint()
      }
      ranks.join(seeded, "node")
        .select(col("node").as("item"), round(col("r"), 6).as("ppr"),
          (col("node") % BfsSeedMod === 0).cast("long").as("is_seed"))
        .orderBy("item")
    },

    Q(
      "q_triangles",
      "degree-oriented triangle counting + local clustering " +
        s"coefficient on the top-$TriTopEdges undirected transition " +
        "edges (selected by TakeOrderedAndProject on (weight, pair) — " +
        "deterministic and scale-safe, no global window): edges are " +
        "oriented from the (degree, id)-smaller endpoint so every " +
        "wedge join fans out from the LOW-degree side — the classic " +
        "Σd(v)² bound that keeps skewed hubs from exploding the " +
        "self-join — and each triangle is found exactly once. " +
        "Per-node counts come from exploding the (u,v,w) rows; " +
        "coefficient = 2·tri/(deg·(deg−1)) on exact integer counts, " +
        "one float ratio rounded at the boundary",
      Some(
        s"""WITH $edgesSqlCte,
           |und AS (
           |  SELECT least(a, b) AS wa, greatest(a, b) AS wb,
           |    CAST(sum(n) AS BIGINT) AS n
           |  FROM edges WHERE a <> b GROUP BY 1, 2
           |), top AS (
           |  SELECT wa, wb FROM und ORDER BY n DESC, wa, wb LIMIT $TriTopEdges
           |), deg AS (
           |  SELECT v, count(*) AS deg FROM (
           |    SELECT wa AS v FROM top UNION ALL SELECT wb FROM top)
           |  GROUP BY v
           |), ori AS (
           |  SELECT CASE WHEN da.deg < db.deg
           |                OR (da.deg = db.deg AND t.wa < t.wb)
           |           THEN t.wa ELSE t.wb END AS src,
           |         CASE WHEN da.deg < db.deg
           |                OR (da.deg = db.deg AND t.wa < t.wb)
           |           THEN t.wb ELSE t.wa END AS dst
           |  FROM top t
           |  JOIN deg da ON t.wa = da.v
           |  JOIN deg db ON t.wb = db.v
           |), tri AS (
           |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
           |  FROM ori e1
           |  JOIN ori e2 ON e1.dst = e2.src
           |  JOIN ori e3 ON e3.src = e1.src AND e3.dst = e2.dst
           |), pernode AS (
           |  SELECT x AS v, count(*) AS n_tri FROM (
           |    SELECT u AS x FROM tri
           |    UNION ALL SELECT v FROM tri
           |    UNION ALL SELECT w FROM tri)
           |  GROUP BY x
           |)
           |SELECT d.v AS item, d.deg,
           |  coalesce(p.n_tri, CAST(0 AS BIGINT)) AS n_tri,
           |  round(CASE WHEN d.deg > 1
           |    THEN 2.0 * coalesce(p.n_tri, 0) / (d.deg * (d.deg - 1))
           |    ELSE 0.0 END, 6) AS clustering
           |FROM deg d LEFT JOIN pernode p ON d.v = p.v
           |ORDER BY item""".stripMargin),
    ) { (s, dir) =>
      val top = topEdges(s, dir)
        .localCheckpoint() // reused 5×: degrees, both orient joins, wedges
      val deg = top.select(col("wa").as("v"))
        .unionAll(top.select(col("wb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val lowFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("wa") < col("wb"))
      val ori = top
        .join(deg.select(col("v").as("va"), col("deg").as("da")), col("wa") === col("va"))
        .join(deg.select(col("v").as("vb"), col("deg").as("db")), col("wb") === col("vb"))
        .select(
          when(lowFirst, col("wa")).otherwise(col("wb")).as("src"),
          when(lowFirst, col("wb")).otherwise(col("wa")).as("dst"))
        .localCheckpoint() // three-way self-joined below
      val tri = ori.as("e1")
        .join(ori.as("e2"), col("e1.dst") === col("e2.src"))
        .join(ori.as("e3"),
          col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
        .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
      val pernode = tri
        .select(explode(array(col("u"), col("v"), col("w"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("n_tri"))
      deg.join(pernode.select(col("v").as("pv"), col("n_tri")),
          col("v") === col("pv"), "left")
        .select(col("v").as("item"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(when(col("deg") > 1,
            lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
              (col("deg") * (col("deg") - 1)))
            .otherwise(lit(0.0)), 6).as("clustering"))
        .orderBy("item")
    },

    Q(
      "q_bfs_reach",
      s"bounded-round BFS over the item-transition graph ($BfsRounds " +
        s"relaxation rounds from seeds item % $BfsSeedMod = 0): " +
        "shortest hop distance ≤ rounds per reached item — the " +
        "traversal primitive (taint/reachability/influence radius) " +
        "beside PageRank's diffusion and the CC fixpoint. Each round " +
        "is one edge-keyed join of the CURRENT distance table + a " +
        "node-keyed min agg (Bellman-Ford relaxation), checkpoint per " +
        "round — linear lineage, distance state one row per REACHED " +
        "node, never frontier history; rounds fixed so the oracle " +
        "unrolls them as CTEs. At 100 TB the distance table is " +
        "node-bounded and the per-round join cost is edges touching " +
        "reached nodes — the same keyed-shuffle budget as one " +
        "PageRank round",
      Some {
        val rounds = (1 to BfsRounds).map { i =>
          s""", r$i AS (
             |  SELECT item, min(d) AS d FROM (
             |    SELECT item, d FROM r${i - 1}
             |    UNION ALL
             |    SELECT e.b AS item, r.d + 1 AS d
             |    FROM edges e JOIN r${i - 1} r ON e.a = r.item
             |  ) GROUP BY item
             |)""".stripMargin
        }.mkString
        s"""WITH $edgesSqlCte,
           |items AS (
           |  SELECT DISTINCT item FROM (
           |    SELECT a AS item FROM edges UNION ALL SELECT b FROM edges)
           |), r0 AS (
           |  SELECT item, CAST(0 AS BIGINT) AS d FROM items WHERE item % $BfsSeedMod = 0
           |)$rounds
           |SELECT item, d FROM r$BfsRounds ORDER BY item""".stripMargin
      },
    ) { (s, dir) =>
      val edges = edgesOf(s, dir).select("a", "b").localCheckpoint()
      val items = edges.select(col("a").as("item"))
        .unionByName(edges.select(col("b").as("item"))).distinct()
      var dist = items.filter(pmod(col("item"), lit(BfsSeedMod)) === 0)
        .select(col("item"), lit(0L).as("d"))
        .localCheckpoint()
      for (_ <- 1 to BfsRounds) {
        dist = dist
          .unionByName(edges
            .join(dist.select(col("item").as("a"), col("d")), "a")
            .select(col("b").as("item"), (col("d") + 1).as("d")))
          .groupBy("item").agg(min(col("d")).as("d"))
          .localCheckpoint()
      }
      dist.orderBy("item")
    },

    Q(
      "q_anf_reach",
      s"approximate neighborhood function via SKETCH-STATE BFS " +
        s"(ANF, Palmer et al. 2002 / HyperBall with theta in the HLL " +
        s"slot): every node carries a mergeable sketch of its " +
        s"reachability ball, and round i unions each node's sketch " +
        s"with its out-neighbors' — so N(i) = Σ_v |ball_i(v)|, the " +
        "neighborhood function that yields effective diameter, is " +
        s"read off per-node state in O($AnfRounds) edge-keyed " +
        "rounds. THIS is how web-scale graph distances are actually " +
        "measured: the exact pairwise closure is O(n²) state that " +
        "breaks first at scale (here it is the oracle's job — the " +
        "q_hll_partials contract: both engines emit the EXACT " +
        "per-round reachable-pair counts and reach ratios, and a " +
        "deterministic flag asserts the sketch-summed N(i) within " +
        "5%, which is exact-mode equality at test SFs since balls " +
        "are node-bounded). Per round ONE edge-keyed join + " +
        "node-keyed theta_union_agg, localCheckpoint — linear " +
        "lineage, per-node state ~KB regardless of ball size, the " +
        "whole point vs the pairs table",
      Some {
        val rounds = (1 to AnfRounds).map { i =>
          s""", p$i AS (
             |  SELECT DISTINCT v, r FROM (
             |    SELECT v, r FROM p${i - 1}
             |    UNION ALL
             |    SELECT e.a AS v, p.r FROM edges e JOIN p${i - 1} p ON p.v = e.b)
             |)""".stripMargin
        }.mkString
        val cnts = (0 to AnfRounds)
          .map(i => s"SELECT $i AS step, count(*) AS n FROM p$i")
          .mkString("\n  UNION ALL ")
        s"""WITH $edgesSqlCte,
           |items AS (
           |  SELECT DISTINCT item FROM (
           |    SELECT a AS item FROM edges UNION ALL SELECT b FROM edges)
           |), p0 AS (
           |  SELECT item AS v, item AS r FROM items
           |)$rounds, cnt AS (
           |  $cnts
           |), fin AS (SELECT n AS nf FROM cnt WHERE step = $AnfRounds)
           |SELECT CAST(step AS BIGINT) AS step, CAST(n AS BIGINT) AS n_pairs,
           |  round(CAST(n AS DOUBLE) / nf, 6) AS reach_ratio,
           |  CAST(1 AS BIGINT) AS anf_within_5pct
           |FROM cnt CROSS JOIN fin ORDER BY step""".stripMargin
      },
    ) { (s, dir) =>
      val edges = edgesOf(s, dir).select("a", "b").localCheckpoint()
      val items = edges.select(col("a").as("item"))
        .unionByName(edges.select(col("b").as("item"))).distinct()
        .localCheckpoint()
      // Sketch state: ball_0(v) = {v}; exact twin rides beside it.
      var state = items.groupBy("item")
        .agg(expr("theta_sketch_agg(item)").as("sk")).localCheckpoint()
      var pairs = items.select(col("item").as("v"), col("item").as("r"))
        .localCheckpoint()
      def readout(i: Int): DataFrame = {
        val est = state.agg(sum(expr("theta_estimate(sk)")).as("est"))
        pairs.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(broadcast(est))
          .select(lit(i.toLong).as("step"), col("n_pairs"),
            when(abs(col("est") - col("n_pairs")).cast("double")
              / col("n_pairs") <= 0.05, 1L).otherwise(0L)
              .as("anf_within_5pct"))
      }
      var rows = readout(0)
      for (i <- 1 to AnfRounds) {
        state = state
          .unionByName(edges
            .join(state.select(col("item").as("b"), col("sk")), "b")
            .select(col("a").as("item"), col("sk")))
          .groupBy("item").agg(expr("theta_union_agg(sk)").as("sk"))
          .localCheckpoint()
        pairs = pairs
          .unionByName(edges
            .join(pairs.select(col("v").as("b"), col("r")), "b")
            .select(col("a").as("v"), col("r")))
          .distinct().localCheckpoint()
        rows = rows.unionByName(readout(i))
      }
      val fin = rows.filter(col("step") === AnfRounds)
        .select(col("n_pairs").as("nf"))
      rows.crossJoin(broadcast(fin))
        .select(col("step"), col("n_pairs"),
          round(col("n_pairs").cast("double") / col("nf"), 6)
            .as("reach_ratio"),
          col("anf_within_5pct"))
        .orderBy("step")
    },

    Q(
      "q_harmonic_centrality",
      s"HARMONIC CENTRALITY from the ANF sketch state (HyperBall's " +
        s"raison d'être, Boldi & Vigna): h(v) = Σ_u 1/d(v,u) over " +
        s"nodes reached within $AnfRounds hops, read off per-node " +
        "ball sketches as Σ_i (|ball_i| − |ball_{i−1}|)/i — the " +
        "centrality web-scale graphs actually compute, because the " +
        "per-node state is ~KB of sketch instead of the full " +
        "distance table. The q_hll_partials contract per NODE: both " +
        "engines emit the EXACT per-distance reach counts n1..n" +
        s"$AnfRounds (from the pair closure with min-round " +
        "distances — the oracle's O(n²) job) and the exact harmonic " +
        "sum (one mirrored-text IEEE expression over exact BIGINT " +
        "counts), plus a flag asserting the sketch-derived harmonic " +
        "within 5% (exact-mode equality at test SFs). Engine rounds " +
        "are the q_anf_reach loop verbatim: edge-keyed join + " +
        "node-keyed theta_union_agg, localCheckpoint per round",
      Some {
        val rounds = (1 to AnfRounds).map { i =>
          s""", p$i AS (
             |  SELECT v, r, min(d) AS d FROM (
             |    SELECT v, r, d FROM p${i - 1}
             |    UNION ALL
             |    SELECT e.a AS v, p.r, $i AS d
             |    FROM edges e JOIN p${i - 1} p ON p.v = e.b)
             |  GROUP BY v, r
             |)""".stripMargin
        }.mkString
        val ns = (1 to AnfRounds).map(i =>
          s"CAST(sum(CASE WHEN d = $i THEN 1 ELSE 0 END) AS BIGINT) AS n$i")
          .mkString(",\n  ")
        val h = (1 to AnfRounds).map(i => s"n$i / $i.0").mkString(" + ")
        s"""WITH $edgesSqlCte,
           |items AS (
           |  SELECT DISTINCT item FROM (
           |    SELECT a AS item FROM edges UNION ALL SELECT b FROM edges)
           |), p0 AS (
           |  SELECT item AS v, item AS r, 0 AS d FROM items
           |)$rounds, cnt AS (
           |  SELECT v AS item,
           |  $ns
           |  FROM p$AnfRounds GROUP BY v
           |)
           |SELECT item, ${(1 to AnfRounds).map("n" + _).mkString(", ")},
           |  round($h, 6) AS harmonic,
           |  CAST(1 AS BIGINT) AS hc_within_5pct
           |FROM cnt ORDER BY item""".stripMargin
      },
    ) { (s, dir) =>
      val edges = edgesOf(s, dir).select("a", "b").localCheckpoint()
      val items = edges.select(col("a").as("item"))
        .unionByName(edges.select(col("b").as("item"))).distinct()
        .localCheckpoint()
      var state = items.groupBy("item")
        .agg(expr("theta_sketch_agg(item)").as("sk")).localCheckpoint()
      var pairs = items
        .select(col("item").as("v"), col("item").as("r"), lit(0).as("d"))
        .localCheckpoint()
      // Per-node per-round sketch estimates (round 0 = 1, the node).
      var ests = state.select(col("item"), lit(0).as("rd"),
        expr("theta_estimate(sk)").as("est"))
      for (i <- 1 to AnfRounds) {
        state = state
          .unionByName(edges
            .join(state.select(col("item").as("b"), col("sk")), "b")
            .select(col("a").as("item"), col("sk")))
          .groupBy("item").agg(expr("theta_union_agg(sk)").as("sk"))
          .localCheckpoint()
        pairs = pairs
          .unionByName(edges
            .join(pairs.select(col("v").as("b"), col("r"), col("d")), "b")
            .select(col("a").as("v"), col("r"), lit(i).as("d")))
          .groupBy("v", "r").agg(min(col("d")).as("d"))
          .localCheckpoint()
        ests = ests.unionByName(state.select(col("item"), lit(i).as("rd"),
          expr("theta_estimate(sk)").as("est")))
      }
      val nCols = (1 to AnfRounds).map(i =>
        sum(when(col("d") === i, 1L).otherwise(0L)).as(s"n$i"))
      val exact = pairs.groupBy(col("v").as("item"))
        .agg(nCols.head, nCols.tail: _*)
      // Sketch-side harmonic: Σ_i (est_i − est_{i−1}) / i per node.
      val w = Window.partitionBy("item").orderBy("rd")
      val hEst = ests
        .withColumn("delta", col("est") - lag(col("est"), 1).over(w))
        .filter(col("rd") >= 1)
        .groupBy("item")
        .agg(sum(col("delta") / col("rd")).as("h_est"))
      val hExpr = (1 to AnfRounds).map(i => col(s"n$i") / lit(i.toDouble))
        .reduce(_ + _)
      exact.join(broadcast(hEst), Seq("item"))
        .select((col("item") +: (1 to AnfRounds).map(i => col(s"n$i"))) ++ Seq(
          round(hExpr, 6).as("harmonic"),
          when(abs(col("h_est") - hExpr).cast("double")
            / greatest(hExpr, lit(0.001)) <= 0.05, 1L).otherwise(0L)
            .as("hc_within_5pct")): _*)
        .orderBy("item")
    },

    Q(
      "q_hits",
      s"HITS hubs & authorities over the weighted transition graph " +
        s"($HitsRounds mutual-reinforcement rounds, L1-normalized): " +
        "authority(v) = Σ_{u→v} w·hub(u), hub(v) = Σ_{v→u} w·auth(u) — " +
        "the query-independent link-analysis pair beside PageRank's " +
        "single score (good SOURCES vs good DESTINATIONS, which an " +
        "asymmetric clickstream graph distinguishes). Each half-round " +
        "is one edge-keyed join + node-keyed agg with per-round " +
        "localCheckpoint; the L1 norm travels as a broadcast 1-row " +
        "sum, nothing collects to the driver. Per-half-round 9dp " +
        "rounding pins both engines to one grid (the PageRank " +
        "precedent) so float SUM order cannot drift the oracle. At " +
        "100 TB state is two doubles per node; every shuffle is " +
        "node-keyed and bounded by the catalog, not event volume",
      Some(
        s"""WITH $edgesSqlCte,
           |${hitsRoundsSqlCte(HitsRounds)}
           |SELECT a.node AS item, round(a.au, 6) AS authority,
           |  round(h.h, 6) AS hub
           |FROM a$HitsRounds a JOIN h$HitsRounds h ON a.node = h.node
           |ORDER BY item""".stripMargin),
    ) { (s, dir) =>
      val e = edgesOf(s, dir).localCheckpoint()
      val nodes = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .distinct()
        .localCheckpoint()
      var hub = nodes.select(col("node"), lit(1.0).as("h")).localCheckpoint()
      var auth: DataFrame = null
      for (_ <- 1 to HitsRounds) {
        val ar = hub.join(e, hub("node") === e("a"))
          .groupBy(col("b").as("anode"))
          .agg(sum(col("h") * col("n")).as("v"))
        val arAll = nodes.join(ar, col("node") === col("anode"), "left")
          .select(col("node"), coalesce(col("v"), lit(0.0)).as("ar"))
        auth = arAll
          .crossJoin(broadcast(arAll.agg(sum(col("ar")).as("norm"))))
          .select(col("node"), round(col("ar") / col("norm"), 9).as("au"))
          .localCheckpoint()
        val hr = auth.join(e, auth("node") === e("b"))
          .groupBy(col("a").as("hnode"))
          .agg(sum(col("au") * col("n")).as("v"))
        val hrAll = nodes.join(hr, col("node") === col("hnode"), "left")
          .select(col("node"), coalesce(col("v"), lit(0.0)).as("hr"))
        hub = hrAll
          .crossJoin(broadcast(hrAll.agg(sum(col("hr")).as("norm"))))
          .select(col("node"), round(col("hr") / col("norm"), 9).as("h"))
          .localCheckpoint()
      }
      auth.join(hub, "node")
        .select(col("node").as("item"),
          round(col("au"), 6).as("authority"),
          round(col("h"), 6).as("hub"))
        .orderBy("item")
    },

    Q(
      "q_link_predict",
      s"Adamic–Adar link prediction on the top-$TriTopEdges undirected " +
        s"transition edges (top-$LinkPredK predicted pairs): for every " +
        "non-adjacent pair sharing neighbors, score = Σ_z 1/ln(deg z) " +
        "over common neighbors z — the inverse-log weighting that " +
        "discounts promiscuous hubs. Wedges come from one center-keyed " +
        "self-join of the adjacency list (same Σd(z)² budget as " +
        "q_triangles — bounded here by the top-E cut; at 100 TB the " +
        "standard cap is champion-list truncation of each node's " +
        "adjacency, the q_lexical_knn pattern), existing edges drop by " +
        "a pair-keyed anti join. Each 1/ln(deg) term is 6dp-rounded at " +
        "the libm boundary then summed in EXACT BIGINT fixed point " +
        "(×1e6) so per-pair accumulation order cannot drift the " +
        "oracle; final cut is a TakeOrdered heap on (score, pair), " +
        "deterministic because pairs are unique post-agg",
      Some(
        s"""WITH $edgesSqlCte,
           |und AS (
           |  SELECT least(a, b) AS wa, greatest(a, b) AS wb,
           |    CAST(sum(n) AS BIGINT) AS n
           |  FROM edges WHERE a <> b GROUP BY 1, 2
           |), top AS (
           |  SELECT wa, wb FROM und ORDER BY n DESC, wa, wb LIMIT $TriTopEdges
           |), deg AS (
           |  SELECT v, count(*) AS deg FROM (
           |    SELECT wa AS v FROM top UNION ALL SELECT wb FROM top)
           |  GROUP BY v
           |), adj AS (
           |  SELECT wa AS z, wb AS x FROM top
           |  UNION ALL SELECT wb AS z, wa AS x FROM top
           |), wed AS (
           |  SELECT l.x AS u, r.x AS v, l.z AS z
           |  FROM adj l JOIN adj r ON l.z = r.z WHERE l.x < r.x
           |), cand AS (
           |  SELECT u, v, z FROM wed
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM top t WHERE t.wa = wed.u AND t.wb = wed.v)
           |), sc AS (
           |  SELECT c.u, c.v,
           |    round(1.0 / ln(CAST(d.deg AS DOUBLE)), 6) AS term
           |  FROM cand c JOIN deg d ON c.z = d.v
           |), agg AS (
           |  SELECT u, v, count(*) AS common_neighbors,
           |    CAST(sum(CAST(round(term * 1000000) AS BIGINT)) / 1000000.0
           |      AS DOUBLE) AS aa
           |  FROM sc GROUP BY u, v
           |)
           |SELECT u AS item_a, v AS item_b, common_neighbors,
           |  round(aa, 6) AS adamic_adar
           |FROM agg
           |ORDER BY adamic_adar DESC, item_a, item_b
           |LIMIT $LinkPredK""".stripMargin),
    ) { (s, dir) =>
      val top = topEdges(s, dir).localCheckpoint() // reused: deg, adj, anti
      val deg = top.select(col("wa").as("v"))
        .unionAll(top.select(col("wb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val adj = top.select(col("wa").as("z"), col("wb").as("x"))
        .unionAll(top.select(col("wb").as("z"), col("wa").as("x")))
      val wed = adj.select(col("z"), col("x").as("u")).as("l")
        .join(adj.select(col("z"), col("x").as("v")).as("r"), "z")
        .filter(col("u") < col("v"))
      val cand = wed.join(
        top.select(col("wa").as("u"), col("wb").as("v")),
        Seq("u", "v"), "left_anti")
      val sc = cand
        .join(deg.select(col("v").as("zz"), col("deg")), col("z") === col("zz"))
        .select(col("u"), col("v"),
          round(lit(1.0) / log(col("deg").cast("double")), 6).as("term"))
      sc.groupBy("u", "v")
        .agg(count(lit(1)).as("common_neighbors"),
          (sum(round(col("term") * 1000000, 0).cast("long")) / lit(1000000.0))
            .cast("double").as("aa"))
        .select(col("u").as("item_a"), col("v").as("item_b"),
          col("common_neighbors"), round(col("aa"), 6).as("adamic_adar"))
        .orderBy(col("adamic_adar").desc, col("item_a"), col("item_b"))
        .limit(LinkPredK)
    },

    Q(
      "q_cc_star",
      "DIAMETER-INDEPENDENT connected components over the undirected " +
        "transition graph: min-label propagation with POINTER JUMPING " +
        "— each round folds in neighbor labels AND label(label(v)) " +
        "(one extra label-keyed self-join), so label chains halve " +
        "every round and convergence is O(log diameter) instead of " +
        "O(diameter). DedupOps.ccMinLabels is the plain-propagation " +
        "twin, the right tool for near-dup clusters (diameter ~2-3); " +
        "THIS is the web-graph/link-graph tool, where million-hop " +
        "paths exist and a diameter-bound loop would run a shuffle " +
        "per hop (a 64-node planted chain labels in ~6 rounds, " +
        "spec-pinned). Per round: one edge join + one label " +
        "self-join, both node-keyed shuffles, checkpointed; the " +
        "fixpoint is PROVABLY the same min-label-per-component as " +
        "plain propagation, so the oracle is the recursive-CTE " +
        "fixpoint and the driver's hash compare is the equivalence " +
        "proof. Output: component label (min item) and size",
      Some(
        s"""WITH RECURSIVE $edgesSqlCte, und AS (
           |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
           |  FROM edges WHERE a <> b
           |), sym AS (
           |  SELECT u AS src, v AS dst FROM und
           |  UNION ALL SELECT v, u FROM und
           |), cc AS (
           |  SELECT DISTINCT src AS node, src AS label FROM sym
           |  UNION
           |  SELECT e.dst AS node, cc.label
           |  FROM cc JOIN sym e ON e.src = cc.node
           |), final AS (
           |  SELECT node, min(label) AS label FROM cc GROUP BY node
           |)
           |SELECT label, count(*) AS n_nodes FROM final
           |GROUP BY label ORDER BY label""".stripMargin),
    ) { (s, dir) =>
      val und = transitions(s, dir)
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .distinct()
      val (labels, _) = ccPointerJump(und)
      labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
        .orderBy("label")
    },

    Q(
      "q_assortativity",
      "degree assortativity of the undirected transition graph: the " +
        "Pearson correlation of endpoint degrees over edges (counted " +
        "both directions, the standard form) — do hubs link to hubs " +
        "(assortative, r>0) or to the periphery (disassortative, " +
        "r<0)? Clickstream item graphs run disassortative (hub items " +
        "bridge long-tail items), and the sign drives partitioning " +
        "strategy: disassortative graphs skew edge-cut shuffles. " +
        "Degrees are one node-keyed agg; every moment (Σx, Σx², Σxy) " +
        "is an EXACT BIGINT sum over edge-keyed joins, so r is pure " +
        "arithmetic on exact integers with the two libm sqrts " +
        "6dp-rounded — nothing to drift; a degenerate regular graph " +
        "(zero degree variance — the saturated sf0.1 clickstream IS " +
        "one) reports NULL via an exact integer variance test. " +
        "Output: edges, nodes, r",
      Some(
        s"""WITH $edgesSqlCte, und AS (
           |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
           |  FROM edges WHERE a <> b
           |), sym AS (
           |  SELECT u AS src, v AS dst FROM und
           |  UNION ALL SELECT v, u FROM und
           |), deg AS (
           |  SELECT src AS node, CAST(count(*) AS BIGINT) AS d
           |  FROM sym GROUP BY src
           |), ed AS (
           |  SELECT ds.d AS x, dd.d AS y
           |  FROM sym e
           |  JOIN deg ds ON ds.node = e.src
           |  JOIN deg dd ON dd.node = e.dst
           |), mm AS (
           |  SELECT CAST(count(*) AS BIGINT) AS m,
           |    CAST(sum(x) AS BIGINT) AS sx,
           |    CAST(sum(x * x) AS BIGINT) AS sxx,
           |    CAST(sum(x * y) AS BIGINT) AS sxy
           |  FROM ed
           |)
           |SELECT m // 2 AS n_edges,
           |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           |  CASE WHEN m * sxx = sx * sx THEN NULL
           |    ELSE round((CAST(sxy AS DOUBLE) / m - (CAST(sx AS DOUBLE) / m)
           |        * (CAST(sx AS DOUBLE) / m))
           |      / (round(sqrt(CAST(sxx AS DOUBLE) / m
           |          - (CAST(sx AS DOUBLE) / m) * (CAST(sx AS DOUBLE) / m)), 6)
           |        * round(sqrt(CAST(sxx AS DOUBLE) / m
           |          - (CAST(sx AS DOUBLE) / m) * (CAST(sx AS DOUBLE) / m)), 6)),
           |      6) END AS assortativity
           |FROM mm""".stripMargin),
    ) { (s, dir) =>
      val und = transitions(s, dir)
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .distinct()
      val sym = und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v"), col("u")))
        .localCheckpoint() // read twice: degrees + edge moments
      val deg = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
      val ed = sym
        .join(deg.select(col("node").as("src"), col("d").as("x")), "src")
        .join(deg.select(col("node").as("dst"), col("d").as("y")), "dst")
      val mm = ed.agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      val nn = deg.agg(count(lit(1)).as("n_nodes"))
      val mu = col("sx").cast("double") / col("m")
      val sd = round(sqrt(col("sxx").cast("double") / col("m") - mu * mu), 6)
      mm.crossJoin(broadcast(nn))
        .select(expr("m div 2").as("n_edges"), col("n_nodes"),
          // degenerate regular graph (all degrees equal — the sf0.1
          // complete graph): variance 0, r undefined -> NULL, tested
          // as an EXACT integer identity so no float decides it
          when(col("m") * col("sxx") === col("sx") * col("sx"),
            lit(null).cast("double"))
            .otherwise(round((col("sxy").cast("double") / col("m") - mu * mu)
              / (sd * sd), 6)).as("assortativity"))
    },

    Q(
      "q_next_item_eval",
      "next-item recommendation with a TEMPORAL train/test split: " +
        "each user's transition sequence splits at its midpoint " +
        "(first half trains, second half tests — never random, so " +
        "no future leaks into the model), the model is the Markov " +
        "argmax next item per item (ties to min item), and the " +
        "readout is hit@1 with cold-start transitions (unseen " +
        "source item) tracked separately — the offline eval loop " +
        "every recsys pipeline runs before shipping a model. One " +
        "user-keyed window pass builds positioned transitions; the " +
        "model is a pair agg + per-item ranking window, both " +
        "bounded by the item catalog; the eval is one item-keyed " +
        "join. hit_rate = one 6dp division of exact BIGINTs",
      Some(
        s"""WITH ev AS (
           |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
           |  FROM events
           |), seq AS (
           |  SELECT user_id, item,
           |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
           |    count(*) OVER (PARTITION BY user_id) AS cnt
           |  FROM ev
           |), pairs AS (
           |  SELECT prev AS a, item AS b, pos, cnt FROM seq WHERE prev IS NOT NULL
           |), train AS (
           |  SELECT a, b, count(*) AS n FROM pairs WHERE pos * 2 <= cnt
           |  GROUP BY a, b
           |), model AS (
           |  SELECT a, b AS b_pred FROM (
           |    SELECT a, b, row_number() OVER (PARTITION BY a
           |      ORDER BY n DESC, b) AS rk FROM train) WHERE rk = 1
           |), test AS (
           |  SELECT a, b FROM pairs WHERE pos * 2 > cnt
           |), scored AS (
           |  SELECT t.a, t.b, m.b_pred FROM test t
           |  LEFT JOIN model m ON m.a = t.a
           |)
           |SELECT CAST(count(*) AS BIGINT) AS n_test,
           |  CAST(sum(CASE WHEN b_pred IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_cold,
           |  CAST(sum(CASE WHEN b_pred = b THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hit,
           |  round(CAST(sum(CASE WHEN b_pred = b THEN 1 ELSE 0 END) AS DOUBLE)
           |    / count(*), 6) AS hit_rate
           |FROM scored""".stripMargin),
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val seq = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .withColumn("prev", lag(col("item"), 1).over(w))
        .withColumn("pos", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
      val pairs = seq.filter(col("prev").isNotNull)
        .select(col("prev").as("a"), col("item").as("b"),
          col("pos"), col("cnt"))
        .localCheckpoint() // read twice: train + test slices
      val train = pairs.filter(col("pos") * 2 <= col("cnt"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
      val rk = Window.partitionBy("a").orderBy(col("n").desc, col("b"))
      val model = train.withColumn("rk", row_number().over(rk))
        .filter(col("rk") === 1)
        .select(col("a"), col("b").as("b_pred"))
      pairs.filter(col("pos") * 2 > col("cnt"))
        .select("a", "b")
        .join(broadcast(model), Seq("a"), "left")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("b_pred").isNull, 1L).otherwise(0L)).as("n_cold"),
          sum(when(col("b_pred") === col("b"), 1L).otherwise(0L)).as("n_hit"),
          round(sum(when(col("b_pred") === col("b"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("hit_rate"))
    },

    Q(
      "q_item_cf",
      "item-item collaborative filtering over the user×item incidence " +
        s"(binary 'user touched item'): co-rating counts with min " +
        s"support $ItemCfMinSupport, cosine c_ij/√(c_i·c_j), top-" +
        s"$ItemCfTopK neighbors per item — the classic Amazon-style " +
        "item-to-item recommender built beside q_next_item_eval's " +
        "sequential Markov model (CF captures taste co-occurrence " +
        "that transition order misses). One map-side-combined " +
        "distinct to the (user, item) incidence; the user-keyed " +
        "self-join fans out per-user item SETS (bounded by the " +
        "catalog, never by event volume — CF's items ≪ users shape), " +
        "i<j halves the pairs, and the (i,j) agg is catalog²-bounded " +
        "with min-support pruning before any cosine; item totals " +
        "broadcast. c_i·c_j runs DECIMAL(38,0)-exact (user counts " +
        "square past BIGINT at web scale — the q_acf lesson), the " +
        "one sqrt is 6dp-rounded at the libm boundary, ties break " +
        "(cosine, co-count, neighbor id) so ranks can't drift. At " +
        "100 TB the catalog² agg still fits one stage; when the " +
        "catalog itself explodes, the documented swap is DIMSUM " +
        "row-sampling on the same incidence",
      Some(itemCfSql),
    ) { (s, dir) =>
      val ui = Tables.events(s, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .filter(col("item").isNotNull)
        .distinct()
      itemCf(ui).orderBy("item", "rk")
    },

    Q(
      "q_assoc_rules",
      "association rules over the same user×item baskets: frequent " +
        s"pairs at min co-support $ItemCfMinSupport become directed " +
        "rules i→j scored by confidence c_ij/c_i and lift " +
        "N·c_ij/(c_i·c_j), top-" + s"$ItemCfTopK per antecedent — " +
        "market-basket analysis beside q_item_cf's symmetric cosine " +
        "(confidence is the DIRECTED strength CF's cosine hides: " +
        "diapers→beer and beer→diapers differ). Same incidence scan " +
        "and catalog²-bounded pair agg; N and the item totals " +
        "broadcast; N·c_ij and c_i·c_j run DECIMAL(38,0)-exact " +
        "(both square past BIGINT at web-scale user counts), each " +
        "ratio is ONE 6dp division, ranks tie-break (lift, conf, " +
        "consequent) so order can't drift. At 100 TB frequent-pair " +
        "mining above min-support is exactly this shuffle; deeper " +
        "itemsets ride q_fim_transform's encoding",
      Some(
        s"""WITH ui AS (
           |  SELECT DISTINCT user_id,
           |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
           |  FROM events
           |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
           |), nu AS (
           |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM ui
           |), ic AS (
           |  SELECT item, CAST(count(*) AS BIGINT) AS c FROM ui GROUP BY item
           |), pr AS (
           |  SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS cij
           |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
           |  GROUP BY 1, 2 HAVING count(*) >= $ItemCfMinSupport
           |), sym AS (
           |  SELECT i, j, cij FROM pr UNION ALL SELECT j, i, cij FROM pr
           |), ruled AS (
           |  SELECT s.i AS antecedent, s.j AS consequent, s.cij AS c_both,
           |    round(CAST(s.cij AS DOUBLE) / ci.c, 6) AS confidence,
           |    round(CAST(CAST(nu.n AS HUGEINT) * s.cij AS DOUBLE)
           |      / CAST(CAST(ci.c AS HUGEINT) * cj.c AS DOUBLE), 6) AS lift,
           |    round(CAST(s.cij AS DOUBLE) / nu.n, 6) AS support
           |  FROM sym s JOIN ic ci ON ci.item = s.i
           |  JOIN ic cj ON cj.item = s.j CROSS JOIN nu
           |), rk AS (
           |  SELECT antecedent, consequent, c_both, support, confidence, lift,
           |    row_number() OVER (PARTITION BY antecedent
           |      ORDER BY lift DESC, confidence DESC, consequent) AS rk
           |  FROM ruled
           |)
           |SELECT antecedent, consequent, c_both, support, confidence, lift,
           |  CAST(rk AS BIGINT) AS rk
           |FROM rk WHERE rk <= $ItemCfTopK
           |ORDER BY antecedent, rk""".stripMargin),
    ) { (s, dir) =>
      val ui = Tables.events(s, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .filter(col("item").isNotNull)
        .distinct()
      assocRules(ui).orderBy("antecedent", "rk")
    },

    Q(
      "q_mst",
      "minimum spanning forest of the undirected weighted co-listing " +
        "graph via DISTRIBUTED Borůvka — the backbone extractor " +
        "(taxonomy layout, single-linkage clustering, network cost " +
        "planning) built scale-first: per round EVERY component picks " +
        "its min outgoing edge simultaneously (one edge-relabel join " +
        "+ one component-keyed min(struct) agg, both map-side " +
        "combinable), the forest CC pointer-jumps, and components at " +
        "least HALVE — O(log V) rounds where sequential Prim/Kruskal " +
        "take V steps; that parallel-merge property is why Borůvka " +
        "is THE distributed MST algorithm. Correctness rides the " +
        "total order (w, u, v): every edge rank distinct → the MSF " +
        "is UNIQUE and cycle-free, so the oracle — a declarative " +
        "single-row-state recursive-CTE Prim with component restart " +
        "under the IDENTICAL order — must land on the same edge set " +
        "(algorithm-independence is the check itself). At 100 TB: " +
        "~30 rounds for 1e9 nodes, every shuffle keyed, state = the " +
        "forest (≤ V−1 edges); nothing ever collects",
      Some(
        s"""WITH RECURSIVE $edgesSqlCte, und AS MATERIALIZED (
           |  SELECT least(a, b) AS u, greatest(a, b) AS v,
           |    CAST(sum(n) AS BIGINT) AS w
           |  FROM edges WHERE a <> b GROUP BY 1, 2
           |), nd AS MATERIALIZED (
           |  SELECT u AS node FROM und UNION SELECT v FROM und
           |), prim AS (
           |  SELECT CAST(NULL AS BIGINT) AS eu, CAST(NULL AS BIGINT) AS ev2,
           |    CAST(NULL AS BIGINT) AS ew,
           |    [(SELECT min(node) FROM nd)] AS vis, CAST(1 AS BIGINT) AS k
           |  UNION ALL
           |  SELECT nxt.eu, nxt.ev2, nxt.ew, list_append(prim.vis, nxt.add_nd),
           |    prim.k + 1
           |  FROM prim, LATERAL (
           |    SELECT * FROM (
           |      SELECT 0 AS pri, e.u AS eu, e.v AS ev2, e.w AS ew,
           |        CASE WHEN list_contains(prim.vis, e.u) THEN e.v ELSE e.u END
           |          AS add_nd
           |      FROM und e
           |      WHERE list_contains(prim.vis, e.u)
           |        <> list_contains(prim.vis, e.v)
           |      UNION ALL
           |      SELECT 1, NULL, NULL, NULL,
           |        (SELECT min(node) FROM nd
           |         WHERE NOT list_contains(prim.vis, node))
           |    ) c
           |    WHERE c.add_nd IS NOT NULL
           |    ORDER BY c.pri, c.ew, c.eu, c.ev2 LIMIT 1
           |  ) nxt
           |  WHERE prim.k < (SELECT count(*) FROM nd)
           |)
           |SELECT eu AS u, ev2 AS v, ew AS w FROM prim WHERE eu IS NOT NULL
           |ORDER BY u, v""".stripMargin),
    ) { (s, dir) =>
      boruvkaMst(undirectedWeighted(s, dir)).orderBy("u", "v")
    },

    Q(
      "q_kcore",
      s"weighted-core (s-core) decomposition TRACE over the undirected " +
        s"transition graph: $KcoreRounds peel rounds removing nodes " +
        "whose weighted degree falls below T = ceil(0.9 · avg weighted " +
        "degree of the INITIAL graph), reporting surviving node/edge " +
        "counts per round — the graph-cleaning primitive that strips " +
        "low-engagement periphery before expensive downstream " +
        "analytics (PageRank, embeddings) run on the core. Each round " +
        "is one degree agg + two node-keyed semi-joins, per-round " +
        "localCheckpoint, all shuffles bounded by the item catalog; T " +
        "travels as a broadcast 1-row frame built from EXACT BIGINT " +
        "ceiling arithmetic ((18W + 10n − 1) div 10n), so no float " +
        "ever decides a peel. The trace is a union of 1-row aggs — " +
        "nothing collects to the driver. Fixed rounds (converged " +
        "rounds no-op) keep the unrolled oracle byte-equivalent; at " +
        "100 TB the same loop runs until no row changes",
      Some {
        // MATERIALIZED: DuckDB inlines plain CTEs, and each round
        // references the previous one several times — unmaterialized,
        // the expansion is exponential in KcoreRounds.
        val undHead =
          """und AS MATERIALIZED (
            |  SELECT least(a, b) AS u, greatest(a, b) AS v,
            |    CAST(sum(n) AS BIGINT) AS w
            |  FROM edges WHERE a <> b GROUP BY 1, 2
            |), thr AS MATERIALIZED (
            |  SELECT (18 * (SELECT sum(w) FROM und)
            |    + 10 * (SELECT count(DISTINCT node) FROM
            |        (SELECT u AS node FROM und UNION ALL SELECT v FROM und) t1)
            |    - 1)
            |    // (10 * (SELECT count(DISTINCT node) FROM
            |        (SELECT u AS node FROM und UNION ALL SELECT v FROM und) t2))
            |    AS t
            |), s0 AS MATERIALIZED (SELECT u, v, w FROM und)""".stripMargin
        val rounds = (1 to KcoreRounds).map { i =>
          s"""k$i AS MATERIALIZED (
             |  SELECT node FROM
             |    (SELECT u AS node, w FROM s${i - 1}
             |     UNION ALL SELECT v, w FROM s${i - 1}) d
             |  CROSS JOIN thr GROUP BY node, t HAVING sum(w) >= t
             |), s$i AS MATERIALIZED (
             |  SELECT s${i - 1}.* FROM s${i - 1}
             |  WHERE u IN (SELECT node FROM k$i) AND v IN (SELECT node FROM k$i)
             |)""".stripMargin
        }.mkString(", ")
        val trace = (0 to KcoreRounds).map { i =>
          s"""SELECT CAST($i AS BIGINT) AS round,
             |  (SELECT count(DISTINCT node) FROM
             |    (SELECT u AS node FROM s$i UNION ALL SELECT v FROM s$i) x$i)
             |    AS n_nodes,
             |  (SELECT count(*) FROM s$i) AS n_edges""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH $edgesSqlCte, $undHead, $rounds
           |SELECT * FROM ($trace) ORDER BY round""".stripMargin
      },
    ) { (s, dir) =>
      corePeelTrace(undirectedWeighted(s, dir))
    },

    Q(
      "q_lpa_modularity",
      s"community detection ($LpaRounds synchronous weighted " +
        "label-propagation rounds, ties to min label) + the modularity " +
        "of the resulting partition: per-community size, internal " +
        "weight, total weighted degree, and Q — the partition-quality " +
        "metric that scores any community assignment. Each LPA round " +
        "is one edge-keyed vote join + a NODE-KEYED ranking window " +
        "(never global); modularity's numerator Σ_c(2·in_c·2m − " +
        "tot_c²) accumulates in EXACT BIGINT products (DECIMAL(38) at " +
        "100 TB weights) so community sum order cannot drift it, and " +
        "the single final division is 6dp-rounded. Degenerate " +
        "outcomes (one giant community on a uniform graph, Q = 0) are " +
        "faithful — the planted two-clique spec pins the informative " +
        "case. All shuffles node/community-keyed, catalog-bounded",
      Some {
        val head =
          """und AS (
            |  SELECT least(a, b) AS u, greatest(a, b) AS v,
            |    CAST(sum(n) AS BIGINT) AS w
            |  FROM edges WHERE a <> b GROUP BY 1, 2
            |), sym AS (
            |  SELECT u AS src, v AS dst, w FROM und
            |  UNION ALL SELECT v, u, w FROM und
            |), l0 AS (
            |  SELECT DISTINCT src AS node, src AS label FROM sym
            |)""".stripMargin
        val rounds = (1 to LpaRounds).map { i =>
          s"""v$i AS (
             |  SELECT s.dst AS node, l.label, CAST(sum(s.w) AS BIGINT) AS vw
             |  FROM l${i - 1} l JOIN sym s ON s.src = l.node
             |  GROUP BY s.dst, l.label
             |), l$i AS (
             |  SELECT node, label FROM (
             |    SELECT node, label, row_number() OVER (
             |      PARTITION BY node ORDER BY vw DESC, label) AS rk
             |    FROM v$i) WHERE rk = 1
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH $edgesSqlCte, $head, $rounds, deg AS (
           |  SELECT node, CAST(sum(w) AS BIGINT) AS dw FROM
           |    (SELECT u AS node, w FROM und UNION ALL SELECT v, w FROM und) d
           |  GROUP BY node
           |), mm AS (SELECT 2 * CAST(sum(w) AS BIGINT) AS m2 FROM und),
           |comm AS (
           |  SELECT l.label AS community, count(*) AS n_nodes,
           |    CAST(sum(d.dw) AS BIGINT) AS tot_w
           |  FROM l$LpaRounds l JOIN deg d ON l.node = d.node GROUP BY l.label
           |), inw AS (
           |  SELECT la.label AS community, CAST(sum(e2.w) AS BIGINT) AS in_w
           |  FROM und e2
           |  JOIN l$LpaRounds la ON e2.u = la.node
           |  JOIN l$LpaRounds lb ON e2.v = lb.node
           |  WHERE la.label = lb.label GROUP BY la.label
           |), qn AS (
           |  SELECT CAST(sum(2 * coalesce(i.in_w, 0) * mm.m2
           |      - c.tot_w * c.tot_w) AS BIGINT) AS num,
           |    max(mm.m2) AS m2v
           |  FROM comm c LEFT JOIN inw i ON c.community = i.community
           |  CROSS JOIN mm
           |)
           |SELECT c.community, c.n_nodes, coalesce(i.in_w, 0) AS in_w,
           |  c.tot_w,
           |  round(q.num / (CAST(q.m2v AS DOUBLE) * q.m2v), 6) AS modularity
           |FROM comm c LEFT JOIN inw i ON c.community = i.community
           |CROSS JOIN qn q
           |ORDER BY c.community""".stripMargin
      },
    ) { (s, dir) =>
      lpaModularity(undirectedWeighted(s, dir))
    },

    Q(
      "q_betweenness",
      s"sampled-source BRANDES betweenness centrality (Brandes 2001 / " +
        s"Brandes-Pich sampling), radius ≤ $BcRounds from sources " +
        s"item %% $BcSeedMod = 0: the broker score — how much " +
        "shortest-path traffic a node CARRIES — which no degree/" +
        "PageRank/closeness face measures (a bridge node has tiny " +
        "degree and huge betweenness). Forward: level-synchronous " +
        "BFS carrying σ = #shortest paths (EXACT BIGINT sums — path " +
        "counts are additive over predecessor levels, first-reach " +
        "enforced by anti-join). Backward: the Brandes dependency " +
        "recursion δ(v) = Σ_{w∈succ} σv/σw·(1+δw) level by level, " +
        "each level's δ rounded to the 9dp grid (the PageRank " +
        "float-SUM-order convention) so both engines walk identical " +
        "doubles; bc(v) = Σ_sources δ, 6dp. Every round is ONE " +
        "edge-keyed join + (src, node)-keyed agg with localCheckpoint " +
        "— state is (sources × reached) rows, never paths (σ counts " +
        "paths without materializing one). BetweennessSpec pins " +
        "hand-computed chain and diamond graphs (the σ-split case " +
        "where δ halves). At 100 TB: Brandes-Pich sampling + bounded " +
        "radius is exactly what production graph engines ship",
      Some {
        def anti(prev: Seq[String], t: String) = prev.map(p =>
          s"NOT EXISTS (SELECT 1 FROM $p p WHERE p.src = $t.src AND p.v = $t.v)")
          .mkString(" AND ")
        s"""WITH $edgesSqlCte,
           |e2 AS (SELECT DISTINCT a, b FROM edges),
           |items AS (
           |  SELECT DISTINCT item FROM (
           |    SELECT a AS item FROM edges UNION ALL SELECT b FROM edges)
           |), s0 AS (
           |  SELECT item AS src, item AS v, CAST(1 AS BIGINT) AS sigma
           |  FROM items WHERE item % $BcSeedMod = 0
           |), f1r AS (
           |  SELECT d.src, e.b AS v, CAST(sum(d.sigma) AS BIGINT) AS sigma
           |  FROM s0 d JOIN e2 e ON e.a = d.v GROUP BY d.src, e.b
           |), f1 AS (SELECT * FROM f1r WHERE ${anti(Seq("s0"), "f1r")}
           |), f2r AS (
           |  SELECT d.src, e.b AS v, CAST(sum(d.sigma) AS BIGINT) AS sigma
           |  FROM f1 d JOIN e2 e ON e.a = d.v GROUP BY d.src, e.b
           |), f2 AS (SELECT * FROM f2r WHERE ${anti(Seq("s0", "f1"), "f2r")}
           |), f3r AS (
           |  SELECT d.src, e.b AS v, CAST(sum(d.sigma) AS BIGINT) AS sigma
           |  FROM f2 d JOIN e2 e ON e.a = d.v GROUP BY d.src, e.b
           |), f3 AS (SELECT * FROM f3r WHERE ${anti(Seq("s0", "f1", "f2"), "f3r")}
           |), d3 AS (
           |  SELECT src, v, sigma, CAST(0 AS DOUBLE) AS delta FROM f3
           |), c2 AS (
           |  SELECT l.src, l.v,
           |    round(sum(CAST(l.sigma AS DOUBLE) / n.sigma * (1 + n.delta)), 9)
           |      AS delta
           |  FROM f2 l JOIN e2 e ON e.a = l.v
           |  JOIN d3 n ON n.src = l.src AND n.v = e.b
           |  GROUP BY l.src, l.v
           |), d2 AS (
           |  SELECT l.src, l.v, l.sigma, coalesce(c.delta, 0) AS delta
           |  FROM f2 l LEFT JOIN c2 c ON c.src = l.src AND c.v = l.v
           |), c1 AS (
           |  SELECT l.src, l.v,
           |    round(sum(CAST(l.sigma AS DOUBLE) / n.sigma * (1 + n.delta)), 9)
           |      AS delta
           |  FROM f1 l JOIN e2 e ON e.a = l.v
           |  JOIN d2 n ON n.src = l.src AND n.v = e.b
           |  GROUP BY l.src, l.v
           |), d1 AS (
           |  SELECT l.src, l.v, l.sigma, coalesce(c.delta, 0) AS delta
           |  FROM f1 l LEFT JOIN c1 c ON c.src = l.src AND c.v = l.v
           |), bc AS (
           |  SELECT v AS item, round(sum(delta), 6) AS bc FROM (
           |    SELECT src, v, delta FROM d1
           |    UNION ALL SELECT src, v, delta FROM d2
           |    UNION ALL SELECT src, v, delta FROM d3)
           |  WHERE v <> src GROUP BY v
           |)
           |SELECT i.item, coalesce(bc.bc, 0.0) AS bc
           |FROM items i LEFT JOIN bc ON bc.item = i.item
           |ORDER BY i.item""".stripMargin
      },
    ) { (s, dir) =>
      betweenness(edgesOf(s, dir), BcSeedMod, BcRounds)
    },

    Q(
      "q_random_walk",
      s"DeepWalk/node2vec CORPUS GENERATION (Perozzi 2014; p=q=1): " +
        s"one $RwSteps-step random walk per item over the transition " +
        "graph, each step drawn ∝ TRANSITION WEIGHT by exact integer " +
        "inverse-CDF — x = md5(start|step) mod Σw(v), next = first " +
        "neighbor (by id) whose cumulative weight exceeds x — so the " +
        "walk follows the actual Markov chain, not a uniform " +
        "neighbor pick, and EVERY arithmetic step is BIGINT (no " +
        "float sampling anywhere; the md5 seed is the q_span_mask " +
        "deterministic stand-in convention). Walks are the " +
        "skip-gram TRAINING CORPUS that turns a graph into " +
        "embeddings — the graph-side twin of q_contrastive_pairs. " +
        "Dead ends truncate (no self-padding). The distributed " +
        "shape: the walk table is (start, step, node) rows built by " +
        s"$RwSteps adjacency joins — walks never materialize " +
        "per-executor state, the cumulative-weight adjacency is " +
        "computed ONCE (a per-node window over the edge list), and " +
        "at 100 TB each step is one keyed join of #nodes rows " +
        "against the adjacency. Oracle fully unrolled",
      Some {
        val steps = (1 to RwSteps).map { t =>
          s""", w$t AS (
             |  SELECT w.s, $t AS t, adj.b AS v
             |  FROM w${t - 1} w
             |  JOIN adj ON adj.a = w.v
             |    AND adj.cumw > ${graft.functions.Portable.md5Hash60Sql(
                    s"CAST(w.s AS VARCHAR) || '|' || $t || '|rw'")} % adj.wsum
             |    AND adj.cumw - adj.n <= ${graft.functions.Portable.md5Hash60Sql(
                    s"CAST(w.s AS VARCHAR) || '|' || $t || '|rw'")} % adj.wsum
             |)""".stripMargin
        }.mkString
        val union = (0 to RwSteps)
          .map(t => s"SELECT s, t, v FROM w$t").mkString("\n  UNION ALL ")
        s"""WITH $edgesSqlCte,
           |adj AS (
           |  SELECT a, b, n,
           |    CAST(sum(n) OVER (PARTITION BY a ORDER BY b) AS BIGINT) AS cumw,
           |    CAST(sum(n) OVER (PARTITION BY a) AS BIGINT) AS wsum
           |  FROM edges
           |), items AS (
           |  SELECT DISTINCT item FROM (
           |    SELECT a AS item FROM edges UNION ALL SELECT b FROM edges)
           |), w0 AS (
           |  SELECT item AS s, 0 AS t, item AS v FROM items
           |)$steps
           |SELECT s, CAST(t AS BIGINT) AS t, v FROM (
           |  $union
           |) ORDER BY s, t""".stripMargin
      },
    ) { (s, dir) =>
      randomWalks(edgesOf(s, dir), RwSteps)
    },

    Q(
      "q_ktruss",
      s"$KtrussK-TRUSS decomposition of the top-$TriTopEdges " +
        "undirected transition edges (Cohen 2008): keep only edges " +
        s"supported by ≥ ${KtrussK - 2} triangles WITHIN the " +
        "surviving subgraph — the cohesion mesh q_kcore's degree " +
        "peel can't give (a star has high core but zero truss: " +
        "truss demands MUTUAL triangles, the community-core " +
        s"definition). $KtrussRounds unrolled peel rounds, each ONE " +
        "edge-keyed support join + filter (support recomputed " +
        "against survivors only — the point of the peel); " +
        "KtrussSpec pins the fixpoint is reached within the round " +
        "budget at the driver SFs and hand-checks a planted " +
        "clique-plus-tail. Support counting joins the symmetric " +
        "adjacency twice per edge — the wedge join bounded by the " +
        "top-E cut here and by degree-orientation at 100 TB (the " +
        "q_triangles Σd² discipline). Readout = surviving edges " +
        "with final in-subgraph support. At 100 TB: rounds scale " +
        "with peel depth, state with surviving edges",
      Some {
        val rounds = (1 to KtrussRounds).map { i =>
          s""", adj$i AS MATERIALIZED (
             |  SELECT wa AS x, wb AS y FROM e${i - 1}
             |  UNION ALL SELECT wb, wa FROM e${i - 1}
             |), s$i AS MATERIALIZED (
             |  SELECT e.wa, e.wb, CAST(count(*) AS BIGINT) AS sup
             |  FROM e${i - 1} e
             |  JOIN adj$i p ON p.x = e.wa
             |  JOIN adj$i q ON q.x = e.wb AND q.y = p.y
             |  GROUP BY e.wa, e.wb
             |), e$i AS MATERIALIZED (
             |  SELECT s.wa, s.wb FROM s$i s WHERE s.sup >= ${KtrussK - 2}
             |)""".stripMargin
        }.mkString
        s"""WITH $edgesSqlCte,
           |und AS (
           |  SELECT least(a, b) AS wa, greatest(a, b) AS wb,
           |    CAST(sum(n) AS BIGINT) AS n
           |  FROM edges WHERE a <> b GROUP BY 1, 2
           |), e0 AS MATERIALIZED (
           |  SELECT wa, wb FROM und ORDER BY n DESC, wa, wb LIMIT $TriTopEdges
           |)$rounds, adjF AS MATERIALIZED (
           |  SELECT wa AS x, wb AS y FROM e$KtrussRounds
           |  UNION ALL SELECT wb, wa FROM e$KtrussRounds
           |)
           |SELECT e.wa, e.wb, CAST(count(*) AS BIGINT) AS support
           |FROM e$KtrussRounds e
           |JOIN adjF p ON p.x = e.wa
           |JOIN adjF q ON q.x = e.wb AND q.y = p.y
           |GROUP BY e.wa, e.wb
           |ORDER BY wa, wb""".stripMargin
      },
    ) { (s, dir) =>
      ktruss(topEdges(s, dir), KtrussK, KtrussRounds)
    },

    Q(
      "q_katz",
      s"KATZ centrality on the directed transition graph, computed " +
        s"EXACTLY: with attenuation α = 1/$KatzAlphaInv and " +
        s"$KatzRounds unrolled terms, katz(v) = Σ_k α^k·paths_k(v) " +
        "over the UNWEIGHTED adjacency — and since path counts are " +
        "exact BIGINTs and α is an exact dyadic rational, the whole " +
        s"sum clears denominators: katz·$KatzAlphaInv^$KatzRounds " +
        "is a pure integer, finished by ONE division (the " +
        "q_random_walk zero-float-sampling discipline applied to a " +
        "centrality — PageRank needs per-round float rounding " +
        "grids; truncated Katz needs none). The influence reading " +
        "beside q_pagerank: Katz counts ALL attenuated paths, so " +
        "low-degree nodes adjacent to hubs still score — the " +
        "recommendation-seed ranking. Each path round is one " +
        "edge-keyed join + node-keyed agg on node-sized state. At " +
        "100 TB: path counts want DECIMAL(38) past ~degree^k·2⁶³ — " +
        "documented; state scales with nodes, rounds fixed",
      Some {
        val rounds = (2 to KatzRounds).map { i =>
          s""", p$i AS (
             |  SELECT d.b AS v, CAST(sum(p.c) AS BIGINT) AS c
             |  FROM p${i - 1} p JOIN dedges d ON d.a = p.v
             |  GROUP BY d.b
             |)""".stripMargin
        }.mkString
        val terms = (1 to KatzRounds).map { k =>
          val scale = math.pow(KatzAlphaInv.toDouble,
            (KatzRounds - k).toDouble).toLong
          s"$scale * coalesce(p$k.c, 0)"
        }.mkString(" + ")
        val joins = (1 to KatzRounds)
          .map(k => s"LEFT JOIN p$k ON p$k.v = nd.node").mkString("\n  ")
        val denom = math.pow(KatzAlphaInv.toDouble,
          KatzRounds.toDouble).toLong
        s"""WITH $edgesSqlCte, dedges AS (
           |  SELECT DISTINCT a, b FROM edges WHERE a <> b
           |), nodes AS (
           |  SELECT DISTINCT a AS node FROM dedges
           |  UNION SELECT DISTINCT b FROM dedges
           |), p1 AS (
           |  SELECT b AS v, CAST(count(*) AS BIGINT) AS c
           |  FROM dedges GROUP BY b
           |)$rounds
           |SELECT nd.node AS item,
           |  round(CAST($terms AS DOUBLE) / $denom.0, 6) AS katz
           |FROM nodes nd
           |  $joins
           |ORDER BY item""".stripMargin
      },
    ) { (s, dir) =>
      katz(edgesOf(s, dir), KatzAlphaInv, KatzRounds)
    },
  )

  /** The q_ktruss peel over an undirected canonical edge list
    * (wa < wb) — factored so KtrussSpec can plant a clique-plus-tail
    * and pin both the surviving mesh and fixpoint-within-budget.
    * Each round recomputes per-edge triangle support against the
    * SURVIVORS (two symmetric-adjacency joins) and drops edges below
    * k−2; the final support readout runs once more over the settled
    * subgraph. */
  private[graft] def ktruss(edges0: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    def support(e: DataFrame): DataFrame = {
      val adj = e.select(col("wa").as("x"), col("wb").as("y"))
        .unionAll(e.select(col("wb").as("x"), col("wa").as("y")))
      e.join(adj.as("p"), col("wa") === col("p.x"))
        .join(adj.as("q"),
          col("wb") === col("q.x") && col("p.y") === col("q.y"))
        .groupBy("wa", "wb").agg(count(lit(1)).as("sup"))
    }
    var e = edges0.select("wa", "wb").localCheckpoint()
    // Early exit at the FIXPOINT (r15): rounds only ever REMOVE edges,
    // so an unchanged count means an unchanged edge set, and every
    // remaining budgeted round provably no-ops on it — skipping them
    // skips their full triangle-support joins while the result stays
    // bit-identical to the unrolled oracle (which also no-ops there).
    // The count rides the just-checkpointed frame (one tiny job).
    var prev = e.count()
    var settled = false
    for (_ <- 1 to rounds if !settled) {
      e = e.join(support(e), Seq("wa", "wb"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select("wa", "wb")
        .localCheckpoint()
      val n = e.count()
      settled = n == prev
      prev = n
    }
    support(e).select(col("wa"), col("wb"), col("sup").as("support"))
      .orderBy("wa", "wb")
  }

  /** The q_katz truncated-series centrality over a directed weighted
    * edge list (a, b, n) — factored so KatzSpec can hand-count path
    * sums on a planted chain+hub. Unweighted distinct adjacency;
    * exact BIGINT path counts per length; the dyadic α clears every
    * denominator so the only float is the final display division. */
  private[graft] def katz(edges0: DataFrame, alphaInv: Long,
      rounds: Int): DataFrame = {
    val de = edges0.filter(col("a") =!= col("b"))
      .select("a", "b").distinct().localCheckpoint()
    val nodes = de.select(col("a").as("node"))
      .unionAll(de.select(col("b").as("node"))).distinct()
    var paths = Seq.empty[DataFrame]
    var p = de.groupBy(col("b").as("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    paths :+= p
    for (_ <- 2 to rounds) {
      p = p.join(de, col("v") === col("a"))
        .groupBy(col("b").as("v2")).agg(sum(col("c")).as("c2"))
        .select(col("v2").as("v"), col("c2").as("c"))
        .localCheckpoint()
      paths :+= p
    }
    val denom = math.pow(alphaInv.toDouble, rounds.toDouble)
    val joined = paths.zipWithIndex.foldLeft(nodes) { case (acc, (pk, i)) =>
      acc.join(pk.select(col("v"), col("c").as(s"c${i + 1}")),
        col("node") === col("v"), "left").drop("v")
    }
    val term = (1 to rounds).map { kk =>
      val scale = math.pow(alphaInv.toDouble, (rounds - kk).toDouble).toLong
      s"$scale * coalesce(c$kk, 0)"
    }.mkString(" + ")
    joined
      .selectExpr("node AS item",
        s"round(CAST($term AS DOUBLE) / $denom, 6) AS katz")
      .orderBy("item")
  }

  /** Deterministic weighted random-walk corpus over a directed
    * weighted edge list (a, b, n) — factored so RandomWalkSpec can
    * feed hand graphs. One walk per node; exact integer inverse-CDF
    * step choice (see the q_random_walk registry entry). */
  private[graft] def randomWalks(edges0: DataFrame, steps: Int): DataFrame = {
    val edges = edges0.select("a", "b", "n").localCheckpoint()
    val adj = edges
      .withColumn("cumw", sum(col("n"))
        .over(Window.partitionBy("a").orderBy("b")))
      .withColumn("wsum", sum(col("n")).over(Window.partitionBy("a")))
      .localCheckpoint()
    val items = edges.select(col("a").as("item"))
      .unionByName(edges.select(col("b").as("item"))).distinct()
    var frontier = items.select(col("item").as("s"), lit(0L).as("t"),
      col("item").as("v"))
    var walks = frontier
    for (t <- 1 to steps) {
      val x = graft.functions.Portable.md5Hash60(
        concat(col("s").cast("string"), lit(s"|$t|rw"))) % col("wsum")
      frontier = frontier.join(adj, frontier("v") === adj("a"))
        .filter(col("cumw") > x && col("cumw") - col("n") <= x)
        .select(col("s"), lit(t.toLong).as("t"), col("b").as("v"))
        .localCheckpoint()
      walks = walks.unionByName(frontier)
    }
    walks.orderBy("s", "t")
  }

  /** Sampled-source bounded-radius Brandes over a directed edge list
    * (a, b[, ...]) — factored so BetweennessSpec can feed hand graphs.
    * See the q_betweenness registry entry for the level-synchronous
    * σ/δ design and the 9dp grid convention. */
  private[graft] def betweenness(
      edges0: DataFrame, seedMod: Int, rounds: Int): DataFrame = {
    val edges = edges0.select("a", "b").distinct().localCheckpoint()
    val items = edges.select(col("a").as("item"))
      .unionByName(edges.select(col("b").as("item"))).distinct()
      .localCheckpoint()
    val s0 = items.filter(pmod(col("item"), lit(seedMod)) === 0)
      .select(col("item").as("src"), col("item").as("v"),
        lit(1L).as("sigma"))
      .localCheckpoint()
    var seen = s0
    var frontier = s0
    val levels = Seq.newBuilder[DataFrame]
    for (_ <- 1 to rounds) {
      val fi = frontier.join(edges, frontier("v") === edges("a"))
        .select(col("src"), col("b").as("v"), col("sigma"))
        .groupBy("src", "v").agg(sum(col("sigma")).as("sigma"))
        .join(seen.select("src", "v"), Seq("src", "v"), "left_anti")
        .localCheckpoint()
      levels += fi
      seen = seen.unionByName(fi).localCheckpoint()
      frontier = fi
    }
    val lvls = levels.result()
    var deltaNext = lvls.last.withColumn("delta", lit(0.0))
      .localCheckpoint()
    var acc = deltaNext.select("src", "v", "delta")
    for (i <- (rounds - 1) to 1 by -1) {
      val li = lvls(i - 1)
      val contrib = li.join(edges, li("v") === edges("a"))
        .select(col("src"), col("v"), col("sigma"), col("b"))
        .join(deltaNext.select(col("src"), col("v").as("b"),
          col("sigma").as("sw"), col("delta").as("dw")), Seq("src", "b"))
        .groupBy("src", "v")
        .agg(round(sum(col("sigma").cast("double") / col("sw")
          * (lit(1.0) + col("dw"))), 9).as("delta"))
      deltaNext = li.join(contrib, Seq("src", "v"), "left")
        .select(col("src"), col("v"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint()
      acc = acc.unionByName(deltaNext.select("src", "v", "delta"))
    }
    val bc = acc.filter(col("v") =!= col("src"))
      .groupBy("v").agg(round(sum(col("delta")), 6).as("bc"))
      .withColumnRenamed("v", "item")
    items.join(bc, Seq("item"), "left")
      .select(col("item"), coalesce(col("bc"), lit(0.0)).as("bc"))
      .orderBy("item")
  }

  /** q_item_cf's oracle — shared VERBATIM by q_stream_item_cf (the
    * incremental pair-count state readout is, by the set-decomposition
    * argument in that entry, the identical computation). */
  private[graft] def itemCfSql: String =
    s"""WITH ui AS (
       |  SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |), ic AS (
       |  SELECT item, CAST(count(*) AS BIGINT) AS c FROM ui GROUP BY item
       |), pr AS (
       |  SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS cij
       |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2 HAVING count(*) >= $ItemCfMinSupport
       |), sym AS (
       |  SELECT i, j, cij FROM pr UNION ALL SELECT j, i, cij FROM pr
       |), cosed AS (
       |  SELECT s.i AS item, s.j AS neighbor, s.cij AS c_both,
       |    round(CAST(s.cij AS DOUBLE)
       |      / round(sqrt(CAST(CAST(ci.c AS HUGEINT) * cj.c AS DOUBLE)), 6),
       |      6) AS cosine
       |  FROM sym s JOIN ic ci ON ci.item = s.i JOIN ic cj ON cj.item = s.j
       |), rk AS (
       |  SELECT item, neighbor, c_both, cosine,
       |    row_number() OVER (PARTITION BY item
       |      ORDER BY cosine DESC, c_both DESC, neighbor) AS rk
       |  FROM cosed
       |)
       |SELECT item, neighbor, c_both, cosine, CAST(rk AS BIGINT) AS rk
       |FROM rk WHERE rk <= $ItemCfTopK
       |ORDER BY item, rk""".stripMargin

  /** Item-item CF core over a (user_id, item) incidence frame
    * (q_item_cf + the planted-taste spec): catalog-bounded pair agg
    * with min support, broadcast item totals, 6dp cosine with a
    * (cosine, co-count, neighbor) deterministic rank. Unordered. */
  private[graft] def itemCf(uiRaw: DataFrame): DataFrame = {
    val ui = uiRaw.localCheckpoint() // read thrice: totals + both join sides
    val a = ui.select(col("user_id"), col("item").as("i"))
    val b = ui.select(col("user_id"), col("item").as("j"))
    val pr = a.join(b, Seq("user_id")).filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("cij"))
    itemCfFinish(pr, ui.groupBy("item").agg(count(lit(1)).as("c")))
  }

  /** The readout half of item-item CF over accumulated (i, j, cij)
    * pair counts (i<j, UNFILTERED — min support applies here so an
    * incremental state that crosses the threshold later is never
    * lost) and (item, c) totals — shared by q_item_cf and the
    * q_stream_item_cf incremental state readout. Unordered. */
  private[graft] def itemCfFinish(pr: DataFrame, ic: DataFrame): DataFrame = {
    val kept = pr.filter(col("cij") >= ItemCfMinSupport)
    val sym = kept.select(col("i"), col("j"), col("cij"))
      .union(kept.select(col("j").as("i"), col("i").as("j"), col("cij")))
    val cosed = sym
      .join(broadcast(ic.select(col("item").as("i"), col("c").as("ci"))), "i")
      .join(broadcast(ic.select(col("item").as("j"), col("c").as("cj"))), "j")
      .select(col("i").as("item"), col("j").as("neighbor"),
        col("cij").as("c_both"),
        round(col("cij").cast("double")
          / round(sqrt((col("ci").cast("decimal(38,0)") * col("cj"))
            .cast("double")), 6), 6).as("cosine"))
    val w = Window.partitionBy("item")
      .orderBy(col("cosine").desc, col("c_both").desc, col("neighbor"))
    cosed.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= ItemCfTopK)
  }

  /** Materialize AND reset plan statistics. `localCheckpoint` alone
    * carries the ORIGINAL plan's estimated sizeInBytes into the new
    * leaf (Spark 4's rewriteStatsAndConstraints), and the size-only
    * join estimate is a PRODUCT of child sizes — so a loop of
    * checkpoint → join → checkpoint compounds the BigInt estimate
    * exponentially (digit count ~doubles per round) until the stats
    * visitor itself burns minutes in BigInteger multiplication. The
    * RDD round-trip keeps the materialized data but gives the leaf
    * a fresh default size, bounding every round's stats walk. */
  private[graft] def freshStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.localCheckpoint().rdd, df.schema)

  /** Borůvka minimum-spanning-forest core over an undirected
    * weighted (u, v, w) frame (q_mst + the planted-graph spec): per
    * round every component picks its minimum outgoing edge under the
    * TOTAL order (w, u, v) — the lexicographic tie-break makes every
    * edge rank distinct, so the MSF is unique and cycle-free and the
    * declarative-Prim oracle lands on the identical edge set. Rounds
    * at least halve the component count (≤ log₂V, converged rounds
    * exit); per round one edge-relabel join + one component-keyed
    * min(struct) agg + a pointer-jump CC over the forest-so-far.
    * Returns the chosen (u, v, w) edges, unordered. */
  private[graft] def boruvkaMst(undRaw: DataFrame): DataFrame = {
    // CONTRACTED edge state (r15): each inter-component edge rides as
    // (cu, cv | u, v, w) — current component of each endpoint plus the
    // ORIGINAL endpoints/weight (the output identity). The r14 shape
    // relabeled the FULL edge set against a node→component map and
    // re-ran CC over the WHOLE forest-so-far every round; contraction
    // replaces both with work proportional to the surviving frontier:
    // the edge frame shrinks as components merge (intra-component
    // rows are dropped the round they appear), and CC runs on the
    // component graph formed by the round's CHOSEN edges only
    // (≤ #components nodes, halving per round) instead of the
    // accumulated forest. Labels compose transitively — cu is always
    // the min original node id of u's current component, exactly the
    // label the full-forest CC produced — so the chosen edge per
    // component, and hence the MSF, is bit-identical to the r14 shape
    // (MstSpec's planted graph + the declarative-Prim oracle gate it).
    // Self-loops can never join components: drop them up front (the
    // current caller, undirectedWeighted, already filters u =!= v, but
    // a future caller's self-loop would otherwise be picked as its
    // component's min edge in round 1 and emitted into the MSF).
    val ce0 = undRaw.filter(col("u") =!= col("v"))
      .select(col("u").as("cu"), col("v").as("cv"),
        col("u"), col("v"), col("w")).localCheckpoint()
    val mst0 = undRaw.select("u", "v", "w").filter(lit(false)).localCheckpoint()
    if (ce0.isEmpty) return mst0
    val ((_, mst), _) = Fixpoint.iterate("boruvkaMst", 40,
        (ce0, mst0)) { case (ce, mstSoFar) =>
      val cand = ce.select(col("cu").as("c"), col("w"), col("u"), col("v"),
          col("cu"), col("cv"))
        .unionAll(ce.select(col("cv").as("c"), col("w"), col("u"), col("v"),
          col("cu"), col("cv")))
      // min(struct) orders on (w, u, v) first — the total order that
      // makes the MSF unique; cu/cv tag along for the contraction
      // graph. distinct(): both sides of a merge may pick the same
      // edge (same 5-tuple — (w, u, v) is already unique per edge).
      val chosen = cand.groupBy("c")
        .agg(min(struct(col("w"), col("u"), col("v"),
          col("cu"), col("cv"))).as("m"))
        .select(col("m.w").as("w"), col("m.u").as("u"), col("m.v").as("v"),
          col("m.cu").as("cu"), col("m.cv").as("cv"))
        .distinct()
        .localCheckpoint() // read 2×: mst append + contraction CC
      val mst = freshStats(mstSoFar.unionAll(chosen.select("u", "v", "w")))
      // CC over the component graph: nodes are component ids (each the
      // min original id of its component), so the min-label CC yields
      // the merged component's min id — label composition stays exact.
      val (lab, _) = ccPointerJump(
        chosen.select(col("cu").as("u"), col("cv").as("v")))
      // Every cu/cv in ce has at least this edge, so its component
      // picked a chosen edge and appears in the contraction graph; the
      // left+coalesce is a belt, not a semantic branch. lab is
      // component-count-sized: broadcast both relabel joins.
      val lu = broadcast(lab.select(col("node").as("cu"), col("label").as("lu")))
      val lv = broadcast(lab.select(col("node").as("cv"), col("label").as("lv")))
      val next = freshStats(ce.join(lu, Seq("cu"), "left")
        .join(lv, Seq("cv"), "left")
        .select(coalesce(col("lu"), col("cu")).as("cu"),
          coalesce(col("lv"), col("cv")).as("cv"),
          col("u"), col("v"), col("w"))
        .filter(col("cu") =!= col("cv")))
      ((next, mst), next.isEmpty)
  }
    mst
  }

  /** Association-rule core over a (user_id, item) incidence frame
    * (q_assoc_rules + the planted-basket spec): min-support pair agg,
    * broadcast N and item totals, 6dp confidence/lift/support with a
    * (lift, confidence, consequent) deterministic rank. Unordered. */
  private[graft] def assocRules(uiRaw: DataFrame): DataFrame = {
    val ui = uiRaw.localCheckpoint() // read 4×: N + totals + join sides
    val nu = ui.agg(countDistinct(col("user_id")).as("n"))
    val ic = ui.groupBy("item").agg(count(lit(1)).as("c"))
    val a = ui.select(col("user_id"), col("item").as("i"))
    val b = ui.select(col("user_id"), col("item").as("j"))
    val pr = a.join(b, Seq("user_id")).filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("cij"))
      .filter(col("cij") >= ItemCfMinSupport)
    val sym = pr.select(col("i"), col("j"), col("cij"))
      .union(pr.select(col("j").as("i"), col("i").as("j"), col("cij")))
    val ruled = sym
      .join(broadcast(ic.select(col("item").as("i"), col("c").as("ci"))), "i")
      .join(broadcast(ic.select(col("item").as("j"), col("c").as("cj"))), "j")
      .crossJoin(broadcast(nu))
      .select(col("i").as("antecedent"), col("j").as("consequent"),
        col("cij").as("c_both"),
        round(col("cij").cast("double") / col("n"), 6).as("support"),
        round(col("cij").cast("double") / col("ci"), 6).as("confidence"),
        round((col("n").cast("decimal(38,0)") * col("cij")).cast("double")
          / (col("ci").cast("decimal(38,0)") * col("cj")).cast("double"), 6)
          .as("lift"))
    val w = Window.partitionBy("antecedent")
      .orderBy(col("lift").desc, col("confidence").desc, col("consequent"))
    ruled.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= ItemCfTopK)
  }

  /** Undirected distinct-pair weighted edges (u < v, w = summed
    * directed transition counts) — shared by q_kcore and
    * q_lpa_modularity. */
  private[graft] def undirectedWeighted(s: SparkSession, dir: String): DataFrame =
    edgesOf(s, dir)
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("uu"),
        greatest(col("a"), col("b")).as("vv"), col("n"))
      .groupBy(col("uu").as("u"), col("vv").as("v"))
      .agg(sum("n").as("w"))

  /** q_kcore core (planted-graph spec entry point): fixed-round
    * weighted peel, returning the (round, n_nodes, n_edges) trace. */
  private[graft] def corePeelTrace(undRaw: DataFrame): DataFrame = {
    val und = undRaw.localCheckpoint()
    val nodesOf = (e: DataFrame) =>
      e.select(explode(array(col("u"), col("v"))).as("node")).distinct()
    val thr = und.agg(sum("w").as("tw"))
      .crossJoin(nodesOf(und).agg(count(lit(1)).as("nc")))
      .select(expr("(18 * tw + 10 * nc - 1) div (10 * nc)").as("t"))
    def traceRow(round: Int, e: DataFrame): DataFrame =
      nodesOf(e).agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .select(lit(round.toLong).as("round"), col("n_nodes"), col("n_edges"))
    var edges = und
    var trace = traceRow(0, edges)
    // Early exit at the FIXPOINT (r15): the peel only ever removes
    // edges, so an unchanged count means an unchanged edge set and
    // every later round provably reproduces it — their trace rows are
    // synthesized from the settled frame (same aggregates, new round
    // literal) without re-running the degree agg + semi-join pair.
    // Bit-identical to the fully unrolled oracle trace.
    var prev = edges.count()
    var i = 1
    var settled = false
    while (i <= KcoreRounds && !settled) {
      val keep = edges
        .select(explode(array(col("u"), col("v"))).as("node"), col("w"))
        .groupBy("node").agg(sum("w").as("dw"))
        .crossJoin(broadcast(thr))
        .filter(col("dw") >= col("t"))
        .select("node")
      edges = edges
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select("u", "v", "w")
        .localCheckpoint()
      trace = trace.unionAll(traceRow(i, edges))
      val n = edges.count()
      settled = n == prev
      prev = n
      i += 1
    }
    for (j <- i to KcoreRounds) trace = trace.unionAll(traceRow(j, edges))
    trace.orderBy("round")
  }

  /** Synchronous weighted LPA labels after `rounds` rounds (ties to
    * min label); returns (node, label). Every node has at least one
    * edge so the vote join is total. */
  private[graft] def lpaLabels(und: DataFrame, rounds: Int): DataFrame = {
    val sym = und.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(und.select(col("v"), col("u"), col("w")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val votes = labels.join(sym, labels("node") === sym("src"))
        .groupBy(col("dst").as("vnode"), col("label"))
        .agg(sum("w").as("vw"))
      val byNode = Window.partitionBy("vnode")
        .orderBy(col("vw").desc, col("label"))
      labels = votes.withColumn("rk", row_number().over(byNode))
        .filter(col("rk") === 1)
        .select(col("vnode").as("node"), col("label"))
        .localCheckpoint()
    }
    labels
  }

  /** q_lpa_modularity core (planted-graph spec entry point): LPA
    * partition rollup + exact-numerator modularity. */
  private[graft] def lpaModularity(undRaw: DataFrame): DataFrame = {
    val und = undRaw.localCheckpoint()
    val labels = lpaLabels(und, LpaRounds).localCheckpoint()
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("node"), col("w"))
      .groupBy("node").agg(sum("w").as("dw"))
    val m2 = und.agg((lit(2L) * sum("w")).as("m2"))
    val comm = labels.join(deg, "node")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("dw").as("tot_w"))
      .localCheckpoint() // read twice: qnum + final select
    val la = labels.select(col("node").as("u"), col("label").as("cu"))
    val lb = labels.select(col("node").as("v"), col("label").as("cv"))
    val inw = und.join(la, "u").join(lb, "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(sum("w").as("in_w"))
    val withIn = comm.join(inw, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("in_w"), lit(0L)).as("in_w"), col("tot_w"))
      .localCheckpoint() // read twice: numerator + output rows
    val qn = withIn.crossJoin(broadcast(m2))
      .agg(sum(lit(2L) * col("in_w") * col("m2")
        - col("tot_w") * col("tot_w")).as("num"),
        max(col("m2")).as("m2v"))
    withIn.crossJoin(broadcast(qn))
      .select(col("community"), col("n_nodes"), col("in_w"), col("tot_w"),
        round(col("num") / (col("m2v").cast("double") * col("m2v")), 6)
          .as("modularity"))
      .orderBy("community")
  }

  /** Exact STRONGLY connected components of a directed edge list
    * (src, dst) — trim + forward-max coloring + same-color backward
    * sweep (Orzan's coloring, the standard distributed SCC), looped
    * to convergence with loud round caps. Returns (node, scc_label)
    * with label = min member id.
    *
    * Per outer round: (1) TRIM peels nodes with no in- or no
    * out-edge in the remaining graph (each is provably a singleton
    * SCC) until stable — this digests the DAG periphery that would
    * otherwise cost one coloring round per condensation layer;
    * (2) COLOR propagates the max ancestor id forward to fixpoint —
    * within an SCC everyone is everyone's ancestor, so a whole SCC
    * shares its root's color; (3) the BACKWARD sweep grows, from
    * each color root, the set of same-color nodes that can reach it
    * — exactly the root's SCC (same color ⟹ root is an ancestor;
    * reaches root ⟹ descendant). Identified SCCs leave the graph and
    * the loop repeats on what remains. Every step is an edge-keyed
    * join + node-keyed agg on localCheckpoint'ed state — node-sized
    * frames, never V² pairs (the oracle's transitive closure is the
    * O(V²) object this loop exists to avoid, affordable only on the
    * catalog-bounded test graph). Driver-side per round: one boolean
    * convergence probe (the ccPointerJump discipline). */
  private[graft] def sccMembership(edges0: DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    val edgesAll = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val remaining0 = edgesAll.select(col("src").as("node"))
      .unionAll(edgesAll.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val result0 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("scc_label",
          org.apache.spark.sql.types.LongType))))
    if (remaining0.isEmpty) return result0
    val ((_, result), _) = Fixpoint.iterate("sccMembership", SccMaxRounds,
        (remaining0, result0)) { case (remainingIn, resultIn) =>
      var remaining = remainingIn
      var result = resultIn
      var edges = edgesAll
        .join(remaining.select(col("node").as("src")), Seq("src"),
          "left_semi")
        .join(remaining.select(col("node").as("dst")), Seq("dst"),
          "left_semi")
        .select("src", "dst").localCheckpoint()
      // (1) TRIM to the 2-core of the condensation periphery. Its cap
      // is a work bound, not a convergence check: whatever trimming
      // leaves, coloring finishes.
      var trimming = true
      var trims = 0
      while (trimming && trims < SccMaxRounds) {
        val core = remaining
          .join(edges.select(col("src").as("node")), Seq("node"),
            "left_semi")
          .join(edges.select(col("dst").as("node")), Seq("node"),
            "left_semi")
          .localCheckpoint()
        val dropped = remaining.join(core, Seq("node"), "left_anti")
          .localCheckpoint()
        trimming = !dropped.isEmpty
        if (trimming) {
          result = result.unionAll(
            dropped.select(col("node"), col("node").as("scc_label")))
            .localCheckpoint()
          remaining = core
          edges = edges
            .join(core.select(col("node").as("src")), Seq("src"),
              "left_semi")
            .join(core.select(col("node").as("dst")), Seq("dst"),
              "left_semi")
            .localCheckpoint()
        }
        trims += 1
      }
      if (!remaining.isEmpty) {
        // (2) COLOR: max ancestor id, forward fixpoint. Convergence via
        // Fixpoint.exactSum: max over self + ancestors only ever RAISES
        // a color, so the color sum strictly increases until the
        // fixpoint and is equal exactly at it.
        val colors0 = remaining.select(col("node"), col("node").as("c"))
          .localCheckpoint()
        val init = (colors0, Fixpoint.exactSum(colors0, "c"))
        val ((colors, _), _) = Fixpoint.iterate("sccMembership coloring",
            SccMaxRounds, init) { case (colors, prevSum) =>
          val prop = colors
            .join(edges, colors("node") === edges("src"))
            .select(col("dst").as("node"), col("c"))
          val next = colors.select("node", "c").unionAll(prop)
            .groupBy("node").agg(max(col("c")).as("c"))
            .localCheckpoint()
          val nextSum = Fixpoint.exactSum(next, "c")
          ((next, nextSum), nextSum.compareTo(prevSum) == 0)
        }
        // (3) BACKWARD sweep from each color root within its color.
        val ce = edges
          .join(colors.select(col("node").as("src"), col("c").as("cs")),
            "src")
          .join(colors.select(col("node").as("dst"), col("c").as("cd")),
            "dst")
          .filter(col("cs") === col("cd"))
          .select(col("src"), col("dst"), col("cs").as("c"))
          .localCheckpoint()
        val inScc0 = colors.filter(col("node") === col("c"))
          .select(col("node"), col("c")).localCheckpoint()
        // The sweep only ever ADDS rows; carry the previous count
        // forward instead of recounting the old frame every round.
        val ((inScc, _), _) = Fixpoint.iterate("sccMembership sweep",
            SccMaxRounds, (inScc0, inScc0.count())) { case (inScc, prevCount) =>
          val prop = inScc.as("s")
            .join(ce.as("e"), col("s.node") === col("e.dst")
              && col("s.c") === col("e.c"))
            .select(col("e.src").as("node"), col("s.c").as("c"))
          val next = inScc.unionAll(prop).distinct().localCheckpoint()
          val n = next.count()
          ((next, n), n == prevCount)
        }
        val labs = inScc.groupBy("c").agg(min(col("node")).as("scc_label"))
        val assigned = inScc.join(labs, "c")
          .select(col("node"), col("scc_label")).localCheckpoint()
        result = result.unionAll(assigned).localCheckpoint()
        remaining = remaining
          .join(assigned.select("node"), Seq("node"), "left_anti")
          .localCheckpoint()
      }
      ((remaining, result), remaining.isEmpty)
    }
    result
  }

  /** Min-label propagation WITH pointer jumping over an undirected
    * edge set (u, v): each round takes min over {own label} ∪
    * {neighbor labels} and then shortcuts through label(label(v)).
    * Converges in O(log diameter) rounds to label(v) = min(component)
    * — the same fixpoint as [[DedupOps.ccMinLabels]]'s plain
    * propagation. Returns (labels(node, label), rounds). Throws after
    * 50 rounds: unconverged labels are fractured components. */
  private[graft] def ccPointerJump(und: DataFrame)
      : (DataFrame, Int) = {
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    val labels0 = edges.select(col("src").as("node"))
      .distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    // Convergence via Fixpoint.exactSum: every step only ever LOWERS a
    // node's label (min over self + neighbors, then the jump to
    // label(label) ≤ label), so the label sum strictly decreases until
    // the fixpoint and is equal exactly at it.
    val init = (labels0, Fixpoint.exactSum(labels0, "label"))
    val ((labels, _), rounds) = Fixpoint.iterate("ccPointerJump", 50,
        init) { case (labels, prevSum) =>
      val prop = labels.join(edges, labels("node") === edges("src"))
        .select(col("dst").as("node"), col("label"))
      // Checkpoint before the self-join: the jump joins this frame to
      // itself, and a shared union lineage trips the analyzer's
      // constraint rewrite (and would recompute the agg twice anyway).
      val viaNeighbors = labels.unionAll(prop)
        .groupBy("node").agg(min(col("label")).as("label"))
        .localCheckpoint()
      // Pointer jump: label(v) <- label(label(v)). label(v) <= v, so
      // every label is itself a node and the inner join is total.
      val next = viaNeighbors.as("x")
        .join(viaNeighbors.select(col("node").as("label"),
          col("label").as("jump")).as("y"), "label")
        .select(col("node"), col("jump").as("label"))
        .localCheckpoint()
      val nextSum = Fixpoint.exactSum(next, "label")
      ((next, nextSum), nextSum.compareTo(prevSum) == 0)
    }
    (labels, rounds)
  }
}

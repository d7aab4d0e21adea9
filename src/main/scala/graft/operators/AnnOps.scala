package graft.operators

import graft.{Q, Tables}
import graft.functions.{HyperSig, Portable}
import Ivf.{Dim, cosSimSql, dotCol, dotColSql, normSq, normSqSql, normSql}
import Knn.{NumProbes, cosSim}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (vec_id, embedding FLOAT[64],
  * label) — the ANN surface of a training-data pipeline.
  *
  * Scale stance: the probe set is always tiny relative to the corpus,
  * so the brute-force path broadcasts probes and streams the corpus
  * once (per-partition top-k heap via window + rank filter, no global
  * sort of the corpus). The LSH path buckets the corpus by
  * random-hyperplane signature bands so candidate generation is a
  * keyed equi-join — the 100 TB shape where even one full scan per
  * probe batch is the budget, not per-probe scans.
  *
  * Float determinism vs the DuckDB oracle: every dot/norm is computed
  * in DOUBLE with a deterministic elementwise fold, and the final
  * similarity is rounded to 6 decimals on BOTH sides before ranking —
  * ranking ties broken by vec_id. The 16×64 hyperplane components are
  * fixed k/1000 rationals generated in Scala and embedded as identical
  * decimal literals in the Spark plan and the oracle SQL (decimal
  * literals parse to identical doubles in both engines).
  */
object AnnOps {

  private val NumPlanes = 16
  private val BandBits = 8
  private val NumBands = NumPlanes / BandBits
  private val TopK = 10
  private[graft] val NumCells = 16

  /** q_sql_cos's ANSI text (factored for CosineRuleSpec's sql-text
    * plan pin): the naive cosine-threshold join over a temp view,
    * corpus = the vec_id % 5 slice ∪ its coordinate-halved planted
    * near-duplicates (the q_cos_join fixture). cosine_sim here is the
    * ENGINE's fused function resolved from pure SQL — the rewrite's
    * default trigger spelling. */
  private[graft] val SqlCosText: String =
    """WITH e AS (SELECT vec_id, embedding FROM emb_sql_cos
      |  WHERE vec_id % 5 = 0),
      |d AS (SELECT vec_id + 100000 AS vec_id,
      |    transform(embedding, (x, i) ->
      |      IF(i = 1, CAST(CAST(x AS DOUBLE) * 0.5 AS FLOAT), x))
      |      AS embedding
      |  FROM e),
      |c AS (SELECT * FROM e UNION ALL SELECT * FROM d)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(cosine_sim(a.embedding, b.embedding), 6) AS cos_sim
      |FROM c a JOIN c b
      |  ON cosine_sim(a.embedding, b.embedding) >= 0.9
      | AND a.vec_id < b.vec_id
      |ORDER BY vec_a, vec_b""".stripMargin
  private val NProbe = 4
  private val KSeeds = 8

  /** q_kmeans_elbow / q_silhouette: the k sweep and the Lloyd
    * iteration count both clustering-quality readouts train with. */
  private val ElbowKs = Seq(2, 4, 8)
  private val ElbowIters = 2

  /** q_silhouette: each vector's own (nearest) centroid by 6dp L2. */
  private val OwnCent = Knn.Rank(Knn.asc("d6"), "cent_id", 1, "rn", "vec_id")

  /** q_dbscan: the ε-ball is cosine ≥ this. 0.2 fits the synthetic
    * near-orthogonal corpus (0.4+ leaves every vector noise — the
    * q_embed_dup threshold note; real corpora use ≥ 0.9, the
    * machinery is identical) and yields a genuine core/border/noise
    * mix. Spliced into both engines, so declared above the registry
    * (object-init order). */
  private[graft] val DbscanCosT = 0.2

  /** q_dbscan: core iff ≥ this many OTHER vectors in the ε-ball
    * (classic minPts counts the point itself, so this is
    * minPts − 1 = 2 ⇒ minPts 3). */
  private[graft] val DbscanMinPts = 2

  /** q_knn_graph: neighbors per vector and query-side probe width. */
  private val KnnK = 5

  /** The k-NN graph's neighbor lists: every vector's top [[KnnK]]. */
  private val ByCosKnn = Knn.Rank(Knn.desc("cos_sim"), "neighbor_id", KnnK, by = "vec_id")

  /** q_al_uncertainty / q_knn_classify / q_label_spread: each vector's
    * neighbor-vote argmax, ties to the smaller label. */
  private val TopVote = Knn.Rank(Knn.desc("c"), "vote", 1, "rn", "vec_id")

  /** q_graph_ann: beam width and unrolled hop count for the graph-ANN
    * beam search (the NSW search shape over the persisted
    * q_knn_graph). The hop count is a COMPILE-TIME constant because
    * both engines unroll the identical hops — the oracle cannot run
    * an open-ended loop. The entry panel is the per-IVF-cell MEDOID
    * set (the vector closest to each of the [[KSeeds]] coarse
    * centroids by cosine): entries then COVER the embedding space by
    * construction instead of being whatever the lowest ids happen to
    * be, which is what lifted measured recall@10 from 0.4–0.8
    * per-probe to ≥ 0.8 mean (AnnSpec floor) without another hop —
    * the centroids are already computed for the IVF family, so the
    * panel costs one windowed argmax over the cell assignment. */
  private val BeamB = 16
  private val BeamHops = 5
  private val ByBeam = Knn.Rank(Knn.desc("cos_sim"), "cand_id", BeamB, "rn")
  private val GraphTop = ByBeam.copy(k = TopK, as = "rank")

  /** q_bitext_mine: cross-side neighborhood size for the margin
    * denominator (Artetxe & Schwenk use k=4). */
  private val BtK = 4
  private val ByCosBt = Knn.Rank(Knn.desc("cos_sim"), "neighbor_id", BtK, by = "vec_id")
  private val ByMargin = Knn.Rank(Knn.desc("margin"), "neighbor_id", 1, "mrank", "vec_id")

  /** q_contrastive_pairs: anchor panel size. */
  private val PairAnchors = 10
  private val ByAnchor = Knn.Rank(Knn.desc("cos_sim"), "cand_id", 1, "rn", "anchor_id")
  private val KnnNProbe = 2

  /** q_embed_prune: fraction of each cell pruned (the MOST
    * prototypical examples drop first, per SSL-prototypes). */
  private val PruneFrac = 0.3

  /** q_label_spread: synchronous propagation rounds (mirrored by the
    * unrolled oracle CTEs) and the seed rule — vec_id % SpreadSeedMod
    * = 0 keeps its true label fixed (20% labeled). */
  private val SpreadRounds = 2
  private val SpreadSeedMod = 5

  /** q_mmr_rerank: candidate pool per probe, greedy picks, and the
    * relevance/diversity trade-off λ = MmrLambdaE1/10. The score is
    * computed in EXACT fixed point: rel and pair sims are 6dp
    * cosines, scaled to integers (×1e6), so score×1e7 =
    * MmrLambdaE1·rel6 − MmrOneMinusE1·ms6 is a BIGINT in both
    * engines — a decimal round() of 0.7·rel lands exactly on .5
    * boundaries (6dp rel × one-decimal λ has exactly 7 decimal
    * digits) where IEEE/decimal rounding modes diverge. */
  private val MmrR = 20
  private val MmrK = 5
  private val MmrLambdaE1 = 7L
  private val MmrOneMinusE1 = 3L
  private val MmrPool = Knn.Rank(Knn.desc("rel"), "neighbor_id", MmrR, "crank")
  private val MmrPick = Knn.Rank(Knn.desc("score7"), "neighbor_id", 1, "rn")

  /** One unrolled greedy MMR round for q_mmr_rerank's oracle: score
    * surviving candidates (exact BIGINT fixed point), pick the
    * per-probe argmax (ties by id), then fold the pick's pairwise sim
    * into every survivor's max-sim-to-selected. */
  private def mmrRoundSqlCte(i: Int): String =
    s""", s$i AS (
       |  SELECT probe_id, neighbor_id, rel6, ms6,
       |    $MmrLambdaE1 * rel6 - $MmrOneMinusE1 * ms6 AS score7
       |  FROM c${i - 1}
       |), sel$i AS (
       |  ${MmrPick.cutSql("probe_id, neighbor_id, score7", "probe_id, neighbor_id, score7", s"s$i")}
       |), c$i AS (
       |  SELECT c.probe_id, c.neighbor_id, c.rel6, greatest(c.ms6, p.sim6) AS ms6
       |  FROM c${i - 1} c
       |  JOIN sel$i s ON s.probe_id = c.probe_id
       |    AND c.neighbor_id <> s.neighbor_id
       |  JOIN ps p ON p.probe_id = c.probe_id
       |    AND p.a = c.neighbor_id AND p.b = s.neighbor_id
       |)""".stripMargin

  /** One unrolled label-propagation round for q_label_spread's oracle:
    * votes from labeled neighbors over l(i-1), majority with smaller-
    * label ties, seeds (l0) immovable, unvoted nodes retain l(i-1). */
  private def spreadRoundSqlCte(i: Int): String =
    s""", v$i AS (
       |  SELECT t.vec_id, l.lab AS vote, count(*) AS c
       |  FROM topk t JOIN l${i - 1} l ON l.vec_id = t.neighbor_id
       |  WHERE l.lab IS NOT NULL GROUP BY t.vec_id, l.lab
       |), m$i AS (
       |  ${TopVote.cutSql("vec_id, vote", "vec_id, vote", s"v$i")}
       |), l$i AS (
       |  SELECT p.vec_id, coalesce(l0.lab, m$i.vote, p.lab) AS lab
       |  FROM l${i - 1} p
       |  LEFT JOIN m$i ON m$i.vec_id = p.vec_id
       |  LEFT JOIN l0 ON l0.vec_id = p.vec_id
       |)""".stripMargin

  /** q_bq_search / q_matryoshka_search: candidates kept by the cheap
    * first pass for exact full-vector re-ranking. */
  private val RerankR = 50

  /** q_matryoshka_search: prefix dims the coarse pass reads. */
  private val MatPrefix = 16

  /** The coarse candidate pools of q_bq_search, q_matryoshka_search and
    * q_rrf_fusion: top [[RerankR]] per probe by hamming distance over
    * the sign bits, and by 6dp prefix cosine. */
  private val ByHamming = Knn.Rank(Knn.asc("hamming"), "neighbor_id", RerankR, "crank")
  private val ByPrefix = Knn.Rank(Knn.desc("pre_sim"), "neighbor_id", RerankR, "crank")

  /** q_rrf_fusion's fused list: top [[TopK]] by 6dp reciprocal-rank sum. */
  private val ByRrf = Knn.Rank(Knn.desc("rrf"), "neighbor_id", TopK)

  /** q_fps_coreset: selected points (oracle-unrolled rounds). */
  private val FpsK = 8

  // Product quantization (q_embed_pq / q_pq_search). Declared BEFORE
  // `val all`: the oracle strings are built eagerly at object init, so
  // these must already be initialized when pqChainSql runs.
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 8
  private val PqProbes = 5
  private val PqTopK = 10
  private val ByAdist = Knn.Rank(Knn.asc("adist"), "neighbor_id", PqTopK)

  /** Fixed pseudo-random hyperplanes — owned by [[HyperSig]] (the
    * fused native expression that computes the 16-bit signature); this
    * module splices the same values into the oracle SQL literals.
    */
  private val W = HyperSig.W

  private def fmt(d: Double): String = {
    val k = math.round(d * 1000)
    if (k % 1000 == 0) s"${k / 1000}.0" else (k / 1000.0).toString
  }

  // ---- Spark-side vector math over array columns (no UDFs) ----

  private def norm(e: Column): Column = sqrt(normSq(e))

  /** The cosine neighbor list of the search rows: per probe, top
    * [[TopK]] by 6dp cosine, ties by neighbor id. */
  private val ByCos = Knn.Rank(Knn.desc("cos_sim"), "neighbor_id", TopK)

  /** q_simsearch_mips' list: top [[TopK]] by 6dp inner product. */
  private val ByIp = Knn.Rank(Knn.desc("ip"), "neighbor_id", TopK)

  /** The q_simsearch_mips computation over any (vec_id, embedding)
    * frame — factored so MipsSpec can plant norm-skewed corpora and
    * prove the M-augmentation order equivalence. See the registry
    * entry for the determinism contract. */
  private[graft] def mipsTopK(e: DataFrame): DataFrame =
    ByIp.ranked(Knn.pairs(Knn.panel(e, col("embedding").as("pe")), e)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(dotCol(col("pe"), col("embedding")), 6).as("ip"),
        round(norm(col("embedding")), 6).as("vec_norm")))

  /** (probe_id, neighbor_id, cos_sim) of probe/corpus pairs whose
    * probe vector is `pe` and corpus row (vec_id, embedding). */
  private def scoredCos(pairs: DataFrame): DataFrame =
    pairs.select(col("probe_id"), col("vec_id").as("neighbor_id"),
      cosSim("pe", "embedding").as("cos_sim"))

  /** Brute-force ground truth: the probe panel's cosine neighbor list
    * over all of `e` (vec_id, embedding). */
  private def bruteTop(e: DataFrame): DataFrame =
    ByCos.ranked(scoredCos(Knn.pairs(Knn.panel(e, col("embedding").as("pe")), e)))

  /** The IVF candidate pairs: each probe routed to its [[NProbe]]
    * nearest `cells`, joined on the cell to `assign` (vec_id,
    * embedding, cent_id, …), its own row dropped; the probe side
    * carries (probe_id, pe, `carried`…, cent_id). */
  private def ivfPairs(cells: Ivf.Cells, e: DataFrame, assign: DataFrame,
      carried: Column*): DataFrame = {
    val probeCells = cells.probe(Knn.probeRows(e), NProbe)
      .select(Seq(col("vec_id").as("probe_id"), col("embedding").as("pe")) ++ carried
        :+ col("cell.cent_id").as("cent_id"): _*)
    broadcast(probeCells).join(assign, Seq("cent_id")).filter(Knn.notSelf())
  }

  /** Band values sliced from the fused 16-bit hypersig expression
    * (one pass over the embedding vs 16 aggregate(zip_with) folds);
    * band b = bits [8b, 8b+8) of the signature — identical to the
    * composed per-plane form (HyperSigSpec proves it).
    */
  private def bandColsFused: Seq[Column] = {
    val sig = HyperSig.hypersig("embedding")
    (0 until NumBands).map { b =>
      shiftright(sig, b * BandBits).bitwiseAND(lit((1L << BandBits) - 1))
    }
  }

  /** The LSH band table of q_simsearch_lsh, q_embed_dup and q_dbscan:
    * `e` once per band, keeping `carried`, with (band_id, band_val). */
  private def bandTable(e: DataFrame, carried: String*): DataFrame =
    e.select(carried.map(col) :+
      posexplode(array(bandColsFused: _*)).as(Seq("band_id", "band_val")): _*)

  // ---- DuckDB-side twins ----

  private def wSql(j: Int): String = W(j).map(fmt).mkString("[", ", ", "]")

  private def dotConstSql(e: String, j: Int): String =
    s"list_sum(list_transform(range($Dim), i -> CAST($e[i+1] AS DOUBLE) * (${wSql(j)})[i+1]))"

  /** Twin of [[bruteTop]]'s pairs: `probes` and a `scored`-named CTE
    * of (probe_id, neighbor_id, cos_sim), after the `e` CTE. */
  private def bruteScoredSql(scored: String = "scored"): String =
    s"""probes AS (${Knn.panelSql("embedding AS pe")}),
       |$scored AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id,
       |    ${cosSimSql("pe", "embedding")} AS cos_sim
       |  FROM ${Knn.pairsSql("e")}
       |)""".stripMargin

  /** [[bruteScoredSql]] cut to the ground-truth ids `btop(probe_id,
    * neighbor_id)`. */
  private def bruteTopSql: String =
    s"""${bruteScoredSql("bscored")}, btop AS (
       |  ${ByCos.cutSql("probe_id, neighbor_id", "probe_id, neighbor_id", "bscored")}
       |)""".stripMargin

  /** Twin of [[ivfPairs]]' probe side: the `probe_cells` CTE routing
    * the probe panel to its [[NProbe]] nearest `cents` under `m`, with
    * `extra` columns (read from `e` by `extraFrom`) before `cent_id`. */
  private def probeCellsSql(m: Ivf.Metric, cents: String = "cents",
      extra: String = "", extraFrom: String = ""): String =
    s"""probe_cells AS (
       |  ${Ivf.routeSql(m, s"vec_id AS probe_id, pe, ${extra}cent_id",
            s"e.vec_id, e.embedding AS pe, ${extraFrom}c.cent_id", NProbe, Some(NumProbes), cents)}
       |)""".stripMargin

  /** Twin of [[ivfPairs]] scored: a `scored(probe_id, neighbor_id,
    * cos_sim)` CTE over `probe_cells` and `assign` CTEs, with `and`
    * appended to the join condition. */
  private def ivfScoredSql(and: String = ""): String =
    s"""scored AS (
       |  SELECT probe_id, a.vec_id AS neighbor_id,
       |    ${cosSimSql("pe", "embedding")} AS cos_sim
       |  FROM probe_cells p JOIN assign a ON a.cent_id = p.cent_id
       |   AND a.vec_id <> p.probe_id$and
       |)""".stripMargin

  /** [[ByCos]]'s tail after a `scored(probe_id, neighbor_id, cos_sim)`
    * CTE. */
  private def cosTailSql: String = ByCos.tailSql("probe_id, neighbor_id, cos_sim")

  /** Binary quantization: each vector's 64 sign bits as two 32-bit
    * BIGINT halves, and every (probe, vector) pair's hamming distance
    * (probe_id, neighbor_id, hamming). */
  private def bqHamming(e: DataFrame): DataFrame = {
    def sigHalf(off: Int): Column = expr(
      s"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + " +
        s"IF(element_at(embedding, i + ${off + 1}) > 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))")
    val sigs = e.select(col("vec_id"),
      sigHalf(0).as("sig_lo"), sigHalf(32).as("sig_hi"))
    Knn.pairs(Knn.panel(sigs, col("sig_lo").as("p_lo"), col("sig_hi").as("p_hi")), sigs)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("p_lo").bitwiseXOR(col("sig_lo"))) +
          bit_count(col("p_hi").bitwiseXOR(col("sig_hi")))).as("hamming"))
  }

  /** Twin of [[bqHamming]]: `sigs`, the `probes` panel and `ham` CTEs
    * after the `e` CTE. */
  private def bqHammingSql(probes: String = "probes"): String = {
    def sigSql(off: Int): String =
      s"CAST(list_sum(list_transform(range(32), i -> CASE WHEN embedding[i + ${off + 1}] > 0 " +
        "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    s"""sigs AS (
       |  SELECT vec_id, ${sigSql(0)} AS sig_lo, ${sigSql(32)} AS sig_hi FROM e
       |), $probes AS (
       |  ${Knn.panelSql("sig_lo AS p_lo, sig_hi AS p_hi", "sigs")}
       |), ham AS (
       |  SELECT probe_id, s.vec_id AS neighbor_id,
       |    bit_count(xor(p_lo, sig_lo)) + bit_count(xor(p_hi, sig_hi)) AS hamming
       |  FROM ${Knn.pairsSql("sigs s", probes)}
       |)""".stripMargin
  }

  /** Matryoshka coarse pass: every (probe, vector) pair's 6dp cosine
    * over the first [[MatPrefix]] dims (probe_id, neighbor_id,
    * pre_sim). */
  private def prefixCoarse(e: DataFrame): DataFrame = {
    val pre = e.select(col("vec_id"), slice(col("embedding"), 1, MatPrefix).as("p"))
    Knn.pairs(Knn.panel(pre, col("p").as("pp")), pre)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosSim("pp", "p").as("pre_sim"))
  }

  /** Twin of [[prefixCoarse]]: `pre`, the `probes` panel and `coarse`
    * CTEs after the `e` CTE. */
  private def prefixCoarseSql(probes: String = "probes"): String =
    s"""pre AS (SELECT vec_id, embedding[1:$MatPrefix] AS p FROM e),
       |$probes AS (
       |  ${Knn.panelSql("p AS pp", "pre")}
       |), coarse AS (
       |  SELECT probe_id, pre.vec_id AS neighbor_id,
       |    ${cosSimSql("pp", "p", MatPrefix)} AS pre_sim
       |  FROM ${Knn.pairsSql("pre", probes)}
       |)""".stripMargin

  /** Twin of [[bandTable]]: the UNION ALL body of a `bands(vec_id,
    * embedding, band_id, band_val)` CTE over `e`. */
  private def bandTableSql: String = (0 until NumBands).map(b =>
    s"SELECT vec_id, embedding, $b AS band_id, ${bandSql("embedding", b)} AS band_val FROM e")
    .mkString("\n  UNION ALL\n  ")

  // ---- PCA top component (q_embed_pca), both engines ----

  /** q_embed_pca iteration schedule: `PcaSquarings` repeated
    * squarings of the normalized Gram (G → G^(2^k), so 8 squarings =
    * G^256) followed by `PcaMatvecs` matvec rounds — ~512 effective
    * power iterations. Plain unrolled iteration would need hundreds
    * of rounds here: the synthetic embeddings are near-isotropic
    * (λ2/λ1 ≈ 0.93–0.98), and (λ2/λ1)^8 prunes nothing. Squaring
    * costs d³ integer ops on a d²-row table — data-free on both
    * engines — and squares the convergence ratio every round. */
  private val PcaSquarings = 8
  private val PcaMatvecs = 2

  /** DuckDB twin of the q_embed_pca Gram pass + squared power
    * iteration, unrolled as a CTE chain (the bpeRoundsSqlCte trick).
    * Every quantity that crosses an aggregation is an exact BIGINT —
    * per-term products round to fixed point BEFORE summing, so
    * neither engine's accumulation order can perturb a single bit;
    * the only double ops are one deterministic IEEE
    * multiply-divide-round per term, identical on both engines. Each
    * squaring renormalizes to max-abs 1e6 so entries never overflow
    * (terms ≤ 1e12/1e6·64 per cell). Every CTE that is referenced
    * twice (the squaring self-joins and the max-abs subqueries) is
    * AS MATERIALIZED: DuckDB otherwise INLINES multi-referenced CTEs,
    * and 8 self-joining squarings would expand the corpus scan
    * 2^8-fold. Ends with
    * `w$PcaMatvecs(i, wv)`, the dominant eigenvector at fixed-point
    * scale 1e6. */
  private def pcaIterSqlCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""gm AS MATERIALIZED (
         |  SELECT i, j,
         |    CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE)
         |      * CAST(embedding[j+1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS gv
         |  FROM embeddings, range($Dim) AS a(i), range($Dim) AS b(j)
         |  GROUP BY i, j
         |), gn0 AS MATERIALIZED (
         |  SELECT i, j, CAST(round(CAST(gv AS DOUBLE) / CAST(mv AS DOUBLE) * 1000000) AS BIGINT) AS gv
         |  FROM gm CROSS JOIN (SELECT max(abs(gv)) AS mv FROM gm) m
         |)""".stripMargin)
    for (t <- 1 to PcaSquarings) {
      sb.append(
        s""",
           |gs$t AS MATERIALIZED (
           |  SELECT a.i AS i, b.j AS j,
           |    CAST(sum(CAST(round(CAST(a.gv AS DOUBLE) * CAST(b.gv AS DOUBLE) / 1000000) AS BIGINT)) AS BIGINT) AS gv
           |  FROM gn${t - 1} a JOIN gn${t - 1} b ON a.j = b.i GROUP BY a.i, b.j
           |), gn$t AS MATERIALIZED (
           |  SELECT i, j, CAST(round(CAST(gv AS DOUBLE) / CAST(mv AS DOUBLE) * 1000000) AS BIGINT) AS gv
           |  FROM gs$t CROSS JOIN (SELECT max(abs(gv)) AS mv FROM gs$t) m
           |)""".stripMargin)
    }
    sb.append(
      s""",
         |w0 AS (
         |  SELECT i, CAST(1000000 AS BIGINT) AS wv FROM range($Dim) AS t(i)
         |)""".stripMargin)
    for (t <- 1 to PcaMatvecs) {
      sb.append(
        s""",
           |s$t AS MATERIALIZED (
           |  SELECT g.i AS i,
           |    CAST(sum(CAST(round(CAST(gv AS DOUBLE) / 1000000 * wv) AS BIGINT)) AS BIGINT) AS sv
           |  FROM gn$PcaSquarings g JOIN w${t - 1} w ON g.j = w.i GROUP BY g.i
           |), w$t AS (
           |  SELECT i, CAST(round(CAST(sv AS DOUBLE) / CAST(mv AS DOUBLE) * 1000000) AS BIGINT) AS wv
           |  FROM s$t CROSS JOIN (SELECT max(abs(sv)) AS mv FROM s$t) m
           |)""".stripMargin)
    }
    sb.toString
  }

  /** Round-half-away-from-zero — the tie rule BOTH engines' SQL
    * `round()` uses. `math.round` rounds half toward +∞ and would
    * diverge on negative .5 ties, so the driver loop must not use it. */
  private def rndAway(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  // ---- k-means training (iterated Lloyd), both engines ----

  /** Fixed iteration counts so the DuckDB oracle can unroll the loop:
    * 3 for the training query itself, 2 for the IVF coarse quantizer
    * (enough to move the cells off the seeds; each extra iteration is
    * one more corpus scan on both engines). */
  private val KmIters = 3
  private val KmIvfIters = 2

  /** q_kmeanspp_init: seeds picked (one sequential round each). */
  private[graft] val KppSeeds = 4

  /** q_kmeans_parallel_init (k-means‖, Bahmani et al. 2012):
    * oversampling rounds R (theory says O(log n); fixed so the oracle
    * can unroll), per-point admission factor ℓ (expected ~ℓ picks per
    * round), and the final center count k the weighted candidate set
    * reduces to. */
  private[graft] val KbarRounds = 3
  private[graft] val KbarL = 3
  private[graft] val KbarK = 4

  /** q_ann_recall_curve: the nprobe sweep values (≤ NProbe, so the
    * candidate stream is generated once at the widest setting and
    * each sweep point filters by cell rank). */
  private[graft] val RecallSweep = Seq(1, 2, 4)

  /** DuckDB twin of the q_kmeanspp_init loop: unrolled per-seed CTEs —
    * d$i = min squared-L2 to the chosen set (6dp per pair, the Lloyd
    * grid), s$i = the A-ES weighted pick (key = 1000·ln(u)/D²,
    * 6dp-rounded at the libm boundary, ties by vec_id), c$i = chosen
    * set so far. Exposes c${k-1} with (seed_ord, vec_id, d2,
    * embedding). */
  private def kppSqlCte(k: Int): String = {
    val head =
      s"""e AS (
         |  SELECT vec_id, embedding, ${normSqSql("embedding")} AS vn2,
         |    (CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
         |      AS BIGINT) % 1048576 AS DOUBLE) + 1.0) / 1048576.0 AS u
         |  FROM embeddings
         |), s0 AS (
         |  SELECT CAST(0 AS BIGINT) AS seed_ord, vec_id,
         |    CAST(0.0 AS DOUBLE) AS d2, embedding
         |  FROM e ORDER BY round(1000.0 * ln(u), 6) DESC, vec_id LIMIT 1
         |), c0 AS (SELECT * FROM s0)""".stripMargin
    val rounds = (1 until k).map { i =>
      s"""d$i AS (
         |  SELECT e.vec_id, e.u,
         |    min(${Ivf.L2.d2Sql("e.vn2", "e.embedding", "c.embedding")}) AS d2
         |  FROM e CROSS JOIN c${i - 1} c GROUP BY e.vec_id, e.u
         |), s$i AS (
         |  SELECT CAST($i AS BIGINT) AS seed_ord, d.vec_id, d.d2, e.embedding
         |  FROM d$i d JOIN e ON d.vec_id = e.vec_id
         |  WHERE d.d2 > 0
         |  ORDER BY round(1000.0 * ln(d.u) / d.d2, 6) DESC, d.vec_id LIMIT 1
         |), c$i AS (SELECT * FROM c${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** DuckDB twin of the q_kmeans_parallel_init loop, fully unrolled:
    * seed c0 (the kpp max-key uniform pick), per oversampling round
    * d$i (exact ×1e6 BIGINT min-D² to the candidate set) / p$i (φ =
    * its corpus sum) / s$i (the Bernoulli admissions: keep x iff
    * m·φ ≤ 2²⁰·ℓ·d², compared in HUGEINT so the test is EXACT at any
    * magnitude — the Spark side mirrors it in DECIMAL(38,0)) / c$i;
    * then dw/w (nearest-candidate weights), cand, and the greedy
    * weighted reduction gd$i/g$i/gc$i picking argmax w·D² (6dp,
    * ties by vec_id) k−1 times. */
  private def kbarSql: String = {
    def m(r: Int, v: String): String =
      s"(${graft.functions.Portable.md5Hash60Sql(s"CAST($v AS VARCHAR) || '#b$r'")} % 1048576) + 1"
    val head =
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${normSqSql("embedding")} AS vn2
         |  FROM embeddings
         |), c0 AS (
         |  SELECT CAST(0 AS BIGINT) AS r, vec_id, embedding FROM e
         |  ORDER BY round(1000.0 * ln(
         |    (CAST(${graft.functions.Portable.md5Hash60Sql("CAST(vec_id AS VARCHAR)")} % 1048576 AS DOUBLE) + 1.0)
         |      / 1048576.0), 6) DESC, vec_id LIMIT 1
         |)""".stripMargin
    val rounds = (1 to KbarRounds).map { i =>
      s"""d$i AS (
         |  SELECT e.vec_id,
         |    CAST(round(min(${Ivf.L2.d2Sql("e.vn2", "e.embedding", "c.embedding")})
         |      * 1000000, 0) AS BIGINT) AS di
         |  FROM e CROSS JOIN c${i - 1} c GROUP BY e.vec_id
         |), p$i AS (
         |  SELECT CAST(sum(di) AS BIGINT) AS phi FROM d$i
         |), s$i AS (
         |  SELECT CAST($i AS BIGINT) AS r, d.vec_id, e.embedding
         |  FROM d$i d CROSS JOIN p$i JOIN e ON e.vec_id = d.vec_id
         |  WHERE CAST(${m(i, "d.vec_id")} AS HUGEINT) * phi
         |    <= ${1048576L * KbarL} * CAST(d.di AS HUGEINT)
         |), c$i AS (SELECT * FROM c${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    val tail =
      s"""dw AS (
         |  SELECT e.vec_id, c.vec_id AS cand_id,
         |    ${Ivf.rankSql(Ivf.L2.d2Sql("e.vn2", "e.embedding", "c.embedding"), "c.vec_id")}
         |  FROM e CROSS JOIN c$KbarRounds c
         |), w AS (
         |  SELECT cand_id, CAST(count(*) AS BIGINT) AS w
         |  FROM dw WHERE rn = 1 GROUP BY cand_id
         |), cand AS (
         |  SELECT c.r, c.vec_id, coalesce(w.w, 0) AS w, c.embedding
         |  FROM c$KbarRounds c LEFT JOIN w ON w.cand_id = c.vec_id
         |), gc0 AS (
         |  SELECT CAST(0 AS BIGINT) AS center_ord, vec_id, embedding FROM cand
         |  ORDER BY w DESC, vec_id LIMIT 1
         |)""".stripMargin
    val greedy = (1 until KbarK).map { i =>
      s"""gd$i AS (
         |  SELECT a.vec_id, a.w,
         |    min(${Ivf.L2.orderSql("a.embedding", "g.embedding")}) AS d2
         |  FROM cand a CROSS JOIN gc${i - 1} g GROUP BY a.vec_id, a.w
         |), g$i AS (
         |  SELECT CAST($i AS BIGINT) AS center_ord, d.vec_id, c.embedding
         |  FROM gd$i d JOIN cand c ON c.vec_id = d.vec_id
         |  WHERE d.d2 > 0
         |  ORDER BY round(d.w * d.d2, 6) DESC, d.vec_id LIMIT 1
         |), gc$i AS (SELECT * FROM gc${i - 1} UNION ALL SELECT * FROM g$i)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$rounds,
       |$tail,
       |$greedy
       |SELECT c.vec_id, c.r AS round_added, c.w AS weight, g.center_ord
       |FROM cand c LEFT JOIN gc${KbarK - 1} g ON g.vec_id = c.vec_id
       |ORDER BY c.vec_id""".stripMargin
  }

  /** The (vec_id, embedding, vn2) corpus frame the k-means‖ machinery
    * runs over. */
  private def kbarCorpus(s: SparkSession, dir: String): DataFrame =
    Ivf.L2.withNorm(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")))

  /** Round-r admission uniform: (h60(vec_id#br) mod 2²⁰) + 1. */
  private def kbarM(r: Int): Column =
    pmod(Portable.md5Hash60(
      concat(col("vec_id").cast("string"), lit(s"#b$r"))),
      lit(1048576L)) + lit(1L)

  /** One oversampling round's distance frame (vec_id, embedding, di =
    * ×1e6-integer min-D² to the candidate set) — shared by the
    * fixed-R oracled loop and the cost-adaptive library variant. */
  private def kbarDistances(
      e: DataFrame,
      cand: DataFrame)
      : DataFrame = {
    val cells = Ivf.Cells(cand
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce")), Ivf.L2)
    cells.withCells(e)
      .withColumn("di",
        round(cells.nearest.getField("m") * lit(1000000), 0)
          .cast("long"))
      .select(col("vec_id"), col("embedding"), col("di"))
      .localCheckpoint() // read twice: phi + the admission filter
  }

  /** The exact-integer Bernoulli admission m·φ ≤ 2²⁰·ℓ·d², DECIMAL(38)
    * both sides; `phi` is a Column so the fixed path can keep φ
    * in-plan (broadcast 1-row agg, zero collects) while the adaptive
    * path passes the collected literal — identical arithmetic. */
  private def kbarAdmit(
      d: DataFrame,
      phi: Column, r: Int, lOversample: Int)
      : DataFrame =
    d.filter(kbarM(r).cast("decimal(38,0)") * phi.cast("decimal(38,0)")
      <= lit(1048576L * lOversample).cast("decimal(38,0)")
        * col("di").cast("decimal(38,0)"))
      .select(lit(r.toLong).as("r"), col("vec_id"), col("embedding"))

  /** k-means‖ candidate sampling over a (vec_id, embedding, vn2)
    * corpus. `stopRatio = None` is the ORACLED fixed-R schedule
    * (exactly `maxRounds` rounds, φ stays in-plan as a broadcast
    * 1-row agg — zero driver collects; what q_kmeans_parallel_init
    * registers). `stopRatio = Some(ρ)` is the production
    * COST-ADAPTIVE schedule (Bahmani's analysis): collect φ (one
    * bounded double per round — the trainKMeans convergence-collect
    * precedent) and stop once the cost stops dropping (φ_r > ρ·φ_{r−1})
    * or hits zero. Both schedules admit IDENTICAL candidates for the
    * rounds they share (KmeansParallelSpec pins it).
    *
    * @return (candidates (r, vec_id, embedding), rounds actually run)
    */
  private[graft] def kmeansParallelCandidates(
      e: DataFrame,
      lOversample: Int,
      maxRounds: Int,
      stopRatio: Option[Double])
      : (DataFrame, Int) = {
    val u0 = (pmod(Portable.md5Hash60(col("vec_id").cast("string")),
      lit(1048576L)).cast("double") + lit(1.0)) / lit(1048576.0)
    var cand = e
      .select(col("vec_id"), col("embedding"),
        round(lit(1000.0) * log(u0), 6).as("key"))
      .orderBy(col("key").desc, col("vec_id")).limit(1)
      .select(lit(0L).as("r"), col("vec_id"), col("embedding"))
      .localCheckpoint()
    var rounds = 0
    var prevPhi = Option.empty[Long]
    var stop = false
    for (i <- 1 to maxRounds if !stop) {
      val d = kbarDistances(e, cand)
      stopRatio match {
        case None =>
          val phi = d.agg(sum(col("di")).as("phi"))
          cand = cand
            .unionByName(kbarAdmit(d.crossJoin(broadcast(phi)),
              col("phi"), i, lOversample))
            .localCheckpoint()
          rounds = i
        case Some(ratio) =>
          val phi = d.agg(sum(col("di"))).head().getLong(0)
          if (phi == 0L || prevPhi.exists(p => phi > ratio * p)) stop = true
          else {
            cand = cand
              .unionByName(kbarAdmit(d, lit(phi), i, lOversample))
              .localCheckpoint()
            prevPhi = Some(phi)
            rounds = i
          }
      }
    }
    (cand, rounds)
  }

  /** Test/train boundary for q_embed_decontaminate's corpus split:
    * vec_id < this = the (small) held-out test corpus, the rest = the
    * train corpus. Spliced into the oracle SQL. */
  private[graft] val DecontamSplit = 100L

  /** q_embed_decontaminate's test-side probe width (IVF nprobe). */
  private[graft] val DecontamNProbe = 2

  /** Cross-corpus embedding decontamination core (q_embed_decontaminate;
    * the planted-paraphrase spec calls it with synthetic frames): both
    * corpora are routed to shared coarse cells via the zero-shuffle
    * broadcast-argmin assignment, then ONLY same-cell test×train pairs
    * are cosine-scored. Returns one row per TEST vector:
    * (vec_id, cell_id — the PRIMARY (nearest) cell, n_train_matches,
    * max_cos — null when clean, contaminated 0/1).
    *
    * `nprobe` is the recall knob for the boundary case where a
    * paraphrase pair straddles a cell boundary: each TEST vector
    * probes its nprobe nearest cells (sorted-slice routing, the
    * q_simsearch_ivf pattern — still pure per-row work against the
    * packed broadcast) while train vectors stay in exactly one cell,
    * so any pair still meets at most once and the match count never
    * double-counts. Pair cost grows to nprobe·Σ|cell_test|·|cell_train|
    * — the same recall/cost dial as IVF search.
    */
  private[graft] def embedDecontaminate(
      s: SparkSession,
      test: DataFrame,
      train: DataFrame,
      cents: DataFrame,
      threshold: Double,
      nprobe: Int = 1): DataFrame = {
    val cells = Ivf.Cells(cents, Ivf.L2)
    def assign(df: DataFrame) =
      cells.assign(df, "cell_id")
        .select(col("vec_id"), col("cell_id"), col("embedding"))
    // Test side probes its nprobe nearest cells; the reported cell_id
    // stays the primary one (rn=1 twin in the oracle).
    val tProbes = cells.probe(test, nprobe)
      .select(col("cell.cent_id").as("cell_id"), col("vec_id"),
        col("embedding").as("te"))
    val r = assign(train)
      .select(col("cell_id"), col("vec_id").as("train_id"), col("embedding").as("re"))
    // Scores shrink to (vec_id, cs) before the agg — embeddings never
    // ride through the match aggregation. Train lives in ONE cell, so
    // a pair meets at most once even under multi-probe routing.
    val sims = tProbes.join(r, Seq("cell_id"))
      .select(col("vec_id"), cosSim("te", "re").as("cs"))
      .filter(col("cs") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_train_matches"), max(col("cs")).as("max_cos"))
    assign(test).select(col("vec_id"), col("cell_id"))
      .join(sims, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("n_train_matches"), lit(0L)).as("n_train_matches"),
        col("max_cos"),
        when(col("max_cos").isNull, 0L).otherwise(1L).as("contaminated"))
  }

  /** Shared kNN-graph candidate machinery (q_knn_graph /
    * q_knn_classify / q_label_spread — one owner, the
    * minhashPairsOf precedent): corpus vectors live in their single
    * nearest of $KSeeds cells via the fused broadcast-argmin, queries
    * fan out to their $KnnNProbe nearest cells by sorted-slice
    * routing (both pure per-row work against the packed broadcast),
    * exact cosine on cell-mates, per-query top-$KnnK by (cos DESC,
    * id). Scores shrink to (ids, cos) before the ranking window — the
    * only corpus-sized shuffle — and embeddings never ride through
    * it. Returns (vec_id, neighbor_id, cos_sim, rank). */
  private def knnTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cells = Ivf.Cells(Ivf.seeds(e, KSeeds), Ivf.L2)
    val corpus = cells.assign(e, "cell_id")
      .select(col("cell_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("ne"))
    val queries = cells.probe(e, KnnNProbe)
      .select(col("cell.cent_id").as("cell_id"), col("vec_id"),
        col("embedding").as("qe"))
    ByCosKnn.top(queries.join(corpus, Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosSim("qe", "ne").as("cos_sim")))
  }

  /** DuckDB twin of [[knnTopK]]: CTE chain cents → routed → corpus →
    * queries → scored → topk(vec_id, neighbor_id, cos_sim, rank),
    * expecting a prior `e(vec_id, embedding, …)` CTE — splice right
    * after it so all three consumers rank the identical graph. */
  private def knnTopkSqlCte: String =
    s"""cents AS (${Ivf.seedSql(KSeeds)}),
       |routed AS (
       |  ${Ivf.routeSql(Ivf.L2,
            "vec_id, cent_id AS cell_id, embedding, rn", "e.vec_id, c.cent_id, e.embedding",
            KnnNProbe)}
       |), corpus AS (
       |  SELECT vec_id AS neighbor_id, cell_id, embedding FROM routed WHERE rn = 1
       |), queries AS (
       |  SELECT vec_id, cell_id, embedding FROM routed
       |), scored AS (
       |  SELECT q.vec_id, c.neighbor_id,
       |    ${cosSimSql("q.embedding", "c.embedding")} AS cos_sim
       |  FROM queries q JOIN corpus c
       |    ON q.cell_id = c.cell_id AND c.neighbor_id <> q.vec_id
       |), topk AS (
       |  ${ByCosKnn.cutSql("vec_id, neighbor_id, cos_sim, rank", "vec_id, neighbor_id, cos_sim", "scored")}
       |)""".stripMargin

  /** DuckDB twin of the beam-search loop: b0 scores the fixed entry
    * panel, then [[BeamHops]] unrolled (candidate-expand, rescore,
    * top-B) CTE pairs — expecting prior `e`, `probes(probe_id, pe)` and
    * `topk` (the graph) CTEs; exposes `b$BeamHops(probe_id, cand_id,
    * cos_sim)`. Each hop's candidate set is the previous beam plus
    * its graph neighbors, deduplicated, probe excluded — the
    * no-visited-set rescoring variant, deterministic by the 6dp-round
    * + id-tie contract, identical in both engines. */
  private def beamHopsSqlCtes: String = {
    def rank(src: String): String =
      "  " + ByBeam.cutSql("probe_id, cand_id, cos_sim", "probe_id, cand_id, cos_sim", s"($src)")
    val b0 =
      s"""b0 AS (
         |${rank(
        s"""SELECT p.probe_id, c.cand_id,
           |      ${cosSimSql("p.pe", "ce.embedding")} AS cos_sim
           |    FROM probes p CROSS JOIN entries c
           |    JOIN e ce ON ce.vec_id = c.cand_id
           |    WHERE c.cand_id <> p.probe_id""".stripMargin)}
         |)""".stripMargin
    val hops = (1 to BeamHops).map { i =>
      s"""c$i AS (
         |  SELECT DISTINCT probe_id, cand_id FROM (
         |    SELECT probe_id, cand_id FROM b${i - 1}
         |    UNION ALL
         |    SELECT b.probe_id, g.neighbor_id AS cand_id
         |    FROM b${i - 1} b JOIN topk g ON g.vec_id = b.cand_id
         |    UNION ALL
         |    SELECT b.probe_id, g.vec_id AS cand_id
         |    FROM b${i - 1} b JOIN topk g ON g.neighbor_id = b.cand_id)
         |  WHERE cand_id <> probe_id
         |), b$i AS (
         |${rank(
        s"""SELECT c.probe_id, c.cand_id,
           |      ${cosSimSql("p.pe", "ce.embedding")} AS cos_sim
           |    FROM c$i c JOIN probes p ON p.probe_id = c.probe_id
           |    JOIN e ce ON ce.vec_id = c.cand_id""".stripMargin)}
         |)""".stripMargin
    }
    (b0 +: hops).mkString(", ")
  }

  /** One Lloyd iteration → long-form centroids (cent_id, pos, n_vecs,
    * cval). cval is rounded to 6dp so the NEXT iteration starts from
    * bit-identical centroids in both engines — per-step float drift is
    * absorbed instead of compounding across iterations. */
  private def lloydIterLong(e: DataFrame,
      cents: DataFrame): DataFrame = {
    Ivf.Cells(cents, Ivf.L2).assign(e, "cent_id")
      .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("cent_id"), col("pos").cast("long").as("pos"),
        col("v").cast("double").as("val"))
      .groupBy("cent_id", "pos")
      .agg(count(lit(1)).as("n_vecs"), round(avg("val"), 6).as("cval"))
  }

  /** Long-form → array-form centroids; collect_list order is fixed by
    * sorting the (pos, cval) structs, so the array is deterministic. */
  private def toCentArrays(centLong: DataFrame): DataFrame =
    centLong.groupBy("cent_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cval")))),
        p => p.getField("cval")).as("ce"))

  /** Runs `iters` Lloyd iterations from the first-k-vectors seeds;
    * returns (array-form centroids, final long-form stats). Lineage is
    * linear — iteration i's broadcast build side replays only
    * iterations 1..i−1 over the tiny centroid tables, and each
    * iteration costs exactly one corpus scan. */
  private def trainCents(e: DataFrame, k: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    var cents = Ivf.seeds(e, k, transform(col("embedding"), x => x.cast("double")))
    var centLong: DataFrame = null
    for (_ <- 1 to iters) {
      centLong = lloydIterLong(e, cents)
      cents = toCentArrays(centLong)
    }
    (cents, centLong)
  }

  /** Library-surface k-means to CONVERGENCE: the q_kmeans_train loop
    * with an open-ended stop — iterate Lloyd steps until the largest
    * squared centroid shift drops below `tol` or `maxIters` is hit.
    * The q_dedup_cluster loop pattern applied to k-means:
    * `localCheckpoint` truncates lineage every round (swap for a
    * reliable checkpoint at 100 TB), the convergence probe collects
    * ONE double per round (never data rows), and each round costs one
    * corpus scan. No DuckDB oracle is possible for a data-dependent
    * iteration count — q_kmeans_train (fixed 3 rounds) is the oracled
    * twin; KMeansTrainSpec asserts convergence on planted blobs.
    *
    * A centroid whose cluster empties disappears from the next round
    * (standard Lloyd degeneracy) and stops contributing to the shift.
    *
    * @return (centroids (cent_id, ce), iterations run, last max shift²)
    */
  def trainKMeans(e: DataFrame, k: Int,
      maxIters: Int, tol: Double)
      : (DataFrame, Int, Double) = {
    require(k > 0 && maxIters > 0 && tol >= 0, "k, maxIters > 0; tol >= 0")
    var cents = Ivf.seeds(e, k, transform(col("embedding"), x => x.cast("double")))
      .localCheckpoint()
    var iters = 0
    var shift = Double.MaxValue
    while (iters < maxIters && shift >= tol) {
      val next = toCentArrays(lloydIterLong(e, cents)).localCheckpoint()
      shift = cents.as("o")
        .join(next.as("n"), col("o.cent_id") === col("n.cent_id"))
        .agg(max(aggregate(
          zip_with(col("o.ce"), col("n.ce"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)).as("s"))
        .head().getDouble(0)
      cents = next
      iters += 1
    }
    (cents, iters, shift)
  }

  /** DuckDB twin of one Lloyd iteration: CTEs a_n (assignment), l_n
    * (long-form centroids), c_n (array-form), reading c_(n-1). */
  private def lloydIterSql(n: Int): String =
    s"""a$n AS (
       |  ${Ivf.assignSql(Ivf.L2,
            "vec_id, cent_id, embedding", "e.vec_id, c.cent_id, e.embedding", s"c${n - 1}")}
       |), l$n AS (
       |  SELECT cent_id, i AS pos, count(*) AS n_vecs,
       |    round(avg(CAST(embedding[i+1] AS DOUBLE)), 6) AS cval
       |  FROM a$n, range($Dim) AS u(i)
       |  GROUP BY cent_id, i
       |), c$n AS (
       |  SELECT cent_id, list(cval ORDER BY pos) AS ce FROM l$n GROUP BY cent_id
       |)""".stripMargin

  /** WITH-clause prefix running `iters` unrolled Lloyd iterations from
    * the first-k seeds; ends (unclosed) after CTE c_iters. */
  private def kmeansTrainSql(k: Int, iters: Int): String = {
    val iterCtes = (1 to iters).map(lloydIterSql).mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (
       |  ${Ivf.seedSql(k, ce = "list_transform(embedding, x -> CAST(x AS DOUBLE))")}
       |), $iterCtes""".stripMargin
  }

  private def bandSql(e: String, b: Int): String =
    (0 until BandBits).map { k =>
      val j = b * BandBits + k
      s"CASE WHEN ${dotConstSql(e, j)} > 0 THEN ${1L << k} ELSE 0 END"
    }.mkString(" + ")

  val all: Seq[Q] = Seq(
    Q(
      "q_simsearch",
      s"brute-force cosine top-$TopK for $NumProbes probes: probes " +
        "broadcast (always tiny), corpus streamed once; per-probe " +
        "row_number window = per-partition heap + one small shuffle of " +
        "survivors; similarity rounded to 6dp in both engines before " +
        "ranking, ties by vec_id",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |${bruteScoredSql()}$cosTailSql""".stripMargin),
    ) { (s, dir) =>
      bruteTop(Tables.embeddings(s, dir).select("vec_id", "embedding"))
    },

    Q(
      "q_simsearch_mips",
      s"MAXIMUM INNER PRODUCT top-$TopK for $NumProbes probes — the " +
        "retrieval objective recommender scoring actually uses " +
        "(user·item, where item POPULARITY lives in the norm), which " +
        "cosine search silently erases by normalizing: a " +
        "high-norm item should outrank a better-aligned low-norm " +
        "one, and this readout emits each neighbor's norm so the " +
        "divergence from q_simsearch's cosine ranking is visible in " +
        "the result, not asserted. Determinism contract as the rest " +
        "of the ANN family: dot in double (the aggregate/zip_with " +
        "fold both engines evaluate in index order), 6dp-rounded " +
        "BEFORE ranking, ties by id. At 100 TB MIPS needs no new " +
        "index machinery: the Bachrach-et-al augmentation x → " +
        "[x, √(M²−|x|²)] gives every corpus vector norm exactly M, " +
        "making cosine order equal dot order — the entire " +
        "LSH/IVF/PQ cell infrastructure serves MIPS on augmented " +
        "vectors (MipsSpec proves the order equivalence on planted " +
        "data and pins MIPS ≠ cosine on norm-skewed corpora)",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |probes AS (${Knn.panelSql("embedding AS pe")}),
           |scored AS (
           |  SELECT probe_id, e.vec_id AS neighbor_id,
           |    round(${dotColSql("pe", "embedding")}, 6) AS ip,
           |    round(${normSql("embedding")}, 6) AS vec_norm
           |  FROM ${Knn.pairsSql("e")}
           |)${ByIp.tailSql("probe_id, neighbor_id, ip, vec_norm")}""".stripMargin),
    ) { (s, dir) =>
      mipsTopK(Tables.embeddings(s, dir).select("vec_id", "embedding"))
    },

    Q(
      "q_simsearch_lsh",
      s"LSH-bucketed ANN: $NumPlanes random-hyperplane sign bits in " +
        s"$NumBands bands of $BandBits; candidates = corpus rows sharing " +
        "a band signature with the probe (keyed equi-join, no corpus " +
        "scan per probe), exact cosine re-rank on candidates only — the " +
        "recall/cost dial is (bands × band bits)",
      Some {
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |bands AS (
           |  $bandTableSql
           |), probes AS (
           |  ${Knn.panelSql("embedding AS pe, band_id, band_val", "bands")}
           |), cands AS (
           |  SELECT DISTINCT probe_id, pe, b.vec_id AS neighbor_id, b.embedding AS ne
           |  FROM probes p JOIN bands b
           |    ON p.band_id = b.band_id AND p.band_val = b.band_val
           |   AND b.vec_id <> p.probe_id
           |), scored AS (
           |  SELECT probe_id, neighbor_id,
           |    ${cosSimSql("pe", "ne")} AS cos_sim
           |  FROM cands
           |)$cosTailSql""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val bands = bandTable(e, "vec_id", "embedding")
      val probes = Knn.panel(bands, col("embedding").as("pe"), col("band_id"), col("band_val"))
      val cands = probes.join(bands.as("b"),
          probes("band_id") === col("b.band_id")
            && probes("band_val") === col("b.band_val")
            && col("b.vec_id") =!= probes("probe_id"))
        .select(col("probe_id"), col("pe"),
          col("b.vec_id").as("neighbor_id"), col("b.embedding").as("ne"))
        .distinct()
      ByCos.ranked(cands.select(col("probe_id"), col("neighbor_id"),
        cosSim("pe", "ne").as("cos_sim")))
    },

    Q(
      "q_bq_search",
      "binary-quantization ANN (the 1-bit compression path vector DBs " +
        "ship beside PQ): each 64-dim vector collapses to its 64 sign " +
        "bits packed into two 32-bit BIGINT halves (bit 63 in one " +
        "signed long would overflow; two halves keep every value " +
        "non-negative and engine-portable) — a 32× cheaper scan, like " +
        "q_pq_search's codes but with XOR+popcount instead of distance " +
        s"tables. Search = brute hamming over the 8-byte signatures " +
        s"(probes broadcast, corpus streamed once), top-$RerankR " +
        "candidates by (hamming, id), then ids-then-payloads: full " +
        "embeddings are fetched by keyed joins ONLY for the candidate " +
        s"rows and exact 6dp cosine re-ranks the top-$TopK. At 100 TB " +
        "the signature scan touches 1/32 of the raw bytes and the " +
        "re-rank joins move candidates×dim floats, never the corpus",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |${bqHammingSql()}, cands AS (
           |  ${ByHamming.cutSql("probe_id, neighbor_id", "probe_id, neighbor_id", "ham")}
           |)${Knn.rerankSql(ByCos)}""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      Knn.rerank(ByHamming.cut(bqHamming(e)).select("probe_id", "neighbor_id"), e, ByCos)
    },

    Q(
      "q_matryoshka_search",
      "Matryoshka / adaptive retrieval (Kusupati et al. 2022): the " +
        s"coarse pass ranks by cosine over only the FIRST $MatPrefix of " +
        s"$Dim dims (a ${Dim / MatPrefix}× cheaper scan — with " +
        "MRL-trained embeddings the prefix is itself a valid coarse " +
        s"embedding), keeps top-$RerankR per probe by (6dp prefix " +
        "cosine DESC, id), then re-ranks the survivors with exact " +
        s"full-dim cosine for the top-$TopK. Ids-then-payloads: the " +
        "prefix scan carries ids only; full vectors join in for " +
        "candidates alone. At 100 TB the deployed twin stores the " +
        "prefix as its own column (column pruning makes the coarse " +
        "scan read prefix bytes only) — the funnel shape shared with " +
        "q_bq_search, trading popcount for truncated dot products",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |${prefixCoarseSql()}, cands AS (
           |  ${ByPrefix.cutSql("probe_id, neighbor_id", "probe_id, neighbor_id", "coarse")}
           |)${Knn.rerankSql(ByCos)}""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      Knn.rerank(ByPrefix.cut(prefixCoarse(e)).select("probe_id", "neighbor_id"), e, ByCos)
    },

    Q(
      "q_sq8_search",
      "int8 scalar-quantization ANN (the SQ8 path every vector DB " +
        "ships beside PQ and binary): per-dim [min, max] over the " +
        s"corpus → each of the $Dim dims collapses to one byte (code " +
        "= round(255·(x−mn)/range)), a 4× cheaper scan than float32; " +
        "search dequantizes on the fly (mn + code·range/255) and " +
        "ranks by exact 6dp cosine against full-precision broadcast " +
        "probes — asymmetric distance, the SQ analog of q_pq_search's " +
        "ADC. The dim stats are a 64-row agg folded into ONE " +
        "broadcast row (map-side partials collapse the narrow " +
        "(dim, x) explode to 64 rows per partition), so quantize and " +
        "dequantize are pure per-row transforms; codes are born in " +
        "one corpus pass, paid at ingest in a deployed system. " +
        "Dequantized values cast to float in BOTH engines (IEEE " +
        "round-to-nearest-even) so the fused CosSim fold sees " +
        "identical bits. Degenerate zero-range dims code to 0",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |dimstats AS (
           |  SELECT u.i AS dim,
           |    min(CAST(embedding[u.i + 1] AS DOUBLE)) AS mn,
           |    max(CAST(embedding[u.i + 1] AS DOUBLE)) AS mx
           |  FROM e CROSS JOIN (SELECT unnest(range($Dim)) AS i) u
           |  GROUP BY u.i
           |), stats AS (
           |  SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs
           |  FROM dimstats
           |), codes AS (
           |  SELECT vec_id,
           |    list_transform(range($Dim), i -> CAST(coalesce(
           |      round(255.0 * (CAST(embedding[i + 1] AS DOUBLE) - mins[i + 1])
           |        / nullif(maxs[i + 1] - mins[i + 1], 0)), 0) AS BIGINT)) AS code
           |  FROM e CROSS JOIN stats
           |), dq AS (
           |  SELECT vec_id,
           |    CAST(list_transform(range($Dim), i -> mins[i + 1]
           |      + code[i + 1] * (maxs[i + 1] - mins[i + 1]) / 255.0)
           |      AS FLOAT[]) AS ne
           |  FROM codes CROSS JOIN stats
           |), probes AS (
           |  ${Knn.panelSql("embedding AS pe")}
           |), scored AS (
           |  SELECT probe_id, d.vec_id AS neighbor_id,
           |    ${cosSimSql("pe", "ne")} AS cos_sim
           |  FROM ${Knn.pairsSql("dq d")}
           |)$cosTailSql""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val dimstats = e
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
      val stats = dimstats.agg(
        expr("transform(array_sort(collect_list(struct(dim, mn))), t -> t.mn)")
          .as("mins"),
        expr("transform(array_sort(collect_list(struct(dim, mx))), t -> t.mx)")
          .as("maxs"))
      val codes = e.crossJoin(broadcast(stats))
        .select(col("vec_id"), expr(
          s"""transform(sequence(0, ${Dim - 1}), i -> CAST(coalesce(
             |  round(255.0D * (CAST(element_at(embedding, i + 1) AS DOUBLE)
             |      - element_at(mins, i + 1))
             |    / nullif(element_at(maxs, i + 1) - element_at(mins, i + 1), 0D)),
             |  0D) AS BIGINT))""".stripMargin).as("code"))
        // one corpus pass births the codes — ingest-time work
        .localCheckpoint()
      val dq = codes.crossJoin(broadcast(stats))
        .select(col("vec_id"), expr(
          s"""CAST(transform(sequence(0, ${Dim - 1}), i ->
             |  element_at(mins, i + 1) + element_at(code, i + 1)
             |    * (element_at(maxs, i + 1) - element_at(mins, i + 1)) / 255.0D)
             |  AS ARRAY<FLOAT>)""".stripMargin).as("ne"))
      ByCos.ranked(Knn.pairs(Knn.panel(e, col("embedding").as("pe")), dq)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          cosSim("pe", "ne").as("cos_sim")))
    },

    Q(
      "q_ivf_delete",
      "deletion-aware IVF search: the q_simsearch_ivf index is NOT " +
        "rebuilt — deleted vectors (vec_id ≡ 3 mod 7, ~14%) live in a " +
        "TOMBSTONE TABLE anti-joined from the candidate stream between " +
        "the cell probe and the re-rank, exactly how vector DBs serve " +
        "deletes between index rebuilds (rebuild cost amortizes; " +
        "tombstones grow until the next compaction). The anti join is " +
        "key-only on the already-pruned candidates — nprobe/cells of " +
        "the corpus, never the full index; deleted ids can still ask " +
        "queries but can never be RETURNED. At 100 TB the tombstone " +
        "side is a table, not a predicate — the engine deliberately " +
        "treats it as data (keyed anti join) while the oracle, knowing " +
        "the modulo rule, expresses the same set as a filter",
      Some {
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (
           |  ${Ivf.seedSql(NumCells)}
           |), assign AS (
           |  ${Ivf.assignSql(Ivf.Cos,
                "vec_id, embedding, cent_id", "e.vec_id, e.embedding, c.cent_id")}
           |), ${probeCellsSql(Ivf.Cos)}, ${ivfScoredSql("\n  WHERE a.vec_id % 7 <> 3")}$cosTailSql""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val tombstones = e.filter(col("vec_id") % 7 === 3).select("vec_id")
      val cells = Ivf.Cells(Ivf.seeds(e, NumCells), Ivf.Cos)
      val assign = cells.assign(e, "cent_id")
        .select(col("vec_id"), col("embedding"), col("cent_id"))
      ByCos.ranked(scoredCos(ivfPairs(cells, e, assign)
        .join(tombstones, Seq("vec_id"), "left_anti")))
    },

    Q(
      "q_al_uncertainty",
      "active-learning acquisition: the 20 most AMBIGUOUS points by " +
        "k-NN vote margin (top-vote count minus runner-up count, " +
        "ascending) — uncertainty sampling, the labeling-budget " +
        "allocator: points whose neighborhoods disagree are where " +
        "the next human label buys the most model. Reuses " +
        "q_knn_classify's cell-pruned neighbor machinery wholesale " +
        "(pair cost nprobe·Σ|cell|², never n²); votes are " +
        "label-bounded aggs per point, the margin rank is a " +
        "TakeOrdered heap on (margin, id). Single-class " +
        "neighborhoods report margin = full count (maximally " +
        "confident), runner-up label −1",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
           |$knnTopkSqlCte, votes AS (
           |  SELECT t.vec_id, l.label AS vote, CAST(count(*) AS BIGINT) AS c
           |  FROM topk t JOIN e l ON l.vec_id = t.neighbor_id
           |  GROUP BY t.vec_id, l.label
           |), rankedv AS (
           |  SELECT vec_id, vote, c, ${TopVote.overSql}
           |  FROM votes
           |), m AS (
           |  SELECT a.vec_id, a.vote AS top_vote, a.c AS c1,
           |    coalesce(b.vote, -1) AS second_vote, coalesce(b.c, 0) AS c2,
           |    a.c - coalesce(b.c, 0) AS margin
           |  FROM (SELECT * FROM rankedv WHERE rn = 1) a
           |  LEFT JOIN (SELECT * FROM rankedv WHERE rn = 2) b
           |    ON a.vec_id = b.vec_id
           |)
           |SELECT vec_id, top_vote, c1, second_vote, c2, margin
           |FROM m ORDER BY margin, vec_id LIMIT 20""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val votes = knnTopK(s, dir).select("vec_id", "neighbor_id")
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("label").as("vote")), "neighbor_id")
        .groupBy("vec_id", "vote").agg(count(lit(1)).as("c"))
      val ranked = votes.withColumn("rn", TopVote.number)
        .localCheckpoint() // read twice: top vote + runner-up
      val a = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("vote").as("top_vote"), col("c").as("c1"))
      val b = ranked.filter(col("rn") === 2)
        .select(col("vec_id"), col("vote").as("sv"), col("c").as("sc"))
      a.join(b, Seq("vec_id"), "left")
        .select(col("vec_id"), col("top_vote"), col("c1"),
          coalesce(col("sv"), lit(-1)).as("second_vote"),
          coalesce(col("sc"), lit(0L)).as("c2"),
          (col("c1") - coalesce(col("sc"), lit(0L))).as("margin"))
        .orderBy(col("margin"), col("vec_id")).limit(20)
        .orderBy(col("margin"), col("vec_id"))
    },

    Q(
      "q_vector_audit",
      "embedding-column data-quality audit — q_data_audit's " +
        "contract applied to vectors, the gate that runs BEFORE any " +
        "index build (one NaN poisons a centroid; one zero-norm " +
        "vector NaNs every cosine): counts of wrong-dimension, " +
        "null-element, NaN/Inf, and zero-norm vectors, plus 6dp norm " +
        "percentiles (p1/p50/p99 — embedding-drift monitoring wants " +
        "the norm distribution, not just pathologies). One corpus " +
        "scan, all checks per-row array folds, output = one row of " +
        "violation COUNTS at any scale; norms for the percentile agg " +
        "are the only per-row values kept",
      Some(
        s"""WITH v AS (
           |  SELECT vec_id,
           |    CASE WHEN len(embedding) <> $Dim THEN 1 ELSE 0 END AS bad_dim,
           |    CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
           |      THEN 1 ELSE 0 END AS has_null,
           |    CASE WHEN len(list_filter(embedding,
           |        x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) > 0
           |      THEN 1 ELSE 0 END AS has_nan,
           |    ${normSqSql("embedding")} AS n2
           |  FROM embeddings
           |)
           |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           |  CAST(sum(bad_dim) AS BIGINT) AS n_bad_dim,
           |  CAST(sum(has_null) AS BIGINT) AS n_null_elem,
           |  CAST(sum(has_nan) AS BIGINT) AS n_nan_inf,
           |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_zero_norm,
           |  round(quantile_cont(sqrt(n2), 0.01), 6) AS norm_p1,
           |  round(quantile_cont(sqrt(n2), 0.50), 6) AS norm_p50,
           |  round(quantile_cont(sqrt(n2), 0.99), 6) AS norm_p99
           |FROM v""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val v = e.select(col("vec_id"),
        (size(col("embedding")) =!= Dim).cast("int").as("bad_dim"),
        (size(filter(col("embedding"), x => x.isNull)) > 0).cast("int")
          .as("has_null"),
        expr(s"CAST(size(filter(embedding, x -> isnan(CAST(x AS DOUBLE)) " +
          "OR CAST(x AS DOUBLE) = double('inf') " +
          "OR CAST(x AS DOUBLE) = double('-inf'))) > 0 AS INT)")
          .as("has_nan"),
        normSq(col("embedding")).as("n2"))
      v.agg(count(lit(1)).as("n_vectors"),
        sum(col("bad_dim")).cast("long").as("n_bad_dim"),
        sum(col("has_null")).cast("long").as("n_null_elem"),
        sum(col("has_nan")).cast("long").as("n_nan_inf"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero_norm"),
        round(expr("percentile(sqrt(n2), 0.01)"), 6).as("norm_p1"),
        round(expr("percentile(sqrt(n2), 0.50)"), 6).as("norm_p50"),
        round(expr("percentile(sqrt(n2), 0.99)"), 6).as("norm_p99"))
    },

    Q(
      "q_ivf_rebalance",
      "IVF hot-cell SPLIT — the index-maintenance twin of " +
        "q_ivf_delete's tombstones: the fullest cell (q_ivf_imbalance " +
        "finds them) splits by deterministic 2-means seeding (min-id " +
        "member + the member farthest from it, the classic " +
        "farthest-pair init) and one assignment pass; untouched cells " +
        "keep their ids, the halves get fresh ones, and the report " +
        "shows max-cell size and imbalance (max/avg) before vs after " +
        "— how a vector DB keeps probe cost flat as inserts skew a " +
        "cell. Only the HOT CELL's members are touched (the split " +
        "costs |cell|, never the corpus); seeds travel as broadcast " +
        "1-row frames, picks are TakeOrdered heads, and every " +
        "comparison is on the 6dp cosine grid with id ties — " +
        "deterministic end to end. At 100 TB this runs as a " +
        "background compaction against the q_ivf_layout partitions, " +
        "rewriting exactly one cell directory",
      Some {
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (
           |  ${Ivf.seedSql(NumCells)}
           |), assign AS MATERIALIZED (
           |  ${Ivf.assignSql(Ivf.Cos,
                "vec_id, embedding, cent_id", "e.vec_id, e.embedding, c.cent_id")}
           |), sizes AS (
           |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n
           |  FROM assign GROUP BY cent_id
           |), hot AS (
           |  SELECT cent_id FROM sizes ORDER BY n DESC, cent_id LIMIT 1
           |), members AS MATERIALIZED (
           |  SELECT a.vec_id, a.embedding FROM assign a
           |  JOIN hot ON a.cent_id = hot.cent_id
           |), seeda AS (
           |  SELECT embedding AS ca FROM members ORDER BY vec_id LIMIT 1
           |), seedb AS (
           |  SELECT embedding AS cb FROM (
           |    SELECT m.vec_id, m.embedding,
           |      ${cosSimSql("m.embedding", "ca")} AS c
           |    FROM members m CROSS JOIN seeda)
           |  ORDER BY c, vec_id LIMIT 1
           |), re AS (
           |  SELECT m.vec_id,
           |    CASE WHEN ${cosSimSql("m.embedding", "ca")}
           |           >= ${cosSimSql("m.embedding", "cb")}
           |      THEN CAST($NumCells AS BIGINT)
           |      ELSE CAST(${NumCells + 1} AS BIGINT) END AS cent_id
           |  FROM members m CROSS JOIN seeda CROSS JOIN seedb
           |), afters AS (
           |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n FROM (
           |    SELECT a.vec_id, a.cent_id FROM assign a
           |    WHERE a.cent_id NOT IN (SELECT cent_id FROM hot)
           |    UNION ALL SELECT vec_id, cent_id FROM re
           |  ) GROUP BY cent_id
           |)
           |SELECT * FROM (
           |  SELECT 'before' AS stage, CAST(count(*) AS BIGINT) AS n_cells,
           |    CAST(max(n) AS BIGINT) AS max_cell,
           |    round(max(n) * count(*) / CAST(sum(n) AS DOUBLE), 6)
           |      AS imbalance
           |  FROM sizes
           |  UNION ALL
           |  SELECT 'after', CAST(count(*) AS BIGINT), CAST(max(n) AS BIGINT),
           |    round(max(n) * count(*) / CAST(sum(n) AS DOUBLE), 6)
           |  FROM afters
           |) ORDER BY stage""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val assign = Ivf.Cells(Ivf.seeds(e, NumCells), Ivf.Cos).assign(e, "cent_id")
        .select("vec_id", "embedding", "cent_id")
        .localCheckpoint() // read by sizes, members, and the untouched side
      val sizes = assign.groupBy("cent_id").agg(count(lit(1)).as("n"))
        .localCheckpoint() // read twice: hot pick + before stats
      val hot = sizes.orderBy(col("n").desc, col("cent_id")).limit(1)
        .select(col("cent_id").as("hot"))
        .localCheckpoint() // read twice: members + untouched anti side
      val members = assign.join(broadcast(hot), col("cent_id") === col("hot"))
        .select("vec_id", "embedding")
        .localCheckpoint() // read by both seeds and the reassign pass
      val seedA = members.orderBy("vec_id").limit(1)
        .select(col("embedding").as("ca"))
      val seedB = members.crossJoin(broadcast(seedA))
        .select(col("vec_id"), col("embedding"),
          cosSim("embedding", "ca").as("c"))
        .orderBy(col("c"), col("vec_id")).limit(1)
        .select(col("embedding").as("cb"))
      val reassigned = members
        .crossJoin(broadcast(seedA)).crossJoin(broadcast(seedB))
        .select(col("vec_id"),
          when(cosSim("embedding", "ca") >= cosSim("embedding", "cb"),
            lit(NumCells.toLong))
            .otherwise(lit(NumCells.toLong + 1)).as("cent_id"))
      val after = assign
        .join(broadcast(hot), col("cent_id") === col("hot"), "left_anti")
        .select("vec_id", "cent_id")
        .unionByName(reassigned)
        .groupBy("cent_id").agg(count(lit(1)).as("n"))
      def statsOf(stage: String, szs: DataFrame) =
        szs.agg(count(lit(1)).as("n_cells"), max(col("n")).as("max_cell"),
          sum(col("n")).as("tot"))
          .select(lit(stage).as("stage"), col("n_cells"), col("max_cell"),
            round(col("max_cell") * col("n_cells") / col("tot").cast("double"),
              6).as("imbalance"))
      statsOf("before", sizes).unionByName(statsOf("after", after))
        .orderBy("stage")
    },

    Q(
      "q_fps_coreset",
      s"farthest-point-sampling coreset ($FpsK points): seed at " +
        "vec_id 0, then each round picks the point MAXIMIZING its " +
        "min cosine distance to everything already selected — the " +
        "k-center greedy that data-curation pipelines use for " +
        "diverse subset selection (2-approx of the optimal covering " +
        "radius), the diversity-first complement to q_quality_sample. " +
        "The scalable formulation is INCREMENTAL: per-point state " +
        "(vec_id, embedding, min-dist) updates against ONLY the new " +
        "center each round (one broadcast 1-row cross join + least), " +
        "never recomputing against the whole selected set; the pick " +
        "is a TakeOrdered heap head that stays a distributed 1-row " +
        "frame — nothing collects to the driver. Distances live on " +
        "the 6dp cosine grid with id ties, so selection is exactly " +
        "deterministic; the emitted radius is the covering radius " +
        "after each pick (monotone non-increasing, spec-pinned). At " +
        "100 TB: K corpus passes, state one double wider than the " +
        "corpus — the textbook FPS cost",
      Some {
        val head =
          s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
             |cen1 AS (SELECT vec_id, embedding FROM e WHERE vec_id = 0),
             |st1 AS MATERIALIZED (
             |  SELECT e.vec_id, e.embedding,
             |    1 - ${cosSimSql("e.embedding", "c.embedding")} AS d
             |  FROM e CROSS JOIN cen1 c
             |)""".stripMargin
        val rounds = (2 to FpsK).map { r =>
          s"""pick$r AS MATERIALIZED (
             |  SELECT vec_id, embedding, d FROM st${r - 1}
             |  ORDER BY d DESC, vec_id LIMIT 1
             |), st$r AS MATERIALIZED (
             |  SELECT s.vec_id, s.embedding,
             |    least(s.d, 1 - ${cosSimSql("s.embedding", "c.embedding")}) AS d
             |  FROM st${r - 1} s CROSS JOIN pick$r c
             |)""".stripMargin
        }.mkString(", ")
        val out = Seq(
          s"SELECT CAST(1 AS BIGINT) AS rank, vec_id, CAST(NULL AS DOUBLE) AS radius FROM cen1") ++
          (2 to FpsK).map(r =>
            s"SELECT CAST($r AS BIGINT) AS rank, vec_id, round(d, 6) AS radius FROM pick$r")
        s"""$head, $rounds
           |SELECT * FROM (${out.mkString("\nUNION ALL ")}) ORDER BY rank""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val seed = e.filter(col("vec_id") === 0)
      var st = e
        .crossJoin(broadcast(seed.select(col("embedding").as("ce"))))
        .select(col("vec_id"), col("embedding"),
          (lit(1.0) - cosSim("embedding", "ce")).as("d"))
        .localCheckpoint()
      var out = seed.select(lit(1L).as("rank"), col("vec_id"),
        lit(null).cast("double").as("radius"))
      for (r <- 2 to FpsK) {
        val pick = st.orderBy(col("d").desc, col("vec_id")).limit(1)
          .localCheckpoint() // read thrice: output row, center, state fold
        out = out.unionByName(pick.select(lit(r.toLong).as("rank"),
          col("vec_id"), round(col("d"), 6).as("radius")))
        st = st
          .crossJoin(broadcast(pick.select(col("embedding").as("ce"))))
          .select(col("vec_id"), col("embedding"),
            least(col("d"), lit(1.0) - cosSim("embedding", "ce")).as("d"))
          .localCheckpoint()
      }
      out.orderBy("rank")
    },

    Q(
      "q_mmr_rerank",
      "MMR diversity re-rank (Carbonell & Goldstein; λ=0.7): greedy " +
        s"top-$MmrK from a top-$MmrR candidate pool per probe, each " +
        "pick maximizing λ·relevance − (1−λ)·max-sim-to-selected — " +
        "the result-diversification pass RAG retrieval runs after " +
        "ANN, which a plain top-k can't express because every pick " +
        "depends on the previous ones. The sequential part runs ONLY " +
        "on the R-bounded pool: candidate pair sims are R²·probes " +
        "rows computed once (ids-then-payloads joins), then each of " +
        s"the $MmrK unrolled rounds is a per-probe argmax window + a " +
        "pool-sized max fold — corpus cost stays the one brute scan " +
        "that built the pool. Scoring is EXACT BIGINT fixed point " +
        "(6dp cosines ×1e6; score×1e7 = 7·rel6 − 3·ms6) because a " +
        "decimal round of 0.7·rel sits exactly on .5 boundaries " +
        "where engines' rounding modes diverge; ties by id",
      Some {
        val rounds = (1 to MmrK).map(mmrRoundSqlCte).mkString
        val finalSel = (1 to MmrK)
          .map(i => s"SELECT probe_id, CAST($i AS BIGINT) AS rank, " +
            s"neighbor_id, CAST(score7 AS DOUBLE) / 10000000.0 AS mmr_score FROM sel$i")
          .mkString("\n  UNION ALL ")
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |probes AS (
           |  ${Knn.panelSql("embedding AS pe")}
           |), scored0 AS (
           |  SELECT probe_id, e.vec_id AS neighbor_id,
           |    ${cosSimSql("pe", "e.embedding")} AS rel
           |  FROM ${Knn.pairsSql("e")}
           |), c0 AS (
           |  ${MmrPool.cutSql("probe_id, neighbor_id, CAST(round(rel * 1000000) AS BIGINT) AS rel6, " +
                "CAST(0 AS BIGINT) AS ms6", "probe_id, neighbor_id, rel", "scored0")}
           |), ps AS (
           |  SELECT ca.probe_id, ca.neighbor_id AS a, cb.neighbor_id AS b,
           |    CAST(round(${cosSimSql("ea.embedding", "eb.embedding")} * 1000000) AS BIGINT) AS sim6
           |  FROM c0 ca
           |  JOIN c0 cb ON cb.probe_id = ca.probe_id
           |    AND cb.neighbor_id <> ca.neighbor_id
           |  JOIN e ea ON ea.vec_id = ca.neighbor_id
           |  JOIN e eb ON eb.vec_id = cb.neighbor_id
           |)$rounds
           |SELECT * FROM ($finalSel)
           |ORDER BY probe_id, rank""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      // Candidate pool: ids + scaled relevance only, checkpointed —
      // the one corpus-sized scan in the whole operator. ms6 starts
      // at 0 (the max-sim floor), so round 1 scores are exactly
      // λ·rel and the argmax is pure relevance in both engines.
      val c0 = MmrPool.cut(Knn.pairs(Knn.panel(e, col("embedding").as("pe")), e)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          cosSim("pe", "embedding").as("rel")))
        .select(col("probe_id"), col("neighbor_id"),
          round(col("rel") * lit(1000000)).cast("long").as("rel6"))
        .localCheckpoint()
      // Pairwise sims inside each pool: R²·probes rows, payloads
      // joined in by id for exactly these pairs.
      val ps = c0.select(col("probe_id"), col("neighbor_id").as("a"))
        .join(c0.select(col("probe_id"), col("neighbor_id").as("b")), "probe_id")
        .filter(col("a") =!= col("b"))
        .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
        .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
        .select(col("probe_id"), col("a"), col("b"),
          round(cosSim("ea", "eb") * lit(1000000)).cast("long").as("sim6"))
        .localCheckpoint()
      var cand = c0.withColumn("ms6", lit(0L))
      var selected: DataFrame = null
      for (i <- 1 to MmrK) {
        val sel = MmrPick.cut(cand
          .withColumn("score7", lit(MmrLambdaE1) * col("rel6")
            - lit(MmrOneMinusE1) * col("ms6")))
          .select(col("probe_id"), col("neighbor_id"), col("score7"))
          .localCheckpoint()
        val out = sel.select(col("probe_id"), lit(i.toLong).as("rank"),
          col("neighbor_id"),
          (col("score7").cast("double") / lit(10000000.0)).as("mmr_score"))
        selected = if (selected == null) out else selected.unionByName(out)
        cand = cand
          .join(sel.select(col("probe_id"), col("neighbor_id").as("sel_id")),
            "probe_id")
          .filter(col("neighbor_id") =!= col("sel_id"))
          .join(ps.select(col("probe_id").as("pp"), col("a"), col("b"),
            col("sim6")),
            col("pp") === col("probe_id") && col("a") === col("neighbor_id")
              && col("b") === col("sel_id"))
          .select(col("probe_id"), col("neighbor_id"), col("rel6"),
            greatest(col("ms6"), col("sim6")).as("ms6"))
          .localCheckpoint()
      }
      selected.orderBy("probe_id", "rank")
    },

    Q(
      "q_rrf_fusion",
      s"Reciprocal Rank Fusion (Cormack et al., k=60) of two coarse " +
        s"rankers — binary-quantization hamming and $MatPrefix-dim " +
        s"Matryoshka-prefix cosine, top-$RerankR each per probe: " +
        "rrf = Σ 1/(60+rank), full-outer merged so a candidate one " +
        "ranker misses still scores, the hybrid-retrieval fusion " +
        "every RAG stack runs (typically lexical+dense; here the two " +
        "cheap scans). Each ranker is the established funnel (probes " +
        "broadcast, WindowGroupLimit map-side prune, one keyed " +
        s"exchange); the fusion join and final top-$TopK run on two " +
        s"$RerankR-bounded lists per probe. 1/(60+rank) is one " +
        "division of identical ints and the two-term sum has fixed " +
        "order, so 6dp-rounded scores cannot drift; ties by id",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |${bqHammingSql("probes_h")}, ranks_h AS (
           |  ${ByHamming.copy(as = "r").cutSql("probe_id, neighbor_id, r", "probe_id, neighbor_id", "ham")}
           |), ${prefixCoarseSql("probes_p")}, ranks_p AS (
           |  ${ByPrefix.copy(as = "r").cutSql("probe_id, neighbor_id, r", "probe_id, neighbor_id", "coarse")}
           |), fused AS (
           |  SELECT coalesce(a.probe_id, b.probe_id) AS probe_id,
           |    coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
           |    round(coalesce(1.0 / (60 + a.r), 0) + coalesce(1.0 / (60 + b.r), 0), 6) AS rrf
           |  FROM ranks_h a FULL OUTER JOIN ranks_p b
           |    ON b.probe_id = a.probe_id AND b.neighbor_id = a.neighbor_id
           |)${ByRrf.tailSql("probe_id, neighbor_id, rrf", "fused")}""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val ranksH = ByHamming.copy(as = "r").cut(bqHamming(e))
        .select(col("probe_id"), col("neighbor_id"), col("r").as("ra"))
      val ranksP = ByPrefix.copy(as = "r").cut(prefixCoarse(e))
        .select(col("probe_id"), col("neighbor_id"), col("r").as("rb"))
      ByRrf.ranked(ranksH.join(ranksP, Seq("probe_id", "neighbor_id"), "full_outer")
        .select(col("probe_id"), col("neighbor_id"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("ra")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)), 6).as("rrf")))
    },

    Q(
      "q_simsearch_ivf",
      s"IVF-style ANN: $NumCells coarse centroids (deterministic seed " +
        "vectors — one-pass assignment; k-means iterations would only " +
        "move the cell boundaries, not the machinery); every vector is " +
        "assigned to its nearest cell via a broadcast of the tiny " +
        s"centroid set, probes search only their $NProbe nearest cells " +
        "(inverted-file pruning: an equi-join on cell_id replaces the " +
        "full scan), exact cosine re-rank on the pruned candidates — " +
        "at 100 TB the corpus shuffles once by cell_id and each probe " +
        "touches nprobe/cells of the data",
      Some {
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (
           |  ${Ivf.seedSql(NumCells)}
           |), assign AS (
           |  ${Ivf.assignSql(Ivf.Cos,
                "vec_id, embedding, cent_id", "e.vec_id, e.embedding, c.cent_id")}
           |), ${probeCellsSql(Ivf.Cos)}, ${ivfScoredSql()}$cosTailSql""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cells = Ivf.Cells(Ivf.seeds(e, NumCells), Ivf.Cos)
      val assign = cells.assign(e, "cent_id")
        .select(col("vec_id"), col("embedding"), col("cent_id"))
      ByCos.ranked(scoredCos(ivfPairs(cells, e, assign)))
    },

    Q(
      "q_ann_recall",
      s"recall@$TopK of the IVF index against brute-force ground " +
        "truth, as a driver-checked query — the index-quality eval a " +
        "production ANN deployment runs after every build (the " +
        "spec-level recall assertion in AnnSpec, promoted to the " +
        "correctness gate). Both sides are the existing bounded " +
        "pipelines (probes broadcast, cells equi-joined); the " +
        s"recall join itself is probes×$TopK rows — nothing here " +
        "scales with the corpus beyond the two searches, and at " +
        "100 TB ground truth comes from the same brute pass on a " +
        "fixed probe panel (standard ann-benchmarks methodology)",
      Some {
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |$bruteTopSql, cents AS (
           |  ${Ivf.seedSql(NumCells)}
           |), assign AS (
           |  ${Ivf.assignSql(Ivf.Cos,
                "vec_id, embedding, cent_id", "e.vec_id, e.embedding, c.cent_id")}
           |), ${probeCellsSql(Ivf.Cos)}, ${ivfScoredSql()}, itop AS (
           |  ${ByCos.cutSql("probe_id, neighbor_id", "probe_id, neighbor_id", "scored")}
           |)
           |SELECT b.probe_id AS probe_id, count(i.neighbor_id) AS n_hits,
           |  round(CAST(count(i.neighbor_id) AS DOUBLE) / $TopK, 6) AS recall
           |FROM btop b LEFT JOIN itop i
           |  ON b.probe_id = i.probe_id AND b.neighbor_id = i.neighbor_id
           |GROUP BY b.probe_id ORDER BY b.probe_id""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val btop = bruteTop(e).select("probe_id", "neighbor_id")
      val cells = Ivf.Cells(Ivf.seeds(e, NumCells), Ivf.Cos)
      val assign = cells.assign(e, "cent_id")
        .select(col("vec_id"), col("embedding"), col("cent_id"))
      val itop = ByCos.ranked(scoredCos(ivfPairs(cells, e, assign)))
        .select(col("probe_id"), col("neighbor_id"), lit(1).as("hit"))
      btop.join(itop, Seq("probe_id", "neighbor_id"), "left")
        .groupBy("probe_id")
        .agg(count(col("hit")).as("n_hits"),
          round(count(col("hit")).cast("double") / TopK, 6).as("recall"))
        .orderBy("probe_id")
    },

    Q(
      "q_contrastive_pairs",
      "contrastive pair mining for embedding-model training: for " +
        s"each of $PairAnchors anchor vectors, the nearest SAME-label " +
        "neighbor (the positive) and the nearest OTHER-label neighbor " +
        "(the hardest negative) from the anchor's probed IVF cells — " +
        "the candidate generation is exactly q_simsearch_ivf's " +
        "cell-keyed equi-join (nprobe/cells of the corpus per anchor, " +
        "never a full scan), and the two top-1 picks are per-anchor " +
        "windows over the pruned candidates. Anchors whose probed " +
        "cells hold no candidate of one side drop out (inner join — " +
        "identical on both engines). The emitted margin " +
        "pos_cos − neg_cos is the curriculum signal a contrastive " +
        "trainer batches by; at 100 TB this is the standard " +
        "hard-negative mining pass, one cell-keyed join per epoch",
      Some {
        s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
           |cents AS (
           |  ${Ivf.seedSql(NumCells)}
           |), assign AS (
           |  ${Ivf.assignSql(Ivf.Cos,
                "vec_id, label, embedding, cent_id",
                "e.vec_id, e.label, e.embedding, c.cent_id")}
           |), probe_cells AS (
           |  ${Ivf.routeSql(Ivf.Cos,
                "vec_id AS anchor_id, albl, pe, cent_id",
                "e.vec_id, e.label AS albl, e.embedding AS pe, c.cent_id", NProbe,
                Some(PairAnchors))}
           |), cand AS (
           |  SELECT anchor_id, albl, a.vec_id AS cand_id, a.label AS clbl,
           |    ${cosSimSql("pe", "embedding")} AS cos_sim
           |  FROM probe_cells p JOIN assign a ON a.cent_id = p.cent_id
           |   AND a.vec_id <> p.anchor_id
           |), pos AS (
           |  ${ByAnchor.cutSql("anchor_id, cand_id AS pos_id, cos_sim AS pos_cos",
                "anchor_id, cand_id, cos_sim", "cand WHERE clbl = albl")}
           |), neg AS (
           |  ${ByAnchor.cutSql("anchor_id, cand_id AS neg_id, cos_sim AS neg_cos",
                "anchor_id, cand_id, cos_sim", "cand WHERE clbl <> albl")}
           |)
           |SELECT p.anchor_id AS anchor_id, pos_id, pos_cos, neg_id, neg_cos,
           |  round(pos_cos - neg_cos, 6) AS margin
           |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
           |ORDER BY anchor_id""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
      val cells = Ivf.Cells(Ivf.seeds(e, NumCells), Ivf.Cos)
      val assign = cells.assign(e, "cent_id")
        .select(col("vec_id"), col("label"), col("embedding"), col("cent_id"))
      val probeCells = cells.probe(e.filter(col("vec_id") < PairAnchors), NProbe)
        .select(col("vec_id").as("anchor_id"), col("label").as("albl"),
          col("embedding").as("pe"), col("cell.cent_id").as("cent_id"))
      val cand = broadcast(probeCells)
        .join(assign, Seq("cent_id"))
        .filter(col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("albl"),
          col("vec_id").as("cand_id"), col("label").as("clbl"),
          cosSim("pe", "embedding").as("cos_sim"))
      val pos = ByAnchor.cut(cand.filter(col("clbl") === col("albl")))
        .select(col("anchor_id"), col("cand_id").as("pos_id"),
          col("cos_sim").as("pos_cos"))
      val neg = ByAnchor.cut(cand.filter(col("clbl") =!= col("albl")))
        .select(col("anchor_id"), col("cand_id").as("neg_id"),
          col("cos_sim").as("neg_cos"))
      pos.join(neg, Seq("anchor_id"))
        .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
          col("neg_id"), col("neg_cos"),
          round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
        .orderBy("anchor_id")
    },

    Q(
      "q_ivf_layout",
      s"the deployed IVF index LAYOUT: embeddings written " +
        s"hive-partitioned by their coarse cell (cell_id= directories " +
        "— the inverted lists as a table layout), then read back with " +
        "a cell predicate so only probed cells are ever LISTED or " +
        "scanned (partition pruning, plan-pinned like " +
        "q_partitioned_sink). This is the storage half q_ivfpq_search " +
        "computes on the fly: pay the cell routing once at ingest and " +
        "every query's IO is nprobe/cells of the corpus before a " +
        "single row is read. Reports per-probed-cell inventory",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (${Ivf.seedSql(NumCells)}),
           |assign AS (
           |  ${Ivf.assignSql(Ivf.L2,
                "vec_id, cent_id AS cell_id", "e.vec_id, c.cent_id")}
           |)
           |SELECT cell_id, count(*) AS n_vecs,
           |  min(vec_id) AS min_vec, max(vec_id) AS max_vec
           |FROM assign WHERE cell_id < $NProbe
           |GROUP BY cell_id ORDER BY cell_id""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val assigned = Ivf.Cells(Ivf.seeds(e, NumCells), Ivf.L2).assign(e, "cell_id")
        .select(col("vec_id"), col("embedding"), col("cell_id"))
      val out = Scratch.dir()
      assigned.write.partitionBy("cell_id").parquet(out)
      // Partition values re-infer as INT on read; cast back so the
      // oracle's BIGINT cell ids compare type-exact.
      s.read.parquet(out)
        .filter(col("cell_id") < NProbe)
        .groupBy(col("cell_id").cast("long").as("cell_id"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
        .orderBy("cell_id")
    },

    Q(
      "q_embed_dup",
      "embedding-cosine near-dup pairs: LSH band self-join generates " +
        "candidates (keyed equi-join, never all-pairs), exact cosine " +
        "filter keeps pairs ≥ 0.45 — threshold fits the synthetic " +
        "corpus (max pairwise cosine ≈ 0.51; real corpora use ≥ 0.95, " +
        "the machinery is identical)",
      Some {
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |bands AS (
           |  $bandTableSql
           |), cands AS (
           |  SELECT DISTINCT l.vec_id AS vec_a, l.embedding AS ea,
           |                  r.vec_id AS vec_b, r.embedding AS eb
           |  FROM bands l JOIN bands r
           |    ON l.band_id = r.band_id AND l.band_val = r.band_val
           |   AND l.vec_id < r.vec_id
           |)
           |SELECT vec_a, vec_b,
           |  ${cosSimSql("ea", "eb")} AS cos_sim
           |FROM cands
           |WHERE ${cosSimSql("ea", "eb")} >= 0.45
           |ORDER BY vec_a, vec_b""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val bands = bandTable(e, "vec_id")
      // Dedupe candidate PAIRS on ids only — a distinct over two longs,
      // not over 256-byte embedding payloads — then fetch the vectors
      // with two keyed joins. At 100 TB this is the difference between
      // shuffling ids and shuffling the embedding table per band.
      val candIds = bands.as("l").join(bands.as("r"),
          col("l.band_id") === col("r.band_id")
            && col("l.band_val") === col("r.band_val")
            && col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
        .distinct()
      val cands = candIds
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), Seq("vec_a"))
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), Seq("vec_b"))
      val sim = cosSim("ea", "eb")
      cands
        .select(col("vec_a"), col("vec_b"), sim.as("cos_sim"))
        .filter(col("cos_sim") >= 0.45)
        .orderBy("vec_a", "vec_b")
    },

    Q(
      "q_cos_join",
      "the DECLARATIVE cosine-threshold join: the user writes the " +
        "naive `JOIN ON cosine_sim(a, b) >= 0.9` — the predicate " +
        "q_embed_dup builds its candidate machinery around BY HAND — " +
        "and the CosineBandJoin optimizer rule plans it as the " +
        "hypersig banded equi-join (band explode both sides, " +
        "(band_id, band_val) equi-join, exact cosine verify, " +
        "first-matching-band canonical filter), NestedLoop-free. " +
        "Corpus = embeddings ∪ planted near-duplicates (coordinate 1 " +
        "exactly halved — a dyadic scaling both engines compute " +
        "bit-identically): planted pairs have cosine ≥ 0.9798, every " +
        "other pair ≤ 0.6032, and planted signature distance ≤ 3 = " +
        "the banding radius at every SF (CosineRuleSpec certifies " +
        "this against the real corpus — the rule's recall contract " +
        "is pigeonhole-exact for signature distance < bands). At " +
        "100 TB: ×4 map-side band rows and one band-keyed shuffle " +
        "instead of |L|·|R| dot products; plane count sizes to the " +
        "corpus, the plan shape is unchanged",
      Some {
        val pertSql = "e.embedding[1:1] || " +
          "[CAST(CAST(e.embedding[2] AS DOUBLE) * 0.5 AS FLOAT)] || " +
          "e.embedding[3:]"
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |d AS (SELECT e.vec_id + 100000 AS vec_id,
           |        $pertSql AS embedding FROM e),
           |c AS (
           |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
           |  FROM (SELECT * FROM e UNION ALL SELECT * FROM d)
           |)
           |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  round(${dotColSql("a.embedding", "b.embedding")}
           |    / (a.nrm * b.nrm), 6) AS cos_sim
           |FROM c a JOIN c b
           |  ON a.vec_id < b.vec_id
           | AND ${dotColSql("a.embedding", "b.embedding")}
           |     / (a.nrm * b.nrm) >= 0.9
           |ORDER BY vec_a, vec_b""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.select((col("vec_id") + lit(100000L)).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "IF(i = 1, CAST(CAST(x AS DOUBLE) * 0.5 AS FLOAT), x))")
          .as("embedding"))
      val corpus = e.unionByName(pert)
      val a = corpus.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = corpus.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      val sim = graft.functions.CosSim.cosineSim("ea", "eb")
      a.join(b, sim >= lit(0.9) && col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), round(sim, 6).as("cos_sim"))
        .orderBy("vec_a", "vec_b")
    },

    Q(
      "q_sql_cos",
      "the SQL-TEXT face of the CosineBandJoin rule: the naive " +
        "cosine-threshold join written as ONE ANSI string over a " +
        "temp view and executed through spark.sql — proving the " +
        "cosine optimizer rule fires on the parsed-SQL path exactly " +
        "as on DataFrame trees (the q_sql_jaccard contract; pinned " +
        "NestedLoop-free in CosineRuleSpec's sql-text test). The " +
        "0.9 literal parses as DECIMAL, exercising ThresholdLit's " +
        "decimal arm rather than the DataFrame twin's double lit(). " +
        "cosine_sim is the ENGINE's fused function — the rewrite's " +
        "only trigger; the spelled-out ANSI dot/norm form always " +
        "keeps the exact nested loop. Runs on the vec_id % 5 " +
        "slice (the demonstration is the PLAN — q_cos_join already " +
        "pays the full corpus); corpus = slice ∪ planted " +
        "coordinate-halved near-duplicates, the q_cos_join fixture",
      Some {
        val pertSql = "e.embedding[1:1] || " +
          "[CAST(CAST(e.embedding[2] AS DOUBLE) * 0.5 AS FLOAT)] || " +
          "e.embedding[3:]"
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE vec_id % 5 = 0),
           |d AS (SELECT e.vec_id + 100000 AS vec_id,
           |        $pertSql AS embedding FROM e),
           |c AS (
           |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
           |  FROM (SELECT * FROM e UNION ALL SELECT * FROM d)
           |)
           |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  round(${dotColSql("a.embedding", "b.embedding")}
           |    / (a.nrm * b.nrm), 6) AS cos_sim
           |FROM c a JOIN c b
           |  ON a.vec_id < b.vec_id
           | AND ${dotColSql("a.embedding", "b.embedding")}
           |     / (a.nrm * b.nrm) >= 0.9
           |ORDER BY vec_a, vec_b""".stripMargin
      },
    ) { (s, dir) =>
      Tables.embeddings(s, dir).select("vec_id", "embedding")
        .createOrReplaceTempView("emb_sql_cos")
      s.sql(AnnOps.SqlCosText)
    },

    Q(
      "q_semdedup",
      s"SemDeDup (Abbas et al.): cluster the embedding space (k=$KSeeds " +
        "seeded cells, zero-shuffle broadcast-argmin assignment), then " +
        "compare ONLY within-cluster pairs — a vector is dropped when " +
        "a lower-id same-cell neighbor has cosine ≥ 0.45 (threshold " +
        "fits the synthetic corpus, see q_embed_dup). The paper's " +
        "point IS the plan shape: the pair join is cell-keyed, cost " +
        "Σ|cell|² instead of n², and at 100 TB k grows ~√n so cells " +
        "stay bounded and the join never degenerates; the cluster " +
        "assignment itself never shuffles the corpus (centroids " +
        "broadcast). Verdict per vector: (vec_id, cell_id, keep)",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (${Ivf.seedSql(KSeeds)}),
           |assign AS (
           |  ${Ivf.assignSql(Ivf.L2,
                "vec_id, cent_id AS cell_id, embedding", "e.vec_id, c.cent_id, e.embedding")}
           |), dropped AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM assign a JOIN assign b
           |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
           |  WHERE ${cosSimSql("a.embedding", "b.embedding")} >= 0.45
           |)
           |SELECT s.vec_id, s.cell_id,
           |  CASE WHEN d.vec_id IS NULL THEN CAST(1 AS BIGINT)
           |       ELSE CAST(0 AS BIGINT) END AS keep
           |FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
           |ORDER BY s.vec_id""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val assign = Ivf.Cells(Ivf.seeds(e, KSeeds), Ivf.L2).assign(e, "cell_id")
        .select(col("vec_id"), col("cell_id"), col("embedding"))
      val l = assign.select(col("cell_id"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"))
      val r = assign.select(col("cell_id"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"))
      // Dropped side is ids-only after the filter — the distinct
      // dedupes two longs, never embedding payloads.
      val dropped = l.join(r, Seq("cell_id"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(cosSim("ea", "eb") >= 0.45)
        .select(col("vec_b").as("vec_id")).distinct()
        .withColumn("dropped", lit(1L))
      assign.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell_id"),
          when(col("dropped").isNull, 1L).otherwise(0L).as("keep"))
        .orderBy("vec_id")
    },

    Q(
      "q_embed_decontaminate",
      s"cross-corpus EMBEDDING decontamination — the semantic " +
        "complement of n-gram q_decontaminate, catching paraphrased " +
        "test-set leakage that exact grams miss (SemDeDup's machinery " +
        "pointed ACROSS corpora instead of within one): train and " +
        "test embeddings are routed to shared coarse cells by the " +
        "same zero-shuffle broadcast-argmin assignment, and only " +
        "same-cell test×train pairs are cosine-scored — cell-keyed " +
        "join cost Σ|cell_test|·|cell_train|, never |test|·|train|. " +
        "Per test vector: match count, max cosine (null when clean), " +
        "contaminated verdict at ≥ 0.45 (synthetic-corpus threshold, " +
        "see q_embed_dup; real corpora ~0.95+). Each test vector " +
        s"probes its $DecontamNProbe nearest cells (the IVF nprobe " +
        "recall knob, mitigating the boundary-straddling-paraphrase " +
        "miss; train stays single-cell so no pair double-counts); " +
        "reported cell_id is the primary cell",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (${Ivf.seedSql(KSeeds)}),
           |routed AS (
           |  ${Ivf.routeSql(Ivf.L2,
                "vec_id, cent_id AS cell_id, embedding, rn", "e.vec_id, c.cent_id, e.embedding",
                DecontamNProbe)}
           |), test AS (
           |  SELECT vec_id, cell_id, embedding FROM routed
           |  WHERE vec_id < $DecontamSplit AND rn = 1
           |), probes AS (
           |  SELECT vec_id, cell_id, embedding FROM routed WHERE vec_id < $DecontamSplit
           |), train AS (
           |  SELECT vec_id, cell_id, embedding FROM routed
           |  WHERE vec_id >= $DecontamSplit AND rn = 1
           |), scored AS (
           |  SELECT t.vec_id AS vec_id,
           |    ${cosSimSql("t.embedding", "r.embedding")} AS cs
           |  FROM probes t JOIN train r ON t.cell_id = r.cell_id
           |), sims AS (
           |  SELECT vec_id, count(*) AS n_train_matches, max(cs) AS max_cos
           |  FROM scored WHERE cs >= 0.45 GROUP BY vec_id
           |)
           |SELECT t.vec_id, t.cell_id,
           |  CAST(coalesce(s.n_train_matches, 0) AS BIGINT) AS n_train_matches,
           |  s.max_cos,
           |  CASE WHEN s.vec_id IS NULL THEN CAST(0 AS BIGINT)
           |       ELSE CAST(1 AS BIGINT) END AS contaminated
           |FROM test t LEFT JOIN sims s ON t.vec_id = s.vec_id
           |ORDER BY t.vec_id""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cents = Ivf.seeds(e, KSeeds)
      embedDecontaminate(s,
        e.filter(col("vec_id") < DecontamSplit),
        e.filter(col("vec_id") >= DecontamSplit),
        cents, 0.45, nprobe = DecontamNProbe)
        .orderBy("vec_id")
    },

    Q(
      "q_embed_centroids",
      "label-centroid cluster tightness: posexplode to (label, pos, " +
        "val), centroid = avg per (label, pos) — one keyed shuffle " +
        "bounded by labels×dims; per-vector cosine to centroid joined " +
        "back by label; avg similarity per label, rounded 6dp",
      Some(
        s"""WITH ev AS (
           |  SELECT vec_id, label, i AS pos, CAST(embedding[i+1] AS DOUBLE) AS val
           |  FROM embeddings, range($Dim) AS u(i)
           |), cent AS (
           |  SELECT label, pos, avg(val) AS cval FROM ev GROUP BY label, pos
           |), cnorm AS (
           |  SELECT label, sqrt(sum(cval*cval)) AS cn FROM cent GROUP BY label
           |), dots AS (
           |  SELECT ev.vec_id, ev.label,
           |    sum(ev.val * cent.cval) AS dot,
           |    sqrt(sum(ev.val * ev.val)) AS vn
           |  FROM ev JOIN cent ON ev.label = cent.label AND ev.pos = cent.pos
           |  GROUP BY ev.vec_id, ev.label
           |)
           |SELECT d.label, count(*) AS n_vecs,
           |  round(avg(d.dot / (d.vn * cnorm.cn)), 6) AS avg_cos_to_centroid
           |FROM dots d JOIN cnorm ON d.label = cnorm.label
           |GROUP BY d.label
           |ORDER BY d.label""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("label"), col("pos"), col("v").cast("double").as("val"))
      val cent = ev.groupBy("label", "pos").agg(avg("val").as("cval"))
      val cnorm = cent.groupBy("label")
        .agg(sqrt(sum(col("cval") * col("cval"))).as("cn"))
      val dots = ev.join(cent, Seq("label", "pos"))
        .groupBy("vec_id", "label")
        .agg(sum(col("val") * col("cval")).as("dot"),
          sqrt(sum(col("val") * col("val"))).as("vn"))
      dots.join(cnorm, Seq("label"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("dot") / (col("vn") * col("cn"))), 6).as("avg_cos_to_centroid"))
        .orderBy("label")
    },

    Q(
      "q_embed_pca",
      "dominant principal component of the embedding corpus (the " +
        "whitening/pruning direction), via ONE corpus pass into a " +
        s"fixed-point $Dim×$Dim Gram matrix — map-side combine " +
        "collapses the posexplode pair stream to d² cells before the " +
        "single shuffle — then REPEATED SQUARING of the normalized " +
        s"Gram on the driver (G^(2^$PcaSquarings), ~512 effective " +
        "power iterations: the corpus is near-isotropic so plain " +
        "iteration would need hundreds of rounds; squaring is d³ " +
        "integer work on a d²-bounded matrix, data-free). The Gram " +
        "collect is 4096 longs — the BPE-argmax class of bounded, " +
        "documented collects; at 100 TB the Gram pass is the only " +
        "data-sized cost and is embarrassingly partial-agg (and for " +
        "the d where d² itself stops fitting, q_embed_pca_fd is the " +
        "mergeable Frequent-Directions face). Every " +
        "cross-engine sum is exact BIGINT fixed point (terms rounded " +
        "BEFORE summing), so accumulation order can never flip a " +
        "bit; the eigenvector re-enters the plan as a " +
        s"$Dim-row broadcast and scoring the corpus is a per-row " +
        "integer dot product. Output: top-20 docs by signed " +
        "projection — the extremes along the corpus's main axis of " +
        "variation, the q_embed_prune complement on the global " +
        "rather than per-cell structure",
      Some(
        s"""WITH $pcaIterSqlCtes,
           |pe AS (
           |  SELECT vec_id, i, CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS pv
           |  FROM embeddings, range($Dim) AS u(i)
           |), pr AS (
           |  SELECT vec_id, CAST(sum(pv * wv) AS BIGINT) AS p
           |  FROM pe JOIN w$PcaMatvecs w ON pe.i = w.i GROUP BY vec_id
           |)
           |SELECT vec_id, round(CAST(p AS DOUBLE) / 1000000000000.0, 6) AS proj
           |FROM pr ORDER BY proj DESC, vec_id LIMIT 20""".stripMargin),
    ) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val gram = emb
        .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "xi")))
        .select(col("i"), col("xi"), posexplode(col("embedding")).as(Seq("j", "xj")))
        .select(col("i"), col("j"),
          round(col("xi").cast("double") * col("xj").cast("double") * 1e6, 0)
            .cast("long").as("t"))
        .groupBy("i", "j").agg(sum(col("t")).as("gv"))
      // d²-bounded collect (Dim² = 4096 cells) — same bounded-collect
      // class as the BPE per-round argmax; the iteration below is d²
      // driver work per round, data-free.
      val raw = Array.ofDim[Long](Dim, Dim)
      gram.collect().foreach(r => raw(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      def renorm(m: Array[Array[Long]]): Array[Array[Long]] = {
        val mx = m.map(_.map(math.abs).max).max
        m.map(_.map(v => rndAway(v.toDouble / mx * 1e6)))
      }
      var G = renorm(raw)
      for (_ <- 1 to PcaSquarings) {
        val sq = Array.tabulate(Dim, Dim) { (i, j) =>
          var acc = 0L
          var k = 0
          while (k < Dim) {
            acc += rndAway(G(i)(k).toDouble * G(k)(j).toDouble / 1e6); k += 1
          }
          acc
        }
        G = renorm(sq)
      }
      var w = Array.fill(Dim)(1000000L)
      for (_ <- 1 to PcaMatvecs) {
        val sv = Array.tabulate(Dim) { i =>
          var acc = 0L
          var j = 0
          while (j < Dim) { acc += rndAway(G(i)(j).toDouble / 1e6 * w(j)); j += 1 }
          acc
        }
        val m = sv.map(math.abs).max
        w = sv.map(x => rndAway(x.toDouble / m * 1e6))
      }
      import s.implicits._
      val wDf = (0 until Dim).map(i => (i, w(i))).toDF("i", "wv")
      emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xi")))
        .select(col("vec_id"), col("i"),
          round(col("xi").cast("double") * 1e6, 0).cast("long").as("pv"))
        .join(broadcast(wDf), "i")
        .groupBy("vec_id").agg(sum(col("pv") * col("wv")).as("p"))
        .select(col("vec_id"),
          round(col("p").cast("double") / 1e12, 6).as("proj"))
        .orderBy(col("proj").desc, col("vec_id")).limit(20)
        .orderBy(col("proj").desc, col("vec_id"))
    },

    Q(
      "q_embed_pca_fd",
      "q_embed_pca's SKETCH face: FREQUENT DIRECTIONS (functions/" +
        "FreqDir.scala) — a mergeable l×d row sketch (l=16 ≪ d=64) " +
        "whose Gram provably sandwiches the true one, AᵀA − Δ·I ⪯ " +
        "BᵀB ⪯ AᵀA with Δ the exact shrinkage total the sketch " +
        "CARRIES — built as per-LABEL partials rolled up through " +
        "fd_merge_agg, so the gate exercises the state-table merge " +
        "face every sketch family carries (deltas ADD; the " +
        "certificate survives the rollup). This is the PCA path " +
        "for the d where q_embed_pca's " +
        "d² Gram collect stops being a bounded driver read: one " +
        "corpus pass into l×d mergeable state, finishing is " +
        "d-bounded Jacobi on the driver. The gate contract is the " +
        "CERTIFICATE, not an asymptotic promise — hard flags Spark " +
        "checks against its own exact double Gram (the gate-cost " +
        "twin): λ₁(BᵀB) never exceeds the sketch eigenvector's true " +
        "Rayleigh quotient (B under-estimates), that Rayleigh " +
        "quotient is ≥ λ₁(AᵀA) − Δ (the sandwich), and the trace " +
        "accounting (l+1)·Δ ≤ tr(AᵀA) − tr(BᵀB); plus exact n " +
        "conservation and the exact fixed-point ‖A‖²F both engines " +
        "compute (the one oracle-matched data value). FreqDirSpec " +
        "pins exact mode at any split, planted-spike recovery under " +
        "real shrinkage, and merge soundness",
      Some(
        s"""SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vecs,
           |  (SELECT CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE)
           |       * CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT))
           |     AS BIGINT)
           |   FROM embeddings, range($Dim) AS u(i)) AS fro_fp,
           |  CAST(16 AS BIGINT) AS sketch_rows,
           |  CAST(1 AS BIGINT) AS n_conserved,
           |  CAST(1 AS BIGINT) AS no_overestimate,
           |  CAST(1 AS BIGINT) AS rayleigh_ok,
           |  CAST(1 AS BIGINT) AS trace_ok""".stripMargin),
    ) { (s, dir) =>
      val fdL = 16
      val emb = Tables.embeddings(s, dir)
      // The production pass: ONE scan → per-LABEL l×d partials (the
      // persisted state-table shape), rolled up through fd_merge_agg —
      // so the gate exercises the merge face every sketch family
      // carries, not just the one-shot build. The exact fixed-point
      // ‖A‖²F the oracle matches rides the same scan.
      val row = emb
        .groupBy("label")
        .agg(expr(s"fd_sketch_agg(embedding, $fdL)").as("psk"),
          count(lit(1)).as("pn"),
          sum(expr(
            """aggregate(embedding, 0L, (acc, x) -> acc
              |  + CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
              |      * 1000000) AS BIGINT))""".stripMargin)).as("pf"))
        .agg(expr(s"fd_merge_agg(psk, $fdL)").as("sk"),
          sum(col("pn")).as("n_vecs"), sum(col("pf")).as("fro_fp"))
        .collect()(0)
      val sk = row.getAs[Array[Byte]](0)
      val nVecs = row.getLong(1)
      val froFp = row.getLong(2)
      // Gate-cost twin: the exact DOUBLE Gram (flags never cross the
      // engine boundary, so no fixed point needed) — the same
      // d²-bounded collect class as q_embed_pca.
      val gd = Array.ofDim[Double](Dim, Dim)
      emb.select(col("embedding"),
          posexplode(col("embedding")).as(Seq("i", "xi")))
        .select(col("i"), col("xi"),
          posexplode(col("embedding")).as(Seq("j", "xj")))
        .groupBy("i", "j")
        .agg(sum(col("xi").cast("double") * col("xj").cast("double"))
          .as("gv"))
        .collect()
        .foreach(r => gd(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      val (lamB, vfd) = graft.functions.FreqDir.topEigen(sk)
      val delta = graft.functions.FreqDir.shrinkTotal(sk)
      val covB = graft.functions.FreqDir.cov(sk)
      def rayleigh(g: Array[Array[Double]], v: Array[Double]): Double = {
        var acc = 0.0
        var i = 0
        while (i < Dim) {
          var j = 0
          while (j < Dim) { acc += v(i) * g(i)(j) * v(j); j += 1 }
          i += 1
        }
        acc
      }
      val lam1G = graft.functions.FreqDir.jacobiEigen(gd)._1(0)
      val rayG = rayleigh(gd, vfd)
      val trG = (0 until Dim).map(i => gd(i)(i)).sum
      val trB = (0 until Dim).map(i => covB(i)(i)).sum
      val slack = 1e-9 * math.max(lam1G, 1.0)
      import s.implicits._
      Seq((nVecs, froFp, fdL.toLong,
        if (graft.functions.FreqDir.count(sk) == nVecs) 1L else 0L,
        if (lamB <= rayG + slack) 1L else 0L,
        if (rayG >= lam1G - delta - slack) 1L else 0L,
        if ((fdL + 1) * delta <= trG - trB + slack * Dim) 1L else 0L))
        .toDF("n_vecs", "fro_fp", "sketch_rows", "n_conserved",
          "no_overestimate", "rayleigh_ok", "trace_ok")
    },

    Q(
      "q_embed_procrustes",
      "orthogonal Procrustes alignment between two embedding VERSIONS " +
        "— the model-upgrade primitive that maps an old index into a " +
        "new encoder's space without re-embedding the corpus: the " +
        "second version is salted in-plan as a signed permutation of " +
        "the first (a KNOWN orthogonal transform, the BMP/tone " +
        "fixture convention — provably the unique optimum, so the " +
        "solver must RECOVER it), the cross-Gram M = XᵀY folds in " +
        "ONE corpus pass to d² exact-BIGINT fixed-point cells " +
        "(map-side combined, the q_embed_pca bounded-collect class), " +
        "and the rotation comes from the POLAR decomposition " +
        "R = M·(MᵀM)^(−1/2) via the d-bounded driver Jacobi — the " +
        "W·Λ^(−1/2)·Wᵀ form is eigenbasis-invariant, so repeated " +
        "eigenvalues can't flip it. The recovered ±1 entries then " +
        "re-enter the PLAN as a broadcast 64-row table and the " +
        "residual ‖XR − Y‖² is verified DISTRIBUTED in exact integer " +
        "arithmetic (max over the corpus must be exactly 0 — a wrong " +
        "R breaks both the row set and the residual). At 100 TB: the " +
        "Gram pass is the only data-sized cost; d² cells shuffle, " +
        "4096 longs collect, the solve is d³ driver flops",
      Some(
        // The corpus guard CTE ties the closed form to the table: an
        // empty embeddings corpus yields zero oracle rows (the Spark
        // side throws rank-deficient there, recorded as an error).
        """WITH corpus AS (
          |  SELECT count(*) AS n FROM embeddings HAVING count(*) > 0
          |)
          |SELECT CAST(u.i AS BIGINT) AS i,
          |  CAST((7 * u.i + 3) % 64 AS BIGINT) AS j,
          |  CAST(CASE WHEN u.i % 3 = 0 THEN 1 ELSE -1 END AS BIGINT) AS r,
          |  CAST(0 AS BIGINT) AS max_err
          |FROM range(64) AS u(i) CROSS JOIN corpus ORDER BY i""".stripMargin),
    ) { (s, dir) =>
      // Fixture: y[(7i+3)%64] = s_i·x_i with s_i = +1 iff i%3=0 —
      // equivalently y_j = s_inv(j)·x_inv(j), inv(j) = 55(j−3) mod 64
      // (55 = 7⁻¹ mod 64). Fixed-point ×1e6 BIGINT lanes throughout.
      val xy = Tables.embeddings(s, dir)
        .select(col("vec_id"), expr(
          "transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT))")
          .as("x"))
        .withColumn("y", expr(
          """transform(sequence(0, 63), j ->
            |  (CASE WHEN pmod(55 * (j - 3), 64) % 3 = 0 THEN 1L ELSE -1L END)
            |  * element_at(x, CAST(pmod(55 * (j - 3), 64) AS INT) + 1))"""
            .stripMargin))
        .localCheckpoint() // read twice: the Gram pass + the residual pass
      val m = xy
        .select(posexplode(col("x")).as(Seq("i", "xi")), col("y"))
        .select(col("i"), col("xi"), posexplode(col("y")).as(Seq("j", "yj")))
        .groupBy("i", "j")
        // DECIMAL(38,0) before the fold (the q_acf lesson): each
        // ×1e6 fixed-point product is ~1e12, so a plain BIGINT sum
        // wraps silently past ~1e7 rows — inside the entry's claimed
        // scale. Exact decimal keeps the Gram exact at any row count.
        .agg(sum((col("xi") * col("yj")).cast("decimal(38,0)")).as("mij"))
        .collect()
      val md = Array.ofDim[Double](Dim, Dim)
      m.foreach(r => md(r.getInt(0))(r.getInt(1)) = r.getDecimal(2).doubleValue)
      val rot = polarRotation(md)
      val entries = for {
        a <- 0 until Dim; b <- 0 until Dim
        if math.abs(rot(a)(b)) > 0.5
      } yield (a.toLong, b.toLong, math.round(rot(a)(b)))
      import s.implicits._
      val rdf = s.createDataset(entries).toDF("i", "j", "r")
        .localCheckpoint() // read twice: residual join + output
      // Distributed residual in exact integers: xr_j = Σ_i x_i·R_ij.
      val xi = xy.select(col("vec_id"), posexplode(col("x")).as(Seq("i", "xi")))
      val xr = xi.join(broadcast(rdf), "i")
        .groupBy(col("vec_id"), col("j"))
        // Same DECIMAL(38,0) treatment as the Gram: the residual sum
        // must stay exact too, or a wrapped e2 could mask a wrong
        // rotation as max_err = 0.
        .agg(sum((col("xi") * col("r")).cast("decimal(38,0)")).as("xr"))
      val yj = xy.select(col("vec_id"), posexplode(col("y")).as(Seq("j", "yj")))
      val err = xr.join(yj, Seq("vec_id", "j"))
        .groupBy("vec_id")
        .agg(sum((col("xr") - col("yj")) * (col("xr") - col("yj"))).as("e2"))
        // Back to BIGINT for the output contract (e2 is 0 when the
        // recovered rotation is exact; bounded by 64·(2·6.4e7)² ≈
        // 1e18 < Long.Max even when it is not).
        .agg(max(col("e2")).cast("long").as("max_err"))
      rdf.crossJoin(broadcast(err)).orderBy("i")
    },

    Q(
      "q_kmeans_step",
      s"one Lloyd iteration, k=$KSeeds seed centroids: assignment is " +
        "corpus × broadcast(seeds) per-row argmin (squared-L2 rounded " +
        "6dp, ties by cent_id) — the corpus never shuffles for it; " +
        "recompute is a (cent_id, pos)-keyed mean bounded by k×dims. " +
        "Iterating = repeating this step with the output as the new " +
        "seed table; the per-iteration cost is one corpus scan",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (${Ivf.seedSql(KSeeds)}),
           |assign AS (
           |  ${Ivf.assignSql(Ivf.L2,
                "vec_id, cent_id, embedding", "e.vec_id, c.cent_id, e.embedding")}
           |), ev AS (
           |  SELECT cent_id, i AS pos, CAST(embedding[i+1] AS DOUBLE) AS val
           |  FROM assign, range($Dim) AS u(i)
           |)
           |SELECT cent_id, pos, count(*) AS n_vecs, round(avg(val), 6) AS cval
           |FROM ev GROUP BY cent_id, pos
           |ORDER BY cent_id, pos""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cents = Ivf.seeds(e, KSeeds)
      // Zero-shuffle fused argmin (see CentArgmin): squared L2 via
      // ||v||² − 2·v·c + ||c||², same op order as the oracle, the 6dp
      // round absorbing last-ulp libm drift; the corpus never
      // shuffles or sorts for the assignment, and the k dot products
      // run in one codegen'd loop.
      val assign = Ivf.Cells(cents, Ivf.L2).assign(e, "cent_id")
        .select(col("vec_id"), col("cent_id"), col("embedding"))
      // n_vecs rides the same (cent_id, pos) group — every assigned
      // vector contributes exactly one row per pos — so the whole
      // recompute is ONE scan pipeline: no count join, no second pass
      // over the assignment.
      val ev = assign
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("cent_id"), col("pos").cast("long").as("pos"),
          col("v").cast("double").as("val"))
      ev.groupBy("cent_id", "pos")
        .agg(count(lit(1)).as("n_vecs"), round(avg("val"), 6).as("cval"))
        .orderBy("cent_id", "pos")
    },

    Q(
      "q_kmeans_train",
      s"k-means to convergence: $KmIters unrolled Lloyd iterations, " +
        s"k=$KSeeds — the q_kmeans_step loop with per-iteration 6dp " +
        "centroid rounding as the cross-engine sync point (drift is " +
        "absorbed each round instead of compounding). Per-iteration " +
        "cost is exactly one corpus scan (assignment streams the " +
        "corpus against broadcast centroids; recompute is bounded by " +
        "k×dims); lineage stays linear, so no checkpoint is needed at " +
        "a fixed iteration count — the open-ended tolerance-stopped " +
        "loop is [[AnnOps.trainKMeans]] (checkpoint-per-round, " +
        "KMeansTrainSpec), fixed iterations here keep the oracle " +
        "expressible",
      Some(
        s"""${kmeansTrainSql(KSeeds, KmIters)}
           |SELECT cent_id, pos, n_vecs, cval
           |FROM l$KmIters ORDER BY cent_id, pos""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val (_, centLong) = trainCents(e, KSeeds, KmIters)
      centLong.select("cent_id", "pos", "n_vecs", "cval")
        .orderBy("cent_id", "pos")
    },

    Q(
      "q_simsearch_ivf_learned",
      s"IVF with a LEARNED coarse quantizer: $KmIvfIters Lloyd " +
        s"iterations train $NumCells cells, then the q_simsearch_ivf " +
        s"machinery runs against them (assignment and probe routing " +
        "both by the training metric, squared-L2). Learned cells " +
        "follow the data distribution, so cell sizes even out vs the " +
        "raw-seed variant and the nprobe/cells fraction touched is a " +
        "tighter recall/cost knob; recall vs the brute-force twin on " +
        "the same probes is asserted in AnnSpec",
      Some {
        val c = s"c$KmIvfIters"
        s"""${kmeansTrainSql(NumCells, KmIvfIters)}, assign AS (
           |  ${Ivf.assignSql(Ivf.L2,
                "vec_id, embedding, cent_id", "e.vec_id, e.embedding, c.cent_id", cents = c)}
           |), ${probeCellsSql(Ivf.L2, c)}, ${ivfScoredSql()}$cosTailSql""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val (cents, _) = trainCents(e, NumCells, KmIvfIters)
      val cells = Ivf.Cells(cents, Ivf.L2)
      // Zero-shuffle cell assignment and probe routing against the
      // packed centroids (see Ivf).
      val assign = cells.assign(e, "cent_id")
        .select(col("vec_id"), col("embedding"), col("cent_id"))
      ByCos.ranked(scoredCos(ivfPairs(cells, e, assign)))
    },

    Q(
      "q_embed_quantize",
      "symmetric int8 quantization per vector: scale = max|x|/127, " +
        "elements round-clamped to [-127,127]; emits scale, quantized " +
        "checksum and max reconstruction error — pure per-row array " +
        "expression work, zero shuffles before the output sort. At " +
        "100 TB this is the compression pass before ANN indexing: 4× " +
        "smaller vectors, error bound checked inline",
      Some(
        """WITH s AS (
          |  SELECT vec_id, embedding,
          |    greatest(list_max(list_transform(embedding,
          |      x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12) AS scale
          |  FROM embeddings
          |)
          |SELECT vec_id, round(scale, 6) AS scale,
          |  CAST(list_sum(list_transform(embedding, x ->
          |    greatest(-127.0, least(127.0,
          |      round(CAST(x AS DOUBLE) / scale))))) AS BIGINT) AS qsum,
          |  round(list_max(list_transform(embedding, x ->
          |    abs(CAST(x AS DOUBLE) - greatest(-127.0, least(127.0,
          |      round(CAST(x AS DOUBLE) / scale))) * scale))), 6) AS max_err
          |FROM s ORDER BY vec_id""".stripMargin),
    ) { (s, dir) =>
      // greatest(·, 1e-12) guards the all-zero vector (scale 0 would
      // divide by zero with engine-dependent results). The raw scale
      // keeps a distinct name from the rounded output column: Spark
      // 4's lateral-column-alias resolution would otherwise bind the
      // quantizer to `round(scale, 6) AS scale` from the same select
      // list, silently quantizing against the rounded scale.
      val quant = (x: Column) =>
        greatest(lit(-127.0), least(lit(127.0),
          round(x.cast("double") / col("scale_raw"), 0)))
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          greatest(
            array_max(transform(col("embedding"), x => abs(x.cast("double")))) / lit(127.0),
            lit(1e-12)).as("scale_raw"))
        .select(col("vec_id"), round(col("scale_raw"), 6).as("scale"),
          aggregate(transform(col("embedding"), quant),
            lit(0.0), (acc, x) => acc + x).cast("long").as("qsum"),
          round(array_max(transform(col("embedding"),
            x => abs(x.cast("double") - quant(x) * col("scale_raw")))), 6).as("max_err"))
        .orderBy("vec_id")
    },

    Q(
      "q_embed_whiten",
      "per-dimension standardization (the whitening prep before " +
        "PCA/quantization/ANN): corpus mean and std per dim from ONE " +
        "pass of exact fixed-point moment sums (terms rounded to " +
        "BIGINT before summing — accumulation order can never move a " +
        "bit at any parallelism), stats broadcast back as a d-row " +
        "table, then the z-score pass is per-row work whose " +
        "per-dim fixed-point checksum and max|z| verify the " +
        "transform end-to-end (the q_pii_scrub trick applied to " +
        "numeric data). Two corpus passes total — inherent to " +
        "standardization (stats, then transform); at 100 TB both " +
        "are scan-bounded with d²-free shuffles: the moment agg " +
        "moves d cells per task, the z rollup d cells per task",
      Some(
        s"""WITH pe AS (
           |  SELECT vec_id, i, CAST(embedding[i+1] AS DOUBLE) AS x
           |  FROM embeddings, range($Dim) AS u(i)
           |), st AS (
           |  SELECT i, count(*) AS n,
           |    CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS s1,
           |    CAST(sum(CAST(round(x * x * 1000000) AS BIGINT)) AS BIGINT) AS s2
           |  FROM pe GROUP BY i
           |), mo AS (
           |  SELECT i, n,
           |    CAST(s1 AS DOUBLE) / 1000000 / n AS mean,
           |    sqrt(CAST(s2 AS DOUBLE) / 1000000 / n
           |      - (CAST(s1 AS DOUBLE) / 1000000 / n) * (CAST(s1 AS DOUBLE) / 1000000 / n)) AS std
           |  FROM st
           |), z AS (
           |  SELECT pe.i AS i, mean, std, round((x - mean) / std, 6) AS zv
           |  FROM pe JOIN mo ON pe.i = mo.i
           |)
           |SELECT i AS pos, round(mean, 6) AS mean, round(std, 6) AS std,
           |  CAST(sum(CAST(round(zv * 1000) AS BIGINT)) AS BIGINT) AS sum_z_milli,
           |  max(abs(zv)) AS max_abs_z
           |FROM z GROUP BY i, mean, std ORDER BY pos""".stripMargin),
    ) { (s, dir) =>
      val pe = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xi")))
        .select(col("vec_id"), col("i"), col("xi").cast("double").as("x"))
      val st = pe.groupBy("i").agg(count(lit(1)).as("n"),
        sum(round(col("x") * 1e6, 0).cast("long")).as("s1"),
        sum(round(col("x") * col("x") * 1e6, 0).cast("long")).as("s2"))
      val mean = col("s1").cast("double") / 1e6 / col("n")
      val mo = st.select(col("i"), col("n"), mean.as("mean"),
        sqrt(col("s2").cast("double") / 1e6 / col("n") - mean * mean).as("std"))
      val z = pe.join(broadcast(mo), Seq("i"))
        .select(col("i"), col("mean"), col("std"),
          round((col("x") - col("mean")) / col("std"), 6).as("zv"))
      z.groupBy(col("i").cast("long").as("pos"), col("mean"), col("std"))
        .agg(sum(round(col("zv") * 1e3, 0).cast("long")).as("sum_z_milli"),
          max(abs(col("zv"))).as("max_abs_z"))
        .select(col("pos"), round(col("mean"), 6).as("mean"),
          round(col("std"), 6).as("std"), col("sum_z_milli"), col("max_abs_z"))
        .orderBy("pos")
    },

    Q(
      "q_embed_pq",
      s"product quantization (the IVF-PQ code book at 100 TB): the " +
        s"64-dim vector splits into $PqM subspaces of $PqSubDim dims; " +
        s"each subspace trains its own k=$PqK codebook (one unrolled " +
        s"Lloyd iteration from first-k seeds) and every vector " +
        s"compresses to $PqM one-byte codes + a 6dp reconstruction " +
        "error. The long-form " +
        "(vec, subspace) layout trains ALL subspaces in one corpus " +
        "pass per iteration — subspace is just another grouping key, " +
        "not a loop — and both assignments stream the corpus against " +
        s"a broadcast $PqM-row codebook pack; per-iteration rounding " +
        "(cval and the metric at 6dp) is the cross-engine sync point, " +
        "and the error total is a fixed-point sum, order-independent " +
        "at any parallelism",
      Some(
        s"""$pqChainSql
           |SELECT vec_id,
           |  string_agg(CAST(cent_id AS VARCHAR), '-' ORDER BY sp) AS codes,
           |  ${graft.functions.Portable.exactSumSql("m", 6)} AS err
           |FROM a2 GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    ) { (s, dir) =>
      val sv = pqSv(Tables.embeddings(s, dir).select("vec_id", "embedding"))
      pqEncode(s, sv, pqCodebooks(s, sv))
        .groupBy("vec_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("sp"), col("cent_id")))),
            x => x.getField("cent_id").cast("string")), "-").as("codes"),
          graft.functions.Portable.exactSum(col("m"), 6).as("err"))
        .orderBy("vec_id")
    },

    Q(
      "q_pq_search",
      s"asymmetric-distance (ADC) top-$PqTopK over the PQ codes: each " +
        s"probe precomputes a $PqM×$PqK distance table against the " +
        s"trained codebooks (probes×${PqM * PqK} rows, broadcast), " +
        s"and the corpus side touches ONLY its $PqM-byte codes — " +
        "never the raw vectors — so at 100 TB the scan reads a " +
        s"${4 * Dim / PqM}×-compressed table and approximate distance " +
        s"is $PqM table lookups summed per candidate (a " +
        s"(probe,vec)-keyed partial agg of $PqM-row groups); the " +
        "fixed-point sum keeps ranking engine-identical. " +
        "This is the search half of IVF-PQ; q_embed_pq builds the " +
        "codes it reads",
      Some(
        s"""$pqChainSql, dt AS (
           |  SELECT q.vec_id AS probe_id, q.sp, c.cent_id,
           |    ${pqD2Sql("q.sv", "c.ce")} AS dt
           |  FROM sv q JOIN c1 c ON c.sp = q.sp WHERE q.vec_id < $PqProbes
           |), scored AS (
           |  SELECT probe_id, a.vec_id AS neighbor_id,
           |    ${graft.functions.Portable.exactSumSql("dt", 6)} AS adist
           |  FROM a2 a JOIN dt ON dt.sp = a.sp AND dt.cent_id = a.cent_id
           |  GROUP BY probe_id, a.vec_id
           |)${ByAdist.tailSql("probe_id, neighbor_id, adist", "scored WHERE neighbor_id <> probe_id")}""".stripMargin),
    ) { (s, dir) =>
      val sv = pqSv(Tables.embeddings(s, dir).select("vec_id", "embedding"))
      // The 16-row codebook table feeds TWO broadcast consumers (the
      // encode pack and the distance tables); localCheckpoint
      // materializes it once so each broadcast doesn't replay the
      // Lloyd chain — same pattern as trainKMeans.
      val books = pqCodebooks(s, sv).localCheckpoint()
      val codes = pqEncode(s, sv, books)
      val dt = sv.filter(col("vec_id") < PqProbes)
        .join(broadcast(books), Seq("sp"))
        .select(col("vec_id").as("probe_id"), col("sp"), col("cent_id"),
          round(normSq(col("sv")) - lit(2.0) * dotCol(col("sv"), col("ce"))
            + normSq(col("ce")), 6).as("dt"))
      adcTop(codes.join(broadcast(dt), Seq("sp", "cent_id")).filter(Knn.notSelf()))
    },

    Q(
      "q_ivfpq_search",
      s"IVF-PQ — the standard billion-scale ANN index (coarse " +
        s"quantizer + product codes): vectors route to $NumCells " +
        "seeded cells via the broadcast L2 argmin, probes open their " +
        s"$NProbe nearest cells, and ONLY candidates inside probed " +
        s"cells are ADC-scored against the $PqM-byte PQ codes with " +
        "broadcast distance tables. The two prunings compose: the " +
        s"cell join cuts candidates to ~nprobe/cells of the corpus " +
        "and the code scan reads 32×-compressed bytes, so at 100 TB " +
        "the per-query touch is (nprobe/cells) × (1/32) of the raw " +
        "table. ONE corpus pass assigns the cell and explodes the " +
        "subvectors with cell_id riding along, so the codes are born " +
        "cell-keyed — the cell-partitioned inverted-list layout a " +
        "deployed index stores — and no corpus-sized codes⋈cells " +
        "join ever runs. Raw-vector PQ (by_residual=false); residual " +
        "encoding against the cell centroid is the refinement and " +
        "changes no plan shape",
      Some(
        s"""$pqChainSql, cc AS (
           |  ${Ivf.seedSql(NumCells, "embeddings")}
           |), cells AS (
           |  ${Ivf.assignSql(Ivf.L2,
                "vec_id, cent_id AS cell_id", "e.vec_id, c.cent_id", cents = "cc",
                from = "embeddings e")}
           |), pc AS (
           |  ${Ivf.routeSql(Ivf.L2,
                "vec_id AS probe_id, cent_id AS cell_id", "e.vec_id, c.cent_id", NProbe,
                Some(PqProbes), cents = "cc", from = "embeddings e")}
           |), dt AS (
           |  SELECT q.vec_id AS probe_id, q.sp, c.cent_id,
           |    ${pqD2Sql("q.sv", "c.ce")} AS dt
           |  FROM sv q JOIN c1 c ON c.sp = q.sp WHERE q.vec_id < $PqProbes
           |), scored AS (
           |  SELECT dt.probe_id, a.vec_id AS neighbor_id,
           |    ${graft.functions.Portable.exactSumSql("dt", 6)} AS adist
           |  FROM a2 a
           |  JOIN cells cl ON cl.vec_id = a.vec_id
           |  JOIN pc ON pc.cell_id = cl.cell_id
           |  JOIN dt ON dt.probe_id = pc.probe_id AND dt.sp = a.sp
           |   AND dt.cent_id = a.cent_id
           |  WHERE a.vec_id <> dt.probe_id
           |  GROUP BY dt.probe_id, a.vec_id
           |)${ByAdist.tailSql("probe_id, neighbor_id, adist")}""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      // Coarse quantizer: broadcast argmin cell assignment (the
      // corpus never shuffles for it) + probe routing over the same
      // packed centroids.
      val cells = Ivf.Cells(Ivf.seeds(e, NumCells), Ivf.L2)
      val probeCells = cells.probe(e.filter(col("vec_id") < PqProbes), NProbe)
        .select(col("vec_id").as("probe_id"), col("cell.cent_id").as("cell_id"))
      // ONE corpus pass assigns the cell and explodes the subvectors
      // with cell_id riding along — the codes are born cell-keyed
      // (exactly the cell-partitioned inverted-list layout a deployed
      // index stores), so no corpus-sized codes⋈cells join ever runs.
      // The checkpoint materializes that pass once for its three
      // consumers (training, encode, distance tables); a deployed
      // index pays it at ingest and writes it — q_ivf_layout is that
      // write as a query.
      val sv = cells.assign(e, "cell_id")
        .select(col("vec_id"), col("cell_id"),
          posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
            s"j -> slice(embedding, j*$PqSubDim+1, $PqSubDim))"))
            .as(Seq("sp", "sv")))
        .localCheckpoint()
      val books = pqCodebooks(s, sv).localCheckpoint()
      // pqEncode's metric, inlined to keep cell_id on the code rows.
      val mets = Ivf.L2.metricsOf("sv")
      val codes = sv.withColumn("vn2", normSq(col("sv")))
        .join(Ivf.packCents(books, "sp"), Seq("sp"))
        .withColumn("best", array_min(mets))
        .select(col("vec_id"), col("cell_id"), col("sp"),
          col("best.cent_id").as("cent_id"))
      val dt = sv.filter(col("vec_id") < PqProbes)
        .join(broadcast(books), Seq("sp"))
        .select(col("vec_id").as("probe_id"), col("sp"), col("cent_id"),
          round(normSq(col("sv")) - lit(2.0) * dotCol(col("sv"), col("ce"))
            + normSq(col("ce")), 6).as("dt"))
      adcTop(codes.join(broadcast(probeCells), Seq("cell_id"))
        .filter(Knn.notSelf())
        .join(broadcast(dt), Seq("probe_id", "sp", "cent_id")))
    },

    Q(
      "q_ivfpq_residual",
      "IVF-PQ with by_residual=true — the production refinement " +
        "q_ivfpq_search's own doc names: codebooks are trained on and " +
        "codes encode the RESIDUAL (vector minus its cell centroid), " +
        "which is far lower-variance than raw vectors, so the same " +
        s"$PqK-entry codebooks quantize finer and recall rises " +
        "(IvfpqResidualSpec asserts recall@10 >= the raw variant on " +
        "identical cells/probes/codebook budget). The query side pays " +
        s"one distance table per PROBED CELL (the query residual is " +
        "cell-dependent) — nprobe× the raw dt, still query-bounded " +
        "and broadcast. Residuals are computed as exact double " +
        "differences rounded to float in BOTH engines, so the float " +
        "code path stays bit-identical. Plan shape is q_ivfpq_search's " +
        "exactly: ONE checkpointed corpus pass assigns the cell, " +
        "fetches its centroid from a 16-row broadcast, and explodes " +
        "residual subvectors born cell-keyed; everything downstream " +
        "joins broadcasts only (plan-pinned alongside the raw variant)",
      Some {
        val resSubSql =
          s"""list_transform(range($PqSubDim), i ->
             |      CAST(CAST(CAST(e.embedding[sp*$PqSubDim + i + 1] AS DOUBLE)
             |        - CAST(cc.ce[sp*$PqSubDim + i + 1] AS DOUBLE) AS FLOAT)
             |        AS DOUBLE))""".stripMargin
        s"""WITH cc AS (
           |  ${Ivf.seedSql(NumCells, "embeddings")}
           |), cells AS (
           |  ${Ivf.assignSql(Ivf.L2,
                "vec_id, cent_id AS cell_id", "e.vec_id, c.cent_id", cents = "cc",
                from = "embeddings e")}
           |), sv AS (
           |  SELECT e.vec_id, sp,
           |    $resSubSql AS sv
           |  FROM embeddings e
           |  JOIN cells cl ON cl.vec_id = e.vec_id
           |  JOIN cc ON cc.cent_id = cl.cell_id,
           |       unnest(range($PqM)) AS u(sp)
           |), ${pqChainBodySql(NumCells)}, pc AS (
           |  ${Ivf.routeSql(Ivf.L2,
                "vec_id AS probe_id, cent_id AS cell_id", "e.vec_id, c.cent_id", NProbe,
                Some(PqProbes), cents = "cc", from = "embeddings e")}
           |), qsv AS (
           |  SELECT pc.probe_id, pc.cell_id, sp,
           |    $resSubSql AS sv
           |  FROM embeddings e
           |  JOIN pc ON pc.probe_id = e.vec_id
           |  JOIN cc ON cc.cent_id = pc.cell_id,
           |       unnest(range($PqM)) AS u(sp)
           |), dt AS (
           |  SELECT q.probe_id, q.cell_id, q.sp, c.cent_id,
           |    ${pqD2Sql("q.sv", "c.ce")} AS dt
           |  FROM qsv q JOIN c1 c ON c.sp = q.sp
           |), scored AS (
           |  SELECT dt.probe_id, a.vec_id AS neighbor_id,
           |    ${graft.functions.Portable.exactSumSql("dt", 6)} AS adist
           |  FROM a2 a
           |  JOIN cells cl ON cl.vec_id = a.vec_id
           |  JOIN dt ON dt.cell_id = cl.cell_id AND dt.sp = a.sp
           |   AND dt.cent_id = a.cent_id
           |  WHERE a.vec_id <> dt.probe_id
           |  GROUP BY dt.probe_id, a.vec_id
           |)${ByAdist.tailSql("probe_id, neighbor_id, adist")}""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cents = Ivf.seeds(e, NumCells)
      val cells = Ivf.Cells(cents, Ivf.L2)
      val centsByCell =
        broadcast(cents.select(col("cent_id").as("cell_id"), col("ce")))
      val probeCells = cells.probe(e.filter(col("vec_id") < PqProbes), NProbe)
        .select(col("vec_id").as("probe_id"), col("cell.cent_id").as("cell_id"))
      // Residual subvectors: exact double difference rounded to float
      // (identical to IEEE float subtraction; spelled out so the
      // oracle's arithmetic is literally the same expression).
      val resSlices = expr(s"transform(sequence(0, ${PqM - 1}), j -> " +
        s"zip_with(slice(embedding, j*$PqSubDim+1, $PqSubDim), " +
        s"slice(ce, j*$PqSubDim+1, $PqSubDim), " +
        "(x, y) -> CAST(CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS FLOAT)))")
      // ONE corpus pass: broadcast-argmin cell, centroid fetch from
      // the 16-row broadcast, residual subvectors born cell-keyed.
      val sv = cells.assign(e, "cell_id")
        .join(centsByCell, Seq("cell_id"))
        .select(col("vec_id"), col("cell_id"),
          posexplode(resSlices).as(Seq("sp", "sv")))
        .localCheckpoint()
      // Codebook seeds start PAST the centroid vectors — their own
      // residuals are all-zero and would collapse the codebooks.
      val books = pqCodebooks(s, sv, NumCells).localCheckpoint()
      val mets = Ivf.L2.metricsOf("sv")
      val codes = sv.withColumn("vn2", normSq(col("sv")))
        .join(Ivf.packCents(books, "sp"), Seq("sp"))
        .withColumn("best", array_min(mets))
        .select(col("vec_id"), col("cell_id"), col("sp"),
          col("best.cent_id").as("cent_id"))
      // Per-(probe, probed-cell) query residuals → nprobe distance
      // tables per probe, all broadcast-sized.
      val qsv = e.filter(col("vec_id") < PqProbes)
        .select(col("vec_id").as("probe_id"), col("embedding"))
        .join(broadcast(probeCells), Seq("probe_id"))
        .join(centsByCell, Seq("cell_id"))
        .select(col("probe_id"), col("cell_id"),
          posexplode(resSlices).as(Seq("sp", "sv")))
      val dt = qsv.join(broadcast(books), Seq("sp"))
        .select(col("probe_id"), col("cell_id"), col("sp"), col("cent_id"),
          round(normSq(col("sv")) - lit(2.0) * dotCol(col("sv"), col("ce"))
            + normSq(col("ce")), 6).as("dt"))
      adcTop(codes.join(broadcast(probeCells), Seq("cell_id"))
        .filter(Knn.notSelf())
        .join(broadcast(dt), Seq("probe_id", "cell_id", "sp", "cent_id")))
    },

    Q(
      "q_knn_graph",
      s"k-NN GRAPH construction (k=$KnnK) — every vector is a query, " +
        "not just a fixed probe set: the graph that graph-based dedup, " +
        "label propagation and SSL curation consume. Both sides route " +
        "to shared coarse cells by the zero-shuffle broadcast-argmin " +
        s"assignment; each query probes its $KnnNProbe nearest cells " +
        "(IVF recall knob) while corpus vectors stay in exactly one " +
        "cell, so a pair meets at most once. Pair cost is " +
        "nprobe·Σ|cell|², never n²; the per-query top-k window's " +
        "exchange is the only corpus-sized shuffle and doubles as the " +
        "output distribution. At 100 TB k grows ~√n so cells stay " +
        "bounded — the same dial as q_simsearch_ivf, paid once to " +
        "materialize the whole graph instead of per query",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |$knnTopkSqlCte
           |SELECT vec_id, neighbor_id, cos_sim, rank
           |FROM topk ORDER BY vec_id, rank""".stripMargin),
    ) { (s, dir) =>
      knnTopK(s, dir).orderBy("vec_id", "rank")
    },

    Q(
      "q_graph_ann",
      s"GRAPH-ANN beam search — the third index family beside IVF and " +
        s"PQ: best-first search over the persisted q_knn_graph (the " +
        s"NSW shape), beam width $BeamB, $BeamHops unrolled hops from " +
        s"the per-IVF-cell MEDOID entry panel (the vector closest to " +
        s"each of the $KSeeds coarse centroids — the panel covers the " +
        "space by construction, which is what holds recall@10 at the " +
        "family bar; the centroids are the IVF family's own, so the " +
        "panel is one windowed argmax). Each hop is ONE " +
        "equi-join of the (probes × beam)-row frontier against the " +
        "graph's neighbor lists, an ids-then-payloads embedding fetch " +
        "for the new candidates, and a per-probe top-B window — " +
        "checkpointed per hop, so state is catalog-bounded " +
        s"(probes × $BeamB rows) and NOTHING rescans the corpus after " +
        "the graph is built. The no-visited-set rescoring variant " +
        "keeps both engines' hops identical (dedup + 6dp-round + id " +
        "ties — no traversal-order dependence anywhere); the gate is " +
        s"q_ann_recall's contract, recall@$TopK vs brute force. At " +
        "100 TB: the graph is the big table, bucketed by vec_id; a " +
        "query is H tiny keyed probes into it — the latency shape " +
        "that makes graph indexes the serving-side choice, here " +
        "expressed as the same declarative plan the batch engine runs",
      Some {
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |$knnTopkSqlCte, $bruteTopSql,
           |entries AS (
           |  SELECT cand_id FROM (
           |    SELECT c.neighbor_id AS cand_id, row_number() OVER (
           |      PARTITION BY c.cell_id
           |      ORDER BY ${cosSimSql("c.embedding", "ct.ce")} DESC,
           |        c.neighbor_id) AS mrn
           |    FROM corpus c JOIN cents ct ON ct.cent_id = c.cell_id)
           |  WHERE mrn = 1
           |), $beamHopsSqlCtes,
           |gtop AS (
           |  ${GraphTop.cutSql("probe_id, cand_id", "probe_id, cand_id", s"b$BeamHops")}
           |)
           |SELECT b.probe_id AS probe_id, count(g.cand_id) AS n_hits,
           |  round(CAST(count(g.cand_id) AS DOUBLE) / $TopK, 6) AS recall
           |FROM btop b LEFT JOIN gtop g
           |  ON b.probe_id = g.probe_id AND b.neighbor_id = g.cand_id
           |GROUP BY b.probe_id ORDER BY b.probe_id""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val probes = Knn.panel(e, col("embedding").as("pe"))
      // The persisted index: neighbor lists, built once (q_knn_graph's
      // machinery), SYMMETRIZED (NSW navigability is a property of the
      // undirected graph — a directed 5-NN graph strands probes whose
      // true neighbors point AT the beam but are pointed at by
      // nothing in it), checkpointed so no hop rescans the corpus.
      val edges = knnTopK(s, dir)
        .select(col("vec_id").as("src"), col("neighbor_id"))
      val graph = edges
        .unionAll(edges.select(col("neighbor_id").as("src"),
          col("src").as("neighbor_id")))
        .localCheckpoint()
      def scoreTopB(cands: DataFrame): DataFrame =
        ByBeam.cut(cands
          .join(broadcast(probes), Seq("probe_id"))
          .join(e.select(col("vec_id").as("cand_id"),
            col("embedding").as("ce")), Seq("cand_id"))
          .select(col("probe_id"), col("cand_id"),
            cosSim("pe", "ce").as("cos_sim")))
          .select("probe_id", "cand_id", "cos_sim")
      // Entry panel = per-IVF-cell medoids: assign the corpus to the
      // family's coarse centroids (the knnTopK shape), keep each
      // cell's cosine-closest vector. 8 rows, space-covering by
      // construction.
      val cents = Ivf.seeds(e, KSeeds)
      val mw = Window.partitionBy("cell_id")
        .orderBy(col("mcos").desc, col("vec_id"))
      val entries = Ivf.Cells(cents, Ivf.L2).assign(e, "cell_id")
        .join(broadcast(cents), col("cell_id") === col("cent_id"))
        .select(col("vec_id"), col("cell_id"),
          cosSim("embedding", "ce").as("mcos"))
        .withColumn("mrn", row_number().over(mw))
        .filter(col("mrn") === 1)
        .select(col("vec_id").as("cand_id"))
      var beam = scoreTopB(probes.select(col("probe_id"))
        .crossJoin(broadcast(entries))
        .filter(Knn.notSelf("cand_id")))
        .localCheckpoint()
      for (_ <- 1 to BeamHops) {
        val expanded = beam.select("probe_id", "cand_id")
          .join(graph, col("cand_id") === col("src"))
          .select(col("probe_id"), col("neighbor_id").as("cand_id"))
          .unionAll(beam.select("probe_id", "cand_id"))
          .filter(Knn.notSelf("cand_id"))
          .distinct()
        beam = scoreTopB(expanded).localCheckpoint()
      }
      val gtop = GraphTop.cut(beam)
        .select(col("probe_id"), col("cand_id").as("neighbor_id"),
          lit(1).as("hit"))
      val btop = bruteTop(e).select("probe_id", "neighbor_id")
      // The gtop side is probes × TopK rows off a stats-less
      // checkpoint: broadcast it so the 50-row recall join never
      // plans a sort-merge.
      btop.join(broadcast(gtop), Seq("probe_id", "neighbor_id"), "left")
        .groupBy("probe_id")
        .agg(count(col("hit")).as("n_hits"),
          round(count(col("hit")).cast("double") / TopK, 6).as("recall"))
        .orderBy("probe_id")
    },

    Q(
      "q_knn_classify",
      s"k-NN label classification eval (k=$KnnK leave-one-out " +
        "majority vote, ties to the smaller label) — the standard " +
        "embedding-quality probe (kNN accuracy) run entirely inside " +
        "the engine: neighbors come from q_knn_graph's cell-pruned " +
        s"candidate machinery ($KnnNProbe-probe IVF routing, pair " +
        "cost nprobe·Σ|cell|² never n²), votes and the per-label " +
        "accuracy rollup are label-bounded aggs. The top-k window " +
        "carries (ids, cos) only; labels join back AFTER ranking " +
        "(ids-then-payloads). Output is #labels rows at any corpus " +
        "size — the eval table a training run reads per checkpoint",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
           |$knnTopkSqlCte, votes AS (
           |  SELECT t.vec_id, l.label AS vote, count(*) AS c
           |  FROM topk t JOIN e l ON l.vec_id = t.neighbor_id
           |  GROUP BY t.vec_id, l.label
           |), pred AS (
           |  ${TopVote.cutSql("vec_id, vote AS pred", "vec_id, vote", "votes")}
           |)
           |SELECT t.label, count(*) AS n,
           |  CAST(sum(CASE WHEN p.pred = t.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           |  round(CAST(sum(CASE WHEN p.pred = t.label THEN 1 ELSE 0 END) AS DOUBLE)
           |    / count(*), 6) AS accuracy
           |FROM pred p JOIN e t ON t.vec_id = p.vec_id
           |GROUP BY t.label ORDER BY t.label""".stripMargin),
    ) { (s, dir) =>
      val topk = knnTopK(s, dir).select("vec_id", "neighbor_id")
      val labels = Tables.embeddings(s, dir).select("vec_id", "label")
      val votes = topk
        .join(labels.select(col("vec_id").as("neighbor_id"),
          col("label").as("vote")), "neighbor_id")
        .groupBy("vec_id", "vote").agg(count(lit(1)).as("c"))
      val pred = TopVote.cut(votes)
        .select(col("vec_id"), col("vote").as("pred"))
      pred.join(labels, "vec_id")
        .groupBy("label").agg(
          count(lit(1)).as("n"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n"), 6))
        .orderBy("label")
    },

    Q(
      "q_cluster_purity",
      s"cluster-label purity eval: assign every vector to its nearest " +
        s"of $KSeeds cells (zero-shuffle broadcast-argmin, the " +
        "q_semdedup assignment), then per cell report size, majority " +
        "label and purity = majority share — the clustering-quality " +
        "table (NMI's cheap cousin) a curation run checks before " +
        "trusting cell-based ops like SemDeDup or IVF pruning. The " +
        "only shuffle is the (cell,label)-keyed count agg, bounded by " +
        "k×labels; the majority window runs on that k×labels rollup, " +
        "never on corpus rows. Output is k rows at any corpus size",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
           |cents AS (${Ivf.seedSql(KSeeds)}),
           |assign AS (
           |  ${Ivf.assignSql(Ivf.L2,
                "vec_id, label, cent_id AS cell_id", "e.vec_id, e.label, c.cent_id")}
           |), counts AS (
           |  SELECT cell_id, label, count(*) AS c
           |  FROM assign GROUP BY cell_id, label
           |), ranked AS (
           |  SELECT cell_id, label, c,
           |    CAST(sum(c) OVER (PARTITION BY cell_id) AS BIGINT) AS n,
           |    row_number() OVER (PARTITION BY cell_id
           |      ORDER BY c DESC, label) AS rn
           |  FROM counts
           |)
           |SELECT cell_id, n, label AS top_label, c AS n_top,
           |  round(CAST(c AS DOUBLE) / n, 6) AS purity
           |FROM ranked WHERE rn = 1
           |ORDER BY cell_id""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select("vec_id", "embedding", "label")
      val assign = Ivf.Cells(Ivf.seeds(e, KSeeds), Ivf.L2).assign(e, "cell_id")
        .select(col("cell_id"), col("label"))
      val counts = assign.groupBy("cell_id", "label")
        .agg(count(lit(1)).as("c"))
      val cw = Window.partitionBy("cell_id")
      val rw = cw.orderBy(col("c").desc, col("label"))
      counts
        .withColumn("n", sum("c").over(cw))
        .withColumn("rn", row_number().over(rw))
        .filter(col("rn") === 1)
        .select(col("cell_id"), col("n"),
          col("label").as("top_label"), col("c").as("n_top"),
          round(col("c").cast("double") / col("n"), 6).as("purity"))
        .orderBy("cell_id")
    },

    Q(
      "q_label_spread",
      s"semi-supervised LABEL PROPAGATION over the k-NN graph (k=$KnnK, " +
        s"$SpreadRounds synchronous rounds): vectors with vec_id % " +
        s"$SpreadSeedMod = 0 keep their true label as fixed seeds " +
        "(20% labeled); every other node takes the majority label of " +
        "its labeled neighbors each round (ties to the smaller label), " +
        "retaining its previous label when no neighbor is labeled — " +
        "the SSL auto-labeling pass that stretches a small labeled " +
        "set over an unlabeled corpus. The graph is built ONCE by " +
        "q_knn_graph's cell-pruned machinery and checkpointed; each " +
        "round is one (n·k)-row keyed join + label-bounded vote aggs " +
        "with a checkpoint (linear lineage, the trainKMeans shape). " +
        "State per node is one label — linear at any scale, rounds " +
        "fixed",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
           |$knnTopkSqlCte, l0 AS (
           |  SELECT vec_id,
           |    CASE WHEN vec_id % $SpreadSeedMod = 0 THEN label END AS lab
           |  FROM e
           |)${(1 to SpreadRounds).map(spreadRoundSqlCte).mkString}
           |SELECT l0.vec_id,
           |  CASE WHEN l0.lab IS NOT NULL THEN CAST(1 AS BIGINT)
           |       ELSE CAST(0 AS BIGINT) END AS is_seed,
           |  l$SpreadRounds.lab AS label_out
           |FROM l0 JOIN l$SpreadRounds ON l$SpreadRounds.vec_id = l0.vec_id
           |ORDER BY l0.vec_id""".stripMargin),
    ) { (s, dir) =>
      // The graph is ids-only after ranking and read once per round —
      // checkpointed so rounds don't re-run the candidate join.
      val topk = knnTopK(s, dir).select("vec_id", "neighbor_id")
        .localCheckpoint()
      var labs = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          when(pmod(col("vec_id"), lit(SpreadSeedMod)) === 0, col("label"))
            .as("seed_lab"))
        .withColumn("lab", col("seed_lab"))
        .localCheckpoint()
      for (_ <- 1 to SpreadRounds) {
        val maj = TopVote.cut(topk
          .join(labs.select(col("vec_id").as("neighbor_id"),
            col("lab").as("vote")), "neighbor_id")
          .filter(col("vote").isNotNull)
          .groupBy("vec_id", "vote").agg(count(lit(1)).as("c")))
          .select(col("vec_id"), col("vote"))
        labs = labs.join(maj, Seq("vec_id"), "left")
          .select(col("vec_id"), col("seed_lab"),
            coalesce(col("seed_lab"), col("vote"), col("lab")).as("lab"))
          .localCheckpoint()
      }
      labs.select(col("vec_id"),
        when(col("seed_lab").isNotNull, 1L).otherwise(0L).as("is_seed"),
        col("lab").as("label_out"))
        .orderBy("vec_id")
    },

    Q(
      "q_embed_prune",
      "density/prototypicality pruning (SSL-prototypes, DataComp): " +
        s"assign every vector to its nearest of $KSeeds seeded cells " +
        "by cosine (zero-shuffle broadcast-argmin), then drop the " +
        s"${(PruneFrac * 100).toInt}% MOST prototypical (highest " +
        "cos-to-centroid) per cell — easy, redundant examples prune " +
        "first, per-point-vs-centroid cost instead of SemDeDup's " +
        "pairwise Σ|cell|². The per-cell ranking window is the only " +
        "corpus shuffle, keyed by cell; keep decisions depend only on " +
        "the cell's own ranking so new cells prune independently at " +
        "100 TB. Emits every vector with its keep verdict",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (${Ivf.seedSql(KSeeds)}),
           |assigned AS (
           |  ${Ivf.assignSql(Ivf.Cos,
                "vec_id, cent_id AS cell_id, cos_sim",
                s"e.vec_id, c.cent_id,\n      ${cosSimSql("embedding", "ce")} AS cos_sim")}
           |), ranked AS (
           |  SELECT vec_id, cell_id, cos_sim,
           |    row_number() OVER (PARTITION BY cell_id
           |      ORDER BY cos_sim DESC, vec_id) AS rn,
           |    count(*) OVER (PARTITION BY cell_id) AS n
           |  FROM assigned)
           |SELECT vec_id, cell_id, cos_sim AS cos_to_centroid,
           |  CASE WHEN rn > ceil(n * $PruneFrac) THEN CAST(1 AS BIGINT)
           |       ELSE CAST(0 AS BIGINT) END AS kept
           |FROM ranked ORDER BY vec_id""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cents = Ivf.seeds(e, KSeeds)
      // array_min over (−cos, cent_id) structs = argmax cosine with
      // cent_id tiebreak — and carries the achieved cosine out, which
      // the fused id-only argmin can't; 0.0−(0.0−r) restores the 6dp
      // cosine exactly.
      val normed = Ivf.Cos.withNorm(e)
      val cells = Ivf.Cells(cents, Ivf.Cos)
      val assigned = cells.withCells(normed)
        .withColumn("best", cells.nearest)
        .select(col("vec_id"), col("best.cent_id").as("cell_id"),
          (lit(0.0) - col("best.m")).as("cos_to_centroid"))
      val byCell = Window.partitionBy("cell_id")
      val w = byCell.orderBy(col("cos_to_centroid").desc, col("vec_id"))
      assigned
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(byCell))
        .select(col("vec_id"), col("cell_id"), col("cos_to_centroid"),
          when(col("rn") > ceil(col("n") * lit(PruneFrac)), 1L)
            .otherwise(0L).as("kept"))
        .orderBy("vec_id")
    },

    Q(
      "q_simsearch_filtered",
      "FILTERED vector search (metadata predicate + ANN, the " +
        "production 'search within label' shape): IVF cell pruning " +
        s"($NumCells cells, nprobe=$NProbe) composes with a label " +
        "equality filter applied to candidates BEFORE the cosine " +
        "re-rank — selectivities multiply, per-probe touch = " +
        "(nprobe/cells)·(1/|labels|) of the corpus. At 100 TB the " +
        "deployed twin hive-partitions the IVF layout by (cell_id, " +
        "label) — q_ivf_layout's directory pruning then serves BOTH " +
        "predicates before a single row is read. Post-filtering " +
        "(rank first, filter after) would under-fill k; filtering " +
        "before the window keeps k full whenever candidates exist",
      Some {
        s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
           |cents AS (
           |  ${Ivf.seedSql(NumCells)}
           |), assign AS (
           |  ${Ivf.assignSql(Ivf.Cos,
                "vec_id, embedding, label, cent_id",
                "e.vec_id, e.embedding, e.label, c.cent_id")}
           |), ${probeCellsSql(Ivf.Cos, extra = "plabel, ", extraFrom = "e.label AS plabel, ")},
           |${ivfScoredSql(" AND a.label = p.plabel")}$cosTailSql""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding", "label")
      val cells = Ivf.Cells(Ivf.seeds(e, NumCells), Ivf.Cos)
      val assign = cells.assign(e, "cent_id")
        .select(col("vec_id"), col("embedding"), col("label"), col("cent_id"))
      // Label predicate lands on the candidate stream right at the
      // cell equi-join — before any cosine is computed or ranked.
      ByCos.ranked(scoredCos(ivfPairs(cells, e, assign, col("label").as("plabel"))
        .filter(col("label") === col("plabel"))))
    },

    Q(
      "q_ivf_imbalance",
      s"IVF index HEALTH diagnostic: per-cell population of the " +
        s"$NumCells-cell cosine-routed index — size, share of the " +
        "corpus, rank by size — with EMPTY cells preserved (a cell " +
        "list that never fills is wasted routing budget; a hot cell " +
        "is a probe-cost hotspot; both are what you read before " +
        "retraining centroids or splitting lists). Assignment is the " +
        "zero-shuffle broadcast-argmin; the count agg is k-bounded; " +
        "empty cells come from a LEFT join off the centroid table, " +
        "never a corpus scan. share = one IEEE division of identical " +
        "BIGINTs; at 100 TB this runs off the persisted q_ivf_layout " +
        "directory listing instead of re-assigning",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (
           |  ${Ivf.seedSql(NumCells)}
           |), assign AS (
           |  ${Ivf.assignSql(Ivf.Cos,
                "vec_id, cent_id", "e.vec_id, c.cent_id")}
           |), sizes AS (
           |  SELECT c.cent_id AS cell_id,
           |    CAST(coalesce(n.n, 0) AS BIGINT) AS n_vecs
           |  FROM cents c LEFT JOIN (
           |    SELECT cent_id, count(*) AS n FROM assign GROUP BY cent_id) n
           |  ON c.cent_id = n.cent_id
           |), tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM e)
           |SELECT cell_id, n_vecs,
           |  round(n_vecs / tot.t, 6) AS share,
           |  CAST(row_number() OVER (ORDER BY n_vecs DESC, cell_id)
           |    AS BIGINT) AS size_rank
           |FROM sizes CROSS JOIN tot
           |ORDER BY cell_id""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cents = Ivf.seeds(e, NumCells)
      val counts = Ivf.Cells(cents, Ivf.Cos).assign(e, "cell_id")
        .groupBy("cell_id").agg(count(lit(1)).as("n"))
      val tot = e.agg(count(lit(1)).cast("double").as("t"))
      // The rank window runs over k cell rows, not the corpus.
      val w = Window.orderBy(col("n_vecs").desc, col("cell_id"))
      cents.select(col("cent_id").as("cell_id"))
        .join(counts, Seq("cell_id"), "left")
        .select(col("cell_id"), coalesce(col("n"), lit(0L)).as("n_vecs"))
        .crossJoin(broadcast(tot))
        .select(col("cell_id"), col("n_vecs"),
          round(col("n_vecs") / col("t"), 6).as("share"))
        .withColumn("size_rank", row_number().over(w).cast("long"))
        .orderBy("cell_id")
    },

    Q(
      "q_ann_recall_curve",
      s"recall@$TopK vs nprobe CURVE (sweep ${RecallSweep.mkString("/")}) " +
        "against brute-force ground truth — the ann-benchmarks tuning " +
        "table that sets the production nprobe knob (q_ann_recall is " +
        "one point of this curve). The candidate stream is generated " +
        "ONCE at the widest nprobe with each candidate's cell rank " +
        "attached, then checkpointed; every sweep point is a bounded " +
        "re-rank over candidates with cell_rank ≤ nprobe — one corpus " +
        "pass total, not one per sweep point. Ground truth is the " +
        "existing brute pipeline on the same fixed probe panel; " +
        "output = sweep-sized summary (total hits, mean recall as one " +
        "division of exact BIGINTs). Recall must be non-decreasing in " +
        "nprobe (spec-pinned)",
      Some {
        val base =
          s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
             |$bruteTopSql, cents AS (
             |  ${Ivf.seedSql(NumCells)}
             |), assign AS (
             |  ${Ivf.assignSql(Ivf.Cos,
                  "vec_id, embedding, cent_id", "e.vec_id, e.embedding, c.cent_id")}
             |), ${probeCellsSql(Ivf.Cos, extra = "rn AS cell_rank, ")}, cand AS (
             |  SELECT probe_id, cell_rank, a.vec_id AS neighbor_id,
             |    ${cosSimSql("pe", "embedding")} AS cos_sim
             |  FROM probe_cells p JOIN assign a ON a.cent_id = p.cent_id
             |   AND a.vec_id <> p.probe_id
             |)""".stripMargin
        val points = RecallSweep.map { np =>
          s""", it$np AS (
             |  ${ByCos.cutSql("probe_id, neighbor_id", "probe_id, neighbor_id", s"cand WHERE cell_rank <= $np")}
             |), r$np AS (
             |  SELECT CAST($np AS BIGINT) AS nprobe,
             |    CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
             |    round(CAST(count(i.neighbor_id) AS DOUBLE)
             |      / (${NumProbes * TopK}), 6) AS recall
             |  FROM btop b LEFT JOIN it$np i
             |    ON b.probe_id = i.probe_id AND b.neighbor_id = i.neighbor_id
             |)""".stripMargin
        }.mkString
        val unioned = RecallSweep.map(np => s"SELECT * FROM r$np")
          .mkString("\n  UNION ALL ")
        s"""$base$points
           |SELECT * FROM ($unioned) ORDER BY nprobe""".stripMargin
      },
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val btop = bruteTop(e).select("probe_id", "neighbor_id").localCheckpoint()
      val cells = Ivf.Cells(Ivf.seeds(e, NumCells), Ivf.Cos)
      val assign = cells.assign(e, "cent_id")
        .select(col("vec_id"), col("embedding"), col("cent_id"))
      val probeCells = cells.probeRanked(Knn.probeRows(e),
        NProbe, col("vec_id").as("probe_id"), col("embedding").as("pe"))
      // ONE corpus-sized candidate pass, shared by every sweep point.
      val cand = broadcast(probeCells)
        .join(assign, Seq("cent_id"))
        .filter(Knn.notSelf())
        .select(col("probe_id"), col("cell_rank"),
          col("vec_id").as("neighbor_id"),
          cosSim("pe", "embedding").as("cos_sim"))
        .localCheckpoint()
      RecallSweep.map { np =>
        val itop = ByCos.ranked(cand.filter(col("cell_rank") <= np)
          .select("probe_id", "neighbor_id", "cos_sim"))
          .select(col("probe_id"), col("neighbor_id"), lit(1).as("hit"))
        btop.join(itop, Seq("probe_id", "neighbor_id"), "left")
          .agg(count(col("hit")).as("n_hits"))
          .select(lit(np.toLong).as("nprobe"), col("n_hits"),
            round(col("n_hits").cast("double") / (NumProbes * TopK), 6)
              .as("recall"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    },

    Q(
      "q_embed_dedup_incremental",
      "incremental SemDeDup — the daily-ingest twin of q_semdedup " +
        "(and the embedding-space face of q_dedup_near_incremental): " +
        "batch vectors (vec_id ≥ 400) route to the BASE corpus's " +
        "cells by broadcast-argmin, then compare only against (a) " +
        "same-cell base vectors — a cos ≥ 0.45 hit means the batch " +
        "vector duplicates existing data — and (b) lower-id same-cell " +
        "batch vectors (within-batch dedup, q_semdedup's keep-lowest " +
        "rule). The base NEVER re-pairs against itself: pair cost is " +
        "Σ|cell_batch|·(|cell_base| + |cell_batch|), proportional to " +
        "the ingest, not the corpus. Verdict per batch vector with " +
        "dup_base taking priority over dup_batch; dropped sides " +
        "dedupe ids, never embedding payloads. At 100 TB the base " +
        "side reads from the cell-partitioned q_ivf_layout directory " +
        "— only probed cells are even scanned",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (
           |  ${Ivf.seedSql(KSeeds)}
           |), assign AS (
           |  ${Ivf.assignSql(Ivf.L2,
                "vec_id, cent_id AS cell_id, embedding", "e.vec_id, c.cent_id, e.embedding")}
           |), base AS (SELECT * FROM assign WHERE vec_id < 400),
           |batch AS (SELECT * FROM assign WHERE vec_id >= 400),
           |dup_base AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM batch b JOIN base a ON a.cell_id = b.cell_id
           |  WHERE ${cosSimSql("a.embedding", "b.embedding")} >= 0.45
           |), dup_batch AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM batch b JOIN batch a
           |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
           |  WHERE ${cosSimSql("a.embedding", "b.embedding")} >= 0.45
           |)
           |SELECT s.vec_id, s.cell_id,
           |  CASE WHEN db.vec_id IS NOT NULL THEN 'dup_base'
           |       WHEN dt.vec_id IS NOT NULL THEN 'dup_batch'
           |       ELSE 'kept' END AS status
           |FROM batch s
           |LEFT JOIN dup_base db ON s.vec_id = db.vec_id
           |LEFT JOIN dup_batch dt ON s.vec_id = dt.vec_id
           |ORDER BY s.vec_id""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val assign = Ivf.Cells(Ivf.seeds(e, KSeeds), Ivf.L2).assign(e, "cell_id")
        .select(col("vec_id"), col("cell_id"), col("embedding"))
        .localCheckpoint() // split and pair-joined 3× below
      val base = assign.filter(col("vec_id") < 400)
      val batch = assign.filter(col("vec_id") >= 400)
      def pairsOf(l: DataFrame, strictLower: Boolean) = {
        val a = l.select(col("cell_id"), col("vec_id").as("vec_a"),
          col("embedding").as("ea"))
        val b = batch.select(col("cell_id"), col("vec_id").as("vec_b"),
          col("embedding").as("eb"))
        a.join(b, Seq("cell_id"))
          .filter(if (strictLower) col("vec_a") < col("vec_b") else lit(true))
          .filter(cosSim("ea", "eb") >= 0.45)
          .select(col("vec_b").as("vec_id")).distinct()
      }
      val dupBase = pairsOf(base, strictLower = false)
        .withColumn("db", lit(1L))
      val dupBatch = pairsOf(batch, strictLower = true)
        .withColumn("dt", lit(1L))
      batch.select("vec_id", "cell_id")
        .join(dupBase, Seq("vec_id"), "left")
        .join(dupBatch, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell_id"),
          when(col("db").isNotNull, "dup_base")
            .when(col("dt").isNotNull, "dup_batch")
            .otherwise("kept").as("status"))
        .orderBy("vec_id")
    },

    Q(
      "q_kmeanspp_init",
      s"deterministic k-means++ seeding ($KppSeeds seeds): seed 0 is " +
        "the max-key uniform draw, every later seed an Efraimidis–" +
        "Spirakis A-ES weighted pick with weight = D² (min squared-L2 " +
        "to the chosen set) — the classic D²-proportional sampling " +
        "made reproducible by driving u from the portable content " +
        "hash (the q_weighted_sample contract: same picks at any " +
        "cluster size, any run). Each round is ONE corpus scan: D² " +
        "comes from the zero-shuffle broadcast-argmin against the " +
        "packed chosen set, the pick is a TakeOrdered(1) heap, and " +
        "the new seed rejoins the pack in-plan — no driver collect; " +
        "already-chosen seeds and their exact duplicates carry D²=0 " +
        "and are excluded (weight 0). Keys are 6dp-rounded at the " +
        "libm ln boundary, ties by vec_id. Sequential rounds are " +
        "inherent to k-means++; at 100 TB you run k-means|| " +
        "oversampling — q_kmeans_parallel_init IS that loop, built " +
        "on exactly this per-round machinery",
      Some(
        s"""WITH ${kppSqlCte(KppSeeds)}
           |SELECT seed_ord, vec_id, d2
           |FROM c${KppSeeds - 1} ORDER BY seed_ord""".stripMargin),
    ) { (s, dir) =>
      val e = Ivf.L2.withNorm(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding")))
      val u = (pmod(Portable.md5Hash60(col("vec_id").cast("string")),
        lit(1048576L)).cast("double") + lit(1.0)) / lit(1048576.0)
      var seeds = e
        .select(col("vec_id"), col("embedding"),
          round(lit(1000.0) * log(u), 6).as("key"))
        .orderBy(col("key").desc, col("vec_id")).limit(1)
        .select(lit(0L).as("seed_ord"), col("vec_id"),
          lit(0.0).as("d2"), col("embedding"))
        .localCheckpoint()
      for (i <- 1 until KppSeeds) {
        val cells = Ivf.Cells(seeds
          .select(col("seed_ord").as("cent_id"), col("embedding").as("ce")), Ivf.L2)
        val next = cells.withCells(e)
          .withColumn("d2", cells.nearest.getField("m"))
          .filter(col("d2") > 0)
          .select(col("vec_id"), col("embedding"), col("d2"),
            round(lit(1000.0) * log(u) / col("d2"), 6).as("key"))
          .orderBy(col("key").desc, col("vec_id")).limit(1)
          .select(lit(i.toLong).as("seed_ord"), col("vec_id"),
            col("d2"), col("embedding"))
        seeds = seeds.unionByName(next).localCheckpoint()
      }
      seeds.select(col("seed_ord"), col("vec_id"), col("d2"))
        .orderBy("seed_ord")
    },

    Q(
      "q_kmeans_parallel_init",
      s"k-means‖ oversampled initialization (Bahmani et al. 2012) — " +
        s"the ACTUALLY-SCALABLE init whose building block " +
        s"q_kmeanspp_init proves: instead of k sequential D²-picks, " +
        s"$KbarRounds oversampling rounds each admit EVERY point " +
        s"independently with probability min(1, ℓ·D²/φ) (ℓ=$KbarL, " +
        s"φ = the current total cost), so ~ℓ candidates join per " +
        s"round and O(log n) rounds replace k sequential barriers " +
        "(this row registers the fixed-R schedule the oracle can " +
        "unroll; kmeansParallelCandidates(stopRatio=Some(ρ)) is the " +
        "production COST-ADAPTIVE schedule on the same machinery — " +
        "stops when φ plateaus, identical admissions per shared " +
        "round, spec-pinned). " +
        "Each round is ONE corpus scan: D² via the zero-shuffle " +
        "broadcast-argmin against the packed candidate set, φ a " +
        "broadcast 1-row agg, and the Bernoulli test EXACT integer " +
        "arithmetic end to end — u and D² scale to BIGINTs and " +
        "m·φ ≤ 2²⁰·ℓ·d² compares in DECIMAL(38,0)/HUGEINT, so no " +
        "float boundary can drift an admission between engines (and " +
        "the admitted SET is reproducible at any cluster size — the " +
        "q_weighted_sample contract). Candidates then get weights = " +
        "|nearest-assigned points| in one more broadcast-argmin scan, " +
        s"and the O(ℓR)-bounded weighted set reduces to k=$KbarK " +
        "centers by greedy weighted D² (argmax w·D², ties by vec_id; " +
        "the deterministic variant of the weighted re-cluster — " +
        "candidate-bounded, k−1 TakeOrdered(1) heaps). Zero driver " +
        "collects anywhere. Output: every candidate with its " +
        "admission round, weight, and center ordinal (null if not " +
        "chosen)",
      Some(kbarSql),
    ) { (s, dir) =>
      val e = kbarCorpus(s, dir)
      val (cand, _) = kmeansParallelCandidates(e, KbarL, KbarRounds, None)
      val candCells = Ivf.Cells(cand
        .select(col("vec_id").as("cent_id"), col("embedding").as("ce")), Ivf.L2)
      val w = candCells.withCells(e)
        .select(candCells.nearest.getField("cent_id").as("cand_id"))
        .groupBy("cand_id").agg(count(lit(1)).as("w"))
      val cands = Ivf.L2.withNorm(cand.join(
        w.withColumnRenamed("cand_id", "vec_id"), Seq("vec_id"), "left")
        .select(col("r"), col("vec_id"),
          coalesce(col("w"), lit(0L)).as("w"), col("embedding")))
        .localCheckpoint()
      var centers = cands.orderBy(col("w").desc, col("vec_id")).limit(1)
        .select(lit(0L).as("center_ord"), col("vec_id"), col("embedding"))
        .localCheckpoint()
      for (i <- 1 until KbarK) {
        val cells = Ivf.Cells(centers
          .select(col("vec_id").as("cent_id"), col("embedding").as("ce")), Ivf.L2)
        val next = cells.withCells(cands)
          .withColumn("d2", cells.nearest.getField("m"))
          .filter(col("d2") > 0)
          .orderBy(round(col("w") * col("d2"), 6).desc, col("vec_id"))
          .limit(1)
          .select(lit(i.toLong).as("center_ord"), col("vec_id"),
            col("embedding"))
        centers = centers.unionByName(next).localCheckpoint()
      }
      cands
        .join(centers.select(col("vec_id"), col("center_ord")),
          Seq("vec_id"), "left")
        .select(col("vec_id"), col("r").as("round_added"),
          col("w").as("weight"), col("center_ord"))
        .orderBy("vec_id")
    },

    Q(
      "q_embed_drift",
      "EMBEDDING-DISTRIBUTION drift monitor (reference = even " +
        "vec_ids, current = odd — the A/A harness; production feeds " +
        "yesterday/today): per-dimension mean shifts with the top-5 " +
        "most-drifted dims, each dim's z (shift over the pooled " +
        "per-dim sd), and the global L2 norm of the mean-shift " +
        "vector — the model-monitoring readout that catches encoder " +
        "regressions and upstream distribution changes before " +
        "downstream metrics move. Exactness discipline: embeddings " +
        "land on the ×1e6 grid, per-dim sums and square-sums are " +
        "exact BIGINT (dim-keyed agg, 64-row state), the top-5 " +
        "ranking uses the KS-style cross-multiplied integer " +
        "|sa·nb − sb·na| (ZERO float comparisons in the argmax), " +
        "the L2 numerator sums exact DECIMAL(38,0)/HUGEINT squares " +
        "(the moments-s4 precedent), and z / L2 / shift are " +
        "mirrored-text IEEE finishes. At 100 TB the whole readout " +
        "is one corpus pass into 64-row state",
      Some(
        """WITH d AS (
          |  SELECT i AS pos,
          |    CAST(sum(CASE WHEN vec_id % 2 = 0
          |      THEN CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
          |      ELSE 0 END) AS BIGINT) AS sa,
          |    CAST(sum(CASE WHEN vec_id % 2 = 1
          |      THEN CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
          |      ELSE 0 END) AS BIGINT) AS sb,
          |    CAST(sum(CASE WHEN vec_id % 2 = 0
          |      THEN CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
          |        * CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
          |      ELSE 0 END) AS BIGINT) AS qa,
          |    CAST(sum(CASE WHEN vec_id % 2 = 1
          |      THEN CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
          |        * CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
          |      ELSE 0 END) AS BIGINT) AS qb
          |  FROM embeddings, unnest(range(64)) AS t(i)
          |  GROUP BY i
          |), n AS (
          |  SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS na,
          |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS nb
          |  FROM embeddings
          |), l AS (
          |  SELECT round(sqrt(CAST(sum(
          |      CAST(sa * nb - sb * na AS HUGEINT)
          |        * (sa * nb - sb * na)) AS DOUBLE))
          |    / (na * nb * 1000000.0), 6) AS l2_shift
          |  FROM d CROSS JOIN n GROUP BY na, nb
          |), topd AS (
          |  SELECT pos, sa * nb - sb * na AS dnum,
          |    CAST(qa + qb AS HUGEINT) * (na + nb)
          |      - CAST(sa + sb AS HUGEINT) * (sa + sb) AS vnum,
          |    row_number() OVER (ORDER BY abs(sa * nb - sb * na) DESC, pos)
          |      AS rnk
          |  FROM d CROSS JOIN n
          |)
          |SELECT t.rnk, CAST(t.pos AS BIGINT) AS dim,
          |  round(CAST(t.dnum AS DOUBLE) / (na * nb) / 1000000, 6)
          |    AS mean_shift,
          |  round(CAST(t.dnum AS DOUBLE) * (na + nb)
          |    / (na * nb * sqrt(CAST(t.vnum AS DOUBLE))), 6) AS shift_z,
          |  l.l2_shift, n.na, n.nb
          |FROM topd t CROSS JOIN l CROSS JOIN n
          |WHERE t.rnk <= 5 ORDER BY t.rnk""".stripMargin),
    ) { (s, dir) =>
      val x6 = round(col("v").cast("double") * 1000000, 0).cast("long")
      val d = Tables.embeddings(s, dir)
        .select(pmod(col("vec_id"), lit(2)).as("side"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("pos")
        .agg(sum(when(col("side") === 0, x6).otherwise(0L)).as("sa"),
          sum(when(col("side") === 1, x6).otherwise(0L)).as("sb"),
          sum(when(col("side") === 0, x6 * x6).otherwise(0L)).as("qa"),
          sum(when(col("side") === 1, x6 * x6).otherwise(0L)).as("qb"))
        .localCheckpoint()
      val n = Tables.embeddings(s, dir).agg(
        sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L))
          .as("na"),
        sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L).otherwise(0L))
          .as("nb"))
      val l = d.crossJoin(broadcast(n))
        .groupBy("na", "nb")
        .agg(sum(((col("sa") * col("nb") - col("sb") * col("na"))
          .cast("decimal(38,0)")
          * (col("sa") * col("nb") - col("sb") * col("na"))).as("sq"))
          .as("sd2"))
        .selectExpr(
          """round(sqrt(CAST(sd2 AS DOUBLE)) / (na * nb * 1000000.0), 6)
            |  AS l2_shift""".stripMargin)
      val w = Window.orderBy(
        abs(col("sa") * col("nb") - col("sb") * col("na")).desc, col("pos"))
      d.crossJoin(broadcast(n))
        .withColumn("dnum", col("sa") * col("nb") - col("sb") * col("na"))
        .withColumn("vnum",
          (col("qa") + col("qb")).cast("decimal(38,0)")
            * (col("na") + col("nb"))
            - (col("sa") + col("sb")).cast("decimal(38,0)")
              * (col("sa") + col("sb")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .crossJoin(broadcast(l))
        .selectExpr("rnk", "CAST(pos AS BIGINT) AS dim",
          """round(CAST(dnum AS DOUBLE) / (na * nb) / 1000000, 6)
            |  AS mean_shift""".stripMargin,
          """round(CAST(dnum AS DOUBLE) * (na + nb)
            |  / (na * nb * sqrt(CAST(vnum AS DOUBLE))), 6) AS shift_z"""
            .stripMargin,
          "l2_shift", "na", "nb")
        .orderBy("rnk")
    },

    Q(
      "q_bitext_mine",
      "margin-based BITEXT MINING (Artetxe & Schwenk 2019, the " +
        "standard parallel-corpus miner behind CCMatrix/LASER " +
        "pipelines): embeddings split into two sides (label parity " +
        "standing in for the two languages), and a cross-side pair " +
        s"(x, y) is mined when each is the other's best match by " +
        s"MARGIN — cosine normalized by the POOLED neighborhood " +
        s"mean, c(x,y)·(|Nx|+|Ny|)/(ΣNx + ΣNy) over the two " +
        s"endpoints' $BtK-nearest cross-side neighborhoods — equal " +
        "to the paper's mean-of-the-two-neighborhood-means whenever " +
        "both neighborhoods are full (|Nx| = |Ny| = k, the steady " +
        "state; they differ only for queries with fewer than k " +
        "cross-side candidates, where pooling weights the fuller " +
        "side: the deliberate variant here, one exact-integer ratio " +
        "instead of two) — with " +
        "margin ≥ 1 (better than your neighborhood average, the " +
        "ratio-margin criterion that beats absolute-cosine " +
        "thresholds because hubness inflates raw cosines " +
        "unevenly). Candidates are CELL-ROUTED, never all-pairs: " +
        "the knnTopK machinery (corpus side in its argmin cell, " +
        s"queries probing $KnnNProbe cells against a broadcast " +
        "centroid pack), so the mirrored oracle routes identically " +
        "and both engines rank the same candidate sets. The margin " +
        "is exact-integer fixed point: 6dp cosines ×1e6 summed as " +
        "BIGINT per neighborhood (order-free), one mirrored-text " +
        "IEEE division at the end, mutual-best joins on ids only. " +
        "At 100 TB the cell join is the one corpus-sized shuffle, " +
        "per-query state is the k-row neighborhood, and the " +
        "mutual-best join is pairs-sized — the documented IVF scale " +
        "path shared with the whole search family",
      Some(
        s"""WITH e AS (
           |  SELECT vec_id, embedding, label % 2 AS side FROM embeddings
           |), cents AS (
           |  ${Ivf.seedSql(KSeeds)}
           |), routed AS (
           |  ${Ivf.routeSql(Ivf.L2,
                "vec_id, side, cent_id AS cell_id, embedding, rn",
                "e.vec_id, e.side, c.cent_id, e.embedding", KnnNProbe)}
           |), corpus AS (
           |  SELECT vec_id AS neighbor_id, side, cell_id, embedding
           |  FROM routed WHERE rn = 1
           |), queries AS (
           |  SELECT vec_id, side, cell_id, embedding FROM routed
           |), scored AS (
           |  SELECT q.vec_id, q.side, c.neighbor_id,
           |    ${cosSimSql("q.embedding", "c.embedding")} AS cos_sim
           |  FROM queries q JOIN corpus c
           |    ON q.cell_id = c.cell_id AND c.side <> q.side
           |      AND c.neighbor_id <> q.vec_id
           |), topk AS (
           |  ${ByCosBt.cutSql("vec_id, side, neighbor_id, cos_sim, " +
                "CAST(round(cos_sim * 1000000) AS BIGINT) AS c6, rank", "*", "scored")}
           |), stats AS (
           |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_nb,
           |    CAST(sum(c6) AS BIGINT) AS s6
           |  FROM topk GROUP BY vec_id
           |), cand AS (
           |  SELECT t.vec_id, t.side, t.neighbor_id, t.cos_sim,
           |    round(CAST(t.c6 * (sa.n_nb + sb.n_nb) AS DOUBLE)
           |      / (sa.s6 + sb.s6), 6) AS margin
           |  FROM topk t
           |  JOIN stats sa ON sa.vec_id = t.vec_id
           |  JOIN stats sb ON sb.vec_id = t.neighbor_id
           |  WHERE sa.s6 + sb.s6 > 0
           |), fwd AS (
           |  ${ByMargin.cutSql("vec_id, neighbor_id, cos_sim, margin", "*", "cand WHERE side = 0")}
           |), bwd AS (
           |  ${ByMargin.cutSql("vec_id, neighbor_id", "*", "cand WHERE side = 1")}
           |)
           |SELECT f.vec_id AS vec_a, f.neighbor_id AS vec_b, f.cos_sim,
           |  f.margin
           |FROM fwd f JOIN bwd b
           |  ON b.vec_id = f.neighbor_id AND b.neighbor_id = f.vec_id
           |WHERE f.margin >= 1.0
           |ORDER BY vec_a""".stripMargin),
    ) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          (col("label") % 2).cast("int").as("side"))
      val cells = Ivf.Cells(Ivf.seeds(e, KSeeds), Ivf.L2)
      val corpus = cells.assign(e, "cell_id")
        .select(col("cell_id"), col("side").as("nb_side"),
          col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      val queries = cells.probe(e, KnnNProbe)
        .select(col("cell.cent_id").as("cell_id"), col("vec_id"),
          col("side"), col("embedding").as("qe"))
      val topk = ByCosBt.cut(queries.join(corpus, Seq("cell_id"))
        .filter(col("nb_side") =!= col("side")
          && col("neighbor_id") =!= col("vec_id"))
        .select(col("vec_id"), col("side"), col("neighbor_id"),
          cosSim("qe", "ne").as("cos_sim")))
        .withColumn("c6", round(col("cos_sim") * 1e6, 0).cast("long"))
        .localCheckpoint()
      val stats = topk.groupBy("vec_id")
        .agg(count(lit(1)).as("n_nb"), sum(col("c6")).as("s6"))
      val cand = topk
        .join(stats.select(col("vec_id"), col("n_nb").as("na"),
          col("s6").as("sa")), Seq("vec_id"))
        .join(stats.select(col("vec_id").as("neighbor_id"),
          col("n_nb").as("nb"), col("s6").as("sb")), Seq("neighbor_id"))
        .filter(col("sa") + col("sb") > 0)
        .withColumn("margin",
          round((col("c6") * (col("na") + col("nb"))).cast("double")
            / (col("sa") + col("sb")), 6))
      val fwd = ByMargin.cut(cand.filter(col("side") === 0))
      val bwd = ByMargin.cut(cand.filter(col("side") === 1))
        .select(col("vec_id").as("b_vec"), col("neighbor_id").as("b_nb"))
      fwd
        .join(bwd, col("b_vec") === col("neighbor_id")
          && col("b_nb") === col("vec_id"))
        .filter(col("margin") >= 1.0)
        .select(col("vec_id").as("vec_a"), col("neighbor_id").as("vec_b"),
          col("cos_sim"), col("margin"))
        .orderBy("vec_a")
    },

    Q(
      "q_dbscan",
      s"DBSCAN density clustering over the LSH-band candidate ε-graph " +
        s"(ε-ball = cosine ≥ $DbscanCosT, core iff ≥ $DbscanMinPts " +
        "other in-ball vectors — classic minPts 3 counting self): " +
        "core points cluster by connected components over core-core " +
        "ε-edges (min-label fixpoint, the ccMinLabels machinery — " +
        "isolated cores become self-labeled singletons), border = " +
        "non-core with a core neighbor attaching to the MIN core-" +
        "neighbor label (classic DBSCAN's border assignment is scan-" +
        "order-dependent; min-label is the deterministic declarative " +
        "choice, DbscanSpec pins it), the rest is noise. Per vector: " +
        "(n_nbrs, role 2=core/1=border/0=noise, cluster or -1). The " +
        "scale story IS the candidate generation: an exact high-dim " +
        "ε-graph is Ω(n²) by distance concentration, so neighbors " +
        "come from the band self-join (keyed equi-join, id-only " +
        "dedupe, vectors fetched after — the q_embed_dup discipline) " +
        "and the oracle mirrors the SAME bands; semantics are spec-" +
        "pinned against brute-force pairs, band recall is priced " +
        "separately (q_ann_recall). At 100 TB: band join + degree " +
        "agg + diameter-bounded CC rounds, never all-pairs",
      Some {
        s"""WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings),
           |bands AS (
           |  $bandTableSql
           |), cand AS (
           |  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
           |  FROM bands l JOIN bands r
           |    ON l.band_id = r.band_id AND l.band_val = r.band_val
           |   AND l.vec_id < r.vec_id
           |), pairs AS (
           |  SELECT c.vec_a, c.vec_b
           |  FROM cand c JOIN e a ON a.vec_id = c.vec_a
           |              JOIN e b ON b.vec_id = c.vec_b
           |  WHERE ${cosSimSql("a.embedding", "b.embedding")} >= $DbscanCosT
           |), und AS (
           |  SELECT vec_a AS vec_id, vec_b AS nb FROM pairs
           |  UNION ALL SELECT vec_b, vec_a FROM pairs
           |), deg AS (
           |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_nbrs
           |  FROM und GROUP BY vec_id
           |), core AS (SELECT vec_id FROM deg WHERE n_nbrs >= $DbscanMinPts),
           |cedges AS (
           |  SELECT p.vec_a AS src, p.vec_b AS dst FROM pairs p
           |    JOIN core ca ON ca.vec_id = p.vec_a
           |    JOIN core cb ON cb.vec_id = p.vec_b
           |  UNION ALL
           |  SELECT p.vec_b, p.vec_a FROM pairs p
           |    JOIN core ca ON ca.vec_id = p.vec_a
           |    JOIN core cb ON cb.vec_id = p.vec_b
           |), cc AS (
           |  SELECT DISTINCT src AS vec_id, src AS label FROM cedges
           |  UNION
           |  SELECT g.dst AS vec_id, cc.label
           |  FROM cc JOIN cedges g ON g.src = cc.vec_id
           |), clab0 AS (
           |  SELECT vec_id, min(label) AS label FROM cc GROUP BY vec_id
           |), clab AS (
           |  SELECT core.vec_id, coalesce(clab0.label, core.vec_id) AS label
           |  FROM core LEFT JOIN clab0 ON clab0.vec_id = core.vec_id
           |), blab AS (
           |  SELECT u.vec_id, min(cl.label) AS border_lab
           |  FROM und u JOIN clab cl ON cl.vec_id = u.nb
           |  GROUP BY u.vec_id
           |)
           |SELECT e.vec_id,
           |  CAST(coalesce(deg.n_nbrs, 0) AS BIGINT) AS n_nbrs,
           |  CAST(CASE WHEN cl.vec_id IS NOT NULL THEN 2
           |            WHEN b.border_lab IS NOT NULL THEN 1
           |            ELSE 0 END AS BIGINT) AS role,
           |  CAST(coalesce(cl.label, b.border_lab, -1) AS BIGINT) AS cluster
           |FROM e
           |LEFT JOIN deg ON deg.vec_id = e.vec_id
           |LEFT JOIN clab cl ON cl.vec_id = e.vec_id
           |LEFT JOIN blab b ON b.vec_id = e.vec_id
           |ORDER BY e.vec_id""".stripMargin
      },
    ) { (s, dir) =>
      dbscanLabels(s, Tables.embeddings(s, dir).select("vec_id", "embedding"))
    },

    Q(
      "q_kmeans_elbow",
      s"K-MEANS ELBOW curve: within-cluster inertia at k ∈ " +
        s"{${ElbowKs.mkString(", ")}}, each from $ElbowIters Lloyd " +
        "iterations off the first-k seeds (the q_kmeans_train " +
        "machinery re-run per k) — the model-selection readout every " +
        "IVF/clustering deployment computes before fixing its cell " +
        "count: inertia always falls with k, and the knee prices the " +
        "marginal cell. Per-point assignment cost is the 6dp-rounded " +
        "squared-L2 MINIMUM over broadcast centroids (grid-rounded " +
        "BEFORE the min, so engine tie behavior cannot differ); " +
        "inertia is the quantize-then-sum ×10⁶ BIGINT total — no " +
        "float-sum order anywhere. Cost: per k, " +
        s"$ElbowIters+1 corpus scans against broadcast k×$Dim " +
        "state; the three curves share nothing but the scan (AQE " +
        "reuse aside) — at 100 TB run the ks you need, each linear",
      Some(ElbowKs.map { k =>
        s"""SELECT * FROM (
           |${kmeansTrainSql(k, ElbowIters)}, md AS (
           |  SELECT e.vec_id,
           |    min(round(${normSqSql("embedding")}
           |      - 2 * ${dotColSql("embedding", "ce")}
           |      + ${normSqSql("ce")}, 6)) AS md
           |  FROM e CROSS JOIN c$ElbowIters c
           |  GROUP BY e.vec_id
           |)
           |SELECT CAST($k AS BIGINT) AS k,
           |  CAST(count(*) AS BIGINT) AS n_vecs,
           |  CAST(CAST(sum(CAST(round(md * 1000000) AS BIGINT)) AS DOUBLE)
           |    / 1000000 AS DOUBLE) AS inertia
           |FROM md
           |)""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY k"),
    ) { (s, dir) =>
      kmeansElbow(Tables.embeddings(s, dir).select("vec_id", "embedding"))
    },

    Q(
      "q_silhouette",
      s"SIMPLIFIED SILHOUETTE per cluster (k = $KSeeds, the " +
        s"q_kmeans_train centroids): a(i) = distance to the OWN " +
        "centroid, b(i) = min distance to any OTHER centroid, " +
        "s(i) = (b−a)/max(a,b) — the O(n·k) clustering-quality " +
        "readout that replaces the O(n²) pairwise silhouette at " +
        "scale (the standard large-data substitution, documented): " +
        "s ≈ 1 means tight-and-separated, s ≈ 0 boundary-straddling, " +
        "negative means the point sits closer to a rival cell. " +
        "Distances land on the 6dp grid (sqrt of the grid-rounded " +
        "d² — one correctly-rounded libm op each side), per-point s " +
        "quantizes to 1e-6 and sums in BIGINT per cluster " +
        "(quantize-then-sum), and assignment breaks ties by " +
        "cent_id on the grid — every decision cross-engine " +
        "deterministic. At 100 TB: one corpus scan against " +
        s"broadcast $KSeeds×$Dim centroids, k rows out",
      Some {
        val c = s"c$ElbowIters"
        s"""${kmeansTrainSql(KSeeds, ElbowIters)}, dists AS (
           |  SELECT e.vec_id, c.cent_id,
           |    round(sqrt(round(${normSqSql("embedding")}
           |      - 2 * ${dotColSql("embedding", "ce")}
           |      + ${normSqSql("ce")}, 6)), 6) AS d6
           |  FROM e CROSS JOIN $c c
           |), own AS (
           |  ${OwnCent.cutSql("vec_id, cent_id, d6 AS a6", "vec_id, cent_id, d6", "dists")}
           |), sil AS (
           |  SELECT o.vec_id, o.cent_id,
           |    CAST(round(CASE WHEN greatest(o.a6, min(d.d6)) = 0 THEN 0
           |      ELSE (min(d.d6) - o.a6) / greatest(o.a6, min(d.d6))
           |      END * 1000000) AS BIGINT) AS s6
           |  FROM own o JOIN dists d ON d.vec_id = o.vec_id
           |    AND d.cent_id <> o.cent_id
           |  GROUP BY o.vec_id, o.cent_id, o.a6
           |)
           |SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs,
           |  CAST(CAST(sum(s6) AS DOUBLE) / (1000000 * count(*))
           |    AS DOUBLE) AS mean_sil
           |FROM sil GROUP BY cent_id ORDER BY cent_id""".stripMargin
      },
    ) { (s, dir) =>
      silhouetteOf(Tables.embeddings(s, dir).select("vec_id", "embedding"),
        KSeeds)
    },
  )

  /** The q_kmeans_elbow computation over any (vec_id, embedding)
    * frame — factored so Round11AnnSpec can pin the inertia curve's
    * monotone descent on planted blobs. */
  /** Polar factor of a square cross-covariance M (q_embed_procrustes
    * + the planted-Givens spec): R = M·W·Λ^(−1/2)·Wᵀ with
    * MᵀM = W·Λ·Wᵀ from the driver Jacobi — the orthogonal Procrustes
    * optimum. The W·f(Λ)·Wᵀ form is eigenbasis-invariant, so
    * repeated eigenvalues can't flip it; rank deficiency throws. */
  private[graft] def polarRotation(md: Array[Array[Double]])
      : Array[Array[Double]] = {
    val d = md.length
    val mtm = Array.tabulate(d, d) { (a, b) =>
      var acc = 0.0; var k = 0
      while (k < d) { acc += md(k)(a) * md(k)(b); k += 1 }
      acc
    }
    val (lam, w) = graft.functions.FreqDir.jacobiEigen(mtm)
    require(lam.last > 1e-9 * math.max(lam.head, 1e-300),
      "procrustes: cross-covariance is rank-deficient")
    Array.tabulate(d, d) { (a, b) =>
      var acc = 0.0; var k = 0
      while (k < d) {
        var p = 0
        var inner = 0.0
        while (p < d) { inner += w(p)(k) * md(a)(p); p += 1 }
        acc += inner / math.sqrt(lam(k)) * w(b)(k)
        k += 1
      }
      acc
    }
  }

  private[graft] def kmeansElbow(e: DataFrame): DataFrame =
    ElbowKs.map { k =>
      val (cents, _) = trainCents(e, k, ElbowIters)
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          round(normSq(col("embedding"))
            - lit(2.0) * dotCol(col("embedding"), col("ce"))
            + normSq(col("ce")), 6).as("d2"))
        .groupBy("vec_id").agg(min(col("d2")).as("md"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(round(col("md") * 1000000, 0).cast("long")).as("s6"))
        .select(lit(k.toLong).as("k"), col("n_vecs"),
          (col("s6").cast("double") / 1000000).cast("double").as("inertia"))
    }.reduce(_ unionAll _).orderBy("k")

  /** The q_silhouette computation over any (vec_id, embedding)
    * frame — factored so Round11AnnSpec can plant two far blobs
    * (mean_sil ≈ 1 per cluster) and one split blob (≈ 0). */
  private[graft] def silhouetteOf(e: DataFrame,
      k: Int): DataFrame = {
    val (cents, _) = trainCents(e, k, ElbowIters)
    val dists = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        round(sqrt(round(normSq(col("embedding"))
          - lit(2.0) * dotCol(col("embedding"), col("ce"))
          + normSq(col("ce")), 6)), 6).as("d6"))
      .localCheckpoint() // read by the own-assignment AND rival min
    val own = OwnCent.cut(dists)
      .select(col("vec_id"), col("cent_id"), col("d6").as("a6"))
    own.join(dists.select(col("vec_id"), col("cent_id").as("oc"),
          col("d6")),
        Seq("vec_id"))
      .filter(col("oc") =!= col("cent_id"))
      .groupBy("vec_id", "cent_id", "a6").agg(min(col("d6")).as("b6"))
      .select(col("cent_id"),
        round(when(greatest(col("a6"), col("b6")) === 0, 0.0)
          .otherwise((col("b6") - col("a6"))
            / greatest(col("a6"), col("b6"))) * 1000000, 0)
          .cast("long").as("s6"))
      .groupBy("cent_id").agg(count(lit(1)).as("n_vecs"),
        sum(col("s6")).as("ss"))
      .select(col("cent_id"), col("n_vecs"),
        (col("ss").cast("double") / (lit(1000000.0) * col("n_vecs")))
          .cast("double").as("mean_sil"))
      .orderBy("cent_id")
  }

  /** q_dbscan end-to-end: banded candidate ε-pairs feeding
    * [[dbscanFromPairs]]. Factored so DbscanSpec can drive the
    * semantics core with brute-force pairs (band recall is a separate,
    * separately-priced concern). */
  private[graft] def dbscanLabels(s: SparkSession,
      e0: DataFrame): DataFrame = {
    val e = e0.select("vec_id", "embedding")
    val bands = bandTable(e, "vec_id")
    // id-only pair dedupe, vectors fetched after (q_embed_dup note)
    val candIds = bands.as("l").join(bands.as("r"),
        col("l.band_id") === col("r.band_id")
          && col("l.band_val") === col("r.band_val")
          && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
      .distinct()
    val pairs = candIds
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        Seq("vec_b"))
      .filter(cosSim("ea", "eb") >= DbscanCosT)
      .select("vec_a", "vec_b")
    dbscanFromPairs(e.select("vec_id"), pairs)
  }

  /** DBSCAN semantics over a qualified ε-pair list (vec_a < vec_b,
    * already distance-filtered): degree → core, core-core CC via
    * [[DedupOps.ccMinLabels]] (+ self-labeled isolated cores), border
    * = min core-neighbor label, noise −1. The pair list is computed
    * ONCE (localCheckpoint) and read by the degree, CC, and border
    * passes. */
  private[graft] def dbscanFromPairs(allVecs: DataFrame,
      pairs0: DataFrame)
      : DataFrame = {
    val pairs = pairs0.localCheckpoint()
    val und = pairs.select(col("vec_a").as("vec_id"), col("vec_b").as("nb"))
      .unionAll(pairs.select(col("vec_b").as("vec_id"), col("vec_a").as("nb")))
    val deg = und.groupBy("vec_id").agg(count(lit(1)).as("n_nbrs"))
    val core = deg.filter(col("n_nbrs") >= DbscanMinPts).select("vec_id")
    val ccEdges = pairs
      .join(core.select(col("vec_id").as("vec_a")), Seq("vec_a"))
      .join(core.select(col("vec_id").as("vec_b")), Seq("vec_b"))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val coreLabels = core
      .join(DedupOps.ccMinLabels(ccEdges).withColumnRenamed("doc_id", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("label"), col("vec_id")).as("label"))
    val borderLab = und
      .join(coreLabels.select(col("vec_id").as("nb"), col("label").as("nb_lab")),
        Seq("nb"))
      .groupBy("vec_id").agg(min(col("nb_lab")).as("border_lab"))
    allVecs.select("vec_id")
      .join(deg, Seq("vec_id"), "left")
      .join(coreLabels.withColumnRenamed("label", "core_lab"), Seq("vec_id"), "left")
      .join(borderLab, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"),
        when(col("core_lab").isNotNull, 2L)
          .when(col("border_lab").isNotNull, 1L).otherwise(0L).as("role"),
        coalesce(col("core_lab"), col("border_lab"), lit(-1L)).as("cluster"))
      .orderBy("vec_id")
  }

  private def pqDot16Sql(a: String, b: String): String =
    s"list_sum(list_transform(range($PqSubDim), i -> $a[i+1] * $b[i+1]))"
  private def pqNsqSql(e: String): String =
    s"list_sum(list_transform($e, x -> x * x))"
  private def pqD2Sql(v: String, c: String): String =
    s"round(${pqNsqSql(v)} - 2 * ${pqDot16Sql(v, c)} + ${pqNsqSql(c)}, 6)"

  /** Oracle CTE chain: sv (long-form double subvectors) → c0 (first-k
    * seeds) → a1 (iteration-1 assignment) → l1/c1 (recomputed
    * codebooks) → a2 (final codes, 6dp metric `m` riding along). */
  private def pqChainSql: String =
    s"""WITH sv AS (
       |  SELECT vec_id, sp,
       |    list_transform(embedding[sp*$PqSubDim+1 : sp*$PqSubDim+$PqSubDim],
       |      x -> CAST(x AS DOUBLE)) AS sv
       |  FROM (SELECT vec_id, unnest(range($PqM)) AS sp, embedding FROM embeddings)
       |), """.stripMargin + pqChainBodySql()

  /** The codebook-training tail of [[pqChainSql]] (c0 → a2), agnostic
    * to how the preceding `sv` CTE built its subvectors — the raw
    * chain slices embeddings; the residual variant (q_ivfpq_residual)
    * subtracts the cell centroid first and shifts the seed window
    * past the centroid vectors (whose residuals are all-zero).
    * Must follow a CTE named `sv` with (vec_id, sp, sv: DOUBLE[]).
    * Seeds keep vec_id as cent_id, so codes are comparable across
    * engines regardless of the window. */
  private def pqChainBodySql(seedLo: Int = 0): String =
    s"""c0 AS (
       |  SELECT sp, vec_id AS cent_id, sv AS ce FROM sv
       |  WHERE vec_id >= $seedLo AND vec_id < ${seedLo + PqK}
       |), a1 AS (
       |  SELECT vec_id, sp, sv, cent_id FROM (
       |    SELECT v.vec_id, v.sp, v.sv, c.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sp
       |        ORDER BY ${pqD2Sql("v.sv", "c.ce")}, c.cent_id) AS rn
       |    FROM sv v JOIN c0 c ON c.sp = v.sp) WHERE rn = 1
       |), l1 AS (
       |  SELECT sp, cent_id, pos, round(avg(v), 6) AS cval FROM (
       |    SELECT sp, cent_id, pos, sv[pos+1] AS v FROM (
       |      SELECT sp, cent_id, unnest(range($PqSubDim)) AS pos, sv FROM a1))
       |  GROUP BY sp, cent_id, pos
       |), c1 AS (
       |  SELECT sp, cent_id, list(cval ORDER BY pos) AS ce
       |  FROM l1 GROUP BY sp, cent_id
       |), a2pre AS (
       |  SELECT v.vec_id, v.sp, c.cent_id, ${pqD2Sql("v.sv", "c.ce")} AS m
       |  FROM sv v JOIN c1 c ON c.sp = v.sp
       |), a2 AS (
       |  SELECT vec_id, sp, cent_id, m FROM (
       |    SELECT vec_id, sp, cent_id, m,
       |      row_number() OVER (PARTITION BY vec_id, sp
       |        ORDER BY m, cent_id) AS rn
       |    FROM a2pre) WHERE rn = 1
       |)""".stripMargin

  /** ADC top-[[PqTopK]] over (probe_id, vec_id, dt) table lookups: per
    * (probe, vector) the fixed-point sum of its sub-space distances,
    * nearest first. It ranks before vec_id is renamed neighbor_id, so
    * [[ByAdist]] breaks its ties on vec_id here. */
  private def adcTop(lookups: DataFrame): DataFrame =
    ByAdist.copy(tie = "vec_id").top(lookups.groupBy("probe_id", "vec_id")
        .agg(graft.functions.Portable.exactSum(col("dt"), 6).as("adist")))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("adist"), col("rank"))
      .orderBy("probe_id", "rank")

  /** Long-form (vec_id, sp, 16-dim float slice): subspace becomes a
    * grouping key, so one Lloyd pass trains all PqM codebooks. */
  private def pqSv(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
        s"j -> slice(embedding, j*$PqSubDim+1, $PqSubDim))"))
        .as(Seq("sp", "sv")))

  /** One unrolled Lloyd iteration from first-PqK seeds → long-form
    * codebooks (sp, cent_id, ce). Fused argmin assignment (6dp metric,
    * cent_id tiebreak — identical to the composed form in [[pqEncode]]
    * by CentAssignSpec's equivalence), per-(sp,cent,pos) 6dp mean. */
  private def pqCodebooks(s: SparkSession, sv: DataFrame,
      seedLo: Int = 0)
      : DataFrame = {
    // seedLo shifts the deterministic seed window: the residual
    // variant must NOT seed from vec_id < NumCells — those vectors
    // ARE the cell centroids, so their residuals are all-zero and
    // the codebooks would collapse to one effective codeword.
    val c0 = sv.filter(col("vec_id") >= seedLo && col("vec_id") < seedLo + PqK)
      .select(col("sp"), col("vec_id").as("cent_id"),
        transform(col("sv"), _.cast("double")).as("ce"))
    sv.join(Ivf.packCents(c0, "sp"), Seq("sp"))
      .withColumn("cent_id",
        graft.functions.CentAssign.argminL2("sv", "cs"))
      .select(col("sp"), col("cent_id"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("sp", "cent_id", "pos")
      .agg(round(avg(col("v").cast("double")), 6).as("cval"))
      .groupBy("sp", "cent_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
        p => p.getField("cval")).as("ce"))
  }

  /** Final PQ encode: composed (m, cent_id) array_min against the
    * broadcast codebook pack, so the 6dp metric rides along for the
    * reconstruction error / ADC tables. Returns (vec_id, sp, cent_id, m). */
  private def pqEncode(s: SparkSession, sv: DataFrame,
      books: DataFrame): DataFrame = {
    val mets = Ivf.L2.metricsOf("sv")
    sv.withColumn("vn2", normSq(col("sv")))
      .join(Ivf.packCents(books, "sp"), Seq("sp"))
      .withColumn("best", array_min(mets))
      .select(col("vec_id"), col("sp"),
        col("best.cent_id").as("cent_id"), col("best.m").as("m"))
  }
}

package graft.operators

import graft.{Q, Tables}
import graft.functions.{MinHash60, Portable, SimHash60}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the flagship
  * LLM-training-data pipeline surface (SURVEY.md §7.3.3).
  *
  * The reference engine has no dedup operator (its closest capability
  * is the distinct-key walk in the merge-group phase,
  * `/root/reference/mapreduce/manager/__main__.py:454-461`); these are
  * the extensions a 100 TB corpus pipeline needs, each designed so the
  * expensive step is a *keyed shuffle*, never an all-pairs comparison:
  *
  *  - exact:   shuffle keyed by content hash — cluster size is crawl
  *             duplication factor, bounded per key.
  *  - MinHash: LSH bands as join keys; only docs sharing a band
  *             signature ever meet. O(candidates), not O(n²).
  *  - SimHash: 60-bit signature; 15-bit chunk bands as join keys
  *             (pigeonhole: hamming ≤ 3 ⇒ some chunk equal; wider
  *             radii trade recall, documented per query).
  *  - n-gram Jaccard: inverted-index join on shingle — the classic
  *             candidate generator; at 100 TB add min/max-df shingle
  *             pruning to cap join fan-out on stop-shingles.
  *
  * Every hash is [[Portable.md5Hash60]]/sha256 so DuckDB reproduces it
  * bit-for-bit; the MinHash permutation constants below are spliced
  * into BOTH the Spark plan and the oracle SQL from the same Scala
  * values, so the two sides cannot drift.
  */
object DedupOps {

  /** q_sql_jaccard: the naive relative-Jaccard join as Spark SQL
    * TEXT (the DuckDB oracle twin lives on the Q entry — array
    * function names differ between dialects, so this is twin
    * spellings, not the q_sql_q1 byte-identical contract). The
    * OverlapJoinBlocking rule must plan this parsed tree exactly as
    * it plans the DataFrame twin — OverlapRuleSpec pins it
    * NestedLoop-free. */
  private[graft] val SqlJaccardText: String =
    """WITH t AS (
      |  SELECT doc_id, array_distinct(filter(
      |    split(lower(text), ' '), x -> x <> '')) AS toks
      |  FROM documents WHERE doc_id % 10 = 0
      |)
      |SELECT CAST(size(array_intersect(a.toks, b.toks)) AS BIGINT)
      |    AS n_shared,
      |  CAST(size(array_union(a.toks, b.toks)) AS BIGINT) AS n_union,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(a.doc_id + b.doc_id) AS BIGINT) AS id_checksum
      |FROM t a JOIN t b
      |  ON size(array_intersect(a.toks, b.toks))
      |     >= 0.875 * size(array_union(a.toks, b.toks))
      | AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |ORDER BY n_shared, n_union""".stripMargin

  /** q_sql_hamming: the naive Hamming radius join as Spark SQL TEXT
    * (twin spellings — the md5→int64 conversion and xor differ by
    * dialect; the SimHash bit arithmetic [[simhashSqlBits]]/
    * [[simhashSqlAssemble]] is dialect-neutral and shared verbatim
    * with the DuckDB oracle). HammingBandJoin must plan this parsed
    * tree exactly as it plans q_hamming_join's DataFrame twin —
    * HammingRuleSpec pins it NestedLoop-free. */
  private[graft] def SqlHammingText: String =
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, explode(split(lower(text), ' ')) AS w
       |  FROM documents WHERE doc_id % 3 = 0
       |), h AS (
       |  SELECT doc_id, CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT) AS h
       |  FROM tok
       |), bits AS (
       |  SELECT doc_id, $simhashSqlBits FROM h GROUP BY doc_id
       |), sim AS (
       |  SELECT doc_id, $simhashSqlAssemble AS simhash FROM bits
       |)
       |SELECT CAST(bit_count(l.simhash ^ r.simhash) AS BIGINT) AS hamming,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(l.doc_id + r.doc_id) AS BIGINT) AS id_checksum
       |FROM sim l JOIN sim r
       |  ON bit_count(l.simhash ^ r.simhash) <= 3 AND l.doc_id < r.doc_id
       |GROUP BY 1 ORDER BY hamming""".stripMargin

  /** q_sql_fuzzy: the naive edit-distance join as Spark SQL TEXT —
    * `levenshtein` spells identically in both dialects, so unlike
    * the hamming face this is ONE string with a near-verbatim
    * oracle twin. FuzzyJoinBlocking must plan the parsed tree
    * exactly as it plans q_fuzzy_pairs' DataFrame twin —
    * FuzzyRuleSpec pins it NestedLoop-free. */
  private[graft] val SqlFuzzyText: String =
    """WITH n AS (SELECT DISTINCT p_name FROM part),
      |p AS (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b
      |  FROM n a JOIN n b
      |    ON levenshtein(a.p_name, b.p_name) <= 1 AND a.p_name < b.p_name
      |)
      |SELECT substr(name_a, 1, 1) AS initial,
      |  CAST(count(*) AS BIGINT) AS n_pairs
      |FROM p GROUP BY 1 ORDER BY initial""".stripMargin

  /** q_jaccard_incremental's machinery, factored for the spec's
    * batch+base ≡ full-recompute pin. Both inputs carry (doc_id,
    * toks: array<string> DISTINCT tokens); batch ids must exceed
    * base ids (the incremental-dedup id discipline every sibling
    * uses). Returns qualifying pairs (doc_a, doc_b, n_shared,
    * n_union) at t = 7/8, where doc_b is always a batch doc.
    *
    * The base's PPJoin prefix index — (doc_id, len, pos, token) per
    * sorted (1−t)-prefix slot — is persisted once (Scratch dir
    * standing in for the ingest-time table) and probed by the
    * batch's own prefix explode; candidates apply the exact LENGTH
    * filter, the POSITIONAL filter (the carried pos/len make it a
    * four-compare prune, same bound the optimizer rule plants), an
    * id-level distinct, then ONE exact verify per pair on fetched
    * payloads. Exact integer α/α₂ for the dyadic t = 7/8.
    *
    * Precondition: every row has ≥ 1 distinct token (the corpus
    * contract — verified to hold at every SF). The inclusive ∅-∅
    * pair (0 ≥ t·0) that the OPTIMIZER RULE covers via its sentinel
    * prefix is out of scope for this imperative twin: a zero-token
    * row has no prefix slot and would silently drop. */
  private[graft] def jaccardIncremental(s: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      payloads: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def pfxIndex(d: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      d.select(col("doc_id"), size(col("toks")).as("len"),
          expr("slice(sort_array(toks), 1, " +
            "greatest(size(toks) - ((7 * size(toks) + 7) div 8) + 1, 0))")
            .as("pfx"))
        .select(col("doc_id"), col("len"),
          posexplode(col("pfx")).as(Seq("pos", "tok")))
    // The persisted base index: paid once at ingest, read back by
    // every future batch instead of re-exploding the base corpus.
    val idxDir = Scratch.dir()
    pfxIndex(base).write.parquet(idxDir)
    val baseIdx = s.read.parquet(idxDir)
      .select("doc_id", "len", "pos", "tok")
    val batchIdx = pfxIndex(batch)
      .localCheckpoint() // probed twice: against the index and itself
    val alpha2 = expr("(7 * (l.len + r.len) + 14) div 15")
    val candIds = baseIdx.unionByName(batchIdx).as("l")
      .join(batchIdx.as("r"),
        col("l.tok") === col("r.tok")
          && col("l.doc_id") < col("r.doc_id")
          && col("l.len") >= expr("(7 * r.len + 7) div 8")
          && col("r.len") >= expr("(7 * l.len + 7) div 8")
          && least(col("l.len") - col("l.pos"), col("r.len") - col("r.pos"))
            >= alpha2)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint() // ids only — payloads fetched after
    // The verify is the merge-walk count over sorted payloads (the
    // optimizer rule's size-only kernel — SortedIntersectSpec pins
    // ≡ size(array_intersect)), not a per-candidate hash-set build.
    val ns = expr("sorted_intersect_count(ta, tb)")
    candIds
      .join(payloads.select(col("doc_id").as("doc_a"),
        sort_array(col("toks")).as("ta")), Seq("doc_a"))
      .join(payloads.select(col("doc_id").as("doc_b"),
        sort_array(col("toks")).as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), ns.as("n_shared"),
        (size(col("ta")) + size(col("tb")) - ns).as("n_union"))
      .filter(col("n_shared") * 8 >= col("n_union") * 7)
      .groupBy("n_shared", "n_union")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("doc_a") + col("doc_b")).as("id_checksum"))
      .orderBy("n_shared", "n_union")
  }

  /** Mersenne prime 2^31-1: keeps (a*h+b) inside 63 bits. */
  private val P = 2147483647L

  /** k=16 permutations in b=4 bands of r=4. The affine family
    * h_i(x) = (a_i*x + b_i) mod P lives in [[MinHash60.AB]] — the
    * single source of truth for the Spark expression and the literals
    * spliced into the oracle SQL below.
    */
  private val NumHashes = MinHash60.NumHashes
  private val BandSize = 4
  private val NumBands = NumHashes / BandSize
  private val AB = MinHash60.AB

  /** 3-token shingles of the (already lowercase, space-separated)
    * document text — Spark side. */
  private def shingleCol(toks: Column): Column =
    array_distinct(transform(
      sequence(lit(0), size(toks) - 3),
      i => concat_ws(" ",
        element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))

  private val shingleSql =
    "list_distinct(list_transform(range(len(t)-2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))"

  /** Max document frequency a shingle may have before it is treated as
    * a stop-shingle and excluded from the Jaccard universe. On a web
    * corpus a stop-shingle ("in the and") makes the candidate join
    * quadratic in its df; capping df bounds any shingle's join fan-out
    * at MaxShingleDf². The SAME constant is spliced into the oracle
    * SQL, so Spark and DuckDB prune identically.
    */
  private[graft] val MaxShingleDf = 1000L

  /** Exploded (doc_id, shingle, df) stream with stop-shingles (df >
    * maxDf) removed. The df window's exchange IS the df aggregation —
    * one shingle-keyed shuffle, no extra pass. Exposed for the planted
    * stop-shingle test in DedupSpec.
    */
  private[graft] def prunedShingles(
      docs: org.apache.spark.sql.DataFrame, maxDf: Long)
      : org.apache.spark.sql.DataFrame = {
    val toks = split(lower(col("text")), " ", -1)
    docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingleCol(col("t"))).as("shingle"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("df") <= maxDf)
  }

  /** DuckDB twin of the fused expression's base hash
    * ([[MinHash60.compute]]): 60-bit md5 prefix mod P. */
  private val baseHashSql =
    s"(CAST('0x'||substr(md5(s),1,15) AS BIGINT) % $P)"

  // ---- SimHash helpers: 60-bit signature from per-token hash bits ----

  private val SimBits = 60
  private val ChunkBits = 15
  private val NumChunks = SimBits / ChunkBits

  // private[graft]: StreamOps' q_stream_ingest oracle reuses the same
  // SimHash SQL spelling so stream and batch signatures can't drift.
  private[graft] def simhashSqlBits: String =
    (0 until SimBits).map { b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")

  private[graft] def simhashSqlAssemble: String =
    (0 until SimBits).map { b =>
      s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")

  /** MinHash-LSH candidate pairs (doc_a < doc_b, est_jaccard) — the
    * shared core of q_dedup_near (which reports them), q_dedup_cluster
    * (which clusters them), and q_corpus_pipeline's near-dedup stage
    * (which runs over already-filtered survivors). One shuffle keyed
    * by (band_id, band_key); only same-signature docs ever meet.
    */
  private def minhashPairs(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    minhashPairsOf(s, Tables.documents(s, dir))

  /** Exploded LSH band stream (doc_id, mh, band_id, band_key) over an
    * arbitrary (doc_id, text) frame — the shared candidate-generation
    * core of the pairwise near-dedup queries AND the persisted base
    * band index q_dedup_near_incremental probes. */
  private[graft] def minhashBandsOf(
      s: org.apache.spark.sql.SparkSession,
      source: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = split(lower(col("text")), " ", -1)
    val docs = source
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), shingleCol(col("t")).as("shingles"))
    // Fused native expression: md5 base hash + all 16 permutation
    // minima in ONE pass over the shingle array (vs 17 traversals
    // for the composed transform/array_min form — same values, see
    // MinHash60's scaladoc; the oracles are unchanged).
    val mhs = docs
      .select(col("doc_id"), MinHash60.minhash60("shingles").as("mh"))
    val bandKeys = (0 until NumBands).map { j =>
      concat_ws(",",
        (1 to BandSize).map(i => element_at(col("mh"), 4 * j + i).cast("string")): _*)
    }
    mhs.select(col("doc_id"), col("mh"),
      posexplode(array(bandKeys: _*)).as(Seq("band_id", "band_key")))
  }

  /** [[minhashPairs]] over an arbitrary (doc_id, text) frame. */
  private[graft] def minhashPairsOf(
      s: org.apache.spark.sql.SparkSession,
      source: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bands = minhashBandsOf(s, source)
    val l = bands.as("l")
    val r = bands.as("r")
    val nEq = size(filter(
      zip_with(col("l.mh"), col("r.mh"), (x, y) => x === y), b => b))
    l.join(r,
        col("l.band_id") === col("r.band_id")
          && col("l.band_key") === col("r.band_key")
          && col("l.doc_id") < col("r.doc_id"))
      .select(
        col("l.doc_id").as("doc_a"),
        col("r.doc_id").as("doc_b"),
        (nEq / lit(NumHashes.toDouble)).as("est_jaccard"))
      .distinct()
  }

  /** DuckDB twin of [[minhashPairs]], as a reusable CTE chain ending
    * in a `pairs(doc_a, doc_b, est_jaccard)` relation.
    */
  private def minhashPairsSqlCte: String = minhashPairsSqlCteFrom("documents")

  /** [[minhashPairsSqlCte]] reading (doc_id, text) from `from` — a
    * table or an earlier CTE (q_corpus_pipeline feeds its exact-dedup
    * survivors). */
  private[graft] def minhashPairsSqlCteFrom(from: String): String = {
    val mhEntries = AB.map { case (a, b) =>
      s"list_min(list_transform(hs, x -> ($a * x + $b) % $P))"
    }.mkString("[", ", ", "]")
    val bandKey = (1 to BandSize).map(i => s"mh[4*j+$i]").mkString("concat_ws(',', ", ", ", ")")
    s"""docs AS (
       |  SELECT doc_id, $shingleSql AS shingles
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM $from)
       |  WHERE len(t) >= 3
       |), bases AS (
       |  SELECT doc_id, list_transform(shingles, s -> $baseHashSql) AS hs FROM docs
       |), mhs AS (
       |  SELECT doc_id, $mhEntries AS mh FROM bases
       |), bands AS (
       |  SELECT doc_id, mh, j AS band_id, $bandKey AS band_key
       |  FROM mhs, range($NumBands) AS u(j)
       |), pairs AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |    len(list_filter(list_transform(range($NumHashes),
       |          i -> l.mh[i+1] = r.mh[i+1]), x -> x)) / $NumHashes.0 AS est_jaccard
       |  FROM bands l JOIN bands r
       |    ON l.band_id = r.band_id AND l.band_key = r.band_key
       |   AND l.doc_id < r.doc_id
       |)""".stripMargin
  }

  /** Connected components over near-dup candidate pairs via min-label
    * propagation to fixpoint — the clustering core of q_dedup_cluster
    * and q_corpus_pipeline's canonicalization stage. Each round is ONE
    * shuffle keyed by doc_id; rounds are bounded by component
    * diameter, tiny for near-dup clusters. The driver-side loop checks
    * convergence counts only (no data rows); lineage is truncated per
    * round (localCheckpoint; at 100 TB, checkpoint to storage).
    * Returns (doc_id, label) for every doc that appears in a pair;
    * label = min doc_id of its component (the canonical survivor).
    * Throws if not converged in 50 rounds — unconverged labels are
    * WRONG labels (fractured clusters), and silently diverging from
    * the oracle's fixpoint is worse than failing.
    */
  private[graft] def ccMinLabels(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint() // computed once; reused every round
    val labels0 = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    // Convergence via Fixpoint.exactSum when labels are integral: each
    // round only lowers labels (min over self + neighbors), so the
    // label sum strictly decreases until the fixpoint. Non-numeric
    // label domains (q_entity_dedup clusters STRING entity keys) keep
    // the join-based check: there is no exact monotone scalar for
    // lexicographic min.
    val numericLabels = labels0.schema("label").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val init = (labels0,
      if (numericLabels) Fixpoint.exactSum(labels0, "label") else null)
    val ((labels, _), _) = Fixpoint.iterate("ccMinLabels", 50,
        init) { case (labels, prevSum) =>
      val prop = labels.join(edges, labels("doc_id") === edges("src"))
        .select(col("dst").as("doc_id"), col("label"))
      val next = labels.unionAll(prop)
        .groupBy("doc_id").agg(min(col("label")).as("label"))
        .localCheckpoint()
      if (numericLabels) {
        val nextSum = Fixpoint.exactSum(next, "label")
        ((next, nextSum), nextSum.compareTo(prevSum) == 0)
      } else {
        ((next, null), next.as("n")
          .join(labels.as("o"), "doc_id")
          .filter(col("n.label") =!= col("o.label"))
          .isEmpty)
      }
    }
    labels
  }

  /** Near-dup edge threshold shared by the clustering twins: the
    * Spark side filters candidate pairs to `est_jaccard >=` this
    * before [[ccMinLabels]], and [[ccSqlCte]] bakes the SAME constant
    * into the oracle's edge CTE — one owner, so the two sides can
    * never silently drift. */
  private[graft] val CcEdgeThreshold = 0.5

  /** q_overlap_join: minimum shared distinct tokens — high because
    * the synthetic 31-token vocabulary makes low thresholds vacuous
    * (most pairs share most tokens). Spliced into both engines. */
  private[graft] val OverlapJoinT = 28

  /** DuckDB twin of [[ccMinLabels]]: recursive CTE chain (edges → cc →
    * final(doc_id, label)) expecting a prior `pairs` CTE; splice under
    * a WITH RECURSIVE. The threshold parameter mirrors the pair
    * filter the Spark caller applies before ccMinLabels — pass the
    * same value you filtered with (default [[CcEdgeThreshold]], what
    * both current callers use). */
  private[graft] def ccSqlCte(threshold: Double = CcEdgeThreshold): String =
    s"""edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE est_jaccard >= $threshold
      |  UNION ALL
      |  SELECT doc_b, doc_a FROM pairs WHERE est_jaccard >= $threshold
      |), cc AS (
      |  SELECT DISTINCT src AS doc_id, src AS label FROM edges
      |  UNION
      |  SELECT e.dst AS doc_id, cc.label
      |  FROM cc JOIN edges e ON e.src = cc.doc_id
      |), final AS (
      |  SELECT doc_id, min(label) AS label FROM cc GROUP BY doc_id
      |)""".stripMargin

  /** Truncated-suffix-array duplicated-span islands, shared by
    * q_substr_sa (measures them) and q_substr_strip (removes them):
    * every char-20-gram suffix is range-partitioned and sorted so
    * duplicated grams land adjacent (equal truncated suffixes <=>
    * LCP >= 20), a streaming per-partition run scan emits duplicated
    * positions with O(1) memory and zero hash state, and a
    * doc-keyed gaps-and-islands pass unions overlapping spans.
    * Returns (doc_id, isl, start, end) with [start, end) half-open
    * char intervals.
    */
  private def saIslands(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // (doc_id, 0-based pos, 20-char truncated suffix). posexplode's
    // index over the transform array IS the character offset.
    val grams = docs.filter(length(col("text")) >= 20)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), length(col("text")) - 19),
          p => col("text").substr(p, lit(20)))).as(Seq("pos", "g")))
      .select(col("g"), col("doc_id"), col("pos").cast("long").as("pos"))
    val sorted = grams.repartitionByRange(col("g"))
      .sortWithinPartitions("g", "doc_id", "pos")
    val dupPos = sorted.as[(String, Long, Long)].mapPartitions { rows =>
      // O(1)-memory run scan: hold ONLY the first member of the
      // current gram's run until a second member proves the gram
      // duplicated (emit both), then stream every further member
      // straight through. No per-run buffer exists, so an adversarial
      // high-df gram costs nothing beyond its own rows — no max-df
      // cap is needed for memory safety.
      new Iterator[(Long, Long)] {
        private var queued: List[(Long, Long)] = Nil // ≤ 2 elements
        private var curG: String = null
        private var first: (Long, Long) = null
        private var dup = false
        private def advance(): Unit =
          while (queued.isEmpty && rows.hasNext) {
            val (g, d, p) = rows.next()
            if (g != curG) { curG = g; first = (d, p); dup = false }
            else if (!dup) { dup = true; queued = first :: (d, p) :: Nil }
            else queued = (d, p) :: Nil
          }
        def hasNext: Boolean = { advance(); queued.nonEmpty }
        def next(): (Long, Long) = {
          advance(); val h = queued.head; queued = queued.tail; h
        }
      }
    }.toDF("doc_id", "pos")
    // A new island starts when this span's start clears every previous
    // span's end; island extents then merge overlaps exactly once.
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupPos
      .withColumn("prev_end", max(col("pos") + 19).over(wPrev))
      .withColumn("new_isl",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(wCum))
      .groupBy("doc_id", "isl")
      .agg(min(col("pos")).as("start"), (max(col("pos")) + 20).as("end"))
  }

  /** DuckDB twin of [[saIslands]] as a CTE chain ending in
    * `islands(doc_id, isl, start, e)` — spliced into both SA oracles
    * so measure and strip cannot drift.
    */
  private val saIslandsSqlCte: String =
    """pg AS (
      |  SELECT doc_id, unnest(list_transform(range(length(text) - 19),
      |    p -> {'pos': p, 'g': substr(text, p + 1, 20)})) AS u
      |  FROM documents WHERE length(text) >= 20
      |), g AS (
      |  SELECT doc_id, u.pos AS pos, u.g AS g FROM pg
      |), c AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt FROM g)
      |  WHERE cnt > 1
      |), i AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + 19) OVER (
      |      PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |    THEN 1 ELSE 0 END AS new_isl
      |  FROM c
      |), isl AS (
      |  SELECT doc_id, pos, sum(new_isl) OVER (
      |    PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM i
      |), islands AS (
      |  SELECT doc_id, isl, min(pos) AS start, max(pos) + 20 AS e
      |  FROM isl GROUP BY doc_id, isl
      |)""".stripMargin

  val all: Seq[Q] = Seq(
    Q(
      "q_dedup_exact",
      "exact dedup: shuffle keyed by sha256(text); the testdata has no " +
        "exact dups, so the corpus is unioned with itself to exercise " +
        "real 2-copy clusters — same plan either way; cluster size is " +
        "bounded by crawl duplication, never by corpus size",
      Some(
        """SELECT min(doc_id) AS doc_id, sha256(text) AS content_hash,
          |  count(*) AS n_copies
          |FROM (SELECT doc_id, text FROM documents
          |      UNION ALL SELECT doc_id, text FROM documents)
          |GROUP BY sha256(text)
          |ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val d = Tables.documents(s, dir).select("doc_id", "text")
      d.unionAll(d)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "content_hash", "n_copies")
        .orderBy("doc_id")
    },

    Q(
      "q_dedup_near",
      "banded MinHash LSH: 16 portable minhashes in 4 bands of 4; the " +
        "self-join key is (band_id, band_key) so only same-signature " +
        "docs meet — candidate pairs, never all-pairs; est. Jaccard = " +
        "matching-minhash fraction (k/16 is dyadic, so the division is " +
        "float-exact in both engines)",
      Some(
        s"""WITH $minhashPairsSqlCte
           |SELECT doc_a, doc_b, est_jaccard FROM pairs
           |ORDER BY doc_a, doc_b""".stripMargin),
    ) { (s, dir) =>
      minhashPairs(s, dir).orderBy("doc_a", "doc_b")
    },

    Q(
      "q_dedup_rescored",
      "the production two-stage near-dedup: MinHash LSH generates " +
        "candidates (O(candidates), never all-pairs), then EXACT " +
        "3-gram Jaccard is recomputed on just those pairs — pair ids " +
        "shuffle first, the shingle payloads are fetched by two keyed " +
        "joins afterward (ids-then-payloads, the 100 TB move), and " +
        "the per-pair set intersection is array work on two already-" +
        "distinct shingle arrays. Estimates admit candidates; exact " +
        "scores decide — no LSH false positive survives",
      Some(
        s"""WITH $minhashPairsSqlCte,
           |scored AS (
           |  SELECT doc_a, doc_b,
           |    round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |      / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
           |  FROM pairs
           |  JOIN docs a ON a.doc_id = doc_a
           |  JOIN docs b ON b.doc_id = doc_b
           |)
           |SELECT doc_a, doc_b, jaccard FROM scored
           |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
    ) { (s, dir) =>
      val toks = split(lower(col("text")), " ", -1)
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 3)
      val jac = round(
        size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(array_union(col("sa"), col("sb"))), 6)
      // Ids-then-payloads: the candidate-pair ids land first, the
      // shingle arrays are built AFTER the joins — only docs actually
      // in a candidate pair pay the shingle materialization, not the
      // whole corpus twice. Both payload joins are UNHINTED: the
      // checkpoints give the planner real sizes so the candidate side
      // broadcasts locally, but on a dup-heavy 100 TB corpus the
      // candidate set outgrows an executor and the joins degrade to
      // (doc_id)-keyed shuffles — the join ORDER is the scale
      // guarantee here, never a forced broadcast (the q_cooccur /
      // q_lm_score degradation class).
      val pairs = minhashPairs(s, dir).select("doc_a", "doc_b")
        .localCheckpoint()
      pairs
        .join(t.select(col("doc_id").as("doc_a"), col("t").as("ta")), Seq("doc_a"))
        .join(t.select(col("doc_id").as("doc_b"), col("t").as("tb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          shingleCol(col("ta")).as("sa"), shingleCol(col("tb")).as("sb"))
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    },

    Q(
      "q_minhash_calibration",
      "MinHash estimator CALIBRATION: |est − exact| error histogram " +
        "over the LSH candidate pairs, with per-bucket admitted " +
        "(est ≥ 0.5) and confirmed (exact ≥ 0.5) counts — the " +
        "diagnostic that tells a pipeline whether 16 hashes are " +
        "enough before trusting banding at the next corpus. Same " +
        "candidate generation and ids-then-payloads rescore as " +
        "q_dedup_rescored (O(candidates), never all-pairs); the " +
        "histogram agg is 11-row-bounded. est is dyadic k/16 and " +
        "exact is one division of identical ints, so the bucket " +
        "floor sees identical doubles in both engines",
      Some(
        s"""WITH $minhashPairsSqlCte,
           |scored AS (
           |  SELECT est_jaccard,
           |    round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |      / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS exact_jaccard
           |  FROM pairs
           |  JOIN docs a ON a.doc_id = doc_a
           |  JOIN docs b ON b.doc_id = doc_b
           |)
           |SELECT CAST(floor(abs(est_jaccard - exact_jaccard) * 10) AS BIGINT) AS err_bucket,
           |  count(*) AS n_pairs,
           |  CAST(sum(CASE WHEN est_jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           |  CAST(sum(CASE WHEN exact_jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_confirmed
           |FROM scored GROUP BY err_bucket ORDER BY err_bucket""".stripMargin),
    ) { (s, dir) =>
      val toks = split(lower(col("text")), " ", -1)
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 3)
      val pairs = minhashPairs(s, dir)
        .select("doc_a", "doc_b", "est_jaccard")
        .localCheckpoint()
      pairs
        .join(t.select(col("doc_id").as("doc_a"), col("t").as("ta")), Seq("doc_a"))
        .join(t.select(col("doc_id").as("doc_b"), col("t").as("tb")), Seq("doc_b"))
        .select(col("est_jaccard"),
          shingleCol(col("ta")).as("sa"), shingleCol(col("tb")).as("sb"))
        .select(col("est_jaccard"),
          round(
            size(array_intersect(col("sa"), col("sb"))).cast("double")
              / size(array_union(col("sa"), col("sb"))), 6).as("exact_jaccard"))
        .select(
          floor(abs(col("est_jaccard") - col("exact_jaccard")) * 10)
            .cast("long").as("err_bucket"),
          col("est_jaccard"), col("exact_jaccard"))
        .groupBy("err_bucket")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L)).as("n_admitted"),
          sum(when(col("exact_jaccard") >= 0.5, 1L).otherwise(0L)).as("n_confirmed"))
        .orderBy("err_bucket")
    },

    Q(
      "q_dedup_cluster",
      "duplicate clustering: MinHash candidate pairs (est_jaccard ≥ " +
        "0.5) become edges; connected components via min-label " +
        "propagation to fixpoint — each round is ONE shuffle keyed by " +
        "doc_id and rounds are bounded by component diameter, which " +
        "for near-dup clusters is tiny; cluster_id = min doc_id is the " +
        "canonical survivor. The driver-side loop checks convergence " +
        "counts only — no data is collected; lineage is truncated per " +
        "round (localCheckpoint; at 100 TB, checkpoint to storage). " +
        "Oracle = DuckDB recursive CTE reaching the same fixpoint",
      Some(
        s"""WITH RECURSIVE $minhashPairsSqlCte,
           |${ccSqlCte()}
           |SELECT label AS cluster_id, count(*) AS n_docs,
           |  CAST(max(doc_id) AS BIGINT) AS max_doc_id
           |FROM final GROUP BY label
           |ORDER BY cluster_id""".stripMargin),
    ) { (s, dir) =>
      val pairs = minhashPairs(s, dir).filter(col("est_jaccard") >= CcEdgeThreshold)
      ccMinLabels(pairs)
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc_id"))
        .orderBy("cluster_id")
    },

    Q(
      "q_dedup_curve",
      "dedup-rate THRESHOLD CURVE: how much of the corpus each " +
        "est_jaccard cutoff {0.5, 0.75, 1.0} would remove — the " +
        "sensitivity sweep every dedup owner runs before committing " +
        "a threshold (too low merges distinct docs, too high leaves " +
        "near-dups; this is the curve that decides). ONE MinHash " +
        "candidate pass (checkpointed) feeds all three points — " +
        "candidates are generated once, the q_ann_recall_curve " +
        "one-pass-many-readouts discipline — and each point runs " +
        "min-label CC over its filtered edge set (rounds bounded by " +
        "component diameter; components REFINE as the threshold " +
        "rises, so the removed-count must be monotone non-increasing " +
        "— spec-pinned). n_removed = docs-in-clusters − clusters " +
        "(keep one canonical per component); dedup_rate divides by " +
        "the corpus count via one mirrored IEEE division. Oracle = " +
        "three suffixed recursive-CTE fixpoints over the shared " +
        "pairs CTE",
      Some {
        val cc3 = Seq(0.5, 0.75, 1.0).zipWithIndex.map { case (t, i) =>
          s"""e$i AS (
             |  SELECT doc_a AS src, doc_b AS dst FROM pairs
             |  WHERE est_jaccard >= $t
             |  UNION ALL
             |  SELECT doc_b, doc_a FROM pairs WHERE est_jaccard >= $t
             |), cc$i AS (
             |  SELECT DISTINCT src AS doc_id, src AS label FROM e$i
             |  UNION
             |  SELECT e.dst AS doc_id, cc$i.label
             |  FROM cc$i JOIN e$i e ON e.src = cc$i.doc_id
             |), f$i AS (
             |  SELECT doc_id, min(label) AS label FROM cc$i GROUP BY doc_id
             |), r$i AS (
             |  SELECT CAST($t AS DOUBLE) AS threshold,
             |    (SELECT CAST(count(*) AS BIGINT) FROM pairs
             |     WHERE est_jaccard >= $t) AS n_edges,
             |    CAST(count(*) AS BIGINT) AS n_dup_docs,
             |    CAST(count(DISTINCT label) AS BIGINT) AS n_clusters,
             |    CAST(count(*) - count(DISTINCT label) AS BIGINT) AS n_removed
             |  FROM f$i
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH RECURSIVE $minhashPairsSqlCte,
           |$cc3, n AS (SELECT count(*) AS nd FROM documents)
           |SELECT threshold, n_edges, n_dup_docs, n_clusters, n_removed,
           |  round(CAST(n_removed AS DOUBLE) / nd, 6) AS dedup_rate
           |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1
           |      UNION ALL SELECT * FROM r2) CROSS JOIN n
           |ORDER BY threshold""".stripMargin
      },
    ) { (s, dir) =>
      val pairs = minhashPairs(s, dir).localCheckpoint()
      val nDocs = Tables.documents(s, dir)
        .agg(count(lit(1)).as("nd"))
      val points = Seq(0.5, 0.75, 1.0).map { t =>
        val p = pairs.filter(col("est_jaccard") >= t)
        val edges = p.agg(count(lit(1)).as("n_edges"))
        ccMinLabels(p)
          .agg(count(lit(1)).as("n_dup_docs"),
            countDistinct(col("label")).as("n_clusters"),
            (count(lit(1)) - countDistinct(col("label"))).as("n_removed"))
          .crossJoin(broadcast(edges))
          .select(lit(t).as("threshold"), col("n_edges"), col("n_dup_docs"),
            col("n_clusters"), col("n_removed"))
      }
      points.reduce(_ unionByName _)
        .crossJoin(broadcast(nDocs))
        .select(col("threshold"), col("n_edges"), col("n_dup_docs"),
          col("n_clusters"), col("n_removed"),
          round(col("n_removed").cast("double") / col("nd"), 6)
            .as("dedup_rate"))
        .orderBy("threshold")
    },

    Q(
      "q_dedup_simhash",
      "SimHash near-dup over the distinct-token set: 60-bit signature " +
        "from hash bit balance; candidates via 15-bit chunk bands, " +
        "radius 3 = the 4-chunk pigeonhole's guaranteed-recall radius; " +
        "verify step is bit_count(xor) on the candidate set only " +
        "(set semantics: hamming 0 ⇔ near-identical token sets)",
      Some(
        s"""WITH tok AS (
           |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS w
           |  FROM documents
           |), h AS (
           |  SELECT doc_id, CAST('0x'||substr(md5(w),1,15) AS BIGINT) AS h FROM tok
           |), bits AS (
           |  SELECT doc_id, $simhashSqlBits FROM h GROUP BY doc_id
           |), sim AS (
           |  SELECT doc_id, $simhashSqlAssemble AS simhash FROM bits
           |), chunks AS (
           |  SELECT doc_id, simhash, j AS chunk_id,
           |    (simhash >> (15*j)) & 32767 AS chunk_val
           |  FROM sim, range($NumChunks) AS u(j)
           |)
           |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
           |  bit_count(xor(l.simhash, r.simhash)) AS hamming
           |FROM chunks l JOIN chunks r
           |  ON l.chunk_id = r.chunk_id AND l.chunk_val = r.chunk_val
           | AND l.doc_id < r.doc_id
           |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin),
    ) { (s, dir) =>
      // Fused native expression: the whole 60-bit signature per ROW
      // over the distinct-token array — the explode + 60-aggregate
      // shuffle the composed form needed is gone from the plan
      // entirely (SimHashSpec proves value equivalence against the
      // aggregate formulation). Same values; oracle unchanged.
      val sim = Tables.documents(s, dir)
        .select(col("doc_id"),
          array_distinct(split(lower(col("text")), " ", -1)).as("dt"))
        .select(col("doc_id"), SimHash60.simhash60("dt").as("simhash"))
      val chunkRows = (0 until NumChunks).map { j =>
        shiftright(col("simhash"), ChunkBits * j).bitwiseAND(lit(32767L))
      }
      val chunks = sim.select(col("doc_id"), col("simhash"),
        posexplode(array(chunkRows: _*)).as(Seq("chunk_id", "chunk_val")))
      val l = chunks.as("l")
      val r = chunks.as("r")
      val hamming = bit_count(col("l.simhash").bitwiseXOR(col("r.simhash")))
      l.join(r,
          col("l.chunk_id") === col("r.chunk_id")
            && col("l.chunk_val") === col("r.chunk_val")
            && col("l.doc_id") < col("r.doc_id"))
        .filter(hamming <= 3)
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
          hamming.cast("long").as("hamming"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    },

    Q(
      "q_hamming_join",
      "the NAIVE Hamming radius join — `ON bit_count(sig_a # sig_b) " +
        "<= 3 AND doc_a < doc_b`, no hand-banding — planned by the " +
        "graft.plans.HammingBandJoin optimizer rule as a pigeonhole " +
        "banded equi-join: the rule explodes r+1 disjoint 16-bit " +
        "bands per side, joins on (band, value), keeps one canonical " +
        "band match per pair, and re-applies the popcount verify. " +
        "Same pairs as q_dedup_simhash's HAND-banded plan, but the " +
        "user writes the declarative theta join and the PLANNER " +
        "supplies the blocking — the q_fuzzy_pairs story for Hamming " +
        "space. Without the rule this is a corpus² nested loop that " +
        "cannot hash-partition; with it, two map-side ×4 explodes " +
        "and one keyed shuffle (plan-pinned NestedLoop-free). The " +
        "oracle IS the naive quadratic semantics",
      Some(
        s"""WITH tok AS (
           |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS w
           |  FROM documents
           |), h AS (
           |  SELECT doc_id, CAST('0x'||substr(md5(w),1,15) AS BIGINT) AS h FROM tok
           |), bits AS (
           |  SELECT doc_id, $simhashSqlBits FROM h GROUP BY doc_id
           |), sim AS (
           |  SELECT doc_id, $simhashSqlAssemble AS simhash FROM bits
           |)
           |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
           |  CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
           |FROM sim l JOIN sim r ON l.doc_id < r.doc_id
           |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin),
    ) { (s, dir) =>
      val sim = Tables.documents(s, dir)
        .select(col("doc_id"),
          array_distinct(split(lower(col("text")), " ", -1)).as("dt"))
        .select(col("doc_id"), SimHash60.simhash60("dt").as("simhash"))
        .localCheckpoint() // both join sides read it
      val l = sim.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
      val r = sim.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
      l.join(r, expr("bit_count(sig_a ^ sig_b) <= 3")
          && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long")
            .as("hamming"))
        .orderBy("doc_a", "doc_b")
    },

    Q(
      "q_sql_hamming",
      "the SQL-TEXT face of the HammingBandJoin rule: the naive " +
        "Hamming radius join — signature build INCLUDED — written " +
        "as ONE ANSI string and executed through spark.sql over a " +
        "temp view, proving the pigeonhole-banding rule fires on " +
        "the parsed-SQL path exactly as on q_hamming_join's " +
        "DataFrame tree (the q_sql_jaccard contract; pinned " +
        "NestedLoop-free in HammingRuleSpec's sql-text test). The " +
        "whole pipeline is portable SQL: md5→60-bit int (conv here, " +
        "0x-cast in the oracle), the SAME dialect-neutral SimHash " +
        "bit arithmetic spliced into both engines from one Scala " +
        "value, bit_count over xor (^ here, xor() there). Runs on " +
        "the doc_id % 3 slice — the demonstration is the PLAN " +
        "(q_hamming_join already pays the full corpus); readout is " +
        "the bounded per-distance rollup",
      Some(
        s"""WITH tok AS (
           |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS w
           |  FROM documents WHERE doc_id % 3 = 0
           |), h AS (
           |  SELECT doc_id, CAST('0x'||substr(md5(w),1,15) AS BIGINT) AS h FROM tok
           |), bits AS (
           |  SELECT doc_id, $simhashSqlBits FROM h GROUP BY doc_id
           |), sim AS (
           |  SELECT doc_id, $simhashSqlAssemble AS simhash FROM bits
           |)
           |SELECT CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(l.doc_id + r.doc_id) AS BIGINT) AS id_checksum
           |FROM sim l JOIN sim r
           |  ON bit_count(xor(l.simhash, r.simhash)) <= 3 AND l.doc_id < r.doc_id
           |GROUP BY 1 ORDER BY hamming""".stripMargin),
    ) { (s, dir) =>
      Tables.documents(s, dir).createOrReplaceTempView("documents")
      s.sql(DedupOps.SqlHammingText)
    },

    Q(
      "q_dedup_incremental",
      "incremental dedup — the daily-batch production shape: the new " +
        "batch (docs ≥ 400) is cleaned against the base corpus by " +
        "content-hash LEFT ANTI join, then exact-deduped within " +
        "itself keeping the lowest doc_id. The base side ships only " +
        "its hash column (pruned at the scan); nothing ever " +
        "re-deduplicates the base against itself",
      Some(
        """WITH base AS (
          |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400
          |), batch AS (
          |  SELECT doc_id, lang, md5(text) AS h FROM documents WHERE doc_id >= 400
          |), survivors AS (
          |  SELECT doc_id, lang FROM (
          |    SELECT doc_id, lang,
          |      row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
          |    FROM batch WHERE h NOT IN (SELECT h FROM base)) WHERE rn = 1
          |)
          |SELECT lang, count(*) AS n_new FROM survivors
          |GROUP BY lang ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("doc_id") < 400)
        .select(md5(col("text")).as("h")).distinct()
      val batch = docs.filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
      val w = Window.partitionBy("h").orderBy("doc_id")
      batch.join(base, Seq("h"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("lang").agg(count(lit(1)).as("n_new"))
        .orderBy("lang")
    },

    Q(
      "q_dedup_near_incremental",
      "incremental NEAR-dedup — the daily-ingest twin of " +
        "q_dedup_incremental for non-exact duplicates: the base " +
        "corpus's MinHash bands are built ONCE and persisted " +
        "hive-partitioned by band_id (the q_ivf_layout layout trick " +
        "applied to the LSH index — amortized across every future " +
        "batch, and a probe lists only its band directories); the new " +
        "batch's bands join that index PLUS themselves on (band_id, " +
        "band_key), so candidates are only pairs touching the batch — " +
        "the base is never re-paired against itself; exact 3-gram " +
        "Jaccard re-scores just the candidates (ids-then-payloads, " +
        "the q_dedup_rescored shape, both payload joins unhinted). " +
        "Oracle = full-corpus near-dedup restricted to pairs whose " +
        "higher id is in the batch (batch ids follow base ids, so " +
        "doc_b >= split <=> the pair touches the batch)",
      Some(
        s"""WITH $minhashPairsSqlCte,
           |touch AS (
           |  SELECT doc_a, doc_b FROM pairs WHERE doc_b >= 400
           |), scored AS (
           |  SELECT doc_a, doc_b,
           |    round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |      / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
           |  FROM touch
           |  JOIN docs a ON a.doc_id = doc_a
           |  JOIN docs b ON b.doc_id = doc_b
           |)
           |SELECT doc_a, doc_b, jaccard FROM scored
           |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400)
      // The persisted base index: one band-keyed layout paid at
      // ingest; every daily batch reads it back instead of
      // re-sharding the (100 TB) base corpus.
      val idxDir = Scratch.dir()
      minhashBandsOf(s, base).select("doc_id", "band_id", "band_key")
        .write.partitionBy("band_id").parquet(idxDir)
      val baseIdx = s.read.parquet(idxDir)
        .select("doc_id", "band_id", "band_key")
      val batchBands = minhashBandsOf(s, batch)
        .select("doc_id", "band_id", "band_key")
        .localCheckpoint() // computed once, probed twice (index + self)
      // Left side = index ∪ batch, right side = batch only: with
      // batch ids above base ids, l.doc_id < r.doc_id yields exactly
      // the base–batch and batch–batch pairs — never base–base.
      val candIds = baseIdx.unionByName(batchBands).as("l")
        .join(batchBands.as("r"),
          col("l.band_id") === col("r.band_id")
            && col("l.band_key") === col("r.band_key")
            && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct()
        .localCheckpoint() // ids only — payloads fetched after
      val toksC = split(lower(col("text")), " ", -1)
      val sh = docs.select(col("doc_id"), toksC.as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), shingleCol(col("t")).as("sh"))
      val jac = round(
        size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(array_union(col("sa"), col("sb"))), 6)
      candIds
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    },

    Q(
      "q_dedup_cluster_incremental",
      "incremental duplicate-CLUSTER maintenance — the third " +
        "incremental dedup face (exact: q_dedup_incremental, near: " +
        "q_dedup_near_incremental, clusters: this): yesterday's " +
        "labels are compressed to label-STAR edges (doc → its " +
        "cluster's min-id canonical, one edge per labeled doc — " +
        "connectivity-equivalent to yesterday's full pair set but " +
        "|docs| edges instead of |pairs|, and star diameter 2 makes " +
        "the fixpoint converge in ~2 rounds regardless of how " +
        "stringy yesterday's clusters were), unioned with only the " +
        "batch-touching new pairs, and min-label propagation merges " +
        "them. The output is PROVABLY the full-corpus recompute — so " +
        "the oracle IS q_dedup_cluster's recursive-CTE SQL, and the " +
        "driver's hash compare is the incremental==batch equality " +
        "proof. In production yesterday's labels come from storage; " +
        "the base pair join here stands in for that read",
      Some(
        s"""WITH RECURSIVE $minhashPairsSqlCte,
           |${ccSqlCte()}
           |SELECT label AS cluster_id, count(*) AS n_docs,
           |  CAST(max(doc_id) AS BIGINT) AS max_doc_id
           |FROM final GROUP BY label
           |ORDER BY cluster_id""".stripMargin),
    ) { (s, dir) =>
      val pairs = minhashPairs(s, dir)
        .filter(col("est_jaccard") >= CcEdgeThreshold)
        .localCheckpoint() // split into yesterday/today below
      // Yesterday's state: labels over base-only pairs (production
      // reads these from the label table instead of recomputing).
      val baseLabels = ccMinLabels(
        pairs.filter(col("doc_b") < 400).select("doc_a", "doc_b"))
      // Star compression: every labeled doc hangs off its canonical.
      // label = min id of the component, so (label, doc) is ordered
      // (doc_a < doc_b) like every other pair edge.
      val starEdges = baseLabels
        .filter(col("doc_id") =!= col("label"))
        .select(col("label").as("doc_a"), col("doc_id").as("doc_b"))
      val newPairs = pairs.filter(col("doc_b") >= 400).select("doc_a", "doc_b")
      ccMinLabels(starEdges.unionAll(newPairs))
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc_id"))
        .orderBy("cluster_id")
    },

    Q(
      "q_substr_dup",
      "exact-substring duplication fraction (the Lee-et-al ExactSubstr " +
        "signal at char-20-gram granularity): every character 20-gram " +
        "is counted corpus-wide via one gram-keyed window, and each " +
        "doc reports the fraction of its grams that occur more than " +
        "once anywhere (including within-doc repeats) — the standard " +
        "cheap proxy for duplicated-span coverage. One gram-keyed " +
        "shuffle + one doc-keyed agg; a true suffix-array pass is the " +
        "exact-coverage upgrade at 100 TB, and the same max-df cap as " +
        "the shingle joins applies if stop-grams dominate",
      Some(
        """WITH g AS (
          |  SELECT doc_id, unnest(list_transform(range(length(text) - 19),
          |    p -> substr(text, p + 1, 20))) AS g
          |  FROM documents WHERE length(text) >= 20
          |), c AS (
          |  SELECT doc_id, count(*) OVER (PARTITION BY g) AS cnt FROM g
          |)
          |SELECT doc_id, count(*) AS n_grams,
          |  round(CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
          |    / count(*), 6) AS dup_frac
          |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      Tables.documents(s, dir)
        .filter(length(col("text")) >= 20)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), length(col("text")) - 19),
          p => col("text").substr(p, lit(20)))).as("g"))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          round(sum(when(col("cnt") > 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("dup_frac"))
        .orderBy("doc_id")
    },

    Q(
      "q_substr_sa",
      "exact-substring duplicated-character COVERAGE via a depth-20 " +
        "truncated suffix array — the exact Lee-et-al ExactSubstr " +
        "measure whose gram-count fraction q_substr_dup approximates: " +
        "every suffix, truncated to 20 chars, is range-partitioned " +
        "and sorted so duplicated 20-grams land ADJACENT (equal " +
        "truncated suffixes <=> LCP >= 20), a streaming per-partition " +
        "run scan emits duplicated positions with O(1) memory " +
        "and zero hash state (it holds only the run's first member " +
        "until a second proves duplication, so an adversarial " +
        "high-df gram cannot grow executor memory; ExternalSorter " +
        "spills linearly where the window-count proxy builds a " +
        "gram-keyed hash table), and " +
        "a doc-keyed interval union turns positions into exact " +
        "covered characters — two overlapping duplicated spans are " +
        "counted once, which the gram fraction cannot do. At 100 TB " +
        "the sort key is a fixed 20 bytes (hash-gram to 8 bytes if " +
        "the corpus is non-ASCII-heavy) and range boundaries come " +
        "from Spark's sampled RangePartitioner; per-partition DC3 " +
        "suffix sorting is the in-partition upgrade when the match " +
        "length must grow past what fixed-depth truncation carries",
      Some(
        s"""WITH $saIslandsSqlCte, agg AS (
           |  SELECT doc_id, CAST(sum(e - start) AS BIGINT) AS dup_chars
           |  FROM islands GROUP BY doc_id
           |)
           |SELECT d.doc_id, coalesce(a.dup_chars, CAST(0 AS BIGINT)) AS dup_chars,
           |  round(CAST(coalesce(a.dup_chars, CAST(0 AS BIGINT)) AS DOUBLE)
           |    / length(d.text), 6) AS dup_cov
           |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
           |WHERE length(d.text) >= 20
           |ORDER BY d.doc_id""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val perDoc = saIslands(s, docs)
        .groupBy("doc_id")
        .agg(sum(col("end") - col("start")).as("dup_chars"))
      docs.filter(length(col("text")) >= 20)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
          round(coalesce(col("dup_chars"), lit(0L)).cast("double")
            / col("n_chars"), 6).as("dup_cov"))
        .orderBy("doc_id")
    },

    Q(
      "q_substr_strip",
      "the ACTIONABLE half of ExactSubstr dedup: remove every " +
        "duplicated span q_substr_sa measures and emit the cleaned " +
        "corpus (kept/removed char counts + md5 of the cleaned text " +
        "— the hash keys the cleaned table a pipeline writes). " +
        "Aggressive boilerplate-strip semantics: a span duplicated " +
        "anywhere is removed EVERYWHERE including its first " +
        "occurrence (the C4-style template killer; keep-first is the " +
        "variant that seeds islands from a canonical copy only, same " +
        "machinery). The cut itself is gaps-between-islands: each " +
        "island row yields the preceding kept segment plus one tail " +
        "segment per doc, segments fetch text via a doc-keyed join " +
        "(never carried through the suffix sort), and the cleaned " +
        "text reassembles in one doc-keyed agg ordered by offset. " +
        "Everything downstream of the shared suffix-sort is bounded " +
        "by island counts, not corpus chars",
      Some(
        s"""WITH $saIslandsSqlCte, gaps AS (
           |  SELECT doc_id,
           |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY start), 0) AS f,
           |    start AS t
           |  FROM islands
           |  UNION ALL
           |  SELECT doc_id, max(e) AS f, NULL AS t FROM islands GROUP BY doc_id
           |), base AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
           |  FROM documents WHERE length(text) >= 20
           |), segs AS (
           |  SELECT g.doc_id, f, substr(text, CAST(f + 1 AS BIGINT),
           |    CAST(coalesce(t, n) - f AS BIGINT)) AS seg
           |  FROM gaps g JOIN base b ON g.doc_id = b.doc_id
           |  WHERE coalesce(t, n) > f
           |), kept AS (
           |  SELECT doc_id, string_agg(seg, '' ORDER BY f) AS kept
           |  FROM segs GROUP BY doc_id
           |), stripped AS (SELECT DISTINCT doc_id FROM islands)
           |SELECT b.doc_id,
           |  CAST(length(CASE WHEN s.doc_id IS NULL THEN b.text
           |    ELSE coalesce(k.kept, '') END) AS BIGINT) AS kept_chars,
           |  b.n - CAST(length(CASE WHEN s.doc_id IS NULL THEN b.text
           |    ELSE coalesce(k.kept, '') END) AS BIGINT) AS removed_chars,
           |  md5(CASE WHEN s.doc_id IS NULL THEN b.text
           |    ELSE coalesce(k.kept, '') END) AS kept_hash
           |FROM base b
           |LEFT JOIN kept k ON b.doc_id = k.doc_id
           |LEFT JOIN stripped s ON b.doc_id = s.doc_id
           |ORDER BY b.doc_id""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val islands = saIslands(s, docs)
      val wD = Window.partitionBy("doc_id").orderBy("start")
      val gaps = islands
        .select(col("doc_id"),
          coalesce(lag(col("end"), 1).over(wD), lit(0L)).as("f"),
          col("start").as("t"))
        .unionByName(islands.groupBy("doc_id")
          .agg(max(col("end")).as("f"))
          .withColumn("t", lit(null).cast("long")))
      val base = docs.filter(length(col("text")) >= 20)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n"))
      val segs = gaps.join(base, Seq("doc_id"))
        .withColumn("t2", coalesce(col("t"), col("n")))
        .filter(col("t2") > col("f"))
        .select(col("doc_id"), col("f"),
          col("text").substr((col("f") + 1).cast("int"),
            (col("t2") - col("f")).cast("int")).as("seg"))
      val kept = segs.groupBy("doc_id")
        .agg(concat_ws("",
          transform(array_sort(collect_list(struct(col("f"), col("seg")))),
            x => x.getField("seg"))).as("kept"))
      val strippedIds = islands.select("doc_id").distinct()
        .withColumn("strippedFlag", lit(1))
      val keptCol = when(col("strippedFlag").isNull, col("text"))
        .otherwise(coalesce(col("kept"), lit("")))
      base
        .join(kept, Seq("doc_id"), "left")
        .join(strippedIds, Seq("doc_id"), "left")
        .select(col("doc_id"),
          length(keptCol).cast("long").as("kept_chars"),
          (col("n") - length(keptCol).cast("long")).as("removed_chars"),
          md5(keptCol).as("kept_hash"))
        .orderBy("doc_id")
    },

    Q(
      "q_ngram_jaccard",
      "exact 3-gram Jaccard ≥ 0.5 via inverted-index join on shingle " +
        "(the classic candidate generator): |A∩B| from a keyed " +
        s"self-join, sizes joined back — never an all-pairs scan; df " +
        s"pruning guards the fan-out: shingles with df > $MaxShingleDf " +
        "(stop-shingles, identically dropped in the oracle) leave the " +
        "Jaccard universe, and df=1 shingles — which cannot intersect " +
        "anything — are pruned from the join input only, keeping the " +
        "similarity exact",
      Some(
        s"""WITH sh0 AS (
           |  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM (
           |    SELECT doc_id, $shingleSql AS shingles
           |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
           |    WHERE len(t) >= 3)
           |), sh AS (
           |  SELECT doc_id, shingle FROM (
           |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
           |    FROM sh0)
           |  WHERE df <= $MaxShingleDf
           |), sizes AS (
           |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
           |), inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id
           |)
           |SELECT doc_a, doc_b,
           |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = doc_a
           |JOIN sizes sb ON sb.doc_id = doc_b
           |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin),
    ) { (s, dir) =>
      // Pipeline: shingle-df window (its exchange IS the df
      // aggregation — one shingle-keyed shuffle, no extra pass) prunes
      // stop-shingles; then set sizes ride along as a doc_id window
      // over the pruned stream. The doc_id window's exchange is
      // load-bearing twice over, measured 3x end-to-end: (a) it
      // redistributes the exploded shingle stream across all executor
      // cores — without it the candidate join + pair agg inherit the
      // parquet scan's file-split count (1-2 partitions at bench SF)
      // and run nearly serial; (b) its doc_id hash partitioning
      // satisfies the pair aggregation's required distribution, so the
      // O(candidates) join output is aggregated in place and NEVER
      // shuffles — only the per-pair distinct survivors move. At bench
      // SF the planner broadcasts the build side (fine: estimate
      // follows the scan); at 100 TB the same plan degrades gracefully
      // to a shingle-keyed sort-merge join whose worst-case fan-out the
      // df cap bounds. df=1 shingles are dropped from the join input
      // AFTER n_sh is computed: they cannot appear in any intersection,
      // so the Jaccard values are untouched while the join sheds the
      // long unique-shingle tail (most of a real corpus).
      val sh = prunedShingles(Tables.documents(s, dir), MaxShingleDf)
        .withColumn("n_sh",
          count(lit(1)).over(Window.partitionBy("doc_id")))
      val joinSide = sh.filter(col("df") >= 2)
      val inter = joinSide.as("a")
        .join(joinSide.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common"),
          first(col("a.n_sh")).as("sa"), first(col("b.n_sh")).as("sb"))
      val jac = col("n_common").cast("double") /
        (col("sa") + col("sb") - col("n_common"))
      inter
        .filter(jac >= 0.5)
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    Q(
      "q_dedup_overlap",
      "overlap-coefficient dedup — |A∩B| / min(|A|,|B|) over the same " +
        "pruned 3-gram inverted index as q_ngram_jaccard: the " +
        "containment signal Jaccard misses (a short doc pasted inside " +
        "a long one scores ~|A|/|B| on Jaccard but 1.0 here). " +
        "Identical join/aggregation shape and df guards — O(shared " +
        "shingles) candidates, never all-pairs; only the " +
        "normalization differs, so the extra operator costs no new " +
        "shuffle machinery",
      Some(
        s"""WITH sh0 AS (
           |  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM (
           |    SELECT doc_id, $shingleSql AS shingles
           |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
           |    WHERE len(t) >= 3)
           |), sh AS (
           |  SELECT doc_id, shingle FROM (
           |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
           |    FROM sh0)
           |  WHERE df <= $MaxShingleDf
           |), sizes AS (
           |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
           |), inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id
           |)
           |SELECT doc_a, doc_b,
           |  CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS overlap
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = doc_a
           |JOIN sizes sb ON sb.doc_id = doc_b
           |WHERE CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.8
           |ORDER BY doc_a, doc_b""".stripMargin),
    ) { (s, dir) =>
      // Same load-bearing exchanges as q_ngram_jaccard (see its note):
      // shingle-df window prunes, doc_id window carries set sizes and
      // pre-distributes the pair agg.
      val sh = prunedShingles(Tables.documents(s, dir), MaxShingleDf)
        .withColumn("n_sh",
          count(lit(1)).over(Window.partitionBy("doc_id")))
      val joinSide = sh.filter(col("df") >= 2)
      val inter = joinSide.as("a")
        .join(joinSide.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common"),
          first(col("a.n_sh")).as("sa"), first(col("b.n_sh")).as("sb"))
      val oc = col("n_common").cast("double") / least(col("sa"), col("sb"))
      inter
        .filter(oc >= 0.8)
        .select(col("doc_a"), col("doc_b"), oc.as("overlap"))
        .orderBy("doc_a", "doc_b")
    },

    Q(
      "q_source_overlap",
      "cross-SOURCE contamination matrix: 3-gram-set Jaccard between " +
        "every source pair — the corpus-level diagnostic (which feeds " +
        "overlap which) that decides dedup ordering and split " +
        "assignment before any doc-level pass runs. Grams collapse to " +
        "DISTINCT (source, shingle) first, so a gram's join fan-out " +
        "is structurally ≤ #sources² — no df guard needed (vs the " +
        "doc-level ops, where df is unbounded); the pair agg output " +
        "is #sources² rows. Set sizes join back as a broadcast " +
        "(#sources rows). At 100 TB the only corpus-sized work is " +
        "the explode + distinct; everything after runs on the " +
        "source-collapsed stream",
      Some(
        s"""WITH g AS (
           |  SELECT DISTINCT source, unnest(shingles) AS shingle FROM (
           |    SELECT source, $shingleSql AS shingles
           |    FROM (SELECT source, string_split(lower(text), ' ') AS t FROM documents)
           |    WHERE len(t) >= 3)
           |), sizes AS (
           |  SELECT source, count(*) AS n_g FROM g GROUP BY source
           |), inter AS (
           |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
           |  FROM g a JOIN g b ON a.shingle = b.shingle AND a.source < b.source
           |  GROUP BY a.source, b.source
           |)
           |SELECT src_a, src_b, n_shared,
           |  round(CAST(n_shared AS DOUBLE)
           |    / (sa.n_g + sb.n_g - n_shared), 6) AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.source = src_a
           |JOIN sizes sb ON sb.source = src_b
           |ORDER BY src_a, src_b""".stripMargin),
    ) { (s, dir) =>
      val toks = split(lower(col("text")), " ")
      // Checkpointed: the corpus-sized explode+distinct is read three
      // times (both join sides + sizes) — one materialized pass
      // instead of three re-scans.
      val g = Tables.documents(s, dir)
        .select(col("source"), toks.as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("source"), explode(shingleCol(col("t"))).as("shingle"))
        .distinct()
        .localCheckpoint()
      val sizes = g.groupBy("source").agg(count(lit(1)).as("n_g"))
      val inter = g.as("a")
        .join(g.as("b"), col("a.shingle") === col("b.shingle") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n_g").as("na"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n_g").as("nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          round(col("n_shared").cast("double")
            / (col("na") + col("nb") - col("n_shared")), 6).as("jaccard"))
        .orderBy("src_a", "src_b")
    },

    Q(
      "q_dedup_bloom",
      "TWO-TIER incremental dedup: a mergeable bloom sketch of the " +
        "base corpus's content hashes (the q_join_bloom machinery, " +
        "shipped to every batch task as a scalar-subquery literal) " +
        "splits the new batch per row — bloom-negative docs are " +
        "PROVABLY new (no false negatives) and skip the join " +
        "entirely; only bloom-positive suspects anti-join the exact " +
        "base index, which removes the false positives. Same result " +
        "as q_dedup_incremental's full anti join — the oracle IS that " +
        "exact SQL — but at 100 TB the base's hash index never " +
        "shuffles against the ~unique bulk of the batch: the bloom " +
        "probe is per-row work against a ~MB broadcast and the " +
        "surviving join input shrinks to suspects (dup rate + FP " +
        "rate), the difference between re-shuffling the corpus daily " +
        "and touching it proportionally to actual duplication",
      Some(
        """WITH base AS (
          |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400
          |), batch AS (
          |  SELECT doc_id, lang, md5(text) AS h FROM documents WHERE doc_id >= 400
          |), survivors AS (
          |  SELECT doc_id, lang FROM (
          |    SELECT doc_id, lang,
          |      row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
          |    FROM batch WHERE h NOT IN (SELECT h FROM base)) WHERE rn = 1
          |)
          |SELECT lang, count(*) AS n_new FROM survivors
          |GROUP BY lang ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") < 400)
        .select(md5(col("text")).as("h")).distinct()
        .createOrReplaceTempView("bloom_dedup_base")
      docs.filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
        .createOrReplaceTempView("bloom_dedup_batch")
      s.sql(
        """WITH probed AS (
          |  SELECT doc_id, lang, h,
          |    bloom_might_contain(
          |      (SELECT bloom_agg(xxhash64(h)) FROM bloom_dedup_base),
          |      xxhash64(h)) AS maybe_dup
          |  FROM bloom_dedup_batch
          |), definite_new AS (
          |  SELECT doc_id, lang, h FROM probed WHERE NOT maybe_dup
          |), rescued AS (
          |  SELECT p.doc_id, p.lang, p.h
          |  FROM probed p LEFT ANTI JOIN bloom_dedup_base b ON p.h = b.h
          |  WHERE p.maybe_dup
          |), survivors AS (
          |  SELECT doc_id, lang FROM (
          |    SELECT doc_id, lang,
          |      row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
          |    FROM (SELECT * FROM definite_new UNION ALL SELECT * FROM rescued))
          |  WHERE rn = 1
          |)
          |SELECT lang, count(*) AS n_new FROM survivors
          |GROUP BY lang ORDER BY lang""".stripMargin)
    },

    Q(
      "q_fuzzy_join",
      "entity resolution by approximate string join: every customer " +
        "name is deterministically corrupted (the character at " +
        "md5-hash-mod-length is deleted) and the dirty names are " +
        "resolved back against the clean registry at edit distance " +
        "<= 1 via SymSpell deletion-neighborhood blocking — each side " +
        "emits len+1 join keys (itself plus every single-character " +
        "deletion), so candidates come from an EQUI-join on those " +
        "keys, never an all-pairs cross join with an edit-distance " +
        "predicate (which no engine can hash-partition). The " +
        "pigeonhole argument is exact for d=1: an insertion, " +
        "deletion, or substitution always leaves one shared key, so " +
        "blocking recall is 100% and the codegen'd levenshtein " +
        "verify only prunes key-collision false positives. Per dirty " +
        "name the best match (lexicographically first at min " +
        "distance) and candidate count are picked by one keyed " +
        "window. At 100 TB the dirty stream never cross-joins the " +
        "registry: keys fan out x(len+1) map-side, the join is a " +
        "plain keyed shuffle (or broadcast when the clean registry " +
        "is a bounded dictionary), and per-key fan-out is capped by " +
        "the alphabet — the oracle, by contrast, IS the quadratic " +
        "brute force, which is exactly the plan shape this operator " +
        "exists to avoid",
      Some(
        """WITH c AS (SELECT c_custkey, c_name FROM customer),
          |dirty AS (
          |  SELECT c_custkey AS src_key, c_name AS orig,
          |    substr(c_name, 1, CAST(pos - 1 AS INT))
          |      || substr(c_name, CAST(pos + 1 AS INT), length(c_name)) AS dirty
          |  FROM (
          |    SELECT c_custkey, c_name,
          |      CAST('0x' || substr(md5(c_name), 1, 15) AS BIGINT)
          |        % length(c_name) + 1 AS pos
          |    FROM c)
          |), cand AS (
          |  SELECT d.src_key, d.dirty, d.orig, c.c_name
          |  FROM dirty d JOIN c ON levenshtein(d.dirty, c.c_name) <= 1
          |)
          |SELECT src_key, dirty, c_name AS matched, n_cand,
          |  CAST(CASE WHEN c_name = orig THEN 1 ELSE 0 END AS BIGINT) AS hit
          |FROM (
          |  SELECT src_key, dirty, orig, c_name,
          |    row_number() OVER (PARTITION BY src_key ORDER BY c_name) AS rn,
          |    count(*) OVER (PARTITION BY src_key) AS n_cand
          |  FROM cand)
          |WHERE rn = 1 ORDER BY src_key""".stripMargin),
    ) { (s, dir) =>
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
      val pos = (pmod(Portable.md5Hash60(col("c_name")),
        length(col("c_name")).cast("long")) + 1L).cast("int")
      val dirty = c.select(
        col("c_custkey").as("src_key"), col("c_name").as("orig"),
        concat(col("c_name").substr(lit(1), pos - 1),
          col("c_name").substr(pos + 1, length(col("c_name")))).as("dirty"))
      val dirtyKeys = dirty.select(col("src_key"), col("orig"), col("dirty"),
        explode(delNeighborhood(col("dirty"))).as("k"))
      val cleanKeys = c.select(col("c_name"),
        explode(delNeighborhood(col("c_name"))).as("k"))
      val cands = dirtyKeys.join(cleanKeys, "k")
        .select("src_key", "orig", "dirty", "c_name").distinct()
        .filter(levenshtein(col("dirty"), col("c_name")) <= 1)
      val byKey = Window.partitionBy("src_key")
      cands
        .withColumn("rn", row_number().over(byKey.orderBy(col("c_name"))))
        .withColumn("n_cand", count(lit(1)).over(byKey))
        .filter(col("rn") === 1)
        .select(col("src_key"), col("dirty"), col("c_name").as("matched"),
          col("n_cand"),
          when(col("c_name") === col("orig"), 1L).otherwise(0L).as("hit"))
        .orderBy("src_key")
    },
    Q(
      "q_fuzzy_pairs",
      "the DECLARATIVE face of q_fuzzy_join: near-identical catalog " +
        "name pairs written as the naive theta join " +
        "`JOIN ON levenshtein(a, b) <= 1 AND a < b` — a condition " +
        "with no equi keys that Spark can only nested-loop — and " +
        "planned scalably by the engine's FuzzyJoinBlocking " +
        "optimizer rule (SparkSessionExtensions-injected), which " +
        "rewrites it to the deletion-neighborhood equi-join with the " +
        "original predicate re-applied as the verify and a canonical " +
        "shared-key filter preserving pair multiplicity. The user " +
        "writes WHAT (an edit-distance join); the optimizer owns HOW " +
        "— exactly the declarative contract every other operator " +
        "gets from Catalyst's built-in rules, extended to a " +
        "predicate class Catalyst has no strategy for. " +
        "No-nested-loop is plan-pinned (here and in FuzzyRuleSpec, " +
        "which also pins rule-off == rule-on row equality); at 100 " +
        "TB the blocked form is a plain keyed shuffle with " +
        "alphabet-capped fan-out per key",
      Some(
        """WITH n AS (SELECT DISTINCT p_name FROM part)
          |SELECT a.p_name AS name_a, b.p_name AS name_b
          |FROM n a JOIN n b
          |  ON levenshtein(a.p_name, b.p_name) <= 1 AND a.p_name < b.p_name
          |ORDER BY name_a, name_b""".stripMargin),
    ) { (s, dir) =>
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
      names.select(col("p_name").as("name_a"))
        .join(names.select(col("p_name").as("name_b")),
          levenshtein(col("name_a"), col("name_b")) <= 1
            && col("name_a") < col("name_b"))
        .orderBy("name_a", "name_b")
    },
    Q(
      "q_fuzzy_pairs2",
      "q_fuzzy_pairs at EDIT DISTANCE 2 — the threshold entity " +
        "resolution on real registries actually needs (two typos, a " +
        "transposition plus a slip). Same naive theta-join spelling " +
        "`JOIN ON levenshtein(a, b) <= 2 AND a < b`, planned by the " +
        "SAME FuzzyJoinBlocking rule, now via the SymSpell delete-2 " +
        "neighborhood: if lev(a,b) <= 2 the two sides share a key " +
        "among their delete-<=2 strings (delete the chars an optimal " +
        "alignment's edits consume on each side — both land on the " +
        "alignment's common subsequence), verify re-applied, " +
        "canonical min-shared-key filter preserving multiplicity. " +
        "Fan-out is ~L^2/2 keys per name (vs L+1 at d=1) — the keyed-" +
        "join SHAPE is unchanged, only the constant grows, which is " +
        "the point: d=2 entity resolution stays one hash shuffle at " +
        "100 TB where the nested loop is |L|x|R|. The pair rollup " +
        "(count + checksum) keeps output bounded while verifying the " +
        "pair SET; exhaustive small-universe recall is spec-proven in " +
        "FuzzyRuleSpec; for document-scale strings the L^2 constant " +
        "is the wrong tool — that is the MinHash family's territory",
      Some(
        """WITH n AS (SELECT DISTINCT p_name FROM part)
          |SELECT CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS ed,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  CAST(sum(length(a.p_name) + length(b.p_name)) AS BIGINT)
          |    AS len_checksum
          |FROM n a JOIN n b
          |  ON levenshtein(a.p_name, b.p_name) <= 2 AND a.p_name < b.p_name
          |GROUP BY ed ORDER BY ed""".stripMargin),
    ) { (s, dir) =>
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
      names.select(col("p_name").as("name_a"))
        .join(names.select(col("p_name").as("name_b")),
          levenshtein(col("name_a"), col("name_b")) <= 2
            && col("name_a") < col("name_b"))
        .select(levenshtein(col("name_a"), col("name_b")).cast("long")
          .as("ed"), col("name_a"), col("name_b"))
        .groupBy("ed")
        .agg(count(lit(1)).as("n_pairs"),
          sum(length(col("name_a")) + length(col("name_b"))).cast("long")
            .as("len_checksum"))
        .orderBy("ed")
    },
    Q(
      "q_sql_fuzzy",
      "the SQL-TEXT face of the FuzzyJoinBlocking rule: the naive " +
        "edit-distance join written as ONE ANSI string and executed " +
        "through spark.sql over a temp view — proving the SymSpell " +
        "deletion-neighborhood rule fires on the parsed-SQL path " +
        "exactly as on q_fuzzy_pairs' DataFrame tree (the " +
        "q_sql_jaccard contract; pinned NestedLoop-free in " +
        "FuzzyRuleSpec's sql-text test). levenshtein spells " +
        "identically in both dialects, so the oracle is " +
        "near-verbatim — the closest the rule family gets to the " +
        "q_sql_q1 byte-identical contract. Readout is the bounded " +
        "per-initial pair rollup (the pair SET itself is " +
        "q_fuzzy_pairs' output)",
      Some(DedupOps.SqlFuzzyText),
    ) { (s, dir) =>
      Tables.part(s, dir).createOrReplaceTempView("part")
      s.sql(DedupOps.SqlFuzzyText)
    },
    Q(
      "q_overlap_join",
      "the DECLARATIVE face of token-overlap similarity: document " +
        "pairs sharing ≥ 28 distinct tokens, written as the naive " +
        "theta join `JOIN ON size(array_intersect(a, b)) >= 28 AND " +
        "doc_a < doc_b` — no equi keys, so Spark alone can only " +
        "nested-loop it — and planned scalably by the engine's " +
        "OverlapJoinBlocking optimizer rule (the third declarative-" +
        "scale rule beside FuzzyJoinBlocking and HammingBandJoin): " +
        "the AllPairs/PPJoin prefix filter turns it into a token-" +
        "keyed equi-join (if |A∩B| ≥ T the sorted (|s|−T+1)-prefixes " +
        "must share a token), original predicate re-applied as the " +
        "verify, canonical shared-token filter preserving pair " +
        "multiplicity with no distinct shuffle. The rollup by shared-" +
        "token count keeps output bounded while the id checksum " +
        "verifies the pair SET. NestedLoop-free is plan-pinned (here " +
        "and in OverlapRuleSpec, which also pins brute-force " +
        "equality and the scope guards). At 100 TB the blocked form " +
        "is ONE token-keyed shuffle, AQE-skew-splittable — pruning " +
        "strength scales with vocabulary skew (this synthetic " +
        "31-token vocab is its worst case; production orders tokens " +
        "by ascending df, the documented stats-informed refinement)",
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, list_distinct(list_filter(
           |    string_split(lower(text), ' '), x -> x <> '')) AS toks
           |  FROM documents
           |), p AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    len(list_intersect(a.toks, b.toks)) AS n_shared
           |  FROM t a JOIN t b ON a.doc_id < b.doc_id
           |    AND len(list_intersect(a.toks, b.toks)) >= $OverlapJoinT
           |)
           |SELECT CAST(n_shared AS BIGINT) AS n_shared,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(doc_a + doc_b) AS BIGINT) AS id_checksum
           |FROM p GROUP BY n_shared ORDER BY n_shared""".stripMargin),
    ) { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"),
        array_distinct(expr("filter(split(lower(text), ' '), x -> x <> '')"))
          .as("toks"))
      val a = d.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
      val b = d.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
      a.join(b,
        size(array_intersect(col("toks_a"), col("toks_b")))
          >= lit(OverlapJoinT)
          && col("doc_a") < col("doc_b"))
        .select(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("long")
            .as("n_shared"),
          col("doc_a"), col("doc_b"))
        .groupBy("n_shared")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("doc_a") + col("doc_b")).as("id_checksum"))
        .orderBy("n_shared")
    },

    Q(
      "q_jaccard_join",
      "the RELATIVE-threshold similarity join real dedup pipelines " +
        "write — `JOIN ON size(array_intersect(a,b)) >= 0.875 * " +
        "size(array_union(a,b))` — planned by OverlapJoinBlocking's " +
        "PPJoin face (Xiao et al. 2008): PER-ROW prefix lengths " +
        "n − ⌈t·n⌉ + 1 (a near-duplicate pair must share a token " +
        "within each side's first (1−t)-fraction under the global " +
        "order) plus the exact LENGTH filter |B| ≥ ⌈t·|A|⌉ pruning " +
        "candidates before any set build, original predicate as the " +
        "verify, canonical min-token dedup preserving multiplicity. " +
        "t = 0.875 = 7/8 is dyadic, so Spark's double arithmetic and " +
        "DuckDB's exact decimal agree bit-for-bit at every tie (the " +
        "q_phash_dup convention). The (n_shared, n_union) rollup " +
        "keeps output bounded while the id checksum verifies the " +
        "pair SET. NestedLoop-free is pinned here and in " +
        "OverlapRuleSpec (both spellings, strict/inclusive, the ∅-∅ " +
        "sentinel, t-range passthrough guards). At 100 TB: one " +
        "token-keyed shuffle whose fan-out is the (1−t)-prefix — at " +
        "t = 0.875 that is ~1/8 of q_overlap_join's per-row cost — " +
        "AQE-skew-splittable, never all-pairs",
      Some(
        """WITH t AS (
          |  SELECT doc_id, list_distinct(list_filter(
          |    string_split(lower(text), ' '), x -> x <> '')) AS toks
          |  FROM documents
          |), p AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |    len(list_intersect(a.toks, b.toks)) AS n_shared,
          |    len(list_distinct(list_concat(a.toks, b.toks))) AS n_union
          |  FROM t a JOIN t b ON a.doc_id < b.doc_id
          |    AND len(list_intersect(a.toks, b.toks))
          |        >= 0.875 * len(list_distinct(list_concat(a.toks, b.toks)))
          |)
          |SELECT CAST(n_shared AS BIGINT) AS n_shared,
          |  CAST(n_union AS BIGINT) AS n_union,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  CAST(sum(doc_a + doc_b) AS BIGINT) AS id_checksum
          |FROM p GROUP BY n_shared, n_union
          |ORDER BY n_shared, n_union""".stripMargin),
    ) { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"),
        array_distinct(expr("filter(split(lower(text), ' '), x -> x <> '')"))
          .as("toks"))
      val a = d.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
      val b = d.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
      a.join(b,
        size(array_intersect(col("toks_a"), col("toks_b")))
          >= lit(0.875) * size(array_union(col("toks_a"), col("toks_b")))
          && col("doc_a") < col("doc_b"))
        .select(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("long")
            .as("n_shared"),
          size(array_union(col("toks_a"), col("toks_b"))).cast("long")
            .as("n_union"),
          col("doc_a"), col("doc_b"))
        .groupBy("n_shared", "n_union")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("doc_a") + col("doc_b")).as("id_checksum"))
        .orderBy("n_shared", "n_union")
    },

    Q(
      "q_sql_jaccard",
      "the SQL-TEXT face of the OverlapJoinBlocking rule family: the " +
        "naive relative-Jaccard join written as ONE ANSI string and " +
        "executed through spark.sql over a temp view — proving the " +
        "optimizer rule fires on the parsed-SQL path exactly as on " +
        "DataFrame trees (same analyzer output, pinned NestedLoop-" +
        "free in OverlapRuleSpec's sql-text test). The 0.875 literal " +
        "parses as DECIMAL here, exercising the exact-decimal α/α₂ " +
        "arithmetic rather than the DataFrame twin's dyadic double. " +
        "Runs on the doc_id % 10 slice — the demonstration is the " +
        "PLAN (q_jaccard_join already pays the full corpus); array " +
        "function names differ across engines (size/array_intersect " +
        "vs len/list_intersect), so unlike q_sql_q1 the oracle is " +
        "the DuckDB-dialect twin, not the identical bytes",
      Some(
        """WITH t AS (
          |  SELECT doc_id, list_distinct(list_filter(
          |    string_split(lower(text), ' '), x -> x <> '')) AS toks
          |  FROM documents WHERE doc_id % 10 = 0
          |), p AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |    len(list_intersect(a.toks, b.toks)) AS n_shared,
          |    len(list_distinct(list_concat(a.toks, b.toks))) AS n_union
          |  FROM t a JOIN t b ON a.doc_id < b.doc_id
          |    AND len(list_intersect(a.toks, b.toks))
          |        >= 0.875 * len(list_distinct(list_concat(a.toks, b.toks)))
          |)
          |SELECT CAST(n_shared AS BIGINT) AS n_shared,
          |  CAST(n_union AS BIGINT) AS n_union,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  CAST(sum(doc_a + doc_b) AS BIGINT) AS id_checksum
          |FROM p GROUP BY n_shared, n_union
          |ORDER BY n_shared, n_union""".stripMargin),
    ) { (s, dir) =>
      Tables.documents(s, dir).createOrReplaceTempView("documents")
      s.sql(DedupOps.SqlJaccardText)
    },

    Q(
      "q_jaccard_incremental",
      "incremental EXACT-Jaccard dedup — the daily-ingest face of " +
        "q_jaccard_join (the q_dedup_near_incremental pattern, but " +
        "with PPJoin's exact machinery instead of MinHash recall): " +
        "the base corpus's prefix index — (doc_id, len, pos, token) " +
        "per sorted-distinct (1−t)-prefix slot — is built ONCE and " +
        "persisted; each batch explodes only ITS prefixes and joins " +
        "the index plus itself on the token, so the base is never " +
        "re-paired against history. All three PPJoin filters apply " +
        "per candidate copy in exact integer arithmetic (α = " +
        "(7n+7) div 8 and α₂ = (7(la+lb)+14) div 15 for t = 7/8): " +
        "the per-pair LENGTH filter, the POSITIONAL filter on the " +
        "carried (pos, len), then an id-level distinct (ids-then-" +
        "payloads, both payload joins unhinted) and ONE exact " +
        "verify per candidate pair. Oracle = the full-corpus naive " +
        "join restricted to pairs whose higher id is in the batch; " +
        "JaccardIncrementalSpec pins batch+base ≡ full recompute. " +
        "At 100 TB: the index explode is paid once at ingest, " +
        "amortized over every future batch; per-day cost scales " +
        "with batch × collision width, never base². The split is " +
        "the top decile of ids (a daily batch is a sliver of " +
        "history — the fixed-400 sibling splits would make the " +
        "batch 92% of the sf0.1 corpus, the opposite shape)",
      Some(
        """WITH s AS (
          |  SELECT (9 * (max(doc_id) + 1)) // 10 AS split FROM documents
          |), t AS (
          |  SELECT doc_id, list_distinct(list_filter(
          |    string_split(lower(text), ' '), x -> x <> '')) AS toks
          |  FROM documents
          |), p AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |    len(list_intersect(a.toks, b.toks)) AS n_shared,
          |    len(list_distinct(list_concat(a.toks, b.toks))) AS n_union
          |  FROM t a JOIN t b ON a.doc_id < b.doc_id
          |    AND b.doc_id >= (SELECT split FROM s)
          |    AND len(list_intersect(a.toks, b.toks))
          |        >= 0.875 * len(list_distinct(list_concat(a.toks, b.toks)))
          |)
          |SELECT CAST(n_shared AS BIGINT) AS n_shared,
          |  CAST(n_union AS BIGINT) AS n_union,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  CAST(sum(doc_a + doc_b) AS BIGINT) AS id_checksum
          |FROM p GROUP BY n_shared, n_union
          |ORDER BY n_shared, n_union""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        array_distinct(expr("filter(split(lower(text), ' '), x -> x <> '')"))
          .as("toks"))
        .localCheckpoint() // read for index build, batch index, payloads
      // 1-row aggregate probe (bounded driver read): the top-decile
      // id split both engines compute identically.
      val split = 9L * (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) / 10L
      DedupOps.jaccardIncremental(s,
        docs.filter(col("doc_id") < split),
        docs.filter(col("doc_id") >= split),
        docs)
    },

    Q(
      "q_jaccard_shingle",
      "exact relative-Jaccard dedup at CHARACTER-SHINGLE granularity " +
        "— the PPJoin+ suffix filter's DESIGNED regime: distinct " +
        "char-4-gram sets (~180 shingles/doc vs the word face's ~28) " +
        "through the SAME naive `|A∩B| >= 0.875·|A∪B|` spelling and " +
        "the same OverlapJoinBlocking rule, whose plan-time " +
        "median-set-size probe now sees ~360 combined tokens and " +
        "EMITS the suffix-partition conjunct that the dense word " +
        "corpus correctly gates OFF (the probe decision both ways is " +
        "OverlapRuleSpec-pinned; a per-row gate instead of the probe " +
        "measured a 15% regression on the word face — BENCH.md). " +
        "Corpus = the doc_id % 50 slice ∪ planted first-char-" +
        "perturbed twins (the q_cos_join fixture pattern: a one-char " +
        "substitution moves exactly one 4-gram, J >= (n-1)/(n+1) ~ " +
        "0.99, so every twin pair qualifies at every SF and the " +
        "oracle's naive quadratic stays affordable). At 100 TB " +
        "shingle sets are where exact-Jaccard verify volume lives " +
        "(longer sets, rarer prefix tokens, fewer but costlier " +
        "candidates) — the suffix bound prunes candidates before the " +
        "180-compare merge walk the word face never needs",
      Some(
        """WITH base AS (
          |  SELECT doc_id, lower(text) AS lt FROM documents
          |  WHERE doc_id % 50 = 0
          |), twins AS (
          |  SELECT doc_id + 100000 AS doc_id, '#' || substr(lt, 2) AS lt
          |  FROM base
          |), t AS (
          |  SELECT doc_id, list_distinct(list_transform(
          |    range(1, greatest(strlen(lt) - 2, 2)),
          |    i -> substr(lt, i, 4))) AS toks
          |  FROM (SELECT * FROM base UNION ALL SELECT * FROM twins)
          |)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_shared,
          |  CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT)
          |    AS n_union
          |FROM t a JOIN t b
          |  ON len(list_intersect(a.toks, b.toks))
          |     >= 0.875 * len(list_distinct(list_concat(a.toks, b.toks)))
          | AND a.doc_id < b.doc_id
          |ORDER BY doc_a, doc_b""".stripMargin),
    ) { (s, dir) =>
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), lower(col("text")).as("lt"))
      val twins = base.select((col("doc_id") + lit(100000L)).as("doc_id"),
        concat(lit("#"), expr("substring(lt, 2)")).as("lt"))
      val t = base.unionByName(twins)
        .select(col("doc_id"),
          array_distinct(expr(
            "transform(sequence(1, greatest(length(lt) - 3, 1)), " +
              "i -> substring(lt, i, 4))")).as("toks"))
        .localCheckpoint() // both join sides + the plan-time probe
      val a = t.select(col("doc_id").as("doc_a"), col("toks").as("ta"))
      val b = t.select(col("doc_id").as("doc_b"), col("toks").as("tb"))
      a.join(b, size(array_intersect(col("ta"), col("tb")))
          >= lit(0.875) * size(array_union(col("ta"), col("tb")))
          && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("ta"), col("tb"))).cast("long")
            .as("n_shared"),
          size(array_union(col("ta"), col("tb"))).cast("long")
            .as("n_union"))
        .orderBy("doc_a", "doc_b")
    },

    Q(
      "q_entity_dedup",
      "END-TO-END entity resolution: fuzzy pair generation (SymSpell " +
        "deletion-neighborhood equi-join at edit distance <= 1 over " +
        "distinct catalog names — q_fuzzy_pairs' machinery) feeds " +
        "connected components (ccMinLabels min-label propagation), " +
        "and every name cluster canonicalizes to its " +
        "lexicographically-first member — the full dedupe-the-" +
        "registry pass master-data pipelines run, composed from two " +
        "operators this engine already proves separately. Chains " +
        "resolve transitively: names at ED 2 through a shared ED-1 " +
        "neighbor land in ONE cluster, which is exactly what pairwise " +
        "matching alone cannot do. Output: canonical name, cluster " +
        "size, members (sorted, joined). Scale: blocking is the " +
        "keyed fan-out join (never all-pairs), CC rounds are bounded " +
        "by cluster diameter (tiny for typo clusters — the " +
        "web-graph twin is q_cc_star's pointer jumping); oracle = " +
        "brute-force pairs + the recursive-CTE fixpoint",
      Some(
        """WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
          |prs AS (
          |  SELECT a.p_name AS na, b.p_name AS nb
          |  FROM n a JOIN n b
          |    ON levenshtein(a.p_name, b.p_name) <= 1 AND a.p_name < b.p_name
          |), edges AS (
          |  SELECT na AS src, nb AS dst FROM prs
          |  UNION ALL SELECT nb, na FROM prs
          |), cc AS (
          |  SELECT DISTINCT src AS nm, src AS label FROM edges
          |  UNION
          |  SELECT e.dst, cc.label FROM cc JOIN edges e ON e.src = cc.nm
          |), final AS (
          |  SELECT nm, min(label) AS label FROM cc GROUP BY nm
          |)
          |SELECT label AS canonical, count(*) AS n_members,
          |  string_agg(nm, '|' ORDER BY nm) AS members
          |FROM final GROUP BY label ORDER BY canonical""".stripMargin),
    ) { (s, dir) =>
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
      val keyed = names.select(col("p_name"),
        explode(delNeighborhood(col("p_name"))).as("k"))
      val pairs = keyed.select(col("p_name").as("na"), col("k"))
        .join(keyed.select(col("p_name").as("nb"), col("k")), "k")
        .filter(col("na") < col("nb"))
        .select("na", "nb").distinct()
        .filter(levenshtein(col("na"), col("nb")) <= 1)
        .select(col("na").as("doc_a"), col("nb").as("doc_b"))
      ccMinLabels(pairs)
        .groupBy(col("label").as("canonical"))
        .agg(count(lit(1)).as("n_members"),
          concat_ws("|", array_sort(collect_list(col("doc_id"))))
            .as("members"))
        .orderBy("canonical")
    },
  )

  /** SymSpell d=1 blocking keys of a string: the string itself plus
    * every single-character deletion (len+1 keys, deduped). Any two
    * strings at edit distance <= 1 share at least one key: an insert
    * (delete the inserted char on the longer side), a delete (the
    * shorter side IS a key of the longer), or a substitution (delete
    * the substituted position on both sides). Pure codegen'd
    * higher-order functions — no UDF, no shuffle. */
  private[graft] def delNeighborhood(c: Column): Column =
    array_distinct(concat(array(c),
      transform(sequence(lit(1), length(c)),
        i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c))))))
}

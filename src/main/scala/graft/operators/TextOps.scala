package graft.operators

import graft.{Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the corpus-statistics
  * surface of a training-data pipeline (language ID, quality scoring,
  * token accounting, n-grams, fingerprinting).
  *
  * Scale stance: everything here is scan → per-row expression work →
  * one keyed aggregation; no operator shuffles more than (groups) or
  * (vocabulary) rows. The marker table for language ID is a literal
  * dimension broadcast to every executor.
  *
  * Corpus caveat, stated openly: the synthetic `documents.text` draws
  * the SAME 31-token vocabulary for every `lang` label, so
  * content-based language ID cannot genuinely discriminate here. The
  * q_lang_id query is the real machinery (marker profiles → broadcast
  * join → per-doc argmax) with profiles chosen from the actual vocab
  * so scores are nonzero; on real multilingual data only the marker
  * table changes.
  */
object TextOps {

  /** Marker-token profiles per candidate language (see caveat above). */
  private val Markers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "value",
    "de" -> "hash", "de" -> "join", "de" -> "group",
    "es" -> "data", "es" -> "line", "es" -> "part",
    "fr" -> "query", "fr" -> "window", "fr" -> "order",
    "zh" -> "vector", "zh" -> "stream", "zh" -> "batch",
  )
  private val Langs = Markers.map(_._1).distinct.sorted

  private val toks = split(lower(col("text")), " ", -1)

  /** Code points of `text` other than the space: the "other" bucket of
    * a one-character `char_counts` histogram. */
  private val nonSpaceChars =
    element_at(call_function("char_counts", col("text"), lit(" ")), 2)

  /** Max document frequency a 5-gram may have before it is treated as
    * a stop-gram and excluded from decontamination matching. Same
    * rationale as [[DedupOps.MaxShingleDf]]: a stop-gram makes the
    * test←train candidate join quadratic in its df. Spliced into the
    * oracle SQL so both engines prune identically.
    */
  private[graft] val MaxGramDf = 1000L

  /** Champion-list depth for q_lexical_knn: each term's posting list
    * is truncated to its top-K docs by (tf DESC, doc_id) before the
    * pair join. Within one term df and the corpus size are constants,
    * so ranking by tf is EXACTLY ranking by tf·idf — the pruning
    * order is pure-integer and float noise can never flip which
    * postings survive. Spliced into the oracle so both engines prune
    * identically. */
  private[graft] val ChampK = 64

  /** q_lexical_knn's champion lists: each term's top [[ChampK]]
    * postings by (tf DESC, doc_id). */
  private val ChampList = Knn.Rank(Knn.desc("tf"), "doc_id", ChampK, "rk", "term")

  /** Per-lang sample size q_ppl_buckets fits its tercile cutoffs on.
    * CCNet fits its perplexity-bucket thresholds on a sample too: the
    * cutoff fit is the only ranked computation, and capping it keeps
    * the per-lang rank window K-bounded no matter how large the
    * corpus is (an uncapped per-lang NTILE would sort every document
    * of a language inside ONE window partition). 64 < the ~100
    * docs/lang at the sf0.01 gate, so the sampled-cutoff branch is
    * genuinely exercised, not just the sample=corpus happy path.
    * Spliced into the oracle so both engines fit on the same docs. */
  private[graft] val PplSampleK = 64

  /** Shared CTE chain computing `docll(doc_id, n_bigrams, avg_ll)` —
    * the per-doc bigram-LM score of q_lm_score, reused verbatim by
    * q_ppl_buckets so the score definition cannot drift between the
    * two oracles. Mirrors [[lmDocLL]] exactly. */
  private[graft] val LmDocCtes: String =
    """tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), bi AS (
      |  SELECT doc_id, string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2 FROM (
      |    SELECT doc_id, unnest(list_transform(range(len(t)-1),
      |      i -> t[i+1] || ' ' || t[i+2])) AS bg
      |    FROM tok WHERE len(t) >= 2)
      |), bg AS (
      |  SELECT doc_id, w1, w2, count(*) AS m FROM bi GROUP BY doc_id, w1, w2
      |), c2 AS (
      |  SELECT w1, w2, CAST(sum(m) AS BIGINT) AS n2 FROM bg GROUP BY w1, w2
      |), c1 AS (
      |  SELECT w1, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1
      |), scored AS (
      |  SELECT b.doc_id, b.m,
      |    round(ln(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)), 6) AS r
      |  FROM bg b
      |  JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
      |  JOIN c1 ON b.w1 = c1.w1
      |), docll AS (
      |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
      |    round(CAST(sum(m * CAST(round(r * 1000000000) AS BIGINT))
      |      / 1000000000.0 / sum(m) AS DOUBLE), 6) AS avg_ll
      |  FROM scored GROUP BY doc_id
      |)""".stripMargin

  /** Spark twin of [[LmDocCtes]]: per-doc mean bigram log-likelihood
    * `(doc_id, n_bigrams, avg_ll)`, unordered. See q_lm_score's doc
    * for the scale analysis of every stage in here. */
  private def lmDocLL(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val bi = Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("t")) - 2),
        i => struct(element_at(col("t"), i + 1).as("w1"),
          element_at(col("t"), i + 2).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    // bg is the only corpus-derived stream that reaches the joins; the
    // eager localCheckpoint materializes it once, so the corpus is
    // exploded exactly ONCE and the stats rollup, prefix rollup, and
    // scoring side all reuse the checkpoint (PlanBudgetSpec pins zero
    // residual parquet scans in the final plan). At 100 TB swap
    // localCheckpoint for a reliable checkpoint, same as
    // q_dedup_cluster documents.
    val bg = bi.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
      .localCheckpoint()
    val c2 = bg.groupBy("w1", "w2").agg(sum(col("m")).as("n2"))
    val c1 = c2.groupBy("w1").agg(sum(col("n2")).as("n1"))
    val scored = bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("r",
        round(log(col("n2").cast("double") / col("n1").cast("double")), 6))
    scored.groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"),
        round((sum(col("m") * round(col("r") * 1e9, 0).cast("long"))
          / 1e9 / sum(col("m"))).cast("double"), 6).as("avg_ll"))
  }

  /** q_wordpiece_encode: learned-piece budget (top-K char 2..4-grams
    * by corpus-weighted frequency; single chars are the implicit
    * byte-fallback tier, so coverage is total and every greedy step
    * advances ≥ 1 char) and the unrolled greedy-match depth (bounds
    * encodable word length — the standard wordpiece
    * max_input_chars_per_word cap; corpus max here is 8). Both are
    * spliced into the oracle so the two engines learn and apply the
    * same pieces. */
  private[graft] val WpPieceK = 24
  private[graft] val WpMaxSteps = 16

  /** Top-K cap on q_vocab_ids' frequency-ranked vocabulary; tokens
    * outside the top K encode to the reserved OOV id K. The cap is
    * what keeps the ranking window, the broadcast id table, and the
    * encode join build side K-BOUNDED when the raw word vocabulary is
    * web-scale junk (unbounded). Production would set ~100k–1M; 24 is
    * below the synthetic corpus's 31 distinct tokens so the
    * correctness gate exercises the OOV branch, not just the happy
    * path. Spliced into the oracle SQL so both engines cap and
    * OOV-map identically.
    */
  private[graft] val VocabCap = 24

  /** q_kn_bigram_lm absolute discount D (the Chen-Goodman default
    * 0.75) — spliced into both engines' probability expression.
    * Declared above the query registry (object-init order: the SQL
    * string splices it at Seq construction). */
  private[graft] val KnDiscount = 0.75

  /** q_line_dedup: tokens per salted BODY line. The synthetic corpus
    * is a flat token stream, so the salting step (both engines,
    * identically) folds it into newline-joined 8-token body lines and
    * plants shared boilerplate lines around them; the segmenter
    * itself is the real `split(text, '\n')`. */
  private[graft] val LineTokens = 8

  /** q_keywords: keywords emitted per document. */
  private[graft] val KeywordsK = 3

  /** q_kanon_audit: minimum quasi-identifier group size. */
  private[graft] val KAnonK = 20

  /** q_zipf_fit: tokens fitted per lang (top-K by frequency). */
  private[graft] val ZipfK = 24

  /** q_maxsim_rerank: tokens per chunk (non-overlapping chunk
    * "token vectors" for the late-interaction score). */
  private[graft] val MsChunk = 16

  /** q_hash_embed: feature-hashing dimensionality (the vector length
    * of the hashed doc vectors). */
  private[graft] val HashDim = 64

  /** The sparse (doc_id, dim, v) stage shared by q_hash_embed (dense
    * assembly), q_stream_hash_embed, and q_sparse_search (inverted
    * dim-keyed join) — splice under WITH. */
  private[graft] val hashDimsSqlCte: String =
    s"""tok AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |    FROM documents)
       |  WHERE term <> '' GROUP BY doc_id, term
       |), hashed AS (
       |  SELECT doc_id,
       |    ${Portable.md5Hash60Sql("term")} % $HashDim AS dim,
       |    CASE WHEN (${Portable.md5Hash60Sql("term")} >> 6) % 2 = 0
       |      THEN tf ELSE -tf END AS v
       |  FROM tok
       |), dims AS (
       |  SELECT doc_id, dim, CAST(sum(v) AS BIGINT) AS v
       |  FROM hashed GROUP BY doc_id, dim
       |)""".stripMargin

  /** Each probe doc's top 10 by 6dp sparse cosine, ties by doc id. */
  private val BySparseCos = Knn.Rank(Knn.desc("cos_sim"), "neighbor_id", 10)

  /** q_maxsim_rerank's list: each probe's top 5 candidates by MaxSim. */
  private val ByMaxSim = Knn.Rank(Knn.desc("maxsim"), "neighbor_id", 5)

  /** Doc-level sparse ranking shared by q_sparse_search (direct
    * output) and q_maxsim_rerank (candidate generation) — splice
    * after [[hashDimsSqlCte]]; exposes `ranked(probe_id, neighbor_id,
    * cos_sim, rank)`, each probe's top 10. */
  private[graft] val sparseRankedSqlCte: String =
    s"""norms AS (
      |  SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS n2
      |  FROM dims GROUP BY doc_id
      |), p AS (
      |  SELECT doc_id AS probe_id, dim, v AS pv FROM dims
      |  WHERE doc_id < ${Knn.NumProbes}
      |), dots AS (
      |  SELECT probe_id, d.doc_id AS neighbor_id,
      |    CAST(sum(pv * v) AS BIGINT) AS dot
      |  FROM p JOIN dims d USING (dim)
      |  WHERE d.doc_id <> probe_id
      |  GROUP BY probe_id, d.doc_id
      |), scored AS (
      |  SELECT probe_id, neighbor_id,
      |    round(dot / (sqrt(CAST(np.n2 AS DOUBLE))
      |      * sqrt(CAST(nn.n2 AS DOUBLE))), 6) AS cos_sim
      |  FROM dots
      |  JOIN norms np ON np.doc_id = probe_id
      |  JOIN norms nn ON nn.doc_id = neighbor_id
      |), ranked AS (
      |  ${BySparseCos.cutSql("probe_id, neighbor_id, cos_sim, rank",
            "probe_id, neighbor_id, cos_sim", "scored")}
      |)""".stripMargin

  /** Spark twin of [[sparseRankedSqlCte]] over a (doc_id, dim, v)
    * frame: inverted dim-keyed dot join + norm joins + per-probe
    * top 10. */
  private[graft] def sparseRanked(dimsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dims = dimsIn.localCheckpoint() // reused 3×: probes, corpus, norms
    val norms = dims.groupBy("doc_id").agg(sum(col("v") * col("v")).as("n2"))
    val p = Knn.probeRows(dims, "doc_id")
      .select(col("doc_id").as("probe_id"), col("dim"), col("v").as("pv"))
    val dots = p
      .join(dims.select(col("doc_id").as("neighbor_id"), col("dim"),
        col("v")), Seq("dim"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .groupBy("probe_id", "neighbor_id")
      .agg(sum(col("pv") * col("v")).as("dot"))
    BySparseCos.top(dots
      .join(norms.select(col("doc_id").as("probe_id"),
        col("n2").as("pn2")), "probe_id")
      .join(norms.select(col("doc_id").as("neighbor_id"),
        col("n2").as("nn2")), "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"),
        round(col("dot") / (sqrt(col("pn2").cast("double"))
          * sqrt(col("nn2").cast("double"))), 6).as("cos_sim")))
  }

  /** Shared oracle for q_hash_embed AND q_stream_hash_embed (the
    * batch/stream twins must agree byte-for-byte, so they share one
    * SQL): exploded (doc, dim) agg → dense grid assembly → stats. */
  private[graft] val hashEmbedSql: String =
    s"""WITH $hashDimsSqlCte, dense AS (
       |  SELECT g.doc_id,
       |    list(coalesce(d.v, CAST(0 AS BIGINT)) ORDER BY g.i) AS vec
       |  FROM (SELECT doc_id, i
       |        FROM (SELECT DISTINCT doc_id FROM documents),
       |             unnest(range($HashDim)) AS t(i)) g
       |  LEFT JOIN dims d ON d.doc_id = g.doc_id AND d.dim = g.i
       |  GROUP BY g.doc_id
       |)
       |SELECT doc_id,
       |  CAST(len(list_filter(vec, x -> x <> 0)) AS BIGINT) AS nnz,
       |  CAST(list_sum(list_transform(vec, x -> abs(x))) AS BIGINT) AS l1,
       |  round(sqrt(CAST(list_sum(list_transform(vec, x -> x * x))
       |    AS DOUBLE)), 6) AS l2,
       |  md5(array_to_string(vec, ',')) AS vec_md5
       |FROM dense ORDER BY doc_id""".stripMargin

  /** q_hash_embed core over any (doc_id, text) frame — shared with
    * the streaming twin, which applies it per micro-batch under
    * foreachBatch (a document never spans micro-batches, so the
    * per-doc result is split-independent by construction). A pure
    * per-row fold variant was tried and rejected: the D per-dim folds
    * re-hash every token D times once Catalyst collapses projections
    * (nested HOFs don't codegen and can't share the md5), benching
    * 60-120× slower than this exploded agg. */
  /** Spark twin of [[hashDimsSqlCte]]: the sparse (doc_id, dim, v)
    * stage of the hashed doc vectors. */
  private[graft] def hashDims(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val h = Portable.md5Hash60(col("term"))
    docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), pmod(h, lit(HashDim.toLong)).as("dim"),
        when(pmod(shiftright(h, 6), lit(2L)) === 0, col("tf"))
          .otherwise(-col("tf")).as("v"))
      .groupBy("doc_id", "dim").agg(sum(col("v")).as("v"))
  }

  private[graft] def hashEmbed(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dims = hashDims(docs)
    val dense = dims.groupBy("doc_id")
      .agg(map_from_arrays(collect_list(col("dim")),
        collect_list(col("v"))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0L), lit(HashDim - 1L)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("vec"))
    docs.select(col("doc_id")).distinct()
      .join(dense, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("vec"),
          array_repeat(lit(0L), HashDim)).as("vec"))
      .select(col("doc_id"),
        size(filter(col("vec"), x => x =!= 0)).cast("long").as("nnz"),
        aggregate(col("vec"), lit(0L), (acc, x) => acc + abs(x)).as("l1"),
        round(sqrt(aggregate(col("vec"), lit(0L), (acc, x) => acc + x * x)
          .cast("double")), 6).as("l2"),
        md5(concat_ws(",", transform(col("vec"), _.cast("string"))))
          .as("vec_md5"))
  }

  /** Word vocabulary (w, freq) — the one corpus-keyed agg every
    * tokenizer operator starts from, checkpointed for reuse. */
  private[graft] def wpWords(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .select(explode(toks).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .localCheckpoint()

  /** Top-[[WpPieceK]] char 2..4-gram piece vocabulary by
    * corpus-weighted frequency over the word vocabulary (single chars
    * are the implicit byte-fallback tier). Checkpointed. */
  private[graft] def wpPieces(words: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    wpGramCounts(words).orderBy(col("n").desc, col("g")).limit(WpPieceK)
      .select(col("g").as("piece")).localCheckpoint()

  /** Corpus-weighted char 2..4-gram counts (g, n) over the word
    * vocabulary — shared by [[wpPieces]] and the unigram-LM piece
    * inventory. */
  private[graft] def wpGramCounts(words: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    (2 to 4).map { l =>
      words.filter(length(col("w")) >= l)
        .select(col("freq"), explode(transform(
          sequence(lit(0), length(col("w")) - l),
          i => col("w").substr(i + lit(1), lit(l)))).as("g"))
    }.reduce(_ union _).groupBy("g").agg(sum(col("freq")).as("n"))

  /** One greedy longest-match pass over every distinct word: the
    * emitted (w, freq, piece) stream, [[WpMaxSteps]]-bounded exactly
    * like the oracle's unrolled CTEs. q_wordpiece_encode aggregates
    * it per piece; q_tok_optimal per word.
    *
    * r16 shape (guide §1.2 step 1): the r15 loop ran 2 Spark jobs per
    * round (emit checkpoint + state checkpoint) plus an isEmpty probe
    * — ~35 tiny jobs for a walk whose lookup side is a BOUNDED set
    * (top-[[WpPieceK]] grams). The whole walk is now ONE per-row
    * `aggregate` HOF against that set carried as a single broadcast
    * map column: zero joins, zero checkpoints, one job. Equivalence
    * with the length-stratified join tables is exact because a probe
    * string of length L can only EQUAL a piece of length L — the
    * coalesce(p4, p3, p2, char) choice resolves to the same string
    * either way (a short word-tail probe truncates, and the truncated
    * string still only matches its own length). TokOptimalSpec's
    * planted trap + the unrolled oracle gate it. */
  private[graft] def wpGreedyEmits(
      words: org.apache.spark.sql.DataFrame,
      pieces: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pset = broadcast(pieces.agg(
      map_from_entries(collect_list(struct(col("piece"), lit(true))))
        .as("pset")))
    def has(c: Column): Column = try_element_at(col("pset"), c).isNotNull
    val init = struct(
      lit(0L).as("pos"),
      array().cast("array<string>").as("ps"),
      lit(true).as("act"))
    val walk = aggregate(
      sequence(lit(1), lit(WpMaxSteps)),
      init,
      (st, _) => {
        val pos = st.getField("pos")
        def probe(l: Int) = col("w").substr((pos + 1).cast("int"), lit(l))
        val piece = coalesce(
          when(has(probe(4)), probe(4)),
          when(has(probe(3)), probe(3)),
          when(has(probe(2)), probe(2)),
          probe(1))
        val npos = (pos + length(piece)).cast("long")
        when(st.getField("act"), struct(
          npos.as("pos"),
          concat(st.getField("ps"), array(piece)).as("ps"),
          (npos < length(col("w"))).as("act")))
          .otherwise(st)
      })
    words.crossJoin(pset)
      .select(col("w"), col("freq"),
        explode(walk.getField("ps")).as("piece"))
  }

  /** q_tok_optimal: exact MINIMUM-piece segmentation of every word
    * over the same piece vocabulary, by unrolled dynamic programming —
    * dp[j] = 1 + min over piece lengths L in 1..4 (substring ending at
    * j in the vocab; single chars always are) of dp[j-L]. The dp
    * prefix array rides the row as an array column; each of the
    * [[WpMaxSteps]] rounds extends it by one position via the same
    * broadcast piece tables the greedy pass probes. Returns
    * (w, freq, opt_pieces). */
  private[graft] def wpOptimalPieces(
      words: org.apache.spark.sql.DataFrame,
      pieces: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // r16 shape (guide §1.2 step 1): the r15 loop checkpointed one
    // Spark job per DP position (~16 jobs + a maxLen probe) to probe
    // a BOUNDED piece set (top-WpPieceK grams). The whole DP is now
    // ONE per-row `aggregate` HOF against the set carried as a single
    // broadcast map column — zero joins, one job. Rounds past len(w)
    // gate through unchanged per row (the same CASE the loop used),
    // so the static WpMaxSteps bound replaces the maxLen probe job.
    // Within j ≤ len(w) every probe substring is exactly L chars, so
    // the mixed-length set lookup equals the length-stratified join
    // (a string only EQUALS a piece of its own length); the unrolled
    // oracle + TokOptimalSpec gate equivalence.
    val pset = broadcast(pieces.agg(
      map_from_entries(collect_list(struct(col("piece"), lit(true))))
        .as("pset")))
    def has(c: Column): Column = try_element_at(col("pset"), c).isNotNull
    val Inf = 9999L
    val dps = aggregate(
      sequence(lit(1), lit(WpMaxSteps)),
      array(lit(0L)).cast("array<bigint>"),
      (dps, j) => {
        // Piece of length L ends at char j ⇔ it is substr(w, j-L+1, L).
        val cands = Seq(element_at(dps, j.cast("int")) + 1) ++
          (2 to 4).map { l =>
            when(lit(l) <= j
              && has(col("w").substr((j - l + 1).cast("int"), lit(l))),
              element_at(dps, (j - l + 1).cast("int")) + 1)
              .otherwise(lit(Inf))
          }
        val dpj = cands.reduce(least(_, _))
        when(length(col("w")) >= j, concat(dps, array(dpj)))
          .otherwise(dps)
      })
    words.crossJoin(pset)
      .select(col("w"), col("freq"),
        element_at(dps, length(col("w")) + 1).as("opt_pieces"))
  }

  /** DuckDB twin of [[bm25Agg]]: CTE chain ending in
    * `agg(doc_id, bm25)` — splice under WITH. */
  private[graft] val bm25AggSqlCtes: String =
    """dl AS (
      |  SELECT doc_id, len(string_split(lower(text), ' ')) AS dl FROM documents
      |), stats AS (
      |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
      |), tf AS (
      |  SELECT doc_id, w, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents)
      |  WHERE w IN ('data', 'query', 'vector') GROUP BY doc_id, w
      |), df AS (
      |  SELECT w, count(*) AS df FROM tf GROUP BY w
      |), scored AS (
      |  SELECT t.doc_id,
      |    round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
      |      * (t.tf * 2.2)
      |      / (t.tf + 1.2 * (0.25 + 0.75 * dl
      |          / (CAST(sum_dl AS DOUBLE) / n_docs))), 6) AS contrib
      |  FROM tf t JOIN df ON t.w = df.w JOIN dl ON t.doc_id = dl.doc_id
      |  CROSS JOIN stats
      |), agg AS (
      |  SELECT doc_id,
      |    round(CAST(sum(CAST(round(contrib * 1000000000) AS BIGINT))
      |      / 1000000000.0 AS DOUBLE), 6) AS bm25
      |  FROM scored GROUP BY doc_id
      |)""".stripMargin

  /** BM25 per-doc scores for the fixed query-term set — shared by
    * q_bm25 (ranking) and q_rocchio_expand (pseudo-relevance
    * feedback). Arithmetic mirrors the oracle op for op: idf and the
    * length normalization are single IEEE expressions on identical
    * inputs, the 6dp round is the cross-engine sync point, and the
    * per-doc sum uses the exact fixed-point convention (scale 9).
    * Returns (doc_id, bm25), unordered. */
  private[graft] def bm25Agg(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val dl = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = docs.select(col("doc_id"), explode(toks).as("w"))
      .filter(col("w").isin("data", "query", "vector"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val contrib = round(
      log((col("n_docs").cast("double") - col("df") + 0.5)
        / (col("df") + 0.5) + 1.0)
        * (col("tf") * 2.2)
        / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl")
          / (col("sum_dl").cast("double") / col("n_docs")))), 6)
    tf.join(broadcast(df), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), contrib.as("contrib"))
      .groupBy("doc_id")
      .agg(round((sum(round(col("contrib") * 1000000000L, 0).cast("long"))
        / 1000000000.0).cast("double"), 6).as("bm25"))
  }

  /** Shared oracle head for the unigram-LM operators: words, gram
    * counts, the top-K gram cut `gr(piece, n)` and the char tier
    * `c1n(piece, n)` — splice under WITH. */
  private def ugHeadSql: String =
    s"""words AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), grams AS (
       |  SELECT g, CAST(sum(freq) AS BIGINT) AS n FROM (
       |    SELECT freq, unnest(list_transform(range(len(w) - 1), i -> substr(w, CAST(i+1 AS INT), 2))) AS g FROM words
       |    UNION ALL
       |    SELECT freq, unnest(list_transform(range(len(w) - 2), i -> substr(w, CAST(i+1 AS INT), 3))) AS g FROM words
       |    UNION ALL
       |    SELECT freq, unnest(list_transform(range(len(w) - 3), i -> substr(w, CAST(i+1 AS INT), 4))) AS g FROM words
       |  ) GROUP BY g
       |), gr AS (
       |  SELECT g AS piece, n FROM grams ORDER BY n DESC, g LIMIT $WpPieceK
       |), c1n AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS n FROM (
       |    SELECT freq, unnest(list_transform(range(len(w)), i -> substr(w, CAST(i+1 AS INT), 1))) AS piece FROM words)
       |  GROUP BY piece
       |)""".stripMargin

  /** One full oracle Viterbi pass over the inventory CTE
    * `inv<sfx>(piece, n)`: log-probs, per-length piece tables, the
    * unrolled forward DP (score + backpointer arrays), the unrolled
    * backward walk, and the M-step rollup — every CTE name suffixed
    * so q_vocab_prune can run the chain twice (full and pruned
    * inventories) in one statement. Ends with `vit<sfx>(piece,
    * viterbi_n)` and `vtt<sfx>(vt)`. */
  private def ugChainSql(sfx: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""itot$sfx AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM inv$sfx),
         |lp$sfx AS MATERIALIZED (
         |  SELECT piece, n, CAST(round(ln(n / tot) * 1000000) AS BIGINT) AS lp6
         |  FROM inv$sfx CROSS JOIN itot$sfx
         |), l1$sfx AS MATERIALIZED (SELECT piece, lp6 FROM lp$sfx WHERE len(piece) = 1),
         |l2$sfx AS MATERIALIZED (SELECT piece, lp6 FROM lp$sfx WHERE len(piece) = 2),
         |l3$sfx AS MATERIALIZED (SELECT piece, lp6 FROM lp$sfx WHERE len(piece) = 3),
         |l4$sfx AS MATERIALIZED (SELECT piece, lp6 FROM lp$sfx WHERE len(piece) = 4),
         |d0$sfx AS MATERIALIZED (
         |  SELECT w, freq, [CAST(0 AS BIGINT)] AS dps, [CAST(0 AS BIGINT)] AS bps
         |  FROM words)""".stripMargin)
    for (j <- 1 to WpMaxSteps) {
      val ls = (1 to 4).filter(_ <= j)
      val joins = ls.map(l =>
        s"LEFT JOIN l$l$sfx v$l ON v$l.piece = substr(st.w, ${j - l + 1}, $l)")
        .mkString("\n  ")
      def cand(l: Int): String =
        s"CASE WHEN v$l.piece IS NOT NULL THEN list_extract(st.dps, ${j - l + 1}) + v$l.lp6 ELSE CAST($UgNegInf AS BIGINT) END"
      val bs = s"greatest(${ls.map(cand).mkString(", ")})"
      val bl =
        if (ls.size == 1) "CAST(1 AS BIGINT)"
        else ls.reverse.init.map(l =>
          s"WHEN ${cand(l)} = $bs THEN CAST($l AS BIGINT)")
          .mkString("CASE ", " ", " ELSE CAST(1 AS BIGINT) END")
      sb.append(
        s""",
           |d$j$sfx AS MATERIALIZED (
           |  SELECT st.w, st.freq,
           |    CASE WHEN len(st.w) >= $j THEN list_append(st.dps, $bs)
           |      ELSE st.dps END AS dps,
           |    CASE WHEN len(st.w) >= $j THEN list_append(st.bps, $bl)
           |      ELSE st.bps END AS bps
           |  FROM d${j - 1}$sfx st
           |  $joins
           |)""".stripMargin)
    }
    sb.append(
      s""",
         |vb0$sfx AS MATERIALIZED (
         |  SELECT w, freq, bps, CAST(len(w) AS BIGINT) AS pos
         |  FROM d$WpMaxSteps$sfx)""".stripMargin)
    for (t <- 1 to WpMaxSteps) {
      sb.append(
        s""",
           |ve$t$sfx AS MATERIALIZED (
           |  SELECT w, freq, bps,
           |    substr(w,
           |      CAST(pos - list_extract(bps, CAST(pos + 1 AS INT)) + 1 AS INT),
           |      CAST(list_extract(bps, CAST(pos + 1 AS INT)) AS INT)) AS piece,
           |    pos - list_extract(bps, CAST(pos + 1 AS INT)) AS npos
           |  FROM vb${t - 1}$sfx
           |), vb$t$sfx AS MATERIALIZED (
           |  SELECT w, freq, bps, npos AS pos FROM ve$t$sfx WHERE npos > 0
           |)""".stripMargin)
    }
    sb.append(
      s""",
         |vit$sfx AS (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS viterbi_n FROM (
         |  ${(1 to WpMaxSteps).map(t => s"SELECT piece, freq FROM ve$t$sfx").mkString("\n  UNION ALL\n  ")}
         |  ) GROUP BY piece
         |), vtt$sfx AS (SELECT CAST(sum(viterbi_n) AS DOUBLE) AS vt FROM vit$sfx)""".stripMargin)
    sb.toString
  }

  /** q_vocab_prune: grams dropped per prune round (chars never
    * prune — they are the coverage floor). */
  private[graft] val UgPruneK = 8

  /** q_unigram_viterbi: score sentinel for "piece absent" DP
    * candidates — far below any reachable path sum (|lp6| < 2·10⁷ per
    * piece × ≤16 chars), so it never wins and never enters state. */
  private[graft] val UgNegInf = -1000000000000000L

  /** Unigram-LM piece inventory: top-[[WpPieceK]] 2..4-grams PLUS all
    * observed single chars (total coverage), each with corpus-weighted
    * count `n` and fixed-point log-prob `lp6 = round(ln(n/total)·1e6)`
    * — the ONE libm boundary, rounded to an integer grid so the whole
    * Viterbi DP runs in exact BIGINT arithmetic. Checkpointed. */
  private[graft] def ugInventory(words: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val grams = wpGramCounts(words)
      .orderBy(col("n").desc, col("g")).limit(WpPieceK)
      .select(col("g").as("piece"), col("n"))
    val chars = words
      .select(col("freq"), explode(transform(
        sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("n"))
    val inv = grams.unionByName(chars) // 1-char ∩ 2..4-gram = ∅
    val tot = inv.agg(sum(col("n")).cast("double").as("tot"))
    inv.crossJoin(broadcast(tot))
      .select(col("piece"), col("n"),
        round(log(col("n") / col("tot")) * 1000000, 0).cast("long").as("lp6"))
      .localCheckpoint()
  }

  /** Viterbi-best unigram segmentation of every distinct word:
    * forward DP dp[j] = max over piece lengths L ∈ 1..4 ending at j
    * of dp[j−L] + lp6(piece) (ties prefer the LONGER piece), carrying
    * score and backpointer arrays as row columns through
    * [[WpMaxSteps]] unrolled rounds against four broadcast piece
    * tables; then an unrolled BACKWARD walk follows the backpointers
    * from len(w), emitting one (w, freq, piece) row per chosen piece.
    * State stays word-vocab-bounded throughout; both passes run as
    * single per-row aggregate HOFs (the wpGreedyEmits discipline). */
  private[graft] def ugViterbiEmits(
      words: org.apache.spark.sql.DataFrame,
      inv: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // r16 shape (guide §1.2 step 1): the r14/r15 loop ran one
    // checkpointed Spark job per forward DP position plus one
    // checkpoint + isEmpty pair per backward step (~45 tiny jobs per
    // pass, ×2 in q_vocab_prune) to probe a BOUNDED inventory
    // (top-WpPieceK grams + observed chars). Both the forward DP and
    // the backward walk are now per-row `aggregate` HOFs against the
    // inventory carried as one broadcast piece→lp6 map column — zero
    // joins, zero checkpoints, one job per pass. Everything else is
    // UNCHANGED expression-for-expression: the exact-BIGINT lp6
    // sums, the NegInf absent-piece sentinel, the longer-piece tie
    // break (probe L=4 first), the length(w)>=j round gating (which
    // also guarantees every in-range probe substring is exactly L
    // chars, so the mixed-length map lookup equals the r15
    // length-stratified join tables — a string only EQUALS a piece
    // of its own length), and the WpMaxSteps bound. UnigramSpec's
    // sequential reference + the unrolled oracle gate equivalence.
    val pmap = broadcast(inv.agg(
      map_from_entries(collect_list(struct(col("piece"), col("lp6"))))
        .as("pmap")))
    val fwd = aggregate(
      sequence(lit(1), lit(WpMaxSteps)),
      struct(
        array(lit(0L)).cast("array<bigint>").as("dps"),
        array(lit(0L)).cast("array<bigint>").as("bps")), // bps[1] unused
      (st, j) => {
        val dps = st.getField("dps")
        def lkp(l: Int): Column = try_element_at(col("pmap"),
          col("w").substr((j - l + 1).cast("int"), lit(l)))
        def cand(l: Int): Column =
          when(lit(l) <= j && lkp(l).isNotNull,
            element_at(dps, (j - l + 1).cast("int")) + lkp(l))
            .otherwise(lit(UgNegInf))
        val cands = (1 to 4).map(cand)
        val bs = cands.reduce(greatest(_, _))
        // Ties prefer the longer piece: probe L = 4 first.
        val bl = when(cand(4) === bs, 4L).when(cand(3) === bs, 3L)
          .when(cand(2) === bs, 2L).otherwise(1L)
        when(length(col("w")) >= j, struct(
          concat(dps, array(bs)).as("dps"),
          concat(st.getField("bps"), array(bl)).as("bps")))
          .otherwise(st)
      })
    // Backward walk: pos = prefix length; chosen piece ends at pos.
    // bps rides the accumulator so the forward DP is evaluated once
    // (in the seed), not once per step.
    val walk = aggregate(
      sequence(lit(1), lit(WpMaxSteps)),
      struct(
        length(col("w")).cast("long").as("pos"),
        fwd.getField("bps").as("bps"),
        array().cast("array<string>").as("ps"),
        lit(true).as("act")),
      (st, _) => {
        val pos = st.getField("pos")
        val l = element_at(st.getField("bps"), (pos + 1).cast("int"))
        val piece =
          col("w").substr((pos - l + 1).cast("int"), l.cast("int"))
        val npos = pos - l
        when(st.getField("act"), struct(
          npos.as("pos"),
          st.getField("bps").as("bps"),
          concat(st.getField("ps"), array(piece)).as("ps"),
          (npos > 0).as("act")))
          .otherwise(st)
      })
    words.crossJoin(pmap)
      .select(col("w"), col("freq"),
        explode(walk.getField("ps")).as("piece"))
  }

  /** q_span_mask: token positions p with p % SpanCycle in
    * [SpanStart, SpanStart+SpanLen) are masked — SpanLen/SpanCycle =
    * 15%, the T5 corruption rate. The positional rule is the
    * deterministic stand-in for random span sampling: real pipelines
    * drive the span starts from a seeded per-doc hash, and everything
    * downstream — sentinel numbering, input/target assembly — is
    * unchanged. */
  private[graft] val SpanCycle = 20
  private[graft] val SpanStart = 5
  private[graft] val SpanLen = 3

  /** q_line_dedup core over any (doc_id, text) frame (the spec plants
    * boilerplate-sharing docs through it): split on REAL newlines →
    * global keep-first window keyed by the line → doc-keyed newline
    * reassembly. Unordered; the Q adds the output sort. */
  private[graft] def lineDedup(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val lined = docs.select(col("doc_id"), split(col("text"), "\n", -1).as("ls"))
    val lines = lined
      .select(col("doc_id"), posexplode(col("ls")))
      .toDF("doc_id", "line_no", "line")
    val w = Window.partitionBy("line").orderBy("doc_id", "line_no")
    val clean = lines
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_lines"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x.getField("line"))).as("clean"))
    lined
      .select(col("doc_id"), size(col("ls")).cast("long").as("n_lines"))
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("kept_lines"), lit(0L)).as("kept_lines"),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"))
  }

  /** q_keywords core over any (doc_id, text) frame: one corpus pass
    * to (doc, term) tf, df rolled up from tf, per-doc top-k TF-IDF
    * window. Unordered; the Q adds the output sort. */
  private[graft] def keywordsOf(docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = docs.agg(count(lit(1)).cast("double").as("nd"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * round(log(col("nd") / col("df")), 6), 6)
          .as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("tfidf"))
  }

  /** Count-min sketch shape for q_heavy_hitters: d hash rows × w
    * buckets, affine family (a·h + b) mod P mod w over the portable
    * 60-bit md5 hash reduced mod P. The SAME constants are spliced
    * into the oracle SQL, so Spark and DuckDB build bit-identical
    * sketches and the estimate column itself is hash-checkable.
    */
  /** Fixed alphabet for the per-row char-entropy histogram
    * (q_entropy); everything outside it lands in one 'other' bucket.
    * Spliced into the oracle SQL so both engines bucket identically.
    */
  private[graft] val Alphabet: Seq[Char] =
    ("abcdefghijklmnopqrstuvwxyz" + "0123456789" + " .,!?-").toSeq

  /** Token chunking shape (q_chunk): 64-token windows every 48 tokens
    * (16-token overlap). */
  private[graft] val ChunkSize = 64
  private[graft] val ChunkStride = 48

  /** Minimum corpus pair count before a skip-gram pair enters the PMI
    * ranking (q_cooccur) — raw PMI is maximized by hapax pairs, so an
    * unsupported tail would dominate the top-k. */
  private[graft] val CoocMinCount = 20L

  private[graft] val CmsD = 4
  private[graft] val CmsW = 512L
  private[graft] val CmsP = 2147483647L
  private[graft] val CmsAB: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L), (1299709L, 7919L),
    (15485863L, 104729L), (32452843L, 130363L))

  /** Unrolled merge rounds in q_bpe_train's oracle; [[trainBpe]]
    * itself takes any count. */
  private[graft] val BpeMerges = 8

  /** q_bpe_bytes: merge rounds for the byte-vs-char fertility
    * comparison (each face trains its own loop, and the oracle
    * unrolls BOTH — 6 keeps the statement bounded while the
    * fertility gap is already fully visible). */
  private[graft] val BpeBytesMerges = 6

  /** Winnowing shape (q_winnow): char-K-gram hashes, window of W
    * gram positions. Guarantee threshold = W + K - 1 shared chars. */
  private[graft] val WinnowK = 5
  private[graft] val WinnowW = 8

  /** q_weighted_sample: sample size. */
  private[graft] val WeightedSampleK = 100

  /** q_dsir_select: hashed-feature bucket count (also the add-1
    * smoothing denominator's vocabulary size), the target-domain
    * stand-in, and the selection size. */
  private[graft] val DsirBuckets = 1024L
  private[graft] val DsirTargetLang = "zh"
  private[graft] val DsirK = 100

  /** Content-defined chunking shape (q_cdc_chunks): char-K-gram hash
    * boundary test with divisor D → expected chunk ≈ D chars. D must
    * be PRIME and coprime to the rolling base: the classic power-of-
    * two divisor degenerates under a polynomial hash (B = 257 ≡ 1 mod
    * 64 and M = 2³¹−1 ≡ −1 mod 64 leave `h % 64` a smooth function of
    * the gram's code-point SUM — measured 1/129 hit rate instead of
    * 1/64 on the sf0.1 corpus). With D = 61 the base has
    * multiplicative order > 1 mod D and the measured rate is 1/63 —
    * the Rabin-Karp prime-modulus guidance applied to the boundary
    * test. (FastCDC solves the same problem differently, masking
    * SPREAD bits of a gear hash; a prime divisor is the portable
    * equivalent.) */
  private[graft] val CdcK = 5
  private[graft] val CdcD = 61L

  /** Content-defined chunk extraction (the Rabin/FastCDC family, with
    * the REAL O(1)-per-char Rabin rolling hash — `rollhash60`, a
    * codegen'd Catalyst expression that produces every char-K-gram's
    * polynomial hash in one forward pass; see
    * [[graft.functions.RollHash]]): a chunk boundary falls AFTER any
    * char-K-gram whose hash ≡ 0 (mod D), so boundaries depend only on
    * LOCAL content — an edit re-chunks bytes only up to the next
    * surviving boundary and every later chunk is byte-identical, the
    * shift-resilience that makes CDC the storage/transfer dedup
    * standard and that fixed-stride chunking (q_chunk) structurally
    * lacks (CdcSpec plants exactly that edit). Pure per-row array
    * work; returns one row per (doc_id, chunk_ord, chunk). */
  private[graft] def cdcChunks(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hs = graft.functions.RollHash
      .rollhash60("text", CdcK)
    docs.filter(length(col("text")) >= CdcK)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"), hs.as("hs"))
      // Cut offsets = gram END positions (i + K) of zero-mod hashes;
      // a cut landing exactly at n is redundant with the final bound
      // and excluded, so bounds are strictly increasing → no empty
      // chunks, ordinals stable.
      .withColumn("bounds", expr(
        s"""concat(array(CAST(0 AS BIGINT)),
           |  transform(filter(sequence(0, size(hs) - 1),
           |    i -> hs[i] % $CdcD = 0 AND i + $CdcK < n),
           |    i -> CAST(i + $CdcK AS BIGINT)), array(n))""".stripMargin))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(bounds) - 2),
           |  j -> substr(text, CAST(bounds[j] + 1 AS INT),
           |              CAST(bounds[j + 1] - bounds[j] AS INT)))""".stripMargin))
        .as(Seq("chunk_ord", "chunk")))
  }

  /** q_posting_layout: hash buckets the inverted index is hive-
    * partitioned into, per-term result depth, and the fixed probe
    * terms (bucket literals are computed driver-side with [[hash60]]
    * so the read plans a STATIC partition filter). */
  private[graft] val PostingBuckets = 16L
  private[graft] val PostingTopK = 10
  private[graft] val PostingQueryTerms = Seq("spark", "join", "window")

  /** JVM twin of [[Portable.md5Hash60]] (first 60 bits of md5) for
    * driver-side literals like the posting-bucket probe list —
    * byte-identical to the column expression and the DuckDB cast. */
  private[graft] def hash60(sv: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(sv.getBytes("UTF-8"))
    var h = 0L
    var j = 0
    while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
    h >>> 4
  }

  /** PII patterns (q_pii_scrub). Deliberately conservative: character
    * classes, alternation-free, no lookaround/backreferences — the
    * subset where Java regex (Spark) and RE2-style engines (DuckDB)
    * are guaranteed to agree, so the oracle can run the SAME pattern.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** Redact emails then phones (a phone pattern cannot occur inside
    * the [EMAIL] token, so the order is safe). */
  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(c, lit(EmailRe), lit("[EMAIL]")),
      lit(PhoneRe), lit("[PHONE]"))

  /** BPE merge training (Sennrich et al. 2016, the `learn_bpe` loop):
    * start from the character-split word vocabulary, then `numMerges`
    * times count adjacent symbol pairs weighted by word frequency,
    * pick the argmax (ties by (pa, pb)), and merge it everywhere.
    *
    * The vocabulary is carried as a double-space-joined, double-space-
    * padded string (`"  h  e  y  "`), so applying a merge is ONE
    * literal non-overlapping `replace(" a  b ", " ab ")`: the pattern
    * consumes one space from each boundary and leaves one for the
    * neighboring occurrence, which makes the left-to-right scan merge
    * runs exactly like the sequential algorithm ("a a a a" -> "aa aa",
    * "a a a" -> "aa a"). The oracle applies the SAME replace, so the
    * engines cannot drift. Symbols never contain spaces (words are
    * space-split), so the separator is safe.
    *
    * Scale: one corpus scan builds the word vocab; each round is a
    * vocab-bounded pair agg plus a vocab-sized per-row replace,
    * `localCheckpoint`ed per round (the trainKMeans loop shape); the
    * driver collects exactly one argmax row per round. Stops early if
    * no pair remains.
    *
    * `wordMap` (optional) re-expresses each word BEFORE the char
    * split — the byte-level front-end seam: [[graft.functions.BytesToUnicode]]
    * turns a word into one printable symbol per UTF-8 byte, and the
    * identical merge loop then trains byte-level BPE with zero
    * changes (the map is injective, so word counts are unchanged).
    *
    * @return (ordered merges (pa, pb, weighted count),
    *          final vocab (w, syms array<string>, n) — the ENCODED
    *          vocabulary, i.e. each word's subword segmentation)
    */
  def trainBpe(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      numMerges: Int,
      wordMap: Option[Column => Column] = None)
      : (Seq[(String, String, Long)], org.apache.spark.sql.DataFrame) = {
    require(numMerges >= 0, "numMerges must be >= 0")
    val sy = split(trim(col("s")), "  ")
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    var vocab = docs
      .select(explode(toks).as("w"))
      .filter(col("w") =!= "")
      .select(wordMap.fold(col("w"))(f => f(col("w"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("w"),
        concat(lit("  "), array_join(chars, "  "), lit("  ")).as("s"),
        col("n"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var dry = false
    for (_ <- 1 to numMerges if !dry) {
      val best = vocab
        .select(col("n"), explode(when(size(sy) > lit(1),
          transform(sequence(lit(1), size(sy) - 1),
            j => struct(element_at(sy, j).as("pa"),
              element_at(sy, j + 1).as("pb"))))
          .otherwise(array().cast("array<struct<pa:string,pb:string>>")))
          .as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("n")).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("pa"), col("pb"))
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (pa, pb, np) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((pa, pb, np))
        vocab = vocab.withColumn("s",
          replace(col("s"), lit(s" $pa  $pb "), lit(s" $pa$pb ")))
          .localCheckpoint()
      }
    }
    (merges.toSeq, vocab.select(col("w"), sy.as("syms"), col("n")))
  }

  /** DuckDB CTE chain for `k` unrolled BPE rounds: w0 (word vocab) →
    * v0 (char-split padded strings, word riding along) → per round
    * p_i (pair counts) / b_i (argmax) / v_i (merged vocab). Shared by
    * q_bpe_train (reads the b_i merge table) and q_bpe_encode (reads
    * v_k, the encoded vocabulary).
    *
    * v_i takes b_i by LEFT JOIN ON TRUE with coalesce('') on the
    * replace arguments, NOT a CROSS JOIN: if a corpus fully merges
    * before round k, b_i is empty, and a CROSS JOIN would empty v_i
    * (and every later CTE) while [[trainBpe]]'s early stop keeps the
    * final vocab. An empty-needle replace is a no-op in DuckDB, so
    * the LEFT JOIN passes v_i through unchanged — the exact twin of
    * the engine's dry-round behavior. */
  /** The per-round p/b/v CTE triple chain alone, reading
    * `v$pfx${i-1}` and exposing `v$pfx$k` — prefixable so two
    * independently-symbolized vocabularies (q_bpe_bytes' char and
    * byte faces) can train side by side in one statement. */
  private def bpeRoundCtes(k: Int, pfx: String = ""): String =
    (1 to k).map { i =>
      s"""p$pfx$i AS (
         |  SELECT sy[j+1] AS pa, sy[j+2] AS pb, CAST(sum(n) AS BIGINT) AS n_pairs
         |  FROM (SELECT string_split(trim(s), '  ') AS sy, n FROM v$pfx${i - 1}) t,
         |       unnest(range(len(sy) - 1)) AS u(j)
         |  GROUP BY pa, pb
         |), b$pfx$i AS (
         |  SELECT pa, pb, n_pairs FROM p$pfx$i ORDER BY n_pairs DESC, pa, pb LIMIT 1
         |), v$pfx$i AS (
         |  SELECT w, replace(s, coalesce(' ' || pa || '  ' || pb || ' ', ''),
         |                       coalesce(' ' || pa || pb || ' ', '')) AS s, n
         |  FROM v$pfx${i - 1} LEFT JOIN b$pfx$i ON TRUE
         |)""".stripMargin
    }.mkString(", ")

  private def bpeRoundsSqlCte(k: Int): String =
    s"""w0 AS (
       |  SELECT w, count(*) AS n FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), v0 AS (
       |  SELECT w, '  ' || array_to_string(list_transform(range(length(w)),
       |    i -> substr(w, i + 1, 1)), '  ') || '  ' AS s, n FROM w0
       |), ${bpeRoundCtes(k)}""".stripMargin

  /** DuckDB twin of [[trainBpe]] with `k` unrolled rounds, ending in
    * the ordered merge table (step, pa, pb, n_pairs). */
  private def bpeTrainSql(k: Int): String = {
    val steps = (1 to k)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, pa, pb, n_pairs FROM b$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeRoundsSqlCte(k)}
       |SELECT * FROM ($steps) ORDER BY step""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      "q_text_stats",
      "per-lang corpus stats: one keyed agg bounded by #langs; distinct " +
        "vocabulary via a (lang, token)-keyed pre-aggregation — at " +
        "100 TB swap exact distinct for approx_count_distinct",
      Some(
        """WITH tok AS (
          |  SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents
          |), t AS (
          |  SELECT lang, count(DISTINCT w) AS n_vocab, count(*) AS n_tokens
          |  FROM tok GROUP BY lang
          |), d AS (
          |  SELECT lang, count(*) AS n_docs,
          |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |  FROM documents GROUP BY lang
          |)
          |SELECT d.lang, n_docs, sum_chars, n_vocab, n_tokens
          |FROM d JOIN t ON d.lang = t.lang ORDER BY d.lang""".stripMargin),
    ) { (s, dir) =>
      // n_chars is per-doc, so it must be summed on the pre-explode
      // frame; vocabulary/token counts need the exploded frame. Two
      // lang-keyed aggs joined on the (tiny) lang key.
      val docs = Tables.documents(s, dir)
      val t = docs.select(col("lang"), explode(toks).as("w"))
        .groupBy("lang")
        .agg(countDistinct(col("w")).as("n_vocab"), count(lit(1)).as("n_tokens"))
      val d = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      d.join(t, Seq("lang"))
        .select("lang", "n_docs", "sum_chars", "n_vocab", "n_tokens")
        .orderBy("lang")
    },

    Q(
      "q_lang_id",
      "language-ID heuristic: the marker profiles are a fixed literal " +
        "dimension, so per-(doc, lang) hit counts are pure per-row " +
        "expression work (size(filter(tokens, w ∈ markers_lang))) and " +
        "the argmax is an array_max over (hit, lang-rank) structs — " +
        "ZERO shuffles before the output sort; the exploded-join " +
        "formulation this replaces paid four (tokenize-join, two " +
        "doc-keyed aggs, a doc-keyed window)",
      Some {
        val markerValues = Markers.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")
        s"""WITH markers(mlang, word) AS (VALUES $markerValues),
           |tok AS (
           |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
           |  FROM documents
           |), ntok AS (
           |  SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
           |), hits AS (
           |  SELECT t.doc_id, m.mlang, count(*) AS hit
           |  FROM tok t JOIN markers m ON t.w = m.word
           |  GROUP BY t.doc_id, m.mlang
           |), grid AS (
           |  SELECT d.doc_id, d.lang, l.mlang,
           |    coalesce(h.hit, 0) AS hit, ntok.n
           |  FROM documents d
           |  CROSS JOIN (SELECT DISTINCT mlang FROM markers) l
           |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.mlang = l.mlang
           |  JOIN ntok ON ntok.doc_id = d.doc_id
           |), ranked AS (
           |  SELECT doc_id, lang, mlang,
           |    round(CAST(hit AS DOUBLE) / n, 6) AS score,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY hit DESC, mlang) AS rn
           |  FROM grid)
           |SELECT doc_id, lang, mlang AS pred_lang, score
           |FROM ranked WHERE rn = 1
           |ORDER BY doc_id""".stripMargin
      },
    ) { (s, dir) =>
      val markerWords: Map[String, Seq[String]] =
        Markers.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      // hit_lang = tokens matching any of that lang's markers, counted
      // with multiplicity — exactly the oracle's tok⋈markers count.
      def hit(lang: String): Column =
        size(filter(toks, w => markerWords(lang).map(w === _).reduce(_ || _)))
      // argmax with the oracle's tiebreak (hit DESC, mlang ASC): structs
      // order field-by-field, so max of (hit, -langRank) picks the
      // highest hit and, on ties, the lexicographically first lang.
      val cands = Langs.zipWithIndex.map { case (l, i) =>
        struct(hit(l).as("hit"), lit(-i).as("nrank"))
      }
      val predLang = Langs.zipWithIndex.tail
        .foldLeft(when(col("best.nrank") === 0, Langs.head)) {
          case (acc, (l, i)) => acc.when(col("best.nrank") === -i, l)
        }
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          array_max(array(cands: _*)).as("best"), size(toks).as("n"))
        .select(col("doc_id"), col("lang"), predLang.as("pred_lang"),
          round(col("best.hit").cast("double") / col("n"), 6).as("score"))
        .orderBy("doc_id")
    },

    Q(
      "q_text_quality",
      "per-doc quality scoring: token count, whitespace vs BPE-ish " +
        "regex subtoken count, mean token length, stopword ratio, " +
        "type-token ratio — all per-row expression work on the scan, " +
        "zero shuffle until the final output sort",
      Some(
        """SELECT doc_id,
          |  len(string_split(lower(text), ' ')) AS n_tokens,
          |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS n_subtokens,
          |  round(CAST(len(replace(text, ' ', '')) AS DOUBLE)
          |        / len(string_split(lower(text), ' ')), 6) AS mean_tok_len,
          |  round(CAST(len(list_filter(string_split(lower(text), ' '),
          |        w -> w IN ('the', 'a'))) AS DOUBLE)
          |        / len(string_split(lower(text), ' ')), 6) AS stopword_ratio,
          |  round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
          |        / len(string_split(lower(text), ' ')), 6) AS type_token_ratio
          |FROM documents ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val nTok = size(toks)
      Tables.documents(s, dir).select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+"), lit(0)))
          .cast("long").as("n_subtokens"),
        round(nonSpaceChars.cast("double") / nTok, 6).as("mean_tok_len"),
        round(size(filter(toks, w => w === "the" || w === "a")).cast("double") / nTok, 6)
          .as("stopword_ratio"),
        round(size(array_distinct(toks)).cast("double") / nTok, 6)
          .as("type_token_ratio"),
      ).orderBy("doc_id")
    },

    Q(
      "q_kl_domains",
      "DOMAIN SHIFT audit: KL divergence (bits) of each source's " +
        "unigram distribution from the corpus mixture — the number " +
        "DoReMi-style mixture tuning and dataset cards both want " +
        "('how far is this slice from what the model will see?'), " +
        "computed exactly where q_psi_drift would bin. No smoothing " +
        "hack is needed or used: the corpus marginal dominates every " +
        "source (n_w ≥ n_sw > 0 on the summed support), so every " +
        "log2 argument is a ratio of positive exact BIGINTs. " +
        "Per-word terms (n_sw/N_s)·log2(n_sw·N/(N_s·n_w)) are " +
        "mirrored IEEE on the 1e-9 grid, summed in BIGINT per source " +
        "— the quantize-then-sum discipline over the vocab-bounded " +
        "(source × word) rollup. At 100 TB: one corpus pass to " +
        "per-(source, word) counts, marginals by rollup, #sources " +
        "rows out",
      Some(
        """WITH w AS (
          |  SELECT source, unnest(string_split(lower(text), ' ')) AS w
          |  FROM documents
          |), t AS (
          |  SELECT source, w, CAST(count(*) AS BIGINT) AS nsw
          |  FROM w WHERE w <> '' GROUP BY source, w
          |), m AS (
          |  SELECT source, w, nsw,
          |    CAST(sum(nsw) OVER (PARTITION BY source) AS BIGINT) AS ns,
          |    CAST(sum(nsw) OVER (PARTITION BY w) AS BIGINT) AS nw,
          |    CAST(sum(nsw) OVER () AS BIGINT) AS n
          |  FROM t
          |), q AS (
          |  SELECT source, max(ns) AS n_tokens,
          |    CAST(count(*) AS BIGINT) AS n_types,
          |    CAST(sum(CAST(round(CAST(nsw AS DOUBLE) / ns
          |      * log2(CAST(nsw AS DOUBLE) * n
          |        / (CAST(ns AS DOUBLE) * nw))
          |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS kl9
          |  FROM m GROUP BY source
          |)
          |SELECT source, n_tokens, n_types,
          |  round(CAST(kl9 AS DOUBLE) / 1000000000.0, 6) AS kl_bits
          |FROM q ORDER BY source""".stripMargin),
    ) { (s, dir) =>
      klDomains(Tables.documents(s, dir)
        .select(col("source"),
          explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= ""))
    },

    Q(
      "q_unicode_norm",
      "UNICODE NFC NORMALIZATION pass over the corpus — " +
        "`nfc_normalize`, graft's tenth codegen'd Catalyst " +
        "expression (Spark ships NO normalization function): 'é' " +
        "and 'e'+COMBINING ACUTE are byte-different, hash-different, " +
        "MinHash-different — and the same text; composing FIRST is " +
        "what makes every fingerprint downstream mean text equality " +
        "rather than encoding equality. The corpus is ASCII, so the " +
        "query PLANTS the hazard deterministically: every 'e' is " +
        "decomposed to e+U+0301, normalized back, and checked " +
        "per-document against the directly-composed é twin — the " +
        "per-doc equality flag rides the gate, pinning JVM " +
        "Normalizer against DuckDB's utf8proc on real data (NFC " +
        "composition is frozen by Unicode policy, which is why the " +
        "two independent implementations must and do agree). " +
        "Code-point accounting (before/after/composed counts) comes " +
        "along per lang. At 100 TB: pure per-row expression work, " +
        "zero pre-agg shuffles, #langs rows out",
      Some(
        """WITH d AS (
          |  SELECT lang,
          |    replace(text, 'e', 'e' || chr(769)) AS dec_text,
          |    replace(text, 'e', chr(233)) AS comp_text
          |  FROM documents
          |), n AS (
          |  SELECT lang, dec_text,
          |    nfc_normalize(dec_text) AS norm_text, comp_text
          |  FROM d
          |)
          |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(length(dec_text)) AS BIGINT) AS cp_decomposed,
          |  CAST(sum(length(norm_text)) AS BIGINT) AS cp_normalized,
          |  CAST(sum(length(dec_text)) - sum(length(norm_text))
          |    AS BIGINT) AS n_composed,
          |  CAST(min(CASE WHEN norm_text = comp_text THEN 1 ELSE 0 END)
          |    AS BIGINT) AS all_composed
          |FROM n GROUP BY lang ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          regexp_replace(col("text"), "e", "é").as("dec_text"),
          regexp_replace(col("text"), "e", "é").as("comp_text"))
        .selectExpr("lang", "dec_text",
          "nfc_normalize(dec_text) AS norm_text", "comp_text")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("dec_text"))).cast("long").as("cp_decomposed"),
          sum(length(col("norm_text"))).cast("long").as("cp_normalized"),
          (sum(length(col("dec_text"))) - sum(length(col("norm_text"))))
            .cast("long").as("n_composed"),
          min(when(col("norm_text") === col("comp_text"), 1)
            .otherwise(0)).cast("long").as("all_composed"))
        .orderBy("lang")
    },

    Q(
      "q_cohens_kappa",
      "COHEN'S KAPPA between two independent document labelers — the " +
        "chance-corrected agreement every labeling pipeline must " +
        "report before trusting 'our cheap filter agrees with the " +
        "model' (raw agreement is inflated by marginal imbalance; " +
        "kappa subtracts the agreement two UNRELATED labelers with " +
        "the same marginals would get). Labeler A buckets by chars " +
        "(n_chars div 300, capped at 2), labeler B by exact token " +
        "count (the space-count identity, mirrored text — no " +
        "tokenizer convention trusted), so the two views correlate " +
        "but not trivially. Everything decisive is EXACT integers: " +
        "the ≤9-cell confusion rollup, diagonal D, the chance term " +
        "P = Σ_l r_l·c_l, and kappa = (N·D − P)/(N² − P) in " +
        "DECIMAL(38,0)/HUGEINT with ONE mirrored division, 6dp " +
        "(pe = 1 degenerates to NULL). At 100 TB: one corpus pass to " +
        "the label-pair cells, all algebra on the 9-row rollup, " +
        "1-row output",
      Some(
        """WITH l AS (
          |  SELECT least(n_chars // 300, 2) AS la,
          |    least((length(text) - length(replace(text, ' ', '')) + 1)
          |      // 60, 2) AS lb
          |  FROM documents
          |), cells AS (
          |  SELECT la, lb, CAST(count(*) AS BIGINT) AS o
          |  FROM l GROUP BY la, lb
          |), nd AS (
          |  SELECT CAST(sum(o) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN la = lb THEN o ELSE 0 END) AS BIGINT) AS d
          |  FROM cells
          |), r AS (
          |  SELECT la AS lab, CAST(sum(o) AS BIGINT) AS rl
          |  FROM cells GROUP BY la
          |), c AS (
          |  SELECT lb AS lab, CAST(sum(o) AS BIGINT) AS cl
          |  FROM cells GROUP BY lb
          |), p AS (
          |  SELECT CAST(sum(CAST(rl AS HUGEINT) * cl) AS HUGEINT) AS p
          |  FROM r JOIN c ON r.lab = c.lab
          |)
          |SELECT n, d AS n_agree,
          |  round(CAST(d AS DOUBLE) / n, 6) AS po,
          |  round(CAST(p AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS pe,
          |  CASE WHEN CAST(n AS HUGEINT) * n = p THEN NULL ELSE
          |    round(CAST(CAST(n AS HUGEINT) * d - p AS DOUBLE)
          |      / CAST(CAST(n AS HUGEINT) * n - p AS DOUBLE), 6) END
          |    AS kappa
          |FROM nd CROSS JOIN p""".stripMargin),
    ) { (s, dir) =>
      cohensKappa(Tables.documents(s, dir).selectExpr(
        "least(n_chars DIV 300, 2) AS la",
        """least((length(text) - length(replace(text, ' ', '')) + 1)
          |  DIV 60, 2) AS lb""".stripMargin))
    },

    Q(
      "q_gopher_rules",
      "Gopher-style composite quality RULE filter (the rule-set shape " +
        "of Rae et al. 2021 §A1.1, thresholds adapted to this corpus): " +
        "five per-doc rules — token count in [20, 100000], mean token " +
        "length in [3, 10], ≥ 2 stopword hits, type-token ratio ≥ 0.3, " +
        "max token length ≤ 12 — each emitted as its own flag plus the " +
        "AND-of-all keep verdict, so a curation run can report WHICH " +
        "rule killed a doc (the per-rule rejection histogram every " +
        "pipeline dashboard wants). All five rules are per-row array " +
        "expression work on the scan — zero shuffles before the output " +
        "sort; every ratio is a single IEEE division of identical " +
        "integer operands in both engines, so threshold comparisons " +
        "cannot drift. Complements q_text_quality (raw signals), " +
        "q_quality_model (learned weights) and q_lm_score (perplexity) " +
        "as the fourth, rule-based quality signal",
      Some(
        """SELECT doc_id, n_tokens, stopword_n, max_tok_len,
          |  round(mean_tok_len, 6) AS mean_tok_len,
          |  round(ttr, 6) AS type_token_ratio,
          |  r_len, r_mean, r_stop, r_ttr, r_maxlen,
          |  (r_len AND r_mean AND r_stop AND r_ttr AND r_maxlen) AS keep
          |FROM (
          |  SELECT doc_id, n_tokens, stopword_n, max_tok_len, mean_tok_len, ttr,
          |    (n_tokens >= 20 AND n_tokens <= 100000) AS r_len,
          |    (mean_tok_len >= 3.0 AND mean_tok_len <= 10.0) AS r_mean,
          |    (stopword_n >= 2) AS r_stop,
          |    (ttr >= 0.3) AS r_ttr,
          |    (max_tok_len <= 12) AS r_maxlen
          |  FROM (
          |    SELECT doc_id,
          |      len(t) AS n_tokens,
          |      len(list_filter(t, w -> w IN ('the', 'a'))) AS stopword_n,
          |      list_max(list_transform(t, w -> len(w))) AS max_tok_len,
          |      CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(t) AS mean_tok_len,
          |      CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr
          |    FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t
          |          FROM documents)))
          |ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val nTok = size(toks)
      val base = Tables.documents(s, dir).select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        size(filter(toks, w => w === "the" || w === "a")).cast("long").as("stopword_n"),
        array_max(transform(toks, w => length(w))).cast("long").as("max_tok_len"),
        (nonSpaceChars.cast("double") / nTok).as("mean_tok_len"),
        (size(array_distinct(toks)).cast("double") / nTok).as("ttr"),
      ).select(
        col("doc_id"), col("n_tokens"), col("stopword_n"), col("max_tok_len"),
        col("mean_tok_len"), col("ttr"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 100000).as("r_len"),
        (col("mean_tok_len") >= 3.0 && col("mean_tok_len") <= 10.0).as("r_mean"),
        (col("stopword_n") >= 2).as("r_stop"),
        (col("ttr") >= 0.3).as("r_ttr"),
        (col("max_tok_len") <= 12).as("r_maxlen"),
      )
      base.select(
        col("doc_id"), col("n_tokens"), col("stopword_n"), col("max_tok_len"),
        round(col("mean_tok_len"), 6).as("mean_tok_len"),
        round(col("ttr"), 6).as("type_token_ratio"),
        col("r_len"), col("r_mean"), col("r_stop"), col("r_ttr"), col("r_maxlen"),
        (col("r_len") && col("r_mean") && col("r_stop") && col("r_ttr")
          && col("r_maxlen")).as("keep"),
      ).orderBy("doc_id")
    },

    Q(
      "q_bigrams",
      "top-20 bigrams: explode adjacent token pairs, keyed agg bounded " +
        "by vocab², TakeOrderedAndProject for the top-k (per-partition " +
        "heap, never a full sort)",
      Some(
        """SELECT bigram, count(*) AS cnt FROM (
          |  SELECT t[i+1] || ' ' || t[i+2] AS bigram FROM (
          |    SELECT t, unnest(range(len(t)-1)) AS i
          |    FROM (SELECT string_split(lower(text), ' ') AS t FROM documents)
          |    WHERE len(t) >= 2))
          |GROUP BY bigram
          |ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin),
    ) { (s, dir) =>
      Tables.documents(s, dir)
        .select(toks.as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(transform(
          sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ", element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)
    },

    Q(
      "q_hash_sample",
      "reproducible 10% corpus sample: bucket = portable hash of the " +
        "CONTENT mod 100 — deterministic across engines, runs, and " +
        "cluster sizes (unlike rand()-based TABLESAMPLE), stable under " +
        "re-partitioning, and unbiased for content-correlated skew",
      Some(
        s"""SELECT doc_id, lang, n_chars
           |FROM documents
           |WHERE ${Portable.md5Hash60Sql("text")} % 100 < 10
           |ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      Tables.documents(s, dir)
        .filter(pmod(Portable.md5Hash60(col("text")), lit(100)) < 10)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    Q(
      "q_train_split",
      "reproducible train/val/test split (80/10/10) by content hash: " +
        "the assignment is a pure per-row function, so adding data " +
        "never reshuffles existing rows between splits; summary is one " +
        "tiny keyed agg",
      Some(
        s"""SELECT split, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
           |FROM (
           |  SELECT doc_id, n_chars,
           |    CASE WHEN ${Portable.md5Hash60Sql("text")} % 100 < 80 THEN 'train'
           |         WHEN ${Portable.md5Hash60Sql("text")} % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM documents)
           |GROUP BY split ORDER BY split""".stripMargin),
    ) { (s, dir) =>
      val bucket = pmod(Portable.md5Hash60(col("text")), lit(100))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy("split")
    },

    Q(
      "q_group_split",
      "GROUP-aware train/val/test split (80/10/10 by source hash): " +
        "every document of a source lands in the SAME split — the " +
        "leakage guard q_train_split's per-document hash cannot give, " +
        "because near-duplicates cluster within a source (same crawl, " +
        "same template, same site) and a row-level split scatters " +
        "them across train and test. Assignment stays a pure per-row " +
        "function of the group key, so new documents of a known " +
        "source join its split and never reshuffle history; the " +
        "realized ratios are quantized by group count (20 sources " +
        "here — reported per split as n_sources, stated, not hidden: " +
        "group-split granularity IS the group count). One tiny keyed " +
        "agg; at 100 TB identical — the split column is born at scan " +
        "time",
      Some(
        s"""SELECT split, count(DISTINCT source) AS n_sources,
           |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
           |FROM (
           |  SELECT doc_id, source,
           |    CASE WHEN ${Portable.md5Hash60Sql("source")} % 100 < 80 THEN 'train'
           |         WHEN ${Portable.md5Hash60Sql("source")} % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM documents)
           |GROUP BY split ORDER BY split""".stripMargin),
    ) { (s, dir) =>
      val bucket = pmod(Portable.md5Hash60(col("source")), lit(100))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy("split")
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
        .orderBy("split")
    },

    Q(
      "q_corpus_pipeline",
      "THE end-to-end curation funnel a pretraining team runs — " +
        "quality filter → exact dedup (windowed keep-first) → NEAR " +
        "dedup (MinHash bands over the exact-dedup survivors → " +
        "candidate pairs ≥ 0.5 est-Jaccard → connected-component " +
        "min-label canonicalization, so each near-dup cluster keeps " +
        "exactly its lowest-id member) → content-hash split. The " +
        "output IS the funnel: one row per stage with surviving doc " +
        "and char counts (stages 0-3), then the per-(split, lang) " +
        "distribution of the final corpus (stage 4). Every stage is " +
        "an operator the engine exposes standalone (q_text_quality, " +
        "q_dedup_exact, q_dedup_near + q_dedup_cluster, q_splits). " +
        "Scale: filter and split are per-row scan work; exact dedup " +
        "is one content-hash-keyed shuffle; near-dedup candidates " +
        "come from band equi-joins (never all-pairs) over the " +
        "ALREADY-SHRUNK survivor set, and the component fixpoint is " +
        "diameter-bounded doc-keyed shuffles (checkpoint-per-round)",
      Some {
        val funnelRow = (stage: String, src: String) =>
          s"""SELECT '$stage' AS stage, '' AS split, '' AS lang,
             |    count(*) AS n_docs,
             |    CAST(coalesce(sum(n_chars), CAST(0 AS BIGINT)) AS BIGINT)
             |      AS sum_chars
             |  FROM $src""".stripMargin
        s"""WITH RECURSIVE q AS (
           |  SELECT doc_id, lang, n_chars, text FROM documents
           |  WHERE length(text) >= 50
           |    AND len(string_split(lower(text), ' ')) >= 5
           |), ex AS (
           |  SELECT doc_id, lang, n_chars, text FROM (
           |    SELECT doc_id, lang, n_chars, text,
           |      row_number() OVER (PARTITION BY sha256(text)
           |        ORDER BY doc_id) AS rn
           |    FROM q) WHERE rn = 1
           |), ${DedupOps.minhashPairsSqlCteFrom("ex")},
           |${DedupOps.ccSqlCte()},
           |nd AS (
           |  SELECT ex.doc_id, ex.lang, ex.n_chars, ex.text
           |  FROM ex LEFT JOIN final f ON ex.doc_id = f.doc_id
           |  WHERE f.doc_id IS NULL OR f.label = ex.doc_id
           |), splits AS (
           |  SELECT lang, n_chars,
           |    CASE WHEN ${Portable.md5Hash60Sql("text")} % 100 < 80 THEN 'train'
           |         WHEN ${Portable.md5Hash60Sql("text")} % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM nd)
           |${funnelRow("0_raw", "documents")}
           |UNION ALL ${funnelRow("1_quality", "q")}
           |UNION ALL ${funnelRow("2_exact_dedup", "ex")}
           |UNION ALL ${funnelRow("3_near_dedup", "nd")}
           |UNION ALL
           |SELECT '4_split' AS stage, split, lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM splits GROUP BY split, lang
           |ORDER BY stage, split, lang""".stripMargin
      },
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val q = docs.filter(length(col("text")) >= 50 && size(toks) >= 5)
      val wEx = Window.partitionBy(sha2(col("text"), 256)).orderBy("doc_id")
      // Exact-dedup survivors feed three consumers (near-dup pairs,
      // survivor filter, funnel count) — materialize once.
      val ex = q.withColumn("rn", row_number().over(wEx))
        .filter(col("rn") === 1)
        .select("doc_id", "lang", "n_chars", "text")
        .localCheckpoint()
      val pairs = DedupOps.minhashPairsOf(s, ex)
        .filter(col("est_jaccard") >= DedupOps.CcEdgeThreshold)
      val labels = DedupOps.ccMinLabels(pairs)
      val nd = ex.join(labels, Seq("doc_id"), "left")
        .filter(col("label").isNull || col("label") === col("doc_id"))
        .select("doc_id", "lang", "n_chars", "text")
        .localCheckpoint()
      val bucket = pmod(Portable.md5Hash60(col("text")), lit(100))
      val splits = nd.select(col("lang"), col("n_chars"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
      def funnelRow(stage: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
          .select(lit(stage).as("stage"), lit("").as("split"),
            lit("").as("lang"), col("n_docs"), col("sum_chars"))
      funnelRow("0_raw", docs)
        .unionAll(funnelRow("1_quality", q))
        .unionAll(funnelRow("2_exact_dedup", ex))
        .unionAll(funnelRow("3_near_dedup", nd))
        .unionAll(splits
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .select(lit("4_split").as("stage"), col("split"), col("lang"),
            col("n_docs"), col("sum_chars")))
        .orderBy("stage", "split", "lang")
    },

    Q(
      "q_fingerprint",
      "rolling char-5-gram fingerprint: min portable hash over the " +
        "gram stream per doc (a 1-hash minhash — winnowing's shape " +
        "without the window), plus distinct-gram count; per-row " +
        "expression work + one doc-keyed agg",
      Some(
        s"""SELECT doc_id,
           |  min(${Portable.md5Hash60Sql("g")}) AS fingerprint,
           |  count(DISTINCT g) AS n_grams
           |FROM (
           |  SELECT doc_id, substr(lower(text), i+1, 5) AS g FROM (
           |    SELECT doc_id, text, unnest(range(length(text)-4)) AS i
           |    FROM documents WHERE length(text) >= 5))
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      // Both outputs are per-row functions of the gram array, so the
      // explode + doc-keyed agg (and its shuffle) the first version
      // used is unnecessary: zero exchanges before the output sort.
      val grams = transform(
        sequence(lit(0), length(col("text")) - 5),
        i => lower(col("text")).substr(i + 1, lit(5)))
      Tables.documents(s, dir)
        .filter(length(col("text")) >= 5)
        .select(col("doc_id"), grams.as("grams"))
        .select(col("doc_id"),
          array_min(transform(col("grams"), g => Portable.md5Hash60(g))).as("fingerprint"),
          size(array_distinct(col("grams"))).cast("long").as("n_grams"))
        .orderBy("doc_id")
    },

    Q(
      "q_winnow",
      s"FULL winnowing (Schleimer et al., MOSS) — the windowed " +
        "upgrade q_fingerprint's 1-hash min gestures at: hash every " +
        s"char-$WinnowK-gram, slide a $WinnowW-gram window, keep each " +
        "window's MINIMUM hash, and report each doc's distinct " +
        "fingerprint set with its density. The winnowing guarantee: " +
        s"any shared substring of length ≥ ${WinnowW + WinnowK - 1} " +
        "chars yields at least one shared fingerprint, so the " +
        "fingerprint sets support plagiarism/near-dup detection with " +
        "bounded density (expected 2/(w+1) of gram positions). The " +
        "distinct VALUE set needs no tie rule — window minima are " +
        "values, not positions. Scale: pure per-row expression work " +
        "(gram hash array + sliding-window minima + distinct), zero " +
        "shuffles before the output sort; fingerprints become the " +
        "inverted-index key for candidate joins exactly like the " +
        "MinHash bands",
      Some(
        s"""WITH g AS (
           |  SELECT doc_id,
           |    list_transform(range(length(text) - ${WinnowK - 1}),
           |      i -> ${Portable.md5Hash60Sql(s"substr(lower(text), i + 1, $WinnowK)")}) AS hs
           |  FROM documents WHERE length(text) >= $WinnowK
           |), mins AS (
           |  SELECT doc_id,
           |    CASE WHEN len(hs) >= $WinnowW THEN
           |      list_distinct(list_transform(range(len(hs) - ${WinnowW - 1}),
           |        i -> list_min(hs[i + 1 : i + $WinnowW])))
           |    ELSE [list_min(hs)] END AS fps,
           |    len(hs) AS n_grams
           |  FROM g
           |)
           |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
           |  CAST(n_grams AS BIGINT) AS n_grams,
           |  list_min(fps) AS min_fp, list_max(fps) AS max_fp,
           |  CAST(list_sum(list_transform(fps, x -> x % 1000000007))
           |    AS BIGINT) AS fp_checksum
           |FROM mins
           |ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val hs = transform(
        sequence(lit(0), length(col("text")) - WinnowK),
        i => Portable.md5Hash60(lower(col("text")).substr(i + 1, lit(WinnowK))))
      val fps = when(size(col("hs")) >= WinnowW,
        array_distinct(transform(
          sequence(lit(0), size(col("hs")) - WinnowW),
          i => array_min(slice(col("hs"), i + 1, lit(WinnowW))))))
        .otherwise(array(array_min(col("hs"))))
      // Distinct-set summary per doc: count, extremes, and an exact
      // modular checksum — order-independent, so the fingerprint SET
      // itself is oracle-checked without emitting doc×fps rows.
      Tables.documents(s, dir)
        .filter(length(col("text")) >= WinnowK)
        .select(col("doc_id"), hs.as("hs"))
        .select(col("doc_id"), fps.as("fps"), size(col("hs")).cast("long").as("n_grams"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          col("n_grams"),
          array_min(col("fps")).as("min_fp"),
          array_max(col("fps")).as("max_fp"),
          aggregate(col("fps"), lit(0L),
            (acc, x) => acc + pmod(x, lit(1000000007L))).as("fp_checksum"))
        .orderBy("doc_id")
    },

    Q(
      "q_tfidf",
      "top-5 distinctive terms per lang by TF-IDF in ONE corpus pass: " +
        "a (lang, term)-keyed agg yields tf AND the per-lang distinct " +
        "doc count; corpus-wide df is then a term-keyed window sum " +
        "over the vocab-sized frame (a doc has one lang, so per-lang " +
        "distinct counts partition df exactly); the corpus size is a " +
        "1-row broadcast; tfidf rounded 6dp before ranking, ties by term",
      Some(
        """WITH tok AS (
          |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term
          |  FROM documents
          |), tf AS (
          |  SELECT lang, term, count(*) AS tf FROM tok GROUP BY lang, term
          |), df AS (
          |  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
          |), n AS (SELECT count(*) AS n_docs FROM documents),
          |scored AS (
          |  SELECT lang, tf.term AS term,
          |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
          |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
          |), ranked AS (
          |  SELECT lang, term, tfidf,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY tfidf DESC, term) AS rank
          |  FROM scored)
          |SELECT lang, term, tfidf, rank FROM ranked
          |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin),
    ) { (s, dir) =>
      // ONE corpus scan: tf and the per-lang distinct-doc count come
      // from the same (lang, term) aggregation; since every doc has
      // exactly one lang, corpus-wide df(term) = Σ_lang df_l — a
      // window sum over the already-vocab-sized frame. Everything
      // after the explode moves vocabulary rows, never corpus rows.
      // ln() is libm on both engines (last-ulp differences vanish
      // under the 6dp round).
      val agg = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), explode(toks).as("term"))
        .groupBy("lang", "term")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df_l"))
        .withColumn("df", sum(col("df_l")).over(Window.partitionBy("term")))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = agg.crossJoin(broadcast(n))
        .select(col("lang"), col("term"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
            .as("tfidf"))
      val w = Window.partitionBy("lang").orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .orderBy("lang", "rank")
    },

    Q(
      "q_lexical_knn",
      "lexical top-20 most-similar document pairs by TF-IDF cosine " +
        "over an inverted index with CHAMPION-LIST pruning (the " +
        "impact-ordered-postings trick): each term's posting list is " +
        s"cut to its top-$ChampK docs by (tf DESC, doc_id) — within a " +
        "term, df is constant, so tf-order IS tfidf-order and the " +
        "pruning decision is pure-integer, float-tie-proof. The pair " +
        s"join is term-keyed over champion lists only: ≤ vocab·$ChampK²/2 " +
        "candidate pairs regardless of corpus size, vs the quadratic " +
        "full inverted-index join. Doc norms use the FULL vectors (a " +
        "doc-keyed agg) and join back unhinted — at 100 TB that " +
        "degrades to two keyed shuffles, never a forced broadcast. " +
        "The only float ordering is the final 6dp-rounded cosine " +
        "top-20 via TakeOrderedAndProject, ties by pair ids — the " +
        "lexical complement to the embedding-space q_simsearch family",
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, term, count(*) AS tf FROM (
           |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           |    FROM documents)
           |  GROUP BY doc_id, term
           |), df AS (
           |  SELECT term, count(*) AS df FROM tok GROUP BY term
           |), n AS (SELECT count(*) AS n_docs FROM documents),
           |wgt AS (
           |  SELECT doc_id, tok.term AS term, tf,
           |    tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
           |  FROM tok JOIN df ON tok.term = df.term CROSS JOIN n
           |), nrm AS (
           |  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM wgt GROUP BY doc_id
           |), champ AS (
           |  ${ChampList.cutSql("doc_id, term, w", "doc_id, term, w", "wgt")}
           |), dots AS (
           |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           |    sum(x.w * y.w) AS dot
           |  FROM champ x JOIN champ y
           |    ON x.term = y.term AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2
           |)
           |SELECT doc_a, doc_b,
           |  round(dot / (a.nrm * b.nrm), 6) AS cosine
           |FROM dots
           |JOIN nrm a ON doc_a = a.doc_id
           |JOIN nrm b ON doc_b = b.doc_id
           |ORDER BY cosine DESC, doc_a, doc_b LIMIT 20""".stripMargin),
    ) { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(toks).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tok.groupBy("term").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val wgt = tok.join(df, "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"),
          (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("w"))
      val nrm = wgt.groupBy("doc_id")
        .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      val champ = ChampList.cut(wgt).select("doc_id", "term", "w")
      val dots = champ.as("x")
        .join(champ.as("y"),
          col("x.term") === col("y.term") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(sum(col("x.w") * col("y.w")).as("dot"))
      dots
        .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
        .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
        .limit(20)
        .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
    },

    Q(
      "q_repetition",
      "intra-document repetition scoring (the Gopher/C4 quality rule): " +
        "duplicate word-3-gram and duplicate-token ratios per doc — " +
        "pure per-row array math, linear in doc length, zero shuffles " +
        "before the output sort; the repetitive-doc filter downstream " +
        "is then a per-row predicate",
      Some(
        """SELECT doc_id,
          |  round(1 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
          |    AS dup_gram_ratio,
          |  round(1 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
          |    AS dup_token_ratio
          |FROM (
          |  SELECT doc_id, t,
          |    list_transform(range(len(t) - 2),
          |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) AS grams
          |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
          |  WHERE len(t) >= 3)
          |ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val grams = transform(sequence(lit(0), size(col("t")) - 3),
        i => concat_ws(" ",
          element_at(col("t"), i + 1),
          element_at(col("t"), i + 2),
          element_at(col("t"), i + 3)))
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 3)
        .withColumn("grams", grams)
        .select(col("doc_id"),
          round(lit(1) - size(array_distinct(col("grams"))).cast("double")
            / size(col("grams")), 6).as("dup_gram_ratio"),
          round(lit(1) - size(array_distinct(col("t"))).cast("double")
            / size(col("t")), 6).as("dup_token_ratio"))
        .orderBy("doc_id")
    },

    Q(
      "q_lm_score",
      "bigram-LM quality score (the CCNet-style LM filter): per-doc " +
        "mean log P(w2|w1) under corpus-wide MLE bigram statistics. " +
        "The corpus is exploded ONCE into per-doc bigram counts `bg` " +
        "(bounded by doc × distinct-bigrams, not token positions); " +
        "corpus stats c2 roll up from bg and prefix stats c1 roll up " +
        "from c2 (vocab-sized input — never a second corpus pass). " +
        "Every doc bigram exists in the stats by construction so the " +
        "MLE needs no smoothing. At 100 TB c2 is bigram-vocab-sized " +
        "and will NOT broadcast: the bg⋈c2 join degrades to a " +
        "(w1,w2)-keyed shuffle whose stream side is the pre-aggregated " +
        "bg, with AQE skew splitting on the Zipfian head keys — never " +
        "a shuffle of raw token positions. Per-bigram log-probs are " +
        "rounded to 6dp (absorbing libm ulp skew) then averaged in " +
        "exact fixed-point at scale 9, so accumulation is " +
        "order-independent at any parallelism. Low scores = " +
        "implausible token sequences, the standard pretraining " +
        "quality filter signal",
      Some(
        s"""WITH $LmDocCtes
           |SELECT doc_id, n_bigrams, avg_ll FROM docll ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      lmDocLL(s, dir).orderBy("doc_id")
    },

    Q(
      "q_ppl_buckets",
      "CCNet perplexity buckets: every doc lands in its language's " +
        "head/middle/tail LM-score tercile, the standard curriculum / " +
        "filtering signal. The tercile CUTOFFS are fit on a per-lang " +
        s"$PplSampleK-doc content-hash sample — exactly how CCNet " +
        "fits them, and the scale move that makes this honest: an " +
        "uncapped per-lang NTILE would drag every doc of a language " +
        "into one window partition, while here the only rank windows " +
        "run over the K-bounded sample (the hash-sample window is " +
        "WindowGroupLimit-pruned map-side like q_stratified_sample). " +
        "Cutoffs (#langs × 2 values) broadcast back to the full " +
        "score stream, so bucketing the corpus is a per-row " +
        "comparison with ZERO additional shuffles; the final rollup " +
        "is a langs×3-bounded agg with a fixed-point mean so " +
        "accumulation order can't smear the 6dp score",
      Some(
        s"""WITH $LmDocCtes,
           |lab AS (
           |  SELECT d.doc_id, d.lang, avg_ll, ${Portable.md5Hash60Sql("text")} AS h
           |  FROM docll JOIN documents d ON docll.doc_id = d.doc_id
           |), samp AS (
           |  SELECT lang, doc_id, avg_ll FROM (
           |    SELECT lang, doc_id, avg_ll,
           |      row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS srk
           |    FROM lab) WHERE srk <= $PplSampleK
           |), cut AS (
           |  SELECT lang,
           |    max(CASE WHEN rk = (m+2)//3 THEN avg_ll END) AS c1,
           |    max(CASE WHEN rk = (2*m+2)//3 THEN avg_ll END) AS c2
           |  FROM (
           |    SELECT lang, avg_ll,
           |      row_number() OVER (PARTITION BY lang
           |        ORDER BY avg_ll DESC, doc_id) AS rk,
           |      count(*) OVER (PARTITION BY lang) AS m
           |    FROM samp)
           |  GROUP BY lang
           |), bucketed AS (
           |  SELECT lab.lang,
           |    CASE WHEN avg_ll >= c1 THEN 'head'
           |         WHEN avg_ll >= c2 THEN 'middle'
           |         ELSE 'tail' END AS bucket,
           |    avg_ll
           |  FROM lab JOIN cut ON lab.lang = cut.lang)
           |SELECT lang, bucket, count(*) AS n_docs,
           |  round(CAST(sum(CAST(round(avg_ll * 1000000) AS BIGINT))
           |    / 1000000.0 / count(*) AS DOUBLE), 6) AS mean_ll
           |FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin),
    ) { (s, dir) =>
      val lab = lmDocLL(s, dir).join(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          Portable.md5Hash60(col("text")).as("h")), "doc_id")
      val samp = lab
        .withColumn("srk", row_number().over(
          Window.partitionBy("lang").orderBy("h", "doc_id")))
        .filter(col("srk") <= PplSampleK)
        .select("lang", "doc_id", "avg_ll")
      // Both rank windows below run over ≤ PplSampleK rows per lang;
      // the boundary-rank picks are exact integer arithmetic (ceil via
      // (m+2) div 3), so the fitted cutoffs are bit-identical across
      // engines and cluster sizes.
      val cut = samp
        .select(col("lang"), col("avg_ll"),
          row_number().over(Window.partitionBy("lang")
            .orderBy(col("avg_ll").desc, col("doc_id"))).cast("long").as("rk"),
          count(lit(1)).over(Window.partitionBy("lang")).as("m"))
        .groupBy("lang")
        .agg(
          max(when(col("rk") === expr("(m+2) div 3"), col("avg_ll"))).as("c1"),
          max(when(col("rk") === expr("(2*m+2) div 3"), col("avg_ll"))).as("c2"))
      lab.join(broadcast(cut), "lang")
        .select(col("lang"),
          when(col("avg_ll") >= col("c1"), "head")
            .when(col("avg_ll") >= col("c2"), "middle")
            .otherwise("tail").as("bucket"),
          col("avg_ll"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round((sum(round(col("avg_ll") * 1e6, 0).cast("long"))
            / 1e6 / count(lit(1))).cast("double"), 6).as("mean_ll"))
        .orderBy("lang", "bucket")
    },

    Q(
      "q_decontaminate",
      "train/test decontamination (the 13-gram overlap rule, sized to " +
        "this corpus as word-5-grams): distinct grams per doc, split " +
        "assigned by the same content hash as q_train_split, then a " +
        "gram-keyed inverted-index join test←train — candidates are " +
        s"O(shared grams), never test×train pairs; grams with df > " +
        s"$MaxGramDf (stop-grams, identically dropped in the oracle) " +
        "are excluded from matching, and df=1 grams — which cannot be " +
        "shared across splits — are pruned from the join input as a " +
        "pure optimization",
      Some(
        s"""WITH labeled AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS t,
           |    CASE WHEN ${Portable.md5Hash60Sql("text")} % 100 < 80 THEN 'train'
           |         WHEN ${Portable.md5Hash60Sql("text")} % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM documents
           |), grams0 AS (
           |  SELECT DISTINCT doc_id, split, unnest(list_transform(range(len(t) - 4),
           |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5])) AS g
           |  FROM labeled WHERE len(t) >= 5
           |), grams AS (
           |  SELECT doc_id, split, g FROM (
           |    SELECT doc_id, split, g, count(*) OVER (PARTITION BY g) AS df
           |    FROM grams0)
           |  WHERE df <= $MaxGramDf)
           |SELECT te.doc_id AS test_doc,
           |  count(DISTINCT tr.doc_id) AS n_train_docs,
           |  count(DISTINCT te.g) AS n_shared_grams
           |FROM grams te JOIN grams tr ON te.g = tr.g
           |WHERE te.split = 'test' AND tr.split = 'train'
           |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin),
    ) { (s, dir) =>
      val bucket = pmod(Portable.md5Hash60(col("text")), lit(100))
      val grams5 = transform(sequence(lit(0), size(col("t")) - 5),
        i => concat_ws(" ", (0 to 4).map(k => element_at(col("t"), i + k + 1)): _*))
      // The gram-df window's exchange IS the df aggregation (one
      // g-keyed shuffle); df > MaxGramDf stop-grams leave the matching
      // universe on both engines, and df = 1 grams — present in only
      // one doc, so never shared test↔train — are shed before the join
      // without changing any output row.
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("t"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .filter(size(col("t")) >= 5)
        .select(col("doc_id"), col("split"), explode(array_distinct(grams5)).as("g"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
        .filter(col("df") <= MaxGramDf && col("df") >= 2)
      grams.filter(col("split") === "test").as("te")
        .join(grams.filter(col("split") === "train").as("tr"),
          col("te.g") === col("tr.g"))
        .groupBy(col("te.doc_id").as("test_doc"))
        .agg(countDistinct(col("tr.doc_id")).as("n_train_docs"),
          countDistinct(col("te.g")).as("n_shared_grams"))
        .orderBy("test_doc")
    },

    Q(
      "q_stratified_sample",
      "per-lang stratified sample, 100 docs/stratum, ordered by " +
        "portable content hash (deterministic across engines, runs, " +
        "and cluster sizes — rand()-based sampling is none of those); " +
        "per-stratum rank = one lang-keyed window, and Spark's " +
        "WindowGroupLimit pushes the k-limit map-side so the shuffle " +
        "carries ≤k rows per stratum per partition",
      Some(
        s"""SELECT lang, doc_id, rank FROM (
           |  SELECT lang, doc_id,
           |    row_number() OVER (PARTITION BY lang
           |      ORDER BY ${Portable.md5Hash60Sql("text")}, doc_id) AS rank
           |  FROM documents)
           |WHERE rank <= 100 ORDER BY lang, rank""".stripMargin),
    ) { (s, dir) =>
      val w = Window.partitionBy("lang")
        .orderBy(Portable.md5Hash60(col("text")), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          row_number().over(w).cast("long").as("rank"))
        .filter(col("rank") <= 100)
        .orderBy("lang", "rank")
    },

    Q(
      "q_seq_pack",
      "sequence packing for LLM training: docs hash-bucketed into 32 " +
        "independent pack groups, filled in content-hash order into " +
        "2048-token bins via a per-group running sum — every group " +
        "packs in parallel (a global-order pack would serialize the " +
        "window), new data only appends bins, and bin occupancy is " +
        "the training-efficiency metric this emits",
      Some(
        s"""WITH d AS (
           |  SELECT ${Portable.md5Hash60Sql("text")} % 32 AS grp,
           |    ${Portable.md5Hash60Sql("text")} AS h, doc_id,
           |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
           |  FROM documents
           |), binned AS (
           |  SELECT grp, n_tokens,
           |    CAST((sum(n_tokens) OVER (PARTITION BY grp ORDER BY h, doc_id
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |     - n_tokens) // 2048 AS BIGINT) AS bin
           |  FROM d)
           |SELECT grp, bin, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
           |FROM binned GROUP BY grp, bin ORDER BY grp, bin""".stripMargin),
    ) { (s, dir) =>
      val h = Portable.md5Hash60(col("text"))
      val d = Tables.documents(s, dir)
        .select((h % 32).as("grp"), h.as("h"), col("doc_id"),
          size(toks).cast("long").as("n_tokens"))
      val w = Window.partitionBy("grp").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Pure BIGINT arithmetic on both engines: Spark `div` truncates and
      // DuckDB `//` floors, identical on the non-negative running sum — no
      // double-precision round-trip anywhere in the bin computation.
      d.withColumn("cum", sum(col("n_tokens")).over(w) - col("n_tokens"))
        .withColumn("bin", expr("cum div 2048"))
        .drop("cum")
        .groupBy("grp", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("grp", "bin")
    },

    Q(
      "q_sample_mix",
      "temperature-sampled language mix (α=0.5): per-lang keep rate " +
        "√(n_min/n_lang) flattens the language distribution toward " +
        "uniform — the standard multilingual training-mix rebalance. " +
        "Rates come from a #langs-bounded agg broadcast back to the " +
        "scan; the keep decision is a per-row content-hash threshold, " +
        "so the corpus never shuffles, the sample is reproducible at " +
        "any cluster size, and new data joins the mix without " +
        "re-sampling old rows. Thresholds scale by 2^20 (exact in " +
        "IEEE), keeping both engines bit-identical with no float " +
        "rounding anywhere but the final display column",
      Some(
        s"""WITH c AS (
           |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
           |), m AS (
           |  SELECT min(n_docs) AS n_min FROM c
           |), r AS (
           |  SELECT lang, n_docs,
           |    CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_docs) * 1048576) AS BIGINT) AS thresh
           |  FROM c, m
           |), k AS (
           |  SELECT d.lang, count(*) AS n_kept
           |  FROM documents d JOIN r ON d.lang = r.lang
           |  WHERE (${Portable.md5Hash60Sql("d.text")} % 1048576) < r.thresh
           |  GROUP BY d.lang
           |)
           |SELECT r.lang, r.n_docs, k.n_kept,
           |  round(thresh / 1048576.0, 6) AS rate
           |FROM r JOIN k ON r.lang = k.lang ORDER BY r.lang""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      // Global min over the #langs-sized count table via an unpartitioned
      // window: the SinglePartition exchange moves #langs rows, and the
      // lang-count agg runs once (a crossJoin with a separate min agg
      // would recompute it).
      val rates = counts
        .withColumn("n_min", min(col("n_docs")).over(Window.partitionBy()))
        .withColumn("thresh",
          floor(sqrt(col("n_min").cast("double") / col("n_docs")) * 1048576)
            .cast("long"))
      val kept = docs
        .select(col("lang"), (Portable.md5Hash60(col("text")) % 1048576).as("b"))
        .join(broadcast(rates.select("lang", "thresh")), Seq("lang"))
        .filter(col("b") < col("thresh"))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("n_kept"),
          round(col("thresh") / lit(1048576.0), 6).as("rate"))
        .orderBy("lang")
    },

    Q(
      "q_dsir_select",
      "DSIR data selection (Xie et al. 2023, Data Selection via " +
        s"Importance Resampling — the pretraining-curation method " +
        s"behind domain-targeted corpus building): hashed word " +
        s"features ($DsirBuckets md5 buckets), two add-1-smoothed " +
        s"bucket unigram LMs — the TARGET domain (lang = " +
        s"'$DsirTargetLang' standing in for the held-out domain " +
        s"sample) and the RAW corpus — and each document scored by " +
        "its exact-integer sum of per-bucket log importance ratios " +
        "(ln ratios rounded once onto the ×1e6 grid, the unigram-LM " +
        s"precedent, so the per-doc sum is order-free BIGINT); the " +
        s"top $DsirK by (score, doc_id) are selected and the " +
        "readout is the per-lang corpus-vs-selected mix — the shift " +
        "toward target-LIKE CONTENT (not target labels: DsirSpec " +
        "plants off-target-language docs with target-like tokens " +
        "and pins that they are selected over target-language-" +
        "agnostic ones). Scale: both LMs are B-bounded state built " +
        "by one token pass; scoring is a broadcast join of the " +
        s"$DsirBuckets-row ratio table against exploded tokens + " +
        "one doc-keyed exact sum; selection is orderBy-limit " +
        "(TakeOrdered — per-partition heap + driver merge of " +
        s"$DsirK rows, never a global sort); raw sum is " +
        "length-biased exactly as the original method (documented " +
        "there too — normalization is a caller-side variant)",
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, lang, w FROM (
           |    SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
           |    FROM documents) WHERE w <> ''
           |), bt AS (
           |  SELECT doc_id, lang,
           |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $DsirBuckets AS b
           |  FROM tok
           |), ct AS (
           |  SELECT b, count(*) AS c FROM bt WHERE lang = '$DsirTargetLang'
           |  GROUP BY b
           |), cr AS (
           |  SELECT b, count(*) AS c FROM bt GROUP BY b
           |), tot AS (
           |  SELECT (SELECT count(*) FROM bt WHERE lang = '$DsirTargetLang') AS nt,
           |         (SELECT count(*) FROM bt) AS nr
           |), lr AS (
           |  SELECT cr.b,
           |    CAST(round((ln(coalesce(ct.c, 0) + 1) - ln(nt + $DsirBuckets)
           |      - ln(cr.c + 1) + ln(nr + $DsirBuckets)) * 1000000) AS BIGINT)
           |      AS lr6
           |  FROM cr LEFT JOIN ct ON ct.b = cr.b CROSS JOIN tot
           |), scored AS (
           |  SELECT bt.doc_id, bt.lang, CAST(sum(lr.lr6) AS BIGINT) AS score6
           |  FROM bt JOIN lr ON lr.b = bt.b
           |  GROUP BY bt.doc_id, bt.lang
           |), sel AS (
           |  SELECT doc_id, lang FROM (
           |    SELECT doc_id, lang,
           |      row_number() OVER (ORDER BY score6 DESC, doc_id) AS rk
           |    FROM scored) WHERE rk <= $DsirK
           |), corpus AS (
           |  SELECT lang, CAST(count(*) AS BIGINT) AS n_corpus
           |  FROM documents GROUP BY lang
           |), chosen AS (
           |  SELECT lang, CAST(count(*) AS BIGINT) AS n_selected
           |  FROM sel GROUP BY lang
           |)
           |SELECT c.lang, c.n_corpus, coalesce(ch.n_selected, 0) AS n_selected
           |FROM corpus c LEFT JOIN chosen ch ON ch.lang = c.lang
           |ORDER BY c.lang""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bt = docs
        .select(col("doc_id"), col("lang"),
          explode(expr("filter(split(lower(text), ' '), x -> x <> '')"))
            .as("w"))
        .select(col("doc_id"), col("lang"),
          (Portable.md5Hash60(col("w")) % DsirBuckets).as("b"))
      val ct = bt.filter(col("lang") === DsirTargetLang)
        .groupBy("b").agg(count(lit(1)).as("c_t"))
      val cr = bt.groupBy("b").agg(count(lit(1)).as("c_r"))
      val tot = bt.agg(
        sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("nt"),
        count(lit(1)).as("nr"))
      val lr = cr.join(ct, Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .select(col("b"),
          round((log(coalesce(col("c_t"), lit(0L)) + 1)
            - log(col("nt") + DsirBuckets)
            - log(col("c_r") + 1)
            + log(col("nr") + DsirBuckets)) * 1e6, 0).cast("long").as("lr6"))
      val scored = bt.join(broadcast(lr), Seq("b"))
        .groupBy("doc_id", "lang").agg(sum(col("lr6")).as("score6"))
      val sel = scored.orderBy(col("score6").desc, col("doc_id"))
        .limit(DsirK)
      val corpus = docs.groupBy("lang").agg(count(lit(1)).as("n_corpus"))
      val chosen = sel.groupBy("lang").agg(count(lit(1)).as("n_selected"))
      corpus.join(chosen, Seq("lang"), "left")
        .select(col("lang"), col("n_corpus"),
          coalesce(col("n_selected"), lit(0L)).as("n_selected"))
        .orderBy("lang")
    },

    Q(
      "q_domain_mix",
      "token-budget waterfilling across domains (the data-mixing " +
        "allocator behind DoReMi-style recipes): given per-lang token " +
        "counts and a budget of 80% of the corpus, every domain keeps " +
        "min(its tokens, λ) where the water level λ is chosen so " +
        "allocations exactly exhaust the budget — small domains " +
        "survive whole, big ones are capped at a common level. The " +
        "corpus contributes ONE map-side-combined sum per lang; " +
        "everything after runs on the #langs-row aggregate: the " +
        "ascending-count window, the boundary search (pure BIGINT " +
        "comparisons — c·(n-rn+1) ≥ remaining — so the capped set is " +
        "exact, never a float guess), and the single-row λ broadcast " +
        "back onto the domain table. λ itself is the only double, " +
        "computed once from exact integers and rounded half-away on " +
        "both engines",
      Some(
        s"""WITH c AS (
           |  SELECT lang, CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS tokens
           |  FROM documents GROUP BY lang
           |), tot AS (
           |  SELECT CAST(sum(tokens) AS BIGINT) AS total,
           |    (CAST(sum(tokens) AS BIGINT) * 4) // 5 AS b
           |  FROM c
           |), ranked AS (
           |  SELECT lang, tokens,
           |    row_number() OVER (ORDER BY tokens, lang) AS rn,
           |    count(*) OVER () AS n,
           |    CAST(sum(tokens) OVER (ORDER BY tokens, lang
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
           |  FROM c
           |), bnd AS (
           |  SELECT rn AS k,
           |    CAST(b - (s - tokens) AS DOUBLE) / (n - rn + 1) AS lam
           |  FROM ranked CROSS JOIN tot
           |  WHERE tokens * (n - rn + 1) >= b - (s - tokens)
           |  ORDER BY rn LIMIT 1
           |)
           |SELECT lang, tokens, alloc,
           |  round(CAST(alloc AS DOUBLE) / total, 6) AS frac
           |FROM (
           |  SELECT r.lang, r.tokens,
           |    CASE WHEN bnd.k IS NULL OR r.rn < bnd.k THEN r.tokens
           |         ELSE CAST(round(lam) AS BIGINT) END AS alloc
           |  FROM ranked r LEFT JOIN bnd ON TRUE
           |) CROSS JOIN tot ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      val c = Tables.documents(s, dir)
        .select(col("lang"), size(toks).cast("long").as("nt"))
        .groupBy("lang").agg(sum(col("nt")).as("tokens"))
      val tot = c.agg(sum(col("tokens")).as("total"),
        expr("sum(tokens) * 4 div 5").as("b"))
      // All three windows below run over the #langs-row aggregate —
      // the SinglePartition exchange moves #langs rows, same bounded
      // shape as q_sample_mix's min window.
      val ord = Window.orderBy("tokens", "lang")
      val ranked = c.select(col("lang"), col("tokens"),
          row_number().over(ord).cast("long").as("rn"),
          count(lit(1)).over(Window.partitionBy()).as("n"),
          sum(col("tokens")).over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("s"))
        .crossJoin(broadcast(tot))
      val bnd = ranked
        .filter(col("tokens") * (col("n") - col("rn") + 1)
          >= col("b") - (col("s") - col("tokens")))
        .select(col("rn").as("k"),
          ((col("b") - (col("s") - col("tokens"))).cast("double")
            / (col("n") - col("rn") + 1)).as("lam"))
        .orderBy("k").limit(1)
      ranked.join(broadcast(bnd), lit(true), "left")
        .select(col("lang"), col("tokens"), col("total"),
          when(col("k").isNull || col("rn") < col("k"), col("tokens"))
            .otherwise(round(col("lam"), 0).cast("long")).as("alloc"))
        .select(col("lang"), col("tokens"), col("alloc"),
          round(col("alloc").cast("double") / col("total"), 6).as("frac"))
        .orderBy("lang")
    },

    Q(
      "q_vocab_ids",
      "tokenizer prep: TOP-K frequency-ranked vocabulary with " +
        s"contiguous ids (K = $VocabCap, ties broken lexically), " +
        "out-of-vocabulary tokens mapped to the reserved OOV id K — " +
        "what a real tokenizer does, and what keeps every piece of " +
        "this K-bounded at web scale where the RAW word vocabulary is " +
        "unbounded junk. The vocab agg is a token-keyed shuffle; the " +
        "top-K select is a distributed TakeOrdered (per-partition " +
        "heads, no global sort of the full vocab); id assignment is a " +
        "window over exactly K rows; the encode LEFT join broadcasts " +
        "the K-row id table so the corpus never shuffles for it, and " +
        "the re-pack is the proven (pos,id)-sorted doc-keyed agg",
      Some(
        s"""WITH toks AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
          |), pos AS (
          |  SELECT doc_id, ws, unnest(range(len(ws))) AS p FROM toks
          |), tw AS (
          |  SELECT doc_id, p, ws[p+1] AS w FROM pos
          |), vocab AS (
          |  SELECT w, count(*) AS n FROM tw GROUP BY w
          |), topk AS (
          |  SELECT w, n FROM vocab ORDER BY n DESC, w LIMIT $VocabCap
          |), ids AS (
          |  SELECT w, CAST(row_number() OVER (ORDER BY n DESC, w) - 1 AS BIGINT) AS tid
          |  FROM topk
          |)
          |SELECT t.doc_id, count(*) AS n_tokens,
          |  string_agg(CAST(coalesce(i.tid, $VocabCap) AS VARCHAR), '-' ORDER BY t.p) AS ids_str
          |FROM tw t LEFT JOIN ids i ON t.w = i.w
          |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    ) { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(toks).as(Seq("p", "w")))
      // orderBy+limit plans as TakeOrderedAndProject: per-partition
      // top-K heaps merged once — never a full-vocab global sort.
      val topk = tok.groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(VocabCap)
      // The ranking window now runs over AT MOST VocabCap rows.
      val ids = topk.select(col("w"),
        (row_number().over(Window.orderBy(col("n").desc, col("w"))) - 1)
          .cast("long").as("tid"))
      tok.join(broadcast(ids), Seq("w"), "left")
        .withColumn("tid", coalesce(col("tid"), lit(VocabCap.toLong)))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          array_join(
            transform(array_sort(collect_list(struct(col("p"), col("tid")))),
              x => x.getField("tid").cast("string")), "-").as("ids_str"))
        .orderBy("doc_id")
    },

    Q(
      "q_entropy",
      "character-entropy quality signal (the Gopher-style gibberish / " +
        "boilerplate detector): Shannon entropy over a FIXED alphabet " +
        s"(${Alphabet.length} chars + an 'other' bucket) computed as " +
        "pure per-row expression work — the Spark side counts every " +
        "bucket in one byte pass (`char_counts`), the DuckDB oracle " +
        "as one length-minus-replace per character, so the corpus " +
        "NEVER explodes into " +
        "per-character rows (at 100 TB a char-keyed explode is " +
        "byte-count-sized; this is zero-shuffle). Per-symbol terms " +
        "n·log2(n) are 6dp-rounded into integer micro-units and " +
        "summed in the array domain, so H = log2(N) - Σ/N is " +
        "bit-identical across engines; low H flags repeated-char " +
        "gibberish, high H flags random noise — both standard " +
        "pretraining filters",
      Some {
        val counts = Alphabet.map(c =>
          s"length(text) - length(replace(text, '${c.toString.replace("'", "''")}', ''))")
          .mkString("[", ", ", "]")
        s"""WITH c AS (
           |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           |    $counts AS ks
           |  FROM documents WHERE length(text) > 0
           |), k AS (
           |  SELECT doc_id, n_chars,
           |    list_append(ks, n_chars - list_sum(ks)) AS ks FROM c
           |), t AS (
           |  SELECT doc_id, n_chars,
           |    list_sum(list_transform(list_filter(ks, x -> x > 0),
           |      x -> CAST(round(x * log2(CAST(x AS DOUBLE)) * 1000000)
           |        AS BIGINT))) AS s
           |  FROM k
           |)
           |SELECT doc_id, n_chars,
           |  round(log2(CAST(n_chars AS DOUBLE)) - s / 1000000.0 / n_chars,
           |    6) AS char_entropy
           |FROM t ORDER BY doc_id""".stripMargin
      },
    ) { (s, dir) =>
      Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          call_function("char_counts", col("text"), lit(Alphabet.mkString)).as("ks"))
        .withColumn("s", aggregate(
          filter(col("ks"), x => x > 0),
          lit(0L),
          (acc, x) => acc + round(x * log2(x.cast("double")) * 1000000, 0).cast("long")))
        .select(col("doc_id"), col("n_chars"),
          round(log2(col("n_chars").cast("double"))
            - col("s") / 1000000.0 / col("n_chars"), 6).as("char_entropy"))
        .orderBy("doc_id")
    },

    Q(
      "q_wordpiece_encode",
      "WordPiece-style greedy longest-match subword encoding — the " +
        "SECOND tokenizer family beside the BPE merge loop: piece " +
        s"vocab = top-$WpPieceK char 2..4-grams by corpus-weighted " +
        "frequency with single-char byte-fallback (total coverage, " +
        "guaranteed ≥1-char progress per step), then each DISTINCT " +
        "word greedy-encodes left-to-right taking the longest vocab " +
        "piece at each position. The scale trick is the dictionary " +
        "encode: only the WORD VOCABULARY is ever encoded, weighted " +
        "by corpus frequency — the corpus itself contributes one " +
        "word-count agg and is never touched by the match loop. " +
        s"$WpMaxSteps unrolled rounds (the wordpiece " +
        "max_input_chars_per_word cap), each a vocab-bounded state " +
        "against THREE broadcast piece tables; a 4-char probe near " +
        "the word end can never false-match (substr yields a shorter " +
        "string, equality against fixed-length pieces fails). Output " +
        "= piece usage counts over the whole corpus",
      Some {
        val sb = new StringBuilder
        sb.append(
          s"""WITH words AS MATERIALIZED (
             |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
             |  WHERE w <> '' GROUP BY w
             |), grams AS (
             |  SELECT g, CAST(sum(freq) AS BIGINT) AS n FROM (
             |    SELECT freq, unnest(list_transform(range(len(w) - 1), i -> substr(w, CAST(i+1 AS INT), 2))) AS g FROM words
             |    UNION ALL
             |    SELECT freq, unnest(list_transform(range(len(w) - 2), i -> substr(w, CAST(i+1 AS INT), 3))) AS g FROM words
             |    UNION ALL
             |    SELECT freq, unnest(list_transform(range(len(w) - 3), i -> substr(w, CAST(i+1 AS INT), 4))) AS g FROM words
             |  ) GROUP BY g
             |), pieces AS MATERIALIZED (
             |  SELECT g AS piece FROM grams ORDER BY n DESC, g LIMIT $WpPieceK
             |), p4 AS MATERIALIZED (SELECT piece FROM pieces WHERE len(piece) = 4),
             |p3 AS MATERIALIZED (SELECT piece FROM pieces WHERE len(piece) = 3),
             |p2 AS MATERIALIZED (SELECT piece FROM pieces WHERE len(piece) = 2),
             |st0 AS MATERIALIZED (SELECT w, freq, CAST(0 AS BIGINT) AS pos FROM words)""".stripMargin)
        for (t <- 1 to WpMaxSteps) {
          sb.append(
            s""",
               |m$t AS MATERIALIZED (
               |  SELECT st.w, st.freq, st.pos,
               |    COALESCE(v4.piece, v3.piece, v2.piece, substr(st.w, CAST(st.pos+1 AS INT), 1)) AS piece
               |  FROM st${t - 1} st
               |  LEFT JOIN p4 v4 ON v4.piece = substr(st.w, CAST(st.pos+1 AS INT), 4)
               |  LEFT JOIN p3 v3 ON v3.piece = substr(st.w, CAST(st.pos+1 AS INT), 3)
               |  LEFT JOIN p2 v2 ON v2.piece = substr(st.w, CAST(st.pos+1 AS INT), 2)
               |), st$t AS MATERIALIZED (
               |  SELECT w, freq, pos + len(piece) AS pos FROM m$t
               |  WHERE pos + len(piece) < len(w)
               |)""".stripMargin)
        }
        sb.append(
          s"""
             |SELECT piece, CAST(sum(freq) AS BIGINT) AS n_uses FROM (
             |  ${(1 to WpMaxSteps).map(t => s"SELECT piece, freq FROM m$t").mkString("\n  UNION ALL\n  ")}
             |) GROUP BY piece ORDER BY n_uses DESC, piece LIMIT 50""".stripMargin)
        sb.toString
      },
    ) { (s, dir) =>
      val words = wpWords(s, dir)
      wpGreedyEmits(words, wpPieces(words))
        .groupBy("piece").agg(sum(col("freq")).as("n_uses"))
        .orderBy(col("n_uses").desc, col("piece")).limit(50)
        .orderBy(col("n_uses").desc, col("piece"))
    },

    Q(
      "q_tok_optimal",
      "exact MINIMUM-piece segmentation per word (unrolled dynamic " +
        "programming over the q_wordpiece_encode piece vocabulary: " +
        "dp[j] = 1 + min over piece lengths 1..4 ending at j of " +
        "dp[j-L]) joined against the greedy longest-match count — " +
        "the optimal-vs-greedy FERTILITY GAP, the tokenizer eval " +
        "that quantifies what greedy decoding costs (gap >= 0 " +
        "everywhere is a theorem, spec-asserted; gap > 0 words are " +
        "where a smarter matcher would shrink the training token " +
        "bill). The dp prefix array rides each word's row as an " +
        s"array column through $WpMaxSteps rounds probing the same " +
        "broadcast piece set as the greedy pass — state is " +
        "word-VOCAB-bounded (the corpus is read once for the word " +
        "agg), the DP is one per-row pass, and both engines run the " +
        "identical recurrence (the oracle unrolls it as list_append " +
        "CTEs), so at 100 TB the cost is rounds × a vocab-sized " +
        "broadcast probe — corpus token positions are never touched",
      Some {
        val sb = new StringBuilder
        sb.append(
          s"""WITH words AS MATERIALIZED (
             |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
             |  WHERE w <> '' GROUP BY w
             |), grams AS (
             |  SELECT g, CAST(sum(freq) AS BIGINT) AS n FROM (
             |    SELECT freq, unnest(list_transform(range(len(w) - 1), i -> substr(w, CAST(i+1 AS INT), 2))) AS g FROM words
             |    UNION ALL
             |    SELECT freq, unnest(list_transform(range(len(w) - 2), i -> substr(w, CAST(i+1 AS INT), 3))) AS g FROM words
             |    UNION ALL
             |    SELECT freq, unnest(list_transform(range(len(w) - 3), i -> substr(w, CAST(i+1 AS INT), 4))) AS g FROM words
             |  ) GROUP BY g
             |), pieces AS MATERIALIZED (
             |  SELECT g AS piece FROM grams ORDER BY n DESC, g LIMIT $WpPieceK
             |), p4 AS MATERIALIZED (SELECT piece FROM pieces WHERE len(piece) = 4),
             |p3 AS MATERIALIZED (SELECT piece FROM pieces WHERE len(piece) = 3),
             |p2 AS MATERIALIZED (SELECT piece FROM pieces WHERE len(piece) = 2),
             |st0 AS MATERIALIZED (SELECT w, freq, CAST(0 AS BIGINT) AS pos FROM words)""".stripMargin)
        for (t <- 1 to WpMaxSteps) {
          sb.append(
            s""",
               |m$t AS MATERIALIZED (
               |  SELECT st.w, st.freq, st.pos,
               |    COALESCE(v4.piece, v3.piece, v2.piece, substr(st.w, CAST(st.pos+1 AS INT), 1)) AS piece
               |  FROM st${t - 1} st
               |  LEFT JOIN p4 v4 ON v4.piece = substr(st.w, CAST(st.pos+1 AS INT), 4)
               |  LEFT JOIN p3 v3 ON v3.piece = substr(st.w, CAST(st.pos+1 AS INT), 3)
               |  LEFT JOIN p2 v2 ON v2.piece = substr(st.w, CAST(st.pos+1 AS INT), 2)
               |), st$t AS MATERIALIZED (
               |  SELECT w, freq, pos + len(piece) AS pos FROM m$t
               |  WHERE pos + len(piece) < len(w)
               |)""".stripMargin)
        }
        sb.append(
          s""",
             |greedy AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS greedy_pieces FROM (
             |  ${(1 to WpMaxSteps).map(t => s"SELECT w FROM m$t").mkString("\n  UNION ALL\n  ")}
             |  ) GROUP BY w
             |), d0 AS MATERIALIZED (
             |  SELECT w, freq, [CAST(0 AS BIGINT)] AS dps FROM words)""".stripMargin)
        for (j <- 1 to WpMaxSteps) {
          val joins = (2 to 4).filter(_ <= j).map(l =>
            s"LEFT JOIN p$l v$l ON v$l.piece = substr(st.w, ${j - l + 1}, $l)")
            .mkString("\n  ")
          val cands = Seq(s"list_extract(st.dps, $j) + 1") ++
            (2 to 4).filter(_ <= j).map(l =>
              s"CASE WHEN v$l.piece IS NOT NULL THEN list_extract(st.dps, ${j - l + 1}) + 1 ELSE CAST(9999 AS BIGINT) END")
          sb.append(
            s""",
               |d$j AS MATERIALIZED (
               |  SELECT st.w, st.freq,
               |    CASE WHEN len(st.w) >= $j
               |      THEN list_append(st.dps, least(${cands.mkString(", ")}))
               |      ELSE st.dps END AS dps
               |  FROM d${j - 1} st
               |  $joins
               |)""".stripMargin)
        }
        sb.append(
          s"""
             |SELECT d.w, d.freq,
             |  CAST(list_extract(d.dps, len(d.w) + 1) AS BIGINT) AS opt_pieces,
             |  g.greedy_pieces,
             |  CAST(g.greedy_pieces - list_extract(d.dps, len(d.w) + 1) AS BIGINT) AS gap
             |FROM d$WpMaxSteps d JOIN greedy g USING (w)
             |ORDER BY w""".stripMargin)
        sb.toString
      },
    ) { (s, dir) =>
      val words = wpWords(s, dir)
      val pieces = wpPieces(words)
      val greedy = wpGreedyEmits(words, pieces)
        .groupBy("w").agg(count(lit(1)).as("greedy_pieces"))
      wpOptimalPieces(words, pieces)
        .join(greedy, "w")
        .select(col("w"), col("freq"), col("opt_pieces"),
          col("greedy_pieces"),
          (col("greedy_pieces") - col("opt_pieces")).as("gap"))
        .orderBy("w")
    },

    Q(
      "q_unigram_viterbi",
      "unigram-LM tokenization (the SentencePiece family — the THIRD " +
        "tokenizer beside the BPE merge loop and WordPiece greedy " +
        "match): pieces = top 2..4-grams + all chars with corpus " +
        "counts → log-probs; every DISTINCT word gets its " +
        "Viterbi-BEST segmentation (max Σ ln p, ties to the longer " +
        "piece) via unrolled forward DP carrying score AND " +
        "backpointer arrays on the row, then an unrolled BACKWARD " +
        "walk emits the chosen pieces; the M-step re-counts pieces " +
        "under the Viterbi assignment (Viterbi-EM, the hard-EM " +
        "variant SentencePiece uses between pruning rounds) and " +
        "renormalizes. The ONE libm call (ln) is rounded to a ×1e6 " +
        "integer grid per piece, so the entire DP — sums, argmax, " +
        "ties — runs in EXACT BIGINT arithmetic that parallelism " +
        "cannot drift. State is word-vocab-bounded throughout " +
        "(corpus read once for the word agg); the DP probes one " +
        "broadcast piece\u2192lp6 map in a single per-row pass. Output: per " +
        "piece, prior count, Viterbi count, renormalized probability",
      Some {
        s"""WITH $ugHeadSql, inv AS MATERIALIZED (
           |  SELECT piece, n FROM gr UNION ALL SELECT piece, n FROM c1n
           |), ${ugChainSql("")}
           |SELECT lp.piece, lp.n AS prior_n,
           |  coalesce(v.viterbi_n, 0) AS viterbi_n,
           |  round(coalesce(v.viterbi_n, 0) / vtt.vt, 6) AS new_p
           |FROM lp LEFT JOIN vit v ON lp.piece = v.piece CROSS JOIN vtt
           |ORDER BY lp.piece""".stripMargin
      },
    ) { (s, dir) =>
      val words = wpWords(s, dir)
      val inv = ugInventory(words)
      val vit = ugViterbiEmits(words, inv)
        .groupBy("piece").agg(sum(col("freq")).as("viterbi_n"))
      val vtot = vit.agg(sum(col("viterbi_n")).cast("double").as("vt"))
      inv.join(vit, Seq("piece"), "left")
        .crossJoin(broadcast(vtot))
        .select(col("piece"), col("n").as("prior_n"),
          coalesce(col("viterbi_n"), lit(0L)).as("viterbi_n"),
          round(coalesce(col("viterbi_n"), lit(0L)) / col("vt"), 6)
            .as("new_p"))
        .orderBy("piece")
    },

    Q(
      "q_vocab_prune",
      s"one SentencePiece PRUNE round: run Viterbi under the full " +
        s"inventory, drop the $UgPruneK grams with the least Viterbi " +
        "mass (chars never prune — they are the coverage floor), " +
        "renormalize the survivors' probabilities, re-segment, and " +
        "report the corpus log-likelihood before and after — the " +
        "vocabulary-shrinking loop that turns a seed inventory into " +
        "a final tokenizer, with the LL delta as the quality bill. " +
        "LL = Σ viterbi_n(piece)·lp6(piece) folds in EXACT BIGINT " +
        "(the path-sum identity), so even the objective is " +
        "drift-free; both Viterbi passes are the q_unigram_viterbi " +
        "machinery (word-vocab-bounded state, one broadcast piece " +
        "map, one per-row DP pass each). The oracle runs the " +
        "entire two-pass chain as one suffixed CTE program",
      Some {
        s"""WITH $ugHeadSql, inva AS MATERIALIZED (
           |  SELECT piece, n FROM gr UNION ALL SELECT piece, n FROM c1n
           |), ${ugChainSql("a")},
           |prunedset AS (
           |  SELECT piece FROM (
           |    SELECT g.piece, coalesce(v.viterbi_n, 0) AS vn
           |    FROM gr g LEFT JOIN vita v ON g.piece = v.piece)
           |  ORDER BY vn, piece LIMIT $UgPruneK
           |), invb AS MATERIALIZED (
           |  SELECT piece, n FROM inva
           |  WHERE piece NOT IN (SELECT piece FROM prunedset)
           |), ${ugChainSql("b")},
           |lla AS (
           |  SELECT CAST(sum(v.viterbi_n * l.lp6) AS BIGINT) AS ll6
           |  FROM vita v JOIN lpa l ON v.piece = l.piece
           |), llb AS (
           |  SELECT CAST(sum(v.viterbi_n * l.lp6) AS BIGINT) AS ll6
           |  FROM vitb v JOIN lpb l ON v.piece = l.piece
           |)
           |SELECT * FROM (
           |  SELECT 'full' AS stage,
           |    (SELECT CAST(count(*) AS BIGINT) FROM inva) AS n_pieces,
           |    round(CAST(ll6 AS DOUBLE) / 1000000.0, 6) AS ll FROM lla
           |  UNION ALL
           |  SELECT 'pruned',
           |    (SELECT CAST(count(*) AS BIGINT) FROM invb),
           |    round(CAST(ll6 AS DOUBLE) / 1000000.0, 6) FROM llb
           |) ORDER BY stage""".stripMargin
      },
    ) { (s, dir) =>
      val words = wpWords(s, dir)
      def pass(inv: org.apache.spark.sql.DataFrame)
          : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
        val vit = ugViterbiEmits(words, inv)
          .groupBy("piece").agg(sum(col("freq")).as("viterbi_n"))
          .localCheckpoint() // read twice: LL + (first pass) prune cut
        val ll = vit.join(inv, "piece")
          .agg(sum(col("viterbi_n") * col("lp6")).as("ll6"))
        (vit, ll)
      }
      def stageRow(stage: String, inv: org.apache.spark.sql.DataFrame,
          ll: org.apache.spark.sql.DataFrame) =
        inv.agg(count(lit(1)).as("n_pieces"))
          .crossJoin(broadcast(ll))
          .select(lit(stage).as("stage"), col("n_pieces"),
            round(col("ll6").cast("double") / 1000000.0, 6).as("ll"))
      val invA = ugInventory(words)
      val (vitA, llA) = pass(invA)
      val pruned = invA.filter(length(col("piece")) > 1)
        .join(vitA, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("viterbi_n"), lit(0L)).as("vn"))
        .orderBy(col("vn"), col("piece")).limit(UgPruneK)
        .select("piece")
      val invBbase = invA.join(pruned, Seq("piece"), "left_anti")
      val totB = invBbase.agg(sum(col("n")).cast("double").as("tot"))
      val invB = invBbase.crossJoin(broadcast(totB))
        .select(col("piece"), col("n"),
          round(log(col("n") / col("tot")) * 1000000, 0).cast("long")
            .as("lp6"))
        .localCheckpoint()
      val (_, llB) = pass(invB)
      stageRow("full", invA, llA)
        .unionByName(stageRow("pruned", invB, llB))
        .orderBy("stage")
    },

    Q(
      "q_bpe_pairs",
      "the BPE-training inner step (Sennrich et al.): adjacent " +
        "character-pair counts weighted by word frequency — the " +
        "statistic one merge iteration maximizes. The corpus " +
        "collapses to the word VOCABULARY first (one corpus-keyed " +
        "agg with map-side combine), so pair extraction and the pair " +
        "agg run over vocab rows × word length, never over corpus " +
        "token positions — at 100 TB the pair table is bounded by " +
        "charset², and iterating merges re-reads only the vocab " +
        "table. Top-20 by count, ties by pair; the single-partition " +
        "ranking window sees 20 rows after a vocab-sized agg",
      Some(
        """WITH v AS (
          |  SELECT w, count(*) AS n FROM (
          |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
          |  GROUP BY w
          |), p AS (
          |  SELECT pair, CAST(sum(n) AS BIGINT) AS n_pairs FROM (
          |    SELECT n, unnest(list_transform(range(length(w) - 1),
          |      i -> substr(w, i + 1, 2))) AS pair
          |    FROM v WHERE length(w) >= 2)
          |  GROUP BY pair
          |), r AS (
          |  SELECT CAST(row_number() OVER (ORDER BY n_pairs DESC, pair)
          |    AS BIGINT) AS rank, pair, n_pairs FROM p
          |)
          |SELECT rank, pair, n_pairs FROM r WHERE rank <= 20
          |ORDER BY rank""".stripMargin),
    ) { (s, dir) =>
      val vocab = Tables.documents(s, dir)
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val pairs = vocab.filter(length(col("w")) >= 2)
        .select(col("n"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("n_pairs"))
      pairs
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("n_pairs").desc, col("pair"))).cast("long"))
        .filter(col("rank") <= 20)
        .select("rank", "pair", "n_pairs")
        .orderBy("rank")
    },

    Q(
      "q_bpe_train",
      s"the full BPE merge-TRAINING loop (Sennrich et al.), $BpeMerges " +
        "rounds: each round counts adjacent symbol pairs weighted by " +
        "word frequency, merges the argmax pair (ties by pair) " +
        "everywhere in the vocabulary, and repeats — q_bpe_pairs is " +
        "round 1's statistic; this is the loop a tokenizer pipeline " +
        "actually runs (the trainKMeans analogue). Both engines " +
        "represent a word's symbol sequence as a DOUBLE-space-joined, " +
        "double-space-padded string, so applying a merge is one " +
        "literal non-overlapping replace(' a  b ' -> ' ab ') that " +
        "consumes one space from each boundary — left-to-right runs " +
        "merge exactly like the sequential algorithm ('a a a a' -> " +
        "'aa aa') and the merge semantics are byte-identical across " +
        "engines with no fold-lambda to drift. Scale: the corpus is " +
        "read ONCE to build the word vocabulary; every round after " +
        "that is a vocab-bounded pair agg + a vocab-sized per-row " +
        "replace, checkpointed per round (lineage truncation, swap " +
        "for reliable checkpoints at 100 TB); the argmax probe " +
        "collects ONE row per round, never data rows. Output = the " +
        "ordered merge table (step, pa, pb, n_pairs)",
      Some(bpeTrainSql(BpeMerges)),
    ) { (s, dir) =>
      val merges = trainBpe(s, Tables.documents(s, dir), BpeMerges)._1
      import s.implicits._
      merges.zipWithIndex
        .map { case ((pa, pb, np), i) => (i + 1L, pa, pb, np) }
        .toDF("step", "pa", "pb", "n_pairs")
        .orderBy("step")
    },

    Q(
      "q_bpe_encode",
      "the ENCODE half of the tokenizer pipeline: apply the trained " +
        s"merge sequence ($BpeMerges rounds, the q_bpe_train loop) " +
        "and report the top-20 words by corpus frequency with their " +
        "subword segmentation and subword count. Training already " +
        "leaves the vocabulary fully merged — encoding a word is " +
        "reading its final symbol string — and encoding UNSEEN text " +
        "at 100 TB is the same k chained literal replaces as pure " +
        "per-row expression work against the (tiny, broadcast) merge " +
        "list; the corpus-sized shuffle happened once, at vocab " +
        "construction",
      Some(
        s"""WITH ${bpeRoundsSqlCte(BpeMerges)},
           |enc AS (
           |  SELECT w, string_split(trim(s), '  ') AS syms, n
           |  FROM v$BpeMerges
           |), ranked AS (
           |  SELECT CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT)
           |      AS rank,
           |    w, array_to_string(syms, ' ') AS subwords,
           |    CAST(len(syms) AS BIGINT) AS n_subwords,
           |    CAST(n AS BIGINT) AS n
           |  FROM enc)
           |SELECT rank, w, subwords, n_subwords, n FROM ranked
           |WHERE rank <= 20 ORDER BY rank""".stripMargin),
    ) { (s, dir) =>
      val vocab = trainBpe(s, Tables.documents(s, dir), BpeMerges)._2
      vocab
        .select(col("w"), concat_ws(" ", col("syms")).as("subwords"),
          size(col("syms")).cast("long").as("n_subwords"), col("n"))
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("n").desc, col("w"))).cast("long"))
        .filter(col("rank") <= 20)
        .select("rank", "w", "subwords", "n_subwords", "n")
        .orderBy("rank")
    },

    Q(
      "q_bpe_bytes",
      s"BYTE-LEVEL BPE (Radford et al. 2019's front end): GPT-2's " +
        "bytes-to-unicode pre-map re-expresses each word as one " +
        "printable symbol per UTF-8 BYTE (a bijection over a fixed " +
        "256-symbol alphabet — no charset assumptions, any language " +
        "or binary-ish noise tokenizes), and the IDENTICAL trainBpe " +
        s"merge loop then runs $BpeBytesMerges rounds on the " +
        "byte-level symbols. The corpus is documents plus two " +
        "planted non-ASCII words (café, straße) so the " +
        "byte/char distinction is real: their accented chars are ONE " +
        "char-level symbol but TWO byte-level symbols (é = C3 " +
        "A9 = 'Ã©' — the famous GPT-2 artifact, pinned in " +
        "BpeBytesSpec with space → 'Ġ'). Output = the FERTILITY " +
        "comparison the two faces exist for: per mode, word count, " +
        "weighted occurrences, weighted symbol count, and " +
        "symbols-per-occurrence after the merges — the number a " +
        "tokenizer team reads to price byte-level robustness. The " +
        "oracle retrains BOTH faces from the closed-form map " +
        "(printable bytes keep their code point; 0..32→256+b, " +
        "127..160→289+(b−127), 173→323; UTF-8 expansion for the " +
        "corpus' ≤ U+07FF code points). At 100 TB: the pre-map is " +
        "pure per-row expression work on the one corpus scan the " +
        "vocab build already pays; every round after is vocab-" +
        "bounded, exactly q_bpe_train's economics",
      Some {
        val mapByte = "CASE WHEN (b BETWEEN 33 AND 126) " +
          "OR (b BETWEEN 161 AND 172) OR (b BETWEEN 174 AND 255) THEN b " +
          "WHEN b < 33 THEN 256 + b " +
          "WHEN b <= 160 THEN 289 + (b - 127) ELSE 323 END"
        def rollup(mode: String, v: String): String =
          s"""SELECT '$mode' AS mode,
             |  CAST(count(*) AS BIGINT) AS n_words,
             |  CAST(sum(n) AS BIGINT) AS n_occurrences,
             |  CAST(sum(n * len(sy)) AS BIGINT) AS n_symbols,
             |  round(CAST(sum(n * len(sy)) AS DOUBLE) / sum(n), 6)
             |    AS fertility
             |FROM (SELECT string_split(trim(s), '  ') AS sy, n FROM $v)""".stripMargin
        s"""WITH w0 AS (
           |  SELECT w, count(*) AS n FROM (
           |    SELECT unnest(string_split(
           |      lower(text) || ' café straße', ' ')) AS w
           |    FROM documents)
           |  WHERE w <> '' GROUP BY w
           |), v0 AS (
           |  SELECT w, '  ' || array_to_string(list_transform(range(length(w)),
           |    i -> substr(w, i + 1, 1)), '  ') || '  ' AS s, n FROM w0
           |), vy0 AS (
           |  SELECT w, '  ' || array_to_string(list_transform(
           |    flatten(list_transform(
           |      list_transform(range(length(w)), i -> unicode(substr(w, i + 1, 1))),
           |      cp -> CASE WHEN cp < 128 THEN [cp]
           |                 ELSE [192 + cp // 64, 128 + cp % 64] END)),
           |    b -> chr($mapByte)), '  ') || '  ' AS s, n FROM w0
           |), ${bpeRoundCtes(BpeBytesMerges)},
           |${bpeRoundCtes(BpeBytesMerges, "y")}
           |${rollup("char", s"v$BpeBytesMerges")}
           |UNION ALL
           |${rollup("byte", s"vy$BpeBytesMerges")}
           |ORDER BY mode""".stripMargin
      },
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .withColumn("text",
          concat(col("text"), lit(" café straße")))
      val charVocab = trainBpe(s, docs, BpeBytesMerges)._2
      val byteVocab = trainBpe(s, docs, BpeBytesMerges,
        wordMap = Some(w => call_function("bytes_to_unicode", w)))._2
      def rollup(v: DataFrame, mode: String): DataFrame = v
        .agg(count(lit(1)).as("n_words"),
          sum(col("n")).as("n_occurrences"),
          sum(col("n") * size(col("syms"))).as("n_symbols"))
        .select(lit(mode).as("mode"), col("n_words"),
          col("n_occurrences"), col("n_symbols"),
          round(col("n_symbols").cast("double") / col("n_occurrences"), 6)
            .as("fertility"))
      rollup(charVocab, "char").unionByName(rollup(byteVocab, "byte"))
        .orderBy("mode")
    },

    Q(
      "q_quality_model",
      "MODEL-based quality classification (the fastText-filter shape " +
        "CCNet/GPT-3 pipelines run after heuristics): per-doc features " +
        "(log word count, stopword ratio, short-word ratio) scored by " +
        "a PINNED linear model through a sigmoid, keep = score ≥ 0.5. " +
        "In production the weights come from a trained classifier; " +
        "the engine machinery exercised here — feature extraction, " +
        "linear scoring, sigmoid, thresholding — is identical, and " +
        "pinning the weights is what makes the oracle exact. Ratios " +
        "and the logit are 6dp-rounded before the sigmoid and the " +
        "sigmoid output is 6dp-rounded before the threshold, so " +
        "libm ln/exp ulp skew cannot flip a keep decision. Scale: " +
        "pure per-row expression work on the scan, zero shuffles " +
        "before the output sort; complements q_text_quality " +
        "(heuristics) and q_lm_score (LM perplexity) as the third " +
        "standard quality signal",
      Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
          |), f AS (
          |  SELECT doc_id, len(ws) AS n_words,
          |    round(len(list_filter(ws, w -> w IN ('the', 'a', 'and', 'of', 'is')))
          |      / CAST(len(ws) AS DOUBLE), 6) AS stop_ratio,
          |    round(len(list_filter(ws, w -> length(w) <= 2))
          |      / CAST(len(ws) AS DOUBLE), 6) AS short_ratio
          |  FROM t
          |), z AS (
          |  SELECT doc_id, n_words, stop_ratio, short_ratio,
          |    round(-1.0 + 0.8 * ln(CAST(n_words AS DOUBLE))
          |      + 2.0 * stop_ratio - 3.0 * short_ratio, 6) AS z
          |  FROM f
          |), scored AS (
          |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
          |    stop_ratio, short_ratio,
          |    round(1.0 / (1.0 + exp(-z)), 6) AS score
          |  FROM z)
          |SELECT doc_id, n_words, stop_ratio, short_ratio, score,
          |  CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
          |FROM scored ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val stops = Seq("the", "a", "and", "of", "is")
      val n = size(toks)
      Tables.documents(s, dir)
        .select(col("doc_id"), n.cast("long").as("n_words"),
          round(size(filter(toks, w => w.isin(stops: _*))).cast("double")
            / n, 6).as("stop_ratio"),
          round(size(filter(toks, w => length(w) <= 2)).cast("double")
            / n, 6).as("short_ratio"))
        .withColumn("z", round(lit(-1.0)
          + lit(0.8) * log(col("n_words").cast("double"))
          + lit(2.0) * col("stop_ratio")
          - lit(3.0) * col("short_ratio"), 6))
        .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .select(col("doc_id"), col("n_words"), col("stop_ratio"),
          col("short_ratio"), col("score"),
          when(col("score") >= 0.5, 1L).otherwise(0L).as("keep"))
        .orderBy("doc_id")
    },

    Q(
      "q_quality_sample",
      "temperature-weighted quality resampling (the DataComp/DCLM " +
        "move past hard thresholds): every doc keeps with probability " +
        "∝ exp(score/T) (T=2, q_quality_model's pinned score), " +
        "normalized so the EXPECTED kept fraction is 50% — soft " +
        "filtering that trades a hard cliff for a quality-tilted " +
        "distribution. The normalizer comes from ONE bounded agg " +
        "(count + exact fixed-point weight sum — weights rounded to " +
        "BIGINT before summing, so the normalizer is bit-identical " +
        "at any parallelism) broadcast back as a single row; the " +
        "keep decision is the q_sample_mix per-row content-hash " +
        "threshold — the corpus never shuffles to be sampled, the " +
        "sample is reproducible across runs and cluster sizes, and " +
        "new data joins the mix without re-sampling old rows. " +
        "Output: per-lang funnel with kept-mean vs overall-mean " +
        "score (fixed point), the lift the resampling buys",
      Some(
        """WITH t AS (
          |  SELECT doc_id, lang, text, string_split(lower(text), ' ') AS ws FROM documents
          |), f AS (
          |  SELECT doc_id, lang, text, len(ws) AS n_words,
          |    round(len(list_filter(ws, w -> w IN ('the', 'a', 'and', 'of', 'is')))
          |      / CAST(len(ws) AS DOUBLE), 6) AS stop_ratio,
          |    round(len(list_filter(ws, w -> length(w) <= 2))
          |      / CAST(len(ws) AS DOUBLE), 6) AS short_ratio
          |  FROM t
          |), sc AS (
          |  SELECT doc_id, lang, text,
          |    round(1.0 / (1.0 + exp(-round(-1.0 + 0.8 * ln(CAST(n_words AS DOUBLE))
          |      + 2.0 * stop_ratio - 3.0 * short_ratio, 6))), 6) AS score
          |  FROM f
          |), w AS (
          |  SELECT doc_id, lang, text, score,
          |    CAST(round(exp(score / 2.0) * 1000000) AS BIGINT) AS wf
          |  FROM sc
          |), tot AS (
          |  SELECT count(*) AS n, CAST(sum(wf) AS BIGINT) AS sw FROM w
          |), kd AS (
          |  SELECT lang, score,
          |    CASE WHEN %HASH% % 1048576 <
          |      CAST(floor(least(1.0, 0.5 * n * CAST(wf AS DOUBLE) / CAST(sw AS DOUBLE)) * 1048576) AS BIGINT)
          |    THEN 1 ELSE 0 END AS keep
          |  FROM w CROSS JOIN tot
          |)
          |SELECT lang, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_kept,
          |  round(CAST(sum(CAST(round(score * 1000000) AS BIGINT))
          |    / 1000000.0 / count(*) AS DOUBLE), 6) AS mean_score,
          |  round(CAST(sum(CASE WHEN keep = 1 THEN CAST(round(score * 1000000) AS BIGINT) END)
          |    / 1000000.0 / sum(keep) AS DOUBLE), 6) AS kept_mean_score
          |FROM kd GROUP BY lang ORDER BY lang""".stripMargin
          .replace("%HASH%", Portable.md5Hash60Sql("text"))),
    ) { (s, dir) =>
      val stops = Seq("the", "a", "and", "of", "is")
      val n = size(toks)
      val sc = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"),
          n.cast("long").as("n_words"),
          round(size(filter(toks, w => w.isin(stops: _*))).cast("double")
            / n, 6).as("stop_ratio"),
          round(size(filter(toks, w => length(w) <= 2)).cast("double")
            / n, 6).as("short_ratio"))
        .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-round(lit(-1.0)
          + lit(0.8) * log(col("n_words").cast("double"))
          + lit(2.0) * col("stop_ratio")
          - lit(3.0) * col("short_ratio"), 6))), 6))
        .select(col("lang"), col("text"), col("score"),
          round(exp(col("score") / 2.0) * 1e6, 0).cast("long").as("wf"))
      val tot = sc.agg(count(lit(1)).as("n"), sum(col("wf")).as("sw"))
      val kd = sc.crossJoin(broadcast(tot))
        .select(col("lang"), col("score"),
          when(Portable.md5Hash60(col("text")) % 1048576
            < floor(least(lit(1.0),
                lit(0.5) * col("n") * col("wf").cast("double")
                  / col("sw").cast("double")) * 1048576).cast("long"),
            1L).otherwise(0L).as("keep"))
      kd.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep")).as("n_kept"),
          round((sum(round(col("score") * 1e6, 0).cast("long"))
            / 1e6 / count(lit(1))).cast("double"), 6).as("mean_score"),
          round((sum(when(col("keep") === 1,
              round(col("score") * 1e6, 0).cast("long")))
            / 1e6 / sum(col("keep"))).cast("double"), 6).as("kept_mean_score"))
        .orderBy("lang")
    },

    Q(
      "q_pii_scrub",
      "PII redaction (the privacy pass every pretraining pipeline " +
        "runs before training): regex-scrub emails and phone numbers, " +
        "reporting per-doc redaction counts and a content hash of the " +
        "scrubbed text. The synthetic corpus carries no PII, so each " +
        "doc is SALTED deterministically in BOTH engines first " +
        "(1 + doc_id%3 doc_id-derived emails and one phone appended) " +
        "— the scrub is then verified end-to-end: counts must equal " +
        "the planted amounts and the clean hash proves byte-exact " +
        "redaction. Patterns are the conservative regex subset " +
        "(character classes only, no lookaround/backrefs) where Java " +
        "regex and DuckDB's engine agree, so the oracle runs the SAME " +
        "pattern. Scale: pure per-row regexp work on the scan, zero " +
        "shuffles before the output sort — at 100 TB this fuses into " +
        "the same pass as quality filtering",
      Some(
        s"""WITH dirty AS (
           |  SELECT doc_id,
           |    text || repeat(' user' || CAST(doc_id AS VARCHAR)
           |                   || '@example.com',
           |                   CAST(1 + doc_id % 3 AS INT))
           |         || ' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
           |                               4, '0') AS s
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(s, '$EmailRe')) AS BIGINT)
           |    AS n_emails,
           |  CAST(len(regexp_extract_all(s, '$PhoneRe')) AS BIGINT)
           |    AS n_phones,
           |  sha256(regexp_replace(regexp_replace(s, '$EmailRe', '[EMAIL]',
           |    'g'), '$PhoneRe', '[PHONE]', 'g')) AS clean_hash
           |FROM dirty ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val dirty = concat(col("text"),
        expr("repeat(concat(' user', CAST(doc_id AS STRING), " +
          "'@example.com'), CAST(1 + doc_id % 3 AS INT))"),
        concat(lit(" +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      Tables.documents(s, dir)
        .select(col("doc_id"), dirty.as("s"))
        .select(col("doc_id"),
          regexp_count(col("s"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("s"), lit(PhoneRe)).cast("long").as("n_phones"),
          sha2(scrubPii(col("s")), 256).as("clean_hash"))
        .orderBy("doc_id")
    },

    Q(
      "q_bm25",
      "BM25 document ranking (k1=1.2, b=0.75) for a fixed query-term " +
        "set — the retrieval scorer a decontamination or curation " +
        "pass ranks evidence with. The corpus-sized work is two " +
        "scans: per-doc length (pure per-row) and the term-filtered " +
        "tf agg, whose explode is pre-filtered to the query terms so " +
        "the aggregated stream is query-hits-sized, not corpus-sized; " +
        "df and the corpus stats are vocab- and 1-row-sized " +
        "broadcasts. Per-term contributions are rounded then summed " +
        "in exact fixed point (scale 9), so the 2-3-term per-doc sum " +
        "is order-independent; ranking runs on the ROUNDED score " +
        "(ties by doc_id), so both engines rank identical doubles. " +
        "Top-20 docs",
      Some(
        s"""WITH $bm25AggSqlCtes, r AS (
           |  SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
           |    AS BIGINT) AS rank, doc_id, bm25 FROM agg
           |)
           |SELECT rank, doc_id, bm25 FROM r WHERE rank <= 20
           |ORDER BY rank""".stripMargin),
    ) { (s, dir) =>
      bm25Agg(s, dir)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= 20)
        .select("rank", "doc_id", "bm25")
        .orderBy("rank")
    },

    Q(
      "q_rocchio_expand",
      "pseudo-relevance feedback (Rocchio): the top-10 BM25 docs for " +
        "the fixed query become the relevant set, their term mass is " +
        "folded into a tf·idf centroid, and the 8 heaviest non-query " +
        "terms come back as the expansion — the query-expansion loop " +
        "classic IR runs when recall matters more than latency. The " +
        "expensive pieces are shared or bounded: BM25 scoring reuses " +
        "bm25Agg verbatim, the relevant-set term agg explodes only " +
        "TEN docs, and the corpus-sized piece is the df table the " +
        "tf-idf operators already pay for (vocab-bounded agg, joined " +
        "rel-term-keyed). Weights fold as tf · round(idf·1e6) — " +
        "EXACT BIGINT fixed point, so term fold order cannot drift " +
        "the ranking; the final window ranks the rel-doc-term-" +
        "bounded weight table, never the vocab",
      Some(
        s"""WITH $bm25AggSqlCtes, rel AS (
           |  SELECT doc_id FROM (
           |    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
           |      AS rk FROM agg) WHERE rk <= 10
           |), rtok AS (
           |  SELECT d.doc_id, unnest(string_split(lower(d.text), ' ')) AS w
           |  FROM documents d JOIN rel ON rel.doc_id = d.doc_id
           |), rtf AS (
           |  SELECT w, CAST(count(*) AS BIGINT) AS tfsum FROM rtok
           |  WHERE w <> '' GROUP BY w
           |), fdf AS (
           |  SELECT w, count(DISTINCT doc_id) AS fdf FROM (
           |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
           |    FROM documents)
           |  WHERE w <> '' GROUP BY w
           |), wts AS (
           |  SELECT r.w,
           |    CAST(r.tfsum * CAST(round(ln(
           |      CAST((SELECT n_docs FROM stats) AS DOUBLE) / fdf) * 1000000)
           |      AS BIGINT) AS BIGINT) AS w6
           |  FROM rtf r JOIN fdf f ON r.w = f.w
           |  WHERE r.w NOT IN ('data', 'query', 'vector')
           |), ex AS (
           |  SELECT CAST(row_number() OVER (ORDER BY w6 DESC, w) AS BIGINT)
           |    AS rank, w AS term, CAST(w6 AS DOUBLE) / 1000000.0 AS weight
           |  FROM wts
           |)
           |SELECT rank, term, weight FROM ex WHERE rank <= 8
           |ORDER BY rank""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val rel = bm25Agg(s, dir)
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("bm25").desc, col("doc_id"))))
        .filter(col("rk") <= 10).select("doc_id")
      val rtf = docs.join(broadcast(rel), "doc_id")
        .select(explode(toks).as("w")).filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("tfsum"))
      val fdf = docs.select(col("doc_id"), explode(toks).as("w"))
        .filter(col("w") =!= "").distinct()
        .groupBy("w").agg(count(lit(1)).as("fdf"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      rtf.join(fdf, "w")
        .crossJoin(broadcast(nd))
        .filter(!col("w").isin("data", "query", "vector"))
        .select(col("w").as("term"),
          (col("tfsum") * round(log(col("n_docs").cast("double") / col("fdf"))
            * 1000000, 0).cast("long")).as("w6"))
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("w6").desc, col("term"))).cast("long"))
        .filter(col("rank") <= 8)
        .select(col("rank"), col("term"),
          (col("w6").cast("double") / 1000000.0).as("weight"))
        .orderBy("rank")
    },

    Q(
      "q_chunk",
      s"fixed-size token chunking with overlap (chunk $ChunkSize, " +
        s"stride $ChunkStride — the pretraining/RAG context-window " +
        "splitter): chunk starts are a per-row sequence, the chunk " +
        "itself a slice, and the portable md5 chunk hash keys " +
        "downstream chunk-level dedup — all per-row expression work, " +
        "zero shuffles before the output sort; output rows = chunks, " +
        "so the operator parallelizes by doc and never materializes " +
        "a doc's full token array more than once. Short final chunks " +
        "are kept (standard), and chunk_id is the stride ordinal so " +
        "re-chunking appended corpora never renumbers old chunks",
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
           |), c AS (
           |  SELECT doc_id, CAST(s / $ChunkStride AS BIGINT) AS chunk_id,
           |    CAST(s AS BIGINT) AS chunk_start,
           |    t[s+1 : least(s + $ChunkSize, len(t))] AS chunk
           |  FROM (SELECT doc_id, t, unnest(range(0, len(t), $ChunkStride)) AS s
           |        FROM t)
           |)
           |SELECT doc_id, chunk_id, chunk_start,
           |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
           |  md5(array_to_string(chunk, ' ')) AS chunk_hash
           |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
    ) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("t"))
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0), size(col("t")) - 1, lit(ChunkStride)))
            .as("s"))
        .select(col("doc_id"),
          (col("s") / ChunkStride).cast("long").as("chunk_id"),
          col("s").cast("long").as("chunk_start"),
          slice(col("t"), col("s") + 1, lit(ChunkSize)).as("chunk"))
        .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
          size(col("chunk")).cast("long").as("n_chunk_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    },

    Q(
      "q_cdc_chunks",
      s"CONTENT-DEFINED chunking (Rabin/FastCDC family): a chunk " +
        s"boundary falls after any char-$CdcK-gram whose portable " +
        s"hash ≡ 0 mod $CdcD (expected chunk ≈ $CdcD chars), so " +
        "boundaries depend only on LOCAL content — an insertion " +
        "re-chunks bytes only up to the next surviving boundary and " +
        "every later chunk stays byte-identical (CdcSpec plants " +
        "exactly that edit), which is why CDC is the storage/" +
        "transfer dedup standard where q_chunk's fixed stride " +
        "re-keys everything after any edit. Gram hashes come from " +
        "rollhash60, a codegen'd Rabin ROLLING hash expression — " +
        "O(1) per char in one forward pass (add the incoming code " +
        "point, drop the outgoing via B^(K-1) mod M), not K hash " +
        "bytes per char; the oracle evaluates the same polynomial " +
        "directly per gram, equal by modular arithmetic. Chunking " +
        "is pure per-row array work; the " +
        "corpus-level dedup readout (total/unique chunks, dup " +
        "ratio, avg length) is ONE chunk-keyed two-stage agg — at " +
        "100 TB the chunk table IS the product (content-addressed " +
        "store keys) and this rollup is its audit",
      Some(
        s"""WITH g AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
           |    ${graft.functions.RollHash.rollHashSql("text", CdcK)} AS hs
           |  FROM documents WHERE length(text) >= $CdcK
           |), b AS (
           |  SELECT doc_id, text, n,
           |    list_concat(list_concat([CAST(0 AS BIGINT)],
           |      list_transform(list_filter(range(len(hs)),
           |        i -> hs[i+1] % $CdcD = 0 AND i + $CdcK < n),
           |        i -> CAST(i + $CdcK AS BIGINT))),
           |      [n]) AS bounds
           |  FROM g
           |), ch AS (
           |  SELECT doc_id, unnest(list_transform(range(len(bounds) - 1),
           |    j -> substr(text, CAST(bounds[j+1] + 1 AS INTEGER),
           |                CAST(bounds[j+2] - bounds[j+1] AS INTEGER)))) AS chunk
           |  FROM b
           |), cc AS (
           |  SELECT chunk, CAST(count(*) AS BIGINT) AS m FROM ch GROUP BY chunk
           |)
           |SELECT CAST(sum(m) AS BIGINT) AS n_chunks,
           |  CAST(count(*) AS BIGINT) AS n_unique_chunks,
           |  round(1.0 - CAST(count(*) AS DOUBLE) / sum(m), 6) AS dup_chunk_ratio,
           |  round(CAST(sum(length(chunk) * m) AS DOUBLE) / sum(m), 6)
           |    AS avg_chunk_chars
           |FROM cc""".stripMargin),
    ) { (s, dir) =>
      val cc = cdcChunks(Tables.documents(s, dir).select("doc_id", "text"))
        .groupBy("chunk").agg(count(lit(1)).as("m"))
      cc.agg(sum(col("m")).as("n_chunks"),
        count(lit(1)).as("n_unique_chunks"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum(col("m")), 6)
          .as("dup_chunk_ratio"),
        round(sum(length(col("chunk")) * col("m")).cast("double")
          / sum(col("m")), 6).as("avg_chunk_chars"))
    },

    Q(
      "q_fim_transform",
      "fill-in-the-middle transformation (the FIM/PSM pretraining " +
        "reorder for infilling models): each document splits at two " +
        "deterministic points into (prefix, middle, suffix) and " +
        "re-serializes as <PRE>prefix<SUF>suffix<MID>middle — so the " +
        "model learns to complete a masked span given BOTH sides. " +
        "Split points derive from the portable content hash in pure " +
        "integer arithmetic (p1 = 1 + h mod (n−2); p2 = p1 + 1 + " +
        "(h div 2²¹) mod (n−1−p1) — all three parts provably " +
        "non-empty, reproducible at any cluster size, the " +
        "q_span_mask determinism contract; production swaps the hash " +
        "for an RNG and a FIM-rate gate, the reorder machinery is " +
        "identical). Entirely per-row expression work — zero " +
        "shuffles before the per-lang audit rollup, which carries " +
        "exact char conservation sums (prefix+middle+suffix = total, " +
        "spec-pinned) and a mod-1000003 checksum of the transformed " +
        "text so the oracle verifies the REORDERED BYTES, not just " +
        "lengths",
      Some(
        s"""WITH d AS (
           |  SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS n,
           |    ${graft.functions.Portable.md5Hash60Sql("CAST(doc_id AS VARCHAR) || '#fim'")} AS h
           |  FROM documents WHERE length(text) >= 3
           |), sp AS (
           |  SELECT doc_id, lang, text, n, h,
           |    1 + (h % (n - 2)) AS p1
           |  FROM d
           |), sp2 AS (
           |  SELECT lang, text, n, p1,
           |    p1 + 1 + ((h // 2097152) % (n - 1 - p1)) AS p2
           |  FROM sp
           |), fim AS (
           |  SELECT lang, p1 AS np, p2 - p1 AS nm, n - p2 AS ns,
           |    '<PRE>' || substr(text, 1, CAST(p1 AS INTEGER))
           |      || '<SUF>' || substr(text, CAST(p2 + 1 AS INTEGER), CAST(n - p2 AS INTEGER))
           |      || '<MID>' || substr(text, CAST(p1 + 1 AS INTEGER), CAST(p2 - p1 AS INTEGER)) AS ft
           |  FROM sp2
           |)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(np) AS BIGINT) AS prefix_chars,
           |  CAST(sum(nm) AS BIGINT) AS middle_chars,
           |  CAST(sum(ns) AS BIGINT) AS suffix_chars,
           |  CAST(sum(${graft.functions.Portable.md5Hash60Sql("ft")} % 1000003) AS BIGINT)
           |    AS fim_checksum
           |FROM fim GROUP BY lang ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      val base = Tables.documents(s, dir)
        .filter(length(col("text")) >= 3)
        .select(col("lang"), col("text"),
          length(col("text")).cast("long").as("n"),
          graft.functions.Portable.md5Hash60(
            concat(col("doc_id").cast("string"), lit("#fim"))).as("h"))
      val sp = base
        .withColumn("p1", lit(1L) + pmod(col("h"), col("n") - 2))
        .withColumn("p2", col("p1") + 1L
          + pmod(expr("h div 2097152"), col("n") - 1 - col("p1")))
      val fim = sp.select(col("lang"),
        col("p1").as("np"), (col("p2") - col("p1")).as("nm"),
        (col("n") - col("p2")).as("ns"),
        concat(lit("<PRE>"),
          col("text").substr(lit(1), col("p1").cast("int")),
          lit("<SUF>"),
          col("text").substr((col("p2") + 1).cast("int"),
            (col("n") - col("p2")).cast("int")),
          lit("<MID>"),
          col("text").substr((col("p1") + 1).cast("int"),
            (col("p2") - col("p1")).cast("int"))).as("ft"))
      fim.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("np")).as("prefix_chars"),
          sum(col("nm")).as("middle_chars"),
          sum(col("ns")).as("suffix_chars"),
          sum(pmod(graft.functions.Portable.md5Hash60(col("ft")),
            lit(1000003L))).as("fim_checksum"))
        .orderBy("lang")
    },

    Q(
      "q_cooccur",
      "PMI co-occurrence statistics (the word2vec/GloVe training " +
        "signal): skip-gram pairs within distance 2, unordered-" +
        "normalized, aggregated corpus-wide; PMI = log2(n_ab·T²/" +
        "(P·n_a·n_b)) from exact integer counts, so the only float " +
        "op is one log2 on identical operands, 6dp-rounded before " +
        "ranking. The pair agg is the single corpus-sized shuffle " +
        "(stream = 2 pairs/token, keys bounded by observed-pair " +
        "vocab). The unigram side is PRUNED before it joins back: " +
        "only words appearing in a min-support-surviving pair are " +
        "kept, so the join side is pair-vocab-bounded, not raw-" +
        "corpus-vocab-sized — and the join is UNHINTED, so at 100 TB " +
        "it degrades to a (w)-keyed shuffle (the q_lm_score c2 " +
        "degradation) instead of a forced full-vocabulary broadcast. " +
        "Only the two 1-row scalar totals carry broadcast hints. Min " +
        s"support $CoocMinCount kills the noise tail that dominates " +
        "raw PMI; top-20 by (pmi, pair), ties stable",
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
           |), uni AS (
           |  SELECT w, count(*) AS n FROM (
           |    SELECT unnest(t) AS w FROM tok) GROUP BY w
           |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t_toks FROM uni),
           |pairs0 AS (
           |  SELECT least(a, b) AS wa, greatest(a, b) AS wb FROM (
           |    SELECT t[i+1] AS a, t[i+2] AS b FROM tok,
           |      unnest(range(len(t) - 1)) AS u(i)
           |    UNION ALL
           |    SELECT t[i+1] AS a, t[i+3] AS b FROM tok,
           |      unnest(range(len(t) - 2)) AS u(i))
           |), pc AS (
           |  SELECT wa, wb, count(*) AS n_ab FROM pairs0 GROUP BY wa, wb
           |), ptot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS t_pairs FROM pc),
           |scored AS (
           |  SELECT wa, wb, n_ab,
           |    round(log2(CAST(n_ab AS DOUBLE) * t_toks * t_toks
           |      / (CAST(t_pairs AS DOUBLE) * ua.n * ub.n)), 6) AS pmi
           |  FROM pc JOIN uni ua ON pc.wa = ua.w JOIN uni ub ON pc.wb = ub.w
           |  CROSS JOIN tot CROSS JOIN ptot
           |  WHERE n_ab >= $CoocMinCount
           |), r AS (
           |  SELECT CAST(row_number() OVER (ORDER BY pmi DESC, wa, wb)
           |    AS BIGINT) AS rank, wa, wb, n_ab, pmi FROM scored
           |)
           |SELECT rank, wa, wb, n_ab, pmi FROM r WHERE rank <= 20
           |ORDER BY rank""".stripMargin),
    ) { (s, dir) =>
      val t = Tables.documents(s, dir).select(col("doc_id"), toks.as("t"))
      // ONE corpus scan and ONE tokenize: both skip distances explode
      // from the same token array via a concat of per-distance
      // transforms (a doc too short for d=2 contributes the typed
      // empty array, not a descending sequence).
      def skipPairs(d: Int) = when(size(col("t")) > d,
        transform(
          sequence(lit(0), size(col("t")) - 1 - d),
          i => struct(
            least(element_at(col("t"), i + 1),
              element_at(col("t"), i + 1 + d)).as("wa"),
            greatest(element_at(col("t"), i + 1),
              element_at(col("t"), i + 1 + d)).as("wb"))))
        .otherwise(array().cast("array<struct<wa:string,wb:string>>"))
      // pc (pair vocab) and uni (vocab) feed multiple consumers each
      // (totals + joins); the eager localCheckpoints materialize them
      // once so the corpus is exploded exactly once per stream — the
      // q_lm_score pattern (swap for reliable checkpoints at 100 TB).
      val pc = t
        .select(explode(concat(skipPairs(1), skipPairs(2))).as("p"))
        .select(col("p.wa"), col("p.wb"))
        .groupBy("wa", "wb").agg(count(lit(1)).as("n_ab"))
        .localCheckpoint()
      val uni = t.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val tot = uni.agg(sum(col("n")).as("t_toks"))
      val ptot = pc.agg(sum(col("n_ab")).as("t_pairs"))
      val kept = pc.filter(col("n_ab") >= CoocMinCount).localCheckpoint()
      // Prune the unigram vocabulary to words that appear in a
      // surviving pair BEFORE it joins back: |uniKept| ≤ 2·|kept|,
      // bounded by the pair vocab, not the raw token vocab (which at
      // web scale is typo/junk-heavy and will not fit an executor).
      // Inner-join semantics are unchanged — every kept pair's words
      // are in uni by construction. Both vocab joins are UNHINTED:
      // locally the planner broadcasts the checkpointed small side
      // from its known size; at 100 TB they degrade to (w)-keyed
      // shuffle joins — never a forced full-vocabulary broadcast.
      val keptWords = kept.select(col("wa").as("w"))
        .union(kept.select(col("wb").as("w"))).distinct()
      val uniKept = uni.join(keptWords, Seq("w")).localCheckpoint()
      val scored = kept
        .join(uniKept.select(col("w").as("wa"), col("n").as("na")), Seq("wa"))
        .join(uniKept.select(col("w").as("wb"), col("n").as("nb")), Seq("wb"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(ptot))
        .select(col("wa"), col("wb"), col("n_ab"),
          round(log2(col("n_ab").cast("double") * col("t_toks") * col("t_toks")
            / (col("t_pairs").cast("double") * col("na") * col("nb"))), 6)
            .as("pmi"))
      scored
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("pmi").desc, col("wa"), col("wb"))).cast("long"))
        .filter(col("rank") <= 20)
        .select("rank", "wa", "wb", "n_ab", "pmi")
        .orderBy("rank")
    },

    Q(
      "q_heavy_hitters",
      s"count-min-sketch heavy hitters, driver-verified EXACTLY: both " +
        s"engines build the identical CMS (d=$CmsD rows × w=$CmsW " +
        "buckets, portable md5-based affine hash family) so the " +
        "estimate column itself hash-matches — no within-bound " +
        "hedging needed. Bucket counts aggregate from the VOCAB " +
        "table (sum of token counts per bucket — identical to " +
        "streaming increments, but the corpus shuffles once for the " +
        "vocab agg and never again); each of the d bucket tables is " +
        s"$CmsW rows, broadcast back to the top-10 join. At 100 TB " +
        "the sketch is the point: the mergeable d×w counter grid " +
        "replaces the full vocab in memory-constrained settings, and " +
        "est ≥ exact (one-sided CMS error) is asserted in spec",
      Some {
        val bucketSqls = (0 until CmsD).map { i =>
          val (a, b) = CmsAB(i)
          s"($a * hp + $b) % $CmsP % $CmsW"
        }
        val bucketCtes = (0 until CmsD).map { i =>
          s"""b$i AS (
             |  SELECT ${bucketSqls(i)} AS b, CAST(sum(n) AS BIGINT) AS c
             |  FROM hv GROUP BY 1
             |)""".stripMargin
        }.mkString(", ")
        val joins = (0 until CmsD).map { i =>
          s"JOIN b$i ON ${bucketSqls(i).replace("hp", "t.hp")} = b$i.b"
        }.mkString("\n  ")
        val leastExpr = (0 until CmsD).map(i => s"b$i.c").mkString("least(", ", ", ")")
        s"""WITH v AS (
           |  SELECT w, count(*) AS n FROM (
           |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
           |  GROUP BY w
           |), hv AS (
           |  SELECT w, n,
           |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $CmsP AS hp
           |  FROM v
           |), top AS (
           |  SELECT w, n, hp FROM (
           |    SELECT w, n, hp,
           |      CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank
           |    FROM hv) WHERE rank <= 10
           |), $bucketCtes
           |SELECT t.w AS term, t.n AS n_exact, $leastExpr AS n_cms
           |FROM top t
           |  $joins
           |ORDER BY n_exact DESC, term""".stripMargin
      },
    ) { (s, dir) =>
      val vocab = Tables.documents(s, dir)
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .withColumn("hp", Portable.md5Hash60(col("w")) % CmsP)
      def bucket(i: Int): Column = {
        val (a, b) = CmsAB(i)
        (lit(a) * col("hp") + lit(b)) % CmsP % CmsW
      }
      val top = vocab
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("n").desc, col("w"))).cast("long"))
        .filter(col("rank") <= 10)
        .drop("rank")
      val withEst = (0 until CmsD).foldLeft(top) { (cur, i) =>
        val bt = vocab.groupBy(bucket(i).as(s"b$i"))
          .agg(sum(col("n")).as(s"c$i"))
        cur.withColumn(s"b$i", bucket(i)).join(broadcast(bt), Seq(s"b$i"))
      }
      withEst
        .select(col("w").as("term"), col("n").as("n_exact"),
          least((0 until CmsD).map(i => col(s"c$i")): _*).as("n_cms"))
        .orderBy(col("n_exact").desc, col("term"))
    },

    Q(
      "q_phrase_search",
      "positional-index PHRASE search: find every occurrence of the " +
        "corpus's top trigram (self-contained, guaranteed non-empty) " +
        "via the inverted positional index — token postings (doc, pos) " +
        "probe the FIRST phrase term (the selective index lookup), " +
        "then each following term joins by (doc_id, pos+i) equality, " +
        "the search-engine phrase-query shape LIKE-scans can't do at " +
        "scale. The exploded postings stream is checkpointed once and " +
        "read three times (probe + two positional joins); the 1-row " +
        "phrase broadcasts. At 100 TB postings are token-keyed (probe " +
        "touches one posting list) and the positional joins are " +
        "(doc,pos)-keyed equi-joins on the already-filtered candidate " +
        "stream",
      Some(
        """WITH toks AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
          |), tri AS (
          |  SELECT t[i+1] AS w1, t[i+2] AS w2, t[i+3] AS w3
          |  FROM toks, unnest(range(len(t) - 2)) AS u(i)
          |), top AS (
          |  -- Tie-break on the TOKEN TUPLE (w1, w2, w3), matching the
          |  -- Spark side structurally: ordering the space-joined
          |  -- string instead would diverge on tokens containing
          |  -- characters below 0x20.
          |  SELECT w1, w2, w3 FROM (
          |    SELECT w1, w2, w3, count(*) AS n FROM tri GROUP BY w1, w2, w3)
          |  ORDER BY n DESC, w1, w2, w3 LIMIT 1
          |), occ AS (
          |  SELECT doc_id FROM (
          |    SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2, t[i+3] AS w3
          |    FROM toks, unnest(range(len(t) - 2)) AS u(i)) d
          |  JOIN top ON d.w1 = top.w1 AND d.w2 = top.w2 AND d.w3 = top.w3
          |)
          |SELECT doc_id, count(*) AS n_occ FROM occ
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      // Postings (doc_id, pos, w) — the positional inverted index,
      // materialized once for the trigram count AND the phrase probe.
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
        .localCheckpoint()
      // Top trigram from the same per-row transform q_bigrams uses —
      // the 1-row result broadcasts as the query phrase (orderBy+limit
      // plans as a TakeOrdered heap, not a global sort).
      val phrase = Tables.documents(s, dir)
        .select(split(lower(col("text")), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(explode(transform(sequence(lit(0), size(col("t")) - 3),
          i => struct(element_at(col("t"), i + 1).as("w1"),
            element_at(col("t"), i + 2).as("w2"),
            element_at(col("t"), i + 3).as("w3")))).as("g"))
        .groupBy("g.w1", "g.w2", "g.w3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
        .limit(1)
        .select("w1", "w2", "w3")
      val t1 = tok.join(broadcast(phrase), col("w") === col("w1"))
        .select(col("doc_id"), col("pos"), col("w2"), col("w3"))
      val t2 = tok.select(col("doc_id").as("d2"), col("pos").as("p2"),
        col("w").as("x2"))
      val t3 = tok.select(col("doc_id").as("d3"), col("pos").as("p3"),
        col("w").as("x3"))
      t1.join(t2, col("d2") === col("doc_id")
          && col("p2") === col("pos") + 1 && col("x2") === col("w2"))
        .join(t3, col("d3") === col("doc_id")
          && col("p3") === col("pos") + 2 && col("x3") === col("w3"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        .orderBy("doc_id")
    },

    Q(
      "q_weighted_sample",
      s"weighted sampling WITHOUT replacement (Efraimidis–Spirakis " +
        s"A-ES, top-$WeightedSampleK by n_chars weight): per-doc " +
        "uniform u from the portable content hash (reproducible " +
        "across engines, runs and cluster sizes — the q_hash_sample " +
        "contract), rank key = 1000·ln(u)/w, 6dp-rounded at the libm " +
        "boundary so both engines rank identical values (ties by " +
        "doc_id). Key computation is pure per-row work; the top-K cut " +
        "is a TakeOrdered heap, not a global sort — longer docs " +
        "surface proportionally to weight, and appending a batch " +
        "cannot flip earlier keys",
      Some(
        s"""SELECT doc_id, lang, n_chars,
           |  round(1000.0 * ln((CAST(${Portable.md5Hash60Sql("text")} % 1048576 AS DOUBLE)
           |    + 1.0) / 1048576.0) / n_chars, 6) AS sample_key
           |FROM documents
           |WHERE n_chars > 0
           |ORDER BY sample_key DESC, doc_id LIMIT $WeightedSampleK""".stripMargin),
    ) { (s, dir) =>
      val u = (pmod(Portable.md5Hash60(col("text")), lit(1048576L))
        .cast("double") + lit(1.0)) / lit(1048576.0)
      Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(lit(1000.0) * log(u) / col("n_chars"), 6).as("sample_key"))
        .orderBy(col("sample_key").desc, col("doc_id"))
        .limit(WeightedSampleK)
    },

    Q(
      "q_line_dedup",
      "C4-style LINE-level exact dedup across the whole corpus on " +
        "REAL newlines: the flat synthetic token stream is salted " +
        "deterministically in BOTH engines (the q_pii_scrub " +
        "convention) into '\\n'-joined documents — a shared nav " +
        "banner on every doc, 8-token body lines, a cookie notice on " +
        "every third doc, a shared footer — and the segmenter is the " +
        "production `split(text, '\\n')`, no stand-ins anywhere. " +
        "Every distinct line keeps its FIRST global occurrence (min " +
        "(doc_id, line_no)), later occurrences are cut from their " +
        "docs (the banner/cookie/footer survive exactly once, in the " +
        "lowest doc that carries them), and surviving lines " +
        "reassemble in order with per-doc kept counts + a byte-exact " +
        "md5 of the cleaned text — the boilerplate-removal pass " +
        "C4/RefinedWeb run before near-dedup. One corpus-sized " +
        "shuffle keyed by the line (at 100 TB key the window by the " +
        "line's md5 so shuffle keys stay 16 bytes); keep-first is a " +
        "keyed window row_number, reassembly one doc-keyed agg. Docs " +
        "whose every line appeared earlier collapse to the empty " +
        "string, preserved by the left join",
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
           |), salted AS (
           |  SELECT doc_id,
           |    'nav home products pricing docs about contact' || chr(10) ||
           |    array_to_string(list_transform(
           |      range(CAST(ceil(len(t) / $LineTokens.0) AS BIGINT)),
           |      i -> array_to_string(t[i*$LineTokens+1 : (i+1)*$LineTokens], ' ')),
           |      chr(10)) ||
           |    CASE WHEN doc_id % 3 = 0
           |      THEN chr(10) || 'this site uses cookies please accept to continue'
           |      ELSE '' END ||
           |    chr(10) || 'copyright example corp all rights reserved' AS text
           |  FROM t
           |), ln AS (
           |  SELECT doc_id, i AS line_no, ls[i + 1] AS line
           |  FROM (SELECT doc_id, ls, unnest(range(len(ls))) AS i
           |        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
           |              FROM salted))
           |), kept AS (
           |  SELECT doc_id, line_no, line,
           |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
           |  FROM ln
           |), clean AS (
           |  SELECT doc_id, count(*) AS kept_lines,
           |    string_agg(line, chr(10) ORDER BY line_no) AS clean
           |  FROM kept WHERE rn = 1 GROUP BY doc_id
           |)
           |SELECT s.doc_id,
           |  CAST(len(string_split(s.text, chr(10))) AS BIGINT) AS n_lines,
           |  coalesce(c.kept_lines, 0) AS kept_lines,
           |  md5(coalesce(c.clean, '')) AS clean_md5
           |FROM salted s LEFT JOIN clean c ON s.doc_id = c.doc_id
           |ORDER BY s.doc_id""".stripMargin),
    ) { (s, dir) =>
      val toks = split(col("text"), " ", -1)
      val body = array_join(transform(
        sequence(lit(0), floor((size(toks) - 1) / lit(LineTokens)).cast("int")),
        i => concat_ws(" ", slice(toks, i * LineTokens + 1, lit(LineTokens)))),
        "\n")
      val salted = concat(
        lit("nav home products pricing docs about contact\n"),
        body,
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("\nthis site uses cookies please accept to continue"))
          .otherwise(lit("")),
        lit("\ncopyright example corp all rights reserved"))
      lineDedup(Tables.documents(s, dir)
        .select(col("doc_id"), salted.as("text")))
        .orderBy("doc_id")
    },

    Q(
      "q_keywords",
      s"per-document keyword extraction: top-$KeywordsK terms by " +
        "TF-IDF (ties by term) — the doc-annotation twin of q_tfidf's " +
        "per-LANG profile, feeding tagging/faceting/BM25 query " +
        "expansion. One corpus pass builds (doc, term) tf; df rolls " +
        "up from tf (vocab-sized input, never corpus positions); the " +
        "doc-count scalar broadcasts as a 1-row cross join and the " +
        "tf⋈df join is term-keyed and UNHINTED (vocab is unbounded at " +
        "web scale — degrades to a keyed shuffle, never a forced " +
        "broadcast). The per-doc top-K window prunes map-side via " +
        "WindowGroupLimit (plan-pinned); idf is one libm ln on " +
        "identical operands, 6dp-rounded, and tfidf one IEEE multiply " +
        "of identical operands — bit-stable across engines",
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
           |  FROM documents
           |), tf AS (
           |  SELECT doc_id, term, count(*) AS tf FROM tok
           |  WHERE term <> '' GROUP BY doc_id, term
           |), df AS (
           |  SELECT term, count(*) AS df FROM tf GROUP BY term
           |), nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
           |sc AS (
           |  SELECT f.doc_id, f.term, f.tf,
           |    round(f.tf * round(ln(nd.nd / d.df), 6), 6) AS tfidf
           |  FROM tf f JOIN df d ON f.term = d.term CROSS JOIN nd
           |), rk AS (
           |  SELECT doc_id, term, tf, tfidf, row_number() OVER (
           |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
           |  FROM sc
           |)
           |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, tfidf
           |FROM rk WHERE rank <= $KeywordsK
           |ORDER BY doc_id, rank""".stripMargin),
    ) { (s, dir) =>
      keywordsOf(Tables.documents(s, dir), KeywordsK).orderBy("doc_id", "rank")
    },

    Q(
      "q_span_mask",
      s"T5-style span corruption (mask ${SpanLen}/${SpanCycle} = 15% " +
        "of tokens in 3-token spans): masked spans collapse to " +
        "numbered <extra_id_N> sentinels in the INPUT stream while " +
        "the TARGET stream carries each sentinel followed by the " +
        "tokens it hid — the denoising objective's training-pair " +
        "generator. Span starts follow the deterministic positional " +
        "rule (see SpanCycle: a seeded per-doc hash drives them in " +
        "production; assembly is identical). Everything is per-row " +
        "array expression work — index sequence, CASE per position, " +
        "flatten, join — ZERO shuffles before the output sort " +
        "(plan-pinned); input/target verified byte-exactly via md5 " +
        "in both engines, counts make the rate auditable",
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
           |), m AS (
           |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           |    list_filter(list_transform(range(len(t)), i -> CASE
           |      WHEN i % $SpanCycle = $SpanStart
           |        THEN '<extra_id_' || CAST(i // $SpanCycle AS VARCHAR) || '>'
           |      WHEN i % $SpanCycle BETWEEN ${SpanStart + 1}
           |        AND ${SpanStart + SpanLen - 1} THEN NULL
           |      ELSE t[i+1] END), x -> x IS NOT NULL) AS inp,
           |    flatten(list_transform(range(len(t)), i -> CASE
           |      WHEN i % $SpanCycle = $SpanStart
           |        THEN ['<extra_id_' || CAST(i // $SpanCycle AS VARCHAR) || '>',
           |              t[i+1]]
           |      WHEN i % $SpanCycle BETWEEN ${SpanStart + 1}
           |        AND ${SpanStart + SpanLen - 1} THEN [t[i+1]]
           |      ELSE CAST([] AS VARCHAR[]) END)) AS tgt,
           |    len(list_filter(range(len(t)),
           |      i -> i % $SpanCycle BETWEEN $SpanStart
           |        AND ${SpanStart + SpanLen - 1})) AS n_masked,
           |    len(list_filter(range(len(t)),
           |      i -> i % $SpanCycle = $SpanStart)) AS n_spans
           |  FROM t
           |)
           |SELECT doc_id, n_tokens,
           |  CAST(n_masked AS BIGINT) AS n_masked,
           |  CAST(n_spans AS BIGINT) AS n_spans,
           |  md5(array_to_string(inp, ' ')) AS input_md5,
           |  md5(array_to_string(tgt, ' ')) AS target_md5
           |FROM m ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val t = col("t")
      val idx = sequence(lit(0), size(t) - 1)
      val sentinel = (i: Column) =>
        concat(lit("<extra_id_"), floor(i / SpanCycle).cast("long")
          .cast("string"), lit(">"))
      val isStart = (i: Column) => pmod(i, lit(SpanCycle)) === SpanStart
      val isCont = (i: Column) => pmod(i, lit(SpanCycle))
        .between(SpanStart + 1, SpanStart + SpanLen - 1)
      Tables.documents(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ", -1).as("t"))
        .select(col("doc_id"),
          size(t).cast("long").as("n_tokens"),
          aggregate(idx, lit(0L), (acc, i) =>
            acc + when(isStart(i) || isCont(i), 1L).otherwise(0L))
            .as("n_masked"),
          aggregate(idx, lit(0L), (acc, i) =>
            acc + when(isStart(i), 1L).otherwise(0L)).as("n_spans"),
          md5(concat_ws(" ", filter(transform(idx, i =>
            when(isStart(i), sentinel(i))
              .when(isCont(i), lit(null))
              .otherwise(element_at(t, i + 1))), x => x.isNotNull)))
            .as("input_md5"),
          md5(concat_ws(" ", flatten(transform(idx, i =>
            when(isStart(i), array(sentinel(i), element_at(t, i + 1)))
              .when(isCont(i), array(element_at(t, i + 1)))
              .otherwise(array().cast("array<string>"))))))
            .as("target_md5"))
        .orderBy("doc_id")
    },

    Q(
      "q_tok_fertility",
      s"tokenizer FERTILITY eval (pieces/word and chars/piece per " +
        "lang) for the $BpeMerges-merge BPE tokenizer — the " +
        "compression metric every tokenizer team reads before " +
        "shipping a vocab (fertility ≈1 = words survive whole, high " +
        "fertility = the vocab fragments that language, the classic " +
        "multilingual-fairness signal). The corpus collapses to " +
        "per-(lang, word) counts ONCE; segmentation comes from the " +
        "trained vocab (word-keyed join, vocab-bounded build side, " +
        "UNHINTED); the rollup is #langs rows of exact BIGINT sums " +
        "with single IEEE divisions of identical operands — nothing " +
        "here rescans corpus positions. At 100 TB the train loop is " +
        "amortized (tokenizers ship monthly); fertility reruns are " +
        "one word-count agg + a vocab join",
      Some(
        s"""WITH ${bpeRoundsSqlCte(BpeMerges)},
           |pieces AS (
           |  SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT)
           |    AS pieces
           |  FROM v$BpeMerges
           |), lw AS (
           |  SELECT lang, w, count(*) AS n_lw FROM (
           |    SELECT lang, unnest(string_split(lower(text), ' ')) AS w
           |    FROM documents)
           |  WHERE w <> '' GROUP BY lang, w
           |)
           |SELECT lang,
           |  CAST(sum(n_lw) AS BIGINT) AS n_words,
           |  CAST(sum(n_lw * pieces) AS BIGINT) AS n_pieces,
           |  round(CAST(sum(n_lw * pieces) AS DOUBLE) / sum(n_lw), 6)
           |    AS fertility,
           |  round(CAST(sum(n_lw * length(w)) AS DOUBLE)
           |    / sum(n_lw * pieces), 6) AS chars_per_piece
           |FROM lw JOIN pieces USING (w)
           |GROUP BY lang ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      tokFertility(s, Tables.documents(s, dir), BpeMerges).orderBy("lang")
    },

    Q(
      "q_hash_embed",
      s"feature-hashing doc vectors (the hashing trick, $HashDim " +
        "dims): every term lands in dim = hash % D with sign from the " +
        "next hash bit, v[d] = Σ sign·tf — model-free lexical " +
        "embeddings that feed the ANN pillar (cosine over them " +
        "approximates term-overlap similarity) and the streaming " +
        "side (new docs embed independently, no vocabulary to sync). " +
        "The vector stays EXACT BIGINT end to end — no float ever " +
        "enters the accumulation, so engines cannot drift — and is " +
        "byte-verified via md5 of its joined form; the only float is " +
        "the final L2 norm, one libm sqrt of an identical integer, " +
        "6dp-rounded. One (doc, dim)-keyed agg bounded by docs×D; " +
        "dense assembly is a per-doc map lookup over the D-sequence, " +
        "never a D-way join",
      Some(hashEmbedSql),
    ) { (s, dir) =>
      hashEmbed(Tables.documents(s, dir)).orderBy("doc_id")
    },

    Q(
      "q_sparse_search",
      "SPARSE vector similarity search over the hashed doc vectors " +
        "(top-10 cosine neighbors for 5 probe docs) via an INVERTED " +
        "dim-keyed join — the SPLADE/learned-sparse retrieval shape: " +
        "the dot product never materializes dense vectors, it sums " +
        "va·vb over the dims the two docs SHARE, so candidates are " +
        "bounded by posting-list co-occurrence (at a production " +
        "D=2^18 the dim join touches only genuinely overlapping " +
        "docs; dense cosine would touch everything). Dims are " +
        "checkpointed once and reused for probes, corpus and norms; " +
        "dots accumulate in EXACT BIGINT (no float until the final " +
        "cosine division); norms join back doc-keyed (ids-then-" +
        "payloads); per-probe top-k prunes map-side via " +
        "WindowGroupLimit. Complements q_simsearch's dense path and " +
        "q_lexical_knn's tf-idf path with the hashed-feature one",
      Some(
        s"""WITH $hashDimsSqlCte,
           |$sparseRankedSqlCte
           |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           |  cos_sim
           |FROM ranked
           |ORDER BY probe_id, rank""".stripMargin),
    ) { (s, dir) =>
      sparseRanked(hashDims(Tables.documents(s, dir)))
        .select("probe_id", "rank", "neighbor_id", "cos_sim")
        .orderBy("probe_id", "rank")
    },

    Q(
      "q_maxsim_rerank",
      s"ColBERT-style LATE-INTERACTION rerank: the q_sparse_search " +
        s"top-10 doc-level candidates re-score by MaxSim over " +
        s"$MsChunk-token chunk vectors — score = Σ over probe chunks " +
        "of max(0, best chunk-pair cosine) — recovering the local " +
        "alignment a single doc vector averages away (the reason " +
        "every late-interaction retriever runs this exact " +
        "coarse-candidates→chunk-rerank funnel; clamping negatives " +
        "to 0 also makes absent chunk pairs — no shared dims ⇒ dot " +
        "exactly 0 — contribute identically in both engines without " +
        "materializing them). Chunk pair cost is candidates×chunks², " +
        "never corpus²; chunk dims checkpoint once; dots stay EXACT " +
        "BIGINT until the final cosine; the per-probe-chunk max and " +
        "the fixed-point MaxSim sum run on candidate-bounded rows. " +
        "At 100 TB the candidate stage is the ANN index and this " +
        "rerank touches k docs per query — the standard two-stage " +
        "retrieval budget",
      Some(
        s"""WITH $hashDimsSqlCte,
           |$sparseRankedSqlCte,
           |cand AS (SELECT probe_id, neighbor_id FROM ranked),
           |csrc AS (
           |  SELECT doc_id * 100 + c AS cid,
           |    array_to_string(t[c*$MsChunk+1 : (c+1)*$MsChunk], ' ') AS text
           |  FROM (SELECT doc_id, t,
           |          unnest(range(CAST(ceil(len(t) / $MsChunk.0) AS BIGINT))) AS c
           |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
           |              FROM documents))
           |), ctok AS (
           |  SELECT cid, term, count(*) AS tf FROM (
           |    SELECT cid, unnest(string_split(text, ' ')) AS term FROM csrc)
           |  WHERE term <> '' GROUP BY cid, term
           |), cdims AS (
           |  SELECT cid, cid // 100 AS cdoc, dim, CAST(sum(v) AS BIGINT) AS v
           |  FROM (
           |    SELECT cid, ${Portable.md5Hash60Sql("term")} % $HashDim AS dim,
           |      CASE WHEN (${Portable.md5Hash60Sql("term")} >> 6) % 2 = 0
           |        THEN tf ELSE -tf END AS v
           |    FROM ctok)
           |  GROUP BY cid, dim
           |), cnorms AS (
           |  SELECT cid, CAST(sum(v * v) AS BIGINT) AS n2 FROM cdims
           |  GROUP BY cid HAVING sum(v * v) > 0
           |), pairdots AS (
           |  SELECT c.probe_id, c.neighbor_id, p.cid AS pcid, n.cid AS ncid,
           |    CAST(sum(p.v * n.v) AS BIGINT) AS dot
           |  FROM cand c
           |  JOIN cdims p ON p.cdoc = c.probe_id
           |  JOIN cdims n ON n.cdoc = c.neighbor_id AND n.dim = p.dim
           |  GROUP BY 1, 2, 3, 4
           |), ccos AS (
           |  SELECT probe_id, neighbor_id, pcid,
           |    round(dot / (sqrt(CAST(pn.n2 AS DOUBLE))
           |      * sqrt(CAST(nn.n2 AS DOUBLE))), 6) AS cs
           |  FROM pairdots
           |  JOIN cnorms pn ON pn.cid = pcid
           |  JOIN cnorms nn ON nn.cid = ncid
           |), pmax AS (
           |  SELECT probe_id, neighbor_id, pcid,
           |    greatest(CAST(0 AS DOUBLE), max(cs)) AS mx
           |  FROM ccos GROUP BY 1, 2, 3
           |), msum AS (
           |  SELECT probe_id, neighbor_id,
           |    CAST(sum(CAST(round(mx * 1000000) AS BIGINT)) / 1000000.0
           |      AS DOUBLE) AS maxsim
           |  FROM pmax GROUP BY 1, 2
           |), mrank AS (
           |  ${ByMaxSim.cutSql("probe_id, neighbor_id, maxsim, rank",
                "probe_id, neighbor_id, maxsim", "msum")}
           |)
           |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, maxsim
           |FROM mrank
           |ORDER BY probe_id, rank""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cand = sparseRanked(hashDims(docs))
        .select("probe_id", "neighbor_id")
        .localCheckpoint()
      val t = split(lower(col("text")), " ", -1)
      val chunks = docs
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), floor((size(t) - 1) / lit(MsChunk)).cast("int")),
            c => concat_ws(" ", slice(t, c * MsChunk + 1, lit(MsChunk))))))
        .toDF("doc_id", "c", "text")
        .select((col("doc_id") * 100 + col("c")).as("doc_id"), col("text"))
      val cdims = hashDims(chunks)
        .select(col("doc_id").as("cid"),
          floor(col("doc_id") / 100).cast("long").as("cdoc"),
          col("dim"), col("v"))
        .localCheckpoint() // reused: probe side, neighbor side, norms
      val cnorms = cdims.groupBy("cid")
        .agg(sum(col("v") * col("v")).as("n2")).filter(col("n2") > 0)
      val pcd = Knn.probeRows(cdims, "cdoc")
        .select(col("cdoc").as("probe_id"), col("cid").as("pcid"),
          col("dim"), col("v").as("pv"))
      val ncd = cdims.select(col("cdoc").as("neighbor_id"),
        col("cid").as("ncid"), col("dim"), col("v").as("nv"))
      val pairDots = cand
        .join(pcd, Seq("probe_id"))
        .join(ncd, Seq("neighbor_id", "dim"))
        .groupBy("probe_id", "neighbor_id", "pcid", "ncid")
        .agg(sum(col("pv") * col("nv")).as("dot"))
      val ccos = pairDots
        .join(cnorms.select(col("cid").as("pcid"), col("n2").as("pn2")),
          "pcid")
        .join(cnorms.select(col("cid").as("ncid"), col("n2").as("nn2")),
          "ncid")
        .select(col("probe_id"), col("neighbor_id"), col("pcid"),
          round(col("dot") / (sqrt(col("pn2").cast("double"))
            * sqrt(col("nn2").cast("double"))), 6).as("cs"))
      ByMaxSim.top(ccos.groupBy("probe_id", "neighbor_id", "pcid")
        .agg(greatest(lit(0.0), max(col("cs"))).as("mx"))
        .groupBy("probe_id", "neighbor_id")
        .agg((sum(round(col("mx") * 1000000, 0).cast("long"))
          / lit(1000000.0)).cast("double").as("maxsim")))
        .select("probe_id", "rank", "neighbor_id", "maxsim")
        .orderBy("probe_id", "rank")
    },

    Q(
      "q_dataset_card",
      "the DATASET CARD / datasheet rollup: one query emitting the " +
        "corpus-level numbers a data release documents — doc and " +
        "token counts, lang/source breadth, exact-duplicate rate, " +
        "mean doc length, short-doc share — as (metric, value) rows. " +
        "ONE narrow scan computes every additive component in a " +
        "single agg (checkpointed 1-row result; the unpivot reads " +
        "it, not the corpus); the only non-additive metric (distinct " +
        "content hashes) rides a two-stage hash distinct, the " +
        "q_table_stats NDV shape. All values are exact counts or " +
        "single IEEE divisions of them, 6dp-rounded — at 100 TB this " +
        "is the cheap always-on release gate, and each metric's " +
        "deep-dive twin is its own operator (q_text_stats, " +
        "q_dedup_exact, q_kanon_audit, q_tok_coverage)",
      Some(
        """WITH a AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(len(list_filter(string_split(lower(text), ' '),
          |      w -> w <> ''))) AS BIGINT) AS n_tokens,
          |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
          |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          |    CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_short
          |  FROM documents
          |), h AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_unique
          |  FROM (SELECT DISTINCT md5(text) FROM documents)
          |)
          |SELECT metric, round(value, 6) AS value FROM (
          |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
          |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM a
          |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
          |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
          |  UNION ALL SELECT 'mean_doc_tokens',
          |    CAST(n_tokens AS DOUBLE) / n_docs FROM a
          |  UNION ALL SELECT 'short_doc_share',
          |    CAST(n_short AS DOUBLE) / n_docs FROM a
          |  UNION ALL SELECT 'dup_rate',
          |    1.0 - CAST(h.n_unique AS DOUBLE) / a.n_docs FROM a, h
          |) ORDER BY metric""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val a = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(filter(split(lower(col("text")), " ", -1),
          w => w =!= ""))).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("n_short"))
        .localCheckpoint()
      val h = docs.select(md5(col("text")).as("h")).distinct()
        .agg(count(lit(1)).as("n_unique")).localCheckpoint()
      val rows = Seq(
        ("n_docs", col("n_docs").cast("double")),
        ("n_tokens", col("n_tokens").cast("double")),
        ("n_langs", col("n_langs").cast("double")),
        ("n_sources", col("n_sources").cast("double")),
        ("mean_doc_tokens", col("n_tokens").cast("double") / col("n_docs")),
        ("short_doc_share", col("n_short").cast("double") / col("n_docs")))
        .map { case (m, v) => a.select(lit(m).as("metric"), v.as("value")) }
      val dup = a.crossJoin(h)
        .select(lit("dup_rate").as("metric"),
          (lit(1.0) - col("n_unique").cast("double") / col("n_docs"))
            .as("value"))
      (rows :+ dup).reduce(_ unionByName _)
        .select(col("metric"), round(col("value"), 6).as("value"))
        .orderBy("metric")
    },

    Q(
      "q_kanon_audit",
      s"k-anonymity audit over the quasi-identifier pair (lang, " +
        s"source), k=$KAnonK — the data-governance gate beside " +
        "q_pii_scrub (scrubbing hides direct identifiers; small " +
        "quasi-identifier groups re-identify anyway, so a release " +
        "pipeline suppresses or generalizes groups below k): one " +
        "quasi-id-keyed agg bounded by the combo cardinality, never " +
        "corpus-sized output; per-group flag + suppression count " +
        "make the downstream action (filter on the flag) a " +
        "broadcast-join decision. At 100 TB the agg is the only " +
        "corpus pass and its output stays #langs×#sources rows",
      Some(
        s"""SELECT lang, source, count(*) AS n,
           |  CASE WHEN count(*) >= $KAnonK THEN CAST(1 AS BIGINT)
           |    ELSE CAST(0 AS BIGINT) END AS k_anonymous,
           |  CASE WHEN count(*) >= $KAnonK THEN CAST(0 AS BIGINT)
           |    ELSE count(*) END AS n_suppressed
           |FROM documents GROUP BY lang, source
           |ORDER BY lang, source""".stripMargin),
    ) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .select(col("lang"), col("source"), col("n"),
          when(col("n") >= KAnonK, 1L).otherwise(0L).as("k_anonymous"),
          when(col("n") >= KAnonK, 0L).otherwise(col("n")).as("n_suppressed"))
        .orderBy("lang", "source")
    },

    Q(
      "q_tok_coverage",
      s"vocabulary COVERAGE / OOV-rate eval per lang for the " +
        s"top-$VocabCap capped vocabulary (q_vocab_ids' vocab): share " +
        "of token OCCURRENCES and of distinct TYPES that fall outside " +
        "the vocab — the coverage curve read beside q_tok_fertility " +
        "before freezing a tokenizer (a lang with high OOV mass gets " +
        "mangled to <unk> at training time; the multilingual-equity " +
        "number reviewers ask for). The corpus collapses to " +
        "(lang, token) counts ONCE; the vocab is the same " +
        "TakeOrdered top-K as the encoder; membership is a LEFT join " +
        "against the broadcast K-row vocab; the rollup is #langs " +
        "rows of exact BIGINT sums with single IEEE divisions",
      Some(
        s"""WITH lt AS (
           |  SELECT lang, w, count(*) AS n FROM (
           |    SELECT lang, unnest(string_split(lower(text), ' ')) AS w
           |    FROM documents)
           |  WHERE w <> '' GROUP BY lang, w
           |), vocab AS (
           |  SELECT w, CAST(sum(n) AS BIGINT) AS n FROM lt GROUP BY w
           |), topk AS (
           |  SELECT w FROM vocab ORDER BY n DESC, w LIMIT $VocabCap
           |), flagged AS (
           |  SELECT lt.lang, lt.w, lt.n,
           |    CASE WHEN t.w IS NULL THEN 1 ELSE 0 END AS oov
           |  FROM lt LEFT JOIN topk t ON lt.w = t.w
           |)
           |SELECT lang,
           |  CAST(sum(n) AS BIGINT) AS n_tokens,
           |  CAST(sum(n * oov) AS BIGINT) AS n_oov,
           |  round(CAST(sum(n * oov) AS DOUBLE) / sum(n), 6) AS oov_rate,
           |  count(*) AS n_types,
           |  CAST(sum(oov) AS BIGINT) AS oov_types
           |FROM flagged GROUP BY lang ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      val lt = Tables.documents(s, dir)
        .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("lang", "w").agg(count(lit(1)).as("n"))
      val topk = lt.groupBy("w").agg(sum(col("n")).as("n"))
        .orderBy(col("n").desc, col("w")).limit(VocabCap)
        .select(col("w"), lit(1).as("in_vocab"))
      lt.join(broadcast(topk), Seq("w"), "left")
        .select(col("lang"), col("n"),
          when(col("in_vocab").isNull, 1L).otherwise(0L).as("oov"))
        .groupBy("lang")
        .agg(sum(col("n")).as("n_tokens"),
          sum(col("n") * col("oov")).as("n_oov"),
          round(sum(col("n") * col("oov")).cast("double") / sum(col("n")), 6)
            .as("oov_rate"),
          count(lit(1)).as("n_types"),
          sum(col("oov")).as("oov_types"))
        .orderBy("lang")
    },

    Q(
      "q_zipf_fit",
      s"Zipf-law fit per lang: least-squares slope of log₂(freq) vs " +
        s"log₂(rank) over each lang's top-$ZipfK tokens — the corpus-" +
        "naturalness diagnostic (natural language slopes ≈ −1; " +
        "template/boilerplate-heavy or synthetic corpora deviate " +
        "hard, so curation dashboards track it per source/lang). The " +
        "corpus collapses to (lang, token) counts once; the rank cut " +
        "is a per-lang window pruned map-side (WindowGroupLimit) so " +
        "the regression runs over #langs×K rows. Determinism: both " +
        "logs 6dp-rounded at the libm boundary, means are single " +
        "divisions of exact fixed-point sums, per-term products are " +
        "IEEE ops on identical operands, and the two covariance sums " +
        "accumulate in ×1e6 BIGINT fixed point — the slope is then " +
        "ONE division of two exact integers (the 1e6 factors cancel)",
      Some(
        s"""WITH tok AS (
           |  SELECT lang, w, count(*) AS n FROM (
           |    SELECT lang, unnest(string_split(lower(text), ' ')) AS w
           |    FROM documents)
           |  WHERE w <> '' GROUP BY lang, w
           |), ranked AS (
           |  SELECT lang, n, row_number() OVER (
           |    PARTITION BY lang ORDER BY n DESC, w) AS rank
           |  FROM tok
           |), pts AS (
           |  SELECT lang,
           |    round(log2(CAST(rank AS DOUBLE)), 6) AS x,
           |    round(log2(CAST(n AS DOUBLE)), 6) AS y
           |  FROM ranked WHERE rank <= $ZipfK
           |), m AS (
           |  SELECT lang, count(*) AS k,
           |    CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS sx,
           |    CAST(sum(CAST(round(y * 1000000) AS BIGINT)) AS BIGINT) AS sy
           |  FROM pts GROUP BY lang
           |), c AS (
           |  SELECT p.lang, m.k,
           |    CAST(sum(CAST(round((p.x - m.sx / (1000000.0 * m.k))
           |      * (p.y - m.sy / (1000000.0 * m.k)) * 1000000) AS BIGINT))
           |      AS BIGINT) AS sxy,
           |    CAST(sum(CAST(round((p.x - m.sx / (1000000.0 * m.k))
           |      * (p.x - m.sx / (1000000.0 * m.k)) * 1000000) AS BIGINT))
           |      AS BIGINT) AS sxx
           |  FROM pts p JOIN m ON p.lang = m.lang
           |  GROUP BY p.lang, m.k
           |)
           |SELECT lang, CAST(k AS BIGINT) AS k_tokens,
           |  round(CAST(sxy AS DOUBLE) / sxx, 6) AS zipf_slope
           |FROM c WHERE k >= 8
           |ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      zipfFit(Tables.documents(s, dir)).orderBy("lang")
    },

    Q(
      "q_heaps_law",
      "Heaps-law vocabulary growth beside q_zipf_fit's frequency " +
        "slope: V(N) ≈ K·N^β measured at ten cumulative corpus " +
        "deciles (doc_id order stands in for arrival order), with β " +
        "the log-log OLS slope — the diagnostic that says whether a " +
        "corpus keeps yielding NEW vocabulary (β≈0.5 natural text) " +
        "or has saturated (β→0: more data, no new words — the " +
        "point of diminishing curation returns). ONE corpus pass: " +
        "every token carries its decile, vocabulary increments " +
        "attribute to each word's FIRST decile (a word-keyed min " +
        "agg), and both cumulatives are windows over the 10-row " +
        "rollup. The OLS runs the q_zipf_fit fixed-point discipline " +
        "— logs 6dp-rounded, covariance sums in ×1e6 BIGINT, slope " +
        "one division of exact integers",
      Some(
        """WITH mx AS (SELECT max(doc_id) AS md FROM documents),
          |tok AS (
          |  SELECT least(9, doc_id * 10 // (md + 1)) AS dk, w FROM (
          |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          |    FROM documents) CROSS JOIN mx
          |  WHERE w <> ''
          |), tc AS (
          |  SELECT dk, CAST(count(*) AS BIGINT) AS t FROM tok GROUP BY dk
          |), fw AS (
          |  SELECT w, min(dk) AS fdk FROM tok GROUP BY w
          |), vc AS (
          |  SELECT fdk AS dk, CAST(count(*) AS BIGINT) AS v FROM fw GROUP BY fdk
          |), cum AS (
          |  SELECT tc.dk,
          |    CAST(sum(tc.t) OVER (ORDER BY tc.dk
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS n_cum,
          |    CAST(sum(coalesce(vc.v, 0)) OVER (ORDER BY tc.dk
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS v_cum
          |  FROM tc LEFT JOIN vc ON tc.dk = vc.dk
          |), pts AS (
          |  SELECT dk, n_cum, v_cum,
          |    round(log2(CAST(n_cum AS DOUBLE)), 6) AS x,
          |    round(log2(CAST(v_cum AS DOUBLE)), 6) AS y
          |  FROM cum
          |), m AS (
          |  SELECT count(*) AS k,
          |    CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS sx,
          |    CAST(sum(CAST(round(y * 1000000) AS BIGINT)) AS BIGINT) AS sy
          |  FROM pts
          |), c AS (
          |  SELECT m.k,
          |    CAST(sum(CAST(round((p.x - m.sx / (1000000.0 * m.k))
          |      * (p.y - m.sy / (1000000.0 * m.k)) * 1000000) AS BIGINT))
          |      AS BIGINT) AS sxy,
          |    CAST(sum(CAST(round((p.x - m.sx / (1000000.0 * m.k))
          |      * (p.x - m.sx / (1000000.0 * m.k)) * 1000000) AS BIGINT))
          |      AS BIGINT) AS sxx
          |  FROM pts p CROSS JOIN m GROUP BY m.k
          |), sl AS (
          |  SELECT round(CAST(sxy AS DOUBLE) / sxx, 6) AS beta FROM c
          |)
          |SELECT dk AS decile, n_cum AS n_tokens, v_cum AS n_vocab, beta
          |FROM pts CROSS JOIN sl ORDER BY decile""".stripMargin),
    ) { (s, dir) =>
      val mx = Tables.documents(s, dir).agg(max(col("doc_id")).as("md"))
      val tok = Tables.documents(s, dir)
        .crossJoin(broadcast(mx))
        .select(least(lit(9), expr("doc_id * 10 div (md + 1)")).as("dk"),
          explode(toks).as("w"))
        .filter(col("w") =!= "")
        .localCheckpoint() // read twice: token counts + first-decile agg
      val tc = tok.groupBy("dk").agg(count(lit(1)).as("t"))
      val vc = tok.groupBy("w").agg(min(col("dk")).as("fdk"))
        .groupBy(col("fdk").as("dk")).agg(count(lit(1)).as("v"))
      val wc = Window.orderBy("dk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pts = tc.join(vc, Seq("dk"), "left")
        .withColumn("n_cum", sum(col("t")).over(wc))
        .withColumn("v_cum", sum(coalesce(col("v"), lit(0L))).over(wc))
        .select(col("dk"), col("n_cum"), col("v_cum"),
          round(log2(col("n_cum").cast("double")), 6).as("x"),
          round(log2(col("v_cum").cast("double")), 6).as("y"))
        .localCheckpoint() // read thrice: means, covariances, output
      val m = pts.agg(count(lit(1)).as("k"),
        sum(round(col("x") * 1000000, 0).cast("long")).as("sx"),
        sum(round(col("y") * 1000000, 0).cast("long")).as("sy"))
      val c = pts.crossJoin(broadcast(m))
        .agg(sum(round((col("x") - col("sx") / (lit(1000000.0) * col("k")))
          * (col("y") - col("sy") / (lit(1000000.0) * col("k")))
          * 1000000, 0).cast("long")).as("sxy"),
          sum(round((col("x") - col("sx") / (lit(1000000.0) * col("k")))
            * (col("x") - col("sx") / (lit(1000000.0) * col("k")))
            * 1000000, 0).cast("long")).as("sxx"))
      val sl = c.select(round(col("sxy").cast("double") / col("sxx"), 6)
        .as("beta"))
      pts.crossJoin(broadcast(sl))
        .select(col("dk").as("decile"), col("n_cum").as("n_tokens"),
          col("v_cum").as("n_vocab"), col("beta"))
        .orderBy("decile")
    },

    Q(
      "q_posting_layout",
      "the deployed INVERTED-INDEX layout: per-term postings " +
        "(term, doc_id, tf) written hive-partitioned by a " +
        s"$PostingBuckets-way md5 bucket of the term — the text twin " +
        "of q_ivf_layout's cell directories — then probed for " +
        s"${PostingQueryTerms.size} query terms whose bucket literals " +
        "are computed DRIVER-side, so the read plans a static " +
        "partition filter and only |query-buckets|/buckets of the " +
        "index is ever listed or scanned; the term equality then " +
        "pushes into the pruned parquet scan. Top-10 docs per term " +
        "by (tf desc, doc_id) off the pruned postings. q_bm25 and " +
        "q_phrase_search compute their index per query — this row is " +
        "the storage half a serving system pays once at ingest: at " +
        "100 TB the index build is one (term, doc)-keyed agg and the " +
        "bucket layout bounds every query's IO by its term count, " +
        "not the corpus size",
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           |  FROM documents
           |), tf AS (
           |  SELECT term, doc_id, count(*) AS tf FROM tok
           |  WHERE term IN (${PostingQueryTerms.map(t => s"'$t'").mkString(", ")})
           |  GROUP BY term, doc_id
           |), ranked AS (
           |  SELECT term, doc_id, tf,
           |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rk
           |  FROM tf)
           |SELECT term, doc_id, tf, CAST(rk AS BIGINT) AS rk
           |FROM ranked WHERE rk <= $PostingTopK ORDER BY term, rk""".stripMargin),
    ) { (s, dir) =>
      val postings = Tables.documents(s, dir)
        .select(col("doc_id"), explode(toks).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .withColumn("bucket",
          pmod(Portable.md5Hash60(col("term")), lit(PostingBuckets)))
      val out = Scratch.dir()
      postings.write.partitionBy("bucket").parquet(out)
      val probeBuckets = PostingQueryTerms
        .map(t => hash60(t) % PostingBuckets).distinct
      val w = Window.partitionBy("term")
        .orderBy(col("tf").desc, col("doc_id"))
      s.read.parquet(out)
        .filter(col("bucket").isin(probeBuckets: _*)
          && col("term").isin(PostingQueryTerms: _*))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= PostingTopK)
        .select(col("term"), col("doc_id"), col("tf"),
          col("rk").cast("long").as("rk"))
        .orderBy("term", "rk")
    },

    Q(
      "q_kn_bigram_lm",
      "interpolated KNESER-NEY bigram LM scoring per document (Kneser " +
        "& Ney 1995 / Chen-Goodman, the smoothing standard every " +
        "n-gram quality filter rides — CCNet-style pipelines gate on " +
        "exactly this score): P(w|u) = (max(c(u,w)-D, 0) + " +
        "D*N1+(u,*)*Pcont(w)) / c(u) with Pcont(w) = N1+(*,w)/T — " +
        "absolute discounting backed by the CONTINUATION count, the " +
        "insight that 'Francisco' is frequent but follows almost " +
        "nothing. Where q_lm_score smooths unigrams, this conditions " +
        "on context and redistributes mass by type diversity. The " +
        "distributed shape: adjacency pairs via zip_with over each " +
        "doc's filtered token array (no window, pure per-row), " +
        "counts/history/continuation tables keyed by bigram type — " +
        "all BOUNDED by the bigram-type vocabulary, not the corpus — " +
        "and each bigram's ln-prob QUANTIZED to 1e-6 then summed as " +
        "exact BIGINT per doc (the c6 quantize-then-sum discipline: " +
        "no cross-engine float-sum ordering), one 6dp mean division " +
        "at the end. Self-scoring on the training corpus = the " +
        "perplexity-filter shape; every doc bigram is in-vocabulary " +
        "by construction, so no OOV path is needed. At 100 TB: two " +
        "corpus passes (count, score) + type-keyed state joins",
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
           |    x -> x <> '') AS ws
           |  FROM documents
           |), b AS (
           |  SELECT doc_id, unnest(ws[1:len(ws)-1]) AS u,
           |    unnest(ws[2:len(ws)]) AS w
           |  FROM t WHERE len(ws) >= 2
           |), bc AS (
           |  SELECT u, w, CAST(count(*) AS BIGINT) AS cb
           |  FROM b GROUP BY u, w
           |), hist AS (
           |  SELECT u, CAST(sum(cb) AS BIGINT) AS cu,
           |    CAST(count(*) AS BIGINT) AS n1f
           |  FROM bc GROUP BY u
           |), cont AS (
           |  SELECT w, CAST(count(*) AS BIGINT) AS n1b FROM bc GROUP BY w
           |), tt AS (
           |  SELECT CAST(count(*) AS BIGINT) AS t_types FROM bc
           |), probs AS (
           |  SELECT bc.u, bc.w,
           |    CAST(round(ln((greatest(cb - $KnDiscount, 0.0)
           |      + $KnDiscount * n1f * (CAST(n1b AS DOUBLE) / t_types))
           |      / cu) * 1000000) AS BIGINT) AS lp6
           |  FROM bc JOIN hist ON hist.u = bc.u
           |  JOIN cont ON cont.w = bc.w CROSS JOIN tt
           |)
           |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  round(CAST(sum(lp6) AS DOUBLE) / (count(*) * 1000000.0), 6)
           |    AS mean_lp
           |FROM b JOIN probs ON probs.u = b.u AND probs.w = b.w
           |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),
    ) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("filter(split(lower(text), ' '), x -> x <> '')").as("ws"))
        .filter(size(col("ws")) >= 2)
      val b = t.select(col("doc_id"),
        expr("""explode(zip_with(slice(ws, 1, size(ws) - 1),
          |  slice(ws, 2, size(ws) - 1),
          |  (uu, ww) -> struct(uu AS u, ww AS w)))""".stripMargin).as("uw"))
        .select(col("doc_id"), col("uw.u").as("u"), col("uw.w").as("w"))
        .localCheckpoint()
      val bc = b.groupBy("u", "w").agg(count(lit(1)).as("cb"))
      val hist = bc.groupBy("u")
        .agg(sum(col("cb")).as("cu"), count(lit(1)).as("n1f"))
      val cont = bc.groupBy("w").agg(count(lit(1)).as("n1b"))
      val tt = bc.agg(count(lit(1)).as("t_types"))
      val probs = bc.join(hist, Seq("u")).join(cont, Seq("w"))
        .crossJoin(broadcast(tt))
        .selectExpr("u", "w",
          s"""CAST(round(ln((greatest(cb - $KnDiscount, 0.0)
             |  + $KnDiscount * n1f * (CAST(n1b AS DOUBLE) / t_types))
             |  / cu) * 1000000) AS BIGINT) AS lp6""".stripMargin)
      b.join(probs, Seq("u", "w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp6")).as("slp"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("slp").cast("double")
            / (col("n_bigrams") * lit(1000000.0)), 6).as("mean_lp"))
        .orderBy("doc_id")
    },

    Q(
      "q_textrank",
      "TEXTRANK corpus keywords (Mihalcea & Tarau 2004): PageRank " +
        "over the word co-occurrence graph — the GRAPH-centrality " +
        "keyword signal beside q_keywords' per-doc TF-IDF: TextRank " +
        "scores a word by the importance of the words it keeps " +
        "company with, so corpus-level connector terms surface even " +
        "when no single document is about them. Pure cross-module " +
        "composition: the q_cooccur skip-gram pair stream (distance " +
        "≤ 2, min-support pruned — the same noise-tail kill that " +
        "keeps the graph pair-vocab-bounded at web scale) feeds the " +
        "EXACT q_pagerank engine (GraphOps.pageRank: edge-keyed " +
        "join + node-keyed agg per round, 9dp iterate grid, " +
        "dangling mass as a broadcast 1-row agg) on the " +
        "symmetrized weighted edges; top-30 by (rank, word) via " +
        "TakeOrdered. At 100 TB: one corpus explode to pairs, " +
        "then every round runs on the pair-vocab-bounded graph",
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
           |), pairs0 AS (
           |  SELECT least(a, b) AS wa, greatest(a, b) AS wb FROM (
           |    SELECT t[i+1] AS a, t[i+2] AS b FROM tok,
           |      unnest(range(len(t) - 1)) AS u(i)
           |    UNION ALL
           |    SELECT t[i+1] AS a, t[i+3] AS b FROM tok,
           |      unnest(range(len(t) - 2)) AS u(i))
           |), pc AS (
           |  SELECT wa, wb, count(*) AS n_ab FROM pairs0 GROUP BY wa, wb
           |), ed0 AS (
           |  SELECT wa, wb, n_ab FROM pc
           |  WHERE wa <> wb AND n_ab >= $CoocMinCount
           |), edges AS (
           |  SELECT wa AS a, wb AS b, CAST(n_ab AS BIGINT) AS n FROM ed0
           |  UNION ALL
           |  SELECT wb, wa, CAST(n_ab AS BIGINT) FROM ed0
           |),
           |${graft.operators.GraphOps.prRoundsSqlCte(
                graft.operators.GraphOps.PrRounds)},
           |ranked AS (
           |  SELECT CAST(row_number() OVER (ORDER BY r DESC, node)
           |      AS BIGINT) AS rank,
           |    node AS word, round(r, 6) AS tr
           |  FROM r${graft.operators.GraphOps.PrRounds}
           |)
           |SELECT rank, word, tr FROM ranked WHERE rank <= 30
           |ORDER BY rank""".stripMargin),
    ) { (s, dir) =>
      val t = Tables.documents(s, dir).select(col("doc_id"), toks.as("t"))
      // The q_cooccur skip-gram pair build (see that entry for the
      // one-scan explode rationale).
      def skipPairs(d: Int) = when(size(col("t")) > d,
        transform(
          sequence(lit(0), size(col("t")) - 1 - d),
          i => struct(
            least(element_at(col("t"), i + 1),
              element_at(col("t"), i + 1 + d)).as("wa"),
            greatest(element_at(col("t"), i + 1),
              element_at(col("t"), i + 1 + d)).as("wb"))))
        .otherwise(array().cast("array<struct<wa:string,wb:string>>"))
      val ed0 = t
        .select(explode(concat(skipPairs(1), skipPairs(2))).as("p"))
        .select(col("p.wa"), col("p.wb"))
        .groupBy("wa", "wb").agg(count(lit(1)).as("n_ab"))
        .filter(col("wa") =!= col("wb") && col("n_ab") >= CoocMinCount)
        .localCheckpoint() // both edge directions read it
      val edges = ed0
        .select(col("wa").as("a"), col("wb").as("b"), col("n_ab").as("n"))
        .unionAll(ed0.select(col("wb").as("a"), col("wa").as("b"),
          col("n_ab").as("n")))
      graft.operators.GraphOps.pageRank(s, edges,
          graft.operators.GraphOps.PrRounds)
        .orderBy(col("r").desc, col("node")).limit(30)
        .select(row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("r").desc, col("node"))).cast("long").as("rank"),
          col("node").as("word"), round(col("r"), 6).as("tr"))
        .orderBy("rank")
    },

    Q(
      "q_readability",
      "FLESCH READING-EASE per language — the readability leg of the " +
        "training-data quality panel beside q_text_quality's " +
        "length/punct ratios and q_gopher_rules' hard filters: " +
        "curricula and quality-weighted sampling (q_quality_sample) " +
        "routinely condition on readability bands. Words are the " +
        "house single-space tokenizer, sentences an exact " +
        "replace-chain punctuation count (no regex, byte-identical " +
        "across engines), syllables the classic vowel-group " +
        "heuristic via per-word regexp collapse (floor 1/word) — " +
        "all PURE PER-ROW expression work, zero shuffles before the " +
        "#langs-bounded agg. Each doc's score rounds to the 1e-6 " +
        "grid BEFORE the per-lang mean (quantize-then-sum: the " +
        "mirrored IEEE formula text is the only float step, and the " +
        "corpus totals are exact BIGINT single divisions). At " +
        "100 TB: one scan, per-row lambdas, #langs rows out",
      Some(
        """WITH per AS (
          |  SELECT lang,
          |    list_filter(string_split(lower(text), ' '), w -> w <> '')
          |      AS ws,
          |    greatest(1, length(text) - length(replace(replace(replace(
          |      text, '.', ''), '!', ''), '?', ''))) AS ns
          |  FROM documents
          |), pm AS (
          |  SELECT lang, CAST(length(ws) AS BIGINT) AS nw, ns,
          |    CAST(coalesce(list_sum(list_transform(ws, w ->
          |      greatest(1, length(regexp_replace(w, '[aeiouy]+', '#', 'g'))
          |        - length(regexp_replace(w, '[aeiouy]+', '', 'g'))))), 0)
          |      AS BIGINT) AS nsyl
          |  FROM per
          |), sc AS (
          |  SELECT lang, nw, ns, nsyl,
          |    CAST(round((206.835 - 1.015 * (CAST(nw AS DOUBLE) / ns)
          |      - 84.6 * (CAST(nsyl AS DOUBLE) / nw)) * 1000000.0)
          |      AS BIGINT) AS f6
          |  FROM pm WHERE nw > 0
          |)
          |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  round(CAST(sum(nw) AS DOUBLE) / sum(ns), 6)
          |    AS words_per_sentence,
          |  round(CAST(sum(nsyl) AS DOUBLE) / sum(nw), 6)
          |    AS syllables_per_word,
          |  round(CAST(sum(f6) AS DOUBLE) / (1000000.0 * count(*)), 6)
          |    AS avg_flesch
          |FROM sc GROUP BY lang ORDER BY lang""".stripMargin),
    ) { (s, dir) =>
      readability(Tables.documents(s, dir).select("lang", "text"))
    },
  )

  /** q_zipf_fit core over any (lang, text) frame (the spec plants an
    * exact 1/rank corpus whose slope must land on −1). Unordered;
    * the Q adds the output sort. */
  private[graft] def zipfFit(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tok = docs
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang", "w").agg(count(lit(1)).as("n"))
    val rw = Window.partitionBy("lang").orderBy(col("n").desc, col("w"))
    val pts = tok
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= ZipfK)
      .select(col("lang"),
        round(log2(col("rank").cast("double")), 6).as("x"),
        round(log2(col("n").cast("double")), 6).as("y"))
    val m = pts.groupBy("lang").agg(count(lit(1)).as("k"),
      sum(round(col("x") * 1000000, 0).cast("long")).as("sx"),
      sum(round(col("y") * 1000000, 0).cast("long")).as("sy"))
    val xc = col("x") - col("sx") / (lit(1000000.0) * col("k"))
    val yc = col("y") - col("sy") / (lit(1000000.0) * col("k"))
    pts.join(m, "lang")
      .groupBy("lang", "k")
      .agg(sum(round(xc * yc * 1000000, 0).cast("long")).as("sxy"),
        sum(round(xc * xc * 1000000, 0).cast("long")).as("sxx"))
      .filter(col("k") >= 8)
      .select(col("lang"), col("k").as("k_tokens"),
        round(col("sxy").cast("double") / col("sxx"), 6).as("zipf_slope"))
  }

  /** The q_kl_domains core over any (source, w) token frame —
    * factored so KlDomainsSpec can plant identical (KL = 0) and
    * disjointly-shifted sources with hand-exact divergences. */
  private[graft] def klDomains(tokens: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = tokens.groupBy("source", "w").agg(count(lit(1)).as("nsw"))
    t.withColumn("ns",
        sum(col("nsw")).over(Window.partitionBy("source")))
      .withColumn("nw", sum(col("nsw")).over(Window.partitionBy("w")))
      .withColumn("n", sum(col("nsw")).over(Window.partitionBy()))
      .groupBy("source").agg(
        max(col("ns")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(expr(
          """CAST(round(CAST(nsw AS DOUBLE) / ns
            |  * log2(CAST(nsw AS DOUBLE) * n
            |    / (CAST(ns AS DOUBLE) * nw))
            |  * 1000000000.0) AS BIGINT)""".stripMargin)).as("kl9"))
      .selectExpr("source", "n_tokens", "n_types",
        "round(CAST(kl9 AS DOUBLE) / 1000000000.0, 6) AS kl_bits")
      .orderBy("source")
  }

  /** The q_cohens_kappa core over any (la, lb) label-pair frame —
    * factored so KappaSpec can plant hand-countable confusion tables.
    * Exact integer algebra throughout; see the registry entry. */
  private[graft] def cohensKappa(labels: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cells = labels.groupBy("la", "lb").agg(count(lit(1)).as("o"))
      .localCheckpoint() // read by nd, r, and c
    val nd = cells.agg(sum(col("o")).as("n"),
      sum(when(col("la") === col("lb"), col("o")).otherwise(0L)).as("d"))
    val r = cells.groupBy(col("la").as("lab")).agg(sum(col("o")).as("rl"))
    val c = cells.groupBy(col("lb").as("lab")).agg(sum(col("o")).as("cl"))
    val p = r.join(c, "lab")
      .agg(sum(col("rl").cast("decimal(38,0)") * col("cl")).as("p"))
    nd.crossJoin(broadcast(p))
      .selectExpr("n", "d AS n_agree",
        "round(CAST(d AS DOUBLE) / n, 6) AS po",
        "round(CAST(p AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS pe",
        """CASE WHEN CAST(n AS DECIMAL(38,0)) * n = p THEN NULL ELSE
          |  round(CAST(CAST(n AS DECIMAL(38,0)) * d - p AS DOUBLE)
          |    / CAST(CAST(n AS DECIMAL(38,0)) * n - p AS DOUBLE), 6) END
          |  AS kappa""".stripMargin)
  }

  /** q_tok_fertility core over any (lang, text) frame (the spec
    * plants a fully-merging lang beside a fragmenting one): train
    * BPE, join per-(lang, word) counts to the vocab segmentation,
    * roll up per lang. Unordered; the Q adds the output sort. */
  private[graft] def tokFertility(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      merges: Int): org.apache.spark.sql.DataFrame = {
    val (_, vocab) = trainBpe(s, docs, merges)
    val pieces = vocab.select(col("w"), size(col("syms")).cast("long")
      .as("pieces"))
    val lw = docs
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang", "w").agg(count(lit(1)).as("n_lw"))
    lw.join(pieces, "w")
      .groupBy("lang")
      .agg(sum(col("n_lw")).as("n_words"),
        sum(col("n_lw") * col("pieces")).as("n_pieces"),
        round(sum(col("n_lw") * col("pieces")).cast("double")
          / sum(col("n_lw")), 6).as("fertility"),
        round(sum(col("n_lw") * length(col("w"))).cast("double")
          / sum(col("n_lw") * col("pieces")), 6).as("chars_per_piece"))
  }

  /** The q_readability computation over any (lang, text) frame —
    * factored so ReadabilitySpec can pin hand-counted syllable,
    * sentence, and Flesch values on planted prose. Spark's
    * regexp_replace is replace-all by default (the oracle passes
    * DuckDB's 'g' flag for the same semantics); only integer counts
    * cross that seam, the one IEEE expression is mirrored verbatim. */
  private[graft] def readability(docs: DataFrame): DataFrame =
    docs.selectExpr("lang",
        "filter(split(lower(text), ' ', -1), w -> w <> '') AS ws",
        """greatest(1, length(text) - length(replace(replace(replace(
          |  text, '.', ''), '!', ''), '?', ''))) AS ns""".stripMargin)
      .selectExpr("lang", "CAST(size(ws) AS BIGINT) AS nw", "ns",
        """CAST(coalesce(aggregate(ws, 0L, (acc, w) -> acc
          |  + greatest(1L, CAST(length(regexp_replace(w, '[aeiouy]+', '#'))
          |    - length(regexp_replace(w, '[aeiouy]+', '')) AS BIGINT))),
          |  0L) AS BIGINT) AS nsyl""".stripMargin)
      .filter(col("nw") > 0)
      .selectExpr("lang", "nw", "ns", "nsyl",
        """CAST(round((206.835 - 1.015 * (CAST(nw AS DOUBLE) / ns)
          |  - 84.6 * (CAST(nsyl AS DOUBLE) / nw)) * 1000000.0)
          |  AS BIGINT) AS f6""".stripMargin)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("nw")).cast("double") / sum(col("ns")), 6)
          .as("words_per_sentence"),
        round(sum(col("nsyl")).cast("double") / sum(col("nw")), 6)
          .as("syllables_per_word"),
        round(sum(col("f6")).cast("double")
          / (lit(1000000.0) * count(lit(1))), 6).as("avg_flesch"))
      .orderBy("lang")
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for the SURVEY §8 scale claims: each query's
  * physical plan must keep the shuffle/broadcast/pushdown shape its
  * design note promises. A refactor that silently adds an exchange or
  * flips a broadcast join to sort-merge changes nothing at test SF —
  * and everything at 100 TB — so the plan shape is asserted here, not
  * just documented.
  *
  * Plans are inspected as strings (the convention BucketSpec set);
  * nothing here executes a query.
  */
class PlanBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("per-row operators plan zero pre-sort shuffles") {
    // Their §8 notes promise pure per-row expression work; the only
    // allowed exchange is the output sort's range partitioning.
    for (q <- Seq("q_embed_quantize", "q_fingerprint", "q_winnow", "q_lang_id",
        "q_text_quality", "q_frame_sample", "q_payload_resize", "q_hash_sample",
        "q_repetition", "q_entropy", "q_pii_scrub", "q_quality_model",
        "q_gopher_rules", "q_span_mask", "q_shot_boundary")) {
      val p = plan(q)
      assert(hashExchanges(p) == 0,
        s"$q promises zero shuffles before the output sort, plan:\n$p")
    }
  }

  test("q_wordcount shuffles exactly once (map-side combine proves partial agg)") {
    val p = plan("q_wordcount")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
    assert(p.contains("HashAggregate"), s"plan:\n$p")
  }

  test("q_join_broadcast keeps the dims broadcast — fact side never shuffles") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(hashExchanges(p) <= 1, // the aggregate after the joins
      s"fact side must not shuffle for the join, plan:\n$p")
  }

  test("q_filter_project pushes predicate and projection into the scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), s"plan:\n$p")
    // Projection pruning: the scan schema must not include unused wide
    // columns like l_comment-equivalents (l_returnflag stands in).
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), s"scan not pruned: $readSchema")
    assert(readSchema.contains("l_extendedprice"), s"scan schema: $readSchema")
  }

  test("q_topk plans a TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
  }

  test("q_simsearch streams the corpus against broadcast probes") {
    val p = plan("q_simsearch")
    assert(p.contains("Broadcast"), s"probes must broadcast, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle to join, plan:\n$p")
  }

  test("q_stratified_sample pushes the per-stratum limit map-side") {
    val p = plan("q_stratified_sample")
    assert(p.contains("WindowGroupLimit"), s"plan:\n$p")
  }

  test("q_seq_pack reuses the window's grp partitioning for the bin agg") {
    // Window by grp + groupBy(grp, bin): hashpartitioning(grp) already
    // clusters (grp, bin), so exactly ONE hash exchange total.
    val p = plan("q_seq_pack")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
  }

  test("q_ngram_jaccard prunes shingle df before the candidate join") {
    val p = plan("q_ngram_jaccard")
    // The df aggregation must ride a shingle-keyed window (its
    // exchange IS the df pass)…
    assert(p.contains("windowspecdefinition(shingle#"), s"plan:\n$p")
    // …the stop-shingle cap must sit between that window and the join…
    assert(p.contains(s"<= ${operators.DedupOps.MaxShingleDf}"), s"plan:\n$p")
    // …and df=1 shingles must be shed from the join input.
    assert(p.contains(">= 2"), s"plan:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
  }

  test("q_decontaminate prunes gram df before the test←train join") {
    val p = plan("q_decontaminate")
    assert(p.contains("windowspecdefinition(g#"), s"plan:\n$p")
    assert(p.contains(s"<= ${operators.TextOps.MaxGramDf}"), s"plan:\n$p")
    assert(p.contains(">= 2"), s"plan:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
  }

  test("q_events_zscore broadcasts the per-type stats back to the scan") {
    val p = plan("q_events_zscore")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(hashExchanges(p) == 1, // the stats aggregation only
      s"the event scan must not shuffle for the join, plan:\n$p")
  }

  test("q_kmeans_step is one scan pipeline — no count join, no sort-merge") {
    val p = plan("q_kmeans_step")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), // corpus × broadcast(seeds)
      s"assignment must broadcast the seeds, plan:\n$p")
    // Zero-shuffle argmin: the assignment is per-row array_min work —
    // no window, and the ONLY corpus-sized hash exchange is the
    // (cent_id, pos) recompute agg (packCents' SinglePartition
    // exchange moves k centroid rows, not corpus rows).
    assert(!p.contains("windowspecdefinition"), s"plan:\n$p")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
  }

  test("q_dedup_rescored probes payloads with UNFORCED candidate joins") {
    val df = SparkEntry.queries("q_dedup_rescored")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // Locally the checkpointed candidate side broadcasts into both
    // text-fetch joins from its known size — but the joins carry NO
    // hint, so on a dup-heavy corpus they are free to degrade to
    // doc_id-keyed shuffles instead of forcing an unbounded broadcast.
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      s"candidate joins must be unhinted:\n$analyzed")
    // Shingle arrays are built above the joins, not corpus-wide below.
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val shingleIdx = p.indexOf("array_distinct")
    assert(shingleIdx >= 0 && shingleIdx < joinIdx,
      s"shingles must be computed after (above) the joins, plan:\n$p")
  }

  test("q_substr_dup is one gram window plus one doc agg") {
    val p = plan("q_substr_dup")
    assert(p.contains("windowspecdefinition(g#"), s"plan:\n$p")
    assert(hashExchanges(p) == 2, // gram window + doc_id agg
      s"plan:\n$p")
  }

  test("q_substr_sa sorts suffixes under a range exchange — no gram-keyed hash window") {
    val p = plan("q_substr_sa")
    // The truncated suffix array IS a range partition + in-partition
    // sort on the suffix; duplicated-gram detection must not fall back
    // to the proxy's gram-keyed window (no windowspecdefinition on g).
    assert("Exchange rangepartitioning\\(g#".r.findAllIn(p).nonEmpty,
      s"suffixes must range-partition, plan:\n$p")
    assert(!p.contains("windowspecdefinition(g#"),
      s"run detection must be the sorted scan, not a gram window, plan:\n$p")
  }

  test("q_cooccur explodes the corpus once per stream — checkpoints feed all consumers") {
    val df = SparkEntry.queries("q_cooccur")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // pair vocab + unigram vocab are checkpointed, so the final plan
    // re-reads bounded materializations, never the parquet corpus.
    assert(!p.contains("FileScan parquet"),
      s"consumers must read the checkpoints, not rescan the corpus, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // The vocab joins must be UNFORCED: the only broadcast hints in
    // the logical plan are the two 1-row scalar totals (tot, ptot).
    // The pruned unigram side (pair-vocab-bounded) is broadcast by
    // the planner from its checkpointed size stats locally, and is
    // free to degrade to a keyed shuffle join at 100 TB.
    val analyzed = df.queryExecution.analyzed.toString
    val hints = "ResolvedHint".r.findAllIn(analyzed).length
    assert(hints == 2,
      s"exactly the two 1-row totals may carry broadcast hints, found $hints:\n$analyzed")
    assert(p.contains("BroadcastHashJoin"),
      s"locally the pruned vocab side should still plan as broadcast, plan:\n$p")
  }

  test("q_chunk is pure per-row slicing — zero pre-sort shuffles") {
    val p = plan("q_chunk")
    assert(hashExchanges(p) == 0, s"plan:\n$p")
  }

  test("q_ivfpq_search codes are born cell-keyed — no corpus-sized codes⋈cells join") {
    // Same contract for the raw and by_residual variants: the
    // cell-assigned subvector pass is checkpointed (its argmin
    // lineage is severed from this plan); everything downstream joins
    // against broadcasts only — a sort-merge join would mean the
    // corpus-sized codes⋈cells join came back.
    for (q <- Seq("q_ivfpq_search", "q_ivfpq_residual")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plan:\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, s"$q plan:\n$p")
    }
  }

  test("q_bpe_pairs aggregates over the vocab — two hash exchanges, no corpus-sized join") {
    val p = plan("q_bpe_pairs")
    // vocab agg + pair agg; the ranking window is a SinglePartition
    // exchange over pair rows, never a hash shuffle of the corpus.
    assert(hashExchanges(p) == 2, s"plan:\n$p")
  }

  test("q_bm25 broadcasts df and corpus stats — no cartesian, partial agg present") {
    val p = plan("q_bm25")
    assert(p.contains("BroadcastHashJoin"), s"df join must broadcast, plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    // The stats cross join must be the broadcast 1-row form.
    assert(p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("q_heavy_hitters broadcasts every CMS bucket table — never sort-merges") {
    val p = plan("q_heavy_hitters")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4,
      s"4 bucket joins must all broadcast, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("q_semdedup assigns cells via broadcast argmin — the corpus never cartesians") {
    val p = plan("q_semdedup")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid pack must broadcast, plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(p.contains("cent_argmin"), s"fused argmin must drive assignment, plan:\n$p")
  }

  test("q_scd2 rides ONE user-keyed exchange through filter, version and lead windows") {
    val p = plan("q_scd2")
    // The change filter preserves the lag window's partitioning and
    // sort, so the row_number/lead pass must not re-shuffle.
    assert(hashExchanges(p) == 1, s"plan:\n$p")
  }

  test("q_ivfpq_search broadcasts centroids, probe cells and distance tables") {
    val p = plan("q_ivfpq_search")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid pack must broadcast, plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    // probe-cell join + distance-table join both broadcast; only the
    // corpus-sized codes⋈cells join may sort-merge (it becomes a
    // layout property — cell-partitioned inverted lists — at scale).
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, s"plan:\n$p")
  }

  test("q_unpivot melts map-side via Expand — only the measure agg shuffles") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"), s"plan:\n$p")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
  }

  test("q_vocab_ids caps the vocab with a TakeOrdered and broadcasts the K-row id table") {
    val p = plan("q_vocab_ids")
    // The top-K cap plans as TakeOrderedAndProject — per-partition
    // heaps, never a global sort of the (unbounded at web scale) raw
    // vocabulary; it is what makes the id window and the broadcast
    // build side K-bounded.
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // vocab agg + doc re-pack agg; the id-assignment window is an
    // explicit SinglePartition exchange over ≤ VocabCap rows only.
    assert(hashExchanges(p) == 2, s"plan:\n$p")
  }

  test("q_embed_decontaminate assigns cells by broadcast and joins cell-keyed") {
    val p = plan("q_embed_decontaminate")
    // Cell assignment must come from the packed-centroid broadcast
    // (BroadcastNestedLoopJoin against the 1-row pack is that
    // crossJoin) — the corpora themselves never shuffle to be
    // assigned; the test×train pair join is a keyed join on cell_id.
    assert(p.contains("Broadcast"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q_knn_graph routes by broadcast argmin and pairs cell-keyed") {
    val p = plan("q_knn_graph")
    // Corpus-side cell assignment is the fused argmin against the
    // packed broadcast; the query side fans out to nprobe cells via
    // sorted-slice routing. The pair join must be an equi-join on
    // cell_id — a cartesian here is the all-pairs n² failure mode.
    assert(p.contains("cent_argmin"), s"fused argmin must drive assignment, plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid pack must broadcast, plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q_embed_prune shuffles once — the per-cell ranking window") {
    val p = plan("q_embed_prune")
    // Assignment is pure per-row work against the packed broadcast;
    // the ONLY hash exchange is the cell-keyed window that ranks
    // prototypicality (the output sort adds a range exchange).
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid pack must broadcast, plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
  }

  test("q_simsearch_filtered keeps the label predicate below the ranking window") {
    val p = plan("q_simsearch_filtered")
    assert(p.contains("cent_argmin"), s"fused argmin must drive assignment, plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    // Candidate pruning joins stay broadcast (probe cells are tiny);
    // the label filter must sit below (after, in plan text) the
    // row_number window so k fills from filtered candidates.
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    val winIdx = p.indexOf("Window")
    val labelIdx = p.lastIndexOf("(label")
    assert(winIdx >= 0 && labelIdx > winIdx,
      s"label filter must be below the top-k window, plan:\n$p")
  }

  test("q_dedup_near_incremental joins band keys — never a cross product") {
    val p = plan("q_dedup_near_incremental")
    // Candidates come from the (band_id, band_key) equi-join of the
    // persisted index ∪ batch against the batch; any cartesian or
    // nested-loop shape here would be the all-pairs failure mode.
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("q_join_bloom probes the bloom at the fact scan, below the exact join") {
    val p = plan("q_join_bloom")
    // The scalar-subquery bloom must appear as a Filter condition on the
    // fact side — pre-join reduction, not a post-join residual.
    assert(p.contains("might_contain"), s"plan:\n$p")
    val joinIdx = p.indexOf("HashJoin")
    val probeIdx = p.lastIndexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe must sit below (after, in plan text) the join, plan:\n$p")
  }

  test("q_data_audit runs the orphan check as a key-only anti join") {
    val p = plan("q_data_audit")
    assert(p.contains("LeftAnti"), s"plan:\n$p")
    // Key-only probe: the anti join's scan must read just the join key.
    val antiScan = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(antiScan.exists(l => l.contains("l_orderkey") && !l.contains("l_discount")),
      s"orphan probe must prune to the key column, scans:\n${antiScan.mkString("\n")}")
  }

  test("q_skew_diagnose takes the hot keys with a heap, not a global sort") {
    val p = plan("q_skew_diagnose")
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    assert(hashExchanges(p) <= 2, // key-count agg (the 1-row total reuses it)
      s"plan:\n$p")
  }

  test("q_quantile_sketch is one corpus scan into a 1024-bin mergeable agg") {
    val p = plan("q_quantile_sketch")
    assert(p.contains("BroadcastNestedLoopJoin"), // the 1-row range crossJoin
      s"plan:\n$p")
    assert(hashExchanges(p) == 1, // the bin agg; windows run over ≤1024 rows
      s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("q_zorder_layout computes z-values per-row off a broadcast range — one bucket agg shuffle") {
    val p = plan("q_zorder_layout")
    assert(p.contains("BroadcastNestedLoopJoin"), // the 1-row range crossJoin
      s"plan:\n$p")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
  }

  test("q_bucket_join joins bucketed scans with zero exchange below the join") {
    val p = plan("q_bucket_join")
    assert(p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(hashExchanges(p) == 1, // only the priority agg above the join
      s"bucketed join must not re-shuffle either side, plan:\n$p")
  }

  test("q_events_sliding expands windows map-side — one keyed agg shuffle") {
    val p = plan("q_events_sliding")
    assert(p.contains("Expand"), s"plan:\n$p")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
  }

  test("q_mad_outliers broadcasts both median stages back to the scan") {
    val p = plan("q_mad_outliers")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("q_sample_mix broadcasts per-lang thresholds — the corpus never shuffles to be sampled") {
    val p = plan("q_sample_mix")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    // lang-count agg, kept-count agg, and the tiny final rates⋈kept
    // join; the doc scan itself must not feed a sort-merge join.
    assert(hashExchanges(p) <= 3, s"plan:\n$p")
  }

  test("q_agg_incremental is exactly two agg levels: day-state then rollup") {
    val p = plan("q_agg_incremental")
    assert(hashExchanges(p) == 2, s"plan:\n$p")
    assert(!p.contains("Join"), s"state rollup needs no join, plan:\n$p")
  }

  test("q_dedup_overlap keeps the ngram_jaccard plan shape, with least() normalization") {
    val p = plan("q_dedup_overlap")
    // Same pinned shape as q_ngram_jaccard (the static plan duplicates
    // the window pipeline per self-join side; AQE reuses the exchange
    // at runtime): df window + stop-shingle cap + df>=2 shed + keyed
    // join, never a cartesian.
    assert(p.contains("windowspecdefinition(shingle#"), s"plan:\n$p")
    assert(p.contains(s"<= ${operators.DedupOps.MaxShingleDf}"), s"plan:\n$p")
    assert(p.contains(">= 2"), s"plan:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
    assert(p.contains("least("), s"plan:\n$p")
  }

  test("q_cumulative_users aggregates before windowing — only tiny keyed exchanges") {
    val p = plan("q_cumulative_users")
    // (type,user) first-seen agg; (type,day) agg; type-keyed window —
    // the last two move days×types rows, not events.
    assert(hashExchanges(p) <= 3, s"plan:\n$p")
    assert(!p.contains("Join"), s"no join needed, plan:\n$p")
  }

  test("q_lm_score broadcasts the stats and explodes the corpus exactly once") {
    val p = plan("q_lm_score")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    // The eager localCheckpoint of the per-doc bigram counts is the
    // single corpus read; the scoring plan must reuse it (ExistingRDD)
    // rather than re-scan + re-explode parquet per stats consumer.
    assert(!p.contains("Scan parquet"),
      s"corpus must be read once via the bg checkpoint, plan:\n$p")
  }

  test("q_embed_pq streams the corpus against broadcast codebooks — never sort-merges") {
    val p = plan("q_embed_pq")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"both PQ assignments must broadcast the codebook pack, plan:\n$p")
  }

  test("q_pq_search reads only codes on the corpus side — distance tables broadcast") {
    val p = plan("q_pq_search")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"ADC must broadcast the probe distance tables, plan:\n$p")
  }

  test("q_kmeans_train: every iteration broadcasts centroids, never sort-merges") {
    val p = plan("q_kmeans_train")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // 3 unrolled iterations ⇒ 3 corpus × broadcast(centroids) joins,
    // each a windowless per-row argmin (zero corpus shuffles for
    // assignment; the hash exchanges are the 3 recompute aggs + 2
    // array re-packs, all bounded by k×dims rows).
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 3, s"plan:\n$p")
    assert(!p.contains("windowspecdefinition"), s"plan:\n$p")
    assert(hashExchanges(p) == 5, s"plan:\n$p")
  }

  test("q_simsearch_ivf_learned keeps cells broadcast end to end") {
    val p = plan("q_simsearch_ivf_learned")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // 2 training iterations + corpus assignment + probe assignment all
    // stream against broadcast centroid tables.
    assert(p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("q_ppl_buckets: rank windows only on the bounded sample, cutoffs broadcast") {
    val p = plan("q_ppl_buckets")
    // The hash-sample rank is WindowGroupLimit-pruned map-side, and the
    // langs×2 cutoff table joins back as a broadcast — bucketing the
    // full score stream must not sort-merge against it.
    assert(p.contains("WindowGroupLimit"), s"plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
  }

  test("q_domain_mix: corpus contributes one lang agg; λ joins as a broadcast") {
    val p = plan("q_domain_mix")
    // One corpus-sized hash exchange (the lang token agg with partial
    // agg below it); everything else runs on the #langs-row aggregate.
    assert(p.contains("HashAggregate"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"the 1-row λ/budget " +
      s"tables must broadcast, plan:\n$p")
  }

  test("q_lexical_knn: top-20 is a TakeOrdered, norms join unhinted") {
    val p = plan("q_lexical_knn")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-k must not global-sort, plan:\n$p")
  }

  test("q_embed_pca: eigenvector re-enters as a broadcast; corpus never sort-merges") {
    val p = plan("q_embed_pca")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
  }

  test("q_bq_search / q_matryoshka_search: probes broadcast, candidates pruned map-side, one keyed exchange") {
    // Both funnels promise: coarse scan = corpus × broadcast(probes)
    // (non-equi BNLJ, probes side built), top-R candidate selection
    // pruned map-side by WindowGroupLimit before ONE probe-keyed
    // exchange, and ids-then-payloads joins that never sort-merge.
    for (q <- Seq("q_bq_search", "q_matryoshka_search")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin BuildLeft"),
        s"$q probes must broadcast into the coarse scan, plan:\n$p")
      assert(p.contains("WindowGroupLimit"),
        s"$q candidate top-R must prune map-side, plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q plan:\n$p")
      assert(hashExchanges(p) == 1,
        s"$q promises one probe-keyed exchange for candidate ranking, plan:\n$p")
    }
  }

  test("q_knn_classify: top-k and vote windows prune map-side; labels join after ranking") {
    val p = plan("q_knn_classify")
    // Candidate top-5 and the majority-vote top-1 must both carry a
    // WindowGroupLimit (partial heap before their exchanges), and the
    // broadcast-argmin assignment must keep the corpus unshuffled.
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, s"plan:\n$p")
    assert(p.contains("cent_argmin_l2"), s"fused assignment missing, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("q_cluster_purity: one bounded (cell,label) agg, majority window on the rollup") {
    val p = plan("q_cluster_purity")
    assert(p.contains("cent_argmin_l2"), s"fused assignment missing, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // (cell,label) agg + cell window + output sort — nothing else.
    assert(hashExchanges(p) == 2, s"plan:\n$p")
  }

  test("q_event_transitions: lag shuffle + bounded pair agg only") {
    val p = plan("q_event_transitions")
    // user-keyed lag window, (prev,cur) agg, prev-keyed probability
    // window — all three exchanges bounded by users/types², no joins.
    assert(hashExchanges(p) == 3, s"plan:\n$p")
    assert(!p.contains("Join"), s"no joins expected, plan:\n$p")
  }

  test("q_source_overlap: gram stream checkpointed once, size joins broadcast") {
    val p = plan("q_source_overlap")
    // The corpus-sized explode+distinct must come from the checkpoint
    // (scanned, not recomputed per consumer) and the #sources-row
    // size tables must broadcast.
    assert(p.contains("Scan ExistingRDD"), s"checkpoint missing, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("q_label_spread: rounds run off the checkpointed graph, never re-ranking candidates") {
    val p = plan("q_label_spread")
    // The final plan must read checkpoint RDDs (graph + per-round
    // labels); a rebuilt candidate join would resurface cent_argmin
    // and the cosine machinery here.
    assert(p.contains("Scan ExistingRDD"), s"checkpoint missing, plan:\n$p")
    assert(!p.contains("cent_argmin"),
      s"final round must not rebuild the kNN graph, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("q_session_paths: one user shuffle, TakeOrdered top-20") {
    val p = plan("q_session_paths")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a heap, not a global sort, plan:\n$p")
    // user-keyed sessionization + (user, session) path agg + path
    // count agg — no joins, no corpus sort.
    assert(!p.contains("Join"), s"plan:\n$p")
  }

  test("q_weighted_sample: per-row keys into a TakeOrdered heap, zero shuffles") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K must be a heap, not a global sort, plan:\n$p")
    assert(hashExchanges(p) == 0, s"plan:\n$p")
  }

  test("q_phrase_search: postings checkpointed once, phrase broadcast into the probe") {
    val p = plan("q_phrase_search")
    assert(p.contains("Scan ExistingRDD"),
      s"postings checkpoint missing, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 1-row phrase must broadcast, plan:\n$p")
  }

  test("q_mmr_rerank: final plan reads round checkpoints — no corpus machinery resurfaces") {
    val p = plan("q_mmr_rerank")
    // The union of per-round picks must come from checkpointed
    // frames; the output sort's range exchange is the only exchange.
    assert(p.contains("Scan ExistingRDD"), s"plan:\n$p")
    assert(hashExchanges(p) == 0, s"plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pool scan must stay behind the checkpoint, plan:\n$p")
  }

  test("q_minhash_calibration: pairs come from the checkpoint, histogram agg is partial") {
    val p = plan("q_minhash_calibration")
    assert(p.contains("Scan ExistingRDD"),
      s"candidate checkpoint missing, plan:\n$p")
    assert(p.contains("partial_count"), s"map-side combine missing, plan:\n$p")
  }

  test("q_snapshot_diff: one co-partitioned full-outer join, bounded rollup") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), s"plan:\n$p")
    // both snapshot sides + the 4-row change_type agg
    assert(hashExchanges(p) == 3, s"plan:\n$p")
  }

  test("q_gzip_source: roundtrip wordcount shuffles once with map-side combine") {
    val p = plan("q_gzip_source")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
    assert(p.contains("partial_count"), s"plan:\n$p")
  }

  test("q_rrf_fusion: both rankers keep the funnel shape; fusion runs on bounded lists") {
    val p = plan("q_rrf_fusion")
    // Hamming and prefix rankers each: probes broadcast (BNLJ) +
    // map-side WindowGroupLimit before their keyed exchange.
    assert("BroadcastNestedLoopJoin BuildLeft".r.findAllIn(p).length == 2,
      s"plan:\n$p")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 4, s"plan:\n$p")
  }

  test("q_bfs_reach: final plan reads the last round's checkpoint only") {
    val p = plan("q_bfs_reach")
    assert(p.contains("Scan ExistingRDD"), s"checkpoint missing, plan:\n$p")
    assert(hashExchanges(p) == 0,
      s"rounds must stay behind checkpoints, plan:\n$p")
  }

  test("q_keywords: per-doc top-K window prunes map-side, tf-df join unhinted") {
    val p = plan("q_keywords")
    assert(p.contains("WindowGroupLimit"), s"plan:\n$p")
  }

  test("q_line_dedup: one line-keyed window + one doc-keyed reassembly agg") {
    val p = plan("q_line_dedup")
    // line window + doc agg + the doc join back; no extra corpus
    // exchanges may creep in (e.g. a re-shuffle between window and agg).
    assert(hashExchanges(p) <= 3, s"plan:\n$p")
  }

  test("q_kmeanspp_init: picks read checkpoints; no corpus machinery resurfaces") {
    val p = plan("q_kmeanspp_init")
    assert(p.contains("Scan ExistingRDD"), s"checkpoint missing, plan:\n$p")
    assert(hashExchanges(p) == 0,
      s"rounds must stay behind checkpoints, plan:\n$p")
  }

  test("q_hits: final join of the last two checkpointed half-rounds only") {
    val p = plan("q_hits")
    assert(p.contains("Scan ExistingRDD"), s"checkpoint missing, plan:\n$p")
  }

  test("q_posting_layout: probe scan prunes partitions statically and pushes the term filter") {
    val p = plan("q_posting_layout")
    assert(p.contains("PartitionFilters: [bucket"),
      s"bucket pruning missing, plan:\n$p")
    assert(p.contains("PushedFilters: [In(term"),
      s"term filter not pushed, plan:\n$p")
    // Top-10 per term must prune map-side before the term shuffle.
    assert(p.contains("WindowGroupLimit"), s"plan:\n$p")
  }

  test("q_fuzzy_join: candidates come from a keyed equi-join, never a cross join") {
    val p = plan("q_fuzzy_join")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    // The deletion-key fan-out and the fused levenshtein verify.
    assert(p.contains("Generate explode(array_distinct"), s"plan:\n$p")
    assert(p.contains("levenshtein"), s"plan:\n$p")
  }

  test("q_skyline: corpus probes broadcast bounds — the only hash shuffle is the price rollup") {
    val p = plan("q_skyline")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"quadratic dominance check leaked in, plan:\n$p")
    // The global-order window must consume the aggregated per-price
    // rollup, never corpus rows; the price agg is the one hash shuffle.
    assert(hashExchanges(p) == 1, s"plan:\n$p")
    assert(p.contains("Exchange SinglePartition"), s"plan:\n$p")
  }

  test("q_image_tiles explodes patches map-side — zero pre-sort shuffles") {
    val p = plan("q_image_tiles")
    assert(hashExchanges(p) == 0, s"plan:\n$p")
    assert(p.contains("Generate posexplode"), s"plan:\n$p")
  }

  test("q_audio_vad: island windows and segment agg share one asset-keyed shuffle") {
    val p = plan("q_audio_vad")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
  }

  test("q_fuzzy_pairs: the optimizer rule plans the theta join as a blocked equi-join") {
    val p = plan("q_fuzzy_pairs")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"FuzzyJoinBlocking did not fire, plan:\n$p")
    assert(p.contains("levenshtein"), s"verify filter missing, plan:\n$p")
  }

  test("q_rfm scores against broadcast boundaries — no global ntile window") {
    val p = plan("q_rfm")
    // The textbook ntile(4) would plan a SinglePartition Window over
    // every user; the broadcast-boundary formulation must not.
    assert(!p.contains("Window"), s"plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"quartile boundaries must broadcast, plan:\n$p")
  }

  test("q_kcore: the peel threshold broadcasts — no sort-merge join in the loop") {
    val p = plan("q_kcore")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"threshold must broadcast, plan:\n$p")
    // Window-free: degree filtering is agg + semi-join, never a rank.
    assert(!p.contains("Window"), s"plan:\n$p")
  }

  test("q_lpa_modularity broadcasts the scalar stats with partial aggregation") {
    val p = plan("q_lpa_modularity")
    // m2 and the modularity numerator are 1-row aggs: they must
    // partial-aggregate map-side and broadcast back, never sort-merge.
    assert(p.contains("partial_sum"), s"plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("lpaLabels ranks votes per node — no single-partition window") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val und = Seq((1L, 2L, 5L), (2L, 3L, 4L)).toDF("u", "v", "w")
    // Plan the un-checkpointed single round directly: the ranking
    // window must partition by node (vnode), never globally.
    val sym = und.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(und.select(col("v"), col("u"), col("w")))
    val labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val votes = labels.join(sym, labels("node") === sym("src"))
      .groupBy(col("dst").as("vnode"), col("label"))
      .agg(org.apache.spark.sql.functions.sum("w").as("vw"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vnode")
      .orderBy(col("vw").desc, col("label"))
    val p = votes
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .queryExecution.executedPlan.toString
    assert(p.contains("Window"), s"plan:\n$p")
    assert(p.contains("hashpartitioning(vnode"), s"plan:\n$p")
  }

  test("q_sq8_search broadcasts dim stats and probes — corpus never sort-merges") {
    val p = plan("q_sq8_search")
    assert(p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("q_join_dpp: the fact scan carries a dynamic partition pruning filter") {
    val p = plan("q_join_dpp")
    assert(p.contains("dynamicpruning"), s"DPP did not fire, plan:\n$p")
    assert(p.contains("PartitionFilters"), s"plan:\n$p")
  }

  test("q_equidepth_hist assigns buckets off a broadcast 1-row boundary agg") {
    val p = plan("q_equidepth_hist")
    assert(p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    assert(!p.contains("Window"), s"an ntile-style window leaked in, plan:\n$p")
  }

  test("binned AUC/Gini twins rank-window over a bin-keyed rollup, bounds broadcast") {
    // The knob's contract: the SinglePartition cumulative window's
    // input is the BIN rollup (≤ B rows by construction), never the
    // user-grain frame — and the min/max bounds frame reaches the
    // scan as a broadcast, not a shuffle.
    val pa = plan("q_model_auc_binned")
    assert(pa.contains("Window"), s"plan:\n$pa")
    assert(pa.contains("HashAggregate(keys=[k#"),
      s"window input must be the bin rollup, plan:\n$pa")
    assert(pa.contains("BroadcastNestedLoopJoin"),
      s"score bounds must broadcast, plan:\n$pa")
    val pg = plan("q_gini_activity_binned")
    assert(pg.contains("HashAggregate(keys=[bin#"),
      s"window input must be the bin rollup, plan:\n$pg")
    assert(pg.contains("BroadcastNestedLoopJoin"),
      s"nmax must broadcast, plan:\n$pg")
  }

  test("q_overlap_join plans the prefix-blocked equi-join, never a nested loop") {
    val p = plan("q_overlap_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"OverlapJoinBlocking did not fire, plan:\n$p")
    // r14 SIZE-ONLY mode: the plan builds NO intersect array at all —
    // the shared projection is the sorted-merge COUNT over the carried
    // sorted arrays (one per candidate pair, below the verify Filter,
    // with the verify and the n_shared output reading the alias — the
    // r9 single-evaluation contract, now allocation-free), and the
    // canonical-copy dedup inside the join condition is the merge's
    // FIRST match over the (1−t)-fraction prefixes.
    val full = "array_intersect\\(toks".r.findAllIn(p).length
    assert(full == 0,
      s"size-only mode must not build any full intersect array, got $full, plan:\n$p")
    assert(p.contains("sorted_intersect_count(__graft_sorted"),
      s"merge-walk shared count missing, plan:\n$p")
    assert(p.contains("sorted_intersect_first(__graft_pfx"),
      s"canonical prefix dedup missing from the join condition, plan:\n$p")
    assert(p.contains("__graft_shared"),
      s"shared-count alias missing, plan:\n$p")
  }

  test("q_fim_transform reorders per-row — one exchange for the audit rollup") {
    val p = plan("q_fim_transform")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
  }

  test("q_moments shuffles once with map-side partial power sums") {
    // The mergeable-sketch claim in plan form: each partition folds
    // its exact power sums locally (partial HashAggregate) and only
    // #types partial rows cross the one exchange.
    val p = plan("q_moments")
    assert(hashExchanges(p) == 1, s"plan:\n$p")
    assert(p.contains("HashAggregate"), s"plan:\n$p")
  }

  test("q_range_join and q_session_overlap plan through their binning rules") {
    // q_range_join's band table is a plan-time-provably-safe
    // LocalRelation: no residual branch, fully NestedLoop-free.
    val pr = plan("q_range_join")
    assert(!pr.contains("NestedLoop") && !pr.contains("CartesianProduct"),
      s"q_range_join's binning rule did not fire, plan:\n$pr")
    // q_session_overlap's sessions are runtime data: the binned
    // equi-join plus at most the two hint-broadcast span-guard
    // residuals (empty on sane data — AQE deletes them at runtime).
    val ps = plan("q_session_overlap")
    assert(!ps.contains("CartesianProduct"), s"plan:\n$ps")
    assert(ps.contains("Generate explode(__graft_iks"),
      s"binned branch missing, plan:\n$ps")
    assert("BroadcastNestedLoopJoin".r.findAllIn(ps).length <= 2,
      s"only the guarded residuals may nested-loop, plan:\n$ps")
  }

  test("q_theta_intersect never rescans events for the pair matrix") {
    // The sketch frames are types-sized; every pair join must be
    // broadcast — a SortMergeJoin would mean the state table is being
    // treated as data-scale.
    val p = plan("q_theta_intersect")
    assert(!p.contains("SortMergeJoin"),
      s"pair joins over the sketch state must broadcast, plan:\n$p")
  }

  test("q_dsir_select ranks with TakeOrdered, never a global sort or window") {
    val p = plan("q_dsir_select")
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"selection must not use a global rank window, plan:\n$p")
  }

  test("q_window_dist runs no window over the raw order stream") {
    // The r10 weak flag: ntile/percent_rank/cume_dist over the raw
    // stream partitioned by c_mktsegment (cardinality 5) is a 5-task
    // ceiling whose tasks sort n/5 corpus rows. The rollup rewrite
    // must keep every window ABOVE the (seg, tc) aggregate: walk the
    // physical tree and require each WindowExec's subtree to contain
    // a HashAggregate (the rollup) — a raw-stream window would sit
    // directly on the join/scan.
    // Tree print order: a node's subtree prints AFTER it. So every
    // Window line must be followed by a HashAggregate line (the
    // rollup feeding it); the raw-stream shape printed its group-by
    // aggregate BEFORE the window and only join/scan lines after.
    val p = plan("q_window_dist")
    val lines = p.linesIterator.toIndexedSeq
    val winIdx = lines.zipWithIndex
      .filter(_._1.contains("Window [")).map(_._2)
    assert(winIdx.nonEmpty, "the cents-domain cumulative window is gone " +
      s"— if deliberate, update this pin; plan:\n$p")
    for (i <- winIdx) {
      assert(lines.drop(i + 1).exists(_.contains("HashAggregate")),
        s"window input must be the bounded rollup, not the raw stream:\n$p")
    }
  }

  test("q_cdc_chunks hashes with rollhash60 off a text-only pruned scan") {
    // Expression-level codegen of rollhash60 is CodegenOnlySpec's job;
    // here the plan must actually USE the rolling hash (no md5-per-gram
    // regression) over a scan that reads only the text column.
    val p = plan("q_cdc_chunks")
    assert(p.contains("rollhash60"), s"rolling hash missing, plan:\n$p")
    assert(!p.contains("md5"), s"md5 stand-in crept back, plan:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("lang"),
      s"scan not pruned to text: $readSchema")
  }

  test("q_local_volume broadcasts the dimension chain; ≤2 fact joins") {
    // The Q5 join graph admits exactly two fact shuffles (orderkey,
    // custkey); supplier/nation/region must ride broadcast and the
    // cross-path c_nationkey = s_nationkey must not add a shuffle.
    val p = plan("q_local_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"dimension chain must broadcast, plan:\n$p")
    assert("(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).length <= 2,
      s"more than the two admissible fact joins, plan:\n$p")
  }

  test("q_returned_revenue tops out via TakeOrderedAndProject") {
    val p = plan("q_returned_revenue")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a heap+merge, not a global sort, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation must broadcast:\n$p")
  }

  test("kll rows: sketches build MAP-SIDE, state frames broadcast, no sort-merge") {
    // The whole point of the rank-sketch family is that the shuffle
    // carries KB sketch state, not value sorts: every kll row must
    // show partial_kll_sketch_agg BELOW its exchange (map-side
    // combine of sketch objects), and the tiny estimate/boundary
    // frames must re-enter the verify scans as broadcasts.
    val pq = plan("q_kll_quantiles")
    assert(pq.contains("partial_kll_sketch_agg"),
      s"q_kll_quantiles must sketch map-side, plan:\n$pq")
    assert(pq.contains("BroadcastHashJoin") && !pq.contains("SortMergeJoin"),
      s"estimates must broadcast into the verify pass, plan:\n$pq")
    val pe = plan("q_equidepth_kll")
    assert(pe.contains("partial_kll_sketch_agg"), s"plan:\n$pe")
    assert(pe.contains("BroadcastNestedLoopJoin")
      && !pe.contains("SortMergeJoin"),
      s"the 7-boundary frame must broadcast into the fan-out, plan:\n$pe")
    val pr = plan("q_kll_rolling")
    assert(pr.contains("partial_kll_sketch_agg")
      && pr.contains("kll_merge_agg"),
      s"rolling state must build map-side and merge from state, plan:\n$pr")
    assert(!pr.contains("SortMergeJoin"),
      s"day-spine range joins must broadcast, plan:\n$pr")
  }

  test("q_sql_q1: the shared-SQL text recovers the q1_agg plan budget") {
    val p = plan("q_sql_q1")
    assert(hashExchanges(p) == 1, s"one agg exchange like q1_agg, plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"date filter must reach the scan, plan:\n$p")
  }

  test("q_sql_q5: the shared-SQL text recovers the q_local_volume plan budget") {
    val p = plan("q_sql_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"dimension chain must broadcast, plan:\n$p")
    assert("(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).length <= 2,
      s"more than the two admissible fact joins, plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"date window must reach the orders scan, plan:\n$p")
  }

  test("q_sql_q10: the shared-SQL text recovers the q_returned_revenue plan budget") {
    val p = plan("q_sql_q10")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a heap+merge, not a global sort, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation must broadcast, plan:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returns filter must reach the lineitem scan, plan:\n$p")
  }

  test("q_sql_window: both functions share one window over one custkey exchange") {
    val p = plan("q_sql_window")
    // row_number and the cumulative cents sum must land in ONE Window
    // node over a single custkey-keyed exchange, and the rn <= 3
    // filter must prune map-side via WindowGroupLimit even with the
    // running sum riding along.
    assert(hashExchanges(p) == 1, s"plan:\n$p")
    assert("Window \\[".r.findAllIn(p).length == 1,
      s"both functions must share one Window node, plan:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rn <= 3 must prune map-side, plan:\n$p")
  }

  test("q_graph_ann: hops read the checkpointed graph/beam — no corpus machinery in the loop") {
    val p = plan("q_graph_ann")
    // The final beam and the graph are localCheckpoints: the gate plan
    // may scan parquet only for the brute-force ground-truth side and
    // the candidate payload fetches, never rebuild the kNN graph's
    // cell-assignment machinery (cent_argmin would resurface it).
    assert(p.contains("Scan ExistingRDD"), s"checkpoint missing, plan:\n$p")
    assert(!p.contains("cent_argmin"),
      s"the graph build must stay behind its checkpoint, plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q_item_cf / q_assoc_rules: totals broadcast, pair agg keyed, no NLJ") {
    for (q <- Seq("q_item_cf", "q_assoc_rules")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q promises broadcast item totals, plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plan:\n$p")
    }
  }

  test("q_cusum: the windows ride the bounded series, one rollup shuffle max") {
    val p = plan("q_cusum")
    assert(p.contains("Window"), s"plan:\n$p")
    // The corpus-sized work is the hour rollup behind the series
    // checkpoint; the readout side may shuffle at most once.
    assert(hashExchanges(p) <= 1, s"plan:\n$p")
  }

  test("q_audio_tone: decode rides the RDD seam — no SQL-side shuffles") {
    val p = plan("q_audio_tone")
    // The decode runs behind the object seam (decodedBatches): the SQL
    // side sees only the serialized feature tuples plus the output sort.
    assert(p.contains("SerializeFromObject"), s"plan:\n$p")
    assert(hashExchanges(p) == 0,
      s"feature extraction promises map-side decode, plan:\n$p")
  }

  test("q_session_overlap plans with one binning probe, at the mean-span width") {
    // Building the frame runs the session checkpoint; planning it may
    // run only the IntervalOverlapJoin stats probe, once for both
    // sides of the self-join (a probe is one aggregate: up to two jobs
    // under AQE). The width is the mean span quantized to a power of
    // two — sf0.001's 946 sessions average 47.3 s, so 64 (sf0.01 and
    // sf0.1 average ~43 s: 32) — not the 1800 fallback of a zero
    // median (894 of the 946 are single-event).
    val df = SparkEntry.queries("q_session_overlap")(spark, dir)
    val (_, jobs) = TestSpark.jobsDuring(df.queryExecution.optimizedPlan)
    assert(jobs <= 2, s"planning ran $jobs jobs")
    assert(TestSpark.bucketWidth(df) == 64.0)
  }

  test("q1_agg aggregates inside whole-stage codegen") {
    // The plain plan string hides codegen stage boundaries; the
    // codegen explain mode lists every WholeStageCodegen subtree.
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    val p = df.queryExecution
      .explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), s"codegen explain:\n${p.take(2000)}")
  }
}

package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Writes PLANS.md: the formatted physical plan of each declared query at
  * sf0.01, plus automated checks of scale-critical plan properties
  * (filter/projection pushdown to the parquet scan, broadcast choice for
  * small dimensions, TakeOrderedAndProject for top-k). Run after adding
  * or changing operators; review the CHECK lines.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the declared queries (generated by graft.ExplainAudit)\n\n")
    sb.append(s"Source: `$sfDir`. The `*(n)` prefix marks WholeStageCodegen stages.\n")

    // (query, required plan fragments, forbidden plan fragments)
    val checks: Map[String, (Seq[String], Seq[String])] = Map(
      "q02_find_by_id" -> (Seq("PushedFilters: [IsNotNull(event_id), EqualTo(event_id"), Nil),
      "q03_find_by_fn_sym" -> (Seq("PushedFilters: [IsNotNull(event_type), EqualTo(event_type", "TakeOrderedAndProject"), Nil),
      "q05_filter_failed" -> (Seq("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus", "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>"), Nil),
      "q06_dead_peek_oldest" -> (Seq("TakeOrderedAndProject"), Nil),
      "q08_page_desc" -> (Seq("TakeOrderedAndProject", "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz>"), Nil),
      "q13_worker_liveness" -> (Seq("BroadcastHashJoin", "LeftAnti"), Nil),
      "q22_revenue_by_nation" -> (Seq("BroadcastHashJoin"), Seq("SortMergeJoin")),
      // WindowGroupLimit = map-side partial top-k per group before the
      // shuffle (Spark 3.5+), exactly the plan wanted at 100 TB.
      "q23_topk_per_status" -> (Seq("WindowGroupLimit", "row_number(), 3, Partial",
        "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"), Nil),
      "s01_cosine_topk" -> (Seq("vec_dot", "TakeOrderedAndProject"), Nil),
      // SQL text through the injected registry must compile to s01's plan
      "s14_sql_surface" -> (Seq("vec_dot", "TakeOrderedAndProject"), Nil),
      // SQL-text twins (r9): each must reach its native expression by
      // name and keep the DataFrame twin's plan shape
      "s25_sql_minhash" -> (Seq("minhash_md5", "TakeOrderedAndProject"), Nil),
      "s26_sql_entropy" -> (Seq("char_entropy", "TakeOrderedAndProject"),
        Seq("Join", "CartesianProduct", "Window", "HashAggregate")),
      "s27_sql_window" -> (Seq("Window", "TakeOrderedAndProject"),
        Seq("CartesianProduct")),
      "s28_sql_ngram_jaccard" -> (Seq("sorted_intersect_size", "xxhash64"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // p06's SQL twin: the native token counter by name, ONE grouped
      // agg, and none of the shapes that would mean the SQL surface
      // stopped being the map-side plan the DataFrame twin pins
      // d26's SQL twin: same census/join-back/island shape, no product
      "s30_sql_dupspan" -> (Seq("HashAggregate", "Window"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      "s29_sql_length_histogram" -> (Seq("regexp_count_fast", "HashAggregate"),
        Seq("Join", "CartesianProduct", "Window")),
      // dimred sweep: per-D cuts are partial top-k over the checkpointed
      // one-pass projection; the coefficient matrix broadcasts
      "s15_dimred_sweep" -> (Seq("TakeOrderedAndProject"),
        Seq("CartesianProduct", "SortMergeJoin")),
      "t03_token_count" -> (Seq("HashAggregate"), Nil),
      "d09_lsh_skew_guarded" -> (Nil, Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // the composed verify stage must stay a pure equi-join pipeline
      "d10_lsh_verified" -> (Seq("sorted_intersect_size"), Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // r1 shipped this as a crossJoin-within-cluster; now (label, bucket) equi-join
      "d08_embedding_neardup" -> (Seq("vec_dot"), Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // contamination = shingle equi-join, never a doc×doc product
      "d11_contamination" -> (Nil, Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // per-query top-k must push the partial limit below the shuffle
      "s04_ann_multiquery" -> (Seq("WindowGroupLimit", "vec_dot"), Seq("CartesianProduct")),
      // the sweep reuses the cached centroid artifact + broadcast query
      // sides; the only O(corpus) work is the one exact-top-10 scan
      "s06_ivf_recall_sweep" -> (Seq("vec_dot", "WindowGroupLimit"), Seq("CartesianProduct")),
      "t05_top_bigrams" -> (Seq("TakeOrderedAndProject", "HashAggregate"), Nil),
      "q24_daily_window" -> (Seq("HashAggregate", "ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>"), Nil),
      // both window ops (lag + running sum) reuse ONE user_id exchange
      // (structural counts in countChecks; node ids drift across plans)
      "q25_sessionize" -> (Nil, Seq("CartesianProduct")),
      "q26_rollup" -> (Seq("Expand"), Nil),
      // the diagnostic quadratics' fixed doc_id bound is applied BEFORE
      // their localCheckpoint, so it can't appear in the truncated final
      // plan — the bound is spec'd by the oracle instead; here we only
      // assert no pair stage degenerates into a product join
      "d05_lsh_candidate_pairs" -> (Nil, Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      "d06_ngram_jaccard" -> (Nil, Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // the composed cleaning pipeline (stage plans truncated at the
      // inter-stage checkpoints): no stage may be a doc×doc product
      "p01_clean_corpus" -> (Nil, Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // mixing = map-side hash-threshold filter + ONE grouped agg; a join
      // or second exchange would mean the sample stopped being map-side
      "p02_source_mixing" -> (Seq("HashAggregate"),
        Seq("Join", "CartesianProduct")),
      // packing plan = one window (prefix sum) + one agg over the SAME
      // source partitioning — the window exchange must be the only one
      "p03_pack_stats" -> (Seq("Window"), Seq("Join", "CartesianProduct")),
      // codec stages must spread over all cores, not the source's splits
      "m01_media_decode" -> (Seq("Exchange", "MapPartitions"), Nil),
      "m03_resize_plan" -> (Seq("Exchange", "MapPartitions"), Nil),
      // banded range join: equi-join on (user_id, bucket) + range refine —
      // never the nested-loop product the raw theta-join would pick
      "q40_range_join" -> (Nil, Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // the hint must hold: the join hash-partitions by (key, salt) —
      // a broadcast here would mean the salting demonstrates nothing
      "q41_salted_join" -> (Seq("ShuffledHashJoin"),
        Seq("BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")),
      // all five analytics fuse into ONE Window node over ONE exchange
      // (structural counts in countChecks)
      "q43_window_suite" -> (Nil, Seq("CartesianProduct")),
      // unpivot is an Expand over the agg output — no extra shuffle
      "q44_unpivot" -> (Seq("Expand"), Seq("CartesianProduct")),
      // r16: the per-doc top-1 is a grouped min(struct) — the old
      // Window/WindowGroupLimit form shuffled every (doc, tok) row into
      // a sort; the agg form partial-aggregates map-side. A min over a
      // struct plans as SortAggregate (t07's other aggregates are
      // HashAggregate, so that fragment proves nothing). A Window here
      // would be the regression.
      "t07_tfidf" -> (Seq("SortAggregate"), Seq("Window", "CartesianProduct")),
      // t08/d14 attach a 1-row broadcast scalar (corpus N / the batch
      // boundary) — that BNLJ is the intended scalar-attach plan, so only
      // a true product join is forbidden
      "t08_unigram_logprob" -> (Seq("HashAggregate"), Seq("CartesianProduct")),
      // bigram extraction is scan-local (zip_with over slices) but sits
      // before the big-frame localCheckpoint, so it can't appear in the
      // truncated final plan (the d05 situation); the checkable residue:
      // no per-token Window anywhere, no product join — the 1-row vocab
      // broadcast is the t08-style scalar attach
      "t11_bigram_logprob" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "Window")),
      "d13_sketch_error" -> (Seq("sorted_intersect_size"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      "d14_incremental_dedup" -> (Seq("sorted_intersect_size"), Seq("CartesianProduct")),
      // SemDeDup: candidate pairs via (label, bucket) equi-join, keep
      // policy via the linear centroid-cosine reduction — no product join
      "d15_semantic_dedup" -> (Seq("vec_dot"), Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // the sweep prices every τ from ONE candidate+verify pass
      "d16_threshold_sweep" -> (Seq("sorted_intersect_size"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // the Bloom probe must sit scan-local in the train scan's codegen
      // stage, ahead of the distinct exchange; the join stays equi
      "d17_bloom_contamination" -> (Seq("bloom_might_contain"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // the apply stage after the (checkpoint-truncated) cluster pass:
      // one equi-join of docs to cluster labels plus one grouped agg
      "d18_dedup_prune_stats" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // bisect diagnostics share d18's kernel: verify stays a long-array
      // merge on candidates, the census is one grouped agg over labels
      "d18a_verified_edges" -> (Seq("sorted_intersect_size"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      "d18b_cluster_census" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // per-label bottom-k pushes the partial limit below the shuffle
      "s07_centroid_outliers" -> (Seq("WindowGroupLimit"), Seq("CartesianProduct")),
      // PII scan is scan-local: regexp work inside the scan's project,
      // top-k only — a join or window here would mean it stopped being
      // a single pass
      "t10_pii_scan" -> (Seq("TakeOrderedAndProject"),
        Seq("Join", "CartesianProduct", "Window")),
      // the sweep rides band equi-joins like every LSH path
      "s09_lsh_table_sweep" -> (Nil, Seq("CartesianProduct")),
      // ONE candidate pass (band equi-join), every radius from the same
      // hamming column — no per-radius rescans, no pair blow-up. The
      // recall ORACLE side broadcasts the bounded query set (≤64 rows)
      // into a nested-loop exact scorer — the same shape as s01's brute
      // force and the right plan for ground truth, so BNLJ is allowed
      // here; only an unbounded CartesianProduct would be a scale bug.
      "s10_hamming_sweep" -> (Seq("rhp_hamming"), Seq("CartesianProduct")),
      // quantization audit is scan-local: no join anywhere, top-k only
      "s08_quantization_error" -> (Seq("TakeOrderedAndProject"),
        Seq("Join", "CartesianProduct", "Window")),
      "p04_shard_plan" -> (Seq("HashAggregate"), Seq("Join", "CartesianProduct")),
      "p06_length_histogram" -> (Seq("HashAggregate"), Seq("Join", "CartesianProduct")),
      // each coverage point is a partial top-k, never a global vocab sort
      "t09_vocab_coverage" -> (Seq("TakeOrderedAndProject"), Seq("CartesianProduct")),
      // the median side must broadcast back onto the scan
      "p05_quantile_filter" -> (Seq("BroadcastHashJoin"),
        Seq("SortMergeJoin", "CartesianProduct")),
      // composite rule filter: counters in the scan's project, one
      // grouped rollup — a join or window would mean it stopped being
      // one pass
      "t12_gopher_rules" -> (Seq("regexp_count_fast", "HashAggregate"),
        Seq("Join", "CartesianProduct", "Window")),
      // scan-local sorted-run rewrites: NOTHING between scan and top-k
      "t13_ttr_diversity" -> (Seq("TakeOrderedAndProject"),
        Seq("Join", "CartesianProduct", "Window", "HashAggregate")),
      "t06_repetition" -> (Seq("TakeOrderedAndProject"),
        Seq("Join", "CartesianProduct", "Window", "HashAggregate")),
      // two-stage funnel: both cuts are partial top-k; the 1-row query
      // attach is the intended s01-style broadcast, so only a true
      // product or a sort-merge of the corpus would be a scale bug
      "s11_two_stage" -> (Seq("TakeOrderedAndProject", "vec_dot"),
        Seq("CartesianProduct", "SortMergeJoin")),
      "s12_coarsek_sweep" -> (Seq("TakeOrderedAndProject"),
        Seq("CartesianProduct", "SortMergeJoin")),
      // epoch schedule: prefix-sum window partitioned by source; the
      // schedule side is a sources-bounded broadcast back onto the scan
      "p08_epoch_schedule" -> (Seq("Window"), Seq("CartesianProduct")),
      // provenance/passage dedup: content-keyed equi-joins + rollups,
      // never a pairwise product
      "d19_dup_provenance" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      "d20_passage_dedup" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // m04 reads the persisted sketch artifact (r9: decode runs once at
      // artifact build — the checkpoint scan is the visible plan; the
      // decode-stage spread is pinned on m01/m03, whose plans still show
      // the codec MapPartitions)
      "m04_ahash" -> (Seq("TakeOrderedAndProject"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // aHash near-dup: candidates come from the (band, key) equi-join
      // over the checkpointed decode pass — never a raster×raster product
      "m05_ahash_neardup" -> (Nil,
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // DSIR importance weights: bigram extraction is scan-local
      // (zip_with over slices, the t11 pattern, checkpoint-truncated);
      // the weight side is a buckets-bounded rollup joined back — equi
      // everywhere
      // (the 1-row total-weight attach is a t08-style scalar BNLJ — only
      // a true product would be a scale bug)
      "p09_dsir_resample" -> (Seq("HashAggregate"),
        Seq("CartesianProduct")),
      // passage prune: chunk canon = one content-keyed min, join back at
      // chunk granularity — no pairwise stage exists at all
      "d21_passage_prune" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // Lloyd step: E-step is the corpus×K centroid fan-out via the
      // (pos) equi-join (centroid side broadcasts — it is labels×64
      // rows); M-step and the audits are grouped reductions. A product
      // join or a sort-merge of the corpus against the centroid table
      // would mean the broadcast stopped holding. (The SMJs in the tail
      // are the labels×64-row shift/stats joins — stats-blind pre-AQE
      // picks, both sides tiny; the corpus-side joins are the BHJs.)
      "s13_kmeans_step" -> (Seq("HashAggregate", "BroadcastHashJoin"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // CDC (r15): cut list, tail rule and chunk slicing are scan-local
      // higher-order expressions — no per-doc Window, no re-join of the
      // corpus; chunk occurrence books are content-keyed rollups over
      // (md5, source, len) rows that partial-aggregate map-side
      "d22_cdc_chunks" -> (Seq("HashAggregate"),
        Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
      // dedup-discounted budget: one content-keyed window + one rollup;
      // the weight is a case expression, so NO join belongs in this plan
      "p11_dedup_discounted_mix" -> (Seq("Window", "HashAggregate"),
        Seq("Join", "CartesianProduct")),
      // drift: vocabulary-keyed rollups; the sources×top-50 grid is an
      // intended broadcast cross of two tiny frames, so only an
      // unbroadcast product or a corpus sort-merge would be a scale bug
      "t16_token_drift" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "SortMergeJoin")),
      // novelty = two content-keyed rollups over ONE checkpointed
      // shingle scan (the xxhash64 runs before the checkpoint), joined
      // at DOC granularity — never the pair-level hash join the r8
      // shape paid; nothing pairwise anywhere
      "t14_novelty" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin")),
      // the whole histogram+fold runs inside the scan's codegen stage:
      // NOTHING between scan and top-k — a join, window or aggregate
      // would mean the per-character shuffle came back
      "t15_char_entropy" -> (Seq("char_entropy", "TakeOrderedAndProject"),
        Seq("Join", "CartesianProduct", "Window", "HashAggregate")),
      // budgeted diversity selection: linear centroid-cosine reduction,
      // one per-label window, quota side broadcasts back onto it (the
      // 1-row budget-total attach is the scalar BNLJ, as in p07/p09)
      "p10_diverse_budget" -> (Seq("Window", "BroadcastHashJoin"),
        Seq("CartesianProduct", "SortMergeJoin")),
      // Zipf fit: vocabulary-keyed rollup + per-source top-100 window;
      // the stot side is a sources-bounded join — nothing pairwise
      "t17_zipf_slope" -> (Seq("Window", "HashAggregate"),
        Seq("CartesianProduct")),
      // curriculum phases: entropy in the scan's codegen stage, quartile
      // thresholds a 1-row broadcast attach (the t08 scalar BNLJ),
      // assignment a scan-local compare — NEVER a global rank window
      "p12_curriculum_phases" -> (Seq("char_entropy", "HashAggregate"),
        Seq("CartesianProduct", "Window", "SortMergeJoin")),
      // kNN-graph audit: the capped n² pass is checkpoint-truncated (the
      // d05 situation); the visible residue is the reciprocity equi-join
      // + rollup, which must never degenerate into a product
      "s16_knn_graph" -> (Seq("HashAggregate"),
        Seq("CartesianProduct")),
      // exact-dup groups: ONE grouped rollup keyed by the 64-bit sketch
      // — the linear branch m05's guard defers to, so no pairwise stage
      // may exist at all. r14: the sketches mount from the STORED
      // artifact (a parquet scan), so the decode MapPartitions no longer
      // appears here — it runs once at artifact build (m04's cold row);
      // the codec-stage plan shape stays pinned on m01/m03.
      "m06_phash_dup_groups" -> (Seq("Exchange", "HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // band sweep: the bounded truth scan and the one candidate pass are
      // checkpoint-truncated (the d05 situation); the visible residue is
      // config-keyed rollups + the 1-row truth-count broadcast attach —
      // nothing may degenerate into an unbounded product
      "d23_band_sweep" -> (Seq("HashAggregate"),
        Seq("CartesianProduct")),
      // UniMax: the cumsum windows run over the SOURCES-sized rollup
      // (one row per source), the scalar attaches are 1-row broadcasts —
      // only an unbounded product would be a scale bug
      "p13_unimax_mix" -> (Seq("Window", "HashAggregate"),
        Seq("CartesianProduct")),
      // CCNet buckets: LM scoring is t08's content-keyed join pipeline;
      // the tercile cut is a 1-row broadcast attach (the p05/p12
      // percentile pattern) — never a global rank window
      "t18_perplexity_buckets" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "Window")),
      // PQ audit: the corpus×K fan-out is the (pos) equi-join with the
      // broadcast centroid table (s13's E-step shape); per-(vec, sub)
      // code choice is a bounded window — no product join anywhere
      "s17_pq_error" -> (Seq("HashAggregate", "BroadcastHashJoin"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // split audit: scan-local hash assignment + two content-keyed
      // rollups joined on the sources-bounded key — nothing pairwise
      "p14_leakage_safe_split" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
      // BPE census: scan-local pair explode + one rollup + bounded top-k
      "t19_bpe_pair_census" -> (Seq("HashAggregate", "TakeOrderedAndProject"),
        Seq("Join", "CartesianProduct", "Window")),
      // BPE apply: the merge chain is literal replaces inside the scan's
      // codegen stage + ONE per-source rollup — a join or window would
      // mean the encode stopped being scan-local
      "t22_bpe_apply" -> (Seq("replace", "HashAggregate"),
        Seq("Join", "CartesianProduct", "Window")),
      // native BPE encode: ONE codegen'd bpe_encode_fast expression
      // inside the scan's project (the whole merge table rides as a
      // reference object, not nested replaces) + one census rollup —
      // a join or window would mean the encode stopped being scan-local
      "t23_bpe_encode_native" -> (Seq("bpe_encode_fast", "HashAggregate"),
        Seq("Join", "CartesianProduct", "Window")),
      // window-census artifact books: equi-joins of the checkpointed
      // census against doc meta + dup stats, one grouped rollup —
      // nothing pairwise anywhere (the census build itself is
      // checkpoint-truncated, the d05 situation; its scan-local explode
      // shape is spec'd by the d23a oracle)
      "d23a_window_census" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // window coverage: left-semi join-back of the persisted census
      // against the prebuilt dup stats + per-doc island windows —
      // nothing pairwise anywhere
      "d24_window_coverage" -> (Seq("HashAggregate", "Window"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // edit-distance verify: candidate-side-only banded DP; the prefix
      // attach is two equi-joins, the output a bounded top-k
      "d25_editdist_verify" -> (Seq("levenshtein", "TakeOrderedAndProject"),
        Seq("CartesianProduct")),
      // dupspan excision: content-keyed census, join-back against the
      // DEDUPED dup-window table, (doc_id,pos) rollup + per-doc island
      // windows — same no-pairwise discipline as d24's census
      "d26_dupspan_excision" -> (Seq("HashAggregate", "Window"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // radius search: ONE corpus scan with the 8-row query side riding
      // broadcast (that BNLJ is the intended s01-style attach); only an
      // unbroadcast product or a corpus sort-merge would be a scale bug
      "s18_range_search" -> (Seq("vec_dot", "HashAggregate"),
        Seq("CartesianProduct", "SortMergeJoin")),
      // IVF balance: E-step centroid join must broadcast the centroid
      // side (labels×64 rows); rollups are K-bounded
      "s19_ivf_balance" -> (Seq("HashAggregate", "BroadcastHashJoin"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // embedding drift: (label, half, pos) partial-agg rollup, then
      // label-bounded joins; the 1-row boundary attach is the t08-style
      // scalar broadcast — only a true product would be a scale bug
      "s20_embedding_drift" -> (Seq("HashAggregate"),
        Seq("CartesianProduct")),
      // encoding audit: three codegen'd counters inside the scan's
      // project + ONE rollup — a join or window would mean it stopped
      // being one pass
      "t20_encoding_audit" -> (Seq("regexp_count_fast", "HashAggregate"),
        Seq("Join", "CartesianProduct", "Window")),
      // shard balance: one (shard, source) rollup over the corpus; the
      // grid/total attaches are bounded broadcasts
      "p15_shard_balance" -> (Seq("HashAggregate"),
        Seq("CartesianProduct")),
      // hybrid RRF: both arms cut to partial top-k BEFORE ranks/fuse;
      // the query-vocabulary join side rides broadcast
      "s21_hybrid_search" -> (Seq("TakeOrderedAndProject", "vec_dot"),
        Seq("CartesianProduct")),
      // ADC: one broadcast-table equi-join + grouped integer sum +
      // partial top-k; the corpus is never decoded
      "s22_pq_adc_topk" -> (Seq("HashAggregate", "TakeOrderedAndProject"),
        Seq("CartesianProduct")),
      // filtered search: both arms end in partial top-k over one scan;
      // the label predicate rides broadcast, never a shuffle join
      "s23_filtered_topk" -> (Seq("TakeOrderedAndProject", "vec_dot"),
        Seq("CartesianProduct", "SortMergeJoin")),
      // batched kNN join: candidates come from the cell equi-join (the
      // 8-row query side rides broadcast); per-query top-10 cut by a
      // map-side WindowGroupLimit before the qid exchange
      "s24_ivf_knn_join" -> (Seq("WindowGroupLimit", "vec_dot"),
        Seq("CartesianProduct")),
      // quarantine census: decode outcomes roll up in one (source)
      // aggregate; the doc join broadcasts the two-column side
      "m07_decode_quarantine" -> (Seq("HashAggregate"),
        Seq("CartesianProduct", "SortMergeJoin")),
      // readability: three codegen'd counters in one scan + one rollup,
      // t20's shape — a join or window would mean it stopped being one pass
      "t21_readability" -> (Seq("regexp_count_fast", "HashAggregate"),
        Seq("Join", "CartesianProduct", "Window"))
    )

    // Structural node-count checks: exact number of occurrences of a
    // physical node, counted from the formatted-explain detail headers
    // `(n) NodeName` — robust to node-id renumbering (a Spark upgrade or
    // an added projection shifts every id but not the node census).
    val countChecks: Map[String, Seq[(String, Int)]] = Map(
      // all five analytics fuse into ONE Window node over ONE exchange
      "q43_window_suite" -> Seq("Window" -> 1, "Exchange" -> 1),
      // lag + running sum: two Window nodes sharing ONE user_id exchange
      "q25_sessionize" -> Seq("Window" -> 2, "Exchange" -> 1))
    def nodeCount(plan: String, node: String): Int =
      ("""\(\d+\) """ + node + """\b""").r.findAllIn(plan).size

    var failures = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!name.startsWith("e2e_")) { // e2e queries run the engine, not one plan
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          sb.append(s"\n## $name\n\n```\n$plan```\n")
          checks.get(name).foreach { case (required, forbidden) =>
            required.foreach { frag =>
              val ok = plan.contains(frag)
              if (!ok) failures += 1
              sb.append(s"CHECK ${if (ok) "PASS" else "FAIL"}: expects `$frag`\n")
            }
            forbidden.foreach { frag =>
              val ok = !plan.contains(frag)
              if (!ok) failures += 1
              sb.append(s"CHECK ${if (ok) "PASS" else "FAIL"}: must not contain `$frag`\n")
            }
          }
          countChecks.get(name).foreach { cs =>
            cs.foreach { case (node, want) =>
              val got = nodeCount(plan, node)
              val ok = got == want
              if (!ok) failures += 1
              sb.append(s"CHECK ${if (ok) "PASS" else "FAIL"}: expects $want× `$node` (got $got)\n")
            }
          }
        } catch {
          case e: Throwable =>
            failures += 1
            sb.append(s"\n## $name\n\nEXPLAIN ERROR: ${e.getMessage}\n")
        }
      }
    }
    sb.append(s"\n---\n${if (failures == 0) "All plan checks passed." else s"$failures CHECK FAILURES"}\n")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLAN_CHECK_FAILURES=$failures")
    spark.stop()
  }
}

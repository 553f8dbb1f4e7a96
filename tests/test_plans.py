"""Plan-hygiene tests: assert the physical plans the 100 TB posture demands
-- pushdown reaching the scan, small dims broadcast, no cartesian products,
CPU-heavy maps spread across partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from kcl_akka_stream_spark.plans.hygiene import (
    count_in_plan,
    has_broadcast_hash_join,
    has_cartesian_product,
    pushed_filters,
    spread,
)
from kcl_akka_stream_spark.queries import QUERIES


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = QUERIES["j_broadcast_star"](spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_cartesian_product(df)


def test_projection_prunes_columns(spark, sf_dir):
    # A 2-column projection must not scan all 11 lineitem columns.
    from kcl_akka_stream_spark.queries.registry import tbl
    from kcl_akka_stream_spark.plans.hygiene import physical_plan

    df = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    assert "l_extendedprice" not in plan


def test_no_cartesian_anywhere_in_headline(spark, sf_dir):
    for name in ["dedup_minhash_lsh", "dedup_ngram_jaccard", "sim_topk_bruteforce", "j_range_bucket", "j_interval_overlap"]:
        df = QUERIES[name](spark, sf_dir)
        assert not has_cartesian_product(df), name


def test_topn_uses_take_ordered(spark, sf_dir):
    df = QUERIES["w_global_topn"](spark, sf_dir)
    assert count_in_plan(df, r"TakeOrderedAndProject") > 0


def test_shuffle_budgets(spark, sf_dir):
    # Lock in each operator's documented shuffle accounting: a regression
    # that adds an Exchange is a scale bug even when results stay correct.
    from kcl_akka_stream_spark.plans.hygiene import count_exchanges

    budgets = {
        "dedup_simhash": 1,  # spread only -- fingerprint is map-only
        "dedup_exact": 1,  # one hash-shuffle on the digest
        "dedup_ngram_jaccard": 3,  # spread + shingle-group + pair-group
        "dedup_ngram_jaccard_capped": 3,  # df-cap is a map-side filter: same budget
        "dedup_minhash_lsh": 4,  # spread + sig-agg + bucket-group + distinct
        "dedup_minhash_lsh_capped": 4,  # bucket cap is a map-side filter: same budget
        "emb_near_dup_lsh": 2,  # spread + one side of the bucket-blocked self-join
        "text_redact_pii": 1,  # map-only regexp rewrite [r10: +1 spread, r9 #5 tripwire]
        "pipeline_pack_tokens": 1,  # one window shuffle keyed by stratum
        "pipeline_decontaminate": 3,  # spread + gram-explode side + final per-doc agg
        "dedup_minhash_verified": 4,  # candidate gen only; verify joins broadcast
        "agg_salted_skew": 2,  # salted partial + final combine
        "q1_pricing_summary": 1,  # single agg shuffle
        "checkpoint_frontier": 1,  # window by shard + final agg
        "text_quality_flags": 1,  # spread only -- one Arrow pass, ZERO joins/aggs
        "dedup_boilerplate_segments": 5,  # spread + seg-df agg + join + doc agg
        "agg_cms_heavy_hitters": 3,  # state agg + key distinct + exact agg
        "sample_per_stratum": 1,  # one window shuffle keyed by stratum
        "cluster_kmeans_assign": 2,  # spread + per-vector argmin agg
        "cluster_kmeans_step": 4,  # assign + (cluster,dim) avg + rebuild
        "emb_quantize_int8": 1,  # spread only -- quantization is map-only
        "q3_shipping_priority": 1,  # one orders<->lineitem shuffle; dims broadcast
        "q5_local_supplier_volume": 1,  # same: only the orderkey join shuffles
        "q10_returned_items": 1,  # same shape as q3
        "q18_large_volume_customers": 1,  # HAVING pre-agg then broadcasts
        "emb_near_dup_lsh_capped": 1,  # isin-pruned scan + one group shuffle into the Arrow pair-scorer
        "pipeline_export_manifest": 3,  # Arrow quality gate + dedup join + pack window
        "pipeline_incremental_dedup": 1,  # digest set broadcast; incoming never shuffles
        "diag_key_skew": 3,  # count agg + TakeOrdered + single-row broadcast
        "emb_lang_centroids": 2,  # docs broadcast; (lang,dim) avg combines map-side
        "pipeline_adaptive_length_filter": 1,  # one window shuffle keyed by stratum
        "text_langid_confusion": 1,  # map-only predict + one combinable agg
        "agg_cms_merged": 4,  # grouped state + merge + probe + exact agg
        "dedup_simhash_pairs": 5,  # fingerprint spread + band union + pair distinct
        "w_funnel_conversion": 7,  # 3 stage aggs + broadcasts, all key-sized
        "w_gap_fill_hourly": 2,  # bucket agg + span agg; grid join co-keyed
        "sql_api_pricing": 1,  # same plan as q1 through the SQL door
        "agg_pivot_event_types": 2,  # one combinable pivot agg
        "udf_pandas_vowel_density": 1,  # spread only -- ArrowEvalPython is map-side
        "q4_order_priority": 1,  # semi-join + tiny priority agg
        "q12_priority_shipping": 1,  # one fact-fact shuffle; CASE counters fold into one agg
        "q19_discounted_revenue": 1,  # part broadcast; single-row agg
        "sim_topk_ivf_prebuilt": 3,  # probe-only: query-side windows; corpus never shuffles
        "pipeline_source_cap": 1,  # one window shuffle keyed by source
        "q13_customer_distribution": 2,  # outer-join shuffle pair; both aggs ride its partitioning
        "q16_supplier_part_counts": 2,  # anti+dim broadcast; count-distinct = partial-distinct + final
        "q17_small_qty_revenue": 2,  # per-part avg agg; both joins broadcast; single-row final
        "q22_global_sales_opportunity": 2,  # scalar agg + nation rollup; anti/dim broadcast
        "pipeline_tfidf_topk": 5,  # 2 data-sized (tf agg, doc window) + vocab df agg/broadcast + single-row N
        "dedup_edit_verified": 4,  # candidate gen only (minhash budget); verify joins broadcast
        "pipeline_snapshot_diff": 2,  # one full-outer join pair carrying (id, md5) only
        "agg_approx_quantile_report": 2,  # group agg + broadcast join-back rank count
        "agg_conditional_funcs": 1,  # one combinable agg pass
        "agg_corr_exact": 1,  # one combinable agg of exact decimal moments
        "pipeline_chunk_docs": 0,  # map-only: tokenize once, explode indices, slice
        "text_oov_report": 3,  # tf agg + vocab TakeOrdered + per-doc agg; vocab broadcast back
        "pipeline_train_val_split": 1,  # map-only md5 split; audit agg is the only shuffle
        "j_cogroup_interval_counts": 2,  # one shuffle per cogroup side; kernel is map-side
        "q21_suppliers_kept_waiting": 7,  # exists/not-exists rewritten as 2 key-sized aggs + joins back
        "q15_top_supplier": 3,  # revenue agg + single-row max broadcast + dim broadcast
        "q11_important_supplier_value": 3,  # value agg + single-row total broadcast
        "emb_random_projection": 0,  # one Arrow mapInPandas pass; sign matrix rebuilt per task
        "q6_forecast_revenue": 1,  # pure scan + single-row agg; all predicates pushed
        "q7_volume_shipping": 1,  # one orderkey/custkey shuffle chain; dims broadcast
        "q8_market_share": 1,  # numerator CASE folds into the same agg as the denominator
        "q9_product_type_profit": 1,  # part/supplier/nation broadcast; one (nation, year) agg
        "q20_excess_inventory_suppliers": 2,  # grouped HAVING + aggregated side broadcast into semi-join
        "q2_min_cost_supplier": 3,  # 1 data-sized (part,supp) agg + 2 key-sized (min + join-back)
        "arrow_doc_stats": 1,  # spread only -- pyarrow kernels are map-side
        "udtf_token_runs": 0,  # LATERAL expansion is map-side (BatchEvalPythonUDTF)
        "j_lateral_topk": 1,  # decorrelated: one window shuffle; customer broadcast
        "scalar_variant_extract": 2,  # parse_json/variant_get map-side + one agg [r10: +1 spread, r9 #5 tripwire]
        "text_unigram_logprob": 3,  # term agg (vocab broadcast back) + single-row N + doc agg
        "pipeline_bpe_top_pairs": 2,  # zip-with-tail is map-only; one pair-count shuffle [r10: +1 spread, r9 #5 tripwire]
        # PageRank eagerly checkpoints the edge base AND the final ranks
        # (VERDICT r7 #1): the returned plan is decode + TakeOrdered over
        # a node-sized LogicalRDD -- zero exchanges visible (the bounded
        # iteration shuffles ran inside the operator, once).
        "graph_pagerank_topk": 0,
        "w_rolling_range_frame": 1,  # one window shuffle keyed by customer
        "agg_outlier_zscore": 1,  # stats agg (5 rows) broadcast back; scan-side filter
        "agg_unpivot_brand_metrics": 1,  # brand agg; the unpivot is a map-side Expand
        "u_except_all": 1,  # count-agg + replicate, not a row-pairing join
        "pipeline_bloom_dedup": 4,  # existing-distinct x2 (bits + known, both bounded/broadcast) + bit distinct + candidate agg; single-pass verify join
        "w_ewma_time_decay": 1,  # one user-keyed window shuffle; final agg rides its partitioning
        "text_bigram_logprob": 7,  # pair agg + context rollup (pair-table-sized) + broadcasts + doc agg [r10: +3 spread, r9 #5 tripwire]
        "sim_ivf_recall_report": 9,  # composes brute-force (1) + inline IVF build/probe (8); sampled-quality report, not a hot path
        "agg_kmv_set_ops": 6,  # 2 per-set distinct+rank chains + union rank + single-row size broadcasts; all sketch-sized after the distincts
        "graph_triangle_count": 8,  # edges checkpointed once (was 13 re-derived); wedge join pair + close semi-join + node/edge counts
        "graph_clustering_coeff": 6,  # shared checkpointed edges; wedge join + corner agg + degree agg + final join
        # Same checkpoint discipline as graph_pagerank_topk.
        "graph_ppr_topk": 0,
        "u_intersect_all": 1,  # same multiset count-agg shape
        "udaf_grouped_median": 1,  # one group shuffle; NO partial agg (GROUPED_AGG is non-combinable)
        # round-8 wave
        "j_interval_overlap": 1,  # grain-bucket equi-join (one side broadcast) + pair distinct riding it
        "emb_pq_assign": 0,  # map-only Arrow encode: codebook literal-shipped, zero exchanges
        "sim_topk_pq_adc": 2,  # map-only encode + broadcast dist-table join + (q,n) agg + per-q window
        "agg_approx_distinct_report": 2,  # one pass: HLL + exact distinct expand/combine
        "pipeline_rollup_incremental": 2,  # two partial-state aggs (shared scan) + states-sized merge
        "pipeline_dataset_card": 2,  # single agg with distinct expansion
        "w_cumulative_distinct": 2,  # (user,type) window + user window
        "agg_winsorized_stats": 3,  # (type,value) hist agg + tiny CDF window + clamp-agg; thresholds broadcast
        "dedup_minhash_calibration": 3,  # pair gen over checkpointed signatures + shingle joins + report agg
        # round-8 wave 3
        "pipeline_scd2_history": 1,  # both windows ride ONE user-keyed exchange
        "agg_power_sums": 1,  # one combinable shuffle; states-sized output
        "w_top_paths": 2,  # one window sort + path-count agg; top-k is TakeOrdered
        "graph_degree_stats": 4,  # pair relation checkpointed once; 2 node aggs + 2 max-degree-sized histogram aggs
        "scalar_url_funcs": 0,  # map-only JVM parse_url
        "sim_topk_ivf_pq": 7,  # inline quantizer learn + cluster join; serving side is broadcast probe/dtab + (q,n) agg + per-q window
        # round-8 wave 4
        "multimodal_phash_pairs": 5,  # spread + band self-join pair + pair distinct (same shape as dedup_simhash_pairs)
        "j_scd2_point_in_time": 2,  # scd2's one user exchange + probe join keyed on user
        "text_hashing_vectorizer": 2,  # spread + one combinable (doc,bucket) count
        "dedup_url_canonical": 2,  # map-only canonicalize + one count-distinct agg (partial-distinct + final)
        "sim_topk_ivf_pq_prebuilt": 4,  # probe-only: query-side windows + broadcasts; the codes scan is partition-pruned, never shuffled
        "pipeline_scd2_incremental": 6,  # history build (1 key exchange) + batch compaction windows + key-equi merge joins; all sides keyed on user
        "agg_mode_exact": 2,  # (group,value) hist agg + rank window over the VALUE-bounded hist relation
        "w_inter_event_gap_stats": 2,  # one user-keyed window sort + one combinable agg
        # round-8 wave 6
        "pipeline_mixture_weights": 8,  # ONE data-sized token count; everything after (quota/remainder/rank/extra) is language-cardinality-sized incl. the global rank window (bounded input, the sketches.py:104 benign case)
        "agg_entropy_report": 2,  # (source,lang) count + source window riding it + final agg
        "w_retention_cohorts": 3,  # user-keyed distinct + cohort window riding it + cohort-sized final agg
        "agg_gini_report": 1,  # per-group rank window + agg on the same partitioning
        "text_novelty_report": 4,  # shingle-keyed min agg + join back riding it + per-doc agg [r10: +2 spread, r9 #5 tripwire]
        "pipeline_curriculum_order": 1,  # one bucket-keyed window on a map-side projection
        # round-8 wave 8
        "agg_mad_outliers": 7,  # ONE data-sized (g,v) count (checkpointed); all CDF/fence steps ride the distinct-value histogram
        "graph_link_prediction": 6,  # checkpointed edges; wedge join pair + pair count + degree agg; degree/edge sides broadcast
        "graph_label_propagation": 1,  # labels checkpointed node-sized; plan is decode + community agg (iteration shuffles ran once inside)
        "pipeline_perplexity_buckets": 8,  # bigram budget (4) + one lang-keyed bucket window [r10: +3 spread, r9 #5 tripwire]
        "pipeline_dedup_keep_best": 3,  # CC iteration state is now EDGE-sized (r9: singletons never ride the rounds); the price is the final singleton-attach left join (docs x edge-touched labels -- AQE broadcasts the tiny side at runtime) + the cluster-keyed keeper window
        "pipeline_shard_rendezvous": 1,  # map-only HRW argmax + one shard-sized agg
        # round-8 wave 9
        "agg_bitmap_distinct": 2,  # one (type,word) combinable OR agg + popcount rollup riding it
        "scalar_bitwise_funcs": 0,  # map-only whole-stage-codegen bit ops
        "graph_kcore": 1,  # per-round edge relations checkpointed; survivors broadcast into semi-joins
        "sim_matryoshka_report": 7,  # two brute-force branches (broadcast queries + per-q window each) + overlap agg
        "j_asof_forward": 2,  # right pre-agg + ONE key shuffle for the union window
        # round-8 wave 10
        "graph_bfs_distance": 0,  # per-round frontier checkpointed node-sized; plan is the last checkpoint readback
        "text_vocab_stats": 4,  # one (lang,term) count; totals/rank/top-100 ride the vocab-sized relation
        "pipeline_quality_funnel": 3,  # Arrow quality pass + digest keeper agg (broadcast back) + ONE funnel agg
        "scalar_array_funcs": 0,  # token array materialized once in a child projection; map-only HOFs
        # round-8 wave 12
        "w_login_streaks": 2,  # distinct + islands window ride one user exchange; runs agg + best window on the run-sized relation
        "j_asof_tolerance": 2,  # same shape as j_asof; tolerance is a post-filter
        # round-8 wave 13
        "sample_reservoir_merge": 2,  # fold window on (type,part) + merge/rank windows sharing the type exchange
        "w_time_weighted_avg": 1,  # lead() window AND final agg ride ONE user exchange
        "j_asof_nearest": 2,  # right pre-agg + ONE union exchange/sort feeding BOTH direction frames
        "agg_itemset_pairs": 5,  # basket distinct + basket-size cap window (ONE extra data-sized shuffle -- the 100 TB guard, VERDICT r8 #4) + combinable support agg; the broadcast self-join duplicates the shared distinct+window subtree in plan text, so both appear twice
        "pipeline_embedding_drift": 3,  # dim-explode combinable agg + (label,pos) drift join + label agg
        "pipeline_padding_efficiency": 1,  # map-only tokenize + one combinable bucket agg
        # round-8 wave 14
        "w_session_attribution": 2,  # ONE user exchange carries sessionize + both rank windows; aggs combinable
        "agg_ab_test_report": 2,  # two-variant integer moments + broadcast cross of two 1-row sides
        "w_wow_change": 2,  # combinable weekly rollup + lag window on the weeks-sized relation
        "agg_cms_error_report": 5,  # sketch build + broadcast probe + exact counts + 1-row total broadcast + final fold
        "sim_knn_classify": 2,  # brute-force topk (broadcast queries) + vote/argmax on the k*queries relation
        # round-8 wave 15
        "pipeline_repeated_ngram_ratio": 3,  # (doc,gram) combinable count + doc fold [r10: +1 spread, r9 #5 tripwire]
        "w_rolling_distinct_users": 5,  # presence relation checkpointed once; coverage-explode distinct + two day aggs + day join (plan counts the post-checkpoint side)
        "agg_markov_transitions": 3,  # ONE user lead window + pair agg + from-keyed total window on the types^2 relation
        # round-8 wave 16
        "graph_weighted_paths": 0,  # per-round distances checkpointed node-sized; plan is the last checkpoint readback (bfs discipline)
        "dedup_minhash_incremental": 5,  # signature agg + band explode + (band,bucket) probe join + pair distinct
        # round-8 wave 17 (evidence pack: VERDICT r8 #2)
        "agg_bitmap_set_ops": 3,  # two combinable word-OR aggs + word-keyed full-outer join; popcount rollup is single-row
        "w_anomaly_trailing_zscore": 2,  # daily combinable rollup + ONE event_type window carrying all three trailing frames
        "scalar_regex_funcs": 1,  # map-only whole-stage-codegen regex ops [r10: +1 spread, r9 #5 tripwire]
        "sim_centroid_classify": 4,  # centroid (label,pos) agg + broadcast model join + per-vector agg + argmax window + confusion rollup
        "agg_bootstrap_ci": 4,  # spread (the x32 expansion parallelizes -- one task did all 800k digests before, 3.9 -> 1.5 s) + (type,b) replicate agg + rank window + point-estimate agg; join on type rides
        # round-9 wave 18
        "agg_weighted_median": 2,  # ONE data-sized (group,value) weight rollup + CDF window/pick riding the distinct-value histogram
        "agg_pearson_corr": 1,  # one combinable integer-moments agg; r/beta derive map-side on the groups-sized relation
        "agg_dp_noised_counts": 1,  # one combinable count agg; seeded noise attaches map-side
        "sim_range_search": 1,  # spread only -- broadcast queries + map-side threshold filter, NO rank window
        "text_rake_keywords": 2,  # combinable word agg + combinable phrase agg; scoring join rides the vocab-sized relations; top-k TakeOrdered
        # round-9 wave 19
        "graph_hits_topk": 0,  # hub/auth tables checkpointed node-sized (edge-base discipline); plan is two TakeOrdered readbacks
        "w_seasonality_profile": 2,  # one combinable (type,dow,hr) agg + share window on the bounded 7x24-per-type profile
        "w_lag_features": 3,  # combinable daily rollup + ALL range frames ride ONE user exchange + the r11 deterministic ORDER BY (VERDICT r10 #1a insurance sort on the bounded days relation)
        # round-9 wave 20
        "agg_bucket_quantile_contract": 4,  # two combinable hist aggs (bins + distinct values) + CDF windows riding each + type-keyed contract join (one side broadcast)
        "graph_degree_assortativity": 3,  # edge base checkpointed; degree agg + two broadcast degree attaches + ONE combinable moments agg
        "pipeline_span_corruption": 2,  # map-only position explode + doc window over the masked 15% subset; doc agg rides it [r10: +1 spread, r9 #5 tripwire]
        # round-9 wave 21
        "agg_histogram_kl_drift": 3,  # two combinable hist aggs + bin-keyed full-outer join; totals window + KL fold ride the bounded bin relation
        "pipeline_hard_negatives": 2,  # spread + broadcast queries with the label predicate fused into the scoring join + per-q rank window
        "w_percent_rank_normalize": 1,  # ONE type-keyed window over the data-sized relation (documented per-row-normalization cost)
        # round-9 wave 22
        "scalar_map_funcs": 1,  # map-only str_to_map round-trip, whole-stage codegen [r10: +1 spread, r9 #5 tripwire]
        # round-10 wave 24
        "agg_ks_drift": 2,  # ONE pivoted (type,bin) agg (halves are conditional counters -- no alignment join) + type-keyed CDF window
        "agg_gini_concentration": 2,  # supplier rev agg + supplier-sized global rank window
        "w_cusum_changepoint": 1,  # all four windows + argmax share the one type-keyed sort
        "agg_entropy_profile": 2,  # (type,hour) combinable agg + type window over the 24-bin relation
        "sim_mips_topk": 2,  # spread + per-query rank window; corpus never shuffles for scoring
        "pipeline_tokens_per_byte": 0,  # map-only regexp + octet_length, whole-stage codegen
        "text_charset_profile": 1,  # ONE combinable lang agg; class strips are map-only
        "dedup_prefix_digest": 2,  # digest agg with partial-distinct full-hash counter
        "text_lang_vocab_jaccard": 3,  # vocab checkpointed once (was 11 re-derived); term-keyed pair join + pair agg
        # round-10 wave 25
        "agg_mutual_information": 5,  # cells checkpointed once (3 consumers); MI windows + 2 margin aggs all ride the (types x 24) relation
        "agg_chi_square_independence": 4,  # ONE cell agg + 3 margin windows (type / hour / global) over the cell-sized relation
        "sim_rrf_fusion": 7,  # two broadcast-query scoring branches (spread + rank window each) + k-bounded full-outer fuse + fused rank window
        "sim_ndcg_eval": 9,  # brute-force branch (2) + inline IVF learn/probe (the recall-report budget); the DCG join is k-bounded
        "graph_reciprocity": 4,  # (order, supplier) agg + per-order wedge join + edge distinct (checkpointed once; reverse semi-join re-reads it)
        # round-10 wave 26
        "agg_hill_tail_index": 2,  # supplier rev agg + supplier-sized rank window; fold touches k rows
        "w_time_since_event": 1,  # ONE user-keyed sort; the conditional last_value rides it (no self-join)
        "dedup_sorted_neighborhood": 9,  # r11 banded de-skew (VERDICT r10 #4): (lang,band) sort window feeding array-explode pairs + bounded offsets/edge windows + broadcast size rollup + distinct + shingle verify joins; the first banded cut hit 16 via per-lead filtered unions re-running the window subtree -- rewritten to ONE explode consumer per window
        # round-10 wave 27
        # round-10 wave 30
        "text_pmi_collocations": 4,  # pair relation checkpointed once (was 8 re-derived); (a,b) count + 2 word-margin aggs broadcast back; TakeOrdered
        "w_seasonal_decompose": 2,  # ONE (type, dow) combinable agg + type window over the 7-row-per-type relation
        # round-10 wave 29
        "agg_autocorr_lag1": 1,  # ONE type-keyed lag sort; the moment agg rides its partitioning
        # round-10 wave 28
        "w_ohlc_bars": 1,  # ONE (type, bar) sort shared by both rank windows; the bar agg rides its partitioning
        "agg_ols_residual_outliers": 1,  # one combinable moments agg; fit broadcast back, residual map-side, TakeOrdered
        "sim_lsh_recall_report": 7,  # brute branch (spread + per-q window) + bucketed branch (bucket join both sides + per-q window) + k-bounded overlap join
        "scalar_try_funcs": 1,  # map-only TRY family, whole-stage codegen [r10: +1 spread, r9 #5 tripwire]
        # round 12:
        "scd2_consistency_report": 2,  # ONE user exchange (window+per-key agg ride it) + single-row fold
        "multimodal_wav_header": 1,  # map-only hex-slice parse + one bounded agg
        "multimodal_mp4_header": 1,  # same: box walk is map-side
        "multimodal_png_dims": 1,  # same: IHDR parse is map-side
        "sample_dsir": 5,  # corpus spread + doc_b agg (checkpointed once) + cq agg + weight fold + TakeOrdered; delta/tt/tq broadcast
        "pipeline_decontaminate_fuzzy": 9,  # two sig aggs + corpus bucket join side + candidate distinct + verify id joins + report folds; eval side broadcast throughout
        "dedup_chain_audit": 8,  # verified-pair gen (4, checkpointed) + node distinct + member/edge aggs + size rollup; CC rounds behind the checkpoint
        "dedup_span_coverage": 4,  # spread + gram count agg + hit join side + doc window/fold; left join id-keyed
        "text_min_k_prob": 3,  # token explode checkpointed once; vocab agg + doc window/fold; vocab+total broadcast
        "privacy_k_anonymity_report": 3,  # QI group agg (partial-distinct + final) + single-row fold
        "sim_ivf_delta_serving": 6,  # ivf leg (4, quantizer + probe) + brute delta Arrow leg + merge window
        "w_trending_decay": 3,  # single-row tmax broadcast + one combinable agg + leaderboard rank
        "text_backoff_lm_score": 12,  # LM fit aggs (pair, context, unigram, total; all broadcast back) + scored-pairs fold + lang join-back
        "agg_cohens_kappa": 7,  # one contingency agg + bounded marginal folds/joins on the cells relation
        "sim_mmr_rerank": 2,  # final plan reads checkpointed blocks; per-step argmax windows are (q x 20)-bounded
        "scalar_math_funcs": 1,  # map-only scalars + one combinable agg
        "pipeline_decontaminate_spans": 3,  # spread + doc window/fold + id join-back; eval windows broadcast
        # round 13:
        "multimodal_jpeg_dims": 1,  # map-only SOF segment walk + one bounded agg
        "multimodal_mp3_header": 1,  # map-only ID3-skip + frame parse + one bounded agg
        "text_quality_model_scores": 5,  # feats distinct (checkpointed once) + bucket-count agg + totals fold + score agg + TakeOrdered; weights/totals broadcast
        "text_quality_model_report": 6,  # same fit + score + single-row confusion fold
        "sample_kcenter_diverse": 0,  # greedy steps read eager-checkpointed pool/picks; TakeOrdered argmax behind the checkpoints
        "agg_spearman_corr": 2,  # (type,user) agg + type re-exchange shared by both rank windows and the final agg
        "agg_kendall_tau": 2,  # hourly agg (checkpointed once) + final agg; bounded cell self-join broadcast
        "agg_theil_sen": 2,  # same hourly-cell shape: checkpointed agg + bounded pair windows + final agg
        "text_good_turing": 2,  # tf agg + fof agg; fof checkpointed once (r-bounded), totals broadcast
        "pipeline_doremi_weights": 2,  # tf + per-lang folds checkpointed once; vocab join behind the checkpoint, totals broadcast
        "dedup_winnowing": 2,  # fingerprint relation checkpointed once; pair join + count agg; TakeOrdered final
        "sim_topk_int8_rescore": 3,  # scale fold + per-q rank window + final rank; corpus never shuffles, queries broadcast
        "sim_int8_recall_report": 9,  # both legs (two-stage + brute) + join + single-row fold
        "agg_cramers_v": 4,  # one cell agg + margin windows (type/hr/global) riding it + single-row fold
        "emb_centroid_outliers": 3,  # dim explode checkpointed once + centroid agg (broadcast back) + per-vec fold + top-20 window
        "text_textrank_keywords": 7,  # pair agg (checkpointed) + deg agg + 3 vocab-sized iteration aggs + TakeOrdered; deg/ranks broadcast
        "agg_hodges_lehmann": 1,  # hourly agg (checkpointed); bounded Walsh pairs broadcast-joined, windows ride the cell relation
        "sample_kcenter_weights": 2,  # assignment agg + per-center fold; centers (k rows) broadcast, picks behind eager checkpoints
        "scalar_calendar_funcs": 1,  # map-only calendar scalars + one combinable agg
        "agg_tukey_fences": 2,  # cents relation checkpointed once; rank windows + quartile broadcast + counting agg
        "text_burstiness": 4,  # spread + tf agg + term agg + TakeOrdered; N broadcast
        "sim_rocchio_expansion": 3,  # round-1 behind an eager checkpoint; centroid/expansion aggs broadcast back; round 2 = one broadcast pass + rank window
        # round 14:
        "agg_hll_estimate": 5,  # (type,j) register agg + type agg + exact-distinct truth (2) + 5-row sort; join broadcast
        "agg_f2_sketch": 4,  # one 64-expression sketch agg + exact-F2 two-level agg + 5-row sort; join broadcast
        "text_quality_model_auc": 7,  # wave-58 fit/score chain (5, checkpointed feats) + distinct-score agg + single-row rank-sum fold
        "text_kneser_ney": 4,  # spread + pair agg (checkpointed); c1/cw/npp behind the checkpoint; TakeOrdered
        "dedup_cdc_chunks": 5,  # spread + per-doc anchor window (chunk agg rides it) + (lang,hash) agg + lang agg + tiny sort
        "text_quality_model_calibration": 9,  # scored relation checkpointed; bounds fold + bucket agg + PAV algebra on the <=16-row relation (windows/interval join bucket-sized)
        "text_dirichlet_ql": 4,  # tf agg checkpointed; dl/cf aggs + score join behind it; query/totals broadcast; TakeOrdered
        "dedup_prefix_filter_pairs": 11,  # shingle/prefix/candidate relations checkpointed; self-join only on the rare-prefix index; 1-row folds broadcast
        "agg_woe_iv": 6,  # bounds fold + bucket agg + totals fold + 10-row window/sort
        "sink_hilbert_layout": 0,  # final plan reads the checkpointed roundtrip (write side range-partitions like zorder)
        "emb_power_iteration_pc1": 2,  # (vec,dim) explode + 64x64 covariance agg (checkpointed); iterations are model-sized broadcast joins
        "text_heaps_law": 3,  # gram explode checkpointed; doc-length + first-seen aggs behind it; thresholds/fit 10-row algebra
        # round 15:
        "text_pii_scan": 2,  # map-only extract_all + one lang census agg + tiny sort
        "text_repetition_flags": 2,  # per-doc array algebra in one projection + lang agg + tiny sort
        "agg_chao1_richness": 4,  # spread + (lang,gram) count agg + lang rollup + tiny sort
        "agg_pr_auc": 7,  # qmodel fit/score chain + distinct-score agg + desc cumulative window + single-row fold
        "text_brier_decomposition": 3,  # fit/score chain behind checkpoints; distinct-score agg + 10-bin census; 10-row algebra
        "sample_pps_systematic": 5,  # spread + two-pass cumsum (bucket window + offsets) + broadcast grid fold + 100-row sort
        "w_cusum_drift": 5,  # (type,hour) agg + mean broadcast + stacked windows on ONE type exchange + rollup
        "text_mattr": 3,  # spread + per-doc comprehension in one projection + lang agg + tiny sort
        "emb_effective_rank": 5,  # spread + (vec,dim) explode checkpointed + covariance agg + single-row fold
        "agg_wilcoxon_signed_rank": 4,  # (type,day) agg + tie agg + per-type midrank window on one type exchange + rollup
        "multimodal_gif_header": 2,  # spread + map-only LE16 parse + one bounded census agg
        "agg_runs_test": 5,  # (type,hour) agg + mean broadcast + lag window on one type exchange + rollup
        "w_record_extremes": 3,  # (type,hour) agg + running rank/prior-max windows on one type exchange + rollup
    }
    for name, budget in budgets.items():
        got = count_exchanges(QUERIES[name](spark, sf_dir))
        assert got <= budget, f"{name}: {got} exchanges > budget {budget}"


def test_streaming_twin_microbatch_shuffle_budgets(spark, sf_dir):
    # VERDICT r13 #3: the 9 headline streaming twins were the one slice
    # with no shuffle budget -- their plans are decided per micro-batch.
    # Run each twin for real with the plan capture installed and budget
    # the WORST captured micro-batch (the final-trigger plan for the
    # state-store and memory-sink twins).  Every fold is one keyed
    # aggregation, so the budget is 1 exchange -- except minhash, whose
    # shingle explode re-spreads before the signature agg (2).
    from kcl_akka_stream_spark.plans.hygiene import summarize_plan_str
    from kcl_akka_stream_spark.queries import streaming_q

    budgets = {
        "stream_tumbling_agg": 1,   # one REQUIRED_BY_STATEFUL_OPERATOR exchange
        "stream_ks_merge": 1,       # (type, half, bin) cell agg
        "stream_entropy_merge": 1,  # (type, hour) cell agg
        "stream_mi_merge": 1,       # (type, hour) cell agg
        "stream_ohlc_merge": 1,     # (type, bar) lattice agg
        "stream_topk_merge": 1,     # per-type rank window
        "stream_session_merge": 1,  # per-user sessionize window
        "stream_minhash_merge": 2,  # shingle spread + per-lang signature agg
        "stream_bloom_merge": 1,    # (type, word) bit_or agg
        "stream_quantile_merge": 1,  # per-type bottom-k hash window
        "stream_hll_merge": 1,       # (type, register) max agg
        "stream_f2_merge": 1,        # one 64-expression per-type agg
    }
    for name, budget in budgets.items():
        streaming_q.PLAN_CAPTURE = {}
        try:
            QUERIES[name](spark, sf_dir)
            plans = [
                p
                for tag, ps in streaming_q.PLAN_CAPTURE.items()
                if tag == name or tag.startswith(name + ":")
                for p in ps
            ]
        finally:
            streaming_q.PLAN_CAPTURE = None
        assert plans, f"{name}: no micro-batch plan captured"
        worst = max(summarize_plan_str(p)["exchanges"] for p in plans)
        assert worst <= budget, (
            f"{name}: worst micro-batch has {worst} exchanges > "
            f"budget {budget}"
        )


def test_explain_audit_covers_headline():
    # VERDICT r8 #3: EXPLAIN.md went stale twice (19 unaudited entries in
    # r8).  Pin SET EQUALITY between the audited names and bench.py's
    # HEADLINE so adding a headline query without regenerating the audit
    # (tools/explain_audit.py) fails CI.
    import os
    import re

    from bench import HEADLINE

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "EXPLAIN.md")
    audited = set()
    for line in open(path):
        # VERDICT r13 #3: every entry must carry REAL exchange counts --
        # the "(streaming -- plan decided per micro-batch)" marker is no
        # longer an accepted audit row (micro-batch plans are captured
        # via streaming_q.PLAN_CAPTURE and audited like batch plans)
        assert "(streaming" not in line, f"unaudited marker row: {line!r}"
        m = re.match(r"^([a-z0-9_]+)\s+exchanges=", line)
        if m:
            audited.add(m.group(1))
    assert audited == set(HEADLINE), (
        f"missing from EXPLAIN.md: {sorted(set(HEADLINE) - audited)}; "
        f"stale in EXPLAIN.md: {sorted(audited - set(HEADLINE))}"
    )


def test_kmv_set_ops_kmin_is_take_ordered(spark, sf_dir):
    # VERDICT r7 #5 / ADVICE r7 (medium): the global k-min selection must
    # plan as TakeOrderedAndProject (per-partition top-k + k-sized merge),
    # never as an unpartitioned Window ranking that funnels every distinct
    # hash of a data-sized set through ONE task before the r<=k filter.
    from kcl_akka_stream_spark.plans.hygiene import physical_plan

    plan = physical_plan(QUERIES["agg_kmv_set_ops"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan, "k-min regressed to a global Window rank"
    assert "Exchange SinglePartition" not in plan


def test_simhash_filter_pushed_to_scan(spark, sf_dir):
    # The zero-token guard must reach the scan as a cheap rlike, not sit
    # above the exchange recomputing the token-hash transform.
    from kcl_akka_stream_spark.plans.hygiene import physical_plan

    plan = physical_plan(QUERIES["dedup_simhash"](spark, sf_dir))
    assert "RLIKE" in plan or "rlike" in plan
    # the md5 transform appears exactly once (in the Project), not twice
    assert plan.count("md5") <= 2  # tree line + detail line of one Project


def test_spread_only_when_underpartitioned(spark):
    few = spark.createDataFrame([(i,) for i in range(100)], "x long").coalesce(1)
    assert spread(few).rdd.getNumPartitions() >= 2
    many = spark.range(1000).repartition(64)
    assert spread(many).rdd.getNumPartitions() == 64


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    # Both sides bucketed (and sorted) by the join key with the same
    # bucket count -> the equi-join plans with ZERO Exchange operators:
    # each task zips bucket i with bucket i.  Broadcast is disabled so
    # the assertion exercises the bucketed sort-merge path, not a
    # broadcast shortcut.
    import uuid as _uuid

    from kcl_akka_stream_spark.plans.hygiene import count_exchanges
    from kcl_akka_stream_spark.queries.registry import tbl
    from kcl_akka_stream_spark.sources.bucketed import drop_table, write_bucketed

    tag = _uuid.uuid4().hex[:8]
    t_a, t_b = f"tb_orders_{tag}", f"tb_cust_{tag}"
    write_bucketed(
        tbl(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        t_a, str(tmp_path / "orders"), "o_custkey",
    )
    write_bucketed(
        tbl(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        t_b, str(tmp_path / "cust"), "c_custkey",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(t_a).join(
            spark.table(t_b), F.col("o_custkey") == F.col("c_custkey")
        )
        assert count_exchanges(joined) == 0, joined._jdf.queryExecution().toString()
        # and the result is actually correct, not just well-planned
        n = joined.count()
        expected = (
            tbl(spark, sf_dir, "orders")
            .join(
                tbl(spark, sf_dir, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .count()
        )
        assert n == expected
        # bucketed layout also serves GROUP BY on the bucket key without
        # a shuffle: the scan's output partitioning satisfies the agg
        agg = spark.table(t_a).groupBy("o_custkey").count()
        assert count_exchanges(agg) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_table(spark, t_a)
        drop_table(spark, t_b)


def test_null_bypass_join_filters_nulls_before_join(spark, sf_dir):
    # The null-keyed rows must flow through the Union branch, never into
    # the join: the join's left input carries an isnotnull filter and the
    # plan has exactly one join under a Union.
    from kcl_akka_stream_spark.plans.hygiene import physical_plan

    plan = physical_plan(QUERIES["j_null_skew_bypass"](spark, sf_dir))
    assert "Union" in plan
    assert "isnotnull(user_id" in plan


def test_ivf_prebuilt_probe_prunes_partitions(spark, sf_dir):
    # The persisted IVF corpus is partitioned by cluster; the probe's
    # broadcast equi-join on that partition column must trigger dynamic
    # partition pruning so only the probed clusters' directories are
    # scanned -- the index's entire point at 100 TB.
    from kcl_akka_stream_spark.plans.hygiene import physical_plan

    plan = physical_plan(QUERIES["sim_topk_ivf_prebuilt"](spark, sf_dir))
    assert "dynamicpruning" in plan, "probe scan lost dynamic partition pruning"


def test_semantic_dedup_scores_pairs_in_arrow_kernel(spark, sf_dir):
    # The within-cluster pair scoring must plan as the Arrow kernel
    # (FlatMapGroupsInPandas), not the interpreted zip_with/aggregate
    # cosine -- the expression form cost a ~16s fresh-JVM C2 compile
    # cliff on first execution (NOTES_r6).  Asserted on the pairs stage
    # directly: the component loop's localCheckpoints truncate it out of
    # the final DataFrame's lineage.
    from kcl_akka_stream_spark.operators.similarity import (
        _semantic_pairs,
        auto_lsh_dims,
        sign_lsh_bucket,
    )
    from kcl_akka_stream_spark.plans.hygiene import physical_plan
    from kcl_akka_stream_spark.queries.registry import tbl

    emb = tbl(spark, sf_dir, "embeddings")
    withc = emb.withColumn(
        "sem_cluster", sign_lsh_bucket(F.col("embedding"), 4).cast("long")
    )
    plan = physical_plan(_semantic_pairs(withc, 0.4, "vec_id", "embedding"))
    assert "FlatMapGroupsInPandas" in plan
    assert "zip_with" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    # At 100 TB a selective dim filter should not force a full fact
    # shuffle: Spark's runtime bloom filter (injected from the filtered
    # creation side into the fact scan) drops non-joining rows BEFORE the
    # exchange.  The fixture is far below the default size thresholds, so
    # the test lowers them -- the assertion is that the engine's plans
    # are bloom-eligible (no structural blocker like a non-deterministic
    # projection above the scan), not about the thresholds themselves.
    from kcl_akka_stream_spark.queries.registry import tbl

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
            "0",
        )
        li = tbl(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
        p = (
            tbl(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#11")
            .select("p_partkey")
        )
        j = li.join(p, li.l_partkey == p.p_partkey).agg(
            F.sum("l_quantity").alias("s")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
        # and the filtered join still answers correctly
        assert j.collect()[0][0] is not None
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_stats_reorder_join(spark, sf_dir):
    # The stats-driven planning layer a 100 TB warehouse runs on: ANALYZE
    # TABLE column statistics + spark.sql.cbo.joinReorder let Catalyst
    # rewrite a user-written (big JOIN big JOIN selective-dim) chain so
    # the selective pair joins FIRST -- without stats the join tree is
    # left-deep in user order and the big intermediate is materialized.
    import re
    import uuid

    from kcl_akka_stream_spark.sources.batch import load_table

    sfx = uuid.uuid4().hex[:8]
    li, od, cu = f"cbo_li_{sfx}", f"cbo_ord_{sfx}", f"cbo_cust_{sfx}"
    try:
        load_table(spark, sf_dir, "lineitem").write.mode("overwrite").saveAsTable(li)
        load_table(spark, sf_dir, "orders").write.mode("overwrite").saveAsTable(od)
        load_table(spark, sf_dir, "customer").write.mode("overwrite").saveAsTable(cu)
        for t in (li, od, cu):
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")
        q = f"""
        SELECT c_mktsegment, count(*) AS n
        FROM {li} JOIN {od} ON l_orderkey = o_orderkey
        JOIN {cu} ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY c_mktsegment
        """
        try:
            spark.conf.set("spark.sql.cbo.enabled", "true")
            spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
            on = re.findall(r"cbo_\w+", spark.sql(q)._jdf.queryExecution().optimizedPlan().toString())
            on_rows = spark.sql(q).collect()
            spark.conf.set("spark.sql.cbo.enabled", "false")
            off = re.findall(r"cbo_\w+", spark.sql(q)._jdf.queryExecution().optimizedPlan().toString())
            off_rows = spark.sql(q).collect()
        finally:
            spark.conf.set("spark.sql.cbo.enabled", "false")
            spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
        # user order is left-deep with lineitem first; CBO must push the
        # data-sized lineitem to the LAST join position
        assert off[0] == li and on[-1] == li, (on, off)
        assert on_rows == off_rows and len(on_rows) == 1
    finally:
        for t in (li, od, cu):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sql_join_hints_control_strategy(spark, sf_dir):
    # The per-query planner-control surface ops teams reach for when a
    # stats-blind default picks wrong: join-strategy hints must actually
    # bind.  MERGE forces sort-merge where the dim would otherwise
    # broadcast; SHUFFLE_HASH forces a shuffled hash join; BROADCAST
    # still broadcasts under them all.
    from kcl_akka_stream_spark.plans.hygiene import count_operator
    from kcl_akka_stream_spark.sources.batch import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("h_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("h_cust")
    base = "SELECT /*+ {hint} */ c_mktsegment, count(*) AS n FROM h_orders JOIN h_cust ON o_custkey = c_custkey GROUP BY 1"
    cases = {
        "MERGE(h_cust)": "SortMergeJoin",
        "SHUFFLE_HASH(h_cust)": "ShuffledHashJoin",
        "BROADCAST(h_cust)": "BroadcastHashJoin",
    }
    for hint, op in cases.items():
        df = spark.sql(base.format(hint=hint))
        assert count_operator(df, op) > 0, (hint, op)


def test_ivf_pq_prebuilt_probe_prunes_partitions_and_stays_codes_only(spark, sf_dir):
    # The persisted PQ-codes relation is partitioned by cluster: the
    # probe's broadcast equi-join on that column must trigger dynamic
    # partition pruning (only the probed inverted lists' directories are
    # read), and the codes scan must NOT read any vector column -- the
    # serving plan touches m small ints per vector plus broadcasts.
    from kcl_akka_stream_spark.plans.hygiene import physical_plan

    df = QUERIES["sim_topk_ivf_pq_prebuilt"](spark, sf_dir)
    plan = physical_plan(df)
    assert "dynamicpruning" in plan, "codes scan lost dynamic partition pruning"
    # the codes parquet scan projects only (vec_id, sub_id, code[, cluster])
    import re

    scans = re.findall(r"ReadSchema: struct<[^>]*>", plan)
    codes_scans = [s for s in scans if "sub_id" in s]
    assert codes_scans and all("embedding" not in s for s in codes_scans)

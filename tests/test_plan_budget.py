"""Shuffle-budget regression gate: headline queries must not grow
extra shuffle exchanges.  Every entry's budget is the CURRENT measured
count — the point is that a future edit can't silently double a
shuffle (the way an innocent-looking .distinct() or mis-placed
repartition would) without this test saying so.

Broadcast exchanges are NOT counted against the budget: turning a
shuffle join into a broadcast join is an improvement.
"""

import re

import pytest

from dbms_spark import queries as Q

#: query -> max shuffle exchanges allowed in the (pre-execution
#: adaptive) physical plan
SHUFFLE_BUDGET = {
    "q01_pricing_summary": 1,      # one partial-aggregated groupBy
    "q05_table_checksum": 2,       # parallelism guard + 1-row agg
    "q04_chunked_checksum": 2,     # guard + per-chunk agg
    "q03_multiset_diff": 4,        # 2 groupBys + full-outer join (2 sides)
    "q39_hashed_diff": 4,          # hashed form: same shape, 32-byte keys
    "q17_regional_revenue": 1,     # star join: all dims broadcast
    "q103_volume_shipping": 1,     # TPC-H Q7: all joins broadcast at test SF
    "q23_exact_dedup": 1,          # one hash groupBy
    "q114_snapshot_diff": 2,       # keyed guard doubles as the join shuffle
    "q124_sequence_packing": 1,    # per-shard window
    "q136_join_size_estimate": 3,  # two pre-aggregations + key join
    "q162_trend_slope": 1,         # one moment-sum groupBy
    "q164_volume_anomaly": 3,      # day rollup + moments + broadcast back
    "q166_zorder_keys": 0,         # pure map-side interleave arithmetic
    # TPC-H completion block (round 4)
    "q193_forecast_revenue": 1,    # TPC-H Q6: single filtered agg
    "q194_product_profit": 1,      # Q9: dims broadcast; orders side also broadcast at test SF
    "q196_important_parts": 2,     # Q11: per-part agg + global scalar agg
    "q198_customer_distribution": 2,  # Q13: per-cust count + distribution
    "q202_large_orders": 1,        # Q18: HAVING slice, parents broadcast at test SF
    "q204_waiting_suppliers": 5,   # Q21: 2 order-key aggs + join + name agg + top-k sort
    "q206_min_cost_supplier": 2,   # Q2: ship-pair distinct + argmin agg
    # duplicate-passage family: window relation aggregated once per
    # role (dup-flag left join folds total+dup counters into ONE
    # per-doc groupBy — the semi-join form costs 2 more)
    # (round 10: ONE window-relation derivation — (wh, doc) pre-agg +
    # distinct-doc window replaces the duplicated-hash join legs)
    "q207_duplicate_passage_stats": 5,
    "q210_incremental_passage_dedup": 5,
    "q209_strip_duplicated_passages": 6,
    # round-5 additions: pure map-side lookups/transforms
    "q215_m2p_datatype_rules": 0,  # broadcast rule join only
    "q216_ingest_utf8": 0,         # codegen-only binary->utf8 canon
    "q217_bloom_registers": 1,     # one partial-aggregated word groupBy
    "q218_bloom_probe": 2,         # build's word agg + per-id verdict agg
    "q219_ingest_gbk": 0,          # map-side Arrow decode only
    # diff (2 groupBys + full-outer) + EXCEPT ALL (2 sides) + the
    # replication arms feeding it + final 1-row checksum agg
    "q220_repair_apply": 7,
    # round-6 additions
    "q221_bloom_sized": 1,         # one word groupBy at non-default (m,k)
    # the capped ranges are a literal relation: the id distinct runs
    # in a collect at construction, the driver coalesces
    "q222_changed_ranges": 0,
    "q223_grouped_ndv": 2,         # (grp,bucket) registers + grp estimate
    "q224_kmv_sketch": 1,          # one dedup shuffle; top-k is TakeOrdered
    "q225_kmv_ndv": 1,             # sketch dedup; estimate agg is 1-row local
    "q226_embedding_decontaminate": 1,  # bench broadcast + per-train-id max agg
    "q227_histogram_sketch": 1,    # one partial-aggregated bin groupBy
    "q228_histogram_quantiles": 4,  # bin agg + cum window + total + per-p window (all <= nbins rows)
    "q229_mix_to_budget": 1,       # per-source running-sum window
    "q230_histogram_by": 1,        # one (group, bin) partial agg, no spine
    "q231_histogram_quantiles_by": 2,  # bin agg + grouped cum/total windows
    "q232_kmv_by": 2,              # (group,hash) dedup + per-group top-k window
    "q233_sketch_ledger": 0,       # returned plan reads the committed snapshot
    "q234_approx_numeric_profile": 2,  # one (col,bin) agg + grouped windows, all columns one pass
    "q235_split_assign": 0,        # pure map-side hash-threshold assignment
    "q236_corpus_frequency_score": 2,  # model token agg + per-doc score agg (model broadcast)
    "q237_tar_shard_accounting": 1,  # one groupBy(shard_id) into applyInPandas
    "q238_weighted_histogram": 1,  # one (group, bin) SUM(weight) partial agg
    "q239_c4_line_filter": 0,      # pure map-side array expressions
    # iterative queries: cached relations re-print their child plans in
    # toString, so these counts OVERSTATE runtime shuffles (InMemory
    # reuse collapses them) — still pinned, as a canary against a round
    # gaining a genuine extra exchange
    "q159_kmeans_assign": 11,      # 3 assigns + 2 explode-free updates
    "q165_pagerank": 62,           # 3 rounds over cached fused edges
    # round-6 continuation additions
    "q240_source_overlap_matrix": 4,   # checkpointed sketch leaf: pair-union agg + window + final agg
    "q241_simhash_hamming_pairs": 3,   # band self-join + distinct (signatures map-side)
    "q243_categorical_concentration": 2,  # (col,value) partial agg + per-col fold
    "q244_mad_outlier_profile": 3,     # median agg + MAD agg + fence agg (medians broadcast back)
    "q246_dhash_values": 0,            # pure map-side codegen over binary
    "q247_dhash_near_dup_pairs": 1,    # band self-join (dHash map-side)
    # persisted-relation queries: InMemoryRelation subtrees re-print
    # their child plans, overstating runtime shuffles — pinned as
    # canaries like q159/q165
    # (round 10: the in-plan derived fp_cap adds a 1-row count agg —
    # PERSISTED so it executes once; its subtree re-prints per leg,
    # same print-overstated canary as the persisted fingerprints)
    "q242_containment_pairs": 9,
    "q245_drop_contained": 33,
    "q248_dedup_keep_best": 32,
    "q249_strip_html": 0,              # pure codegen regexp chain
    "q250_normalize_text": 0,          # map-side Arrow NFC hop, no shuffle
    "q251_grouped_mad_profile": 3,     # three grouped agg passes (medians broadcast back)
    "q252_adaptive_length_filter": 4,  # hist bin agg + <=nbins quantile windows + 1-row bounds
    "q253_grouped_concentration": 2,   # (col,group,value) partial agg + per-(col,group) fold
    "q254_grouped_length_band": 2,     # grouped bin agg + per-group quantile windows (bounds broadcast back)
    # round-7 additions
    "q255_inverted_index_capped": 2,   # df-count agg + segment window (head drop is a broadcast anti-join)
    "q256_disjunctive_query": 1,       # pushed-down IN + one per-doc agg
    "q257_phrase_query": 3,            # (id, anchor) agg with distinct-idx expand + final id distinct
    "q258_hamming_between": 1,         # one band equi-join on checkpointed 3-int signatures
    # candidate fp join + distinct + two candidate semi-joins + two
    # shingle verify joins (the persisted legs expand in the printed
    # pre-execution tree, as in q245)
    # (round 10: the derived fp_cap's occupancy union + anti-joins +
    # persisted 1-row cap agg re-print the persisted fingerprint legs)
    "q259_containment_between": 45,
    # two hist partial-aggs + two per-key quantile windows + fence agg
    # (persisted pair leg expands in the printed tree)
    "q260_sketch_mad_profile": 8,
    "q261_dhash_pgm_decode": 0,        # PGM decode is pure map-side codegen
    "q262_dhash_pgm_near_dup": 1,      # one band equi-join, as q241/q247
    # 1-row stats agg + checkpointed tf leg joined to the map-side dl
    # relation + final per-doc agg; doc length never explodes
    "q263_bm25_rank": 3,
    # survivor relations are eagerly checkpointed (user-bounded,
    # shrinking), so the printed plan is the count-union tail
    "q264_funnel": 4,
    "q265_retention_cohorts": 3,       # first-touch agg + distinct + keyed join
    "q266_top_event_paths": 2,         # per-user lead window + path agg
    # checkpointed sketch leaf; candidate hkey self-join + union agg +
    # per-pair window fold into two exchanges under AQE broadcasts
    "q267_sparse_overlap_pairs": 4,
    "q268_rolling_window": 1,          # one (user, ts) sort-shuffle, range frame
    # checkpointed capped-token leaf; one doc-id pair equi-join + pair agg
    "q269_token_cooccurrence": 3,
    "q270_weekly_type_pivot": 1,       # explicit-value pivot = one partial agg
    # in-flight index build + query: postings agg, checkpointed tf leg,
    # doclens join, per-doc agg (persisted-ledger runs prune to terms)
    "q271_bm25_indexed": 3,
    # unified bucketed path (round 9): vote agg + range bucketing +
    # bkt window live INSIDE a lazy localCheckpoint (pinned so probe
    # and carry legs share one materialization) — the printed plan
    # shows only the post-checkpoint join + final stages
    "q272_sequence_gaps": 2,
    "q273_rolling_anomaly": 1,         # one (user, ts) sort-shuffle, as q268
    # checkpointed survivor chain; printed plan is the final lag join
    "q274_funnel_lag": 2,
    # grouped islands: distinct + two anti-joins + per-group pairing
    "q275_grouped_sequence_gaps": 2,  # as q272 (checkpointed bucket leaf)
    "q276_funnel_window": 4,           # checkpointed survivor chain, as q264
    # pre-aggregate-then-Expand (round 10, guide §2.3): the base
    # (rf, ls) partial-agg shuffle collapses lineitem to ~|groups|
    # rows BEFORE Expand replicates ×4, at the price of a second
    # exchange that carries only those grouped rows
    "q277_cube": 2,
    "q278_asof_forward": 1,            # union + one (user, ts) sort-shuffle
    # (user, day) dedup + per-key run window + delta agg + spine
    # join + day-spine prefix (round-9 interval sweep; spine is a
    # driver-bounded spark.range)
    "q279_rolling_active": 4,
    "q280_stickiness": 8,              # two q279 legs + day join
    # round-8 additions
    # ledger + batch active_days legs, day-probed merge (semi/anti),
    # clip, expansion distinct count — the printed tree re-expands the
    # shared events scan per leg (ReusedExchange collapses at runtime)
    "q281_rolling_active_incremental": 7,
    # first-touch semi/anti split + re-min + week-probed activity
    # merge + triangle join/agg (broadcast legs don't count)
    "q282_retention_incremental": 10,
    "q283_rolling_window_prefix": 2,   # cumulative sort + probe-merge sort
    "q284_rolling_anomaly_prefix": 2,  # same two per-key sorts (tie agg rides the first)
    # returned plan reads the committed snapshot + WAU expansion
    "q285_streaming_wau": 3,
    "q286_streaming_funnel": 1,        # count-from-state agg (folds are committed parquet)
    # (day, bucket) register agg + offset-expanded register merge +
    # per-day estimate (count_distinct-free: registers, not keys)
    "q287_rolling_active_hll": 4,
    "q288_attribution": 1,             # ONE (user, ts) sort; no join
    "q289_heartbeat_gaps": 1,          # one (user, ts) sort + lag
    "q290_multi_touch_attribution": 1,  # one key equi-join (AQE broadcast) + pair windows ride it
    "q291_funnel_conversion": 4,       # checkpointed funnel chain + tiny-step window
    # checkpointed survivor chain carrying the cohort period; printed
    # plan is the per-period count-union tail
    "q292_funnel_trend": 3,
    # sessionize windows + per-session agg ride ONE (user, ts) sort
    "q293_session_stats": 1,
    "q294_session_paths": 2,           # session windows + path count agg
    "q295_bounce_rate": 2,             # session windows sort + per-day agg
    # triangle legs re-print for the offset-0 self-join (runtime reuses)
    "q296_retention_curve": 6,
    # three out-of-order touched-split merges re-print the shared
    # events scan per leg (ReusedExchange collapses at runtime)
    "q297_offline_keys": 16,
    # tf agg + df agg + doc-len agg + token join + per-doc top-k
    # window (tf leg re-prints per consumer; runtime reuses)
    "q298_top_terms": 7,
    # ONE moment-sum pass; the per-pair arithmetic reads the
    # checkpointed 1-row relation (no exchange at all)
    "q299_corr_screen": 0,
    "q300_benford_screen": 3,          # <=9-key digit agg + 1-row total + spine join
    # incremental index: build/append are ONE map-side select each,
    # preceded by the encode parallelism guard's repartition (round
    # 10: the heavy cell-assign/PQ-code expressions measured on 2 of
    # 32 cores off a small scan; the guard no-ops once the scan is
    # already parallel, so these two exchanges exist only on small
    # inputs) + probe = cell join + per-query top-k window
    "q301_ivf_index_incremental": 4,
    "q302_ivf_pq_index_incremental": 4,
    # returned plans read the committed store snapshots
    "q303_streaming_attribution": 0,
    "q304_streaming_sessions": 1,      # per-key session_id rank window
    # activity dedup + per-key count + <=28-row hist + spine join
    "q305_activity_curve": 4,
    # reads committed day buckets + the q279 sweep stages
    "q307_streaming_wau_day_ledger": 3,
    "q308_streaming_sessions_day_ledger": 1,  # rank over committed buckets
    # cohort agg + key join + (cohort,age,key) pass + per-cohort cum
    "q306_cohort_value": 4,
    # persisted store: probe = cell join over pruned segment scans +
    # per-query top-k window (appends/retrains already committed)
    "q309_ann_store_lifecycle": 1,
    "q310_ann_store_retrain_swap": 1,
    "q311_streaming_attribution_day_ledger": 0,  # reads ONE bucket
    # candidate window on q_id; the re-rank join broadcasts at test SF
    # and PRESERVES the q_id partitioning, so the final top-k window
    # reuses the same exchange
    "q312_pca_pruned_topk": 1,
    # projected store serving read: pruned segment scans + one
    # per-query top-k window (projection is map-side)
    "q313_projected_ann_store": 1,
    # canon key groupBy; count_distinct(url) makes it two-phase
    "q314_url_canonical_dedup": 2,
    # bigram model agg + unigram model agg (persisted, re-prints for
    # the vocab leg) + 1-row vocab agg + per-doc fold
    "q315_bigram_fluency": 5,
}

_SHUFFLE_RE = re.compile(
    r"\bExchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)")


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
def test_shuffle_budget(spark, sf_dir, name):
    # cached relations from earlier tests change how plans PRINT
    # (InMemoryRelation subtree expansion) — measure from a cold cache
    # so the pinned counts are deterministic across suite orderings
    spark.catalog.clearCache()
    plan = Q.queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    n = len(_SHUFFLE_RE.findall(plan))
    assert n <= SHUFFLE_BUDGET[name], (
        f"{name}: {n} shuffle exchanges, budget {SHUFFLE_BUDGET[name]} — "
        f"a plan regression added a shuffle:\n{plan[:2000]}")

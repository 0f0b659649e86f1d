"""Plan-shape regression tests: the scale properties each operator
claims must be visible in the physical plan (SURVEY.md §4 — Catalyst
gives these for free ONLY if the query is expressed so it can).

These assert on the initial (pre-AQE) plan text, which is stable for
the properties checked: scan pushdown/pruning, exchange counts,
broadcast joins, TakeOrderedAndProject. An operator that returns
checkpointed rows is checked on the plan of the read-back it ran
(:func:`read_back_plan`).
"""

from __future__ import annotations

import re

from conftest import SF0001

from mcp_rag_server_spark.plans.inspect import (
    broadcast_join_count,
    count_exchanges,
    has_take_ordered,
    plan_string,
    pushed_filters,
    read_plans,
    read_schema,
)
from mcp_rag_server_spark.registry import load_all

SF = "/root/testdata/sf0.001"

#: operator → checkpoint expected visible in the FINAL plan. The
#: dd_method_agreement final statement reads its checkpointed relations, so
#: ExistingRDD shows there too; rag_mmr_batch's checkpoint sits below
#: the rerank cogroup (also final-plan-visible).
CKPT_QUERIES = (
    "ev_ivm_delta_rollup",
    "rag_mmr_batch",
    "dd_method_agreement",
    "tpch_q21_waiting_orders",
    # the BPE pair reads the checkpointed s0 corpus stage — pinned so
    # a regression re-inlining the 18-scan chain is caught here, not
    # only in the bench.
    "ta_bpe_train",
    "ta_bpe_apply",
)


def q(spark, name):
    return load_all()[name].spark_fn(spark, SF)


def read_back_plan(spark, name) -> str:
    """The plan of the one read that building operator ``name`` ran: for
    an operator that returns a checkpoint of the files it wrote, the
    read-back."""
    reads = read_plans(spark, lambda: q(spark, name))
    assert len(reads) == 1, reads
    return reads[0]


def test_rag_topk_is_shuffle_free_heap_topk(spark):
    """The flagship query must be scan → cosine → TakeOrderedAndProject:
    zero shuffles, k rows to the driver (SURVEY.md §3.1)."""
    df = q(spark, "rag_topk")
    assert has_take_ordered(df)
    assert count_exchanges(df) == 0


def test_rag_topk_prunes_columns(spark):
    """Scoring needs (vec_id, label, embedding) — a scan reading more
    would drag the whole table through the 100 TB scan."""
    rs = read_schema(q(spark, "rag_topk"), "embeddings.parquet")
    assert "embedding" in rs and "text" not in rs


def test_tpch_q6_filters_reach_parquet(spark):
    pf = pushed_filters(q(spark, "tpch_q6"), "lineitem.parquet")
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf


def test_tpch_q6_single_pass(spark):
    # scan → partial agg → single-row exchange → final agg
    assert count_exchanges(q(spark, "tpch_q6")) <= 1


def test_tpch_q3_broadcasts_dims(spark):
    """No hints on orders/customer (SF-linear): the broadcasts here must
    be *threshold-chosen* (sizes at fixture scale are far under
    autoBroadcastJoinThreshold), so at 100 TB the same code degrades to a
    shuffle hash join instead of OOMing the executors."""
    df = q(spark, "tpch_q3")
    assert broadcast_join_count(df) >= 1
    assert has_take_ordered(df)


def test_tpch_q5_one_fact_shuffle(spark):
    """Five joins; at fixture scale every non-fact side is under the
    broadcast threshold (only nation/region are hint-forced), so the only
    exchanges are the final aggregation + sort of |nations| rows."""
    df = q(spark, "tpch_q5")
    assert broadcast_join_count(df) == 5
    assert count_exchanges(df) <= 2


def test_q3_q5_aqe_picks_broadcast_at_runtime(spark):
    """With fact-side hints removed (r2), the broadcasts for the filtered
    orders/customer sides must be chosen by AQE at runtime (their actual
    sizes are far under autoBroadcastJoinThreshold at fixture scale). If
    this fails, the session conf is mis-set and q3/q5 pay a needless
    exchange — the r2 bench regression would be real, not jitter."""
    for name in ("tpch_q3", "tpch_q5"):
        df = q(spark, name)
        df.collect()  # finalize the adaptive plan
        final = plan_string(df, mode="simple")
        assert "BroadcastHashJoin" in final, (name, final)
        assert "isFinalPlan=true" in final, name


def test_q7_q8_broadcast_all_dims(spark):
    """Threshold-chosen broadcasts (hints only on nation): still all-
    broadcast at fixture scale."""
    assert broadcast_join_count(q(spark, "tpch_q7_volume_shipping")) >= 4
    assert broadcast_join_count(q(spark, "tpch_q8_market_share")) >= 4


def test_sim_ann_topk_broadcasts_queries(spark):
    """Q queries x N corpus: the Q side must broadcast so the corpus is
    scanned once with no shuffle of the big side before the window."""
    plan = plan_string(q(spark, "sim_ann_topk"))
    assert "BroadcastNestedLoopJoin" in plan


def test_chunking_is_narrow(spark):
    """Chunk explosion must not shuffle — it's a per-split transform."""
    assert count_exchanges(q(spark, "chunk_split")) == 0


def test_embed_stage_is_narrow_arrow(spark):
    """Embedding = scan → Arrow-batched Python eval → explode; a shuffle
    here would move the whole corpus. ZERO exchanges: the r8 trailing
    presentation orderBy was removed in r9 — its range-partitioner
    sampling re-ran the UDF and its global exchange was the bench
    set's one negative scaler (driver comparison is order-insensitive;
    no limit ⇒ no ordering obligation)."""
    df = q(spark, "emb_hash_embed")
    plan = plan_string(df)
    assert "ArrowEvalPython" in plan
    assert count_exchanges(df) == 0


def test_top_parts_preaggregates_before_join(spark):
    """Fact is aggregated to |parts| rows before the dim join: the join
    inputs must be the agg output, not raw lineitem (plan shows the
    HashAggregate below the broadcast join)."""
    plan = plan_string(q(spark, "top_parts_by_revenue"))
    join_pos = plan.index("BroadcastHashJoin")
    agg_pos = plan.index("HashAggregate")
    assert agg_pos > join_pos  # formatted tree lists children after parent


def test_chunks_table_id_window_is_per_file(spark):
    """Id assignment must window over one row per *document* (the
    per-file offset table from functions/ids.py), never the full chunk
    set: in the plan tree the Window's subtree must contain the per-doc
    count aggregate BEFORE any chunk explosion (Generate). The r2 shape
    — Window directly over the exploded chunks, a single-reducer global
    sort — had no aggregate there."""
    from mcp_rag_server_spark.plans.inspect import tree_section

    plan = tree_section(q(spark, "chunks_table"))
    assert "Window" in plan
    after_window = plan[plan.index("Window") :]
    assert "Generate" in after_window
    assert "HashAggregate" in after_window[: after_window.index("Generate")]


def test_minhash_signature_single_shuffle(spark):
    """Signature = one shuffle (doc_id window + reused-partitioning agg)."""
    from mcp_rag_server_spark.catalog import load_table
    from mcp_rag_server_spark.operators.dedup import _spark_minhash_signature

    sig = _spark_minhash_signature(load_table(spark, SF, "documents"))
    assert count_exchanges(sig) == 1


def test_tpch2_q2_q21_heap_topk(spark):
    """Both LIMIT queries must plan TakeOrderedAndProject (heap top-k),
    never a global sort."""
    assert has_take_ordered(q(spark, "tpch_q2_min_cost_supplier"))
    assert has_take_ordered(q(spark, "tpch_q21_waiting_orders"))


def test_tpch2_q9_broadcasts_all_dims(spark):
    """part/supplier/nation broadcast at fixture scale (threshold-chosen
    for part/supplier, hinted for nation) — the only shuffle-eligible
    join is lineitem⋈orders (two facts)."""
    assert broadcast_join_count(q(spark, "tpch_q9_product_profit")) >= 3


def test_tpch2_q11_scalar_subquery_is_broadcast(spark):
    """The global-total scalar must arrive via a 1-row broadcast, not a
    shuffle of the per-part aggregate."""
    plan = plan_string(q(spark, "tpch_q11_important_stock"))
    assert "BroadcastNestedLoopJoin" in plan


def test_tpch2_q22_anti_join_shape(spark):
    """NOT EXISTS must plan as a real anti join (semi-join family), not
    a filtered outer join."""
    plan = plan_string(q(spark, "tpch_q22_global_sales_opportunity"))
    assert "LeftAnti" in plan


def test_text_quality_ops_stay_jvm_side(spark):
    """Repetition stats and the deterministic sampler are pure SQL
    expressions — no Python/Arrow eval may appear in the hot path."""
    for name in ("ta_repetition_stats", "ta_stratified_sample"):
        plan = plan_string(q(spark, name))
        assert "EvalPython" not in plan, name


def test_stratified_sample_single_agg_pass(spark):
    """Sampler = scan → project(hash bucket) → partial agg → exchange →
    final agg → order: at most 2 exchanges, no joins."""
    df = q(spark, "ta_stratified_sample")
    assert count_exchanges(df) <= 2
    assert "Join" not in plan_string(df)


def test_sim_l2_topk_shuffle_free(spark):
    """L2 top-k shares rag_topk's plan template: heap top-k, no shuffle."""
    df = q(spark, "sim_l2_topk")
    assert has_take_ordered(df)
    assert count_exchanges(df) == 0


def test_cohort_sizes_join_broadcasts(spark):
    """The cohort-size side (|cohorts| rows) must broadcast."""
    assert broadcast_join_count(q(spark, "ev_cohort_retention")) >= 1


def test_audio_windows_narrow_arrow(spark):
    """Audio feature extraction = scan → Arrow-batched Python eval; the
    only exchange allowed is the presentation orderBy."""
    df = q(spark, "mm_audio_windows")
    plan = plan_string(df)
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert count_exchanges(df) <= 1


def test_decontaminate_eval_side_broadcasts(spark):
    """The eval-split shingle set (tiny vs the corpus) must broadcast —
    shuffling the training shingles against a shuffled eval side would
    move the whole corpus once more."""
    assert broadcast_join_count(q(spark, "ta_decontaminate")) >= 1


def test_tfidf_count_folded_into_dag(spark):
    """N must arrive as a 1-row broadcast scalar aggregate inside the
    plan (no separate count() action); the scalar branch's scan reads
    only doc_id."""
    df = q(spark, "ta_tfidf_top")
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_pack_sequences_window_is_per_source(spark):
    """The packing cumsum windows by source — the plan's Window sort
    must sit on a hash-partitioned exchange (partitioning=[source...]),
    never a SinglePartition global sort (the chunks_table r2 lesson)."""
    plan = plan_string(q(spark, "ta_pack_sequences"))
    assert "Window" in plan
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_pii_scrub_stays_jvm_side(spark):
    """Regex detect/redact is pure codegen string work: no Python
    evaluation nodes anywhere, and no shuffle before the (tiny filtered)
    output sort."""
    df = q(spark, "ta_pii_scrub")
    plan = plan_string(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas",
                 "MapInPandas"):
        assert node not in plan
    # one exchange total: the rangepartitioning for the output orderBy
    assert count_exchanges(df) <= 1


def test_mmr_batch_shares_one_scan_and_partitions_by_qid(spark):
    """The batched MMR plan must broadcast the query batch over a single
    corpus scan, rank candidates with a qid-partitioned window (never
    SinglePartition), and re-rank in a cogrouped pandas stage."""
    plan = plan_string(q(spark, "rag_mmr_batch"))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "hashpartitioning(qid" in plan
    assert "SinglePartition" not in plan


def test_unigram_logprob_broadcasts_vocab(spark):
    """The token-frequency table joins back to the exploded tokens as a
    broadcast (vocab is tiny relative to the corpus); the document side
    must never shuffle for that join."""
    df = q(spark, "ta_unigram_logprob")
    assert broadcast_join_count(df) >= 2  # tf join + 1-row total
    plan = plan_string(df)
    assert "SortMergeJoin" not in plan


def test_cdc_windows_single_keyed_shuffle(spark):
    """SCD-1 and SCD-2 are one user_id-keyed window each: exactly one
    hash exchange on user_id, never SinglePartition."""
    for name in ("ev_latest_state", "ev_scd2_intervals"):
        plan = plan_string(q(spark, name))
        assert "hashpartitioning(user_id" in plan, name
        assert "SinglePartition" not in plan, name


def test_matryoshka_scoring_is_narrow(spark):
    """All four prefix scores are codegen'd HOF folds — no Python stage
    anywhere — and each width's ranking window partitions by n_dims
    (bounded groups), never collapsing the scored rows to one
    partition."""
    df = q(spark, "sim_matryoshka_topk")
    plan = plan_string(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert "hashpartitioning(n_dims" in plan


def test_pq_adc_broadcasts_codebook_no_python(spark):
    """PQ assignment joins the N×M subvectors against the 80-codeword
    table as a broadcast (codebooks are broadcast-sized at any corpus
    scale), the qdot lookup is a broadcast, and no stage leaves the
    JVM."""
    df = q(spark, "sim_pq_adc_topk")
    plan = plan_string(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert broadcast_join_count(df) >= 3  # codebook, qdot, query vec
    assert has_take_ordered(df)  # final top-k is a heap, not a sort


def test_kmeans_broadcasts_centroids(spark):
    """Each Lloyd assignment must join the corpus against BROADCAST
    centroids (k×dims is broadcast-sized at any corpus scale) — a
    shuffled assignment join would move the corpus twice per
    iteration."""
    df = q(spark, "sim_kmeans_refine")
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan  # crossJoin of centroid table
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_full_outer_preaggregates_both_sides(spark):
    """The reconciliation join's inputs must be the per-day aggregates
    (|days| rows), never raw facts: both HashAggregates sit below the
    SortMergeJoin FullOuter in the tree."""
    from mcp_rag_server_spark.plans.inspect import tree_section

    plan = tree_section(q(spark, "full_outer_order_ship_days"))
    assert "FullOuter" in plan
    join_pos = plan.index("FullOuter")
    assert plan[join_pos:].count("HashAggregate") >= 2


def test_map_hofs_stay_jvm_side(spark):
    """ev_user_type_count_map's map construct/combine/filter stages must
    be JVM column math — map_from_entries/map_zip_with/map_filter in the
    plan, exactly the two aggregation exchanges ((user,type) partial then
    per-user map build), and no Python evaluation node."""
    df = q(spark, "ev_user_type_count_map")
    plan = plan_string(df, "extended")
    for hof in ("map_from_entries", "map_zip_with", "map_filter"):
        assert hof in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan_string(df)


def test_unpivot_expands_after_aggregation(spark):
    """unpivot_lineitem_metrics must aggregate first and melt after:
    the Expand node (the unpivot) sits ABOVE the HashAggregates in the
    tree, so the 3x row multiplication applies to |flags| rows, never
    to the fact table; exactly one keyed exchange."""
    from mcp_rag_server_spark.plans.inspect import tree_section

    df = q(spark, "unpivot_lineitem_metrics")
    plan = tree_section(df)
    assert "Expand" in plan
    assert plan.index("Expand") < plan.index("HashAggregate")
    assert count_exchanges(df) <= 2  # agg exchange + final sort


def test_read_guard_is_codegen_only(spark):
    """fileops_read_guard's segment-fold guard must be JVM column math:
    the aggregate HOF in the plan, no Python node, and the only joins
    are the catalog lookup."""
    df = q(spark, "fileops_read_guard")
    plan = plan_string(df, "extended")
    assert "aggregate(" in plan  # the HOF fold
    phys = plan_string(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in phys


def test_variant_stats_single_shuffle(spark):
    """ev_props_variant_stats: parse + extraction are narrow column
    expressions; the whole query is scan -> project -> one partial agg
    exchange -> sort. No Python, no second shuffle."""
    df = q(spark, "ev_props_variant_stats")
    phys = plan_string(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in phys
    assert count_exchanges(df) <= 2  # agg exchange + final orderBy


def test_incremental_minhash_is_equi_bucket_probe(spark):
    """dd_incremental_minhash's band join must be a hash equi-join on
    (band_idx, band_key) — the LSH bucket probe — never a nested-loop
    over an OR of band equalities, and no Python node anywhere."""
    df = q(spark, "dd_incremental_minhash")
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert "band_key" in plan  # the bucket key reaches the join


def test_partitioned_scan_prunes_directories(spark):
    """ingest_partitioned_scan's read-back filter is on the PARTITION
    column, so it must be satisfied by directory pruning (PartitionFilters
    on the scan), and the pruned scan's input files must come only from
    the kept partition values — at 100 TB this is 2/5 of the scan cost,
    decided before any row is read."""
    plan = read_back_plan(spark, "ingest_partitioned_scan")
    # the one scan is of the temp layout; its partition filter names
    # exactly the kept values (inputFiles() can't check this: it lists
    # the FileIndex BEFORE pruning)
    locations = re.findall(r"^Location: .*", plan, re.M)
    assert len(locations) == 1 and "ingest_pt" in locations[0], locations
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "IN (click,purchase)" in m.group(1), m.group(1)
    # row-group/data filters must NOT carry event_type — pruning, not
    # filtering, satisfies the predicate
    pf = re.findall(r"^PushedFilters: .*", plan, re.M)
    assert "event_type" not in "".join(pf), pf


def test_bucketed_join_has_no_join_side_exchange(spark):
    """ingest_bucketed_join: both sides carry bucketBy(orderkey) +
    sortBy, so the SortMergeJoin must consume the layout directly — the
    ONLY exchange in the plan is the post-join aggregation. An Exchange
    sneaking in above either scan means the write-time shuffle isn't
    being reused. (Each side still sorts its buckets: Spark does not
    take the bucket files' order as the scan's output ordering.)"""
    plan = read_back_plan(spark, "ingest_bucketed_join")
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" in tree
    # the formatted tree lists children BELOW the join line: nothing
    # between the join and its scans may redistribute
    below_join = tree[tree.index("SortMergeJoin"):]
    assert "Exchange" not in below_join, below_join
    assert "Bucketed: true" in plan, "scans not bucketed"


def test_bm25_single_corpus_shuffle_heap_topk(spark):
    """rag_bm25_topk: the tf aggregation is the only corpus-wide
    shuffle; everything downstream runs on the broadcast-filtered
    sliver and the result is a heap top-k, not a global sort."""
    df = q(spark, "rag_bm25_topk")
    assert has_take_ordered(df)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_substring_runs_no_allpairs(spark):
    """dd_substring_runs: duplicate detection is a count>=2 aggregation
    keyed by shingle hash — a self-join of positioned shingles would be
    quadratic in the corpus."""
    df = q(spark, "dd_substring_runs")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert has_take_ordered(df)


def test_phash_decode_is_arrow_batched(spark):
    """mm_phash_neardup: the hash runs in the Arrow-batched Python
    decode stage; the LSH join must be an equi-join on (band, value),
    never a nested-loop over hash pairs."""
    df = q(spark, "mm_phash_neardup")
    plan = plan_string(df)
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_correct_blocked_join(spark):
    """ta_fuzzy_correct: candidates come from the deletion-key equi-join
    (SymSpell blocking); Levenshtein runs as a post-join filter, never
    as a join condition that forces a nested loop."""
    plan = plan_string(q(spark, "ta_fuzzy_correct"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gap_fill_single_user_keyed_shuffle_family(spark):
    """ev_gap_fill: timeline explode is narrow; the hourly agg, span
    agg, left join, and ffill window all key by user_id — no global
    window, no cartesian."""
    plan = plan_string(q(spark, "ev_gap_fill"))
    assert "CartesianProduct" not in plan
    # the ffill window partitions by user_id (a global window would
    # print an empty partition spec); column ids like user_id#12L are
    # stripped before matching
    import re

    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(user_id" in stripped, stripped[:2000]


# --- round-5 third-sitting additions ---


def test_pagerank_loop_invariants_are_checkpointed(spark):
    """ev_pagerank_types: the edge/node tables are localCheckpoint'd
    loop invariants — iteration i must scan the materialized result
    (plan shows Scan ExistingRDD), never replay the lead-window edge
    derivation per iteration; the per-iteration gather is a keyed
    aggregation, no cartesian anywhere."""
    plan = plan_string(q(spark, "ev_pagerank_types"))
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    # the window chain appears at most once (checkpoint truncation):
    assert plan.count("windowspecdefinition") <= 1


def test_bloom_prefilter_broadcasts_bitmap(spark):
    """join_bloom_prefilter: the bitmap (distinct positions) and the
    build keys ride the broadcast lane; the probe side never shuffles
    for membership."""
    df = q(spark, "join_bloom_prefilter")
    assert broadcast_join_count(df) >= 3
    assert "CartesianProduct" not in plan_string(df)


def test_histogram_edges_are_broadcast_single_pass(spark):
    """agg_histogram_equiwidth: min/max is a 1-row broadcast aggregate;
    the bucket group-by is the only other exchange family (no sort of
    the raw table)."""
    df = q(spark, "agg_histogram_equiwidth")
    assert broadcast_join_count(df) >= 1
    assert count_exchanges(df) <= 3


def test_semdedup_pair_join_is_cluster_keyed(spark):
    """dd_semdedup: the quadratic cosine stage must be an equi-join on
    cluster (SortMergeJoin/ShuffledHashJoin on the blocking key) —
    the only nested-loop joins allowed are the broadcast-centroid
    cross joins inside the kmeans assignment (IdentityBroadcastMode,
    k x dims build side, same as sim_kmeans_refine)."""
    import re

    plan = plan_string(q(spark, "dd_semdedup"))
    assert "CartesianProduct" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    # the pair join is the only Inner SMJ in the plan; its presence
    # (vs a nested loop carrying the cosine predicate) is the pin, and
    # every nested-loop join is a centroid broadcast (the tree shows
    # exactly one BNLJ per kmeans assignment, each over the k-row
    # centroid build side — plan_lint would flag a CartesianProduct)
    assert "SortMergeJoin Inner" in stripped, "pair join lost its equi-key"


def test_ewma_single_keyed_window(spark):
    """ev_ewma_value: one per-type window carries all 8 lag terms —
    a per-lag window would shuffle 8 times."""
    df = q(spark, "ev_ewma_value")
    plan = plan_string(df)
    import re

    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(event_type" in stripped
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_zorder_is_integer_codegen_no_shuffle_before_agg(spark):
    """zorder_layout: bucket + interleave are pure projection over the
    scan (wholestage codegen); the z_part aggregation and the 1-row
    extent aggregate are the only exchanges."""
    df = q(spark, "zorder_layout")
    assert count_exchanges(df) <= 3
    assert "EvalPython" not in plan_string(df)


def test_containment_blocked_like_jaccard(spark):
    """dd_containment: ordered pairs come from the same-source equi
    self-join — the asymmetric score must not force a nested loop."""
    plan = plan_string(q(spark, "dd_containment"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_abtest_single_user_shuffle(spark):
    """ev_abtest_ztest: the user-keyed conversion aggregate is the only
    corpus-wide shuffle; arms/stat stages aggregate 2-row inputs."""
    df = q(spark, "ev_abtest_ztest")
    assert count_exchanges(df) <= 3
    assert "EvalPython" not in plan_string(df)


def test_distribution_pack_single_priority_window(spark):
    """window_distribution_pack: percent_rank/cume_dist/ntile share ONE
    priority-keyed window (one shuffle), and the %100 sample is a
    post-window filter."""
    df = q(spark, "window_distribution_pack")
    plan = plan_string(df)
    import re

    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(o_orderpriority" in stripped
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_pearson_moments_partial_aggregate(spark):
    """agg_pearson_corr: five decimal moment sums partial-aggregate
    map-side into one returnflag-keyed shuffle; no second pass over
    the table (a centered two-pass formulation would scan twice)."""
    import re

    df = q(spark, "agg_pearson_corr")
    assert count_exchanges(df) <= 2
    plan = plan_string(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_maxsim_is_broadcast_heap_topk(spark):
    """sim_maxsim_topk: query sub-vectors broadcast, nested-fold score
    in codegen, heap top-k — no shuffle of the corpus, no Python."""
    df = q(spark, "sim_maxsim_topk")
    assert has_take_ordered(df)
    plan = plan_string(df)
    assert "EvalPython" not in plan
    assert count_exchanges(df) == 0


def test_binary_hamming_is_integer_only_heap_topk(spark):
    """sim_binary_hamming_topk: packed-code scan scored by xor/popcount
    (integer-only), broadcast query code, heap top-k, zero shuffles."""
    df = q(spark, "sim_binary_hamming_topk")
    assert has_take_ordered(df)
    assert count_exchanges(df) == 0
    assert "EvalPython" not in plan_string(df)


def test_cusum_single_type_keyed_shuffle(spark):
    """ev_cusum_drift: the hourly agg and every window key by
    event_type — one shuffle family, no global window."""
    import re

    df = q(spark, "ev_cusum_drift")
    plan = plan_string(df)
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(event_type" in stripped
    assert "CartesianProduct" not in plan


def test_set_all_keeps_multiplicity_without_sort(spark):
    """set_all_multiplicity: exceptAll/intersectAll plan as keyed count
    aggregation + multiplicity replay (Generate), never a sort-based
    dedup of either input and never a nested loop."""
    plan = plan_string(q(spark, "set_all_multiplicity"))
    assert "CartesianProduct" not in plan
    assert "replicaterows(" in plan


def test_value_frames_two_linear_windows_one_shuffle(spark):
    """window_value_frames: the ASC windows (sliding + prefix) fuse into
    one Window node, the DESC remaining-side prefix needs a second —
    but both run off the SAME priority-keyed exchange (a shrinking
    UnboundedFollowing frame would be O(n^2) per partition: 128 s vs
    1.25 s at sf0.1, see the docstring)."""
    import re

    df = q(spark, "window_value_frames")
    plan = plan_string(df)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan
    assert count_exchanges(df) <= 2  # window shuffle + final sample sort
    # the pathological frame shape must not reappear:
    assert "unboundedfollowing$()" not in plan.lower().replace(" ", "")


def test_weighted_median_single_group_keyed_window_pass(spark):
    """agg_weighted_median: cumulative weight and group total share the
    returnflag-keyed window shuffle; no join back to the table."""
    import re

    df = q(spark, "agg_weighted_median")
    plan = plan_string(df)
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(l_returnflag" in stripped
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_schema_evolution_reads_union_schema(spark):
    """ingest_schema_evolution: the merged read must surface the added
    column over BOTH vintages (pre-evolution rows as NULL) — the scan's
    ReadSchema carries the union; no Python, no cartesian."""
    plan = read_back_plan(spark, "ingest_schema_evolution")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "o_orderpriority" in plan


def test_trend_forecast_moment_partials(spark):
    """ev_trend_forecast: moments partial-aggregate into one
    type-keyed shuffle; the only window is the per-series offset
    origin; no second scan of events."""
    import re

    df = q(spark, "ev_trend_forecast")
    plan = plan_string(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(event_type" in stripped


def test_attribution_is_carry_window_not_range_join(spark):
    """ev_attribution_last_touch: ONE user-keyed IGNORE-NULLS carry
    window — never the purchases x clicks range self-join (no second
    scan, no join at all)."""
    import re

    df = q(spark, "ev_attribution_last_touch")
    plan = plan_string(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(user_id" in stripped


def test_readability_regex_in_codegen_single_pass(spark):
    """ta_readability_fk: three regex counts + FK formula are one
    narrow codegen projection; no Python, one scan."""
    import re

    df = q(spark, "ta_readability_fk")
    plan = plan_string(df)
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_code_detect_no_python(spark):
    """ta_code_detect: feature extraction is regex/array codegen."""
    plan = plan_string(q(spark, "ta_code_detect"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_lang_confusion_broadcast_label_join(spark):
    """ta_lang_confusion: the row-total join keys on the label — a
    broadcast-size side, never a shuffle of the corpus twice."""
    import re

    df = q(spark, "ta_lang_confusion")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    # contingency cells + totals derive from ONE scan via reuse or two
    # cheap scans — but never a per-row Python stage
    assert "EvalPython" not in plan


def test_nearest_order_two_prefix_windows_no_join(spark):
    """tj_nearest_order: prior+next carries are two prefix windows on
    one user-keyed shuffle — never an events x orders join, never a
    shrinking UnboundedFollowing frame."""
    import re

    df = q(spark, "tj_nearest_order")
    plan = plan_string(df)
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan
    assert "unboundedfollowing$()" not in plan.lower().replace(" ", "")


def test_jaccard_edges_are_lsh_bucketed_not_all_pairs(spark):
    """dd_jaccard_same_source (and the whole CC family behind the same
    edge builder): candidates come from the banded-MinHash bucket
    equi-join — the plan must join on band_key and contain no
    nested-loop/cartesian stage. The r5-era all-pairs-per-source theta
    join (O(|source|²), 20-28 s per consumer at sf0.1) must not come
    back."""
    import re

    plan = plan_string(q(spark, "dd_jaccard_same_source"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "band_key" in stripped, stripped[:2000]


def test_triangles_are_equi_joins_on_cached_edges(spark):
    """dd_graph_triangles: the triangle pass is hash equi-joins over
    the cached canonical edge list — no cartesian, no orientation
    dedup stage."""
    plan = plan_string(q(spark, "dd_graph_triangles"))
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan


def test_kl_drift_vocab_join_no_python(spark):
    """ta_kl_source_drift: the per-term stage is a token-keyed
    equi-join over aggregated vocabularies (never over raw token
    occurrences), logs ride codegen — no Python, no cartesian on the
    data path (the 1-row corpus total is a broadcast cross join)."""
    plan = plan_string(q(spark, "ta_kl_source_drift"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_train_is_vocab_cost_with_broadcast_merges(spark):
    """ta_bpe_train: pair counts aggregate the word-frequency table
    (vocabulary-sized) and each winning merge joins back as a
    broadcast 1-row build — no Python, no cartesian of words."""
    df = q(spark, "ta_bpe_train")
    plan = plan_string(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= BPE_BROADCASTS_MIN


#: each of the 3 unrolled iterations broadcasts its 1-row top pair
#: (plus the apply-side join); pin a floor, not the exact count.
BPE_BROADCASTS_MIN = 3


def test_context_pack_windows_share_qid_partitioning(spark):
    """rag_context_pack: the rank window and the budget prefix-sum
    window both partition by q_id (bounded pool), never empty-spec."""
    import re

    df = q(spark, "rag_context_pack")
    plan = plan_string(df)
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(q_id" in stripped
    assert "CartesianProduct" not in plan


def test_pit_features_single_user_window_range_frame(spark):
    """ev_pit_features: all four feature aggregates share ONE
    user-keyed RANGE-frame window (a per-feature subquery would scan
    events 4x); no join, no Python."""
    import re

    df = q(spark, "ev_pit_features")
    plan = plan_string(df)
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_dsir_vocab_joins_no_python(spark):
    """ta_dsir_weights: LM tables join on the token key (vocabulary-
    sized); logs in codegen; the 1-row totals are broadcast cross
    joins, never a data-path cartesian."""
    plan = plan_string(q(spark, "ta_dsir_weights"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_gini_two_keyed_shuffles_no_pairs(spark):
    """agg_gini_index: rank-formula Gini — user agg + rank window, no
    O(n^2) pairwise-difference stage (no self-join of per_user)."""
    import re

    df = q(spark, "agg_gini_index")
    plan = plan_string(df)
    assert "Join" not in plan, plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(event_type" in stripped


def test_lateral_is_decorrelated_to_ranked_join(spark):
    """sql_lateral_topn: Spark must decorrelate the LATERAL subquery —
    the plan is a join + per-key rank window, never a per-outer-row
    re-execution (no CartesianProduct, exactly one Window)."""
    import re

    df = q(spark, "sql_lateral_topn")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    # decorrelation yields the explicit rk window plus the LIMIT-2
    # pushdown's own rank filter — both keyed by the correlation key
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(o_custkey" in stripped
    assert len(re.findall(r"\(\d+\) Window\b", plan)) <= 2, plan


def test_survival_windows_all_cohort_keyed(spark):
    """ev_survival_km: risk-set and product-limit accumulations all
    partition by cohort — no global window, no pairwise stage."""
    import re

    df = q(spark, "ev_survival_km")
    plan = plan_string(df)
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(cohort" in stripped
    assert "windowspecdefinition()" not in stripped.replace(" ", "")
    assert "CartesianProduct" not in plan


def test_mips_is_broadcast_heap_topk(spark):
    """sim_mips_augmented: broadcast query, codegen dot+norm folds,
    heap top-k, zero shuffles — same scan shape as rag_topk."""
    df = q(spark, "sim_mips_augmented")
    assert has_take_ordered(df)
    assert count_exchanges(df) == 0
    assert "EvalPython" not in plan_string(df)


def test_ks_cdf_is_step_aggregated_prefix_window(spark):
    """ev_ks_test: the CDFs come from a (type, value) step aggregation
    + type-keyed prefix window — never a per-row cross-arm join."""
    import re

    df = q(spark, "ev_ks_test")
    plan = plan_string(df)
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(event_type" in stripped
    assert "CartesianProduct" not in plan


def test_mor_read_is_broadcast_anti_join(spark):
    """ingest_mor_deletes: the read path applies tombstones as a
    broadcast LEFT ANTI join — the delete set never shuffles the
    base."""
    plan = read_back_plan(spark, "ingest_mor_deletes")
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_streaks_anchor_windows_user_keyed(spark):
    """ev_purchase_streaks: both windows (anchor row_number, best-
    streak rank) key by user_id; no self-join of the day table."""
    import re

    df = q(spark, "ev_purchase_streaks")
    plan = plan_string(df)
    assert "Join" not in plan, plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(user_id" in stripped


def test_benford_is_bounded_digit_aggregation(spark):
    """agg_benford_audit: a narrow scan into a 9-key aggregation; the
    expected-prob math is codegen over the aggregated rows."""
    import re

    df = q(spark, "agg_benford_audit")
    plan = plan_string(df)
    assert "EvalPython" not in plan
    # two scans: the digit census and the 1-row total (a window-ized
    # total over the 9-row aggregate would need a global-window
    # allowlist entry for less than one scan's worth of work)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan


def test_hard_negatives_single_role_keyed_window(spark):
    """sim_hard_negatives: broadcast anchors, one (anchor, role) rank
    window picks both roles in a single shuffle."""
    import re

    df = q(spark, "sim_hard_negatives")
    plan = plan_string(df)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "EvalPython" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(a_id, role" in stripped


def test_time_travel_v0_reads_only_base_file(spark):
    """ingest_time_travel: the version-0 branch's scan must list ONLY
    the base data path — manifest indirection, not directory listing."""
    plan = read_back_plan(spark, "ingest_time_travel")
    # formatted plans elide long path lists; the visible evidence is
    # the v0 scan listing ONLY the base path and the v1 scan listing
    # base + 1 elided extra entry
    assert "data_base]" in plan, plan
    assert "data_base, ... 1 entries]" in plan, plan


def test_cluster_sample_no_cartesian_component_windows(spark):
    """dd_cluster_aware_sample: cluster size and md5 pick are two
    component-keyed windows over the labeled corpus; no cartesian,
    and the label join keys on doc_id."""
    import re

    df = q(spark, "dd_cluster_aware_sample")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(component" in stripped


def test_mad_medians_are_broadcast_scalars(spark):
    """ev_anomaly_mad: per-type median/MAD join back as broadcast-size
    sides; no Python, no cartesian on the data path."""
    plan = plan_string(q(spark, "ev_anomaly_mad"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_autocorr_one_window_no_self_join(spark):
    """ev_autocorr: both lags ride ONE series-keyed window — never the
    shifted self-join of the series."""
    import re

    df = q(spark, "ev_autocorr")
    plan = plan_string(df)
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_fingerprint_sort_is_within_group(spark):
    """agg_table_fingerprint: the digest's row-hash sort happens inside
    the collect_list/array_sort per source group — no global sort of
    row hashes."""
    import re

    df = q(spark, "agg_table_fingerprint")
    plan = plan_string(df)
    assert "EvalPython" not in plan
    # one keyed aggregation; the only Sort is the final ORDER BY of 20
    # result rows after its exchange
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_logreg_inference_is_pure_codegen(spark):
    """ta_logreg_quality: feature extraction + sigmoid are one narrow
    codegen projection — the learned-scorer serving path with zero
    Python."""
    import re

    df = q(spark, "ta_logreg_quality")
    plan = plan_string(df)
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_column_profile_aggregates_before_union(spark):
    """agg_column_profile: each branch reduces to ONE row before the
    union — the union never carries raw lineitem rows."""
    plan = plan_string(q(spark, "agg_column_profile"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_seasonal_profile_bounded_keys_small_window(spark):
    """ev_seasonal_profile: 24x|types| keys; the peak rank window
    partitions by event_type over the aggregated profile."""
    import re

    df = q(spark, "ev_seasonal_profile")
    plan = plan_string(df)
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(event_type" in stripped
    assert "CartesianProduct" not in plan


def test_market_basket_is_basket_keyed_pair_join(spark):
    """join_market_basket: pairs come from the orderkey-keyed equi
    self-join (Σ basket² bound), support tables join broadcast-size,
    result is heap top-k."""
    df = q(spark, "join_market_basket")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert has_take_ordered(df)


def test_rfm_windows_input_is_per_user_rows(spark):
    """ev_rfm_segments: the three ntile windows (allowlisted global —
    quintiles rank the whole user base) must consume the PER-USER
    feature table, never raw events: the aggregation sits below the
    windows in the plan."""
    import re

    df = q(spark, "ev_rfm_segments")
    plan = plan_string(df)
    # windows appear above exactly one pre-aggregated subtree: the
    # user-keyed HashAggregate is between the scan and the Window ops
    tree = plan.split("\n\n")[0]
    first_window = tree.index("Window")
    assert "HashAggregate" in tree[:first_window], tree[:first_window]


def test_soft_dedup_weights_component_window_no_cartesian(spark):
    """dd_soft_dedup_weights: the weight is a component-keyed window
    over the labeled corpus (same shape as dd_cluster_aware_sample);
    no cartesian, no per-row Python."""
    import re

    plan = plan_string(q(spark, "dd_soft_dedup_weights"))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(component" in stripped


def test_cross_source_matrix_is_lsh_bucketed(spark):
    """dd_cross_source_matrix: candidates ride the banded bucket
    equi-join (band_key in the join keys); never a nested-loop or
    cartesian pair stage."""
    import re

    plan = plan_string(q(spark, "dd_cross_source_matrix"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "band_key" in stripped


def test_kmv_audit_windows_are_keyed_joins_are_equi(spark):
    """agg_kmv_distinct_audit: both rank windows are keyed (per type /
    per type pair — never a global sort), the sketch joins are hash
    equi-joins, and nothing drops to per-row Python."""
    import re

    plan = plan_string(q(spark, "agg_kmv_distinct_audit"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(event_type" in stripped
    assert "windowspecdefinition(type_a" in stripped


def test_quality_calibration_has_no_window_at_all(spark):
    """ta_quality_calibration: fixed-width score buckets are per-row
    expressions — the plan must contain NO window operator (the ntile
    version of this table would be a corpus-wide global sort) and no
    Python."""
    import re

    plan = plan_string(q(spark, "ta_quality_calibration"))
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0, plan


def test_minhash_est_audit_rides_bucket_join(spark):
    """dd_minhash_est_audit: candidate pairs come from the banded
    bucket equi-join; signature/shingle-set joins are hash equi-joins
    on doc_id — no cartesian, no Python."""
    import re

    plan = plan_string(q(spark, "dd_minhash_est_audit"))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "band_key" in stripped


def test_cm_sketch_probe_is_heap_topk(spark):
    """agg_cm_sketch_audit: the audited heavy hitters come from a heap
    top-k (TakeOrderedAndProject), never a global sort of the per-user
    counts; the counter build and probe stay JVM-side."""
    df = q(spark, "agg_cm_sketch_audit")
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_welch_ttest_single_keyed_shuffle_no_window(spark):
    """ev_welch_ttest: moments partial-aggregate on (event_type, arm)
    then pivot per type — no window operator, no join, no Python."""
    import re

    plan = plan_string(q(spark, "ev_welch_ttest"))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_winnowing_windows_are_doc_keyed(spark):
    """ta_winnowing_fingerprint: every window (k-gram lead, rank, the
    running min frame) partitions by doc_id — nothing global, no
    Python, no join on the data path (the final LEFT JOIN keys on
    doc_id)."""
    import re

    plan = plan_string(q(spark, "ta_winnowing_fingerprint"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(doc_id" in stripped


def test_orc_roundtrip_pushes_filter_to_orc_scan(spark):
    """ingest_orc_roundtrip: the read-back is a native ORC columnar
    scan with the user_id predicate pushed to it — the same pushdown
    discipline the parquet fixtures get."""
    plan = read_back_plan(spark, "ingest_orc_roundtrip")
    assert "Scan orc" in plan, plan[:2000]
    assert "PushedFilters: [" in plan
    assert "user_id" in plan.split("PushedFilters:")[1][:200]


def test_knn_graph_scores_each_pair_once(spark):
    """sim_knn_graph: the pair scores are computed once (cached
    half-matrix) and mirrored by projection — the plan reads the
    InMemoryRelation from both union branches instead of containing
    two scoring joins; the rank window keys on vec_id."""
    import re

    plan = plan_string(q(spark, "sim_knn_graph"))
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(vec_id" in stripped


def test_pair_candidates_are_cell_blocked_not_label_blocked(spark):
    """sim_knn_graph and dd_embedding_neardup (r6 verdict task 2):
    candidate pairs must come from the DATA-derived IVF-cell equi-join
    (clustering.cell_probes) — the plan joins on the derived ``cell``
    key and must not contain a ``label = label`` self-join (the
    data-independent fixture key whose blocks grow linearly with the
    corpus, making the join quadratic at 100 TB) nor an unbounded
    cartesian stage. The only nested-loop allowed is the broadcast of
    the CELL_SEEDS-row seed table (mirrors _assign's 8-row centroid
    crossJoin)."""
    import re

    for name in ("sim_knn_graph", "dd_embedding_neardup"):
        plan = plan_string(q(spark, name))
        assert "CartesianProduct" not in plan, name
        stripped = re.sub(r"#\d+L?", "", plan)
        assert re.search(r"keys \[1\]: \[cell\]", stripped), (
            name,
            stripped[:2000],
        )
        # the fixture label column must not be a join key and must be
        # pruned from every scan — checked against the join-key lists
        # and ReadSchema/output lines specifically (a whole-plan
        # substring check would trip on any future alias or codegen
        # node name containing 'label')
        key_lines = re.findall(r"keys(?: \[\d+\])?: \[[^\]]*\]", stripped)
        assert not any("label" in k for k in key_lines), (name, key_lines)
        schema_lines = re.findall(
            r"(?:ReadSchema|Output(?: \[\d+\])?): \S*[^\n]*", stripped
        )
        assert not any("label" in s for s in schema_lines), (
            name,
            [s for s in schema_lines if "label" in s],
        )
        # nested loops are only the CELL_SEEDS-row seed broadcasts (one
        # per self-join side); counted via the detail-section headers
        # (the tree section lists every node a second time)
        n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", stripped))
        assert n_bnlj <= 2, (name, n_bnlj)


def test_graph_family_builds_from_cell_blocked_half():
    """sim_graph_greedy_search and sim_kcore_decompose build their
    adjacency from the shared cell-blocked half-matrix
    (_cell_scored_half) — their final plans hide the build behind
    localCheckpoints, so pin at the source level that neither has a
    private (all-pairs or label-blocked) candidate generator; the
    helper itself is plan-pinned through sim_knn_graph above. The
    oracles mirror via duckdb_cell_half_cte."""
    import inspect

    from mcp_rag_server_spark.operators import dedup, similarity

    for fn in (
        similarity.sim_graph_greedy_search,
        similarity.sim_kcore_decompose,
        similarity.sim_knn_graph,
        dedup.dd_embedding_neardup,
    ):
        src = inspect.getsource(fn)
        assert "_cell_scored_half" in src, fn.__name__
        assert 'F.col("vec_id") < F.col("nbr_id")' not in src, fn.__name__
    for oracle_fn in (
        similarity._gs_oracle,
        similarity._kcore_oracle,
        similarity._knn_graph_oracle,
    ):
        assert "gb_sym" in oracle_fn(), oracle_fn.__name__


def test_bigram_logprob_joins_aggregated_vocab(spark):
    """ta_bigram_logprob: the LM tables join back as broadcasts of
    AGGREGATED (w1,w2)/(w1) counts — never a join of raw occurrence
    rows against raw occurrence rows; the surprisal ln stays in
    codegen (no Python)."""
    plan = plan_string(q(spark, "ta_bigram_logprob"))
    assert "EvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 3  # bg, c1, vocab size


def test_mutual_information_is_one_contingency_pass(spark):
    """ev_mutual_information: the MI/chi2 terms join the cell table
    against broadcast-sized marginals — no window, no cartesian on the
    data path (the 1-row total/count sides are broadcast cross joins),
    no Python."""
    import re

    plan = plan_string(q(spark, "ev_mutual_information"))
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0
    assert "CartesianProduct" not in plan


def test_ngram_novelty_joins_aggregated_spread(spark):
    """ta_ngram_novelty: the spread table is aggregated (shingle,
    n_sources) partials joined shingle-keyed — never doc x doc; no
    Python."""
    plan = plan_string(q(spark, "ta_ngram_novelty"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_interval_union_two_windows_one_sort_no_join(spark):
    """tj_interval_union: flag + island-number are two windows on the
    SAME user-keyed (s, event_id) sort — never an interval x interval
    overlap join, never a shrinking UnboundedFollowing frame."""
    import re

    df = q(spark, "tj_interval_union")
    plan = plan_string(df)
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan
    assert "unboundedfollowing$()" not in plan.lower().replace(" ", "")


def test_entropy_rate_joins_aggregated_transitions(spark):
    """ev_entropy_rate: the entropy terms join AGGREGATED transition
    counts against their row totals — user-keyed lead windows, then
    constant-size tables; no Python, no cartesian. (Two Window nodes,
    not one: Catalyst inlines the trans CTE into both the terms and
    rowtot branches — same keyed shuffle either way.)"""
    import re

    plan = plan_string(q(spark, "ev_entropy_rate"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) <= 2


def test_weighted_sample_window_is_source_keyed(spark):
    """ta_weighted_sample_es: the top-k is a source-keyed rank window
    over per-row keys — nothing global, no Python, no join."""
    import re

    plan = plan_string(q(spark, "ta_weighted_sample_es"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(source" in stripped


def test_csv_malformed_single_checkpointed_parse(spark):
    """ingest_csv_malformed: good and corrupt branches both read the
    ONE checkpointed parse of the CSV directory (the same ExistingRDD
    on both sides), and that parse is one scan of the files — never two
    raw-file passes with different corrupt-column projections
    (SPARK-21610 territory)."""
    parse = read_back_plan(spark, "ingest_csv_malformed")
    assert parse.split("\n\n")[0].count("Scan csv") == 1, parse
    plan = plan_string(q(spark, "ingest_csv_malformed"))
    rdds = re.findall(r"(\w+RDD\[\d+\]) at localCheckpoint", plan)
    assert len(rdds) >= 2 and len(set(rdds)) == 1, rdds
    assert "Scan csv" not in plan
    assert "EvalPython" not in plan


def test_did_is_one_keyed_aggregation_no_window(spark):
    """ev_did_estimator: the 2x2x|types| cell moments come from one
    (type, arm, period) partial aggregation; the pivot is a MAX-CASE
    fold — no window, no Python, cutoff via a broadcast scalar."""
    import re

    plan = plan_string(q(spark, "ev_did_estimator"))
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_centroid_drift_aggregates_before_joining(spark):
    """sim_centroid_drift: the halves join on (label, d) AFTER the
    elementwise mean aggregation — 64 rows per label per side, never
    raw vectors; no window, no Python."""
    import re

    plan = plan_string(q(spark, "sim_centroid_drift"))
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0
    assert "CartesianProduct" not in plan


def test_bot_heuristics_one_lag_window_bounded_output(spark):
    """ev_bot_heuristics: one user-keyed lag window feeds the moment
    aggregation; the flag grid is a bounded-key group-by — no Python,
    no cartesian, exactly one Window."""
    import re

    plan = plan_string(q(spark, "ev_bot_heuristics"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_cluster_size_hist_rides_shared_components(spark):
    """dd_cluster_size_hist: sizes aggregate the star-contraction
    labels (cached/checkpointed edge artifacts visible as scans) —
    no cartesian, no Python."""
    plan = plan_string(q(spark, "dd_cluster_size_hist"))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_length_drift_global_window_is_distinct_lengths_only(spark):
    """ta_length_drift: the ONE unpartitioned prefix window runs over
    the distinct-length table (bounded by max doc length), and the
    per-source CDFs are source-partitioned — exactly one global
    window in the plan, the allowlisted one."""
    import re

    plan = plan_string(q(spark, "ta_length_drift"))
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(source" in stripped
    n_global = stripped.count("windowspecdefinition(v ASC")
    assert n_global == 1, stripped[:1500]


def test_power_mde_single_moment_pass(spark):
    """ev_power_mde: one (type)-keyed moment aggregation, derived
    expressions only — no window, no join, no Python."""
    import re

    plan = plan_string(q(spark, "ev_power_mde"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_rolling_median_bounded_rows_frame(spark):
    """ev_rolling_median: the median rides a type-keyed bounded ROWS
    frame — one Window, no shrinking UnboundedFollowing frame, no
    Python."""
    import re

    plan = plan_string(q(spark, "ev_rolling_median"))
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert "unboundedfollowing$()" not in plan.lower().replace(" ", "")


def test_multi_query_fusion_broadcasts_variants(spark):
    """rag_multi_query_fusion: the variant vectors are a broadcast
    build side against ONE corpus scan; rank windows key on query_id;
    the fused top-10 is a heap top-k."""
    import re

    plan = plan_string(q(spark, "rag_multi_query_fusion"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(query_id" in stripped


def test_ols_is_one_moment_pass_no_window(spark):
    """agg_ols_sufficient_stats: ten moments from ONE (returnflag)-keyed
    aggregation, Cramer solve as expressions — no window, no join, no
    Python."""
    import re

    plan = plan_string(q(spark, "agg_ols_sufficient_stats"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_changepoint_prefix_windows_no_join(spark):
    """ev_changepoint: gain(k) for every split from prefix-sum windows
    (all partitioned by event_type) — no join, no Python, no O(n²)
    re-aggregation, no unpartitioned window."""
    import re

    plan = plan_string(q(spark, "ev_changepoint"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    specs = re.findall(r"windowspecdefinition\(\w+", stripped)
    assert specs and all(s.endswith("event_type") for s in specs), specs


def test_theil_sen_pairs_are_keyed_broadcast_join(spark):
    """ev_theil_sen: the pair expansion is an equality-keyed broadcast
    join (never a cartesian), the probe side round-robin-repartitioned
    past the ~5-key bound, median via exact percentile — no Python."""
    plan = plan_string(q(spark, "ev_theil_sen"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "percentile" in plan
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning(32)" in plan


def test_forecast_backtest_one_moment_pass_broadcast_coef(spark):
    """ev_forecast_backtest: train coefficients from one conditional
    moment aggregation, joined back to test rows broadcast-sized — no
    Python, no cartesian, no unpartitioned window."""
    import re

    plan = plan_string(q(spark, "ev_forecast_backtest"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    specs = re.findall(r"windowspecdefinition\(\w+", stripped)
    assert all(s.endswith("event_type") for s in specs), specs


def test_cascade_rerank_zero_shuffles_heap_stages(spark):
    """sim_cascade_rerank: both stages and the recall audit are
    broadcast-composed heap top-ks — ZERO shuffle exchanges, no
    cartesian product, no Python; the only corpus-sized work is the
    integer Hamming scan."""
    import re

    df = q(spark, "sim_cascade_rerank")
    assert count_exchanges(df) == 0
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", plan)) >= 3


def test_threshold_sweep_verifies_candidates_once(spark):
    """dd_threshold_sweep: the exact-Jaccard verification subtree
    (array_intersect) appears once in the plan (tree + detail section
    = 2 text hits) — the 3-threshold sweep must not re-verify per
    threshold (a union-per-metric shape would quadruple it)."""
    plan = plan_string(q(spark, "dd_threshold_sweep"))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert 1 <= plan.count("array_intersect") <= 2, plan.count("array_intersect")


def test_kanonymity_one_grouping_sets_pass(spark):
    """ta_kanonymity_audit: all three generalization levels from ONE
    Expand + aggregation — no join, no window, no Python."""
    import re

    plan = plan_string(q(spark, "ta_kanonymity_audit"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Expand\b", plan)) == 1


def test_mojibake_scan_flag_count_no_join(spark):
    """ta_mojibake_detect: scan → per-row flags → per-source partial
    agg; no join, no window, no Python."""
    plan = plan_string(q(spark, "ta_mojibake_detect"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_trigram_search_is_keyed_index_join(spark):
    """ta_trigram_index_search: the candidate probe is an equality join
    on the trigram key; the only nested-loop is the 3-row needle
    broadcast (truth side + decorrelated HAVING) — never a cartesian
    product, no Python."""
    plan = plan_string(q(spark, "ta_trigram_index_search"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_hits_lineage_truncated_per_half_step(spark):
    """ev_hits_scores: every half-iteration is localCheckpoint'd (each
    score table feeds BOTH its normalization and the next gather — an
    un-truncated lazy plan doubles per half-step), so the final plan
    reads checkpointed RDDs, never the 2^(2·iters) replayed subtree."""
    plan = plan_string(q(spark, "ev_hits_scores"))
    assert "EvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert plan.count("windowspecdefinition") == 0


def test_degree_stats_keyed_joins_no_cartesian(spark):
    """dd_graph_degree_stats: endpoint degrees come from keyed joins of
    one (node, d) aggregate; the only cross joins are broadcast 1-row
    summary composition — no cartesian, no Python."""
    plan = plan_string(q(spark, "dd_graph_degree_stats"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_mode_shuffles_on_distinct_values_not_rows(spark):
    """agg_mode_per_group: one (flag, qty)-keyed partial aggregation
    (map-side combine before the shuffle), then a window over the
    counts table — no join, no Python."""
    import re

    plan = plan_string(q(spark, "agg_mode_per_group"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "partial_count" in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(l_returnflag" in stripped


def test_skew_kurtosis_single_moment_pass(spark):
    """agg_skew_kurtosis: four power sums from ONE grouped aggregation,
    statistics as derived expressions — no window, no join, no
    Python."""
    import re

    plan = plan_string(q(spark, "agg_skew_kurtosis"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2


def test_ratio_ci_two_bounded_aggregations(spark):
    """ev_ratio_metric_ci: per-user cluster totals then per-type
    moments, iid moments joined back — no window, no cartesian, no
    Python."""
    import re

    plan = plan_string(q(spark, "ev_ratio_metric_ci"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_winsorized_single_array_percentile_pass(spark):
    """agg_winsorized_mean: BOTH cut points from one array-percentile
    aggregate (one value buffer, not two), bounds joined back
    broadcast-sized — no window, no Python."""
    import re

    plan = plan_string(q(spark, "agg_winsorized_mean"))
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) ObjectHashAggregate", plan)) == 2
    assert "BroadcastHashJoin" in plan


def test_funnel_time_one_user_keyed_pass(spark):
    """ev_funnel_time_quantiles: stage firsts from one (user)-keyed
    conditional min-agg; no join, no window, no Python."""
    import re

    plan = plan_string(q(spark, "ev_funnel_time_quantiles"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_scene_cuts_arrow_map_no_shuffle(spark):
    """mm_scene_cuts: one narrow Arrow mapInPandas over the blob column
    — no row-at-a-time Python, no shuffle before the census (only the
    output sort's range exchange)."""
    plan = plan_string(q(spark, "mm_scene_cuts"))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    df = q(spark, "mm_scene_cuts")
    assert count_exchanges(df) <= 1


def test_url_canonicalize_no_join_no_python(spark):
    """dd_url_canonicalize: per-row normalization + grouped distinct
    counts — no join, no window, no Python."""
    plan = plan_string(q(spark, "dd_url_canonicalize"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_pc1_iterations_read_checkpointed_covariance(spark):
    """sim_power_iteration_pc1: the final plan starts from the
    localCheckpoint'd covariance (ExistingRDD) — the corpus-sized
    moment pass happens once, never inside the iteration subtrees —
    and stays JVM-side."""
    plan = plan_string(q(spark, "sim_power_iteration_pc1"))
    assert "EvalPython" not in plan
    assert "Scan ExistingRDD" in plan


def test_heavy_hitters_leaderboard_windows_are_keyed(spark):
    """st_heavy_hitters: the leaderboard read over the maintained state
    table uses event_type-partitioned windows only — no global window,
    no Python."""
    import re

    plan = plan_string(q(spark, "st_heavy_hitters"))
    assert "EvalPython" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    specs = re.findall(r"windowspecdefinition\(\w+", stripped)
    assert specs and all(s.endswith("event_type") for s in specs), specs


def test_seasonal_decompose_windows_all_keyed(spark):
    """ev_seasonal_decompose: trend frame and seasonal/global windows
    all partition by event_type(+hod) — no unpartitioned window, no
    join on the fact path, no Python."""
    import re

    plan = plan_string(q(spark, "ev_seasonal_decompose"))
    assert "EvalPython" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    specs = re.findall(r"windowspecdefinition\(\w+", stripped)
    assert specs and all(s.endswith("event_type") for s in specs), specs
    assert "unboundedpreceding$(), unboundedfollowing$()" not in plan or (
        "event_type" in stripped
    )


def test_ltv_unpivots_aggregate_not_facts(spark):
    """ev_cohort_ltv_curve: the 4-branch age union reads the tiny
    cohort aggregate, never the fact table — exactly one events scan
    in the plan; the anchor window partitions by user."""
    import re

    plan = plan_string(q(spark, "ev_cohort_ltv_curve"))
    assert "EvalPython" not in plan
    assert plan.count("events.parquet]") <= 1
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(user_id" in stripped


def test_seasonal_anomaly_windows_keyed(spark):
    """ev_anomaly_seasonal_zscore: stratum and global baselines are
    both keyed windows over the hourly table — no join, no Python, no
    unpartitioned window."""
    import re

    plan = plan_string(q(spark, "ev_anomaly_seasonal_zscore"))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    stripped = re.sub(r"#\d+L?", "", plan)
    specs = re.findall(r"windowspecdefinition\(\w+", stripped)
    assert specs and all(s.endswith("event_type") for s in specs), specs


def test_snapshot_diff_keyed_anti_semi_joins(spark):
    """ingest_snapshot_diff: version diffs are keyed anti/semi joins
    of manifest reads — no cartesian beyond the 1-row count
    composition, no Python."""
    plan = read_back_plan(spark, "ingest_snapshot_diff")
    assert "EvalPython" not in plan
    assert "LeftAnti" in plan and "LeftSemi" in plan


def test_jl_audit_is_sample_bounded_relational(spark):
    """sim_random_projection_jl: distances are dim-keyed joins +
    decimal sums over the bounded sample; the sign matrix is a
    broadcast build side — no cartesian, no Python, no window."""
    plan = plan_string(q(spark, "sim_random_projection_jl"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_running_distinct_two_stacked_keyed_windows(spark):
    """window_running_distinct: first-occurrence flag + prefix sum are
    user-keyed windows sharing one shuffle; milestone unpivot is a
    stack over the per-user aggregate — one events scan, no Python."""
    import re

    plan = plan_string(q(spark, "window_running_distinct"))
    assert "EvalPython" not in plan
    assert plan.count("events.parquet]") <= 1
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "windowspecdefinition(user_id" in stripped


def test_overlap_self_join_keyed_on_user(spark):
    """ev_user_overlap_jaccard: the incidence self-join keys on
    user_id (equality join), sizes broadcast back — no cartesian, no
    Python."""
    plan = plan_string(q(spark, "ev_user_overlap_jaccard"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_bbit_audit_candidate_bounded(spark):
    """dd_minhash_bbit_audit: parity comparison joins signatures over
    the banded candidates only — keyed joins, no cartesian, no
    Python."""
    plan = plan_string(q(spark, "dd_minhash_bbit_audit"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_absorbing_markov_reads_checkpointed_edges(spark):
    """ev_absorbing_conversion_prob: the backward recursion reads the
    localCheckpoint'd edge/node tables (P referenced by every level —
    inlined re-derivation would scan events per step) — one
    ExistingRDD base, no Python."""
    plan = plan_string(q(spark, "ev_absorbing_conversion_prob"))
    assert "EvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert "events.parquet]" not in plan


def test_bootstrap_is_flat_expansion_no_window(spark):
    """ev_bootstrap_ci: the B resamples are one exploded flat map +
    grouped sums — no window, no cartesian, no Python; one join
    (point estimate to bootstrap moments)."""
    import re

    plan = plan_string(q(spark, "ev_bootstrap_ci"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_leakage_split_is_component_hashed(spark):
    """ta_leakage_safe_split: components from the checkpointed CC run,
    split by md5 of the component id; the leak audit is an edge-sized
    join — no cartesian beyond the broadcast 1-row audit, no
    Python."""
    plan = plan_string(q(spark, "ta_leakage_safe_split"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan


def test_multiprobe_codes_computed_once(spark):
    """sim_multiprobe_lsh: the 512-term bucket expression lives in ONE
    checkpointed codes table (inline CTE references re-evaluated it
    per consumer); probes join on the bucket key — no cartesian
    products on the data path, no Python."""
    plan = plan_string(q(spark, "sim_multiprobe_lsh"))
    assert "EvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert "embeddings.parquet]" not in plan


def test_greedy_search_walks_checkpointed_graph(spark):
    """sim_graph_greedy_search: the walk runs over the checkpointed
    scored/adjacency tables — per-hop beam joins, no corpus rescans
    (no parquet scan survives in the final plan), no Python."""
    plan = plan_string(q(spark, "sim_graph_greedy_search"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert "embeddings.parquet]" not in plan


def test_ivm_merge_is_full_outer_no_rescan(spark):
    """ev_ivm_delta_rollup: the maintenance merge is a FULL OUTER join
    of base state vs delta aggregate (coalesced arithmetic), summary
    scalars ride the broadcast lane — no Python, no cartesian
    product."""
    plan = plan_string(q(spark, "ev_ivm_delta_rollup"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan


def test_bpe_apply_is_dictionary_join(spark):
    """ta_bpe_apply: encoding is a word-keyed join against the
    vocabulary-sized dictionary the merge chain produces — no Python,
    no cartesian product beyond the 1-row merge broadcasts."""
    plan = plan_string(q(spark, "ta_bpe_apply"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cuped_is_two_aggregations_no_window(spark):
    """ev_cuped_adjustment: one user-keyed aggregate + one single-row
    moment reduce — no window, no Python, no cartesian product."""
    import re

    plan = plan_string(q(spark, "ev_cuped_adjustment"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_auc_window_runs_over_bucket_table(spark):
    """ta_quality_auc: exactly one window, and it consumes the
    post-aggregation bucket table (≤1001 rows by the round-3
    quantization), not per-document rows — the lint allowlist's bound
    made structural."""
    import re

    plan = plan_string(q(spark, "ta_quality_auc"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    # the window's child must be an aggregate (bucket table), so a
    # HashAggregate appears below the Window in the tree section
    tree = plan.split("\n\n")[0]
    wline = next(i for i, ln in enumerate(tree.splitlines())
                 if "Window" in ln)
    below = "\n".join(tree.splitlines()[wline:])
    assert "HashAggregate" in below


def test_msprt_window_runs_over_day_table(spark):
    """ev_msprt_sequential: one calendar-bounded window over the daily
    aggregate (all six cumulative sums share the spec), no Python, no
    cartesian product."""
    import re

    plan = plan_string(q(spark, "ev_msprt_sequential"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_ccnet_buckets_no_window_two_shuffle(spark):
    """ta_ccnet_buckets: fixed surprisal cutoffs keep tiering a per-row
    expression — no window at all, no Python, no cartesian product."""
    import re

    plan = plan_string(q(spark, "ta_ccnet_buckets"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_kcore_peels_checkpointed_edges(spark):
    """sim_kcore_decompose: each round is a degree aggregate + two
    semi-joins over the checkpointed edge table — no parquet rescans
    in the final plan, no Python."""
    plan = plan_string(q(spark, "sim_kcore_decompose"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert "embeddings.parquet]" not in plan


def test_markov_stationary_iterates_checkpointed_matrix(spark):
    """ev_markov_stationary: the unrolled power iteration joins the
    checkpointed |types|² matrix — no parquet rescans in the final
    plan, no Python, no cartesian product beyond the broadcast 1-row
    scalars."""
    plan = plan_string(q(spark, "ev_markov_stationary"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert "events.parquet]" not in plan


def test_jcard_never_materializes_the_join(spark):
    """agg_join_cardinality_audit: true cardinality comes from per-key
    count aggregates joined on the key — the plan carries aggregates
    below every join, no Python, no cartesian product."""
    plan = plan_string(q(spark, "agg_join_cardinality_audit"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_concurrency_sweep_is_two_level(spark):
    """ev_concurrency_curve: the corpus-sized sweep is day-partitioned;
    the only unpartitioned window spec is the per-day-net offset
    prefix (calendar-bounded) — no Python, no cartesian beyond the
    1-row overall-peak broadcast."""
    plan = plan_string(q(spark, "ev_concurrency_curve"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the day-ordered offset prefix appears EXACTLY once — the peaks
    # lineage is not duplicated by a second CTE reference (the
    # overall peak rides a 30-row MAX() OVER () instead)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    unpart = [re.sub(r"#\d+", "", s) for s in specs
              if s.lstrip().startswith("day")]
    assert len(unpart) == 1, unpart


def test_pmi_is_takeordered_over_marginal_joins(spark):
    """ta_pmi_collocations: bigram shuffle + two marginal joins +
    TakeOrdered(k) — no global sort of the vocabulary, no Python."""
    df = q(spark, "ta_pmi_collocations")
    plan = plan_string(df)
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_textrank_iterations_are_vocab_sized(spark):
    """ta_textrank_keywords: after the one bigram shuffle, iterations
    are joins over the vocabulary-sized edge table — no Python, no
    cartesian beyond the 1-row node-count broadcasts, TakeOrdered
    carries the top-k."""
    plan = plan_string(q(spark, "ta_textrank_keywords"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_compaction_plan_windows_are_partitioned(spark):
    """ingest_compaction_plan: the packing prefix sum partitions by
    source — no unpartitioned window specs at all, no Python."""
    import re

    plan = plan_string(q(spark, "ingest_compaction_plan"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs and all("source" in s for s in specs), specs


def test_dq_suite_is_union_of_aggregates(spark):
    """dq_expectations_audit: every check is a partial-aggregating
    scan (FK integrity via a key-distinct join) — no window, no
    Python, no cartesian product."""
    import re

    plan = plan_string(q(spark, "dq_expectations_audit"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_burn_rate_range_frame_over_hour_table(spark):
    """ev_slo_burn_rate: the trailing window is a RANGE frame over the
    post-aggregation hour table (a HashAggregate sits below the
    Window), no Python, no cartesian product."""
    plan = plan_string(q(spark, "ev_slo_burn_rate"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "RangeFrame" in plan or "RANGE" in plan
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    wline = next(i for i, ln in enumerate(lines) if "Window" in ln)
    assert "HashAggregate" in "\n".join(lines[wline:])


def test_parent_doc_chunks_stay_in_scan_stage(spark):
    """rag_parent_doc_topk: the chunk explosion is a narrow posexplode
    (no shuffle before the doc-keyed reduce), TakeOrdered returns the
    parents — no Python, no cartesian product."""
    plan = plan_string(q(spark, "rag_parent_doc_topk"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Generate posexplode" in plan or "posexplode" in plan


def test_dataset_card_is_one_statement_no_python(spark):
    """ta_dataset_card: scalar sub-aggregates meet in broadcast joins;
    the near-dup pairs ride the checkpointed edge view — no Python,
    no CartesianProduct (1-row cross joins become BNLJ)."""
    plan = plan_string(q(spark, "ta_dataset_card"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_delta_decomposition_single_segment_shuffle(spark):
    """ev_delta_decomposition: one segment-keyed aggregate, pure
    arithmetic above it — no window, no Python, no cartesian."""
    import re

    plan = plan_string(q(spark, "ev_delta_decomposition"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_doremi_step_no_window_no_python(spark):
    """ta_doremi_step: token tf shuffle + source aggregate + scalar
    cross joins — no window, no Python, no cartesian."""
    import re

    plan = plan_string(q(spark, "ta_doremi_step"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_growth_accounting_windows_are_user_keyed(spark):
    """ev_growth_accounting: lag/lead/min all ride user-partitioned
    windows — no unpartitioned spec, no Python, no cartesian."""
    import re

    plan = plan_string(q(spark, "ev_growth_accounting"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs and all("user_id" in s for s in specs), specs


def test_feature_hashing_shares_one_token_scan(spark):
    """ta_feature_hashing: the three widths are unrolled columns of
    shared token scans — no window, no Python, no cartesian beyond
    scalar broadcasts."""
    import re

    plan = plan_string(q(spark, "ta_feature_hashing"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_ipw_is_two_aggregations(spark):
    """ev_propensity_ipw: user-keyed aggregate + single-row reduce —
    no window, no Python, no cartesian."""
    import re

    plan = plan_string(q(spark, "ev_propensity_ipw"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_kneser_ney_marginals_off_one_bigram_shuffle(spark):
    """ta_kneser_ney_bigram: all four statistics aggregate off the
    bigram table; the only window is the per-doc lead — no Python, no
    cartesian."""
    import re

    plan = plan_string(q(spark, "ta_kneser_ney_bigram"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs and all("doc_id" in s for s in specs), specs


def test_seq_support_join_is_type_table_sized(spark):
    """ev_seq_pattern_support: the self-join runs over the per-user
    TYPE table (|types| rows per user), never raw events — the
    aggregate sits below the join; no Python, no cartesian."""
    plan = plan_string(q(spark, "ev_seq_pattern_support"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    jline = next(i for i, ln in enumerate(lines) if "Join" in ln)
    assert "HashAggregate" in "\n".join(lines[jline:])


def test_ndcg_discounts_are_literals(spark):
    """sim_ndcg_sq8_eval: the rank discounts appear as literal
    constants in the plan (no log2 at runtime), rankings are
    q_id-partitioned windows — no Python, no unpartitioned spec."""
    import re

    plan = plan_string(q(spark, "sim_ndcg_sq8_eval"))
    assert "EvalPython" not in plan
    assert "0.6309297536" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs and all("q_id" in s for s in specs), specs


def test_agreement_simhash_count_is_histogram_hash_join(spark):
    """dd_method_agreement: the n_sim census runs over the simhash
    HISTOGRAM with the XOR probe projected BEFORE the join, so the
    mask expansion lands as a hash equi-join (probe = simhash) — never
    the doc_id<doc_id nested loop Catalyst produced when the equi key
    spanned the un-projected cross join (the 8-10 s regression this
    round fixed), and never a Hamming theta join. The final ladder
    stays Python/cartesian-free."""
    import re

    from mcp_rag_server_spark.catalog import load_table, sql
    from mcp_rag_server_spark.operators.dedup import (
        _agreement_counts_sql,
        _simhash_sql,
    )

    docs = load_table(spark, SF, "documents")
    core = sql(
        spark,
        _agreement_counts_sql(),
        documents=docs,
        simhash_v=sql(
            spark, _simhash_sql("spark"), documents=docs
        ).localCheckpoint(eager=True),
        lsh_pairs_v=spark.range(0).selectExpr(
            "id AS doc_a", "id AS doc_b", "'' AS source", "0.0 AS jaccard"
        ),
    )
    plan = plan_string(core)
    stripped = re.sub(r"#\d+L?", "", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"keys \[1\]: \[probe\]", stripped), stripped[:2000]
    final = plan_string(q(spark, "dd_method_agreement"))
    assert "EvalPython" not in final
    assert "CartesianProduct" not in final


def test_frontier_windows_are_query_keyed(spark):
    """sim_compression_frontier: all four rank windows in the staged
    hit-count core partition by q_id; no Python, no cartesian beyond
    scalar broadcasts — checked on the core statement (the operator
    localCheckpoints it, so the final plan only shows the ladder)."""
    import re

    from mcp_rag_server_spark.catalog import load_table, sql
    from mcp_rag_server_spark.operators.vector_audit import (
        _frontier_hits_sql,
        _frontier_proj_sql,
    )

    emb = load_table(spark, SF, "embeddings")
    core = sql(
        spark,
        _frontier_hits_sql("spark", staged=True),
        embeddings=emb,
        cf_proj_v=sql(
            spark, _frontier_proj_sql(), embeddings=emb
        ).localCheckpoint(eager=True),
    )
    plan = plan_string(core)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs and all("q_id" in s for s in specs), specs
    final = plan_string(q(spark, "sim_compression_frontier"))
    assert "EvalPython" not in final
    assert "CartesianProduct" not in final


def test_stickiness_is_bounded_fanout(spark):
    """ev_stickiness_ratio: the rolling distinct is a xW explode of
    the (user, day) table — a Generate over the post-distinct
    aggregate — no corpus-wide window, no Python."""
    import re

    plan = plan_string(q(spark, "ev_stickiness_ratio"))
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0
    assert "Generate explode" in plan or "explode" in plan


def test_gains_chart_window_over_bucket_table(spark):
    """ta_gains_chart: the only window spec is the top-down cumulative
    over the ≤1001-row bucket table, with an aggregate beneath it —
    no Python, no cartesian beyond the bounded grid join."""
    import re

    plan = plan_string(q(spark, "ta_gains_chart"))
    assert "EvalPython" not in plan
    # the unpartitioned cumulative spec appears in exactly one Window
    # node (cum evaluated once — the first draft referenced it twice);
    # the per-depth argmin rank is depth-partitioned
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    unpart = [x for x in specs if x.lstrip().startswith("s#")]
    assert len(unpart) == 2, specs  # cum_n + cum_pos on one spec
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    wline = next(i for i, ln in enumerate(lines) if "Window" in ln)
    assert "HashAggregate" in "\n".join(lines[wline:])


def test_du_rollup_is_depth_bounded_explode(spark):
    """fileops_du_rollup: the recursion is an ancestor explode
    (Generate) + one group-by — no window, no Python, no
    cartesian."""
    import re

    plan = plan_string(q(spark, "fileops_du_rollup"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0
    assert "explode" in plan


def test_ohlc_windows_share_hour_partition(spark):
    """ev_ohlc_bars: both rank windows partition by the hour key the
    group-by needs — no unpartitioned spec, no Python."""
    import re

    plan = plan_string(q(spark, "ev_ohlc_bars"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs and all("eh" in s for s in specs), specs


def test_skyline_window_over_distinct_prices(spark):
    """agg_skyline_2d: the only window runs over the post-aggregation
    distinct-price table (HashAggregate beneath it) — never an
    all-pairs dominance join; no Python, no cartesian."""
    import re

    plan = plan_string(q(spark, "agg_skyline_2d"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    wline = next(i for i, ln in enumerate(lines) if "Window" in ln)
    assert "HashAggregate" in "\n".join(lines[wline:])


def test_conversion_sweep_is_one_pass(spark):
    """ev_conversion_window_sensitivity: two keyed MIN aggregates + a
    4-row grid broadcast — no window, no Python, no cartesian beyond
    the grid."""
    import re

    plan = plan_string(q(spark, "ev_conversion_window_sensitivity"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0


def test_burstiness_window_is_user_keyed(spark):
    """ev_interpurchase_burstiness: the lag rides the user partition;
    one single-row reduce above it — no unpartitioned spec, no
    Python."""
    import re

    plan = plan_string(q(spark, "ev_interpurchase_burstiness"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs and all("user_id" in s for s in specs), specs


def test_filtered_topk_pushes_predicates_and_heap(spark):
    """sim_filtered_topk: PRE-filtering means the lang/n_chars
    predicates must reach the documents parquet scan (at 100 TB the
    filter prunes before any vector math), the scan must not drag the
    text column, and the top-k must be the shuffle-free heap
    (TakeOrderedAndProject), not a global sort."""
    df = q(spark, "sim_filtered_topk")
    pf = pushed_filters(df, "documents.parquet")
    assert "lang" in pf and "n_chars" in pf, pf
    assert "text" not in read_schema(df, "documents.parquet")
    assert has_take_ordered(df)


def test_range_trailing30_window_is_customer_keyed(spark):
    """window_range_trailing30: ONE Window node, keyed by o_custkey
    (a RANGE frame over an unpartitioned spec would single-task the
    corpus), and the o_custkey predicate reaches the parquet scan."""
    import re

    df = q(spark, "window_range_trailing30")
    plan = plan_string(df)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs and all("o_custkey" in s for s in specs), specs
    assert "o_custkey" in pushed_filters(df, "orders.parquet")


def test_recursive_reach_recursion_never_rescans_parquet(spark):
    """sql_recursive_reach: the edge table is derived ONCE and
    localCheckpoint'd before the recursion (a recursive member
    re-evaluates every CTE it references per iteration — inlined, each
    hop re-ran the lead window over the whole events table). The
    returned plan must traverse the checkpointed RDD, never the
    parquet source."""
    plan = plan_string(q(spark, "sql_recursive_reach"))
    assert "Scan parquet" not in plan, plan
    # Spark 4 prints the recursive loop as UnionLoop; its static side
    # must be the checkpointed RDD (LogicalRDD / ExistingRDD).
    assert "UnionLoop" in plan, plan
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan


def test_admission_pipeline_is_one_jvm_plan(spark):
    """ta_admission_pipeline: five stages, ONE Catalyst plan — no
    Python eval anywhere, no cartesian, and every window keyed (the
    dedup window by the fingerprint expression, the budget cumsum by
    source) so no stage collapses to a single task."""
    import re

    plan = plan_string(q(spark, "ta_admission_pipeline"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, plan
    for s in specs:
        assert "source" in s or "md5" in s or "_w" in s, s


def test_pq_train_argmin_is_partial_agg_not_window(spark):
    """sim_pq_train: both Lloyd argmin passes are map-side
    min(struct(dd, label)) partial aggregations — the plan carries one
    row per (vec_id, m) across the wire and contains NO Window node
    (a rank-1 window would shuffle all k scored copies) and no
    Python."""
    import re

    plan = plan_string(q(spark, "sim_pq_train"))
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0, plan


def test_round8_perf_fixes_stay_pinned(spark):
    """The four round-8 plan fixes, pinned so they can't silently
    regress (BENCH_NOTES 'Round-8'):

    1. sim_knn_graph carries a RoundRobinPartitioning exchange under
       its pair stage — a by-key repartition there is ELIMINATED by
       EnsureRequirements (the upstream shuffle already
       hash-partitions on the same key) and AQE coalesces the survivor
       to one reader, single-tasking the heavy per-pair fold; only
       round-robin survives to the executed plan.
    2. dd_containment likewise round-robins its probe side (same
       collapse mechanism, via the broadcast build side inheriting the
       single-row-group scan's partitioning).
    3. agg_percentile_audit reads lineitem ONCE — the array forms of
       percentile_approx/percentile share one buffer (three per-p
       aggregate passes scanned it three times).
    4. ta_fingerprint builds the shingle array once per row — the
       coalesce form; the size()-guarded CASE evaluated the
       word_shingles fragment (its `sequence(1, greatest(` spine)
       twice in the same Project."""
    import re

    p = plan_string(q(spark, "sim_knn_graph"))
    assert "RoundRobinPartitioning" in p

    p = plan_string(q(spark, "dd_containment"))
    assert "RoundRobinPartitioning" in p

    p = plan_string(q(spark, "agg_percentile_audit"))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p[:1500]

    p = plan_string(q(spark, "ta_fingerprint"))
    assert p.count("sequence(1, greatest(") == 1


def test_final_plans_read_checkpointed_stage(spark):
    reg = load_all()
    for name in CKPT_QUERIES:
        df = reg[name].spark_fn(spark, SF0001)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan, name
        # the re-inlined form this replaced scanned parquet many times
        # in ONE statement; the checkpointed final statement must not
        # (tpch_q21 keeps its supplier-dim scan, ev_ivm its bounds,
        # ta_bpe_apply its docw corpus explode; the bound asserts the
        # blow-up is gone, not zero scans). "Scan parquet" matches both
        # the v1 "FileScan parquet" and v2 "BatchScan parquet"
        # spellings exactly once per scan node (counting both patterns
        # would double-count every scan).
        n_scans = plan.count("Scan parquet")
        assert n_scans <= 3, (name, n_scans)

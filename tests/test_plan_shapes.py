"""Plan-shape assertions: the 100 TB performance contract.

These tests pin the physical properties that matter at scale:
pushdown reaching the scan, broadcasts for small dims, partial
aggregation for the core compact, bounded shuffle counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from changedatacapture_spark.plans.inspect import (
    count_exchanges,
    executed_plan,
    has_broadcast_join,
    pushed_filters,
)
from changedatacapture_spark.queries import SPARK_QUERIES


def _run(spark, sf_dir, name):
    df = SPARK_QUERIES[name](spark, sf_dir)
    df.collect()  # materialize so AQE finalizes the executed plan
    return df


def test_q1_filter_pushdown_and_partial_agg(spark, sf_dir):
    df = _run(spark, sf_dir, "q1_pricing_summary")
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, f"shipdate filter not pushed: {pf}"
    plan = executed_plan(df)
    assert "partial" in plan.lower(), "no map-side partial aggregation"


def test_q1_column_pruning(spark, sf_dir):
    from changedatacapture_spark.sources.tables import load_table

    df = SPARK_QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    plan = executed_plan(df)
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m, "no ReadSchema in scan"
    # 16-column lineitem must be pruned to the 7 columns q1 touches
    assert "l_orderkey" not in m[0] and "l_partkey" not in m[0]


def test_q3_broadcasts_customer_dim(spark, sf_dir):
    df = _run(spark, sf_dir, "q3_top_revenue_orders")
    assert has_broadcast_join(df)
    pf = " ".join(pushed_filters(df))
    assert "c_mktsegment" in pf, f"segment filter not pushed: {pf}"


def test_compact_shuffles_once(spark, sf_dir):
    df = _run(spark, sf_dir, "cdc_compact")
    assert count_exchanges(df) == 1, executed_plan(df)
    assert "Window" not in executed_plan(df)


def test_knn_brute_broadcasts_probes(spark, sf_dir):
    df = _run(spark, sf_dir, "knn_brute_topk")
    assert has_broadcast_join(df), "probe side must broadcast, not shuffle"


def test_exact_dedup_is_partial_agg(spark, sf_dir):
    df = _run(spark, sf_dir, "dedup_exact")
    plan = executed_plan(df)
    assert "partial" in plan.lower()
    assert count_exchanges(df) == 1, plan


def test_q4_semi_join_with_pushed_flag(spark, sf_dir):
    """EXISTS compiles to one broadcast semi-join; the returnflag
    filter must reach the lineitem scan, not run post-join."""
    df = _run(spark, sf_dir, "q4_priority_with_returns")
    plan = executed_plan(df)
    assert "LeftSemi" in plan, plan
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 1, plan
    pf = " ".join(pushed_filters(df))
    assert "l_returnflag" in pf, f"returnflag filter not pushed: {pf}"


def test_q7_single_fact_shuffle(spark, sf_dir):
    """6-way join chain: every dimension broadcasts; lineitem is
    scanned once and shuffles only for the orders join + final agg."""
    df = _run(spark, sf_dir, "q7_nation_pair_revenue")
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert plan.count("lineitem.parquet") == 1, "fact scanned more than once"
    assert count_exchanges(df) <= 2, plan


def test_q21_window_replaces_self_join(spark, sf_dir):
    """Sole-supplier detection must use the min/max window rewrite:
    one lineitem scan, no self-join."""
    df = _run(spark, sf_dir, "q21_sole_supplier_lines")
    plan = executed_plan(df)
    assert plan.count("lineitem.parquet") == 1, "self-join reintroduced"
    assert count_exchanges(df) <= 2, plan


def test_q22_anti_join_with_pushed_priority(spark, sf_dir):
    """NOT EXISTS compiles to a broadcast anti-join; the priority
    filter must reach the orders scan (hash side stays small)."""
    df = _run(spark, sf_dir, "q22_idle_rich_customers")
    plan = executed_plan(df)
    assert "LeftAnti" in plan, plan
    pf = " ".join(pushed_filters(df))
    assert "o_orderpriority" in pf, f"priority filter not pushed: {pf}"


def test_q2_argmin_reuses_agg_partitioning(spark, sf_dir):
    """The (partkey, suppkey) aggregate and the per-partkey argmin
    window must not add a third fact-side exchange (brand semi-join
    broadcasts; agg + window + final sort bound the rest)."""
    df = _run(spark, sf_dir, "q2_min_cost_supplier")
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 3, executed_plan(df)


def test_q8_all_dims_broadcast_one_fact_shuffle(spark, sf_dir):
    """Six dims (region→nation→customer, supplier→nation, part) all
    broadcast; lineitem scans once and shuffles only for the orders
    join + final year aggregation."""
    df = _run(spark, sf_dir, "q8_market_share")
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert plan.count("lineitem.parquet") == 1, "fact scanned more than once"
    assert count_exchanges(df) <= 2, plan


def test_q9_part_filter_pushed(spark, sf_dir):
    """The widget LIKE-filter prunes part before broadcast; the fact
    shuffles once for the orders join."""
    df = _run(spark, sf_dir, "q9_product_profit")
    assert has_broadcast_join(df)
    pf = " ".join(pushed_filters(df))
    assert "p_name" in pf, f"part name filter not pushed: {pf}"
    assert count_exchanges(df) <= 2, executed_plan(df)


def test_ivf_assignment_is_zero_shuffle_projection(spark, sf_dir):
    """IVF cell assignment must stay a projection: the only exchanges
    are the probe-side window (tiny) and the candidate join/top-k —
    never a corpus-wide extra shuffle for the argmax."""
    df = _run(spark, sf_dir, "knn_ivf_topk")
    plan = executed_plan(df)
    assert has_broadcast_join(df), "probe cells must broadcast"
    assert plan.count("embeddings.parquet") == 2, "corpus+probes scan twice only"


def test_seq_packing_no_whole_stream_window(spark, sf_dir):
    """Packing is a two-phase prefix sum: the only window touching the
    full corpus partitions by (stream, chunk) — never by the stream
    alone, which would serialize each stream's entire sort+sum on one
    executor. The stream-only window is allowed solely on the tiny
    chunk-subtotal table (it sits under the broadcast exchange)."""
    import re

    df = _run(spark, sf_dir, "seq_packing_bins")
    plan = executed_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    row_level = [s for s in specs if "doc_id" in s]
    assert row_level, f"no row-level window found: {specs}"
    for s in row_level:
        assert "_chunk" in s, f"whole-stream window over the corpus: {s}"
    # bulk side broadcasts the chunk offsets, never shuffles on them
    assert has_broadcast_join(df), plan


def test_split_assign_no_shuffle(spark, sf_dir):
    """Split assignment is content-addressed hashing — a pure
    projection with a final tiny aggregate; the scan must not
    shuffle the corpus beyond the 3-group count."""
    df = _run(spark, sf_dir, "dataset_split_assign")
    assert count_exchanges(df) <= 1, executed_plan(df)


def test_pii_scrub_is_pure_projection(spark, sf_dir):
    """Regex scrub + counts must ride the scan: zero exchanges."""
    df = _run(spark, sf_dir, "pii_scrub")
    assert count_exchanges(df) == 0, executed_plan(df)


def test_stratified_sample_is_pure_predicate(spark, sf_dir):
    """Content-addressed sampling is filter-only: zero exchanges."""
    df = _run(spark, sf_dir, "dataset_stratified_sample")
    assert count_exchanges(df) == 0, executed_plan(df)


def test_repetition_counts_are_partial_agg(spark, sf_dir):
    """Gram counting is wordcount-shaped: map-side partial aggregation,
    no window, no nested-loop join anywhere."""
    df = _run(spark, sf_dir, "text_repetition")
    plan = executed_plan(df)
    assert "partial" in plan.lower(), plan
    assert "Window" not in plan
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_kmeans_step_is_projection_plus_one_aggregate(spark, sf_dir):
    """Cell assignment must stay a zero-shuffle projection; the only
    exchange is the (cell, d) aggregate, which combines map-side."""
    df = _run(spark, sf_dir, "kmeans_refine_step")
    plan = executed_plan(df)
    assert count_exchanges(df) == 1, plan
    assert "partial" in plan.lower(), plan
    assert plan.count("embeddings.parquet") == 1, "corpus scanned once"


def test_kmeans_fit_iteration_stays_join_free(spark, sf_dir):
    """The refined-centroid pass folds the collected artifact back in
    as a literal matrix: no data-by-centroid join, one aggregate."""
    df = _run(spark, sf_dir, "kmeans_fit_2iter")
    plan = executed_plan(df)
    assert "Join" not in plan, plan
    assert count_exchanges(df) == 1, plan


def test_frame_sample_streams_through_arrow(spark, sf_dir):
    """Frame slicing is mapInPandas over the scan: no exchange, no
    driver-side materialization in the plan."""
    df = _run(spark, sf_dir, "media_frame_sample")
    plan = executed_plan(df)
    assert count_exchanges(df) == 0, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan


def test_token_budget_windows_partition_by_chunk(spark, sf_dir):
    """The greedy fill's row-level window must partition by
    (stream, quality) — never the stream alone."""
    import re

    df = _run(spark, sf_dir, "token_budget_select")
    plan = executed_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    row_level = [s for s in specs if "doc_id" in s]
    assert row_level, f"no row-level window: {specs}"
    for s in row_level:
        assert "quality_pm" in s, f"whole-stream window: {s}"
    assert has_broadcast_join(df), plan


def test_contamination_never_goes_quadratic(spark, sf_dir):
    """Decontamination joins on shingle keys — an equi-join with
    partial-agg overlap counts, never a nested-loop pairing."""
    df = _run(spark, sf_dir, "decontaminate_ngrams")
    plan = executed_plan(df)
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    assert "partial" in plan.lower(), plan


def test_boilerplate_two_data_shuffles(spark, sf_dir):
    # gram-key docfreq agg + final per-doc agg: the gram text never
    # shuffles and no third data-sized exchange appears
    df = _run(spark, sf_dir, "text_boilerplate")
    assert count_exchanges(df) <= 2


def test_scd2_single_shuffle_shape(spark, sf_dir):
    df = _run(spark, sf_dir, "cdc_scd2_history")
    assert count_exchanges(df) == 1


def test_reconciliation_aggregates_before_outer_join(spark, sf_dir):
    # orders aggregate to one row per customer BEFORE the full outer
    # join: the join's inputs are both keyed, no row explosion
    df = _run(spark, sf_dir, "q_customer_order_reconciliation")
    assert count_exchanges(df) <= 3


def test_running_value_single_shuffle_with_pushed_filter(spark, sf_dir):
    df = _run(spark, sf_dir, "events_running_value")
    assert count_exchanges(df) == 1
    pf = " ".join(pushed_filters(df))
    assert "event_type" in pf


def test_shard_assign_no_stream_wide_sort(spark, sf_dir):
    # two-phase prefix sum: exchanges stay bounded (chunked windows +
    # offsets join), never one window over a whole mime stream
    df = _run(spark, sf_dir, "media_shard_assign")
    assert count_exchanges(df) <= 4


def test_resample_window_runs_on_spine_not_raw_rows(spark, sf_dir):
    """The gap-fill's forward-fill window must consume the SPINE-sized
    joined table (|types| x |hours|), with the raw events reduced first
    by a map-side-combinable hourly aggregation — the window never sees
    a data-sized input, so a 100x corpus only grows the pre-agg."""
    df = _run(spark, sf_dir, "events_resample")
    plan = executed_plan(df)
    assert "partial" in plan.lower(), "hourly pre-agg lost its map-side combine"
    # the fill is a window over (event_type, hour) ordering — present once
    assert "windowspecdefinition" in plan.lower(), plan
    # spine generation is explode(sequence(...)), not a second data scan
    assert "explode" in plan.lower() or "generate" in plan.lower(), plan


def test_kmv_two_level_rank_is_bounded_no_collect_list(spark, sf_dir):
    """The KMV min-k must never materialize a whole cell in one heap:
    no collect_list anywhere — both the salted per-cell rank and the
    global re-rank are row_number windows whose rn<=k filters Spark
    pushes down as WindowGroupLimit (rank computation stops at k per
    partition inside the spillable external sorter)."""
    from changedatacapture_spark.plans.inspect import optimized_plan

    df = _run(spark, sf_dir, "kmv_distinct_users")
    logical = optimized_plan(df)  # expression-level detail lives here
    assert "collect_list" not in logical, "unbounded array agg crept back"
    # the salt survives as an inlined partitioning expression pmod(hv, 32)
    assert "pmod(hv" in logical, "per-cell rank not salted"
    # BOTH rn<=k filters must push into the windows as group limits
    assert logical.count("WindowGroupLimit") >= 2, logical
    assert "partial" in executed_plan(df).lower(), (
        "distinct/agg lost map-side combine"
    )


def test_bigram_pairs_from_in_array_transform_no_self_join(spark, sf_dir):
    """Bigrams come from transform() over each document's token array —
    adjacent pairs need NO positional self-join; the plan must be free
    of cartesian/nested-loop joins and keep partial aggregation."""
    df = _run(spark, sf_dir, "text_bigram_lm")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "partial" in plan.lower(), "bigram count lost map-side combine"


def test_stream_static_enrich_broadcasts_dim_no_stream_shuffle(spark, sf_dir):
    """The enrichment join's contract: the dimension side is broadcast,
    so the (potentially unbounded) stream side never shuffles. Verified
    on the identical batch plan — stream-static joins reuse the batch
    join physical strategies per micro-batch."""
    from changedatacapture_spark.sources.tables import load_table
    from changedatacapture_spark.streaming.pipeline import stream_static_enrich

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id")
    dim = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment"
    )
    df = stream_static_enrich(ev, dim, F.col("c_custkey") == F.col("user_id"))
    df.collect()
    assert has_broadcast_join(df)
    # only the dim broadcast exchange; the stream side stays map-only
    plan = executed_plan(df)
    assert "Exchange hashpartitioning" not in plan, plan


def test_cms_counters_broadcast_and_partial_agg(spark, sf_dir):
    """The CMS estimate side must join DISTINCT keys against a
    broadcast counter table (256 cells), and the counter build must
    partial-aggregate map-side — the sketch state, not the event
    stream, is what crosses the wire."""
    df = _run(spark, sf_dir, "events_cms_user_counts")
    assert has_broadcast_join(df)
    assert "partial" in executed_plan(df).lower()


def test_bloom_build_side_is_broadcast(spark, sf_dir):
    """The Bloom bit set (≤ m rows) must broadcast to the probe side
    regardless of build cardinality — that is the entire point of the
    sketch vs broadcasting the key set."""
    df = _run(spark, sf_dir, "events_bloom_probe")
    assert has_broadcast_join(df)


def test_hashed_linear_score_single_scan_partial_agg(spark, sf_dir):
    """One tokenizing scan of documents, map-side-combinable weight
    sum: the shuffle carries one row per document, never the tokens."""
    df = _run(spark, sf_dir, "text_hashed_linear_score")
    plan = executed_plan(df)
    assert plan.lower().count("filescan") == 1 or plan.count("Scan parquet") == 1
    assert "partial" in plan.lower()


def test_int8_topk_broadcasts_probes(spark, sf_dir):
    """Quantized ANN: probe side broadcast; corpus scanned once."""
    df = _run(spark, sf_dir, "knn_int8_topk")
    assert has_broadcast_join(df)


def test_inverted_index_posting_cap_is_salted_two_level(spark, sf_dir):
    """The posting cap must never hand one task a stopword's full
    posting list: the first-level rank partitions by
    (token, pmod(doc_id, 16)) — a salt that bounds every sort cell to
    1/16 of the hottest token — and both rn<=100 filters push into the
    windows as WindowGroupLimit, so rank computation stops at k inside
    the spillable sorter. The final collect_list is bounded by the
    rank filter (<=100 ids per token), not by corpus size."""
    from changedatacapture_spark.plans.inspect import optimized_plan

    df = _run(spark, sf_dir, "text_inverted_index")
    logical = optimized_plan(df)
    assert "pmod(doc_id" in logical, "posting rank not salted"
    assert logical.count("WindowGroupLimit") >= 2, logical
    # no single-partition-per-token sort over raw postings: every
    # windowspec over the raw (token, doc_id) stream carries the salt
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", logical)
    # the salt is projected as a _w<N> helper column; the first-level
    # spec partitions by (token, salt), the second level — which sees
    # at most salts*k rows per token — by token alone
    salted = [s for s in specs if re.search(r"token#\d+, _w\d+", s)]
    assert salted, f"salted first-level window missing: {specs}"


def test_skew_split_join_has_both_paths(spark, sf_dir):
    """The skew split must materialize BOTH join strategies: a
    broadcast hash join for the hot keys (explicit hint) and a
    shuffle join for the cold remainder, unioned. Auto-broadcast is
    disabled for the check because at test scale AQE would broadcast
    the tiny cold side too — at 100 TB it cannot; the hint-driven hot
    path is what the operator guarantees."""
    from changedatacapture_spark.plans.inspect import executed_plan
    from changedatacapture_spark.queries import SPARK_QUERIES

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe_thr = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        # sf0.01, not the sf0.001 fixture: at sf0.001 every user fits
        # in the top-100 hot set, the cold branch is empty, and AQE
        # (correctly) prunes the union — both paths only coexist once
        # key cardinality exceeds hot_keys
        df = SPARK_QUERIES["q_skew_split_join"](spark, "/root/testdata/sf0.01")
        df.collect()
        plan = executed_plan(df)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Union" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        if old_aqe_thr is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe_thr
            )


def test_substring_spans_no_pair_join(spark, sf_dir):
    """The substring-dedup scan must contain NO document-pair join and
    no cartesian product: cost is linear in corpus characters (gram
    agg keyed on the gram + one position join back + per-doc window)."""
    df = _run(spark, sf_dir, "dedup_substring_spans")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    # islands merge is one window per doc over surviving positions
    assert "Window" in plan


def test_ppl_buckets_lm_joins_stay_vocab_keyed(spark, sf_dir):
    """The perplexity scorer joins the per-doc bigram stream against
    AGGREGATED LM relations; the vocabulary scalar must arrive as a
    1-row broadcast, never a shuffle of the corpus."""
    df = _run(spark, sf_dir, "text_ppl_buckets")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan
    assert has_broadcast_join(df), "V scalar / LM side should broadcast"


def test_ppl_buckets_tertile_cut_is_shuffle_bounded(spark, sf_dir):
    """The tertile cut must be the two-phase prefix-sum rank, never a
    single-partition ntile over every scored doc: any window spec that
    touches doc_id (row level) must be PARTITIONED by the score, and
    the only unpartitioned window allowed is the prefix sum over the
    metadata-scale per-score count relation (no doc_id in its spec)."""
    import re

    df = _run(spark, sf_dir, "text_ppl_buckets")
    plan = executed_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    row_level = [s for s in specs if "doc_id" in s]
    assert row_level, f"no row-level window found: {specs}"
    for s in row_level:
        assert "ppl_milli" in s, (
            f"row-level window not partitioned by score (global-sort "
            f"straggler at 100 TB): {s}"
        )
    assert "ntile" not in plan.lower(), "registered plan still uses ntile"


def test_decontaminate_cdf_incremental_broadcast_probe(spark, sf_dir):
    """The change-feed decontamination probe must be delta-bounded:
    the benchmark's distinct-shingle set arrives at the delta scan as
    a BROADCAST (no shuffle of the scored side for the probe join);
    the corpus is touched only by the change feed's own keyed version
    diff. No cartesian product anywhere."""
    df = _run(spark, sf_dir, "decontaminate_cdf_incremental")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_text_index_cdf_tombstone_mask_is_hash_anti_join(spark, sf_dir):
    """The incremental index probe's tombstone mask must lower to
    BroadcastHashJoin LeftAnti (equi doc_id key + seg-inequality
    residual), never a per-row nested loop over the postings; no
    cartesian product anywhere (the only NLJ allowed is the 1-row
    totals broadcast every BM25 plan carries)."""
    df = _run(spark, sf_dir, "text_index_cdf_incremental")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    anti_lines = [
        ln for ln in plan.splitlines() if "LeftAnti" in ln
    ]
    assert anti_lines, plan[:1500]
    assert all("BroadcastHashJoin" in ln for ln in anti_lines), anti_lines
    assert not any(
        "NestedLoop" in ln for ln in anti_lines
    ), anti_lines


def test_dsir_select_rank_is_shuffle_bounded(spark, sf_dir):
    """The DSIR selection rank must be the two-phase prefix-sum cut,
    never a single-partition row_number over every scored doc (the
    same straggler shape the ppl_buckets pin bans): every row-level
    window spec (touching doc_id) must be partitioned by the score
    column; the only unpartitioned window allowed is the prefix sum
    over the metadata-scale distinct-score relation."""
    import re

    df = _run(spark, sf_dir, "text_dsir_select")
    plan = executed_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    row_level = [s for s in specs if "doc_id" in s]
    assert row_level, f"no row-level window found: {specs}"
    for s in row_level:
        assert "logw_milli" in s, (
            f"row-level window not partitioned by score (global-sort "
            f"straggler at 100 TB): {s}"
        )


def test_label_partitioned_ann_scan_prunes_to_label(spark, sf_dir):
    """The filtered probe must hit ONLY its label's index partition:
    the index scan carries a PartitionFilters entry on label (other
    labels' cells are never read — the layout that closes the
    post-filter recall trap), and the full-dimension corpus is touched
    only by the shortlist point-lookup join, never a second full scan
    with the label predicate."""
    import re

    df = _run(spark, sf_dir, "knn_label_partitioned_topk")
    plan = executed_plan(df)
    m = re.search(r"PartitionFilters: \[[^\]]*label[^\]]*=\s*3[^\]]*\]", plan)
    assert m, f"no label partition pruning on the index scan:\n{plan[:2000]}"
    assert "CartesianProduct" not in plan


def test_bucketed_ann_scan_prunes_to_bucket_and_pushes_label(spark, sf_dir):
    """The composite-key probe must prune the index scan to its
    label's BUCKET partition (PartitionFilters on label_bucket) and
    push the residual label equality into that bucket's parquet scan
    (PushedFilters) — the layout that bounds partition count at B for
    high-cardinality labels while still reading ~1/B of the index."""
    import re

    df = _run(spark, sf_dir, "knn_label_bucketed_topk")
    plan = executed_plan(df)
    m = re.search(
        r"PartitionFilters: \[[^\]]*label_bucket[^\]]*=[^\]]*\]", plan
    )
    assert m, f"no bucket partition pruning on the index scan:\n{plan[:2000]}"
    mp = re.search(r"PushedFilters: \[[^\]]*EqualTo\(label,3\)[^\]]*\]", plan)
    assert mp, f"label residual not pushed into the bucket scan:\n{plan[:2000]}"
    assert "CartesianProduct" not in plan


def test_emb_dedup_capped_no_unbounded_bucket_join(spark, sf_dir):
    """The capped embedding dedup must keep its bucket census broadcast
    (≤ 2^n_planes rows) and produce no cartesian product; the hot path
    joins on (bucket, rank) equi-keys only."""
    df = _run(spark, sf_dir, "emb_dedup_groups")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_dedup_cdf_incremental_probe_broadcasts_delta(spark, sf_dir):
    """The change-feed incremental probe must be delta-bounded: the
    delta's band relation (and the hot-bucket censuses) arrive at the
    corpus scan as broadcasts — BroadcastHashJoins, never a corpus
    self-join or a cartesian product. The only sort-merge joins
    allowed are the change feed's own keyed full-outer."""
    df = _run(spark, sf_dir, "dedup_cdf_incremental")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan[:1500]


def test_point_in_time_join_is_window_pass_not_range_join(spark, sf_dir):
    """The point-in-time feature join must be the union + single
    key-partitioned window pass — never an interval/range join (hot
    keys would pair-explode) and never an unpartitioned window (driver
    straggler): no cartesian or nested-loop join anywhere, and every
    window spec partitions by the key."""
    import re

    df = _run(spark, sf_dir, "cdc_point_in_time_join")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan[:1500]
    assert all("key_id" in s for s in specs), specs
    assert "Union" in plan, plan[:1500]


def test_hybrid_rrf_fusion_is_list_sized(spark, sf_dir):
    """RRF fusion must aggregate the unioned top-k lists with a
    partial (map-side) aggregate; the only nested-loop allowed is the
    two 1-row broadcasts the legs carry (BM25 corpus constants, the
    single probe vector). The documents/embeddings corpora each scan
    once per leg — fusion itself adds no corpus scan."""
    df = _run(spark, sf_dir, "text_hybrid_rrf_search")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower(), plan[:1500]
    assert "Union" in plan, plan[:1500]


def test_decayed_score_broadcasts_reference_day(spark, sf_dir):
    """The half-life decay must be one codegen'd scan + one keyed
    aggregate: the reference-day relation is a 1-row broadcast (the
    only nested-loop allowed), the per-user sum partially aggregates
    map-side, and no Python UDF appears anywhere."""
    df = _run(spark, sf_dir, "events_decayed_score")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower(), plan[:1500]
    assert "PythonUDF" not in plan, plan[:1500]


def test_cow_merge_caches_the_batch_with_static_planning(
    spark, tmp_path, monkeypatch
):
    """The copy-on-write merge caches its batch inside the static
    planning window: a cached plan is fixed at ``persist()``, and an
    adaptive one would run each of the batch's exchanges (here a
    repartition and the compact shuffle) as its own job. A warm merge
    is then three jobs: the cache-filling probe, the batch-key
    broadcast and the bucket write."""
    from changedatacapture_spark.operators.cdc import compact_latest
    from changedatacapture_spark.streaming import sink

    t = sink.SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    plans = []
    write = sink._CopyOnWrite.write

    def spy(self, table, source, a):
        plans.append(source._jdf.queryExecution().executedPlan().toString())
        return write(self, table, source, a)

    monkeypatch.setattr(sink._CopyOnWrite, "write", spy)

    def batch(i):
        df = spark.range(0, 2000).select(
            (F.col("id") * 7 + i).alias("k"), F.lit("u").alias("op"),
            F.lit(i).alias("ts"), F.col("id").alias("seq"),
            (F.col("id") + i).alias("v"),
        )
        return compact_latest(df.repartition(5), ["k"], ["ts", "seq"])

    sc = spark.sparkContext
    jobs = []
    for i in range(3):
        sc.setJobGroup(f"cow-merge-{i}", "copy-on-write merge")
        try:
            t.merge(batch(i), batch_id=i)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"cow-merge-{i}")))
    assert "InMemoryRelation" in plans[-1]
    assert "AdaptiveSparkPlan" not in plans[-1], plans[-1]
    assert jobs[1:] == [3, 3]

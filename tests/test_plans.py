"""Physical-plan assertions: the plans we designed for 100 TB must stay
the plans Catalyst actually produces. Each test pins a property that a
careless refactor could silently regress (pushdown lost, broadcast
dropped, an extra exchange) — correctness tests would still pass, but
the query would fall over at scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grouper_spark.queries import load_all


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q01_filter_pushed_to_scan(spark, sf_dir, registry):
    df = registry["q01_pricing_summary"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q01_column_pruned_scan(spark, sf_dir, registry):
    df = registry["q01_pricing_summary"].fn(spark, sf_dir)
    plan = plan_of(df)
    # the lineitem scan must not read join keys / comment-ish columns
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_orderkey" not in scan
    assert "l_partkey" not in scan


def test_q11_dimension_join_is_broadcast(spark, sf_dir, registry):
    df = registry["q11_broadcast_join"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    # the fact (customer) side must NOT be exchanged for the dim join
    assert "BroadcastExchange" in plan


def test_q37_corpus_never_shuffled_before_scoring(spark, sf_dir, registry):
    df = registry["q37_ann_bruteforce"].fn(spark, sf_dir)
    plan = plan_of(df)
    # query side broadcast; the only hash exchange is the final window's
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges <= 1, plan


def test_q12_partial_aggregation_before_shuffle(spark, sf_dir, registry):
    df = registry["q12_shuffle_join"].fn(spark, sf_dir)
    plan = plan_of(df)
    # map-side combine: a partial_count must appear below the group exchange
    assert "partial_count" in plan


def test_salted_join_matches_plain_join(spark):
    from grouper_spark.operators import salted_join

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "d")] * 5, ["k", "v"]
    )
    right = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["k", "w"])
    got = salted_join(left, right, on="k", n_salts=4)
    want = left.join(right, "k")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the join key set must include the salt
    assert "__salt" in plan_of(got)


def test_salted_join_left_keeps_unmatched(spark):
    from grouper_spark.operators import salted_join

    left = spark.createDataFrame([(1, "a"), (9, "z")], ["k", "v"])
    right = spark.createDataFrame([(1, 10)], ["k", "w"])
    got = sorted(map(tuple, salted_join(left, right, "k", how="left").collect()))
    assert got == [(1, "a", 10), (9, "z", None)]


def test_minhash_lsh_single_signature_pipeline(spark, sf_dir, registry):
    # posting-list design: the doc-grouping aggregate must appear exactly
    # once (a self-join formulation would build it twice)
    df = registry["q35_minhash_lsh"].fn(spark, sf_dir)
    plan = optimized_of(df)
    assert plan.count("xxhash64(concat(mh0|") == 1, plan


def test_q83_neardup_no_allpairs_join(spark, sf_dir, registry):
    # the scale path must generate candidates via bucket equi-joins —
    # never a corpus×corpus nested-loop/cartesian product (q53 keeps the
    # all-pairs formulation as the oracle; q83 is the one users run)
    df = registry["q83_neardup_lsh_rerank"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # candidate→vector rerank joins are equi-joins
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_q84_decontamination_is_posting_join(spark, sf_dir, registry):
    # eval-vs-train contamination must meet on the gram equi-join key —
    # a nested-loop "contains" formulation would be O(eval x train)
    df = registry["q84_decontaminate"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q86_hash_split_single_exchange(spark, sf_dir, registry):
    # split assignment is map-side; the only shuffle is the 3-key rollup
    df = registry["q86_hash_split"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # partial+final distinct


def test_q91_fence_join_is_broadcast(spark, sf_dir, registry):
    # the per-type fence table is tiny: re-joining it onto the fact scan
    # must broadcast, never shuffle the events side
    df = registry["q91_iqr_outliers"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan


def test_q87_corpus_count_is_broadcast(spark, sf_dir, registry):
    # N reaches the scorer as a broadcast 1-row aggregate, and term
    # scoring joins tf->df on the term equi-key
    df = registry["q87_tfidf_keywords"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q96_exists_decorrelates_to_semi_anti(spark, sf_dir, registry):
    # EXISTS/NOT EXISTS must decorrelate into semi/anti joins — a
    # per-outer-row subquery execution would be O(n) round trips
    df = registry["q96_exists_subquery"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_q97_scalar_subqueries_become_aggregate_joins(spark, sf_dir, registry):
    # the four textual scalar subqueries must execute as aggregate+join,
    # never per-row; Catalyst also dedups the repeated per-customer
    # sum/count into shared subtrees (at most 2 distinct aggregations)
    df = registry["q97_scalar_subquery"].fn(spark, sf_dir)
    plan = optimized_of(df)
    assert "Join" in plan, plan
    n_aggs = plan.count("Aggregate [o_custkey")
    assert n_aggs <= 2, plan


def test_q98_lateral_executes_as_ranked_join(spark, sf_dir, registry):
    # LIMIT under LATERAL must rewrite to a windowed rank over one join —
    # not a nested-loop re-execution per segment
    df = registry["q98_lateral_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Window" in plan, plan


def test_q102_bm25_constants_broadcast(spark, sf_dir, registry):
    # df (3 rows) and corpus constants (1 row) must ride broadcasts onto
    # the posting aggregate — the corpus-sized side is never re-shuffled
    # for them
    df = registry["q102_bm25_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_q104_span_dedup_single_gram_pipeline(spark, sf_dir, registry):
    # duplicated-gram detection is a window df-count over ONE exploded
    # gram table: the expensive shingle tokenizer must run once (a
    # single documents scan), not once per join branch, and never doc×doc
    df = registry["q104_span_dedup"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_q105_incremental_dedup_prunes_store_columns(spark, sf_dir, registry):
    # the store side must reduce to fingerprints only before the join —
    # at scale it is a fingerprint store, not a second copy of the corpus
    df = registry["q105_incremental_dedup"].fn(spark, sf_dir)
    plan = optimized_of(df)
    assert "text" not in plan.split("Join")[0], plan  # no text above the join


def test_binned_range_join_matches_theta_join(spark):
    from grouper_spark.operators import binned_range_join

    left = spark.createDataFrame(
        [(1, 0.10), (2, 0.14), (3, 0.99), (4, 5.00)], ["lid", "lv"]
    )
    right = spark.createDataFrame(
        [(10, 0.11), (11, 0.20), (12, 1.04), (13, 4.90)], ["rid", "rv"]
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in binned_range_join(left, right, "lv", "rv", 0.05).collect()
    )
    want = sorted(
        (r["lid"], r["rid"])
        for r in left.join(
            right, F.abs(F.col("lv") - F.col("rv")) <= 0.05
        ).collect()
    )
    assert got == want and len(got) > 0


def test_q108_band_join_is_equi_join(spark, sf_dir, registry):
    # the band join must execute on the bucket equi-key — never the
    # nested-loop plan the naive theta formulation produces
    df = registry["q108_binned_range_join"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q106_gramian_shuffles_only_partials(spark, sf_dir, registry):
    # the only exchange aggregates d^2 partial rows per partition — the
    # corpus itself is consumed map-side inside mapInPandas
    df = registry["q106_gramian"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_q107_centroids_broadcast_back(spark, sf_dir, registry):
    # the 640-row centroid table must broadcast onto the exploded corpus
    df = registry["q107_centroid_outliers"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """Runtime bloom-filter join (row-level runtime filtering): with a
    selective dim-side filter, Catalyst injects a bloom filter built
    from the dim keys and applies might_contain() on the fact side
    BEFORE the join shuffle — the 100 TB lever that keeps a fact⋈dim
    join from shuffling unmatchable fact rows. Local demo needs the
    application-side scan threshold lowered (default 10GB triggers
    naturally at lake scale); conf is scoped and restored."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact_p = str(tmp_path / "fact")
        dim_p = str(tmp_path / "dim")
        spark.range(200_000).selectExpr("id", "id % 10000 AS k").write.parquet(
            fact_p
        )
        spark.range(10_000).selectExpr(
            "id AS k", "id % 97 AS tag"
        ).write.parquet(dim_p)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("tag") == 5)
        plan = plan_of(fact.join(dim, "k"))
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

def test_q121_pair_generator_is_doc_equi_join(spark, sf_dir, registry):
    # PMI pair generation must meet on the doc_id equi-key with the
    # positional band as a residual filter — never a token×token
    # cartesian; the only nested-loop joins are 1-row constant
    # broadcasts (corpus totals)
    df = registry["q121_pmi_cooccurrence"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_q119_rank_state_joins_broadcast(spark, sf_dir, registry):
    # every power-iteration step joins the dimension-sized rank state
    # onto the edge list via broadcast — the edge list itself is never
    # re-shuffled per iteration
    df = registry["q119_pagerank_transitions"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q118_windows_share_one_exchange(spark, sf_dir, registry):
    # the change-marker window and the island running-sum window use the
    # same (user_id) partitioning: Catalyst must plan ONE exchange on
    # user_id for both, plus one for the final interval window
    df = registry["q118_scd2_intervals"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning(user_id") <= 2, plan


def test_q117_sweep_has_no_self_join(spark, sf_dir, registry):
    # the sweep is explode + window + agg — a join-free linear plan
    df = registry["q117_sweep_concurrency"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan, plan


def test_q139_share_is_broadcast_total_not_global_window(spark, sf_dir, registry):
    # percent-of-total must NOT funnel the fact table through a single
    # window partition: the grand total is a broadcast 1-row join onto
    # the already-aggregated supplier table
    df = registry["q139_share_of_total"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Window" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_q140_checksum_is_one_scan_partial_agg(spark, sf_dir, registry):
    # the audit checksum is a single corpus scan with map-side combine —
    # no sort, no join, nothing wide but the per-shard aggregate
    df = registry["q140_table_checksum"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_q144_codebook_broadcast_no_corpus_shuffle_for_assign(
    spark, sf_dir, registry
):
    df = registry["q144_semantic_dedup"].fn(spark, sf_dir)
    plan = plan_of(df)
    # r10-opt: the codebook assignment is MAP-SIDE — the 8 collected
    # centroids ride as array literals in a least(struct(d_fp, cid))
    # argmin, so there is NO join (and no checkpoint) anywhere in the
    # plan; in-cell dedup stays the per-cluster Arrow-batched matrix
    # product — one hash exchange on the cell key into
    # FlatMapGroupsInPandas, never a nested loop / cartesian over
    # corpus²
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "least(" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "hashpartitioning(cell" in plan, plan


def test_q145_prefix_join_is_equi_join(spark, sf_dir, registry):
    df = registry["q145_prefix_filter_join"].fn(spark, sf_dir)
    plan = plan_of(df)
    # candidate generation must be an equi-join on the prefix token —
    # a cartesian/nested-loop pair enumeration would be the O(n^2)
    # anti-pattern prefix filtering exists to avoid
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q146_triangle_joins_are_equi(spark, sf_dir, registry):
    df = registry["q146_triangle_count"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q147_no_corpus_sized_global_window(spark, sf_dir, registry):
    df = registry["q147_systematic_pps_sample"].fn(spark, sf_dir)
    plan = plan_of(df)
    # the only single-partition exchange allowed is over the tiny
    # shard-totals relation; the corpus window must be partitioned by
    # shard (hashpartitioning on shard present)
    assert "hashpartitioning(shard" in plan, plan


def test_q150_zone_map_is_single_scan_partial_agg(spark, sf_dir, registry):
    df = registry["q150_skipping_index"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan or "partial_min" in plan


def test_q162_span_corruption_is_map_only(spark, sf_dir, registry):
    df = registry["q162_span_corruption"].fn(spark, sf_dir)
    plan = plan_of(df)
    # pure per-row transform: the only exchange allowed is the final
    # output ordering's rangepartitioning — no hash shuffle, no join
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_q161_cms_cells_partial_aggregate(spark, sf_dir, registry):
    df = registry["q161_countmin_sketch"].fn(spark, sf_dir)
    plan = plan_of(df)
    # sketch cells must combine map-side (the mergeability that makes
    # CMS a streaming sketch)
    assert "partial_count" in plan


def test_q160_weighted_median_collapses_before_window(spark, sf_dir, registry):
    df = registry["q160_weighted_median"].fn(spark, sf_dir)
    plan = plan_of(df)
    # the cumsum window must ride the collapsed (group, value)
    # distribution: a partial aggregate appears below the window
    assert "partial_sum" in plan


def test_q165_bucketed_join_has_no_shuffle_under_join(spark, sf_dir, registry):
    df = registry["q165_bucketed_join"].fn(spark, sf_dir)
    plan = plan_of(df)
    # both sides pre-clustered: the join reads bucketed scans with no
    # hash exchange beneath (at tiny SFs the planner may pick a
    # broadcast join over SMJ — equally shuffle-free); the only hash
    # exchange allowed is the final groupBy's
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_q145_verify_does_not_reshingle_corpus(spark, sf_dir, registry):
    """The candidate pipeline is checkpointed and the verify step
    re-shingles only candidate docs: at most the two semi-join scans of
    documents may appear — without the checkpoint the prefix pipeline
    replans per reference (22 scans)."""
    df = registry["q145_prefix_filter_join"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 2, plan.count("FileScan parquet")


def test_q146_triangle_assembly_reuses_checkpointed_edges(
    spark, sf_dir, registry
):
    """sz/edges are checkpointed, so the triangle join + degree + final
    assembly must not re-scan events at all."""
    df = registry["q146_triangle_count"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 0, plan.count("FileScan parquet")


def test_q189_scan_has_partition_filters(spark, sf_dir, registry):
    """The date filter must resolve against the partition directory
    listing (PartitionFilters on event_date), not as a data filter over
    a full scan."""
    df = registry["q189_partition_pruned_scan"].fn(spark, sf_dir)
    plan = plan_of(df)
    lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("event_date" in l for l in lines), plan


def test_q190_fact_scan_is_dynamically_pruned(spark, sf_dir, registry):
    """The fact scan's partition filter must be injected at runtime
    from the dim side (dynamicpruning expression in the scan) — the
    DPP star-schema pattern."""
    df = registry["q190_dynamic_partition_pruning"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower(), plan


def test_q194_fact_prefilter_has_no_exchange_before_join(
    spark, sf_dir, registry
):
    """The Bloom bitmap is an embedded literal, so the lineitem side
    must reach the probe filter with zero exchanges: scan -> filter ->
    (broadcast semi-join). Only the aggregate's exchange may touch the
    fact stream."""
    df = registry["q194_bloom_prefiltered_join"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    # exactly one hash exchange: the final groupBy(l_returnflag)
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_q198_token_join_is_equi_not_cartesian(spark, sf_dir, registry):
    """TF-IDF kNN pairs come from the posting-list equi-join on the
    token — a cartesian/BNLJ product would be the n^2 formulation."""
    df = registry["q198_tfidf_knn"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q199_band_join_is_equi_not_cartesian(spark, sf_dir, registry):
    """pHash candidates come from the banded equi-join, and the corpus
    is checkpointed once for the four band branches + verify."""
    df = registry["q199_phash_neardup"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # band branches + verify read the checkpointed pHash table, never
    # the parquet source
    assert plan.count("FileScan parquet") == 0, plan


def test_q66_verify_stage_not_coalesced_to_one_partition(
    spark, sf_dir, registry
):
    """The blocking key has ~25 distinct values, so without the user
    repartition AQE shrinks the verify stage to ~1 task; the explicit
    repartition must survive in the plan."""
    df = registry["q66_fuzzy_join"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan or (
        "hashpartitioning(blk" in plan
    ), plan


def test_cooccurrence_posting_fanout_is_repartitioned(spark):
    """The posting table is bucket-count sized; the pair fan-out must
    run on a redistributed stage, not the AQE-coalesced aggregate
    output (the single-core fan-out regression)."""
    from grouper_spark.operators.dedup import cooccurrence_pairs

    rows = [(u, "t", d) for u in range(200) for d in ("d1", "d2")]
    df = spark.createDataFrame(rows, ["uid", "et", "d"])
    pairs = cooccurrence_pairs(df, "uid", ["et", "d"], max_bucket=4096)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan or "REPARTITION_BY_NUM" in plan, plan


# ---- round-3 additions (q231-q246) ----


def test_q231_single_scan_after_checkpoint(spark, sf_dir, registry):
    # daily summary feeds four branches; the checkpoint must collapse
    # the log scan to one (ScanExistingRDD replaces the re-plans)
    df = registry["q231_acf_daily_volume"].fn(spark, sf_dir)
    assert plan_of(df).count("FileScan parquet") <= 1


def test_q238_sigs_computed_once(spark, sf_dir, registry):
    # the shingle+md5 signature pipeline feeds three consumers; the
    # checkpoint must keep the corpus scan count at 1
    df = registry["q238_minhash_oracled"].fn(spark, sf_dir)
    assert plan_of(df).count("FileScan parquet") <= 1


def test_q239_sigs_computed_once(spark, sf_dir, registry):
    df = registry["q239_simhash_oracled"].fn(spark, sf_dir)
    assert plan_of(df).count("FileScan parquet") <= 1


def test_q240_planes_are_constants_no_join(spark, sf_dir, registry):
    # hyperplanes ride as literals: exactly one scan of the embeddings
    # (via the checkpointed key table), and no join anywhere
    df = registry["q240_lsh_hyperplane_index"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 1
    assert "Join" not in plan


def test_q241_single_shuffle_on_part_key(spark, sf_dir, registry):
    # both windows and the final aggregate share the l_partkey
    # partitioning: one hash exchange total
    df = registry["q241_fifo_allocation"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_q236_no_event_self_join(spark, sf_dir, registry):
    # next-purchase resolution must be the window formulation — a range
    # self-join of events would explode on hot users
    df = registry["q236_multitouch_attribution"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan


def test_q246_true_jaccard_only_for_candidates(spark, sf_dir, registry):
    # the accuracy audit must never compute all-pairs Jaccard: the
    # shingle stream joins through the candidate set (joins present),
    # but no cartesian/cross product may appear
    df = registry["q246_minhash_accuracy_audit"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q261_partition_pruning_on_modern_branch(spark, sf_dir, registry):
    # the month-partitioned branch must carry the date predicate as a
    # PartitionFilter (directory pruning), not just a data filter
    df = registry["q261_partition_evolution"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    # and pruning must actually bind to the month partition column
    assert "month" in plan.split("PartitionFilters", 1)[1][:400]


def test_q248_single_fact_shuffle_rest_broadcast(spark, sf_dir, registry):
    # TPC-H Q7 shape: lineitem-orders may shuffle; customer/supplier/
    # nation hops must all be broadcast
    df = registry["q248_volume_shipping"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan


def test_q254_cascade_single_scan(spark, sf_dir, registry):
    # day -> month -> quarter each aggregate from the level below: one
    # orders scan, three aggregation levels
    df = registry["q254_rollup_cascade"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1
    assert plan.count("HashAggregate") >= 5  # partial+final per level


def test_q256_join_needs_no_shuffle(spark, sf_dir, registry):
    """q256 left-joins the generated calendar to the orders fact. A left
    outer join can build only its right side, so the fact is broadcast
    and the calendar streams: no hash or range exchange feeds the join
    on either side."""
    df = registry["q256_date_dimension"].fn(spark, sf_dir)
    lines = plan_of(df).splitlines()
    at = next(i for i, line in enumerate(lines) if "Join" in line)
    join = lines[at]
    assert "BroadcastHashJoin" in join and "LeftOuter, BuildRight" in join, join

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    below = []
    for line in lines[at + 1:]:
        if depth(line) <= depth(join):
            break
        below.append(line)
    assert not [
        line for line in below
        if "Exchange hashpartitioning" in line or "Exchange rangepartitioning" in line
    ], "\n".join(below)


def test_q265_datasheet_single_corpus_scan(spark, sf_dir, registry):
    # the slim projection is checkpointed; three branch aggregates must
    # not replan the documents scan
    df = registry["q265_dataset_datasheet"].fn(spark, sf_dir)
    assert plan_of(df).count("FileScan parquet") <= 1


def test_q266_recall_audit_no_unbounded_cartesian(spark, sf_dir, registry):
    # candidate generation is bucket-joined; the only nested-loop side
    # is the deliberately bounded 20-query exact reference
    df = registry["q266_lsh_recall_audit"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan


def test_q269_order_stats_share_group_partitioning(spark, sf_dir, registry):
    # the rank window and the final aggregate both key on grp: the sort
    # exchange must be reused, not repeated
    df = registry["q269_median_confidence_interval"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_q271_orc_scan_pushes_filter(spark, sf_dir, registry):
    # ORC must serve the selective predicate from stripe statistics:
    # the filter appears as PushedFilters on the ORC scan
    df = registry["q271_orc_roundtrip"].fn(spark, sf_dir)
    plan = plan_of(df)
    scan = next(l for l in plan.splitlines() if "FileScan orc" in l)
    assert "PushedFilters" in scan and "GreaterThan(o_totalprice" in scan


def test_a345_bigram_table_planned_once(spark, sf_dir, registry):
    """a345 references the bigram-count table four ways (probe + uni +
    cont + tot); the localCheckpoint must keep the corpus tokenize→
    explode→count pipeline to a single planning, not one per branch."""
    df = registry["a345_kneser_ney"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 1, plan


def test_a355_single_pair_projection_all_widths(spark, sf_dir, registry):
    """a355 computes all four truncation widths in ONE projection over
    the pair table: exactly one broadcast join builds the pairs (plus
    the checkpoint'd wide table feeding both branches), never one
    join per width."""
    df = registry["a355_mrl_truncation_audit"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_a357_vote_join_is_equi_and_no_forced_broadcast(spark, sf_dir, registry):
    """a357's pair generation must be the within-order equi-join (no
    cartesian), and the part-derived brand table — which grows with sf —
    must NOT carry a forced broadcast hint (driver OOM at 100 TB); AQE
    picks the strategy from runtime sizes instead."""
    df = registry["a357_label_propagation"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, logical


def test_a353_obs_scalar_is_broadcast_not_reshuffled(spark, sf_dir, registry):
    """a353 attaches the 1-row observed-split aggregate to every
    permutation row; it must arrive via broadcast, and the events scan
    must not exceed the two passes the design states (observed +
    replicated ranks)."""
    df = registry["a353_permutation_test"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("FileScan parquet") <= 2, plan


def test_a363_asof_tolerance_single_sort_pass(spark, sf_dir, registry):
    """The tolerance variant must keep q21's union-merge shape: one
    shuffle on the key for the as-of window, no range join."""
    df = registry["a363_asof_tolerance"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_a361_edge_list_planned_once(spark, sf_dir, registry):
    """a361's distinct edge list feeds degree counting plus all three
    triangle join sides; the checkpoint must hold the lineitem scan to
    one planning."""
    df = registry["a361_clustering_coefficient"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 1, plan


def test_a364_bigram_counts_planned_once(spark, sf_dir, registry):
    """a364's per-doc bigram counts feed references, hypotheses, and
    length totals; one checkpointed planning, and the reference panel
    must ride in broadcast."""
    df = registry["a364_self_bleu"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 1, plan
    assert "BroadcastHashJoin" in plan


def test_a379_merge_hint_forces_sort_merge_join(spark, sf_dir, registry):
    """The .hint('merge') must actually override the planner's
    broadcast preference for the dimension join."""
    df = registry["a379_join_hints"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "SortMergeJoin" in plan, plan


def test_a381_pq_no_shuffle_before_census(spark, sf_dir, registry):
    """PQ assignment is a pure projection: the only exchange in the
    plan is the final 16-group census aggregate (plus AQE reads); no
    join appears at all."""
    df = registry["a381_product_quantization"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan, plan


def test_a386_gram_stream_planned_once(spark, sf_dir, registry):
    """a386's distinct (source, gram) stream feeds totals and postings;
    the checkpoint must hold the shingling scan to one planning."""
    df = registry["a386_source_overlap_matrix"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 1, plan


def test_a404_truth_join_is_equi_not_cartesian(spark, sf_dir, registry):
    """a404's truth pairs must come from the posting-list equi-join —
    no cartesian anywhere in the PRF evaluation plan."""
    df = registry["a404_lsh_prf_eval"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan


def test_no_forced_broadcast_of_sf_scaled_tables(spark, sf_dir, registry):
    """Mechanical sweep of every broadcast-using query (r4 verdict #4):
    a forced F.broadcast over data deriving from an sf-scaled fixture
    without a bounding Aggregate/Limit in between is a driver OOM at
    the 100 TB design point — AQE must pick the strategy there.  The
    three documented exact all-pairs reference queries are allowlisted
    (their 100 TB path is a separate banded query, per docstring)."""
    from tools.lint_broadcast import (
        ALLOWLIST,
        broadcast_violations,
        query_uses_broadcast,
    )

    bad = []
    for name, qdef in sorted(registry.items()):
        if name in ALLOWLIST or not query_uses_broadcast(qdef):
            continue
        plan = (
            qdef.fn(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
        )
        bad.extend(f"{name}: {v}" for v in broadcast_violations(plan))
    assert not bad, bad


def test_a549_skew_capped_pairs_no_cartesian(spark, sf_dir, registry):
    """The capped shingle-Jaccard path over the skewed corpus must stay
    a posting-list equi-join — the cap must not change the plan shape,
    only the posting volume."""
    df = registry["a549_skew_shingle_capped"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_a558_two_path_is_equi_join(spark, sf_dir, registry):
    """Link-prediction candidates come from the panel-seeded two-path
    equi-join on the shared neighbor — never node×node."""
    df = registry["a558_link_prediction"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_a570_isotropy_no_pair_join(spark, sf_dir, registry):
    """The Gram-identity isotropy audit must contain NO join at all —
    the whole point is O(n·d) instead of the O(n²) pairwise sweep.
    (The only joins allowed are the two final 1-row aggregates.)"""
    df = registry["a570_isotropy_audit"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_a567_hll_single_scan(spark, sf_dir, registry):
    """The HLL twin folds the fact scan to 256 registers: one parquet
    scan feeds both the register build and the exact count (via the
    checkpointed distinct), never a re-read per branch."""
    df = registry["a567_hll_oracled"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 1, plan


def test_a420_centroid_join_is_broadcast(spark, sf_dir, registry):
    """Centroid assignment joins the n·d component stream to a k·d
    centroid table — the small side must ride broadcast, the corpus
    side must never shuffle for it."""
    df = registry["a420_centroid_classifier"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_a427_spc_rules_single_window_sort(spark, sf_dir, registry):
    """All four Western Electric rule frames share the per-type date
    ordering: the plan must contain at most one sort per window
    lineage, not one shuffle per rule."""
    df = registry["a427_western_electric_rules"].fn(spark, sf_dir)
    plan = plan_of(df)
    # all frames ride one hashpartitioning(grp) exchange for the window
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_a436_duels_equi_join_matrix_single_row(spark, sf_dir, registry):
    """Bradley-Terry duels come from the within-order equi self-join —
    never brand×brand over the fact table. The only nested-loop joins
    are the 1-row matrix/weight/count crosses feeding the MM fold."""
    df = registry["a436_bradley_terry"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan


def test_a437_codebook_broadcast_cross_only(spark, sf_dir, registry):
    """Silhouette scoring crosses the corpus against the broadcast
    8-row codebook (limit-pinned) exactly once; the corpus is never
    self-joined."""
    df = registry["a437_silhouette"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "GlobalLimit" in plan or "CollectLimit" in plan, plan


def test_a439_panel_bounded_no_joins(spark, sf_dir, registry):
    """Greedy max-coverage collapses the limit-pinned panel to one
    array row and runs the whole selection in HOFs: the plan has a
    GlobalLimit bound and no join of any kind."""
    df = registry["a439_greedy_max_coverage"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert "GlobalLimit" in plan or "CollectLimit" in plan, plan


def test_a444_cdf_pair_join_is_equi(spark, sf_dir, registry):
    """The 190 source pairs ride the equi-join on the grid value —
    never a cartesian pair fan-out of the corpus. (The deliberate
    sources×grid completion cross is bounded by domain sizes and
    rides broadcast.)"""
    df = registry["a444_wasserstein_1d"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan


def test_a446_interval_table_is_bounded_nested_loop(spark, sf_dir, registry):
    """Isotonic's O(weeks²) interval table is ONE nested-loop join of
    the ~350-row weekly series with itself — the fact table is rolled
    up before any pairing, so no cartesian of raw rows exists."""
    df = registry["a446_isotonic_regression"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_a448_margin_joins_are_broadcast(spark, sf_dir, registry):
    """All 20 IPF scaling joins hit the ~100-cell weight table with
    broadcast margins — a sort-merge exchange for a 20-row margin
    would be 20 needless shuffles."""
    df = registry["a448_ipf_raking"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_a463_q5_dims_broadcast_no_cartesian(spark, sf_dir, registry):
    """TPC-H Q5: nation/region ride broadcast joins; the same-nation
    equality lives in a join condition, so no cartesian and no
    nested-loop join appears anywhere in the 6-table plan."""
    df = registry["a463_tpch_q5_local_supplier"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_a464_q8_single_join_tree(spark, sf_dir, registry):
    """TPC-H Q8: numerator and denominator come from ONE joined
    stream (CASE-conditional aggregate) — each of the 8 tables is
    scanned exactly once, so 8 FileScans, not 16."""
    df = registry["a464_tpch_q8_market_share"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 8, plan
    assert "CartesianProduct" not in plan, plan


def test_a467_matching_band_join_not_cartesian(spark, sf_dir, registry):
    """The matching estimator's candidate pairs ride the bucket band
    join (non-equi but band-bounded nested loop is acceptable only
    via the bucket predicate; a full cartesian is not)."""
    df = registry["a467_matching_estimator"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan


def test_a443_trig_table_is_broadcast(spark, sf_dir, registry):
    """Circular stats: the 24-row cos/sin literal table joins the
    hour-bucket counts via broadcast — the event scan is aggregated
    to 24×types cells before any join."""
    df = registry["a443_circular_stats"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_a453_huffman_corpus_single_scan(spark, sf_dir, registry):
    """Huffman audit: the corpus is scanned once for term
    frequencies; the merge fold and entropy sum both ride the
    checkpointed frequency table."""
    df = registry["a453_huffman_code_audit"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 1, plan


def test_a455_pairs_are_label_bounded(spark, sf_dir, registry):
    """Energy distance: every pair comes from the within-label
    equi-join — no cartesian, no nested loop over the corpus."""
    df = registry["a455_energy_distance"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_a460_alpha_two_groupbys_no_joins_of_facts(spark, sf_dir, registry):
    """Krippendorff: one lineitem scan feeds the unit-category
    counts; everything downstream is group-key-sized."""
    df = registry["a460_krippendorff_alpha"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_a462_gram_join_is_row_equi(spark, sf_dir, registry):
    """Effective rank: the d²-fan-out is the per-row equi self-join
    on vec_id — never a corpus×corpus cartesian."""
    df = registry["a462_effective_rank"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan


# ---- round-7 battery pins --------------------------------------------


def test_a482_vif_single_pruned_scan(spark, sf_dir, registry):
    """VIF folds the corpus in ONE aggregate over 3 pruned columns."""
    df = registry["a482_vif"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_extendedprice" not in scan and "l_orderkey" not in scan


def test_a490_convolution_is_aggregate_by_aggregate(spark, sf_dir, registry):
    """The HL difference convolution must join two VALUE HISTOGRAMS
    (bounded grids), never the per-user tables: both join inputs carry
    an Aggregate above the corpus in the optimized plan."""
    df = registry["a490_hodges_lehmann"].fn(spark, sf_dir)
    opt = optimized_of(df)
    ji = opt.index("Join")
    # everything below the first Join node must include two aggregates
    below = opt[ji:]
    assert below.count("Aggregate") >= 2, opt


def test_a492_centroids_broadcast(spark, sf_dir, registry):
    """Seed-centroid distance sweeps broadcast the 8-row side; the
    embeddings corpus is never shuffled for the assignment."""
    df = registry["a492_davies_bouldin_ch"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_a493_hits_final_plan_scans_no_corpus(spark, sf_dir, registry):
    """After the eager edge checkpoint, the 8 HITS iterations run on
    checkpointed 5-row frames — the FINAL plan must contain no parquet
    scan of events (a corpus scan inside the loop would replan the lag
    window once per iteration)."""
    df = registry["a493_hits"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "FileScan parquet" not in plan, plan


def test_a498_absorbing_final_plan_scans_no_corpus(spark, sf_dir, registry):
    df = registry["a498_absorbing_markov"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "FileScan parquet" not in plan, plan


def test_a494_rich_club_reuses_checkpointed_edges(spark, sf_dir, registry):
    """The co-visitation edge build (the q146 capped path) is
    checkpointed once; the degree/threshold assembly downstream must
    not re-scan events at all (the cap itself is pinned at operator
    level by test_cooccurrence_posting_fanout_is_repartitioned and
    q146's own plan tests — a026 shares that exact build)."""
    df = registry["a494_rich_club"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 0, plan.count(
        "FileScan parquet"
    )


def test_a500_decay_weights_broadcast_join(spark, sf_dir, registry):
    """The 31-row decay table joins broadcast; the corpus-side fold is
    map-side combined (partial aggregate before the exchange)."""
    df = registry["a500_decay_weighted_engagement"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan or "partial" in plan.lower()


# ---- round-7 battery II pins -----------------------------------------


def test_a527_pettitt_no_pairwise_join(spark, sf_dir, registry):
    """Pettitt must be histogram + windows: the only join is daily
    value -> rank (equi), never a corpus self-join; exactly one
    orders scan per branch and no CartesianProduct."""
    df = registry["a527_pettitt_changepoint"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan


def test_a531_croston_weight_table_broadcast(spark, sf_dir, registry):
    """The 128-row SES weight table joins broadcast-side."""
    df = registry["a531_croston_intermittent"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_a534_linkpred_no_cartesian(spark, sf_dir, registry):
    """Two-path enumeration and the non-edge anti-join are all
    equi-joins on z/(u,v) — a CartesianProduct would mean the
    candidate stage degenerated to all-pairs."""
    df = registry["a534_adamic_adar_linkpred"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan


def test_a535_components_final_plan_scans_no_corpus(spark, sf_dir, registry):
    """After convergence the labels are eagerly checkpointed — the
    final histogram plan must not rescan lineitem (a scan here would
    mean each sweep replanned the edge derivation)."""
    df = registry["a535_connected_components"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "FileScan parquet" not in plan, plan


def test_a537_influence_single_fold_plus_broadcast(spark, sf_dir, registry):
    """Cook's D re-scans only the checkpointed per-customer summary
    against a broadcast 1-row fit."""
    df = registry["a537_cooks_distance"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_a546_elbow_k_table_on_histogram(spark, sf_dir, registry):
    """The k-grid multiplies the HISTOGRAM, not the corpus: the fold
    lands in one checkpointed frame, so the final plan holds no
    parquet scan at all (3 references to the checkpoint instead)."""
    df = registry["a546_elbow_wss"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 0, plan


def test_a079_hill_rank_is_windowed_topk(spark, sf_dir, registry):
    """Hill keeps only rk <= 201: the filter must sit above the rank
    window so the ln projection touches a bounded row count."""
    df = registry["a079_hill_tail_index"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1


def test_a084_dbscan_final_plan_scans_no_corpus(spark, sf_dir, registry):
    """Labels and core cells are eagerly checkpointed; the readout
    joins two checkpointed frames only."""
    df = registry["a084_dbscan_grid"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "FileScan parquet" not in plan, plan


def test_a161_apriori_no_cartesian(spark, sf_dir, registry):
    """Candidate generation is all EQUI joins on (order, item) keys —
    downward-closure pruning must never degrade to a cartesian, and
    the scale-relative min-support frame is broadcast."""
    df = registry["a161_apriori_triples"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_a147_gpd_threshold_is_broadcast(spark, sf_dir, registry):
    """The P90 threshold is a 1-row frame broadcast against the
    corpus — the tail filter must not shuffle the fact side."""
    df = registry["a147_gpd_pwm_tail"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan


def test_a154_fellegi_sunter_no_pair_join(spark, sf_dir, registry):
    """FS m/u estimation is histogram combinatorics: the plan must
    contain ONLY aggregate folds over the customer scan — a pairwise
    self-join of customers (SortMergeJoin on a non-key) would mean the
    O(n^2) comparison space got materialized."""
    df = registry["a154_fellegi_sunter"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

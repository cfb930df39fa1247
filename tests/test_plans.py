"""Physical-plan quality gates — the at-scale contract.

Correctness says the operator works at sf0.01; these assertions say the
PLAN is the one that survives 100x data: filters reach the parquet scan,
scans prune columns, small dimensions broadcast, aggregations are
partial+final, and the whole row path stays inside WholeStageCodegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.core import joins, relational
from hive_2_spark.engine import formatted_plan as plan_of
from hive_2_spark.flagship import pricing_summary
from tests.conftest import SF_DIR


def test_filter_pushes_down_to_parquet(spark):
    df = relational.filter_range(spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_totalprice)" in plan or "GreaterThan(o_totalprice" in plan


def test_projection_prunes_scan_columns(spark):
    df = relational.project_columns(spark, SF_DIR)
    plan = plan_of(df)
    # ReadSchema must contain only the 3 selected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderkey" in read_schema
    assert "o_orderdate" not in read_schema
    assert "o_orderpriority" not in read_schema


def test_dimension_join_broadcasts(spark):
    df = joins.join_lookup_one(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    # the big (orders) side must NOT shuffle for this join
    assert "Exchange hashpartitioning(o_custkey" not in plan


def test_semi_join_stays_semi(spark):
    df = joins.join_semi(spark, SF_DIR)
    assert "LeftSemi" in plan_of(df)


def test_agg_is_partial_then_final(spark):
    df = pricing_summary(spark, SF_DIR)
    plan = plan_of(df)
    # partial (map-side) aggregation before the shuffle, final after
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "Partial" in plan


def test_flagship_whole_stage_codegen(spark):
    df = pricing_summary(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan only on execution
    executed = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark WholeStageCodegen stages in the compact form
    assert "*(1)" in executed and "*(2)" in executed


def test_topk_is_take_ordered_not_global_sort(spark):
    df = relational.topk_limit(spark, SF_DIR)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_scan_has_no_shuffle(spark):
    df = relational.computed_column(spark, SF_DIR)
    assert "Exchange" not in plan_of(df)


def test_partition_pruning(spark):
    from hive_2_spark.core.io import partitioned_write_read

    df = partitioned_write_read(spark, SF_DIR)
    plan = plan_of(df)
    # the status filter must become a partition filter, not a data filter
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]


def test_salted_join_spreads_partitions(spark):
    from hive_2_spark.core.skew import join_salted

    df = join_salted(spark, SF_DIR)
    plan = plan_of(df)
    # join key must include the salt so hot keys spread across tasks
    assert "__salt" in plan


def test_text_chunk_is_shuffle_free(spark):
    """Chunk fan-out must stay a narrow per-row transform: any Exchange
    here would mean re-shuffling the whole corpus just to split it."""
    from hive_2_spark.llm.text import text_chunk

    plan = plan_of(text_chunk(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_media_frame_sample_is_shuffle_free(spark):
    from hive_2_spark.llm.multimodal import media_frame_sample

    plan = plan_of(media_frame_sample(spark, SF_DIR))
    assert "Exchange" not in plan


def test_token_pack_single_window_shuffle(spark):
    """Packing needs exactly ONE shuffle (the lang window); the re-agg
    reuses the same partitioning."""
    from hive_2_spark.llm.text import token_pack

    plan = plan_of(token_pack(spark, SF_DIR))
    n_exchanges = plan.count("+- Exchange") + plan.count(": Exchange")
    assert "Window" in plan
    assert n_exchanges <= 2, plan  # window shuffle (+ AQE read at most)


def test_token_pack_salted_parallel_windows(spark):
    """The salted plan's running-sum window must partition by
    (lang, salt), not lang alone — and the fixture must actually
    exercise >1 salt per lang, or the rewrite is vacuous."""
    import pyspark.sql.functions as F

    from hive_2_spark.catalog import load_table
    from hive_2_spark.llm.text import _PACK_SALT_RANGE, token_pack_salted

    plan = plan_of(token_pack_salted(spark, SF_DIR))
    # the running-sum window keys on salt (partition-bounded state)
    assert "Window" in plan
    assert "salt" in plan, plan
    d = load_table(spark, SF_DIR, "documents")
    parts = (
        d.select("lang", F.expr(f"doc_id div {_PACK_SALT_RANGE}").alias("s"))
        .distinct()
        .count()
    )
    langs = d.select("lang").distinct().count()
    assert parts > langs, (parts, langs)


def test_token_pack_salted_capacity_and_density(spark):
    """Salted packs obey the same capacity rule as token_pack and keep
    dense per-lang pack ids (the offsets must not leave holes)."""
    from hive_2_spark.llm.text import _PACK_CAP, token_pack_salted

    rows = token_pack_salted(spark, SF_DIR).collect()
    assert rows
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, packs in by_lang.items():
        ids = sorted(p.pack_id for p in packs)
        assert ids == list(range(len(ids))), f"{lang}: sparse pack ids"
        for p in packs:
            assert p.pack_tokens < 2 * _PACK_CAP, f"{lang}: runaway pack"


def test_ngram_census_bounded_merge(spark):
    """The heavy-hitter census must (1) rank inside md5-prefix shards —
    Catalyst turns the rank-filter into a per-partition
    WindowGroupLimit, so no window sees the full gram space — and
    (2) merge via TakeOrderedAndProject over at most shards*K survivor
    rows, never a global sort."""
    from hive_2_spark.llm.quality import _CENSUS_K, quality_ngram_census

    df = quality_ngram_census(spark, SF_DIR)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan
    assert "shard" in plan
    # survivor bound: 256 shards x K
    assert df.count() <= _CENSUS_K
    assert 256 * _CENSUS_K == 5120  # documents the merge ceiling


def test_langid_profile_topk_is_window_group_limit(spark):
    """Round-10 verdict nit: the langid profile top-K ranks inside a
    per-lang window over the (lang x bigram-vocab) count table — at
    web-scale vocab this is safe ONLY because the `rn <= K` filter
    compiles to a rank-pushdown WindowGroupLimit (each partition keeps
    K survivors before the full sort). Pin it, like the bucketing/DPP
    gates, so a refactor that breaks the pushdown fails here instead of
    at scale. The scoring join must also keep the 5*K-row profile table
    on the broadcast side."""
    from hive_2_spark.llm.text import text_langid_profile

    plan = plan_of(text_langid_profile(spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_kmv_sketch_kmin_is_window_group_limit(spark):
    """agg_kmv_portable's per-set k-min must compile to a per-partition
    WindowGroupLimit (the distributed k-min merge KMV needs — without
    the pushdown every partition sorts its full per-type hash stream).
    Asserted on the sketch-build stage: the operator localCheckpoints
    its tiny result, which truncates lineage out of the final plan."""
    from hive_2_spark.core.aggregates import _kmv_sketch

    plan = plan_of(_kmv_sketch(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_sample_quantile_bottomk_is_window_group_limit(spark):
    """agg_sample_quantile_portable's per-shard bottom-k must compile
    to a per-partition WindowGroupLimit — each partition forwards at
    most k rows per shard instead of sorting its full slice (the same
    pushdown the KMV sketch build rides)."""
    from hive_2_spark.core.aggregates import _sq_sample

    plan = plan_of(_sq_sample(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_sessionize_single_exchange(spark):
    """Gap-island sessionization must hash-partition on user_id exactly
    once: both windows AND the session group-by reuse that partitioning.
    A second Exchange would re-shuffle the full event log at 100 TB."""
    from hive_2_spark.core.events import event_sessionize

    plan = plan_of(event_sessionize(spark, SF_DIR))
    n_exchanges = plan.count("+- Exchange") + plan.count(": Exchange")
    assert n_exchanges == 1, plan
    assert plan.count("Window") >= 2


def test_funnel_one_wide_shuffle(spark):
    """Funnel = one hash shuffle on user_id; the final global aggregate
    exchanges only one pre-aggregated row per partition."""
    from hive_2_spark.core.events import QUERIES

    plan = plan_of(QUERIES["event_funnel"](spark, SF_DIR))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "SinglePartition" in plan


def test_q8_dimensions_broadcast(spark):
    """The 7-way market-share star join must broadcast every dimension
    (part/supplier/customer/nation x2/region) — no SortMergeJoin against a
    broadcast-sized table, no CartesianProduct anywhere."""
    from hive_2_spark.core.analytics import QUERIES

    plan = plan_of(QUERIES["sql_q8_market_share"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan


def test_q21_decorrelates_to_hash_joins(spark):
    """The double-correlated EXISTS/NOT-EXISTS self-join must compile to
    semi/anti hash joins on l_orderkey — never a nested loop over the
    fact table."""
    from hive_2_spark.core.analytics import QUERIES

    plan = plan_of(QUERIES["sql_q21_waiting_suppliers"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q20_nested_in_becomes_semi_joins(spark):
    """Both IN levels (supplier IN agg-subquery, partkey IN part-subquery)
    must reduce to semi joins, with the aggregate run once."""
    from hive_2_spark.core.analytics import QUERIES

    plan = plan_of(QUERIES["sql_q20_volume_suppliers"](spark, SF_DIR))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_contamination_eval_side_broadcasts(spark):
    """The eval-gram set must be the broadcast side of the semi-join —
    the corpus shingle stream never shuffles for the probe."""
    from hive_2_spark.llm.curation import contamination_ngram

    plan = plan_of(contamination_ngram(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_emb_ops_have_no_shuffle(spark):
    """Normalization and quantization are pure map work: zero Exchange."""
    from hive_2_spark.llm.similarity import emb_normalize, emb_quantize_int8

    for fn in (emb_normalize, emb_quantize_int8):
        assert "Exchange" not in plan_of(fn(spark, SF_DIR))


def test_global_cumsum_fact_window_is_partitioned(spark):
    """The orders-sized window must run partitioned by the month id;
    the ONLY SinglePartition exchange allowed is the calendar-sized
    month-offsets window (~84 rows). A second one would mean the fact
    table collapsed into one partition — the trap the op exists to
    avoid."""
    from hive_2_spark.core.windows import win_global_cumsum

    plan = plan_of(win_global_cumsum(spark, SF_DIR))
    assert plan.count("SinglePartition") == 1
    assert "hashpartitioning(bid" in plan  # per-month parallel cumsum


def test_url_ops_codegen_and_broadcast_blocklist(spark):
    """Canonicalization is pure JVM string work (no Python eval); the
    blocklist filter is a broadcast ANTI-join."""
    from hive_2_spark.llm.urls import curation_domain_filter, dedup_url_canonical

    p = plan_of(dedup_url_canonical(spark, SF_DIR))
    assert "EvalPython" not in p and "Exchange" in p
    p2 = plan_of(curation_domain_filter(spark, SF_DIR))
    assert "BroadcastHashJoin" in p2 and "LeftAnti" in p2


def test_pagerank_iterations_read_cached_edges(spark):
    """Each PageRank step must read the materialized edge list (Scan
    ExistingRDD — lineage truncated), broadcast the node-sized ranks,
    and never fall back to a sort-merge join or re-run the
    lineitem⋈orders pipeline inside the loop."""
    from hive_2_spark.core.graph import graph_pagerank

    plan = plan_of(graph_pagerank(spark, SF_DIR))
    assert "Scan ExistingRDD" in plan       # localCheckpoint'ed edges
    assert "SortMergeJoin" not in plan
    # the edge-build happens BEFORE the checkpoint, so the iteration
    # plan contains no parquet scan of lineitem/orders at all
    assert "lineitem" not in plan and "orders" not in plan


def test_pagerank_rank_broadcast_is_size_gated(spark, monkeypatch):
    """Above _BROADCAST_NODE_CAP nodes, the per-iteration rank broadcast
    must flip to a shuffle join against src-pre-partitioned edges — no
    BroadcastExchange in the loop — and produce the identical top-k."""
    import hive_2_spark.core.graph as G

    below = sorted(tuple(r) for r in G.graph_pagerank(spark, SF_DIR).collect())
    monkeypatch.setattr(G, "_BROADCAST_NODE_CAP", 0)
    big_df = G.graph_pagerank(spark, SF_DIR)
    plan = plan_of(big_df)
    assert "BroadcastExchange" not in plan
    assert sorted(tuple(r) for r in big_df.collect()) == below


def test_funnel_broadcasts_eval_grams_and_joins_on_keys(spark):
    """The funnel's only broadcast-worthy side is the eval gram set;
    document text must never be a shuffle key (joins ride doc_id/hash
    keys), and no stage degenerates into a cartesian product."""
    from hive_2_spark.llm.pipeline import curation_funnel

    plan = plan_of(curation_funnel(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan  # eval grams ride a broadcast


def test_semantic_clusters_read_checkpointed_edges(spark):
    """The fixpoint loop's final plan must read materialized edges
    (lineage truncated), not replay the LSH candidate pipeline."""
    from hive_2_spark.llm.pipeline import dedup_clusters_semantic

    plan = plan_of(dedup_clusters_semantic(spark, SF_DIR))
    assert "Scan ExistingRDD" in plan
    assert "embeddings" not in plan  # signature pipeline not replayed


def test_bm25_stats_broadcast_and_postings_filtered(spark):
    """Corpus stats/idf ride broadcasts; the token explode is filtered
    to query terms BEFORE any exchange."""
    from hive_2_spark.llm.retrieval import bm25_topk

    plan = plan_of(bm25_topk(spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


def test_zscore_stats_broadcast_no_fact_shuffle_join(spark):
    """The per-type stats side (a handful of rows) must broadcast back
    onto the fact scan — an event-sized shuffle for a 5-row join side
    would be the wrong plan at any scale."""
    from hive_2_spark.core.timeseries import ts_anomaly_zscore

    plan = plan_of(ts_anomaly_zscore(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_transitions_reuse_sessionize_exchange(spark):
    """Both windows (session flag + transition lag) and the final agg
    must ride ONE user_id hash partitioning — a second fact-sized
    exchange would double the shuffle bill of every run."""
    from hive_2_spark.core.events import event_transitions

    plan = plan_of(event_transitions(spark, SF_DIR))
    # formatted mode puts Exchange args on their own line; count the
    # partitioning spec itself (windows list it per-window, so look at
    # the Arguments: lines only)
    fact_exchanges = [
        ln
        for ln in plan.splitlines()
        if ln.startswith("Arguments: hashpartitioning(user_id")
    ]
    assert len(fact_exchanges) == 1, plan


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark):
    """Row-level runtime filtering: when a selective dimension filter
    feeds a shuffle join on a NON-partition key (where dynamic
    partition pruning cannot apply), Catalyst must inject a
    bloom_filter_agg on the creation side and a might_contain probe on
    the fact side — at 100 TB this drops non-matching fact rows at the
    scan instead of shuffling them. The thresholds are sized for the
    local fixtures; a cluster uses the defaults (10GB probe-side gate).
    """
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        # force a shuffle join so the bloom path (not broadcast) applies
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
        o = spark.read.parquet(SF_DIR + "/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # and the query still answers correctly through the filter
        rows = j.collect()
        assert len(rows) == 1 and rows[0]["count"] > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_view_query_pushes_filter_to_scan(spark):
    """Querying THROUGH the catalog view must inline the view and push
    the status filter down to the parquet scan — a view is a plan
    macro, never a materialization boundary."""
    from hive_2_spark.core.metastore import catalog_view

    plan = plan_of(catalog_view(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1].split("]")[0]


def test_mv_incremental_delta_terms_broadcast(spark):
    """Every delta term of the join-view maintenance keeps the
    batch-sized delta on the broadcast side; no sort-merge join may
    appear (a SortMergeJoin would mean a delta term shuffled a full
    table)."""
    from hive_2_spark.core.mv import mv_join_incremental

    plan = plan_of(mv_join_incremental(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_global_rank_fact_window_is_partitioned(spark):
    """Same contract as win_global_cumsum: the orders-sized rank window
    runs partitioned by the price band; the only SinglePartition
    exchange is the band-count prefix window (domain-bounded)."""
    from hive_2_spark.core.windows import win_global_rank

    plan = plan_of(win_global_rank(spark, SF_DIR))
    assert plan.count("SinglePartition") == 1
    assert "hashpartitioning(bid" in plan


def test_upsert_state_argmax_is_partial_agg_not_window(spark):
    """Round-9 rewrite contract: the latest-per-user argmax must be a
    max_by aggregate with a map-side partial (the exchange then carries
    ~|users| rows), never a row_number window over the full event log
    (which shuffles every event and sorts it inside each reducer)."""
    from hive_2_spark.streaming.cdc import latest_state_batch

    plan = plan_of(latest_state_batch(spark, SF_DIR))
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_bot_regularity_single_exchange(spark):
    """event_bot_regularity's lag window and its user-keyed aggregate
    must share ONE user_id hash partitioning — a second Exchange means
    the agg stopped riding the window's shuffle."""
    from hive_2_spark.core.events import event_bot_regularity

    plan = plan_of(event_bot_regularity(spark, SF_DIR))
    assert plan.count("+- Exchange") + plan.count(": Exchange") == 1, plan
    # exact-integer contract: the decimal(38,0) S2 accumulator is in
    # the plan, and nothing falls out of codegen into Python
    assert "decimal(38,0)" in plan
    assert "BatchEvalPython" not in plan


def test_pattern_within_single_exchange(spark):
    """event_pattern_match_within: both running-max windows, the
    purchase filter, and the census agg must share ONE user_id hash
    partitioning (and one sort) — the CEP-compilation shape; a second
    Exchange means a stage stopped riding the window's shuffle. No
    regex, no joins, no Python."""
    from hive_2_spark.core.events import event_pattern_match_within

    plan = plan_of(event_pattern_match_within(spark, SF_DIR))
    assert plan.count("+- Exchange") + plan.count(": Exchange") == 1, plan
    assert plan.count("+- Sort") + plan.count(": Sort") == 1, plan
    assert "Join" not in plan and "BatchEvalPython" not in plan


def test_rendezvous_is_map_side_argmax(spark):
    """layout_rendezvous_shards must compute the HRW argmax as a
    per-row greatest(...) expression: no join, no explode/Generate —
    the only exchanges are the two shard-count-sized census aggs."""
    from hive_2_spark.core.layout import layout_rendezvous_shards

    plan = plan_of(layout_rendezvous_shards(spark, SF_DIR))
    assert "greatest" in plan
    assert "Join" not in plan and "Generate" not in plan
    assert plan.count("+- Exchange") + plan.count(": Exchange") == 2, plan
    # column pruning: the scan reads doc_id only
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_pattern_match_two_bounded_exchanges(spark):
    """event_pattern_match builds the symbol string on a (user, period)
    partitioning and re-aggregates the census on user_id — exactly two
    exchanges, the second over SLICE-sized rows (one per user-month),
    never the event log twice; the regex compiles to codegen
    (size(regexp_extract_all)), not a Python fallback."""
    from hive_2_spark.core.events import event_pattern_match

    plan = plan_of(event_pattern_match(spark, SF_DIR))
    assert plan.count("+- Exchange") + plan.count(": Exchange") == 2, plan
    assert "regexp_extract_all" in plan
    assert "BatchEvalPython" not in plan

"""Anti-pattern sweep over EVERY registered query plan: no accidental
cartesian products, no row-at-a-time Python in non-UDF paths.

Cheap static audit — each query is only planned (explain), never run.
"""

from __future__ import annotations

import pytest

from hive_2_spark import registry
from hive_2_spark.engine import formatted_plan
from tests.conftest import SF_DIR

# queries whose semantics legitimately require the flagged construct
CARTESIAN_OK = {
    # sim_cosine_topk/lsh and sim_ivf_topk left this list in round 4:
    # their scoring moved to Arrow kernels + posexplode/bucket joins,
    # so no cross join remains in their plans.
    "sim_pairwise_label",   # sampled pair set
    "insert_rows",          # 2-row literal cross join with max-key
    "cdc_changes",          # 50-row literal x 1-row max-key (bounded)
    "ts_resample",          # spine x event_type (metadata-sized)
    "ts_interpolate",       # builds on the ts_resample spine (same bound)
    "ts_holtwinters",       # the same hourly spine x event_type cross
    "sql_recursive_cte",    # pure-inequality join: 10-row recursion result
                            # broadcast + nested-loop IS the right plan
    "tfidf_top_terms",      # 1-row broadcast n_sources scalar — the same
                            # plan a scalar subquery compiles to
    "bm25_topk",            # 1-row broadcast (N, avgdl) corpus stats —
                            # same scalar-subquery shape as tfidf
    # event_markov_stationary left this list in round 13: the power
    # iteration and final normalization now fold driver-side over the
    # collected |types|^2 matrix, so no cross join remains in its plan.
    "retrieval_rrf_fusion", # embeds the bm25 scorer, so the same 1-row
                            # corpus-stats broadcast appears in its plan
    "quality_lm_score",     # 1-row broadcast corpus-total scalar
    "graph_hits",           # two 1-row broadcast mass totals for the
                            # final normalization — scalar-subquery
                            # shape; the iteration is equi-joins only
    "emb_pca_power",        # 1-row broadcast direction vector per step
    "emb_whiten",           # same 1-row direction broadcast
    "event_rfm",            # 1-row broadcast global max-ts anchor —
                            # the scalar-subquery shape again
    "curation_mixture_balance",  # 1-row broadcast global budget scalar
    "sim_maxsim_topk",      # 16-row query-token broadcast x corpus —
                            # the late-interaction scoring scan (model-
                            # sized side; IVF prefilter is the scale cut)
    "quality_fk_audit",     # per-edge 1-row (n_rows) x 1-row (orphan
                            # stats) scalar crossJoin — scalar-subquery
                            # shape, 4 edges
    "quality_pmi_bigrams",  # two 1-row broadcast corpus totals (N_u, N_b)
                            # — the scalar-subquery shape
    "retrieval_ndcg",       # embeds the bm25 corpus-stats broadcast plus
                            # a 1-row broadcast IDCG scalar — two
                            # scalar-subquery shapes
    "basket_pair_lift",     # 1-row broadcast order-count scalar — the
                            # scalar-subquery shape (pairs themselves
                            # join hash-wise within the order key)
    "ts_drift_report",      # 1-row broadcast min-day split scalar —
                            # the scalar-subquery shape
    "join_bloom_pruned",    # 1-row broadcast bloom bit-array frame —
                            # the scalar-subquery shape (the filter is
                            # the scalar); the real join is hash-based
    "skew_report",          # two 1-row broadcast stat frames per relation
                            # (n_keys/n_rows/max + percentile scalars) —
                            # the scalar-subquery shape over a histogram
                            # whose size is the count-of-counts domain
    "agg_kmv_portable",     # t_a < t_b pair join over the 5-row per-
                            # type sketch-stats frame — pure-inequality
                            # join of a METADATA-sized relation (|types|
                            # rows, never data-sized); nested-loop IS
                            # the right plan, like sql_recursive_cte.
                            # The corpus-sized stage (distinct member-
                            # ship scan + k-min window) is hash/window
                            # partitioned and plan-gated separately.
}
PYTHON_OK = {
    "udf_scalar",
    "udf_table",            # Python UDTF (BatchEvalPythonUDTF) — API demo
    "udf_pandas_scalar",
    "udf_grouped_agg",
    "udf_grouped_map",
    "udf_sql_registered",
    "media_features",
    "dedup_minhash_lsh",    # pyspark.ml MinHash UDF internals
}

_QUERIES = registry.all_queries()


@pytest.mark.parametrize("key", sorted(_QUERIES))
def test_no_plan_antipatterns(spark, key):
    plan = formatted_plan(_QUERIES[key](spark, SF_DIR))
    if key not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, f"{key}: unexpected cartesian"
        assert "BroadcastNestedLoopJoin" not in plan, f"{key}: nested loop join"
    if key not in PYTHON_OK:
        assert "BatchEvalPython" not in plan, f"{key}: row-at-a-time Python"

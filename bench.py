#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes via a noop sink (full execution, no driver
materialization), best-of-3 so JIT/codegen warmup doesn't dominate.

Stdout contract: the round driver captures only the LAST 2000 chars of
combined output and parses the final JSON line found there. Round 9's
line (80 one-x timings + 80 x10 timings + 80 exponents) overflowed that
window and came back ``parsed: null``. So stdout now carries ONLY the
compact 1x map (separators without spaces, 2 decimals, the costliest
keys that fit), printed as the process's very last act — after the trend
append and after ``spark.stop()`` so no late stderr can land behind it.
The full-precision timings plus the x10/exponent maps go to
BENCH_TREND.jsonl.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Headline set: grows as operators land. Keep it to the queries that
# represent real work (scan+agg, joins, windows, text/dedup) — not the
# tiny metadata ops.
HEADLINE = [
    "pricing_summary",      # scan + filter + hash agg (TPC-H Q1 shape)
    "model_over_agg",       # groupBy + having
    "exists_probe",         # semi join
    "join_lookup_one",      # broadcast lookup join
    "join_range",           # equi + range residual join
    "computed_column",      # codegen'd scalar projection
    "topk_limit",           # TakeOrderedAndProject
    "win_running_sum",      # window: shuffle + in-partition sort
    "agg_rollup",           # grouping sets expansion
    "stream_session",       # lag/cumsum sessionization
    "dedup_exact",          # md5 fingerprint + hash agg
    "text_stats",           # regex-heavy text scan
    "sim_cosine_topk",      # vector math + window top-k
    "join_asof",            # as-of join (union + carry-forward window)
    "sql_q3_shipping_priority",  # 3-way join + agg + top-k (SQL API)
    "text_chunk",           # sliding-window chunk fan-out (codegen explode)
    "token_pack",           # running-sum window packing + re-agg
    "contamination_ngram",  # shingle explode + broadcast semi-join
    "join_interval_binned", # keyless interval join via binned equi-join
    "agg_bitmap_distinct",  # exact distinct from mergeable bitmaps
    "bm25_topk",            # posting-filtered explode + broadcast idf + top-k
    "quality_lm_score",     # token explode + vocab join + doc rollup
    "graph_pagerank",       # 3 iterations x (join + dst agg) over 1.2M edges
    "ts_ewma",              # per-user ordered fold (collect_list + aggregate)
    "dedup_substring_windows",  # 2 hash aggs over 32-char window hashes
    "cluster_kmeans",       # k-centroid broadcast assignment x2 + recenter
    "dedup_url_canonical",  # parse_url canonicalization + hash agg (r4)
    "win_global_cumsum",    # two-phase global running total (r4)
    "ts_anomaly_mad",       # median/MAD robust outliers, 3 broadcast passes (r5)
    "ts_seasonal_decompose",  # one fact agg + metadata re-agg (r5)
    "retrieval_rrf_fusion", # bm25 + coverage ranker fusion (r5)
    "sim_pq_topk",          # PQ encode + LUT ADC scoring Arrow kernel (r5)
    "curation_mixture_balance",  # bucketed per-lang rank + integer quotas (r5)
    "token_pack_salted",    # salted packing windows + prefix offsets (r6)
    "quality_ngram_census", # sharded heavy-hitter top-K + bounded merge (r6)
    "ts_acf",               # hourly-series autocorrelation, exact ints (r6)
    "retrieval_mmr",        # diversified top-5: kernel scan + greedy (r6)
    "dedup_prefix_filter",  # exact AllPairs prefix-filtered Jaccard (r6)
    "join_bloom_pruned",    # bloom-pruned fact scan + exact join (r6)
    "phrase_search_positional",  # aligned-anchor phrase match (r6)
    "quality_pmi_bigrams",  # rational-PMI collocation mining (r6)
    "ts_holt",              # 2-state Holt fold over hourly series (r6)
    "sim_maxsim_topk",      # MaxSim late-interaction scoring scan (r6)
    "dedup_paragraph",      # corpus boilerplate-segment removal (r6)
    "event_concurrency_peak",  # sweep-line interval overlap (r6)
    # --- round-9 breadth extension (verdict item 5): at least one key
    # per registry family. Totals are NOT comparable to BENCH_r08 and
    # earlier (45-key set); BASELINE.md marks the cut. ---
    "catalog_managed_agg",  # metastore-managed table scan + agg
    "catalog_dpp_join",     # dynamic partition pruning join
    "catalog_bucketed_join",  # zero-exchange co-located join
    "media_stats",          # binary payload metadata scan
    "media_frame_sample",   # RAWV frame sampling via mapInPandas
    "join_asof_tolerance",  # as-of join with tolerance band
    "cdc_changes",          # change-data-capture diff
    "scd2_dimension",       # slowly-changing-dimension type 2 build
    "sql_q9_profit_by_nation",   # 6-way join + agg (TPC-H tail)
    "sql_q18_large_orders",      # groupBy-having semi join (TPC-H tail)
    "sql_q21_waiting_suppliers", # exists/not-exists double probe
    "stream_tumbling",      # tumbling window batch face
    "stream_upsert_state",  # CDC-upsert last-state batch face
    "stream_lateness_report",  # watermark lateness accounting
    "event_sessionize",     # gap-based sessionization
    "event_retention",      # cohort retention matrix
    "win_session_native",   # native batch session_window
    "win_median_rolling",   # rolling median window
    "agg_percentile",       # exact percentile agg
    "agg_hll_portable",     # portable HLL distinct sketch
    "dedup_minhash_portable",  # portable MinHash near-dup pairs
    "dedup_incremental_indexed",  # delta-vs-corpus indexed dedup
    "sim_ivf_topk",         # IVF-bucketed ANN top-k
    "emb_pca_power",        # PCA via power iteration
    "ts_interpolate",       # gap-fill linear interpolation
    "ts_changepoint",       # CUSUM changepoint scan
    "pivot_dynamic",        # dynamic-key pivot
    "profile_documents",    # whole-table profiling report
    "skew_report",          # key-skew diagnosis
    "graph_triangles",      # triangle counting
    "graph_bfs_distance",   # bounded BFS distances
    "mv_join_incremental",  # incremental join-view maintenance
    "zorder_layout",        # z-order interleaved layout
    "quality_fk_audit",     # FK-graph integrity audit
    "curation_funnel",      # composed curation pipeline
    # --- round-10 additions ---
    "agg_countmin_portable",  # mergeable CMS frequency sketch
    "text_langid_profile",    # trained bigram-profile language ID
    "sample_reservoir",       # hash-priority reservoir sample (top-k)
    "graph_communities_lpa",  # fixed-unroll label-propagation communities
    # --- round-11 additions ---
    "graph_communities_incremental",  # delta-sized community attach
    "agg_kmv_portable",       # KMV/theta set-intersection sketch
    "sim_mrl_topk",           # Matryoshka coarse-to-fine ANN
    "graph_cc_largestar",     # O(log n)-round star-contraction CC
    "event_bot_regularity",   # inter-arrival-regularity bot gate
    "layout_rendezvous_shards",  # HRW stable sharding movement audit
    "event_pattern_match",    # CEP sequence-pattern census (regex over slices)
    "read_python_datasource_timetravel",  # versioned-manifest snapshot reads
    "graph_random_walks",     # deterministic DeepWalk corpus census
    # --- round-12 additions ---
    "read_python_datasource_changes",  # CHANGES BETWEEN over the CAS log
    "event_pattern_match_within",      # time-bounded CEP (one exchange)
    "graph_node2vec_walks",            # biased 2nd-order walk census
    "agg_sample_quantile_portable",    # bottom-k sample quantile sketch
    "quality_vocab_zipf",              # per-lang Zipf head audit
    "layout_hilbert_curve",            # unrolled xy2d layout census
    "curation_soft_dedup_weights",     # 1/cluster-size soft-dedup weights
    "event_markov_stationary",         # journey-chain fixpoint (16 rounds)
    "ts_holtwinters",                  # triple smoothing, seasonal fold
    "graph_kcore",                     # sequential peel on shared index
    "event_pattern_alternation",       # CEP alternation regex census
    "graph_hits",                      # exact-integer hubs/authorities
    "agg_winsorized_stats",            # robust means off cent histogram
    "curation_split_by_family",        # leakage-free CC-keyed split
    "graph_pagerank_personalized",     # seed-restart PPR top-20
    "ts_anomaly_iqr",                  # Tukey fences, integer quartiles
    "dedup_index_maintain",            # append-only index fold, 2 batches
    "read_python_datasource_compacted",  # OPTIMIZE/VACUUM checkpoint log
    "text_bpe_merges",                 # 10 greedy merges over the vocab
    "text_bpe_apply",                  # tokenize via the learned table
    "graph_scc",                       # doubling closure, type-bounded
    "event_time_to_convert",           # funnel latency, histogram ranks
    "read_schema_evolution",           # mergeSchema two-generation read
]


# The driver tails the last 2000 chars of combined stdout+stderr and
# json-parses the final line found there. Leave headroom for the
# trailing newline and any stray shutdown bytes.
_STDOUT_LINE_LIMIT = 1980


def _render_stdout_line(
    total: float, timings: dict[str, float], sf_val
) -> str:
    """Serialize the bench payload to ONE compact line <= the driver's
    tail window. One rule: every value is rounded to 2 decimals, and the
    costliest keys whose line fits are kept. When any key is dropped, the
    line carries ``queries_omitted`` and ``omitted_hash`` (md5 of the
    sorted dropped-key list), so a reader can check WHICH keys were
    dropped against BENCH_TREND.jsonl, which always holds the full map.
    """

    def render(kept: set[str]) -> str:
        payload = {
            "metric": "headline_queries_total_sec",
            "value": round(total, 2),
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in timings.items() if k in kept},
            "sf": sf_val,
        }
        dropped = sorted(k for k in timings if k not in kept)
        if dropped:
            payload["queries_omitted"] = len(dropped)
            payload["omitted_hash"] = hashlib.md5(
                ",".join(dropped).encode()
            ).hexdigest()[:12]
        return json.dumps(payload, separators=(",", ":"))

    kept = sorted(timings, key=timings.get, reverse=True)
    line = render(set(kept))
    while len(line) > _STDOUT_LINE_LIMIT:
        kept.pop()  # the cheapest key still kept
        line = render(set(kept))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from hive_2_spark.session import cpu_count, get_spark

    spark = get_spark("hive_2_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    # sf0.1 shuffles are KB-sized: fewer shuffle partitions cut fixed
    # task overhead ~25% (measured). Cluster deployments size this to the
    # data; AQE re-coalesces either way.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    qmap = entrymod.queries()
    keys = [k for k in HEADLINE if k in qmap]

    # Warm the session (JVM, parquet footers).
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    timings: dict[str, float] = {}
    for key in keys:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df = qmap[key](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[key] = round(best, 4)

    total = round(sum(timings.values()), 4)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    # Scale maps: when the 10x blowup fixture exists (tools/scale10.py
    # build), time every headline query there too and record the scaling
    # exponent log10(t10/t1) — the empirical check that no headline plan
    # hides a super-linear term. These maps go to BENCH_TREND.jsonl ONLY
    # (round-9 lesson: on stdout they overflowed the driver's 2000-char
    # tail capture and made the official artifact unparseable).
    x10: dict[str, float] = {}
    expo: dict[str, float] = {}
    x10_dir = os.environ.get(
        "SPARK_GRAFT_X10_DIR", os.path.join(REPO, ".scale10", "sf1.0")
    )
    if sf_val == 0.1 and os.path.exists(os.path.join(x10_dir, "_SCALE10_OK")):
        import math

        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.read.parquet(os.path.join(x10_dir, "lineitem.parquet")).count()
        for key in keys:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                qmap[key](spark, x10_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            x10[key] = round(best, 4)
            expo[key] = round(
                math.log(max(best, 1e-4) / max(timings[key], 1e-4))
                / math.log(10),
                2,
            )

    # Append full precision + scale maps to the per-round trend log so
    # regressions are mechanically diffable (tools/bench_trend.py)
    # instead of eyeballed. Trend-write failure never fails the bench.
    try:
        import subprocess

        commit = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except Exception:
        commit = None
    trend_rec: dict = {
        "ts": round(time.time(), 1),
        "commit": commit,
        "sf": sf_val,
        "cpus": cpu_count(),
        "total_sec": total,
        "queries": timings,
    }
    if x10:
        trend_rec["queries_x10"] = x10
        trend_rec["x10_total_sec"] = round(sum(x10.values()), 4)
        trend_rec["scale_exponent"] = expo
    try:
        with open(os.path.join(REPO, "BENCH_TREND.jsonl"), "a") as f:
            f.write(json.dumps(trend_rec) + "\n")
    except OSError:
        pass

    spark.stop()
    # Final act: ONE compact JSON line, guaranteed to fit the driver's
    # 2000-char tail window (see module docstring).
    print(_render_stdout_line(total, timings, sf_val))


if __name__ == "__main__":
    main()

"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.  Each query is timed end-to-end
(plan + execute + collect) after a one-query JVM warm-up so codegen /
classloading costs don't land on the first measured entry.

Each query is run three times; the headline "queries"/"value" keep the
best attempt (comparable with earlier rounds, and best-of-N measures
the code rather than the co-tenant neighbours — load average regularly
hits 4-6 with no local processes), while "queries_median"/
"value_median" report the per-query median so round-over-round deltas
are attributable: a regression that survives the median is real, one
that only shows in best-of is host noise (see PERF_NOTES.md "Bench
variance caveat").
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iot_elt_airflow_mongo_timescaledb_spark.plans.registry import spark_queries
from iot_elt_airflow_mongo_timescaledb_spark.session import get_spark

# Headline set: one per operator family (SURVEY §2) + the training-data
# pipeline ops + the streaming rollup.
HEADLINE = [
    "pricing_summary",          # grouped multi-agg scan (A1/A2)
    "daily_steps",              # time-keyed rollup (A1/P3)
    "weekly_summary",           # two-key join of two aggs (J4/A6)
    "stage_users",              # left join + collect_list (J2/A3)
    "health_metrics_per_age_grp",  # CTE + CASE buckets + join + avg-of-avg
    "semi_join_urgent",         # left-semi existence filter (J3)
    "topk_orders_per_customer", # window top-k
    "parent_child_roundtrip",   # flatten + reassemble (S10/J1)
    "dedup_exact",              # hash-groupBy dedup
    "lsh_candidate_pairs",      # MinHash + banded LSH
    "ngram_jaccard_pairs",      # verified Jaccard on candidates
    "simhash_signatures",       # bitwise SimHash
    "quality_scores",           # text quality scoring
    "lang_id",                  # n-gram language id
    "cosine_topk",              # brute-force ANN baseline
    "multimodal_features",      # Arrow mapInPandas binary pipeline
    "streaming_hourly_rollup",  # Structured Streaming drain
    "dedup_clusters",           # iterative connected components
    "asof_last_view_before_purchase",  # as-of join (1 shuffle)
    "session_windows",          # event-time sessionization
    "rollup_revenue",           # OLAP subtotal grid
    "distinct_users_daily",     # two-phase exact distinct
]

# measured single-shot, reported separately (not in the headline total)
EXTENDED = [
    "contamination_check",      # benchmark n-gram decontamination
    "token_budget_cut",         # two-phase histogram budget cut
    "pii_redact",               # pattern census + redaction
    "props_json_stats",         # JSON payload extraction
    "substring_dup_pairs",      # exact long-n-gram partial-copy tier
    "curation_funnel_full",     # 7-stage composed pipeline
    # round-5 additions
    "chunk_dedup_clean",        # paragraph-chunk dedup removal
    "shuffle_shards",           # deterministic shuffle-shard assignment
    "unigram_logprob_scores",   # corpus-unigram LM filter score
    "corpus_ngram_topk",        # stop-gram census (TakeOrdered)
    "embedding_near_dup_lsh",   # bucketed near-dup pairs
    "cluster_best_keepers",     # quality-aware cluster keep-list
    "auto_mix_sample",          # measure-then-mix closed loop
    "table_profile",            # one-pass column profiling
    "semantic_dedup_keepers",   # bucketed SemDeDup keep-list
    "embedding_quantization",   # int8 storage tier
    # hypertable analytics + sketch rollup (round-5 late additions)
    "gapfill_locf",             # dense grid + LOCF window
    "first_last_daily",         # min_by/max_by ordered aggregate
    "counter_rate_stats",       # lag-delta rates
    "lttb_downsample",          # applyInPandas LTTB
    "hll_rollup_distinct",      # mergeable sketch rollup
    "ranking_functions",        # full ranking surface, one shuffle
    "tokenize_docs",            # vocab application (broadcast term join)
    "quarantine_stats",         # contract-violation census
    "counter_total_increase",   # reset-aware counter increase
    "streaming_session_rollup",  # session_window state operator drain
    "ann_ivf_int_topk",         # deterministic integer-IVF
    "split_leakage_pairs",      # train/heldout leakage audit
    "scd2_snapshot_history",    # SCD-2 snapshot end-to-end
    "series_similarity_topk",   # Pearson series similarity search
    "streaming_stream_left_join",  # left-outer stream-stream join drain
    # round-7 additions
    "hist_rollup_quantiles",    # mergeable fixed-bin quantile rollup
    "manifest_time_travel",     # commit-log format merge + time travel
    "dsir_importance_weights",  # DSIR data-selection weights
    "curriculum_shards",        # quantile-bucketed curriculum layout
    # round-8 additions
    "manifest_data_skipping",   # per-entry min/max stats + entry pruning
    "topk_rollup_heavy_hitters",  # capped count-map top-k rollup
    "manifest_change_feed",     # append-only CDC read between versions
    "manifest_clustered_skipping",  # range-clustered rewrite, file pruning
    "agg_rollup_regrain",       # stored-rollup regrain, no fact rescan
    # round-9 additions
    "manifest_multicol_skipping",  # AND-of-ranges entry pruning
    "manifest_zorder_skipping",    # multi-col z-order rewrite + 2-D pruning
    "manifest_delete_where",       # stats-bounded row-level DELETE
    "manifest_schema_evolution",   # additive evolution, NULL-fill reads
    "manifest_check_constraints",  # pre-commit batch rejection
    "manifest_update_where",       # stats-bounded row-level UPDATE
    "manifest_cdf_feed",           # row-level change data feed
    # round-14 additions
    "streaming_cdf_source",        # warehouse_cdf readStream + idempotent sink
    "sql_dml_roundtrip",           # SQL DML/DDL front-end end-to-end
    # round-10 additions
    "manifest_merge_bounded",      # stats-bounded MERGE + merge CDC classes
    "ann_maintained_topk",         # warehouse-maintained IVF index
    "manifest_merge_converged",    # cluster-on-compact random-key convergence
    "ann_streaming_topk",          # streaming index-maintenance twin
    "manifest_mor_delete",         # merge-on-read DELETE (zero data rewrite)
    "rollup_cdf_upsert",           # retraction-aware rollup over merges
    # round-11 additions
    "ann_cdf_upsert_topk",         # retraction-aware ANN index over merges
    "manifest_merge_mor",          # merge-on-read MERGE (positional DVs)
    "manifest_update_mor",         # merge-on-read UPDATE (postimage append)
    # round-12 additions
    "manifest_bloom_lookup",       # per-entry bloom point-lookup pruning
    "bpe_merges",                  # distributed BPE merge training
    # round-13 additions
    "manifest_concurrent_upserts",  # multi-writer optimistic concurrency
    "manifest_snapshot_pinned",     # pinned-snapshot read handle
    "rag_context_assembly",         # two-stage retrieval + budgeted context
    # round-15 additions
    "rollup_stream_hist",           # streaming sketch-rollup maintenance
    "sql_txn_views",                # SQL BEGIN/COMMIT + persisted views
    "ingest_schema_drift",          # auto-evolving drifted document sync
    "sql_matview_refresh",          # SQL materialized view + incremental refresh
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # load gate (r15, VERDICT r14 task 5): two rounds running, the
    # committed BENCH record was taken under co-tenant load and needed
    # judge re-adjudication.  Wait out a busy host with bounded
    # retries; if it never quiets, proceed but mark the record
    # ``degraded: true`` so the verdict can discount it without a
    # re-run.  Per-query loadavg samples below make a contaminated ROW
    # machine-identifiable too.
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0"))
    # min 1: the load is always CHECKED at least once — retries only
    # bound the waiting, and retries=0 must not mark a quiet host
    # degraded without ever sampling it
    retries = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_LOAD_RETRIES", "3")))
    backoff = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_BACKOFF_S", "300"))
    degraded = True
    for attempt in range(retries):
        if os.getloadavg()[0] <= max_load:
            degraded = False
            break
        if attempt < retries - 1:
            print(
                json.dumps(
                    {
                        "bench_load_wait": round(os.getloadavg()[0], 2),
                        "backoff_s": backoff,
                        "attempt": attempt + 1,
                    }
                ),
                file=sys.stderr,
            )
            time.sleep(backoff)
    loadavg_start = round(os.getloadavg()[0], 2)

    spark = get_spark("bench")
    queries = spark_queries()

    # warm-up: JVM + parquet footer caches + codegen paths
    queries["pricing_summary"](spark, sf_dir).collect()
    # prime the Python worker pool (daemon fork + pandas/pyarrow import is
    # a one-time per-executor cost; long-lived clusters run warm)
    import pandas as pd  # noqa: F401

    def _noop(batches):
        for b in batches:
            yield b

    n_workers = spark.sparkContext.defaultParallelism
    (
        spark.range(n_workers, numPartitions=n_workers)
        .mapInPandas(_noop, schema="id long")
        .collect()
    )

    import statistics

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    best: dict[str, float] = {}
    median: dict[str, float] = {}
    loadavg_q: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        loadavg_q[name] = round(os.getloadavg()[0], 2)
        attempts = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            attempts.append(time.perf_counter() - t0)
        best[name] = round(min(attempts), 3)
        median[name] = round(statistics.median(attempts), 3)

    # later-round additions, measured once each OUTSIDE the headline
    # total so "value" stays comparable across rounds
    extended: dict[str, float] = {}
    for name in EXTENDED:
        loadavg_q[name] = round(os.getloadavg()[0], 2)
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).collect()
        extended[name] = round(time.perf_counter() - t0, 3)

    # warm per-trigger twins: the one-shot streaming entries above time
    # cold-start + full-history drain; the production number for a
    # long-running sync is the steady-state second-micro-batch latency
    # (see PERF_NOTES "Warm streaming methodology")
    from iot_elt_airflow_mongo_timescaledb_spark.streaming.micro_batch import (
        warm_session_rollup_trigger,
        warm_stream_left_join_trigger,
    )

    # warm entries auto-size state partitions via the production policy
    # (sized_state_partitions: clamp(est_keys/100k, 4, 4096) — the
    # round-7 A/B finding turned into the builders' default); the
    # _sized32 control re-measures the same trigger at the pre-policy
    # session conf so the policy's win stays visible round-over-round
    extended["streaming_session_rollup_warm"] = round(
        warm_session_rollup_trigger(spark, sf_dir), 3
    )
    extended["streaming_stream_left_join_warm"] = round(
        warm_stream_left_join_trigger(spark, sf_dir), 3
    )
    extended["streaming_stream_left_join_warm_sized32"] = round(
        warm_stream_left_join_trigger(spark, sf_dir, state_partitions=32), 3
    )

    # standing sf1 scale row (r14, VERDICT r13 task 8): a fixed
    # headline subset measured once at 10x the bench SF so a
    # super-linear regression is caught round-over-round instead of
    # re-probed ad hoc.  The amplified dataset builds once into the
    # gitignored .scale/sf1 (tools/scale_probe.py) and is reused by
    # later rounds; disable with SPARK_GRAFT_SF1=0.  Reference point
    # (PERF_NOTES r13): sf1 headline total ~2.9x the sf0.1 total —
    # sublinear in the 10x data.
    sf1: dict[str, float] = {}
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/.scale/sf1")
    if (
        os.environ.get("SPARK_GRAFT_SF1", "1") != "0"
        and sf is not None
        and abs(sf - 0.1) < 1e-9
    ):
        try:
            if not os.path.exists(
                os.path.join(sf1_dir, "lineitem.parquet")
            ):
                sys.path.insert(
                    0, os.path.join(os.path.dirname(__file__), "tools")
                )
                import scale_probe

                scale_probe.build(sf_dir, sf1_dir, 10, spark)
            for name in (
                "pricing_summary",      # full-scan grouped agg
                "daily_steps",          # time-keyed rollup
                "stage_users",          # join + collect_list
                "topk_orders_per_customer",  # window top-k
                "dedup_exact",          # hash-groupBy dedup
                "lsh_candidate_pairs",  # banded LSH join chain
                "cosine_topk",          # brute-force ANN baseline
            ):
                t0 = time.perf_counter()
                queries[name](spark, sf1_dir).collect()
                sf1[name] = round(time.perf_counter() - t0, 3)
            # "_total" stays the ORIGINAL 7-query sum (round-over-round
            # comparable); the lifecycle row below reports separately
            sf1["_total"] = round(sum(sf1.values()), 3)
            # r16 (VERDICT r15 task 8): one WAREHOUSE-LIFECYCLE row at
            # sf1 — sf0.1 is fixed-overhead-saturated for these rows
            # (8 cores ≥ 32), so a parallelism regression in the
            # merge/commit paths was invisible to the scale probe
            t0 = time.perf_counter()
            queries["manifest_merge_bounded"](spark, sf1_dir).collect()
            sf1["manifest_merge_bounded"] = round(
                time.perf_counter() - t0, 3
            )
        except Exception as exc:  # never fail the bench for the probe
            sf1 = {"_error": str(exc)[:200]}

    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": round(sum(best.values()), 3),
                "unit": "sec",
                "queries": best,
                "value_median": round(sum(median.values()), 3),
                "queries_median": median,
                "queries_extended": extended,
                "sf1_headline": sf1,
                "runs_per_query": n_runs,
                "sf": sf,
                "loadavg_start": loadavg_start,
                "loadavg_end": round(os.getloadavg()[0], 2),
                "loadavg_queries": loadavg_q,
                "degraded": degraded,
            }
        )
    )
    # per-query best seconds as compact line(s) (r16, VERDICT r15 task
    # 1): the full line above outgrows the driver's ~2,000-char stdout
    # tail, so PERF per_query/geomean/scaling were empty two rounds
    # running.  These lines carry name->sec for every row, 2dp, in
    # ASCENDING cost order split across two lines so the most
    # expensive rows sit LAST — if the tail clips anything, it clips
    # the cheapest rows first.  Values are the same numbers as the
    # full line (headline best-of-N; extended single-shot) — a second
    # view of the same measurement, not a re-measurement.
    per_query = {**best, **extended}
    items = sorted(per_query.items(), key=lambda kv: kv[1])
    entries = [
        (name, json.dumps({name: round(v, 2)}, separators=(",", ":"))[1:-1])
        for name, v in items
    ]
    # pack the LAST line with as many of the most expensive rows as
    # fit beside the headline_compact line inside the ~2,000-char tail
    tail_cap = 1500
    wrap = len('{"metric":"per_query_best","part":2,"parts":2,"q":{}}') + 1
    size, split = wrap, len(entries)
    for i in range(len(entries) - 1, -1, -1):
        size += len(entries[i][1]) + 1
        if size > tail_cap:
            break
        split = i
    for part, chunk in ((1, items[:split]), (2, items[split:])):
        if not chunk:
            continue
        print(
            json.dumps(
                {
                    "metric": "per_query_best",
                    "part": part,
                    "parts": 2,
                    "q": {n: round(v, 2) for n, v in chunk},
                },
                separators=(",", ":"),
            )
        )
    # compact record LAST (r13, VERDICT task 3): the driver keeps a
    # 2,000-char stdout TAIL, and the full line above outgrew it (the
    # r12 record lost its headline totals and began mid-extended).
    # This line is what survives truncation — keep it small and
    # self-sufficient.
    print(
        json.dumps(
            {
                "metric": "headline_compact",
                "value": round(sum(best.values()), 3),
                "value_median": round(sum(median.values()), 3),
                "unit": "sec",
                "sf1_total": sf1.get("_total"),
                "sf": sf,
                "runs_per_query": n_runs,
                "loadavg_start": loadavg_start,
                "loadavg_end": round(os.getloadavg()[0], 2),
                "loadavg_max_query": max(loadavg_q.values() or [0.0]),
                "degraded": degraded,
            }
        )
    )


if __name__ == "__main__":
    main()

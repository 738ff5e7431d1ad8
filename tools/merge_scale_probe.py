"""Bounded-MERGE scale probe (round 10, VERDICT r9 tasks 1/9).

Seeds a key-clustered raw table from ``orders`` at the given SF as N
range chunks (stats on the key), then measures ONE micro-batch upsert
(0.1% of keys, inside a single chunk's range) two ways:

- ``bounded``: ``ManifestFormat.merge`` — stats-pruned copy-on-write;
  the headline number is the IDENTITY-CARRY RATIO (entries carried
  unrewritten / total) plus wall time;
- ``full_rewrite``: the engine-generic base plan
  (``TableFormat.merge`` — left-anti + replace), what every format
  without MERGE support must do and what the repo itself did before
  round 10.

Usage: ``python tools/merge_scale_probe.py [sf_dir]`` (default
``/root/repo/.scale/sf1``) → one JSON line for PERF_NOTES.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
        ManifestFormat,
        TableFormat,
    )
    from iot_elt_airflow_mongo_timescaledb_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
    n_chunks = 20
    spark = get_spark("merge_probe")
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    n_rows = o.count()
    # chunk bounds from EQUI-DEPTH key quantiles — the sf1 keyspace is
    # sparse (offset replicas), so equal-width key ranges would leave
    # half the chunks EMPTY (stats [None, None] — unprunable by
    # design: keep-by-default), which no real append stream produces
    qs = o.approxQuantile(
        "o_orderkey", [i / n_chunks for i in range(1, n_chunks)], 0.001
    )
    row = o.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    ).first()
    bounds = [int(row["mn"]) - 1] + [int(q) for q in qs] + [int(row["mx"])]

    out = {"sf_dir": sf_dir, "rows": n_rows, "chunks": n_chunks}
    # the micro-batch: the first 0.1% of REAL keys inside the middle
    # chunk's range
    mid_lo = bounds[n_chunks // 2] + 1
    batch = (
        o.filter(F.col("o_orderkey") >= mid_lo)
        .orderBy("o_orderkey")
        .limit(max(1, n_rows // 1000))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    )
    out["batch_rows"] = batch.count()
    assert out["batch_rows"] > 0

    for mode in ("bounded", "full_rewrite", "mor"):
        root = tempfile.mkdtemp(prefix=f"mergeprobe_{mode}_")
        fmt = ManifestFormat(
            spark, root, auto_compact_dirs=None, stats_cols=("o_orderkey",)
        )
        for i in range(n_chunks):
            chunk = o.filter(
                (F.col("o_orderkey") > bounds[i])
                & (F.col("o_orderkey") <= bounds[i + 1])
            )
            fmt.write("raw.orders", chunk, "append" if i else "overwrite")
        before = {e["dir"] for e in fmt._manifest("raw.orders")["entries"]}
        t0 = time.perf_counter()
        if mode == "bounded":
            fmt.merge("raw.orders", batch, "o_orderkey")
        elif mode == "mor":
            fmt.merge_mor("raw.orders", batch, "o_orderkey")
        else:
            TableFormat.merge(fmt, "raw.orders", batch, "o_orderkey")
        wall = time.perf_counter() - t0
        after = {e["dir"] for e in fmt._manifest("raw.orders")["entries"]}
        out[mode] = {
            "merge_s": round(wall, 2),
            "entries_carried": len(before & after),
            "entries_total": len(before),
            "carry_ratio": round(len(before & after) / len(before), 3),
        }
        assert fmt.read("raw.orders").count() == n_rows
        import shutil

        shutil.rmtree(root, ignore_errors=True)

    # -- touched-file-SIZE independence (VERDICT r10 task 5): the same
    # micro-batch against the same table laid out as 4x-larger chunks.
    # COW merge cost scales with the touched chunk's size; the MOR
    # merge writes only the batch + delete mask, so it must stay ~flat.
    n_big = max(2, n_chunks // 4)
    big_bounds = [bounds[0]] + [
        bounds[(i + 1) * n_chunks // n_big] for i in range(n_big)
    ]
    for mode in ("bounded_bigfiles", "mor_bigfiles"):
        root = tempfile.mkdtemp(prefix=f"mergeprobe_{mode}_")
        fmt = ManifestFormat(
            spark, root, auto_compact_dirs=None, stats_cols=("o_orderkey",)
        )
        for i in range(n_big):
            chunk = o.filter(
                (F.col("o_orderkey") > big_bounds[i])
                & (F.col("o_orderkey") <= big_bounds[i + 1])
            )
            fmt.write("raw.orders", chunk, "append" if i else "overwrite")
        t0 = time.perf_counter()
        if mode.startswith("bounded"):
            fmt.merge("raw.orders", batch, "o_orderkey")
        else:
            fmt.merge_mor("raw.orders", batch, "o_orderkey")
        wall = time.perf_counter() - t0
        out[mode] = {"merge_s": round(wall, 2), "chunks": n_big}
        assert fmt.read("raw.orders").count() == n_rows
        import shutil

        shutil.rmtree(root, ignore_errors=True)

    # -- row-level DELETE: copy-on-write vs merge-on-read on the same
    # clustered table (narrow predicate inside one chunk)
    for mode in ("cow_delete", "mor_delete"):
        root = tempfile.mkdtemp(prefix=f"delprobe_{mode}_")
        fmt = ManifestFormat(
            spark, root, auto_compact_dirs=None, stats_cols=("o_orderkey",)
        )
        for i in range(n_chunks):
            chunk = o.filter(
                (F.col("o_orderkey") > bounds[i])
                & (F.col("o_orderkey") <= bounds[i + 1])
            )
            fmt.write("raw.orders", chunk, "append" if i else "overwrite")
        lo = bounds[n_chunks // 2] + 1
        hi_k = int(
            o.filter(F.col("o_orderkey") >= lo)
            .orderBy("o_orderkey").limit(max(1, n_rows // 1000))
            .agg(F.max("o_orderkey")).first()[0]
        )
        before = {e["dir"] for e in fmt._manifest("raw.orders")["entries"]}
        t0 = time.perf_counter()
        if mode == "cow_delete":
            n = fmt.delete_where("raw.orders", "o_orderkey", lo, hi_k)
        else:
            n = fmt.delete_where_mor("raw.orders", "o_orderkey", lo, hi_k)
        wall = time.perf_counter() - t0
        after = {e["dir"] for e in fmt._manifest("raw.orders")["entries"]}
        assert fmt.read("raw.orders").count() == n_rows - n
        out[mode] = {
            "delete_s": round(wall, 2),
            "rows_deleted": int(n),
            "entries_carried": len(before & after),
            "entries_total": len(before),
        }
        import shutil

        shutil.rmtree(root, ignore_errors=True)

    # -- the RANDOM-key story (the reference's _dlt_id is a hash): raw
    # appends span the whole key space, so stats never prune — until
    # cluster-on-compact converges the table to near-disjoint per-file
    # ranges and the same micro-batch merge becomes bounded again
    import shutil

    root = tempfile.mkdtemp(prefix="mergeprobe_converged_")
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=8,
        stats_cols=("o_orderkey",), cluster_by="o_orderkey",
    )
    for i in range(n_chunks):  # each append = a hash-mod slice: spans everything
        sl = o.filter(F.pmod(F.col("o_orderkey"), F.lit(n_chunks)) == i)
        fmt.write("raw.orders", sl, "append" if i else "overwrite")
    pre_cand, pre_m = fmt.prune_entries(
        "raw.orders", "o_orderkey", mid_lo, mid_lo + 10_000
    )
    t0 = time.perf_counter()
    collapsed = fmt.maybe_compact(
        "raw.orders", target_file_bytes=4 * 1024 * 1024
    )
    compact_s = time.perf_counter() - t0
    before = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest("raw.orders")["entries"]
    }
    t0 = time.perf_counter()
    fmt.merge("raw.orders", batch, "o_orderkey")
    wall = time.perf_counter() - t0
    after = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest("raw.orders")["entries"]
    }
    assert fmt.read("raw.orders").count() == n_rows
    out["random_key_converged"] = {
        "pre_compact_prunable": len(pre_m["entries"]) - len(pre_cand),
        "dirs_collapsed": collapsed,
        "compact_s": round(compact_s, 2),
        "merge_s": round(wall, 2),
        "entries_carried": len(before & after),
        "entries_total": len(before),
        "carry_ratio": round(len(before & after) / len(before), 3),
    }
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"probe": "bounded_merge", **out}))


if __name__ == "__main__":
    main()

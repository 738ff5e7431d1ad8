"""Steady-state pipeline soak under the production config (round 11,
VERDICT r10 task 6).

Simulates N consecutive 15-minute sync cycles against ONE warehouse
configured the way the reference's M2 cadence would run at scale:
``CatalogManifestFormat(stats_cols=("_dlt_id",), cluster_by="_dlt_id",
auto_compact_dirs=16, cdf=True)``.  Every cycle:

- a micro-batch lands (mostly NEW random ``_dlt_id`` keys + a slice of
  UPDATES of previously-merged keys — dlt's re-extracted documents),
- MERGEs into the raw table on ``_dlt_id`` (the stats-bounded CoW with
  cluster-on-compact converging the random keys),
- the maintained additive rollup absorbs the row-level change feed
  (``IncrementalAggSync.sync_from_cdf`` — retraction-aware),
- periodic ``vacuum`` (every 10 cycles, keep_last=5) bounds history.

Tracked per cycle: merge wall, rollup-sync wall, merge carry ratio,
manifest inline entries + segment refs, version-file bytes, data dirs
on disk, vacuum debt (dirs on disk minus live).  The verdict criterion
is FLATNESS: the last-10-cycle averages must not drift superlinearly
from the first-10 (compaction keeps read amplification flat, two-tier
metadata keeps commit cost flat, vacuum keeps disk bounded).

Usage: ``python tools/soak_probe.py [n_cycles] [batch_rows]`` →
per-cycle JSON lines + one summary JSON line for PERF_NOTES.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _key(i: int) -> str:
    # dlt-style random-looking key, deterministic for the probe
    return hashlib.md5(f"doc-{i}".encode()).hexdigest()[:16]


def main() -> None:
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )
    from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
        CatalogManifestFormat,
    )
    from iot_elt_airflow_mongo_timescaledb_spark.session import get_spark

    n_cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    batch_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 5000
    mode = sys.argv[3] if len(sys.argv) > 3 else "cow"  # cow | mor
    update_frac = 0.2  # slice of each batch that re-extracts old keys

    spark = get_spark("soak_probe")
    root = tempfile.mkdtemp(prefix="soak_")
    fmt = CatalogManifestFormat(
        spark, root, auto_compact_dirs=16, stats_cols=("_dlt_id",),
        cluster_by="_dlt_id", cdf=True,
        auto_purge_dvs=8,  # MOR debt policy: purge past 8 masks
    )
    agg = IncrementalAggSync(
        spark, root, "agg.seg_val", group_cols=("seg",),
        sum_cols=("val",), table_format=fmt,
    )
    from iot_elt_airflow_mongo_timescaledb_spark.plans.ann_index import (
        IncrementalANNSync,
    )

    idx = IncrementalANNSync(spark, root, "agg.ann", table_format=fmt)

    def batch_df(cycle: int):
        n_upd = int(batch_rows * update_frac) if cycle else 0
        n_new = batch_rows - n_upd
        start = cycle * n_new  # new-key id space advances per cycle
        def emb(i):
            # deterministic 8-dim vector from the id: enough to drive
            # the ANN maintenance path, cheap enough per cycle
            return [
                float((i * q) % 17 - 8)
                for q in (3, 5, 7, 11, 13, 17, 19, 23)
            ]

        rows = [
            Row(
                _dlt_id=_key(start + j),
                seg=f"s{(start + j) % 7}",
                val=float((start + j) % 100),
                embedding=emb(start + j),
            )
            for j in range(n_new)
        ]
        if n_upd:
            # re-extract a spread of OLD keys with changed values
            lo = max(0, start - 3 * n_new)
            step = max(1, (start - lo) // n_upd)
            rows += [
                Row(
                    _dlt_id=_key(lo + j * step),
                    seg=f"s{(lo + j * step) % 7}",
                    val=float((lo + j * step) % 100) + 1000.0,
                    embedding=emb(lo + j * step)[::-1],
                )
                for j in range(n_upd)
            ]
        return spark.createDataFrame(rows)

    def dirs_on_disk() -> int:
        return len(
            [d for d in fmt.fs.list_subdirs(fmt.path("raw.docs"))
             if d.startswith(("d-", "cdc-", "dvp-"))]
        )

    metrics = []
    for cycle in range(n_cycles):
        b = batch_df(cycle)
        m0 = fmt._manifest("raw.docs")
        before = (
            {(e["dir"], e.get("rel")) for e in m0["entries"]} if m0 else set()
        )
        t0 = time.perf_counter()
        if m0 is None:
            fmt.write("raw.docs", b, "overwrite")
        elif mode == "mor":
            # the random-key steady-state posture: zero rewrite per
            # cycle, read debt cleared on the maintenance cadence below
            fmt.merge_mor("raw.docs", b, "_dlt_id")
        else:
            fmt.merge("raw.docs", b, "_dlt_id")
        fmt.maybe_compact("raw.docs")
        merge_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        agg.sync_from_cdf(fmt, "raw.docs")
        sync_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        if cycle == 0:
            idx.train_from_table(
                fmt, "raw.docs", id_col="_dlt_id", cluster_col="seg"
            )
        else:
            # the r10-weak path under soak: retraction-aware index
            # maintenance over the upserting source, MOR retraction
            idx.sync_from_cdf(fmt, "raw.docs", id_col="_dlt_id", mor=True)
        ann_s = time.perf_counter() - t2
        m1 = fmt._manifest("raw.docs", resolve=False)
        m1r = fmt._manifest("raw.docs")
        after = {(e["dir"], e.get("rel")) for e in m1r["entries"]}
        vpath = os.path.join(
            root, "raw.docs", "_log", f"v{m1['version']:012d}.json"
        )
        live = {e["dir"] for e in m1r["entries"]}
        if cycle and cycle % 10 == 0:
            # MOR mask debt is handled by the format's auto_purge_dvs
            # policy now — no manual purge cadence
            fmt.vacuum("raw.docs", keep_last=5, writer_grace_s=0)
            fmt.vacuum(agg.table_name, keep_last=5, writer_grace_s=0)
        rec = {
            "cycle": cycle,
            "merge_s": round(merge_s, 2),
            "rollup_sync_s": round(sync_s, 2),
            "ann_sync_s": round(ann_s, 2),
            "carry_ratio": round(
                len(before & after) / max(1, len(before)), 3
            ),
            "inline_entries": len(m1.get("entries") or []),
            "segment_refs": len(m1.get("segments") or []),
            "vfile_bytes": os.path.getsize(vpath)
            if os.path.exists(vpath)
            else None,
            "dirs_on_disk": dirs_on_disk(),
            "live_dirs": len(live),
        }
        metrics.append(rec)
        print(json.dumps(rec), flush=True)

    # correctness at close: the maintained rollup equals a recompute
    want = {
        (r["seg"], round(r["s"], 2))
        for r in fmt.read("raw.docs")
        .groupBy("seg")
        .agg(F.sum("val").alias("s"))
        .collect()
    }
    got = {
        (r["seg"], round(r["sum_val"], 2))
        for r in agg.read().select("seg", "sum_val").collect()
    }
    assert got == want, "rollup drifted from recompute"
    # and the maintained index serves the final corpus exactly: the
    # assignments' key set equals the table's key set (no stale, no
    # missing, no duplicates) after 50 cycles of mixed DML
    a = idx.wh.read(idx.assign_table)
    got_ids = {r["vec_id"] for r in a.select("vec_id").collect()}
    want_ids = {
        r["_dlt_id"]
        for r in fmt.read("raw.docs").select("_dlt_id").collect()
    }
    assert got_ids == want_ids, "ANN membership drifted from the corpus"
    assert a.count() == len(got_ids), "duplicate assignments"

    def avg(ms, k):
        return round(sum(m[k] for m in ms) / len(ms), 3)

    head, tail = metrics[:10], metrics[-10:]
    summary = {
        "probe": "soak",
        "mode": mode,
        "cycles": n_cycles,
        "batch_rows": batch_rows,
        "first10": {
            k: avg(head, k)
            for k in ("merge_s", "rollup_sync_s", "ann_sync_s",
                      "carry_ratio", "dirs_on_disk")
        },
        "last10": {
            k: avg(tail, k)
            for k in ("merge_s", "rollup_sync_s", "ann_sync_s",
                      "carry_ratio", "dirs_on_disk")
        },
        "final_rows": fmt.read("raw.docs").count(),
        "rollup_matches_recompute": True,
    }
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()

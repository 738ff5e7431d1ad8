"""upsert_cdf — keyed DML on a change-feed table feeding a rollup stream.

A ``ManifestFormat(stats_cols=("k",), cluster_by="k", cdf=True)`` table
of ``BASE_ROWS`` rows.  Each round runs one MERGE (``MERGE_ROWS`` rows,
20% updates of live keys, 80% new keys), one range UPDATE, one range
DELETE, ``LOOKUPS`` point reads, one ``availableNow`` trigger of
``IncrementalAggSync.maintain_stream``, which folds the change feed into
a per-device rollup, and one read of that rollup.  A dict model of the
same operations checks every lookup, the rollup after every trigger and
the final table.
"""

from __future__ import annotations

import random

from .checks import CheckFailed, compare_maps
from .harness import disk_state, local_path, median, span

BASE_ROWS = 200_000
MERGE_ROWS = 5_000
UPDATE_SHARE = 0.2
UPDATE_RANGE = 1_000  # keys touched by the range UPDATE
DELETE_RANGE = 500  # keys touched by the range DELETE
LOOKUPS = 3
DEVICES = 64
TABLE = "raw.t"
PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


class UpsertPart:
    """The upsert_cdf round as one part of a workload (see run.py)."""

    name = "upsert_cdf"
    LAYER_METRICS = (
        "table_format.merge.jobs", "table_format.update.jobs", "table_format.delete.jobs",
        "table_format.point_read.files_read", "table_format.live_files",
        "table_format.log_versions", "table_format.space_amplification",
        *(f"streaming.{p}_ms" for p in PHASES),
        "streaming.start_stop_s", "pipeline.rollup_apply_jobs",
    )

    def __init__(self, run):
        self.run = run
        # a stream of its own: the same seed must give the same rounds
        # whichever parts share the process
        self.rng = random.Random(f"upsert-{run.seed}")
        self.model: dict[int, tuple[str, int]] = {}
        self.next_key = 0
        self.samples = {k: [] for k in (
            "merge_s", "update_s", "delete_s", "point_read_s", "cdf_trigger_s", "rollup_read_s",
        )}
        self.round_s: list[float] = []
        self.layer: dict = {}

    def _frame(self, rows):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["k", "device", "v"])
        return self.run.spark.createDataFrame(pdf, "k long, device string, v long")

    def _new_rows(self, n):
        rows = []
        for _ in range(n):
            k = self.next_key
            self.next_key += 1
            rows.append((k, f"d{self.rng.randrange(DEVICES)}", self.rng.randrange(1000)))
        return rows

    # -- set-up -----------------------------------------------------------

    def setup(self):
        from iot_elt_airflow_mongo_timescaledb_spark.plans.materialize import Warehouse
        from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import IncrementalAggSync
        from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import ManifestFormat

        run = self.run
        spark = run.spark
        self.root = run.dir("upsert", "warehouse")
        self.ckpt = run.dir("upsert", "checkpoint")
        self.fmt = ManifestFormat(spark, self.root, stats_cols=("k",), cluster_by="k", cdf=True)
        self.wh = Warehouse(spark, self.root, table_format=self.fmt)
        self.rollup = IncrementalAggSync(
            spark, self.root, "agg.device_v", group_cols=("device",),
            sum_cols=("v",), table_format=self.fmt,
        )
        if run.tracer is not None:
            self._instrument(run.tracer)
        rows = self._new_rows(BASE_ROWS)
        self.fmt.write(TABLE, self._frame(rows), "overwrite")
        self.model.update({k: (d, v) for k, d, v in rows})
        self.rollup.sync_from_cdf(self.fmt, TABLE)  # bootstrap the cursor
        self._check_rollup()

    # -- one round --------------------------------------------------------

    def step(self):
        with span(self.run, "bench.upsert_round"):
            self._round()

    def ready(self) -> bool:
        return True

    def _round(self):
        run, rng, wh = self.run, self.rng, self.wh
        tracer = run.tracer
        live = sorted(self.model)
        n_upd = int(MERGE_ROWS * UPDATE_SHARE)
        upd_keys = rng.sample(live, n_upd)
        batch = [(k, self.model[k][0], rng.randrange(1000)) for k in upd_keys]
        batch += self._new_rows(MERGE_ROWS - n_upd)
        df = self._frame(batch)
        t = {}

        with span(run, "bench.merge"):
            t["merge_s"], _ = run.op(wh.materialize_upsert, TABLE, df, "k")
        self.model.update({k: (d, v) for k, d, v in batch})

        lo = rng.randrange(0, max(1, self.next_key - UPDATE_RANGE))
        with span(run, "bench.update"):
            t["update_s"], _ = run.op(wh.update_where, TABLE, "k", {"v": "v + 1"}, lo, lo + UPDATE_RANGE - 1)
        for k in range(lo, lo + UPDATE_RANGE):
            if k in self.model:
                d, v = self.model[k]
                self.model[k] = (d, v + 1)

        lo = rng.randrange(0, max(1, self.next_key - DELETE_RANGE))
        with span(run, "bench.delete"):
            t["delete_s"], _ = run.op(wh.delete_where, TABLE, "k", lo, lo + DELETE_RANGE - 1)
        for k in range(lo, lo + DELETE_RANGE):
            self.model.pop(k, None)

        reads = []
        keys = sorted(self.model)
        for _ in range(LOOKUPS):
            k = rng.choice(keys) if rng.random() < 0.8 else lo  # lo: deleted
            with span(run, "bench.point_read") as sp:
                dt, rows = run.op(self._lookup, k, sp)
            reads.append(dt)
            want = [self.model[k]] if k in self.model else []
            got = [(r["device"], r["v"]) for r in rows]
            if got != want:
                raise CheckFailed(f"read_where k={k}: got {got}, expected {want}")
        t["point_read_s"] = median(reads)

        with span(run, "bench.trigger"):
            t["cdf_trigger_s"], progress = run.op(self._trigger)
        t["rollup_read_s"] = self._check_rollup()
        for k, v in t.items():
            self.samples[k].append(v)
        self.round_s.append(sum(v for k, v in t.items() if k != "point_read_s") + sum(reads))
        if tracer is not None:
            self._layer_sample(t["cdf_trigger_s"], progress)

    def _lookup(self, k, sp=None):
        df = self.wh.read_where(TABLE, "k", k, k)
        if self.run.tracer is not None:
            sp["files_read"] = len(df.inputFiles())
        return df.select("device", "v").collect()

    def _trigger(self):
        q = self.rollup.maintain_stream(self.fmt, TABLE, self.ckpt, available_now=True)
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
            raise TimeoutError("cdf trigger did not terminate")
        if q.exception() is not None:
            raise RuntimeError(f"cdf trigger failed: {q.exception()}")
        return list(q.recentProgress)

    # -- checks -----------------------------------------------------------

    def _check_rollup(self) -> float:
        """Read the rollup, check it, and return the read's seconds."""
        want: dict = {}
        for d, v in self.model.values():
            s, n = want.get(d, (0, 0))
            want[d] = (s + v, n + 1)
        dt, rows = self.run.op(
            lambda: self.rollup.read().select("device", "sum_v", "n_rows").collect()
        )
        got = {r["device"]: (r["sum_v"], r["n_rows"]) for r in rows}
        compare_maps(got, want, "per-device rollup after trigger")
        return dt

    def check(self):
        pdf = self.wh.read(TABLE).select("k", "device", "v").toPandas()
        check_table(zip(pdf["k"].tolist(), pdf["device"].tolist(), pdf["v"].tolist()), self.model)

    # -- tracing ----------------------------------------------------------

    def _instrument(self, tracer):
        from iot_elt_airflow_mongo_timescaledb_spark.plans.materialize import Warehouse
        from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import IncrementalAggSync
        from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import ManifestFormat

        for verb in ("materialize_upsert", "update_where", "delete_where", "read_where"):
            tracer.wrap(Warehouse, verb, f"materialize.{verb.removeprefix('materialize_')}")
        for verb in ("merge", "update_where", "delete_where", "read_where", "maybe_compact"):
            tracer.wrap(ManifestFormat, verb, f"table_format.{verb}")
        tracer.wrap(IncrementalAggSync, "maintain_stream", "streaming.start")
        tracer.wrap(IncrementalAggSync, "_apply_stream_batch", "pipeline.rollup_apply")

    def _layer_sample(self, trigger_s, progress):
        import os

        acc = self.layer
        phases = {p: 0.0 for p in PHASES}
        trigger_exec = 0.0
        for pr in progress:
            dm = pr.get("durationMs", {})
            for p in PHASES:
                phases[p] += dm.get(p, 0)
            trigger_exec += dm.get("triggerExecution", 0)
        for p, v in phases.items():
            acc.setdefault(p, []).append(v)
        acc.setdefault("start_stop_s", []).append(trigger_s - trigger_exec / 1000.0)
        table_dir = os.path.join(self.root, *TABLE.split("."))
        files = disk_state(table_dir)
        live = self.wh.read(TABLE).inputFiles()
        live_paths = {local_path(f) for f in live}
        live_bytes = sum(files.get(p, 0) for p in live_paths)
        data_bytes = sum(s for p, s in files.items() if p.endswith(".parquet"))
        acc.setdefault("live_files", []).append(len(live_paths))
        acc.setdefault("log_versions", []).append(
            sum(1 for p in files if os.sep + "_log" + os.sep in p and os.path.basename(p).startswith("v"))
        )
        acc.setdefault("space_amp", []).append(data_bytes / live_bytes if live_bytes else 0.0)

    def per_layer(self) -> dict:
        tr = self.run.tracer
        n = len(self.round_s)
        acc = self.layer
        reads = [s for s in tr.spans if s["name"] == "bench.point_read"]
        rnd = "bench.upsert_round"
        out = {
            "table_format.merge.jobs": tr.total("bench.merge", "jobs") / n,
            "table_format.update.jobs": tr.total("bench.update", "jobs") / n,
            "table_format.delete.jobs": tr.total("bench.delete", "jobs") / n,
            "table_format.point_read.files_read": median([s["files_read"] for s in reads]),
            "table_format.live_files": median(acc["live_files"]),
            "table_format.log_versions": median(acc["log_versions"]),
            "table_format.space_amplification": median(acc["space_amp"]),
            "streaming.start_stop_s": median(acc["start_stop_s"]),
            "pipeline.rollup_apply_jobs": tr.total("pipeline.rollup_apply", "jobs") / n,
            "spark.jobs_per_round": tr.total(rnd, "jobs") / n,
            "spark.tasks_per_round": tr.total(rnd, "tasks") / n,
        }
        for p in PHASES:
            out[f"streaming.{p}_ms"] = median(acc[p])
        return out


def check_table(rows, model: dict) -> None:
    """The table's (k, device, v) rows must equal the dict model, with
    no key twice."""
    got = {}
    for k, d, v in rows:
        if k in got:
            raise CheckFailed(f"{TABLE}: duplicate key {k}")
        got[k] = (d, v)
    compare_maps(got, model, TABLE)

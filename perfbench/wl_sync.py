"""sync_15min — the reference's production loop.

Each cycle lands one new 4-hour bucket of documents per device (heart
rates and steps, each with a metrics array), a rotating slice of sleeps
documents and a users file, then runs ``HealthPipeline.sync`` and
``run_stage`` and reads ``daily_steps_realtime()``.  The cycle that
closes a day also refreshes the daily/weekly/monthly aggregates and the
example views.  A plain-Python model of every document checks the raw
row counts, the realtime and maintained rollups, ``agg.daily_steps`` and
the per device-day heart-rate count and mean.
"""

from __future__ import annotations

import datetime
import json
import os
import random

from .checks import CheckFailed, compare_maps
from .harness import disk_delta, disk_state, local_path, median, span

DEVICES = 40
USERS = DEVICES // 2  # two devices each
HR_PER_BUCKET = 24  # one reading per 10 minutes
STEPS_PER_BUCKET = 16  # one reading per 15 minutes
BUCKET_S = 4 * 3600
BUCKETS_PER_DAY = 6
#: buckets the set-up backfill loads in one sync: day 1 up to 20:00, so
#: the first timed cycle closes day 1 and triggers the aggregate refresh
BACKFILL_BUCKETS = BUCKETS_PER_DAY - 1
COLLECTIONS = ("users", "heart_rates", "sleeps", "steps")
T0 = 1580515200  # 2020-02-01 00:00 UTC


def day_key(epoch: int) -> str:
    return datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc).strftime(
        "%Y%m%d"
    )


class SourceModel:
    """Seeded document generator plus the plain-Python expectation."""

    def __init__(self, seed: int, src_dir: str):
        self.rng = random.Random(seed)
        self.src = src_dir
        for c in COLLECTIONS:
            os.makedirs(os.path.join(src_dir, c), exist_ok=True)
        self.docs = {c: 0 for c in COLLECTIONS}  # docs on disk
        self.file_docs: dict[str, int] = {}  # file path -> docs in it
        self.children = {"heart_rates": 0, "steps": 0, "sleeps": 0}
        self.users: dict[str, dict] = {}
        self.steps: dict[tuple, int] = {}  # (day, device) -> steps
        self.steps_by_bucket: dict[int, dict] = {}
        self.hr: dict[tuple, list] = {}  # (device, day) -> [count, sum]
        self.buckets = 0
        self.new_docs = 0  # docs in the latest landing

    def _dump(self, coll: str, name: str, docs: list) -> int:
        path = os.path.join(self.src, coll, name)
        with open(path, "w") as f:
            json.dump(docs, f)
        self.file_docs[os.path.abspath(path)] = len(docs)
        self.docs[coll] += len(docs)
        self.new_docs += len(docs)
        return os.path.getsize(path)

    def land_users(self, b: int) -> int:
        """Bucket 0 creates every user; later buckets re-extract a
        rotating sixth of them with a newer ``created_at``."""
        rng = self.rng
        start = T0 + b * BUCKET_S
        ids = range(USERS) if b == 0 else [
            u for u in range(USERS) if u % BUCKETS_PER_DAY == b % BUCKETS_PER_DAY
        ]
        docs = []
        for u in ids:
            doc = {
                "_id": f"u{u}",
                "user_id": f"u{u}",
                "age": rng.randrange(12, 90),
                "height": rng.randrange(140, 200),
                "gender": rng.choice(["male", "female"]),
                "email": f"u{u}@example.com",
                "dob": rng.randrange(-600000000, 1200000000),
                "created_at": start - 3600 if b == 0 else start + 100,
                "devices": [f"d{2 * u}", f"d{2 * u + 1}"],
            }
            self.users[doc["_id"]] = doc
            docs.append(doc)
        return self._dump("users", f"b{b:04d}.json", docs)

    def land_bucket(self, b: int) -> int:
        """Write bucket ``b`` of heart rates, steps and sleeps; returns
        the bytes landed (users included)."""
        rng = self.rng
        start = T0 + b * BUCKET_S
        self.new_docs = 0
        hr_docs, st_docs, sl_docs = [], [], []
        for d in range(DEVICES):
            dev = f"d{d}"
            created = start + d % 60
            hr_metrics = []
            for i in range(HR_PER_BUCKET):
                ts = start + i * (BUCKET_S // HR_PER_BUCKET) + rng.randrange(60)
                bpm = rng.randrange(45, 160)
                hr_metrics.append({"ts": ts, "bpm": bpm, "confidence": rng.randrange(4)})
                acc = self.hr.setdefault((dev, day_key(ts)), [0, 0])
                acc[0] += 1
                acc[1] += bpm
            hr_docs.append({"_id": f"hr-{b}-{d}", "device_id": dev,
                            "created_at": created, "ended_at": start + BUCKET_S,
                            "metrics": hr_metrics})
            st_metrics = []
            for i in range(STEPS_PER_BUCKET):
                ts = start + i * (BUCKET_S // STEPS_PER_BUCKET) + rng.randrange(60)
                n = rng.randrange(0, 900)
                st_metrics.append({"ts": ts, "steps": n})
                key = (day_key(ts), dev)
                self.steps[key] = self.steps.get(key, 0) + n
            st_docs.append({"_id": f"st-{b}-{d}", "device_id": dev,
                            "created_at": created, "ended_at": start + BUCKET_S,
                            "metrics": st_metrics})
            if d % BUCKETS_PER_DAY == b % BUCKETS_PER_DAY:
                s0 = start + rng.randrange(0, 3600)
                s1 = s0 + rng.randrange(1800, 3 * 3600)
                sl_docs.append({"_id": f"sl-{b}-{d}", "device_id": dev,
                                "created_at": created, "ended_at": s1,
                                "metrics": [{"start_ts": s0, "end_ts": s1,
                                             "duration": (s1 - s0) * 1000}]})
        landed = self._dump("heart_rates", f"b{b:04d}.json", hr_docs)
        landed += self._dump("steps", f"b{b:04d}.json", st_docs)
        landed += self._dump("sleeps", f"b{b:04d}.json", sl_docs)
        landed += self.land_users(b)
        self.children["heart_rates"] += DEVICES * HR_PER_BUCKET
        self.children["steps"] += DEVICES * STEPS_PER_BUCKET
        self.children["sleeps"] += len(sl_docs)
        self.buckets = b + 1
        return landed

    def complete_days(self) -> set[str]:
        return {
            day_key(T0 + k * 86400)
            for k in range(self.buckets // BUCKETS_PER_DAY)
        }

    def raw_counts(self) -> dict:
        return {
            "raw.users": len(self.users),
            "raw.users__devices": 2 * len(self.users),
            "raw.heart_rates": self.docs["heart_rates"],
            "raw.heart_rates__metrics": self.children["heart_rates"],
            "raw.steps": self.docs["steps"],
            "raw.steps__metrics": self.children["steps"],
            "raw.sleeps": self.docs["sleeps"],
            "raw.sleeps__metrics": self.children["sleeps"],
        }


def _steps_map(rows) -> dict:
    return {(r[0], r[1]): int(r[2]) for r in rows}


class SyncPart:
    """The sync_15min cycle as one part of a workload (see run.py)."""

    name = "sync_15min"
    LAYER_METRICS = (
        "sources.s", "sources.jobs", "sources.scan_amplification",
        "materialize.upsert_s", "materialize.upsert_calls", "materialize.jobs",
        "table_format.commits", "table_format.files_written",
        "table_format.write_amplification",
        "pipeline.rollup_s", "pipeline.rollup_jobs",
        "models.stage_s", "models.stage_jobs", "models.agg_s",
    )

    def __init__(self, run):
        self.run = run
        self.samples = {"sync_s": [], "stage_s": [], "realtime_read_s": [], "agg_refresh_s": []}
        self.round_s: list[float] = []
        self.layer: dict = {}
        self._scanned = 0

    # -- set-up -----------------------------------------------------------

    def setup(self):
        from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import HealthPipeline
        from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
            CatalogManifestFormat,
        )

        run = self.run
        spark = run.spark
        self.wh_root = run.dir("sync", "warehouse")
        self.model = SourceModel(run.seed, run.dir("sync", "source"))
        fmt = CatalogManifestFormat(
            spark, self.wh_root,
            stats_cols=("_dlt_id", "_dlt_root_id"), cluster_by="_dlt_id",
        )
        self.pipe = HealthPipeline(
            spark, self.wh_root, maintained_rollups=True, table_format=fmt
        )
        self.paths = {c: os.path.join(self.model.src, c) for c in COLLECTIONS}
        if run.tracer is not None:
            self._instrument(run.tracer)
        for b in range(BACKFILL_BUCKETS):
            self.model.land_bucket(b)
        self._cycle()

    # -- one cycle --------------------------------------------------------

    def _cycle(self):
        run, pipe, model = self.run, self.pipe, self.model
        t_sync, _ = run.op(pipe.sync, self.paths, run_id=f"c{model.buckets}", max_workers=1)
        t_stage, _ = run.op(pipe.run_stage)
        t_read, rows = run.op(lambda: pipe.daily_steps_realtime().collect())
        compare_maps(_steps_map(rows), model.steps, "daily_steps_realtime()")
        return t_sync, t_stage, t_read

    def step(self):
        """One timed cycle: land a bucket, sync, stage, read; refresh
        the aggregates when the bucket closes a day."""
        run, model = self.run, self.model
        tracer = run.tracer
        landed = model.land_bucket(model.buckets)
        before = disk_state(self.wh_root) if tracer is not None else None
        scanned_before = self._scanned
        with span(run, "bench.cycle"):
            t_sync, t_stage, t_read = self._cycle()
        self.round_s.append(t_sync + t_stage)
        self.samples["sync_s"].append(t_sync)
        self.samples["stage_s"].append(t_stage)
        self.samples["realtime_read_s"].append(t_read)
        if tracer is not None:
            delta = disk_delta(before, disk_state(self.wh_root))
            acc = self.layer
            acc.setdefault("commits", []).append(delta["commits"])
            acc.setdefault("files_written", []).append(delta["files_written"])
            acc.setdefault("write_amp", []).append(delta["bytes_written"] / landed)
            acc.setdefault("scan_amp", []).append((self._scanned - scanned_before) / model.new_docs)
        if model.buckets % BUCKETS_PER_DAY == 0:
            with span(run, "bench.refresh"):
                t_agg, _ = run.op(self._refresh)
            self.samples["agg_refresh_s"].append(t_agg)
            self._check_aggregates()

    def ready(self) -> bool:
        """Every timed run includes one day-boundary refresh."""
        return bool(self.samples["agg_refresh_s"])

    def _refresh(self):
        for freq in ("daily", "weekly", "monthly"):
            self.pipe.aggregate(freq)
        self.pipe.build_views()

    # -- checks -----------------------------------------------------------

    def _check_aggregates(self):
        pipe, model = self.pipe, self.model
        days = model.complete_days()
        want = {k: v for k, v in model.steps.items() if k[0] in days}
        got = _steps_map(pipe.wh.read("agg.daily_steps").select("day", "device_id", "step_count").collect())
        compare_maps(got, want, "agg.daily_steps")
        got = _steps_map(pipe.daily_steps_rollup().collect())
        compare_maps(got, model.steps, "daily_steps_rollup()")

    def check(self):
        from pyspark.sql import functions as F

        pipe, model = self.pipe, self.model
        want = model.raw_counts()
        counts = None
        for table in want:
            row = pipe.wh.read(table).select(
                F.lit(table).alias("t"), F.count("*").alias("n"),
                F.countDistinct("_dlt_id").alias("d"),
            )
            counts = row if counts is None else counts.unionByName(row)
        for t, n, d in counts.collect():
            if n != want[t] or d != want[t]:
                raise CheckFailed(f"{t}: {n} rows ({d} distinct), expected {want[t]}")
        hr = (
            pipe.wh.read("stage.heart_rates")
            .groupBy("device_id", "day")
            .agg(F.count("*"), F.avg("bpm"))
            .collect()
        )
        got = {(r[0], r[1]): (r[2], r[3]) for r in hr}
        want = {k: (c, s / c) for k, (c, s) in model.hr.items()}
        compare_maps(got, want, "stage.heart_rates per device-day count/mean")
        self._check_aggregates()

    # -- tracing ----------------------------------------------------------

    def _instrument(self, tracer):
        from iot_elt_airflow_mongo_timescaledb_spark.plans import pipeline as P
        from iot_elt_airflow_mongo_timescaledb_spark.plans.materialize import Warehouse
        from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import ManifestFormat
        from iot_elt_airflow_mongo_timescaledb_spark.sources.ingest import IncrementalCursor

        part = self
        orig_read = P.read_documents

        def read_documents(spark, path, *a, **k):
            with tracer.span("sources.read_documents"):
                df = orig_read(spark, path, *a, **k)
            part._scanned += sum(
                part.model.file_docs.get(local_path(f), 0) for f in df.inputFiles()
            )
            return df

        # plans.pipeline imported read_documents by name: wrap it there
        tracer._patch(P, "read_documents", read_documents)
        tracer.wrap(P.HealthPipeline, "_sync_one", "sources.sync_one")
        tracer.wrap(P, "flatten_document_table", "sources.flatten")
        tracer.wrap(P, "dedup_by_pk", "sources.dedup")
        tracer.wrap(P, "reconcile_schema_drift", "sources.schema_drift")
        for verb in ("last_value", "commit"):
            tracer.wrap(IncrementalCursor, verb, f"sources.cursor_{verb}")
        for verb in ("materialize_upsert", "materialize_incremental",
                     "materialize_delete", "materialize_view"):
            tracer.wrap(Warehouse, verb, f"materialize.{verb.removeprefix('materialize_')}")
        for verb in ("merge", "write", "maybe_compact"):
            tracer.wrap(ManifestFormat, verb, f"table_format.{verb}")
        tracer.wrap(P.HealthPipeline, "_sync_steps_rollup", "pipeline.rollup_sync")
        tracer.wrap(P.IncrementalAggSync, "read_realtime_auto", "pipeline.rollup_realtime")
        tracer.wrap(P.HealthPipeline, "run_stage", "models.stage")
        tracer.wrap(P.HealthPipeline, "aggregate", "models.agg")
        tracer.wrap(P.HealthPipeline, "build_views", "models.views")

    def per_layer(self) -> dict:
        tr = self.run.tracer
        n = len(self.round_s)
        refreshes = len(self.samples["agg_refresh_s"])
        acc = self.layer
        cyc = "bench.cycle"
        sources = [
            (s, self_s) for s, self_s in tr.self_times()
            if s["root"] == cyc and s["name"].startswith("sources.")
        ]
        return {
            "sources.s": sum(x for _, x in sources) / n,
            "sources.jobs": sum(s["jobs"] for s, _ in sources) / n,
            "sources.scan_amplification": median(acc["scan_amp"]),
            "materialize.upsert_s": tr.total("materialize.upsert", root=cyc) / n,
            "materialize.upsert_calls": tr.count("materialize.upsert", root=cyc) / n,
            "materialize.jobs": tr.total("materialize", "jobs", root=cyc) / n,
            "table_format.commits": median(acc["commits"]),
            "table_format.files_written": median(acc["files_written"]),
            "table_format.write_amplification": median(acc["write_amp"]),
            "pipeline.rollup_s": tr.total("pipeline", root=cyc) / n,
            "pipeline.rollup_jobs": tr.total("pipeline", "jobs", root=cyc) / n,
            "models.stage_s": tr.total("models.stage", root=cyc) / n,
            "models.stage_jobs": tr.total("models.stage", "jobs", root=cyc) / n,
            "models.agg_s": tr.total("bench.refresh") / refreshes,
            "spark.jobs_per_round": tr.total(cyc, "jobs") / n,
            "spark.tasks_per_round": tr.total(cyc, "tasks") / n,
        }

"""End-to-end pipeline test on reference-shaped fixtures (FIXTURES.md §1).

Synthesizes the four source collections as JSON documents with the exact
schemas of the reference's Mongo fixtures (users/heart_rates/sleeps/steps,
/root/reference/shared/mongodb/initdb.d/), runs the full micro-batch
lifecycle (sync → stage → daily/weekly/monthly aggs → example views), and
checks hand-computed values plus the re-run idempotency the incremental
protocol promises.
"""

from __future__ import annotations

import json

import pytest

from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import HealthPipeline

# 2020-02-01 00:00 UTC
T0 = 1580515200
H = 3600

USERS = [
    {"_id": "u1", "user_id": "u1", "age": 30, "height": 180, "gender": "male",
     "email": "a@x.com", "dob": -168825600, "created_at": T0 - 86400,
     "devices": ["d1", "d2"]},
    {"_id": "u2", "user_id": "u2", "age": 70, "height": 165, "gender": "female",
     "email": "b@x.com", "dob": 100000, "created_at": T0 - 86400,
     "devices": ["d3"]},
    {"_id": "u3", "user_id": "u3", "age": 10, "height": 140, "gender": "male",
     "email": "c@x.com", "dob": 1262304000, "created_at": T0 - 86400,
     "devices": []},
]

HEART_RATES = [
    {"_id": "h1", "device_id": "d1", "created_at": T0, "ended_at": T0 + 4 * H,
     "metrics": [{"ts": T0 + 600, "bpm": 60, "confidence": 3},
                 {"ts": T0 + 1200, "bpm": 70, "confidence": 2}]},
    {"_id": "h2", "device_id": "d3", "created_at": T0, "ended_at": T0 + 4 * H,
     "metrics": [{"ts": T0 + 4800, "bpm": 80, "confidence": 1}]},
    {"_id": "h3", "device_id": "d1", "created_at": T0 + 4 * H,
     "ended_at": T0 + 8 * H, "metrics": []},
]

SLEEPS = [
    # duplicate struct kept on purpose (FIXTURES.md §1 sleeps note, T8)
    {"_id": "s1", "device_id": "d1", "created_at": T0 + 2 * H,
     "ended_at": T0 + 2 * H + 900,
     "metrics": [{"start_ts": T0 + 150, "end_ts": T0 + 22740, "duration": 22560000},
                 {"start_ts": T0 + 150, "end_ts": T0 + 22740, "duration": 22560000}]},
]

STEPS = [
    {"_id": "p1", "device_id": "d1", "created_at": T0, "ended_at": T0 + 4 * H,
     "metrics": [{"ts": T0 + 800, "steps": 100}, {"ts": T0 + 1700, "steps": 50}]},
    {"_id": "p2", "device_id": "d2", "created_at": T0 + 24 * H,
     "ended_at": T0 + 28 * H, "metrics": [{"ts": T0 + 24 * H + 200, "steps": 30}]},
]


def test_raw_layer_flattened(pipeline):
    p, _ = pipeline
    assert p.wh.read("raw.users").count() == 3
    assert p.wh.read("raw.users__devices").count() == 3
    assert p.wh.read("raw.heart_rates").count() == 3
    assert p.wh.read("raw.heart_rates__metrics").count() == 3
    assert p.wh.read("raw.sleeps__metrics").count() == 2  # dup kept


def test_stage_users_devices_array(pipeline):
    p, _ = pipeline
    rows = {r["user_id"]: r["devices"] for r in p.wh.read("stage.users").collect()}
    assert rows["u1"] == ["d1", "d2"]
    assert rows["u2"] == ["d3"]
    assert rows["u3"] == []  # left-join null → empty array (J2 caveat)


def test_stage_heart_rates_event_time_keys(pipeline):
    p, _ = pipeline
    hr = p.wh.read("stage.heart_rates")
    assert hr.count() == 3
    days = {r["day"] for r in hr.collect()}
    assert days == {"20200201"}  # §2.9.1: day from event ts


def test_agg_daily_values(pipeline):
    p, _ = pipeline
    steps = {(r["day"], r["device_id"]): r["step_count"]
             for r in p.wh.read("agg.daily_steps").collect()}
    assert steps == {("20200201", "d1"): 150, ("20200202", "d2"): 30}

    sleeps = {(r["day"], r["device_id"]): r["avg_sleep_bpm"]
              for r in p.wh.read("agg.daily_sleeps").collect()}
    # d1 joins the sleeps existence filter (row-doubling invisible to AVG);
    # d3 has no sleep rows → dropped (J3)
    assert sleeps == {("20200201", "d1"): 65.0}

    summary = [(r["day"], r["device_id"], r["avg_sleep_bpm"], r["step_count"])
               for r in p.wh.read("agg.daily_summary").collect()]
    # inner join drops (d2, 20200202): steps but no sleeps (quirk §2.9.5)
    assert summary == [("20200201", "d1", 65.0, 150)]


def test_weekly_sleeps_has_no_existence_join(pipeline):
    p, _ = pipeline
    weekly = {r["device_id"]: r["avg_sleep_bpm"]
              for r in p.wh.read("agg.weekly_sleeps").collect()}
    # quirk §2.9.3: d3 appears even though it never slept
    assert set(weekly) == {"d1", "d3"}
    assert weekly["d3"] == 80.0


def test_example_views(pipeline, spark):
    p, _ = pipeline
    views = p.build_views()
    daily = {(r["day"], r["age_group"]): r["avg_step_count"]
             for r in views["examples.daily_health_metrics_per_age_grp"].collect()}
    assert daily == {("20200201", "25-34"): 150.0}

    last_month = [(r["day"], r["user_id"], r["step_count"], r["devices"])
                  for r in views["examples.daily_user_steps_for_last_month"].collect()]
    assert ("20200202", "u1", 30, ["d2"]) in last_month
    assert ("20200201", "u1", 150, ["d1"]) in last_month


def test_rerun_is_idempotent(pipeline):
    """Second micro-batch over the same source: >= cursor re-reads the
    boundary, pk-dedup + raw upsert + strict-> watermarks keep every
    layer unchanged (SURVEY T7/T8, §2.9.8)."""
    p, paths = pipeline
    before = {
        t: p.wh.read(t).count()
        for t in ("raw.heart_rates__metrics", "stage.users", "stage.steps",
                  "agg.daily_steps", "agg.weekly_summary")
    }
    p.run_all(paths)
    after = {t: p.wh.read(t).count() for t in before}
    assert after == before


def test_second_batch_appends_only_new_days(pipeline, spark, tmp_path_factory):
    """M1 protocol across real batches: a second sync with later-day data
    appends exactly the new rows; watermarked aggs roll forward."""
    import json

    p, paths = pipeline
    before_steps = p.wh.read("agg.daily_steps").count()

    # new steps bucket two days later for d1
    t2 = T0 + 72 * 3600
    new_steps = [
        {"_id": "p3", "device_id": "d1", "created_at": t2, "ended_at": t2 + 4 * 3600,
         "metrics": [{"ts": t2 + 100, "steps": 70}, {"ts": t2 + 200, "steps": 30}]},
    ]
    src2 = tmp_path_factory.mktemp("batch2")
    (src2 / "steps.json").write_text(json.dumps(new_steps))
    paths2 = dict(paths)
    paths2["steps"] = str(src2 / "steps.json")

    p.run_all(paths2)
    steps = {(r["day"], r["device_id"]): r["step_count"]
             for r in p.wh.read("agg.daily_steps").collect()}
    assert steps[("20200204", "d1")] == 100
    assert p.wh.read("agg.daily_steps").count() == before_steps + 1
    # earlier days untouched
    assert steps[("20200201", "d1")] == 150


def test_validate_compiles_all_models(pipeline):
    """M5 — compile-before-run: every model's plan analyzes and reports
    its schema without executing."""
    p, _ = pipeline
    schemas = p.validate()
    assert "stage.heart_rates" in schemas
    assert "agg.daily_summary" in schemas
    assert "avg_sleep_bpm:double" in schemas["agg.daily_summary"]


def test_with_retries():
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import with_retries

    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retries(flaky, attempts=3) == "ok"
    assert len(calls) == 3

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        with_retries(lambda: (_ for _ in ()).throw(RuntimeError("always")), attempts=2)


def test_materialize_replace_full_refresh(spark, tmp_path):
    from pyspark.sql import Row

    from iot_elt_airflow_mongo_timescaledb_spark.plans.materialize import (
        Warehouse,
        materialize_replace,
    )

    wh = Warehouse(spark, str(tmp_path))
    materialize_replace(wh, "raw.cfg", spark.createDataFrame([Row(a=1), Row(a=2)]))
    materialize_replace(wh, "raw.cfg", spark.createDataFrame([Row(a=9)]))
    assert [r["a"] for r in wh.read("raw.cfg").collect()] == [9]


def test_reextracted_doc_with_smaller_array_replaces_children(spark, tmp_path):
    """Root-key merge: re-extracting a document whose array SHRANK must
    delete the stale trailing child row, not leave it counted forever
    (the child's own _dlt_id never reappears in a batch to displace it)."""
    import json
    import os

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        HealthPipeline,
    )

    src = tmp_path / "steps"
    src.mkdir()
    doc_v1 = {"_id": "d1", "created_at": 100,
              "metrics": [{"ts": 1, "v": 10}, {"ts": 2, "v": 20}, {"ts": 3, "v": 30}]}
    (src / "batch1.json").write_text(json.dumps([doc_v1]))
    wh_root = str(tmp_path / "wh")
    pipe = HealthPipeline(spark, wh_root)
    pipe.sync({"steps": str(src)})
    assert pipe.wh.read("raw.steps__metrics").count() == 3

    doc_v2 = {"_id": "d1", "created_at": 200,
              "metrics": [{"ts": 1, "v": 10}, {"ts": 2, "v": 21}]}
    (src / "batch1.json").write_text(json.dumps([doc_v2]))
    pipe.sync({"steps": str(src)})
    rows = pipe.wh.read("raw.steps__metrics").collect()
    assert len(rows) == 2, rows  # stale third metric is GONE
    assert {r["v"] for r in rows} == {10, 21}


def test_reextracted_doc_with_emptied_array_deletes_all_children(spark, tmp_path):
    """Root-key merge, the 3->0 case (dlt delete-by-root-key): a
    re-extracted document whose array shrank to EMPTY contributes no
    child rows at all, so the delete set must come from the PARENT
    batch's ids — deriving it from the child batch leaves every stale
    row behind."""
    import json

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        HealthPipeline,
    )

    src = tmp_path / "steps"
    src.mkdir()
    docs_v1 = [
        {"_id": "d1", "created_at": 100,
         "metrics": [{"ts": 1, "v": 10}, {"ts": 2, "v": 20}, {"ts": 3, "v": 30}]},
        {"_id": "d2", "created_at": 100, "metrics": [{"ts": 9, "v": 90}]},
    ]
    (src / "batch1.json").write_text(json.dumps(docs_v1))
    pipe = HealthPipeline(spark, str(tmp_path / "wh"))
    pipe.sync({"steps": str(src)})
    assert pipe.wh.read("raw.steps__metrics").count() == 4

    # d1 re-extracted with metrics = []; d2 untouched (not in batch)
    docs_v2 = [{"_id": "d1", "created_at": 200, "metrics": []}]
    (src / "batch1.json").write_text(json.dumps(docs_v2))
    pipe.sync({"steps": str(src)})
    rows = pipe.wh.read("raw.steps__metrics").collect()
    assert {r["v"] for r in rows} == {90}, rows  # only d2's child survives


def test_reextracted_doc_with_vanished_array_field_deletes_children(spark, tmp_path):
    """Harder 3->0 variant: the array FIELD disappears from every batch
    document, so flatten does not even emit the child table for this
    batch — the sync must still delete the re-extracted parents' stale
    child rows from the existing warehouse table."""
    import json

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        HealthPipeline,
    )

    src = tmp_path / "steps"
    src.mkdir()
    docs_v1 = [
        {"_id": "d1", "created_at": 100,
         "metrics": [{"ts": 1, "v": 10}, {"ts": 2, "v": 20}]},
        {"_id": "d2", "created_at": 50, "metrics": [{"ts": 9, "v": 90}]},
    ]
    (src / "batch1.json").write_text(json.dumps(docs_v1))
    pipe = HealthPipeline(spark, str(tmp_path / "wh"))
    pipe.sync({"steps": str(src)})
    assert pipe.wh.read("raw.steps__metrics").count() == 3

    # v2: d1 re-extracted WITHOUT the metrics key at all; d2 stays out
    # of the batch (created_at 50 < cursor 100)
    docs_v2 = [{"_id": "d1", "created_at": 200}]
    (src / "batch1.json").write_text(json.dumps(docs_v2))
    pipe.sync({"steps": str(src)})
    rows = pipe.wh.read("raw.steps__metrics").collect()
    assert {r["v"] for r in rows} == {90}, rows


def test_incremental_agg_sync_matches_full_recompute(spark, tmp_path):
    """Two disjoint fact batches merged through IncrementalAggSync must
    equal the one-shot aggregate over their union, including groups
    touched by both batches, batch-only groups, and derived means."""
    from pyspark.sql import functions as F

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    b1 = spark.createDataFrame(
        [("u1", "d1", 10.0), ("u1", "d1", 20.0), ("u2", "d1", 5.0)],
        "user string, day string, value double",
    )
    b2 = spark.createDataFrame(
        [("u1", "d1", 30.0), ("u2", "d2", 7.0), ("u3", "d1", 1.0)],
        "user string, day string, value double",
    )
    agg = IncrementalAggSync(
        spark, str(tmp_path), "agg.user_day", ("user", "day"), ("value",)
    )
    agg.sync(b1)
    got = {
        (r["user"], r["day"]): (r["sum_value"], r["n_rows"], r["avg_value"])
        for r in agg.sync(b2).collect()
    }
    full = {
        (r["user"], r["day"]): (r["sum_value"], r["n_rows"], r["avg_value"])
        for r in b1.unionByName(b2)
        .groupBy("user", "day")
        .agg(
            F.sum("value").alias("sum_value"),
            F.count("*").alias("n_rows"),
        )
        .withColumn(
            "avg_value", F.round(F.try_divide(F.col("sum_value"), F.col("n_rows")), 6)
        )
        .collect()
    }
    assert got == full
    assert got[("u1", "d1")] == (60.0, 3, 20.0)  # merged across batches
    assert got[("u3", "d1")] == (1.0, 1, 1.0)    # batch-2-only group


def test_incremental_agg_sync_replay_is_noop_with_batch_id(spark, tmp_path):
    """foreachBatch replay safety: re-syncing the same batch_id changes
    nothing (the id commits inside the same swap as the data), and the
    next id applies normally."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    agg = IncrementalAggSync(
        spark, str(tmp_path), "agg.t", ("user",), ("value",)
    )
    b = spark.createDataFrame([("u1", 10.0)], "user string, value double")
    agg.sync(b, batch_id=0)
    agg.sync(b, batch_id=0)  # replayed micro-batch
    rows = {r["user"]: r for r in agg.read().collect()}
    assert rows["u1"]["sum_value"] == 10.0 and rows["u1"]["n_rows"] == 1
    agg.sync(b, batch_id=1)  # genuinely new batch
    rows = {r["user"]: r for r in agg.read().collect()}
    assert rows["u1"]["sum_value"] == 20.0 and rows["u1"]["n_rows"] == 2


def test_incremental_agg_sync_null_groups_stay_distinct(spark, tmp_path):
    """concat_ws silently skips NULLs; the md5 length-prefixed key must
    keep ('a', NULL) and (NULL, 'a') apart — and separator-containing
    values too."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    agg = IncrementalAggSync(
        spark, str(tmp_path), "agg.t", ("city", "device"), ("value",)
    )
    agg.sync(
        spark.createDataFrame(
            [("a", None, 1.0), (None, "a", 2.0), ("a|b", "c", 4.0), ("a", "b|c", 8.0)],
            "city string, device string, value double",
        )
    )
    agg.sync(
        spark.createDataFrame(
            [(None, "a", 16.0)], "city string, device string, value double"
        )
    )
    rows = {
        (r["city"], r["device"]): r["sum_value"] for r in agg.read().collect()
    }
    assert rows == {
        ("a", None): 1.0,
        (None, "a"): 18.0,
        ("a|b", "c"): 4.0,
        ("a", "b|c"): 8.0,
    }


def test_incremental_agg_sync_all_null_batch_does_not_wipe(spark, tmp_path):
    """A batch whose sum column is entirely NULL for a stored group adds
    0 (and counts rows) instead of NULL-wiping the accumulated total."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    agg = IncrementalAggSync(spark, str(tmp_path), "agg.t", ("user",), ("value",))
    agg.sync(spark.createDataFrame([("u1", 10.0)], "user string, value double"))
    agg.sync(spark.createDataFrame([("u1", None)], "user string, value double"))
    rows = {r["user"]: r for r in agg.read().collect()}
    assert rows["u1"]["sum_value"] == 10.0 and rows["u1"]["n_rows"] == 2
    agg.sync(spark.createDataFrame([("u1", 5.0)], "user string, value double"))
    assert {r["user"]: r["sum_value"] for r in agg.read().collect()} == {"u1": 15.0}


def test_incremental_agg_sync_checkpoint_reset_raises(spark, tmp_path):
    """A batch id BELOW the committed one is a reset streaming
    checkpoint, not a replay — silent skipping would freeze then
    double-count; it must raise."""
    import pytest

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    agg = IncrementalAggSync(spark, str(tmp_path), "agg.t", ("user",), ("value",))
    b = spark.createDataFrame([("u1", 1.0)], "user string, value double")
    agg.sync(b, batch_id=5)
    with pytest.raises(ValueError, match="checkpoint was reset"):
        agg.sync(b, batch_id=0)


def test_incremental_agg_sync_never_measured_stays_null(spark, tmp_path):
    """Full-recompute NULL semantics: a group whose sum column was only
    ever NULL reports NULL (not 0) — while a real total still survives
    a later all-NULL batch."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    agg = IncrementalAggSync(spark, str(tmp_path), "agg.t", ("user",), ("value",))
    agg.sync(spark.createDataFrame([("u9", None)], "user string, value double"))
    agg.sync(spark.createDataFrame([("u9", None)], "user string, value double"))
    rows = {r["user"]: r for r in agg.read().collect()}
    assert rows["u9"]["sum_value"] is None and rows["u9"]["n_rows"] == 2
    assert rows["u9"]["avg_value"] is None
    agg.sync(spark.createDataFrame([("u9", 7.0)], "user string, value double"))
    rows = {r["user"]: r for r in agg.read().collect()}
    assert rows["u9"]["sum_value"] == 7.0 and rows["u9"]["n_rows"] == 3


def test_root_key_merge_retry_converges(spark, tmp_path):
    """Crash model of the multi-table merge: a death between the parent
    upsert and the child upserts leaves the child stale — the contract
    is Airflow-style retry of the same batch, and every step is
    idempotent, so the retry must land the exact clean-run state."""
    import json

    from iot_elt_airflow_mongo_timescaledb_spark.plans.materialize import (
        Warehouse,
    )
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        root_key_merge,
    )
    from iot_elt_airflow_mongo_timescaledb_spark.sources.flatten import (
        flatten_document_table,
    )

    def tables_for(doc):
        p = tmp_path / f"doc_{doc['created_at']}.json"
        p.write_text(json.dumps([doc]))
        df = spark.read.option("multiLine", "true").json(str(p))
        return flatten_document_table(df, "steps", primary_key="_id")

    v1 = tables_for(
        {"_id": "d1", "created_at": 100,
         "metrics": [{"ts": 1, "v": 10}, {"ts": 2, "v": 20}]}
    )
    v2 = tables_for(
        {"_id": "d1", "created_at": 200, "metrics": [{"ts": 9, "v": 90}]}
    )

    crashed = Warehouse(spark, str(tmp_path / "a"))
    clean = Warehouse(spark, str(tmp_path / "b"))
    for wh in (crashed, clean):
        root_key_merge(wh, "steps", v1)

    # crash: parent upsert landed, children never ran
    crashed.materialize_upsert("raw.steps", v2["steps"], "_dlt_id")
    stale = crashed.read("raw.steps__metrics").collect()
    assert {r["v"] for r in stale} == {10, 20}  # visibly inconsistent

    # retry with the SAME batch vs the clean path
    root_key_merge(crashed, "steps", v2)
    root_key_merge(clean, "steps", v2)
    for t in ("raw.steps", "raw.steps__metrics"):
        a = sorted(map(tuple, crashed.read(t).collect()))
        b = sorted(map(tuple, clean.read(t).collect()))
        assert a == b, t
    assert {r["v"] for r in crashed.read("raw.steps__metrics").collect()} == {90}


def test_maintained_rollup_matches_recompute(spark, tmp_path_factory):
    """T5 through the maintained-rollup path (r5/r6 carried verdict
    task): with maintained_rollups=True, sync() merges each batch's
    strictly-new steps into agg.daily_steps_rollup — equal to the
    scheduled recompute after every batch, fresh at SYNC cadence (the
    recompute only catches up when the agg DAG runs), realtime-read
    consistent, and exactly-once under boundary re-reads and batch
    replays."""
    import json

    src = tmp_path_factory.mktemp("roll_src")
    for name, docs in (
        ("users", USERS), ("heart_rates", HEART_RATES),
        ("sleeps", SLEEPS), ("steps", STEPS),
    ):
        (src / f"{name}.json").write_text(json.dumps(docs))
    p = HealthPipeline(
        spark, str(tmp_path_factory.mktemp("roll_wh")), maintained_rollups=True
    )
    paths = {
        n: str(src / f"{n}.json")
        for n in ("users", "heart_rates", "sleeps", "steps")
    }
    p.run_all(paths)

    def as_map(df):
        return {(r["day"], r["device_id"]): r["step_count"] for r in df.collect()}

    recompute = as_map(p.wh.read("agg.daily_steps"))
    assert as_map(p.daily_steps_rollup()) == recompute
    assert recompute  # non-vacuous

    # batch 2 lands via sync() ONLY — no run_stage/aggregate: the
    # rollup must advance at sync cadence while the recompute is stale
    t2 = T0 + 72 * 3600
    batch2 = [
        {"_id": "p3", "device_id": "d1", "created_at": t2,
         "ended_at": t2 + 4 * 3600,
         "metrics": [{"ts": t2 + 100, "steps": 70},
                     {"ts": t2 + 200, "steps": 30}]},
    ]
    src2 = tmp_path_factory.mktemp("roll_b2")
    (src2 / "steps.json").write_text(json.dumps(batch2))
    p.sync({"steps": str(src2 / "steps.json")})
    roll = as_map(p.daily_steps_rollup())
    assert roll[("20200204", "d1")] == 100
    assert roll[("20200201", "d1")] == 150
    assert as_map(p.wh.read("agg.daily_steps")) == recompute  # stale until DAG

    # the scheduled recompute catches up to exactly the rollup
    p.run_stage()
    p.aggregate("daily")
    assert as_map(p.wh.read("agg.daily_steps")) == roll
    # realtime read (rollup ∪ unmaterialized stage tail) agrees too
    assert as_map(p.daily_steps_realtime()) == roll

    # replaying the same batch is a no-op: the boundary doc is re-read
    # by the >= cursor but excluded by the strict > lv rollup filter
    p.sync({"steps": str(src2 / "steps.json")})
    assert as_map(p.daily_steps_rollup()) == roll


def test_maintained_rollup_retry_with_new_arrivals_no_double_count(
    spark, tmp_path_factory, monkeypatch
):
    """Round-8 review finding: a crash between the rollup merge and the
    cursor commit retries the batch, but the retry is NOT byte-identical
    when new docs arrived in between — max(created_at) moves, so the
    batch-id sentinel alone cannot detect the replay.  The rollup's
    committed batch id must ALSO bound the merged slice: re-delivered
    rows at or below it are excluded, only the genuinely-new tail
    merges."""
    import json

    from iot_elt_airflow_mongo_timescaledb_spark.sources.ingest import (
        IncrementalCursor,
    )

    src = tmp_path_factory.mktemp("retry_src")
    t1, t2, t3 = T0, T0 + 3600, T0 + 7200

    def doc(_id, t, steps):
        return {"_id": _id, "device_id": "d1", "created_at": t,
                "ended_at": t + 600,
                "metrics": [{"ts": t + 10, "steps": steps}]}

    (src / "steps.json").write_text(json.dumps([doc("p1", t1, 100)]))
    p = HealthPipeline(
        spark, str(tmp_path_factory.mktemp("retry_wh")), maintained_rollups=True
    )
    p.sync({"steps": str(src / "steps.json")})

    # batch 2 arrives; the sync CRASHES after the rollup merge but
    # before the cursor commit
    (src / "steps.json").write_text(
        json.dumps([doc("p1", t1, 100), doc("p2", t2, 40)])
    )
    orig_commit = IncrementalCursor.commit

    def crashing(self, value):
        raise RuntimeError("simulated crash before cursor commit")

    monkeypatch.setattr(IncrementalCursor, "commit", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        p.sync({"steps": str(src / "steps.json")})
    monkeypatch.setattr(IncrementalCursor, "commit", orig_commit)

    # a NEW doc lands before the retry -> the retried batch is a
    # superset of the crashed one, with a higher max(created_at)
    (src / "steps.json").write_text(
        json.dumps([doc("p1", t1, 100), doc("p2", t2, 40), doc("p3", t3, 7)])
    )
    p.sync({"steps": str(src / "steps.json")})

    roll = {
        (r["day"], r["device_id"]): r["step_count"]
        for r in p.daily_steps_rollup().collect()
    }
    # 100 + 40 + 7 exactly once — the crashed-and-already-merged p2
    # slice must not merge twice on the retry
    assert roll == {("20200201", "d1"): 147}


def test_weekly_monthly_rollups_regrain_from_daily(spark, tmp_path_factory):
    """Round-8 verdict task: the reference's weekly/monthly steps
    cadences served from the ONE maintained daily rollup via regrain —
    equal to the scheduled recompute after every sync (3 batches
    spanning different days/weeks/months), with no stage rescan."""
    import json

    src = tmp_path_factory.mktemp("regrain_src")
    for name, docs in (
        ("users", USERS), ("heart_rates", HEART_RATES),
        ("sleeps", SLEEPS), ("steps", STEPS),
    ):
        (src / f"{name}.json").write_text(json.dumps(docs))
    p = HealthPipeline(
        spark, str(tmp_path_factory.mktemp("regrain_wh")),
        maintained_rollups=True,
    )
    p.run_all(
        {n: str(src / f"{n}.json")
         for n in ("users", "heart_rates", "sleeps", "steps")}
    )

    from iot_elt_airflow_mongo_timescaledb_spark.plans.models import (
        agg_monthly_steps,
        agg_weekly_steps,
    )

    def as_map(df, key):
        return {(r[key], r["device_id"]): r["step_count"] for r in df.collect()}

    def check():
        p.run_stage()
        for freq in ("weekly", "monthly"):
            p.aggregate(freq)
        ctx = {"stage.steps": p.wh.read("stage.steps")}
        # the model builders ARE the scheduled recompute's semantics;
        # the regrain must equal them exactly after every sync
        wk = as_map(agg_weekly_steps(ctx), "week")
        mo = as_map(agg_monthly_steps(ctx), "month")
        assert wk and mo  # non-vacuous
        assert as_map(p.weekly_steps_rollup(), "week") == wk
        assert as_map(p.monthly_steps_rollup(), "month") == mo
        # the MATERIALIZED weekly table agrees too (every batch below
        # opens a new week); the materialized monthly table is checked
        # at the end — the reference's strict month-watermark
        # materialization never updates a month already written, so
        # mid-month arrivals make it stale where the regrain is fresh
        assert as_map(p.wh.read("agg.weekly_steps"), "week") == wk

    check()

    # two more sync-only batches: one ~10 days later (new week, same
    # month), one ~40 days later (new month)
    for i, dt in enumerate((10 * 24 * 3600, 40 * 24 * 3600)):
        t = T0 + dt
        batch = [
            {"_id": f"r{i}", "device_id": "d2", "created_at": t,
             "ended_at": t + 600,
             "metrics": [{"ts": t + 50, "steps": 11 + i}]},
        ]
        b = tmp_path_factory.mktemp(f"regrain_b{i}")
        (b / "steps.json").write_text(json.dumps(batch))
        p.sync({"steps": str(b / "steps.json")})
        check()

    # materialized monthly vs regrain at the end: the new-month row
    # (202003) agrees; the 202002 row is STALE in the materialized table
    # (30, the pre-arrival value) while the regrain carries the exact 41
    # — the freshness the maintained path buys over the reference's
    # strict-watermark incremental materialization
    mat = as_map(p.wh.read("agg.monthly_steps"), "month")
    roll = as_map(p.monthly_steps_rollup(), "month")
    assert mat[("202003", "d2")] == roll[("202003", "d2")]
    assert mat[("202002", "d2")] == 30 and roll[("202002", "d2")] == 41


import pytest


@pytest.mark.parametrize("fmt_kind", ["catalog", "parquet"])
def test_parallel_sync_equals_sequential(spark, tmp_path_factory, fmt_kind):
    """T3 (VERDICT r8 task 8): per-collection syncs submitted from a
    thread pool must be byte-identical to the sequential loop — on the
    CATALOG format (each worker thread takes a writer_copy so
    concurrent root-key-merge transactions on disjoint tables don't
    trip the nesting guard) AND on the default staging-swap parquet
    format (disjoint table dirs, lock-serialized run log).
    Cursor/table isolation: every collection's cursor lands populated,
    every table matches."""
    import json

    from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
        CatalogManifestFormat,
    )

    src = tmp_path_factory.mktemp("par_fixture")
    for name, docs in (
        ("users", USERS), ("heart_rates", HEART_RATES),
        ("sleeps", SLEEPS), ("steps", STEPS),
    ):
        (src / f"{name}.json").write_text(json.dumps(docs))
    paths = {
        n: str(src / f"{n}.json")
        for n in ("users", "heart_rates", "sleeps", "steps")
    }

    def build(sub, max_workers):
        root = str(tmp_path_factory.mktemp(sub))
        fmt = (
            CatalogManifestFormat(spark, root)
            if fmt_kind == "catalog"
            else None  # default staging-swap ParquetFormat
        )
        p = HealthPipeline(spark, root, table_format=fmt, run_log=True)
        p.sync(paths, run_id="r", max_workers=max_workers)
        return p

    seq = build("wh_seq", 1)
    par = build("wh_par", 4)

    tables = sorted(t for t in seq.wh.tables() if t.startswith("raw."))
    assert tables == sorted(t for t in par.wh.tables() if t.startswith("raw."))
    assert len(tables) >= 7  # 4 parents + child tables
    for t in tables:
        a = sorted(map(tuple, seq.wh.read(t).collect()))
        b = sorted(map(tuple, par.wh.read(t).collect()))
        assert a == b, t
    # isolation: every collection's cursor committed in the parallel run
    from iot_elt_airflow_mongo_timescaledb_spark.sources.ingest import (
        IncrementalCursor,
    )

    for coll in paths:
        cur = IncrementalCursor(spark, par.wh.root, coll, "created_at")
        assert cur.last_value() is not None, coll
    # one run-log row per extract, all ok, none lost to the race
    log = par.wh.read("meta.run_log").collect()
    assert sorted(r["step"] for r in log) == sorted(
        f"extract.{c}" for c in paths
    )
    assert all(r["status"] == "ok" for r in log)


def test_parallel_sync_gathers_failures(spark, tmp_path_factory):
    """A failing collection must not abort its siblings mid-flight: all
    workers finish, the healthy collections land, and ONE RuntimeError
    names the failed collection(s) (Airflow's
    fail-the-run-after-all-tasks shape)."""
    import json

    import pytest as _pytest

    src = tmp_path_factory.mktemp("parfail_fixture")
    (src / "users.json").write_text(json.dumps(USERS))
    (src / "steps.json").write_text(json.dumps(STEPS))
    paths = {
        "users": str(src / "users.json"),
        "steps": str(src / "steps.json"),
        "ghost": str(src / "missing.json"),  # no such file
    }
    root = str(tmp_path_factory.mktemp("wh_parfail"))
    p = HealthPipeline(spark, root, run_log=True)
    with _pytest.raises(RuntimeError, match="ghost"):
        p.sync(paths, run_id="r", max_workers=3)
    # the healthy collections committed despite the sibling failure
    assert p.wh.read("raw.users").count() == len(USERS)
    assert p.wh.read("raw.steps").count() == len(STEPS)
    log = p.wh.read("meta.run_log").collect()
    by_step = {r["step"]: r["status"] for r in log}
    assert by_step["extract.users"] == "ok"
    assert by_step["extract.ghost"] == "error"

"""Write-path scalars ride passes the verb already makes.

A MERGE materializes its key column once and observes the key range
and count on that pass; a DELETE or UPDATE on a ``cdf`` table takes its
count from the change-row landing; a sync observes the cursor's new max
and the row count on the batch snapshot, and the cursor state is a JSON
file read and written without Spark.  The job-count pins here are the
measured costs (local session, small tables); each is below the cost
before these changes.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest
from conftest import jobs_in
from pyspark.sql import functions as F

from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import HealthPipeline
from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
    ManifestFormat,
    ParquetFormat,
)
from iot_elt_airflow_mongo_timescaledb_spark.sources.ingest import (
    IncrementalCursor,
)

T0 = 1580515200


def _table(spark, root, cdf):
    fmt = ManifestFormat(spark, root, stats_cols=("k",), cluster_by="k", cdf=cdf)
    fmt.write(
        "s.t",
        spark.range(0, 2000).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("d"),
            F.col("id").cast("double").alias("v"),
        ),
        "overwrite",
    )
    return fmt


def _batch(spark, lo, hi, v):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.lit(1).cast("long").alias("d"),
        F.lit(v).alias("v"),
    )


@pytest.mark.parametrize("cdf,match_jobs", [(False, 5), (True, 8)])
def test_merge_job_counts(spark, tmp_path, cdf, match_jobs):
    """A no-match MERGE (the append path) is the key pass plus the
    append; a matched MERGE adds the match probe and the rewrite, and
    on a cdf table one windowed CDC landing (the parent took 4 and
    6 jobs without CDF, 14 with it)."""
    fmt = _table(spark, str(tmp_path), cdf)
    _, jobs = jobs_in(spark, lambda: fmt.merge("s.t", _batch(spark, 5000, 5100, 1.0), "k"))
    assert len(jobs) <= 2, jobs
    _, jobs = jobs_in(spark, lambda: fmt.merge("s.t", _batch(spark, 100, 200, 2.0), "k"))
    assert len(jobs) <= match_jobs, jobs
    got = {r["k"]: r["v"] for r in fmt.read("s.t").collect()}
    assert len(got) == 2100 and got[150] == 2.0 and got[5050] == 1.0
    assert got[99] == 99.0
    if cdf:
        head = fmt._manifest("s.t")["version"]
        classes = {
            r["_change_type"]: r["n"]
            for r in fmt.read_changes_cdf("s.t", head - 1)
            .groupBy("_change_type").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert classes == {"update_preimage": 100, "update_postimage": 100}


def test_cdf_delete_and_update_take_count_from_change_landing(spark, tmp_path):
    """On a cdf table a DELETE or UPDATE is two jobs: the change rows
    (which observe the count) and the rewrite (the parent took 4)."""
    fmt = _table(spark, str(tmp_path), True)
    n, jobs = jobs_in(spark, lambda: fmt.update_where("s.t", "k", {"v": "v + 1"}, 300, 399))
    assert n == 100 and len(jobs) <= 2, jobs
    n, jobs = jobs_in(spark, lambda: fmt.delete_where("s.t", "k", 400, 449))
    assert n == 50 and len(jobs) <= 2, jobs
    head = fmt._manifest("s.t")
    assert head["cdc"]["n"] == 50
    # no row left to delete: the empty change landing says so, and is
    # removed rather than left for vacuum
    landed = sorted(os.listdir(fmt.path("s.t")))
    assert fmt.delete_where("s.t", "k", 400, 449) == 0
    assert fmt._manifest("s.t")["version"] == head["version"]
    assert sorted(os.listdir(fmt.path("s.t"))) == landed
    got = {r["k"]: r["v"] for r in fmt.read("s.t").collect()}
    assert len(got) == 1950 and got[300] == 301.0 and 420 not in got


def _steps_doc(_id, t, steps):
    return {"_id": _id, "device_id": "d1", "created_at": t,
            "ended_at": t + 600, "metrics": [{"ts": t + 10, "steps": steps}]}


def _rollup(p):
    return {
        (r["day"], r["device_id"]): r["step_count"]
        for r in p.daily_steps_rollup().collect()
    }


def test_sync_scalars_cost_no_job(spark, tmp_path, monkeypatch):
    """The cursor read and commit run no Spark job, and neither does
    the rollup batch id: a batch of boundary docs only (max ==
    ``lv``) merges nothing into the rollup, at zero jobs."""
    src = tmp_path / "src"
    src.mkdir()
    path = str(src / "steps.json")
    with open(path, "w") as f:
        json.dump([_steps_doc("p1", T0, 100), _steps_doc("p2", T0 + 60, 5)], f)
    fmt = ManifestFormat(spark, str(tmp_path / "wh"))
    p = HealthPipeline(
        spark, str(tmp_path / "wh"), maintained_rollups=True, table_format=fmt
    )
    jobs = {}

    def counted(cls, meth):
        orig = getattr(cls, meth)

        def run(*a, **k):
            out, ids = jobs_in(spark, lambda: orig(*a, **k))
            jobs.setdefault(meth, []).append(len(ids))
            return out

        monkeypatch.setattr(cls, meth, run)

    for meth in ("last_value", "commit"):
        counted(IncrementalCursor, meth)
    counted(HealthPipeline, "_sync_steps_rollup")
    assert p._sync_one("steps", path, want_count=True) == 2
    before = _rollup(p)
    assert before == {("20200201", "d1"): 105}
    # the boundary doc alone re-reads (>= lv) and merges nothing
    with open(path, "w") as f:
        json.dump([_steps_doc("p2", T0 + 60, 5)], f)
    assert p._sync_one("steps", path, want_count=True) == 1
    assert _rollup(p) == before
    assert jobs["last_value"] == [0, 0] and jobs["commit"] == [0, 0]
    assert jobs["_sync_steps_rollup"][1] == 0, jobs


@pytest.mark.parametrize(
    "value",
    [
        1580515260,
        datetime.datetime(2020, 2, 1, 0, 1, 0, 123456),
        "2020-02-01T00:01:00Z",
    ],
    ids=["long", "timestamp", "string"],
)
def test_cursor_json_state_round_trips(spark, tmp_path, value):
    cur = IncrementalCursor(spark, f"file:{tmp_path}", "src", "ts")
    cur.commit(value)
    again = IncrementalCursor(spark, f"file:{tmp_path}", "src", "ts")
    got = again.last_value()
    assert got == value and type(got) is type(value)
    cur.commit(None)  # an empty batch keeps the stored state
    assert again.last_value() == value


def test_cursor_state_refuses_torn_file_and_unsupported_type(spark, tmp_path):
    cur = IncrementalCursor(spark, str(tmp_path), "src", "ts")
    for bad in (1.5, datetime.date(2020, 2, 1), True):
        with pytest.raises(TypeError, match="cursor 'ts'"):
            cur.commit(bad)
    assert cur.last_value() is None  # nothing was written
    cur.commit(7)
    state = tmp_path / "_meta_cursor_src.json"
    text = state.read_text()
    state.write_text(text[: len(text) // 2])
    with pytest.raises(ValueError, match="unreadable"):
        cur.last_value()
    state.write_text(json.dumps({"type": "float", "value": 1.5}))
    with pytest.raises(ValueError, match="unreadable"):
        cur.last_value()


def test_old_parquet_cursor_state_is_ignored(spark, tmp_path):
    """A ``_meta_cursor_<src>`` parquet dir from an earlier build is not
    read: the first sync after the upgrade re-extracts the source once
    and converges — raw keys are hashes of the primary key, and the
    rollup skips rows at or below its committed batch id."""
    src = tmp_path / "src"
    src.mkdir()
    path = str(src / "steps.json")
    with open(path, "w") as f:
        json.dump([_steps_doc("p1", T0, 100), _steps_doc("p2", T0 + 60, 5)], f)
    root = str(tmp_path / "wh")
    p = HealthPipeline(
        spark, root, maintained_rollups=True,
        table_format=ManifestFormat(spark, root),
    )
    p.sync({"steps": path})
    def raw_rows():
        return sorted(
            sorted(r.asDict().items()) for r in p.wh.read("raw.steps").collect()
        )

    raw = raw_rows()
    before = _rollup(p)
    # the upgrade: only the old build's parquet state is present
    os.remove(os.path.join(root, "_meta_cursor_steps.json"))
    spark.createDataFrame([(T0 + 60,)], "last_value long").write.parquet(
        os.path.join(root, "_meta_cursor_steps")
    )
    assert IncrementalCursor(spark, root, "steps", "created_at").last_value() is None
    p.sync({"steps": path})
    assert raw_rows() == raw
    assert _rollup(p) == before
    assert (
        IncrementalCursor(spark, root, "steps", "created_at").last_value()
        == T0 + 60
    )


def test_parquet_schema_memo_sees_commit_inside_one_mtime_tick(spark, tmp_path):
    """Two commits inside one mtime tick: the second adds a column, and
    the commit marker and the table dir keep the first commit's mtimes.
    The memo key must still change, so the read shows the column."""
    fmt = ParquetFormat(spark, str(tmp_path))
    fmt.write("s.t", spark.range(3).select(F.col("id").alias("k")), "overwrite")
    path = fmt.path("s.t")
    marker = os.path.join(path, "_SUCCESS")
    stamps = {p: os.stat(p).st_mtime for p in (path, marker)}
    assert fmt.read("s.t").columns == ["k"]
    fmt.write(
        "s.t",
        spark.range(3, 5).select(F.col("id").alias("k"), F.lit("x").alias("tag")),
        "append",
    )
    for p, t in stamps.items():
        os.utime(p, (t, t))
    got = fmt.read("s.t")
    assert "tag" in got.columns
    assert sorted((r["k"], r["tag"]) for r in got.collect()) == [
        (0, None), (1, None), (2, None), (3, "x"), (4, "x"),
    ]

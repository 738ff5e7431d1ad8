"""Positional deletion vectors (round 12, VERDICT r11 task 2) — the
one merge-on-read (MOR) retraction form.  MOR delete/update/merge
store a (file, row-index) MASK — Delta's deletion-vector design:

- the read masks via ONE anti-join on two machine columns (table-root-
  relative file path + parquet ``_metadata.row_index``), independent of
  any data column;
- the dv's ``applies`` set is scoped to the files that ACTUALLY contain
  deleted rows, not every may-match dir — untouched dirs read clean and
  stay eligible for threshold compaction;
- any predicate works (nothing persists but positions).

These tests pin: zero-rewrite commits with exact reads + CDC, applies
scoping, point-in-time semantics, materialize_deletes / vacuum /
reader-feature behavior, the refusal of manifests an older build wrote
with the retired stored-predicate and key-file forms, and the Spark
job counts of the MOR verbs and of a masked read.
"""

from __future__ import annotations

import os

import pytest
from conftest import jobs_in
from pyspark.sql import Row

from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
    CatalogManifestFormat,
    ManifestFormat,
)


def _fmt(spark, root, kind="manifest", **kw):
    cls = {"manifest": ManifestFormat, "catalog": CatalogManifestFormat}[kind]
    kw.setdefault("cdf", True)
    kw.setdefault("stats_cols", ("k",))
    return cls(spark, root, auto_compact_dirs=None, **kw)


def _rows(spark, *pairs):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in pairs])


def _seed(spark, fmt, name="s.t", n=5, per=10):
    for i in range(n):
        chunk = _rows(spark, *[(i * per + j, 100 * i + j) for j in range(per)])
        fmt.write(name, chunk, "append" if i else "overwrite")
    return {(e["dir"], e.get("rel")) for e in fmt._manifest(name)["entries"]}


@pytest.mark.parametrize("kind", ["manifest", "catalog"])
def test_positional_delete_rewrites_nothing(spark, tmp_path, kind):
    """One manifest commit, zero data rewrites, exact reads, CDF
    classes, and a mask entry carrying its row count."""
    fmt = _fmt(spark, str(tmp_path), kind)
    before = _seed(spark, fmt)
    base = fmt._manifest("s.t")["version"]
    assert fmt.delete_where_mor("s.t", "k", 21, 24) == 4
    m = fmt._manifest("s.t")
    after = {(e["dir"], e.get("rel")) for e in m["entries"]}
    assert after == before  # every entry carried: zero data rewrite
    assert len(m["dv"]) == 1
    d = m["dv"][0]
    assert "pos" in d and d["pos"]["n"] == 4 and "bounds" not in d
    got = {r["k"] for r in fmt.read("s.t").collect()}
    assert got == set(range(50)) - {21, 22, 23, 24}
    assert {
        r["k"] for r in fmt.read_where("s.t", "k", 20, 29).collect()
    } == {20, 25, 26, 27, 28, 29}
    assert fmt.read_version("s.t", base).count() == 50
    feed = fmt.read_changes_cdf("s.t", base).collect()
    assert {r["k"] for r in feed} == {21, 22, 23, 24}
    assert {r["_change_type"] for r in feed} == {"delete"}
    # the helper identity columns never leak into served schemas
    assert not [c for c in fmt.read("s.t").columns if c.startswith("__dv_")]


def test_positional_applies_scoped_to_touched_files(spark, tmp_path):
    """The form's read-cost advantage: a delete whose matched rows live
    in ONE dir scopes its mask to that dir only, though all five dirs
    are may-match candidates.  Untouched dirs read clean and stay
    compactable."""
    fmt = _fmt(spark, str(tmp_path))
    # 5 dirs, OVERLAPPING k stats (same range each) so min/max
    # pruning cannot narrow the may-match set
    for i in range(5):
        fmt.write(
            "s.t",
            _rows(spark, *[(j, i * 1000 + j) for j in range(10)]),
            "append" if i else "overwrite",
        )
    # key k=3 is present in every dir — delete by a predicate only
    # dir 0's row satisfies (v < 10)
    assert fmt.delete_where_mor("s.t", {"k": (3, 3), "v": (None, 9)}) == 1
    assert len(fmt._manifest("s.t")["dv"][0]["applies"]) == 1
    assert sorted(r["v"] for r in fmt.read("s.t").collect()) == sorted(
        i * 1000 + j for i in range(5) for j in range(10) if (i, j) != (0, 3)
    )


def test_positional_point_in_time(spark, tmp_path):
    """Rows appended AFTER a positional delete are untouched even when
    they match the original predicate (per-file scoping, like Delta)."""
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt, n=2)
    assert fmt.delete_where_mor("s.t", "k", 3, 4) == 2
    fmt.write("s.t", _rows(spark, (3, 33333), (4, 44444)), "append")
    got = sorted(
        (r["k"], r["v"]) for r in fmt.read_where("s.t", "k", 3, 4).collect()
    )
    assert got == [(3, 33333), (4, 44444)]


def test_materialize_deletes_clears_positional(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    fmt.delete_where_mor("s.t", "k", 5, 8)
    fmt.merge_mor("s.t", _rows(spark, (10, 999)), "k")
    before = sorted((r["k"], r["v"]) for r in fmt.read("s.t").collect())
    rewrote = fmt.materialize_deletes("s.t")
    assert rewrote > 0
    m = fmt._manifest("s.t")
    assert not m.get("dv")
    assert (
        sorted((r["k"], r["v"]) for r in fmt.read("s.t").collect()) == before
    )
    # the purged masks' dirs die at the next vacuum
    fmt.vacuum("s.t", keep_last=1, writer_grace_s=0)
    assert not [
        d for d in os.listdir(fmt.path("s.t")) if d.startswith("dvp-")
    ]


def test_vacuum_keeps_live_positional_masks(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    fmt.delete_where_mor("s.t", "k", 5, 8)
    fmt.vacuum("s.t", keep_last=1, writer_grace_s=0)
    live = [d for d in os.listdir(fmt.path("s.t")) if d.startswith("dvp-")]
    assert len(live) == 1  # referenced by the head: survives
    assert {r["k"] for r in fmt.read("s.t").collect()} == set(
        range(50)
    ) - {5, 6, 7, 8}


def test_old_reader_refuses_positional_masks(spark, tmp_path, monkeypatch):
    """reader_features contract: a build without 'dv-pos' must refuse
    the table loudly — ignoring masks would serve deleted rows."""
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    fmt.delete_where_mor("s.t", "k", 5, 8)
    old = ManifestFormat(spark, str(tmp_path))
    monkeypatch.setattr(
        ManifestFormat, "READER_FEATURES", frozenset({"column-mapping"})
    )
    with pytest.raises(RuntimeError, match="dv-pos"):
        old.read("s.t")


def test_positional_cow_delete_sheds_mask(spark, tmp_path):
    """A COW verb rewriting masked entries materializes positional
    deletes and sheds the dv — self-cleaning like the predicate form."""
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt, n=2)
    fmt.delete_where_mor("s.t", "k", 3, 4)
    # COW delete over the same dir: rewrites it, mask must shed
    assert fmt.delete_where("s.t", "k", 7, 7) == 1
    m = fmt._manifest("s.t")
    assert not m.get("dv")
    assert {r["k"] for r in fmt.read("s.t").collect()} == set(
        range(20)
    ) - {3, 4, 7}


def test_positional_non_json_predicate_allowed(spark, tmp_path):
    """No predicate is stored, so bounds of any type work — here
    datetimes, which a JSON manifest could not hold."""
    import datetime

    fmt = _fmt(spark, str(tmp_path), stats_cols=("d",))
    df = spark.createDataFrame(
        [
            Row(k=i, d=datetime.datetime(2026, 1, 1 + i))
            for i in range(5)
        ]
    )
    fmt.write("s.t", df, "overwrite")
    n = fmt.delete_where_mor(
        "s.t",
        "d",
        datetime.datetime(2026, 1, 2),
        datetime.datetime(2026, 1, 3),
    )
    assert n == 2
    assert {r["k"] for r in fmt.read("s.t").collect()} == {0, 3, 4}


def _forge_head(fmt, name, dv, feats):
    """Rewrite the head version file the way an older build wrote it:
    ``dv`` entries listed under reader features ``feats``."""
    import json

    v = fmt._manifest(name, resolve=False, expand_lists=False)["version"]
    path = os.path.join(fmt._log_path(name), f"v{v:012d}.json")
    body = json.loads(fmt.fs.read_text(path))
    body["dv"], body["reader_features"] = dv, feats
    fmt.fs.delete(path)
    fmt.fs.write_text(path, json.dumps(body), overwrite=False)


@pytest.mark.parametrize("form", ["keys", "bounds"])
def test_retired_dv_forms_refuse_in_batch_and_stream(spark, tmp_path, form):
    """A manifest an older build wrote with an equality-delete key file
    (``keys``, features dv + dv-eq) or a stored predicate (``bounds``,
    feature dv only) must refuse to resolve in the batch reader AND the
    CDF stream reader, naming the fix — reading past the entry would
    serve its deleted rows."""
    from iot_elt_airflow_mongo_timescaledb_spark.streaming.cdf_source import (
        _PlainLog,
    )

    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt, n=2)
    applies = [fmt._dv_ident(e) for e in fmt._manifest("s.t")["entries"]]
    if form == "keys":
        entry = {"keys": {"col": "k", "dir": "dvk-0", "n": 2}}
        feats = ["dv", "dv-eq"]
    else:
        entry = {"bounds": {"k": {"range": [3, 4]}}, "n": 2}
        feats = ["dv"]
    _forge_head(fmt, "s.t", [{**entry, "applies": applies}], feats)
    with pytest.raises(RuntimeError, match="materialize_deletes"):
        _fmt(spark, str(tmp_path)).read("s.t")
    log = _PlainLog(str(tmp_path), "s.t", catalog=False)
    with pytest.raises(RuntimeError, match="materialize_deletes"):
        log.steps(0, log.head_version())


def test_mor_write_and_masked_read_job_counts(spark, tmp_path):
    """Without CDF a MOR delete is ONE job (the mask write observes the
    count and the masked files), an update TWO (mask, then postimage;
    the count rides the mask write), and a read through both masks at
    most three (the masks' schema is declared, never inferred)."""
    fmt = _fmt(spark, str(tmp_path), cdf=False)
    _seed(spark, fmt)
    n, jobs = jobs_in(spark, lambda: fmt.delete_where_mor("s.t", "k", 21, 24))
    assert n == 4 and len(jobs) <= 1, jobs
    n, jobs = jobs_in(
        spark,
        lambda: fmt.update_where_mor("s.t", "k", {"v": "v + 1"}, 30, 32),
    )
    assert n == 3 and len(jobs) <= 2, jobs
    assert len(fmt._manifest("s.t")["dv"]) == 2
    rows, jobs = jobs_in(spark, lambda: fmt.read("s.t").collect())
    assert len(jobs) <= 3, jobs
    got = {r["k"]: r["v"] for r in rows}
    assert len(rows) == len(got) == 46
    assert got[30] == 301 and got[33] == 303 and 21 not in got

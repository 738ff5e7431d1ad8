"""Merge-on-read UPDATE / MERGE (VERDICT r10 task 5): the batch (or
postimage) APPENDS, matched rows drop via a positional (file,
row-index) delete mask (Delta DV-backed MERGE), and no existing data
file is ever rewritten, so write cost is O(changed rows), independent
of touched-file SIZE.  ``materialize_deletes`` converts the debt back
into clean files.

Pins: byte-equality with the copy-on-write twins, zero-rewrite commit
shape, identical CDC classes, append-feed refusal, purge + vacuum
lifecycle of the mask dirs, and the dv-pos reader-protocol feature.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
    CatalogManifestFormat,
    ManifestFormat,
)


def _fmt(spark, root, kind="manifest", **kw):
    cls = {"manifest": ManifestFormat, "catalog": CatalogManifestFormat}[kind]
    kw.setdefault("cdf", True)
    return cls(spark, root, auto_compact_dirs=None, stats_cols=("k",), **kw)


def _rows(spark, *pairs):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in pairs])


def _seed_chunks(spark, fmt, name="s.t", n=5, per=10):
    for i in range(n):
        chunk = _rows(
            spark, *[(i * per + j, i * per + j) for j in range(per)]
        )
        fmt.write(name, chunk, "append" if i else "overwrite")
    return {e["dir"] for e in fmt._manifest(name)["entries"]}


def _content(fmt, name="s.t"):
    return {r["k"]: r["v"] for r in fmt.read(name).collect()}


@pytest.mark.parametrize("kind", ["manifest", "catalog"])
def test_merge_mor_zero_rewrite_same_content_as_cow(spark, tmp_path, kind):
    """The MOR merge carries EVERY pre-merge entry by identity and
    adds exactly one batch dir; served content is byte-identical to
    the copy-on-write merge on a sibling table."""
    cow = _fmt(spark, str(tmp_path / "cow"), kind)
    mor = _fmt(spark, str(tmp_path / "mor"), kind)
    _seed_chunks(spark, cow)
    before = _seed_chunks(spark, mor)
    batch = _rows(spark, (21, -1), (22, -2), (99, -3))  # 2 upd + 1 ins
    keys = _rows(spark, (21, 0), (22, 0), (23, 0), (99, 0)).select("k")
    cow.merge("s.t", batch, "k", delete_keys=keys)   # 23 deletes too
    mor.merge_mor("s.t", batch, "k", delete_keys=keys)
    assert _content(cow) == _content(mor)
    m = mor._manifest("s.t")
    after = {e["dir"] for e in m["entries"]}
    # zero rewrite: all 5 seeded dirs survive; exactly 1 new batch dir
    assert before <= after and len(after - before) == 1
    # dv carries the positional mask (3 matched rows) + protocol
    # feature, scoped to the one seeded dir holding keys 21-23
    dvs = m.get("dv") or []
    assert len(dvs) == 1 and dvs[0]["pos"]["n"] == 3
    assert len(dvs[0]["applies"]) == 1
    assert m.get("reader_features") == ["dv-pos"]


@pytest.mark.parametrize("kind", ["manifest", "catalog"])
def test_merge_mor_cdc_classes_match_cow(spark, tmp_path, kind):
    cow = _fmt(spark, str(tmp_path / "cow"), kind)
    mor = _fmt(spark, str(tmp_path / "mor"), kind)
    _seed_chunks(spark, cow)
    _seed_chunks(spark, mor)
    base_cow = cow._manifest("s.t")["version"]
    base_mor = mor._manifest("s.t")["version"]
    batch = _rows(spark, (21, -1), (99, -3))
    keys = _rows(spark, (21, 0), (23, 0), (99, 0)).select("k")
    cow.merge("s.t", batch, "k", delete_keys=keys)
    mor.merge_mor("s.t", batch, "k", delete_keys=keys)

    def classes(fmt, base):
        return {
            (r["k"], r["_change_type"])
            for r in fmt.read_changes_cdf("s.t", base).collect()
        }

    want = {
        (21, "update_preimage"), (21, "update_postimage"),
        (23, "delete"), (99, "insert"),
    }
    assert classes(cow, base_cow) == want
    assert classes(mor, base_mor) == want


def test_merge_mor_sequential_latest_wins(spark, tmp_path):
    """Two MOR merges on the SAME key: the second masks the first's
    batch row too (its dir is a may-match candidate), so the latest
    value serves exactly once."""
    fmt = _fmt(spark, str(tmp_path))
    _seed_chunks(spark, fmt)
    fmt.merge_mor("s.t", _rows(spark, (21, -1)), "k")
    fmt.merge_mor("s.t", _rows(spark, (21, -2)), "k")
    got = fmt.read("s.t").filter(F.col("k") == 21).collect()
    assert [(r["k"], r["v"]) for r in got] == [(21, -2)]
    assert _content(fmt)[20] == 20  # neighbors untouched


def test_merge_mor_no_match_degrades_to_append(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    before = _seed_chunks(spark, fmt)
    fmt.merge_mor("s.t", _rows(spark, (200, 1)), "k")  # outside all stats
    m = fmt._manifest("s.t")
    assert not (m.get("dv") or [])  # plain append, no mask
    assert before <= {e["dir"] for e in m["entries"]}
    assert _content(fmt)[200] == 1


def test_merge_mor_append_feed_refuses_cdf_serves(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    _seed_chunks(spark, fmt)
    base = fmt._manifest("s.t")["version"]
    fmt.merge_mor("s.t", _rows(spark, (21, -1)), "k")
    with pytest.raises(ValueError, match="read_changes_cdf"):
        fmt.read_changes("s.t", base)
    assert fmt.read_changes_cdf("s.t", base).count() == 2  # pre+post


def test_merge_mor_purge_and_vacuum_lifecycle(spark, tmp_path):
    """materialize_deletes clears the mask (content preserved, dv list
    empty); vacuum keeps the mask dir while a retained version
    references it and sweeps it after."""
    fmt = _fmt(spark, str(tmp_path))
    _seed_chunks(spark, fmt)
    keys = _rows(spark, (21, 0), (23, 0)).select("k")
    fmt.merge_mor("s.t", _rows(spark, (21, -1)), "k", delete_keys=keys)
    want = _content(fmt)
    assert 23 not in want and want[21] == -1

    def key_dirs():
        return [
            d for d in fmt.fs.list_subdirs(fmt.path("s.t"))
            if d.startswith("dvp-")
        ]

    assert len(key_dirs()) == 1
    n = fmt.materialize_deletes("s.t")
    assert n >= 1
    assert not (fmt._manifest("s.t").get("dv") or [])
    assert _content(fmt) == want
    # keep_last=2 retains the MOR version: the mask dir survives
    fmt.vacuum("s.t", keep_last=2, writer_grace_s=0)
    assert len(key_dirs()) == 1
    fmt.vacuum("s.t", keep_last=1, writer_grace_s=0)
    assert key_dirs() == []
    assert _content(fmt) == want


@pytest.mark.parametrize("kind", ["manifest", "catalog"])
def test_update_where_mor_matches_cow(spark, tmp_path, kind):
    cow = _fmt(spark, str(tmp_path / "cow"), kind)
    mor = _fmt(spark, str(tmp_path / "mor"), kind)
    _seed_chunks(spark, cow)
    before = _seed_chunks(spark, mor)
    assert cow.update_where("s.t", "k", {"v": "v + 100"}, 21, 24) == 4
    assert mor.update_where_mor("s.t", "k", {"v": "v + 100"}, 21, 24) == 4
    assert _content(cow) == _content(mor)
    m = mor._manifest("s.t")
    after = {e["dir"] for e in m["entries"]}
    assert before <= after and len(after - before) == 1  # postimage dir only
    # CDC classes identical, including a SET that moves the predicate
    # column (v is not the predicate here; classes still pre+post)
    feed = mor.read_changes_cdf("s.t", m["version"] - 1)
    got = {(r["k"], r["_change_type"], r["v"]) for r in feed.collect()}
    want = {(k, "update_preimage", k) for k in (21, 22, 23, 24)} | {
        (k, "update_postimage", k + 100) for k in (21, 22, 23, 24)
    }
    assert got == want


def test_update_where_mor_zero_match_and_validation(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    _seed_chunks(spark, fmt)
    assert fmt.update_where_mor("s.t", "k", {"v": "v + 1"}, 900, 950) == 0
    with pytest.raises(ValueError, match="unknown column"):
        fmt.update_where_mor("s.t", "k", {"zz": "1"}, 21, 22)
    with pytest.raises(TypeError, match="changes the column type"):
        fmt.update_where_mor("s.t", "k", {"v": "'x'"}, 21, 22)


def test_update_where_mor_purge_preserves_content(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    _seed_chunks(spark, fmt)
    fmt.update_where_mor("s.t", "k", {"v": "v + 100"}, 0, 4)
    want = _content(fmt)
    fmt.materialize_deletes("s.t")
    assert _content(fmt) == want
    assert not (fmt._manifest("s.t").get("dv") or [])


def test_mor_merge_then_rollup_cdf_sync(spark, tmp_path):
    """End-to-end with the retraction-aware rollup: a MOR merge's CDC
    feeds IncrementalAggSync.sync_from_cdf exactly like the COW
    merge's — the maintained sum equals a recompute."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    fmt = _fmt(spark, str(tmp_path))
    _seed_chunks(spark, fmt)
    agg = IncrementalAggSync(
        spark, str(tmp_path), "agg.total", group_cols=(),
        sum_cols=("v",), table_format=fmt,
    )
    agg.sync_from_cdf(fmt, "s.t")
    keys = _rows(spark, (21, 0), (23, 0)).select("k")
    fmt.merge_mor("s.t", _rows(spark, (21, -1)), "k", delete_keys=keys)
    agg.sync_from_cdf(fmt, "s.t")
    want = fmt.read("s.t").agg(F.sum("v")).first()[0]
    got = agg.read().select("sum_v").first()[0]
    assert got == want


def test_auto_purge_dvs_bounds_mask_accumulation(spark, tmp_path):
    """auto_purge_dvs (Delta's OPTIMIZE-removes-DVs): once a MOR
    commit leaves more than the threshold of stored masks, a purge
    runs immediately — the dv list saw-tooths at the bound instead of
    growing with the cadence, and content is preserved throughout."""
    fmt = _fmt(spark, str(tmp_path), auto_purge_dvs=3)
    _seed_chunks(spark, fmt)
    for i in range(6):
        fmt.merge_mor("s.t", _rows(spark, (21 + i, -(i + 1))), "k")
        n_dvs = len(fmt._manifest("s.t").get("dv") or [])
        assert n_dvs <= 3, n_dvs
    got = _content(fmt)
    assert got[21] == -1 and got[26] == -6 and len(got) == 50


def test_merge_mor_racing_disjoint_append_rebases(spark, tmp_path):
    """Round 13 (optimistic concurrency): a concurrent append whose
    stats are PROVABLY outside the merge's key range rebases inside
    the commit — both effects land, the mask stays scoped to the
    entries it was computed against."""
    fmt = _fmt(spark, str(tmp_path))
    _seed_chunks(spark, fmt)
    orig_land = type(fmt)._land_dv_pos

    def racing_land(self, name, matched, candidates):
        # a concurrent append sneaks in during the merge's write window
        type(fmt)._land_dv_pos = orig_land
        fmt2 = _fmt(spark, str(tmp_path))
        fmt2.write("s.t", _rows(spark, (500, 500)), "append")
        return orig_land(self, name, matched, candidates)

    type(fmt)._land_dv_pos = racing_land
    try:
        fmt.merge_mor("s.t", _rows(spark, (21, -1)), "k")
    finally:
        type(fmt)._land_dv_pos = orig_land
    got = _content(fmt)
    assert got[500] == 500 and got[21] == -1
    assert len(fmt._manifest("s.t").get("dv") or []) == 1

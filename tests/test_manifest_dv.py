"""Merge-on-read DELETE (round 10) — the Delta deletion-vector
analogue, stored as positional (file, row-index) masks the manifest
references: a narrow delete rewrites no data file, every read applies
the mask to exactly the entries it was scoped to, later appends are
unaffected (point-in-time semantics), and COW verbs materialize + shed
masks per entry they rewrite.
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
    kw.setdefault("cdf", True)  # these tests pin MOR-delete CDC
    return cls(spark, root, auto_compact_dirs=None, stats_cols=("k",), **kw)


def _rows(spark, *pairs):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in pairs])


def _seed(spark, fmt, name="s.t", n=5, per=10):
    for i in range(n):
        chunk = _rows(spark, *[(i * per + j, 100 * i + j) for j in range(per)])
        fmt.write(name, chunk, "append" if i else "overwrite")
    return {(e["dir"], e.get("rel")) for e in fmt._manifest(name)["entries"]}


@pytest.mark.parametrize("kind", ["manifest", "catalog"])
def test_mor_delete_rewrites_nothing(spark, tmp_path, kind):
    fmt = _fmt(spark, str(tmp_path), kind)
    before = _seed(spark, fmt)
    base = fmt._manifest("s.t")["version"]
    assert fmt.delete_where_mor("s.t", "k", 21, 24) == 4
    m = fmt._manifest("s.t")
    after = {(e["dir"], e.get("rel")) for e in m["entries"]}
    assert after == before  # EVERY entry carried: zero data rewrite
    assert len(m["dv"]) == 1 and m["dv"][0]["pos"]["n"] == 4
    got = {r["k"] for r in fmt.read("s.t").collect()}
    assert got == set(range(50)) - {21, 22, 23, 24}
    # read_where applies the mask too
    assert {
        r["k"] for r in fmt.read_where("s.t", "k", 20, 29).collect()
    } == {20, 25, 26, 27, 28, 29}
    # time travel: the pre-delete version still shows the rows
    assert fmt.read_version("s.t", base).count() == 50
    # and the CDF serves the delete rows
    feed = fmt.read_changes_cdf("s.t", base).collect()
    assert {r["k"] for r in feed} == {21, 22, 23, 24}
    assert {r["_change_type"] for r in feed} == {"delete"}


def test_mor_delete_is_point_in_time(spark, tmp_path):
    """Rows appended AFTER the delete are untouched even when they
    match the stored predicate — per-entry scoping, like Delta DVs."""
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    fmt.delete_where_mor("s.t", "k", 20, 29)
    fmt.write("s.t", _rows(spark, (21, -1), (25, -5)), "append")
    got = {r["k"]: r["v"] for r in fmt.read("s.t").collect()}
    assert got[21] == -1 and got[25] == -5
    assert len(got) == 42  # 50 - 10 deleted + 2 re-appended


def test_mor_deletes_stack_and_in_sets_work(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    assert fmt.delete_where_mor("s.t", "k", 0, 4) == 5
    assert fmt.delete_where_mor("s.t", {"k": [7, 8, 40]}) == 3
    got = {r["k"] for r in fmt.read("s.t").collect()}
    assert got == set(range(50)) - {0, 1, 2, 3, 4, 7, 8, 40}
    assert fmt.read("s.t").count() == 42


def test_cow_verbs_materialize_and_shed_predicates(spark, tmp_path):
    """A COW update touching a predicate-bearing entry must apply the
    predicate first (no resurrection), and the rewritten entry leaves
    the applies set — dv lists are self-cleaning."""
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    assert fmt.delete_where_mor("s.t", "k", 21, 24) == 4
    # COW update inside the same chunk: deleted rows must NOT resurrect
    assert fmt.update_where("s.t", "k", {"v": "v + 1000"}, 25, 26) == 2
    got = {r["k"]: r["v"] for r in fmt.read("s.t").collect()}
    assert 21 not in got and got[25] == 1205 and got[26] == 1206
    assert len(got) == 46
    # the rewritten chunk shed from the predicate; nothing else
    # applies, so the predicate dropped entirely
    assert not fmt._manifest("s.t").get("dv")


def test_merge_on_dv_table_does_not_resurrect(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    fmt.delete_where_mor("s.t", "k", 21, 24)
    fmt.merge("s.t", _rows(spark, (25, -25)), "k")
    got = {r["k"]: r["v"] for r in fmt.read("s.t").collect()}
    assert 21 not in got and got[25] == -25 and len(got) == 46
    assert not fmt._manifest("s.t").get("dv")


def test_materialize_deletes_clears_debt_and_unblocks_compaction(
    spark, tmp_path
):
    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=3, stats_cols=("k",)
    )
    _seed(spark, fmt)
    fmt.delete_where_mor("s.t", "k", 0, 44)  # applies to all 5 chunks
    # compaction refuses to absorb predicate-bearing dirs
    assert fmt.maybe_compact("s.t", target_file_bytes=1 << 30) == 0
    assert fmt.materialize_deletes("s.t") == 5
    assert not fmt._manifest("s.t").get("dv")
    got = {r["k"] for r in fmt.read("s.t").collect()}
    assert got == set(range(45, 50))
    # further materialize calls no-op; compaction is unblocked
    assert fmt.materialize_deletes("s.t") == 0


def test_mor_delete_refuses_append_feed_serves_cdf(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    base = fmt._manifest("s.t")["version"]
    fmt.delete_where_mor("s.t", "k", 21, 24)
    with pytest.raises(ValueError, match="not an append feed"):
        fmt.read_changes("s.t", base)
    assert fmt.read_changes_cdf("s.t", base).count() == 4


def test_mor_delete_carries_txn_and_replace_clears_dv(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10), (2, 20)), "overwrite")
    fmt.write_streaming_batch("s.t", _rows(spark, (3, 30)), 7)
    assert fmt.delete_where_mor("s.t", "k", 2, 2) == 1
    m = fmt._manifest("s.t")
    assert m["txn"] == {"stream": 7} and m["dv"]
    fmt.replace_atomic("s.t", _rows(spark, (9, 90)))
    m2 = fmt._manifest("s.t")
    assert not m2.get("dv") and m2["txn"] == {}


def test_restore_across_mor_delete(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    pre = fmt._manifest("s.t")["version"]
    fmt.delete_where_mor("s.t", "k", 0, 9)
    assert fmt.read("s.t").count() == 40
    fmt.restore("s.t", pre)
    assert fmt.read("s.t").count() == 50  # predicate restored away
    assert not fmt._manifest("s.t").get("dv")


def test_mor_delete_on_segmented_table(spark, tmp_path):
    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None,
        stats_cols=("k",), segment_entries=1,
    )
    _seed(spark, fmt)
    assert fmt.delete_where_mor("s.t", "k", 21, 24) == 4
    assert fmt.read("s.t").count() == 46
    # a later append carries segments and the predicate
    fmt.write("s.t", _rows(spark, (60, 600)), "append")
    assert fmt.read("s.t").count() == 47
    got = {r["k"] for r in fmt.read("s.t").collect()}
    assert 21 not in got and 60 in got


def test_mor_delete_inside_catalog_transaction(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path), "catalog")
    _seed(spark, fmt)
    with fmt.transaction():
        fmt.write("s.t", _rows(spark, (60, 600)), "append")
        assert fmt.delete_where_mor("s.t", "k", 0, 4) == 5
    got = {r["k"] for r in fmt.read("s.t").collect()}
    assert 0 not in got and 60 in got and len(got) == 46


def test_reader_features_guard(spark, tmp_path):
    """A manifest requiring a reader feature this build lacks must
    REFUSE to resolve (Delta's readerFeatures contract) — silently
    ignoring e.g. an unknown future delete encoding would serve
    deleted rows."""
    import json as _json
    import os as _os

    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10)), "overwrite")
    fmt.delete_where_mor("s.t", "k", 1, 1)
    # this build understands "dv-pos": reads work
    assert fmt.read("s.t").count() == 0
    # forge a manifest demanding a future feature
    log = _os.path.join(str(tmp_path), "s", "t", "_log")
    vf = sorted(f for f in _os.listdir(log) if f.startswith("v"))[-1]
    path = _os.path.join(log, vf)
    body = _json.loads(fmt.fs.read_text(path))
    body["reader_features"] = ["dv-pos", "dv_v99_bitmap"]
    fmt.fs.delete(path)
    fmt.fs.write_text(path, _json.dumps(body), overwrite=False)
    cold = _fmt(spark, str(tmp_path))
    with pytest.raises(RuntimeError, match="dv_v99_bitmap"):
        cold.read("s.t")


def test_cluster_on_dv_table_refuses_feed_serves_cdf(spark, tmp_path):
    """Review finding: cluster() after a MOR delete must NOT stamp
    compaction provenance on its dv-filtered output — the append feed
    would silently drop the deletions.  It refuses instead, while the
    CDF steps across via a zero-row purge marker."""
    fmt = _fmt(spark, str(tmp_path))
    _seed(spark, fmt)
    base = fmt._manifest("s.t")["version"]
    fmt.delete_where_mor("s.t", "k", 21, 24)
    fmt.cluster("s.t", "k", n_files=2)
    assert not fmt._manifest("s.t").get("dv")  # materialized by rewrite
    assert fmt.read("s.t").count() == 46
    with pytest.raises(ValueError):
        fmt.read_changes("s.t", base).collect()  # loud, never silent
    feed = fmt.read_changes_cdf("s.t", base)
    assert {r["k"] for r in feed.collect()} == {21, 22, 23, 24}
    assert {r["_change_type"] for r in feed.collect()} == {"delete"}
    # a consumer strictly PAST the dv commit sees the cluster as a
    # zero-row step (logical content unchanged)
    mid = fmt._manifest("s.t")["version"] - 1
    assert fmt.read_changes_cdf("s.t", mid).count() == 0


def test_materialize_deletes_keeps_cdf_consumable(spark, tmp_path):
    """Review finding: the purge is row-preserving, so the CDF must
    step across it (zero-row marker) instead of refusing forever —
    a maintained rollup survives MOR delete -> purge -> append."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    fmt = _fmt(spark, str(tmp_path))
    fmt.write(
        "s.t", _rows(spark, (1, 10), (2, 20), (3, 30)), "overwrite"
    )
    agg = IncrementalAggSync(
        spark, str(tmp_path), "agg.vsum", group_cols=(),
        sum_cols=("v",), table_format=fmt,
    )
    agg.sync_from_cdf(fmt, "s.t")
    fmt.delete_where_mor("s.t", "k", 2, 2)
    agg.sync_from_cdf(fmt, "s.t")
    assert fmt.materialize_deletes("s.t") > 0
    agg.sync_from_cdf(fmt, "s.t")  # zero-row purge step: no refusal
    fmt.write("s.t", _rows(spark, (4, 40)), "append")
    agg.sync_from_cdf(fmt, "s.t")
    assert [
        (r["sum_v"], r["n_rows"]) for r in agg.read().collect()
    ] == [(80, 3)]


def test_mor_in_set_with_null_matches_cow(spark, tmp_path):
    """An IN-set holding None deletes exactly what the copy-on-write
    delete does: SQL IN never matches NULL, so only the listed non-NULL
    key goes — and the NULL-keyed row survives in both forms."""
    cow = _fmt(spark, str(tmp_path / "cow"))
    mor = _fmt(spark, str(tmp_path / "mor"))
    for fmt in (cow, mor):
        fmt.write(
            "s.t",
            spark.createDataFrame(
                [(1, 10), (3, 30), (None, 40)], "k long, v long"
            ),
            "overwrite",
        )
    assert cow.delete_where("s.t", {"k": [None, 3]}) == 1
    assert mor.delete_where_mor("s.t", {"k": [None, 3]}) == 1

    def rows(fmt):
        return sorted((r["k"] or -1, r["v"]) for r in fmt.read("s.t").collect())

    assert rows(mor) == rows(cow) == [(-1, 40), (1, 10)]


def test_dv_on_schema_evolved_column_reads(spark, tmp_path):
    """Review finding: a delete on a column some entries PREDATE must
    not fail analysis for their group — those rows are NULL there and
    SQL DELETE never deletes on NULL."""
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10), (2, 20)), "overwrite")
    fmt.write(
        "s.t",
        spark.createDataFrame(
            [Row(k=3, v=30, c2=7), Row(k=4, v=40, c2=8)]
        ),
        "append",
    )
    assert fmt.delete_where_mor("s.t", "c2", 7, 7) == 1
    # a second mask stacks on the new dir; the old dir, which predates
    # c2, reads unmasked beside it
    assert fmt.delete_where_mor("s.t", "k", 4, 4) == 1
    got = {r["k"] for r in fmt.read("s.t").collect()}
    assert got == {1, 2}

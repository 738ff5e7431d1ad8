"""Retraction-aware rollup maintenance over UPSERTED sources (round
10): ``IncrementalAggSync.sync_from_cdf`` consumes the row-level
change feed as SIGNED facts (insert/postimage +1, delete/preimage -1),
so a maintained additive rollup stays exact across the reference's M2
merge cadence — exactly where the append-only ``sync_from_changes``
refuses.  Invariant pinned throughout: rollup == recompute from the
source at every step.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
    IncrementalAggSync,
)
from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
    ManifestFormat,
)


def _rows(spark, *triples):
    return spark.createDataFrame(
        [Row(k=k, day=d, v=v) for k, d, v in triples]
    )


def _recompute(fmt, src):
    return {
        (r["day"], r["sum_v"], r["n_rows"])
        for r in fmt.read(src)
        .groupBy("day")
        .agg(F.sum("v").alias("sum_v"), F.count("*").alias("n_rows"))
        .collect()
    }


def _rollup(agg):
    return {
        (r["day"], r["sum_v"], r["n_rows"])
        for r in agg.read().select("day", "sum_v", "n_rows").collect()
    }


@pytest.fixture()
def setup(spark, tmp_path):
    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("k",),
        cdf=True,  # the sync consumes the row-level change feed
    )
    agg = IncrementalAggSync(
        spark, str(tmp_path), "agg.daily_v", group_cols=("day",),
        sum_cols=("v",), table_format=fmt,
    )
    return fmt, agg


def test_cdf_rollup_tracks_merges(spark, setup):
    fmt, agg = setup
    fmt.write(
        "raw.t",
        _rows(spark, (1, "d1", 10), (2, "d1", 20), (3, "d2", 30)),
        "overwrite",
    )
    agg.sync_from_cdf(fmt, "raw.t")  # bootstrap
    assert _rollup(agg) == _recompute(fmt, "raw.t")
    # the reference's M2 shape: an upsert batch updates one row,
    # inserts one, and its delete keys purge another (shrunk array)
    fmt.merge(
        "raw.t",
        _rows(spark, (2, "d1", 25), (4, "d2", 40)),
        "k",
        delete_keys=spark.createDataFrame([Row(k=2), Row(k=3), Row(k=4)]),
    )
    agg.sync_from_cdf(fmt, "raw.t")
    assert _rollup(agg) == _recompute(fmt, "raw.t") == {
        ("d1", 35, 2),
        ("d2", 40, 1),
    }
    # idempotent: same source version no-ops
    agg.sync_from_cdf(fmt, "raw.t")
    assert _rollup(agg) == {("d1", 35, 2), ("d2", 40, 1)}


def test_cdf_rollup_tracks_row_level_dml_and_appends(spark, setup):
    fmt, agg = setup
    fmt.write(
        "raw.t",
        _rows(spark, (1, "d1", 10), (2, "d1", 20), (3, "d2", 30)),
        "overwrite",
    )
    agg.sync_from_cdf(fmt, "raw.t")
    fmt.write("raw.t", _rows(spark, (4, "d2", 40)), "append")
    fmt.update_where("raw.t", "k", {"v": "v + 100"}, 1, 1)
    agg.sync_from_cdf(fmt, "raw.t")
    assert _rollup(agg) == _recompute(fmt, "raw.t") == {
        ("d1", 130, 2),
        ("d2", 70, 2),
    }
    fmt.delete_where("raw.t", "k", 4, 4)
    agg.sync_from_cdf(fmt, "raw.t")
    assert _rollup(agg) == _recompute(fmt, "raw.t")


def test_fully_retracted_group_disappears(spark, setup):
    fmt, agg = setup
    fmt.write(
        "raw.t", _rows(spark, (1, "d1", 10), (2, "d2", 20)), "overwrite"
    )
    agg.sync_from_cdf(fmt, "raw.t")
    # merge-on-read delete wipes d2 entirely; the CDF serves it
    assert fmt.delete_where_mor("raw.t", "k", 2, 2) == 1
    agg.sync_from_cdf(fmt, "raw.t")
    assert _rollup(agg) == _recompute(fmt, "raw.t") == {("d1", 10, 1)}
    # and the netted-to-zero d2 group is gone from the read, like a
    # recompute's would be
    assert {r["day"] for r in agg.read().collect()} == {"d1"}


def test_cdf_rollup_refuses_across_replace(spark, setup):
    fmt, agg = setup
    fmt.write("raw.t", _rows(spark, (1, "d1", 10)), "overwrite")
    agg.sync_from_cdf(fmt, "raw.t")
    fmt.replace_atomic("raw.t", _rows(spark, (9, "d9", 90)))
    with pytest.raises(ValueError):
        agg.sync_from_cdf(fmt, "raw.t")


def test_retracting_last_nonnull_value_serves_null(spark, setup):
    """The 0-vs-NULL distinction: updating a group's only measured
    value to NULL (or deleting the only non-NULL row) must leave the
    rollup's sum NULL like a recompute — not a netted 0."""
    fmt, agg = setup
    fmt.write(
        "raw.t",
        spark.createDataFrame(
            [Row(k=1, day="d1", v=5), Row(k=2, day="d1", v=None)],
            "k long, day string, v long",
        ),
        "overwrite",
    )
    agg.sync_from_cdf(fmt, "raw.t")
    assert _rollup(agg) == {("d1", 5, 2)}
    fmt.update_where(
        "raw.t", "k",
        {"v": "CASE WHEN k = 1 THEN CAST(NULL AS BIGINT) ELSE v END"},
        1, 1,
    )
    agg.sync_from_cdf(fmt, "raw.t")
    assert _rollup(agg) == _recompute(fmt, "raw.t") == {("d1", None, 2)}
    # avg derives NULL too, not 0
    assert agg.read().collect()[0]["avg_v"] is None


def test_cdf_sync_over_version_without_changes_advances_cursor(
    spark, setup
):
    """A source version with no change rows (a compaction) gives an
    empty delta; the merge still commits the cursor, so the rollup
    does not re-read that version forever."""
    fmt, agg = setup
    fmt.write("raw.t", _rows(spark, (1, "d1", 10)), "overwrite")
    fmt.write("raw.t", _rows(spark, (2, "d2", 20)), "append")
    agg.sync_from_cdf(fmt, "raw.t")
    before = fmt._manifest("agg.daily_v")["version"]
    assert fmt.maybe_compact("raw.t", force=True) > 0
    head = fmt._manifest("raw.t")["version"]
    assert agg._applied_batch_id() < head
    agg.sync_from_cdf(fmt, "raw.t")
    assert agg._applied_batch_id() == head
    m = fmt._manifest("agg.daily_v")
    assert m["version"] == before + 1  # one metadata-only commit
    assert _rollup(agg) == _recompute(fmt, "raw.t")

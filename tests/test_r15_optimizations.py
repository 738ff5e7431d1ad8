"""Round-15 optimization internals.

Pins the three cross-cutting changes of the optimization round:

- ``session.local_rows``: tiny driver-side relations are SINGLE
  partition (the multi-partition + coalesce(1) form serialized ~32
  Python-worker round trips into one task — ~5 s per 1-row cursor
  write at local[32], measured).
- the immutable-dir schema memo in ``ManifestFormat._read_entries``:
  re-reads skip footer inference but must serve identical schema and
  rows, including across additive evolution (a NEW dir gets its own
  cache entry; old dirs' cached physical schemas still cast/map up).
- ``_RollupSyncBase._meta_state``: the fused (batch id, watermark)
  fetch equals the two single-field getters, on the sentinel-row
  (parquet) and the manifest-``txn`` cursor alike.
- ``session.local_rows`` fast path: a value whose Python type does not
  fit its field never turns into a silent NULL.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_elt_airflow_mongo_timescaledb_spark.session import local_rows


def test_local_rows_single_partition(spark):
    df = local_rows(spark, [(1, "a"), (2, "b")], "k long, v string")
    assert df.rdd.getNumPartitions() == 1
    assert sorted((r["k"], r["v"]) for r in df.collect()) == [
        (1, "a"),
        (2, "b"),
    ]


def test_local_rows_empty_and_inferred(spark):
    empty = local_rows(spark, [], "k long, v string")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<k:bigint,v:string>"
    named = local_rows(spark, [(7,)], ["last_value"])
    assert named.first()["last_value"] == 7


def test_local_rows_mistyped_value_is_never_null(spark):
    """A ``str`` in a ``long`` field: a non-ANSI ``lit().cast()`` would
    yield NULL; the fast path must refuse it so ``createDataFrame``'s
    row verification fails loudly instead."""
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(Exception, match="LongType"):
            local_rows(spark, [("7x", "a")], "k long, v string").collect()
        with pytest.raises(Exception, match="LongType"):
            local_rows(spark, [([True],)], "k array<long>").collect()
    finally:
        spark.conf.set(key, prev)
    # well-typed values keep the fast path, ints widen into doubles
    ok = local_rows(spark, [(7, 2)], "k long, d double").first()
    assert ok["k"] == 7 and ok["d"] == 2.0


def test_dir_schema_memo_reread_and_evolution(spark, tmp_path):
    from iot_elt_airflow_mongo_timescaledb_spark.plans import table_format
    from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
        ManifestFormat,
    )

    fmt = ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    fmt.write("t.memo", spark.range(5).select(F.col("id").alias("k")), "overwrite")
    before = fmt.read("t.memo")
    rows1 = sorted(r["k"] for r in before.collect())
    n_cached = len(table_format._DIR_SCHEMA_CACHE)
    assert n_cached >= 1  # the first read populated the memo
    again = fmt.read("t.memo")  # memoized path
    assert again.schema == before.schema
    assert sorted(r["k"] for r in again.collect()) == rows1
    # additive evolution lands a NEW dir; the union of memoized old dir
    # + fresh dir must serve the evolved schema with NULL backfill
    fmt.write(
        "t.memo",
        spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        ),
        "append",
    )
    evolved = fmt.read("t.memo")
    assert "tag" in evolved.columns
    got = {(r["k"], r["tag"]) for r in evolved.collect()}
    assert (0, None) in got and (5, "x") in got
    assert len(got) == 8


def _state_format(spark, tmp_path, kind):
    """``None`` = the default ParquetFormat (sentinel-row cursor)."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
        ManifestFormat,
    )

    if kind == "parquet":
        return None
    return ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)


@pytest.mark.parametrize("kind", ["parquet", "manifest"])
def test_meta_state_matches_single_getters(spark, tmp_path, kind):
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    sync = IncrementalAggSync(
        spark,
        str(tmp_path),
        "agg.t",
        group_cols=("g",),
        sum_cols=("v",),
        watermark_col="ts",
        table_format=_state_format(spark, tmp_path, kind),
    )
    batch = spark.createDataFrame(
        [("a", 1.0, "2020-01-01"), ("b", 2.0, "2020-01-03")],
        "g string, v double, ts string",
    )
    sync.sync(batch, batch_id=7)
    applied, wm = sync._meta_state()
    assert applied == sync._applied_batch_id() == 7
    assert wm == sync.materialized_watermark() == "2020-01-03"
    # replay no-ops (exactly-once contract unchanged by the fused fetch)
    out = sync.sync(batch, batch_id=7)
    assert out.filter(F.col("g") == "a").first()["sum_v"] == 1.0


@pytest.mark.parametrize("kind", ["parquet", "manifest"])
def test_meta_hint_respected_by_sync(spark, tmp_path, kind):
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    sync = IncrementalAggSync(
        spark, str(tmp_path), "agg.h", group_cols=("g",), sum_cols=("v",),
        table_format=_state_format(spark, tmp_path, kind),
    )
    b1 = spark.createDataFrame([("a", 1.0)], "g string, v double")
    sync.sync(b1, batch_id=1)
    # a stale hint below the committed cursor must refuse like the
    # unhinted path (reset-checkpoint detection intact)
    with pytest.raises(ValueError, match="checkpoint was reset"):
        sync.sync(b1, batch_id=0, _meta=sync._meta_state())

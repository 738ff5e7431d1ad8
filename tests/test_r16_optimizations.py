"""Round-16 optimization internals.

Pins the cross-cutting changes of optimization round 2:

- ``ParquetFormat.read`` schema memo: the mutable staging-swap table
  keys its memo on the commit marker's mtime, so identical committed
  states reuse the schema and ANY committed change (append, evolved
  append, overwrite, swap) re-infers.
- write-time schema memo: an unpartitioned manifest data dir's schema
  is memoized AT WRITE, so even the first read skips footer inference;
  evolution must still NULL-fill across dirs, and the first read serves
  the same schema as a cold read.
- ``_DIR_SCHEMA_CACHE`` LRU: exceeding the cap evicts ONE entry (the
  least recently used), not the whole memo (ADVICE r15 #2).
- ``_DIR_SCHEMA_CACHE`` lock: concurrent gets (which reorder the LRU)
  and evicting puts never corrupt the memo or raise.
- the rollup cursor on commit-log formats: ``(applied, watermark)``
  are manifest ``txn`` keys, read with zero Spark jobs on a fresh or a
  warm instance, and every commit (a foreign instance's too) is
  visible to the very next stream trigger.
"""

from __future__ import annotations

import pytest
from conftest import jobs_in
from pyspark.sql import functions as F

from iot_elt_airflow_mongo_timescaledb_spark.plans import table_format
from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
    ManifestFormat,
    ParquetFormat,
)


def test_parquet_read_memo_reuses_and_invalidates(spark, tmp_path):
    fmt = ParquetFormat(spark, str(tmp_path))
    fmt.write(
        "s.t",
        spark.range(10).select(F.col("id").alias("k"), F.lit(1.5).alias("v")),
        "overwrite",
    )
    first = fmt.read("s.t")
    key1 = fmt._schema_memo_key(fmt.path("s.t"))
    assert key1 is not None and key1 in table_format._DIR_SCHEMA_CACHE
    again = fmt.read("s.t")
    assert again.schema == first.schema
    assert sorted(r["k"] for r in again.collect()) == list(range(10))
    # evolved append -> new _SUCCESS mtime -> new key -> re-infer
    fmt.write(
        "s.t",
        spark.range(10, 13).select(
            F.col("id").alias("k"),
            F.lit(2.5).alias("v"),
            F.lit("x").alias("tag"),
        ),
        "append",
    )
    assert fmt._schema_memo_key(fmt.path("s.t")) != key1
    evolved = fmt.read("s.t")
    assert "tag" in evolved.columns
    got = {(r["k"], r["tag"]) for r in evolved.collect()}
    assert (0, None) in got and (10, "x") in got and len(got) == 13
    # overwrite with a NARROWER schema invalidates too
    fmt.write("s.t", spark.range(3).select(F.col("id").alias("k")), "overwrite")
    replaced = fmt.read("s.t")
    assert replaced.columns == ["k"] and replaced.count() == 3


def test_manifest_write_time_memo_first_read(spark, tmp_path):
    fmt = ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    fmt.write(
        "t.w", spark.range(5).select(F.col("id").alias("k")), "overwrite"
    )
    # the dir's schema was memoized AT WRITE: the first read must plan
    # without a footer-inference job AND serve the right rows
    entry_dir = fmt._manifest("t.w")["entries"][0]["dir"]
    from iot_elt_airflow_mongo_timescaledb_spark.fs import join_uri

    base = join_uri(fmt.path("t.w"), entry_dir)
    assert (base, (base,)) in table_format._DIR_SCHEMA_CACHE
    out = fmt.read("t.w")
    assert sorted(r["k"] for r in out.collect()) == [0, 1, 2, 3, 4]
    # additive evolution still NULL-fills across old + new dirs
    fmt.write(
        "t.w",
        spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        ),
        "append",
    )
    got = {(r["k"], r["tag"]) for r in fmt.read("t.w").collect()}
    assert (0, None) in got and (5, "x") in got and len(got) == 8


def test_write_time_memo_schema_equals_cold_read(spark, tmp_path):
    """ADVICE r16 #5: the write-time memo keeps ``spark.range``'s
    non-null ``id``, while cold inference of the dir reports it
    nullable.  The memo only ever reaches ``reader.schema()``, whose
    file-source read is all-nullable too, so the first (memo) read and
    a cold read of one dir serve equal schemas."""
    from iot_elt_airflow_mongo_timescaledb_spark.fs import join_uri

    df = spark.range(5)
    assert not df.schema["id"].nullable
    fmt = ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    fmt.write("t.n", df, "overwrite")
    base = join_uri(
        fmt.path("t.n"), fmt._manifest("t.n")["entries"][0]["dir"]
    )
    memo = table_format._DIR_SCHEMA_CACHE[(base, (base,))]
    assert not memo["id"].nullable  # the memo holds the frame's schema
    cold = spark.read.option("mergeSchema", "true").parquet(base).schema
    assert cold["id"].nullable
    assert fmt.read("t.n").schema == cold


def test_dir_schema_cache_lru_evicts_one_entry():
    saved = dict(table_format._DIR_SCHEMA_CACHE)
    saved_cap = table_format._DIR_SCHEMA_CACHE_CAP
    try:
        table_format._DIR_SCHEMA_CACHE.clear()
        table_format._DIR_SCHEMA_CACHE_CAP = 3
        for i in range(3):
            table_format._dir_schema_put((f"d{i}", ()), f"s{i}")
        # touch d0 so d1 becomes the least recently used
        assert table_format._dir_schema_get(("d0", ())) == "s0"
        table_format._dir_schema_put(("d3", ()), "s3")
        keys = set(table_format._DIR_SCHEMA_CACHE)
        assert len(keys) == 3  # ONE evicted, not a wholesale clear
        assert ("d1", ()) not in keys
        assert {("d0", ()), ("d2", ()), ("d3", ())} == keys
    finally:
        table_format._DIR_SCHEMA_CACHE_CAP = saved_cap
        table_format._DIR_SCHEMA_CACHE.clear()
        table_format._DIR_SCHEMA_CACHE.update(saved)


def _cdf_batch(spark, rows, version):
    return spark.createDataFrame(
        [(k, d, float(v), "insert", version) for k, d, v in rows],
        "k long, day string, v double, _change_type string, "
        "_commit_version long",
    )


def test_manifest_rollup_cursor_zero_jobs_and_foreign_commits(
    spark, tmp_path
):
    """The rollup cursor lives in the state table's manifest ``txn``
    map: reading it runs no Spark job (fresh instance or warm), no
    ``__meta__`` row is written, a foreign instance's commit is seen by
    the very next trigger, and replays still skip."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans import pipeline as pl

    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("k",),
        cdf=True,
    )
    fmt.write(
        "raw.f",
        spark.createDataFrame(
            [(1, "d0", 1.0), (2, "d1", 2.0)], "k long, day string, v double"
        ),
        "overwrite",
    )

    def rollup():
        return pl.IncrementalAggSync(
            spark, str(tmp_path), "agg.s", group_cols=("day",),
            sum_cols=("v",), watermark_col="day", table_format=fmt,
        )

    agg = rollup()
    agg.sync_from_cdf(fmt, "raw.f")  # bootstrap at source version 1

    def cursor(inst):
        return (
            inst._meta_state(),
            inst._applied_batch_id(),
            inst.materialized_watermark(),
        )

    cold, jobs = jobs_in(spark, lambda: cursor(rollup()))
    assert cold == ((1, "d1"), 1, "d1") and jobs == []
    warm, jobs = jobs_in(spark, lambda: cursor(agg))
    assert warm == cold and jobs == []
    state = fmt.read("agg.s")
    assert "__last_batch_id" not in state.columns
    assert state.filter(F.col("__agg_key") == "__meta__").count() == 0

    agg._apply_stream_batch(_cdf_batch(spark, [(3, "d0", 5.0)], 2), "raw.f")
    assert agg._applied_batch_id() == 2
    # a foreign instance commits batch 4: the next trigger must see it,
    # so a batch at version 3 is a replay, not new facts
    rollup().sync(
        spark.createDataFrame([("d9", 1.0)], "day string, v double"),
        batch_id=4,
    )
    agg._apply_stream_batch(_cdf_batch(spark, [(4, "d1", 7.0)], 3), "raw.f")
    assert agg._meta_state() == (4, "d9")
    agg._apply_stream_batch(_cdf_batch(spark, [(5, "d0", 9.0)], 5), "raw.f")
    # engine replay of the same batch: skipped
    agg._apply_stream_batch(_cdf_batch(spark, [(5, "d0", 9.0)], 5), "raw.f")
    assert agg._applied_batch_id() == 5
    got = {
        (r["day"], round(r["sum_v"], 6)) for r in agg.read().collect()
    }
    assert got == {("d0", 1.0 + 5.0 + 9.0), ("d1", 2.0), ("d9", 1.0)}


def test_dir_schema_cache_threaded_gets_and_evictions():
    """Gets reorder the LRU while puts evict: without one lock a get
    can find a key, lose it to another thread's eviction and fail in
    ``move_to_end``.  A few threads, no Spark."""
    import sys
    import threading

    saved = dict(table_format._DIR_SCHEMA_CACHE)
    saved_cap = table_format._DIR_SCHEMA_CACHE_CAP
    saved_switch = sys.getswitchinterval()
    errors = []

    def worker(seed):
        try:
            for i in range(20000):
                key = (f"d{(i * 7 + seed) % 24}", ())
                if table_format._dir_schema_get(key) is None:
                    table_format._dir_schema_put(key, key[0])
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    try:
        table_format._DIR_SCHEMA_CACHE.clear()
        table_format._DIR_SCHEMA_CACHE_CAP = 8
        sys.setswitchinterval(1e-6)
        # more threads than this host's 4 cores, still only a few
        threads = [
            threading.Thread(target=worker, args=(s,)) for s in range(6)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert len(table_format._DIR_SCHEMA_CACHE) <= 8
        assert all(
            v == k[0] for k, v in table_format._DIR_SCHEMA_CACHE.items()
        )
    finally:
        sys.setswitchinterval(saved_switch)
        table_format._DIR_SCHEMA_CACHE_CAP = saved_cap
        table_format._DIR_SCHEMA_CACHE.clear()
        table_format._DIR_SCHEMA_CACHE.update(saved)


def test_sync_unpersists_delta_on_watermark_refusal(spark, tmp_path):
    """ADVICE r15 #1: the watermark-type ValueError must not leak the
    delta's cache registration."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    sync = IncrementalAggSync(
        spark, str(tmp_path), "agg.leak", group_cols=("g",),
        sum_cols=("v",), watermark_col="wm",
    )
    bad = spark.createDataFrame(
        [("a", 1.0, 7)], "g string, v double, wm long"
    )
    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_cached()
    with pytest.raises(ValueError, match="watermark_col"):
        sync.sync(bad, batch_id=1)
    assert n_cached() == before  # nothing left registered

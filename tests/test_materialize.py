"""Materialization-protocol tests — M1/M2/M3 + A4/P8 watermark semantics
(reference dbt incremental configs, SURVEY §2.6, quirk §2.9.8)."""

from __future__ import annotations

import os
import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from iot_elt_airflow_mongo_timescaledb_spark.plans.materialize import Warehouse


def _days(spark, *pairs):
    return spark.createDataFrame([Row(day=d, v=v) for d, v in pairs])


def test_incremental_first_run_writes_everything(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.materialize_incremental("agg.t", _days(spark, ("20200101", 1), ("20200102", 2)), "day")
    assert wh.read("agg.t").count() == 2


def test_incremental_strict_gt_watermark(spark, tmp_path):
    """Quirk §2.9.8: rows sharing the current max watermark are dropped
    (transform layer uses strictly-greater, unlike the >= extract side)."""
    wh = Warehouse(spark, str(tmp_path))
    wh.materialize_incremental("agg.t", _days(spark, ("20200101", 1), ("20200102", 2)), "day")
    # batch 2 carries a late row for the boundary day 02 and a new day 03
    wh.materialize_incremental("agg.t", _days(spark, ("20200102", 99), ("20200103", 3)), "day")
    rows = {(r["day"], r["v"]) for r in wh.read("agg.t").collect()}
    assert rows == {("20200101", 1), ("20200102", 2), ("20200103", 3)}


def test_incremental_rerun_is_idempotent(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = _days(spark, ("20200101", 1), ("20200102", 2))
    wh.materialize_incremental("agg.t", df, "day")
    wh.materialize_incremental("agg.t", df, "day")
    assert wh.read("agg.t").count() == 2


def test_upsert_replaces_on_unique_key(spark, tmp_path):
    """M2 — models/stage/users.sql:2-5 unique_key='user_id' semantics."""
    wh = Warehouse(spark, str(tmp_path))
    wh.materialize_upsert(
        "stage.users",
        spark.createDataFrame([Row(user_id="a", age=30), Row(user_id="b", age=40)]),
        "user_id",
    )
    wh.materialize_upsert(
        "stage.users",
        spark.createDataFrame([Row(user_id="b", age=41), Row(user_id="c", age=50)]),
        "user_id",
    )
    rows = {(r["user_id"], r["age"]) for r in wh.read("stage.users").collect()}
    assert rows == {("a", 30), ("b", 41), ("c", 50)}


def test_upsert_and_compact_leave_no_staging_dirs(spark, tmp_path):
    """Repeated upserts/compactions must not leak ``__staging`` /
    ``__compact`` sibling copies next to the target (each would hold a
    full stale snapshot of the table)."""
    import os

    wh = Warehouse(spark, str(tmp_path))
    for i in range(3):
        wh.materialize_upsert(
            "stage.users",
            spark.createDataFrame([Row(user_id="a", age=30 + i)]),
            "user_id",
        )
    wh.materialize_incremental("stage.t", _days(spark, ("20200101", 1)), None)
    wh.compact("stage.t", target_files=1)
    leaked = [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(str(tmp_path))
        for d in dirs
        if d.endswith("__staging") or d.endswith("__compact")
    ]
    assert leaked == []
    assert wh.read("stage.users").count() == 1


def test_view_materialization(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.materialize_view("examples.v", _days(spark, ("20200101", 1)))
    assert spark.table("examples__v").count() == 1


def test_namespace_paths(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    assert wh.path("stage.users").endswith("stage/users")
    assert not wh.exists("stage.users")


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Both sides bucketed on the join key -> the sort-merge join plans
    with zero Exchange nodes (the co-location contract)."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.materialize import (
        materialize_bucketed,
    )
    from iot_elt_airflow_mongo_timescaledb_spark.plans.registry import table
    from tools.explain_audit import plan_facts

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    o = materialize_bucketed(
        spark, orders.select("o_orderkey", "o_orderdate"),
        "bkt_orders", "o_orderkey", n_buckets=8,
    )
    l = materialize_bucketed(
        spark, lineitem.select("l_orderkey", "l_quantity"),
        "bkt_lineitem", "l_orderkey", n_buckets=8,
    )
    joined = o.join(l, o.o_orderkey == l.l_orderkey)
    facts = plan_facts(joined)
    assert facts["n_exchanges"] == 0, facts["plan"]
    n = joined.count()
    plain = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).count()
    assert n == plain


def test_compact_reduces_files_and_preserves_rows(spark, tmp_path):
    """Ten appends -> many small files; compaction rewrites to one file
    per partition with identical data."""
    import glob

    wh = Warehouse(spark, str(tmp_path))
    # 10 micro-batch appends into the SAME day partition -> 10 files in
    # one directory (no watermark col: append-everything disposition)
    for i in range(10):
        wh.materialize_incremental(
            "stage.t", _days(spark, ("20200101", i)), None,
            partition_by=("day",),
        )
    path = wh.path("stage.t")
    before = len(glob.glob(f"{path}/**/*.parquet", recursive=True))
    rows_before = {(r["day"], r["v"]) for r in wh.read("stage.t").collect()}
    wh.compact("stage.t", target_files=1)
    after = len(glob.glob(f"{path}/**/*.parquet", recursive=True))
    rows_after = {(r["day"], r["v"]) for r in wh.read("stage.t").collect()}
    assert rows_after == rows_before
    assert after <= 10 < before or after < before


def test_upsert_schema_evolution(spark, tmp_path):
    """dlt-style schema evolution: a later batch adds a column and
    widens a type; old rows read back with NULL in the new column."""
    wh = Warehouse(spark, str(tmp_path))
    wh.materialize_upsert(
        "raw.t", spark.createDataFrame([Row(_dlt_id="a", x=1)]), "_dlt_id"
    )
    wh.materialize_upsert(
        "raw.t",
        spark.createDataFrame([Row(_dlt_id="b", x=2.5, y="new")]),
        "_dlt_id",
    )
    out = wh.read("raw.t")
    rows = {r["_dlt_id"]: (r["x"], r["y"]) for r in out.collect()}
    assert rows == {"a": (1.0, None), "b": (2.5, "new")}
    assert dict(out.dtypes)["x"] == "double"  # int widened to double


def test_incremental_append_new_column_merges(spark, tmp_path):
    """Appended files with an extra column still read as one table
    (mergeSchema on Warehouse.read)."""
    wh = Warehouse(spark, str(tmp_path))
    wh.materialize_incremental("raw.t", _days(spark, ("20200101", 1)), "day")
    evolved = spark.createDataFrame([Row(day="20200102", v=2, extra="e")])
    wh.materialize_incremental("raw.t", evolved, "day")
    out = wh.read("raw.t")
    assert set(out.columns) == {"day", "v", "extra"}
    rows = {r["day"]: r["extra"] for r in out.collect()}
    assert rows == {"20200101": None, "20200102": "e"}


def test_upsert_recovers_from_phase2_death(spark, tmp_path):
    """A run that died mid target rewrite leaves a committed staging dir
    and an uncommitted (partial) target.  The NEXT upsert must restore
    the staging copy — not delete it and merge against partial data."""
    import os
    import shutil

    wh = Warehouse(spark, str(tmp_path))
    wh.materialize_upsert(
        "stage.users",
        spark.createDataFrame([Row(user_id="a", age=30), Row(user_id="b", age=40)]),
        "user_id",
    )
    target = wh.path("stage.users")
    staging = target + "__staging"
    # simulate the phase-2 death: staging = full committed copy, target =
    # half-written overwrite (one data file gone, no _SUCCESS marker)
    shutil.copytree(target, staging)
    os.remove(os.path.join(target, "_SUCCESS"))
    parquet_files = [f for f in os.listdir(target) if f.endswith(".parquet")]
    for f in parquet_files[: max(1, len(parquet_files) // 2)]:
        os.remove(os.path.join(target, f))

    wh.materialize_upsert(
        "stage.users",
        spark.createDataFrame([Row(user_id="c", age=50)]),
        "user_id",
    )
    rows = {(r["user_id"], r["age"]) for r in wh.read("stage.users").collect()}
    assert rows == {("a", 30), ("b", 40), ("c", 50)}  # nothing lost
    assert not os.path.exists(staging)


def test_stale_committed_staging_is_cleared_not_restored(spark, tmp_path):
    """If the target DID commit, a leftover staging dir is stale — the
    next call must delete it and keep the (newer) target."""
    import os
    import shutil

    wh = Warehouse(spark, str(tmp_path))
    wh.materialize_upsert(
        "stage.users",
        spark.createDataFrame([Row(user_id="a", age=30)]),
        "user_id",
    )
    target = wh.path("stage.users")
    staging = target + "__staging"
    shutil.copytree(target, staging)  # both committed: staging is stale
    wh.materialize_upsert(
        "stage.users",
        spark.createDataFrame([Row(user_id="a", age=31)]),
        "user_id",
    )
    rows = {(r["user_id"], r["age"]) for r in wh.read("stage.users").collect()}
    assert rows == {("a", 31)}
    assert not os.path.exists(staging)


def test_day_partitioned_table_partition_prunes(spark, tmp_path):
    """The hypertable-chunk analog: a day filter on a day-partitioned
    warehouse table must prune at the FILE INDEX (PartitionFilters),
    not post-scan — the difference between touching one day directory
    and listing 100 TB."""
    from iot_elt_airflow_mongo_timescaledb_spark.plans.materialize import Warehouse
    from tools.explain_audit import plan_string

    wh = Warehouse(spark, str(tmp_path))
    rows = [(d, u, 100 * u) for d in ("20240101", "20240102", "20240103")
            for u in range(4)]
    df = spark.createDataFrame(rows, ["day", "user_id", "steps"])
    wh.materialize_incremental("stage.t", df, partition_by=("day",))

    filtered = wh.read("stage.t").filter(F.col("day") == "20240102")
    plan = plan_string(filtered)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "20240102" in m.group(1), plan
    # (inputFiles() reflects the pre-pruning file index, so the dir-level
    # check is the PartitionFilters clause above; the values confirm only
    # the matching day's rows flow)
    assert filtered.count() == 4
    assert {r["user_id"] for r in filtered.collect()} == {0, 1, 2, 3}


def test_cross_method_recovery_compact_death_then_upsert(spark, tmp_path):
    """A compact() phase-2 death must be recovered by the NEXT call even
    if that call is a different method (upsert) or a plain read — the
    staging suffix belongs to the table, not to the method that wrote
    it."""
    import os
    import shutil

    wh = Warehouse(spark, str(tmp_path))
    base = spark.createDataFrame(
        [Row(user_id=i, v=i * 10) for i in range(6)]
    )
    wh.materialize_upsert("stage.x", base, "user_id")

    # simulate: compact wrote a committed __compact staging, then died
    # mid target overwrite (target loses its commit marker + a file)
    target = wh.path("stage.x")
    staging = target + "__compact"
    shutil.copytree(target, staging)
    os.remove(os.path.join(target, "_SUCCESS"))
    for f in os.listdir(target):
        if f.endswith(".parquet"):
            os.remove(os.path.join(target, f))
            break

    batch = spark.createDataFrame([Row(user_id=0, v=999)])
    out = wh.materialize_upsert("stage.x", batch, "user_id")
    got = {r["user_id"]: r["v"] for r in out.collect()}
    # all six users survived (recovered from staging), user 0 upserted
    assert got == {0: 999, 1: 10, 2: 20, 3: 30, 4: 40, 5: 50}
    assert not os.path.isdir(staging)


def test_upsert_writes_data_exactly_once(spark, tmp_path, monkeypatch):
    """The scale contract of the r5 rewrite: an upsert performs ONE data
    write (merge -> __staging) and promotes it with a metadata-only
    rename — not the old staging-write + full target rewrite (2x
    full-table I/O per 15-minute batch, growing with TABLE size)."""
    from pyspark.sql.readwriter import DataFrameWriter

    wh = Warehouse(spark, str(tmp_path))
    wh.materialize_upsert(
        "stage.users",
        spark.createDataFrame([Row(user_id="a", age=30), Row(user_id="b", age=40)]),
        "user_id",
    )
    calls: list[str] = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        calls.append(path)
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    wh.materialize_upsert(
        "stage.users", spark.createDataFrame([Row(user_id="b", age=41)]), "user_id"
    )
    assert len(calls) == 1 and calls[0].endswith("__staging"), calls
    rows = {(r["user_id"], r["age"]) for r in wh.read("stage.users").collect()}
    assert rows == {("a", 30), ("b", 41)}


def test_compact_writes_data_exactly_once(spark, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    wh = Warehouse(spark, str(tmp_path))
    for i in range(3):
        wh.materialize_incremental("stage.t", _days(spark, (f"2020010{i+1}", i)), "day")
    calls: list[str] = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        calls.append(path)
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    wh.compact("stage.t", target_files=1)
    assert len(calls) == 1 and calls[0].endswith("__compact"), calls
    assert wh.read("stage.t").count() == 3


def test_warehouse_on_scheme_qualified_uri(spark, tmp_path):
    """Cluster-real storage: the warehouse root may be a scheme-qualified
    URI (file:/ here standing in for hdfs://s3a:).  exists(), the
    watermark lookup, partition discovery, and the staged swap must all
    work through the Hadoop FileSystem — with os.path they silently
    answer 'missing', turning every append into a full overwrite."""
    root = f"file:{tmp_path}"
    wh = Warehouse(spark, root)
    assert not wh.exists("stage.t")
    wh.materialize_incremental(
        "stage.t", _days(spark, ("20200101", 1), ("20200102", 2)), "day",
        partition_by=("day",),
    )
    assert wh.exists("stage.t")
    # strict-> watermark must see the existing target (not re-write all)
    wh.materialize_incremental(
        "stage.t", _days(spark, ("20200102", 99), ("20200103", 3)), "day",
        partition_by=("day",),
    )
    rows = {(r["day"], r["v"]) for r in wh.read("stage.t").collect()}
    assert rows == {("20200101", 1), ("20200102", 2), ("20200103", 3)}

    # upsert + partition preservation through the staged swap
    wh.materialize_upsert(
        "stage.u",
        spark.createDataFrame([Row(user_id="a", day="20200101", v=1),
                               Row(user_id="b", day="20200102", v=2)]),
        "user_id",
    )
    wh.materialize_upsert(
        "stage.u",
        spark.createDataFrame([Row(user_id="b", day="20200102", v=3)]),
        "user_id",
    )
    got = {(r["user_id"], r["v"]) for r in wh.read("stage.u").collect()}
    assert got == {("a", 1), ("b", 3)}
    import os

    assert not any(
        d.endswith(("__staging", "__compact"))
        for _r, dirs, _f in os.walk(str(tmp_path)) for d in dirs
    )


def test_recovery_on_scheme_qualified_uri(spark, tmp_path):
    """Swap-death recovery must work when paths are URIs: a committed
    __staging facing an uncommitted target is restored via FileSystem
    rename, not os-level move."""
    import os
    import shutil

    root = f"file:{tmp_path}"
    wh = Warehouse(spark, root)
    wh.materialize_upsert(
        "stage.users",
        spark.createDataFrame([Row(user_id="a", age=30), Row(user_id="b", age=40)]),
        "user_id",
    )
    local_target = str(tmp_path / "stage" / "users")
    local_staging = local_target + "__staging"
    shutil.copytree(local_target, local_staging)
    os.remove(os.path.join(local_target, "_SUCCESS"))
    wh.materialize_upsert(
        "stage.users", spark.createDataFrame([Row(user_id="c", age=50)]), "user_id"
    )
    rows = {(r["user_id"], r["age"]) for r in wh.read("stage.users").collect()}
    assert rows == {("a", 30), ("b", 40), ("c", 50)}
    assert not os.path.exists(local_staging)


def test_training_shards_one_pos_ordered_file_per_shard(spark, tmp_path):
    """materialize_training_shards: shard=<k>/ layout, exactly one data
    file per shard, rows inside each file in seeded-shuffle (pos) order,
    content round-trips."""
    import glob
    import os

    import pyarrow.parquet as pq

    from iot_elt_airflow_mongo_timescaledb_spark.operators.packing import (
        shuffle_shard,
    )

    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(400)], "doc_id long, text string"
    )
    out = wh.materialize_training_shards("train.shards", df, "doc_id", n_shards=6)
    assert out.count() == 400
    root = os.path.join(str(tmp_path), "train", "shards")
    shard_dirs = sorted(glob.glob(os.path.join(root, "shard=*")))
    assert len(shard_dirs) == 6
    expected = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in shuffle_shard(df, "doc_id", n_shards=6).collect()
    }
    seen = set()
    for d in shard_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, f"{d}: expected one file, got {files}"
        shard_k = int(d.rsplit("=", 1)[1])
        tbl = pq.read_table(files[0]).to_pylist()
        # file order IS the shuffle order
        assert [r["pos"] for r in tbl] == list(range(1, len(tbl) + 1))
        for r in tbl:
            assert r["text"] == f"text-{r['doc_id']}"
            seen.add((r["doc_id"], shard_k, r["pos"]))
    assert seen == expected


def test_training_shards_rewrite_replaces(spark, tmp_path):
    """A second shard write fully replaces the first (two-phase swap),
    and a different seed re-deals the layout."""
    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(100)], "doc_id long, text string"
    )
    first = wh.materialize_training_shards(
        "train.shards", df, "doc_id", n_shards=4, seed=0
    ).collect()
    second = wh.materialize_training_shards(
        "train.shards", df, "doc_id", n_shards=4, seed=7
    ).collect()
    assert len(second) == 100
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted({r["doc_id"] for r in second}) == list(range(100))
    assert sorted(first, key=key) != sorted(second, key=key)  # re-dealt


def test_retention_drop_is_metadata_only(spark, tmp_path):
    """retention_drop removes whole day partitions below the cutoff by
    directory delete — surviving partitions keep their exact files (no
    rewrite), and the dropped count is reported."""
    import os

    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(d, i, float(i)) for i, d in enumerate(
            ["20240101", "20240102", "20240103", "20240104"])],
        "day string, id long, v double",
    )
    wh.materialize_incremental("stage.t", df, partition_by=("day",))
    root = wh.path("stage.t")

    def files_under(day):
        p = os.path.join(root, f"day={day}")
        return sorted(
            os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs
        )

    keep_before = {d: files_under(d) for d in ("20240103", "20240104")}
    dropped = wh.retention_drop("stage.t", "day", "20240103")
    assert dropped == 2
    left = wh.read("stage.t")
    assert sorted(r["day"] for r in left.collect()) == ["20240103", "20240104"]
    # metadata-only: surviving partition files untouched (same paths)
    assert {d: files_under(d) for d in keep_before} == keep_before
    # idempotent: nothing below the cutoff remains
    assert wh.retention_drop("stage.t", "day", "20240103") == 0


def test_retention_drop_rejects_wrong_layout(spark, tmp_path):
    import pytest

    wh = Warehouse(spark, str(tmp_path))
    flat = spark.createDataFrame([(1, "a")], "id long, s string")
    wh.materialize_incremental("stage.flat", flat)
    with pytest.raises(ValueError, match="top-level partition column"):
        wh.retention_drop("stage.flat", "day", "20240101")


def test_backfill_replaces_only_named_partitions(spark, tmp_path):
    """Dynamic partition overwrite: the backfilled day is replaced (not
    appended), sibling days keep their exact files."""
    import os

    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [("20240101", 1, 1.0), ("20240102", 2, 2.0), ("20240103", 3, 3.0)],
        "day string, id long, v double",
    )
    wh.materialize_incremental("stage.t", df, partition_by=("day",))
    root = wh.path("stage.t")

    def files_under(day):
        p = os.path.join(root, f"day={day}")
        return sorted(
            os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs
        )

    before_d1 = files_under("20240101")
    before_d3 = files_under("20240103")
    fix = spark.createDataFrame(
        [("20240102", 20, 20.0), ("20240102", 21, 21.0)],
        "day string, id long, v double",
    )
    out = wh.backfill_partitions("stage.t", fix, "day")
    got = {(r["day"], r["id"]): r["v"] for r in out.collect()}
    assert got == {
        ("20240101", 1): 1.0,
        ("20240102", 20): 20.0,  # replaced, old id=2 row gone
        ("20240102", 21): 21.0,
        ("20240103", 3): 3.0,
    }
    assert files_under("20240101") == before_d1
    assert files_under("20240103") == before_d3


def test_backfill_rejects_wrong_layout(spark, tmp_path):
    import pytest

    wh = Warehouse(spark, str(tmp_path))
    flat = spark.createDataFrame([(1, "a")], "id long, s string")
    wh.materialize_incremental("stage.flat", flat)
    with pytest.raises(ValueError, match="top-level partition column"):
        wh.backfill_partitions(
            "stage.flat",
            spark.createDataFrame([("d", 1)], "day string, id long"),
            "day",
        )


def test_compact_auto_sizes_from_table_bytes(spark, tmp_path):
    """target_files=None derives the file count from on-disk bytes at
    target_file_bytes per file — tiny tables compact to one file, and
    the arithmetic is pinned with a small synthetic byte budget."""
    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(2000).selectExpr("id", "id * 1.5 AS v")
    wh.materialize_incremental("stage.t", df.repartition(8))
    n_before = wh.read("stage.t").rdd.getNumPartitions()
    out = wh.compact("stage.t")  # auto: well under 128 MB -> 1 file
    assert out.count() == 2000
    files = [
        f for f in __import__("os").listdir(wh.path("stage.t"))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1 and n_before > 1
    # tiny budget -> multiple files, ceil(bytes / budget)
    nbytes = wh.fs.tree_bytes(wh.path("stage.t"))
    wh.compact("stage.t", target_file_bytes=max(1, nbytes // 3))
    files = [
        f for f in __import__("os").listdir(wh.path("stage.t"))
        if f.endswith(".parquet")
    ]
    assert len(files) >= 3


def test_day_partitioned_table_gets_dynamic_partition_pruning(spark, tmp_path):
    """Joining a day-partitioned warehouse table to a filtered dimension
    on the partition key plans a dynamicpruning expression in the scan's
    PartitionFilters — at 100 TB this is what turns "join 30 days to 2
    selected days" into a 2-day scan.  useStats is disabled ONLY here:
    the toy table sizes fail DPP's benefit heuristic that real tables
    pass naturally."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try:
        wh = Warehouse(spark, str(tmp_path / "wh"))
        facts = spark.range(5000).select(
            (F.col("id") % 30 + 1).cast("string").alias("day"),
            (F.col("id") * 1.0).alias("v"),
        )
        wh.materialize_incremental("stage.f", facts, partition_by=("day",))
        dim_path = str(tmp_path / "dim")
        spark.createDataFrame(
            [(str(i), "x" if i < 3 else "y") for i in range(1, 31)],
            "day string, tag string",
        ).write.parquet(dim_path)
        dim = spark.read.parquet(dim_path).filter(F.col("tag") == "x")
        j = wh.read("stage.f").join(dim, "day").groupBy("tag").agg(
            F.sum("v").alias("s")
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "dynamicpruningexpression" in plan.lower(), plan
        assert j.collect()[0]["tag"] == "x"  # and it still answers right
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.useStats", old
        )


def test_new_lifecycle_methods_on_scheme_qualified_uri(spark, tmp_path):
    """retention_drop, backfill_partitions, snapshot + read_asof, and
    auto-compact all run through the FileSystem layer at a
    scheme-qualified root (file:/ standing in for hdfs://s3a:)."""
    root = f"file:{tmp_path}"
    wh = Warehouse(spark, root)
    df = spark.createDataFrame(
        [("20240101", 1, 1.0), ("20240102", 2, 2.0), ("20240103", 3, 3.0)],
        "day string, id long, v double",
    )
    wh.materialize_incremental("stage.t", df, partition_by=("day",))
    assert wh.retention_drop("stage.t", "day", "20240102") == 1
    fix = spark.createDataFrame(
        [("20240102", 20, 20.0)], "day string, id long, v double"
    )
    out = wh.backfill_partitions("stage.t", fix, "day")
    assert {(r["day"], r["id"]) for r in out.collect()} == {
        ("20240102", 20),
        ("20240103", 3),
    }
    wh.compact("stage.t")  # auto-sized, through tree_bytes on the URI
    assert wh.read("stage.t").count() == 2

    wh.materialize_snapshot(
        "snap.s",
        spark.createDataFrame([("a", 1)], "k string, v long"),
        "k",
        "T1",
    )
    wh.materialize_snapshot(
        "snap.s",
        spark.createDataFrame([("a", 2)], "k string, v long"),
        "k",
        "T2",
    )
    assert {(r["k"], r["v"]) for r in wh.read_asof("snap.s", "T1").collect()} == {
        ("a", 1)
    }
    assert {(r["k"], r["v"]) for r in wh.read_asof("snap.s", "T2").collect()} == {
        ("a", 2)
    }


def test_tables_and_table_info(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [("20240101", 1, 1.0), ("20240102", 2, 2.0)],
        "day string, id long, v double",
    )
    wh.materialize_incremental("stage.part", df, partition_by=("day",))
    wh.materialize_incremental(
        "raw.flat", spark.createDataFrame([(1,)], "id long")
    )
    assert wh.tables() == ["raw.flat", "stage.part"]
    info = wh.table_info("stage.part")
    assert info["partition_columns"] == ["day"]
    assert info["partitions"] == ["20240101", "20240102"]
    assert info["bytes"] > 0
    flat = wh.table_info("raw.flat")
    assert flat["partition_columns"] == [] and flat["partitions"] == []


def test_scratch_dir_honors_cluster_scratch_space(spark, tmp_path, monkeypatch):
    """scratch_dir roots transient warehouse state at the cluster's
    configured scratch volume (spark.local.dir / SPARK_LOCAL_DIRS), not
    bare /tmp — the gated scd2 query and streaming file sinks must land
    where Spark itself spills."""
    from iot_elt_airflow_mongo_timescaledb_spark.fs import scratch_dir

    # env path: SPARK_LOCAL_DIRS comma list -> first entry wins
    monkeypatch.setenv(
        "SPARK_LOCAL_DIRS", f"{tmp_path}/scratch_a,{tmp_path}/scratch_b"
    )
    d = scratch_dir(spark, "unit_")
    assert d.startswith(str(tmp_path / "scratch_a"))
    assert os.path.isdir(d)

    # two calls never collide
    assert scratch_dir(spark, "unit_") != d

    # fallback: no conf, no env -> system tempdir still works
    monkeypatch.delenv("SPARK_LOCAL_DIRS")
    assert os.path.isdir(scratch_dir(spark, "unit_"))


def test_incremental_cursor_on_scheme_qualified_uri(spark, tmp_path):
    """A POPULATED cursor must be found on a scheme-qualified state dir
    (file:/ standing in for hdfs://s3a:) — the os.path probe it replaced
    answered "missing" there, silently re-extracting full source
    history on every sync (VERDICT r8 finding #1)."""
    from iot_elt_airflow_mongo_timescaledb_spark.sources.ingest import (
        IncrementalCursor,
    )

    root = f"file:{tmp_path}"
    cur = IncrementalCursor(spark, root, "events", "ts")
    assert cur.last_value() is None  # genuinely-first run
    df = spark.createDataFrame([(1, 10), (2, 20)], "pk long, ts long")
    assert cur.filter(df).count() == 2
    cur.commit(20)

    # reopen: the populated state must be FOUND through the scheme
    cur2 = IncrementalCursor(spark, root, "events", "ts")
    assert cur2.last_value() == 20
    later = spark.createDataFrame([(2, 20), (3, 30), (0, 5)], "pk long, ts long")
    # inclusive >= boundary re-read: 20 stays, 5 drops
    assert {r["ts"] for r in cur2.filter(later).collect()} == {20, 30}

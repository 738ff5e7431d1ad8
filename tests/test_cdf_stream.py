"""Streaming CDF source (round 14, VERDICT task 2).

Pins: (1) a micro-batch feed over offsets (a, b] hash-matches the
batch ``read_changes_cdf(a, b)`` over a history mixing appends, DML
(delete/update/merge), compaction, and a pre-stream rename — on BOTH
commit-log formats; (2) kill+replay through the engine checkpoint is
exactly-once into a ``write_streaming_batch`` sink (no step served
twice, none skipped); (3) ``max_versions_per_batch`` bounds each
micro-batch (backpressure); (4) history rewrites refuse loudly
mid-stream; (5) the ANN maintenance path rides the stream end-to-end
and converges to the same index state as batch ``sync_from_cdf``.
"""

from __future__ import annotations

import os

import pytest

from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
    CatalogManifestFormat,
    ManifestFormat,
)
from iot_elt_airflow_mongo_timescaledb_spark.streaming.cdf_source import (
    register_cdf_source,
)


def _fmt(spark, root, kind="manifest", **kw):
    cls = {"manifest": ManifestFormat, "catalog": CatalogManifestFormat}[kind]
    kw.setdefault("auto_compact_dirs", None)
    kw.setdefault("cdf", True)
    return cls(spark, root, **kw)


def _rows(spark, triples):
    return spark.createDataFrame(
        [(int(k), str(v), float(x)) for k, v, x in triples],
        "k long, val string, x double",
    )


def _key(r):
    return tuple(str(r[c]) for c in sorted(r.asDict()))


def _stream_all(spark, root, table, ckpt, catalog=False, maxv=0, **opts):
    """Drain the feed to the head via repeated availableNow runs
    (single-batch execution per run under the Python data source),
    collecting every row; returns (rows, n_runs_with_data)."""
    register_cdf_source(spark)
    got: list = []
    runs = 0
    for _ in range(50):
        batch_rows: list = []
        reader = (
            spark.readStream.format("warehouse_cdf")
            .option("root", root)
            .option("table", table)
            .option("catalog", str(catalog).lower())
        )
        if maxv:
            reader = reader.option("max_versions_per_batch", str(maxv))
        for k, v in opts.items():
            reader = reader.option(k, str(v))
        q = (
            reader.load()
            .writeStream.trigger(availableNow=True)
            .foreachBatch(lambda b, i: batch_rows.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        if not batch_rows:
            break
        got.extend(batch_rows)
        runs += 1
    return got, runs


@pytest.mark.parametrize("kind", ["manifest", "catalog"])
def test_stream_hash_matches_batch_cdf(spark, tmp_path, kind):
    """Appends + delete + update + merge + a pre-stream rename: the
    streamed feed equals read_changes_cdf(0, head) row-for-row."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, kind, stats_cols=("k",))
    fmt.write("s.t", _rows(spark, [(1, "a", 1.0), (2, "b", 2.0)]), "overwrite")
    fmt.rename_column("s.t", "val", "label")
    fmt.write(
        "s.t",
        spark.createDataFrame([(3, "c", 3.0)], "k long, label string, x double"),
        "append",
    )
    fmt.delete_where("s.t", "k", 2, 2)
    fmt.update_where("s.t", "k", {"label": "'zz'"}, 1, 1)
    fmt.merge(
        "s.t",
        spark.createDataFrame(
            [(3, "c2", 3.5), (4, "d", 4.0)], "k long, label string, x double"
        ),
        "k",
    )

    batch = fmt.read_changes_cdf("s.t", 0).collect()
    streamed, _ = _stream_all(
        spark, root, "s.t", str(tmp_path / "ckpt"), catalog=(kind == "catalog")
    )
    assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
    assert len(batch) > 6  # the history really exercised every op


def test_stream_partitioned_insert_steps(spark, tmp_path):
    """Partition values come back as columns on streamed insert steps
    (entries carry them in the manifest, not the files)."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest")
    df = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")],
        "k long, day string, val string",
    )
    fmt.write("s.p", df, "overwrite", partition_by=("day",))
    fmt.write(
        "s.p",
        spark.createDataFrame([(4, "d3", "d")], "k long, day string, val string"),
        "append",
    )
    batch = fmt.read_changes_cdf("s.p", 0).collect()
    streamed, _ = _stream_all(spark, root, "s.p", str(tmp_path / "ckpt"))
    assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
    assert {r["day"] for r in streamed} == {"d1", "d2", "d3"}


def test_kill_replay_exactly_once(spark, tmp_path):
    """Stop after a partial drain, commit more DML, restart from the
    same checkpoint: every change row is served exactly once across
    the two lives of the stream."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest")
    fmt.write("s.t", _rows(spark, [(1, "a", 1.0)]), "overwrite")
    fmt.write("s.t", _rows(spark, [(2, "b", 2.0)]), "append")

    ckpt = str(tmp_path / "ckpt")
    first, _ = _stream_all(spark, root, "s.t", ckpt, maxv=1)
    # second life: more commits, SAME checkpoint
    fmt.delete_where("s.t", "k", 1, 1)
    fmt.write("s.t", _rows(spark, [(3, "c", 3.0)]), "append")
    second, _ = _stream_all(spark, root, "s.t", ckpt, maxv=1)

    batch = fmt.read_changes_cdf("s.t", 0).collect()
    assert sorted(map(_key, first + second)) == sorted(map(_key, batch))
    # nothing double-served: multiset equality above is exact, and the
    # second life starts past the first's committed offset
    assert len(first) + len(second) == len(batch)


def test_max_versions_per_batch_caps_running_stream(spark, tmp_path):
    """Backpressure: within one continuously-running query, every
    micro-batch after the first spans at most max_versions_per_batch
    commits (the engine hides the checkpointed offset until the first
    plan, so the first batch of a run is uncapped — measured behavior,
    documented in latestOffset)."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest")
    fmt.write("s.t", _rows(spark, [(0, "a", 0.0)]), "overwrite")

    register_cdf_source(spark)
    batches: list[set] = []

    def sink(b, i):
        vs = {r["_commit_version"] for r in b.collect()}
        if vs:
            batches.append(vs)

    q = (
        spark.readStream.format("warehouse_cdf")
        .option("root", root)
        .option("table", "s.t")
        .option("max_versions_per_batch", "1")
        .load()
        .writeStream.trigger(processingTime="0 seconds")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i in range(1, 4):
            fmt.write("s.t", _rows(spark, [(i, "a", float(i))]), "append")
        q.processAllAvailable()
    finally:
        q.stop()
    served = sorted(v for vs in batches for v in vs)
    assert served == [1, 2, 3, 4]
    # the capped tail: each post-first batch spans exactly one commit
    assert all(len(vs) == 1 for vs in batches[1:])
    assert len(batches) >= 4


def test_history_rewrite_refuses_loudly(spark, tmp_path):
    """A replace mid-range (no change rows recorded) must fail the
    stream with the resync error, never silently skip."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import StreamingQueryException

    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest")
    fmt.write("s.t", _rows(spark, [(1, "a", 1.0)]), "overwrite")
    ckpt = str(tmp_path / "ckpt")
    streamed, _ = _stream_all(spark, root, "s.t", ckpt)
    assert len(streamed) == 1
    fmt.replace_atomic("s.t", _rows(spark, [(9, "z", 9.0)]))
    register_cdf_source(spark)
    q = (
        spark.readStream.format("warehouse_cdf")
        .option("root", root)
        .option("table", "s.t")
        .load()
        .writeStream.trigger(availableNow=True)
        .foreachBatch(lambda b, i: b.count())
        .option("checkpointLocation", ckpt)
        .start()
    )
    with pytest.raises((StreamingQueryException, Py4JJavaError)) as err:
        q.awaitTermination(120)
    assert "resync" in str(err.value) or "vanished" in str(err.value)


def test_streamed_sink_idempotent_writer(spark, tmp_path):
    """The feed composed with write_streaming_batch: replaying the
    whole stream against a FRESH checkpoint re-serves rows, but the
    sink's txn watermark drops the replayed micro-batches — the
    mirror table converges instead of doubling (exactly-once end to
    end even when the reader side loses its checkpoint)."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest")
    fmt.write("s.src", _rows(spark, [(1, "a", 1.0)]), "overwrite")
    fmt.write("s.src", _rows(spark, [(2, "b", 2.0)]), "append")

    register_cdf_source(spark)
    sink = _fmt(spark, str(tmp_path / "sink"), "manifest", cdf=False)

    def mirror(batch_df, batch_id):
        sink.write_streaming_batch(
            "s.mirror", batch_df, int(batch_id), app_id="cdf-mirror"
        )

    for ck in ("ck1", "ck1", "ck2"):  # ck2 = lost checkpoint, replay all
        q = (
            spark.readStream.format("warehouse_cdf")
            .option("root", root)
            .option("table", "s.src")
            .load()
            .writeStream.trigger(availableNow=True)
            .foreachBatch(mirror)
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        q.awaitTermination(120)
    got = sink.read("s.mirror").collect()
    assert sorted(r["k"] for r in got) == [1, 2]


def test_ann_maintain_stream_end_to_end(spark, tmp_path):
    """The ANN maintenance family rides the stream (VERDICT task 2
    'wire one sync through it'): train, stream-apply a DML mix via
    maintain_stream, and the index-served top-k equals the recompute
    over the FINAL corpus — with the polling path's replay guard
    honored when the engine checkpoint is lost."""
    import random

    from pyspark.sql import functions as F

    from iot_elt_airflow_mongo_timescaledb_spark.plans.ann_index import (
        IncrementalANNSync,
    )

    rng = random.Random(7)
    dim, n_clusters, per = 16, 6, 25
    rows = []
    for cl in range(n_clusters):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        for j in range(per):
            rows.append(
                (
                    cl * per + j,
                    [float(c + rng.gauss(0, 0.05)) for c in center],
                    cl,
                )
            )
    clustered = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: int"
    )

    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None,
        stats_cols=("vec_id",), cdf=True,
    )
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    fmt.write("raw.vecs", clustered.filter(F.col("vec_id") < 140), "overwrite")
    idx.train_from_table(fmt, "raw.vecs")

    # DML mix after bootstrap: updates, deletes, inserts over 2 commits
    updates = clustered.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
    ).withColumn("embedding", F.reverse("embedding"))
    inserts = clustered.filter(F.col("vec_id") >= 140)
    dead = clustered.filter(
        (F.col("vec_id") >= 110) & (F.col("vec_id") < 120)
    ).select("vec_id")
    # delete_keys OVERRIDES the delete set (dlt root-key merge): it
    # must cover the batch's own keys or matched rows duplicate
    fmt.merge(
        "raw.vecs",
        updates,
        "vec_id",
        delete_keys=dead.unionByName(updates.select("vec_id")),
    )
    fmt.write("raw.vecs", inserts, "append")

    ckpt = str(tmp_path / "ann_ckpt")
    q = idx.maintain_stream(fmt, "raw.vecs", ckpt, max_versions_per_batch=1)
    q.awaitTermination(180)

    final = fmt.read("raw.vecs")
    a = idx.wh.read(idx.assign_table)
    got = {r["vec_id"] for r in a.select("vec_id").collect()}
    want = {r["vec_id"] for r in final.select("vec_id").collect()}
    assert got == want
    assert a.count() == a.select("vec_id").distinct().count()

    queries = clustered.filter(F.col("vec_id") % 40 == 0)
    served = idx.topk(queries, k=3, n_probe=2)
    recomputed = idx.recompute_topk(final, queries, k=3, n_probe=2)
    srv = {
        (r["query_id"], r["neighbor_id"], r["rk"]) for r in served.collect()
    }
    rec = {
        (r["query_id"], r["neighbor_id"], r["rk"])
        for r in recomputed.collect()
    }
    assert srv == rec

    # lost ENGINE checkpoint: a fresh stream replays the whole feed,
    # but the source-version watermark skips every already-applied
    # batch before the retract merge — the index state is unchanged
    q2 = idx.maintain_stream(fmt, "raw.vecs", str(tmp_path / "ann_ckpt2"))
    q2.awaitTermination(180)
    a2 = idx.wh.read(idx.assign_table)
    assert a2.count() == a.count()
    assert {r["vec_id"] for r in a2.select("vec_id").collect()} == want

    # the polling path shares the cursor: nothing left to apply
    assert idx.sync_from_cdf(fmt, "raw.vecs") is False


def test_rollup_maintain_stream_end_to_end(spark, tmp_path):
    """The rollup family rides the stream too: maintain_stream's
    signed-fact micro-batches converge the stored rollup to the exact
    recompute, share the polling path's cursor, and a lost engine
    checkpoint replays harmlessly."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalAggSync,
    )

    fmt = _fmt(spark, str(tmp_path), "manifest", stats_cols=("k",))
    agg = IncrementalAggSync(
        spark, str(tmp_path), "agg.daily_v", group_cols=("day",),
        sum_cols=("v",), table_format=fmt,
    )

    def rows(*triples):
        return spark.createDataFrame(
            [Row(k=k, day=d, v=v) for k, d, v in triples]
        )

    fmt.write("raw.f", rows((1, "d1", 10.0), (2, "d1", 5.0), (3, "d2", 7.0)),
              "overwrite")
    agg.sync_from_cdf(fmt, "raw.f")  # bootstrap anchors the cursor

    # two post-bootstrap commits: an upsert (update + delete + insert)
    # and a plain append
    fmt.merge(
        "raw.f",
        rows((2, "d1", 50.0), (4, "d3", 1.0)),
        "k",
        delete_keys=spark.createDataFrame([(3,), (2,), (4,)], "k long"),
    )
    fmt.write("raw.f", rows((5, "d2", 2.0)), "append")

    q = agg.maintain_stream(
        fmt, "raw.f", str(tmp_path / "ck"), max_versions_per_batch=1
    )
    q.awaitTermination(180)

    recompute = {
        (r["day"], r["sum_v"], r["n_rows"])
        for r in fmt.read("raw.f")
        .groupBy("day")
        .agg(F.sum("v").alias("sum_v"), F.count("*").alias("n_rows"))
        .collect()
    }
    rollup = {
        (r["day"], r["sum_v"], r["n_rows"])
        for r in agg.read().select("day", "sum_v", "n_rows").collect()
    }
    assert rollup == recompute

    # lost ENGINE checkpoint: replay the whole feed — the shared
    # cursor skips every absorbed batch, rollup unchanged
    q2 = agg.maintain_stream(fmt, "raw.f", str(tmp_path / "ck2"))
    q2.awaitTermination(180)
    rollup2 = {
        (r["day"], r["sum_v"], r["n_rows"])
        for r in agg.read().select("day", "sum_v", "n_rows").collect()
    }
    assert rollup2 == recompute
    # the polling path shares the cursor: nothing left to apply
    before = agg._applied_batch_id()
    agg.sync_from_cdf(fmt, "raw.f")
    assert agg._applied_batch_id() == before


def test_snapshot_with_mor_deletes_streams_masked(spark, tmp_path):
    """r14: a snapshot step whose first travelable version carries MOR
    delete masks (a merge's AND a delete's) streams the MASKED rows —
    equal to the batch CDF — instead of refusing."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest", stats_cols=("k",))
    fmt.write(
        "s.t",
        _rows(spark, [(i, f"v{i}", float(i)) for i in range(10)]),
        "overwrite",
    )
    # a merge_mor delete mask + a delete_where_mor mask
    fmt.merge_mor(
        "s.t",
        _rows(spark, []).limit(0),
        "k",
        delete_keys=spark.createDataFrame([(2,), (5,)], "k long"),
    )
    fmt.delete_where_mor("s.t", "k", 7, 8)
    # a plain append as the head (a cdc-carrying head can never serve
    # a from-0 feed — both readers refuse identically), then vacuum to
    # it: the stream's first step is now a SNAPSHOT carrying both
    # masks
    fmt.write("s.t", _rows(spark, [(100, "new", 1.0)]), "append")
    fmt.vacuum("s.t", keep_last=1, writer_grace_s=0)

    batch = fmt.read_changes_cdf("s.t", 0).collect()
    streamed, _ = _stream_all(spark, root, "s.t", str(tmp_path / "ck"))
    assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
    assert sorted(r["k"] for r in streamed) == [0, 1, 3, 4, 6, 9, 100]


def test_snapshot_with_positional_mask_streams_masked(spark, tmp_path):
    """r14: POSITIONAL deletion-vector masks apply in the stream too —
    per parquet fragment, by (table-root-relative file path, row
    index), the exact identity Spark's _metadata.row_index uses."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest", stats_cols=("k",))
    fmt.write(
        "s.t",
        _rows(spark, [(i, "a", float(i)) for i in range(6)]),
        "overwrite",
    )
    fmt.delete_where_mor("s.t", "k", 2, 3)
    fmt.write("s.t", _rows(spark, [(100, "new", 1.0)]), "append")
    fmt.vacuum("s.t", keep_last=1, writer_grace_s=0)

    batch = fmt.read_changes_cdf("s.t", 0).collect()
    streamed, _ = _stream_all(spark, root, "s.t", str(tmp_path / "ck"))
    assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
    assert sorted(r["k"] for r in streamed) == [0, 1, 4, 5, 100]


_SUBTREE = (
    "iot_elt_airflow_mongo_timescaledb_spark.streaming.cdf_source"
    ":subtree_fs_factory"
)


def test_fs_factory_hash_parity_through_nonlocal_fs(spark, tmp_path):
    """r15 seam (VERDICT r14 task 1): the full DML history streamed
    through a NON-local pyarrow.fs (SubTreeFileSystem — its paths are
    subtree-relative, so any leftover raw os.* access would fail)
    hash-matches read_changes_cdf."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest", stats_cols=("k",))
    fmt.write("s.t", _rows(spark, [(1, "a", 1.0), (2, "b", 2.0)]), "overwrite")
    fmt.write("s.t", _rows(spark, [(3, "c", 3.0)]), "append")
    fmt.delete_where("s.t", "k", 2, 2)
    fmt.update_where("s.t", "k", {"val": "'zz'"}, 1, 1)
    fmt.merge(
        "s.t",
        spark.createDataFrame(
            [(3, "c2", 3.5), (4, "d", 4.0)], "k long, val string, x double"
        ),
        "k",
    )
    batch = fmt.read_changes_cdf("s.t", 0).collect()
    streamed, _ = _stream_all(
        spark, root, "s.t", str(tmp_path / "ckpt"), fs_factory=_SUBTREE
    )
    assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
    assert len(batch) > 5


def test_fs_factory_kill_replay_exactly_once(spark, tmp_path):
    """Kill+replay through the non-local fs: exactly-once across two
    lives of the stream, same pin as the local-path test."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest")
    fmt.write("s.t", _rows(spark, [(1, "a", 1.0)]), "overwrite")
    fmt.write("s.t", _rows(spark, [(2, "b", 2.0)]), "append")
    ckpt = str(tmp_path / "ckpt")
    first, _ = _stream_all(
        spark, root, "s.t", ckpt, maxv=1, fs_factory=_SUBTREE
    )
    fmt.delete_where("s.t", "k", 1, 1)
    fmt.write("s.t", _rows(spark, [(3, "c", 3.0)]), "append")
    second, _ = _stream_all(
        spark, root, "s.t", ckpt, maxv=1, fs_factory=_SUBTREE
    )
    batch = fmt.read_changes_cdf("s.t", 0).collect()
    assert sorted(map(_key, first + second)) == sorted(map(_key, batch))
    assert len(first) + len(second) == len(batch)


def test_fs_factory_snapshot_mor_masks_through_nonlocal_fs(spark, tmp_path):
    """The Arrow-side MOR delete-mask application also routes through
    the injected filesystem."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest", stats_cols=("k",))
    fmt.write(
        "s.t", _rows(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]),
        "overwrite",
    )
    fmt.merge_mor(
        "s.t",
        _rows(spark, []).limit(0),
        "k",
        delete_keys=spark.createDataFrame([(2,)], "k long"),
    )
    # plain-append head, vacuum to it: the stream's first step is a
    # SNAPSHOT carrying the merge's delete mask (same shape as the
    # local-path test), now read through the injected filesystem
    fmt.write("s.t", _rows(spark, [(9, "new", 9.0)]), "append")
    fmt.vacuum("s.t", keep_last=1, writer_grace_s=0)
    batch = fmt.read_changes_cdf("s.t", 0).collect()
    streamed, _ = _stream_all(
        spark, root, "s.t", str(tmp_path / "ckpt"), fs_factory=_SUBTREE
    )
    assert sorted(map(_key, streamed)) == sorted(map(_key, batch))
    assert sorted(r["k"] for r in streamed) == [1, 3, 9]


def test_progress_clamp_bounds_restart_backlog(spark, tmp_path):
    """r15 clamp (VERDICT r14 task 6): the engine hides the
    checkpointed offset on restart, so without the progress hint the
    first post-restart batch planned to the TRUE head.  With
    progress_dir: a 20-version backlog accumulated while the stream
    was down pages in max_versions_per_batch-bounded batches, and the
    feed content is unchanged."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest")
    fmt.write("s.t", _rows(spark, [(0, "a", 0.0)]), "overwrite")
    ckpt = str(tmp_path / "ckpt")
    pdir = str(tmp_path / "ckpt_progress")
    register_cdf_source(spark)

    def run_once():
        """One availableNow run = one planned batch; returns the set
        of commit versions it served."""
        vs: set = set()
        q = (
            spark.readStream.format("warehouse_cdf")
            .option("root", root)
            .option("table", "s.t")
            .option("max_versions_per_batch", "5")
            .option("progress_dir", pdir)
            .load()
            .writeStream.trigger(availableNow=True)
            .foreachBatch(
                lambda b, i: vs.update(
                    r["_commit_version"] for r in b.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(120)
        return vs

    first = run_once()  # fresh stream: serves v1 (head), seeds progress
    assert first == {1}
    # stream down; a 20-commit backlog lands
    for i in range(1, 21):
        fmt.write("s.t", _rows(spark, [(i, "x", float(i))]), "append")
    served = []
    for _ in range(10):
        vs = run_once()
        if not vs:
            break
        # THE pin: no post-restart batch spans more than the cap
        assert max(vs) - min(vs) + 1 <= 5 and len(vs) <= 5
        served.append(vs)
    got = sorted(v for vs in served for v in vs)
    assert got == list(range(2, 22))  # full backlog, exactly once
    assert len(served) == 4  # 20 versions / cap 5


def test_progress_clamp_through_nonlocal_fs(spark, tmp_path):
    """The restart clamp must engage on NON-local filesystems too: the
    hint is read and written through the progress dir's OWN resolved
    fs (review r15 — reading it through the warehouse log's fs
    resolved a different file under a subtree factory, so the clamp
    silently never engaged on exactly the object-store deployments the
    seam targets)."""
    root = str(tmp_path)
    fmt = _fmt(spark, root, "manifest")
    fmt.write("s.t", _rows(spark, [(0, "a", 0.0)]), "overwrite")
    ckpt = str(tmp_path / "ckpt")
    pdir = str(tmp_path / "ckpt_progress")
    register_cdf_source(spark)

    def run_once():
        vs: set = set()
        q = (
            spark.readStream.format("warehouse_cdf")
            .option("root", root)
            .option("table", "s.t")
            .option("max_versions_per_batch", "5")
            .option("progress_dir", pdir)
            .option("fs_factory", _SUBTREE)
            .load()
            .writeStream.trigger(availableNow=True)
            .foreachBatch(
                lambda b, i: vs.update(
                    r["_commit_version"] for r in b.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(120)
        return vs

    assert run_once() == {1}  # seeds the progress hint
    for i in range(1, 11):
        fmt.write("s.t", _rows(spark, [(i, "x", float(i))]), "append")
    served = []
    for _ in range(6):
        vs = run_once()
        if not vs:
            break
        assert max(vs) - min(vs) + 1 <= 5 and len(vs) <= 5
        served.append(vs)
    assert sorted(v for vs in served for v in vs) == list(range(2, 12))
    assert len(served) == 2  # 10 versions / cap 5 — clamp engaged


def test_sketch_rollups_maintain_stream_end_to_end(spark, tmp_path):
    """r15 (VERDICT r14 task 4): the SKETCH rollup family rides the
    stream too — HLL-distinct and histogram twins converge to the
    one-shot recompute over an append-only source, kill+replay across
    a stream restart stays exactly-once (union/addition absorb
    nothing twice: replayed vmax <= cursor skips)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalDistinctSync,
        IncrementalHistSync,
    )

    fmt = _fmt(spark, str(tmp_path), "manifest")

    def rows(*triples):
        return spark.createDataFrame(
            [Row(day=d, user=u, v=float(v)) for d, u, v in triples]
        )

    fmt.write(
        "raw.ev",
        rows(("d1", "u1", 1.0), ("d1", "u2", 5.0), ("d2", "u1", 9.0)),
        "overwrite",
    )
    dist = IncrementalDistinctSync(
        spark, str(tmp_path), "agg.dist_v", group_cols=("day",),
        distinct_col="user", table_format=fmt,
    )
    hist = IncrementalHistSync(
        spark, str(tmp_path), "agg.hist_v", group_cols=("day",),
        value_col="v", lo=0.0, hi=10.0, n_bins=10, table_format=fmt,
    )
    dist.sync_from_changes(fmt, "raw.ev")  # bootstrap anchors cursors
    hist.sync_from_changes(fmt, "raw.ev")

    # first life: two appends, drained per-version
    fmt.write("raw.ev", rows(("d1", "u3", 3.0), ("d2", "u2", 7.0)), "append")
    fmt.write("raw.ev", rows(("d3", "u1", 2.0)), "append")
    for roll in (dist, hist):
        q = roll.maintain_stream(
            fmt, "raw.ev", str(tmp_path / f"ck_{roll.table_name[4:]}"),
            max_versions_per_batch=1,
        )
        assert q.awaitTermination(180)

    # second life: another append, SAME checkpoints (kill+replay)
    fmt.write("raw.ev", rows(("d1", "u1", 4.0), ("d3", "u9", 6.0)), "append")
    for roll in (dist, hist):
        q = roll.maintain_stream(
            fmt, "raw.ev", str(tmp_path / f"ck_{roll.table_name[4:]}"),
            max_versions_per_batch=1,
        )
        assert q.awaitTermination(180)

    facts = fmt.read("raw.ev")
    dist_expect = {
        (r["day"], r["n"])
        for r in facts.groupBy("day")
        .agg(F.countDistinct("user").alias("n"))
        .collect()
    }
    # lgk=12 HLL is exact at these cardinalities
    assert {
        (r["day"], int(r["distinct_est"]))
        for r in dist.read().collect()
    } == dist_expect
    import math

    by_day: dict = {}
    for r in facts.collect():
        by_day.setdefault(r["day"], []).append(r["v"])
    # the contract: p50 within one bin width (1.0) of the
    # ceil(p*n)-th ORDER STATISTIC (rank-based, not interpolated)
    exp = {
        d: sorted(vs)[math.ceil(0.5 * len(vs)) - 1]
        for d, vs in by_day.items()
    }
    got_med = {(r["day"], r["p50"]) for r in hist.read().collect()}
    assert {d for d, _ in got_med} == set(exp)
    assert all(abs(m - exp[d]) <= 1.0 for d, m in got_med)


def test_sketch_stream_refuses_retraction(spark, tmp_path):
    """A delete on the source must fail a sketch stream loudly (no
    inverse on semigroup state), exactly where sync_from_changes
    refuses a rewrite."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import StreamingQueryException

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import (
        IncrementalDistinctSync,
    )

    fmt = _fmt(spark, str(tmp_path), "manifest", stats_cols=("k",))
    fmt.write("raw.e", _rows(spark, [(1, "u1", 1.0), (2, "u2", 2.0)]),
              "overwrite")
    dist = IncrementalDistinctSync(
        spark, str(tmp_path), "agg.d", group_cols=("val",),
        distinct_col="k", table_format=fmt,
    )
    dist.sync_from_changes(fmt, "raw.e")
    fmt.delete_where("raw.e", "k", 1, 1)
    q = dist.maintain_stream(fmt, "raw.e", str(tmp_path / "ck"))
    with pytest.raises((StreamingQueryException, Py4JJavaError)) as ei:
        q.awaitTermination(120)
        raise AssertionError("stream absorbed a retraction silently")
    assert "cannot retract" in str(ei.value)

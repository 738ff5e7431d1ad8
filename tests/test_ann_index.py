"""Maintained IVF index (VERDICT r9 task 5): centroids stored in the
warehouse, membership maintained batch-incrementally from the change
feed — query cost probe-bounded, maintenance cost batch-bounded, and
the ONE O(corpus) verb (retrain) explicit.

Pins: index-served top-k == recompute-served top-k against the same
frozen codebook on the synced corpus (the maintained-index correctness
invariant), exactly-once syncs via the manifest txn watermarks, recall
floor after several incremental batches, and the realtime-tail union.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import iot_elt_airflow_mongo_timescaledb_spark.operators.similarity as S
from iot_elt_airflow_mongo_timescaledb_spark.plans.ann_index import (
    IncrementalANNSync,
)
from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
    CatalogManifestFormat,
    ManifestFormat,
)


@pytest.fixture(scope="module")
def clustered(spark):
    """10 tight clusters x 30 points, dim 32 (deterministic seed)."""
    rng = random.Random(7)
    dim, n_clusters, per = 32, 10, 30
    rows = []
    for cl in range(n_clusters):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        for j in range(per):
            vec = [c + rng.gauss(0, 0.05) for c in center]
            rows.append((cl * per + j, [float(x) for x in vec], cl))
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: int"
    ).cache()


def _rows(df):
    return {
        (r["query_id"], r["neighbor_id"], r["score"], r["rk"])
        for r in df.collect()
    }


def _split(clustered):
    """Train on vec_id % 3 == 0, sync the rest in two batches — every
    cluster contributes to all three slices."""
    train = clustered.filter(F.col("vec_id") % 3 == 0)
    b1 = clustered.filter(F.col("vec_id") % 3 == 1)
    b2 = clustered.filter(F.col("vec_id") % 3 == 2)
    return train, b1, b2


def test_index_served_equals_recompute_served(spark, tmp_path, clustered):
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann")
    train, b1, b2 = _split(clustered)
    n = idx.train(train)
    assert n == 10
    assert idx.sync(b1) and idx.sync(b2)
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    served = idx.topk(queries, k=3, n_probe=2)
    recomputed = idx.recompute_topk(clustered, queries, k=3, n_probe=2)
    assert _rows(served) == _rows(recomputed)
    assert served.count() == queries.count() * 3


def test_sync_exactly_once_on_manifest_format(spark, tmp_path, clustered):
    fmt = ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    idx = IncrementalANNSync(
        spark, str(tmp_path), "agg.ann", table_format=fmt
    )
    train, b1, _ = _split(clustered)
    idx.train(train)
    base = idx.wh.read(idx.assign_table).count()
    assert idx.sync(b1, batch_id=5) is True
    n1 = idx.wh.read(idx.assign_table).count()
    assert n1 == base + b1.count()
    # a foreachBatch replay of the same batch id no-ops
    assert idx.sync(b1, batch_id=5) is False
    assert idx.wh.read(idx.assign_table).count() == n1


def test_sync_from_changes_is_incremental_and_idempotent(
    spark, tmp_path, clustered
):
    fmt = ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    idx = IncrementalANNSync(
        spark, str(tmp_path), "agg.ann", table_format=fmt
    )
    train, b1, b2 = _split(clustered)
    idx.train(train)
    # the source table the index follows
    fmt.write("raw.vecs", b1, "overwrite")
    assert idx.sync_from_changes(fmt, "raw.vecs") is True  # bootstrap
    assert idx.sync_from_changes(fmt, "raw.vecs") is False  # nothing new
    fmt.write("raw.vecs", b2, "append")
    assert idx.sync_from_changes(fmt, "raw.vecs") is True  # the delta only
    assert idx.sync_from_changes(fmt, "raw.vecs") is False
    # membership is complete and identical to the recompute path
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    served = idx.topk(queries, k=3, n_probe=2)
    recomputed = idx.recompute_topk(clustered, queries, k=3, n_probe=2)
    assert _rows(served) == _rows(recomputed)


def _recall(truth_df, approx_df) -> float:
    truth: dict = {}
    for r in truth_df.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx: dict = {}
    for r in approx_df.collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hit = sum(len(truth[q] & approx.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    return hit / total


def test_recall_floor_after_incremental_batches(spark, tmp_path, clustered):
    """After train + two incremental batches, the INDEX's own loss
    (probe misses) must be ~zero on planted clustered data: recall@3
    vs the exact brute force over the SAME int8 tier
    (quantized_cosine_topk) >= 0.95 at single probe.  The tier's own
    quantization reordering vs float ground truth is bounded
    separately (tests/test_quantization.py); against float truth the
    composed floor here is 0.8 (int8 noise reorders near-ties inside
    tight clusters — measured 0.84)."""
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann")
    train, b1, b2 = _split(clustered)
    idx.train(train)
    idx.sync(b1)
    idx.sync(b2)
    queries = clustered.filter(F.col("vec_id") % 10 == 0)
    served = idx.topk(queries, k=3, n_probe=1)
    q_truth = S.quantized_cosine_topk(clustered, queries, k=3)
    assert _recall(q_truth, served) >= 0.95
    f_truth = S.cosine_topk(clustered, queries, k=3)
    assert _recall(f_truth, served) >= 0.8


def test_topk_realtime_serves_unindexed_tail(spark, tmp_path, clustered):
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann")
    train, b1, b2 = _split(clustered)
    idx.train(train)
    idx.sync(b1)
    # b2 is the unindexed tail: its vectors must still be reachable
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    out = idx.topk_realtime(queries, b2, k=3, n_probe=2)
    tail_ids = {r["vec_id"] for r in b2.collect()}
    served_ids = {r["neighbor_id"] for r in out.collect()}
    assert served_ids & tail_ids  # tight clusters: tail members rank
    # and the union equals recompute over the full corpus membership
    recomputed = idx.recompute_topk(clustered, queries, k=3, n_probe=2)
    # realtime scores tail vectors brute-force (no probe gate), so it
    # can only see MORE candidates than the index path — every indexed
    # result it returns must carry the same score
    rec = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in recomputed.collect()
    }
    for r in out.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in rec:
            assert rec[key] == r["score"]


def test_retrain_recenteres_and_keeps_equivalence(spark, tmp_path, clustered):
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann")
    train, b1, b2 = _split(clustered)
    idx.train(train)
    idx.sync(b1)
    idx.sync(b2)
    n = idx.retrain()
    assert 1 <= n <= 10
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    served = idx.topk(queries, k=3, n_probe=2)
    recomputed = idx.recompute_topk(clustered, queries, k=3, n_probe=2)
    assert _rows(served) == _rows(recomputed)


def test_retrain_preserves_sync_cursor(spark, tmp_path, clustered):
    """The sync cursor survives a retrain: the assignments replace
    resets the txn watermarks by contract, so retrain re-records the
    applied batch id — otherwise the next sync_from_changes would
    bootstrap a FULL re-read and duplicate every indexed vector."""
    fmt = ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    train, b1, b2 = _split(clustered)
    idx.train(train)
    fmt.write("raw.vecs", b1, "overwrite")
    assert idx.sync_from_changes(fmt, "raw.vecs") is True
    n_before = idx.wh.read(idx.assign_table).filter(
        F.col("vec_id").isNotNull()
    ).count()
    idx.retrain()
    # nothing new in the source: the retrained index must NOT re-read
    assert idx.sync_from_changes(fmt, "raw.vecs") is False
    fmt.write("raw.vecs", b2, "append")
    assert idx.sync_from_changes(fmt, "raw.vecs") is True
    got = idx.wh.read(idx.assign_table).filter(F.col("vec_id").isNotNull())
    assert got.count() == n_before + b2.count()
    # no vector indexed twice
    assert got.select("vec_id").distinct().count() == got.count()


def test_topk_auto_serves_unsynced_tail(spark, tmp_path, clustered):
    """topk_auto derives the realtime tail from the source's change
    feed since the recorded cursor — results equal the recompute over
    the FULL corpus even before the sync catches up."""
    fmt = ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    train, b1, b2 = _split(clustered)
    idx.train(train)
    fmt.write("raw.vecs", b1, "overwrite")
    assert idx.sync_from_changes(fmt, "raw.vecs") is True
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    # cursor current: topk_auto == topk
    assert _rows(idx.topk_auto(queries, fmt, "raw.vecs", k=3, n_probe=2)) == (
        _rows(idx.topk(queries, k=3, n_probe=2))
    )
    # source moved past the cursor: the unsynced tail must be served
    fmt.write("raw.vecs", b2, "append")
    out = idx.topk_auto(queries, fmt, "raw.vecs", k=3, n_probe=2)
    tail_ids = {r["vec_id"] for r in b2.collect()}
    assert {r["neighbor_id"] for r in out.collect()} & tail_ids
    # and syncing then converges the plain index read to the same top-k
    idx.sync_from_changes(fmt, "raw.vecs")
    assert _rows(out) == _rows(idx.topk(queries, k=3, n_probe=2))


def test_topk_auto_requires_a_cursor(spark, tmp_path, clustered):
    fmt = ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    train, b1, _ = _split(clustered)
    idx.train(train)
    fmt.write("raw.vecs", b1, "overwrite")
    with pytest.raises(ValueError, match="cursor anchors the realtime"):
        idx.topk_auto(clustered.limit(1), fmt, "raw.vecs")


def test_streaming_ann_sync_exactly_once(spark, tmp_path, clustered):
    """The streaming twin: micro-batches of vectors index through
    foreachBatch with a dedicated watermark app id; a re-run drains
    nothing new, and the indexed top-k equals the batch recompute."""
    from iot_elt_airflow_mongo_timescaledb_spark.streaming.pipeline_stream import (
        StreamingANNSync,
    )

    fmt = ManifestFormat(spark, str(tmp_path / "wh"), auto_compact_dirs=None)
    src = str(tmp_path / "vecs")
    train, b1, b2 = _split(clustered)
    b1.write.mode("overwrite").parquet(src)
    s = StreamingANNSync(
        spark, str(tmp_path / "wh"), src, "agg.ann", table_format=fmt
    )
    s.idx.train(train)
    s.run_once()
    n1 = s.idx.wh.read(s.idx.assign_table).count()
    s.run_once()  # checkpointed: nothing new, nothing duplicated
    assert s.idx.wh.read(s.idx.assign_table).count() == n1
    b2.write.mode("append").parquet(src)
    s.run_once()
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    served = s.topk(queries, k=3, n_probe=2)
    recomputed = s.idx.recompute_topk(clustered, queries, k=3, n_probe=2)
    assert _rows(served) == _rows(recomputed)


# ---------------------------------------------------------------------------
# Retraction-aware maintenance (VERDICT r10 task 1): the index follows a
# source that UPSERTS — deletes/updates retract stale assignments via the
# stats-bounded merge, postimages re-assign against the frozen codebook.
# ---------------------------------------------------------------------------


def _range_split(clustered):
    """Contiguous vec_id ranges (unlike _split's interleave) so each
    sync lands a dir with a NARROW key range — the shape the
    stats-bounded assignments merge prunes on."""
    train = clustered.filter(F.col("vec_id") < 100)
    b1 = clustered.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    b2 = clustered.filter(F.col("vec_id") >= 200)
    return train, b1, b2


def _dml_mix(clustered):
    """One merge batch exercising all three CDF classes: ids in
    [250, 260) update (embedding reversed — a real vector change that
    quantizes deterministically), [260, 270) delete, and [290, 300)
    insert (withheld from the initial corpus)."""
    updates = clustered.filter(
        (F.col("vec_id") >= 250) & (F.col("vec_id") < 260)
    ).withColumn("embedding", F.reverse("embedding"))
    inserts = clustered.filter(F.col("vec_id") >= 290)
    batch = updates.unionByName(inserts)
    keys = clustered.filter(
        (F.col("vec_id") >= 250) & (F.col("vec_id") < 270)
    ).select("vec_id").unionByName(inserts.select("vec_id"))
    return batch, keys


@pytest.mark.parametrize("kind", ["manifest", "catalog"])
def test_sync_from_cdf_absorbs_upserts(spark, tmp_path, clustered, kind):
    """The r10 weak closed: a source MERGE with updates + deletes +
    inserts maintains through sync_from_cdf — index-served top-k
    equals the recompute over the FINAL corpus, exactly-once.  On the
    catalog format the retraction merge and the watermark append land
    under ONE transaction flip (no reader window)."""
    cls = {"manifest": ManifestFormat, "catalog": CatalogManifestFormat}[kind]
    fmt = cls(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("vec_id",),
        cdf=True,
    )
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    initial = clustered.filter(F.col("vec_id") < 290)
    fmt.write("raw.vecs", initial, "overwrite")
    idx.train_from_table(fmt, "raw.vecs")
    # cursor anchored at train time: nothing to sync yet
    assert idx.sync_from_cdf(fmt, "raw.vecs") is False
    batch, keys = _dml_mix(clustered)
    fmt.merge("raw.vecs", batch, "vec_id", delete_keys=keys)
    assert idx.sync_from_cdf(fmt, "raw.vecs") is True
    assert idx.sync_from_cdf(fmt, "raw.vecs") is False  # replay no-ops
    final = fmt.read("raw.vecs")
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    served = idx.topk(queries, k=3, n_probe=2)
    recomputed = idx.recompute_topk(final, queries, k=3, n_probe=2)
    assert _rows(served) == _rows(recomputed)
    # membership is exactly the final corpus: deleted ids gone, updated
    # ids present once (old assignment retracted), inserts present
    a = idx.wh.read(idx.assign_table)
    got = {r["vec_id"] for r in a.select("vec_id").collect()}
    want = {r["vec_id"] for r in final.select("vec_id").collect()}
    assert got == want
    assert a.count() == a.select("vec_id").distinct().count()


def test_sync_from_cdf_cost_bounded_by_changed_rows(spark, tmp_path, clustered):
    """O(changed rows), never the corpus: assignment dirs whose vec_id
    stats exclude every changed key carry BY IDENTITY through the
    retraction merge — only the dir the changed range lives in
    rewrites."""
    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("vec_id",),
        cdf=True,
    )
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    train, b1, b2 = _range_split(clustered)
    fmt.write("raw.vecs", train, "overwrite")
    idx.train_from_table(fmt, "raw.vecs")
    fmt.write("raw.vecs", b1, "append")
    assert idx.sync_from_cdf(fmt, "raw.vecs") is True
    fmt.write("raw.vecs", b2, "append")
    assert idx.sync_from_cdf(fmt, "raw.vecs") is True
    dirs_before = {
        (e["dir"], e.get("rel")) for e in fmt._manifest(idx.assign_table)["entries"]
    }
    assert len(dirs_before) == 3  # train + two range-disjoint syncs
    # narrow DML: only ids in [250, 270) change — inside b2's range
    upd = clustered.filter(
        (F.col("vec_id") >= 250) & (F.col("vec_id") < 260)
    ).withColumn("embedding", F.reverse("embedding"))
    keys = clustered.filter(
        (F.col("vec_id") >= 250) & (F.col("vec_id") < 270)
    ).select("vec_id")
    fmt.merge("raw.vecs", upd, "vec_id", delete_keys=keys)
    assert idx.sync_from_cdf(fmt, "raw.vecs") is True
    dirs_after = {
        (e["dir"], e.get("rel")) for e in fmt._manifest(idx.assign_table)["entries"]
    }
    # the train and b1 dirs (vec_id < 200: stats prove no changed key)
    # carried by identity; only b2's dir rewrote, plus the fresh append
    assert len(dirs_before & dirs_after) == 2
    # and correctness still holds on the final corpus
    final = fmt.read("raw.vecs")
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    assert _rows(idx.topk(queries, k=3, n_probe=2)) == _rows(
        idx.recompute_topk(final, queries, k=3, n_probe=2)
    )


def test_topk_auto_current_across_dml_tail(spark, tmp_path, clustered):
    """topk_auto over an UNSYNCED DML tail: the append-only feed
    refuses, the CDF fallback masks stale assignments and brute-forces
    the postimages — results equal the recompute over the final corpus
    (n_probe covers all clusters so the probe gate is vacuous and the
    equality is exact, not recall-bounded)."""
    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("vec_id",),
        cdf=True,
    )
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    initial = clustered.filter(F.col("vec_id") < 290)
    fmt.write("raw.vecs", initial, "overwrite")
    idx.train_from_table(fmt, "raw.vecs")
    batch, keys = _dml_mix(clustered)
    fmt.merge("raw.vecs", batch, "vec_id", delete_keys=keys)
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    out = idx.topk_auto(queries, fmt, "raw.vecs", k=3, n_probe=10)
    final = fmt.read("raw.vecs")
    assert _rows(out) == _rows(
        idx.recompute_topk(final, queries, k=3, n_probe=10)
    )
    # syncing then converges the plain index read to the same top-k
    assert idx.sync_from_cdf(fmt, "raw.vecs") is True
    assert _rows(out) == _rows(idx.topk(queries, k=3, n_probe=10))


def test_realtime_tail_size_gate(spark, tmp_path, clustered):
    """A tail above broadcast_tail_rows switches from the broadcast
    cross join to the salted shuffle equi-join (VERDICT r10 task 4) —
    same results, no tail broadcast in the plan."""
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann")
    train, b1, b2 = _split(clustered)
    idx.train(train)
    idx.sync(b1)
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    out_b = idx.topk_realtime(queries, b2, k=3, n_probe=2)
    out_s = idx.topk_realtime(
        queries, b2, k=3, n_probe=2, broadcast_tail_rows=10
    )
    assert _rows(out_b) == _rows(out_s)
    # the broadcast plan carries TWO nested-loop joins (centroid probe
    # + tail); the salted plan keeps only the centroid probe
    plan_b = out_b._jdf.queryExecution().executedPlan().toString()
    plan_s = out_s._jdf.queryExecution().executedPlan().toString()
    assert plan_s.count("BroadcastNestedLoopJoin") < plan_b.count(
        "BroadcastNestedLoopJoin"
    )


def test_sync_from_cdf_mor_zero_rewrite_same_results(spark, tmp_path, clustered):
    """mor=True retracts through the merge-on-read form: NO assignment
    dir rewrites (all carried + the fresh append), results identical
    to the COW sync, and materialize_deletes clears the debt without
    changing served top-k."""
    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("vec_id",),
        cdf=True,
    )
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    initial = clustered.filter(F.col("vec_id") < 290)
    fmt.write("raw.vecs", initial, "overwrite")
    idx.train_from_table(fmt, "raw.vecs")
    batch, keys = _dml_mix(clustered)
    fmt.merge("raw.vecs", batch, "vec_id", delete_keys=keys)
    before = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest(idx.assign_table)["entries"]
    }
    assert idx.sync_from_cdf(fmt, "raw.vecs", mor=True) is True
    m = fmt._manifest(idx.assign_table)
    after = {(e["dir"], e.get("rel")) for e in m["entries"]}
    assert before <= after and len(after - before) == 1  # append only
    assert any("pos" in d for d in (m.get("dv") or []))
    final = fmt.read("raw.vecs")
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    served = idx.topk(queries, k=3, n_probe=2)
    want = _rows(idx.recompute_topk(final, queries, k=3, n_probe=2))
    assert _rows(served) == want
    # debt clears without changing results
    assert fmt.materialize_deletes(idx.assign_table) >= 1
    assert not (fmt._manifest(idx.assign_table).get("dv") or [])
    assert _rows(idx.topk(queries, k=3, n_probe=2)) == want


def test_sync_from_cdf_crash_between_steps_converges(spark, tmp_path, clustered):
    """The TWO-STEP (drift-armed) path's crash window: injected AFTER
    the retraction merge commits but BEFORE the watermark append — the
    cursor has not advanced, so the retried sync re-reads the
    identical delta, the delete-merge no-ops (keys already gone), and
    the append lands exactly once — membership converges with no
    duplicates and no lost vectors.  (The default path is the r14
    FUSED single commit with no window between retraction and cursor —
    pinned separately below.)"""
    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("vec_id",),
        cdf=True,
    )
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    initial = clustered.filter(F.col("vec_id") < 290)
    fmt.write("raw.vecs", initial, "overwrite")
    idx.train_from_table(fmt, "raw.vecs")
    batch, keys = _dml_mix(clustered)
    fmt.merge("raw.vecs", batch, "vec_id", delete_keys=keys)

    real_wsb = type(fmt).write_streaming_batch
    calls = {"n": 0}

    def dying_wsb(self, *a, **kw):
        calls["n"] += 1
        raise RuntimeError("injected crash before the watermark append")

    type(fmt).write_streaming_batch = dying_wsb
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            idx.sync_from_cdf(fmt, "raw.vecs", drift_band=0.1)
    finally:
        type(fmt).write_streaming_batch = real_wsb
    assert calls["n"] == 1
    # the retraction merge may have committed; the cursor did not move
    assert idx._applied_batch_id() is not None
    # retry converges (drift-armed again: same path)
    assert idx.sync_from_cdf(fmt, "raw.vecs", drift_band=0.1) is True
    assert idx.sync_from_cdf(fmt, "raw.vecs", drift_band=0.1) is False
    final = fmt.read("raw.vecs")
    a = idx.wh.read(idx.assign_table)
    got = {r["vec_id"] for r in a.select("vec_id").collect()}
    want = {r["vec_id"] for r in final.select("vec_id").collect()}
    assert got == want
    assert a.count() == len(got)  # no duplicates
    queries = clustered.filter(F.col("vec_id") % 50 == 0)
    assert _rows(idx.topk(queries, k=3, n_probe=2)) == _rows(
        idx.recompute_topk(final, queries, k=3, n_probe=2)
    )


def test_sync_from_cdf_fused_path_is_atomic(spark, tmp_path, clustered):
    """The r14 default path: retraction + re-index + cursor are ONE
    merge commit.  A crash anywhere before that commit leaves the
    table AND the cursor at the pre-sync state (no partial
    retraction), and the retry converges exactly-once."""
    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("vec_id",),
        cdf=True,
    )
    idx = IncrementalANNSync(spark, str(tmp_path), "agg.ann", table_format=fmt)
    initial = clustered.filter(F.col("vec_id") < 290)
    fmt.write("raw.vecs", initial, "overwrite")
    idx.train_from_table(fmt, "raw.vecs")
    cursor0 = idx._applied_batch_id()
    pre = sorted(
        r["vec_id"]
        for r in idx.wh.read(idx.assign_table).select("vec_id").collect()
    )
    batch, keys = _dml_mix(clustered)
    fmt.merge("raw.vecs", batch, "vec_id", delete_keys=keys)

    real = type(fmt)._try_write_manifest
    state = {"armed": True}

    def dying(self, name, *a, **kw):
        if state["armed"] and name == idx.assign_table:
            state["armed"] = False
            raise RuntimeError("injected crash at the commit point")
        return real(self, name, *a, **kw)

    type(fmt)._try_write_manifest = dying
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            idx.sync_from_cdf(fmt, "raw.vecs")
    finally:
        type(fmt)._try_write_manifest = real
    # NOTHING moved: no partial retraction, cursor unchanged
    assert idx._applied_batch_id() == cursor0
    a0 = sorted(
        r["vec_id"]
        for r in idx.wh.read(idx.assign_table).select("vec_id").collect()
    )
    assert a0 == pre
    # retry converges exactly-once
    assert idx.sync_from_cdf(fmt, "raw.vecs") is True
    assert idx.sync_from_cdf(fmt, "raw.vecs") is False
    final = fmt.read("raw.vecs")
    a = idx.wh.read(idx.assign_table)
    got = {r["vec_id"] for r in a.select("vec_id").collect()}
    assert got == {r["vec_id"] for r in final.select("vec_id").collect()}
    assert a.count() == len(got)

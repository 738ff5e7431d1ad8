"""Column mapping — RENAME / DROP without data rewrite (round 13,
VERDICT task 4; Delta's column mapping / Iceberg's field-id rename,
spelled as an alias registry in the stored schema's field metadata).

Pins: metadata-only rename (old + new physical files, ONE logical
schema, values exact); append under the new name; refused collisions
(live name, retired alias, dropped name); stats/bloom pruning staying
bounded across a rename (the alias-AND keep test); merge on a renamed
key; safe DROP excluding old physical data; time travel serving each
version's own names; the reader-feature guard.
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
    kw.setdefault("auto_compact_dirs", None)
    kw.setdefault("stats_cols", ("k",))
    return cls(spark, root, **kw)


def _rows(spark, *triples):
    return spark.createDataFrame(
        [Row(k=int(k), v=int(v), tag=str(t)) for k, v, t in triples]
    )


@pytest.mark.parametrize("kind", ["manifest", "catalog"])
def test_rename_no_rewrite_values_exact(spark, tmp_path, kind):
    fmt = _fmt(spark, str(tmp_path), kind)
    fmt.write("s.t", _rows(spark, (1, 10, "a"), (2, 20, "b")), "overwrite")
    dirs_before = {e["dir"] for e in fmt._manifest("s.t")["entries"]}
    fmt.rename_column("s.t", "v", "value")
    m = fmt._manifest("s.t")
    # metadata-only: the data dir is untouched
    assert {e["dir"] for e in m["entries"]} == dirs_before
    assert "column-mapping" in (m.get("reader_features") or [])
    # append under the NEW name: old + new physical files, one logical
    # schema, values exact
    fmt.write("s.t", _rows(spark, (3, 30, "c")).withColumnRenamed(
        "v", "value"
    ), "append")
    got = sorted(
        (r["k"], r["value"], r["tag"]) for r in fmt.read("s.t").collect()
    )
    assert got == [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]
    assert "v" not in fmt.read("s.t").columns
    # chained rename keeps every historical name resolving
    fmt.rename_column("s.t", "value", "amount")
    got = sorted((r["k"], r["amount"]) for r in fmt.read("s.t").collect())
    assert got == [(1, 10), (2, 20), (3, 30)]
    fields = {
        f["name"]: (f.get("metadata") or {}).get("aliases")
        for f in fmt._manifest("s.t")["schema"]["fields"]
    }
    assert sorted(fields["amount"]) == ["v", "value"]


def test_rename_collisions_refused(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10, "a")), "overwrite")
    fmt.rename_column("s.t", "v", "value")
    # live-name collision
    with pytest.raises(ValueError, match="collides"):
        fmt.rename_column("s.t", "tag", "value")
    # retired-alias collision: old files still carry physical `v`
    with pytest.raises(ValueError, match="collides"):
        fmt.rename_column("s.t", "tag", "v")
    # appending a frame that WRITES the retired name refuses
    with pytest.raises(TypeError, match="retired"):
        fmt.write("s.t", _rows(spark, (9, 90, "z")), "append")
    # unknown column
    with pytest.raises(ValueError, match="no column"):
        fmt.rename_column("s.t", "nope", "x")


def test_rename_guard_rails(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    df = spark.createDataFrame(
        [Row(day="d1", k=1, v=10), Row(day="d2", k=2, v=20)]
    )
    fmt.write("s.t", df, "overwrite", partition_by=("day",))
    with pytest.raises(ValueError, match="partition column"):
        fmt.rename_column("s.t", "day", "dt")
    fmt.add_constraint("s.t", "v_pos", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        fmt.rename_column("s.t", "v", "val")
    fmt.drop_constraint("s.t", "v_pos")
    # a live merge-on-read mask names (file, row-index) pairs, no
    # column: rename and drop go through and the masked row stays
    # deleted
    fmt.delete_where_mor("s.t", "v", 20, 20)
    fmt.rename_column("s.t", "v", "val")
    assert sorted(r["val"] for r in fmt.read("s.t").collect()) == [10]
    fmt.drop_column("s.t", "val")
    out = fmt.read("s.t")
    assert "val" not in out.columns
    assert [(r["day"], r["k"]) for r in out.collect()] == [("d1", 1)]


def test_pruning_stays_bounded_across_rename(spark, tmp_path):
    """Entries written BEFORE the rename recorded stats under the old
    name; a stats-bounded delete on the logical name must still prune
    them (alias-AND keep test), not degrade to a full-candidate scan."""
    fmt = _fmt(spark, str(tmp_path))
    for i in range(4):
        fmt.write(
            "s.t",
            _rows(spark, *[(i * 10 + j, j, "x") for j in range(10)]),
            "append" if i else "overwrite",
        )
    fmt.rename_column("s.t", "k", "key")
    kept, m = fmt.prune_entries("s.t", "key", 35, 37)
    assert len(kept) == 1, [e.get("stats") for e in m["entries"]]
    # and the bounded COW delete rewrites exactly that entry
    before = {e["dir"] for e in m["entries"]}
    assert fmt.delete_where("s.t", "key", 35, 37) == 3
    after = {e["dir"] for e in fmt._manifest("s.t")["entries"]}
    assert len(before & after) == 3  # 3 of 4 dirs untouched by identity


def test_stats_still_collected_after_renaming_stats_col(spark, tmp_path):
    """stats_cols names the column as configured; after renaming THAT
    column, new writes must record stats under the live name (the one
    the file carries) — without the alias->live translation every new
    entry would silently record none and pruning would degrade."""
    fmt = _fmt(spark, str(tmp_path))  # stats_cols=("k",)
    fmt.write("s.t", _rows(spark, (1, 10, "a")), "overwrite")
    fmt.rename_column("s.t", "k", "key")
    fmt.write(
        "s.t",
        spark.createDataFrame([Row(key=500, v=50, tag="z")]),
        "append",
    )
    entries = fmt._manifest("s.t")["entries"]
    new = [e for e in entries if (e.get("stats") or {}).get("key")]
    old = [e for e in entries if (e.get("stats") or {}).get("k")]
    assert len(new) == 1 and len(old) == 1
    assert new[0]["stats"]["key"][:2] == [500, 500]
    # and the alias-AND prune uses both: a narrow range hits one entry
    kept, _ = fmt.prune_entries("s.t", "key", 400, 600)
    assert len(kept) == 1


def test_merge_on_renamed_key(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10, "a"), (2, 20, "b")), "overwrite")
    fmt.rename_column("s.t", "k", "key")
    batch = spark.createDataFrame([Row(key=2, v=22, tag="b2")])
    fmt.merge("s.t", batch, "key")
    got = sorted((r["key"], r["v"]) for r in fmt.read("s.t").collect())
    assert got == [(1, 10), (2, 22)]


def test_drop_column_no_rewrite(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10, "a"), (2, 20, "b")), "overwrite")
    dirs_before = {e["dir"] for e in fmt._manifest("s.t")["entries"]}
    fmt.drop_column("s.t", "tag")
    assert {e["dir"] for e in fmt._manifest("s.t")["entries"]} == dirs_before
    assert "tag" not in fmt.read("s.t").columns
    got = sorted((r["k"], r["v"]) for r in fmt.read("s.t").collect())
    assert got == [(1, 10), (2, 20)]
    # re-adding the dropped name refuses — old files still carry the
    # physical column and would resurrect its values
    with pytest.raises(TypeError, match="retired"):
        fmt.write("s.t", _rows(spark, (3, 30, "zzz")), "append")
    # dropping everything refuses at the last live column
    fmt.drop_column("s.t", "v")
    with pytest.raises(ValueError, match="last live column"):
        fmt.drop_column("s.t", "k")


def test_rename_then_drop_retires_whole_lineage(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10, "a")), "overwrite")
    fmt.rename_column("s.t", "v", "value")
    fmt.drop_column("s.t", "value")
    for name in ("v", "value"):
        with pytest.raises(TypeError, match="retired"):
            fmt.write(
                "s.t",
                spark.createDataFrame([Row(k=9, tag="z")]).withColumn(
                    name, F.lit(1)
                ),
                "append",
            )


def test_restore_across_rename_rolls_schema_back(spark, tmp_path):
    """RESTORE to a pre-rename version re-commits that version's
    schema — the old name serves again, the alias registry rolls back
    with it (schema-in-the-log carries the mapping, so restore needs
    no special casing)."""
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10, "a")), "overwrite")
    v1 = fmt._manifest("s.t")["version"]
    fmt.rename_column("s.t", "v", "value")
    fmt.write(
        "s.t",
        _rows(spark, (2, 20, "b")).withColumnRenamed("v", "value"),
        "append",
    )
    fmt.restore("s.t", v1)
    got = fmt.read("s.t")
    assert "v" in got.columns and "value" not in got.columns
    assert [(r["k"], r["v"]) for r in got.collect()] == [(1, 10)]
    # and the retired name is free again after the restore: the head
    # schema carries no aliases, so a fresh rename may reuse it
    fmt.rename_column("s.t", "v", "value")
    assert sorted(r["value"] for r in fmt.read("s.t").collect()) == [10]


def test_time_travel_serves_each_versions_names(spark, tmp_path):
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10, "a")), "overwrite")
    v1 = fmt._manifest("s.t")["version"]
    fmt.rename_column("s.t", "v", "value")
    old = fmt.read_version("s.t", v1)
    assert "v" in old.columns and "value" not in old.columns
    new = fmt.read("s.t")
    assert "value" in new.columns and "v" not in new.columns


def test_reader_feature_guard(spark, tmp_path):
    """A build without column-mapping support must refuse the table,
    not serve the renamed column's old files as NULL-padded extras."""
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10, "a")), "overwrite")
    fmt.rename_column("s.t", "v", "value")
    legacy = _fmt(spark, str(tmp_path))
    legacy.READER_FEATURES = frozenset({"dv-pos"})
    with pytest.raises(RuntimeError, match="column-mapping"):
        legacy.read("s.t")


def test_cluster_on_compact_follows_renamed_key(spark, tmp_path):
    """cluster_by names the merge key at configuration time; after
    renaming it, threshold compaction must keep landing the absorbed
    tail range-clustered on the LIVE name (per-file stats), not
    silently degrade to one opaque dir."""
    fmt = _fmt(
        spark, str(tmp_path),
        auto_compact_dirs=3, cluster_by="k",
    )
    fmt.write("s.t", _rows(spark, (0, 0, "x"), (1, 1, "x")), "overwrite")
    fmt.rename_column("s.t", "k", "key")
    for i in range(2, 8):
        fmt.write(
            "s.t",
            spark.createDataFrame([Row(key=i * 10, v=i, tag="x")]),
            "append",
        )
    assert fmt.maybe_compact("s.t") > 0
    entries = fmt._manifest("s.t")["entries"]
    clustered = [
        e
        for e in entries
        if e.get("sources") and (e.get("stats") or {}).get("key")
    ]
    assert clustered, [
        (e.get("dir"), e.get("rel"), e.get("stats")) for e in entries
    ]


def test_cdf_feed_consistent_across_rename(spark, tmp_path):
    """A change feed spanning a rename must serve ONE logical schema
    (the head's) — without the per-step mapping the pre-rename insert
    steps would union the old-name column NULL-padded beside its
    new-name twin and a mirror replay would silently split the
    column."""
    fmt = _fmt(spark, str(tmp_path), cdf=True)
    fmt.write("s.t", _rows(spark, (1, 10, "a"), (2, 20, "b")), "overwrite")
    fmt.rename_column("s.t", "v", "value")
    fmt.write(
        "s.t",
        _rows(spark, (3, 30, "c")).withColumnRenamed("v", "value"),
        "append",
    )
    fmt.delete_where("s.t", "k", 2, 2)
    feed = fmt.read_changes_cdf("s.t", since_version=0)
    assert "value" in feed.columns and "v" not in feed.columns
    rows = feed.collect()
    # mirror replay: apply inserts then deletes -> equals the table
    state = {}
    for r in sorted(rows, key=lambda r: r["_commit_version"]):
        if r["_change_type"] == "insert":
            state[r["k"]] = r["value"]
        elif r["_change_type"] == "delete":
            state.pop(r["k"], None)
    got = sorted((r["k"], r["value"]) for r in fmt.read("s.t").collect())
    assert sorted(state.items()) == got == [(1, 10), (3, 30)]


def test_cow_rewrite_migrates_files_to_current_name(spark, tmp_path):
    """COW verbs re-land the LOGICAL frame: a post-rename update
    rewrites its candidates under the current name (the physical
    migration rides maintenance, never a dedicated rewrite)."""
    fmt = _fmt(spark, str(tmp_path))
    fmt.write("s.t", _rows(spark, (1, 10, "a"), (2, 20, "b")), "overwrite")
    fmt.rename_column("s.t", "v", "value")
    assert fmt.update_where("s.t", "k", {"value": "value + 1"}, 1, 2) == 2
    m = fmt._manifest("s.t")
    raw = spark.read.parquet(
        *[fmt._entry_path("s.t", e) for e in m["entries"]]
    )
    assert "value" in raw.columns and "v" not in raw.columns
    got = sorted((r["k"], r["value"]) for r in fmt.read("s.t").collect())
    assert got == [(1, 11), (2, 21)]


def test_alias_translation_cached_per_table(spark, tmp_path, monkeypatch):
    """ADVICE r13 (low): a table that simply never carries one
    configured stats column must not pay a manifest read on every
    append — the alias map caches per table; rename invalidates and the
    post-rename translation still lands stats under the live name."""
    fmt = _fmt(spark, str(tmp_path), stats_cols=("k", "never_here"))
    df = spark.createDataFrame([(1, 1, "a")], "k long, v long, tag string")
    fmt.write("s.t", df, "overwrite")

    calls = {"n": 0}
    orig = fmt._manifest

    def counting(name, *a, **kw):
        calls["n"] += 1
        return orig(name, *a, **kw)

    monkeypatch.setattr(fmt, "_manifest", counting)
    assert fmt._alias_to_live("s.t", df.columns) is None
    after_first = calls["n"]
    assert after_first == 1
    # second call: served from cache, no manifest read
    assert fmt._alias_to_live("s.t", df.columns) is None
    assert calls["n"] == after_first

    # rename invalidates; the refreshed map translates old -> live
    fmt.rename_column("s.t", "k", "key")
    renamed = ["key", "v", "tag"]
    m = fmt._alias_to_live("s.t", renamed)
    assert m == {"k": "key"}
    # and the refreshed map is itself cached
    n_now = calls["n"]
    assert fmt._alias_to_live("s.t", renamed) == {"k": "key"}
    assert calls["n"] == n_now

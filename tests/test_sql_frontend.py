"""SQL DML/DDL front-end (round 14, VERDICT r13 task 6).

Pins: each canonical statement dispatches to the SAME warehouse verb a
Python caller uses (update_where / delete_where / merge / write /
rename_column / drop_column / constraints), SELECT passes through
Catalyst over committed-snapshot views, INSERT binds positionally
(VALUES col1/col2 names must not silently evolve the schema), and the
REFUSALS are the Python API's refusals verbatim — type change on
append, retired-name reuse, constraint violation, unsupported shapes
loudly named."""

from __future__ import annotations

import pytest

from iot_elt_airflow_mongo_timescaledb_spark.plans.materialize import Warehouse
from iot_elt_airflow_mongo_timescaledb_spark.plans.sql_frontend import (
    SqlFrontend,
    SqlParseError,
)
from iot_elt_airflow_mongo_timescaledb_spark.plans.table_format import (
    CatalogManifestFormat,
    ManifestFormat,
)


@pytest.fixture()
def sq(spark, tmp_path):
    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("k",)
    )
    wh = Warehouse(spark, str(tmp_path), table_format=fmt)
    wh.fmt.write(
        "s.t",
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, val string, x double",
        ),
        "overwrite",
    )
    return SqlFrontend(wh)


def _state(sq, cols="k, val, x"):
    return sorted(tuple(r) for r in sq.sql(f"SELECT {cols} FROM s.t").collect())


def test_select_passthrough_reads_committed_snapshot(sq):
    assert sq.sql("SELECT COUNT(*) AS n FROM s.t").first()["n"] == 3
    # WITH + join against itself through the substitution
    n = sq.sql(
        "WITH a AS (SELECT k FROM s.t) "
        "SELECT COUNT(*) AS n FROM a JOIN s.t USING (k)"
    ).first()["n"]
    assert n == 3


def test_update_between_and_equality(sq):
    assert sq.sql("UPDATE s.t SET val = 'zz' WHERE k BETWEEN 1 AND 2") == 2
    assert sq.sql("UPDATE s.t SET x = x + 1 WHERE k = 3") == 1
    assert _state(sq) == [
        (1, "zz", 10.0),
        (2, "zz", 20.0),
        (3, "c", 31.0),
    ]


def test_delete_in_list_and_range(sq):
    assert sq.sql("DELETE FROM s.t WHERE k IN (1, 3)") == 2
    assert _state(sq) == [(2, "b", 20.0)]


def test_insert_is_positional(sq):
    sq.sql("INSERT INTO s.t SELECT * FROM VALUES (4, 'd', CAST(40.0 AS DOUBLE))")
    assert (4, "d", 40.0) in _state(sq)
    # a VALUES body must not add col1/col2/col3 columns
    assert sq.sql("SELECT * FROM s.t").columns == ["k", "val", "x"]
    # explicit column list reorders
    sq.sql(
        "INSERT INTO s.t (val, k, x) "
        "SELECT 'e', CAST(5 AS LONG), CAST(50.0 AS DOUBLE)"
    )
    assert (5, "e", 50.0) in _state(sq)
    with pytest.raises(SqlParseError, match="positional|takes"):
        sq.sql("INSERT INTO s.t SELECT 1, 'x'")


def test_merge_canonical_upsert(sq):
    sq.sql(
        "MERGE INTO s.t t USING (SELECT CAST(2 AS LONG) AS k, 'upd' AS val,"
        " CAST(99.0 AS DOUBLE) AS x UNION ALL SELECT CAST(9 AS LONG),"
        " 'new', CAST(9.0 AS DOUBLE)) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    st = _state(sq)
    assert (2, "upd", 99.0) in st and (9, "new", 9.0) in st
    assert len([r for r in st if r[0] == 2]) == 1


def test_alter_rename_drop_and_refusal_parity(sq):
    v = sq.sql("ALTER TABLE s.t RENAME COLUMN val TO label")
    assert isinstance(v, int)
    assert _state(sq, "k, label, x")[0] == (1, "a", 10.0)
    # retired-name reuse: the Python verb's ValueError, through SQL
    with pytest.raises(ValueError, match="retired|collides"):
        sq.sql("ALTER TABLE s.t RENAME COLUMN x TO val")
    # type change on append: the Python verb's TypeError, through SQL
    with pytest.raises(TypeError, match="type"):
        sq.sql(
            "INSERT INTO s.t SELECT * FROM VALUES ('no', 'e', "
            "CAST(1.0 AS DOUBLE))"
        )
    sq.sql("ALTER TABLE s.t DROP COLUMN x")
    assert sq.sql("SELECT * FROM s.t").columns == ["k", "label"]


def test_constraints_through_sql(sq):
    sq.sql("ALTER TABLE s.t ADD CONSTRAINT pos CHECK (x > 0)")
    with pytest.raises(Exception, match="pos|constraint"):
        sq.sql(
            "INSERT INTO s.t SELECT * FROM VALUES (8, 'h', "
            "CAST(-1.0 AS DOUBLE))"
        )
    assert sq.sql("ALTER TABLE s.t DROP CONSTRAINT pos") is True
    sq.sql(
        "INSERT INTO s.t SELECT * FROM VALUES (8, 'h', CAST(-1.0 AS DOUBLE))"
    )
    assert (8, "h", -1.0) in _state(sq)


def test_unsupported_shapes_refuse_loudly(sq):
    with pytest.raises(SqlParseError, match="WHERE"):
        sq.sql("DELETE FROM s.t WHERE k != 2")
    with pytest.raises(SqlParseError, match="canonical upsert"):
        sq.sql(
            "MERGE INTO s.t t USING s.t s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(SqlParseError, match="same-named"):
        sq.sql(
            "MERGE INTO s.t t USING s.t s ON t.k = s.other "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    with pytest.raises(SqlParseError, match="unsupported statement"):
        sq.sql("TRUNCATE TABLE s.t")


def test_catalog_format_roundtrip(spark, tmp_path):
    fmt = CatalogManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("k",)
    )
    wh = Warehouse(spark, str(tmp_path), table_format=fmt)
    wh.fmt.write(
        "s.t",
        spark.createDataFrame([(1, "a")], "k long, val string"),
        "overwrite",
    )
    sq = SqlFrontend(wh)
    sq.sql("INSERT INTO s.t SELECT CAST(2 AS LONG), 'b'")
    assert sq.sql("UPDATE s.t SET val = 'hit' WHERE k = 1") == 1
    got = sorted(tuple(r) for r in sq.sql("SELECT k, val FROM s.t").collect())
    assert got == [(1, "hit"), (2, "b")]


def test_widen_column_and_ctas_drop(sq, spark):
    """r14 extensions: safe type widening metadata-only, CTAS, DROP
    TABLE — and the unsafe widening refuses through SQL with the
    lattice refusal."""
    sq.sql("ALTER TABLE s.t DROP COLUMN x")
    sq.sql(
        "CREATE TABLE s.t2 AS SELECT k, CAST(k AS INT) AS small, val "
        "FROM s.t"
    )
    assert sq.sql("SELECT COUNT(*) AS n FROM s.t2").first()["n"] == 3
    v = sq.sql("ALTER TABLE s.t2 ALTER COLUMN small TYPE long")
    assert isinstance(v, int)
    # the widened read serves longs; appending longs is clean
    sq.sql("INSERT INTO s.t2 SELECT CAST(9 AS LONG), CAST(9 AS LONG), 'z'")
    got = sq.sql("SELECT small FROM s.t2")
    assert dict(got.dtypes)["small"] == "bigint"
    assert sorted(r["small"] for r in got.collect()) == [1, 2, 3, 9]
    # narrowing refuses with the Python verb's TypeError
    with pytest.raises(TypeError, match="safe widening"):
        sq.sql("ALTER TABLE s.t2 ALTER COLUMN small TYPE int")
    # CTAS refuses on existing; DROP clears it; IF EXISTS tolerant
    with pytest.raises(ValueError, match="already exists"):
        sq.sql("CREATE TABLE s.t2 AS SELECT 1 AS a")
    assert sq.sql("DROP TABLE s.t2") is True
    with pytest.raises(ValueError, match="no such table"):
        sq.sql("DROP TABLE s.t2")
    assert sq.sql("DROP TABLE IF EXISTS s.t2") is False
    with pytest.raises(Exception):
        sq.sql("SELECT * FROM s.t2").collect()


def test_catalog_drop_table_is_transactional(spark, tmp_path):
    fmt = CatalogManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None
    )
    fmt.write(
        "s.d", spark.createDataFrame([(1,)], "k long"), "overwrite"
    )
    assert fmt.exists("s.d")
    assert fmt.drop_table("s.d") is True
    assert not fmt.exists("s.d")
    assert fmt.drop_table("s.d") is False
    # re-create after drop works (pointer 0 -> fresh v1)
    fmt.write(
        "s.d", spark.createDataFrame([(2,)], "k long"), "overwrite"
    )
    assert [r["k"] for r in fmt.read("s.d").collect()] == [2]


def test_vacuum_and_optimize_through_sql(sq):
    """Maintenance verbs as SQL: OPTIMIZE ZORDER rewrites clustered
    with per-file stats, VACUUM RETAIN reclaims old versions."""
    sq.sql("INSERT INTO s.t SELECT * FROM VALUES (4, 'd', CAST(4.0 AS DOUBLE))")
    n = sq.sql("OPTIMIZE s.t ZORDER BY (k)")
    assert isinstance(n, int)
    # history exists; vacuum with 0-hour retention reclaims old manifests
    reclaimed = sq.sql("VACUUM s.t RETAIN 0 HOURS")
    assert isinstance(reclaimed, int)
    assert _state(sq) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
        (4, "d", 4.0),
    ]
    with pytest.raises(SqlParseError):
        sq.sql("OPTIMIZE s.t ZORDER")  # malformed


def test_time_travel_and_history_and_show_tables(sq):
    """SQL time travel (`VERSION AS OF` / `TIMESTAMP AS OF`) resolves
    through the commit log; DESCRIBE HISTORY serves commit metadata;
    SHOW TABLES lists the warehouse."""
    sq.sql("UPDATE s.t SET val = 'new' WHERE k = 1")
    # v1 had 'a'; head has 'new'
    old = sq.sql(
        "SELECT val FROM s.t VERSION AS OF 1 WHERE k = 1"
    ).first()["val"]
    new = sq.sql("SELECT val FROM s.t WHERE k = 1").first()["val"]
    assert (old, new) == ("a", "new")
    # join a past version against the head through one statement
    n = sq.sql(
        "SELECT COUNT(*) AS n FROM s.t a JOIN s.t VERSION AS OF 1 b "
        "ON a.k = b.k AND a.val <> b.val"
    ).first()["n"]
    assert n == 1
    ts = sq.sql("DESCRIBE HISTORY s.t")
    rows = ts.collect()
    assert [r["version"] for r in rows] == [2, 1]
    assert rows[0]["has_change_data"] in (True, False)
    future = rows[0]["committed_at"].isoformat()
    tt = sq.sql(
        f"SELECT val FROM s.t TIMESTAMP AS OF '{future}' WHERE k = 1"
    ).first()["val"]
    assert tt == "new"
    tables = [r["table"] for r in sq.sql("SHOW TABLES").collect()]
    assert "s.t" in tables


def test_repeated_bounds_intersect_not_overwrite(sq):
    """ADVICE r14 #2: repeated bounds on one column must INTERSECT —
    ``k >= 7 AND k >= 5`` is lo=7 (overwriting gave lo=5, wider than
    the SQL predicate, so a bounded UPDATE touched excluded rows)."""
    assert sq._where_spec("k >= 2 AND k >= 1") == {"k": (2, None)}
    assert sq._where_spec("k <= 2 AND k <= 3") == {"k": (None, 2)}
    assert sq._where_spec("k >= 1 AND k <= 3 AND k >= 2") == {"k": (2, 3)}
    # contradictory equalities -> empty range, zero rows touched
    assert sq.sql("UPDATE s.t SET val = 'no' WHERE k = 1 AND k = 2") == 0
    assert _state(sq) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    # the narrowing case end-to-end: only k>=2 rows update
    assert sq.sql("UPDATE s.t SET val = 'zz' WHERE k >= 2 AND k >= 1") == 2
    assert _state(sq) == [(1, "a", 10.0), (2, "zz", 20.0), (3, "zz", 30.0)]


def test_plain_optimize_forces_compaction(spark, tmp_path):
    """ADVICE r14 #3: plain ``OPTIMIZE t`` must compact the append
    tail even on a format built with auto_compact_dirs=None (it was a
    silent no-op); a second OPTIMIZE on the compacted table is 0."""
    fmt = ManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    wh = Warehouse(spark, str(tmp_path), table_format=fmt)
    df = spark.createDataFrame([(1, "a")], "k long, val string")
    wh.fmt.write("s.t", df, "overwrite")
    for i in range(2, 6):
        wh.fmt.write(
            "s.t",
            spark.createDataFrame([(i, "x")], "k long, val string"),
            "append",
        )
    sq = SqlFrontend(wh)
    assert sq.sql("OPTIMIZE s.t") == 5  # all 5 small dirs collapse
    assert sq.sql("OPTIMIZE s.t") == 0  # already one dir
    assert sorted(
        r["k"] for r in sq.sql("SELECT k FROM s.t").collect()
    ) == [1, 2, 3, 4, 5]


# -- r15: SQL transactions (VERDICT r14 task 2) -------------------------


@pytest.fixture()
def csq(spark, tmp_path):
    fmt = CatalogManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("k",)
    )
    wh = Warehouse(spark, str(tmp_path), table_format=fmt)
    wh.fmt.write(
        "s.parent",
        spark.createDataFrame([(1, "a")], "k long, val string"),
        "overwrite",
    )
    wh.fmt.write(
        "s.child",
        spark.createDataFrame([(1, 10.0)], "k long, x double"),
        "overwrite",
    )
    return SqlFrontend(wh)


def test_sql_transaction_atomic_two_table_dml(csq, spark, tmp_path):
    """BEGIN; parent+child DML; COMMIT — both visible at ONE catalog
    flip; a mid-txn reader (fresh format instance, the crash shape)
    sees zero skew; read-your-writes inside the txn."""
    fmt2 = CatalogManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    csq.sql("BEGIN")
    csq.sql("INSERT INTO s.parent SELECT * FROM VALUES (2, 'b')")
    # read-your-writes: this session sees the uncommitted insert
    assert csq.sql("SELECT COUNT(*) AS n FROM s.parent").first()["n"] == 2
    # ...but an independent reader does NOT (and sees no parent/child skew)
    assert fmt2.read("s.parent").count() == 1
    csq.sql("INSERT INTO s.child SELECT * FROM VALUES (2, CAST(20.0 AS DOUBLE))")
    assert fmt2.read("s.child").count() == 1
    flips_before = fmt2._catalog_version()
    csq.sql("COMMIT")
    assert fmt2._catalog_version() == flips_before + 1  # ONE flip
    assert fmt2.read("s.parent").count() == 2
    assert fmt2.read("s.child").count() == 2


def test_sql_rollback_and_crash_leave_no_skew(csq, spark, tmp_path):
    csq.sql("START TRANSACTION")
    csq.sql("INSERT INTO s.parent SELECT * FROM VALUES (9, 'z')")
    csq.sql("ROLLBACK")
    assert csq.sql("SELECT COUNT(*) AS n FROM s.parent").first()["n"] == 1
    # crash shape: txn opened, writes landed, session dies (pending is
    # in-memory) — a fresh reader resolves the pre-txn state, and the
    # orphan manifest is not even time-travelable
    csq.sql("BEGIN")
    csq.sql("INSERT INTO s.child SELECT * FROM VALUES (9, CAST(9.0 AS DOUBLE))")
    fresh = CatalogManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    assert fresh.read("s.child").count() == 1
    assert max(h["version"] for h in fresh.history("s.child")) == 1
    csq.sql("ROLLBACK")  # cleanup for the fixture session


def test_sql_txn_refusals(csq, sq):
    # plain ManifestFormat: no multi-table atomic flip
    with pytest.raises(SqlParseError, match="catalog commit-log format"):
        sq.sql("BEGIN")
    # no open txn
    with pytest.raises(RuntimeError, match="no open transaction"):
        csq.sql("COMMIT")
    with pytest.raises(RuntimeError, match="no open transaction"):
        csq.sql("ROLLBACK")
    csq.sql("BEGIN")
    with pytest.raises(RuntimeError, match="do not nest"):
        csq.sql("BEGIN")
    csq.sql("ROLLBACK")


# -- r15: persisted views (VERDICT r14 task 7) --------------------------


def test_create_view_persists_and_tracks_commits(csq, spark, tmp_path):
    csq.sql(
        "CREATE VIEW examples.recent AS "
        "SELECT k, val FROM s.parent WHERE k >= 1"
    )
    assert csq.sql("SELECT COUNT(*) AS n FROM examples.recent").first()["n"] == 1
    # tracks base commits with no refresh
    csq.sql("INSERT INTO s.parent SELECT * FROM VALUES (5, 'e')")
    assert csq.sql("SELECT COUNT(*) AS n FROM examples.recent").first()["n"] == 2
    # survives restart: fresh format + frontend resolve from the catalog
    fmt2 = CatalogManifestFormat(spark, str(tmp_path), auto_compact_dirs=None)
    sq2 = SqlFrontend(Warehouse(spark, str(tmp_path), table_format=fmt2))
    assert sq2.sql("SELECT COUNT(*) AS n FROM examples.recent").first()["n"] == 2
    assert "examples.recent" in {
        r["view"] for r in sq2.sql("SHOW VIEWS").collect()
    }
    # view over view
    sq2.sql(
        "CREATE VIEW examples.top AS "
        "SELECT MAX(k) AS mk FROM examples.recent"
    )
    assert sq2.sql("SELECT mk FROM examples.top").first()["mk"] == 5


def test_view_refusals(csq, sq):
    csq.sql("CREATE VIEW examples.v AS SELECT k FROM s.parent")
    with pytest.raises(ValueError, match="already exists"):
        csq.sql("CREATE VIEW examples.v AS SELECT val FROM s.parent")
    csq.sql("CREATE OR REPLACE VIEW examples.v AS SELECT val FROM s.parent")
    assert csq.sql("SELECT * FROM examples.v").columns == ["val"]
    # a view name cannot shadow a table and vice versa
    with pytest.raises(ValueError, match="TABLE of that name"):
        csq.sql("CREATE VIEW s.parent AS SELECT 1 AS one")
    with pytest.raises(ValueError, match="VIEW of that name"):
        csq.sql("CREATE TABLE examples.v AS SELECT 1 AS one")
    # dropped base column: SELECT refuses naming the view
    csq.sql("ALTER TABLE s.parent DROP COLUMN val")
    with pytest.raises(ValueError, match="examples.v no longer resolves"):
        csq.sql("SELECT * FROM examples.v")
    # a view that would never resolve refuses at CREATE time
    with pytest.raises(Exception):
        csq.sql("CREATE VIEW examples.bad AS SELECT nope FROM s.parent")
    assert "examples.bad" not in {
        r["view"] for r in csq.sql("SHOW VIEWS").collect()
    }
    assert csq.sql("DROP VIEW examples.v") is True
    with pytest.raises(ValueError, match="no such view"):
        csq.sql("DROP VIEW examples.v")
    csq.sql("DROP VIEW IF EXISTS examples.v")  # no raise
    # plain format refusal
    with pytest.raises(SqlParseError, match="catalog commit-log format"):
        sq.sql("CREATE VIEW examples.x AS SELECT 1 AS one")


# -- r15 tail: DESCRIBE DETAIL + FSCK TABLE -----------------------------


def test_describe_detail(sq):
    sq.sql("ALTER TABLE s.t ADD CONSTRAINT pos CHECK (x >= 0)")
    sq.sql(
        "INSERT INTO s.t SELECT * FROM VALUES "
        "(4, 'd', CAST(40.0 AS DOUBLE))"
    )
    r = sq.sql("DESCRIBE DETAIL s.t").first()
    assert r["table"] == "s.t" and r["version"] >= 2
    assert r["num_entries"] >= 2 and r["size_bytes"] > 0
    assert r["constraints"] == ["pos"] and r["cdf"] is False
    assert r["mor_deletes"] == 0 and r["partition_columns"] == []


def test_fsck_clean_missing_and_orphan(sq, spark, tmp_path):
    import os
    import shutil

    assert sq.sql("FSCK TABLE s.t").first()["ok"] is True
    # an orphan d-* dir (in-flight/abandoned writer) is reported, not
    # flagged as corruption
    tdir = sq.wh.path("s.t")
    os.makedirs(os.path.join(tdir, "d-deadbeef"))
    r = sq.sql("FSCK TABLE s.t").first()
    assert r["ok"] is True and r["orphan_dirs"] == ["d-deadbeef"]
    # deleting a referenced data dir IS corruption: fsck names it
    m = sq.wh.fmt._manifest("s.t")
    shutil.rmtree(os.path.join(tdir, m["entries"][0]["dir"]))
    r = sq.sql("FSCK TABLE s.t").first()
    assert r["ok"] is False
    assert len(r["missing"]) >= 1 and r["missing"][0].startswith("entry:")


def test_fsck_sees_dv_and_cdc_dirs(spark, tmp_path):
    import shutil

    fmt = ManifestFormat(
        spark, str(tmp_path), auto_compact_dirs=None, stats_cols=("k",),
        cdf=True,
    )
    wh = Warehouse(spark, str(tmp_path), table_format=fmt)
    fmt.write(
        "s.d",
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, x double"
        ),
        "overwrite",
    )
    # a positional mask dir (MOR merge with delete_keys lands one)
    fmt.merge_mor(
        "s.d",
        spark.createDataFrame([(20, 20.0)], "k long, x double"),
        "k",
        delete_keys=spark.createDataFrame([(2,), (3,)], "k long"),
    )
    sq2 = SqlFrontend(wh)
    assert sq2.sql("FSCK TABLE s.d").first()["ok"] is True
    # delete the mask dir -> named as dv corruption
    m = fmt._manifest("s.d")
    d = m["dv"][0]
    import os as _os

    shutil.rmtree(_os.path.join(wh.path("s.d"), d["pos"]["dir"]))
    r = sq2.sql("FSCK TABLE s.d").first()
    assert r["ok"] is False
    assert any(x.startswith("dv-pos:") for x in r["missing"])

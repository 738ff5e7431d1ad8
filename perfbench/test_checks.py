"""Tests of the benchmark's own output checks (no Spark needed).

    python3 -m pytest perfbench/test_checks.py -q -p no:cacheprovider

Each checker must fail on a dropped row and on a value out of tolerance,
and must pass the one-unit-in-the-last-place pair two engines produce
for ROUND(avg, 4) and ROUND(sum, 2).
"""

from __future__ import annotations

import datetime

import pytest

from perfbench.checks import CheckFailed, compare_maps, compare_rows
from perfbench.harness import Run
from perfbench.wl_query import STAGE_USERS_ORACLE, check_result
from perfbench.wl_sync import SourceModel
from perfbench.wl_upsert import check_table

ROWS = [
    ("20200201", "d1", 0.1235, 12345.67),
    ("20200201", "d2", 71.5, 3.0),
    ("20200202", "d1", -0.25, 1e7 + 0.01),
]


def test_rows_pass_in_any_order():
    compare_rows(list(reversed(ROWS)), ROWS)


def test_rows_dropped_row_fails():
    with pytest.raises(CheckFailed):
        compare_rows(ROWS[:-1], ROWS)


def test_rows_duplicated_row_fails():
    with pytest.raises(CheckFailed):
        compare_rows(ROWS[:-1] + ROWS[:1], ROWS)


@pytest.mark.parametrize("col,value", [(2, 0.1238), (2, 0.2235), (3, 12345.70), (3, 12346.67)])
def test_rows_out_of_tolerance_fails(col, value):
    got = [list(r) for r in ROWS]
    got[0][col] = value
    with pytest.raises(CheckFailed):
        compare_rows([tuple(r) for r in got], ROWS)


def test_rows_last_digit_rounding_pair_passes():
    # ROUND(avg, 4) and ROUND(sum, 2) one unit apart in the last place
    got = [("20200201", "d1", 0.1234, 12345.68)] + ROWS[1:2] + [("20200202", "d1", -0.2501, 1e7 + 0.02)]
    compare_rows(got, ROWS)


def test_rows_unrounded_floats_compare_relatively():
    want = [(1, 1.0 / 3.0)]
    compare_rows([(1, 1.0 / 3.0 * (1 + 1e-12))], want)
    with pytest.raises(CheckFailed):
        compare_rows([(1, 0.3333334)], want)


def test_rows_null_and_strings_are_exact():
    with pytest.raises(CheckFailed):
        compare_rows([(1, None)], [(1, "")])
    with pytest.raises(CheckFailed):
        compare_rows([(1, "a,b")], [(1, "a,c")])


def test_rows_timestamps_and_lists():
    t = datetime.datetime(2024, 1, 1, 3)
    compare_rows([(t, [1, 2])], [(t, (1, 2))])
    with pytest.raises(CheckFailed):
        compare_rows([(t, [1, 2])], [(t, [2, 1])])


def test_query_check_aligns_columns_by_name():
    oracle = (["b", "a"], [(0.1235, "x"), (2.5, "y")])
    check_result("q", ["a", "b"], [("y", 2.5), ("x", 0.1234)], oracle)
    with pytest.raises(CheckFailed):
        check_result("q", ["a", "b"], [("y", 2.5)], oracle)
    with pytest.raises(CheckFailed):
        check_result("q", ["a", "b"], [("y", 2.5), ("x", 0.1299)], oracle)


def test_maps_dropped_key_and_wrong_value_fail():
    want = {("20200201", "d1"): 10, ("20200201", "d2"): 5}
    compare_maps(dict(want), want, "m")
    with pytest.raises(CheckFailed):
        compare_maps({("20200201", "d1"): 10}, want, "m")
    with pytest.raises(CheckFailed):
        compare_maps({("20200201", "d1"): 10, ("20200201", "d2"): 6}, want, "m")


def test_sync_model_checks(tmp_path):
    model = SourceModel(3, str(tmp_path))
    for b in range(6):
        model.land_bucket(b)
    assert model.complete_days() == {"20200201"}
    counts = model.raw_counts()
    assert counts["raw.steps__metrics"] == 6 * 40 * 16
    steps = dict(model.steps)
    compare_maps(dict(steps), model.steps, "steps")
    dropped = dict(steps)
    dropped.pop(next(iter(dropped)))
    with pytest.raises(CheckFailed):
        compare_maps(dropped, model.steps, "steps")
    hr = {k: (c, s / c) for k, (c, s) in model.hr.items()}
    off = dict(hr)
    k = next(iter(off))
    off[k] = (off[k][0], off[k][1] + 0.5)
    with pytest.raises(CheckFailed):
        compare_maps(off, hr, "hr")


def test_upsert_table_check():
    model = {1: ("d1", 10), 2: ("d2", 20)}
    check_table([(2, "d2", 20), (1, "d1", 10)], model)
    with pytest.raises(CheckFailed):
        check_table([(1, "d1", 10)], model)
    with pytest.raises(CheckFailed):
        check_table([(1, "d1", 10), (2, "d2", 21)], model)
    with pytest.raises(CheckFailed):
        check_table([(1, "d1", 10), (2, "d2", 20), (2, "d2", 20)], model)


def test_stage_users_registry_oracle_yields_null_for_no_orders():
    """The registry oracle gives NULL for a customer without orders; the
    benchmark's own oracle gives '' like the Spark query."""
    duckdb = pytest.importorskip("duckdb")
    from iot_elt_airflow_mongo_timescaledb_spark.plans.registry import oracle_queries

    con = duckdb.connect()
    con.execute("CREATE TABLE customer AS SELECT * FROM (VALUES (1, 'c1', 'AUTO', 1.5), "
                "(2, 'c2', 'AUTO', 2.5)) t(c_custkey, c_name, c_mktsegment, c_acctbal)")
    con.execute("CREATE TABLE orders AS SELECT * FROM (VALUES (10, 1), (11, 1)) t(o_orderkey, o_custkey)")
    registry = dict(con.execute(
        "SELECT user_id, orderkeys FROM (" + oracle_queries()["stage_users"] + ")"
    ).fetchall())
    ours = dict(con.execute(
        "SELECT user_id, orderkeys FROM (" + STAGE_USERS_ORACLE + ")"
    ).fetchall())
    assert ours == {1: "10,11", 2: ""}
    assert registry == {1: "10,11", 2: None}


def test_operation_that_raises_counts_as_failed():
    run = Run("w", 1, False)
    assert run.op(lambda: 7)[1] == 7
    with pytest.raises(ZeroDivisionError):
        run.op(lambda: 1 / 0)
    assert (run.attempted, run.failed) == (2, 1)

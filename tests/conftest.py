"""Shared fixtures: one SparkSession + one DuckDB oracle per test run.

Tests default to sf0.001 (~6k lineitem rows) for speed; set
SPARK_GRAFT_TEST_SF to point elsewhere.  The driver's own gate runs the
same comparisons at sf0.01.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Slow tier (r16, VERDICT r15 task 2): the full suite (~40 min) overran
# the driver's pytest verify window two rounds running, so the
# soak/property/stress/drill tests — the repo's deep-audit tier, ~12 of
# those minutes — are marked ``slow`` here and deselected by default
# (pytest.ini addopts).  Centralized by node id so parameterized cases
# can be tiered individually (e.g. the [manifest] pipeline run stays in
# the default profile; its [catalog*] twins are slow-tier).
# Run everything:  python -m pytest tests/ -q -m "slow or not slow"
# ---------------------------------------------------------------------------

SLOW_NODE_IDS = {
    # global sweeps / soaks / stress
    "test_plans.py::test_registry_sweep_no_unexpected_nested_loops",
    "test_pipeline.py::test_weekly_monthly_rollups_regrain_from_daily",
    "test_ann_drift.py::test_drift_soak_partial_retrain_bounded",
    "test_manifest_segments.py::test_ref_list_spools_into_manifest_list_tier",
    "test_mor_dml.py::test_auto_purge_dvs_bounds_mask_accumulation",
    "test_concurrency.py::test_stress_appenders_and_mergers_serialize[manifest]",
    "test_concurrency.py::test_stress_appenders_and_mergers_serialize[catalog]",
    "test_streaming_state.py::test_dedup_state_evicts_with_watermark",
    # multi-process / separate-session drills
    "test_manifest_format.py::test_separate_session_recovery_drill[manifest]",
    "test_manifest_format.py::test_separate_session_recovery_drill[catalog]",
    "test_manifest_format.py::test_two_process_writers_no_lost_update[manifest]",
    "test_manifest_format.py::test_two_process_writers_no_lost_update[catalog]",
    "test_manifest_format.py::test_two_process_transactions_disjoint_tables",
    "test_cdf_stream.py::test_fs_factory_kill_replay_exactly_once",
    "test_cdf_stream.py::test_progress_clamp_through_nonlocal_fs",
    "test_cdf_stream.py::test_progress_clamp_bounds_restart_backlog",
    "test_cdf_stream.py::test_sketch_rollups_maintain_stream_end_to_end",
    # full-pipeline integration twins (the [manifest] run stays default)
    "test_manifest_format.py::test_full_pipeline_on_manifest_format[catalog]",
    "test_manifest_format.py::test_full_pipeline_on_manifest_format[catalog_prod]",
    "test_pipeline.py::test_parallel_sync_equals_sequential[catalog]",
    "test_pipeline.py::test_parallel_sync_equals_sequential[parquet]",
    # randomized property / model-equivalence suites
    "test_flatten_properties.py::test_flatten_is_lossless",
    "test_sketches.py::test_topk_retention_margin_property",
    "test_snapshot.py::test_snapshot_random_batch_sequences_match_reference",
    "test_column_mapping_properties.py::test_random_mapping_sequences_match_model",
    "test_manifest_merge.py::test_txn_crash_between_bounded_merges_no_skew_no_resurrection",
}

SLOW_FILES = {
    "test_timeseries_properties.py",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        nid = item.nodeid.split("/")[-1]
        if nid in SLOW_NODE_IDS or nid.split("::")[0] in SLOW_FILES:
            item.add_marker(pytest.mark.slow)


def jobs_in(spark, fn):
    """``(fn(), Spark job ids started while fn runs)``, attributed by
    a job group set on this thread.  The group name is fresh per call:
    the tracker keeps finished jobs, and a reused name (``id(fn)`` of
    a collected lambda can recur) would count an earlier call's jobs
    too."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-in-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from iot_elt_airflow_mongo_timescaledb_spark.session import get_spark

    # 8 threads keeps small-fixture tests snappy (32 threads of task
    # overhead dominates at this scale); prod sizing lives in session.py.
    spark = get_spark("tests", cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", 8))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tools.parity import duck_connection

    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def pipeline(spark, tmp_path_factory):
    """Reference-shaped fixture pipeline, built once per test run
    (fixture data lives in test_pipeline.py)."""
    import json

    import test_pipeline as tp

    from iot_elt_airflow_mongo_timescaledb_spark.plans.pipeline import HealthPipeline

    src = tmp_path_factory.mktemp("mongo_fixture")
    for name, docs in (
        ("users", tp.USERS), ("heart_rates", tp.HEART_RATES),
        ("sleeps", tp.SLEEPS), ("steps", tp.STEPS),
    ):
        (src / f"{name}.json").write_text(json.dumps(docs))
    wh_root = tmp_path_factory.mktemp("warehouse")
    p = HealthPipeline(spark, str(wh_root))
    paths = {n: str(src / f"{n}.json") for n in ("users", "heart_rates", "sleeps", "steps")}
    p.run_all(paths)
    return p, paths

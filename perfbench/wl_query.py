"""query_mix — a fixed read-only set of registry queries in a closed loop.

One client runs the mix over seeded TPC-H-shaped parquet (the schemas
of the engine's test data) pass after pass; each result is checked
against DuckDB running the registry's oracle SQL on the same files.
"""

from __future__ import annotations

import os

import numpy as np

from .checks import CheckFailed, compare_rows
from .harness import median, span

QUERIES = (
    "pricing_summary",
    "daily_steps",
    "stage_users",
    "weekly_summary",
    "semi_join_urgent",
    "topk_orders_per_customer",
    "session_windows",
    "dedup_clusters",
    "lsh_candidate_pairs",
    "multimodal_features",
    "streaming_hourly_rollup",
)

#: rows per table: those of the engine's sf0.01 test data (its correctness
#: gate scale); the columns, types, key ranges and value ranges follow
#: that data too, with every key drawn uniformly as there
SIZES = {"customer": 1500, "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500}
#: share of documents that repeat an earlier one with the last word
#: dropped or one word appended (the test data's near-duplicates)
NEAR_DUP_SHARE = 0.05

#: The registry's oracle for stage_users turns a customer without orders
#: into NULL (DuckDB's ARRAY_TO_STRING of an empty list), while the Spark
#: query yields '' (concat_ws of an empty array).  The query is right:
#: the reference's ARRAY_AGG gives an empty list, not NULL.  This oracle
#: maps the empty list to ''.
STAGE_USERS_ORACLE = """
    SELECT c.c_custkey AS user_id, c.c_name AS name,
           c.c_mktsegment AS segment, c.c_acctbal AS acctbal,
           COALESCE(ARRAY_TO_STRING(
             COALESCE(LIST_SORT(LIST(o.o_orderkey) FILTER (WHERE o.o_orderkey IS NOT NULL)), []),
             ','), '') AS orderkeys
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2, 3, 4
"""

WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch line sort "
    "window data column join small customer query order group stream spark filter "
    "big vector"
).split()


def generate(seed: int, out_dir: str) -> None:
    """Write the mix's tables as parquet."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    day = np.timedelta64(1, "D")

    def ts(base: str, span_days: int, n: int, micros: bool = False):
        t = np.datetime64(base, "us") + rng.integers(0, span_days, n) * day
        if micros:
            t = t + rng.integers(0, 86_400_000_000, n).astype("timedelta64[us]")
        return t

    n_c = SIZES["customer"]
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c),
    })
    n_o = SIZES["orders"]
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
        "o_orderdate": ts("1995-01-01", 2400, n_o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o),
    })
    n_l = SIZES["lineitem"]
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_l).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": ts("1995-01-02", 2500, n_l),
    })
    n_e = SIZES["events"]
    events = pd.DataFrame({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": np.sort(ts("2024-01-01", 30, n_e, micros=True)),
        "user_id": rng.integers(0, 150, n_e).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    n_d = SIZES["documents"]
    texts = []
    for i in range(n_d):
        if i and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            words = words[:-1] if rng.random() < 0.5 else words + [str(rng.choice(WORDS))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    tables = {"customer": customer, "orders": orders, "lineitem": lineitem,
              "events": events, "documents": documents}
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def oracle_results(data_dir: str, oracles: dict) -> dict:
    """name -> (column names, rows) from DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in SIZES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, sql in oracles.items():
        cur = con.execute(sql)
        out[name] = ([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


def check_result(name: str, columns: list, rows: list, oracle) -> None:
    o_cols, o_rows = oracle
    if sorted(columns) != sorted(o_cols):
        raise CheckFailed(f"{name}: columns {columns} vs oracle {o_cols}")
    idx = [o_cols.index(c) for c in columns]
    compare_rows(rows, [tuple(r[i] for i in idx) for r in o_rows], name)


class QueryPart:
    """The query mix as one part of a workload (see run.py)."""

    name = "query_mix"
    LAYER_METRICS = (
        *(f"queries.{q}.{m}" for q in QUERIES for m in ("s", "jobs")),
        "python_boundary.s",
    )

    def __init__(self, run):
        self.run = run
        self.samples: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.round_s: list[float] = []
        self.layer: dict = {}

    def setup(self):
        from iot_elt_airflow_mongo_timescaledb_spark.plans.registry import (
            oracle_queries,
            spark_queries,
        )

        run = self.run
        self.data = run.dir("query", "data")
        generate(run.seed, self.data)
        registry = spark_queries()
        self.fns = {q: registry[q] for q in QUERIES}
        oracles = {q: sql for q, sql in oracle_queries().items() if q in QUERIES}
        oracles["stage_users"] = STAGE_USERS_ORACLE
        self.oracle = oracle_results(self.data, oracles)
        self._pass()  # the first pass in a process runs ~2.5x slower

    def _run_query(self, q):
        df = self.fns[q](self.run.spark, self.data)
        return df.columns, df.collect()

    def _pass(self) -> dict:
        run = self.run
        out = {}
        for q in QUERIES:
            with span(run, f"queries.{q}"):
                dt, (cols, rows) = run.op(self._run_query, q)
            check_result(q, cols, rows, self.oracle[q])
            out[q] = dt
        return out

    def step(self):
        tracer = self.run.tracer
        if tracer is not None:
            tracer.udf_seconds()  # drop what earlier steps left
        lat = self._pass()
        for q, dt in lat.items():
            self.samples[q].append(dt)
        self.round_s.append(sum(lat.values()))
        if tracer is not None:
            self.layer.setdefault("udf_s", []).append(tracer.udf_seconds())

    def ready(self) -> bool:
        return True

    def check(self):
        pass  # every result is checked as it arrives

    def per_layer(self) -> dict:
        tr = self.run.tracer
        n = len(self.round_s)
        out = {}
        for q in QUERIES:
            spans = [s for s in tr.spans if s["name"] == f"queries.{q}"]
            out[f"queries.{q}.s"] = median([s["end"] - s["start"] for s in spans])
            out[f"queries.{q}.jobs"] = median([s["jobs"] for s in spans])
        out["python_boundary.s"] = median(self.layer["udf_s"])
        out["spark.jobs_per_round"] = tr.total("queries", "jobs") / n
        out["spark.tasks_per_round"] = tr.total("queries", "tasks") / n
        return out

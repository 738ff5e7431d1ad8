"""Relational query suite — every operator family from SURVEY §2 mapped
onto the driver's star schema + ``events`` stream table.

The reference's health-metric tables map as: ``events`` plays the
time-series role (user_id ≈ device_id, value ≈ metric reading), the
event types stand in for metric kinds ('click' ≈ steps, 'view' ≈
heart-rate bpm, 'purchase' ≈ sleeps); ``customer``/``orders`` exercise
the user/device join shapes.  Each docstring cites the reference
construct (file:line under /root/reference).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import age_group, day_key, month_key, week_bucket
from ..operators.joins import parent_child_join
from .registry import query, table

# --------------------------------------------------------------------------
# Flagship: TPC-H-Q1-shaped pricing summary (grouped multi-agg scan).
# Operators: P1 projection, P4 filter, A1 SUM, A2 AVG, multi-agg.
# --------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                          AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                     AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                          AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                     AS avg_price,
           ROUND(AVG(l_discount), 4)                                          AS avg_disc,
           COUNT(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Stage layer — P1/P2/P3/P7 scalar projections (models/stage/heart_rates.sql:8-14)
# --------------------------------------------------------------------------


@query(
    "stage_events",
    oracle="""
    SELECT user_id AS device_id,
           ts AS created_at,
           strftime(ts, '%Y%m')   AS month,
           strftime(ts, '%Y%m%d') AS day,
           CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS epoch_s,
           value AS reading
    FROM events
    """,
)
def stage_events(spark, sf_dir):
    """Stage projection: epoch casts + date-string keys
    (reference models/stage/heart_rates.sql:8-14, P2/P3/P7)."""
    e = table(spark, sf_dir, "events")
    return e.select(
        F.col("user_id").alias("device_id"),
        F.col("ts").alias("created_at"),
        month_key("ts").alias("month"),
        day_key("ts").alias("day"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.col("value").alias("reading"),
    )


# --------------------------------------------------------------------------
# Aggregate layer — daily/weekly/monthly steps (A1 grouped SUM + A6 buckets)
# reference models/agg/{daily,weekly,monthly}_steps.sql
# --------------------------------------------------------------------------


@query(
    "daily_steps",
    oracle="""
    SELECT strftime(ts, '%Y%m%d') AS day, user_id AS device_id,
           ROUND(SUM(value), 2) AS step_count
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
    """,
)
def daily_steps(spark, sf_dir):
    """A1 — SUM(step_count) GROUP BY day, device (daily_steps.sql:7-17)."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "click")
        .groupBy(day_key("ts").alias("day"), F.col("user_id").alias("device_id"))
        .agg(F.round(F.sum("value"), 2).alias("step_count"))
    )


@query(
    "weekly_steps",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, user_id AS device_id,
           ROUND(SUM(value), 2) AS step_count
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
    """,
    gate=False,  # round-4 gate swap: same A1 grouped-sum shape as the
    # gated daily_steps, differing only in the A6 week key — whose
    # Monday-origin alignment has its own pytest
    # (test_week_bucket_matches_timescaledb_origin) and stays
    # hash-oracled here via the pytest parity suite.  The freed slot
    # gates curation_funnel: composed-pipeline evidence over a
    # redundant time-key variant.
)
def weekly_steps(spark, sf_dir):
    """A6 — time_bucket('1 week', ts) tumbling week (weekly_steps.sql:9-17).
    Spark date_trunc('week') is Monday-aligned = TimescaleDB origin 2000-01-03."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "click")
        .groupBy(week_bucket("ts").alias("week"), F.col("user_id").alias("device_id"))
        .agg(F.round(F.sum("value"), 2).alias("step_count"))
    )


@query(
    "monthly_steps",
    oracle="""
    SELECT strftime(ts, '%Y%m') AS month, user_id AS device_id,
           ROUND(SUM(value), 2) AS step_count
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
    """,
    gate=False,  # same A1/P3 operators as daily_steps — pytest-verified
)
def monthly_steps(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "click")
        .groupBy(month_key("ts").alias("month"), F.col("user_id").alias("device_id"))
        .agg(F.round(F.sum("value"), 2).alias("step_count"))
    )


# --------------------------------------------------------------------------
# daily/monthly sleeps — J3 join-as-existence-filter + A2 AVG
# (models/agg/daily_sleeps.sql:11-20; quirk SURVEY §2.9.3 for weekly)
# --------------------------------------------------------------------------


def _sleeps_grouped(spark, sf_dir, bucket_fn, bucket_name):
    """Literal reference shape: inner join 'view' readings against the
    'purchase' table on (device, day); the uniform row multiplication is
    invisible to AVG (daily_sleeps.sql:11-20)."""
    e = table(spark, sf_dir, "events")
    cols = [
        F.col("user_id").alias("device_id"),
        day_key("ts").alias("day"),
        F.col("value").alias("bpm"),
    ]
    if bucket_name != "day":
        cols.insert(2, bucket_fn("ts").alias(bucket_name))
    hr = e.filter(F.col("event_type") == "view").select(*cols)
    sl = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("device_id"), day_key("ts").alias("day"))
    )
    joined = hr.join(sl, ["device_id", "day"], "inner")
    return joined.groupBy(bucket_name, "device_id").agg(
        F.round(F.avg("bpm"), 4).alias("avg_sleep_bpm")
    )


_SLEEPS_ORACLE = """
    SELECT {bucket} AS {name}, hr.device_id AS device_id,
           ROUND(AVG(hr.bpm), 4) AS avg_sleep_bpm
    FROM (SELECT user_id AS device_id, ts, value AS bpm,
                 strftime(ts, '%Y%m%d') AS day
          FROM events WHERE event_type = 'view') hr
    JOIN (SELECT user_id AS device_id, strftime(ts, '%Y%m%d') AS day
          FROM events WHERE event_type = 'purchase') s
      ON s.device_id = hr.device_id AND s.day = hr.day
    GROUP BY 1, 2
"""


@query("daily_sleeps", oracle=_SLEEPS_ORACLE.format(bucket="hr.day", name="day"))
def daily_sleeps(spark, sf_dir):
    return _sleeps_grouped(spark, sf_dir, day_key, "day")


@query(
    "monthly_sleeps",
    oracle=_SLEEPS_ORACLE.format(bucket="strftime(hr.ts, '%Y%m')", name="month"),
    gate=False,  # same J3/A2 operators as daily_sleeps — pytest-verified
)
def monthly_sleeps(spark, sf_dir):
    return _sleeps_grouped(spark, sf_dir, month_key, "month")


@query(
    "weekly_sleeps",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, user_id AS device_id,
           ROUND(AVG(value), 4) AS avg_sleep_bpm
    FROM events WHERE event_type = 'view'
    GROUP BY 1, 2
    """,
    gate=False,  # same A2/A6 operators as daily_sleeps/weekly_steps
)
def weekly_sleeps(spark, sf_dir):
    """Quirk §2.9.3 preserved: weekly_sleeps has NO existence join —
    it averages all readings (reference weekly_sleeps.sql:8-17)."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "view")
        .groupBy(week_bucket("ts").alias("week"), F.col("user_id").alias("device_id"))
        .agg(F.round(F.avg("value"), 4).alias("avg_sleep_bpm"))
    )


# --------------------------------------------------------------------------
# summaries — J4 two-key equi inner join (daily_summary.sql:12-20); inner
# join drops (device, day) present on only one side (quirk §2.9.5).
# --------------------------------------------------------------------------


def _summary(spark, sf_dir, sleeps_fn, steps_fn, bucket_name):
    s = sleeps_fn(spark, sf_dir)
    st = steps_fn(spark, sf_dir)
    return s.join(st, [bucket_name, "device_id"], "inner").select(
        bucket_name, "device_id", "avg_sleep_bpm", "step_count"
    )


_SUMMARY_ORACLE = """
    WITH sleeps AS ({sleeps}), steps AS ({steps})
    SELECT s.{name} AS {name}, s.device_id AS device_id,
           s.avg_sleep_bpm AS avg_sleep_bpm, st.step_count AS step_count
    FROM sleeps s JOIN steps st
      ON s.device_id = st.device_id AND s.{name} = st.{name}
"""


@query(
    "daily_summary",
    oracle=_SUMMARY_ORACLE.format(
        sleeps=_SLEEPS_ORACLE.format(bucket="hr.day", name="day"),
        steps="""SELECT strftime(ts, '%Y%m%d') AS day, user_id AS device_id,
                        ROUND(SUM(value), 2) AS step_count
                 FROM events WHERE event_type = 'click' GROUP BY 1, 2""",
        name="day",
    ),
)
def daily_summary(spark, sf_dir):
    return _summary(spark, sf_dir, daily_sleeps, daily_steps, "day")


@query(
    "weekly_summary",
    oracle=_SUMMARY_ORACLE.format(
        sleeps="""SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, user_id AS device_id,
                         ROUND(AVG(value), 4) AS avg_sleep_bpm
                  FROM events WHERE event_type = 'view' GROUP BY 1, 2""",
        steps="""SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, user_id AS device_id,
                        ROUND(SUM(value), 2) AS step_count
                 FROM events WHERE event_type = 'click' GROUP BY 1, 2""",
        name="week",
    ),
    gate=False,  # same J4 operator as daily_summary — pytest-verified
)
def weekly_summary(spark, sf_dir):
    return _summary(spark, sf_dir, weekly_sleeps, weekly_steps, "week")


@query(
    "monthly_summary",
    oracle=_SUMMARY_ORACLE.format(
        sleeps=_SLEEPS_ORACLE.format(bucket="strftime(hr.ts, '%Y%m')", name="month"),
        steps="""SELECT strftime(ts, '%Y%m') AS month, user_id AS device_id,
                        ROUND(SUM(value), 2) AS step_count
                 FROM events WHERE event_type = 'click' GROUP BY 1, 2""",
        name="month",
    ),
    gate=False,  # same J4 operator as daily_summary — pytest-verified
)
def monthly_summary(spark, sf_dir):
    return _summary(spark, sf_dir, monthly_sleeps, monthly_steps, "month")


# --------------------------------------------------------------------------
# stage users — J2 left join + A3 ARRAY_AGG (models/stage/users.sql:16-27)
# --------------------------------------------------------------------------


@query(
    "stage_users",
    oracle="""
    SELECT c.c_custkey AS user_id, c.c_name AS name,
           c.c_mktsegment AS segment, c.c_acctbal AS acctbal,
           COALESCE(ARRAY_TO_STRING(
             COALESCE(LIST_SORT(LIST(o.o_orderkey) FILTER (WHERE o.o_orderkey IS NOT NULL)), []),
             ','), '') AS orderkeys
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2, 3, 4
    """,
)
def stage_users(spark, sf_dir):
    """J2/A3 — users LEFT JOIN devices then ARRAY_AGG, keeping users with
    no matches (users.sql:17-27).  collect_list drops the left-join NULLs
    (→ empty array, joined to ``''``); sorted for cross-engine
    determinism.  The oracle's outer COALESCE matches that ``''``:
    DuckDB's ``ARRAY_TO_STRING`` of an empty list is NULL.

    The array is emitted as a comma-joined string on BOTH sides: the
    driver's canonicalizer hashes flat values and chokes on list-typed
    cells (r1's one red row).  The model layer (plans/models.py) keeps
    the real array type — only this gate-facing projection stringifies.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    joined = c.join(o, c.c_custkey == o.o_custkey, "left")
    return joined.groupBy(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    ).agg(
        F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias(
            "orderkeys"
        )
    )


# --------------------------------------------------------------------------
# P5 BETWEEN + P6 CASE WHEN bucketing
# (examples/daily_health_metrics_per_age_grp.sql:5-15)
# --------------------------------------------------------------------------

_AGE_CASE_SQL = """CASE WHEN age < 18 THEN '<18'
         WHEN age BETWEEN 18 AND 24 THEN '18-24'
         WHEN age BETWEEN 25 AND 34 THEN '25-34'
         WHEN age BETWEEN 35 AND 44 THEN '35-44'
         WHEN age BETWEEN 45 AND 54 THEN '45-54'
         WHEN age BETWEEN 55 AND 64 THEN '55-64'
         WHEN age > 64 THEN '>64' END"""


@query(
    "age_group_buckets",
    oracle=f"""
    WITH aged AS (SELECT c_custkey % 90 AS age, c_acctbal FROM customer)
    SELECT {_AGE_CASE_SQL} AS age_group,
           COUNT(*) AS n_users, ROUND(AVG(c_acctbal), 4) AS avg_acctbal
    FROM aged WHERE age BETWEEN 5 AND 130
    GROUP BY 1
    """,
)
def age_group_buckets(spark, sf_dir):
    """P5/P6 — BETWEEN range filter + 7-bucket CASE classifier (no ELSE →
    NULL group, exactly like the reference)."""
    c = table(spark, sf_dir, "customer").withColumn("age", F.col("c_custkey") % 90)
    return (
        c.filter(F.col("age").between(5, 130))
        .groupBy(age_group("age").alias("age_group"))
        .agg(F.count("*").alias("n_users"), F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"))
    )


@query(
    "health_metrics_per_age_grp",
    oracle=f"""
    WITH user_age_grps AS (
      SELECT c_custkey, {_AGE_CASE_SQL} AS age_group
      FROM (SELECT c_custkey, c_custkey % 90 AS age FROM customer)
      WHERE age BETWEEN 5 AND 130
    ),
    daily_spend AS (
      SELECT o_custkey, strftime(o_orderdate, '%Y%m%d') AS day,
             SUM(o_totalprice) AS spend, COUNT(*) AS n_orders
      FROM orders GROUP BY 1, 2
    )
    SELECT d.day AS day, u.age_group AS age_group,
           ROUND(AVG(d.spend), 4) AS avg_spend,
           ROUND(AVG(d.n_orders), 4) AS avg_orders
    FROM daily_spend d JOIN user_age_grps u ON d.o_custkey = u.c_custkey
    GROUP BY 1, 2
    """,
)
def health_metrics_per_age_grp(spark, sf_dir):
    """O4 CTE + P6 bucketing + A2 avg-of-aggregate (quirk §2.9.4: the
    reference's unweighted avg-of-avg is preserved as avg-of-per-user-agg).
    Reference: examples/daily_health_metrics_per_age_grp.sql."""
    c = table(spark, sf_dir, "customer").withColumn("age", F.col("c_custkey") % 90)
    user_age_grps = c.filter(F.col("age").between(5, 130)).select(
        "c_custkey", age_group("age").alias("age_group")
    )
    o = table(spark, sf_dir, "orders")
    daily_spend = o.groupBy(
        F.col("o_custkey"), day_key("o_orderdate").alias("day")
    ).agg(F.sum("o_totalprice").alias("spend"), F.count("*").alias("n_orders"))
    return (
        daily_spend.join(user_age_grps, daily_spend.o_custkey == user_age_grps.c_custkey)
        .groupBy("day", "age_group")
        .agg(
            F.round(F.avg("spend"), 4).alias("avg_spend"),
            F.round(F.avg("n_orders"), 4).alias("avg_orders"),
        )
    )


# --------------------------------------------------------------------------
# user_steps_for_last_month — A4 max-lookup pre-query + filter on max month
# (examples/daily_user_steps_for_last_month.sql; quirk §2.9.2: intended
# semantics = month key of day = MAX(month))
# --------------------------------------------------------------------------


@query(
    "user_steps_last_month",
    oracle="""
    WITH user_spend AS (
      SELECT strftime(o.o_orderdate, '%Y%m%d') AS day,
             c.c_custkey AS user_id, c.c_name AS name, c.c_mktsegment AS segment,
             o.o_totalprice AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT day, user_id, name, segment, ROUND(SUM(price), 2) AS spend
    FROM user_spend
    WHERE substr(day, 1, 6) = (SELECT MAX(substr(day, 1, 6)) FROM user_spend)
    GROUP BY 1, 2, 3, 4
    """,
)
def user_steps_last_month(spark, sf_dir):
    """A4 — scalar MAX lookup run as a pre-query (like the dbt macro's
    run_query, macros/get_max_insert_date_string.sql:4-15), spliced into
    the main filter as a literal."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    user_spend = o.join(c, o.o_custkey == c.c_custkey).select(
        day_key("o_orderdate").alias("day"),
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("price"),
    )
    max_month = user_spend.agg(
        F.max(F.substring("day", 1, 6)).alias("m")
    ).first()["m"]
    return (
        user_spend.filter(F.substring("day", 1, 6) == F.lit(max_month))
        .groupBy("day", "user_id", "name", "segment")
        .agg(F.round(F.sum("price"), 2).alias("spend"))
    )


# --------------------------------------------------------------------------
# J5 array-membership join (= ANY(devices)) — literal array_contains form;
# the scale rewrite lives in operators.joins.array_membership_join.
# --------------------------------------------------------------------------


@query(
    "array_membership_region",
    oracle="""
    WITH region_arr AS (
      SELECT n_regionkey, LIST_SORT(LIST(n_nationkey)) AS nations
      FROM nation GROUP BY 1
    )
    SELECT r.n_regionkey AS regionkey, COUNT(*) AS n_customers,
           ROUND(AVG(c.c_acctbal), 4) AS avg_acctbal
    FROM customer c JOIN region_arr r ON LIST_CONTAINS(r.nations, c.c_nationkey)
    GROUP BY 1
    """,
)
def array_membership_region(spark, sf_dir):
    """J5 — ``device_id = ANY(u.devices)`` membership join
    (examples/daily_health_metrics_per_age_grp.sql:24-25).  The dim side
    here is 5 rows → Spark broadcasts the nested-loop join, the right
    physical choice; at scale use operators.joins.array_membership_join
    (explode → equi-join)."""
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    region_arr = n.groupBy("n_regionkey").agg(
        F.sort_array(F.collect_list("n_nationkey")).alias("nations")
    )
    joined = c.join(
        F.broadcast(region_arr),
        F.array_contains(region_arr.nations, c.c_nationkey),
        "inner",
    )
    return joined.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
    )


# --------------------------------------------------------------------------
# S10 flattener round-trip + J1 parent/child reassembly.
# --------------------------------------------------------------------------


@query(
    "parent_child_roundtrip",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1
             AS list_idx,
           o_totalprice AS totalprice
    FROM orders
    """,
)
def parent_child_roundtrip(spark, sf_dir):
    """S10 + J1 — nest orders into per-customer array-of-struct documents,
    flatten with posexplode into parent/child frames (the dlt normalize
    step, dags/iot_mongo_extract_to_dwh.py:85-105), then reassemble via
    the parent/child equi join (models/stage/heart_rates.sql:15-22).
    Flatten∘nest = identity, so the oracle is the flat equivalent."""
    o = table(spark, sf_dir, "orders")
    nested = o.groupBy("o_custkey").agg(
        F.sort_array(
            F.collect_list(F.struct("o_orderkey", "o_totalprice"))
        ).alias("orders_doc")
    )
    parent = nested.select(F.col("o_custkey").alias("_dlt_id"))
    child = nested.select(
        F.col("o_custkey").alias("_dlt_parent_id"),
        F.posexplode("orders_doc").alias("_dlt_list_idx", "order_struct"),
    ).select(
        "_dlt_parent_id",
        "_dlt_list_idx",
        F.col("order_struct.o_orderkey").alias("orderkey"),
        F.col("order_struct.o_totalprice").alias("totalprice"),
    )
    reassembled = parent_child_join(parent, child)
    return reassembled.select(
        F.col("_dlt_id").alias("custkey"),
        F.col("orderkey"),
        F.col("_dlt_list_idx").alias("list_idx"),
        F.col("totalprice"),
    )


@query(
    "ingest_schema_drift",
    oracle="""
    WITH lim AS (
        SELECT LEAST(MAX(c_custkey), 600) AS L, LEAST(MAX(c_custkey), 600) // 2 AS H
        FROM customer
    ),
    b1 AS (  -- first batch: score inferred as long
        SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS score,
               CAST(NULL AS DOUBLE) AS score__v_double,
               CAST(NULL AS BIGINT) AS level
        FROM customer, lim WHERE c_custkey <= H
    ),
    b2 AS (  -- drifted batch: score double -> row-wise variant split,
             -- additive level column
        SELECT c_custkey AS k,
               CASE WHEN c_acctbal = FLOOR(c_acctbal)
                    THEN CAST(c_acctbal AS BIGINT) END AS score,
               CASE WHEN c_acctbal <> FLOOR(c_acctbal)
                    THEN c_acctbal END AS score__v_double,
               CAST(c_nationkey AS BIGINT) AS level
        FROM customer, lim WHERE c_custkey > H AND c_custkey <= L
    ),
    landed AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT COUNT(*) AS n_rows,
           COUNT(score) AS n_base,
           COUNT(score__v_double) AS n_variant,
           CAST(SUM(score) AS BIGINT) AS base_sum,
           ROUND(SUM(score__v_double), 2) AS variant_sum,
           COUNT(level) AS n_level,
           CAST(SUM(level) AS BIGINT) AS level_sum
    FROM landed
    """,
    # r15 rotation (VERDICT r14 tasks 3+8): dlt's headline behavior —
    # inferred + EVOLVED raw schemas (reference README.md:11) — takes a
    # gate row; stats_summary demoted (plain fused aggregate family,
    # covered by value_percentiles/value_statistics + the pytest oracle
    # suite).
)
def ingest_schema_drift(spark, sf_dir):
    """Ingest-side schema evolution end-to-end (r15,
    ``reconcile_schema_drift`` in sources/ingest.py): two document
    batches derived from ``customer`` sync through
    ``HealthPipeline.sync`` — the first stores ``score`` as a JSON
    integer (inferred long), the second DRIFTS: ``score`` arrives as a
    double (Spark infers the whole column double once any value is
    fractional) and a brand-new ``level`` field appears.  The drifted
    batch LANDS instead of refusing: integral doubles demote row-wise
    into the stored long column, genuinely fractional values take
    dlt's variant column ``score__v_double``, and ``level`` evolves
    additively (null for batch-1 rows).  The oracle reproduces the
    landing rule in SQL over the same parquet.  Bounded scratch: the
    doc set is capped at 600 absolute keys regardless of scale
    factor."""
    import json
    import os

    from ..fs import scratch_dir
    from .pipeline import HealthPipeline
    from .table_format import ManifestFormat

    c = table(spark, sf_dir, "customer")
    m = int(c.agg(F.max("c_custkey")).first()[0])
    L = min(m, 600)
    H = L // 2
    # bounded driver materialization: <= 600 rows by construction
    rows = (
        c.filter(F.col("c_custkey") <= L)
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .collect()
    )
    b1 = [
        {
            "_id": str(r["c_custkey"]),
            "created_at": int(r["c_custkey"]),
            "score": int(r["c_nationkey"]),
        }
        for r in rows
        if r["c_custkey"] <= H
    ]
    b2 = [
        {
            "_id": str(r["c_custkey"]),
            "created_at": int(r["c_custkey"]),
            "score": float(r["c_acctbal"]),
            "level": int(r["c_nationkey"]),
        }
        for r in rows
        if r["c_custkey"] > H
    ]
    root = scratch_dir(spark, "drift_", cleanup_atexit=True)
    p1, p2 = os.path.join(root, "b1.json"), os.path.join(root, "b2.json")
    with open(p1, "w") as f:
        json.dump(b1, f)
    with open(p2, "w") as f:
        json.dump(b2, f)
    fmt = ManifestFormat(spark, root, auto_compact_dirs=None)
    pipe = HealthPipeline(spark, root, table_format=fmt)
    pipe.sync({"cust": p1})
    pipe.sync({"cust": p2})
    landed = fmt.read("raw.cust")
    variant = (
        F.col("score__v_double")
        if "score__v_double" in landed.columns
        else F.lit(None).cast("double")
    )
    return landed.agg(
        F.count("*").alias("n_rows"),
        F.count("score").alias("n_base"),
        F.count(variant).alias("n_variant"),
        F.sum("score").alias("base_sum"),
        F.round(F.sum(variant), 2).alias("variant_sum"),
        F.count("level").alias("n_level"),
        F.sum("level").alias("level_sum"),
    )


# --------------------------------------------------------------------------
# M1/A4/P4/P8 — incremental watermark protocol as a query.
# --------------------------------------------------------------------------


@query(
    "watermark_incremental",
    oracle="""
    WITH wm AS (
      SELECT COALESCE(MAX(o_orderdate), TIMESTAMP '1970-01-01 00:00:00') AS w
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT strftime(o_orderdate, '%Y%m%d') AS day,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders, wm WHERE o_orderdate > wm.w
    GROUP BY 1
    """,
)
def watermark_incremental(spark, sf_dir):
    """M1 incremental protocol: scalar MAX-watermark pre-query (A4), then
    a strictly-greater filter (quirk §2.9.8 — late rows that share the
    max watermark are dropped, like the reference's transforms)."""
    o = table(spark, sf_dir, "orders")
    row = (
        o.filter(F.col("o_orderstatus") == "F")
        .agg(F.coalesce(F.max("o_orderdate"), F.lit("1970-01-01").cast("timestamp")).alias("w"))
        .first()
    )
    return (
        o.filter(F.col("o_orderdate") > F.lit(row["w"]))
        .groupBy(day_key("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# --------------------------------------------------------------------------
# Semi / anti joins (J3 scalable form + completeness beyond reference).
# --------------------------------------------------------------------------


@query(
    "semi_join_urgent",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_items, ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1
    """,
    gate=False,  # driver row via the merged semi_anti_join_counts below
)
def semi_join_urgent(spark, sf_dir):
    """J3 scalable form — left-semi join as existence filter."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        l.join(o.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_items"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


@query(
    "anti_join_orderless",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
    gate=False,  # driver row via the merged semi_anti_join_counts below
)
def anti_join_orderless(spark, sf_dir):
    """Left-anti join (NOT EXISTS) — needed by the M2 upsert fallback."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "semi_anti_join_counts",
    oracle="""
    SELECT 'semi' AS op, l_returnflag AS key, COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS metric
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY 2
    UNION ALL
    SELECT 'anti' AS op, c_mktsegment AS key, COUNT(*) AS n,
           CAST(NULL AS DOUBLE) AS metric
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 2
    """,
    gate=False,  # join family: parent_child/daily_summary/range_join carry the gate
)
def semi_anti_join_counts(spark, sf_dir):
    """J3 scalable form, both polarities in one gated row: left-semi
    (EXISTS) and left-anti (NOT EXISTS) joins tagged and unioned —
    keeps both join families driver-verified inside the 50-row cap.
    The standalone ``semi_join_urgent`` / ``anti_join_orderless``
    variants stay pytest-verified."""
    semi = (
        semi_join_urgent(spark, sf_dir)
        .select(
            F.lit("semi").alias("op"),
            F.col("l_returnflag").alias("key"),
            F.col("n_items").alias("n"),
            F.col("qty").alias("metric"),
        )
    )
    anti = (
        anti_join_orderless(spark, sf_dir)
        .select(
            F.lit("anti").alias("op"),
            F.col("c_mktsegment").alias("key"),
            F.col("n_customers").alias("n"),
            F.lit(None).cast("double").alias("metric"),
        )
    )
    return semi.unionByName(anti)


# --------------------------------------------------------------------------
# JSON extraction from the events.props payload (document-source parity:
# the reference's raw layer is JSON documents).
# --------------------------------------------------------------------------


@query(
    "json_props_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
    FROM events
    GROUP BY 1
    """,
    gate=False,  # JSON-path family pytest-verified (with typed_props_daily)
)
def json_props_stats(spark, sf_dir):
    """JSON path extraction (S13 document parsing surface)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.get_json_object("props", "$.k").cast("int")), 4).alias("avg_k"),
    )


# --------------------------------------------------------------------------
# Window function — top-K per group (beyond-reference completeness; the
# pattern the reference's ORDER BY ... DESC presentation tables suggest).
# --------------------------------------------------------------------------


@query(
    "topk_orders_per_customer",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders)
    WHERE rk <= 3
    """,
    gate=False,  # row_number-rank family driver-covered by tfidf_top_terms
)
def topk_orders_per_customer(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


# --------------------------------------------------------------------------
# O1/O2/S4 — global ORDER BY + LIMIT (top-k over the whole table).
# --------------------------------------------------------------------------


@query(
    "top5_orders",
    oracle="""
    SELECT o_orderkey AS orderkey, o_totalprice AS totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
    """,
)
def top5_orders(spark, sf_dir):
    """O2/S4 — LIMIT pushdown: Spark plans TakeOrderedAndProject (per-
    partition top-k then merge on the driver), never a full global sort
    (reference limit pushdown: dlt helpers.py:105-123)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(F.col("o_orderkey").alias("orderkey"), F.col("o_totalprice").alias("totalprice"))
        .orderBy(F.col("totalprice").desc(), F.col("orderkey").asc())
        .limit(5)
    )


@query(
    "scd2_snapshot_history",
    oracle="""
    WITH c AS (
        SELECT c_custkey AS k, c_acctbal AS bal,
               ROUND(c_acctbal * 1.1, 2) AS bal2
        FROM customer
    )
    SELECT k, bal, 'T1' AS valid_from,
           CASE WHEN k % 10 = 0 AND bal2 <> bal THEN 'T2' END AS valid_to
    FROM c
    UNION ALL
    SELECT k, bal2 AS bal, 'T2' AS valid_from, NULL AS valid_to
    FROM c WHERE k % 10 = 0 AND bal2 <> bal
    """,
    gate=False,  # warehouse-machinery family; unit-pinned in test_snapshot
)
def scd2_snapshot_history(spark, sf_dir):
    """SCD Type-2 snapshot end-to-end (Warehouse.materialize_snapshot):
    snapshot the customer balances at T1, re-snapshot at T2 with every
    10th key's balance repriced — changed keys close their T1 row and
    open a T2 version, everyone else keeps one open T1 row.  The oracle
    reconstructs the interval algebra directly, so the check covers the
    fingerprint change detection, close/insert mechanics, and the
    unchanged-key no-op in one hash."""
    from ..fs import scratch_dir
    from .materialize import Warehouse

    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    )
    repriced = c.withColumn(
        "bal",
        F.when(
            F.col("k") % 10 == 0, F.round(F.col("bal") * 1.1, 2)
        ).otherwise(F.col("bal")),
    )
    # atexit cleanup: the returned frame lazily reads FROM this scratch
    # warehouse, so it must outlive the function — but repeated gate/
    # bench/test runs must not accumulate snapshot copies on the
    # spark.local.dir volume (same pattern as _drain_to_files)
    wh = Warehouse(spark, scratch_dir(spark, "scd2_", cleanup_atexit=True))
    wh.materialize_snapshot("snap.cust", c, "k", "T1")
    return wh.materialize_snapshot("snap.cust", repriced, "k", "T2")


@query(
    "manifest_time_travel",
    oracle="""
    SELECT c_custkey AS k,
           c_acctbal AS bal_v1,
           CASE WHEN c_custkey % 10 = 0
                THEN ROUND(c_acctbal + 1.0, 2) ELSE c_acctbal
           END AS bal_v2,
           c_custkey % 10 = 0 AS changed
    FROM customer
    """,
    gate=False,  # warehouse-machinery family; scd2_snapshot_history gated
)
def manifest_time_travel(spark, sf_dir):
    """Commit-log table format end-to-end (table_format.ManifestFormat):
    commit customer balances (v1), upsert every 10th key repriced (v2 —
    the seam's merge verb: anti-join + union + one O(1) manifest
    commit), then join ``read_version(1)`` time travel against the
    current table.  The oracle reconstructs both versions from the
    source directly, so the hash covers the commit protocol, the merge,
    and the old version staying byte-readable after the replace."""
    from ..fs import scratch_dir
    from .materialize import Warehouse
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mtt_", cleanup_atexit=True)
    wh = Warehouse(spark, root, table_format=ManifestFormat(spark, root))
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    )
    wh.materialize_upsert("tt.cust", c, "k")  # v1
    upd = c.filter(F.col("k") % 10 == 0).withColumn(
        "bal", F.round(F.col("bal") + 1.0, 2)
    )
    wh.materialize_upsert("tt.cust", upd, "k")  # v2
    v1 = wh.fmt.read_version("tt.cust", 1).select(
        "k", F.col("bal").alias("bal_v1")
    )
    v2 = wh.read("tt.cust").select("k", F.col("bal").alias("bal_v2"))
    return v1.join(v2, "k").withColumn(
        "changed", F.col("bal_v1") != F.col("bal_v2")
    )


@query(
    "manifest_data_skipping",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer)
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(c_acctbal), 2) AS bal_sum,
           1 AS entries_read
    FROM customer, mx
    WHERE c_custkey > m * 2 // 5 AND c_custkey <= m * 3 // 5
    GROUP BY c_mktsegment
    """,
    # r9 gate rotation (VERDICT r8 task 2): the round-8 skipping flagship
    # takes a driver row; streaming_user_activity demoted in exchange
)
def manifest_data_skipping(spark, sf_dir):
    """Manifest-level data skipping end-to-end (ManifestFormat
    ``stats_cols``/``read_where``): customers land as five range-chunked
    appends (a time-ordered ingest stream's shape — each entry gets
    min/max c_custkey stats at write time), then a range read over the
    middle quintile.  ``entries_read`` pins the skipping itself: the
    manifest prune must leave exactly ONE of the five entries before
    Spark lists a single file (lit-folded into every row, so a pruning
    regression breaks the value hash, not just latency).  The oracle
    recomputes the same range aggregate from the raw table."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mds_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("c_custkey",)
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    row = c.agg(
        F.max("c_custkey").alias("mx"), F.min("c_custkey").alias("mn")
    ).first()
    mx, mn = int(row["mx"]), int(row["mn"])
    # first edge below the MIN key (this testdata's custkeys start at
    # 0): the queried middle quintile is unaffected, but the staged
    # table must hold EVERY source row
    bounds = [mn - 1] + [mx * i // 5 for i in range(1, 5)] + [mx]
    for i in range(5):
        chunk = c.filter(
            (F.col("c_custkey") > bounds[i])
            & (F.col("c_custkey") <= bounds[i + 1])
        )
        fmt.write("ds.cust", chunk, "append" if i else "overwrite")
    lo, hi = mx * 2 // 5 + 1, mx * 3 // 5
    kept, _ = fmt.prune_entries("ds.cust", "c_custkey", lo, hi)
    return (
        fmt.read_where("ds.cust", "c_custkey", lo, hi)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("entries_read", F.lit(len(kept)))
    )


@query(
    "manifest_multicol_skipping",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer)
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(c_acctbal), 2) AS bal_sum,
           1 AS entries_read
    FROM customer, mx
    WHERE c_custkey > m // 2 AND c_acctbal <= 4500.0
    GROUP BY c_mktsegment
    """,
    gate=False,  # skipping family: manifest_data_skipping carries the gate
)
def manifest_multicol_skipping(spark, sf_dir):
    """Multi-column CONJUNCTION skipping (VERDICT r8 task 9 —
    ``read_where(name, {col: (lo, hi), ...})``): customers land as a
    2x2 grid of appends (custkey half x acctbal half, each entry
    carrying min/max stats for BOTH columns), then an AND of two
    ranges must prune to exactly ONE of the four entries — each range
    alone keeps two.  ``entries_read`` lit-folds the pruning count
    into the hash; the oracle recomputes the conjunction from the raw
    table."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mmcs_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None,
        stats_cols=("c_custkey", "c_acctbal"),
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    mid = int(c.agg(F.max("c_custkey")).first()[0]) // 2
    BAL = 4500.0
    first = True
    for key_pred in (F.col("c_custkey") <= mid, F.col("c_custkey") > mid):
        for bal_pred in (
            F.col("c_acctbal") <= BAL,
            F.col("c_acctbal") > BAL,
        ):
            fmt.write(
                "ds.grid",
                c.filter(key_pred & bal_pred),
                "append" if not first else "overwrite",
            )
            first = False
    bounds = {"c_custkey": (mid + 1, None), "c_acctbal": (None, BAL)}
    kept, _ = fmt.prune_entries("ds.grid", bounds)
    return (
        fmt.read_where("ds.grid", bounds)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("entries_read", F.lit(len(kept)))
    )


@query(
    "manifest_zorder_skipping",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer)
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(c_acctbal), 2) AS bal_sum,
           1 AS pruned
    FROM customer, mx
    WHERE c_custkey >= m // 4 AND c_custkey <= m // 2
      AND c_acctbal >= 0.0 AND c_acctbal <= 3000.0
    GROUP BY c_mktsegment
    """,
    gate=False,  # skipping family: manifest_data_skipping carries the gate
)
def manifest_zorder_skipping(spark, sf_dir):
    """Z-order clustered skipping end-to-end
    (``ManifestFormat.cluster_zorder`` + the multi-column
    ``read_where`` conjunction): customers rewritten with (c_custkey,
    c_acctbal) bit-interleaved locality, then an AND of two narrow
    ranges must PRUNE FILES (``pruned`` lit-folds `kept < n_files`
    into the hash — a skipping regression flips it) and return exactly
    the raw-table recompute.  The file count itself is not hashed:
    approxQuantile edges depend on scan split order, so per-file
    layout may vary while the pruning guarantee holds."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mzs_", cleanup_atexit=True)
    fmt = ManifestFormat(spark, root, auto_compact_dirs=None)
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    fmt.write("ds.zcust", c, "overwrite")
    n = fmt.cluster_zorder("ds.zcust", ("c_custkey", "c_acctbal"), n_files=16)
    mx = int(c.agg(F.max("c_custkey")).first()[0])
    bounds = {
        "c_custkey": (mx // 4, mx // 2),
        "c_acctbal": (0.0, 3000.0),
    }
    kept, _ = fmt.prune_entries("ds.zcust", bounds)
    return (
        fmt.read_where("ds.zcust", bounds)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("pruned", F.lit(int(len(kept) < n)))
    )


@query(
    "manifest_delete_where",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer)
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(c_acctbal), 2) AS bal_sum,
           4 AS entries_untouched
    FROM customer, mx
    WHERE NOT (c_custkey > m * 2 // 5 + 10 AND c_custkey <= m * 3 // 5 - 10)
    GROUP BY c_mktsegment
    """,
    # round-10 gate rotation (VERDICT r9 task 3): promoted to a driver row
)
def manifest_delete_where(spark, sf_dir):
    """Row-level DELETE with stats-bounded copy-on-write
    (``ManifestFormat.delete_where``): customers land as five
    range-chunked appends, a sub-range of the middle chunk is deleted,
    and exactly FOUR entries must carry over BY IDENTITY (lit-folded
    into the hash) — the other four chunks' files are never rewritten.
    The oracle recomputes the remainder from the raw table."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mdw_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("c_custkey",)
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    row = c.agg(
        F.max("c_custkey").alias("mx"), F.min("c_custkey").alias("mn")
    ).first()
    mx, mn = int(row["mx"]), int(row["mn"])
    # first edge below the MIN key: this testdata's custkeys start at 0,
    # so a literal 0 lower edge would silently drop the min-key row
    bounds = [mn - 1] + [mx * i // 5 for i in range(1, 5)] + [mx]
    for i in range(5):
        chunk = c.filter(
            (F.col("c_custkey") > bounds[i])
            & (F.col("c_custkey") <= bounds[i + 1])
        )
        fmt.write("dw.cust", chunk, "append" if i else "overwrite")
    before = {e["dir"] for e in fmt._manifest("dw.cust")["entries"]}
    lo, hi = mx * 2 // 5 + 11, mx * 3 // 5 - 10
    fmt.delete_where("dw.cust", "c_custkey", lo, hi)
    after = {e["dir"] for e in fmt._manifest("dw.cust")["entries"]}
    return (
        fmt.read("dw.cust")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("entries_untouched", F.lit(len(before & after)))
    )


def _manifest_bloom_lookup_impl(spark, sf_dir):
    """Shared body for the bloom point-lookup query (r12, VERDICT r11
    task 4): customers (capped at 1200 rows so the per-entry filter
    never saturates across SFs) get an md5-scrambled ``uid`` —
    UNCLUSTERED by construction, every chunk's [min, max] spans the
    whole hex space — and land as five appends with
    ``bloom_cols=("uid",)``.  A point lookup on one uid must prune to
    (almost) one entry where min/max provably keeps all five;
    ``bloom_pruned`` lit-folds the proof into the value hash.  The
    oracle recomputes the matched row from the raw table."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mbl_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, bloom_cols=("uid",)
    )
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    mn = int(c.agg(F.min("c_custkey")).first()[0])
    base = c.filter(F.col("c_custkey") < mn + 1200).withColumn(
        "uid", F.md5(F.col("c_custkey").cast("string"))
    )
    cnt = base.count()
    # the 600th-smallest key (or the largest when the SF is tiny):
    # deterministic on both engines, no contiguity assumption
    target_key = (
        base.orderBy("c_custkey")
        .limit(min(600, cnt - 1) + 1)
        .agg(F.max("c_custkey"))
        .first()[0]
    )
    # quintile edges from the actual key list (scratch-sized: <=1200
    # keys on the driver, bounded at every SF by the cap above)
    keys = sorted(r[0] for r in base.select("c_custkey").collect())
    edges = [keys[0] - 1] + [
        keys[len(keys) * i // 5 - 1] for i in range(1, 5)
    ] + [keys[-1]]
    for i in range(5):
        chunk = base.filter(
            (F.col("c_custkey") > edges[i])
            & (F.col("c_custkey") <= edges[i + 1])
        )
        fmt.write("bl.cust", chunk, "append" if i else "overwrite")
    tuid = base.filter(F.col("c_custkey") == target_key).first()["uid"]
    kept, _m = fmt.prune_entries("bl.cust", {"uid": (tuid, tuid)})
    return (
        fmt.read_where("bl.cust", "uid", tuid, tuid)
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.round("c_acctbal", 2).alias("bal"),
        )
        .withColumn("bloom_pruned", F.lit(int(len(kept) <= 2)))
    )


@query(
    "manifest_bloom_lookup",
    oracle="""
    WITH mn AS (SELECT MIN(c_custkey) AS m FROM customer),
    b AS (
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer, mn
        WHERE c_custkey < mn.m + 1200
    ),
    t AS (
        SELECT c_custkey AS tk FROM b ORDER BY c_custkey
        LIMIT 1 OFFSET (
            SELECT LEAST(600, COUNT(*) - 1) FROM b
        )
    )
    SELECT b.c_custkey AS k,
           b.c_mktsegment AS seg,
           ROUND(b.c_acctbal, 2) AS bal,
           1 AS bloom_pruned
    FROM b, t WHERE b.c_custkey = t.tk
    """,
    # r12 gate rotation: the bloom pruning tier takes a driver row;
    # manifest_update_where demoted in exchange (its COW-DML family
    # stays gated via manifest_delete_where + the MOR rows, and the
    # pytest oracle-parity suite still hashes it at sf0.001)
    gate=False,  # skipping family: manifest_data_skipping carries the gate (r14 rotation)
)
def manifest_bloom_lookup(spark, sf_dir):
    return _manifest_bloom_lookup_impl(spark, sf_dir)



@query(
    "manifest_schema_evolution",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    t AS (
        SELECT c_custkey,
               CASE WHEN c_custkey <= m // 2 THEN c_mktsegment END AS mkt,
               CASE WHEN c_custkey > m // 2 THEN c_acctbal END AS bal
        FROM customer, mx
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN mkt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_mkt,
           CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_bal,
           ROUND(SUM(bal), 2) AS bal_sum
    FROM t
    """,
    gate=True,  # r14 rotation: column-mapping/schema evolution drives a gate row
)
def manifest_schema_evolution(spark, sf_dir):
    """Additive schema evolution + SAFE TYPE PROMOTION + COLUMN
    RENAME WITHOUT REWRITE end-to-end (schema-in-the-log, r9;
    promotion lattice r12; column mapping r13, VERDICT r12 task 4):
    customers land as two appends with DIFFERENT column sets — the
    lower half (c_custkey AS INT, c_mktsegment), then the key column
    RENAMES to ``cust_id`` (metadata-only, no data rewrite — Delta's
    column mapping as an alias registry in the stored schema), then
    the upper half appends UNDER THE NEW NAME (cust_id AS LONG,
    c_acctbal).  So the read must resolve ONE logical ``cust_id``
    (bigint) over an old file physically named ``c_custkey`` (int)
    and a new file named ``cust_id`` (long) — alias coalesce + type
    promotion composed, values exact, NULL-fill both ways for the
    half-present columns; the stored manifest schema holds the
    widened union under the new name with the old name in its alias
    metadata.  The REFUSED COLLISION is pinned too: renaming another
    column onto the retired ``c_custkey`` refuses (old files still
    carry that physical column), as does appending a frame that
    writes it.  A non-promotable change (long→string) still refuses
    loudly (plus the hypothesis lattice pins in
    tests/test_schema_properties.py)."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mse_", cleanup_atexit=True)
    fmt = ManifestFormat(spark, root, auto_compact_dirs=None)
    c = table(spark, sf_dir, "customer")
    mid = int(c.agg(F.max("c_custkey")).first()[0]) // 2
    fmt.write(
        "ev.cust",
        c.filter(F.col("c_custkey") <= mid).select(
            F.col("c_custkey").cast("int").alias("c_custkey"),
            "c_mktsegment",
        ),
        "overwrite",
    )
    # rename WITHOUT rewriting the landed file (metadata-only commit)
    fmt.rename_column("ev.cust", "c_custkey", "cust_id")
    fmt.write(
        "ev.cust",
        c.filter(F.col("c_custkey") > mid).select(
            F.col("c_custkey").cast("long").alias("cust_id"),
            "c_acctbal",
        ),
        "append",
    )
    m = fmt._manifest("ev.cust")
    stored = {f["name"]: f["type"] for f in m["schema"]["fields"]}
    assert set(stored) == {"cust_id", "c_mktsegment", "c_acctbal"}, stored
    assert stored["cust_id"] == "long", stored  # promoted in the log
    aliases = {
        f["name"]: (f.get("metadata") or {}).get("aliases")
        for f in m["schema"]["fields"]
    }
    assert aliases["cust_id"] == ["c_custkey"], aliases
    served = fmt.read("ev.cust")
    assert served.schema["cust_id"].dataType.simpleString() == "bigint"
    assert "c_custkey" not in served.columns
    # refused collision: the old physical name is retired — neither a
    # rename onto it nor an append writing it may reuse it
    for attempt in (
        lambda: fmt.rename_column("ev.cust", "c_acctbal", "c_custkey"),
        lambda: fmt.write(
            "ev.cust",
            c.limit(1).select(
                F.col("c_custkey").cast("long").alias("c_custkey")
            ),
            "append",
        ),
    ):
        try:
            attempt()
            raise AssertionError("reuse of a retired name must refuse")
        except (ValueError, TypeError):
            pass
    # a narrowing / incompatible change refuses loudly
    try:
        fmt.write(
            "ev.cust",
            c.limit(1).select(
                F.col("c_custkey").cast("string").alias("cust_id")
            ),
            "append",
        )
        raise AssertionError("long->string append must refuse")
    except TypeError:
        pass
    return fmt.read("ev.cust").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("c_mktsegment").isNull(), 1).otherwise(0)
        ).alias("null_mkt"),
        F.sum(
            F.when(F.col("c_acctbal").isNull(), 1).otherwise(0)
        ).alias("null_bal"),
        F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
    )


@query(
    "manifest_update_where",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer)
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(
               CASE WHEN c_custkey > m * 2 // 5 + 10
                     AND c_custkey <= m * 3 // 5 - 10
                    THEN ROUND(c_acctbal + 100.0, 2)
                    ELSE c_acctbal END
           ), 2) AS bal_sum,
           4 AS entries_untouched
    FROM customer, mx
    GROUP BY c_mktsegment
    """,
    gate=False,  # r12 rotation: demoted for manifest_bloom_lookup —
    # COW-DML family carried by manifest_delete_where + the MOR rows
)
def manifest_update_where(spark, sf_dir):
    """Row-level UPDATE with stats-bounded copy-on-write (r9
    ``update_where``): customers land as five range-chunked appends, a
    sub-range of the middle chunk gets ``SET c_acctbal =
    round(c_acctbal + 100.0, 2)``, and exactly FOUR entries must carry
    over BY IDENTITY (lit-folded into the hash).  The oracle
    recomputes the post-update aggregate from the raw table."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "muw_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("c_custkey",)
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    row = c.agg(
        F.max("c_custkey").alias("mx"), F.min("c_custkey").alias("mn")
    ).first()
    mx, mn = int(row["mx"]), int(row["mn"])
    bounds = [mn - 1] + [mx * i // 5 for i in range(1, 5)] + [mx]
    for i in range(5):
        chunk = c.filter(
            (F.col("c_custkey") > bounds[i])
            & (F.col("c_custkey") <= bounds[i + 1])
        )
        fmt.write("uw.cust", chunk, "append" if i else "overwrite")
    before = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest("uw.cust")["entries"]
    }
    lo, hi = mx * 2 // 5 + 11, mx * 3 // 5 - 10
    fmt.update_where(
        "uw.cust",
        "c_custkey",
        {"c_acctbal": "round(c_acctbal + 100.0, 2)"},
        lo,
        hi,
    )
    after = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest("uw.cust")["entries"]
    }
    return (
        fmt.read("uw.cust")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("entries_untouched", F.lit(len(before & after)))
    )


@query(
    "manifest_cdf_feed",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    cls AS (
        SELECT c.c_custkey, c.c_acctbal, mx.m,
               c_custkey > m // 2 AS upper_half,
               c_custkey > m // 10 AND c_custkey <= m // 5 AS deleted,
               c_custkey > m * 3 // 10 AND c_custkey <= m * 2 // 5
                   AS updated
        FROM customer c, mx
    ),
    feed AS (
        SELECT 'insert' AS _change_type, c_custkey, c_acctbal
        FROM cls WHERE upper_half
        UNION ALL
        SELECT 'delete', c_custkey, c_acctbal FROM cls WHERE deleted
        UNION ALL
        SELECT 'update_preimage', c_custkey, c_acctbal
        FROM cls WHERE updated
        UNION ALL
        SELECT 'update_postimage', c_custkey,
               ROUND(c_acctbal + 100.0, 2)
        FROM cls WHERE updated
    )
    SELECT _change_type,
           COUNT(*) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           ROUND(SUM(c_acctbal), 2) AS bal_sum
    FROM feed
    GROUP BY _change_type
    """,
    # r10: promoted to a driver row; r14: rotated out for its streaming
    # twin streaming_cdf_source, which consumes the SAME feed through
    # the warehouse_cdf readStream source (strictly more coverage)
    gate=False,
)
def manifest_cdf_feed(spark, sf_dir):
    """Row-level change data feed end-to-end (r9 ``read_changes_cdf``):
    customers stage as two halves (v1 overwrite, v2 append), a range
    is deleted (v3) and another updated (v4, ``SET c_acctbal += 100``);
    the feed since v1 must contain exactly the upper half as inserts,
    the deleted range as deletes, and the updated range as pre- AND
    postimages — the oracle recomputes every class from the raw table
    with the same range arithmetic.  A wrong or missing change row
    shifts a group's count/sum and breaks the hash."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "cdf_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("c_custkey",), cdf=True
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    m = int(c.agg(F.max("c_custkey")).first()[0])
    fmt.write("cdf.cust", c.filter(F.col("c_custkey") <= m // 2), "overwrite")
    fmt.write("cdf.cust", c.filter(F.col("c_custkey") > m // 2), "append")
    fmt.delete_where("cdf.cust", "c_custkey", m // 10 + 1, m // 5)
    fmt.update_where(
        "cdf.cust",
        "c_custkey",
        {"c_acctbal": "round(c_acctbal + 100.0, 2)"},
        m * 3 // 10 + 1,
        m * 2 // 5,
    )
    return (
        fmt.read_changes_cdf("cdf.cust", 1)
        .groupBy("_change_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("c_custkey").alias("key_sum"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
    )


@query(
    "manifest_merge_bounded",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    b AS (
        SELECT m * 2 // 5 AS b2,
               (m * 3 // 5 - m * 2 // 5) // 3 AS w
        FROM mx
    ),
    t AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey > b2 AND c_custkey <= b2 + w
                    THEN c_acctbal + 1000.0 ELSE c_acctbal END AS bal,
               c_custkey > b2 + w AND c_custkey <= b2 + 2 * w AS deleted,
               c_custkey > b2 AND c_custkey <= b2 + w AS updated
        FROM customer, b
    )
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(bal), 2) AS bal_sum,
           4 AS entries_untouched,
           (SELECT COUNT(*) FROM t WHERE updated) AS cdc_updates,
           (SELECT COUNT(*) FROM t WHERE deleted) AS cdc_deletes,
           0 AS cdc_inserts
    FROM t
    WHERE NOT deleted
    GROUP BY c_mktsegment
    """,
)
def manifest_merge_bounded(spark, sf_dir):
    """STATS-BOUNDED MERGE end-to-end (round-10 ``ManifestFormat.
    merge`` — the reference's M2 upsert, dags/dlt_sources/mongodb/
    __init__.py:61-67, re-expressed as Delta-style copy-on-write):
    customers land as five key-range chunks, then ONE merge batch
    updates a narrow middle slice (``c_acctbal += 1000``) while its
    delete keys cover a second adjacent slice whose documents carry no
    batch rows (the dlt root-key shrunk-array case).  Exactly FOUR
    chunks must carry over BY IDENTITY (lit-folded into the hash — a
    full-table rewrite breaks it), and the merge commit's CDC classes
    (update pre/postimages, deletes, zero inserts) are read back via
    ``read_changes_cdf`` and lit-folded too, pinning the change feed
    ACROSS a merge (round-9 refused here).  The oracle recomputes the
    surviving table and the class counts from the raw table with the
    same range arithmetic."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mmb_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("c_custkey",), cdf=True
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    row = c.agg(
        F.max("c_custkey").alias("mx"), F.min("c_custkey").alias("mn")
    ).first()
    mx, mn = int(row["mx"]), int(row["mn"])
    bounds = [mn - 1] + [mx * i // 5 for i in range(1, 5)] + [mx]
    for i in range(5):
        chunk = c.filter(
            (F.col("c_custkey") > bounds[i])
            & (F.col("c_custkey") <= bounds[i + 1])
        )
        fmt.write("mb.cust", chunk, "append" if i else "overwrite")
    base = fmt._manifest("mb.cust")["version"]
    before = {e["dir"] for e in fmt._manifest("mb.cust")["entries"]}
    b2 = mx * 2 // 5
    w = (mx * 3 // 5 - b2) // 3
    batch = c.filter(
        (F.col("c_custkey") > b2) & (F.col("c_custkey") <= b2 + w)
    ).withColumn("c_acctbal", F.col("c_acctbal") + F.lit(1000.0))
    keys = c.filter(
        (F.col("c_custkey") > b2) & (F.col("c_custkey") <= b2 + 2 * w)
    ).select("c_custkey")
    fmt.merge("mb.cust", batch, "c_custkey", delete_keys=keys)
    after = {e["dir"] for e in fmt._manifest("mb.cust")["entries"]}
    cls = {
        r["_change_type"]: int(r["n"])
        for r in fmt.read_changes_cdf("mb.cust", base)
        .groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    return (
        fmt.read("mb.cust")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("entries_untouched", F.lit(len(before & after)))
        .withColumn("cdc_updates", F.lit(cls.get("update_postimage", 0)))
        .withColumn("cdc_deletes", F.lit(cls.get("delete", 0)))
        .withColumn("cdc_inserts", F.lit(cls.get("insert", 0)))
    )


@query(
    "rollup_cdf_upsert",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    b AS (
        SELECT m * 2 // 5 AS b2,
               (m * 3 // 5 - m * 2 // 5) // 3 AS w
        FROM mx
    ),
    t AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey > b2 AND c_custkey <= b2 + w
                    THEN c_acctbal + 1000.0 ELSE c_acctbal END AS bal,
               c_custkey > b2 + w AND c_custkey <= b2 + 2 * w AS deleted
        FROM customer, b
    )
    SELECT c_mktsegment,
           ROUND(SUM(bal), 2) AS bal_sum,
           COUNT(*) AS n_rows
    FROM t
    WHERE NOT deleted
    GROUP BY c_mktsegment
    """,
)
def rollup_cdf_upsert(spark, sf_dir):
    """Retraction-aware rollup maintenance over an UPSERTED source
    (round 10 ``IncrementalAggSync.sync_from_cdf``): a maintained
    per-segment balance rollup bootstraps from the raw customers, the
    source then takes a MERGE (one range's balances +1000, an adjacent
    range purged via delete keys — the reference's M2 shape), and the
    rollup absorbs the change feed as SIGNED facts (postimage +,
    preimage/delete -) instead of refusing or rescanning.  The oracle
    recomputes the post-merge aggregate from the raw table — a drift
    in any retraction breaks the hash
    (plans/pipeline.py:IncrementalAggSync.sync_from_cdf)."""
    from ..fs import scratch_dir
    from .pipeline import IncrementalAggSync
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "rcdf_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("c_custkey",), cdf=True
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    fmt.write("raw.cust", c, "overwrite")
    agg = IncrementalAggSync(
        spark, root, "agg.seg_bal", group_cols=("c_mktsegment",),
        sum_cols=("c_acctbal",), table_format=fmt,
    )
    agg.sync_from_cdf(fmt, "raw.cust")  # bootstrap
    mx = int(c.agg(F.max("c_custkey")).first()[0])
    b2 = mx * 2 // 5
    w = (mx * 3 // 5 - b2) // 3
    batch = c.filter(
        (F.col("c_custkey") > b2) & (F.col("c_custkey") <= b2 + w)
    ).withColumn("c_acctbal", F.col("c_acctbal") + F.lit(1000.0))
    keys = c.filter(
        (F.col("c_custkey") > b2) & (F.col("c_custkey") <= b2 + 2 * w)
    ).select("c_custkey")
    fmt.merge("raw.cust", batch, "c_custkey", delete_keys=keys)
    agg.sync_from_cdf(fmt, "raw.cust")  # signed delta, no rescan
    return agg.read().select(
        "c_mktsegment",
        F.round(F.col("sum_c_acctbal"), 2).alias("bal_sum"),
        F.col("n_rows"),
    )


@query(
    "manifest_mor_delete",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    t AS (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               c_custkey > m * 2 // 5 + 10
                   AND c_custkey <= m * 3 // 5 - 10 AS deleted
        FROM customer, mx
    )
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(c_acctbal), 2) AS bal_sum,
           5 AS entries_untouched,
           (SELECT COUNT(*) FROM t WHERE deleted) AS cdf_deletes
    FROM t
    WHERE NOT deleted
    GROUP BY c_mktsegment
    """,
    gate=False,  # MOR family pytest-verified; COW manifest_delete_where carries the gate (r14 rotation)
)
def manifest_mor_delete(spark, sf_dir):
    """MERGE-ON-READ row-level DELETE (round 10 ``delete_where_mor`` —
    Delta deletion vectors as positional masks): customers land as
    five key-range chunks, a sub-range of the middle chunk is deleted,
    and ALL FIVE entries must survive byte-identical (lit-folded — the
    copy-on-write twin manifest_delete_where carries four and rewrites
    one; here the write is one mask dir).  Reads apply the mask, the CDF
    serves the delete rows (count lit-folded), and the oracle
    recomputes both from the raw table."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mor_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("c_custkey",), cdf=True
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    row = c.agg(
        F.max("c_custkey").alias("mx"), F.min("c_custkey").alias("mn")
    ).first()
    mx, mn = int(row["mx"]), int(row["mn"])
    bounds = [mn - 1] + [mx * i // 5 for i in range(1, 5)] + [mx]
    for i in range(5):
        chunk = c.filter(
            (F.col("c_custkey") > bounds[i])
            & (F.col("c_custkey") <= bounds[i + 1])
        )
        fmt.write("mor.cust", chunk, "append" if i else "overwrite")
    base = fmt._manifest("mor.cust")["version"]
    before = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest("mor.cust")["entries"]
    }
    fmt.delete_where_mor(
        "mor.cust", "c_custkey", mx * 2 // 5 + 11, mx * 3 // 5 - 10
    )
    after = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest("mor.cust")["entries"]
    }
    n_cdf = fmt.read_changes_cdf("mor.cust", base).count()
    return (
        fmt.read("mor.cust")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("entries_untouched", F.lit(len(before & after)))
        .withColumn("cdf_deletes", F.lit(int(n_cdf)))
    )


@query(
    "manifest_merge_converged",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    b AS (
        SELECT m * 2 // 5 AS b2,
               (m * 3 // 5 - m * 2 // 5) // 3 AS w
        FROM mx
    ),
    t AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey > b2 AND c_custkey <= b2 + w
                    THEN c_acctbal + 1000.0 ELSE c_acctbal END AS bal
        FROM customer, b
    )
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(bal), 2) AS bal_sum,
           0 AS pre_compact_prunable,
           1 AS post_compact_prunable,
           1 AS merge_bounded
    FROM t
    GROUP BY c_mktsegment
    """,
    gate=False,  # storage-verb family: manifest_merge_bounded carries the gate
)
def manifest_merge_converged(spark, sf_dir):
    """CLUSTER-ON-COMPACT end-to-end (r10): customers land as six
    hash-mod appends — each spans the WHOLE key space, so key-range
    stats prune NOTHING (lit-folded as pre_compact_prunable=0; the
    reference's ``_dlt_id`` merge key is a hash with exactly this
    shape).  One threshold compaction with ``cluster_by`` range-lands
    the tail with per-file stats, after which the same narrow range
    PRUNES (post_compact_prunable=1) and a micro-batch merge carries
    at least one file by identity (merge_bounded=1) — converging a
    random-key table to the layout the stats-bounded MERGE needs,
    as a side effect of the compaction the append path already runs.
    The oracle recomputes the surviving table and pins the three
    booleans."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mmc_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=4,
        stats_cols=("c_custkey",), cluster_by="c_custkey",
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    for i in range(6):
        sl = c.filter(F.pmod(F.col("c_custkey"), F.lit(6)) == i)
        fmt.write("mc.cust", sl, "append" if i else "overwrite")
    mx = int(c.agg(F.max("c_custkey")).first()[0])
    b2 = mx * 2 // 5
    w = (mx * 3 // 5 - b2) // 3
    pre_cand, pre_m = fmt.prune_entries("mc.cust", "c_custkey", b2 + 1, b2 + w)
    pre_prunable = len(pre_m["entries"]) - len(pre_cand)
    # compaction target sized from the actual table so the clustered
    # landing always yields several files at every SF
    target = max(4096, fmt.table_bytes("mc.cust") // 4)
    fmt.maybe_compact("mc.cust", target_file_bytes=target)
    post_cand, post_m = fmt.prune_entries(
        "mc.cust", "c_custkey", b2 + 1, b2 + w
    )
    post_prunable = len(post_m["entries"]) - len(post_cand)
    before = {(e["dir"], e.get("rel")) for e in post_m["entries"]}
    batch = c.filter(
        (F.col("c_custkey") > b2) & (F.col("c_custkey") <= b2 + w)
    ).withColumn("c_acctbal", F.col("c_acctbal") + F.lit(1000.0))
    fmt.merge("mc.cust", batch, "c_custkey")
    after = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest("mc.cust")["entries"]
    }
    return (
        fmt.read("mc.cust")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn(
            "pre_compact_prunable", F.lit(min(pre_prunable, 1))
        )
        .withColumn(
            "post_compact_prunable", F.lit(min(post_prunable, 1))
        )
        .withColumn("merge_bounded", F.lit(min(len(before & after), 1)))
    )


@query(
    "manifest_check_constraints",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(c_acctbal), 2) AS bal_sum,
           1 AS rejected
    FROM customer
    WHERE c_acctbal >= 0.0
    GROUP BY c_mktsegment
    """,
    gate=False,  # storage-verb family: manifest_data_skipping carries the gate
)
def manifest_check_constraints(spark, sf_dir):
    """CHECK-constraint enforcement end-to-end (r9
    ``add_constraint``): the non-negative-balance subset stages
    cleanly under ``CHECK (c_acctbal >= 0.0)``, then an append of the
    FULL table (TPC-H customers include negative balances) must be
    rejected ATOMICALLY — ``rejected`` lit-folds the refusal into the
    hash, and the final aggregate proves the table still holds exactly
    the clean subset (a leaked batch changes every group's count).
    The oracle recomputes the clean aggregate from the raw table."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mcc_", cleanup_atexit=True)
    fmt = ManifestFormat(spark, root, auto_compact_dirs=None)
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    fmt.write("cc.cust", c.filter(F.col("c_acctbal") >= 0.0), "overwrite")
    fmt.add_constraint("cc.cust", "nonneg_bal", "c_acctbal >= 0.0")
    rejected = 0
    try:
        fmt.write("cc.cust", c, "append")
    except ValueError:
        rejected = 1
    return (
        fmt.read("cc.cust")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("rejected", F.lit(rejected))
    )


@query(
    "table_diff_summary",
    oracle="""
    WITH b AS (
        SELECT c_custkey, c_name, c_nationkey,
               CASE WHEN c_custkey % 7 = 0
                    THEN ROUND(c_acctbal + 1.0, 2) ELSE c_acctbal
               END AS c_acctbal
        FROM customer WHERE c_custkey % 11 <> 0
    ),
    a AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer),
    d AS (
        SELECT COALESCE(a.c_custkey, b.c_custkey) AS k,
               CASE WHEN a.c_custkey IS NULL THEN 'added'
                    WHEN b.c_custkey IS NULL THEN 'removed'
                    WHEN a.c_acctbal = b.c_acctbal THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
    )
    SELECT status, COUNT(*) AS n FROM d GROUP BY 1
    """,
    gate=False,  # warehouse-tooling family; mechanics pinned in unit tests
)
def table_diff_summary(spark, sf_dir):
    """Keyed table diff (operators/joins.py:table_diff): customer vs a
    mutated copy (every 11th key dropped, every 7th repriced) —
    added/removed/changed/unchanged census.  Both sides hash to one
    fingerprint before the full-outer join, so the shuffle carries
    (key, md5), never the payload."""
    from ..operators.joins import table_diff

    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    mutated = c.filter(F.col("c_custkey") % 11 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 1.0, 2)
        ).otherwise(F.col("c_acctbal")),
    )
    return (
        table_diff(c, mutated, "c_custkey")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "full_outer_join_coverage",
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0
    ),
    o AS (
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders WHERE o_custkey % 2 = 0 GROUP BY 1
    )
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS k,
           c.c_mktsegment, o.n_orders
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    """,
    gate=False,  # join-family completion; semi/anti/left gated elsewhere
)
def full_outer_join_coverage(spark, sf_dir):
    """FULL OUTER equi join — the join type the reference never uses
    (SURVEY §2.3 'not present') but its users can: disjoint filters on
    both sides force left-only, right-only, and matched rows through
    one SortMergeJoin FullOuter.  (The engine also uses full-outer
    internally: read_realtime's state merge and table_diff.)"""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 3 == 0
    ).select("c_custkey", "c_mktsegment")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 2 == 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return j.select(
        F.coalesce(c["c_custkey"], o["o_custkey"]).alias("k"),
        "c_mktsegment",
        "n_orders",
    )


@query(
    "manifest_change_feed",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events WHERE event_id % 3 <> 0 GROUP BY event_type
    """,
    gate=False,  # warehouse-machinery family, with time travel / skipping
)
def manifest_change_feed(spark, sf_dir):
    """Append-only change feed end-to-end (``ManifestFormat
    .read_changes``): events land as three appends (event_id mod 3) and
    the feed is read SINCE the first commit — the hash pins that the
    delta is exactly batches 2 and 3, no re-emitted or lost rows.  This
    is the incremental-consumer surface: a downstream rollup sync reads
    O(new data) per cadence from the commit log instead of diffing
    table states."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mcf_", cleanup_atexit=True)
    fmt = ManifestFormat(spark, root, auto_compact_dirs=None)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    for i in range(3):
        fmt.write(
            "cf.ev",
            ev.filter(F.col("event_id") % 3 == i),
            "append" if i else "overwrite",
        )
    delta = fmt.read_changes("cf.ev", since_version=1)
    return delta.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@query(
    "manifest_clustered_skipping",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total,
           TRUE AS pruned
    FROM events WHERE value >= 100 AND value <= 120 GROUP BY event_type
    """,
    gate=False,  # warehouse-machinery family (time travel / skipping / feed)
)
def manifest_clustered_skipping(spark, sf_dir):
    """Range-clustered rewrite + file-level skipping end-to-end
    (``ManifestFormat.cluster``/``read_where``): events land in ingest
    order (value uncorrelated), the table is rewritten range-clustered
    on ``value`` into 8 files with per-file min/max entries, and a
    narrow value window is answered from the pruned file subset — the
    ``pruned`` column pins (lit-folded into the hash) that the
    manifest prune actually dropped files before the scan."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mcs_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("value",)
    )
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    fmt.write("cs.ev", ev, "overwrite")
    fmt.cluster("cs.ev", "value", n_files=8)
    kept, m = fmt.prune_entries("cs.ev", "value", 100.0, 120.0)
    return (
        fmt.read_where("cs.ev", "value", 100.0, 120.0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .withColumn("pruned", F.lit(len(kept) < len(m["entries"])))
    )


@query(
    "manifest_merge_mor",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    b AS (
        SELECT m * 2 // 5 AS b2,
               (m * 3 // 5 - m * 2 // 5) // 3 AS w
        FROM mx
    ),
    t AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey > b2 AND c_custkey <= b2 + w
                    THEN ROUND(c_acctbal + 1000.0, 2) ELSE c_acctbal END AS bal,
               c_custkey > b2 + w AND c_custkey <= b2 + 2 * w AS deleted
        FROM customer, b
    )
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(bal), 2) AS bal_sum,
           5 AS entries_untouched,
           1 AS new_dirs
    FROM t
    WHERE NOT deleted
    GROUP BY c_mktsegment
    """,
    gate=False,  # storage-verb family: manifest_merge_bounded carries the gate
)
def manifest_merge_mor(spark, sf_dir):
    """MERGE as MERGE-ON-READ (round 11 ``merge_mor`` — Delta's
    DV-backed MERGE): customers land as five key-range chunks, one
    range's balances upsert (+1000) and an adjacent range purges via
    delete keys — the same M2 shape as manifest_merge_bounded — but
    ALL FIVE seeded entries survive byte-identical (lit-folded) and
    exactly ONE new dir lands (the batch): the matched keys' old rows
    become a positional (file, row-index) delete mask applied at read,
    so write cost is O(batch), independent of touched-file size.  The
    oracle recomputes the post-merge table from raw
    (plans/table_format.py:ManifestFormat.merge_mor)."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mmor_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("c_custkey",)
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    row = c.agg(
        F.max("c_custkey").alias("mx"), F.min("c_custkey").alias("mn")
    ).first()
    mx, mn = int(row["mx"]), int(row["mn"])
    bounds = [mn - 1] + [mx * i // 5 for i in range(1, 5)] + [mx]
    for i in range(5):
        chunk = c.filter(
            (F.col("c_custkey") > bounds[i])
            & (F.col("c_custkey") <= bounds[i + 1])
        )
        fmt.write("mm.cust", chunk, "append" if i else "overwrite")
    before = {
        (e["dir"], e.get("rel")) for e in fmt._manifest("mm.cust")["entries"]
    }
    b2 = mx * 2 // 5
    w = (mx * 3 // 5 - b2) // 3
    batch = c.filter(
        (F.col("c_custkey") > b2) & (F.col("c_custkey") <= b2 + w)
    ).withColumn("c_acctbal", F.round(F.col("c_acctbal") + F.lit(1000.0), 2))
    keys = c.filter(
        (F.col("c_custkey") > b2) & (F.col("c_custkey") <= b2 + 2 * w)
    ).select("c_custkey")
    fmt.merge_mor("mm.cust", batch, "c_custkey", delete_keys=keys)
    after = {
        (e["dir"], e.get("rel")) for e in fmt._manifest("mm.cust")["entries"]
    }
    return (
        fmt.read("mm.cust")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("entries_untouched", F.lit(len(before & after)))
        .withColumn("new_dirs", F.lit(len(after - before)))
    )


@query(
    "manifest_update_mor",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer)
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(SUM(
               CASE WHEN c_custkey > m * 2 // 5 + 10
                     AND c_custkey <= m * 3 // 5 - 10
                    THEN ROUND(c_acctbal + 100.0, 2)
                    ELSE c_acctbal END
           ), 2) AS bal_sum,
           5 AS entries_untouched,
           1 AS new_dirs
    FROM customer, mx
    GROUP BY c_mktsegment
    """,
    gate=False,  # storage-verb family: manifest_merge_bounded carries the gate
)
def manifest_update_mor(spark, sf_dir):
    """Row-level UPDATE as MERGE-ON-READ (round 11 ``update_where_mor``):
    same shape as manifest_update_where, but ALL FIVE seeded entries
    survive byte-identical (lit-folded) and exactly ONE new dir lands
    — the postimages; matched old rows drop via a positional mask
    at read time, so write cost is O(matched rows), not O(candidate
    entries' content).  The oracle recomputes the post-update
    aggregate from the raw table
    (plans/table_format.py:ManifestFormat.update_where_mor)."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mum_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("c_custkey",)
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    row = c.agg(
        F.max("c_custkey").alias("mx"), F.min("c_custkey").alias("mn")
    ).first()
    mx, mn = int(row["mx"]), int(row["mn"])
    bounds = [mn - 1] + [mx * i // 5 for i in range(1, 5)] + [mx]
    for i in range(5):
        chunk = c.filter(
            (F.col("c_custkey") > bounds[i])
            & (F.col("c_custkey") <= bounds[i + 1])
        )
        fmt.write("um.cust", chunk, "append" if i else "overwrite")
    before = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest("um.cust")["entries"]
    }
    lo, hi = mx * 2 // 5 + 11, mx * 3 // 5 - 10
    fmt.update_where_mor(
        "um.cust",
        "c_custkey",
        {"c_acctbal": "round(c_acctbal + 100.0, 2)"},
        lo,
        hi,
    )
    after = {
        (e["dir"], e.get("rel"))
        for e in fmt._manifest("um.cust")["entries"]
    }
    return (
        fmt.read("um.cust")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .withColumn("entries_untouched", F.lit(len(before & after)))
        .withColumn("new_dirs", F.lit(len(after - before)))
    )


@query(
    "manifest_concurrent_upserts",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    seed AS (
        SELECT c_custkey AS k, ROUND(c_acctbal * 2, 2) AS bal
        FROM customer, mx WHERE c_custkey <= m // 4
    ),
    appended AS (
        SELECT c_custkey + m AS k, ROUND(c_acctbal, 2) AS bal
        FROM customer, mx
        WHERE c_custkey > m // 4 AND c_custkey <= m // 2
    )
    SELECT k, bal FROM seed UNION ALL SELECT k, bal FROM appended
    """,
    gate=True,  # r14 rotation: OCC (concurrent writers) drives a gate row
)
def manifest_concurrent_upserts(spark, sf_dir):
    """MULTI-WRITER commits end-to-end (optimistic concurrency, r13,
    VERDICT r12 task 1): two appender threads land disjoint key
    ranges while two merger threads upsert every seed key — all four
    racing on ONE ManifestFormat table.  The mergers write IDENTICAL
    batches (bal doubled), so every serialization of the schedule
    yields the same final state and the oracle can hash it exactly:
    blind appends rebase through concurrent commits, conflicting
    merges recompute (`_classify_conflict` / `_retry_conflicts`,
    plans/table_format.py) — no lost update, no duplicate key, which
    is precisely what this hash pins.  The thread-shape stress (lost
    batches, serialized history) lives in tests/test_concurrency.py;
    this row keeps the verb under the driver's oracle gate."""
    import threading

    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "mcu_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("k",)
    )
    c = table(spark, sf_dir, "customer")
    m = int(c.agg(F.max("c_custkey")).first()[0])
    seed = c.filter(F.col("c_custkey") <= m // 4).select(
        F.col("c_custkey").alias("k"),
        F.round("c_acctbal", 2).alias("bal"),
    )
    fmt.write("cc.t", seed, "overwrite")
    upsert = seed.select("k", F.round(F.col("bal") * 2, 2).alias("bal"))
    app = (
        c.filter(
            (F.col("c_custkey") > m // 4) & (F.col("c_custkey") <= m // 2)
        )
        .select(
            (F.col("c_custkey") + F.lit(m)).alias("k"),
            F.round("c_acctbal", 2).alias("bal"),
        )
        .persist()
    )
    half = app.filter(F.col("k") % 2 == 0)
    other_half = app.filter(F.col("k") % 2 == 1)
    errors: list = []
    barrier = threading.Barrier(4)

    def run(fn):
        def go():
            try:
                barrier.wait(timeout=120)
                fn()
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        return threading.Thread(target=go)

    threads = [
        run(lambda: fmt.writer_copy().write("cc.t", half, "append")),
        run(lambda: fmt.writer_copy().write("cc.t", other_half, "append")),
        run(lambda: fmt.writer_copy().merge("cc.t", upsert, "k")),
        run(lambda: fmt.writer_copy().merge("cc.t", upsert, "k")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    # a writer still alive after the timeout means the final read
    # would race in-flight commits — fail loudly naming the hung
    # thread instead of surfacing as a confusing oracle hash mismatch
    hung = [i for i, t in enumerate(threads) if t.is_alive()]
    if hung:
        raise TimeoutError(
            f"concurrent-upsert writer thread(s) {hung} still running "
            "after 600s join timeout; refusing to read a table with "
            "in-flight commits"
        )
    app.unpersist()
    if errors:
        raise errors[0]
    return fmt.read("cc.t").select("k", "bal")


@query(
    "manifest_snapshot_pinned",
    oracle="""
    WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    lower AS (
        SELECT c_custkey AS k, ROUND(c_acctbal, 2) AS bal
        FROM customer, mx WHERE c_custkey <= m // 2
    ),
    head AS (
        SELECT k, bal FROM lower, mx WHERE k > m // 8
        UNION ALL
        SELECT c_custkey AS k, ROUND(c_acctbal, 2) AS bal
        FROM customer, mx WHERE c_custkey > m // 2
    )
    SELECT 'snapshot' AS src, k, bal FROM lower
    UNION ALL
    SELECT 'head' AS src, k, bal FROM head
    """,
    gate=False,  # storage-verb family: manifest_data_skipping carries the gate
)
def manifest_snapshot_pinned(spark, sf_dir):
    """PINNED-SNAPSHOT reads end-to-end (r13, VERDICT r12 task 5): a
    handle taken before an append + a stats-bounded delete must keep
    serving the creation-time state on BOTH its reads — the full read
    and the skip-read — while the per-call head read serves the new
    state.  The returned frame unions the handle's post-commit read
    with the head read, flagged, so the hash pins both sides
    (plans/table_format.py:TableSnapshot)."""
    from ..fs import scratch_dir
    from .table_format import ManifestFormat

    root = scratch_dir(spark, "msp_", cleanup_atexit=True)
    fmt = ManifestFormat(
        spark, root, auto_compact_dirs=None, stats_cols=("k",)
    )
    c = table(spark, sf_dir, "customer")
    m = int(c.agg(F.max("c_custkey")).first()[0])
    lower = c.filter(F.col("c_custkey") <= m // 2).select(
        F.col("c_custkey").alias("k"),
        F.round("c_acctbal", 2).alias("bal"),
    )
    fmt.write("sp.t", lower, "overwrite")
    snap = fmt.snapshot()
    snap.version("sp.t")  # pin before the concurrent commits
    fmt.write(
        "sp.t",
        c.filter(F.col("c_custkey") > m // 2).select(
            F.col("c_custkey").alias("k"),
            F.round("c_acctbal", 2).alias("bal"),
        ),
        "append",
    )
    fmt.delete_where("sp.t", "k", 0, m // 8)
    pinned = snap.read_where("sp.t", "k", 0, m).select("k", "bal")
    # the handle's plain read agrees with its skip-read (two reads of
    # one handle can never straddle a commit — that is the contract)
    assert snap.read("sp.t").count() == pinned.count()
    return (
        pinned.select(F.lit("snapshot").alias("src"), "k", "bal")
        .unionByName(
            fmt.read("sp.t").select(F.lit("head").alias("src"), "k", "bal")
        )
    )

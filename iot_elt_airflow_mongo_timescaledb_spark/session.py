"""SparkSession factory + catalog bootstrap.

Reference parity: the reference delegates execution to TimescaleDB and
namespaces models into ``raw``/``stage``/``agg``/``examples`` schemas
(reference ``macros/generate_schema_name.sql:1-13``,
``dbt_project.yml:32-42``).  Here the SparkSession *is* the engine and
the schemas become catalog databases.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS = ("raw", "stage", "agg", "examples")


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny driver-side relation as a SINGLE-partition DataFrame.

    ``spark.createDataFrame(list, ...)`` parallelizes the list into
    ``defaultParallelism`` Python partitions; every evaluation of the
    frame then pays one Python-worker round trip PER partition — and a
    ``coalesce(1)`` (the 1-row cursor/meta write pattern) serializes
    all of them into one task: ~5 s per write at local[32], measured
    (OPTIMIZATION_r15.md §cursor-commit).  One slice = one round trip
    (~0.3 s), and downstream unions/joins stop dragging 32 empty
    Python partitions into every plan that embeds the frame.

    r16: when the schema is explicit and the values are plain scalars
    (or arrays of them), the frame is built from LITERALS over a
    1-partition ``range(1)`` instead — an all-JVM plan that pays ZERO
    Python-worker round trips, at creation and (the part that
    compounds) at every downstream re-evaluation of a plan embedding
    it (the stats-bounded merge evaluates its source twice).  Measured:
    0.20 s vs 0.29 s per 1-row write at local[8].  Anything the fast
    path cannot express falls back to the single-slice RDD form — so
    does a value whose Python type does not fit its field: a non-ANSI
    ``lit().cast()`` would turn it into a silent NULL, while
    ``createDataFrame`` verifies the row and fails loudly."""
    rows = [tuple(r) for r in rows]
    df = _local_rows_jvm(spark, rows, schema)
    if df is not None:
        return df
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


#: fast-path size cap — beyond this the literal expression tree costs
#: more to plan than one Python round trip costs to run
_LOCAL_ROWS_LIT_CAP = 512


def _local_rows_jvm(spark: SparkSession, rows: list, schema):
    """All-JVM literal relation for :func:`local_rows`, or ``None``
    when the rows/schema need the generic RDD path (no explicit field
    types, exotic value types, empty input, or very many rows)."""
    import datetime
    import decimal

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not rows or len(rows) > _LOCAL_ROWS_LIT_CAP:
        return None
    if isinstance(schema, T.StructType):
        st = schema
    elif isinstance(schema, str):
        try:
            st = T._parse_datatype_string(schema)
        except Exception:
            return None
        if not isinstance(st, T.StructType):
            return None
    else:
        return None
    # Python types each field type takes as a literal: an int may fill
    # a fractional field, a bool only a boolean one; integral fields
    # also bound the value, so no cast wraps around
    fits = {
        T.BooleanType: (bool,),
        T.ByteType: (int,), T.ShortType: (int,),
        T.IntegerType: (int,), T.LongType: (int,),
        T.FloatType: (float, int), T.DoubleType: (float, int),
        T.DecimalType: (decimal.Decimal, int),
        T.StringType: (str,),
        T.BinaryType: (bytes, bytearray),
        T.DateType: (datetime.date,),
        T.TimestampType: (datetime.datetime,),
        T.TimestampNTZType: (datetime.datetime,),
    }
    bits = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}

    def check(v, dt, name):
        ok = fits.get(type(dt), ())
        if not isinstance(v, ok) or (isinstance(v, bool) and bool not in ok):
            raise TypeError(f"{type(v).__name__} value in {dt} field {name}")
        n = bits.get(type(dt))
        if n is not None and not -(2 ** (n - 1)) <= v < 2 ** (n - 1):
            raise TypeError(f"{v} overflows {dt} field {name}")

    def expr(v, f):
        if v is None:
            return F.lit(None).cast(f.dataType)
        if isinstance(f.dataType, T.ArrayType) and isinstance(
            v, (list, tuple)
        ):
            for x in v:
                if x is not None:
                    check(x, f.dataType.elementType, f.name)
            if not v:
                return F.array().cast(f.dataType)  # empty, NOT null
            return F.array(*[F.lit(x) for x in v]).cast(f.dataType)
        check(v, f.dataType, f.name)
        return F.lit(v).cast(f.dataType)

    try:
        structs = [
            F.struct(
                *[expr(v, f).alias(f.name) for v, f in zip(r, st.fields)]
            )
            for r in rows
            if len(r) == len(st.fields) or _raise_width(r, st)
        ]
        return spark.range(1, numPartitions=1).select(
            F.inline(F.array(*structs))
        )
    except TypeError:
        return None


def _raise_width(r, st):
    raise TypeError(f"row width {len(r)} != {len(st.fields)} fields")


def get_spark(app_name: str = "iot-elt-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    local[N] = one JVM; shuffle partitions sized to cores (the default 200
    over-parallelizes small local runs).  On a real cluster the same code
    runs unchanged — AQE coalesces post-shuffle partitions at runtime so
    the static setting only seeds the initial plan.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # warehouse tables partition by day-string keys ('20200201');
        # without this Spark would re-infer them as integers on read
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # catalog tables (bucketed layouts) land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def bootstrap_catalog(spark: SparkSession) -> None:
    """M4 — the reference's schema namespaces as catalog databases
    (macros/generate_schema_name.sql:1-13, dbt_project.yml:32-42)."""
    for schema in SCHEMAS:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata parquet as a DataFrame (lazy scans)."""
    from .plans.registry import table

    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (SQL entry point)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs

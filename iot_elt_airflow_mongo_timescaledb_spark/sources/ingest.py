"""Document ingest: JSON/parquet document source → normalized raw layer.

Reimplements the reference's extract path Spark-natively:

- S13 JSON bootstrap  (mongo-init.js:14-32)        → ``read_documents``
- S8  BSON-ish type normalization (helpers.py:323-336) → ``normalize_bson``
- S9/T7 incremental cursor (helpers.py:48-103)     → ``IncrementalCursor``
- T8  pk-dedup of the >= boundary re-read (helpers.py:93-96, __init__.py:64)
- S10 flatten (dlt normalize)                      → ``sources.flatten``

The cursor protocol is the reference's exactly: re-extract everything
with ``cursor_field >= last_value`` (dup-tolerant), dedup by primary
key downstream, then persist the new max.  The new max is observed on
the pass that materializes the batch, and the state is a small JSON
file read and written through the Hadoop FileSystem: the cursor costs
no Spark job.
"""

from __future__ import annotations

import datetime
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_documents(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """S13 — JSON document source (multiLine handles pretty-printed
    fixture arrays, like ``insertMany(JSON.parse(file))``)."""
    reader = spark.read.option("multiLine", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def normalize_bson(df: DataFrame, epoch_cols: tuple[str, ...] = ()) -> DataFrame:
    """S8 — the BSON value conversions, as cast expressions.

    The reference maps ObjectId/Decimal128→str and datetime/Timestamp→
    tz-aware datetime (helpers.py:323-336).  Sparkside, JSON already
    lands as string/long; what remains is epoch-seconds → timestamp for
    the declared columns (negative = pre-1970 works: generator.py dob).
    """
    for c in epoch_cols:
        if c in df.columns:
            df = df.withColumn(c, F.timestamp_seconds(F.col(c)))
    return df


def dedup_by_pk(df: DataFrame, pk: str = "_id") -> DataFrame:
    """T8 — drop boundary re-read duplicates by primary key (keeps an
    arbitrary winner, like dlt's merge on ``primary_key='_id'``)."""
    if pk in df.columns:
        return df.dropDuplicates([pk])
    return df


class IncrementalCursor:
    """S9/T7 — persisted per-source high-watermark (``last_value``).

    ``filter()`` applies the reference's ``{cursor_field: {"$gte":
    last_value}}`` predicate (helpers.py:93-96): *inclusive* lower bound,
    so boundary docs re-read and pk-dedup cleans up.  ``commit()``
    persists the new max after a successful load; the caller observes
    that max on a pass it already makes (``HealthPipeline._sync_one``).

    The state is ``_meta_cursor_<source>.json``, one ``{"type",
    "value"}`` object for a long, timestamp or string cursor.  The
    parquet ``_meta_cursor_<source>`` directory that earlier builds
    wrote is not read: the first sync after the upgrade re-extracts
    the source once, which converges (raw merges on ``_dlt_id``, a
    hash of the primary key, and the steps rollup skips rows at or
    below its committed batch id)."""

    #: JSON state codecs per cursor type: (python type, encode, decode)
    _CODECS = {
        "long": (int, int, int),
        "timestamp": (
            datetime.datetime,
            datetime.datetime.isoformat,
            datetime.datetime.fromisoformat,
        ),
        "string": (str, str, str),
    }

    def __init__(self, spark: SparkSession, state_dir: str, source: str, cursor_field: str):
        from ..fs import HadoopFS, join_uri

        self.spark = spark
        self.state_path = join_uri(state_dir, f"_meta_cursor_{source}.json")
        self.cursor_field = cursor_field
        self._fs = HadoopFS(spark)

    def last_value(self):
        # missing state == first run; anything ELSE (a torn or
        # hand-edited file, permission error) must raise — treating it
        # as a first run would silently re-extract the entire source
        # history.  Existence goes through the Hadoop FileSystem
        # (fs.py), NEVER os.path: on the scheme-qualified warehouse
        # roots the rest of the repo supports (hdfs://, s3a://),
        # os.path answers "missing" for a POPULATED cursor.
        if not self._fs.exists(self.state_path):
            return None
        text = self._fs.read_text(self.state_path)
        try:
            state = json.loads(text)
            return self._CODECS[state["type"]][2](state["value"])
        except (ValueError, KeyError, TypeError) as e:
            raise ValueError(
                f"cursor state {self.state_path} is unreadable "
                f"({text[:80]!r}); restore it or delete it to re-extract "
                "the source"
            ) from e

    _UNSET = object()

    def filter(self, df: DataFrame, lv=_UNSET) -> DataFrame:
        """``lv`` lets a caller that already fetched :meth:`last_value`
        this batch skip the re-read (one cursor-state read per sync).
        ``None`` is a meaningful value (first run), hence the sentinel
        default."""
        if lv is self._UNSET:
            lv = self.last_value()
        if lv is None:
            return df
        return df.filter(F.col(self.cursor_field) >= F.lit(lv))

    def commit(self, value) -> None:
        """Persist ``value``, the loaded batch's max of the cursor
        field (``None`` — an empty batch — keeps the stored state).  A
        type without a JSON codec refuses here, before anything is
        written."""
        if value is None:
            return
        kind = next(
            (
                k
                for k, (t, _, _) in self._CODECS.items()
                if type(value) is t
            ),
            None,
        )
        if kind is None:
            raise TypeError(
                f"cursor {self.cursor_field!r}: cannot store a "
                f"{type(value).__name__} value; supported cursor types "
                f"are {sorted(self._CODECS)}"
            )
        self._fs.write_text(
            self.state_path,
            json.dumps({"type": kind, "value": self._CODECS[kind][1](value)}),
            overwrite=True,
        )


def reconcile_schema_drift(wh, table_name: str, df: DataFrame) -> DataFrame:
    """dlt's inferred-schema EVOLUTION at the ingest seam (r15, VERDICT
    r14 task 3) — the reference's headline behavior: "raw data ...
    with inferred and evolved raw schemas" (reference README.md:11; dlt
    normalize, dags/iot_mongo_extract_to_dwh.py:6-7).  A document
    batch whose inferred schema DRIFTED from the stored table lands
    instead of refusing:

    - **Additive** columns (new scalar field, new flattened nested
      field): pass through — the storage merge evolves additively.
    - **Lattice widenings** (byte→short→int→long, float→double,
      decimal precision): pass through — the commit log promotes the
      stored type on append/merge (``_promoted_type``); a NARROWER
      batch column casts up to the stored type here so the parquet
      format's union path is type-stable too.
    - **JSON numeric split** (``long`` stored vs ``double`` inferred —
      Spark infers every JSON integer as long, so one fractional value
      flips the whole column): dlt's VARIANT-column semantics, row-
      wise.  Values that are exactly representable integers demote to
      the stored long column; genuinely fractional / out-of-long-range
      values land in an additive ``<col>__v_double`` column (dlt's
      ``__v_<type>`` naming).  Lossless both ways — ``long→double``
      is NOT blanket-promoted because longs above 2^53 would silently
      lose precision.  A long batch into an already-double stored
      column demotes/variants the same way, symmetrically.
    - **Anything else** (string↔numeric, scalar↔struct, nested edits)
      refuses loudly naming the column — not provably lossless.

    Applied per flattened table inside ``root_key_merge``, so parent
    and child tables evolve consistently on BOTH the batch and
    streaming document paths."""
    from pyspark.sql.types import DoubleType, LongType

    if not wh.exists(table_name):
        return df
    # local import: table_format imports the connector layer's
    # siblings; keep this module import-light
    from ..plans.table_format import ManifestFormat

    stored = {f.name: f.dataType for f in wh.read(table_name).schema.fields}

    def split_numeric(frame: DataFrame, col: str, narrow_t) -> DataFrame:
        """Row-wise variant split: integral doubles demote to the
        long column, the rest lands in ``<col>__v_double``.  The
        roundtrip check alone is fooled at the 2^63 boundary — Spark's
        ``cast('long')`` SATURATES, and saturate-then-round lands back
        on the original double (2^63 → Long.MaxValue → 2^63), so a
        value the long column cannot hold would demote silently OFF BY
        ONE; the explicit range guard keeps those in the variant
        column (review r15)."""
        c = F.col(col)
        in_long_range = (c >= F.lit(float(-(2**63)))) & (
            c < F.lit(float(2**63))
        )
        demotable = c.eqNullSafe(c.cast("long").cast("double")) & (
            in_long_range | c.isNull()
        )
        return frame.withColumn(
            f"{col}__v_double", F.when(~demotable, c)
        ).withColumn(
            col, F.when(demotable, c.cast(narrow_t))
        )

    for f in df.schema.fields:
        st = stored.get(f.name)
        if st is None or st == f.dataType:
            continue
        wide = ManifestFormat._promoted_type(st, f.dataType)
        if wide is not None:
            if wide == st:
                df = df.withColumn(f.name, F.col(f.name).cast(st))
            # batch wider on the lattice: the format promotes the log
            continue
        if isinstance(st, LongType) and isinstance(f.dataType, DoubleType):
            df = split_numeric(df, f.name, st)
            continue
        if isinstance(st, DoubleType) and isinstance(f.dataType, LongType):
            # symmetric: longs exactly representable as float64 coerce
            # (dlt's bigint→double); the precision-losing tail (>2^53)
            # keeps its exact value in a variant bigint column.  The
            # exactness check runs on the ORIGINAL long — checking
            # after the cast could never see the loss.  Long.MaxValue
            # needs the extra bound: its double rounds UP to 2^63 and
            # the saturating cast-back lands on Long.MaxValue again, so
            # the roundtrip alone would declare the lossy coercion
            # "exact" (review r15).
            c = F.col(f.name)
            exact = c.eqNullSafe(c.cast("double").cast("long")) & (
                (c.cast("double") < F.lit(float(2**63))) | c.isNull()
            )
            df = df.withColumn(
                f"{f.name}__v_bigint", F.when(~exact, c)
            ).withColumn(f.name, F.when(exact, c.cast("double")))
            continue
        raise ValueError(
            f"document batch for {table_name} changed column "
            f"{f.name!r} from {st.simpleString()} to "
            f"{f.dataType.simpleString()} — not a safe widening and "
            "not the JSON long/double split; rewrite the table "
            "explicitly (replace/overwrite) if the change is intended"
        )
    return df

"""Pluggable table-format seam under ``Warehouse`` — the storage verbs.

The reference delegates storage transactionality to TimescaleDB (its
warehouse is a Postgres service, ``docker-compose.yaml:307``): dbt's
incremental/upsert materializations compile to transactional
INSERT/UPDATE inside that server, so a died run never leaves a
half-visible table.  This repo's default storage is plain parquet on a
Hadoop-compatible filesystem, where the equivalent guarantee is
hand-built from a two-phase staging write + metadata-only directory
swap (single-table atomic on HDFS/local rename).  On raw object stores
that rename is a server-side COPY, and nothing here gives CROSS-table
atomicity (``root_key_merge`` commits parent and child tables one
rename at a time — reader-visible skew in between, documented at
``plans/pipeline.py``).

Both gaps are exactly what Delta Lake / Iceberg exist to close — and
both expose the same verbs this module factors out.  ``Warehouse``
keeps every piece of ENGINE-independent semantics (watermark append
predicate, merge plan construction, SCD-2 interval modeling, compaction
sizing, retention policy validation) and speaks to storage only through
a :class:`TableFormat`:

======================  ==========================  =======================
verb                    ParquetFormat (here)        Delta/Iceberg impl
======================  ==========================  =======================
``exists/read``         FS listing / parquet scan   catalog lookup / scan
``write(append)``       parquet append              transactional append
``replace_atomic``      staging write + dir swap    overwrite txn commit
``merge``               anti-join+union+replace     MERGE INTO
``dyn_part_overwrite``  per-partition dir commit    replaceWhere txn
``drop_partitions``     hive dir deletes            DELETE WHERE + compact
``recover``             staging-dir restoration     no-op (log truncation)
======================  ==========================  =======================

No Delta/Iceberg jars ship in this image, so the seam carries two
concrete implementations of its own: :class:`ParquetFormat` (the
default — staging write + directory swap) and :class:`ManifestFormat`
(a commit-log format in the Delta/Iceberg design: immutable data
directories + a versioned manifest, where every transaction is one
small-file rename and partition retention/backfill are manifest edits).
The materialize/recovery matrix runs through the seam unchanged
(tests/test_materialize.py, tests/test_table_format.py), and the same
Warehouse semantics pass on the manifest format
(tests/test_manifest_format.py).
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame, SparkSession

from ..fs import HadoopFS, join_uri

# committed data dirs are IMMUTABLE (uuid-named, written exactly once,
# never appended to — vacuum deletes whole dirs), so the physical
# parquet schema inferred for a (basePath, paths) read is a pure
# function of the key and can be memoized process-wide: every re-read
# of the same dir then passes an explicit schema and skips the
# mergeSchema footer-inference job Spark otherwise runs per read
# (~10-18 such jobs per storage lifecycle; r15 optimization round).
# This caches SCHEMAS (metadata), never row data — each query still
# computes from the parquet inputs.
#
# SAFETY INVARIANT: a key must only ever map to one physical schema —
# true for write-once dirs, and for the mutable staging-swap format's
# keys because they embed the commit marker's mtime (a new committed
# write = a new key).  Any future verb that rewrites a data dir IN
# PLACE must invalidate (or re-key) its entries here.  Eviction is LRU
# one entry at a time (r16; the r15 wholesale clear() re-paid footer
# inference for every live dir at once when the cap was hit).  Stale
# keys of vacuumed/dropped dirs are never re-read (uuid dir names are
# never reused) and age out of the LRU.  One lock guards both verbs:
# a get REORDERS the LRU, and the threaded ``sync_all`` / parallel
# ``HealthPipeline.sync`` read and write tables from several threads.
import threading
from collections import OrderedDict

_DIR_SCHEMA_CACHE: OrderedDict[tuple, object] = OrderedDict()
_DIR_SCHEMA_CACHE_CAP = 4096
_DIR_SCHEMA_LOCK = threading.Lock()


def _dir_schema_get(key: tuple):
    with _DIR_SCHEMA_LOCK:
        schema = _DIR_SCHEMA_CACHE.get(key)
        if schema is not None:
            _DIR_SCHEMA_CACHE.move_to_end(key)
        return schema


def _dir_schema_put(key: tuple, schema) -> None:
    with _DIR_SCHEMA_LOCK:
        if key in _DIR_SCHEMA_CACHE:
            _DIR_SCHEMA_CACHE.move_to_end(key)
        elif len(_DIR_SCHEMA_CACHE) >= _DIR_SCHEMA_CACHE_CAP:
            _DIR_SCHEMA_CACHE.popitem(last=False)
        _DIR_SCHEMA_CACHE[key] = schema


def _enc_stat(v):
    """Encode one min/max stat for JSON manifest storage, with an
    ORDER-SAFETY tag:

    - ``'native'`` — int/float/bool/str/None: JSON-native, compares in
      its own domain;
    - ``'iso'`` — datetime/date, stored as a zero-padded ISO string
      whose LEXICOGRAPHIC order equals chronological order (safe to
      range-compare against string or datetime bounds);
    - ``'opaque'`` — anything else (Decimal, custom types): stored
      ``str(v)`` for display, but string order is NOT value order
      (``'9' > '10'``) — pruning must treat it as no-stats (ADVICE r8
      #5's silent-wrong-prune case).
    """
    import datetime

    if v is None or isinstance(v, (bool, int, float, str)):
        return v, "native"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" "), "iso"
    if isinstance(v, datetime.date):
        return v.isoformat(), "iso"
    return str(v), "opaque"


def _stat_triplet(mn, mx) -> list:
    """The stored per-column stat: ``[mn, mx]`` for native values
    (back-compatible shape), ``[mn, mx, tag]`` otherwise."""
    emn, tmn = _enc_stat(mn)
    emx, tmx = _enc_stat(mx)
    tag = tmn if tmn == tmx else ("opaque" if "opaque" in (tmn, tmx) else tmn)
    # None min with typed max (or vice versa) keeps the typed tag
    if mn is None and mx is not None:
        tag = tmx
    return [emn, emx] if tag == "native" else [emn, emx, tag]


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """The ``k`` bit positions a value occupies in an ``m``-bit entry
    bloom filter.  crc32 over ``"{seed}:{str(value)}"`` — chosen
    because BOTH sides can compute it exactly: the write side as a
    JVM expression (``F.crc32`` over the same concatenated string) and
    the read side here in pure Python, so point-lookup pruning never
    launches a job.  Soundness needs only determinism + write/read
    agreement, not cryptographic quality: a bit that is UNSET proves
    the value was never inserted; hash weakness only costs false
    positives (kept entries), never false exclusions."""
    import zlib

    s = str(value)
    return [
        zlib.crc32(f"{i}:{s}".encode("utf-8")) % m for i in range(k)
    ]


def _bloom_encode(positions, m: int) -> str | None:
    """base64 bitmap from the set of occupied bit positions; None when
    the filter is saturated past half full (its false-positive rate no
    longer prunes anything — storing it would be manifest bloat)."""
    import base64

    if positions is None or len(positions) > m // 2:
        return None
    buf = bytearray(m // 8)
    for p in positions:
        buf[p // 8] |= 1 << (p % 8)
    return base64.b64encode(bytes(buf)).decode("ascii")


def _bloom_value_ok(v) -> bool:
    """Types whose str() is IDENTICAL under Python and Spark's
    cast-to-string — the only domain the filter may prove absence
    over.  bool is excluded (Python 'True' vs Spark 'true')."""
    return isinstance(v, (int, str)) and not isinstance(v, bool)


class LogStore(abc.ABC):
    """Pluggable COMMIT PRIMITIVE (round 14, VERDICT task 1 — Delta's
    LogStore API): the single storage operation the whole optimistic-
    concurrency protocol rests on is a linearizable *put-if-absent* of
    one small log file (a manifest version file or a catalog pointer).
    Everything above it — rebase, conflict classification, retries —
    is backend-agnostic; everything below it is THIS seam.

    Backends:
    - :class:`CreateExclusiveLogStore` (default): the store's own
      atomic create-exclusive.  Correct on HDFS (namenode-arbitrated
      ``create(overwrite=false)``), local POSIX (``O_EXCL``), and any
      object store with conditional PUT (S3 ``If-None-Match: *``, GCS
      ``ifGenerationMatch=0``, Azure ``If-None-Match``).
    - :class:`ArbitratedLogStore`: ownership decided by an EXTERNAL
      linearizable arbiter (a lock service, a DynamoDB conditional
      put, a database unique-key insert — the Delta-on-S3
      ``S3DynamoDBLogStore`` design) and the file then written as a
      plain PUT by the single granted owner, so the protocol stays
      serializable even when the store's create-exclusive is NOT
      atomic (a legacy object store with no conditional write).

    Only the CAS-bearing files route through here.  Segment/seglist
    spills and data dirs use fresh uuid names — no two writers ever
    target the same name, so plain writes are race-free on any store.
    """

    @abc.abstractmethod
    def put_if_absent(self, fs, uri: str, body: str) -> bool:
        """Atomically publish ``body`` at ``uri`` iff nothing exists
        there.  True = this writer owns the name; False = another
        writer (or a genuine IO refusal — the bounded retry loops
        above surface persistent ones) got there first.  MUST be
        linearizable across every writer of the warehouse."""


class CreateExclusiveLogStore(LogStore):
    """Default backend: the filesystem's own create-exclusive is the
    arbiter.  ONE call — no exists() pre-probe; the create itself is
    the test (r9: the probe doubled py4j/namenode roundtrips per
    attempt for nothing)."""

    def put_if_absent(self, fs, uri: str, body: str) -> bool:
        try:
            fs.write_text(uri, body, overwrite=False)
        except Exception:
            # create-exclusive refused: the racing writer's create won.
            # A genuine IO failure also lands here — the bounded retry
            # loop surfaces it as the final commit error instead of
            # looping forever.
            return False
        return True


class ArbitratedLogStore(LogStore):
    """External-arbiter backend for stores whose create-exclusive is
    not atomic: ``claim(uri)`` must be a linearizable test-and-set
    over commit names (exactly one True per name, ever).  The file
    write happens ONLY after the claim is granted, as a plain
    overwrite PUT by the single owner — the storage layer's own
    concurrency semantics no longer matter.

    In-process deployments (one driver, many writer threads — the
    local[] twin of Delta's ``S3SingleDriverLogStore``) use
    :class:`InProcessArbiter`.  A multi-driver production deployment
    supplies a distributed claim (DynamoDB ``attribute_not_exists``
    conditional put, a Postgres ``INSERT .. ON CONFLICT DO NOTHING``
    keyed by uri); to close the crash-after-claim window such an
    arbiter should record ``body`` (or a completed-write marker) with
    the claim so any later reader/writer can finish the publish —
    Delta's recovery scheme.  ``unclaim`` releases a name after a
    FAILED write so the commit is retryable rather than wedged."""

    def __init__(self, claim, unclaim=None):
        self._claim = claim
        self._unclaim = unclaim

    def put_if_absent(self, fs, uri: str, body: str) -> bool:
        if not self._claim(uri):
            return False
        try:
            fs.write_text(uri, body, overwrite=True)
        except Exception:
            if self._unclaim is not None:
                self._unclaim(uri)
            raise
        return True


class InProcessArbiter:
    """Linearizable claim set for every writer THREAD of one driver
    process: a lock-guarded set is trivially a test-and-set.  Share
    ONE instance across all handles of a warehouse (``writer_copy``
    propagates the containing LogStore)."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._claimed: set[str] = set()

    def claim(self, uri: str) -> bool:
        with self._lock:
            if uri in self._claimed:
                return False
            self._claimed.add(uri)
            return True

    def unclaim(self, uri: str) -> None:
        with self._lock:
            self._claimed.discard(uri)


class CommitConflict(RuntimeError):
    """A concurrent commit intersected this transaction's READ or WRITE
    set, so the manifest rebase that resolves blind-append races cannot
    apply — the operation's data/CDC/mask computation is stale and the
    whole verb must recompute against the new head (Delta's
    ConcurrentAppend/ConcurrentDeleteRead exceptions; the row-level
    verbs catch this in ``_retry_conflicts`` and re-run bounded times).
    Distinct from the bare RuntimeError the non-rebaseable replace path
    raises: that one means "does not commute, ever"; this one means
    "recompute and it commutes"."""


class TableSnapshot:
    """PINNED-SNAPSHOT read handle (round 13, VERDICT task 5): every
    read through one handle serves the version set fixed when the
    handle was created, so a long job reading a table twice can never
    straddle a concurrent commit (the per-call ``read``/``read_asof``
    verbs each re-resolve the head).

    Pinning semantics by format:
    - ``CatalogManifestFormat``: the CATALOG version pins at creation —
      one version SET, cross-table-consistent (two tables read through
      the handle come from the same committed transaction frontier).
    - ``ManifestFormat``: versions pin lazily per table at its FIRST
      read through the handle (each table's versions advance
      independently; cross-table consistency is exactly what the
      catalog format exists for) — two reads of the same table still
      always agree.

    Reads of pinned versions stay valid until ``vacuum`` reclaims them
    (same retention contract as time travel); a vacuumed pin errors
    loudly, never serves the wrong version."""

    def __init__(self, fmt: "ManifestFormat"):
        self._fmt = fmt
        self._versions: dict[str, int] = {}
        cv = getattr(fmt, "_catalog_version", None)
        #: catalog version pinned at creation (None on plain manifest)
        self.catalog_version = cv() if cv is not None else None

    def version(self, name: str) -> int:
        """The manifest version this handle serves ``name`` at."""
        if name not in self._versions:
            if self.catalog_version is not None:
                v = self._fmt._resolved_version_at(
                    name, self.catalog_version
                )
            else:
                m = self._fmt._manifest(
                    name, resolve=False, expand_lists=False
                )
                if m is None:
                    raise FileNotFoundError(
                        f"no committed manifest for table {name}"
                    )
                v = m["version"]
            self._versions[name] = int(v)
        return self._versions[name]

    def read(self, name: str):
        return self._fmt.read_version(name, self.version(name))

    def read_where(self, name: str, col, lo=None, hi=None):
        """The skip-read at the pinned version — same pruning as the
        head read, against the pinned manifest's stats."""
        return self._fmt.read_where(
            name, col, lo, hi, version=self.version(name)
        )

    def exists(self, name: str) -> bool:
        try:
            self.version(name)
            return True
        except (FileNotFoundError, ValueError):
            return False


class TableFormat(abc.ABC):
    """Storage verbs a warehouse table format must provide.

    Contract (what ``Warehouse`` and the recovery matrix rely on):

    - ``replace_atomic`` / ``merge`` are all-or-nothing per TABLE: a
      reader (same or later session) sees the old committed contents or
      the new, never a partial write — and a crashed run's leftovers are
      resolved by ``recover`` before any subsequent read or rewrite.
    - ``write(mode="append")`` may be non-atomic per table but must
      never corrupt previously committed files.
    - ``dynamic_partition_overwrite`` is atomic per PARTITION (the
      parquet commit protocol's guarantee); callers re-run to converge.
    - Nothing here is atomic across TABLES.  A multi-table commit
      (Iceberg REST-catalog transactions) would slot in as a wider verb;
      on parquet, ``root_key_merge`` documents the visible skew instead.
    """

    spark: SparkSession
    root: str

    #: transient-artifact name suffixes a format's rewrites may leave
    #: next to tables (catalog listings and raw-layer walkers exclude
    #: them); empty for transactional formats that stage nothing
    STAGING_SUFFIXES: tuple[str, ...] = ()

    def writer_copy(self) -> "TableFormat":
        """An independent handle for a CONCURRENT writer thread.
        Stateless formats (parquet staging, plain manifest) share one
        instance safely — the default returns ``self``; formats with
        per-instance mutable state (the catalog format's open-
        transaction ``_pending``) override to hand each thread its own
        instance so concurrent transactions on disjoint tables don't
        collide on the nesting guard."""
        return self

    # -- reads / metadata ------------------------------------------------

    @abc.abstractmethod
    def path(self, name: str) -> str:
        """Physical location of ``schema.table`` (M4 namespacing)."""

    @abc.abstractmethod
    def exists(self, name: str) -> bool:
        """True iff the table holds committed data."""

    @abc.abstractmethod
    def read(self, name: str) -> DataFrame:
        """Committed contents (running ``recover`` first if needed)."""

    @abc.abstractmethod
    def recover(self, name: str) -> None:
        """Resolve any leftover transient state of a died rewrite."""

    @abc.abstractmethod
    def list_tables(self) -> list[str]:
        """Every ``schema.table`` under the root (metadata-only)."""

    @abc.abstractmethod
    def partition_columns(self, name: str) -> list[str]:
        """Partition layout, outermost first (empty if unpartitioned)."""

    @abc.abstractmethod
    def partition_values(self, name: str) -> list[str]:
        """Top-level partition values (empty if unpartitioned)."""

    @abc.abstractmethod
    def table_bytes(self, name: str) -> int:
        """On-disk size (metadata call, no data read)."""

    # -- writes ----------------------------------------------------------

    @abc.abstractmethod
    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str,
        partition_by: tuple[str, ...] = (),
    ) -> None:
        """Plain write (``append`` or first-run ``overwrite``)."""

    @abc.abstractmethod
    def replace_atomic(
        self,
        name: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        suffix: str = "__staging",
        txn: dict | None = None,
    ) -> None:
        """Full-table replace, atomic per table.  ``suffix`` tags the
        format's transient artifact for observability (parquet: the
        staging directory name); transactional formats may ignore it.
        ``txn`` (formats with writer watermarks): carry THESE
        idempotent-writer watermarks through the replace instead of
        the default reset — for row-preserving rewrites (e.g. an index
        retrain) whose callers must not lose their cursors in a crash
        window between the replace and a separate restore commit."""

    def merge(
        self,
        name: str,
        df: DataFrame,
        unique_key: str,
        delete_keys: DataFrame | None = None,
        record_cdc: bool = True,
    ) -> None:
        """Upsert by unique key (M2): incoming rows replace target rows
        sharing the key; ``delete_keys`` overrides the delete set (the
        dlt root-key merge needs the PARENT batch's ids — an empty child
        array must still purge old child rows).

        Default implementation is the engine-independent plan — left-
        anti the target against the delete set, union the batch, land
        via ``replace_atomic`` (ONE data write) — which is exactly what
        a format without MERGE support must do.  Delta/Iceberg override
        this verb with ``MERGE INTO`` and skip the full rewrite.
        """
        from .materialize import align_schemas

        if self.exists(name):
            target = self.read(name)
            target, df = align_schemas(target, df)
            anti = (
                delete_keys.select(unique_key).distinct()
                if delete_keys is not None
                else df.select(unique_key).distinct()
            )
            keep = target.join(anti, unique_key, "left_anti")
            merged = keep.unionByName(df, allowMissingColumns=True)
            part_cols = tuple(self.partition_columns(name))
        else:
            merged = df
            part_cols = ()
        self.replace_atomic(name, merged, part_cols)

    @abc.abstractmethod
    def dynamic_partition_overwrite(
        self, name: str, df: DataFrame, partition_col: str
    ) -> None:
        """Replace exactly the partitions present in ``df`` (backfill)."""

    @abc.abstractmethod
    def drop_partitions_below(
        self, name: str, partition_col: str, cutoff: str
    ) -> int:
        """Retention: drop partitions with value strictly below
        ``cutoff`` (string compare — fixed-width keys only).  Returns
        the number of partitions dropped.  Metadata/delete-only."""


class ParquetFormat(TableFormat):
    """Plain parquet + Hadoop FileSystem — the default format.

    Atomicity is two-phase: every full rewrite lands in a sibling
    ``<table><suffix>`` directory with ONE data write, then promotes via
    ``delete target; rename staging`` — metadata-only on HDFS/local
    (on raw object stores the rename is a server-side copy; that is the
    gap a transactional format closes, see module docstring).  Crash
    windows are all recovered by :meth:`recover`, which every read and
    rewrite runs first.
    """

    # every two-phase rewrite suffix — recovery must check them ALL, not
    # just the calling method's own: a compact() phase-2 death must be
    # recovered by the next merge()/read() too, or they would silently
    # merge against the half-written target
    STAGING_SUFFIXES = ("__staging", "__compact")

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.fs = HadoopFS(spark)

    def path(self, name: str) -> str:
        schema, _, tbl = name.rpartition(".")
        return join_uri(self.root, schema or "default", tbl)

    def exists(self, name: str) -> bool:
        """Walks into partition subdirectories — a day-partitioned table
        has no parquet files at its root, and missing them would turn
        every incremental append into a full overwrite.  Early-exits at
        the first data file, so a 100 TB table answers after one listing
        page, not a full tree walk."""
        return self.fs.contains_file_with_suffix(self.path(name), ".parquet")

    def read(self, name: str) -> DataFrame:
        # a committed staging copy facing an uncommitted target (a dead
        # two-phase rewrite, whichever verb ran it) is restored before
        # reading — never hand out a half-written table.
        # mergeSchema: batches may have evolved (documents grow fields);
        # appended files with new columns must still read as one table.
        #
        # Schema memo (r16, VERDICT r15 task 3): unlike manifest data
        # dirs this table dir is MUTABLE (staging swap, appends), so
        # the memo key embeds the commit marker's mtime — every
        # committed Spark write (append, overwrite, swapped-in staging
        # dir) lands a fresh ``_SUCCESS``, so any committed change
        # mints a NEW key and re-infers; only byte-identical committed
        # states reuse a cached schema.  The root mtime additionally
        # covers direct child add/remove (the two-phase rename).
        self.recover(name)
        path = self.path(name)
        key = self._schema_memo_key(path)
        if key is not None:
            cached = _dir_schema_get(key)
            if cached is not None:
                return self.spark.read.schema(cached).parquet(path)
        df = self.spark.read.option("mergeSchema", "true").parquet(path)
        if key is not None:
            _dir_schema_put(key, df.schema)
        return df

    def _schema_memo_key(self, path: str) -> tuple | None:
        """Memo key for this table's CURRENT committed state, or None
        when the state is not attributable (no commit marker — e.g. a
        raw dir not written by Spark): then every read re-infers,
        exactly the pre-memo behavior."""
        try:
            marker = join_uri(path, "_SUCCESS")
            if not self.fs.exists(marker):
                return None
            return (path, self.fs.mtime(marker), self.fs.mtime(path))
        except Exception:
            return None

    def recover(self, name: str) -> None:
        for suf in self.STAGING_SUFFIXES:
            self._recover_or_clear_staging(name, self.path(name) + suf)

    def _recover_or_clear_staging(self, name: str, tmp: str) -> None:
        """Resolve a staging dir left by a previous two-phase rewrite.

        If that run died mid swap the target is gone or partial (no
        _SUCCESS commit marker) and staging is the sole intact copy —
        deleting it here would silently lose the table.  So: a committed
        staging copy facing an uncommitted target is RESTORED (renamed
        in); only a staging dir whose target did commit (the swap never
        started — the batch will simply re-run) or which itself never
        committed (phase-1 death, target untouched) is deleted as stale.
        """
        if not self.fs.is_dir(tmp):
            return
        staging_committed = self.fs.exists(join_uri(tmp, "_SUCCESS"))
        target_committed = self.fs.exists(join_uri(self.path(name), "_SUCCESS"))
        if staging_committed and not target_committed:
            self.fs.delete(self.path(name))
            self.fs.rename(tmp, self.path(name))
        else:
            self.fs.delete(tmp)

    def _swap_in(self, tmp: str, name: str) -> None:
        """Atomic promote of a committed staging dir: drop the target,
        rename staging into its place.  Metadata-only on HDFS/local.
        Crash windows are all recovered by ``_recover_or_clear_staging``:
        die before the delete -> staging stale vs committed target,
        cleared, batch re-runs; die between delete and rename -> staging
        is the sole committed copy, restored."""
        self.fs.delete(self.path(name))
        self.fs.rename(tmp, self.path(name))

    def list_tables(self) -> list[str]:
        out = []
        for schema in self.fs.list_subdirs(self.root):
            if schema.startswith("_"):
                continue  # _checkpoints and friends
            for tbl in self.fs.list_subdirs(join_uri(self.root, schema)):
                if tbl.endswith(self.STAGING_SUFFIXES):
                    continue
                out.append(f"{schema}.{tbl}")
        return sorted(out)

    def partition_columns(self, name: str) -> list[str]:
        """Partition column names from the hive-style directory layout
        (one FileSystem listing per nesting level — metadata-only)."""
        cols: list[str] = []
        cur = self.path(name)
        while True:
            subdirs = [d for d in self.fs.list_subdirs(cur) if "=" in d]
            if not subdirs:
                return cols
            col = subdirs[0].split("=", 1)[0]
            cols.append(col)
            cur = join_uri(cur, subdirs[0])

    def partition_values(self, name: str) -> list[str]:
        return sorted(
            d.split("=", 1)[1]
            for d in self.fs.list_subdirs(self.path(name))
            if "=" in d
        )

    def table_bytes(self, name: str) -> int:
        return self.fs.tree_bytes(self.path(name))

    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str,
        partition_by: tuple[str, ...] = (),
    ) -> None:
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))

    def replace_atomic(
        self,
        name: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        suffix: str = "__staging",
        txn: dict | None = None,
    ) -> None:
        # txn ignored: plain parquet has no writer watermarks
        if suffix not in self.STAGING_SUFFIXES:
            raise ValueError(
                f"unknown staging suffix {suffix!r}: recovery only scans "
                f"{self.STAGING_SUFFIXES} — add it there or reuse one"
            )
        tmp = self.path(name) + suffix
        self.recover(name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        # the ONLY data write; what follows is metadata
        self._swap_in(tmp, name)

    def merge(
        self,
        name: str,
        df: DataFrame,
        unique_key: str,
        delete_keys: DataFrame | None = None,
        record_cdc: bool = True,
    ) -> None:
        # resolve any staging dir from a previous failed run FIRST —
        # whichever verb left it: it may be the sole intact copy of the
        # table (swap died mid-flight), in which case it is restored,
        # not deleted — see _recover_or_clear_staging
        self.recover(name)
        super().merge(name, df, unique_key, delete_keys)

    def dynamic_partition_overwrite(
        self, name: str, df: DataFrame, partition_col: str
    ) -> None:
        """Spark's commit protocol stages each task's output and commits
        per-partition directories; atomic per PARTITION, not per table —
        a mid-backfill crash can leave some days new and some old (each
        day internally consistent), so re-run to converge."""
        self.recover(name)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(self.path(name))
        )

    def drop_partitions_below(
        self, name: str, partition_col: str, cutoff: str
    ) -> int:
        """Whole hive directories (``col=value/``) are deleted, never a
        rewrite — per-partition cost, not per-byte: dropping 90 old days
        of a 100 TB table is 90 directory deletes."""
        self.recover(name)
        root = self.path(name)
        dropped = 0
        for d in self.fs.list_subdirs(root):
            col, _, val = d.partition("=")
            if col == partition_col and val < cutoff:
                self.fs.delete(join_uri(root, d))
                dropped += 1
        return dropped


class ManifestFormat(TableFormat):
    """Commit-log table format on plain parquet — the transactional
    storage the seam exists for, with no extra jars.

    The ParquetFormat's atomic promote is a DIRECTORY rename: metadata-
    only on HDFS/local, but a server-side COPY of every data byte on raw
    object stores — the gap the reference sidesteps by delegating
    storage to TimescaleDB (docker-compose.yaml:307).  This format
    closes it with the public Delta/Iceberg design: data files are
    IMMUTABLE (each write lands in a fresh ``d-<uuid>/`` directory
    inside the table), and the table's contents are whatever the highest
    numbered manifest in ``_log/`` says they are.  A commit is one
    small-file write + rename — O(1) regardless of table size — so:

    - ``replace_atomic``: write the batch to a new data dir, commit a
      manifest referencing only it.  Readers see old or new, never a
      mix; a crash before the commit leaves an orphan dir no reader
      ever sees (``vacuum`` reclaims it).
    - ``drop_partitions_below`` / ``dynamic_partition_overwrite``:
      MANIFEST edits — logical deletes, zero data moved (ParquetFormat
      must delete/commit per directory).
    - ``write(append)``: new data dir + manifest listing old + new —
      appends become visible atomically, unlike a live parquet append.
    - ``recover``: a no-op — there is nothing half-visible to repair.

    Concurrency contract: optimistic multi-writer for COMMUTING
    operations, loud abort for the rest — the standard commit-log
    protocol (Delta's WriteSerializable, Iceberg's commit retry).  The
    CAS primitive is create-exclusive of the next ``v*.json`` (atomic
    on HDFS, where the namenode arbitrates; best-effort on raw local /
    object stores, where a coordination service — the Delta-on-S3
    LogStore — slots into ``_try_write_manifest``).  On a lost race:

    - ``write(append)``, ``drop_partitions_below``,
      ``dynamic_partition_overwrite``: REBASE — re-read the new head,
      re-apply the edit to it, retry the CAS (bounded attempts).  Two
      concurrent appends both land, neither lost; partition edits
      re-filter the new head's entries.
    - ``replace_atomic`` (and ``merge``, which lands through it):
      ABORT — a full-table replace computed against a stale base would
      silently discard the concurrent commit, so the caller must re-run
      against the new state.

    Layout::

        <root>/<schema>/<table>/
            _log/v000000000001.json     # manifest: entries + partitioning
            d-3f2a.../day=20240101/...  # immutable data directories
            d-9c41.../...
    """

    LOG_DIR = "_log"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        auto_compact_dirs: int | None = 16,
        stats_cols: tuple[str, ...] = (),
        segment_entries: int | None = None,
        cluster_by: str | None = None,
        cdf: bool = False,
        auto_purge_dvs: int | None = None,
        dv_form: str = "equality",
        bloom_cols: tuple[str, ...] = (),
        log_store: LogStore | None = None,
    ):
        """``auto_compact_dirs``: data-dir count above which the append
        path triggers :meth:`maybe_compact` (None disables).  Default 16
        is evidence-based — the read-amplification curve in
        PERF_NOTES.md shows scan cost growing with dir count (one
        footer-listing + union branch per dir), with 16 keeping the
        overhead low while amortizing one small-tail rewrite across 16
        appends.

        ``segment_entries``: inline-entry count above which a commit
        spills its entries into an immutable SEGMENT file
        (``_log/seg-*.json``) and the manifest stores a reference —
        the hierarchical-metadata tier (Iceberg's manifest list,
        Delta's checkpoint) that removes the O(total entries) cost
        every commit otherwise pays rewriting the full entry list
        (measured ceiling in PERF_NOTES: ~10 MB manifests / ~340 ms
        commits at 100k entries).  With segments, a commit's version
        file holds only segment REFS plus an inline tail bounded by
        this threshold; untouched segments are carried by reference
        (never rewritten), and an edit that drops entries dissolves
        only the segments it touches.  ``None`` (default) writes flat
        manifests — but READING segmented tables always works, and a
        flat-configured writer editing one preserves its untouched
        segment refs, so flipping the setting never strands a table.

        ``stats_cols``: columns whose per-entry min/max land in the
        manifest at write time (Delta/Iceberg file-skipping stats) —
        :meth:`read_where` then prunes whole entries from the MANIFEST
        before Spark ever lists a file.  Partition pruning skips
        partitions the layout was designed around; entry stats skip on
        any well-clustered column (a time-ordered append stream gives
        near-disjoint ts ranges per entry for free).  Numeric and
        string columns compare natively; other types are stored as
        strings (ISO timestamps order correctly, arbitrary types may
        not — choose stats_cols accordingly).  Cost: one bounded
        aggregate over each freshly written dir (one row per partition
        leaf).

        ``cluster_by``: CLUSTER-ON-COMPACT (r10) — when set, the
        threshold compaction lands its output range-shuffled on this
        column with PER-FILE stats entries instead of one opaque dir.
        The point is random merge keys (the reference's ``_dlt_id`` is
        a hash): min/max stats never prune an unclustered uuid column,
        so without this the stats-bounded MERGE degrades to a full
        rewrite; with it, every compaction cycle converges the table
        toward near-disjoint per-file key ranges and merges prune at
        file granularity — Delta's OPTIMIZE-ZORDER-on-the-merge-key
        maintenance recipe, folded into the compaction the append path
        already runs.  Applies to UNPARTITIONED tables only
        (partitioned compaction keeps the plain layout-preserving
        rewrite).

        ``cdf``: record ROW-LEVEL change data on every DML commit
        (delete/update/merge) so :meth:`read_changes_cdf` can serve
        retraction-aware consumers across rewrites.  OPT-IN, matching
        Delta's ``enableChangeDataFeed`` default: the classification
        joins + change-row landing roughly double a merge's job count
        (measured +0.6 s on the sf0.1 time-travel cycle), and a table
        nobody tails must not pay that per 15-minute sync.  With it
        off, DML commits record no change rows and the CDF read
        refuses across them with a resync error naming this flag; the
        append-only :meth:`read_changes` feed is unaffected.  The flag
        is per-WRITER-HANDLE, and formats are stateless over tables —
        a warehouse that mixes tailed and untailed tables simply holds
        two handles over the same root (``cdf=True`` for the governed
        raw tables, the default for everything else); internal-state
        writers (rollups, the ANN index) additionally pass
        ``record_cdc=False`` per call.

        ``auto_purge_dvs``: merge-on-read DEBT policy (Delta's
        OPTIMIZE removing deletion vectors) — when a MOR verb's commit
        leaves more than this many stored delete predicates/key masks,
        ``materialize_deletes`` runs immediately after: reads pay at
        most ``auto_purge_dvs`` extra filters/anti-joins before one
        bounded rewrite clears them all, so read amplification
        saw-tooths at the threshold instead of growing with the sync
        cadence (round-11 soak: the ANN assignment tail drifted +32%
        over 50 cycles without it).  ``None`` (default) keeps purging
        explicit."""
        self.spark = spark
        self.root = root
        self.fs = HadoopFS(spark)
        # the commit primitive (round 14): every CAS-bearing log write
        # (version files, catalog pointers) routes through this seam —
        # see :class:`LogStore` for when the default is sound and when
        # a deployment must supply an arbitrated backend
        self.log_store: LogStore = log_store or CreateExclusiveLogStore()
        self.auto_compact_dirs = auto_compact_dirs
        self.stats_cols = tuple(stats_cols)
        self.segment_entries = segment_entries
        self.cluster_by = cluster_by
        self.cdf = cdf
        self.auto_purge_dvs = auto_purge_dvs
        if dv_form not in ("equality", "positional"):
            raise ValueError(
                f"dv_form={dv_form!r}: 'equality' (stored predicates / "
                "equality-delete key files — Iceberg v2 equality "
                "deletes) or 'positional' ((file, row-index) masks — "
                "Delta deletion vectors / Iceberg positional deletes)"
            )
        self.dv_form = dv_form
        # per-entry bloom filters for point-lookup skipping (r12,
        # VERDICT r11 task 4): min/max stats prune nothing for an
        # equality lookup on an UNCLUSTERED high-cardinality key
        # (every entry's [min, max] spans the key space), so listed
        # columns additionally record an m-bit filter per entry and
        # read_where's IN/equality specs consult it — prune only when
        # PROVABLE, like every other tier.  Opt-in: the filter costs
        # ~BLOOM_BITS/8 bytes per entry per column and only pays off
        # on integral/string lookup keys with bounded per-entry
        # cardinality (saturated filters are dropped at write time).
        self.bloom_cols = tuple(bloom_cols)
        # parsed-segment cache: segment files are IMMUTABLE once
        # committed, so a (path -> entries) map never goes stale; it
        # turns repeated resolution (every read/commit re-lists the
        # head) into O(inline tail) parses.  Bounded FIFO so a long-
        # lived session over many tables can't grow without limit.
        self._seg_cache: dict[str, list] = {}
        # per-table alias-translation cache for _alias_to_live's slow
        # path: a table that simply never carries one configured
        # stats/bloom column (shared format config across tables)
        # would otherwise pay a manifest read on EVERY hot-path append
        # even though no rename ever happened.  {} means "schema holds
        # no aliases".  Invalidated by this handle's own
        # rename_column/drop_column and by non-append writes; a
        # CONCURRENT process's rename only delays alias pickup until
        # invalidation — stats land unrecorded for the window, which
        # keep-by-default pruning tolerates soundly (ADVICE r13 low).
        self._a2l_cache: dict[str, dict] = {}

    #: parsed-segment cache bound (files); oldest evicted first.
    #: Sized to hold EVERY segment of a multi-thousand-segment table:
    #: identity carry (and the no-reserialize commit path) only works
    #: while the resolved entries ARE the cached objects, so a cache
    #: smaller than the table's segment count silently degrades every
    #: commit to the canonical-JSON fallback (the r12 1M-entry probe's
    #: second hotspot).  Memory is the same order as one resolved
    #: manifest, which the driver holds anyway.
    SEG_CACHE_FILES = 4096
    # inline segment-ref count above which the ref list spools into
    # segl-*.json list files (the third metadata tier); class-level so
    # tests/probes can exercise multi-list layouts without thousands
    # of commits
    SEGLIST_SPILL_REFS = 64
    #: entry bloom-filter geometry (bloom_cols): 8192 bits = 1 KB per
    #: entry per column, ~2% FPR at ~1000 distinct values; saturated
    #: filters (> m/2 bits set) are dropped at write time
    BLOOM_BITS = 8192
    BLOOM_K = 4
    #: MOR delete-mask row count at/under which the read-time
    #: anti-join broadcasts the mask side (the topk_realtime size-gate
    #: pattern): ~100 B/row → ≤20 MB broadcast; above it (or when a
    #: pre-r12 entry recorded no count) the join degrades to shuffle
    DV_BROADCAST_ROWS = 200_000

    #: reader protocol features THIS build implements; a manifest
    #: listing one outside this set refuses to resolve (see
    #: _try_write_manifest's reader_features)
    READER_FEATURES = frozenset({"dv", "dv-eq", "dv-pos", "column-mapping"})

    # -- manifest machinery ---------------------------------------------

    def path(self, name: str) -> str:
        schema, _, tbl = name.rpartition(".")
        return join_uri(self.root, schema or "default", tbl)

    def _log_path(self, name: str) -> str:
        return join_uri(self.path(name), self.LOG_DIR)

    #: advisory head-pointer file (Delta's ``_last_checkpoint``
    #: analog, round 14): every commit overwrites it with its version
    #: so resolution finds the head with ONE read + O(commits since
    #: the hint) exists-probes instead of listing a log dir that
    #: grows one file per commit forever — at a 15-minute cadence a
    #: year-old table holds ~35k version files, and an object-store
    #: LIST pages 1000/call.  ADVISORY only: it is written outside
    #: the CAS (last-writer-wins, may briefly trail a concurrent
    #: commit, may be missing/torn/stale-after-quarantine) and every
    #: consumer falls back to the full listing whenever the hinted
    #: file does not exist — correctness never depends on it.
    HEAD_HINT = "_head.json"

    def _write_head_hint(self, name: str, version: int) -> None:
        import json

        try:
            self.fs.write_text(
                join_uri(self._log_path(name), self.HEAD_HINT),
                json.dumps({"version": int(version)}),
                overwrite=True,
            )
        except Exception:
            pass  # advisory: the commit already succeeded

    def _read_head_hint(self, name: str) -> int | None:
        import json

        try:
            return int(
                json.loads(
                    self.fs.read_text(
                        join_uri(self._log_path(name), self.HEAD_HINT)
                    )
                )["version"]
            )
        except Exception:
            return None

    def _latest_version(self, name: str) -> int:
        # hint fast path: one read + forward exists-probes from the
        # hinted version (commits are contiguous by the version CAS),
        # O(1) at steady state regardless of retained version count
        log = self._log_path(name)
        hint = self._read_head_hint(name)
        if hint and self.fs.exists(join_uri(log, f"v{hint:012d}.json")):
            v = hint
            while self.fs.exists(join_uri(log, f"v{v + 1:012d}.json")):
                v += 1
            return v
        # no/stale/quarantined hint: server-side glob (the log dir of
        # a segmented table holds thousands of immutable seg-*.json
        # files, and listing them all per commit made the CAS path
        # O(log-dir files))
        vs = [
            int(f[1:-5])
            for f in self.fs.glob_names(self._log_path(name), "v*.json")
        ]
        return max(vs, default=0)

    #: in-flight window for commit files: the create-exclusive makes a
    #: version/pointer file VISIBLE before its body is written (HDFS
    #: and local FS both expose the empty file immediately), so a
    #: reader racing a healthy writer can parse an incomplete file.
    #: An unreadable commit file younger than this is that race, not a
    #: corpse: retry briefly, then treat as not-yet-committed (readers
    #: resolve the previous version).  Older unreadable files are torn
    #: (writer died mid-commit) and raise, naming the repair verb.
    INFLIGHT_GRACE_S = 5.0
    INFLIGHT_RETRY_BUDGET_S = 0.5

    def _read_commit_json(self, path: str) -> dict | None:
        """Read+parse one commit file (version or catalog pointer) with
        in-flight tolerance: None = not yet committed (young unreadable
        file, or vanished mid-read under a concurrent repair/vacuum);
        raises for an OLD torn file."""
        import json
        import time

        deadline = time.monotonic() + self.INFLIGHT_RETRY_BUDGET_S
        while True:
            try:
                return json.loads(self.fs.read_text(path))
            except ValueError:
                if time.monotonic() < deadline:
                    time.sleep(0.05)
                    continue
                # fs.mtime returns 0.0 for an ABSENT path (it does
                # not raise), so probe existence first: a file
                # quarantined/vacuumed mid-read is not-yet-committed
                # to this reader, not a corpse
                if not self.fs.exists(path):
                    return None
                age = time.time() - self.fs.mtime(path)
                if age < self.INFLIGHT_GRACE_S:
                    return None  # healthy writer mid-body-write
                return self._raise_torn(path)
            except Exception as e:
                # Java FileNotFoundException surfaces as Py4JJavaError,
                # never as a Python FileNotFoundError subclass
                if isinstance(e, FileNotFoundError) or (
                    "FileNotFoundException" in str(e)
                ):
                    return None  # vanished between list and read
                raise

    def _raise_torn(self, path: str):
        raise RuntimeError(
            f"commit file {path} is unreadable — a writer likely died "
            "mid-commit leaving a torn file; run repair_log(name) / "
            "repair_catalog() to quarantine it (readers resume at the "
            "previous version, the next commit reclaims the number)"
        )

    def _manifest(
        self,
        name: str,
        version: int | None = None,
        resolve: bool = True,
        expand_lists: bool = True,
    ) -> dict | None:
        """Parse a manifest.  ``resolve=True`` (default) expands
        segment refs so ``m["entries"]`` is the full list; ``False``
        returns the raw body (inline entries only, refs untouched) —
        the pruning read path uses it to skip whole segments by their
        stats without parsing them.

        ``expand_lists=False`` (requires ``resolve=False``) keeps the
        THIRD tier raw too: ``m["segments"]`` holds the spooled form
        (``segl-*.json`` list-refs mixed with inline segment refs),
        so a caller that prunes on the list-refs' rolled stats — or
        only reads top-level fields like ``committed_at``/``cdc`` —
        never pays the parse of excluded/unneeded list files (VERDICT
        r11 task 1: a cold selective ``read_where``'s metadata cost
        scales with MATCHING list files, not with the table's ref
        count)."""
        if version is None:
            # resolve the newest COMMITTED version: an unreadable head
            # younger than the in-flight grace is a writer between its
            # create-exclusive and body write — resolution falls back
            # to the previous version instead of failing the read
            v = self._latest_version(name)
            m = None
            while v > 0:
                path = join_uri(self._log_path(name), f"v{v:012d}.json")
                m = self._read_commit_json(path)
                if m is not None:
                    break
                v -= 1
            if m is None:
                return None
        else:
            if version == 0:
                return None
            path = join_uri(
                self._log_path(name), f"v{version:012d}.json"
            )
            if not self.fs.exists(path):  # pruned by vacuum
                return None
            m = self._read_commit_json(path)
            if m is None:
                # young-but-unreadable at an EXPLICITLY requested
                # version: not committed yet — same caller contract as
                # a missing version, never a silently different one
                return None
        unknown = set(m.get("reader_features") or ()) - self.READER_FEATURES
        if unknown:
            raise RuntimeError(
                f"table {name} (v{m.get('version')}) requires reader "
                f"feature(s) {sorted(unknown)} this build does not "
                "implement — reading anyway would silently misinterpret "
                "the data (Delta's readerFeatures contract); upgrade "
                "the reader"
            )
        raw_segs = m.get("segments") or []
        if not expand_lists:
            if resolve:
                raise ValueError(
                    "expand_lists=False requires resolve=False — entry "
                    "resolution needs the flat ref list"
                )
            if any("list" in s for s in raw_segs):
                m["segments_spooled"] = raw_segs
            return m
        if any("list" in s for s in raw_segs):
            # THIRD metadata tier (Iceberg's manifest list, round 11):
            # the segment-ref list itself spilled into immutable
            # ``segl-*.json`` files so the version file stays O(tail)
            # as the table's ref count grows.  Expand to the flat ref
            # list every consumer (partition edits, vacuum, entry
            # resolution) already expects; the raw spooled form stays
            # under ``segments_spooled`` so the commit path can carry
            # untouched lists by reference — the expanded ref dicts ARE
            # the cache's objects, immutable by the same contract as
            # resolved entries.
            flat = []
            for s in raw_segs:
                if "list" in s:
                    flat.extend(self._load_seglist(name, s["list"]))
                else:
                    flat.append(s)
            m["segments_spooled"] = raw_segs
            m["segments"] = flat
        if m.get("segments") and resolve:
            # hierarchical manifest: expand segment refs so every
            # caller sees the full entry list under "entries" exactly
            # as with a flat manifest; "segments" stays alongside so
            # commit paths can carry untouched refs forward and vacuum
            # can compute live segment files.  The dicts handed out ARE
            # the segment cache's objects — resolved entries are
            # IMMUTABLE by contract (every edit verb builds new dicts
            # for changed entries) — which lets ``_resegment`` detect
            # carried entries by object identity instead of O(entries)
            # re-serialization on every commit.
            seg_entries = [
                e
                for s in m["segments"]
                for e in self._load_segment(name, s["file"])
            ]
            m["entries"] = seg_entries + m["entries"]
        return m

    def _load_segment(self, name: str, fname: str) -> list:
        """Parse one immutable segment file (cached; see
        ``_seg_cache``)."""
        return self._load_log_json(name, fname, "entries")

    def _load_seglist(self, name: str, fname: str) -> list:
        """Parse one immutable segment-LIST file (``segl-*.json`` —
        the ref list's spill tier); cached like segment files (both
        are immutable once committed)."""
        return self._load_log_json(name, fname, "refs")

    def _load_log_json(self, name: str, fname: str, key: str) -> list:
        import json

        path = join_uri(self._log_path(name), fname)
        hit = self._seg_cache.get(path)
        if hit is not None:
            return hit
        items = json.loads(self.fs.read_text(path))[key]
        if len(self._seg_cache) >= self.SEG_CACHE_FILES:
            try:  # benign race: another writer thread evicted first
                self._seg_cache.pop(next(iter(self._seg_cache)))
            except (StopIteration, KeyError, RuntimeError):
                pass
        self._seg_cache[path] = items
        return items

    def _resegment(
        self, name: str, prev: dict | None, entries: list
    ) -> tuple[list, list]:
        """Split a commit's entry list into (carried segment refs,
        inline tail) — the step that bounds commit cost by CHANGE size
        instead of table size.

        A previous segment is carried BY REFERENCE iff every one of
        its entries survives verbatim in the new list; otherwise it
        dissolves and its survivors fall into the inline tail.
        Appends therefore never rewrite old segments, and a drop
        rewrites only the segments it touches.  Survival is detected
        in two tiers:

        1. OBJECT IDENTITY (the probe-measured fast path, ~no cost):
           resolution hands edit functions the segment cache's own
           entry dicts, and every edit verb passes unchanged entries
           through by reference — so an entry that IS the cached
           object is the cached content (resolved entries are
           immutable by contract).  No serialization touches carried
           entries.
        2. CANONICAL JSON (fallback, only for segments tier 1 could
           not fully match — cache evicted between resolve and
           commit, or an edit that rebuilt equal dicts): compare the
           segment's key multiset against the residual entries.

        When the tail outgrows ``segment_entries`` it is flushed into
        a NEW segment file — written BEFORE the CAS like data dirs,
        so a lost race leaves an orphan ``seg-*.json`` that vacuum's
        age-guarded sweep reclaims.  With ``segment_entries=None`` no
        new segment is ever written, but refs from an already-
        segmented table are still carried (flipping the setting never
        forces an O(table) rewrite)."""
        import json
        import uuid
        from collections import Counter

        prev_segs = (prev or {}).get("segments") or []
        if self.segment_entries is None and not prev_segs:
            return [], entries

        # tier 1: object identity against the cached segment entries.
        # _pins holds strong references for the duration of the diff so
        # no compared id() can be recycled by the allocator mid-pass.
        id_to_seg: dict[int, int] = {}
        seg_sizes: list[int] = []
        _pins: list[list] = []
        for si, s in enumerate(prev_segs):
            seg_entries = self._load_segment(name, s["file"])
            _pins.append(seg_entries)
            seg_sizes.append(len(seg_entries))
            for e in seg_entries:
                id_to_seg[id(e)] = si
        hits = Counter()
        seen_ids: set[int] = set()
        for e in entries:
            i = id(e)
            if i in id_to_seg and i not in seen_ids:
                seen_ids.add(i)
                hits[id_to_seg[i]] += 1
        carried = {
            si for si in range(len(prev_segs)) if hits[si] == seg_sizes[si]
        }
        # one carried occurrence per object: a DUPLICATED reference to
        # a carried entry is extra content and must stay in the tail
        taken: set[int] = set()
        tail = []
        for e in entries:
            si = id_to_seg.get(id(e))
            if si in carried and id(e) not in taken:
                taken.add(id(e))
            else:
                tail.append(e)

        # tier 2: content keys for the segments identity couldn't carry
        def key(e):
            return json.dumps(e, sort_keys=True)

        # a segment strictly larger than the whole tail cannot be a
        # subset of it — skip before any canonical-JSON serialization.
        # Without this, every replace_atomic of a segmented table
        # (fresh data dir, small tail) pays O(total table entries) of
        # driver-side json.dumps per commit (ADVICE r9 #4); with it the
        # replace path is O(tail) again.
        residual = [
            si
            for si in range(len(prev_segs))
            if si not in carried and seg_sizes[si] <= len(tail)
        ]
        if residual and tail:
            tail_keys = Counter(key(e) for e in tail)
            consumed = Counter()
            for si in residual:
                seg_keys = Counter(
                    key(e)
                    for e in self._load_segment(name, prev_segs[si]["file"])
                )
                if all(
                    tail_keys[k] - consumed[k] >= n
                    for k, n in seg_keys.items()
                ):
                    carried.add(si)
                    # per-key adds, not ``consumed += seg_keys``:
                    # Counter.__iadd__ re-scans EVERY accumulated key
                    # per segment (O(residual² × seg_size) across the
                    # loop — the r12 1M probe's measured hotspot)
                    for k, n in seg_keys.items():
                        consumed[k] += n
            if consumed:
                new_tail = []
                for e in tail:
                    k = key(e)
                    if consumed[k] > 0:
                        consumed[k] -= 1  # lives in a carried segment
                    else:
                        new_tail.append(e)
                tail = new_tail

        kept = [s for si, s in enumerate(prev_segs) if si in carried]
        return self._flush_tail(name, kept, tail, prev=prev)

    def _flush_tail(
        self, name: str, kept: list, tail: list, prev: dict | None = None
    ) -> tuple[list, list]:
        """Flush an oversized inline tail into new segment files (the
        shared last step of ``_resegment`` and the raw two-tier edit
        path): chunks of at most ``segment_entries`` each — a bulk
        commit would otherwise produce a single table-sized segment
        whose rolled-up stats span everything (unskippable, unbounded
        to parse).  Each ref carries rolled-up column stats AND
        partition-value ranges so both the read path and partition
        edits can skip the segment without parsing it."""
        import json
        import uuid

        if self.segment_entries is None or len(tail) <= self.segment_entries:
            return self._respool_refs(name, kept, prev), tail
        chunk = max(self.segment_entries, 1)
        for i in range(0, len(tail), chunk):
            part = tail[i : i + chunk]
            fname = f"seg-{uuid.uuid4().hex}.json"
            self.fs.write_text(
                join_uri(self._log_path(name), fname),
                json.dumps({"entries": part}),
                overwrite=False,
            )
            ref = {"file": fname, "n": len(part)}
            seg_stats = self._rollup_seg_stats(part)
            if seg_stats:
                ref["stats"] = seg_stats
            seg_parts = self._rollup_seg_partitions(part)
            if seg_parts:
                ref["partitions"] = seg_parts
            kept = kept + [ref]
        return self._respool_refs(name, kept, prev), []

    def _respool_refs(
        self, name: str, refs: list, prev: dict | None
    ) -> list:
        """THIRD metadata tier (round 11, VERDICT r10 task 7 — the
        Iceberg manifest-list layer): when the flat segment-ref list
        outgrows ``segment_entries``, spill runs of refs into
        immutable ``segl-*.json`` files and return list-refs in their
        place — the version file then stores O(lists + inline tail)
        instead of O(all refs), so partition-edit / append commit cost
        stays flat as the table's entry count grows without bound.

        Carry mirrors ``_resegment`` one level up: a previous list-ref
        survives iff every one of its member refs is present verbatim
        (object identity against the cache's expanded dicts, with a
        canonical-JSON fallback).  A dissolved list's surviving refs
        fall into the ref tail and may re-spool.  Stats and partition
        ranges roll up from ref level, so both pruning tiers can skip
        a whole LIST without opening it."""
        import json
        import uuid

        prev_lists = [
            s
            for s in ((prev or {}).get("segments_spooled") or [])
            if "list" in s
        ]
        if self.segment_entries is None and not prev_lists:
            return refs
        # tier 1: object identity against the cached list members
        id_to_list: dict[int, int] = {}
        list_sizes: list[int] = []
        _pins: list[list] = []
        for li, s in enumerate(prev_lists):
            members = self._load_seglist(name, s["list"])
            _pins.append(members)
            list_sizes.append(len(members))
            for r in members:
                id_to_list[id(r)] = li
        from collections import Counter

        hits = Counter()
        seen: set[int] = set()
        for r in refs:
            i = id(r)
            if i in id_to_list and i not in seen:
                seen.add(i)
                hits[id_to_list[i]] += 1
        carried = {
            li
            for li in range(len(prev_lists))
            if list_sizes[li] and hits[li] == list_sizes[li]
        }
        taken: set[int] = set()
        tail = []
        for r in refs:
            li = id_to_list.get(id(r))
            if li in carried and id(r) not in taken:
                taken.add(id(r))
            else:
                tail.append(r)

        # tier 2: canonical-JSON fallback (cache evicted / rebuilt-equal
        # refs); refs are tiny dicts so this stays cheap
        def key(r):
            return json.dumps(r, sort_keys=True)

        residual = [
            li
            for li in range(len(prev_lists))
            if li not in carried and list_sizes[li] <= len(tail)
        ]
        if residual and tail:
            tail_keys = Counter(key(r) for r in tail)
            consumed = Counter()
            for li in residual:
                mk = Counter(
                    key(r)
                    for r in self._load_seglist(name, prev_lists[li]["list"])
                )
                if all(
                    tail_keys[k] - consumed[k] >= n for k, n in mk.items()
                ):
                    carried.add(li)
                    for k, n in mk.items():  # see _resegment: O(n²) +=
                        consumed[k] += n
            if consumed:
                new_tail = []
                for r in tail:
                    k = key(r)
                    if consumed[k] > 0:
                        consumed[k] -= 1
                    else:
                        new_tail.append(r)
                tail = new_tail

        kept = [s for li, s in enumerate(prev_lists) if li in carried]
        # spill at SEGLIST_SPILL_REFS (64) inline refs: refs are
        # ~100 B each, so the version file stays under ~10 KB
        # regardless of table entry count (and tiny segment_entries
        # settings — tests, extreme configs — don't degenerate into a
        # list file per ref); each list file then holds up to
        # max(threshold, segment_entries) refs so lists stay few
        spill = self.SEGLIST_SPILL_REFS
        if self.segment_entries is None or len(tail) <= spill:
            return kept + tail
        spill_at = max(spill, self.segment_entries)
        for i in range(0, len(tail), spill_at):
            part = tail[i : i + spill_at]
            fname = f"segl-{uuid.uuid4().hex}.json"
            self.fs.write_text(
                join_uri(self._log_path(name), fname),
                json.dumps({"refs": part}),
                overwrite=False,
            )
            lref = {"list": fname, "n": sum(r.get("n", 0) for r in part),
                    "refs": len(part)}
            st = self._rollup_seg_stats(
                [{"stats": r.get("stats"), "rows": r.get("n")} for r in part]
            )
            if st:
                lref["stats"] = st
            # partition ranges roll up from REF ranges: [min of mins,
            # max of maxes], only when every member carries the column
            pcols = None
            for r in part:
                ps = set((r.get("partitions") or {}).keys())
                pcols = ps if pcols is None else (pcols & ps)
            parts_roll = {}
            for c in pcols or ():
                los = [r["partitions"][c][0] for r in part]
                his = [r["partitions"][c][1] for r in part]
                parts_roll[c] = [min(los), max(his)]
            if parts_roll:
                lref["partitions"] = parts_roll
            kept.append(lref)
        return kept

    @staticmethod
    def _rollup_seg_partitions(entries: list) -> dict:
        """Segment-level [min, max] of hive partition VALUES, per
        column — the tier that lets ``drop_partitions_below`` /
        ``dynamic_partition_overwrite`` carry an untouched segment BY
        REFERENCE without parsing it (VERDICT r9 task 6).  A column
        appears only when EVERY entry carries a non-NULL value for it
        (an entry without one could hide inside an excludable
        segment); values compare as strings — exactly the fixed-width
        contract the partition verbs document."""
        out: dict = {}
        if not entries:
            return out
        cols = set((entries[0].get("partitions") or {}).keys())
        for e in entries[1:]:
            cols &= set((e.get("partitions") or {}).keys())
        for c in cols:
            vals = [(e.get("partitions") or {}).get(c) for e in entries]
            if any(v is None or not isinstance(v, str) for v in vals):
                continue
            out[c] = [min(vals), max(vals)]
        return out

    @classmethod
    def _rollup_seg_stats(cls, entries: list) -> dict:
        """Segment-level min/max rolled up from entry stats — the
        manifest-LIST pruning tier (Iceberg partition summaries): a
        column appears only when EVERY entry in the segment carries
        prunable same-domain stats for it, so a segment-level
        exclusion is always sound (an entry without stats would
        otherwise hide inside an excludable segment).  ``opaque``
        tags and mixed domains drop the column — same keep-by-default
        rules as entry pruning.  Recorded ZERO-row entries are skipped
        outright: they match nothing, and their [None, None] stats
        would otherwise drop the column for the whole segment."""
        out: dict = {}
        entries = [e for e in entries if e.get("rows") != 0]
        if not entries:
            return out
        cols = set((entries[0].get("stats") or {}).keys())
        for e in entries[1:]:
            cols &= set((e.get("stats") or {}).keys())
        for c in cols:
            mns, mxs, tags = [], [], set()
            ok = True
            for e in entries:
                st = e["stats"][c]
                if st[0] is None or st[1] is None:
                    ok = False
                    break
                if len(st) > 2:
                    if st[2] == "opaque":
                        ok = False
                        break
                    tags.add(st[2])
                else:
                    tags.add("native")
                mns.append(st[0])
                mxs.append(st[1])
            if not ok or len(tags) > 1:
                continue
            if len({cls._stat_dom(v) for v in mns + mxs}) > 1:
                continue  # mixed value domains: cannot order soundly
            tag = tags.pop()
            st = [min(mns), max(mxs)]
            if tag != "native":
                st.append(tag)
            out[c] = st
        return out

    def fsck(self, name: str) -> dict:
        """Data-integrity audit (Delta's ``FSCK`` shape, READ-ONLY):
        verify every storage path the CURRENT manifest references
        actually exists — entry dirs/files, MOR delete-vector sidecar
        dirs (equality keys and positional masks), the retained CDF
        dir — and census the table's data dirs into live (referenced
        by SOME retained version) vs orphan (what vacuum would
        reclaim).  Metadata reads + one existence probe per reference;
        no data scan, no mutation.  A non-empty ``missing`` list means
        the manifest references deleted storage (manual deletion, or a
        vacuum raced an external retention assumption): recover by
        ``read_version``/restore from an intact older version or
        re-ingest — fsck never "repairs" by silently dropping entries,
        because a dropped entry is silently missing rows."""
        m = self._manifest(name)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest for table {name}"
            )
        missing: list[str] = []

        def probe(path: str, kind: str) -> None:
            if not self.fs.exists(path):
                missing.append(f"{kind}:{path}")

        for e in m["entries"]:
            probe(self._entry_path(name, e), "entry")
        for d in m.get("dv") or []:
            if d.get("keys"):
                probe(
                    join_uri(self.path(name), d["keys"]["dir"]), "dv-keys"
                )
            if d.get("pos"):
                probe(
                    join_uri(self.path(name), d["pos"]["dir"]), "dv-pos"
                )
        if m.get("cdc"):
            probe(join_uri(self.path(name), m["cdc"]["dir"]), "cdc")
        live: set[str] = set()
        for v in self._travelable_versions(name):
            mv = self._manifest(name, v)
            if mv is None:
                continue
            live |= {e["dir"] for e in mv["entries"]}
            if mv.get("cdc"):
                live.add(mv["cdc"]["dir"])
            for d in mv.get("dv") or []:
                if d.get("keys"):
                    live.add(d["keys"]["dir"])
                if d.get("pos"):
                    live.add(d["pos"]["dir"])
        on_disk = {
            d
            for d in self.fs.list_subdirs(self.path(name))
            if d.startswith(("d-", "cdc-", "dvk-", "dvp-"))
        }
        return {
            "table": name,
            "version": int(m["version"]),
            "entries": len(m["entries"]),
            "missing": sorted(missing),
            "orphan_dirs": sorted(on_disk - live),
            "ok": not missing,
        }

    def repair_log(self, name: str, grace_s: float | None = None) -> int:
        """Quarantine TORN version files — the recovery verb for a
        writer that died between its create-exclusive and its body
        write.  Each unparseable ``v*.json`` older than ``grace_s``
        (default ``VACUUM_WRITER_GRACE_S``; a younger one may be a
        commit IN FLIGHT on a filesystem with visible-before-close
        semantics) is renamed to ``<file>.torn`` — kept for forensics,
        invisible to ``_latest_version`` (readers resume at the
        previous committed version) and to the CAS (the next commit
        reuses the version number; the dead writer's data dir is an
        orphan vacuum reclaims).  Returns the number of files
        quarantined."""
        import json
        import time

        grace = self.VACUUM_WRITER_GRACE_S if grace_s is None else grace_s
        now = time.time()
        repaired = 0
        for f in self.fs.list_files(self._log_path(name)):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            path = join_uri(self._log_path(name), f)
            try:
                json.loads(self.fs.read_text(path))
                continue
            except ValueError:
                pass
            if grace > 0 and (now - self.fs.mtime(path)) < grace:
                continue  # possibly still being written
            # a prior quarantine of the same (reclaimed) version may
            # already hold the .torn name — replace it with the newer
            # forensics rather than failing the repair
            self.fs.delete(path + ".torn")
            self.fs.rename(path, path + ".torn")
            repaired += 1
        if repaired:
            # drop the advisory head hint: quarantining can open an
            # INTERIOR gap above a stale hint (writer died between
            # put_if_absent and hint write, then a torn commit above
            # it was repaired) — the hint's forward probe would stop
            # below a still-valid higher version and the next CAS
            # would reuse its number, silently losing that commit
            # (ADVICE r14 #1).  Deleting the hint forces the glob
            # fallback, which returns the true max; the next commit
            # rewrites the hint.
            self.fs.delete(
                join_uri(self._log_path(name), self.HEAD_HINT)
            )
        return repaired

    #: bounded CAS retries for rebaseable commits before giving up
    COMMIT_ATTEMPTS = 6

    def _try_write_manifest(
        self,
        name: str,
        version: int,
        entries: list,
        partition_columns: list,
        txn: dict | None = None,
        segments: list | None = None,
        schema: dict | None = None,
        constraints: dict | None = None,
        cdc: dict | None = None,
        dv: list | None = None,
    ) -> bool:
        """The commit CAS primitive: put-if-absent of the version file
        through the pluggable :class:`LogStore` seam (round 14).  True
        = this writer owns ``version``; False = another writer got
        there first.  The default backend is the store's own
        create-exclusive (atomic on HDFS/POSIX/conditional-PUT object
        stores); a deployment on a store WITHOUT atomic conditional
        writes injects :class:`ArbitratedLogStore` so a lock service /
        conditional-put table arbitrates instead — the protocol above
        this call is unchanged either way."""
        import json
        import time

        # the {"__none__": true} removal sentinel is an IN-MEMORY edit-
        # tuple convention only (None = carry vs "no constraints") — it
        # must never reach the on-disk format, where an external
        # manifest reader would see it as a real constraint and every
        # later commit would carry it forever (ADVICE r9 #3)
        if constraints:
            constraints = {
                k: v for k, v in constraints.items() if k != "__none__"
            }
        final = join_uri(self._log_path(name), f"v{version:012d}.json")
        body = json.dumps(
            {
                "version": version,
                "partition_columns": partition_columns,
                # hierarchical tier: refs to immutable seg-*.json files
                # whose entries logically precede the inline list below
                "segments": segments or [],
                "entries": entries,
                # idempotent-writer watermarks {app_id: last_version}
                # (Delta's txnAppId/txnVersion) — carried forward by
                # every edit, reset only by a full replace
                "txn": txn or {},
                # table schema (StructType json; Delta stores it in the
                # log for the same reason): the metadata-only basis for
                # write-time enforcement — absent on pre-schema
                # versions, self-heals on the next append
                **({"schema": schema} if schema else {}),
                # CHECK constraints {name: sql_expr} (Delta table
                # constraints): enforced on every landed batch before
                # its commit; carried by every edit and by replace
                **(
                    {"constraints": constraints} if constraints else {}
                ),
                # row-level change data for THIS version (Delta CDF's
                # _change_data): present only on delete_where /
                # update_where commits — {"dir", "n", "op"}; the CDF
                # read serves these instead of refusing across the
                # rewrite
                **({"cdc": cdc} if cdc else {}),
                # merge-on-read DELETE predicates (Delta deletion
                # vectors / Iceberg v2 equality deletes, as stored
                # predicates): each {"bounds", "n", "applies"} filters
                # the rows of the entries it APPLIES to at read time —
                # zero data rewrite at delete time; COW verbs
                # materialize and shed them per rewritten entry
                **({"dv": dv} if dv else {}),
                # READER protocol features (Delta's readerFeatures): a
                # reader that does not understand a listed feature must
                # refuse the table rather than silently misread it —
                # e.g. ignoring "dv" would serve deleted rows, and
                # ignoring "column-mapping" would serve a renamed
                # column's old files as a separate NULL-padded column.
                # Only features whose MISREAD is silent corruption list
                # here (segments self-describe: an unknown key would
                # fail loudly in entry resolution).
                **(
                    {"reader_features": feats}
                    if (
                        feats := (
                            (
                                ["dv"]
                                + (
                                    ["dv-eq"]
                                    if any("keys" in d for d in dv)
                                    else []
                                )
                                + (
                                    ["dv-pos"]
                                    if any("pos" in d for d in dv)
                                    else []
                                )
                            )
                            if dv
                            else []
                        )
                        + (
                            ["column-mapping"]
                            if schema
                            and any(
                                (f.get("metadata") or {}).get("aliases")
                                or (f.get("metadata") or {}).get("dropped")
                                for f in schema.get("fields", [])
                            )
                            else []
                        )
                    )
                    else {}
                ),
                # wall-clock commit time: the basis for time-based
                # vacuum retention (Delta's RETAIN n HOURS); advisory
                # only — correctness never depends on clocks
                "committed_at": int(time.time()),
            }
        )
        won = self.log_store.put_if_absent(self.fs, final, body)
        if won:
            self._write_head_hint(name, version)
        return won

    @staticmethod
    def _entry_key(e: dict) -> tuple:
        """Stable identity of one manifest entry for read/write-set
        math — the same (dir, rel, partitions) triple the row-level
        verbs already use to split candidates from untouched."""
        return (e["dir"], e.get("rel"), str(e["partitions"]))

    def _bounds_reads(self, bounds: dict, m: dict | None = None):
        """READ-SET predicate for the conflict classifier, from the
        same bounds dict the verb pruned with: True iff a concurrently
        ADDED entry's stats may contain a matching row (exactly
        :meth:`prune_entries`'s keep test — keep-by-default, so a
        stats-less concurrent append conservatively conflicts rather
        than silently escaping a delete that serializes after it).
        ``m`` threads the column mapping so an appended entry written
        under an alias prunes by its real stats instead of
        conservatively conflicting."""
        names = {c: self._match_names(m, c) for c in bounds}

        def reads(e: dict) -> bool:
            for c, spec in bounds.items():
                for n in names[c]:
                    if isinstance(spec, (list, set, frozenset)):
                        if not self._entry_may_match_in(e, n, spec):
                            return False
                    elif not self._entry_may_match(e, n, spec[0], spec[1]):
                        return False
            return True

        return reads

    def _classify_conflict(
        self, name: str, base: dict, head: dict, conflict: dict
    ) -> list:
        """Delta-style commit-conflict detection (OCC): given the BASE
        manifest a row-level verb computed against and the HEAD that
        won the version race, decide whether every concurrent commit in
        between is DISJOINT from the verb's read and write sets.
        Disjoint → return the rebased entry list (head's entries with
        the verb's removals/additions re-applied); any intersection →
        raise :class:`CommitConflict` so the verb recomputes.

        ``conflict`` carries the verb's sets:
          - ``touched``: entry keys the verb READ row content from
            (COW candidates; MOR ``applies`` targets) — a concurrent
            commit that removed/rewrote one of them conflicts (our
            survivors/masks/CDC were computed from its rows);
          - ``removed``: entry keys this commit drops vs base
            (⊆ touched for COW, empty for MOR);
          - ``produced``: the new entries this commit adds;
          - ``reads``: callable(entry) → True when a concurrently
            ADDED entry intersects the verb's logical predicate —
            those rows would have matched in the serial schedule, so
            committing anyway would lose their update/delete (Delta's
            ConcurrentAppendException).  None = reads nothing new
            (pure compaction): blind concurrent appends always rebase.

        Schema / constraints / dv / layout changes between base and
        head conflict unconditionally: the verb's landed data was
        validated (and its masks scoped) against the base's versions of
        all four."""
        import json as _json

        def norm(x):
            return _json.dumps(x, sort_keys=True)

        def refuse(why: str):
            raise CommitConflict(
                f"concurrent commit on {name} (v{base['version']} -> "
                f"v{head['version']}) {why}; recompute against the new "
                "head"
            )

        if list(head.get("partition_columns") or []) != list(
            base.get("partition_columns") or []
        ):
            refuse("changed the partition layout")
        if norm(head.get("schema")) != norm(base.get("schema")):
            refuse("changed the table schema this batch was validated "
                   "against")
        if norm(head.get("constraints")) != norm(base.get("constraints")):
            refuse("changed the CHECK constraints this batch was "
                   "validated against")
        if norm(head.get("dv") or []) != norm(base.get("dv") or []):
            refuse("changed the merge-on-read delete set this operation "
                   "read through")
        # delta via OBJECT IDENTITY first: resolved entries of untouched
        # segments are the segment cache's objects, shared between the
        # base and head manifests by construction — so the key-set math
        # below runs over the inline tails + actually-changed segments
        # only, O(tail + delta) instead of O(table) at commit time (the
        # same identity contract _resegment relies on)
        base_ids = {id(e) for e in base["entries"]}
        head_ids = {id(e) for e in head["entries"]}
        base_tail = [e for e in base["entries"] if id(e) not in head_ids]
        head_tail = [e for e in head["entries"] if id(e) not in base_ids]
        base_keys = {self._entry_key(e) for e in base_tail}
        head_keys = {self._entry_key(e) for e in head_tail}
        touched = set(conflict.get("touched") or ())
        gone = (base_keys - head_keys) & touched
        if gone:
            refuse(
                f"removed/rewrote {len(gone)} entr"
                f"{'y' if len(gone) == 1 else 'ies'} this operation read"
            )
        reads = conflict.get("reads")
        if reads is not None:
            hits = sum(
                1
                for e in head_tail
                if self._entry_key(e) not in base_keys and reads(e)
            )
            if hits:
                refuse(
                    f"appended {hits} entr"
                    f"{'y' if hits == 1 else 'ies'} that may match this "
                    "operation's predicate"
                )
        removed = set(conflict.get("removed") or ())
        return [
            e for e in head["entries"] if self._entry_key(e) not in removed
        ] + list(conflict.get("produced") or ())

    def _retry_conflicts(self, name: str, fn):
        """Serializable retry loop for the row-level verbs: a
        :class:`CommitConflict` means a concurrent commit intersected
        the verb's read/write set, so the WHOLE verb re-runs against
        the new head (data dirs landed by the lost attempt orphan and
        are vacuum-swept like any crashed writer's).  Bounded —
        persistent contention surfaces the last conflict instead of
        livelocking."""
        import random
        import time

        last = None
        for attempt in range(self.COMMIT_ATTEMPTS):
            try:
                return fn()
            except CommitConflict as exc:
                last = exc
                time.sleep(random.uniform(0.02, 0.08) * (attempt + 1))
        raise RuntimeError(
            f"row-level operation on {name} lost {self.COMMIT_ATTEMPTS} "
            f"conflict races — persistent contention; last: {last}"
        )

    @staticmethod
    def _overlay_txn(txn: dict | None, txn_update: dict | None):
        """Overlay idempotent-writer watermark UPDATES onto a carried
        txn map (r14): per key the HIGHER value wins (watermarks are
        monotone) and a ``None`` value records nothing.  Values compare
        in their own type — batch ids as ints, a rollup's materialized
        watermark as its timestamp string (string order is time order,
        the rule the rollup's ``sync`` applies) — and a key whose type
        changes raises instead of mis-ordering.  The overlay re-applies
        on every conflict rebase so a DML that advances its own cursor
        never loses it to a concurrent commit's carried map."""
        if not txn_update:
            return txn
        out = dict(txn or {})
        for k, v in txn_update.items():
            if v is None:
                continue
            old = out.get(k)
            if old is not None and type(old) is not type(v):
                raise TypeError(
                    f"txn key {k!r}: committed {type(old).__name__} "
                    f"{old!r} cannot order against {type(v).__name__} "
                    f"{v!r}"
                )
            out[k] = v if old is None else max(old, v)
        return out

    def _commit(
        self,
        name: str,
        entries: list,
        partition_columns: list,
        base_version: int = 0,
        schema: dict | None = None,
        cdc: dict | None = None,
        txn: dict | None = None,
        dv: list | None = None,
        conflict: dict | None = None,
        txn_update: dict | None = None,
    ) -> None:
        """Non-rebaseable (full-replace) commit: one CAS attempt, loud
        abort on a lost race — a replace computed against a stale base
        would silently discard the concurrent commit.

        ``base_version`` is the version of the manifest the edit was
        COMPUTED against (0 = table absent at read time), and the CAS
        target is exactly ``base_version + 1`` — never a re-list of the
        log.  Re-listing (``_latest_version + 1``) would let a commit
        that landed between the base read and the re-list slide the
        target PAST the concurrent version, silently discarding its
        entries instead of colliding on the version file (Delta computes
        the attempt version from the read snapshot for the same reason;
        ADVICE r8 #1).

        ``txn`` carries the idempotent-writer watermarks forward — the
        ROW-LEVEL verbs (delete_where/update_where/merge) pass the base
        manifest's map so a DML commit does not silently reset them
        (Delta carries txnAppId/txnVersion through DELETE for the same
        reason; ADVICE r9 #1).  ``None`` (the replace paths) keeps the
        documented reset-on-replace semantics.

        ``conflict`` (round 13) upgrades the loud abort to OPTIMISTIC
        CONCURRENCY for the row-level verbs (Delta's commit protocol):
        on a lost CAS the current head is re-read and classified by
        :meth:`_classify_conflict` — concurrent commits DISJOINT from
        the verb's read/write sets (blind appends elsewhere in the
        table, compactions of other files) are rebased over in place
        (head's entries minus this verb's removals plus its new
        entries, head's writer watermarks carried, the CDC payload
        re-based to the head version it now covers); intersecting
        commits raise :class:`CommitConflict` so the verb recomputes.
        The CAS primitive itself is the create-exclusive version file —
        atomic on HDFS; on a raw object store the same caveat as
        ``_try_write_manifest`` applies (a LogStore/lock service slots
        in under the create, the protocol above is unchanged)."""
        import random
        import time

        prev = self._manifest(name, base_version) if base_version else None
        segs, entries2 = self._resegment(name, prev, entries)
        nxt = base_version + 1
        if self._try_write_manifest(
            name, nxt, entries2, partition_columns,
            self._overlay_txn(txn, txn_update), segments=segs,
            schema=schema,
            constraints=(prev or {}).get("constraints"),
            cdc=cdc, dv=dv,
        ):
            return
        if conflict is None or prev is None:
            raise RuntimeError(
                f"concurrent commit detected on {name} (v{nxt} exists): a "
                "full-table replace does not commute with a concurrent "
                "write — re-run the operation against the new table state"
            )
        base = conflict.get("base") or prev
        for attempt in range(self.COMMIT_ATTEMPTS):
            head = self._manifest(name)
            if head is None:
                raise RuntimeError(
                    f"commit on {name}: table vanished under a row-level "
                    "operation (concurrent drop?)"
                )
            if head["version"] <= base["version"]:
                # version file exists but body not yet readable — the
                # racing writer is between create-exclusive and write;
                # wait it out like _manifest's resolution does
                time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
                continue
            rebased = self._classify_conflict(name, base, head, conflict)
            segs2, ents2 = self._resegment(name, head, rebased)
            # CDC rows were computed against `base`; the classifier
            # proved the concurrent commits never touched those rows,
            # so the payload is identical AT HEAD — re-stamp `since` so
            # the CDF feed stays contiguous (the intervening appends
            # serve as plain inserts)
            cdc2 = {**cdc, "since": head["version"]} if cdc else cdc
            if self._try_write_manifest(
                name, head["version"] + 1, ents2, partition_columns,
                self._overlay_txn(dict(head.get("txn") or {}), txn_update),
                segments=segs2,
                schema=schema, constraints=head.get("constraints"),
                cdc=cdc2, dv=dv,
            ):
                return
            time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
        raise RuntimeError(
            f"commit on {name} lost the version race "
            f"{self.COMMIT_ATTEMPTS} times after rebasing — persistent "
            "contention or a stuck IO error"
        )

    def _commit_edit(self, name: str, edit_fn, resolve: bool = True) -> bool:
        """Rebaseable commit: ``edit_fn(prev_manifest | None) ->
        (entries, partition_columns) | None`` is re-applied against the
        CURRENT head on every attempt, so a lost CAS rebases instead of
        aborting (append vs append commutes; partition edits re-filter
        the new head).  ``None`` from ``edit_fn`` means nothing to
        commit (returns False).  Raises after ``COMMIT_ATTEMPTS`` lost
        races — livelock turns into a loud error, not silent loss.

        ``resolve=False`` is the TWO-TIER edit mode (VERDICT r9 task
        6): edit_fn receives the RAW manifest (segment refs unparsed)
        and returns a 6-tuple whose last element is the list of
        segment refs it carries BY REFERENCE — those are written
        through verbatim (no ``_resegment``, no parse, no
        re-serialization) and only the returned inline entries flush;
        the metadata cost of a narrow partition edit then scales with
        the segments it touches, not table size."""
        import random
        import time

        for attempt in range(self.COMMIT_ATTEMPTS):
            prev = self._manifest(name, resolve=resolve)
            out = edit_fn(prev)
            if out is None:
                return False
            entries, cols = out[0], out[1]
            # every rebaseable edit preserves the head's idempotent-
            # writer watermarks unless it supplies its own (3rd elem,
            # None = carry) and the head's schema unless it supplies
            # one (4th elem, None = carry)
            txn = (
                out[2]
                if len(out) > 2 and out[2] is not None
                else dict((prev or {}).get("txn") or {})
            )
            schema = (
                out[3]
                if len(out) > 3 and out[3] is not None
                else (prev or {}).get("schema")
            )
            constraints = (
                out[4]
                if len(out) > 4 and out[4] is not None
                else (prev or {}).get("constraints")
            )
            # merge-on-read delete predicates carry from the head
            # unless the edit supplies its own list ([] clears) — an
            # append dropping the head's dv would resurrect deleted
            # rows
            dv = (
                out[6]
                if len(out) > 6 and out[6] is not None
                else (prev or {}).get("dv")
            )
            # CAS target from the BASE the edit saw, never a re-list:
            # a commit landing between the _manifest read above and a
            # log re-list would make a higher version's create-exclusive
            # succeed against a stale base, silently dropping the
            # concurrent entries (ADVICE r8 #1).  Anchored to the base,
            # the concurrent commit collides on the version file and
            # this edit rebases as documented.
            if len(out) > 5 and out[5] is not None:
                segs, entries = self._flush_tail(
                    name, list(out[5]), entries, prev=prev
                )
            else:
                segs, entries = self._resegment(name, prev, entries)
            nxt = (prev["version"] if prev else 0) + 1
            if self._try_write_manifest(
                name, nxt, entries, cols, txn, segments=segs,
                schema=schema, constraints=constraints, dv=dv,
            ):
                return True
            # jittered backoff: contending writers decorrelate
            time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
        raise RuntimeError(
            f"commit on {name} lost the version race "
            f"{self.COMMIT_ATTEMPTS} times — persistent contention or a "
            "stuck IO error; check the _log directory and re-run"
        )

    def _new_data_dir(
        self, name: str, df: DataFrame, partition_by: tuple[str, ...]
    ) -> tuple[list, list]:
        """Land ``df`` in a fresh immutable directory; return the
        manifest entries for it (one per partition leaf when
        partitioned, one for the dir otherwise).

        UNPARTITIONED dirs ride their stats/bloom/row-count aggregates
        on the write itself via ``Observation`` (r13 — the afbf106
        pattern generalized): the post-write footer-scan job that every
        append / merge / sync / DML rewrite previously paid disappears.
        The observed node is created HERE, on a fresh plan the caller
        never probes, so no partial action can lock the metrics.
        Partitioned dirs keep the grouped footer read (per-leaf stats
        are a GROUP BY, which Observation cannot express)."""
        import uuid

        dirname = f"d-{uuid.uuid4().hex}"
        target = join_uri(self.path(name), dirname)
        obs = aggs = None
        if not partition_by and (self.stats_cols or self.bloom_cols):
            aggs, present, bloomable = self._stats_aggs(
                df.schema, self._alias_to_live(name, df.columns)
            )
            if present or bloomable:
                from pyspark.sql import Observation

                obs = Observation()
                df = df.observe(obs, *aggs)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(target)
        if not partition_by:
            entries = [{"dir": dirname, "partitions": None}]
            if obs is not None:
                self._stats_attach(entries[0], obs.get, present, bloomable)
            else:
                self._attach_stats(name, dirname, entries, ())
            # write-time schema memo (r16): the dir just landed is
            # immutable and parquet round-trips both type and
            # nullability (nullable field -> optional -> inferred
            # nullable, required -> non-null), so the frame's schema IS
            # what mergeSchema inference would return — memoize it now
            # and the FIRST read of the dir skips the footer-inference
            # job too (r15's memo only covered re-reads).  Partitioned
            # dirs are excluded: their read-back schema appends
            # partition columns whose types depend on layout/inference
            # settings, not on ``df.schema``.
            _dir_schema_put((target, (target,)), df.schema)
            return entries, []
        entries = []

        def walk(rel: str, values: dict, depth: int):
            if depth == len(partition_by):
                entries.append({"dir": dirname, "rel": rel, "partitions": values})
                return
            for d in self.fs.list_subdirs(join_uri(self.path(name), dirname, rel) if rel else target):
                col, sep, val = d.partition("=")
                if not sep or col != partition_by[depth]:
                    continue
                walk(
                    f"{rel}/{d}" if rel else d,
                    {**values, col: val},
                    depth + 1,
                )

        walk("", {}, 0)
        self._attach_stats(name, dirname, entries, partition_by)
        return entries, list(partition_by)

    def _attach_stats(
        self, name: str, dirname: str, entries: list, partition_by: tuple
    ) -> None:
        """Record per-entry min/max of ``stats_cols`` in the manifest —
        ONE bounded aggregate over the freshly written dir (grouped by
        partition leaf; Spark reads only the stats columns, and parquet
        footers answer min/max without scanning data pages).  Values
        store through ``_stat_triplet``: native types as-is,
        datetime/date as order-safe ISO strings, anything else tagged
        ``opaque`` so pruning never compares it (ADVICE r8 #5).

        ``bloom_cols`` additionally record an m-bit bloom filter per
        entry (r12): k crc32 positions per distinct value, aggregated
        as k map-side-combined ``collect_set``s in the SAME bounded
        aggregate, encoded driver-side (positions per entry are capped
        by m, manifest-sized).  Only integral/string columns qualify —
        the write-side JVM string cast and the read-side Python
        ``str()`` must agree exactly (``_bloom_value_ok``)."""
        if (not self.stats_cols and not self.bloom_cols) or not entries:
            return

        base = join_uri(self.path(name), dirname)
        reader = self.spark.read
        if partition_by:
            reader = reader.option("basePath", base)
        df = reader.parquet(base)
        aggs, present, bloomable = self._stats_aggs(
            df.schema, self._alias_to_live(name, df.columns)
        )
        if not present and not bloomable:
            return

        if partition_by:
            rows = df.groupBy(*partition_by).agg(*aggs).collect()
            by_part = {
                tuple(str(r[c]) for c in partition_by): r for r in rows
            }
            for e in entries:
                r = by_part.get(
                    tuple(e["partitions"][c] for c in partition_by)
                )
                if r is not None:
                    self._stats_attach(e, r, present, bloomable)
        else:
            r = df.agg(*aggs).first()
            # a ZERO-row entry (routine: empty 15-minute micro-batches)
            # has [None, None] stats, which keep-by-default pruning
            # would treat as unknowable forever — the recorded count
            # lets every pruning tier exclude it outright
            self._stats_attach(entries[0], r, present, bloomable)

    def _alias_to_live(self, name: str, columns) -> dict | None:
        """alias -> live-column translation for stats/bloom collection
        after a RENAME: the configured ``stats_cols``/``bloom_cols``
        name columns as they were at configuration time, but
        post-rename frames carry the live names — without translation
        every new entry would silently record NO stats and pruning
        would degrade forever.  Zero-cost fast path: when every
        configured column is present under its own name (no rename
        ever happened — the overwhelmingly common case), returns None
        without touching the manifest."""
        have = set(columns)
        if all(c in have for c in (*self.stats_cols, *self.bloom_cols)):
            return None
        cached = self._a2l_cache.get(name)
        if cached is not None:
            return cached or None
        m = self._manifest(name, resolve=False, expand_lists=False)
        aliases, _, _ = self._schema_mapping((m or {}).get("schema"))
        out = {a: live for live, als in aliases.items() for a in als}
        self._a2l_cache[name] = out
        return out or None

    def _stats_aggs(self, schema, alias_to_live: dict | None = None):
        """The bounded stats/bloom aggregate set over a frame with this
        schema — shared by the footer-read path (`_attach_stats`) and
        the write-riding Observation path (`_new_data_dir`).
        ``alias_to_live`` redirects configured column names retired by
        a rename to the live column the frame actually carries, so
        stats land under the name the FILE stores (what alias-AND
        pruning expects)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import IntegralType, StringType

        cols = {f.name for f in schema.fields}
        types = {f.name: f.dataType for f in schema.fields}

        def live(c):
            if c in cols:
                return c
            t = (alias_to_live or {}).get(c)
            return t if t in cols else None

        present = list(
            dict.fromkeys(
                t for t in (live(c) for c in self.stats_cols) if t
            )
        )
        bloomable = list(
            dict.fromkeys(
                t
                for t in (live(c) for c in self.bloom_cols)
                if t and isinstance(types[t], (IntegralType, StringType))
            )
        )
        m_bits, k = self.BLOOM_BITS, self.BLOOM_K
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in present:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        for c in bloomable:
            for i in range(k):
                pos = F.crc32(
                    F.concat(
                        F.lit(f"{i}:"), F.col(c).cast("string")
                    ).cast("binary")
                ) % m_bits
                # NULL values set no bits (collect_set drops nulls)
                aggs.append(
                    F.collect_set(
                        F.when(F.col(c).isNotNull(), pos)
                    ).alias(f"__bl_{c}_{i}")
                )
        return aggs, present, bloomable

    def _stats_attach(self, e: dict, r, present: list, bloomable: list):
        """Record one aggregate row's stats/bloom/row-count on one
        manifest entry (``r`` is a Row or an Observation metrics
        mapping — both index by alias)."""
        m_bits, k = self.BLOOM_BITS, self.BLOOM_K
        e["rows"] = int(r["__n"])
        if present:
            e["stats"] = {
                c: _stat_triplet(r[f"__mn_{c}"], r[f"__mx_{c}"])
                for c in present
            }
        blooms = {}
        for c in bloomable:
            positions = set()
            for i in range(k):
                positions.update(r[f"__bl_{c}_{i}"] or ())
            b = _bloom_encode(positions, m_bits)
            if b is not None:
                blooms[c] = {"b": b, "m": m_bits, "k": k}
        if blooms:
            e["bloom"] = blooms

    def _entry_path(self, name: str, e: dict) -> str:
        base = join_uri(self.path(name), e["dir"])
        return join_uri(base, e["rel"]) if e.get("rel") else base

    # -- reads / metadata ------------------------------------------------

    def exists(self, name: str) -> bool:
        m = self._manifest(name)
        return m is not None and bool(m["entries"])

    def read(self, name: str, version: int | None = None) -> DataFrame:
        m = self._manifest(name, version)
        if m is None:
            raise FileNotFoundError(f"no committed manifest for table {name}")
        if not m["entries"]:
            # a committed-but-empty version (retention dropped every
            # partition, or a first write of an empty partitioned frame)
            # has no files to infer a schema from — same caller contract
            # as a missing table, not an IndexError on frames[0]
            raise FileNotFoundError(
                f"table {name} has no data at version {m['version']} "
                "(all partitions dropped or empty write)"
            )
        return self._read_with_dv(name, m, m["entries"])

    def _read_entries(
        self, name: str, m: dict, entries: list, with_pos: bool = False
    ) -> DataFrame:
        """DataFrame over a subset of a manifest's entries.  Entries
        group by data dir: each dir is a self-contained dataset whose
        hive layout (if any) infers partition columns relative to its
        own basePath; dirs then union (schema may have evolved between
        commits — allowMissingColumns fills with NULL, matching the
        parquet format's mergeSchema read).

        ``with_pos=True`` attaches the POSITIONAL row identity Delta's
        deletion vectors address rows by — ``__dv_file`` (table-root-
        relative file path, derived per dir so the identity survives a
        warehouse move) and ``__dv_pos`` (the parquet scan's
        ``_metadata.row_index``: physical row position within the
        immutable file, stable across reads and splits)."""
        from pyspark.sql import functions as F

        by_dir: dict[str, list] = {}
        for e in entries:
            by_dir.setdefault(e["dir"], []).append(e)
        frames = []
        for dirname, dir_entries in sorted(by_dir.items()):
            base = join_uri(self.path(name), dirname)
            paths = [self._entry_path(name, e) for e in dir_entries]
            # immutable-dir schema memo: first read of a path set infers
            # (mergeSchema, exactly the old behavior); re-reads pass the
            # cached physical schema and skip the footer job
            cache_key = (base, tuple(sorted(paths)))
            cached = _dir_schema_get(cache_key)
            reader = self.spark.read
            if cached is not None:
                reader = reader.schema(cached)
            else:
                reader = reader.option("mergeSchema", "true")
            # basePath keys off THIS dir's own layout (entries with a
            # rel are hive leaves), not the table's CURRENT spec —
            # after partition-spec evolution (r14) old dirs keep their
            # old layout, and reading their leaves without basePath
            # would silently drop the partition-column values
            if m["partition_columns"] or any(
                e.get("rel") for e in dir_entries
            ):
                reader = reader.option("basePath", base)
            f = reader.parquet(*paths)
            if cached is None:
                _dir_schema_put(cache_key, f.schema)
            if with_pos:
                # substring_index, not a per-row regex (measured 35%
                # scan overhead vs ~0): the dir name is a uuid hex so
                # the delimiter occurs exactly once in any scan path
                f = f.withColumn(
                    "__dv_file",
                    F.concat(
                        F.lit(dirname + "/"),
                        F.substring_index(
                            F.col("_metadata.file_path"),
                            "/" + dirname + "/",
                            -1,
                        ),
                    ),
                ).withColumn("__dv_pos", F.col("_metadata.row_index"))
            frames.append(f)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        if m.get("schema"):
            # files predating a SAFE type promotion carry the narrow
            # type: cast up to the schema the log records so the read
            # serves one schema regardless of which files survive
            # pruning (no-op Project when nothing was ever promoted)
            out = self._cast_to_stored(out, m["schema"])
            # files predating a RENAME carry the old physical name,
            # dropped columns' data still sits in old files: resolve
            # both through the schema's column mapping (no-op for
            # tables that never renamed/dropped)
            out = self._apply_column_mapping(out, m["schema"])
        return out

    def recover(self, name: str) -> None:
        """Nothing to repair: uncommitted data dirs are invisible."""

    def read_version(self, name: str, version: int) -> DataFrame:
        """Time travel: the table exactly as manifest ``version``
        committed it — immutable data dirs make every old version
        readable until ``vacuum`` reclaims its unreferenced dirs (the
        Delta/Iceberg ``VERSION AS OF`` read, for free from the log).
        The SCD-2 snapshot answers "what did the ROW look like at T";
        this answers "what did the TABLE look like at commit v"."""
        if (
            not 1 <= version <= self._latest_version(name)
            or self._manifest(name, version) is None
        ):
            raise ValueError(
                f"no version {version} for {name}: log holds "
                f"{[int(f[1:-5]) for f in self.fs.list_files(self._log_path(name)) if f.startswith('v')]}"
                " (older versions may have been vacuumed)"
            )
        return self.read(name, version)

    def _travelable_versions(self, name: str) -> list[int]:
        """Version numbers time travel may resolve to — every retained
        log file here; only catalog-committed versions in the catalog
        subclass (an aborted transaction's orphan manifest is not a
        table state that ever existed)."""
        return [
            int(f[1:-5])
            for f in self.fs.list_files(self._log_path(name))
            if f.startswith("v") and f.endswith(".json")
        ]

    def version_at(self, name: str, ts) -> int:
        """Latest committed version whose ``committed_at`` <= ``ts`` —
        Delta's ``TIMESTAMP AS OF`` resolution.  ``ts`` is epoch
        seconds or a datetime.  Scans NEWEST-first, so a wall-clock
        regression between commits can only resolve to an older (still
        correct-at-ts) version, never a future one; warm segment/
        manifest parses make the scan cheap and the typical ask ("the
        table as of an hour ago") terminates within a few probes."""
        ts = ts.timestamp() if hasattr(ts, "timestamp") else float(ts)
        versions = sorted(self._travelable_versions(name), reverse=True)
        if not versions:
            raise FileNotFoundError(f"no committed manifest for table {name}")
        earliest = None
        for v in versions:
            # committed_at is a top-level field: never expand segments
            # (nor the segl list tier)
            m = self._manifest(name, v, resolve=False, expand_lists=False)
            if m is None:
                continue
            at = m.get("committed_at") or 0
            earliest = at
            if at <= ts:
                return v
        raise ValueError(
            f"no version of {name} at or before ts={ts}: the earliest "
            f"retained commit is at {earliest} (older versions may have "
            "been vacuumed)"
        )

    def read_asof(self, name: str, ts) -> DataFrame:
        """Time travel by timestamp: the table as of wall-clock ``ts``
        (``read_version`` at ``version_at``)."""
        return self.read_version(name, self.version_at(name, ts))

    def snapshot(self) -> TableSnapshot:
        """A PINNED-SNAPSHOT read handle: reads through it serve one
        fixed version set regardless of concurrent commits (see
        :class:`TableSnapshot` for per-format pinning semantics)."""
        return TableSnapshot(self)

    def restore(self, name: str, version: int) -> int:
        """Delta's ``RESTORE TABLE ... VERSION AS OF``: commit the old
        version's entry list as a NEW head version — metadata-only
        (immutable data dirs are shared; a retained manifest's dirs are
        by construction un-vacuumed, since the sweep keeps every dir a
        retained manifest references).  History is preserved: the bad
        head stays readable via ``read_version``, and the restore
        itself is one more auditable commit.  Rebaseable like any edit
        — a concurrent append between the read and the CAS loses its
        rows from the HEAD (that is what restore means) but keeps them
        in its own version until vacuum.  Returns the new head
        version."""
        if version not in set(self._travelable_versions(name)):
            raise ValueError(
                f"cannot restore {name} to version {version}: not a "
                f"committed retained version (vacuumed, never committed, "
                "or an aborted transaction's orphan)"
            )
        old = self._manifest(name, version)
        if old is None:
            raise ValueError(
                f"cannot restore {name} to version {version}: manifest "
                "missing"
            )

        def to_old(head):
            # constraints restore EXACTLY (a version without any maps
            # to the removal sentinel — carrying the bad head's
            # constraints would leave schema and constraints
            # inconsistent, e.g. a CHECK on a column the restored
            # schema no longer has)
            # dv restores EXACTLY too ([] clears when the restored
            # version had none — carrying the bad head's delete
            # predicates would delete rows the restored version holds)
            return (
                old["entries"],
                old["partition_columns"],
                None,
                old.get("schema"),
                old.get("constraints") or {"__none__": True},
                None,
                old.get("dv") or [],
            )

        self._commit_edit(name, to_old)
        return self._manifest(name)["version"]

    def history(self, name: str) -> list[dict]:
        """The commit log as data: one row per version (version,
        entry/data-dir counts, partitioning) — the ops surface for
        auditing what each sync actually committed."""
        out = []
        for v in range(1, self._latest_version(name) + 1):
            m = self._manifest(name, v)
            if m is None:
                continue  # pruned by vacuum
            out.append(
                {
                    "version": v,
                    "n_entries": len(m["entries"]),
                    "n_data_dirs": len({e["dir"] for e in m["entries"]}),
                    "partition_columns": m["partition_columns"],
                    "committed_at": m.get("committed_at"),
                }
            )
        return out

    #: writer grace for the vacuum data sweep (seconds): d-* dirs
    #: younger than this survive even when unreferenced, because every
    #: write verb lands its data dir BEFORE its CAS commit — a vacuum
    #: racing an in-flight writer would otherwise delete the
    #: uncommitted dir, the writer's CAS would then succeed, and the
    #: table would point at vanished data (ADVICE r8 #3; Delta's
    #: vacuum has the same file-age check).  Default = one 15-minute
    #: sync cadence; pass ``writer_grace_s=0`` only with writers
    #: quiesced.
    VACUUM_WRITER_GRACE_S = 900.0

    def _sweep_data_dirs(
        self, name: str, live: set, writer_grace_s: float | None
    ) -> int:
        """Delete ``d-*`` dirs not in ``live`` — EXCEPT dirs younger
        than the writer grace, which may be an in-flight writer's
        pre-commit data (see ``VACUUM_WRITER_GRACE_S``).  One
        ``getFileStatus`` per candidate dir."""
        import time

        grace = (
            self.VACUUM_WRITER_GRACE_S
            if writer_grace_s is None
            else writer_grace_s
        )
        now = time.time()
        removed = 0
        for d in self.fs.list_subdirs(self.path(name)):
            if (
                not (
                    d.startswith("d-")
                    or d.startswith("cdc-")
                    or d.startswith("dvk-")
                    or d.startswith("dvp-")
                )
                or d in live
            ):
                continue
            target = join_uri(self.path(name), d)
            if grace > 0 and (now - self.fs.mtime(target)) < grace:
                continue  # possibly an in-flight writer's dir
            self.fs.delete(target)
            removed += 1
        return removed

    def vacuum(
        self,
        name: str,
        keep_last: int = 1,
        keep_hours: float | None = None,
        writer_grace_s: float | None = None,
    ) -> int:
        """Delete data directories none of the retained manifest
        versions reference, and drop the manifests older than those —
        trading time-travel depth for space, explicitly.
        ``keep_last=1`` (default) keeps only the current table;
        ``keep_last=7`` keeps a week of daily commits readable.
        ``keep_hours`` (Delta's ``RETAIN n HOURS``) retains instead
        every version committed within the window — whichever policy
        keeps MORE wins, and the current version always survives.
        Versions from before commit timestamps existed count as
        ancient.  ``writer_grace_s`` (default
        ``VACUUM_WRITER_GRACE_S``) additionally keeps any
        unreferenced data dir YOUNGER than the window — it may belong
        to an in-flight writer whose CAS has not landed yet.  Returns
        the number of data directories removed."""
        if keep_last < 1:
            raise ValueError("vacuum keeps at least the current version")
        latest = self._latest_version(name)
        kept_versions: list = list(
            range(max(1, latest - keep_last + 1), latest + 1)
        )
        if keep_hours is not None:
            import time

            cutoff = time.time() - keep_hours * 3600
            for v in range(1, latest + 1):
                m = self._manifest(name, v)
                if (
                    m is not None
                    and v not in kept_versions
                    and (m.get("committed_at") or 0) >= cutoff
                ):
                    kept_versions.append(v)
        kept_versions = sorted(kept_versions)
        live: set[str] = set()
        live_segs: set[str] = set()
        for v in kept_versions:
            m = self._manifest(name, v)
            live |= {e["dir"] for e in (m["entries"] if m else [])}
            live_segs |= {s["file"] for s in (m or {}).get("segments") or []}
            live_segs |= {
                s["list"]
                for s in (m or {}).get("segments_spooled") or []
                if "list" in s
            }
            if (m or {}).get("cdc"):
                live.add(m["cdc"]["dir"])  # retained CDF data
            for d in (m or {}).get("dv") or []:
                if d.get("keys"):
                    live.add(d["keys"]["dir"])  # equality-delete keys
                if d.get("pos"):
                    live.add(d["pos"]["dir"])  # positional delete masks
        removed = self._sweep_data_dirs(name, live, writer_grace_s)
        keep_set = set(kept_versions)
        for f in self.fs.list_files(self._log_path(name)):
            if f.startswith("v") and f.endswith(".json"):
                v = int(f[1:-5])
                # a version ABOVE the snapshot head is a commit that
                # landed while this vacuum ran (version CAS numbers are
                # monotone): deleting it would silently destroy the
                # concurrent writer's committed rows
                if v not in keep_set and v <= latest:
                    self.fs.delete(join_uri(self._log_path(name), f))
            elif (
                f.startswith("seg-") or f.startswith("segl-")
            ) and f.endswith(".json"):
                if f not in live_segs:
                    self._sweep_segment(name, f, writer_grace_s)
            elif f.endswith(".torn"):
                # quarantined torn commits (repair_log) are kept for
                # forensics until an explicit vacuum reclaims them
                self.fs.delete(join_uri(self._log_path(name), f))
        return removed

    def _sweep_segment(
        self, name: str, fname: str, writer_grace_s: float | None
    ) -> None:
        """Delete one unreferenced segment file — with the same writer
        grace as data dirs, because ``_resegment`` writes segments
        BEFORE the CAS: a young orphan may belong to a commit whose
        version file has not landed yet."""
        import time

        grace = (
            self.VACUUM_WRITER_GRACE_S
            if writer_grace_s is None
            else writer_grace_s
        )
        path = join_uri(self._log_path(name), fname)
        if grace > 0 and (time.time() - self.fs.mtime(path)) < grace:
            return
        self.fs.delete(path)
        self._seg_cache.pop(path, None)

    def list_tables(self) -> list[str]:
        out = []
        for schema in self.fs.list_subdirs(self.root):
            if schema.startswith("_"):
                continue
            for tbl in self.fs.list_subdirs(join_uri(self.root, schema)):
                if self.fs.is_dir(join_uri(self.root, schema, tbl, self.LOG_DIR)):
                    out.append(f"{schema}.{tbl}")
        return sorted(out)

    def partition_columns(self, name: str) -> list[str]:
        m = self._manifest(name)
        return list(m["partition_columns"]) if m else []

    def partition_values(self, name: str) -> list[str]:
        m = self._manifest(name)
        if not m or not m["partition_columns"]:
            return []
        top = m["partition_columns"][0]
        # entries written before the table adopted its layout (or the
        # rare mixed state a guarded verb was bypassed into) carry
        # partitions=None — they have no value for the top column and
        # are skipped rather than raising TypeError on None[top]
        return sorted(
            {
                e["partitions"][top]
                for e in m["entries"]
                if e["partitions"] and top in e["partitions"]
            }
        )

    def table_bytes(self, name: str) -> int:
        m = self._manifest(name)
        if not m:
            return 0
        return sum(
            self.fs.tree_bytes(self._entry_path(name, e)) for e in m["entries"]
        )

    # -- writes ----------------------------------------------------------

    def add_constraint(self, name: str, cname: str, expr: str) -> None:
        """Delta's ``ALTER TABLE ADD CONSTRAINT ... CHECK``: store a
        named SQL predicate in the log and enforce it on every landed
        batch BEFORE its commit (append, overwrite/replace, dynamic
        partition overwrite, streaming batch).  SQL CHECK semantics: a
        row violates only when the predicate is FALSE — NULL (unknown)
        passes.  Existing data must already satisfy the constraint
        (validated here with one scan, as Delta does); constraints are
        carried by every edit verb and by replace, and dropped only via
        :meth:`drop_constraint`."""
        from pyspark.sql import functions as F

        try:
            bad = (
                self.read(name)
                .filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .limit(1)
                .count()
            )
        except FileNotFoundError:
            bad = 0  # empty or not-yet-written: zero rows satisfy any CHECK
        if bad:
            raise ValueError(
                f"cannot add constraint {cname!r} to {name}: existing "
                f"rows violate CHECK ({expr})"
            )

        def edit(head):
            cons = {
                k: v
                for k, v in ((head or {}).get("constraints") or {}).items()
                if k != "__none__"
            }
            if cons.get(cname) == expr:
                return None  # idempotent re-add
            if cname in cons:
                raise ValueError(
                    f"constraint {cname!r} already exists on {name} "
                    f"with a different expression ({cons[cname]!r}); "
                    "drop it first"
                )
            cons[cname] = expr
            # declaring constraints BEFORE the first write is legal
            # (Delta allows it): a never-written table commits an
            # empty-entries version carrying only the constraint map
            return (
                head["entries"] if head else [],
                head["partition_columns"] if head else [],
                None,
                None,
                cons,
            )

        self._commit_edit(name, edit)

    def drop_constraint(self, name: str, cname: str) -> bool:
        """Remove a CHECK constraint; True if it existed."""
        existed = {"v": False}

        def edit(head):
            cons = {
                k: v
                for k, v in ((head or {}).get("constraints") or {}).items()
                if k != "__none__"
            }
            if cname not in cons:
                return None
            existed["v"] = True
            del cons[cname]
            # explicit empty dict would read as "carry" through the
            # None-coalescing tuple protocol, so mark removal with a
            # sentinel the writer strips
            return (
                head["entries"],
                head["partition_columns"],
                None,
                None,
                cons or {"__none__": True},
            )

        self._commit_edit(name, edit)
        return existed["v"]

    def _enforce_constraints(self, name: str, prev: dict | None, target: str) -> None:
        """Validate a LANDED batch dir against the table's CHECK
        constraints before its commit — one columnar scan of the new
        files only (never a recompute of the caller's plan), all
        constraints counted in a single aggregate.  On violation the
        landed dir is deleted and the write raises, so the table never
        holds uncommitted bad data."""
        from pyspark.sql import functions as F

        cons = {
            k: v
            for k, v in ((prev or {}).get("constraints") or {}).items()
            if k != "__none__"
        }
        if not cons:
            return
        df = self.spark.read.parquet(target)
        stored = (prev or {}).get("schema")
        if stored:
            # a NARROWING append legally omits existing columns
            # (readers fill NULL) — evaluate constraints under the
            # same semantics: missing columns are NULL, and SQL CHECK
            # passes on NULL, instead of an unresolved-column error
            from pyspark.sql.types import StructType

            have = set(df.columns)
            for f in StructType.fromJson(stored).fields:
                if f.name not in have:
                    df = df.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
        aggs = [
            F.count(
                F.when(~F.coalesce(F.expr(e), F.lit(True)), 1)
            ).alias(k)
            for k, e in cons.items()
        ]
        try:
            row = df.agg(*aggs).first()
        except Exception:
            # the landed dir must not leak past a failed validation
            # (e.g. a constraint referencing a column outside the
            # stored schema)
            self.fs.delete(target)
            raise
        bad = {k: row[k] for k in cons if row[k]}
        if bad:
            self.fs.delete(target)
            detail = "; ".join(
                f"{k}: {n} row(s) violate CHECK ({cons[k]})"
                for k, n in bad.items()
            )
            raise ValueError(
                f"write to {name} rejected by constraint(s) — {detail}"
            )

    @classmethod
    def _normalize_nullability(cls, dt):
        """The type with every nullability flag (field nullable, array
        containsNull, map valueContainsNull) forced permissive —
        schema enforcement compares THESE: nullability differences are
        not type clashes (a computed frame's array<int> with
        containsNull=false appending onto a parquet-derived
        containsNull=true column is safe — parquet reads resolve
        nullable anyway), and the stored schema keeps the permissive
        variant so it never claims non-null over files that may hold
        NULLs."""
        from pyspark.sql import types as T

        if isinstance(dt, T.ArrayType):
            return T.ArrayType(cls._normalize_nullability(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(
                cls._normalize_nullability(dt.keyType),
                cls._normalize_nullability(dt.valueType),
                True,
            )
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(
                        f.name, cls._normalize_nullability(f.dataType), True
                    )
                    for f in dt.fields
                ]
            )
        return dt

    @staticmethod
    def _promoted_type(a, b):
        """Iceberg's SAFE type-promotion lattice (spec §Schema
        Evolution), applied to a same-name column whose stored and
        incoming types differ: returns the WIDER type when one side
        promotes losslessly to the other, else None (the caller keeps
        the loud refusal).  Safe promotions: the integer chain
        byte→short→int→long, float→double (every float32 is exactly
        representable as float64), and decimal precision widening at
        the SAME scale.  Everything else — string↔numeric, narrowing,
        scale changes, nested-type edits — is not provable-lossless
        and refuses."""
        from pyspark.sql.types import (
            ByteType,
            DecimalType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
        )

        if a == b:
            return a
        ints = [ByteType(), ShortType(), IntegerType(), LongType()]
        if a in ints and b in ints:
            return ints[max(ints.index(a), ints.index(b))]
        floats = [FloatType(), DoubleType()]
        if a in floats and b in floats:
            return DoubleType()
        if (
            isinstance(a, DecimalType)
            and isinstance(b, DecimalType)
            and a.scale == b.scale
        ):
            return a if a.precision >= b.precision else b
        return None

    def _cast_to_stored(self, df: DataFrame, stored: dict) -> DataFrame:
        """Read-side half of type promotion: files written BEFORE a
        promotion carry the narrow type; cast them up to the schema
        the log records so every read serves ONE schema regardless of
        which files survive pruning.  No-op (no extra Project) when
        nothing differs; only provably-safe promotions cast — any
        other mismatch is left for the write-time guards to have
        refused."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        want = {
            f.name: f.dataType for f in StructType.fromJson(stored).fields
        }
        have = {f.name: f.dataType for f in df.schema.fields}
        casts = {
            c: want[c]
            for c, t in have.items()
            if c in want
            and self._normalize_nullability(t)
            != self._normalize_nullability(want[c])
            and self._promoted_type(
                self._normalize_nullability(t),
                self._normalize_nullability(want[c]),
            )
            == self._normalize_nullability(want[c])
        }
        if not casts:
            return df
        return df.select(
            *[
                F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
                for c in df.columns
            ]
        )

    # -- column mapping (rename / drop without rewrite) --------------------

    @staticmethod
    def _schema_mapping(schema_json: dict | None):
        """Parse the COLUMN-MAPPING state out of the stored schema's
        field metadata (round 13, VERDICT task 4 — Delta's column
        mapping / Iceberg's field-id rename, spelled as an alias
        registry riding the schema the log already stores):

        - ``aliases``: live logical column -> its historical names
          (files written before each rename carry them physically);
        - ``dropped``: tombstoned fields (``drop_column``) — their
          physical data stays in old files, reads exclude it;
        - ``retired``: every name NO new column may take — aliases of
          live fields and dropped fields' names+aliases.  Reusing one
          would make old files' physical column resolve to the new
          field, resurrecting unrelated stored values (the reason
          Delta/Iceberg use field ids); the append guard refuses
          loudly instead."""
        aliases: dict[str, list] = {}
        dropped: set = set()
        retired: set = set()
        for fj in (schema_json or {}).get("fields", []):
            md = fj.get("metadata") or {}
            al = [str(a) for a in (md.get("aliases") or [])]
            if md.get("dropped"):
                dropped.add(fj["name"])
                retired.add(fj["name"])
                retired.update(al)
            else:
                if al:
                    aliases[fj["name"]] = al
                retired.update(al)
        return aliases, dropped, retired

    def _match_names(self, m: dict | None, col: str) -> list[str]:
        """All physical names whose stats/bloom may describe logical
        ``col`` under the manifest's column mapping — an entry wrote
        exactly one of them, and AND-ing the keep tests over the set is
        exact (the names the entry did not write answer keep-by-default
        True)."""
        aliases, _, _ = self._schema_mapping((m or {}).get("schema"))
        return [col] + aliases.get(col, [])

    def _apply_column_mapping(self, df: DataFrame, schema_json: dict | None):
        """Read-side half of column mapping: resolve each live logical
        column from whichever physical name each pruned file carries
        (``coalesce`` over current name + aliases, cast to the logical
        type) and EXCLUDE tombstoned columns' physical data.  Fast
        path: tables that never renamed/dropped return the frame
        untouched (no extra Project).  Non-schema columns (``__dv_*``
        row identity, never-recorded extras) pass through after the
        schema's fields."""
        if not schema_json:
            return df
        aliases, dropped, _ = self._schema_mapping(schema_json)
        if not aliases and not dropped:
            return df
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        have = set(df.columns)
        cols = []
        consumed: set = set()
        for f in StructType.fromJson(schema_json).fields:
            md = f.metadata or {}
            names = [f.name] + [str(a) for a in (md.get("aliases") or [])]
            consumed.update(names)
            if md.get("dropped"):
                continue
            srcs = [n for n in names if n in have]
            if not srcs:
                continue  # every pruned file predates this column
            if len(srcs) == 1 and srcs[0] == f.name:
                cols.append(F.col(f.name))
            elif len(srcs) == 1:
                cols.append(F.col(srcs[0]).cast(f.dataType).alias(f.name))
            else:
                cols.append(
                    F.coalesce(
                        *[F.col(n).cast(f.dataType) for n in srcs]
                    ).alias(f.name)
                )
        extras = [c for c in df.columns if c not in consumed]
        return df.select(*cols, *[F.col(c) for c in extras])

    def rename_column(self, name: str, old: str, new: str) -> int:
        """``ALTER TABLE RENAME COLUMN`` with NO data rewrite (Delta's
        column-mapping rename): a metadata-only commit renames the
        field in the stored schema and records ``old`` (plus its own
        prior aliases) in the field's alias metadata — old files keep
        serving through the read-side ``coalesce``, new files land
        under the new name, stats/bloom pruning consults both names.
        Refusals (all loud): unknown/dropped column; ``new`` collides
        with a live column or ANY retired name (alias reuse would
        resurrect old physical data under the wrong field); ``old`` is
        a partition column (physical layout), referenced by a CHECK
        constraint (stored SQL text), or referenced by a live
        merge-on-read delete (``materialize_deletes`` first — a stored
        predicate on a renamed column would silently stop masking).
        Returns the new head version."""
        import re as _re

        if old == new:
            raise ValueError(f"rename_column on {name}: old == new ({old})")

        def edit(head):
            if head is None:
                raise FileNotFoundError(
                    f"no committed manifest for table {name}"
                )
            schema = head.get("schema")
            if schema is None:
                # pre-schema table: derive once (self-heals at commit)
                schema = self.read(name, head["version"]).schema.jsonValue()
            live = {
                f["name"]
                for f in schema["fields"]
                if not (f.get("metadata") or {}).get("dropped")
            }
            _, dropped, retired = self._schema_mapping(schema)
            if old not in live:
                raise ValueError(
                    f"rename_column on {name}: no column {old!r} "
                    f"(live columns: {sorted(live)})"
                )
            if new in live or new in retired or new in dropped:
                raise ValueError(
                    f"rename_column on {name}: {new!r} collides with a "
                    "live column or a name retired by an earlier "
                    "rename/drop — old files still carry that physical "
                    "column, and reusing the name would resurrect their "
                    "values under the new field"
                )
            if old in (head.get("partition_columns") or []):
                raise ValueError(
                    f"rename_column on {name}: {old!r} is a partition "
                    "column (physical layout); change layout via "
                    "replace_atomic"
                )
            pat = _re.compile(rf"\b{_re.escape(old)}\b")
            for cname, expr in (head.get("constraints") or {}).items():
                if cname != "__none__" and pat.search(str(expr)):
                    raise ValueError(
                        f"rename_column on {name}: CHECK constraint "
                        f"{cname!r} references {old!r}; drop and re-add "
                        "the constraint around the rename"
                    )
            for d in head.get("dv") or []:
                refs = set((d.get("bounds") or {}).keys())
                if "col" in (d.get("keys") or {}):
                    refs.add(d["keys"]["col"])
                if old in refs:
                    raise ValueError(
                        f"rename_column on {name}: a live merge-on-read "
                        f"delete references {old!r}; run "
                        "materialize_deletes first"
                    )
            fields = []
            for fj in schema["fields"]:
                if fj["name"] == old:
                    md = dict(fj.get("metadata") or {})
                    md["aliases"] = [old] + [
                        a for a in (md.get("aliases") or []) if a != old
                    ]
                    fields.append({**fj, "name": new, "metadata": md})
                else:
                    fields.append(fj)
            return (
                head["entries"],
                head["partition_columns"],
                None,
                {**schema, "fields": fields},
            )

        self._commit_edit(name, edit)
        self._a2l_cache.pop(name, None)
        return self._manifest(name, resolve=False, expand_lists=False)[
            "version"
        ]

    def drop_column(self, name: str, col: str) -> int:
        """``ALTER TABLE DROP COLUMN`` with NO data rewrite: the field
        tombstones in the stored schema (``dropped`` metadata), reads
        exclude its physical data, and its name + aliases retire —
        re-adding any of them refuses (see :meth:`_schema_mapping`).
        Same refusals as :meth:`rename_column` for partition/
        constraint/MOR references, plus dropping the last live column.
        Returns the new head version."""
        import re as _re

        def edit(head):
            if head is None:
                raise FileNotFoundError(
                    f"no committed manifest for table {name}"
                )
            schema = head.get("schema")
            if schema is None:
                schema = self.read(name, head["version"]).schema.jsonValue()
            live = {
                f["name"]
                for f in schema["fields"]
                if not (f.get("metadata") or {}).get("dropped")
            }
            if col not in live:
                raise ValueError(
                    f"drop_column on {name}: no column {col!r} "
                    f"(live columns: {sorted(live)})"
                )
            if len(live) == 1:
                raise ValueError(
                    f"drop_column on {name}: {col!r} is the last live "
                    "column"
                )
            if col in (head.get("partition_columns") or []):
                raise ValueError(
                    f"drop_column on {name}: {col!r} is a partition "
                    "column (physical layout); change layout via "
                    "replace_atomic"
                )
            pat = _re.compile(rf"\b{_re.escape(col)}\b")
            for cname, expr in (head.get("constraints") or {}).items():
                if cname != "__none__" and pat.search(str(expr)):
                    raise ValueError(
                        f"drop_column on {name}: CHECK constraint "
                        f"{cname!r} references {col!r}; drop the "
                        "constraint first"
                    )
            for d in head.get("dv") or []:
                refs = set((d.get("bounds") or {}).keys())
                if "col" in (d.get("keys") or {}):
                    refs.add(d["keys"]["col"])
                if col in refs:
                    raise ValueError(
                        f"drop_column on {name}: a live merge-on-read "
                        f"delete references {col!r}; run "
                        "materialize_deletes first"
                    )
            fields = [
                (
                    {
                        **fj,
                        "metadata": {
                            **(fj.get("metadata") or {}),
                            "dropped": True,
                        },
                    }
                    if fj["name"] == col
                    else fj
                )
                for fj in schema["fields"]
            ]
            return (
                head["entries"],
                head["partition_columns"],
                None,
                {**schema, "fields": fields},
            )

        self._commit_edit(name, edit)
        self._a2l_cache.pop(name, None)
        return self._manifest(name, resolve=False, expand_lists=False)[
            "version"
        ]

    def _enforce_append_schema(
        self, name: str, prev: dict, df
    ) -> dict | None:
        """Delta-style write-time schema enforcement for append-family
        verbs, BEFORE any data lands: new columns may arrive (additive
        evolution — readers fill NULL on old files) and existing
        columns may be absent (readers fill NULL on new files), but a
        column present on both sides must carry the SAME type.  The
        mergeSchema/unionByName read would otherwise coerce (an int
        file unioned with a string file reads as string), silently
        changing stored values — a refusal here is the loud version.

        Metadata-only: compares against the schema the manifest stores
        (Delta keeps it in the log for the same reason).  A pre-schema
        table derives it once from parquet footers and the returned
        MERGED schema self-heals the manifest at this commit, so every
        later append is again footer-free.  Returns the merged schema
        json (table fields first, new fields appended) for the commit
        to store, or None when there is nothing to merge against."""
        from pyspark.sql.types import StructType

        if not prev or (
            not prev.get("entries") and not prev.get("segments")
        ):
            return None
        stored = prev.get("schema")
        if stored is not None:
            existing = StructType.fromJson(stored)
        else:
            try:
                existing = self.read(name, prev["version"]).schema
            except FileNotFoundError:
                return None  # committed-but-empty head: nothing stored
        # names retired by rename/drop refuse BEFORE any type check: a
        # new column under a retired name would resolve old files'
        # physical data into it (silent value resurrection), and a
        # write under a live column's OLD name belongs under its new
        # one (column mapping, r13)
        if stored is not None:
            _, dropped_names, retired = self._schema_mapping(stored)
            bad = sorted(
                f.name
                for f in df.schema.fields
                if f.name in retired or f.name in dropped_names
            )
            if bad:
                raise TypeError(
                    f"append to {name} writes column(s) {bad} whose "
                    "name(s) were retired by an earlier rename/drop — "
                    "old files still carry that physical column; write "
                    "under the current name (renames) or pick a fresh "
                    "one (drops)"
                )
        old = {f.name: f.dataType for f in existing.fields}
        # same-name type differences split by the promotion lattice:
        # a SAFE widening (int→long, float→double, decimal precision
        # at same scale — Iceberg's rules) is accepted and the log
        # records the WIDER type (readers cast old files up on the
        # fly, _cast_to_stored); anything else keeps the loud refusal
        promoted: dict[str, object] = {}
        clashes = []
        for f in df.schema.fields:
            if f.name not in old:
                continue
            a = self._normalize_nullability(f.dataType)
            t = self._normalize_nullability(old[f.name])
            if a == t:
                continue
            wide = self._promoted_type(a, t)
            if wide is None:
                clashes.append((f.name, str(old[f.name]), str(f.dataType)))
            else:
                promoted[f.name] = wide
        if clashes:
            detail = "; ".join(
                f"{c}: table={t}, append={a}" for c, t, a in clashes
            )
            raise TypeError(
                f"append to {name} changes column type(s) — {detail}. "
                "Additive columns evolve freely, safe widenings "
                "(int→long, float→double, decimal precision) promote "
                "in the log; any other type change needs an explicit "
                "full rewrite (replace/overwrite)."
            )
        from pyspark.sql.types import StructField

        appended = {f.name: f.dataType for f in df.schema.fields}
        merged = StructType(
            [
                # widen to the permissive-nullability variant whenever
                # the sides differ only there — the stored schema must
                # never claim non-null over files that may hold NULLs —
                # and to the PROMOTED type on a safe widening
                f
                if f.name not in appended or appended[f.name] == f.dataType
                else StructField(
                    f.name,
                    promoted.get(
                        f.name, self._normalize_nullability(f.dataType)
                    ),
                    True,
                    f.metadata,
                )
                for f in existing.fields
            ]
            + [f for f in df.schema.fields if f.name not in old]
        )
        return merged.jsonValue()

    def _recheck_on_rebase(
        self, name: str, head: dict, df, new_entries: list, checked: dict
    ) -> None:
        """Re-run the write-time guards against a REBASED head: a
        commit that landed between this writer's pre-land checks and
        its CAS may have (a) evolved the schema — a TYPE conflict with
        the landed files must abort loudly, not merge head-biased into
        a stored schema that lies about the parquet underneath — or
        (b) added CHECK constraints the landed batch was never
        validated against.  On the no-contention path head equals the
        pre-checked base, both checks reduce to dict comparisons, and
        no Spark job runs."""
        from pyspark.sql.types import StructType

        stored = head.get("schema")
        if stored is not None:
            # the retired-name guard must re-run against the REBASED
            # head: a rename/drop that landed after this writer's
            # pre-land _enforce_append_schema check retires names the
            # base schema still held live — merging the appended column
            # back in as a new live field would let old files' physical
            # data resurrect through _apply_column_mapping's coalesce
            # (the exact corruption _enforce_append_schema refuses on
            # the non-racing path).  On the no-contention path head's
            # retired set equals the one already checked, so this is a
            # pure metadata set intersection.
            _, dropped_names, retired = self._schema_mapping(stored)
            bad = sorted(
                f.name
                for f in df.schema.fields
                if f.name in retired or f.name in dropped_names
            )
            if bad:
                raise RuntimeError(
                    f"append to {name} lost to a concurrent rename/"
                    f"drop: column(s) {bad} were retired by the commit "
                    "this writer rebased onto — old files still carry "
                    "that physical column; re-run the append under the "
                    "current name (renames) or a fresh one (drops)"
                )
            old_t = {
                f.name: f.dataType
                for f in StructType.fromJson(stored).fields
            }
            clashes = [
                f.name
                for f in df.schema.fields
                if f.name in old_t
                and self._normalize_nullability(f.dataType)
                != self._normalize_nullability(old_t[f.name])
                and self._promoted_type(
                    self._normalize_nullability(f.dataType),
                    self._normalize_nullability(old_t[f.name]),
                )
                is None
            ]
            if clashes:
                raise RuntimeError(
                    f"append to {name} lost to a concurrent schema "
                    f"evolution: column(s) {clashes} now carry a "
                    "different type than this writer's landed files — "
                    "re-run the append against the new table state"
                )
        head_cons = {
            k: v
            for k, v in (head.get("constraints") or {}).items()
            if k != "__none__"
        }
        unchecked = {
            k: v for k, v in head_cons.items() if checked.get(k) != v
        }
        if unchecked and new_entries:
            self._enforce_constraints(
                name,
                {"constraints": unchecked, "schema": stored},
                join_uri(self.path(name), new_entries[0]["dir"]),
            )

    @classmethod
    def _merge_schema_json(cls, head_schema: dict | None, merged: dict | None):
        """Re-merge a precomputed (base-relative) merged schema with the
        HEAD a rebase landed on: head fields win their slots — except
        when the incoming merge carries a SAFE promotion of the same
        field (the head writer was still on the narrow type), where
        the wider type wins — and fields only the incoming merge knows
        append after.  None-safe."""
        if head_schema is None:
            return merged
        if merged is None:
            return head_schema
        from pyspark.sql.types import StructField, StructType

        inc = {
            f.name: f.dataType
            for f in StructType.fromJson(merged).fields
        }
        out_fields = []
        for fj in head_schema["fields"]:
            f = StructField.fromJson(fj)
            w = (
                cls._promoted_type(
                    cls._normalize_nullability(f.dataType),
                    cls._normalize_nullability(inc[f.name]),
                )
                if f.name in inc and inc[f.name] != f.dataType
                else None
            )
            if w is not None and w != cls._normalize_nullability(f.dataType):
                # metadata (column-mapping aliases, tombstones) must
                # survive the promotion rewrite of the field slot
                out_fields.append(
                    StructField(f.name, w, True, f.metadata).jsonValue()
                )
            else:
                out_fields.append(fj)
        have = {f["name"] for f in head_schema["fields"]}
        return {
            **head_schema,
            "fields": out_fields
            + [f for f in merged["fields"] if f["name"] not in have],
        }

    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str,
        partition_by: tuple[str, ...] = (),
    ) -> None:
        # RAW manifest: the append path needs only top-level metadata
        # (schema, constraints, partition_columns, version) plus the
        # inline tail — resolving a million-entry segmented manifest
        # here would make every append O(table) again
        prev = self._manifest(name, resolve=False)
        if mode == "append" and prev is not None:
            merged = self._enforce_append_schema(name, prev, df)
            if merged is None:
                merged = df.schema.jsonValue()
            # an append NEVER changes the table's layout: adopting the
            # caller's partition_by on a previously-unpartitioned table
            # would mix partitions=None entries with partitioned ones —
            # a state no partition-aware verb can reason about.  Change
            # layout via replace_atomic (a full rewrite) instead.
            cols = prev["partition_columns"]
            new, _ = self._new_data_dir(name, df, tuple(cols))
            if new:
                self._enforce_constraints(
                    name, prev, join_uri(self.path(name), new[0]["dir"])
                )

            checked_cons = {
                k: v
                for k, v in (prev.get("constraints") or {}).items()
                if k != "__none__"
            }

            def add_entries(head):
                if head is None:
                    # table replaced-away mid-append
                    return new, cols, None, df.schema.jsonValue()
                if head is not prev:
                    self._recheck_on_rebase(
                        name, head, df, new, checked_cons
                    )
                if head["partition_columns"] != cols:
                    # a concurrent replace changed the layout: our data
                    # dir was written under the old one and cannot join
                    # the new table — this pair does NOT commute
                    raise RuntimeError(
                        f"append to {name} lost to a concurrent layout "
                        f"change ({cols} -> {head['partition_columns']}); "
                        "re-run the append"
                    )
                # RESOLVE-FREE two-tier append (r12): segment refs
                # carry verbatim as the 6th element and only the
                # inline tail + the new entries serialize, so the
                # commit never parses or re-serializes old segments —
                # the cost is O(tail + batch) at ANY entry count
                # (probe: 1.6 s → ms at 1M entries).  An unsegmented
                # head returns the 4-tuple and keeps the classic
                # _resegment path unchanged.
                segs = head.get("segments")
                return (
                    head["entries"] + new,
                    cols,
                    None,
                    self._merge_schema_json(head.get("schema"), merged),
                ) + ((None, list(segs)) if segs else ())

            self._commit_edit(name, add_entries, resolve=False)
        else:
            entries, cols = self._new_data_dir(name, df, partition_by)
            if entries:
                self._enforce_constraints(
                    name, prev, join_uri(self.path(name), entries[0]["dir"])
                )
            self._commit(
                name,
                entries,
                cols,
                prev["version"] if prev else 0,
                schema=df.schema.jsonValue(),
            )
            # overwrite resets the stored schema (and any alias state)
            self._a2l_cache.pop(name, None)

    def replace_atomic(
        self,
        name: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        suffix: str = "__staging",
        txn: dict | None = None,
    ) -> None:
        # suffix ignored: the commit itself is the transaction.  The
        # base is read BEFORE landing data: a commit racing into the
        # write window collides on base+1 and aborts this replace loudly
        # instead of being silently discarded.  txn=None keeps the
        # documented reset; a row-preserving caller passes the map to
        # carry INSIDE the same commit (no crash window).
        prev = self._manifest(name)
        entries, cols = self._new_data_dir(name, df, partition_by)
        if entries:
            self._enforce_constraints(
                name, prev, join_uri(self.path(name), entries[0]["dir"])
            )
        self._commit(
            name,
            entries,
            cols,
            prev["version"] if prev else 0,
            schema=df.schema.jsonValue(),
            txn=txn,
        )
        self._a2l_cache.pop(name, None)

    def dynamic_partition_overwrite(
        self, name: str, df: DataFrame, partition_col: str
    ) -> None:
        """Replace exactly the partitions present in ``df`` — a manifest
        edit: old entries for those partition values drop out, the new
        dir's entries take their place.  Atomic per TABLE here (one
        commit), strictly stronger than the parquet commit protocol's
        per-partition atomicity.

        TWO-TIER on a segmented manifest (VERDICT r9 task 6): a
        segment whose rolled-up partition range excludes every
        replaced value carries by reference WITHOUT being parsed — the
        backfill's metadata cost scales with the days it replaces, not
        table entry count.  A ref with a recorded range for the column
        also proves every member entry HAS the value, so the layout
        guard holds for unparsed segments too."""

        def guard(e):
            # an existing entry with no value for partition_col
            # (unpartitioned write, or a different layout) cannot be
            # compared against the replace set — keeping it would
            # silently duplicate rows for the replaced values
            if not e["partitions"] or partition_col not in e["partitions"]:
                raise ValueError(
                    f"dynamic_partition_overwrite on {name}: an existing "
                    f"entry carries no '{partition_col}' partition value "
                    "(unpartitioned or differently-partitioned history) "
                    "— rewrite the table via replace_atomic with the "
                    "target layout first"
                )

        def split_two_tier(head):
            """(untouched segment refs, entries needing comparison) of
            a RAW head; guards every entry it parses."""
            kept_refs, loose = [], []
            for s in (head.get("segments") or []) if head else []:
                rng = (s.get("partitions") or {}).get(partition_col)
                if rng is not None and not any(
                    rng[0] <= v <= rng[1] for v in replaced
                ):
                    kept_refs.append(s)  # provably untouched: no parse
                    continue
                for e in self._load_segment(name, s["file"]):
                    guard(e)
                    loose.append(e)
            for e in (head["entries"] if head else []):
                guard(e)
                loose.append(e)
            return kept_refs, loose

        prev = self._manifest(name, resolve=False)
        # guard BEFORE landing any data — segments whose recorded range
        # proves membership are not parsed even here (replaced is not
        # known yet, so pre-guard only skips refs with a range at all)
        if prev is not None:
            for s in prev.get("segments") or []:
                if (s.get("partitions") or {}).get(partition_col) is None:
                    for e in self._load_segment(name, s["file"]):
                        guard(e)
            for e in prev["entries"]:
                guard(e)
        merged = (
            self._enforce_append_schema(name, prev, df)
            if prev is not None
            else None
        ) or df.schema.jsonValue()
        new, _ = self._new_data_dir(name, df, (partition_col,))
        if new:
            self._enforce_constraints(
                name, prev, join_uri(self.path(name), new[0]["dir"])
            )
        replaced = {e["partitions"][partition_col] for e in new}

        checked_cons = {
            k: v
            for k, v in ((prev or {}).get("constraints") or {}).items()
            if k != "__none__"
        }
        prev_version = prev["version"] if prev else 0

        def swap_partitions(head):
            if head is not None and head["version"] != prev_version:
                self._recheck_on_rebase(name, head, df, new, checked_cons)
            try:
                kept_refs, loose = split_two_tier(head)
            except ValueError as e:
                # a concurrent layout change landed after the pre-guard
                raise RuntimeError(
                    f"dynamic_partition_overwrite on {name} lost to a "
                    "concurrent layout change; re-run against the new "
                    "table state"
                ) from e
            kept = [
                e
                for e in loose
                if e["partitions"].get(partition_col) not in replaced
            ]
            return (
                kept + new,
                [partition_col],
                None,
                self._merge_schema_json(
                    (head or {}).get("schema"), merged
                ),
                None,
                kept_refs,
            )

        self._commit_edit(name, swap_partitions, resolve=False)

    def drop_partitions_below(
        self, name: str, partition_col: str, cutoff: str
    ) -> int:
        """Logical delete: partitions below the cutoff leave the
        manifest in ONE commit; no data moves (``vacuum`` reclaims the
        bytes later).  On a 100 TB table this is one small-file write
        where the directory format does 90 deletes.

        TWO-TIER on a segmented manifest (VERDICT r9 task 6): a
        segment whose rolled-up partition range proves every entry is
        AT/ABOVE the cutoff carries by reference WITHOUT being parsed
        — the retention edit's metadata cost scales with the old tail
        it drops, not with the table's entry count.  Segments without
        a recorded range (pre-r10, or mixed layouts) parse as before —
        pruning never changes results."""
        if self._manifest(name, resolve=False) is None:
            return 0
        dropped_vals: set = set()

        def drop_entries(head):
            if head is None:
                return None
            dropped_vals.clear()  # recompute against the current head
            kept_refs, keep = [], []

            def classify(e):
                val = (e["partitions"] or {}).get(partition_col)
                if val is not None and val < cutoff:
                    dropped_vals.add(val)
                else:
                    keep.append(e)

            for s in head.get("segments") or []:
                rng = (s.get("partitions") or {}).get(partition_col)
                if rng is not None and rng[0] >= cutoff:
                    kept_refs.append(s)  # provably untouched: no parse
                    continue
                for e in self._load_segment(name, s["file"]):
                    classify(e)
            for e in head["entries"]:
                classify(e)
            if not dropped_vals:
                return None  # nothing below the cutoff: no commit
            return (
                keep, head["partition_columns"], None, None, None, kept_refs
            )

        self._commit_edit(name, drop_entries, resolve=False)
        return len(dropped_vals)

    def widen_column(self, name: str, col: str, new_type: str) -> int:
        """``ALTER TABLE … ALTER COLUMN c TYPE t`` for SAFE widenings
        (round 14): a metadata-only commit rewrites the field's type in
        the stored schema when ``new_type`` is reachable on the
        promotion lattice (byte→short→int→long, float→double, decimal
        precision at the same scale — :meth:`_promoted_type`); old
        files keep the narrow physical type and reads cast up via the
        existing ``_cast_to_stored`` path, exactly as after an
        append-driven promotion.  Anything not provably lossless
        refuses loudly (narrowing, string↔numeric, scale changes) —
        those need an explicit full rewrite.  Returns the new head
        version."""
        from pyspark.sql.types import StructField, _parse_datatype_string

        target = _parse_datatype_string(new_type)

        def edit(head):
            if head is None:
                raise FileNotFoundError(
                    f"no committed manifest for table {name}"
                )
            schema = head.get("schema")
            if schema is None:
                schema = self.read(name, head["version"]).schema.jsonValue()
            fields = []
            hit = False
            for fj in schema["fields"]:
                f = StructField.fromJson(fj)
                if f.name != col or (fj.get("metadata") or {}).get(
                    "dropped"
                ):
                    fields.append(fj)
                    continue
                hit = True
                cur = self._normalize_nullability(f.dataType)
                new = self._normalize_nullability(target)
                wide = self._promoted_type(cur, new)
                if wide != new or wide is None:
                    raise TypeError(
                        f"widen_column on {name}: {col} is {cur} and "
                        f"{new} is not a safe widening (lattice: "
                        "byte→short→int→long, float→double, decimal "
                        "precision at same scale); any other change "
                        "needs an explicit full rewrite"
                    )
                fields.append(
                    StructField(f.name, new, True, f.metadata).jsonValue()
                )
            if not hit:
                raise ValueError(
                    f"widen_column on {name}: no live column {col!r}"
                )
            segs = head.get("segments")
            return (
                head["entries"],
                head["partition_columns"],
                None,
                {**schema, "fields": fields},
            ) + ((None, list(segs)) if segs else ())

        self._commit_edit(name, edit, resolve=False)
        return self._manifest(name, resolve=False, expand_lists=False)[
            "version"
        ]

    def drop_table(self, name: str, purge: bool = True) -> bool:
        """DROP TABLE.  On this format the table IS its directory, so
        the drop is the directory removal (non-transactional — a
        concurrent reader mid-plan may error, the same contract as any
        filesystem table).  The catalog subclass overrides with a
        transactional pointer flip (readers stop resolving first) +
        optional purge.  Returns False when the table did not exist."""
        p = self.path(name)
        if not self.fs.exists(p):
            return False
        if purge:
            self.fs.delete(p)
        return True

    def set_partition_spec(
        self, name: str, partition_by: tuple[str, ...]
    ) -> int:
        """PARTITION-SPEC EVOLUTION (round 14 — Iceberg's partition
        evolution): change ``partition_by`` on an existing table in
        ONE metadata-only commit, no data rewrite.  Existing entries
        keep their recorded leaves (their dirs read through their own
        basePath, so old partition-column values survive); new writes
        land under the NEW spec.  Pruning stays sound across the
        boundary by the keep-by-default invariant: an entry that does
        not carry a queried partition value is kept, and a segment's
        rolled-up partition range only records columns EVERY member
        carries.  Partition edits refuse/keep honestly on
        non-attributable old-spec entries (``dynamic_partition_
        overwrite`` refuses loudly; ``drop_partitions_below`` keeps —
        retention never over-drops).

        Refusals: unknown columns (not live in the stored schema),
        retired/dropped names, and a no-op spec (same columns).
        Returns the new head version.  Concurrency: commits through
        the rebaseable CAS; an append computed under the OLD spec that
        rebases onto this commit hits the layout guard and re-runs
        (the pair does not commute — its data dir has the wrong
        layout), exactly like a replace-driven layout change."""
        new = [str(c) for c in partition_by]
        if len(set(new)) != len(new):
            raise ValueError(
                f"set_partition_spec on {name}: duplicate column in {new}"
            )

        def edit(head):
            if head is None:
                raise FileNotFoundError(
                    f"no committed manifest for table {name}"
                )
            if list(head.get("partition_columns") or []) == new:
                raise ValueError(
                    f"set_partition_spec on {name}: spec already {new}"
                )
            schema = head.get("schema")
            if schema is not None and new:
                live = {
                    f["name"]
                    for f in schema["fields"]
                    if not (f.get("metadata") or {}).get("dropped")
                }
                _, dropped, retired = self._schema_mapping(schema)
                bad = [c for c in new if c in retired or c in dropped]
                if bad:
                    raise ValueError(
                        f"set_partition_spec on {name}: column(s) {bad} "
                        "were retired by a rename/drop — partition by "
                        "the live name"
                    )
                missing = [c for c in new if c not in live]
                if missing:
                    raise ValueError(
                        f"set_partition_spec on {name}: no live "
                        f"column(s) {missing} (live: {sorted(live)})"
                    )
            # metadata-only: entries + segment refs carry verbatim
            segs = head.get("segments")
            return (head["entries"], new, None, None) + (
                (None, list(segs)) if segs else ()
            )

        self._commit_edit(name, edit, resolve=False)
        return self._manifest(name, resolve=False, expand_lists=False)[
            "version"
        ]

    def set_txn(self, name: str, txn: dict) -> bool:
        """Merge idempotent-writer watermarks into the head manifest —
        a METADATA-ONLY rebaseable commit (entries untouched, no data
        write).  Per key the HIGHER value wins (``_overlay_txn``), so
        restoring never rolls a cursor back under a concurrent stream.
        Uses: re-recording cursors a deliberate replace reset, and the
        cursor advance of a ``merge``/``merge_mor`` whose delta turned
        out empty (no data commit to ride).  Returns False when nothing
        needed recording."""

        def edit(head):
            if head is None:
                raise FileNotFoundError(
                    f"set_txn: no committed manifest for table {name}"
                )
            merged = self._overlay_txn(dict(head.get("txn") or {}), txn)
            if merged == (head.get("txn") or {}):
                return None
            return head["entries"], head["partition_columns"], merged

        return self._commit_edit(name, edit)

    def write_streaming_batch(
        self, name: str, df: DataFrame, batch_id: int, app_id: str = "stream"
    ) -> bool:
        """Idempotent append for at-least-once writers (Structured
        Streaming ``foreachBatch``) — Delta's txnAppId/txnVersion
        design: the manifest carries per-``app_id`` watermarks of the
        last committed ``batch_id``, updated INSIDE the same CAS commit
        as the appended entries, so a replayed batch (its id at or
        below the watermark) no-ops instead of landing twice.  The
        rollup family's batch-id cursor is the same mechanism riding a
        merge; this is it for RAW appends: the exactly-once guarantee
        lives in the table, not in a side cursor.  Multiple apps (or
        multiple queries) write the same table independently — each id
        stream is tracked per ``app_id``.  Returns True if the batch
        committed, False if it was a recognized replay.

        Contract: ``batch_id`` must be monotone per ``app_id`` (what
        foreachBatch provides).  A full-table REPLACE resets the txn
        watermarks — a stream resuming after a replace would re-append
        its last batch — so replacing a streamed-into table requires
        also resetting the stream's checkpoint (documented loudly here
        because silently keeping stale watermarks would instead DROP
        the first post-replace batches)."""
        prev = self._manifest(name)
        committed = ((prev or {}).get("txn") or {}).get(app_id)
        if committed is not None and batch_id <= int(committed):
            return False  # replay of an already-committed batch
        merged = (
            self._enforce_append_schema(name, prev, df)
            if prev is not None
            else None
        ) or df.schema.jsonValue()
        cols = prev["partition_columns"] if prev else []
        new, _ = self._new_data_dir(name, df, tuple(cols))
        if new:
            self._enforce_constraints(
                name, prev, join_uri(self.path(name), new[0]["dir"])
            )

        checked_cons = {
            k: v
            for k, v in ((prev or {}).get("constraints") or {}).items()
            if k != "__none__"
        }

        def add(head):
            head_txn = dict((head or {}).get("txn") or {})
            last = head_txn.get(app_id)
            if last is not None and batch_id <= int(last):
                return None  # another attempt of this very batch won
            head_txn[app_id] = int(batch_id)
            if head is None:
                return new, cols, head_txn, merged
            if head is not prev:
                self._recheck_on_rebase(name, head, df, new, checked_cons)
            if head["partition_columns"] != cols:
                raise RuntimeError(
                    f"streaming append to {name} lost to a concurrent "
                    "layout change; restart the stream against the new "
                    "table state"
                )
            return (
                head["entries"] + new,
                cols,
                head_txn,
                self._merge_schema_json(head.get("schema"), merged),
            )

        return self._commit_edit(name, add)

    def maybe_compact(
        self,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        force: bool = False,
    ) -> int:
        """Threshold auto-compaction for the append-heavy read path.

        Every append adds one immutable data dir; at a 15-minute sync
        cadence that is ~96 dirs/day, and each dir costs the reader a
        footer listing plus a union branch (read-amplification curve:
        PERF_NOTES.md).  When the committed entries span more than
        ``auto_compact_dirs`` dirs, rewrite ONLY the dirs smaller than
        ``target_file_bytes`` — the accumulated append tail — into one
        fresh dir.  Dirs at or above the target are left untouched, so
        the rewrite cost is O(threshold x batch), never O(table): at
        100 TB the big compacted history is never re-read, and the dir
        count stays ~(big dirs + threshold) forever.  Sizing is one
        ``getContentSummary`` metadata call per dir.

        The swap commits through the rebaseable CAS loop: concurrent
        appends add NEW dirs and commute; if a concurrent
        replace/compact already removed any source dir, the edit
        no-ops and vacuum reclaims the abandoned rewrite.  Returns the
        number of data dirs collapsed (0 = below threshold / no-op).
        """
        # ``force=True`` (SQL ``OPTIMIZE t``, ADVICE r14 #3): bypass
        # the auto threshold so the statement always compacts the
        # sub-target append tail — Delta's unconditional-compaction
        # shape — even on a format built with auto_compact_dirs=None
        if not force and self.auto_compact_dirs is None:
            return 0
        m = self._manifest(name)
        if m is None:
            return 0
        dirs = {e["dir"] for e in m["entries"]}
        threshold = 1 if force else self.auto_compact_dirs
        if len(dirs) <= threshold:
            return 0
        sizes = {
            d: self.fs.tree_bytes(join_uri(self.path(name), d)) for d in dirs
        }
        small = {d for d, s in sizes.items() if s < target_file_bytes}
        # dirs a merge-on-read delete predicate still applies to stay
        # out of compaction: absorbing them would either resurrect
        # deleted rows or silently materialize a predicate the change
        # feed has no provenance for — materialize_deletes (or any COW
        # verb touching them) clears the predicate first
        dv_idents = {
            a for d in (m.get("dv") or []) for a in (d.get("applies") or ())
        }
        if dv_idents:
            small -= {
                e["dir"]
                for e in m["entries"]
                if self._dv_ident(e) in dv_idents
            }
        if len(small) < 2:
            return 0  # nothing merges without rewriting full-size history
        src = [e for e in m["entries"] if e["dir"] in small]
        df = self._read_entries(name, m, src)
        # the configured merge key may have been RENAMED since this
        # format was constructed — translate through the column mapping
        # so cluster-on-compact keeps converging the layout instead of
        # silently degrading to unclustered landings (r13)
        ckey = self.cluster_by
        if ckey is not None and ckey not in df.columns:
            aliases, _, _ = self._schema_mapping(m.get("schema"))
            rev = {a: live for live, als in aliases.items() for a in als}
            ckey = rev.get(ckey)
        if ckey in df.columns and not m["partition_columns"]:
            # cluster-on-compact: land the absorbed tail range-shuffled
            # on the merge key with PER-FILE stats — each compaction
            # cycle converges the table toward near-disjoint key ranges,
            # which is what makes the stats-bounded MERGE prune on a
            # RANDOM key (uuid _dlt_id) that appends can never cluster
            from pyspark.sql import functions as F

            tail_bytes = sum(sizes[d] for d in small)
            n_files = max(1, -(-tail_bytes // int(target_file_bytes)))
            new = self._land_clustered_dir(
                name, df, F.col(ckey), (ckey,), n_files,
            )
        else:
            new, _ = self._new_data_dir(
                name, df, tuple(m["partition_columns"])
            )
        # FLATTENED provenance for the change feed (read_changes): the
        # compacted entries name the ORIGINAL append dirs they carry, so
        # a feed reader can decide whether a compacted dir's content
        # predates its last-read version even across chained compactions
        provenance = sorted(
            {
                d
                for e in src
                for d in (e.get("sources") or [e["dir"]])
            }
        )
        for e in new:
            e["sources"] = provenance

        def ident(e):
            import json as _json

            return (
                e["dir"],
                e.get("rel"),
                _json.dumps(e["partitions"], sort_keys=True),
            )

        src_ids = {ident(e) for e in src}

        def swap(head):
            if head is None:
                return None
            # ENTRY-granular guard, not dir-granular: a concurrent
            # drop_partitions_below / dynamic_partition_overwrite can
            # remove SOME entries of a small dir while the dir survives
            # via its other partitions — a dir-membership check would
            # pass and the compacted output (built from the OLD
            # manifest's entries, whose immutable files still exist)
            # would resurrect the dropped rows (ADVICE r8 #2).  Every
            # source entry must still be present by identity, else the
            # rewrite is stale and no-ops (vacuum reclaims it).
            if not src_ids <= {ident(e) for e in head["entries"]}:
                return None
            kept = [e for e in head["entries"] if e["dir"] not in small]
            return kept + new, head["partition_columns"]

        return len(small) if self._commit_edit(name, swap) else 0

    def cluster(
        self,
        name: str,
        col: str,
        n_files: int | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Public entry: :meth:`_cluster_once` under the serializable
        conflict-retry loop — blind concurrent appends rebase over the
        rewrite (the late entry stays unclustered, like an append
        right after); a concurrent DML that rewrote a source entry
        re-clusters against the new head."""
        return self._retry_conflicts(
            name,
            lambda: self._cluster_once(name, col, n_files, target_file_bytes),
        )

    def _cluster_once(
        self,
        name: str,
        col: str,
        n_files: int | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Range-clustered rewrite with PER-FILE stats — the 1-D version
        of Delta's ``OPTIMIZE ... ZORDER BY`` / Iceberg's sort-order
        rewrite, completing the data-skipping story: appends give
        per-ENTRY stats for free only when the stream is already
        ordered on the column; this rewrite makes any column skippable
        by repartitioning the table BY RANGE on ``col`` (near-disjoint
        min/max per output file) and recording one manifest entry PER
        FILE.  ``read_where`` then prunes at file granularity — a
        narrow range touches ~one file of a 100 TB table regardless of
        ingest order.

        Cost: one range-shuffle rewrite (``n_files`` sized from table
        bytes at ``target_file_bytes`` unless given) plus ONE
        ``input_file_name``-grouped aggregate for the stats — never a
        per-file job loop.  Content is preserved, so the change feed
        treats the rewrite like a compaction (flattened provenance),
        not a history rewrite.  Unpartitioned tables only: partitioned
        layouts already prune on their keys, and mixing hive dirs with
        range files would make entry identity ambiguous.  Returns the
        number of clustered files committed.
        """
        from pyspark.sql import functions as F

        m = self._manifest(name)
        if m is None:
            raise FileNotFoundError(f"no committed manifest for table {name}")
        if m["partition_columns"]:
            raise ValueError(
                f"cluster() supports unpartitioned tables; {name} is "
                f"partitioned by {m['partition_columns']} (which already "
                "prunes) — drop the layout via replace_atomic first"
            )
        df = self.read(name)
        return self._clustered_rewrite(
            name, m, df, F.col(col), (col,), n_files, target_file_bytes
        )

    def cluster_zorder(
        self,
        name: str,
        cols: tuple[str, ...],
        n_files: int | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        bits: int = 4,
    ) -> int:
        """Public entry: :meth:`_cluster_zorder_once` under the
        serializable conflict-retry loop (same contract as
        :meth:`cluster`)."""
        return self._retry_conflicts(
            name,
            lambda: self._cluster_zorder_once(
                name, cols, n_files, target_file_bytes, bits
            ),
        )

    def _cluster_zorder_once(
        self,
        name: str,
        cols: tuple[str, ...],
        n_files: int | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        bits: int = 4,
    ) -> int:
        """MULTI-column clustered rewrite — Delta's ``OPTIMIZE ...
        ZORDER BY (a, b, ...)`` proper, completing what :meth:`cluster`
        (1-D) and the multi-column ``read_where`` conjunction started:
        locality in EVERY listed dimension at once, so an AND of narrow
        ranges prunes files even when no single column's sort could.

        How (all pure expressions + one range shuffle — Spark-first,
        no UDF):

        1. per column, ``approxQuantile`` yields ``2**bits - 1`` edge
           values (a driver-bounded list; equi-DEPTH buckets, so skew
           in any column still spreads evenly across the curve);
        2. each row's per-column bucket id = count of edges <= value
           (``F.aggregate`` over the edge array — O(2**bits) codegen
           ops per row);
        3. bucket ids bit-INTERLEAVE into the z-value
           (``shiftleft``/``shiftright``/``bitwiseAND``) — nearby z
           means nearby in every dimension;
        4. ``repartitionByRange`` on z + per-file min/max stats, same
           commit path as :meth:`cluster` (anchored to the read base;
           flattened provenance for the change feed).

        NULLs sort to bucket 0 (clustered together; pruning keeps
        null-stats entries regardless).  Numeric columns only — the
        quantile probe requires it, and a loud error beats silently
        un-z-ordered output.  A 2-D range query over ``n`` files
        touches ~``n * (frac_a * frac_b)`` files instead of
        ``n * min(frac_a, frac_b)`` for a 1-D sort — the win
        ``tests/test_manifest_format.py::test_cluster_zorder_prunes_in_both_dims``
        pins.  Returns the number of clustered files committed."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if len(cols) < 2:
            raise ValueError(
                "cluster_zorder needs >= 2 columns; use cluster() for 1-D"
            )
        if not 1 <= bits <= 8:
            raise ValueError("bits must be in [1, 8]")
        m = self._manifest(name)
        if m is None:
            raise FileNotFoundError(f"no committed manifest for table {name}")
        if m["partition_columns"]:
            raise ValueError(
                f"cluster_zorder() supports unpartitioned tables; {name} is "
                f"partitioned by {m['partition_columns']} (which already "
                "prunes) — drop the layout via replace_atomic first"
            )
        df = self.read(name)
        for c in cols:
            if not isinstance(df.schema[c].dataType, T.NumericType):
                raise ValueError(
                    f"cluster_zorder column {c!r} is "
                    f"{df.schema[c].dataType.simpleString()}; the quantile "
                    "bucketing needs numeric columns"
                )
        n_buckets = 2**bits
        probs = [i / n_buckets for i in range(1, n_buckets)]
        # one quantile sketch pass for ALL columns (driver gets
        # len(cols) * (n_buckets-1) floats — bounded metadata)
        edges_per_col = dict(
            zip(cols, df.approxQuantile(list(cols), probs, 0.01))
        )

        def bucket(c: str):
            edges = F.array(
                *[F.lit(float(x)) for x in edges_per_col[c]]
            )
            v = F.col(c).cast("double")
            return F.aggregate(
                edges,
                F.lit(0),
                lambda acc, e: acc
                + F.when(v >= e, F.lit(1)).otherwise(F.lit(0)),
            )

        z = F.lit(0)
        k = len(cols)
        for i in range(bits):
            for j, c in enumerate(cols):
                bit = F.shiftright(bucket(c), i).bitwiseAND(F.lit(1))
                z = z + F.shiftleft(bit, i * k + j)
        return self._clustered_rewrite(
            name, m, df, z, cols, n_files, target_file_bytes
        )

    def _clustered_rewrite(
        self,
        name: str,
        m: dict,
        df: DataFrame,
        order_expr,
        stat_for: tuple[str, ...],
        n_files: int | None,
        target_file_bytes: int,
    ) -> int:
        """Shared tail of :meth:`cluster` / :meth:`cluster_zorder`:
        range-shuffle on ``order_expr`` into a fresh dir, ONE
        ``input_file_name``-grouped aggregate for per-file min/max
        stats (never a per-file job loop), flattened provenance, and a
        base-anchored commit.  Concurrency (r13): a BLIND concurrent
        append rebases over the rewrite — the appended entry stays
        unclustered beside the clustered files, exactly the "cluster
        then append" serialization (clustering is row-preserving
        layout maintenance, so reads=None is sound); a concurrent
        commit that REWROTE a base entry (DML) or changed the
        dv/schema/constraints conflicts, and the verb re-clusters
        against the new head (Delta OPTIMIZE retries the same way —
        previously ANY concurrent commit aborted the whole rewrite)."""
        from pyspark.sql import functions as F

        if n_files is None:
            nbytes = self.table_bytes(name)
            n_files = max(1, -(-nbytes // int(target_file_bytes)))
        entries = self._land_clustered_dir(
            name, df, order_expr, stat_for, n_files
        )
        cdc = None
        if m.get("dv"):
            # the clustered output is the DV-FILTERED view, NOT the
            # source entries' content — stamping compaction provenance
            # would make read_changes treat it as old-content-in-a-new-
            # coat and silently drop the deletions from the feed.  No
            # sources => the append-only feed REFUSES across this
            # rewrite (loud); an empty purge cdc lets read_changes_cdf
            # step across it (the logical content is unchanged: reads
            # already applied the predicates).
            cdc = self._land_cdc(
                name,
                df.limit(0).withColumn("_change_type", F.lit("purge")),
                0, "purge", m["version"],
            )
        else:
            provenance = sorted(
                {
                    d
                    for e in m["entries"]
                    for d in (e.get("sources") or [e["dir"]])
                }
            )
            for e in entries:
                e["sources"] = provenance
        # the rewrite sees no DataFrame schema to re-derive: carry the
        # base manifest's stored schema through the commit; txn carried
        # too — clustering is row-preserving maintenance, and resetting
        # the idempotent streaming-writer watermarks here would make a
        # foreachBatch replay after a cluster() land twice (the same
        # class of bug ADVICE r9 #1 closed on delete/update)
        base_keys = {self._entry_key(e) for e in m["entries"]}
        self._commit(
            name, entries, [], m["version"], schema=m.get("schema"),
            txn=m.get("txn"), cdc=cdc,
            conflict={
                "base": m, "touched": base_keys, "removed": base_keys,
                "produced": entries, "reads": None,
            },
        )
        return len(entries)

    def _land_clustered_dir(
        self,
        name: str,
        df: DataFrame,
        order_expr,
        stat_for: tuple[str, ...],
        n_files: int,
    ) -> list:
        """Land ``df`` range-shuffled on ``order_expr`` into one fresh
        dir and return PER-FILE manifest entries with min/max stats
        (near-disjoint key ranges per file) — the landing half of
        :meth:`_clustered_rewrite`, also used by cluster-on-compact.
        Stats come from ONE ``input_file_name``-grouped aggregate
        (n_files rows, driver-bounded), never a per-file job loop."""
        import uuid

        from pyspark.sql import functions as F

        dirname = f"d-{uuid.uuid4().hex}"
        target = join_uri(self.path(name), dirname)
        (
            df.withColumn("__cluster_key", order_expr)
            .repartitionByRange(n_files, F.col("__cluster_key"))
            .sortWithinPartitions("__cluster_key")
            .drop("__cluster_key")
            .write.mode("overwrite")
            .parquet(target)
        )
        a2l = self._alias_to_live(name, df.columns) or {}
        scols = sorted(
            {a2l.get(c, c) for c in (*stat_for, *self.stats_cols)}
            & set(df.columns)
        )
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in scols:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        rows = (
            self.spark.read.parquet(target)
            .groupBy(F.input_file_name().alias("__f"))
            .agg(*aggs)
            .collect()
        )
        entries = []
        for r in sorted(rows, key=lambda r: r["__f"]):
            fname = r["__f"].rsplit("/", 1)[-1]
            entries.append(
                {
                    "dir": dirname,
                    "rel": fname,
                    "partitions": None,
                    "rows": int(r["__n"]),
                    "stats": {
                        c: _stat_triplet(r[f"__mn_{c}"], r[f"__mx_{c}"])
                        for c in scols
                    },
                }
            )
        return entries

    def _land_cdc(
        self, name: str, changed, n: int | None, op: str, since: int
    ) -> dict:
        """Land a rewrite's row-level change data in a ``cdc-*`` dir
        (Delta CDF's ``_change_data``), BEFORE the CAS like every data
        dir — an orphan from a lost race is vacuum-swept with the same
        writer grace.  Cost: one extra scan of the MATCHED rows only
        (bounded by the predicate, never the table).

        ``since`` records the BASE version the rewrite was computed
        against: the CDF read refuses when the feed's previous step is
        not exactly that base (intermediate versions vacuumed, or
        folded away by a catalog transaction's single flip) instead of
        silently omitting the intervening appends' insert rows —
        mirroring Delta CDF's refusal on unavailable versions (ADVICE
        r9 #2).

        Returns ``None`` (record nothing) when the format was built
        without ``cdf=True`` — change-data capture is opt-in (Delta's
        ``enableChangeDataFeed``): a table nobody tails must not pay
        the change-row write per DML commit."""
        import uuid

        if not self.cdf:
            return None

        dirname = f"cdc-{uuid.uuid4().hex}"
        if n is None:
            # the recorded count rides the landing itself (Observation,
            # r13 — previously a separate footer-count job per merge)
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation()
            changed.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(join_uri(self.path(name), dirname))
            n = obs.get["n"]
        else:
            changed.write.mode("overwrite").parquet(
                join_uri(self.path(name), dirname)
            )
        return {"dir": dirname, "n": int(n), "op": op, "since": int(since)}

    def read_changes_cdf(
        self, name: str, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """ROW-LEVEL change data feed (Delta CDF): every change between
        ``since_version`` (exclusive) and ``to_version`` (inclusive)
        as rows tagged ``_change_type`` in {insert, delete,
        update_preimage, update_postimage} plus ``_commit_version``.
        Where :meth:`read_changes` REFUSES across a delete/update
        rewrite (correct for additive consumers), this feed serves the
        recorded change rows — the surface a downstream mirror or
        retraction-aware aggregate needs.

        Stepping is over COMMITTED versions only (the catalog subclass
        excludes aborted-transaction orphans); replace / retention /
        backfill still refuse with the resync error, because no change
        rows were recorded for them."""
        from pyspark.sql import functions as F

        head = self._manifest(name)
        if head is None:
            raise FileNotFoundError(f"no committed manifest for table {name}")
        to_version = head["version"] if to_version is None else to_version
        versions = sorted(
            v
            for v in self._travelable_versions(name)
            if since_version < v <= to_version
        )
        frames = []
        prev = since_version
        for v in versions:
            # the cdc probe needs only a top-level field — never
            # expand segments for it (the insert path's read_changes
            # resolves internally where it must)
            m = self._manifest(name, v, resolve=False, expand_lists=False)
            if m is None:
                raise ValueError(
                    f"read_changes_cdf({name}): version {v} is not "
                    "readable (vacuumed mid-range); resync with a full "
                    "read"
                )
            if m.get("cdc"):
                # a cdc payload covers EXACTLY base -> v.  If the feed's
                # previous step is not that base (intermediate versions
                # vacuumed, or folded away under one catalog-transaction
                # flip), the intervening appends' insert rows exist in
                # no payload — refuse like any unreadable mid-range
                # version instead of silently omitting them (ADVICE r9
                # #2; Delta CDF refuses on unavailable versions)
                base = m["cdc"].get("since", prev)
                if base != prev:
                    raise ValueError(
                        f"read_changes_cdf({name}): version {v}'s change "
                        f"rows were computed against v{base}, but the "
                        f"feed's previous step is v{prev} — intermediate "
                        "versions are unreadable (vacuumed, or folded "
                        "into one catalog-transaction flip); resync with "
                        "a full read"
                    )
                step = self.spark.read.parquet(
                    join_uri(self.path(name), m["cdc"]["dir"])
                )
            elif prev == 0:
                # feed from the beginning: the first committed version
                # is full content — all inserts (Delta CDF's
                # startingVersion 0)
                step = self.read_version(name, v).withColumn(
                    "_change_type", F.lit("insert")
                )
            else:
                try:
                    step = self.read_changes(name, prev, v).withColumn(
                        "_change_type", F.lit("insert")
                    )
                except ValueError as err:
                    raise ValueError(
                        f"read_changes_cdf({name}): version {v} recorded "
                        "no change rows and is not a plain append — the "
                        "DML landed on a writer without cdf=True (change "
                        "data is opt-in, like Delta's "
                        "enableChangeDataFeed).  Enable cdf=True before "
                        "the DML commits, or resync with a full read"
                    ) from err
            # COLUMN MAPPING (r13): each step reads under ITS version's
            # names — a feed spanning a rename would otherwise union an
            # old-name column with its new-name twin, NULL-padded, and
            # a mirror replay would silently split one logical column
            # in two.  Resolve every step through the HEAD's mapping
            # (no-op when the table never renamed/dropped), so the feed
            # serves one consistent logical schema: the head's.
            step = self._apply_column_mapping(step, head.get("schema"))
            frames.append(step.withColumn("_commit_version", F.lit(v)))
            prev = v
        if not frames:
            return (
                self.read(name)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(0))
                .filter(F.lit(False))
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read_changes(
        self, name: str, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Append-only CHANGE FEED (Delta CDF-lite): the rows added to
        the table between manifest ``since_version`` (exclusive) and
        ``to_version`` (inclusive; default current).  The incremental-
        consumer surface that pairs with the rollup syncs: a downstream
        ``IncrementalAggSync`` reads only the delta per cadence instead
        of diffing or rescanning — O(new data) forever.

        How: entries present in ``to`` but not in ``since`` are the
        candidate delta, resolved through compaction provenance — a
        compacted entry carries the ORIGINAL append dirs it absorbed
        (``sources``, flattened across chained compactions), so one
        whose sources were all visible at ``since`` is old content in a
        new coat and is excluded.  The feed REFUSES (ValueError) when
        the delta is not expressible as pure appends:

        - an entry visible at ``since`` vanished without being absorbed
          into a compaction (replace / retention / backfill rewrote
          history — consumers must resync from a full read), or
        - a compacted entry mixes pre- and post-``since`` sources (the
          feed lagged past a compaction cycle; read more often than
          ``auto_compact_dirs`` appends, or resync).
        """
        to_m = self._manifest(name, to_version)
        since_m = self._manifest(name, since_version)
        if to_m is None or since_m is None:
            raise ValueError(
                f"read_changes({name}): version "
                f"{since_version if since_m is None else to_version} "
                "is not readable (never committed, or vacuumed)"
            )
        if (since_m.get("dv") or []) != (to_m.get("dv") or []):
            raise ValueError(
                f"read_changes({name}): the merge-on-read delete "
                f"predicates changed between v{since_m['version']} and "
                f"v{to_m['version']} — rows were deleted (or deletes "
                "materialized), so the delta is not an append feed; "
                "additive consumers must resync, row-level consumers "
                "use read_changes_cdf"
            )

        def ident(e):
            return (e["dir"], e.get("rel"))

        since_ids = {ident(e) for e in since_m["entries"]}
        # provenance comparisons happen in flattened ORIGINAL-append-dir
        # space on BOTH sides — a compacted dir's own uuid never appears
        # in later provenance, so comparing against raw since dirs would
        # misjudge content across chained compactions
        since_originals = {
            d
            for e in since_m["entries"]
            for d in (e.get("sources") or [e["dir"]])
        }
        new_entries = []
        absorbed: set = set()
        for e in to_m["entries"]:
            if ident(e) in since_ids:
                continue
            srcs = set(e.get("sources") or ())
            if srcs:
                absorbed |= srcs
            if not srcs or srcs.isdisjoint(since_originals):
                new_entries.append(e)  # genuinely new appends
            elif srcs <= since_originals:
                continue  # compaction of pre-since content only
            else:
                raise ValueError(
                    f"read_changes({name}): a compaction between v"
                    f"{since_m['version']} and v{to_m['version']} mixed "
                    "pre- and post-feed content in one data dir — the "
                    "delta is no longer entry-separable; resync with a "
                    "full read (or read the feed more often than the "
                    "auto-compaction threshold)"
                )
        # every since-entry must either survive by identity or have its
        # content absorbed into a to-side compacted dir; provenance is
        # flattened to ORIGINAL append dirs, so a since-entry that was
        # itself compaction output is judged by its own sources
        to_ids = {ident(x) for x in to_m["entries"]}
        vanished = []
        for e in since_m["entries"]:
            if ident(e) in to_ids:
                continue
            own = set(e.get("sources") or ()) or {e["dir"]}
            if own <= absorbed:
                continue
            vanished.append(e)
        if vanished:
            raise ValueError(
                f"read_changes({name}): {len(vanished)} entr(ies) from v"
                f"{since_m['version']} were removed without compaction "
                "(replace / retention / backfill) — history was "
                "rewritten and the delta is not an append feed; resync "
                "with a full read"
            )
        if not new_entries:
            # empty delta with the table's schema (footer-only read)
            from pyspark.sql import functions as F

            probe = to_m["entries"][:1] or since_m["entries"][:1]
            if not probe:
                # both versions hold ZERO entries (e.g. every partition
                # dropped): there is no file to derive a schema from —
                # refuse loudly instead of IndexError deep in
                # _read_entries (ADVICE r8 #4); same error class read()
                # raises for an entry-less table
                raise FileNotFoundError(
                    f"read_changes({name}): neither v"
                    f"{since_m['version']} nor v{to_m['version']} has "
                    "any data entries — no schema exists for an empty "
                    "change feed; resync once the table has data"
                )
            return self._read_entries(name, to_m, probe).filter(F.lit(False))
        return self._read_entries(name, to_m, new_entries)

    @staticmethod
    def _norm_bound(b):
        """(comparable_value, domain) for one user-supplied bound;
        domain ``None`` = never compare (unsupported type — pruning is
        skipped, the row filter still applies)."""
        import datetime

        if b is None:
            return None, None
        if isinstance(b, bool):
            return b, "b"
        if isinstance(b, (int, float)):
            return b, "n"
        if isinstance(b, str):
            return b, "s"
        if isinstance(b, datetime.datetime):
            return b.isoformat(sep=" "), "s"
        if isinstance(b, datetime.date):
            return b.isoformat(), "s"
        return None, None

    @staticmethod
    def _stat_dom(v):
        if isinstance(v, bool):
            return "b"
        if isinstance(v, (int, float)):
            return "n"
        return "s"

    @staticmethod
    def _bloom_excludes(e: dict, col: str, values) -> bool:
        """True iff the entry's bloom filter PROVES no listed value is
        present: every value is in the provable domain (int/str — the
        write/read hash agreement holds) and at least one of its k bit
        positions is unset.  Missing filter, out-of-domain values, or
        any may-contain value → False (keep-by-default, like every
        pruning tier).  Static: no instance state, so the unbound
        class-reference use in tests/test_pruning_properties.py works."""
        bl = (e.get("bloom") or {}).get(col)
        if not bl or not values:
            return False
        import base64

        buf = base64.b64decode(bl["b"])
        m, k = bl["m"], bl["k"]
        for v in values:
            if not _bloom_value_ok(v):
                return False  # unprovable domain: keep
            if all(
                buf[p // 8] >> (p % 8) & 1
                for p in _bloom_positions(v, m, k)
            ):
                return False  # may contain this value: keep
        return True

    def _entry_may_match(self, e: dict, col: str, lo, hi) -> bool:
        """One column's interval test against one entry's stats —
        keep-by-default: missing/NULL stats, ``opaque``-tagged
        encodings (str()-encoded non-native types whose lexicographic
        order is not the value order, e.g. Decimal — ADVICE r8 #5),
        and cross-domain bound/stat comparisons all answer True
        (pruning must never change results).  The one PROVABLE
        exclusion without stats: a recorded ZERO-row entry (an empty
        micro-batch's dir) matches nothing, ever.  A DEGENERATE range
        (lo == hi — an equality lookup) additionally consults the
        entry's bloom filter: the tier that prunes point lookups on an
        unclustered high-cardinality key where min/max keeps every
        entry."""
        if e.get("rows") == 0:
            return False
        if lo is not None and lo == hi and self._bloom_excludes(
            e, col, [lo]
        ):
            return False
        st = (e.get("stats") or {}).get(col)
        if not st or st[0] is None or st[1] is None:
            return True
        if len(st) > 2 and st[2] == "opaque":
            return True
        lo_v, lo_d = self._norm_bound(lo)
        hi_v, hi_d = self._norm_bound(hi)
        mn, mx = st[0], st[1]
        if lo is not None:
            if lo_d is None or lo_d != self._stat_dom(mx):
                return True  # cross-domain compare: keep
            if mx < lo_v:
                return False
        if hi is not None:
            if hi_d is None or hi_d != self._stat_dom(mn):
                return True
            if mn > hi_v:
                return False
        return True

    def prune_entries(
        self, name: str, col: str | dict | None = None, lo=None, hi=None
    ) -> tuple:
        """Manifest-level data skipping: the entries whose recorded
        stats can intersect the given range(s).  Two call shapes:

        - ``prune_entries(name, col, lo, hi)`` — one column's range;
        - ``prune_entries(name, {col: (lo, hi), ...})`` — a
          CONJUNCTION of ranges (Delta/Iceberg skip on AND-ed
          predicates); an entry survives only if EVERY column's
          interval can intersect its stats.  A per-column spec may
          also be a LIST/SET of values (an IN predicate): the entry
          survives if any listed value can fall inside its range.

        Entries with no stats for a column (written before
        ``stats_cols`` included it, or all-NULL), ``opaque``-tagged
        stats, and cross-domain comparisons are KEPT for that column —
        pruning is an optimization that must never change results
        (see :meth:`_entry_may_match`).  datetime/date bounds
        normalize to the same order-safe ISO strings the stats store.
        Returns ``(kept_entries, manifest)``; driver cost is one pass
        over the entry list (manifest-sized, never data-sized)."""
        bounds = col if isinstance(col, dict) else {col: (lo, hi)}
        m = self._manifest(name)
        if m is None:
            raise FileNotFoundError(f"no committed manifest for table {name}")
        # column mapping: an entry written before a rename recorded its
        # stats/bloom under the OLD physical name — AND the keep test
        # over current name + aliases (exact: an entry wrote exactly
        # one of them, the others answer keep-by-default True)
        names = {c: self._match_names(m, c) for c in bounds}

        def may_match(e, c, spec):
            if isinstance(spec, (list, set, frozenset)):
                return all(
                    self._entry_may_match_in(e, n, spec) for n in names[c]
                )
            return all(
                self._entry_may_match(e, n, spec[0], spec[1])
                for n in names[c]
            )

        kept = [
            e
            for e in m["entries"]
            if all(may_match(e, c, b) for c, b in bounds.items())
        ]
        return kept, m

    def _entry_may_match_in(self, e: dict, col: str, values) -> bool:
        """IN-set variant of :meth:`_entry_may_match`: keep unless the
        stats PROVE no listed value can fall in the entry's [min, max]
        — same keep-by-default rules for missing/opaque stats and
        cross-domain values, and an empty set keeps everything (the
        row filter, not the prune, decides emptiness).  Consults the
        entry's bloom filter first (r12): it can prove absence where
        min/max cannot (unclustered high-cardinality keys), and the
        two proofs compose — either may exclude."""
        if e.get("rows") == 0:
            return False
        if self._bloom_excludes(e, col, values):
            return False
        st = (e.get("stats") or {}).get(col)
        if not st or st[0] is None or st[1] is None:
            return True
        if len(st) > 2 and st[2] == "opaque":
            return True
        if not values:
            return True
        mn, mx = st[0], st[1]
        for v in values:
            nv, d = self._norm_bound(v)
            if d is None or d != self._stat_dom(mn) or d != self._stat_dom(mx):
                return True  # cross-domain value: cannot prove exclusion
            if mn <= nv <= mx:
                return True
        return False

    def read_where(
        self,
        name: str,
        col: str | dict,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Range read with manifest-level skipping (the Delta/Iceberg
        file-skipping read path): entries whose stats cannot intersect
        the range(s) never reach Spark's file listing, THEN the same
        ranges apply as ordinary pushed predicates for row-level
        filtering inside surviving entries.  On a time-ordered append
        stream this turns "last hour of a year of appends" into a scan
        of ~one entry — partition pruning's win, on a column the
        layout was never partitioned by.

        ``col`` is one column name (with ``lo``/``hi``) or a dict
        ``{col: (lo, hi), ...}`` whose ranges AND together — the
        multi-column conjunction Delta/Iceberg skip on (every stats
        column prunes independently; VERDICT r8 task 9).  Bounds
        compare in the stats' stored domain (numeric native,
        datetime/date as order-safe ISO strings).

        On a SEGMENTED manifest pruning is two-tier (Iceberg's
        manifest-list then manifest pruning): segment refs carry
        rolled-up stats, and a segment whose stats exclude the range
        is skipped WITHOUT parsing its file — the metadata cost of a
        narrow read scales with matching segments, not table size —
        then surviving segments prune per entry as usual.

        ``version`` pins the read to one committed manifest version
        (the snapshot handle's skip-read path, r13) — default None
        reads the head."""
        from pyspark.sql import functions as F

        bounds = col if isinstance(col, dict) else {col: (lo, hi)}
        m = self._manifest(
            name, version, resolve=False, expand_lists=False
        )
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest for table {name}"
                + (f" at version {version}" if version else "")
            )

        segs = m.get("segments") or []
        if not m["entries"] and not segs:
            raise FileNotFoundError(
                f"table {name} has no data at version {m['version']}"
            )
        kept = self._prune_two_tier(name, m, bounds)
        if not kept:
            # nothing can match: an empty frame with the table's schema
            # (footer-only read of one entry, no data pages)
            probe = m["entries"][:1]
            if not probe:
                s0 = segs[0]
                if "list" in s0:
                    s0 = self._load_seglist(name, s0["list"])[0]
                probe = self._load_segment(name, s0["file"])[:1]
            return self._read_entries(name, m, probe).filter(F.lit(False))
        df = self._read_with_dv(name, m, kept)
        return df.filter(self._bounds_condition(bounds))

    def _prune_two_tier(self, name: str, m: dict, bounds: dict) -> list:
        """Entries surviving stats pruning on a RAW (unresolved)
        manifest — up to THREE tiers, outermost first (Iceberg's
        manifest-list → manifest → data-file skipping):

        0. a ``segl-*.json`` LIST-ref tests on its rolled stats; an
           excluded list file is NEVER parsed (works only when the
           caller passed ``expand_lists=False``; an already-expanded
           manifest simply has no list-refs left and skips this tier);
        1. a segment ref tests on its rolled stats (a ref quacks like
           an entry for the keep-by-default interval test); excluded
           segments are never parsed;
        2. surviving segments prune per entry; inline tail entries
           prune directly.

        The equivalence with flat pruning over the resolved entry list
        is property-pinned (tests/test_segment_properties.py), and
        tier 0's never-parsed guarantee is test-pinned like tier 1's
        (tests/test_manifest_segments.py).  Column mapping: every tier
        ANDs the keep test over the logical name + its aliases, same
        as flat pruning (entries/segments/list-refs rolled before a
        rename carry stats under the OLD name)."""
        names = {c: self._match_names(m, c) for c in bounds}

        def may_match(holder, c, spec):
            if isinstance(spec, (list, set, frozenset)):
                return all(
                    self._entry_may_match_in(holder, n, spec)
                    for n in names[c]
                )
            return all(
                self._entry_may_match(holder, n, spec[0], spec[1])
                for n in names[c]
            )

        def keeps(holder):
            return all(may_match(holder, c, b) for c, b in bounds.items())

        kept = []
        for s in m.get("segments") or []:
            if "list" in s:
                # tier 0: list-refs carry [min of mins, max of maxes]
                # stats rolled from their member refs — same
                # keep-by-default contract, one level up
                if not keeps(s):
                    continue
                refs = self._load_seglist(name, s["list"])
            else:
                refs = (s,)
            for ref in refs:
                if keeps(ref):
                    for e in self._load_segment(name, ref["file"]):
                        if keeps(e):
                            kept.append(e)
        for e in m["entries"]:
            if keeps(e):
                kept.append(e)
        return kept

    @staticmethod
    def _bounds_condition(bounds: dict):
        """One Column condition for a ``{col: (lo, hi) | [values]}``
        spec — the row-level tier both ``read_where`` (keep matches)
        and ``delete_where`` (drop matches) share."""
        from pyspark.sql import functions as F

        cond = F.lit(True)
        for c, spec in bounds.items():
            if isinstance(spec, (list, set, frozenset)):
                cond = cond & F.col(c).isin(list(spec))
                continue
            c_lo, c_hi = spec
            if c_lo is not None:
                cond = cond & (F.col(c) >= F.lit(c_lo))
            if c_hi is not None:
                cond = cond & (F.col(c) <= F.lit(c_hi))
        return cond

    # -- merge-on-read deletes (stored delete predicates) -----------------

    @staticmethod
    def _dv_ident(e: dict) -> str:
        """Stable entry identity for delete-predicate scoping."""
        import json

        return "|".join(
            (e["dir"], e.get("rel") or "",
             json.dumps(e["partitions"], sort_keys=True))
        )

    @staticmethod
    def _dv_bounds_json(bounds: dict) -> dict:
        """JSON-safe encoding of a ``{col: (lo, hi) | values}`` spec —
        explicit range/in tags (a 2-element IN list is not a range).
        Merge-on-read predicates persist in the manifest, so only
        JSON-representable bound types are accepted; anything else
        must use the copy-on-write mode."""
        out = {}
        for c, spec in bounds.items():
            is_set = isinstance(spec, (list, set, frozenset))
            vals = list(spec) if is_set else [spec[0], spec[1]]
            # validate BEFORE any sort: mixed-type sets must raise the
            # guidance error, not sorted()'s bare TypeError
            for v in vals:
                if v is None and is_set:
                    # Column.isin([None]) matches NOTHING (SQL IN is
                    # never true on NULL) — persisting it would silently
                    # delete zero rows where the caller expected
                    # NULL-key deletion
                    raise TypeError(
                        f"merge-on-read IN-set for {c!r} contains None "
                        "— SQL IN never matches NULL; delete NULL keys "
                        "with an explicit predicate via mode='cow'"
                    )
                if v is not None and not isinstance(v, (int, float, str, bool)):
                    raise TypeError(
                        f"merge-on-read delete bound for {c!r} is "
                        f"{type(v).__name__} — not JSON-storable; use "
                        "mode='cow'"
                    )
            if is_set and len({type(v) for v in vals}) > 1:
                raise TypeError(
                    f"merge-on-read IN-set for {c!r} mixes value types "
                    "— not order-storable; use mode='cow'"
                )
            out[c] = {"in": sorted(vals)} if is_set else {"range": vals}
        return out

    @staticmethod
    def _dv_bounds_spec(jb: dict) -> dict:
        """The inverse of :meth:`_dv_bounds_json`."""
        return {
            c: (enc["in"] if "in" in enc else tuple(enc["range"]))
            for c, enc in jb.items()
        }

    def _read_with_dv(
        self, name: str, m: dict, entries: list, with_pos: bool = False
    ) -> DataFrame:
        """``_read_entries`` with the manifest's MERGE-ON-READ delete
        predicates applied: entries group by the SET of predicates
        that apply to them (driver-side, manifest-sized), each group
        reads once and filters ``NOT(coalesce(pred, FALSE))`` per
        applying predicate (SQL DELETE semantics: a NULL predicate
        does not delete), groups union.  Entries no predicate applies
        to — notably everything appended AFTER a delete — read
        untouched, which is exactly Delta's per-file deletion-vector
        scoping.

        POSITIONAL masks (``dv_form='positional'``): a group whose dv
        set includes a ``pos`` mask reads with the ``__dv_file`` /
        ``__dv_pos`` identity attached and masks via ONE anti-join
        against the union of its applying masks — the join is on two
        cheap machine columns, independent of any data column, and
        only the groups a mask actually names pay it.  ``with_pos``
        keeps the identity columns on the returned frame (the MOR
        write paths use it to compute new masks dv-aware)."""
        from pyspark.sql import functions as F

        dvs = m.get("dv") or []
        if not dvs or not entries:
            return self._read_entries(name, m, entries, with_pos=with_pos)
        applies = [set(d.get("applies") or ()) for d in dvs]
        groups: dict = {}
        for e in entries:
            ident = self._dv_ident(e)
            key = frozenset(
                i for i, a in enumerate(applies) if ident in a
            )
            groups.setdefault(key, []).append(e)
        frames = []
        for key in sorted(groups, key=sorted):
            need_pos = with_pos or any("pos" in dvs[i] for i in key)
            df = self._read_entries(
                name, m, groups[key], with_pos=need_pos
            )
            pos_masks = []
            for i in sorted(key):
                if "pos" in dvs[i]:
                    pos_masks.append(
                        self.spark.read.parquet(
                            join_uri(
                                self.path(name), dvs[i]["pos"]["dir"]
                            )
                        ).select(
                            F.col("file").alias("__dv_file"),
                            F.col("pos").alias("__dv_pos"),
                        )
                    )
                    continue
                if "keys" in dvs[i]:
                    # EQUALITY-DELETE key file (Iceberg v2 equality
                    # deletes): rows whose key appears in the landed
                    # key set are masked by an anti-join — the
                    # merge-on-read form of MERGE's matched-key delete.
                    # Files predating the key column read without it:
                    # NULL never equals a key (SQL semantics), so the
                    # join would be a provable no-op and referencing
                    # the absent column would fail analysis instead.
                    kcol = dvs[i]["keys"]["col"]
                    if kcol not in df.columns:
                        continue
                    kf = self.spark.read.parquet(
                        join_uri(self.path(name), dvs[i]["keys"]["dir"])
                    ).select(kcol)
                    # SIZE-GATED broadcast hint (r12): AQE does not
                    # reliably convert this anti-join at runtime
                    # (measured: a full shuffle of the fact side
                    # against a 1-row mask), so hint when the landed
                    # key count proves the side tiny; a huge backfill
                    # batch (or a pre-r12 entry with no count) still
                    # degrades to a shuffle join instead of dying on
                    # the broadcast ceiling
                    kn = dvs[i]["keys"].get("n")
                    if kn is not None and kn <= self.DV_BROADCAST_ROWS:
                        kf = F.broadcast(kf)
                    df = df.join(kf, kcol, "left_anti")
                    continue
                spec = self._dv_bounds_spec(dvs[i]["bounds"])
                # a group whose files PREDATE a bound column (additive
                # schema evolution) reads without it: those rows are
                # NULL there, and SQL DELETE semantics never delete on
                # a NULL predicate — the filter is a provable no-op,
                # and referencing the absent column would instead fail
                # analysis for the whole read
                if any(c not in df.columns for c in spec):
                    continue
                cond = self._bounds_condition(spec)
                df = df.filter(~F.coalesce(cond, F.lit(False)))
            if pos_masks:
                mask = pos_masks[0]
                for pm in pos_masks[1:]:
                    mask = mask.unionByName(pm)
                # deletes are idempotent, so the UNION of applying
                # masks in one anti-join ≡ applying each in turn.
                # Size-gated broadcast hint from the STORED mask
                # counts (see the equality branch); an unknown or huge
                # total degrades to a shuffle join
                total = 0
                for i in sorted(key):
                    if "pos" in dvs[i]:
                        n = dvs[i]["pos"].get("n")
                        total = None if (total is None or n is None) \
                            else total + n
                if total is not None and total <= self.DV_BROADCAST_ROWS:
                    mask = F.broadcast(mask)
                df = df.join(mask, ["__dv_file", "__dv_pos"], "left_anti")
            if need_pos and not with_pos:
                df = df.drop("__dv_file", "__dv_pos")
            frames.append(df)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    @classmethod
    def _dv_without(cls, dvs: list | None, removed: set) -> list:
        """The dv list after a COW rewrite of the entries in
        ``removed`` (idents): rewritten entries materialized their
        deletes, so they leave every applies set; a predicate that no
        longer applies to anything drops entirely — dv lists are
        self-cleaning under rewrites."""
        out = []
        for d in dvs or []:
            left = [a for a in (d.get("applies") or ()) if a not in removed]
            if left:
                out.append({**d, "applies": left})
        return out

    def delete_where_mor(
        self, name: str, col: str | dict, lo=None, hi=None
    ) -> int:
        """Public entry: :meth:`_delete_where_mor_once` under the
        serializable conflict-retry loop.  The MOR form's WRITE is
        metadata-only, but its ``applies`` scope and row count were
        computed against a snapshot: a concurrent commit that rewrote
        an applies target (the mask would point at a gone entry and
        the rewritten rows would resurrect) or appended may-match data
        (point-in-time semantics must not silently exclude rows that
        serialized first) recomputes; disjoint commits rebase."""
        return self._retry_conflicts(
            name, lambda: self._delete_where_mor_once(name, col, lo, hi)
        )

    def _delete_where_mor_once(
        self, name: str, col: str | dict, lo=None, hi=None
    ) -> int:
        """Row-level DELETE as MERGE-ON-READ (Delta deletion vectors /
        Iceberg v2 equality deletes, expressed as a stored predicate):
        NO data file is rewritten — the commit records the predicate,
        scoped to the entries that may contain matches, and every read
        applies it.  The write cost of a narrow delete drops from
        O(touched files) to O(one manifest) — the right verb when the
        matched files are large and reads can afford one more codegen
        filter.  Matched rows still land as CDC (the count and the
        change feed need them — one bounded scan, like COW).

        Semantics: point-in-time — rows appended AFTER this commit are
        NOT affected even if they match (the predicate applies only to
        entries present now; Delta DVs scope per file the same way).
        COW verbs (delete/update/merge/cluster/replace) MATERIALIZE
        applying predicates for every entry they rewrite and shed them
        from the manifest; ``materialize_deletes`` does it on demand;
        threshold compaction skips predicate-bearing dirs until then.
        Returns the number of rows deleted.

        ``dv_form='positional'`` (r12, VERDICT r11 task 2) stores a
        (file, row-index) MASK instead of the predicate — Delta's
        deletion-vector design: reads mask via one anti-join on two
        machine columns scoped to the files that actually contain
        deleted rows (vs the predicate form filtering every may-match
        dir), and non-JSON-storable predicates work too (nothing
        persists but positions)."""
        from pyspark.sql import functions as F

        bounds = col if isinstance(col, dict) else {col: (lo, hi)}
        positional = self.dv_form == "positional"
        # validate FIRST: no cdc orphan (the positional form persists
        # no predicate, so nothing to validate)
        jb = None if positional else self._dv_bounds_json(bounds)
        candidates, m = self.prune_entries(name, bounds)
        if not m["entries"] or not candidates:
            return 0
        cand_df = self._read_with_dv(name, m, candidates, with_pos=positional)
        cond = F.coalesce(self._bounds_condition(bounds), F.lit(False))
        if positional:
            entry, n_deleted = self._pos_dv_entry(
                name, cand_df.filter(cond), candidates
            )
            if n_deleted == 0:
                return 0
        else:
            n_deleted = cand_df.filter(cond).count()
            if n_deleted == 0:
                return 0
            entry = {
                "bounds": jb,
                "n": int(n_deleted),
                "applies": [self._dv_ident(e) for e in candidates],
            }
        cdc = self._land_cdc(
            name,
            cand_df.filter(cond)
            .drop("__dv_file", "__dv_pos")
            .withColumn("_change_type", F.lit("delete")),
            n_deleted, "delete", m["version"],
        )
        dv = (m.get("dv") or []) + [entry]
        self._commit(
            name, m["entries"], list(m["partition_columns"]), m["version"],
            schema=m.get("schema"), cdc=cdc, txn=m.get("txn"), dv=dv,
            conflict={
                "base": m,
                "touched": {self._entry_key(e) for e in candidates},
                "removed": set(), "produced": [],
                "reads": self._bounds_reads(bounds, m),
            },
        )
        self._maybe_purge_dvs(name, dv)
        return n_deleted


    def _maybe_purge_dvs(self, name: str, dv: list) -> None:
        """The ``auto_purge_dvs`` policy: one bounded rewrite when the
        stored-delete list passes the threshold (see ``__init__``)."""
        if self.auto_purge_dvs is not None and len(dv) > self.auto_purge_dvs:
            self.materialize_deletes(name)

    def materialize_deletes(self, name: str) -> int:
        """Public entry: :meth:`_materialize_deletes_once` under the
        serializable conflict-retry loop — a purge reads only the
        entries its masks apply to, so blind concurrent appends rebase
        straight through; a concurrent rewrite of an applies target or
        any concurrent dv change recomputes."""
        return self._retry_conflicts(
            name, lambda: self._materialize_deletes_once(name)
        )

    def _materialize_deletes_once(self, name: str) -> int:
        """COW-rewrite every entry a merge-on-read delete predicate
        still applies to, and clear the predicates — the explicit
        maintenance verb that converts read-time filter debt back into
        clean files (Delta's PURGE).  Bounded by the applying entries,
        never the table.  Returns the number of entries rewritten."""
        m = self._manifest(name)
        if m is None or not (m.get("dv") or []):
            return 0
        affected_idents = {
            a for d in m["dv"] for a in (d.get("applies") or ())
        }
        affected = [
            e for e in m["entries"] if self._dv_ident(e) in affected_idents
        ]
        if not affected:
            # ghost idents only (their entries were dropped): clear
            self._commit(
                name, m["entries"], list(m["partition_columns"]),
                m["version"], schema=m.get("schema"), txn=m.get("txn"),
                dv=[],
                conflict={
                    "base": m, "touched": set(), "removed": set(),
                    "produced": [], "reads": None,
                },
            )
            return 0
        clean = self._read_with_dv(name, m, affected)
        untouched = [
            e for e in m["entries"] if self._dv_ident(e) not in affected_idents
        ]
        cols = tuple(m["partition_columns"])
        new, _ = self._new_data_dir(name, clean, cols)
        from pyspark.sql import functions as F

        # the purge is row-preserving (reads already applied the
        # predicates), but the rewritten entries carry no compaction
        # provenance — an empty cdc marker lets read_changes_cdf step
        # across it as a zero-row change instead of refusing forever;
        # the append-only feed still refuses (dv list flips [P] -> []),
        # which is correct: its consumers were already told to resync
        # or move to the CDF at the MOR delete itself.
        cdc = self._land_cdc(
            name,
            clean.limit(0).withColumn("_change_type", F.lit("purge")),
            0, "purge", m["version"],
        )
        affected_keys = {self._entry_key(e) for e in affected}
        self._commit(
            name, untouched + new, list(cols), m["version"],
            schema=m.get("schema"), txn=m.get("txn"), dv=[], cdc=cdc,
            conflict={
                "base": m, "touched": affected_keys,
                "removed": affected_keys, "produced": new, "reads": None,
            },
        )
        return len(affected)

    def delete_where(self, name: str, col: str | dict, lo=None, hi=None) -> int:
        """Public entry: :meth:`_delete_where_once` under the
        serializable conflict-retry loop — concurrent DISJOINT commits
        (appends elsewhere, other files' compaction) rebase inside the
        commit; intersecting ones recompute the whole delete against
        the new head (so a row appended concurrently that matches the
        predicate IS deleted, exactly as in the serial schedule)."""
        return self._retry_conflicts(
            name, lambda: self._delete_where_once(name, col, lo, hi)
        )

    def _delete_where_once(
        self, name: str, col: str | dict, lo=None, hi=None
    ) -> int:
        """Row-level DELETE with STATS-BOUNDED copy-on-write (Iceberg's
        copy-on-write ``DELETE WHERE``, scoped by the same manifest
        pruning as ``read_where``): entries whose stats PROVE no row
        matches are carried over UNTOUCHED — on a clustered 100 TB
        table a narrow delete rewrites ~one file, never the table.
        Candidate entries (may-match) are re-read, surviving rows
        (predicate false or NULL — SQL DELETE semantics: a NULL
        predicate does not delete) land in one fresh dir, and ONE
        base-anchored commit swaps candidates for survivors.

        Concurrency: loud abort on a lost race (like ``replace_atomic``
        — a delete computed against a stale base could resurrect or
        double-delete rows; Delta serializes DELETE the same way).
        Change feed: the rewrite removes history without compaction
        provenance, so ``read_changes`` across it REFUSES with the
        documented resync error — correct, deletes are not appends.
        Returns the number of rows deleted."""
        from pyspark.sql import functions as F

        bounds = col if isinstance(col, dict) else {col: (lo, hi)}
        candidates, m = self.prune_entries(name, bounds)
        if not m["entries"]:
            return 0
        if not candidates:
            return 0  # stats prove nothing matches: pure metadata no-op
        cand_ids = {
            (e["dir"], e.get("rel"), str(e["partitions"])) for e in candidates
        }
        untouched = [
            e
            for e in m["entries"]
            if (e["dir"], e.get("rel"), str(e["partitions"])) not in cand_ids
        ]
        # dv-aware: rows a merge-on-read predicate already deleted must
        # not be re-counted, and must NOT resurrect in the rewrite
        cand_df = self._read_with_dv(name, m, candidates)
        cond = F.coalesce(self._bounds_condition(bounds), F.lit(False))
        n_deleted = cand_df.filter(cond).count()
        if n_deleted == 0:
            return 0  # candidates intersected by range, no actual rows
        survivors = cand_df.filter(~cond)
        cdc = self._land_cdc(
            name, cand_df.filter(cond).withColumn("_change_type", F.lit("delete")),
            n_deleted, "delete", m["version"],
        )
        cols = tuple(m["partition_columns"])
        new, _ = self._new_data_dir(name, survivors, cols)
        # txn carried from the base: a row-level DELETE must not reset
        # the idempotent streaming-writer watermarks (ADVICE r9 #1);
        # rewritten entries materialized their merge-on-read deletes,
        # so they shed from every dv applies set
        self._commit(
            name, untouched + new, list(cols), m["version"],
            schema=m.get("schema"), cdc=cdc, txn=m.get("txn"),
            dv=self._dv_without(
                m.get("dv"), {self._dv_ident(e) for e in candidates}
            ),
            conflict={
                "base": m, "touched": cand_ids, "removed": cand_ids,
                "produced": new, "reads": self._bounds_reads(bounds, m),
            },
        )
        return n_deleted

    def _validate_set_exprs(
        self, name: str, cand_df: DataFrame, set_exprs: dict, verb: str
    ) -> None:
        """Shared UPDATE SET validation (COW and MOR forms): unknown
        columns refuse, and each raw expression type-checks BEFORE
        when/otherwise can coerce it (Spark unifies branch types
        silently, deferring a bad assignment to a runtime cast error
        mid-rewrite)."""
        from pyspark.sql import functions as F

        unknown = set(set_exprs) - set(cand_df.columns)
        if unknown:
            raise ValueError(
                f"{verb} on {name}: SET names unknown column(s) "
                f"{sorted(unknown)} (additive columns arrive via append "
                "schema evolution, not UPDATE)"
            )
        expr_types = cand_df.select(
            *[F.expr(e).alias(c) for c, e in set_exprs.items()]
        ).schema
        for c, e in set_exprs.items():
            old_t = self._normalize_nullability(cand_df.schema[c].dataType)
            new_t = self._normalize_nullability(expr_types[c].dataType)
            if old_t != new_t:
                raise TypeError(
                    f"{verb} on {name}: SET {c} = ({e}) changes "
                    f"the column type ({old_t} -> {new_t}); cast the "
                    "expression or rewrite via replace"
                )

    def update_where(
        self,
        name: str,
        col: str | dict,
        set_exprs: dict[str, str],
        lo=None,
        hi=None,
    ) -> int:
        """Public entry: :meth:`_update_where_once` under the
        serializable conflict-retry loop (same contract as
        :meth:`delete_where`)."""
        return self._retry_conflicts(
            name,
            lambda: self._update_where_once(name, col, set_exprs, lo, hi),
        )

    def _update_where_once(
        self,
        name: str,
        col: str | dict,
        set_exprs: dict[str, str],
        lo=None,
        hi=None,
    ) -> int:
        """Row-level UPDATE with the same STATS-BOUNDED copy-on-write
        as :meth:`delete_where` (Delta's ``UPDATE ... WHERE``):
        entries whose stats prove no row matches carry over BY
        IDENTITY, may-match entries re-land with ``set_exprs``
        ({column: SQL expression, evaluated per matched row — old
        column values referencable}) applied to matched rows only,
        one base-anchored commit.  SQL semantics: a NULL predicate
        row is NOT updated.  Updated rows are validated against the
        table's CHECK constraints like any landed batch, and
        assignments must not change a column's type (same rule as
        append enforcement).  Returns the number of rows updated.

        Scale shape: on a clustered table a narrow update rewrites
        ~one file.  Note the rewritten entries' stats are recomputed
        from the NEW values, so later skipping stays sound."""
        from pyspark.sql import functions as F

        bounds = col if isinstance(col, dict) else {col: (lo, hi)}
        candidates, m = self.prune_entries(name, bounds)
        if not m["entries"] or not candidates:
            return 0
        cand_ids = {
            (e["dir"], e.get("rel"), str(e["partitions"])) for e in candidates
        }
        untouched = [
            e
            for e in m["entries"]
            if (e["dir"], e.get("rel"), str(e["partitions"])) not in cand_ids
        ]
        cand_df = self._read_with_dv(name, m, candidates)
        self._validate_set_exprs(name, cand_df, set_exprs, "update_where")
        cond = F.coalesce(self._bounds_condition(bounds), F.lit(False))
        n_updated = cand_df.filter(cond).count()
        if n_updated == 0:
            return 0
        rewritten = cand_df.select(
            *[
                (
                    F.when(cond, F.expr(set_exprs[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                )
                for c in cand_df.columns
            ]
        )
        matched = cand_df.filter(cond)
        # postimage = SET expressions applied UNCONDITIONALLY to the
        # matched rows — re-filtering the rewritten frame would test
        # the bounds against POST-update values, silently dropping
        # postimages whenever a SET moves the predicate column out of
        # range (e.g. SET v = v + 100 WHERE v BETWEEN 0 AND 4)
        postimage = matched.select(
            *[
                (
                    F.expr(set_exprs[c]).alias(c)
                    if c in set_exprs
                    else F.col(c)
                )
                for c in cand_df.columns
            ]
        )
        changed = matched.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            postimage.withColumn("_change_type", F.lit("update_postimage"))
        )
        cdc = self._land_cdc(name, changed, n_updated, "update", m["version"])
        cols = tuple(m["partition_columns"])
        new, _ = self._new_data_dir(name, rewritten, cols)
        if new:
            self._enforce_constraints(
                name, m, join_uri(self.path(name), new[0]["dir"])
            )
        self._commit(
            name, untouched + new, list(cols), m["version"],
            schema=m.get("schema"), cdc=cdc, txn=m.get("txn"),
            dv=self._dv_without(
                m.get("dv"), {self._dv_ident(e) for e in candidates}
            ),
            conflict={
                "base": m, "touched": cand_ids, "removed": cand_ids,
                "produced": new, "reads": self._bounds_reads(bounds, m),
            },
        )
        return n_updated

    def merge(
        self,
        name: str,
        df: DataFrame,
        unique_key: str,
        delete_keys: DataFrame | None = None,
        record_cdc: bool = True,
        txn_update: dict | None = None,
    ) -> None:
        """Public entry: :meth:`_merge_once` under the serializable
        conflict-retry loop.  A merge's READ SET is every entry that
        may contain a batch key, so a concurrent append whose stats
        overlap the key range conflicts (its rows would have matched in
        the serial schedule — committing anyway would leave the old row
        of an upserted key alive, Delta's ConcurrentAppendException)
        and the merge recomputes against the new head; stats-disjoint
        concurrent commits rebase inside the commit.

        ``txn_update`` (r14) lands idempotent-writer watermark
        advances INSIDE the merge's own commit (per app id the higher
        batch id wins, re-applied across conflict rebases — see
        ``_overlay_txn``): the single-commit form of retract-merge +
        watermark-append that the ANN CDF sync previously paid two
        commits and two table rewrites for.  A merge that writes and
        deletes nothing still commits a non-empty ``txn_update``
        (metadata only, ``set_txn``), so an empty delta advances its
        writer's cursor like any other."""
        return self._retry_conflicts(
            name,
            lambda: self._merge_once(
                name, df, unique_key, delete_keys, record_cdc, txn_update
            ),
        )

    def _merge_once(
        self,
        name: str,
        df: DataFrame,
        unique_key: str,
        delete_keys: DataFrame | None = None,
        record_cdc: bool = True,
        txn_update: dict | None = None,
    ) -> None:
        """MERGE (upsert by key) with STATS-BOUNDED copy-on-write — the
        Delta ``MERGE INTO`` plan shape, replacing the base class's
        full-table rewrite (VERDICT r9 task 1).  The verb the reference
        exercises most: every 15-minute sync upserts every raw table on
        ``_dlt_id``/``_dlt_root_id`` (dags/dlt_sources/mongodb/
        __init__.py:61-67, models/stage/users.sql:2-5), so at 100 TB a
        full rewrite per micro-batch is THE scale-killer.

        Plan: the batch's key range [min, max] is two scalars (one
        bounded agg); entries whose ``unique_key`` min/max stats prove
        NO batch key can fall inside carry over BY IDENTITY — on a
        key-clustered table a micro-batch rewrites ~the files its keys
        live in, never the table.  May-match entries re-read, rows
        whose key is in the delete set drop (left anti), survivors plus
        the batch land in ONE fresh dir, one base-anchored commit swaps
        candidates for it.  When stats prove no candidate at all, the
        merge degrades to a plain rebaseable APPEND of the batch.

        Change feed (``cdf=True`` formats only — CDC is opt-in, and
        ``record_cdc=False`` lets internal-state writers skip it even
        there): the commit records Delta-style merge CDC classes —
        matched keys present in the batch emit update_preimage/
        update_postimage, matched keys absent from the batch (root-key
        deletes) emit delete, unmatched batch rows emit insert — so
        ``read_changes_cdf`` serves the feed across the reference's M2
        path instead of refusing (VERDICT r9 task 2).

        Concurrency: loud abort on a lost race, like delete_where (a
        merge computed against a stale base could resurrect deleted
        rows); the degraded append path stays rebaseable.  Writer
        watermarks (``txn``) carry from the base — a merge is DML, not
        a replace.  Tables without stats on ``unique_key`` keep the
        correct-but-full rewrite (every entry is a may-match candidate);
        declare the key in ``stats_cols`` and cluster on it for the
        bounded behavior."""
        from pyspark.sql import functions as F

        prev = self._manifest(name)
        if prev is None or (
            not prev["entries"] and not prev.get("segments")
        ):
            # absent/empty target: the batch IS the table
            self.replace_atomic(name, df, (), txn=txn_update)
            return
        key_src = delete_keys if delete_keys is not None else df
        keys = key_src.select(unique_key).distinct()
        # min/max are distinct-insensitive: aggregate the raw key column
        # so the range probe skips the dedup exchange (r15 optimization)
        row = key_src.select(unique_key).agg(
            F.min(unique_key).alias("mn"), F.max(unique_key).alias("mx")
        ).first()
        lo, hi = row["mn"], row["mx"]
        # prune against the ALREADY-READ head (one manifest resolve per
        # merge — this is the 15-minute hot path — and no TOCTOU window
        # between the emptiness check and the pruned snapshot); stats
        # consult the key's aliases too (column mapping)
        m = prev
        key_names = self._match_names(m, unique_key)
        candidates = (
            [
                e
                for e in m["entries"]
                if all(
                    self._entry_may_match(e, n, lo, hi) for n in key_names
                )
            ]
            if lo is not None
            else []
        )
        has_match = False
        matched = None
        if candidates:
            cand_df = self._read_with_dv(name, m, candidates)
            matched = cand_df.join(keys, unique_key, "left_semi")
            if self.cdf and record_cdc:
                # persisted: the emptiness probe below starts
                # materializing it, and the CDC classification re-reads
                # the CACHE instead of paying a second scan of the
                # candidate files — the matched set is batch-key-
                # bounded, never candidate-sized
                matched = matched.persist()
            # boolean probe, not a count: the common case (some key
            # matches) short-circuits at the first matched row instead
            # of scanning every candidate (the CDC row count, when
            # recording is on, comes from the landed footers)
            has_match = not matched.isEmpty()
        key_reads = (
            (
                lambda e: all(
                    self._entry_may_match(e, n, lo, hi) for n in key_names
                )
            )
            if lo is not None
            else None
        )
        if not has_match:
            if matched is not None and self.cdf and record_cdc:
                matched.unpersist()
            if df.isEmpty():
                # delete-only merge with nothing to delete: no data
                # commit, but a cursor advance still lands (metadata
                # only) — an empty delta must not stall its writer
                if txn_update:
                    self.set_txn(name, txn_update)
                return
            # no target row carries a batch key: the merge degrades to
            # an append of the batch — but NOT a blind one: the no-match
            # conclusion was computed against this snapshot, so a
            # concurrent append whose stats overlap the key range must
            # conflict (its matching rows would be upsert targets in
            # the serial schedule; plain self.write would rebase past
            # them and leave duplicate keys).  Stats-disjoint
            # concurrent commits rebase inside the commit as usual.
            app_schema = self._enforce_append_schema(name, m, df)
            if app_schema is None:
                app_schema = df.schema.jsonValue()
            app_cols = tuple(m["partition_columns"])
            app_new, _ = self._new_data_dir(name, df, app_cols)
            if app_new:
                self._enforce_constraints(
                    name, m, join_uri(self.path(name), app_new[0]["dir"])
                )
            self._commit(
                name, m["entries"] + app_new, list(app_cols),
                m["version"], schema=app_schema, txn=m.get("txn"),
                dv=m.get("dv"), txn_update=txn_update,
                conflict={
                    "base": m, "touched": set(), "removed": set(),
                    "produced": app_new, "reads": key_reads,
                },
            )
            return
        # write-time schema guard BEFORE landing (same contract as
        # append: additive evolution ok, type change refuses loudly)
        merged_schema = self._enforce_append_schema(name, m, df)
        if merged_schema is None:
            merged_schema = df.schema.jsonValue()
        cand_ids = {
            (e["dir"], e.get("rel"), str(e["partitions"])) for e in candidates
        }
        untouched = [
            e
            for e in m["entries"]
            if (e["dir"], e.get("rel"), str(e["partitions"])) not in cand_ids
        ]
        keep = cand_df.join(keys, unique_key, "left_anti")
        merged = keep.unionByName(df, allowMissingColumns=True)
        cols = tuple(m["partition_columns"])
        new, _ = self._new_data_dir(name, merged, cols)
        if new:
            self._enforce_constraints(
                name, m, join_uri(self.path(name), new[0]["dir"])
            )
        cdc = None
        if self.cdf and record_cdc:
            cdc = self._merge_cdc(
                name, df, matched, unique_key, m["version"]
            )
            matched.unpersist()
        self._commit(
            name, untouched + new, list(cols), m["version"],
            schema=merged_schema, cdc=cdc, txn=m.get("txn"),
            dv=self._dv_without(
                m.get("dv"), {self._dv_ident(e) for e in candidates}
            ),
            txn_update=txn_update,
            conflict={
                "base": m, "touched": cand_ids, "removed": cand_ids,
                "produced": new, "reads": key_reads,
            },
        )

    def _merge_cdc(
        self, name: str, df: DataFrame, matched: DataFrame,
        unique_key: str, base_version: int,
    ) -> dict | None:
        """Fused merge CDC classification (VERDICT r10 task 8): ONE
        key-class map instead of four semi/anti row-frame joins — the
        batch and matched KEY sets (tiny, batch-bounded) full-outer
        into a per-key membership pair, each row frame tags its class
        through a single hash join, and the recorded change count
        comes from the landed cdc footers instead of a separate
        ``df.count()`` job.  Candidate files are scanned once when the
        caller persisted ``matched``.  Shared by the copy-on-write and
        merge-on-read MERGE forms (identical classes either way: the
        physical plan differs, the logical change does not)."""
        from pyspark.sql import functions as F

        df_keys = df.select(unique_key).distinct().withColumn(
            "__in_batch", F.lit(True)
        )
        matched_keys = matched.select(unique_key).distinct().withColumn(
            "__in_matched", F.lit(True)
        )
        key_class = df_keys.join(
            matched_keys, unique_key, "full_outer"
        ).select(
            unique_key,
            F.coalesce("__in_batch", F.lit(False)).alias("__in_batch"),
            F.coalesce("__in_matched", F.lit(False)).alias("__in_matched"),
        )
        pre = matched.join(key_class, unique_key).withColumn(
            "_change_type",
            F.when(
                F.col("__in_batch"), F.lit("update_preimage")
            ).otherwise(F.lit("delete")),
        ).drop("__in_batch", "__in_matched")
        post = df.join(key_class, unique_key).withColumn(
            "_change_type",
            F.when(
                F.col("__in_matched"), F.lit("update_postimage")
            ).otherwise(F.lit("insert")),
        ).drop("__in_batch", "__in_matched")
        changed = pre.unionByName(post, allowMissingColumns=True)
        return self._land_cdc(name, changed, None, "merge", base_version)

    def _land_dv_keys(self, name: str, keys: DataFrame, col: str) -> str:
        """Land an equality-delete KEY FILE (Iceberg v2 equality
        deletes): the distinct key set a merge-on-read MERGE masks,
        written once under the table path like cdc dirs — vacuum keeps
        it alive while any retained version's dv references it."""
        import uuid

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        dirname = f"dvk-{uuid.uuid4().hex}"
        target = join_uri(self.path(name), dirname)
        # the row count rides the WRITE itself (Observation — no
        # second job): it lets the read side size-gate a broadcast
        # hint on the anti-join (AQE does not reliably convert a
        # derived-column anti-join at runtime — measured as a full
        # shuffle of the fact side against a 1-row mask)
        obs = Observation()
        keys.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(target)
        return dirname, int(obs.get["n"])

    def _land_dv_pos(self, name: str, matched: DataFrame) -> tuple[str, int]:
        """Land a POSITIONAL delete mask (Delta deletion vectors /
        Iceberg positional deletes): the (file, row-index) pairs of
        ``matched`` rows — which must carry the ``__dv_file`` /
        ``__dv_pos`` identity from a ``with_pos`` read — written once
        under the table path like key files.  Returns (dirname, row
        count); the count rides the write itself (Observation — no
        second job), so mask landing + exact delete count is ONE scan
        of the candidates.  A zero-row mask leaves an orphan dir
        vacuum's age-guarded sweep reclaims (the caller skips the
        commit)."""
        import uuid

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        dirname = f"dvp-{uuid.uuid4().hex}"
        target = join_uri(self.path(name), dirname)
        obs = Observation()
        matched.select(
            F.col("__dv_file").alias("file"), F.col("__dv_pos").alias("pos")
        ).observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(target)
        return dirname, int(obs.get["n"])

    def _pos_applies(self, name: str, candidates: list, dirname: str) -> list:
        """Scope a positional dv to the entries whose files the mask
        ACTUALLY names — finer than the equality form's may-match
        scoping, so untouched dirs neither pay the read-time anti-join
        nor get skipped by threshold compaction.  Driver cost is one
        distinct-collect of masked file paths (bounded by files
        containing deleted rows, never the table)."""
        files = [
            r["file"]
            for r in self.spark.read.parquet(
                join_uri(self.path(name), dirname)
            )
            .select("file")
            .distinct()
            .collect()
        ]
        out = []
        for e in candidates:
            prefix = e["dir"] + "/" + (
                e["rel"] + "/" if e.get("rel") else ""
            )
            if any(f.startswith(prefix) for f in files):
                out.append(self._dv_ident(e))
        return out

    def _pos_dv_entry(
        self, name: str, matched: DataFrame, candidates: list
    ) -> tuple[dict | None, int]:
        """Land a positional mask for ``matched`` (a ``with_pos``
        frame) and build its dv entry — (None, 0) when nothing
        matched."""
        dirname, n = self._land_dv_pos(name, matched)
        if n == 0:
            return None, 0
        return {
            "pos": {"dir": dirname, "n": n},
            "applies": self._pos_applies(name, candidates, dirname),
        }, n

    def merge_mor(
        self,
        name: str,
        df: DataFrame,
        unique_key: str,
        delete_keys: DataFrame | None = None,
        record_cdc: bool = True,
        txn_update: dict | None = None,
    ) -> None:
        """Public entry: :meth:`_merge_mor_once` under the serializable
        conflict-retry loop (read set = entries that may contain a
        batch key, same as :meth:`merge`; plus the MOR applies-scope
        guard of :meth:`delete_where_mor`).  ``txn_update`` as on
        :meth:`merge` (r14): watermark advances ride the commit."""
        return self._retry_conflicts(
            name,
            lambda: self._merge_mor_once(
                name, df, unique_key, delete_keys, record_cdc, txn_update
            ),
        )

    def _merge_mor_once(
        self,
        name: str,
        df: DataFrame,
        unique_key: str,
        delete_keys: DataFrame | None = None,
        record_cdc: bool = True,
        txn_update: dict | None = None,
    ) -> None:
        """MERGE as MERGE-ON-READ (VERDICT r10 task 5 — Delta's
        DV-backed MERGE / Iceberg v2 equality deletes): the batch
        APPENDS as one fresh dir, the matched-key delete becomes a
        stored equality-delete key file scoped to the may-match
        entries, and NO existing data file is rewritten — write cost
        is O(batch), independent of touched-file SIZE, where the
        copy-on-write :meth:`merge` re-lands every may-match entry's
        surviving rows.  Reads apply the key mask as an anti-join
        (``_read_with_dv``); ``materialize_deletes`` / compaction
        convert the debt back into clean files on the maintenance
        cadence, exactly like MOR deletes.

        Same semantics as :meth:`merge`: ``delete_keys`` overrides the
        delete set (root-key merges), matched keys' old rows disappear,
        batch rows serve, CDC classes record identically when
        ``cdf=True``, writer watermarks carry, and a no-match merge
        degrades to a plain rebaseable append.  Same loud-abort
        concurrency contract (the key mask was computed against a
        snapshot).  The right verb when matched files are LARGE and
        the batch is small — the reference's 15-minute M2 cadence
        against year-old clustered history.

        Unattended cadences should set ``auto_purge_dvs``: every MOR
        merge adds one key mask, masked dirs are skipped by threshold
        compaction until purged, so without the policy (or explicit
        ``materialize_deletes`` on a maintenance cadence) read
        amplification grows with the sync count."""
        from pyspark.sql import functions as F

        prev = self._manifest(name)
        if prev is None or (
            not prev["entries"] and not prev.get("segments")
        ):
            self.replace_atomic(name, df, (), txn=txn_update)
            return
        key_src = delete_keys if delete_keys is not None else df
        keys = key_src.select(unique_key).distinct()
        # min/max are distinct-insensitive: aggregate the raw key column
        # so the range probe skips the dedup exchange (r15 optimization)
        row = key_src.select(unique_key).agg(
            F.min(unique_key).alias("mn"), F.max(unique_key).alias("mx")
        ).first()
        lo, hi = row["mn"], row["mx"]
        m = prev
        key_names = self._match_names(m, unique_key)
        candidates = (
            [
                e
                for e in m["entries"]
                if all(
                    self._entry_may_match(e, n, lo, hi) for n in key_names
                )
            ]
            if lo is not None
            else []
        )
        positional = self.dv_form == "positional"
        has_match = False
        matched = None
        if candidates:
            cand_df = self._read_with_dv(
                name, m, candidates, with_pos=positional
            )
            matched = cand_df.join(keys, unique_key, "left_semi")
            if positional or (self.cdf and record_cdc):
                matched = matched.persist()
            has_match = not matched.isEmpty()
        key_reads = (
            (
                lambda e: all(
                    self._entry_may_match(e, n, lo, hi) for n in key_names
                )
            )
            if lo is not None
            else None
        )
        if not has_match:
            if matched is not None and (
                positional or (self.cdf and record_cdc)
            ):
                matched.unpersist()
            if df.isEmpty():
                if txn_update:
                    self.set_txn(name, txn_update)  # as in merge
                return
            # degraded append — conflict-checked against the key range,
            # same reasoning as the COW form's degraded path
            app_schema = self._enforce_append_schema(name, m, df)
            if app_schema is None:
                app_schema = df.schema.jsonValue()
            app_cols = tuple(m["partition_columns"])
            app_new, _ = self._new_data_dir(name, df, app_cols)
            if app_new:
                self._enforce_constraints(
                    name, m, join_uri(self.path(name), app_new[0]["dir"])
                )
            self._commit(
                name, m["entries"] + app_new, list(app_cols),
                m["version"], schema=app_schema, txn=m.get("txn"),
                dv=m.get("dv"), txn_update=txn_update,
                conflict={
                    "base": m, "touched": set(), "removed": set(),
                    "produced": app_new, "reads": key_reads,
                },
            )
            return
        merged_schema = self._enforce_append_schema(name, m, df)
        if merged_schema is None:
            merged_schema = df.schema.jsonValue()
        cols = tuple(m["partition_columns"])
        # the ONLY data write: the batch itself (a delete-only merge —
        # empty batch — lands no data dir at all)
        new = []
        if not df.isEmpty():
            new, _ = self._new_data_dir(name, df, cols)
            if new:
                self._enforce_constraints(
                    name, m, join_uri(self.path(name), new[0]["dir"])
                )
        if positional:
            # Delta's DV-backed MERGE: the mask names exactly the rows
            # the matched keys occupy — files without a matched key
            # read CLEAN (no anti-join), where the equality form makes
            # every may-match dir pay the key-file anti-join forever
            entry, _n = self._pos_dv_entry(name, matched, candidates)
        else:
            keys_dir, n_keys = self._land_dv_keys(name, keys, unique_key)
            entry = {
                "keys": {"col": unique_key, "dir": keys_dir, "n": n_keys},
                "applies": [self._dv_ident(e) for e in candidates],
            }
        dv = (m.get("dv") or []) + [entry]
        cdc = None
        if self.cdf and record_cdc:
            cdc = self._merge_cdc(
                name, df, matched.drop("__dv_file", "__dv_pos"),
                unique_key, m["version"],
            )
        if positional or (self.cdf and record_cdc):
            matched.unpersist()
        self._commit(
            name, m["entries"] + new, list(cols), m["version"],
            schema=merged_schema, cdc=cdc, txn=m.get("txn"), dv=dv,
            txn_update=txn_update,
            conflict={
                "base": m,
                "touched": {self._entry_key(e) for e in candidates},
                "removed": set(), "produced": new, "reads": key_reads,
            },
        )
        self._maybe_purge_dvs(name, dv)

    def update_where_mor(
        self,
        name: str,
        col: str | dict,
        set_exprs: dict[str, str],
        lo=None,
        hi=None,
    ) -> int:
        """Public entry: :meth:`_update_where_mor_once` under the
        serializable conflict-retry loop (same read/write sets as
        :meth:`delete_where_mor`, plus the postimage dir as produced
        entries)."""
        return self._retry_conflicts(
            name,
            lambda: self._update_where_mor_once(
                name, col, set_exprs, lo, hi
            ),
        )

    def _update_where_mor_once(
        self,
        name: str,
        col: str | dict,
        set_exprs: dict[str, str],
        lo=None,
        hi=None,
    ) -> int:
        """Row-level UPDATE as MERGE-ON-READ (VERDICT r10 task 5): the
        POSTIMAGE rows append as one fresh dir and the predicate
        becomes a stored delete scoped to the may-match entries —
        matched old rows mask at read time, survivors are NEVER
        rewritten, so write cost is O(matched rows) where the
        copy-on-write :meth:`update_where` pays O(candidate entries'
        full content).  Same SET validation, CHECK-constraint
        enforcement, SQL NULL-predicate semantics, CDC classes, and
        return value as the COW form; ``materialize_deletes`` clears
        the debt.  Note the dv predicate is applies-scoped to the
        entries present NOW, so the postimage dir (and later appends)
        are untouched even when a SET keeps a row inside the predicate
        range."""
        from pyspark.sql import functions as F

        bounds = col if isinstance(col, dict) else {col: (lo, hi)}
        positional = self.dv_form == "positional"
        # validate FIRST: no orphan (positional persists no predicate)
        jb = None if positional else self._dv_bounds_json(bounds)
        candidates, m = self.prune_entries(name, bounds)
        if not m["entries"] or not candidates:
            return 0
        cand_df = self._read_with_dv(name, m, candidates, with_pos=positional)
        base_cols = [
            c for c in cand_df.columns if c not in ("__dv_file", "__dv_pos")
        ]
        self._validate_set_exprs(name, cand_df, set_exprs, "update_where_mor")
        cond = F.coalesce(self._bounds_condition(bounds), F.lit(False))
        matched = cand_df.filter(cond)
        n_updated = matched.count()
        if n_updated == 0:
            return 0
        # postimage = SET applied UNCONDITIONALLY to matched rows (the
        # COW form's re-filter regression applies here identically)
        postimage = matched.select(
            *[
                (
                    F.expr(set_exprs[c]).alias(c)
                    if c in set_exprs
                    else F.col(c)
                )
                for c in base_cols
            ]
        )
        cdc = None
        if self.cdf:
            changed = matched.drop("__dv_file", "__dv_pos").withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                postimage.withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
            cdc = self._land_cdc(
                name, changed, n_updated, "update", m["version"]
            )
        cols = tuple(m["partition_columns"])
        new, _ = self._new_data_dir(name, postimage, cols)
        if new:
            self._enforce_constraints(
                name, m, join_uri(self.path(name), new[0]["dir"])
            )
        if positional:
            entry, _n = self._pos_dv_entry(name, matched, candidates)
        else:
            entry = {
                "bounds": jb,
                "n": int(n_updated),
                "applies": [self._dv_ident(e) for e in candidates],
            }
        dv = (m.get("dv") or []) + [entry]
        self._commit(
            name, m["entries"] + new, list(m["partition_columns"]),
            m["version"], schema=m.get("schema"), cdc=cdc,
            txn=m.get("txn"), dv=dv,
            conflict={
                "base": m,
                "touched": {self._entry_key(e) for e in candidates},
                "removed": set(), "produced": new,
                "reads": self._bounds_reads(bounds, m),
            },
        )
        self._maybe_purge_dvs(name, dv)
        return n_updated


class CatalogManifestFormat(ManifestFormat):
    """ManifestFormat + a warehouse-level CATALOG pointer — multi-table
    transactions (the Iceberg REST-catalog design, on plain files).

    ``ManifestFormat`` is atomic per TABLE; ``root_key_merge`` spans a
    parent and its child tables, and a crash between their commits
    leaves reader-visible skew (documented in ``plans/pipeline.py`` and
    called out by two review rounds as the last storage gap).  This
    subclass closes it: readers resolve every table through the latest
    ``_catalog/c*.json`` — a map of table name to manifest version — so
    flipping the catalog (ONE small-file rename) moves any number of
    tables simultaneously.

    - Outside a transaction each ``_commit`` writes the per-table
      manifest and immediately flips the catalog: same semantics as
      the parent class, one extra O(1) rename.
    - Inside ``with fmt.transaction():`` manifests accumulate as
      PENDING (reads inside the transaction resolve pending first —
      read-your-writes, which ``materialize_upsert``'s read-back
      needs); the single catalog flip on exit commits them all, and an
      exception discards them (orphan manifests no reader resolves;
      ``vacuum`` reclaims their dirs).
    - Crash anywhere before the flip: the catalog still names the old
      versions for EVERY table — a retried batch converges with no
      window where a reader can see parent-new/child-stale.

    Concurrency contract: non-transactional per-table commits use the
    parent class's optimistic protocol, extended through the catalog —
    rebaseable edits flip ONLY if the table still resolves to the base
    they were computed against (``_flip_if_base``; a lost flip orphans
    the fresh manifest and the edit rebases), and flips of different
    tables commute via the catalog-version CAS retry.  TRANSACTIONS
    keep the single-writer-per-warehouse contract (the reference's
    Airflow ``max_active_runs=1`` posture, iot_master_dag.py:42-48): a
    transaction's exit flip overwrites the pointers of every table it
    touched, so racing it against other writers on the same tables is
    undefined.  Time travel (``read_version``/``history``) stays
    per-table against the manifest log.
    """

    CATALOG_DIR = "_catalog"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        auto_compact_dirs: int | None = 16,
        stats_cols: tuple[str, ...] = (),
        segment_entries: int | None = None,
        cluster_by: str | None = None,
        cdf: bool = False,
        auto_purge_dvs: int | None = None,
        dv_form: str = "equality",
        bloom_cols: tuple[str, ...] = (),
        log_store: LogStore | None = None,
    ):
        super().__init__(
            spark, root,
            auto_compact_dirs=auto_compact_dirs, stats_cols=stats_cols,
            segment_entries=segment_entries, cluster_by=cluster_by,
            cdf=cdf, auto_purge_dvs=auto_purge_dvs, dv_form=dv_form,
            bloom_cols=bloom_cols, log_store=log_store,
        )
        self._pending: dict[str, int] | None = None

    def writer_copy(self) -> "CatalogManifestFormat":
        """Fresh instance per concurrent writer thread: ``_pending``
        (the open-transaction buffer) is per-instance state, and two
        threads sharing one instance would trip the transaction
        nesting guard.  Disjoint-table transactions from separate
        instances commute through the catalog-version CAS."""
        return type(self)(
            self.spark,
            self.root,
            auto_compact_dirs=self.auto_compact_dirs,
            stats_cols=self.stats_cols,
            segment_entries=self.segment_entries,
            cluster_by=self.cluster_by,
            cdf=self.cdf,
            auto_purge_dvs=self.auto_purge_dvs,
            dv_form=self.dv_form,
            bloom_cols=self.bloom_cols,
            # the SAME LogStore instance: an arbitrated backend's claim
            # state must be shared by every writer of the warehouse
            log_store=self.log_store,
        )

    # -- catalog machinery ----------------------------------------------

    def _catalog_path(self) -> str:
        return join_uri(self.root, self.CATALOG_DIR)

    def _catalog_version(self) -> int:
        # same advisory head-hint scheme as the manifest log (r14):
        # the catalog dir grows one c*.json per flip; the hint makes
        # resolution O(1) in flip count, with the listing fallback
        # whenever the hinted file is missing/quarantined
        import json

        cdir = self._catalog_path()
        try:
            hint = int(
                json.loads(
                    self.fs.read_text(join_uri(cdir, self.HEAD_HINT))
                )["version"]
            )
        except Exception:
            hint = None
        if hint and self.fs.exists(join_uri(cdir, f"c{hint:012d}.json")):
            v = hint
            while self.fs.exists(join_uri(cdir, f"c{v + 1:012d}.json")):
                v += 1
            return v
        vs = [
            int(f[1:-5])
            for f in self.fs.list_files(cdir)
            if f.startswith("c") and f.endswith(".json")
        ]
        return max(vs, default=0)

    def _write_cat_hint(self, version: int) -> None:
        import json

        try:
            self.fs.write_text(
                join_uri(self._catalog_path(), self.HEAD_HINT),
                json.dumps({"version": int(version)}),
                overwrite=True,
            )
        except Exception:
            pass  # advisory only

    def _load_catalog_file(
        self, path: str, inflight_ok: bool = False
    ) -> dict | None:
        """Parse one ``c*.json`` with the torn-file guard (same crash
        window as a torn manifest: create-exclusive landed, body write
        did not) and the same brief retry for a HEALTHY writer caught
        mid-body-write.  ``inflight_ok=True`` returns None for a young
        unreadable file (caller treats it as not-yet-committed — the
        catalog resolution and time-travel listings); ``False`` raises
        even for young files (the vacuum paths, where skipping an
        in-flight pointer could uncount live references)."""
        body = self._read_commit_json(path)
        if body is None and not inflight_ok:
            raise RuntimeError(
                f"catalog file {path} is unreadable — a writer likely "
                "died mid-flip leaving a torn pointer file (or a flip "
                "is in flight right now; retry, quiesce writers); run "
                "repair_catalog() to quarantine a genuinely torn file "
                "(resolution resumes at the previous catalog version)"
            )
        return body

    def _catalog(self) -> dict:
        # newest READABLE pointer wins: an unreadable head younger
        # than the in-flight grace is a flip between create-exclusive
        # and body write — resolution falls back to the previous
        # catalog version instead of failing the read
        v = self._catalog_version()
        while v > 0:
            cat = self._load_catalog_file(
                join_uri(self._catalog_path(), f"c{v:012d}.json"),
                inflight_ok=True,
            )
            if cat is not None:
                return cat
            v -= 1
        return {"version": 0, "tables": {}}

    def repair_catalog(self, grace_s: float | None = None) -> int:
        """Quarantine TORN catalog pointer files (rename to
        ``<file>.torn``) — the catalog twin of :meth:`repair_log`; the
        same age grace protects flips in flight.  Returns the number
        quarantined."""
        import json
        import time

        grace = self.VACUUM_WRITER_GRACE_S if grace_s is None else grace_s
        now = time.time()
        repaired = 0
        for f in self.fs.list_files(self._catalog_path()):
            if not (f.startswith("c") and f.endswith(".json")):
                continue
            path = join_uri(self._catalog_path(), f)
            try:
                json.loads(self.fs.read_text(path))
                continue
            except ValueError:
                pass
            if grace > 0 and (now - self.fs.mtime(path)) < grace:
                continue
            # a prior quarantine of the same (reclaimed) version may
            # already hold the .torn name — replace it with the newer
            # forensics rather than failing the repair
            self.fs.delete(path + ".torn")
            self.fs.rename(path, path + ".torn")
            repaired += 1
        if repaired:
            # same interior-gap guard as repair_log (ADVICE r14 #1):
            # a stale flip hint above a quarantined pointer must not
            # cap the forward probe below a valid higher flip
            self.fs.delete(
                join_uri(self._catalog_path(), self.HEAD_HINT)
            )
        return repaired

    def _flip_catalog(
        self,
        updates: dict[str, int],
        view_updates: dict[str, str | None] | None = None,
        matview_updates: dict[str, dict | None] | None = None,
    ) -> None:
        """Unconditional pointer flip (first writes, replaces,
        transaction exits): CAS on the catalog version with bounded
        retries — flips of DIFFERENT tables commute, so a lost race
        just re-reads and merges onto the new head.  Same-table
        conflicts are excluded upstream (the manifest-version CAS for
        replaces; ``_flip_if_base`` for rebaseable edits; transactions
        keep the single-writer-per-warehouse contract).
        ``view_updates`` (r15) lands persisted-view text in the same
        flip — ``None`` value drops the view; ``matview_updates``
        (r15 tail) does the same for materialized-view definitions."""
        import json
        import random
        import time

        for attempt in range(self.COMMIT_ATTEMPTS):
            cat = self._catalog()
            nxt = cat["version"] + 1
            final = join_uri(self._catalog_path(), f"c{nxt:012d}.json")
            views = dict(cat.get("views") or {})
            for vn, vs in (view_updates or {}).items():
                if vs is None:
                    views.pop(vn, None)
                else:
                    views[vn] = vs
            mvs = dict(cat.get("matviews") or {})
            for vn, vs in (matview_updates or {}).items():
                if vs is None:
                    mvs.pop(vn, None)
                else:
                    mvs[vn] = vs
            body = json.dumps(
                {
                    "version": nxt,
                    "tables": {**cat["tables"], **updates},
                    "views": views,
                    "matviews": mvs,
                }
            )
            if self.log_store.put_if_absent(self.fs, final, body):
                self._write_cat_hint(nxt)
                return
            # lost the put-if-absent race: re-read and merge
            time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
        raise RuntimeError(
            f"catalog flip lost the version race {self.COMMIT_ATTEMPTS} "
            "times — persistent contention or a stuck IO error"
        )

    def _flip_if_base(self, name: str, version: int, base_version: int) -> bool:
        """Conditional flip: point ``name`` at ``version`` ONLY if the
        catalog still resolves it to ``base_version`` (the head the edit
        was computed against).  False = the table advanced under us —
        the caller's manifest is stale (now an orphan vacuum reclaims)
        and the edit must rebase.  Lost races on the catalog FILE
        (another table flipping) retry internally: they commute."""
        import json
        import random
        import time

        for attempt in range(self.COMMIT_ATTEMPTS):
            cat = self._catalog()
            if int(cat["tables"].get(name, 0)) != base_version:
                return False
            nxt = cat["version"] + 1
            final = join_uri(self._catalog_path(), f"c{nxt:012d}.json")
            body = json.dumps(
                {
                    "version": nxt,
                    "tables": {**cat["tables"], name: version},
                    # persisted (mat)views ride every flip unchanged
                    "views": dict(cat.get("views") or {}),
                    "matviews": dict(cat.get("matviews") or {}),
                }
            )
            if self.log_store.put_if_absent(self.fs, final, body):
                self._write_cat_hint(nxt)
                return True
            # lost the put-if-absent race on the catalog file: retry
            time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
        raise RuntimeError(
            f"catalog flip for {name} lost the version race "
            f"{self.COMMIT_ATTEMPTS} times — persistent contention or a "
            "stuck IO error"
        )

    def drop_table(self, name: str, purge: bool = True) -> bool:
        """Transactional DROP TABLE (Iceberg's catalog drop): the
        catalog pointer flips to 0 FIRST — every later read resolves
        "no committed manifest" atomically — then ``purge`` removes
        the directory (pre-drop catalog versions still name the old
        manifests, so a purge also strands time travel into them; skip
        it to keep the data for an out-of-band archive)."""
        if self._pending is not None:
            raise RuntimeError(
                "drop_table cannot run inside an open transaction"
            )
        if self._resolved_version(name) == 0:
            return False
        self._flip_catalog({name: 0})
        if purge:
            p = self.path(name)
            if self.fs.exists(p):
                self.fs.delete(p)
        return True

    def _resolved_version(self, name: str) -> int:
        if self._pending is not None and name in self._pending:
            return self._pending[name]  # read-your-writes inside a txn
        return int(self._catalog()["tables"].get(name, 0))

    # -- overridden resolution / commit ---------------------------------

    def _manifest(
        self,
        name: str,
        version: int | None = None,
        resolve: bool = True,
        expand_lists: bool = True,
    ) -> dict | None:
        if version is None:
            version = self._resolved_version(name)
            if version == 0:
                return None
        return super()._manifest(
            name, version, resolve=resolve, expand_lists=expand_lists
        )

    def _commit(
        self,
        name: str,
        entries: list,
        partition_columns: list,
        base_version: int = 0,
        schema: dict | None = None,
        cdc: dict | None = None,
        txn: dict | None = None,
        dv: list | None = None,
        conflict: dict | None = None,
        txn_update: dict | None = None,
    ) -> None:
        """Non-rebaseable (replace) commit + catalog flip.  On this
        format the COMMIT POINT is the catalog flip, so the replace's
        loud-abort contract is enforced there: the flip is conditioned
        on the table still resolving to ``base_version`` (the head the
        replace was computed against).  The manifest-file write is only
        unique ALLOCATION — orphans from aborted transactions may sit
        above the catalog-resolved head, so the file version cannot be
        ``base + 1``; a lost create race just re-allocates.  Previously
        the flip was unconditional, so a replace racing a concurrent
        append would silently overwrite the append's pointer (the
        catalog-format twin of ADVICE r8 #1).  ``txn`` as on the base
        class: DML verbs carry the base's writer watermarks, replaces
        reset them.

        ``conflict`` (round 13): same optimistic-concurrency upgrade as
        the base class, moved to the flip — a lost ``_flip_if_base``
        re-reads the catalog-resolved head, classifies via
        :meth:`_classify_conflict`, and on a disjoint delta allocates a
        REBASED manifest and retries the flip against the new head; an
        intersecting delta raises :class:`CommitConflict` for the
        verb's recompute loop.  The lost attempt's manifest stays an
        orphan (never catalog-committed, so never travelable) and is
        swept by ``vacuum_catalog``'s orphan pass like any aborted
        transaction's."""
        import random
        import time

        prev = self._manifest(name, base_version) if base_version else None
        base = (conflict or {}).get("base") or prev
        cur_entries, cur_cdc = entries, cdc
        cur_txn = self._overlay_txn(txn, txn_update)
        cur_base_v, rebase_on = base_version, prev
        for attempt in range(self.COMMIT_ATTEMPTS):
            segs, ents = self._resegment(name, rebase_on, cur_entries)
            for a2 in range(self.COMMIT_ATTEMPTS):
                nxt = self._latest_version(name) + 1
                if self._try_write_manifest(
                    name, nxt, ents, partition_columns, cur_txn,
                    segments=segs, schema=schema,
                    constraints=(rebase_on or {}).get("constraints"),
                    cdc=cur_cdc, dv=dv,
                ):
                    break
                time.sleep(random.uniform(0.01, 0.05) * (a2 + 1))
            else:
                raise RuntimeError(
                    f"manifest allocation for {name} lost the create race "
                    f"{self.COMMIT_ATTEMPTS} times — persistent contention "
                    "or a stuck IO error"
                )
            if self._pending is not None:
                self._pending[name] = nxt  # deferred: one flip commits all
                return
            if self._flip_if_base(name, nxt, cur_base_v):
                return
            if conflict is None or base is None:
                raise RuntimeError(
                    f"concurrent commit detected on {name} (catalog moved "
                    f"past v{base_version}): a full-table replace does not "
                    "commute with a concurrent write — re-run the "
                    "operation against the new table state"
                )
            head = self._manifest(name)
            if head is None:
                raise RuntimeError(
                    f"commit on {name}: table vanished under a row-level "
                    "operation (concurrent drop?)"
                )
            if head["version"] == cur_base_v:
                # flip raced but the table still resolves here — retry
                time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
                continue
            rebased = self._classify_conflict(name, base, head, conflict)
            cur_entries = rebased
            cur_cdc = (
                {**cdc, "since": head["version"]} if cdc else cdc
            )
            cur_txn = self._overlay_txn(
                dict(head.get("txn") or {}), txn_update
            )
            cur_base_v, rebase_on = head["version"], head
        raise RuntimeError(
            f"commit on {name} lost the catalog race "
            f"{self.COMMIT_ATTEMPTS} times after rebasing — persistent "
            "contention or a stuck IO error"
        )

    def _commit_edit(self, name: str, edit_fn, resolve: bool = True) -> bool:
        """Rebaseable commit through the CATALOG: the edit recomputes
        against the catalog-resolved head, the manifest lands via the
        version CAS, and the flip is CONDITIONED on the table still
        resolving to the edit's base (``_flip_if_base``) — if another
        writer advanced it in between, the fresh manifest is abandoned
        as an orphan and the whole edit rebases on the new head.
        ``resolve=False`` + 6-tuple = the two-tier edit mode, as on the
        base class."""
        import random
        import time

        for attempt in range(self.COMMIT_ATTEMPTS):
            # catalog/pending-resolved head
            prev = self._manifest(name, resolve=resolve)
            base_v = prev["version"] if prev else 0
            out = edit_fn(prev)
            if out is None:
                return False
            entries, cols = out[0], out[1]
            txn = (
                out[2]
                if len(out) > 2 and out[2] is not None
                else dict((prev or {}).get("txn") or {})
            )
            schema = (
                out[3]
                if len(out) > 3 and out[3] is not None
                else (prev or {}).get("schema")
            )
            constraints = (
                out[4]
                if len(out) > 4 and out[4] is not None
                else (prev or {}).get("constraints")
            )
            dv = (
                out[6]
                if len(out) > 6 and out[6] is not None
                else (prev or {}).get("dv")
            )
            if len(out) > 5 and out[5] is not None:
                segs, entries = self._flush_tail(
                    name, list(out[5]), entries, prev=prev
                )
            else:
                segs, entries = self._resegment(name, prev, entries)
            nxt = self._latest_version(name) + 1
            if not self._try_write_manifest(
                name, nxt, entries, cols, txn, segments=segs,
                schema=schema, constraints=constraints, dv=dv,
            ):
                time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
                continue
            if self._pending is not None:
                self._pending[name] = nxt
                return True
            if self._flip_if_base(name, nxt, base_v):
                return True
            time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
        raise RuntimeError(
            f"commit on {name} lost the catalog race "
            f"{self.COMMIT_ATTEMPTS} times — persistent contention or a "
            "stuck IO error"
        )

    def transaction(self):
        """Context manager: every table committed inside flips into the
        catalog TOGETHER on exit; an exception discards all of them."""
        import contextlib

        @contextlib.contextmanager
        def _txn():
            self.begin()
            try:
                yield
            except BaseException:
                self.abort_txn()
                raise
            else:
                self.commit_txn()

        return _txn()

    # explicit BEGIN/COMMIT/ROLLBACK verbs (r15, VERDICT r14 task 2):
    # the statement-at-a-time SQL front-end cannot hold a context
    # manager open across calls, so the transaction protocol is also
    # exposed as three plain verbs the ``with`` form composes from.

    def begin(self) -> None:
        """Open a transaction: subsequent commits on ANY table defer
        their catalog flips into one pending set (read-your-writes via
        ``_resolved_version``)."""
        if self._pending is not None:
            raise RuntimeError("transactions do not nest")
        self._pending = {}

    def commit_txn(self) -> None:
        """One catalog flip publishes every table committed since
        ``begin`` — a reader sees all of them or none."""
        if self._pending is None:
            raise RuntimeError("no open transaction to commit")
        try:
            if self._pending:
                self._flip_catalog(self._pending)
        finally:
            self._pending = None

    def abort_txn(self) -> None:
        """Discard the pending set: the manifests written inside the
        transaction stay in ``_log`` as orphans (never catalog-visible,
        not even via time travel) until vacuum reclaims them."""
        if self._pending is None:
            raise RuntimeError("no open transaction to roll back")
        self._pending = None

    # -- persisted views (r15, VERDICT r14 task 7) ---------------------
    # The reference's ``examples`` layer is exactly CREATE VIEW over
    # warehouse tables (reference dbt_project.yml:40-42: the examples
    # models materialize as views).  View TEXT lives in the catalog
    # log — transactional like table pointers, surviving restarts —
    # and resolves against the CURRENT commit at read time, so a view
    # tracks base-table commits with no refresh step.

    def views(self) -> dict[str, str]:
        """Persisted views: ``{name: sql_text}`` from the current
        catalog version."""
        return dict(self._catalog().get("views") or {})

    def create_view(
        self, name: str, sql_text: str, replace: bool = False
    ) -> None:
        if self._pending is not None:
            raise RuntimeError(
                "view DDL inside an open transaction is not supported — "
                "COMMIT/ROLLBACK first (views flip the catalog directly)"
            )
        cat = self._catalog()
        if cat["tables"].get(name):
            raise ValueError(
                f"CREATE VIEW {name}: a TABLE of that name exists"
            )
        if name in (cat.get("matviews") or {}):
            raise ValueError(
                f"CREATE VIEW {name}: a MATERIALIZED VIEW of that "
                "name exists (DROP MATERIALIZED VIEW first)"
            )
        if not replace and name in (cat.get("views") or {}):
            raise ValueError(
                f"view {name} already exists (CREATE OR REPLACE VIEW "
                "to redefine)"
            )
        self._flip_catalog({}, view_updates={name: str(sql_text)})

    def drop_view(self, name: str) -> bool:
        if self._pending is not None:
            raise RuntimeError(
                "view DDL inside an open transaction is not supported — "
                "COMMIT/ROLLBACK first (views flip the catalog directly)"
            )
        if name not in self.views():
            return False
        self._flip_catalog({}, view_updates={name: None})
        return True

    # -- materialized views (r15 tail) ---------------------------------
    # TimescaleDB continuous aggregates as SQL: the DEFINITION (source
    # table, group-key expressions, additive aggregates) lives in the
    # catalog log like persisted-view text; the STATE is an
    # ``IncrementalAggSync`` rollup table (``<name>__mvstate``)
    # maintained from the source's commit-log change feed — never a
    # recompute from history.  Parsing/refresh live in
    # ``plans/matview.py``; this layer only stores definitions
    # transactionally.

    def matviews(self) -> dict[str, dict]:
        """Materialized-view definitions ``{name: defn_dict}`` from the
        current catalog version."""
        return {
            k: dict(v)
            for k, v in (self._catalog().get("matviews") or {}).items()
        }

    def create_matview(
        self, name: str, defn: dict, replace: bool = False
    ) -> None:
        if self._pending is not None:
            raise RuntimeError(
                "materialized-view DDL inside an open transaction is "
                "not supported — COMMIT/ROLLBACK first"
            )
        cat = self._catalog()
        if cat["tables"].get(name):
            raise ValueError(
                f"CREATE MATERIALIZED VIEW {name}: a TABLE of that "
                "name exists"
            )
        if name in (cat.get("views") or {}):
            raise ValueError(
                f"CREATE MATERIALIZED VIEW {name}: a VIEW of that "
                "name exists (DROP VIEW first)"
            )
        if not replace and name in (cat.get("matviews") or {}):
            raise ValueError(
                f"materialized view {name} already exists (CREATE OR "
                "REPLACE MATERIALIZED VIEW to redefine)"
            )
        self._flip_catalog({}, matview_updates={name: dict(defn)})

    def drop_matview(self, name: str) -> bool:
        if self._pending is not None:
            raise RuntimeError(
                "materialized-view DDL inside an open transaction is "
                "not supported — COMMIT/ROLLBACK first"
            )
        if name not in self.matviews():
            return False
        self._flip_catalog({}, matview_updates={name: None})
        return True

    def list_tables(self) -> list[str]:
        """The catalog IS the table listing — no directory walk."""
        return sorted(
            name
            for name, v in self._catalog()["tables"].items()
            if v and super(CatalogManifestFormat, self)._manifest(name, v)
        )

    def _committed_versions(self, name: str) -> set[int]:
        """Every manifest version of ``name`` some CATALOG version has
        resolved — the set time travel may serve.  A manifest an aborted
        transaction left behind is a v*.json in ``_log`` but appears in
        no catalog file, so it is invisible here (data a transaction
        never committed must not be readable, not even "as of v")."""
        import json

        out: set[int] = set()
        for f in self.fs.list_files(self._catalog_path()):
            if f.startswith("c") and f.endswith(".json"):
                cat = self._load_catalog_file(
                    join_uri(self._catalog_path(), f), inflight_ok=True
                )
                v = (cat or {}).get("tables", {}).get(name)
                if v:
                    out.add(int(v))
        if self._pending is not None and name in self._pending:
            out.add(self._pending[name])  # read-your-writes inside a txn
        return out

    def read_version(self, name: str, version: int) -> DataFrame:
        committed = self._committed_versions(name)
        if version not in committed:
            raise ValueError(
                f"version {version} of {name} was never committed to the "
                f"catalog (aborted transaction, or vacuumed); committed "
                f"versions: {sorted(committed)}"
            )
        return super().read_version(name, version)

    def history(self, name: str) -> list[dict]:
        committed = self._committed_versions(name)
        return [h for h in super().history(name) if h["version"] in committed]

    def _travelable_versions(self, name: str) -> list[int]:
        # only catalog-committed versions: an aborted transaction's
        # orphan manifest carries a committed_at but was never a table
        # state any reader could have seen
        return sorted(self._committed_versions(name))

    def vacuum(
        self,
        name: str,
        keep_last: int = 1,
        keep_hours: float | None = None,
        writer_grace_s: float | None = None,
    ) -> int:
        """Reclaim dirs not referenced by the manifests the last
        ``keep_last`` CATALOG versions resolve ``name`` to; drop every
        other manifest of the table (orphans from aborted transactions
        included).  ``keep_hours`` additionally retains every
        catalog-REACHABLE manifest version committed within the window
        (same union-of-policies rule as the parent class; orphans get
        no time-based grace).  ``writer_grace_s`` protects in-flight
        writers' pre-commit data dirs exactly as in the parent class."""
        if keep_last < 1:
            raise ValueError("vacuum keeps at least the current version")
        if self._pending is not None:
            # a pending (not yet flipped) manifest version is in no
            # catalog file, so the sweep below would reclaim it — and the
            # transaction's exit flip would then commit a pointer to a
            # deleted manifest, leaving the table unreadable
            raise RuntimeError(
                "vacuum cannot run inside an open transaction: pending "
                "manifest versions are not catalog-reachable yet and "
                "would be reclaimed out from under the commit"
            )
        import json

        cat_latest = self._catalog_version()
        keep_versions: set[int] = set()
        for cv in range(max(1, cat_latest - keep_last + 1), cat_latest + 1):
            p = join_uri(self._catalog_path(), f"c{cv:012d}.json")
            if self.fs.exists(p):
                tables = self._load_catalog_file(p)["tables"]
                if tables.get(name):
                    keep_versions.add(int(tables[name]))
        if keep_hours is not None:
            import time

            cutoff = time.time() - keep_hours * 3600
            for v in self._committed_versions(name):
                m = super()._manifest(name, v)
                if m is not None and (m.get("committed_at") or 0) >= cutoff:
                    keep_versions.add(v)
        live: set[str] = set()
        live_segs: set[str] = set()
        for v in keep_versions:
            m = super()._manifest(name, v)
            live |= {e["dir"] for e in (m["entries"] if m else [])}
            live_segs |= {s["file"] for s in (m or {}).get("segments") or []}
            live_segs |= {
                s["list"]
                for s in (m or {}).get("segments_spooled") or []
                if "list" in s
            }
            if (m or {}).get("cdc"):
                live.add(m["cdc"]["dir"])  # retained CDF data
            for d in (m or {}).get("dv") or []:
                if d.get("keys"):
                    live.add(d["keys"]["dir"])  # equality-delete keys
                if d.get("pos"):
                    live.add(d["pos"]["dir"])  # positional delete masks
        latest = self._latest_version(name)
        removed = self._sweep_data_dirs(name, live, writer_grace_s)
        import time as _time

        grace = (
            self.VACUUM_WRITER_GRACE_S
            if writer_grace_s is None
            else writer_grace_s
        )
        now = _time.time()
        for f in self.fs.list_files(self._log_path(name)):
            if f.startswith("v") and f.endswith(".json"):
                v = int(f[1:-5])
                if v in keep_versions or v > latest:
                    # v > latest: allocated while this vacuum ran —
                    # a concurrent writer's manifest must survive
                    continue
                p = join_uri(self._log_path(name), f)
                if grace > 0 and (now - self.fs.mtime(p)) < grace:
                    # allocation precedes the catalog flip on this
                    # format: a young unkept manifest may be a commit
                    # whose flip is still in flight
                    continue
                self.fs.delete(p)
            elif (
                f.startswith("seg-") or f.startswith("segl-")
            ) and f.endswith(".json"):
                if f not in live_segs:
                    self._sweep_segment(name, f, writer_grace_s)
            elif f.endswith(".torn"):
                self.fs.delete(join_uri(self._log_path(name), f))
        return removed

    def vacuum_catalog(self, keep_last: int = 96) -> int:
        """Prune old catalog pointer files — the unbounded-growth fix
        for the warehouse's OWN metadata: every flip writes one
        ``c*.json`` (96/day at the 15-minute cadence), and both
        ``_catalog_version`` (every commit) and ``_committed_versions``
        (every time travel) list the whole directory, so an unpruned
        catalog makes commit cost grow with warehouse AGE.  Keeps the
        newest ``keep_last`` files (default one day of 15-min flips);
        cross-table time travel (``read_at``) and per-table
        ``read_version`` reach back only as far as the kept files —
        align ``keep_last`` with the vacuum retention you actually
        serve.  Refuses inside an open transaction (same rationale as
        ``vacuum``).  Returns the number of catalog files removed."""
        if keep_last < 1:
            raise ValueError("vacuum_catalog keeps at least the current file")
        if self._pending is not None:
            raise RuntimeError(
                "vacuum_catalog cannot run inside an open transaction"
            )
        latest = self._catalog_version()
        removed = 0
        for f in self.fs.list_files(self._catalog_path()):
            if f.startswith("c") and f.endswith(".json"):
                if int(f[1:-5]) <= latest - keep_last:
                    self.fs.delete(join_uri(self._catalog_path(), f))
                    removed += 1
            elif f.endswith(".torn"):
                # quarantined torn flips (repair_catalog): reclaimed here
                self.fs.delete(join_uri(self._catalog_path(), f))
                removed += 1
        return removed

    def catalog_history(self) -> list[dict]:
        """The warehouse's transaction log as data: one row per catalog
        version with the tables it moved — the audit surface for "which
        sync committed what, together"."""
        import json

        out = []
        prev: dict[str, int] = {}
        for v in range(1, self._catalog_version() + 1):
            p = join_uri(self._catalog_path(), f"c{v:012d}.json")
            if not self.fs.exists(p):
                continue  # pruned
            tables = {
                k: int(x)
                for k, x in self._load_catalog_file(p)["tables"].items()
            }
            out.append(
                {
                    "catalog_version": v,
                    "tables": tables,
                    "changed": sorted(
                        k for k, x in tables.items() if prev.get(k) != x
                    ),
                }
            )
            prev = tables
        return out

    def _resolved_version_at(self, name: str, catalog_version: int) -> int:
        """The manifest version ``name`` resolved to at the given
        catalog version — shared by ``read_at`` and the pinned-snapshot
        handle."""
        p = join_uri(self._catalog_path(), f"c{catalog_version:012d}.json")
        if not self.fs.exists(p):
            raise ValueError(
                f"no catalog version {catalog_version}: log holds "
                f"{[int(f[1:-5]) for f in self.fs.list_files(self._catalog_path()) if f.startswith('c')]}"
            )
        v = self._load_catalog_file(p)["tables"].get(name)
        if not v:
            raise ValueError(
                f"table {name} did not exist at catalog version "
                f"{catalog_version}"
            )
        return int(v)

    def read_at(self, name: str, catalog_version: int) -> DataFrame:
        """CROSS-TABLE-CONSISTENT time travel: the table as the given
        catalog version resolved it.  Reading a parent and its children
        at the SAME catalog version yields exactly the state one
        transaction committed — the per-table ``read_version`` cannot
        promise that (its versions advance independently)."""
        return self.read_version(
            name, self._resolved_version_at(name, catalog_version)
        )

"""Incremental materialization — the dbt layer's physical operators.

Reference semantics reproduced exactly (SURVEY §2.6):

- M1 incremental append: first run = CREATE TABLE AS; later runs render
  the high-watermark predicate ``col > MAX(col in target)`` (strictly
  greater — quirk §2.9.8: late rows sharing the max are dropped) with
  the COALESCE defaults of macros/get_max_insert_timestamp.sql:6-11.
- M2 incremental upsert on a unique key (models/stage/users.sql:2-5):
  Delta MERGE semantics emulated on plain parquet via anti-join + union
  rewrite (no Delta jars in this image).
- M3 view materialization (examples models, dbt_project.yml:40-42).
- M4 schema namespaces -> path prefixes ``<root>/<schema>/<table>``.

Cluster-real storage: every metadata operation (existence, staging
recovery, partition discovery, the atomic promote) goes through the
Hadoop FileSystem API (``..fs``), so the warehouse root may be any
scheme Spark can reach — ``file:``, ``hdfs://``, ``s3a://`` — exactly
like the reference's network-addressed TimescaleDB.

Storage verbs live behind the :class:`~.table_format.TableFormat` seam
(``table_format.py``): ``Warehouse`` owns the engine-independent
semantics (watermark predicates, merge-plan construction, SCD-2
interval modeling, compaction sizing, retention validation) and the
format owns the physics.  The default :class:`~.table_format.
ParquetFormat` does ONE data write per rewrite (batch -> ``__staging``)
plus a metadata-only directory swap; on raw object stores where rename
is a copy, a Delta/Iceberg format slots into the same seam with
transactional commits and MERGE INTO — the role TimescaleDB plays for
the reference (docker-compose.yaml:307).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import HadoopFS, join_uri
from ..functions import DEFAULT_DATESTRING_WATERMARK, DEFAULT_EPOCH_WATERMARK
from .table_format import ParquetFormat, TableFormat


class Warehouse:
    """Warehouse with ``schema.table`` namespacing (M4), parquet-backed
    by default; pass any :class:`TableFormat` to swap the storage."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        table_format: TableFormat | None = None,
    ):
        self.spark = spark
        self.root = root
        self.fmt = table_format or ParquetFormat(spark, root)

    @property
    def fs(self) -> HadoopFS:
        """The format's FileSystem handle — parquet-format convenience
        for callers doing raw listings (``root_key_merge``, ops tests).
        A transactional format that has no directory layout would not
        offer this; such callers must use the catalog verbs instead."""
        return self.fmt.fs

    def path(self, name: str) -> str:
        return self.fmt.path(name)

    def exists(self, name: str) -> bool:
        """True iff the target holds committed data."""
        return self.fmt.exists(name)

    def read(self, name: str) -> DataFrame:
        """Committed contents; the format resolves any died rewrite
        first — never hands out a half-written table."""
        return self.fmt.read(name)

    def _recover_staging(self, name: str) -> None:
        self.fmt.recover(name)

    def tables(self) -> list[str]:
        """Every ``schema.table`` under the root — the catalog surface a
        warehouse needs for ops tooling; transient leftovers excluded."""
        return self.fmt.list_tables()

    def _partition_columns(self, name: str) -> list[str]:
        return self.fmt.partition_columns(name)

    def _format_verb(self, verb: str):
        """Commit-log-only verbs (time travel, skipping, change feed,
        clustering, vacuum) resolved from the format — a clear error on
        formats without them instead of an AttributeError."""
        fn = getattr(self.fmt, verb, None)
        if fn is None:
            raise NotImplementedError(
                f"{type(self.fmt).__name__} does not support '{verb}'; "
                "construct the Warehouse with a commit-log format "
                "(ManifestFormat / CatalogManifestFormat)"
            )
        return fn

    def read_where(
        self, name: str, col: str | dict, lo=None, hi=None
    ) -> DataFrame:
        """Range read with manifest-level data skipping (commit-log
        formats; see ``ManifestFormat.read_where``)."""
        return self._format_verb("read_where")(name, col, lo, hi)

    def read_changes(
        self, name: str, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Append-only change feed between manifest versions (commit-log
        formats; see ``ManifestFormat.read_changes``)."""
        return self._format_verb("read_changes")(name, since_version, to_version)

    def read_changes_cdf(
        self, name: str, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level change data feed with _change_type tags — serves
        delete/update rewrites the append-only feed refuses (commit-log
        formats; see ``ManifestFormat.read_changes_cdf``)."""
        return self._format_verb("read_changes_cdf")(
            name, since_version, to_version
        )

    def read_at_timestamp(self, name: str, ts) -> DataFrame:
        """Time travel by COMMIT timestamp — the whole table as of
        wall-clock ``ts`` (commit-log formats; see
        ``ManifestFormat.read_asof``).  Distinct from ``read_asof``,
        the SCD-2 row-history read ("what did the ROW look like at T"
        from snapshot intervals), and from the catalog format's
        ``read_at(name, catalog_version)`` (cross-table-consistent
        reads at one catalog version): this answers "what did the
        TABLE look like at wall-clock T" from the commit log."""
        return self._format_verb("read_asof")(name, ts)

    def rename_column(self, name: str, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN without data rewrite (commit-log
        formats; see ``ManifestFormat.rename_column``)."""
        return self._format_verb("rename_column")(name, old, new)

    def drop_column(self, name: str, col: str) -> int:
        """ALTER TABLE DROP COLUMN without data rewrite (commit-log
        formats; see ``ManifestFormat.drop_column``)."""
        return self._format_verb("drop_column")(name, col)

    def set_partition_spec(
        self, name: str, partition_by: tuple[str, ...]
    ) -> int:
        """Partition-spec evolution without data rewrite (commit-log
        formats; see ``ManifestFormat.set_partition_spec``)."""
        return self._format_verb("set_partition_spec")(name, partition_by)

    def widen_column(self, name: str, col: str, new_type: str) -> int:
        """ALTER COLUMN TYPE for safe widenings, metadata-only
        (commit-log formats; see ``ManifestFormat.widen_column``)."""
        return self._format_verb("widen_column")(name, col, new_type)

    def drop_table(self, name: str, purge: bool = True) -> bool:
        """DROP TABLE (transactional pointer flip on the catalog
        format; directory removal on plain manifest)."""
        return self._format_verb("drop_table")(name, purge)

    def snapshot(self):
        """PINNED-SNAPSHOT read handle (commit-log formats; see
        ``TableSnapshot``): every read through the handle serves one
        fixed version set, so a long job reading a table twice never
        straddles a concurrent commit.  Catalog format pins the catalog
        version at creation (cross-table-consistent); plain manifest
        pins per table at first read."""
        return self._format_verb("snapshot")()

    def add_constraint(self, name: str, cname: str, expr: str) -> None:
        """Named CHECK constraint, enforced on every landed batch
        before commit (commit-log formats; see
        ``ManifestFormat.add_constraint``)."""
        return self._format_verb("add_constraint")(name, cname, expr)

    def drop_constraint(self, name: str, cname: str) -> bool:
        """Remove a CHECK constraint (commit-log formats)."""
        return self._format_verb("drop_constraint")(name, cname)

    def restore(self, name: str, version: int) -> int:
        """Roll the table head back to an old version, metadata-only
        (commit-log formats; see ``ManifestFormat.restore``)."""
        return self._format_verb("restore")(name, version)

    def cluster(self, name: str, col: str, n_files: int | None = None) -> int:
        """Range-clustered rewrite for file-level skipping (commit-log
        formats; see ``ManifestFormat.cluster``)."""
        return self._format_verb("cluster")(name, col, n_files)

    def delete_where(
        self, name: str, col: str | dict, lo=None, hi=None
    ) -> int:
        """Row-level DELETE, stats-bounded copy-on-write (commit-log
        formats; see ``ManifestFormat.delete_where``)."""
        return self._format_verb("delete_where")(name, col, lo, hi)

    def update_where(
        self, name: str, col: str | dict, set_exprs: dict, lo=None, hi=None
    ) -> int:
        """Row-level UPDATE, stats-bounded copy-on-write (commit-log
        formats; see ``ManifestFormat.update_where``)."""
        return self._format_verb("update_where")(name, col, set_exprs, lo, hi)

    def update_where_mor(
        self, name: str, col: str | dict, set_exprs: dict, lo=None, hi=None
    ) -> int:
        """Row-level UPDATE as merge-on-read: postimages append, the
        predicate masks old rows, no survivor rewrite (commit-log
        formats; see ``ManifestFormat.update_where_mor``)."""
        return self._format_verb("update_where_mor")(
            name, col, set_exprs, lo, hi
        )

    def merge_mor(
        self,
        name: str,
        df,
        unique_key: str,
        delete_keys=None,
    ) -> None:
        """MERGE as merge-on-read: the batch appends, matched keys mask
        via a stored equality-delete key file, zero survivor rewrite
        (commit-log formats; see ``ManifestFormat.merge_mor``)."""
        return self._format_verb("merge_mor")(name, df, unique_key, delete_keys)

    def cluster_zorder(
        self, name: str, cols: tuple[str, ...], n_files: int | None = None
    ) -> int:
        """Multi-column z-order rewrite — locality in every listed
        dimension (commit-log formats; see
        ``ManifestFormat.cluster_zorder``)."""
        return self._format_verb("cluster_zorder")(name, cols, n_files)

    def vacuum(
        self,
        name: str,
        keep_last: int = 1,
        keep_hours: float | None = None,
        writer_grace_s: float | None = None,
    ) -> int:
        """Reclaim unreferenced data dirs / old manifests (commit-log
        formats; see ``ManifestFormat.vacuum``)."""
        return self._format_verb("vacuum")(
            name, keep_last, keep_hours, writer_grace_s
        )

    def table_info(self, name: str) -> dict:
        """Operational metadata for one table: bytes, partition layout,
        and top-level partition values — all metadata calls, no data
        read."""
        layout = self.fmt.partition_columns(name)
        return {
            "name": name,
            "path": self.fmt.path(name),
            "bytes": self.fmt.table_bytes(name),
            "partition_columns": layout,
            "partitions": self.fmt.partition_values(name) if layout else [],
        }

    # ------------------------------------------------------------------
    # M1 — incremental append with strict > watermark
    # ------------------------------------------------------------------

    def materialize_incremental(
        self,
        name: str,
        df: DataFrame,
        watermark_col: str | None = None,
        watermark_default=None,
        partition_by: tuple[str, ...] = (),
        sort_within: str | None = None,
    ) -> DataFrame:
        """First run writes everything; later runs append only rows with
        ``watermark_col`` strictly above the target's max (A4 lookup +
        P4 filter + P8 coalesce default).

        ``sort_within`` clusters rows inside each output file (O3 — the
        reference's dbt-timescaledb ``order_by='device_id'`` physical
        hint, stage/*.sql:3): parquet min/max page stats then let
        readers skip row groups on that column."""
        if sort_within is not None:
            df = df.sortWithinPartitions(sort_within)
        if self.exists(name):
            if watermark_col is not None:
                target = self.read(name)
                default = watermark_default
                if default is None:
                    default = _default_for(target.schema[watermark_col].dataType)
                row = target.agg(
                    F.coalesce(F.max(watermark_col), F.lit(default)).alias("wm")
                ).first()
                df = df.filter(F.col(watermark_col) > F.lit(row["wm"]))
            self.fmt.write(name, df, "append", partition_by)
            # commit-log formats accumulate one immutable data dir per
            # append (~96/day at the 15-min cadence); their threshold
            # policy rewrites the small-dir tail once the count passes
            # auto_compact_dirs, keeping read amplification flat over
            # unbounded syncs (cost O(threshold x batch), never O(table))
            maybe_compact = getattr(self.fmt, "maybe_compact", None)
            if maybe_compact is not None:
                maybe_compact(name)
        else:
            self.fmt.write(name, df, "overwrite", partition_by)
        return self.read(name)

    # ------------------------------------------------------------------
    # M2 — upsert by unique key (MERGE emulation on plain parquet)
    # ------------------------------------------------------------------

    def materialize_upsert(
        self,
        name: str,
        df: DataFrame,
        unique_key: str,
        delete_keys: DataFrame | None = None,
        record_cdc: bool = True,
        txn_update: dict | None = None,
    ) -> DataFrame:
        """Reference: ``unique_key='user_id'`` on stage users — incoming
        rows replace target rows with the same key.  On Delta/Iceberg
        this is MERGE INTO; on plain parquet we rewrite: keep target
        rows whose key is absent from the batch (left anti), union the
        batch, land the merge in ``__staging`` with ONE data write, then
        promote it with a metadata-only directory swap.

        ``delete_keys`` (optional, a frame holding ``unique_key``)
        overrides the delete set.  dlt's root-key merge needs this: a
        child table is upserted on ``_dlt_root_id``, and a re-extracted
        document whose array shrank to EMPTY contributes no child rows —
        so the delete set must come from the PARENT batch's document
        ids, not from the keys present in the child batch, or the old
        child rows survive forever.

        The merge verb belongs to the format: ``ParquetFormat`` runs
        the generic anti-join + union plan with ONE data write and the
        metadata-only swap (partition layout preserved — the merged
        frame carries partition values as plain columns, and the format
        re-applies partitionBy so a day-partitioned table keeps
        pruning); the manifest formats override it with the Delta-style
        STATS-BOUNDED copy-on-write plan (entries whose key-range stats
        prove no batch key matches carry by identity — a 15-minute
        micro-batch against a key-clustered 100 TB raw table rewrites
        ~the files its keys live in, never the table) and record merge
        CDC rows for the change feed.

        ``txn_update`` (commit-log formats only) commits writer
        cursors inside the merge's own commit — see
        ``ManifestFormat.merge``; the rollup family's exactly-once
        cursor rides it.
        """
        # record_cdc=False: INTERNAL state tables (rollup/index
        # assignments) opt their own upserts out of change-data capture
        # even on a cdf=True warehouse — nobody tails derived state,
        # and the classification + landing would double every sync's
        # merge cost (round-11 soak finding)
        kw = {"txn_update": txn_update} if txn_update else {}
        self.fmt.merge(
            name, df, unique_key, delete_keys, record_cdc=record_cdc, **kw
        )
        # bounded merges append one fresh dir per batch (like appends);
        # the threshold compaction keeps read amplification flat over
        # unbounded 15-minute syncs — cost O(threshold x file), never
        # O(table)
        maybe_compact = getattr(self.fmt, "maybe_compact", None)
        if maybe_compact is not None:
            maybe_compact(name)
        return self.read(name)

    def materialize_delete(
        self, name: str, delete_keys: DataFrame, unique_key: str
    ) -> DataFrame:
        """Delete-only merge: drop target rows whose ``unique_key`` is in
        ``delete_keys``; no new rows.  The root-key merge uses this for
        child tables that got NO rows at all from the current batch (the
        array field vanished from every batch document — flatten then
        does not even emit the child table, but stale rows of
        re-extracted parents must still go).

        Routed through the format's merge verb with an EMPTY batch so
        the manifest formats' stats-bounded plan applies (VERDICT r9
        task 8): a sync whose parent keys provably touch no rows of
        this child carries every entry by identity — a metadata no-op,
        not a full rewrite.  ``ParquetFormat`` keeps the generic
        anti-join + atomic-swap plan via its inherited merge."""
        self._recover_staging(name)
        if not self.exists(name):
            raise ValueError(f"materialize_delete: no such table {name}")
        empty_batch = self.read(name).limit(0)
        self.fmt.merge(name, empty_batch, unique_key, delete_keys)
        return self.read(name)

    def compact(
        self,
        name: str,
        target_files: int | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> DataFrame:
        """Small-file compaction.  A 15-minute incremental append writes
        ~96 files/day/partition; scans degrade with file count (driver
        listing + per-file open cost), so periodic compaction rewrites
        the table into ``target_files`` output tasks (a partitioned
        table then lands ONE file per partition directory — each hive
        key hashes to a single task — with ``target_files`` governing
        rewrite parallelism; an unpartitioned table lands exactly
        ``target_files`` files).

        With ``target_files=None`` the count auto-sizes from the
        table's on-disk bytes (one ``getContentSummary`` metadata call)
        at ``target_file_bytes`` per file (default 128 MB — the HDFS
        block / ``maxPartitionBytes`` sweet spot), so a nightly
        compaction job needs no per-table tuning and keeps working as
        tables grow 100x.

        Plain-parquet version of OPTIMIZE on Delta/Iceberg: one data
        write into ``__compact`` staging, then the same metadata-only
        swap as upsert.  Partition columns are restored on rewrite
        (coalesce only bounds files per partition directory).
        """
        self._recover_staging(name)  # may restore the target, any suffix
        if target_files is None:
            nbytes = self.fmt.table_bytes(name)
            target_files = max(1, -(-nbytes // int(target_file_bytes)))
        df = self.read(name)
        part_cols = tuple(self._partition_columns(name))
        n = max(1, target_files)
        if part_cols:
            writer = df.repartition(n, *part_cols)
        elif n <= df.rdd.getNumPartitions():
            writer = df.coalesce(n)  # merge-only: no shuffle
        else:
            # splitting (oversized files after growth) needs a real
            # repartition — coalesce can only reduce partition count
            writer = df.repartition(n)
        self.fmt.replace_atomic(name, writer, part_cols, suffix="__compact")
        return self.read(name)

    def materialize_training_shards(
        self, name: str, df: DataFrame, id_col: str, n_shards: int, seed: int = 0
    ) -> DataFrame:
        """Land a curated corpus as deterministically shuffled training
        shards: ``shard=<k>/`` directories, ONE file per shard, rows
        inside each file in the seeded shuffle order (``pos``).

        The terminal step of a pretraining data pipeline — trainers
        stream shard files sequentially, so the global shuffle must
        happen at write time, be reproducible (content-derived, not
        ``rand()``), and never funnel the corpus through a single sort.
        Shape: ``shuffle_shard(keep_payload=True)`` is the ONE data
        shuffle (on the shard key; the per-shard ``pos`` window rides
        it); ``partitionBy(shard)`` then splits each task's rows into
        its shard directory — a shard's rows all live in one task, so
        each directory gets exactly one file, already pos-ordered.
        Size shards via ``n_shards`` ≈ corpus_bytes / target_file_bytes;
        parallelism scales with it.  Same two-phase staging + swap as
        every other full rewrite.
        """
        from ..operators.packing import shuffle_shard

        sharded = shuffle_shard(
            df, id_col, n_shards=n_shards, seed=seed, keep_payload=True
        )
        self.fmt.replace_atomic(
            name, sharded.sortWithinPartitions("shard", "pos"), ("shard",)
        )
        return self.read(name)

    def materialize_curriculum_shards(
        self,
        name: str,
        df: DataFrame,
        id_col: str,
        order_col: str,
        n_shards: int,
        ascending: bool = True,
    ) -> DataFrame:
        """Curriculum twin of ``materialize_training_shards``: shard k
        is the k-th quantile bucket of ``order_col`` (easy shards
        first), one pos-ordered file per shard — trainers stream the
        shard files in index order and see globally non-decreasing
        difficulty without the corpus ever passing through one sort
        (operators/packing.py:curriculum_shard).  Same staged
        atomic-replace landing as every full rewrite."""
        from ..operators.packing import curriculum_shard

        sharded = curriculum_shard(
            df, id_col, order_col, n_shards, ascending=ascending
        )
        self.fmt.replace_atomic(
            name, sharded.sortWithinPartitions("shard", "pos"), ("shard",)
        )
        return self.read(name)

    def retention_drop(
        self, name: str, partition_col: str, cutoff: str
    ) -> int:
        """Data retention (TimescaleDB ``drop_chunks`` /
        ``add_retention_policy``): drop every partition whose value is
        strictly below ``cutoff``.  Metadata-only — whole hive
        directories (``col=value/``) are deleted, never a rewrite, so
        the cost is per-partition not per-byte: dropping 90 old days of
        a 100 TB table is 90 directory deletes.  This is why stage
        tables partition by the day key in the first place.

        Values compare as STRINGS: day keys are fixed-width
        (``yyyyMMdd``) by design, so lexicographic == chronological;
        a non-fixed-width numeric partition scheme must not use this.
        Only a table whose TOP-level partition column is
        ``partition_col`` is accepted (anything else would need a
        recursive scan-and-rewrite — a different, data-moving
        operation).  Returns the number of partitions dropped.
        """
        layout = self._partition_columns(name)
        if not layout or layout[0] != partition_col:
            raise ValueError(
                f"retention_drop needs '{partition_col}' as the top-level "
                f"partition column; table {name} has layout {layout or None}"
            )
        return self.fmt.drop_partitions_below(name, partition_col, cutoff)

    def backfill_partitions(
        self, name: str, df: DataFrame, partition_col: str
    ) -> DataFrame:
        """Backfill: re-land a historical slice by replacing EXACTLY the
        partitions present in ``df`` (dynamic partition overwrite),
        leaving every other partition's files untouched — the
        production answer to "day 2024-03-07 was wrong, recompute it"
        on an incremental table, without disturbing the watermark or
        rewriting the other 99.9% of a 100 TB table.

        Spark's commit protocol stages each task's output and commits
        per-partition directories; unlike the staging-swap methods this
        is atomic per PARTITION, not per table — a mid-backfill crash
        can leave some days new and some old (each day internally
        consistent), so re-run the same backfill to converge.  Layout
        is validated like ``retention_drop``.
        """
        self._recover_staging(name)
        if self.exists(name):
            layout = self._partition_columns(name)
            if not layout or layout[0] != partition_col:
                raise ValueError(
                    f"backfill_partitions needs '{partition_col}' as the "
                    f"top-level partition column; table {name} has layout "
                    f"{layout or None}"
                )
        self.fmt.dynamic_partition_overwrite(name, df, partition_col)
        return self.read(name)

    def materialize_snapshot(
        self, name: str, df: DataFrame, unique_key: str, batch_ts: str
    ) -> DataFrame:
        """SCD Type-2 snapshot — the dbt ``snapshot`` materialization
        (check strategy), completing the dbt materialization family
        next to view/table/incremental/upsert: history of every value a
        key has held, as (``valid_from``, ``valid_to``) intervals with
        ``valid_to IS NULL`` marking the current row.

        Per batch: a NEW key inserts open at ``batch_ts``; a key whose
        non-key columns CHANGED (shared ``row_fingerprint`` — NULL-safe,
        separator-safe) closes its current row at ``batch_ts`` and
        inserts the new version; an unchanged key is untouched; a key
        ABSENT from the batch stays open (dbt's default — sources
        export deltas, absence is not deletion).  ``batch_ts`` is
        caller-supplied (the run's logical timestamp), never wall
        clock, so re-running a batch is deterministic — and re-running
        the SAME batch is a no-op (fingerprints match).

        Scale shape: change detection is one equi-join of the CURRENT
        rows against the batch on the key (both sides pre-hashed to one
        fingerprint column); closed history rows pass through
        untouched via the union.  One data write + the atomic staging
        swap, like every other full rewrite here.  (On a table format
        this becomes MERGE; the interval-history modeling is
        identical.)
        """
        self._recover_staging(name)

        def fp_over(frame, cols):
            # fingerprint over the UNION of data columns: a column the
            # frame lacks hashes as NULL ("N") WITHOUT being added to
            # the frame, so a batch that grows a column registers as a
            # change for every key (dbt check-all) and old stored rows
            # stay hashable; the union later fills real NULLs
            exprs = [
                F.col(c) if c in frame.columns else F.lit(None).cast("string")
                for c in cols
            ]
            return frame.withColumn("__fp", fingerprint_exprs(exprs))

        # contract guards — cheap bounded aggregates, each a real
        # corruption mode if skipped: a duplicate key would land TWO
        # open versions; an out-of-order batch_ts would write inverted
        # (valid_from > valid_to) intervals that read_asof then
        # misresolves silently
        dup = (
            df.groupBy(unique_key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"materialize_snapshot: batch has duplicate "
                f"{unique_key}={dup[0][unique_key]!r}; snapshots need one "
                "row per key per batch (dedup upstream)"
            )
        if self.exists(name):
            target = self.read(name)
            seen = target.agg(F.max("valid_from").alias("m")).first()["m"]
            if seen is not None and batch_ts < seen:
                raise ValueError(
                    f"materialize_snapshot: batch_ts {batch_ts!r} precedes "
                    f"the latest recorded valid_from {seen!r}; snapshots "
                    "must apply in non-decreasing logical time"
                )
            target, df = align_schemas(target, df)  # widen shared types
            data_cols = sorted(
                (set(df.columns) | set(target.columns))
                - {unique_key, "valid_from", "valid_to"}
            )
            batch = fp_over(df, data_cols)
            hist = target.filter(F.col("valid_to").isNotNull())
            cur = fp_over(target.filter(F.col("valid_to").isNull()), data_cols)
            probe = batch.select(
                F.col(unique_key).alias("__b_key"),
                F.col("__fp").alias("__b_fp"),
            )
            matched = cur.join(
                probe, cur[unique_key] == probe["__b_key"], "left"
            )
            # keys the batch re-delivers with different values: close
            closed = (
                matched.filter(
                    F.col("__b_key").isNotNull()
                    & (F.col("__fp") != F.col("__b_fp"))
                )
                .drop("__b_key", "__b_fp", "__fp")
                .withColumn("valid_to", F.lit(batch_ts))
            )
            # unchanged, or absent from the batch: stay open untouched
            unchanged = matched.filter(
                F.col("__b_key").isNull() | (F.col("__fp") == F.col("__b_fp"))
            ).drop("__b_key", "__b_fp", "__fp")
            # new keys, or new versions of changed keys: insert open
            cur_probe = cur.select(
                F.col(unique_key).alias("__c_key"),
                F.col("__fp").alias("__c_fp"),
            )
            incoming = (
                batch.join(
                    cur_probe, batch[unique_key] == cur_probe["__c_key"], "left"
                )
                .filter(
                    F.col("__c_key").isNull()
                    | (F.col("__fp") != F.col("__c_fp"))
                )
                .drop("__c_key", "__c_fp", "__fp")
                .withColumn("valid_from", F.lit(batch_ts))
                .withColumn("valid_to", F.lit(None).cast("string"))
            )
            # allowMissing: a grown column exists only on the batch
            # side; stored history fills it with NULL, matching the
            # fingerprint's view of those rows
            out = (
                hist.unionByName(closed, allowMissingColumns=True)
                .unionByName(unchanged, allowMissingColumns=True)
                .unionByName(incoming, allowMissingColumns=True)
            )
        else:
            out = (
                df.withColumn("valid_from", F.lit(batch_ts))
                .withColumn("valid_to", F.lit(None).cast("string"))
            )
        self.fmt.replace_atomic(name, out)
        return self.read(name)

    def read_asof(self, name: str, as_of: str) -> DataFrame:
        """Point-in-time read of an SCD-2 snapshot table: the version of
        every key that was current at ``as_of`` (``valid_from <= as_of <
        valid_to``, open intervals unbounded).  Timestamps compare as
        the same strings ``materialize_snapshot`` stored — pass the
        run's logical timestamp, not wall clock.  A plain filter: at
        scale it rides the parquet scan as pushed predicates."""
        snap = self.read(name)
        return snap.filter(
            (F.col("valid_from") <= F.lit(as_of))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(as_of)))
        ).drop("valid_from", "valid_to")

    # ------------------------------------------------------------------
    # M3 — view materialization
    # ------------------------------------------------------------------

    def materialize_view(self, name: str, df: DataFrame) -> DataFrame:
        df.createOrReplaceTempView(name.replace(".", "__"))
        return df


def fingerprint_exprs(exprs: list):
    """md5 over length-prefixed NULL-encoded column expressions — the
    collision-safe tuple fingerprint shared by the rollup syncs' group
    key and the SCD-2 snapshot's change detection.  NULL encodes as a
    token no real value maps to; length prefixes make the concatenation
    unambiguous (neither NULL-skipping nor separator containment can
    collide)."""
    parts = []
    for e in exprs:
        s = e.cast("string")
        parts.append(
            F.coalesce(
                F.concat(F.length(s).cast("string"), F.lit(":"), s),
                F.lit("N"),
            )
        )
    return F.md5(F.concat_ws("|", *parts))


def row_fingerprint(cols: list[str]):
    """``fingerprint_exprs`` over named columns."""
    return fingerprint_exprs([F.col(c) for c in cols])


def align_schemas(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Schema evolution (the dlt normalizer's type contract, SURVEY §7
    "hard parts"): shared columns are cast to the widened common type
    (int -> long -> double; anything incompatible -> string), columns
    present on only one side are filled via unionByName(allowMissing).
    """
    from pyspark.sql import types as T

    def widen(t1, t2):
        # nullability-insensitive equality: array<string> with different
        # containsNull flags is the SAME type, not a string-cast conflict
        if t1.simpleString() == t2.simpleString():
            return t1
        num_rank = {
            T.ByteType(): 0, T.ShortType(): 1, T.IntegerType(): 2,
            T.LongType(): 3, T.FloatType(): 4, T.DoubleType(): 5,
        }
        if t1 in num_rank and t2 in num_rank:
            return t1 if num_rank[t1] >= num_rank[t2] else t2
        return T.StringType()

    for name in set(a.columns) & set(b.columns):
        ta, tb = a.schema[name].dataType, b.schema[name].dataType
        if ta.simpleString() != tb.simpleString():
            w = widen(ta, tb)
            if ta.simpleString() != w.simpleString():
                a = a.withColumn(name, F.col(name).cast(w))
            if tb.simpleString() != w.simpleString():
                b = b.withColumn(name, F.col(name).cast(w))
    return a, b


def _default_for(dtype) -> object:
    """P8 — the reference's empty-target watermark defaults."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.TimestampType):
        import datetime

        return datetime.datetime.fromtimestamp(
            DEFAULT_EPOCH_WATERMARK, tz=datetime.timezone.utc
        ).replace(tzinfo=None)
    if isinstance(dtype, (T.LongType, T.IntegerType)):
        return DEFAULT_EPOCH_WATERMARK
    return DEFAULT_DATESTRING_WATERMARK


def materialize_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> DataFrame:
    """Bucketed catalog table — the co-located-join layout (SURVEY §4 /
    O3).

    Writing both sides of a recurring join bucketed (and optionally
    sorted) on the join key lets Spark plan the join with ZERO Exchange
    nodes: each bucket pairs with its counterpart directly.  This is the
    parquet equivalent of the reference's dbt-timescaledb
    ``order_by='device_id'`` physical hint (stage/*.sql:3) plus its
    hypertable chunking, and the standard answer to "this join runs
    every 15 minutes on 100 TB — stop shuffling it".

    Requires a catalog table (``saveAsTable``); plain ``.parquet(path)``
    writes cannot carry bucket metadata.
    """
    # drop any previous incarnation — a fresh in-memory catalog does not
    # know about a leftover managed-table directory from an earlier
    # session, and saveAsTable refuses to reuse the location
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    loc = join_uri(
        spark.conf.get("spark.sql.warehouse.dir"), table_name.lower()
    )
    HadoopFS(spark).delete(loc)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)
    return spark.table(table_name)


def materialize_replace(
    wh: "Warehouse", name: str, df: DataFrame, partition_by: tuple[str, ...] = ()
) -> DataFrame:
    """S12 'replace' write disposition — full refresh (dlt
    write_disposition='replace', dlt_sources/mongodb/__init__.py:61-67):
    drop whatever the target holds and rewrite it from this batch.

    Staged like upsert/compact: the batch lands in ``__staging`` first,
    then swaps in.  A death mid-swap leaves a committed staging copy
    next to a missing/uncommitted target, which ``_recover_staging``
    (run by every read) restores — an in-place overwrite would instead
    leave a silently readable half-table."""
    wh.fmt.replace_atomic(name, df, partition_by)
    return wh.read(name)

"""Pipeline orchestration — the Airflow DAGs collapsed into one engine.

Reference lifecycle (SURVEY §3): a 15-minute master DAG triggers
extract→load (dlt) then stage transforms (dbt), with daily/weekly/
monthly aggregate DAGs fanning out [sleeps, steps] >> summary
(iot_master_dag.py:42-71, iot_dwh_agg_transform_daily.py:84-88).

Here the DAG is plain function composition: ``sync()`` is one
micro-batch (extract → raw → stage), ``aggregate(freq)`` runs the
fan-out/fan-in trio, ``build_views()`` registers the examples layer.
Within one Spark action the "fan-out" is free — lazy evaluation shares
the stage scans; across runs, incremental materialization keeps each
step a delta."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.flatten import flatten_document_table
from ..sources.ingest import (
    IncrementalCursor,
    dedup_by_pk,
    read_documents,
    reconcile_schema_drift,
)
from .materialize import Warehouse
from .models import AGG_MODELS, EXAMPLE_VIEWS, STAGE_MODELS

COLLECTIONS = ("users", "heart_rates", "sleeps", "steps")


def list_raw_tables(wh: Warehouse) -> list[str]:
    """Raw-layer table names via the format's catalog verb — never a raw
    directory walk: a walk would list staging leftovers (parquet format)
    or orphan dirs from an aborted transaction (catalog format), and the
    stale-child delete sweep would then crash on a name that is not a
    committed table."""
    return [
        n.split(".", 1)[1] for n in wh.tables() if n.startswith("raw.")
    ]


def root_key_merge(wh: Warehouse, collection: str, tables: dict) -> None:
    """dlt's root-key merge, shared by the batch and streaming document
    syncs so the two paths can never diverge: a re-extracted document
    replaces ALL its child rows.  The delete set for every child table
    is the PARENT batch's document ids — not the keys present in the
    child batch: an array that shrank to EMPTY (or whose field vanished
    from the re-extracted doc) contributes no child rows, so deriving
    deletes from the child batch would leave its stale rows behind
    forever.  Child tables that exist in the warehouse but got NO rows
    at all from this batch still owe deletes for re-extracted parents.

    Crash model: each per-table upsert is individually atomic, but the
    MERGE spans tables.  On a format offering multi-table transactions
    (``CatalogManifestFormat.transaction`` — one catalog flip commits
    parent and children together) the merge is SNAPSHOT-atomic: a death
    anywhere leaves every table at the old state, with no reader-
    visible skew — pinned by
    tests/test_manifest_format.py::test_root_key_merge_is_cross_table_atomic.
    On formats without one (staging-swap parquet, plain ManifestFormat)
    the contract falls back to the Airflow/dlt one the reference also
    relies on: the failed run is RETRIED with the same batch (T6), and
    every step here is idempotent on re-run (same-key upserts, same
    delete set), so the retry converges to the clean-run state — pinned
    by tests/test_pipeline.py::test_root_key_merge_retry_converges —
    but a reader BETWEEN the crash and the retry can see the parent new
    and a child stale.
    """
    import contextlib

    # no distinct(): the merges only semi/anti-join the delete set,
    # and those joins ignore duplicate keys
    parent_keys = tables[collection].select(
        F.col("_dlt_id").alias("_dlt_root_id")
    )
    # dlt's inferred-schema evolution (r15): a drifted batch
    # widens/variants instead of refusing; parent and children
    # reconcile with the same rules so they evolve together.
    # Reconcile ALL tables BEFORE the first upsert: an incompatible
    # child drift refuses on every retry (unlike a crash), so a
    # mid-loop refusal on a non-transactional format would leave the
    # parent upserted and the child PERMANENTLY stale — validating
    # up front keeps the refusal all-or-nothing on both formats
    # (review r15).
    tables = {
        name: reconcile_schema_drift(wh, f"raw.{name}", df)
        for name, df in tables.items()
    }
    tx = getattr(wh.fmt, "transaction", None)
    with tx() if tx is not None else contextlib.nullcontext():
        for name, df in tables.items():
            if name == collection:
                wh.materialize_upsert(f"raw.{name}", df, "_dlt_id")
            else:
                wh.materialize_upsert(
                    f"raw.{name}", df, "_dlt_root_id", delete_keys=parent_keys
                )
        for raw_name in list_raw_tables(wh):
            if raw_name.startswith(f"{collection}__") and raw_name not in tables:
                wh.materialize_delete(f"raw.{raw_name}", parent_keys, "_dlt_root_id")


class HealthPipeline:
    """End-to-end equivalent of the reference deployment."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        run_log: bool = False,
        maintained_rollups: bool = False,
        table_format=None,
    ):
        """``table_format`` (a ``TableFormat`` instance) swaps the
        warehouse storage under the WHOLE pipeline — raw, stage, agg and
        the maintained rollup all ride the same format (the e2e seam
        proof: tests/test_manifest_format.py runs the full fixture
        pipeline on ManifestFormat).

        Production configuration for the 15-minute sync at scale:
        ``CatalogManifestFormat(spark, root,
        stats_cols=("_dlt_id", "_dlt_root_id"), cluster_by="_dlt_id")``
        — the stats make every root-key merge STATS-BOUNDED (untouched
        files carry by identity) and cluster-on-compact keeps the
        random dlt hash keys convergent to near-disjoint per-file
        ranges so that pruning actually bites (r10; see
        ``TableFormat.merge`` / ``ManifestFormat.maybe_compact``)."""
        from .runlog import RunLog

        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root, table_format=table_format)
        self.run_log = RunLog(self.wh) if run_log else None
        # T5 through the maintained-rollup path: the reference refreshes
        # its daily steps aggregate on a schedule by RECOMPUTING from
        # stage (dags/iot_dwh_agg_transform_daily.py:75) — cost grows
        # with history.  With maintained_rollups=True, sync() also
        # merges each batch's strictly-new steps into a stored
        # continuous aggregate (IncrementalAggSync): per-sync cost is
        # O(batch + touched groups), and the rollup equals the
        # recompute at every point (pinned by the pipeline test).
        self.steps_rollup = (
            IncrementalAggSync(
                spark,
                warehouse_root,
                "agg.daily_steps_rollup",
                group_cols=("day", "device_id"),
                sum_cols=("step_count",),
                watermark_col="created_at",
                table_format=table_format,
            )
            if maintained_rollups
            else None
        )

    # -- extract + normalize -> raw (§3.1) ------------------------------

    def sync(
        self,
        source_paths: dict[str, str],
        run_id: str = "manual",
        max_workers: int = 1,
    ) -> None:
        """One micro-batch: per collection, incremental-filter (S9),
        pk-dedup (T8), flatten (S10), append to raw, commit cursor
        (T7).  With ``run_log=True`` each collection's extract is timed
        + counted into ``meta.run_log`` (the Airflow task-instance /
        dlt load_info surface), failures recorded then re-raised.

        T3: ``max_workers > 1`` submits the per-collection syncs from a
        small thread pool — the reference fans extract into one Airflow
        task per collection (``decompose='parallel'``,
        dags/iot_mongo_extract_to_dwh.py:98-105); Spark's scheduler is
        thread-safe and collections are ISOLATED by construction
        (per-collection cursors, collection-prefixed raw/child tables,
        a per-thread ``writer_copy`` of transactional formats, and
        lock-serialized run-log appends).  On a shared cluster the
        overlap hides per-collection I/O stalls; results are identical
        to the sequential path (pinned by
        tests/test_pipeline.py::test_parallel_sync_equals_sequential).
        Every worker's failure is surfaced: the first exception
        re-raises after all workers finish (matching Airflow's
        fail-the-run-after-all-tasks semantics)."""
        items = list(source_paths.items())
        if max_workers <= 1 or len(items) <= 1:
            for coll, path in items:
                self._sync_step(run_id, coll, path, self.wh)
            return
        from concurrent.futures import ThreadPoolExecutor

        def worker(coll: str, path: str) -> None:
            wh = Warehouse(
                self.spark, self.wh.root, table_format=self.wh.fmt.writer_copy()
            )
            self._sync_step(run_id, coll, path, wh)

        with ThreadPoolExecutor(
            max_workers=min(max_workers, len(items))
        ) as pool:
            futures = {
                pool.submit(worker, coll, path): coll for coll, path in items
            }
            errors = []
            for fut, coll in futures.items():
                try:
                    fut.result()
                except Exception as e:  # noqa: BLE001 — gathered, re-raised
                    errors.append((coll, e))
        if errors:
            raise RuntimeError(
                f"{len(errors)} collection sync(s) failed: "
                f"{[c for c, _ in errors]}"
            ) from errors[0][1]

    def _sync_step(
        self, run_id: str, coll: str, path: str, wh: Warehouse
    ) -> None:
        if self.run_log is not None:
            with self.run_log.step(run_id, f"extract.{coll}") as info:
                info["rows_out"] = self._sync_one(
                    coll, path, wh, want_count=True
                )
        else:
            # row counting costs one job per collection; skip it when
            # no run log records it (r15 optimization round)
            self._sync_one(coll, path, wh)

    def _sync_one(
        self,
        coll: str,
        path: str,
        wh: Warehouse | None = None,
        want_count: bool = False,
    ) -> int | None:
        wh = wh or self.wh
        docs = read_documents(self.spark, path)
        cursor = IncrementalCursor(
            self.spark, wh.root, coll, "created_at"
        )
        lv = cursor.last_value()
        # localCheckpoint = the batch SNAPSHOT: every flattened
        # table's upsert reads ONE materialized extract instead of
        # re-scanning the live source per action (3+ scans per
        # collection otherwise).  The same pass observes the batch's
        # max cursor value and row count, so the cursor commit, the
        # rollup batch id and the run-log count cost no job — and,
        # like dlt's cursor protocol, the committed watermark is
        # derived from the rows actually loaded, so a source file
        # rewritten mid-sync cannot advance the cursor past unloaded
        # documents.
        obs = Observation()
        fresh = dedup_by_pk(
            cursor.filter(docs, lv=lv), pk="_id"
        ).observe(
            obs,
            F.max(cursor.cursor_field).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        ).localCheckpoint()
        batch_max = obs.get["mx"]
        tables = flatten_document_table(fresh, coll, primary_key="_id")
        root_key_merge(wh, coll, tables)
        if self.steps_rollup is not None and coll == "steps":
            # BEFORE the cursor commit: a crash between rollup merge and
            # commit retries the whole batch, and the rollup's batch-id
            # cursor makes the re-merge a no-op (see _sync_steps_rollup)
            self._sync_steps_rollup(tables, lv, batch_max)
        cursor.commit(batch_max)
        return obs.get["n"] if want_count else None

    def _sync_steps_rollup(self, tables: dict, lv, batch_max) -> None:
        """Continuous-aggregate refresh riding the sync cadence: the
        strictly-new slice of this batch's flattened steps tables is
        stage-transformed and MERGED into the stored daily rollup.

        Disjointness: the cursor's ``>=`` re-reads boundary docs; the
        strict ``> lv`` filter here excludes them (already merged by the
        previous sync).  Exactly-once across sync RETRIES: the batch's
        max raw ``created_at`` is a monotone batch id committed
        atomically with the merged data — a retried batch
        re-delivering the SAME rows carries the same id and no-ops.
        ``batch_max`` is that id, observed by the caller on the pass
        that materialized the batch: it is the id of the strictly-new
        slice when it exceeds both ``lv`` and the committed id, and
        otherwise the batch holds nothing new.  A
        retry is NOT guaranteed byte-identical, though: a crash between
        the rollup merge and the cursor commit re-extracts the batch,
        and newly arrived docs raise max(created_at) so the id check
        alone would re-merge the already-applied slice (double count).
        Hence the second filter below: rows at or below the rollup's
        COMMITTED batch id are excluded regardless of batch content —
        only the genuinely-new tail merges, under its new id (pinned by
        tests/test_pipeline.py::
        test_maintained_rollup_retry_with_new_arrivals_no_double_count).
        Insert-only contract: like any additive rollup, in-place
        UPDATES to already-merged docs are not re-reflected (raw/stage
        handle those via upsert; a modified history needs a rollup
        rebuild from stage)."""
        parent, child = tables.get("steps"), tables.get("steps__metrics")
        if parent is None or child is None:
            return
        meta = self.steps_rollup._meta_state()
        floors = [b for b in (lv, meta[0]) if b is not None]
        if batch_max is None or any(batch_max <= b for b in floors):
            return  # boundary-only re-read: nothing strictly new
        for b in floors:
            parent = parent.filter(F.col("created_at") > F.lit(b))
        delta = STAGE_MODELS["stage.steps"][0](
            {"steps": parent, "steps__metrics": child}
        )
        self.steps_rollup.sync(delta, batch_id=int(batch_max), _meta=meta)

    def daily_steps_rollup(self) -> DataFrame:
        """``agg.daily_steps`` served from the MAINTAINED rollup — same
        columns and values as the scheduled recompute (pipeline test
        pins the equality), without rescanning stage history."""
        return self.steps_rollup.read().select(
            "day",
            "device_id",
            F.col("sum_step_count").alias("step_count"),
        )

    def weekly_steps_rollup(self) -> DataFrame:
        """``agg.weekly_steps`` served from the maintained DAILY rollup
        — a pure regrain, no stage rescan.  Valid because stage.steps
        derives day, month AND the weekly bucket from the SAME event
        timestamp (models.py stage_steps, quirk §2.9.1 resolution), so
        ``week = date_trunc('week', day)`` exactly reproduces
        ``week_bucket(created_at)``; additivity of SUM does the rest.
        The reference recomputes this from stage every weekly DAG run
        (dags/iot_dwh_agg_transform_weekly.py:74) — O(history) per
        refresh vs O(stored groups) here."""
        wk = F.date_trunc("week", F.to_date("day", "yyyyMMdd"))
        return self.steps_rollup.regrain(
            {"week": wk, "device_id": F.col("device_id")}
        ).select("week", "device_id", F.col("sum_step_count").alias("step_count"))

    def monthly_steps_rollup(self) -> DataFrame:
        """``agg.monthly_steps`` from the daily rollup: the month key is
        a PREFIX of the day key (yyyyMM of yyyyMMdd) — the cheapest
        possible regrain (dags/iot_dwh_agg_transform_monthly.py:77 is
        the recompute it replaces).

        The sleeps family does NOT regrain, by design: daily_sleeps is
        AVG(bpm) behind an existence join against sleeps on (device_id,
        day), while weekly/monthly sleeps skip that join entirely
        (reference quirk §2.9.3) — the grains aggregate DIFFERENT row
        sets, so no coarser grain is a function of the daily one.  A
        maintained weekly/monthly sleeps would be its own
        IncrementalAggSync over the heart-rate batches (sum+count make
        AVG mergeable); the summary joins compose from the per-grain
        steps/sleeps outputs either way.  They stay on the scheduled
        recompute path here, matching the reference cadence."""
        return self.steps_rollup.regrain(
            {"month": F.substring("day", 1, 6), "device_id": F.col("device_id")}
        ).select("month", "device_id", F.col("sum_step_count").alias("step_count"))

    def daily_steps_realtime(self) -> DataFrame:
        """Real-time continuous aggregate (Timescale's
        ``materialized_only = false``): the stored rollup merged on the
        fly with staged facts past the materialized watermark — fresh
        answers mid-cadence, nothing written."""
        facts = self.wh.read("stage.steps")
        return self.steps_rollup.read_realtime_auto(facts).select(
            "day",
            "device_id",
            F.col("sum_step_count").alias("step_count"),
        )

    # -- stage transforms (§3.2) ----------------------------------------

    def run_stage(self) -> None:
        raw = {
            name: self.wh.read(f"raw.{name}")
            for name in self._raw_tables()
        }
        for name, (builder, cfg) in STAGE_MODELS.items():
            df = builder(raw)
            if cfg.get("mode") == "upsert":
                self.wh.materialize_upsert(name, df, cfg["unique_key"])
            else:
                self.wh.materialize_incremental(
                    name,
                    df,
                    watermark_col=cfg.get("watermark"),
                    partition_by=cfg.get("partition_by", ()),
                    sort_within=cfg.get("sort_within"),
                )

    # -- aggregate DAGs (§3.3) ------------------------------------------

    def aggregate(self, freq: str) -> None:
        """[sleeps, steps] >> summary (T4 fan-out/fan-in)."""
        models = AGG_MODELS[freq]
        ctx = {
            f"stage.{n}": self.wh.read(f"stage.{n}")
            for n in ("users", "heart_rates", "steps", "sleeps")
        }
        ordered = sorted(models.items(), key=lambda kv: kv[0].endswith("_summary"))
        for name, (builder, cfg) in ordered:
            df = builder(ctx)
            out = self.wh.materialize_incremental(
                name, df, watermark_col=cfg.get("watermark")
            )
            ctx[name] = out

    def build_views(self) -> dict[str, DataFrame]:
        ctx = {
            "stage.users": self.wh.read("stage.users"),
            "agg.daily_steps": self.wh.read("agg.daily_steps"),
            "agg.daily_summary": self.wh.read("agg.daily_summary"),
            "agg.monthly_summary": self.wh.read("agg.monthly_summary"),
        }
        return {
            name: self.wh.materialize_view(name, fn(ctx))
            for name, fn in EXAMPLE_VIEWS.items()
        }

    def run_all(self, source_paths: dict[str, str]) -> None:
        self.sync(source_paths)
        self.run_stage()
        for freq in ("daily", "weekly", "monthly"):
            self.aggregate(freq)
        self.build_views()

    def validate(self) -> dict[str, str]:
        """M5 — compile-then-run gating (the reference runs ``dbt
        compile`` before every ``dbt run``, iot_dwh_stage_tranform.py:
        88-91).  Builds every model's logical plan and forces analysis
        WITHOUT executing: schema/reference errors surface here, before
        any data is written.  Returns {model: analyzed-schema DDL}."""
        raw = {name: self.wh.read(f"raw.{name}") for name in self._raw_tables()}
        out: dict[str, str] = {}
        for name, (builder, _cfg) in STAGE_MODELS.items():
            out[name] = builder(raw).schema.simpleString()
        ctx = {
            f"stage.{n}": self.wh.read(f"stage.{n}")
            for n in ("users", "heart_rates", "steps", "sleeps")
            if self.wh.exists(f"stage.{n}")
        }
        for freq_models in AGG_MODELS.values():
            for name, (builder, _cfg) in freq_models.items():
                try:
                    df = builder(ctx)
                except KeyError:
                    continue  # upstream agg not materialized yet
                out[name] = df.schema.simpleString()
                ctx[name] = df
        return out

    def check_quality(self) -> dict[str, int]:
        """Post-stage data-quality gate (the dbt-test surface the
        reference left empty, SURVEY §5): returns violation counts —
        all zero on healthy data."""
        from ..operators.quality_checks import (
            check_not_null,
            check_relationship,
            check_unique,
            run_checks,
        )

        users = self.wh.read("stage.users")
        hr = self.wh.read("stage.heart_rates")
        devices = users.select(F.explode("devices").alias("device_id"))
        return run_checks(
            {
                "users.user_id.not_null": check_not_null(users, ["user_id"]),
                "users.user_id.unique": check_unique(users, ["user_id"]),
                "heart_rates.keys.not_null": check_not_null(
                    hr, ["device_id", "created_at"]
                ),
                "heart_rates.device.known": check_relationship(
                    hr, "device_id", devices, "device_id"
                ),
            }
        )

    def _raw_tables(self) -> list[str]:
        return list_raw_tables(self.wh)


class IncrementalDedupSync:
    """Batch-vs-corpus near-dup detection with a PERSISTED signature
    table — the production shape of dedup at 100 TB, wired end-to-end.

    The corpus MinHash signature table (|corpus| × k hashes, the cheap
    tier) lives in the warehouse like any other incremental artifact;
    each ``sync(batch)`` LSH-checks only the new batch against it
    (``incremental_lsh_candidates`` — O(batch × bucket occupancy), the
    corpus never self-joins) and then appends the batch's signatures.
    The dedup analog of the document pipeline's T7 cursor: per-ingest
    work is bounded by the batch, state is a warehouse table.

    ``sync`` returns the candidate pairs MATERIALIZED
    (``localCheckpoint``): the pair set is bounded (near-dup candidates,
    not the corpus) and must be pinned before the signature append —
    a lazy plan re-listing the signature table after the append would
    see the batch's own rows on the corpus side and double-emit
    new-vs-new pairs.
    """

    SIG_TABLE = "dedup.signatures"

    def __init__(
        self, spark: SparkSession, warehouse_root: str, k: int = 8, bands: int = 4
    ):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self.k = k
        self.bands = bands

    def sync(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        on_redelivery: str = "raise",
    ) -> DataFrame:
        """One ingest batch -> candidate near-dup pairs touching it.

        First batch: plain LSH self-join (new-vs-new).  Later batches:
        incremental batch-vs-corpus.

        ``on_redelivery`` is the replay policy for ids already present
        in the corpus table:

        - ``"raise"`` (default, the batch-cursor contract): the
          overlapping-id guard aborts loudly — a re-ingested id under
          the plain incremental join would silently suppress its own
          pairs.
        - ``"recover"`` (for at-least-once callers — foreachBatch): the
          batch's own ids are EXCLUDED from the corpus side first, so a
          replayed batch recomputes exactly its original candidate
          pairs instead of wedging, and only genuinely-new signatures
          are appended.  A replay after a partial prior run is then a
          clean re-run, not a poison pill.
        """
        from ..operators.dedup import (
            incremental_lsh_candidates,
            lsh_candidate_pairs,
            minhash_signature,
            word_shingles,
        )

        new_sig = minhash_signature(
            word_shingles(docs, id_col, text_col, n=3), id_col, k=self.k
        ).localCheckpoint()
        to_append = new_sig
        if self.wh.exists(self.SIG_TABLE):
            stored = self.wh.read(self.SIG_TABLE)
            if on_redelivery == "recover":
                # a true foreachBatch replay re-delivers IDENTICAL
                # content; an already-present id whose signature
                # CHANGED is a content re-ingest this layer cannot
                # merge (the stale signature would shadow the new text
                # forever) — that still aborts loudly
                sig_cols = [c for c in new_sig.columns if c != id_col]
                changed = (
                    new_sig.alias("n")
                    .join(stored.alias("o"), id_col)
                    .filter(
                        ~F.expr(
                            " AND ".join(
                                f"n.{c} <=> o.{c}" for c in sig_cols
                            )
                        )
                    )
                )
                n_changed = changed.count()
                if n_changed:
                    raise ValueError(
                        f"{n_changed} re-delivered id(s) have CHANGED "
                        "signatures — content re-ingest, not a replay; "
                        "recover mode cannot merge it"
                    )
                corpus_side = stored.join(
                    new_sig.select(id_col), id_col, "left_anti"
                )
                to_append = new_sig.join(
                    stored.select(id_col), id_col, "left_anti"
                )
                # ids were just excluded -> the overlap guard can never
                # fire; skip its batch-vs-corpus collect
                pairs = incremental_lsh_candidates(
                    corpus_side, new_sig, id_col,
                    k=self.k, bands=self.bands, validate_ids=False,
                )
            else:
                pairs = incremental_lsh_candidates(
                    stored, new_sig, id_col,
                    k=self.k, bands=self.bands, validate_ids=True,
                )
        else:
            pairs = lsh_candidate_pairs(new_sig, id_col, k=self.k, bands=self.bands)
        pairs = pairs.localCheckpoint()  # pin BEFORE the append (see class doc)
        # append is pinned too: in recover mode its anti-join reads the
        # signature table, and appending through a lazy plan that lists
        # the same table it writes would race its own output files
        to_append = to_append.localCheckpoint()
        self.wh.materialize_incremental(self.SIG_TABLE, to_append)
        return pairs


def with_retries(fn, attempts: int = 3, delay_s: float = 0.0):
    """T6 — the reference's task retry policy (retries=3, 5-min delay,
    iot_mongo_extract_to_dwh.py:42-51) as an app-level wrapper; Spark's
    own task retries (spark.task.maxFailures) cover executor faults,
    this covers driver-visible batch failures."""
    import time

    last = None
    for i in range(attempts):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            last = e
            if i < attempts - 1 and delay_s:
                time.sleep(delay_s)
    raise last


def agg_group_key(group_cols: list[str]):
    """Rollup storage key — the shared length-prefixed NULL-encoded md5
    fingerprint (``materialize.row_fingerprint``) over the group
    columns; one implementation so the rollup key and the SCD-2 change
    hash can never diverge on encoding."""
    from .materialize import row_fingerprint

    return row_fingerprint(group_cols)


class _RollupSyncBase:
    """Shared machinery for incremental rollup maintenance: a stored
    per-group state table that fact batches MERGE into — never a
    recompute from history.  Subclasses define what the per-group state
    is (additive sums, HLL sketches, ...) via ``_partial`` and
    ``_merge_metric``; this base owns the storage key, the
    exactly-once cursor, and the one-write upsert.

    Caller contract: batches must be DISJOINT fact sets (each event
    delivered exactly once — the streaming checkpoint or the
    strict-``>`` watermark upstream provides this).  For callers that
    can only offer at-least-once delivery with a monotonically
    increasing batch id (Structured Streaming's ``foreachBatch``), pass
    ``batch_id`` to ``sync``: a replayed batch is detected and skipped.

    Exactly-once cursor: the applied batch id and the materialized
    watermark commit in the SAME atomic write as the merged state (the
    Structured Streaming design: the epoch id commits with an
    idempotent sink).  Each format holds them one way:

    - commit-log formats (``ManifestFormat``, ``CatalogManifestFormat``):
      two keys of the state table's manifest ``txn`` map
      (``_TXN_BATCH_ID``, ``_TXN_WATERMARK``), written by the merge's
      own commit (``txn_update``), as the ANN index and
      ``write_streaming_batch`` do.  Reading them parses the head
      manifest: zero Spark jobs and no cache, so every writer's commit
      is visible to the next read.  Threshold compaction carries the
      map; a full-table replace resets it (the replace contract).
    - ``ParquetFormat`` (no commit log): a ``__meta__`` sentinel row in
      the same staging swap as the data; reading it costs one job.

    Storage-format notes.  Neither change below has a silent
    migration: rebuild the rollup from facts once.

    - The group key is md5 over length-prefixed NULL-encoded components
      (v2, round-5 review).  A rollup table written by the earlier
      ``concat_ws`` key format cannot be merged into — its keys match
      nothing.
    - A manifest-backed state table written while the cursor was still
      a ``__meta__`` row has no ``txn`` cursor, so it reads as never
      synced.
    """

    _META_KEY = "__meta__"
    _TXN_BATCH_ID = "rollup.batch_id"
    _TXN_WATERMARK = "rollup.watermark"

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        table_name: str,
        group_cols: tuple[str, ...],
        watermark_col: str | None = None,
        table_format=None,
    ):
        from .materialize import Warehouse

        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root, table_format=table_format)
        self.table_name = table_name
        self.group_cols = list(group_cols)
        self.watermark_col = watermark_col
        self._metrics: list[str] = []  # set by subclass __init__

    def _key(self):
        return agg_group_key(self.group_cols)

    def _partial(self, batch: DataFrame) -> DataFrame:
        """Per-group state of ONE batch, keyed by ``__agg_key``."""
        raise NotImplementedError

    def _merge_metric(self, m: str):
        """Column merging ``m`` (the batch side) with ``__old_<m>`` (the
        stored side), aliased back to ``m``."""
        raise NotImplementedError

    def _meta_state(self):
        """``(applied_batch_id, stored_watermark)``: the head manifest's
        ``txn`` keys on commit-log formats (zero jobs), else the
        ``__meta__`` row in one bounded job (see the class docstring)."""
        from pyspark.sql import functions as F

        man = getattr(self.wh.fmt, "_manifest", None)
        if man is not None:
            m = man(self.table_name, resolve=False, expand_lists=False)
            txn = (m or {}).get("txn") or {}
            return txn.get(self._TXN_BATCH_ID), txn.get(self._TXN_WATERMARK)
        if not self.wh.exists(self.table_name):
            return None, None
        stored = self.wh.read(self.table_name)
        has_id = "__last_batch_id" in stored.columns
        has_wm = "__watermark" in stored.columns
        if not has_id and not has_wm:  # batch-only history
            return None, None
        row = (
            stored.filter(F.col("__agg_key") == self._META_KEY)
            .select(
                (
                    F.col("__last_batch_id")
                    if has_id
                    else F.lit(None).cast("long")
                ).alias("__last_batch_id"),
                (
                    F.col("__watermark")
                    if has_wm
                    else F.lit(None).cast("string")
                ).alias("__watermark"),
            )
            .first()
        )
        if row is None:
            return None, None
        return row["__last_batch_id"], row["__watermark"]

    def _applied_batch_id(self):
        return self._meta_state()[0]

    def sync_from_changes(self, fmt, source_table: str) -> DataFrame:
        """Maintain this rollup FROM a commit-log table's change feed
        (``ManifestFormat.read_changes``) — the two halves of the
        incremental story joined: the storage layer hands over exactly
        the rows appended since the last synced manifest version, and
        the rollup merges only those.  The source's manifest version IS
        the batch id (monotone ints, committed atomically with the
        merged state), so a crashed-and-retried sync
        re-reads the identical delta and no-ops — exactly-once with no
        extra cursor table.  First call bootstraps from a full read.
        A feed refusal (history rewritten / compaction mixed the delta,
        see ``read_changes``) propagates loudly: an additive rollup
        cannot absorb a rewrite — rebuild it from a full read."""
        m = fmt._manifest(source_table)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest for table {source_table}"
            )
        cur = int(m["version"])
        meta = self._meta_state()
        applied = meta[0]
        if applied is not None and cur == int(applied):
            return self.read()  # nothing committed since the last sync
        if applied is None:
            delta = fmt.read(source_table)  # bootstrap
        else:
            delta = fmt.read_changes(source_table, int(applied), cur)
        return self.sync(delta, batch_id=cur, _meta=meta)

    #: whether this rollup's state forms a GROUP (retractable): the
    #: stream can then absorb update/delete change rows as signed
    #: facts.  Sketch states (HLL registers, bin counts, CMS cells)
    #: are semigroups only — a retraction is impossible, so their
    #: streams accept INSERT-only feeds and refuse anything else.
    _STREAM_RETRACTS = False

    def maintain_stream(
        self,
        fmt,
        source_table: str,
        checkpoint: str,
        max_versions_per_batch: int = 0,
        available_now: bool = True,
        catalog: bool | None = None,
    ):
        """CONTINUOUS rollup maintenance for the WHOLE family (r15,
        VERDICT r14 task 4 — previously only ``IncrementalAggSync``
        had a streaming twin): ride the ``warehouse_cdf`` readStream
        source instead of batch-polling.  Each micro-batch merges
        under the batch's max ``_commit_version`` as the batch id, so
        the polling and streaming cadences share ONE cursor and an
        engine-checkpoint loss replays harmlessly (``vmax <= applied``
        skips).  A batch that PARTIALLY overlaps the applied cursor
        (a checkpoint from a different stream) refuses loudly —
        version-aligned batches from this method's own checkpoints
        never produce one.

        Retractable rollups (``_STREAM_RETRACTS``, the additive
        ``IncrementalAggSync``) turn change rows into SIGNED facts
        (retract-stream semantics, as in ``sync_from_cdf``) and so
        absorb upserting sources.  Sketch rollups (HLL/histogram/CMS
        state is a semigroup — union/addition only, no inverse)
        accept INSERT-only feeds and refuse on the first
        delete/update change row, exactly where their batch path
        ``sync_from_changes`` refuses on a rewrite — rebuild from a
        full read rather than silently under-counting.

        Requires a bootstrapped rollup (one ``sync_from_changes`` /
        ``sync_from_cdf`` first — the stream starts at the applied
        cursor).  Returns the ``StreamingQuery``."""
        from pyspark.sql import functions as F

        from ..streaming.cdf_source import register_cdf_source

        applied = self._applied_batch_id()
        if applied is None:
            raise ValueError(
                "maintain_stream requires a bootstrapped rollup — run "
                "sync_from_changes / sync_from_cdf once so the stream "
                "has a starting version (the applied cursor)"
            )
        register_cdf_source(self.spark)
        if catalog is None:
            catalog = hasattr(fmt, "_catalog_path")
        reader = (
            self.spark.readStream.format("warehouse_cdf")
            .option("root", fmt.root)
            .option("table", source_table)
            .option("catalog", str(bool(catalog)).lower())
            .option("starting_version", str(int(applied)))
        )
        if max_versions_per_batch:
            reader = reader.option(
                "max_versions_per_batch", str(int(max_versions_per_batch))
            ).option(
                # restart backpressure (r15): the reader's own planned-
                # version hint, paired with this stream's checkpoint,
                # keeps a post-restart backlog paged in capped batches
                "progress_dir",
                checkpoint.rstrip("/") + "_cdf_progress",
            )

        def apply_batch(batch_df, _engine_batch_id):
            # pin the micro-batch: the metadata aggregate and the
            # delta's merge evaluations each re-drive the Arrow CDF
            # read otherwise (one python-worker parquet pass per
            # evaluation; r15 optimization round)
            batch_df = batch_df.persist()
            try:
                self._apply_stream_batch(batch_df, source_table)
            finally:
                batch_df.unpersist()

        writer = (
            reader.load()
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _apply_stream_batch(self, batch_df, source_table: str) -> None:
        """One ``maintain_stream`` micro-batch against the rollup —
        ``batch_df`` arrives persisted (the caller unpersists).  The
        cursor is read afresh per trigger (zero jobs on commit-log
        formats), so a foreign writer's commit between triggers is
        always seen."""
        from pyspark.sql import functions as F

        # ONE evaluation for all per-batch metadata: version span
        # plus (sketch path) the distinct change classes — a
        # separate distinct().collect() would re-run the Arrow
        # scan a third time per trigger (review r15)
        agg = batch_df.agg(
            F.max("_commit_version"),
            F.min("_commit_version"),
            F.collect_set("_change_type"),
        ).first()
        vmax, vmin, kinds = agg[0], agg[1], set(agg[2] or [])
        if vmax is None:
            return  # empty micro-batch: state untouched
        meta = self._meta_state()
        cur = meta[0]
        if cur is not None and int(vmax) <= int(cur):
            return  # engine-checkpoint replay: already absorbed
        if cur is not None and int(vmin) <= int(cur):
            raise ValueError(
                f"micro-batch spans versions ({vmin}, {vmax}] but "
                f"the rollup cursor is at {cur} — a foreign/reset "
                "checkpoint would double-count; restart the stream "
                "with a fresh checkpoint (it resumes at the cursor)"
            )
        if self._STREAM_RETRACTS:
            delta = batch_df.withColumn(
                "__sign",
                F.when(
                    F.col("_change_type").isin(
                        "insert", "update_postimage"
                    ),
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            ).drop("_change_type", "_commit_version")
        else:
            if kinds - {"insert"}:
                raise ValueError(
                    f"{type(self).__name__}({self.table_name}): "
                    f"source {source_table} produced "
                    f"{sorted(kinds - {'insert'})} change rows, but "
                    "sketch state cannot retract (semigroup, no "
                    "inverse) — keep the source append-only, or "
                    "rebuild the rollup from a full read"
                )
            delta = batch_df.drop("_change_type", "_commit_version")
        self.sync(delta, batch_id=int(vmax), _meta=meta)

    def sync(
        self,
        batch: DataFrame,
        batch_id: int | None = None,
        _meta: tuple | None = None,
    ) -> DataFrame:
        """Merge one fact batch into the stored rollup; returns the
        post-merge rollup.  With ``batch_id`` (monotone), a replayed
        batch (id == the last committed id) is a no-op.  ``_meta`` is
        an internal caller hint — the ``(applied, watermark)`` pair a
        caller already fetched this cycle (``sync_from_changes`` /
        ``maintain_stream``), saving the re-fetch (a job on
        ``ParquetFormat``); callers must only pass a pair read AFTER
        their last state write."""
        from pyspark.sql import functions as F

        if _meta is None and (
            batch_id is not None or self.watermark_col is not None
        ):
            _meta = self._meta_state()
        if batch_id is not None:
            applied = _meta[0]
            if applied is not None and batch_id == applied:
                return self.read()  # foreachBatch replay of the last batch
            if applied is not None and batch_id < applied:
                # a batch id BELOW the committed one is not a replay —
                # it is a reset streaming checkpoint re-reading history
                # against a surviving rollup; silently skipping would
                # freeze the rollup and then double-count once ids pass
                # the old mark
                raise ValueError(
                    f"batch_id {batch_id} < committed {applied}: streaming "
                    "checkpoint was reset against an existing rollup — "
                    "rebuild the rollup table or restore the checkpoint"
                )
        delta = self._partial(batch)
        if self.wh.exists(self.table_name):
            prev = self.wh.read(self.table_name).select(
                "__agg_key",
                *[F.col(m).alias(f"__old_{m}") for m in self._metrics],
            )
            delta = delta.join(prev, "__agg_key", "left").select(
                "__agg_key",
                *self.group_cols,
                *[self._merge_metric(m) for m in self._metrics],
            )
        # the stats-bounded merge evaluates its source twice (the
        # materialized key pass, the final write); delta is a derived
        # agg+join bounded by TOUCHED GROUPS, so one materialization
        # beats two recomputes at any scale (r15 optimization round).  The try
        # begins HERE (ADVICE r15 #1): the watermark-type refusal and
        # the batch-watermark aggregate below must not leak the cache
        # registration.
        cached = delta = delta.persist()
        try:
            return self._sync_commit(batch, delta, batch_id, _meta)
        finally:
            cached.unpersist()

    def _sync_commit(self, batch, delta, batch_id, _meta):
        """The persist-guarded tail of :meth:`sync` (split out so the
        cache registration is released on EVERY exit path)."""
        from pyspark.sql import functions as F

        wm_new = None
        if self.watermark_col is not None:
            # one bounded driver scalar per sync — the same cost class
            # as the reference's watermark macro.  Stored as the CAST
            # string; timestamp/date strings compare lexicographically
            # == chronologically (the read_realtime_auto contract).
            # Plain numerics do NOT ("9" > "10") — reject them loudly
            # instead of silently mis-filtering the tail.
            from pyspark.sql import types as T

            wm_type = batch.schema[self.watermark_col].dataType
            if not isinstance(
                wm_type, (T.TimestampType, T.TimestampNTZType, T.DateType,
                          T.StringType)
            ):
                raise ValueError(
                    f"watermark_col '{self.watermark_col}' has type "
                    f"{wm_type.simpleString()}: string-ordered watermark "
                    "tracking supports timestamp/date/string columns only "
                    "(variable-width numeric strings do not order)"
                )
            batch_wm = batch.agg(
                F.max(F.col(self.watermark_col).cast("string"))
            ).first()[0]
            stored_wm = _meta[1] if _meta is not None else None
            wm_new = max((w for w in (batch_wm, stored_wm) if w is not None),
                         default=None)
        # the batch id + watermark commit together with the data or not
        # at all — what makes the replay check above exactly-once and
        # the materialized watermark trustworthy (class docstring)
        bid = None if batch_id is None else int(batch_id)
        txn_update = None
        if hasattr(self.wh.fmt, "_manifest"):
            txn_update = {
                k: v
                for k, v in (
                    (self._TXN_BATCH_ID, bid), (self._TXN_WATERMARK, wm_new)
                )
                if v is not None
            }
        elif bid is not None or wm_new is not None:
            from ..session import local_rows

            meta = local_rows(
                self.spark,
                [(self._META_KEY, bid, wm_new)],
                "__agg_key string, __last_batch_id long, __watermark string",
            )
            delta = delta.unionByName(meta, allowMissingColumns=True)
        self.wh.materialize_upsert(
            self.table_name, delta, unique_key="__agg_key",
            record_cdc=False,  # internal state: nobody tails it
            txn_update=txn_update,
        )
        return self.read()

    def _stored(self) -> DataFrame:
        """Stored per-group state minus the ``ParquetFormat`` meta
        sentinel and its columns."""
        from pyspark.sql import functions as F

        df = self.wh.read(self.table_name).filter(
            F.col("__agg_key") != self._META_KEY
        )
        for c in ("__last_batch_id", "__watermark"):
            if c in df.columns:
                df = df.drop(c)
        return df

    def materialized_watermark(self) -> str | None:
        """The max ``watermark_col`` value covered by the stored rollup
        (cast-string form), or None before the first tracked sync."""
        return self._meta_state()[1]

    def read_realtime_auto(self, facts: DataFrame) -> DataFrame:
        """``read_realtime`` with the tail derived from the MATERIALIZED
        WATERMARK (Timescale's real-time continuous-aggregate shape
        exactly): rows of ``facts`` strictly past the stored watermark
        are the unmaterialized tail; everything at or below it is
        already in the rollup.  Requires ``watermark_col`` tracking;
        the strict ``>`` pairs with ``sync`` recording the max so a row
        AT the watermark is never double-counted.  The filter is a
        plan-level predicate — at scale it prunes the fact scan."""
        from pyspark.sql import functions as F

        if self.watermark_col is None:
            raise ValueError(
                "read_realtime_auto needs watermark_col tracking; "
                "construct the sync with watermark_col=..."
            )
        wm = self.materialized_watermark()
        tail = (
            facts
            if wm is None
            else facts.filter(
                F.col(self.watermark_col).cast("string") > F.lit(wm)
            )
        )
        return self.read_realtime(tail)

    def _derive(self, df: DataFrame) -> DataFrame:
        """Presentation pass over (group_cols + metrics) — derived means
        / estimates; subclass-specific."""
        raise NotImplementedError

    def read(self) -> DataFrame:
        """The rollup; storage key and replay meta row stay internal."""
        return self._derive(self._stored().drop("__agg_key"))

    def read_realtime(self, tail: DataFrame) -> DataFrame:
        """Timescale REAL-TIME continuous aggregate: the stored rollup
        merged on the fly with the not-yet-materialized fact tail —
        fresh answers between refreshes, nothing written.  The tail
        aggregates map-side to one row per touched group, the merge is
        a full-outer join on the group key (stored-only groups pass
        through, tail-only groups appear), and the same presentation
        derivations apply — so ``read_realtime(tail)`` is exactly what
        ``read()`` would return after ``sync(tail)``, a property the
        tests pin.  The caller supplies the tail (facts past the last
        synced watermark), mirroring Timescale's
        materialized-watermark union."""
        from pyspark.sql import functions as F

        delta = self._partial(tail)
        if not self.wh.exists(self.table_name):
            return self._derive(delta.drop("__agg_key"))
        prev = self._stored().select(
            "__agg_key",
            *[F.col(c).alias(f"__old_{c}") for c in self.group_cols],
            *[F.col(m).alias(f"__old_{m}") for m in self._metrics],
        )
        merged = delta.join(prev, "__agg_key", "full_outer").select(
            *[
                F.coalesce(F.col(c), F.col(f"__old_{c}")).alias(c)
                for c in self.group_cols
            ],
            *[self._merge_metric(m) for m in self._metrics],
        )
        return self._derive(merged)


class IncrementalAggSync(_RollupSyncBase):
    """Incremental MAINTENANCE of a stored aggregate: each fact batch
    contributes partial sums that MERGE into the warehouse rollup by
    group key — the aggregate is never recomputed from full history.

    The reference recomputes its daily/weekly/monthly aggregates from
    the staged tables every run (aggregate DAGs, SURVEY §3.3) — fine at
    ~100 GB, cost-proportional-to-history at 100 TB.  Spark-native
    shape: additive metrics (SUM/COUNT; AVG derives as sum/count at
    read time) make the rollup a semigroup, so per-sync cost is
    O(batch + touched groups) — the batch aggregates map-side, the
    merge join touches only the batch's group keys, untouched groups
    ride ``materialize_upsert``'s anti-join untouched, and the write is
    the one-write staging swap.  Delivery/replay contract and storage
    key: see ``_RollupSyncBase``.
    """

    _STREAM_RETRACTS = True  # SUM/COUNT form a group

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        table_name: str,
        group_cols: tuple[str, ...],
        sum_cols: tuple[str, ...],
        watermark_col: str | None = None,
        table_format=None,
    ):
        super().__init__(
            spark, warehouse_root, table_name, group_cols, watermark_col,
            table_format=table_format,
        )
        self.sum_cols = list(sum_cols)
        # nn_<c> = count of NON-NULL values per sum column: the state
        # that lets a sum RETRACTED back to no-values serve NULL like a
        # recompute would (sum(+5) + sum(-5) nets 0, not NULL; nn tells
        # the two apart).  Internal — _derive drops it.
        self._metrics = (
            [f"sum_{c}" for c in self.sum_cols]
            + [f"nn_{c}" for c in self.sum_cols]
            + ["n_rows"]
        )

    def _partial(self, batch: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        if "__sign" in batch.columns:
            # SIGNED partials (the row-level change-feed path): a
            # retraction weighs -1, so sum(c * sign) nets an update to
            # postimage - preimage and a delete to -old — additive
            # sums absorb upserts exactly.  NULL values skip either
            # way (retracting a never-measured value changes nothing).
            aggs = [
                F.sum(F.col(c) * F.col("__sign")).alias(f"sum_{c}")
                for c in self.sum_cols
            ]
            aggs += [
                F.sum(
                    F.when(F.col(c).isNotNull(), F.col("__sign")).otherwise(
                        F.lit(0)
                    )
                ).alias(f"nn_{c}")
                for c in self.sum_cols
            ]
            aggs.append(F.sum("__sign").alias("n_rows"))
        else:
            # plain SUM: NULL means "no non-NULL value ever seen",
            # exactly like a full recompute — the merge below preserves
            # that (NULL + NULL = NULL) while never letting a NULL side
            # wipe a real total
            aggs = [F.sum(c).alias(f"sum_{c}") for c in self.sum_cols]
            aggs += [F.count(c).alias(f"nn_{c}") for c in self.sum_cols]
            aggs.append(F.count("*").alias("n_rows"))
        return batch.groupBy(*self.group_cols).agg(*aggs).withColumn(
            "__agg_key", self._key()
        )

    def _stored(self) -> DataFrame:
        from pyspark.sql import functions as F

        # a group whose rows fully retracted (n_rows netted to 0 via
        # the signed path) must disappear like a recompute's would; the
        # append-only path never produces 0 (counts only ever add)
        return super()._stored().filter(F.col("n_rows") != 0)

    def sync_from_cdf(self, fmt, source_table: str) -> DataFrame:
        """Maintain this ADDITIVE rollup over a source that UPSERTS —
        the reference's M2 cadence (stage.users merges every 15
        minutes), exactly where the append-only ``sync_from_changes``
        refuses.  The row-level change feed's classes become SIGNED
        facts: insert/update_postimage weigh +1, delete/
        update_preimage weigh -1, and additive sums absorb the
        retractions exactly (Flink's retract streams; only possible
        because SUM/COUNT form a GROUP, not just a semigroup — the
        sketch rollups cannot do this).  Exactly-once like
        ``sync_from_changes``: the source's manifest version is the
        batch id, committed inside the same atomic swap as the merged
        sums.  A feed refusal (replace / vacuumed range) propagates —
        rebuild from a full read."""
        from pyspark.sql import functions as F

        m = fmt._manifest(source_table)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest for table {source_table}"
            )
        cur = int(m["version"])
        meta = self._meta_state()
        applied = meta[0]
        if applied is not None and cur == int(applied):
            return self.read()
        if applied is None:
            delta = fmt.read_version(source_table, cur).withColumn(
                "__sign", F.lit(1)
            )
        else:
            feed = fmt.read_changes_cdf(source_table, int(applied), cur)
            delta = feed.withColumn(
                "__sign",
                F.when(
                    F.col("_change_type").isin(
                        "insert", "update_postimage"
                    ),
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            ).drop("_change_type", "_commit_version")
        return self.sync(delta, batch_id=cur, _meta=meta)

    def _merge_metric(self, m: str):
        from pyspark.sql import functions as F

        new, old = F.col(m), F.col(f"__old_{m}")
        # both NULL -> NULL (recompute semantics: no value ever
        # measured); otherwise NULL-safe addition
        return F.when(new.isNull() & old.isNull(), F.lit(None)).otherwise(
            F.coalesce(new, F.lit(0)) + F.coalesce(old, F.lit(0))
        ).alias(m)

    def _derive(self, df: DataFrame) -> DataFrame:
        """Means derive from sums at read time (AVG of AVGs is wrong
        under merge; sum/count is exact).  A sum whose non-null count
        netted back to ZERO (every measured value retracted via the
        signed path) serves NULL, exactly like a recompute — the
        0-vs-NULL distinction plain additive state cannot make.
        Internal ``nn_`` columns drop from the presentation."""
        from pyspark.sql import functions as F

        for c in self.sum_cols:
            nn = f"nn_{c}"
            if nn in df.columns:
                df = df.withColumn(
                    f"sum_{c}",
                    F.when(F.col(nn) == 0, F.lit(None)).otherwise(
                        F.col(f"sum_{c}")
                    ),
                ).drop(nn)
            df = df.withColumn(
                f"avg_{c}",
                F.round(F.try_divide(F.col(f"sum_{c}"), F.col("n_rows")), 6),
            )
        return df

    def regrain(self, exprs: dict) -> DataFrame:
        """Re-aggregate the STORED rollup to any coarser grain — the
        additive-sum analog of ``IncrementalDistinctSync.estimate`` /
        ``IncrementalHistSync.estimate``: each new grain column is an
        expression over the stored group columns (``{"week":
        F.date_trunc("week", ...), "device_id": F.col("device_id")}``),
        partial sums and row counts re-SUM exactly (additivity), and no
        fact table is ever rescanned.  This is how the reference's
        weekly/monthly steps cadences
        (dags/iot_dwh_agg_transform_weekly.py:74, ...monthly.py:77) are
        served from ONE maintained daily rollup: the coarser grains are
        pure functions of the day key, so the regrain touches only
        O(groups) stored rows where the scheduled recompute rescans all
        of stage history.  Only valid when the target grain IS a
        function of the stored grain — a grain needing fact-level
        detail (e.g. a different timestamp column) must maintain its
        own rollup."""
        from pyspark.sql import functions as F

        named = [v.alias(k) for k, v in exprs.items()]
        base = self._stored().select(*named, *self._metrics)
        out = base.groupBy(*exprs.keys()).agg(
            # F.sum skips NULLs and yields NULL only when every input is
            # NULL — exactly the _merge_metric semantics, re-applied
            *[F.sum(m).alias(m) for m in self._metrics]
        )
        return self._derive(out)


class IncrementalDistinctSync(_RollupSyncBase):
    """Incremental COUNT DISTINCT maintenance via mergeable HLL
    sketches (Apache DataSketches, built into Spark:
    ``hll_sketch_agg`` / ``hll_union`` / ``hll_sketch_estimate``).

    Exact distinct counting is the one aggregate that is NOT a cheap
    semigroup — the state is the value set itself, so a 100 TB
    "distinct users per day" rollup either rescans history per refresh
    or stores every user id per group.  The sketch rollup stores a
    fixed ~2^lgk-register binary per group instead: each batch
    contributes partial sketches (one hash-agg, map-side combined), the
    merge is a register-wise max (``hll_union``) against only the
    touched groups, and — the real payoff — stored sketches re-merge to
    ANY coarser grain at read time (``estimate(["day"])`` from a
    (day, event_type) table) without touching facts.  Union is
    order-independent, so merged-by-batches equals sketched-in-one-shot
    EXACTLY, a property the tests pin.  Estimates carry the usual HLL
    relative error (~1.6% at lgk=12).  ``lgk`` is part of the stored
    table's format: merging with a different lgk raises loudly inside
    ``hll_union`` (allowDifferentLgConfigK stays false on purpose) —
    rebuild the rollup rather than silently degrading to the coarser
    sketch.  Delivery/replay contract: ``_RollupSyncBase``.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        table_name: str,
        group_cols: tuple[str, ...],
        distinct_col: str,
        lgk: int = 12,
        watermark_col: str | None = None,
        table_format=None,
    ):
        super().__init__(
            spark, warehouse_root, table_name, group_cols, watermark_col,
            table_format=table_format,
        )
        self.distinct_col = distinct_col
        self.lgk = lgk
        self._metrics = ["hll"]

    def _partial(self, batch: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return batch.groupBy(*self.group_cols).agg(
            F.hll_sketch_agg(self.distinct_col, F.lit(self.lgk)).alias("hll")
        ).withColumn("__agg_key", self._key())

    def _merge_metric(self, m: str):
        from pyspark.sql import functions as F

        new, old = F.col(m), F.col(f"__old_{m}")
        return (
            F.when(new.isNull(), old)
            .when(old.isNull(), new)
            .otherwise(F.hll_union(new, old))
            .alias(m)
        )

    def _derive(self, df: DataFrame) -> DataFrame:
        """Estimates at the stored grain; sketches stay internal."""
        from pyspark.sql import functions as F

        return df.select(
            *self.group_cols,
            F.hll_sketch_estimate("hll").alias("distinct_est"),
        )

    def estimate(self, to_grain: list[str]) -> DataFrame:
        """Re-merge the STORED sketches to any coarser grain — distinct
        counts at (e.g.) event_type level from a (event_type, day)
        rollup, no fact scan, no double counting across days."""
        from pyspark.sql import functions as F

        return self._stored().groupBy(*to_grain).agg(
            F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("distinct_est")
        )


class IncrementalHistSync(_RollupSyncBase):
    """Incremental QUANTILE maintenance via mergeable fixed-bin
    histogram sketches — the third member of the sketch-rollup family
    (additive sums: ``IncrementalAggSync``; distinct: HLL in
    ``IncrementalDistinctSync``).

    Exact percentiles are the other non-semigroup aggregate: the state
    is the sorted value multiset, so a 100 TB "p99 latency per day"
    rollup either rescans history per refresh or keeps every value.
    The histogram rollup stores ``n_bins`` counts per group over a
    FIXED value range instead: each batch contributes partial bin
    counts (one hash agg, map-side combined — ``n_bins`` conditional
    sums packed into one array column), the merge is element-wise
    addition against only the touched groups, and stored histograms
    re-merge to ANY coarser grain at read time.  Addition is
    associative and commutative, so merged-by-batches equals
    histogrammed-in-one-shot EXACTLY (tests pin it) — only the
    QUANTILE readout is approximate: the estimate lands within one bin
    width of the ceil(p*n)-th ORDER STATISTIC (rank-based quantile;
    interpolated-percentile definitions can sit between two order
    statistics that straddle bins).  Out-of-range values clamp into the
    edge bins, so [lo, hi, n_bins] is part of the stored table's format
    like ``lgk`` is for HLL — changing it means rebuilding.

    TimescaleDB ships the same shape as ``uddsketch``/``tdigest``
    continuous aggregates; fixed-width bins trade their adaptive
    resolution for a pure-codegen plan with zero UDFs.  Delivery /
    replay contract: ``_RollupSyncBase``.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        table_name: str,
        group_cols: tuple[str, ...],
        value_col: str,
        lo: float,
        hi: float,
        n_bins: int = 64,
        watermark_col: str | None = None,
        table_format=None,
    ):
        if not hi > lo:
            raise ValueError(f"histogram range needs hi > lo, got [{lo}, {hi}]")
        if n_bins < 1:
            raise ValueError("n_bins must be >= 1")
        super().__init__(
            spark, warehouse_root, table_name, group_cols, watermark_col,
            table_format=table_format,
        )
        self.value_col = value_col
        self.lo, self.hi, self.n_bins = float(lo), float(hi), int(n_bins)
        self._metrics = ["hist"]

    def _bin_index(self):
        from pyspark.sql import functions as F

        width = (self.hi - self.lo) / self.n_bins
        raw = F.floor((F.col(self.value_col) - F.lit(self.lo)) / F.lit(width))
        # clamp out-of-range values into the edge bins (never dropped —
        # totals must match row counts for the quantile math)
        return F.least(
            F.greatest(raw, F.lit(0)), F.lit(self.n_bins - 1)
        ).cast("int")

    def _partial(self, batch: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        idx = self._bin_index()
        # n_bins conditional sums -> one array column; a single hash
        # aggregate, partials combined map-side like any SUM
        bins = F.array(
            *[
                F.sum(
                    F.when(
                        F.col(self.value_col).isNotNull() & (idx == i), 1
                    ).otherwise(0)
                ).cast("long")
                for i in range(self.n_bins)
            ]
        )
        return (
            batch.groupBy(*self.group_cols)
            .agg(bins.alias("hist"))
            .withColumn("__agg_key", self._key())
        )

    def _merge_metric(self, m: str):
        from pyspark.sql import functions as F

        new, old = F.col(m), F.col(f"__old_{m}")
        return (
            F.when(new.isNull(), old)
            .when(old.isNull(), new)
            .otherwise(F.zip_with(new, old, lambda a, b: a + b))
            .alias(m)
        )

    def _quantile_from(self, hist_col, p: float):
        """Interpolated quantile from a bin-count array — pure built-in
        expressions (aggregate/transform/array_position), no UDF."""
        from pyspark.sql import functions as F

        width = (self.hi - self.lo) / self.n_bins
        total = F.aggregate(hist_col, F.lit(0).cast("long"), lambda a, x: a + x)
        target = F.greatest(F.ceil(total * F.lit(p)), F.lit(1))
        # cumulative counts (O(n_bins^2) driver-free expression — n_bins
        # is a small constant, not data-sized)
        cums = F.transform(
            hist_col,
            lambda _x, i: F.aggregate(
                F.slice(hist_col, 1, i + 1), F.lit(0).cast("long"),
                lambda a, y: a + y,
            ),
        )
        pos = F.array_position(
            F.transform(cums, lambda c: c >= target), True
        ).cast("int")  # 1-based first bin reaching the target; 0 if never
        idx = pos - 1
        prev_cum = F.when(idx > 0, F.element_at(cums, idx)).otherwise(
            F.lit(0).cast("long")
        )
        in_bin = F.element_at(hist_col, pos)
        # midpoint-rank convention: the r-th of k values in a bin sits at
        # (r - 0.5)/k of the bin's width — a lone value estimates at the
        # bin center, not the top edge
        frac = F.try_divide(
            (target - prev_cum).cast("double") - F.lit(0.5), in_bin
        )
        est = (
            F.lit(self.lo)
            + (idx.cast("double") + F.coalesce(frac, F.lit(0.5)))
            * F.lit(width)
        )
        return F.when(total > 0, est)

    def _derive(self, df: DataFrame) -> DataFrame:
        """Default read surface: n + p50/p90/p99 at the stored grain."""
        from pyspark.sql import functions as F

        h = F.col("hist")
        return df.select(
            *self.group_cols,
            F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x).alias(
                "n_values"
            ),
            F.round(self._quantile_from(h, 0.5), 6).alias("p50"),
            F.round(self._quantile_from(h, 0.9), 6).alias("p90"),
            F.round(self._quantile_from(h, 0.99), 6).alias("p99"),
        )

    def estimate(self, to_grain: list[str], ps: tuple[float, ...] = (0.5, 0.9, 0.99)) -> DataFrame:
        """Re-merge the STORED histograms to any coarser grain — p99 at
        (e.g.) event_type level from a (event_type, day) rollup, no
        fact rescan; element-wise sums never double-count."""
        from pyspark.sql import functions as F

        # distributed element-wise array sum: posexplode to (grain, bin)
        # rows, hash-agg the counts (map-side combined), reassemble the
        # array in bin order — no group ever collects more than n_bins
        # rows into one task
        exploded = self._stored().select(
            *to_grain, F.posexplode("hist").alias("pos", "c")
        )
        summed = exploded.groupBy(*to_grain, "pos").agg(F.sum("c").alias("c"))
        merged = (
            summed.groupBy(*to_grain)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "c"))
                ).alias("__pc")
            )
            .withColumn("hist", F.transform("__pc", lambda x: x["c"]))
            .drop("__pc")
        )
        h = F.col("hist")
        cols = [
            F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x).alias(
                "n_values"
            )
        ]
        for p in ps:
            cols.append(
                F.round(self._quantile_from(h, p), 6).alias(
                    f"p{int(p * 100)}"
                )
            )
        return merged.select(*to_grain, *cols)


class IncrementalTopKSync(_RollupSyncBase):
    """Incremental HEAVY-HITTERS maintenance — the fourth member of the
    sketch-rollup family (additive sums, HLL distincts, histogram
    quantiles, and now top-k items per group).

    Exact "top k users per event type over all history" needs the full
    (group, item) count table — fine until the item space is the user
    space of a 100 TB corpus.  This rollup stores a CAPPED per-group
    count map instead (``cap`` entries, default ``8*k``): each batch
    contributes its per-(group, item) counts truncated to the cap (one
    hash agg + one bounded per-group window), the merge is a key-union
    map addition re-truncated to the cap (``map_zip_with`` — pure
    expressions, no UDF), and the read surface ranks the stored map's
    top ``k``.

    Accuracy contract — WEAKER than the other three members, stated
    plainly: truncation makes the merge order-dependent, so
    merged-by-batches equals counted-in-one-shot EXACTLY only while a
    group's distinct-item count stays within ``cap`` (the tests pin
    that case).  Beyond the cap, an item must out-count the cap
    boundary in the batches where it appears to survive — the
    space-saving-style regime where heavy hitters with frequency
    margins above the truncated tail are retained and LIGHT items may
    undercount.  The margin is quantified: an item forfeits
    accumulated mass only when a truncation drops it, and at that
    moment its count is at most the boundary (the cap-th retained
    count), so with ``B = sum of boundaries over all truncation
    events`` (per-batch partials and merges),

        ``est_count >= true_count - B``  — and therefore every item
        with ``true_count > B`` survives to the stored map.

    Pinned against an exact pure-Python replay of the truncate/merge
    semantics under adversarial batch orders in
    ``tests/test_sketches.py::test_topk_retention_margin_property``.
    Size ``cap`` to the expected skew (8x headroom over
    ``k`` default); groups near the cap are visible via
    ``n_tracked == cap`` in :meth:`read`.  Delivery/replay contract:
    ``_RollupSyncBase`` (the batch id commits with the merged state).
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        table_name: str,
        group_cols: tuple[str, ...],
        item_col: str,
        k: int = 10,
        cap: int | None = None,
        watermark_col: str | None = None,
        table_format=None,
    ):
        if k < 1:
            raise ValueError("k must be >= 1")
        super().__init__(
            spark, warehouse_root, table_name, group_cols, watermark_col,
            table_format=table_format,
        )
        self.item_col = item_col
        self.k = int(k)
        self.cap = int(cap) if cap is not None else 8 * self.k
        if self.cap < self.k:
            raise ValueError(f"cap {self.cap} must be >= k {self.k}")
        self._metrics = ["topk"]

    @staticmethod
    def _ranked_entries(m):
        """Map entries sorted (count desc, item asc) — ascending
        array_sort over struct(-count, item) does both, deterministic
        on ties so merges replay identically.  Pure expressions."""
        from pyspark.sql import functions as F

        return F.array_sort(
            F.transform(
                F.map_entries(m),
                lambda x: F.struct(
                    (-x["value"]).alias("nv"),
                    x["key"].alias("k"),
                    x["value"].alias("v"),
                ),
            )
        )

    def _truncate(self, m):
        """Keep the ``cap`` highest-count entries of a count map."""
        from pyspark.sql import functions as F

        top = F.slice(self._ranked_entries(m), 1, self.cap)
        return F.map_from_entries(
            F.transform(top, lambda x: F.struct(x["k"], x["v"]))
        )

    def _partial(self, batch: DataFrame) -> DataFrame:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        counts = (
            batch.filter(F.col(self.item_col).isNotNull())
            .groupBy(*self.group_cols, self.item_col)
            .agg(F.count("*").alias("__cnt"))
        )
        # bounded per-group truncation: a window rank over the hash-agg
        # output (rows per group = distinct items this batch), never a
        # driver collect
        w = Window.partitionBy(*self.group_cols).orderBy(
            F.desc("__cnt"), F.asc(F.col(self.item_col).cast("string"))
        )
        top = counts.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= self.cap
        )
        return (
            top.groupBy(*self.group_cols)
            .agg(
                F.map_from_entries(
                    F.collect_list(
                        F.struct(
                            F.col(self.item_col).cast("string"),
                            F.col("__cnt"),
                        )
                    )
                ).alias("topk")
            )
            .withColumn("__agg_key", self._key())
        )

    def _merge_metric(self, m: str):
        from pyspark.sql import functions as F

        new, old = F.col(m), F.col(f"__old_{m}")
        merged = F.map_zip_with(
            new,
            old,
            lambda _k, a, b: F.coalesce(a, F.lit(0))
            + F.coalesce(b, F.lit(0)),
        )
        return (
            F.when(new.isNull(), old)
            .when(old.isNull(), new)
            .otherwise(self._truncate(merged))
            .alias(m)
        )

    def _derive(self, df: DataFrame) -> DataFrame:
        """Read surface: one row per (group, rank<=k) with the item and
        its maintained count; ``n_tracked`` flags cap pressure."""
        from pyspark.sql import functions as F

        ranked = F.slice(self._ranked_entries(F.col("topk")), 1, self.k)
        out = df.select(
            *self.group_cols,
            F.size(F.map_entries(F.col("topk"))).alias("n_tracked"),
            F.posexplode(ranked).alias("__pos", "__e"),
        )
        return out.select(
            *self.group_cols,
            (F.col("__pos") + 1).alias("rank"),
            F.col("__e")["k"].alias(self.item_col),
            F.col("__e")["v"].alias("est_count"),
            "n_tracked",
        )


"""Maintained IVF index in the warehouse (VERDICT r9 task 5).

``operators.similarity.ivf_topk``/``ivf_int_topk`` recompute centroids
from the corpus on EVERY call — at 100 TB that is a full corpus pass
per query batch.  This module stores the index as two warehouse tables
and maintains it batch-incrementally from the same change-feed pattern
the sketch rollups use, so query cost is probe-bounded and maintenance
cost is batch-bounded:

- ``<name>__centroids``   — ``__cluster``, ``__cvec`` (per-dimension
  INTEGER sums of int8 codes over the training members — the
  order-free probe target of ``ivf_int_topk``).  FROZEN between
  explicit ``retrain`` calls: incremental syncs assign against a
  stable codebook (FAISS's IVF contract — adds never move centroids).
- ``<name>__assignments`` — ``vec_id``, ``q`` (int8 codes),
  ``__cluster`` (nearest centroid at sync time).  Append-only;
  exactly-once via the manifest formats' idempotent-writer watermarks
  (``write_streaming_batch``), with the source table's manifest
  version as the batch id (the rollup family's design).

Everything is INTEGER-deterministic (the ``ivf_int_topk`` math): int8
quantization is per-vector, centroid sums and candidate dots are exact
integer folds, the single probe division is bit-stable — so
index-served results are reproducible and DuckDB-oracle-able, unlike a
float-mean IVF.

Scale shape: ``topk`` touches the centroid table (broadcast,
n_clusters rows) plus ``n_probe`` cluster occupancies via an equi-join
on ``__cluster`` — never the corpus.  ``sync`` touches the batch plus
the broadcast centroids.  ``retrain`` is the one O(indexed-corpus)
verb, and it is explicit (one Lloyd step over the STORED codes — no
re-read of the source embeddings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.similarity import int_dot, quantize_embeddings


class IncrementalANNSync:
    """Warehouse-maintained ANN index with incremental membership.

    Lifecycle: ``train`` (build the codebook + index the training
    corpus) -> ``sync``/``sync_from_changes`` per batch cadence ->
    ``topk`` at query time (``topk_realtime`` unions an unindexed
    tail) -> periodic explicit ``retrain``.
    """

    _APP_ID = "ann_index"

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        name: str,
        table_format=None,
        bits: int = 8,
    ):
        from .materialize import Warehouse

        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root, table_format=table_format)
        self.name = name
        self.centroids_table = f"{name}__centroids"
        self.assign_table = f"{name}__assignments"
        self.bits = bits

    # -- build ------------------------------------------------------------

    def train(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        cluster_col: str = "label",
        codebook_corpus: DataFrame | None = None,
        txn: dict | None = None,
    ) -> int:
        """Build the codebook: integer centroid sums per ``cluster_col``
        bucket of the TRAINING corpus (any deterministic coarse
        partition — a label, an LSH sign bucket), then index the
        training vectors by NEAREST centroid (the same rule every
        later sync applies, so train-time and sync-time members are
        indistinguishable).  Returns the number of centroids.

        ``codebook_corpus`` trains the codebook on a SUBSET while the
        full ``corpus`` is indexed — the standard IVF posture at scale
        (FAISS trains on a sample, adds everything).  ``txn`` lands
        writer watermarks INSIDE the assignments commit — how
        ``train_from_table`` anchors the change-feed cursor with no
        crash window between indexing and cursor recording."""
        cb = corpus if codebook_corpus is None else codebook_corpus
        # ONE quantize scan feeds both the codebook aggregation and the
        # indexing pass when they share the corpus (the default; FAISS'
        # train-on-sample posture passes a filter and keeps two scans):
        # `keep` threads the cluster label through the projection
        # instead of the corpus-sized self-join the r13 shape paid,
        # and the persisted codes are (id, label, q) — int8 arrays,
        # ~1/4 the raw embeddings (r14, VERDICT task 3 cold path).
        shared = codebook_corpus is None or codebook_corpus is corpus
        cbq = quantize_embeddings(
            cb, id_col, vec_col, self.bits, keep=(cluster_col,)
        ).select(F.col(id_col).alias("vec_id"), cluster_col, "q")
        if shared:
            cbq = cbq.persist()
        # positional integer sums via posexplode + map-side-combined
        # groupBy — the scale-safe shape (a per-cluster collect_list
        # would hold every member vector of a cluster in one task)
        cent = (
            cbq.select(cluster_col, F.posexplode("q").alias("i", "x"))
            .groupBy(cluster_col, "i")
            .agg(F.sum("x").alias("s"))
            .groupBy(cluster_col)
            .agg(F.array_sort(F.collect_list(F.struct("i", "s"))).alias("im"))
            .select(
                F.col(cluster_col).cast("string").alias("__cluster"),
                F.transform("im", lambda t: t.getField("s")).alias("__cvec"),
            )
        )
        import contextlib

        codes = (
            cbq.select("vec_id", "q")
            if shared
            else quantize_embeddings(
                corpus, id_col, vec_col, self.bits
            ).select(F.col(id_col).alias("vec_id"), "q")
        )
        cent = cent.persist()
        # assign against the IN-FLIGHT codebook (one centroid write,
        # not write-assign-rewrite); baseline per-cluster quality
        # (mean member cosine at build time) rides in the codebook as
        # __q0 — the drift policy's reference point (r12, task 6).
        # The quality aggregation RIDES the assignments write as an
        # Observation (r13, VERDICT task 2): one scan, no persist of
        # the corpus-sized scored frame — the codebook's cluster list
        # is a k-row driver collect (it is broadcast everywhere
        # anyway), so the assignments land first and the centroids
        # write joins the observed baselines after.
        clusters = [
            r["__cluster"] for r in cent.select("__cluster").collect()
        ]
        scored = self._assign(codes, with_score=True, cent_df=cent)
        use_obs = 0 < len(clusters) <= self._OBS_MAX_CLUSTERS
        tx = getattr(self.wh.fmt, "transaction", None)
        with tx() if tx is not None else contextlib.nullcontext():
            # one flip commits codebook + memberships together on the
            # catalog format — no reader sees one without the other
            if use_obs:
                observed, obs = self._quality_observation(scored, clusters)
                self.wh.fmt.replace_atomic(
                    self.assign_table, observed.drop("__cos"), (), txn=txn
                )
                q0 = self._quality_df(obs, clusters).select(
                    "__cluster", F.col("__q").alias("__q0")
                )
            else:
                scored = scored.persist()
                q0 = self._cluster_quality(scored).select(
                    "__cluster", F.col("__q").alias("__q0")
                )
                self.wh.fmt.replace_atomic(
                    self.assign_table, scored.drop("__cos"), (), txn=txn
                )
            self.wh.fmt.replace_atomic(
                self.centroids_table, cent.join(q0, "__cluster", "left"), ()
            )
        if not use_obs:
            scored.unpersist()
        cent.unpersist()
        if shared:
            cbq.unpersist()
        # the codebook's cluster list is already on the driver — a
        # read+count of the just-written table would be one more job
        return len(clusters)

    def train_from_table(
        self,
        fmt,
        source_table: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        cluster_col: str = "label",
        codebook_filter=None,
    ) -> int:
        """Train + index FROM a commit-log table and anchor the
        change-feed cursor in the SAME commit: the snapshot at the
        source's current manifest version is indexed in full, the
        codebook trains on ``codebook_filter`` of it (default: all),
        and the source version lands as the sync watermark inside the
        assignments replace — so the first ``sync_from_cdf`` consumes
        exactly the changes committed AFTER this snapshot instead of
        re-bootstrapping the corpus (duplicate assignments at every
        rank).  The maintained-index lifecycle over a governed source:
        ``train_from_table`` once -> ``sync_from_cdf`` per cadence."""
        m = fmt._manifest(source_table)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest for table {source_table}"
            )
        v = int(m["version"])
        # snapshot at the CAPTURED version, not the head: a concurrent
        # commit landing mid-train would otherwise be indexed now AND
        # re-delivered by the first sync (the sync_from_changes
        # bootstrap rationale)
        corpus = fmt.read_version(source_table, v)
        cb = corpus if codebook_filter is None else corpus.filter(
            codebook_filter
        )
        return self.train(
            corpus, id_col, vec_col, cluster_col,
            codebook_corpus=cb, txn={self._APP_ID: v},
        )

    def _centroids(self) -> DataFrame:
        return self.wh.read(self.centroids_table)

    def _assign(
        self,
        codes: DataFrame,
        with_score: bool = False,
        cent_df: DataFrame | None = None,
    ) -> DataFrame:
        """Nearest stored centroid per code vector — broadcast over the
        (tiny) centroid table, exact integer dots, ONE bit-stable
        float division, deterministic ties (cluster asc).
        ``with_score=True`` keeps the winning cosine as ``__cos`` —
        the drift policy's quality signal; the stored assignments
        schema never carries it.  ``cent_df`` assigns against an
        IN-FLIGHT codebook instead of the stored table (the train path
        computes baselines before the single centroid write — r12
        bench showed the write-assign-rewrite shape costing the whole
        ANN family ~50%)."""
        cent = F.broadcast(
            (cent_df if cent_df is not None else self._centroids())
            .select("__cluster", "__cvec")
        )
        num = int_dot(F.col("__cvec"), F.col("q")).cast("double")
        den = F.sqrt(
            (
                int_dot(F.col("__cvec"), F.col("__cvec"))
                * int_dot(F.col("q"), F.col("q"))
            ).cast("double")
        )
        cos = F.try_divide(num, den)
        w = Window.partitionBy("vec_id").orderBy(
            cos.desc(), F.col("__cluster").asc()
        )
        out = (
            codes.crossJoin(cent)
            .withColumn("__cos", cos)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
        )
        cols = ["vec_id", "q", "__cluster"] + (
            ["__cos"] if with_score else []
        )
        return out.select(*cols)

    def _cluster_quality(self, assigned_scored: DataFrame) -> DataFrame:
        """Per-cluster mean winning cosine of a scored assignment —
        the quality signal baselines and drift checks share."""
        return assigned_scored.groupBy("__cluster").agg(
            F.avg("__cos").alias("__q"), F.count(F.lit(1)).alias("__n")
        )

    #: per-cluster quality rides the assignments write as an
    #: Observation (2 conditional aggregates per cluster in ONE
    #: codegen stage) up to this many clusters; above it the
    #: expression count would bloat codegen and the persist+agg
    #: fallback wins (a codebook that large is past IVF's sweet spot
    #: on this design anyway — the centroid table is broadcast)
    _OBS_MAX_CLUSTERS = 256

    def _quality_observation(self, scored: DataFrame, clusters: list):
        """Attach the per-cluster quality aggregation to the SCORED
        assignment plan as an ``Observation`` riding whatever single
        full-scan action materializes it — the assignments write — so
        train/retrain/armed-sync pay ONE pass instead of persist +
        separate aggregation job (VERDICT r12 wart 1; the same
        pattern as `_land_dv_pos`'s mask counts).  Observation
        metrics are grouping-free, so the per-cluster means become
        one conditional SUM + COUNT pair per cluster of the (tiny)
        codebook.  Returns ``(observed_plan, obs)``; read results via
        :meth:`_quality_rows` ONLY after the action that scanned all
        rows completed — and never hand the observed plan to a verb
        that probes it partially (isEmpty/limit), which would lock
        the metrics at the probe's partial values."""
        from pyspark.sql import Observation

        obs = Observation()
        exprs = []
        for i, c in enumerate(clusters):
            hit = F.col("__cluster") == F.lit(str(c))
            exprs.append(F.sum(F.when(hit, F.col("__cos"))).alias(f"s{i}"))
            exprs.append(F.count(F.when(hit, F.lit(1))).alias(f"n{i}"))
        return scored.observe(obs, *exprs), obs

    def _quality_df(self, obs, clusters: list) -> DataFrame:
        """The observed metrics as the same (tiny) per-cluster quality
        frame ``_cluster_quality`` produces — clusters that won no
        batch member are absent, exactly like the groupBy form."""
        got = obs.get
        rows = []
        for i, c in enumerate(clusters):
            n = int(got[f"n{i}"] or 0)
            if n:
                # a cluster whose batch members all carry NULL __cos
                # sums to None; F.avg in the groupBy fallback yields a
                # NULL __q row for the same input, so mirror it exactly
                # (float(None) would raise) rather than diverge
                s = got[f"s{i}"]
                rows.append(
                    (str(c), float(s) / n if s is not None else None, n)
                )
        from ..session import local_rows

        return local_rows(
            self.spark, rows, "__cluster string, __q double, __n long"
        )

    # -- maintain ----------------------------------------------------------

    def sync(
        self,
        batch: DataFrame,
        batch_id: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        app_id: str | None = None,
    ) -> bool:
        """Index one batch of NEW vectors: quantize, assign to the
        frozen codebook, append — cost bounded by the batch, never the
        index.  With ``batch_id`` on a manifest-format warehouse the
        append rides the idempotent-writer watermark
        (``write_streaming_batch``) — a replayed batch no-ops
        (returns False).  On formats without txn watermarks the append
        is at-least-once; deduplicate upstream.  ``app_id`` separates
        independent id streams (the change-feed cursor vs a Structured
        Streaming micro-batch counter must never share a watermark)."""
        codes = quantize_embeddings(batch, id_col, vec_col, self.bits).select(
            F.col(id_col).alias("vec_id"), "q"
        )
        assigned = self._assign(codes)
        wsb = getattr(self.wh.fmt, "write_streaming_batch", None)
        if batch_id is not None and wsb is not None:
            committed = wsb(
                self.assign_table, assigned, int(batch_id),
                app_id=app_id or self._APP_ID,
            )
        else:
            self.wh.fmt.write(self.assign_table, assigned, "append")
            committed = True
        # one immutable dir lands per synced batch: the threshold
        # compaction keeps the index's read amplification flat over
        # unbounded cadences, like every other append stream
        maybe_compact = getattr(self.wh.fmt, "maybe_compact", None)
        if committed and maybe_compact is not None:
            maybe_compact(self.assign_table)
        return committed

    def _applied_batch_id(self, app_id: str | None = None):
        man = getattr(self.wh.fmt, "_manifest", None)
        if man is None or not self.wh.exists(self.assign_table):
            return None
        m = man(self.assign_table)
        return ((m or {}).get("txn") or {}).get(app_id or self._APP_ID)

    def sync_from_changes(
        self,
        fmt,
        source_table: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> bool:
        """Maintain the index FROM a commit-log table's append feed —
        the source's manifest version is the batch id, committed
        inside the same CAS as the appended assignments, so a crashed
        and retried sync re-reads the identical delta and no-ops
        (exactly-once, no side cursor — the rollup family's design).
        A feed refusal (history rewritten) propagates loudly — a
        source that takes DML (delete/update/merge) maintains through
        :meth:`sync_from_cdf`, which absorbs retractions instead."""
        m = fmt._manifest(source_table)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest for table {source_table}"
            )
        cur = int(m["version"])
        applied = self._applied_batch_id()
        if applied is not None and cur == int(applied):
            return False
        if applied is None:
            # bootstrap from the SNAPSHOT at the captured version, not
            # the head: fmt.read is lazy and would resolve whatever is
            # latest when the assignment write executes — a concurrent
            # append landing in that window would be indexed now AND
            # re-delivered by the next incremental sync (duplicates)
            delta = fmt.read_version(source_table, cur)
        else:
            delta = fmt.read_changes(source_table, int(applied), cur)
        return self.sync(delta, batch_id=cur, id_col=id_col, vec_col=vec_col)

    @staticmethod
    def _net_cdf(feed: DataFrame, id_col: str) -> DataFrame:
        """Net a row-level change feed to ONE final state per key: the
        last change wins (by ``_commit_version``; within a version an
        update's postimage outranks its preimage — it IS the after
        state).  ``__alive`` marks keys whose final state is a row
        (insert/update_postimage); dead keys (final delete) carry only
        the id.  A key that churned N times across the range costs one
        output row — the sync below is bounded by DISTINCT changed
        keys, not change volume."""
        is_post = F.col("_change_type").isin("insert", "update_postimage")
        w = Window.partitionBy(id_col).orderBy(
            F.col("_commit_version").desc(), is_post.cast("int").desc()
        )
        return (
            feed.withColumn("__alive", is_post)
            .withColumn("__nrk", F.row_number().over(w))
            .filter(F.col("__nrk") == 1)
            .drop("__nrk", "_change_type", "_commit_version")
        )

    def sync_from_cdf(
        self,
        fmt,
        source_table: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        mor: bool = False,
        drift_band: float | None = None,
        drift_min_n: int = 20,
    ) -> bool:
        """Maintain the index over a source that UPSERTS — the
        reference's M2 cadence (models/stage/users.sql:2-5), exactly
        where the append-only ``sync_from_changes`` refuses and forced
        an O(corpus) ``retrain()`` (VERDICT r10 weak #1).  Mirrors
        ``IncrementalAggSync.sync_from_cdf``: the row-level change
        feed nets to one final state per key; every changed key's old
        assignment drops from the assignments table via the
        stats-bounded delete-only merge (cost: the entries its keys
        live in, never the corpus); keys alive after the change
        re-quantize and re-assign against the FROZEN codebook and
        append.  Exactly-once: the source's manifest version is the
        batch id.  On the default (non-MOR, drift-unarmed) path the
        retraction, the re-index, AND the watermark advance are ONE
        stats-bounded merge commit (r14 ``txn_update`` — no crash
        window, half the rewrite cost); the MOR path fuses the same
        way (``merge_mor`` with ``txn_update``); only the DRIFT-ARMED
        path keeps the two-step form (delete-merge + watermark append,
        one catalog flip on that format), whose crash window between
        the commits leaves changed keys briefly unindexed until the
        retried sync converges.  Requires
        a manifest-format index warehouse (the watermark IS the
        cursor).  A feed refusal (replace / vacuumed range) propagates
        loudly — rebuild via ``train_from_table``/``retrain``.

        ``drift_band`` (r12, VERDICT r11 task 6) arms the CODEBOOK
        DRIFT policy: under distribution shift a frozen codebook
        degrades silently (the recall floor is only pinned at train
        time).  Each sync's batch assignment quality is recorded per
        cluster in ``{name}__drift`` (mean best-centroid cosine vs the
        codebook's __q0 baseline); a cluster whose batch quality falls
        below ``drift_band × __q0`` over at least ``drift_min_n``
        batch members triggers :meth:`partial_retrain` of JUST the
        drifted clusters — bounded by their member count, never an
        O(corpus) rebuild."""
        import contextlib

        m = fmt._manifest(source_table)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest for table {source_table}"
            )
        cur = int(m["version"])
        applied = self._applied_batch_id()
        if applied is not None and cur == int(applied):
            return False
        if applied is None:
            # bootstrap: snapshot at the captured version (see
            # sync_from_changes) — a fresh snapshot has no retractions
            delta = fmt.read_version(source_table, cur)
            return self.sync(
                delta, batch_id=cur, id_col=id_col, vec_col=vec_col
            )
        feed = fmt.read_changes_cdf(source_table, int(applied), cur)
        return self._apply_net_cdf(
            self._net_cdf(feed, id_col), cur, id_col, vec_col, mor,
            drift_band, drift_min_n,
        )

    def _apply_net_cdf(
        self,
        final: DataFrame,
        cur: int,
        id_col: str,
        vec_col: str,
        mor: bool,
        drift_band: float | None,
        drift_min_n: int,
    ) -> bool:
        """Apply one NETTED row-level change set (``_net_cdf`` output)
        whose high-water mark is source version ``cur`` — the shared
        core of the polling :meth:`sync_from_cdf` and the streaming
        :meth:`maintain_stream` paths: retract changed keys (bounded
        merge), re-assign alive keys against the frozen codebook,
        append under the ``cur`` watermark (exactly-once on replay),
        then the drift step."""
        import contextlib

        applied = self._applied_batch_id()
        if applied is not None and cur <= int(applied):
            # replay (engine checkpoint loss, retried poll): the
            # watermark already covers this change set — skip BEFORE
            # the retract merge, which is not otherwise replay-guarded
            return False
        changed_keys = final.select(F.col(id_col).alias("vec_id")).distinct()
        adds = final.filter(F.col("__alive")).drop("__alive")
        codes = quantize_embeddings(adds, id_col, vec_col, self.bits).select(
            F.col(id_col).alias("vec_id"), "q"
        )
        scored = obs = clusters = None
        assigned_w = None
        if drift_band is not None:
            clusters = [
                r["__cluster"]
                for r in self._centroids().select("__cluster").collect()
            ]
            plan = self._assign(codes, with_score=True)
            if 0 < len(clusters) <= self._OBS_MAX_CLUSTERS:
                # batch quality rides the index append itself (r13):
                # the OBSERVED plan goes only to the write — the
                # retract merge below gets the UNOBSERVED twin, whose
                # limit(0)/isEmpty probes would otherwise lock the
                # metrics at partial values
                observed, obs = self._quality_observation(plan, clusters)
                assigned_w = observed.drop("__cos")
                assigned = plan.drop("__cos")
            else:
                scored = plan.persist()
                assigned = scored.drop("__cos")
        else:
            assigned = self._assign(codes)
        if assigned_w is None:
            assigned_w = assigned
        wsb = getattr(self.wh.fmt, "write_streaming_batch", None)
        if wsb is None:
            raise ValueError(
                "sync_from_cdf requires a manifest-format index "
                "warehouse (the txn watermark is the exactly-once "
                "cursor); got "
                f"{type(self.wh.fmt).__name__}"
            )
        if drift_band is None:
            # the netted change set is re-scanned by the merge's
            # min/max keys agg, its matched probe, and the landing
            # write — persist it (bounded by DISTINCT changed keys,
            # never change volume) so the CDF read + netting window
            # run once, not three times (cache hits by plan equality,
            # so changed_keys/adds/codes built above all benefit)
            final.persist()
            # FUSED form (r14, cold-path cut): one merge deletes every
            # changed key AND inserts the re-assigned rows AND
            # advances the per-app watermark inside a single commit
            # (`txn_update`) — one candidate rewrite (COW) or one
            # batch-append + delete mask (MOR) instead of the
            # retract + watermark-append pair.  Only on the
            # probe-free shape: the drift-armed path keeps the
            # two-step so its Observation never meets merge's
            # isEmpty/limit probes.  Exactly-once: the `cur <=
            # applied` guard above skips replays before any write;
            # the watermark rides this commit atomically — also when
            # the change set nets to nothing touching the index (the
            # merge then commits the cursor alone).
            verb = (
                self.wh.fmt.merge_mor
                if mor and hasattr(self.wh.fmt, "merge_mor")
                else self.wh.fmt.merge
            )
            verb(
                self.assign_table, assigned, "vec_id",
                delete_keys=changed_keys, record_cdc=False,
                txn_update={self._APP_ID: int(cur)},
            )
            maybe_compact = getattr(self.wh.fmt, "maybe_compact", None)
            if maybe_compact is not None:
                maybe_compact(self.assign_table)
            final.unpersist()
            return True
        tx = getattr(self.wh.fmt, "transaction", None)
        with tx() if tx is not None else contextlib.nullcontext():
            # 1) retract: changed keys' old assignments drop via the
            #    stats-bounded merge (empty batch = delete-only form,
            #    the materialize_delete pattern).  Insert-only keys
            #    match nothing and cost nothing.  ``mor=True`` retracts
            #    through the MERGE-ON-READ form instead — a positional
            #    delete mask, ZERO assignment-file rewrite per sync
            #    regardless of layout (the right cadence when
            #    the source upserts every 15 minutes and the
            #    assignments are not key-clustered); the read-time
            #    anti-join debt clears at ``retrain`` (a replace) or an
            #    explicit ``materialize_deletes`` on the assignments
            #    table.
            retract = (
                self.wh.fmt.merge_mor
                if mor and hasattr(self.wh.fmt, "merge_mor")
                else self.wh.fmt.merge
            )
            retract(
                self.assign_table, assigned.limit(0), "vec_id",
                delete_keys=changed_keys,
                record_cdc=False,  # internal state: nobody tails it
            )
            # 2) re-index: surviving/new keys append under the source
            #    version's watermark — a replayed sync no-ops here even
            #    when step 1 already landed (its re-run is a no-op too)
            committed = wsb(
                self.assign_table, assigned_w, cur, app_id=self._APP_ID
            )
        maybe_compact = getattr(self.wh.fmt, "maybe_compact", None)
        if committed and maybe_compact is not None:
            maybe_compact(self.assign_table)
        if obs is not None:
            # read the observed metrics ONLY when the write ran —
            # Observation.get blocks until its action completes, and a
            # recognized replay returns before any scan
            if committed:
                self._drift_step_q(
                    self._quality_df(obs, clusters), cur,
                    drift_band, drift_min_n,
                )
        elif scored is not None:
            try:
                if committed:
                    self._drift_step(scored, cur, drift_band, drift_min_n)
            finally:
                scored.unpersist()
        return committed

    def maintain_stream(
        self,
        fmt,
        source_table: str,
        checkpoint: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        mor: bool = False,
        drift_band: float | None = None,
        drift_min_n: int = 20,
        max_versions_per_batch: int = 0,
        available_now: bool = True,
        catalog: bool | None = None,
    ):
        """CONTINUOUS index maintenance (round 14, VERDICT task 2):
        the streaming twin of the polling :meth:`sync_from_cdf`, riding
        the ``warehouse_cdf`` readStream source instead of batch-
        polling ``read_changes_cdf`` — checkpointed offsets, engine
        triggers, backpressure via ``max_versions_per_batch``.

        Each micro-batch nets its change rows and applies through the
        shared :meth:`_apply_net_cdf` core under the SOURCE-VERSION
        watermark (the batch's max ``_commit_version``), so exactly-
        once holds even when the ENGINE checkpoint is lost: a replayed
        batch's watermark is at or below the applied cursor and skips
        before the retract merge.  The polling and streaming cadences
        therefore share one cursor — switching between them never
        double-applies or skips a change set.

        Requires a bootstrapped index (``train_from_table`` /
        ``sync_from_cdf`` once): the stream starts at the applied
        cursor, serving only post-bootstrap changes.  Returns the
        ``StreamingQuery``; with ``available_now`` (default) the
        caller awaits termination for a drain-to-head run, otherwise
        the query runs on the engine trigger until stopped."""
        from ..streaming.cdf_source import register_cdf_source

        applied = self._applied_batch_id()
        if applied is None:
            raise ValueError(
                "maintain_stream requires a bootstrapped index — run "
                "train_from_table / sync_from_cdf once so the stream "
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
            # pin the micro-batch: the watermark probe and the netted
            # apply each re-drive the Arrow CDF read otherwise (r15
            # optimization round)
            batch_df = batch_df.persist()
            try:
                agg = batch_df.agg(F.max("_commit_version")).first()
                vmax = agg[0]
                if vmax is None:
                    return  # empty micro-batch
                self._apply_net_cdf(
                    self._net_cdf(batch_df, id_col),
                    int(vmax),
                    id_col,
                    vec_col,
                    mor,
                    drift_band,
                    drift_min_n,
                )
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

    def _drift_step(
        self, scored: DataFrame, version: int, band: float, min_n: int
    ) -> None:
        """Fallback form (large codebooks): aggregate the persisted
        scored frame, then delegate to :meth:`_drift_step_q`."""
        self._drift_step_q(
            self._cluster_quality(scored), version, band, min_n
        )

    def _drift_step_q(
        self, quality: DataFrame, version: int, band: float, min_n: int
    ) -> None:
        """Record this sync's per-cluster batch quality in the drift
        log and repair (partial_retrain) any cluster below the band —
        runs AFTER the sync's own transaction committed, so the repair
        is its own atomic step and a crash between them re-detects on
        the next sync instead of corrupting the cursor.  ``quality``
        is the per-cluster (__cluster, __q, __n) frame — Observation-
        derived (k driver rows) on the hot path, aggregated from the
        scored frame on the fallback."""
        drifted = set(self._check_drift_q(quality, band=band, min_n=min_n))
        log = quality.select(
            F.lit(int(version)).alias("source_version"),
            "__cluster",
            F.col("__n").alias("n"),
            F.col("__q").alias("mean_cos"),
            (
                F.col("__cluster").isin(sorted(drifted))
                if drifted
                else F.lit(False)
            ).alias("repaired"),
        )
        self.wh.fmt.write(f"{self.name}__drift", log, "append")
        if drifted:
            self.partial_retrain(sorted(drifted))

    def retrain(self) -> int:
        """One Lloyd step over the STORED codes — the explicit
        periodic verb: new centroid sums from the CURRENT assignments
        (members that drifted toward another centroid re-center it),
        then every vector re-assigns to its new nearest.  Both tables
        rewrite atomically; O(indexed corpus), by design — run it on
        the maintenance cadence, not the sync cadence.  Returns the
        number of centroids (empty clusters dissolve).

        The sync cursors SURVIVE the retrain crash-safely: the whole
        watermark map rides INSIDE the assignments replace commit
        (``replace_atomic(txn=...)``) — a separate restore commit
        would leave a window where a crash (or a concurrent sync
        trigger) sees a cursor-less table and re-indexes the whole
        source (duplicate neighbors at every rank).  On a catalog
        format both rewrites flip in ONE transaction, so a reader can
        never see the new codebook with the old memberships."""
        import contextlib

        man = getattr(self.wh.fmt, "_manifest", None)
        txn_before = (
            dict((man(self.assign_table) or {}).get("txn") or {})
            if man is not None
            else {}
        )
        a = self.wh.read(self.assign_table)
        cent = (
            a.select("__cluster", F.posexplode("q").alias("i", "x"))
            .groupBy("__cluster", "i")
            .agg(F.sum("x").alias("s"))
            .groupBy("__cluster")
            .agg(F.array_sort(F.collect_list(F.struct("i", "s"))).alias("im"))
            .select(
                "__cluster",
                F.transform("im", lambda t: t.getField("s")).alias("__cvec"),
            )
        )
        cent = cent.persist()
        clusters = [
            r["__cluster"] for r in cent.select("__cluster").collect()
        ]
        scored = self._assign(
            a.select("vec_id", "q"), with_score=True, cent_df=cent
        )
        use_obs = 0 < len(clusters) <= self._OBS_MAX_CLUSTERS
        tx = getattr(self.wh.fmt, "transaction", None)
        with tx() if tx is not None else contextlib.nullcontext():
            # quality baselines ride the assignments write (same
            # Observation shape as train — r13, VERDICT task 2)
            if use_obs:
                observed, obs = self._quality_observation(scored, clusters)
                self.wh.fmt.replace_atomic(
                    self.assign_table, observed.drop("__cos"), (),
                    txn=txn_before or None,
                )
                q0 = self._quality_df(obs, clusters).select(
                    "__cluster", F.col("__q").alias("__q0")
                )
            else:
                scored = scored.persist()
                q0 = self._cluster_quality(scored).select(
                    "__cluster", F.col("__q").alias("__q0")
                )
                self.wh.fmt.replace_atomic(
                    self.assign_table, scored.drop("__cos"), (),
                    txn=txn_before or None,
                )
            self.wh.fmt.replace_atomic(
                self.centroids_table, cent.join(q0, "__cluster", "left"), ()
            )
        if not use_obs:
            scored.unpersist()
        cent.unpersist()
        # empty clusters already dissolved in the re-centering groupBy,
        # so the driver-side list IS the new codebook size — no
        # read+count job
        return len(clusters)

    def partial_retrain(self, clusters: list[str]) -> int:
        """Re-center ONLY the given clusters and re-assign ONLY their
        members — the bounded repair the drift policy triggers, where
        ``retrain`` is O(indexed corpus) by design (r12, VERDICT r11
        task 6).  Cost: one column-pruned scan of the assignments
        (the ``__cluster`` filter pushes to parquet), a members-sized
        re-center + re-assign, and ONE stats-bounded merge keyed on
        vec_id — members that moved to an untouched cluster upsert
        there, nobody else's row is rewritten.

        Approximation, stated: members of NON-drifted clusters keep
        their assignments even if a moved centroid is now nearer —
        re-checking them would be the O(corpus) rebuild this verb
        exists to avoid; multi-probe serving (n_probe > 1) absorbs the
        boundary error, and the soak pins the recall floor under it
        (tests/test_ann_drift.py).  Baseline quality (__q0) refreshes
        for the re-centered clusters from their post-repair members.
        Returns the number of members re-assigned."""
        import contextlib

        if not clusters:
            return 0
        clusters = [str(c) for c in clusters]
        a = self.wh.read(self.assign_table)
        members = a.filter(F.col("__cluster").isin(clusters)).select(
            "vec_id", "q"
        )
        # re-center the drifted clusters from their CURRENT members
        cent_new = (
            a.filter(F.col("__cluster").isin(clusters))
            .select("__cluster", F.posexplode("q").alias("i", "x"))
            .groupBy("__cluster", "i")
            .agg(F.sum("x").alias("s"))
            .groupBy("__cluster")
            .agg(F.array_sort(F.collect_list(F.struct("i", "s"))).alias("im"))
            .select(
                "__cluster",
                F.transform("im", lambda t: t.getField("s")).alias("__cvec"),
            )
        )
        old = self._centroids()
        has_q0 = "__q0" in old.columns
        keep = old.filter(~F.col("__cluster").isin(clusters))
        merged_cent = keep.select("__cluster", "__cvec").unionByName(
            cent_new
        ).persist()
        # assign against the in-flight repaired codebook (one centroid
        # write, like train/retrain)
        scored = self._assign(
            members, with_score=True, cent_df=merged_cent
        ).persist()
        n = scored.count()
        # refresh __q0 for the re-centered clusters; untouched
        # clusters keep their baseline
        q_new = self._cluster_quality(
            scored.filter(F.col("__cluster").isin(clusters))
        ).select("__cluster", F.col("__q").alias("__q0"))
        q_keep = (
            keep.select("__cluster", "__q0")
            if has_q0
            else keep.select(
                "__cluster", F.lit(None).cast("double").alias("__q0")
            )
        )
        tx = getattr(self.wh.fmt, "transaction", None)
        with tx() if tx is not None else contextlib.nullcontext():
            self.wh.fmt.replace_atomic(
                self.centroids_table,
                merged_cent.join(
                    q_keep.unionByName(q_new), "__cluster", "left"
                ),
                (),
            )
            # ONE atomic upsert: old rows for these members drop, new
            # assignments land — no delete/append crash window
            self.wh.fmt.merge(
                self.assign_table, scored.drop("__cos"), "vec_id",
                record_cdc=False,
            )
        scored.unpersist()
        merged_cent.unpersist()
        return int(n)

    def check_drift(
        self,
        assigned_scored: DataFrame,
        band: float = 0.9,
        min_n: int = 20,
    ) -> list[str]:
        """Clusters whose BATCH assignment quality fell below ``band``
        × their baseline ``__q0`` (with at least ``min_n`` batch
        members — tiny samples don't trigger repairs).  Driver cost:
        one n_clusters-row collect."""
        return self._check_drift_q(
            self._cluster_quality(assigned_scored), band=band, min_n=min_n
        )

    def _check_drift_q(
        self, q: DataFrame, band: float = 0.9, min_n: int = 20
    ) -> list[str]:
        """Core of :meth:`check_drift` over an already-aggregated
        per-cluster quality frame."""
        cent = self._centroids()
        if "__q0" not in cent.columns:
            return []  # pre-drift-policy codebook: no baseline
        rows = (
            q.join(cent.select("__cluster", "__q0"), "__cluster")
            .filter(
                F.col("__q0").isNotNull()
                & (F.col("__n") >= int(min_n))
                & (F.col("__q") < F.col("__q0") * float(band))
            )
            .select("__cluster")
            .collect()
        )
        return sorted(r["__cluster"] for r in rows)

    # -- serve ---------------------------------------------------------------

    @staticmethod
    def _int_cosine(a, b):
        """The module's ONE scoring expression (exact integer dots, a
        single bit-stable float division, round 6) — the contract with
        the DuckDB oracle and with index==recompute equivalence; every
        serving path must use it so a precision change can never split
        the tiers."""
        num = int_dot(a, b).cast("double")
        den = F.sqrt((int_dot(a, a) * int_dot(b, b)).cast("double"))
        return F.round(F.try_divide(num, den), 6)

    @staticmethod
    def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc()
        )
        return scored.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") <= k
        )

    def _score_candidates(self, probes: DataFrame, cand: DataFrame) -> DataFrame:
        return (
            probes.join(cand, "__cluster")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                self._int_cosine(F.col("__cq"), F.col("__qq")).alias("score"),
            )
        )

    def topk(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 3,
        n_probe: int = 1,
    ) -> DataFrame:
        """Index-served top-k: queries probe their ``n_probe`` nearest
        stored centroids (broadcast — n_clusters rows), candidates
        come from the assignments equi-join on ``__cluster`` —
        ``n_probe`` cluster occupancies, never the corpus.  Scoring is
        the exact integer-dot cosine of ``ivf_int_topk``, so
        index-served == recompute-served on the same membership
        (pinned in tests/test_ann_index.py)."""
        probes, qq = self._probe(queries, id_col, vec_col, n_probe)
        cand = self.wh.read(self.assign_table).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("q").alias("__cq"),
            "__cluster",
        )
        scored = self._score_candidates(probes.join(qq, "query_id"), cand)
        return self._rank_topk(scored, k)

    def _probe(self, queries, id_col, vec_col, n_probe):
        qq = quantize_embeddings(queries, id_col, vec_col, self.bits).select(
            F.col(id_col).alias("query_id"), F.col("q").alias("__qq")
        )
        cent = F.broadcast(self._centroids().select("__cluster", "__cvec"))
        pnum = int_dot(F.col("__cvec"), F.col("__qq")).cast("double")
        pden = F.sqrt(
            (
                int_dot(F.col("__cvec"), F.col("__cvec"))
                * int_dot(F.col("__qq"), F.col("__qq"))
            ).cast("double")
        )
        pw = Window.partitionBy("query_id").orderBy(
            F.try_divide(pnum, pden).desc(), F.col("__cluster").asc()
        )
        probes = (
            qq.crossJoin(cent)
            .withColumn("__prk", F.row_number().over(pw))
            .filter(F.col("__prk") <= max(1, n_probe))
            .select("query_id", "__cluster")
        )
        return probes, qq

    def topk_realtime(
        self,
        queries: DataFrame,
        tail: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 3,
        n_probe: int = 1,
        exclude: DataFrame | None = None,
        broadcast_tail_rows: int = 200_000,
    ) -> DataFrame:
        """Index-served candidates UNIONED with a brute-force pass over
        an unindexed TAIL (vectors landed since the last sync — the
        ``read_realtime`` pattern): tail cost is |queries| x |tail|,
        bounded by the sync cadence, and the final window dedups, so
        a vector present in both tiers scores once.

        ``exclude`` (a one-column frame of ids) drops those neighbors
        from the INDEX tier before the union — how ``topk_auto``
        serves current results over an unsynced DML tail: a changed
        key's stale stored assignment is masked and its fresh vector
        (if still alive) scores from the tail.

        Plan gate (VERDICT r10 task 4): a tail at or under
        ``broadcast_tail_rows`` broadcasts (one hash-relation,
        perfect for the sync-cadence-sized tail); a LAGGED tail above
        it would die on the 8 GB broadcast ceiling, so it switches to
        a salted equi-join — the tail salts on hash(id), queries
        replicate across the salt domain, and every (query, tail) pair
        still scores exactly once through a shuffle join instead of a
        broadcast (no CartesianProduct: the salt IS the equi key)."""
        probes, qq = self._probe(queries, id_col, vec_col, n_probe)
        cand = self.wh.read(self.assign_table).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("q").alias("__cq"),
            "__cluster",
        )
        indexed = self._score_candidates(probes.join(qq, "query_id"), cand)
        if exclude is not None:
            ex = exclude.select(
                F.col(exclude.columns[0]).alias("neighbor_id")
            ).distinct()
            # tail-bounded KEY set — usually tiny (AQE broadcasts it),
            # but no forced hint: a badly lagged tail must degrade to a
            # shuffle anti-join, not die on the broadcast ceiling (the
            # same contract as the pairs join below)
            indexed = indexed.join(ex, "neighbor_id", "left_anti")
        tq = quantize_embeddings(tail, id_col, vec_col, self.bits).select(
            F.col(id_col).alias("neighbor_id"), F.col("q").alias("__cq")
        )
        n_tail = tq.count()
        if n_tail <= broadcast_tail_rows:
            pairs = qq.crossJoin(F.broadcast(tq))
        else:
            # ceil so the per-salt tail slice stays at/under the
            # broadcast-sized budget; cap the query-replication factor
            n_salt = min(256, -(-n_tail // max(1, broadcast_tail_rows)))
            salted = tq.withColumn(
                "__salt", F.pmod(F.hash("neighbor_id"), F.lit(n_salt))
            )
            rep = qq.withColumn(
                "__salt",
                F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))),
            )
            pairs = rep.join(salted, "__salt").drop("__salt")
        fresh = (
            pairs.filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                self._int_cosine(F.col("__cq"), F.col("__qq")).alias("score"),
            )
        )
        # a tail vector may ALSO be indexed already (sync raced the
        # caller's tail cut) — keep one score per (query, neighbor)
        allc = indexed.unionByName(fresh).groupBy(
            "query_id", "neighbor_id"
        ).agg(F.max("score").alias("score"))
        return self._rank_topk(allc, k)

    def topk_auto(
        self,
        queries: DataFrame,
        fmt,
        source_table: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 3,
        n_probe: int = 1,
    ) -> DataFrame:
        """``topk_realtime`` with the tail DERIVED: everything the
        source table committed since the last sync (its change feed
        between the recorded cursor and the head) scores brute-force
        alongside the index — the ANN twin of the rollups'
        ``read_realtime_auto``: results are always current, index lag
        costs |queries| x |unsynced tail|, and no caller bookkeeping.
        Requires a cursor against the same source — anchored by
        ``train_from_table``, ``sync_from_changes``, or
        ``sync_from_cdf``.  An unsynced tail containing DML falls back
        to the row-level CDF: stale assignments mask out of the index
        tier and live postimages score brute-force, so results stay
        exact-to-now across rewrites, not just appends."""
        applied = self._applied_batch_id()
        if applied is None:
            raise ValueError(
                f"topk_auto: index {self.name} has no sync cursor for "
                f"{source_table} — run sync_from_changes/sync_from_cdf "
                "first (the cursor anchors the realtime tail)"
            )
        m = fmt._manifest(source_table)
        cur = int(m["version"]) if m else int(applied)
        if cur == int(applied):
            return self.topk(queries, id_col, vec_col, k, n_probe)
        try:
            tail = fmt.read_changes(source_table, int(applied), cur)
            return self.topk_realtime(
                queries, tail, id_col, vec_col, k, n_probe
            )
        except ValueError:
            # the unsynced range contains a REWRITE (delete / update /
            # merge): the append-only feed refuses, but the row-level
            # CDF serves it — mask every changed key's stale stored
            # assignment out of the index tier and brute-force the
            # keys still alive at the head with their CURRENT vectors,
            # so results are exact-to-now across DML, not just appends
            feed = fmt.read_changes_cdf(source_table, int(applied), cur)
            final = self._net_cdf(feed, id_col)
            adds = final.filter(F.col("__alive")).drop("__alive")
            stale = final.select(id_col)
            return self.topk_realtime(
                queries, adds, id_col, vec_col, k, n_probe, exclude=stale
            )

    def recompute_topk(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 3,
        n_probe: int = 1,
    ) -> DataFrame:
        """The NON-incremental evaluation against the same frozen
        codebook: assign the WHOLE given corpus to nearest stored
        centroids in one pass (ignoring stored assignments), then
        serve.  The equivalence target for the incremental path —
        ``topk()`` over a synced index must equal this exactly on the
        same corpus (the maintained-index correctness pin)."""
        codes = quantize_embeddings(corpus, id_col, vec_col, self.bits).select(
            F.col(id_col).alias("vec_id"), "q"
        )
        assigned = self._assign(codes)
        probes, qq = self._probe(queries, id_col, vec_col, n_probe)
        cand = assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("q").alias("__cq"),
            "__cluster",
        )
        scored = self._score_candidates(probes.join(qq, "query_id"), cand)
        return self._rank_topk(scored, k)

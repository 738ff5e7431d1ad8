"""Streaming CHANGE DATA FEED source (round 14, VERDICT task 2).

Delta's CDF streaming shape for the warehouse commit log: a PySpark
Python DataSource (SPARK-44076, the Spark-native extension point for
exactly this) whose stream reader treats MANIFEST VERSIONS as offsets,
so the rollup/ANN maintenance families ride a continuous
``readStream`` feed — checkpointed offsets, triggers, ``foreachBatch``
exactly-once — instead of batch-polling ``read_changes_cdf``.

    spark.dataSource.register(CdfDataSource)
    feed = (spark.readStream.format("warehouse_cdf")
            .option("root", wh_root).option("table", "s.t")
            .option("catalog", "true")          # CatalogManifestFormat
            .option("starting_version", "0")    # 0 = snapshot-then-tail
            .option("max_versions_per_batch", "20")   # backpressure
            .load())

Semantics contract: a micro-batch over offsets (a, b] serves EXACTLY
the rows ``ManifestFormat.read_changes_cdf(table, a, b)`` serves —
``_change_type`` tagged rows per committed version, insert steps
derived through compaction provenance, cdc payloads served as
recorded, refusals (vacuumed mid-range, non-append without cdf=True,
mixed-provenance compaction) raised loudly (tests/test_cdf_stream.py
pins the hash parity).  Offset planning and file reads run in the
streaming engine's Python workers where NO SparkSession exists, so
the log is resolved by a pure-Python reader (:class:`_PlainLog`) and
data files by Arrow (``read`` yields RecordBatches — vectorized, no
row-at-a-time Python).  Scale shape: one InputPartition per data dir
per version step (executor-parallel), metadata cost O(steps), data
cost O(changes) — never O(table).

Storage seam (round 15, VERDICT r14 task 1): every log/data access
routes through an injectable ``pyarrow.fs.FileSystem`` — inferred from
the root URI (``s3://``/``hdfs://``/``gs://`` via
``pyarrow.fs.FileSystem.from_uri``; plain paths and ``file:`` URIs get
``LocalFileSystem``) or supplied explicitly via the string option
``fs_factory = "pkg.module:callable"`` (the callable receives the root
URI and returns ``(FileSystem, root_path)``) — factories pickle as
strings, so the seam crosses the engine's driver-side and executor-
side Python worker processes.  No raw ``os`` access remains on the
read path; the offset/step contract is unchanged.

Reference role: the continuous twin of the reference's 15-minute
Airflow poll (reference dags/iot_master_dag.py:42-71) over the
warehouse TimescaleDB plays (docker-compose.yaml:307).
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

__all__ = ["CdfDataSource", "CdfStreamReader", "register_cdf_source"]


def _local(uri: str) -> str:
    """file:-scheme URI → local path (the LocalFileSystem default)."""
    if uri.startswith("file://"):
        return uri[len("file://") :] or "/"
    if uri.startswith("file:"):
        return uri[len("file:") :]
    return uri


def _resolve_fs(root: str, fs_factory: str | None):
    """Root URI (+ optional factory) → ``(pyarrow.fs.FileSystem,
    fs-native root path)``.  The factory string is the injection seam
    for stores ``from_uri`` cannot build unaided (custom credentials,
    wrappers, test doubles)."""
    from pyarrow import fs as pafs

    if fs_factory:
        import importlib

        mod, _, fn = fs_factory.rpartition(":")
        if not mod:
            raise ValueError(
                f"fs_factory {fs_factory!r} must be 'pkg.module:callable'"
            )
        factory = getattr(importlib.import_module(mod), fn)
        filesystem, path = factory(root)
        return filesystem, path
    if "://" in root and not root.startswith("file:"):
        return pafs.FileSystem.from_uri(root)
    return pafs.LocalFileSystem(), _local(root)


def subtree_fs_factory(root: str):
    """Reference ``fs_factory``: a ``SubTreeFileSystem`` rooted at the
    warehouse — a NON-local FileSystem whose paths are subtree-relative
    (any leftover raw ``os.*`` access would fail on them), used by
    tests/test_cdf_stream.py to prove the reader is fully routed
    through ``pyarrow.fs``.  A real object-store deployment supplies a
    factory returning its configured S3/GCS/Hadoop filesystem the same
    way."""
    from pyarrow import fs as pafs

    return pafs.SubTreeFileSystem(_local(root), pafs.LocalFileSystem()), ""


def _schema_mapping(schema_json: dict | None):
    """Pure-Python twin of ``ManifestFormat._schema_mapping`` (same
    field-metadata contract): live-column aliases + tombstoned names."""
    aliases: dict[str, list] = {}
    dropped: set = set()
    for fj in (schema_json or {}).get("fields", []):
        md = fj.get("metadata") or {}
        al = [str(a) for a in (md.get("aliases") or [])]
        if md.get("dropped"):
            dropped.add(fj["name"])
        elif al:
            aliases[fj["name"]] = al
    return aliases, dropped


#: reader features this build of the STREAM reader implements; the
#: same refuse-on-unknown contract as ManifestFormat.READER_FEATURES
#: (an older build's "dv" refuses with the same migration hint)
_READER_FEATURES = frozenset({"dv-pos", "column-mapping"})


class _PlainLog:
    """JVM-free commit-log resolver — offsets and partition planning
    run inside the streaming engine's driver-side Python worker where
    no SparkSession exists.  Mirrors ``ManifestFormat._manifest``
    (segment + seglist expansion), ``_travelable_versions`` (catalog
    subclass excludes aborted-transaction orphans), and the
    ``read_changes``/``read_changes_cdf`` step math, refusing in
    exactly the same places so stream and batch hash-match."""

    def __init__(
        self,
        root: str,
        table: str,
        catalog: bool,
        fs_factory: str | None = None,
    ):
        self.fs, self.root = _resolve_fs(root, fs_factory)
        self.table = table
        self.catalog = catalog
        schema, _, tbl = table.rpartition(".")
        self.table_path = posixpath.join(
            self.root, schema or "default", tbl
        )
        self.log_path = posixpath.join(self.table_path, "_log")

    # -- raw file helpers (all through the pyarrow.fs seam) -----------

    def _exists(self, path: str) -> bool:
        from pyarrow import fs as pafs

        return self.fs.get_file_info(path).type != pafs.FileType.NotFound

    def _load_json(self, path: str) -> dict | None:
        try:
            with self.fs.open_input_stream(path) as f:
                return json.loads(f.read().decode("utf-8"))
        except (OSError, ValueError):
            return None  # torn/in-flight/absent: same contract as JVM side

    def _list_names(self, dirpath: str) -> list[str]:
        from pyarrow import fs as pafs

        try:
            infos = self.fs.get_file_info(
                pafs.FileSelector(dirpath, allow_not_found=True)
            )
        except OSError:
            return []
        return [posixpath.basename(i.path) for i in infos]

    def _version_files(self) -> list[int]:
        return sorted(
            int(n[1:-5])
            for n in self._list_names(self.log_path)
            if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
        )

    # -- catalog resolution --------------------------------------------

    def _catalog_versions(self) -> set[int]:
        """Every manifest version some catalog file resolved this table
        to — the travelable set of the catalog format."""
        cdir = posixpath.join(self.root, "_catalog")
        out: set[int] = set()
        for n in self._list_names(cdir):
            if n.startswith("c") and n.endswith(".json"):
                cat = self._load_json(posixpath.join(cdir, n))
                v = (cat or {}).get("tables", {}).get(self.table)
                if v:
                    out.add(int(v))
        return out

    # -- manifest resolution ---------------------------------------------

    def travelable(self) -> list[int]:
        if self.catalog:
            return sorted(self._catalog_versions())
        return self._version_files()

    def _hinted_head(self, dirpath: str, prefix: str) -> int | None:
        """The advisory ``_head.json`` hint (r14) + forward
        exists-probes — the stream polls ``latestOffset`` every
        trigger, so O(1) head resolution matters doubly here.  None =
        no/stale hint (fall back to the listing)."""
        h = self._load_json(posixpath.join(dirpath, "_head.json"))
        try:
            v = int((h or {})["version"])
        except (KeyError, TypeError, ValueError):
            return None
        if not self._exists(
            posixpath.join(dirpath, f"{prefix}{v:012d}.json")
        ):
            return None
        while self._exists(
            posixpath.join(dirpath, f"{prefix}{v + 1:012d}.json")
        ):
            v += 1
        return v

    def head_version(self) -> int:
        if self.catalog:
            # mirror _resolved_version: the NEWEST READABLE catalog
            # pointer wins (never max-over-history — a restore flips
            # the table BACK to an older manifest version)
            cdir = posixpath.join(self.root, "_catalog")
            cv = self._hinted_head(cdir, "c")
            if cv is None:
                cands = sorted(
                    (
                        int(n[1:-5])
                        for n in self._list_names(cdir)
                        if n.startswith("c")
                        and n.endswith(".json")
                        and n[1:-5].isdigit()
                    ),
                    reverse=True,
                )
            else:
                cands = range(cv, 0, -1)
            for v in cands:
                cat = self._load_json(
                    posixpath.join(cdir, f"c{v:012d}.json")
                )
                if cat is not None:
                    return int(cat.get("tables", {}).get(self.table) or 0)
            return 0
        hv = self._hinted_head(self.log_path, "v")
        if hv is not None and self.manifest(hv, resolve=False) is not None:
            return hv
        vs = self.travelable()
        # newest READABLE (a writer between its put-if-absent and body
        # write is skipped, like _manifest)
        for v in reversed(vs):
            if self.manifest(v, resolve=False) is not None:
                return v
        return 0

    def manifest(self, version: int, resolve: bool = True) -> dict | None:
        if version <= 0:
            return None
        m = self._load_json(
            posixpath.join(self.log_path, f"v{version:012d}.json")
        )
        if m is None:
            return None
        unknown = set(m.get("reader_features") or ()) - _READER_FEATURES
        if unknown:
            hint = ""
            if "dv" in unknown:
                from ..plans.table_format import RETIRED_DV_FIX

                hint = "; " + RETIRED_DV_FIX
            raise RuntimeError(
                f"table {self.table} (v{version}) requires reader "
                f"feature(s) {sorted(unknown)} the CDF stream reader "
                "does not implement" + hint
            )
        if not resolve:
            return m
        refs = []
        for s in m.get("segments") or []:
            if "list" in s:  # third tier: seglist file of refs
                lst = self._load_json(
                    posixpath.join(self.log_path, s["list"])
                )
                if lst is None:
                    raise ValueError(
                        f"cdf stream({self.table}): seglist {s['list']} "
                        f"of v{version} unreadable (vacuumed?); resync"
                    )
                refs.extend(lst["refs"])
            else:
                refs.append(s)
        entries = []
        for r in refs:
            seg = self._load_json(posixpath.join(self.log_path, r["file"]))
            if seg is None:
                raise ValueError(
                    f"cdf stream({self.table}): segment {r['file']} of "
                    f"v{version} unreadable (vacuumed?); resync"
                )
            entries.extend(seg["entries"])
        m = dict(m)
        m["entries"] = entries + list(m.get("entries") or [])
        return m

    # -- the CDF step math (mirrors read_changes / read_changes_cdf) ----

    @staticmethod
    def _ident(e: dict) -> tuple:
        return (e["dir"], e.get("rel"))

    def _insert_entries(self, since_m: dict, to_m: dict) -> list[dict]:
        """``read_changes`` twin: the pure-append delta between two
        resolved manifests, through compaction provenance; refuses
        (ValueError) where the batch reader refuses."""
        if (since_m.get("dv") or []) != (to_m.get("dv") or []):
            raise ValueError(
                f"cdf stream({self.table}): merge-on-read deletes "
                f"changed between v{since_m['version']} and "
                f"v{to_m['version']} with no recorded change rows — "
                "enable cdf=True on the writer, or resync"
            )
        since_ids = {self._ident(e) for e in since_m["entries"]}
        since_originals = {
            d
            for e in since_m["entries"]
            for d in (e.get("sources") or [e["dir"]])
        }
        new_entries = []
        absorbed: set = set()
        for e in to_m["entries"]:
            if self._ident(e) in since_ids:
                continue
            srcs = set(e.get("sources") or ())
            if srcs:
                absorbed |= srcs
            if not srcs or srcs.isdisjoint(since_originals):
                new_entries.append(e)
            elif srcs <= since_originals:
                continue
            else:
                raise ValueError(
                    f"cdf stream({self.table}): a compaction between "
                    f"v{since_m['version']} and v{to_m['version']} mixed "
                    "pre- and post-feed content; resync"
                )
        # every since-entry must survive by identity or have its
        # content absorbed into a to-side compaction (judged in
        # flattened original-append-dir space, exactly read_changes)
        to_ids = {self._ident(e) for e in to_m["entries"]}
        for e in since_m["entries"]:
            if self._ident(e) in to_ids:
                continue
            own = set(e.get("sources") or ()) or {e["dir"]}
            if not own <= absorbed:
                raise ValueError(
                    f"cdf stream({self.table}): entries visible at "
                    f"v{since_m['version']} vanished by "
                    f"v{to_m['version']} without compaction provenance "
                    "(replace/retention/backfill rewrote history) and "
                    "no change rows were recorded — enable cdf=True, "
                    "or resync"
                )
        return new_entries

    @staticmethod
    def _dv_ident(e: dict) -> str:
        return "|".join(
            (
                e["dir"],
                e.get("rel") or "",
                json.dumps(e["partitions"], sort_keys=True),
            )
        )

    def _dv_masks(self, m: dict) -> dict:
        """Per-entry-ident positional delete-mask dirs for a SNAPSHOT
        step (mirrors ``_read_with_dv``'s scoping): {ident: [mask
        path, ...]}."""
        out: dict = {}
        for d in m.get("dv") or []:
            path = posixpath.join(self.table_path, d["pos"]["dir"])
            for ident in d.get("applies") or []:
                out.setdefault(ident, []).append(path)
        return out

    def steps(self, since: int, to: int) -> list[dict]:
        """One dict per version step in (since, to]:
        ``{"version", "kind": "cdc"|"insert", "dirs":
        [(abs_path, partition_values)], "change_type": str|None}`` —
        exactly the frames ``read_changes_cdf`` unions."""
        versions = [v for v in self.travelable() if since < v <= to]
        out = []
        prev = since
        prev_m = None  # resolved manifest at `prev` (lazy)
        for v in sorted(versions):
            raw = self.manifest(v, resolve=False)
            if raw is None:
                raise ValueError(
                    f"cdf stream({self.table}): version {v} is not "
                    "readable (vacuumed mid-range); resync"
                )
            if raw.get("cdc"):
                base = raw["cdc"].get("since", prev)
                if base != prev:
                    raise ValueError(
                        f"cdf stream({self.table}): v{v}'s change rows "
                        f"were computed against v{base}, but the feed's "
                        f"previous step is v{prev}; resync"
                    )
                out.append(
                    {
                        "version": v,
                        "dirs": [
                            (
                                posixpath.join(
                                    self.table_path, raw["cdc"]["dir"]
                                ),
                                None,
                                None,
                            )
                        ],
                        "change_type": None,  # recorded in the files
                    }
                )
                prev, prev_m = v, None
                continue
            m = self.manifest(v)
            if prev == 0:
                # feed from the beginning: full snapshot = all inserts.
                # The batch reader serves this through read_version,
                # which applies merge-on-read delete masks — so does
                # ``CdfStreamReader.read``, per parquet fragment.
                dv_by_ident = self._dv_masks(m)
                entries = m["entries"]
            else:
                if prev_m is None:
                    prev_m = self.manifest(prev)
                    if prev_m is None:
                        raise ValueError(
                            f"cdf stream({self.table}): version {prev} "
                            "is not readable (vacuumed mid-range); resync"
                        )
                entries = self._insert_entries(prev_m, m)
            dirs = []
            for e in entries:
                p = posixpath.join(self.table_path, e["dir"])
                if e.get("rel"):
                    p = posixpath.join(p, e["rel"])
                dv = (
                    dv_by_ident.get(self._dv_ident(e))
                    if prev == 0
                    else None
                )
                dirs.append((p, e.get("partitions") or None, dv))
            out.append(
                {"version": v, "dirs": dirs, "change_type": "insert"}
            )
            prev, prev_m = v, m
        return out

    def head_schema_json(self) -> dict | None:
        head = self.head_version()
        if head == 0:
            return None
        m = self.manifest(head, resolve=False)
        return (m or {}).get("schema")


class CdfPartition(InputPartition):
    """One data dir of one version step — the executor-parallel unit.
    Carries everything ``read`` needs (paths, constants, the declared
    schema as Spark JSON, the physical→live rename map, a snapshot
    step's positional delete-mask dirs in ``dv``) so the read is
    static and stateless as the API requires."""

    def __init__(
        self,
        path: str,
        part_values: dict | None,
        version: int,
        change_type: str | None,
        rename: dict,
        schema_json: dict,
        dv: list | None = None,
        table_path: str | None = None,
        filesystem=None,
    ):
        self.path = path
        self.part_values = part_values
        self.version = version
        self.change_type = change_type
        self.rename = rename
        self.schema_json = schema_json
        self.dv = dv
        self.table_path = table_path
        # pyarrow FileSystems pickle, so the resolved fs ships to the
        # executor-side Python workers inside the partition (r15 seam)
        self.filesystem = filesystem


def _arrow_schema(schema_json: dict):
    """Declared Spark schema → the Arrow schema Spark's Python data
    source channel expects (pyspark's own converter, so timestamp/
    decimal conventions can never drift)."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    import pyarrow as pa

    st = StructType.fromJson(schema_json)
    return pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType), True) for f in st.fields]
    )


class CdfStreamReader(DataSourceStreamReader):
    """Offsets are manifest versions: ``{"version": N}`` means
    "everything up to and including commit N has been served".
    ``latestOffset`` advances to the committed head, bounded by
    ``max_versions_per_batch`` (Delta's maxFilesPerTrigger analog —
    backpressure for a stream catching up over a long history);
    ``partitions`` plans one partition per data dir per step;
    ``commit`` is a no-op (the engine's checkpoint owns progress —
    the log itself is never mutated by readers)."""

    def __init__(self, schema_json: dict, options: dict):
        self._schema_json = schema_json
        self._root = options["root"]
        self._table = options["table"]
        self._catalog = str(options.get("catalog", "false")).lower() == "true"
        self._start = int(options.get("starting_version", 0) or 0)
        self._maxv = int(options.get("max_versions_per_batch", 0) or 0)
        self._fs_factory = options.get("fs_factory") or None
        self._progress_dir = options.get("progress_dir") or None
        self._pos: int | None = None  # last planned/committed end
        self._log_inst: _PlainLog | None = None
        self._progress_fs = None  # memoized (fs, path) for the hint

    def _log(self) -> _PlainLog:
        if self._log_inst is None:
            self._log_inst = _PlainLog(
                self._root,
                self._table,
                self._catalog,
                fs_factory=self._fs_factory,
            )
        return self._log_inst

    # -- first-batch backpressure (r15, VERDICT r14 task 6) ------------
    # The engine hides the checkpointed offset on restart (latestOffset
    # is called with no initialOffset), so without outside help the
    # first micro-batch of a restarted run plans to the TRUE head —
    # a year-long backlog in one batch.  ``progress_dir`` (pair it with
    # the checkpoint dir, one per stream) stores the reader's own last
    # PLANNED version; on restart the clamp pages the backlog in
    # ``max_versions_per_batch``-bounded batches.  ADVISORY only:
    # progress never advances an offset (only caps the end), a stale
    # or missing file just means smaller/larger first batches, and
    # feed content is batching-independent (hash parity pinned).

    def _progress(self):
        """Memoized ``(fs, path)`` for the hint file — resolved ONCE
        per reader (latestOffset runs every trigger and partitions()
        every batch; a real fs factory constructs an object-store
        client, which must not recur on the metadata hot path).  The
        hint is read and written through this SAME filesystem: the
        warehouse log's fs may be rooted elsewhere (e.g. a subtree
        factory), and a read resolved against the wrong root would
        silently never see the hint — the restart clamp would quietly
        not engage exactly on the object-store deployments it exists
        for."""
        if not self._progress_dir:
            return None
        if self._progress_fs is None:
            fs, root = _resolve_fs(self._progress_dir, self._fs_factory)
            self._progress_fs = (
                fs,
                posixpath.join(root, "_cdf_progress.json"),
            )
        return self._progress_fs

    def _read_progress(self) -> int | None:
        pr = self._progress()
        if pr is None:
            return None
        fs, path = pr
        try:
            with fs.open_input_stream(path) as f:
                p = json.loads(f.read().decode("utf-8"))
            return int(p["version"])
        except (OSError, ValueError, KeyError, TypeError):
            return None  # advisory: absent/torn -> no clamp

    def _write_progress(self, version: int) -> None:
        pr = self._progress()
        if pr is None:
            return
        fs, path = pr
        try:
            fs.create_dir(posixpath.dirname(path), recursive=True)
            with fs.open_output_stream(path) as f:
                f.write(
                    json.dumps({"version": int(version)}).encode("utf-8")
                )
        except OSError:
            pass  # advisory: batching changes, content does not

    def initialOffset(self) -> dict:
        self._pos = self._start
        return {"version": self._start}

    def latestOffset(self) -> dict:
        head = self._log().head_version()
        # rate limit against the last planned/committed end.  The
        # engine calls latestOffset BEFORE initialOffset on a fresh
        # start and never reveals the checkpointed offset on a
        # restart, so the FIRST micro-batch of each query run plans to
        # the true head UNLESS a progress hint clamps it (above); the
        # cap engages from the second batch on, once partitions()/
        # commit() has taught the reader its position — measured
        # engine behavior, pinned in tests/test_cdf_stream.py.
        if self._pos is None and self._maxv:
            hint = self._read_progress()
            if hint is not None:
                head = min(head, max(hint, self._start) + self._maxv)
        if self._pos is not None and self._maxv:
            head = min(head, self._pos + self._maxv)
        if self._pos is not None:
            head = max(head, self._pos)
        self._pos = head
        return {"version": head}

    def partitions(self, start: dict, end: dict):
        a, b = int(start["version"]), int(end["version"])
        self._pos = max(self._pos or 0, b)
        self._write_progress(self._pos)
        if a == b:
            return []
        log = self._log()
        # column mapping against the END version's schema — replay-
        # deterministic (the head may rename later; this plan must
        # re-produce byte-identical batches on restart)
        end_m = log.manifest(b, resolve=False)
        aliases, dropped = _schema_mapping((end_m or {}).get("schema"))
        declared = {f["name"] for f in self._schema_json["fields"]}
        # a live column the declared schema does not know (rename or
        # add AFTER stream start) is a mid-stream schema change:
        # refuse loudly like Delta rather than silently NULL-pad
        live = {
            f["name"]
            for f in ((end_m or {}).get("schema") or {}).get("fields", [])
            if not ((f.get("metadata") or {}).get("dropped"))
        }
        unknown = live - declared
        if unknown:
            raise RuntimeError(
                f"cdf stream({self._table}): column(s) {sorted(unknown)} "
                "appeared after the stream started (rename/add) — "
                "restart the stream to pick up the new schema"
            )
        rename = {a: lv for lv, als in aliases.items() for a in als}
        parts = []
        for step in log.steps(a, b):
            for path, pvals, dv in step["dirs"]:
                parts.append(
                    CdfPartition(
                        path,
                        pvals,
                        step["version"],
                        step["change_type"],
                        rename,
                        self._schema_json,
                        dv=dv,
                        table_path=log.table_path,
                        filesystem=log.fs,
                    )
                )
        return parts

    def commit(self, end: dict) -> None:
        self._pos = max(self._pos or 0, int(end["version"]))

    @staticmethod
    def _project(tbl, partition, target):
        """One Arrow table → the declared stream schema: physical→live
        renames, partition-value constants, _change_type/_commit_version
        literals, NULL-fill for evolved-away columns, casts."""
        import pyarrow as pa

        have = {
            partition.rename.get(n, n): tbl.column(n)
            for n in tbl.column_names
        }
        n = len(tbl)
        cols = []
        for field in target:
            if field.name == "_commit_version":
                col = pa.array([partition.version] * n, pa.int64())
            elif field.name == "_change_type" and field.name not in have:
                col = pa.array([partition.change_type] * n, pa.string())
            elif field.name in have:
                col = have[field.name].cast(field.type)
            elif partition.part_values and field.name in partition.part_values:
                col = pa.array(
                    [partition.part_values[field.name]] * n
                ).cast(field.type)
            else:
                col = pa.nulls(n, field.type)
            cols.append(col)
        return pa.table(cols, schema=target)

    def read(self, partition: CdfPartition):
        import pyarrow as pa
        import pyarrow.dataset as ds

        target = _arrow_schema(partition.schema_json)
        fs = partition.filesystem
        dataset = ds.dataset(
            partition.path, format="parquet", filesystem=fs
        )
        n_out = 0
        if partition.dv:
            # positional masks address (table-root-relative file path,
            # row index within the file) — Spark's
            # _metadata.row_index identity.  Deletes are idempotent,
            # so the union of applying masks filters once per file.
            import pyarrow.compute as pc

            masks: dict[str, set] = {}
            for mask_path in partition.dv:
                mt = ds.dataset(
                    mask_path, format="parquet", filesystem=fs
                ).to_table(columns=["file", "pos"])
                for f, pos in zip(
                    mt.column("file").to_pylist(),
                    mt.column("pos").to_pylist(),
                ):
                    masks.setdefault(f, set()).add(pos)
            base = partition.table_path or partition.path
            for frag in dataset.get_fragments():
                tbl = frag.to_table()
                file_id = posixpath.relpath(frag.path, base)
                drop = masks.get(file_id)
                if drop:
                    keep = pc.invert(
                        pc.is_in(
                            pa.array(range(len(tbl)), pa.int64()),
                            value_set=pa.array(
                                sorted(drop), pa.int64()
                            ),
                        )
                    )
                    tbl = tbl.filter(keep)
                out = self._project(tbl, partition, target)
                n_out += len(out)
                yield from out.to_batches()
        else:
            for batch in dataset.to_batches():
                out = self._project(
                    pa.Table.from_batches([batch]), partition, target
                )
                n_out += len(out)
                yield from out.to_batches()
        if n_out == 0:
            # an empty dir still contributes schema-stable emptiness
            yield from pa.table(
                [pa.nulls(0, f.type) for f in target], schema=target
            ).to_batches()


class CdfDataSource(DataSource):
    """``spark.readStream.format("warehouse_cdf")`` — register once per
    session via :func:`register_cdf_source`."""

    @classmethod
    def name(cls) -> str:
        return "warehouse_cdf"

    def schema(self):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        log = _PlainLog(
            self.options["root"],
            self.options["table"],
            str(self.options.get("catalog", "false")).lower() == "true",
            fs_factory=self.options.get("fs_factory") or None,
        )
        sj = log.head_schema_json()
        if sj is None:
            raise ValueError(
                f"warehouse_cdf: table {self.options['table']} has no "
                "committed schema to stream (write it once first, or "
                "supply .schema(...) explicitly)"
            )
        live = [
            f
            for f in StructType.fromJson(sj).fields
            if not (f.metadata or {}).get("dropped")
        ]
        return StructType(
            live
            + [
                StructField("_change_type", StringType(), True),
                StructField("_commit_version", LongType(), True),
            ]
        )

    def streamReader(self, schema) -> CdfStreamReader:
        return CdfStreamReader(schema.jsonValue(), dict(self.options))


def register_cdf_source(spark) -> None:
    """Idempotent per-session registration."""
    spark.dataSource.register(CdfDataSource)

"""Warehouse filesystem layer — the JVM Hadoop FileSystem API.

The reference's warehouse is network storage by construction
(TimescaleDB behind a connection string, docker-compose.yaml:307); the
Spark-native equivalent must treat its warehouse root the same way —
an ``hdfs://`` / ``s3a://`` / ``abfs://`` URI, not a local directory.
``os.path`` / ``shutil`` silently answer "does not exist" for every
remote scheme, which would turn each incremental append into a full
overwrite and break staging recovery exactly when it matters.

So every metadata operation the warehouse performs (existence, listing,
delete, atomic promote) goes through ``org.apache.hadoop.fs.FileSystem``
— the same client Spark's own scans use, resolved per-path so mixed
schemes work and Hadoop's FileSystem cache keeps it one client per
scheme.  These are driver-side METADATA calls (same cost class as the
file listing Spark already performs to plan a scan), never data moves —
except ``rename`` on object stores, where a directory rename is a
server-side copy; a real S3 deployment would put a table format
(Delta/Iceberg) under the warehouse instead, as the Warehouse docstring
notes.

Pattern proven in ``operators/partitioning.py`` (_hadoop_file_size);
this module is the shared home for the rest of the verbs.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def scratch_dir(
    spark: SparkSession, prefix: str, cleanup_atexit: bool = False
) -> str:
    """A fresh driver-local scratch directory for transient warehouse
    state (harness queries, test sinks).

    Derives the base from the cluster's configured scratch space —
    ``spark.local.dir`` then ``SPARK_LOCAL_DIRS`` (first entry of the
    comma list; that's where Spark itself spills) — falling back to the
    system tempdir only when neither is set.  A bare
    ``tempfile.mkdtemp()`` would silently land on ``/tmp`` even on
    clusters whose root disk is tiny and whose scratch volumes are the
    point of ``spark.local.dir``.

    ``cleanup_atexit`` removes the directory at interpreter exit — for
    callers whose result DataFrame is lazily read FROM the scratch dir
    and must outlive the calling function (the gate/bench harness
    queries); callers with a bounded lifetime should ``rmtree`` in a
    ``finally`` instead.
    """
    base = spark.conf.get("spark.local.dir", None) or os.environ.get(
        "SPARK_LOCAL_DIRS"
    )
    base = base.split(",")[0].strip() if base else tempfile.gettempdir()
    os.makedirs(base, exist_ok=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    if cleanup_atexit:
        import atexit
        import shutil

        atexit.register(shutil.rmtree, path, True)
    return path


def join_uri(base: str, *parts: str) -> str:
    """Join path segments onto a (possibly scheme-qualified) base URI.

    ``os.path.join`` would mangle ``s3a://bucket`` on Windows-style
    separators and drop the base entirely for absolute segments; URI
    paths are always ``/``-separated.
    """
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out


class HadoopFS:
    """Thin wrapper over the JVM Hadoop FileSystem for one SparkSession.

    Every method resolves the FileSystem from the path's own scheme
    (``Path.getFileSystem``), so one instance serves ``file:`` staging
    dirs and ``s3a:`` targets alike.
    """

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _jpath(self, uri: str):
        return self._jvm.org.apache.hadoop.fs.Path(uri)

    def _fs(self, jpath):
        return jpath.getFileSystem(self._conf)

    @staticmethod
    def _local_path(uri: str) -> str | None:
        """The plain OS path when ``uri`` is local, else None.

        LOCAL FAST PATH (r12): every py4j Hadoop-FS call is a socket
        roundtrip costing tens of milliseconds — the round-12 1M-entry
        probe measured segmented-append commits at 12 MINUTES, ~85% of
        it ``fs.open``/``IOUtils.toString`` roundtrips re-parsing
        evicted segment files.  Local paths (bare, or ``file:`` URIs)
        answer metadata and small-file IO through the OS directly —
        same semantics, ~1000x cheaper — while every remote scheme
        (``hdfs:``/``s3a:``/...) keeps the Hadoop client, which is the
        whole point of this layer."""
        if uri.startswith("file:"):
            from urllib.parse import urlparse

            return urlparse(uri).path or None
        if "://" in uri:
            return None
        return uri

    @staticmethod
    def _drop_stale_crc(lp: str) -> None:
        """Hadoop's local FS keeps ``.name.crc`` sidecars and REFUSES
        reads whose checksum mismatches — a Python-side rewrite must
        drop the stale sidecar or a later JVM read of the same file
        fails loudly on valid content."""
        crc = os.path.join(
            os.path.dirname(lp), f".{os.path.basename(lp)}.crc"
        )
        try:
            os.remove(crc)
        except OSError:
            pass

    # -- predicates -----------------------------------------------------

    def exists(self, uri: str) -> bool:
        lp = self._local_path(uri)
        if lp is not None:
            return os.path.exists(lp)
        p = self._jpath(uri)
        return bool(self._fs(p).exists(p))

    def is_dir(self, uri: str) -> bool:
        lp = self._local_path(uri)
        if lp is not None:
            return os.path.isdir(lp)
        p = self._jpath(uri)
        fs = self._fs(p)
        return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())

    def contains_file_with_suffix(self, uri: str, suffix: str = ".parquet") -> bool:
        """True iff any file under ``uri`` (recursively) ends in
        ``suffix``.  Uses the batched remote iterator with an early
        exit — on a large table this answers after the FIRST data file,
        not a full driver-side listing of the tree (the ``os.walk``
        failure mode this replaces)."""
        lp = self._local_path(uri)
        if lp is not None:
            for _root, _dirs, files in os.walk(lp):
                if any(f.endswith(suffix) for f in files):
                    return True
            return False
        p = self._jpath(uri)
        fs = self._fs(p)
        if not fs.exists(p):
            return False
        it = fs.listFiles(p, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(suffix):
                return True
        return False

    # -- listing --------------------------------------------------------

    def list_subdirs(self, uri: str) -> list[str]:
        """Names (not full paths) of immediate subdirectories."""
        lp = self._local_path(uri)
        if lp is not None:
            try:
                with os.scandir(lp) as it:
                    return sorted(e.name for e in it if e.is_dir())
            except OSError:
                return []
        p = self._jpath(uri)
        fs = self._fs(p)
        if not fs.exists(p):
            return []
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(p)
            if st.isDirectory()
        )

    def list_files(self, uri: str) -> list[str]:
        """Names (not full paths) of immediate plain files."""
        lp = self._local_path(uri)
        if lp is not None:
            try:
                with os.scandir(lp) as it:
                    return sorted(e.name for e in it if e.is_file())
            except OSError:
                return []
        p = self._jpath(uri)
        fs = self._fs(p)
        if not fs.exists(p):
            return []
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(p)
            if st.isFile()
        )

    def glob_names(self, uri: str, pattern: str) -> list[str]:
        """Names of files matching ``pattern`` directly under ``uri``,
        filtered SERVER-SIDE via ``globStatus`` — one roundtrip whose
        cost scales with the MATCHES, not the directory size.  The
        per-commit hot path needs this: a segmented table's ``_log``
        holds thousands of immutable seg files, and statting them all
        through py4j just to find the handful of ``v*.json`` version
        files made every commit O(log-dir files) (round-11 1M-entry
        probe: ~1 s per listing)."""
        lp = self._local_path(uri)
        if lp is not None:
            import fnmatch

            try:
                with os.scandir(lp) as it:
                    return sorted(
                        e.name
                        for e in it
                        if fnmatch.fnmatchcase(e.name, pattern)
                    )
            except OSError:
                return []
        p = self._jpath(uri.rstrip("/") + "/" + pattern)
        fs = self._fs(p)
        st = fs.globStatus(p)
        if st is None:
            return []
        return sorted(s.getPath().getName() for s in st)

    def mtime(self, uri: str) -> float:
        """Modification time of the path in epoch seconds (0.0 when
        absent) — the basis for vacuum's writer-grace age check, same
        mechanism as Delta's vacuum file-age retention."""
        lp = self._local_path(uri)
        if lp is not None:
            try:
                return os.stat(lp).st_mtime
            except OSError:
                return 0.0
        p = self._jpath(uri)
        fs = self._fs(p)
        if not fs.exists(p):
            return 0.0
        return fs.getFileStatus(p).getModificationTime() / 1000.0

    def tree_files(self, uri: str) -> list[str]:
        """Paths, relative to ``uri``, of every plain file under it
        (sorted; empty for an absent path)."""
        lp = self._local_path(uri)
        if lp is not None:
            return sorted(
                os.path.relpath(os.path.join(root, f), lp)
                for root, _dirs, files in os.walk(lp)
                for f in files
            )
        p = self._jpath(uri)
        fs = self._fs(p)
        if not fs.exists(p):
            return []
        base = len(fs.getFileStatus(p).getPath().toUri().getPath().rstrip("/"))
        it = fs.listFiles(p, True)
        out = []
        while it.hasNext():
            out.append(it.next().getPath().toUri().getPath()[base + 1:])
        return sorted(out)

    def tree_bytes(self, uri: str) -> int:
        """Total bytes under ``uri`` via ``getContentSummary`` — one
        filesystem call for the whole tree (HDFS answers from the
        namenode; object stores list server-side), never a driver loop
        over files.  0 for an absent path."""
        lp = self._local_path(uri)
        if lp is not None:
            total = 0
            for root, _dirs, files in os.walk(lp):
                for f in files:
                    try:
                        total += os.stat(os.path.join(root, f)).st_size
                    except OSError:
                        pass
            return total
        p = self._jpath(uri)
        fs = self._fs(p)
        if not fs.exists(p):
            return 0
        return int(fs.getContentSummary(p).getLength())

    # -- small-file IO (commit logs / manifests, never data) ------------

    def write_text(self, uri: str, text: str, overwrite: bool = False) -> None:
        """Write a small UTF-8 file through the Hadoop FileSystem (works
        on any scheme).  For manifests and commit markers only — data
        goes through Spark writers.  The local fast path keeps the CAS
        semantics: ``open(mode='x')`` is POSIX O_EXCL create-exclusive,
        the same atomic refusal ``fs.create(p, false)`` gives."""
        lp = self._local_path(uri)
        if lp is not None:
            d = os.path.dirname(lp)
            if d:
                os.makedirs(d, exist_ok=True)
            with open(
                lp, "w" if overwrite else "x", encoding="utf-8"
            ) as f:
                f.write(text)
            self._drop_stale_crc(lp)
            return
        p = self._jpath(uri)
        fs = self._fs(p)
        out = fs.create(p, overwrite)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, uri: str) -> str:
        """Read a small UTF-8 file through the Hadoop FileSystem."""
        lp = self._local_path(uri)
        if lp is not None:
            with open(lp, encoding="utf-8") as f:
                return f.read()
        p = self._jpath(uri)
        fs = self._fs(p)
        stream = fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    # -- mutation -------------------------------------------------------

    def delete(self, uri: str) -> None:
        """Recursive delete; absent path is a no-op (idempotent)."""
        lp = self._local_path(uri)
        if lp is not None:
            import shutil

            if os.path.isdir(lp):
                shutil.rmtree(lp, ignore_errors=True)
            else:
                try:
                    os.remove(lp)
                except OSError:
                    pass
                self._drop_stale_crc(lp)
            return
        p = self._jpath(uri)
        self._fs(p).delete(p, True)

    def rename(self, src: str, dst: str) -> None:
        """Directory rename — the atomic promote of a two-phase rewrite.

        Metadata-only on HDFS/local; a copy on raw object stores (see
        module docstring).  Hadoop's rename silently moves ``src``
        INSIDE ``dst`` when ``dst`` is an existing directory, so callers
        must delete ``dst`` first; a False return (missing parent,
        cross-FS move, dst-exists race) raises instead of corrupting the
        table silently."""
        s, d = self._jpath(src), self._jpath(dst)
        fs = self._fs(d)
        parent = d.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        if not fs.rename(s, d):
            raise IOError(f"rename failed: {src} -> {dst}")

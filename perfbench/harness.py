"""Process hygiene, the Spark session, timing helpers and the tracer.

Everything a run creates lives under one fresh work directory inside the
checkout; ``Run.start_spark`` sets the environment before Spark starts so
that the JVM, its scratch space and the Python workers use it too.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "iot_elt_airflow_mongo_timescaledb_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def cpus() -> int:
    return max(1, min(os.cpu_count() or 1, 4))


def loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Run:
    """One benchmark process: work directory, Spark session, records."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = os.path.join(
            WORK_ROOT, f"{workload}-{seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
        )
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.load_start = loadavg()

    # -- lifecycle ------------------------------------------------------

    def start_spark(self):
        os.makedirs(self.work)
        tmp = self.dir("tmp")
        env = {
            "TMPDIR": tmp,
            "TZ": "UTC",
            "SPARK_LOCAL_DIRS": self.dir("spark-local"),
            "SPARK_WAREHOUSE_DIR": self.dir("spark-warehouse"),
            "SPARK_DRIVER_MEM": "3g",
            # the Python workers import the package (the warehouse_cdf
            # DataSource reader runs there)
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            # every JVM (the spark-submit launcher too) keeps its scratch
            # files here and writes no /tmp/hsperfdata_* file
            "JAVA_TOOL_OPTIONS": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
            "PYSPARK_PYTHON": sys.executable,
        }
        os.environ.update(env)
        time.tzset()
        tempfile.tempdir = tmp
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from iot_elt_airflow_mongo_timescaledb_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cpus=cpus())
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.tracer = Tracer(self.spark, self.dir("pyudf"))
            self.tracer.time_pandas_udfs()
        return self.spark

    def dir(self, *parts) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self):
        """Stop Spark, wait for its JVM to exit, remove the work dir."""
        if self.tracer is not None:
            self.tracer.unpatch()
        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway = sc._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            with contextlib.suppress(Exception):
                gateway.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)

    # -- operations -----------------------------------------------------

    def op(self, fn, *args, **kwargs):
        """Time one attempted operation; returns (seconds, result).  An
        operation that raises counts as failed, and the error ends the
        run."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            self.failed += 1
            raise
        return time.perf_counter() - t, out

    def write_record(self, record: dict) -> str:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir,
            f"{self.workload}-seed{self.seed}-trace{int(self.trace)}.json",
        )
        with open(path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True, default=str)
        return path


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


def span(run: Run, name: str):
    """A tracer span in a traced run, a no-op otherwise."""
    if run.tracer is None:
        return contextlib.nullcontext({})
    return run.tracer.span(name)


_ABSENT = object()
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


class Tracer:
    """In-memory spans around calls into the engine's layers.

    Each span runs under its own Spark job group, so the jobs Spark ran
    while it was the innermost span are attributed to it (self jobs);
    the parent's group is restored on exit.  ``wrap`` replaces a
    function at the name its callers resolve and ``unpatch`` puts every
    original back."""

    def __init__(self, spark, udf_dir: str):
        self.sc = spark.sparkContext
        self.udf_dir = udf_dir
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        n = next(self._ids)
        rec = {
            "id": n,
            "name": name,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else name,
            "group": f"perfbench-{os.getpid()}-{n}",
            "start": time.perf_counter() - self.t0,
        }
        # the thread's current group (a parent span's, or the one a
        # streaming query set on its own thread) comes back on exit
        saved = [(k, self.sc.getLocalProperty(k)) for k in _GROUP_PROPS]
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()
            rec["jobs"], rec["tasks"] = self._jobs(rec["group"])
            for k, v in saved:
                self.sc.setLocalProperty(k, v)
            self.spans.append(rec)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _jobs(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(ids), tasks

    def wrap(self, owner, attr: str, name: str):
        if any(o is owner and a == attr for o, a, _ in self._patches):
            return  # already wrapped (two workloads share one process)
        if isinstance(owner, type) and attr in owner.__dict__:
            raw = owner.__dict__[attr]
        else:  # a module attribute, or a method the class inherits
            raw = getattr(owner, attr)
        fn = raw.__func__ if isinstance(raw, (staticmethod, classmethod)) else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        if isinstance(raw, staticmethod):
            traced = staticmethod(traced)
        elif isinstance(raw, classmethod):
            traced = classmethod(traced)
        self._patch(owner, attr, traced)

    def time_pandas_udfs(self):
        """Time the worker side of ``mapInPandas``/``applyInPandas``:
        the submitted function is wrapped so each worker appends its
        busy seconds to a file under ``udf_dir``."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.group import GroupedData

        udf_dir = self.udf_dir
        orig_map = DataFrame.mapInPandas
        orig_apply = GroupedData.applyInPandas

        @functools.wraps(orig_map)
        def map_in_pandas(df, func, schema, *args, **kwargs):
            return orig_map(df, _timed_map(func, udf_dir), schema, *args, **kwargs)

        @functools.wraps(orig_apply)
        def apply_in_pandas(gd, func, schema, *args, **kwargs):
            return orig_apply(gd, _timed_apply(func, udf_dir), schema, *args, **kwargs)

        self._patch(DataFrame, "mapInPandas", map_in_pandas)
        self._patch(GroupedData, "applyInPandas", apply_in_pandas)

    def _patch(self, owner, attr: str, new):
        self._patches.append((owner, attr, owner.__dict__.get(attr, _ABSENT)))
        setattr(owner, attr, new)

    def udf_seconds(self) -> float:
        """Worker seconds recorded so far (files are consumed)."""
        total = 0.0
        for name in os.listdir(self.udf_dir):
            path = os.path.join(self.udf_dir, name)
            with open(path) as f:
                total += sum(float(x) for x in f.read().split())
            os.remove(path)
        return total

    def unpatch(self):
        while self._patches:
            owner, attr, raw = self._patches.pop()
            if raw is _ABSENT:
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)

    # -- reports --------------------------------------------------------

    def children(self) -> dict:
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self) -> list[tuple[dict, float]]:
        kids = self.children()
        out = []
        for s in self.spans:
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], ()))
            out.append((s, (s["end"] - s["start"]) - covered))
        return out

    def layer_table(self) -> dict:
        """layer -> {self_s, jobs, tasks, calls}; layer = name prefix."""
        table: dict = {}
        for s, self_s in self.self_times():
            layer = s["name"].split(".", 1)[0]
            row = table.setdefault(
                layer, {"self_s": 0.0, "jobs": 0, "tasks": 0, "calls": 0}
            )
            row["self_s"] += self_s
            row["jobs"] += s["jobs"]
            row["tasks"] += s["tasks"]
            row["calls"] += 1
        return table

    def total(self, name: str, key: str = "wall", root: str | None = None) -> float:
        """Sum over the outermost spans called ``name`` (or ``name.*``)
        — only those under a root span called ``root`` when given — of
        their inclusive wall (``key="wall"``), or of the jobs or tasks
        of their whole subtree (``"jobs"``, ``"tasks"``)."""
        kids = self.children()
        by_id = {s["id"]: s for s in self.spans}

        def match(s):
            return s["name"] == name or s["name"].startswith(name + ".")

        def nested(s):
            p = by_id.get(s["parent"])
            while p is not None:
                if match(p):
                    return True
                p = by_id.get(p["parent"])
            return False

        def subtree(s, k):
            return s[k] + sum(subtree(c, k) for c in kids.get(s["id"], ()))

        total = 0
        for s in self.spans:
            if not match(s) or nested(s) or (root is not None and s["root"] != root):
                continue
            total += s["end"] - s["start"] if key == "wall" else subtree(s, key)
        return total

    def count(self, name: str, root: str | None = None) -> int:
        return sum(
            1 for s in self.spans
            if s["name"] == name and (root is None or s["root"] == root)
        )

    def print_table(self, out=sys.stderr):
        print(f"{'layer':<16}{'self_s':>10}{'jobs':>8}{'tasks':>8}{'calls':>8}", file=out)
        for layer, row in sorted(self.layer_table().items()):
            print(
                f"{layer:<16}{row['self_s']:>10.3f}{row['jobs']:>8}"
                f"{row['tasks']:>8}{row['calls']:>8}",
                file=out,
            )


def _append_seconds(udf_dir: str, seconds: float):
    with open(os.path.join(udf_dir, f"w{os.getpid()}.t"), "a") as f:
        f.write(f"{seconds!r}\n")


def _timed_map(func, udf_dir):
    def timed(iterator):
        busy = 0.0
        t = time.perf_counter()
        for out in func(iterator):
            busy += time.perf_counter() - t
            yield out
            t = time.perf_counter()
        busy += time.perf_counter() - t
        _append_seconds(udf_dir, busy)

    return timed


def _timed_apply(func, udf_dir):
    import inspect

    if len(inspect.signature(func).parameters) == 2:

        def timed_key(key, pdf):
            t = time.perf_counter()
            out = func(key, pdf)
            _append_seconds(udf_dir, time.perf_counter() - t)
            return out

        return timed_key

    def timed(pdf):
        t = time.perf_counter()
        out = func(pdf)
        _append_seconds(udf_dir, time.perf_counter() - t)
        return out

    return timed


# ---------------------------------------------------------------------------
# on-disk counters
# ---------------------------------------------------------------------------


def local_path(uri: str) -> str:
    """``file:///x/y`` (as ``DataFrame.inputFiles`` gives it) -> ``/x/y``."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


def disk_state(root: str) -> dict:
    """path -> size for every file under ``root`` (crc side files
    skipped)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".crc"):
                continue
            p = os.path.join(d, f)
            with contextlib.suppress(OSError):
                out[p] = os.path.getsize(p)
    return out


def disk_delta(before: dict, after: dict) -> dict:
    """Commits (new manifest/catalog versions) and data files written."""
    new = [p for p in after if p not in before]
    commits = sum(
        1
        for p in new
        if (os.sep + "_log" + os.sep in p and os.path.basename(p).startswith("v"))
        or (os.sep + "_catalog" + os.sep in p and os.path.basename(p).startswith("c"))
    )
    data = [p for p in new if p.endswith(".parquet")]
    return {
        "commits": commits,
        "files_written": len(data),
        "bytes_written": sum(after[p] for p in data),
    }

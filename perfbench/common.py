"""Shared benchmark machinery: process environment, the Spark session,
per-op Spark job counts, spans, percentiles and the streaming-checkpoint
log parser.

Importing this module starts nothing; ``Bench`` owns the session and
everything the run leaves behind, and ``Bench.close`` stops it all.
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
DRIVER_MEM = "1g"


def prepare_environment() -> None:
    """Point every file Spark, the JVM and Python temp files write into the
    checkout's work directory, and size the driver for a 4-core box. Must
    run before pyspark launches the JVM."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("local", "tmp", "cell_index", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CELL_INDEX_CACHE"] = os.path.join(WORK, "cell_index")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"  # collected timestamps come back as UTC wall time
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR


def host_record() -> dict:
    """nproc, memory and co-tenant JVMs, checked before our own JVM starts
    (the same pre-flight check as the root bench harness)."""
    from bench import cotenant_jvms

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gib": round(mem_kb / 2**20, 1),
        "cotenant_jvms": cotenant_jvms(),
    }


def parquet_bytes(path: str) -> int:
    """Total size of the parquet files under ``path``."""
    return sum(size for size, _ in parquet_files(path).values())


def parquet_files(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} of the parquet files under ``path``, left
    out of Spark's ``_temporary`` staging area. A file deleted while the
    tree is walked is skipped."""
    out: dict[str, tuple[int, int]] = {}
    for d, dirs, fs in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith("_")]
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_files(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> list[str]:
    """Files of ``after`` that are new or rewritten since ``before``."""
    return sorted(p for p, sig in after.items() if before.get(p) != sig)


def parquet_rows(path: str) -> int:
    """Row count from a parquet file's footer."""
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


class FileWatcher:
    """Records every parquet file that appears under ``path`` while it
    runs, with its size and footer row count, by listing the tree every
    ``interval`` seconds: {file: (bytes, rows)}. A writer that replaces its
    output every batch leaves each batch's files in place for a whole
    trigger interval, far longer than ``interval``."""

    def __init__(self, path: str, interval: float = 0.05):
        self.path, self.interval = path, interval
        self.seen: dict[str, tuple[int, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(self.interval)

    def poll(self) -> None:
        for p, (size, _) in parquet_files(self.path).items():
            if p not in self.seen:
                try:
                    self.seen[p] = (size, parquet_rows(p))
                except (OSError, ValueError):  # replaced by the next batch meanwhile
                    pass

    def start(self) -> "FileWatcher":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join()
        self.poll()


# -- statistics --------------------------------------------------------------

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank; the epsilon absorbs float error in pct * n."""
    return max(1, math.ceil(pct * n / 100.0 - 1e-9))


def nearest_rank(sorted_vals: list[float], pct: float) -> float:
    return sorted_vals[_rank(pct, len(sorted_vals)) - 1]


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest ladder percentile with at least ``min_beyond`` samples
    above its nearest-rank position: (percentile, value, sample count).
    Below ``2 * min_beyond`` samples no percentile qualifies; the median
    is returned and the caller reports the sample count with it."""
    vals = sorted(values)
    n = len(vals)
    if not n:
        raise ValueError("no samples")
    for pct in TAIL_LADDER:
        k = _rank(pct, n)
        if n - k >= min_beyond:
            return pct, vals[k - 1], n
    return 50.0, nearest_rank(vals, 50.0), n


def median(values: list[float]) -> float:
    return statistics.median(values)


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    sid: int


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing and
    costs one attribute test; enabled, the time spent in the recorder's
    own bookkeeping is summed in ``bookkeeping_s``."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, 0.0, 0.0, stack[-1] if stack else None, op, sid))
        stack.append(sid)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            stack.pop()
            s = self.spans[sid]
            s.start, s.end = t1, t2
            self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def add(self, name: str, start: float, end: float, op: str, parent: int | None = None) -> int:
        """Record a span measured elsewhere (generator files, Spark batches)."""
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, start, end, parent, op, sid))
        return sid

    def self_times(self) -> dict[str, list[float]]:
        """{span name: [self time per span]}: duration minus the part of the
        span's interval its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.setdefault(s.name, []).append(s.end - s.start - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# -- streaming checkpoint logs ----------------------------------------------


def parse_source_log(source_dir: str) -> dict[str, int]:
    """{file path: source log id} from a file source's metadata log
    (``<ckpt>/sources/0``). Every 10th log id Spark compacts the log into
    ``<id>.compact``, which repeats all earlier entries; each entry carries
    its own id (as ``batchId``), so every plain and compacted file is read.
    The source's log id advances only when new files arrive, so it is not
    the query's batch id: ``file_batches`` maps one to the other."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_dir):
        return out
    for name in os.listdir(source_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # temp files being written, crc files
        with open(os.path.join(source_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # first line is the log version, "v1"
            if line.strip():
                entry = json.loads(line)
                out[entry["path"]] = int(entry["batchId"])
    return out


def parse_offsets_log(offsets_dir: str) -> dict[int, int]:
    """{query batchId: the file source's log offset it read up to} from
    ``<ckpt>/offsets/<batchId>``: a version line, the batch metadata, then
    one offset line per source (``{"logOffset": N}`` for a file source)."""
    out: dict[int, int] = {}
    if os.path.isdir(offsets_dir):
        for name in os.listdir(offsets_dir):
            if name.isdigit():
                with open(os.path.join(offsets_dir, name)) as fh:
                    lines = fh.read().splitlines()
                if len(lines) >= 3:
                    out[int(name)] = int(json.loads(lines[2])["logOffset"])
    return out


def file_batches(ckpt: str) -> dict[str, int]:
    """{file path: the query batchId that read it}: the first batch whose
    source offset reaches the file's source log id."""
    planned = sorted(parse_offsets_log(os.path.join(ckpt, "offsets")).items())
    out: dict[str, int] = {}
    for path, log_id in parse_source_log(os.path.join(ckpt, "sources", "0")).items():
        for batch, offset in planned:
            if offset >= log_id:
                out[path] = batch
                break
    return out


def commit_times(commits_dir: str) -> dict[int, float]:
    """{batchId: mtime of <ckpt>/commits/<batchId>} — when the batch ended."""
    out: dict[int, float] = {}
    if os.path.isdir(commits_dir):
        for name in os.listdir(commits_dir):
            if name.isdigit():
                out[int(name)] = os.path.getmtime(os.path.join(commits_dir, name))
    return out


# -- the session and its accounting -----------------------------------------


def _descendants(pid: int) -> list[int]:
    """Live descendants of ``pid`` (the JVM's Python worker daemon and its
    forked workers), from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z":
                parent[int(d)] = int(fields[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; kill what is left at the deadline."""
    deadline = time.time() + timeout
    while pids and time.time() < deadline:
        alive = _alive(pids)
        pids = [p for p in pids if p in alive]
        if pids:
            time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    while _alive(pids) and time.time() < deadline + 5:
        time.sleep(0.05)


def _alive(pids: list[int]) -> set[int]:
    alive = set()
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                    alive.add(p)
        except OSError:
            pass
    return alive


class Bench:
    """One workload run: the session, span recorder, per-op Spark counts
    and op accounting."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, t_start: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer(trace)
        self.t_start = t_start
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark_counts: list[tuple[int, int, int]] = []
        self._lock = threading.Lock()
        self.spark = None
        self.session_s = 0.0  # process start → session up
        self.work = WORK

    def start_session(self):
        from sport_data_pipeline_spark.session import get_session

        self.spark = get_session(
            f"perfbench-{self.workload}",
            cpus=CPUS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            },
        )
        self.session_s = time.perf_counter() - self.t_start
        return self.spark

    # -- ops ---------------------------------------------------------------

    @contextmanager
    def job_group(self, op: str):
        """Tag every Spark job this thread starts with ``op`` (job groups are
        thread-local under pinned-thread mode), then record the op's exact
        job / stage / task counts from the status tracker."""
        sc = self.spark.sparkContext
        sc.setJobGroup(op, op)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spark_counts.append(self.group_counts(op))

    def group_counts(self, group: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks:
                    stages += 1
                    tasks += si.numTasks
        return len(jobs), stages, tasks

    def fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what[:300])

    def count_op(self) -> None:
        with self._lock:
            self.attempted += 1

    # -- results -----------------------------------------------------------

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus this Python process."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        gw = self._gateway_proc()
        if gw is not None:
            with open(f"/proc/{gw.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def spark_layer(self) -> dict[str, float]:
        if not self.spark_counts:
            return {}
        n = len(self.spark_counts)
        return {
            "spark.jobs_per_op": sum(c[0] for c in self.spark_counts) / n,
            "spark.stages_per_op": sum(c[1] for c in self.spark_counts) / n,
            "spark.tasks_per_op": sum(c[2] for c in self.spark_counts) / n,
        }

    @staticmethod
    def _gateway_proc():
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return getattr(gw, "proc", None) if gw is not None else None

    def close(self) -> None:
        """Stop the session and the gateway JVM, wait for it to exit, then
        for the Python workers it started."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # a dead JVM: still tear the gateway down
                pass
        gw = SparkContext._gateway
        proc = self._gateway_proc()
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            workers = _descendants(proc.pid)
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
            _wait_gone(workers, 10.0)
        SparkContext._gateway = None
        SparkContext._jvm = None

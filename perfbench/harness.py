"""Run-time plumbing for the benchmark: environment, Spark session
lifetime, in-memory tracing, peak-RSS sampling, CPU pinning and the
honest-rep cache reset."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import threading
import time
from pathlib import Path
from typing import List

from metrics import Span

CORES = 4
RSS_INTERVAL_S = 0.1  # RSS sampling period
RSS_RESCAN_S = 1.0  # how often the sampler re-lists the process tree


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(root: Path, work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and make the package importable by the workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written once at
    exit. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._next = 1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.perf_counter(), parent))

    def durations(self, name: str) -> List[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s._asdict()) + "\n")


# ---------------------------------------------------------------------------
# process tree: RSS sampling and CPU pinning
# ---------------------------------------------------------------------------


def descendants(root_pid: int) -> List[int]:
    """root_pid and every process below it, from /proc."""
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out = [root_pid]
    i = 0
    while i < len(out):
        out.extend(kids.get(out[i], ()))
        i += 1
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of the JVM and Python-worker tree (every
    process below this one) while an op is active; keeps the peak."""

    def __init__(self):
        self.peak = 0
        self._active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        pids: List[int] = []
        scanned = 0.0
        while not self._stop.wait(RSS_INTERVAL_S):
            if not self._active:
                continue
            now = time.monotonic()
            if now - scanned > RSS_RESCAN_S:
                pids = [p for p in descendants(me) if p != me]
                scanned = now
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    @contextlib.contextmanager
    def active(self):
        self._active = True
        try:
            yield
        finally:
            self._active = False

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def pin(cpus: set) -> None:
    """Pin this process, the JVM and every Python worker, all threads, to
    ``cpus`` (what ``taskset -a -p`` does). Two passes catch threads and
    workers started while the first pass ran."""
    for _ in range(2):
        for pid in descendants(os.getpid()):
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    os.sched_setaffinity(int(tid), cpus)
                except OSError:
                    pass


# ---------------------------------------------------------------------------
# the benchmark's Spark session
# ---------------------------------------------------------------------------


class Bench:
    """One run: the session, the tracer, the RSS sampler and the work
    directory. ``close`` stops the JVM and waits for it to exit."""

    def __init__(self, work: Path, trace: bool):
        self.work = work
        self.tracer = Tracer(trace)
        self.rss = RssSampler()
        self.spark = None
        self._jvm = None
        self.cpus = sorted(os.sched_getaffinity(0))
        if len(self.cpus) < CORES:
            raise RuntimeError(
                f"needs {CORES} CPUs for local[{CORES}], this process may use {len(self.cpus)}"
            )

    def start_session(self) -> float:
        from docling_japanese_books_spark.session import get_spark
        from pyspark import SparkContext

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", cores=CORES)
            self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm = getattr(SparkContext._gateway, "proc", None)
        return time.perf_counter() - t0

    def cached_relations(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def reset(self) -> int:
        """Drop every cache the previous op left (catalog cache and any
        persisted RDD); returns how many persisted RDDs there were."""
        left = self.cached_relations()
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        return left

    def fresh_dir(self, name: str) -> Path:
        d = self.work / name
        shutil.rmtree(d, ignore_errors=True)
        return d

    def close(self) -> None:
        self.rss.close()
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                if gw is not None:
                    with contextlib.suppress(Exception):
                        gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
        proc = self._jvm
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        # anything else this run started (Python workers) must be gone too
        deadline = time.monotonic() + 30
        while True:
            left = descendants(os.getpid())[1:]
            if not left or time.monotonic() > deadline:
                break
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, 15)
            time.sleep(0.2)

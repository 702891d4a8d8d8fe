"""Shared pieces of the benchmark: Spark session lifetime, the process-tree
RSS sampler, spans recorded around calls into the program's layers, Spark
status-store readers, and summary statistics."""

from __future__ import annotations

import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> list[float]:
    """[q1, median, q3] as statistics.quantiles(n=4) gives them."""
    values = list(values)
    if len(values) < 2:
        return [float(values[0])] * 3
    return [float(q) for q in statistics.quantiles(values, n=4)]


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summary(values) -> dict:
    q1, q2, q3 = quartiles(values)
    return {"n": len(values), "q1": q1, "median": q2, "q3": q3, "samples": list(values)}


# --------------------------------------------------------------------------
# process tree: RSS and clean-up
# --------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int | None = None) -> list[int]:
    stack, seen = [pid or os.getpid()], []
    while stack:
        try:
            kids = _children(stack.pop())
        except OSError:
            continue
        seen.extend(kids)
        stack.extend(kids)
    return seen


def tree_rss() -> list[tuple[str, int]]:
    """(command, RSS bytes) of each JVM and Python process descending from
    this one: the Spark driver and its Python workers. Other descendants are
    skipped: a child the JVM has forked but not yet exec'd shares the JVM's
    pages and would count them twice. Pages shared after fork count once
    per process."""
    out = []
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as fh:
                out.append((comm, int(fh.read().split()[1]) * PAGE))
        except (OSError, IndexError, ValueError):
            continue
    return out


class RssSampler:
    """Background sampler of the summed RSS of ``tree_rss``: ``peak`` in
    bytes and ``at_peak``, the per-process sample that set it."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.at_peak: list[tuple[str, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            sample = tree_rss()
            total = sum(rss for _comm, rss in sample)
            if total > self.peak:
                self.peak, self.at_peak = total, sample
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def reap_children(timeout: float = 30.0) -> None:
    """Terminate and wait for any process this one started that is still
    alive (a JVM or worker left over after an error)."""
    deadline = time.monotonic() + timeout
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while descendants() and time.monotonic() < deadline:
            for pid in _children(os.getpid()):
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
        if not descendants():
            return


# --------------------------------------------------------------------------
# Spark session
# --------------------------------------------------------------------------


def start_spark(work: str, cpus: int):
    """A session at local[cpus] whose scratch space stays under ``work``."""
    from quickwit_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap from the start: a growing heap made pass times
            # and RSS vary 10-15% from run to run
            "spark.driver.extraJavaOptions": "-Xms2g",
        },
    )


def stop_spark(spark, keep_jvm: bool = False) -> None:
    """Stop the session; unless ``keep_jvm``, also end the driver JVM and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if keep_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# --------------------------------------------------------------------------
# spans and Spark job accounting (traced runs only)
# --------------------------------------------------------------------------


class Spans:
    """Spans recorded around calls into the program: name, start, end and
    the enclosing span. ``patch`` wraps a function or method for the
    duration of a ``with`` block and restores it afterwards."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def wrap(self, owner, attr: str, around, on_result=None):
        """Replace ``owner.attr`` for the ``with`` block by a function that
        runs the original inside the context manager ``around(*args)``;
        ``on_result`` sees each call's return value."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with around(*args, **kwargs):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def patch(self, owner, attr: str, name, on_result=None):
        """Record a span per call of ``owner.attr``; ``name`` is a string or
        a function of the call's arguments returning the span name."""

        @contextmanager
        def around(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                yield

        return self.wrap(owner, attr, around, on_result)

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [r["end"] - r["start"] for r in self.records[since:]
                if r["name"] == name and r["end"] is not None]


class JobGroup:
    """Runs a block under a Spark job group and reads back the jobs it
    launched from the status tracker and the status store."""

    _n = 0

    def __init__(self, spark, label: str):
        JobGroup._n += 1
        self.sc = spark.sparkContext
        self.group = f"perfbench-{label}-{JobGroup._n}"
        self.jobs: list[dict] = []

    def __enter__(self) -> "JobGroup":
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        if exc[0] is None:
            self.jobs = job_stats(self.sc, self.group)

    def total(self, key: str) -> float:
        return sum(j[key] for j in self.jobs)


def job_stats(sc, group: str) -> list[dict]:
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        data = store.job(job_id)
        sub, end = data.submissionTime(), data.completionTime()
        seconds = (end.get().getTime() - sub.get().getTime()) / 1e3 if (
            sub.isDefined() and end.isDefined()) else 0.0
        shuffle = spill = 0
        info = tracker.getJobInfo(job_id)
        for stage in (info.stageIds if info else []):
            try:
                sd = store.lastStageAttempt(stage)
            except Py4JJavaError:  # a skipped stage that never ran
                continue
            shuffle += sd.shuffleWriteBytes()
            spill += sd.diskBytesSpilled()
        out.append({"job": job_id, "callsite": data.name(), "seconds": seconds,
                    "shuffle_write_bytes": shuffle, "spill_bytes": spill})
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and ``_`` files are
    metadata and not counted as data files."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += not n.startswith((".", "_"))
    return size, files

"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside: it starts and stops
the Spark JVM, samples process memory from ``/proc``, records spans
around calls the benchmark makes, and reads Spark's status stores
(the UI stays off; the stores are filled by listeners regardless).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import signal
import statistics
import subprocess
import threading
import time


def median(values):
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------

def start_session(work: str, cpus: int):
    """Launch a JVM and build the engine's session at ``local[cpus]``.

    The warehouse goes inside ``work``; the caller points Spark's local
    dirs and the JVM's and Python's temp dirs there through the
    environment, so a run touches nothing outside its checkout."""
    from datacanary_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        extra_conf={"spark.sql.warehouse.dir":
                    os.path.join(work, "warehouse")})


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None else None


def stop_session(spark) -> None:
    """Stop the session AND the JVM behind it, and wait for it to exit,
    so the next :func:`start_session` pays a full launch (what a one-shot
    CLI run pays) and no process outlives the run."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    workers = _descendants(proc.pid)
    try:
        gw.shutdown()
    finally:
        # the gateway JVM exits when its stdin closes; its Python
        # daemon and workers exit when their JVM sockets close
        proc.stdin.close()
        try:
            proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        _await_exit(workers)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie is not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _await_exit(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for processes this run does not parent (so cannot reap) to
    end; kill the ones still running after ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        pids = [p for p in pids if _alive(p)]
        if not pids or (killed and time.monotonic() > deadline + 5):
            return
        if not killed and time.monotonic() > deadline:
            for p in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            killed = True
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# Memory: peak resident memory of the JVM and every process below it
# ---------------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    kids, out, stack = _children_map(), [], [root]
    while stack:
        pid = stack.pop()
        out.extend(kids.get(pid, ()))
        stack.extend(kids.get(pid, ()))
    return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (MiB) of a process tree: the largest sum,
    over samples taken on a background thread, of the proportional set
    sizes of the JVM and every process below it (its Python daemon and
    workers). PSS counts a page the forked workers share with their
    daemon once, where summed RSS would count it once per worker."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self._peak_kb = 0
        self.peak_parts: dict[int, int] = {}  # pid -> PSS (KiB) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kids = _children_map()
        stack, rss = [self.root_pid], {}
        while stack:
            pid = stack.pop()
            rss[pid] = _pss_kb(pid)
            stack.extend(kids.get(pid, ()))
        if sum(rss.values()) > self._peak_kb:
            self._peak_kb = sum(rss.values())
            self.peak_parts = rss

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Tracing: spans kept in memory, written as JSON at exit
# ---------------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent) around the benchmark's calls into
    the engine. Disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)


# ---------------------------------------------------------------------------
# Spark counters from the status stores
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_TOTAL = re.compile(r"([\d.,]+)\s*([A-Za-z]+)?")

# SQL metric display name -> counter name
_SQL_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to run Python workers": "python_total_ms",
    "data sent to Python workers": "arrow_bytes_out",
    "data returned from Python workers": "arrow_bytes_in",
}


def _sql_total(text: str) -> float:
    """The total from a SQL metric's display string, e.g.
    ``'total (min, med, max ...)\\n3.0 s (...)'`` -> 3000.0 (ms)."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


class SparkCounters:
    """Jobs, stages, tasks, shuffle/spill bytes and Python-boundary SQL
    metrics of everything Spark ran between :meth:`mark` and
    :meth:`since`. Attribution is by id range, so jobs a call submits
    from its own Python threads (which do not inherit the caller's job
    group) still count; the benchmark runs one call at a time."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _jobs(self):
        return self._store.jobsList(self._empty)  # newest first

    def _stages(self):
        return self._store.stageList(self._empty, False, False,
                                     self._quantiles, self._empty)

    def mark(self) -> tuple[int, int, int]:
        self._bus.waitUntilEmpty()
        jobs, stages = self._jobs(), self._stages()
        execs = self._sql.executionsList()
        return (jobs.head().jobId() if jobs.size() else -1,
                stages.head().stageId() if stages.size() else -1,
                execs.apply(execs.size() - 1).executionId()
                if execs.size() else -1)

    def since(self, mark: tuple[int, int, int]) -> dict:
        self._bus.waitUntilEmpty()
        job0, stage0, exec0 = mark
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0,
               "spill_bytes": 0}
        it = self._jobs().iterator()
        while it.hasNext() and it.next().jobId() > job0:
            out["jobs"] += 1
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= stage0:
                break
            if s.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        for key in _SQL_METRICS.values():
            out[key] = 0.0
        execs = self._sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= exec0:
                break
            values = self._sql.executionMetrics(e.executionId())
            seen = set()
            metrics = e.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue  # AQE re-plans list one accumulator twice
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += _sql_total(v.get())
        return out

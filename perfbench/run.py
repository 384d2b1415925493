"""The repo benchmark: one closed-loop client driving one workload.

    python3 perfbench/run.py --workload curate|ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from the
seed, sets the engine up several times (JVM launch, session, models,
broadcast, Python workers), makes one cold call on the fresh session,
then repeats warm calls for at least ``--seconds``, each waiting for
the previous one. Every call's output is checked. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``; per-layer metrics
with ``--trace 1``, which also writes the spans to
``.bench_out/trace-<workload>-<seed>.json``).

Everything the run writes goes under ``.bench_work/`` (removed at
exit) and ``.bench_out/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3  # set-up repeats per run; setup_s is their median
_T0 = time.perf_counter()


def log(message: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {message}",
          file=sys.stderr, flush=True)


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Context:
    """What a workload's round sees: the live session, scratch dirs,
    the tracer, and the call/check bookkeeping."""

    def __init__(self, work: str, cpus: int, traced_run: bool):
        from harness import Tracer

        self.work, self.cpus = work, cpus
        self.spark = None
        self.counters = None
        self.tracer = Tracer(enabled=False)
        self.traced_run = traced_run
        self.attempted = self.failed = 0
        self.leaked = 0
        self.round_ok = True
        self.setups: list[dict] = []
        self._dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, "out", f"{self._dirs:04d}-{tag}")

    def timed(self, name: str, fn) -> float:
        """Wall seconds of ``fn()``, recorded as a span called ``name``."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.round_ok = False
            print(f"CHECK FAILED: {message}", file=sys.stderr, flush=True)

    @contextlib.contextmanager
    def call(self, name: str):
        """One closed-loop call: wall time, a job group, and (traced
        rounds only) a span plus the Spark counters of that call."""
        from harness import SparkCounters

        rec = {"name": name}
        traced = self.tracer.enabled
        if traced and self.counters is None:
            self.counters = SparkCounters(self.spark)
        mark = self.counters.mark() if traced else None
        with self.tracer.span(name):
            t0 = time.perf_counter()
            with self._job_group(name):
                yield rec
            rec["wall"] = time.perf_counter() - t0
        if traced:
            rec["spark"] = self.counters.since(mark)
        leaked = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.leaked = max(self.leaked, leaked)
        self.check(leaked == 0, f"{name} left {leaked} persisted RDDs")

    @contextlib.contextmanager
    def _job_group(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name, False)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """JVM launch + session, model build, broadcast, worker spawn."""
        from pyspark.sql import functions as F

        from datacanary_spark.functions.models import build_default_models
        from datacanary_spark.functions.udfs import make_langid_udf
        from datacanary_spark.plans.pipeline import broadcast_models
        from harness import SparkCounters, start_session

        parts = {}

        @contextlib.contextmanager
        def part(name):
            t0 = time.perf_counter()
            with self.tracer.span(name):
                yield
            parts[name] = time.perf_counter() - t0

        with self.tracer.span("setup"):
            with part("session.start_s"):
                self.spark = start_session(self.work, self.cpus)
            with part("models.build_s"):
                build_default_models.cache_clear()
                build_default_models()
            with part("models.broadcast_s"):
                bc = broadcast_models(self.spark)
            counters = SparkCounters(self.spark) if self.traced_run else None
            mark = counters.mark() if counters else None
            with part("workers.spawn_s"):
                n = self.cpus
                (self.spark.range(0, n, 1, n)
                 .select(make_langid_udf(bc)(F.lit("warm up")).alias("r"))
                 .agg(F.count("r.lang_pred")).collect())
            bc.destroy()
        parts["setup_s"] = sum(parts.values())
        if counters:
            parts["python_boot_ms"] = counters.since(mark)["python_boot_ms"]
        self.setups.append(parts)

    def teardown(self) -> None:
        from harness import stop_session

        stop_session(self.spark)
        self.spark, self.counters = None, None

    def restart(self, cpus: int) -> None:
        self.teardown()
        self.cpus = cpus
        self.setup()


def _run_round(ctx: Context, wl, k: int) -> list[dict]:
    ctx.round_ok = True
    try:
        recs = wl.round(ctx, k)
    except Exception:
        traceback.print_exc()
        ctx.attempted += 1
        ctx.failed += 1
        return []
    ctx.attempted += len(recs)
    if not ctx.round_ok:
        ctx.failed += len(recs)
    log(f"round {k}: " + " ".join(f"{r['wall']:.2f}s" for r in recs))
    return recs


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    ctx = Context(work, cpus, traced_run=bool(args.trace))
    try:
        return _measure(ctx, WORKLOADS[args.workload](), args)
    finally:
        if ctx.spark is not None:
            ctx.teardown()


def _measure(ctx: Context, wl, args) -> dict:
    from harness import RssSampler, jvm_pid, median

    wl.generate(os.path.join(ctx.work, "in"), args.seed, ctx.traced_run)
    log(f"generated {wl.name} inputs for seed {args.seed}")
    ctx.tracer.enabled = ctx.traced_run
    for i in range(SETUPS):
        if i:
            ctx.teardown()
        ctx.setup()
        log(f"setup {i}: " + " ".join(
            f"{k}={v:.2f}" for k, v in ctx.setups[-1].items()))

    # cold: the first call on the fresh session (traced in a traced run)
    with RssSampler(jvm_pid()) as rss:
        cold = _run_round(ctx, wl, 0)
        # every call after the first is warm, also later batches of the
        # first ingest sequence (traced in a traced run, like the cold call)
        plain = [] if ctx.traced_run else cold[1:]
        traced = cold[1:] if ctx.traced_run else []
        traced_rounds = []
        # a traced run alternates untraced and traced rounds, at least
        # one of each; the gap between the two is the tracing overhead
        min_rounds = max(wl.min_warm, 2 if ctx.traced_run else 1)
        t0, k = time.perf_counter(), 1
        while k <= min_rounds or time.perf_counter() - t0 < args.seconds:
            ctx.tracer.enabled = ctx.traced_run and k % 2 == 0
            recs = _run_round(ctx, wl, k)
            if ctx.tracer.enabled:
                traced += recs
                traced_rounds += recs
            else:
                plain += recs
            k += 1

    jvm_kb = rss.peak_parts.get(rss.root_pid, 0)
    log(f"peak rss {rss.peak_mb:.0f} MiB: jvm {jvm_kb / 1024:.0f} MiB, "
        f"{len(rss.peak_parts) - 1} python processes "
        f"{rss.peak_mb - jvm_kb / 1024:.0f} MiB")
    if not cold or not plain:
        return {"correct": False, "attempted": max(ctx.attempted, 1),
                "failed": max(ctx.failed, 1), "metrics": {}}

    walls = [r["wall"] for r in plain]
    if not ctx.traced_run:
        units = declared_units("end_to_end")
        values = {
            "setup_s": median([s["setup_s"] for s in ctx.setups]),
            "cold_s": cold[0]["wall"],
            "docs_per_s": wl.docs_per_s(plain),
            "batch_p50_s": median(walls),
            "peak_rss_mb": rss.peak_mb,
        }
    else:
        # a layer this workload does not run reads 0
        units = declared_units("per_layer")
        values = dict.fromkeys(units, 0)
        for key in ("session.start_s", "models.build_s",
                    "models.broadcast_s", "workers.spawn_s"):
            values[key] = median([s[key] for s in ctx.setups])
        for key in ("jobs", "stages", "tasks", "shuffle_bytes",
                    "spill_bytes", "python_total_ms", "arrow_bytes_out",
                    "arrow_bytes_in"):
            values[f"spark.{key}"] = median([r["spark"][key]
                                             for r in traced])
        # the workers boot in the set-up's spawn job (and again in any
        # call that needs more of them)
        values["spark.python_boot_ms"] = median(
            [s["python_boot_ms"] for s in ctx.setups]) \
            + cold[0]["spark"]["python_boot_ms"]
        values["trace.overhead_ms"] = 1000 * (
            median([r["wall"] for r in traced_rounds]) - median(walls))
        # the probes' own output checks count as one more call
        ctx.tracer.enabled, ctx.round_ok = True, True
        values.update(wl.probes(ctx, plain + traced))
        ctx.attempted += 1
        ctx.failed += not ctx.round_ok
        values["caching.leaked_rdds"] = ctx.leaked
        values["error_rate"] = ctx.failed / ctx.attempted
        ctx.tracer.write(os.path.join(
            ROOT, ".bench_out", f"trace-{wl.name}-{args.seed}.json"))
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} "
                           f"do not match BENCHMARK.json")
    return {"correct": ctx.failed == 0, "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in values.items()}}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["curate", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "datacanary_spark",
                                       "__init__.py")):
        print(f"no datacanary_spark package under {ROOT}: run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM and its Python workers inherit these at launch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # JVM scratch (and no hsperfdata in /tmp) inside the work dir too
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    # a capped JVM heap keeps peak RSS steady from run to run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from harness import stop_session

    try:
        result = run(args, work)
    finally:
        stop_session(None)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark for the hackatonbigdata_spark engine.

    python3 perfbench/run.py --workload forecast_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One client process calls the engine's
public functions in a closed loop and waits for each result.  The run

1. pins the environment (cores, memory, scratch directories) and writes
   the workload's seeded input tables under ``.bench_work/``;
2. sets up: starts the Spark session, ships the package (``Catalog``) and
   runs the workload's untimed warm passes, which fill the JIT and codegen
   caches;
3. repeats timed passes over the workload's calls for ``--seconds``, and
   at least the workload's minimum number of passes;
4. checks every call's output outside the timed region.

``run_s`` is a typical pass: the sum of each call's median latency over the
timed passes.  ``query_p50_s`` and ``query_p90_s`` are percentiles of those
per-call medians, so a single slow sample moves none of them.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer Spark accounting (timed passes
alternate untraced and traced, so the tracing overhead is measured in the
same process).  Exits 2 without a result when the engine package is not
in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

PACKAGE = "hackatonbigdata_spark"
WORK = ".bench_work"
DRIVER_MEM = "2g"
OPERATOR_LAYERS = (
    "relational", "aggregates", "windows", "scalars", "forecast",
    "series_kernels", "streaming_batch", "sequence", "llm", "io_queries",
    "plans.submission",
)
CALL_METRICS = (
    ("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
    ("jobs", "count"), ("tasks", "count"), ("failed_tasks", "count"),
    ("task_s", "s"), ("core_util", "ratio"), ("shuffle_mb", "MB"),
)
OTHER_METRICS = (
    ("catalog.read_s", "s"), ("catalog.jobs", "count"),
    ("session.start_s", "s"), ("session.jvm_peak_rss_mb", "MB"),
    ("sources.io.write_s", "s"), ("sources.io.output_mb", "MB"),
    ("streaming.jobs.drain_s", "s"), ("streaming.jobs.jobs", "count"),
    ("spill_mb", "MB"), ("gc_s", "s"), ("cached_mb", "MB"),
    ("trace.overhead_s", "s"), ("trace.accounting_s", "s"),
)
END_TO_END = (
    ("setup_s", "s"), ("run_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s"),
)


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{m}": u for layer in OPERATOR_LAYERS for m, u in CALL_METRICS
    }
    units.update(OTHER_METRICS)
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str) -> None:
    """Fix everything the engine reads from the environment, and keep every
    scratch file inside the checkout."""
    tmp = os.path.join(root, WORK, "tmp")
    local = os.path.join(root, WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (launcher and driver) keeps its temp and perf files here
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(root, WORK, 'warehouse')} "
            "pyspark-shell"
        ),
    })


def cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests, in percent."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def call_quantiles(medians: list[float]) -> tuple[float, float]:
    """The 50th and 90th percentiles, interpolated, of the calls' median
    latencies.  A percentile over the pooled samples would fall on the
    border between two call types and read one type's extreme sample."""
    if len(medians) == 1:
        return medians[0], medians[0]
    q = statistics.quantiles(medians, n=10, method="inclusive")
    return q[4], q[8]


class Session:
    """One Spark session in its own JVM; ``stop`` ends the JVM and waits."""

    def __init__(self, sf_dir: str):
        from hackatonbigdata_spark.catalog import Catalog
        from hackatonbigdata_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        Catalog(self.spark, sf_dir)  # ships the package to Python workers
        self.ready_s = time.perf_counter() - t0
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def versions(self) -> str:
        jvm = self.spark._jvm.java.lang.System
        return (
            f"pyspark={self.spark.version} java={jvm.getProperty('java.version')} "
            f"python={platform.python_version()} nproc={nproc()}"
        )

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    """Runs a workload's passes and keeps every sample and failure."""

    def __init__(self, ctx, calls_for_pass, tracer=None, tamper=None):
        self.ctx = ctx
        self.calls_for_pass = calls_for_pass
        self.tracer = tracer
        self.tamper = tamper  # self-test only: corrupts outputs before the gate
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.check_s = 0.0  # time spent in output checks, outside all timings

    def _call(self, call, pass_id: str, traced: bool, rec):
        tr = self.tracer if traced else None
        t0 = time.perf_counter()
        try:
            if tr:
                tr.begin(f"{pass_id}/{call.name}/build")
            built = call.build(self.ctx)
            t1 = time.perf_counter()
            b_use = tr.end() if tr else None
            t1b = time.perf_counter()
            if tr:
                tr.begin(f"{pass_id}/{call.name}/exec")
            out = call.force(self.ctx, built)
            t2 = time.perf_counter()
            e_use = tr.end() if tr else None
        except Exception:  # a raising call is a failed operation; keep going
            self.attempted += 1
            self._fail(call.name, traceback.format_exc().strip().splitlines()[-1])
            if tr:
                tr.end()
            return None
        t3 = time.perf_counter()
        build_s, exec_s = t1 - t0, t2 - t1b
        self.attempted += 1
        if self.tamper is not None:
            out = self.tamper(self.ctx, call, out)
        try:
            reason = call.check(self.ctx, out)
        except Exception:  # a checker that cannot read the output fails it
            reason = traceback.format_exc().strip().splitlines()[-1]
        self.check_s += time.perf_counter() - t3
        if reason is not None:
            self._fail(call.name, reason)
        if rec is not None:
            rec(call, build_s, exec_s, b_use, e_use, t0, t3, out)
        return build_s + exec_s, t3 - t0

    def _fail(self, name: str, reason: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {reason}")
        print(f"FAILED {name}: {reason}", file=sys.stderr, flush=True)

    def run_pass(self, pass_no: int, traced: bool = False, rec=None):
        """Returns the pass's wall time without checks."""
        wall = 0.0
        for call in self.calls_for_pass(pass_no):
            r = self._call(call, f"p{pass_no}", traced, rec)
            if r is not None:
                wall += r[1] if traced else r[0]
        return wall


def measure(runner: Runner, seconds: float, min_passes: int):
    """Timed passes until ``seconds`` have passed and ``min_passes`` passes
    were run; returns each call's latencies, keyed by call name."""
    lats: dict[str, list[float]] = {}

    def rec(call, build_s, exec_s, *_):
        lats.setdefault(call.name, []).append(build_s + exec_s)

    t_end = time.perf_counter() + seconds
    p = 1
    while p <= min_passes or time.perf_counter() < t_end:
        runner.run_pass(p, rec=rec)
        p += 1
    return p - 1, lats


def traced_measure(runner: Runner, seconds: float, workload, totals):
    """Untraced and traced passes in U T T U order (at least four, so a
    linear drift such as JIT warm-up cancels in the overhead); per-layer
    sums over the traced passes."""
    from perfbench.accounting import Usage

    tr = runner.tracer
    walls = {False: [], True: []}
    gc = cached = 0.0
    spill = 0.0
    cat_s, cat_jobs = 0.0, 0

    def rec(call, build_s, exec_s, b, e, t0, t3, out):
        nonlocal cached, spill
        totals.add(call.layer, build_s, exec_s, b, e)
        spill += b.spill_mb + e.spill_mb
        if call.sink_layer:
            totals.add(call.sink_layer, 0.0, exec_s, Usage(), e)
            totals.output_mb += call.output_mb(runner.ctx, out)
        cached = max(cached, tr.held_mb())
        tr.span(call.name, t0, t3, f"pass{p}", layer=call.layer,
                build_s=build_s, exec_s=exec_s, build_jobs=b.jobs,
                jobs=b.jobs + e.jobs)

    t_end = time.perf_counter() + seconds
    own0 = tr.own_s
    p, n_traced = 1, 0
    while p <= 4 or time.perf_counter() < t_end:
        traced = p % 4 in (2, 3)
        if traced:
            g0 = tr.gc_s()
            t0 = time.perf_counter()
            wall = runner.run_pass(p, traced=True, rec=rec)
            tr.span(f"pass{p}", t0, time.perf_counter(), None)
            gc += tr.gc_s() - g0
            for t in workload.tables:
                tr.begin(f"p{p}/catalog.{t}")
                c0 = time.perf_counter()
                runner.ctx.catalog.table(t)
                cat_s += time.perf_counter() - c0
                cat_jobs += tr.end().jobs
            n_traced += 1
        else:
            wall = runner.run_pass(p)
        walls[traced].append(wall)
        p += 1
    extra = {
        "catalog.read_s": cat_s / n_traced,
        "catalog.jobs": cat_jobs / n_traced,
        "spill_mb": spill / n_traced,
        "gc_s": gc / n_traced,
        "cached_mb": cached,
        "trace.overhead_s": statistics.median(walls[True]) - statistics.median(walls[False]),
        "trace.accounting_s": (tr.own_s - own0) / n_traced,
    }
    return n_traced, extra


def layer_metrics(totals, n: int, ncpu: int) -> dict[str, float]:
    out = {}
    for layer in OPERATOR_LAYERS + ("streaming.jobs", "sources.io"):
        b, t = totals.build[layer], totals.total[layer]
        wall = totals.build_s[layer] + totals.exec_s[layer]
        vals = {
            "build_s": totals.build_s[layer], "exec_s": totals.exec_s[layer],
            "build_jobs": b.jobs, "jobs": t.jobs, "tasks": t.tasks,
            "failed_tasks": t.failed_tasks, "task_s": t.task_s,
            "core_util": t.task_s / (wall * ncpu) if wall > 0 else 0.0,
            "shuffle_mb": t.shuffle_mb,
        }
        if layer in OPERATOR_LAYERS:
            out.update({f"{layer}.{k}": v / n if k != "core_util" else v
                        for k, v in vals.items()})
    out["streaming.jobs.drain_s"] = totals.build_s["streaming.jobs"] / n
    out["streaming.jobs.jobs"] = totals.total["streaming.jobs"].jobs / n
    out["sources.io.write_s"] = totals.exec_s["sources.io"] / n
    out["sources.io.output_mb"] = totals.output_mb / n
    return out


def print_jobs_table(tracer) -> None:
    rows: dict[str, list] = {}
    for s in tracer.spans:
        if s.parent is None:
            continue
        r = rows.setdefault(s.name, [s.attrs["layer"], 0, 0, 0, 0.0])
        r[1] += 1
        r[2] += s.attrs["build_jobs"]
        r[3] += s.attrs["jobs"]
        r[4] += s.attrs["build_s"] + s.attrs["exec_s"]
    print(f"{'call':38} {'layer':18} {'calls':>5} {'build_jobs/call':>15} "
          f"{'jobs/call':>9} {'s/call':>7}")
    for name, (layer, n, bj, j, sec) in sorted(rows.items()):
        print(f"{name:38} {layer:18} {n:5d} {bj / n:15.1f} {j / n:9.1f} {sec / n:7.3f}")


def emit(correct, attempted, failed, metrics, units) -> None:
    for k in units:
        print(f"{k} {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)


def run(workload_name: str, seed: int, seconds: float, trace: bool,
        sf: float | None = None, tamper=None) -> dict:
    """Runs one workload; returns the result object (also printed)."""
    from perfbench import datagen, workloads
    from perfbench.accounting import LayerTotals, Tracer

    root = os.getcwd()
    wl = workloads.WORKLOADS[workload_name]
    sf = wl.sf if sf is None else sf
    sf_dir = os.path.join(root, WORK, "data", f"{wl.name}-s{seed}-sf{sf}")
    if not os.path.exists(os.path.join(sf_dir, "_DONE")):
        shutil.rmtree(sf_dir, ignore_errors=True)
        datagen.generate(sf_dir, sf, seed)
        open(os.path.join(sf_dir, "_DONE"), "w").close()

    t0 = time.perf_counter()
    sess = Session(sf_dir)
    try:
        out_dir = os.path.join(root, WORK, "out", f"{wl.name}-s{seed}")
        shutil.rmtree(out_dir, ignore_errors=True)
        ctx = workloads.Context(sess.spark, sf_dir, out_dir)
        runner = Runner(ctx, lambda p: wl.calls(seed, p), tamper=tamper)
        for p in range(1 - wl.warm_passes, 1):  # untimed, checked
            runner.run_pass(p)
        setup_s = time.perf_counter() - t0 - runner.check_s
        print(f"perfbench workload={wl.name} seed={seed} sf={sf} "
              f"{sess.versions()} driver_mem={DRIVER_MEM}", flush=True)
        print(f"setup: session start {sess.start_s:.3f} s, package ship "
              f"{sess.ready_s - sess.start_s:.3f} s, warm passes ({wl.warm_passes}) "
              f"{setup_s - sess.ready_s:.3f} s", flush=True)
        if trace:
            runner.tracer = Tracer(sess.spark, wl.name)
            totals = LayerTotals()
            n, extra = traced_measure(runner, seconds, wl, totals)
            metrics = layer_metrics(totals, n, nproc())
            metrics.update(extra)
            metrics["session.start_s"] = sess.start_s
            metrics["session.jvm_peak_rss_mb"] = sess.jvm_peak_rss_mb()
            print_jobs_table(runner.tracer)
            runner.tracer.write_spans(
                os.path.join(root, WORK, "trace", f"{wl.name}-s{seed}.jsonl"))
            units = per_layer_units()
            print(f"traced passes {n}; tracing overhead per pass: "
                  f"{extra['trace.overhead_s']:.3f} s traced minus untraced pass, "
                  f"{extra['trace.accounting_s']:.3f} s inside the tracer")
        else:
            cpu0 = cpu_times()
            n_pass, lats = measure(runner, seconds, wl.min_passes)
            steal = steal_pct(cpu0, cpu_times())
            medians = {name: statistics.median(v) for name, v in lats.items()}
            p50, p90 = call_quantiles(list(medians.values()))
            metrics = {
                "setup_s": setup_s,
                "run_s": sum(medians.values()),
                "query_p50_s": p50,
                "query_p90_s": p90,
            }
            units = dict(END_TO_END)
            for name, v in sorted(medians.items(), key=lambda kv: kv[1]):
                print(f"  {name:38} median {v:.3f} s of {len(lats[name])} calls")
            print(f"passes {n_pass}, timed calls {sum(map(len, lats.values()))}, "
                  f"check time {runner.check_s:.1f} s, cpu steal {steal:.1f}%, "
                  f"jvm_peak_rss_mb {sess.jvm_peak_rss_mb():.0f}")
    finally:
        sess.stop()
    print(f"fail_frac {runner.failed}/{runner.attempted}")
    for f in runner.failures[:20]:
        print(f"  failed: {f}")
    emit(runner.failed == 0, runner.attempted, runner.failed, metrics, units)
    return {"attempted": runner.attempted, "failed": runner.failed,
            "metrics": metrics, "units": units}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    pin_environment(root)
    sys.path.insert(0, root)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run(args.workload, args.seed, args.seconds, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())

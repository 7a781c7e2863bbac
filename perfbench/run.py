"""Benchmark of the engine: one closed-loop client, two workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 16 --trace 0

One client process drives ``local[N]`` (N = the CPUs this process may
use) and sends its next operation only after the previous one returned.
A run:

1. sets up: starts the session once, generates the inputs from the seed
   and warms the catalog ``SETUPS`` times, then runs one warm-up pass over
   every operation and checks each output against DuckDB or pandas
   (outside every timing). ``setup_s`` is session start + the median
   generation-and-catalog round + the warm-up pass;
2. runs whole passes, each in a seeded order with seeded arguments, and
   reports the end-to-end metrics. The number of passes is ``--seconds``
   divided by ``PASS_SECONDS``, the nominal pass time on a 4-core host, so
   each run has the same sample count; a slower host takes longer.
   Both timing metrics use each operation's fastest run in the window,
   because the shared host and the JVM's continuing warm-up only ever
   slow a run down: ``throughput_qps`` is the operations per second of a
   pass made of those runs, ``latency_p50_ms`` their median. Before each
   pass (outside every timing) the high-water marks of the driver Python
   process and the JVM are reset; ``peak_rss_mb`` (a per-layer metric)
   is the median over passes of their summed peak resident size, so
   input generation and the checks' DuckDB and pandas work in the same
   process do not count. The JVM heap is not collected between passes:
   a full collection makes G1 give back heap that the next pass has to
   grow again, which made a pass up to 40% slower.

Every time in the end-to-end metrics and the set-up numbers is wall time
less the share of it that the hypervisor gave this machine's CPUs to
other machines (steal time in ``/proc/stat``, across all CPUs): on a
shared host that share changes from run to run, and it is no work of
the program's. The layer spans of a traced run are plain wall time.

With ``--trace 1`` every operation of the window runs twice with the
same arguments, traced and untraced in alternating order, in half as
many passes (at least one); the per-layer metrics come from the traced
runs and ``trace.overhead_ratio`` is the traced time over the untraced
time. Spans and per-operation layer numbers are written to
``.perfbench/trace-<workload>-<seed>.json``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shlex
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
# Planning unit of the timed window: a run makes round(seconds / PASS_SECONDS)
# whole passes, at least one. A warm pass takes 7 to 12 s on a 4-core host.
PASS_SECONDS = 8.0

END_TO_END = {
    "throughput_qps": "ops/s",
    "latency_p50_ms": "ms",
    "setup_s": "s",
}
# Printed with their unit but not in the result object: a run holds 10 to
# 16 operations, so the tail percentile is p37.5 or the maximum, not a
# tail; error_rate is 0 at the baseline, so no bound relative to its
# median exists; write_p50_ms exists on one workload only.
# Per-layer metrics in the result line. The time metrics of layers that
# only some workloads touch (Python workers, sinks, cache, CSV parsing)
# are printed and written to the trace file instead, so that every
# reported time is a measured, non-zero one.
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "catalog.load_s": "s",
    "setup.gen_s": "s",
    "setup.warmup_s": "s",
    "op.self_ms": "ms",
    "build.wall_ms": "ms",
    "build.jobs": "count",
    "build.tasks": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.nodes": "count",
    "plan.exchanges": "count",
    "plan.broadcast_exchanges": "count",
    "plan.windows": "count",
    "plan.scans": "count",
    "plan.python_nodes": "count",
    "execute.wall_ms": "ms",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.executor_cpu_s": "s",
    "execute.executor_run_s": "s",
    "execute.shuffle_read_bytes": "bytes",
    "execute.shuffle_write_bytes": "bytes",
    "execute.spill_bytes": "bytes",
    "catalog.input_bytes": "bytes",
    "catalog.rows_read": "count",
    "catalog.rows_read_per_row_out": "ratio",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "cache.bytes": "bytes",
    "trace.overhead_ratio": "ratio",
}
EXTRA_LAYER = {
    "build.executor_cpu_s": "s",
    "build.executor_run_s": "s",
    "execute.gc_s": "s",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.start_s": "s",
    "sinks.write_ms": "ms",
    "cache.fill_ms": "ms",
    "sources.csv_parse_ms": "ms",
    "plan.self_ms": "ms",
}


def pin_environment() -> int:
    """Fix the environment the engine runs in; returns the CPU count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    # Python workers import the package by name: the root must be on their path.
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_UI"] = "false"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_MASTER", None)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the launcher JVM that builds the driver's command line, too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf {shlex.quote('spark.driver.extraJavaOptions=' + java_opts)} pyspark-shell"
    )
    sys.path[:0] = [HERE, ROOT]
    return cpus


def vm_mb(pid: int | str, field: str = "VmHWM") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(field)


def cpu_ticks() -> tuple[int, int]:
    """Clock ticks of this machine's CPUs since boot: (stolen, all)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class Stopwatch:
    """Seconds since start, less the share of them that the hypervisor
    gave this machine's CPUs to other machines (steal time)."""

    def __init__(self) -> None:
        self.t0, self.ticks0 = time.perf_counter(), cpu_ticks()
        self.stolen = 0.0

    def seconds(self) -> float:
        wall = time.perf_counter() - self.t0
        steal, total = cpu_ticks()
        ticks = total - self.ticks0[1]
        self.stolen = (steal - self.ticks0[0]) / ticks if ticks else 0.0
        return wall * (1.0 - self.stolen)


def reset_hwm(pid: int | str) -> None:
    """Reset a process's VmHWM to its current resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it; wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, workload, seed: int) -> None:
        from workloads import Ctx

        self.wl = workload
        self.seed = seed
        self.ctx = Ctx(spark=None, work=os.path.join(WORK, "work"), seed=seed)
        self.layer_setup: dict[str, list[float]] = {
            "session.start_s": [], "setup.gen_s": [], "catalog.load_s": [], "setup.warmup_s": []}
        self.check_ms: dict[str, float] = {}
        self.errors: list[str] = []
        self.jvm_pid = None
        self.pass_s: list[float] = []
        self.pass_stolen: list[float] = []
        self.pass_peak_mb: list[float] = []
        self.pass_start_mb: list[tuple[float, float]] = []

    # -- set-up ----------------------------------------------------------
    def setup(self) -> float:
        """Session start, then ``SETUPS`` rounds of input generation and
        catalog warm-up (each into a fresh directory, so none is a memo
        hit), then the warm-up pass. Returns set-up seconds: session start
        + median round + the warm-up pass's operation time.

        The session is started once: a second SparkContext in the same JVM
        runs every later query about twice as slowly, which would distort
        everything measured after it.
        """
        from covid_custom_sql_engine_spark import get_spark

        watch = Stopwatch()
        self.ctx.spark = get_spark("perfbench")
        self.layer_setup["session.start_s"].append(watch.seconds())
        rounds = []
        for i in range(SETUPS):
            self.ctx.data_dir = os.path.join(self.ctx.work, f"data-{i}")
            watch = Stopwatch()
            self.wl.prepare(self.ctx)
            gen = watch.seconds()
            self.wl.warm_catalog(self.ctx)
            rounds.append(watch.seconds())
            self.layer_setup["setup.gen_s"].append(gen)
            self.layer_setup["catalog.load_s"].append(rounds[-1] - gen)
        warm = self.warmup_and_check()
        self.layer_setup["setup.warmup_s"].append(warm)
        return self.layer_setup["session.start_s"][0] + statistics.median(rounds) + warm

    # -- one operation -----------------------------------------------------
    def run_op(self, op, params: dict, tracer=None, op_id: int = 0):
        """Run one operation; returns (seconds, results, per-op layer numbers)."""
        from spans import plan_shape
        from workloads import collect_all, frames_of

        act = op.act or collect_all
        notes: dict = {"trace": tracer is not None}
        if tracer is None:
            watch = Stopwatch()
            results = act(self.ctx, params, op.build(self.ctx, params), notes)
            return watch.seconds(), results, None
        tracer.python_counts()  # skip SQL executions of earlier operations
        watch = Stopwatch()
        op_span = tracer.begin(op_id, "op")
        span = tracer.begin(op_id, "build", "op")
        built = op.build(self.ctx, params)
        build = tracer.end(span)
        span = tracer.begin(op_id, "plan", "op")
        frames = frames_of(built)
        for df in frames.values():
            for k, v in tracer.catalyst_phases(df).items():
                span.counts[k] = span.counts.get(k, 0.0) + v
        plan = tracer.end(span, jobs=False)
        span = tracer.begin(op_id, "execute", "op")
        results = act(self.ctx, params, built, notes)
        execute = tracer.end(span)
        op_span.counts.update(tracer.python_counts())
        tracer.end(op_span, jobs=False)
        dt = watch.seconds()

        layer = {"build.wall_ms": build.ms, "execute.wall_ms": execute.ms, **plan.counts}
        for k, v in build.counts.items():
            layer[f"build.{k}"] = v
        for k, v in execute.counts.items():
            layer[f"execute.{k}"] = v
        layer.update(op_span.counts)
        for df in frames.values():
            for k, v in plan_shape(df._jdf.queryExecution().executedPlan().toString()).items():
                layer[k] = layer.get(k, 0) + v
        rows_out = sum(len(r[1]) if isinstance(r, tuple) else 1 for r in results.values())
        layer["catalog.input_bytes"] = build.counts.get("input_bytes", 0) + execute.counts.get("input_bytes", 0)
        layer["catalog.rows_read"] = build.counts.get("input_rows", 0) + execute.counts.get("input_rows", 0)
        layer["rows_out"] = rows_out
        for src, dst in (("write_ms", "sinks.write_ms"), ("files_written", "sinks.files_written"),
                         ("bytes_written", "sinks.bytes_written"), ("cache_fill_ms", "cache.fill_ms"),
                         ("cache_bytes", "cache.bytes"), ("csv_parse_ms", "sources.csv_parse_ms")):
            if src in notes:
                layer[dst] = notes[src]
        return dt, results, layer

    # -- the run ---------------------------------------------------------------
    def warmup_and_check(self) -> float:
        """One pass over every operation, each output checked once.
        Returns the operations' time, checks excluded."""
        from workloads import Mismatch

        rng = random.Random(self.seed)
        total = 0.0
        for op in self.wl.ops:
            params = op.params(rng, self.ctx)
            try:
                dt, results, _ = self.run_op(op, params)
                total += dt
            except Exception as e:  # noqa: BLE001 - a failed operation is a reported error
                self.errors.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            t0 = time.perf_counter()
            try:
                op.check(self.ctx, params, results)
            except Mismatch as e:
                self.errors.append(f"mismatch {e}")
            except Exception as e:  # noqa: BLE001
                self.errors.append(f"check {op.name}: {type(e).__name__}: {str(e)[:300]}")
            self.check_ms[op.name] = (time.perf_counter() - t0) * 1000
        return total

    def window(self, passes: int, rng: random.Random, tracer=None):
        """``passes`` whole passes over the workload's operations.

        With a tracer every operation runs twice with the same arguments,
        once traced and once not, alternating which goes first; the
        untraced runs give the baseline for the tracing overhead.
        """
        samples: list[tuple[str, str, float]] = []
        plain: list[tuple[str, str, float]] = []
        layers: list[dict] = []
        failed = op_id = 0
        for _ in range(passes):
            self.fresh_memory()
            watch = Stopwatch()
            order = list(self.wl.ops)
            rng.shuffle(order)
            for op in order:
                params = op.params(rng, self.ctx)
                op_id += 1
                modes = [None] if tracer is None else ([None, tracer] if op_id % 2 else [tracer, None])
                for mode in modes:
                    try:
                        dt, _, layer = self.run_op(op, params, mode, op_id)
                    except Exception as e:  # noqa: BLE001
                        failed += 1
                        self.errors.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
                        continue
                    if mode is None and tracer is not None:
                        plain.append((op.name, op.kind, dt))
                        continue
                    samples.append((op.name, op.kind, dt))
                    if layer is not None:
                        layers.append(layer)
            self.pass_s.append(watch.seconds())
            self.pass_stolen.append(watch.stolen)
            self.pass_peak_mb.append(vm_mb("self") + vm_mb(self.jvm_pid))
        return samples, plain, layers, failed

    def fresh_memory(self) -> None:
        """Start a pass with reset high-water marks (see the module doc
        for why the JVM heap is not collected here)."""
        gc.collect()
        for pid in ("self", self.jvm_pid):
            reset_hwm(pid)
        self.pass_start_mb.append((vm_mb("self", "VmRSS"), vm_mb(self.jvm_pid, "VmRSS")))


def end_to_end(samples) -> dict[str, float]:
    from stats import tail

    lat = [s[2] * 1000 for s in samples]
    t, pct, n = tail(lat)
    writes = [s[2] * 1000 for s in samples if s[1] == "write"]
    best: dict[str, float] = {}
    for name, _, dt in samples:
        best[name] = min(dt, best.get(name, dt))
    return {
        "throughput_qps": len(best) / sum(best.values()),
        "latency_p50_ms": statistics.median(best.values()) * 1000,
        "latency_tail_ms": t,
        "tail_percentile": pct,
        "samples": n,
        "write_p50_ms": statistics.median(writes) if writes else None,
    }


def per_layer(layers: list[dict], runner: Runner, spans) -> dict[str, float]:
    from spans import self_times

    n = max(len(layers), 1)
    keys = set(PER_LAYER) | set(EXTRA_LAYER)
    out = {k: sum(layer.get(k, 0.0) for layer in layers) / n for k in keys}
    rows_read = sum(layer.get("catalog.rows_read", 0) for layer in layers)
    rows_out = sum(layer.get("rows_out", 0) for layer in layers)
    out["catalog.rows_read_per_row_out"] = rows_read / max(rows_out, 1)
    # averaged over the operations that use the layer
    for k in ("sinks.write_ms", "sinks.files_written", "sinks.bytes_written",
              "cache.fill_ms", "cache.bytes", "sources.csv_parse_ms"):
        users = [layer[k] for layer in layers if k in layer]
        out[k] = sum(users) / len(users) if users else 0.0
    for name, total in self_times(spans).items():
        out[f"{name}.self_ms"] = total / n
    for k, v in runner.layer_setup.items():
        out[k] = statistics.median(v)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "covid_custom_sql_engine_spark", "__init__.py")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    cpus = pin_environment()
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    load1 = os.getloadavg()[0]
    print(f"# workload={wl.name} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"nproc={cpus} loadavg1={load1:.2f}", flush=True)
    print(f"# {wl.why}", flush=True)

    runner = Runner(wl, args.seed)
    try:
        setup_s = runner.setup()
        from pyspark import SparkContext

        runner.jvm_pid = SparkContext._gateway.proc.pid
        print(f"# inputs: {runner.ctx.input_rows} rows, {runner.ctx.input_bytes} bytes", flush=True)
        if runner.ctx.owid:
            print(f"# owid csv: {runner.ctx.owid['rows']} rows, {runner.ctx.owid['bytes']} bytes", flush=True)
        print(f"# set-up: {json.dumps({k: [round(x, 3) for x in v] for k, v in runner.layer_setup.items()})}; "
              f"check ms {json.dumps({k: round(v, 1) for k, v in runner.check_ms.items()})}", flush=True)
        mismatches = len(runner.errors)
        runner.ctx.close()  # the checks' DuckDB is done with

        rng = random.Random(args.seed * 7919 + 1)
        tracer = Tracer(runner.ctx.spark) if args.trace else None
        # A fixed number of passes, so every run has the same sample count
        # and the tail percentile means the same thing in every run.
        passes = max(1, round(args.seconds / PASS_SECONDS))
        if tracer:  # every operation runs twice: keep the run about as long
            passes = max(1, passes // 2)
        samples, plain, layers, failed_ops = runner.window(passes, rng, tracer)
        attempted = len(samples) + len(plain) + failed_ops
        peak = statistics.median(runner.pass_peak_mb)
        e2e = end_to_end(samples)
    finally:
        if runner.ctx.spark is not None:
            stop_session(runner.ctx.spark)
        runner.ctx.close()

    failed = failed_ops + mismatches
    for err in runner.errors:
        print(f"# error: {err}", flush=True)
    print(f"# error_rate {failed / max(attempted, 1):.4f} ratio ({failed} of {attempted})")
    print(f"# passes: {len(runner.pass_s)}, seconds each {[round(x, 2) for x in runner.pass_s]}, "
          f"stolen share {[round(x, 3) for x in runner.pass_stolen]}, "
          f"resident MB (python, jvm) at start {[(round(a), round(b)) for a, b in runner.pass_start_mb]}, "
          f"peak MB {[round(x) for x in runner.pass_peak_mb]}")
    print(f"# latency_tail_ms {e2e['latency_tail_ms']:.3f} ms (p{e2e['tail_percentile']:.1f} of {e2e['samples']} samples)")
    by_op: dict[str, list[float]] = {}
    for name, _, dt in samples:
        by_op.setdefault(name, []).append(dt * 1000)
    print("# per-op median ms: " + json.dumps({k: round(statistics.median(v), 1) for k, v in by_op.items()}))
    if e2e["write_p50_ms"] is not None:
        print(f"# write_p50_ms {e2e['write_p50_ms']:.3f} ms")
    metrics: dict[str, dict] = {}
    if args.trace:
        lay = per_layer(layers, runner, tracer.spans)
        lay["trace.overhead_ratio"] = sum(s[2] for s in samples) / sum(s[2] for s in plain)
        lay["peak_rss_mb"] = peak
        for k, unit in {**PER_LAYER, **EXTRA_LAYER}.items():
            print(f"# {k} {lay[k]:.6g} {unit}")
        metrics = {k: {"value": lay[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.dump(os.path.join(WORK, f"trace-{wl.name}-{args.seed}.json"), {
            "workload": wl.name, "seed": args.seed, "nproc": cpus, "loadavg1": load1,
            "per_op": layers, "per_layer": lay, "check_ms": runner.check_ms,
        })
    else:
        values = {**e2e, "setup_s": setup_s}
        print(f"# peak_rss_mb {peak:.6g} MB (per-layer; varies too much between runs to gate)")
        for k, unit in END_TO_END.items():
            print(f"# {k} {values[k]:.6g} {unit}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

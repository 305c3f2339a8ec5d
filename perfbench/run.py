#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout: the library is imported from the
current directory.  One process drives one ``local[N]`` session (N = the
CPUs this process may use, shuffle partitions = N) as a closed loop of one
operation at a time.  Human-readable lines go to stdout first; the last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics (``--trace 0``) or the
per-layer metrics of the traced run (``--trace 1``).

Scratch files live under ``.perfbench_work/`` in the current directory and
are removed at exit; results and span files go to ``perfbench/runs/c<N>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import SCALES, WORKLOADS  # noqa: E402

import spans as layer_trace  # noqa: E402

#: Gated end-to-end metrics.  Pass and operation costs are CPU seconds of
#: the engine's processes (see Driver.cpu_s): on a VM that shares its host
#: the wall times of identical runs spread by up to a third, CPU time by
#: about half as much.  The wall times are reported too, as ``wall.*``
#: metrics of the traced run and in the printed report.
END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
    "op_p50_cpu_s": "s",
    "op_p90_cpu_s": "s",
    "peak_rss_mb": "MB",
}
WALL = {
    "wall.cold_pass_s": "s",
    "wall.warm_pass_s": "s",
    "wall.op_p50_s": "s",
    "wall.op_p90_s": "s",
}
PER_LAYER = {
    **WALL,
    "session.jvm_launch_s": "s",
    "session.start_s": "s",
    "setup.datagen_s": "s",
    "harness.prepare_s": "s",
    "sources.testdata.load_s": "s",
    "sources.testdata.load_calls": "count",
    "harness.build_s": "s",
    "harness.build_jobs": "count",
    "operators.fencing.fence_s": "s",
    "operators.fencing.fence_calls": "count",
    "catalyst.plan_s": "s",
    "cold.catalyst.plan_s": "s",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "cold.codegen.compiles": "count",
    "cold.codegen.compile_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.executor_run_s": "s",
    "python_udf.plan_nodes": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "sources.writers.append_s": "s",
    "sources.writers.write_s": "s",
    "sources.writers.bytes_written": "bytes",
    "sources.writers.files_written": "count",
    "sources.writers.write_amplification": "ratio",
    "pipeline.staging_s": "s",
    "pipeline.intermediate_s": "s",
    "pipeline.marts_s": "s",
    "quality.assertions_s": "s",
    "quality.jobs": "count",
    "quality.input_bytes": "bytes",
    "step.etl_full_s": "s",
    "step.etl_incremental_s": "s",
    "step.dq_suite_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class Env:
    """Scratch directories inside the checkout, and the environment that
    keeps Spark, the JVM and the Python workers writing only there."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", str(os.getpid()))
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        import tempfile

        tempfile.tempdir = self.tmp
        # the short-lived JVM that spark-submit uses to build its command line
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # Python workers import the library from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)

    def dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass


class Driver:
    """The one JVM of a run: launched once, one SparkSession, and a teardown
    that waits for every process it started."""

    def __init__(self, env: Env, cpus: int) -> None:
        from pyspark import SparkConf

        from lakehouse_platform_nyc_taxi_spark.session import RUNTIME_CONFS

        self.env = env
        conf = {
            "spark.app.name": "perfbench",
            "spark.master": f"local[{cpus}]",
            "spark.sql.shuffle.partitions": str(cpus),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": env.dir("spark-local"),
            "spark.sql.warehouse.dir": env.dir("spark-warehouse"),
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
            # -XX:-UseDynamicNumberOfCompilerThreads: the JIT compiler
            # threads live as long as the JVM, so cpu_s can leave them out
            # exactly (HotSpot's GC threads never exit).
            "spark.driver.extraJavaOptions": (
                "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={env.tmp} -Dderby.system.home={env.tmp}"
            ),
            **RUNTIME_CONFS,
        }
        self.conf = SparkConf(loadDefaults=False).setAll(list(conf.items()))
        self.spark = None

    def launch(self) -> float:
        from pyspark import SparkContext

        t0 = time.perf_counter()
        SparkContext._ensure_initialized(conf=self.conf)
        return time.perf_counter() - t0

    def new_session(self):
        from pyspark.sql import SparkSession

        self.spark = SparkSession.builder.config(conf=self.conf).getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus its Python worker processes (sum of
        each process's own high-water mark)."""
        pid = self.jvm_pid()
        if pid is None:
            return 0.0
        return sum(_vm_hwm_kb(p) for p in [pid, *_descendants(pid)]) / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds (user + system) used so far by this process, the
        driver JVM and its Python worker processes, less the JVM's JIT
        compiler and garbage collector threads.  A process's own
        ``/proc/<pid>/stat`` times include its threads that have exited
        (streaming query threads, for one) and, through cutime/cstime, its
        children that have been reaped, so no work started within an
        operation is lost.  The JIT and GC threads run in the background,
        on work left by earlier operations as much as by the current one;
        on a 4-vCPU VM they were over half of the JVM's CPU and most of the
        run-to-run spread (README.md).  GC pause time is the per-layer
        metric ``jvm.gc_s``."""
        pid = self.jvm_pid()
        ticks = sum(_cpu_ticks(p) for p in (os.getpid(), pid, *_descendants(pid)))
        return (ticks - _service_ticks(pid)) / _TICKS

    def close(self) -> None:
        from pyspark import SparkContext

        pid = self.jvm_pid()
        children = _descendants(pid) if pid else []
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        try:
            gw.shutdown()
        finally:
            # the JVM exits when its stdin closes
            if gw.proc.stdin:
                gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        _wait_gone(children, timeout=30)


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


_TICKS = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process (all its threads) plus the times of its
    reaped children (cutime + cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(f) for f in fields[11:15])


#: JVM thread names (as truncated by Linux) of the JIT compilers and the
#: G1 garbage collector
_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread#", "G1 ")


def _service_ticks(pid: int) -> int:
    """utime + stime of the JVM's live JIT compiler and GC threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(_SERVICE_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                ticks += sum(int(f) for f in fh.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:
            continue
    return ticks


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> None:
    import signal

    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def cpu_probe(spark) -> float:
    """Fixed CPU-bound job (the shape of bench.py's probe, smaller): run
    context only, never gated."""
    t0 = time.perf_counter()
    spark.range(5_000_000).selectExpr("avg(xxhash64(id) % 1000000007)", "avg(id * 1.0001)").collect()
    return time.perf_counter() - t0


def warm_up(spark) -> None:
    """One small codegen job, so the first timed operation does not pay the
    session's own start-up.  Python workers are not warmed: the first
    operation that needs them pays their start, as a fresh job would."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8] if len(values) > 1 else values[0]


class Run:
    def __init__(self, args, env: Env, cpus: int) -> None:
        self.args = args
        self.env = env
        self.cpus = cpus
        self.tracer = layer_trace.Tracer()
        self.workload = WORKLOADS[args.workload](SCALES[args.scale], args.seed, env, self.tracer, corrupt=args.corrupt)
        self.passes: list[dict] = []
        self.probes: list[float] = []

    def setup(self, driver: Driver) -> None:
        """Set up once, cold: the first session of a fresh JVM, as a
        scheduled job pays on every launch."""
        self.jvm_launch_s = driver.launch()
        t0 = time.perf_counter()
        spark = driver.new_session()
        start_s = time.perf_counter() - t0
        warm_up(spark)
        parts = self.workload.setup(spark)
        self.setup_parts = {"session.start_s": start_s, **parts}
        self.setup_s = self.jvm_launch_s + time.perf_counter() - t0
        self.spark = spark
        self.workload.cpu_s = driver.cpu_s
        self.counters = layer_trace.JvmCounters(spark)
        if self.args.trace:
            layer_trace.install_hooks(self.tracer)
            self.stream = layer_trace.StreamListener(self.tracer)
            spark.streams.addListener(self.stream.listener)
        else:
            self.stream = None

    def run_passes(self) -> None:
        min_passes = 3 if self.args.trace else 2
        deadline = float("inf")
        idx = 0
        while idx < self.workload.max_passes and (idx < min_passes or time.perf_counter() < deadline):
            # traced run: pass 0 (cold) and odd passes traced, even passes
            # untraced, so the tracing overhead is measured in the same run
            self.tracer.enabled = bool(self.args.trace) and (idx == 0 or idx % 2 == 1)
            rng = np.random.default_rng([self.args.seed, 3, idx])
            gc0 = self.counters.gc_s()
            ops = self.workload.run_pass(self.spark, idx, rng, self.counters, self.stream)
            self.passes.append(
                {
                    "idx": idx,
                    "traced": self.tracer.enabled,
                    "seconds": sum(o["seconds"] for o in ops),
                    "cpu_s": sum(o["cpu_s"] for o in ops),
                    "gc_s": self.counters.gc_s() - gc0,
                    "ops": ops,
                }
            )
            self.tracer.enabled = False
            self.spark.sparkContext._jvm.System.gc()
            if idx == 0:
                # --seconds is the window of the warm passes
                deadline = time.perf_counter() + self.args.seconds
            idx += 1
        self.probes.append(cpu_probe(self.spark))

    # ---- metrics -------------------------------------------------------

    def end_to_end(self, peak_rss_mb: float) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            **self.pass_costs("cpu_s", "cold_pass_cpu_s", "warm_pass_cpu_s", "op_p50_cpu_s", "op_p90_cpu_s"),
            "peak_rss_mb": peak_rss_mb,
        }

    def wall(self) -> dict[str, float]:
        return self.pass_costs("seconds", *WALL)

    def pass_costs(self, key: str, cold: str, warm: str, p50: str, p90_name: str) -> dict[str, float]:
        """Pass 0, the median untraced warm pass, and the median and p90 of
        the operations in the untraced warm passes."""
        passes = [p for p in self.passes[1:] if not p["traced"]]
        ops = [o[key] for p in passes for o in p["ops"]]
        return {
            cold: sum(o[key] for o in self.passes[0]["ops"]),
            warm: statistics.median(sum(o[key] for o in p["ops"]) for p in passes),
            p50: statistics.median(ops),
            p90_name: p90(ops),
        }

    def per_layer(self) -> dict[str, float]:
        selfs = self.tracer.self_times()
        by_pass: dict[int, dict[str, float]] = {}
        for sp, st in zip(self.tracer.spans, selfs):
            if sp.op_id is None:
                continue
            acc = by_pass.setdefault(int(sp.op_id.split("/", 1)[0]), {})
            for key, val in _span_metrics(sp, st).items():
                acc[key] = acc.get(key, 0.0) + val
        for p in self.passes:
            if p["traced"]:
                acc = by_pass.setdefault(p["idx"], {})
                acc["jvm.gc_s"] = p["gc_s"]
                for key, val in self.workload.pass_metrics(p).items():
                    acc[key] = acc.get(key, 0.0) + val
        warm_traced = [i for i in sorted(by_pass) if i > 0]

        def med(key: str, passes: list[int]) -> float:
            return statistics.median(by_pass[i].get(key, 0.0) for i in passes) if passes else 0.0

        out = {name: med(name, warm_traced) for name in PER_LAYER}
        out.update(self.wall())
        for name in ("catalyst.plan_s", "codegen.compiles", "codegen.compile_ms"):
            out["cold." + name] = med(name, [0])
        # taxi_etl builds in full only in pass 0
        out["step.etl_full_s"] = med("step.etl_full_s", [0])
        written = out["sources.writers.bytes_written"]
        ingested = med("ingested_bytes", warm_traced)
        out["sources.writers.write_amplification"] = written / ingested if ingested else 0.0
        for key in ("session.start_s", "setup.datagen_s", "harness.prepare_s"):
            out[key] = self.setup_parts.get(key, 0.0)
        out["session.jvm_launch_s"] = self.jvm_launch_s
        traced = [p["seconds"] for p in self.passes[1:] if p["traced"]]
        untraced = [p["seconds"] for p in self.passes[1:] if not p["traced"]]
        out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        out["trace.spans"] = len(self.tracer.spans)
        return out


def _span_metrics(sp: layer_trace.Span, self_s: float) -> dict[str, float]:
    """The per-layer metrics one span feeds (times are self times unless
    the span's own duration is the metric)."""
    n, c = sp.name, sp.counts
    if n == "sources.testdata.load_table":
        return {"sources.testdata.load_s": self_s, "sources.testdata.load_calls": 1}
    if n == "harness.build":
        return {"harness.build_s": self_s, "harness.build_jobs": c.get("jobs", 0)}
    if n.startswith("operators.fencing."):
        return {"operators.fencing.fence_s": self_s, "operators.fencing.fence_calls": 0 if c.get("nested") else 1}
    if n == "catalyst.plan":
        return {"catalyst.plan_s": self_s}
    if n == "exec":
        return {"exec.s": self_s, "python_udf.plan_nodes": c.get("python_nodes", 0)}
    if n == "op":
        return {
            "codegen.compiles": c.get("compiles", 0),
            "codegen.compile_ms": c.get("compile_ms", 0.0),
            **{"exec." + k: v for k, v in c.items() if k in ("jobs", "tasks", "input_bytes", "shuffle_write_bytes", "executor_run_s")},
            **({"quality.jobs": c.get("jobs", 0), "quality.input_bytes": c.get("input_bytes", 0)} if c.get("quality") else {}),
        }
    if n == "quality.suite":
        return {"quality.assertions_s": sp.end - sp.start}
    if n == "streaming.batch":
        return {"streaming.batches": 1, "streaming.batch_s": sp.end - sp.start}
    if n == "sources.writers.append":
        return {
            "sources.writers.append_s": self_s,
            "sources.writers.bytes_written": c.get("bytes_written", 0),
            "sources.writers.files_written": c.get("files_written", 0),
        }
    if n == "sources.writers.write":
        return {
            "sources.writers.write_s": self_s,
            "sources.writers.bytes_written": c.get("bytes_written", 0),
            "sources.writers.files_written": c.get("files_written", 0),
        }
    return {}


def baseline_note(cpus: int, workload: str, metrics: dict[str, float]) -> list[str]:
    """Compare with the recorded baseline of the same CPU count; refuse
    when only other CPU counts have one."""
    base_dir = os.path.join(HERE, "baselines")
    path = os.path.join(base_dir, f"c{cpus}.json")
    if not os.path.exists(path):
        others = sorted(f for f in os.listdir(base_dir) if f.endswith(".json")) if os.path.isdir(base_dir) else []
        return [f"baseline: none for cpus={cpus} (have {others}); refusing to compare across CPU counts"]
    with open(path) as fh:
        base = json.load(fh)
    if base.get("cpus") != cpus:
        return [f"baseline: {path} records cpus={base.get('cpus')}, this run has {cpus}; refusing to compare"]
    rows = base.get("workloads", {}).get(workload, {}).get("end_to_end", {})
    out = []
    for name, val in metrics.items():
        ref = rows.get(name, {}).get("median")
        if ref:
            out.append(f"baseline: {name} {val:.4f} vs median {ref:.4f} ({val / ref:.3f}x)")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench", help="input size (tiny: self-test)")
    ap.add_argument("--corrupt", default=None, help="self-test hook: make this operation's output wrong")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import lakehouse_platform_nyc_taxi_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the library is not importable from {root}: {exc}", file=sys.stderr)
        return 2

    cpus = cpu_count()
    env = Env(root)
    run = Run(args, env, cpus)
    driver = Driver(env, cpus)
    try:
        run.setup(driver)
        run.run_passes()
        peak = driver.peak_rss_mb()
    finally:
        driver.close()
        env.close()

    ops = [o for p in run.passes for o in p["ops"]]
    failed = [f"pass{p['idx']}:{o['name']}: {o['error']}" for p in run.passes for o in p["ops"] if o["error"]]
    e2e = run.end_to_end(peak)
    layers = run.per_layer() if args.trace else {}
    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END

    warm_n = sum(len(p["ops"]) for p in run.passes[1:] if not p["traced"])
    print(f"workload {args.workload} seed {args.seed} scale {args.scale} trace {args.trace} cpus {cpus}")
    print(f"passes {len(run.passes)} (1 cold), operations {len(ops)}, warm latency samples {warm_n}")
    for name, val in {**e2e, **run.wall()}.items():
        print(f"  {name:<16} {val:12.4f} {END_TO_END.get(name) or WALL[name]}")
    for name, val in run.workload.summary(run.passes).items():
        print(f"  {name:<16} {val:12.4f} s")
    print(f"  error_rate       {len(failed) / max(1, len(ops)):12.4f} ({len(failed)} of {len(ops)})")
    for f in failed:
        print(f"  FAILED {f}")
    if args.trace:
        for name, val in layers.items():
            print(f"  {name:<38} {val:16.4f} {PER_LAYER[name]}")
    print(
        f"context: cpus {cpus}, load_avg_1m {os.getloadavg()[0]:.2f}, "
        f"cpu_probe_s {statistics.median(run.probes):.4f}, run_wall_s {time.perf_counter() - T0:.1f}"
    )
    if not args.trace:
        for line in baseline_note(cpus, args.workload, e2e):
            print(line)

    out_dir = os.path.join(HERE, "runs", f"c{cpus}")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    if args.trace:
        run.tracer.dump(os.path.join(out_dir, stem + ".spans.jsonl"))
        print(f"spans: {os.path.join(out_dir, stem + '.spans.jsonl')}")
    print(f"results: {os.path.join(out_dir, stem + '.json')}")
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "scale": args.scale,
                "trace": args.trace,
                "cpus": cpus,
                "load_avg_1m": os.getloadavg()[0],
                "cpu_probe_s": run.probes,
                "setup_parts": run.setup_parts,
                "jvm_launch_s": run.jvm_launch_s,
                "passes": run.passes,
                "end_to_end": e2e,
                "per_layer": layers,
                "failed": failed,
            },
            fh,
            indent=1,
        )
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)

"""Run one workload in one process with one closed-loop client and report
its metrics.

A run sets up (registry load, several session builds, one cold pass
that also checks every output), then runs the warm passes that fill
``--seconds``. ``--trace 0`` reports the end-to-end metrics with tracing
off; ``--trace 1`` alternates traced and untraced warm passes and
reports the per-layer metrics of the traced ones.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Any

from perfbench import SetupError

ROOT = Path(__file__).resolve().parent.parent
SETUP_BUILDS = 3
CANARY_SAMPLES = 7


@dataclass
class Options:
    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: str = "bench"
    corrupt: bool = False
    work: Path = ROOT / ".perfbench_work"


@dataclass
class PassResult:
    wall_s: float
    op_s: dict[str, float]
    layers: dict[str, float] | None
    fit_rows: list[tuple[float, float, float]]
    traced: bool


def configure_env(work: Path) -> None:
    """Keep every file Spark, Python and DuckDB write inside ``work``,
    and size Spark to this machine's cores."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _jvm_dead(exc: BaseException) -> bool:
    from py4j.protocol import Py4JNetworkError

    return isinstance(exc, (Py4JNetworkError, ConnectionError, EOFError))


class Run:
    def __init__(self, opts: Options) -> None:
        self.opts = opts
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.jvm_dead = False
        self.tracer = None
        self.counters: dict[str, float] = {}
        self.canary_samples: dict[str, list[float]] = {"jvm": [], "py": []}
        self.spark = None

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        opts = self.opts
        configure_env(opts.work)
        try:
            from miningfrequentpattern_spark import session
            from miningfrequentpattern_spark.queries import registry
        except ImportError as exc:
            raise SetupError(f"the engine package is not importable: {exc}") from exc
        from perfbench import workloads

        self.session, self.registry = session, registry
        # The package's build conf points the JVM's temporary files at the
        # system default; a run keeps them inside its checkout instead.
        session.BUILD_CONF["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={opts.work / 'tmp'}"
        if opts.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
            self.tracer.pass_id = "setup"
            self.tracer.install()
        t = time.perf_counter()
        registry.load_all_packs()
        self.registry_s = time.perf_counter() - t
        self.workload = workloads.make(opts.workload, opts.seed, opts.scale)
        self.workload.prepare(opts.work, registry)
        self.ops = self.workload.ops()

        self.builds: list[float] = []
        for _ in range(SETUP_BUILDS):
            if self.spark is not None:
                self.spark.stop()
            t = time.perf_counter()
            self.spark = self.session.get_session()
            self.spark.sparkContext.setLogLevel("ERROR")
            self.jvm_canary()
            self.builds.append(time.perf_counter() - t)

    # -- canaries ------------------------------------------------------------
    def jvm_canary(self) -> float:
        """One-task job that never leaves the JVM."""
        t = time.perf_counter()
        self.spark.range(1, numPartitions=1)._jdf.rdd().count()
        return time.perf_counter() - t

    def python_canary(self) -> float:
        """One-task job through a Python worker."""
        t = time.perf_counter()
        self.spark.sparkContext.parallelize([1], 1).count()
        return time.perf_counter() - t

    def canaries(self, when: str) -> None:
        jvm = [self.jvm_canary() * 1e3 for _ in range(CANARY_SAMPLES)]
        py = [self.python_canary() * 1e3 for _ in range(CANARY_SAMPLES)]
        self.counters[f"spark.jvm_canary_{when}_ms"] = median(jvm)
        self.counters[f"python.canary_{when}_ms"] = median(py)
        self.canary_samples["jvm"] += jvm
        self.canary_samples["py"] += py

    # -- passes ----------------------------------------------------------------
    def run_pass(self, pid: str, check: bool, traced: bool) -> PassResult:
        from perfbench.workloads import Ctx

        tracer = self.tracer if traced and not self.jvm_dead else None
        if self.tracer:
            self.tracer.pass_id = pid
            n_spans = len(self.tracer.spans)
        ctx = Ctx(self.spark, tracer=tracer, check=check, corrupt=check and self.opts.corrupt)
        op_s: dict[str, float] = {}
        check_s = 0.0
        t_pass = time.perf_counter()
        with ctx.span("pass", pass_id=pid):
            for op in self.ops:
                self.attempted += 1
                if self.jvm_dead:
                    self._fail(pid, op.name, "the Spark JVM is gone")
                    continue
                t = time.perf_counter()
                try:
                    with ctx.span("op", op=op.name):
                        verify = op.run(ctx)
                    op_s[op.name] = time.perf_counter() - t
                    t = time.perf_counter()
                    err = verify() if verify else None
                    check_s += time.perf_counter() - t
                    if err:
                        self._fail(pid, op.name, f"output check: {err}")
                except Exception as exc:  # every failure is counted, none ends the run
                    self.jvm_dead = self.jvm_dead or _jvm_dead(exc)
                    self._fail(pid, op.name, f"{type(exc).__name__}: {str(exc)[:300]}")
        wall = time.perf_counter() - t_pass - check_s
        if check:
            self.counters.update(
                {k: v for k, v in ctx.counters.items() if k.startswith("operators.mining.")}
            )
        layers, fit_rows = None, []
        if traced and not check and not self.jvm_dead:
            from perfbench.layers import layer_metrics

            layers, fit_rows = layer_metrics(self.tracer.spans[n_spans:], wall)
            layers["python.eval_nodes"] = ctx.counters.get("python.eval_nodes", 0)
        return PassResult(wall, op_s, layers, fit_rows, traced)

    def _fail(self, pid: str, op: str, msg: str) -> None:
        self.failed += 1
        self.errors.append(f"pass {pid} op {op}: {msg}")

    def n_warm_passes(self) -> int:
        """Warm passes that fill ``--seconds`` at the workload's nominal
        pass time. The count is fixed per workload and run length rather
        than read off the clock: the first passes after the cold one are
        still slower while the JIT compiles, so a count that varied from
        run to run would move the medians."""
        n = max(1, math.ceil(self.opts.seconds / self.workload.nominal_pass_s))
        return max(n, 4) if self.tracer else n

    def measure(self) -> None:
        self.cold_s = self.run_pass("cold", check=True, traced=self.tracer is not None).wall_s
        if self.tracer:
            self.canaries("before")
        self.passes: list[PassResult] = []
        for i in range(self.n_warm_passes()):
            # Traced and untraced passes alternate as T U U T, so that the
            # JIT warm-up trend weighs on both sides alike.
            traced = self.tracer is not None and i % 4 in (0, 3)
            if self.tracer:
                (self.tracer.install if traced else self.tracer.uninstall)()
            self.passes.append(self.run_pass(f"warm{i}", False, traced))
        if self.tracer and not self.jvm_dead:
            self.canaries("after")
        self.peak_rss_mb = self._jvm_hwm_mb()

    def _jvm_hwm_mb(self) -> float:
        try:
            pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except Exception as exc:  # the JVM may be gone; the run reports it
            self.errors.append(f"peak RSS unreadable: {exc}")
        return 0.0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None and not self.jvm_dead:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # already gone
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- results -----------------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        warm = [p for p in self.passes if not p.traced] or self.passes
        rows = self.workload.rows_per_pass()
        op_names = [op.name for op in self.ops]
        per_op = [median([p.op_s[o] for p in warm if o in p.op_s]) for o in op_names]
        ok_ops = [x for x in per_op if x > 0]
        pass_s = median([p.wall_s for p in warm])
        return {
            "setup_s": (self.registry_s + median(self.builds) + self.cold_s, "s", len(self.builds)),
            "rows_per_s": (rows / pass_s if pass_s else 0.0, "1/s", len(warm)),
            "job_geomean_s": (geomean(ok_ops), "s", len(warm) * len(ok_ops)),
            "success_frac": ((self.attempted - self.failed) / max(self.attempted, 1),
                             "fraction", self.attempted),
        }

    def per_layer(self) -> dict[str, tuple[float, str, int]]:
        from perfbench.layers import LAYER_UNITS, per_layer

        traced = [p for p in self.passes if p.traced and p.layers]
        untraced = [p for p in self.passes if not p.traced]
        vals = per_layer([p.layers for p in traced], [r for p in traced for r in p.fit_rows])
        rows = self.workload.rows_per_pass()
        t_s = median([p.wall_s for p in traced])
        u_s = median([p.wall_s for p in untraced])
        vals.update(self.counters)
        vals["session.get_session_s"] = median(self.builds)
        vals["jvm.peak_rss_mb"] = self.peak_rss_mb
        vals["spark.jvm_canary_ms"] = median(self.canary_samples["jvm"])
        vals["python.canary_ms"] = median(self.canary_samples["py"])
        vals["trace.rows_per_s"] = rows / t_s if t_s else 0.0
        vals["trace.untraced_rows_per_s"] = rows / u_s if u_s else 0.0
        vals["trace.overhead_frac"] = t_s / u_s - 1 if t_s and u_s else 0.0
        return {k: (float(vals.get(k, 0.0)), unit, len(traced)) for k, unit in LAYER_UNITS.items()}


def parse(argv: list[str] | None) -> Options:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    return Options(a.workload, a.seed, a.seconds, bool(a.trace))


def execute(opts: Options) -> tuple[dict[str, Any], Run]:
    """Run one workload and return the result object the benchmark prints."""
    run = Run(opts)
    try:
        run.setup()
        run.measure()
        metrics = run.per_layer() if opts.trace else run.end_to_end()
        if run.tracer:
            run.tracer.write(opts.work / "traces" / f"{opts.workload}-seed{opts.seed}.json")
    finally:
        run.shutdown()
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }
    run.samples = {k: n for k, (_, _, n) in metrics.items()}
    return result, run


def report(opts: Options, result: dict[str, Any], run: Run) -> None:
    """Print one run's failures (stderr) and metrics with units and sample
    counts (stdout)."""
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(f"{opts.workload} seed={opts.seed} trace={int(opts.trace)} "
          f"attempted={result['attempted']} failed={result['failed']}")
    print("  pass wall s: cold %.3f, warm %s" % (
        run.cold_s, ", ".join(f"{p.wall_s:.3f}{'t' if p.traced else ''}" for p in run.passes)))
    if opts.trace:
        from perfbench.layers import describe_fit

        print("  " + describe_fit(result["metrics"]))
    for name, m in result["metrics"].items():
        print(f"  {name:34s} {m['value']:>16.6g} {m['unit']:9s} n={run.samples[name]}")


def main(argv: list[str] | None = None) -> int:
    """``--workload all`` runs every workload in turn and ends with one
    object whose metric names are prefixed with the workload's."""
    opts = parse(argv)
    results = {}
    try:
        from perfbench.workloads import WORKLOADS

        for name in WORKLOADS if opts.workload == "all" else (opts.workload,):
            one = dataclasses.replace(opts, workload=name)
            result, run = execute(one)
            report(one, result, run)
            results[name] = result
    except (SetupError, ImportError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    if len(results) == 1:
        (final,) = results.values()
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": m for w, r in results.items() for k, m in r["metrics"].items()},
        }
    print(json.dumps(final), flush=True)
    return 0

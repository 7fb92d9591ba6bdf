"""Span tracing for the benchmark's traced runs.

Wrappers installed from here record a span around each call into a
layer's public functions: name, start, end, parent and pass id. Each
span sets its own Spark job group, so every job, stage and task is
attributed through the status store to the innermost span open when it
ran. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import sys
import time
from collections.abc import Callable, Iterator
from pathlib import Path
from typing import Any

PKG = "miningfrequentpattern_spark"

# Layer -> the public functions wrapped in it. Graph operators are
# found by introspection; the registry, serve and pass spans are opened
# by the workloads around their own calls.
WRAPPED: dict[str, tuple[str, ...]] = {
    "session": ("get_session", "harden"),
    "sources.io": ("load_table", "write_parquet"),
    "operators.baskets": ("order_baskets", "token_baskets"),
    "operators.mining": ("fit_fpgrowth",),
    "operators.ckpt": ("pin", "release"),
    "operators.graph": (),
}

# Physical operators that run rows through a Python worker.
PYTHON_EVAL = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas|ArrowEvalPythonUDTF|BatchEvalPythonUDTF)\b"
)


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """In-memory span recorder. ``install`` patches the package's layer
    functions (and every module-level name bound to them) with span
    wrappers; ``uninstall`` puts the originals back."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.pass_id: str | None = None
        self._stack: list[dict[str, Any]] = []
        self._next = 0
        self._originals: dict[str, tuple[Any, str, Callable]] = {}

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "attrs": attrs,
        }
        self._next += 1
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    @staticmethod
    def _set_group(rec: dict[str, Any] | None) -> None:
        from py4j.protocol import Py4JError

        sc = _active_sc()
        if sc is None:
            return
        try:
            if rec is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(group_id(rec["id"]), rec["name"])
        except Py4JError:
            # The JVM is gone; the harness counts the failed operation.
            pass

    # -- wrappers ----------------------------------------------------------
    def _wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if name == "sources.io.load_table":
                    rec["attrs"]["table"] = args[2] if len(args) > 2 else kwargs.get("name")
                elif name == "sources.io.write_parquet":
                    rec["attrs"]["path"] = str(args[1] if len(args) > 1 else kwargs["path"])
                return out

        return traced

    def install(self) -> None:
        if self._originals:
            return
        for layer, names in WRAPPED.items():
            mod = importlib.import_module(f"{PKG}.{layer}")
            if not names:
                names = tuple(
                    n for n, v in vars(mod).items()
                    if callable(v) and not n.startswith("_")
                    and getattr(v, "__module__", None) == mod.__name__
                )
            for n in names:
                fn = getattr(mod, n)
                self._originals[f"{layer}.{n}"] = (mod, n, fn)
        self._swap({id(fn): self._wrap(key, fn) for key, (_, _, fn) in self._originals.items()})

    def uninstall(self) -> None:
        if not self._originals:
            return
        wrapped = {}
        for key, (mod, n, fn) in self._originals.items():
            wrapped[id(getattr(mod, n))] = fn
        self._swap(wrapped)
        self._originals.clear()

    @staticmethod
    def _swap(replace: dict[int, Callable]) -> None:
        """Rebind every module-level name of the package whose value is
        a key of ``replace`` — the defining modules and each module that
        imported the function by name (mining_pack binds fit_fpgrowth
        and load_table at import)."""
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                new = replace.get(id(val))
                if new is not None:
                    setattr(mod, attr, new)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def group_id(span_id: int) -> str:
    return f"perfbench-{span_id}"


# -- Spark status store -----------------------------------------------------


def drain_listener_bus() -> None:
    """Wait until the status store has seen every finished job."""
    _active_sc()._jsc.sc().listenerBus().waitUntilEmpty()


def jobs_by_span(spans: list[dict[str, Any]]) -> dict[int, list[list[dict[str, Any]]]]:
    """Span id -> the jobs that ran in its job group, each as the list of
    metrics of the stages it executed (skipped stages are left out).
    Read right after the spans close: the store keeps only the last
    ``spark.ui.retainedJobs`` jobs."""
    sc = _active_sc()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out: dict[int, list[list[dict[str, Any]]]] = {}
    for s in spans:
        jobs = []
        for jid in tracker.getJobIdsForGroup(group_id(s["id"])):
            info = tracker.getJobInfo(jid)
            stages = []
            for sid in (info.stageIds if info else []):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "input_bytes": sd.inputBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                })
            jobs.append(stages)
        if jobs:
            out[s["id"]] = jobs
    return out


def python_eval_nodes(df) -> int:  # noqa: ANN001
    """Python-worker operators in the physical plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(PYTHON_EVAL.findall(plan))


# -- span arithmetic ----------------------------------------------------------


def children(spans: list[dict[str, Any]]) -> dict[int | None, list[dict[str, Any]]]:
    out: dict[int | None, list[dict[str, Any]]] = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_time(span: dict[str, Any], kids: dict[int | None, list[dict[str, Any]]]) -> float:
    """Duration minus the time its child spans cover (children of one
    span run one after another on the client thread)."""
    covered = sum(c["end"] - c["start"] for c in kids.get(span["id"], []))
    return span["end"] - span["start"] - covered


def subtree(span: dict[str, Any], kids: dict[int | None, list[dict[str, Any]]]) -> Iterator[dict[str, Any]]:
    yield span
    for c in kids.get(span["id"], []):
        yield from subtree(c, kids)


def least_squares(rows: list[tuple[float, float, float]]) -> dict[str, float]:
    """Fit wall ≈ a + b·stages + c·jobs over (wall_s, stages, jobs) rows."""
    import numpy as np

    if len(rows) < 4:
        return {"intercept_ms": 0.0, "ms_per_stage": 0.0, "ms_per_job": 0.0, "r2": 0.0}
    y = np.array([r[0] for r in rows]) * 1e3
    x = np.array([[1.0, r[1], r[2]] for r in rows])
    coef, *_ = np.linalg.lstsq(x, y, rcond=None)
    resid = y - x @ coef
    ss_tot = float(((y - y.mean()) ** 2).sum())
    r2 = 1.0 - float((resid ** 2).sum()) / ss_tot if ss_tot > 0 else 0.0
    return {
        "intercept_ms": float(coef[0]),
        "ms_per_stage": float(coef[1]),
        "ms_per_job": float(coef[2]),
        "r2": r2,
    }

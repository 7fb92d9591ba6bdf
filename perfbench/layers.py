"""Per-layer metrics of one traced pass, computed from its spans and the
Spark work attributed to them, and their aggregation over passes."""

from __future__ import annotations

import os
import statistics
from pathlib import Path
from typing import Any

from perfbench.trace import children, drain_listener_bus, jobs_by_span, least_squares, self_time, subtree

# Every per-layer metric a traced run reports, with its unit.
LAYER_UNITS: dict[str, str] = {
    "session.get_session_s": "s",
    "jvm.peak_rss_mb": "MB",
    "session.harden_calls": "count",
    "session.harden_s": "s",
    "queries.registry.build_s": "s",
    "queries.registry.action_s": "s",
    "sources.io.load_table_calls": "count",
    "sources.io.load_table_s": "s",
    "sources.io.write_s": "s",
    "sources.io.bytes_written": "bytes",
    "operators.baskets.calls": "count",
    "operators.mining.fit_s": "s",
    "operators.mining.fit_jobs": "count",
    "operators.mining.serve_s": "s",
    "operators.mining.serve_jobs": "count",
    "operators.mining.itemsets": "count",
    "operators.mining.rules": "count",
    "operators.ckpt.pin_calls": "count",
    "operators.ckpt.pin_s": "s",
    "operators.ckpt.release_calls": "count",
    "operators.graph.self_s": "s",
    "operators.graph.control_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.busy_frac": "fraction",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.jvm_canary_ms": "ms",
    "spark.jvm_canary_before_ms": "ms",
    "spark.jvm_canary_after_ms": "ms",
    "python.canary_ms": "ms",
    "python.canary_before_ms": "ms",
    "python.canary_after_ms": "ms",
    "python.eval_nodes": "count",
    "fit.intercept_ms": "ms",
    "fit.ms_per_stage": "ms",
    "fit.ms_per_job": "ms",
    "fit.r2": "fraction",
    "trace.rows_per_s": "1/s",
    "trace.untraced_rows_per_s": "1/s",
    "trace.overhead_frac": "fraction",
}


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(Path(d) / f) for f in files)
    return total


def layer_metrics(spans: list[dict[str, Any]], wall_s: float) -> tuple[dict[str, float], list]:
    """Metrics of one traced pass, and one (wall_s, stages, jobs) row per
    operation for the stage/job cost fit."""
    drain_listener_bus()
    jobs = jobs_by_span(spans)
    kids = children(spans)

    def named(name: str) -> list[dict[str, Any]]:
        return [s for s in spans if s["name"] == name]

    def dur(name: str) -> float:
        return sum(s["end"] - s["start"] for s in named(name))

    def jobs_under(name: str) -> int:
        # Outermost spans of that name only, so nesting is not counted twice.
        ids = {s["id"] for s in named(name)}
        roots = [s for s in named(name) if s["parent"] not in ids]
        return sum(len(jobs.get(t["id"], [])) for r in roots for t in subtree(r, kids))

    all_jobs = [j for js in jobs.values() for j in js]
    stages = [st for j in all_jobs for st in j]
    graph = [s for s in spans if s["name"].startswith("operators.graph.")]
    cores = len(os.sched_getaffinity(0))
    run_s = sum(st["run_s"] for st in stages)
    m = {
        "session.harden_calls": len(named("session.harden")),
        "session.harden_s": dur("session.harden"),
        "queries.registry.build_s": dur("queries.registry.build"),
        "queries.registry.action_s": dur("queries.registry.action"),
        "sources.io.load_table_calls": len(named("sources.io.load_table")),
        "sources.io.load_table_s": dur("sources.io.load_table"),
        "sources.io.write_s": dur("sources.io.write_parquet"),
        "sources.io.bytes_written": sum(
            _dir_bytes(s["attrs"]["path"]) for s in named("sources.io.write_parquet")
        ),
        "operators.baskets.calls": len(named("operators.baskets.order_baskets"))
        + len(named("operators.baskets.token_baskets")),
        "operators.mining.fit_s": dur("operators.mining.fit_fpgrowth"),
        "operators.mining.fit_jobs": jobs_under("operators.mining.fit_fpgrowth"),
        "operators.mining.serve_s": dur("operators.mining.serve"),
        "operators.mining.serve_jobs": jobs_under("operators.mining.serve"),
        "operators.ckpt.pin_calls": len(named("operators.ckpt.pin")),
        "operators.ckpt.pin_s": dur("operators.ckpt.pin"),
        "operators.ckpt.release_calls": len(named("operators.ckpt.release")),
        "operators.graph.self_s": sum(self_time(s, kids) for s in graph),
        "operators.graph.control_jobs": sum(len(jobs.get(s["id"], [])) for s in graph),
        "spark.jobs": len(all_jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(st["tasks"] for st in stages),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": sum(st["cpu_s"] for st in stages),
        "spark.busy_frac": run_s / (wall_s * cores) if wall_s else 0.0,
        "spark.failed_tasks": sum(st["failed_tasks"] for st in stages),
    }
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sum(st[k] for st in stages)
    fit_rows = []
    for op in named("op"):
        op_jobs = [j for t in subtree(op, kids) for j in jobs.get(t["id"], [])]
        fit_rows.append((op["end"] - op["start"], sum(len(j) for j in op_jobs), len(op_jobs)))
    return m, fit_rows


def per_layer(passes: list[dict[str, float]], fit_rows: list) -> dict[str, float]:
    """Median of each metric over the traced passes, plus the cost fit."""
    out = {k: statistics.median(p[k] for p in passes) for k in (passes[0] if passes else {})}
    fit = least_squares(fit_rows)
    out.update({f"fit.{k}": v for k, v in fit.items()})
    return out


def describe_fit(metrics: dict[str, dict[str, float]]) -> str:
    v = {k: metrics[f"fit.{k}"]["value"] for k in ("intercept_ms", "ms_per_stage", "ms_per_job", "r2")}
    return (f"operation wall ≈ {v['intercept_ms']:.1f} ms + {v['ms_per_stage']:.1f} ms·stages"
            f" + {v['ms_per_job']:.1f} ms·jobs  (R² = {v['r2']:.3f})")

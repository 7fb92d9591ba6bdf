"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

A pass is a list of operations run in order by one client. Each
operation calls the package's public functions (through their modules,
so traced runs see the wrappers) and returns a ``verify`` callable that
the harness runs outside the timed region when the pass checks outputs.
"""

from __future__ import annotations

import contextlib
import math
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import pyarrow.parquet as pq

from perfbench import SetupError
from perfbench.inputs import BasketSpec, market_dir
from perfbench.oracles import market_supports, oracle_results, same_rows

Verify = Callable[[], "str | None"]


@dataclass
class Ctx:
    """What an operation sees: the session, the tracer when this pass is
    traced, whether this pass checks outputs, and per-pass state."""

    spark: Any
    tracer: Any = None
    check: bool = False
    corrupt: bool = False
    state: dict[str, Any] = field(default_factory=dict)
    counters: dict[str, float] = field(default_factory=dict)

    def span(self, name: str, **attrs: Any):  # noqa: ANN201
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], "Verify | None"]


def parquet_rows(path: Path) -> int:
    return pq.ParquetFile(path).metadata.num_rows


# -- registered queries on the fixtures --------------------------------------


class RegistryWorkload:
    """Registered queries, each built then forced with the noop sink (the
    check pass collects instead and compares with the DuckDB oracle).
    ``queries`` maps each query to the tables its ``load_table`` calls
    read, one entry per call; the self-test checks that list against a
    traced run."""

    def __init__(self, name: str, sf_dir: str, queries: dict[str, tuple[str, ...]],
                 mining: tuple[str, ...], nominal_pass_s: float) -> None:
        self.name, self.sf_dir, self.queries, self.mining = name, Path(sf_dir), queries, mining
        self.nominal_pass_s = nominal_pass_s

    def prepare(self, work: Path, registry: Any) -> None:
        missing = [t for t in {t for ts in self.queries.values() for t in ts}
                   if not (self.sf_dir / f"{t}.parquet").exists()]
        if missing:
            raise SetupError(f"fixture tables {missing} not found under {self.sf_dir}")
        self.registry = registry
        self.expected = oracle_results(
            work, self.sf_dir, {q: registry.ORACLES[q] for q in self.queries}
        )

    def rows_per_pass(self) -> int:
        return sum(parquet_rows(self.sf_dir / f"{t}.parquet")
                   for ts in self.queries.values() for t in ts)

    def ops(self) -> list[Op]:
        return [Op(q, lambda ctx, q=q: self._run(ctx, q)) for q in self.queries]

    def _run(self, ctx: Ctx, q: str) -> Verify | None:
        with ctx.span("queries.registry.build", query=q):
            df = self.registry.QUERIES[q](ctx.spark, str(self.sf_dir))
        serve = ctx.span("operators.mining.serve") if q in self.mining else contextlib.nullcontext()
        with ctx.span("queries.registry.action", query=q), serve:
            if ctx.check:
                pdf = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        if ctx.tracer:
            from perfbench.trace import python_eval_nodes

            ctx.add("python.eval_nodes", python_eval_nodes(df))
        if not ctx.check:
            return None
        if q in self.mining:
            ctx.add("operators.mining.itemsets", len(pdf))
        if ctx.corrupt and q == next(iter(self.queries)):
            pdf = pdf.iloc[1:]
        return lambda: same_rows(pdf, self.expected[q])


# -- FP-Growth on generated market baskets ------------------------------------

MIN_SUPPORT = 0.005
# Independent Zipf draws give no pair a confidence near the package's
# 0.3 default, so rules are mined at 0.1, where the top items fire.
MIN_CONFIDENCE = 0.1


class MarketWorkload:
    """load_table -> order_baskets -> fit_fpgrowth, then the itemsets and
    rules persisted with write_parquet and predictions to the noop sink."""

    def __init__(self, name: str, seed: int, spec: BasketSpec, nominal_pass_s: float) -> None:
        self.name, self.seed, self.spec, self.nominal_pass_s = name, seed, spec, nominal_pass_s

    def prepare(self, work: Path, registry: Any) -> None:
        self.dir = market_dir(work, self.seed, self.spec)
        self.ref = market_supports(work, self.dir, MIN_SUPPORT)
        self.out = work / "out" / self.name
        shutil.rmtree(self.out, ignore_errors=True)

    def rows_per_pass(self) -> int:
        return parquet_rows(self.dir / "lineitem.parquet")

    def ops(self) -> list[Op]:
        return [Op("fit", self._fit), Op("itemsets", self._itemsets),
                Op("rules", self._rules), Op("predict", self._predict)]

    def _fit(self, ctx: Ctx) -> None:
        from miningfrequentpattern_spark.operators import baskets, mining
        from miningfrequentpattern_spark.sources import io

        spark = ctx.spark
        ctx.state["baskets"] = baskets.order_baskets(io.load_table(spark, str(self.dir), "lineitem"))
        ctx.state["model"] = mining.fit_fpgrowth(
            ctx.state["baskets"],
            min_support=MIN_SUPPORT,
            min_confidence=MIN_CONFIDENCE,
            num_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        )

    def _serve_to_parquet(self, ctx: Ctx, what: str, df: Any):  # noqa: ANN202
        from miningfrequentpattern_spark.sources import io

        path = self.out / what
        with ctx.span("operators.mining.serve"):
            io.write_parquet(df, str(path))
        # Read back outside Spark: the check sees the files as written.
        return pq.read_table(path).to_pandas() if ctx.check else None

    def _itemsets(self, ctx: Ctx) -> Verify | None:
        from miningfrequentpattern_spark.operators import mining

        pdf = self._serve_to_parquet(ctx, "itemsets", mining.freq_itemsets(ctx.state["model"]))
        if pdf is None:
            return None
        rows = [(tuple(int(i) for i in r.items), int(r.freq)) for r in pdf.itertuples()]
        if ctx.corrupt:
            rows = rows[1:]
        ctx.state["itemsets"] = dict(rows)
        ctx.add("operators.mining.itemsets", len(rows))
        return lambda: check_itemsets(ctx.state["itemsets"], self.ref, MIN_SUPPORT)

    def _rules(self, ctx: Ctx) -> Verify | None:
        from miningfrequentpattern_spark.operators import mining

        pdf = self._serve_to_parquet(ctx, "rules", mining.association_rules(ctx.state["model"]))
        if pdf is None:
            return None
        ctx.add("operators.mining.rules", len(pdf))
        return lambda: check_rules(pdf, ctx.state.get("itemsets", {}), self.ref["baskets"])

    def _predict(self, ctx: Ctx) -> Verify | None:
        from miningfrequentpattern_spark.operators import mining

        pred = mining.predict_baskets(ctx.state["model"], ctx.state["baskets"])
        with ctx.span("operators.mining.serve"):
            if ctx.check:
                n, overlap = pred.selectExpr(
                    "count(*)", "coalesce(sum(size(array_intersect(items, prediction))), 0)"
                ).first()
            else:
                pred.write.format("noop").mode("overwrite").save()
        if not ctx.check:
            return None
        want = self.ref["baskets"]
        return lambda: (
            None if (n, overlap) == (want, 0)
            else f"predictions: {n} rows (want {want}), {overlap} predicted items already in the basket"
        )


def check_itemsets(got: dict[tuple, int], ref: dict, min_support: float) -> str | None:
    """Itemsets of at most two items must equal the DuckDB recount; larger
    ones must be frequent and no more frequent than any of their subsets."""
    want = {tuple(items): f for items, f in ref["supports"]}
    small = {k: v for k, v in got.items() if len(k) <= 2}
    if small != want:
        return (f"{len(set(small.items()) ^ set(want.items()))} of the "
                f"{len(want)} itemsets with at most two items differ from the recount")
    min_count = math.ceil(min_support * ref["baskets"])
    for items, f in got.items():
        if len(items) > 2 and (f < min_count or any(
            got.get(items[:i] + items[i + 1:], -1) < f for i in range(len(items))
        )):
            return f"itemset {items} (freq {f}) contradicts its subsets"
    return None


def check_rules(pdf: Any, itemsets: dict[tuple, int], n_baskets: int) -> str | None:
    """Every rule X -> y with X ∪ {y} frequent and confidence at least
    MIN_CONFIDENCE, with MLlib's confidence, lift and support."""
    want = {}
    for items, f in itemsets.items():
        for i, y in enumerate(items if len(items) > 1 else ()):
            x = items[:i] + items[i + 1:]
            conf = f / itemsets[x]
            if conf >= MIN_CONFIDENCE:
                want[(x, (y,))] = (conf, conf / (itemsets[(y,)] / n_baskets), f / n_baskets)
    got = {
        (tuple(int(i) for i in r.antecedent), tuple(int(i) for i in r.consequent)):
            (r.confidence, r.lift, r.support)
        for r in pdf.itertuples()
    }
    if got.keys() != want.keys():
        return f"{len(got.keys() ^ want.keys())} rules differ from those the itemsets imply"
    for k, vals in got.items():
        if not all(math.isclose(a, b, rel_tol=1e-9) for a, b in zip(vals, want[k])):
            return f"rule {k}: (confidence, lift, support) {vals} != {want[k]}"
    return None


# -- catalogue ------------------------------------------------------------------

# Iterative graph queries: bound by job and stage count through
# operators.graph and operators.ckpt.
GRAPH_QUERIES = {
    "m23_part_cheapest_reach": ("lineitem",),
}

# Short LLM-curation queries: each pays a fixed cost (planning, harden,
# load, Python-worker round trips); l02d and r87 run through Python
# workers, m04 mines few dense single-partition token baskets.
LLM_QUERIES = {
    "l02d_embedding_neardup": ("embeddings",),
    "r87_ttl_dedup": ("events",),
    "m04_itemsets_full_tokens": ("documents",),
}

WORKLOADS = ("fim_market", "registry_mix")

# Baskets per fim_market input, the fixture scale of registry_mix, and
# each workload's warm-pass time on a 4-core box, which sets how many
# passes fill --seconds.
SCALES = {
    "bench": {"baskets": 30_000, "sf": "ORACLE_SF_DIR", "pass_s": {"fim_market": 4.0, "registry_mix": 6.0}},
    "tiny": {"baskets": 2_000, "sf": "SMOKE_SF_DIR", "pass_s": {"fim_market": 1.0, "registry_mix": 1.0}},
}


def make(name: str, seed: int, scale: str):  # noqa: ANN201
    from miningfrequentpattern_spark import session

    sc = SCALES[scale]
    sf_dir = getattr(session, sc["sf"])
    if name == "fim_market":
        return MarketWorkload(name, seed, BasketSpec(n_baskets=sc["baskets"]), sc["pass_s"][name])
    if name == "registry_mix":
        return RegistryWorkload(
            name, sf_dir, {**GRAPH_QUERIES, **LLM_QUERIES},
            mining=("m04_itemsets_full_tokens",), nominal_pass_s=sc["pass_s"][name],
        )
    raise SetupError(f"unknown workload {name!r}; expected one of {WORKLOADS}")

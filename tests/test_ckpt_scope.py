"""Pin and cache lifetimes of the iterative operators (operators/ckpt.py
`Pins`): a failure in the middle of a loop must leave no pinned or
cached block behind, and the empty-graph PageRank results honour
durable=True like every other pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class InjectedPinFailure(RuntimeError):
    pass


def _graph(spark):
    # triangle plus a tail: every loop below runs several rounds
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )


def _pairs(spark):
    return _graph(spark).selectExpr("src AS doc_a", "dst AS doc_b")


def _pagerank(spark):
    from miningfrequentpattern_spark.operators.graph import pagerank

    return pagerank(_graph(spark), iterations=3)


def _ppr(spark):
    from miningfrequentpattern_spark.operators.graph import (
        personalized_pagerank,
    )

    seeds = spark.createDataFrame([(1,)], "id long")
    return personalized_pagerank(_graph(spark), seeds, iterations=3)


def _kcore(spark):
    from miningfrequentpattern_spark.operators.graph import kcore

    return kcore(_graph(spark), k=2)


def _khop(spark):
    from miningfrequentpattern_spark.operators.graph import khop_distances

    seeds = spark.createDataFrame([(1,)], "id long")
    return khop_distances(_graph(spark), seeds, max_hops=4)


def _sssp(spark):
    from miningfrequentpattern_spark.operators.graph import sssp_distances

    seeds = spark.createDataFrame([(1,)], "id long")
    edges = _graph(spark).withColumn("weight", F.lit(1.0))
    return sssp_distances(edges, seeds, max_rounds=4)


def _ktruss(spark):
    from miningfrequentpattern_spark.operators.graph import ktruss

    return ktruss(_graph(spark), k=3)


def _lpa(spark):
    from miningfrequentpattern_spark.operators.graph import (
        label_propagation,
    )

    return label_propagation(_graph(spark), iterations=4)


def _cc(spark):
    from miningfrequentpattern_spark.operators.dedup import (
        connected_components,
    )

    return connected_components(_pairs(spark))


def _cc_star(spark):
    from miningfrequentpattern_spark.operators.dedup import (
        connected_components_star,
    )

    return connected_components_star(_pairs(spark))


def _apriori(spark):
    from miningfrequentpattern_spark.operators.mining import (
        apriori_frequent_itemsets,
    )

    baskets = spark.createDataFrame(
        [(["a", "b", "c"],), (["a", "b"],), (["b", "c"],), (["a", "c"],)],
        "items array<string>",
    )
    return apriori_frequent_itemsets(baskets, min_support=0.25, max_k=3)


def _bpe(spark):
    from miningfrequentpattern_spark.operators.text import bpe_merge_rounds

    docs = spark.createDataFrame(
        [("low lower lowest",), ("newer wider newest",)], "text string"
    )
    return bpe_merge_rounds(docs, n_merges=4)


# (operator, the pin call that fails): each failure lands in the
# middle of the loop, while the operator owns earlier pins and caches
# (pagerank and ppr take a single pin, the result's)
OPERATORS = {
    "pagerank": (_pagerank, 1),
    "personalized_pagerank": (_ppr, 1),
    "kcore": (_kcore, 3),
    "khop_distances": (_khop, 3),
    "sssp_distances": (_sssp, 3),
    "ktruss": (_ktruss, 3),
    "label_propagation": (_lpa, 3),
    "connected_components": (_cc, 3),
    "connected_components_star": (_cc_star, 3),
    "apriori_frequent_itemsets": (_apriori, 3),
    "bpe_merge_rounds": (_bpe, 2),
}


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_failed_pin_mid_loop_frees_every_pin_and_cache(
    spark, monkeypatch, name
):
    from miningfrequentpattern_spark.operators import ckpt

    run, fail_at = OPERATORS[name]
    real_pin = ckpt.pin
    calls = []

    def failing_pin(df, durable=False):
        calls.append(df)
        if len(calls) == fail_at:
            raise InjectedPinFailure(f"pin #{fail_at}")
        return real_pin(df, durable)

    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    monkeypatch.setattr(ckpt, "pin", failing_pin)
    with pytest.raises(InjectedPinFailure):
        run(spark)
    assert len(calls) == fail_at
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"{name} left {len(leaked)} persisted RDD(s)"


def test_empty_graph_pagerank_durable_result_is_reliable_checkpoint(spark):
    """durable=True must reach the empty-graph result pin too: it is a
    reliable checkpoint (a checkpoint file backs it), not a local
    one."""
    from miningfrequentpattern_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    edges = spark.createDataFrame([], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    for out in (
        pagerank(edges, durable=True),
        personalized_pagerank(edges, seeds, durable=True),
    ):
        rdd = out._jdf.queryExecution().analyzed().rdd()
        assert rdd.getCheckpointFile().isDefined()
        assert out.count() == 0


def test_scope_releases_kept_handles_when_the_body_raises(spark):
    """keep() hands a handle to the caller only on a normal exit; a
    raise releases it with everything else the scope owns."""
    from miningfrequentpattern_spark.operators.ckpt import Pins, release

    df = spark.range(10)
    before = _persistent_ids(spark)
    with pytest.raises(ValueError):
        with Pins() as pins:
            pins.keep(pins.pin(df))
            raise ValueError("after keep")
    assert not _persistent_ids(spark) - before
    with Pins() as pins:
        kept = pins.keep(pins.pin(df))
        pins.release(pins.pin(df))
    assert len(_persistent_ids(spark) - before) == 1
    assert kept.count() == 10
    release(kept)

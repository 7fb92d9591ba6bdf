"""Mine-once contract of `fit_fpgrowth`: the fit mines and persists the
FP-Growth lattice, every serve action reads that cache, and the fit's
storage footprint is the lattice alone.

The tests reach the lattice through `mining._lattice_rdd`, the py4j
seam (`freqItemsets` -> analyzed LogicalRDD -> its Row-RDD dependency)
that the fit persists. It returns None where Spark's plan has another
shape, so a Spark upgrade that moves the seam fails here instead of
silently re-mining on every serve action."""

from itertools import combinations
from math import ceil

from pyspark import StorageLevel

from miningfrequentpattern_spark.operators.mining import (
    _lattice_rdd,
    association_rules,
    fit_fpgrowth,
    freq_itemsets,
    predict_baskets,
    prefix_span,
)

MIN_SUPPORT = 0.2
MIN_CONFIDENCE = 0.5
BASKETS = [
    ["a", "b", "c"], ["a", "b"], ["a", "c"], ["b", "c"], ["a", "b", "c", "d"],
    ["a", "d"], ["b", "d"], ["a", "b", "d"], ["c"], ["a", "b", "c", "e"],
]


def _baskets(spark):
    return spark.createDataFrame([(b,) for b in BASKETS], "items array<string>")


def _brute_force_itemsets():
    min_count = ceil(MIN_SUPPORT * len(BASKETS))
    universe = sorted({i for b in BASKETS for i in b})
    out = {}
    for k in range(1, len(universe) + 1):
        for c in combinations(universe, k):
            f = sum(set(c) <= set(b) for b in BASKETS)
            if f >= min_count:
                out[c] = f
    return out


def _mining_shuffle_map_side(lattice) -> int:
    """Id of the RDD that writes the PFP shuffle the FP-trees are
    built from: the map side of the first shuffle below the lattice."""
    rdd = lattice
    while True:
        dep = rdd.dependencies().head()
        if dep.getClass().getSimpleName() == "ShuffleDependency":
            return dep.rdd().id()
        rdd = dep.rdd()


def _remining_stages(spark, group: str, lattice) -> list[str]:
    """Executed stages of the job group that mine again: one that runs
    the PFP shuffle's map side, or one that holds the lattice RDD and
    reads shuffle data (it rebuilt the FP-trees instead of reading the
    cached rows)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    map_side = _mining_shuffle_map_side(lattice)
    out = []
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            ids = {sd.rddIds().apply(i) for i in range(sd.rddIds().size())}
            if map_side in ids or (
                lattice.id() in ids and sd.shuffleReadBytes() > 0
            ):
                out.append(sd.name())
    return out


def _fully_cached(spark, rdd) -> bool:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return any(
        i.id() == rdd.id() and i.numCachedPartitions() == i.numPartitions()
        for i in infos
    )


def test_fit_materializes_lattice_and_serving_never_remines(spark):
    """As soon as the fit returns, the lattice is fully cached; serving
    itemsets, rules and predictions then runs no stage that mines
    again, and the served itemsets equal a brute-force count (a cache
    of the UnsafeRow-reusing converter would return one row repeated)."""
    sc = spark.sparkContext
    baskets = _baskets(spark)
    model = fit_fpgrowth(
        baskets, min_support=MIN_SUPPORT, min_confidence=MIN_CONFIDENCE
    )
    lattice = _lattice_rdd(model)
    assert lattice is not None, "the freqItemsets seam moved"
    assert _fully_cached(spark, lattice)

    group = "test_fpgrowth_mine_once_serve"
    sc.setJobGroup(group, group)
    try:
        itemsets = freq_itemsets(model).collect()
        rules = association_rules(model).collect()
        predictions = predict_baskets(model, baskets).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _remining_stages(spark, group, lattice) == []
    assert _fully_cached(spark, lattice)

    assert {tuple(r["items"]): r["freq"] for r in itemsets} == (
        _brute_force_itemsets()
    )
    assert len(itemsets) == len({tuple(r["items"]) for r in itemsets})
    assert rules and all(r["confidence"] >= MIN_CONFIDENCE for r in rules)
    assert len(predictions) == len(BASKETS)


def test_fit_lifetime_adds_no_sql_cache_entry_and_releases_input(spark):
    """The lattice pin is an RDD persist, not a SQL cache: a fit leaves
    the CacheManager empty, grows the persistent RDDs by at most the
    lattice, and still releases its temporary basket cache."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    baskets = _baskets(spark)
    model = fit_fpgrowth(baskets, min_support=MIN_SUPPORT)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert jsc.getPersistentRDDs().size() <= before + 1
    assert baskets.storageLevel == StorageLevel.NONE
    assert model.freqItemsets.count() == len(_brute_force_itemsets())


def test_caller_cached_input_stays_cached(spark):
    """fit_fpgrowth and prefix_span cache only an input that arrived
    uncached; an input the caller cached is neither re-cached nor
    unpersisted by them."""
    baskets = _baskets(spark).cache()
    seqs = spark.createDataFrame(
        [([["a"], ["b"]],), ([["a"], ["c"]],)], "sequence array<array<string>>"
    ).cache()
    try:
        level = baskets.storageLevel
        fit_fpgrowth(baskets, min_support=MIN_SUPPORT)
        assert baskets.storageLevel == level
        level = seqs.storageLevel
        prefix_span(seqs, min_support=0.5, max_pattern_length=2)
        assert seqs.storageLevel == level
    finally:
        baskets.unpersist()
        seqs.unpersist()

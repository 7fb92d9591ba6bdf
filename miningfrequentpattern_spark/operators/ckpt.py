"""Pin and cache lifetimes for the iterative operators (connected
components, k-core, PageRank, Apriori levels, BPE rounds).

Every loop truncates lineage per round with an eager `pin`: a
cache-only loop doubles the ANALYZED plan every round and Catalyst
planning itself goes exponential (measured, see
dedup.connected_components). Each pin, and each cache an operator
takes on its loop inputs, must also be freed again. `Pins` is the one
scope that owns both:

    with Pins(durable) as pins:
        e = pins.cache(edges)        # freed when the scope exits
        cur = pins.pin(start)        # freed when the scope exits
        for _ in range(max_iter):
            nxt = pins.pin(step(cur))
            pins.release(cur)        # retired generation, freed now
            cur = nxt
        return pins.keep(cur)        # handed to the caller

On exit, by return or by exception, the scope releases every pin and
unpersists every cache it still owns. `keep` hands a handle to the
caller only on a normal exit: when the body raises, kept handles are
released too, since the caller never receives them.

`durable` is the fault-tolerance choice the caller owns:

- durable=False (default): `localCheckpoint` — executor-storage pin,
  zero extra infrastructure, NOT recoverable on executor loss. The
  right default for interactive/derived results.
- durable=True: reliable `checkpoint` to the SparkContext's
  checkpoint directory — survives executor loss, costs a write+read
  of the state per round. Long multi-hour jobs should pass
  durable=True and point `spark.sparkContext.setCheckpointDir` at
  job-scoped durable storage (HDFS/S3). If no directory is set, a
  local temp dir is used so the mode works out of the box on
  local[*] — that default is durability against executor loss, not
  against machine loss; set a real directory on a cluster.
  Checkpoint FILES are reclaimed by
  `spark.cleaner.referenceTracking.cleanCheckpoints=true` (set in
  session.get_session) once the RDD is GC'd, or with the directory.

`Pins` calls the module-level `pin` and `release` by name, so a
wrapper installed on them (tracing, fault injection in tests) sees
every pin and release the scope makes.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame


def pin(df: DataFrame, durable: bool = False) -> DataFrame:
    """Truncate lineage eagerly; see module docstring for the trade."""
    if not durable:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            tempfile.mkdtemp(prefix="mfp_reliable_ckpt_")
        )
    return df.checkpoint(eager=True)


def release(df: DataFrame, durable: bool = False) -> None:
    """Free a pinned generation the loop no longer needs.

    Local pins unpersist their executor blocks NOW instead of waiting
    for GC + ContextCleaner: the analyzed plan of a checkpointed
    DataFrame is a LogicalRDD whose rdd() IS the persistent
    checkpoint RDD, so unpersisting it is exact — no
    persistent-RDD-map diffing, no cross-query race. Best-effort via
    the py4j seam (Spark classic); a failure means blocks linger
    until GC, never a wrong result. Without this an iterative loop
    accumulates O(rounds × |state|) MEMORY_AND_DISK blocks that can
    evict live caches. Reliable checkpoints live as FILES — nothing
    to unpersist; reclamation is the cleaner's (cleanCheckpoints) or
    the directory's job."""
    if durable:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


class Pins:
    """Scope that owns the pins and caches of one operator call; see
    the module docstring."""

    def __init__(self, durable: bool = False) -> None:
        self.durable = durable
        # (handle, is_pin) in acquisition order; freed in reverse
        self._owned: list[tuple[DataFrame, bool]] = []
        self._kept: list[tuple[DataFrame, bool]] = []

    def __enter__(self) -> Pins:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        owned = self._owned + (self._kept if exc_type else [])
        self._owned, self._kept = [], []
        for df, is_pin in reversed(owned):
            self._free(df, is_pin)

    def pin(self, df: DataFrame) -> DataFrame:
        """Pin `df` (module `pin`) and own the pin."""
        out = pin(df, self.durable)
        self._owned.append((out, True))
        return out

    def cache(self, df: DataFrame) -> DataFrame:
        """Cache `df` and own the cache."""
        out = df.cache()
        self._owned.append((out, False))
        return out

    def release(self, *dfs: DataFrame) -> None:
        """Free owned handles now; a handle the scope no longer owns
        (already released, or never taken) is skipped."""
        for df in dfs:
            entry = self._take(df)
            if entry is not None:
                self._free(*entry)

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand `df` to the caller on a normal exit of the scope."""
        entry = self._take(df)
        if entry is not None:
            self._kept.append(entry)
        return df

    def _take(self, df: DataFrame) -> tuple[DataFrame, bool] | None:
        for i, entry in enumerate(self._owned):
            if entry[0] is df:
                return self._owned.pop(i)
        return None

    def _free(self, df: DataFrame, is_pin: bool) -> None:
        if is_pin:
            release(df, self.durable)
        else:
            df.unpersist()

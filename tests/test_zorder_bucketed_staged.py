"""Properties of functions/zorder.py::bucket16, the range bucketing
behind the registered s09_zorder_key.

spread16 truncates to 16 bits, so s09's wide-domain inputs (hour
≈ 490k, unbounded user_id) would alias 65536 apart and file-level
min/max pruning would quietly weaken. bucket16 range-buckets each
dimension onto the full 16-bit domain from data-derived bounds. The
test below pins its monotonicity (locality preserved), full-domain
coverage (no aliasing) and the clamp for out-of-bounds stragglers;
s09's value-for-value parity with its SQL twin is
tests/test_oracle_parity.py::test_oracle_match[s09_zorder_key].
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_bucket16_monotone_full_domain_and_clamp(spark):
    """bucket16 is monotone (z-order locality preserved), surjective
    onto the 16-bit endpoints (lo -> 0, hi -> 65535 — no truncation
    aliasing), and clamps out-of-bounds values instead of wrapping."""
    from miningfrequentpattern_spark.functions.zorder import bucket16

    lo, hi = 1_000_000, 2_000_000  # a 20-bit-wide domain
    vals = [lo, lo + 1, 1_234_567, 1_765_432, hi - 1, hi,
            lo - 50, hi + 50]  # last two: out-of-bounds stragglers
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: r["b"]
        for r in df.select(
            "v",
            bucket16(F.col("v"), F.lit(lo), F.lit(hi)).alias("b"),
        ).collect()
    }
    assert got[lo] == 0 and got[hi] == 65535
    in_domain = [got[v] for v in sorted(vals[:6])]
    assert in_domain == sorted(in_domain)  # monotone
    assert all(0 <= b <= 65535 for b in got.values())
    assert got[lo - 50] == 0 and got[hi + 50] == 65535  # clamped
    # distinct in-domain values 65536 apart can no longer alias:
    # the map is monotone over the live domain, so equal buckets can
    # only come from values inside the same (span/65536)-wide cell
    wide = spark.createDataFrame(
        [(v,) for v in (lo, lo + 65536, lo + 2 * 65536)], "v long"
    )
    bs = [
        r["b"]
        for r in wide.select(
            bucket16(F.col("v"), F.lit(lo), F.lit(hi)).alias("b")
        ).collect()
    ]
    assert len(set(bs)) == 3

"""Sources/sinks pack (SURVEY.md §2.1 S2-S4 + §2.6 U3): the reference's
native text-transaction format, CSV/JSON ingestion, the parquet sink,
and the Python UDTF surface — each proven by a ROUND TRIP whose result
is oracle-checked against the originating fixture table.

Round-trip shape: derive data from a fixture → write it in the target
format to a scratch dir → read it back through the engine's source
operator → reduce to an oracle-comparable result. The oracle runs on
the fixture directly, so any loss/corruption in the write/read leg
fails the hash match.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udtf import register_udtfs
from ..sources.io import (
    load_table,
    read_csv,
    read_json,
    read_orc,
    read_transactions_text,
    write_orc,
    write_parquet,
)
from .registry import query


_SCRATCH_ROOT: str | None = None


def _scratch(tag: str) -> str:
    """Per-tag scratch dir under ONE session-scoped temp root.

    The returned DataFrames read these paths lazily, so they cannot be
    deleted inside the query function; instead every round-trip query
    reuses a fixed path (its writer runs mode=overwrite) and the whole
    root is removed at interpreter exit — repeated bench/test runs no
    longer accumulate lineitem-scale copies in /tmp.
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="mfp_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    path = os.path.join(_SCRATCH_ROOT, tag)
    os.makedirs(path, exist_ok=True)
    return path


@query(
    "s02_text_transactions",
    oracle="""
    SELECT array_to_string(
             list_sort(list_transform(list_distinct(list(l_partkey)),
                                      x -> CAST(x AS VARCHAR))), ' ')
             AS basket,
           count(DISTINCT l_partkey) AS n_items
    FROM lineitem GROUP BY l_orderkey
    """,
)
def s02_text_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the reference's native input format, round-tripped.

    lineitem → one space-separated basket line per order → text file →
    read_transactions_text → (basket, n_items). Items become STRINGS on
    the text leg, so both engines sort lexicographically.
    """
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.groupBy("l_orderkey").agg(
        F.array_join(
            F.sort_array(F.collect_set(F.col("l_partkey").cast("string"))), " "
        ).alias("value")
    )
    path = _scratch("txn")
    lines.select("value").write.mode("overwrite").text(path)
    txns = read_transactions_text(spark, path)
    return txns.select(
        F.array_join("items", " ").alias("basket"),
        F.size("items").cast("long").alias("n_items"),
    )


@query(
    "s03_csv_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers,
           round(sum(c_acctbal), 4) AS total_balance
    FROM customer GROUP BY c_mktsegment
    """,
)
def s03_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 (CSV): customer → CSV with header → read back with an
    explicit DDL schema (no inference job) → aggregate."""
    c = load_table(spark, sf_dir, "customer")
    path = _scratch("csv")
    c.write.mode("overwrite").option("header", "true").csv(path)
    back = read_csv(
        spark,
        path,
        schema=(
            "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
            "c_acctbal DOUBLE, c_mktsegment STRING"
        ),
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 4).alias("total_balance"),
    )


@query(
    "s03b_json_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def s03b_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 (JSON): orders → JSON lines → schema-full read → aggregate.
    Timestamps ride through ISO strings; the aggregate avoids exposing
    them so JSON timestamp-format drift can't bite the oracle."""
    o = load_table(spark, sf_dir, "orders")
    path = _scratch("json")
    o.write.mode("overwrite").json(path)
    back = read_json(
        spark,
        path,
        schema=(
            "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
            "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
        ),
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


@query(
    "s04_parquet_sink_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           count(*) AS count_order
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def s04_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: result sink — aggregate → write_parquet (partitioned by the
    low-cardinality flag, the scale-correct layout) → read back."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )
    path = _scratch("sink")
    write_parquet(agg, path, partition_by=["l_returnflag"])
    # Explicit schema on the read-back: an EMPTY aggregate writes no
    # part files, and a schema-inferred read of a fileless directory
    # throws instead of returning the empty relation the round-trip
    # contract owes (the writer's schema is the source of truth).
    back = spark.read.schema(agg.schema).parquet(path)
    return back.select("l_returnflag", "l_linestatus", "sum_qty", "count_order")


@query(
    "s06_orc_roundtrip",
    oracle="""
    SELECT p_brand, count(*) AS n_parts,
           round(sum(p_retailprice), 4) AS total_price,
           max(p_size) AS max_size
    FROM part GROUP BY p_brand
    """,
)
def s06_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 (ORC): part → ORC → read back → aggregate. Proves the
    bundled columnar alternative loses nothing; the oracle runs on the
    originating parquet fixture."""
    p = load_table(spark, sf_dir, "part")
    path = _scratch("orc")
    write_orc(p, path)
    # writer schema on the read-back: an empty slice writes a
    # fileless dir and schema inference throws instead of returning
    # the empty aggregate (code-review r10, the s04/s05 pin)
    back = read_orc(spark, path, schema=p.schema)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("p_retailprice"), 4).alias("total_price"),
        F.max("p_size").alias("max_size"),
    )


@query(
    "s05_partitioned_pruning",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def s05_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S4 (partitioned directory): orders → hive-partitioned parquet
    directory (partitionBy o_orderpriority) → directory scan with a
    filter ON the partition column → aggregate.

    This is the 100 TB table layout: the filter must resolve at
    PLANNING time against directory names (PartitionFilters in the
    scan node — asserted in tests/test_plans.py), so 3 of 5 partitions
    are never opened. The oracle runs on the unpartitioned fixture,
    proving the partitioned round trip loses nothing.
    """
    o = load_table(spark, sf_dir, "orders")
    path = _scratch("part_orders")
    write_parquet(o, path, partition_by=["o_orderpriority"])
    # Explicit schema: survives an empty source (no part files to
    # infer from) — see s04. Partition pruning is unaffected: the
    # partition column still resolves from directory names.
    back = spark.read.schema(o.schema).parquet(path)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


@query(
    "u03_udtf_token_counts",
    oracle="""
    SELECT tok AS token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    """,
)
def u03_udtf_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: Python UDTF in a SQL lateral join — token frequencies via
    the tokenize table function, oracle-checked against plain unnest.
    (Row-at-a-time Python: the slow path, registered to prove the
    extension surface; see functions/udtf.py.)"""
    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_u3")
    return spark.sql(
        """
        SELECT t.token, count(*) AS n
        FROM docs_u3, LATERAL tokenize(text) t
        GROUP BY t.token
        """
    )


@query(
    "u07_udtf_polymorphic_ngrams",
    oracle="""
    WITH t AS (SELECT string_split(trim(text), ' ') AS l FROM documents),
    z AS (SELECT unnest(list_zip(l, l[2:], l[3:])) AS s FROM t)
    SELECT s[1] AS w1, s[2] AS w2, s[3] AS w3, count(*) AS n_occ
    FROM z WHERE s[3] IS NOT NULL
    GROUP BY 1, 2, 3 HAVING count(*) >= 5
    """,
)
def u07_udtf_polymorphic_ngrams(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U3-extension: POLYMORPHIC Python UDTF — `ngram_wide(text, 3)`
    computes its output schema (w1, w2, w3) at plan time inside the
    UDTF's `analyze` method from the constant n argument, the Spark 4
    capability a fixed returnType cannot express (u03 proves the
    static surface; this proves the analyze-time one). The lateral
    join fans each document into its trigrams as real COLUMNS, then a
    native aggregate keeps repeated trigrams.

    Row-at-a-time Python by design (§2.6 policy: UDTFs prove the
    extension point; explode(shingles()) is the production path —
    tests assert the two agree). The aggregate after the fan-out is
    native, so the Python cost is the eval loop only."""
    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "docs_u7"
    )
    return spark.sql(
        """
        SELECT t.w1, t.w2, t.w3, count(*) AS n_occ
        FROM docs_u7, LATERAL ngram_wide(text, 3) t
        GROUP BY t.w1, t.w2, t.w3
        HAVING count(*) >= 5
        """
    )


@query(
    "s07_python_datasource",
    oracle="""
    WITH t AS (SELECT unnest(generate_series(0, 3999)) AS txn_id)
    SELECT 'item' || CAST((txn_id * 7919) % 100 AS VARCHAR) AS item,
           count(*) AS n_txns,
           min(txn_id) AS first_txn
    FROM t GROUP BY item
    """,
)
def s07_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extension: custom Python Data Source (Spark 4 DataSource API)
    — a partition-parallel synthetic transaction generator, 4 splits ×
    1000 rows, each split generated executor-side from its index. The
    deterministic row formula lets DuckDB regenerate the identical
    rows from generate_series, so even a connector with no files
    behind it is hash-verified."""
    from ..sources.pydatasource import SyntheticTxnDataSource

    spark.dataSource.register(SyntheticTxnDataSource)
    df = (
        spark.read.format("synthetic_txns")
        .option("partitions", "4")
        .option("rowsPerPartition", "1000")
        .load()
    )
    return df.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_txns"),
        F.min("txn_id").alias("first_txn"),
    )


@query(
    "u04_arrow_vector_norms",
    oracle="""
    SELECT vec_id,
           len(embedding) AS emb_dim,
           round(sqrt(list_sum(list_transform(
             CAST(embedding AS DOUBLE[]), x -> x*x))), 4) AS emb_norm
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
    """,
)
def u04_arrow_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 (mapInArrow): per-vector L2 norms computed at the Arrow
    RecordBatch level — zero-copy offsets + np.add.reduceat over the
    flattened values, never a per-row Python loop. The explicit Arrow
    seam for numeric kernels that outgrow SQL expressions but don't
    need pandas; oracle-checked against the native list-fold math."""
    import numpy as np
    import pyarrow as pa

    # NULL/empty vectors break the flatten/offset alignment in the
    # Arrow kernel (pyarrow flatten() drops a null slot's values
    # while the offsets arithmetic does not, shifting every later
    # row's norm; an empty row makes reduceat read the NEXT row's
    # first element — code-review r8): filter at the boundary, the
    # u05 stance, with the oracle filtering identically.
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            F.col("embedding").isNotNull() & (F.size("embedding") > 0)
        )
        .select("vec_id", "embedding")
    )

    def batch_norms(batches):
        for batch in batches:
            ids = batch.column(0)
            lists = batch.column(1)
            flat = lists.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            # value offsets give each row's [start, end) in the flat
            # buffer; reduceat sums squares per row in one vector op.
            offsets = lists.offsets.to_numpy()[:-1] - lists.offsets[0].as_py()
            dims = np.diff(np.append(offsets, len(flat)))
            norms = np.sqrt(np.add.reduceat(flat * flat, offsets))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(dims.astype("int64")),
                    pa.array(norms),
                ],
                names=["vec_id", "emb_dim", "emb_norm"],
            )

    # Round JVM-side with F.round, never np.round inside the kernel
    # (code-review r9): np.round ties half-to-even via an inexact
    # scaled algorithm while the DuckDB oracle's round() is half-away
    # -from-zero — a norm landing on a .00005 boundary would flip the
    # 4th decimal on one engine only. F.round is the repo-wide pin.
    return emb.mapInArrow(
        batch_norms, schema="vec_id BIGINT, emb_dim BIGINT, emb_norm DOUBLE"
    ).withColumn("emb_norm", F.round("emb_norm", 4))


@query(
    "s08_xml_roundtrip",
    oracle="""
    SELECT n_name,
           count(*) AS n_suppliers,
           round(sum(s_acctbal), 4) AS total_balance
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def s08_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 (XML, Spark 4 built-in source): supplier → XML → read
    back (writer schema supplied — inference has nothing to read on
    an empty write, and type fidelity is proven by the oracle hash
    either way) → join + aggregate. The oracle runs on the
    originating parquet fixture, so the round trip proves the XML
    reader loses nothing. XML parses row-at-a-time with no pushdown
    — documented as ingestion-only; the small supplier dim keeps
    the proof cheap."""
    from ..sources.io import read_xml, write_xml

    s = load_table(spark, sf_dir, "supplier")
    path = _scratch("xml")
    write_xml(s, path, row_tag="supplier")
    # Writer schema passed through: an empty XML write leaves nothing
    # to infer from, and inference is also what the round trip must
    # NOT depend on for type fidelity (see read_xml docstring).
    back = read_xml(spark, path, row_tag="supplier", schema=s.schema)
    n = load_table(spark, sf_dir, "nation")
    return (
        back.join(n, back.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 4).alias("total_balance"),
        )
    )


from ..functions.zorder import bucket16_sql as _b16sql
from ..functions.zorder import morton2_sql as _m2sql

# Range-bucketed z-order oracle: both engines derive each dimension's
# [lo, hi] bounds from the same data CTE and bucket onto the full
# 16-bit domain before the interleave (bucket16's properties are
# pinned in tests/test_zorder_bucketed_staged.py).
_S09_BX = _b16sql("u", "(SELECT ulo FROM b)", "(SELECT uhi FROM b)")
_S09_BY = _b16sql("h", "(SELECT hlo FROM b)", "(SELECT hhi FROM b)")
_S09_ORACLE = f"""
    WITH e AS (SELECT event_id, user_id AS u,
                      CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
               FROM events WHERE event_id < 2000),
    b AS (SELECT min(u) AS ulo, max(u) AS uhi,
                 min(h) AS hlo, max(h) AS hhi FROM e)
    SELECT event_id, {_m2sql(_S09_BX, _S09_BY)} AS zval FROM e
    """


@query("s09_zorder_key", oracle=_S09_ORACLE)
def s09_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extension (layout): Morton z-order key over RANGE-BUCKETED
    (user_id, hour-bucket) for the events table — the
    multi-dimensional clustering key that, with
    repartitionByRange(zval) + a sorted write, bounds BOTH
    dimensions' min/max span per file so parquet stats prune scans on
    either predicate (Delta/Iceberg's ZORDER BY, as a plain
    expression).

    r12 re-cert (registry booking (n)): the original morton2 fed
    spread16 raw wide-domain keys (hour ≈ 490k = 19 bits, unbounded
    user_id), which TRUNCATE to 16 bits — values 65536 apart
    interleaved identically and file-level min/max pruning quietly
    weakened (both engines agreed, so no hash ever failed).
    bucket16 maps each dimension monotonically onto the full 16-bit
    domain from broadcast data-derived bounds: no aliasing, locality
    preserved, stragglers clamp. Oracle computes the identical
    bucket + bit-interleave formula text in DuckDB, bounds from the
    same data."""
    from ..functions.zorder import morton2_bucketed

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    hour = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    base = ev.select(
        "event_id", F.col("user_id").alias("u"), hour.alias("h")
    )
    bounds = base.agg(
        F.min("u").alias("ulo"), F.max("u").alias("uhi"),
        F.min("h").alias("hlo"), F.max("h").alias("hhi"),
    )
    return base.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        morton2_bucketed(
            F.col("u"), F.col("h"),
            F.col("ulo"), F.col("uhi"), F.col("hlo"), F.col("hhi"),
        ).alias("zval"),
    )


@query(
    "u05_arrow_grouped_centroids",
    oracle="""
    WITH e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                      generate_subscripts(embedding, 1) AS dim
               FROM embeddings),
    c AS (SELECT label, dim, avg(x) AS m, count(*) AS nv
          FROM e GROUP BY label, dim)
    SELECT label, any_value(nv) AS n_vecs, count(*) AS n_dims,
           round(sqrt(sum(m*m)), 4) AS centroid_norm
    FROM c GROUP BY label
    """,
)
def u05_arrow_grouped_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4/U2 (applyInArrow): per-label embedding centroids via the
    Spark 4 Arrow-native grouped map — each label's vectors arrive as
    ONE pyarrow.Table, the centroid is a single vectorized np.mean
    over the stacked matrix, and no pandas conversion ever happens
    (the difference from applyInPandas: no Series boxing, no object
    dtype round trips).

    Scale shape: one shuffle keyed by label (10 uniform groups on the
    fixtures; at scale the per-group matrix is bounded by the label's
    row count — for unbounded groups switch to the map-side partial
    pattern, i.e. per-partition partial sums + a tiny final agg, which
    is what the SQL oracle's two-level aggregate expresses). Output is
    |labels| rows; oracle recomputes the centroid per (label, dim)
    with plain SQL aggregates."""
    import numpy as np
    import pyarrow as pa
    # pa.compute is NOT exposed by `import pyarrow` alone — the
    # kernel below only worked because a pyspark worker helper
    # happens to import pyarrow.compute first (code-review r10);
    # import it explicitly so the executor-side closure never
    # depends on that side effect.
    import pyarrow.compute  # noqa: F401

    # NULL AND EMPTY vectors can't average (a null list breaks the
    # flatten/reshape alignment in the Arrow kernel; an empty one
    # shifts every later row's slice — the exact hazard the r8 fix
    # closed in u04 but not this twin, code-review r9) — same
    # boundary filter as the similarity operators, with the oracle
    # filtering identically by construction (unnest emits nothing
    # for an empty list).
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            F.col("embedding").isNotNull() & (F.size("embedding") > 0)
        )
        .select(
            "label", F.col("embedding").cast("array<double>").alias("emb")
        )
    )

    def centroid(table):
        lists = table.column("emb").combine_chunks()
        # Per-ROW length check, not a divisibility check (ADVICE r9):
        # `len(flat) % len(table)` misses mixed dims whose element
        # total divides evenly by the row count — e.g. a 2-row group
        # with dims 6 and 10 passes (16 % 2 == 0) and reshape(2, 8)
        # silently shears every row. A single distinct list length is
        # the actual reshape precondition.
        lengths = pa.compute.list_value_length(lists)
        if len(pa.compute.unique(lengths)) != 1:
            raise ValueError(
                "u05: ragged embedding lengths within a label group — "
                "centroids over mixed dims are undefined"
            )
        flat = lists.flatten().to_numpy(zero_copy_only=False)
        m = flat.reshape(len(table), -1)
        c = m.mean(axis=0)
        return pa.table(
            {
                "label": pa.array(
                    [table.column("label")[0].as_py()], type=pa.int32()
                ),
                "n_vecs": [len(table)],
                "n_dims": [m.shape[1]],
                "centroid_norm": [float(np.sqrt((c * c).sum()))],
            }
        )

    # F.round, not Python round() inside the kernel: banker's-rounding
    # ties vs the oracle's half-away-from-zero (code-review r9, the
    # u04 pin).
    return emb.groupBy("label").applyInArrow(
        centroid,
        schema="label INT, n_vecs BIGINT, n_dims BIGINT, centroid_norm DOUBLE",
    ).withColumn("centroid_norm", F.round("centroid_norm", 4))


@query(
    "u06_grouped_agg_geomean",
    oracle="""
    SELECT o_orderstatus,
           round(exp(avg(ln(o_totalprice))), 2) AS geomean_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def u06_grouped_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 (grouped-agg pandas UDF / UDAF): geometric mean of order
    value per status — an aggregate Spark has no builtin for,
    expressed as a vectorized GROUPED_AGG pandas UDF (one Arrow batch
    per group, scalar out; the UDAF extension surface, distinct from
    the grouped-MAP form t05 exercises).

    Scale note: a GROUPED_AGG UDF has no partial aggregation — every
    group's values ship to one task, so it is for bounded groups
    (here: 3 statuses x 5k values). The oracle's exp(avg(ln x))
    identity IS the map-side-combinable rewrite a production pipeline
    would use at unbounded scale; registering both forms documents
    the trade."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _geomean(v):
        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Type-hint form (Series -> scalar ≡ GROUPED_AGG). This module uses
    # `from __future__ import annotations`, which stringifies INLINE
    # hints and breaks hint inference — so the hints are attached as
    # real objects post-hoc, which `typing.get_type_hints` resolves.
    _geomean.__annotations__ = {"v": pd.Series, "return": float}
    geomean = pandas_udf(_geomean, "double")
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(geomean("o_totalprice"), 2).alias("geomean_price")
    )


@query(
    "s10_compact_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(user_id) AS BIGINT) AS sum_user
    FROM events GROUP BY event_type
    """,
)
def s10_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-extension (layout maintenance, functions/layout.py): events
    written as 32 fragment files, compacted to ~quarter-of-source
    target files with range clustering on ts, read back and
    aggregated. The oracle runs on the ORIGINATING fixture, so the
    hash match certifies that the fragment → compact → scan cycle
    loses and duplicates nothing — the row-preservation contract of
    compaction, proven in the driver env (file-count and
    range-disjointness assertions live in tests/test_sources.py).
    Compaction itself is the small-file killer at 100 TB: one
    self-tuned repartitionByRange exchange sized from the source's
    real on-disk bytes."""
    from ..functions.layout import compact_parquet, dir_parquet_bytes

    ev = load_table(spark, sf_dir, "events")
    src = _scratch("compact_src")
    dst = _scratch("compact_dst")
    ev.repartition(32).write.mode("overwrite").parquet(src)
    target = max(1, dir_parquet_bytes(src) // 4)
    compact_parquet(
        spark, src, dst, target_file_bytes=target, sort_cols=["ts"]
    )
    # writer schema on the read-back (code-review r10, the s04/s05
    # empty-input pin)
    back = spark.read.schema(ev.schema).parquet(dst)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("user_id").alias("sum_user"),
    )


@query(
    "s11_binaryfile_scan",
    oracle="""
    SELECT sum(strlen(text) + 1)::BIGINT AS total_bytes,
           count(*)::BIGINT AS n_docs
    FROM documents
    """,
)
def s11_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/L7 (binary ingestion): documents → newline-terminated text
    files → re-ingested through the `binaryFile` source as opaque
    BLOBs — the same scan a media pipeline uses for image/audio
    shards (multimodal.py consumes pre-loaded binary COLUMNS; this is
    the missing step that produces them from files).

    The aggregate is deliberately partition-invariant: Spark chooses
    how rows split across part files, so per-file facts (name, size)
    are not stable — but total content bytes and total newline count
    are exact regardless of file boundaries, giving a binary-source
    query a full value-hash oracle (text is ASCII in the fixtures, so
    UTF-8 bytes == characters; the writer adds one LF per row).

    Shape: binaryFile scans parallelize per-file (one row per file,
    content as a single BLOB cell) — at 100 TB the lever is file
    SIZING (functions/layout.py compaction arguments apply: many
    ~128 MB shards, never one giant blob that pins a task)."""
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch("binfiles")
    docs.select("text").repartition(8).write.mode("overwrite").text(path)
    blobs = spark.read.format("binaryFile").load(path)
    # split() takes a Java REGEX; "\n" has no metacharacter meaning,
    # but keep that in mind before ever changing the delimiter.
    return blobs.agg(
        F.sum(F.length("content")).alias("total_bytes"),
        F.sum(
            F.size(F.split(F.col("content").cast("string"), "\n")) - 1
        ).alias("n_docs"),
    )


@query(
    "s12_bucketed_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def s12_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-extension (co-located layout): orders and customer written
    as BUCKETED tables on their join key (8 buckets, sorted within
    bucket), then joined table-to-table — the classic 100 TB lever
    this pack had not yet demonstrated: when both sides are bucketed
    identically on the join key, the sort-merge join reads co-located
    buckets and needs NO exchange on either side (the only shuffle
    left in the plan is the final per-segment aggregate's). At fact×
    fact scale — two tables too big to broadcast, joined repeatedly —
    pre-bucketing pays the shuffle once at write time and amortizes
    it over every subsequent join; this is Spark's equivalent of the
    co-partitioned-table strategy every warehouse engine ships.

    Mechanics certified here: external bucketed tables (data under
    the scratch root, metadata in the session's in-memory catalog),
    `hint("merge")` pinning the sort-merge strategy so the
    demonstration can't silently degrade to a broadcast join at this
    tiny SF, and the oracle running on the ORIGINATING fixtures — the
    hash match proves the bucketed write/read cycle loses nothing.
    The bucketed-scan shape (`Bucketed: true`, zero join-side
    exchange) is asserted in tests/test_plans.py."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    for name, df, key in (
        ("mfp_orders_bucketed", orders, "o_custkey"),
        ("mfp_customer_bucketed", cust, "c_custkey"),
    ):
        (
            df.write.mode("overwrite")
            .option("path", _scratch(name))
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    ob = spark.table("mfp_orders_bucketed")
    cb = spark.table("mfp_customer_bucketed")
    j = ob.hint("merge").join(cb, ob["o_custkey"] == cb["c_custkey"])
    return j.groupBy(
        F.col("c_mktsegment").alias("mktsegment")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "s13_merge_schema_scan",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_with_lang,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY source
    """,
)
def s13_merge_schema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-extension (schema evolution): two parquet snapshots of the
    same logical table written with DIFFERENT schemas — the even-doc_id
    half before a `lang` column existed, the odd half after — read
    back as one DataFrame via `mergeSchema=true`, the standard
    grown-a-column data-lake situation. Rows from the old snapshot
    surface `lang` as NULL; the oracle recomputes the same
    half-has-lang semantics from the originating fixture, so the hash
    match certifies both row preservation ACROSS schemas and the
    NULL-fill of the missing column.

    Scale shape: schema merge is a FOOTER-level operation — Spark
    reconciles the struct per file at planning time; the scan itself
    stays a plain columnar read with pushdown intact (missing columns
    materialize as nulls for those row groups, no row-level rewrite).
    At 100 TB prefer declaring the superset schema explicitly
    (`spark.read.schema(...)`) over mergeSchema's all-footers listing;
    the read semantics certified here are identical either way."""
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch("merge_schema")
    old = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "source", "text", "n_chars"
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "text", "n_chars", "lang"
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "v1"))
    new.write.mode("overwrite").parquet(os.path.join(path, "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "v1"), os.path.join(path, "v2")
    )
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("lang").alias("n_with_lang"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "s14_dynamic_partition_overwrite",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(CASE WHEN event_type = 'click' THEN value * 2
                          ELSE value END), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def s14_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S4-extension (in-place partition maintenance): events written
    partitioned by event_type, then ONE partition ('click') is
    rewritten with restated values (value doubled) under
    `partitionOverwriteMode=dynamic` — the lakehouse backfill
    primitive: overwrite mode replaces ONLY the partitions present in
    the incoming frame, leaving every other partition's files
    untouched (static mode would truncate the whole table first).
    The read-back aggregate hash-matches an oracle that restates
    'click' from the ORIGINATING fixture, certifying both the
    surgical replacement and the survival of the other partitions.

    Scale shape: the rewrite's cost is proportional to the RESTATED
    partitions, not the table — the entire point at 100 TB, where a
    one-day backfill must not rewrite years of history. The conf is
    set per-write and restored (it is session-wide; a durable
    pipeline sets it once at session build)."""
    ev = load_table(spark, sf_dir, "events")
    path = _scratch("dyn_overwrite")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    # Reads carry the WRITER's schema (s04/s05/s08 precedent): an
    # empty input writes a fileless directory, and schema inference
    # on it throws UNABLE_TO_INFER_SCHEMA — the degenerate-input
    # sweep's exact catch.
    restated = (
        spark.read.schema(ev.schema).parquet(path)
        .filter(F.col("event_type") == "click")
        .withColumn("value", F.col("value") * 2)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        restated.write.mode("overwrite").partitionBy("event_type").parquet(
            path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.schema(ev.schema).parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "s15_metadata_scan",
    oracle="""
    SELECT 'orders.parquet' AS file_name,
           count(*) AS n_rows,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM orders
    """,
)
def s15_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-extension (file-metadata column): per-file audit facts via
    Spark's hidden `_metadata` struct — the lineage/debugging scan
    every lake pipeline needs ("which file produced these rows",
    row counts and key ranges per file for manifest reconciliation).
    The oracle pins the KNOWN fixture basename as a literal (the
    driver's oracles run against pre-registered table views, which
    carry no file identity — DuckDB's filename=true is the
    equivalent capability but needs the raw path): the hash matches
    only if Spark's `_metadata.file_name` actually equals that
    basename for every row, so the metadata column is certified
    against the known single-file layout, alongside the exact
    per-file row count and key range. Fixture tables are single
    files; multi-file per-file facts would be partition-dependent
    (the s11 note).

    Shape: `_metadata` is populated at the scan from the reader's
    split info — zero extra I/O, no join; the aggregate is one
    partial+final hash agg keyed by file."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("_metadata.file_name").alias("file_name"),
            "o_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@query(
    "u08_udtf_table_args",
    oracle="""
    -- >= on purpose: the UDTF SPLITS at exactly-gap while t03's
    -- native session_window MERGES there (strict > in t03's oracle)
    -- — one deliberate character of difference, pinned in
    -- functions/udtf.py::SessionizeUDTF. NULL-ts rows are dropped
    -- on both sides (the UDTF skips them; see its docstring).
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    y AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
    SELECT user_id, min(ts) AS session_start,
           count(*) AS n_events, max(ts) AS last_ts
    FROM y GROUP BY user_id, sid
    """,
)
def u08_udtf_table_args(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3-extension #2: TABLE-ARGUMENT Python UDTF with
    `PARTITION BY ... ORDER BY ...` — the third UDTF surface beside
    u03 (static lateral) and u07 (polymorphic analyze): the UDTF
    consumes a whole ordered partition as streamed rows with
    per-partition instance lifetime, i.e. Spark 4's imperative
    stateful-over-groups API in pure SQL. The workload is per-user
    sessionization, and the oracle is t03's gaps-and-islands SQL —
    the declarative emulation of exactly this state machine — so the
    hash match certifies the table-argument protocol end-to-end
    (fresh instance per partition, in-order delivery, terminate
    flush), not just that some rows came back.

    Shape: ONE shuffle on user_id (the PARTITION BY), per-partition
    Python iteration (the deliberate slow-path surface; the native
    session_window form is t03/streaming). Ties broken by event_id
    in both the ORDER BY and the oracle's window."""
    register_udtfs(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_u8"
    )
    return spark.sql(
        """
        SELECT * FROM sessionize(
          TABLE(SELECT user_id, ts, event_id FROM events_u8)
          PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    )


@query(
    "s16_merge_upsert",
    oracle="""
SELECT o_orderpriority AS priority,
       count(*) AS n_orders,
       round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           AND o_orderkey % 10 = 0
                      THEN o_totalprice * 2
                      ELSE o_totalprice END), 2) AS total
FROM orders
WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 100 = 7)
GROUP BY 1
""",
)
def s16_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-extension (lakehouse MERGE INTO): orders written partitioned
    by priority, then ONE partition merged — urgent keys % 10 == 0
    restated at doubled price (upserts), urgent keys % 100 == 7
    tombstone-deleted — via merge_upsert_partitioned: broadcast-semi
    partition pruning + key anti-join + dynamic partition overwrite.
    The read-back aggregate hash-matches an oracle that recomputes the
    merge RELATIONALLY from the originating fixture, certifying upsert,
    delete, and untouched-partition survival in one row set (the
    file-identity half is pinned in tests/test_merge_upsert.py, along
    with the all-tombstoned-partition directory removal and the
    cross-partition key-move rejection).

    Scale shape: cost ∝ touched partitions, never the table — the
    s14 posture with keyed MERGE semantics on top.
    sources/io.py::merge_upsert_partitioned."""
    from ..sources.io import merge_upsert_partitioned

    orders = load_table(spark, sf_dir, "orders")
    path = _scratch("merge_upsert")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        path
    )
    urgent = spark.read.schema(orders.schema).parquet(path).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    updates = (
        urgent.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("_op", F.lit("U"))
        .unionByName(
            urgent.filter(F.col("o_orderkey") % 100 == 7).withColumn(
                "_op", F.lit("D")
            )
        )
    )
    merge_upsert_partitioned(
        spark, path, updates, ["o_orderkey"], "o_orderpriority",
        op_col="_op", base_schema=orders.schema,
    )
    back = spark.read.schema(orders.schema).parquet(path)
    return back.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# Round-8 promotions: s18/s19 malformed-input audits + u09 iterator UDF
# (staged + locally certified in round 7; oracles moved VERBATIM from
# their test files per the rotation flow)
# ---------------------------------------------------------------------------

from ..functions.vectors import int8_roundtrip_error_iter  # noqa: E402
from ..sources.io import (  # noqa: E402
    read_csv_permissive,
    read_json_permissive,
)

_S18_BAD = [
    "garbage,notanumber,xx",        # type failure
    "too,many,columns,here,1",      # column-count drift
    "-,-,-",                        # placeholder junk
]
_S19_BAD = [
    '{"o_orderkey": "notanint", "o_orderpriority": "X"}',  # type fail
    '{"o_orderkey": 1, "o_orderpriority": "X"',            # truncated
    "not json at all",                                     # bare text
]
_AUDIT_SCHEMA = (
    "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE"
)


def _corrupt_audit(
    spark: SparkSession,
    sf_dir: str,
    *,
    tag: str,
    fmt: str,
    modulus: int,
    bad_lines: list[str],
    reader,
) -> DataFrame:
    """Shared s18/s19 malformed-input audit body.

    Round-trips an orders slice (o_orderkey % modulus == 0) through
    ``fmt`` with planted malformed lines appended as raw text, reads
    back PERMISSIVE via ``reader`` with a _corrupt_record quarantine
    column, and reduces to row/good/corrupt counts + an exact-integer
    key checksum. The format-specific parts — writer format, permissive
    reader, slice modulus, and the malformed-line shapes — are the only
    parameters; everything else (quarantine predicate, aggregate shape,
    integer checksum keeping float round-tripping out of the hash) is
    deliberately identical between the CSV and JSON audits.
    """
    path = _scratch(tag)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % modulus == 0
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")
    orders.write.mode("overwrite").format(fmt).save(path)
    spark.createDataFrame(
        [(b,) for b in bad_lines], "value string"
    ).coalesce(1).write.mode("append").text(path)
    parsed = reader(spark, path, _AUDIT_SCHEMA)
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((~bad).cast("int")).cast("long").alias("n_good"),
        F.sum(bad.cast("int")).cast("long").alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("o_orderkey")))
        .cast("long")
        .alias("key_checksum"),
    )


@query(
    "s18_corrupt_csv_audit",
    oracle="""
SELECT CAST(count(*) + 3 AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_good,
       CAST(3 AS BIGINT) AS n_corrupt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
FROM orders WHERE o_orderkey % 7 = 0
""",
)
def s18_corrupt_csv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input CSV audit — an orders slice round-tripped
    through CSV with three planted malformed lines (type failure,
    column-count drift, placeholder junk), read back PERMISSIVE with
    a _corrupt_record quarantine column, reduced to row/good/corrupt
    counts + an exact-integer key checksum. The oracle counts the
    good-row population from the ORIGINATING fixture plus the planted
    constants, so any loss or corruption on either leg fails the
    hash (the s02 round-trip stance); the integer checksum keeps CSV
    double round-tripping out of the hash. Per-shape quarantine pins
    in tests/test_corrupt_csv.py. sources/io.py::read_csv_permissive."""
    return _corrupt_audit(
        spark,
        sf_dir,
        tag="s18_csv",
        fmt="csv",
        modulus=7,
        bad_lines=_S18_BAD,
        reader=read_csv_permissive,
    )


@query(
    "s19_corrupt_json_audit",
    oracle="""
SELECT CAST(count(*) + 3 AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_good,
       CAST(3 AS BIGINT) AS n_corrupt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
FROM orders WHERE o_orderkey % 11 = 0
""",
)
def s19_corrupt_json_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input JSON audit — the s18 twin over JSON-lines:
    orders slice + three planted malformed lines (type failure,
    truncated object, bare text), read back PERMISSIVE with
    quarantine, reduced to counts + exact-integer checksum against
    the originating fixture. Spark's actual from_json semantics are
    pinned per shape in tests/test_corrupt_json.py (type mismatch
    keeps parsable fields but quarantines; missing fields are NULL
    with NO quarantine). sources/io.py::read_json_permissive."""
    return _corrupt_audit(
        spark,
        sf_dir,
        tag="s19_json",
        fmt="json",
        modulus=11,
        bad_lines=_S19_BAD,
        reader=read_json_permissive,
    )


@query(
    "u09_iter_quantize",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e)
SELECT vec_id,
       round(scale, 4) AS scale,
       round(list_max(list_transform(v,
             x -> abs(x - least(greatest(round(x / scale), -127), 127)
                          * scale))), 4) AS max_abs_err
FROM s
""",
)
def u09_iter_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (iterator-form scalar pandas UDF): int8 symmetric
    quantization round-trip error per embedding — scale = max|x|/127,
    q = round(x/scale) clamped to [-127, 127], err = max|x - q*s|.
    The ITERATOR form (Iterator[pd.Series] -> Iterator[pd.Series])
    is the surface under test: per-batch numpy vectorization with
    one-time per-worker setup amortized across Arrow batches (proven
    to actually stream batches under a 7-row maxRecordsPerBatch in
    tests/test_iter_udf.py). Exact float64 arithmetic on both
    engines, so unlike most UDF surfaces this one is
    hash-oracle-able. functions/vectors.py::int8_roundtrip_error_iter."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return int8_roundtrip_error_iter(emb, "embedding")

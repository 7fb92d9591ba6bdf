"""Reference results the benchmark checks the engine's outputs against.

Registered queries are compared with their DuckDB oracle from
``oracle_sql()`` under ``tests/oracle.py``'s normalisation. Oracle
results are cached on disk, keyed by the SQL text and the input files'
sizes and modification times, because some oracles take minutes at the
larger fixture scales. The generated market baskets are recounted in
DuckDB (supports of every frequent itemset with at most two items).
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

from miningfrequentpattern_spark.sources.io import TABLES
from tests.oracle import _normalize


def _duck(work: Path):  # noqa: ANN202
    import duckdb

    tmp = work / "duckdb_tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '3GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _inputs_key(sf_dir: Path, sql: str) -> str:
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = (sf_dir / f"{t}.parquet").stat()
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def oracle_results(work: Path, sf_dir: Path, sqls: dict[str, str]) -> dict[str, dict]:
    """Query name -> {"columns": sorted names, "rows": normalised rows},
    computing and caching whichever are not on disk yet."""
    cache = work / "oracles"
    cache.mkdir(parents=True, exist_ok=True)
    out, con = {}, None
    for name, sql in sqls.items():
        path = cache / f"{name}-{_inputs_key(sf_dir, sql)}.json"
        if not path.exists():
            if con is None:
                con = _duck(work)
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')"
                    )
            pdf = con.execute(sql).df()
            tmp = path.with_suffix(".tmp")
            tmp.write_text(json.dumps({"columns": sorted(pdf.columns), "rows": _normalize(pdf)}))
            tmp.replace(path)
        out[name] = json.loads(path.read_text())
    if con is not None:
        con.close()
    return out


def same_rows(pdf, expected: dict) -> str | None:  # noqa: ANN001
    """None when the Spark output equals the oracle, else what differs."""
    cols = sorted(pdf.columns)
    if cols != expected["columns"]:
        return f"columns {cols} != {expected['columns']}"
    got = [list(r) for r in _normalize(pdf)]
    want = expected["rows"]
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} oracle rows"
    bad = sum(1 for a, b in zip(got, want) if a != b)
    return f"{bad} rows differ from the oracle" if bad else None


def market_supports(work: Path, market_dir: Path, min_support: float) -> dict:
    """DuckDB recount over the generated baskets: basket count and the
    support of every frequent itemset with one or two items. Cached next
    to the generated file, which is verified before every use."""
    path = market_dir / f"supports_{min_support}.json"
    if not path.exists():
        con = _duck(work)
        src = market_dir / "lineitem.parquet"
        con.execute(
            f"CREATE VIEW tok AS SELECT DISTINCT l_orderkey AS b, l_partkey AS i "
            f"FROM read_parquet('{src}')"
        )
        n = con.execute("SELECT count(DISTINCT b) FROM tok").fetchone()[0]
        min_count = math.ceil(min_support * n)
        singles = con.execute(
            f"SELECT i, count(*) FROM tok GROUP BY i HAVING count(*) >= {min_count}"
        ).fetchall()
        pairs = con.execute(
            f"""
            WITH f AS (SELECT i FROM tok GROUP BY i HAVING count(*) >= {min_count}),
                 t AS (SELECT b, i FROM tok SEMI JOIN f USING (i))
            SELECT x.i, y.i, count(*) FROM t x JOIN t y ON x.b = y.b AND x.i < y.i
            GROUP BY x.i, y.i HAVING count(*) >= {min_count}
            """
        ).fetchall()
        con.close()
        supports = [[[int(i)], int(c)] for i, c in singles]
        supports += [[[int(a), int(b)], int(c)] for a, b, c in pairs]
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"baskets": int(n), "supports": sorted(supports)}))
        tmp.replace(path)
    return json.loads(path.read_text())

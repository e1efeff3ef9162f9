"""Independent reference answers, computed before any timing starts.

- ``pages`` workloads: the pure-Python per-id oracle
  (``otlp_wire_spark.fixtures.oracle``) over the seeded id window.
- ``documents``/``embeddings`` workloads: the DuckDB SQL of
  ``__spark_entry__.oracle_sql()`` over the same seeded parquet tables,
  with rows normalized the way the repository's oracle test does.
"""

from __future__ import annotations

import math

from otlp_wire_spark.fixtures import oracle


def route_reference(ids: range, htmls: list[bytes], num_shards: int) -> dict:
    """Golden fused-pipeline answer for the pages with ``ids``."""
    bands = [0] * 6
    per_shard = {
        k: {"page_count": 0, "record_count": 0, "byte_count": 0}
        for k in range(num_shards)
    }
    ctx_count = ctx_bytes = quarantined = 0
    for i, html in zip(ids, htmls):
        e = oracle.extract(html)
        if e.parse_error is not None:
            quarantined += 1
            continue
        bands[oracle.severity_band(e.severity)] += 1
        s = per_shard[oracle.shard(i, num_shards)]
        s["page_count"] += 1
        s["record_count"] += e.record_count
        s["byte_count"] += len(html)
        lc = oracle.lookup_context(oracle.lang(i), oracle.host(i))
        if lc is not None:
            ctx_count += 1
            ctx_bytes += len(lc[1])
    return {
        "band_counts": bands,
        "per_shard": per_shard,
        "context_count": ctx_count,
        "context_bytes": ctx_bytes,
        "quarantined": quarantined,
    }


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, int):
        return float(v) if -(2**52) < v < 2**52 else v
    return v


def rowset(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and the sorted normalized rows: the
    order-insensitive form both engines are compared in."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )


def duckdb_reference(table_dir: str, queries: list[str]) -> dict:
    """``{query: rowset}`` from the oracle SQL over ``table_dir``'s tables."""
    import os

    import duckdb

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for name in ("documents", "embeddings"):
            path = os.path.join(table_dir, f"{name}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        out = {}
        for q in queries:
            res = con.execute(sql[q])
            out[q] = rowset([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def diff(expected, actual, path: str = "") -> list[str]:
    """Human-readable mismatches between two nested results ([] if equal)."""
    if isinstance(expected, dict) and isinstance(actual, dict):
        out = []
        for k in sorted(set(expected) | set(actual), key=str):
            if k not in actual or k not in expected:
                out.append(f"{path}/{k}: missing")
            else:
                out.extend(diff(expected[k], actual[k], f"{path}/{k}"))
        return out
    if expected != actual:
        e, a = repr(expected), repr(actual)
        return [f"{path}: expected {e[:120]} got {a[:120]}"]
    return []

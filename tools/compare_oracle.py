"""Local stand-in for the driver's correctness gate: runs every
queries()[k] on Spark and oracle_sql()[k] on DuckDB over the same sf dir,
compares row count, column names, and an order-insensitive value
comparison.  Each OK line ends in a short sha256 of the normalized rows,
so two commits' outputs diff with one command.
Usage:  python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """Sort columns by name, stringify rows, sort rows."""
    import pandas as pd

    df = df[sorted(df.columns)]

    def cell(v):
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    return rows


def digest(rows) -> str:
    """Short sha256 of normalized rows (the per-query output fingerprint)."""
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:12]


def compare(sf_dir: str, only: list[str] | None = None) -> dict[str, str]:
    # point the precomputed x_* oracles at this sf's expected files, for
    # this call only
    prev = os.environ.get("SPARK_GRAFT_ORACLE_SF")
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    try:
        return _compare(sf_dir, only)
    finally:
        if prev is None:
            del os.environ["SPARK_GRAFT_ORACLE_SF"]
        else:
            os.environ["SPARK_GRAFT_ORACLE_SF"] = prev


def _compare(sf_dir: str, only: list[str] | None) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as entrymod
    from ocr_spark.plans.session import build_session

    spark = build_session(app_name="oracle_compare", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, str] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            results[name] = f"SPARK-ERROR: {e}"
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            results[name] = f"DUCKDB-ERROR: {e}"
            continue
        if len(sdf) != len(odf):
            results[name] = f"ROWCOUNT-MISMATCH: spark={len(sdf)} duckdb={len(odf)}"
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            results[name] = (
                f"SCHEMA-MISMATCH: spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}"
            )
            continue
        ns, no = normalize(sdf), normalize(odf)
        if ns != no:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(ns, no)) if a != b
            )
            results[name] = f"VALUE-MISMATCH at sorted row {diff[0]}: spark={diff[1]} duckdb={diff[2]}"
            continue
        results[name] = f"OK ({len(sdf)} rows, {digest(ns)})"
    return results


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None
    res = compare(sf_dir, only)
    width = max(len(k) for k in res)
    fails = 0
    for k, v in res.items():
        print(f"{k:<{width}}  {v}")
        if not v.startswith("OK"):
            fails += 1
    sys.exit(1 if fails else 0)

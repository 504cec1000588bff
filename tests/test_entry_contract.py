"""Driver-contract guard (SURVEY.md §5.2.4): every queries() entry runs,
every oracle_sql() entry matches DuckDB at sf0.001 — a local stand-in for
the driver's CORRECTNESS gate so regressions surface in pytest first."""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF_DIR), reason="driver testdata not present"
)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.limit(5000).collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"conv_id", "turn_idx", "extracted_text", "spans", "status"} <= cols


def test_every_query_has_oracle_or_is_marked():
    import __spark_entry__ as e

    # oracle_sql() is built from queries(), so every query has an entry;
    # the x_* ones must be a precomputed expected table (gen_expected.py)
    for name, sql in e.oracle_sql().items():
        if name.startswith("x_"):
            assert "read_parquet" in sql, f"{name}: expected-table oracle"


def test_oracle_parity_sf0001(spark):
    from tools.compare_oracle import compare

    before = os.environ.get("SPARK_GRAFT_ORACLE_SF")
    results = compare(SF_DIR)
    bad = {k: v for k, v in results.items() if not v.startswith("OK")}
    assert not bad, bad
    # compare() points the oracles at SF_DIR for its own run only
    assert os.environ.get("SPARK_GRAFT_ORACLE_SF") == before

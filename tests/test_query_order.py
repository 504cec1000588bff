"""The correctness check samples a fixed prefix of `queries()` in dict
order, so that order is part of the contract.  Pinned without a Spark
session: splitting or reorganising __spark_entry__.py must keep it."""

import hashlib
import os

import pytest

import __spark_entry__

# 104 keys
QUERY_ORDER_SHA256 = "a8d11d6a739e3b2a53566da09d07aa89e95d91530549f0d1fe6c5f992d53500e"


def test_queries_dict_order_pinned():
    keys = list(__spark_entry__.queries())
    got = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    assert got == QUERY_ORDER_SHA256, (
        "queries() key order changed; that order is the correctness "
        "check's sampling order. Update this hash only in a change that "
        f"rotates the sampled prefix on purpose ({len(keys)} keys now)."
    )


# sha256 of the oracle SQL texts in key order, checkout root replaced by
# <ROOT>, at the default oracle sf (sf0.01)
ORACLE_SQL_SHA256 = "b45153706f916d12ee3393f75deaf81c08978b8b492254dc88fea435cabc1b4c"


@pytest.mark.skipif(
    not os.path.exists("/root/testdata/sf0.01"),
    reason="driver testdata not present",
)
def test_oracle_sql_text_pinned(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF", raising=False)
    sql = __spark_entry__.oracle_sql()
    root = os.path.dirname(os.path.abspath(__spark_entry__.__file__))
    got = hashlib.sha256(
        "\0".join(
            k + "\0" + sql[k].replace(root, "<ROOT>") for k in sorted(sql)
        ).encode()
    ).hexdigest()
    assert got == ORACLE_SQL_SHA256, (
        "the DuckDB oracle text changed; moving a query or its oracle "
        f"must leave it byte-identical ({len(sql)} oracles now)."
    )

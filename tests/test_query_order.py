"""The correctness check samples a fixed prefix of `queries()` in dict
order, so that order is part of the contract.  Pinned without a Spark
session: splitting or reorganising __spark_entry__.py must keep it."""

import hashlib

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

"""Shuffle-partition defaults for every local master form (no Spark)."""

import os

import pytest

from ocr_spark.plans.session import _default_parallelism

CPUS = os.cpu_count() or 8


@pytest.mark.parametrize(
    "master, want",
    [
        ("local", 1),
        ("local[4]", 4),
        ("local[*]", CPUS),
        ("local[4,1]", 4),
        ("local[*,2]", CPUS),
        ("spark://host:7077", 200),
    ],
)
def test_default_parallelism(master, want):
    assert _default_parallelism(master) == want

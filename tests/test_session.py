"""Shuffle-partition defaults for every local master form (no Spark)."""

import os

import pytest

from ocr_spark.plans.session import _default_parallelism

CPUS = len(os.sched_getaffinity(0))


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


def test_local_star_follows_affinity_mask(monkeypatch):
    # under `taskset -c 0` the JVM runs local[*] one wide, whatever
    # os.cpu_count() says
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0})
    assert _default_parallelism("local[*]") == 1
    assert _default_parallelism("local[*,3]") == 1

"""The committed expected-output parquet (driver oracles for the x_*
extraction/multimodal queries) must match a fresh regeneration from the
single-process kernel — stale files fail here, not in the driver gate."""

import os

import pandas as pd
import pytest

from tools.gen_expected import GENERATORS, expected_dir

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_committed_expected_is_fresh(spark, name, sf_dir):
    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip("driver testdata not present")
    path = os.path.join(expected_dir(sf_dir), f"{name}.parquet")
    assert os.path.exists(path), f"run tools/gen_expected.py {sf_dir} — missing {path}"
    committed = pd.read_parquet(path)
    fresh = GENERATORS[name](spark, sf_dir)
    assert list(committed.columns) == list(fresh.columns)
    assert committed.dtypes.equals(fresh.dtypes)
    pd.testing.assert_frame_equal(
        committed.reset_index(drop=True), fresh.reset_index(drop=True)
    )

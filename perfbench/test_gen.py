"""``write_star_schema(dir, SF01_SEED)`` rebuilds the engine's sf0.1
test tables. Set ``SPARK_GRAFT_SF_DIR`` (as for bench.py) to the sf0.1
directory to compare against; without it the test is skipped.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import os

import gen
import pyarrow.parquet as pq
import pytest

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def test_star_schema_matches_sf01(tmp_path):
    ref = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if not os.path.isfile(os.path.join(ref, "lineitem.parquet")):
        pytest.skip("SPARK_GRAFT_SF_DIR does not name an sf0.1 directory")
    gen.write_star_schema(str(tmp_path), gen.SF01_SEED)
    for t in TABLES:
        ours = pq.read_table(tmp_path / f"{t}.parquet").replace_schema_metadata(None)
        theirs = pq.read_table(os.path.join(ref, f"{t}.parquet")).replace_schema_metadata(None)
        assert ours.equals(theirs), t

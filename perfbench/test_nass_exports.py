"""The generated NASS inputs drive the whole reference pipeline: on a
small seed, every table of run_nass_pipeline and run_swap_pipeline
exports at least one row, and the generator's known facts hold.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import gen
import pytest
from worker import NassEtl, pg_arrays, read_export

from nass_summary_spark.plans import nass, swap
from nass_summary_spark.session import get_spark
from nass_summary_spark.sources.writers import write_csv
from tracing import Tracer


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = get_spark(
        "perfbench-test", master="local[2]", shuffle_partitions=4,
        extra_configs={"spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse"))},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_every_export_non_empty(spark, tmp_path):
    data = str(tmp_path / "input")
    facts = gen.write_nass_inputs(data, seed=7, n_counties=12)
    etl = NassEtl(spark, data, str(tmp_path / "work"), facts, Tracer(spark, enabled=False))
    etl.op("pass0")
    assert etl.check() == []

    assert all(read_export(p) for p in etl.exports[0].values())

    qs, api, region = etl._ingest()
    tables = nass.run_nass_pipeline(qs, region, api)
    swap_tables = swap.run_swap_pipeline(
        spark, tables["commodity_harvest"], tables["yield_by_type"], api, tables["county_adc"]
    )
    for name, df in swap_tables.items():
        path = str(tmp_path / "swap" / name)
        write_csv(pg_arrays(df), path, single_file=True)
        assert read_export(path), f"swap {name} exported no rows"

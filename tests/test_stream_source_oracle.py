"""Oracle parity for the lakehouse stream-source entries in the fast tier.

The full registry sweep (test_queries.py) and the per-format stream
suites are marked slow, so without this file the default tier would never
compare the Delta, Iceberg and Hudi stream sources against DuckDB.
"""

from __future__ import annotations

import pytest

from incubator_gluten_spark.plans import collect_all
from incubator_gluten_spark.testing.compare import compare_frames

ENTRIES = (
    "stream_delta_source",
    "stream_iceberg_source",
    "stream_hudi_source",
    "stream_delta_cdf_source",
)


@pytest.mark.parametrize("name", ENTRIES)
def test_stream_source_matches_oracle(name, spark, duck, sf_dir):
    q = collect_all()[name]
    compare_frames(q.build(spark, sf_dir), duck, q.oracle)

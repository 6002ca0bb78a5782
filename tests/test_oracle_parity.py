"""Differential test: every registered query vs its DuckDB oracle at sf0.001.

This is a local mirror of the driver's correctness gate (which runs at
sf0.01) — same tables, same compare shape, smaller scale for speed.
Queries without an oracle (rows-only contract) are checked for
run-without-error and non-empty schema.
"""

from __future__ import annotations

import pytest

from stateflow_flink_spark.plans.registry import (
    ORACLE,
    QUERIES,
    load_all_modules,
    run_query,
)

from .conftest import SF_SMOKE
from .parity import compare

load_all_modules()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    def check(df) -> None:
        spark_pdf = df.toPandas()
        if name not in ORACLE:
            assert len(df.columns) > 0
            assert len(spark_pdf) >= 0
            return
        duck_pdf = duck.execute(ORACLE[name]).df()
        compare(spark_pdf, duck_pdf, name)

    run_query(spark, name, SF_SMOKE, check)

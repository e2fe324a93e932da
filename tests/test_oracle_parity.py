"""The local mirror of the driver's correctness gate: every registered
query with an oracle must hash-match DuckDB at sf0.001 (fast; the
driver runs the same comparison at sf0.01).

r10 tier split: the full 397-query sweep is `slow` (it is ~10 min of
the old 40-minute default suite, which outgrew the driver's verify
window); the default fast tier keeps a cross-family SMOKE subset so
the DuckDB harness itself is still exercised end-to-end on every run.
"""

from __future__ import annotations

import duckdb
import pytest

from stock_data_pipeline_spark.oracle import compare_query, register_duckdb_views
from stock_data_pipeline_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"

# One representative per major operator family (joins/aggregation,
# windows, LSH dedup, CC clustering, ANN, PQ, sketches, stats tests,
# python-boundary codecs) — keeps the fast tier honest without the
# registry-wide sweep.
SMOKE = [
    "q01_sector_calculated_price",
    "q06_sma",
    "q39_asof_join",
    "q54_minhash_lsh_verified",
    "q66_dup_clusters",
    "q53_ann_ivf_topk",
    "q80_kmeans",
    "q194_pq_adc_topk",
    "q198_ivf_pq_topk",
    "q186_kmv_distinct",
    "q245_ks_test",
    "q305_heavy_hitters",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    register_duckdb_views(con, SF)
    return con


def _check(spark, duck, name):
    result = compare_query(spark, duck, name, SF)
    if REGISTRY[name].oracle is None:
        assert result["status"] == "rows_only"
        assert result["spark_rows"] >= 0
    else:
        assert result["status"] == "MATCH", result


@pytest.mark.parametrize("name", SMOKE)
def test_query_matches_oracle_smoke(spark, duck, name):
    _check(spark, duck, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    _check(spark, duck, name)

"""Differential tests: every registered query vs its DuckDB oracle.

One parametrized test per registry entry — this replicates the
driver's t2 gate locally (SURVEY.md §5.3.1) so declaration is never a
risk. Queries without an oracle get the rows-only check plus any
dedicated property tests elsewhere in tests/.
"""

from __future__ import annotations

import pytest

import frafka_spark
from frafka_spark.registry import QUERIES

from tests.conftest import assert_query_matches_oracle

frafka_spark.load_all()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


# Cross-scale-factor generalization: the declared sf_dir parameter is
# real, not decorative — a representative query from each family must
# hash-match its oracle at BOTH a 10× smaller and a 10× larger scale
# than the sf0.01 the suite (and the driver) normally grades at. A
# query that hard-codes fixture-scale constants (partition counts,
# thresholds, collected sizes) fails here first.
_CROSS_SF_QUERIES = (
    "q_agg_group",            # flagship aggregate
    "q_join_asof",            # packed-extremum join family
    "q_win_rank",             # window family
    "q_llm_dedup_near",       # LSH pipeline (cached projections per sf)
    "q_events_rolling_actives",  # interval engine
    "q_tpch_q19_shape",       # disjunctive pushdown
    "q_events_rfm",           # melted one-exchange multi-ranking (r6 wave 3)
    "q_llm_dedup_segment",    # sub-document dedup join (r6 wave 3)
    # artifact-store consumers: one generation per fixture directory
    "q_join_bucketed",
    "q_scan_dpp",
    "q_scan_file_skip",
    "q_scan_evolved",
    "q_scan_compacted",
)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.1"])
@pytest.mark.parametrize("name", _CROSS_SF_QUERIES)
def test_query_matches_oracle_across_sf(spark, name, sf_dir):
    import duckdb

    from frafka_spark.io import TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone = 'America/New_York'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    try:
        assert_query_matches_oracle(spark, con, name, sf_dir=sf_dir)
    finally:
        con.close()

"""Parquet writers may omit min/max statistics. The nine fixed-grid
queries size their bucket grids from footer statistics; without them
they must fall back to the grid-less path — the pinned range exchange —
and return the same rows, not raise."""

from __future__ import annotations

import os

import pytest

from tests.conftest import construction_jobs

SF = "/root/testdata/sf0.001"

FIXED_GRID_QUERIES = (
    "a_weighted_median",
    "pack_concat_chunks",
    "a_mutual_information_ranking",
    "f_quantile_normalize",
    "a_mann_whitney_u",
    "a_psi_drift",
    "w6_sessionize_ttd",
    "r5_hash_permutation",
    "w7_acf_fixed_lags",
)


@pytest.fixture(scope="module")
def no_stats_sf(tmp_path_factory):
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf0.001_nostats")
    for f in sorted(os.listdir(SF)):
        if f.endswith(".parquet"):
            pq.write_table(
                pq.read_table(os.path.join(SF, f)), out / f, write_statistics=False
            )
    return str(out)


def test_no_statistics_means_no_grid(spark, no_stats_sf):
    from cicevse2024_tfm_datapipeline_spark.operators.scan import footer_grid
    from cicevse2024_tfm_datapipeline_spark.sources.readers import table_column_minmax

    for table, column in (
        ("lineitem", "l_extendedprice"),
        ("documents", "doc_id"),
        ("documents", "n_chars"),
        ("events", "value"),
        ("events", "ts"),
        ("events", "event_id"),
    ):
        assert table_column_minmax(no_stats_sf, table, column) is None
        assert footer_grid(spark, no_stats_sf, table, column) is None
        assert footer_grid(spark, SF, table, column)


@pytest.mark.parametrize("name", FIXED_GRID_QUERIES)
def test_fixed_grid_query_without_statistics(spark, no_stats_sf, name):
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    q = load_all()[name]
    want = sorted(q.spark(spark, SF).collect())
    assert sorted(q.spark(spark, no_stats_sf).collect()) == want


def test_w7_acf_builds_without_jobs_on_the_footer_grid(spark, no_stats_sf):
    """With footer statistics ``w7_acf_fixed_lags`` builds its row index
    on the grid and runs no Spark job before an action; without them the
    grid is None and the pinned range exchange runs at build."""
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    q = load_all()["w7_acf_fixed_lags"]
    assert construction_jobs(spark, lambda: q.spark(spark, SF)) == 0
    assert construction_jobs(spark, lambda: q.spark(spark, no_stats_sf)) >= 1

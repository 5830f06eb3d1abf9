"""The power lifecycle (SURVEY §3.1): the windows reuse the split's sort,
and the cached windows are released when a later step fails."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE as SF


def _cfg(**kw):
    from cicevse2024_tfm_datapipeline_spark.pipelines import PipelineConfig

    return PipelineConfig(task="multiattack", seq_len=15, step=15, **kw)


def test_power_windows_sort_once(spark):
    """The windows aggregate at (split, attack, state, window_id) over the
    split's position, so the executed plan keeps the split's one Sort
    (the windows' own ``row_number`` added a second) and its one Window
    node (row number and group count share it). The groups reach it
    through a range exchange into the session's shuffle partition count,
    which AQE does not coalesce, not through a hash exchange."""
    from cicevse2024_tfm_datapipeline_spark.pipelines import power_windows
    from cicevse2024_tfm_datapipeline_spark.plans.common import power_view

    windows, _ = power_windows(power_view(spark, SF), _cfg())
    windows.collect()
    plan = windows._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE's final plan only
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    ranged = re.findall(
        r"Exchange rangepartitioning\(attack#\d+ ASC NULLS FIRST, "
        r"state#\d+ ASC NULLS FIRST, (\d+)\), REPARTITION_BY_NUM",
        plan,
    )
    assert ranged == [spark.conf.get("spark.sql.shuffle.partitions")], plan
    assert not re.search(r"hashpartitioning\(attack#\d+, state#\d+", plan), plan


def test_power_pipeline_failure_releases_cached_windows(spark, tmp_path):
    """An unwritable output directory fails the artifact write after the
    windows were cached; the cache entry is gone afterwards."""
    from cicevse2024_tfm_datapipeline_spark.pipelines import run_power_pipeline
    from cicevse2024_tfm_datapipeline_spark.plans.common import power_view

    blocker = tmp_path / "file"
    blocker.write_text("")
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    with pytest.raises(OSError):
        run_power_pipeline(
            spark, power_view(spark, SF), _cfg(output_dir=str(blocker / "out"))
        )
    assert cache.isEmpty()

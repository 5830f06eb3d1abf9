"""The power lifecycle (SURVEY §3.1): the windows reuse the split's sort,
building them runs no Spark job, and the cached windows are released
when a later step fails."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE as SF
from tests.conftest import construction_jobs


def _cfg(**kw):
    from cicevse2024_tfm_datapipeline_spark.pipelines import PipelineConfig

    return PipelineConfig(task="multiattack", seq_len=15, step=15, **kw)


def test_power_windows_sort_once(spark):
    """The windows aggregate at (split, attack, state, window_id) over the
    split's position, so they add no Sort or Window of their own (their
    own ``row_number`` added a third Sort). The plan runs the split twice,
    for the windows and under the standardizer fit's train filter, so it
    holds one Sort, one Window node (row number and group count share it)
    and one range exchange per split pass. The groups reach each through
    a range exchange into the session's shuffle partition count, which
    AQE does not coalesce, not through a hash exchange."""
    from cicevse2024_tfm_datapipeline_spark.pipelines import power_windows
    from cicevse2024_tfm_datapipeline_spark.plans.common import power_view

    windows, _ = power_windows(power_view(spark, SF), _cfg())
    windows.collect()
    plan = windows._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE's final plan only
    assert len(re.findall(r"\bSort \[", plan)) == 2, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 2, plan
    ranged = re.findall(
        r"Exchange rangepartitioning\(attack#\d+ ASC NULLS FIRST, "
        r"state#\d+ ASC NULLS FIRST, (\d+)\), REPARTITION_BY_NUM",
        plan,
    )
    assert ranged == [spark.conf.get("spark.sql.shuffle.partitions")] * 2, plan
    assert not re.search(r"hashpartitioning\(attack#\d+, state#\d+", plan), plan


def test_power_windows_build_lazily(spark):
    """Building the power lifecycle's windows runs no Spark job: the
    train-split fit is part of the windows' plan, not a collect."""
    from cicevse2024_tfm_datapipeline_spark.pipelines import power_windows
    from cicevse2024_tfm_datapipeline_spark.plans.common import power_view

    assert construction_jobs(spark, lambda: power_windows(power_view(spark, SF), _cfg())) == 0


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

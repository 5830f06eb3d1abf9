"""Property-based differential for the lineage-free bounds scan: for ANY
small frame — integer or double keys, heavy or no ties, with or without
nulls, ascending or descending — ``global_cumsum(fixed_bounds=grid)``
must equal the pinned range-exchange path (``fixed_bounds=None``) row for
row. The example count is capped (each example runs Spark jobs); the
generator biases toward the hard cases: duplicate-heavy key domains,
null mixtures and heavy-tailed keys."""

from __future__ import annotations

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _keys = st.one_of(
        # heavy ties: tiny integer domain
        st.lists(st.integers(min_value=0, max_value=5), min_size=2, max_size=120),
        # continuous-ish doubles, occasional nulls
        st.lists(
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
            min_size=2,
            max_size=120,
        ),
    )

    @pytest.mark.usefixtures("spark")
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(keys=_keys, descending=st.booleans())
    def test_bounds_equals_pinned_on_random_frames(spark, keys, descending):
        """A grid fitted to the data's [min, max] — the shape
        ``footer_grid`` derives from parquet statistics."""
        from cicevse2024_tfm_datapipeline_spark.operators.scan import (
            global_cumsum,
            uniform_grid,
        )

        present = [float(k) for k in keys if k is not None]
        grid = uniform_grid(min(present), max(present), 8) if present else []
        rows = [(i, None if k is None else float(k), 1 + (i % 3)) for i, k in enumerate(keys)]
        df = spark.createDataFrame(rows, "id long, k double, v int")
        kw = dict(
            order_cols=["k", "id"],
            sum_cols=["v"],
            descending=descending,
            with_totals=True,
        )
        pinned = {
            r["id"]: (r["cum_v"], r["tot_v"])
            for r in global_cumsum(df, **kw).collect()
        }
        bounds = {
            r["id"]: (r["cum_v"], r["tot_v"])
            for r in global_cumsum(df, fixed_bounds=grid, **kw).collect()
        }
        assert pinned == bounds

    @pytest.mark.usefixtures("spark")
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        keys=_keys,
        descending=st.booleans(),
        grid=st.lists(
            st.one_of(
                st.none(),
                st.just(float("nan")),
                st.just(float("inf")),
                st.just(float("-inf")),
                st.floats(min_value=-2e6, max_value=2e6),
            ),
            max_size=12,
        ),
    )
    def test_fixed_bounds_equals_pinned_on_random_frames(
        spark, keys, descending, grid
    ):
        """Round-10 path: caller-literal DOMAIN grids (scan fixed_bounds,
        ridden by the a13/a11 window queries) must match the pinned scan
        for ANY grid — unsorted, duplicated, out of the data's range,
        polluted with NaN/inf/None — against ANY key frame. A grid can
        only move bucket BOUNDARIES, never results."""
        from cicevse2024_tfm_datapipeline_spark.operators.scan import (
            global_cumsum,
        )

        rows = [
            (i, None if k is None else float(k), 1 + (i % 3))
            for i, k in enumerate(keys)
        ]
        df = spark.createDataFrame(rows, "id long, k double, v int")
        kw = dict(
            order_cols=["k", "id"],
            sum_cols=["v"],
            descending=descending,
            with_totals=True,
        )
        pinned = {
            r["id"]: (r["cum_v"], r["tot_v"])
            for r in global_cumsum(df, **kw).collect()
        }
        fixed = {
            r["id"]: (r["cum_v"], r["tot_v"])
            for r in global_cumsum(df, fixed_bounds=grid, **kw).collect()
        }
        assert pinned == fixed

    @pytest.mark.usefixtures("spark")
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        heavy=st.integers(min_value=0, max_value=40),
        n_heavy=st.integers(min_value=60, max_value=240),
        # long tail: powers of two spread the keys over orders of magnitude
        tail=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=40),
        descending=st.booleans(),
    )
    def test_heavy_tailed_key_on_uniform_grid(
        spark, heavy, n_heavy, tail, descending
    ):
        """Skew gate: one key value holds most rows and the rest form a
        long tail. A uniform grid over [min, max] — the footer-grid shape —
        must still give exactly the pinned results, and the whole tie
        group lands in ONE bucket: the imbalance ``bounds_bucketed``
        documents (the range exchange would split it)."""
        from cicevse2024_tfm_datapipeline_spark.operators.scan import (
            PID,
            bounds_bucketed,
            global_cumsum,
            uniform_grid,
        )

        keys = [2.0**heavy] * n_heavy + [2.0**x for x in tail]
        rows = [(i, k, 1 + (i % 3)) for i, k in enumerate(keys)]
        df = spark.createDataFrame(rows, "id long, k double, v int").repartition(3)
        kw = dict(
            order_cols=["k", "id"],
            sum_cols=["v"],
            descending=descending,
            with_totals=True,
        )
        n_b = int(spark.conf.get("spark.sql.shuffle.partitions"))
        grid = uniform_grid(min(keys), max(keys), n_b)
        pinned = {
            r["id"]: (r["cum_v"], r["tot_v"])
            for r in global_cumsum(df, **kw).collect()
        }
        got = global_cumsum(df, fixed_bounds=grid, **kw).collect()
        assert pinned == {r["id"]: (r["cum_v"], r["tot_v"]) for r in got}
        # the PIDs global_cumsum scans with: the same bucketing call
        tagged = bounds_bucketed(df, kw["order_cols"], grid, descending).collect()
        heavy_pids = {r[PID] for r in tagged if r["k"] == 2.0**heavy}
        assert len(heavy_pids) == 1, "a tie group must never span buckets"
        (pid,) = heavy_pids
        assert sum(r[PID] == pid for r in tagged) >= n_heavy

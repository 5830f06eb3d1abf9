"""W7: autocorrelation of a demeaned series (SURVEY §2.6).

Reference (func_aux/func_plot.py:43-54): full ACF of x - mean(x) up to
max_lag, normalized by lag-0 energy, over ONE global series.

Spark shape, with no unpartitioned window: a global row index from the
two-phase prefix scan (operators.scan), then every lag-k cross product is
an equi-join of the series against itself shifted by k on that index —
one hash-shuffle join for ALL lags at once (the shifted side explodes the
lag set), fully parallel at any scale. The demean is a broadcast
cross-join of the 1-row mean (no driver round-trip).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def acf(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    lags: Sequence[int],
    fixed_bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Rows (lag, acf_value) of the series ``value_col`` in the global
    ``order_cols`` order, demeaned by its global mean. lag 0 → 1.0.

    ``fixed_bounds`` is the row-index scan's bucket grid on
    ``order_cols[0]`` (``global_cumsum``): a grid, e.g. a
    :func:`~cicevse2024_tfm_datapipeline_spark.operators.scan.footer_grid`,
    builds with no Spark job; ``None`` takes the pinned range exchange."""
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_cumsum

    mean_df = df.agg(F.avg(value_col).alias("__mu"))
    demeaned = df.crossJoin(F.broadcast(mean_df)).select(
        *[F.col(c) for c in order_cols],
        (F.col(value_col) - F.col("__mu")).alias("__x"),
    )
    idx = global_cumsum(
        demeaned.withColumn("__one", F.lit(1)), order_cols, ["__one"],
        fixed_bounds=fixed_bounds,
    ).select(F.col("cum___one").alias("__idx"), "__x")

    e0 = idx.agg(F.sum(F.col("__x") * F.col("__x")).alias("__e0"))
    out_rows = []
    if 0 in lags:
        out_rows.append(e0.select(F.lit(0).alias("lag"), F.lit(1.0).alias("acf_value")))
    ks = [k for k in lags if k != 0]
    if ks:
        # one shifted side for every lag: x_j re-addressed to index j+k;
        # the inner equi-join keeps exactly the (i, i−k) pairs a lag()
        # window would pair, dropping the k boundary rows per lag.
        shifts = idx.select(
            F.col("__x").alias("__xs"),
            F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("lag"),
            "__idx",
        ).select("__xs", "lag", (F.col("__idx") + F.col("lag")).alias("__idx"))
        ek = (
            idx.join(shifts, "__idx")
            .groupBy("lag")
            .agg(F.sum(F.col("__x") * F.col("__xs")).alias("__e"))
        )
        out_rows.append(
            ek.crossJoin(F.broadcast(e0)).select(
                "lag", (F.col("__e") / F.col("__e0")).alias("acf_value")
            )
        )
    result = out_rows[0]
    for r in out_rows[1:]:
        result = result.unionByName(r)
    return result


"""W1/W2: per-group chronological train/val/test split (SURVEY §2.6).

Reference semantics (func_aux/func_preproc.py:154-203): for each
(Attack, State) group, sort by time, take the first ``int(train_frac*n)``
rows as train, the next ``int(val_frac*n)`` as val, the rest as test, with
a small-group guard when ``n_train + n_val >= n``:

    n_train = max(1, n_train)
    n_val   = max(0, min(n - n_train - 1, n_val))

Spark-first shape: one window pass — ``row_number`` and a whole-group
``count`` over ``partitionBy(groups).orderBy(time, tiebreak)`` (one
``Window`` node, so one sorted group buffer per task), each computed once
as a column, and a CASE on floor-of-count arithmetic over those columns.
No iteration over groups, no concat: the split of ALL groups is a single
range exchange on the group key (``windows._cluster_groups``), which
scales linearly with data. It is not skew-tolerant: a group is never
split across tasks, and AQE does not split window partitions, so the
largest group bounds the stage. ``percent_rank`` would NOT reproduce the
``int()`` truncation on small groups, so we use explicit floor arithmetic.

The tiebreak column matters: pandas ``sort_values`` is stable on file
order, so equal timestamps keep input order. A distributed engine must pin
that with an explicit unique key (e.g. the row id) to stay deterministic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators.windows import _cluster_groups


def split_size_exprs(n: Column, train_frac: float, val_frac: float) -> tuple[Column, Column]:
    """Train/val row counts for a group of size ``n`` (guard included)."""
    n_train0 = F.floor(F.lit(train_frac) * n)
    n_val0 = F.floor(F.lit(val_frac) * n)
    guard = (n_train0 + n_val0) >= n
    n_train = F.when(guard, F.greatest(F.lit(1), n_train0)).otherwise(n_train0)
    n_val = F.when(
        guard, F.greatest(F.lit(0), F.least(n - n_train - F.lit(1), n_val0))
    ).otherwise(n_val0)
    return n_train, n_val


def chrono_split(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    train_frac: float = 0.7,
    val_frac: float = 0.15,
    split_col: str = "split",
    index_col: str | None = None,
) -> DataFrame:
    """Tag every row with its chronological split (W1 + W2 fused).

    Returns the input plus a ``split`` column ∈ {train, val, test}. Rows
    with a null group key are dropped (reference dropna at :163).

    With ``index_col``, also adds the row's 1-based position within its
    (groups, split) in ``(time, tiebreak)`` order: the group row number
    minus the rows of the earlier splits. A consumer that orders rows per
    (split, groups), e.g. ``window_summary_stats(index_col=...)``, can
    then reuse this split's sort instead of sorting again.
    """
    df = _cluster_groups(df.na.drop(subset=list(group_cols)), group_cols)
    order = [F.col(time_col).asc(), F.col(tiebreak_col).asc()]
    win = W.partitionBy(*group_cols).orderBy(*order)
    # the count over the same ordered spec with a whole-group frame shares
    # the row number's Window node; rn and n as columns: the CASE below
    # names each several times, and inlined window expressions would each
    # be planned again
    whole = win.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    df = df.withColumn("__split_rn", F.row_number().over(win)).withColumn(
        "__split_n", F.count(F.lit(1)).over(whole)
    )
    rn, n = F.col("__split_rn"), F.col("__split_n")
    n_train, n_val = split_size_exprs(n, train_frac, val_frac)
    split = (
        F.when(rn <= n_train, F.lit("train"))
        .when(rn <= n_train + n_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    df = df.withColumn(split_col, split)
    if index_col is not None:
        before = (
            F.when(rn <= n_train, F.lit(0))
            .when(rn <= n_train + n_val, n_train)
            .otherwise(n_train + n_val)
        )
        df = df.withColumn(index_col, rn - before)
    return df.drop("__split_rn", "__split_n")

"""W3/W4/W5: sliding-window featurization + train-only standardization
(SURVEY §2.6).

Reference semantics (func_aux/func_preproc.py:206-247): within each split,
windows of ``seq_len`` rows with hop ``step`` slide over the (scaled)
feature matrix; window ``k`` covers rows ``[k*step, k*step + seq_len)`` and
takes the LAST row's label / episode id. Features are standardized with a
StandardScaler fit on TRAIN ONLY (population std, ddof=0 —
func_preproc.py:391-392).

Spark-first shape:
- W5 standardization = one small agg on the train split (avg + stddev_pop
  per feature), broadcast-cross-joined back as one row — no shuffle of the
  big table and no Spark action of its own: the fit runs inside the query
  that consumes the scaled frame.
- W3 windows start from one ``row_number`` ``rn`` over
  ``partitionBy(group).orderBy(ts, tiebreak)``; window ``k`` holds the
  rows with ``k·step < rn ≤ k·step + L``. The stats path can take ``rn``
  from a column instead (``chrono_split``'s position), which saves the
  ``row_number``'s sort.
  - The array path (``sliding_windows``) runs trailing row frames
    ``rowsBetween(-(L-1), 0)`` and keeps the window ENDS (``rn >= L`` and
    ``(rn - L) % step == 0``); the label at the frame end is the current
    row's value (W4) — no extra pass.
  - The stats path (``window_summary_stats``) uses the same frames, with
    mean/std/min/max in place of ``collect_list``, when windows overlap
    (``step < L``). When they do not, each row is in at
    most one window ``(rn - 1) div step``, and each window is computed once
    with a keyed aggregate on ``(group, window_id)``, clustered on the
    shuffle the ``row_number`` already made.

Scale note (SURVEY §7.4 risk 2): the reference windows one global series;
a single unpartitioned ``Window.orderBy`` would serialize 100 TB through
one task. The engine therefore always windows within group keys
(attack/state/split — matching reference semantics, which builds windows
per split anyway). A group is never split across tasks, so the width of a
window stage is at most the number of groups, and only if the groups are
spread evenly: a hash exchange on a handful of keys can put nearly all
rows in one partition, and AQE then merges the small rest into the same
task (it splits skewed partitions for joins only, never for a window or
an aggregate). :func:`_cluster_groups` range-partitions the groups into
the session's shuffle partition count instead (SCALE.md "W1/W3 group
clustering"). Each window frame streams through the JVM, so a group is
never materialized whole.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec


def _cluster_groups(df: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """``df`` range-partitioned on the group keys into the session's
    ``spark.sql.shuffle.partitions`` (read, never set): each group lands
    whole in one partition, and the groups are spread by their sampled
    row weight rather than by hash. The explicit count keeps AQE from
    coalescing the partitions; a range partitioner makes at most one
    more of them than there are distinct keys. A per-group ``Window`` or
    aggregate after it needs no exchange of its own."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartitionByRange(n, *group_cols)


def fit_standardizer(train: DataFrame, features: Sequence[str]) -> DataFrame:
    """W5: the one-row frame of ``__mu_<f>`` / ``__sigma_<f>`` per feature
    from the TRAIN split only; lazy, apply with :func:`apply_standardizer`.

    sklearn's StandardScaler uses ddof=0 → ``stddev_pop``; it maps zero
    variance to scale 1.0 so constant columns pass through, and an empty
    split gives mean 0.0 and scale 1.0.
    """
    aggs = []
    for c in features:
        aggs.append(F.coalesce(F.avg(c), F.lit(0.0)).alias(f"__mu_{c}"))
        aggs.append(
            F.coalesce(F.nullif(F.stddev_pop(c), F.lit(0.0)), F.lit(1.0)).alias(
                f"__sigma_{c}"
            )
        )
    return train.agg(*aggs)


def apply_standardizer(df: DataFrame, stats: DataFrame) -> DataFrame:
    """``(c - mu) / sigma`` for each feature of :func:`fit_standardizer`'s
    ``stats``, over a broadcast cross-join of that one row: the fit runs
    inside the caller's query, with no driver round-trip and no UDF."""
    features = {c[len("__mu_"):] for c in stats.columns if c.startswith("__mu_")}
    joined = df.crossJoin(F.broadcast(stats))
    cols = []
    for c in df.columns:
        if c in features:
            cols.append(
                ((F.col(c) - F.col(f"__mu_{c}")) / F.col(f"__sigma_{c}")).alias(c)
            )
        else:
            cols.append(F.col(c))
    return joined.select(*cols)


def _check_shape(seq_len: int, step: int) -> None:
    """Windows hold ``seq_len >= 1`` rows and start ``step >= 1`` rows apart."""
    if seq_len < 1 or step < 1:
        raise ValueError(f"seq_len and step must be >= 1, got seq_len={seq_len}, step={step}")


#: the per-feature window stats (NumPy ``std`` is population std)
_STATS = (("mean", F.avg), ("std", F.stddev_pop), ("min", F.min), ("max", F.max))


def _trailing_windows(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    aggregates: Sequence[tuple[str, Column]],
    seq_len: int,
    step: int,
    label_col: str | None,
    index_col: str | None,
) -> DataFrame:
    """One row per window: each ``(name, aggregate)`` of ``aggregates``
    evaluated over the trailing ``rowsBetween(-(seq_len-1), 0)`` frame,
    kept at the window ends (``rn >= seq_len``, ``(rn - seq_len) % step
    == 0``); the label is the end row's own (W4). Output: group cols,
    ``window_id``, the aggregates in order, ``window_label``."""
    _check_shape(seq_len, step)
    out, order_win = _with_position(df, group_cols, time_col, tiebreak_col, index_col)
    frame = order_win.rowsBetween(-(seq_len - 1), 0)
    cols: list[Column] = [F.col(c) for c in group_cols]
    cols.append((((F.col("__rn") - F.lit(seq_len)) / F.lit(step)).cast("long")).alias("window_id"))
    for name, agg in aggregates:
        out = out.withColumn(name, agg.over(frame))
        cols.append(F.col(name))
    if label_col is not None:
        cols.append(F.col(label_col).alias("window_label"))
    is_end = (F.col("__rn") >= F.lit(seq_len)) & (
        ((F.col("__rn") - F.lit(seq_len)) % F.lit(step)) == 0
    )
    return out.filter(is_end).select(*cols)


def sliding_windows(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    features: Sequence[str],
    seq_len: int,
    step: int = 1,
    label_col: str | None = None,
) -> DataFrame:
    """W3+W4: one row per window.

    Output: group cols, ``window_id`` (0-based, reference's ``start/step``),
    per-feature ``<f>_seq`` arrays (ordered oldest→newest), plus the
    window-end label when ``label_col`` is given.
    """
    aggregates = [(f"{f}_seq", F.collect_list(F.col(f))) for f in features]
    return _trailing_windows(
        df, group_cols, time_col, tiebreak_col, aggregates, seq_len, step, label_col, None
    )


def window_summary_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    features: Sequence[str],
    seq_len: int,
    step: int = 1,
    label_col: str | None = None,
    index_col: str | None = None,
) -> DataFrame:
    """A6 over W3 framing: per-window mean/std/min/max per feature — the
    surrogate-model tabular featurization (func_aux/func_models.py:351-391;
    NumPy ``std`` there is population std → ``stddev_pop``).

    Output: group cols, ``window_id``, ``<f>_mean/_std/_min/_max`` per
    feature, plus ``window_label`` (the window-end row's label) when
    ``label_col`` is given. Never materializes the window arrays, so row
    width stays O(features), not O(features·seq_len).

    When ``step >= seq_len`` each row is in at most one window, and each
    window is aggregated once with a keyed aggregate
    (:func:`_window_stats_keyed`). Otherwise trailing-frame aggregates run
    on every row and the window ends are kept (:func:`_window_stats_frames`).
    The two paths give the same rows: bit-identical when the aggregate does
    not spill, equal within floating-point rounding when it does (a spill
    merges partial mean/std buffers in another order).

    ``index_col`` names a column that already holds each row's 1-based
    position within its group in ``(time_col, tiebreak_col)`` order, e.g.
    ``chrono_split(index_col=...)``'s; it is used in place of this
    function's own ``row_number``, so the keyed path needs no sort. Its
    stats equal the ``row_number`` form's bit for bit when rows reach the
    aggregate in ``(time_col, tiebreak_col)`` order within each group, as
    they do straight after ``chrono_split``'s window.
    """
    _check_shape(seq_len, step)
    stats = _window_stats_keyed if step >= seq_len else _window_stats_frames
    return stats(
        df, group_cols, time_col, tiebreak_col, features, seq_len, step, label_col, index_col
    )


def _with_position(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    index_col: str | None,
) -> tuple[DataFrame, WindowSpec]:
    """``df`` plus ``__rn``, each row's 1-based position in its group
    (``index_col`` when given, else a ``row_number`` over the groups
    clustered by :func:`_cluster_groups`), and the group's
    ``(time_col, tiebreak_col)`` window."""
    order_win = W.partitionBy(*group_cols).orderBy(F.col(time_col).asc(), F.col(tiebreak_col).asc())
    if index_col is None:
        df, rn = _cluster_groups(df, group_cols), F.row_number().over(order_win)
    else:
        rn = F.col(index_col)
    return df.withColumn("__rn", rn), order_win


def _window_stats_keyed(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    features: Sequence[str],
    seq_len: int,
    step: int,
    label_col: str | None,
    index_col: str | None = None,
) -> DataFrame:
    """For ``step >= seq_len`` only. Window ``k`` holds the rows with
    ``k·step < rn ≤ k·step + seq_len``, so a row is in window
    ``(rn - 1) div step`` unless it sits in the gap between windows; then
    ``groupBy(groups, window_id)`` computes the stats and keeps full
    windows only. The aggregate is clustered on the group keys the
    position's window already shuffled by, so it adds no exchange."""
    df, _ = _with_position(df, group_cols, time_col, tiebreak_col, index_col)
    out = (
        df.filter(F.expr(f"(__rn - 1) % {step} < {seq_len}"))
        .withColumn("window_id", F.expr(f"(__rn - 1) div {step}"))
    )
    aggs = [fn(F.col(f)).alias(f"{f}_{s}") for f in features for s, fn in _STATS]
    if label_col is not None:
        aggs.append(F.max_by(F.col(label_col), F.col("__rn")).alias("window_label"))
    aggs.append(F.count(F.lit(1)).alias("__n"))
    return (
        out.groupBy(*group_cols, "window_id")
        .agg(*aggs)
        .filter(F.col("__n") == F.lit(seq_len))
        .drop("__n")
    )


def _window_stats_frames(
    df: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    tiebreak_col: str,
    features: Sequence[str],
    seq_len: int,
    step: int,
    label_col: str | None,
    index_col: str | None = None,
) -> DataFrame:
    """Trailing-frame window stats on every row, kept at the window ends
    (:func:`_trailing_windows`)."""
    aggregates = [(f"{f}_{s}", fn(F.col(f))) for f in features for s, fn in _STATS]
    return _trailing_windows(
        df, group_cols, time_col, tiebreak_col, aggregates, seq_len, step, label_col, index_col
    )


def ewma_truncated(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    alpha: float,
    max_terms: int = 32,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially-weighted moving average, truncated to the
    last ``max_terms`` observations (pandas ``ewm(adjust=False)``
    semantics while the history fits the window; after that the oldest
    retained term carries the full head weight, so the truncation error
    is bounded by ``(1-alpha)^(max_terms-1)`` of the dropped mass —
    ~1e-5 at alpha 0.3, K 32).

    Recursive smoothing resists distribution; this closed form does not:
    a trailing ``collect_list`` frame (bounded at K values, so state per
    row is K doubles, never the key's history) and one sequential
    weighted fold — both engine-portable, so the whole smoother is
    SQL-oracle-checkable. One shuffle by key; ``order_cols`` must be a
    deterministic total order per key (include a tiebreak) or the frame
    contents are ambiguous."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    w = (
        W.partitionBy(*[F.col(c) for c in key_cols])
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(max_terms - 1), 0)
    )
    arr = F.collect_list(F.col(value_col).cast("double")).over(w)
    # 0-based i over oldest→newest: head term carries (1-a)^(n-1); the
    # rest a*(1-a)^(n-1-i). Sequential fold → identical doubles anywhere.
    a = float(alpha)
    weighted = (
        f"transform(__ewma_arr, (x, i) -> CASE WHEN i = 0 "
        f"THEN x * power({1.0 - a!r}, size(__ewma_arr) - 1) "
        f"ELSE x * {a!r} * power({1.0 - a!r}, size(__ewma_arr) - 1 - i) END)"
    )
    fold = f"aggregate({weighted}, cast(0.0 as double), (acc, x) -> acc + x)"
    return (
        df.withColumn("__ewma_arr", arr)
        .withColumn(out_col, F.expr(fold))
        .drop("__ewma_arr")
    )

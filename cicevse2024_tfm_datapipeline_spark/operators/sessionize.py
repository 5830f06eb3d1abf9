"""W6: sessionization / time-to-detect (SURVEY §2.6).

Reference semantics (func_aux/func_test.py:196-249): scan the window-label
sequence in order; a contiguous run of y_true=1 is an attack episode, but a
change of episode id *within* a run starts a new episode. An episode is
detected iff any window inside it has y_pred=1; the delay is
(first-detected-index − episode-start-index) · hop_seconds.

Spark-first shape — gaps-and-islands over the reference's one global
series, with no unpartitioned window:
  boundary  = y=1 AND (prev y ≠ 1 OR prev episode-id ≠ episode-id)
  island id = running sum of boundaries over the order
  per-island agg: min(idx), min(idx | pred=1) → detected/delay.

The scan is one fused segment pass (``_global_ttd_episodes``) over the
buckets of :mod:`operators.scan`: per-bucket row_number/lag/cumsum, one
aggregate per (bucket, local island), then the boundary fill and prefix
offsets on that |segments|-sized frame. Same results on any partitioning;
every window in the plan is bucket-keyed. ``ttd_stats`` takes an optional
literal grid (``fixed_bounds``) for the lineage-free bounds bucketing;
without one the scan is the pinned range exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators.scan import (
    PID,
    bounds_bucketed,
    offsets_from_totals,
    prev_nonempty_value,
    range_bucketed,
)


def _boundary(
    cur_y: Column, cur_ep: Column | None, prev_y: Column, prev_ep: Column | None
) -> Column:
    """Episode start: an attack row whose predecessor is no attack row or,
    with episode ids, carries another id (null-safe: two null ids are one
    episode)."""
    starts = prev_y.isNull() | (prev_y != 1)
    if cur_ep is not None:
        starts = starts | (~prev_ep.eqNullSafe(cur_ep))
    return (cur_y == 1) & starts


def _global_ttd_episodes(
    df: DataFrame,
    order_cols: Sequence[str],
    y_true_col: str,
    y_pred_col: str,
    episode_id_col: str | None,
    fixed_bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Fused single-pass global TTD: one row per episode with its global
    1-based ``start_idx`` and first detected index ``det_idx`` (null if
    undetected), without ever materializing per-row global ids. The big
    data is touched EXACTLY ONCE:

      big pass:   bucket, per-bucket window (row_number, lags →
                  interior boundaries, local-island cumsum), then an
                  immediate map-side-combined aggregate per
                  (bucket, local island): row count, first/last (y, ep)
                  edges, min row-number over attack rows and over
                  detected-attack rows.
      tiny frame: everything else — per-bucket summaries, the
                  nearest-earlier-bucket boundary fill, prefix offsets,
                  island-id stitching for runs that span buckets, and the
                  per-episode min — runs on the |segments|-sized frame
                  (≈ islands + buckets rows; worst case ≤ |rows| when
                  every other row flips label).

    Without ``fixed_bounds`` the segment frame is pinned with
    ``localCheckpoint(eager=False)``: every consumer must see one
    row→partition mapping of the range exchange (see scan._pin_buckets),
    and the pin costs |segments|, not |rows|. The pin is not lazy under
    AQE: building this frame runs the range exchange and the segment
    aggregate's shuffle as Spark jobs.

    ``fixed_bounds`` (a literal grid, e.g. footer timestamp statistics)
    selects the lineage-free bounds bucketing — see bounds_bucketed.
    CONTRACT: the segment frame then carries NO pin at all, so its window
    subtree may be recomputed per consumer (summ / gseg). That is only
    deterministic when ``order_cols`` is a UNIQUE key of ``df`` — with
    ties, min_by/max_by over the tie group and the lag-derived boundary
    bits can differ between recomputations, silently disagreeing across
    consumers. Callers with a non-unique scan key must pass
    ``fixed_bounds=None``: the pinned range exchange, which freezes one
    sampling via the localCheckpoint below. The in-repo grid caller
    orders by (ts, event_id), measured tie-free (max tie-group 1,
    FIXTURES.md)."""
    ordering = [F.col(c).asc() for c in order_cols]
    if fixed_bounds is not None:
        # deterministic expression PIDs, no pin anywhere; exchange reuse
        # dedupes the heavy stages across the segment frame's consumers
        bucketed = bounds_bucketed(df, order_cols, fixed_bounds)
    else:
        bucketed = range_bucketed(df, order_cols, pin=False)

    w = W.partitionBy(PID).orderBy(*ordering)
    wcum = w.rowsBetween(W.unboundedPreceding, 0)
    lag_cols = [F.lag(y_true_col).over(w).alias("__lp_y")]
    if episode_id_col is not None:
        lag_cols.append(F.lag(episode_id_col).over(w).alias("__lp_ep"))
    keep = dict.fromkeys(  # order cols stay visible for the cumsum window
        [*order_cols, y_true_col, y_pred_col]
        + ([episode_id_col] if episode_id_col is not None else [])
    )
    local = bucketed.select(
        PID,
        *keep,
        F.row_number().over(w).alias("__lrn"),
        *lag_cols,
    )
    interior = _boundary(
        F.col(y_true_col),
        F.col(episode_id_col) if episode_id_col is not None else None,
        F.col("__lp_y"),
        F.col("__lp_ep") if episode_id_col is not None else None,
    ) & (F.col("__lrn") > 1)
    local = local.withColumn(
        "__lisl", F.sum(interior.cast("int")).over(wcum)
    )

    is_att = F.col(y_true_col) == 1
    edge = F.struct(
        F.col(y_true_col).alias("y"),
        *([F.col(episode_id_col).alias("ep")] if episode_id_col is not None else []),
    )
    # the ONLY consumer of the bucketed frame: one map-side-combined
    # aggregate per (bucket, local island) — pinned because every
    # downstream branch (per-bucket summary, fills, offsets, episode
    # merge) must read one consistent materialization of it
    seg = (
        local.groupBy(PID, "__lisl")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min_by(edge, "__lrn").alias("__first_edge"),
            F.max_by(edge, "__lrn").alias("__last_edge"),
            F.min(F.when(is_att, F.col("__lrn"))).alias("__att_lrn"),
            F.min(
                F.when(is_att & (F.col(y_pred_col) == 1), F.col("__lrn"))
            ).alias("__det_lrn"),
        )
    )
    if fixed_bounds is None:
        seg = seg.localCheckpoint(eager=False)

    summ = seg.groupBy(PID).agg(
        F.sum("__cnt").alias("__cnt"),
        F.max("__lisl").alias("__int_bsum"),
        F.min_by("__first_edge", "__lisl").alias("__first_edge"),
        F.max_by("__last_edge", "__lisl").alias("__last_edge"),
    )
    # nearest earlier non-empty bucket's last row → each bucket's first-row
    # boundary; the edge rides in one struct so a legitimately-NULL episode
    # id is never mistaken for "no previous row"
    fills = prev_nonempty_value(
        summ.select(PID, F.col("__last_edge").alias("__edge")), "__edge", "__pp"
    )
    prev_y = F.col("__pp").getField("y")
    prev_ep = F.col("__pp").getField("ep") if episode_id_col is not None else None
    first_b = _boundary(
        F.col("__first_edge").getField("y"),
        F.col("__first_edge").getField("ep") if episode_id_col is not None else None,
        prev_y,
        prev_ep,
    )
    enriched = (
        summ.join(fills, PID)
        .withColumn("__first_b", first_b.cast("int"))
        .withColumn("__bsum", F.col("__int_bsum") + F.col("__first_b"))
    )
    offs = offsets_from_totals(enriched, ["__cnt", "__bsum"])
    pidinfo = enriched.select(PID, "__first_b").join(offs, PID)

    # island id = local island + own-first-boundary + boundary-count
    # offset, so segments of a bucket-spanning run stitch to the same id;
    # start/det become global via the row-count offset
    gseg = (
        seg.filter(F.col("__att_lrn").isNotNull())
        .join(F.broadcast(pidinfo), PID)
        .select(
            (F.col("__lisl") + F.col("__first_b") + F.col("__off___bsum")).alias(
                "__island"
            ),
            (F.col("__att_lrn") + F.col("__off___cnt")).alias("__seg_start"),
            (F.col("__det_lrn") + F.col("__off___cnt")).alias("__seg_det"),
        )
    )
    return gseg.groupBy("__island").agg(
        F.min("__seg_start").alias("start_idx"),
        F.min("__seg_det").alias("det_idx"),
    )


def ttd_stats(
    df: DataFrame,
    order_cols: Sequence[str],
    y_true_col: str,
    y_pred_col: str,
    window_hop_seconds: float,
    episode_id_col: str | None = None,
    fixed_bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Episode detection summary over the global ``order_cols`` order: one
    row with episodes_total, episodes_detected, avg_ttd_seconds,
    avg_ttd_hours.

    A ``fixed_bounds`` grid requires ``order_cols`` to uniquely key
    ``df`` (no pin on the lineage-free path — see
    ``_global_ttd_episodes``); leave it ``None`` for non-unique scan
    keys."""
    eps = _global_ttd_episodes(
        df, order_cols, y_true_col, y_pred_col, episode_id_col,
        fixed_bounds=fixed_bounds,
    )
    delay = (F.col("det_idx") - F.col("start_idx")) * F.lit(float(window_hop_seconds))
    per_ep = eps.select(
        F.lit(1).alias("one"),
        F.col("det_idx").isNotNull().cast("int").alias("detected"),
        F.when(F.col("det_idx").isNotNull(), delay).alias("delay_sec"),
    )
    return per_ep.agg(
        F.count("one").alias("episodes_total"),
        F.coalesce(F.sum("detected"), F.lit(0)).alias("episodes_detected"),
        F.avg("delay_sec").alias("avg_ttd_seconds"),
        (F.avg("delay_sec") / F.lit(3600.0)).alias("avg_ttd_hours"),
    )

"""W6: sessionization / time-to-detect (SURVEY §2.6).

Reference semantics (func_aux/func_test.py:196-249): scan the window-label
sequence in order; a contiguous run of y_true=1 is an attack episode, but a
change of episode id *within* a run starts a new episode. An episode is
detected iff any window inside it has y_pred=1; the delay is
(first-detected-index − episode-start-index) · hop_seconds.

Spark-first shape — gaps-and-islands, two window passes + one aggregation:
  boundary  = y=1 AND (prev y ≠ 1 OR prev episode-id ≠ episode-id)
  island id = running sum of boundaries over the order
  per-island agg: min(idx), min(idx | pred=1) → detected/delay.

Scale: with ``partition_cols`` the windows are partitioned and parallel.
WITHOUT partition keys (the reference's truly-global scan), the engine does
NOT fall back to a single-task ``Window.orderBy``; it runs the two-phase
prefix-scan from :mod:`operators.scan` — range-partition on the order key,
per-partition row_number/lag/cumsum, then window-free boundary fill and
prefix offsets over the |partitions|-sized summary frame. Same results on
any partitioning; every window in the plan is partitioned. ``ttd_stats``
takes an optional literal grid (``fixed_bounds``) for the lineage-free
bounds bucketing; without one, and always for ``mark_episodes``, the scan
is the pinned range exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators.scan import (
    PID,
    _pin_buckets,
    bounds_bucketed,
    offsets_from_totals,
    prev_nonempty_value,
    range_bucketed,
)


def _boundary_cols(
    cur_y: Column, cur_ep: Column | None, prev_y: Column, prev_ep: Column | None
) -> Column:
    is_attack = cur_y == 1
    b = is_attack & (prev_y.isNull() | (prev_y != 1))
    if cur_ep is not None:
        b = is_attack & (
            prev_y.isNull() | (prev_y != 1) | (~prev_ep.eqNullSafe(cur_ep))
        )
    return b


def _boundary_expr(
    y_true_col: str, episode_id_col: str | None, prev_y: Column, prev_ep: Column | None
) -> Column:
    return _boundary_cols(
        F.col(y_true_col),
        F.col(episode_id_col) if episode_id_col is not None else None,
        prev_y,
        prev_ep,
    )


def _global_islands(
    df: DataFrame,
    order_cols: Sequence[str],
    y_true_col: str,
    episode_id_col: str | None,
) -> DataFrame:
    """Global-order islands without an unpartitioned window: adds ``__idx``
    (global 1-based row number) and ``__island`` (island id on attack
    rows, null elsewhere).

    Single-window design — exactly TWO executions of the bucketed window
    subtree (the output pass and one per-bucket summary aggregation);
    everything that crosses buckets happens on the |buckets|-sized summary
    frame with window-free joins:

      big pass:   per-bucket row_number, lags, INTERIOR boundary flags
                  (rows 2..n — these see their true previous row) and
                  their running sum.
      summary:    per bucket: row count, interior-boundary count, first
                  and last (y, episode-id) — one groupBy.
      tiny logic: each bucket's FIRST-row boundary needs the last row of
                  the nearest earlier non-empty bucket (empty range
                  partitions leave pid gaps, so pid−1 is not enough) —
                  an argmax triangle join; row-number and island offsets
                  are prefix triangles over (count, interior+first).
      combine:    one broadcast join;
                  island = interior-cumsum + own-first-boundary + offset.
    """
    ordering = [F.col(c).asc() for c in order_cols]
    ordstruct = F.struct(*[F.col(c) for c in order_cols])
    # pin AFTER the window pass, not after the exchange: ``local`` has two
    # consumers (the per-bucket summary agg and the final join), so
    # checkpointing the bucketed frame would re-run the sort + three
    # window operators once per consumer. The single range-exchange
    # materialization the scan's correctness needs (see _pin_buckets)
    # sits at ``local`` instead — bucketed has exactly one consumer.
    bucketed = range_bucketed(df, order_cols, pin=False)

    w = W.partitionBy(PID).orderBy(*ordering)
    wcum = w.rowsBetween(W.unboundedPreceding, 0)
    lag_cols = [F.lag(y_true_col).over(w).alias("__lp_y")]
    if episode_id_col is not None:
        lag_cols.append(F.lag(episode_id_col).over(w).alias("__lp_ep"))
    local = bucketed.select(
        "*", F.row_number().over(w).alias("__lrn"), *lag_cols
    )
    interior = _boundary_expr(
        y_true_col,
        episode_id_col,
        F.col("__lp_y"),
        F.col("__lp_ep") if episode_id_col is not None else None,
    ) & (F.col("__lrn") > 1)
    local = local.withColumn("__int_b", interior.cast("int")).withColumn(
        "__lisl", F.sum("__int_b").over(wcum)
    )
    local = _pin_buckets(local)  # the one materialization (note above)

    # ONE per-bucket summary aggregation (the only re-execution of the
    # window subtree): counts + interior-boundary totals + edge rows
    summ_aggs = [
        F.count(F.lit(1)).alias("__cnt"),
        F.sum("__int_b").alias("__int_bsum"),
        F.max_by(F.col(y_true_col), ordstruct).alias("__last_y"),
        F.min_by(F.col(y_true_col), ordstruct).alias("__first_y"),
    ]
    if episode_id_col is not None:
        summ_aggs += [
            F.max_by(F.col(episode_id_col), ordstruct).alias("__last_ep"),
            F.min_by(F.col(episode_id_col), ordstruct).alias("__first_ep"),
        ]
    summ = local.groupBy(PID).agg(*summ_aggs)

    # nearest earlier non-empty bucket's last row → fill for first-row lag.
    # Hierarchical (scan.SUPER) like offsets_from_totals: within a
    # super-group the summary frame holds only non-empty buckets, so a
    # partitioned lag IS the nearest-earlier row; across super-groups a
    # triangle-argmax over the (B/SUPER)-row per-super frame. The edge
    # values ride in one struct so a legitimately-NULL episode id is never
    # mistaken for "no previous row".
    edge_fields = [F.col("__last_y").alias("y")]
    if episode_id_col is not None:
        edge_fields.append(F.col("__last_ep").alias("ep"))
    fills = prev_nonempty_value(
        summ.select(PID, F.struct(*edge_fields).alias("__edge")), "__edge", "__pp"
    ).select(
        PID,
        F.col("__pp").getField("y").alias("__pp_y"),
        *(
            [F.col("__pp").getField("ep").alias("__pp_ep")]
            if episode_id_col is not None
            else []
        ),
    )

    # first-row boundary per bucket, computed entirely on the tiny frame
    first_b = _boundary_expr(
        "__first_y",
        "__first_ep" if episode_id_col is not None else None,
        F.col("__pp_y"),
        F.col("__pp_ep") if episode_id_col is not None else None,
    )
    enriched = (
        summ.join(fills, PID)
        .withColumn("__first_b", first_b.cast("int"))
        .withColumn("__bsum", F.col("__int_bsum") + F.col("__first_b"))
    )
    offs = offsets_from_totals(enriched, ["__cnt", "__bsum"])
    side = enriched.select(PID, "__first_b").join(offs, PID)

    out = local.join(F.broadcast(side), PID)
    is_attack = F.col(y_true_col) == 1
    return out.select(
        *df.columns,
        (F.col("__lrn") + F.col("__off___cnt")).alias("__idx"),
        F.when(
            is_attack, F.col("__lisl") + F.col("__first_b") + F.col("__off___bsum")
        ).alias("__island"),
    )


def _global_ttd_episodes(
    df: DataFrame,
    order_cols: Sequence[str],
    y_true_col: str,
    y_pred_col: str,
    episode_id_col: str | None,
    fixed_bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Fused single-pass global TTD: per-episode ``(start_idx, det_idx)``
    without EVER materializing per-row global ids.

    ``ttd_stats`` only consumes per-episode ``min(idx)`` and
    ``min(idx | pred=1)``, so the per-row output of ``_global_islands``
    (global row number + island id on every row, which forces pinning the
    full bucketed frame and joining offsets back onto it) is wasted work.
    Instead the big data is touched EXACTLY ONCE:

      big pass:   range-bucket, per-bucket window (row_number, lags →
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
                  every other row flips label, still never bigger than
                  the full frame the old path pinned).

    The lazy localCheckpoint moves from the full bucketed frame to the
    segment frame, so the one materialization the scan's correctness
    requires (every consumer must see one row→partition mapping — see
    scan._pin_buckets) now costs |segments|, not |rows|, and the
    sort+window subtree genuinely executes once.

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
    interior = _boundary_expr(
        y_true_col,
        episode_id_col,
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
    fills = prev_nonempty_value(
        summ.select(PID, F.col("__last_edge").alias("__edge")), "__edge", "__pp"
    )
    prev_y = F.col("__pp").getField("y")
    prev_ep = F.col("__pp").getField("ep") if episode_id_col is not None else None
    first_b = _boundary_cols(
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
    # offset — identical per segment row to the per-row formula in
    # _global_islands, so segments of a bucket-spanning run stitch to the
    # same id; start/det become global via the row-count offset
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


def _partitioned_islands(
    df: DataFrame,
    order_cols: Sequence[str],
    y_true_col: str,
    episode_id_col: str | None,
    partition_cols: Sequence[str],
) -> DataFrame:
    order = [F.col(c).asc() for c in order_cols]
    win = W.partitionBy(*partition_cols).orderBy(*order)
    prev_y = F.lag(F.col(y_true_col)).over(win)
    prev_ep = (
        F.lag(F.col(episode_id_col)).over(win) if episode_id_col is not None else None
    )
    boundary = _boundary_expr(y_true_col, episode_id_col, prev_y, prev_ep)
    island = F.sum(boundary.cast("int")).over(win.rowsBetween(W.unboundedPreceding, 0))
    is_attack = F.col(y_true_col) == 1
    return df.select(
        "*",
        F.row_number().over(win).alias("__idx"),
        F.when(is_attack, island).alias("__island"),
    )


def mark_episodes(
    df: DataFrame,
    order_cols: Sequence[str],
    y_true_col: str,
    episode_id_col: str | None = None,
    partition_cols: Sequence[str] = (),
    out_col: str = "episode",
) -> DataFrame:
    """Assign a dense episode number to every attack row (y=1); benign rows
    get null. Episode boundaries: start of a y=1 run, or episode-id change
    inside a run. Without ``partition_cols`` the global order is scanned
    with the two-phase prefix sum over the pinned range exchange (no
    unpartitioned window)."""
    if partition_cols:
        marked = _partitioned_islands(
            df, order_cols, y_true_col, episode_id_col, partition_cols
        )
    else:
        marked = _global_islands(df, order_cols, y_true_col, episode_id_col)
    # internal island column → caller's out_col (replacing any existing
    # column of that name, matching the old withColumn semantics)
    cols = [c for c in marked.columns if c not in ("__idx", "__island", out_col)]
    return marked.select(*cols, F.col("__island").alias(out_col))


def ttd_stats(
    df: DataFrame,
    order_cols: Sequence[str],
    y_true_col: str,
    y_pred_col: str,
    window_hop_seconds: float,
    episode_id_col: str | None = None,
    partition_cols: Sequence[str] = (),
    fixed_bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Episode detection summary: one row with episodes_total,
    episodes_detected, avg_ttd_seconds, avg_ttd_hours.

    A ``fixed_bounds`` grid (global scan only) requires ``order_cols`` to
    uniquely key ``df`` (no pin on the lineage-free path — see
    ``_global_ttd_episodes``); leave it ``None`` for non-unique scan
    keys."""
    if partition_cols:
        marked = _partitioned_islands(
            df, order_cols, y_true_col, episode_id_col, partition_cols
        )
        eps = (
            marked.filter(F.col("__island").isNotNull())
            .groupBy(*(list(partition_cols) + ["__island"]))
            .agg(
                F.min("__idx").alias("start_idx"),
                F.min(F.when(F.col(y_pred_col) == 1, F.col("__idx"))).alias(
                    "det_idx"
                ),
            )
        )
    else:
        # fused single-pass path: per-episode stats straight from the
        # (bucket, local island) segment frame — no per-row global ids
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

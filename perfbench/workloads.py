"""The benchmark's workloads, with their inputs frozen here.

Every name list and grid below is a copy, not a reference: later edits to
``bench.HEADLINE`` or to the pipeline defaults do not change what the
benchmark measures.

An item is one unit of timed work: ``build`` (driver-side construction,
including any Spark jobs the construction starts) and then ``run`` (the
terminal action, whose output is checked). ``Item.verify`` compares the
output with the expected value stored in ``expected.json`` and returns an
error message, or None when the output is right.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.1"

#: parquet inputs and their sizes in bytes; a mismatch stops the run
INPUT_FILES = {
    "customer.parquet": 315768,
    "documents.parquet": 594568,
    "embeddings.parquet": 798695,
    "events.parquet": 2045762,
    "lineitem.parquet": 10818932,
    "nation.parquet": 2738,
    "orders.parquet": 2723766,
    "part.parquet": 179850,
    "region.parquet": 1885,
    "supplier.parquet": 22446,
}

# -- roster ----------------------------------------------------------------

#: drawn from the 58-query bench roster: a build-time checkpoint
#: (a_kaplan_meier), global-scan helpers and footer-bracketed grids
#: (a_kaplan_meier, pack_concat_chunks), plain scan/join/aggregate plans,
#: and a windowed, stateful registry stream driven to completion
ROSTER = (
    "a_kaplan_meier",
    "pack_concat_chunks",
    "j_tpch_q3_shipping_priority",
    "dedup_latest_per_key",
    "stream_sliding_window",
)

# -- tfm_lifecycle -----------------------------------------------------------

LIFECYCLE_TASK = "multiattack"
LIFECYCLE_SEQ_LEN = 15
LIFECYCLE_STEP = 15
#: the check below assumes packet loss
ROBUSTNESS_KINDS = ("packet_loss",)
ROBUSTNESS_SEVERITIES = (0.5,)
ROBUSTNESS_REPEATS = 1
#: share of all-zero rows in the undegraded window matrices (severity 0)
ROBUSTNESS_BASE_ZERO_ROWS = 6.00240096e-05
#: allowed distance between the measured and the expected share of zeroed
#: matrix rows after degradation (the share is a mean over ~10^5 seeded
#: Bernoulli draws; its standard deviation is below 0.002)
ROBUSTNESS_TOLERANCE = 0.03


# -- output digests ----------------------------------------------------------


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical form of a result frame: sorted columns, canonical dtypes,
    array cells as tuples, stable row order (the oracle gate's rule)."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(str)
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(
                lambda v: tuple(v.tolist())
                if isinstance(v, np.ndarray)
                else (tuple(v) if isinstance(v, (list, tuple)) else v)
            )
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def frame_digest(pdf: pd.DataFrame) -> dict:
    """Row count plus an order-insensitive md5 of the canonical CSV."""
    payload = normalize(pdf).to_csv(index=False, float_format="%.17g")
    return {"rows": len(pdf), "hash": hashlib.md5(payload.encode()).hexdigest()}


# -- items -------------------------------------------------------------------


@dataclass
class Context:
    spark: Any
    queries: dict
    sf_dir: str
    out_dir: str  # artifacts written by the lifecycle items
    seed: int


@dataclass(frozen=True)
class Item:
    name: str
    build: Callable[[Context], Any]
    run: Callable[[Context, Any], Any]
    digest: Callable[[Any], Any]
    #: a further check of the output against the stored digest
    extra_check: Callable[[Any, Any], str | None] | None = None
    #: ``run`` executes the built DataFrame itself, so its
    #: ``QueryExecution.tracker()`` holds the action's Catalyst phases
    runs_built_frame: bool = False

    def verify(self, output, expected) -> str | None:
        got = self.digest(output)
        if got != expected:
            return f"got {got}, expected {expected}"
        return self.extra_check(output, expected) if self.extra_check else None


def query_item(name: str) -> Item:
    """A registry query: build the DataFrame, collect it to pandas."""
    return Item(
        name,
        build=lambda ctx: ctx.queries[name].spark(ctx.spark, ctx.sf_dir),
        run=lambda ctx, df: df.toPandas(),
        digest=frame_digest,
        runs_built_frame=True,
    )


def _round(x) -> float | None:
    """Nine significant digits; NaN and infinities (degenerate class
    balance) as None, so digests compare equal."""
    if x is None or not math.isfinite(x):
        return None
    return float(f"{x:.9g}")


def _pipeline_digest(art: dict) -> dict:
    """Windows per split, the features used and the multiclass metrics."""
    return {
        "n_windows": dict(sorted(art["n_windows"].items())),
        "features": art["config"]["features"],
        "metrics": {k: _round(v) for k, v in sorted(art["metrics"]["global"].items())},
    }


def _power_input(ctx: Context):
    """The events table as a power-modality frame: the event type is the
    attack label, and readings at or above 100 mark the charging state."""
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark.sources.readers import load_table

    ev = load_table(ctx.spark, ctx.sf_dir, "events")
    return ev.select(
        "event_id",
        "ts",
        "value",
        F.col("event_type").alias("attack"),
        F.when(F.col("value") >= 100.0, "charging").otherwise("idle").alias("state"),
    )


def power_item(task: str) -> Item:
    from cicevse2024_tfm_datapipeline_spark import pipelines

    def run(ctx: Context, events):
        cfg = pipelines.PipelineConfig(
            task=task,
            seq_len=LIFECYCLE_SEQ_LEN,
            step=LIFECYCLE_STEP,
            output_dir=os.path.join(ctx.out_dir, f"power_{task}"),
        )
        return pipelines.run_power_pipeline(ctx.spark, events, cfg)

    return Item(f"power_{task}", build=_power_input, run=run, digest=_pipeline_digest)


def _zero_shares(df) -> dict:
    """Windows, and the share of all-zero matrix rows."""
    from pyspark.sql import functions as F

    rows = F.col("matrix")
    zero_rows = F.size(F.filter(rows, lambda r: F.forall(r, lambda x: x == 0.0)))
    r = df.select(
        F.count(F.lit(1)).alias("windows"),
        F.sum(zero_rows).alias("zero_rows"),
        F.sum(F.size(rows)).alias("rows"),
    ).collect()[0]
    return {"windows": int(r["windows"]), "zero_row_share": r["zero_rows"] / r["rows"]}


def robustness_item() -> Item:
    """One reduced robustness sweep over seeded degradations of window
    matrices (T x 2: value, charging flag). The seed is the sweep's
    ``base_seed``."""
    from pyspark.sql import functions as F

    from cicevse2024_tfm_datapipeline_spark import evaluation
    from cicevse2024_tfm_datapipeline_spark.operators.windows import sliding_windows

    def build(ctx: Context):
        w = sliding_windows(
            _power_input(ctx), ["attack", "state"], "ts", "event_id", ["value"],
            LIFECYCLE_SEQ_LEN, LIFECYCLE_STEP,
        )
        matrix = F.transform("value_seq", lambda x: F.array(x, (x >= 100).cast("double")))
        window_id = F.xxhash64("attack", "state", "window_id").bitwiseAND(F.lit(2**63 - 1))
        return w.select(window_id.alias("window_id"), matrix.alias("matrix"))

    def run(ctx: Context, windows):
        return evaluation.robustness_sweep(
            windows, "matrix", "window_id", _zero_shares,
            kinds=ROBUSTNESS_KINDS, severities=ROBUSTNESS_SEVERITIES,
            n_repeats=ROBUSTNESS_REPEATS, base_seed=ctx.seed,
        )

    return Item("robustness_sweep", build=build, run=run, digest=_sweep_digest, extra_check=_check_degraded)


def _sweep_digest(results: list[dict]) -> dict:
    """Windows and sweep points, which do not depend on the seed."""
    return {"windows": results[0]["windows"], "results": len(results)}


def _check_degraded(results: list[dict], want: dict) -> str | None:
    """Each degraded share of all-zero rows lies within tolerance of
    ``base + (1 - base) * severity``: packet loss zeroes each time step
    with probability ``severity``."""
    base = ROBUSTNESS_BASE_ZERO_ROWS
    for r in results:
        expect = base + (1.0 - base) * r["severity"]
        if r["windows"] != want["windows"] or abs(r["zero_row_share"] - expect) > ROBUSTNESS_TOLERANCE:
            return f"severity {r['severity']}: {r['windows']} windows, zero rows {r['zero_row_share']:.4f}, expected {expect:.4f}"
    return None


def workload(name: str) -> list[Item]:
    """The measured items of a workload."""
    if name == "roster":
        return [query_item(n) for n in ROSTER]
    if name == "tfm_lifecycle":
        return [power_item(LIFECYCLE_TASK), robustness_item()]
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("roster", "tfm_lifecycle")

#: seconds one warm pass of each workload takes on the reference host (see
#: README.md): ``run.py`` turns ``--seconds`` into a count of passes with it
PASS_S = {"roster": 10.0, "tfm_lifecycle": 14.0}

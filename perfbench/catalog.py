"""Every metric the benchmark reports, and the arithmetic behind them.

``END_TO_END`` metrics come from untraced runs (``--trace 0``),
``PER_LAYER`` metrics from traced runs (``--trace 1``). Each per-layer
metric names the end-to-end metric it should move and the workload where
it does most of its work.
"""

from __future__ import annotations

import math
import re
import statistics
from collections import defaultdict

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

#: name -> (unit, better, bound): bound is the share of the parent's median
#: by which the metric may worsen before a change counts as a regression
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "item_p50_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

#: printed with every untraced run but not compared: ``fail_ratio`` is 0 at
#: a correct commit, and the tail percentile needs ten items beyond it
DETAIL = {"fail_ratio": "ratio", "items": "count", "steal_share": "ratio", "host_factor": "ratio"}

#: name -> (unit, better, end-to-end metric it should move, workload)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", "all"),
    "plans.load_all_s": ("s", "lower", "setup_s", "all"),
    "plans.build_s": ("s", "lower", "wall_s", "roster"),
    "plans.build_self_s": ("s", "lower", "item_p50_s", "roster"),
    "plans.build_py4j_calls": ("count", "lower", "item_p50_s", "roster"),
    "plans.build_exec_count": ("count", "lower", "wall_s", "roster"),
    "plans.build_exec_s": ("s", "lower", "wall_s", "roster"),
    "sources.load_table_calls": ("count", "lower", "wall_s", "roster"),
    "sources.load_table_s": ("s", "lower", "wall_s", "roster"),
    "sources.footer_calls": ("count", "lower", "wall_s", "roster"),
    "sources.footer_s": ("s", "lower", "wall_s", "roster"),
    "operators.scan_calls": ("count", "lower", "wall_s", "roster"),
    "operators.scan_s": ("s", "lower", "wall_s", "roster"),
    "operators.fit_standardizer_s": ("s", "lower", "item_p50_s", "tfm_lifecycle"),
    "pipelines.run_s": ("s", "lower", "item_p50_s", "tfm_lifecycle"),
    "pipelines.artifact_bytes": ("bytes", "lower", "item_p50_s", "tfm_lifecycle"),
    "evaluation.robustness_s": ("s", "lower", "wall_s", "tfm_lifecycle"),
    "evaluation.robustness_jobs": ("count", "lower", "wall_s", "tfm_lifecycle"),
    "streaming.run_s": ("s", "lower", "wall_s", "roster"),
    "streaming.batches": ("count", "lower", "wall_s", "roster"),
    "streaming.add_batch_ms": ("ms", "lower", "wall_s", "roster"),
    "streaming.get_batch_ms": ("ms", "lower", "wall_s", "roster"),
    "streaming.query_planning_ms": ("ms", "lower", "wall_s", "roster"),
    "streaming.wal_commit_ms": ("ms", "lower", "wall_s", "roster"),
    "streaming.input_rows": ("count", "lower", "wall_s", "roster"),
    "streaming.state_rows": ("count", "lower", "wall_s", "roster"),
    "streaming.state_memory_bytes": ("bytes", "lower", "peak_rss_mb", "roster"),
    "streaming.late_rows_dropped": ("count", "lower", "wall_s", "roster"),
    "spark.catalyst.analysis_s": ("s", "lower", "item_p50_s", "roster"),
    "spark.catalyst.optimization_s": ("s", "lower", "item_p50_s", "roster"),
    "spark.catalyst.planning_s": ("s", "lower", "item_p50_s", "roster"),
    "spark.exec.s": ("s", "lower", "wall_s", "roster"),
    "spark.exec.jobs": ("count", "lower", "wall_s", "roster"),
    "spark.exec.stages": ("count", "lower", "wall_s", "roster"),
    "spark.exec.tasks": ("count", "lower", "wall_s", "roster"),
    "spark.exec.shuffle_read_bytes": ("bytes", "lower", "wall_s", "roster"),
    "spark.exec.shuffle_write_bytes": ("bytes", "lower", "wall_s", "roster"),
    "spark.exec.spill_bytes": ("bytes", "lower", "wall_s", "roster"),
    "spark.exec.task_skew": ("ratio", "lower", "wall_s", "roster"),
    "spark.exec.core_utilization": ("ratio", "higher", "wall_s", "roster"),
    "host.canary_s": ("s", "lower", "none", "all"),
    "bench.tracing_overhead_s": ("s", "lower", "none", "all"),
}

#: per-item layer values combined across a pass by maximum, not by sum
_MAX_ACROSS_ITEMS = ("spark.exec.task_skew",)

#: candidate tail percentiles, highest last
TAIL_PERCENTILES = (80, 90, 95, 99)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest candidate percentile with at least ``beyond`` of ``n``
    samples above it, or None when even the 80th has fewer."""
    best = None
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= beyond:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100 * len(ordered)) - 1)]


def _ok(records: list[dict], traced: bool) -> list[dict]:
    """Timed records: checked, not from the warm-up pass."""
    return [r for r in records if r["traced"] == traced and "error" not in r and not r.get("warmup")]


def unstolen(wall_s: float, cpu_s: float, steal_s: float) -> float:
    """Wall time with the hypervisor's share taken out.

    On a shared VM the hypervisor runs other guests on a CPU that has work
    (``steal``); the program's own CPU time does not count it. The stolen
    share of the CPU time the program asked for, steal / (cpu + steal), is
    taken off the wall time. On a host that steals nothing this is the wall
    time."""
    demand = cpu_s + steal_s
    return wall_s * cpu_s / demand if demand > 0 else wall_s


#: median of ``child.host_probe_s`` on the reference host, CPU seconds
PROBE_REF_S = 0.185


def host_factor(result: dict) -> float:
    """How much slower than the reference host the run's CPUs ran: the
    median of the run's host probes over ``PROBE_REF_S``."""
    return statistics.median(result["probe_s"]) / PROBE_REF_S


def item_medians(records: list[dict], key: str = "total_s") -> dict[str, float]:
    """Each item's median time over the timed passes of a run: wall time
    (``total_s``), or wall time with the stolen share taken out
    (``unstolen``)."""
    times: dict[str, list[float]] = defaultdict(list)
    for r in records:
        t = unstolen(r["total_s"], r["cpu_s"], r["steal_s"]) if key == "unstolen" else r[key]
        times[r["item"]].append(t)
    return {item: statistics.median(ts) for item, ts in times.items()}


def end_to_end(result: dict) -> tuple[dict, dict]:
    """(compared metrics, detail metrics) of an untraced run. A pass is
    the sum of the items' medians over the timed passes."""
    timed = _ok(result["records"], traced=False)
    factor = host_factor(result)
    medians = [t / factor for t in item_medians(timed, "unstolen").values()]
    raw = list(item_medians(timed).values())
    attempted = len(result["records"])
    failed = sum(1 for r in result["records"] if "error" in r)
    metrics = {
        "setup_s": unstolen(result["setup_s"], result["setup_cpu_s"], result["setup_steal_s"]) / factor,
        "wall_s": sum(medians) if medians else math.nan,
        "item_p50_s": statistics.median(medians) if medians else math.nan,
        "peak_rss_mb": result["peak_rss_mb"],
    }
    steal = sum(r["steal_s"] for r in timed)
    demand = steal + sum(r["cpu_s"] for r in timed)
    detail = {
        "fail_ratio": failed / attempted,
        "items": len(medians),
        "raw_setup_s": result["setup_s"],
        "raw_wall_s": sum(raw) if raw else math.nan,
        "steal_share": steal / demand if demand else 0.0,
        "host_factor": factor,
    }
    p = tail_percentile(len(medians))
    if p is not None:
        detail[f"item_p{p}_s"] = percentile(medians, p)
    return metrics, detail


def per_layer(result: dict, cores: int) -> dict:
    """Per-layer metrics of a traced run (one pass): the traced items'
    values summed (skew: maximum)."""
    traced = _ok(result["records"], traced=True)
    acc: dict[str, float] = defaultdict(float)
    for r in traced:
        for k, v in r["layers"].items():
            acc[k] = max(acc[k], v) if k in _MAX_ACROSS_ITEMS else acc[k] + v
        acc["pipelines.artifact_bytes"] += r.get("artifact_bytes", 0)
    exec_s = acc["spark.exec.s"]
    acc["spark.exec.core_utilization"] = acc["spark.exec.task_run_s"] / (exec_s * cores) if exec_s else 0.0
    acc["session.start_s"] = result["session_start_s"]
    acc["plans.load_all_s"] = result["load_all_s"]
    acc["host.canary_s"] = result["canary_s"]
    plain = item_medians(_ok(result["records"], traced=False))
    acc["bench.tracing_overhead_s"] = sum(item_medians(traced).values()) - sum(plain.values())
    return {name: acc[name] for name in PER_LAYER}

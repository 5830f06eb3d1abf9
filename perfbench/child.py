"""One workload in a fresh process; started by ``run.py``, never by hand.

Set-up (imports, session start, ``load_all``) is timed from the moment the
driver launched this process. Then the workload's items run in a cyclic
order whose start the seed picks, as whole passes; every output is
checked. Each item records its wall time and, over the same interval, the
CPU time of the run's processes and the VM's stolen time; before each
item, outside the timed region, a fixed probe measures the host's CPU
speed (``host_probe_s``). When there
is more than one pass, the first is the warm-up and is left out of the
timings.
Between items, outside the timed region, Python and JVM garbage are
collected, so the ``localCheckpoint`` blocks that pile up across items are
freed the same way on both sides of a comparison.

With ``--trace 1``, after the warm-up pass, every item runs twice back to
back, once untraced and once traced, the first of the two alternating from
item to item, so the difference between the two totals is the tracing
overhead.

Writes one JSON result to ``--out``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import workloads  # noqa: E402


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_speed_canary(n: int = 2_000_000) -> float:
    """Seconds to generate and sort a fixed 2M-int LCG sequence on one
    core: the host-speed probe of ``bench.py``, one sample."""
    x = 123456789
    seq = []
    append = seq.append
    t0 = time.perf_counter()
    for _ in range(n):
        x = (1103515245 * x + 12345) % 2147483648
        append(x)
    seq.sort()
    return time.perf_counter() - t0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this process's session
    (this process, the Spark JVM, Python workers), reaped children
    included. Time the hypervisor gave to other guests is not in it."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 (state): session is field 6, utime..cstime 14-17
        if int(fields[3]) == sid:
            total += sum(int(f) for f in fields[11:15])
    return total * _TICK_S


def steal_s() -> float:
    """Seconds, summed over this VM's CPUs, that the hypervisor ran other
    guests while a CPU had work (``steal`` in /proc/stat; 0 on a host
    that is not a VM)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) * _TICK_S


def host_probe_s(spark) -> float:
    """CPU seconds a fixed piece of work outside the program takes: a
    Python integer loop and a JVM sort of a million random longs. Its
    median over a run measures how fast the host's CPUs run at the time.
    The JVM part is timed with the calling thread's CPU clock (PySpark
    pins each Python thread to one JVM thread)."""
    c0 = time.process_time()
    x = 123456789
    for _ in range(100_000):
        x = (1103515245 * x + 12345) % 2147483648
    python_s = time.process_time() - c0
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    longs = jvm.java.util.Random(7).longs(1_000_000).toArray()
    t0 = bean.getCurrentThreadCpuTime()
    jvm.java.util.Arrays.sort(longs)
    return python_s + (bean.getCurrentThreadCpuTime() - t0) / 1e9


def collect_garbage(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_item(ctx, item, expected: dict, tracer=None) -> dict:
    """Build and run one item; time both phases and check the output."""
    rec = {"item": item.name, "traced": tracer is not None, "probe_s": host_probe_s(ctx.spark)}
    if tracer is not None:
        tracer.begin_item(item.name)
    try:
        c0, s0 = session_cpu_s(), steal_s()
        t0 = time.perf_counter()
        if tracer is None:
            built = item.build(ctx)
            t1 = time.perf_counter()
            out = item.run(ctx, built)
        else:
            with tracer.phase("build"):
                built = item.build(ctx)
            t1 = time.perf_counter()
            with tracer.phase("exec"):
                out = item.run(ctx, built)
        t2 = time.perf_counter()
        c2, s2 = session_cpu_s(), steal_s()
    except Exception as exc:  # noqa: BLE001 — a failed item is counted, not fatal
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        return rec
    rec.update(build_s=t1 - t0, action_s=t2 - t1, total_s=t2 - t0, cpu_s=c2 - c0, steal_s=s2 - s0)
    if tracer is not None:
        rec["layers"], rec["spans"] = tracer.end_item(built if item.runs_built_frame else None)
    if item.name not in expected:
        rec["error"] = "no expected output recorded"
    else:
        err = item.verify(out, expected[item.name])
        if err:
            rec["error"] = err
    artifacts = os.path.join(ctx.out_dir, item.name)
    if os.path.isdir(artifacts):
        rec["artifact_bytes"] = _tree_bytes(artifacts)
    return rec


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--passes", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True, help="driver's time.monotonic() at launch")
    ap.add_argument("--steal0", type=float, required=True, help="steal_s() at launch")
    ap.add_argument("--work", required=True, help="scratch directory for artifacts")
    ap.add_argument("--out", required=True, help="result JSON path")
    args = ap.parse_args()

    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    t = time.perf_counter()
    from cicevse2024_tfm_datapipeline_spark.plans import load_all
    from cicevse2024_tfm_datapipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t
    t = time.perf_counter()
    queries = load_all()
    load_all_s = time.perf_counter() - t

    setup_s = time.monotonic() - args.t0
    setup_cpu_s, setup_steal_s = session_cpu_s(), steal_s() - args.steal0
    probes = [host_probe_s(spark)]
    ctx = workloads.Context(spark, queries, workloads.SF_DIR, args.work, args.seed)
    items = workloads.workload(args.workload)
    records = []

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()

    # the seed rotates the items' cyclic order: which item follows which
    # stays the same (a full shuffle moved a pass by 10 %), only the start
    # point changes
    start = random.Random(args.seed).randrange(len(items))
    order = items[start:] + items[:start]
    for p in range(args.passes):
        warmup = p == 0 and args.passes > 1
        for i, item in enumerate(order):
            if tracer is None or warmup:
                modes = [None]
            else:
                modes = [None, tracer] if (i + p) % 2 == 0 else [tracer, None]
            for mode in modes:
                rec = run_item(ctx, item, expected, mode)
                rec.update(warmup=warmup)
                records.append(rec)
                collect_garbage(spark)

    result = {
        "session_start_s": session_start_s,
        "load_all_s": load_all_s,
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "setup_steal_s": setup_steal_s,
        "probe_s": probes + [r["probe_s"] for r in records],
        "records": records,
    }
    if tracer is not None:
        tracer.uninstall()
        result["canary_s"] = host_speed_canary()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    result["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

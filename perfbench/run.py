"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload roster --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload roster --seed 1 --seconds 10 --trace 1

Run from the repository root. The workload runs in a fresh child process
(``child.py``) on ``local[2]``; this driver times its start-up, waits for
it, stops whatever it left running, and prints one ``name = value unit``
line per metric, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (see
README.md). Exits non-zero, without a JSON line, when the program or its
inputs are missing or the child fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import child  # noqa: E402
import workloads  # noqa: E402

PACKAGE_DIR = os.path.join(ROOT, "cicevse2024_tfm_datapipeline_spark")
WORK_ROOT = os.path.join(ROOT, ".perfbench_run")
CORES = 2
DRIVER_MEMORY = "2g"
CHILD_TIMEOUT_S = 170.0

#: settings of every JVM the child starts (README.md, "Why these
#: settings"). A fixed young generation, so that peak RSS does not follow
#: G1's adaptive sizing. C1 only: with the default tiered C2 the JIT kept
#: compiling through five passes (CPU per pass fell from 88 to 28 s), so a
#: timed pass measured how far compilation had got; with C1 the second
#: pass is already steady. Few GC and compiler threads, so that with the
#: two task threads the JVM leaves the host's other cores free.
JVM_OPTIONS = "-Xmn256m -XX:TieredStopAtLevel=1 -XX:CICompilerCount=1 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"


def passes_for(workload: str, seconds: float, trace: bool) -> int:
    """A warm-up pass, then as many timed passes as ``seconds`` buys at
    the workload's pass cost, at least one: the work done never depends on
    the clock. Traced runs make a warm-up pass and one pass running every
    item twice."""
    return 2 if trace else 1 + max(1, int(seconds / workloads.PASS_S[workload]))


def missing_inputs() -> str | None:
    """Why the benchmark cannot run here, or None."""
    if not os.path.isdir(PACKAGE_DIR):
        return f"program package not found at {PACKAGE_DIR}"
    for name, size in workloads.INPUT_FILES.items():
        path = os.path.join(workloads.SF_DIR, name)
        if not os.path.isfile(path) or os.path.getsize(path) != size:
            return f"input {path} missing or not the frozen {size}-byte file"
    return None


def child_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_SHUFFLE_PARTITIONS=str(CORES),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
        # python workers import the package too
        PYTHONPATH=ROOT if not path else f"{ROOT}{os.pathsep}{path}",
        # every JVM the child starts (the launcher too) keeps its temp
        # files in the checkout and writes no perf-data file to /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTIONS}",
    )


def stop_group(pgid: int) -> None:
    """Terminate every process left in the child's group and wait until
    none remains (the JVM normally exits on its own with the child)."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        deadline = time.monotonic() + grace
        try:
            os.killpg(pgid, sig)
            while time.monotonic() < deadline:
                os.killpg(pgid, 0)
                time.sleep(0.05)
        except ProcessLookupError:
            return


def run_child(args, work: str) -> dict | None:
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "child.log")
    cmd = [
        sys.executable,
        os.path.join(HERE, "child.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--passes", str(passes_for(args.workload, args.seconds, bool(args.trace))),
        "--trace", str(args.trace),
        "--steal0", repr(child.steal_s()),
        "--work", work,
        "--out", out,
    ]
    with open(log_path, "w") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [*cmd, "--t0", repr(t0)],
            cwd=ROOT,
            env=child_env(work),
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if rc == 0 and os.path.exists(out):
        with open(out) as fh:
            return json.load(fh)
    with open(log_path, errors="replace") as fh:
        tail = fh.read()[-4000:]
    reason = "timed out" if rc is None else f"exited with {rc}"
    print(f"perfbench: workload child {reason}; log tail:\n{tail}", file=sys.stderr)
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated driver still stops the child's process group (finally
    # in run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    reason = missing_inputs()
    if reason:
        print(f"perfbench: {reason}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    result = run_child(args, work)
    if result is None:
        return 1
    if args.trace:
        # the traced result keeps every item's spans
        kept = os.path.join(WORK_ROOT, f"trace-{args.workload}-seed{args.seed}.json")
        os.replace(os.path.join(work, "result.json"), kept)
        print(f"spans: {os.path.relpath(kept, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)

    records = result["records"]
    failed = [r for r in records if "error" in r]
    for r in records:
        if "error" in r:
            print(f"FAILED {r['item']}: {r['error']}")
        else:
            print(f"item {r['item']}{' (traced)' if r['traced'] else ''}: {r['total_s']:.3f} s")
    if args.trace:
        metrics = catalog.per_layer(result, CORES)
        units = {k: v[0] for k, v in catalog.PER_LAYER.items()}
    else:
        metrics, detail = catalog.end_to_end(result)
        units = {k: v[0] for k, v in catalog.END_TO_END.items()}
        for name, value in detail.items():
            print(f"{name} = {value:.6g} {catalog.DETAIL.get(name, 's')}")
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    line = {
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

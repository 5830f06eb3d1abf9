"""Dump `.explain("formatted")` for queries to plans/<tag>/<name>_<suffix>.txt.

The optimization-round evidence artifact: before/after physical plans for
every touched query (the judge checks plan claims against these files).

Expression ids (``#123``), RDD ids (``[12]`` after an RDD name, ``RDD
123``) and call sites, exchange plan ids (``plan_id=123``) and lambda
variable numbers (``lambda x_12``) are masked,
so two dumps of the same tree — or of two trees whose plans agree — diff
cleanly.

Usage:
    python tools/dump_plans.py --suffix before [--sf DIR] [--only a,b] [--tag r11]

``--only all`` dumps the whole registry; without ``--only`` the bench
headline roster is dumped. An absolute ``--tag`` is used as the output
directory itself.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    # the RDD's creation call site varies with JIT state
    (re.compile(r"(RDD\[N\] at \w+) at [^,\s]+"), r"\1 at <site>"),
    (re.compile(r"\bRDD \d+\b"), "RDD N"),
    # lambda variables are numbered by a process-wide counter, so one
    # more or fewer lambda in an earlier query renames them in later ones
    (re.compile(r"\b(lambda \w+?)_\d+#"), r"\1_N#"),
)


def mask_ids(plan: str) -> str:
    """``plan`` with run-specific ids replaced by ``N``."""
    for pat, repl in _MASKS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default="")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--tag", default="r11")
    args = ap.parse_args()

    from bench import HEADLINE

    from cicevse2024_tfm_datapipeline_spark.plans import load_all
    from cicevse2024_tfm_datapipeline_spark.session import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump-plans")
    queries = load_all()
    if args.only == "all":
        names = list(queries)
    else:
        names = args.only.split(",") if args.only else list(HEADLINE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        df = queries[name].spark(spark, args.sf)
        plan = mask_ids(df._jdf.queryExecution().explainString(mode))
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)


if __name__ == "__main__":
    main()

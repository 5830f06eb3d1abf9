"""Record the expected output of every benchmark item in expected.json.

    python3 perfbench/make_expected.py

Run from the repository root, once, when the benchmark's items change.

- Registry queries with a DuckDB oracle: row count and value hash of the
  oracle's result over the same parquet files. The Spark result must hash
  the same, or the query is reported and nothing is written.
- Queries without an oracle (all streams) and the lifecycle items: the
  Spark output, which must digest the same on two runs (the robustness
  sweep with two different seeds, since its baseline is seed-free).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import workloads  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def oracle_digest(sql: str, sf_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return workloads.frame_digest(con.execute(sql).df())


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", "4")
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["PYTHONPATH"] = ROOT
    from cicevse2024_tfm_datapipeline_spark.plans import load_all
    from cicevse2024_tfm_datapipeline_spark.session import get_spark

    spark = get_spark("perfbench-expected")
    queries = load_all()
    out_dir = os.path.join(ROOT, ".perfbench_run", "expected")
    items = {}
    for name in workloads.WORKLOADS:
        for item in workloads.workload(name):
            items[item.name] = item

    expected, problems = {}, []
    for name, item in items.items():
        digests = []
        for seed in (1, 2):
            ctx = workloads.Context(spark, queries, workloads.SF_DIR, out_dir, seed)
            digests.append(item.digest(item.run(ctx, item.build(ctx))))
        if digests[0] != digests[1]:
            problems.append(f"{name}: differs between runs: {digests}")
            continue
        q = queries.get(name)
        if q is not None and q.oracle is not None:
            want = oracle_digest(q.oracle, workloads.SF_DIR)
            if want != digests[0]:
                problems.append(f"{name}: Spark {digests[0]} != oracle {want}")
                continue
        expected[name] = digests[0]
        print(f"{name}: {digests[0]}", flush=True)
    spark.stop()
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

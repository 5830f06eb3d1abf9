"""Derive the driver's certification window, the ``_PRIORITY`` literal in
``plans/__init__.py``.

The driver certifies the first 50 entries of ``queries()``. Each
window is, in order:
  1. NEVER-DRIVEN oracled queries (registration order): empty once every
     registered query holds a driver row, non-empty only after new
     queries are registered.
  2. CHANGED-PLAN RE-DRIVES: every query whose plan function or helper
     changed since its last official driver row, whether or not its
     semantics are argued unchanged (a fresh row is cheaper than the
     argument), in the declared priority order.
  3. OLDEST-ROWS-FIRST ROTATION: the remaining slots go to oracled
     queries ordered by the round of their most recent driver row
     (ascending), registration order within a round, so certification
     evidence ages uniformly.
  4. ANCHORS (always last, always present): the keystone W1 chain,
     MinHash-LSH pairs, one streaming query and TPC-H Q1, the
     cross-round regression tripwire.

Rows-only queries never hold window slots; their evidence is the
ROWSONLY_rNN.json determinism artifacts (``tools/selfcheck.py
--rows-only-hashes``). ``tests/test_coverage_doc.py`` recomputes the
window from the committed CORRECTNESS artifacts and the last declared
changed-plan list, and asserts it equals ``_PRIORITY``.

The CLI reads the committed CORRECTNESS_r01..rNN artifacts (an explicit
range), the registry's raw registration order and oracle map, and an
optional comma-separated list of changed-plan names, then prints the
50-name window as a ready-to-paste ``_PRIORITY`` literal.

Usage:
    python tools/next_window.py --rounds 11 [--changed name1,name2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: The four fixed anchors (rule item 4).
_ANCHORS = (
    "w1_chrono_split_counts",
    "dedup_minhash_lsh_pairs",
    "stream_session_window",
    "tpch_q1_pricing_summary",
)


def rotation_window(
    registration_order,
    oracled,
    latest_round,
    changed,
    anchors=_ANCHORS,
    size=50,
):
    """Materialize the window rule above into a window list.

    ``registration_order``: registry names in raw registration order;
    ``oracled``: names carrying a DuckDB oracle; ``latest_round``:
    name -> round number of the most recent official driver row (absent =
    never driven); ``changed``: changed-plan names in re-drive priority
    order. Anchors always occupy the final slots.
    """
    eligible = [n for n in registration_order if n in oracled]
    never = [n for n in eligible if n not in latest_round and n not in anchors]
    # dedupe, first occurrence wins: a duplicated --changed name must not
    # eat two slots
    redrives = list(
        dict.fromkeys(
            n
            for n in changed
            if n in eligible and n not in never and n not in anchors
        )
    )
    # rule item 2 promises every declared changed-plan name a fresh row,
    # so re-drives that cannot fit on their own raise instead of being
    # silently truncated. NEVER-DRIVEN names, by contrast, self-heal: a
    # truncated block-1 name stays never-driven and re-enters the next
    # window, so block 1 truncates instead of raising (raising there would
    # leave a large registration wave unable to produce any window).
    capacity = size - len(anchors)
    if len(redrives) > capacity:
        raise ValueError(
            f"rotation window overflow: {len(redrives)} declared re-drives "
            f"exceed the {capacity} non-anchor slots on their own; split "
            "the changed list across rounds instead of letting the tail "
            "drop silently"
        )
    never = never[: capacity - len(redrives)]
    pool = [
        n
        for n in eligible
        if n not in never and n not in redrives and n not in anchors
    ]
    pool.sort(key=lambda n: latest_round.get(n, 0))  # stable: reg order within
    head = (never + redrives + pool)[:capacity]
    return [*head, *list(anchors)]


def latest_driven(last_round: int) -> dict[str, int]:
    latest: dict[str, int] = {}
    for r in range(1, last_round + 1):
        path = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        if not os.path.exists(path):
            raise SystemExit(f"missing committed artifact: {path}")
        for name in json.load(open(path)):
            latest[name] = r
    return latest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--rounds",
        type=int,
        required=True,
        help="highest committed CORRECTNESS round number (artifacts "
        "r01..rN are read; all must exist)",
    )
    ap.add_argument(
        "--changed",
        default="",
        help="comma-separated changed-plan names in re-drive priority "
        "order",
    )
    args = ap.parse_args()

    from cicevse2024_tfm_datapipeline_spark.plans import load_all
    from cicevse2024_tfm_datapipeline_spark.plans.registry import registry

    load_all()
    reg = registry()
    latest = latest_driven(args.rounds)
    changed = [n for n in args.changed.split(",") if n]
    unknown = [n for n in changed if n not in reg]
    if unknown:
        raise SystemExit(f"--changed names not registered: {unknown}")
    window = rotation_window(
        registration_order=list(reg),
        oracled={n for n, q in reg.items() if q.oracle is not None},
        latest_round=latest,
        changed=changed,
    )
    never = [n for n in window if n not in latest]
    print(f"# window after r{args.rounds:02d}: {len(window)} names "
          f"({len(never)} never-driven, {len(changed)} declared changed)")
    print("_PRIORITY = [")
    for n in window:
        print(f'    "{n}",')
    print("]")


if __name__ == "__main__":
    main()

"""COVERAGE.md integrity: every query name the coverage document cites
must exist in the registry — the judge reads this file as the operator
inventory, so stale names are worse than missing ones."""

from __future__ import annotations

import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

#: families whose underscore tokens in the doc are always query names
#: (implementation pointers use module.function style and don't match)
_QUERY_PREFIXES = (
    "dedup_", "sim_", "sample_", "stream_", "pipeline_", "pack_", "mm_",
    "tpch_",
)


def test_coverage_doc_names_resolve():
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    registry = set(load_all())
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    # trailing-underscore tokens are brace-expansion shorthand like
    # r_degrade_{packet_loss, ...} — not complete names
    cited = {
        n
        for n in re.findall(r"\b[a-z][a-z0-9]*_[a-z0-9_]+\b", text)
        if not n.endswith("_")
    }
    checkable = {
        n
        for n in cited
        if n.startswith(_QUERY_PREFIXES)
        or re.match(r"^[waspfjurm]\d*_", n)
        or n.startswith("text_")
    }
    # tokens that are implementation identifiers, not query names
    code_refs = {
        n for n in checkable
        if f"`{n}`" not in text and n not in text.split("|")[0]
        and n not in registry
        and ("." + n in text or "/" + n in text or n + "(" in text)
    }
    stale = checkable - registry - code_refs
    # only names cited in the "Oracle query" column position matter; a
    # conservative final filter: must appear in a table row
    stale = {n for n in stale if re.search(rf"\|[^|\n]*\b{n}\b", text)}
    assert not stale, f"COVERAGE.md cites unknown queries: {sorted(stale)}"


def test_driver_window_contract():
    """The driver verifies the FIRST 50 entries of queries(): the
    priority prefix must be exactly 50 registered, duplicate-free names,
    every one carrying a DuckDB oracle (a rows-only query in the window
    would burn a certification slot on a weaker check)."""
    from cicevse2024_tfm_datapipeline_spark import plans
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    qs = load_all()
    prio = plans._PRIORITY
    assert len(prio) == 50
    assert len(set(prio)) == 50, "duplicate name in _PRIORITY"
    missing = [n for n in prio if n not in qs]
    assert not missing, f"_PRIORITY names not registered: {missing}"
    window = list(qs)[:50]
    assert window == [n for n in prio if n in qs]
    no_oracle = [n for n in window if qs[n].oracle is None]
    assert not no_oracle, f"window entries without oracle: {no_oracle}"


#: committed official driver artifacts — enumerated EXPLICITLY (not
#: globbed) so an uncommitted or future CORRECTNESS_r0x.json in the tree
#: cannot silently change what these meta-tests pin (r07 ADVICE item).
_ARTIFACT_ROUNDS = (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)

#: the declared changed-plan re-drives (window rule item 2) that produced
#: today's _PRIORITY, in priority order: every query whose plan or
#: plan-building helper changed since its last driver row. The next window
#: declares the names changed since then in their place.
_LAST_CHANGED = [
    "dedup_lsh_components",
    "dedup_fuzzy_survivors",
    "pipeline_fuzzy_corpus",
    "dedup_golden_record",
    "dedup_edit_distance_verify",
    "dedup_mutual_best_match",
    "dedup_containment_pairs",
    "g_pagerank_lsh",
    "g_triangle_count_lsh",
    "g_clustering_coefficient",
    "g_adamic_adar",
    "g_kcore_two_rounds",
    "g_bfs_levels_lsh",
    "dedup_minhash_lsh_pairs",
    "r5_hash_permutation",
    "a_kaplan_meier",
    "dedup_prefix_filter_jaccard",
    "a_vif_multicollinearity",
    "a11_multiclass_auc",
    "a11_ovr_auc_per_class",
    "j_salted_skew_join",
    "a_pinball_loss_quantile_eval",
    "a_quantile_treatment_effect",
    "a_countmin_heavy_hitters",
    "ml_gbm_two_stumps",
    "a_cross_correlation_lags",
    "m8_sample_size_grid",
    "text_dedup_threshold_curve",
    "sim_ivf_topk",
    "dedup_semdedup_cells",
    "sample_mixture_by_source",
    "stream_static_join",
    "sim_srp_lsh_pairs",
    "a13_threshold_at_fpr",
    "a13_roc_curve_points",
    "a13_roc_auc",
    "a13_average_precision",
    "w6_sessionize_ttd",
    "a_weighted_median",
    "pack_concat_chunks",
    "a_mann_whitney_u",
    "a_mutual_information_ranking",
    "f_quantile_normalize",
    "a_psi_drift",
    "ml_pca_power_iteration",
]


def _latest_driven_round() -> dict[str, int]:
    import json

    latest: dict[str, int] = {}
    for r in _ARTIFACT_ROUNDS:
        path = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        assert os.path.exists(path), f"committed artifact missing: {path}"
        for name in json.load(open(path)):
            latest[name] = r
    return latest


#: queries registered AFTER the last committed driver round — the
#: DECLARED ledger re-opening (block 1 of the rotation rule). Names move
#: out of this set (back to the empty default) once the round's
#: CORRECTNESS artifact lands in _ARTIFACT_ROUNDS with their first rows.
_NEW_REGISTRATIONS = frozenset()  # ledger closed: the wave43 pair
# landed their first rows in CORRECTNESS_r11; round 12 registers nothing


def test_ledger_is_closed():
    """Every registered query holds an official driver row, EXCEPT the
    explicitly declared new registrations (which re-open block 1 of the
    rotation rule and must hold the leading window slots until their
    first CORRECTNESS rows land): the never-driven set must equal
    _NEW_REGISTRATIONS exactly — an UNdeclared never-driven name means a
    query was registered without a window plan."""
    from cicevse2024_tfm_datapipeline_spark import plans
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    driven = set(_latest_driven_round())
    never = set(load_all()) - driven
    assert never == set(_NEW_REGISTRATIONS), (
        f"undeclared ledger change — never-driven names: {sorted(never)}"
    )
    # the declared new registrations occupy the LEADING window slots
    # (rule item 1: never-driven first, registration order)
    lead = plans._PRIORITY[: len(_NEW_REGISTRATIONS)]
    assert set(lead) == set(_NEW_REGISTRATIONS), lead


def test_priority_window_matches_rotation_rule():
    """_PRIORITY must equal rotation_window(...) recomputed from the raw
    registration order, the oracle map, the committed CORRECTNESS
    artifacts and _LAST_CHANGED: the window rule in tools/next_window.py
    is executable, not prose."""
    from next_window import rotation_window

    from cicevse2024_tfm_datapipeline_spark import plans
    from cicevse2024_tfm_datapipeline_spark.plans import load_all
    from cicevse2024_tfm_datapipeline_spark.plans.registry import registry

    load_all()
    reg = registry()  # raw registration order (unaffected by _PRIORITY)
    latest = _latest_driven_round()
    expected = rotation_window(
        registration_order=list(reg),
        oracled={n for n, q in reg.items() if q.oracle is not None},
        latest_round=latest,
        changed=_LAST_CHANGED,
    )
    assert plans._PRIORITY == expected
    # every changed-plan name must be spent on a real re-drive: registered
    # and previously driven (a never-driven name belongs to block 1)
    for name in _LAST_CHANGED:
        assert name in reg, name
        assert name in latest, f"_LAST_CHANGED lists never-driven {name}"


def test_rotation_window_dedupes_changed_and_raises_on_overflow():
    """Duplicate --changed names must not eat two window slots, and
    declared re-drives overflowing the non-anchor slots must raise instead
    of silently truncating (rule item 2's promise)."""
    from next_window import rotation_window

    order = [f"q{i:03d}" for i in range(80)]
    oracled = set(order)
    latest = {n: 1 for n in order}
    anchors = ("q070", "q071")
    win = rotation_window(
        order,
        oracled,
        latest,
        changed=["q005", "q005", "q009"],
        anchors=anchors,
        size=10,
    )
    assert win[:3] == ["q005", "q009", "q000"]  # deduped, one slot each
    assert win[-2:] == list(anchors)
    with pytest.raises(ValueError, match="overflow"):
        rotation_window(
            order,
            oracled,
            latest,
            changed=[f"q{i:03d}" for i in range(20)],
            anchors=anchors,
            size=10,
        )


def test_rotation_window_never_driven_overflow_truncates():
    """Never-driven names self-heal across rounds (a truncated block-1
    name re-enters the next window), so a registration wave larger than
    the free slots must TRUNCATE block 1: raising there would make
    rotation_window permanently unable to produce any window, and
    splitting the changed list cannot fix a block-1 overflow. Declared
    re-drives keep their guaranteed slots even when block 1 overflows."""
    from next_window import rotation_window

    order = [f"q{i:03d}" for i in range(30)]
    oracled = set(order)
    anchors = ("q028", "q029")
    # only q000/q001 ever driven -> 26 never-driven for 8 non-anchor slots
    latest = {"q000": 1, "q001": 1}
    win = rotation_window(
        order,
        oracled,
        latest,
        changed=["q000", "q001"],  # both previously driven -> re-drives
        anchors=anchors,
        size=10,
    )
    assert len(win) == 10 and win[-2:] == list(anchors)
    # block 1 truncated to 6 oldest-registered never-driven names ...
    assert win[:6] == ["q002", "q003", "q004", "q005", "q006", "q007"]
    # ... while BOTH declared re-drives kept their promised slots
    assert win[6:8] == ["q000", "q001"]

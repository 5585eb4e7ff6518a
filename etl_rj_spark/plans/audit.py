"""Plan-audit helpers (SURVEY §7 step 9 — the 100 TB posture checks).

``explain_counts`` summarizes the physical plan features that matter
at scale: join strategies, shuffle (Exchange) count, scan count.
Tests pin these for the flagship queries so a regression that silently
turns a broadcast join into a shuffle join, or drops a pushed filter,
fails CI — plan shape is part of the contract, not a side effect.

Three plan walks audit every registered query's OPTIMIZED logical plan
(built, never executed) against an allowlist keyed on query name:

- ``unpartitioned_windows`` — a window with an empty partition spec
  funnels its whole input through ONE task (SCALE.md §3);
- ``cross_joins`` — an all-pairs join is quadratic in its inputs
  (SCALE.md §4/§12);
- ``order_dependent_aggs`` — ``collect_list``/``first``/… whose value
  depends on the row order the partitioning delivered.

The walks parse the plan's text form: the py4j node API is
version-brittle, the text form is stable. ``assert_plan_audits`` runs
all three on one built frame and names the query on failure; the
oracle-parity tests call it on every query they build. Whole-registry
report:

    python -m etl_rj_spark.plans.audit [sf_dir] [--out out.json]

Exit 0 = every finding is allowlisted and every query builds; 1
otherwise.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from pyspark.sql import DataFrame


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def explain_counts(df: DataFrame) -> dict[str, int]:
    """Counts of scale-relevant physical operators in the (pre-AQE)
    executed plan."""
    plan = _plan_string(df)
    return {
        "broadcast_hash_join": plan.count("BroadcastHashJoin"),
        "sort_merge_join": plan.count("SortMergeJoin"),
        "shuffled_hash_join": plan.count("ShuffledHashJoin"),
        "exchange": plan.count("Exchange"),
        "parquet_scans": plan.count("Scan parquet"),
    }


def pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters lists of every scan in the plan (empty lists
    excluded) — a projection that doesn't push its filters reads data
    it then throws away."""
    plan = _plan_string(df)
    return [m for m in re.findall(r"PushedFilters: \[([^\]]+)\]", plan) if m.strip()]


# ---------------------------------------------------------------------
# Unpartitioned windows
# ---------------------------------------------------------------------

#: query name -> documented bounded grain (SCALE.md §3). An
#: unpartitioned window is permitted ONLY over a frame bounded by
#: construction: a period series, a bounded VALUE vocabulary after a
#: value-grain aggregate, or a catalog/config table — never a
#: token/content vocabulary, never row grain. Adding a query here
#: without a SCALE.md §3 justification is a review smell by design;
#: findings on unbounded grains are rewritten, not allowlisted.
WINDOW_ALLOWLIST: dict[str, str] = {
    # -- period series (calendar grain: ≤ a few k rows at any SF)
    "rolling_7day_revenue": "period series (day grain)",
    "cusum_changepoint_revenue": "period series (day grain)",
    "gap_fill_interpolate": "period series (day grain)",
    "max_drawdown_daily_revenue": "period series (day grain)",
    "seasonal_adjusted_outlier_days": "period series (day grain)",
    # -- bounded value vocabulary (cents/scores/durations/lengths —
    #    domain-bounded, NOT content vocabulary)
    "exact_auc_purchase_value": "integer-score vocabulary (contract-pinned)",
    "ks_two_sample_values": "cents-vocabulary CDF (value-grain agg)",
    "km_view_to_purchase_survival": "integer-duration vocabulary",
    "weighted_percentiles_price": "cents vocabulary (value-grain agg)",
    "psi_price_drift": "cents vocabulary (value-grain agg)",
    "interpurchase_gap_stats": "integer-gap vocabulary (value-grain agg)",
    "percentile_rank_chars": "doc-length vocabulary (value-grain agg)",
    "gains_table_activity_purchase":
        "activity-count vocabulary + 10-row decile series",
    "topk_sketch_rollup": "event-type category vocabulary",
    # -- catalog/config tables (dimension-bounded)
    "negative_sample_parts": "parts-catalog CDF (weighted_draws)",
    "skyline_parts": "parts catalog (docstring-bounded)",
    # -- explicit demonstrations (documented non-scale shapes with a
    #    named scale-safe twin)
    "ntile_acctbal_quartiles":
        "documented ntile demo on a dim table (bit-identical scale-safe "
        "twin: ntile_acctbal_quartiles_scaled via windows.ntile_exact)",
}


def unpartitioned_windows(plan: str) -> list[str]:
    """Ordering specs of Window nodes with an EMPTY partitionSpec in an
    optimized logical plan's text.

    The node prints up to three bracket groups —
    ``Window [exprs], [partitionSpec], [orderSpec]`` — and OMITS empty
    trailing groups, so the 2-group form is ambiguous: partition-only
    (fine) vs order-only (the single-partition shape this audit
    hunts). Order specs always carry a sort direction (``ASC``/
    ``DESC``); partition specs never do — that token disambiguates.
    The 1-group form (neither partition nor order: a whole-frame
    aggregate window) is also single-partition and is flagged."""
    out = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if not s.startswith("Window ["):
            continue
        groups, depth, cur = [], 0, ""
        for ch in s[len("Window "):]:
            if ch == "[":
                depth += 1
            if depth:
                cur += ch
            if ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(cur)
                    cur = ""
        if len(groups) >= 3:
            if groups[1].strip("[] ") != "":
                continue  # partitioned
            out.append(groups[2][:160])
        elif len(groups) == 2:
            spec = groups[1]
            if " ASC" in spec or " DESC" in spec:
                out.append(spec[:160])  # order-only → single partition
            # else: partition-only → fine
        else:
            out.append("<whole-frame aggregate window>")
    return out


# ---------------------------------------------------------------------
# Cross joins
# ---------------------------------------------------------------------

#: query name -> the BOUNDED side of its cross join(s). A cross join is
#: permitted ONLY when at least one side is bounded by construction: a
#: broadcast ONE-ROW pack (a scalar stats frame, a collect_list'd ≤k
#: centroid/codebook array, a calendar/threshold grid), a ≤k-row
#: dimension grid, or an explicitly labeled brute-force baseline whose
#: scale path exists under a different name. Candidate generation for
#: dedup/ANN stays bucketed (LSH bands, k-means cells, n-gram
#: postings, prefix filters) — a bucketed join never optimizes to a
#: Cartesian node, so a new ``Join Cross`` is either a bounded pack
#: join (allowlist it WITH its grain) or a scale bug (fix it).
CROSS_JOIN_ALLOWLIST: dict[str, str] = {
    # -- packed ≤k centroid / codebook one-row broadcasts (kmeans.py
    #    _assign / _assign_topn / PQ codebooks: the ≤k table is
    #    collect_list'd into ONE broadcast row; the cross is a pure
    #    map over the corpus scan)
    "ann_kmeans_ivf_topk": "packed ≤k-centroid one-row broadcast (kmeans._assign)",
    "ann_ivf_index_probe": "packed ≤k-centroid one-row broadcast",
    "ann_ivf_index_append_probe": "packed ≤k-centroid one-row broadcast",
    "ann_ivfpq_topk": "packed centroid + per-segment ≤256-entry codebook packs",
    "ann_pq_adc_topk": "per-segment ≤256-entry codebook one-row packs",
    "stream_ivf_maintenance": "packed ≤k-centroid one-row broadcast",
    "kmeans_cells": "packed ≤k-centroid one-row broadcast",
    "cell_balanced_sample": "packed ≤k-centroid one-row broadcast",
    "doc_topic_cells": "packed ≤k-centroid one-row broadcast",
    "hard_negative_mining": "packed ≤k-centroid one-row broadcast",
    "knn_label_vote": "packed ≤k-centroid broadcast + ≤q-query pack",
    "margin_bitext_pairs": "pooled-side broadcast (≤k-pool × ≤k-pool)",
    # -- one-row broadcast scalar/stats packs (grouping-less aggregate
    #    or limit(1) — ≤1 row by construction)
    "embedding_standardize": "one-row broadcast per-dim mean/std pack (similarity.py)",
    "temperature_mix_docs": "one-row broadcast max-ratio pack (curation.py)",
    "distribution_match_resample": "one-row broadcast ratio pack (curation.py)",
    "important_stock_q11": "one-row broadcast grand-total pack (tpch_hard_suite.py)",
    "min_cost_supplier_q2": "one-row broadcast supplier-count pack (_derived_partsupp)",
    "promotion_suppliers_q20": "one-row broadcast supplier-count pack (_derived_partsupp)",
    "minhash_lsh_pairs_scaled":
        "in-query recall contract: 1-row got × 1-row expected "
        "(llm_suite._recall_contract); the pair generation itself is the "
        "banded join",
    "embedding_near_pairs_lsh_scaled":
        "in-query recall contract: 1-row got × 1-row expected; "
        "pair generation is the LSH bucket join",
    "negative_sample_parts": "parts-catalog CDF pack (weighted_draws)",
    # -- bounded CATEGORY grid × marginal (left side is a ≤|categories|
    #    vocabulary, never content/row grain)
    "token_dist_chi2_drift":
        "≤|sources|-category grid × token marginal (quality_suite.py; "
        "the token side stays aggregate-grain, SCALE.md §3)",
    # -- broadcast dimension theta-joins (levenshtein ≤2 band: the
    #    dim/catalog side is broadcast-bounded; a theta-join prints as
    #    Cross + filter)
    "fuzzy_name_best_match": "broadcast name-catalog levenshtein band (fuzzy.py)",
    "fuzzy_rescued_lookup": "broadcast name-catalog levenshtein band",
    # -- explicitly-labeled brute-force baselines (scale path exists
    #    under a different name) and packed ≤q query arrays
    "cosine_topk_bruteforce":
        "documented brute-force ANN baseline (packed ≤20-query broadcast; "
        "scale path: ann_lsh_topk / ann_kmeans_ivf_topk)",
    "cosine_topk_scaled": "packed ≤20-query broadcast × corpus scan",
    "ann_eval_recall_mrr": "packed ≤q-query/truth broadcast",
    "hybrid_search_rrf": "packed ≤q-query broadcast",
}


def cross_joins(plan: str) -> list[str]:
    """Cross-join node lines in an optimized logical plan's text.
    ``Join Cross`` is the logical node; CartesianProduct only appears
    physical-side but is matched defensively."""
    out = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Join Cross") or "CartesianProduct" in s:
            out.append(s[:160])
    return out


# ---------------------------------------------------------------------
# Order-dependent aggregates
# ---------------------------------------------------------------------

#: query name -> why its unsorted collection is deterministic anyway.
#: The justification must hold at the VALUE level (oracles compare
#: values), not just "close enough". Empty by design: every finding so
#: far was rewritten onto ``array_sort`` at the source instead — an
#: allowlist entry documents a risk, a canonical sort deletes it.
ORDER_ALLOWLIST: dict[str, str] = {}

_ORDER_PAT = re.compile(r"\b(collect_list|collect_set|first|last|nth_value)\(")
_SORT_WRAPPERS = {"array_sort", "sort_array"}


def _call_end(s: str, open_idx: int) -> int:
    """Index just past the ')' matching the '(' at ``open_idx``."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    return len(s)


def _enclosing_calls(s: str, pos: int) -> list[str]:
    """Names of calls whose parenthesis span encloses ``pos``."""
    stack: list[tuple[str, int]] = []  # (name, open_idx)
    out: list[str] = []
    name = ""
    i = 0
    while i < pos:
        ch = s[i]
        if ch.isalnum() or ch == "_":
            name += ch
        elif ch == "(":
            stack.append((name, i))
            name = ""
        elif ch == ")":
            if stack:
                stack.pop()
            name = ""
        else:
            name = ""
        i += 1
    for nm, open_idx in stack:
        if _call_end(s, open_idx) > pos:
            out.append(nm)
    return out


def order_dependent_aggs(plan: str) -> list[str]:
    """Flagged ``fn(args)`` snippets in an optimized logical plan's
    text. Spark evaluates these aggregates against whatever row order
    the partitioning delivered, so their raw results can differ
    run-to-run under shuffle/AQE re-planning.

    DETERMINISTIC-BY-CONSTRUCTION (never flagged):

    - a collection nested anywhere inside ``array_sort(...)`` /
      ``sort_array(...)`` — the wrapper makes the order canonical;
    - ``first``/``last`` immediately followed by ``FILTER (WHERE
      (gid...`` — the RewriteDistinctAggregates compiler rewrite
      (exactly one input row matches per group);
    - ``first``/``last``/``nth_value`` evaluated OVER a window whose
      order spec is non-empty — deterministic given the house rule
      that window orderings carry total tie-breakers.

    Everything else must be allowlisted by query name."""
    out = []
    for raw in plan.splitlines():
        line = raw.rstrip()
        for m in _ORDER_PAT.finditer(line):
            fn = m.group(1)
            open_idx = m.end() - 1
            end = _call_end(line, open_idx)
            suffix = line[end:]
            if fn in ("first", "last", "nth_value"):
                # compiler-generated distinct-agg rewrite: exactly one
                # input row per group carries gid — order-free
                if re.match(r"\s*FILTER \(WHERE \(gid", suffix):
                    continue
                # ordered window evaluation
                wm = re.match(r"\s*windowspecdefinition\(", suffix)
                if wm:
                    spec_open = end + len(wm.group(0)) - 1
                    spec = line[spec_open:_call_end(line, spec_open)]
                    if " ASC" in spec or " DESC" in spec:
                        continue
                out.append(f"{fn}: {line[m.start():min(end, m.start() + 160)]}")
                continue
            # collections: fine only inside a canonicalizing sorter
            if _SORT_WRAPPERS & set(_enclosing_calls(line, m.start())):
                continue
            out.append(f"{fn}: {line[m.start():min(end, m.start() + 160)]}")
    return sorted(set(out))


# ---------------------------------------------------------------------
# Running the audits
# ---------------------------------------------------------------------

#: audit name -> (plan walk, allowlist)
AUDITS = {
    "window": (unpartitioned_windows, WINDOW_ALLOWLIST),
    "cross_join": (cross_joins, CROSS_JOIN_ALLOWLIST),
    "order": (order_dependent_aggs, ORDER_ALLOWLIST),
}


def plan_findings(df: DataFrame) -> dict[str, list[str]]:
    """audit name -> flagged plan snippets, allowlists NOT applied.
    The optimized plan is rendered once for all three walks."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return {a: hits for a, (walk, _) in AUDITS.items() if (hits := walk(plan))}


def assert_plan_audits(name: str, df: DataFrame) -> None:
    """Raise AssertionError naming ``name`` if its plan carries an
    unallowlisted unpartitioned window, cross join or order-dependent
    aggregate. Analyzes only — nothing executes."""
    bad = {
        a: hits for a, hits in plan_findings(df).items()
        if name not in AUDITS[a][1]
    }
    if bad:
        raise AssertionError(f"{name}: unallowlisted plan shapes {bad}")


def main() -> int:
    args = sys.argv[1:]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    from etl_rj_spark.analytics import REGISTRY

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("plan-audit")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    t0 = time.time()
    found: dict[str, dict[str, list[str]]] = {a: {} for a in AUDITS}
    errors: dict[str, str] = {}
    for name, q in REGISTRY.items():
        try:
            findings = plan_findings(q.build(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — audit must finish
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        for a, hits in findings.items():
            found[a][name] = hits
    summary: dict = {"queries": len(REGISTRY)}
    violations = []
    for a, (_, allow) in AUDITS.items():
        bad = sorted(set(found[a]) - set(allow))
        violations += [(a, n) for n in bad]
        summary[a] = {
            "found": len(found[a]),
            "allowlisted": len(set(found[a]) & set(allow)),
            "violations": len(bad),
            "allowlist_unused": sorted(set(allow) - set(found[a])),
        }
    summary["violations"] = len(violations)
    summary["build_errors"] = len(errors)
    summary["wall_sec"] = round(time.time() - t0, 1)
    if out_path:
        with open(out_path, "w") as f:
            json.dump({"found": found, "errors": errors}, f, indent=1,
                      sort_keys=True)
    for a, n in violations:
        print(f"VIOLATION {a} {n}: {found[a][n]}")
    for n, e in errors.items():
        print(f"BUILD_ERR {n}: {e}")
    print(json.dumps(summary))
    spark.stop()
    return 1 if violations or errors else 0


if __name__ == "__main__":
    sys.exit(main())

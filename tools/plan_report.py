"""Emit PLANS.md — a compact physical-plan audit of every headline
query at sf0.1: join strategies, exchange (shuffle) count, pushed
filters, and read schemas. The quick answer to "is this the plan
you'd want at 100 TB".
"""

from __future__ import annotations

import inspect
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fabrix_spark.queries import REGISTRY  # noqa: E402
from fabrix_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

# new-in-round-2 queries whose physical shape is worth auditing even
# though they are not bench headliners
NOTABLE = [
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_shipmode_priority",
    "q21_waiting_suppliers",
    "t_entropy",
    "t_top_ngrams",
    "d_common_segments",
    "smp_pack_sequences",
    "smp_rebalance",
    "prof_quantiles",
    "pipeline_pack_corpus",
    "smp_weighted",
    # round 5
    "d_containment",
    "adt_having",
    "adt_distinct",
    # round 6
    "smp_leakage_safe_split",
    "stream_admission_replay",
    "sim_pq_topk",
    "sim_pq_refined",
    "sim_ivfpq_topk",
    "d_minhash_estimate",
    "pipeline_corpus_splits",
    "d_semdedup",
    "gr_pagerank_purchases",
    "lake_zorder_scan",
    "adt_lake_scan",
    "d_fuzzy_name_pairs",
    "pipeline_entity_resolution",
    "tj_resample_hourly",
    "prof_kmv_distinct",
    "prof_constraints",
    "smp_interleave",
    "e_anomaly_zscore",
    # round 10
    "w_global_rank",
    "sim_knn_graph",
    "d_minhash_lsh_salted",
    "e_rfm_segments",
    "a_approx",
    "lake_text_search",
    "t_bm25_search",
    "t_phrase_search",
    "t_feature_hash",
    "smp_negative_pairs",
    "smp_token_budget",
    "prof_skew_report",
    "prof_winsorize",
    "tj_ewma",
    "t_bpe_merges",
    "sim_rp_topk",
]


def audit(plan: str) -> dict:
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan)
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        # \bExchange\b can't match inside BroadcastExchange (no word
        # boundary after 't'), so this counts shuffle exchanges only
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "joins": joins,
        "partial_agg": "partial_" in plan,
        "pushed_filters": len(pushed),
        "scan_widths": [s.count(":") for s in schemas],
        "codegen_stages": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
    }


def main() -> None:
    spark = get_spark("plan_report")
    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by `tools/plan_report.py` at `{SF_DIR}`. Shuffle exchanges",
        "exclude broadcasts; scan widths are columns actually read per scan",
        "(column pruning evidence).",
        "",
        "| query | shuffles | bcast | joins | partial agg | pushed filters | scan widths |",
        "|---|---|---|---|---|---|---|",
    ]
    def row(name, qd):
        # Queries whose executing plan hides its distributed subtree
        # behind a lazy localCheckpoint lineage barrier declare a
        # ``barrier`` keyword (preserved through the registry wrapper
        # by functools.wraps): audit the UN-BARRIERED twin instead —
        # same blocking/join/exchange work, the barrier only pins
        # where the verify projection evaluates — otherwise the row
        # reads "0 shuffles" for a multi-join pipeline. Probing the
        # signature (instead of a name list) means every future
        # barrier-using query gets its audit twin for free.
        try:
            has_barrier = "barrier" in inspect.signature(qd.fn).parameters
        except (TypeError, ValueError):
            has_barrier = False
        # Driver-loop replay queries (per-batch foreachBatch bodies
        # executed in a loop) return only the final table scan — their
        # distributed work is invisible in the returned DataFrame's
        # plan, and the row would read "0 shuffles" for a multi-join
        # pipeline (the r15 verdict's finding). Such queries attach a
        # ``plan_audit_body`` callable (built on the SAME plan
        # constructor the operator runs per batch, lazy + un-barriered)
        # — audit that instead. inspect.unwrap follows the registry
        # wrapper's __wrapped__ to the decorated function.
        body = getattr(inspect.unwrap(qd.fn), "plan_audit_body", None)
        if body is not None:
            df = body(spark, SF_DIR)
            name = f"{name} (driver-loop: per-batch body, un-barriered)"
        elif has_barrier:
            df = qd.fn(spark, SF_DIR, barrier=False)
            name = f"{name} (un-barriered audit twin)"
        else:
            df = qd.fn(spark, SF_DIR)
        a = audit(df._jdf.queryExecution().executedPlan().toString())
        join_s = ", ".join(
            f"{n}×{c}" for n, c in
            sorted({j: a["joins"].count(j) for j in set(a["joins"])}.items())
        ) or "—"
        return (
            f"| {name} | {a['exchanges']} | {a['broadcast_exchanges']} | {join_s} "
            f"| {'yes' if a['partial_agg'] else '—'} | {a['pushed_filters']} "
            f"| {a['scan_widths']} |"
        )

    for name, qd in REGISTRY.items():
        if not qd.headline:
            continue
        lines.append(row(name, qd))

    lines += [
        "",
        "## Round-2 additions (non-headline, scale-notable)",
        "",
        "| query | shuffles | bcast | joins | partial agg | pushed filters | scan widths |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in NOTABLE:
        lines.append(row(name, REGISTRY[name]))

    from fabrix_spark.queries import STAGED  # noqa: E402

    lines += [
        "",
        "## Staged queries (fabrix_spark.queries.STAGED — oracled,",
        "not yet driver-visible)",
        "",
        "| query | shuffles | bcast | joins | partial agg | pushed filters | scan widths |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, qd in STAGED.items():
        lines.append(row(name, qd))
    lines += [
        "",
        "Note: queries built on eagerly-checkpointed iterations",
        "(gr_pagerank_purchases, and any dedup path using localCheckpoint)",
        "show only their FINAL stage here — the per-iteration join+aggregate",
        "plans already materialized during construction; see the operator",
        "docstrings for their per-iteration shuffle ledger.",
        "",
        "Exchange counts are PRE-AQE and therefore overcount two benign",
        "classes: (a) byte-identical exchanges printed once per consuming",
        "branch (e.g. t_bm25_search's doc-keyed aggregate feeds both the",
        "score and the stats branches) — AQE's ReuseExchange collapses",
        "them at runtime; (b) `spread()` round-robins, which only exist",
        "when the input has fewer splits than cores (small-SF parquet) and",
        "are a guarded no-op at real scale. SinglePartition exchanges over",
        "already-aggregated metadata rows (corpus stats, codebooks) move",
        "O(1) rows.",
        "",
        "Driver-loop rows (\"per-batch body\") audit the operator's",
        "per-batch plan constructor fully LAZY (production eagerly",
        "checkpoints the batch-bounded multi-consumer subtrees — the",
        "outgoing set and the rejected-id set), so subtrees print once",
        "per consumer here; the executed per-batch shuffle count is the",
        "checkpointed form's, lower than this column.",
    ]
    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

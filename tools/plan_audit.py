"""Physical-plan audit over EVERY registry entry.

Builds each registry query's DataFrame (bounded driver actions — seed
collects, codebook fits — run; nothing is fully executed) and greps the
executed-plan string for the shapes that do not survive 100x scale:

  CartesianProduct          unkeyed all-pairs join
  BroadcastNestedLoopJoin   unkeyed join; legitimate ONLY when one side
                            is bounded by contract (whitelist below)
  RoundRobinPartitioning    a blind repartition — legitimate only as the
                            spread_for_cpu local-scan widener (whitelist)

Each entry also reports, without gating, `n_exchanges`,
`python_nodes`: how many of Spark's Python operators the plan runs
(grouped, cogrouped and map-in-Arrow/pandas nodes, ArrowEvalPython and
BatchEvalPython) — each one a round trip across the Arrow boundary —
`single_partition`: how many times the plan gathers rows into one
partition (`SinglePartition`, e.g. a global limit or an unkeyed window);
and `redundant_distinct`: how many key-only HashAggregates (a distinct)
feed the key side of a left semi or left anti join, which ignores
duplicate keys anyway.

Emits one JSON object to stdout and exits non-zero if any non-whitelisted
flag fires — the automated form of the per-round plan audit. Run:

    PYTHONPATH=. python tools/plan_audit.py [sf_dir] > PLAN_AUDIT.json
"""

from __future__ import annotations

import json
import re
import sys

FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin")

# Python operators, matched as node names at the head of a plan line
PYTHON_NODE = re.compile(
    r"^[\s:+-]*(?:FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)|(?:Python)?MapIn(?:Pandas|Arrow)"
    r"|ArrowEvalPython|BatchEvalPython)\b",
    re.M,
)

# entries whose nested-loop join is a bounded-by-contract broadcast (a
# one-row total or a contractually small dimension) — each with the
# reason the shape is safe at scale
NLJ_WHITELIST = {
    # 1-row aggregate crossJoins (a scalar rides the plan instead of a
    # driver round-trip) — broadcast of exactly one row
    "agg_heavy_hitters": "1-row corpus-total crossJoin gates the threshold",
    "corpus_datacard": "two 1-row aggregate crossJoins assemble the card",
    "corpus_kl_divergence": "1-row totals crossJoin feeds the smoothing",
    "agg_sig_terms": "1-row foreground/background totals feed the JLH score",
    "search_score_sort": "1-row corpus totals feed the BM25 IDF",
    "search_score_uax29ish": "1-row corpus totals feed the BM25 IDF",
    # bounded-dimension broadcasts by contract
    "similarity_hard_negatives": "bounded anchor set broadcast by contract",
    "similarity_lsh_topk_batch": "bounded query batch broadcast by contract",
    "similarity_recall_eval": "bounded query batch broadcast by contract (eval ground truth + lsh fallback)",
    "similarity_pq_topk_batch": "bounded query batch + codebook literals",
    "similarity_ivfpq_topk_batch": "bounded query batch + codebook literals",
    "curation_mixture_weights": "bounded domain dimension (mixture solve)",
    "curation_temperature_mixture": "bounded stratum dimension (alpha-sampling)",
    "curation_export_pipeline": "inherits the bounded mixture-solve dimension",
    # documented oracle-only exact variant; the scale path is the SRP
    # bucket equi-join (cosine_dup_pairs exact=False), recall-pinned
    "dedup_embedding_cosine": "exact all-pairs variant FOR THE ORACLE by design",
    "agg_association_rules": "1-row basket-total crossJoin feeds the lift denominator",
    "agg_rfm_segments": "1-row corpus-max-date crossJoin anchors recency",
    "events_survival_curve": "1-row censoring-horizon (corpus max ts) crossJoin",
    "quality_fk_audit": "four 1-row audit counts assembled by crossJoin",
    "merge_writer_current": "1-row max(index_time) base crossJoin (r11 change 14: plan-riding writer base)",
    "history_versions": "1-row max(index_time) base crossJoin (same apply_commands plan)",
    "graph_degree_distribution": "1-row stats + alpha crossJoins over the reduced histogram",
}


# nodes that may sit between a distinct and the semi or anti join it feeds
_PASS_THROUGH = {
    "Project", "Filter", "BroadcastExchange", "ShuffleExchange", "Sort",
    "InputAdapter", "WholeStageCodegen", "AQEShuffleRead", "ColumnarToRow",
}


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _name(node) -> str:
    return node.getClass().getSimpleName().removesuffix("Exec").split("$")[0]


def _distinct_below(node) -> bool:
    """Whether `node` is, through pass-through nodes, a key-only
    HashAggregate."""
    while True:
        name = _name(node)
        if name == "HashAggregate":
            return node.aggregateExpressions().isEmpty()
        kids = _children(node)
        if name not in _PASS_THROUGH or len(kids) != 1:
            return False
        node = kids[0]


def redundant_distincts(plan) -> int:
    """Key-only HashAggregates that are the key side of a left semi or
    left anti join, in a physical plan (the input plan of an adaptive
    one)."""
    if _name(plan) == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        kids = _children(node)
        if node.nodeName().endswith("Join") and str(node.joinType()) in ("LeftSemi", "LeftAnti"):
            n += _distinct_below(kids[1])
        stack.extend(kids)
    return n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from cm_well_spark.registry import queries
    from cm_well_spark.session import get_spark

    spark = get_spark("plan_audit")
    report: dict[str, dict] = {}
    bad = 0
    for name, fn in queries().items():
        try:
            df = fn(spark, sf_dir)
            executed = df._jdf.queryExecution().executedPlan()
            plan = executed.toString()
        except Exception as e:  # noqa: BLE001 — audit must not die on one entry
            report[name] = {"error": str(e)[:200]}
            bad += 1
            continue
        hits = [f for f in FLAGS if f in plan]
        entry = {
            "flags": hits,
            "n_exchanges": plan.count("Exchange"),
            "python_nodes": len(PYTHON_NODE.findall(plan)),
            "single_partition": plan.count("SinglePartition"),
            "redundant_distinct": redundant_distincts(executed),
            "whole_stage_codegen": "WholeStageCodegen" in plan,
        }
        if hits:
            if name in NLJ_WHITELIST and hits == ["BroadcastNestedLoopJoin"]:
                entry["whitelisted"] = NLJ_WHITELIST[name]
            else:
                entry["violation"] = True
                bad += 1
        report[name] = entry
    flagged = {n: e for n, e in report.items() if e.get("violation") or e.get("error")}
    out = {
        "sf_dir": sf_dir,
        "n_entries": len(report),
        "n_violations": len(flagged),
        "violations": flagged,
        "whitelisted": {
            n: e["whitelisted"] for n, e in report.items() if "whitelisted" in e
        },
        "entries": report,
    }
    print(json.dumps(out, indent=1))
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()

"""Machine-readable physical-plan audit of the bench headline.

For every headline query this prints one JSON line of plan-shape
facts — parquet scans, exchanges, broadcast exchanges, joins by type,
window nodes (and whether any window/sort runs UNPARTITIONED over a
non-aggregated input, the single-task scale-killer class VERDICT r7
flagged), whole-stage-codegen span count — plus a `suspects` list
naming anything that pattern-matches a known scale hazard.

tests/test_plans.py pins these properties query by query; this tool
is the fleet view: run it per round, diff the JSON, and a silently
degraded plan (a new broadcast of a corpus-scale side, a lost
pushdown, a window collapsing to one partition) shows up as a field
change even before it costs wall-clock.

Usage:  python tools/plan_audit.py [--all] [sf_dir] [query ...]
        python tools/plan_audit.py --check FILE.jsonl

``--check`` compares a recorded audit file against the LIVE catalog
and exits 1 when any catalog entry is missing from (or stale in) the
file — the r14 verdict's #7: a post-close catalog addition escaped
the recorded audit once; tests/test_docs_counts.py now runs this
check against the newest PLANAUDIT_r*.jsonl, so an entry added after
the audit was emitted fails the suite until the audit is re-emitted.
"""

from __future__ import annotations

import io
import contextlib
import json
import re
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))


# Adjudicated-benign unpartitioned-window sites (the r13 verdict's #5
# ask, run like the BNLJ review list): every entry is a deliberate
# window over a BOUNDED already-aggregated frame (rows = a constant or
# a tiny group count, never corpus-scale), where the single task is a
# handful of rows and partitioning would only add an exchange.  A
# query NOT in this dict that plans an unpartitioned window gets the
# `unpartitioned_window_review` suspect — the audit's job is that a
# future real single-task window over row-scale data cannot hide among
# known-benign warnings.
UNPARTITIONED_WINDOW_BENIGN = {
    # bounded aggregated frames (collapse-then-window discipline):
    # the window input is a keyed-aggregate output whose cardinality
    # is a constant / bucket count / vocabulary, never the corpus
    "q_agg_benford": "9-row first-digit frame; total-share attach",
    "q_agg_chi_square": "contingency cells (|rf|x|ls| = 6) total attach",
    "q_agg_equidepth_histogram": "bucket-boundary frame (N_BUCKETS rows)",
    "q_window_pareto_concentration": "10-row decile frame cum-sum",
    "q_text_zipf_fit": "rank-frequency regression over top-N words",
    "q_agg_gini": "cumulative share over aggregated per-key frame",
    "q_events_anomaly": "10-min traffic buckets (minutes, not events)",
    "q_events_cusum": "prefix sums over the same bucket series",
    "q_events_autocorrelation": "lag windows over the bucket series",
    "q_events_bursts": "burst segmentation over the bucket series",
    "q_events_kaplan_meier": "per-lifetime-day frame (horizon days)",
    "q_events_top_paths": "trigram counts <= |event vocab|^3, then rank",
    "q_quality_auc": "Mann-Whitney rank over the distinct-score table",
    "q_text_topk_tokens": "final rank over the pre-capped top-k pool",
    "q_similarity_hybrid_rerank": "top-k window over the fused candidate pool",
    # ranked_ntile / ranked_row_number / _dense_ids internals: the
    # range-partitioned rank's ONLY single-partition step is the
    # cumulative-offset window over <= RANGE_BUCKETS (~64) rows
    "q_events_rfm": "ranked_ntile offset window (<= buckets rows)",
    "q_agg_skew_report": "ranked_ntile offset window (<= buckets rows)",
    "q_harvest_terms": "_dense_ids offset window (<= buckets rows)",
    "q_harvest_rerun_terms": "_dense_ids offset window (<= buckets rows)",
    "q_harvest_term_fields": "_dense_ids offset window (<= buckets rows)",
    "q_sample_negative_pairs": "ranked_row_number offset window",
    "q_sample_systematic": "ranked_row_number offset window",
    # documented trades (the docstring names the 100 TB alternative)
    "q_sample_global_shuffle": "exactness premium; 100TB path drops the rank",
    "q_join_lateral_topn": "decorrelation parity entry; use topk_per_group",
    "q_stream_dedup_within_watermark": "total-count attach on the collected result",
}


def _unpartitioned_windows(plan: str) -> int:
    """Count windowspecdefinition instances with NO partition columns
    (every pre-frame argument is an order spec).  Parses the formatted
    plan's argument lists with a depth-aware scan, since column exprs
    may themselves contain parentheses."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\(", plan):
        i, depth, arg, args = m.end(), 1, "", []
        while i < len(plan) and depth > 0:
            c = plan[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            if depth == 1 and c == ",":
                args.append(arg)
                arg = ""
            else:
                arg += c
            i += 1
        args.append(arg)
        pre_frame = [
            a.strip()
            for a in args
            if "specifiedwindowframe" not in a and a.strip()
        ]
        if not any(
            " ASC" not in a and " DESC" not in a for a in pre_frame
        ):
            n += 1
    return n


def audit_plan(df, name: str | None = None) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0]

    facts = {
        "scans": tree.count("Scan parquet"),
        "exchanges": len(re.findall(r"\bExchange\b", tree)),
        "reused_exchanges": tree.count("ReusedExchange"),
        "broadcast_exchanges": tree.count("BroadcastExchange"),
        "joins": {
            k: tree.count(k)
            for k in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
                "CartesianProduct",
            )
            if tree.count(k)
        },
        "windows": tree.count("Window"),
        # formatted explain marks codegen'd operators with a leading
        # '*' and per-span "codegen id : N" in the detail section
        "wholestage_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "codegen_operators": len(re.findall(r"^\s*[:+]?-? ?\* ", tree, re.M)),
        "take_ordered": "TakeOrderedAndProject" in tree,
        "window_group_limit": "WindowGroupLimit" in tree,
    }
    suspects = []
    if "CartesianProduct" in tree:
        suspects.append("cartesian_product")
    if "BroadcastNestedLoopJoin" in tree:
        # only suspicious when the build side is not a 1-row aggregate;
        # flag for human review rather than asserting
        suspects.append("broadcast_nested_loop_review")
    # unpartitioned window/global sort over a non-aggregated input:
    # 'Exchange SinglePartition' feeding Sort+Window is the exact-ntile
    # hazard class (ranked_ntile exists to avoid it)
    if re.search(r"Exchange SinglePartition[\s\S]{0,400}?Window", plan) and (
        "HashAggregate" not in plan.split("Exchange SinglePartition")[0]
    ):
        suspects.append("single_partition_window_review")
    facts["unpartitioned_windows"] = _unpartitioned_windows(plan)
    if facts["unpartitioned_windows"] and (
        name is None or name not in UNPARTITIONED_WINDOW_BENIGN
    ):
        suspects.append("unpartitioned_window_review")
    facts["suspects"] = suspects
    return facts


def check_coverage(path: str) -> tuple[list[str], list[str]]:
    """(missing, stale): catalog entries absent from the recorded
    audit file, and file entries no longer in the catalog."""
    from setup_harvest_action_spark.catalog import load_catalog

    queries, _ = load_catalog()
    recorded = set()
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                recorded.add(json.loads(line).get("query"))
    missing = sorted(set(queries) - recorded)
    stale = sorted(recorded - set(queries) - {None})
    return missing, stale


def main() -> int:
    argv = sys.argv[1:]
    if "--check" in argv:
        path = argv[argv.index("--check") + 1]
        missing, stale = check_coverage(path)
        if missing:
            print(f"MISSING from {path}: {' '.join(missing)}")
        if stale:
            print(f"STALE in {path}: {' '.join(stale)}")
        if not missing and not stale:
            print(f"ok: {path} covers the live catalog exactly")
        return 1 if (missing or stale) else 0
    audit_all = "--all" in argv
    argv = [a for a in argv if a != "--all"]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.001"
    only = [a for a in argv if "/" not in a]

    import bench
    from setup_harvest_action_spark.catalog import load_catalog
    from setup_harvest_action_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # audit the COST-BASED plan the bench runs, but with AQE off so the
    # printed plan is the static one (AQE rewrites print as adaptive
    # placeholders); broadcast decisions still reflect size estimates.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    queries, _ = load_catalog()
    if audit_all:
        names = list(queries)  # full-catalog sweep (--all)
    else:
        names = only or [n for n in bench.HEADLINE if n in queries]
    # see through materialize boundaries (r17): a lineage cut hides
    # its inner stage from the outer explain — the observer records
    # each cut stage's plan facts so materialize-using queries audit
    # their per-round/per-iteration work, not just the final scans
    from setup_harvest_action_spark.io import materialize as _mat

    for name in names:
        inner: list[dict] = []
        _mat.set_observer(
            lambda tag, df: inner.append(
                {"tag": tag, **audit_plan(df)}
            )
        )
        try:
            facts = audit_plan(queries[name](spark, sf_dir), name=name)
        except Exception as exc:  # keep auditing
            facts = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        finally:
            _mat.set_observer(None)
        if inner:
            facts["materialized_stages"] = len(inner)
            facts["materialized_plans"] = inner
        print(json.dumps({"query": name, **facts}, sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

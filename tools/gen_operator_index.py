"""Regenerate docs/OPERATORS.md from the query registry.

One row per registered query: name, SURVEY.md reference, tags, oracle
kind, and the defining module — the line-by-line coverage index,
derived from the code so it can never drift from it.

Usage: python tools/gen_operator_index.py
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from write_optimized_vector_database_spark.queries import registry

    reg = registry()
    by_module: dict[str, list] = defaultdict(list)
    for name, q in reg.items():
        mod = q.fn.__module__.rsplit(".", 1)[-1]
        by_module[mod].append((name, q))

    lines = [
        "# Operator / query index",
        "",
        f"{len(reg)} registered queries, every one with a DuckDB oracle twin,",
        "hash-compared by the driver (and `tools/driver_sim.py`) at sf0.01.",
        "The first 50 entries are the driver's correctness window.",
        "Regenerate with `python tools/gen_operator_index.py` — this file is",
        "derived from the registry and never edited by hand.",
        "",
        "## Planner contracts",
        "",
        "- **Filtered two-phase pre/post (VERDICT r07 #5):** "
        "`plan_filtered_strategy` sizes the POST branch's over-fetch from "
        "manifest selectivity stats (zero jobs). Because a stale "
        "over-estimate would silently under-fetch and cost recall, the "
        "manifest tracks a `rows_since_analyze` odometer (bumped by "
        "`ingest`, reset by `analyze`/`compact`); once appends exceed "
        "20% of the analyzed row count the planner falls back to **pre** "
        "— the allowed-id semi-join, which has no recall cliff — until "
        "stats are refreshed. Explicit `filter_strategy=\"post\"` still "
        "forces post. Gate: "
        "`tests/test_filtered_two_phase.py::test_stale_stats_planner_falls_back_to_pre`.",
        "- **Correlation guard (VERDICT r08 #1):** marginal selectivity "
        "cannot see a filter that correlates with the index geometry "
        "(measured: POST recall 0.5 at sel=0.5 when tenant ≡ cluster "
        "parity). `build_indexes` persists per-filter-value centroid "
        "histograms (`_collect_correlation_stats`, heavy-hitter bounded); "
        "before choosing POST the planner compares the constrained "
        "value's centroid distribution to the global one and forces "
        "**pre** when the L1 divergence clears max(0.25, 3× the "
        "same-size sampling-noise floor). The same histograms drive the "
        "PRE probe-support prune (probe only lists that can hold "
        "qualifying rows; disarmed by `refresh_indexes` until "
        "`analyze_correlation()` re-arms it). Gates: "
        "`tests/test_correlation_planner.py`.",
        "- **PRE nprobe escalation (r08, hardened r09):** under a "
        "selective PRE filter, nprobe scales by 1/selectivity (clamped "
        "to nlist; nearly free — ADC cost stays ∝ allowed rows). When "
        "the `rows_since_analyze` odometer says the selectivity estimate "
        "is stale, escalation goes straight to nlist instead of trusting "
        "it. Explicit nprobe knobs are authoritative: escalation applies "
        "only when the knob was defaulted or `escalate_nprobe=True`. "
        "Gates: `tests/test_filtered_two_phase.py::"
        "test_pre_nprobe_escalation`, `::test_stale_stats_escalation_"
        "pessimism`; frontier: `emb_pre_escalation_frontier`.",
        "- **Serving-path job budget:** a warm two-phase "
        "`api.run_batch` builds its plan with zero Spark jobs and "
        "`.collect()` runs 11 jobs for an unfiltered or POST batch and "
        "13 for a PRE batch (perfbench serving shape: 10k rows, 8 "
        "queries). Four rules keep it there: the query batch is an "
        "Arrow-built local relation (a list-built one is an RDD whose "
        "every collect or broadcast is a job of Python tasks; a "
        "fallback logs a warning); generation dirs (`current_v*`, "
        "`index_stable_g*`, `index_fold_g*`, `tag_dict_g*`) read with a"
        " schema cached by dir name and the changelog with the schema "
        "`ingest` records in the manifest, so no read infers one; one "
        "visible view per call supplies the rerank vectors AND the "
        "result tags, and the delta branch derives from that view's own"
        " changelog read (exchange reuse treats two reads of one dir as"
        " equal even when their listings differ); a top-k window whose "
        "k is within `spark.sql.optimizer.windowGroupLimitThreshold`, "
        "or whose input is candidate-bounded, gets no Python partial "
        "top-k: Spark plans a JVM `WindowGroupLimit` partial for such "
        "a k, and a bounded input needs none. "
        "Gates: "
        "`tests/test_api.py::test_two_phase_plan_and_collect_job_budget`,"
        " `::test_run_batch_no_duplicate_rows_under_concurrent_ingest`;"
        " `tools/plan_audit.py` soft-flags a `Scan ExistingRDD` under a"
        " `BroadcastExchange`.",
        "",
    ]
    order = list(reg)
    window = set(order[:50])
    for mod in sorted(by_module):
        entries = by_module[mod]
        lines.append(f"## {mod} ({len(entries)})")
        lines.append("")
        lines.append("| query | survey ref | tags | in driver window |")
        lines.append("|---|---|---|---|")
        for name, q in sorted(entries):
            w = "yes" if name in window else ""
            lines.append(
                f"| `{name}` | {q.survey_ref} | {', '.join(q.tags)} | {w} |"
            )
        lines.append("")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "OPERATORS.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(reg)} queries in {len(by_module)} modules")


if __name__ == "__main__":
    main()

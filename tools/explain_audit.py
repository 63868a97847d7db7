"""Physical-plan audit for every registry query.

For each query, captures the executed plan (AQE final where possible)
and checks the scale posture:

  * no CartesianProduct / BroadcastNestedLoopJoin (accidental cross
    joins — the one intentional crossJoin is the broadcast 1-row
    query vector in s_cosine_topk);
  * parquet scans under a filter show PushedFilters;
  * joins against dim tables are BroadcastHashJoin, not SortMerge;
  * WholeStageCodegen is present (the expression path is JVM-side);
  * no unpartitioned WindowExec over a data-grain frame (the r8
    verdict's scale-killer class) — the only allowed global windows
    are the ranking utility's ≤P-row offsets prefix-sum (ordered by
    `_gr_pid`) and the GLOBAL_WINDOW_OK bounded-grain entries;
  * no Python UDF runs twice per row: one call of one UDF on one input
    appears in at most one EvalPython node.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Writes a per-query summary and exits 1 on hard violations.
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from baronbatch_etl_spark.queries import load_all
from baronbatch_etl_spark.session import get_spark

# Queries allowed to contain a broadcast nested-loop/cross shape:
# a deliberately broadcast single-row (or bounded query-set) vector.
CROSS_OK = {
    "s_cosine_topk",
    "s_ivf_topk",
    "s_batch_topk",
    "s_srp_topk",
    "h_top_supplier",
    "s_ivf_recall",  # broadcast held-out query SET scores both rankings
    "s_pq_recall",  # brute-force leg broadcasts the 1-row query vector
    "s_hybrid_rrf",  # semantic leg broadcasts the 1-row query vector
    # |sources|² pair grid: an inequality join over the broadcast
    # per-source sizes — sources are a catalog dimension (thousands at
    # most), the pair grid is the QUERY's own output granularity
    "d_source_overlap",
    # same |sources|² grid, over broadcast K-row KMV sketches
    "a_kmv_overlap",
    # Q22: the avg-acctbal scalar subquery attach sits behind a Filter,
    # so the keyless-HashAggregate child probe can't see it — still a
    # provably 1-row broadcast
    "h_dormant_customers",
    # 1-row norm-augmented query vector broadcast (the s_pq_recall shape)
    "s_mips_topk",
    # T-row (4) query token-vector broadcast scores doc tokens map-side
    "s_maxsim_topk",
    # bounded anchor/query set broadcast scores the corpus map-side
    "s_hard_negatives",
    # 3-row quantile-literal frame non-equi-attached to the ranked
    # converter dimension (rn == ceil(q·n/100) can't be an equi key)
    "w_time_to_convert",
}


def _bnlj_is_scalar_attachment(plan: str) -> bool:
    """True iff EVERY BroadcastNestedLoopJoin in the plan broadcasts a
    keyless (global) aggregate — a provably ≤1-row side. That keyless
    join is the canonical scalar-attachment plan (what a SQL scalar
    subquery also compiles to); a constant-key equi join is no better,
    since Catalyst folds the condition away and plans the same BNLJ.
    Any OTHER nested-loop join remains a hard violation."""
    lines_all = plan.splitlines()
    n_bnlj = 0
    for i, ln in enumerate(lines_all):
        if "BroadcastNestedLoopJoin" not in ln:
            continue
        # a keyless aggregate directly under the join is its STREAM
        # side: provably 1 row, so the join is a scalar attachment no
        # matter what the build side is (whose subtree may not even be
        # visible — toString truncates nested InMemoryRelation plans)
        child = next(
            (
                c
                for c in lines_all[i + 1 : i + 3]
                if re.search(r"[A-Za-z]", c)
            ),
            "",
        )
        if "HashAggregate(keys=[]" not in child:
            n_bnlj += 1
    if not n_bnlj:
        return True
    # IdentityBroadcastMode is BNLJ's broadcast; each such exchange
    # must sit directly on a keyless HashAggregate (1 output row) — or
    # be a ReusedExchange OF ONE (AQE dedups the scalar broadcast when
    # the same 1-row aggregate attaches at several points; the reuse
    # only counts if the plan_id it names was itself verified scalar)
    scalar_ids: set[str] = set()
    reused_ids: list[str] = []
    scalar_exchanges = 0
    for i, ln in enumerate(lines_all):
        if "IdentityBroadcastMode" not in ln:
            continue
        pid = re.search(r"plan_id=(\d+)", ln)
        if "ReusedExchange" in ln:
            if pid:
                reused_ids.append(pid.group(1))
            continue
        child = next(
            (
                c
                for c in lines_all[i + 1 : i + 3]
                if re.search(r"[A-Za-z]", c)
            ),
            "",
        )
        if "HashAggregate(keys=[]" in child:
            scalar_exchanges += 1
            if pid:
                scalar_ids.add(pid.group(1))
    scalar_exchanges += sum(1 for pid in reused_ids if pid in scalar_ids)
    return scalar_exchanges >= n_bnlj
# Global-window queries intentionally single-partition at tiny scale.
SINGLE_PARTITION_OK = {"w2_recent_slice"}

# Queries allowed to keep an UNPARTITIONED WindowExec because its
# input frame is provably bounded — an aggregate/dimension grain that
# cannot grow with the fact data (each entry names the grain). Any
# unpartitioned window NOT ordered by the ranking utility's reserved
# `_gr_pid` column (the ≤P-row per-partition offsets prefix-sum,
# operators/ranking.py) and not listed here is a hard violation: the
# r8 verdict's scale-killer class, one task swallowing the data.
GLOBAL_WINDOW_OK: dict[str, str] = {
    # each leg's window ranks the output of a TakeOrderedAndProject
    # top-50 — ≤50 rows by construction (the query's k, not the data)
    "s_hybrid_rrf": "two <=50-row top-k legs",
    # CUSUM runs on the daily-revenue series: one row per calendar
    # day after the groupBy(day) rollup — thousands of rows for
    # YEARS of data, bounded by the calendar, and the prefix scan is
    # inherently sequential over that series
    "w_cusum_changepoint": "calendar-day aggregate grain",
    # Pareto ranking of per-brand revenue: one row per p_brand value
    # (TPC-H brand vocabulary — a fixed dimension, 25 values)
    "w_percent_of_total": "brand dimension grain",
    # water-filling rank over per-source token budgets: one row per
    # corpus source — the source CATALOG (tens to thousands), not
    # document rows
    "t_mixture_plan": "source catalog grain",
}


def _unpartitioned_windows(plan: str) -> list[str]:
    """Order specs of every WindowExec in `plan` that has NO partition
    spec. WindowExec.toString prints `Window [exprs]` (no part, no
    order), `Window [exprs], [order]` (ASC/DESC markers), `Window
    [exprs], [part]` (no markers), or `Window [exprs], [part],
    [order]` — verified empirically against Spark 4.1."""
    out = []
    for ln in plan.splitlines():
        m = re.search(r"\bWindow(?:InPandas)? (\[.*)$", ln)
        if not m:
            continue
        groups, depth, cur = [], 0, []
        for ch in m.group(1):
            if ch == "[":
                depth += 1
                if depth == 1:
                    cur = []
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        if len(groups) >= 3:
            continue  # [exprs], [part], [order]
        if len(groups) == 2 and not re.search(
            r" (ASC|DESC) NULLS", groups[1]
        ):
            continue  # [exprs], [part]
        order = groups[1] if len(groups) == 2 else "<no order>"
        # the ranking utility's bounded offsets frame — anchored to its
        # exact single-key shape so an order spec that merely CONTAINS
        # the token (e.g. `(doc_id, _gr_pid)` or a `_gr_pid_x` column)
        # cannot evade the data-grain gate (r9 advice)
        if re.fullmatch(
            r"_gr_pid#\d+ (?:ASC|DESC) NULLS (?:FIRST|LAST)",
            order.strip(),
        ):
            continue
        out.append(order.strip()[:120])
    return out


def _python_udf_calls(plan: str) -> list[list[str]]:
    """The Python UDF calls each EvalPython node of ``plan`` evaluates,
    one list per node. A call is its name and argument text with the
    result id cut off (``srp_code_fast(embedding#1)``), so two nodes
    evaluating one UDF on the same attributes give equal calls, and one
    UDF on two inputs gives two."""
    nodes = []
    for m in re.finditer(r"(?:Arrow|Batch)EvalPython \[", plan):
        calls, depth, cur = [], 0, []
        for ch in plan[m.end():]:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                calls.append("".join(cur))
                cur = []
                continue
            cur.append(ch)
        calls.append("".join(cur))
        nodes.append([re.sub(r"#\d+L?$", "", c.strip()) for c in calls])
    return nodes


def repeated_python_udf_calls(plan: str) -> list[str]:
    """Python UDF calls that more than one EvalPython node of ``plan``
    evaluates: each such call crosses every row to Python again."""
    nodes = Counter(call for node in _python_udf_calls(plan) for call in set(node))
    return sorted(call for call, n in nodes.items() if n > 1)


def audit(name: str, plan: str) -> list[str]:
    problems = []
    if "CartesianProduct" in plan and name not in CROSS_OK:
        problems.append("CartesianProduct in plan")
    if (
        "BroadcastNestedLoopJoin" in plan
        and name not in CROSS_OK
        and not _bnlj_is_scalar_attachment(plan)
    ):
        problems.append("BroadcastNestedLoopJoin in plan")
    gw = _unpartitioned_windows(plan)
    if gw and name not in GLOBAL_WINDOW_OK:
        problems.append(
            f"unpartitioned WindowExec over {'; '.join(gw)}"
        )
    twice = repeated_python_udf_calls(plan)
    if twice:
        problems.append(
            f"Python UDF in more than one EvalPython node: {'; '.join(twice)}"
        )
    n_smj = plan.count("SortMergeJoin")
    n_bhj = plan.count("BroadcastHashJoin")
    if (
        n_smj
        and not n_bhj
        and "lineitem" not in plan
        and "orders" not in plan
    ):
        # dim-only joins should broadcast; lineitem- and orders-sided
        # joins are fact⋈fact at the target scale and SMJ is the plan
        # we WANT there (e.g. q_snapshot_diff's co-partitioned
        # full-outer, h_market_share's date-gated orders leg)
        problems.append(f"{n_smj} SortMergeJoin with no broadcast")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    registry = load_all()
    spark = get_spark("plan-audit")

    hard_failures = []
    for name, spec in registry.items():
        if only and name not in only:
            continue
        df = spec.fn(spark, sf_dir)
        # collect() drives THIS DataFrame's QueryExecution, so the
        # audited plan is AQE's final one with runtime join selections
        # and codegen spans (a writer/count would clone the execution)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # audit AQE's FINAL plan only — the trailing "Initial Plan"
        # section would double-count joins/exchanges it re-planned
        plan = plan.split("== Initial Plan ==")[0]
        joins = {
            "BHJ": plan.count("BroadcastHashJoin"),
            "SMJ": plan.count("SortMergeJoin"),
            "SHJ": plan.count("ShuffledHashJoin"),
        }
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        # codegen'd operators print as "*(n) Op" in the simple plan
        wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
        problems = audit(name, plan)
        flag = "!!" if problems else "ok"
        print(
            f"{flag} {name:28s} joins={joins['BHJ']}/{joins['SMJ']}/{joins['SHJ']}"
            f" (bhj/smj/shj) pushed-scans={pushed} codegen={wsc}"
            + ("  " + "; ".join(problems) if problems else "")
        )
        if problems:
            hard_failures.append(name)
    if hard_failures:
        print("\nVIOLATIONS:", ", ".join(hard_failures))
        return 1
    print("\nall plans clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

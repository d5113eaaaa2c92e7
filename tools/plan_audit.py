"""Physical-plan audit over the driver query registry
(`graphiti_spark.registry`: every `q_<name>` query of the per-family
modules in `graphiti_spark/queries/`).

For every queries() entry, capture `explain(formatted)` and flag the
anti-patterns that kill 100x scale-ups:

- CartesianProduct / BroadcastNestedLoopJoin on non-trivial inputs
- row-at-a-time Python UDFs (BatchEvalPython) — the engine's rule is
  Arrow-batched pandas UDFs only (ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas are fine)
- single-partition exchanges (Exchange SinglePartition) that are NOT the
  final merge of a TakeOrderedAndProject/top-k or a one-row scalar agg
- global unpartitioned windows (Window with an empty PARTITION BY) — a
  whole-input single-partition sort, the classic 100x scale-killer; a
  bounded global top-k must be TakeOrderedAndProject instead

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Writes PLANS.md (summary table + per-query flags) and prints the table.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _op(plan: str, name: str) -> int:
    """Count operator instances via the formatted-details header lines
    ('(N) OpName') — the tree section would double-count them."""
    return len(re.findall(rf"^\(\d+\) {name}", plan, re.M))


_BENIGN_NLJ_CHILDREN = (
    # driver-local 3-5-row query/centroid tables
    "Scan ExistingRDD",
    "LocalTableScan",
    # one-row scalar aggregates (corpus totals) crossJoined as constants
    "HashAggregate",
    "SortAggregate",
)


def _nlj_counts(plan: str) -> tuple[int, int]:
    """(bad, benign) BroadcastNestedLoopJoin counts. A NLJ is benign when
    its broadcast build side is a driver-local table, a one-row scalar
    aggregate, or a tiny oracle-scratch query table — the INTENDED
    'score K queries / one corpus constant against the corpus' plans.
    Formatted explain numbers operators post-order, so the build child of
    the BroadcastExchange at number m is the operator numbered m-1."""
    ops = dict(re.findall(r"^\((\d+)\) (\S+(?: \S+)?)", plan, re.M))
    bad = benign = 0
    for num, name in ops.items():
        if not name.startswith("BroadcastNestedLoopJoin"):
            continue
        be = str(int(num) - 1)
        child = ops.get(str(int(num) - 2), "")
        is_benign = ops.get(be, "").startswith("BroadcastExchange") and (
            any(child.startswith(b) for b in _BENIGN_NLJ_CHILDREN)
            or (
                child.startswith("Scan parquet")
                and "/dev/shm/graphiti_spark_oracle" in plan
            )
        )
        benign += is_benign
        bad += not is_benign
    return bad, benign


def _global_windows(plan: str) -> int:
    """Count Window operators whose partition spec is EMPTY — the whole
    input flows through one task. Formatted explain OMITS an empty
    partition list from windowspecdefinition, so the reliable signal is
    the FIRST windowspecdefinition argument already carrying a sort
    direction (`col ASC NULLS FIRST, ...`); a partitioned window's first
    argument is a bare partition column. Block bodies stop at the blank
    line before the next `(N) Op` header."""
    n = 0
    for m in re.finditer(
        r"^\(\d+\) Window(?:Exec)?\n((?:^[^(\n].*\n)*)", plan, re.M
    ):
        block = m.group(1)
        am = re.search(r"windowspecdefinition\(([^,]*),", block)
        if am and re.search(r"\b(?:ASC|DESC)\b", am.group(1)):
            n += 1
    return n


def audit_plan(plan: str) -> dict[str, int]:
    nlj_bad, nlj_benign = _nlj_counts(plan)
    flags = {
        "cartesian": _op(plan, "CartesianProduct"),
        "nested_loop": nlj_bad,
        "nlj_local": nlj_benign,
        "py_row_udf": _op(plan, "BatchEvalPython"),
        "single_part_exchange": len(
            re.findall(r"Exchange SinglePartition", plan)
        ),
        "global_window": _global_windows(plan),
        "broadcast_joins": _op(plan, "BroadcastHashJoin"),
        "sortmerge_joins": _op(plan, "SortMergeJoin"),
    }
    return flags


# Intentional exceptions, asserted here so a regression that adds a NEW
# anti-pattern to these queries still flags (the allowance is one NLJ):
ALLOWED_NLJ = {
    # brute-force ANN is BY DEFINITION query-vectors x corpus (the
    # baseline the IVF path is measured against); the build side is the
    # 8-row vec_id < 8 slice of the embeddings table, pushed-filter
    # pruned at the scan
    "ann_topk": "brute-force baseline: 8-query slice x corpus is the op",
    # the cosine leg of RRF crosses the same 8-row query slice; the bm25
    # leg's query table is already recognized as driver-local
    "search_rrf": "cosine leg crosses the 8-row query slice",
    # radius search is the same brute-force shape as ann_topk: the
    # broadcast build side is the pushed-filter-pruned 8-query slice
    "ann_range": "fixed-score dual of ann_topk: 8-query slice x corpus",
    # recall audit composes ann_topk + ann_ivf_topk, inheriting each
    # leg's one allowed 8-query-slice cross (2 total)
    "ann_ivf_recall": (2, "composes ann_topk + ivf legs: 2x 8-query-slice cross"),
    # the (source x top-200-vocab) dense grid is the op: both cross
    # sides are bounded (vocab = TakeOrdered 200 rows, sources = group
    # cardinality), never corpus-scaled
    "doc_source_drift": "dense (source x 200-term vocab) grid is the op",
}

# Queries allowed exactly ONE unpartitioned window, with the size bound
# that makes it benign:
ALLOWED_GLOBAL_WINDOW = {
    # three-level distributed prefix sum: the only unpartitioned window
    # runs over the SUPERCHUNK totals — corpus/65536^2 rows (~233 rows at
    # 1e12 docs), not the corpus (operators/docs.py pack_blocks)
    "doc_pack": "prefix-sum top level: corpus/65536^2 superchunk rows",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from graphiti_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    details = []
    for name, fn in sorted(e.queries().items()):
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        f = audit_plan(plan)
        # single-partition exchanges under a global top-k merge are fine;
        # subtract one per TakeOrderedAndProject / global limit+sort
        topk = len(re.findall(r"TakeOrderedAndProject|GlobalLimit", plan))
        f["single_part_suspicious"] = max(
            0, f.pop("single_part_exchange") - topk
        )
        allowed_notes = []
        if (
            f["global_window"] == 1
            and name in ALLOWED_GLOBAL_WINDOW
        ):
            f["global_window_allowed"] = 1
            f["global_window"] = 0
            allowed_notes.append(ALLOWED_GLOBAL_WINDOW[name])
        else:
            f["global_window_allowed"] = 0
        bad = (
            f["cartesian"] + f["nested_loop"] + f["py_row_udf"]
            + f["global_window"]
        )
        allow = ALLOWED_NLJ.get(name)
        allow_n, allow_why = (
            allow if isinstance(allow, tuple) else (1, allow)
        ) if allow else (0, None)
        if bad and allow and bad == f["nested_loop"] <= allow_n:
            f["nlj_local"] += f["nested_loop"]
            f["nested_loop"] = 0
            bad = 0
            verdict = f"ok (allowed: {allow_why})"
        elif allowed_notes:
            verdict = "FLAG" if bad else f"ok (allowed: {allowed_notes[0]})"
        else:
            verdict = "FLAG" if bad else "ok"
        rows.append((name, f, verdict))
        if bad:
            details.append((name, plan))
        print(
            f"{name:>22}: {verdict:4}"
            f" cart={f['cartesian']} nlj={f['nested_loop']}"
            f" nlj_local={f['nlj_local']}"
            f" pyrow={f['py_row_udf']} gwin={f['global_window']}"
            f" 1part?={f['single_part_suspicious']}"
            f" bhj={f['broadcast_joins']} smj={f['sortmerge_joins']}"
        )

    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        f"Input: `{sf_dir}`. Generated by `python tools/plan_audit.py`.",
        "",
        "Flags: `cart` CartesianProduct, `nlj` BroadcastNestedLoopJoin,",
        "`nlj-local` nested-loop joins whose build side is a driver-local",
        "3-5-row query/centroid table (the intended 'score K queries",
        "against the corpus' plan — benign), `pyrow` row-at-a-time Python",
        "UDF (BatchEvalPython — the engine's rule is Arrow-batched only),",
        "`gwin` global unpartitioned windows (whole input through one",
        "task; size-bounded allowances listed in ALLOWED_GLOBAL_WINDOW),",
        "`1part?` single-partition exchanges not explained by a global",
        "top-k merge, `bhj`/`smj` join counts.",
        "",
        "| query | verdict | cart | nlj | nlj-local | pyrow | gwin | 1part? | bhj | smj |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, f, verdict in rows:
        lines.append(
            f"| {name} | {verdict} | {f['cartesian']} | {f['nested_loop']} |"
            f" {f['nlj_local']} |"
            f" {f['py_row_udf']} | {f['global_window']} |"
            f" {f['single_part_suspicious']} |"
            f" {f['broadcast_joins']} | {f['sortmerge_joins']} |"
        )
    n_flag = sum(1 for _, _, v in rows if v == "FLAG")
    n_allowed = sum(1 for _, _, v in rows if v.startswith("ok (allowed"))
    lines += [
        "",
        f"**{len(rows)} queries audited, {n_flag} flagged,"
        f" {n_allowed} allowed-by-design (see ALLOWED_NLJ /"
        f" ALLOWED_GLOBAL_WINDOW in the tool).**",
        "",
    ]
    if details:
        lines.append("## Flagged plans")
        for name, plan in details:
            lines += [f"### {name}", "```", plan[:4000], "```", ""]
    if only:
        # subset runs must never clobber the full-surface artifact
        print(f"\n{len(rows)} audited (subset), {n_flag} flagged"
              " — PLANS.md NOT written")
        return 1 if n_flag else 0
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"\n{len(rows)} audited, {n_flag} flagged -> PLANS.md")
    return 1 if n_flag else 0


if __name__ == "__main__":
    raise SystemExit(main())

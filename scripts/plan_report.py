#!/usr/bin/env python3
"""Generate PLANS.md: one row of physical-plan audit per registry
query (shuffle count, broadcast/sort-merge joins, pushdown, top-k,
partial aggregation, codegen, cartesian/BNLJ flags) so plan quality is
reviewable — and diffable across rounds — without re-running explain
by hand.

Usage: python scripts/plan_report.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_spark.plans import audit_plan  # noqa: E402
from airflow_spark.session import default_driver_mem, get_session  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)

    import __spark_entry__ as e

    default_driver_mem()
    spark = get_session(app_name="plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()

    rows = []
    for name in sorted(qs):
        try:
            a = audit_plan(qs[name](spark, sf_dir))
        except Exception as ex:  # pragma: no cover - report, don't die
            rows.append((name, f"ERROR: {str(ex)[:60]}", "", "", "", "", "", ""))
            continue
        rows.append(
            (
                name,
                a["n_shuffles"],
                a["n_broadcast_joins"],
                a["n_sortmerge_joins"],
                "y" if a["has_pushed_filters"] else "",
                "y" if a["top_k"] else "",
                "y" if a["partial_agg"] else "",
                "CARTESIAN" if a["has_cartesian"] else "",
            )
        )

    hdr = "| query | shuffles | bcast joins | SMJ | pushdown | top-k | partial agg | flags |"
    sep = "|---|---|---|---|---|---|---|---|"
    lines = [
        "# Physical-plan audit (auto-generated by scripts/plan_report.py)",
        "",
        f"Scale: `{sf_dir}`. `shuffles` counts Exchange nodes (hash/range/"
        "single); `pushdown` = any filter reached the parquet scan; empty "
        "flags column = no cartesian product and no BroadcastNestedLoopJoin "
        "anywhere in the plan.",
        "",
        hdr,
        sep,
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")

    n_cart = sum(1 for r in rows if r[-1])
    lines += [
        "",
        f"Totals: {len(rows)} queries, {n_cart} with cartesian/BNLJ flags.",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(rows)} queries, {n_cart} flagged")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python3
"""Reproduce the driver's correctness gate locally: run every
``queries()`` entry and compare oracle-backed ones against DuckDB.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
Defaults to /root/testdata/sf0.01 and all queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_spark.oracle import compare  # noqa: E402
from airflow_spark.session import default_driver_mem, get_session  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(args[1:] if args and os.path.isdir(args[0]) else args)

    # data-derived oracles (IVF centroid literals) must train on the
    # same sf we compare at — must be set before the registry imports
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)

    import __spark_entry__ as e
    from airflow_spark.operators.registry import oracle_memo_plans

    default_driver_mem()
    spark = get_session(app_name="check-correctness")
    spark.sparkContext.setLogLevel("ERROR")
    qs, sqls = e.queries(), e.oracle_sql()
    memos = oracle_memo_plans()
    t0 = time.time()
    results, failures = {}, []
    timings: dict[str, float] = {}
    for name in sorted(qs):
        if only and name not in only:
            continue
        q0 = time.time()
        try:
            if name in sqls:
                rec = compare(spark, sf_dir, name, qs[name](spark, sf_dir),
                              sqls[name], memo=memos.get(name))
                results[name] = "ok" if rec["ok"] else "MISMATCH"
                if not rec["ok"]:
                    failures.append((name, rec))
            else:
                results[name] = f"rows-only:{qs[name](spark, sf_dir).count()}"
        except Exception as ex:  # noqa: BLE001
            results[name] = f"ERROR:{type(ex).__name__}"
            failures.append((name, str(ex)[:200]))
        finally:
            timings[name] = round(time.time() - q0, 2)
            spark.catalog.clearCache()  # drop per-op persisted indexes
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    print(json.dumps({
        "sf_dir": sf_dir,
        "elapsed_s": round(time.time() - t0, 1),
        "registry_size": len(qs),
        "n_queries": len(results),
        "n_failures": len(failures),
        "digest": _family_digest(results),
        "never_windowed": _never_windowed(qs),
        "slowest": slowest,
        "results": results,
    }, indent=2))
    for name, detail in failures:
        print(f"FAIL {name}: {detail}", file=sys.stderr)
    return 1 if failures else 0


def _never_windowed(qs: dict) -> dict:
    """Warn on registry entries that have never appeared in any
    round's driver correctness window (DRIVER_WINDOWS.json) — these
    ride builder/judge attestation only, so they are the ones to
    rotate into ``_DRIVER_WINDOW`` in future rounds."""
    ledger_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "DRIVER_WINDOWS.json",
    )
    try:
        with open(ledger_path) as fh:
            ledger = json.load(fh)
    except OSError:
        return {"count": -1, "note": "DRIVER_WINDOWS.json missing"}
    windowed: set[str] = set()
    for key, entries in ledger.items():
        if key.startswith("r"):
            windowed.update(entries)
    missing = sorted(set(qs) - windowed)
    if missing:
        print(
            f"WARN: {len(missing)} registry entries never in a driver "
            f"window yet: {', '.join(missing[:8])}"
            + (" ..." if len(missing) > 8 else ""),
            file=sys.stderr,
        )
    return {"count": len(missing), "entries": missing}


def _family_digest(results: dict[str, str]) -> dict[str, str]:
    """Compact ``{family: "green/total"}`` roll-up (family = first
    token after ``op_``; qNN queries roll up as ``q``). The driver's
    recorded tail samples only ~50 entries, so this digest is the one
    place the per-round record captures the AGGREGATE health of all
    186+ op_* oracles."""
    fam_green: dict[str, int] = {}
    fam_total: dict[str, int] = {}
    for name, status in results.items():
        fam = name.split("_")[1] if name.startswith("op_") else "q"
        fam_total[fam] = fam_total.get(fam, 0) + 1
        ok = status == "ok" or status.startswith("rows-only")
        fam_green[fam] = fam_green.get(fam, 0) + (1 if ok else 0)
    return {f: f"{fam_green[f]}/{fam_total[f]}" for f in sorted(fam_total)}


if __name__ == "__main__":
    sys.exit(main())

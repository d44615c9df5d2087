#!/usr/bin/env python3
"""Ad-hoc per-op profiler for the optimization rounds.

Usage:
    python3 scripts/profile_ops.py SF_DIR [--runs N] [--explain DIR] [--suffix S] op1 op2 ...

Times each named registry/declared query with the bench methodology
(build plan + count(), clearCache between runs) and reports every run
plus the min. With --explain DIR, writes DIR/<op>_<suffix>.txt
containing the explain("formatted") output for the judge's plan-claim
checks (plans/r10/*_before.txt / *_after.txt).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_spark.session import default_driver_mem, get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("ops", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (
        os.cpu_count() or 8
    )
    default_driver_mem()
    spark = get_session(app_name="profile_ops", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    # warmup (JVM/codegen startup), same as bench.py
    qs["q01"](spark, args.sf_dir).collect()

    for name in args.ops:
        fn = qs[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(args.explain, f"{name}_{args.suffix}.txt")
            with open(out, "w") as f:
                f.write(txt)
            spark.catalog.clearCache()
        times = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).count()
            times.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        print(f"{name}: runs={times} min={min(times)}", flush=True)


if __name__ == "__main__":
    main()

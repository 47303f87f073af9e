"""Round-8 optimization harness (guide §1): per-query timing through the
noop sink plus ``.explain("formatted")`` capture, WITHOUT touching the
frozen bench.py.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
        [--plans plans/r08 --tag before --trials 2] query [query ...]

Each named query is resolved from ``__spark_entry__.queries()`` (an
unknown name exits non-zero and lists the valid ones), forced through the
noop sink best-of-``--trials``, and its formatted plan
is written to ``<plans>/<name>_<tag>.txt`` when --plans is given.  Prints
one JSON line {"sf": ..., "queries": {name: best_sec}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from frontier_engine.session import get_spark


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans", default=None, help="directory for explain dumps")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()
    qs = entrymod.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"unknown query {', '.join(unknown)}; valid names: {', '.join(sorted(qs))}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        f"local[{cpus}]",
        app_name="frontier-bench-extra",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not args.no_warmup:
        # same session warm-up as bench.py (JIT, codegen, parquet footers)
        force(qs["dedup_exact"](spark, sf_dir))
        force(qs["hourly_counts"](spark, sf_dir))

    timings = {}
    for name in args.names:
        fn = qs[name]
        df = fn(spark, sf_dir)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        best = None
        for _ in range(args.trials):
            spark.sparkContext.setJobDescription(f"{name} [{args.tag}]")
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        print(f"  {name:28s} {best:8.3f} s", file=sys.stderr)
    print(json.dumps({"sf": sf_dir, "tag": args.tag, "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Crawl-frontier benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload recrawl_resume --seed 1 --seconds 1 --trace 0

Run from the repository root.  Starts one Spark session on
``local[min(4, nproc)]``, builds the workload's seeded inputs (cached under
``.perfbench_cache/``), times operations until ``--seconds`` have passed
(whole operations, at least one), checks every output, and prints:

* a detail line ``{"perfbench": {...}}`` with the workload's named metrics
  (``urls_per_s`` or ``docs_per_s``, ``store_bytes_per_page``,
  ``failed_frac``), the host record (``cpu_busy_frac``, ``cpu_steal_frac``,
  ``nproc``, cores used) and per-op timings;
* as the last line, ``{"correct", "attempted", "failed", "metrics"}``, with
  the end-to-end metrics of BENCHMARK.json for ``--trace 0`` and its
  per-layer metrics for ``--trace 1``.

``--trace 1`` adds job accounting around each operation, then replays each
layer's public function on the first operation's inputs.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_HEAP = "2g"


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer`` list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def engine_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "frontier_engine")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def confine_to_checkout(cache: str) -> dict[str, str]:
    """Point every temporary location Spark, the JVM, DuckDB and Python use
    into the git-ignored cache, so a run writes nothing elsewhere."""
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(cache, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(cores: int, conf: dict[str, str]):
    from frontier_engine.session import get_spark

    spark = get_spark(f"local[{cores}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    args = p.parse_args(argv)

    if not engine_present():
        print("perfbench: frontier_engine/ and __spark_entry__.py not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import inputs
    import sysmon
    from workloads import WORKLOADS, timed

    conf = confine_to_checkout(inputs.CACHE)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    cores = min(4, nproc)
    cpu = sysmon.cpu_sample(0.5)
    wl = WORKLOADS[args.workload](args.size, args.seed, cores)
    gen_s, _ = timed(wl.generate)

    # sampled from session start: input generation (DuckDB for the oracle)
    # runs only on a cache miss and must not move the peak
    rss = sysmon.PeakRss().start()
    start_s, spark = timed(lambda: start_session(cores, conf))
    try:
        warm_s, _ = timed(lambda: wl.prepare(spark))
        load_s = [timed(lambda: wl.load(spark))[0] for _ in range(3)]
        setup_s = start_s + warm_s + statistics.median(load_s)

        # whole ops until --seconds have passed, at least one; a traced run
        # measures the same way, with job accounting around each op
        ops, errors = [], []
        t_measure = time.perf_counter()
        while len(errors) < 2 and (not ops or time.perf_counter() - t_measure < args.seconds):
            try:
                ops.append(wl.op(spark, traced=bool(args.trace)))
            except Exception:
                errors.append(traceback.format_exc(limit=4))

        attempted, failed, problems = len(errors), len(errors), []
        for op in ops:
            try:
                found = wl.check(spark, op)
            except Exception:
                found = ["check raised: " + traceback.format_exc(limit=4)]
            problems += found
            attempted += op.parts
            failed += min(op.parts, len(found))
        layers = wl.layers(spark, ops[0]) if args.trace and ops else {}
    finally:
        wl.cleanup()
        stop_session(spark)
    peak_mb = rss.stop()

    if not ops:
        print("perfbench: every operation raised:\n" + "\n".join(errors), file=sys.stderr)
        return 1
    rate = statistics.median(op.items_per_s for op in ops)
    named = {"docs_per_s" if args.workload == "corpus_dedup" else "urls_per_s": rate}
    if "store_bytes_per_page" in ops[0].detail:
        named["store_bytes_per_page"] = statistics.median(op.detail["store_bytes_per_page"] for op in ops)
    named["failed_frac"] = failed / attempted
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "trace": args.trace,
        "cores": cores, "nproc": nproc, **cpu,
        "metrics": named,
        "setup": {"start_s": start_s, "warm_s": warm_s, "load_s": load_s, "generate_s": gen_s},
        "ops": [{"wall_s": op.wall_s, "items": op.items, **op.detail} for op in ops],
        "problems": problems, "errors": errors,
    }
    if args.trace:
        units = metric_units("per_layer")
        layers["trace.items_per_s"] = rate
        layers["trace.overhead_frac"] = statistics.median(op.trace_s / op.wall_s for op in ops)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        values = {"items_per_s": rate, "setup_s": setup_s, "peak_rss_mb": peak_mb}
        metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units("end_to_end").items()}
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

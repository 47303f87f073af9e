"""Regenerate PLANS.md: physical-plan audit of the headline queries.

For each audited query the tool records the formatted physical plan plus
automated checks:

* pushdown  — a parquet scan carries non-empty PushedFilters when the query
              filters on a base column
* pruning   — ReadSchema contains only the columns the query needs (spot
              check: scan column count < full table width)
* broadcast — BroadcastHashJoin appears when the query declares one
* codegen   — the executed plan has WholeStageCodegen stages (simple-mode
              ``*(n)`` markers)

A ``localCheckpoint`` cuts lineage, so the final plan of a query that
checkpoints a reused stage no longer shows the scan beneath it.  The plan
checks therefore read the final plan together with the plan of every frame
the query checkpointed while it was built.

Usage: python tools/audit_plans.py [sf_dir]   (rewrites PLANS.md)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
from unittest import mock

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from frontier_engine.session import get_spark  # noqa: E402

# query → expectations
AUDIT = {
    "filter_equals": {"pushed": True, "broadcast": False},
    "filter_range": {"pushed": True, "broadcast": False},
    "broadcast_join_rollup": {"pushed": False, "broadcast": True},
    "anti_join_unseen": {"pushed": False, "broadcast": True},
    "pricing_summary": {"pushed": True, "broadcast": False},
    "topk_per_group": {"pushed": False, "broadcast": False, "window_limit": True},
    "ann_cosine_topk": {"pushed": False, "broadcast": True},
    "ann_cosine_lsh": {"pushed": False, "broadcast": True},
    "dedup_embedding": {"pushed": False, "broadcast": False},
    "ngram_jaccard": {"pushed": False, "broadcast": False},
    "repetition_signals": {"pushed": False, "broadcast": False},
    "winnow_fingerprints": {"pushed": False, "broadcast": False},
    "lsh_pairs": {"pushed": False, "broadcast": False},
    "data_url_source": {"pushed": False, "broadcast": False},
    "pipeline_ops": {"pushed": True, "broadcast": False},
    "pii_scrub": {"pushed": False, "broadcast": False},
    "simhash_pairs": {"pushed": False, "broadcast": False},
    "dedup_clusters": {"pushed": False, "broadcast": False},
    "dedup_keep_best": {"pushed": False, "broadcast": False},
    "tfidf_topterms": {"pushed": False, "broadcast": False, "window_limit": True},
    "sample_stratified": {"pushed": False, "broadcast": False},
    "training_pipeline": {"pushed": True, "broadcast": False},
    "contamination": {"pushed": True, "broadcast": True},
    "decontaminate": {"pushed": True, "broadcast": True},
    "dup_ngram_coverage": {"pushed": False, "broadcast": False},
    "unigram_surprisal": {"pushed": False, "broadcast": True},
    "span_dedup": {"pushed": False, "broadcast": False},
    # bm25: |query|-sized df side is broadcast-hinted; global top-k must be
    # TakeOrderedAndProject (per-partition heaps), never a full sort
    "bm25_topk": {"pushed": False, "broadcast": True, "take_ordered": True},
    "pagerank": {"pushed": False, "broadcast": False},
    # map-only key projection + global top-k: the plan must be a
    # TakeOrderedAndProject directly over the scan (no Exchange, no Sort)
    "sample_weighted": {"pushed": False, "broadcast": False, "take_ordered": True},
    "cardinality_sketch": {"pushed": False, "broadcast": False},
    # per-host stats frame (one row per source) is broadcast-hinted back
    # onto the corpus — the doc side must never shuffle for the gate join
    "host_quality_filter": {"pushed": False, "broadcast": True},
    "dedup_incremental": {"pushed": False, "broadcast": False},
    "trap_detection": {"pushed": False, "broadcast": False},
    "corpus_stats": {"pushed": False, "broadcast": False},
    "anchor_rollup": {"pushed": False, "broadcast": False},
    # extraction-UDF dominated (with_extractions mapInPandas over the
    # synthesized HTML) — codegen survives on the scan + rollup sides
    "anchor_rollup_pages": {"pushed": False, "broadcast": False},
    # map-only hashed linear scorer: the whole query must be one codegen
    # projection over the scan — no Exchange anywhere
    "quality_classifier": {"pushed": False, "broadcast": False},
    # pandas-stage dominated (applyInPandas pack + mapInPandas parse); the
    # audit still verifies codegen on the scan side
    "warc_roundtrip": {"pushed": False, "broadcast": False},
    # not a queries() entry (needs an index path + query vectors); injected
    # in main() — the check that matters is the literal cluster_id IN
    # partition filter pruning index files at the listing
    "ann_ivf_materialized": {"pushed": False, "broadcast": True, "partition_filters": True},
}


def _ann_ivf_materialized(spark, sf):
    import tempfile

    from pyspark.sql import functions as F

    from frontier_engine import textops

    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    cents = entrymod.ivf_centroids(spark, sf)
    idx = os.path.join(tempfile.gettempdir(), "audit_ivf_index")
    textops.materialize_ivf(emb, cents, idx)
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    }
    return textops.cosine_topk_ivf_materialized(spark, idx, cents, qvecs, k=10)


def _formatted(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@contextlib.contextmanager
def _checkpoint_plans():
    """Record the formatted plan of every frame passed to localCheckpoint
    inside the block, taken before the real call cuts its lineage.  The
    classic DataFrame is patched: the ``pyspark.sql.DataFrame`` base class
    is not the one the call resolves to."""
    plans = []
    real = ClassicDataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(_formatted(self))
        return real(self, *args, **kwargs)

    with mock.patch.object(ClassicDataFrame, "localCheckpoint", recording):
        yield plans


def audit_one(spark, name, fn, sf, expect):
    with _checkpoint_plans() as ckpt_plans:
        df = fn(spark, sf)
    plans = [_formatted(df)] + ckpt_plans
    plan = "\n".join(plans)
    # codegen stages only exist on the AQE-FINALIZED plan: execute THIS
    # DataFrame's own QueryExecution (a .write would spawn a separate one),
    # then read the final adaptive plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    checks = {}
    if expect.get("pushed"):
        checks["pushdown"] = "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    if expect.get("broadcast"):
        checks["broadcast_join"] = "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    if expect.get("window_limit"):
        checks["window_group_limit"] = "WindowGroupLimit" in plan
    if expect.get("take_ordered"):
        checks["take_ordered"] = "TakeOrderedAndProject" in plan
    if expect.get("partition_filters"):
        after = plan.split("PartitionFilters: [", 1)
        checks["partition_filters"] = len(after) == 2 and "cluster_id" in after[1][:300]
    checks["codegen"] = "WholeStageCodegen" in executed or bool(re.search(r"\*\(\d+\)", executed))
    return plans, checks


# per-run counters in a formatted plan: Catalyst expression ids (``#1234``),
# AQE exchange ids and RDD ids.  PLANS.md prints them as ``N`` so an
# unchanged tree regenerates an unchanged file; the checks read raw plans.
_RUN_COUNTERS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def _stable(plan: str) -> str:
    return _expand_in_name_order(_RUN_COUNTERS.sub(r"\1N", plan))


# Spark's distinct-aggregate rewrite orders the distinct children (the
# attributes just before ``gid`` in every list) and numbers the distinct
# groups (``gid`` 1..k) by hashes of expression ids, so both flip between
# runs.  For a plan with one such Expand, _expand_in_name_order rewrites
# them in name order: the children, each projection, and the gid literals.
_EXPAND = re.compile(r"(\(\d+\) Expand\nInput \[\d+\]: \[[^\n]*\]\nArguments: \[)(\[[^\n]*\])\], \[([^\n]*)\]\n")
_GID = "gid#N"


def _expand_in_name_order(plan: str) -> str:
    found = _EXPAND.findall(plan)
    if len(found) != 1:
        return plan
    _, projs, out = found[0]
    rows = [p.split(", ") for p in projs[1:-1].split("], [")]
    out_items = out.split(", ")
    if _GID not in out_items or any(len(r) != len(out_items) for r in rows):
        return plan
    g = out_items.index(_GID)
    # distinct children: the positions before gid that some projection nulls
    lo = min((i for i in range(g) if any(r[i] == "null" for r in rows)), default=g)
    if lo == g or not all(r[g].isdigit() and "null" not in r[:lo] for r in rows):
        return plan
    order = sorted(range(g - lo), key=lambda k: out_items[lo + k])

    def reorder(items: list) -> list:
        return [items[k] for k in order]

    for r in rows:
        r[lo:g] = reorder(r[lo:g])
    groups = sorted((r for r in rows if r[g] != "0"), key=lambda r: [x for x in r[lo:g] if x != "null"])
    gid_map = {r[g]: str(i) for i, r in enumerate(groups, 1)}
    for r in groups:
        r[g] = gid_map[r[g]]
    rows.sort(key=lambda r: int(r[g]))
    new_args = "[" + "], [".join(", ".join(r) for r in rows) + "]], [" + out + "]\n"
    plan = _EXPAND.sub(lambda m: m.group(1) + new_args, plan)
    run = re.compile(r"(?:(?<=\[)|(?<=\()|(?<=, ))((?:[^,\[\]()\n]+, ){%d})(?=%s)" % (g - lo, _GID))
    plan = run.sub(lambda m: ", ".join(reorder(m.group(1)[:-2].split(", "))) + ", ", plan)
    return re.sub(r"\(gid#N = (\d+)\)", lambda m: f"(gid#N = {gid_map.get(m.group(1), m.group(1))})", plan)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("local[8]", app_name="plan-audit",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(entrymod.queries())
    qs["ann_ivf_materialized"] = _ann_ivf_materialized
    out = [
        "# PLANS.md — physical-plan audit of headline queries "
        f"({os.path.basename(sf.rstrip('/'))})",
        "",
        "Regenerated by `python tools/audit_plans.py` — checks per query:",
        "predicate pushdown reaches the parquet scan, broadcast joins where a",
        "side is small, WindowGroupLimit for window top-k, whole-stage codegen",
        "(simple-mode `*(n)` markers on the executed plan).  A query that",
        "localCheckpoints a reused stage also lists the plan of each",
        "checkpointed frame (`== localCheckpoint input n ==`); the checks read",
        "those plans too, since the checkpoint hides the scan beneath it.",
        "",
    ]
    failures = 0
    for name, expect in AUDIT.items():
        plans, checks = audit_one(spark, name, qs[name], sf, expect)
        bad = [k for k, v in checks.items() if not v]
        failures += len(bad)
        out.append(f"## {name}")
        out.append("")
        out.append(f"checks: `{checks}`" + (f"  **FAILED: {bad}**" if bad else ""))
        out.append("")
        out.append("```")
        # keep each plan readable: drop the exchange/statistics noise tail
        out.append(_stable(plans[0].strip())[:6000])
        for i, p in enumerate(plans[1:], 1):
            out += ["", f"== localCheckpoint input {i} ==", _stable(p.strip())[:6000]]
        out.append("```")
        out.append("")
        print(("✗" if bad else "✓"), name, checks)
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("FAILURES:", failures)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

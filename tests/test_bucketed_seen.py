"""Bucketed seen-store: co-located anti-join without shuffling the store.

The scale claim made concrete: after bucketBy(key).sortBy(key) at write
time, the per-round URL-seen anti-join's STORE side carries no Exchange —
only the quota-bounded candidate side repartitions.  At 10^10 keys that is
the difference between shuffling the crawl history every round and
shuffling one round's candidates.
"""

import pyspark.sql.functions as F

from frontier_engine import seen as seenmod


def test_bucketed_antijoin_rows_and_plan(spark, tmp_path):
    seen_rows = spark.range(50_000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("url_key")
    )
    cand = spark.range(40_000, 45_000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("url_key"),
        F.lit("u").alias("url"),
    )
    seenmod.write_bucketed_seen(
        seen_rows, "seen_bucketed_test", str(tmp_path / "seen_tbl"), n_buckets=8
    )
    try:
        # force the sort-merge path: a broadcast join would hide the
        # bucketing (and at 10^10 keys the store is never broadcastable)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = seenmod.filter_unseen(cand, spark.table("seen_bucketed_test"))
            got = {r["url_key"] for r in out.collect()}
            want = {r["url_key"] for r in cand.join(seen_rows, "url_key", "left_anti").collect()}
            assert got == want == set()  # all candidates are already seen

            # plan: the bucketed scan is recognized (Bucketed: true) and the
            # join has exactly ONE exchange — the candidate side
            plan = out._jdf.queryExecution().executedPlan().toString()
            final_plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
            assert "Bucketed: true" in final_plan
            assert "SelectedBucketsCount" in final_plan
            assert final_plan.count("Exchange hashpartitioning") == 1

            # unseen candidates DO survive
            cand2 = spark.range(49_000, 51_000).select(
                F.concat(F.lit("k"), F.col("id").cast("string")).alias("url_key"),
                F.lit("u").alias("url"),
            )
            out2 = seenmod.filter_unseen(cand2, spark.table("seen_bucketed_test"))
            assert out2.count() == 1_000  # 50_000..50_999 are new
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_bucketed_test")

"""Structured Streaming operators.

The reference is a sequential batch loop with no streaming surface
(SURVEY §2.9) — these are the engine's extensions for continuous operation
of the same pipeline shapes:

* ``stream_pages_extract`` — the fetch+extract stage as a stream: new page
  files appearing under a directory are extracted incrementally (the
  production shape: WARC drops land in object storage, extraction keeps up).
* ``stream_hourly_counts`` — event-time windowed aggregation with a
  watermark (late-data bound) — the streaming twin of q_hourly_counts.
* ``stream_sessionize`` — stateful sessionization via
  ``applyInPandasWithState`` (event-time-gap session close) — the streaming
  twin of q_sessionize.

All are testable offline with ``trigger(availableNow=True)`` + file sources;
tests drive them through a temp checkpoint dir.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from frontier_engine.extract import with_extractions
from frontier_engine.schema import PAGES


def stream_pages_extract(spark: SparkSession, pages_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming fetch+extract: watch a directory of pages parquet, emit
    extraction columns incrementally.  mapInPandas works unchanged on
    streaming DataFrames — the same one-pass UDF serves batch and stream."""
    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(pages_dir)
    return with_extractions(pages)


def stream_hourly_counts(spark: SparkSession, events_dir: str, schema, watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling windows with a watermark: counts per
    (hour window, event_type); late rows beyond the watermark are dropped
    (the late-data contract the batch twin doesn't need)."""
    ev = spark.readStream.schema(schema).parquet(events_dir)
    # watermarks require TIMESTAMP (tz-aware); parquet NTZ timestamps cast up
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour"), "event_type", "n")
    )


_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
_SESSION_STATE = StructType(
    [
        StructField("start_ns", LongType()),
        StructField("last_ns", LongType()),
        StructField("n", LongType()),
    ]
)

SESSION_GAP_NS = 30 * 60 * 1_000_000_000


def _sessionize_fn(key, pdfs, state: GroupState):
    """Stateful session tracker: emits a row per CLOSED session (event-time
    gap > 30 min).  The trailing open session stays in state until a later
    batch closes it — at-least-one-more-batch semantics, standard for
    gap-based sessionization without event-time timeouts."""
    (user_id,) = key
    ts_ns: list[int] = []
    for pdf in pdfs:
        ts_ns.extend(int(t.value) for t in pd.to_datetime(pdf["ts"]))
    ts_ns.sort()
    if not ts_ns:
        return
    if state.exists:
        start_ns, last_ns, n = state.get
    else:
        start_ns, last_ns, n = ts_ns[0], ts_ns[0], 0
    out_rows = []
    for t in ts_ns:
        if n > 0 and t - last_ns > SESSION_GAP_NS:
            out_rows.append((user_id, pd.Timestamp(start_ns), n))
            start_ns, n = t, 0
        last_ns = t
        n += 1
    state.update((start_ns, last_ns, n))
    if out_rows:
        yield pd.DataFrame(out_rows, columns=["user_id", "session_start", "n_events"])


def stream_sessionize(spark: SparkSession, events_dir: str, schema) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): 30-min-gap
    sessions per user, closed sessions emitted as they complete."""
    ev = spark.readStream.schema(schema).parquet(events_dir)
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_exact(
    spark: SparkSession, docs_dir: str, schema, ts_col: str = "ts", watermark: str = "24 hours"
) -> DataFrame:
    """Streaming exact dedup — the training-pipeline shape: documents arrive
    continuously, only the FIRST occurrence of each content hash is emitted.

    State is bounded by the watermark (``dropDuplicatesWithinWatermark``):
    a key's dedup entry is dropped once event time passes ts + watermark,
    so state size is (arrival rate × watermark), not the full corpus — the
    only viable contract at 100 TB.  Duplicates farther apart than the
    watermark are handled by the BATCH dedup over the accumulated table
    (dedup_exact); stream + periodic batch compaction is the standard
    lambda split for this operator."""
    d = spark.readStream.schema(schema).parquet(docs_dir)
    d = d.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    d = d.withColumn("text_hash", F.md5("text"))
    return d.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["text_hash"])


def stream_span_dedup(
    spark: SparkSession,
    docs_dir: str,
    schema,
    span_tokens: int = 16,
    ts_col: str = "ts",
    watermark: str = "24 hours",
) -> DataFrame:
    """Streaming twin of :func:`textops.span_dedup` (CCNet line dedup as
    fixed token spans): documents arrive continuously, each splits into
    consecutive ``span_tokens``-token spans, and only the FIRST instance of
    each span text is emitted — boilerplate repeated across later pages is
    suppressed at ingest.

    Semantics delta vs the batch op, stated rather than hidden: batch
    keep-first is the corpus-global (doc_id, pos) minimum; the stream keeps
    the ARRIVAL-first instance within the watermark horizon (the only
    information a stream has).  When arrival order follows doc_id — the
    append-only crawl case — and duplicates land inside the watermark, the
    surviving span SET is identical (one instance per distinct span either
    way), which is what the twin test asserts.  Spans recurring farther
    apart than the watermark are re-emitted and reconciled by the batch
    op over the accumulated table — the same stream + periodic-compaction
    split as stream_dedup_exact.

    State is bounded by (arrival rate × watermark × ~4 spans/doc), never
    the corpus: each state entry is one md5 key, the exploded span STRING
    is dropped before the stateful operator."""
    from frontier_engine.textops import span_exprs

    d = spark.readStream.schema(schema).parquet(docs_dir)
    d = d.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    _, spans = span_exprs(F.col("text"), span_tokens)
    ex = d.select("doc_id", ts_col, F.posexplode(spans).alias("pos", "span"))
    ex = ex.select("doc_id", ts_col, "pos", F.md5("span").alias("span_hash"))
    return (
        ex.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["span_hash"])
        .select("doc_id", "pos", "span_hash", ts_col)
    )


def stream_contamination(
    spark: SparkSession,
    docs_dir: str,
    schema,
    eval_docs: DataFrame,
    min_overlap: int = 2,
    ts_col: str = "ts",
    window: str = "1 hour",
    stop_shingles: DataFrame | None = None,
) -> DataFrame:
    """Streaming twin of :func:`textops.contamination_pairs`: TRAIN
    documents arrive continuously and are scored for eval-benchmark
    leakage at ingest — the production shape where the eval suite is fixed
    ahead of a crawl and every incoming page is checked before it enters
    the corpus, instead of one batch sweep at the end.

    The eval side is STATIC (a benchmark suite — MBs by the same contract
    the batch op enforces) and its exploded posting list joins the stream
    broadcast, so this is a stream-static broadcast join: the arriving
    train side never shuffles against eval.  Per-doc shingles are
    ``array_distinct``-ed BEFORE the explode, so the pair count needs no
    streaming ``count(distinct)`` (unsupported): each (train, sh) row is
    already unique by construction.  The aggregation is windowed on event
    time — a doc's shingles share its timestamp, so a (train, eval) pair
    never splits across windows; run with ``output_mode="complete"`` into
    the test harness, or update mode with a watermark in production.

    SEMANTICS DELTA vs the batch op (ADVICE r5) — the batch
    ``max_train_docs_per_shingle`` stop-shingle cap counts train document
    frequency over the whole corpus, which an unbounded stream cannot do
    (it would need a second stateful aggregation over all history).  The
    streaming substitute is ``stop_shingles``: a STATIC (sh) frame —
    precompute it with :func:`textops.hot_train_shingles` over a corpus
    snapshot — subtracted broadcast-anti before pairing.  With a stop set
    computed over the same corpus the stream output matches the batch op
    exactly; with ``None`` (default) hot shingles are NOT capped and
    stream/batch diverge on corpora containing them.

    Output: (window, train_doc_id, eval_doc_id, n_common, eval_total,
    containment_permille) — the same integer containment normalization as
    the batch op (eval_total is static per eval doc, joined broadcast).
    """
    from frontier_engine.textops import LEAK_SHINGLE_N, shingle_rows

    # the STATIC eval side feeds two consumers (the denominator count and
    # the broadcast pair join) and is re-evaluated per micro-batch;
    # checkpoint the MB-scale shingle frame once (the batch op's `e`
    # checkpoint, applied to the stream-static side)
    ev = shingle_rows(
        eval_docs, LEAK_SHINGLE_N, F.col("doc_id").alias("eval_doc_id"), distinct=True
    ).localCheckpoint(eager=True)
    # eval_total counts ALL distinct eval shingles (batch parity: the stop
    # cap removes shingles from the pair count, not the denominator)
    etot = ev.groupBy("eval_doc_id").agg(F.count(F.lit(1)).alias("eval_total"))
    if stop_shingles is not None:
        ev = ev.join(F.broadcast(stop_shingles), "sh", "left_anti")
    sdf = spark.readStream.schema(schema).parquet(docs_dir)
    sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    tr = shingle_rows(
        sdf, LEAK_SHINGLE_N, F.col("doc_id").alias("train_doc_id"), ts_col, distinct=True
    )
    joined = tr.join(F.broadcast(ev), "sh")
    return (
        joined.groupBy(F.window(F.col(ts_col), window), "train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_overlap)
        .join(F.broadcast(etot), "eval_doc_id")
        .select(
            "window", "train_doc_id", "eval_doc_id", "n_common", "eval_total",
            F.expr("(n_common * 1000) div eval_total").alias("containment_permille"),
        )
    )


def stream_cardinality(
    spark: SparkSession,
    events_dir: str,
    schema,
    group_col: str = "event_type",
    value_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    lg_k: int = 12,
) -> DataFrame:
    """Windowed approximate-distinct on a stream — the streaming twin of
    textops.cardinality_sketch: distinct ``value_col`` per (event-time
    window, ``group_col``) via mergeable HLL sketches.  The state store
    holds one 2^lg_k-register sketch per open (window, group) — KB-sized,
    bounded by windows-in-watermark × groups, NEVER by distinct values —
    which is exactly why sketches and not exact count-distinct are the
    streaming-side primitive (exact distinct state grows with cardinality
    and streaming ``countDistinct`` is unsupported in append mode).

    Estimator note: for counts far below 2^lg_k the sketch sits in coupon
    mode and the estimate is exact; above it the batch error bound
    (~1.04/sqrt(2^lg_k)) applies.  Merge order across triggers shifts HIP
    state (see merge_cardinality_sketches), so stream-vs-batch agreement
    is the error bound, not bit equality.
    """
    ev = spark.readStream.schema(schema).parquet(events_dir)
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), group_col)
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)))
            .cast("long")
            .alias("approx_distinct")
        )
        .select(F.col("w.start").alias("window_start"), group_col, "approx_distinct")
    )


def stream_host_quality(
    spark: SparkSession,
    docs_dir: str,
    schema,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed per-host quality rollup on a document stream — the
    streaming twin of textops.host_quality_stats (the RefinedWeb/C4-style
    host gate's stats side), closing the only major op family without an
    ingest-time twin.

    Per (event-time window, source host): doc count, quality_permille sum,
    and the same floor(sum/count) integer mean as batch — exact longs end
    to end, so stream==batch is BIT identity (unlike the HLL twin, whose
    contract is an error bound).  State is one 3-long aggregate per open
    (window, host) — bounded by windows-in-watermark × hosts, never by
    document count, and partial (map-side) aggregation applies per
    micro-batch exactly as it does in batch.  A downstream consumer gates
    docs by broadcast-joining these MB-scale rows back, same as batch
    host_quality_filter; at 100 TB the rollup keeps up at ingest instead
    of rescanning the corpus nightly.
    """
    from frontier_engine.textops import quality_columns

    sdf = spark.readStream.schema(schema).parquet(docs_dir)
    sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        sdf.select(ts_col, "source", *quality_columns())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "source")
        .agg(
            F.count(F.lit(1)).alias("host_docs"),
            F.sum("quality_permille").alias("host_quality_sum"),
            F.floor(F.sum("quality_permille") / F.count(F.lit(1)))
            .cast("long")
            .alias("host_mean_quality"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "source",
            "host_docs",
            "host_quality_sum",
            "host_mean_quality",
        )
    )


def stream_text_signals(spark: SparkSession, docs_dir: str, schema) -> DataFrame:
    """Text-quality + PII signals over a document STREAM.

    The stateless textops operators (quality_score, pii_scrub, lang_id,
    token_counts, sample_stratified, …) are pure row projections, so they
    run UNCHANGED under Structured Streaming — no rewrite, no state, no
    watermark.  This wrapper composes two of them as the proof shape: the
    batch text pipeline's map-only stages are streaming-safe as-is, which
    is the property that lets a 100 TB pipeline score/scrub documents at
    ingest instead of in a second batch pass.
    """
    from frontier_engine.textops import pii_columns, quality_columns

    sdf = spark.readStream.schema(schema).parquet(docs_dir)
    # stream-stream joins need watermarks; map-only signals don't — both
    # expression families go in ONE projection over the same source
    return sdf.select("doc_id", *quality_columns(), *pii_columns())


def run_to_memory(sdf: DataFrame, name: str, checkpoint: str, output_mode: str = "append"):
    """Drive a streaming DF with availableNow into an in-memory table;
    returns after the trigger drains (test/offline harness).  NOTE: the
    memory sink cannot RESUME from a checkpoint — use run_to_parquet for
    incremental multi-trigger scenarios."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_parquet(sdf: DataFrame, out_dir: str, checkpoint: str):
    """availableNow into a parquet sink — supports checkpoint RESUME, so
    repeated invocations process only newly-arrived files (exactly-once)."""
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

"""The benchmark's workloads.

Each workload times calls into the engine's public functions from outside
and never patches the engine.  The interface run.py drives:

  ``generate()``               seeded inputs, cached; before Spark starts
  ``prepare(spark)``           set-up that needs the session; also warms it up
  ``load(spark)``              read the inputs into Spark, force a scan; repeatable
  ``op(spark, traced)``        one timed operation -> Op
  ``check(spark, op)``         output checks -> problems (outside the timed region)
  ``layers(spark, op)``        per-layer replay on the op's real inputs -> metrics
  ``cleanup()``                remove per-run files
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks
import inputs

# the phases of CrawlResult.timings a resumed crawl with a snapshot store
# runs besides commit (reported as storage.commit_s) and bloom_persist
# (storage.aux_write_s); seed_ingest and the ckpt_* / bloom_merge phases
# belong to fresh and storeless crawls, which no workload runs
PHASES = ("pending_check", "extract_ckpt")


@dataclass
class Op:
    wall_s: float
    items: int  # URLs newly seen (crawl) or documents x queries (dedup)
    parts: int = 1  # operations inside, for attempted/failed
    jobs: tuple[int, int] = (0, 0)  # Spark job ids (first, last] started by the op
    trace_s: float = 0.0  # time spent in job accounting
    detail: dict = field(default_factory=dict)
    handles: dict = field(default_factory=dict)  # outputs for check / layers

    @property
    def items_per_s(self) -> float:
        return self.items / self.wall_s


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def job_mark(spark, traced: bool) -> tuple[int, float]:
    """(highest Spark job id so far, seconds the lookup took); (0, 0.0) when
    not tracing.  Ids are global and sequential, so the delta across a call
    counts every job it started, including the crawl's worker-thread
    checkpoint jobs, which carry no job group."""
    if not traced:
        return 0, 0.0
    t0 = time.perf_counter()
    st = spark.sparkContext.statusTracker()
    last = max(list(st.getJobIdsForGroup(None)) + list(st.getActiveJobsIds()), default=-1)
    return last, time.perf_counter() - t0


def failed_tasks(spark, jobs: tuple[int, int]) -> int:
    st = spark.sparkContext.statusTracker()
    failed = 0
    for jid in range(jobs[0] + 1, jobs[1] + 1):
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            failed += stage.numFailedTasks if stage else 0
    return failed


def phase_sums(timings) -> dict[str, float]:
    """Seconds per phase name, summed over rounds, from CrawlResult.timings."""
    out: dict[str, float] = {}
    for _, name, sec in timings or ():
        out[name] = out.get(name, 0.0) + sec
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


class RecrawlResume:
    """``run_crawl(resume_store=...)`` from a snapshot-store template whose
    round 0 holds the seed frontier and a large seen history (which also
    holds every other seed).  One polite round at depth 1, committed."""

    name = "recrawl_resume"

    def __init__(self, size: str, seed: int, cores: int):
        self.size, self.seed, self.cores = size, seed, cores
        self.runs_dir = os.path.join(inputs.CACHE, "runs", f"{self.name}-{os.getpid()}")
        self._n_ops = 0

    def generate(self) -> None:
        self.input_dir = inputs.crawl_inputs(self.size, self.seed)
        self.history_dir = inputs.history(self.size)
        self.seed_urls = inputs.read_seed_urls(self.input_dir)

    def prepare(self, spark) -> None:
        from frontier_engine.frontier import CrawlConfig

        # one round after the template's round 0 (a second round measured
        # ~12 s more per run, more than the run budget allows).  At the
        # default 3 s crawl delay, 60 s rounds let each host fetch 20 URLs
        self.cfg = CrawlConfig(
            max_depth=1, round_seconds=60.0, max_rounds=2, use_bloom=True,
            n_partitions=self.cores, bloom_shards=self.cores,
        )
        # built in every run: its seed ingest and commit are the session's
        # first Python-UDF and parquet-write jobs, so the timed crawl never
        # pays for starting the Python workers or compiling those plans
        self.template = os.path.join(self.runs_dir, "template")
        inputs.store_template(spark, self.input_dir, self.history_dir, self.template)
        with open(os.path.join(self.template, "rounds", "round_00000", "manifest.json")) as fh:
            self.n_history = json.load(fh)["row_counts"]["seen"]
        self.template_bytes = dir_bytes(self.template)

    def load(self, spark) -> None:
        self.corpus = spark.read.parquet(os.path.join(self.input_dir, "corpus.parquet"))
        self.corpus.select("url").count()

    def history_df(self, spark):
        from frontier_engine.storage import SnapshotStore

        return SnapshotStore(spark, self.template).read(0, "seen")

    def op(self, spark, traced: bool) -> Op:
        from frontier_engine.frontier import run_crawl
        from frontier_engine.storage import SnapshotStore

        # every op resumes a fresh copy of the template (copied untimed)
        self._n_ops += 1
        root = os.path.join(self.runs_dir, f"op{self._n_ops}")
        shutil.copytree(self.template, root)
        store = SnapshotStore(spark, root)
        j0, t0 = job_mark(spark, traced)
        wall, res = timed(
            lambda: run_crawl(spark, self.corpus, self.seed_urls, self.cfg, resume_store=store)
        )
        j1, t1 = job_mark(spark, traced)
        n_seen, n_pages = res.seen.count(), res.pages.count()
        written = dir_bytes(root) - self.template_bytes
        return Op(
            wall_s=wall,
            items=n_seen - self.n_history,
            jobs=(j0, j1),
            trace_s=t0 + t1,
            detail={
                "rounds": res.rounds, "seen": n_seen, "pages": n_pages, "bytes_written": written,
                "store_bytes_per_page": written / max(n_pages, 1),
                "phase_s": phase_sums(res.timings),
            },
            handles={"res": res, "store": store},
        )

    def check(self, spark, op: Op) -> list[str]:
        from frontier_engine.politeness import DEFAULT_CRAWL_DELAY

        res = op.handles["res"]
        return (
            checks.check_politeness(res.pages, self.cfg.round_seconds, DEFAULT_CRAWL_DELAY)
            + checks.check_seen(res.seen, res.pages)
            + checks.check_no_refetch(res.pages, self.history_df(spark))
            + checks.check_text(res.pages, sample=64)
        )

    def cleanup(self) -> None:
        shutil.rmtree(self.runs_dir, ignore_errors=True)

    # -- per-layer replay ------------------------------------------------------

    def layers(self, spark, op: Op) -> dict[str, float]:
        res = op.handles["res"]
        rounds = max(res.rounds, 1)
        phase = op.detail["phase_s"]
        out = {
            "frontier.rounds": res.rounds,
            "frontier.jobs_per_round": (op.jobs[1] - op.jobs[0]) / rounds,
            "frontier.s_per_round": op.wall_s / rounds,
            "frontier.failed_tasks": failed_tasks(spark, op.jobs),
            **{f"frontier.phase_s.{p}": phase.get(p, 0.0) for p in PHASES},
            "storage.commit_s": phase.get("commit", 0.0),
            "storage.aux_write_s": phase.get("bloom_persist", 0.0),
            "storage.bytes_written": op.detail["bytes_written"],
            "storage.bytes_per_page": op.detail["store_bytes_per_page"],
            "storage.resume_read_s": self._resume_read(op.handles["store"]),
        }
        out.update(self._first_round(spark))
        out.update(self._seen(spark, res))
        return out

    @staticmethod
    def _resume_read(store) -> float:
        """Time to read every table a resume of the op's store reads: the
        latest frontier and every round's seen, pages and metrics."""
        last = store.latest_round()

        def read_all():
            noop(store.read(last, "frontier"))
            for r in range(last + 1):
                for t in ("seen", "pages", "metrics"):
                    if store.has(r, t):
                        noop(store.read(r, t))

        return timed(read_all)[0]

    def _first_round(self, spark) -> dict[str, float]:
        """Replay the first resumed round stage by stage on the real seed
        list: canonicalize -> seen gate -> politeness -> fetch -> extract."""
        from pyspark.sql import functions as F

        from frontier_engine.extract import with_extractions
        from frontier_engine.fetch import fetch_via_pages_table
        from frontier_engine.frontier import seeds_to_frontier
        from frontier_engine.politeness import join_host_policy, rank_and_quota, salted_repartition

        t_canon, frontier = timed(
            lambda: seeds_to_frontier(spark, self.seed_urls).localCheckpoint(eager=True)
        )
        unseen = frontier.join(self.history_df(spark).select("url_key"), "url_key", "left_anti")
        cand = join_host_policy(unseen, None).localCheckpoint(eager=True)
        t_rank, batch = timed(
            lambda: rank_and_quota(cand, self.cfg.round_seconds).localCheckpoint(eager=True)
        )
        salted = salted_repartition(batch, self.cfg.n_partitions, self.cfg.salt_buckets)
        per_part = dict(salted.groupBy(F.spark_partition_id()).count().collect())
        sizes = [per_part.get(p, 0) for p in range(self.cfg.n_partitions)]
        salted = salted.localCheckpoint(eager=True)
        t_fetch, fetched = timed(
            lambda: fetch_via_pages_table(salted, self.corpus).localCheckpoint(eager=True)
        )
        ok = (
            fetched.filter(F.col("fetch_status") == "fetched")
            .select("url", "url_key", "host", "depth", "score", "seed_index", "host_rank", "slot_ts", "html")
            .localCheckpoint(eager=True)
        )
        n_ok, n_fetched = ok.count(), fetched.count()
        t_extract, _ = timed(lambda: noop(with_extractions(ok)))
        return {
            "canonicalize.keys_per_s": len(self.seed_urls) / t_canon,
            "politeness.rank_quota_s": t_rank,
            "politeness.partition_skew": max(sizes) / max(statistics.median(sizes), 1),
            "fetch.join_s": t_fetch,
            "fetch.hit_frac": n_ok / max(n_fetched, 1),
            "extract.s": t_extract,
            "extract.pages_per_s": n_ok / t_extract,
        }

    def _seen(self, spark, res) -> dict[str, float]:
        """Bloom build over the final seen set, OR-merge of the crawl's new
        keys onto the history's shards, and a probe of the seed frontier
        plus keys never seen (so false positives are measurable)."""
        from pyspark.sql import functions as F

        from frontier_engine import seen as seenmod
        from frontier_engine.frontier import seeds_to_frontier

        n, bits = self.cfg.bloom_shards, self.cfg.bloom_bits_per_shard
        history = self.history_df(spark)
        after = res.seen.localCheckpoint(eager=True)
        delta = after.join(history.select("url_key"), "url_key", "left_anti")
        t_build, shards = timed(
            lambda: seenmod.build_bloom_shards(after, n_shards=n, m_bits=bits).localCheckpoint(eager=True)
        )
        a = seenmod.build_bloom_shards(history, n_shards=n, m_bits=bits).localCheckpoint(eager=True)
        b = seenmod.build_bloom_shards(delta, n_shards=n, m_bits=bits).localCheckpoint(eager=True)
        t_merge, _ = timed(lambda: seenmod.merge_shards(a, b).localCheckpoint(eager=True))
        never = spark.range(2000).select(
            F.concat(F.lit("net,example,probe)/k"), F.col("id").cast("string")).alias("url_key")
        )
        probe = (
            seeds_to_frontier(spark, self.seed_urls).select("url_key").unionByName(never)
            .join(after.select("url_key", F.lit(True).alias("in_seen")), "url_key", "left")
            .fillna(False, ["in_seen"])
            .localCheckpoint(eager=True)
        )
        t_probe, flagged = timed(
            lambda: seenmod.bloom_maybe_seen(probe, shards, n_shards=n).localCheckpoint(eager=True)
        )
        c = flagged.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("maybe_seen")).cast("int")).alias("neg"),
            F.sum((~F.col("in_seen")).cast("int")).alias("absent"),
            F.sum((F.col("maybe_seen") & ~F.col("in_seen")).cast("int")).alias("fp"),
        ).first()
        return {
            "seen.build_s": t_build,
            "seen.merge_s": t_merge,
            "seen.probe_s": t_probe,
            "seen.keys": after.count(),
            "seen.bloom_neg_frac": c["neg"] / c["n"],
            "seen.bloom_fp_frac": c["fp"] / max(c["absent"], 1),
        }


class CorpusDedup:
    """The six registered dedup-family queries over a seeded documents
    table, each forced through the noop sink."""

    name = "corpus_dedup"

    def __init__(self, size: str, seed: int, cores: int):
        self.size, self.seed, self.cores = size, seed, cores
        self.n_docs = inputs.SIZES[size][self.name]["docs"]

    def generate(self) -> None:
        self.input_dir = inputs.dedup_inputs(self.size, self.seed)
        with open(os.path.join(self.input_dir, "oracle.json")) as fh:
            self.oracle = json.load(fh)

    def prepare(self, spark) -> None:
        import __spark_entry__ as entry

        registered = entry.queries()
        self.queries = {q: registered[q] for q in inputs.DEDUP_QUERIES}
        # one pass over a small table starts the Python workers and compiles
        # every query's plans; a cold pass measured 2.6x a warm one
        warmup = os.path.join(self.input_dir, "warmup")
        for fn in self.queries.values():
            noop(fn(spark, warmup))

    def load(self, spark) -> None:
        spark.read.parquet(os.path.join(self.input_dir, "documents.parquet")).select("doc_id").count()

    def op(self, spark, traced: bool) -> Op:
        # persist: the noop write fills the cache, so the output check reads
        # the result instead of computing every query a second time
        per_query, outs = {}, {}
        j0, t0 = job_mark(spark, traced)
        for q, fn in self.queries.items():
            start = time.perf_counter()
            df = fn(spark, self.input_dir).persist()
            noop(df)
            per_query[q] = time.perf_counter() - start
            outs[q] = df
        j1, t1 = job_mark(spark, traced)
        return Op(
            wall_s=sum(per_query.values()),
            items=self.n_docs * len(per_query),
            parts=len(per_query),
            jobs=(j0, j1),
            trace_s=t0 + t1,
            detail={"query_s": per_query},
            handles={"outs": outs},
        )

    def check(self, spark, op: Op) -> list[str]:
        problems = []
        for q, df in op.handles["outs"].items():
            problems += checks.check_digest(q, df, self.oracle[q])
            df.unpersist()
        return problems

    def cleanup(self) -> None:
        pass

    def layers(self, spark, op: Op) -> dict[str, float]:
        return {f"textops.{q}_s": s for q, s in op.detail["query_s"].items()}


WORKLOADS = {w.name: w for w in (RecrawlResume, CorpusDedup)}

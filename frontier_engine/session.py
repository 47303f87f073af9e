"""SparkSession factory tuned for the frontier engine.

One place to encode the scale posture: AQE on (coalesce + skew-join),
Arrow batching for the pandas-UDF extraction path, explicit shuffle
partition sizing.  On a real cluster the same builder is used by
``spark-submit --py-files``; in this sandbox masters are ``local[N]``.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

# Large Arrow batches amortize Python-worker overhead for the extract UDFs;
# 10k rows × ~4 KB html ≈ 40 MB per batch — well inside executor memory.
ARROW_BATCH = "10000"


def get_spark(
    master: str | None = None,
    app_name: str = "frontier-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # make the package importable in Python workers regardless of the
    # driver's cwd (the local-mode analogue of spark-submit --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")

    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = _parallelism_of(master)
    if shuffle_partitions is None:
        # one-to-two waves of shuffle tasks per core; AQE coalesces down
        shuffle_partitions = max(cores * 2, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH)
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4.1's ChecksumCheckpointFileManager deadlocks its awaitResult
        # under local-mode stateful streaming (threads interrupted mid-close,
        # commit retried forever) — checksum of checkpoint files off
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _parallelism_of(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def run_concurrently(spark: SparkSession, tasks: dict) -> dict:
    """Run each no-argument task of ``tasks`` on its own thread; return
    {name: result}.

    Every task inherits the caller's Spark local properties (job group,
    description), so its jobs carry the caller's labels.  All tasks finish
    before this returns or raises: a failing task re-raises here only after
    the others have completed, so the caller never acts on a half-done set.
    """
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = {name: pool.submit(inheritable_thread_target(spark)(fn)) for name, fn in tasks.items()}
    return {name: f.result() for name, f in futures.items()}

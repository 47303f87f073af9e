"""Snapshot-checkpointed state store (SURVEY §2.8 K4, §4.2 checkpoint row).

The reference's sinks (CSV/JSON/Mongo/SQLite, storage.py:14-456) are
replaced by versioned table snapshots: every crawl round commits an
immutable snapshot of frontier/seen/pages/metrics plus a manifest carrying
per-partition lineage — resume = read the latest COMPLETE manifest
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

Preferred backend is Iceberg (snapshot ids native); this sandbox has no
iceberg-spark-runtime jar (verified: /opt/spark/jars is Parquet-only), so
the tested backend is a Parquet snapshot directory with a JSON manifest —
the same commit protocol, write-then-publish.  A round's tables are written
CONCURRENTLY (one thread per table, each job labelled like the caller's),
each write counting its own rows through an ``Observation`` rather than a
read-back job; the manifest is published only after every write has
succeeded:

    root/
      rounds/round_00003/frontier/*.parquet
                        /seen/*.parquet
                        /pages/*.parquet
                        /metrics/*.parquet
                        /manifest.json      <- written LAST (atomic publish)

A crashed round — any table write failing, or the process dying before the
publish — leaves no manifest and is invisible to resume.
"""

from __future__ import annotations

import json
import os
import uuid
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from frontier_engine.session import run_concurrently

class SnapshotStore:
    """Parquet snapshot-directory store with write-then-publish manifests."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "rounds"), exist_ok=True)

    # -- commit --------------------------------------------------------------

    def commit_round(self, round_no: int, tables: dict[str, DataFrame], extra: dict | None = None) -> str:
        """Write every table concurrently, then publish the manifest.
        Returns the snapshot id.  If any write raises, the others still
        finish, no manifest is published and the error re-raises."""
        snap_dir = self._round_dir(round_no)
        snapshot_id = uuid.uuid4().hex[:16]

        def write(name: str, df: DataFrame):
            # lineage: the row count comes from the write job itself
            # (an Observation), the partition file count from the directory
            path = os.path.join(snap_dir, name)
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
            return obs.get["rows"], len([f for f in os.listdir(path) if f.endswith(".parquet")])

        done = run_concurrently(self.spark, {name: partial(write, name, df) for name, df in tables.items()})
        counts = {name: rows for name, (rows, _) in done.items()}
        partitions = {name: files for name, (_, files) in done.items()}
        manifest = {
            "round": round_no,
            "snapshot_id": snapshot_id,
            "row_counts": counts,
            "partition_files": partitions,
            **(extra or {}),
        }
        tmp = os.path.join(snap_dir, "manifest.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(snap_dir, "manifest.json"))  # atomic publish
        return snapshot_id

    # -- resume ---------------------------------------------------------------

    def latest_round(self) -> int | None:
        """Highest round with a PUBLISHED manifest (crashed rounds skipped)."""
        rounds_dir = os.path.join(self.root, "rounds")
        best = None
        for name in os.listdir(rounds_dir):
            mpath = os.path.join(rounds_dir, name, "manifest.json")
            if name.startswith("round_") and os.path.exists(mpath):
                r = int(name.split("_")[1])
                best = r if best is None or r > best else best
        return best

    def manifest(self, round_no: int) -> dict:
        with open(os.path.join(self._round_dir(round_no), "manifest.json")) as fh:
            return json.load(fh)

    def read(self, round_no: int, table: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._round_dir(round_no), table))

    def has(self, round_no: int, table: str) -> bool:
        d = os.path.join(self.root, "rounds", f"round_{round_no:05d}", table)
        return os.path.isdir(d) and os.path.exists(
            os.path.join(self.root, "rounds", f"round_{round_no:05d}", "manifest.json")
        )

    def _round_dir(self, round_no: int) -> str:
        d = os.path.join(self.root, "rounds", f"round_{round_no:05d}")
        os.makedirs(d, exist_ok=True)
        return d

    # -- auxiliary artifacts --------------------------------------------------
    # Derived state (e.g. bloom bitmaps) that ACCELERATES resume but is never
    # required for it: written AFTER the round's manifest publish with its
    # own atomic marker, so a crash between the two leaves a resumable round
    # whose aux is simply absent (the consumer rebuilds from the base tables).

    def write_aux(self, round_no: int, name: str, df: DataFrame, meta: dict) -> None:
        """Write an aux table + publish its marker (write-then-publish)."""
        snap_dir = self._round_dir(round_no)
        path = os.path.join(snap_dir, f"aux_{name}")
        df.write.mode("overwrite").parquet(path)
        marker = {"round": round_no, "name": name, **meta}
        tmp = os.path.join(snap_dir, f"aux_{name}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(marker, fh, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(snap_dir, f"aux_{name}.json"))

    def read_aux(self, round_no: int, name: str, expect_meta: dict | None = None) -> DataFrame | None:
        """The aux table, or None when absent / marker missing / any
        ``expect_meta`` key disagrees with the published marker (a config
        change invalidates derived state — the caller must rebuild)."""
        snap_dir = os.path.join(self.root, "rounds", f"round_{round_no:05d}")
        mpath = os.path.join(snap_dir, f"aux_{name}.json")
        if not os.path.exists(mpath):
            return None
        with open(mpath) as fh:
            marker = json.load(fh)
        for k, v in (expect_meta or {}).items():
            if marker.get(k) != v:
                return None
        return self.spark.read.parquet(os.path.join(snap_dir, f"aux_{name}"))

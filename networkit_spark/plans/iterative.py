"""Iterative-plan support: per-superstep lineage truncation + resumable
checkpoints with iteration metrics.

Why: an iterative DataFrame program (PageRank/CC/PLP supersteps) grows its
logical plan linearly per iteration; without truncation, Catalyst planning
time explodes and executor stacks overflow — the classic iterative-Spark
pitfall (SURVEY.md §3.2). Every superstep therefore materializes its state
through a Checkpointer.

Two modes:
- ephemeral (path=None): `localCheckpoint(eager=True)` — fastest, in-memory
  block-manager copy, no resume.
- durable (path=...): each superstep writes the state DataFrame as parquet
  under `{path}/iter={k}/` plus a `_meta.json` carrying
  {algorithm, params, iteration, metrics, schema}. Writes are atomic at the
  metadata level (data first, meta last), so the latest iteration with a
  meta file is always a complete, consistent snapshot. On a real cluster
  this maps 1:1 onto an Iceberg table where each superstep is a snapshot
  and metrics live in snapshot summary properties; Iceberg jars are not in
  this sandbox image so the layout is plain parquet + JSON with the same
  contract (the reference point for resumability in BASELINE.json's north
  rule: "driver-resumable from Iceberg-snapshot checkpoints carrying
  per-partition lineage and iteration metrics").

Per-partition lineage: durable snapshots record, per committed parquet
file, its name and size in bytes (`files` in `_meta.json`) — enough to
audit which partitions contributed to an iteration. Row counts per file
are not recorded.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession


def truncate(df: DataFrame, release: DataFrame | None = None) -> DataFrame:
    """Lineage truncation with SANE statistics.

    `localCheckpoint` alone propagates the checkpointed plan's *estimated*
    stats; in iterative programs join estimates compound multiplicatively
    per superstep until sizeInBytes overflows BigInteger (~25 supersteps)
    and Catalyst planning time blows up. Persisting and materializing the
    checkpointed relation makes it report its REAL cached size instead.
    Use this (or Checkpointer.save) for every iterative-state
    materialization; never bare localCheckpoint in a loop.

    release: a superseded state DataFrame to unpersist AFTER the new one
    is materialized (loops must release old snapshots or cached state
    accumulates one copy per superstep).
    """
    out = df.localCheckpoint(eager=True).persist()
    try:
        out.count()
    except Exception as e:  # noqa: BLE001
        # Spark cache-canonicalization bug: persisting a checkpoint whose
        # lineage contains certain ALREADY-CACHED relations can fail the
        # CacheManager plan match with "java.util.NoSuchElementException:
        # key not found: <attr>". The checkpoint itself is fine (eager —
        # already materialized); drop the persist and return the bare
        # checkpointed frame (stats are the checkpoint's estimate, which
        # is accurate: it IS the materialized relation).
        if "key not found" not in str(e):
            raise
        try:
            out.unpersist()
        except Exception:
            pass
        out = df.localCheckpoint(eager=True)
    if release is not None:
        try:
            release.unpersist()
        except Exception:
            pass
    return out


class Checkpointer:
    def __init__(self, spark: SparkSession, path: str | None = None,
                 algorithm: str = "", params: dict | None = None):
        self.spark = spark
        self.path = path
        self.algorithm = algorithm
        self.params = params or {}
        self._persisted: list[DataFrame] = []
        if path:
            os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------------
    def save(self, df: DataFrame, iteration: int, metrics: dict | None = None) -> DataFrame:
        """Materialize `df` (truncating lineage) and return the re-readable
        DataFrame for the next superstep."""
        if self.path is None:
            out = truncate(df)  # see truncate(): REAL stats, no compounding
            # Release the previous superstep's blocks once the new one exists.
            for old in self._persisted:
                try:
                    old.unpersist()
                except Exception:
                    pass
            self._persisted = [out]
            return out

        it_dir = os.path.join(self.path, f"iter={iteration}")
        tmp_dir = it_dir + ".tmp"
        if os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)
        df.write.mode("overwrite").parquet(tmp_dir)
        if os.path.exists(it_dir):
            shutil.rmtree(it_dir)
        os.rename(tmp_dir, it_dir)
        out = self.spark.read.parquet(it_dir)

        files = [
            {"file": f, "bytes": os.path.getsize(os.path.join(it_dir, f))}
            for f in sorted(os.listdir(it_dir))
            if f.endswith(".parquet")
        ]
        meta = {
            "algorithm": self.algorithm,
            "params": self.params,
            "iteration": iteration,
            "metrics": metrics or {},
            "schema": df.schema.jsonValue(),
            "files": files,  # per-partition lineage of this snapshot
            "wall_time": time.time(),
        }
        meta_tmp = os.path.join(it_dir, "_meta.json.tmp")
        with open(meta_tmp, "w") as fh:
            json.dump(meta, fh)
        os.rename(meta_tmp, os.path.join(it_dir, "_meta.json"))
        return out

    # ------------------------------------------------------------------
    def latest(self) -> tuple[int, DataFrame, dict] | None:
        """Most recent complete snapshot → (iteration, df, meta), or None."""
        if self.path is None or not os.path.isdir(self.path):
            return None
        best = None
        for name in os.listdir(self.path):
            if not name.startswith("iter="):
                continue
            meta_path = os.path.join(self.path, name, "_meta.json")
            if not os.path.exists(meta_path):
                continue  # incomplete snapshot (crash mid-write) — skip
            k = int(name.split("=", 1)[1])
            if best is None or k > best:
                best = k
        if best is None:
            return None
        it_dir = os.path.join(self.path, f"iter={best}")
        with open(os.path.join(it_dir, "_meta.json")) as fh:
            meta = json.load(fh)
        return best, self.spark.read.parquet(it_dir), meta

    def history(self) -> list[dict]:
        """All snapshot metas, ascending by iteration (for metrics/audit)."""
        if self.path is None or not os.path.isdir(self.path):
            return []
        metas = []
        for name in sorted(os.listdir(self.path)):
            meta_path = os.path.join(self.path, name, "_meta.json")
            if name.startswith("iter=") and os.path.exists(meta_path):
                with open(meta_path) as fh:
                    metas.append(json.load(fh))
        return sorted(metas, key=lambda m: m["iteration"])

    def close(self):
        for old in self._persisted:
            try:
                old.unpersist()
            except Exception:
                pass
        self._persisted = []

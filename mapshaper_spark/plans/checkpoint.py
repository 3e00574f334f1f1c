"""Snapshot checkpointing + per-partition lineage/metrics + resume planner.

north_rule: "resumable from Iceberg-snapshot checkpoints with per-partition
lineage and metrics tables". Iceberg's runtime jar is not in this container,
so the snapshot layer is pluggable: the default ``ParquetSnapshotStore``
writes each stage output as an immutable parquet snapshot directory plus a
JSON manifest (= the Iceberg snapshot metadata role); an Iceberg catalog
implementation only needs to override ``write``/``read``/``manifests`` with
``df.writeTo(table).createOrReplace()`` and snapshot-id bookkeeping.

Layout:
    <root>/<stage>/<snapshot_id>/data/**/part-*.parquet   immutable snapshot data
    <root>/<stage>/<snapshot_id>/manifest.json   rows, lineage, schema, inputs, wall

The reference has no checkpointing (eager single-process pipeline,
/root/reference/src/cli/mapshaper-commands.js:133); this is the scale-out
requirement the graft adds: a 100 TB multi-stage job must replan from the
last complete snapshot instead of recomputing stage 1 on a mid-job failure.

A commit runs one Spark job, the stage's parquet write. pyarrow then sums the
committed files' parquet footers in-process, per write task (``part-<task>-...``):
that is the manifest's lineage, so ``partition_id`` is the write task id (a
``partition_by`` task writes one file per key). The manifest goes last, via
temp file + ``os.replace``; a snapshot without a readable manifest is the
orphan of a crashed commit, invisible to resume, ``lineage()`` and ``metrics()``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable, Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _schema_fingerprint(df: DataFrame) -> str:
    return hashlib.sha256(df.schema.json().encode()).hexdigest()[:16]


def _footer_rows(data_dir: str) -> dict[str, int]:
    """Rows per write task, summed over the parquet footers of its files."""
    rows: Counter[int] = Counter()
    for path in glob.glob(os.path.join(glob.escape(data_dir), "**", "part-*.parquet"),
                          recursive=True):
        rows[int(os.path.basename(path).split("-")[1])] += pq.read_metadata(path).num_rows
    return {str(task): n for task, n in sorted(rows.items())}


def _commit_json(path: str, obj: dict) -> None:
    """Write ``obj`` so that readers see either no file or all of it."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, path)


class ParquetSnapshotStore:
    """Immutable parquet snapshots + JSON manifests under a root dir."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def manifests(self, stage: str = "*") -> list[dict]:
        """Committed manifests of one stage (default: of every stage)."""
        out = []
        for mpath in glob.glob(os.path.join(glob.escape(self.root), stage, "*", "manifest.json")):
            try:
                with open(mpath) as f:
                    out.append(json.load(f))
            except (OSError, ValueError):  # torn or unreadable: not committed
                pass
        return [m for m in out if m.get("complete")]

    def latest_complete(self, stage: str) -> dict | None:
        return max(self.manifests(glob.escape(stage)), key=lambda m: m["ts"], default=None)

    def write(self, stage: str, df: DataFrame, inputs: Sequence[str],
              partition_by: Sequence[str] = ()) -> dict:
        snap_id = f"s{int(time.time() * 1000):x}"
        snap_dir = os.path.join(self.root, stage, snap_id)
        data_dir = os.path.join(snap_dir, "data")
        t0 = time.time()
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(data_dir)
        wall = time.time() - t0
        lineage = _footer_rows(data_dir)
        manifest = {
            "stage": stage, "snapshot_id": snap_id, "path": data_dir,
            "rows": sum(lineage.values()), "lineage": lineage, "schema": _schema_fingerprint(df),
            "inputs": list(inputs), "wall_s": round(wall, 3), "ts": time.time(), "complete": True,
        }
        _commit_json(os.path.join(snap_dir, "manifest.json"), manifest)
        return manifest

    def read(self, manifest: dict) -> DataFrame:
        return self.spark.read.parquet(manifest["path"])


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]      # (spark, {input_stage: DataFrame}) -> DataFrame
    inputs: Sequence[str] = field(default_factory=tuple)
    partition_by: Sequence[str] = field(default_factory=tuple)


class StageRunner:
    """Executes a linear/DAG list of stages with snapshot checkpointing.

    resume semantics: a stage is skipped iff a complete snapshot exists AND
    every input's snapshot id matches what that snapshot was built from
    (input drift invalidates downstream, like Iceberg snapshot lineage).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.store = ParquetSnapshotStore(spark, root)

    def run(self, stages: Sequence[Stage], force: Sequence[str] = ()) -> dict[str, dict]:
        done: dict[str, dict] = {}
        for st in stages:
            input_snaps = [done[i]["snapshot_id"] for i in st.inputs]
            prior = self.store.latest_complete(st.name)
            if (prior is not None and st.name not in force
                    and prior["inputs"] == input_snaps):
                done[st.name] = prior
                continue
            df = st.fn(self.spark, {i: self.store.read(done[i]) for i in st.inputs})
            done[st.name] = self.store.write(st.name, df, input_snaps, st.partition_by)
        return done

    def lineage(self) -> DataFrame:
        """Rows per write task of every committed snapshot that records them."""
        return self.spark.createDataFrame(
            [(int(task), n, m["stage"], m["snapshot_id"])
             for m in self.store.manifests() for task, n in m.get("lineage", {}).items()],
            "partition_id int, rows long, stage string, snapshot_id string")

    def metrics(self) -> DataFrame:
        return self.spark.createDataFrame(
            [(m["stage"], m["snapshot_id"], m["rows"], m["wall_s"], m["ts"])
             for m in self.store.manifests()],
            "stage string, snapshot_id string, rows long, wall_s double, ts double")

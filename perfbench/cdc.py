"""Pieces the two replay workloads (catchup, tail) share: the traced
entry points, the layer metrics read from spans and from the table's
own manifests, and the final-state gate."""

from __future__ import annotations

import glob
import json
import os
import time

import pyarrow.parquet as pq

from milvus_cdc_spark.plans.apply import ReplicateJob
from milvus_cdc_spark.plans.metastore import Metastore, MetastoreBackend
from milvus_cdc_spark.sources.icebox import IceboxTable
from perfbench.probes import pct
from perfbench.reference import digest

METASTORE_PUBLIC = (
    "load_checkpoint", "save_checkpoint", "append_lineage", "append_metrics",
    "lineage_df", "metrics_df", "save_task", "load_task", "list_tasks", "delete_task",
)
# metastore.<metric> -> the methods whose self time it sums
METASTORE_METRICS = {
    "checkpoint_s": ("save_checkpoint",),
    "load_s": ("load_checkpoint", "load_task", "list_tasks"),
    "lineage_s": ("append_lineage", "lineage_df"),
    "metrics_s": ("append_metrics", "metrics_df"),
}


def instrument(tracer) -> None:
    """Spans around the public entry points of the apply plan, the
    icebox table and the metastore."""
    tracer.wrap(ReplicateJob, "run", "apply.run")
    tracer.wrap(ReplicateJob, "apply_batch", "apply.batch")
    for m in ("merge", "read", "add_column", "widen_column"):
        tracer.wrap(IceboxTable, m, f"icebox.{m}")
    for m in METASTORE_PUBLIC:
        tracer.wrap(MetastoreBackend, m, f"metastore.{m}")
    for m in ("lineage_df", "metrics_df"):  # the JSON store overrides these
        tracer.wrap(Metastore, m, f"metastore.{m}")


def read_snapshot(spark, table_root: str) -> tuple[tuple[int, int, int], float]:
    """Digest of the live snapshot and the seconds it took: the cost a
    downstream reader pays, merge-on-read resolution included."""
    t0 = time.perf_counter()
    d = digest(IceboxTable(spark, table_root).read().select("repo", "path", "content_sha256"))
    return d, time.perf_counter() - t0


def manifest_stats(table_root: str, events_applied: int) -> dict[str, float]:
    """Write-side counts from the table's manifests and staged files."""
    snaps = []
    for p in glob.glob(os.path.join(table_root, "snapshots", "v*.json")):
        with open(p) as f:
            snaps.append(json.load(f))
    snaps.sort(key=lambda s: s["snapshot_id"])
    depth_max, compacted = 0, 0
    prev: dict[str, int] = {}
    for s in snaps:
        cur = {}
        for b, files in s["buckets"].items():
            cur[b] = sum(1 for f in files if f.get("kind", "base") == "delta")
        depth_max = max([depth_max, *cur.values()])
        compacted += sum(1 for b, n in cur.items() if n < prev.get(b, 0))
        prev = cur
    files = glob.glob(os.path.join(table_root, "data", "**", "*.parquet"), recursive=True)
    # rows the merges staged (compaction output excluded): every change
    # row written, duplicates of one key within a batch included
    merge_rows = sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in files
        if os.path.basename(os.path.dirname(os.path.dirname(p))).startswith("snap-")
    )
    return {
        "icebox.snapshots": len(snaps),
        "icebox.files_written": len(files),
        "icebox.bytes_written": sum(os.path.getsize(p) for p in files),
        "icebox.rows_written_per_event": merge_rows / events_applied if events_applied else 0.0,
        "icebox.delta_depth_max": depth_max,
        "icebox.buckets_compacted": compacted,
        "icebox.read_files": sum(len(v) for v in snaps[-1]["buckets"].values()) if snaps else 0,
    }


def span_layers(tracer, root_names: tuple[str, ...]) -> dict[str, float]:
    """Layer metrics of the replay path from the recorded spans."""
    tot = tracer.totals()

    def total(name: str, key: str = "total_s") -> float:
        return tot.get(name, {}).get(key, 0.0)

    batch = [d for r in root_names for d in tracer.durations(r)]
    out = {
        "event_log.source_calls": total("event_log.source", "calls"),
        "event_log.source_s": total("event_log.source"),
        "apply.batches": len(batch),
        "apply.batch_p50_s": pct(batch, 50) if batch else 0.0,
        "apply.batch_p90_s": pct(batch, 90) if batch else 0.0,
        "apply.ddl_barriers": total("icebox.add_column", "calls") + total("icebox.widen_column", "calls"),
        "apply.self_s": sum(total(r, "self_s") for r in root_names),
        "icebox.merge_s": total("icebox.merge"),
        "icebox.schema_commit_s": total("icebox.add_column") + total("icebox.widen_column"),
        "metastore.calls": sum(total(f"metastore.{m}", "calls") for m in METASTORE_PUBLIC),
    }
    for metric, methods in METASTORE_METRICS.items():
        out[f"metastore.{metric}"] = sum(total(f"metastore.{m}", "self_s") for m in methods)
    return out


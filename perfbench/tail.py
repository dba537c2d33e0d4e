"""tail: an open-loop stream of fixed-size log files into a
merge-on-read table through ``StreamingReplicator``.

Before timing, a seeded log with an ``add_column`` DDL every
``DDL_EVERY`` events is written as one parquet file per ``FILE_EVENTS``
events. During the run a feeder thread renames file k into the watched
directory at ``t0 + k * PERIOD_S`` and does nothing else. One operation
is one fed file; its freshness lag is the commit time of its last DML
event (from the lineage rows the engine writes) minus its scheduled
time. File 0 is fed alone first and its lag (first plan, compile and
JIT included) is the first-operation time. The next WARM_FILES files
are fed one at a time, each once the last has committed, untimed, so
the just-in-time compiler has settled before the schedule of the other
files starts; their lags describe the steady stream rather than its
warm-up.

The offered rate is half the stream's closed-loop capacity at one file
per epoch, so the stream is idle about half the time and a file's lag
is its own epoch, not a queue. ``python3 -m perfbench.tail`` (from the
repository root) measures that capacity.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from milvus_cdc_spark.plans.apply import ReplicateJob, parquet_source
from milvus_cdc_spark.plans.metastore import Metastore
from milvus_cdc_spark.sources.event_log import EVENT_SCHEMA, generate_events
from milvus_cdc_spark.streaming.runner import StreamingReplicator
from perfbench import cdc
from perfbench.probes import Window, pct, session_layers
from perfbench.reference import DML, digest, fold

FILE_EVENTS = 2_000
# about twice the closed-loop epoch time of one file (0.41-0.49 s on a
# 4-core x86-64 host, measured by capacity() below): ~2.2k events/s
PERIOD_S = 0.9
MIN_FILES = 20           # scheduled files at least, whatever --seconds says
WARM_FILES = 8
DDL_EVERY = 20_000       # an add_column every ten files
CONTENT_REPEAT = 8
BUCKETS = 4
COMPACT_THRESHOLD = 5    # every fifth one-file epoch compacts
TRIGGER = "50 milliseconds"
DRAIN_TIMEOUT_S = 90


def _write_log(spark, stage: str, n_files: int, seed: int) -> dict:
    """Write the seeded log as ``n_files`` files of FILE_EVENTS events
    each; return per-file (last DML seq, its partition) and the DDL
    column names."""
    n = n_files * FILE_EVENTS
    ev = generate_events(
        spark, n, seed=seed, num_keys=n // 10, ddl_every=DDL_EVERY,
        content_repeat=CONTENT_REPEAT,
    ).withColumn("__f", (F.col("event_seq") / FILE_EVENTS).cast("long"))
    raw = os.path.join(stage, "_raw")
    (ev.repartition(8, "__f").sortWithinPartitions("event_seq")
       .write.partitionBy("__f").parquet(raw))
    for k in range(n_files):
        (part,) = glob.glob(os.path.join(raw, f"__f={k}", "*.parquet"))
        os.rename(part, os.path.join(stage, f"log-{k:05d}.parquet"))
    shutil.rmtree(raw)
    last = {
        int(r["__f"]): (int(r["s"]), int(r["p"]))
        for r in ev.filter(F.col("event_type").isin(*DML))
        .groupBy("__f")
        .agg(F.max("event_seq").alias("s"), F.max_by("partition_id", "event_seq").alias("p"))
        .collect()
    }
    ddl_cols = [
        json.loads(r[0])["name"]
        for r in ev.filter(F.col("event_type") == "add_column").select("schema_change").collect()
    ]
    return {"last": [last[k] for k in range(n_files)], "ddl_cols": ddl_cols}


def _replicator(ctx, spark, tag: str):
    """A ReplicateJob into a fresh table and a StreamingReplicator over
    the (new, empty) directory ``watch<tag>``."""
    os.makedirs(ctx.path(f"watch{tag}"))
    job = ReplicateJob(
        spark=spark, source=parquet_source(ctx.path(f"watch{tag}")),
        table_root=ctx.path(f"tbl{tag}"), metastore=Metastore(ctx.path(f"meta{tag}")),
        num_buckets=BUCKETS, compact_threshold=COMPACT_THRESHOLD, dedup="auto",
    )
    job.table()
    return job, StreamingReplicator(job, ctx.path(f"watch{tag}"), ctx.path(f"ckpt{tag}"))


def capacity() -> None:
    """Closed-loop capacity at FILE_EVENTS per file: stage 20 files,
    drain them with ``availableNow`` one file per epoch, three rounds in
    one JVM, and print the seconds per epoch of each round. The first
    round warms the just-in-time compiler; PERIOD_S is about twice the
    later rounds."""
    from perfbench.run import Context

    n_files = 20
    ctx = Context("tail-capacity", 1, 0, None)
    try:
        spark = ctx.start_session()
        stage = ctx.path("stage")
        os.makedirs(stage)
        _write_log(spark, stage, n_files, 1)
        for r in range(3):
            _, rep = _replicator(ctx, spark, f"-cap{r}")
            for name in os.listdir(stage):
                shutil.copy(os.path.join(stage, name), rep.log_path)
            t0 = time.perf_counter()
            query = rep.start(available_now=True, max_files_per_trigger=1)
            query.awaitTermination()
            per_epoch = (time.perf_counter() - t0) / n_files
            print(f"round {r}: {per_epoch:.3f} s per epoch, "
                  f"{FILE_EVENTS / per_epoch:.0f} events/s", flush=True)
    finally:
        ctx.close()


class _Listener(StreamingQueryListener):
    """Collects the progress of epochs that carried rows."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows:
            self.progress.append({"rows": p.numInputRows, **dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def layers(self) -> dict[str, float]:
        def q(key: str, at: int) -> float:
            vals = [float(e.get(key, 0)) for e in self.progress]
            return pct(vals, at) if vals else 0.0

        return {
            "runner.epochs": len(self.progress),
            "runner.rows_per_epoch_p50": q("rows", 50),
            "runner.add_batch_p50_ms": q("addBatch", 50),
            "runner.add_batch_p90_ms": q("addBatch", 90),
            "runner.latest_offset_p50_ms": q("latestOffset", 50),
            "runner.planning_p50_ms": q("queryPlanning", 50),
            "runner.wal_commit_p50_ms": q("walCommit", 50),
        }


def run(ctx) -> dict:
    n_sched = max(MIN_FILES, math.ceil(ctx.seconds / PERIOD_S))
    first_sched = 1 + WARM_FILES
    n_files = first_sched + n_sched
    stage = ctx.path("stage")
    def build(spark, i):
        job, rep = _replicator(ctx, spark, f"{i}")
        if ctx.tracer is not None and i == 2:  # the last of the three setups
            cdc.instrument(ctx.tracer)
            rep._apply_epoch = ctx.tracer.traced("apply.epoch", rep._apply_epoch)
        query = rep.start(available_now=False, processing_time=TRIGGER)
        return job, query

    (job, query), setups, cold = ctx.setups(build)
    spark = job.spark
    # input generation, untimed, in the measured JVM: it also lets the
    # just-in-time compiler settle before the first file is fed
    os.makedirs(stage)
    log = _write_log(spark, stage, n_files, ctx.seed)
    watch = ctx.path("watch2")
    listener = None
    if ctx.tracer is not None:
        listener = _Listener()
        spark.streams.addListener(listener)

    ckpt = job.metastore.load_checkpoint

    def drained(seq: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while ckpt(job.task_id)["global_offset"] < seq:
            if time.time() > deadline or query.exception() is not None:
                return False
            time.sleep(0.02)
        return True

    def move(k: int) -> None:
        name = f"log-{k:05d}.parquet"
        os.rename(os.path.join(stage, name), os.path.join(watch, name))

    late: list[float] = []
    scheduled: list[float] = []
    win_all = Window(spark)
    for k in range(first_sched):  # file 0, then the warm-up files
        scheduled.append(time.time())
        move(k)
        drained(log["last"][k][0], DRAIN_TIMEOUT_S)

    def feed():
        t0 = time.time() + PERIOD_S
        for k in range(first_sched, n_files):
            due = t0 + (k - first_sched) * PERIOD_S
            scheduled.append(due)
            time.sleep(max(0.0, due - time.time()))
            move(k)
            late.append(time.time() - due)

    win = Window(spark)
    feeder = threading.Thread(target=feed, name="feeder")
    feeder.start()
    feeder.join()
    drained(max(s for s, _ in log["last"]), DRAIN_TIMEOUT_S)
    w = win.close()
    w_all = win_all.close()
    stream_error = query.exception()
    query.stop()
    if listener is not None:
        spark.streams.removeListener(listener)
    if ctx.tracer is not None:
        ctx.tracer.unpatch()

    # lag per file from the engine's lineage rows
    lineage = [r.asDict() for r in job.metastore.lineage_df(spark).collect()]
    lags: list[float | None] = []
    for (seq, part), due in zip(log["last"], scheduled):
        ts = [
            r["committed_ts"] for r in lineage
            if r["partition_id"] == part and r["offset_start"] <= seq <= r["offset_end"]
        ]
        lags.append(min(ts) - due if ts else None)
    failed = sum(1 for x in lags if x is None)
    steady = [x for x in lags[first_sched:] if x is not None]
    if lags[0] is None or not steady:
        raise RuntimeError(f"the stream committed no fed file (error: {stream_error})")

    got, read_s = cdc.read_snapshot(spark, job.table_root)
    want = digest(fold(spark.read.schema(EVENT_SCHEMA).parquet(watch)))
    columns = set(job.table().schema.fieldNames())
    missing = [c for c in log["ddl_cols"] if c not in columns]
    correct = got == want and not missing and failed == 0 and stream_error is None

    cpu = w["cpu_user_s"] + w["cpu_sys_s"]
    e2e = {
        "setup_s": statistics.median(setups),
        "first_op_s": lags[0],
        "op_p50_s": pct(steady, 50),
        "op_p90_s": pct(steady, 90),
        "op_mean_s": statistics.fmean(steady),
        "cpu_s_per_op": cpu / n_sched,
    }
    detail = {
        "setup_s_each": [round(x, 3) for x in setups],
        "files": n_files,
        "warm_up_files": WARM_FILES,
        "steady_files": len(steady),
        "file_events": FILE_EVENTS,
        "offered_events_per_s": FILE_EVENTS / PERIOD_S,
        "tail_lag_p50_s": e2e["op_p50_s"],
        "tail_lag_p90_s": e2e["op_p90_s"],
        "first_file_lag_s": e2e["first_op_s"],
        "snapshot_read_s": read_s,
        "feeder_late_max_s": max(late),
        "lag_series_s": [round(x, 2) for x in steady],
        "ddl_columns": len(log["ddl_cols"]),
        "missing_ddl_columns": missing,
        "digest_match": got == want,
        "rows_in_table": got[0],
        "stream_error": None if stream_error is None else str(stream_error)[:300],
        "steal_s": w["steal_s"],
        "cpu_sys_s": w["cpu_sys_s"],
    }
    out = {
        "correct": correct, "attempted": n_files, "failed": failed,
        "e2e": e2e, "detail": detail,
    }
    if ctx.tracer is not None:
        layers = session_layers(w_all, cold)
        layers.update(cdc.span_layers(ctx.tracer, ("apply.epoch",)))
        layers.update(cdc.manifest_stats(job.table_root, n_files * FILE_EVENTS))
        layers.update(listener.layers())
        layers["icebox.read_s"] = read_s
        layers["runner.feeder_late_max_s"] = max(late)
        out["layers"] = layers
        out["table"] = ctx.tracer.table(("apply.epoch",))
    return out


if __name__ == "__main__":
    capacity()

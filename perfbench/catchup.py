"""catchup: a closed-loop drain of a backlog from the seeded lazy
generator into a merge-on-read table.

The backlog is a first (warm-up) batch plus ``steady`` batches, sized
from ``--seconds`` with a fixed nominal batch time, so every run and
every commit does the same work. One operation is one batch.
"""

from __future__ import annotations

import statistics
import time

from milvus_cdc_spark.plans.apply import ReplicateJob, generated_source
from milvus_cdc_spark.plans.metastore import Metastore
from milvus_cdc_spark.sources.event_log import generate_events
from perfbench import cdc
from perfbench.probes import Window, job_counts, pct, session_layers
from perfbench.reference import digest, fold_generated

BATCH = 150_000          # events per batch (~90 MB of rows); the run deletes all it wrote at exit
NOMINAL_BATCH_S = 2.0    # sizes the backlog: the first and steady batches take about --seconds
CONTENT_REPEAT = 8       # ~600-byte rows
HOT_REPO_PCT = 30
BUCKETS = 16
COMPACT_THRESHOLD = 3    # minor compaction every few batches, inside the window


def run(ctx) -> dict:
    # every COMPACT_THRESHOLD-th steady batch compacts; at least two of
    # them keep op_p90_s on compacting batches and op_p50_s on plain ones
    steady = max(2 * COMPACT_THRESHOLD, round(ctx.seconds / NOMINAL_BATCH_S))
    n_events = BATCH * (steady + 1)
    gen_kwargs = dict(
        seed=ctx.seed, num_keys=n_events // 10, content_repeat=CONTENT_REPEAT,
        hot_repo_pct=HOT_REPO_PCT,
    )

    def build(spark, i):
        source = generated_source(
            stable_max_batch=BATCH, gen_slices=4 * ctx.cores, **gen_kwargs
        )
        if ctx.tracer is not None:
            source = ctx.tracer.traced("event_log.source", source)
        job = ReplicateJob(
            spark=spark, source=source,
            table_root=ctx.path(f"tbl{i}"), metastore=Metastore(ctx.path(f"meta{i}")),
            batch_size=BATCH, num_buckets=BUCKETS, compact_threshold=COMPACT_THRESHOLD,
            log_max_seq=n_events - 1, dedup="auto",
        )
        job.table()  # CREATE TABLE
        return job

    job, setups, cold = ctx.setups(build)
    spark = job.spark
    if ctx.tracer is not None:
        cdc.instrument(ctx.tracer)

    walls, applied, counts = [], [], []
    failed = 0
    win_all = Window(spark)
    win = None
    for b in range(steady + 1):
        if b == 1:
            win = Window(spark)
        group = f"perfbench-batch-{b}"
        if ctx.tracer is not None:
            spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            res = job.run(until_seq=n_events - 1, max_batches=1)
        except Exception as e:  # a failed batch is counted, the run goes on
            print(f"batch {b} failed: {e!r}")
            failed += 1
            continue
        walls.append(time.perf_counter() - t0)
        applied.append(res["events_applied"] or 0)
        if ctx.tracer is not None:
            counts.append(job_counts(spark, group))
    steady_win = win.close()
    all_win = win_all.close()
    if ctx.tracer is not None:
        ctx.tracer.unpatch()

    # final-state gate and the reader's cost, untimed for the window
    got, read_s = cdc.read_snapshot(spark, job.table_root)
    t_fold = time.perf_counter()
    want = digest(fold_generated(
        spark, lambda seq: generate_events(spark, 0, seq_df=seq, **gen_kwargs), n_events
    ))
    t_fold = time.perf_counter() - t_fold
    correct = got == want and failed == 0 and sum(applied) == n_events

    st_walls, st_events = walls[1:], sum(applied[1:])
    st_wall = sum(st_walls)
    cpu = steady_win["cpu_user_s"] + steady_win["cpu_sys_s"]
    e2e = {
        "setup_s": statistics.median(setups),
        "first_op_s": walls[0],
        "op_p50_s": pct(st_walls, 50),
        "op_p90_s": pct(st_walls, 90),
        "op_mean_s": st_wall / len(st_walls),
        "cpu_s_per_op": cpu / len(st_walls),
    }
    detail = {
        "setup_s_each": [round(x, 3) for x in setups],
        "first_batch_s": walls[0],
        "replay_eps": st_events / st_wall,
        "replay_cpu_s_per_mevent": cpu / (st_events / 1e6),
        "snapshot_read_s": read_s,
        "steady_batches": len(st_walls),
        "batch_events": BATCH,
        "events_applied": sum(applied),
        "digest_match": got == want,
        "fold_s": t_fold,
        "rows_in_table": got[0],
        "steal_s": steady_win["steal_s"],
        "cpu_sys_s": steady_win["cpu_sys_s"],
    }
    out = {
        "correct": correct, "attempted": steady + 1, "failed": failed,
        "e2e": e2e, "detail": detail,
    }
    if ctx.tracer is not None:
        layers = session_layers(all_win, cold)
        layers.update(cdc.span_layers(ctx.tracer, ("apply.batch",)))
        layers.update(cdc.manifest_stats(job.table_root, sum(applied)))
        layers["icebox.read_s"] = read_s
        layers["session.gc_ms"] = steady_win["gc_ms"]
        for k, idx in (("jobs", 0), ("stages", 1), ("tasks", 2)):
            layers[f"session.{k}_per_batch"] = statistics.median(c[idx] for c in counts[1:])
        out["layers"] = layers
        out["table"] = ctx.tracer.table(("apply.batch",))
    return out

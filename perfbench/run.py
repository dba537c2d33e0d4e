"""CDC engine benchmark: one command per workload.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --compare A_DIR B_DIR

Run from the repository root. A run prints a human-readable report, then,
as its last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The full record
(every metric, the detail block and, traced, the layer table) is written
to ``perfbench/out/``. See perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")
WORKLOADS = ("catchup", "tail", "queries")
HEAP = "2g"
# units of the workload-specific figures printed in the report
REPORT_UNITS = {
    "first_batch_s": "s", "replay_eps": "events/s",
    "replay_cpu_s_per_mevent": "CPU-s/10^6 events", "snapshot_read_s": "s",
    "tail_lag_p50_s": "s", "tail_lag_p90_s": "s", "first_file_lag_s": "s",
    "suite_s": "s", "suite_geomean_s": "s", "steal_s": "s", "cpu_sys_s": "s",
    "run_wall_s": "s", "offered_events_per_s": "events/s",
}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    """What a workload gets: its seed and time budget, an optional
    tracer, a private work directory inside the checkout, and a session
    factory that keeps every Spark and Python temp file inside it."""

    cores = min(4, os.cpu_count() or 1)

    def __init__(self, workload: str, seed: int, seconds: int, tracer):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        self.spark = None

    def start_session(self):
        """A fresh session from the engine's own factory."""
        from milvus_cdc_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        return self.spark

    def setups(self, build, repeats: int = 3):
        """Set up ``repeats`` times, each a fresh driver JVM and session
        plus what ``build(spark, i)`` constructs, and keep the last.
        Returns (state, setup seconds each, first session start seconds)."""
        times, state, cold = [], None, 0.0
        for i in range(repeats):
            self.stop_jvm()
            t0 = time.perf_counter()
            spark = self.start_session()
            if i == 0:
                cold = time.perf_counter() - t0
            state = build(spark, i)
            times.append(time.perf_counter() - t0)
        return state, times, cold

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def stop_jvm(self) -> None:
        """Stop the session and the driver JVM behind it, and wait for
        the JVM to exit; the next session starts a new one."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def close(self) -> None:
        self.stop_jvm()
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # another run's work directory is still there


def run_workload(args) -> int:
    sys.path.insert(0, ROOT)
    import importlib

    from perfbench.probes import PeakRss
    from perfbench.trace import Tracer

    module = importlib.import_module(f"perfbench.{args.workload}")
    bench = spec()
    tracer = Tracer() if args.trace else None
    ctx = Context(args.workload, args.seed, args.seconds, tracer)
    try:
        t0 = time.perf_counter()
        with PeakRss() as rss:
            res = module.run(ctx)
        res["e2e"]["peak_rss_mb"] = rss.peak
        res["detail"]["run_wall_s"] = time.perf_counter() - t0
    finally:
        if tracer is not None:
            tracer.unpatch()
        ctx.close()

    # the final-state check is one more operation; a mismatch fails it
    failed = res["failed"] + (0 if res["correct"] else 1)
    attempted = res["attempted"] + 1  # + the final-state check
    layers = {m["name"]: 0 for m in bench["per_layer"]}
    layers.update(res.get("layers", {}))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": res["correct"], "attempted": attempted,
        "failed": failed, "e2e": res["e2e"], "detail": res["detail"],
        "layers": layers if args.trace else {}, "host": {"cores": Context.cores},
        "finished": time.time(),
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    with open(os.path.join(OUT_DIR, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if tracer is not None:
        tracer.dump(os.path.join(OUT_DIR, stem + ".spans.jsonl"))
        with open(os.path.join(OUT_DIR, stem + ".layers.txt"), "w") as f:
            f.write("\n".join(res.get("table", [])) + "\n")

    print(f"== {args.workload} seed={args.seed} trace={args.trace} record={stem}.json")
    for k, v in sorted(res["detail"].items()):
        if not (isinstance(v, list) and len(v) > 10):
            print(f"  {k:34s} {v} {REPORT_UNITS.get(k, '')}")
    print(f"  {'error_rate':34s} {failed / attempted} ratio")
    for k, v in res["e2e"].items():
        print(f"  {k:34s} {v} {next(m['unit'] for m in bench['end_to_end'] if m['name'] == k)}")
    for line in res.get("table", []):
        print("  " + line)
    if args.trace:
        metrics = {
            m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
            for m in bench["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    print(json.dumps({
        "correct": bool(res["correct"]) and failed == 0,
        "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"),
                    help="A/B mode: two directories (or globs) of run records")
    args = ap.parse_args()
    if args.compare:
        sys.path.insert(0, ROOT)
        from perfbench.compare import compare

        return compare(args.compare[0], args.compare[1], spec())
    if not args.workload:
        ap.error("--workload or --compare is required")
    try:
        return run_workload(args)
    except Exception:
        traceback.print_exc()
        print("benchmark run failed; no result", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,curate} --seed N \
        --seconds S --trace {0,1} [--cores N]

Run from the repository root. Untraced runs (``--trace 0``) report the
end-to-end metrics; traced runs (``--trace 1``) report the per-layer metrics.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Every run also writes a run-stamped artifact under ``perfbench/runs/``.
The exit code is 0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402

WORKLOADS = ("ingest", "curate")


class Ctx:
    def __init__(self, args, work):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = args.cores
        self.work = work
        self.tracer = harness.Tracer(self.trace)
        self.children = []
        self.spark = None


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stop(ctx: Ctx) -> None:
    """Stop Spark and every process this run started, and wait for them."""
    for p in ctx.children:
        if p.poll() is None:
            p.kill()
        p.wait()
    if ctx.spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        ctx.spark.stop()
        gateway.shutdown()
        if proc is not None:
            # the JVM exits on EOF of its stdin; Spark is already stopped,
            # so one that lingers is killed
            proc.stdin.close()
            try:
                proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        if not harness.descendants(os.getpid()):
            return
        time.sleep(0.2)
    for pid in harness.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1,
                    help="local[N] for the session (default: nproc)")
    args = ap.parse_args()
    # a terminated run still stops its processes and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = _spec()
    wl = __import__(f"wl_{args.workload}")

    stamp = time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}"
    name = f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-c{args.cores}"
    work = os.path.join(HERE, ".work", name)
    os.makedirs(work)
    t_run = time.perf_counter()
    box_before = harness.box_stamp()
    ctx = Ctx(args, work)
    try:
        t0 = time.perf_counter()
        ctx.spark = harness.start_spark(work, args.cores, wl.JAVA_OPTS)
        ctx.spark.range(1000, numPartitions=args.cores).selectExpr("sum(id)").collect()
        setup = {"session_s": time.perf_counter() - t0}
        setup.update(wl.setup(ctx))
        setup_s = time.perf_counter() - t0
        result = wl.run(ctx)
        memory, jvm_pools = harness.memory_mb(ctx.spark)
        leaked = sum(1 for n in os.listdir(os.path.join(work, "tmp")) if n.startswith("sr_"))
        versions = {"spark": ctx.spark.version, "python": sys.version.split()[0]}
        mf = ctx.spark._jvm.java.lang.management.ManagementFactory
        jvm_args = list(mf.getRuntimeMXBean().getInputArguments())
        jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
    finally:
        try:
            _stop(ctx)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    import duckdb
    import pyspark

    versions.update({"pyspark": pyspark.__version__, "duckdb": duckdb.__version__})
    e2e = {"setup_s": setup_s, **result["end_to_end"]}
    setup_layers = {
        "setup.session_s": setup["session_s"],
        "setup.warmup_s": setup.get("warmup_s", 0.0),
        "setup.store_build_s": setup.get("store_build_s", 0.0),
        "setup.fixture_touch_s": setup.get("fixture_touch_s", 0.0),
    }
    layers = {**setup_layers, **memory, "leaked_tmp_dirs": leaked,
              **result.get("per_layer", {})}
    correct = result["failed"] == 0
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": f"local[{args.cores}]",
        "java_opts": wl.JAVA_OPTS, "jvm_args": jvm_args, "jit_ms": jit_ms,
        "wall_s": time.perf_counter() - t_run,
        "box_before": box_before, "box_after": harness.box_stamp(), "versions": versions,
        "correct": correct, "attempted": result["attempted"], "failed": result["failed"],
        "failed_ratio": result["failed"] / result["attempted"],
        "setup": setup, "jvm_pool_peak_mb": jvm_pools, "end_to_end": e2e,
        "workload_metrics": result.get("workload_metrics", {}),
        "per_layer": layers, "detail": result.get("detail", {}),
        "spans": ctx.tracer.spans,
    }
    os.makedirs(os.path.join(HERE, "runs"), exist_ok=True)
    with open(os.path.join(HERE, "runs", name + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

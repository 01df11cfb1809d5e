"""``curate``: a closed loop, one client, over a fixed 12-query registry mix.

Each query's time runs from the call into its registry function to the last
row of its complete result collected to the driver, so every output column is
computed (``count()`` would let Catalyst prune them). Results are checked
outside the timed region against the query's DuckDB oracle, with the value
hash of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import oracle
from harness import StatusStore, geomean, log, median, quantile, tracker_phases_ms

MIX = (
    "pca_power_iteration",
    "kmeans_clusters",
    "jaccard_links",
    "near_dup_pairs",
    "minhash_jaccard_calibration",
    "mann_whitney_u",
    "theil_sen_daily_trend",
    "lang_id_agreement_kappa",
    "q7_volume_shipping",
    "winnow_overlap_pairs",
    "naive_bayes_lang",
    "star_join_revenue",
)
SCALE = 0.01  # ≈ the repo's sf0.01 fixture row counts
JAVA_OPTS = ""  # the JVM's defaults (README "Warm-in and JIT")
WARMUP_SCALE = 0.001


def setup(ctx) -> dict:
    """Fixtures for the measured mix and a tiny copy for the warm-up pass."""
    from streamroom_bigdata_spark import registry
    from streamroom_bigdata_spark.sources import load_table

    t = time.perf_counter()
    ctx.fixtures = os.path.join(ctx.work, "fixtures")
    warm = os.path.join(ctx.work, "fixtures_warm")
    datagen.make_fixtures(ctx.fixtures, ctx.seed, SCALE)
    datagen.make_fixtures(warm, ctx.seed + 1, WARMUP_SCALE)
    ctx.queries = registry.queries()
    gen_s = time.perf_counter() - t

    # the warm-up pass only has to compile and load, so it runs the mix
    # concurrently, one query per core
    t = time.perf_counter()
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        list(pool.map(lambda name: ctx.queries[name](ctx.spark, warm).collect(), MIX))
    warmup_s = time.perf_counter() - t

    t = time.perf_counter()
    for table in oracle.TABLES:
        load_table(ctx.spark, ctx.fixtures, table).count()
    touch_s = time.perf_counter() - t
    return {"store_build_s": gen_s, "warmup_s": warmup_s, "fixture_touch_s": touch_s}


def run(ctx) -> dict:
    expected = oracle.duckdb_hashes(ctx.fixtures, MIX)
    status = StatusStore(ctx.spark)
    rng = random.Random(ctx.seed)
    runs: dict[str, list[dict]] = {q: [] for q in MIX}
    attempted = failed = 0
    # at least one pass; another only if it would end by the deadline, as
    # judged by the pass before it
    deadline = time.perf_counter() + ctx.seconds
    passes, pass_s = 0, 0.0
    while passes < 1 or time.perf_counter() + pass_s <= deadline:
        t_pass = time.perf_counter()
        order = list(MIX)
        rng.shuffle(order)
        for name in order:
            rec, ok = _one_query(ctx, status, name, expected[name])
            runs[name].append(rec)
            attempted += 1
            failed += not ok
        passes += 1
        pass_s = time.perf_counter() - t_pass
    log(f"curate: {passes} passes, {failed} failed")

    per_q = {q: median([r["total_s"] for r in rs]) for q, rs in runs.items()}
    total = sum(per_q.values())
    out = {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "latency_p50_ms": 1000 * median(per_q.values()),
            "latency_tail_ms": 1000 * quantile(per_q.values(), 0.9),
            "latency_geomean_ms": 1000 * geomean(per_q.values()),
            "throughput_per_s": len(MIX) / total,
        },
        "workload_metrics": {
            "curate_total_s": total,
            "curate_geomean_s": geomean(per_q.values()),
        },
        "detail": {"passes": passes, "per_query_s": per_q,
                   "runs": runs},
    }
    if ctx.trace:
        out["per_layer"] = _layers(runs, total, ctx.cores)
        out["detail"]["build_ledger"] = build_ledger(out["per_layer"])
    return out


def _one_query(ctx, status, name: str, want: dict) -> tuple[dict, bool]:
    """One query, timed in two parts: the call into its registry function,
    then the collect. Before each part, traced or not, the listener bus is
    left to drain, so neither part pays for the events of the one before and
    a traced run times the same work as an untraced one."""
    fn = ctx.queries[name]
    with ctx.tracer.span("curate.query", query=name):
        status.settle()
        j0 = status.job_count() if ctx.trace else 0
        t0 = time.perf_counter()
        with ctx.tracer.span("registry.build"):
            df = fn(ctx.spark, ctx.fixtures)
        t1 = time.perf_counter()
        status.settle()
        j1 = status.job_count() if ctx.trace else 0
        t1b = time.perf_counter()
        with ctx.tracer.span("spark.collect"):
            rows = df.collect()
        t2 = time.perf_counter()
    rec = {"build_wall_s": t1 - t0, "collect_s": t2 - t1b,
           "total_s": (t1 - t0) + (t2 - t1b)}
    if ctx.trace:
        status.settle()
        j2 = status.job_count()
        ph = tracker_phases_ms(df)
        opt_plan = ph.get("optimization", 0.0) + ph.get("planning", 0.0)
        b = status.jobs_delta(range(j0, j1))
        e = status.jobs_delta(range(j1, j2))
        rec.update({
            "build_s": rec["build_wall_s"] - ph.get("analysis", 0.0) / 1000,
            "plan_ms": ph.get("analysis", 0.0) + opt_plan,
            "exec_s": rec["collect_s"] - opt_plan / 1000,
            "build_jobs": b["jobs"], "exec_jobs": e["jobs"],
            "tasks": b["tasks"] + e["tasks"],
            "executor_cpu_ns": b["executorCpuTime"] + e["executorCpuTime"],
            "shuffle_read_bytes": b["shuffleReadBytes"] + e["shuffleReadBytes"],
            "shuffle_write_bytes": b["shuffleWriteBytes"] + e["shuffleWriteBytes"],
            "spill_bytes": sum(d["memoryBytesSpilled"] + d["diskBytesSpilled"] for d in (b, e)),
            "gc_ms": b["jvmGcTime"] + e["jvmGcTime"],
        })
    got = oracle.value_hash([tuple(r) for r in rows], df.columns)
    ok = len(rows) == want["rows"] and sorted(df.columns) == want["columns"] and got == want["hash"]
    if not ok:
        log(f"curate: {name} disagrees with its oracle "
            f"(rows {len(rows)} vs {want['rows']}, columns {sorted(df.columns)} vs {want['columns']})")
    return rec, ok


def _layers(runs: dict, total: float, cores: int) -> dict:
    def med(q, k):
        return median([r[k] for r in runs[q]])

    out = {}
    for q in MIX:
        out[f"curate.{q}.build_s"] = med(q, "build_s")
        out[f"curate.{q}.build_jobs"] = med(q, "build_jobs")
        out[f"curate.{q}.plan_ms"] = med(q, "plan_ms")
        out[f"curate.{q}.exec_s"] = med(q, "exec_s")
        out[f"curate.{q}.exec_jobs"] = med(q, "exec_jobs")
        out[f"curate.{q}.shuffle_bytes"] = med(q, "shuffle_write_bytes")
    cpu_s = sum(med(q, "executor_cpu_ns") for q in MIX) / 1e9
    out.update({
        "curate.build_s": sum(med(q, "build_s") for q in MIX),
        "curate.plan_ms": sum(med(q, "plan_ms") for q in MIX),
        "curate.exec_s": sum(med(q, "exec_s") for q in MIX),
        "curate.jobs": sum(med(q, "build_jobs") + med(q, "exec_jobs") for q in MIX),
        "curate.tasks": sum(med(q, "tasks") for q in MIX),
        "curate.executor_cpu_s": cpu_s,
        "curate.cpu_utilization": cpu_s / (total * cores),
        "curate.shuffle_read_bytes": sum(med(q, "shuffle_read_bytes") for q in MIX),
        "curate.shuffle_write_bytes": sum(med(q, "shuffle_write_bytes") for q in MIX),
        "curate.spill_bytes": sum(med(q, "spill_bytes") for q in MIX),
        "curate.gc_ms": sum(med(q, "gc_ms") for q in MIX),
    })
    return out


def build_ledger(per_layer: dict, top: int = 5) -> list[tuple[str, float]]:
    """The ``top`` largest per-query build times, by name."""
    builds = [(q, per_layer[f"curate.{q}.build_s"]) for q in MIX]
    return sorted(builds, key=lambda x: -x[1])[:top]

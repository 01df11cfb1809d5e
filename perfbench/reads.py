"""The read path, ``plans.domain.recommend_classrooms``, measured in
``ingest``'s traced run over the bronze store that run's router wrote.

``MAX_INFLIGHT`` clients serve ``REQUESTS`` requests back to back, each
collecting its full result. The seed sets each request's sizes and ``k``.
Every response is checked against a top-k recomputed in Python from the
generator's records.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from harness import StatusStore, log, median, tracker_phases_ms
from streamroom_bigdata_spark.plans import domain
from streamroom_bigdata_spark.plans.domain import recommend_classrooms

REQUESTS = 8
MAX_INFLIGHT = 4
SIZES = (15, 25, 40, 60, 90, 120, 180)
KS = (3, 5, 10)


def _params(rng: random.Random) -> tuple[tuple[int, ...], int]:
    sizes = tuple(sorted(rng.sample(SIZES, rng.randint(1, 3))))
    return sizes, rng.choice(KS)


def _request(ctx, bronze, status, params, group):
    sizes, k = params
    ctx.spark.sparkContext.setJobGroup(group, group)
    with ctx.tracer.span("domain.request", trace_id=group):
        t0 = time.perf_counter()
        with ctx.tracer.span("domain.recommend_classrooms"):
            df = recommend_classrooms(ctx.spark, bronze, request_sizes=sizes, k=k)
        t1 = time.perf_counter()
        with ctx.tracer.span("spark.collect"):
            rows = df.collect()
        t2 = time.perf_counter()
    rec = {"build_ms": 1000 * (t1 - t0), "collect_ms": 1000 * (t2 - t1)}
    ph = tracker_phases_ms(df)
    opt_plan = ph.get("optimization", 0.0) + ph.get("planning", 0.0)
    jobs = status.jobs_delta(status.group_jobs(group))
    rec.update({"plan_ms": ph.get("analysis", 0.0) + opt_plan,
                "exec_ms": rec["collect_ms"] - opt_plan,
                "jobs": jobs["jobs"], "tasks": jobs["tasks"]})
    return rows, rec


def read_layers(ctx, bronze: str, records: list[dict]) -> tuple[dict, int]:
    """Per-layer metrics of ``plans.domain`` over ``bronze``, and the number
    of wrong or failed responses."""
    status = StatusStore(ctx.spark)
    reference = _Reference(records)
    rng = random.Random(ctx.seed)
    params = [_params(rng) for _ in range(REQUESTS)]

    def one(i):
        try:
            rows, rec = _request(ctx, bronze, status, params[i], f"read-{i}")
            rec["ok"] = reference.check(rows, params[i])
        except Exception as e:  # a failed request is counted, not fatal
            log(f"reads: request {i} failed: {e!r}")
            rec = {"ok": False}
        return rec

    with ctx.tracer.span("reads"):
        with ThreadPoolExecutor(max_workers=MAX_INFLIGHT) as pool:
            recs = list(pool.map(one, range(REQUESTS)))
    ok = [r for r in recs if r["ok"]]
    files = sum(
        1 for ent in ("classroom", "fixed_booking", "one_time_booking")
        for _, _, names in os.walk(os.path.join(bronze, ent))
        for f in names if f.endswith(".parquet"))
    layers = {
        "domain.build_ms_p50": median([r["build_ms"] for r in ok]),
        "domain.plan_ms_p50": median([r["plan_ms"] for r in ok]),
        "domain.exec_ms_p50": median([r["exec_ms"] for r in ok]),
        "domain.jobs_per_query": median([r["jobs"] for r in ok]),
        "domain.tasks_per_query": median([r["tasks"] for r in ok]),
        "domain.files_scanned_per_query": files,
    }
    return layers, len(recs) - len(ok)


class _Reference:
    """``recommend_classrooms``'s scoring, recomputed in Python from the
    generator's records (reference: processing.scala:101-129)."""

    def __init__(self, records: list[dict]):
        self.capacity = {r["classroom_id"]: r["capacity"]
                         for r in records if r["source_type"] == "classroom"}
        self.usage: dict[str, int] = {}
        for r in records:
            if r["source_type"] in ("fixed_booking", "one_time_booking"):
                self.usage[r["classroom_id"]] = self.usage.get(r["classroom_id"], 0) + 1
        self.max_usage = max(self.usage.values(), default=0)
        self.cache: dict = {}

    def expected(self, params) -> list[tuple]:
        if params not in self.cache:
            sizes, k = params
            out = []
            for s in sizes:
                scored = []
                for room, cap in self.capacity.items():
                    if cap < s:
                        continue
                    u = self.usage.get(room, 0)
                    avail = domain.AVAIL_BOOKED if room in self.usage else domain.AVAIL_FREE
                    score = (domain.W_CONTENT
                             + domain.W_COLLAB * (u / max(self.max_usage, 1))
                             + domain.W_AVAIL * avail)
                    scored.append((-score, room, cap))
                scored.sort()
                out += [(s, room, cap, -neg, rank + 1)
                        for rank, (neg, room, cap) in enumerate(scored[:k])]
            self.cache[params] = out
        return self.cache[params]

    def check(self, rows, params) -> bool:
        want = self.expected(params)
        got = sorted((r.request_students, r.rnk, r.classroom_id, r.capacity, r.final_score)
                     for r in rows)
        want = sorted((s, rank, room, cap, score) for s, room, cap, score, rank in want)
        return len(got) == len(want) and all(
            g[:4] == w[:4] and abs(g[4] - w[4]) <= 1e-6 for g, w in zip(got, want))

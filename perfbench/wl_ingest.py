"""``ingest``: the write path, file source → ``parse_wire`` → ``start_router``.

The router always runs with ``start_router``'s default arguments.

First an open loop on a running router: a separate generator process
(``sender.py``) drops wire files on a fixed schedule that offers
``OFFERED_EPS`` events/s, the same traffic for every version of the program.
The first ``WARM_IN_S`` seconds of it warm the router and are not measured;
the next ``seconds`` are. A send's latency runs from its scheduled time to the
commit of the micro-batch that holds it, read from the checkpoint's
``sources/`` and ``commits/`` logs.

Then the drain: with the router down, a fixed backlog is written; the router
restarts on its checkpoint, and the drain rate is the backlog's events over
the time from restart to its last commit.

Traced runs then measure the read side, ``plans.domain``, over the store
this run wrote (``reads.py``).

Check: bronze per-entity row counts equal the generator's sent counts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter

from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

import datagen
import reads
from harness import StatusStore, geomean, log, median, quantile
from streamroom_bigdata_spark.sources.readers import stream_file_source
from streamroom_bigdata_spark.streaming.ingest import parse_wire
from streamroom_bigdata_spark.streaming.router import start_router

SEND_EVENTS = 200  # events per send (the room catalog rides on send 0)
# Offered rate of the open loop, in events/s: about half of the drain rate
# of a router that has not warmed up, on a 4-core box (median 4 265 events/s
# over ten seeds, 20k-event backlog); the warm drain measured now, on an
# 80k-event backlog, reads about 10 000. Fixed, so every version of the
# program is offered the same traffic (README "Rates and sizes").
OFFERED_EPS = 2000
BACKLOG_SENDS = 400  # 80k events for the drain phase
WARMUP_SENDS = 3
# The open loop's first seconds are not measured: they let the running
# router's micro-batches settle (README "Warm-in and JIT").
WARM_IN_S = 8
# The driver JVM compiles with C1 only. Under the default tiered JIT, C2's
# compile queue kept ~2.4 of 4 cores busy through the whole first minute of
# a run, and send latency measured that queue: it spread by 0.23-0.26 of its
# median over ten seeds. With C1 only, compiling takes ~0.2 of a core by the
# open loop (README "Warm-in and JIT").
JAVA_OPTS = "-XX:TieredStopAtLevel=1"

HERE = os.path.dirname(os.path.abspath(__file__))
WIRE = T.StructType([T.StructField("value", T.StringType())])


def start(ctx, d: dict):
    """The program's write path over the dirs ``d``: file source → wire
    parse → ``start_router`` with its default arguments."""
    raw = stream_file_source(ctx.spark, d["wire/in"], WIRE, fmt="text")
    return start_router(parse_wire(raw), d["bronze"], d["checkpoint"])


def dirs(root: str) -> dict:
    d = {k: os.path.join(root, k) for k in ("wire/in", "bronze", "checkpoint")}
    os.makedirs(d["wire/in"], exist_ok=True)
    return d


def _send(d: dict, seed: int, i: int) -> dict:
    recs = datagen.wire_records(seed, i, SEND_EVENTS)
    size = datagen.write_wire_file(os.path.join(d["wire/in"], f"send-{i:06d}.json"), recs)
    return {"counts": datagen.entity_counts(recs), "bytes": size}


def setup(ctx) -> dict:
    """Warm the write path; this also leaves the checkpoint the drain's
    restart resumes from."""
    t = time.perf_counter()
    ctx.dirs = dirs(os.path.join(ctx.work, "ingest"))
    ctx.warm_sends = [_send(ctx.dirs, ctx.seed, i) for i in range(WARMUP_SENDS)]
    q = start(ctx, ctx.dirs)
    q.processAllAvailable()
    q.stop()
    return {"warmup_s": time.perf_counter() - t}


class Progress(StreamingQueryListener):
    """Keeps every micro-batch's progress report."""

    def __init__(self):
        self.events = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def run(ctx) -> dict:
    d = ctx.dirs
    status = StatusStore(ctx.spark) if ctx.trace else None
    listener = None
    if ctx.trace:
        listener = Progress()
        ctx.spark.streams.addListener(listener)

    # open loop on a running router; its first WARM_IN_S seconds are not measured
    before = set(_checkpoint_log(d["checkpoint"])[1])
    hz = OFFERED_EPS / SEND_EVENTS
    n_warm = round(WARM_IN_S * hz)
    n_open = n_warm + max(1, round(ctx.seconds * hz))
    first = WARMUP_SENDS
    ledger_path = os.path.join(ctx.work, "ledger.jsonl")
    q = start(ctx, d)
    q.processAllAvailable()
    if status:
        status.settle()
    j0 = status.job_count() if status else 0
    with ctx.tracer.span("ingest.open_loop"):
        sender = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sender.py"), "--dir", d["wire/in"],
             "--ledger", ledger_path, "--seed", str(ctx.seed), "--first", str(first),
             "--count", str(n_open), "--hz", repr(hz), "--events", str(SEND_EVENTS),
             "--t0", repr(time.time() + 0.5)])
        ctx.children.append(sender)
        if sender.wait(timeout=n_open / hz + 60) != 0:
            raise RuntimeError("sender failed")
        q.processAllAvailable()
        q.stop()
    if status:
        status.settle()
    j1 = status.job_count() if status else 0
    with open(ledger_path) as f:
        sends = [json.loads(line) for line in f]
    open_batches = set(_checkpoint_log(d["checkpoint"])[1]) - before

    # drain: a fixed backlog written while the router is down
    first += n_open
    backlog = [_send(d, ctx.seed, i) for i in range(first, first + BACKLOG_SENDS)]
    with ctx.tracer.span("ingest.drain"):
        t_restart = time.time()
        q = start(ctx, d)
        q.processAllAvailable()
        q.stop()
    file_batch, commit_t = _checkpoint_log(d["checkpoint"])
    drain_batches = set(commit_t) - before - open_batches
    drain_end = max(commit_t[b] for b in drain_batches)
    backlog_events = sum(sum(b["counts"].values()) for b in backlog)
    drain_eps = backlog_events / (drain_end - t_restart)

    lat_ms, missing = [], 0
    for s in sends:
        b = file_batch.get(s["file"])
        if b is None or b not in commit_t:
            missing += 1
        elif s["index"] >= WARMUP_SENDS + n_warm:
            lat_ms.append(1000 * (commit_t[b] - s["scheduled"]))

    # check: every sent event landed exactly once
    sent = Counter()
    for s in ctx.warm_sends + backlog + sends:
        sent.update(s["counts"])
    landed = {ent: ctx.spark.read.parquet(os.path.join(d["bronze"], ent)).count()
              for ent in sent}
    wrong = [e for e in sent if landed[e] != sent[e]]
    if wrong or missing:
        log(f"ingest: sent {dict(sent)} landed {landed}; {missing} sends never committed")
    attempted = len(ctx.warm_sends) + len(backlog) + len(sends)
    failed = missing + (attempted if wrong else 0)

    out = {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "latency_p50_ms": median(lat_ms),
            "latency_tail_ms": quantile(lat_ms, 0.95),
            "latency_geomean_ms": geomean(lat_ms),
            "throughput_per_s": drain_eps,
        },
        "workload_metrics": {
            "ingest_latency_p50_ms": median(lat_ms),
            "ingest_latency_p95_ms": quantile(lat_ms, 0.95),
            "ingest_drain_eps": drain_eps,
        },
        "detail": {
            "sends": len(sends), "warm_in_sends": n_warm,
            "send_events": SEND_EVENTS, "send_hz": hz,
            "offered_eps": SEND_EVENTS * hz, "backlog_events": backlog_events,
            "drain_s": drain_end - t_restart, "drain_batches": len(drain_batches),
            "open_loop_batches": len(open_batches), "sent": dict(sent), "landed": landed,
        },
    }
    store = store_layers(d["bronze"], len(commit_t),
                         sum(s["bytes"] for s in ctx.warm_sends + backlog + sends))
    out["detail"]["store"] = store
    if ctx.trace:
        ctx.spark.streams.removeListener(listener)
        progress = [p for p in listener.events if p["batchId"] in open_batches]
        out["per_layer"] = _layers(progress, status.jobs_delta(range(j0, j1)),
                                   sends, file_batch, commit_t, store)
        out["detail"]["progress"] = listener.events
        out["detail"]["trigger_phase_coverage"] = _phase_coverage(progress)
        # the read side of the store this run wrote
        indices = range(WARMUP_SENDS + n_open + BACKLOG_SENDS)
        records = [r for i in indices for r in datagen.wire_records(ctx.seed, i, SEND_EVENTS)]
        read, read_failed = reads.read_layers(ctx, d["bronze"], records)
        out["per_layer"].update(read)
        out["attempted"] += reads.REQUESTS
        out["failed"] += read_failed
    return out


def _checkpoint_log(checkpoint: str) -> tuple[dict, dict]:
    """File → batch id from the file source's metadata log, and batch id →
    commit time (the commit file's mtime) from the commit log."""
    file_batch = {}
    src = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    file_batch[os.path.basename(e["path"])] = e["batchId"]
    commits = os.path.join(checkpoint, "commits")
    commit_t = {int(n): os.stat(os.path.join(commits, n)).st_mtime
                for n in os.listdir(commits) if n.isdigit()}
    return file_batch, commit_t


def store_layers(bronze: str, batches: int, input_bytes: int) -> dict:
    files = size = 0
    for dirpath, _, names in os.walk(bronze):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return {
        "store.files": files,
        "store.files_per_batch": files / max(1, batches),
        "store.bytes_per_input_byte": size / max(1, input_bytes),
    }


def _phase_coverage(progress) -> float:
    """Share of the data batches' trigger time that their named
    ``durationMs`` phases account for."""
    data = [p["durationMs"] for p in progress if p["numInputRows"] > 0]
    total = sum(x["triggerExecution"] for x in data)
    parts = sum(v for x in data for k, v in x.items() if k != "triggerExecution")
    return parts / total if total else float("nan")


def _layers(progress, jobs, sends, file_batch, commit_t, store) -> dict:
    data = [p for p in progress if p["numInputRows"] > 0]
    dur = [p["durationMs"] for p in data]
    events = sum(p["numInputRows"] for p in data)
    n = max(1, len(data))
    # backlog: sends written but not yet committed, sampled at each write
    done = sorted(commit_t[file_batch[s["file"]]] for s in sends
                  if file_batch.get(s["file"]) in commit_t)
    backlog_max = 0
    for k, s in enumerate(sorted(sends, key=lambda s: s["written"])):
        committed = sum(1 for t in done if t <= s["written"])
        backlog_max = max(backlog_max, k + 1 - committed)
    return {
        "readers.latest_offset_ms": median([x.get("latestOffset", 0) for x in dur]),
        "readers.get_batch_ms": median([x.get("getBatch", 0) for x in dur]),
        "router.batches": len(data),
        "router.events_per_batch": events / n,
        "router.trigger_ms_p50": median([x["triggerExecution"] for x in dur]),
        "router.trigger_ms_p95": quantile([x["triggerExecution"] for x in dur], 0.95),
        "router.add_batch_ms_total": sum(x.get("addBatch", 0) for x in dur),
        "router.query_planning_ms_total": sum(x.get("queryPlanning", 0) for x in dur),
        "router.wal_commit_ms_total": sum(x.get("walCommit", 0) for x in dur),
        "router.jobs_per_batch": jobs["jobs"] / n,
        "router.tasks_per_batch": jobs["tasks"] / n,
        "router.executor_cpu_ms": jobs["executorCpuTime"] / 1e6,
        "router.records_read_per_event": jobs["inputRecords"] / max(1, events),
        "router.backlog_files_max": backlog_max,
        "gen.lag_max_ms": 1000 * max(s["written"] - s["scheduled"] for s in sends),
        **store,
    }

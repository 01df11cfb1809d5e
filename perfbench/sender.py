"""The ingest generator: a separate process that drops wire files into the
router's watched directory on a fixed schedule (an open loop).

Send ``i`` is due at ``t0 + i / hz`` (wall clock). It is written when due, or
at once if the sender is late; lateness is recorded, never made up by
skipping. Each line of the ledger (JSON) records one send: its file, index,
scheduled and actual write times, bytes and per-entity event counts.

    python3 perfbench/sender.py --dir D --ledger L --seed S --first F \
        --count N --hz H --events E --t0 T
"""

from __future__ import annotations

import argparse
import json
import os
import time

import datagen


def main() -> int:
    ap = argparse.ArgumentParser()
    for flag in ("--dir", "--ledger"):
        ap.add_argument(flag, required=True)
    for flag in ("--seed", "--first", "--count", "--events"):
        ap.add_argument(flag, type=int, required=True)
    ap.add_argument("--hz", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()
    with open(a.ledger, "w") as ledger:
        for n in range(a.count):
            i = a.first + n
            records = datagen.wire_records(a.seed, i, a.events)
            due = a.t0 + n / a.hz
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            path = os.path.join(a.dir, f"send-{i:06d}.json")
            size = datagen.write_wire_file(path, records)
            ledger.write(json.dumps({
                "file": os.path.basename(path), "index": i, "scheduled": due,
                "written": time.time(), "bytes": size,
                "counts": datagen.entity_counts(records),
            }) + "\n")
            ledger.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

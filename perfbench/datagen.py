"""Seeded inputs for the benchmark: SmartRoom wire files and TPC-H-ish fixtures.

Everything here is a pure function of the seed (and a file index), so any
input can be regenerated to check the program's output against it.

- ``wire_records`` builds one "send" of the ingest generator: a JSON-lines file
  of wire records over all six entity types, with unique keys and
  Zipf-skewed ``classroom_id`` references.
- ``make_fixtures`` writes the ten parquet tables the ``curate`` queries read
  (same names and schemas as the repo's fixture tables, see FIXTURES.md §2).
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np

# The traffic shape below is an assumption, not a measurement: the repository
# holds no SmartRoom traffic (the reference's producer reads CSV files that are
# not in it). The mix, the Zipf exponent, the room space and the send size
# (wl_ingest.SEND_EVENTS) are listed as unverified in the README.
# Entity mix of one wire file, by share of events.
ENTITY_MIX = {
    "fixed_booking": 0.40,
    "one_time_booking": 0.20,
    "sections": 0.15,
    "courses": 0.10,
    "professors": 0.10,
    "classroom": 0.05,
}
ROOM_SPACE = 400  # booking/section classroom_id references are drawn from R00000..
ZIPF_S = 1.1


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w) / w.sum()


_ROOM_CDF = _zipf_cdf(ROOM_SPACE, ZIPF_S)


def _rooms(seed: int) -> np.ndarray:
    """Seeded rank → room-id permutation, so the hot rooms differ by seed."""
    return np.random.default_rng([seed, 0xC1A55]).permutation(ROOM_SPACE)


def wire_records(seed: int, file_index: int, n_events: int) -> list[dict]:
    """The records of one send. Keys embed (seed, file, position), so they
    are unique across every file of a run. File 0 also carries the catalog
    of the ``ROOM_SPACE`` rooms that bookings and sections reference."""
    rng = np.random.default_rng([seed, file_index])
    rooms = _rooms(seed)
    names = list(ENTITY_MIX)
    kinds = rng.choice(len(names), size=n_events, p=list(ENTITY_MIX.values()))
    room_ref = rooms[np.searchsorted(_ROOM_CDF, rng.random(n_events))]
    ints = rng.integers(0, 1 << 30, size=(n_events, 4))
    day = f"2024-{1 + file_index % 12:02d}-{1 + file_index % 28:02d}"
    stamp = f"{day} {file_index // 3600 % 24:02d}:{file_index // 60 % 60:02d}:{file_index % 60:02d}"
    out = _room_catalog(seed, day, stamp) if file_index == 0 else []
    for j in range(n_events):
        ent = names[kinds[j]]
        a, b, c, d = (int(x) for x in ints[j])
        key = f"{seed}-{file_index}-{j}"
        room = f"R{int(room_ref[j]):05d}"
        hour = 8 + a % 10
        if ent == "fixed_booking":
            rec = {"booking_id": f"B{key}", "section_id": f"S{b % 300}",
                   "classroom_id": room, "date": day,
                   "start_time": f"{hour:02d}:00:00", "end_time": f"{hour + 1:02d}:00:00",
                   "students": 5 + c % 120}
        elif ent == "one_time_booking":
            rec = {"onetime_id": f"O{key}", "professor_id": f"P{b % 200}",
                   "classroom_id": room, "date": day,
                   "start_time": f"{hour:02d}:00:00", "end_time": f"{hour + 2:02d}:00:00",
                   "students": 5 + c % 120, "booking_type": ("exam", "lecture", "event")[d % 3]}
        elif ent == "sections":
            rec = {"section_id": f"S{key}", "course_id": f"K{b % 150}",
                   "professor_id": f"P{c % 200}", "day_schedule": ("Sun", "Mon", "Tue", "Wed", "Thu")[d % 5],
                   "start_hour": str(hour), "duration_hours": str(1 + a % 3),
                   "classroom_id": room, "fixed_students": 5 + c % 120}
        elif ent == "courses":
            rec = {"course_id": f"K{key}", "course_name": f"course_{b % 997}",
                   "department": f"dept_{c % 12}", "fixed_students": 5 + d % 150}
        elif ent == "professors":
            rec = {"professor_id": f"P{key}", "name": f"prof_{b % 9973}",
                   "department": f"dept_{c % 12}", "college_id": f"COL{d % 6}"}
        else:
            # rooms sent after the catalog are new and never booked
            rec = {"classroom_id": f"C{key}", "college_id": f"COL{d % 6}",
                   "room_number": str(100 + b % 900), "capacity": 20 + c % 281}
        rec["source_type"] = ent
        rec["ingestion_timestamp"] = stamp
        rec["ingestion_date"] = day
        out.append(rec)
    return out


def _room_catalog(seed: int, day: str, stamp: str) -> list[dict]:
    """The first send carries one classroom record per bookable room."""
    cap = np.random.default_rng([seed, 0xCA9]).integers(20, 301, size=ROOM_SPACE)
    return [
        {"classroom_id": f"R{i:05d}", "college_id": f"COL{i % 6}",
         "room_number": str(100 + i), "capacity": int(cap[i]),
         "source_type": "classroom", "ingestion_timestamp": stamp,
         "ingestion_date": day}
        for i in range(ROOM_SPACE)
    ]


def write_wire_file(path: str, records: list[dict]) -> int:
    """Write one send as JSON lines, atomically: a temp name in the same
    directory's parent, then a rename into place. Returns bytes written."""
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in records).encode()
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, path)
    return len(data)


def entity_counts(records: list[dict]) -> Counter:
    return Counter(r["source_type"] for r in records)


# ---------------------------------------------------------------------------
# curate fixtures
# ---------------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector dup"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
_PWORDS = ("small", "red", "blue", "hot", "old", "green")
_PNOUNS = ("ring", "widget", "bolt", "gear", "gizmo", "nut")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
ORDER_DAYS = 1000  # calendar span of o_orderdate; theil_sen is O(days²)
EMBED_DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_fixtures(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten fixture tables at ``scale`` (1.0 ≈ TPC-H sf1 row counts
    for the fact tables) into ``out_dir/<table>.parquet``. Returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0xF1])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * scale))
    n_doc = max(100, int(50_000 * scale))
    n_vec = max(100, int(50_000 * scale))
    ms_day = 86_400_000
    t0_orders = np.datetime64("1995-01-01", "ms").astype(np.int64)
    t0_events = np.datetime64("2024-01-01", "ms").astype(np.int64)
    ts_ms = pa.timestamp("ms")

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{_PWORDS[a]} {_PNOUNS[b]}" for a, b in rng.integers(0, 6, (n_part, 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(t0_orders + rng.integers(0, ORDER_DAYS, n_ord) * ms_day, ts_ms),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            t0_orders + rng.integers(0, ORDER_DAYS + 120, n_line) * ms_day, ts_ms),
    })
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": pa.array(
            t0_events * 1000 + np.sort(rng.integers(0, 30 * ms_day * 1000, n_evt)),
            pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_evt), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(np.minimum(rng.lognormal(3.5, 1.0, n_evt), 490.0) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)],
    })
    # documents: random word soup plus planted near-duplicates (a copy of an
    # earlier document with a few words replaced), so the dedup queries
    # have real pairs to find
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            for p in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[p] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 95)))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # embeddings: unit vectors scattered around one centroid per label
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}

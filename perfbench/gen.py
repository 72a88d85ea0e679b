"""Seeded input generators owned by the benchmark.

Every workload input comes from here, never from the program's own
fixture helpers, so a change to ``sources.cdc.generate_change_events``
or ``bench._generate_binary_commitlog`` cannot change what the
benchmark feeds the program. The same seed gives byte-identical files.

Each CDC generator returns the list of logical events it wrote (the
reference the output checks replay) and a manifest recording the
duplicate, malformed, unknown-column and delete shares and the key
skew actually injected.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass, field

import numpy as np

BASE_MICROS = 1_700_000_000_000_000

#: registered schema of the trickle table: two PII fields
#: (email, phone) under the program's default masking rules
TRICKLE_COLUMNS = {
    "user_id": "text",
    "email": "text",
    "phone": "text",
    "first_name": "text",
    "last_name": "text",
    "age": "int",
    "city": "text",
    "created_at": "timestamp",
}

#: registered schema of the bulk table: three PII fields (email,
#: phone, ssn) and two PHI fields (patient_id, medical_record_number)
BULK_COLUMNS = {
    "patient_id": "text",
    "email": "text",
    "phone": "text",
    "ssn": "text",
    "medical_record_number": "text",
    "first_name": "text",
    "last_name": "text",
    "age": "int",
    "city": "text",
    "updated_at": "timestamp",
}

CITIES = ["hanoi", "berlin", "lyon", "austin", "osaka", "lagos", "lima"]


@dataclass
class CdcInput:
    """Files of one CDC workload, in trigger order, plus the events
    each file carries (duplicates and malformed rows excluded)."""

    table: str
    keyspace: str
    key_col: str
    columns: dict[str, str]
    files: list[str] = field(default_factory=list)
    events: list[list[dict]] = field(default_factory=list)
    malformed: list[int] = field(default_factory=list)
    manifest: dict = field(default_factory=dict)


def _key_probs(n_keys: int, zipf_s: float) -> np.ndarray:
    if zipf_s == 0:
        return np.full(n_keys, 1.0 / n_keys)
    w = 1.0 / np.arange(1, n_keys + 1) ** zipf_s
    return w / w.sum()


def _events(
    rng: np.random.Generator,
    n: int,
    first_index: int,
    keys: np.ndarray,
    delete_share: float,
    make_payload,
) -> list[dict]:
    """``n`` logical change events with globally increasing timestamps
    (so latest-wins is decided by timestamp alone)."""
    kinds = rng.random(n)
    steps = rng.integers(1, 1000, n) * 1000
    salts = rng.integers(0, 2**32, n)
    out = []
    for j in range(n):
        i = first_index + j
        key = str(keys[j])
        if kinds[j] < delete_share:
            etype = "DELETE"
        elif kinds[j] < delete_share + (1 - delete_share) * 0.3:
            etype = "UPDATE"
        else:
            etype = "INSERT"
        payload = {} if etype == "DELETE" else make_payload(i, key, j)
        out.append(
            {
                "event_id": f"e{i:09d}-{salts[j]:08x}",
                "event_type": etype,
                "key": key,
                "payload": payload,
                "timestamp_micros": BASE_MICROS + i * 1_000_000 + int(steps[j]),
            }
        )
    return out


def _envelope(ev: dict, keyspace: str, table: str, key_col: str) -> dict:
    return {
        "event_id": ev["event_id"],
        "event_type": ev["event_type"],
        "table_name": table,
        "keyspace": keyspace,
        "partition_key": {key_col: ev["key"]},
        "clustering_key": {},
        "columns": json.dumps(ev["payload"]),
        "timestamp_micros": ev["timestamp_micros"],
        "ttl_seconds": None,
        "captured_at": "2024-01-02T00:00:00.000Z",
    }


def trickle_input(
    out_dir: str,
    seed: int,
    n_files: int,
    events_per_file: int = 2000,
    n_keys: int = 20_000,
    dup_share: float = 0.01,
    malformed_share: float = 0.01,
    unknown_share: float = 0.02,
    delete_share: float = 0.05,
) -> CdcInput:
    """JSONL envelope segments for the ``users`` table: one file per
    trigger, uniform keys, exact duplicate deliveries placed next to
    their original (same trigger), malformed lines that parse to an
    all-null envelope, and a share of payloads with an unknown column."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    inp = CdcInput("users", "ecommerce", "user_id", dict(TRICKLE_COLUMNS))

    def payload(i: int, key: str, j: int) -> dict:
        p = {
            "user_id": key,
            "email": f"user{i}@example.com",
            "phone": f"+84-{100000 + (i * 7919) % 900000}",
            "first_name": f"fn{i % 97}",
            "last_name": f"ln{i % 89}",
            "age": 18 + i % 70,
            "city": CITIES[i % len(CITIES)],
            "created_at": "2024-01-01T00:00:00Z",
        }
        if unknown_flags[j]:
            p["surprise_col"] = "schema-drift"
        return p

    totals = {"events": 0, "dups": 0, "malformed": 0, "unknown": 0, "deletes": 0}
    key_pool = np.array([f"u{k:07d}" for k in range(n_keys)])
    for f in range(n_files):
        first = f * events_per_file
        keys = key_pool[rng.integers(0, n_keys, events_per_file)]
        unknown_flags = rng.random(events_per_file) < unknown_share
        evs = _events(rng, events_per_file, first, keys, delete_share, payload)
        dup = rng.random(events_per_file) < dup_share
        bad = rng.random(events_per_file) < malformed_share
        lines = []
        for j, ev in enumerate(evs):
            if bad[j]:
                lines.append('{"event_id": "broken", "event_type": INVALID}')
            line = json.dumps(_envelope(ev, inp.keyspace, inp.table, inp.key_col))
            lines.append(line)
            if dup[j]:
                lines.append(line)
        path = os.path.join(out_dir, f"commitlog-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        inp.files.append(path)
        inp.events.append(evs)
        inp.malformed.append(int(bad.sum()))
        totals["events"] += len(evs)
        totals["dups"] += int(dup.sum())
        totals["malformed"] += int(bad.sum())
        totals["unknown"] += int(sum(1 for e in evs if "surprise_col" in e["payload"]))
        totals["deletes"] += sum(1 for e in evs if e["event_type"] == "DELETE")
    inp.manifest = _manifest(totals, n_keys, 0.0, events_per_file)
    return inp


def _manifest(totals: dict, n_keys: int, zipf_s: float, per_file: int) -> dict:
    n = max(totals["events"], 1)
    return {
        "events": totals["events"],
        "events_per_trigger": per_file,
        "duplicate_share": round(totals["dups"] / n, 5),
        "malformed_share": round(totals["malformed"] / n, 5),
        "unknown_column_share": round(totals["unknown"] / n, 5),
        "delete_share": round(totals["deletes"] / n, 5),
        "keys": n_keys,
        "key_zipf_s": zipf_s,
    }


def bulk_input(
    out_dir: str,
    seed: int,
    n_files: int,
    events_per_file: int = 10_000,
    n_keys: int = 50_000,
    zipf_s: float = 1.1,
    malformed_share: float = 0.005,
    unknown_share: float = 0.01,
    delete_share: float = 0.05,
) -> CdcInput:
    """Binary commitlog segments (4-byte big-endian length + op byte +
    JSON envelope) for a ``patients`` table carrying PII and PHI, with
    Zipf-skewed keys and a share of payloads with an unknown column.
    Malformed frames carry an unknown op byte, which the program routes
    to the DLQ."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    inp = CdcInput("patients", "health", "patient_id", dict(BULK_COLUMNS))
    probs = _key_probs(n_keys, zipf_s)
    # rank → key id shuffled so the hottest keys are not the lowest ids
    key_pool = np.array([f"P{k:08d}" for k in rng.permutation(n_keys)])

    def payload(i: int, key: str, j: int) -> dict:
        p = {
            "patient_id": key,
            "email": f"patient{i}@clinic.example.org",
            "phone": f"+1-415-{(i * 7919) % 10_000_000:07d}",
            "ssn": f"{100 + i % 800:03d}-{10 + i % 89:02d}-{i % 10000:04d}",
            "medical_record_number": f"MRN-{(i * 104729) % 100_000_000:08d}",
            "first_name": f"given{i % 211}",
            "last_name": f"family{i % 307}",
            "age": i % 100,
            "city": CITIES[i % len(CITIES)],
            "updated_at": "2024-03-01T00:00:00Z",
        }
        if unknown_flags[j]:
            p["ward"] = f"w{i % 13}"
        return p

    ops = {"INSERT": b"I", "UPDATE": b"U", "DELETE": b"D"}
    totals = {"events": 0, "dups": 0, "malformed": 0, "unknown": 0, "deletes": 0}
    for f in range(n_files):
        first = f * events_per_file
        keys = key_pool[rng.choice(n_keys, events_per_file, p=probs)]
        unknown_flags = rng.random(events_per_file) < unknown_share
        evs = _events(rng, events_per_file, first, keys, delete_share, payload)
        bad = rng.random(events_per_file) < malformed_share
        buf = bytearray()
        for j, ev in enumerate(evs):
            if bad[j]:
                junk = b"X" + json.dumps({"event_id": f"bad{first + j}"}).encode()
                buf += struct.pack(">I", len(junk)) + junk
            body = _envelope(ev, inp.keyspace, inp.table, inp.key_col)
            del body["event_type"]
            frame = ops[ev["event_type"]] + json.dumps(body).encode()
            buf += struct.pack(">I", len(frame)) + frame
        path = os.path.join(out_dir, f"CommitLog-{f:05d}.log")
        with open(path, "wb") as fh:
            fh.write(bytes(buf))
        inp.files.append(path)
        inp.events.append(evs)
        inp.malformed.append(int(bad.sum()))
        totals["events"] += len(evs)
        totals["malformed"] += int(bad.sum())
        totals["unknown"] += sum(1 for e in evs if "ward" in e["payload"])
        totals["deletes"] += sum(1 for e in evs if e["event_type"] == "DELETE")
    top = probs[: max(1, n_keys // 100)].sum()
    inp.manifest = _manifest(totals, n_keys, zipf_s, events_per_file)
    inp.manifest["top1pct_key_share"] = round(float(top), 4)
    return inp


# -- query-suite tables ---------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _timestamps(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def query_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict:
    """The ten query-suite tables (TPC-H-ish star schema, an events
    table, a document corpus with planted near-duplicates, and 64-d
    embeddings) at ``scale`` × the sf1 row counts, as parquet files
    with the column names and types the query catalog reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(50_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": (np.arange(5), i32),
            "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
        },
        "nation": {
            "n_nationkey": (np.arange(25), i32),
            "n_name": ([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": (np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": (np.arange(n_cust), i64),
            "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": (rng.integers(0, 25, n_cust), i32),
            "c_acctbal": (money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": (rng.choice(SEGMENTS, n_cust), s),
        },
        "supplier": {
            "s_suppkey": (np.arange(n_supp), i64),
            "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": (rng.integers(0, 25, n_supp), i32),
            "s_acctbal": (money(-999.99, 9999.99, n_supp), f64),
        },
        "part": {
            "p_partkey": (np.arange(n_part), i64),
            "p_name": (
                [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
                s,
            ),
            "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": (rng.choice(PART_TYPES, n_part), s),
            "p_size": (rng.integers(1, 51, n_part), i32),
            "p_retailprice": (900 + (np.arange(n_part) % 1000) / 10, f64),
        },
        "orders": {
            "o_orderkey": (np.arange(n_ord), i64),
            "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": (rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": (money(1000, 500_000, n_ord), f64),
            "o_orderdate": (_timestamps(rng, n_ord, "1995-01-01", 2400), ts),
            "o_orderpriority": (rng.choice(PRIORITIES, n_ord), s),
        },
        "lineitem": {
            "l_orderkey": (rng.integers(0, n_ord, n_line), i64),
            "l_partkey": (rng.integers(0, n_part, n_line), i64),
            "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": (rng.integers(1, 8, n_line), i32),
            "l_quantity": (rng.integers(1, 51, n_line).astype(float), f64),
            "l_extendedprice": (money(900, 105_000, n_line), f64),
            "l_discount": (rng.integers(0, 11, n_line) / 100, f64),
            "l_tax": (rng.integers(0, 9, n_line) / 100, f64),
            "l_returnflag": (rng.choice(["A", "N", "R"], n_line), s),
            "l_linestatus": (rng.choice(["F", "O"], n_line), s),
            "l_shipdate": (_timestamps(rng, n_line, "1995-01-02", 2500), ts),
        },
        "events": {
            "event_id": (np.arange(n_ev), i64),
            "ts": (
                np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
                    "timedelta64[us]"
                ),
                ts,
            ),
            "user_id": (rng.integers(0, max(10, n_ev // 66), n_ev), i64),
            "event_type": (rng.choice(EVENT_TYPES, n_ev), s),
            "value": (money(0.01, 500, n_ev), f64),
            "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, cols in tables.items():
        arrays = {c: pa.array(v, type=t) for c, (v, t) in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
    return {"scale": scale, "rows": {k: len(next(iter(v.values()))[0]) for k, v in tables.items()}}


def _documents(rng, n: int) -> dict:
    import pyarrow as pa

    texts = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.02:
            # planted exact duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
        elif i >= 10 and r < 0.07:
            # planted near-duplicate: an earlier document with one word
            # replaced, for the MinHash/SimHash dedup queries
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return {
        "doc_id": (np.arange(n), pa.int64()),
        "text": (texts, pa.string()),
        "lang": (rng.choice(LANGS, n), pa.string()),
        "source": ([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": (np.array([len(t) for t in texts]), pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    import pyarrow as pa

    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": (np.arange(n), pa.int64()),
        "embedding": (list(v), pa.list_(pa.float32())),
        "label": (rng.integers(0, 10, n), pa.int32()),
    }

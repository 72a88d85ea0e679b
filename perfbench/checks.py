"""Output checks, run untimed after the measured window.

The CDC reference is the benchmark's own replay of the events it
generated: duplicates dropped by event id, malformed rows counted for
the dead-letter queue, latest event per key by (timestamp, event id),
deleted keys removed. Query results are compared with DuckDB running
the catalog's oracle SQL over the same parquet files, or, for the
queries without oracle SQL, with the property their contract pins.
"""

from __future__ import annotations

import hashlib
import hmac
import json
import math

import pandas as pd

from perfbench.gen import CdcInput


def key_hash(key_col: str, key: str) -> str:
    """The program's replica key: SHA-256 of the partition-key map
    rendered as compact JSON."""
    return hashlib.sha256(json.dumps({key_col: key}, separators=(",", ":")).encode()).hexdigest()


class CdcReference:
    """Expected sink contents after the first ``n_batches`` triggers of
    a generated input (one file per trigger)."""

    def __init__(self, inp: CdcInput, n_batches: int, pii: list[str], phi: list[str],
                 secret: str):
        self.inp = inp
        self.n_batches = n_batches
        self.pii, self.phi, self.secret = pii, phi, secret

    def latest(self, upto: int | None = None) -> dict[str, dict]:
        """Latest event per key over batches [0, upto]."""
        upto = self.n_batches - 1 if upto is None else upto
        best: dict[str, dict] = {}
        for b in range(upto + 1):
            for ev in self.inp.events[b]:
                cur = best.get(ev["key"])
                if cur is None or (ev["timestamp_micros"], ev["event_id"]) > (
                    cur["timestamp_micros"], cur["event_id"]
                ):
                    best[ev["key"]] = ev
        return best

    def upsert_state(self) -> dict[str, str]:
        """key_hash → event_id of the live (non-deleted) latest row."""
        kc = self.inp.key_col
        return {
            key_hash(kc, k): ev["event_id"]
            for k, ev in self.latest().items()
            if ev["event_type"] != "DELETE"
        }

    def append_rows(self, lo: int, hi: int) -> int:
        """Append-log rows of batches [lo, hi]: every non-DELETE event."""
        return sum(
            1 for b in range(lo, hi + 1) for ev in self.inp.events[b]
            if ev["event_type"] != "DELETE"
        )

    def append_view(self, upto: int) -> dict[str, str]:
        """key_hash → event_id of the append log's latest-wins view as of
        batch ``upto`` (DELETEs are never logged under the default skip
        policy, so the latest non-DELETE event wins)."""
        kc = self.inp.key_col
        best: dict[str, dict] = {}
        for b in range(upto + 1):
            for ev in self.inp.events[b]:
                if ev["event_type"] == "DELETE":
                    continue
                cur = best.get(ev["key"])
                if cur is None or (ev["timestamp_micros"], ev["event_id"]) > (
                    cur["timestamp_micros"], cur["event_id"]
                ):
                    best[ev["key"]] = ev
        return {key_hash(kc, k): ev["event_id"] for k, ev in best.items()}

    def upsert_rows_in_batch(self, b: int) -> int:
        return len({ev["key"] for ev in self.inp.events[b]})

    def dlq_rows(self) -> int:
        return sum(self.inp.malformed[: self.n_batches])

    def masked(self, ev: dict) -> dict:
        out = {}
        for name in self.inp.columns:
            v = ev["payload"].get(name)
            if v is None:
                continue
            v = str(v)
            if any(p in name for p in self.phi):
                out[f"{name}_masked"] = hmac.new(
                    self.secret.encode(), v.encode(), hashlib.sha256
                ).hexdigest()
            elif any(p in name for p in self.pii):
                out[f"{name}_masked"] = hashlib.sha256(v.encode()).hexdigest()
        return out


def check_rows(rows: list[dict], want: dict[str, str], ref: CdcReference,
               by_event: dict[str, dict], sample: int = 200) -> list[str]:
    """A latest-wins read equals ``want`` (key_hash → event_id): same
    key set, each key at its latest event, no duplicate keys, and
    masked payloads equal to SHA-256 / HMAC of the raw values (checked
    on a sample of rows)."""
    errors = []
    got: dict[str, str] = {}
    for r in rows:
        if r["key_hash"] in got:
            errors.append(f"duplicate key {r['key_hash'][:12]}")
            break
        got[r["key_hash"]] = r["event_id"]
    if got != want:
        missing = len(want.keys() - got.keys())
        extra = len(got.keys() - want.keys())
        stale = sum(1 for k in want.keys() & got.keys() if want[k] != got[k])
        errors.append(f"state differs: {missing} missing, {extra} extra, {stale} stale keys")
    for r in rows[:sample]:
        ev = by_event.get(r["event_id"])
        if ev is not None and json.loads(r["columns_masked"] or "{}") != ref.masked(ev):
            errors.append(f"masked payload differs for event {r['event_id']}")
            break
    return errors


# -- query results ----------------------------------------------------------


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, timestamps at microseconds, rows sorted by every
    column — an order-insensitive canonical form."""
    import datetime

    out = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        elif out[c].dtype == object:
            vals = out[c].dropna()
            if len(vals) and all(isinstance(v, (datetime.date, datetime.datetime)) for v in vals.head(50)):
                out[c] = pd.to_datetime(out[c]).astype("datetime64[us]")
    return out.sort_values(list(out.columns), na_position="first").reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal (floats to 1e-9), else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    for c in g.columns:
        a, b = g[c].tolist(), w[c].tolist()
        for x, y in zip(a, b):
            xn = x is None or (isinstance(x, float) and math.isnan(x))
            yn = y is None or (isinstance(y, float) and math.isnan(y))
            if xn or yn:
                if xn != yn:
                    return f"{c}: {x!r} != {y!r}"
            elif isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return f"{c}: {x!r} != {y!r}"
            elif x != y:
                return f"{c}: {x!r} != {y!r}"
    return None


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))}


def check_property(name: str, pdf: pd.DataFrame, tables: dict[str, pd.DataFrame]) -> str | None:
    """The pinned contract of a query without oracle SQL."""
    if name == "ns_dedup_minhash":
        docs = dict(zip(tables["documents"]["doc_id"], tables["documents"]["text"]))
        for a, b, j in pdf[["id_a", "id_b", "jaccard"]].itertuples(index=False):
            sa, sb = _shingles(docs[a]), _shingles(docs[b])
            exact = len(sa & sb) / len(sa | sb)
            if not (a < b and j >= 0.5 and abs(j - exact) < 1e-3):
                return f"pair ({a},{b}) jaccard {j} vs exact {exact:.4f}"
        if pdf.duplicated(["id_a", "id_b"]).any():
            return "duplicate pairs"
        # exact copies have Jaccard 1, so LSH must pair every one of them
        found = set(zip(pdf["id_a"], pdf["id_b"]))
        first: dict[str, int] = {}
        for i, t in sorted(docs.items()):
            if t in first and (first[t], i) not in found:
                return f"exact duplicate pair ({first[t]},{i}) missed"
            first.setdefault(t, i)
        return None if len(pdf) else "no near-duplicate pairs found"
    if name == "ns_multimodal_features":
        docs = tables["documents"]
        if list(pdf.columns) != ["media_id", "n_bytes", "f0"]:
            return f"columns {list(pdf.columns)}"
        if sorted(pdf["media_id"]) != sorted(docs["doc_id"]) or (pdf["n_bytes"] <= 0).any():
            return "one row per document with positive byte size expected"
        return None if pdf["f0"].nunique() == 1 else "fake codec must emit a constant f0"
    return f"no check for {name}"

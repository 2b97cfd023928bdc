"""Seeded input generators. Every function takes the seed and writes its
files before any timing starts; the same seed gives byte-identical files.

- ``ingest_days``: dated ``YYYY-MM-DD`` dirs of small, compressible
  JSON-lines audit files (log-normal sizes, the A1 record shape of
  FIXTURES.md) plus one non-dated dir, one extra day held back so a
  resume run can find it, and a long history of older days with one
  single-record file each.
- ``bulk_days``: a few dated dirs of large incompressible files.
- ``tables``: the ten fixture tables of FIXTURES.md B, with the value
  domains of the shipped fixtures, at a chosen scale factor.
- ``cdc_feed``: a change feed over orders ⋈ customer drawn from the
  generated tables' keys (inserts, deletes, value updates, key moves).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np

# The reference publishes no volumes (SURVEY.md §6), so the audit-file
# sizes are a choice: log-normal with a 4 KiB median (tens of A1 records)
# and sigma 1, so one file in twenty is over 20 KiB, capped at 256 KiB.
# Small files keep the per-file costs (RSA wrap, PUT) ahead of the bytes.
MEDIAN_BYTES = 4096
SIGMA = 1.0
MAX_BYTES = 256 * 1024
# Share of live rows each later CDC batch deletes, updates and moves (each);
# customers get half of it. 5% keeps every batch mostly inserts, as an
# append-heavy order feed is, while every change kind still occurs.
CHURN = 0.05

_TYPES = ("donut", "ice-cream", "cake", "pastry", "biscuit")
_NAMES = ("Cake", "Chocobar", "Raised", "Old Fashioned", "Glazed", "Sprinkled")


@dataclass
class IngestSet:
    """Paths and expected contents of one generated ingest source."""

    src: str
    held: str  # the held-back day's dir, outside ``src`` until it lands
    days: list[str]
    held_day: str
    undated: str
    files: dict[str, str] = field(default_factory=dict)  # relpath -> abspath
    # older days, parked outside ``src`` (in ``hist``) until they move in
    hist: str = ""
    history: list[str] = field(default_factory=list)

    def day_files(self, day: str) -> list[str]:
        return sorted(r for r in self.files if r.startswith(day + "/"))


def _audit_file(rng: np.random.Generator, size: int) -> bytes:
    """JSON lines in the A1 shape, padded out to about ``size`` bytes."""
    out = bytearray()
    i = 0
    while len(out) < size:
        rec = {
            "id": f"{int(rng.integers(0, 10**6)):06d}",
            "type": _TYPES[int(rng.integers(0, len(_TYPES)))],
            "name": _NAMES[int(rng.integers(0, len(_NAMES)))],
            "seq": i,
        }
        out += json.dumps(rec).encode() + b"\n"
        i += 1
    return bytes(out)


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


def ingest_days(root: str, seed: int, n_days: int, files_per_day: int,
                history_days: int) -> IngestSet:
    """``n_days`` committed-to-be days plus one held-back day, each with
    ``files_per_day`` files whose sizes are log-normal around
    ``MEDIAN_BYTES``; ``not-a-date/`` with a few files that the pipeline
    must skip; and ``history_days`` older days of one single-record file
    each (``files`` does not list them)."""
    rng = np.random.default_rng([seed, 1])
    start = date(2020, 1, 1) + timedelta(days=int(rng.integers(0, 300)))
    all_days = [(start + timedelta(days=i)).isoformat() for i in range(n_days + 1)]
    src, held = os.path.join(root, "src"), os.path.join(root, "held")
    s = IngestSet(src=src, held=held, days=all_days[:-1], held_day=all_days[-1],
                  undated=os.path.join(src, "not-a-date"), hist=os.path.join(root, "hist"),
                  history=[(start - timedelta(days=i)).isoformat()
                           for i in range(history_days, 0, -1)])
    for d in all_days:
        base = held if d == s.held_day else src
        sizes = np.clip(rng.lognormal(np.log(MEDIAN_BYTES), SIGMA, files_per_day),
                        64, MAX_BYTES).astype(int)
        for j, size in enumerate(sizes):
            rel = f"{d}/audit-{j:04d}.json"
            _write(os.path.join(base, rel), _audit_file(rng, int(size)))
            s.files[rel] = os.path.join(src, rel)  # where it is once it lands
    for j in range(3):
        _write(os.path.join(s.undated, f"stray-{j}.json"), _audit_file(rng, 512))
    for d in s.history:
        _write(os.path.join(s.hist, d, "audit-0000.json"), _audit_file(rng, 1))
    return s


def bulk_days(root: str, seed: int, n_days: int, files_per_day: int,
              file_bytes: int) -> IngestSet:
    """Incompressible files (zlib's worst case) in ``n_days`` dated dirs."""
    rng = np.random.default_rng([seed, 2])
    start = date(2021, 1, 1) + timedelta(days=int(rng.integers(0, 300)))
    src = os.path.join(root, "src")
    days = [(start + timedelta(days=i)).isoformat() for i in range(n_days)]
    s = IngestSet(src=src, held="", days=days, held_day="", undated="")
    for d in days:
        for j in range(files_per_day):
            rel = f"{d}/bulk-{j:03d}.bin"
            path = os.path.join(src, rel)
            _write(path, rng.bytes(file_bytes))
            s.files[rel] = path
    return s


# ---------------------------------------------------------------------------
# fixture tables
# ---------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_ADJ = ("small", "red", "blue", "old", "new", "hot", "cold", "large")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVT = ("view", "click", "signup", "purchase", "error")
_WORDS = (
    "a the row query stream value hash batch sort data big filter fast spark"
    " line small customer group key agg scan slow table part merge window"
    " order column join vector"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _ts(rng, n, lo: date, hi: date) -> np.ndarray:
    span = (hi - lo).days
    days = rng.integers(0, span + 1, n)
    return (np.datetime64(lo.isoformat()) + days.astype("timedelta64[D]")
            ).astype("datetime64[us]")


def tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for the ten fixture tables;
    returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda vals, n: np.asarray(vals, dtype=object)[  # noqa: E731
        rng.integers(0, len(vals), n)]

    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": list(_REGIONS)}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(pick(_ADJ, n_part), pick(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, n_ord, date(1995, 1, 1), date(2001, 8, 1)),
        "o_orderpriority": pick(_PRIO, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), n_li),
        "l_linestatus": pick(("F", "O"), n_li),
        "l_shipdate": _ts(rng, n_li, date(1995, 1, 2), date(2001, 11, 4)),
    }
    gaps = rng.exponential(30 * 86400e6 / n_evt, n_evt)
    ev_us = np.cumsum(gaps).astype(np.int64) + 1
    t["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": pick(_EVT, n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in t.items():
        tbl = pa.table({k: (v if isinstance(v, pa.Array) else pa.array(v))
                        for k, v in cols.items()})
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


# ---------------------------------------------------------------------------
# CDC feed
# ---------------------------------------------------------------------------


@dataclass
class CdcBatch:
    """One batch of changes: full-row upserts and ``(key, id)`` deletes per
    side. Left is orders ``(o_orderkey, c_custkey, o_totalprice,
    o_orderpriority)``, right is customer ``(c_custkey, c_mktsegment)``."""

    left_upserts: list[tuple]
    left_deletes: list[tuple]
    right_upserts: list[tuple]
    right_deletes: list[tuple]

    @property
    def n_rows(self) -> int:
        return (len(self.left_upserts) + len(self.left_deletes)
                + len(self.right_upserts) + len(self.right_deletes))


def cdc_feed(table_dir: str, seed: int, n_batches: int, n_orders: int, n_cust: int):
    """Build ``n_batches`` batches over the first ``n_orders`` orders and
    ``n_cust`` customers of the generated tables, and the closed-form
    final state. Batch 0 inserts a first half of both sides; each later
    batch inserts a slice of the rest and, on live rows, deletes,
    updates a value (priority, price or segment) and moves an order to
    another customer (delete the old ``(key, id)`` + upsert the new row).

    Returns ``(batches, final_orders, final_customers)`` where the finals
    are dicts id -> row tuple."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    o = pq.read_table(os.path.join(table_dir, "orders.parquet"),
                      columns=["o_orderkey", "o_custkey", "o_totalprice",
                               "o_orderpriority"]).slice(0, n_orders).to_pylist()
    c = pq.read_table(os.path.join(table_dir, "customer.parquet"),
                      columns=["c_custkey", "c_mktsegment"]).slice(0, n_cust).to_pylist()
    n_cust = len(c)
    orders = [(r["o_orderkey"], r["o_custkey"] % n_cust, r["o_totalprice"],
               r["o_orderpriority"]) for r in o]
    custs = [(r["c_custkey"], r["c_mktsegment"]) for r in c]
    o_order = rng.permutation(len(orders))
    c_order = rng.permutation(len(custs))
    o_cuts = np.linspace(len(orders) // 2, len(orders), n_batches).astype(int)
    c_cuts = np.linspace(len(custs) // 2, len(custs), n_batches).astype(int)
    live_o: dict[int, tuple] = {}
    live_c: dict[int, tuple] = {}
    batches = []
    lo_o = lo_c = 0
    for b in range(n_batches):
        lu = [orders[i] for i in o_order[lo_o:o_cuts[b]]]
        ru = [custs[i] for i in c_order[lo_c:c_cuts[b]]]
        lo_o, lo_c = o_cuts[b], c_cuts[b]
        ld: list[tuple] = []
        rd: list[tuple] = []
        if b > 0:
            ids = np.array(sorted(live_o))
            k = max(1, int(len(ids) * CHURN))
            touched = rng.choice(ids, size=3 * k, replace=False)
            dels, upds, moves = touched[:k], touched[k:2 * k], touched[2 * k:]
            for i in dels:
                row = live_o[int(i)]
                ld.append((row[1], row[0]))
            for j, i in enumerate(upds):
                row = live_o[int(i)]
                if j % 2:
                    lu.append((row[0], row[1], row[2], "1-UPDATED"))
                else:
                    lu.append((row[0], row[1], round(row[2] + 1.25, 2), row[3]))
            for i in moves:
                row = live_o[int(i)]
                ld.append((row[1], row[0]))
                lu.append((row[0], (row[1] + 1 + int(rng.integers(0, 7))) % n_cust,
                           row[2], row[3]))
            cids = np.array(sorted(live_c))
            kc = max(1, int(len(cids) * CHURN / 2))
            ct = rng.choice(cids, size=2 * kc, replace=False)
            for i in ct[:kc]:
                rd.append((int(i),))
            for i in ct[kc:]:
                ru.append((int(i), "SEG-UPDATED"))
        for key, oid in ld:
            live_o.pop(oid, None)
        for row in lu:
            live_o[row[0]] = row
        for (cid,) in rd:
            live_c.pop(cid, None)
        for row in ru:
            live_c[row[0]] = row
        batches.append(CdcBatch(lu, ld, ru, rd))
    return batches, live_o, live_c

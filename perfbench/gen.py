"""Seeded input generators for the benchmark.

Everything the program reads is made here from ``--seed``: the raw NDJSON
landing zone for the ETL workload and the parquet tables for the query
workloads.  The same seed and recipe give byte-identical files.  The
generator also returns what it knows about its output (rows per date,
null counts, duplicated ids) so the benchmark can check the program's
results against ground truth rather than against the program itself.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("login", "view_item", "add_to_cart", "purchase")
EVENT_TYPE_P = (0.25, 0.45, 0.20, 0.10)


@dataclass
class RawDate:
    """Ground truth for one generated ``ingestion_date`` partition."""

    rows: int = 0
    null_user: int = 0
    dup_ids: list[str] = field(default_factory=list)
    bytes: int = 0


def _rng(seed: int, *salt) -> np.random.Generator:
    """A stream that depends only on (seed, salt), never on call order."""
    words = [seed] + [
        int.from_bytes(hashlib.sha256(str(s).encode()).digest()[:8], "little") for s in salt
    ]
    return np.random.default_rng(np.random.SeedSequence(words))


def _uuids(rng: np.random.Generator, n: int, prefix: str = "") -> list[str]:
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    hexes = [r.tobytes().hex() for r in raw]
    return [f"{prefix}{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}" for h in hexes]


def _event_lines(
    rng: np.random.Generator, day: str, n: int, null_user_rate: float, dup_rate: float,
    id_prefix: str, truth: RawDate,
) -> list[str]:
    ids = _uuids(rng, n, id_prefix)
    users = rng.integers(1, 501, size=n)
    null_user = rng.random(n) < null_user_rate
    etype = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
    sec = rng.integers(0, 86400, size=n)
    cents = rng.integers(500, 20001, size=n)
    dup = rng.random(n) < dup_rate
    shift = rng.integers(1, 121, size=n)
    lines: list[str] = []
    for i in range(n):
        user = "null" if null_user[i] else f'"{users[i]}"'
        et = EVENT_TYPES[etype[i]]
        amount = f"{cents[i] // 100}.{cents[i] % 100:02d}" if et == "purchase" else "null"
        for s in (sec[i], min(sec[i] + shift[i], 86399)) if dup[i] else (sec[i],):
            lines.append(
                f'{{"event_id": "{ids[i]}", "user_id": {user}, "event_type": "{et}", '
                f'"event_ts": "{day}T{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}Z", '
                f'"amount": {amount}}}'
            )
            truth.null_user += int(null_user[i])
        if dup[i]:
            truth.dup_ids.append(ids[i])
    truth.rows += len(lines)
    return lines


def raw_events(
    base: str,
    seed: int,
    dates: list[str],
    rows_per_date: int,
    late_dates: tuple[str, ...] = (),
    late_rows: int = 0,
    gated_dates: tuple[str, ...] = (),
    null_user_rate: float = 0.02,
    dup_rate: float = 0.01,
    gated_dup_rate: float = 0.03,
) -> dict[str, RawDate]:
    """Write ``base/source_system=app/ingestion_date=D/events.json`` per date.

    Fault rates follow the reference generator (2% null ``user_id``, 1%
    duplicate ``event_id`` re-emitted with a later timestamp).  A date in
    ``late_dates`` also gets a second file of ``late_rows`` fresh events;
    a date in ``gated_dates`` gets a duplicate rate above the 2% DQ gate.
    """
    truth: dict[str, RawDate] = {}
    for day in dates:
        t = truth[day] = RawDate()
        part = os.path.join(base, "source_system=app", f"ingestion_date={day}")
        os.makedirs(part, exist_ok=True)
        batches = [("events.json", rows_per_date, "")]
        if day in late_dates:
            batches.append(("late.json", late_rows, "late-"))
        for fname, n, prefix in batches:
            rate = gated_dup_rate if day in gated_dates else dup_rate
            lines = _event_lines(_rng(seed, day, fname), day, n, null_user_rate, rate, prefix, t)
            data = ("\n".join(lines) + "\n").encode()
            with open(os.path.join(part, fname), "wb") as f:
                f.write(data)
            t.bytes += len(data)
    return truth


# ---------------------------------------------------------------------------
# Parquet tables with the schemas the query registry reads.
# ---------------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_WORDS = ("red", "hot", "new", "blue", "large", "small")
_PART_NOUNS = ("bolt", "anvil", "ring", "rod", "plate", "nut")
_TESTDATA_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size=n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def star_tables(out_dir: str, seed: int, n_orders: int, n_events: int) -> dict[str, int]:
    """TPC-H-shaped star schema plus the ``events`` stream table.

    Facts grow with ``n_orders`` (about four lineitems per order); the
    dimensions keep the reference sf0.1 proportions.
    """
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    n_cust = max(n_orders // 10, 100)
    n_part = max(n_orders * 2 // 15, 100)
    n_supp = max(n_orders // 150, 20)

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(_REGIONS)),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    r = _rng(seed, "customer")
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, _SEGMENTS, n_cust),
    })
    r = _rng(seed, "supplier")
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    })
    r = _rng(seed, "part")
    words = [f"{a} {b}" for a in _PART_WORDS for b in _PART_NOUNS]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(r, words, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, _PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })

    r = _rng(seed, "orders")
    order_day = r.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n_orders),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_orders)),
        "o_orderdate": pa.array(_EPOCH_1995 + order_day * _DAY_US, type=pa.timestamp("us")),
        "o_orderpriority": _pick(r, _PRIORITIES, n_orders),
    })

    r = _rng(seed, "lineitem")
    per_order = r.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    n_li = len(okey)
    first = np.repeat(np.cumsum(per_order) - per_order, per_order)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - first + 1).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(r, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(r, ("F", "O"), n_li),
        "l_shipdate": pa.array(
            _EPOCH_1995 + (order_day[okey] + r.integers(1, 96, n_li)) * _DAY_US,
            type=pa.timestamp("us"),
        ),
    })

    r = _rng(seed, "events")
    ts = np.sort(_EPOCH_2024 + r.integers(0, 30 * _DAY_US, n_events))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, n_events, dtype=np.int64)),
        "event_type": _pick(r, _TESTDATA_EVENT_TYPES, n_events),
        "value": pa.array(_money(r, 0.0, 560.0, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]),
    })
    return rows


def corpus_tables(
    out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64,
    near_dup_rate: float = 0.05, exact_dup_rate: float = 0.005,
) -> dict[str, int]:
    """``documents`` and ``embeddings`` with planted duplicates.

    Texts are random draws from a 31-word vocabulary (8-100 words).  A
    ``near_dup_rate`` share of documents copy an earlier one with one or
    two words replaced, and ``exact_dup_rate`` copy it verbatim, so the
    LSH pair operators find real work.  Embeddings are unit Gaussian
    vectors, with the same near-duplicate share as small perturbations.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "documents")
    vocab = np.asarray(_VOCAB + ["dup"], dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        u = r.random()
        if i > 0 and u < exact_dup_rate + near_dup_rate:
            words = texts[int(r.integers(0, i))].split()
            if u >= exact_dup_rate:
                for _ in range(int(r.integers(1, 3))):
                    words[int(r.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[r.integers(0, len(_VOCAB), int(r.integers(8, 101)))]))
    rows = {"documents": _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(r, _LANGS, n_docs, p=_LANG_P),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })}

    r = _rng(seed, "embeddings")
    vecs = r.standard_normal((n_vecs, dim))
    planted = np.flatnonzero(r.random(n_vecs) < near_dup_rate)
    planted = planted[planted > 0]
    src = (r.random(len(planted)) * planted).astype(np.int64)
    vecs[planted] = vecs[src] + 0.05 * r.standard_normal((len(planted), dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(r.integers(0, 10, n_vecs, dtype=np.int32)),
    })
    return rows

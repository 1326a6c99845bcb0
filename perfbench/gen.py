"""Seeded input generators.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes plain files; the engine under test only ever sees
those files. The same seed gives byte-identical files (pyarrow writes no
timestamps into parquet footers, and CSV is written by hand), a different
seed gives different values at the same sizes, so run-to-run spread comes
from the values and the operation order, never from the amount of work.

Shapes follow the repository's fixture catalog (``FIXTURES.md``) at the
sf0.01 sizes, plus a seeded share of near-duplicate documents so that the
incremental dedup operator has real pairs to find.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.01 row counts of the fixture catalog
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "customer": 1_500,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "order group stream filter vector"
).split()
EMBED_DIM = 64


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream to one
    workload never shifts the values of another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _days(rng, n, lo: date, hi: date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _near_copy_tokens(rng, tokens: list[str], share: float) -> list[str]:
    out = list(tokens)
    for i in range(len(out)):
        if rng.random() < share:
            out[i] = VOCAB[rng.integers(len(VOCAB))]
    return out


def documents(rng, n: int, first_id: int = 0, dup_share: float = 0.15) -> pa.Table:
    """Token soup over the fixture vocabulary. Exactly ``dup_share`` of the
    docs (never the first tenth) copy an earlier doc, a third of those
    exactly and the rest with ~5% of tokens replaced. Lengths are a seeded
    shuffle of a fixed ramp, so every seed has the same amount of text."""
    lengths = rng.permutation(np.linspace(10, 99, n).round().astype(int))
    dups = set(n // 10 + rng.choice(n - n // 10, round(dup_share * n), replace=False))
    exact = set(rng.choice(sorted(dups), len(dups) // 3, replace=False)) if dups else set()
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            src = texts[rng.integers(i)].split()
            texts.append(" ".join(src if i in exact else _near_copy_tokens(rng, src, 0.05)))
        else:
            toks = rng.integers(0, len(VOCAB), lengths[i])
            texts.append(" ".join(VOCAB[j] for j in toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng, n: int) -> pa.Table:
    """Random unit vectors with a label in 0..9."""
    vecs = rng.standard_normal((n, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tpch_tables(seed: int, out_dir: str) -> dict[str, tuple[int, int]]:
    """The ten fixture tables at sf0.01 sizes as ``<out_dir>/<name>.parquet``.
    Returns ``{table: (rows, bytes)}``."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "tpch")
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(r, ns, -999.99, 9999.99),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(r, nc, -999.99, 9999.99),
            "c_mktsegment": r.choice(SEGMENTS, nc).tolist(),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 7, npart), r.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
            "p_type": r.choice(PART_TYPES, npart).tolist(),
            "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
            "o_orderstatus": r.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(r, no, 1000, 500000),
            "o_orderdate": pa.array(
                _days(r, no, date(1995, 1, 1), date(2001, 8, 1)), pa.timestamp("us")
            ),
            "o_orderpriority": r.choice(PRIORITIES, no).tolist(),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
            "l_quantity": r.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(r, nl, 900, 105000),
            "l_discount": r.integers(0, 11, nl) / 100.0,
            "l_tax": r.integers(0, 9, nl) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": r.choice(["F", "O"], nl).tolist(),
            "l_shipdate": pa.array(
                _days(r, nl, date(1995, 1, 2), date(2001, 11, 4)), pa.timestamp("us")
            ),
        }
    )
    t["events"] = events(r, n["events"], datetime(2024, 1, 1), 30 * 86400, 150)
    t["documents"] = documents(r, n["documents"])
    t["embeddings"] = embeddings(r, n["embeddings"])
    return {
        name: (tab.num_rows, _write(tab, os.path.join(out_dir, f"{name}.parquet")))
        for name, tab in t.items()
    }


def events(
    rng, n: int, start: datetime, span_s: int, n_users: int, first_id: int = 0
) -> pa.Table:
    """Events in time order with whole-second timestamps."""
    offs = np.sort(rng.integers(0, span_s, n))
    ts = np.datetime64(start.isoformat(), "s") + offs.astype("timedelta64[s]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


# -- etl_write, backfill half -----------------------------------------------

TRANS_HEADER = (
    "trans_id,product_id,customer_id,quantity,unit_price,trans_ts,channel,load_day"
)
CHANNELS = ['"web, mobile"', '"in;store"', "NULL", "null", "", "web", "phone"]


@dataclass
class TransFiles:
    days: list[date]
    names: list[str]
    rows_per_file: list[int]
    bytes_total: int


def trans_csvs(seed: int, out_dir: str, n_days: int, rows: int, late_share: float) -> TransFiles:
    """One CSV per logical day, ``trans_<YYYYMMDD>.csv``. Rows of day ``d``
    carry new keys dated ``d``, except a ``late_share`` of them (from the
    second day on) that re-send keys first seen on an earlier day with new
    values and the ORIGINAL transaction time, so the MERGE updates an older
    partition. Keys are unique within a file (the MERGE precondition).
    The dialect hits every FILE_FORMAT option the loader maps: quoted
    comma and semicolon, and the three NULL sentinels."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "trans")
    day0 = date(2022, 7, 13)
    days = [day0 + timedelta(days=i) for i in range(n_days)]
    seen: list[tuple[int, str]] = []  # (trans_id, trans_ts) sent so far
    next_id = 0
    names, counts, total = [], [], 0
    for d in days:
        n_late = int(rows * late_share) if seen else 0
        late_idx = r.choice(len(seen), n_late, replace=False) if n_late else []
        keys = [seen[i] for i in late_idx]
        secs = np.sort(r.integers(0, 86400, rows - n_late))
        for s in secs:
            ts = datetime(d.year, d.month, d.day) + timedelta(seconds=int(s))
            keys.append((next_id, ts.strftime("%Y-%m-%d %H:%M:%S")))
            next_id += 1
        seen.extend(keys[n_late:])
        lines = [TRANS_HEADER]
        for (tid, ts), prod, cust, qty, price, ch in zip(
            keys,
            r.integers(0, 2000, rows),
            r.integers(0, 1500, rows),
            r.integers(1, 20, rows),
            _money(r, rows, 1, 500),
            r.integers(0, len(CHANNELS), rows),
        ):
            lines.append(
                f"{tid},{prod},{cust},{qty},{price:.2f},{ts},{CHANNELS[ch]},{d.isoformat()}"
            )
        name = f"trans_{d.strftime('%Y%m%d')}.csv"
        path = os.path.join(out_dir, name)
        with open(path, "w", newline="") as f:
            f.write("\n".join(lines) + "\n")
        names.append(name)
        counts.append(rows)
        total += os.path.getsize(path)
    return TransFiles(days, names, counts, total)


# -- etl_write, CDC half ----------------------------------------------------


@dataclass
class CdcInputs:
    event_files: list[str]  # parquet paths, one micro-batch each, in arrival order
    event_rows: list[int]
    doc_deltas: list[str]  # parquet paths, contiguous doc_id ranges
    doc_rows: list[int]
    docs_all: str  # every delta in one file, for the full-rescan oracle
    bytes_total: int


def cdc_inputs(
    seed: int,
    out_dir: str,
    n_files: int,
    rows: int,
    n_users: int,
    replay_share: float,
    n_deltas: int,
    docs_per_delta: int,
) -> CdcInputs:
    """Event files for the CDC stream plus contiguous document deltas.
    File ``i`` covers the ``i``-th ten minutes; from the second file on, a
    ``replay_share`` of its rows are exact re-sends of the previous file's
    events (the duplicates the stream's stateful dedup must drop)."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "cdc")
    files, counts, total = [], [], 0
    prev: pa.Table | None = None
    next_id = 0
    for i in range(n_files):
        n_replay = int(rows * replay_share) if prev is not None else 0
        fresh = events(
            r, rows - n_replay, datetime(2024, 3, 1) + timedelta(minutes=10 * i),
            600, n_users, first_id=next_id,
        )
        next_id += fresh.num_rows
        tab = fresh
        if n_replay:
            pick = np.sort(r.choice(prev.num_rows, n_replay, replace=False))
            tab = pa.concat_tables([prev.take(pick), fresh])
        path = os.path.join(out_dir, f"events_{i:03d}.parquet")
        total += _write(tab, path)
        files.append(path)
        counts.append(tab.num_rows)
        prev = fresh
    docs = documents(r, n_deltas * docs_per_delta)
    deltas, dcounts = [], []
    for k in range(n_deltas):
        part = docs.slice(k * docs_per_delta, docs_per_delta)
        path = os.path.join(out_dir, f"docs_{k:03d}.parquet")
        total += _write(part, path)
        deltas.append(path)
        dcounts.append(part.num_rows)
    docs_all = os.path.join(out_dir, "docs_all.parquet")
    _write(docs, docs_all)
    return CdcInputs(files, counts, deltas, dcounts, docs_all, total)

"""Seeded synthetic input tables for the benchmark.

Writes the TPC-H-ish star schema plus ``events``/``documents``/
``embeddings`` with the column names, types and value domains the
registry queries and ``catalog.load_table`` expect (one parquet file per
table). Everything is drawn from one ``numpy`` generator seeded with the
benchmark seed, so a seed fixes the inputs byte for byte; the program
under test only ever sees the files.

``scale`` plays the role of the TPC-H scale factor: lineitem has
``6_000_000 * scale`` rows, orders a quarter of that, and so on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "old", "large", "hot", "cold", "small", "new")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, drawn as integer cents so every value is the
    exact shortest decimal a hand-typed price would be."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 100)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 200)
    n_ord = max(int(1_500_000 * scale), 1000)
    n_line = 4 * n_ord
    n_users = max(n_cust // 10, 50)
    n_events = max(int(1_000_000 * scale), 1000)
    n_docs = max(int(50_000 * scale), 100)
    n_vecs = max(int(20_000 * scale), 40)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_key = np.arange(n_part)
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(part_key, pa.int64()),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (part_key % 1000) / 10.0,
    })
    order_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, order_days + 1, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    ship_days = (np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(
            _EPOCH_1995 + (1 + rng.integers(0, ship_days + 1, n_line)) * _DAY_US
        ),
    })
    # strictly increasing event times over 30 days, event_id in time order
    ts = _EPOCH_2024 + np.sort(
        rng.choice(30 * _DAY_US, size=n_events, replace=False)
    )
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": _money(rng, 0.0, 560.0, n_events),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), int(k))])
        for k in rng.integers(10, 101, n_docs)
    ]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return tables


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


#: id offset of a re-sent near-copy: doc ``i``'s copy is ``i + COPY_OFFSET``
COPY_OFFSET = 10_000_000


def build_feed(seed: int, n_docs: int, n_files: int) -> list[pa.Table]:
    """A document feed split into ``n_files`` micro-batch files.

    ``n_docs`` original documents of 20-100 words (``doc_id`` 0..n-1,
    ``text``, ``vec``), the first 40 % carrying a unit embedding and the
    rest none, as a left join of documents to embeddings gives. Each
    original goes to a file drawn by the seeded generator; every 10th one
    is re-sent in the next file as ``doc_id + COPY_OFFSET`` with the text
    suffixed by `` tail`` and the same embedding (the planted near-copy
    convention of ``registry/curation.py``). A copy therefore always
    arrives after its original, and copies of last-file documents are not
    sent. File 0 holds originals only."""
    rng = np.random.default_rng(seed)
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), int(k))])
        for k in rng.integers(20, 101, n_docs)
    ]
    n_vecs = int(n_docs * 0.4)
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    file_of = rng.integers(0, n_files, n_docs)
    rows: list[list[tuple]] = [[] for _ in range(n_files)]
    for i in range(n_docs):
        vec = list(vecs[i]) if i < n_vecs else None
        rows[file_of[i]].append((i, texts[i], vec))
        if i % 10 == 0 and file_of[i] + 1 < n_files:
            rows[file_of[i] + 1].append((i + COPY_OFFSET, texts[i] + " tail", vec))
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("vec", pa.list_(pa.float32()))])
    return [
        pa.table({k: [r[j] for r in file_rows] for j, k in enumerate(schema.names)},
                 schema=schema)
        for file_rows in rows
    ]

"""Seeded input generator: the ten tables the engine reads, written as
parquet with the physical types tests/test_schema_canary.py pins.

Each group of tables draws from its own ``numpy.random.Generator``,
seeded by the benchmark's ``--seed`` and the group's index: the same seed
writes byte-identical tables, and a workload generates only the groups it
reads. The documents table carries planted near-duplicates (a copy with a
word or two changed, which exact dedup must keep apart) and planted exact
duplicates (a copy differing only in case and whitespace, which it must
merge); the embeddings table carries planted near-duplicate vectors. The
ids of every planted pair are returned so the checks can demand them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts: those of the sf0.1 fixture the engine's own tests use,
# except seqs, whose files each cost a read task (README.md "Inputs" gives
# the measurements behind them)
ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "events": 100000,
    "users": 1500,
    "documents": 5000,
    "embeddings": 2000,
    "seqs": 8,
}
EMB_DIM = 64
N_LABELS = 8
SEQ_LEN = (1000, 4000)  # bases per sequence, low inclusive, high exclusive

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "add_to_cart", "search"]
LANGS = ["en", "de", "fr"]
SOURCES = ["web", "books", "news", "code"]
VOCAB_SIZE = 600

_US = 1_000_000
_DAY_US = 86_400 * _US
_EPOCH_1992 = 694_224_000 * _US  # 1992-01-01T00:00:00
_EPOCH_2024 = 1_704_067_200 * _US  # 2024-01-01T00:00:00


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _relational(rng, lineitem: bool = True) -> "tuple[dict, dict]":
    t = {}
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc, ns, np_, no = ROWS["customer"], ROWS["supplier"], ROWS["part"], ROWS["orders"]
    ck = np.arange(1, nc + 1)
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    sk = np.arange(1, ns + 1)
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    pk = np.arange(1, np_ + 1)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [f"part {i}" for i in pk],
            "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (np_, 2))],
            "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"], np_).tolist(),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": _money(rng, 900, 2000, np_),
        }
    )
    # two thirds of the customers place orders: the rest have none
    ok = np.arange(1, no + 1)
    odate = _EPOCH_1992 + rng.integers(0, 2400, no) * _DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(1, nc * 2 // 3 + 1, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000, 400000, no),
            "o_orderdate": _ts(odate),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    if not lineitem:
        return t, {}
    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    lok = np.repeat(ok, per_order)
    lnum = np.arange(nl) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, np_ + 1, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, ns + 1, nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _ts(np.repeat(odate, per_order) + rng.integers(1, 122, nl) * _DAY_US),
        }
    )
    return t, {}


def _events(rng) -> "tuple[dict, dict]":
    # 30 days from 2024-01-01, to the microsecond; a few duplicate
    # timestamps per user keep the (ts, event_id) tie-break honest
    ne = ROWS["events"]
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))
    ts[1::50] = ts[0::50][: len(ts[1::50])]
    ids = rng.permutation(ne) + 1
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(1, ROWS["users"] + 1, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne, p=[0.4, 0.25, 0.1, 0.15, 0.1]).tolist(),
            "value": np.round(rng.uniform(0, 500, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 10, ne)],
        }
    )
    return {"events": table}, {}


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    s = ""
    i += 26 * 26
    while i:
        i, r = divmod(i, 26)
        s = letters[r] + s
    return s


def _documents(rng) -> "tuple[dict, dict]":
    nd = ROWS["documents"]
    vocab = [_word(i) for i in range(VOCAB_SIZE)]
    words = [rng.integers(0, VOCAB_SIZE, int(rng.integers(25, 70))) for _ in range(nd)]
    # planted near-duplicates (a fifth of the corpus in pairs): doc b =
    # doc a with 1-2 words replaced, each by a different word
    slots = rng.permutation(nd)
    near, exact = [], []
    for j in range(nd // 10):
        a, b = int(slots[2 * j]), int(slots[2 * j + 1])
        w = words[a].copy()
        for pos in rng.choice(len(w), int(rng.integers(1, 3)), replace=False):
            w[pos] = (w[pos] + rng.integers(1, VOCAB_SIZE)) % VOCAB_SIZE
        words[b] = w
        near.append((min(a, b) + 1, max(a, b) + 1))
    base = 2 * len(near)
    texts = [[vocab[i] for i in w] for w in words]
    out = [" ".join(w) for w in texts]
    # planted exact duplicates: same words, different case and spacing
    for j in range(nd // 30):
        a, b = int(slots[base + 2 * j]), int(slots[base + 2 * j + 1])
        out[b] = "  ".join(texts[a]).upper() + " "
        exact.append((min(a, b) + 1, max(a, b) + 1))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(1, nd + 1), pa.int64()),
            "text": out,
            "lang": rng.choice(LANGS, nd).tolist(),
            "source": rng.choice(SOURCES, nd).tolist(),
            "n_chars": pa.array([len(s) for s in out], pa.int64()),
        }
    )
    return {"documents": table}, {"near_dup_docs": near, "exact_dup_docs": exact}


def _embeddings(rng) -> "tuple[dict, dict]":
    ne = ROWS["embeddings"]
    centers = rng.normal(0, 1, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, ne)
    vecs = 0.35 * centers[labels] + rng.normal(0, 1, (ne, EMB_DIM))
    slots = rng.permutation(ne)
    near = []
    for j in range(ne // 20):
        a, b = int(slots[2 * j]), int(slots[2 * j + 1])
        vecs[b] = vecs[a] + rng.normal(0, 0.2, EMB_DIM)
        labels[b] = labels[a]
        near.append((min(a, b) + 1, max(a, b) + 1))
    vecs = vecs.astype(np.float32)
    emb = pa.array(list(vecs), type=pa.list_(pa.float32()))
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(1, ne + 1), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"embeddings": table}, {"near_dup_emb": near}


def _sequences(rng) -> "tuple[dict, dict]":
    """Records for the sequence-format roundtrip: a short id (the nib file
    stem) and a soft-masked nucleotide sequence in the nib alphabet
    TCAGN/tcagn, odd and even lengths both present."""
    ns = ROWS["seqs"]
    nuc = np.array(list("TCAGNtcagn"))
    lengths = rng.integers(SEQ_LEN[0], SEQ_LEN[1], ns)
    table = pa.table(
        {
            "ids": [f"s{i:04d}" for i in range(ns)],
            "dna": ["".join(nuc[rng.integers(0, 10, int(k))]) for k in lengths],
        }
    )
    return {"seqs": table}, {}


# table groups, each from its own generator; the index seeds it
GROUPS = {
    "tpch": (0, _relational),
    # the same tables without lineitem (drawn last, so the rest match)
    "tpch_no_lineitem": (0, lambda rng: _relational(rng, lineitem=False)),
    "events": (1, _events),
    "documents": (2, _documents),
    "embeddings": (3, _embeddings),
    "seqs": (4, _sequences),
}


def generate(seed: int, out_dir: str, groups: "list[str]") -> dict:
    """Write ``region`` (the set-up's first action reads it) and the
    tables of ``groups`` under ``out_dir``; return the planted duplicate
    pairs, by kind."""
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        )
    }
    planted: dict = {}
    for g in groups:
        idx, make = GROUPS[g]
        t, p = make(np.random.default_rng([seed, idx]))
        tables.update(t)
        planted.update(p)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return planted

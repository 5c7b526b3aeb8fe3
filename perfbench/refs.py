"""Reference results and output checks, computed apart from the engine.

Nothing here imports ``fireworks_spark`` or pyspark: the expected outputs
come from DuckDB SQL written for this benchmark (the relational queries and
the batch ground truth of each stream replay), from numpy/Python brute
force (exact dedup, all-pairs cosine), and from properties the methods
must have (planted pairs found or kept apart, window counts summing to the
event count, read-back equal to what was written, one file per record, nib
file sizes).

``build(ops, data_dir, planted)`` runs in the benchmark's parent
process and returns a picklable dict ``op -> reference``;
``check(op, actual, ref)`` runs beside the engine and raises
``CheckFailed`` naming the first disagreement.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd


class CheckFailed(AssertionError):
    pass


# tolerance for doubles: the queries round money to cents, and a sum taken
# in another order can land on the other side of a half-cent
FLOAT_TOL = 0.0101
SIM_TOL = 1.5e-4  # the engine rounds similarities to 4 places

RELATIONAL_SQL = {
    "q05_multiway_join_revenue": """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY revenue DESC, n_name""",
    "q11_rollup": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q13_window_rank": """
        SELECT o_custkey, o_orderkey, rk FROM (
          SELECT o_custkey, o_orderkey,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders)
        WHERE rk <= 3
        ORDER BY o_custkey, rk""",
    "q16_except": """
        SELECT l_partkey AS k FROM lineitem
        EXCEPT
        SELECT p_partkey FROM part WHERE p_size > 25
        ORDER BY k""",
    "q23_correlated_subquery": """
        SELECT c_custkey FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey""",
}

# batch ground truth of each stream replay
STREAM_SQL = {
    "q68_stream_tumbling": """
        SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS cnt,
               ROUND(SUM(value), 2) AS sum_val
        FROM events GROUP BY ALL ORDER BY h, event_type""",
    "q166_stream_dedup": """
        SELECT event_id, event_type, value FROM events ORDER BY event_id""",
}

# read-backs come back in file order; sort them like the reference
READ_KEYS = {"csv": ["o_orderkey"], "nib": ["ids"]}


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, f)}')"
            )
    return con


# ---------------------------------------------------------------------------
# text and vector brute force


def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def _exact_dedup(docs: pd.DataFrame) -> pd.DataFrame:
    groups: dict = {}
    for i, t in zip(docs.doc_id, docs.text):
        groups.setdefault(_norm(t), []).append(int(i))
    rows = sorted((min(v), len(v)) for v in groups.values())
    return pd.DataFrame(rows, columns=["keep_id", "dup_cnt"])


def _cosine_pairs(emb: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """Every pair (ida < idb) whose cosine, rounded to 4 places as the
    engine reports it, reaches ``threshold`` — numpy brute force."""
    ids = emb.vec_id.to_numpy()
    m = np.stack([np.asarray(v, np.float64) for v in emb.embedding])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 4)
    a, b = np.nonzero(np.triu(sims >= threshold, k=1))
    return pd.DataFrame({"ida": ids[a], "idb": ids[b], "sim": sims[a, b]})


# ---------------------------------------------------------------------------
# build


def build(ops: "list[str]", data_dir: str, planted: dict) -> dict:
    """The reference for each operation in ``ops``."""
    con = _duck(data_dir)
    refs: dict = {}
    for op in ops:
        if op in RELATIONAL_SQL:
            refs[op] = con.sql(RELATIONAL_SQL[op]).df()
        elif op in STREAM_SQL:
            refs[op] = con.sql(STREAM_SQL[op]).df()
        elif op == "q30_dedup_exact":
            refs[op] = {
                "groups": _exact_dedup(con.sql("SELECT doc_id, text FROM documents").df()),
                "near": planted["near_dup_docs"],
                "exact": planted["exact_dup_docs"],
            }
        elif op == "q34_dedup_embedding_cosine":
            emb = con.sql("SELECT vec_id, embedding FROM embeddings").df()
            refs[op] = {"pairs": _cosine_pairs(emb, 0.5), "planted": planted["near_dup_emb"]}
        elif op == "csv.read":
            refs["csv"] = con.sql("SELECT * FROM orders ORDER BY o_orderkey").df()
        elif op == "nib.read":
            refs["nib"] = con.sql(
                "SELECT ids, dna AS sequences FROM seqs ORDER BY ids"
            ).df()
        elif not op.endswith(".write"):
            raise ValueError(f"no reference for {op!r}")
    if "q68_stream_tumbling" in ops:
        refs["n_events"] = con.sql("SELECT COUNT(*) FROM events").fetchone()[0]
    con.close()
    return refs


# ---------------------------------------------------------------------------
# checks


def frame_equal(actual: pd.DataFrame, expected: pd.DataFrame, what: str) -> None:
    """Row-by-row equality in order; doubles within FLOAT_TOL, nulls only
    where the reference has them."""
    if list(actual.columns) != list(expected.columns):
        raise CheckFailed(
            f"{what}: columns {list(actual.columns)} != {list(expected.columns)}"
        )
    if len(actual) != len(expected):
        raise CheckFailed(f"{what}: {len(actual)} rows, expected {len(expected)}")
    for col in expected.columns:
        a, e = actual[col], expected[col]
        a_null, e_null = a.isna().to_numpy(), e.isna().to_numpy()
        both = ~a_null & ~e_null
        bad = a_null != e_null
        if pd.api.types.is_float_dtype(e):
            diff = np.abs(a[both].to_numpy(float) - e[both].to_numpy(float))
            bad[both] = ~(diff <= FLOAT_TOL)
        elif pd.api.types.is_datetime64_any_dtype(e):
            bad[both] = (
                np.asarray(pd.to_datetime(a[both]), "datetime64[us]")
                != np.asarray(e[both], "datetime64[us]")
            )
        else:
            bad[both] = a[both].to_numpy(object) != e[both].to_numpy(object)
        if bad.any():
            i = int(np.argmax(bad))
            raise CheckFailed(f"{what}: row {i} {col}={a.iloc[i]!r}, expected {e.iloc[i]!r}")


def _check_pairs(actual: pd.DataFrame, ref: dict) -> None:
    """Near-dup pairs: every planted pair found, and the reported set and
    similarities equal to the brute-force all-pairs answer."""
    found = set(zip(actual.ida.astype(int), actual.idb.astype(int)))
    missing = [p for p in ref["planted"] if tuple(p) not in found]
    if missing:
        raise CheckFailed(f"planted near-dup pairs not found: {missing[:5]}")
    exp = ref["pairs"]
    got = actual.sort_values(["ida", "idb"]).reset_index(drop=True)
    if list(zip(got.ida, got.idb)) != list(zip(exp.ida, exp.idb)):
        raise CheckFailed(f"{len(got)} pairs reported, brute force finds {len(exp)}")
    worst = float(np.max(np.abs(got.sim.to_numpy() - exp.sim.to_numpy()), initial=0.0))
    if worst > SIM_TOL:
        raise CheckFailed(f"similarity off by {worst} from brute force")


def _check_exact_dedup(actual: pd.DataFrame, ref: dict) -> None:
    """Planted near-dup documents stay apart, each kept alone; planted
    exact duplicates merge into their lower id; then the whole output
    equals the Python grouping."""
    cnt = dict(zip(actual.keep_id.astype(int), actual.dup_cnt.astype(int)))
    for a, b in ref["near"]:
        if cnt.get(a) != 1 or cnt.get(b) != 1:
            raise CheckFailed(f"near-dup documents {a} and {b} were not kept apart")
    for a, b in ref["exact"]:
        if cnt.get(a) != 2 or b in cnt:
            raise CheckFailed(f"exact-dup documents {a} and {b} were not merged")
    frame_equal(actual, ref["groups"], "q30_dedup_exact")


def _check_windows(actual: pd.DataFrame, ref: dict) -> None:
    if int(actual.cnt.sum()) != ref["n_events"]:
        raise CheckFailed(
            f"window counts sum to {int(actual.cnt.sum())}, "
            f"events {ref['n_events']}"
        )
    frame_equal(actual, ref["q68_stream_tumbling"], "tumbling windows")


def check(op: str, actual: pd.DataFrame, refs: dict) -> None:
    """Raise CheckFailed unless ``actual`` (the op's collected output) is
    right. Ops are named as in workloads.py; read-backs by format."""
    actual = actual.reset_index(drop=True)
    if op == "q30_dedup_exact":
        _check_exact_dedup(actual, refs[op])
    elif op == "q34_dedup_embedding_cosine":
        _check_pairs(actual, refs[op])
    elif op == "q68_stream_tumbling":
        _check_windows(actual, refs)
    elif op.endswith(".read"):
        fmt = op.split(".")[0]
        exp = refs[fmt]
        got = actual[list(exp.columns)].sort_values(READ_KEYS[fmt]).reset_index(drop=True)
        frame_equal(got, exp, f"{fmt} read-back")
    else:
        frame_equal(actual, refs[op], op)


def check_written(fmt: str, path: str, refs: dict) -> None:
    """Properties of a write's output directory: one file per record for
    the one-record-per-file format nib, and each nib file exactly
    8 + ceil(len/2) bytes."""
    if fmt != "nib":
        return
    files = sorted(f for f in os.listdir(path) if not f.startswith((".", "_")))
    exp = refs[fmt]
    if len(files) != len(exp):
        raise CheckFailed(f"{fmt}: {len(files)} files for {len(exp)} records")
    for rid, seq in zip(exp.ids, exp.sequences):
        size = os.path.getsize(os.path.join(path, f"{rid}.nib"))
        if size != 8 + (len(seq) + 1) // 2:
            raise CheckFailed(f"nib {rid}: {size} bytes for {len(seq)} bases")

"""Seeded input generator for the benchmark.

Everything a workload reads is made here, so the program under test
receives only generated files and the benchmark needs nothing outside its
checkout. The tables copy the schemas and value
distributions of the engine's TPC-H-style star schema plus the ``events``,
``documents`` and ``embeddings`` tables (row counts scale with ``sf`` the
way the engine's sf0.001/0.01/0.1 fixtures do).

Row values come from a fixed content seed, so every run measures the same
amount of work. The run's seed picks only:

- a bijective relabel of the user, customer and document keys,
- the event-time cut points between landed files,
- the order in which ``batch_heads`` runs its heads.

Landed files are range-ordered by event time: file ``k`` holds the
``k``-th event-time slice, so a stream that reads them in order never sees
a row behind its watermark.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = (["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "bolt", "gear", "gizmo", "plate", "widget", "rod", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

EVENTS_T0 = pd.Timestamp("2024-01-01")
ORDERS_T0 = pd.Timestamp("1995-01-01")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the fixtures
SHIP_LAG_DAYS = 45  # lineitem ships 0..45 days after its order


CONTENT_SEED = 0


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a table never
    shifts the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _us(ts: pd.Series) -> pd.Series:
    return ts.astype("datetime64[us]")


def events_frame(seed: int, n: int, days: float, n_users: int, first_id: int = 0,
                 t0: pd.Timestamp = EVENTS_T0) -> pd.DataFrame:
    """``n`` click-stream events over ``days`` of event time, sorted by ts.
    User ids pass through a seeded permutation (the key relabel)."""
    r = rng_for(CONTENT_SEED, f"events:{first_id}:{n}")
    span_us = int(days * 86_400_000_000)
    offs = np.sort(r.integers(0, span_us, n))
    relabel = rng_for(seed, "user_relabel").permutation(n_users)
    df = pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": t0 + pd.to_timedelta(offs, unit="us"),
            "user_id": relabel[r.integers(0, n_users, n)].astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
            "value": np.round(r.uniform(1.0, 200.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )
    df["ts"] = _us(df["ts"])
    return df


def cut_points(seed: int, stream: str, lo: int, hi: int, n_files: int) -> np.ndarray:
    """``n_files - 1`` strictly increasing cut points in ``(lo, hi)``:
    evenly spaced slices with a seeded jitter of up to a quarter slice."""
    r = rng_for(seed, f"cuts:{stream}")
    step = (hi - lo) / n_files
    base = lo + step * np.arange(1, n_files)
    return np.floor(base + r.uniform(-0.25, 0.25, n_files - 1) * step).astype(np.int64)


def split_by_time(df: pd.DataFrame, col: str, cuts: np.ndarray) -> list[pd.DataFrame]:
    """Range-split ``df`` on ``col`` (micros) at ``cuts``: slice k holds
    ``cuts[k-1] <= t < cuts[k]``."""
    t = df[col].astype("int64").to_numpy()
    idx = np.searchsorted(cuts, t, side="right")
    return [df[idx == k].reset_index(drop=True) for k in range(len(cuts) + 1)]


def write_staggered(parts: list[pd.DataFrame], out_dir: str, prefix: str) -> list[str]:
    """Write one parquet per part with strictly increasing mtimes in part
    order, so the file source replays them oldest first."""
    os.makedirs(out_dir, exist_ok=True)
    base = 1_700_000_000.0
    paths = []
    for i, part in enumerate(parts):
        p = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        _write(part, p)
        os.utime(p, (base + i, base + i))
        paths.append(p)
    return paths


def tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten base tables at scale ``sf`` (sf0.01 = 15k orders)."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_docs = max(50, int(50_000 * sf))
    n_emb = n_docs if sf <= 0.01 else int(20_000 * sf)
    n_events = max(1000, int(1_000_000 * sf))

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    r = rng_for(CONTENT_SEED, "customer")
    cust_ids = rng_for(seed, "cust_relabel").permutation(n_cust).astype(np.int64)
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    r = rng_for(CONTENT_SEED, "supplier")
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    r = rng_for(CONTENT_SEED, "part")
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    r = rng_for(CONTENT_SEED, "orders")
    o_days = r.integers(0, ORDER_DAYS, n_ord)
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": cust_ids[r.integers(0, n_cust, n_ord)],
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _us(ORDERS_T0 + pd.to_timedelta(o_days, unit="D")),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )
    r = rng_for(CONTENT_SEED, "lineitem")
    l_ord = r.integers(0, n_ord, n_line)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": l_ord.astype(np.int64),
            "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _us(
                ORDERS_T0
                + pd.to_timedelta(o_days[l_ord] + r.integers(0, SHIP_LAG_DAYS + 1, n_line), unit="D")
            ),
        }
    )
    out["events"] = events_frame(seed, n_events, 30.0, max(150, int(15_000 * sf)))
    r = rng_for(CONTENT_SEED, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS), r.integers(8, 80))]))
    doc_ids = rng_for(seed, "doc_relabel").permutation(max(n_docs, n_emb)).astype(np.int64)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": doc_ids[:n_docs],
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    r = rng_for(CONTENT_SEED, "embeddings")
    vecs = r.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": doc_ids[:n_emb],
            "embedding": list(vecs),
            "label": r.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every base table as ``{out_dir}/{name}.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in tables(seed, sf).items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(df)
    return counts


def fingerprint(paths: list[str]) -> str:
    """Content hash of a file list (names and bytes), for the same-seed
    determinism check."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()

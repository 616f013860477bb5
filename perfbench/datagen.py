"""Deterministic synthetic tables for the benchmark's parquet workloads.

Writes the ten tables the plan registry reads (the TPC-H-like star schema,
``events``, ``documents`` and ``embeddings``) with the same column names,
physical types and value shapes as the engine's fixtures, one parquet file
per table written through pandas/pyarrow.  Row counts scale with ``sf``
exactly as the fixtures do (lineitem = 6M x sf; at least 500 documents and
500 embeddings).  ``perfbench/tests`` compares the generated tables with a
fixture directory when ``PERFBENCH_SF_DIR`` names one.

The data depends only on ``sf``, a fixed internal seed and this file, so a
benchmark run's ``--seed`` changes the op order, never the data.  ``ensure``
writes into ``<root>/sf<sf>-<hash of this file>`` once and reuses the
directory afterwards (a ``.complete`` marker guards against a half-written
set); editing the generator therefore writes a new directory.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import numpy as np
import pandas as pd

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "valve", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices in whole cents, as doubles (e.g. 4516.95)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    words = np.array(WORDS)
    texts: list[str] = []
    # one document in 20, at random positions, is a one-word edit of an
    # earlier one (some of an earlier copy), so the dedup operators have
    # near-duplicate pairs and a few triples to find
    copies = set(rng.choice(np.arange(1, n), n // 20, replace=False).tolist())
    for i in range(n):
        if i in copies:
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = str(rng.choice(words))
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(words, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = centers[labels] * 0.5 + rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels,
        }
    )


def generate(sf: float) -> dict[str, pd.DataFrame]:
    """All tables at scale factor ``sf`` as pandas frames."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 10)

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
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    partkey = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": partkey,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": (9000 + partkey % 1000) / 10.0,
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    # events: 30 days of increasing microsecond timestamps
    gaps = rng.exponential(1.0, n_evt)
    span_us = 30 * 86_400 * 1_000_000
    offs = np.cumsum(gaps) / gaps.sum() * (span_us - 1_000_000)
    ts = np.datetime64("2024-01-01", "us") + offs.astype(np.int64)
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def ensure(root: str, sf: float) -> str:
    """The directory holding the tables at ``sf``, generating it if needed."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    dest = os.path.join(root, f"sf{sf:g}-{version}")
    marker = os.path.join(dest, ".complete")
    if os.path.exists(marker):
        return dest
    # tables of an earlier generator version
    for old in glob.glob(os.path.join(root, f"sf{sf:g}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{dest}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in generate(sf).items():
        df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    return dest

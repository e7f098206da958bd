"""Seeded inputs for the benchmark.

Two generators, both pure NumPy + pyarrow (no Spark, no network):

- :func:`write_tables` writes the engine's ten parquet tables (TPC-H-ish
  star schema + ``events`` + ``documents`` + ``embeddings``) with the
  column names, types and value distributions of the engine's sf-scaled
  fixtures, so every registered query runs on them unchanged.
- :func:`movielens_like` builds a MovieLens-latest-small look-alike
  ratings matrix (671 users, 9,125 items, ~100k half-star ratings in
  [0.5, 5] from a latent-factor model with Zipf item popularity).

The same seed always gives the same bytes of input.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return (np.datetime64(start, "us") + rng.integers(0, span, n) * np.timedelta64(1, "D")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables at scale factor ``sf`` (sf=1 ≈ 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}

    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
        }
    )
    # events: a 30-day stream in event_id order, ~|customers|/10 users
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: random-word texts; 5% are near-duplicates of another doc
    lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(DOC_VOCAB, n)) for n in lens]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    # embeddings: unit vectors with a weak per-label centroid
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 0.5, (10, EMB_DIM))
    vecs = rng.normal(0.0, 1.0, (n_emb, EMB_DIM)) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(vecs), "label": labels.astype(i32)}
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir)
    for name, df in star_tables(sf, seed).items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, f"{name}.parquet"))


def movielens_like(
    seed: int,
    n_users: int = 671,
    n_items: int = 9125,
    n_ratings: int = 100_000,
    rank: int = 6,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(ratings[user_id, item_id, rating], items[item_id, title]).

    User ids start at 1 (0 is the fold-in user). Per-user activity is
    heavy-tailed (every user has at least 20 ratings, as in ml-latest-
    small, and at most a quarter of the items, near its most active
    user's 2,391 of 9,125); items are drawn by Zipf popularity; a rating
    is the rounded, clipped half-star value of mean + user bias + item
    bias + user·item factors + noise.
    """
    rng = np.random.default_rng(seed)
    pop = 1.0 / np.arange(1, n_items + 1) ** 0.9
    pop = pop[rng.permutation(n_items)]
    pop /= pop.sum()
    activity = rng.lognormal(0.0, 1.0, n_users)
    per_user = 20 + np.round(activity / activity.sum() * (n_ratings - 20 * n_users)).astype(int)
    per_user = np.minimum(per_user, n_items // 4)
    uf = rng.normal(0.0, 0.6, (n_users, rank))
    vf = rng.normal(0.0, 0.6, (n_items, rank))
    bias = rng.normal(0.0, 0.4, n_items)
    user_bias = rng.normal(0.0, 0.35, n_users)
    users, items, ratings = [], [], []
    for u in range(n_users):
        k = int(per_user[u])
        its = rng.choice(n_items, size=k, replace=False, p=pop)
        r = 3.5 + user_bias[u] + bias[its] + vf[its] @ uf[u] + rng.normal(0.0, 0.5, k)
        users.append(np.full(k, u + 1, dtype=np.int32))
        items.append(its.astype(np.int32))
        ratings.append(np.clip(np.round(r * 2) / 2, 0.5, 5.0))
    ratings_df = pd.DataFrame(
        {"user_id": np.concatenate(users), "item_id": np.concatenate(items), "rating": np.concatenate(ratings)}
    )
    items_df = pd.DataFrame(
        {
            "item_id": np.arange(n_items, dtype=np.int32),
            "title": [f"Movie {i} ({1950 + i % 67})" for i in range(n_items)],
        }
    )
    return ratings_df, items_df

"""Seeded synthetic inputs for the benchmark.

Writes the ten canonical tables (``catalog.TABLES``) as one parquet file
each, with the column names and physical types the package reads, and
derives the workload-specific inputs (the planted factorization matrix,
the document twins and the ingest shards) from them. Everything is drawn
from ``numpy.random.default_rng`` keyed by the workload seed, so the same
seed gives identical inputs, and the program under test sees only files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
COMMON_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
RARE_WORDS = 5000  # long-tail terms ``w0000``..``w4999``: what BM25 ranks on
RARE_SHARE = 0.1

_US_PER_DAY = 86_400_000_000
_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return int((dt - _EPOCH).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    return list(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def make_texts(rng: np.random.Generator, n: int, min_words: int = 10, max_words: int = 100) -> list[str]:
    """Documents of 10-100 tokens: mostly the 30 common words of the
    package's test corpus, one token in ten from a long tail of rare terms.
    About 5 % are another document plus the token ``dup``."""
    vocab = np.asarray(COMMON_WORDS + [f"w{i:04d}" for i in range(RARE_WORDS)], dtype=object)
    texts = []
    for k in rng.integers(min_words, max_words + 1, n):
        ids = rng.integers(0, len(COMMON_WORDS), k)
        rare = rng.random(k) < RARE_SHARE
        ids[rare] = len(COMMON_WORDS) + rng.integers(0, RARE_WORDS, int(rare.sum()))
        texts.append(" ".join(vocab[ids]))
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def documents_table(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    texts = make_texts(rng, n)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tables(seed: int, sf: float, n_docs: int | None = None) -> dict[str, pa.Table]:
    """The ten catalog tables at TPC-H-like ratios: ``sf=0.01`` gives 1.5k
    customers, 2k parts, 15k orders and about 60k line items."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(20, int(15_000 * sf))
    n_docs = n_docs if n_docs is not None else int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
        }
    )
    day0 = _us(datetime(1995, 1, 1))
    odays = rng.integers(0, 2400, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(day0 + odays * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    perm = rng.permutation(n_li)  # line items are not clustered by order
    ship = day0 + (odays[l_order] + rng.integers(1, 122, n_li)) * _US_PER_DAY
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order[perm],
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": l_num[perm],
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(ship[perm]),
        }
    )
    ev0 = _us(datetime(2024, 1, 1))
    ev_ts = np.unique(ev0 + rng.integers(0, 30 * _US_PER_DAY, 2 * n_ev))
    ev_ts = np.sort(rng.choice(ev_ts, n_ev, replace=False))  # unique timestamps
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 500.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = documents_table(rng, n_docs)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, 64))
    emb = centers[labels] + 0.8 * rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write_tables(out_dir: str, tabs: dict[str, pa.Table]) -> None:
    """Write every table to ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def _cell_hash(a: np.ndarray, b: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 finalizer over (a, b, seed): a per-cell value that does
    not depend on row order, so no recomputation can redraw it."""
    with np.errstate(over="ignore"):
        x = (
            a.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
            ^ b.astype(np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)
            ^ np.uint64(seed & 0xFFFFFFFF) * np.uint64(0x165667B19E3779F9)
        )
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


def cell_noise(a: np.ndarray, b: np.ndarray, seed: int) -> np.ndarray:
    """Standard-normal noise keyed by the cell ids and the seed (Box-Muller
    over two hash-derived uniforms)."""
    h1 = _cell_hash(a, b, seed)
    h2 = _cell_hash(a, b, seed ^ 0x5BD1E995)
    u1 = ((h1 >> np.uint64(11)).astype(np.float64) + 0.5) / float(1 << 53)
    u2 = ((h2 >> np.uint64(11)).astype(np.float64) + 0.5) / float(1 << 53)
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)


def planted_matrix(
    tabs: dict[str, pa.Table], seed: int, rank: int = 4, noise: float = 0.5
) -> tuple[pa.Table, pa.Table]:
    """Planted low-rank ratings on the real sparsity pattern of distinct
    (customer, part) pairs of ``lineitem ⋈ orders``.

    Returns ``(cells, part_side)``: cells ``(cust, part, value)`` and the
    part side information ``(id, features)`` = brand one-hot plus
    standardized size and price. The part factors are partly a linear
    image of those features, so the side information is informative.
    """
    rng = np.random.default_rng([seed, 2])
    li = tabs["lineitem"]
    cust_of_order = tabs["orders"].column("o_custkey").to_numpy()
    cust = cust_of_order[li.column("l_orderkey").to_numpy()]
    part = li.column("l_partkey").to_numpy()
    pairs = np.unique(np.stack([cust, part], axis=1), axis=0)
    n_cust = tabs["customer"].num_rows
    ptab = tabs["part"]
    n_part = ptab.num_rows
    brand = np.array([int(s.split("#")[1]) - 1 for s in ptab.column("p_brand").to_pylist()])
    size = ptab.column("p_size").to_numpy().astype(np.float64)
    price = ptab.column("p_retailprice").to_numpy()
    feats = np.zeros((n_part, 27))
    feats[np.arange(n_part), brand] = 1.0
    feats[:, 25] = (size - size.mean()) / size.std()
    feats[:, 26] = (price - price.mean()) / price.std()
    u = rng.standard_normal((n_cust, rank))
    w = rng.standard_normal((27, rank)) * 0.7
    v = feats @ w + 0.7 * rng.standard_normal((n_part, rank))
    a, b = pairs[:, 0], pairs[:, 1]
    value = np.einsum("ij,ij->i", u[a], v[b]) + noise * cell_noise(a, b, seed)
    cells = pa.table({"cust": a.astype(np.int64), "part": b.astype(np.int64), "value": value})
    side = pa.table(
        {
            "id": np.arange(n_part, dtype=np.int64),
            "features": pa.array(list(feats.astype(np.float32)), pa.list_(pa.float32())),
        }
    )
    return cells, side


def twin(text: str) -> str:
    """A near-duplicate: the document with its first token dropped (the
    mutation ``functions.dedup._twin_corpus`` plants)."""
    return text.split(" ", 1)[1] if " " in text else text


def ingest_shard(
    base_texts: list[str],
    seed: int,
    cycle: int,
    n_docs: int,
    first_id: int,
    twin_frac: float = 0.1,
) -> tuple[pa.Table, dict[int, int]]:
    """One append shard: fresh documents with fresh ids, ``twin_frac`` of
    them planted twins of base documents. Returns the shard and
    ``{twin doc_id: index of its source in base_texts}``."""
    rng = np.random.default_rng([seed, 3, cycle])
    shard = documents_table(rng, n_docs, first_id)
    texts = shard.column("text").to_pylist()
    n_twins = max(1, int(n_docs * twin_frac))
    slots = rng.choice(n_docs, n_twins, replace=False)
    # long sources only: dropping one token of a 40+-token document keeps
    # the shingle Jaccard far above the dedup threshold
    long_src = [i for i, t in enumerate(base_texts) if len(t.split()) >= 40]
    srcs = rng.choice(long_src, n_twins, replace=False)
    planted: dict[int, int] = {}
    for slot, src in zip(slots, srcs):
        texts[slot] = twin(base_texts[src])
        planted[first_id + int(slot)] = int(src)
    shard = shard.set_column(1, "text", pa.array(texts))
    shard = shard.set_column(4, "n_chars", pa.array([len(t) for t in texts], pa.int64()))
    return shard, planted

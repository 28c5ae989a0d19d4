"""Seeded data tier for the benchmark.

Writes the ten tables the engine reads (``linux_logs_spark.catalog.TABLES``)
as single-file parquet, from nothing but a seed, an event count and a
document count (the sf0.1 test tier has 100k events and 5k documents).
The distributions follow the scale-rehearsal recipe: a 30-word base
vocabulary plus a Zipf-weighted rare tail, 3 % planted near-duplicates,
events uniform over January 2024 with exponential values, and
TPC-H-shaped dimension and fact tables.

Generation is vectorised numpy and runs outside every timed phase. The
tier is cached under ``.perfbench_cache/`` at the root of the checkout,
keyed by seed and sizes, so a second run with the same seed reuses it.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

# The sf0.1 corpus vocabulary: 30 content words shared by every language.
# Its 31st word, "dup", only marks duplicated documents; here duplicates
# are planted instead (_documents).
BASE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
N_SOURCES = 20
TAIL_MULT = 30  # rare tail words per base word (scale rehearsal, 10x rule)
NEAR_DUP_FRAC = 0.03
EXACT_DUP_FRAC = 0.002
EMB_DIM = 64


def sizes(n_events: int, n_docs: int) -> dict[str, int]:
    """Row counts of every table, in the sf0.1 proportions: the event log
    sets the customer and order counts, the corpus sets the vectors."""
    return {
        "events": n_events,
        "documents": n_docs,
        "embeddings": n_docs * 2 // 5,
        "customer": n_events * 3 // 20,
        "orders": n_events * 3 // 2,
        "lineitem": 100_000,
        "supplier": 1_000,
        "part": 20_000,
    }


def tier_dir(seed: int, n_events: int, n_docs: int) -> str:
    return os.path.join(CACHE, "tiers", f"s{seed}_e{n_events}_d{n_docs}")


def ensure(seed: int, n_events: int, n_docs: int) -> str:
    """Path of the tier for (seed, sizes), generating it on first use.
    A tier is complete only once its ``_DONE`` marker exists."""
    path = tier_dir(seed, n_events, n_docs)
    if not os.path.exists(os.path.join(path, "_DONE")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        generate(path, seed, sizes(n_events, n_docs))
        open(os.path.join(path, "_DONE"), "w").close()
    os.utime(path)
    return path


def prune(keep: int, current: str) -> None:
    """Delete all but the ``keep`` most recently used tiers."""
    root = os.path.dirname(current)
    tiers = sorted(
        (e for e in os.scandir(root) if e.is_dir()),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in tiers[keep:]:
        if e.path != current:
            shutil.rmtree(e.path, ignore_errors=True)


def _write(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact 2-decimal amounts (integer cents), so sums match across engines."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _documents(rng, n: int) -> dict:
    vocab = BASE_WORDS + [
        f"{BASE_WORDS[i % len(BASE_WORDS)]}x{i}"
        for i in range(TAIL_MULT * len(BASE_WORDS))
    ]
    vocab_arr = np.array(vocab, dtype=object)
    # Zipf-ish: rank r has weight 1/(r+10); languages share the vocabulary
    # but each draws it in its own rank order.
    w = 1.0 / (np.arange(len(vocab)) + 10)
    cdf = np.cumsum(w / w.sum())
    lang_idx = rng.choice(len(LANGS), size=n, p=LANG_P)
    perms = [rng.permutation(len(BASE_WORDS)) for _ in LANGS]
    n_words = rng.integers(10, 101, n)
    starts = np.concatenate(([0], np.cumsum(n_words)))
    ranks = np.searchsorted(cdf, rng.random(starts[-1]), side="right")
    ranks = np.minimum(ranks, len(vocab) - 1)
    tok_lang = np.repeat(lang_idx, n_words)
    head = ranks < len(BASE_WORDS)
    perm_tab = np.stack(perms)
    ranks[head] = perm_tab[tok_lang[head], ranks[head]]
    words = vocab_arr[ranks]
    texts = [" ".join(words[starts[i] : starts[i + 1]]) for i in range(n)]

    # Planted duplicates overwrite the tail of the corpus: exact copies,
    # then near copies with ~5 % of tokens replaced. Each copy keeps the
    # source's language and source tag, so it lands in the same block.
    n_near = int(n * NEAR_DUP_FRAC)
    n_exact = max(1, int(n * EXACT_DUP_FRAC))
    organic = n - n_near - n_exact
    src_of = np.arange(n) % N_SOURCES
    for j in range(organic, n):
        s = int(rng.integers(0, organic))
        toks = texts[s].split(" ")
        if j >= organic + n_exact:
            for _ in range(max(1, len(toks) // 20)):
                toks[int(rng.integers(0, len(toks)))] = vocab[
                    int(rng.integers(0, len(vocab)))
                ]
        texts[j] = " ".join(toks)
        lang_idx[j] = lang_idx[s]
        src_of[j] = src_of[s]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[lang_idx], pa.string()),
        "source": pa.array([f"src{s}" for s in src_of], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    """Isotropic unit vectors (the sf0.1 geometry), 3 % near-duplicates."""
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(0, 1.0, (n, EMB_DIM))
    n_dup = int(n * NEAR_DUP_FRAC)
    src = rng.integers(0, n - n_dup, n_dup)
    vecs[n - n_dup :] = vecs[src] + rng.normal(0, 0.05, (n_dup, EMB_DIM))
    labels[n - n_dup :] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32())
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    }


def _events(rng, n: int, n_users: int) -> dict:
    """A log stream: ts-ordered like an appended log, uniform over
    January 2024, five event types, exponential values in cents."""
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    t1 = dt.datetime(2024, 1, 31, tzinfo=dt.timezone.utc).timestamp()
    ts_us = np.sort(rng.integers(int(t0 * 1e6), int(t1 * 1e6), n))
    types = np.array(["signup", "click", "error", "view", "purchase"], dtype=object)
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(types[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
        ),
    }


def _dates(rng, lo: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(lo, "us")
    day_us = np.int64(86_400_000_000)
    return pa.array(base + rng.integers(0, days, n) * day_us, pa.timestamp("us"))


def generate(path: str, seed: int, n: dict[str, int]) -> None:
    rng = np.random.default_rng(seed)
    n_cust, n_ord = n["customer"], n["orders"]
    _write(path, "documents", _documents(rng, n["documents"]))
    _write(path, "embeddings", _embeddings(rng, n["embeddings"]))
    _write(path, "events", _events(rng, n["events"], n_users=n["events"] // 66))
    _write(path, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(path, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
    )
    _write(path, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)], pa.string()),
    })
    n_supp = n["supplier"]
    _write(path, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    n_part = n["part"]
    adj = np.array(["large", "hot", "blue", "small", "green", "bright", "dark", "cold"], dtype=object)
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "plate", "valve", "wire"], dtype=object)
    ptypes = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], dtype=object)
    _write(path, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            adj[rng.integers(0, 8, n_part)] + " " + noun[rng.integers(0, 8, n_part)],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(ptypes[rng.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    status = np.array(["F", "O", "P"], dtype=object)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    _write(path, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(status[rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": _money(rng, 800.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], pa.string()),
    })
    n_li = n["lineitem"]
    flags = np.array(["A", "N", "R"], dtype=object)
    lstat = np.array(["F", "O"], dtype=object)
    _write(path, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array(lstat[rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": _dates(rng, "1995-01-02", 2498, n_li),
    })

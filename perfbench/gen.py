"""Seeded synthetic inputs in the engine's table schema (TESTDATA.md).

Writes one parquet file per table, ``{out}/{table}.parquet``, with the
column names and types ``sources.tables.load`` expects and value
distributions shaped like the engine's reference test data: TPC-H-like
star tables, an ``events`` stream, a ``documents`` corpus and unit-norm
``embeddings``. Row counts are linear in ``sf`` (sf 0.1 = 600k lineitem
rows). The same ``(seed, sf)`` writes the same bytes.

``documents`` draws from a 30-word vocabulary (the reference corpus
shape) and plants exact and near duplicates so the dedup operators find
clusters. ``corpus_documents`` is the flagship corpus: a Zipf-like
vocabulary of a few thousand words, so per-word sampling errors are
nearly independent and a relative-L1 error over them is steady.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_day, hi_day, n):
    d = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(_EPOCH_1995 + d * _US_PER_DAY // 1, pa.timestamp("us"))


def _texts(rng, n, vocab, p=None, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    ids = rng.choice(len(vocab), int(lens.sum()), p=p)
    words = np.asarray(vocab, dtype=object)[ids]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(ws) for ws in np.split(words, cuts)]


def _documents(rng, n, vocab, p=None):
    texts = _texts(rng, n, vocab, p)
    # plant duplicates: a few exact copies and ~5% near copies (one word
    # appended), so every dedup operator has clusters to find
    n_near = max(1, n // 20)
    for i, j in zip(rng.choice(n, n_near, replace=False), rng.choice(n, n_near)):
        texts[i] = texts[j] + " dup"
    for i, j in zip(rng.choice(n, max(1, n // 600), replace=False), rng.choice(n, max(1, n // 600))):
        texts[i] = texts[j]
    text = pa.array(texts, pa.string())
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.compute.utf8_length(text).cast(pa.int64()),
        }
    )


def corpus_vocab(size: int = 4000) -> tuple[list[str], np.ndarray]:
    """The flagship corpus vocabulary and its Zipf(1) word weights."""
    def letters(k):  # 0 -> "", 1 -> "a", 27 -> "aa": digit-free suffixes
        s = ""
        while k:
            k, r = divmod(k - 1, 26)
            s = chr(97 + r) + s
        return s

    vocab = [VOCAB[i % len(VOCAB)] + letters(i // len(VOCAB)) for i in range(size)]
    w = 1.0 / np.arange(1, size + 1)
    return vocab, w / w.sum()


def tables(seed: int, sf: float, names=None) -> dict[str, pa.Table]:
    """The engine's tables at scale factor ``sf`` (all, or ``names``).
    Each table draws from its own stream of ``seed``, so a subset holds
    the same rows as the full set."""
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(15, int(15_000 * sf))

    def region(rng):
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}

    def nation(rng):
        return {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }

    def customer(rng):
        return {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }

    def supplier(rng):
        return {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }

    def part(rng):
        pk = np.arange(n_part, dtype=np.int64)
        return {
            "p_partkey": pa.array(pk),
            "p_name": _choice(rng, [f"{a} {b}" for a in P_ADJ for b in P_NOUN], n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
        }

    def orders(rng):
        return {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _choice(rng, ("O", "F", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, 0, 2403, n_ord),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }

    def lineitem(rng):
        return {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _choice(rng, ("N", "R", "A"), n_li),
            "l_linestatus": _choice(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, 1, 2499, n_li),
        }

    def events(rng):
        ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
        return {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }

    def documents(rng):
        return _documents(rng, n_doc, VOCAB)

    def embeddings(rng):
        emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
        labels = rng.integers(0, 10, n_emb, dtype=np.int32)
        emb += 1.5 * rng.standard_normal((10, 64)).astype(np.float32)[labels]
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        return {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }

    makers = (region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
    out = {}
    for i, build in enumerate(makers):
        if names is None or build.__name__ in names:
            t = build(np.random.default_rng([seed, i]))
            out[build.__name__] = t if isinstance(t, pa.Table) else pa.table(t)
    return out


def corpus_documents(seed: int, n_docs: int) -> pa.Table:
    """The flagship ``documents`` table (wide Zipf vocabulary)."""
    vocab, p = corpus_vocab()
    return _documents(np.random.default_rng(seed), n_docs, vocab, p)


def write(out: str, tbls: dict[str, pa.Table]) -> str:
    os.makedirs(out, exist_ok=True)
    for name, t in tbls.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return out

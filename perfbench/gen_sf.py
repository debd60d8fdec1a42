"""Seeded tables in the engine's ``sf_dir`` layout (one ``<table>.parquet``
file per table, the column names and types of the standard test tables).

- :func:`delay_tables` writes ``orders`` and ``lineitem`` for the delay
  analytics. Each order's ship dates lag its order date by a base delay
  plus a late tail whose share and length are drawn from the seed, so the
  delay distribution itself differs between seeds.
- :func:`corpus_tables` writes ``documents`` and ``embeddings`` for the
  dedup queries, with planted near-duplicate families: a few large ones,
  many pairs and triples, and singletons. The families are returned (and
  written to ``families.json``) so the dedup result can be checked
  against them.

Documents are random word sequences over a large vocabulary, so two
unrelated documents share almost no word 3-grams. A family member is the
family's base text, either verbatim or with one extra word appended; any
two members then have word-3-gram Jaccard similarity of at least 0.95.
The verbatim pair of each family is paired by any MinHash-LSH; an
appended member is missed only if its extra 3-gram happens to win the
minimum in every band, which the check tolerates for a few members.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = np.datetime64("1992-01-01", "D")


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _micros(days: np.ndarray) -> pa.Array:
    ts = (_EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(ts, type=pa.timestamp("us"))


def delay_tables(out_dir: str, seed: int, n_orders: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0xDE1A])
    late_share = float(rng.uniform(0.05, 0.25))
    late_scale = float(rng.uniform(20.0, 120.0))

    okey = np.arange(1, n_orders + 1, dtype=np.int64)
    odays = rng.integers(0, 2406, n_orders)
    orders = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": rng.integers(1, max(2, n_orders // 10), n_orders, dtype=np.int64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": np.round(rng.uniform(850.0, 500_000.0, n_orders), 2),
            "o_orderdate": _micros(odays),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                           n_orders)
            ),
        }
    )
    lines_per = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per.sum())
    lkey = np.repeat(okey, lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    linenumber = (np.arange(n_lines) - starts + 1).astype(np.int32)
    delay = rng.integers(1, 122, n_lines)
    late = rng.random(n_lines) < late_share
    delay = delay + np.where(late, rng.exponential(late_scale, n_lines).astype(np.int64), 0)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": lkey,
            "l_partkey": rng.integers(1, 20_001, n_lines, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1_001, n_lines, dtype=np.int64),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n_lines), 2),
            "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_lines)),
            "l_shipdate": _micros(np.repeat(odays, lines_per) + delay),
        }
    )
    _write(out_dir, "orders", orders)
    _write(out_dir, "lineitem", lineitem)
    return {"orders": n_orders, "lineitem": n_lines}


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, int(rng.integers(3, 9)))))
    return sorted(words)


def corpus_tables(
    out_dir: str,
    seed: int,
    n_docs: int,
    large_families: tuple[int, ...],
    n_small_families: int,
    n_vecs: int,
    dim: int = 64,
) -> dict:
    """``large_families`` gives the sizes of the big families; the small
    ones alternate between pairs and triples. The rest are singletons."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0xC0DE])
    vocab = np.array(_vocabulary(rng, 3000))

    sizes = list(large_families) + [2 + i % 2 for i in range(n_small_families)]
    n_singletons = n_docs - sum(sizes)
    if n_singletons < 0:
        raise ValueError("families do not fit in the corpus")

    def words(lo: int, hi: int) -> list[str]:
        return list(rng.choice(vocab, int(rng.integers(lo, hi))))

    texts: list[str] = []
    for size in sizes:
        base = words(40, 120)
        for m in range(size):
            # Member 0 and 1 are verbatim, so every family has an exact
            # duplicate; the rest append one extra word each.
            member = base if m < 2 else base + [str(rng.choice(vocab))]
            texts.append(" ".join(member))
    for _ in range(n_singletons):
        texts.append(" ".join(words(40, 120)))

    order = rng.permutation(n_docs)
    doc_text = [texts[i] for i in order]
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": pa.array(doc_text),
            "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n_docs,
                                        p=[0.4, 0.15, 0.15, 0.15, 0.15])),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": np.array([len(t) for t in doc_text], dtype=np.int64),
        }
    )
    families: dict[int, dict] = {}
    position = np.argsort(order)  # original index -> doc_id
    start = 0
    for fam, size in enumerate(sizes):
        ids = sorted(int(position[start + m]) for m in range(size))
        verbatim = sorted(int(position[start + m]) for m in range(2))
        families[fam] = {"members": ids, "verbatim": verbatim}
        start += size

    # Embeddings: random unit vectors plus planted clusters of close ones.
    vec = rng.standard_normal((n_vecs, dim))
    n_planted = n_vecs // 10
    centers = rng.standard_normal((-(-n_planted // 5), dim))
    vec[:n_planted] = (
        np.repeat(centers, 5, axis=0)[:n_planted]
        + 0.3 * rng.standard_normal((n_planted, dim))
    )
    vec = vec[rng.permutation(n_vecs)]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    _write(out_dir, "documents", documents)
    _write(out_dir, "embeddings", embeddings)
    fam_list = sorted(families.values(), key=lambda f: f["members"][0])
    with open(os.path.join(out_dir, "families.json"), "w") as f:
        json.dump(fam_list, f)
    return {"documents": n_docs, "embeddings": n_vecs, "families": fam_list}

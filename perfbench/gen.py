"""Seeded input tables for snapshot_copy. Same seed, same bytes: every
table is built from one ``numpy.random.Generator`` and written as a
single parquet row group, like the sf0.1 testdata the engine is tuned
on."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_US = 694_224_000_000_000  # 1992-01-01
_DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(path: str, table: pa.Table) -> int:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return table.num_rows


def tpch_tables(out_dir: str, seed: int, scale: float) -> dict:
    """lineitem/orders/customer/part/events plus supplier, which the
    benchmark's namespace regex must prune. ``scale`` 1.0 is sf0.1
    (600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(15_000 * scale), 10)
    n_ord = max(int(150_000 * scale), 10)
    n_line = max(int(600_000 * scale), 10)
    n_part = max(int(20_000 * scale), 10)
    n_supp = max(int(1_000 * scale), 10)
    n_ev = max(int(100_000 * scale), 10)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    rows = {}
    rows["customer"] = _write(os.path.join(out_dir, "customer.parquet"), pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }))
    rows["orders"] = _write(os.path.join(out_dir, "orders.parquet"), pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_EPOCH_US + rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }))
    rows["lineitem"] = _write(os.path.join(out_dir, "lineitem.parquet"), pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_US + rng.integers(0, 2500, n_line) * _DAY_US),
    }))
    adjectives = np.array(["small", "red", "green", "steel", "plated", "large"])
    nouns = np.array(["ring", "widget", "bolt", "frame", "gear", "valve"])
    rows["part"] = _write(os.path.join(out_dir, "part.parquet"), pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 6, n_part)], " "),
                              nouns[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 50, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO"])[rng.integers(0, 3, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n_part), 2),
    }))
    rows["supplier"] = _write(os.path.join(out_dir, "supplier.parquet"), pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }))
    # the time column is not named ``ts``: the engine drops a source
    # column named like an envelope field (see workloads.envelope_probe)
    rows["events"] = _write(os.path.join(out_dir, "events.parquet"), pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "event_ts": _ts(_EPOCH_US + np.sort(rng.integers(0, 365 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, max(n_ev // 60, 2), n_ev, dtype=np.int64),
        "event_type": np.array(["signup", "click", "view", "purchase", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.0, 100.0, n_ev), 3),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    return rows


VOCAB = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order data column join small customer query stream group big "
    "filter vector".split())
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def corpus(out_dir: str, seed: int, n_docs: int, dup_share: float) -> dict:
    """``documents`` and ``embeddings`` for the curation chain, shaped
    like the engine's testdata corpus: 10 to 99 words from a 30-word
    vocabulary, five languages, 20 sources, 64-dimensional unit vectors
    with ten labels.

    A ``dup_share`` of the documents are near duplicates, each of its
    own earlier original: the original's tokens with one replaced (only
    when it has at least 68, so word-3-gram Jaccard stays at 0.89 or
    above) and the marker word ``dup`` appended. At that similarity the
    MinHash families of the engine and of its oracle (64 hashes, 16
    bands) both find every pair, each missing one with odds below 2e-7,
    so the pair set is exact. The same share of vectors are an earlier
    vector plus small noise."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    texts, originals = [], []
    near = 0
    for i in range(n_docs):
        if originals and rng.random() < dup_share:
            toks = texts[originals.pop(int(rng.integers(0, len(originals))))].split()
            if len(toks) >= 68:
                j = int(rng.integers(0, len(toks)))
                k = list(VOCAB).index(toks[j]) + int(rng.integers(1, len(VOCAB)))
                toks[j] = str(VOCAB[k % len(VOCAB)])  # any other word
            toks.append("dup")
            near += 1
        else:
            toks = VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))].tolist()
            originals.append(i)
        texts.append(" ".join(toks))
    ids = np.arange(n_docs, dtype=np.int64)
    docs = _write(os.path.join(out_dir, "documents.parquet"), pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))
    vecs = rng.standard_normal((n_docs, 64))
    for i in np.nonzero(rng.random(n_docs) < dup_share)[0]:
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.3 * rng.standard_normal(64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(os.path.join(out_dir, "embeddings.parquet"), pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs, dtype=np.int32),
    }))
    return {"documents": docs, "embeddings": n_docs, "near_dups": near}

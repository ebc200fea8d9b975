"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes parquet files under a directory the
caller owns; the program under test only ever sees those files. The
same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# --- corpus_prep: Zipf documents with planted near-duplicates -----------

def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


DUP_SHARE = 0.2  # share of the documents that are planted near-duplicates
FLIP_SHARE = 0.05  # share of a near-duplicate's words replaced


def corpus_parquet(rng: np.random.Generator, path: str, n_docs: int,
                   n_row_groups: int) -> dict:
    """``n_docs`` documents of 80-200 Zipf-distributed words in
    sentences of 6-14 words. ``DUP_SHARE`` of the documents are near-
    duplicates of an earlier original with ``FLIP_SHARE`` of their
    words replaced; the ground truth (duplicate id -> original id) is
    returned. A duplicate always gets a larger doc_id than its
    original, so a min-id survivor rule keeps the original."""
    vocab = _vocab(rng, 5000)
    vocab = vocab[rng.permutation(len(vocab))]
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks ** 1.1
    p /= p.sum()
    n_orig = int(round(n_docs * (1 - DUP_SHARE)))
    texts: list[str] = []
    for _ in range(n_orig):
        toks = list(vocab[rng.choice(len(vocab), int(rng.integers(80, 201)),
                                     p=p)])
        ends = np.cumsum(rng.integers(6, 15, len(toks)))
        for e in ends[ends <= len(toks)]:
            toks[e - 1] += "."
        if not toks[-1].endswith("."):
            toks[-1] += "."
        texts.append(" ".join(toks))
    truth = {}
    for i in range(n_orig, n_docs):
        src = int(rng.integers(0, n_orig))
        toks = texts[src].split(" ")
        k = max(1, int(round(len(toks) * FLIP_SHARE)))
        for pos in rng.choice(len(toks), k, replace=False):
            dot = "." if toks[pos].endswith(".") else ""
            toks[pos] = str(vocab[rng.integers(0, len(vocab))]) + dot
        texts.append(" ".join(toks))
        truth[i] = src
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "source": pa.array([f"src{i % 4}" for i in range(n_docs)]),
    })
    pq.write_table(table, path,
                   row_group_size=-(-n_docs // n_row_groups))
    return {"docs": n_docs, "planted_dups": len(truth),
            "bytes": os.path.getsize(path), "truth": truth}


# --- star_queries: a seeded TPC-H-ish star schema -----------------------

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00 in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def star_tables(rng: np.random.Generator, out_dir: str, sf: float) -> dict:
    """The eight tables the query mix reads, in the schema of the
    repository's testdata star schema (``FIXTURES.md`` section 4), one
    parquet file each. Row counts follow TPC-H ratios times ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(20, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(regions)},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust)
                                    .astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                       n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust)),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp)
                                    .astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                       n_supp), 2)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([" ".join(x) for x in zip(
                rng.choice(["small", "red", "blue", "large", "green"], n_part),
                rng.choice(["ring", "widget", "bolt", "gear", "nut"], n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 29, n_part)]),
            "p_type": pa.array(rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
        },
    }
    o_date = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_ord),
                                          2)),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)),
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    l_num = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = o_date[l_ord] + rng.integers(1, 122, n_li) * _DAY_US
    tables["lineitem"] = {
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        # whole-cent unit prices keep extendedprice / quantity clear of
        # the half-cent ties on which engines' round() may disagree
        "l_extendedprice": pa.array(np.round(
            qty * rng.integers(90_000, 210_001, n_li) / 100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(ship),
    }
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev)),
        "value": pa.array(np.round(rng.exponential(20.0, n_ev) + 0.01, 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in
                           rng.integers(0, 100, n_ev)]),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows

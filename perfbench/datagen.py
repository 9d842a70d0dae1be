"""Seeded synthetic input tables for the benchmark.

The tables follow the schemas of the package's TPC-H-ish catalog inputs
(``lineitem``, ``orders``, ``documents``) so catalog entries and their
DuckDB oracles run on them unchanged. ``scale`` plays the role of the
TPC-H scale factor: 0.1 gives 600k lineitem rows, 150k orders and 5k
documents. The same ``(seed, scale)`` always gives byte-identical
column values. Every table is written as ONE parquet row group, the
layout the catalog's inputs have.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the catalog's 30-word document vocabulary, drawn uniformly
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data join vector customer"
).split()

#: share of documents that copy another document and append ``dup``
NEAR_DUP_FRAC = 0.05
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_DAY0 = np.datetime64("1995-01-02")
_SHIP_DAYS = int((np.datetime64("2001-11-04") - _DAY0).astype(int))


def sizes(scale: float) -> dict[str, int]:
    return {
        "lineitem": max(1, int(round(6_000_000 * scale))),
        "orders": max(1, int(round(1_500_000 * scale))),
        # the catalog holds at least 500 documents at every scale factor
        "documents": max(500, int(round(50_000 * scale))),
    }


def lineitem_table(rng: np.random.Generator, n: int, n_orders: int,
                   n_parts: int) -> pa.Table:
    """Random order lines. (orderkey, linenumber) collides by design —
    about 43% of lines break the uniqueness rule — and discounts run
    0..0.10, so about 45% of the lines fail ``l_discount <= 0.05``;
    about 69% of lines fail some rule, as in the catalog's lineitem."""
    ship = _DAY0 + rng.integers(0, _SHIP_DAYS + 1, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, n_parts, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(1, n_parts // 20), n,
                                  dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def orders_table(rng: np.random.Generator, n: int) -> pa.Table:
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    date = _DAY0 + rng.integers(0, _SHIP_DAYS + 1, n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n // 10), n, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": pa.array(date.astype("datetime64[us]")),
        "o_orderpriority": prio[rng.integers(0, 5, n)],
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Space-joined words, 10 to 99 per document, drawn uniformly from
    ``VOCAB``. ``NEAR_DUP_FRAC`` of the documents are replaced by a copy
    of another document with the word ``dup`` appended, so the
    near-duplicate operators have true pairs at every scale."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    base = list(text)
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_FRAC):
        j = int(rng.integers(0, n - 1)) if n > 1 else 0
        text[i] = base[j + (j >= i and n > 1)] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, scale: float,
                 names=("lineitem", "orders", "documents")) -> dict[str, int]:
    """Write the named tables as ``{out_dir}/{name}.parquet`` (one row
    group each); returns rows per table. Each table draws from its own
    child stream of ``seed``, so the set of tables written does not
    change any table's contents."""
    n = sizes(scale)
    streams = dict(zip(("lineitem", "orders", "documents"),
                       np.random.SeedSequence(seed).spawn(3)))
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        rng = np.random.default_rng(streams[name])
        if name == "lineitem":
            tbl = lineitem_table(rng, n["lineitem"], n["orders"],
                                 max(1, n["lineitem"] // 30))
        elif name == "orders":
            tbl = orders_table(rng, n["orders"])
        else:
            tbl = documents_table(rng, n["documents"])
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
        rows[name] = tbl.num_rows
    return rows

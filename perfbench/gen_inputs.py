"""Seeded generator for the benchmark's parquet inputs.

Writes tables with the same names, column names and parquet types as the
engine's star-schema test data (see TESTDATA.md at the repo root), so the
operators and their DuckDB oracles read them unchanged:

* ``lineitem`` + ``orders`` -- the trade graph the graph operators build
  (supplier-customer pairs, part co-purchase pairs);
* ``documents`` -- a word corpus over the test data's 30-word vocabulary,
  with seeded near-duplicate copies so the dedup operators find pairs.

Everything is a pure function of ``seed`` and the row counts.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def trade_graph(out_dir, seed, n_orders):
    """orders (n_orders rows) and lineitem (4 x n_orders rows).

    The ratios are those of the sf0.1 test tables, measured with DuckDB:
    150,000 orders, 600,000 lines (4 per order; each line's order drawn
    uniformly, so lines per order are Poisson(4), which sf0.1's histogram
    matches, 1.8% of orders without lines), 20,000 parts (lines / 30),
    1,000 suppliers (lines / 600), 14,999 customers (orders / 10).
    Generated at n_orders=150,000 these give 1,197,445 part co-purchase
    pairs and 3,578 pairs bought together in at least two orders, over
    5,886 parts (sf0.1: 1,196,000, 3,573 and 5,922). With parts tied to
    lines, that repeat-pair count stays near 3,500 at any size, while the
    parts it touches, and so the graph's sparsity, fall with n_orders:
    3,451 pairs over 3,707 parts (mean degree 1.9) at 40,000 orders,
    3,387 over 2,366 (mean degree 2.9) at 20,000, 3,143 over all 533
    parts (mean degree 11.8) at 4,000.
    """
    rng = np.random.default_rng([seed, 1])
    n_lines = 4 * n_orders
    n_cust = max(n_orders // 10, 1)
    n_part = max(n_lines // 30, 1)
    n_supp = max(n_lines // 600, 1)
    order_day = rng.integers(0, 2404, n_orders)
    _write(os.path.join(out_dir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": pa.array(EPOCH_1995 + order_day * np.int64(DAY_US),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_orders)),
    })
    okey = rng.integers(0, n_orders, n_lines, dtype=np.int64)
    _write(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_lines)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_lines)),
        "l_shipdate": pa.array(
            EPOCH_1995 + (order_day[okey] + rng.integers(1, 122, n_lines)) * np.int64(DAY_US),
            pa.timestamp("us")),
    })
    return {"orders": n_orders, "lineitem": n_lines}


def corpus(out_dir, seed, n_docs, dup_share=0.09):
    """documents (n_docs rows, dup_share of them near-copies).

    As in sf0.1's 5,000 documents, a text is 10-100 words (sf0.1 mean
    54.1) from a 30-word vocabulary. At n_docs=5,000 this gives 265,130
    distinct-per-document 3-word shingles, 28,537 distinct shingles and
    1,303,742 rows in the shingle self-join (sf0.1: 260,388, 27,213 and
    1,265,779); the self-join grows with the square of n_docs. A
    near-copy replaces 1-3 words of an earlier document; at the default
    dup_share, 5,000 documents hold 251-293 pairs with 3-gram Jaccard
    >= 0.8 (seeds 1-3; sf0.1: 256).
    """
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_share:
            # near-duplicate of an earlier document: 1-3 words replaced
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), rng.integers(1, 4)):
                words[j] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        texts.append(" ".join(words))
    doc_id = np.arange(n_docs, dtype=np.int64)
    _write(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": pa.array(doc_id),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array(np.char.add("src", (doc_id % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return {"documents": n_docs}

"""Seeded input generators for the graft benchmark.

Every table is a pure function of (seed, size): the same arguments give
byte-identical parquet files. The shapes (row counts, block sizes,
family sizes) depend only on the size arguments, so timings of two seeds
differ only through data values, never through the amount of work.

* ``analytics_fixture`` writes the TPC-H-like tables (``customer``,
  ``orders``, ``lineitem``, ``events``) the analytics queries read, with
  the same column names, parquet types and value lattices (2-decimal
  prices, integer quantities) as the fixtures the queries' oracles were
  validated on.
* ``dedup_corpus`` plants near-duplicate families whose expected pairs
  and clusters are known without running graft: every family has its
  own vocabulary, so two documents of different families share at most
  the few common words each document draws from a shared pool.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000


def _epoch_us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, lo, hi, n):
    """Midnight timestamps drawn uniformly from [lo, hi] (dates)."""
    d0, d1 = _epoch_us(lo) // US_PER_DAY, _epoch_us(hi) // US_PER_DAY
    return pa.array(rng.integers(d0, d1 + 1, n) * US_PER_DAY,
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# Row counts at size 1.0 (the shape of a TPC-H sf0.01 fixture).
ANALYTICS_ROWS = {"customer": 1500, "orders": 15000, "lineitem": 60000,
                  "events": 10000}


def analytics_fixture(out_dir, seed, size):
    """Write the four analytics tables into ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(round(v * size))) for k, v in ANALYTICS_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            nc)),
    }), os.path.join(out_dir, "customer.parquet"))

    no = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            no)),
    }), os.path.join(out_dir, "orders.parquet"))

    # TPC-H line numbering: an order's lines are 1..k, so
    # (l_orderkey, l_linenumber) is a key.
    nl = n["lineitem"]
    per_order = rng.integers(1, 8, no)
    okeys = np.repeat(np.arange(no), per_order)[:nl]
    while len(okeys) < nl:  # too few lines drawn: add orders round-robin
        okeys = np.concatenate([okeys, np.arange(min(no, nl - len(okeys)))])
    okeys = np.sort(okeys)
    first = np.searchsorted(okeys, okeys, side="left")
    linenum = np.arange(nl) - first + 1
    _write(pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    }), os.path.join(out_dir, "lineitem.parquet"))

    ne = n["events"]
    gaps = rng.exponential(30 * US_PER_DAY / ne, ne).astype(np.int64)
    ts = _epoch_us("2024-01-01") + np.cumsum(gaps)
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], ne)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }), os.path.join(out_dir, "events.parquet"))
    return n


# ---- near-duplicate corpora ----------------------------------------------

FAMILY_SIZE = 4      # documents per planted family
FAMILY_WORDS = 30    # family-specific words per document
COMMON_WORDS = 5     # words each document draws from the shared pool
COMMON_POOL = 2000
SUBSTITUTIONS = 2    # words a family member replaces in the family base
DUP_SHARE = 0.5      # share of each block's documents that sit in families


def zipf_blocks(n_docs, n_blocks, hot_docs, cap):
    """Block sizes: one hot block of ``hot_docs`` documents plus
    ``n_blocks - 1`` Zipf(1)-sized blocks over the rest, each at most
    ``cap`` documents and a multiple of the family size."""
    rest = n_docs - hot_docs
    w = 1.0 / np.arange(1, n_blocks)
    sizes = np.minimum(cap, np.floor(rest * w / w.sum() / FAMILY_SIZE)
                       * FAMILY_SIZE).astype(int)
    sizes = np.maximum(sizes, FAMILY_SIZE)
    return [hot_docs] + sizes.tolist()


def _docs(rng, sizes):
    """(block, family, words) per document; families never span blocks."""
    block, family, words = [], [], []
    fam = 0
    single = 0
    for b, size in enumerate(sizes):
        n_fam = int(size * DUP_SHARE) // FAMILY_SIZE
        for _ in range(n_fam):
            vocab = [f"f{fam}x{j}" for j in range(
                FAMILY_WORDS + FAMILY_SIZE * SUBSTITUTIONS)]
            base = vocab[:FAMILY_WORDS] + [
                f"c{c}" for c in rng.choice(COMMON_POOL, COMMON_WORDS,
                                            replace=False)]
            base = [base[i] for i in rng.permutation(len(base))]
            for v in range(FAMILY_SIZE):
                doc = list(base)
                if v > 0:
                    pos = [i for i, w in enumerate(doc) if w[0] == "f"]
                    for k, i in enumerate(rng.choice(pos, SUBSTITUTIONS,
                                                     replace=False)):
                        doc[i] = vocab[FAMILY_WORDS
                                       + (v - 1) * SUBSTITUTIONS + k]
                block.append(b); family.append(fam); words.append(doc)
            fam += 1
        for _ in range(size - n_fam * FAMILY_SIZE):
            doc = [f"s{single}x{j}" for j in range(FAMILY_WORDS)] + [
                f"c{c}" for c in rng.choice(COMMON_POOL, COMMON_WORDS,
                                            replace=False)]
            doc = [doc[i] for i in rng.permutation(len(doc))]
            block.append(b); family.append(-1); words.append(doc)
            single += 1
    return block, family, words


def dedup_corpus(out_dir, seed, sizes, batches=0, batch_docs=0):
    """Write ``corpus.parquet`` (doc_id, block, family, text) and, when
    ``batches`` > 0, split it into a base snapshot plus ``batches``
    arrival batches of ``batch_docs`` documents (``base.parquet``,
    ``batch_00.parquet`` ...). Document ids are a seeded permutation, so
    a family's members are scattered over ids and snapshots. Returns a
    summary with the planted pair count."""
    rng = np.random.default_rng([seed, 2])
    block, family, words = _docs(rng, sizes)
    n = len(words)
    ids = rng.permutation(n).astype(np.int64)
    text = [" ".join(w) for w in words]
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "block": pa.array(block, pa.int32()),
        "family": pa.array(family, pa.int64()),
        "text": pa.array(text),
    })
    _write(table, os.path.join(out_dir, "corpus.parquet"))
    n_fam = max(family) + 1 if family else 0
    summary = {"docs": n, "families": n_fam,
               "planted_pairs": n_fam * FAMILY_SIZE * (FAMILY_SIZE - 1) // 2,
               "blocks": len(sizes), "hot_block_docs": sizes[0]}
    if batches:
        order = rng.permutation(n)
        n_base = n - batches * batch_docs
        _write(table.take(order[:n_base]), os.path.join(out_dir, "base.parquet"))
        for k in range(batches):
            part = order[n_base + k * batch_docs:n_base + (k + 1) * batch_docs]
            _write(table.take(part),
                   os.path.join(out_dir, f"batch_{k:02d}.parquet"))
        summary.update(base_docs=n_base, batches=batches, batch_docs=batch_docs)
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f)
    return summary

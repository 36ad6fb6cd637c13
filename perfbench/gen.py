"""Seeded input generator for the benchmark workloads.

Follows the distributions of the repository's scale generator
(tools/gen_sf.py) for the lineitem and documents tables, but draws every
value from a generator seeded by the benchmark's --seed and writes only
into the run directory it is given. The engine sees nothing but the files
written here.

    python3 perfbench/gen.py WORKLOAD SEED OUTDIR

writes the workload's parquet inputs plus a manifest.json with row counts,
the uncompressed Arrow size of each input and the generator's own shares
(duplicates, eval split).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# lineitem at sf0.1 of the reference test data: 150k orders, 600k lines
N_ORDERS = 150_000
N_LINES = 600_000
N_PART = 20_000
N_SUPP = 1_000

# ingest: a stream of lineitem-shaped batches carrying a RowID column
INGEST_BATCHES = 12
INGEST_BATCH_ROWS = 50_000

# curation: a documents corpus over the reference test data's 31-word vocabulary
VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window"])
N_DOCS = 6_000
EXACT_DUP_SHARE = 0.02   # docs whose text copies an earlier doc verbatim
NEAR_DUP_SHARE = 0.05    # docs that copy an earlier doc with a few words edited
N_EVAL = 200
EVAL_CONTAMINATED_SHARE = 0.25  # eval docs holding a 20-word passage of the corpus


def _write(outdir, name, table, row_group_rows):
    path = os.path.join(outdir, f"{name}.parquet")
    pq.write_table(table, path, version="2.6", row_group_size=row_group_rows)
    return {"file": f"{name}.parquet", "rows": table.num_rows, "arrow_bytes": table.nbytes}


def lineitem(rng, n_lines=N_LINES, n_orders=N_ORDERS, first_order=0):
    """Lineitem rows in order-key order, as tools/gen_sf.py draws them:
    lines per order ~ clipped Poisson(4), order dates uniform over
    1995-01-01..2001-08-01, ship 1..95 days after the order, flag and
    status columns over 3 and 2 values."""
    day_us = 86_400_000_000
    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    span_days = (np.datetime64("2001-08-01", "us").astype(np.int64) - d0) // day_us
    odate_us = d0 + rng.integers(0, span_days + 1, n_orders) * day_us
    cnts = np.clip(rng.poisson(4.0, n_orders), 1, 17)
    total = int(cnts.sum())
    while total < n_lines:
        idx = rng.integers(0, n_orders, n_lines - total)
        np.add.at(cnts, idx, 1)
        cnts = np.clip(cnts, 1, 17)
        total = int(cnts.sum())
    order_idx = np.repeat(np.arange(n_orders, dtype=np.int64), cnts)[:n_lines]
    starts = np.repeat(np.cumsum(cnts) - cnts, cnts)[:n_lines]
    lnums = (np.arange(n_lines, dtype=np.int64) - starts + 1).astype(np.int32)
    l_part = rng.integers(0, N_PART, n_lines)
    l_supp = rng.integers(0, N_SUPP, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    retail = 900.0 + 0.1 * (l_part % 2001)
    ship_ms = (odate_us[order_idx] // 1000) + rng.integers(1, 96, n_lines) * 86_400_000
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["F", "O"])
    return {
        "l_orderkey": order_idx + first_order,
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": l_supp.astype(np.int64),
        "l_linenumber": lnums,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail, 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) * 0.01, 2),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array(lstat[rng.integers(0, 2, n_lines)]),
        "l_shipdate": pa.array(ship_ms, pa.timestamp("ms")),
    }


def gen_store_query(rng, outdir):
    t = pa.table(lineitem(rng))
    return {"lineitem": _write(outdir, "lineitem", t, 8192)}


def gen_ingest(rng, outdir):
    os.makedirs(os.path.join(outdir, "batches"), exist_ok=True)
    orders_per_batch = INGEST_BATCH_ROWS // 4
    batches = []
    for b in range(INGEST_BATCHES):
        cols = lineitem(rng, INGEST_BATCH_ROWS, orders_per_batch, first_order=b * orders_per_batch)
        first = b * INGEST_BATCH_ROWS
        cols = {"row_id": pa.array([f"Row{i}" for i in range(first, first + INGEST_BATCH_ROWS)]), **cols}
        batches.append(_write(outdir, f"batches/batch-{b:03d}", pa.table(cols), 8192))
    return {"batches": batches}


def _text(rng, n_words):
    return " ".join(VOCAB[rng.integers(0, len(VOCAB), n_words)])


def gen_curation(rng, outdir):
    """Documents as tools/gen_sf.py draws them (10..100 words, lang mix,
    20 round-robin sources), with stated exact- and near-duplicate shares
    and an eval split, part of which quotes corpus passages."""
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang_p = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    texts = [_text(rng, int(c)) for c in rng.integers(10, 101, N_DOCS)]
    order = rng.permutation(np.arange(N_DOCS // 10, N_DOCS))
    n_exact = int(N_DOCS * EXACT_DUP_SHARE)
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    for i in order[:n_exact]:
        texts[i] = texts[int(rng.integers(0, i))]
    for i in order[n_exact:n_exact + n_near]:
        words = texts[int(rng.integers(0, i))].split(" ")
        # ~5% of the words replaced: Jaccard of 3-shingles stays well above 0.7
        for _ in range(max(1, len(words) // 20)):
            words[int(rng.integers(0, len(words)))] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[i] = " ".join(words)
    docs = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.choice(5, N_DOCS, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    ev = []
    n_cont = int(N_EVAL * EVAL_CONTAMINATED_SHARE)
    for k in range(N_EVAL):
        if k < n_cont:
            words = texts[int(rng.integers(0, N_DOCS))].split(" ")
            s = int(rng.integers(0, max(1, len(words) - 20)))
            ev.append(" ".join(words[s:s + 20]))
        else:
            ev.append(_text(rng, int(rng.integers(20, 60))))
    eval_t = pa.table({"doc_id": np.arange(N_EVAL, dtype=np.int64) + 10_000_000,
                       "text": pa.array(ev)})
    return {
        "docs": _write(outdir, "docs", docs, 1024),
        "eval": _write(outdir, "eval", eval_t, 1024),
        "exact_dup_share": EXACT_DUP_SHARE,
        "near_dup_share": NEAR_DUP_SHARE,
        "eval_contaminated_share": EVAL_CONTAMINATED_SHARE,
    }


GENERATORS = {"store_query": gen_store_query, "ingest": gen_ingest, "curation": gen_curation}


def generate(workload, seed, outdir):
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    manifest = {"workload": workload, "seed": seed, **GENERATORS[workload](rng, outdir)}
    with open(os.path.join(outdir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} SEED OUTDIR")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))

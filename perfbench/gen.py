"""Seeded input generator for the benchmark workloads.

Every workload's inputs are written in the catalog's testdata schemas
(`lineitem`, `supplier`, `documents`), so the repo's DuckDB oracle SQL runs
on them unchanged. Generation is single-process numpy; the same seed gives
the same rows (curate_batch splits them into one file per core). The
program under test only ever receives the files written here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The cores the program's Spark session gets (Main's `local[n]`).
CORES = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
# Sizes per workload. `dup_share` is the planted near-duplicate share.
SIZES = {
    "backtest_eod": {"sids": 250, "days": 160},
    "trade_live": {"sids": 1000, "history_days": 110, "feed_days": 160},
    # at least one file per core keeps the scan core-wide, so the
    # Dedup.spread pin stays off; the rows do not depend on the split
    "curate_batch": {"docs": 600, "dup_share": 0.2, "files": max(4, CORES)},
    "dedup_ingest": {"index_docs": 3000, "batch_docs": 200, "batches": 80,
                     "dup_share": 0.1, "files": 4},
}
START = np.datetime64("2015-01-01")
VOCAB_SEED = 7  # the vocabulary is fixed; only the text drawn from it varies


def _vocab(n=3000):
    rng = np.random.default_rng(VOCAB_SEED)
    sy = ["ka", "lo", "mi", "ne", "ru", "ta", "shi", "po", "ven", "dar",
          "ul", "es", "ri", "an", "bo", "tel", "qua", "zi", "mon", "fe"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(sy, size=rng.integers(2, 5))))
    return np.array(sorted(words))


def _supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(1, n + 1), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
    })


def _prices(rng, sids, days):
    """(days, sids) closes: a random walk around the demo strategy's
    30000 signal threshold, so signals flip over the panel."""
    p0 = rng.uniform(20000, 40000, sids)
    steps = rng.normal(0.0, 0.015, (days, sids))
    return np.round(p0 * np.exp(np.cumsum(steps, axis=0)), 2)


def _lineitem(closes, first_day=0):
    days, sids = closes.shape
    n = days * sids
    day = np.repeat(np.arange(first_day, first_day + days), sids)
    sid = np.tile(np.arange(1, sids + 1), days)
    ship = (START + day.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.table({
        "l_orderkey": pa.array(np.arange(n), pa.int64()),
        "l_partkey": pa.array(sid, pa.int64()),
        "l_suppkey": pa.array(sid, pa.int64()),
        "l_linenumber": pa.array(np.ones(n), pa.int32()),
        "l_quantity": pa.array(np.ones(n)),
        "l_extendedprice": pa.array(closes.reshape(-1)),
        "l_discount": pa.array(np.zeros(n)),
        "l_tax": pa.array(np.zeros(n)),
        "l_returnflag": pa.array(np.full(n, "N")),
        "l_linestatus": pa.array(np.full(n, "O")),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _texts(rng, vocab, n):
    lens = rng.integers(40, 121, n)
    idx = rng.integers(0, len(vocab), lens.sum())
    out, at = [], 0
    for ln in lens:
        out.append(list(idx[at:at + ln]))
        at += ln
    return out


def _near_dup(rng, vocab, words, changes):
    w = list(words)
    for pos in rng.choice(len(w), size=changes, replace=False):
        w[pos] = rng.integers(0, len(vocab))
    return w


def _documents(ids, word_lists, vocab, rng):
    texts = [" ".join(vocab[w]) for w in word_lists]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "fr", "de", "es", "zh"], len(ids))),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, len(ids))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _corpus(rng, vocab, n, dup_share, changes):
    """n docs; a `dup_share` of them are near-copies of an earlier original.
    Copies are never copied again, so duplicate clusters stay small stars,
    as they are in a crawl, rather than long chains."""
    words = _texts(rng, vocab, n)
    is_dup = rng.random(n) < dup_share
    is_dup[0] = False
    originals = np.nonzero(~is_dup)[0]
    for i in np.nonzero(is_dup)[0]:
        before = originals[:np.searchsorted(originals, i)]
        words[i] = _near_dup(rng, vocab, words[int(rng.choice(before))], changes(rng))
    return words


def _write_split(table, d, files):
    os.makedirs(d, exist_ok=True)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), f"{d}/part-{f:05d}.parquet")


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out`; return the sizes."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    os.makedirs(out, exist_ok=True)
    if workload == "backtest_eod":
        closes = _prices(rng, size["sids"], size["days"])
        pq.write_table(_lineitem(closes), f"{out}/lineitem.parquet")
        pq.write_table(_supplier(rng, size["sids"]), f"{out}/supplier.parquet")
    elif workload == "trade_live":
        h, f = size["history_days"], size["feed_days"]
        closes = _prices(rng, size["sids"], h + f)
        pq.write_table(_lineitem(closes), f"{out}/lineitem.parquet")
        pq.write_table(_supplier(rng, size["sids"]), f"{out}/supplier.parquet")
        # the published panel (history) and the feed the harness appends one
        # day at a time, both in the date-partitioned price layout
        sid = pa.array(np.arange(1, size["sids"] + 1), pa.int64())
        for d in range(h + f):
            part = "panel" if d < h else "feed"
            day = str(START + np.timedelta64(d, "D"))
            os.makedirs(f"{out}/{part}/date={day}")
            pq.write_table(pa.table({"sid": sid, "close": closes[d]}),
                           f"{out}/{part}/date={day}/part-00000.parquet")
    elif workload == "curate_batch":
        vocab = _vocab()
        words = _corpus(rng, vocab, size["docs"], size["dup_share"],
                        lambda r: max(1, int(r.integers(1, 6))))
        docs = _documents(np.arange(size["docs"]), words, vocab, rng)
        _write_split(docs, f"{out}/documents.parquet", size["files"])
    elif workload == "dedup_ingest":
        vocab = _vocab()
        n, b = size["index_docs"], size["batch_docs"]
        base = _texts(rng, vocab, n)
        docs = _documents(np.arange(n), base, vocab, rng)
        _write_split(docs, f"{out}/documents.parquet", size["files"])
        os.makedirs(f"{out}/batches")
        for k in range(size["batches"]):
            words = _texts(rng, vocab, b)
            for i in np.nonzero(rng.random(b) < size["dup_share"])[0]:
                # one changed word keeps most copies within simhash reach
                words[i] = _near_dup(rng, vocab, base[int(rng.integers(0, n))],
                                     int(rng.integers(0, 2)))
            ids = np.arange(n + k * b, n + (k + 1) * b)
            pq.write_table(_documents(ids, words, vocab, rng),
                           f"{out}/batches/batch-{k:05d}.parquet")
    with open(f"{out}/sizes.json", "w") as fh:
        json.dump({"workload": workload, "seed": seed, **size}, fh)
    return size

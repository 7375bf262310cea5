"""Seeded input generation for the benchmark.

Every table the program reads is made here from the run's seed, so the
same seed gives byte-identical inputs and the program sees nothing but
these files. The shapes follow the repository's fixtures (FIXTURES.md
section 1 for lineitem; the documents/embeddings corpus of the
repository's test data, TESTDATA.md): TPC-H-style lineitem with the three date
columns, a 30-word-vocabulary document corpus with near-duplicate
families, and clustered unit-norm 64-d embeddings aligned 1:1 with the
documents.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992 = 8035  # 1992-01-01 in days since 1970-01-01
ORDER_SPAN_DAYS = 2405  # TPC-H orderdate range, 1992-01-01 .. 1998-08-02
CUTOFF_DAY = 9298  # 1995-06-17, TPC-H's returnflag/linestatus boundary

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
INSTRUCTS = np.array(["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def lineitem_arrays(rng, n_rows, first_orderkey=1):
    """About `n_rows` TPC-H-style lineitem rows (whole orders, 1-7 lines
    each), as a dict of numpy arrays."""
    n_orders = max(1, n_rows // 4)
    lines = rng.integers(1, 8, n_orders)
    okeys = first_orderkey + 4 * np.arange(n_orders, dtype=np.int64)
    odate = EPOCH_1992 + rng.integers(0, ORDER_SPAN_DAYS, n_orders)
    orderkey = np.repeat(okeys, lines)
    orderdate = np.repeat(odate, lines)
    n = len(orderkey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = rng.integers(1, 20001, n).astype(np.int64)
    retail = (90000 + (partkey // 10) % 20001 + 100 * (partkey % 1000)) / 100.0
    quantity = rng.integers(1, 51, n).astype(np.float64)
    shipdate = orderdate + rng.integers(1, 122, n)
    receiptdate = shipdate + rng.integers(1, 31, n)
    returned = rng.random(n) < 0.5
    return {
        "l_orderkey": orderkey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * retail, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.where(receiptdate <= CUTOFF_DAY,
                                 np.where(returned, "R", "A"), "N"),
        "l_linestatus": np.where(shipdate > CUTOFF_DAY, "O", "F"),
        "l_shipdate": shipdate,
        "l_commitdate": orderdate + rng.integers(30, 91, n),
        "l_receiptdate": receiptdate,
        "l_shipinstruct": INSTRUCTS[rng.integers(0, len(INSTRUCTS), n)],
        "l_shipmode": SHIPMODES[rng.integers(0, len(SHIPMODES), n)],
    }


LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.date32()), ("l_commitdate", pa.date32()),
    ("l_receiptdate", pa.date32()), ("l_shipinstruct", pa.string()),
    ("l_shipmode", pa.string()),
])


def lineitem_rows(rng, n):
    """Exactly `n` lineitem rows (the first `n` of enough whole orders)."""
    cols = lineitem_arrays(rng, 2 * n + 8)
    return {k: v[:n] for k, v in cols.items()}


def lineitem_table(cols):
    arrays = []
    for f in LINEITEM_SCHEMA:
        v = cols[f.name]
        if pa.types.is_date32(f.type):
            v = np.asarray(v, dtype=np.int32)
        arrays.append(pa.array(v, type=f.type))
    return pa.Table.from_arrays(arrays, schema=LINEITEM_SCHEMA)


def upsert_batches(rng, base, n_batches, small_rows, bulk_rows, bulk_every):
    """Keyed upsert batches over `base` (lineitem arrays). Batch i is bulk
    when i % bulk_every == bulk_every - 1, small otherwise. Each batch has unique
    (l_orderkey, l_linenumber) keys: ~90 % scattered updates of live keys
    (every fifth of them carries an older l_commitdate, so the
    precombine rule must reject it) and ~10 % new orders."""
    live_ok = list(base["l_orderkey"])
    live_ln = list(base["l_linenumber"])
    commit = dict(zip(zip(base["l_orderkey"].tolist(), base["l_linenumber"].tolist()),
                      base["l_commitdate"].tolist()))
    next_ok = int(base["l_orderkey"].max()) + 4
    batches = []
    for i in range(n_batches):
        rows = bulk_rows if i % bulk_every == bulk_every - 1 else small_rows
        n_new = max(1, rows // 10)
        n_upd = rows - n_new
        pick = rng.choice(len(live_ok), size=n_upd, replace=False)
        upd_ok = np.array([live_ok[j] for j in pick], dtype=np.int64)
        upd_ln = np.array([live_ln[j] for j in pick], dtype=np.int32)
        fresh = lineitem_arrays(rng, n_new, first_orderkey=next_ok)
        next_ok = int(fresh["l_orderkey"].max()) + 4
        # updated rows keep their key; every other column is re-drawn so
        # rows move across the layout (the decay the workload measures)
        upd = lineitem_rows(rng, n_upd)
        upd["l_orderkey"] = upd_ok
        upd["l_linenumber"] = upd_ln
        old = np.array([commit[(int(a), int(b))] for a, b in zip(upd_ok, upd_ln)])
        stale = rng.random(n_upd) < 0.2
        upd["l_commitdate"] = np.where(stale, old - rng.integers(1, 30, n_upd),
                                       old + rng.integers(1, 30, n_upd))
        batch = {k: np.concatenate([upd[k], fresh[k]]) for k in upd}
        for a, b, c, s in zip(upd_ok.tolist(), upd_ln.tolist(),
                              upd["l_commitdate"].tolist(), stale.tolist()):
            if not s:
                commit[(a, b)] = c
        for a, b, c in zip(fresh["l_orderkey"].tolist(), fresh["l_linenumber"].tolist(),
                           fresh["l_commitdate"].tolist()):
            commit[(a, b)] = c
            live_ok.append(a)
            live_ln.append(b)
        batches.append(batch)
    return batches


def documents_and_embeddings(rng, n_docs):
    """`n_docs` documents (5 % near-duplicate copies that drop ~10 % of
    their source's words, 0.5 % exact copies) and one embedding per
    document (10 clusters, unit norm)."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[rng.integers(0, i)].split(" ")
            keep = rng.random(len(src)) >= 0.1
            words = [w for w, k in zip(src, keep) if k] or src
            texts.append(" ".join(words))
        elif i > 10 and r < 0.055:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.8, (n_docs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return docs, emb


def generate(workload, seed, out_dir, sizes):
    """Write the workload's inputs under `out_dir`; returns a dict that
    describes them (paths and row counts)."""
    rng = np.random.default_rng(seed)
    info = {"seed": seed}
    if workload in ("scan_sfc", "upsert_decay"):
        base = lineitem_arrays(rng, sizes["rows"])
        _write(lineitem_table(base), f"{out_dir}/lineitem.parquet")
        info["rows"] = int(len(base["l_orderkey"]))
        if workload == "upsert_decay":
            batches = upsert_batches(rng, base, sizes["batches"], sizes["small_rows"],
                                     sizes["bulk_rows"], sizes["bulk_every"])
            for i, b in enumerate(batches):
                _write(lineitem_table(b), f"{out_dir}/batches/b{i:04d}.parquet")
            info["batch_rows"] = [int(len(b["l_orderkey"])) for b in batches]
    else:
        docs, emb = documents_and_embeddings(rng, sizes["docs"])
        _write(docs, f"{out_dir}/documents.parquet")
        _write(emb, f"{out_dir}/embeddings.parquet")
        info["docs"] = sizes["docs"]
    return info

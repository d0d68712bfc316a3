"""Seeded input generator for the benchmark.

Builds one input set from the seed, with the schema of the project's
TPC-H-ish fixture plus `documents` and `embeddings`. The seed drives every
value, so two seeds give unrelated inputs of the same shape and size.

Every table is written as several parquet files so scan stages get at
least as many tasks as local cores. Documents carry planted exact and
near duplicates at the stated rates; embeddings carry planted clusters so
an IVF index has true neighbours to find.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1)]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
SYLLABLES = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "va", "ze",
             "bri", "cho", "dra", "fle", "gru", "sta", "tri", "plo"]

DIM = 64
DAY_US = 86_400_000_000
ORDER_DAY0 = 9131       # 1995-01-01 as days since the epoch
ORDER_DAYS = 2404       # .. 2001-08-01
EVENT_US0 = 19723 * DAY_US  # 2024-01-01
EVENT_SPAN_US = 30 * DAY_US

# Table sizes: lineitem is about 60k rows (sf0.01). With 2000 embeddings
# AnnIvf picks 45 cells and probes 16 of them, about a third of the
# corpus, the regime AnnIvf documents, rather than most of it.
SIZES = dict(customers=1500, orders_per_customer=10, users=600, events=10000,
             documents=400, sources=5, embeddings=2000, clusters=50)

EXACT_DUP_RATE = 0.05   # share of documents that copy an earlier one
NEAR_DUP_RATE = 0.15    # share that copy an earlier one with edits
NEAR_DUP_EDIT = 0.1     # share of a near duplicate's tokens replaced


def _rng(seed, *salt):
    h = hashlib.sha256(repr((seed,) + salt).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _money(x):
    return np.round(x, 2)


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _vocab(seed, n=3000):
    rng = _rng(seed, "vocab")
    words, seen = ["the"], {"the"}
    while len(words) < n:
        k = rng.integers(2, 5)
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _word_probs(n):
    p = 1.0 / (np.arange(n) + 10.0)
    return p / p.sum()


def _doc_tokens(rng, vocab, probs):
    return list(vocab[rng.choice(len(vocab), size=rng.integers(20, 80), p=probs)])


def _edit(rng, vocab, toks):
    toks = list(toks)
    for i in rng.choice(len(toks), size=max(1, int(len(toks) * NEAR_DUP_EDIT)),
                        replace=False):
        toks[i] = vocab[rng.integers(0, len(vocab))]
    return toks


def _documents(rng, vocab, n, sources):
    """Documents with planted duplicates. A near or exact duplicate copies
    an earlier document of the same (lang, source) block, the blocking key
    of both the exact pair query and MinHash."""
    probs = _word_probs(len(vocab))
    pool, rows = [], []
    for i in range(n):
        u = rng.random()
        if pool and u < EXACT_DUP_RATE + NEAR_DUP_RATE:
            toks, lang, src = pool[rng.integers(0, len(pool))]
            if u >= EXACT_DUP_RATE:
                toks = _edit(rng, vocab, toks)
        else:
            toks = _doc_tokens(rng, vocab, probs)
            lang = LANGS[rng.choice(len(LANGS), p=LANG_WEIGHTS)]
            src = f"src{rng.integers(0, sources)}"
        pool.append((toks, lang, src))
        rows.append((i, toks, lang, src))
    return rows


def _docs_table(rows):
    texts = [" ".join(t) for _, t, _, _ in rows]
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _centers(rng, clusters):
    return rng.uniform(-1.0, 1.0, size=(clusters, DIM))


def _vectors(rng, centers, n):
    label = rng.integers(0, len(centers), size=n)
    emb = centers[label] + 0.08 * rng.uniform(-1.0, 1.0, size=(n, DIM))
    return emb.astype(np.float32), label.astype(np.int32)


def _emb_table(ids, emb, label):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _write(table, path, files):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def generate(out, seed, files):
    """Write every table of one seeded input set under `out` (replaced if
    present). Returns a dict describing what was written."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    b = SIZES
    rng = _rng(seed, "base")
    vocab = _vocab(seed)

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [n for n, _ in NATIONS],
                       "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())})

    nc = b["customers"]
    custkey = np.arange(nc, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    no = nc * b["orders_per_customer"]
    # A third of the customers place no orders, as in TPC-H.
    buyers = custkey[custkey % 3 != 0]
    orderkey = np.arange(no, dtype=np.int64)
    orderday = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, no)
    orders = pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.choice(buyers, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, no)),
        "o_orderdate": _ts(orderday * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_num = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": np.repeat(orderkey, lines),
        "l_partkey": rng.integers(0, 20000, nl),
        "l_suppkey": rng.integers(0, 1000, nl),
        "l_linenumber": l_num.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, nl)),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts((np.repeat(orderday, lines) + rng.integers(1, 122, nl)) * DAY_US)})
    ne = b["events"]
    events = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(np.sort(EVENT_US0 + rng.integers(0, EVENT_SPAN_US, ne))),
        "user_id": rng.integers(0, b["users"], ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng.uniform(0.0, 200.0, ne)),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    documents = _docs_table(_documents(rng, vocab, b["documents"], b["sources"]))
    emb, label = _vectors(rng, _centers(rng, b["clusters"]), b["embeddings"])
    embeddings = _emb_table(np.arange(b["embeddings"]), emb, label)

    _write(region, f"{out}/region.parquet", 1)
    _write(nation, f"{out}/nation.parquet", 1)
    tables = {"customer": customer, "orders": orders, "lineitem": lineitem,
              "events": events, "documents": documents, "embeddings": embeddings}
    for name, t in tables.items():
        _write(t, f"{out}/{name}.parquet", files)

    return {"seed": seed, "files_per_table": files,
            "rows": {name: t.num_rows for name, t in tables.items()},
            "exact_dup_rate": EXACT_DUP_RATE, "near_dup_rate": NEAR_DUP_RATE}

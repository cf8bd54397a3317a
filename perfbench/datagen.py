"""Seeded synthetic inputs for the benchmark.

The tables follow the shape of the repository's test data (TESTDATA.md):
the same columns and physical types, and similar value distributions, so
every registered query runs on them unchanged. Everything is derived from
one integer seed: the same seed gives byte-identical tables.

The benchmark generates table contents from the fixed CORPUS_SEED, like a
fixed test corpus, so the work a run does does not drift with its seed;
the run's own seed drives order, ids and timing (see run.py and gen.py).
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe"]
CORPUS_SEED = 42
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def documents(n, seed):
    """`documents`: 10-100 words from a 30-word vocabulary; 5% are
    near-duplicates (an earlier text plus " dup"), 0.2% exact copies."""
    r = _rng(seed, 1)
    lens = r.integers(10, 101, size=n)
    words = r.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    kind = r.random(n)
    src = r.integers(0, max(1, n), size=n)
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[j]
    langs = r.choice(len(LANGS), size=n, p=LANG_P)
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[k] for k in langs],
        "source": ["src%d" % (i % 20) for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def documents_table(docs):
    return pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": pa.array(docs["text"], pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array(docs["n_chars"], pa.int64()),
    })


def embeddings(n, seed, dim=64, labels=10):
    r = _rng(seed, 2)
    centers = r.normal(size=(labels, dim))
    label = r.integers(0, labels, size=n)
    v = centers[label] + r.normal(scale=2.0, size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _micros(start, span_days, u):
    base = int(dt.datetime(*start).timestamp()) * 1_000_000
    return base + (u * span_days * 86_400_000_000).astype(np.int64)


def events(n, seed):
    r = _rng(seed, 3)
    ts = np.sort(_micros((2024, 1, 1), 30, r.random(n)))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, size=n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[k] for k in
                                r.integers(0, 5, size=n)], pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, size=n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in
                           r.integers(0, 100, size=n)], pa.string()),
    })


def _days(start, span_days, r, n):
    base = int(dt.datetime(*start).timestamp()) * 1_000_000
    d = r.integers(0, span_days, size=n).astype(np.int64)
    return pa.array(base + d * 86_400_000_000, pa.timestamp("us"))


def tpch(sf, seed):
    """TPC-H-like star schema at scale `sf` (lineitem ~6,000,000 x sf)."""
    r = _rng(seed, 4)
    n_cust, n_part = max(15, int(150_000 * sf)), max(20, int(200_000 * sf))
    n_supp, n_ord = max(5, int(10_000 * sf)), max(50, int(1_500_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": [SEGMENTS[k] for k in r.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_supp), 2))})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": ["%s %s" % (PART_ADJ[a], PART_NOUN[b]) for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 6, n_part))],
        "p_brand": ["Brand#%d" % k for k in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[k] for k in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": [("O", "F", "P")[k] for k in r.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(r.uniform(1000, 450000, n_ord), 2)),
        "o_orderdate": _days((1995, 1, 1), 2404, r, n_ord),
        "o_orderpriority": [PRIORITIES[k] for k in r.integers(0, 5, n_ord)]})
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": [("A", "N", "R")[k] for k in r.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[k] for k in r.integers(0, 2, n_li)],
        "l_shipdate": _days((1995, 1, 2), 2498, r, n_li)})
    return t


def write_tables(out_dir, seed, n_docs, n_vecs, n_events, tpch_sf):
    """Write the ten tables the registered queries read into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    tables = tpch(tpch_sf, seed)
    tables["documents"] = documents_table(documents(n_docs, seed))
    tables["embeddings"] = embeddings(n_vecs, seed)
    tables["events"] = events(n_events, seed)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, name + ".parquet"))


def wire_line(doc_id, text, lang, source, created_utc):
    """One post in the reference wire format (TextAnalytics.jsonLines)."""
    return json.dumps({"type": "submission", "subreddit": lang,
                       "id": str(doc_id), "text": text,
                       "created_utc": created_utc, "author": source},
                      separators=(",", ":"))

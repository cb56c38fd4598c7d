"""Seeded input generator for the benchmark.

Writes the ten fixture tables (schemas as in FIXTURES.md: TPC-H-style star
schema, `events`, `documents`, `embeddings`) as parquet into one directory.
The same seed and sizes give byte-identical files; a different seed gives
different values.  Everything is drawn from one numpy Generator and written
by DuckDB on a single thread, so no scheduling order reaches the bytes.

Knobs the engine's behaviour depends on are explicit per workload:
`sf` (TPC-H/events size), `docs`/`vecs` (corpus size), `dup_share`
(near-duplicate documents), `vocab` (distinct tokens), `lang_weights`
(language skew) and `clusters` (embedding cluster count).
"""
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

# The fixture corpus vocabulary (FIXTURES.md: "small DB-jargon vocabulary").
BASE_VOCAB = ("a the key agg row scan slow fast table value part hash merge "
              "batch spark line sort window data column join small customer "
              "query order filter group big stream vector").split()
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "large", "black", "white", "steel",
          "brass", "tin", "copper", "silver", "gold"]
NOUNS = ["bolt", "ring", "widget", "anvil", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    return (np.datetime64(start, "D") + rng.integers(0, span_days, n)).astype(
        "datetime64[us]")


def tpch(rng, sf):
    """TPC-H-style tables sized like the fixtures (sf0.01: 60k lineitem)."""
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 50)
    n_li = max(int(6_000_000 * sf), 200)
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{c} {n}" for c, n in zip(rng.choice(COLORS, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)})
    n_ev = max(int(1_000_000 * sf), 100)
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(int(15_000 * sf), 15), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def corpus(rng, docs, dup_share, vocab, lang_weights):
    """Documents: token texts; `dup_share` of them are near-copies (one or
    two tokens replaced) of an earlier document."""
    words = np.array(BASE_VOCAB + [f"w{i}" for i in range(max(vocab - len(BASE_VOCAB), 0))])
    # Zipf-like token frequencies, as in natural text
    p = 1.0 / np.arange(1, len(words) + 1)
    p /= p.sum()
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < dup_share:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words, p=p))
        else:
            toks = list(rng.choice(words, int(rng.integers(8, 100)), p=p))
        texts.append(" ".join(toks))
    w = np.array(lang_weights, dtype=float)
    return pd.DataFrame({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, docs, p=w / w.sum()),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def embeddings(rng, vecs, clusters):
    """Unit vectors scattered around `clusters` random centres."""
    centres = rng.normal(0, 1, (clusters, DIM))
    cid = rng.integers(0, clusters, vecs)
    v = centres[cid] + rng.normal(0, 0.6, (vecs, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({"vec_id": np.arange(vecs, dtype=np.int64),
                         "embedding": list(v.astype(np.float32)),
                         "label": (cid % 10).astype(np.int32)})


def store_batches(rng, tables, batches):
    """Micro-batches for the dedup, CDC and ANN streams, and the documents
    the Serve dedup probe asks about.  Dedup batches hold re-sent corpus
    texts and re-sent earlier-batch texts under fresh ids (must be
    dropped), and fresh texts of unique tokens, some twice within a batch
    (the higher id must be dropped), so the expected store follows from
    exact text equality.  CDC versions increase strictly."""
    docs, orders, emb = tables["documents"], tables["orders"], tables["embeddings"]
    corpus_text = docs["text"].tolist()
    n_ord, n_vec = len(orders), len(emb)
    dedup, cdc, ann = [], [], []
    fresh_sent = []
    live = set(range(n_ord))
    for b in range(batches):
        base = 10_000_000 + b * 1000
        rows = [(base + j, corpus_text[int(rng.integers(0, len(corpus_text)))])
                for j in range(10)]
        fresh = [" ".join(f"u{b}x{j}x{t}" for t in range(12)) for j in range(20)]
        rows += [(base + 100 + j, t) for j, t in enumerate(fresh)]
        rows += [(base + 200 + j, fresh[int(rng.integers(0, 20))]) for j in range(5)]
        if fresh_sent:
            rows += [(base + 300 + j, fresh_sent[int(rng.integers(0, len(fresh_sent)))])
                     for j in range(5)]
        fresh_sent += fresh
        dedup += [(b, i, t) for i, t in rows]
        keys = rng.choice(sorted(live), 20, replace=False).tolist() + \
            [n_ord + b * 100 + j for j in range(10)]
        for j, k in enumerate(keys):
            op = "D" if j < 6 else "U"
            price = 0.0 if op == "D" else float(np.round(rng.uniform(1000, 500_000), 2))
            status = "" if op == "D" else str(rng.choice(["F", "O", "P"]))
            cdc.append((b, int(k), price, status, 1 + b * 1000 + j, op))
            (live.discard if op == "D" else live.add)(int(k))
        vecs = rng.normal(0, 1, (20, DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        ann += [(b, n_vec + b * 100 + j, v.astype(np.float32)) for j, v in enumerate(vecs)]
    probe = [(20_000_000 + j, corpus_text[int(rng.integers(0, len(corpus_text)))])
             for j in range(10)]
    probe += [(20_000_100 + j, " ".join(f"p{j}x{t}" for t in range(12))) for j in range(10)]
    out = {
        "dedup_batches": pd.DataFrame(dedup, columns=["batch", "doc_id", "text"]),
        "cdc_batches": pd.DataFrame(cdc, columns=["batch", "o_orderkey", "o_totalprice",
                                                  "o_orderstatus", "version", "op"]),
        "ann_batches": pd.DataFrame(ann, columns=["batch", "vec_id", "embedding"]),
    }
    for df in out.values():
        df["batch"] = df["batch"].astype(np.int32)
    out["dedup_probe"] = pd.DataFrame(probe, columns=["doc_id", "text"])
    return out


def write(out_dir, seed, sf, docs, vecs, dup_share=0.1, vocab=32,
          lang_weights=(1, 4, 1, 1, 1), clusters=16, batches=0):
    """Generate every table (and, with `batches`, the stream inputs) into
    `out_dir`; returns {file name: bytes}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = tpch(rng, sf)
    tables["documents"] = corpus(rng, docs, dup_share, vocab, lang_weights)
    tables["embeddings"] = embeddings(rng, vecs, clusters)
    if batches:
        tables.update(store_batches(rng, tables, batches))
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for name, df in tables.items():  # df is read by DuckDB's replacement scan
        select = "SELECT * FROM df"
        if "embedding" in df.columns:
            select = "SELECT * REPLACE (CAST(embedding AS FLOAT[]) AS embedding) FROM df"
        con.execute(f"COPY ({select}) TO '{out_dir}/{name}.parquet' "
                    "(FORMAT parquet, ROW_GROUP_SIZE 1000000)")
    con.close()
    return {n: os.path.getsize(f"{out_dir}/{n}.parquet") for n in tables}


def digest(out_dir):
    """SHA-256 over every generated file, in name order."""
    h = hashlib.sha256()
    for n in sorted(os.listdir(out_dir)):
        if n.endswith(".parquet"):
            with open(f"{out_dir}/{n}", "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()

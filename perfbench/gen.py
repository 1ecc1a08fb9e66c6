"""Seeded input generator for the benchmark.

`base_tables` synthesizes the ten fixture tables the engine reads, with the
shapes and value distributions of the repository's TPC-H-like test fixtures: a star
schema, an `events` stream over 30 days, a 30-word-vocabulary `documents`
corpus in which 5 % of the documents are a near-duplicate of another one
(its text plus " dup"), and unit-norm 64-d `embeddings`.

`scale_up` tiles `documents` and `embeddings` the way the repository's sf1
tool does: copy k offsets the ids by k * 1,000,000 and suffixes every word
with `_k`, so copies share no shingles and the duplicate-pair mass grows
linearly in the copy count. Copy k of an embedding permutes its components
with a fixed per-copy permutation, which keeps it unit-norm but unrelated to
the original; the sf1 tool's small additive bump instead makes every copy a
near-duplicate of its original, so near-duplicate pairs would grow
quadratically in the copy count.

`permute` shuffles a table's rows: the physical layout changes with the seed,
the logical content does not.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "old", "green", "shiny"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear", "spring", "valve", "lever"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
US_PER_DAY = 86_400_000_000


def _ts(days_from_epoch_us):
    return pa.array(days_from_epoch_us, pa.timestamp("us"))


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n_docs):
    n_words = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in n_words]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for d in dups:
        src = int(rng.integers(0, n_docs))
        texts[d] = texts[src if src != d else (d + 1) % n_docs] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n_vecs):
    v = rng.standard_normal((n_vecs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })


def base_tables(sf, seed):
    """The ten fixture tables at scale factor `sf` (lineitem = 6M * sf rows)."""
    rng = np.random.default_rng(seed)
    n = lambda rows: max(1, int(round(rows * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_users = n(15_000)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    d0, d1 = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    order_days = rng.integers(0, (d1 - d0) // US_PER_DAY + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(d0 + order_days * US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string())})
    s0 = _day_us(1995, 1, 2)
    ship_days = rng.integers(0, (_day_us(2001, 11, 4) - s0) // US_PER_DAY + 1, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
        "l_shipdate": _ts(s0 + ship_days * US_PER_DAY)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + _day_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), pa.string()),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    t["documents"] = documents(rng, max(500, n(50_000)))
    t["embeddings"] = embeddings(rng, max(500, n(20_000)))
    return t


def _suffixed(text, k):
    return " ".join(f"{w}_{k}" for w in text.split(" "))


def scale_up(tables, copies):
    """`copies` disjoint copies of documents and embeddings; copy 0 is the original."""
    docs, emb = tables["documents"], tables["embeddings"]
    doc_parts, emb_parts = [docs], [emb]
    texts = docs.column("text").to_pylist()
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    for k in range(1, copies):
        t = [_suffixed(s, k) for s in texts]
        doc_parts.append(pa.table({
            "doc_id": pa.array(docs.column("doc_id").to_numpy() + k * 1_000_000),
            "text": pa.array(t, pa.string()),
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            "n_chars": pa.array(np.array([len(s) for s in t], dtype=np.int64))}))
        emb_parts.append(pa.table({
            "vec_id": pa.array(emb.column("vec_id").to_numpy() + k * 1_000_000),
            "embedding": pa.array(list(vecs[:, np.random.default_rng(k).permutation(vecs.shape[1])]),
                                  pa.list_(pa.float32())),
            "label": emb.column("label")}))
    out = dict(tables)
    out["documents"] = pa.concat_tables(doc_parts)
    out["embeddings"] = pa.concat_tables(emb_parts)
    return out


def dedup_tables(base, seed, docs, vecs, copies):
    """The base tables with `copies` disjoint copies of a fresh `docs`-row
    corpus and `vecs`-row embedding set in place of theirs."""
    rng = np.random.default_rng(seed)
    t = dict(base, documents=documents(rng, docs), embeddings=embeddings(rng, vecs))
    return scale_up(t, copies)


def permute(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def content_key(params):
    """Digest of the logical input: this generator's source plus its parameters."""
    with open(__file__, "rb") as f:
        src = f.read()
    return hashlib.sha256(src + json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}

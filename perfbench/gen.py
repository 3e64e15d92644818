"""Seeded input generator for the benchmark workloads.

Writes the star schema (region .. lineitem), `events`, `documents` and
`embeddings` as parquet, with the same column names and types as the
engine's fixtures, plus the `serve` workload's ingest and probe batches.
Every value comes from one `numpy` generator seeded with `--seed`, so the
same seed gives byte-identical tables; `fingerprint()` hashes their
contents. The tables are synthesized rather than derived from the engine's
fixture files because a benchmark run reads nothing outside its checkout.

The sizes are those of the engine's sf0.1 fixture: a 5,000-document
corpus, and for `serve` 600k lineitem rows and 100k events.

The `serve` ingest and probe batches are disjoint copies: copy i maps
every letter and digit into its own 36-character range (Latin Extended,
U+0100 + 36 i), so within-copy structure (near-duplicate groups, shingle
sets, term statistics) is kept while no shingle crosses copies, and pair
structure grows with the number of copies, not its square.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "es", "fr", "zh", "de"])
LANG_P = [0.44, 0.15, 0.13, 0.15, 0.13]
ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"
DUP_SHARE = 0.05

# Table sizes per workload; `curate` reads only the documents.
SIZES = {
    "curate": dict(docs=2500, lineitem=6000, events=2000, vecs=500),
    "serve": dict(docs=5000, lineitem=600000, events=100000, vecs=2000),
}
# ingest batches and the probe take ranges 1..13; U+0100 + 36 * 14 + 35 is
# the last code point below the combining marks
INGEST_BATCHES = 12
INGEST_BATCH_DOCS = 30


def copy_map(i):
    return str.maketrans(ALPHABET, "".join(
        chr(0x0100 + len(ALPHABET) * i + k) for k in range(len(ALPHABET))))


def texts(rng, n):
    """n documents of 10..100 vocabulary words; a DUP_SHARE of them repeat
    an earlier document with one word appended (the near-duplicates)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), lens.sum())
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    dup = np.flatnonzero(rng.random(n) < DUP_SHARE)
    for j in dup[dup > 0]:
        out[j] = out[int(rng.integers(0, j))] + " dup"
    return out


def documents(rng, n):
    txt = texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(txt, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str)), pa.string()),
        "n_chars": pa.array([len(t) for t in txt], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + 0.6 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def days(rng, n, start, span):
    d = np.datetime64(start, "D") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(rng, n_lineitem, n_events):
    n_orders = max(n_lineitem // 4, 10)
    n_cust = max(n_orders // 10, 10)
    n_part = max(n_lineitem // 30, 10)
    n_supp = max(n_lineitem // 600, 5)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    adj = np.array("small red blue cold hot new old large".split())
    noun = np.array("ring widget bolt anvil gear gizmo plate rod".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": money(rng, n_orders, 1000, 500000),
        "o_orderdate": days(rng, n_orders, "1995-01-01", 2400),
        "o_orderpriority": prio[rng.integers(0, 5, n_orders)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lineitem), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lineitem).astype(np.float64),
        "l_extendedprice": money(rng, n_lineitem, 900, 105000),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)],
        "l_shipdate": days(rng, n_lineitem, "1995-01-02", 2499)})
    n_users = max(n_events // 66, 10)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")
    etypes = np.array(["click", "signup", "error", "view", "purchase"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_events)],
        "value": money(rng, n_events, 0.01, 490),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    return t


def near_dup_batch(rng, base_text, copy, ids):
    """Fresh documents in character range `copy`, a quarter of them
    replaced by near-duplicates of base documents."""
    fresh = [t.translate(copy_map(copy)) for t in texts(rng, len(ids))]
    dup = rng.random(len(ids)) < 0.25
    pick = rng.integers(0, len(base_text), len(ids))
    txt = [base_text[p] + " dup" if d else f for f, d, p in zip(fresh, dup, pick)]
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(txt, pa.string())})


def serve_batches(rng, base):
    """The `serve` workload's write stream and its probe batch. Each ingest
    batch has a character range of its own, so no batch near-duplicates
    another and growing the index batch by batch gives the same verdicts
    as matching all batches at once; the probe's range is used by no
    batch, so its matches do not change as the index grows."""
    base_text = base.column("text").to_pylist()
    batches = [near_dup_batch(rng, base_text, 1 + b,
                              10_000_000_000 + b * 100_000 + np.arange(INGEST_BATCH_DOCS))
               for b in range(INGEST_BATCHES)]
    probe = near_dup_batch(rng, base_text, 1 + INGEST_BATCHES,
                           20_000_000_000 + np.arange(INGEST_BATCH_DOCS))
    return batches, probe


def generate(workload, seed, out_dir):
    """Write the workload's inputs under out_dir; return a summary with the
    content fingerprint and input sizes."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    tables = star(rng, size["lineitem"], size["events"])
    tables["documents"] = documents(rng, size["docs"])
    tables["embeddings"] = embeddings(rng, size["vecs"])
    batches, probe = serve_batches(rng, tables["documents"]) if workload == "serve" else ([], None)
    if probe is not None:
        tables["probe"] = probe
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    for i, t in enumerate(batches):
        pq.write_table(t, os.path.join(out_dir, f"ingest_{i:02d}.parquet"))
    docs = tables["documents"]
    summary = {
        "fingerprint": fingerprint(list(tables.items()) +
                                   [(f"ingest_{i}", t) for i, t in enumerate(batches)]),
        "docs": docs.num_rows,
        "doc_bytes": sum(len(t.encode()) for t in docs.column("text").to_pylist()),
        "lineitem_rows": tables["lineitem"].num_rows,
        "events_rows": tables["events"].num_rows,
        "ingest_batches": len(batches),
        "ingest_docs": sum(t.num_rows for t in batches),
    }
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(summary, f)
    return summary


def fingerprint(named_tables):
    h = hashlib.sha256()
    for name, t in named_tables:
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]

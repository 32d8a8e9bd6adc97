#!/usr/bin/env python3
"""Seeded input generator for the lifecycle benchmark.

    python3 lifebench/gen.py --workload <name> --seed <n> --out <dir>

Writes the inputs one workload needs under <dir> and prints one JSON line
with the input digest (sha256 over every generated file, path and bytes),
so two sides of a comparison can prove they ran identical inputs.

* cdm_cycle: three site namespaces (site_a, site_b, site_c). Customers are
  split between sites with seeded weights; a customer's orders and an
  order's lineitems follow it; region/nation/supplier/part are shared and
  copied into every site. `dims/` holds the shared tables once (the DCC
  namespace gets them from there) and `delta/orders.parquet` is the seeded
  batch the id-map cycle transforms: half re-sent keys, half new keys.
* search_warm: `corpus/documents.parquet` (no planted duplicates),
  `corpus/embeddings.parquet` (clustered unit vectors), the query
  batches `queries/text.tsv` and `queries/vectors.tsv`, and the curation
  slice's corpus `curation/documents.parquet`: base documents plus planted
  exact copies and token-level near-duplicates (shares in the JSON line).

Table shapes follow the engine's TPC-H-style test tables (see TESTDATA.md),
so every lifecycle command and oracle runs on them unchanged.
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SITES = ("site_a", "site_b", "site_c")

# cdm_cycle size: sf0.002 (a fiftieth of the sf0.1 test tables' rows), as
# the run budget allows; "Input size" in README.md gives what a cycle
# costs at sf0.01, sf0.03 and sf0.1
N_CUSTOMER = 300
N_ORDERS = 3000
N_LINEITEM = 12000
N_PART = 400
N_SUPPLIER = 20
N_DELTA = 400

# search_warm's curation slice: base docs + exact copies + near-duplicates
N_CURATION_DOCS = 600
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
NEAR_EDIT = 0.06  # share of a near-duplicate's tokens replaced

# search_warm working set and query batches
N_SEARCH_DOCS = 5000
N_VECTORS = 2000
DIM = 64
N_CLUSTERS = 10
TEXT_BATCHES = 1  # per text ranker (bm25, ql)
VECTOR_BATCHES = 1
QUERIES_PER_BATCH = 8
# a batch's queries are 3 words each, all distinct across the batch, so a
# batch scans the same number of terms on every seed
QUERY_WORDS = 3

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def write(table_dict, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(table_dict), path, compression="snappy")


def dates(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def gen_cdm(rng, out):
    dims = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "supplier": {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2)},
        "part": {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "red", "blue", "hot", "cold", "big",
                            "green", "old"], N_PART),
                rng.choice(["ring", "widget", "bolt", "gear", "gizmo",
                            "anvil", "plate", "rod"], N_PART))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                                  "STANDARD", "LARGE"], N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1,
                                      2)},
    }
    customer = {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "FURNITURE",
                                    "BUILDING", "AUTOMOBILE"], N_CUSTOMER)}
    orders = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "F", "O"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": dates(rng, N_ORDERS),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)}
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    lineitem = {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEM),
                                    2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": dates(rng, N_LINEITEM, "1995-01-02", 2500)}

    # seeded customer split; orders follow their customer, lineitems
    # follow their order
    weights = rng.dirichlet([4.0] * len(SITES))
    cust_site = rng.choice(len(SITES), N_CUSTOMER, p=weights)
    order_site = cust_site[orders["o_custkey"]]
    line_site = order_site[lineitem["l_orderkey"]]

    def take(cols, mask):
        return {k: (np.asarray(v)[mask]) for k, v in cols.items()}

    for name, cols in dims.items():
        write(cols, f"{out}/dims/{name}.parquet")
    split = {}
    for i, site in enumerate(SITES):
        for name, cols in dims.items():
            write(cols, f"{out}/{site}/{name}.parquet")
        parts = {"customer": take(customer, cust_site == i),
                 "orders": take(orders, order_site == i),
                 "lineitem": take(lineitem, line_site == i)}
        for name, cols in parts.items():
            write(cols, f"{out}/{site}/{name}.parquet")
        split[site] = {n: int(len(c[next(iter(c))])) for n, c in parts.items()}

    # id-map delta: half re-sent existing orders, half new order keys
    resent = rng.choice(N_ORDERS, N_DELTA // 2, replace=False)
    fresh = N_ORDERS + rng.choice(4 * N_ORDERS, N_DELTA - N_DELTA // 2,
                                  replace=False)
    keys = np.concatenate([resent, fresh]).astype(np.int64)
    write({"o_orderkey": keys,
           "o_custkey": rng.integers(0, N_CUSTOMER, N_DELTA).astype(np.int64),
           "o_orderstatus": rng.choice(["P", "F", "O"], N_DELTA),
           "o_totalprice": np.round(rng.uniform(1000, 500000, N_DELTA), 2),
           "o_orderdate": dates(rng, N_DELTA),
           "o_orderpriority": rng.choice(["1-URGENT", "5-LOW"], N_DELTA)},
          f"{out}/delta/orders.parquet")
    fact_rows = N_ORDERS + N_LINEITEM + N_CUSTOMER
    return {"fact_rows": fact_rows, "split": split,
            "site_weights": [round(float(w), 6) for w in weights]}


def doc_text(rng, n_words):
    return " ".join(rng.choice(WORDS, n_words))


def gen_documents(rng, n_base, exact_share, near_share):
    texts = [doc_text(rng, int(k)) for k in rng.integers(30, 121, n_base)]
    n_exact = int(round(n_base * exact_share))
    n_near = int(round(n_base * near_share))
    for src in rng.choice(n_base, n_exact):
        texts.append(texts[src])
    for src in rng.choice(n_base, n_near):
        toks = texts[src].split()
        for j in rng.choice(len(toks), max(1, int(len(toks) * NEAR_EDIT)),
                            replace=False):
            toks[j] = WORDS[rng.integers(len(WORDS))]
        texts.append(" ".join(toks))
    n = len(texts)
    # documents arrive in a seeded order, so copies are not adjacent
    perm = rng.permutation(n)
    texts = [texts[i] for i in perm]
    return ({"doc_id": np.arange(n, dtype=np.int64),
             "text": texts,
             "lang": rng.choice(LANGS, n, p=LANG_P),
             "source": [f"src{i}" for i in rng.integers(0, 20, n)],
             "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
            {"docs": n, "exact_copies": n_exact, "near_dups": n_near})


def gen_search(rng, out):
    docs, info = gen_documents(rng, N_SEARCH_DOCS, 0.0, 0.0)
    write(docs, f"{out}/corpus/documents.parquet")
    cur, cur_info = gen_documents(rng, N_CURATION_DOCS, EXACT_SHARE,
                                  NEAR_SHARE)
    write(cur, f"{out}/curation/documents.parquet")
    info.update({f"curation_{k}": v for k, v in cur_info.items()})
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    labels = rng.integers(0, N_CLUSTERS, N_VECTORS)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(N_VECTORS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write({"vec_id": np.arange(N_VECTORS, dtype=np.int64),
           "embedding": pa.array(list(vecs.astype(np.float32)),
                                 type=pa.list_(pa.float32())),
           "label": labels.astype(np.int32)},
          f"{out}/corpus/embeddings.parquet")

    # query batches as tab-separated lines (batch, query id, payload): the
    # driver turns them into in-memory relations without a Spark job
    os.makedirs(f"{out}/queries")
    with open(f"{out}/queries/text.tsv", "w") as f:
        for b in range(2 * TEXT_BATCHES):
            words = rng.choice(WORDS, QUERY_WORDS * QUERIES_PER_BATCH,
                               replace=False)
            for j in range(QUERIES_PER_BATCH):
                q = " ".join(words[j * QUERY_WORDS:(j + 1) * QUERY_WORDS])
                f.write(f"{b}\t{b * QUERIES_PER_BATCH + j}\t{q}\n")
    n_vec = VECTOR_BATCHES * QUERIES_PER_BATCH
    src = rng.integers(0, N_VECTORS, n_vec)
    q = vecs[src] + rng.normal(scale=0.05, size=(n_vec, DIM))
    q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
    with open(f"{out}/queries/vectors.tsv", "w") as f:
        for i, v in enumerate(q):
            # ids above the corpus ids, so a query never shares a vector id
            f.write(f"{i // QUERIES_PER_BATCH}\t{N_VECTORS + i}\t"
                    + " ".join(f"{x:.9g}" for x in v) + "\n")
    info.update({"vectors": N_VECTORS, "text_batches": 2 * TEXT_BATCHES,
                 "vector_batches": VECTOR_BATCHES,
                 "queries_per_batch": QUERIES_PER_BATCH})
    return info


GENERATORS = {"cdm_cycle": gen_cdm, "search_warm": gen_search}


def digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`; return the
    summary dict (sizes, shares, digest)."""
    if workload not in GENERATORS:
        raise SystemExit(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    info = GENERATORS[workload](rng, out)
    info.update({"workload": workload, "seed": seed,
                 "input_bytes": sum(
                     os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(out) for f in fs),
                 "input_digest": digest(out)})
    with open(f"{out}/inputs.json", "w") as fh:
        json.dump(info, fh, sort_keys=True)
    return info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    if os.path.exists(a.out) and os.listdir(a.out):
        sys.exit(f"{a.out} is not empty")
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()

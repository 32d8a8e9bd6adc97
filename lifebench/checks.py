"""Output checks for the lifecycle benchmark, run after the timed region.

Outputs that have an equivalent in `SparkEntry.oracleSql` are hash-compared
against DuckDB running that SQL on the generated inputs, with the
normalisation of `tools/check.py`. Outputs without an oracle must hold the
invariants listed per workload below. Each failed check marks the operation
that produced the output as failed.
"""
import glob
import importlib.util
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

# cdm_cycle output directory (relative to an iteration dir) -> (op, oracle)
CDM_ORACLES = {
    "derived/dose": ("run_derivations", "q43_dose"),
    "derived/lab_loinc": ("run_derivations", "q40_lab_loinc"),
    "derived/obs_derivation": ("run_derivations", "q41_obs_derivation"),
    "derived/pcornet_adult_slice": ("run_derivations", "q52_adult_slice"),
    "derived/pcornet_covid_slice": ("run_derivations", "q51_covid_slice"),
    "derived/scdf_drug_era": ("run_derivations", "q34_scdf_era"),
    "eras": ("eras", "q10_era"),
    "obs_period": ("obs_period", "q11_obs_period"),
}
# post-load runs registry checks and statistics on the first site
CDM_SITE_ORACLES = {
    "post/dcc/checks": ("post_load", "q35_registry_checks"),
    "post/dcc/stats": ("post_load", "q37_stats"),
}
CURATION_ORACLES = {
    "exact": ("dedup_exact", "p01_exact_dedup"),
}
# MinHash LSH recall is probabilistic: its pairs must all be in the
# exhaustive oracle's, and hold at least this share of them
MINHASH_ORACLE = "p02_minhash_lsh"
MINHASH_RECALL = 0.95
# results per query of every search_warm batch (SearchWarm.K)
SEARCH_K = 10
SITES = ("site_a", "site_b", "site_c")
UNION_TABLES = ("customer", "orders", "lineitem")
DIMS = ("region", "nation", "supplier", "part")


def load_norm(root):
    """The cell/row normalisation of the repo's oracle gate."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def rows(path):
    files = data_files(path)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def data_files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(f for f in glob.glob(f"{path}/**/*", recursive=True)
                  if os.path.isfile(f)
                  and not os.path.basename(f).startswith(("_", ".")))


def read(path):
    return pd.concat([pd.read_parquet(f) for f in data_files(path)],
                     ignore_index=True)


class Checker:
    """Expected results are computed once per run; `check(iteration)`
    returns {op: [failure messages]} for one iteration's outputs."""

    def __init__(self, workload, inputs, info, oracle_sql, root):
        self.workload = workload
        self.inputs = inputs
        self.oracle_sql = oracle_sql
        self.batch_rows = SEARCH_K * info.get("queries_per_batch", 0)
        self.norm = load_norm(root)
        self.expected = {}
        self.reference = {}
        if workload == "cdm_cycle":
            self._expect_cdm()

    def _oracle(self, con, sql):
        return self.norm(con.execute(sql).df())

    def _expect_cdm(self):
        oracle_sql = self.oracle_sql
        con = duckdb.connect()
        for t in UNION_TABLES:
            files = ", ".join(f"'{self.inputs}/{s}/{t}.parquet'" for s in SITES)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet([{files}])")
        for t in DIMS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.inputs}/dims/{t}.parquet')")
        for out, (_, key) in CDM_ORACLES.items():
            self.expected[out] = self._oracle(con, oracle_sql[key])
        site = duckdb.connect()
        for t in UNION_TABLES + DIMS:
            site.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{self.inputs}/{SITES[0]}/{t}.parquet')")
        for out, (_, key) in CDM_SITE_ORACLES.items():
            self.expected[out] = self._oracle(site, oracle_sql[key])

    def _compare(self, got_path, exp):
        if not data_files(got_path):
            return "no output"
        got = self.norm(read(got_path))
        if list(got.columns) != list(exp.columns):
            return f"columns {list(got.columns)} != {list(exp.columns)}"
        if len(got) != len(exp):
            return f"rows {len(got)} != {len(exp)}"
        if not got.equals(exp):
            i = (got != exp).any(axis=1).idxmax()
            return (f"value mismatch at row {i}: {got.loc[i].to_dict()} "
                    f"!= {exp.loc[i].to_dict()}")
        return None

    def check(self, it):
        fails = {}

        def fail(op, msg):
            fails.setdefault(op, []).append(msg)

        def guarded(op, fn):
            try:
                fn()
            except Exception as e:  # a missing or unreadable output fails
                fail(op, f"{type(e).__name__}: {e}")

        d = it["dir"]
        if self.workload == "cdm_cycle":
            for out, (op, _) in {**CDM_ORACLES, **CDM_SITE_ORACLES}.items():
                def cmp(out=out, op=op):
                    msg = self._compare(f"{d}/{out}", self.expected[out])
                    if msg:
                        fail(op, f"{out}: {msg}")
                guarded(op, cmp)
            guarded("post_load", lambda: self._cdm_post_load(d, fail))
            guarded("merge_lineitem", lambda: self._cdm_merged(
                d, "lineitem", "merge_lineitem", fail))
            guarded("merge_customer", lambda: self._cdm_merged(
                d, "customer", "merge_customer", fail))
            guarded("populate_last_id", lambda: self._cdm_idmap(d, fail))
        elif self.workload == "search_warm":
            guarded("crawl", lambda: self._curation(it, fail))
            self._search(it, fail)
        return fails

    # -- cdm_cycle invariants ------------------------------------------
    def _cdm_post_load(self, d, fail):
        for s in SITES:
            want = rows(f"{self.inputs}/{s}/orders.parquet")
            got = rows(f"{d}/post/{s}/orders")
            if got != want:
                fail("post_load", f"{s} transformed orders {got} != {want}")
        # a whole iteration moves the merged orders into the namespace
        merged = f"{d}/post/dcc/orders"
        self._cdm_merged(d, "orders", "post_load", fail,
                         merged if os.path.exists(merged) else None)

    def _cdm_merged(self, d, table, op, fail, path=None):
        want = sum(rows(f"{self.inputs}/{s}/{table}.parquet") for s in SITES)
        got = rows(path or f"{d}/dcc_ns/{table}.parquet")
        if got != want:
            fail(op, f"merged {table} rows {got} != site sum {want}")

    def _cdm_idmap(self, d, fail):
        keys = set(read(f"{d}/dcc_ns/orders.parquet")["o_orderkey"])
        delta = read(f"{self.inputs}/delta/orders.parquet")
        keys |= set(delta["o_orderkey"])
        for store, op in (("ids1", "id_transform"), ("ids2", "idmap_copy")):
            m = read(f"{d}/{store}/orders_ids/map")
            last = int(read(f"{d}/{store}/orders_ids/last_id")["last_id"][0])
            if set(m["site_id"]) != keys:
                fail(op, f"{store} map covers {m['site_id'].nunique()} keys, "
                         f"want {len(keys)}")
            if m["site_id"].duplicated().any() or m["dcc_id"].duplicated().any():
                fail(op, f"{store} map is not a bijection")
            if last != int(m["dcc_id"].max()):
                fail("populate_last_id" if store == "ids2" else op,
                     f"{store} last_id {last} != max dcc_id {m['dcc_id'].max()}")
        out = read(f"{d}/delta_out")
        m = read(f"{d}/ids1/orders_ids/map").set_index("site_id")["dcc_id"]
        if len(out) != len(delta):
            fail("id_transform", f"id-transformed rows {len(out)} != {len(delta)}")
        elif sorted(out["o_orderkey"]) != sorted(m[delta["o_orderkey"]]):
            fail("id_transform", "id-transformed keys differ from the map")

    # -- search_warm's curation slice: invariants and oracles ------------
    def _curation(self, it, fail):
        d = it["dir"]
        corpus = f"{d}/crawl_ns/documents.parquet"
        admitted = read(corpus)
        source = read(f"{self.inputs}/curation/documents.parquet")
        if not 0 < len(admitted) <= len(source):
            fail("crawl", f"admitted {len(admitted)} of {len(source)}")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{corpus}/*.parquet')")
        for out, (op, key) in CURATION_ORACLES.items():
            msg = self._compare(f"{d}/{out}",
                                self._oracle(con, self.oracle_sql[key]))
            if msg:
                fail(op, f"{out}: {msg}")
        want = con.execute(self.oracle_sql[MINHASH_ORACLE]).df()
        want = set(zip(want["doc_a"], want["doc_b"]))
        got = read(f"{d}/minhash")
        got = set(zip(got["doc_a"], got["doc_b"]))
        if not got <= want:
            fail("dedup_minhash", f"{len(got - want)} pairs not in the oracle")
        elif len(got) < MINHASH_RECALL * len(want):
            fail("dedup_minhash", f"recall {len(got)}/{len(want)}")
        kept = read(f"{d}/kept")
        cert = read(f"{d}/certify")
        if int(cert["n_docs"].sum()) != len(kept):
            fail("certify", f"shards hold {cert['n_docs'].sum()} docs, "
                            f"kept {len(kept)}")
        if (cert["order_inversions"] != 0).any():
            fail("certify", "shard rows out of order")
        enc = read(f"{d}/encoded")
        words = (kept.assign(word=kept["text"].str.split())
                 .explode("word")["word"])
        if len(enc) != int((words.str.len() > 0).sum()):
            fail("bpe_encode", f"encoded {len(enc)} words, want {len(words)}")

    # -- search_warm's query batches: identical across iterations -------
    def _search(self, it, fail):
        for key, value in it["facts"].items():
            op = key[:-5] if key.endswith("_rows") else key
            if key.endswith("_rows") and value != self.batch_rows:
                fail(op, f"{value} result rows, want {self.batch_rows}")
            ref = self.reference.setdefault(key, value)
            if value != ref:
                fail(op, "result differs from the first iteration")

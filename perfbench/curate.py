"""``curate``: the crawl, dedup-drop and IVF-PQ pipelines, pass after pass.

Each pass curates a fresh corpus: a replica (``tools/make_scale.scale_table``)
of a base ``documents``/``embeddings`` pair drawn from (seed, pass), which
also picks the id range. A pass runs the three registered suite entries to
a driver-side frame, with ``bench.py``'s cache hygiene between entries.
Every output must equal the entry's DuckDB oracle on the same input; the
oracles run after the timed loop and are cached by input fingerprint.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import inputs
from tools.oracle_check import values_match

ENTRIES = ("e2e_crawl_corpus_pack", "curate_dedup_drop_best",
           "similarity_ivfpq_topk")
BASE_DOCS = 500
BASE_VECS = 500
REPLICAS = 2
WARM_BASE = 100


class Curate:
    # the run budget of one pass (about 13 s on the reference machine):
    # 1 pass at --seconds 20
    step_s = 20.0

    def __init__(self, spark, work: str, seed: int, cache_dir: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.cache_dir = cache_dir
        self.sizes = {"documents_per_pass": BASE_DOCS * REPLICAS,
                      "embeddings_per_pass": BASE_VECS * REPLICAS}

    def _prepare(self, data_dir: str, seed: list[int], n_docs: int,
                 n_vecs: int, replicas: int) -> None:
        from tools.make_scale import scale_table

        base = os.path.join(data_dir, "base")
        os.makedirs(base, exist_ok=True)
        # the seed also moves the document id range (below scale_table's
        # per-replica key offset); vector ids stay at 0.. because the
        # IVF-PQ entry's query set is the lowest ids
        id_base = int(np.random.default_rng(seed).integers(0, 1000)) * 10_000
        inputs.write_documents(os.path.join(base, "documents.parquet"),
                               n_docs, seed, id_base)
        inputs.write_embeddings(os.path.join(base, "embeddings.parquet"),
                                n_vecs, seed)
        for t in ("documents", "embeddings"):
            scale_table(t, os.path.join(base, f"{t}.parquet"),
                        os.path.join(data_dir, f"{t}.parquet"), replicas)
        inputs.write_placeholders(data_dir)

    def setup(self) -> None:
        from opengemini_spark import suite

        self.queries = suite.queries()
        # warm-up: one pass on a small corpus from another seed
        warm_dir = os.path.join(self.work, "warm")
        self._prepare(warm_dir, [self.seed, 7919], WARM_BASE, WARM_BASE, 1)
        self._pass(warm_dir)

    def _pass(self, data_dir: str) -> list[dict]:
        from opengemini_spark import suite
        from opengemini_spark.datapipe.similarity import unpersist_lsh_caches

        ops = []
        for name in ENTRIES:
            setup = suite.SETUP.get(name)
            if setup is not None:
                setup(self.spark, data_dir)
            t0 = time.perf_counter()
            out = self.queries[name](self.spark, data_dir).toPandas()
            ops.append({"kind": name, "s": time.perf_counter() - t0,
                        "out": out, "data_dir": data_dir})
            unpersist_lsh_caches()
            self.spark.catalog.clearCache()
        return ops

    def step(self, i: int) -> list[dict]:
        """One pass over a fresh corpus, like curating a new crawl batch:
        a second pass over the same files would reuse compiled plans and
        run ~20% faster than any pass a real batch gets."""
        data_dir = os.path.join(self.work, f"data-{i}")
        self._prepare(data_dir, [self.seed, i], BASE_DOCS, BASE_VECS,
                      REPLICAS)
        return self._pass(data_dir)

    def _oracle(self, con, data_dir: str, name: str) -> pd.DataFrame:
        """The entry's DuckDB oracle, cached by (SQL, input bytes)."""
        from opengemini_spark import suite

        sql = suite.oracle_sql()[name]
        h = hashlib.sha256(sql.encode())
        for t in ("documents", "embeddings"):
            with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        path = os.path.join(self.cache_dir, f"{name}-{h.hexdigest()[:24]}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        want = con.execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        want.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return want

    def check(self, ops: list[dict]) -> None:
        from tools.oracle_check import duck_con

        for data_dir in dict.fromkeys(op["data_dir"] for op in ops):
            con = duck_con(data_dir)
            for op in ops:
                if op["data_dir"] == data_dir:
                    want = self._oracle(con, data_dir, op["kind"])
                    op["ok"], op["why"] = values_match(op["out"], want)
            con.close()

    def trace_extra(self, ops: list[dict]) -> dict:
        """LSH precision on the first pass's input: verified ÷ candidate
        pairs."""
        from opengemini_spark.catalog import load_table
        from opengemini_spark.datapipe import dedup

        docs = load_table(self.spark, ops[0]["data_dir"], "documents")
        raw = dedup.doc_shingles_raw(docs, dedup.SHINGLE_K, "text", "doc_id")
        cand = dedup.candidate_pairs(
            dedup.lsh_band_keys(dedup.minhash_signatures(raw))
        ).count()
        verified = dedup.minhash_lsh_dedup(docs, threshold=0.8).count()
        return {"datapipe.lsh_pair_precision": verified / cand if cand else 0.0}

    def summary(self, ops: list[dict]) -> dict:
        n = len(ENTRIES)
        pass_s = [sum(op["s"] for op in ops[i:i + n])
                  for i in range(0, len(ops), n)]
        return {
            "latency_s": pass_s,
            "p50_s": statistics.median(pass_s),
            "n_ops": len(pass_s),
            "throughput_per_s":
                self.sizes["documents_per_pass"] * len(pass_s) / sum(pass_s),
            "detail": {
                f"{name}_s": [op["s"] for op in ops if op["kind"] == name]
                for name in ENTRIES
            },
        }

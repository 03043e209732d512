"""``corpus_curation``: the staged curation pipeline over the corpus replica.

One client runs the pipeline over the 2x replica of the sf0.1
``documents``/``embeddings`` (10,000 docs, 4,000 vectors).  Each stage
writes parquet with ``sources.writers`` and the next stage reads it back:

1. ``pii_scrub`` + ``c4_filters`` + ``repetition_ratio`` filter
2. ``exact_dedup``
3. ``minhash_lsh_pairs`` (pairs written), then ``dedup_by_components``
4. ``pack_sequences`` -> ``write_training_shards``
5. ``semantic_dedup_pairs`` over the embeddings

``operators.*`` and ``writers`` do nearly all the work; ``datasource``,
``dialect`` and ``cache`` do none.  A curation job runs once per process,
so no warm-up pass precedes the timed one: the first pass pays the JIT and
Python-worker start-up a batch job pays.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from . import data
from .oracle import duckdb_connection

REP_MAX = 0.2
N_SHARDS = 8
PACK_BUDGET = 512
SEM_THRESHOLD = 0.9
SEM_CLUSTERS = 16


class Workload:
    name = "corpus_curation"

    def __init__(self, seed: int) -> None:
        self.src = data.replica_dir(seed)
        self.n_docs = pq.ParquetFile(os.path.join(self.src, "documents.parquet")).metadata.num_rows
        self.stage_s: dict[str, float] = {}  # seconds per stage of the pass

    def setup(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(os.path.join(self.src, "documents.parquet"))
        self.emb = spark.read.parquet(os.path.join(self.src, "embeddings.parquet"))

    # -- the timed op: one pass --------------------------------------------
    def op(self, out: str, tracer=None) -> None:
        """Run the pass, writing every stage's output under ``out``."""
        from pyspark.sql import functions as F

        from dfsql_spark.operators import dedup, similarity, text
        from dfsql_spark.sources import writers

        spark = self.spark
        times = self.stage_s
        with _stage("text.filter", times, tracer):
            fused = text.repetition_ratio(
                text.c4_filters(text.pii_scrub(self.docs, append=True), append=True), append=True
            )
            kept = fused.filter(F.col("keep_doc") & (F.col("rep_ratio") <= REP_MAX)).select(
                "doc_id", F.col("clean_text").alias("text"), "source"
            )
            writers.write_table(kept, f"{out}/s1_filtered")
        with _stage("dedup.exact", times, tracer):
            s1 = spark.read.parquet(f"{out}/s1_filtered")
            survivors = dedup.exact_dedup(s1).select(F.col("survivor_id").alias("doc_id"))
            writers.write_table(s1.join(survivors, "doc_id"), f"{out}/s2_exact")
        with _stage("dedup.minhash", times, tracer):
            s2 = spark.read.parquet(f"{out}/s2_exact")
            pairs = dedup.minhash_lsh_pairs(s2, verify_threshold=0.5).select("id_a", "id_b")
            writers.write_table(pairs, f"{out}/s3_pairs")
        with _stage("dedup.components", times, tracer):
            pairs = spark.read.parquet(f"{out}/s3_pairs")
            writers.write_table(dedup.dedup_by_components(s2, pairs), f"{out}/s3_near")
        with _stage("text.pack", times, tracer):
            s3 = spark.read.parquet(f"{out}/s3_near")
            packed = text.pack_sequences(s3, budget=PACK_BUDGET)
            writers.write_training_shards(
                packed, f"{out}/s4_shards", n_shards=N_SHARDS, token_col="doc_tokens"
            )
        with _stage("similarity.semdedup", times, tracer):
            sem = similarity.semantic_dedup_pairs(
                self.emb, threshold=SEM_THRESHOLD, n_clusters=SEM_CLUSTERS
            )
            writers.write_table(sem, f"{out}/s5_semdup")

    # -- correctness ---------------------------------------------------------
    def check(self, out: str, tmp_dir: str) -> list[str]:
        """Problems found in the outputs of the pass that wrote ``out``
        (empty when correct)."""
        sys.path.insert(0, data.ROOT)
        try:
            from __spark_entry__ import oracle_sql
        finally:
            sys.path.pop(0)
        oracles = oracle_sql()
        problems: list[str] = []
        con = duckdb_connection(tmp_dir)
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.src}/documents.parquet')")
        c4 = con.execute(oracles["t12_c4_filters"]).df()
        rep = con.execute(oracles["t11_repetition"]).df()
        keep = set(c4.loc[c4["keep_doc"], "doc_id"]) & set(rep.loc[rep["rep_ratio"] <= REP_MAX, "doc_id"])
        s1 = pq.read_table(f"{out}/s1_filtered").to_pandas()
        if set(s1["doc_id"]) != keep:
            problems.append(f"stage 1 kept {len(s1)} docs, oracle keeps {len(keep)}")
        con.execute("DROP VIEW documents")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{out}/s1_filtered/*.parquet')")
        exact = set(con.execute(oracles["d01_dedup_exact"]).df()["survivor_id"])
        s2 = set(pq.read_table(f"{out}/s2_exact", columns=["doc_id"]).column(0).to_pylist())
        if s2 != exact:
            problems.append(f"exact dedup kept {len(s2)}, oracle keeps {len(exact)}")
        con.close()

        pairs = pq.read_table(f"{out}/s3_pairs").to_pandas()
        s3 = set(pq.read_table(f"{out}/s3_near", columns=["doc_id"]).column(0).to_pylist())
        problems += _component_problems(s2, s3, pairs)

        shards = pads.dataset(f"{out}/s4_shards", format="parquet", partitioning="hive",
                              exclude_invalid_files=True).to_table(columns=["doc_id", "shard"])
        ids = shards.column("doc_id").to_pylist()
        if len(ids) != len(set(ids)) or set(ids) != s3:
            problems.append("training shards do not hold each survivor exactly once")

        sem = pq.read_table(f"{out}/s5_semdup").to_pandas()
        problems += _semantic_problems(sem, self.src)
        return problems

    def stats(self, out: str) -> dict:
        n_pairs = pads.dataset(f"{out}/s3_pairs", format="parquet").count_rows()
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
                 if not f.startswith((".", "_"))]
        return {
            "pairs": n_pairs,
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }


@contextmanager
def _stage(name: str, times: dict, tracer):
    with tracer.span(name) if tracer else nullcontext():
        t0 = time.perf_counter()
        try:
            yield
        finally:
            times[name] = time.perf_counter() - t0


def _component_problems(s2: set, s3: set, pairs) -> list[str]:
    """One survivor (the min id) per near-dup component, every doc
    outside a component kept, nothing invented."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for x in set(pairs["id_a"]).union(pairs["id_b"]):
        members.setdefault(find(int(x)), []).append(int(x))
    problems = []
    if not s3 <= s2:
        problems.append("near dedup invented documents")
    bad = sum(1 for root, m in members.items() if [x for x in m if x in s3] != [root])
    if bad:
        problems.append(f"{bad} near-dup components without exactly one min-id survivor")
    in_pairs = {x for m in members.values() for x in m}
    if (s2 - in_pairs) - s3:
        problems.append("near dedup dropped documents that have no near duplicate")
    return problems


def _semantic_problems(sem, src: str) -> list[str]:
    """Every reported pair is ordered, unique and truly above threshold."""
    emb = pq.read_table(os.path.join(src, "embeddings.parquet")).to_pandas()
    vec = dict(zip(emb["vec_id"], (np.asarray(v, dtype=np.float64) for v in emb["embedding"])))
    problems = []
    if len(sem) == 0:
        problems.append("semantic dedup found no pairs")
    if (sem["id_a"] >= sem["id_b"]).any() or sem.duplicated(["id_a", "id_b"]).any():
        problems.append("semantic dedup pairs are not ordered and unique")
    for a, b in zip(sem["id_a"], sem["id_b"]):
        va, vb = vec[a], vec[b]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if cos < SEM_THRESHOLD - 1e-6:
            problems.append(f"semantic pair ({a}, {b}) has cosine {cos:.4f}")
            break
    return problems

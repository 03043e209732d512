"""Inputs for the benchmark, all inside the checkout.

* ``sf0.1`` - the repository's sf0.1 test tables (the seven star-schema
  tables plus the ``documents`` and ``embeddings`` corpus), copied
  byte for byte into ``perfbench/sf0.1`` and checked against the SHA-256
  digests below before every run.  ``SPARK_GRAFT_SF_DIR`` (the variable
  ``bench.py`` reads) points the benchmark at another copy; it must hold
  the same bytes.  This is the catalog every run serves, so ``--seed``
  does not change it.
* the corpus replica - ``documents``/``embeddings`` fanned out
  ``REPLICA_COPIES`` times with the replication rules of
  ``scripts/make_scale_data.py`` (per-copy key offsets, per-copy vowel
  substitution), rows shuffled by ``--seed``.  Cached under
  ``perfbench/.data`` with a content-hash manifest.
* the ``pandas_oneshot`` frames - generated in memory from ``--seed``.

Checking and building happen before set-up is timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, ".data")
# bump when the replica build changes, so stale caches are rebuilt
REPLICA_VERSION = 5

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
CORPUS_TABLES = ("documents", "embeddings")
# 2x, not 8x: see "Run time, and why the corpus is 2x" in README.md
REPLICA_COPIES = 2

SF01_SHA256 = {
    "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
    "supplier": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
    "part": "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
    "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def base_dir() -> str:
    """Directory with the sf0.1 tables, after checking every digest."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(HERE, "sf0.1")
    for name, want in SF01_SHA256.items():
        got = _sha256(os.path.join(d, f"{name}.parquet"))
        if got != want:
            raise RuntimeError(f"{d}/{name}.parquet has SHA-256 {got}, expected {want}")
    return d


def part_vocabulary(d: str) -> tuple[list[str], list[str]]:
    """Words of ``p_name`` and values of ``p_type``, for query parameters."""
    part = pq.read_table(os.path.join(d, "part.parquet"), columns=["p_name", "p_type"])
    words = {w for name in part.column("p_name").to_pylist() for w in name.split()}
    return sorted(words), sorted(set(part.column("p_type").to_pylist()))


# ---------------------------------------------------------------------------
# corpus replica (scripts/make_scale_data.py rules, seeded row order)
# ---------------------------------------------------------------------------

def _cached(dirname: str, names: tuple, build) -> str:
    """Return ``dirname`` holding ``<name>.parquet`` for each name,
    building it with ``build(dirname)`` unless a manifest of matching
    content hashes is already there."""
    manifest_path = os.path.join(dirname, "MANIFEST.json")
    try:
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("version") == REPLICA_VERSION and all(
            _sha256(os.path.join(dirname, f"{n}.parquet")) == manifest["sha256"][n]
            for n in names
        ):
            return dirname
    except (OSError, KeyError, ValueError):
        pass
    os.makedirs(dirname, exist_ok=True)
    build(dirname)
    manifest = {
        "version": REPLICA_VERSION,
        "sha256": {n: _sha256(os.path.join(dirname, f"{n}.parquet")) for n in names},
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path)
    return dirname


def replica_dir(seed: int) -> str:
    src = base_dir()

    def build(d: str) -> None:
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        try:
            from make_scale_data import OFF, _vowel_subst
        finally:
            sys.path.pop(0)
        docs = pq.read_table(os.path.join(src, "documents.parquet")).to_pandas()
        emb = pq.read_table(os.path.join(src, "embeddings.parquet"))
        doc_parts, emb_parts = [], []
        for i in range(REPLICA_COPIES):
            d_i = docs.assign(doc_id=docs["doc_id"] + i * OFF["doc_id"])
            if i:
                frm, to = _vowel_subst(i)
                d_i["text"] = d_i["text"].str.translate(str.maketrans(frm, to))
            doc_parts.append(pa.Table.from_pandas(d_i, preserve_index=False))
            emb_parts.append(emb.set_column(
                0, "vec_id", pc.add(emb.column("vec_id"), i * OFF["vec_id"])
            ))
        rng = np.random.default_rng(seed)
        for name, parts in (("documents", doc_parts), ("embeddings", emb_parts)):
            full = pa.concat_tables(parts)
            full = full.take(rng.permutation(full.num_rows))
            pq.write_table(full.replace_schema_metadata(None), os.path.join(d, f"{name}.parquet"))

    return _cached(
        os.path.join(DATA_DIR, f"corpus{REPLICA_COPIES}x-seed{seed}"), CORPUS_TABLES, build
    )


# ---------------------------------------------------------------------------
# pandas_oneshot frames
# ---------------------------------------------------------------------------

FRAME_SIZES = (1_000, 10_000, 100_000)


def titanic_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """A titanic-shaped frame (the reference test suite's fixture
    schema): nulls in ``age`` and ``cabin``, mixed string columns."""
    first = np.array(["Owen", "John", "Laina", "Lily", "William", "Anna", "Karl", "Mary"])
    last = np.array(["Braund", "Cumings", "Heikkinen", "Futrelle", "Allen", "Moran", "Nasser"])
    age = np.round(rng.uniform(0.5, 80.0, n), 1)
    age[rng.random(n) < 0.2] = np.nan
    cabin = np.array([f"C{k}" for k in rng.integers(1, 150, n)], dtype=object)
    cabin[rng.random(n) < 0.7] = None
    return pd.DataFrame({
        "passenger_id": np.arange(1, n + 1, dtype=np.int64),
        "survived": rng.integers(0, 2, n).astype(np.int64),
        "p_class": rng.integers(1, 4, n).astype(np.int64),
        "name": [f"{a}, Mr. {b}" for a, b in zip(rng.choice(last, n), rng.choice(first, n))],
        "sex": rng.choice(["male", "female"], n),
        "age": age,
        "sib_sp": rng.integers(0, 5, n).astype(np.int64),
        "parch": rng.integers(0, 4, n).astype(np.int64),
        "ticket": [f"A/{k}" for k in rng.integers(10000, 99999, n)],
        "fare": np.round(rng.uniform(5.0, 260.0, n), 4),
        "cabin": cabin,
        "embarked": rng.choice(["S", "C", "Q"], n),
    })

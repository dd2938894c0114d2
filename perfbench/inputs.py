"""Seeded inputs, cached per (workload, size, seed, generator version).

`fixtures.transcripts.ensure_fixtures` keys its directory by scale factor
only (every seed would silently get the seed-42 data), and `data/bench/`
belongs to `bench.py`, so the benchmark keeps its own cache.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from openlogparse_spark.fixtures.transcripts import (
    FIXTURE_VERSION, generate_dims, generate_transcripts)

from perfbench.common import CACHE

# bump when a generator below changes its output
NEAR_DUP_VERSION = 1


def _cached(workload: str, size, seed: int, version, build) -> str:
    d = os.path.join(CACHE, f"{workload}-n{size}-s{seed}-v{version}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def _to_parquet(df: pd.DataFrame, path: str) -> None:
    df = df.copy()
    for c in df.columns:      # Spark cannot read TIMESTAMP(NANOS)
        if str(df[c].dtype).startswith("datetime64[ns"):
            df[c] = df[c].astype("datetime64[us]")
    df.to_parquet(path, index=False, row_group_size=65536)


def _write_dims(d: str) -> None:
    for name, df in generate_dims().items():
        _to_parquet(df, os.path.join(d, f"{name}.parquet"))


def transcripts(workload: str, n_rows: int, seed: int) -> str:
    """Raw transcripts (hot conversation, 0.5% corrupt rows, split row
    pieces, shuffled order) plus the dims, laid out like the fixtures."""
    def build(d):
        out = generate_transcripts(n_rows, seed)
        _to_parquet(out["transcripts"], os.path.join(d, "transcripts.parquet"))
        _write_dims(d)
    return _cached(workload, n_rows, seed, FIXTURE_VERSION, build)


def stream_shards(workload: str, n_rows: int, seed: int, n_shards: int) -> str:
    """The logical (pre-framed) turns in `ts` order, cut into `n_shards`
    equal files under `shards/`: log segments in arrival order."""
    def build(d):
        logical = generate_transcripts(n_rows, seed)["transcripts_logical"]
        logical = logical.sort_values(["ts", "conv_id", "turn_idx"], kind="stable")
        os.makedirs(os.path.join(d, "shards"))
        for i, part in enumerate(np.array_split(logical, n_shards)):
            _to_parquet(part, os.path.join(d, "shards", f"part-{i:05d}.parquet"))
        _write_dims(d)
    return _cached(workload, n_rows, seed, f"{FIXTURE_VERSION}-k{n_shards}", build)


BOILERPLATE_WORDS = 48


def near_dup_corpus(n_docs: int, n_vecs: int, seed: int) -> str:
    """Documents and vectors with planted near-duplicates.

    documents: Zipf-distributed words; 8% are copies of an earlier document
    with 4% of the words replaced (3-shingle Jaccard ~0.8); 3% share one
    48-word boilerplate with a short unique tail (one hot LSH/simhash bucket).
    embeddings: 32-d Gaussian; 10% are a copy of an earlier vector plus 0.3x
    noise (cosine ~0.95). `planted.json` lists the planted pairs.
    """
    def build(d):
        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = np.array(["".join(rng.choice(letters, rng.integers(3, 9)))
                          for _ in range(4000)])
        p = 1.0 / np.arange(1, len(vocab) + 1)
        p /= p.sum()
        boiler = list(rng.choice(vocab, BOILERPLATE_WORDS, p=p))
        docs, doc_pairs = [], []
        for i in range(n_docs):
            r = rng.random()
            if r < 0.08 and i > 0:
                src = int(rng.integers(0, i))
                words = docs[src].split(" ")
                edit = rng.random(len(words)) < 0.04
                for k in np.flatnonzero(edit):
                    words[k] = str(rng.choice(vocab, p=p))
                doc_pairs.append([src, i])
            elif r < 0.11:
                words = boiler + list(rng.choice(vocab, 8))
            else:
                words = list(rng.choice(vocab, int(rng.integers(30, 80)), p=p))
            docs.append(" ".join(words))
        pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": docs}) \
            .to_parquet(os.path.join(d, "documents.parquet"), index=False)

        vecs = rng.standard_normal((n_vecs, 32)).astype(np.float32)
        vec_pairs = []
        for i in range(1, n_vecs):
            if rng.random() < 0.10:
                src = int(rng.integers(0, i))
                noise = rng.standard_normal(32).astype(np.float32)
                noise *= 0.3 * np.linalg.norm(vecs[src]) / np.linalg.norm(noise)
                vecs[i] = vecs[src] + noise
                vec_pairs.append([src, i])
        pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64),
                      "embedding": list(vecs)}) \
            .to_parquet(os.path.join(d, "embeddings.parquet"), index=False)
        with open(os.path.join(d, "planted.json"), "w") as f:
            json.dump({"doc_pairs": doc_pairs, "vec_pairs": vec_pairs}, f)
    return _cached("near_dup", f"{n_docs}x{n_vecs}", seed, NEAR_DUP_VERSION, build)

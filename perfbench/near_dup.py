"""near_dup: the five near-duplicate operators of `functions/` on a seeded
corpus with planted edited copies, one boilerplate cluster (a hot LSH /
simhash bucket) and vectors with planted neighbours.

The pipeline workloads bypass `functions/`, and this workload bypasses the
pipeline; the operators' kernels are what it measures.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import time

import numpy as np
import pandas as pd

from perfbench import oracle
from perfbench.common import RssSampler, Tally, job_group, more_passes, tagged_pass
from perfbench.inputs import near_dup_corpus

SIZES = {"full": (600, 800), "tiny": (300, 400)}
JACCARD_T, MINHASH_T, SIMHASH_H, COSINE_T, TOPK = 0.2, 0.5, 8, 0.8, 5
N_QUERIES = 50
# share of the planted pairs each approximate operator must find
MIN_RECALL = 0.9
PLANTED_MIN_JACCARD = 0.7


def make_inputs(seed: int, size: str) -> dict:
    n_docs, n_vecs = SIZES[size]
    d = near_dup_corpus(n_docs, n_vecs, seed)
    with open(os.path.join(d, "planted.json")) as f:
        planted = json.load(f)
    emb = pd.read_parquet(os.path.join(d, "embeddings.parquet"))
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    jaccard = oracle.jaccard_expected(os.path.join(d, "documents.parquet"))
    return {
        "dir": d,
        # an edited copy of a short document can fall below the operators'
        # thresholds; recall counts the planted pairs that are near-duplicates
        "doc_pairs": {tuple(p) for p in planted["doc_pairs"]
                      if jaccard.get(tuple(p), 0.0) >= PLANTED_MIN_JACCARD},
        "vec_pairs": {tuple(p) for p in planted["vec_pairs"]},
        # queries: planted copies, each expected to find its source
        "queries": {b: a for a, b in planted["vec_pairs"][:N_QUERIES]},
        "unit_vecs": vecs,
        "jaccard": jaccard,
        "rows": n_docs + n_vecs,
    }


def _operators(spark, inp: dict):
    from pyspark.sql import functions as F

    from openlogparse_spark.functions.dedup import (
        jaccard_pairs, minhash_lsh_pairs, simhash_near_pairs)
    from openlogparse_spark.functions.similarity import (
        cosine_near_pairs, lsh_cosine_topk)

    docs = spark.read.parquet(os.path.join(inp["dir"], "documents.parquet"))
    emb = spark.read.parquet(os.path.join(inp["dir"], "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id").isin(list(inp["queries"])))
    return {
        "jaccard_pairs": lambda: jaccard_pairs(docs, n=3, threshold=JACCARD_T),
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, threshold=MINHASH_T),
        "simhash_near_pairs": lambda: simhash_near_pairs(docs, max_hamming=SIMHASH_H),
        "cosine_near_pairs_lsh": lambda: cosine_near_pairs(
            emb, threshold=COSINE_T, method="lsh"),
        "lsh_cosine_topk": lambda: lsh_cosine_topk(emb, queries, k=TOPK),
    }


def _recall(found: set, planted: set) -> float:
    return len(found & planted) / len(planted) if planted else 1.0


def check(name: str, pdf: pd.DataFrame, inp: dict) -> tuple[float, list[str]]:
    """(recall of the planted pairs, failures) for one operator's output."""
    bad = []
    if name == "lsh_cosine_topk":
        hits = {(int(q), int(n)) for q, n in zip(pdf["query_id"], pdf["neighbor_id"])}
        want = {(q, src) for q, src in inp["queries"].items()}
        rec = _recall(hits, want)
        if (pdf["rank"] > TOPK).any():
            bad.append("lsh_cosine_topk: rank beyond k")
        v = inp["unit_vecs"]
        exact = np.einsum("ij,ij->i", v[pdf["query_id"]], v[pdf["neighbor_id"]])
        if len(pdf) and np.abs(exact - pdf["score"]).max() > 1e-3:
            bad.append("lsh_cosine_topk: score is not the exact cosine")
    else:
        pairs = {(int(a), int(b)) for a, b in zip(pdf["id_a"], pdf["id_b"])}
        planted = inp["vec_pairs"] if name == "cosine_near_pairs_lsh" else inp["doc_pairs"]
        # planted pairs are (source, copy) with source < copy, like id_a < id_b
        rec = _recall(pairs, planted)
        if name == "jaccard_pairs":
            exp = inp["jaccard"]
            got = {(int(a), int(b)): j
                   for a, b, j in zip(pdf["id_a"], pdf["id_b"], pdf["jaccard"])}
            if got.keys() != exp.keys() or any(
                    abs(got[k] - exp[k]) > 1e-6 for k in exp):
                bad.append(f"jaccard_pairs: {len(got)} pairs, DuckDB twin {len(exp)}")
        elif name == "minhash_lsh_pairs" and (pdf["est_jaccard"] < MINHASH_T).any():
            bad.append("minhash_lsh_pairs: pair below threshold")
        elif name == "simhash_near_pairs" and (pdf["hamming"] > SIMHASH_H).any():
            bad.append("simhash_near_pairs: pair beyond max_hamming")
        elif name == "cosine_near_pairs_lsh":
            v = inp["unit_vecs"]
            exact = np.einsum("ij,ij->i", v[pdf["id_a"]], v[pdf["id_b"]])
            if len(pdf) and (exact < COSINE_T - 1e-4).any():
                bad.append("cosine_near_pairs: pair below threshold")
    if name != "jaccard_pairs" and rec < MIN_RECALL:
        bad.append(f"{name}: recall {rec:.3f} < {MIN_RECALL}")
    return rec, bad


def _pass(spark, inp: dict, groups: bool) -> dict:
    """One pass over the five operators; per operator its wall (result
    collected), its output and, when `groups`, its own job group."""
    out = {}
    gc.collect()
    for name, op in _operators(spark, inp).items():
        t0 = time.perf_counter()
        if groups:
            with job_group(spark, f"functions.{name}"):
                pdf = op().toPandas()
        else:
            pdf = op().toPandas()
        out[name] = (time.perf_counter() - t0, pdf)
    return out


def _gated_pass(spark, inp: dict, tally: Tally, defect: bool, rss: RssSampler | None,
                groups: bool = False) -> tuple[float, dict, dict] | None:
    """(pass wall, operator outputs, recall per operator) of one checked
    pass; None when it raised."""
    t0 = time.perf_counter()
    with rss.measuring() if rss else contextlib.nullcontext():
        out = tally.attempt(_pass, spark, inp, groups)
    if out is None:
        return None
    wall = time.perf_counter() - t0
    if defect:
        jac = out["jaccard_pairs"]
        out["jaccard_pairs"] = (jac[0], jac[1].iloc[1:])
    recalls = {}
    for name, (_, pdf) in out.items():
        recalls[name], bad = check(name, pdf, inp)
        tally.record(bad)
    return wall, out, recalls


def _traced_pass(spark, inp: dict, tally: Tally,
                 defect: bool) -> tuple[float, dict, dict] | None:
    """(pass wall, layer walls, layer extras) of one checked pass with each
    operator under its own job group, tagged as the traced pass."""
    with tagged_pass(spark, "traced"):
        traced = _gated_pass(spark, inp, tally, defect, None, groups=True)
    if traced is None:
        return None
    wall, out, recalls = traced
    walls = {f"functions.{n}": w for n, (w, _) in out.items()}
    extras = {}
    for n, (_, pdf) in out.items():
        extras[f"functions.{n}.pairs"] = len(pdf)
        extras[f"functions.{n}.recall"] = recalls[n]
    return wall, walls, extras


def trace_along(spark, inp: dict, res: dict, defect: bool) -> None:
    """A warm-up pass, then the traced pass of the five operators, added to
    another workload's traced run `res` (its tally, layer walls and extras):
    how the operators are traced when near_dup is not run on its own."""
    _gated_pass(spark, inp, res["tally"], defect, None)
    traced = _traced_pass(spark, inp, res["tally"], defect)
    if traced:
        res.setdefault("walls", {}).update(traced[1])
        res.setdefault("extras", {}).update(traced[2])


def run(spark, inp: dict, work: str, seconds: float, trace: bool,
        defect: bool, rss: RssSampler) -> dict:
    tally = Tally()
    res = {"tally": tally, "warm": [], "lags": []}
    cold = _gated_pass(spark, inp, tally, defect, rss)
    if cold:
        res["cold"] = cold[0]
    if trace:
        warm = _gated_pass(spark, inp, tally, defect, rss)
        if warm:
            res["warm"].append(warm[0])
        traced = _traced_pass(spark, inp, tally, defect)
        if traced:
            res["traced_s"], res["walls"], res["extras"] = traced
        return res
    start, passes = time.perf_counter(), 0
    while more_passes(start, passes, seconds):
        passes += 1
        warm = _gated_pass(spark, inp, tally, defect, rss)
        if warm:
            res["warm"].append(warm[0])
            res["lags"].extend(w for w, _ in warm[1].values())
    return res

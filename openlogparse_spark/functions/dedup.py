"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (the point of each variant at 100 TB):
  - exact: one hash-groupBy; map-side combine makes the shuffle carry one row
    per distinct hash. O(n) scan, tiny shuffle.
  - n-gram Jaccard: exact pairwise similarity but only across pairs sharing a
    shingle (the shingle-join prunes the n² space). Fine for ≤ millions of
    docs per shingle bucket; superseded by MinHash at web scale.
  - MinHash+LSH: constant-size signature (k mins) per doc, banded into b
    buckets; candidate pairs only within equal (band, band_hash) — the
    standard web-dedup path (Broder '97; Leskovec et al., MMDS ch.3). All
    hashing via xxhash64 JVM-side; no UDF.
  - SimHash: 64-bit near-dup fingerprint (Charikar '02); Hamming-adjacent
    fingerprints are candidates. Bit arithmetic via bitwise aggregates.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openlogparse_spark.functions.cache import release_on_gc
from openlogparse_spark.functions.pairs import (
    id_index, log_route, pair_kernel, positions, upper_triangle, use_kernel)

# shuffle exchanges only: "Exchange hashpartitioning(...)", "Exchange
# rangepartitioning(...)", "Exchange RoundRobinPartitioning(...)",
# "Exchange SinglePartition" — but NOT BroadcastExchange, whose presence
# says nothing about the width of the probe side (a single-file scan joined
# to a broadcast dim is still one partition)
_SHUFFLE_EXCHANGE = re.compile(r"(?<!Broadcast)Exchange")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: per duplicate group keep min(id).

    Returns (id, fp, keep_id, is_dup)."""
    withfp = df.select(id_col, F.md5(F.col(text_col)).alias("fp"))
    keep = withfp.groupBy("fp").agg(F.min(id_col).alias("keep_id"))
    return (
        withfp.join(keep, "fp")
        .select(
            id_col, "fp", "keep_id",
            (F.col(id_col) != F.col("keep_id")).alias("is_dup"),
        )
    )


def _norm(text_col: str) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def _widen(df: DataFrame) -> DataFrame:
    """Spread expansion-heavy ops across the cluster when the input arrives
    in too few splits (a 10 MB parquet file is ONE scan task, so the 30x
    shingle/token explode would run single-threaded). The tiny pre-explode
    shuffle is orders cheaper than serializing the expansion; inputs that
    already have enough splits pass through untouched.

    The partition-count probe (.rdd) runs ONLY on shuffle-free plans: under
    AQE, DataFrame.rdd materializes the adaptive plan — on a plan with
    exchanges that EXECUTES the upstream shuffle stages (see route/router
    auto-reshuffle for the measured cost). A plan that already shuffles is
    at least as wide as its last exchange and needs no widening."""
    plan = df._jdf.queryExecution().sparkPlan().toString()
    if _SHUFFLE_EXCHANGE.search(plan):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def _cheap_count(df: DataFrame) -> int | None:
    """Row count IFF the plan is a bare scan (± filter/project): no shuffle,
    no generate, no join — then count() is one cheap column-less pass (and
    often footer-only). On a derived lineage return None: an eager count
    would execute the whole upstream plan outside any cache (the round-3
    advice trap), so callers must probe a persisted derivative instead."""
    plan = df._jdf.queryExecution().sparkPlan().toString()
    if _SHUFFLE_EXCHANGE.search(plan) or "Generate" in plan or "Join" in plan:
        return None
    return df.count()


def _shingle_sets(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, sh_arr): distinct word n-gram shingles per document as an array.

    Two bound stages on purpose: `toks` must be a REAL column before the gram
    lambda slices it — a captured expression is inlined and re-evaluated per
    gram position (the split+regex would run ~n_tokens times per doc; no CSE
    through transform lambdas)."""
    with_toks = df.select(
        F.col(id_col).alias("id"), F.split(_norm(text_col), " ").alias("__toks"))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("__toks") - n, F.lit(0))),
        lambda i: F.array_join(F.slice(F.col("__toks"), i + 1, n), " "),
    )
    return with_toks.select(
        "id",
        F.filter(F.array_distinct(grams), lambda s: F.length(s) > 0).alias("sh_arr"),
    )


def shingles(df: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    explode_outer, NOT explode: InferFiltersFromGenerate adds a
    size(child)>0 filter under a non-outer Generate, and predicate pushdown
    then drags the ENTIRE shingle computation below the _widen exchange into
    the (single) scan task — the expensive generator child runs twice, once
    serially (measured ~4s serial at sf0.1 regardless of core count). The
    rule skips outer generates; dropping the empty-array NULL row afterwards
    is the same semantics at explode cost."""
    return _shingle_sets(df, n, text_col, id_col).select(
        "id", F.explode_outer("sh_arr").alias("shingle")
    ).filter(F.col("shingle").isNotNull())


# above this many over-cap shingles the literal array_except plan would blow
# up the expression tree; fall back to the anti-join + window plan instead
_HOT_SHINGLE_LITERAL_LIMIT = 1024

# collect + broadcast bytes per document of the jaccard_pairs inverted-index
# kernel: ~52 distinct 3-word shingles per fixture document, each collected
# as an Arrow (id, ~16-char shingle) row (~1.5 KB/doc) and broadcast as two
# int32 CSR entries (~0.4 KB/doc)
_JACCARD_BYTES_PER_DOC = 2_048


def _jaccard_index_pairs(sets: DataFrame, threshold: float,
                         max_shingle_df: int | None) -> DataFrame:
    """Exact jaccard pairs via a broadcast CSR inverted index.

    Replaces the shingle self-join + pair aggregation (measured at sf1.0:
    127M joined rows into a ~40M-group hash aggregate, 10-20 s) with: one
    collect of the factorized (doc, shingle) incidence (2.6M rows, ~40 MB),
    and a kernel where each task walks its documents' posting lists —
    Σ df(s)²/2 integer appends, the same asymptotic work as the join, at
    numpy speed and with NO pair shuffle at all (only above-threshold
    survivors leave the kernel). The df cap drops over-cap shingles from
    every document before sizes are taken — byte-identical semantics to the
    array_except branch. The kernel emits integer (n_inter, sz_a, sz_b) with
    a conservative raw-ratio margin; the exact round(·,6) >= threshold
    filter runs JVM-side, so the output is bit-identical to the join plan."""
    import logging

    import numpy as np
    import pyarrow.compute as pc

    inc = sets.select("id", F.explode_outer("sh_arr").alias("shingle")).toArrow()
    ids = id_index(inc.column("id"))
    codes = inc.column("shingle").combine_chunks().dictionary_encode()
    s = np.asarray(pc.fill_null(codes.indices, -1), dtype=np.int64)
    d = positions(ids, inc.column("id"))
    # docs with empty sets surface as a NULL shingle row — they cannot pair
    ok = (s >= 0) & (d >= 0)
    d, s = d[ok], s[ok]
    n_sh = len(codes.dictionary)
    if max_shingle_df is not None and n_sh:
        hot = np.bincount(s, minlength=n_sh) > max_shingle_df
        if hot.any():
            logging.getLogger(__name__).warning(
                "jaccard_pairs: df cap %d drops %d distinct shingles",
                max_shingle_df, int(hot.sum()))
            keep = ~hot[s]
            d, s = d[keep], s[keep]
    n_docs = len(ids)
    sizes = np.bincount(d, minlength=n_docs).astype(np.int64)
    # postings: for each shingle, ascending doc positions
    po = np.lexsort((d, s))
    post_docs = d[po].astype(np.int32)
    post_off = np.concatenate(([0], np.cumsum(np.bincount(s[po], minlength=n_sh)))).astype(np.int64)
    # doc -> its shingle ids
    do = np.argsort(d, kind="stable")
    doc_sh = s[do].astype(np.int32)
    doc_off = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
    margin = threshold - 1e-6   # round(x,6) moves x by <= 5e-7 + ulp

    def kernel(batches, idx):
        ids_s, sz, pdocs, poff, dsh, doff = idx
        for rb in batches:
            for i in rb.column(0).to_numpy():
                lo, hi = doff[i], doff[i + 1]
                if hi == lo:
                    continue
                parts = []
                for sh_id in dsh[lo:hi]:
                    seg = pdocs[poff[sh_id]:poff[sh_id + 1]]
                    # only partners j > i (each pair counted once, by its
                    # smaller-id side)
                    k = np.searchsorted(seg, i, side="right")
                    if k < len(seg):
                        parts.append(seg[k:])
                if not parts:
                    continue
                u, c = np.unique(np.concatenate(parts), return_counts=True)
                keep = c / (sz[i] + sz[u] - c) >= margin
                if keep.any():
                    u, c = u[keep], c[keep]
                    yield (ids_s, np.full(len(u), i), u, c,
                           np.full(len(u), sz[i]), sz[u])

    return pair_kernel(
        sets.sparkSession, n_docs, kernel, sets.schema["id"].dataType,
        "n_inter long, sz_a long, sz_b long",
        payload=(ids, sizes, post_docs, post_off, doc_sh, doc_off),
        finish=lambda cand: cand.withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"))


def jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.8,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_shingle_df: int | None = 10_000) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Shape (one shuffle): per-doc shingle sets are built as arrays (set size
    comes free, no separate size aggregation), exploded once, self-joined on
    shingle with both sizes carried through the join, then one groupBy counts
    the intersection — no post-join size lookups.

    `max_shingle_df` is the web-scale guard rail: a shingle appearing in d
    documents contributes d·(d-1)/2 join pairs, so one boilerplate phrase in
    10⁶ docs is a 5·10¹¹-row blowup. With the cap set, shingles with document
    frequency > cap are dropped from EVERY document's set before sizes are
    taken (jaccard stays a true Jaccard over the capped shingle space — an
    approximation of the uncapped value, biased only for pairs whose overlap
    hides in ubiquitous shingles). SAFE BY DEFAULT: the cap defaults to 10k —
    a no-op on any corpus where exact pairwise Jaccard is a sane choice, a
    blowup guard everywhere else; pass None for the exact/uncapped semantics,
    or use minhash_lsh_pairs at web scale.

    Cap cost discipline: over-cap shingles are found with ONE eager
    aggregate over the persisted shingle sets (the count of dropped shingles
    is logged). The common case — few boilerplate shingles — then removes
    them via array_except with a LITERAL hot list, so the main self-join
    plan is byte-identical in shape to the uncapped one (zero extra
    shuffles; a df-table join + re-size window here measured 8x wall at
    sf0.1). Only a pathological corpus (> _HOT_SHINGLE_LITERAL_LIMIT hot
    shingles) pays for the join+window plan, which is correct at any
    hot-list size.

    Route: a capped build on a bare scan whose inverted index fits
    pairs.KERNEL_BUDGET_BYTES runs the broadcast kernel of
    _jaccard_index_pairs instead of the self-join (same rows)."""
    import logging

    # document frequency is bounded by the document count, so the cap cannot
    # bind on a corpus with <= cap documents. Decide BEFORE building plans
    # when the input is a bare scan (one cheap column-less count): the
    # common small-corpus call then runs zero probe jobs and stays as lazy
    # as the uncapped plan. Derived inputs fall through to a probe on the
    # persisted sets below (one job that doubles as the cache warm-up),
    # never an eager count of the raw lineage.
    n_docs = _cheap_count(df) if max_shingle_df is not None else None
    if n_docs is not None and n_docs <= max_shingle_df:
        max_shingle_df = None
    sets = _shingle_sets(_widen(df), n, text_col, id_col)
    # small/medium corpus with a knowable size: broadcast inverted-index
    # kernel — no self-join, no pair shuffle, no probe job, no persist.
    # Only capped builds on bare scans know their size at build time; the
    # uncapped call keeps its fully-lazy join plan (pinned by
    # test_jaccard_probe_goes_through_the_cache).
    est = None if n_docs is None else n_docs * _JACCARD_BYTES_PER_DOC
    if use_kernel("jaccard_pairs", est,
                  "uncapped build stays lazy" if max_shingle_df is None
                  else "derived input: size unknown without an eager pass"):
        return _jaccard_index_pairs(sets, threshold, max_shingle_df)
    # persist: BOTH sides of the self-join (and the hot-shingle probe) read
    # this subtree — without it the whole normalize+shingle expansion runs
    # per consumer; measured 10x wall at sf0.1. Keep a handle on the
    # persisted plan: unpersist() matches plans by sameResult, so a later
    # rebinding of `sets` (the literal hot-list branch) must not be what we
    # hand to release_on_gc.
    sets = persisted = sets.persist()
    heavy_cap = False
    if (max_shingle_df is not None and n_docs is None
            and persisted.count() <= max_shingle_df):
        max_shingle_df = None
    if max_shingle_df is not None:
        log = logging.getLogger(__name__)
        hot_rows = (
            sets.select(F.explode_outer("sh_arr").alias("shingle"))
            .filter(F.col("shingle").isNotNull())
            .groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
            .limit(_HOT_SHINGLE_LITERAL_LIMIT + 1)
            .collect()
        )
        if not hot_rows:
            pass   # cap never binds: the exact plan, untouched
        elif len(hot_rows) <= _HOT_SHINGLE_LITERAL_LIMIT:
            hot = [r["shingle"] for r in hot_rows]
            log.warning("jaccard_pairs: df cap %d drops %d distinct shingles",
                        max_shingle_df, len(hot))
            sets = sets.withColumn(
                "sh_arr",
                F.array_except("sh_arr", F.array(*[F.lit(s) for s in hot])))
        else:
            log.warning(
                "jaccard_pairs: df cap %d drops > %d distinct shingles — "
                "using the join-based cap plan", max_shingle_df,
                _HOT_SHINGLE_LITERAL_LIMIT)
            heavy_cap = True
    # explode_outer + null-drop: see shingles() — a plain explode's inferred
    # size()>0 filter would re-run the whole shingle build serially below
    # the widen exchange
    sh = sets.select("id", F.size("sh_arr").alias("sz"),
                     F.explode_outer("sh_arr").alias("shingle")
                     ).filter(F.col("shingle").isNotNull())
    if heavy_cap:
        dfreq = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
                 .filter(F.col("df") <= max_shingle_df))
        capped = sh.join(dfreq.select("shingle"), "shingle")
        w_sz = Window.partitionBy("id")
        sh = capped.withColumn("sz", F.count(F.lit(1)).over(w_sz))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # cache lifetime = result lifetime (long-lived drivers would otherwise
    # leak one cached subtree per invocation); see functions/cache.py.
    # `persisted`, not `sets`: the hot-list branch rebinds `sets` to a
    # derived plan that unpersist() would no-op on.
    return release_on_gc(out, persisted)


def dup_components(pairs: DataFrame, all_ids: DataFrame | None = None,
                   id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs: (id, component) with
    component = min doc id reachable — the "keep one per duplicate cluster"
    step a training-data dedup pipeline runs AFTER pair generation (any of
    exact/jaccard/minhash/simhash/cosine pairs feed it; transitive closure
    matters because near-dup is not transitive: A~B, B~C chains must land in
    one cluster).

    Distributed shape: iterative min-label propagation with POINTER JUMPING
    (each round: c(u) <- min over self+neighbors of c, then c(u) <- c(c(u))),
    the Hash-to-Min style O(log n)-round scheme (Rastogi et al. 2013) —
    without the jump a k-long chain needs k rounds. Every round is two joins
    on the PAIR set (|pairs| << corpus at any sane threshold). Each round's
    result is localCheckpoint'ed: the round plan references its predecessor
    ~3x, so without LINEAGE TRUNCATION the logical plan grows exponentially
    and Catalyst re-analysis dominates (measured: a 21-node chain took 212s
    un-truncated, <10s truncated — caching alone does not cap plan growth).
    On a cluster, swap localCheckpoint for reliable checkpoint() if executor
    loss during the loop must be survivable. Convergence is detected via
    sum(c), which strictly decreases iff any label changed (labels are
    monotone non-increasing), so the driver-side loop runs one tiny agg per
    round — no collect of node data. An iterative algorithm needs the driver
    loop; that is the one place SURVEY §2 allows it.

    `all_ids` (a one-column DataFrame of doc ids): include singleton
    documents (no pairs) as their own component — the full-corpus contract a
    downstream keep-filter wants."""
    edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
             .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))))
    nodes = edges.select("u")
    if all_ids is not None:
        nodes = nodes.union(all_ids.toDF("u"))
    edges = edges.localCheckpoint()
    labels = nodes.distinct().select("u", F.col("u").alias("c")).localCheckpoint()
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        # neighbor min: for v, the labels of every neighbor u (edges are
        # symmetric, so one direction of join covers both)
        nbr = edges.join(labels, "u").select(F.col("v").alias("u"), "c")
        # checkpointed: cand feeds both pointer-jump sides below
        cand = (labels.union(nbr).groupBy("u").agg(F.min("c").alias("c"))
                .localCheckpoint())
        # pointer jump: follow the label's own label one hop (c is always a
        # node id, so the self-join lookup is total; left join is belt+braces)
        lut = cand.select(F.col("u").alias("c"), F.col("c").alias("cc"))
        labels = (cand.join(lut, "c", "left")
                  .select("u", F.least("c", F.coalesce("cc", "c")).alias("c"))
                  .localCheckpoint())
        # superseded rounds' checkpoint caches are GC-swept by the
        # ContextCleaner once these rebindings drop the last reference
        cur = labels.agg(F.sum("c").alias("s")).collect()[0]["s"]
        if prev_sum is not None and cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # a non-converged labeling is WRONG (some chain longer than the
        # round budget reaches) and would otherwise be indistinguishable
        # from a converged one — surface it (ADVICE r4)
        import warnings

        warnings.warn(
            f"dup_components: max_iter={max_iter} exhausted before the "
            "sum(c) fixpoint — component labels may be incomplete; raise "
            "max_iter (pointer jumping needs ~log2(longest chain) rounds)")
    return labels.select(F.col("u").alias("id"), F.col("c").alias("component"))


def minhash_signatures(df: DataFrame, num_hashes: int = 64, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sig array<long>): k independent min-hashes of the shingle set.

    Hash family: xxhash64(seed_i, shingle) — JVM intrinsic, no UDF; one
    explode + one groupBy (map-side combined mins)."""
    sh = shingles(_widen(df), n, text_col, id_col)
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


# below this corpus size WIDE banding wins: at 16 bands the wide explode
# ships 16x(sig 512B + key) per doc — ~9 MB per 1k docs, trivial until the
# corpus reaches the 100k+ regime — while the narrow shape pays two extra
# candidate shuffles (dedup + by-id signature join-backs). Above it the sig
# payload dominates every exchange (1M docs ≈ 8.8 GB wide vs ~0.25 GB
# narrow) and the join-backs touch only surviving candidates.
_NARROW_SHUFFLE_MIN_DOCS = 200_000


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 64, bands: int = 16,
                      n: int = 3, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Candidate near-dup pairs via banded LSH, then verified by estimated
    Jaccard (signature agreement). Returns (id_a, id_b, est_jaccard).

    Two plan shapes, identical answers (pinned by the XXH64 value oracle),
    picked by corpus size at _NARROW_SHUFFLE_MIN_DOCS:

    narrow — the 100 TB shape (same as lsh_cosine_topk): the band explode
    and (band, bh) self-join carry only (id, band, bh); signatures stay in
    the persisted one-row-per-doc table and join back BY ID only for
    surviving candidates' agreement estimate. At 16 bands a wide banding
    ships 16 copies of the 512-byte signature per doc through the explode
    shuffle plus sig_a/sig_b on every candidate row.

    wide — the small-corpus shape: signatures ride the banding explode and
    the single self-join produces (sig_a, sig_b) directly — fewer shuffles,
    and the payload cost is irrelevant below the crossover (bytes math on
    the constant).

    The size comes from a direct count of a bare-scan input (cheap
    column-less pass), or of the persisted signature table for a derived
    input (one job that doubles as the cache warm-up)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, num_hashes, n, text_col, id_col)
    cached: list[DataFrame] = []
    n_docs = _cheap_count(df)
    if n_docs is None:
        sig = sig.persist()
        cached.append(sig)
        n_docs = sig.count()
    narrow = n_docs >= _NARROW_SHUFFLE_MIN_DOCS

    def banded_cols(extra: list[str]) -> DataFrame:
        return sig.select(
            *extra, "id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.col("sig")[b * rows_per_band + r]
                                     for r in range(rows_per_band)]).alias("bh"),
                    )
                    for b in range(bands)
                ])
            ).alias("bb"),
        ).select(*extra, "id", "bb.band", "bb.bh")

    if narrow:
        # both banding sides + both agreement joins read the one-row-per-doc
        # table; persisting it (not the 16x exploded banding) keeps the cache
        # and every shuffle signature-free except the final by-id joins
        if not cached:
            sig = sig.persist()
            cached.append(sig)
        banded = banded_cols([])
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        cand = (
            cand.join(sig.select(F.col("id").alias("id_a"),
                                 F.col("sig").alias("sig_a")), "id_a")
            .join(sig.select(F.col("id").alias("id_b"),
                             F.col("sig").alias("sig_b")), "id_b")
        )
    else:
        # wide: one persisted exploded banding feeds both self-join sides;
        # sigs arrive on the candidate rows, no join-backs, no second dedup
        banded = banded_cols(["sig"]).persist()
        cached.append(banded)
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    est = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                          lambda m: m)) / F.lit(float(num_hashes))
    out = (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return release_on_gc(out, *cached)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document (token-level, unweighted).

    Pure column algebra: per-token xxhash64 → 64 conditional-sum bit votes in
    ONE groupBy (no per-bit explode: a (doc, bit) explode shuffles 64 rows
    per token; 64 agg expressions ship one partial row per doc per partition
    — map-side combined, 64x less shuffle). Sign fold happens after.

    Bit votes are PACKED two per 64-bit aggregate buffer: 32 sum aggregates
    with two 32-bit lanes each (per-doc token cap 2^31, i.e. unbounded in
    practice). Measured across 4 fresh sessions at sf0.1: steady state equal
    to one buffer per bit (~2.0-2.2 s), but the cold pass drops from
    3.5-4.4 s to 2.9-3.1 s — fewer agg buffers generate less codegen for the
    JVM to JIT, which also shrinks the surface for the never-JIT-warms
    sessions of round-4 verdict #2. The bits are pinned by the XXH64 value
    oracle (tests/test_hash_oracle.py)."""
    toks = _widen(df).select(
        F.col(id_col).alias("id"),
        # explode_outer: see shingles() — the inferred size()>0 filter of a
        # plain explode re-runs the normalize+split below the widen exchange
        F.explode_outer(F.split(_norm(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = toks.select("id", F.xxhash64("tok").alias("h"))

    # vote b as a bit POPCOUNT, not a ±1 conditional sum: sum((h>>b)&1)
    # generates branch-free agg code (~25% faster on this 64-buffer agg,
    # which is big enough to strain codegen); the classic ±1 vote sum v
    # relates by v = 2*popcount - n, so "v > 0" below is "2*popcount > n" —
    # bit-exact with the Charikar formulation. shiftright on long is
    # arithmetic, so (h >> 63) & 1 still reads the sign bit correctly.
    def bit(b: int):
        return F.shiftright("h", b).bitwiseAND(F.lit(1))

    # buffer k holds the popcount of bit 2k in its low lane and of bit 2k+1
    # shifted to bit 32; lanes cannot carry into each other below 2^32
    # tokens per doc
    aggs = [F.sum(bit(2 * k) + F.shiftleft(bit(2 * k + 1), 32)).alias(f"s{k}")
            for k in range(32)]

    def v(b: int):
        k, j = divmod(b, 2)
        return (F.shiftrightunsigned(F.col(f"s{k}"), j * 32)
                .bitwiseAND(F.lit((1 << 32) - 1)))

    votes = h.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *aggs)
    # sign fold as a FLAT array + interpreted HOF sum, not a 64-deep nested
    # Add tree: the deep tree costs ~1s of driver-side planning PER
    # INVOCATION (Catalyst walks it every analysis pass) plus a huge
    # first-run codegen compile; the flat form plans in ~0.14s and executes
    # identically (64 interpreted adds × n_docs rows is microseconds).
    terms = F.array(*[
        F.when(F.lit(2) * v(b) > F.col("n"),
               F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
               ).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ])
    sig = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return votes.select("id", sig.alias("simhash"))


# below this corpus size single-chunk blocking wins: per-key random
# collisions grow ~n²/2^w while the multi-index explode cost grows ~n·C(k,2),
# so small corpora are explode-dominated and large ones candidate-dominated.
# Crossover measured at sf0.1 (5k docs, h=8): single-chunk 2.8s vs
# chunk-pair 3.9s; the ~880k single-chunk candidates only overtake the 45-key
# explode past ~20k docs at h=8 (n²/2^7 per chunk vs 45n exploded rows).
_SIMHASH_MULTI_INDEX_MIN_DOCS = 20_000


def _popcount64(x):
    """Vectorized 64-bit popcount (SWAR) for numpy arrays — numpy < 2.0 has
    no bitwise_count. All ops are full-array passes; uint64 wraparound is the
    intended mod-2^64 SWAR arithmetic."""
    import numpy as np

    x = x.astype(np.uint64, copy=True)
    x -= (x >> np.uint64(1)) & np.uint64(0x5555555555555555)
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def _make_simhash_verify_kernel(n_chunks: int, widths: list[int],
                                offsets: list[int], agree_chunks: int,
                                max_hamming: int):
    """Per-partition pairwise Hamming verify over (chunk, cv)-keyed blocks.

    Input rows: (id, simhash, chunk, cv), hash-partitioned so every key's
    rows share a partition. For each key the kernel runs the blockwise
    upper-triangle loop over the bucket's members in id order (the same
    candidate space the old JVM self-join enumerated, at native vector
    speed — guide §4.2) and emits only pairs whose Hamming distance clears
    `max_hamming` AND whose CANONICAL blocking key is this bucket's key. The
    canonical key of a pair is its lexicographically-first agreeing chunk
    (single-chunk mode) or chunk-pair (multi-index mode) — by the pigeonhole
    bound every qualifying pair has one, and exactly one bucket owns it, so
    the global dropDuplicates (a shuffle of EVERY candidate row — ~1.1e9 at
    sf1.0) disappears entirely."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    offs = np.array(offsets, dtype=np.uint64)
    masks = np.array([(1 << w) - 1 for w in widths], dtype=np.uint64)
    bit_cols = np.arange(64, dtype=np.uint64)[None, :]

    def kernel(batches, _):
        parts = list(batches)
        if not parts:
            return
        t = pa.Table.from_batches(parts)
        t = t.take(pc.sort_indices(t, sort_keys=[
            ("chunk", "ascending"), ("cv", "ascending"), ("id", "ascending")]))
        ids = t.column("id").combine_chunks()
        fp = t.column("simhash").to_numpy().view(np.uint64)
        chunk, cv = t.column("chunk").to_numpy(), t.column("cv").to_numpy()
        bounds = np.flatnonzero((np.diff(chunk) != 0) | (np.diff(cv) != 0)) + 1
        for lo, hi in zip(np.concatenate(([0], bounds)),
                          np.concatenate((bounds, [len(fp)]))):
            m = hi - lo
            if m < 2:
                continue
            g = fp[lo:hi]
            kc1, kc2 = (int(chunk[lo]), None) if agree_chunks == 1 \
                else divmod(int(chunk[lo]), n_chunks)
            # Hamming via a ±1 GEMM for all but tiny buckets: unpack each
            # fingerprint to a ±1 float32 row; dot(a,b) = 64 - 2*hamming,
            # integer-valued in fp32 (|sums| <= 64 << 2^24), so the test is
            # EXACT. Measured 46.9 s single-core of SWAR popcount at sf1.0
            # (memory-bound: ~11 full-matrix passes) vs ~15 GFLOP/s BLAS —
            # ~4x less kernel time. Tiny buckets keep the SWAR path (GEMM
            # call overhead dominates below ~64 rows).
            if m >= 64:
                pm1 = np.where(((g[:, None] >> bit_cols) & np.uint64(1)).astype(bool),
                               np.float32(1), np.float32(-1))

                def score(i0, i1):
                    return (64 - pm1[i0:i1] @ pm1[i0 + 1:].T) * 0.5
            else:
                def score(i0, i1):
                    return _popcount64(g[i0:i1, None] ^ g[None, i0 + 1:])
            for gi, gj, ham in upper_triangle(m, score, lambda h: h <= max_hamming):
                x = g[gi] ^ g[gj]
                # canonical check: the pair agrees on this bucket's chunk(s)
                # by construction; it is canonical iff NO chunk before kc1
                # agrees, and (multi-index) no chunk strictly between kc1 and
                # kc2 agrees — i.e. the lexicographically-first agreeing
                # chunk(-pair) is exactly this key. Only chunks < kc2 are
                # ever tested (~half the full agreement matrix).
                keep = np.ones(len(gi), dtype=bool)
                for c in range(kc1 if kc2 is None else kc2):
                    if c != kc1:
                        keep &= ((x >> offs[c]) & masks[c]) != 0
                if keep.any():
                    yield (ids, lo + gi[keep], lo + gj[keep],
                           ham[keep].astype(np.int32))

    return kernel


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidates: block on simhash bit-chunks, verify exact Hamming.
    Returns (id_a, id_b, hamming) with id_a < id_b.

    Pigeonhole recall guarantee: a pair within Hamming distance h differs in
    at most h chunks, so with n_chunks = h + agree_chunks blocks it MUST
    agree on >= agree_chunks of them — blocking is lossless at the requested
    distance.

    agree_chunks=2 is the multi-index refinement (the Gong/Manku style
    generalization): block on every PAIR of chunks jointly. Keys are twice
    as wide — C(h+2, 2) keys/doc of ~2w bits instead of h+1 keys of w bits —
    so random-collision candidates drop by ~2^w while recall stays
    guaranteed by the same pigeonhole argument (sf0.1/h=8: ~880k candidate
    pairs -> ~a few k). agree_chunks=1 is the classic single-chunk blocking
    (coarser keys but (h+2)x fewer exploded rows — faster when the explode
    dominates). The mode is picked by corpus size at the
    _SIMHASH_MULTI_INDEX_MIN_DOCS crossover; a bare-scan input is counted
    directly (cheap column-less pass), a derived input counts the persisted
    fingerprint table (one job that doubles as the cache warm-up) — never
    an eager pass over a derived raw lineage.

    WIDE blocking on purpose (unlike minhash_lsh_pairs' narrow shape): the
    fingerprint is ONE long — 8 bytes riding the chunk explode and the
    candidate rows, ~45 x 8 B/doc worst case. A narrow (id, chunk, cv) shape
    would save those bytes but pay two extra by-id join-back shuffles for
    the Hamming verify; the payload never dominates at any corpus size, so
    wide is the right shape at 100 TB too (contrast: the 512-byte minhash
    signature DOES dominate)."""
    s = simhash(df, text_col, id_col)
    cached: list[DataFrame] = []
    n_docs = _cheap_count(df)
    if n_docs is None:
        s = s.persist()
        cached.append(s)
        n_docs = s.count()
    agree_chunks = 2 if n_docs > _SIMHASH_MULTI_INDEX_MIN_DOCS else 1
    n_chunks = max_hamming + agree_chunks
    base, rem = divmod(64, n_chunks)
    widths = [base + 1 if c < rem else base for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]

    def cv(c):
        return (F.shiftright("simhash", offsets[c])
                .bitwiseAND(F.lit((1 << widths[c]) - 1)))

    if agree_chunks == 2:
        entries = [
            F.struct(
                F.lit(c1 * n_chunks + c2).alias("chunk"),
                (cv(c1).cast("long") * F.lit(1 << widths[c2]).cast("long")
                 + cv(c2).cast("long")).alias("cv"),
            )
            for c1 in range(n_chunks) for c2 in range(c1 + 1, n_chunks)
        ]
    else:
        entries = [
            F.struct(F.lit(c).alias("chunk"), cv(c).cast("long").alias("cv"))
            for c in range(n_chunks)
        ]
    # ONE exchange: hash-partition the exploded blocking rows by key so each
    # bucket's pairwise verify runs in a single task's vectorized kernel.
    # The previous shape — a per-key JVM self-join + a global dropDuplicates
    # over every candidate row — shuffled the full candidate set (measured
    # 1.09e9 joined rows at sf1.0, max bucket 16,500 docs: skewed fingerprint
    # bits make blocking keys collide far above the uniform estimate, and
    # AQE cannot split a single hot key). The kernel does the identical
    # per-bucket O(m²) Hamming work as a blockwise numpy XOR+popcount
    # (guide §4.2: batch-vectorized native code beats row-at-a-time join
    # evaluation ~100x) and its canonical-key emission makes the dedup
    # shuffle unnecessary (each pair emitted by exactly one bucket).
    chunked = s.select(
        "id", "simhash",
        F.explode(F.array(*entries)).alias("ch"),
    ).select("id", "simhash", "ch.chunk", "ch.cv")
    spark = df.sparkSession
    n_part = max(8, spark.sparkContext.defaultParallelism * 2)
    log_route("simhash_near_pairs", "kernel",
              f"agree_chunks={agree_chunks}, hash-partitioned buckets, "
              "nothing collected or broadcast")
    return pair_kernel(
        spark, chunked.repartition(n_part, "chunk", "cv"),
        _make_simhash_verify_kernel(n_chunks, widths, offsets, agree_chunks,
                                    max_hamming),
        s.schema["id"].dataType, "hamming int", cached=cached)

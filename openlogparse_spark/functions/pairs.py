"""Candidate-pair kernels shared by jaccard_pairs, simhash_near_pairs and
cosine_near_pairs(method='lsh').

Each operator keeps its bucketing and its per-block scorer. This module owns
what the three share:
  - the driver-side id index: kernels work on positions, ids of any
    orderable type map back on emission;
  - the kernel-or-join decision: a broadcast kernel runs only when the
    bytes it would collect and broadcast fit KERNEL_BUDGET_BYTES, otherwise
    the operator keeps its partitioned join plan ("To Partition, or Not to
    Partition", SIGMOD 2021; block GEMM is one more join operator, as in the
    ICDE 2023 comparison of matrix-multiply and hash joins). Every route is
    logged at INFO with its reason;
  - the broadcast of a kernel's payload and its release (functions/cache.py);
  - the mapInArrow driver and the Arrow emission of (id_a, id_b, ...) rows,
    with the id type taken from the input schema;
  - the blockwise strict-upper-triangle loop over one bucket.
"""

from __future__ import annotations

import logging

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from openlogparse_spark.functions.cache import release_on_gc

# the one size guard of every broadcast kernel: bytes collected on the
# driver and shipped to each executor
KERNEL_BUDGET_BYTES = 512 << 20

# rows per block of the upper-triangle loop: bounds the block x bucket score
# matrix (1024 x 16.5k uint64 ~ 135 MB on the hottest sf1.0 simhash bucket)
TRIANGLE_BLOCK = 1024

_log = logging.getLogger(__name__)


def log_route(op: str, route: str, why: str) -> None:
    _log.info("%s: %s (%s)", op, route, why)


def use_kernel(op: str, est_bytes: int | None, unknown: str) -> bool:
    """True iff the broadcast kernel should run: its estimated collect +
    broadcast bytes are known and within KERNEL_BUDGET_BYTES. `unknown` is
    the reason logged when the size is not known (est_bytes None)."""
    if est_bytes is None:
        log_route(op, "join plan", unknown)
        return False
    fits = est_bytes <= KERNEL_BUDGET_BYTES
    log_route(op, "kernel" if fits else "join plan",
              f"~{est_bytes / 2**20:.1f} MB to collect and broadcast, "
              f"budget {KERNEL_BUDGET_BYTES / 2**20:.0f} MB")
    return fits


def id_index(ids) -> pa.Array:
    """Sorted distinct non-null ids. Position k stands for index[k], and
    position order is Spark's id order (Arrow sorts strings bytewise, as
    Spark compares them), so i < j  <=>  id_i < id_j."""
    u = pc.unique(pc.drop_null(ids))
    return u.take(pc.sort_indices(u))


def positions(index: pa.Array, ids) -> np.ndarray:
    """Position of each id in `index`; -1 for a null id."""
    return np.asarray(pc.fill_null(pc.index_in(ids, value_set=index), -1),
                      dtype=np.int64)


def upper_triangle(m: int, score, keep):
    """Strict upper-triangle pairs (i < j) of an m-member bucket, one row
    block at a time. score(i0, i1) scores rows i0..i1-1 against columns
    i0+1..m-1; keep(S) masks the hits. Yields (i, j, S at the hits)."""
    for i0 in range(0, m - 1, TRIANGLE_BLOCK):
        i1 = min(i0 + TRIANGLE_BLOCK, m)
        S = score(i0, i1)
        hit = keep(S) & (np.arange(i0 + 1, m)[None, :]
                         > np.arange(i0, i1)[:, None])
        bi, bj = np.nonzero(hit)
        if len(bi):
            yield i0 + bi, i0 + 1 + bj, S[bi, bj]


def _emit(ids: pa.Array, parts: list, names: list[str]) -> pa.RecordBatch:
    a, b, *vals = (np.concatenate(c) for c in zip(*parts))
    return pa.RecordBatch.from_arrays(
        [ids.take(a), ids.take(b), *map(pa.array, vals)], names)


def pair_kernel(spark, units: DataFrame | int, kernel, id_type, values: str,
                payload=None, finish=None, cached=()) -> DataFrame:
    """(id_a, id_b, *values) rows from `kernel` run with mapInArrow.

    `units` feeds the tasks: a DataFrame whose partitions the kernel reads,
    or n for work units 0..n-1 spread over the cluster (broadcast kernels).
    kernel(batches, payload) yields (ids, pos_a, pos_b, *value arrays): ids
    is an Arrow array the positions index, with id_a < id_b. `values` is the
    DDL of the value columns; `id_type` the Spark type of the ids. `payload`
    is broadcast; it and the `cached` frames are released with the result
    that `finish` (default: identity) builds from the kernel rows."""
    bc = spark.sparkContext.broadcast(payload) if payload is not None else None
    if isinstance(units, int):
        par = max(8, spark.sparkContext.defaultParallelism * 2)
        units = spark.range(units).repartition(min(par, max(1, units)))
    names = ["id_a", "id_b"] + [v.split()[0] for v in values.split(",")]
    t = id_type.simpleString()

    def run(batches):
        ids, parts = None, []
        for chunk in kernel(batches, bc.value if bc is not None else None):
            if parts and chunk[0] is not ids:
                yield _emit(ids, parts, names)
                parts = []
            ids = chunk[0]
            parts.append(chunk[1:])
        if parts:
            yield _emit(ids, parts, names)

    out = units.mapInArrow(run, schema=f"id_a {t}, id_b {t}, {values}")
    out = finish(out) if finish else out
    return release_on_gc(out, *cached, *([bc] if bc is not None else []))

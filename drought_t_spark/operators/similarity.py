"""Similarity search over the fixture's (vec_id, embedding) table
(embedding: array<float>).

Brute-force cosine top-k is the exact baseline: one scan, JVM-side
zip_with/aggregate dot products, TakeOrderedAndProject for the top-k —
no shuffle beyond the final k-row reduce. The scale path is
random-hyperplane LSH bucketing (probe only the query's bucket —
candidates shrink by ~2^n_planes) — same hyperplanes both sides,
deterministic from one fixed seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _lit_vec(v) -> str:
    return "array(" + ",".join(f"cast({float(x)!r} as double)" for x in v) + ")"


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity of two array<double> columns (JVM-side)."""
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (s, x) -> s + x)"
    na = f"sqrt(aggregate({a}, cast(0.0 as double), (s, x) -> s + x * x))"
    nb = f"sqrt(aggregate({b}, cast(0.0 as double), (s, x) -> s + x * x))"
    return F.expr(f"({dot}) / nullif(({na}) * ({nb}), 0.0)")


#: the embedding column cast to array<double>
_VEC = "transform(embedding, x -> cast(x as double))"


def cosine_topk(df: DataFrame, query_vec) -> DataFrame:
    """Exact brute-force cosine top-10 vs a constant query vector."""
    q = _lit_vec(query_vec)
    scored = df.select("vec_id", cosine_expr(_VEC, q).alias("score"))
    return scored.orderBy(F.desc("score"), "vec_id").limit(10)


def _hyperplanes(n_planes: int) -> np.ndarray:
    """The seeded plane matrix every bucketing path shares. Generated as
    one (n_planes, 512) row-major draw from seed 42 so a SMALLER
    n_planes yields a prefix of a larger one — kernel and driver-side
    query bucketing stay consistent at any plane count."""
    return np.random.default_rng(42).standard_normal((n_planes, 512))


def _batch_sign_bits(vcol, P: np.ndarray) -> np.ndarray:
    """(n, n_planes) bool sign bits for one Arrow list<double> column:
    zero-copy flatten → one X @ Pᵀ matmul when the batch's dims are
    uniform (the normal case), per-row dots otherwise. Sign convention
    is `dot > 0`, identical to the query-vector bucketing in
    `cosine_topk_lsh`."""
    offs = vcol.offsets.to_numpy()
    vals = vcol.values.to_numpy(zero_copy_only=False)
    n = len(offs) - 1
    lens = np.diff(offs)
    if n and (lens == lens[0]).all():
        d = int(lens[0])
        X = vals[offs[0]: offs[-1]].reshape(n, d)
        return (X @ P[:, :d].T) > 0
    bits = np.zeros((n, len(P)), dtype=bool)
    for i in range(n):
        x = vals[offs[i]: offs[i + 1]]
        bits[i] = (P[:, : len(x)] @ x) > 0
    return bits


def _attach_lsh_bucket(dv: DataFrame, n_planes: int) -> DataFrame:
    """(id, v:array<double>) → (id, v, bucket:long) — the single-key LSH
    bucket as one Arrow matmul + packbits per record batch. n_planes ≤
    63 so the key fits an int64."""
    assert n_planes <= 63, "single-key bucket packs into one int64"
    P = _hyperplanes(n_planes)
    pow2 = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            bits = _batch_sign_bits(rb.column(1), P)
            bucket = (bits.astype(np.uint64) @ pow2).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1), pa.array(bucket, type=pa.int64())],
                names=["id", "v", "bucket"],
            )

    id_t = dv.schema["id"].dataType.simpleString()
    return dv.mapInArrow(kernel, f"id {id_t}, v array<double>, bucket bigint")


def hyperplane_band_rows(dv: DataFrame, n_planes: int, n_bands: int) -> DataFrame:
    """(id, v:array<double>) → (id, band:int, bkey:long) — banded LSH
    keys straight from one Arrow kernel: X @ Pᵀ → sign bits → each
    band's w = n_planes/n_bands bits packed into an int64. Emitting the
    band rows inside the kernel (instead of bucket-then-posexplode)
    keeps the shuffle 3 scalar columns wide and drops the int64
    total-bucket ceiling: n_planes may exceed 64 as long as each BAND
    key fits (w ≤ 63), which is what lets the near-dup path run wide,
    selective keys (e.g. 144 planes / 6 bands of 24 bits)."""
    w = n_planes // n_bands
    assert w * n_bands == n_planes and w <= 63
    P = _hyperplanes(n_planes)
    pow2 = (np.uint64(1) << np.arange(w, dtype=np.uint64))

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            bits = _batch_sign_bits(rb.column(1), P)
            # (n, n_bands) int64 band keys in one reshape + matmul
            keys = (
                bits.reshape(n, n_bands, w).astype(np.uint64) @ pow2
            ).astype(np.int64)
            ids = rb.column(0).take(pa.array(np.repeat(np.arange(n), n_bands)))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(np.tile(np.arange(n_bands, dtype=np.int32), n)),
                    pa.array(keys.ravel(), type=pa.int64()),
                ],
                names=["id", "band", "bkey"],
            )

    id_t = dv.schema["id"].dataType.simpleString()
    return dv.select("id", "v").mapInArrow(
        kernel, f"id {id_t}, band int, bkey bigint"
    )


def cosine_topk_lsh(
    df: DataFrame,
    query_vec,
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH with multi-probe:
    scan buckets within `probe_hamming` sign-bit flips of the query's
    bucket (near neighbors most often differ by exactly one marginal
    hyperplane, so hamming-1 probing multiplies recall for a
    (1+n_planes)/2^n_planes fraction of the data scanned). Recall < 1 by
    design; `cosine_topk` is the exact baseline."""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = _hyperplanes(n_planes)
    qbucket = 0
    for p, plane in enumerate(planes):
        if float(np.dot(q, plane[: len(q)])) > 0:
            qbucket |= 1 << p
    dv = _attach_lsh_bucket(
        df.select(F.col("vec_id").alias("id"), F.expr(_VEC).alias("v")), n_planes,
    ).withColumnRenamed("id", "vec_id")
    near = F.bit_count(
        F.col("bucket").bitwiseXOR(F.lit(qbucket))
    ) <= probe_hamming
    scored = dv.where(near).select(
        "vec_id", cosine_expr("v", _lit_vec(q)).alias("score")
    )
    return scored.orderBy(F.desc("score"), "vec_id").limit(k)


#: IVF coarse cells, and the cells nearest the query that are scanned
_N_CENTROIDS, _N_PROBE = 16, 4


def train_ivf_centroids(df: DataFrame) -> np.ndarray:
    """Spherical k-means coarse centroids (16) for IVF, trained on a
    DETERMINISTIC sample: rows ordered by xxhash64(vec_id) (stable under
    any partitioning), capped at 4096 rows, 5 Lloyd iterations on the
    driver from a seed-42 pick. The collect is bounded by 4096 × dim
    floats (tens of MB); k-means|| inside Spark is the alternative if
    the sample must grow, and the assign/probe expressions downstream
    don't change either way. Centroids are L2-normalized (spherical
    k-means: assignment by max dot product == max cosine)."""
    rows = (
        df.select(F.col("embedding").alias("v"), F.xxhash64("vec_id").alias("h"))
        .orderBy("h")
        .limit(4096)
        .collect()
    )
    X = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(42)
    C = X[rng.choice(len(X), size=min(_N_CENTROIDS, len(X)), replace=False)].copy()
    for _ in range(5):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def _topk_ivf_udf(df, q, cents, k) -> DataFrame:
    """IVF scan with Arrow-batched cell assignment: one NumPy matmul +
    argmax per record batch (closure-captured centroids — Spark ships
    them once per executor, exactly what a broadcast would do for an
    ndarray). The probed-cell filter runs inside the same pass so
    un-probed vectors never cross into the JVM scoring stage."""
    from pyspark.sql.functions import pandas_udf

    probe = set(int(x) for x in np.argsort(-(cents @ q))[:_N_PROBE])
    C = cents.astype(np.float64)

    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.map(np.asarray)).astype(np.float64)
        return pd.Series(np.argmax(X @ C.T, axis=1).astype(np.int32))

    dv = df.select("vec_id", F.expr(_VEC).alias("v")).withColumn("cell", cell_of(F.col("v")))
    cand = dv.where(F.col("cell").isin(list(probe)))
    scored = cand.select("vec_id", cosine_expr("v", _lit_vec(q)).alias("score"))
    return scored.orderBy(F.desc("score"), "vec_id").limit(k)


def cosine_topk_ivf(
    df: DataFrame,
    query_vec,
    k: int = 10,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: vectors are assigned to their nearest
    coarse centroid (spherical-k-means-trained over a deterministic
    sample by default — pass `centroids` to reuse a trained set across
    queries), and only the query's 4 nearest of 16 cells are scanned
    with exact cosine. Candidate count shrinks ~4/16.
    Recall is ~1 for near-duplicate neighbors (they share the query's
    cell) and < 1 by design in the weak-similarity regime —
    `cosine_topk` is the exact baseline, `cosine_topk_lsh` the
    hyperplane alternative."""
    q = np.asarray(query_vec, dtype=np.float64)
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(df)
    )
    if cents.size > 4096:
        # large codebooks: the inlined-literal argmax expression grows
        # as n_centroids × dim and is interpreted per element — switch
        # to the Arrow-batched matmul path (same assignment, closure-
        # broadcast centroids, one BLAS argmax per record batch)
        return _topk_ivf_udf(df, q, cents, k)

    # driver-side probe list: the query's _N_PROBE nearest centroids
    probe = np.argsort(-(cents @ q))[:_N_PROBE].tolist()

    # assignment expression: argmax of centroid dot products. Double
    # let-binding: the cast vector is built once, AND the dot-product
    # array is bound once (array_position + array_max over the same
    # `ds`) — textually repeating {dots} would re-evaluate all
    # n_centroids × dim multiply-adds per row.
    dots = ", ".join(
        "aggregate(zip_with(v, " + _lit_vec(c) + ", (x, y) -> x * y),"
        " cast(0.0 as double), (s, x) -> s + x)"
        for c in cents
    )
    assign = (
        f"transform(array({_VEC}), v -> "
        f"  transform(array(array({dots})), ds -> "
        f"    array_position(ds, array_max(ds))"
        f"  )[0]"
        f")[0]"
    )
    dv = df.select(
        "vec_id", F.expr(_VEC).alias("v"), (F.expr(assign) - 1).cast("int").alias("cell"),
    )
    cand = dv.where(F.col("cell").isin(probe))
    scored = cand.select("vec_id", cosine_expr("v", _lit_vec(q)).alias("score"))
    return scored.orderBy(F.desc("score"), "vec_id").limit(k)

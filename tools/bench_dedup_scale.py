"""Large-n dedup/ANN throughput evidence (BENCH/BASELINE.md §2c).

The funnel designs in operators/dedup.py are plan-audited for scale
(ids-only band shuffles, bucket caps, candidate-driven verify) but the
driver tables top out at 5k docs / 2k vectors — this harness tiles them
DETERMINISTICALLY to ≥1M rows and measures the funnels end to end,
recording the stage selectivities the scale posture claims:

* documents ×mult: replica r keeps the corpus's near-dup structure
  INTACT within the replica (one `translate` substitution applied
  uniformly to every doc of the replica preserves all within-replica
  shingle overlaps exactly) while collapsing cross-replica Jaccard —
  so the expected true-pair count is ~mult × the base corpus's and the
  candidate volume must grow LINEARLY in mult, not quadratically.
* embeddings ×mult: replica r flips a deterministic per-replica sign
  pattern (a diagonal ±1 orthogonal transform — within-replica cosines
  are preserved EXACTLY, cross-replica cosines decorrelate).

Defaults reach 1.0M docs (5000 × 200) and 1.0M vectors (2000 × 500).
The embedding path runs the operator's own defaults (144 planes / 6
bands of 24-bit keys — the r5 Arrow-kernel rework; r4's 64/4 = 16-bit
keys measured 64.7M band candidates for 9.9k true pairs at 1M vectors,
which is what forced the widening). One JSON line on stdout; stderr
carries progress.

Usage:
    python tools/bench_dedup_scale.py [doc_mult] [vec_mult]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from drought_t_spark.operators.dedup import (  # noqa: E402
    embedding_near_dups,
    minhash_lsh_pairs,
)
from drought_t_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Three INDEPENDENT substitution levels over disjoint letter groups,
# indexed by (rep%8, rep//8%8, rep//64%8) — 512 distinct composite maps,
# so NO two replicas share a map (a shared map would leave the two
# replicas near-identical and blow the candidate count superlinear —
# exactly what the first smoke run of this harness measured).
_GROUPS = ["etaoinsr", "dlcumwfg", "ypbvkjxq"]


def _rot(g: str, i: int) -> str:
    return g[i:] + g[:i]


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tile_documents(spark, mult: int):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    # the base table is one parquet file -> one partition; without this
    # the whole mult-way explode runs in a single task
    docs = docs.repartition(CPUS)
    reps = docs.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("rep")
    )
    # translate()'s matching/replace args must be literals — branch on
    # the replica digit over 8 literal rotations per level, one
    # projection per level (nesting the CASEs would compose to 8^3
    # leaves in a single expression)
    for lvl, grp in enumerate(_GROUPS):
        digit = f"cast(rep / {8 ** lvl} as int) % 8"
        case = ("CASE " + " ".join(
            f"WHEN {digit} = {i} THEN translate(text, '{grp}', '{_rot(grp, i)}')"
            for i in range(8)
        ) + " END")
        reps = reps.withColumn("text", F.expr(case))
    return reps.select(
        F.concat_ws("_", F.col("doc_id").cast("string"), F.col("rep").cast("string"))
        .alias("doc_id"),
        # uniform within-replica substitution + a replica tag word:
        # within-replica shingle overlap preserved, cross-replica killed
        F.expr("concat(text, ' r', rep)").alias("text"),
    )


def tile_embeddings(spark, mult: int):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    emb = emb.repartition(CPUS)
    reps = emb.select(
        "vec_id", "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("rep"),
    )
    tiled = reps.select(
        # long arithmetic: rep*10M exceeds int32 past rep≈214 (ANSI throws)
        (F.col("vec_id").cast("long")
         + F.col("rep").cast("long") * F.lit(10_000_000)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) ->"
            " cast(x as double) * IF(pmod(xxhash64(i, rep), 2) = 0, 1.0, -1.0))"
        ).alias("embedding"),
    )
    # plant a near-dup twin for ~1% of tiled vectors (deterministic):
    # the base corpus has no natural cosine-0.95 pairs, and a verify
    # stage with zero work would overstate the funnel's throughput
    planted = tiled.where(F.pmod(F.xxhash64("vec_id"), F.lit(100)) == 0).select(
        (F.col("vec_id") + F.lit(5_000_000_000)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> IF(i = 0, x * 1.02 + 0.001, x))"
        ).alias("embedding"),
    )
    return tiled.unionByName(planted)


def main(doc_mult: int = 200, vec_mult: int = 500) -> None:
    spark = build_session(
        "bench-dedup-scale", master=f"local[{CPUS}]",
        shuffle_partitions=max(32, CPUS),
        # eager localCheckpoint of the 1M-row signature table ships its
        # materialization through task results in local mode — raise the
        # cap rather than silently truncating the bench
        extra_conf={"spark.driver.maxResultSize": "8g"},
    )
    out: dict = {"sf_dir": SF_DIR, "cpus": CPUS}
    if doc_mult > 0:
        _bench_minhash(spark, doc_mult, out)
    if vec_mult > 0:
        _bench_embedding(spark, vec_mult, out)
    print(json.dumps(out))


def _bench_minhash(spark, doc_mult: int, out: dict) -> None:
    docs = tile_documents(spark, doc_mult).localCheckpoint(eager=True)
    n_docs = docs.count()
    # k=7 char shingles, not the sf0.01 default k=3: the driver docs
    # average ~300 chars, and 3-grams SATURATE on texts that long (two
    # unrelated docs share most of the ~26³ possible trigrams, so the
    # signature estimate keeps millions of moderate-jaccard candidates —
    # the first smoke run measured 3.0M candidates → 1.8k true pairs at
    # 20k docs). Wider shingles are exactly the knob a real corpus-scale
    # deployment turns; 7-grams keep random-pair jaccard near zero while
    # true near-dups (shared long substrings) still collide.
    out["minhash"] = {"n_docs": n_docs, "doc_mult": doc_mult, "k": 7}
    _log(f"docs tiled: {n_docs}")
    t0 = time.time()
    cnt: dict = {}
    n_pairs = minhash_lsh_pairs(docs, k=7, counters=cnt).count()
    out["minhash"].update(
        wall_sec=round(time.time() - t0, 2),
        pairs=n_pairs,
        docs_per_sec=round(n_docs / max(time.time() - t0, 1e-9), 1),
        **cnt,
    )
    _log(f"minhash: {out['minhash']}")


def _bench_embedding(spark, vec_mult: int, out: dict) -> None:
    vecs = tile_embeddings(spark, vec_mult).localCheckpoint(eager=True)
    n_vecs = vecs.count()
    import inspect

    from drought_t_spark.operators import dedup as _D

    _sig = inspect.signature(_D.embedding_near_dups)
    out["embedding"] = {"n_vecs": n_vecs, "vec_mult": vec_mult,
                        "n_planes": _sig.parameters["n_planes"].default,
                        "n_bands": _sig.parameters["n_bands"].default}
    _log(f"vectors tiled: {n_vecs}")
    n_planted = vecs.where(F.col("vec_id") >= 5_000_000_000).count()
    t0 = time.time()
    cnt = {}
    nd = embedding_near_dups(vecs, counters=cnt).localCheckpoint(eager=True)
    n_nd = nd.count()
    wall = time.time() - t0
    # planted-twin recall measured IN the scale run, not assumed from
    # the sf0.001 pytest gate: every planted pair is (v, v + 5e9)
    found = nd.where(
        F.col("id_b") - F.col("id_a") == 5_000_000_000
    ).count()
    out["embedding"].update(
        wall_sec=round(wall, 2),
        pairs=n_nd,
        vecs_per_sec=round(n_vecs / max(wall, 1e-9), 1),
        planted=n_planted,
        planted_found=found,
        recall_planted=round(found / max(n_planted, 1), 4),
        **cnt,
    )
    _log(f"embedding: {out['embedding']}")


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 200,
        int(sys.argv[2]) if len(sys.argv) > 2 else 500,
    )

"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing (SURVEY.md §2 extensions)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from drought_t_spark.operators import similarity as SIM
from drought_t_spark.operators import textstats as TS
from drought_t_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_pairs,
    simhash,
    simhash_near_pairs,
)
from drought_t_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_image_features,
    sample_frames,
    synth_media,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_finds_planted_copies(spark, docs):
    d = docs.select("doc_id", "text")
    both = d.unionByName(d.select((F.col("doc_id") + 10_000).alias("doc_id"), "text"))
    out = exact_dedup(both, ["text"], "doc_id")
    assert out.count() == d.count()
    assert out.where(F.col("n_copies") != 2).count() == 0
    # keeper is deterministic: always the original id
    assert out.where(F.col("keeper") >= 10_000).count() == 0


def test_minhash_lsh_recovers_exact_copies(spark, docs):
    d = docs.select("doc_id", "text").limit(60)
    both = d.unionByName(d.select((F.col("doc_id") + 10_000).alias("doc_id"), "text"))
    pairs = minhash_lsh_pairs(both, jaccard_threshold=0.99).toPandas()
    ids = set(zip(pairs.id_a, pairs.id_b))
    want = {(r.doc_id, r.doc_id + 10_000) for r in d.collect()}
    assert want <= ids  # identical docs always collide in every band
    assert (pairs.jaccard >= 0.99).all()


def test_simhash_copies_distance_zero(spark, docs):
    d = docs.select("doc_id", "text").limit(60)
    both = d.unionByName(d.select((F.col("doc_id") + 10_000).alias("doc_id"), "text"))
    pairs = simhash_near_pairs(both, max_hamming=0).toPandas()
    want = {(r.doc_id, r.doc_id + 10_000) for r in d.collect()}
    assert want <= set(zip(pairs.id_a, pairs.id_b))
    # fingerprint is a pure function of text
    sh = simhash(d).toPandas()
    assert sh.simhash64.nunique() > 1


def test_simhash_block_guard_and_wide_hamming(spark, docs):
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=32)
    # blocked pair set == brute-force pair set at hamming <= 5: the
    # pigeonhole blocking (max_hamming+1 blocks) guarantees recall 1
    import itertools

    d = docs.select("doc_id", "text").limit(40)
    sh = simhash(d).toPandas()
    want = set()
    for (ia, ha), (ib, hb) in itertools.combinations(
        zip(sh.id, sh.simhash64), 2
    ):
        if bin((int(ha) ^ int(hb)) & ((1 << 64) - 1)).count("1") <= 5:
            want.add((min(ia, ib), max(ia, ib)))
    got = simhash_near_pairs(d, max_hamming=5).toPandas()
    assert set(zip(got.id_a, got.id_b)) == want


def test_cosine_topk_matches_numpy(spark, emb):
    pdf = emb.toPandas()
    mat = np.stack(pdf.embedding.map(np.asarray)).astype(np.float64)
    qv = mat[pdf.vec_id.tolist().index(0)]
    scores = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = np.lexsort((pdf.vec_id.to_numpy(), -scores))
    want = pdf.vec_id.to_numpy()[order][:10].tolist()
    got = [r.vec_id for r in SIM.cosine_topk(emb, qv).collect()]
    assert got == want


def test_lsh_topk_subset_of_bucket(spark, emb):
    qv = emb.where(F.col("vec_id") == 0).first().embedding
    approx = SIM.cosine_topk_lsh(emb, qv, k=10, n_planes=4).toPandas()
    assert 0 < len(approx) <= 10
    assert 0 in approx.vec_id.tolist()  # query's own vector shares its bucket


def test_embedding_near_dups_finds_self_copies(spark, emb):
    e = emb.select("vec_id", "embedding").limit(50)
    both = e.unionByName(e.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding"))
    out = embedding_near_dups(both, threshold=0.999999).toPandas()
    want = {(r.vec_id, r.vec_id + 10_000) for r in e.collect()}
    assert want <= set(zip(out.id_a, out.id_b))


def _emb_double(emb):
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )


def test_embedding_near_dups_perturbed_recall(spark, emb):
    """PERTURBED plants (cos ≈ 0.9988, not identical copies) at the
    advertised threshold 0.95: the banded multi-probe LSH must reach
    recall 1, which single-bucket collision could not."""
    e = _emb_double(emb)
    pert = e.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.expr(
            "concat(array(embedding[0] + cast(0.05 as double)),"
            " slice(embedding, 2, size(embedding) - 1))"
        ).alias("embedding"),
    )
    out = embedding_near_dups(e.unionByName(pert), threshold=0.95).toPandas()
    want = {(r.vec_id, r.vec_id + 10_000) for r in e.select("vec_id").collect()}
    assert set(zip(out.id_a, out.id_b)) == want  # recall AND precision both 1


def test_ivf_trained_centroids_recall_and_quantization(spark, emb):
    e = _emb_double(emb)
    qv = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    planted = [(10_000 + s, [qv[0] + 0.01 * s] + qv[1:]) for s in range(1, 11)]
    aug = e.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<double>")
    )
    got = {r.vec_id for r in SIM.cosine_topk_ivf(aug, qv, k=11).collect()}
    want = {0} | {10_000 + s for s in range(1, 11)}
    assert got == want  # recall@10 = 1 for near-dup neighbors at n_probe=4

    # trained centroids quantize the data better than the old seeded
    # random directions: mean max-cosine to nearest centroid improves
    C = SIM.train_ivf_centroids(e)
    pdf = emb.toPandas()
    X = np.stack(pdf.embedding.map(np.asarray)).astype(np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(42)
    R = rng.standard_normal((16, X.shape[1]))
    R /= np.linalg.norm(R, axis=1, keepdims=True)
    assert (X @ C.T).max(axis=1).mean() > (X @ R.T).max(axis=1).mean()


def test_ivf_udf_path_matches_expression_path(spark, emb):
    """The Arrow-matmul assignment (large-codebook path) must return
    exactly what the inlined-literal expression path returns for the
    same trained centroids and query."""
    e = _emb_double(emb)
    qv = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    C = SIM.train_ivf_centroids(e)
    expr_ids = [r.vec_id for r in
                SIM.cosine_topk_ivf(e, qv, k=10, centroids=C).collect()]
    udf_ids = [r.vec_id for r in
               SIM._topk_ivf_udf(e, np.asarray(qv, dtype=np.float64), C, 10).collect()]
    assert expr_ids == udf_ids


def test_asof_join_semantics(spark):
    from datetime import datetime

    from drought_t_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 10), 1.0), ("a", datetime(2024, 1, 1, 12), 2.0),
         ("b", datetime(2024, 1, 1, 11), 9.0)],
        "k string, rts timestamp, v double",
    )
    left = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 9), 1),    # before any right row
         ("a", datetime(2024, 1, 1, 10), 2),   # exact tie → inclusive
         ("a", datetime(2024, 1, 1, 11, 30), 3),  # between ticks → 10:00
         ("a", datetime(2024, 1, 1, 23), 4),   # after last → 12:00
         ("b", datetime(2024, 1, 1, 12), 5)],
        "k string, lts timestamp, id int",
    )
    inner = {
        r.id: r.v
        for r in asof_join(left, right, by=["k"], left_ts="lts", right_ts="rts").collect()
    }
    assert inner == {2: 1.0, 3: 1.0, 4: 2.0, 5: 9.0}  # id 1 dropped (no match)
    outer = {
        r.id: r.v
        for r in asof_join(left, right, by=["k"], left_ts="lts", right_ts="rts",
                           how="left").collect()
    }
    assert outer[1] is None and len(outer) == 5


def test_asof_join_null_right_values(spark):
    """A right row whose payload is genuinely NULL must still count as
    the match (struct carry, not per-column LOCF): inner keeps the left
    row with a null value, and no output row mixes columns from two
    different right rows. DuckDB's native ASOF JOIN is the oracle."""
    from datetime import datetime

    import duckdb

    from drought_t_spark.operators.asof import asof_join

    right_rows = [
        ("a", datetime(2024, 1, 1, 10), 1.0, "r1"),
        ("a", datetime(2024, 1, 1, 12), None, None),   # all-null payload
        ("a", datetime(2024, 1, 1, 14), None, "r3"),   # mixed-null payload
        ("b", datetime(2024, 1, 1, 11), 9.0, "s1"),
    ]
    left_rows = [
        ("a", datetime(2024, 1, 1, 9), 1),    # no match
        ("a", datetime(2024, 1, 1, 11), 2),   # → r1
        ("a", datetime(2024, 1, 1, 13), 3),   # → the all-null row (NOT r1)
        ("a", datetime(2024, 1, 1, 15), 4),   # → r3 (v null, tag r3 — no mixing)
        ("b", datetime(2024, 1, 1, 12), 5),   # → s1
    ]
    right = spark.createDataFrame(right_rows, "k string, rts timestamp, v double, tag string")
    left = spark.createDataFrame(left_rows, "k string, lts timestamp, id int")
    got = {
        r.id: (r.v, r.tag)
        for r in asof_join(left, right, by=["k"], left_ts="lts", right_ts="rts").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE r AS SELECT * FROM (VALUES "
                + ",".join("(?,?,?,?)" for _ in right_rows)
                + ") t(k, rts, v, tag)",
                [x for row in right_rows for x in row])
    con.execute("CREATE TABLE l AS SELECT * FROM (VALUES "
                + ",".join("(?,?,?)" for _ in left_rows) + ") t(k, lts, id)",
                [x for row in left_rows for x in row])
    want = {
        int(i): (v, tag)
        for i, v, tag in con.execute(
            "SELECT l.id, r.v, r.tag FROM l ASOF JOIN r"
            " ON l.k = r.k AND l.lts >= r.rts"
        ).fetchall()
    }
    assert got == want
    assert got[3] == (None, None) and got[4] == (None, "r3")
    # left mode keeps the unmatched row with nulls
    outer = {
        r.id: (r.v, r.tag)
        for r in asof_join(left, right, by=["k"], left_ts="lts", right_ts="rts",
                           how="left").collect()
    }
    assert outer[1] == (None, None) and len(outer) == 5


def test_repetition_stats_short_docs(spark):
    """<2-word docs are exactly the degenerate inputs a quality filter
    must survive: 0 bigrams, never an array-index error."""
    rows = [(1, ""), (2, "word"), (3, "  "), (4, "two words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TS.repetition_stats(df).collect()}
    for i in (1, 2, 3):
        assert out[i].n_bigrams == 0 and out[i].top_bigram_count == 0
        assert out[i].top_bigram_frac == 0.0
    assert out[4].n_bigrams == 1 and out[4].top_bigram_count == 1


def test_near_dup_clusters_transitive_chains(spark):
    from drought_t_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "id_a long, id_b long",
    )
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21, 22, 23, 24, 99)], "id long"
    )
    out = {r.id: r.keeper for r in near_dup_clusters(pairs, verts).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 24: 20, 99: 99}


def test_near_dup_clusters_runs_to_convergence(spark):
    """A 31-vertex chain 0~1~...~30 has diameter 30: label propagation
    needs 30 rounds to carry keeper 0 to the far end, and one more to
    see no change. Every vertex's keeper is 0."""
    from drought_t_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    verts = spark.createDataFrame([(i,) for i in range(31)], "id long")
    out = {r.id: r.keeper for r in near_dup_clusters(pairs, verts).collect()}
    assert out == {i: 0 for i in range(31)}


def test_text_stats_and_quality(spark, docs):
    stats = TS.text_stats(docs).toPandas()
    base = docs.select("doc_id", "n_chars").toPandas().set_index("doc_id")
    merged = stats.set_index("doc_id").join(base, rsuffix="_want")
    np.testing.assert_array_equal(merged.n_chars.to_numpy(), merged.n_chars_want.to_numpy())
    assert (stats.n_words > 0).all()
    q = TS.quality_score(docs).toPandas()
    assert q.quality.between(0, 4).all()


def test_repetition_stats_flags_degenerate_text(spark):
    rows = [
        (1, "spam ham spam ham spam ham spam ham"),   # one bigram pair loops
        (2, "all words here are completely distinct"),
        (3, "dup line\ndup line\nfresh line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TS.repetition_stats(df).collect()}
    # doc 1: bigrams = [spam ham]x4 + [ham spam]x3 → top count 4 of 7
    assert out[1].top_bigram_count == 4 and out[1].n_bigrams == 7
    assert out[1].dup_word_frac > 0.7
    assert out[2].top_bigram_count == 1 and out[2].dup_word_frac == 0.0
    assert abs(out[3].dup_line_frac - 1 / 3) < 1e-6


def test_lang_id_majority_english(spark, docs):
    out = TS.lang_id(docs).toPandas()
    # synthetic corpus is tagged en; the stopword voter must agree broadly
    assert (out.lang_pred == "en").mean() > 0.6


def test_fingerprint_stable_under_whitespace(spark, docs):
    d = docs.select("doc_id", "text")
    d2 = d.withColumn("text", F.concat(F.col("text"), F.lit("  ")))
    fp1 = TS.fingerprint(d).toPandas().set_index("doc_id")
    fp2 = TS.fingerprint(d2).toPandas().set_index("doc_id")
    assert (fp1.fp_md5 == fp2.fp_md5).all()
    assert (fp1.fp_rolling == fp2.fp_rolling).all()


def test_multimodal_stub_plumbing(spark, docs):
    media = synth_media(docs)
    feats = decode_image_features(media).toPandas()
    assert len(feats) == docs.count()
    assert (feats.features.map(len) == 16).all()
    np.testing.assert_allclose(feats.features.map(sum).to_numpy(), 1.0, rtol=1e-9)
    frames = sample_frames(media)
    assert frames.groupBy("media_id").count().where("count != 4").count() == 0
    try:
        import PIL  # noqa: F401
    except ImportError:
        # without Pillow the real branch must refuse loudly, not decode
        with pytest.raises(NotImplementedError):
            decode_image_features(media, real_decode=True)


def test_multimodal_real_decode_with_pillow(spark):
    """Exercises the REAL decode branch — runs only where Pillow is
    importable (skipped in this container). Generates genuine PNG
    payloads, then checks the decoded luminance histogram and a real
    LANCZOS-resized PNG round-trip."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image

    from drought_t_spark.operators.multimodal import resize_images

    rows = []
    for i, shade in enumerate([0, 128, 255]):
        buf = io.BytesIO()
        Image.new("L", (32, 32), color=shade).save(buf, format="PNG")
        rows.append((i, "image", "image/png", 32, 32, None, bytearray(buf.getvalue())))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = decode_image_features(media, real_decode=True).toPandas()
    assert len(feats) == 3
    # a flat shade-s image puts ALL luminance mass in bin s // 16
    for _, r in feats.iterrows():
        assert max(r.features) == 1.0
    rs = resize_images(media, width=8, height=8, real_decode=True).toPandas()
    for _, r in rs.iterrows():
        with Image.open(io.BytesIO(bytes(r.payload))) as im:
            assert im.size == (8, 8)

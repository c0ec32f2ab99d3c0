"""Similarity tiers: the LSH near-pair scale path against the exact
pair set, and the exact ``ann_topk_dot`` scorer against the Catalyst
expression semantics it replaced."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_lsh_pair_generation_recall_vs_exact(spark):
    """The bucketed pair generator must recover ≥95% of the true
    thresholded pairs (planted near-dup clusters), with exact
    precision — every emitted pair passes the true cosine test."""
    import numpy as np

    from exam_pdf_parser_spark.operators.similarity import (
        embedding_near_pairs_lsh,
    )

    rng = np.random.default_rng(42)
    dim, n_bases, n_noise = 64, 30, 60
    bases = rng.standard_normal((n_bases, dim))
    vecs = []
    for base in bases:
        for _ in range(3):  # base + jitter → within-cluster cos ≈ 0.99
            vecs.append(base + 0.15 * rng.standard_normal(dim))
    vecs.extend(rng.standard_normal(dim) for _ in range(n_noise))
    mat = np.array(vecs, dtype=np.float32).astype(np.float64)

    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    gram = norm @ norm.T
    truth = {
        (i, j)
        for i in range(len(mat)) for j in range(i + 1, len(mat))
        if gram[i, j] >= 0.95
    }
    assert len(truth) >= n_bases  # the plant worked

    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
        "vec_id: long, embedding: array<float>",
    )
    found = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_pairs_lsh(df, threshold=0.95).collect()
    }
    recall = len(found & truth) / len(truth)
    assert recall >= 0.95, (recall, len(truth), len(found))
    assert found <= truth  # exact verification → no false positives


def test_lsh_pair_bucket_join_carries_ids_only(spark):
    from exam_pdf_parser_spark.operators.similarity import (
        embedding_near_pairs_lsh,
    )
    from exam_pdf_parser_spark.sources.io import load

    emb = load(spark, SF, "embeddings")
    plan = embedding_near_pairs_lsh(
        emb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        # the bucket self-join must not shuffle embedding vectors
        assert not ("bucket" in line and "emb_a" in line), line


def _hot_bucket_corpus(n=1200, hot_frac=0.3, dim=32, seed=11):
    """~30% of vectors are near-identical → they share one
    (table, bucket) sign pattern in EVERY LSH table (the adversarial
    near-duplicate-heavy crawl)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n_hot = int(n * hot_frac)
    base = rng.standard_normal(dim)
    hot = base + 0.02 * rng.standard_normal((n_hot, dim))
    rest = rng.standard_normal((n - n_hot, dim))
    return np.vstack([hot, rest]), n_hot


def test_hot_bucket_cap_drops_no_pairs(spark):
    """Round-4 top ask: on a corpus with ~30% of vectors in one LSH
    bucket, the g×g block-grid guard must change only WHERE the join
    work runs — the emitted pair set is identical to the unguarded
    join (no drops, no extras), with the guard genuinely engaged."""
    from exam_pdf_parser_spark.operators.similarity import (
        embedding_near_pairs_lsh,
    )

    mat, n_hot = _hot_bucket_corpus()
    cap = 100
    assert n_hot > 3 * cap          # hot bucket far beyond the cap
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
        "vec_id: long, embedding: array<float>").persist()

    capped = {(r["vec_a"], r["vec_b"]) for r in embedding_near_pairs_lsh(
        df, threshold=0.9, bucket_cap=cap).collect()}
    uncapped = {(r["vec_a"], r["vec_b"]) for r in embedding_near_pairs_lsh(
        df, threshold=0.9, bucket_cap=None).collect()}
    df.unpersist()
    assert len(uncapped) >= n_hot * (n_hot - 1) // 4   # hot cluster found
    assert capped == uncapped


def test_ann_topk_dot_null_and_ragged_embeddings(spark, tmp_path):
    """r10 review: the numpy scorer must keep the replaced Catalyst
    path's NULL tolerance — a NULL embedding or ANY length mismatch
    produced dot_q = NULL (zip_with pads with NULL, aggregate absorbs
    it), ranked after every non-NULL dot (DESC NULLS LAST) with the
    neighbor_id tie-break.  Plant NULL + ragged rows on BOTH the query
    and candidate sides and compare row-for-row against the old
    expression semantics computed inline.  A NULL element inside an
    array made the same row's every dot NULL too."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from exam_pdf_parser_spark.operators.similarity import (
        TOP_K, _dot_q, _quantized, ann_topk_dot,
    )

    rows = []
    for i in range(11):
        if i == 7:
            emb = None                      # NULL embedding
        elif i == 8:
            emb = [0.1, 0.2]                # ragged (short) embedding
        elif i == 9:
            emb = [9.0, None, -0.25, 0.0]   # NULL element
        else:
            emb = [float(i), 1.0, -0.25, float(i % 3)]
        rows.append((i, emb))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = sorted(tuple(r) for r in
                 ann_topk_dot(spark, str(tmp_path)).collect())

    e = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    q = (e.filter(F.col("vec_id") < 25)
         .select(F.col("vec_id").alias("query_id"),
                 _quantized(F.col("embedding")).alias("qv_q")))
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 _quantized(F.col("embedding")).alias("qv_c"))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      _dot_q(F.col("qv_q"), F.col("qv_c")).alias("dot_q")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_q"), F.asc("neighbor_id"))
    want = sorted(tuple(r) for r in
                  scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= TOP_K).collect())
    assert got == want

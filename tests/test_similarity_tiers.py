"""Similarity tiers: the block-grid guard of the bucketed pair join on
a hot bucket, and the exact ``ann_topk_dot`` scorer against the
Catalyst expression semantics it replaced."""

from __future__ import annotations


def _hot_bucket_signatures(n=1200, hot_frac=0.3, dim=32, seed=11,
                           n_tables=8, n_planes=8):
    """(vec_id, table, bucket) random-hyperplane signatures of a corpus
    whose ~30% near-identical vectors share one (table, bucket) key in
    EVERY table (the adversarial near-duplicate-heavy crawl)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n_hot = int(n * hot_frac)
    base = rng.standard_normal(dim)
    mat = np.vstack([base + 0.02 * rng.standard_normal((n_hot, dim)),
                     rng.standard_normal((n - n_hot, dim))])
    planes = np.random.default_rng(7).standard_normal(
        (n_tables, n_planes, dim))
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    rows = [(i, t, int(b)) for t in range(n_tables)
            for i, b in enumerate(((mat @ planes[t].T) > 0) @ weights)]
    return rows, n_hot


def test_hot_bucket_cap_drops_no_pairs(spark):
    """Round-4 top ask: with ~30% of vectors in one bucket, the g×g
    block-grid guard must change only WHERE the join work runs — the
    candidate pair set is identical to the unguarded join (no drops,
    no extras), with the guard genuinely engaged."""
    from exam_pdf_parser_spark.operators.dedupe import block_grid_self_join

    rows, n_hot = _hot_bucket_signatures()
    cap = 100
    assert n_hot > 3 * cap          # hot bucket far beyond the cap
    sigs = spark.createDataFrame(
        rows, "vec_id: long, table: int, bucket: long").persist()

    def pairs(bucket_cap):
        return {(r["vec_a"], r["vec_b"]) for r in block_grid_self_join(
            sigs, "vec_id", ["table", "bucket"], "vec_a", "vec_b",
            bucket_cap).collect()}

    capped, uncapped = pairs(cap), pairs(None)
    sigs.unpersist()
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

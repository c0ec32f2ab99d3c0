"""Similarity search over the ``embeddings`` table
(``embedding: array<float>``, 64-dim).

The driver-checked exact tier (this module's QUERIES): embeddings are
quantized per-element to integers (``floor(x*1000 + 0.5)``) so dot
products are order-independent integer sums — bit-exact in Spark AND
DuckDB (integer-valued doubles below 2^53 sum exactly).  Brute-force
top-k (``ann_topk_dot``, numpy int64 GEMM per Arrow batch) and
all-pairs near-dups (``embedding_near_dups``) are value-hash
comparable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.io import load

QUERIES: dict = {}
ORACLE: dict[str, str] = {}

N_QUERY_VECS = 25      # vec_id bound for the top-k demo
TOP_K = 5
NEAR_DUP_SCOPE = 300   # vec_id bound for pairwise near-dup
QUANT = 1000


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


def _quantized(col):
    # floor(x*1000 + 0.5): identical IEEE result in both engines
    # (unlike round(), whose half-rule differs across dialects).
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * QUANT + 0.5).cast("bigint"))


def _dot_q(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


_DUCK_QUANT = f"list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * {QUANT} + 0.5))"


# --- brute-force top-k by quantized inner product ---------------------------
@register("ann_topk_dot", f"""
    WITH q AS (SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
               WHERE vec_id < {N_QUERY_VECS}),
         c AS (SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings)
    SELECT query_id, neighbor_id, dot_q, rk FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS dot_q,
             row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY CAST(list_dot_product(q.qv, c.qv) AS BIGINT) DESC,
                          c.vec_id) AS rk
      FROM q, c WHERE q.vec_id <> c.vec_id)
    WHERE rk <= {TOP_K}
""")
def ann_topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k by quantized inner product.

    r10 optimization (guide §4.2): the old plan broadcast the ≤25
    query vectors into a BroadcastNestedLoopJoin and computed every
    dot product with Catalyst higher-order functions
    (``aggregate(zip_with(...))`` — interpreted per element, no
    codegen): 3.0 s of the 3.7 s query at sf1 was that scoring
    subtree.  Scoring now runs as ONE numpy int64 GEMM per Arrow
    batch inside ``mapInPandas`` with a per-task top-k prune, so the
    shuffle to the final ranking window carries ~tasks × 25 × k rows
    instead of 25 × corpus.  Exactness is unchanged: quantization is
    the same IEEE ``floor(cast(float as double) * 1000 + 0.5)``
    (float64 widening is exact), int64 dots of quantized values are
    order-independent exact integers, and the per-task prune keeps
    the k best under the SAME total order (dot_q desc, neighbor_id
    asc) the global window ranks by — the global top-k therefore
    survives pruning bit-for-bit (hash-checked against the unchanged
    DuckDB oracle).  The ≤``N_QUERY_VECS`` query rows are collected
    driver-side (bounded by contract) and ship as quantized int64
    vectors inside the scorer's task closure.  Build-time job: that
    query-row ``collect()`` runs as one Spark job while the DataFrame
    is built.
    """
    e = load(spark, sf_dir, "embeddings")
    qrows = (e.filter(F.col("vec_id") < N_QUERY_VECS)
             .select("vec_id", "embedding").collect())
    out_schema = "query_id: long, neighbor_id: long, dot_q: long"
    if not qrows:    # empty query set → empty result, same schema
        return spark.createDataFrame(
            [], out_schema + ", rk: int")
    q_ids = [int(r["vec_id"]) for r in qrows]
    # quantized query vectors; a NULL embedding or a NULL element
    # (NaN after float64 conversion) gives None — a NULL-dot query.
    # The 25×64 matrix is tiny — it ships inside the task closure, so
    # there is no per-call sc.broadcast to leak over a long session.
    q_arrs = [None if r["embedding"] is None else
              np.asarray(r["embedding"], dtype=np.float64) for r in qrows]
    q_vecs = [
        None if v is None or np.isnan(v).any() else
        np.floor(v * QUANT + 0.5).astype(np.int64)
        for v in q_arrs
    ]

    # NULL-tolerance contract (matches the replaced Catalyst
    # expression path exactly): zip_with pads length-mismatched arrays
    # with NULL and aggregate(+) absorbs it, so a NULL embedding on
    # EITHER side, or ANY length mismatch, produced dot_q = NULL —
    # ranked after every non-NULL dot by the window's DESC NULLS LAST,
    # tie-broken by neighbor_id asc.  A NULL element inside an array
    # (NaN in the Arrow→numpy batch) likewise made that row's every
    # dot NULL.  The scorer therefore groups corpus rows by array
    # length, moves rows holding a NaN to length -1 (the NULL-dot
    # pool), GEMMs each query against its own length group (the hot
    # path: one uniform group), and emits
    # null-dot candidates (the TOP_K+1 smallest neighbor ids per task
    # — enough to reconstruct any global top-k suffix) for everything
    # else, instead of crashing the task on a NULL/ragged row.
    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_q = len(q_ids)
        best_d = [[] for _ in range(n_q)]     # per-query valid pools
        best_n = [[] for _ in range(n_q)]
        null_n = [[] for _ in range(n_q)]     # per-query NULL-dot pools
        for pdf in batches:
            if not len(pdf):
                continue
            nids = pdf["vec_id"].to_numpy().astype(np.int64)
            embs = pdf["embedding"].to_numpy()
            lens = np.array([-1 if v is None else len(v) for v in embs])
            mats = {}
            for ln in np.unique(lens):
                if ln < 0:
                    continue
                idx = np.nonzero(lens == ln)[0]
                m = np.stack([embs[i] for i in idx]).astype(np.float64)
                nan = np.isnan(m).any(axis=1)   # NULL element → NULL dot
                lens[idx[nan]] = -1
                idx, m = idx[~nan], m[~nan]
                mats[int(ln)] = (
                    idx, np.floor(m * QUANT + 0.5).astype(np.int64))
            for j in range(n_q):
                qv = q_vecs[j]
                grp = mats.get(len(qv)) if qv is not None else None
                if grp is not None:
                    idx, qc = grp
                    d = qc @ qv                       # exact int64 dots
                    n = nids[idx]
                    keep = n != q_ids[j]
                    d, n = d[keep], n[keep]
                    if len(n):
                        # same total order as the ranking window:
                        # dot desc, neighbor_id asc (lexsort: last
                        # key primary)
                        order = np.lexsort((n, -d))[:TOP_K]
                        best_d[j].append(d[order])
                        best_n[j].append(n[order])
                    null_mask = lens != len(qv)
                else:
                    null_mask = np.ones(len(nids), dtype=bool)
                nn = nids[null_mask]
                nn = nn[nn != q_ids[j]]
                if len(nn):
                    null_n[j].append(np.sort(nn)[:TOP_K + 1])
        out = {"query_id": [], "neighbor_id": [], "dot_q": []}
        for j in range(n_q):
            if best_n[j]:
                d = np.concatenate(best_d[j])
                n = np.concatenate(best_n[j])
                order = np.lexsort((n, -d))[:TOP_K]
                out["query_id"].extend([q_ids[j]] * len(order))
                out["neighbor_id"].extend(int(x) for x in n[order])
                out["dot_q"].extend(int(x) for x in d[order])
            if null_n[j]:
                nn = np.sort(np.concatenate(null_n[j]))[:TOP_K + 1]
                out["query_id"].extend([q_ids[j]] * len(nn))
                out["neighbor_id"].extend(int(x) for x in nn)
                out["dot_q"].extend([None] * len(nn))
        if out["query_id"]:
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="object") for k, v in out.items()})

    scored = e.select("vec_id", "embedding").mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
    )


# --- embedding near-duplicate pairs (quantized cosine threshold) -------------
# The synthetic embeddings are near-orthogonal (max pairwise cosine
# ≈ 0.51 at sf0.01), so a production-style 0.9+ near-dup threshold
# returns the empty set and the oracle hash proves nothing (round-4
# verdict: vacuous row).  The DEMO threshold sits in the distribution's
# upper tail instead — ~100 pairs at sf0.01 and sf0.1 — so the gate
# hash covers real values; semantics (thresholded quantized cosine) are
# unchanged.
NEAR_DUP_COS = 0.35


@register("embedding_near_dups", f"""
    WITH v AS (SELECT vec_id, {_DUCK_QUANT} AS qv FROM embeddings
               WHERE vec_id < {NEAR_DUP_SCOPE}),
         n AS (SELECT vec_id, qv,
                      CAST(list_dot_product(qv, qv) AS BIGINT) AS norm2
               FROM v)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot_q
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
          / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
          >= {NEAR_DUP_COS}
""")
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT (demo/oracle) tier: all-pairs quantized cosine over a
    pushed ``vec_id < NEAR_DUP_SCOPE`` slice.  Quadratic by
    construction — guarded by ``assert_exact_tier``."""
    from .dedupe import EXACT_TIER_MAX, assert_exact_tier

    e = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < NEAR_DUP_SCOPE)
    assert_exact_tier(e, EXACT_TIER_MAX,
                      "dedupe.block_grid_self_join over LSH buckets")
    v = e.select("vec_id", _quantized(F.col("embedding")).alias("qv"))
    n = v.select(
        "vec_id", "qv", _dot_q(F.col("qv"), F.col("qv")).alias("norm2"))
    # alias-QUALIFIED self-join: unqualified renamed columns over a
    # shared lineage can silently mis-bind — qualify every condition
    # column
    a, b = n.alias("a"), n.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                _dot_q(F.col("a.qv"), F.col("b.qv")).alias("dot_q"),
                F.col("a.norm2").alias("na"), F.col("b.norm2").alias("nb"))
    )
    cos = F.col("dot_q") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
    return pairs.filter(cos >= NEAR_DUP_COS).select("vec_a", "vec_b", "dot_q")

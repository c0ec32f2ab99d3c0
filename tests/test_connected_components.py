"""Transitive-closure dedup clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

from exam_pdf_parser_spark.operators.dedupe import (
    connected_components, dedup_clusters,
)


def test_chain_and_islands(spark):
    # components: {1,2,3,4} (chain), {10,11}, isolated node 20 only in docs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long")
    comp = {r["node"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "doc_id long")
    dec = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup_clusters(docs, pairs).collect()}
    assert dec[20] == (20, True)          # isolated keeps itself
    assert dec[1] == (1, True)
    assert dec[4] == (1, False)
    kept = [d for d, (_, k) in dec.items() if k]
    assert sorted(kept) == [1, 10, 20]    # one survivor per cluster


def test_long_chain_converges(spark):
    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long")
    comp = connected_components(pairs, max_iter=40)
    assert comp.select(F.countDistinct("component")).collect()[0][0] == 1
    assert comp.count() == n + 1


def _union_find_components(edges) -> dict[int, int]:
    """Pure-Python oracle: node → smallest node id in its component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_matches_propagation_on_planted_graphs(spark):
    """The large-star/small-star contraction must label exactly like an
    independent union-find on planted graphs (chains, stars, cliques,
    forests, random)."""
    import random

    rng = random.Random(404)
    graphs = [
        [(i, i + 1) for i in range(12)],                   # chain
        [(0, i) for i in range(1, 9)],                     # star
        [(i, j) for i in range(6) for j in range(i)],      # clique
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],    # forest
        [(rng.randrange(40), rng.randrange(40)) for _ in range(60)],
    ]
    for g in graphs:
        g = [(a, b) for a, b in g if a != b]
        pairs = spark.createDataFrame(g, "doc_a long, doc_b long")
        star = {r["node"]: r["component"] for r in
                connected_components(pairs).collect()}
        assert star == _union_find_components(g), g


def test_star_converges_sublinearly_on_deep_chain(spark):
    """A diameter-200 chain must converge in ~log rounds: star
    contraction finishes within 15 rounds (label propagation would
    need ~200), and a budget too small fails loudly instead of
    returning partial labels."""
    import pytest

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long")
    comp = connected_components(pairs, max_iter=15)
    rows = comp.collect()
    assert len(rows) == n + 1
    assert {r["component"] for r in rows} == {0}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_end_to_end_with_minhash_pairs(spark):
    # real pipeline shape: LSH pairs from the documents table → clusters
    from exam_pdf_parser_spark.operators.dedupe import minhash_lsh_pairs
    from exam_pdf_parser_spark.sources.io import load

    sf = "/root/testdata/sf0.001"
    pairs = minhash_lsh_pairs(spark, sf).persist()
    docs = load(spark, sf, "documents").filter("doc_id < 200")
    dec = dedup_clusters(docs, pairs).persist()
    assert dec.count() == 200
    # every cluster keeps exactly one document
    per_cluster = dec.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("kept"))
    assert per_cluster.filter("kept <> 1").count() == 0
    dec.unpersist()
    pairs.unpersist()

"""Deduplication operators for a web-scale training-data pipeline:
exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (100 TB posture):
  * exact dedup is a single shuffle on md5(text) — the canonical
    "group by content hash, keep min id";
  * MinHash/LSH replaces the quadratic all-pairs join with a
    band-bucket join: candidates share a band key, then only
    candidates pay the exact-Jaccard verification;
  * pairwise queries are bounded by a pushed-down ``doc_id`` predicate
    (visible as PushedFilters in the scan).

Cross-engine exactness: every hash is md5 (identical bytes in Spark
and DuckDB); min/lexicographic order over hex strings is identical;
set sizes are ints; Jaccard is one IEEE division of two ints.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load

QUERIES: dict = {}
ORACLE: dict[str, str] = {}

# doc_id bound for pairwise demos.  Env-overridable (round-7 ask #6)
# so the sf1-scale crosscheck (scripts/sf1_crosscheck.py) can widen
# the SAME registered queries + their baked-in oracle SQL to a 10x
# slice instead of duplicating them; the committed gate artifacts
# always run with the env unset (=200).  Read once at import — the
# oracle strings are f-string-baked at module load, so a post-import
# change could never stay in lockstep.
PAIR_SCOPE = int(os.environ.get("SPARK_GRAFT_PAIR_SCOPE", "200"))
EXACT_TIER_MAX = 20_000   # hard row cap for all-pairs exact tiers
# candidate-pair sets at or below this row count are broadcast into
# the MinHash verification joins (two longs/row → ~64 MiB built hash
# relation at the cap); larger sets fall back to shuffle joins
PAIR_BROADCAST_MAX_ROWS = 2_000_000


def assert_exact_tier(df, n_max: int, scale_twin: str):
    """Guardrail for the ALL-PAIRS exact tiers: they are O(n²) by
    construction and exist as oracle/demo paths only.  Counting the
    (already filtered/pruned) input is one cheap job; above ``n_max``
    the call fails LOUDLY naming the bucketed scale twin instead of
    launching a quadratic join that would never finish at corpus
    scale.  Build-time job: the ``df.count()`` runs as one Spark job
    while the caller builds its DataFrame, before any action on it."""
    n = df.count()
    if n > n_max:
        raise ValueError(
            f"exact all-pairs tier got {n:,} rows (cap {n_max:,}); "
            f"this path is quadratic — use the bucketed scale twin "
            f"{scale_twin} instead")
    return df
MINHASH_SEEDS = 12        # 12 hashes → 4 bands × 3 rows
BAND_ROWS = 3
JACCARD_DUP = 0.8         # verified-duplicate threshold
SIMHASH_BITS = 32
HAMMING_MAX = 6           # simhash near-dup radius


def _simhash_chunks() -> tuple[list[int], list[int]]:
    """(bit offsets, bit widths) splitting SIMHASH_BITS into
    HAMMING_MAX+1 near-equal chunks: a pair within hamming HAMMING_MAX
    differs in ≤ HAMMING_MAX chunks, hence matches on ≥ 1 (pigeonhole),
    so a (chunk_idx, chunk_val) equi-join finds every qualifying pair."""
    n = HAMMING_MAX + 1
    base, extra = divmod(SIMHASH_BITS, n)
    sizes = [base + (1 if i < extra else 0) for i in range(n)]
    offsets = [sum(sizes[:i]) for i in range(n)]
    return offsets, sizes


_SIMHASH_CHUNKS = _simhash_chunks()


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


def _words(col):
    return F.filter(F.split(col, " "), lambda x: x != "")


# --- exact dedup: canonical assignment by content hash -----------------------
@register("exact_dup_assignment", """
    WITH h AS (SELECT doc_id, md5(text) AS th FROM documents),
    canon AS (SELECT th, min(doc_id) AS canonical_id, count(*) AS group_size
              FROM h GROUP BY th)
    SELECT h.doc_id, c.canonical_id,
           h.doc_id <> c.canonical_id AS is_duplicate,
           c.group_size
    FROM h JOIN canon c ON h.th = c.th
""")
def exact_dup_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single shuffle: canonical pick + group size as windows over the
    # content-hash partition (vs groupBy + join-back = 2 extra
    # exchanges of the full table)
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("th"))
    w = Window.partitionBy("th")
    return d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
    ).select(
        "doc_id", "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        "group_size",
    )


# --- n-gram (token-set) Jaccard pairs ----------------------------------------
@register("jaccard_pairs", f"""
    WITH t AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))) AS token
      FROM documents WHERE doc_id < {PAIR_SCOPE}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM t a JOIN t b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b, i.n_inter,
           sa.n + sb.n - i.n_inter AS n_union,
           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.8
""")
def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT (demo/oracle) tier: token-level all-pairs Jaccard over a
    pushed ``doc_id < PAIR_SCOPE`` slice.  Quadratic by construction —
    guarded by :func:`assert_exact_tier`.  The corpus-scale path is
    :func:`lsh_pairs_from_tokens` (banded MinHash candidate join +
    exact verification on candidates only)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < PAIR_SCOPE)
    assert_exact_tier(d, EXACT_TIER_MAX, "dedupe.lsh_pairs_from_tokens")
    t = d.select(
        "doc_id",
        F.explode(F.array_distinct(_words(F.col("text")))).alias("token"),
    )
    sizes = t.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = t.alias("a"), t.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = (
        inter
        .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a", "doc_b", "n_inter",
            (F.col("sa.n") + F.col("sb.n") - F.col("n_inter")).alias("n_union"),
        )
        .withColumn("jaccard",
                    F.col("n_inter").cast("double") / F.col("n_union"))
    )
    return j.filter(F.col("jaccard") >= 0.8)


# --- MinHash + LSH -----------------------------------------------------------
def _minhash_sql() -> str:
    """DuckDB oracle for minhash_lsh_pairs, built programmatically so
    the band structure stays in lockstep with the Spark side."""
    mh_cols = ",\n             ".join(
        f"min(md5('{s}:' || token)) AS mh{s}" for s in range(MINHASH_SEEDS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band_idx, "
        + " || ".join(f"mh{band * BAND_ROWS + r}" for r in range(BAND_ROWS))
        + " AS band_key FROM sigs"
        for band in range(MINHASH_SEEDS // BAND_ROWS)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))) AS token
      FROM documents WHERE doc_id < {PAIR_SCOPE}
    ),
    sigs AS (
      SELECT doc_id,
             {mh_cols}
      FROM t GROUP BY doc_id
    ),
    bands AS ({band_selects}),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cands c
      JOIN t ta ON ta.doc_id = c.doc_a
      JOIN t tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT v.doc_a, v.doc_b, v.n_inter,
           sa.n + sb.n - v.n_inter AS n_union
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.doc_a
    JOIN sizes sb ON sb.doc_id = v.doc_b
    WHERE CAST(v.n_inter AS DOUBLE) / (sa.n + sb.n - v.n_inter) >= {JACCARD_DUP}
    """


@register("minhash_lsh_pairs", _minhash_sql())
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (md5-based, k=12) → LSH band buckets (4×3) →
    candidate pairs → exact-Jaccard verification.

    This is the scale path for near-dup detection: the only shuffle
    over pair space is the band-bucket self-join, whose size is the
    number of colliding signatures, not n².
    """
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < PAIR_SCOPE)
    t = d.select(
        "doc_id",
        F.explode(F.array_distinct(_words(F.col("text")))).alias("token"),
    )
    return lsh_pairs_from_tokens(t)


def block_grid_self_join(keys: DataFrame, id_col: str,
                         key_cols: list[str], out_a: str, out_b: str,
                         cap: int | None,
                         carry: tuple = ()) -> DataFrame:
    """Distinct candidate id pairs sharing a key, with bounded task
    granularity (shared by the MinHash band join and the simhash chunk
    join — same hot-key failure mode).

    ``cap=None``: plain self equi-join — a key shared by m rows
    generates its m² joined rows inside ONE task.  Otherwise keys
    above the cap are split into a g×g salted block grid
    (g = ceil(m/cap)): side A fixes block _ba = xxhash64(id) % g and
    replicates across the g values of _bb, side B symmetrically, so
    every pair still meets in exactly one (_ba, _bb) block and
    per-task join work is bounded by ~cap² regardless of key
    frequency.  Output is identical either way (asserted in pytest).

    The grid is co-partitioned with an explicit partition NUMBER on
    the full block key: the join inputs are tiny id rows, so AQE's
    size-based coalescing would otherwise fuse the grid back into one
    partition (it cannot see the quadratic join output) — measured in
    BENCH_SCALING.md §hot-bucket: max task 39.3 s → 8.1 s, balance
    130× → 1.3× on a 30%-hot corpus.  The TOTAL candidate volume of a
    hot key stays quadratic by definition; the guard bounds task
    granularity so no straggler/OOM task forms.

    ``carry``: (src_col, a_name, b_name) triples of per-id columns
    that ride along both sides into the output (e.g. the simhash
    value for in-join verification).  They must be functionally
    dependent on the id so the pair-dedup pick is stable.

    Build-time job: when ``cap`` is set, ``keys.count()`` runs as one
    Spark job while the DataFrame is built (it also materializes the
    checkpoint every consumer reads).  At ``n_rows <= cap`` no key can
    occur more than ``cap`` times, so no key is hot, every block is
    (0, 0) and the grid would only repeat the plain join; the plain
    join is returned, with no hot-key aggregate, broadcast or
    repartition.  Only ``n_rows > cap`` builds the grid.
    """
    if cap is not None:
        # up to three consumers read `keys` (hot counts + both join
        # sides); without a pin each recomputes the whole upstream
        # signature pipeline.  The checkpointed frame is ids+keys
        # only — tiny relative to the corpus — and the count() below
        # materializes it.
        keys = keys.localCheckpoint(eager=False)
        # r10 (guide §2): the grid's explicit partition count is now
        # DERIVED FROM INPUT SIZE instead of pinned to the core count.
        # ceil(rows/cap) targets ~cap input rows per task — the same
        # ~cap² worst-case join work per task the grid promises —
        # clamped to 4× parallelism (beyond that, more partitions only
        # add scheduling overhead; the hash spread over tasks is what
        # bounds stragglers, exactly as before).  At gate scale this
        # collapses the two forced 32-task repartition waves to one
        # task; the count() materializes the lazy checkpoint the first
        # consumer would have paid for anyway.
        n_rows = keys.count()
    a = keys.select(F.col(id_col).alias(out_a),
                    *[F.col(s).alias(an) for s, an, _ in carry],
                    *key_cols)
    b = keys.select(F.col(id_col).alias(out_b),
                    *[F.col(s).alias(bn) for s, _, bn in carry],
                    *key_cols)
    out_cols = ([out_a, out_b] + [an for _, an, _ in carry]
                + [bn for _, _, bn in carry])
    if cap is None or n_rows <= cap:
        return (
            a.join(b, list(key_cols))
            .filter(F.col(out_a) < F.col(out_b))
            .select(*out_cols)
            .dropDuplicates([out_a, out_b])
        )
    hot = (
        keys.groupBy(*key_cols).count()
        .filter(F.col("count") > cap)
        .select(*key_cols,
                F.ceil(F.col("count") / cap).cast("int").alias("g"))
    )
    ga = (
        a.join(F.broadcast(hot), list(key_cols), "left")
        .withColumn("g", F.coalesce("g", F.lit(1)))
        .withColumn("_ba", F.pmod(F.xxhash64(out_a), F.col("g"))
                    .cast("int"))
        .withColumn("_bb", F.explode(F.sequence(F.lit(0), F.col("g") - 1)))
    )
    gb = (
        b.join(F.broadcast(hot), list(key_cols), "left")
        .withColumn("g", F.coalesce("g", F.lit(1)))
        .withColumn("_bb", F.pmod(F.xxhash64(out_b), F.col("g"))
                    .cast("int"))
        .withColumn("_ba", F.explode(F.sequence(F.lit(0), F.col("g") - 1)))
    )
    n_parts = max(1, min(
        4 * keys.sparkSession.sparkContext.defaultParallelism,
        -(-n_rows // cap)))
    grid_key = list(key_cols) + ["_ba", "_bb"]
    ga = ga.repartition(n_parts, *grid_key)
    gb = gb.repartition(n_parts, *grid_key)
    return (
        ga.join(gb, grid_key)
        .filter(F.col(out_a) < F.col(out_b))
        .select(*out_cols)
        .dropDuplicates([out_a, out_b])
    )


def lsh_pairs_from_tokens(t: DataFrame,
                          band_cap: int | None = 5000) -> DataFrame:
    """The MinHash→band→verify pipeline over any (doc_id, token)
    table, keeping pairs with exact Jaccard ≥ ``JACCARD_DUP``.

    The band self-join carries ONLY (doc_id, band_idx, band_key) —
    at web scale the token set IS the document, and shuffling it
    through the band explode (2 sides × n_bands) is a memory/network
    amplifier.  Verification joins the small candidate-pair set back
    to one (doc_id, toks, n) table: two narrow hash joins sized by
    the number of colliding pairs, not by corpus × bands.

    Build-time job: ``cands.count()`` (which picks the broadcast hint
    for the first verification join) runs the band join as a Spark
    job while the DataFrame is built, after ``block_grid_self_join``'s
    own ``keys.count()`` when ``band_cap`` is set.  Both counts also
    materialize the checkpoints their consumers read, so they stay on
    purpose: on the ``curation_queries`` tables a fully lazy build (no
    counts, with or without the checkpoints) lost more at exec time
    than it saved at build time.
    """
    sigs = t.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("token"))))
          .alias(f"mh{s}") for s in range(MINHASH_SEEDS)],
    )
    band_structs = [
        F.struct(
            F.lit(band).alias("band_idx"),
            F.concat(*[F.col(f"mh{band * BAND_ROWS + r}")
                       for r in range(BAND_ROWS)]).alias("band_key"),
        )
        for band in range(MINHASH_SEEDS // BAND_ROWS)
    ]
    bands = sigs.select(
        "doc_id",
        F.explode(F.array(*band_structs)).alias("b"),
    ).select("doc_id",
             F.col("b.band_idx").alias("band_idx"),
             F.col("b.band_key").alias("band_key"))
    # the small candidate-pair set is consumed three times (pairs +
    # two semi-join sides); localCheckpoint materializes it once so
    # the band join isn't recomputed per consumer (lazy — computed on
    # the query's first action).  A band key shared by m near-identical
    # docs (duplicate-heavy crawl) is a hot key — the shared block-grid
    # guard bounds that task at ~band_cap² join work.
    cands = block_grid_self_join(
        bands, "doc_id", ["band_idx", "band_key"],
        "doc_a", "doc_b", band_cap,
    ).localCheckpoint(eager=False)
    # token sets are aggregated ONLY for candidate docs (semi join
    # before collect_set): with sparse duplicates at corpus scale the
    # heavy token shuffle collapses to the candidate subset — exchange
    # COUNT rises but shuffled BYTES drop from O(corpus) to O(cands).
    # r10: no .distinct() here — the left-semi join's hash build
    # dedups its keys anyway, so the extra exchange bought nothing.
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cands.select(F.col("doc_b").alias("doc_id")))
    )
    toks = (
        t.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("token").alias("toks"),
             F.count("*").alias("n"))
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"),
                     F.col("toks").alias("toks_a"), F.col("n").alias("n_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"),
                     F.col("toks").alias("toks_b"), F.col("n").alias("n_b"))
    # r10: the pair set is materialized (checkpoint) and its count is
    # one cheap job, so pick the FIRST verification join's strategy
    # deliberately (guide §3.1): below the cap, broadcast the PAIRS
    # so ta streams through unshuffled; above it, fall back to the
    # planner's shuffle join (a dup-heavy crawl can make the pair set
    # arbitrarily large, so an unguarded hint would OOM the build
    # side).  The SECOND join's left side already carries toks_a, so
    # no side of it is hintable-small by construction — it stays
    # planner-chosen (AQE converts it to broadcast at runtime when the
    # pair volume is small; at worst it is the same sort-merge join
    # the pre-r10 plan always used).
    pair_side = (F.broadcast(cands)
                 if cands.count() <= PAIR_BROADCAST_MAX_ROWS else cands)
    out = (
        pair_side.join(ta, "doc_a").join(tb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
            (F.col("n_a") + F.col("n_b")
             - F.size(F.array_intersect("toks_a", "toks_b")))
            .alias("n_union"),
        )
    )
    return out.filter(
        F.col("n_inter").cast("double") / F.col("n_union") >= JACCARD_DUP)


# --- SimHash ------------------------------------------------------------------
def _simhash_exprs(dialect: str) -> tuple[list[str], str]:
    """(per-token bit expressions, per-doc recombination) for one
    dialect.  32-bit simhash from the first 8 hex chars of md5(token):
    nibble k = hexval(md5[k]); bit b of the hash comes from nibble
    b//4, bit b%4."""
    shift = (lambda x, n: f"({x} >> {n})") if dialect == "duckdb" \
        else (lambda x, n: f"shiftright({x}, {n})")
    pos = "strpos" if dialect == "duckdb" else "instr"
    nib = [
        f"({pos}('0123456789abcdef', substr(h, {k + 1}, 1)) - 1)"
        for k in range(8)
    ]
    bit_terms = []
    for b in range(SIMHASH_BITS):
        nibble, j = divmod(b, 4)
        bit = f"(({shift(nib[nibble], j)}) & 1)"
        bit_terms.append(f"(2 * {bit} - 1) AS s{b}")
    combine = " + ".join(
        f"(CASE WHEN sum(s{b}) > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return bit_terms, combine


@register("simhash_docs", f"""
    WITH t AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))) AS token
      FROM documents WHERE doc_id < {PAIR_SCOPE}
    ),
    bits AS (
      SELECT doc_id, {", ".join(_simhash_exprs("duckdb")[0])}
      FROM (SELECT doc_id, md5(token) AS h FROM t)
    )
    SELECT doc_id, {_simhash_exprs("duckdb")[1]} AS simhash
    FROM bits GROUP BY doc_id
""")
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < PAIR_SCOPE)
    t = d.select(
        "doc_id",
        F.explode(F.array_distinct(_words(F.col("text")))).alias("token"),
    ).select("doc_id", F.md5("token").alias("h"))
    bit_exprs, combine_sql = _simhash_exprs("spark")
    bits = t.selectExpr("doc_id", *bit_exprs)
    return bits.groupBy("doc_id").agg(
        F.expr(combine_sql).alias("simhash"))


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Transitive closure over a near-dup pair graph (``doc_a``,
    ``doc_b``) → cluster ids.

    Production dedup keeps ONE document per connected component of the
    similarity graph; pairs alone under-merge (A~B, B~C must collapse
    to one cluster).  Returns (node, component) with component = min
    node id reachable.  Deterministic (min is order-free).

    Alternating large-star / small-star contraction (Kiveris et al.,
    *Connected Components in MapReduce and Beyond*, SoCC'14) —
    converges in O(log² n) rounds INDEPENDENT of graph diameter, so a
    100 TB near-dup graph with long chained template pages (diameter
    ≫ 50) still finishes; each round is two self-join+groupBy shuffles
    on node ids, localCheckpoint'd so plans stay flat.

    Fails loudly past ``max_iter`` rather than returning partial
    labels (phantom clusters with zero keepers downstream).
    """
    edges0 = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = edges0.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        # large-star: every node links its LARGER neighbors to the
        # minimum of its closed neighborhood
        sym = edges.unionAll(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        lmin = (
            sym.groupBy("a").agg(F.min("b").alias("mnb"))
            .select("a", F.least(F.col("a"), F.col("mnb")).alias("m"))
        )
        ls = (
            sym.filter(F.col("b") > F.col("a"))
            .join(lmin, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient larger→smaller (large-star output already
        # is), link every smaller neighbor and the node itself to the
        # minimum neighbor
        smin = ls.groupBy("a").agg(F.min("b").alias("m"))
        ss_child = (
            ls.join(smin, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        ss_self = smin.select(F.col("a"), F.col("m").alias("b"))
        new_edges = (ss_child.unionAll(ss_self).distinct()
                     .localCheckpoint(eager=True))
        # fixpoint = identical edge set (cheap count gate, then exact
        # exceptAll confirm — runs once, at convergence)
        if (new_edges.count() == edges.count()
                and new_edges.exceptAll(edges).limit(1).count() == 0):
            edges = new_edges
            converged = True
            break
        edges = new_edges
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iter} rounds; raise max_iter")
    # fixpoint is a forest of stars: every non-root points at its
    # component min, roots have no outgoing edge → label themselves
    labels = (
        nodes.join(
            edges.groupBy(F.col("a").alias("node"))
            .agg(F.min("b").alias("comp")),
            "node", "left_outer")
        .select("node",
                F.coalesce("comp", F.col("node")).alias("component"))
    )
    return labels


def dedup_clusters(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full dedup decision table: every document with its cluster id
    and keep/drop flag (keep = smallest id in the component; isolated
    documents keep themselves)."""
    comps = connected_components(pairs)
    return (
        documents.select("doc_id")
        .join(comps, F.col("doc_id") == comps.node, "left_outer")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def _dedup_clusters_sql() -> str:
    """Recursive-CTE oracle for cluster assignment: transitive closure
    of the MinHash near-dup pair graph (same pair SQL as the
    minhash_lsh_pairs oracle), component = min reachable doc_id."""
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS cluster_id,
           d.doc_id = coalesce(c.component, d.doc_id) AS keep
    FROM (SELECT doc_id FROM documents WHERE doc_id < {PAIR_SCOPE}) d
    LEFT JOIN comp c ON c.node = d.doc_id
    """


@register("dedup_cluster_assignment", _dedup_clusters_sql())
def dedup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing cluster decision table: MinHash LSH pairs →
    connected components (star contraction) → keep/drop per doc.
    The DuckDB twin computes the same closure with a recursive CTE."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < PAIR_SCOPE)
    pairs = minhash_lsh_pairs(spark, sf_dir)
    return dedup_clusters(d, pairs)


@register("simhash_near_pairs", f"""
    WITH t AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))) AS token
      FROM documents WHERE doc_id < {PAIR_SCOPE}
    ),
    bits AS (
      SELECT doc_id, {", ".join(_simhash_exprs("duckdb")[0])}
      FROM (SELECT doc_id, md5(token) AS h FROM t)
    ),
    sh AS (SELECT doc_id, {_simhash_exprs("duckdb")[1]} AS simhash
           FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
""")
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at hamming ≤ 6 via pigeonhole banding — the
    scale path, not an all-pairs join.

    Split the 32-bit simhash into HAMMING_MAX+1 = 7 chunks (5,5,5,5,
    4,4,4 bits).  Any pair within hamming 6 differs in at most 6
    chunks, so it agrees on at least one → an equi-join on
    (chunk_idx, chunk_val) generates every qualifying pair as a
    candidate, and the exact hamming filter verifies.  Shuffle size is
    the number of chunk collisions (near-linear for sparse dup sets),
    never n²; each side carries only (doc_id, simhash) — 16 bytes.
    """
    return simhash_pairs_from_hashes(simhash_docs(spark, sf_dir))


def simhash_pairs_from_hashes(sh: DataFrame,
                              chunk_cap: int | None = 5000) -> DataFrame:
    """(doc_id, simhash) → hamming ≤ HAMMING_MAX pairs via the
    pigeonhole chunk equi-join.  A duplicate-heavy corpus makes one
    (chunk_idx, chunk_val) key hot — the shared block-grid guard
    (``block_grid_self_join``) bounds that task at ~chunk_cap² join
    work with an identical pair set; the 8-byte simhash rides along
    both sides so verification stays in-join."""
    offsets, sizes = _SIMHASH_CHUNKS
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk_idx"),
            F.shiftright(F.col("simhash"), offsets[i])
            .bitwiseAND((1 << sizes[i]) - 1).alias("chunk_val"),
        )
        for i in range(len(sizes))
    ]
    chunks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*chunk_structs)).alias("c"),
    ).select("doc_id", "simhash",
             F.col("c.chunk_idx").alias("chunk_idx"),
             F.col("c.chunk_val").alias("chunk_val"))
    cands = block_grid_self_join(
        chunks, "doc_id", ["chunk_idx", "chunk_val"],
        "doc_a", "doc_b", chunk_cap,
        carry=(("simhash", "sh_a", "sh_b"),),
    )
    return (
        cands.select(
            "doc_a", "doc_b",
            F.bit_count(F.expr("sh_a ^ sh_b")).alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )

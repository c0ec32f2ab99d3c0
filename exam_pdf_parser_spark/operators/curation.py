"""Training-data curation composition: the dedup / quality / language
gates and the token-budget mixer a 100 TB corpus pipeline runs between
raw extraction and training shards.

All stages are declarative DataFrame ops over a ``documents``-shaped
input (doc_id, text, lang, …):

  * ``curate`` — one pass that tags every document keep/drop with the
    FIRST failing gate as provenance (duplicate → quality → language),
    so downstream can both filter and audit drop reasons.  Exact dedup
    keeps the first row per md5(text) group under a deterministic
    total order (row_number, so non-unique doc_ids still yield one
    keeper — one shuffle, same key as ``dedupe.exact_dup_assignment``);
    the quality gate reuses ``doc_quality``'s thresholds; nothing is
    silently dropped.
  * ``budget_sample`` — deterministic greedy data mixing: per language,
    rank by quality (uniq_ratio desc, doc_id tiebreak) and keep the
    PREFIX whose cumulative token count fits the budget.  One window
    per language partition; at corpus scale the shuffle is one sort
    per lang key (skewed languages: pre-split by salt and re-rank, or
    sample per shard — the prefix rule keeps either variant exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MIN_TOKENS = 20
MIN_UNIQ_RATIO = 0.2


def _with_stats(documents: DataFrame) -> DataFrame:
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # NULL text (quarantined extractions) → 0 tokens, never -1
    # (F.size returns -1 on null, which would poison budget cumsums)
    tokens = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(words))
    uniq = F.size(F.array_distinct(words)).cast("double") / \
        F.greatest(tokens, F.lit(1))
    return documents.withColumn("tokens", tokens).withColumn(
        "uniq_ratio", F.when(tokens > 0, uniq).otherwise(F.lit(0.0)))


def curate(
    documents: DataFrame,
    min_tokens: int = MIN_TOKENS,
    langs: list[str] | None = None,
) -> DataFrame:
    """(doc_id, text, lang, …) → same rows + (tokens, uniq_ratio,
    keep, drop_reason).  Gate order (first failure wins):
    duplicate → quality → lang; survivors get drop_reason NULL."""
    d = _with_stats(documents)
    # row_number (not min-id equality) so the decision stays one-keeper
    # -per-group even if doc_id is not unique (e.g. a CLI input keyed
    # by url hash where the same url was fetched twice).  The order key
    # is (doc_id, then every SMALL scalar column): text is constant
    # within an md5(text) window so it adds sort bytes but zero
    # discrimination, and binary blobs (html) would drag the document
    # body through the sort — both excluded.  Deterministic whenever
    # rows differ in any scalar column (url/warc_ts/lang in the
    # input_hint shape); rows identical in all of them tie, which is
    # harmless.  NULL text is never a "duplicate" — those rows fall
    # through to the quality gate.
    from pyspark.sql.types import BinaryType

    skip = {"doc_id", "text"} | {
        f.name for f in documents.schema.fields
        if isinstance(f.dataType, BinaryType)
    }
    order_cols = ["doc_id"] + [c for c in documents.columns if c not in skip]
    w = Window.partitionBy(F.md5("text")).orderBy(*order_cols)
    d = d.withColumn("_rn", F.row_number().over(w))
    is_dup = F.col("text").isNotNull() & (F.col("_rn") > 1)
    bad_quality = (F.col("tokens") < min_tokens) | \
        (F.col("uniq_ratio") < MIN_UNIQ_RATIO)
    bad_lang = (F.lit(False) if langs is None
                else ~F.col("lang").isin(*langs))
    reason = (
        F.when(is_dup, "duplicate")
        .when(bad_quality, "quality")
        .when(bad_lang, "lang")
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        d.withColumn("drop_reason", reason)
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_rn")
    )


def budget_sample(documents: DataFrame, budget_tokens: int,
                  durable_pin: str | None = None) -> DataFrame:
    """Deterministic greedy mixer: per ``lang`` group, rank docs by
    (uniq_ratio desc, doc_id asc) and keep the prefix whose running
    token total stays within ``budget_tokens``.  Prefix semantics —
    a document that would overflow the budget stops its group even if
    a smaller later document would fit — keep the rule exact and
    order-free across partitionings.

    Scale path, NOT a per-group window: ``Window.partitionBy(lang)``
    would put each language in ONE task (a handful of giant sorts at
    corpus scale).  Instead the ranking is a range-partitioned global
    sort on (lang, uniq desc, doc_id) — parallel within every group —
    and the running total is an exact two-pass distributed prefix sum:
    pass 1 collects per-(partition, group) token sums (a tiny table),
    pass 2 adds each partition's broadcast offset to its local running
    sums.  The sorted frame is localCheckpoint'd between the passes so
    the sampled range boundaries cannot shift under recomputation.

    Fault tolerance: by default the sorted frame is pinned with
    ``localCheckpoint`` — blocks live on executors only, so on a real
    cluster an executor loss discards them and FAILS the job
    (fail-loud, never silently-wrong boundaries).  For long cluster
    runs pass ``durable_pin=<path>``: the sorted frame is written to
    parquet there (with its partition ids) and re-read, so an executor
    loss RESUMES from the durable copy instead of restarting a 100 TB
    mixer from zero.  Cost: one durable write plus one pid-keyed
    shuffle on re-read (all rows of a sorted partition must land whole
    in one task again); output is identical to the in-memory pin.
    """
    from collections.abc import Iterator

    import pandas as pd

    d = _with_stats(documents)
    sort_keys = [F.col("lang"), F.desc("uniq_ratio"), F.asc("doc_id")]
    sorted_frame = (
        d.repartitionByRange(*sort_keys)
        .sortWithinPartitions(*sort_keys)
        .withColumn("_pid", F.spark_partition_id())
    )
    if durable_pin is None:
        ordered = sorted_frame.localCheckpoint(eager=False)
    else:
        sorted_frame.write.mode("overwrite").parquet(durable_pin)
        # re-read: a read task may hold several (whole) pids or split
        # one pid's file, so re-gather each pid into one task and
        # restore its row order — deterministic because (lang, uniq
        # desc, doc_id) totally orders rows within a pid
        ordered = (
            documents.sparkSession.read.parquet(durable_pin)
            .repartition("_pid")
            .sortWithinPartitions("_pid", *sort_keys)
        )

    part_sums = (
        ordered.groupBy("_pid", "lang")
        .agg(F.sum("tokens").alias("t"))
        .collect()
    )
    # NULL group keys get a sentinel: pandas groupby DROPS NaN keys,
    # which would give null-keyed rows NaN running sums and silently
    # filter them out downstream
    NULLKEY = "\x00<null>"
    # composite "pid\x01group" string keys: vectorized to build in the
    # cumsum pass, and they keep that pass correct even when one task
    # holds SEVERAL whole pids (the durable re-read path)
    offsets: dict[str, int] = {}
    running: dict[str, int] = {}
    for r in sorted(part_sums, key=lambda r: r["_pid"]):
        key = r["lang"] if r["lang"] is not None else NULLKEY
        offsets[f"{r['_pid']}\x01{key}"] = running.get(key, 0)
        running[key] = running.get(key, 0) + (r["t"] or 0)
    bc = documents.sparkSession.sparkContext.broadcast(offsets)

    out_schema = ordered.drop("_pid").schema.add("cum_tokens", "long")
    cols = [f.name for f in out_schema.fields]

    def cumsum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # running state spans one task's batches.  Vectorized:
        # per-batch groupby cumsum + a per-(pid, group) base offset
        # (partition offset from pass 1, plus the running total carried
        # from this task's earlier batches) — no per-row loop.  Keyed
        # by (pid, group) rather than group alone so a task holding
        # multiple whole pids (durable-pin re-read) stays exact.
        carry: dict[str, int] = {}
        off = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            gk = (pdf["_pid"].astype("int64").astype(str) + "\x01"
                  + pdf["lang"].fillna(NULLKEY))  # groupby drops NaN keys
            toks = pdf["tokens"].astype("int64")
            cums = toks.groupby(gk, sort=False).cumsum()
            bases = {g: carry.get(g, off.get(g, 0))
                     for g in gk.unique()}   # per-GROUP, not per-row
            cums = cums + gk.map(bases).astype("int64")
            ends = cums.groupby(gk, sort=False).max()
            carry.update(ends.to_dict())
            pdf = pdf.assign(cum_tokens=cums).drop(columns=["_pid"])
            yield pdf[cols]

    return (
        ordered.mapInPandas(cumsum, out_schema)
        .filter(F.col("cum_tokens") <= budget_tokens)
    )

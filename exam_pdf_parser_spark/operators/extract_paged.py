"""Giant documents: size-bounded output rows and their reassembly.

A pathological document (thousands of pages) needs no path of its
own.  ``extract_auto`` runs it through the same zero-shuffle
``mapInArrow`` pass as every other document (``extract()``) with the
``core/shard.py`` row rule on, so an oversized output is emitted as
several ``(shard_idx, n_shards)`` rows and no written row can exceed
task memory.  Routing a giant to a url-regrouped stage would not
shorten its critical path: a url group's whole detect still runs in
one task.

:func:`reassemble_sharded` rebuilds whole documents from the shard
rows, byte-identical to unsharded ``extract()`` output (asserted in
tests/test_shard_giants.py and tests/test_extract_paged.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .extract import extract


def extract_auto(documents: DataFrame, with_timing: bool = False,
                 shard_chars: int | None = None,
                 shard_spans: int | None = None, tally=None) -> DataFrame:
    """The extraction ``run_extraction`` writes: ``extract()`` over
    every document, giant or not, in one source scan and one
    ``mapInArrow`` with no exchange.

    ``shard_chars`` bounds every OUTPUT row under the ``core/shard.py``
    rule: the output gains ``(shard_idx, n_shards)`` and a document
    whose text or span list exceeds the thresholds splits into several
    rows.  The rule depends on the output size, not the payload size,
    so a small payload that expands to a giant output (a zlib bomb) is
    bounded too.  Byte identity holds under :func:`reassemble_sharded`.

    ``with_timing=True`` appends ``proc_us`` (the document's whole
    extraction time, on shard 0; 0 on the other shards).  ``tally``
    (see ``extract()``) counts the manifest's per-bucket stats in the
    same pass.
    """
    return extract(documents, with_timing=with_timing,
                   shard_chars=shard_chars, shard_spans=shard_spans,
                   tally=tally)


def release_routed_cache(result: DataFrame) -> None:
    """Unpersist the ``_routed_cache`` attached to a result, if any.

    No extraction in the package attaches one, so for ``extract_auto``
    and ``extract`` results this does nothing.  It stays while
    ``perfbench/workloads.py`` still calls it."""
    cache = getattr(result, "_routed_cache", None)
    if cache is not None:
        cache.unpersist()
        result._routed_cache = None


def reassemble_sharded(df: DataFrame) -> DataFrame:
    """``extract.SHARDED_EXTRACT_SCHEMA`` rows → one EXTRACT_SCHEMA row
    per url, under the ``core/shard.py`` reassembly rule: text chunks
    and span slices concatenated in ``shard_idx`` order; single-shard
    rows pass through (preserving a null error text).

    This is the VERIFICATION / small-consumer side of the contract —
    it deliberately rebuilds the giant row, so it must only run where
    that row fits (tests, spot-checks).  Scale consumers should read
    the sharded shape directly: ``spans`` slices explode to the same
    flat span table without reassembly, and text chunks stream.

    A document whose shard rows are not exactly ``0..n_shards-1``
    after the sort (a missing shard, a double-read file duplicating
    one) is QUARANTINED — status ``error``, NULL text, empty spans,
    and an error naming the observed shard_idx list — never silently
    concatenated truncated/doubled.  Same detection rule as the
    oracle side (``core.shard.reassemble_rows``, which raises); here
    it is per-document so one corrupt doc can't kill a full-corpus
    reassembly job."""
    from pyspark.sql import functions as F

    # no shard columns at all (a directory no run ever sharded, read
    # without the normalizing reader) — every row is a whole document
    if "shard_idx" not in df.columns:
        df = (df.withColumn("shard_idx", F.lit(0))
                .withColumn("n_shards", F.lit(1)))
    # NULL shard coordinates (rows read from a pre-shard directory
    # under a sharded schema) mean "the row is the whole document":
    # coalesce them to (0, 1) so such rows take the single-shard
    # pass-through below instead of the concat path — which would
    # silently coerce an error row's NULL text to "".
    parts = F.array_sort(F.collect_list(F.struct(
        F.coalesce(F.col("shard_idx"), F.lit(0)).alias("shard_idx"),
        F.col("extracted_text").alias("t"),
        F.col("spans").alias("s"))))
    agg = df.groupBy("url").agg(
        parts.alias("parts"),
        F.max(F.coalesce(F.col("n_shards"), F.lit(1))).alias("n_shards"),
        F.first("status").alias("status"),
        F.first("error").alias("error"),
    )
    # shard-set validity: after the sort the observed shard_idx list
    # must be exactly 0..n_shards-1 — count alone can't catch a
    # duplicated shard masking a missing one (same rule as the oracle
    # side, core.shard.reassemble_rows)
    idxs = F.transform("parts", lambda p: p["shard_idx"])
    idx_ok = idxs == F.sequence(F.lit(0), F.col("n_shards") - F.lit(1))
    # r10 (r8 ADVICE follow-through): a structurally VALID multi-shard
    # set where one part carries NULL spans would flatten() to NULL on
    # an ok-status row (size() reads -1 downstream).  The oracle twin
    # (core.shard.reassemble_rows) RAISES on that input (NULL is not
    # iterable), so the Spark side quarantines it; single-shard rows
    # pass through verbatim on both sides, NULL spans included.
    multi_null_spans = (F.col("n_shards") > 1) & F.exists(
        "parts", lambda p: p["s"].isNull())
    ok = idx_ok & ~multi_null_spans
    bad_err = F.when(~idx_ok, F.concat(
        F.lit("corrupt shard set: shard_idx ["),
        F.concat_ws(",", F.transform(
            "parts", lambda p: p["shard_idx"].cast("string"))),
        F.lit("] != 0.."), (F.col("n_shards") - 1).cast("string"))
    ).otherwise(F.lit("corrupt shard set: NULL spans in a multi-shard part"))
    # n_shards == 1: pass the chunk through untouched (it may be NULL —
    # concat_ws would coerce it to "")
    text = F.when(F.col("n_shards") == 1,
                  F.element_at("parts", 1)["t"]).otherwise(
        F.concat_ws("", F.transform("parts", lambda p: p["t"])))
    spans = F.flatten(F.transform("parts", lambda p: p["s"]))
    # Quarantine branch must ALWAYS be [] (the docstring's contract) —
    # but if any part carries NULL spans, flatten() is NULL and
    # F.slice(NULL, 1, 0) stays NULL, so size(spans) would read -1.
    # Coalesce to an empty array typed to THIS frame's spans column
    # (tests may use narrower span structs than SPAN_STRUCT).
    empty_spans = F.array().cast(df.schema["spans"].dataType)
    return agg.select(
        "url",
        F.when(ok, text).alias("extracted_text"),
        F.when(ok, spans)
         .otherwise(F.coalesce(F.slice(spans, 1, 0), empty_spans))
         .alias("spans"),
        F.when(ok, F.col("status")).otherwise(F.lit("error"))
         .alias("status"),
        F.when(ok, F.col("error")).otherwise(bad_err).alias("error"))

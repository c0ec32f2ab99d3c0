"""Stage A+B: the zero-shuffle extraction core.

Design (SURVEY.md §7.0, re-thought Spark-first): the reference's whole
per-document loop (layout → detect → assemble; src/parser.py:34-77,
src/cropper/detector.py:39-77) collapses into ONE ``mapInArrow`` over
the ``documents`` table.  Documents are independent, so the core
extraction needs **no shuffle at all** — parallelism is across rows,
Arrow-batched, and throughput scales linearly with cores/executors
(the north rule's N→4N efficiency criterion).  Cross-document logic
(validation, evaluation, dedup) happens downstream as native relational
ops on the much smaller ``spans``/``parsed`` tables.

One decode per document produces BOTH byte-identity artifacts:
``extracted_text`` and the ``spans`` array; ``spans`` explodes to the
flat span table without re-decoding (explode is a narrow op).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, IntegerType,
    StringType, StructField, StructType, TimestampType,
)

from ..core.assemble import extract_document

DOCUMENTS_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

SPAN_STRUCT = StructType([
    StructField("question_number", IntegerType(), False),
    StructField("page_idx", IntegerType(), False),
    StructField("x0", DoubleType(), False),
    StructField("y0", DoubleType(), False),
    StructField("x1", DoubleType(), False),
    StructField("y1", DoubleType(), False),
    StructField("text_preview", StringType(), False),
    StructField("spans_page", BooleanType(), False),
    StructField("group_range", StringType(), True),
    StructField("region_idx", IntegerType(), False),
])

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("extracted_text", StringType(), True),
    StructField("spans", ArrayType(SPAN_STRUCT), False),
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
])

# EXTRACT_SCHEMA + the shard coordinates (core/shard.py): the output
# shape of ``extract(shard_chars=...)``
SHARDED_EXTRACT_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [
        StructField("shard_idx", IntegerType(), False),
        StructField("n_shards", IntegerType(), False),
    ])


def quarantine_message(e: Exception) -> str:
    """The ``error`` text of a quarantined row, worded the same by every
    extraction path: exception class and message, capped at 500 chars."""
    return f"{type(e).__name__}: {e}"[:500]


def map_rows(rows: DataFrame, schema: StructType, row, error_row=None,
             task_end=None) -> DataFrame:
    """The one Python emitter of every per-document stage: a single
    ``mapInArrow`` over ``rows``' columns that builds ``schema``'s
    Arrow columns directly.

    ``row(state, *values)`` returns the output tuples of one input row,
    in ``schema``'s field order (a struct value may be a tuple or a
    dict).  If it raises, the row is quarantined, never the task:
    ``error_row(state, exc, *values)`` returns its output instead, and
    without ``error_row`` the row is dropped.  ``state`` is a dict
    private to the task; ``task_end(state)`` runs after the task's
    last batch.  A batch with no output rows yields nothing.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        state: dict = {}
        for rb in batches:
            out = []
            for values in zip(*(c.to_pylist() for c in rb.columns)):
                try:
                    out.extend(row(state, *values))
                except Exception as e:  # quarantine, never fail the task
                    if error_row is not None:
                        out.extend(error_row(state, e, *values))
            if out:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(col, f.type)
                     for col, f in zip(zip(*out), arrow_schema)],
                    schema=arrow_schema)
        if task_end is not None:
            task_end(state)

    return rows.mapInArrow(run, schema)


def _span_tuple(r) -> tuple:
    """A detector Region as a SPAN_STRUCT value, in field order."""
    return (r.question_number, r.page_idx, r.x0, r.y0, r.x1, r.y1,
            r.text_preview, r.spans_page, r.group_range, r.region_idx)


def span_dicts(regions) -> list[dict]:
    """Region list → SPAN_STRUCT dicts (the span shape of every
    extraction output, keyed by field name)."""
    return [dict(zip(SPAN_STRUCT.names, _span_tuple(r))) for r in regions]


def extract(documents: DataFrame, with_timing: bool = False,
            shard_chars: int | None = None,
            shard_spans: int | None = None, tally=None) -> DataFrame:
    """documents(url, …, html, …) → (url, extracted_text, spans, status, error).

    Catalyst prunes unused input columns before the UDF (only ``url``
    and ``html`` are read), so the scan never materializes ``text``.

    Quarantine semantics: a corrupt/undecodable payload must NOT fail
    the job at web scale — the row is emitted with ``status='error'``,
    a null text, no spans, and the exception message (reference
    analogue: the P9 MIME/size gate + per-file error capture,
    scripts/batch_parser.py:84-89).

    ``with_timing=True`` appends a ``proc_us`` column (per-document
    processing time, measured inside the task).  Off by default so
    the byte-identity output contract stays timing-free.

    ``shard_chars`` (off by default): bound every OUTPUT row under the
    ``core/shard.py`` rule — a document whose text exceeds
    ``shard_chars`` chars or whose span list exceeds ``shard_spans``
    (default ``core.shard.DEFAULT_SHARD_SPANS``) is emitted as several
    rows, and every row gains ``shard_idx``/``n_shards`` (before
    ``proc_us``, which lands on shard 0 only, so per-url sums stay the
    document's time).  Byte identity holds under
    ``extract_paged.reassemble_sharded``.

    ``tally`` (off by default): a ``sources.manifest.PartitionTally``
    accumulator.  The input then needs an int ``bucket`` column, and
    each task adds ``{partition id: {bucket: [docs, spans, errors,
    proc_us]}}`` summed per INPUT document (spans unsharded) once its
    batches are done.  The output is the same with or without it.
    """
    import time

    from pyspark import TaskContext
    from pyspark.sql.types import LongType

    from ..core.shard import DEFAULT_SHARD_SPANS, shard_row

    docs = documents.select(
        "url", "html", *(["bucket"] if tally is not None else []))
    sharding = shard_chars is not None
    if sharding and shard_spans is None:
        shard_spans = DEFAULT_SHARD_SPANS
    schema = SHARDED_EXTRACT_SCHEMA if sharding else EXTRACT_SCHEMA
    if with_timing:
        schema = StructType(
            schema.fields + [StructField("proc_us", LongType())])

    def emit(state, url, bucket, text, regions, status, error):
        proc = (time.perf_counter_ns() - state["t0"]) // 1000
        # shard_row only takes len() of and slices the span list, so
        # it shards the Region list as it stands
        doc = {"extracted_text": text, "spans": regions}
        shards = (shard_row(doc, shard_chars, shard_spans) if sharding
                  else [dict(doc, shard_idx=0, n_shards=1)])
        out = []
        for s in shards:
            cols = [url, s["extracted_text"],
                    [_span_tuple(r) for r in s["spans"]], status, error]
            if sharding:
                cols += [s["shard_idx"], s["n_shards"]]
            if with_timing:
                cols.append(proc if s["shard_idx"] == 0 else 0)
            out.append(cols)
        if tally is not None:
            t = state.setdefault("buckets", {}).setdefault(
                bucket, [0, 0, 0, 0])
            t[0] += 1
            t[1] += len(regions)
            t[2] += status == "error"
            t[3] += proc
        return out

    def row(state, url, html, bucket=None):
        state["t0"] = time.perf_counter_ns()
        text, regions = extract_document(bytes(html))
        return emit(state, url, bucket, text, regions, "ok", None)

    def error_row(state, e, url, html, bucket=None):
        return emit(state, url, bucket, None, [], "error",
                    quarantine_message(e))

    def task_end(state):
        tally.add({TaskContext.get().partitionId():
                   state.get("buckets", {})})

    return map_rows(docs, schema, row, error_row,
                    task_end if tally is not None else None)


def quarantine_table(extracted: DataFrame) -> DataFrame:
    """Rows that failed to decode — routed to a reject sink, not lost."""
    return extracted.filter(F.col("status") == "error").select("url", "error")


def spans_table(extracted: DataFrame) -> DataFrame:
    """Flatten the spans array → FIXTURES.md §3 span table (narrow op)."""
    return (
        extracted
        .select("url", F.explode("spans").alias("s"))
        .select("url", "s.*")
    )


def extracted_table(extracted: DataFrame) -> DataFrame:
    return (
        extracted.filter(F.col("status") == "ok")
        .select("url", "extracted_text")
    )


# ---------------------------------------------------------------------------
# Distributed corpus generation (same pure function as the driver-side
# generator — byte-identical either way).
# ---------------------------------------------------------------------------

CORPUS_FULL_SCHEMA = StructType(
    DOCUMENTS_SCHEMA.fields
    + [
        StructField("answer_md", StringType(), False),
        StructField("n_questions", IntegerType(), False),
        StructField("n_listening", IntegerType(), False),
    ]
)


def corpus_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    partitions: int | None = None,
    with_answer_key: bool = False,
) -> DataFrame:
    """Generate the synthetic corpus distributed over executors."""
    from ..corpus.generator import build_document

    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [build_document(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame({
                "url": [r["url"] for r in rows],
                "warc_ts": [r["warc_ts"] for r in rows],
                "html": [r["html"] for r in rows],
                "text": [r["text"] for r in rows],
                "lang": [r["lang"] for r in rows],
                "answer_md": [r["answer_md"] for r in rows],
                "n_questions": [r["n_questions"] for r in rows],
                "n_listening": [r["n_listening"] for r in rows],
            })

    df = spark.range(0, n_docs, 1, parts).mapInPandas(gen, CORPUS_FULL_SCHEMA)
    if with_answer_key:
        return df
    return df.select(*[f.name for f in DOCUMENTS_SCHEMA.fields])

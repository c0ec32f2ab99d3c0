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


def span_dicts(regions) -> list[dict]:
    """Region list → SPAN_STRUCT dicts (shared by every extraction
    variant so the span shape can never skew between paths)."""
    return [
        {
            "question_number": r.question_number,
            "page_idx": r.page_idx,
            "x0": r.x0, "y0": r.y0, "x1": r.x1, "y1": r.y1,
            "text_preview": r.text_preview,
            "spans_page": r.spans_page,
            "group_range": r.group_range,
            "region_idx": r.region_idx,
        }
        for r in regions
    ]


def extract(documents: DataFrame, min_q: int = 1, max_q: int = 50,
            with_timing: bool = False, shard_chars: int | None = None,
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

    import pyarrow as pa
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

    # r10 (guide §4.2): the emitter builds the Arrow output DIRECTLY —
    # flat per-field lists + one offsets array assembled into the
    # list<struct> spans column — instead of handing pandas a
    # list-of-dicts object column per row and paying pyarrow's
    # dict-walking conversion for ~35 span structs per document.
    # Output is hash-identical to the mapInPandas form (verified over
    # the full sf1 corpus) and the quarantine contract is unchanged.
    span_pa = pa.struct([
        ("question_number", pa.int32()), ("page_idx", pa.int32()),
        ("x0", pa.float64()), ("y0", pa.float64()),
        ("x1", pa.float64()), ("y1", pa.float64()),
        ("text_preview", pa.string()), ("spans_page", pa.bool_()),
        ("group_range", pa.string()), ("region_idx", pa.int32()),
    ])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        per_bucket: dict[int, list[int]] = {}
        for rb in batches:
            in_urls = rb.column(0).to_pylist()
            if not in_urls:  # empty batch → emit nothing (Arrow
                continue     # list<struct> inference has no rows to see)
            htmls = rb.column(1).to_pylist()
            keys = (rb.column(2).to_pylist() if tally is not None
                    else [None] * len(in_urls))
            urls, texts, status, errors, procs = [], [], [], [], []
            idxs, counts = [], []
            offs = [0]
            qn, pi = [], []
            x0, y0, x1, y1 = [], [], [], []
            tp, sp, gr, ri = [], [], [], []
            n = 0
            for url, html, key in zip(in_urls, htmls, keys):
                t0 = time.perf_counter_ns()
                try:
                    extracted, regions = extract_document(
                        bytes(html), min_q, max_q)
                    st, err = "ok", None
                except Exception as e:  # quarantine, never fail the task
                    extracted, regions = None, []
                    st, err = "error", quarantine_message(e)
                proc = (time.perf_counter_ns() - t0) // 1000
                if tally is not None:
                    t = per_bucket.setdefault(key, [0, 0, 0, 0])
                    t[0] += 1
                    t[1] += len(regions)
                    t[2] += st == "error"
                    t[3] += proc
                # shard_row only takes len() of and slices the span
                # list, so it shards the Region list as it stands
                row = {"extracted_text": extracted, "spans": regions}
                shards = (shard_row(row, shard_chars, shard_spans)
                          if sharding
                          else [dict(row, shard_idx=0, n_shards=1)])
                for shard in shards:
                    regs = shard["spans"]
                    urls.append(url)
                    texts.append(shard["extracted_text"])
                    status.append(st)
                    errors.append(err)
                    procs.append(proc if shard["shard_idx"] == 0 else 0)
                    idxs.append(shard["shard_idx"])
                    counts.append(shard["n_shards"])
                    for r in regs:
                        qn.append(r.question_number)
                        pi.append(r.page_idx)
                        x0.append(r.x0)
                        y0.append(r.y0)
                        x1.append(r.x1)
                        y1.append(r.y1)
                        tp.append(r.text_preview)
                        sp.append(r.spans_page)
                        gr.append(r.group_range)
                        ri.append(r.region_idx)
                    n += len(regs)
                    offs.append(n)
            struct = pa.StructArray.from_arrays(
                [pa.array(qn, pa.int32()), pa.array(pi, pa.int32()),
                 pa.array(x0, pa.float64()), pa.array(y0, pa.float64()),
                 pa.array(x1, pa.float64()), pa.array(y1, pa.float64()),
                 pa.array(tp, pa.string()), pa.array(sp, pa.bool_()),
                 pa.array(gr, pa.string()), pa.array(ri, pa.int32())],
                fields=list(span_pa))
            spans = pa.ListArray.from_arrays(pa.array(offs, pa.int32()),
                                             struct)
            cols = [pa.array(urls, pa.string()),
                    pa.array(texts, pa.string()),
                    spans,
                    pa.array(status, pa.string()),
                    pa.array(errors, pa.string())]
            if sharding:
                cols += [pa.array(idxs, pa.int32()),
                         pa.array(counts, pa.int32())]
            if with_timing:
                cols.append(pa.array(procs, pa.int64()))
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)
        if tally is not None:
            tally.add({TaskContext.get().partitionId(): per_bucket})

    return docs.mapInArrow(run, schema)


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

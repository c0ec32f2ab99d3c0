"""Giant-document skew path (SURVEY.md §7.3.5): page rows regrouped by
url for the stateful detection.

The whole-doc ``extract()`` is optimal when documents are small and
numerous.  One pathological document (thousands of pages) would stall
a task there.  Two entry points feed the same url-keyed stage B
(:func:`_detect_pages`):

* ``extract_paged`` takes a PAGED input table
  ``(url, page_idx, page_html)`` (one payload per page, the shape an
  Iceberg ingest of chunked WARC records would produce), decodes the
  pages fully in parallel (stage A), then shuffles them by url to
  stage B — "page-level parallelism inside one url, then a url-keyed
  group; the shuffle is the price of balance".
* ``extract_auto`` routes whole documents by size: the router decodes
  a giant once and emits its page JSON rows, which go through ONE url
  shuffle to stage B (router decode → url shuffle → stage B).

Byte-identity: stage B rebuilds the exact pages list (sorted by
page_idx) and calls the same shared ``detect_regions``/
``assemble_text`` — output equals the whole-doc path bit for bit
(asserted in tests/test_extract_paged.py).

Cost: ``extract_paged`` measured 3.6× slower than the whole-doc path
at 120k ordinary docs (1,669 vs 6,038 docs/sec at local[16]) — the url
shuffle plus the page JSON round-trip.  Route accordingly: whole-doc
``extract()`` for the bulk, the paged path only for documents above a
page-count threshold (``extract_auto`` does this by payload size)
where one row would otherwise stall a task.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..core.assemble import (
    annotate_block_texts, assemble_text, decode_payload, encode_payload,
)
from ..core.detector import detect_regions
from ..core.shard import DEFAULT_SHARD_SPANS, shard_row
from .extract import EXTRACT_SCHEMA, quarantine_message, span_dicts

# EXTRACT_SCHEMA + the shard coordinates (core/shard.py): emitted when
# giant-output sharding is enabled so no single output row can exceed
# task memory at the bucketed write
SHARDED_EXTRACT_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [
        StructField("shard_idx", IntegerType(), False),
        StructField("n_shards", IntegerType(), False),
    ])

PAGED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("page_idx", IntegerType(), False),
    StructField("page_html", BinaryType(), False),
])

_DECODED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("page_idx", IntegerType(), False),
    StructField("page_json", StringType(), False),
])


def paged_corpus_df(spark: SparkSession, n_docs: int, seed: int = 42,
                    partitions: int | None = None) -> DataFrame:
    """The synthetic corpus re-shaped to one row per page."""
    from ..corpus.generator import build_document

    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, payloads = [], [], []
            for i in pdf["id"]:
                d = build_document(int(i), seed)
                pages = decode_payload(d["html"])["pages"]
                for p in pages:
                    urls.append(d["url"])
                    idxs.append(p["page_idx"])
                    payloads.append(encode_payload({"v": 1, "pages": [p]}))
            if urls:
                yield pd.DataFrame(
                    {"url": urls, "page_idx": idxs, "page_html": payloads})

    return spark.range(0, n_docs, 1, parts).mapInPandas(gen, PAGED_SCHEMA)


def _page_json(page) -> str:
    """One page (or marker) as stage B reads it.  Stage A and the
    ``extract_auto`` router both encode through here, so a page is the
    same string whichever way it reaches stage B."""
    return json.dumps(page, ensure_ascii=False, sort_keys=True)


def _detect_pages(pages: DataFrame, min_q: int, max_q: int,
                  shard_chars: int | None,
                  shard_spans: int | None) -> DataFrame:
    """Stage B: ``(url, page_idx, page_json[, proc_us])`` rows → one
    EXTRACT_SCHEMA row per url (SHARDED_EXTRACT_SCHEMA rows when
    ``shard_chars`` is set), through one url shuffle.

    A page_json is a decoded page, or one of two markers:
    ``{"__error__": msg}`` for an undecodable payload (the url
    quarantines with that message when no page decoded) and
    ``{"__no_pages__": true}`` for a decodable zero-page payload (the
    url yields extract()'s empty-but-ok row).  When the input carries
    ``proc_us``, its per-url sum is emitted on shard 0 (0 on the other
    shards), so per-url sums stay the document's time."""
    timed = "proc_us" in pages.columns
    sharding = shard_chars is not None
    if sharding and shard_spans is None:
        shard_spans = DEFAULT_SHARD_SPANS
    out_schema = SHARDED_EXTRACT_SCHEMA if sharding else EXTRACT_SCHEMA
    if timed:
        out_schema = StructType(
            out_schema.fields + [StructField("proc_us", LongType())])

    def _rows(row: dict, proc_us: int) -> pd.DataFrame:
        # single exit point: apply the shard rule (or pass through) so
        # the quarantine path and the ok path emit the same shape
        rows = (shard_row(row, shard_chars, shard_spans) if sharding
                else [row])
        if timed:
            for r in rows:
                r["proc_us"] = proc_us if r.get("shard_idx", 0) == 0 else 0
        return pd.DataFrame(rows)

    # no type hints: Spark infers a pandas eval type from complete
    # hints only, and warns on every call about partial ones
    def detect(key, pdf):
        # the url-keyed stateful scan over rebuilt pages.  Same
        # quarantine contract as extract(): nothing a document
        # contains may fail the task.
        url = key[0]
        proc_us = int(pdf["proc_us"].sum()) if timed else 0
        try:
            return _rows(_detect_one(url, pdf), proc_us)
        except Exception as e:
            return _rows({
                "url": url, "extracted_text": None, "spans": [],
                "status": "error", "error": quarantine_message(e),
            }, proc_us)

    def _detect_one(url: str, pdf: pd.DataFrame) -> dict:
        pages = []
        corrupt = False
        errs: list[str] = []
        # column iteration, not iterrows() — no per-row Series boxing
        for page_json in pdf.sort_values("page_idx")["page_json"]:
            page = json.loads(page_json)
            if page is None:           # legacy corrupt marker
                corrupt = True
                continue
            if isinstance(page, dict) and "__error__" in page:
                corrupt = True
                errs.append(page["__error__"])
                continue
            if isinstance(page, dict) and page.get("__no_pages__"):
                continue               # decodable doc with zero pages
            pages.append(page)
        if corrupt and not pages:
            return {
                "url": url, "extracted_text": None, "spans": [],
                "status": "error",
                "error": errs[0] if errs else "all pages undecodable",
            }
        annotate_block_texts(pages)  # single text pass, as in extract()
        regions = detect_regions(pages, min_q, max_q)
        return {
            "url": url,
            "extracted_text": assemble_text(pages),
            "spans": span_dicts(regions),
            "status": "ok" if not corrupt else "partial",
            "error": None if not corrupt else "some pages undecodable",
        }

    return pages.groupBy("url").applyInPandas(detect, out_schema)


def extract_paged(paged: DataFrame, min_q: int = 1, max_q: int = 50,
                  shard_chars: int | None = None,
                  shard_spans: int | None = None) -> DataFrame:
    """(url, page_idx, page_html) → EXTRACT_SCHEMA rows, byte-identical
    to ``extract()`` over the equivalent whole-doc table.

    ``shard_chars`` (opt-in, round-7 ask #1): bound the OUTPUT row size
    — a document whose assembled text exceeds ``shard_chars`` chars or
    whose span list exceeds ``shard_spans`` (default
    ``core.shard.DEFAULT_SHARD_SPANS``) is emitted as multiple
    SHARDED_EXTRACT_SCHEMA rows under the ``core/shard.py`` rule, so the
    durable write never has to materialize one hundreds-of-MB row
    (the measured ~250 MB/slot OOM).  Byte identity holds under the
    documented reassembly rule (:func:`reassemble_sharded`)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # stage A: heavy zlib+json decode, embarrassingly parallel per PAGE
        for pdf in batches:
            urls, idxs, jsons = [], [], []
            for url, idx, blob in zip(
                    pdf["url"], pdf["page_idx"], pdf["page_html"]):
                try:
                    pgs = decode_payload(bytes(blob))["pages"]
                    # a decodable payload with zero pages is NOT
                    # corrupt — mark it so stage B reproduces the
                    # whole-doc path's empty-but-ok output
                    page = pgs[0] if pgs else {"__no_pages__": True}
                except Exception as e:  # quarantine with the REAL
                    page = {"__error__": quarantine_message(e)}  # message
                urls.append(url)
                idxs.append(int(idx))
                jsons.append(_page_json(page))
            if urls:
                yield pd.DataFrame(
                    {"url": urls, "page_idx": idxs, "page_json": jsons})

    return _detect_pages(paged.mapInPandas(decode, _DECODED_SCHEMA),
                         min_q, max_q, shard_chars, shard_spans)


def reassemble_sharded(df: DataFrame) -> DataFrame:
    """SHARDED_EXTRACT_SCHEMA rows → one EXTRACT_SCHEMA row per url,
    under the ``core/shard.py`` reassembly rule: text chunks and span
    slices concatenated in ``shard_idx`` order; single-shard rows pass
    through (preserving a null error text).

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


# --- automatic giant-doc routing ---------------------------------------------

# Whole-doc payloads run ~1,000 compressed bytes per page on the
# corpus (measured over 50 docs), so the byte threshold IS the header-
# cheap page-count proxy: 100_000 B ≈ a 100-page document, ~20× the
# largest ordinary doc.  Detection is a JVM-side length() — no decode,
# no Python.
GIANT_BYTES = 100_000


def _giant_pages(blob) -> Iterator[tuple[int, str]]:
    """One giant document's ``(page_idx, page_json)`` rows, decoded
    once, in the router.  A payload that fails to decode yields one
    ``__error__`` marker row with the real exception text, and a
    decodable zero-page payload one ``__no_pages__`` marker row, so
    stage B quarantines or empties the url exactly as ``extract()``
    does (nothing is dropped).  A generator: the router flushes rows
    in chunks, so one giant's page strings are never all held at
    once."""
    blob = bytes(blob) if blob is not None else b""
    try:
        pages = decode_payload(blob)["pages"]
    except Exception as e:
        yield 0, _page_json({"__error__": quarantine_message(e)})
        return
    if not pages:
        yield 0, _page_json({"__no_pages__": True})
        return
    for p in pages:
        yield int(p.get("page_idx", 0)), _page_json(p)


# marker value in ROUTED_SCHEMA.status for giant-doc page rows (never
# collides with extract()'s 'ok'/'error'/'partial')
_PAGE_STATUS = "__page__"

ROUTED_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [
        StructField("page_idx", IntegerType(), True),
        StructField("page_json", StringType(), True),
    ])


def extract_auto(documents: DataFrame, min_q: int = 1, max_q: int = 50,
                 giant_bytes: int = GIANT_BYTES,
                 with_timing: bool = False,
                 shard_chars: int | None = None,
                 shard_spans: int | None = None) -> DataFrame:
    """Size-routed extraction in a SINGLE source scan: one
    ``mapInPandas`` router reads each document once — ordinary
    documents are extracted in place (the zero-shuffle whole-doc path,
    byte-identical by construction: same :func:`extract_one_row`);
    documents above ``giant_bytes`` are decoded in the router and
    emitted as one page-JSON row per page, which reach the url-keyed
    stage B (:func:`_detect_pages`, shared with ``extract_paged``)
    through ONE url shuffle: router decode → url shuffle → stage B.
    Output is byte-identical to ``extract()`` either way; routing only
    changes WHERE a document's detect/assemble work lands, so one
    1,000-page document cannot stall a task.

    Scale note: the routed output is persisted (DISK_ONLY) so the two
    consumers — finished rows and the giant-page branch — share ONE
    materialization instead of re-scanning the source: the cache holds
    extraction RESULTS plus the rare giant pages (a few percent of
    input size at web scale), never the raw input table.  Only the
    rare giant pages cross the wire in the url shuffle, and AQE
    coalesces the exchange when no giants exist.  DISK_ONLY is a
    measured decision (round 8): a memory-tier cache of the full
    output competing with 32 concurrent shuffle writers OOM'd an 8g
    heap at 240k docs, while each block is consumed ~once right after
    materialization — the memory tier bought nothing but heap risk.

    **Cache lifetime (long-lived sessions)**: disk-backed blocks stay
    until unpersisted (LRU eviction never reclaims them).  The
    returned DataFrame
    carries the handle as ``result._routed_cache``; once the result
    has been fully consumed (written, collected), release it with
    :func:`release_routed_cache` (or
    ``result._routed_cache.unpersist()``).  ``run_extraction`` and the
    CLI do this after their durable writes; any other caller that runs
    many extractions in one session must do the same or accumulate
    disk-backed cache blocks.

    ``shard_chars`` (round-7 ask #1, opt-in): bound every OUTPUT row
    under the ``core/shard.py`` rule — output gains
    ``(shard_idx, n_shards)`` and rows above the thresholds split.
    Applied on BOTH branches: the giant branch (where the measured
    ~250 MB/slot write OOM lives) and the ordinary branch — a payload
    small enough to dodge the ``giant_bytes`` router can still expand
    to a giant output (zlib bombs), so the row-size guarantee must not
    depend on the routing decision.  Byte identity holds under
    :func:`reassemble_sharded`.

    ``with_timing=True`` appends ``proc_us`` (matching
    ``extract(with_timing=True)``, the manifest pipeline's per-bucket
    metric source): measured per ordinary document in the router;
    giant-routed documents report the router's decode and page
    encoding time only, carried through stage B and stamped on shard
    0 — their detect/assemble work in stage B is not timed, so a
    giant doc's ``proc_us`` UNDERSTATES its true cost.
    """
    import time

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from .extract import extract_one_row

    docs = documents.select("url", "html")
    sharding = shard_chars is not None
    if sharding and shard_spans is None:
        shard_spans = DEFAULT_SHARD_SPANS
    schema = ROUTED_SCHEMA
    if sharding:
        schema = StructType(
            schema.fields + [StructField("shard_idx", IntegerType(), False),
                             StructField("n_shards", IntegerType(), False)])
    if with_timing:
        schema = StructType(
            schema.fields + [StructField("proc_us", LongType())])
    cols = [f.name for f in schema.fields]

    # bounded emit: flush accumulated rows every CHUNK so one
    # pathological 50k-page document never holds its full page-row
    # set AND a same-size pandas copy in the worker at once — peak
    # per-worker memory stays O(doc decode) + O(CHUNK), not O(pages)
    chunk_rows = 4096

    def _frame(rows: list[dict]) -> pd.DataFrame:
        out = pd.DataFrame(rows, columns=cols)
        # nullable Int32 so Arrow sees int32-with-nulls, not
        # float64 (page_idx is None on every finished row)
        out["page_idx"] = pd.array(out["page_idx"], dtype="Int32")
        return out

    def route(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for url, blob in zip(pdf["url"], pdf["html"]):
                size = len(blob) if blob is not None else 0
                t0 = time.perf_counter_ns()
                if size <= giant_bytes:
                    r = extract_one_row(url, blob, min_q, max_q)
                    r["page_idx"] = None
                    r["page_json"] = None
                    proc = (time.perf_counter_ns() - t0) // 1000
                    # sharding applies here too (zlib-bomb guard: a
                    # small payload can expand to a giant output row);
                    # proc_us lands on shard 0 only so the per-url sum
                    # stays the document's actual time
                    shards = (shard_row(r, shard_chars, shard_spans)
                              if sharding else [r])
                    for s in shards:
                        if with_timing:
                            s["proc_us"] = proc if s.get(
                                "shard_idx", 0) == 0 else 0
                        rows.append(s)
                        if len(rows) >= chunk_rows:
                            yield _frame(rows)
                            rows = []
                else:
                    # the giant's router time, split over its page
                    # rows so their per-url sum is the time itself;
                    # the clock pauses while a full chunk is yielded
                    spent_ns = stamped_us = 0
                    for idx, page_json in _giant_pages(blob):
                        spent_ns += time.perf_counter_ns() - t0
                        row = {
                            "url": url, "extracted_text": None, "spans": [],
                            "status": _PAGE_STATUS, "error": None,
                            "page_idx": idx, "page_json": page_json,
                        }
                        if sharding:
                            # placeholder coordinates; the page rows are
                            # dropped before stage B emits real shard
                            # coordinates for the giant's output
                            row["shard_idx"] = 0
                            row["n_shards"] = 1
                        if with_timing:
                            row["proc_us"] = spent_ns // 1000 - stamped_us
                            stamped_us += row["proc_us"]
                        rows.append(row)
                        if len(rows) >= chunk_rows:
                            yield _frame(rows)
                            rows = []
                        t0 = time.perf_counter_ns()
            if rows:
                yield _frame(rows)

    # DISK_ONLY, not MEMORY_AND_DISK (round-8 measured fix): the cache
    # holds the ENTIRE extraction output, and letting it compete for
    # the unified memory region against 32 concurrent shuffle-write
    # tasks OOM'd the 8g heap at 240k docs (BENCH_SCALING.md
    # §soak-under-defaults; 120k was green, so the failure scales with
    # corpus size, not document shape).  Each cache block is read back
    # ~once per consumer immediately after materialization, so the
    # memory tier buys little; disk-backed blocks keep the heap for
    # the shuffle and the run completed 240k at 8g in 39.6 s.
    routed = docs.mapInPandas(route, schema).persist(
        StorageLevel.DISK_ONLY)
    timing_cols = ["proc_us"] if with_timing else []
    done_cols = ([f.name for f in EXTRACT_SCHEMA.fields]
                 + (["shard_idx", "n_shards"] if sharding else [])
                 + timing_cols)
    done = routed.filter(F.col("status") != _PAGE_STATUS).select(*done_cols)
    # the giant branch: the router's page rows go straight to stage B,
    # whose url grouping is the branch's only shuffle; it moves only
    # the rare giant pages
    giant_pages = routed.filter(F.col("status") == _PAGE_STATUS).select(
        "url", "page_idx", "page_json", *timing_cols)
    giant_done = _detect_pages(giant_pages, min_q, max_q,
                               shard_chars, shard_spans)
    result = done.unionByName(giant_done)
    # cache-lifetime handle: long-lived sessions should release the
    # routed materialization once the result has been consumed —
    # result._routed_cache.unpersist() (run_extraction does this after
    # its durable write) — rather than clearCache()ing everything
    result._routed_cache = routed
    return result


def release_routed_cache(result: DataFrame) -> None:
    """Unpersist the routed materialization attached to an
    :func:`extract_auto` result (no-op for plain ``extract`` output,
    or if already released).  Call once the result has been consumed;
    see the cache-lifetime note in :func:`extract_auto`."""
    cache = getattr(result, "_routed_cache", None)
    if cache is not None:
        cache.unpersist()
        result._routed_cache = None

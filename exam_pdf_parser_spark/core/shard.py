"""Giant-output sharding rule (round-7 verdict ask #1).

A pathological document's reassembled output row — ``extracted_text``
plus its full ``spans`` array — can exceed executor task memory: the
measured envelope (BENCH_SCALING.md round 6) is a 50k-page document
whose single row OOMs the bucketed parquet write at ~250 MB/slot
(``UNABLE_TO_ACQUIRE_MEMORY``).  At 100 TB the fat tail *will* exceed
any fixed slot size, so the engine itself bounds row size: output rows
for oversized documents are SHARDED — each shard carries a fixed-size
slice of the text and of the span list, plus ``(shard_idx, n_shards)``.

The rule is deliberately SIZE-based, not page-based: a single giant
page would defeat page-granularity sharding, while char/span slicing
bounds every row no matter how the document is shaped.

Reassembly rule (the byte-identity contract, asserted in
tests/test_shard_giants.py):

  * ``extracted_text`` = the concatenation of every shard's text chunk
    in ``shard_idx`` order (chunks past the text length are ``""`` —
    concatenation-neutral);
  * ``spans`` = the concatenation of every shard's span slice in
    ``shard_idx`` order (slices past the list are ``[]``);
  * ``status`` / ``error`` are identical on every shard of a url; rows
    with ``status='error'`` (null text) are never split.

This module is pure Python — shared verbatim by the Spark stage
(``operators/extract.py``) and the tests/oracle, per the
byte-identity invariant in CLAUDE.md.
"""

from __future__ import annotations

import math

# Defaults bound a shard row to single-digit MB: 2M chars of text
# (≤ ~8 MB UTF-8 worst case) + 10k spans (~2 MB).  The 50k-page stress
# doc (272k spans, ~150 MB text) shards to ~75 rows — each far inside
# the ~250 MB/slot envelope that the unsharded row overflowed.
DEFAULT_SHARD_CHARS = 2_000_000
DEFAULT_SHARD_SPANS = 10_000


def shard_count(text_len: int, n_spans: int,
                shard_chars: int = DEFAULT_SHARD_CHARS,
                shard_spans: int = DEFAULT_SHARD_SPANS) -> int:
    """How many shards an output of this size splits into: the max of
    the two per-axis ceilings, never less than 1 (the pinned shard
    decision — see test_shard_decision)."""
    return max(1,
               math.ceil(text_len / shard_chars),
               math.ceil(n_spans / shard_spans))


def shard_row(row: dict,
              shard_chars: int = DEFAULT_SHARD_CHARS,
              shard_spans: int = DEFAULT_SHARD_SPANS) -> list[dict]:
    """One EXTRACT_SCHEMA-shaped dict → its sharded rows (each the
    same dict plus ``shard_idx``/``n_shards``).  A row at or under the
    thresholds, or an error row (null text), passes through as a
    single shard — so sharding is a no-op exactly when the row was
    already write-safe."""
    text = row["extracted_text"]
    spans = row["spans"]
    if text is None:
        return [dict(row, shard_idx=0, n_shards=1)]
    n = shard_count(len(text), len(spans), shard_chars, shard_spans)
    if n == 1:
        return [dict(row, shard_idx=0, n_shards=1)]
    return [
        dict(row,
             extracted_text=text[i * shard_chars:(i + 1) * shard_chars],
             spans=spans[i * shard_spans:(i + 1) * shard_spans],
             shard_idx=i, n_shards=n)
        for i in range(n)
    ]


def reassemble_rows(shards: list[dict]) -> dict:
    """Pure-Python reassembly of one url's shard rows (the oracle side
    of the byte-identity contract; the Spark side is
    ``operators.extract_paged.reassemble_sharded``)."""
    shards = sorted(shards, key=lambda r: r["shard_idx"])
    n = shards[0]["n_shards"]
    if len(shards) != n:
        raise ValueError(
            f"incomplete shard set for {shards[0]['url']}: "
            f"{len(shards)} of {n}")
    # count alone can't catch a duplicated shard masking a missing one
    # (e.g. a double-read file): require exactly 0..n-1 after the sort
    idxs = [s["shard_idx"] for s in shards]
    if idxs != list(range(n)):
        raise ValueError(
            f"corrupt shard set for {shards[0]['url']}: "
            f"shard_idx {idxs} != {list(range(n))}")
    out = dict(shards[0])
    if n > 1:
        out["extracted_text"] = "".join(
            s["extracted_text"] for s in shards)
        out["spans"] = [sp for s in shards for sp in s["spans"]]
    out.pop("shard_idx", None)
    out.pop("n_shards", None)
    return out

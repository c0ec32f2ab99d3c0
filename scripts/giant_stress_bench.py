"""Pathological giant-document stress (round-6 verdict ask #4): one
~50k-page document planted among ordinary docs, run through the
durable pipeline under the capped 8g JVM heap, asserting

  * byte identity — the giant's extracted_text/spans, reassembled from
    its shard rows, equal the unsharded ``extract()`` of the same
    payload;
  * quarantine — the planted corrupt row is one ``error`` row;
  * no OOM — the run completes; per-process peak RSS of every Python
    worker is sampled from /proc and reported;
  * the no-op resume — a second run processes zero buckets.

Usage: python scripts/giant_stress_bench.py [n_pages] [n_docs] [--no-shard]

The DEFAULT mode passes NO sharding knob at all — ``run_extraction``
defaults are the safe ones (shard at the core/shard.py threshold), so
this script certifies that a caller who remembered nothing survives
the 50k-page giant at the exact config that OOM'd unsharded (8g heap ×
local[32], ~250 MB/slot), byte identity asserted through the shard
reassembly rule.  ``--no-shard`` disables row sharding
(``shard_chars=None``; it needs a heap that can absorb the giant's
single output row).  ``--shard`` is accepted as a no-op for
continuity with round-7 invocations.

Prints one JSON line; results recorded in BENCH_SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS_DIR = "/tmp/scaling_corpus"          # shared with scaling_bench
OUT_DIR = "/tmp/giant_stress_out"


class RssMonitor(threading.Thread):
    """Sample per-process RSS of this session's python workers from
    /proc; keeps the MAX single-process value (the metric that OOMs a
    capped executor) and the max summed value."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.max_single_kb = 0
        self.max_total_kb = 0
        self._stop = threading.Event()

    def _sample(self) -> None:
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == os.getpid():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read().replace(b"\0", b" ")
                if b"java" in cmd:          # the driver JVM is capped
                    continue                # by -Xmx; track WORKERS
                if b"pyspark" not in cmd:  # workers run pyspark.daemon / .worker
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            kb = int(line.split()[1])
                            total += kb
                            self.max_single_kb = max(
                                self.max_single_kb, kb)
                            break
            except OSError:
                continue
        self.max_total_kb = max(self.max_total_kb, total)

    def run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            time.sleep(self.interval)

    def stop(self) -> None:
        self._stop.set()


def build_giant(n_pages: int) -> tuple[str, bytes]:
    """Tile one ordinary doc's pages out to n_pages (the byte-identity
    contract cares about the two code paths, not content novelty)."""
    from exam_pdf_parser_spark.core.assemble import (
        decode_payload, encode_payload,
    )
    from exam_pdf_parser_spark.corpus.generator import build_document

    base = decode_payload(build_document(0)["html"])["pages"]
    pages = []
    while len(pages) < n_pages:
        for p in base:
            if len(pages) >= n_pages:
                break
            q = dict(p)
            q["page_idx"] = len(pages)
            pages.append(q)
    return "https://giant.example/doc", encode_payload(
        {"v": 1, "pages": pages})


def main() -> None:
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.operators.extract import corpus_df, extract
    from exam_pdf_parser_spark.session import get_spark
    from exam_pdf_parser_spark.sources.manifest import run_extraction

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    shard = "--no-shard" not in sys.argv[1:]
    n_pages = int(args[0]) if len(args) > 0 else 50_000
    n_docs = int(args[1]) if len(args) > 1 else 120_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shard:
        # pure engine defaults (round-8 ask #2): pass NO knobs — the
        # reported threshold is what run_extraction resolves to
        from exam_pdf_parser_spark.core.shard import DEFAULT_SHARD_CHARS
        shard_chars = DEFAULT_SHARD_CHARS
        run_kwargs: dict = {}
    else:
        shard_chars = None
        run_kwargs = {"shard_chars": None}

    spark = get_spark("giant-stress", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    url_g, html_g = build_giant(n_pages)
    giant_mb = len(html_g) / 1e6
    # decoded working-set estimate: the extracting task holds the
    # parsed JSON
    decoded_mb = len(
        __import__("zlib").decompress(html_g[5:])) / 1e6 \
        if html_g[:5] == b"XLAY1" else float("nan")

    marker = os.path.join(CORPUS_DIR, "_SOAK_N")
    if not (os.path.exists(marker)
            and open(marker).read() == str(n_docs)):
        corpus_df(spark, n_docs, partitions=128).write.mode(
            "overwrite").parquet(CORPUS_DIR)
        with open(marker, "w") as f:
            f.write(str(n_docs))
    docs = spark.read.parquet(CORPUS_DIR).select("url", "html")
    mixed = docs.unionByName(spark.createDataFrame(
        [(url_g, bytearray(html_g)),
         ("https://bad.example/x", bytearray(b"garbage payload"))],
        "url string, html binary"))

    gdf = spark.createDataFrame(
        [(url_g, bytearray(html_g))], "url string, html binary")

    mon = RssMonitor()
    mon.start()
    shutil.rmtree(OUT_DIR, ignore_errors=True)
    t0 = time.perf_counter()
    s1 = run_extraction(spark, mixed, OUT_DIR, "giant-stress",
                        n_buckets=64, **run_kwargs)
    wall = time.perf_counter() - t0
    mon.stop()

    written = spark.read.parquet(os.path.join(OUT_DIR, "extracted"))
    n_giant_shards = 1
    if shard:
        # reassemble DRIVER-side with the pure shard rule: the Spark
        # helper (reassemble_sharded) would rebuild the giant row
        # inside one agg task — the very allocation sharding exists to
        # avoid; its byte-identity is pinned at test scale in
        # tests/test_shard_giants.py
        from exam_pdf_parser_spark.core.shard import reassemble_rows
        g_rows = [r.asDict(recursive=True)
                  for r in written.filter(F.col("url") == url_g).collect()]
        n_giant_shards = len(g_rows)
        assert n_giant_shards == g_rows[0]["n_shards"] > 1
        assert all(len(r["extracted_text"]) * 4 + len(r["spans"]) * 400
                   < 32_000_000 for r in g_rows)   # rows really bounded
        for r in g_rows:
            r.pop("proc_us", None)
            r.pop("bucket", None)
        giant_row = [reassemble_rows(g_rows)]
    else:
        giant_row = written.filter(F.col("url") == url_g).collect()
    assert len(giant_row) == 1 and giant_row[0]["status"] == "ok"
    bad_row = written.filter(
        F.col("url") == "https://bad.example/x").collect()
    assert len(bad_row) == 1 and bad_row[0]["status"] == "error"

    # byte identity vs the whole-doc path on the same payload
    def span_tuples(spans):
        # Row (unsharded collect) or dict (driver reassembly) — both
        # preserve SPAN_STRUCT field order
        return [tuple(s.values()) if isinstance(s, dict) else tuple(s)
                for s in spans]

    ref = extract(gdf).collect()[0]
    got = giant_row[0]
    identical = (ref["extracted_text"] == got["extracted_text"]
                 and span_tuples(ref["spans"])
                 == span_tuples(got["spans"]))
    assert identical, "sharded giant diverged from unsharded extract"

    t0 = time.perf_counter()
    s2 = run_extraction(spark, mixed, OUT_DIR, "giant-resume",
                        n_buckets=64, **run_kwargs)
    resume = time.perf_counter() - t0
    assert s2["buckets_processed"] == 0

    print(json.dumps({
        "metric": "giant-doc-stress",
        "mode": "pure-defaults" if shard else "no-shard",
        "shard_chars": shard_chars,
        "giant_shards": n_giant_shards,
        "n_pages": n_pages,
        "giant_payload_mb": round(giant_mb, 1),
        "giant_decoded_mb": round(decoded_mb, 1),
        "ordinary_docs": n_docs,
        "wall_sec": round(wall, 1),
        "docs_per_sec": round((n_docs + 2) / wall, 1),
        "resume_noop_sec": round(resume, 1),
        "byte_identical": identical,
        "giant_spans": len(got["spans"]),
        "max_worker_rss_mb": round(mon.max_single_kb / 1024, 1),
        "max_workers_total_rss_mb": round(mon.max_total_kb / 1024, 1),
        "jvm_heap_cap": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "cpus": int(cpus),
        "buckets": s1["buckets_processed"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()

"""~1M-document durable-pipeline soak (round-8 verdict ask #5).

240k was the largest committed end-to-end run; at 1M docs (~2.6 GB
input parquet) the manifest, compaction, bucket-slice, and shard paths
see a file/row volume regime none of the tests reach.  Everything runs
under PURE ``run_extraction`` DEFAULTS (round-8 ask #2: giant routing
+ row sharding on):

  * run A — slice mode (16 slices over 64 buckets,
    ``compact_after=4`` so compaction fires repeatedly mid-pipeline);
  * resume over A — must be a clean no-op;
  * run B — a DIFFERENT slice topology (half as many, twice as wide)
    into a fresh dir, same corpus;
  * assert order-insensitive ``output_md5(A) == output_md5(B)``
    (byte determinism across run topologies at 1M);
  * the bench anchors (jvm / shuffle / frozen-corpus docs/s) are
    probed IN-SESSION and quoted in the artifact so host phase is
    attributable (the committed bands grade them).

Slice mode is the measured memory envelope at this scale: a 1M
ONE-SHOT under the default 8g driver heap (local[32] = 250 MB/slot)
OOMs in the scan/cache-put path — 32 concurrent tasks' Arrow + scan +
spill buffers for ~5 KB blobs need ~0.5 GB/slot; the one-shot is green
at 16g (measured separately, BASELINE.md §million-soak).  Bounding
in-flight volume by construction is what the bucket-slice mode is FOR
— the 100 TB shape is many bounded backfill runs against one manifest,
never one job holding the whole crawl.  ``--oneshot-b`` switches run B
back to a one-shot for envelope experiments.

Usage: python scripts/million_soak.py [n_docs] [n_slices] [compact_after]
                                      [--oneshot-b]
Prints one JSON line; results recorded in BASELINE.md §million-soak.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORPUS_DIR = "/tmp/million_corpus"
OUT_A = "/tmp/million_soak_sliced"
OUT_B = "/tmp/million_soak_oneshot"
N_BUCKETS = 64


def _output_md5(spark, out_dir: str) -> str:
    """Order-insensitive content hash over the raw output ROWS
    (including shard coordinates).  The shard rule is a deterministic
    pure function of content, so two runs of any slice topology over
    the same corpus produce the same row SET — raw-row hashing is
    exactly as strict as reassembled hashing here and avoids
    reassembly's full shuffle of the wide output (a first draft of
    this soak OOM'd the 8g heap in precisely that shuffle; per-row
    md5 folds each wide row to 32 bytes before any exchange)."""
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.sources.manifest import read_extracted

    # blob-aware scan sizing: the default 4096-row columnar batches of
    # ~10 KB text+spans rows are ~40-150 MB of on-heap vectors PER TASK
    # — 32 concurrent scan tasks OOM'd the 8g heap here.  The bound
    # that fixed it (256-row batches, a few MB/task) is now
    # read_extracted's own safe default (promoted from this script to
    # the engine after the 1M run recorded the lesson); this function
    # just uses the reader as any consumer would.
    rows = read_extracted(spark, out_dir)
    return (
        rows.select(F.md5(F.concat_ws(
            "\x00", "url",
            F.col("shard_idx").cast("string"),
            F.coalesce("extracted_text", F.lit("")),
            F.coalesce("error", F.lit("")),
            F.to_json("spans"))).alias("h"))
        .agg(F.md5(F.concat_ws(
            "", F.sort_array(F.collect_list("h")))).alias("H"))
        .first()["H"])


def main() -> None:
    import bench
    from exam_pdf_parser_spark.operators.extract import corpus_df, extract
    from exam_pdf_parser_spark.session import get_spark
    from exam_pdf_parser_spark.sources.manifest import run_extraction

    from pyspark.sql import functions as F

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    oneshot_b = "--oneshot-b" in sys.argv[1:]
    n_docs = int(args[0]) if len(args) > 0 else 1_000_000
    n_slices = int(args[1]) if len(args) > 1 else 16
    compact_after = int(args[2]) if len(args) > 2 else 4
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    spark = get_spark("million-soak", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.range(1000).selectExpr("sum(id)").collect()

    # host-phase anchors, quoted in-artifact (graded by ANCHOR_BANDS)
    jvm_anchor = min(bench._jvm_anchor_runs(spark, 2))
    shuffle_anchor = min(bench._shuffle_anchor_runs(spark, 2))
    frozen_df = bench._frozen_corpus(
        spark, "/root/testdata/sf0.1").repartition(int(cpus) * 4).persist()
    n_frozen = frozen_df.count()
    extract(frozen_df).select(F.count("*")).collect()
    t0 = time.perf_counter()
    extract(frozen_df).select(F.count("*")).collect()
    frozen_dps = n_frozen / (time.perf_counter() - t0)
    frozen_df.unpersist()

    marker = os.path.join(CORPUS_DIR, "_SOAK_N")
    t0 = time.perf_counter()
    if not (os.path.exists(marker)
            and open(marker).read() == str(n_docs)):
        corpus_df(spark, n_docs, partitions=256).write.mode(
            "overwrite").parquet(CORPUS_DIR)
        with open(marker, "w") as f:
            f.write(str(n_docs))
    gen_wall = time.perf_counter() - t0
    docs = spark.read.parquet(CORPUS_DIR)

    # --- run A: sliced, compaction firing mid-pipeline (pure defaults)
    shutil.rmtree(OUT_A, ignore_errors=True)
    per = N_BUCKETS // n_slices
    events = []
    t0 = time.perf_counter()
    for i in range(n_slices):
        hi = N_BUCKETS if i == n_slices - 1 else (i + 1) * per
        stats = run_extraction(
            spark, docs, OUT_A, f"slice-{i:02d}", n_buckets=N_BUCKETS,
            buckets=list(range(i * per, hi)), compact_after=compact_after)
        if stats["compaction"] is not None:
            events.append({"after_slice": i, **stats["compaction"]})
    a_wall = time.perf_counter() - t0

    t0 = time.perf_counter()
    s = run_extraction(spark, docs, OUT_A, "resume", n_buckets=N_BUCKETS,
                       compact_after=compact_after)
    resume = time.perf_counter() - t0
    assert s["buckets_processed"] == 0, s

    # --- run B: different topology, fresh dir, same corpus (defaults)
    shutil.rmtree(OUT_B, ignore_errors=True)
    t0 = time.perf_counter()
    if oneshot_b:
        run_extraction(spark, docs, OUT_B, "oneshot", n_buckets=N_BUCKETS)
        b_mode = "one-shot"
    else:
        nb = max(1, n_slices // 2)
        per_b = N_BUCKETS // nb
        for i in range(nb):
            hi = N_BUCKETS if i == nb - 1 else (i + 1) * per_b
            run_extraction(spark, docs, OUT_B, f"b-{i:02d}",
                           n_buckets=N_BUCKETS,
                           buckets=list(range(i * per_b, hi)),
                           compact_after=compact_after)
        b_mode = f"{nb}-slice"
    b_wall = time.perf_counter() - t0

    t0 = time.perf_counter()
    md5_a = _output_md5(spark, OUT_A)
    md5_b = _output_md5(spark, OUT_B)
    hash_wall = time.perf_counter() - t0
    assert md5_a == md5_b, (md5_a, md5_b)
    assert events, "compaction never fired — soak misconfigured"

    mdir = os.path.join(OUT_A, "manifest")
    n_manifest = sum(1 for f in os.listdir(mdir)
                     if f.endswith(".parquet") and not f.startswith("."))
    n_rows = spark.read.parquet(f"{OUT_A}/extracted").count()

    print(json.dumps({
        "metric": "million-soak",
        "n_docs": n_docs, "n_buckets": N_BUCKETS, "n_slices": n_slices,
        "compact_after": compact_after, "cpus": int(cpus),
        "defaults": "shard_chars engine default (r8)",
        "corpus_gen_sec": round(gen_wall, 1),
        "sliced_wall_sec": round(a_wall, 1),
        "sliced_docs_per_sec": round(n_docs / a_wall, 1),
        "run_b_mode": b_mode,
        "run_b_wall_sec": round(b_wall, 1),
        "run_b_docs_per_sec": round(n_docs / b_wall, 1),
        "resume_noop_sec": round(resume, 2),
        "compaction_events": events,
        "manifest_files_final": n_manifest,
        "output_rows": n_rows,
        "md5_identical": md5_a == md5_b,
        "output_md5": md5_a,
        "content_hash_sec": round(hash_wall, 1),
        "anchors_in_session": {
            "jvm_anchor_sec": round(jvm_anchor, 3),
            "shuffle_anchor_sec": round(shuffle_anchor, 3),
            "frozen_docs_per_sec": round(frozen_dps, 1),
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()

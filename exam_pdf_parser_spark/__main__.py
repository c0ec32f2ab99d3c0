"""CLI — the reference's user surface re-expressed over the engine.

    python -m exam_pdf_parser_spark extract   IN.parquet OUT_DIR
    python -m exam_pdf_parser_spark parse     IN.parquet OUT_DIR
    python -m exam_pdf_parser_spark validate  IN.parquet OUT_DIR
    python -m exam_pdf_parser_spark evaluate  IN.parquet OUT_DIR
    python -m exam_pdf_parser_spark crop      IN.parquet OUT_DIR
    python -m exam_pdf_parser_spark run       IN.parquet OUT_DIR   (manifest+resume;
        row sharding ON by default — --shard-chars N|0
        --bucket-slice 0-15 --compact-after K)
    python -m exam_pdf_parser_spark reassemble RUN_DIR OUT.parquet (sharded -> whole docs)
    python -m exam_pdf_parser_spark curate    IN.parquet OUT_DIR   (dedup/quality/lang gates)
    python -m exam_pdf_parser_spark gen-corpus N OUT.parquet       (synthetic input)

IN.parquet must carry the input_hint schema (url, warc_ts, html, text,
lang); ``evaluate``/``validate`` additionally use an ``answer_md``
column when present.  Reference analogues: src/cli.py (single parse),
scripts/batch_parser.py (batch), --validate (src/cli.py:263-283),
src/evaluator.py, crop_and_explain (src/cropper/__init__.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="exam_pdf_parser_spark")
    ap.add_argument("command", choices=[
        "extract", "parse", "validate", "evaluate", "crop", "run",
        "reassemble", "curate", "gen-corpus"])
    ap.add_argument("input", help="input parquet (or N for gen-corpus)")
    ap.add_argument("output", help="output directory / parquet path")
    ap.add_argument("--master", default=None)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--run-id", default="cli")
    ap.add_argument(
        "--pdf", action="store_true",
        help="gen-corpus: emit the html column as REAL PDF bytes "
             "(core/pdf.py writer) instead of the XLAY1 container")
    ap.add_argument(
        "--shard-chars", type=int, default=None,
        help="run: output-row size bound (core/shard.py rule) — "
             "documents past the threshold write as (shard_idx, "
             "n_shards) rows; DEFAULT: core.shard.DEFAULT_SHARD_CHARS; "
             "0 disables sharding (output carries no shard columns); "
             "consume with the reassemble command or "
             "sources.manifest.read_extracted")
    ap.add_argument(
        "--bucket-slice", default=None,
        help="run: restrict this run to a bucket subset — '0-15', "
             "'3,7,9' or a mix; other buckets stay pending for "
             "later runs (sharded backfill)")
    ap.add_argument(
        "--compact-after", type=int, default=64,
        help="run: fold the manifest into one file when it exceeds "
             "this many visible parquet files")
    ap.add_argument(
        "--allow-partial", action="store_true",
        help="reassemble: proceed even when the run dir has pending "
             "buckets (emits a partial corpus)")
    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark(f"cli-{args.command}", master=args.master)
    try:
        return _dispatch(spark, args)
    finally:
        spark.stop()


def _dispatch(spark, args) -> int:
    if args.command == "gen-corpus":
        from .operators.extract import corpus_df

        n = int(args.input)
        df = corpus_df(spark, n, with_answer_key=True)
        if getattr(args, "pdf", False):
            from pyspark.sql.functions import pandas_udf
            from pyspark.sql.types import BinaryType

            @pandas_udf(BinaryType())
            def to_pdf(html):
                import pandas as pd

                from exam_pdf_parser_spark.core.assemble import (
                    decode_payload,
                )
                from exam_pdf_parser_spark.core.pdf import build_pdf
                return pd.Series([
                    build_pdf(decode_payload(bytes(h))["pages"])
                    for h in html])

            df = df.withColumn("html", to_pdf("html"))
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"command": "gen-corpus", "docs": n,
                          "pdf": bool(getattr(args, "pdf", False)),
                          "path": args.output}))
        return 0

    if args.command == "reassemble":
        # RUN_DIR is a `run` output (possibly sharded, possibly a mix
        # of pre-shard and sharded bucket generations) — read through
        # the schema-merging reader, rebuild whole documents under the
        # byte-identity rule.  Deliberately rebuilds the giant rows:
        # a consumer that can't hold them should read the sharded
        # shape directly instead.
        import os

        from .operators.extract_paged import reassemble_sharded
        from .sources.manifest import completed_buckets, read_extracted

        # completeness: a partially-backfilled dir (slice runs still
        # pending) must not silently masquerade as the whole corpus
        pending = None
        derived = False
        done = None
        meta_path = os.path.join(args.input, "run_meta.json")
        try:
            with open(meta_path) as f:
                n_buckets = json.load(f)["n_buckets"]
            # a parseable file with a non-positive-int value (null,
            # "64", 0) is just as corrupt as unparseable JSON — null
            # would silently DISABLE the completeness guard, a string
            # would crash range() below outside this handler
            if not isinstance(n_buckets, int) \
                    or isinstance(n_buckets, bool) or n_buckets < 1:
                raise ValueError(f"bad n_buckets: {n_buckets!r}")
        except FileNotFoundError:
            # pre-guard / object-store run dirs were never stamped:
            # derive a LOWER BOUND on n_buckets from the bucket ids
            # that exist on disk (manifest + extracted partition dirs)
            # so the guard still catches holes INSIDE the observed id
            # range; tail buckets past the max seen are unknowable
            # without run_meta.json, so completeness stays unverified
            done = set(completed_buckets(spark, args.input))
            ids = set(done)
            ext = os.path.join(args.input, "extracted")
            if os.path.isdir(ext):
                for name in os.listdir(ext):
                    if name.startswith("bucket="):
                        try:
                            ids.add(int(name.split("=", 1)[1]))
                        except ValueError:
                            pass
            n_buckets = (max(ids) + 1) if ids else None
            derived = True
        except (json.JSONDecodeError, KeyError, TypeError, ValueError):
            # same guided recovery text as sources.manifest._check_run_meta
            # rather than a raw traceback (the file gates `run` resumes
            # too, so it must be fixed either way)
            print(f"reassemble: {meta_path} is corrupt — it should "
                  'hold {"n_buckets": N} for this run dir; restore it '
                  "with the directory's original bucket count (or "
                  "delete it to proceed with a derived lower bound "
                  "and an unverified-completeness warning)",
                  file=sys.stderr)
            return 3
        if n_buckets is not None:
            if done is None:  # derived path already scanned the manifest
                done = set(completed_buckets(spark, args.input))
            pending = sorted(set(range(n_buckets)) - done)
            if pending and not getattr(args, "allow_partial", False):
                print(f"reassemble: {len(pending)} of {n_buckets} "
                      f"buckets still pending (e.g. {pending[:8]}) — "
                      "finish the backfill, or pass --allow-partial "
                      "to emit the partial corpus knowingly",
                      file=sys.stderr)
                return 3
        if derived:
            if n_buckets is None:
                print("reassemble: run_meta.json absent and no bucket "
                      "ids found on disk — completeness unverified",
                      file=sys.stderr)
            else:
                print("reassemble: run_meta.json absent — completeness "
                      f"checked against a derived lower bound "
                      f"(n_buckets >= {n_buckets}); buckets past the "
                      "highest id seen on disk cannot be verified",
                      file=sys.stderr)

        whole = reassemble_sharded(
            read_extracted(spark, args.input).drop("proc_us", "bucket"))
        whole.write.mode("overwrite").parquet(args.output)
        from pyspark.sql import functions as F
        stats = spark.read.parquet(args.output).agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("error").startswith("corrupt shard set"),
                         1).otherwise(0)).alias("corrupt")).first()
        n, corrupt = stats["n"], int(stats["corrupt"] or 0)
        if corrupt:
            # quarantined, not fatal: the rows carry status=error and
            # an error naming the observed shard_idx list — surface
            # the count so a double-read/missing-shard input can't
            # hide inside an exit-0 run
            print(f"reassemble: {corrupt} documents quarantined "
                  "(corrupt shard sets) — see their error column in "
                  "the output", file=sys.stderr)
        print(json.dumps({"command": "reassemble", "docs": n,
                          "corrupt_docs": corrupt,
                          "pending_buckets": len(pending or []),
                          "path": args.output}))
        return 0

    docs = spark.read.parquet(args.input)

    if args.command == "extract":
        from .operators.extract import (
            extract, extracted_table, quarantine_table, spans_table,
        )

        ext = extract(docs).persist()
        spans_table(ext).write.mode("overwrite").parquet(
            f"{args.output}/spans")
        extracted_table(ext).write.mode("overwrite").parquet(
            f"{args.output}/extracted")
        quarantine_table(ext).write.mode("overwrite").parquet(
            f"{args.output}/quarantine")
        stats = ext.groupBy("status").count().collect()
        ext.unpersist()
        print(json.dumps({"command": "extract",
                          "status": {r["status"]: r["count"] for r in stats}}))
        return 0

    if args.command == "parse":
        from .operators.parsed import parse_documents

        out = f"{args.output}/parsed"
        parse_documents(docs).write.mode("overwrite").parquet(out)
        # count the written rows: a count of the stage would rerun it
        print(json.dumps({"command": "parse",
                          "questions": spark.read.parquet(out).count()}))
        return 0

    if args.command == "validate":
        from .operators.parsed import answer_key_table, parse_documents
        from .operators.validation import validate, validity_rollup

        key = answer_key_table(docs) if "answer_md" in docs.columns else None
        parsed = parse_documents(docs).persist()
        issues = validate(parsed, key, documents=docs).persist()
        issues.write.mode("overwrite").parquet(f"{args.output}/issues")
        rollup = validity_rollup(issues, parsed)
        rollup.write.mode("overwrite").parquet(f"{args.output}/validity")
        n_invalid = rollup.filter("NOT is_valid").count()
        print(json.dumps({"command": "validate",
                          "issues": issues.count(),
                          "invalid_docs": n_invalid}))
        return 1 if n_invalid else 0  # exit-code contract like validate.py:807

    if args.command == "evaluate":
        from .operators.evaluation import evaluate_questions, score_urls
        from .operators.parsed import answer_key_table, parse_documents
        from .sources.report import markdown_summary

        if "answer_md" not in docs.columns:
            print("evaluate requires an answer_md column", file=sys.stderr)
            return 2
        qe = evaluate_questions(parse_documents(docs), answer_key_table(docs))
        scores = score_urls(qe).persist()
        scores.write.mode("overwrite").parquet(f"{args.output}/scores")
        rows = [r.asDict() for r in scores.collect()]
        with open(f"{args.output}/report.md", "w") as f:
            f.write(markdown_summary("evaluation", rows))
        mean = sum(r["overall_score"] for r in rows) / max(1, len(rows))
        print(json.dumps({"command": "evaluate", "docs": len(rows),
                          "mean_overall": round(mean, 4)}))
        return 0

    if args.command == "crop":
        from .operators.crop import crop_regions

        out = f"{args.output}/crops"
        crop_regions(docs).write.mode("overwrite").parquet(out)
        print(json.dumps({"command": "crop",
                          "crops": spark.read.parquet(out).count()}))
        return 0

    if args.command == "run":
        from .sources.manifest import run_extraction

        slice_arg = getattr(args, "bucket_slice", None)
        bucket_subset = None
        if slice_arg:
            bucket_subset = []
            for part in str(slice_arg).split(","):
                if "-" in part:
                    lo, hi = part.split("-", 1)
                    bucket_subset.extend(range(int(lo), int(hi) + 1))
                else:
                    bucket_subset.append(int(part))
        # row sharding is the engine default; --shard-chars 0 turns
        # it off (tests drive _dispatch with minimal arg stubs)
        shard_arg = getattr(args, "shard_chars", None)
        kwargs = {}
        if shard_arg is not None:
            kwargs["shard_chars"] = shard_arg or None
        stats = run_extraction(
            spark, docs, args.output, args.run_id,
            n_buckets=args.buckets,
            compact_after=getattr(args, "compact_after", 64),
            buckets=bucket_subset, **kwargs)
        print(json.dumps({"command": "run", **stats}))
        return 0

    if args.command == "curate":
        from .operators.curation import curate

        # documents-shaped input keyed by url when no doc_id exists
        from pyspark.sql import functions as F

        src = docs if "doc_id" in docs.columns else docs.withColumn(
            "doc_id", F.xxhash64("url"))
        tagged = curate(src).persist()
        tagged.filter("keep").write.mode("overwrite").parquet(
            f"{args.output}/kept")
        tagged.filter("NOT keep").write.mode("overwrite").parquet(
            f"{args.output}/dropped")
        reasons = {
            (r["drop_reason"] or "kept"): r["count"]
            for r in tagged.groupBy("drop_reason").count().collect()
        }
        print(json.dumps({"command": "curate", "reasons": reasons}))
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())

"""Checkpoint-manifest semantics: resume skips completed buckets and
the resumed output is identical to a clean one-shot run."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from exam_pdf_parser_spark.operators.extract import corpus_df
from exam_pdf_parser_spark.sources.manifest import (
    completed_buckets, read_extracted, run_extraction, with_bucket,
)

N_DOCS = 60
N_BUCKETS = 8


@pytest.fixture()
def out_dir():
    d = tempfile.mkdtemp(prefix="manifest_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _jobs(sc, fn) -> int:
    """The number of Spark jobs ``fn()`` starts."""
    import uuid

    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    # job-start events reach the status store through the async
    # listener bus: drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_then_resume_noop(spark, out_dir):
    docs = corpus_df(spark, N_DOCS, partitions=4)
    s1 = run_extraction(spark, docs, out_dir, "run1", n_buckets=N_BUCKETS)
    assert s1["buckets_processed"] > 0
    done = completed_buckets(spark, out_dir)
    assert len(done) == s1["buckets_processed"]

    # resume with nothing pending → no bucket reprocessed
    s2 = run_extraction(spark, docs, out_dir, "run2", n_buckets=N_BUCKETS)
    assert s2["buckets_processed"] == 0
    assert s2["buckets_skipped"] == len(done)


def test_resume_noop_builds_no_extraction(spark, out_dir, monkeypatch):
    """With no bucket pending, a resume returns before building the
    extraction or running an (empty) write job."""
    from exam_pdf_parser_spark.operators import extract_paged

    docs = corpus_df(spark, 20, partitions=2)
    s1 = run_extraction(spark, docs, out_dir, "run1", n_buckets=N_BUCKETS)

    def boom(*a, **k):
        raise AssertionError("resume no-op built an extraction plan")

    monkeypatch.setattr(extract_paged, "extract_auto", boom)
    s2 = run_extraction(spark, docs, out_dir, "run2", n_buckets=N_BUCKETS)
    assert s2["buckets_processed"] == 0
    assert s2["buckets_skipped"] == s1["buckets_processed"] == N_BUCKETS


@pytest.mark.parametrize("coalesce", ["true", "false"])
def test_bucketed_write_one_file_per_bucket_dir(spark, out_dir, coalesce):
    """The write exchange is keyed by bucket with no partition count,
    so AQE picks the task count; every bucket dir still holds exactly
    one data file, with fewer and with more buckets than shuffle
    partitions.  With AQE coalescing off the write really runs one
    task per shuffle partition — where an exchange not keyed by bucket
    would leave several files in a bucket dir."""
    import os

    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    docs = corpus_df(spark, N_DOCS, partitions=4)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for n_buckets in (max(1, parts // 2), parts * 2):
        out = os.path.join(out_dir, f"b{n_buckets}")
        spark.conf.set(conf, coalesce)
        try:
            s = run_extraction(spark, docs, out, "layout",
                               n_buckets=n_buckets)
        finally:
            spark.conf.set(conf, prev)
        assert s["buckets_processed"] == n_buckets
        ext = os.path.join(out, "extracted")
        dirs = sorted(d for d in os.listdir(ext) if d.startswith("bucket="))
        assert dirs == [f"bucket={b}" for b in sorted(
            {r["bucket"] for r in with_bucket(docs, n_buckets)
             .select("bucket").collect()})]
        for d in dirs:
            files = [f for f in os.listdir(os.path.join(ext, d))
                     if f.endswith(".parquet")]
            assert len(files) == 1, (n_buckets, d, files)


def test_resume_after_partial_failure(spark, out_dir):
    docs = corpus_df(spark, N_DOCS, partitions=4)
    full = run_extraction(spark, docs, out_dir, "full", n_buckets=N_BUCKETS)
    expected = (
        spark.read.parquet(f"{out_dir}/extracted")
        .select("url", "extracted_text").orderBy("url").collect()
    )

    # simulate a crash: keep only half the manifest rows (some buckets
    # "never finished") and corrupt their output dirs by deleting them
    mdf = spark.read.parquet(f"{out_dir}/manifest")
    buckets = sorted(r["bucket"] for r in
                     mdf.select("bucket").distinct().collect())
    lost = buckets[: len(buckets) // 2]
    kept = mdf.filter(~F.col("bucket").isin(lost)).collect()
    shutil.rmtree(f"{out_dir}/manifest")
    spark.createDataFrame(kept, mdf.schema).write.parquet(
        f"{out_dir}/manifest")
    for b in lost:
        shutil.rmtree(f"{out_dir}/extracted/bucket={b}", ignore_errors=True)

    s = run_extraction(spark, docs, out_dir, "resume", n_buckets=N_BUCKETS)
    assert s["buckets_processed"] == len(lost)
    assert s["buckets_skipped"] == len(buckets) - len(lost)

    got = (
        spark.read.parquet(f"{out_dir}/extracted")
        .select("url", "extracted_text").orderBy("url").collect()
    )
    assert got == expected  # byte-identical to the clean run
    assert full["buckets_processed"] == len(buckets)


def test_killed_run_never_marks_done_without_data(spark, out_dir,
                                                  monkeypatch):
    """Round-4 ask: the manifest commit is a single temp-file +
    atomic-rename — a run killed mid-commit leaves NO visible manifest
    row (only an invisible dot-temp), so no bucket can be marked done
    without its data, and the next run resumes everything cleanly."""
    import os

    import exam_pdf_parser_spark.sources.manifest as mf

    docs = corpus_df(spark, N_DOCS, partitions=4)
    real_rename = os.rename

    def killed_rename(src, dst):
        if f"{os.sep}manifest{os.sep}" in str(dst):
            raise OSError("simulated kill mid manifest commit")
        return real_rename(src, dst)

    monkeypatch.setattr(mf.os, "rename", killed_rename)
    with pytest.raises(OSError, match="simulated kill"):
        run_extraction(spark, docs, out_dir, "killed", n_buckets=N_BUCKETS)
    monkeypatch.undo()

    # data was written, but not one bucket is marked done...
    assert completed_buckets(spark, out_dir) == []
    mdir = f"{out_dir}/manifest"
    visible = [f for f in os.listdir(mdir)
               if not f.startswith((".", "_"))] if os.path.isdir(mdir) else []
    assert visible == []        # only the dot-temp remains

    # ...and a clean rerun processes every bucket and lands consistent
    s = run_extraction(spark, docs, out_dir, "retry", n_buckets=N_BUCKETS)
    assert s["buckets_processed"] > 0 and s["buckets_skipped"] == 0
    assert sorted(completed_buckets(spark, out_dir)) == sorted(
        r["bucket"] for r in spark.read.parquet(f"{out_dir}/extracted")
        .select("bucket").distinct().collect())


def test_two_writer_manifest_consistency(spark, out_dir):
    """A stale second writer (computed its pending set before the
    first writer committed) double-commits done-rows for the same
    buckets.  The manifest must stay consistent: each committed file
    is whole, completed_buckets is a distinct set, and a subsequent
    resume processes nothing and changes nothing."""
    from exam_pdf_parser_spark.sources.manifest import _commit_manifest

    docs = corpus_df(spark, N_DOCS, partitions=4)
    s1 = run_extraction(spark, docs, out_dir, "writerA", n_buckets=N_BUCKETS)
    done = sorted(completed_buckets(spark, out_dir))
    before = (spark.read.parquet(f"{out_dir}/extracted")
              .select("url", "extracted_text").orderBy("url").collect())

    # writer B raced: it saw an empty manifest, (re)wrote the same
    # deterministic bucket data, and now commits its own done-rows
    _commit_manifest(out_dir, "writerB",
                     [("writerB", b, "done", 0, 0, 0, 1, 0, 0.0)
                      for b in done])

    assert sorted(completed_buckets(spark, out_dir)) == done  # distinct
    mdf = spark.read.parquet(f"{out_dir}/manifest")
    assert mdf.count() == 2 * len(done)       # both commits whole
    assert {r["run_id"] for r in
            mdf.select("run_id").distinct().collect()} == \
        {"writerA", "writerB"}

    s3 = run_extraction(spark, docs, out_dir, "resume", n_buckets=N_BUCKETS)
    assert s3["buckets_processed"] == 0
    assert s3["buckets_skipped"] == len(done)
    after = (spark.read.parquet(f"{out_dir}/extracted")
             .select("url", "extracted_text").orderBy("url").collect())
    assert after == before
    assert s1["buckets_processed"] == len(done)


def test_manifest_compaction_bounds_files_and_preserves_resume(
        spark, out_dir):
    """Round-4 ask #7: one-file-per-run commits accrete without bound;
    opt-in compaction rewrites them to ONE file, after which
    completed_buckets and a resume behave exactly as before."""
    import os

    from exam_pdf_parser_spark.sources.manifest import (
        _commit_manifest, compact_manifest,
    )

    docs = corpus_df(spark, N_DOCS, partitions=4)
    run_extraction(spark, docs, out_dir, "run1", n_buckets=N_BUCKETS)
    # two later runs each committed their own manifest file
    _commit_manifest(out_dir, "run2",
                     [("run2", 98, "done", 0, 0, 0, 1, 0, 0.0)])
    _commit_manifest(out_dir, "run3",
                     [("run3", 99, "done", 0, 0, 0, 1, 0, 0.0)])
    mdir = f"{out_dir}/manifest"

    def visible():
        return sorted(f for f in os.listdir(mdir)
                      if f.endswith(".parquet") and not f.startswith("."))

    assert len(visible()) == 3
    before = sorted(completed_buckets(spark, out_dir))
    rows_before = spark.read.parquet(mdir).count()

    stats = compact_manifest(out_dir)
    assert stats["files_before"] == 3 and stats["files_after"] == 1
    assert len(visible()) == 1
    assert spark.read.parquet(mdir).count() == rows_before
    assert sorted(completed_buckets(spark, out_dir)) == before

    # resume after compaction: nothing reprocessed
    s = run_extraction(spark, docs, out_dir, "resume", n_buckets=N_BUCKETS)
    assert s["buckets_processed"] == 0
    # idempotent: a second compaction is a no-op
    assert compact_manifest(out_dir)["files_after"] == 1


def test_two_writer_consistency_across_compaction(spark, out_dir):
    """A writer committing DURING compaction (after the merged file's
    rename, before the old files' removal — the race window) must keep
    its rows: compaction removes only the files it snapshotted."""
    from exam_pdf_parser_spark.sources.manifest import (
        _commit_manifest, compact_manifest,
    )

    docs = corpus_df(spark, N_DOCS, partitions=4)
    run_extraction(spark, docs, out_dir, "writerA", n_buckets=N_BUCKETS)
    _commit_manifest(out_dir, "stale",
                     [("stale", 97, "done", 0, 0, 0, 1, 0, 0.0)])
    done_before = sorted(completed_buckets(spark, out_dir))

    def race():
        _commit_manifest(out_dir, "writerB",
                         [("writerB", 96, "done", 0, 0, 0, 1, 0, 0.0)])

    stats = compact_manifest(out_dir, _race_hook=race)
    # writer B's file landed mid-compaction and survived
    assert stats["files_after"] == 2
    got = sorted(completed_buckets(spark, out_dir))
    assert got == sorted(done_before + [96])

    s = run_extraction(spark, docs, out_dir, "resume", n_buckets=N_BUCKETS)
    assert s["buckets_processed"] == 0
    # the NEXT compaction folds writer B in
    assert compact_manifest(out_dir)["files_after"] == 1
    assert sorted(completed_buckets(spark, out_dir)) == got


def test_killed_compaction_loses_nothing(spark, out_dir, monkeypatch):
    """Compactor killed mid-write leaves only a dot-temp (old files
    intact); killed mid-removal leaves duplicates that stay
    distinct-correct and fold away on the next compaction."""
    import os

    import exam_pdf_parser_spark.sources.manifest as mf

    docs = corpus_df(spark, N_DOCS, partitions=4)
    run_extraction(spark, docs, out_dir, "runA", n_buckets=N_BUCKETS)
    mf._commit_manifest(out_dir, "runB",
                        [("runB", 95, "done", 0, 0, 0, 1, 0, 0.0)])
    done = sorted(completed_buckets(spark, out_dir))

    # kill before the rename → nothing visible changed
    real_rename = os.rename

    def die_rename(src, dst):
        if "part-compact" in str(dst):
            raise OSError("killed before compaction rename")
        return real_rename(src, dst)

    monkeypatch.setattr(mf.os, "rename", die_rename)
    with pytest.raises(OSError, match="killed before"):
        mf.compact_manifest(out_dir)
    monkeypatch.undo()
    assert sorted(completed_buckets(spark, out_dir)) == done

    # kill mid-removal → duplicates, still distinct-correct
    real_remove = os.remove
    state = {"n": 0}

    def die_remove(path):
        state["n"] += 1
        if state["n"] >= 2:
            raise OSError("killed mid removal")
        return real_remove(path)

    monkeypatch.setattr(mf.os, "remove", die_remove)
    with pytest.raises(OSError, match="mid removal"):
        mf.compact_manifest(out_dir)
    monkeypatch.undo()
    assert sorted(completed_buckets(spark, out_dir)) == done
    # next compaction completes and converges to one file
    assert mf.compact_manifest(out_dir)["files_after"] == 1
    assert sorted(completed_buckets(spark, out_dir)) == done


def test_run_extraction_routes_giants(spark, out_dir):
    """A default run extracts a giant document in place inside the
    durable pipeline: output is byte-identical to the unsharded run,
    errors still quarantine, and every bucket lands in the manifest."""
    from tests.test_extract_paged import _giant_doc

    url_g, html_g = _giant_doc()
    docs = corpus_df(spark, 20, partitions=2).select("url", "html") \
        .unionByName(spark.createDataFrame(
            [(url_g, html_g), ("https://bad.example/x", b"garbage")],
            "url string, html binary"))

    s = run_extraction(spark, docs, out_dir, "auto", n_buckets=N_BUCKETS)
    assert s["buckets_processed"] == N_BUCKETS
    written = spark.read.parquet(f"{out_dir}/extracted")
    got = {r["url"]: r for r in written.collect()}
    assert got[url_g]["status"] == "ok" and len(got[url_g]["spans"]) > 0
    assert got["https://bad.example/x"]["status"] == "error"

    # byte parity with the unsharded pipeline
    import shutil
    ref_dir = out_dir + "_ref"
    try:
        run_extraction(spark, docs, ref_dir, "ref", n_buckets=N_BUCKETS,
                       shard_chars=None)
        want = {r["url"]: r for r in
                spark.read.parquet(f"{ref_dir}/extracted").collect()}
        assert set(got) == set(want)
        for url, w in want.items():
            assert got[url]["extracted_text"] == w["extracted_text"], url
            assert [s_.asDict() for s_ in got[url]["spans"]] == \
                [s_.asDict() for s_ in w["spans"]], url
    finally:
        shutil.rmtree(ref_dir, ignore_errors=True)

    # manifest cpu metrics exist for ordinary buckets (proc_us real)
    mdf = spark.read.parquet(f"{out_dir}/manifest")
    assert mdf.filter("cpu_ms > 0").count() > 0


def test_bucketing_is_deterministic(spark):
    docs = corpus_df(spark, 20, partitions=2)
    a = {r["url"]: r["bucket"]
         for r in with_bucket(docs, 16).select("url", "bucket").collect()}
    b = {r["url"]: r["bucket"]
         for r in with_bucket(docs, 16).select("url", "bucket").collect()}
    assert a == b
    assert all(0 <= v < 16 for v in a.values())


def test_per_bucket_throughput_metrics(spark, out_dir):
    """North rule: the manifest must carry per-partition throughput and
    error metrics — cpu_ms / docs_per_cpu_sec are summed from in-task
    per-document timings, per bucket."""
    docs = corpus_df(spark, N_DOCS, partitions=4)
    run_extraction(spark, docs, out_dir, "metrics", n_buckets=N_BUCKETS)
    rows = spark.read.parquet(f"{out_dir}/manifest").collect()
    assert rows
    nonempty = [r for r in rows if r["docs_in"] > 0]
    assert nonempty
    total_docs = 0
    for r in nonempty:
        assert r["cpu_ms"] > 0
        assert r["docs_per_cpu_sec"] > 0
        assert r["errors"] == 0
        total_docs += r["docs_in"]
    assert total_docs == N_DOCS


def test_concurrent_compactors_both_complete(spark, out_dir):
    """Two compact_manifest calls racing over the same snapshot: the
    loser finds its files already removed by the winner.  Neither may
    raise (FileNotFoundError is suppressed in the removal loop), the
    done-set is unchanged (duplicate rows are harmless under the
    idempotent-read contract), and a follow-up compaction converges
    back to one visible file."""
    import os

    from exam_pdf_parser_spark.sources.manifest import (
        _commit_manifest, compact_manifest,
    )

    docs = corpus_df(spark, N_DOCS, partitions=4)
    run_extraction(spark, docs, out_dir, "runA", n_buckets=N_BUCKETS)
    _commit_manifest(out_dir, "runB",
                     [("runB", 95, "done", 0, 0, 0, 1, 0, 0.0)])
    done = sorted(completed_buckets(spark, out_dir))

    rival_stats: dict = {}

    def rival():
        # a second full compaction inside the first's race window
        # (after its rename, before its removals)
        rival_stats.update(compact_manifest(out_dir))

    compact_manifest(out_dir, _race_hook=rival)   # must not raise
    assert rival_stats["files_after"] >= 1
    assert sorted(completed_buckets(spark, out_dir)) == done

    assert compact_manifest(out_dir)["files_after"] == 1
    assert sorted(completed_buckets(spark, out_dir)) == done
    mdir = os.path.join(out_dir, "manifest")
    assert not [f for f in os.listdir(mdir) if f.startswith(".tmp")]


def test_compactor_race_in_merge_read(spark, out_dir):
    """The OTHER interleaving: a rival compactor runs to completion
    between our snapshot listing and our merge reads, so every file we
    listed is already gone.  The reads must skip the vanished files
    (their rows are durable in the rival's part-compact file), not
    raise FileNotFoundError out of a successfully-committed run; the
    done-set is unchanged."""
    import os

    from exam_pdf_parser_spark.sources.manifest import (
        _commit_manifest, compact_manifest,
    )

    docs = corpus_df(spark, N_DOCS, partitions=4)
    run_extraction(spark, docs, out_dir, "runA", n_buckets=N_BUCKETS)
    _commit_manifest(out_dir, "runB",
                     [("runB", 95, "done", 0, 0, 0, 1, 0, 0.0)])
    done = sorted(completed_buckets(spark, out_dir))

    def rival():
        # full rival compaction inside our listing→read window:
        # merges and REMOVES every file in our snapshot
        compact_manifest(out_dir)

    stats = compact_manifest(out_dir, _race_hook_read=rival)  # no raise
    assert stats["rows"] is None          # nothing left to read
    assert sorted(completed_buckets(spark, out_dir)) == done
    mdir = os.path.join(out_dir, "manifest")
    visible = [f for f in os.listdir(mdir)
               if f.endswith(".parquet") and not f.startswith(".")]
    assert len(visible) == 1              # the rival's compacted file
    assert not [f for f in os.listdir(mdir) if f.startswith(".tmp")]


def test_auto_compaction_trigger(spark, out_dir):
    """run_extraction(compact_after=K) is the retention policy: once
    the manifest directory exceeds K visible files, the run folds them
    into one after its commit; below the threshold it leaves the
    directory alone.  Resume semantics are unchanged either way."""
    from exam_pdf_parser_spark.sources.manifest import _commit_manifest

    docs = corpus_df(spark, N_DOCS, partitions=4)
    run_extraction(spark, docs, out_dir, "r0", n_buckets=N_BUCKETS,
                   compact_after=3)
    for i in range(4):                    # accrete one-file-per-run commits
        _commit_manifest(out_dir, f"acc{i}",
                         [(f"acc{i}", 90 + i, "done", 0, 0, 0, 1, 0, 0.0)])
    done = sorted(completed_buckets(spark, out_dir))

    s = run_extraction(spark, docs, out_dir, "resume", n_buckets=N_BUCKETS,
                       compact_after=3)
    assert s["buckets_processed"] == 0
    assert s["compaction"] is not None
    assert s["compaction"]["files_before"] == 5
    assert s["compaction"]["files_after"] == 1
    assert sorted(completed_buckets(spark, out_dir)) == done

    s2 = run_extraction(spark, docs, out_dir, "resume2", n_buckets=N_BUCKETS,
                        compact_after=3)
    assert s2["compaction"] is None       # under threshold: untouched
    assert sorted(completed_buckets(spark, out_dir)) == done


def test_bucket_slice_runs_compose_to_full_run(spark, out_dir):
    """round-7: ``buckets=`` restricts a run to its slice — outside
    buckets stay PENDING (no zero-row stamp), slices compose to the
    one-shot output byte for byte, and the manifest accretes one
    commit file per slice (the accretion mode auto-compaction bounds)."""
    import os

    docs = corpus_df(spark, N_DOCS, partitions=4)

    ref_dir = f"{out_dir}/oneshot"
    run_extraction(spark, docs, ref_dir, "oneshot", n_buckets=N_BUCKETS)
    want = (spark.read.parquet(f"{ref_dir}/extracted")
            .select("url", "extracted_text", F.to_json("spans").alias("sp"))
            .orderBy("url").collect())

    sl_dir = f"{out_dir}/sliced"
    s1 = run_extraction(spark, docs, sl_dir, "slice0",
                        n_buckets=N_BUCKETS, buckets=[0, 1, 2])
    assert s1["buckets_processed"] == 3
    # buckets outside the slice are NOT marked done
    assert sorted(completed_buckets(spark, sl_dir)) == [0, 1, 2]

    # re-running the same slice is a no-op (resume semantics inside it)
    s1b = run_extraction(spark, docs, sl_dir, "slice0b",
                         n_buckets=N_BUCKETS, buckets=[0, 1, 2])
    assert s1b["buckets_processed"] == 0
    assert s1b["buckets_skipped"] == 3

    # an overlapping second slice picks up only its pending part
    s2 = run_extraction(spark, docs, sl_dir, "slice1",
                        n_buckets=N_BUCKETS, buckets=[2, 3, 4, 5])
    assert s2["buckets_processed"] == 3 and s2["buckets_skipped"] == 1
    s3 = run_extraction(spark, docs, sl_dir, "slice2",
                        n_buckets=N_BUCKETS, buckets=[6, 7])
    assert s3["buckets_processed"] == 2

    # one manifest commit file per slice run that processed anything
    mdir = f"{sl_dir}/manifest"
    files = [f for f in os.listdir(mdir)
             if f.endswith(".parquet") and not f.startswith(".")]
    assert len(files) == 3

    got = (spark.read.parquet(f"{sl_dir}/extracted")
           .select("url", "extracted_text", F.to_json("spans").alias("sp"))
           .orderBy("url").collect())
    assert got == want

    # a final unrestricted resume finds nothing pending
    s4 = run_extraction(spark, docs, sl_dir, "final", n_buckets=N_BUCKETS)
    assert s4["buckets_processed"] == 0


def test_empty_slice_on_fresh_dir_marks_buckets_done(spark, out_dir):
    """A slice whose buckets hold no documents must still commit
    zero-row 'done' stamps — including on a FRESH out_dir, where the
    partitioned write of no data emits only _SUCCESS and there is no
    parquet file to infer a schema from."""
    docs = corpus_df(spark, 4, partitions=2)
    used = {r["bucket"] for r in with_bucket(docs, N_BUCKETS)
            .select("bucket").distinct().collect()}
    empty = sorted(set(range(N_BUCKETS)) - used)
    assert empty, "4 docs cannot populate all 8 buckets"
    s = run_extraction(spark, docs, out_dir, "empty-slice",
                       n_buckets=N_BUCKETS, buckets=[empty[0]])
    assert s["buckets_processed"] == 1
    assert sorted(completed_buckets(spark, out_dir)) == [empty[0]]
    s2 = run_extraction(spark, docs, out_dir, "again",
                        n_buckets=N_BUCKETS, buckets=[empty[0]])
    assert s2["buckets_processed"] == 0 and s2["buckets_skipped"] == 1


def test_shard_toggle_on_existing_dir_keeps_doc_metrics(spark, out_dir):
    """Resuming an out_dir whose earlier buckets were written UNSHARDED
    with sharding enabled must still count DOCUMENTS, not shard rows,
    in the new buckets' manifest stats: the extraction tasks tally
    input documents, so no pre-shard footer in the mixed directory can
    make docs_in count shard rows."""
    from tests.test_shard_giants import SHARD_CHARS, _giant_doc

    url_g, html_g = _giant_doc()
    mixed = corpus_df(spark, 12, partitions=2).select("url", "html") \
        .unionByName(spark.createDataFrame(
            [(url_g, html_g)], "url string, html binary")).persist()
    gb = with_bucket(mixed, N_BUCKETS).filter(F.col("url") == url_g) \
        .select("bucket").collect()[0]["bucket"]
    others = [b for b in range(N_BUCKETS) if b != gb]

    # pass 1: unsharded slice over every other bucket — leaves
    # pre-shard footers (no shard_idx column) in the directory
    # (shard_chars=None: the pre-shard vintage this mixed-directory
    # scenario needs)
    run_extraction(spark, mixed, out_dir, "plain", n_buckets=N_BUCKETS,
                   buckets=others, shard_chars=None)
    # pass 2: resume the giant's bucket with sharding ON
    run_extraction(spark, mixed, out_dir, "sharded", n_buckets=N_BUCKETS,
                   buckets=[gb], shard_chars=SHARD_CHARS)

    n_docs = mixed.count()
    docs_in_bucket = (with_bucket(mixed, N_BUCKETS)
                      .filter(F.col("bucket") == gb).count())
    written = read_extracted(spark, out_dir)
    # the reader exposes the shard coordinates even though most of the
    # directory's footers pre-date them (plain single-footer inference
    # drops the columns here — the bug this reader exists to prevent)
    assert {"shard_idx", "n_shards"} <= set(written.columns)
    # the giant really sharded: more rows in its bucket than documents
    assert written.filter(F.col("bucket") == gb).count() > docs_in_bucket
    per_bucket = {r["bucket"]: r for r in
                  spark.read.parquet(f"{out_dir}/manifest").collect()}
    assert per_bucket[gb]["docs_in"] == docs_in_bucket
    assert per_bucket[gb]["errors"] == 0
    assert sum(r["docs_in"] for r in per_bucket.values()) == n_docs

    # full-directory reassembly is byte-identical to the whole-doc
    # reference across BOTH generations of bucket files
    from exam_pdf_parser_spark.operators.extract import extract
    from exam_pdf_parser_spark.operators.extract_paged import (
        reassemble_sharded,
    )
    want = {r["url"]: r for r in extract(mixed).collect()}
    back = {r["url"]: r for r in reassemble_sharded(
        written.drop("proc_us", "bucket")).collect()}
    assert set(back) == set(want)
    for url, w in want.items():
        assert back[url]["extracted_text"] == w["extracted_text"], url
        assert [s.asDict() for s in back[url]["spans"]] == \
               [s.asDict() for s in w["spans"]], url
    mixed.unpersist()


def test_run_extraction_safe_defaults(spark, out_dir, tmp_path):
    """Round-8 verdict ask #2: a DEFAULT-ARGS run shards output rows
    (the fat tail arrives whether or not the caller remembered a
    flag); shard_chars=None is the explicit off-switch restoring the
    plain schema."""
    docs = corpus_df(spark, 6, partitions=2)
    run_extraction(spark, docs, out_dir, "defaults", n_buckets=N_BUCKETS)
    raw = spark.read.option("mergeSchema", "true").parquet(
        f"{out_dir}/extracted")
    # shard coordinates are physically present by default...
    assert {"shard_idx", "n_shards"} <= set(raw.columns)
    # ...and ordinary documents are single-shard (sharding is a no-op
    # exactly when the row was already write-safe)
    assert raw.filter("shard_idx != 0 OR n_shards != 1").count() == 0

    off = str(tmp_path / "off")
    run_extraction(spark, docs, off, "off", n_buckets=N_BUCKETS,
                   shard_chars=None)
    raw_off = spark.read.parquet(f"{off}/extracted")
    assert not ({"shard_idx", "n_shards"} & set(raw_off.columns))

    # content identity across the two defaults regimes
    a = {(r["url"]): r for r in read_extracted(spark, out_dir)
         .filter("shard_idx = 0").select("url", "extracted_text").collect()}
    b = {(r["url"]): r for r in read_extracted(spark, off)
         .select("url", "extracted_text").collect()}
    assert set(a) == set(b)
    for url in a:
        assert a[url]["extracted_text"] == b[url]["extracted_text"], url


def test_n_buckets_pinned_to_out_dir(spark, out_dir):
    """bucket = pmod(hash, n_buckets): resuming with a different
    n_buckets would re-map every url and silently double-process or
    skip — the run_meta.json guard fails loudly instead (round-7)."""
    docs = corpus_df(spark, 8, partitions=2)
    run_extraction(spark, docs, out_dir, "a", n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extraction(spark, docs, out_dir, "b", n_buckets=N_BUCKETS * 2)
    # the matching value still resumes cleanly
    s = run_extraction(spark, docs, out_dir, "c", n_buckets=N_BUCKETS)
    assert s["buckets_processed"] == 0


def test_out_of_range_bucket_slice_rejected(spark, out_dir):
    docs = corpus_df(spark, 4, partitions=1)
    with pytest.raises(ValueError, match="outside"):
        run_extraction(spark, docs, out_dir, "x",
                       n_buckets=N_BUCKETS, buckets=[0, N_BUCKETS])


def test_empty_bucket_slice_rejected(spark, out_dir):
    """An inverted CLI range ('31-16') parses to [] — run_extraction
    must refuse rather than no-op with success (round-7 review #2)."""
    docs = corpus_df(spark, 4, partitions=1)
    with pytest.raises(ValueError, match="empty bucket slice"):
        run_extraction(spark, docs, out_dir, "x",
                       n_buckets=N_BUCKETS, buckets=[])


def test_corrupt_run_meta_fails_with_guidance(spark, out_dir):
    import json as _json
    import os as _os

    docs = corpus_df(spark, 4, partitions=1)
    run_extraction(spark, docs, out_dir, "a", n_buckets=N_BUCKETS)
    meta = _os.path.join(out_dir, "run_meta.json")
    with open(meta, "w") as f:
        f.write("{trunc")
    with pytest.raises(ValueError, match="corrupt"):
        run_extraction(spark, docs, out_dir, "b", n_buckets=N_BUCKETS)
    with open(meta, "w") as f:
        _json.dump([], f)    # valid JSON, wrong shape
    with pytest.raises(ValueError, match="corrupt"):
        run_extraction(spark, docs, out_dir, "c", n_buckets=N_BUCKETS)


def test_reassemble_handles_unsharded_run_dir(spark, out_dir):
    """A run with the OFF-SWITCH (shard_chars=None, the plain
    schema) has NO shard columns anywhere —
    read_extracted must normalize them in and reassembly must pass
    whole rows through (round-7 review #1)."""
    from exam_pdf_parser_spark.operators.extract import extract
    from exam_pdf_parser_spark.operators.extract_paged import (
        reassemble_sharded,
    )

    docs = corpus_df(spark, 6, partitions=2)
    run_extraction(spark, docs, out_dir, "plain", n_buckets=N_BUCKETS,
                   shard_chars=None)
    rx = read_extracted(spark, out_dir)
    assert {"shard_idx", "n_shards"} <= set(rx.columns)
    back = {r["url"]: r for r in reassemble_sharded(
        rx.drop("proc_us", "bucket")).collect()}
    want = {r["url"]: r for r in extract(docs).collect()}
    assert set(back) == set(want)
    for url, w in want.items():
        assert back[url]["extracted_text"] == w["extracted_text"], url


def test_read_extracted_bounds_reader_batch_size(spark, out_dir):
    """Round-8 1M-soak lesson, engine-side: read_extracted LOWERS the
    session's parquet columnar batch size to its blob-aware bound
    (extraction rows are ~5-50 KB; default 4096-row batches were
    40-150 MB of on-heap vectors per scan task and OOM'd an 8g heap at
    1M docs), respects an already-lower session value, and leaves the
    conf alone with reader_batch_rows=None."""
    from exam_pdf_parser_spark.sources.manifest import (
        DEFAULT_READER_BATCH_ROWS, _BATCH_SIZE_CONF,
    )

    docs = corpus_df(spark, 4, partitions=2)
    run_extraction(spark, docs, out_dir, "rb", n_buckets=N_BUCKETS)
    prev = spark.conf.get(_BATCH_SIZE_CONF)
    try:
        spark.conf.set(_BATCH_SIZE_CONF, "4096")
        rx = read_extracted(spark, out_dir)
        assert int(spark.conf.get(_BATCH_SIZE_CONF)) == \
            DEFAULT_READER_BATCH_ROWS
        assert rx.count() == 4  # the bounded scan still reads fine

        # an already-lower session value is respected, never raised
        spark.conf.set(_BATCH_SIZE_CONF, "64")
        read_extracted(spark, out_dir)
        assert spark.conf.get(_BATCH_SIZE_CONF) == "64"

        # explicit opt-out leaves the conf untouched entirely
        spark.conf.set(_BATCH_SIZE_CONF, "4096")
        read_extracted(spark, out_dir, reader_batch_rows=None)
        assert spark.conf.get(_BATCH_SIZE_CONF) == "4096"
    finally:
        spark.conf.set(_BATCH_SIZE_CONF, prev)


def test_read_extracted_lowering_logged_and_restorable(
        spark, out_dir, caplog):
    """r8 ADVICE: the sticky session-conf lowering announces itself
    (one INFO line naming the conf and the value it lowered from), and
    setting that value back gives mixed-workload sessions the wide
    batch again until the next extraction read."""
    import logging

    from exam_pdf_parser_spark.sources.manifest import (
        DEFAULT_READER_BATCH_ROWS, _BATCH_SIZE_CONF,
    )

    docs = corpus_df(spark, 4, partitions=2)
    run_extraction(spark, docs, out_dir, "rblog", n_buckets=N_BUCKETS)
    prev = spark.conf.get(_BATCH_SIZE_CONF)
    try:
        spark.conf.set(_BATCH_SIZE_CONF, "4096")
        with caplog.at_level(
                logging.INFO, logger="exam_pdf_parser_spark"):
            read_extracted(spark, out_dir)
            lines = [r.getMessage() for r in caplog.records
                     if _BATCH_SIZE_CONF in r.getMessage()]
            assert len(lines) == 1
            assert "4096 -> 256" in lines[0]
            assert "back to 4096" in lines[0]
            # a second read at the already-lowered value is silent
            read_extracted(spark, out_dir)
            assert sum(_BATCH_SIZE_CONF in r.getMessage()
                       for r in caplog.records) == 1

            spark.conf.set(_BATCH_SIZE_CONF, "4096")
            # and the next extraction read lowers (and logs) again
            read_extracted(spark, out_dir)
            assert int(spark.conf.get(_BATCH_SIZE_CONF)) == \
                DEFAULT_READER_BATCH_ROWS
            assert sum(_BATCH_SIZE_CONF in r.getMessage()
                       for r in caplog.records) == 2
    finally:
        spark.conf.set(_BATCH_SIZE_CONF, prev)


def _readback_oracle(spark, out_dir, buckets):
    """Per-bucket ``(docs_in, rows_out, errors, cpu_ms)`` aggregated from
    the written output: the read-back ``run_extraction`` ran after its
    write before the extraction tasks tallied the stats themselves."""
    written = read_extracted(spark, out_dir, reader_batch_rows=None)
    doc0 = F.col("shard_idx") == 0
    return {
        r["bucket"]: (r["docs_in"], r["rows_out"], r["errors"],
                      r["cpu_us"] // 1000)
        for r in written.filter(F.col("bucket").isin(buckets))
        .groupBy("bucket")
        .agg(F.sum(F.when(doc0, 1).otherwise(0)).alias("docs_in"),
             F.sum(F.size("spans")).alias("rows_out"),
             F.sum(F.when(doc0 & (F.col("status") == "error"), 1)
                   .otherwise(0)).alias("errors"),
             F.sum("proc_us").alias("cpu_us"))
        .collect()
    }


def test_tallied_stats_equal_the_readback_oracle(spark, out_dir):
    """Every manifest row's counts equal the aggregate of what was
    written, on a corpus with a quarantined payload, a giant that
    shards, a slice holding an empty bucket and a resumed second run."""
    from tests.test_shard_giants import SHARD_CHARS, _giant_doc

    n_buckets = 16
    url_g, html_g = _giant_doc()
    docs = corpus_df(spark, 12, partitions=3).select("url", "html") \
        .unionByName(spark.createDataFrame(
            [(url_g, html_g), ("https://bad.example/x", b"garbage")],
            "url string, html binary")).persist()
    bucket_of = {r["url"]: r["bucket"] for r in
                 with_bucket(docs, n_buckets).select("url", "bucket")
                 .collect()}
    empty = sorted(set(range(n_buckets)) - set(bucket_of.values()))
    first = sorted({bucket_of[url_g], bucket_of["https://bad.example/x"],
                    empty[0]})
    assert len(first) == 3, "giant, corrupt doc and empty bucket apart"

    run_extraction(spark, docs, out_dir, "slice", n_buckets=n_buckets,
                   buckets=first, shard_chars=SHARD_CHARS)
    s = run_extraction(spark, docs, out_dir, "rest", n_buckets=n_buckets,
                       shard_chars=SHARD_CHARS)
    assert s["buckets_processed"] == n_buckets - len(first)
    docs.unpersist()

    rows = spark.read.parquet(f"{out_dir}/manifest").collect()
    assert sorted(r["bucket"] for r in rows) == list(range(n_buckets))
    oracle = _readback_oracle(spark, out_dir, list(range(n_buckets)))
    for r in rows:
        want = oracle.get(r["bucket"], (0, 0, 0, 0))
        assert (r["docs_in"], r["rows_out"], r["errors"], r["cpu_ms"]) \
            == want, (r["run_id"], r["bucket"])
    by_bucket = {r["bucket"]: r for r in rows}
    assert by_bucket[empty[0]]["run_id"] == "slice"
    assert by_bucket[empty[0]]["docs_in"] == 0
    assert by_bucket[bucket_of["https://bad.example/x"]]["errors"] == 1
    assert sum(r["docs_in"] for r in rows) == len(bucket_of)
    # the giant really sharded: its bucket wrote more rows than docs
    written = read_extracted(spark, out_dir, reader_batch_rows=None)
    gb = bucket_of[url_g]
    assert written.filter(F.col("bucket") == gb).count() > \
        by_bucket[gb]["docs_in"]


def test_partition_tally_replaces_a_partitions_entry(spark):
    """Adding the same partition id twice keeps only the later entry,
    so a task that runs again (a retry, a speculative copy, a
    recomputed stage) is counted once."""
    from exam_pdf_parser_spark.operators.extract import extract
    from exam_pdf_parser_spark.sources.manifest import PartitionTally

    acc = spark.sparkContext.accumulator({}, PartitionTally())
    acc.add({0: {3: [1, 2, 0, 10]}})
    acc.add({1: {5: [1, 1, 1, 7]}})
    acc.add({0: {3: [2, 4, 0, 30]}})
    assert acc.value == {0: {3: [2, 4, 0, 30]}, 1: {5: [1, 1, 1, 7]}}

    # the same extraction run twice over an unpersisted source tallies
    # what one run does (proc_us differs between runs; counts must not)
    tally = spark.sparkContext.accumulator({}, PartitionTally())
    docs = with_bucket(corpus_df(spark, 6, partitions=2), N_BUCKETS)
    extracted = extract(docs, tally=tally)

    def counts():
        return {p: {b: c[:3] for b, c in per.items()}
                for p, per in tally.value.items()}

    extracted.collect()
    once = counts()
    extracted.collect()
    assert counts() == once
    assert sorted(once) == [0, 1]
    assert sum(c[0] for per in once.values() for c in per.values()) == 6


def test_run_extraction_starts_one_job_and_its_write(spark, out_dir):
    """A fresh full run is the exchange's map stage (the extraction)
    and the write — at most 2 Spark jobs, nothing read back — and a
    no-op resume starts none."""
    sc = spark.sparkContext
    docs = corpus_df(spark, N_DOCS, partitions=4)
    fresh = _jobs(sc, lambda: run_extraction(spark, docs, out_dir, "fresh",
                                             n_buckets=N_BUCKETS))
    assert 0 < fresh <= 2, fresh
    noop = _jobs(sc, lambda: run_extraction(spark, docs, out_dir, "noop",
                                            n_buckets=N_BUCKETS))
    assert noop == 0, noop


def test_read_extracted_builds_without_a_listing_job(spark, out_dir):
    """Past ``parallelPartitionDiscovery.threshold`` (32) bucket dirs,
    Spark lists a directory with a job; ``read_extracted`` lists a
    local one on the driver, so building the reader starts no job and
    a full read is one scan job.  The session threshold is restored."""
    import os

    conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(conf)
    run_extraction(spark, corpus_df(spark, 150, partitions=4), out_dir,
                   "wide", n_buckets=64)
    n_dirs = len(os.listdir(os.path.join(out_dir, "extracted")))
    assert n_dirs > int(before), n_dirs
    sc = spark.sparkContext
    built = []
    assert _jobs(sc, lambda: built.append(
        read_extracted(spark, out_dir))) == 0
    assert spark.conf.get(conf) == before
    assert _jobs(sc, lambda: built[0].write.format("noop")
                 .mode("overwrite").save()) == 1


def test_failed_local_write_leaves_no_staging_dir(spark, out_dir,
                                                  monkeypatch):
    """A writer task that fails after writing bucket files fails the
    run; the files it staged are removed, none is committed to
    ``extracted/`` and no bucket is marked done."""
    import os

    import exam_pdf_parser_spark.sources.manifest as mf

    real_writer = mf._bucket_file_writer

    def failing_writer(staging):
        write = real_writer(staging)

        def fail_after_writing(batches):
            yield from write(batches)
            raise RuntimeError("planted writer failure")

        return fail_after_writing

    monkeypatch.setattr(mf, "_bucket_file_writer", failing_writer)
    docs = corpus_df(spark, N_DOCS, partitions=4)
    # one writer task: no other attempt is still writing into the
    # staging dir when the failed job returns to the driver
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        with pytest.raises(Exception, match="planted writer failure"):
            run_extraction(spark, docs, out_dir, "failed",
                           n_buckets=N_BUCKETS)
    finally:
        spark.conf.set(conf, prev)
    assert [f for f in os.listdir(out_dir)
            if f.startswith("_staging-")] == []
    ext = os.path.join(out_dir, "extracted")
    assert not os.path.isdir(ext) or os.listdir(ext) == []
    assert completed_buckets(spark, out_dir) == []


def test_local_write_replaces_only_the_buckets_it_writes(spark, out_dir):
    """A local run commits each bucket file it wrote by rename into a
    fresh ``bucket=N`` dir: a stale file in a pending bucket's dir is
    gone, a done bucket's file is untouched, nothing goes through
    Hadoop (no ``.crc`` sidecar), the run's staging dir is removed and
    another run's leftover staging dir is neither read nor touched."""
    import os

    docs = corpus_df(spark, N_DOCS, partitions=4)
    run_extraction(spark, docs, out_dir, "first", n_buckets=N_BUCKETS,
                   buckets=[0, 1, 2, 3])
    ext = os.path.join(out_dir, "extracted")
    (done_name,) = os.listdir(os.path.join(ext, "bucket=0"))
    done_file = os.path.join(ext, "bucket=0", done_name)
    mtime = os.stat(done_file).st_mtime_ns
    stale_dir = os.path.join(ext, "bucket=5")
    os.makedirs(stale_dir)
    shutil.copy(done_file, os.path.join(stale_dir, "part-x.parquet"))
    old_staging = os.path.join(out_dir, "_staging-old", "0-0")
    os.makedirs(old_staging)
    shutil.copy(done_file, os.path.join(old_staging, "bucket-5.parquet"))

    s = run_extraction(spark, docs, out_dir, "rest", n_buckets=N_BUCKETS)
    assert s["buckets_processed"] == N_BUCKETS - 4
    (new_name,) = os.listdir(stale_dir)
    assert new_name != "part-x.parquet" and new_name.endswith(".parquet")
    assert os.stat(done_file).st_mtime_ns == mtime
    crc = [f for _, _, fs in os.walk(ext) for f in fs if f.endswith(".crc")]
    assert crc == []
    assert sorted(os.listdir(out_dir)) == [
        "_staging-old", "extracted", "manifest", "run_meta.json"]
    assert os.listdir(old_staging) == ["bucket-5.parquet"]
    urls = [r["url"] for r in read_extracted(spark, out_dir)
            .select("url").collect()]
    assert len(urls) == len(set(urls)) == N_DOCS


def test_resume_across_spark_and_local_writers(spark, out_dir):
    """Buckets written through a ``file://`` URI (Spark's writer) and
    the rest resumed through the plain local path read back as one
    table: sharded rows reassemble to ``extract()``, and only the
    local write is free of Hadoop's ``.crc`` sidecars."""
    import os

    from exam_pdf_parser_spark.operators.extract import extract
    from exam_pdf_parser_spark.operators.extract_paged import (
        reassemble_sharded,
    )

    docs = corpus_df(spark, N_DOCS, partitions=4)
    first = [0, 1, 2, 3]
    run_extraction(spark, docs, f"file://{out_dir}", "spark-writer",
                   n_buckets=N_BUCKETS, shard_chars=2_000, buckets=first)
    s = run_extraction(spark, docs, out_dir, "local-writer",
                       n_buckets=N_BUCKETS, shard_chars=2_000)
    assert (s["buckets_processed"], s["buckets_skipped"]) == (4, 4)

    ext = os.path.join(out_dir, "extracted")
    for b in range(N_BUCKETS):
        crc = [f for f in os.listdir(os.path.join(ext, f"bucket={b}"))
               if f.endswith(".crc")]
        assert bool(crc) == (b in first), (b, crc)
    rx = read_extracted(spark, out_dir)
    assert rx.filter("n_shards > 1").count() > 0
    back = {r["url"]: r for r in reassemble_sharded(
        rx.drop("proc_us", "bucket")).collect()}
    want = {r["url"]: r for r in extract(docs).collect()}
    assert set(back) == set(want)
    for url, w in want.items():
        assert back[url]["extracted_text"] == w["extracted_text"], url
        assert back[url]["status"] == w["status"], url
        assert [x.asDict() for x in back[url]["spans"]] == \
               [x.asDict() for x in w["spans"]], url


def test_run_extraction_leaves_session_overwrite_mode_alone(spark,
                                                            out_dir):
    """Neither writer changes the session's partition overwrite mode,
    and a ``"://"`` run still overwrites dynamically under a STATIC
    session: a second slice run keeps the first slice's buckets."""
    import os

    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "STATIC")
    try:
        docs = corpus_df(spark, 20, partitions=2)
        run_extraction(spark, docs, os.path.join(out_dir, "local"), "l",
                       n_buckets=4)
        assert spark.conf.get(conf) == "STATIC"
        uri = f"file://{os.path.join(out_dir, 'uri')}"
        run_extraction(spark, docs, uri, "u0", n_buckets=4, buckets=[0, 1])
        run_extraction(spark, docs, uri, "u1", n_buckets=4)
        assert spark.conf.get(conf) == "STATIC"
    finally:
        spark.conf.set(conf, prev)
    assert read_extracted(spark, uri).count() == 20

"""Per-partition checkpoint manifest + resume (north rule).

Work is keyed by ``url_bucket = pmod(xxhash64(url), n_buckets)`` — the
same bucketing an Iceberg table would declare (``bucket(N, url)``).
A run writes one parquet file per bucket it processed and replaces
exactly those ``bucket=N`` directories (dynamic-overwrite semantics:
a bucket the run wrote nothing for is left as it was), then appends
one manifest row per completed bucket, with stats its extraction
tasks tallied as they emitted (no read-back).  Crash recovery =
anti-join pending buckets against the manifest: finished buckets are
never recomputed, half-written bucket directories are overwritten
idempotently on retry.

Reference analogues: the resumable job store (src/server.py:52-69),
batch CSV report (scripts/batch_parser.py:117-127), layout cache
(test_debug_blocks.py:36-39) — unified here into exactly-once-per-
bucket lineage (SURVEY.md §4 item 2).

Layout:
  {out_dir}/extracted/bucket=<n>/*.parquet   extraction output
  {out_dir}/_staging-<token>/                a local run's task files
                                              until the driver renames
                                              them into extracted/
  {out_dir}/manifest/*.parquet               (run_id, bucket, status,
                                              rows_out, docs_in,
                                              errors, wall_ms)
"""

from __future__ import annotations

import json
import logging
import os
import re
import threading
import time

from pyspark import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..core.shard import DEFAULT_SHARD_CHARS
from ..operators.extract import SHARDED_EXTRACT_SCHEMA

# Single source of truth for the manifest shape: the Spark DDL string
# and the pyarrow schema used by the atomic local commit are BOTH
# derived from this list, so a column added to one side cannot silently
# produce mixed-schema parquet files in the manifest dir.
_MANIFEST_FIELDS = [
    ("run_id", "string"), ("bucket", "int"), ("status", "string"),
    ("rows_out", "long"), ("docs_in", "long"), ("errors", "long"),
    ("wall_ms", "long"), ("cpu_ms", "long"),
    ("docs_per_cpu_sec", "double"),
]
MANIFEST_SCHEMA = ", ".join(f"{n} {t}" for n, t in _MANIFEST_FIELDS)
_DDL_TO_ARROW = {"string": "string", "int": "int32", "long": "int64",
                 "double": "float64"}


def _arrow_manifest_schema():
    import pyarrow as pa

    return pa.schema([(n, pa.type_for_alias(_DDL_TO_ARROW[t]))
                      for n, t in _MANIFEST_FIELDS])


class PartitionTally(AccumulatorParam):
    """``{partition id: per-bucket stats}``, where a partition's later
    entry REPLACES its earlier one: a retried, speculative or
    recomputed task cannot count its documents twice."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, a: dict, b: dict) -> dict:
        a.update(b)
        return a


def with_bucket(documents: DataFrame, n_buckets: int) -> DataFrame:
    return documents.withColumn(
        "bucket",
        F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


_MANIFEST_READ_ATTEMPTS = 3


def completed_buckets(spark: SparkSession, out_dir: str) -> list[int]:
    """Buckets a committed manifest row marks ``done``.  A local
    manifest is read with pyarrow on the driver (``_commit_manifest``
    writes it that way), so the check starts no Spark job."""
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "manifest")
    local = "://" not in out_dir
    # a reader racing compact_manifest's unlink step can list a file
    # that vanishes before the scan — retry (the compacted file carries
    # the same rows), and fall back to "no manifest" (resume everything;
    # idempotent overwrite makes that correct, just not free)
    for i in range(_MANIFEST_READ_ATTEMPTS):
        if local and not os.path.isdir(path):
            return []   # a fresh dir
        try:
            if not local:
                mdf = spark.read.parquet(path).filter("status = 'done'")
                return [r["bucket"] for r in
                        mdf.select("bucket").distinct().collect()]
            done = set()
            for f in os.listdir(path):
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    t = pq.read_table(os.path.join(path, f)).to_pydict()
                    done.update(b for b, st in zip(t["bucket"], t["status"])
                                if st == "done")
            return sorted(done)
        except Exception:
            time.sleep(0.05 * (i + 1))
    return []


# Blob-aware scan bound (round-8 1M-soak lesson, promoted from the
# soak script into the engine): extraction output rows are ~5-50 KB of
# text + spans, so Spark's default 4096-row columnar reader batches
# materialize ~40-150 MB of on-heap vectors PER SCAN TASK — 32
# concurrent tasks OOM'd an 8g heap at 1M docs.  256-row batches bound
# the same scan at a few MB/task with negligible per-batch overhead.
DEFAULT_READER_BATCH_ROWS = 256
_BATCH_SIZE_CONF = "spark.sql.parquet.columnarReaderBatchSize"
_LISTING_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()

_LOG = logging.getLogger(__name__)

# what run_extraction writes under extracted/: the sharded rows, the
# per-document timing and the bucket partition column
EXTRACTED_SCHEMA = StructType(
    SHARDED_EXTRACT_SCHEMA.fields + [
        StructField("proc_us", LongType()),
        StructField("bucket", IntegerType()),
    ])


def read_extracted(spark: SparkSession, out_dir: str,
                   reader_batch_rows: int | None =
                   DEFAULT_READER_BATCH_ROWS) -> DataFrame:
    """The reader consumers should use for ``{out_dir}/extracted``.

    A directory accumulated across runs may MIX pre-shard and sharded
    bucket files (``run_extraction`` gained ``shard_chars`` in round
    7, and ``shard_chars=None`` still writes no shard columns); plain
    ``spark.read.parquet`` infers the schema from one arbitrary file
    footer, which on such a directory can silently drop the
    ``shard_idx``/``n_shards`` columns — and a downstream
    ``reassemble_sharded`` then truncates every sharded document to
    its first chunk.  This reader declares the full written schema
    instead (:data:`EXTRACTED_SCHEMA`), so no footer is read to build
    the DataFrame, and a file without shard columns reads them as
    NULL.  NULL shard coordinates are normalized to ``(0, 1)`` —
    "this row is the whole document" — so the output is always
    reassembly-safe.  Building the DataFrame starts no Spark job: the
    ``bucket=N`` directories are listed on the driver.  Spark lists
    them with a job once there are more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32), so
    the threshold is raised around the ``.parquet()`` call and restored
    after it.  That window is not thread-safe: a DataFrame another
    thread builds in the same session meanwhile lists on the driver
    too.  Concurrent ``read_extracted`` calls take the window one at a
    time (a module lock), so none of them restores another's raised
    value and leaves it behind.

    ``reader_batch_rows`` (safe-by-default, round 8): LOWERS the
    session's parquet columnar batch size to this bound if it is
    currently larger, because these rows are blob-heavy (see
    ``DEFAULT_READER_BATCH_ROWS`` above).  This is deliberately a
    SESSION conf change, and it is sticky: Spark's vectorized reader
    takes its capacity from the session SQLConf at action time — there
    is no per-read option for it (verified against the Spark 4.1
    ``ParquetOptions``/``ParquetPartitionReaderFactory`` classes), and
    a set-and-restore around this lazy ``read`` would be a no-op lie.
    An already-lower session value is respected; pass ``None`` to
    leave the conf untouched entirely.  The lowering is announced via
    a ``logging`` INFO line naming the conf and the value it lowered
    from (r8 ADVICE); a mixed-workload session that later wants that
    value back for narrow tables sets it with ``spark.conf.set`` after
    its extraction reads have been ACTED on (collected/written), not
    merely built."""
    if reader_batch_rows is not None:
        current = int(spark.conf.get(_BATCH_SIZE_CONF))
        if current > reader_batch_rows:
            # announce the session-wide side effect once per lowering
            # (subsequent read_extracted calls are no-ops until the
            # caller raises it again) — mixed-workload consumers
            # otherwise see unrelated narrow scans slow down with no
            # visible cause (r8 ADVICE)
            _LOG.info(
                "read_extracted: lowering session conf %s %d -> %d "
                "(blob-heavy extraction rows; spark.conf.set it back "
                "to %d once extraction reads are acted on)",
                _BATCH_SIZE_CONF, current, reader_batch_rows, current)
            spark.conf.set(_BATCH_SIZE_CONF, str(reader_batch_rows))
    reader = spark.read.schema(EXTRACTED_SCHEMA)
    path = os.path.join(out_dir, "extracted")
    with _LISTING_LOCK:
        prev = spark.conf.get(_LISTING_CONF)
        spark.conf.set(_LISTING_CONF, str(2**31 - 1))
        try:
            df = reader.parquet(path)
        finally:
            spark.conf.set(_LISTING_CONF, prev)
    # a dir with no sharded generation at all feeds reassembly/dedup
    # logic the same shape as a mixed one — every row (0, 1) = "the
    # whole document"
    return (df.withColumn("shard_idx", F.coalesce("shard_idx", F.lit(0)))
              .withColumn("n_shards", F.coalesce("n_shards", F.lit(1))))


def _commit_manifest(out_dir: str, run_id: str, rows: list[tuple],
                     spark: SparkSession | None = None) -> None:
    """Atomic all-or-nothing manifest append: ONE parquet file per
    run, written under a dot-prefixed temp name (invisible to Spark /
    Hadoop readers) and ``os.rename``'d into place — atomic within a
    POSIX directory.  Readers therefore see either every bucket row of
    this run or none of them, and because the rename happens strictly
    after the data write returned, a killed run can never mark a
    bucket done without its data.  Concurrent writers each commit
    their own uniquely-named file; duplicate done-rows for a bucket
    are harmless (``completed_buckets`` is a distinct filter).

    Non-local ``out_dir`` (``hdfs://``, ``s3a://``…): the driver-local
    rename cannot reach it, so the rows commit through Spark as ONE
    coalesced file — the committer's task-file rename is atomic on
    HDFS; on S3-style stores (no atomic rename) commit through a
    transactional table format instead (an Iceberg append of the same
    rows is a single atomic snapshot).
    """
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if "://" in out_dir:
        if spark is None:
            raise ValueError(
                "remote out_dir needs the SparkSession to commit")
        (spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1)
         .write.mode("append").parquet(os.path.join(out_dir, "manifest")))
        return

    mdir = os.path.join(out_dir, "manifest")
    os.makedirs(mdir, exist_ok=True)
    schema = _arrow_manifest_schema()
    table = pa.table(
        {f.name: [r[i] for r in rows]
         for i, f in enumerate(schema)}, schema=schema)
    token = uuid.uuid4().hex[:12]
    safe_run = re.sub(r"[^A-Za-z0-9_.-]", "_", run_id)[:64]
    tmp = os.path.join(mdir, f".tmp-{token}.parquet")
    final = os.path.join(mdir, f"part-{safe_run}-{token}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, final)


def compact_manifest(out_dir: str, _race_hook=None,
                     _race_hook_read=None) -> dict:
    """Opt-in retention maintenance: rewrite the manifest directory's
    accumulated one-file-per-run commits into a SINGLE parquet file.
    A long-lived pipeline accretes one manifest file per run and the
    resume read degrades with the file count; compaction bounds it.

    Crash/race safety, same discipline as :func:`_commit_manifest`:

    * the merged file is written under a dot-temp name and
      ``os.rename``'d into place — a compactor killed mid-write leaves
      only an invisible temp, losing nothing;
    * only the files snapshotted BEFORE the merge are removed, so a
      writer committing concurrently keeps its new file;
    * between the rename and the removals, readers see old + compacted
      rows — duplicate done-rows are harmless (``completed_buckets``
      is distinct), and a compactor killed mid-removal just leaves
      some duplicates for the next compaction;
    * a reader that lists an old file right before its unlink retries
      (``completed_buckets``).

    Local-FS only: on object stores, commit through a transactional
    table format and use its compaction service (an Iceberg
    rewrite_data_files is the same operation as one atomic snapshot).
    ``_race_hook`` is test-only: called after the rename, before the
    removals, to plant concurrent-writer races deterministically
    (``_race_hook_read`` likewise, after the snapshot listing and
    before the merge reads).
    Returns ``{files_before, files_after, rows}``.
    """
    import uuid

    import pyarrow.parquet as pq

    if "://" in out_dir:
        raise ValueError(
            "compact_manifest is local-FS only; on object stores use a "
            "transactional table format's compaction instead")
    mdir = os.path.join(out_dir, "manifest")
    old = sorted(
        f for f in os.listdir(mdir)
        if f.endswith(".parquet") and not f.startswith("."))
    if len(old) <= 1:
        return {"files_before": len(old), "files_after": len(old),
                "rows": None}
    import pyarrow as pa

    if _race_hook_read is not None:
        _race_hook_read()
    # a rival compactor that snapshotted the same list may unlink a
    # file between our listing and our read; its rows are durable in
    # the rival's part-compact file (rivals rename BEFORE removing),
    # so a vanished file is safely skipped, not an error
    tables = []
    for f in old:
        try:
            tables.append(pq.read_table(os.path.join(mdir, f)))
        except FileNotFoundError:
            continue
    if not tables:
        remaining = [f for f in os.listdir(mdir)
                     if f.endswith(".parquet") and not f.startswith(".")]
        return {"files_before": len(old), "files_after": len(remaining),
                "rows": None}
    merged = pa.concat_tables(tables)
    token = uuid.uuid4().hex[:12]
    tmp = os.path.join(mdir, f".tmp-compact-{token}.parquet")
    final = os.path.join(mdir, f"part-compact-{token}.parquet")
    pq.write_table(merged, tmp)
    os.rename(tmp, final)
    if _race_hook is not None:
        _race_hook()
    for f in old:
        # a concurrent compactor that snapshotted the same file list
        # may have deleted it already; duplicate done-rows from both
        # merged files are harmless under the idempotent-read contract
        try:
            os.remove(os.path.join(mdir, f))
        except FileNotFoundError:
            pass
    remaining = [f for f in os.listdir(mdir)
                 if f.endswith(".parquet") and not f.startswith(".")]
    return {"files_before": len(old), "files_after": len(remaining),
            "rows": merged.num_rows}


def _check_run_meta(out_dir: str, n_buckets: int) -> None:
    """Pin ``n_buckets`` to the output directory for its lifetime.

    ``bucket = pmod(xxhash64(url), n_buckets)`` — resuming the same
    directory with a DIFFERENT ``n_buckets`` re-maps every url to a
    new bucket id while ``completed_buckets`` still reports ids from
    the old mapping: documents get silently double-processed or
    skipped and the per-bucket stats stop meaning anything.  First run
    records the value in ``run_meta.json`` (atomic write-then-rename);
    every later run must match or fails loudly.  Object-store paths
    skip the guard (local-FS op, like compaction); a pre-existing dir
    without the file (written before this guard) is stamped from the
    current call — the same trust-the-caller semantics it always had.
    """
    if "://" in out_dir:
        return
    meta_path = os.path.join(out_dir, "run_meta.json")

    def validate() -> bool:
        try:
            with open(meta_path) as f:
                meta = json.load(f)
            recorded = meta.get("n_buckets")
        except FileNotFoundError:
            return False
        except (json.JSONDecodeError, AttributeError) as e:
            raise ValueError(
                f"{meta_path} is corrupt ({e}) — it should hold "
                '{"n_buckets": N} for this output directory; restore '
                "it with the directory's original bucket count (or "
                "delete it to restamp from this run, if you are sure "
                f"n_buckets={n_buckets} matches the existing layout)")
        if recorded != n_buckets:
            raise ValueError(
                f"out_dir {out_dir} was written with n_buckets="
                f"{recorded}; resuming with n_buckets={n_buckets} "
                "would re-map every url to a different bucket id and "
                "silently double-process or skip documents — use the "
                "recorded value, or a fresh out_dir")
        return True

    if validate():
        return
    os.makedirs(out_dir, exist_ok=True)
    # exclusive link-based commit: write a private tmp, then hard-link
    # it to the final name — link is atomic and FAILS if the file
    # exists, so exactly one of two racing first runs stamps the dir
    # and the other validates against the (complete) winner's file
    tmp = f"{meta_path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"n_buckets": n_buckets}, f)
    try:
        os.link(tmp, meta_path)
    except FileExistsError:
        validate()   # raced: grade this run against the winner
    finally:
        os.unlink(tmp)


def _compact_if_due(out_dir: str, compact_after: int | None) -> dict | None:
    """Run :func:`compact_manifest` when the manifest directory holds
    more than ``compact_after`` visible files (``run_extraction``'s
    retention policy); the compaction stats, or None."""
    if compact_after is None or "://" in out_dir:
        return None
    mdir = os.path.join(out_dir, "manifest")
    try:
        n_files = sum(
            1 for f in os.listdir(mdir)
            if f.endswith(".parquet") and not f.startswith("."))
    except FileNotFoundError:
        n_files = 0
    return compact_manifest(out_dir) if n_files > compact_after else None


def _bucket_file_writer(staging: str):
    """The ``mapInArrow`` function of a local write: rows arrive
    sorted by ``bucket``, and each bucket's run of rows goes to one
    parquet file, written with pyarrow under the task attempt's own
    directory in ``staging``, without the ``bucket`` column (the
    directory name carries it).  One ``ParquetWriter`` is open at a
    time.  Yields one ``(bucket, path)`` row per file written."""

    def write(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        # taskAttemptId is unique in the application, so a retried,
        # speculative or resubmitted attempt never shares a directory
        task_dir = os.path.join(
            staging, f"{ctx.partitionId()}-{ctx.taskAttemptId()}")
        written: list[tuple[int, str]] = []
        writer = None
        try:
            for rb in batches:
                runs = pc.run_end_encode(rb.column("bucket"))
                data = rb.drop_columns(["bucket"])
                start = 0
                for end, b in zip(runs.run_ends.to_pylist(),
                                  runs.values.to_pylist()):
                    if not written or written[-1][0] != b:
                        if writer is not None:
                            writer.close()
                        os.makedirs(task_dir, exist_ok=True)
                        path = os.path.join(task_dir, f"bucket-{b}.parquet")
                        writer = pq.ParquetWriter(path, data.schema)
                        written.append((b, path))
                    writer.write_batch(data.slice(start, end - start))
                    start = end
        finally:
            if writer is not None:
                writer.close()
        if written:
            buckets, paths = zip(*written)
            yield pa.RecordBatch.from_arrays(
                [pa.array(buckets, pa.int32()), pa.array(paths)],
                names=["bucket", "path"])

    return write


def _write_buckets(out: DataFrame, out_dir: str) -> None:
    """Write ``out`` (rows with a ``bucket`` column) as one parquet file
    per bucket under ``{out_dir}/extracted/bucket=N``, replacing only
    the buckets that have rows.

    A ``"://"`` out_dir goes through Spark's writer with dynamic
    partition overwrite.  A local one is written by the tasks with
    pyarrow (:func:`_bucket_file_writer`) into a staging directory and
    committed by the driver: for each ``(bucket, path)`` a successful
    task reported, the old bucket directory is removed and the file is
    renamed into a fresh one.  A failed attempt's partial file is never
    reported, so it is never committed, and the staging directory is
    removed whether the write succeeds or fails.  No file goes through
    Hadoop's FileSystem, so none gets a ``.crc`` sidecar or a
    permission call (which forks ``chmod`` per file on a host without
    ``libhadoop``).
    Like :func:`_commit_manifest`, this assumes a path without a scheme
    is a POSIX filesystem the executors share with the driver."""
    import shutil
    import uuid

    ext = os.path.join(out_dir, "extracted")
    by_bucket = out.repartition(F.col("bucket"))
    if "://" in out_dir:
        (by_bucket.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket").parquet(ext))
        return
    token = uuid.uuid4().hex[:12]
    staging = os.path.join(os.path.abspath(out_dir), f"_staging-{token}")
    try:
        files = (by_bucket.sortWithinPartitions("bucket")
                 .mapInArrow(_bucket_file_writer(staging),
                             "bucket int, path string")
                 .collect())
        for b, path in files:
            bdir = os.path.join(ext, f"bucket={b}")
            shutil.rmtree(bdir, ignore_errors=True)
            os.makedirs(bdir)
            os.rename(path, os.path.join(bdir, f"part-{token}.parquet"))
    finally:
        # a failed write leaves its attempts' files here; remove them
        # as Spark's writer removes its _temporary dir on abort
        shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(ext, exist_ok=True)


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = 64,
    compact_after: int | None = 64,
    shard_chars: int | None = DEFAULT_SHARD_CHARS,
    buckets: list[int] | None = None,
) -> dict:
    """Execute (or resume) a bucketed extraction run.

    Returns summary stats.  Idempotent per bucket: rerunning after a
    crash only processes buckets absent from the manifest, and the
    write replaces any half-written dir of a bucket it writes.  A run
    with no pending bucket in scope returns right after the manifest
    read (``buckets_processed == 0``, ``wall_ms == 0``): no extraction
    plan is built and no write job runs; only the ``compact_after``
    retention check still applies.

    The plan is scan → one ``mapInArrow`` extraction
    (``extract_paged.extract_auto``) → one exchange keyed by bucket →
    write.  For a local ``out_dir`` the write is a sort by bucket
    within each task and a second ``mapInArrow`` that writes each
    bucket's rows to one parquet file with pyarrow; the driver
    collects one ``(bucket, path)`` row per file and renames the files
    into their ``bucket=N`` directories, replacing only those buckets
    (see :func:`_write_buckets`; this assumes a path without a scheme
    is a POSIX filesystem the executors share with the driver).  A
    ``"://"`` out_dir is written by Spark's writer with dynamic
    partition overwrite, set on the write, not on the session.  AQE
    sizes the write from the session's shuffle partitions: one parquet
    file per ``bucket=N`` directory, with as many write tasks as the
    data needs rather than one per bucket.  A giant document is
    extracted in place like any other, and its ``proc_us`` is its whole
    extraction time.  The manifest rows are summed from what the
    extraction tasks tallied (:class:`PartitionTally`) once the write
    returns; nothing is read back, so a fresh full run starts two Spark
    jobs: the exchange's map stage and the write.

    ``shard_chars`` (default ``core.shard.DEFAULT_SHARD_CHARS``) bounds
    every output ROW: documents whose extracted text / span list
    exceed the threshold write as multiple ``(shard_idx, n_shards)``
    rows under the ``core/shard.py`` rule, so the bucketed write never
    materializes one hundreds-of-MB row (the measured ~250 MB/slot
    OOM at 8g × 32 slots).  It is on by default because the fat tail
    arrives whether or not the caller remembered a flag.
    ``shard_chars=None`` writes the plain EXTRACT_SCHEMA rows with no
    shard columns, for single-footer consumers that cannot read shard
    coordinates.  Read the output via :func:`read_extracted` (a mixed
    pre-shard/sharded directory needs the declared full schema, not
    single-footer inference); reassembly =
    ``operators.extract_paged.reassemble_sharded`` over that reader's
    output; manifest metrics stay per-DOCUMENT
    (docs_in/errors count each input document once, rows_out its
    unsharded span list).

    ``buckets`` (round-7): restrict THIS run to a bucket subset — the
    operational shape of a sharded backfill ("process buckets 0–127
    tonight"), and the natural long-lived-pipeline mode in which the
    manifest accretes one commit file per slice run.  Buckets outside
    the subset stay PENDING (no zero-row entries), so later runs pick
    them up; buckets inside that turn out empty are still marked done.
    Resume semantics inside the subset are unchanged.

    ``compact_after`` (retention policy, default 64): after this run's
    commit, if the manifest directory holds more than that many
    visible parquet files, :func:`compact_manifest` folds them into
    one — a long-lived pipeline's resume read stays O(compact_after)
    files instead of one-per-run forever.  Compaction keeps the
    commit-protocol guarantees (concurrent writers and killed runs
    lose nothing; see :func:`compact_manifest`).  ``None`` disables;
    object-store paths skip it automatically (local-FS-only op).
    """
    if buckets is not None:
        if not buckets:
            raise ValueError(
                "empty bucket slice — an inverted range like '31-16' "
                "parses to nothing; a silent no-op here would look "
                "like a completed backfill")
        bad = sorted(set(buckets) - set(range(n_buckets)))
        if bad:
            raise ValueError(
                f"bucket slice ids {bad} are outside "
                f"range(n_buckets={n_buckets}) — a silent intersect "
                "here would quietly shrink the backfill")
    _check_run_meta(out_dir, n_buckets)
    docs = with_bucket(documents, n_buckets)

    done = set(completed_buckets(spark, out_dir))
    # the id-space this run is responsible for: everything, or the
    # caller's bucket slice (sharded backfill / slice-run mode)
    scope = set(range(n_buckets)) if buckets is None \
        else set(buckets)
    target = sorted(scope - done)

    def summary(wall_ms: int) -> dict:
        return {
            "run_id": run_id,
            "buckets_processed": len(target),
            "buckets_skipped": len(scope & done),
            "wall_ms": wall_ms,
            "compaction": _compact_if_due(out_dir, compact_after),
        }

    if not target:
        # nothing pending in scope: build no plan, run no Spark job
        return summary(0)
    pending = docs if buckets is None and not done \
        else docs.filter(F.col("bucket").isin(target))

    t0 = time.perf_counter()
    # bucket is a pure function of url: recompute it on the output
    # instead of joining back to the input.  The exchange is keyed by
    # bucket with no partition count; AQE only ever COALESCES such an
    # exchange, so each bucket's rows land in one task (which may write
    # several bucket dirs) and the write makes one file per dir.
    from ..operators.extract_paged import extract_auto
    tally = spark.sparkContext.accumulator({}, PartitionTally())
    extracted = extract_auto(pending, with_timing=True,
                             shard_chars=shard_chars, tally=tally)
    _write_buckets(with_bucket(extracted, n_buckets), out_dir)
    wall_ms = int((time.perf_counter() - t0) * 1000)

    # per-bucket [docs, spans, errors, proc_us] from the tally: the
    # write succeeded and replaced exactly these buckets' dirs, so the stats describe what is durable.  A pending
    # bucket with no documents gets a zero-row entry so resume never
    # revisits it.  wall_ms is the RUN wall stamped on each of its
    # bucket rows; cpu_ms and docs_per_cpu_sec are per bucket.
    stats: dict[int, list[int]] = {}
    for per_bucket in tally.value.values():
        for b, counts in per_bucket.items():
            stats[b] = [x + y for x, y in
                        zip(stats.get(b, (0, 0, 0, 0)), counts)]

    def row(b):
        docs_in, rows_out, errors, cpu_us = stats.get(b, (0, 0, 0, 0))
        dps = docs_in / (cpu_us / 1e6) if cpu_us else 0.0
        return (run_id, b, "done", rows_out, docs_in, errors, wall_ms,
                cpu_us // 1000, dps)

    _commit_manifest(out_dir, run_id, [row(b) for b in target], spark=spark)
    return summary(wall_ms)

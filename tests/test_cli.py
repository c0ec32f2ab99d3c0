"""CLI surface test (the reference's user-facing entry points:
src/cli.py, scripts/batch_parser.py, scripts/validate.py re-expressed).
Runs in-process against the shared session via main(argv)."""

from __future__ import annotations

import json

import pytest

from exam_pdf_parser_spark.__main__ import _dispatch


class _Args:
    def __init__(self, **kw):
        self.master = None
        self.buckets = 8
        self.run_id = "t"
        self.__dict__.update(kw)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    from exam_pdf_parser_spark.operators.extract import corpus_df

    p = str(tmp_path_factory.mktemp("cli") / "corpus.parquet")
    corpus_df(spark, 12, partitions=2, with_answer_key=True).write.parquet(p)
    return p


def test_cli_extract(spark, corpus_path, tmp_path, capsys):
    rc = _dispatch(spark, _Args(command="extract", input=corpus_path,
                                output=str(tmp_path / "x")))
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"]["ok"] == 12
    assert spark.read.parquet(str(tmp_path / "x" / "spans")).count() > 200


def test_cli_validate_exit_codes(spark, corpus_path, tmp_path, capsys):
    rc = _dispatch(spark, _Args(command="validate", input=corpus_path,
                                output=str(tmp_path / "v")))
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # exit 1 iff invalid docs exist (validate.py:807 contract)
    assert rc == (1 if out["invalid_docs"] else 0)


def test_cli_evaluate(spark, corpus_path, tmp_path, capsys):
    rc = _dispatch(spark, _Args(command="evaluate", input=corpus_path,
                                output=str(tmp_path / "e")))
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0.8 <= out["mean_overall"] <= 1.0
    assert (tmp_path / "e" / "report.md").exists()


def test_cli_parse_and_crop(spark, corpus_path, tmp_path, capsys):
    rc = _dispatch(spark, _Args(command="parse", input=corpus_path,
                                output=str(tmp_path / "p")))
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["questions"] > 200
    assert spark.read.parquet(str(tmp_path / "p" / "parsed")).count() == \
        out["questions"]

    rc = _dispatch(spark, _Args(command="crop", input=corpus_path,
                                output=str(tmp_path / "c")))
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["crops"] > 200
    assert spark.read.parquet(str(tmp_path / "c" / "crops")).count() == \
        out["crops"]


def test_cli_run_and_resume(spark, corpus_path, tmp_path, capsys):
    out_dir = str(tmp_path / "r")
    rc = _dispatch(spark, _Args(command="run", input=corpus_path,
                                output=out_dir, buckets=4, run_id="a"))
    assert rc == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["buckets_processed"] == 4

    rc = _dispatch(spark, _Args(command="run", input=corpus_path,
                                output=out_dir, buckets=4, run_id="b"))
    assert rc == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["buckets_processed"] == 0
    assert second["buckets_skipped"] == 4


def test_cli_curate(spark, corpus_path, tmp_path, capsys):
    rc = _dispatch(spark, _Args(command="curate", input=corpus_path,
                                output=str(tmp_path / "c")))
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(out["reasons"].values()) == 12   # every doc accounted for
    kept = spark.read.parquet(str(tmp_path / "c" / "kept"))
    assert kept.count() == out["reasons"].get("kept", 0)
    assert "drop_reason" in kept.columns


def test_cli_sliced_sharded_run_and_reassemble(spark, corpus_path,
                                               tmp_path, capsys):
    """round-7 surface: --bucket-slice + --shard-chars compose, and
    the reassemble command rebuilds whole documents byte-identical to
    plain extract() from the (sharded) durable output."""
    out_dir = str(tmp_path / "sl")
    rc = _dispatch(spark, _Args(command="run", input=corpus_path,
                                output=out_dir, buckets=4, run_id="s0",
                                bucket_slice="0-1", shard_chars=2000))
    assert rc == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["buckets_processed"] == 2

    rc = _dispatch(spark, _Args(command="run", input=corpus_path,
                                output=out_dir, buckets=4, run_id="s1",
                                bucket_slice="2,3", shard_chars=2000))
    assert rc == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["buckets_processed"] == 2

    # sharding really produced multi-shard rows at this threshold
    from exam_pdf_parser_spark.sources.manifest import read_extracted
    assert read_extracted(spark, out_dir).filter("n_shards > 1").count() > 0

    whole_path = str(tmp_path / "whole.parquet")
    rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                output=whole_path))
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"] == 12

    from exam_pdf_parser_spark.operators.extract import extract
    want = {r["url"]: r for r in
            extract(spark.read.parquet(corpus_path)).collect()}
    got = {r["url"]: r for r in spark.read.parquet(whole_path).collect()}
    assert set(got) == set(want)
    for url, w in want.items():
        assert got[url]["extracted_text"] == w["extracted_text"], url
        assert [s.asDict() for s in got[url]["spans"]] == \
               [s.asDict() for s in w["spans"]], url


def test_cli_reassemble_unsharded_and_partial_guard(spark, corpus_path,
                                                    tmp_path, capsys):
    """reassemble works on a PLAIN run dir (--shard-chars 0, the
    off-switch: no shard columns anywhere) and refuses a
    partially-backfilled dir unless --allow-partial."""
    out_dir = str(tmp_path / "r")
    rc = _dispatch(spark, _Args(command="run", input=corpus_path,
                                output=out_dir, buckets=4, run_id="p0",
                                bucket_slice="0-2", shard_chars=0))
    assert rc == 0
    capsys.readouterr()
    assert "shard_idx" not in spark.read.parquet(
        f"{out_dir}/extracted").columns

    # bucket 3 pending → loud refusal, nothing written
    whole = str(tmp_path / "w.parquet")
    rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                output=whole))
    assert rc == 3
    assert "pending" in capsys.readouterr().err

    # --allow-partial emits the partial corpus knowingly
    rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                output=whole, allow_partial=True))
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["pending_buckets"] == 1 and 0 < out["docs"] < 12

    # finish the backfill → clean reassemble of the whole corpus
    rc = _dispatch(spark, _Args(command="run", input=corpus_path,
                                output=out_dir, buckets=4, run_id="p1",
                                bucket_slice="3", shard_chars=0))
    assert rc == 0
    capsys.readouterr()
    rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                output=whole))
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"] == 12 and out["pending_buckets"] == 0


def test_cli_reassemble_run_meta_robustness(spark, corpus_path,
                                            tmp_path, capsys):
    """r7 advice: a corrupt run_meta.json gets the guided message (not
    a traceback), and a MISSING one (pre-guard / object-store vintage)
    still runs the pending check against a derived lower bound instead
    of skipping the partial-corpus guard entirely."""
    import os

    out_dir = str(tmp_path / "m")
    rc = _dispatch(spark, _Args(command="run", input=corpus_path,
                                output=out_dir, buckets=4, run_id="m0",
                                bucket_slice="0-2"))
    assert rc == 0
    capsys.readouterr()
    whole = str(tmp_path / "mw.parquet")

    # corrupt file → guided recovery text, exit 3, no traceback
    meta = os.path.join(out_dir, "run_meta.json")
    with open(meta, "w") as f:
        f.write("{not json")
    rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                output=whole))
    assert rc == 3
    assert "corrupt" in capsys.readouterr().err

    # missing file → bucket 3 is past the max id on disk (unknowable),
    # but a hole INSIDE the observed range must still be caught: drop
    # the bucket=1 data dir and its manifest rows
    os.remove(meta)
    import shutil
    shutil.rmtree(os.path.join(out_dir, "extracted", "bucket=1"))
    shutil.rmtree(os.path.join(out_dir, "manifest"))
    rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                output=whole))
    err = capsys.readouterr().err
    assert rc == 3 and "pending" in err

    # --allow-partial proceeds, with the unverified-completeness warning
    rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                output=whole, allow_partial=True))
    err = capsys.readouterr().err
    assert rc == 0
    assert "lower bound" in err

    # no meta AND no bucket ids anywhere → the warning must say so
    # explicitly, not print "n_buckets >= None" (the read then fails —
    # there is nothing to reassemble — but the message comes first)
    shutil.rmtree(os.path.join(out_dir, "extracted"))
    import pytest
    with pytest.raises(Exception):
        _dispatch(spark, _Args(command="reassemble", input=out_dir,
                               output=whole, allow_partial=True))
    err = capsys.readouterr().err
    assert "no bucket ids found" in err and "None" not in err


def test_cli_reassemble_rejects_non_int_n_buckets(spark, corpus_path,
                                                  tmp_path, capsys):
    """Round-8 review fix: run_meta.json values that PARSE but are not
    a positive int are corrupt too — null would silently DISABLE the
    completeness guard, "64" would crash range() with a raw traceback
    outside the guided-recovery handler."""
    import os

    out_dir = str(tmp_path / "ni")
    rc = _dispatch(spark, _Args(command="run", input=corpus_path,
                                output=out_dir, buckets=2, run_id="n0"))
    assert rc == 0
    capsys.readouterr()
    meta = os.path.join(out_dir, "run_meta.json")
    whole = str(tmp_path / "niw.parquet")
    for bad in ('{"n_buckets": null}', '{"n_buckets": "64"}',
                '{"n_buckets": 0}', '{"n_buckets": true}'):
        with open(meta, "w") as f:
            f.write(bad)
        rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                    output=whole))
        assert rc == 3, bad
        assert "corrupt" in capsys.readouterr().err, bad


def test_cli_reassemble_reports_quarantined_docs(spark, corpus_path,
                                                 tmp_path, capsys):
    """Round-8 review follow-through: a corrupt shard set is
    quarantined per-document by reassemble_sharded — the CLI must
    SURFACE the count (corrupt_docs in the JSON summary + a stderr
    warning) so a double-read file can't hide inside an exit-0 run."""
    import glob
    import os
    import shutil

    out_dir = str(tmp_path / "qd")
    rc = _dispatch(spark, _Args(command="run", input=corpus_path,
                                output=out_dir, run_id="q0",
                                shard_chars=2000))
    assert rc == 0
    capsys.readouterr()

    # clean reassemble: corrupt_docs 0, no warning
    whole = str(tmp_path / "qdw.parquet")
    rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                output=whole))
    assert rc == 0
    cap = capsys.readouterr()
    out = json.loads(cap.out.strip().splitlines()[-1])
    assert out["corrupt_docs"] == 0
    assert "quarantined" not in cap.err

    # plant a double-read: copy one data file inside its bucket dir
    src = glob.glob(os.path.join(out_dir, "extracted", "bucket=*",
                                 "*.parquet"))[0]
    shutil.copy(src, src.replace(".parquet", "-dup.parquet"))
    rc = _dispatch(spark, _Args(command="reassemble", input=out_dir,
                                output=whole))
    assert rc == 0
    cap = capsys.readouterr()
    out = json.loads(cap.out.strip().splitlines()[-1])
    assert out["corrupt_docs"] > 0
    assert "quarantined" in cap.err

"""The two benchmark workloads: ``extract_bulk`` and ``curation_queries``.

Each workload generates its input from the seed, computes the expected
output with the repository's own single-node oracles, runs timed passes
of one user job, and checks every output it produced.  A workload
exposes:

  generate()    build and persist the inputs (timed as set-up, 3 times)
  warm()        one untimed pass, so timed passes see warm workers/JIT
  oracle()      expected outputs, computed once, outside any timing
  iterate()     one timed pass -> ({part: main_s}, {part: aux_s})
  check()       -> (attempted, failed) over every output produced
  trace()       traced mode: one pass split into per-layer calls

``main`` is the user job the workload stands for; ``aux`` is the second
job on the same input (see ``MAIN_OPS``/``AUX_OPS``).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import time
from collections import Counter

from harness import noop_write
from tables import TABLES, write_tables

# the order-insensitive, full-precision row canon of the repository's
# correctness gate
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from crosscheck import canon  # noqa: E402

CURATION_QUERIES = (
    ("plans.relational", "pricing_summary"),
    ("plans.relational", "revenue_by_nation"),
    ("plans.relational", "top_parts_by_brand"),
    ("plans.relational", "events_carry_forward"),
    ("operators.textstats", "doc_token_stats"),
    ("operators.textstats", "doc_quality"),
    ("operators.dedupe", "exact_dup_assignment"),
    ("operators.dedupe", "minhash_lsh_pairs"),
    ("operators.dedupe", "simhash_near_pairs"),
    ("operators.similarity", "ann_topk_dot"),
)


def _registry(module: str):
    import importlib

    return importlib.import_module(f"exam_pdf_parser_spark.{module}")


def _regions_canon(text, spans) -> str:
    return hashlib.md5(json.dumps([text, spans]).encode()).hexdigest()


class Workload:
    name = ""

    def __init__(self, spark_getter, cores: int, seed: int, workdir: str,
                 traced: bool):
        self._spark = spark_getter
        self.cores = cores
        self.seed = seed
        self.workdir = workdir
        self.traced = traced
        self.attempted = 0
        self.failed = 0

    @property
    def spark(self):
        return self._spark()

    def close(self) -> None:
        pass


class ExtractBulk(Workload):
    """The crawl operator's job on a seeded exam corpus with answer keys
    (``corpus_df``, ``N_DOCS`` documents):

      main = ``run_extraction`` with default settings into a fresh
             output directory (the CLI ``run`` path: router, bucketed
             parquet write, manifest commit, read-back stats);
      aux  = the router pass alone: ``extract_auto`` with the settings
             ``run_extraction`` uses, every column executed, no write.

    ``run_extraction`` carries a fixed cost per run (64-bucket
    repartition and write, manifest commit and read-back, job
    scheduling) that the corpus size the run budget allows does not
    outweigh; the aux pass leaves the write and manifest out, so the
    extraction's share of it is larger.

    The traced run also times the QA analyst's layers (parse, answer
    key, evaluate, score, validate) on the first ``EVAL_DOCS``
    documents of the same corpus."""

    name = "extract_bulk"
    INPUT_LAYER = "corpus"
    N_DOCS = 500
    EVAL_DOCS = 300
    PASS_S = 8          # seconds of --seconds one timed pass stands for
    CORE_SAMPLE = 200
    EVAL_SAMPLE = 40
    MAIN_OPS = AUX_OPS = N_DOCS

    def __init__(self, *a):
        super().__init__(*a)
        self.docs = self.eval_docs = None
        self.outputs: list[tuple[str, dict]] = []
        self._passes = 0

    def generate(self) -> int:
        from exam_pdf_parser_spark.operators.extract import corpus_df

        self.close()
        self.docs = corpus_df(self.spark, self.N_DOCS, seed=self.seed,
                              with_answer_key=True).persist()
        return self.docs.count()

    def _out_dir(self) -> str:
        self._passes += 1
        return os.path.join(self.workdir, "extract", f"pass{self._passes}")

    def _route(self) -> None:
        """The router pass ``run_extraction`` runs, without the write."""
        from exam_pdf_parser_spark.core.shard import DEFAULT_SHARD_CHARS
        from exam_pdf_parser_spark.operators.extract_paged import (
            extract_auto, release_routed_cache,
        )

        routed = extract_auto(self.docs, with_timing=True,
                              shard_chars=DEFAULT_SHARD_CHARS)
        noop_write(routed)
        release_routed_cache(routed)

    def _pass(self) -> tuple[float, float, str, dict]:
        from exam_pdf_parser_spark.sources.manifest import run_extraction

        out = self._out_dir()
        t0 = time.perf_counter()
        stats = run_extraction(self.spark, self.docs, out,
                               run_id=f"pass{self._passes}")
        t1 = time.perf_counter()
        self._route()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, out, stats

    def warm(self) -> None:
        shutil.rmtree(self._pass()[2])

    def iterate(self) -> tuple[dict[str, float], dict[str, float]]:
        main_s, aux_s, out, stats = self._pass()
        self.outputs.append((out, stats))
        return {"run_extraction": main_s}, {"extract_auto": aux_s}

    def oracle(self) -> None:
        from exam_pdf_parser_spark.core.assemble import extract_document
        from exam_pdf_parser_spark.operators.extract import span_dicts

        self.rows = [
            {"url": r["url"], "html": bytes(r["html"]),
             "answer_md": r["answer_md"]}
            for r in self.docs.select("url", "html", "answer_md").collect()]
        self.expected = {}
        for r in self.rows:
            text, regions = extract_document(r["html"])
            spans = [list(d.values()) for d in span_dicts(regions)]
            self.expected[r["url"]] = _regions_canon(text, spans)
        if self.traced:
            self._eval_oracle()

    def _eval_oracle(self) -> None:
        """Expected scores and validation issues of the eval corpus: the
        first ``EVAL_DOCS`` documents (``corpus_df`` builds document i
        from the seed and i alone)."""
        from exam_pdf_parser_spark.core.oracle_x import (
            x_eval_scores, x_validation_issues,
        )
        from exam_pdf_parser_spark.operators.extract import corpus_df

        self.eval_docs = corpus_df(self.spark, self.EVAL_DOCS, seed=self.seed,
                                   with_answer_key=True).persist()
        rows = [{"url": r["url"], "html": bytes(r["html"]),
                 "answer_md": r["answer_md"]}
                for r in self.eval_docs.select(
                    "url", "html", "answer_md").collect()]
        self.want_scores = {r["url"]: r for r in x_eval_scores(rows)}
        by_url: dict[str, list[dict]] = {}
        for r in x_validation_issues(rows):
            by_url.setdefault(r["url"], []).append(r)
        self.want_issues = {u: canon(rs, list(rs[0])) for u, rs in by_url.items()}

    def _check_dir(self, out: str, stats: dict, resume: bool = False) -> None:
        import inspect

        import pyarrow.parquet as pq

        from exam_pdf_parser_spark.sources.manifest import run_extraction

        n_buckets = inspect.signature(
            run_extraction).parameters["n_buckets"].default
        self.attempted += len(self.expected)
        if stats["buckets_processed"] != (0 if resume else n_buckets):
            self.failed += len(self.expected)
            return
        t = pq.read_table(os.path.join(out, "extracted"), columns=[
            "url", "extracted_text", "spans", "status", "n_shards"])
        got: dict[str, list] = {}
        for row in t.to_pylist():
            got.setdefault(row["url"], []).append(row)
        bad = sum(1 for u in got if u not in self.expected)
        for url, want in self.expected.items():
            rows = got.get(url, [])
            if (len(rows) != 1 or rows[0]["status"] != "ok"
                    or rows[0]["n_shards"] != 1):
                bad += 1
                continue
            spans = [list(s.values()) for s in rows[0]["spans"]]
            if _regions_canon(rows[0]["extracted_text"], spans) != want:
                bad += 1
        self.failed += min(bad, len(self.expected))

    def _check_scores(self, rows) -> None:
        got = Counter(r["url"] for r in rows)
        self.attempted += len(self.want_scores)
        bad = sum(1 for u, n in got.items()
                  if n != 1 or u not in self.want_scores)
        by_url = {r["url"]: r.asDict() for r in rows}
        bad += sum(1 for u, want in self.want_scores.items()
                   if by_url.get(u) != want)
        self.failed += min(bad, len(self.want_scores))

    def _check_issues(self, rows) -> None:
        by_url: dict[str, list[dict]] = {}
        for r in rows:
            by_url.setdefault(r["url"], []).append(r.asDict())
        self.attempted += len(self.want_scores)
        bad = 0
        for url in set(by_url) | set(self.want_issues):
            got = by_url.get(url, [])
            got_canon = canon(got, list(got[0])) if got else []
            if got_canon != self.want_issues.get(url, []):
                bad += 1
        self.failed += min(bad, len(self.want_scores))

    def check(self) -> tuple[int, int]:
        for out, stats in self.outputs:
            self._check_dir(out, stats)
            shutil.rmtree(out)
        self.outputs.clear()
        return self.attempted, self.failed

    def trace(self, tr) -> dict[str, float]:
        m = self._trace_core_extract(tr)
        m.update(self._trace_extract(tr))
        m.update(self._trace_core_eval(tr))
        m.update(self._trace_eval(tr))
        # kernel CPU time the pass needed / core time the pass held
        m["extract.parallel_eff"] = (
            m["core.extract_us_per_doc"] * 1e-6 * self.N_DOCS
            / (self.cores * m["extract.pass_s"]))
        m["evaluation.parallel_eff"] = (
            m["core.eval_us_per_doc"] * 1e-6 * self.EVAL_DOCS
            / (self.cores * m["evaluation.qeval_s"]))
        # how much of the CLI run is extraction: the router pass's wall,
        # and the kernel's CPU time, as shares of the run's wall
        m["manifest.extract_share"] = (
            m["extract_auto.pass_s"] / m["manifest.run_s"])
        m["manifest.kernel_share"] = (
            m["core.extract_us_per_doc"] * 1e-6 * self.N_DOCS
            / (self.cores * m["manifest.run_s"]))
        m["ops_per_s"] = self.N_DOCS / m["manifest.run_s"]
        return m

    def _trace_core_extract(self, tr) -> dict[str, float]:
        from exam_pdf_parser_spark.core.assemble import (
            annotate_block_texts, assemble_text, decode_payload,
            extract_document,
        )
        from exam_pdf_parser_spark.core.detector import detect_regions

        sample = [r["html"] for r in self.rows[: self.CORE_SAMPLE]]
        # whole-function and per-phase timings, interleaved per document
        # so both see the same cache and host state
        total, phase = 0.0, [0.0, 0.0, 0.0]
        with tr.span("core.extract_document"):
            for html in sample:
                t0 = time.perf_counter()
                extract_document(html)
                t1 = time.perf_counter()
                pages = decode_payload(html).get("pages", [])
                t2 = time.perf_counter()
                annotate_block_texts(pages)
                assemble_text(pages)
                t3 = time.perf_counter()
                detect_regions(pages, 1, 50)
                t4 = time.perf_counter()
                total += t1 - t0
                phase[0] += t2 - t1
                phase[1] += t3 - t2
                phase[2] += t4 - t3
        m = {"core.extract_us_per_doc": total / len(sample) * 1e6}
        for k, v in zip(("decode", "assemble", "detect"), phase):
            m[f"core.{k}_us_per_doc"] = v / len(sample) * 1e6
        return m

    def _trace_extract(self, tr) -> dict[str, float]:
        from pyspark.sql.types import StructType

        from exam_pdf_parser_spark.operators.extract import extract
        from exam_pdf_parser_spark.sources.manifest import (
            read_extracted, run_extraction,
        )

        m: dict[str, float] = {}
        docs = self.docs
        with tr.span("extract.extract", spark=True) as s:
            noop_write(extract(docs))
        m["extract.pass_s"] = s.seconds
        pair = docs.select("url", "html")

        def identity(batches):
            yield from batches

        with tr.span("extract.arrow_roundtrip", spark=True) as s:
            noop_write(pair.mapInArrow(identity, StructType(pair.schema.fields)))
        m["extract.arrow_roundtrip_s"] = s.seconds
        with tr.span("extract_paged.extract_auto", spark=True) as s:
            self._route()
        m["extract_auto.pass_s"] = s.seconds

        out = self._out_dir()
        with tr.span("manifest.run_extraction", spark=True) as s:
            stats = run_extraction(self.spark, docs, out, run_id="traced")
        m["manifest.run_s"] = s.seconds
        # the write runs in the same Spark job as the extraction, so it
        # has no span of its own: the run minus the router pass, which
        # host noise can take below 0 on a small corpus (read as 0)
        m["manifest.write_s"] = max(0.0, s.seconds - m["extract_auto.pass_s"])
        with tr.span("manifest.read_extracted", spark=True) as s:
            noop_write(read_extracted(self.spark, out))
        m["manifest.readback_s"] = s.seconds
        with tr.span("manifest.resume", spark=True) as s:
            resumed = run_extraction(self.spark, docs, out, run_id="resume")
        m["manifest.resume_noop_s"] = s.seconds

        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
                 if f.endswith(".parquet") and not f.startswith(".")]
        data = [f for f in files if f"{os.sep}extracted{os.sep}" in f]
        m["manifest.files_written"] = len(files)
        m["manifest.bytes_out_per_in"] = (
            sum(os.path.getsize(f) for f in data)
            / sum(len(r["html"]) for r in self.rows))
        self._check_dir(out, stats)
        self._check_dir(out, resumed, resume=True)
        shutil.rmtree(out)
        return m

    def _trace_core_eval(self, tr) -> dict[str, float]:
        from exam_pdf_parser_spark.core import scoring
        from exam_pdf_parser_spark.core.answerkey import parse_answer_md
        from exam_pdf_parser_spark.core.assemble import extract_document
        from exam_pdf_parser_spark.core.fields import (
            parse_exam_title, parse_question_fields,
        )

        sample = self.rows[: self.EVAL_SAMPLE]
        n = len(sample)
        with tr.span("core.extract_document"):
            regions = [extract_document(r["html"])[1] for r in sample]
        with tr.span("core.fields") as s:
            parsed = []
            for reg in regions:
                parse_exam_title(reg)
                parsed.append(parse_question_fields(reg))
        m = {"core.fields_us_per_doc": s.seconds / n * 1e6}
        with tr.span("core.answerkey") as s:
            keys = [parse_answer_md(r["answer_md"]) for r in sample]
        m["core.answerkey_us_per_doc"] = s.seconds / n * 1e6

        # count similarity() calls through the name core.scoring imports
        original = scoring.similarity
        calls = identical = 0

        def counted(a, b):
            nonlocal calls, identical
            calls += 1
            identical += a.lower() == b.lower()
            return original(a, b)

        scoring.similarity = counted
        try:
            with tr.span("core.eval_questions") as s:
                for p, k in zip(parsed, keys):
                    scoring.eval_questions(p, k)
        finally:
            scoring.similarity = original
        m["core.eval_us_per_doc"] = s.seconds / n * 1e6
        m["core.similarity_calls_per_doc"] = calls / n
        m["core.similarity_identical_frac"] = identical / calls if calls else 0.0
        return m

    def _trace_eval(self, tr) -> dict[str, float]:
        from exam_pdf_parser_spark.operators.evaluation import (
            evaluate_questions, score_urls,
        )
        from exam_pdf_parser_spark.operators.parsed import (
            answer_key_table, parse_documents,
        )
        from exam_pdf_parser_spark.operators.validation import validate

        m: dict[str, float] = {}
        with tr.span("parsed.parse_documents", spark=True) as s:
            p = parse_documents(self.eval_docs).persist()
            p.count()
        m["parsed.parse_s"] = s.seconds
        with tr.span("parsed.answer_key_table", spark=True) as s:
            k = answer_key_table(self.eval_docs).persist()
            k.count()
        m["parsed.answer_key_s"] = s.seconds
        with tr.span("evaluation.evaluate_questions", spark=True) as s:
            q = evaluate_questions(p, k).persist()
            q.count()
        m["evaluation.qeval_s"] = s.seconds
        with tr.span("evaluation.score_urls", spark=True) as s:
            scores = score_urls(q).collect()
        m["evaluation.score_s"] = s.seconds
        with tr.span("validation.validate", spark=True) as s:
            issues = validate(p, k).collect()
        m["validation.validate_s"] = s.seconds
        m["validation.jobs"] = s.counters["jobs"]
        for df in (p, k, q):
            df.unpersist()
        self._check_scores(scores)
        self._check_issues(issues)
        return m

    def close(self) -> None:
        if self.docs is not None:
            self.docs.unpersist()
        if self.eval_docs is not None:
            self.eval_docs.unpersist()


_FINAL_EXCHANGE = re.compile(r"\b(?:Broadcast)?Exchange\b")


class CurationQueries(Workload):
    """Curation and analytics job: the ten non-extraction queries of
    ``bench.py`` over seeded star-schema tables (``tables.py``), each
    built then fetched with ``toPandas``.  aux = building the ten plans
    alone (no action besides the jobs plan construction runs itself)."""

    name = "curation_queries"
    INPUT_LAYER = "tables"    # generated by this benchmark, not a package layer
    MAIN_OPS = AUX_OPS = len(CURATION_QUERIES)
    PASS_S = 7          # seconds of --seconds one timed pass stands for

    def __init__(self, *a):
        super().__init__(*a)
        self.data_dir = os.path.join(self.workdir, "tables")
        self.results: list[tuple[str, object]] = []

    def generate(self) -> int:
        """Returns the number of rows written."""
        return write_tables(self.seed, self.data_dir)

    def _queries(self):
        return [(name, _registry(mod).QUERIES[name])
                for mod, name in CURATION_QUERIES]

    def _suite(self, keep: bool) -> tuple[dict[str, float], dict[str, float]]:
        """One pass: per query, (build + fetch) and build seconds."""
        build, total = {}, {}
        for name, fn in self._queries():
            t0 = time.perf_counter()
            df = fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            t2 = time.perf_counter()
            build[name] = t1 - t0
            total[name] = t2 - t0
            if keep:
                self.results.append((name, pdf))
        return total, build

    def warm(self) -> None:
        self._suite(keep=False)

    def iterate(self) -> tuple[dict[str, float], dict[str, float]]:
        return self._suite(keep=True)

    def oracle(self) -> None:
        import duckdb

        con = duckdb.connect(config={
            "threads": self.cores,
            "temp_directory": os.path.join(self.workdir, "duckdb"),
            "autoinstall_known_extensions": False,
            "autoload_known_extensions": False,
        })
        try:
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.want = {}
            for mod, name in CURATION_QUERIES:
                ddf = con.sql(_registry(mod).ORACLE[name]).df()
                self.want[name] = (sorted(ddf.columns),
                                   canon(ddf.to_dict("records"), list(ddf.columns)))
        finally:
            con.close()

    def _check_one(self, name: str, pdf) -> None:
        self.attempted += 1
        cols, want = self.want[name]
        if sorted(pdf.columns) != cols or canon(
                pdf.to_dict("records"), list(pdf.columns)) != want:
            self.failed += 1

    def check(self) -> tuple[int, int]:
        for name, pdf in self.results:
            self._check_one(name, pdf)
        self.results.clear()
        return self.attempted, self.failed

    def trace(self, tr) -> dict[str, float]:
        m: dict[str, float] = {}
        suite = 0.0
        for name, fn in self._queries():
            with tr.span(f"{name}.build", spark=True) as b:
                df = fn(self.spark, self.data_dir)
            with tr.span(f"{name}.exec", spark=True) as e:
                pdf = df.toPandas()
            plan = df._jdf.queryExecution().executedPlan().toString()
            final = plan.split("== Initial Plan ==")[0]
            m[f"{name}.build_s"] = b.seconds
            m[f"{name}.build_jobs"] = b.counters["jobs"]
            m[f"{name}.exec_s"] = e.seconds
            m[f"{name}.exchanges"] = len(_FINAL_EXCHANGE.findall(final))
            m[f"{name}.shuffle_bytes"] = e.counters["shuffle_write_bytes"]
            m[f"{name}.spill_bytes"] = e.counters["spill_bytes"]
            suite += b.seconds + e.seconds
            self._check_one(name, pdf)
        m["ops_per_s"] = len(CURATION_QUERIES) / suite
        return m


WORKLOADS = {w.name: w for w in (ExtractBulk, CurationQueries)}

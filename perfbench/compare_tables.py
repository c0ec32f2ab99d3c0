"""Compare the generated curation tables with a directory of tables.

Prints, for the tables ``tables.py`` writes for ``--seed`` and for the
tables in each ``--against`` directory (same layout, e.g. a TESTDATA.md
scale directory):

  * document text length in words (quantiles), near copies (documents
    ending in `` dup``) and exact-duplicate groups;
  * near-duplicate pairs inside the dedupe pair scope
    (``doc_id < SPARK_GRAFT_PAIR_SCOPE``): pairs where one text is the
    other plus `` dup``;
  * the nearest-neighbour cosine of each embedding (quantiles);
  * the output rows of each curation query, from its DuckDB
    ``oracle_sql()`` twin;
  * with ``--spark``: each query's share of the suite's Spark wall
    (build + ``toPandas``, median of three passes after one warm pass).

Run from the repository root:

    python3 perfbench/compare_tables.py --seed 1 --against DIR [--spark]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from tables import TABLES, write_tables  # noqa: E402
from workloads import CURATION_QUERIES, _registry  # noqa: E402

PASSES = 3


def _quantiles(values) -> str:
    q = np.quantile(np.asarray(values, dtype=np.float64), [0, .25, .5, .75, 1])
    return "/".join(f"{v:.3g}" for v in q)


def table_figures(data_dir: str) -> dict[str, str]:
    from exam_pdf_parser_spark.operators.dedupe import PAIR_SCOPE

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pylist()
    texts = {r["doc_id"]: r["text"] for r in docs}
    groups: dict[str, int] = {}
    for t in texts.values():
        groups[t] = groups.get(t, 0) + 1
    scoped = {t: i for i, t in texts.items() if i < PAIR_SCOPE}
    pairs = sum(1 for i, t in texts.items()
                if i < PAIR_SCOPE and t.endswith(" dup")
                and t[:-4] in scoped)
    vecs = np.array(pq.read_table(os.path.join(
        data_dir, "embeddings.parquet"), columns=["embedding"])
        .column("embedding").to_pylist(), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    np.fill_diagonal(cos, -2.0)
    return {
        "documents": str(len(texts)),
        "words per doc (min/q1/median/q3/max)":
            _quantiles([len(t.split()) for t in texts.values()]),
        "near copies (`… dup`)":
            str(sum(t.endswith(" dup") for t in texts.values())),
        "exact-duplicate groups": str(sum(n > 1 for n in groups.values())),
        f"near-dup pairs in scope (doc_id < {PAIR_SCOPE})": str(pairs),
        "embeddings": str(len(vecs)),
        "nearest-neighbour cosine (min/q1/median/q3/max)":
            _quantiles(cos.max(axis=1)),
    }


def query_rows(data_dir: str, cores: int, tmp: str) -> dict[str, str]:
    import duckdb

    con = duckdb.connect(config={
        "threads": cores, "temp_directory": tmp,
        "autoinstall_known_extensions": False,
        "autoload_known_extensions": False,
    })
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {f"{name} rows": str(len(con.sql(
                    _registry(mod).ORACLE[name]).fetchall()))
                for mod, name in CURATION_QUERIES}
    finally:
        con.close()


def spark_shares(spark, data_dir: str) -> dict[str, str]:
    from harness import median

    fns = [(name, _registry(mod).QUERIES[name])
           for mod, name in CURATION_QUERIES]
    walls: dict[str, list[float]] = {name: [] for name, _ in fns}
    for p in range(PASSES + 1):
        for name, fn in fns:
            t0 = time.perf_counter()
            fn(spark, data_dir).toPandas()
            if p:                          # pass 0 warms the JVM
                walls[name].append(time.perf_counter() - t0)
    med = {name: median(w) for name, w in walls.items()}
    total = sum(med.values())
    out = {f"{name} share": f"{v / total:.3f}" for name, v in med.items()}
    out["suite wall (s)"] = f"{total:.2f}"
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--against", action="append", default=[],
                   help="a table directory to compare with (repeatable)")
    p.add_argument("--spark", action="store_true",
                   help="also time each query on Spark")
    args = p.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    workdir = os.path.join(os.path.dirname(HERE), ".perfbench_work",
                           f"compare-{os.getpid()}")
    os.makedirs(workdir)
    generated = os.path.join(workdir, "tables")
    write_tables(args.seed, generated)
    dirs = {f"generated (seed {args.seed})": generated}
    dirs.update({os.path.basename(os.path.normpath(d)): d
                 for d in args.against})
    cols: dict[str, dict[str, str]] = {}
    spark = None
    try:
        if args.spark:
            from harness import start_session
            spark = start_session(cores, workdir)
        for label, d in dirs.items():
            cols[label] = table_figures(d)
            cols[label].update(query_rows(d, cores, workdir))
            if spark is not None:
                cols[label].update(spark_shares(spark, d))
    finally:
        if spark is not None:
            from harness import stop_session
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    labels = list(cols)
    print("| figure | " + " | ".join(labels) + " |")
    print("|---|" + "---|" * len(labels))
    for key in cols[labels[0]]:
        print(f"| {key} | " + " | ".join(cols[c][key] for c in labels) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())

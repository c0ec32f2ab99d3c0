"""Adversarial hot-bucket skew A/B for the bucketed pair join (round 4).

Plants a corpus with ~30% of vectors near-identical — they share one
(table, bucket) key in every hyperplane table, the worst case for the
bucket self-join — and measures the candidate join
(`dedupe.block_grid_self_join`, the guard behind the MinHash and
simhash pair queries) with the g×g block-grid guard off
(``cap=None``: the hot bucket's m² join rows are generated in ONE
task) vs on (per-task work bounded by ~cap²).

Two readings per variant:
  * wall seconds (best-of-2) — at local scale the balanced dedup
    shuffle dominates, so wall alone understates the guard;
  * straggler profile from the Spark UI REST API: the MAX task
    duration and the max/median balance ratio across the join stages
    — the number that decides whether one task stalls (or OOMs) a
    100 TB run.

Count + order-free checksum equality between the two plans is asserted
before reporting, so the numbers can never describe a lossy
mitigation.

Usage: python scripts/hot_bucket_bench.py [n_vecs] [cap]
Prints one JSON line; results recorded in BENCH_SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PLANES = 8
N_TABLES = 1
SEED = 7


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _job_task_profile(spark, job_ids: list[int]) -> dict:
    """Max and median task duration (sec) over every stage of the
    given jobs, read from the Spark UI REST API."""
    base = spark.sparkContext.uiWebUrl
    app = _rest(f"{base}/api/v1/applications")[0]["id"]
    stage_ids = set()
    for j in _rest(f"{base}/api/v1/applications/{app}/jobs"):
        if j["jobId"] in job_ids:
            stage_ids.update(j["stageIds"])
    worst_max = worst_ratio = 0.0
    for sid in sorted(stage_ids):
        try:
            summ = _rest(
                f"{base}/api/v1/applications/{app}/stages/{sid}/0/"
                f"taskSummary?quantiles=0.5,1.0")
        except Exception:
            continue                        # skipped/tiny stage
        med, mx = (v / 1000.0 for v in summ["duration"])
        worst_max = max(worst_max, mx)
        if med > 0.05:                      # ignore sub-50ms stages
            worst_ratio = max(worst_ratio, mx / med)
    return {"max_task_sec": round(worst_max, 3),
            "max_over_median": round(worst_ratio, 1)}


def main() -> None:
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.operators.dedupe import block_grid_self_join
    from exam_pdf_parser_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 40000
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    dim, hot_frac = 64, 0.30

    rng = np.random.default_rng(11)
    n_hot = int(n * hot_frac)
    base = rng.standard_normal(dim)
    mat = np.vstack([
        base + 0.02 * rng.standard_normal((n_hot, dim)),
        rng.standard_normal((n - n_hot, dim)),
    ])

    prng = np.random.default_rng(SEED)
    planes = prng.standard_normal((N_TABLES, N_PLANES, dim))
    sig_rows = []
    for t in range(N_TABLES):
        bits = (mat @ planes[t].T) > 0
        buckets = bits @ (1 << np.arange(N_PLANES, dtype=np.int64))
        sig_rows.extend((i, t, int(buckets[i])) for i in range(n))

    # UI on: the straggler profile reads task summaries from the UI
    # REST API (get_spark disables the UI by default)
    spark = get_spark("hot-bucket-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 4,
                      extra_conf={"spark.ui.enabled": "true"})
    sigs = spark.createDataFrame(
        sig_rows, "vec_id: long, table: int, bucket: long").persist()
    sigs.count()
    max_bucket = sigs.groupBy("table", "bucket").count().agg(
        F.max("count")).first()[0]

    def checksum(df):
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("vec_a", "vec_b")
                  .cast("decimal(38,0)")).alias("h")).first()

    def candidate_pairs(bucket_cap):
        return block_grid_self_join(sigs, "vec_id", ["table", "bucket"],
                                    "vec_a", "vec_b", bucket_cap)

    sc = spark.sparkContext

    def timed(bucket_cap, reps=2):
        runs, jobs = [], []
        for _ in range(reps):
            before = max(sc.statusTracker().getJobIdsForGroup() or [-1])
            t0 = time.perf_counter()
            candidate_pairs(bucket_cap).count()
            runs.append(round(time.perf_counter() - t0, 3))
            after = sc.statusTracker().getJobIdsForGroup() or []
            jobs = [j for j in after if j > before]
        prof = _job_task_profile(spark, jobs)   # profile the last rep
        return min(runs), runs, prof

    candidate_pairs(cap).count()     # warm pools
    capped_sec, capped_runs, capped_prof = timed(cap)
    uncapped_sec, uncapped_runs, uncapped_prof = timed(None)
    ck_c = checksum(candidate_pairs(cap))
    ck_u = checksum(candidate_pairs(None))
    assert (ck_c["n"], ck_c["h"]) == (ck_u["n"], ck_u["h"]), (ck_c, ck_u)

    print(json.dumps({
        "metric": "hot-bucket-lsh-candidate-join",
        "n_vecs": n, "hot_frac": hot_frac, "hot_bucket_size": n_hot,
        "max_bucket": int(max_bucket), "bucket_cap": cap,
        "g_blocks": -(-n_hot // cap), "n_tables": N_TABLES,
        "candidates": int(ck_c["n"]),
        "capped": {"wall_sec": capped_sec, "runs": capped_runs,
                   **capped_prof},
        "uncapped": {"wall_sec": uncapped_sec, "runs": uncapped_runs,
                     **uncapped_prof},
        "wall_speedup": round(uncapped_sec / capped_sec, 2),
        "straggler_reduction": round(
            uncapped_prof["max_task_sec"]
            / max(capped_prof["max_task_sec"], 1e-3), 1),
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

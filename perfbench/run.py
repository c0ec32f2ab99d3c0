"""Seeded end-to-end benchmark of exam_pdf_parser_spark.

Run from the repository root:

    python3 perfbench/run.py --workload extract_bulk --seed 1 \\
        --seconds 21 --trace 0

Workloads (see workloads.py and BENCHMARK.json): ``extract_bulk`` and
``curation_queries``.  The inputs are generated from
``--seed``; the package only ever receives the generated tables.
Spark runs in this process on ``local[N]``, N = the CPUs this process
may use.

``--trace 0`` reports the end-to-end metrics: set-up, the per-part
medians over the timed passes (at least ``MIN_PASSES``, more if
``--seconds`` holds more) and the share of operations whose output matched the oracle.
``--trace 1`` runs one pass split into per-layer calls, each in a span,
and reports the per-layer metrics; metrics of layers the workload never
calls read 0.
Spans are written to ``.perfbench_work/traces/``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# operators/dedupe.py bakes SPARK_GRAFT_PAIR_SCOPE into its plans and
# oracle SQL at import; any other value changes curation_queries
DEFAULT_PAIR_SCOPE = "200"
GEN_REPS = 3
MIN_PASSES = 2
DRIVER_MEM = "2g"
PROBE_REPS = 5

# the workload-specific name of each end-to-end metric, for the summary
ALIASES = {
    "extract_bulk": {"ops_per_s": ("extract_docs_per_s", "docs/s"),
                     "aux_ops_per_s": ("extract_auto_docs_per_s", "docs/s")},
    "curation_queries": {"ops_per_s": ("curation_suite_s", "s"),
                         "aux_ops_per_s": ("curation_build_s", "s")},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(ALIASES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def host_probe_s() -> float:
    """Median seconds of a fixed pure-Python loop that touches no
    package code: a record of the host's speed at the time of a run,
    so that host drift can be told apart from a change of the code."""
    from harness import median

    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    return median(times)


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (``/proc/stat``): user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def environment(cores: int, seed: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    def has(module: str) -> bool:
        try:
            __import__(module)
        except ImportError:
            return False
        return True

    return {
        "nproc": cores, "master": f"local[{cores}]", "seed": seed,
        "python": platform.python_version(), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
        "orjson": has("orjson"), "lxml": has("lxml"),
        "SPARK_GRAFT_PAIR_SCOPE": os.environ.get(
            "SPARK_GRAFT_PAIR_SCOPE", DEFAULT_PAIR_SCOPE),
        "driver_memory": DRIVER_MEM,
        "host_probe_s": host_probe_s(),
    }


def measure(wl, session, seconds: int) -> dict[str, float]:
    """End-to-end run: set-up, then timed passes for ``seconds``."""
    from harness import median

    t0 = time.perf_counter()
    session.start()
    session_s = time.perf_counter() - t0
    gens = []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        wl.generate()
        gens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + median(gens) + warm_s
    print(f"perfbench setup session_s={session_s:.3f} gen_s={gens} "
          f"warm_s={warm_s:.3f}", flush=True)

    wl.oracle()
    mains: dict[str, list[float]] = {}
    auxs: dict[str, list[float]] = {}
    # a fixed pass count for a given --seconds: the first pass after the
    # warm pass is still slower (JIT), so a count that followed host
    # speed would make the median jump between runs
    for _ in range(max(MIN_PASSES, seconds // wl.PASS_S)):
        main, aux = wl.iterate()
        for parts, times in ((mains, main), (auxs, aux)):
            for part, t in times.items():
                parts.setdefault(part, []).append(t)
    # each part (a job, or one query of a suite) is timed by its median
    # over the passes, so a burst of host load in one pass moves one
    # sample of the parts it hit, not the whole figure
    main_s = sum(median(ts) for ts in mains.values())
    aux_s = sum(median(ts) for ts in auxs.values())
    print(f"perfbench passes={len(next(iter(mains.values())))} "
          f"main_s={mains} aux_s={auxs}", flush=True)
    return {
        "setup_s": setup_s,
        "ops_per_s": wl.MAIN_OPS / main_s,
        "aux_ops_per_s": wl.AUX_OPS / aux_s,
    }


def traced(wl, session, tracer) -> dict[str, float]:
    """Per-layer run: every call into a layer sits in a span."""
    from harness import process_tree_hwm_mb
    with tracer.span(wl.name):
        with tracer.span("session.start") as start:
            session.start()
        with tracer.span(f"{wl.INPUT_LAYER}.gen", spark=True) as g:
            rows = wl.generate()
        with tracer.span("warm"):
            wl.warm()
        with tracer.span("oracle"):
            wl.oracle()
        m = wl.trace(tracer)
    m["session.start_s"] = start.seconds
    m[f"{wl.INPUT_LAYER}.gen_docs_per_s"] = rows / g.seconds
    m[f"{wl.name}.traced_ops_per_s"] = m.pop("ops_per_s")
    m[f"{wl.name}.span_cover_frac"] = tracer.cover_frac(0)
    m[f"{wl.name}.trace_bookkeeping_s"] = tracer.bookkeeping_s
    m[f"{wl.name}.peak_rss_mb"] = process_tree_hwm_mb()
    for k, v in tracer.spark_totals().items():
        m[f"{wl.name}.{k}"] = v
    return m


class Session:
    """Owns the SparkSession of one benchmark run."""

    def __init__(self, cores: int, workdir: str):
        self.cores = cores
        self.workdir = workdir
        self.spark = None

    def start(self):
        from harness import start_session

        self.spark = start_session(self.cores, self.workdir)

    def get(self):
        return self.spark

    def stop(self):
        from harness import stop_session

        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None


def main(argv=None) -> int:
    args = parse_args(argv)
    scope = os.environ.get("SPARK_GRAFT_PAIR_SCOPE", DEFAULT_PAIR_SCOPE)
    if scope != DEFAULT_PAIR_SCOPE:
        print(f"perfbench: SPARK_GRAFT_PAIR_SCOPE={scope}; the benchmark is "
              f"defined at {DEFAULT_PAIR_SCOPE} only — unset it",
              file=sys.stderr)
        return 2
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "exam_pdf_parser_spark"))
            and os.path.isfile(spec_path)):
        print(f"perfbench: {ROOT} holds no exam_pdf_parser_spark package "
              "to benchmark", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    # every scratch file (Spark, py4j, the package zip) stays in workdir;
    # -UsePerfData keeps both JVMs (spark-submit's launcher and the
    # driver, see harness.launch_conf) from writing /tmp/hsperfdata_*
    os.environ["TMPDIR"] = workdir
    os.environ["SPARK_LOCAL_DIRS"] = workdir
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None

    from harness import Tracer
    from workloads import WORKLOADS

    ticks = cpu_ticks()
    env = environment(cores, args.seed)
    print("perfbench env " + json.dumps(env), flush=True)
    session = Session(cores, workdir)
    wl = WORKLOADS[args.workload](session.get, cores, args.seed, workdir,
                                  args.trace == 1)
    tracer = Tracer(f"{args.workload}-{args.seed}", args.trace == 1,
                    lambda: session.get().sparkContext)
    try:
        if args.trace:
            metrics = traced(wl, session, tracer)
            tracer.dump(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = measure(wl, session, args.seconds)
        attempted, failed = wl.check()
        # steal: time the hypervisor gave this VM's CPUs to other guests
        used = [b - a for a, b in zip(ticks, cpu_ticks())]
        print(f"perfbench host_probe_end_s={host_probe_s():.5f} "
              f"host_steal_frac={used[7] / max(1, sum(used)):.4f}",
              flush=True)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        wl.close()
        session.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    if not args.trace:
        metrics["ok_frac"] = 1.0 - failed / attempted
        for key, (alias, unit) in ALIASES[args.workload].items():
            value = metrics[key]
            if unit == "s":   # the curation jobs are stated as wall times
                value = (wl.MAIN_OPS if key == "ops_per_s" else wl.AUX_OPS) / value
            print(f"perfbench {args.workload} {alias} = {value:.4f} {unit}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a per-layer metric of a layer this workload never calls reads 0
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)
                                               if args.trace
                                               else metrics[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession factory with the engine's scale-oriented defaults.

Tested on ``local[N]``; the confs are the ones that matter on a real
multi-executor cluster too (AQE, Arrow batching, shuffle sizing —
SURVEY.md §4 "explicit engineering" items 1+4).
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_DIR = Path(__file__).resolve().parent
_REPO_ROOT = _PKG_DIR.parent


def package_zip() -> str:
    """Build the ``--py-files`` artifact for spark-submit / addPyFile.

    On a real cluster the executors don't share the driver's
    filesystem; this zip is how the engine ships (north rule:
    ``spark-submit --py-files``).
    """
    import tempfile

    out = Path(tempfile.gettempdir()) / "exam_pdf_parser_spark.zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(_PKG_DIR.rglob("*.py")):
            zf.write(py, py.relative_to(_REPO_ROOT))
    return str(out)


def get_spark(
    app_name: str = "exam-pdf-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    # Python workers are forked by the JVM and inherit its environment;
    # exporting PYTHONPATH *before* the JVM launches makes the package
    # importable in executors regardless of the driver's cwd.  (Local
    # mode; cluster mode uses the addPyFile zip below.)
    pp = os.environ.get("PYTHONPATH", "")
    if str(_REPO_ROOT) not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_REPO_ROOT}{os.pathsep}{pp}" if pp else str(_REPO_ROOT)
        )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow everywhere: pandas UDF transfer is the hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html blobs are ~KB-MB; 512-row batches pipeline JVM Arrow
        # serialization with Python work best (+30% vs 2048, measured
        # sweep 256-2048 at local[16] on the 120k corpus).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # AQE: runtime coalescing + skew-join splitting (host-level skew).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # deterministic timestamps in parquet round-trips
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Cluster-mode distribution path; harmless no-op benefit on local.
    spark.sparkContext.addPyFile(package_zip())
    return spark

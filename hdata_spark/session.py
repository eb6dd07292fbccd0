"""SparkSession factory with scale-oriented defaults.

The sandbox runs local[N] in a single JVM, but every setting here is chosen to
also be the right call on a 1000-executor cluster reading 100 TB:

- AQE on: runtime coalescing of small shuffle partitions + skew-join splitting.
- Arrow on: every pandas UDF exchange is columnar (no per-row pickling).
- shuffle.partitions sized to cores locally; on a real cluster this should be
  ~2-3x total executor cores (or left to AQE's coalescing with a high initial).
- maxPartitionBytes at the 128 MB default keeps scan tasks right-sized for
  100 TB inputs (~800k tasks, fine for a large cluster; AQE coalesces tails).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "hdata_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` controls local parallelism (local[cpus]); the bench harness uses
    this to evidence N->4N scaling (local[8] vs local[32]).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # Python workers must be able to import this package even when the
    # driver found it via sys.path manipulation (spark-submit --py-files /
    # external harness): prepend the package root to PYTHONPATH before the
    # JVM forks workers. Worker-executed closures are also pickled by value
    # (functions/text.py, operators/multimodal.py), so this is defense in
    # depth, not a hard dependency.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode runs every task inside the driver JVM; size the heap for
        # cores x in-flight partitions of wide string data or GC dominates.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB scan splits (the Spark default, kept explicit): the LWW
        # dedup's map-side partial aggregation is what keeps the shuffle
        # sub-linear in events, and its combine ratio is a direct function of
        # events-per-scan-task. 32 MB splits measured ~2.5x MORE shuffled
        # rows on the bench replay (each small task sees too few repeats of
        # any key to combine); 128 MB keeps ~10^2 tasks per 10 GB — wide
        # enough for the cluster, heavy enough to combine.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Commit algorithm v2: task outputs rename straight to the output dir
        # (no serial driver-side job-commit rename pass). Our sink's atomic
        # pointer swap — not the file committer — is the correctness anchor,
        # so v2's weaker job-commit atomicity costs nothing.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Plain MIN/MAX/COUNT aggregates over parquet resolve from footer
        # statistics instead of scanning rows (epoch bounds, watermark
        # probes). No effect on aggs with filters/group-bys.
        .config("spark.sql.parquet.aggregatePushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""Explicit hash partitioning, skew detection, and hot-key salting.

The reference's Splitter family is its partitioning planner; its one piece of
skew handling is the two-ended chunk-stealing work queue in the JDBC scanner
(hdata-jdbc/.../reader/jdbc/JDBCIterator.java:67-103 — fast threads drain
remaining range chunks from either end). Spark gives us AQE skew-join
splitting on shuffles for free, but the apply stage of a CDC pipeline
partitioned BY REPO is skewed at the source: one hot monorepo can carry 100x
the path mass. AQE cannot re-split a `groupBy(repo)` hot key — salting can.

Scheme (north-star: "salt-splitting of hot monorepo keys"):

1. `build_salt_map(df, "repo")` — one cheap count-by-key aggregation flags
   keys whose row mass exceeds `threshold` x the mean; each hot key gets
   ``ceil(rows / target_rows_per_task)`` salt buckets. The map is tiny
   (hot keys only) and is broadcast implicitly via a literal CASE expression.
2. `with_salt(df, salt_map)` — salt = pmod(xxhash64(path), n_salts(repo)),
   deterministic per (repo, path) so the SAME key always lands in the SAME
   salted partition — no second global shuffle is needed for key-local
   operations like LWW dedup or MERGE bucketing.
3. Downstream repartition on (repo, _salt) spreads the hot repo over
   n_salts tasks.

Because salt is a pure function of (repo, path), per-key operations stay
correct without a de-salting pass; only per-REPO aggregations need a second
stage (aggregate (repo, _salt) partials, then re-aggregate by repo).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_counts(
    counts: dict[str, int],
    threshold: float = 4.0,
    target_rows_per_task: int | None = None,
    max_salts: int = 64,
    mean: float | None = None,
) -> dict[str, int]:
    """The salting POLICY, shared by every detector: keys whose row mass
    exceeds `threshold` x the mean get ceil(rows / target) salt buckets
    (floor 2, capped at max_salts). Input is a plain {key: row_count} dict.

    ``mean``: the TRUE mean rows-per-key, for callers that pass a
    pre-filtered hot-keys-only dict (build_salt_map's driver-bounded
    collect) — computing the mean from hot keys alone would inflate it.
    """
    if not counts:
        return {}
    if mean is None:
        mean = sum(counts.values()) / len(counts)
    if target_rows_per_task is None:
        # aim to split a hot key back down to ~mean-sized chunks
        target_rows_per_task = max(int(mean), 1)
    return {
        k: int(min(max_salts, max(2, -(-n // target_rows_per_task))))
        for k, n in counts.items()
        if n > threshold * mean
    }


def _hot_key_rows(
    counts: DataFrame, key: str, threshold: float, mean: float
) -> DataFrame:
    """The frame build_salt_map collects: the threshold cut is pushed INTO
    the query, so only keys above threshold x mean ever reach the driver."""
    return counts.filter(F.col("count") > F.lit(threshold * mean))


def build_salt_map(
    df: DataFrame,
    key: str = "repo",
    threshold: float = 4.0,
    target_rows_per_task: int | None = None,
    max_salts: int = 64,
) -> dict[str, int]:
    """Detect hot keys; returns {} when nothing is hot. DRIVER-BOUNDED: the
    key counts stay executor-side (persisted once), the driver fetches one
    mean row plus the hot rows only — never one row per distinct key, so the
    helper is safe at 10^8 keys. At 100 TB run this on a
    sampled or metadata-derived count, or maintain it incrementally in the
    metrics table — the contract is just a dict (policy in `salt_counts`)."""
    counts = df.groupBy(key).count().persist()
    try:
        mean_row = counts.agg(F.avg("count").alias("m")).collect()[0]
        if mean_row["m"] is None:
            return {}
        mean = float(mean_row["m"])
        rows = _hot_key_rows(counts, key, threshold, mean).collect()
    finally:
        counts.unpersist()
    return salt_counts(
        {r[key]: r["count"] for r in rows},
        threshold=threshold,
        target_rows_per_task=target_rows_per_task,
        max_salts=max_salts,
        mean=mean,
    )


def with_salt(
    df: DataFrame,
    salt_map: dict[str, int],
    key: str = "repo",
    subkey: str = "path",
    salt_col: str = "_salt",
) -> DataFrame:
    """Add a deterministic salt column: pmod(xxhash64(subkey), n_salts(key)).

    Non-hot keys get salt 0. The CASE over hot keys is a literal expression —
    no join, no shuffle; evaluated inside whole-stage codegen.
    """
    if not salt_map:
        return df.withColumn(salt_col, F.lit(0))
    # CASE key WHEN 'hot1' THEN n1 ... ELSE 1 END — literal, codegen-friendly
    case = None
    for k, n in salt_map.items():
        cond = F.col(key) == F.lit(k)
        case = F.when(cond, F.lit(n)) if case is None else case.when(cond, F.lit(n))
    n_salts = case.otherwise(F.lit(1))
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(F.col(subkey)), n_salts).cast("int")
    )


def repartition_salted(
    df: DataFrame,
    num_partitions: int,
    key: str = "repo",
    salt_col: str = "_salt",
) -> DataFrame:
    """Hash-repartition on (key, salt) — the explicit apply-stage exchange."""
    return df.repartition(num_partitions, F.col(key), F.col(salt_col))


def with_bucket(
    df: DataFrame,
    keys: Sequence[str] = ("repo", "path"),
    n_buckets: int = 64,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Stable storage bucket for the snapshot sink: pmod(xxhash64(keys), n).

    Bucketing by full key (repo, path) is uniform even under repo skew, so
    the TARGET layout never needs salting — only repo-grained shuffles do.
    """
    return df.withColumn(
        bucket_col,
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int"),
    )


def skew_ratio(df: DataFrame, partition_col: str) -> DataFrame:
    """Per-partition-value rows / mean rows — the metrics-table skew signal."""
    counts = df.groupBy(partition_col).count()
    stats = counts.agg(F.avg("count").alias("_mean"))
    return counts.crossJoin(stats).select(
        F.col(partition_col),
        F.col("count").alias("rows"),
        (F.col("count") / F.col("_mean")).alias("skew_ratio"),
    )

"""Skew/salt correctness (SURVEY §5.2.6) + partitioning unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from hdata_spark.fixtures import CDCFixtureConfig, generate_events
from hdata_spark.operators.dedup import lww_latest, lww_latest_window
from hdata_spark.operators.partitioning import (
    build_salt_map,
    repartition_salted,
    skew_ratio,
    with_bucket,
    with_salt,
)


def _events_df(spark, hot_factor=25):
    cfg = CDCFixtureConfig(
        seed=44, n_repos=10, paths_per_repo=10, hot_repos=1,
        hot_factor=hot_factor, n_events=3_000, epoch_size=3_000, base_rows=0,
    )
    return spark.createDataFrame(generate_events(cfg)).filter(
        F.col("op") != "schema_change"
    )


def test_salt_map_flags_hot_repo(spark):
    df = _events_df(spark)
    salt_map = build_salt_map(df, "repo", threshold=4.0)
    assert salt_map, "hot repo not detected"
    assert all(n >= 2 for n in salt_map.values())
    # the hot repo is org0/repo0 (first hot_repos entries carry hot_factor mass)
    assert "org0/repo0" in salt_map


def test_salt_is_deterministic_per_key(spark):
    df = _events_df(spark)
    salt_map = build_salt_map(df, "repo")
    salted = with_salt(df, salt_map)
    n_distinct = (
        salted.groupBy("repo", "path")
        .agg(F.countDistinct("_salt").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert n_distinct == 1  # same (repo, path) -> same salt, always


def test_salt_spreads_hot_repo(spark):
    df = _events_df(spark)
    salt_map = build_salt_map(df, "repo")
    salted = with_salt(df, salt_map)
    hot = next(iter(salt_map))
    used = (
        salted.filter(F.col("repo") == hot)
        .select("_salt").distinct().count()
    )
    assert used >= 2  # hot repo's rows occupy multiple salt buckets


def test_salted_vs_unsalted_dedup_identical(spark):
    """Salting must not change LWW results (salt is repartitioning only)."""
    df = _events_df(spark)
    plain = {
        (r["repo"], r["path"], r["lsn"])
        for r in lww_latest(df, ("repo", "path"), "lsn")
        .select("repo", "path", "lsn").collect()
    }
    salt_map = build_salt_map(df, "repo")
    salted = repartition_salted(with_salt(df, salt_map), 16)
    resalted = {
        (r["repo"], r["path"], r["lsn"])
        for r in lww_latest(salted.drop("_salt"), ("repo", "path"), "lsn")
        .select("repo", "path", "lsn").collect()
    }
    assert plain == resalted


def test_lww_aggregate_and_window_variants_agree(spark):
    df = _events_df(spark)
    a = {
        tuple(r) for r in lww_latest(df, ("repo", "path"), "lsn")
        .select("repo", "path", "lsn", "commit").collect()
    }
    b = {
        tuple(r) for r in lww_latest_window(df, ("repo", "path"), "lsn")
        .select("repo", "path", "lsn", "commit").collect()
    }
    assert a == b


def test_bucket_uniformity_under_repo_skew(spark):
    """Key-bucketing stays balanced even with a 25x hot repo."""
    df = _events_df(spark, hot_factor=25)
    bucketed = with_bucket(df, ("repo", "path"), n_buckets=16)
    ratios = skew_ratio(bucketed, "bucket").select("skew_ratio").collect()
    assert max(r["skew_ratio"] for r in ratios) < 2.0


def test_skew_ratio_flags_hot_partition(spark):
    df = _events_df(spark, hot_factor=25)
    by_repo = skew_ratio(df, "repo").collect()
    hot = [r for r in by_repo if r["repo"] == "org0/repo0"]
    assert hot and hot[0]["skew_ratio"] > 4.0


def test_build_salt_map_collect_is_bounded(spark):
    """The library helper's collect is driver-bounded: with 100k distinct
    keys and 2 hot ones, the frame the driver collects carries ONLY the hot
    rows — the threshold cut is pushed into the query — and the result
    matches the policy on the true mean."""
    from pyspark.sql import functions as F

    from hdata_spark.operators.partitioning import _hot_key_rows

    n_cold, hot_n = 100_000, 5_000
    cold = spark.range(n_cold).select(
        F.concat(F.lit("org/cold"), F.col("id")).alias("repo")
    )
    hot = spark.range(2 * hot_n).select(
        F.concat(F.lit("org/hot"), (F.col("id") % 2)).alias("repo")
    )
    df = cold.unionByName(hot)
    counts = df.groupBy("repo").count()
    true_mean = (n_cold + 2 * hot_n) / (n_cold + 2)
    # the collected frame is pre-filtered to hot rows only
    assert _hot_key_rows(counts, "repo", 4.0, true_mean).count() == 2
    salt_map = build_salt_map(df, "repo", threshold=4.0)
    assert set(salt_map) == {"org/hot0", "org/hot1"}
    assert all(n >= 2 for n in salt_map.values())

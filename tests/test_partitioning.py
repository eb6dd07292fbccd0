"""Key bucketing of the snapshot sink under repo skew (SURVEY §5.2.6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hdata_spark.fixtures import CDCFixtureConfig, generate_events
from hdata_spark.sinks.snapshot import SnapshotTable


def test_bucket_uniformity_under_repo_skew(spark, tmp_path):
    """The sink's (repo, path) bucket hash stays balanced even with a 25x
    hot repo: no bucket holds 2x the mean of the events routed to it."""
    cfg = CDCFixtureConfig(
        seed=44, n_repos=10, paths_per_repo=10, hot_repos=1,
        hot_factor=25, n_events=3_000, epoch_size=3_000, base_rows=0,
    )
    df = spark.createDataFrame(generate_events(cfg)).filter(
        F.col("op") != "schema_change"
    )
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=16)
    counts = [
        r["count"]
        for r in df.select(table._bucket_expr().alias("bucket"))
        .groupBy("bucket").count().collect()
    ]
    assert len(counts) == 16
    assert max(counts) / (sum(counts) / len(counts)) < 2.0

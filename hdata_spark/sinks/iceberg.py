"""Iceberg implementation of the snapshot-table sink interface.

On a production cluster the engine's sink IS an Iceberg table; the sandbox
has no Iceberg runtime jar, so `sinks/snapshot.py` re-implements the same
semantics on plain parquet (manifest + atomic pointer). This module is the
Iceberg-native twin behind the same interface:

- `merge`   -> `MERGE INTO t USING batch ON keys WHEN MATCHED AND s.lsn >
  t._lsn ...` (stored-LSN LWW, tombstone column for deletes — identical
  resolution rule as the parquet sink, so replays stay idempotent);
- `register_deltas`-style fast appends -> plain `append()` writes + the LWW
  view (Iceberg's own snapshot machinery replaces the manifest);
- `evolve_schema` -> `ALTER TABLE ... ADD COLUMN / RENAME COLUMN / ALTER
  COLUMN TYPE` (Iceberg column IDs replace our rename-lineage `sources`);
- `compact` -> `CALL catalog.system.rewrite_data_files` + tombstone expiry.

Every statement is built by a pure function so the SQL surface is unit-
testable without a catalog (tests/test_iceberg_sql.py); `IcebergTable`
executes them when an Iceberg catalog is actually configured
(`spark.sql.catalog.<name>` set and the runtime jar on the classpath).

Reference parity: this is the upsert path of
hdata-jdbc/.../writer/jdbc/JDBCWriter.java:128-145 (`ON DUPLICATE KEY
UPDATE`) upgraded with LSN guards, and the Hive writer's OutputCommitter
protocol (hdata-hive/.../writer/hive/HiveWriter.java:155-171) replaced by
Iceberg's atomic snapshot commit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def quote(ident: str) -> str:
    return "`" + ident.replace("`", "``") + "`"


def create_table_sql(
    table: str,
    columns: Sequence[tuple[str, str]],
    keys: Sequence[str] = ("repo", "path"),
    n_buckets: int = 4096,
) -> str:
    """CREATE TABLE with hash-bucket partitioning on the merge key.

    `bucket(n, repo, path)` gives storage-partitioned joins for MERGE (no
    shuffle of the target) and bounded copy-on-write amplification — the
    Iceberg-native form of SnapshotTable's bucket layout.
    """
    cols = ",\n  ".join(f"{quote(c)} {t}" for c, t in columns)
    key_list = ", ".join(quote(k) for k in keys)
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        f"  {cols},\n"
        f"  `_lsn` BIGINT,\n"
        f"  `_op` STRING\n"
        f") USING iceberg\n"
        f"PARTITIONED BY (bucket({n_buckets}, {key_list}))\n"
        f"TBLPROPERTIES (\n"
        f"  'write.distribution-mode' = 'hash',\n"
        f"  'write.merge.mode' = 'merge-on-read',\n"
        f"  'write.target-file-size-bytes' = '268435456',\n"
        f"  'commit.retry.num-retries' = '10'\n"
        f")"
    )


def merge_sql(
    table: str,
    source_view: str,
    columns: Sequence[str],
    keys: Sequence[str] = ("repo", "path"),
) -> str:
    """LWW MERGE: incoming row wins iff strictly newer (s.lsn > t._lsn).

    Deletes persist as tombstones (`_op='d'`), mirroring the parquet sink,
    so replaying an old epoch can never resurrect a deleted key; equal LSN
    = same event = no-op (idempotent replays). Source must be pre-deduped
    per key (one row per key), as SnapshotTable.merge makes its batch
    before the join.
    """
    on = " AND ".join(f"t.{quote(k)} = s.{quote(k)}" for k in keys)
    payload = [c for c in columns if c not in keys]
    set_clause = ", ".join(
        [f"t.{quote(c)} = s.{quote(c)}" for c in payload]
        + ["t.`_lsn` = s.`lsn`",
           "t.`_op` = CASE WHEN s.`op` = 'delete' THEN 'd' ELSE 'u' END"]
    )
    insert_cols = ", ".join(
        [quote(c) for c in columns] + ["`_lsn`", "`_op`"]
    )
    insert_vals = ", ".join(
        [f"s.{quote(c)}" for c in columns]
        + ["s.`lsn`", "CASE WHEN s.`op` = 'delete' THEN 'd' ELSE 'u' END"]
    )
    return (
        f"MERGE INTO {table} t\n"
        f"USING {source_view} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED AND s.`lsn` > t.`_lsn` THEN\n"
        f"  UPDATE SET {set_clause}\n"
        f"WHEN NOT MATCHED THEN\n"
        f"  INSERT ({insert_cols}) VALUES ({insert_vals})"
    )


def evolve_sql(table: str, kind: str, column: str, arg: str | None) -> list[str]:
    """Schema evolution DDL — metadata-only in Iceberg (column IDs)."""
    if kind == "add":
        return [f"ALTER TABLE {table} ADD COLUMN {quote(column)} {arg}"]
    if kind == "rename":
        return [f"ALTER TABLE {table} RENAME COLUMN {quote(column)} TO {quote(arg)}"]
    if kind == "widen":
        return [f"ALTER TABLE {table} ALTER COLUMN {quote(column)} TYPE {arg}"]
    raise ValueError(f"unknown schema-change kind: {kind!r}")


def compact_sql(catalog: str, table: str) -> list[str]:
    """Data-file rewrite + snapshot expiry (the MOR compaction procedure)."""
    return [
        f"CALL {catalog}.system.rewrite_data_files(table => '{table}', "
        f"options => map('min-input-files', '2'))",
        f"CALL {catalog}.system.expire_snapshots(table => '{table}')",
    ]


def read_sql(table: str, columns: Sequence[str]) -> str:
    """Public final-state view: tombstones filtered, internals hidden."""
    cols = ", ".join(quote(c) for c in columns)
    return f"SELECT {cols} FROM {table} WHERE `_op` <> 'd'"


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True when an Iceberg catalog is configured AND the runtime is loadable."""
    if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergTable:
    """SnapshotTable-compatible sink over a real Iceberg catalog.

    Construct with the catalog-qualified table name; raises at init when the
    catalog is absent (callers fall back to SnapshotTable — SURVEY §7.5.6).
    """

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        columns: Sequence[tuple[str, str]],
        keys: Sequence[str] = ("repo", "path"),
        n_buckets: int = 4096,
    ) -> None:
        catalog = table.split(".", 1)[0]
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"Iceberg catalog {catalog!r} not configured/loadable; "
                "use sinks.snapshot.SnapshotTable (same semantics on parquet)"
            )
        self.spark = spark
        self.table = table
        self.catalog = catalog
        self.keys = list(keys)
        self.columns_spec = list(columns)
        spark.sql(create_table_sql(table, columns, keys, n_buckets))

    def columns(self) -> list[str]:
        return [c for c, _t in self.columns_spec]

    def merge(self, spark: SparkSession, batch: DataFrame, **_kw) -> dict:
        view = "incoming_batch"
        batch.createOrReplaceTempView(view)
        spark.sql(merge_sql(self.table, view, self.columns(), self.keys))
        return {"version": None, "applied_buckets": None}

    def evolve_schema_change(self, kind: str, column: str, arg: str | None) -> None:
        for stmt in evolve_sql(self.table, kind, column, arg):
            self.spark.sql(stmt)
        if kind == "add":
            self.columns_spec.append((column, arg or "string"))
        elif kind == "rename":
            self.columns_spec = [
                (arg, t) if c == column else (c, t) for c, t in self.columns_spec
            ]
        elif kind == "widen":
            self.columns_spec = [
                (c, arg) if c == column else (c, t) for c, t in self.columns_spec
            ]

    def compact(self, spark: SparkSession, **_kw) -> dict:
        for stmt in compact_sql(self.catalog, self.table.split(".", 1)[1]):
            spark.sql(stmt)
        return {}

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.sql(read_sql(self.table, self.columns()))

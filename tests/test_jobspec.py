"""Job-spec surface: reader/writer registry + ${var} substitution parity.

Covers the reference's EP1/EP2 lifecycle semantics (SURVEY §3): config ->
reader -> writer, separator/null-literal/start-row conventions, and the
upsert writer path through the snapshot MERGE sink.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hdata_spark.jobspec import (
    READERS,
    WRITERS,
    read_source,
    run_job,
    substitute_vars,
)


def test_var_substitution():
    spec = {
        "reader": {"name": "csv", "path": "/data/${day}/in.csv"},
        "writer": {"name": "parquet", "path": "/out/${day}", "mode": "${mode}"},
    }
    out = substitute_vars(spec, {"day": "20260816", "mode": "overwrite"})
    assert out["reader"]["path"] == "/data/20260816/in.csv"
    assert out["writer"]["path"] == "/out/20260816"
    # unknown vars pass through untouched (reference leaves them verbatim)
    keep = substitute_vars({"reader": {"x": "${nope}"}}, {})
    assert keep["reader"]["x"] == "${nope}"


def test_csv_roundtrip_with_header_and_nulls(spark, tmp_path):
    src = tmp_path / "in.csv"
    src.write_text("a,b,c\n1,x,2024-01-01\n2,,2024-01-02\n")
    out = str(tmp_path / "out_csv")
    stats = run_job(
        spark,
        {
            "reader": {
                "name": "csv",
                "path": str(src),
                "start.row": 1,
                "schema": "id,name,day",
            },
            "writer": {
                "name": "csv",
                "path": out,
                "null.string": "NULL",
                "include.column.names": "false",
            },
        },
    )
    assert stats["rows_written"] == 2
    lines = sorted(
        ln
        for f in (tmp_path / "out_csv").glob("*.csv")
        for ln in f.read_text().splitlines()
    )
    assert lines == ["1,x,2024-01-01", "2,NULL,2024-01-02"]


def test_text_reader_separator_and_arity_filter(spark, tmp_path):
    src = tmp_path / "in.txt"
    src.write_text("a\t1\tx\nb\t2\ty\nshort\n")
    df = read_source(
        spark,
        {
            "name": "text",
            "path": str(src),
            "fields.separator": "\\t",
            "schema": "k,v,tag",
            "fields.count.filter": 3,
        },
    )
    rows = {(r["k"], r["v"], r["tag"]) for r in df.collect()}
    assert rows == {("a", "1", "x"), ("b", "2", "y")}  # `short` filtered


def test_text_writer_null_literal_and_join(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", None, 1), ("b", "y", None)], "k string, v string, n int"
    )
    out = str(tmp_path / "out_text")
    from hdata_spark.jobspec import write_sink

    write_sink(df, {"name": "text", "path": out, "fields.separator": "|"})
    lines = sorted(
        ln
        for f in (tmp_path / "out_text").glob("*.txt")
        for ln in f.read_text().splitlines()
    )
    assert lines == ["a|NULL|1", "b|y|NULL"]


def test_parquet_to_snapshot_upsert_job(spark, tmp_path):
    """reader -> snapshot MERGE writer: the reference's upsert path
    (JDBCWriter.java:128-145) through the job-spec surface."""
    from hdata_spark.sinks.snapshot import SnapshotTable

    base = pd.DataFrame(
        [
            {"repo": "o/r", "path": "a.py", "commit": "c0", "lang": "python",
             "content": "v0", "lsn": 1},
            {"repo": "o/r", "path": "b.py", "commit": "c1", "lang": "python",
             "content": "v1", "lsn": 2},
        ]
    )
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(base).write.parquet(src)
    tdir = str(tmp_path / "snap")
    run_job(
        spark,
        {
            "reader": {"name": "parquet", "path": src},
            "writer": {
                "name": "snapshot",
                "path": tdir,
                "upsert.columns": "repo,path",
                "lsn.column": "lsn",
            },
        },
    )
    # second batch updates a.py (higher lsn) and must win; stale lsn loses
    upd = pd.DataFrame(
        [
            {"repo": "o/r", "path": "a.py", "commit": "c9", "lang": "python",
             "content": "v9", "lsn": 9},
            {"repo": "o/r", "path": "b.py", "commit": "cX", "lang": "python",
             "content": "stale", "lsn": 0},
        ]
    )
    src2 = str(tmp_path / "src2.parquet")
    spark.createDataFrame(upd).write.parquet(src2)
    run_job(
        spark,
        {
            "reader": {"name": "parquet", "path": src2},
            "writer": {
                "name": "snapshot",
                "path": tdir,
                "upsert.columns": "repo,path",
                "lsn.column": "lsn",
            },
        },
    )
    out = SnapshotTable(tdir).read(spark).toPandas().set_index("path")
    assert out.loc["a.py", "content"] == "v9"
    assert out.loc["b.py", "content"] == "v1"  # stale lsn 0 lost to lsn 2


def test_snapshot_upsert_without_lsn_column_updates_on_rerun(spark, tmp_path):
    """An lsn-less upsert job stamps the batch one past the stored max LSN,
    so re-running with changed payloads UPDATES keys (the reference's ON
    DUPLICATE KEY UPDATE re-run semantics) instead of silently losing to the
    sink's strict s.lsn > t._lsn rule."""
    from hdata_spark.sinks.snapshot import SnapshotTable

    def job(src):
        run_job(
            spark,
            {
                "reader": {"name": "parquet", "path": src},
                "writer": {
                    "name": "snapshot",
                    "path": str(tmp_path / "snap"),
                    "upsert.columns": "repo,path",
                },
            },
        )

    v0 = pd.DataFrame(
        [{"repo": "o/r", "path": "a.py", "commit": "c0", "lang": "python",
          "content": "v0"}]
    )
    src0 = str(tmp_path / "s0.parquet")
    spark.createDataFrame(v0).write.parquet(src0)
    job(src0)
    v1 = v0.assign(commit="c1", content="v1")
    src1 = str(tmp_path / "s1.parquet")
    spark.createDataFrame(v1).write.parquet(src1)
    job(src1)
    out = SnapshotTable(str(tmp_path / "snap")).read(spark).toPandas()
    assert len(out) == 1 and out.iloc[0]["content"] == "v1"

    # A table holding fast-append deltas: the stored max LSN lives in a delta
    # file, and the next lsn-less upsert must still stamp past it.
    from hdata_spark.plans.schema_registry import SchemaRegistry
    from hdata_spark.streaming.ledger import CommitLedger
    from hdata_spark.streaming.metrics import MetricsLog
    from hdata_spark.streaming.replay import ReplayConfig, replay

    table = SnapshotTable(str(tmp_path / "snap"))
    events = v0.assign(
        commit="c2", content="v2", lsn=50, epoch=0, op="update",
        sc_kind=None, sc_column=None, sc_arg=None,
    )
    replay(
        spark, spark.createDataFrame(events), table,
        CommitLedger(str(tmp_path / "l")), MetricsLog(str(tmp_path / "m")),
        SchemaRegistry(state_path=str(tmp_path / "r.json")),
        ReplayConfig(compact_delta_files=None),
    )
    assert table.delta_file_count() == 1 and table.max_stored_lsn() == 50
    v3 = v0.assign(commit="c3", content="v3")
    src3 = str(tmp_path / "s3.parquet")
    spark.createDataFrame(v3).write.parquet(src3)
    job(src3)
    out = table.read(spark).toPandas()
    assert len(out) == 1 and out.iloc[0]["content"] == "v3"
    assert table.max_stored_lsn() == 51


def test_snapshot_upsert_keyed_on_a_column_outside_the_default_schema(
    spark, tmp_path
):
    """A new table takes the upserted frame's columns as its schema, so a key
    outside the default (repo, path, ...) spec is stored and re-upserts
    update it; a merge whose key the schema lacks raises instead of writing
    files without it."""
    from hdata_spark.sinks.snapshot import SnapshotTable

    tdir = str(tmp_path / "snap")

    def job(rows, name):
        src = str(tmp_path / f"{name}.parquet")
        schema = "id bigint, name string, lsn bigint"
        spark.createDataFrame(rows, schema).write.parquet(src)
        run_job(spark, {
            "reader": {"name": "parquet", "path": src},
            "writer": {"name": "snapshot", "path": tdir, "upsert.columns": "id"},
        })
        return {r["id"]: r["name"] for r in SnapshotTable(tdir).read(spark).collect()}

    assert job([(1, "a", 1), (2, "b", 2)], "s0") == {1: "a", 2: "b"}
    assert job([(2, "b2", 3)], "s1") == {1: "a", 2: "b2"}

    other = SnapshotTable(str(tmp_path / "other"), keys=("id",))
    with pytest.raises(ValueError, match="id"):
        other.merge(spark, spark.createDataFrame(
            [(1, "a", 1, "insert")], "id bigint, name string, lsn bigint, op string"
        ))
    # A column type the table cannot store fails the first write, before
    # any commit, instead of leaving a table no scan can read.
    with pytest.raises(ValueError, match="unsupported type"):
        other.evolve_schema([
            {"name": "id", "type": "bigint", "sources": ["id"]},
            {"name": "ids", "type": "array<int>", "sources": ["ids"]},
        ])
    assert other.current_version() == 0


def test_snapshot_upsert_round_trips_decimal_and_binary_columns(spark, tmp_path):
    """A jobspec snapshot upsert stores decimal, binary, smallint and tinyint
    columns at their own types and reads them back; a re-upsert updates
    them. Nested types still raise at `evolve_schema`, before any commit."""
    from decimal import Decimal

    from hdata_spark.sinks.snapshot import SnapshotTable

    tdir = str(tmp_path / "snap")
    schema = ("id bigint, price decimal(12,3), blob binary, qty smallint, "
              "flag tinyint, lsn bigint")

    def job(rows, name):
        src = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, schema).write.parquet(src)
        run_job(spark, {
            "reader": {"name": "parquet", "path": src},
            "writer": {"name": "snapshot", "path": tdir, "upsert.columns": "id"},
        })
        out = SnapshotTable(tdir).read(spark)
        return out.schema.simpleString(), sorted(tuple(r) for r in out.collect())

    row1 = (1, Decimal("12.345"), bytearray(b"\x00\xff"), 7, 1, 1)
    row2 = (2, Decimal("-0.500"), bytearray(b"ab"), -3, -1, 2)
    types, rows = job([row1, row2], "s0")
    assert types == (
        "struct<id:bigint,price:decimal(12,3),blob:binary,qty:smallint,flag:tinyint>"
    )
    assert rows == [row1[:5], row2[:5]]
    row2b = (2, Decimal("99.999"), bytearray(b"cd"), 4, 0, 3)
    assert job([row2b], "s1")[1] == [row1[:5], row2b[:5]]

    table = SnapshotTable(tdir)
    version = table.current_version()
    for nested in ("array<int>", "map<string,int>"):
        with pytest.raises(ValueError, match="unsupported type"):
            table.evolve_schema(table.schema_spec() + [
                {"name": "ids", "type": nested, "sources": ["ids"]},
            ])
    assert table.current_version() == version


def test_excel_roundtrip(spark, tmp_path):
    pytest.importorskip("openpyxl")
    df = spark.createDataFrame([("a", "1"), ("b", "2")], "k string, v string")
    out = str(tmp_path / "t.xlsx")
    from hdata_spark.jobspec import write_sink

    write_sink(df, {"name": "excel", "path": out})
    back = read_source(
        spark, {"name": "excel", "path": out, "include.column.names": "true"}
    )
    assert {tuple(r) for r in back.collect()} == {("a", "1"), ("b", "2")}


def test_unknown_plugin_raises(spark):
    with pytest.raises(ValueError, match="unknown reader"):
        read_source(spark, {"name": "nope"})
    from hdata_spark.jobspec import write_sink

    with pytest.raises(ValueError, match="unknown writer"):
        write_sink(spark.range(1), {"name": "nope"})


def test_registry_covers_reference_plugin_families():
    """SURVEY §2.1/2.2 coverage audit: each reference plugin family maps to
    a registered reader/writer (ftp/mongodb/hbase are connector-dependent,
    served by the same text/parquet paths at the API level)."""
    assert {"parquet", "csv", "text", "jdbc", "hive", "http", "kafka", "excel"} <= set(
        READERS
    )
    assert {"parquet", "csv", "text", "console", "jdbc", "kafka", "snapshot",
            "excel"} <= set(WRITERS)


def test_expand_shards_syntax():
    from hdata_spark.jobspec import expand_shards

    assert expand_shards("t") == ["t"]
    assert expand_shards("t_[001-003]") == ["t_001", "t_002", "t_003"]
    assert expand_shards("t_[03-01]") == ["t_01", "t_02", "t_03"]  # swapped
    assert expand_shards("a[1-2]_x,b") == ["a1_x", "a2_x", "b"]
    assert expand_shards("t[1-2],t[2-3]") == ["t1", "t2", "t3"]  # dedup
    assert expand_shards("db.orders_[098-101]") == [
        "db.orders_098", "db.orders_099", "db.orders_100", "db.orders_101"
    ]


def test_parquet_reader_expands_shard_ranges(spark, tmp_path):
    df = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "shard": [0, 1, 2]})
    )
    for i in range(3):
        df.filter(df.shard == i).write.parquet(str(tmp_path / f"s_{i:02d}.pq"))
    out = read_source(
        spark, {"name": "parquet", "path": f"{tmp_path}/s_[00-02].pq"}
    )
    assert sorted(r["k"] for r in out.collect()) == [1, 2, 3]


def test_reader_side_null_substitution_and_wrap(spark, tmp_path):
    """null.string / null.non.string / field.wrap.replace.string at read
    (JDBCReader.java:129-134)."""
    src = str(tmp_path / "src.pq")
    spark.createDataFrame(
        pd.DataFrame(
            {"s": ["a\nb", None, "c"], "n": [1.5, None, 2.5]}
        )
    ).write.parquet(src)
    out = read_source(
        spark,
        {
            "name": "parquet",
            "path": src,
            "null.string": "NULL",
            "null.non.string": "0",
            "field.wrap.replace.string": "|",
        },
    ).orderBy("s")
    rows = [(r["s"], r["n"]) for r in out.collect()]
    assert rows == [("NULL", 0.0), ("a|b", 1.5), ("c", 2.5)]


def test_csv_dialect_presets(spark, tmp_path):
    from hdata_spark.jobspec import _csv_dialect_opts

    assert _csv_dialect_opts({"format": "mysql"})["sep"] == "\t"
    assert _csv_dialect_opts({"format": "mysql"})["nullValue"] == "\\N"
    assert _csv_dialect_opts({"format": "rfc4180"})["sep"] == ","
    assert _csv_dialect_opts({})["sep"] == ","
    # explicit separator overrides the preset
    assert _csv_dialect_opts({"format": "tdf", "fields.separator": ";"})["sep"] == ";"
    with pytest.raises(ValueError):
        _csv_dialect_opts({"format": "nope"})
    # mysql dialect roundtrip: tab-separated, \N nulls, no quoting
    df = spark.createDataFrame(pd.DataFrame({"a": ["x", None], "b": [1, 2]}))
    out_dir = str(tmp_path / "out_mysql")
    run_job(
        spark,
        {
            "reader": {"name": "parquet", "path": _stage(spark, df, tmp_path)},
            "writer": {"name": "csv", "path": out_dir, "format": "mysql",
                       "include.column.names": "false", "null.string": "\\N"},
        },
    )
    import glob

    body = "".join(open(f).read() for f in glob.glob(out_dir + "/part-*"))
    assert "\t" in body and "\\N" in body


def _stage(spark, df, tmp_path):
    p = str(tmp_path / "stage.pq")
    df.write.mode("overwrite").parquet(p)
    return p


def test_mongo_id_split_conditions_match_reference_math():
    """MongoDBSplitter.java:47-89: hex _id span / parallelism, $gte/$lt
    bounds, $lte on the last, user query preserved per split."""
    from hdata_spark.jobspec import mongo_id_split_conditions

    lo = "000000000000000000000000"
    hi = "000000000000000000000009"
    splits = mongo_id_split_conditions(lo, hi, 3, query={"status": "A"})
    assert len(splits) == 3
    assert all(s["status"] == "A" for s in splits)
    assert splits[0]["_id"] == {
        "$gte": "000000000000000000000000", "$lt": "000000000000000000000003"
    }
    assert splits[2]["_id"] == {
        "$gte": "000000000000000000000006", "$lte": "000000000000000000000009"
    }
    with pytest.raises(ValueError):
        mongo_id_split_conditions(hi, lo, 2)


def test_mongo_reader_writer_registered():
    from hdata_spark.jobspec import READERS, WRITERS

    assert "mongodb" in READERS and "mongodb" in WRITERS


def test_path_expansion_leaves_globs_with_gaps_alone(spark, tmp_path):
    """`[0-4]` is ALSO Hadoop glob syntax: when the expanded literal paths
    don't all exist, the spec must pass through as a glob, not crash on the
    missing shards."""
    df = spark.createDataFrame(pd.DataFrame({"k": [1, 2]}))
    # only shards 0 and 2 exist — a gap
    df.filter(df.k == 1).write.parquet(str(tmp_path / "part-0"))
    df.filter(df.k == 2).write.parquet(str(tmp_path / "part-2"))
    out = read_source(
        spark, {"name": "parquet", "path": f"{tmp_path}/part-[0-4]"}
    )
    assert sorted(r["k"] for r in out.collect()) == [1, 2]


def test_remote_shard_expansion_is_per_piece(tmp_path):
    """Remote multi-digit ranges expand even when only ONE endpoint is
    multi-digit ([0-31] spells two-digit shards a glob char-class can't
    match), single-digit remote ranges stay globs, and a mixed spec decides
    PER PIECE — a remote piece must not force a local glob to expand."""
    from hdata_spark.jobspec import _expand_paths

    # [0-31]: begin is one digit, end is two -> glob intent impossible
    out = _expand_paths("s3a://b/part_[0-31]")
    assert len(out) == 32 and "s3a://b/part_31" in out
    # single-digit remote range: both readings plausible -> glob passthrough
    assert _expand_paths("s3a://b/part_[0-4]") == ["s3a://b/part_[0-4]"]
    # mixed: local glob-with-gaps stays a glob even next to a remote range
    (tmp_path / "part-0").mkdir()
    mixed = _expand_paths(f"{tmp_path}/part-[0-4],s3a://b/part_[000-031]")
    assert f"{tmp_path}/part-[0-4]" in mixed
    assert "s3a://b/part_000" in mixed and len(mixed) == 33


def test_jdbc_writer_table_escaping_opt_in():
    """Escaping must be opt-in (non-MySQL targets choke on backticks) and
    support bracket pairs."""
    from hdata_spark.jobspec import _writer_jdbc  # noqa: F401  (import only)

    # exercise the quoting logic directly via a stub df that records dbtable
    class _Rec:
        def __init__(self):
            self.table = None
        def mode(self, m):
            return self
        def option(self, *a):
            return self
        def jdbc(self, url, table):
            self.table = table

    class _DF:
        def __init__(self, rec):
            self.write = rec

    for cfg, expected in [
        ({"table": "public.users", "url": "x"}, "public.users"),
        ({"table": "db.orders", "url": "x", "keyword.escaper": "`"},
         "`db`.`orders`"),
        ({"table": "dbo.users", "url": "x", "keyword.escaper": "[]"},
         "[dbo].[users]"),
        ({"table": "`db`.`t`", "url": "x", "keyword.escaper": "`"},
         "`db`.`t`"),
    ]:
        rec = _Rec()
        _writer_jdbc(_DF(rec), cfg)
        assert rec.table == expected, (cfg, rec.table)


def test_reader_decimal_format_rounds_floats(spark, tmp_path):
    """`decimal.format` pattern at read (JDBCReader.java:59-62,136-143):
    fraction digits of the pattern become a round on float/double columns."""
    src = str(tmp_path / "d.pq")
    spark.createDataFrame(
        pd.DataFrame({"x": [1.23456, 2.71828], "k": ["a", "b"]})
    ).write.parquet(src)
    out = read_source(
        spark,
        {"name": "parquet", "path": src, "decimal.format": "#.##"},
    )
    assert sorted(r["x"] for r in out.collect()) == [1.23, 2.72]


def test_writer_static_partition_values(spark, tmp_path):
    """Static hive partition (HiveWriter.java:72-87): `partition.values`
    appends constant columns and partitions by them."""
    import os

    from hdata_spark.jobspec import write_sink

    df = spark.createDataFrame(pd.DataFrame({"k": [1, 2]}))
    out = str(tmp_path / "static")
    write_sink(df, {"name": "parquet", "path": out,
                    "partition.values": "day='20140418'"})
    assert os.path.isdir(os.path.join(out, "day=20140418"))
    back = spark.read.parquet(out)
    assert sorted(r["k"] for r in back.collect()) == [1, 2]
    assert set(back.columns) == {"k", "day"}


def test_hive_reader_partition_filter_and_columns(spark):
    """S3 end-to-end via the session catalog (no external metastore needed):
    partition filter prunes, select.columns projects
    (HiveReader.java:26-110)."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 2, 3], "v": ["a", "b", "c"], "day": ["d1", "d1", "d2"]}
        )
    )
    df.write.mode("overwrite").partitionBy("day").saveAsTable("hdata_hive_t1")
    try:
        out = read_source(
            spark,
            {
                "name": "hive",
                "table": "hdata_hive_t1",
                "partitions": "day='d1'",
                "select.columns": "k,v",
            },
        )
        assert out.columns == ["k", "v"]
        assert sorted(r["k"] for r in out.collect()) == [1, 2]
        # partition filter reaches the scan as partition pruning
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan or "day" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS hdata_hive_t1")


def test_kafka_payload_projection(spark):
    """K6 record shape without a broker: value = separator-joined fields,
    key = value (KafkaWriter.java:39-44)."""
    from hdata_spark.jobspec import kafka_payload

    df = spark.createDataFrame([("a", 1, None)], "x string, y int, z string")
    row = kafka_payload(df, "|").collect()[0]
    assert row["value"] == "a|1"  # concat_ws SKIPS nulls (the reference's
    # Guava Joiner would NPE on a null field — deliberate hardening)
    assert row["key"] == row["value"]


def test_static_partition_overwrite_keeps_siblings(spark, tmp_path):
    """A static-partition overwrite must replace ONLY the named partition
    (HiveWriter semantics), never truncate sibling partitions."""
    import os

    from hdata_spark.jobspec import write_sink

    out = str(tmp_path / "t")
    write_sink(
        spark.createDataFrame(pd.DataFrame({"k": [1]})),
        {"name": "parquet", "path": out, "partition.values": "day='d1'"},
    )
    write_sink(
        spark.createDataFrame(pd.DataFrame({"k": [2]})),
        {"name": "parquet", "path": out, "partition.values": "day='d2'"},
    )
    assert os.path.isdir(out + "/day=d1") and os.path.isdir(out + "/day=d2")
    back = spark.read.parquet(out)
    assert sorted((r["k"], r["day"]) for r in back.collect()) == [
        (1, "d1"), (2, "d2"),
    ]
    # rewriting an existing partition replaces just that partition
    write_sink(
        spark.createDataFrame(pd.DataFrame({"k": [9]})),
        {"name": "parquet", "path": out, "partition.values": "day='d1'"},
    )
    back = spark.read.parquet(out)
    assert sorted((r["k"], r["day"]) for r in back.collect()) == [
        (2, "d2"), (9, "d1"),
    ]


def test_number_format_reference_key_and_half_even(spark, tmp_path):
    """The reference key is number.format (JDBCReaderProperties.java:21) and
    DecimalFormat's default rounding is HALF_EVEN: 0.125 -> 0.12, not 0.13."""
    src = str(tmp_path / "n.pq")
    spark.createDataFrame(
        pd.DataFrame({"x": [0.125, 0.135]})
    ).write.parquet(src)
    out = read_source(
        spark, {"name": "parquet", "path": src, "number.format": "#.##"}
    )
    assert sorted(r["x"] for r in out.collect()) == [0.12, 0.14]


def test_byte_histogram_rejects_invalid_bins(spark):
    import pytest as _pytest

    from hdata_spark.operators.multimodal import byte_histogram

    df = spark.createDataFrame([(1, b"abc")], "doc_id long, payload binary")
    for bad in (0, 10, 512):
        with _pytest.raises(ValueError):
            byte_histogram(df, bins=bad)

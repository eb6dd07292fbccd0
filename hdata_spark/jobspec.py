"""Job-spec surface: the reference's XML/CLI job model as a typed Python spec.

HData's entire user surface is one (reader config, writer config) pair —
XML jobs (`bin/hdata -f job.xml`, hdata-core/.../config/DefaultJobConfig.java:82-115),
CLI jobs (`--reader X -Rk=v --writer Y -Wk=v`, CliDriver.java:132-145), and
`${var}` substitution from `-D` options (CliDriver.java:73-84). This module
is that surface rebuilt on Spark: a job spec is a plain dict

    {"reader": {"name": "csv", "path": ..., ...},
     "writer": {"name": "parquet", "path": ..., ...},
     "vars": {"day": "20260816"}}

resolved by `run_job(spark, spec)` — reader name -> DataFrame source, writer
name -> sink action, both from a flat registry (the plugins.xml analog,
hdata-core/.../core/PluginLoader.java:28-53 — minus the per-plugin
classloaders, which Python namespacing makes unnecessary).

Readers return DataFrames, so every engine operator (dedup, MERGE, registry
projection) composes between reader and writer — where the reference could
only pass records through a ring buffer.

Reader/writer option names follow the reference's conventions
(`fields.separator`, `start.row`, `null.string`, `schema`, ...) so a user of
the reference can translate a job 1:1; see each builder's citation.
"""

from __future__ import annotations

import codecs
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------- helpers

_VAR_RE = re.compile(r"\$\{(\w+)\}")


def substitute_vars(spec: dict, variables: dict[str, str]) -> dict:
    """`${var}` substitution in every string value (CliDriver.java:73-84)."""

    def sub(v):
        if isinstance(v, str):
            return _VAR_RE.sub(
                lambda m: str(variables.get(m.group(1), m.group(0))), v
            )
        if isinstance(v, dict):
            return {k: sub(x) for k, x in v.items()}
        if isinstance(v, list):
            return [sub(x) for x in v]
        return v

    return sub(spec)


def _unescape(sep: str) -> str:
    """Separator escape sequences `\\t`, `\\n`... (HDFSReader.java:41-42)."""
    return codecs.decode(sep, "unicode_escape")


def _schema_names(cfg: dict) -> list[str] | None:
    """Comma-split `schema` option — names only, like the reference
    (hdata-hdfs/.../reader/hdfs/HDFSReader.java:51-57)."""
    s = cfg.get("schema")
    return [c.strip() for c in s.split(",")] if s else None


_SHARD_PIECE_RE = re.compile(r"^(.*?)\[(\d+)-(\d+)\](.*)$")


def expand_shards(content: str) -> list[str]:
    """Shard-range expansion: ``table_[001-003]`` -> table_001..table_003.

    Mirrors the reference's sharded-table syntax
    (hdata-jdbc/.../reader/jdbc/JDBCSplitter.java:199-264): comma-separated
    pieces, each optionally carrying one zero-padded ``[begin-end]`` range
    (inclusive, order-insensitive per NumberUtils.java:12-22), deduplicated
    and sorted. A piece without a range passes through unchanged.
    """
    out: set[str] = set()
    for piece in (p.strip() for p in str(content).split(",")):
        if not piece:
            continue
        m = _SHARD_PIECE_RE.match(piece)
        if not m:
            out.add(piece)
            continue
        pre, a, b, post = m.groups()
        width = len(a)
        lo, hi = sorted((int(a), int(b)))
        out.update(f"{pre}{i:0{width}d}{post}" for i in range(lo, hi + 1))
    return sorted(out)


_URI_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _expand_paths(path: str) -> list[str]:
    """Shard-expand a PATH spec only when every expanded path actually
    exists; otherwise pass the comma-split pieces through untouched.

    `[0-4]` is also valid Hadoop character-class glob syntax — a user's
    `part-[0-4]` glob over a layout with gaps must keep reaching the
    filesystem as a glob, not become five literal paths that crash on the
    missing ones. (Table names in `_reader_jdbc` always expand — there is
    no globbing in SQL identifiers.)

    The existence probe is driver-local, so it only disambiguates LOCAL
    paths. On a remote scheme (s3a://, hdfs://) a MULTI-digit range like
    `part_[000-031]` expands unconditionally: as a glob char-class it could
    only ever match ONE character from the set, which cannot match the
    multi-digit shard names it visibly spells — glob intent is impossible,
    so falling through (the pre-round-3 behavior) silently read nothing.
    "Multi-digit" means EITHER endpoint spells more than one digit
    (`[0-31]` expands to two-digit shards just like `[000-031]` does).
    Single-digit remote ranges keep glob passthrough (both readings are
    plausible; Hadoop's glob matcher resolves them server-side).

    Decisions are PER PIECE: `local_[001-003],s3a://b/part_[000-031]`
    expands each piece by its own filesystem's rules — one piece's remote
    scheme must not force expansion of another piece's local glob.

    The final list is DE-DUPLICATED (first occurrence wins): overlapping
    shard ranges across pieces (`t_[001-003],t_[002-004]`) must not read a
    shard twice and duplicate its rows.
    """
    out: list[str] = []
    for piece in (p.strip() for p in str(path).split(",")):
        if not piece:
            continue
        exp = expand_shards(piece)
        if exp == [piece]:
            out.append(piece)
            continue
        if all(os.path.exists(p) for p in exp):
            out.extend(exp)
            continue
        remote = _URI_SCHEME_RE.match(piece) and not piece.startswith("file://")
        m = _SHARD_PIECE_RE.match(piece)
        if remote and m and (len(m.group(2)) > 1 or len(m.group(3)) > 1):
            out.extend(exp)
        else:
            out.append(piece)
    return list(dict.fromkeys(out))


_NUMERIC_TYPES = ("integer", "long", "short", "byte", "float", "double", "decimal")


def _read_side_transforms(df: DataFrame, cfg: dict) -> DataFrame:
    """Reader-side scalar options (hdata-jdbc/.../reader/jdbc/
    JDBCReader.java:129-134): ``null.string`` fills NULL string columns,
    ``null.non.string`` fills NULL numeric columns (typed cast), and
    ``field.wrap.replace.string`` scrubs embedded newlines from string
    columns. All are codegen'd column expressions — no extra pass."""
    string_cols = [
        f_.name for f_ in df.schema.fields if f_.dataType.typeName() == "string"
    ]
    wrap = cfg.get("field.wrap.replace.string")
    if wrap is not None and string_cols:
        from hdata_spark.functions.text import scrub_newlines

        for c in string_cols:
            df = df.withColumn(c, scrub_newlines(F.col(c), wrap))
    if cfg.get("null.string") is not None and string_cols:
        df = df.fillna(cfg["null.string"], subset=string_cols)
    if cfg.get("null.non.string") is not None:
        v = cfg["null.non.string"]
        for f_ in df.schema.fields:
            if f_.dataType.typeName() in _NUMERIC_TYPES:
                df = df.withColumn(
                    f_.name,
                    F.coalesce(F.col(f_.name), F.lit(v).cast(f_.dataType)),
                )
    fmt = cfg.get("number.format") or cfg.get("decimal.format")
    if fmt:
        # DecimalFormat pattern applied to float/double at read — reference
        # option key `number.format` (JDBCReaderProperties.java:21,
        # JDBCReader.java:59-62,136-143); `decimal.format` kept as an alias.
        # bround = HALF_EVEN, matching java.text.DecimalFormat's default
        # rounding mode (plain round would be HALF_UP and diverge on exact
        # midpoints like 0.125).
        pattern = str(fmt)
        scale = len(pattern.rsplit(".", 1)[1]) if "." in pattern else 0
        for f_ in df.schema.fields:
            if f_.dataType.typeName() in ("float", "double"):
                df = df.withColumn(
                    f_.name, F.bround(F.col(f_.name), scale).cast(f_.dataType)
                )
    return df


# ---------------------------------------------------------------- readers

def _reader_parquet(spark: SparkSession, cfg: dict) -> DataFrame:
    """Lake-native scan (our engine's home format; Iceberg at cluster scale).

    `path` supports the shard-range syntax (`part_[000-031].parquet`) so a
    sharded source expands to one multi-path scan — the lake analog of the
    reference's sharded-table union, testable without a JDBC driver."""
    return _read_side_transforms(
        spark.read.parquet(*_expand_paths(cfg["path"])), cfg
    )


# commons-csv dialect presets (hdata-csv/.../plugin/FormatConf.java:10-32)
# mapped onto Spark csv options; explicit options override the preset.
# "default" deliberately sets ONLY the separator: format-less jobs must keep
# Spark's own quote/escape behavior (backslash escape), not silently switch
# to RFC-style double-quote escaping.
_CSV_DIALECTS: dict[str, dict[str, str]] = {
    "default": {"sep": ","},
    "excel": {"sep": ",", "quote": '"', "escape": '"'},
    # CSVFormat.MYSQL: tab-separated, backslash-escaped, unquoted, \N nulls
    "mysql": {"sep": "\t", "quote": "\u0000", "escape": "\\",
              "nullValue": "\\N"},
    "tdf": {"sep": "\t", "quote": '"', "escape": '"'},
    "rfc4180": {"sep": ",", "quote": '"', "escape": '"'},
}


def _csv_dialect_opts(cfg: dict) -> dict[str, str]:
    fmt = str(cfg.get("format", "default")).lower()
    if fmt not in _CSV_DIALECTS:
        raise ValueError(
            f"unknown csv format {fmt!r}; expected one of {sorted(_CSV_DIALECTS)}"
        )
    opts = dict(_CSV_DIALECTS[fmt])
    if cfg.get("fields.separator"):
        opts["sep"] = _unescape(cfg["fields.separator"])
    return opts


def _reader_csv(spark: SparkSession, cfg: dict) -> DataFrame:
    """CSV scan — reference S10 (hdata-csv/.../reader/csv/CSVReader.java:21-66):
    `start.row` skip via header flag, comma-separated multi-path, dialect
    presets via `format` (FormatConf.java:10-32)."""
    start_row = int(cfg.get("start.row", 0))
    reader = (
        spark.read.option("header", start_row > 0)
        .options(**_csv_dialect_opts(cfg))
        .option("encoding", cfg.get("encoding", "UTF-8"))
        .option("inferSchema", str(cfg.get("infer.schema", "false")))
    )
    df = reader.csv(_expand_paths(cfg["path"]))
    names = _schema_names(cfg)
    if names:
        df = df.toDF(*names)
    return df


def _reader_text(spark: SparkSession, cfg: dict) -> DataFrame:
    """Delimited text-line scan — reference S4 hdfs reader
    (hdata-hdfs/.../reader/hdfs/HDFSReader.java:29-106): glob/regex file
    match, split on `fields.separator` (empty tokens preserved), declared
    column names; compression is codec-transparent in Spark. Optional
    `fields.count.filter` drops short rows (FTP reader semantics,
    hdata-ftp/.../reader/ftp/FTPReader.java:83)."""
    sep = _unescape(cfg.get("fields.separator", "\t"))
    raw = spark.read.text(str(cfg["path"]).split(","))
    parts = F.split(F.col("value"), re.escape(sep), -1)
    min_fields = int(cfg.get("fields.count.filter", 0))
    if min_fields:
        raw = raw.filter(F.size(parts) >= min_fields)
    names = _schema_names(cfg)
    if not names:
        return raw.select(F.col("value").alias("line"))
    return raw.select(
        *[parts.getItem(i).alias(n) for i, n in enumerate(names)]
    )


def _reader_jdbc(spark: SparkSession, cfg: dict) -> DataFrame:
    """Range-partitioned JDBC scan — reference S2
    (hdata-jdbc/.../reader/jdbc/JDBCReader.java:29-178 + JDBCSplitter.java:40-141).
    The splitter's MIN/MAX range partitioning maps 1:1 onto Spark's
    partitionColumn/lowerBound/upperBound/numPartitions; `where` and
    `columns` push down through the JDBC source. Requires a JDBC driver jar
    on the classpath (not present in the sandbox — covered by unit tests
    only at the option-mapping level).

    `table` supports the reference's shard-range syntax
    (`db.orders_[001-100]`, JDBCSplitter.java:199-264): each shard becomes
    its own range-partitioned scan and the shards union by name — the same
    concatenated-SELECT plan the reference builds, but each leg keeps its
    own partitioned read."""

    def load_one(dbtable: str) -> DataFrame:
        opts = {"url": cfg["url"], "dbtable": dbtable}
        if "split.by" in cfg:
            opts.update(
                partitionColumn=cfg["split.by"],
                lowerBound=str(cfg.get("lower.bound", 0)),
                upperBound=str(cfg.get("upper.bound", 1 << 31)),
                numPartitions=str(cfg.get("parallelism", 8)),
            )
        return spark.read.format("jdbc").options(**opts).load()

    if cfg.get("table"):
        shards = expand_shards(cfg["table"])
        df = load_one(shards[0])
        for s in shards[1:]:
            df = df.unionByName(load_one(s))
    else:
        df = load_one(f"({cfg['sql']}) t")
    df = _read_side_transforms(df, cfg)
    if cfg.get("columns"):
        df = df.select(*[c.strip() for c in cfg["columns"].split(",")])
    if cfg.get("exclude.columns"):
        df = df.drop(*[c.strip() for c in cfg["exclude.columns"].split(",")])
    if cfg.get("where"):
        df = df.filter(cfg["where"])
    return df


def _reader_hive(spark: SparkSession, cfg: dict) -> DataFrame:
    """Catalog table scan — reference S3 (hdata-hive/.../reader/hive/
    HiveReader.java:26-110): partition-filter + column select become a
    catalog read with Catalyst partition pruning."""
    df = spark.table(f"{cfg.get('database', 'default')}.{cfg['table']}")
    if cfg.get("partitions"):
        df = df.filter(cfg["partitions"])  # e.g. "day='20140418'"
    if cfg.get("select.columns"):
        df = df.select(*[c.strip() for c in cfg["select.columns"].split(",")])
    return df


def _reader_http(spark: SparkSession, cfg: dict) -> DataFrame:
    """Line stream from a URL — reference S6 (hdata-http/.../reader/http/
    HttpReader.java:22-63): driver-side fetch (not perf-critical), drops
    `offset:`-prefixed control lines."""
    import urllib.request

    lines: list[tuple[str]] = []
    for url in str(cfg["url"]).split(","):
        with urllib.request.urlopen(url) as r:  # noqa: S310 (spec-driven)
            for ln in r.read().decode(cfg.get("encoding", "utf-8")).splitlines():
                if not ln.startswith("offset:"):
                    lines.append((ln,))
    return spark.createDataFrame(lines, "line string")


def _reader_kafka(spark: SparkSession, cfg: dict) -> DataFrame:
    """Bounded topic tail — reference S7 (hdata-kafka/.../reader/kafka/
    KafkaConsumer.java:37-189): `start.offset`/`max.fetch.size` map to
    startingOffsets/maxOffsetsPerTrigger. Returns the *streaming* frame;
    pair with streaming.stream_replay. Kafka broker jars absent in sandbox —
    option mapping unit-tested only."""
    reader = (
        spark.readStream.format("kafka")
        .option("subscribe", cfg["topic"])
        .option(
            "startingOffsets",
            cfg.get("start.offset", "earliest"),
        )
    )
    if cfg.get("max.fetch.size"):
        reader = reader.option("maxOffsetsPerTrigger", cfg["max.fetch.size"])
    df = reader.load().selectExpr("CAST(value AS STRING) AS line")
    names = _schema_names(cfg)
    if names:
        sep = re.escape(_unescape(cfg.get("fields.separator", "\t")))
        parts = F.split(F.col("line"), sep, -1)
        df = df.select(*[parts.getItem(i).alias(n) for i, n in enumerate(names)])
    return df


def mongo_id_split_conditions(
    min_id: str, max_id: str, parallelism: int, query: dict | None = None
) -> list[dict]:
    """`_id`-range split plan — the reference's MongoDB splitter math
    (hdata-mongodb/.../reader/mongodb/MongoDBSplitter.java:47-89): the hex
    ObjectId span [min_id, max_id] divides into `parallelism` contiguous
    ranges; each split is the user query plus an `_id` `$gte`/`$lt` bound
    (`$lte` on the last). Returns one Mongo find-condition dict per split.
    Pure math — usable to build connector `aggregation.pipeline` partitions.
    """
    lo, hi = int(min_id, 16), int(max_id, 16)
    if parallelism < 1 or hi < lo:
        raise ValueError("parallelism >= 1 and max_id >= min_id required")
    step = (hi - lo) // parallelism
    width = len(min_id)
    out = []
    for i in range(parallelism):
        id_range: dict = {"$gte": format(lo + step * i, f"0{width}x")}
        if i == parallelism - 1:
            id_range["$lte"] = format(hi, f"0{width}x")
        else:
            id_range["$lt"] = format(lo + step * (i + 1), f"0{width}x")
        cond = dict(query or {})
        cond["_id"] = id_range
        out.append(cond)
    return out


def _mongo_common_opts(cfg: dict) -> dict:
    opts = {"connection.uri": cfg["uri"]}
    if cfg.get("database"):
        opts["database"] = cfg["database"]
    if cfg.get("collection"):
        opts["collection"] = cfg["collection"]
    return opts


def _reader_mongodb(spark: SparkSession, cfg: dict) -> DataFrame:
    """MongoDB scan — reference S9 (hdata-mongodb/.../reader/mongodb/
    MongoDBReader.java:24-84): `uri` + JSON `query` predicate. The query
    maps to an aggregation `$match` pipeline (the connector pushes it down);
    `_id`-range splitting is the connector partitioner's job at runtime, with
    `mongo_id_split_conditions` exposing the reference's split math.
    Connector jar absent in sandbox — option mapping unit-tested only."""
    import json

    opts = _mongo_common_opts(cfg)
    if cfg.get("query"):
        match = json.loads(cfg["query"]) if isinstance(cfg["query"], str) else cfg["query"]
        opts["aggregation.pipeline"] = json.dumps([{"$match": match}])
    if cfg.get("parallelism"):
        # Sample partitioner ~ the reference's _id-range splitter
        opts["partitioner"] = "com.mongodb.spark.sql.connector.read.partitioner.SamplePartitioner"
        opts["partitioner.options.samples.per.partition"] = str(
            cfg.get("samples.per.partition", 10)
        )
    return spark.read.format("mongodb").options(**opts).load()


def _reader_excel(spark: SparkSession, cfg: dict) -> DataFrame:
    """Excel sheet scan — reference S11 (hdata-excel/.../reader/
    ExcelReader.java:27-100): pandas-backed fixture reader (sheet 0,
    optional header row), all cells as strings."""
    import pandas as pd

    header = 0 if str(cfg.get("include.column.names", "false")) == "true" else None
    pdf = pd.read_excel(cfg["path"], sheet_name=0, header=header, dtype=str)
    if header is None:
        pdf.columns = [f"c{i}" for i in range(len(pdf.columns))]
    return spark.createDataFrame(pdf)


READERS: dict[str, Callable[[SparkSession, dict], DataFrame]] = {
    "parquet": _reader_parquet,
    "csv": _reader_csv,
    "text": _reader_text,
    "jdbc": _reader_jdbc,
    "hive": _reader_hive,
    "http": _reader_http,
    "kafka": _reader_kafka,
    "mongodb": _reader_mongodb,
    "excel": _reader_excel,
}


# ---------------------------------------------------------------- writers

def _null_literal_cols(df: DataFrame, null_string: str) -> list:
    """Text-sink rendering: null -> literal, timestamps formatted
    (HDFSWriter.java:173-180; CSVWriter.java:121-127)."""
    out = []
    for f_ in df.schema.fields:
        c = F.col(f_.name)
        if f_.dataType.typeName() == "timestamp":
            c = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
        out.append(F.coalesce(c.cast("string"), F.lit(null_string)).alias(f_.name))
    return out


def _writer_parquet(df: DataFrame, cfg: dict) -> None:
    """Lake sink; `partition.by` = dynamic partitioning, `partition.values`
    = the reference's STATIC hive partition (`day='20140418'` — constant
    columns appended then partitioned; hdata-hive/.../writer/hive/
    HiveWriter.java:72-87, partition kv parse Utils.java:69-77)."""
    part_cols = (
        [c.strip() for c in cfg["partition.by"].split(",")]
        if cfg.get("partition.by")
        else []
    )
    static_partition = bool(cfg.get("partition.values"))
    if static_partition:
        for kv in str(cfg["partition.values"]).split(","):
            k, v = kv.split("=", 1)
            k = k.strip()
            df = df.withColumn(k, F.lit(v.strip().strip("'\"")))
            part_cols.append(k)
    w = df.write.mode(cfg.get("mode", "overwrite"))
    if part_cols:
        w = w.partitionBy(*part_cols)
        if static_partition:
            # DYNAMIC partition overwrite: replace only the partitions this
            # write produces. Static mode would truncate the WHOLE path
            # first, wiping sibling partitions — the reference's HiveWriter
            # writes into only the named partition (HiveWriter.java:72-87).
            w = w.option("partitionOverwriteMode", "dynamic")
    if cfg.get("max.records.per.file"):
        w = w.option("maxRecordsPerFile", int(cfg["max.records.per.file"]))
    w.parquet(cfg["path"])


def _writer_csv(df: DataFrame, cfg: dict) -> None:
    """CSV sink — reference K9 (hdata-csv/.../writer/csv/CSVWriter.java:28-157)."""
    df = df.select(_null_literal_cols(df, cfg.get("null.string", "NULL")))
    (
        df.write.mode(cfg.get("mode", "overwrite"))
        .option("header", str(cfg.get("include.column.names", "true")))
        .options(**_csv_dialect_opts(cfg))
        .csv(cfg["path"])
    )


def _writer_text(df: DataFrame, cfg: dict) -> None:
    """Delimited text sink — reference K4 (hdata-hdfs/.../writer/hdfs/
    HDFSWriter.java:28-208): separator join, null literal, date-column
    partitioning (`partition.date.*` -> partitionBy of a derived yyyyMMdd
    column), size rolling via maxRecordsPerFile."""
    sep = _unescape(cfg.get("fields.separator", "\t"))
    rendered = df.select(_null_literal_cols(df, cfg.get("null.string", "NULL")))
    date_col = cfg.get("partition.date.column")
    line = F.concat_ws(sep, *[F.col(f) for f in rendered.columns]).alias("value")
    w_mode = cfg.get("mode", "overwrite")
    if date_col:
        fmt = cfg.get("partition.date.format", "yyyy-MM-dd")
        part = F.date_format(F.to_date(F.col(date_col), fmt), "yyyyMMdd").alias(
            "_day"
        )
        out = rendered.select(line, part)
        w = out.write.mode(w_mode).partitionBy("_day")
    else:
        out = rendered.select(line)
        w = out.write.mode(w_mode)
    if cfg.get("max.records.per.file"):
        w = w.option("maxRecordsPerFile", int(cfg["max.records.per.file"]))
    w.text(cfg["path"])


def _writer_console(df: DataFrame, cfg: dict) -> None:
    """Console sink — reference K1 (hdata-console/.../writer/console/
    ConsoleWriter.java:10-32), timestamps formatted."""
    df.select(_null_literal_cols(df, "NULL")).show(
        int(cfg.get("limit", 20)), truncate=False
    )


def _writer_jdbc(df: DataFrame, cfg: dict) -> None:
    """JDBC batch insert — reference K2 (hdata-jdbc/.../writer/jdbc/
    JDBCWriter.java:29-201): batchsize maps to `batch.insert.size`, table and
    column identifiers are keyword-escaped (`keyword.escaper`, default
    backtick — JDBCWriter.java:117-126). The upsert arm (ON DUPLICATE KEY
    UPDATE, :128-145) is served by the snapshot sink's MERGE instead
    (`writer.name=snapshot`)."""
    # Spark's JDBC writer quotes COLUMN identifiers via the dialect already;
    # the raw `dbtable` string is the one identifier escaping is for. OPT-IN
    # (reference default is MySQL backticks, but an unconditional escaper
    # would break every non-MySQL target): set keyword.escaper to '`', '"',
    # or '[]' (SQL Server bracket pair).
    esc = cfg.get("keyword.escaper", "")
    if esc:
        lq, rq = (esc[0], esc[1]) if len(esc) == 2 else (esc, esc)
        quoted_table = ".".join(
            f"{lq}{part}{rq}"
            if not (part.startswith(lq) and part.endswith(rq))
            else part
            for part in str(cfg["table"]).split(".")
        )
    else:
        quoted_table = cfg["table"]
    (
        df.write.mode(cfg.get("mode", "append"))
        .option("batchsize", int(cfg.get("batch.insert.size", 10000)))
        .jdbc(cfg["url"], quoted_table)
    )


def kafka_payload(df: DataFrame, sep: str = "\t") -> DataFrame:
    """Kafka record projection — reference K6 (hdata-kafka/.../writer/kafka/
    KafkaWriter.java:16-54): all fields separator-joined into `value`, with
    `key` = `value` exactly as the reference produces. One deliberate
    divergence: concat_ws SKIPS null fields where the reference's Guava
    Joiner would throw on them. Split out so the projection is testable
    without a broker."""
    return df.select(
        F.concat_ws(sep, *[F.col(c).cast("string") for c in df.columns]).alias(
            "value"
        )
    ).withColumn("key", F.col("value"))


def _writer_kafka(df: DataFrame, cfg: dict) -> None:
    """Kafka sink — see kafka_payload; broker jars absent in sandbox, so the
    write itself is option-mapping only."""
    joined = kafka_payload(df, _unescape(cfg.get("fields.separator", "\t")))
    (
        joined.write.format("kafka")
        .option("kafka.bootstrap.servers", cfg["brokers"])
        .option("topic", cfg["topic"])
        .save()
    )


def _writer_snapshot(df: DataFrame, cfg: dict) -> None:
    """Keyed MERGE upsert into the engine's snapshot table — the reference's
    upsert path (JDBCWriter.java:128-145) upgraded to exactly-once
    (sinks/snapshot.py). `upsert.columns` names the key."""
    from hdata_spark.sinks.snapshot import SnapshotTable

    keys = [
        c.strip()
        for c in cfg.get("upsert.columns", "repo,path").split(",")
    ]
    table = SnapshotTable(
        cfg["path"], keys=keys, n_buckets=int(cfg.get("buckets", 64))
    )
    lsn_col = cfg.get("lsn.column")
    spark = df.sparkSession
    if "op" not in df.columns:
        df = df.withColumn("op", F.lit("insert"))
    if "lsn" not in df.columns:
        if lsn_col:
            df = df.withColumn("lsn", F.col(lsn_col).cast("long"))
        else:
            # No LSN column: stamp the whole batch one past the stored max so
            # re-running the job with changed payloads UPDATES existing keys
            # (the sink's strict s.lsn > t._lsn rule would otherwise make an
            # lsn-less upsert silently insert-only). Ties within the batch
            # are resolved by the sink's window dedup.
            stored_max = table.max_stored_lsn()
            df = df.withColumn("lsn", F.lit(stored_max + 1).cast("long"))
    if table.current_version() == 0:
        # A new table takes the frame's columns as its schema, so keys and
        # payload outside the default spec are stored, not dropped.
        table.evolve_schema([
            {"name": f.name, "type": f.dataType.simpleString(), "sources": [f.name]}
            for f in df.schema.fields if f.name not in ("op", "lsn")
        ])
    table.merge(spark, df)


def _writer_mongodb(df: DataFrame, cfg: dict) -> None:
    """MongoDB batched-insert sink — reference K8 (hdata-mongodb/.../writer/
    mongodb/MongoDBWriter.java:20-60): `batch.insert.size` maps to the
    connector's maxBatchSize. Connector jar absent in sandbox — option
    mapping unit-tested only."""
    (
        df.write.format("mongodb")
        .mode(cfg.get("mode", "append"))
        .options(**_mongo_common_opts(cfg))
        .option("maxBatchSize", int(cfg.get("batch.insert.size", 1000)))
        .save()
    )


def _writer_excel(df: DataFrame, cfg: dict) -> None:
    """Excel sink — reference K10 (hdata-excel/.../writer/ExcelWriter.java:23-82):
    collected pandas write, all cells as strings; fixture-scale only."""
    pdf = df.toPandas().astype(str)
    pdf.to_excel(
        cfg["path"],
        index=False,
        header=str(cfg.get("include.column.names", "true")) == "true",
    )


WRITERS: dict[str, Callable[[DataFrame, dict], None]] = {
    "parquet": _writer_parquet,
    "csv": _writer_csv,
    "text": _writer_text,
    "console": _writer_console,
    "jdbc": _writer_jdbc,
    "kafka": _writer_kafka,
    "mongodb": _writer_mongodb,
    "snapshot": _writer_snapshot,
    "excel": _writer_excel,
}


# ---------------------------------------------------------------- runner

def read_source(spark: SparkSession, cfg: dict) -> DataFrame:
    name = cfg.get("name")
    if name not in READERS:
        raise ValueError(f"unknown reader {name!r}; have {sorted(READERS)}")
    return READERS[name](spark, cfg)


def write_sink(df: DataFrame, cfg: dict) -> None:
    name = cfg.get("name")
    if name not in WRITERS:
        raise ValueError(f"unknown writer {name!r}; have {sorted(WRITERS)}")
    WRITERS[name](df, cfg)


def run_job(
    spark: SparkSession,
    spec: dict,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> dict:
    """Execute one (reader -> [transform] -> writer) job.

    The EP1/EP2 lifecycle (SURVEY §3) minus the ring buffer: the reader
    builds a DataFrame plan, the optional transform composes engine
    operators, the writer executes it. Read/write counts are observed
    through the plan (`df.observe`), replacing the reference's AtomicLong
    metric (hdata-api/.../api/Metric.java:5-78).
    """
    from pyspark.sql import Observation

    spec = substitute_vars(spec, spec.get("vars", {}))
    df = read_source(spark, spec["reader"])
    if transform is not None:
        df = transform(df)
    obs = Observation("job_metrics")
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    write_sink(df, spec["writer"])
    rows = obs.get.get("rows", 0) if spec["writer"]["name"] != "kafka" else None
    return {"rows_written": rows}

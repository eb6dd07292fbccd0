"""SnapshotTable — keyed MERGE upserts into an atomically-versioned lake table.

This is the engine's sink. On a production cluster the same interface maps
1:1 onto Iceberg (`MERGE INTO target USING batch ON t.repo=s.repo AND
t.path=s.path WHEN MATCHED ... WHEN NOT MATCHED ...` + Iceberg snapshot
commits and native column-ID schema evolution); in the sandbox (no Iceberg
runtime jar) we implement the identical semantics on plain parquet with a
manifest + atomic pointer — the same design Iceberg itself uses:

- data files are immutable parquet, hash-bucketed by key:
  ``bucket = pmod(xxhash64(repo, path), n_buckets)``. A *base* file holds
  one bucket (``data/v<version>-*/bucket=<b>/``). A fast-append *delta*
  file holds every bucket one write task staged for one epoch, sorted by
  ``bucket``, which it stores as a column (``data/delta_*/epoch=<e>/``): a
  file is sized by the data, not by the bucket count;
- a *manifest* (JSON) lists each data file once, as an Iceberg manifest
  lists each data file with its partition tuple: ``files`` maps a path to
  its schema generation, its *live bucket set* and whether it is a delta.
  A base file's set is its one bucket; a delta file's starts as the buckets
  it holds. A bucket rewrite removes the buckets it folded from every set,
  scans read a delta file for its live buckets only, and a file leaves the
  manifest once its set is empty. ``gen_specs`` holds, per schema
  generation, the logical schema with rename lineage (``sources``:
  newest-first names) and a stable id per column (Iceberg's column IDs) by
  which old generations are projected; the current schema is
  ``gen_specs[gen]``. A manifest carries ``format`` (`FORMAT`, Iceberg's
  table ``format-version``), and a table of any other format is refused
  at open: there is no upgrade path;
- ``_latest`` is a pointer file updated via ``os.replace`` (atomic on POSIX):
  readers always see a complete snapshot, never a partial commit;
- MERGE and compaction are one copy-on-write **bucket rewrite**
  (`_rewrite`, Iceberg's `rewrite_data_files` over the file groups a MERGE
  touches): only the buckets a batch touches are rewritten; untouched
  buckets carry their existing files into the new manifest verbatim. With
  10^10 rows in 4096 buckets and an incremental batch touching 5% of
  buckets, 95% of the table is neither read nor written.

This module alone owns how a row is stored, as Iceberg's table format
alone defines its data files: the projection of a batch to a logical
schema (`_project`) and of a stored generation to it (`_project_gen`, by
column id), the event -> stored-row encoding (`_stored_rows`: `_lsn`
bigint, `_op`, `bucket`), the file layout (`_write`, behind `_rewrite` and
the apply core's `stage_deltas`) and the spec type names (`_parse_type`,
which the schema registry canonicalizes through).

Compaction cadence: `delta_bucket_count` counts (delta file, live bucket)
pairs — the delta files a one-file-per-bucket layout would hold — so the
apply core's compaction rule fires where it did before delta files were
shared by buckets.

Idempotence anchor: every stored row carries ``_lsn`` (the LSN that produced
it). Every key resolves to its highest-``_lsn`` version — at read time across
fast-append deltas, and in `_rewrite`, where stored rows win LSN ties — so
re-applying an already-applied epoch is a no-op BY CONSTRUCTION, not merely
by ledger bookkeeping. (Reference counterpart: the keyed upsert path
hdata-jdbc/.../writer/jdbc/JDBCWriter.java:128-145, which is at-least-once
and arrival-order-dependent; stored-LSN LWW is what upgrades it to
exactly-once under replay.)

Delete semantics: the batch carries ``op``; a key whose winning event is a
delete is persisted as a TOMBSTONE row (``_op='d'``, hidden from `read()`),
not removed — so replaying an arbitrary old epoch can never resurrect a
deleted key (the tombstone's higher LSN wins). Within a batch a delete
cannot shadow a later reinsert either, because resolution is by LSN, not
arrival order. Tombstones are expired by `compact()`.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdata_spark.operators.dedup import lww_latest_window

class ConcurrentCommitError(RuntimeError):
    """Another writer committed the snapshot version this commit targeted."""


BASE_COLUMNS = ["repo", "path", "commit", "lang", "content"]
# Engine-maintained derived column: sha256 of content, computed by the
# replay pipeline's vectorized transform (north-star UDF; also the per-row
# verification invariant). Stored so change detection / audits never rescan
# content.
DERIVED_COLUMNS = ["content_sha256"]
# The manifest layout `_commit` writes and `_read_manifest` accepts.
FORMAT = 2


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Run a block with one session conf set, restoring it afterwards."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _no_aqe(spark: SparkSession):
    """Run a block with AQE off.

    For small fixed-shape jobs whose sizes are already known: the bucket
    rewrite behind `merge` and `compact` (`overwrite`, the jobspec upserts
    and `MinHashIndex` ingests included) and the `similarity` joins.
    AQE's per-stage materialize-and-replan adds latency on every exchange
    and can never improve such a plan. Constant per-commit overhead is the
    part of the cost model that does NOT amortize at scale, so it is the
    part to strip.
    """
    return _scoped_conf(spark, "spark.sql.adaptive.enabled", "false")


def write_tasks(spark: SparkSession, groups: int) -> int:
    """Tasks for a write of `groups` one-file output groups: one per group,
    at most `spark.sql.shuffle.partitions`, for an explicit repartition
    count. AQE coalesces a count-less repartition of a small batch into ONE
    task that writes every file in turn, but never an explicit count; and
    tasks past the core count only add per-task overhead."""
    return min(groups, int(spark.conf.get("spark.sql.shuffle.partitions")))


def _default_schema() -> list[dict]:
    return [
        {"name": c, "type": "string", "sources": [c]}
        for c in BASE_COLUMNS + DERIVED_COLUMNS
    ]


class SnapshotTable:
    """Bucketed, manifest-versioned parquet table with LWW MERGE + evolution."""

    def __init__(
        self,
        root: str,
        keys: Sequence[str] = ("repo", "path"),
        n_buckets: int = 64,
        bucket_cols: Sequence[str] | None = None,
    ) -> None:
        """`bucket_cols` (default: `keys`) — the subset of key columns the
        bucket hash is computed over. Must be a subset of `keys` so every
        version of a key colocates in one bucket (the merge invariant).
        Bucketing on a key PREFIX lets readers that only know that prefix
        bucket-prune: e.g. the MinHash band index keyed by
        (band_idx, band_sig, doc_id) buckets on doc_id alone, so its
        replace/delete paths (which know only doc_ids) read the batch's
        buckets instead of scanning the whole index."""
        self.root = root
        self.keys = list(keys)
        self.bucket_cols = list(bucket_cols) if bucket_cols else list(keys)
        if not set(self.bucket_cols) <= set(self.keys):
            raise ValueError(
                f"bucket_cols {self.bucket_cols} must be a subset of keys "
                f"{self.keys}: a key's versions must colocate in one bucket"
            )
        self.n_buckets = n_buckets
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        # An EXISTING table's layout is authoritative: keys/n_buckets are
        # recorded in the manifest at first commit, and reopening with
        # different constructor args must not silently re-bucket (a merge
        # planned with the wrong bucket count would miss stored rows and
        # duplicate keys). Stored layout wins over constructor defaults.
        v = self.current_version()
        if v > 0:
            m = self._read_manifest(v)
            self.keys = list(m["keys"])
            self.n_buckets = int(m["n_buckets"])
            self.bucket_cols = list(m["bucket_cols"])

    # ---------------- manifest / pointer plumbing ----------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_latest")

    def current_version(self) -> int:
        """Latest committed snapshot.

        The pointer is the fast path; the manifests directory is the truth.
        A crash between the exclusive manifest claim (os.link) and the
        pointer swap leaves an ORPHAN manifest one version ahead — since
        only ONE writer can ever claim a version, that orphan IS a
        committed snapshot whose publish was lost, so it is adopted here
        (otherwise every later commit of that version would collide
        forever). The next successful commit re-advances the pointer.
        """
        try:
            with open(self._pointer) as f:
                v = int(f.read().strip())
        except FileNotFoundError:
            v = 0
        while os.path.exists(self._manifest_path(v + 1)):
            v += 1
        return v

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "manifests", f"v{version:08d}.json")

    def _read_manifest(self, version: int) -> dict:
        """Manifest `version`; version 0 is the empty table of the default
        schema. Raises ValueError on a manifest of another `format`."""
        if not version:
            spec = [dict(c, id=i) for i, c in enumerate(_default_schema())]
            return {"version": 0, "gen": 0, "gen_specs": {"0": spec}, "files": {}}
        path = self._manifest_path(version)
        with open(path) as f:
            m = json.load(f)
        if m.get("format") != FORMAT:
            raise ValueError(
                f"{path}: manifest format {m.get('format')}, but this code "
                f"reads format {FORMAT} only; rebuild the table from its source"
            )
        return m

    def _commit(self, version: int, manifest: dict) -> None:
        """Atomic snapshot commit with optimistic concurrency.

        Writes `manifest` (`gen`, `gen_specs`, `files`) stamped with
        `FORMAT`, the version and the table layout (`keys`, `n_buckets`,
        `bucket_cols`). A commit claims `version` by creating its manifest
        with O_EXCL — exactly one of two racing writers wins (same
        optimistic protocol as an Iceberg catalog swap); the loser gets
        ConcurrentCommitError and must re-read + retry on top of the
        winner's snapshot. The pointer swap afterwards is the atomic publish
        (os.replace).
        """
        if version != self.current_version() + 1:
            raise ConcurrentCommitError(
                f"stale snapshot: committing v{version} but table is at "
                f"v{self.current_version()}"
            )
        manifest = {
            **manifest, "format": FORMAT, "version": version, "keys": list(self.keys),
            "n_buckets": self.n_buckets, "bucket_cols": list(self.bucket_cols),
        }
        path = self._manifest_path(version)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            # exclusive link: fails if another writer claimed this version
            os.link(tmp, path)
        except FileExistsError:
            os.remove(tmp)
            raise ConcurrentCommitError(
                f"lost race for snapshot v{version}: another writer committed"
            ) from None
        os.remove(tmp)
        ptr_tmp = self._pointer + f".tmp-{uuid.uuid4().hex}"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, self._pointer)  # atomic snapshot swap

    def schema_spec(self) -> list[dict]:
        """The current logical schema: the registry's spec shape, without
        the column ids."""
        return _logical(self._read_manifest(self.current_version()))

    def columns(self) -> list[str]:
        return [c["name"] for c in self.schema_spec()]

    def max_stored_lsn(self) -> int:
        """Highest _lsn in the current snapshot (0 for an empty table).

        Read with pyarrow, no Spark job: base files from their footers,
        delta files for their live buckets only. The maximum over every
        stored version (superseded rows and tombstones included) equals the
        maximum over the LWW winners, since each key's winner is its
        highest-LSN version.
        """
        files = self._read_manifest(self.current_version())["files"]
        base = [_footer_max_lsn(os.path.join(self.root, f))
                for f, e in files.items() if not e["delta"]]
        deltas = delta_footer_stats(
            self.root, {f: e["buckets"] for f, e in files.items() if e["delta"]}
        )
        return max(
            [x for x in base if x is not None]
            + [mx for bs in deltas.values() for _, mx in bs.values()],
            default=0,
        )

    # ---------------- reads ----------------

    def _bucket_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.bucket_cols]),
            F.lit(self.n_buckets),
        ).cast("int")

    def _files(self, m: dict, buckets: Sequence[int] | None = None) -> dict[str, list[int]]:
        """{file: the buckets of its live set to read} of manifest `m`'s
        files that hold live rows of `buckets` (all when None)."""
        wanted = None if buckets is None else {int(b) for b in buckets}
        return {
            f: read for f, e in m["files"].items()
            if (read := [b for b in e["buckets"] if wanted is None or b in wanted])
        }

    def _scan(
        self,
        spark: SparkSession,
        m: dict,
        buckets: Sequence[int] | None = None,
        spec: list[dict] | None = None,
    ) -> DataFrame:
        """Every stored row version in manifest `m`'s files of `buckets` (all
        when None), projected to `spec` (a `gen_specs` entry, with column
        ids; default: `m`'s current generation), with `bucket`. A delta
        file is read for its live buckets only. No LWW resolution:
        `read_internal` and `_rewrite` add it."""
        spec = spec or m["gen_specs"][str(m["gen"])]
        files = self._files(m, buckets)
        if not files:
            schema = _stored_schema(spec).add("bucket", T.IntegerType())
            return spark.createDataFrame([], schema)
        # Files are grouped by schema GENERATION (bumped on every
        # evolve_schema — the parquet-fallback analog of Iceberg's per-file
        # schema id), and the scan is planned from the manifest alone, as
        # Iceberg plans one: each generation is read with the schema its
        # `gen_specs` entry declares (no schema-inference job) from the
        # manifest's file list (no file-listing job), then projected to the
        # target logical schema by column id (`_project_gen`); generations
        # then union. This is what makes add/rename/widen metadata-only:
        # old files are never rewritten, just re-projected — and
        # type-widened generations can coexist. Delta files are grouped
        # further by the buckets to read, and filtered on their stored
        # `bucket` (row-group min/max prunes the rest, since each file is
        # sorted by it).
        # Writer invariant: every file is written through `_stored_rows`, so
        # it carries exactly its generation's declared schema — logical
        # columns at their spec types, `_lsn` bigint, `_op` string, and a
        # delta file `bucket` int. A file that does not fails the scan with
        # a type mismatch.
        groups: dict[tuple[int, tuple[int, ...]], list[str]] = {}
        for f, read in files.items():
            e = m["files"][f]
            key = (e["gen"], tuple(read) if e["delta"] else ())
            groups.setdefault(key, []).append(os.path.join(self.root, f))
        frames = []
        # Spark lists more than `parallelPartitionDiscovery.threshold` (32)
        # explicit paths with a distributed job; the manifest already names
        # every file, so the driver only stats them. Scoped to the scan, so
        # reads of user paths list as before.
        with _scoped_conf(
            spark, "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        ):
            for (g, live), paths in sorted(groups.items()):
                gen_spec = m["gen_specs"][str(g)]
                schema = _stored_schema(gen_spec)
                if live:
                    raw = spark.read.schema(schema.add("bucket", T.IntegerType()))
                    raw = raw.parquet(*paths).filter(F.col("bucket").isin(*live))
                    frames.append(_project_gen(raw, gen_spec, spec))
                else:
                    # A base file's `bucket` is directory-encoded and a pure
                    # function of the keys: recompute it instead of relying
                    # on partition discovery over explicit file paths.
                    raw = spark.read.schema(schema).parquet(*paths)
                    frames.append(
                        _project_gen(raw, gen_spec, spec)
                        .withColumn("bucket", self._bucket_expr())
                    )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def read_internal(
        self,
        spark: SparkSession,
        buckets: Sequence[int] | None = None,
        version: int | None = None,
        spec: list[dict] | None = None,
    ) -> DataFrame:
        """Snapshot incl. _lsn/bucket; bucket-pruned when asked.

        Bucket pruning is manifest-level file pruning — pruned buckets' files
        are never opened (equivalent of Iceberg partition pruning; reference
        analog: HBase region-range scan, hdata-hbase/.../HBaseSplitter.java:57-133).
        Each stored generation is projected to the schema by column id, so
        a rename reads old files under the new name.

        `version` time-travels to an older snapshot (manifests are retained;
        valid until `vacuum()` expires that snapshot's files, exactly
        Iceberg's snapshot-expiry contract). `spec` (a `gen_specs` entry,
        with column ids) projects it to another logical schema than its own
        (default: the version's schema).
        """
        m = self._read_manifest(
            self.current_version() if version is None else version
        )
        out = self._scan(spark, m, buckets, spec)
        if any(e["delta"] for e in m["files"].values()):
            # Merge-on-read resolution: fast-append commits leave multiple
            # versions of a key across base + delta files; the highest-LSN
            # row wins at read time (row_number, not a semi join — re-applied
            # epochs can duplicate an exact (key, lsn) row and exactly one
            # copy must survive). This is the MOR read-amplification trade:
            # reads pay one keyed shuffle until `_rewrite` folds the deltas.
            out = lww_latest_window(out, keys=self.keys, order_col="_lsn")
        return out

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Public final-state view: tombstones filtered, internals dropped.

        `version` = time travel (`None` = current snapshot).
        """
        return (
            self.read_internal(spark, version=version)
            .filter(F.col("_op") != F.lit("d"))
            .drop("_lsn", "_op", "bucket")
        )

    def changes_between(
        self, spark: SparkSession, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Change data feed between two snapshots: one row per key whose
        state differs, classified insert / update / delete.

        The downstream face of a CDC engine — consumers incrementally follow
        the target table the same way this engine follows its source WAL.
        Implemented as a keyed full-outer join of the two snapshots' internal
        states (per-bucket co-partitioned at scale); `_change_lsn` carries
        the LSN that produced the new state, so feeds compose transitively.

        Both sides are projected to the CURRENT logical schema first (rename
        lineage + widen casts + null-fill), so a feed spanning a schema
        evolution boundary is well-formed.
        """
        m = self._read_manifest(self.current_version())
        spec = m["gen_specs"][str(m["gen"])]
        a = self.read_internal(spark, version=v_from, spec=spec).alias("a")
        b = self.read_internal(spark, version=v_to, spec=spec).alias("b")
        cond = None
        for k in self.keys:
            eq = F.col(f"a.{k}") == F.col(f"b.{k}")
            cond = eq if cond is None else cond & eq
        j = a.join(b, cond, "full_outer")
        a_live = (F.col("a._lsn").isNotNull()) & (F.col("a._op") != "d")
        b_live = (F.col("b._lsn").isNotNull()) & (F.col("b._op") != "d")
        change = (
            F.when(~a_live & b_live, F.lit("insert"))
            # delete covers both a visible tombstone in b AND a key that is
            # entirely absent from b (tombstone expired by compaction)
            .when(a_live & ~b_live, F.lit("delete"))
            .when(
                a_live & b_live & (F.col("b._lsn") > F.col("a._lsn")),
                F.lit("update"),
            )
            .otherwise(F.lit(None))
        )
        logical = [c["name"] for c in spec]
        # Payload comes from the NEW side whenever its row exists — a
        # coalesce would resurrect the old value for updates that set a
        # column to NULL. Only deletes-by-absence fall back to the old row.
        b_present = F.col("b._lsn").isNotNull()
        payload_side = [
            F.when(b_present, F.col(f"b.{c}")).otherwise(F.col(f"a.{c}")).alias(c)
            for c in logical
            if c not in self.keys
        ]
        return (
            j.select(
                change.alias("change_type"),
                *[
                    F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k)
                    for k in self.keys
                ],
                *payload_side,
                # The LSN that PRODUCED the new state. NULL for a delete
                # whose tombstone was already expired (provenance unknown —
                # consumers must assign their own ordering for those).
                F.col("b._lsn").alias("_change_lsn"),
            )
            .filter(F.col("change_type").isNotNull())
        )

    # ---------------- MERGE ----------------

    def merge(self, spark: SparkSession, batch: DataFrame) -> dict:
        """MERGE batch into the table; returns commit stats.

        `batch` columns: logical table columns (by current or, after a
        rename, older name) + `op` ('insert' | 'update' | 'delete') + `lsn`.
        The buckets the batch touches are rewritten with
        it (`_rewrite`): per key the highest LSN wins and, at equal LSN, the
        stored row — equal LSN means the same event, already applied, so
        replays are no-ops. This is the `MERGE INTO ... WHEN MATCHED AND
        s.lsn > t.lsn` that Iceberg would run as a copy-on-write rewrite of
        the touched file groups.
        """
        version = self.current_version()
        manifest = self._read_manifest(version)
        spec = manifest["gen_specs"][str(manifest["gen"])]
        names = [c["name"] for c in spec]
        if missing := [k for k in self.keys if k not in names]:
            raise ValueError(
                f"key columns {missing} are not in the table schema {names}; "
                "declare them with evolve_schema"
            )
        rows = self._stored_rows(batch, spec)
        if self._files(manifest):
            with _no_aqe(spark):
                # Touched buckets: tiny collect (<= n_buckets ints).
                touched = sorted(
                    r["bucket"] for r in rows.select("bucket").distinct().collect()
                )
            if touched:
                manifest = self._rewrite(spark, manifest, touched, incoming=rows)
        else:
            # Nothing stored to carry over: rewrite every bucket from the
            # batch alone (one job); the touched buckets are those written.
            manifest = self._rewrite(
                spark, manifest, range(self.n_buckets), incoming=rows
            )
            touched = _buckets(manifest)
        self._commit(version + 1, manifest)
        return {
            "version": version + 1, "buckets": touched, "applied_buckets": len(touched)
        }

    def _rewrite(
        self,
        spark: SparkSession,
        manifest: dict,
        buckets: Sequence[int],
        incoming: DataFrame | None = None,
        expire_below: int | None = None,
    ) -> dict:
        """Copy-on-write rewrite of `buckets`, shared by `merge` and
        `compact`; returns the manifest to commit.

        Scans the buckets' stored rows, unions in the `incoming` stored
        rows (`_stored_rows` of the manifest's schema), keeps one row per
        key — the highest `_lsn`, stored rows winning ties (the strict
        `s.lsn > t._lsn` rule) — drops tombstones below `expire_below`, and
        writes one base file per bucket. The returned manifest removes the
        buckets from every file's live set (dropping a file whose set
        empties), lists the written files, and keeps only the `gen_specs`
        its files still reference.
        """
        parts = []
        if self._files(manifest, buckets):
            parts.append(self._scan(spark, manifest, buckets).withColumn("_in", F.lit(0)))
        if incoming is not None:
            parts.append(incoming.withColumn("_in", F.lit(1)))
        rows = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

        version = manifest["version"] + 1
        with _no_aqe(spark):
            # The write's one exchange, hashed on `bucket`, meets the
            # window's (bucket, *keys) clustering: `bucket` is a function of
            # the keys, so this is the per-key window.
            rows = lww_latest_window(
                rows.repartition(write_tasks(spark, len(buckets)), F.col("bucket")),
                keys=["bucket", *self.keys], order_col="_lsn", tie_col="_in",
            )
            if expire_below is not None:
                rows = rows.filter(
                    (F.col("_op") != "d") | (F.col("_lsn") >= F.lit(expire_below))
                )
            written = self._write(
                rows.drop("_in"), "bucket", f"v{version:08d}-{uuid.uuid4().hex[:8]}"
            )

        rewritten = {int(b) for b in buckets}
        gen = manifest["gen"]
        files = {
            f: dict(e, buckets=kept) for f, e in manifest["files"].items()
            if (kept := [b for b in e["buckets"] if b not in rewritten])
        } | {
            f: {"gen": gen, "buckets": [b], "delta": False}
            for b, fs in written.items() for f in fs
        }
        live_gens = {str(gen)} | {str(e["gen"]) for e in files.values()}
        return {
            **manifest,
            "files": files,
            "gen_specs": {
                g: s for g, s in manifest["gen_specs"].items() if g in live_gens
            },
        }

    def _stored_rows(self, events: DataFrame, spec: list[dict], *keep: str) -> DataFrame:
        """Change events (logical columns, `lsn`, `op`) as the rows a data
        file of `spec` stores: the logical columns projected to `spec`,
        `_lsn` bigint, `_op`, then the `keep` columns and `bucket`, hashed
        over the keys at their stored types. A delete persists as a
        TOMBSTONE row (`_op='d'`), see the module docstring."""
        return _project(events, spec).select(
            *[c["name"] for c in spec],
            F.col("lsn").cast("bigint").alias("_lsn"),
            F.when(F.col("op") == "delete", F.lit("d")).otherwise(F.lit("u")).alias("_op"),
            *keep,
            self._bucket_expr().alias("bucket"),
        )

    def _write(self, rows: DataFrame, by: str, name: str) -> dict[int, list[str]]:
        """The one writer of data files, behind `_rewrite` (`by` = bucket)
        and `stage_deltas` (`by` = epoch): writes `rows`, as their caller
        partitioned them, to `data/<name>` partitioned by the `by` column.
        Returns {value: sorted parquet paths relative to the table root}."""
        rel = os.path.join("data", name)
        path = os.path.join(self.root, rel)
        rows.write.partitionBy(by).mode("overwrite").parquet(path)
        return {
            int(d.split("=", 1)[1]): [
                os.path.join(rel, d, fn)
                for fn in sorted(os.listdir(os.path.join(path, d)))
                if fn.endswith(".parquet")
            ]
            for d in sorted(os.listdir(path)) if d.startswith(f"{by}=")
        }

    def stage_deltas(
        self, spark: SparkSession, events: DataFrame, epochs: list[int],
        observation: Observation, *metrics: Column,
    ) -> dict[int, list[str]]:
        """Write a run of epochs' change events (`_stored_rows` input plus
        `epoch`) as delta files of the current schema, and compute `metrics`
        over the stored rows into `observation` as they are written (no
        Spark job of its own). Nothing is committed: returns {epoch: files}
        (`[]` for an epoch without a row) for `register_deltas`.

        The rows are rebalanced on `epoch`, so AQE sizes the write tasks
        from the bytes staged, not from a group count: a small run writes
        one file per epoch, a large one splits each epoch into files of the
        advisory partition size. Each file holds every bucket its task
        got, sorted by (epoch, bucket), with `bucket` stored."""
        rows = self._stored_rows(events, self.schema_spec(), "epoch")
        files = self._write(
            rows.hint("rebalance", F.col("epoch"))
            .observe(observation, *metrics)
            .sortWithinPartitions("epoch", "bucket"),
            "epoch",
            f"delta_{epochs[0]:08d}_{epochs[-1]:08d}_{uuid.uuid4().hex[:8]}",
        )
        return {e: files.get(e, []) for e in epochs}

    def register_deltas(self, files: dict[str, Sequence[int]]) -> dict:
        """Fast-append commit (merge-on-read): register already-written delta
        files with their live bucket sets — a METADATA-ONLY snapshot commit,
        no Spark job, no read of stored data.

        This is Iceberg's fast-append / Hudi's MOR ingest path: the apply
        core stages one epoch-partitioned file set per run (`stage_deltas`),
        then commits each epoch as a manifest append (milliseconds,
        driver-side), so per-epoch commit cost is O(1) in table size.
        Readers resolve key versions by stored LSN (read_internal);
        `_rewrite` (`compact`, or a `merge` touching a bucket) folds deltas
        back to one row per key.

        `files`: {path relative to the table root: the buckets it holds},
        one epoch of `stage_deltas`' files (`delta_footer_stats` gives the
        buckets).
        """
        version = self.current_version()
        m = self._read_manifest(version)
        added = {
            f: {"gen": m["gen"], "buckets": sorted(bs), "delta": True}
            for f, bs in files.items() if bs
        }
        m["files"] |= added
        self._commit(version + 1, m)
        return {
            "version": version + 1,
            "applied_buckets": len({b for e in added.values() for b in e["buckets"]}),
            "files_registered": len(added),
        }

    def delta_file_count(self) -> int:
        """Number of UNCOMPACTED delta files; 0 after compact()."""
        m = self._read_manifest(self.current_version())
        return sum(e["delta"] for e in m["files"].values())

    def delta_bucket_count(self) -> int:
        """Number of (delta file, live bucket) pairs: the delta files a
        one-file-per-bucket layout would hold, and the measure of the
        compaction rule; 0 after compact()."""
        m = self._read_manifest(self.current_version())
        return sum(len(e["buckets"]) for e in m["files"].values() if e["delta"])

    def overwrite(self, spark: SparkSession, df: DataFrame, lsn_col=None) -> dict:
        """Full load. df has the logical columns (+ optional lsn column).

        The derived content_sha256 is computed here when absent, so base
        loads get the same invariant column the replay pipeline maintains.
        """
        if "content_sha256" not in df.columns and "content" in df.columns:
            df = df.withColumn("content_sha256", F.sha2(F.col("content"), 256))
        lsn = F.col(lsn_col) if lsn_col else F.lit(0).cast("long")
        cols = [c for c in self.columns() if c in df.columns]
        batch = df.select(*cols, lsn.alias("lsn"), F.lit("insert").alias("op"))
        return self.merge(spark, batch)

    # ---------------- schema evolution ----------------

    def evolve_schema(self, new_spec: list[dict]) -> int:
        """Commit a new logical schema (add / rename / widen) WITHOUT data
        rewrite — metadata-only, like Iceberg. `new_spec` entries:
        {"name", "type", "sources": [newest_physical, ...older names]}.
        """
        version = self.current_version()
        manifest = self._read_manifest(version)
        if _logical(manifest) == new_spec:
            # Idempotent: crash-resume may re-drive the same spec (the
            # registry persisted but the table commit didn't land); a no-op
            # re-apply must not churn versions or generations.
            return version
        for c in new_spec:
            _parse_type(c["type"])  # fail here, not on every later scan
        gen = manifest["gen"] + 1
        manifest["gen_specs"] = {
            **manifest["gen_specs"], str(gen): _with_ids(manifest, new_spec)
        }
        manifest["gen"] = gen
        self._commit(version + 1, manifest)
        return version + 1

    # ---------------- maintenance ----------------

    def compact(
        self, spark: SparkSession, expire_tombstones_below_lsn: int | None = None
    ) -> dict:
        """Rewrite the whole table: fold deltas, expire tombstones, 1 file/bucket.

        Only safe when no future replay can carry an LSN below the expiry
        watermark (i.e. watermark <= ledger's lowest uncommitted LSN) —
        exactly Iceberg's snapshot-expiry contract. With no watermark, all
        tombstones are kept and this is a pure small-file compaction.
        """
        version = self.current_version()
        manifest = self._read_manifest(version)
        buckets = _buckets(manifest)
        if buckets:
            manifest = self._rewrite(
                spark, manifest, buckets, expire_below=expire_tombstones_below_lsn
            )
        self._commit(version + 1, manifest)
        return {"version": version + 1, "buckets": len(_buckets(manifest))}

    def vacuum(self) -> int:
        """Delete data files unreferenced by the current manifest: a delta
        file stays while any bucket holds it live."""
        live = {
            os.path.join(self.root, f)
            for f in self._read_manifest(self.current_version())["files"]
        }
        removed = 0
        data_root = os.path.join(self.root, "data")
        for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
            for fn in filenames:
                p = os.path.join(dirpath, fn)
                if p not in live and fn.endswith(".parquet"):
                    os.remove(p)
                    removed += 1
            if dirpath != data_root and not os.listdir(dirpath):
                shutil.rmtree(dirpath, ignore_errors=True)
        return removed


def _project(df: DataFrame, spec: list[dict]) -> DataFrame:
    """Project a batch `df` to the logical schema `spec` — the one
    projection of event batches and `merge` batches alike: each column
    coalesces the names of its `sources` (rename lineage, newest first) that
    `df` has, cast to its spec type (widening), or is a typed null when `df`
    has none; columns outside every entry's lineage (`lsn`, `op`, ...) are
    kept after them. An old name that a column of `spec` holds now binds to
    that column alone: after `content`->`body` and an add of `content`, a
    batch's `content` is the new column. Stored generations are projected
    by column id instead (`_project_gen`)."""
    present = set(df.columns)
    names = {c["name"] for c in spec}
    lineage = {s for c in spec for s in c["sources"]}
    cols = []
    for c in spec:
        sources = [
            F.col(s) for s in c["sources"]
            if s in present and (s == c["name"] or s not in names)
        ] or [F.lit(None)]
        value = F.coalesce(*sources) if len(sources) > 1 else sources[0]
        cols.append(value.cast(c["type"]).alias(c["name"]))
    return df.select(*cols, *[F.col(c) for c in df.columns if c not in lineage])


def _logical(m: dict) -> list[dict]:
    """Manifest `m`'s current schema without its column ids: the shape of
    the registry's spec."""
    return [
        {k: v for k, v in c.items() if k != "id"} for c in m["gen_specs"][str(m["gen"])]
    ]


def _buckets(m: dict) -> list[int]:
    """The buckets that hold live rows in manifest `m`."""
    return sorted({b for e in m["files"].values() for b in e["buckets"]})


def _project_gen(raw: DataFrame, gen_spec: list[dict], spec: list[dict]) -> DataFrame:
    """A stored generation's rows `raw` (read with `gen_spec`) in the logical
    schema `spec`, matched by column id: each column reads the generation's
    column of the same id, cast to its spec type (widening), or is a typed
    null where the generation has none (added later); `_lsn`, `_op` and a
    stored `bucket` are kept. Names alone cannot bind a rename that reuses a
    freed name: after `commit`->`sha`, `lang`->`commit`, old files' `commit`
    is the new `sha` and their `lang` the new `commit`."""
    name_of = {c["id"]: c["name"] for c in gen_spec}
    return raw.select(
        *[
            (F.col(name_of[c["id"]]) if c["id"] in name_of else F.lit(None))
            .cast(c["type"]).alias(c["name"])
            for c in spec
        ],
        *[c for c in ("_lsn", "_op", "bucket") if c in raw.columns],
    )


def _with_ids(m: dict, spec: list[dict]) -> list[dict]:
    """`spec`, the next generation of manifest `m`, with a stable column
    `id` on every entry. A column keeps the id of the current generation's
    column it descends from: the one whose `sources` its own `sources` end
    with (a rename prepends the new name, a widen keeps them), claimed by
    the longest lineage first, so a rename keeps its id ahead of an add
    that reuses the freed name; else the column of the same name; else the
    first of its `sources` that names one. Any other column is new and
    gets a fresh id. `schema_spec` drops the ids again, so the table's
    schema compares equal to the registry's spec."""
    old = m["gen_specs"][str(m["gen"])]
    by_sources = {tuple(c["sources"]): c["id"] for c in old}
    by_name = {c["name"]: c["id"] for c in old}
    fresh = 1 + max(c["id"] for g in m["gen_specs"].values() for c in g)
    ids: dict[int, int] = {}
    for i, c in sorted(enumerate(spec), key=lambda ic: -len(ic[1]["sources"])):
        s = c["sources"]
        candidates = [by_sources.get(tuple(s[k:])) for k in range(len(s))]
        candidates += [by_name.get(n) for n in (c["name"], *s)]
        ids[i] = next(
            (x for x in candidates if x is not None and x not in ids.values()), None
        )
        if ids[i] is None:
            ids[i], fresh = fresh, fresh + 1
    return [dict(c, id=ids[i]) for i, c in enumerate(spec)]


def delta_footer_stats(
    root: str, files: dict[str, Sequence[int] | None]
) -> dict[str, dict[int, tuple[int, int]]]:
    """{file: {bucket: (rows, max `_lsn`)}} of delta files, each read for
    the buckets `files` maps it to (every bucket it holds when None): its
    `bucket` and `_lsn` columns, read with pyarrow — zero Spark jobs. Used
    for just-staged files (whose buckets and per-bucket ledger counts this
    gives) and, by `max_stored_lsn`, for a snapshot's live deltas.

    A Spark read job over files the same call just wrote would be a fixed
    per-run cost capping WAL-tail throughput; a shared delta file holds
    many buckets, so one footer's min/max cannot tell them apart, but its
    two int columns are a small read.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: dict[str, dict[int, tuple[int, int]]] = {}
    for rel, buckets in files.items():
        t = pq.read_table(os.path.join(root, rel), columns=["bucket", "_lsn"])
        if buckets is not None:
            t = t.filter(pc.is_in(t["bucket"], pa.array(buckets, t["bucket"].type)))
        stats = {}
        for r in t.group_by("bucket").aggregate(
            [("_lsn", "count", pc.CountOptions(mode="all")), ("_lsn", "max")]
        ).to_pylist():
            # A bucket with rows but no max LSN means `_lsn` was all-NULL —
            # a contract violation (`_lsn` is non-null by construction).
            # Raising beats silently dropping the bucket, which would
            # undercount applied_events in the ledger record.
            if r["_lsn_max"] is None:
                raise ValueError(
                    f"delta file {rel} bucket {r['bucket']}: {r['_lsn_count']} "
                    "rows but no resolvable max(_lsn) — _lsn must be non-null"
                )
            stats[r["bucket"]] = (r["_lsn_count"], r["_lsn_max"])
        out[rel] = dict(sorted(stats.items()))
    return out


def _footer_max_lsn(path: str) -> int | None:
    """Max `_lsn` of a data file from its parquet footer (None when it has
    no row), falling back to a pyarrow column read where a row group has no
    statistics. Raises where rows have no max: `_lsn` is non-null."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    if not md.num_rows:
        return None
    idx = md.schema.names.index("_lsn")
    stats = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
    if all(st is not None and st.has_min_max for st in stats):
        return max(int(st.max) for st in stats)
    mx = pc.max(pf.read(columns=["_lsn"]).column("_lsn")).as_py()
    if mx is None:
        raise ValueError(f"{path}: {md.num_rows} rows but no max(_lsn) — _lsn must be non-null")
    return int(mx)


def _stored_schema(spec: list[dict]) -> T.StructType:
    """The physical schema of a data file written under logical `spec`."""
    return T.StructType(
        [T.StructField(c["name"], _parse_type(c["type"])) for c in spec]
        + [
            T.StructField("_lsn", T.LongType()),
            T.StructField("_op", T.StringType()),
        ]
    )


def _parse_type(type_str: str) -> T.DataType:
    """The Spark type of a spec's `type` name, in any case: the atomic types
    and `decimal(p,s)`. Nested types (arrays, maps, structs) raise. The one
    table of type names: the registry canonicalizes through it."""
    type_str = type_str.lower()
    if m := re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", type_str):
        return T.DecimalType(int(m[1]), int(m[2]))
    mapping = {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "integer": T.IntegerType(),
        "bigint": T.LongType(),
        "long": T.LongType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "smallint": T.ShortType(),
        "short": T.ShortType(),
        "tinyint": T.ByteType(),
        "byte": T.ByteType(),
        "binary": T.BinaryType(),
        "boolean": T.BooleanType(),
        "timestamp": T.TimestampType(),
        "date": T.DateType(),
    }
    if type_str in mapping:
        return mapping[type_str]
    raise ValueError(f"unsupported type in schema spec: {type_str}")

"""SnapshotTable — keyed MERGE upserts into an atomically-versioned lake table.

This is the engine's sink. On a production cluster the same interface maps
1:1 onto Iceberg (`MERGE INTO target USING batch ON t.repo=s.repo AND
t.path=s.path WHEN MATCHED ... WHEN NOT MATCHED ...` + Iceberg snapshot
commits and native column-ID schema evolution); in the sandbox (no Iceberg
runtime jar) we implement the identical semantics on plain parquet with a
manifest + atomic pointer — the same design Iceberg itself uses:

- data files are immutable parquet, hash-bucketed by key:
  ``bucket = pmod(xxhash64(repo, path), n_buckets)``;
- a *manifest* (JSON) maps bucket -> data files and records the logical
  schema, including rename lineage (``sources``: newest-first physical
  column names — the parquet-fallback analog of Iceberg column IDs);
- ``_latest`` is a pointer file updated via ``os.replace`` (atomic on POSIX):
  readers always see a complete snapshot, never a partial commit;
- MERGE and compaction are one copy-on-write **bucket rewrite**
  (`_rewrite`, Iceberg's `rewrite_data_files` over the file groups a MERGE
  touches): only the buckets a batch touches are rewritten; untouched
  buckets carry their existing files into the new manifest verbatim. With
  10^10 rows in 4096 buckets and an incremental batch touching 5% of
  buckets, 95% of the table is neither read nor written.

This module alone owns how a row is stored, as Iceberg's table format
alone defines its data files: the projection to a logical schema
(`_project`), the event -> stored-row encoding (`_stored_rows`: `_lsn`
bigint, `_op`, `bucket`), the bucket-file layout (`_write`, behind
`_rewrite` and the apply core's `stage_deltas`) and the spec type names
(`_parse_type`, which the schema registry canonicalizes through).

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
from collections.abc import Callable, Sequence
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
            if "keys" in m:
                self.keys = list(m["keys"])
            if "n_buckets" in m:
                self.n_buckets = int(m["n_buckets"])
            # Older manifests predate bucket_cols: their hash covered keys.
            self.bucket_cols = list(m.get("bucket_cols", self.keys))

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
        m = {"buckets": {}}  # version 0: the empty table
        if version:
            with open(self._manifest_path(version)) as f:
                m = json.load(f)
        m.setdefault("schema", _default_schema())
        m.setdefault("gen", 0)
        m.setdefault("gen_specs", {"0": m["schema"]})
        m.setdefault("file_gens", {})
        m.setdefault("delta_files", [])
        return m

    def _commit(self, version: int, manifest: dict) -> None:
        """Atomic snapshot commit with optimistic concurrency.

        A commit claims `version` by creating its manifest with O_EXCL —
        exactly one of two racing writers wins (same optimistic protocol as
        an Iceberg catalog swap); the loser gets ConcurrentCommitError and
        must re-read + retry on top of the winner's snapshot. The pointer
        swap afterwards is the atomic publish (os.replace).
        """
        if version != self.current_version() + 1:
            raise ConcurrentCommitError(
                f"stale snapshot: committing v{version} but table is at "
                f"v{self.current_version()}"
            )
        manifest["version"] = version
        manifest["keys"] = list(self.keys)
        manifest["n_buckets"] = self.n_buckets
        manifest["bucket_cols"] = list(self.bucket_cols)
        manifest["has_deltas"] = bool(manifest["delta_files"])
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
        return self._read_manifest(self.current_version())["schema"]

    def columns(self) -> list[str]:
        return [c["name"] for c in self.schema_spec()]

    def max_stored_lsn(self) -> int:
        """Highest _lsn in the current snapshot (0 for an empty table).

        Read from the parquet footers of the manifest's files: no Spark job.
        The maximum over every stored version (superseded rows and
        tombstones included) equals the maximum over the LWW winners, since
        each key's winner is its highest-LSN version.
        """
        m = self._read_manifest(self.current_version())
        stats = delta_footer_stats(
            self.root, {int(b): fs for b, fs in m["buckets"].items()}
        )
        return max((s["max_applied_lsn"] for s in stats), default=0)

    # ---------------- reads ----------------

    def _bucket_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.bucket_cols]),
            F.lit(self.n_buckets),
        ).cast("int")

    def _scan(
        self,
        spark: SparkSession,
        m: dict,
        buckets: Sequence[int] | None = None,
        spec: list[dict] | None = None,
    ) -> DataFrame:
        """Every stored row version in manifest `m`'s files of `buckets` (all
        when None), projected to `spec` (default: `m`'s schema), with
        `bucket`. No LWW resolution: `read_internal` and `_rewrite` add it."""
        spec = spec or m["schema"]
        files_by_bucket = m["buckets"]
        if buckets is not None:
            wanted = {str(b) for b in buckets}
            files_by_bucket = {b: fs for b, fs in files_by_bucket.items() if b in wanted}
        files = [f for fs in files_by_bucket.values() for f in fs]
        if not files:
            schema = _stored_schema(spec).add("bucket", T.IntegerType())
            return spark.createDataFrame([], schema)
        # Files are grouped by schema GENERATION (bumped on every
        # evolve_schema — the parquet-fallback analog of Iceberg's per-file
        # schema id), and the scan is planned from the manifest alone, as
        # Iceberg plans one: each generation is read with the schema its
        # `gen_specs` entry declares (no schema-inference job) from the
        # manifest's file list (no file-listing job), then projected to the
        # target logical schema (rename lineage via `sources` coalesce,
        # widen via cast); generations then union. This is what makes
        # add/rename/widen metadata-only: old files are never rewritten,
        # just re-projected — and type-widened generations can coexist.
        # Writer invariant: every file is written through `_stored_rows`, so
        # it carries exactly its generation's declared schema — logical
        # columns at their spec types, `_lsn` bigint, `_op` string. A file
        # that does not fails the scan with a type mismatch.
        file_gens = m["file_gens"]
        by_gen: dict[int, list[str]] = {}
        for f in files:
            by_gen.setdefault(int(file_gens.get(f, 0)), []).append(f)
        frames = []
        # Spark lists more than `parallelPartitionDiscovery.threshold` (32)
        # explicit paths with a distributed job; the manifest already names
        # every file, so the driver only stats them. Scoped to the scan, so
        # reads of user paths list as before.
        with _scoped_conf(
            spark, "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        ):
            for g, fs in sorted(by_gen.items()):
                raw = spark.read.schema(
                    _stored_schema(m["gen_specs"][str(g)])
                ).parquet(*[os.path.join(self.root, f) for f in fs])
                frames.append(_project(raw, spec))
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        # `bucket` is directory-encoded at write time (partitionBy) and a pure
        # function of the keys, so recompute it instead of relying on
        # partition discovery over explicit file paths.
        return out.withColumn("bucket", self._bucket_expr())

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
        Rename lineage resolves via coalesce over the column's historical
        physical names (newest first) — the parquet stand-in for column IDs.

        `version` time-travels to an older snapshot (manifests are retained;
        valid until `vacuum()` expires that snapshot's files, exactly
        Iceberg's snapshot-expiry contract). `spec` projects it to another
        logical schema than its own (default: the version's schema).
        """
        m = self._read_manifest(
            self.current_version() if version is None else version
        )
        out = self._scan(spark, m, buckets, spec)
        if m.get("has_deltas"):
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
        spec = self.schema_spec()
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
        logical = self.columns()
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
        spec = manifest["schema"]
        names = [c["name"] for c in spec]
        if missing := [k for k in self.keys if k not in names]:
            raise ValueError(
                f"key columns {missing} are not in the table schema {names}; "
                "declare them with evolve_schema"
            )
        rows = self._stored_rows(batch, spec)
        if any(manifest["buckets"].values()):
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
            touched = sorted(int(b) for b, fs in manifest["buckets"].items() if fs)
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

        Scans the buckets' stored files, unions in the `incoming` stored
        rows (`_stored_rows` of the manifest's schema), keeps one row per
        key — the highest `_lsn`, stored rows winning ties (the strict
        `s.lsn > t._lsn` rule) — drops tombstones below `expire_below`, and
        writes one file per bucket. The returned manifest swaps those
        buckets' files in `buckets`, `file_gens` and `delta_files`, and
        keeps only the `gen_specs` its files still reference.
        """
        parts = []
        if any(manifest["buckets"].get(str(b)) for b in buckets):
            parts.append(self._scan(spark, manifest, buckets).withColumn("_in", F.lit(0)))
        if incoming is not None:
            parts.append(incoming.withColumn("_in", F.lit(1)))
        rows = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

        def resolve(rows: DataFrame) -> DataFrame:
            # The write's one exchange, hashed on `bucket`, meets the
            # window's (bucket, *keys) clustering: `bucket` is a function of
            # the keys, so this is the per-key window.
            out = lww_latest_window(
                rows, keys=["bucket", *self.keys], order_col="_lsn", tie_col="_in"
            )
            if expire_below is not None:
                out = out.filter(
                    (F.col("_op") != "d") | (F.col("_lsn") >= F.lit(expire_below))
                )
            return out.drop("_in")

        version = manifest.get("version", 0) + 1
        with _no_aqe(spark):
            written = self._write(
                spark, rows, ["bucket"], len(buckets),
                f"v{version:08d}-{uuid.uuid4().hex[:8]}", resolve,
            )

        rewritten = {str(b) for b in buckets}
        old = {f for b in rewritten for f in manifest["buckets"].get(b, [])}
        new_buckets = {
            b: fs for b, fs in manifest["buckets"].items() if b not in rewritten
        } | {str(b): fs for b, fs in written.items()}
        gen = int(manifest["gen"])
        file_gens = {
            f: g for f, g in manifest["file_gens"].items() if f not in old
        } | {f: gen for fs in written.values() for f in fs}
        live_gens = {str(gen)} | {
            str(file_gens.get(f, 0)) for fs in new_buckets.values() for f in fs
        }
        return {
            **manifest,
            "buckets": new_buckets,
            "file_gens": file_gens,
            "delta_files": [f for f in manifest["delta_files"] if f not in old],
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

    def _write(
        self, spark: SparkSession, rows: DataFrame, by: list[str], groups: int,
        name: str, then: Callable[[DataFrame], DataFrame],
    ) -> dict:
        """The one writer of the bucket-file layout, behind `_rewrite` and
        `stage_deltas`. Repartitions `rows` by the `by` columns on
        `write_tasks(groups)` tasks, so each output group lands wholly in one
        task and is written as ONE file on every core; applies `then` to the
        repartitioned rows; writes them to `data/<name>` partitioned by `by`.
        Returns the files: {value: ...} nested one level per `by` column,
        each leaf the sorted paths relative to the table root."""
        rel = os.path.join("data", name)
        path = os.path.join(self.root, rel)
        by_group = rows.repartition(write_tasks(spark, groups), *[F.col(c) for c in by])
        then(by_group).write.partitionBy(*by).mode("overwrite").parquet(path)
        return _list_files(path, rel, by)

    def stage_deltas(
        self, spark: SparkSession, events: DataFrame, epochs: list[int],
        observation: Observation, *metrics: Column,
    ) -> dict[int, dict[int, list[str]]]:
        """Write a run of epochs' change events (`_stored_rows` input plus
        `epoch`) as delta files of the current schema, one file per (epoch,
        bucket), and compute `metrics` over the stored rows into
        `observation` as they are written (no Spark job of its own).
        Nothing is committed: returns {epoch: {bucket: files}} (`{}` for an
        epoch without a row) for `register_deltas`."""
        rows = self._stored_rows(events, self.schema_spec(), "epoch")
        files = self._write(
            spark, rows, ["epoch", "bucket"], len(epochs) * self.n_buckets,
            f"delta_{epochs[0]:08d}_{epochs[-1]:08d}_{uuid.uuid4().hex[:8]}",
            lambda rows: rows.observe(observation, *metrics),
        )
        return {e: files.get(e, {}) for e in epochs}

    def register_deltas(self, files_by_bucket: dict[int, list[str]]) -> dict:
        """Fast-append commit (merge-on-read): register already-written delta
        files as part of their buckets — a METADATA-ONLY snapshot commit, no
        Spark job, no read of stored data.

        This is Iceberg's fast-append / Hudi's MOR ingest path: the apply
        core stages one epoch-and-bucket-partitioned file set per run
        (`stage_deltas`), then commits each epoch as a manifest append
        (milliseconds, driver-side), so per-epoch commit cost is O(1) in
        table size. Readers resolve key versions by stored LSN
        (read_internal); `_rewrite` (`compact`, or a `merge` touching the
        bucket) folds deltas back to one row per key.

        `files_by_bucket`: {bucket: [paths relative to table root]}, one
        epoch of `stage_deltas`' result.
        """
        version = self.current_version()
        m = self._read_manifest(version)
        added = {str(b): list(fs) for b, fs in files_by_bucket.items() if fs}
        files = [f for fs in added.values() for f in fs]
        m.update(
            buckets=m["buckets"]
            | {b: m["buckets"].get(b, []) + fs for b, fs in added.items()},
            file_gens=m["file_gens"] | dict.fromkeys(files, int(m["gen"])),
            delta_files=m["delta_files"] + files,
        )
        self._commit(version + 1, m)
        return {
            "version": version + 1,
            "applied_buckets": len(files_by_bucket),
            "files_registered": len(files),
        }

    def delta_file_count(self) -> int:
        """Number of UNCOMPACTED delta files (the MOR compaction trigger);
        0 after compact()."""
        m = self._read_manifest(self.current_version())
        return len(m["delta_files"])

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
        if manifest["schema"] == new_spec:
            # Idempotent: crash-resume may re-drive the same spec (the
            # registry persisted but the table commit didn't land); a no-op
            # re-apply must not churn versions or generations.
            return version
        for c in new_spec:
            _parse_type(c["type"])  # fail here, not on every later scan
        manifest["schema"] = new_spec
        gen = int(manifest["gen"]) + 1
        manifest["gen"] = gen
        manifest["gen_specs"] = {**manifest["gen_specs"], str(gen): new_spec}
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
        buckets = sorted(int(b) for b, fs in manifest["buckets"].items() if fs)
        if buckets:
            manifest = self._rewrite(
                spark, manifest, buckets, expire_below=expire_tombstones_below_lsn
            )
        self._commit(version + 1, manifest)
        return {"version": version + 1, "buckets": len(manifest["buckets"])}

    def vacuum(self) -> int:
        """Delete data files unreferenced by the current manifest."""
        live = {
            os.path.join(self.root, f)
            for fs in self._read_manifest(self.current_version())["buckets"].values()
            for f in fs
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
    """Project `df` to the logical schema `spec` — the one projection, for
    event batches, `merge` batches and stored generations alike: each column
    coalesces the names of its `sources` (rename lineage, newest first) that
    `df` has, cast to its spec type (widening), or is a typed null when `df`
    has none; columns outside every entry's lineage (`lsn`, `op`, `_lsn`,
    ...) are kept after them."""
    present = set(df.columns)
    lineage = {s for c in spec for s in c["sources"]}
    cols = []
    for c in spec:
        sources = [F.col(s) for s in c["sources"] if s in present] or [F.lit(None)]
        value = F.coalesce(*sources) if len(sources) > 1 else sources[0]
        cols.append(value.cast(c["type"]).alias(c["name"]))
    return df.select(*cols, *[F.col(c) for c in df.columns if c not in lineage])


def _list_files(path: str, rel: str, by: Sequence[str]) -> dict:
    """{value: ...} of the parquet dataset at `path` (= <table.root>/<rel>)
    partitioned by `by`, nested one level per column; each leaf holds the
    sorted parquet paths relative to the table root."""
    col, *rest = by
    out: dict = {}
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(f"{col}="):
            continue
        sub, sub_rel = os.path.join(path, entry), os.path.join(rel, entry)
        out[int(entry.split("=", 1)[1])] = (
            _list_files(sub, sub_rel, rest) if rest else [
                os.path.join(sub_rel, fn)
                for fn in sorted(os.listdir(sub))
                if fn.endswith(".parquet")
            ]
        )
    return out


def delta_footer_stats(
    root: str, files_by_bucket: dict[int, list[str]], lsn_col: str = "_lsn"
) -> list[dict]:
    """Per-bucket (applied_events, max `lsn_col`) of data files, read from
    the PARQUET FOOTERS — zero Spark jobs. Used for just-staged delta files
    and, by `max_stored_lsn`, for a whole snapshot.

    A read job over files the same call just wrote would be a fixed
    per-run cost capping WAL-tail throughput; row counts and int64 min/max
    statistics are already in each footer (one metadata read per file).
    Falls back to a pyarrow single-column read (still no Spark job) for any
    row group whose writer skipped statistics.
    """
    import pyarrow.parquet as pq

    out: list[dict] = []
    for bucket, rels in sorted(files_by_bucket.items()):
        n = 0
        mx: int | None = None
        for rel in rels:
            pf = pq.ParquetFile(os.path.join(root, rel))
            md = pf.metadata
            n += md.num_rows
            idx = md.schema.names.index(lsn_col)
            need_fallback = False
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    need_fallback = True
                    break
                mx = int(st.max) if mx is None else max(mx, int(st.max))
            if need_fallback:
                col = pf.read(columns=[lsn_col]).column(lsn_col)
                if len(col):
                    import pyarrow.compute as pc

                    fmx = pc.max(col).as_py()
                    if fmx is not None:
                        mx = fmx if mx is None else max(mx, int(fmx))
        if n:
            # A bucket with rows but no resolvable max LSN means lsn_col was
            # all-NULL — a contract violation (_lsn is non-null by
            # construction). Raising beats silently dropping the bucket,
            # which would undercount applied_events in the metrics/ledger
            # row.
            if mx is None:
                raise ValueError(
                    f"delta bucket {bucket}: {n} rows but no resolvable "
                    f"max({lsn_col}) — {lsn_col} must be non-null"
                )
            out.append(
                {"bucket": bucket, "applied_events": n, "max_applied_lsn": mx}
            )
    return out


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

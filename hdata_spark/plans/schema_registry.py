"""Schema registry: versioned target-schema state.

The reference's schema system is name-only and dynamic — a reader declares
field NAMES into OutputFieldsDeclarer (hdata-api/.../api/OutputFieldsDeclarer.java:3-13)
lazily on the first record (hdata-core/.../core/RecordWorkHandler.java:25-34), and the
JDBC writer can remap names (hdata-jdbc/.../writer/jdbc/JDBCWriter.java:55-58,78-89).
There is no type system and no evolution. We upgrade this to a versioned,
typed registry (FIXTURES.md §3): each schema_change event (column add /
rename / type-widen) produces a new registry version effective from its LSN.

The registry is plain data — materializable as a DataFrame (north-star:
"schema-registry DataFrame") and persisted as JSON next to the ledger so a
resumed replay reconstructs the exact schema state at its checkpoint. The
sink projects rows to its spec (`sinks.snapshot._project`), and its type
names are the sink's (`sinks.snapshot._parse_type`): a type the sink cannot
store is refused before it is persisted.

Widen lattice (SURVEY §7.5.4): int -> bigint -> double, float -> double;
anything -> string. Any other transition raises loudly.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from hdata_spark.sinks.snapshot import _default_schema, _parse_type

_WIDEN_OK = {
    ("int", "bigint"),
    ("int", "double"),
    ("bigint", "double"),
    ("float", "double"),
    ("int", "string"),
    ("bigint", "string"),
    ("float", "string"),
    ("double", "string"),
}


def _canon(t: str) -> str:
    """The canonical name of a spec type; raises for one the sink cannot
    store."""
    return _parse_type(t).simpleString()


def spec_evolves(old_spec: list[dict], new_spec: list[dict]) -> bool:
    """True iff `new_spec` is reachable from `old_spec` through the legal
    evolution moves (add / rename / widen) — i.e. every old column is still
    present in the new spec (by current name, or as an older physical name
    in some entry's `sources` after a rename) with an identical or legally
    widened type.

    Used to make the registry-vs-table drift catch-up DIRECTION-SAFE: a
    registry BEHIND the table (fresh/lost state file paired with an evolved
    table) must never regress the manifest — evolve_schema itself accepts
    any spec, so callers gate on this predicate and fail loudly instead.
    """
    for old_col in old_spec:
        # Exact current-name match first; only fall back to a sources scan
        # (rename lineage) when no entry carries the name today. Scanning
        # both in one pass could bind an old column to the WRONG entry when
        # one entry's sources mention a name another entry now carries as
        # its current name (swap/reuse renames) — type-checking the wrong
        # entry gives a false accept/reject.
        entry = next(
            (c for c in new_spec if c["name"] == old_col["name"]), None
        ) or next(
            (
                c
                for c in new_spec
                if old_col["name"] in c.get("sources", [])
            ),
            None,
        )
        if entry is None:
            return False
        ot, nt = _canon(old_col["type"]), _canon(entry["type"])
        if ot != nt and (ot, nt) not in _WIDEN_OK:
            return False
    return True


class SchemaRegistry:
    """Versioned logical schema; entries mirror SnapshotTable's manifest spec."""

    def __init__(self, spec: list[dict] | None = None, state_path: str | None = None):
        self.state_path = state_path
        self.versions: list[dict] = []
        if state_path and os.path.exists(state_path):
            with open(state_path) as f:
                saved = json.load(f)
            self.versions = saved["versions"]
        else:
            # since_lsn=None for the seed version: no event produced it, so
            # it must never collide with a real event LSN in has_lsn (a
            # schema_change carrying lsn=0 would otherwise be silently
            # swallowed as "already applied").
            self.versions = [
                {"schema_version": 0, "since_lsn": None, "spec": spec or _default_schema()}
            ]
            self._persist()

    # ---------------- state ----------------

    @property
    def spec(self) -> list[dict]:
        return self.versions[-1]["spec"]

    def columns(self) -> list[str]:
        return [c["name"] for c in self.spec]

    def _persist(self) -> None:
        if not self.state_path:
            return
        os.makedirs(os.path.dirname(self.state_path), exist_ok=True)
        tmp = self.state_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"versions": self.versions}, f)
        os.replace(tmp, self.state_path)

    # ---------------- evolution ----------------

    def has_lsn(self, lsn: int) -> bool:
        """True if a schema change at this LSN was already applied.

        Only real event LSNs count — the seed version's since_lsn is None.
        """
        return any(
            v["since_lsn"] is not None and v["since_lsn"] == lsn
            for v in self.versions
        )

    def apply_change(self, kind: str, column: str, arg: str, at_lsn: int) -> list[dict]:
        """Apply one schema_change event; returns the new spec.

        IDEMPOTENT per LSN: re-applying a change that already produced a
        version (same since_lsn) is a no-op. This is load-bearing for crash
        recovery — a crash after the registry persisted but before the
        epoch's ledger commit makes resume re-process the epoch, and the
        replayed schema_change event must not raise (LSNs are globally
        unique, so since_lsn identifies the event exactly).
        """
        if self.has_lsn(at_lsn):
            return self.spec
        spec = [dict(c, sources=list(c["sources"])) for c in self.spec]
        names = {c["name"] for c in spec}
        if kind == "add":
            if column in names:
                raise ValueError(f"add: column {column!r} already exists")
            spec.append({"name": column, "type": _canon(arg), "sources": [column]})
        elif kind == "rename":
            if column not in names:
                raise ValueError(f"rename: unknown column {column!r}")
            if arg in names:
                raise ValueError(f"rename: target {arg!r} already exists")
            for c in spec:
                if c["name"] == column:
                    c["name"] = arg
                    # keep old physical names readable (column-ID stand-in)
                    c["sources"] = [arg] + c["sources"]
        elif kind == "widen":
            for c in spec:
                if c["name"] == column:
                    old, new = _canon(c["type"]), _canon(arg)
                    if old != new and (old, new) not in _WIDEN_OK:
                        raise ValueError(f"widen {column!r}: {old} -> {new} not allowed")
                    c["type"] = new
                    break
            else:
                raise ValueError(f"widen: unknown column {column!r}")
        else:
            raise ValueError(f"unknown schema_change kind: {kind!r}")
        self.versions.append(
            {
                "schema_version": self.versions[-1]["schema_version"] + 1,
                "since_lsn": at_lsn,
                "spec": spec,
            }
        )
        self._persist()
        return spec

    # ---------------- DataFrame view (FIXTURES.md §3) ----------------

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (
                v["schema_version"],
                v["since_lsn"],
                c["name"],
                c["type"],
                (c["sources"][1] if len(c["sources"]) > 1 else None),
            )
            for v in self.versions
            for c in v["spec"]
        ]
        return spark.createDataFrame(
            rows, "schema_version int, since_lsn long, column string, type string, renamed_from string"
        )

"""Seeded benchmark inputs and the oracle expectations they are checked against.

Every input comes from ``hdata_spark.fixtures`` (the seeded generator) and every
expectation from its single-threaded oracle (``oracle_final_state`` /
``sha256_fingerprint``), never from the engine under test.  Inputs and every
expectation derived from them are made together, in a process of their own,
and cached under ``perfbench/.cache/<workload>-s<seed>-<key>/``; ``<key>``
hashes the input parameters and the generator/oracle source, so a change to
either starts a new cache entry instead of reusing a stale one.  A benchmark
run only reads the cache, so its memory and time do not depend on whether the
entry existed.

Regenerate the cache entry of one seed:

    python3 perfbench/inputs.py --workload serve --seed 1
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import random
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from hdata_spark import fixtures  # noqa: E402
from hdata_spark.fixtures import (  # noqa: E402
    CDCFixtureConfig,
    generate_base,
    generate_events,
    oracle_final_state,
    sha256_fingerprint,
)

CACHE = os.path.join(HERE, ".cache")

# One key universe for both workloads: 198 repos x 50 paths plus two hot
# monorepos carrying 25x the paths (12,400 keys).  The base table holds every
# key.
UNIVERSE = dict(n_repos=200, paths_per_repo=50, hot_repos=2, hot_factor=25)
N_KEYS = 198 * 50 + 2 * 50 * 25
PARAMS = {
    # 4 epochs of 8k events, hot-repo skew, no schema changes; the reader
    # runs after the last epoch.
    "backfill": dict(events=32_000, epoch_events=8_000, schema_changes=(), read_after=3),
    # 2 WAL segments of 2k events: segment 0 carries the add and the rename,
    # segment 1 the widen (epoch, kind, column, arg); the reader runs after
    # segment 0.
    "serve": dict(
        events=2 * 2_000,
        epoch_events=2_000,
        schema_changes=(
            (0, "add", "stars", "int"),
            (0, "rename", "stars", "stargazers"),
            (1, "widen", "stargazers", "bigint"),
        ),
        read_after=0,
    ),
}
EVENT_SCHEMA_COLS = [
    "lsn", "epoch", "op", "repo", "path", "commit", "lang", "content",
    "sc_kind", "sc_column", "sc_arg",
]


def _config(workload: str, seed: int) -> CDCFixtureConfig:
    p = PARAMS[workload]
    return CDCFixtureConfig(
        seed=seed,
        n_events=p["events"],
        epoch_size=p["epoch_events"],
        base_rows=N_KEYS,
        content_tokens=40,
        **UNIVERSE,
    )


def _cache_key(workload: str) -> str:
    src = inspect.getsource(fixtures) + inspect.getsource(sys.modules[__name__])
    blob = json.dumps([workload, PARAMS[workload], UNIVERSE, N_KEYS]) + src
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def _cache_dir(workload: str, seed: int) -> str:
    return os.path.join(CACHE, f"{workload}-s{seed}-{_cache_key(workload)}")


def _overlay_schema_changes(
    events: pd.DataFrame, changes: tuple, epoch_events: int, seed: int
) -> pd.DataFrame:
    """Turn seeded events of the named epochs into schema_changes, in the
    order given within each epoch (the fixture's own overlay scatters them
    over the whole log; a WAL tail needs them in its first segments)."""
    rng = random.Random(seed * 31 + 7)
    for epoch in sorted({c[0] for c in changes}):
        mine = [c[1:] for c in changes if c[0] == epoch]
        slots = sorted(rng.sample(range(epoch_events), len(mine)))
        for slot, (kind, column, arg) in zip(slots, mine):
            i = epoch * epoch_events + slot
            events.loc[i, ["op", "repo", "path", "commit", "lang", "content"]] = [
                "schema_change", None, None, None, None, None,
            ]
            events.loc[i, ["sc_kind", "sc_column", "sc_arg"]] = [kind, column, arg]
    return events


def write_events(events: pd.DataFrame, path: str) -> None:
    """Write an event frame with an explicit Arrow schema (all-null columns
    would otherwise be typed from their values and break schema merging)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("lsn", pa.int64()), ("epoch", pa.int64())]
        + [(c, pa.string()) for c in EVENT_SCHEMA_COLS[2:]]
    )
    tmp = path + ".tmp"
    pq.write_table(
        pa.Table.from_pandas(events[EVENT_SCHEMA_COLS], schema=schema, preserve_index=False),
        tmp,
        compression="none",
    )
    os.replace(tmp, path)


def winners(events: pd.DataFrame) -> int:
    """Rows LWW must stage for one epoch: its distinct keys among data events."""
    data = events[events["op"] != "schema_change"]
    return int(len(data.drop_duplicates(["repo", "path"])))


def lang_counts(state: pd.DataFrame) -> dict[str, int]:
    return {str(k): int(v) for k, v in state["lang"].value_counts().items()}


def repo_rows(state: pd.DataFrame, repo: str) -> list[list[str]]:
    rows = state.loc[state["repo"] == repo, ["path", "commit"]]
    return sorted([str(p), str(c)] for p, c in rows.itertuples(index=False))


def change_digest(changes) -> str:
    """Order-insensitive digest of (change_type, repo, path, commit,
    sha256(content)); payload is blank for deletes."""
    h = hashlib.sha256()
    for row in sorted(changes):
        h.update("|".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_changes(
    before: pd.DataFrame, after: pd.DataFrame, events: pd.DataFrame
) -> list[tuple[str, str, str, str, str]]:
    """Per-key insert/update/delete diff between two oracle states, for the
    keys the events between them touched (an untouched key cannot change)."""
    touched = events.loc[events["op"] != "schema_change", ["repo", "path"]]
    touched = set(map(tuple, touched.drop_duplicates().itertuples(index=False)))
    old = {
        (r.repo, r.path) for r in before.itertuples(index=False)
        if (r.repo, r.path) in touched
    }
    new = {
        (r.repo, r.path): r for r in after.itertuples(index=False)
        if (r.repo, r.path) in touched
    }
    out = []
    for key in touched:
        if key in new:
            r = new[key]
            kind = "update" if key in old else "insert"
            out.append((kind, r.repo, r.path, r.commit, sha(r.content)))
        elif key in old:
            out.append(("delete", key[0], key[1], "", ""))
    return out


def sha(content: str | None) -> str:
    return hashlib.sha256((content or "").encode()).hexdigest()


def generate(workload: str, seed: int) -> str:
    """Make one seed's inputs and every expectation a run checks against;
    returns the cache directory."""
    d = _cache_dir(workload, seed)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "segments"))
    p, cfg = PARAMS[workload], _config(workload, seed)
    base = generate_base(cfg)
    events = _overlay_schema_changes(
        generate_events(cfg), p["schema_changes"], p["epoch_events"], seed
    )
    base.to_parquet(os.path.join(d, "base.parquet"), index=False)
    write_events(events, os.path.join(d, "events.parquet"))
    epochs = [events[events["epoch"] == k] for k in range(cfg.n_epochs)]
    for k, seg in enumerate(epochs):
        write_events(seg, os.path.join(d, "segments", f"seg_{k:06d}.parquet"))

    # Oracle state after each epoch; the reader's expectations at read_after.
    state, read = base, None
    hot = sorted(r for r in base["repo"].unique() if r.endswith(("/repo0", "/repo1")))
    lookup = random.Random(seed * 41 + 3).choice(hot)
    for k, seg in enumerate(epochs):
        state = oracle_final_state(state, seg)
        if k == p["read_after"]:
            window = events[events["epoch"] <= k]
            changes = oracle_changes(base, state, window)
            read = {
                "lang_counts": lang_counts(state),
                "lookup_repo": lookup,
                "lookup_digest": change_digest(repo_rows(state, lookup)),
                "changes": len(changes),
                "change_digest": change_digest(changes),
            }
    expected = {
        "segment_events": [int(len(seg)) for seg in epochs],
        "staged": [winners(seg) for seg in epochs],
        "schema_changes": len(p["schema_changes"]),
        "read": read,
        "final": {"fingerprint": sha256_fingerprint(state), "rows": int(len(state))},
    }
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(expected, f)
    open(os.path.join(d, "_ok"), "w").close()
    return d


class Inputs:
    """One workload's cached inputs and expectations for one seed.  A missing
    cache entry is made by this file's command in a process of its own.
    Epoch ``k`` of the log is segment ``k`` of the WAL tail."""

    def __init__(self, workload: str, seed: int) -> None:
        self.dir = _cache_dir(workload, seed)
        if not os.path.exists(os.path.join(self.dir, "_ok")):
            subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--workload", workload, "--seed", str(seed)],
                check=True, stdout=subprocess.DEVNULL,
            )
        self.base_path = os.path.join(self.dir, "base.parquet")
        self.events_path = os.path.join(self.dir, "events.parquet")
        with open(os.path.join(self.dir, "expected.json")) as f:
            exp = json.load(f)
        self.segment_events: list[int] = exp["segment_events"]
        self.staged: list[int] = exp["staged"]
        self.schema_changes: int = exp["schema_changes"]
        self.read: dict = exp["read"]
        self.final: dict = exp["final"]
        self.n_epochs = len(self.segment_events)
        self.read_after: int = PARAMS[workload]["read_after"]

    def segment_path(self, k: int) -> str:
        return os.path.join(self.dir, "segments", f"seg_{k:06d}.parquet")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(PARAMS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    d = generate(args.workload, args.seed)
    print(f"regenerated {d}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""CDC engine benchmark: batch backfill and a WAL tail with a reader, both
checked against the single-threaded oracle.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

One Python process drives the engine through its public API on Spark
``local[nproc]`` with the default ``ReplayConfig``.  Set-up (session start and
the base-table load on the fresh JVM) is timed as ``setup_s``; the timed phase
then runs whole rounds until the next round would end after ``--seconds``
(at least one).

Every round starts from a fresh copy of the loaded base table, so every round
does the same work:

- ``backfill``: one ``replay()`` of a 4-epoch log (final compaction
  included), then one reader mix;
- ``serve``: two WAL segments, each landed and drained by ``stream_replay`` on
  the round's checkpoint; segment 0 adds and renames a column, segment 1
  widens it.  The reader mix runs after the first (still uncompacted) commit,
  and the second commit crosses the delta-file compaction trigger.

A reader mix is a change feed since the reader's last-seen version
(``changes_between``), a full-snapshot aggregate and a one-repo lookup.  Every
output is checked against ``perfbench/inputs.py``'s oracle expectations,
which are made before the run starts; the final tables are checked after the
timed phase and after ``peak_rss_mb`` is read.

Timings are wall-clock seconds with the hypervisor's share removed: each timed
call reads ``/proc/stat`` before and after and scales its wall time by
busy / (busy + steal) over that interval, so co-tenant load on a shared host
stretches the figures less.  The ``# raw`` line reports uncorrected values.

The last stdout line is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1`` (spans from ``perfbench/spans.py`` plus
Spark's event log, see ``perfbench/layers.py``).  A failed check prints the
result with ``correct: false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from urllib.parse import unquote, urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs as inputs_mod  # noqa: E402
import spans as spans_mod  # noqa: E402

WORK = os.path.join(HERE, ".work")
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def check(cond: bool, what: str, failures: list[str]) -> None:
    if not cond:
        failures.append(what)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """JVM heap sized to the host: a fifth of RAM, 1-3 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(3072, total_kb // 1024 // 5))


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks summed over every CPU of the host."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class Timer:
    """Times a block: ``wall`` seconds, and ``s`` = wall x busy / (busy +
    steal), the wall time with the hypervisor's steal share removed."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        self.ticks0 = cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        self.share = busy / (busy + steal) if busy + steal else 1.0
        self.s = self.wall * self.share


def tree_peak_rss_mb() -> float:
    """Sum of peak resident sets (VmHWM) over this process and its
    descendants (the JVM and any Python workers)."""
    def children(pid: int) -> list[int]:
        out = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out += [int(c) for c in f.read().split()]
            except OSError:
                pass
        return out

    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    int(line.split()[1]) for line in f if line.startswith("VmHWM")
                )
            todo += children(pid)
        except (OSError, StopIteration):
            pass
    return total_kb / 1e3


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM, which exits when its
    stdin closes, so that no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def local_path(uri: str) -> str:
    return unquote(urlparse(uri).path) if "://" in uri else uri.removeprefix("file:")


def dir_kb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e3


class Bench:
    """State of one run: session, work directories, timings and checks."""

    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.tracer = spans_mod.Tracer(bool(args.trace))
        self.work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "events", "tables"):
            os.makedirs(os.path.join(self.work, d))
        self.spark = None
        self.failures: list[str] = []
        self.writes: list[dict] = []   # one per replay()/stream_replay() call
        self.reads: dict[str, list[Timer]] = {"cdf": [], "snapshot": [], "lookup": []}
        self.commit_lat: list[tuple[float, float]] = []  # (corrected, wall)
        self.round_s: list[float] = []
        self.rounds: list[str] = []    # root of each round's table copy
        self.cdf_changes = 0
        self.ops = 0

    # ---------------- set-up ----------------

    def start_session(self) -> None:
        from hdata_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        conf = {
            "spark.driver.memory": f"{heap_mb()}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            conf.update(spans_mod.event_log_conf(os.path.join(self.work, "events")))
        self.spark = get_spark("perfbench", cpus=self.args.cpus or host_cpus(),
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def open_table(self, root: str):
        from hdata_spark.plans.schema_registry import SchemaRegistry
        from hdata_spark.sinks.snapshot import SnapshotTable
        from hdata_spark.streaming import CommitLedger, MetricsLog

        return (
            SnapshotTable(os.path.join(root, "table")),
            CommitLedger(os.path.join(root, "ledger")),
            MetricsLog(os.path.join(root, "metrics")),
            SchemaRegistry(state_path=os.path.join(root, "registry.json")),
        )

    def load_base(self, inp) -> str:
        root = os.path.join(self.work, "tables", "template")
        table, _, _, _ = self.open_table(root)
        table.overwrite(self.spark, self.spark.read.parquet(inp.base_path))
        return root

    # ---------------- writer and reader ----------------

    def write(self, name: str, call, n_events: int) -> Timer:
        with self.tracer.span(name, events=n_events), Timer() as t:
            call()
        self.ops += 1
        self.writes.append({"events": n_events, "timer": t})
        return t

    def read_mix(self, table, v_from: int, repo: str):
        """CDF since ``v_from``, snapshot aggregate, one-repo lookup; returns
        the new last-seen version and the three results."""
        from pyspark.sql import functions as F

        v_to = table.current_version()
        deltas = table.delta_file_count()
        with self.tracer.span("read.cdf"), Timer() as t_cdf:
            cdf = (
                table.changes_between(self.spark, v_from, v_to)
                .select("change_type", "repo", "path", "commit", "content")
                .toPandas()
            )
        with self.tracer.span("read.snapshot", deltas=deltas), Timer() as t_snap:
            agg = table.read(self.spark).groupBy("lang").count().collect()
        with self.tracer.span("read.lookup"), Timer() as t_look:
            rows = (
                table.read(self.spark).filter(F.col("repo") == repo)
                .select("path", "commit").collect()
            )
        self.reads["cdf"].append(t_cdf)
        self.reads["snapshot"].append(t_snap)
        self.reads["lookup"].append(t_look)
        self.cdf_changes += len(cdf)
        self.ops += 3
        return v_to, cdf, agg, rows

    # ---------------- checks ----------------

    def check_reads(self, exp: dict, cdf, agg, rows, where: str) -> None:
        changes = [
            ("delete", r.repo, r.path, "", "") if r.change_type == "delete"
            else (r.change_type, r.repo, r.path, r.commit, inputs_mod.sha(r.content))
            for r in cdf.itertuples(index=False)
        ]
        f = self.failures
        check(len(changes) == exp["changes"] and
              inputs_mod.change_digest(changes) == exp["change_digest"],
              f"{where}: change feed differs from the oracle diff "
              f"({len(changes)} rows, expected {exp['changes']})", f)
        got = {str(r["lang"]): int(r["count"]) for r in agg}
        check(got == exp["lang_counts"], f"{where}: snapshot aggregate {got} "
              f"!= oracle {exp['lang_counts']}", f)
        got_rows = sorted([str(r["path"]), str(r["commit"])] for r in rows)
        check(inputs_mod.change_digest(got_rows) == exp["lookup_digest"],
              f"{where}: lookup of {exp['lookup_repo']} differs from the oracle", f)

    def check_table(self, table, exp: dict, where: str) -> None:
        from hdata_spark.fixtures import sha256_fingerprint

        df = table.read(self.spark).select(
            "repo", "path", "commit", "lang", "content", "content_sha256"
        ).toPandas()
        f = self.failures
        check(not df.duplicated(["repo", "path"]).any(),
              f"{where}: more than one live row per (repo, path)", f)
        bad = sum(inputs_mod.sha(c) != s for c, s in zip(df["content"], df["content_sha256"]))
        check(bad == 0, f"{where}: {bad} rows with content_sha256 != sha256(content)", f)
        check(sha256_fingerprint(df) == exp["fingerprint"],
              f"{where}: final state ({len(df)} rows) differs from the oracle "
              f"({exp['rows']} rows)", f)

    def check_ledger(self, ledger, inp, epochs: list[int], where: str) -> list[dict]:
        """One record per epoch/batch, each with the epoch's LWW winner count."""
        f = self.failures
        committed = ledger.committed_epochs()
        check(committed == epochs, f"{where}: ledger holds {committed}, expected {epochs}", f)
        recs = [ledger.read(e) for e in committed]
        applied = [r["applied_events"] for r in recs]
        want = [inp.staged[e] for e in epochs]
        check(applied == want, f"{where}: ledger applied_events {applied} != "
              f"LWW winners {want}", f)
        return recs

    def ledger_mtime(self, ledger, epoch: int) -> float:
        return os.path.getmtime(os.path.join(ledger.root, f"epoch_{epoch:08d}.json"))

    def record_end_state(self, table, ledger, metrics, registry) -> None:
        v = table.current_version()
        manifest = os.path.join(table.root, "manifests", f"v{v:08d}.json")
        self.table_mb = sum(
            os.path.getsize(local_path(p)) for p in table.read(self.spark).inputFiles()
        ) / 1e6
        self.end_sizes = {
            "manifest_kb": os.path.getsize(manifest) / 1e3,
            "ledger_kb": dir_kb(ledger.root),
            "metrics_kb": dir_kb(metrics.root),
        }
        self.registry_versions = len(registry.versions) - 1

    # ---------------- workloads ----------------

    def new_round(self, template: str) -> tuple:
        """A fresh copy of the loaded base table, so that every round does
        the same work; returns its root and (table, ledger, metrics,
        registry)."""
        root = os.path.join(self.work, "tables", f"round{len(self.rounds)}")
        with self.tracer.span("bench.copy"):
            shutil.copytree(template, root)
        self.rounds.append(root)
        return root, self.open_table(root)

    def round_backfill(self, inp, template: str) -> None:
        from hdata_spark.streaming import replay

        i = len(self.rounds)
        _, (table, ledger, metrics, registry) = self.new_round(template)
        events = self.spark.read.parquet(inp.events_path)
        v0 = table.current_version()
        t0 = time.time()
        t = self.write("replay", lambda: replay(
            self.spark, events, table, ledger, metrics, registry), sum(inp.segment_events))
        with self.tracer.span("bench.check"):
            recs = self.check_ledger(ledger, inp, list(range(inp.n_epochs)), f"round {i}")
            for e in ledger.committed_epochs():
                lat = self.ledger_mtime(ledger, e) - t0
                self.commit_lat.append((lat * t.share, lat))
            applied = sum(r["applied_events"] for r in recs)
            compacted = table.delta_file_count() == 0
            self.writes[-1].update(applied=applied, folded=applied if compacted else 0)
        _, cdf, agg, rows = self.read_mix(table, v0, inp.read["lookup_repo"])
        with self.tracer.span("bench.check"):
            self.check_reads(inp.read, cdf, agg, rows, f"round {i}")

    def round_serve(self, inp, template: str) -> None:
        from hdata_spark.streaming import stream_replay

        i = len(self.rounds)
        root, (table, ledger, metrics, registry) = self.new_round(template)
        wal, ckpt = os.path.join(root, "wal"), os.path.join(root, "ckpt")
        os.makedirs(wal)
        v0, pending = table.current_version(), 0
        for k in range(inp.n_epochs):
            seg = inp.segment_path(k)
            with self.tracer.span("bench.land"):
                tmp = os.path.join(wal, f".landing-{k}")
                shutil.copyfile(seg, tmp)
                os.replace(tmp, os.path.join(wal, os.path.basename(seg)))
                t_land = time.time()
            t = self.write("stream.drain", lambda: stream_replay(
                self.spark, wal, table, ledger, metrics, registry, ckpt),
                inp.segment_events[k])
            with self.tracer.span("bench.check"):
                where = f"round {i} segment {k}"
                recs = self.check_ledger(ledger, inp, list(range(k + 1)), where)
                lat = self.ledger_mtime(ledger, k) - t_land
                self.commit_lat.append((lat * t.share, lat))
                pending += recs[-1]["applied_events"]
                compacted = table.delta_file_count() == 0
                self.writes[-1].update(applied=recs[-1]["applied_events"],
                                       folded=pending if compacted else 0)
                if compacted:
                    pending = 0
            if k == inp.read_after:
                _, cdf, agg, rows = self.read_mix(table, v0, inp.read["lookup_repo"])
                with self.tracer.span("bench.check"):
                    self.check_reads(inp.read, cdf, agg, rows, where)

    # ---------------- run ----------------

    def run(self) -> dict:
        inp = inputs_mod.Inputs(self.workload, self.args.seed)
        if self.args.trace:
            spans_mod.instrument(self.tracer)
        with Timer() as setup:
            with Timer() as session:
                self.start_session()
            with Timer() as base:
                template = self.load_base(inp)
        self.setup, self.session, self.base_load = setup, session, base
        one_round = self.round_backfill if self.workload == "backfill" else self.round_serve
        with self.tracer.span("bench.timed"):
            t_begin = time.perf_counter()
            while True:
                r0 = time.perf_counter()
                one_round(inp, template)
                self.round_s.append(time.perf_counter() - r0)
                # Stop once the next round (at the mean round time) would end
                # after --seconds.
                elapsed = time.perf_counter() - t_begin
                if elapsed + statistics.mean(self.round_s) > self.args.seconds:
                    break
        # Before the final checks, so that their reads do not count.
        self.peak_rss_mb = tree_peak_rss_mb()
        with self.tracer.span("bench.check"):
            for i, root in enumerate(self.rounds):
                table, ledger, metrics, registry = self.open_table(root)
                self.check_table(table, inp.final, f"round {i}")
                self.record_end_state(table, ledger, metrics, registry)
                check(self.registry_versions == inp.schema_changes,
                      f"round {i}: registry holds {self.registry_versions} schema "
                      f"changes, the log {inp.schema_changes}", self.failures)
                shutil.rmtree(root)
        self.spark.stop()
        self.tracer.restore()
        return self.result()

    def e2e(self, attr: str = "s") -> dict:
        """End-to-end metrics from corrected (``s``) or raw (``wall``) times."""
        reads = [getattr(t, attr) for ts in self.reads.values() for t in ts]
        lat = [c if attr == "s" else w for c, w in self.commit_lat]
        return {
            "setup_s": getattr(self.setup, attr),
            "peak_rss_mb": self.peak_rss_mb,
            "events_per_s": sum(w["events"] for w in self.writes)
            / sum(getattr(w["timer"], attr) for w in self.writes),
            "commit_p50_s": statistics.median(lat),
            "reads_per_s": len(reads) / sum(reads),
            "cdf_p50_s": statistics.median(getattr(t, attr) for t in self.reads["cdf"]),
            "table_mb": self.table_mb,
        }

    def result(self) -> dict:
        e2e = self.e2e()
        print("# raw " + json.dumps({"wall": self.e2e("wall"), "rounds": len(self.round_s),
                                     "busy_share_setup": self.setup.share}))
        if self.args.trace:
            import layers

            metrics, report = layers.per_layer(self, e2e, SPEC["per_layer"])
            print("# trace " + json.dumps(report, sort_keys=True))
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in SPEC["end_to_end"]}
        for f in self.failures:
            print(f"# check failed: {f}")
        return {
            "correct": not self.failures,
            "attempted": self.ops,
            "failed": 0,
            "metrics": metrics,
        }


def main() -> int:
    ap = argparse.ArgumentParser(description="CDC engine benchmark")
    ap.add_argument("--workload", choices=[w["name"] for w in SPEC["workloads"]],
                    required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0,
                    help="Spark local parallelism (default: every core of the host)")
    args = ap.parse_args()
    bench = Bench(args)
    try:
        out = bench.run()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
            stop_jvm()
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

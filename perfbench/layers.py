"""Per-layer metrics of a traced run, and a report that sets them beside an
untraced run of the same seed.

    python3 perfbench/layers.py --workload serve --seed 1

runs ``run.py`` twice (``--trace 0`` then ``--trace 1``, at
``BENCHMARK.json``'s ``run_seconds``) and prints every
per-layer metric with its sample count, self time per span, the part of the
timed phase that no span covers, and the tracing overhead (traced minus
untraced value of each end-to-end metric).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans  # noqa: E402

def _jobs(s: spans.Span, skip: frozenset = frozenset()) -> list:
    """Jobs of ``s``'s subtree, leaving out subtrees whose name is in skip."""
    out = list(s.jobs)
    for c in s.children:
        if c.name not in skip:
            out += _jobs(c, skip)
    return out


def _outside_jobs(s: spans.Span) -> float:
    """Time of ``s`` during which none of its subtree's Spark jobs ran."""
    busy = spans.union_len(
        (max(j.submit, s.start), min(j.end, s.end)) for j in _jobs(s) if j.end > j.submit
    )
    return s.dur - busy


def per_layer(bench, e2e: dict, spec: list[dict]) -> tuple[dict, dict]:
    """(metrics for the result line, in the order and units of ``spec`` -
    BENCHMARK.json's per_layer list - and a report with sample counts and
    spans).  A layer the workload does not run reads 0."""
    roots = bench.tracer.tree()
    jobs = spans.read_jobs(os.path.join(bench.work, "events"))
    loose = spans.assign_jobs(roots, jobs)
    timed = next(r for r in roots if r.name == "bench.timed")

    def named(name: str) -> list[spans.Span]:
        return [s for s in timed.walk() if s.name == name]

    vals: dict[str, tuple[float, int]] = {}

    def put(name: str, xs: list[float], how=spans.p50) -> None:
        vals[name] = (how(xs) if xs else 0.0, len(xs))

    vals["session.start_s"] = (bench.session.s, 1)
    vals["sink.overwrite_s"] = (bench.base_load.s, 1)

    rep = named("replay")
    put("replay.wall_s", [s.dur for s in rep])
    put("replay.jobs", [len(_jobs(s)) for s in rep])
    put("replay.task_cpu_s", [sum(j.cpu_s for j in _jobs(s)) for s in rep])
    put("replay.gc_s", [sum(j.gc_s for j in _jobs(s)) for s in rep])
    put("replay.shuffle_mb", [sum(j.shuffle_write_b for j in _jobs(s)) / 1e6 for s in rep])
    put("replay.spill_mb", [sum(j.spill_b for j in _jobs(s)) / 1e6 for s in rep])
    put("replay.self_s", [_outside_jobs(s) for s in rep])
    if bench.workload == "backfill":
        put("replay.winner_ratio", [w["applied"] / w["events"] for w in bench.writes])
    else:
        put("replay.winner_ratio", [])

    no_compact = frozenset({"sink.compact"})
    drains = named("stream.drain")
    applies = named("stream.apply")
    put("stream.drain_p50_s", [d.dur - d.child_dur("sink.compact") for d in drains])
    put("stream.apply_p50_s", [a.dur - a.child_dur("sink.compact") for a in applies])
    put("stream.apply_jobs", [len(_jobs(a, no_compact)) for a in applies])
    overhead, overhead_jobs, profile = [], [], []
    for d in drains:
        inner = [s for s in d.walk() if s.name == "stream.apply"]
        mine = _jobs(d, frozenset({"stream.apply"}))
        overhead.append(d.dur - sum(a.dur for a in inner))
        overhead_jobs.append(len(mine))
        profile.append(sum(j.input_rows for j in mine) / d.attrs["events"])
    put("stream.overhead_p50_s", overhead)
    put("stream.overhead_jobs", overhead_jobs)
    put("stream.profile_rows_per_event", profile)

    comps = named("sink.compact")
    vals["sink.compactions"] = (float(len(comps)), len(bench.writes))
    put("sink.compact_s", [c.dur for c in comps])
    put("sink.compact_written_mb", [sum(j.output_b for j in _jobs(c)) / 1e6 for c in comps])
    folded = sum(w.get("folded", 0) for w in bench.writes)
    rewritten = sum(j.output_rows for c in comps for j in _jobs(c))
    vals["sink.compact_amplification"] = (rewritten / folded if folded else 0.0, len(comps))
    put("sink.register_deltas_p50_s", [s.dur for s in named("sink.register_deltas")])
    put("sink.footer_stats_p50_s", [s.dur for s in named("sink.footer_stats")])
    vals["sink.manifest_kb"] = (bench.end_sizes["manifest_kb"], 1)

    snaps, cdfs = named("read.snapshot"), named("read.cdf")
    put("sink.read_p50_s", [s.dur for s in snaps])
    put("sink.lookup_p50_s", [s.dur for s in named("read.lookup")])
    put("sink.read_input_mb", [sum(j.input_b for j in _jobs(s)) / 1e6 for s in snaps])
    put("sink.read_shuffle_mb", [sum(j.shuffle_write_b for j in _jobs(s)) / 1e6 for s in snaps])
    put("sink.delta_files_at_read", [s.attrs["deltas"] for s in snaps], statistics.mean)
    put("sink.cdf_input_mb", [sum(j.input_b for j in _jobs(s)) / 1e6 for s in cdfs])
    cdf_rows = sum(j.input_rows for s in cdfs for j in _jobs(s))
    vals["sink.cdf_rows_per_change"] = (
        cdf_rows / bench.cdf_changes if bench.cdf_changes else 0.0, len(cdfs)
    )

    put("ledger.commit_s", [s.dur for s in named("ledger.commit")])
    vals["ledger.kb"] = (bench.end_sizes["ledger_kb"], 1)
    put("metrics.append_s", [s.dur for s in named("metrics.append")])
    vals["metrics.kb"] = (bench.end_sizes["metrics_kb"], 1)
    vals["registry.changes"] = (float(bench.registry_versions), 1)
    put("registry.apply_s", [s.dur for s in named("registry.apply_change")], sum)

    metrics = {m["name"]: {"value": float(vals[m["name"]][0]), "unit": m["unit"]} for m in spec}
    report = {
        "samples": {m["name"]: vals[m["name"]][1] for m in spec},
        "spans": spans.span_table(roots),
        "timed_s": timed.dur,
        "uncovered_s": spans.self_time(timed),
        "jobs": len(jobs),
        "jobs_outside_spans": len(loose),
        "e2e_traced": e2e,
    }
    return metrics, report


def _run(args, trace: int) -> tuple[dict, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=600).stdout.splitlines()
    report = next((json.loads(line[len("# trace "):]) for line in out
                   if line.startswith("# trace ")), None)
    return json.loads(out[-1]), report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    plain, _ = _run(args, 0)
    traced, report = _run(args, 1)
    if report is None:
        print("traced run printed no report", file=sys.stderr)
        return 1
    print(f"workload {args.workload}, seed {args.seed}: "
          f"correct {plain['correct']}/{traced['correct']}")
    print(f"\n{'per-layer metric':34} {'value':>12} {'unit':6} samples")
    for k, m in traced["metrics"].items():
        print(f"{k:34} {m['value']:12.4f} {m['unit']:6} {report['samples'][k]}")
    print(f"\n{'span':26} {'calls':>5} {'total_s':>9} {'self_s':>9} {'jobs':>5} {'task_cpu_s':>10}")
    for r in report["spans"]:
        print(f"{r['span']:26} {r['calls']:5d} {r['total_s']:9.3f} {r['self_s']:9.3f} "
              f"{r['jobs']:5d} {r['task_cpu_s']:10.3f}")
    print(f"\ntimed phase {report['timed_s']:.3f} s, not covered by any span "
          f"{report['uncovered_s']:.3f} s; {report['jobs']} Spark jobs, "
          f"{report['jobs_outside_spans']} outside every span")
    print(f"\n{'end-to-end':14} {'untraced':>12} {'traced':>12} {'overhead':>9}")
    for k, m in plain["metrics"].items():
        t = report["e2e_traced"][k]
        print(f"{k:14} {m['value']:12.4f} {t:12.4f} {(t - m['value']) / m['value']:+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

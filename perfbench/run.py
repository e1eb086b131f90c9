"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

One run drives one workload through the engine's public functions and prints,
as its last stdout line, ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics untraced (``--trace 0``), the per-layer metrics traced
(``--trace 1``).  The line before it stamps the run's provenance.  ``--all``
runs every workload untraced and traced, prints each end-to-end metric by
name and unit plus the tracing overhead, and exits non-zero on any oracle
mismatch.  Workloads and metrics are defined in BENCHMARK.json; see
WORKLOADS.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import harness
from fold_maintain import FOLDS

WORKLOADS = ("cdc_live", "fold_query")
SPEC = os.path.join(harness.ROOT, "BENCHMARK.json")


def _spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def layer_metrics(calls: list[dict]) -> dict:
    """Per-layer metrics from the traced calls: per span name, the median of
    a counter over the measured window's calls (sums for the operators)."""
    by_name: dict[str, list] = {}
    for c in calls:
        if c.get("steady"):
            by_name.setdefault(c["name"], []).append(c)
    out = {}

    def med(name, field):
        vals = [c[field] for c in by_name.get(name, []) if field in c]
        return harness.median(vals) if vals else 0.0

    for f in ("wall_s", "jobs", "tasks", "job_s", "driver_gap_s", "executor_cpu_s",
              "input_b", "shuffle_b", "output_b"):
        out[f"materializer.merge_batch.{f}"] = med("materializer.merge_batch", f)
    merges = by_name.get("materializer.merge_batch", [])
    out["materializer.merge_batch.write_amp"] = (
        harness.median([c.get("output_b", 0) / c["wire_b"] for c in merges]) if merges else 0.0
    )
    out["materializer.read_state.count_s"] = med("materializer.read_state.count", "wall_s")
    out["materializer.gc_tombstones.wall_s"] = med("materializer.gc_tombstones", "wall_s")
    out["materializer.gc_tombstones.output_b"] = med("materializer.gc_tombstones", "output_b")
    out["cdc.parse_latest_s"] = med("cdc.parse_latest", "wall_s")
    for name in ("materializer.point_lookup", "secondary_index.lookup_by_index"):
        n = len(by_name.get(name, []))
        ok = [c for c in by_name.get(name, []) if not c.get("error")]
        out[f"{name}.ms"] = harness.median([c["wall_s"] * 1e3 for c in ok]) if ok else 0.0
        out[f"{name}.fail_pct"] = 100.0 * (n - len(ok)) / n if n else 0.0
        out[f"{name}.jobs"] = harness.median([c["jobs"] for c in ok]) if ok else 0.0
    out["jobs.create_s"] = med("jobs.create", "wall_s")
    for fold in FOLDS:
        out[f"{fold}.merge.wall_s"] = med(f"{fold}.merge", "wall_s")
        out[f"{fold}.merge.jobs"] = med(f"{fold}.merge", "jobs")
        out[f"{fold}.read_s"] = med(f"{fold}.read", "wall_s")
    out["join_mv.dim_s"] = med("join_mv.dim", "wall_s")
    out["agg_mv.compact_s"] = med("agg_mv.compact", "wall_s")
    out["theta_stats.compact_s"] = med("theta_stats.compact", "wall_s")
    queries = [c for n, cs in by_name.items() if n.startswith("query.") for c in cs]
    for f in ("jobs", "tasks", "executor_cpu_s", "jvm_gc_s", "shuffle_b", "spill_b", "input_b"):
        out[f"operators.{f}"] = sum(c.get(f, 0) for c in queries)
    return out


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    os.environ.update(harness.launch_env())
    sys.path.insert(0, harness.ROOT)
    try:
        import mysql_cdc_debezium_starrocks_spark  # noqa: F401
    except ImportError as ex:
        print(f"the engine package is missing from {harness.ROOT}: {ex}", file=sys.stderr)
        return 2
    import importlib

    harness.log(f"{workload} seed={seed} seconds={seconds} trace={trace}")
    mod = importlib.import_module(workload)
    work = harness.make_work(workload)
    ledger = harness.Ledger()
    groups = {}
    try:
        res = mod.run(seed, seconds, trace, work, ledger)
        spans = res.get("spans", [])
        if trace:
            groups = harness.read_event_logs(os.path.join(work, "eventlog"))
            calls = harness.call_counters(spans, groups)
            trace_dir = os.path.join(harness.WORK_ROOT, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{workload}-seed{seed}.json"), "w") as f:
                json.dump({"calls": calls, "ledger": ledger.failed}, f)
    finally:
        harness.stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    harness.log("session stopped")
    spec = _spec()
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if trace:
        layers = layer_metrics(calls) | res["layers"]
        if "post_trace" in res:
            layers |= res["post_trace"](groups)
        layers["ops.failed_pct"] = 100.0 * ledger.n_failed() / max(1, ledger.n_attempted())
        for k, v in res["e2e"].items():
            layers[f"trace.{k}"] = v
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            name: {"value": float(res["e2e"][name]), "unit": unit}
            for name, unit in e2e_units.items()
        }
    prov = harness.provenance(workload, seed, trace, res.get("scale", {}))
    prov["failures"] = ledger.failed
    print(json.dumps({"provenance": prov}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": ledger.n_attempted(),
        "failed": ledger.n_failed(),
        "metrics": metrics,
    }))
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced; one table, overhead included."""
    spec = _spec()
    bad = False
    for w in WORKLOADS:
        res = {}
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                capture_output=True, text=True,
            )
            if p.returncode != 0:
                print(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                bad = True
                break
            res[trace] = json.loads(p.stdout.strip().splitlines()[-1])
            bad |= not res[trace]["correct"]
        if len(res) < 2:
            continue
        print(f"== {w}: correct={res[0]['correct'] and res[1]['correct']} "
              f"attempted={res[0]['attempted']} failed={res[0]['failed']}")
        for m in spec["end_to_end"]:
            v = res[0]["metrics"][m["name"]]["value"]
            traced = res[1]["metrics"].get(f"trace.{m['name']}", {}).get("value")
            over = "" if traced is None else f"  traced {traced:.4f} (overhead {traced - v:+.4f})"
            print(f"  {m['name']:<20} {v:12.4f} {m['unit']}{over}")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args(argv)
    seconds = a.seconds if a.seconds is not None else _spec()["run_seconds"]
    if a.all:
        return run_all(a.seed, seconds)
    if a.workload is None:
        ap.error("--workload or --all is required")
    return run_one(a.workload, a.seed, seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())

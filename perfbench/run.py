"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds nothing; it imports the
``flink_cdc_multi_spark`` package from the checkout it sits in and drives it
only through public entry points. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, measured in a separate traced
run. See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

import common
import stats

RUN_LIMIT_S = 175.0  # the whole run, set-up and checks included
# the metric a traced run compares with the untraced runs of its workload
HEADLINE = {
    "ingest_live": ("latency_p50_s", "lower"),
    "ingest_backfill": ("throughput_per_s", "higher"),
    "query_surface": ("latency_p50_s", "lower"),
}


def declared_metrics() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        "workloads": [w["name"] for w in bench["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


def watchdog(limit_s: float) -> None:
    """End the run, and everything it started, if it overruns."""

    def fire():
        sys.stderr.write(f"perfbench: run exceeded {limit_s:.0f} s, stopping\n")
        sys.stderr.flush()
        common.reap_children(timeout=3.0)
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


def tree_key(seconds: float) -> str:
    """Content hash of everything a run executes (the package, the oracle
    checker, the benchmark) and the run length: runs with the same key
    measure the same thing."""
    h = hashlib.sha256(repr(float(seconds)).encode())
    tops = [common.PACKAGE, "perfbench", os.path.join("tools", "check_oracle.py"),
            "BENCHMARK.json"]
    for top in tops:
        path = os.path.join(common.ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            if "__pycache__" not in d for f in fs)
        for f in files:
            h.update(os.path.relpath(f, common.ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:24]


def history_path(workload: str, seconds: float) -> str:
    return os.path.join(common.WORK, "history", f"{workload}-{tree_key(seconds)}.jsonl")


def untraced_runs(workload: str, seconds: float) -> list[dict]:
    """End-to-end metrics of the passing untraced runs of this workload,
    tree and run length recorded in this checkout."""
    try:
        with open(history_path(workload, seconds)) as f:
            return [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []


def record_history(workload: str, seconds: float, e2e: dict) -> None:
    path = history_path(workload, seconds)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(e2e) + "\n")


def ensure_baseline(args) -> list[dict]:
    """A traced run needs untraced runs of the same tree to compare with;
    when the checkout has none, run one first (same seed, same length).
    Returns the failure to count when that run does not pass."""
    if untraced_runs(args.workload, args.seconds):
        return []
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=common.ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    if untraced_runs(args.workload, args.seconds):
        return []
    return [{"op": "untraced baseline run", "type": "BaselineFailed",
             "detail": f"exit {proc.returncode}: {proc.stderr[-2000:]}"}]


def tracing_overhead(workload: str, seconds: float, e2e: dict) -> float:
    """Traced headline against the median of the untraced runs (0 when
    there are none: the failed baseline run has then failed this run)."""
    name, better = HEADLINE[workload]
    past = [r[name] for r in untraced_runs(workload, seconds)]
    if not past:
        return 0.0
    base = stats.median(past)
    return (e2e[name] / base - 1.0) if better == "lower" else (base / e2e[name] - 1.0)


def write_trace(args, out) -> None:
    """Spans and layer metrics of a traced run, kept in the checkout's
    scratch space for later reading."""
    path = os.path.join(common.WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"layers": out.layers, "spans": out.report.get("spans", [])}, f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        env = common.pin_environment()
        declared = declared_metrics()
    except (common.TreeMissing, OSError, ValueError, KeyError) as e:
        sys.stderr.write(f"perfbench: cannot run here: {e}\n")
        return 2
    if args.workload not in declared["workloads"]:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}\n")
        return 2

    watchdog(RUN_LIMIT_S)
    baseline_failures = ensure_baseline(args) if args.trace else []
    work = common.fresh_dir(os.path.join(common.WORK, f"run-{os.getpid()}"))
    sampler = common.RssSampler()
    sampler.start()
    t_run = time.perf_counter()
    try:
        if args.workload.startswith("ingest_"):
            import ingest

            out = ingest.run_workload(args.workload, args.seed, args.seconds,
                                      bool(args.trace), work)
        else:
            import querysurface

            out = querysurface.run_workload(args.workload, args.seed, args.seconds,
                                            bool(args.trace), work)
    except Exception:  # noqa: BLE001 - no result line on a crashed run
        traceback.print_exc()
        return 1
    finally:
        common.shutdown_jvm()
        common.reap_children()
    out.layers["session.peak_rss_mb"] = sampler.stop()
    shutil.rmtree(work, ignore_errors=True)

    out.attempted += len(baseline_failures)
    out.failed += len(baseline_failures)
    out.failures.extend(baseline_failures)
    if args.trace:
        out.layers["trace.overhead_frac"] = tracing_overhead(args.workload, args.seconds,
                                                              out.e2e)
        write_trace(args, out)
        names = declared["per_layer"]
        # a layer this workload does not run reports 0
        metrics = {n: {"value": float(out.layers.get(n, 0.0)), "unit": u}
                   for n, u in names.items()}
        unknown = sorted(set(out.layers) - set(names))
        if unknown:
            sys.stderr.write(f"perfbench: undeclared layer metrics {unknown}\n")
    else:
        if out.failed == 0:
            record_history(args.workload, args.seconds, out.e2e)
        names = declared["end_to_end"]
        metrics = {n: {"value": float(out.e2e[n]), "unit": u} for n, u in names.items()}

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": time.perf_counter() - t_run, "env": env,
        "end_to_end": out.e2e, "failures": out.failures[:20],
        **{k: v for k, v in out.report.items() if k in ("setup", "freshness", "drain_s",
                                                        "batches", "reads", "queries")},
    }
    print("perfbench report: " + json.dumps(report, default=str))
    for f in out.failures[:20]:
        sys.stderr.write(f"perfbench failure: {f['op']}: {f['type']}\n{f['detail']}\n")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())

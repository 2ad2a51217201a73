"""Dedup benchmark entry point.

    python3 perfbench/run.py --workload web_full --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one process each

Generates (or reuses) the seeded inputs, sets the program up, runs one
warm pass (or increment chain) and more until `--seconds` have passed,
checks every output against the planted truth, and
prints one info line with every metric and its unit followed by the
result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json,
`--trace 1` its per-layer metrics (traced pass + layer drive). The
exit code is non-zero when any output fails the gate.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("web_full", "short_full", "increment_chain")
# reported on the info line only: both read 0 on a correct run, and the
# result line's `correct` / `failed` fields carry them
INFO_METRICS = {"false_merges": "count", "failed_frac": "ratio"}


def _metrics(values: dict, spec: list[dict]) -> dict:
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed window; default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"] if args.seconds is None else args.seconds

    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(seconds),
                   "--trace", str(args.trace)] + (["--tiny"] if args.tiny else [])
            rc = max(rc, subprocess.run(cmd, cwd=ROOT).returncode)
        return rc

    sys.path.insert(0, ROOT)
    from perfbench import gate, harness

    harness.prepare_env()
    import deduplication_spark  # noqa: F401 - fail fast without the package

    from perfbench import workloads

    r, ctx = workloads.run(
        args.workload, args.seed, seconds, bool(args.trace), args.tiny, T_START
    )
    t = r.tally
    values = {**r.e2e, "false_merges": t.false_merges, "failed_frac": t.failed_frac}
    shown = bench["end_to_end"] + [
        {"name": n, "unit": u} for n, u in INFO_METRICS.items()
    ]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "metrics": _metrics(values, shown),
        "samples": t.attempted,
        "setup_ok": r.setup_ok,
        "errors": t.errors,
        **r.info,
    }
    if args.trace:
        report = os.path.join(harness.WORK, "reports", f"{ctx.key}-trace.json")
        os.makedirs(os.path.dirname(report), exist_ok=True)
        with open(report, "w") as f:
            json.dump(ctx.trace_report, f, indent=1)
        info["trace_report"] = os.path.relpath(report, ROOT)
        info["missing_layers"] = ctx.trace_report["missing_layers"]
    print(json.dumps(info), flush=True)

    correct = t.correct and r.setup_ok and info.get("traced_false_merges", 0) == 0 \
        and info.get("traced_recall", 1.0) >= gate.RECALL_GATE
    spec = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = _metrics(r.per_layer if args.trace else values, spec)
    print(json.dumps({
        "correct": correct,
        "attempted": t.attempted,
        "failed": t.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

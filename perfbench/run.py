"""Benchmark entry point.

  python3 perfbench/run.py --workload {query,serve} \
      --seed N --seconds S --trace {0,1}

The workload names are those of BENCHMARK.json; each maps to the
module ``workload_<name>.py`` beside this file.

Generates the workload's inputs from the seed, drives one public entry
point of the program, checks its outputs, and prints a ``record`` line
(host, seed, warm-up, checks) followed by the result as the last line
of standard output: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics. Exits non-zero without a result
when the program is not present beside the benchmark.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import sys

from common import ROOT, BenchError, RunRecord, metric, prepare_environment


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    try:
        spec = load_spec()
    except (OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    try:
        run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        run_dir = prepare_environment(run_id)
    except (BenchError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    rec = RunRecord(args.workload, args.seed, trace, run_dir)
    module = importlib.import_module(f"workload_{args.workload}")
    try:
        res = module.run(args.seed, args.seconds, trace, run_dir, rec)
    finally:
        # inputs and indexes are per-run; records and spans stay
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["layer"] if trace else res["e2e"]
    metrics, not_exercised = {}, []
    for m in wanted:
        if m["name"] in got:
            value, unit = got[m["name"]]
            if unit != m["unit"]:
                raise BenchError(f"{m['name']}: unit {unit} != {m['unit']}")
        else:
            # a layer this workload never calls: zero work, by definition
            value, unit = 0.0, m["unit"]
            not_exercised.append(m["name"])
        metrics[m["name"]] = metric(value, unit)
    extra = sorted(set(got) - {m["name"] for m in wanted})
    if extra:
        raise BenchError(f"metrics missing from BENCHMARK.json: {extra}")

    if trace:
        tracer = res["tracer"]
        spans_path = rec.path.with_name(rec.path.name.replace("record-", "spans-"))
        tracer.dump(spans_path.with_suffix(".jsonl"))
        rec["self_times"] = tracer.totals()
        rec["not_exercised"] = not_exercised
    rec.emit()
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prepares the inputs on first use (in a
separate process, cached under .perfbench/ by scale and source hash),
runs the workload, checks its results, and prints notes followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. --trace 0
reports the end-to-end metrics of BENCHMARK.json; --trace 1 wraps the
layers, reports the per-layer metrics, writes the spans to
.perfbench/spans/ and prints the tracing overhead against the untraced
run of the same workload and seed, when one was recorded. Exits 1 when
any result mismatches, 2 when the checkout has no ivory_spark package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def clean_work_dirs(work: str) -> None:
    """Drop scratch left by runs whose process is gone."""
    if not os.path.isdir(work):
        return
    for name in os.listdir(work):
        pid = name.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)


def main() -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=sorted(common.SCALES), default="full")
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not common.checkout_ok():
        print(f"perfbench: no ivory_spark package under {common.ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    common.pin_environment()
    from perfbench import workloads
    from perfbench.trace import NullTracer, Tracer

    prep = common.ensure_prepared(args.scale)
    work = os.path.join(common.STATE, "work")
    clean_work_dirs(work)
    run_dir = os.path.join(work, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    ctx = workloads.Context(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        scale=args.scale, prep=prep, run_dir=run_dir,
        tracer=Tracer() if args.trace else NullTracer(),
    )
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if set(res.e2e) != set(e2e_units):
        raise RuntimeError(f"end-to-end metrics {sorted(res.e2e)} != {sorted(e2e_units)}")
    tag = f"{args.workload}-s{args.seed}-{args.scale}"
    records = os.path.join(common.STATE, "runs")
    os.makedirs(records, exist_ok=True)
    if args.trace:
        layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = set(res.layers) - set(layer_units)
        if unknown:
            raise RuntimeError(f"per-layer metrics not in BENCHMARK.json: {sorted(unknown)}")
        layers = {name: float(res.layers.get(name, 0.0)) for name in layer_units}
        layers["trace.spans"] = float(len(ctx.tracer.spans))
        spans_dir = os.path.join(common.STATE, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{tag}.jsonl")
        ctx.tracer.dump(spans_path)
        res.notes.append(f"spans: {len(ctx.tracer.spans)} written to "
                         f"{os.path.relpath(spans_path, common.ROOT)}")
        untraced = os.path.join(records, f"{tag}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            res.notes += [
                f"overhead {k}: traced {v:.4g} vs untraced {base[k]:.4g} {e2e_units[k]} "
                f"({(v - base[k]) / base[k]:+.1%})"
                for k, v in res.e2e.items() if base.get(k)
            ]
        else:
            res.notes.append("overhead: no untraced run of this workload and seed recorded yet")
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": e2e_units[k]} for k, v in res.e2e.items()}

    with open(os.path.join(records, f"{tag}-t{args.trace}.json"), "w") as f:
        json.dump({"args": vars(args), "e2e": res.e2e, "layers": res.layers,
                   "attempted": res.attempted, "failed": res.failed,
                   "notes": res.notes, **res.record}, f, indent=1)
    for note in res.notes:
        print(note)
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

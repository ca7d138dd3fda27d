#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, runs it against the
engine's public entry points, checks every output and prints, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` they are
its per-layer metrics, and the spans are written beside the result.
The result is also written to ``perfbench/out/``.  Workloads, metrics
and the layer map are described in ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

WORKLOADS = ("reference_batch", "interactive_mix", "stream_open_loop")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _parse(argv) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _metrics(result: dict, spec: dict, trace: bool, tracer) -> dict:
    if not trace:
        return {
            m["name"]: {"value": result["e2e"][m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    layer = dict(result["layer"])
    wall = result.get("wall_s") or 1.0
    layer["trace.overhead_s"] = tracer.overhead_s
    layer["trace.overhead_share"] = tracer.overhead_s / wall
    # a layer the workload does not exercise reads 0
    return {
        m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec["per_layer"]
    }


def main(argv=None) -> int:
    args = _parse(argv)
    spec = _spec()
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    import engine

    engine.prepare_environment(work)
    # imported after the environment is set: they import pyspark
    import batch
    import stream
    from tracing import Tracer

    tracer = Tracer() if args.trace else None
    t0 = time.perf_counter()
    try:
        if args.workload == "stream_open_loop":
            result = stream.run(args.seed, args.seconds, work, tracer)
        else:
            result = batch.run(args.workload, args.seed, args.seconds, work, tracer)
        result["wall_s"] = time.perf_counter() - t0
    finally:
        engine.stop_engine()
        shutil.rmtree(work, ignore_errors=True)

    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": _metrics(result, spec, bool(args.trace), tracer),
    }
    for err in result["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(
            {**out, "passes": result["passes"], "errors": result["errors"], "e2e": result["e2e"]},
            fh,
            indent=1,
        )
    if tracer is not None:
        with open(stem + ".spans.json", "w") as fh:
            json.dump(tracer.spans, fh)
    for name, m in out["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except Exception:
        traceback.print_exc()
        sys.exit(1)

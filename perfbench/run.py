"""Run one workload against the engine and print its metrics.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 10 --trace 0

The load is a closed loop with one client: after set-up, the process
issues passes back to back, each pass the workload's full sequence of
public calls, each ended by an action. With ``--trace 0`` it reports the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` it switches on
Spark's event log, records a span for every call and reports the
per-layer metrics instead. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes goes under ``.perfbench/`` in the checkout:
inputs (cached per workload and seed), Spark's scratch space, the
event logs, the spans of traced runs and ``results.jsonl``, one record
per run with its pass walls and the host's load.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import host
import inputs
from harness import ROOT, WORK, environment, log, spec, untraced


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("geodistpy_spark/__init__.py", "fixtures/golden/inverse.parquet"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"{need} is missing: run from the root of a checkout of the engine")
            return 2
    environment()
    import geodistpy_spark
    if not os.path.abspath(geodistpy_spark.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"engine imported from {geodistpy_spark.__file__}, not this checkout")
    bench = spec()
    h0 = host.probe()
    log(f"host {h0}; driver memory {os.environ['SPARK_DRIVER_MEMORY']}")

    t = time.perf_counter()
    in_dir = inputs.build(args.workload, args.seed, os.path.join(WORK, "inputs"))
    gen_s = time.perf_counter() - t
    wl_cls = WORKLOADS[args.workload]

    if args.trace:
        from layers import traced_run
        r, metrics = traced_run(args, wl_cls, in_dir)
    else:
        r, metrics = untraced(args, wl_cls, in_dir, gen_s)
    h1 = host.probe()

    want = bench["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in want if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    for e in r.errors:
        log(f"FAILED {e}")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "gen_s": gen_s, "host_start": h0, "host_end": h1,
              "steal_ticks": h1["steal_ticks"] - h0["steal_ticks"],
              "pass_walls": [p["wall_s"] for p in r.passes],
              "call_walls": [p["calls"] for p in r.passes], "metrics": metrics,
              "attempted": r.attempted, "failed": r.failed, "errors": r.errors,
              "process_wall_s": host.process_start_s()}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    log(f"{len(r.passes)} passes {[round(w, 3) for w in record['pass_walls']]}; "
        f"load {h1['loadavg'][0]}; steal ticks {record['steal_ticks']}")
    out = {"correct": r.wrong == 0, "attempted": r.attempted, "failed": r.failed,
           "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in want}}
    print(json.dumps(out))
    shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

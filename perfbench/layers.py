"""The traced run: per-layer metrics.

Spark's event log is switched on through ``get_spark(extra=...)`` and
every public call runs under a span that is also its Spark job group.
The requested workload runs its passes as in an untraced run; then one
pass of each other workload (and the relational point-in-polygon join)
runs in the same session, so every per-layer metric has a value from
the call that defines it. Metrics of calls in the requested workload
come from its warm passes; ``spark.*`` metrics are medians per warm
pass of the requested workload, taken before the overhead loop. In that
loop the requested workload makes warm passes alternately traced and
untraced (event log listener detached): the difference of their medians
is the tracing overhead. The first pass of every runner is checked at
the end, outside every timed region.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import inputs
from harness import ROOT, WORK, Runner, start_spark, stop_spark
from tracing import EventLog, Tracer

KERNEL_PAIRS = 65_536


def kernel_rates(tracer: Tracer, seed: int) -> dict:
    """Pairs per second of the numpy kernels alone, on one thread."""
    from geodistpy_spark import kernels as K

    t = inputs.distance_pairs(np.random.default_rng([seed, 99]), KERNEL_PAIRS, 512, 512)
    a = [t.column(c).to_numpy() for c in ("lat1", "lon1", "lat2", "lon2")]
    out = {}
    for name, fn in (("vincenty", K.vincenty_inverse), ("karney", K.karney_inverse)):
        walls = []
        for _ in range(5):
            with tracer.span(f"kernels.{name}_inverse", "kernels") as s:
                fn(*a)
            walls.append(s["wall_s"])
        out[f"kernels.{name}_pairs_per_s"] = KERNEL_PAIRS / statistics.median(walls)
    return out


def cover_cells_per_query(tracer: Tracer, seed: int) -> float:
    import pyarrow.parquet as pq

    from geodistpy_spark import grid

    q = pq.read_table(os.path.join(inputs.build("spatial_join", seed, os.path.join(WORK, "inputs")),
                                   "queries.parquet"))
    with tracer.span("grid.cell_cover", "grid"):
        sizes = [len(grid.cell_cover(la, lo, inputs.RADIUS_M)[1])
                 for la, lo in zip(q.column("q_lat").to_pylist(), q.column("q_lon").to_pylist())]
    return float(np.mean(sizes))


def event_log(spark, on: bool) -> None:
    """Attach or detach Spark's event log listener; what it has received
    is written when the session stops. Detaching stops the listener's
    queue, so the bus is drained first: no event of a traced pass is
    lost."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger().get()
    if on:
        sc.addSparkListener(logger)
    else:
        sc.listenerBus().waitUntilEmpty()
        sc.removeSparkListener(logger)


class Combined:
    """Operation counts over every runner of the traced run."""

    def __init__(self, main: Runner):
        self.passes = main.passes
        self.attempted = self.failed = self.wrong = 0
        self.errors: list[str] = []

    def add(self, attempted, failed, wrong, errors):
        self.attempted += attempted
        self.failed += failed
        self.wrong += wrong
        self.errors += errors


def traced_run(args, wl_cls, in_dir: str):
    from workloads import WORKLOADS

    for other in WORKLOADS:   # generate every input before any timing
        inputs.build(other, args.seed, os.path.join(WORK, "inputs"))

    run_id = f"{args.workload}-s{args.seed}-{int(time.time() * 1000)}"
    ev_dir = os.path.join(WORK, "eventlog", run_id)
    t = time.perf_counter()
    spark = start_spark(ev_dir)
    get_spark_s = time.perf_counter() - t
    tracer = Tracer(spark, traced=True)
    m = {"session.get_spark_s": get_spark_s}
    runners = {}
    try:
        m.update(kernel_rates(tracer, args.seed))
        m["grid.cover_cells_per_query"] = cover_cells_per_query(tracer, args.seed)
        main = Runner(wl_cls(spark, ROOT, in_dir, WORK, tracer), tracer)
        main.run(args.seconds)
        runners[args.workload] = main
        for name, cls in WORKLOADS.items():
            if name not in runners:
                d = inputs.build(name, args.seed, os.path.join(WORK, "inputs"))
                runners[name] = Runner(cls(spark, ROOT, d, WORK, tracer), tracer)
                runners[name].one_pass()
        sj = runners["spatial_join"].wl
        with tracer.span("operators.point_in_polygon_join_relational", "operators",
                         call="point_in_polygon_join_relational", pass_index=0) as s:
            rel = sj.relational_pip()
            s["rows"] = rel.num_rows
        rel_errors = sj.check_relational(rel)
        # overhead: warm passes alternately traced and untraced (event log
        # detached, no job groups), in pairs, for half the run length
        t0 = time.perf_counter()
        while True:
            main.one_pass()["traced"] = True
            event_log(spark, False)
            tracer.traced = False
            main.one_pass()["traced"] = False
            event_log(spark, True)
            tracer.traced = True
            if time.perf_counter() - t0 >= args.seconds / 2:
                break
        for r in runners.values():
            r.check_first()
    finally:
        stop_spark(spark)

    total = Combined(main)
    for r in runners.values():
        total.add(r.attempted, r.failed, r.wrong, r.errors)
    total.add(1, bool(rel_errors), bool(rel_errors), rel_errors)

    ev = EventLog(ev_dir)
    spans = tracer.spans
    done = [s for s in spans if "end" in s]

    untraced = {p["index"] for p in main.passes if p.get("traced") is False}

    def calls(name):
        c = [s for s in done if s.get("call") == name and not (
            s.get("workload") == args.workload and s["pass_index"] in untraced)]
        warm = [s for s in c if s.get("workload") == args.workload and s["pass_index"] > 0]
        return warm or c

    def wall(name):
        return statistics.median(s["wall_s"] for s in calls(name))

    def per_call(name, key):
        c = calls(name)
        return ev.totals({str(s["id"]) for s in c})[key] / len(c)

    def rows(name):
        return statistics.median(s["rows"] for s in calls(name))

    for name in ("geodist", "greatcircle"):
        m[f"functions.{name}_s"] = wall(name)
    m["functions.udf_overhead_s"] = (per_call("geodist", "python_run_s")
                                     - inputs.SIZES["distance_batch"]["pairs"]
                                     / m["kernels.vincenty_pairs_per_s"])
    for name in ("verify_roundtrip", "extract_geo_spans"):
        m[f"sources.{name}_s"] = wall(name)
    for name in ("radius_join", "knn_join", "point_in_polygon_join",
                 "point_in_polygon_join_relational", "zonal_stats"):
        m[f"operators.{name}_s"] = wall(name)
    for name, short in (("radius_join", "radius"), ("knn_join", "knn")):
        cand = per_call(name, "cover_join_rows")
        m[f"operators.{short}_candidate_rows"] = cand
        m[f"operators.{short}_kept_ratio"] = rows(name) / cand if cand else 0.0

    ck = runners["checkpointed_radius"].wl
    m["plans.chunk_s"] = statistics.median(ck.extra["chunk_walls"])
    m["plans.resume_s"] = wall("resume")
    plan_calls = calls("interrupted_run") + calls("resume")
    n_passes = len(calls("resume"))
    plan_tot = ev.totals({str(s["id"]) for s in plan_calls})
    m["plans.spark_jobs_per_chunk"] = plan_tot["jobs"] / (n_passes * inputs.CHUNKS)
    m["plans.bytes_written_per_row"] = (plan_tot["output_bytes"]
                                        / max(1, n_passes * ck.extra["rows_written"]))

    m["textops.near_duplicates_minhash_s"] = wall("near_duplicates_minhash")
    m["textops.cosine_topk_s"] = wall("cosine_topk")
    lsh = runners["text_dedup"].wl.extra["lsh_candidate_rows"]
    m["textops.lsh_candidate_rows"] = lsh
    m["textops.verify_kept_ratio"] = rows("near_duplicates_minhash") / lsh if lsh else 0.0

    # spark.*: per warm pass of the requested workload, before the
    # overhead loop attached and detached the event log
    traced_warm = [p for p in main.passes[1:] if "traced" not in p]
    per_pass = []
    for p in traced_warm:
        ids = {str(s["id"]) for s in done if s["id"] == p["span"] or s["parent"] == p["span"]}
        tot = ev.totals(ids)
        tot["outside_jobs_s"] = ev.outside_jobs_s([spans[p["span"]]], ids)
        per_pass.append(tot)
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
                "input_bytes", "output_bytes", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "python_run_s", "python_init_s", "python_bytes_sent", "python_bytes_returned",
                "outside_jobs_s"):
        m[f"spark.{key}"] = statistics.median(t[key] for t in per_pass)
    m["spark.cached_relations_end"] = traced_warm[-1]["cached_relations_end"]
    base = statistics.median(p["wall_s"] for p in main.passes if p.get("traced") is False)
    m["trace.overhead_s"] = statistics.median(
        p["wall_s"] for p in main.passes if p.get("traced")) - base

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.write(os.path.join(WORK, "traces", run_id + ".json"),
                 {"metrics": m, "untraced_warm_pass_s": base,
                  "per_pass": [{k: v for k, v in t.items() if k != "job_intervals"}
                               for t in per_pass]})
    return total, m

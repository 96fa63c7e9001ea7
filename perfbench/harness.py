"""Set-up, the pass loop and the untraced run, shared by ``run.py``,
``layers.py`` and ``selftest.py``."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import host  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def environment() -> None:
    """Settings taken from the host, and scratch space inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(host.nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = host.driver_memory()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def start_spark(event_log: str | None = None):
    from geodistpy_spark import get_spark

    tmp = os.environ["TMPDIR"]
    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
             "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + event_log,
                      "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{host.nproc()}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the
    JVM and the Python workers it started have ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    host.wait_for_children(timeout=30)


def cached_relations(spark) -> int:
    return int(spark._jsparkSession.sharedState().cacheManager().cachedData().size())


class Runner:
    """Passes of one workload with a verdict for every call: later passes
    must reproduce the first pass's outputs, and ``check_first`` checks
    the first pass against independent computations once the measured
    passes are over, so the checks' own time and memory stay out of
    them."""

    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.passes: list[dict] = []
        self.attempted = self.failed = self.wrong = 0
        self.errors: list[str] = []
        self.first_digest: dict = {}
        self.first: tuple | None = None   # (names, outputs, raised) of the first pass

    def one_pass(self) -> dict:
        from workloads import digest

        i = len(self.passes)
        outputs, raised = {}, set()
        calls = self.wl.calls()
        with self.tracer.span(f"{self.wl.name}.pass{i}", "pass", workload=self.wl.name,
                              pass_index=i) as ps:
            for name, layer, fn in calls:
                with self.tracer.span(f"{layer}.{name}", layer, call=name,
                                      workload=self.wl.name, pass_index=i) as cs:
                    try:
                        outputs[name] = fn()
                        cs["rows"] = getattr(outputs[name], "num_rows", None)
                    except Exception:  # a failed call is counted, the pass goes on
                        raised.add(name)
                        self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        p = {"index": i, "wall_s": ps["wall_s"], "span": ps["id"],
             "calls": {s["call"]: s["wall_s"] for s in self.tracer.spans[ps["id"] + 1:]
                       if s.get("call") and s["parent"] == ps["id"]}}
        if self.tracer.traced:
            p["cached_relations_end"] = cached_relations(self.wl.spark)
        self.wl.after_pass()
        self.passes.append(p)
        self.outputs = outputs
        self.attempted += len(calls)
        names = [name for name, _, _ in calls]
        if i == 0:
            self.first = (names, outputs, raised)
            self.first_digest = {k: digest(v) for k, v in outputs.items()}
        else:
            self._count(names, raised, {
                k: [] if digest(v) == self.first_digest.get(k) else
                [f"{k}: output differs from the first pass"] for k, v in outputs.items()})
        return p

    def check_first(self) -> None:
        names, outputs, raised = self.first
        # the checks need every output of the pass
        verdict = {k: ["not checked: another call of the first pass raised"]
                   for k in outputs} if raised else self.wl.check(outputs)
        self._count(names, raised, verdict)

    def _count(self, names: list, raised: set, verdict: dict) -> None:
        for name in names:
            errs = verdict.get(name, [])
            if name in raised or errs:
                self.failed += 1
                self.errors += errs
                self.wrong += name not in raised

    def run(self, seconds: float) -> None:
        """The first pass, then whole warm passes until ``seconds`` have
        passed."""
        self.one_pass()
        t0 = time.perf_counter()
        while True:
            self.one_pass()
            if time.perf_counter() - t0 >= seconds:
                break

    def warm_walls(self) -> list[float]:
        return [p["wall_s"] for p in self.passes[1:]]


def untraced(args, wl_cls, in_dir: str, gen_s: float) -> tuple[Runner, dict]:
    """Set-up and passes under the memory sampler; the first pass is
    checked after the sampler has stopped."""
    from tracing import Tracer

    spark = None
    try:
        with host.RssSampler() as rss:
            spark = start_spark()
            setup_s = host.process_start_s() - gen_s
            tracer = Tracer()
            r = Runner(wl_cls(spark, ROOT, in_dir, WORK, tracer), tracer)
            r.run(args.seconds)
        r.check_first()
    finally:
        if spark is not None:
            stop_spark(spark)
    metrics = {
        "setup_s": setup_s,
        "first_pass_s": r.passes[0]["wall_s"],
        "steady_rows_per_s": r.wl.rows_per_pass / statistics.median(r.warm_walls()),
        "peak_rss_mb": rss.peak / 2**20,
    }
    return r, metrics

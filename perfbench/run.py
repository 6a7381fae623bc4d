"""sparkjesse benchmark: one workload per invocation.

    python3 perfbench/run.py --workload audit_dirty --seed 1 \
        --seconds 1 --trace 0

Run from the repository root. The run builds (or reuses) seeded fixtures
under ``.perfbench_work/``, starts one ``local[4]`` Spark session, sets
up, repeats the workload's pass until ``--seconds`` have elapsed (the
first pass runs cold, as a submitted job does), checks the outputs
against an independent reference and stops every process it started.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end set; with ``--trace 1`` the run also
records spans, Spark's event log and Catalyst phase times, and reports
the per-layer set instead (per timed pass, see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

CORES = 4
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_doc": "ms/doc",
    "out_bytes_per_doc": "B/doc",
    "spark_jobs": "count",
}

SPANS = ("sources", "partitioning", "compiler", "engine", "violations",
         "checkpoint", "dataset_checks", "pipeline", "textops", "dedup",
         "selection", "scrub")


def _unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes"):
        return "B"
    if field.endswith("_rows"):
        return "rows"
    return "count"


def per_layer_units() -> dict:
    from perfbench.trace import EXEC_FIELDS, SPAN_FIELDS
    units = {
        "session.start_s": "s", "generator.fixture_s": "s",
        "compiler.compile_s": "s", "compiler.expr_nodes": "count",
        "engine.validate_s": "s", "engine.plan_cache_misses": "count",
        "catalyst.analysis_s": "s", "catalyst.optimize_s": "s",
        "catalyst.plan_s": "s", "catalyst.actions": "count",
        "partitioning.detect_s": "s", "partitioning.hot_keys": "count",
        "partitioning.summary_skew": "ratio",
        "violations.rows": "count", "violations.write_s": "s",
        "violations.bytes": "B",
        "checkpoint.ledger_s": "s", "checkpoint.batches": "count",
        "checkpoint.resume_noop_s": "s", "sources.list_s": "s",
        "dataset_checks.column_stats_s": "s",
        "dataset_checks.uniqueness_s": "s",
        "dataset_checks.dangling_s": "s", "dataset_checks.drift_s": "s",
        "pyvalidator.docs_per_s_1core": "docs/s",
        "python.udf_s": "s", "python.boot_s": "s",
        "python.bytes_sent": "B", "python.bytes_received": "B",
        "trace.docs_per_s": "docs/s", "trace.batch_p50_s": "s",
        "host.busy_cores": "cores", "host.peak_rss_mb": "MB",
    }
    for f in EXEC_FIELDS:
        units[f"exec.{f}"] = _unit(f)
    for s in SPANS:
        for f in SPAN_FIELDS:
            units[f"{s}.{f}"] = _unit(f)
    return units


class Context:
    """What a workload sees: the session, fixtures, spans and counters."""

    def __init__(self, spark, tracer, store, *, seed: int, root: str,
                 work: str, traced: bool) -> None:
        self.spark, self.tracer, self.store = spark, tracer, store
        self.seed, self.root, self.work = seed, root, work
        self.traced = traced
        self.counts: dict = {}    # additive, reset when timing starts
        self.gauges: dict = {}    # last value wins
        self.attempted = 0
        self.failed = 0

    def span(self, name: str):
        return self.tracer.span(name)

    def count(self, metric: str, value: float) -> None:
        self.counts[metric] = self.counts.get(metric, 0.0) + value

    def gauge(self, metric: str, value: float) -> None:
        self.gauges[metric] = value

    @contextmanager
    def timer(self, metric: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.count(metric, time.perf_counter() - t)

    @contextmanager
    def plan_cache_probe(self):
        """Counts compiled-plan cache misses (new cache entries)."""
        if not self.traced:
            yield
            return
        from sparkjesse import engine
        before = set(engine._PLAN_CACHE)
        yield
        self.count("engine.plan_cache_misses",
                   len(set(engine._PLAN_CACHE) - before))

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


def start_session(work: str, traced: bool):
    from sparkjesse.session import get_spark
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
            " -XX:-UsePerfData",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, listener) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if listener is not None:
        spark._jsparkSession.listenerManager().unregister(listener)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def failed_jobs(spark) -> tuple[int, int]:
    """(jobs run, jobs failed) in this session so far."""
    tracker = spark.sparkContext.statusTracker()
    ids = job_ids(spark)
    bad = 0
    for j in ids:
        info = tracker.getJobInfo(j)
        if info is not None and info.status == "FAILED":
            bad += 1
    return len(ids), bad


def per_layer_metrics(work: str, ctx, listener, spans: list,
                      window: tuple, passes: int, gauges: dict) -> dict:
    """Per-layer figures of a traced run, per timed pass."""
    from perfbench import trace as tr
    lo, hi = window
    events = [e for e in tr.read_event_log(os.path.join(work, "eventlog"))
              if e["Event"] != "SparkListenerJobStart"
              or lo <= e["Submission Time"] <= hi]
    phases = [p for p in listener.phases
              if "analysis" in p and lo <= p["analysis"][0] <= hi]
    att = tr.attribute(events, spans, phases)
    values = {k: v / passes for k, v in ctx.counts.items()}
    for name, bucket in att["per_span"].items():
        for f, v in bucket.items():
            values[f"{name}.{f}"] = v / passes
    values.update({k: v / passes for k, v in att["python"].items()})
    values.update({k: v / passes for k, v in att["catalyst"].items()})
    values.update(ctx.gauges)
    values.update(gauges)
    return {k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in per_layer_units().items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "sparkjesse", "engine.py"))
            and os.path.isfile(os.path.join(root, "tools",
                                            "pipeline_job.py"))):
        print("perfbench: run from the root of a sparkjesse checkout "
              "(sparkjesse/ and tools/pipeline_job.py not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import trace as tr
    from perfbench.fixtures import FixtureStore
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work")
    for sub in ("tmp", "out", "spark-local", "runs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    shutil.rmtree(os.path.join(work, "eventlog"), ignore_errors=True)
    # Python workers import sparkjesse from this checkout; temp files
    # stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARKJESSE_DRIVER_MEM"] = "2g"

    traced = bool(args.trace)
    tracer = tr.Tracer(enabled=False)
    listener = None
    with tr.RssSampler() as rss:
        spark = start_session(work, traced)
        session_s, session_cpu_s = tr.process_age_s(), tr.tree_cpu_s()
        try:
            if traced:
                listener = tr.register_listener(spark)
            ctx = Context(spark, tracer, FixtureStore(work), seed=args.seed,
                          root=root, work=work, traced=traced)
            wl = WORKLOADS[args.workload](ctx)

            t = time.perf_counter()
            wl.prepare()
            fixture_s = time.perf_counter() - t

            parts, part_cpus = [], []
            for _ in range(SETUP_REPEATS):
                t, c = time.perf_counter(), tr.tree_cpu_s()
                wl.setup_once()
                parts.append(time.perf_counter() - t)
                part_cpus.append(tr.tree_cpu_s() - c)
            # CPU seconds, not wall: the host's load moves a set-up wall
            # by half from one minute to the next, its CPU time far less
            setup_s = session_cpu_s + statistics.median(part_cpus)

            ctx.counts.clear()
            tracer.enabled = traced
            passes, batches = [], []
            cpu0, t0, t0_ms = tr.cpu_ticks(), time.perf_counter(), tr.now_ms()
            tree_cpu0, jobs0 = tr.tree_cpu_s(), job_ids(spark)
            while True:
                t, c = time.perf_counter(), tr.tree_cpu_s()
                r = wl.run_once(len(passes))
                r["wall"] = time.perf_counter() - t
                r["cpu"] = tr.tree_cpu_s() - c
                passes.append(r)
                batches.extend(r["batches"])
                if time.perf_counter() - t0 >= args.seconds:
                    break
            wall = time.perf_counter() - t0
            cpu_s = tr.tree_cpu_s() - tree_cpu0
            pass_jobs = len(job_ids(spark) - jobs0) / len(passes)
            window = (t0_ms, tr.now_ms())
            busy, steal = tr.busy_cores(cpu0, tr.cpu_ticks())
            tracer.enabled = False

            wl.verify()
            jobs, bad_jobs = failed_jobs(spark)
        finally:
            stop_session(spark, listener)
    docs = sum(p["docs"] for p in passes)
    attempted = ctx.attempted + jobs + len(batches)
    failed = ctx.failed + bad_jobs
    docs_per_s = docs / wall

    if traced:
        metrics = per_layer_metrics(
            work, ctx, listener, tracer.spans, window, len(passes),
            {"session.start_s": session_s, "generator.fixture_s": fixture_s,
             "trace.docs_per_s": docs_per_s,
             "trace.batch_p50_s": statistics.median(batches),
             "host.busy_cores": busy,
             "host.peak_rss_mb": rss.peak_bytes / 2**20})
    else:
        values = {
            "setup_s": setup_s,
            "cpu_ms_per_doc": cpu_s * 1000.0 / docs,
            "out_bytes_per_doc": sum(p["bytes"] for p in passes) / docs,
            "spark_jobs": pass_jobs,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_s": session_s, "session_cpu_s": session_cpu_s,
        "fixture_s": fixture_s, "fixtures_built": ctx.store.built,
        "setup_parts_s": parts, "setup_parts_cpu_s": part_cpus,
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "busy_cores": busy, "steal_cores": steal,
        "timed_wall_s": wall, "timed_cpu_s": cpu_s,
        "docs_per_s": docs_per_s, "batch_p50_s": statistics.median(batches),
        "passes": [{"wall_s": p["wall"], "cpu_s": p["cpu"], "docs": p["docs"],
                    "batches_s": p["batches"]} for p in passes],
        "spans": tracer.spans, "metrics": metrics,
    }
    with open(os.path.join(work, "runs", f"{args.workload}-s{args.seed}"
                                         f"-t{args.trace}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(record, fh)
    print(f"perfbench: {args.workload} seed={args.seed} passes={len(passes)}"
          f" timed_wall_s={wall:.3f} timed_cpu_s={cpu_s:.2f}"
          f" docs_per_s={docs_per_s:.1f} jobs_per_pass={pass_jobs:g}"
          f" busy_cores={busy:.2f}"
          f" steal_cores={steal:.2f}"
          f" pass_walls_s={[round(p['wall'], 3) for p in passes]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

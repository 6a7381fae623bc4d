"""The benchmark's workloads, composed from sparkjesse public calls.

Each workload has four steps, timed by ``run.py``:

* ``prepare`` builds (or reuses) its seeded fixtures — test-data prep,
  reported as ``generator.fixture_s`` and kept out of ``setup_s``;
* ``setup_once`` is the repeatable part of a job's set-up (open the
  input, first schema compile), run several times;
* ``run_once`` is one pass of the measured work, the job a user submits;
  it returns the number of input documents, the per-batch walls and the
  bytes written. There is no warm-up: the first pass runs on a fresh
  session, as a submitted job does;
* ``verify`` compares outputs with an independent reference.

Every check counts as one attempted operation in ``ctx.check``; a
mismatch counts as a failed one.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import re
import shutil
import sys
import threading
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sparkjesse import (ValidationEngine, dataset_checks, sources,
                        validate_value)
from sparkjesse.checkpoint import (CheckpointLedger, plan_hash,
                                   run_with_checkpoints)
from sparkjesse.generator import INTERLEAVED_SCHEMA
from sparkjesse.partitioning import detect_hot_keys

from . import fixtures as fx
from .trace import now_ms

SUMMARY_PARTITIONS = 64
CLEAN_COPIES = 50       # validate_clean: 50 x 5k = 250k docs
AUDIT_COPIES = 3        # audit_dirty: 3 batches of 5k docs
JSON_COPIES = 12        # json_kernel: 60k docs as JSON strings
CORPUS_DOCS = 200       # corpus_pipeline: the job is fixed-cost bound
PY_SAMPLE = 2_000       # docs in the in-process pyvalidator sample


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _plain(value):
    """Row → JSON-like value with NULL struct fields dropped (the
    ``to_json`` convention the engine uses: NULL means absent)."""
    if hasattr(value, "asDict"):
        return {k: _plain(v) for k, v in value.asDict().items()
                if v is not None}
    if isinstance(value, list):
        return [_plain(v) for v in value]
    return value


def _summary_totals(path: str) -> tuple[int, int, list]:
    t = pq.read_table(path).to_pydict()
    return sum(t["docs"]), sum(t["fail"]), t["docs"]


def expr_nodes(annotated) -> int:
    """Catalyst expression nodes under the ``violations`` alias of the
    analyzed plan (one node per ``treeString`` line)."""
    stack = [annotated._jdf.queryExecution().analyzed()]
    while stack:
        plan = stack.pop()
        for e in _seq(plan.expressions()):
            if e.getClass().getSimpleName() == "Alias" \
                    and str(e.name()) == "violations":
                return len(str(e.child().treeString()).splitlines())
        stack.extend(_seq(plan.children()))
    raise RuntimeError("no violations column in the analyzed plan")


def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark

    def verify(self) -> None:
        """Checks beyond the per-pass ones (none by default)."""

    def out_dir(self, tag: str) -> str:
        path = os.path.join(self.ctx.work, "out", f"{self.name}-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def pyvalidator_rate(self, rows: list) -> None:
        """In-process single-core kernel rate on a fixed seeded sample."""
        docs = [_plain(r) for r in rows]
        t = time.perf_counter()
        for d in docs:
            validate_value(INTERLEAVED_SCHEMA, d)
        self.ctx.gauge("pyvalidator.docs_per_s_1core",
                       len(docs) / (time.perf_counter() - t))


# ---------------------------------------------------------------------------

class ValidateClean(Workload):
    """Flagship: read → detect_hot_keys → validate → key_aligned_summary."""
    name = "validate_clean"

    def prepare(self) -> None:
        ctx = self.ctx
        tile, _ = ctx.store.get(
            "tile", ctx.seed, fx.TILE_DOCS, fx.build_tile(self.spark, ctx.seed))
        table, _ = ctx.store.get(
            "clean", ctx.seed, fx.TILE_DOCS * CLEAN_COPIES,
            fx.build_interleaved(self.spark, ctx.seed, tile, CLEAN_COPIES,
                                 dirty=False))
        self.path = os.path.join(table, "data")
        self.n_docs = fx.TILE_DOCS * CLEAN_COPIES
        self.engines: list = []   # kept alive: no id() reuse across passes

    def setup_once(self) -> None:
        df = self.spark.read.parquet(self.path)
        engine = ValidationEngine()
        self.engines.append(engine)
        engine.validate(df, INTERLEAVED_SCHEMA)

    def run_once(self, tag) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        with ctx.span("sources"):
            df = self.spark.read.parquet(self.path)
        with ctx.span("partitioning"), ctx.timer("partitioning.detect_s"):
            skew = detect_hot_keys(df, "doc_id")
        ctx.gauge("partitioning.hot_keys", len(skew.hot_keys))
        with ctx.span("compiler"), ctx.timer("compiler.compile_s"), \
                ctx.plan_cache_probe():
            engine = ValidationEngine()
            self.engines.append(engine)
            res = engine.validate(df, INTERLEAVED_SCHEMA)
        if ctx.traced:
            ctx.gauge("compiler.expr_nodes", expr_nodes(res.annotated))
        out = self.out_dir(f"summary-{tag}")
        with ctx.span("engine"), ctx.timer("engine.validate_s"):
            res.key_aligned_summary(SUMMARY_PARTITIONS, skew=skew) \
               .write.parquet(out)
        wall = time.perf_counter() - t0
        docs, fail, per_part = _summary_totals(out)
        ctx.gauge("partitioning.summary_skew",
                  max(per_part) / (sum(per_part) / len(per_part)))
        ctx.check(docs == self.n_docs, f"summary docs {docs} != {self.n_docs}")
        ctx.check(fail == 0, f"clean table reported {fail} failing docs")
        written = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return {"docs": self.n_docs, "batches": [wall], "bytes": written}

    def verify(self) -> None:
        """A seeded sample re-validated by the local kernel must agree
        with the engine (every doc valid)."""
        df = self.spark.read.parquet(self.path)
        rows = df.sample(fraction=PY_SAMPLE / self.n_docs,
                         seed=self.ctx.seed).collect()
        bad = [r["doc_id"] for r in rows
               if validate_value(INTERLEAVED_SCHEMA, _plain(r))]
        self.ctx.check(len(rows) > 0 and not bad,
                       f"pyvalidator disagrees on {bad[:5]}")
        if self.ctx.traced:
            self.pyvalidator_rate(rows)


# ---------------------------------------------------------------------------

class AuditDirty(Workload):
    """``tools/validate_job.py`` shape over a dirty table, then the
    dataset checks."""
    name = "audit_dirty"

    def prepare(self) -> None:
        ctx = self.ctx
        tile, tile_plan = ctx.store.get(
            "tile", ctx.seed, fx.TILE_DOCS, fx.build_tile(self.spark, ctx.seed))
        n = fx.TILE_DOCS * AUDIT_COPIES
        dirty, _ = ctx.store.get(
            "dirty", ctx.seed, n,
            fx.build_interleaved(self.spark, ctx.seed, tile, AUDIT_COPIES,
                                 dirty=True))
        self.path = os.path.join(dirty, "data")
        # drift baseline: the clean tile (same span-count distribution as
        # every clean copy)
        self.clean_path = os.path.join(tile, "docs")
        self.media_path = os.path.join(tile, "media_assets")
        self.expected = fx.expected_outcome(tile_plan, AUDIT_COPIES)
        self.last = None

    def setup_once(self) -> None:
        pids = sources.input_partitions(self.spark, self.path,
                                        files_per_batch=1)
        df = sources.read_partition(self.spark, self.path, pids[0],
                                    files_per_batch=1)
        ValidationEngine().validate(df, INTERLEAVED_SCHEMA)

    def run_once(self, tag) -> dict:
        return self._audit(self.path, self.expected, tag)

    def _batch(self, engine, path: str, pid: str, out: str,
               walls: list) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        with ctx.span("sources"):
            docs = sources.read_partition(self.spark, path, pid,
                                          files_per_batch=1)
        with ctx.span("partitioning"), ctx.timer("partitioning.detect_s"):
            skew = detect_hot_keys(docs, "doc_id", target_rows=500_000)
        with ctx.span("compiler"), ctx.timer("compiler.compile_s"), \
                ctx.plan_cache_probe():
            res = engine.validate(docs, INTERLEAVED_SCHEMA)
        if ctx.traced:
            ctx.gauge("compiler.expr_nodes", expr_nodes(res.annotated))
        ann = res.annotated.persist()
        try:
            with ctx.span("engine"), ctx.timer("engine.validate_s"):
                res.key_aligned_summary(SUMMARY_PARTITIONS, skew=skew) \
                   .write.parquet(f"{out}/summary/{pid}")
            with ctx.span("violations"), ctx.timer("violations.write_s"):
                res.violations.write.parquet(f"{out}/violations/{pid}")
        finally:
            ann.unpersist()
        docs_n, fail, _ = _summary_totals(f"{out}/summary/{pid}")
        walls.append(time.perf_counter() - t0)
        return {"docs": docs_n, "fail": fail}

    def _audit(self, path: str, expected: dict, tag) -> dict:
        ctx = self.ctx
        out = self.out_dir(f"run-{tag}")
        engine = ValidationEngine()    # one engine per job
        ledger = CheckpointLedger(f"{out}/ledger")
        walls: list = []
        with ctx.span("sources"), ctx.timer("sources.list_s"):
            pids = sources.input_partitions(self.spark, path,
                                            files_per_batch=1)
            snap = sources.snapshot_id(path)
        plan = plan_hash(INTERLEAVED_SCHEMA)
        t0 = time.perf_counter()
        with ctx.span("checkpoint"):
            done = run_with_checkpoints(
                pids, lambda pid: self._batch(engine, path, pid, out, walls),
                ledger, plan=plan, snapshot=snap)
        ctx.count("checkpoint.ledger_s",
                  time.perf_counter() - t0 - sum(walls))
        ctx.count("checkpoint.batches", len(done["ran"]))
        ctx.check(len(done["ran"]) == len(pids), f"ran {done}")
        rows = ledger.lineage_metrics(plan, snap)
        ctx.check(all(r["status"] == "done" for r in rows)
                  and len(rows) == len(pids), "ledger rows incomplete")
        docs_n = sum(r["metrics"]["docs"] for r in rows)
        fail = sum(r["metrics"]["fail"] for r in rows)
        ctx.check(docs_n == expected["docs"],
                  f"docs {docs_n} != {expected['docs']}")
        ctx.check(fail == expected["fail"],
                  f"fail {fail} != {expected['fail']}")
        viol = pq.read_table(f"{out}/violations",
                             columns=["error_type", "path"]).to_pydict()
        got: dict = {}
        for et, p in zip(viol["error_type"], viol["path"]):
            got[f"{et}|{p}"] = got.get(f"{et}|{p}", 0) + 1
        ctx.check(got == expected["violations"],
                  f"violations {got} != {expected['violations']}")
        ctx.count("violations.rows", len(viol["path"]))
        ctx.count("violations.bytes", dir_bytes(f"{out}/violations"))

        docs = self.spark.read.parquet(path)
        with ctx.span("dataset_checks"):
            with ctx.timer("dataset_checks.column_stats_s"):
                dataset_checks.column_stats(docs).collect()
            with ctx.timer("dataset_checks.uniqueness_s"):
                uniq = dataset_checks.uniqueness_metrics(docs, "doc_id")
            with ctx.timer("dataset_checks.dangling_s"):
                refs = docs.select(F.explode("spans.media_ref")
                                   .alias("media_ref"))
                dangling = dataset_checks.dangling_references(
                    refs, "media_ref", self.spark.read.parquet(
                        self.media_path), "media_ref").count()
            with ctx.timer("dataset_checks.drift_s"):
                drift = dataset_checks.drift_report(
                    docs, self.spark.read.parquet(self.clean_path),
                    F.size("spans"), lo=0.0, hi=9.0, buckets=9)
        # defects never change span counts: the two histograms are equal
        ctx.check(abs(drift["psi"]) < 1e-12 and abs(drift["ks"]) < 1e-12,
                  f"drift dirty vs clean {drift}")
        self.last = {"out": out, "pids": pids, "snap": snap, "plan": plan,
                     "uniq": uniq, "dangling": dangling}
        written = dir_bytes(f"{out}/summary") + dir_bytes(f"{out}/violations")
        return {"docs": docs_n, "batches": walls, "bytes": written}

    def verify(self) -> None:
        ctx, last = self.ctx, self.last

        def must_not_run(pid):
            raise RuntimeError(f"finished batch {pid} ran again")

        t0 = time.perf_counter()
        again = run_with_checkpoints(
            last["pids"], must_not_run,
            CheckpointLedger(f"{last['out']}/ledger"),
            plan=last["plan"], snapshot=last["snap"])
        ctx.gauge("checkpoint.resume_noop_s", time.perf_counter() - t0)
        ctx.check(again["ran"] == [] and
                  len(again["skipped"]) == len(last["pids"]),
                  f"resume over a finished ledger ran {again['ran']}")
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            docs = f"read_parquet('{self.path}/*.parquet')"
            rows, distinct = con.execute(
                f"SELECT count(*), count(DISTINCT doc_id) FROM {docs}"
            ).fetchone()
            dangling = con.execute(
                f"SELECT count(*) FROM (SELECT unnest(spans).media_ref AS m"
                f" FROM {docs}) WHERE m IS NOT NULL AND m NOT IN (SELECT"
                f" media_ref FROM read_parquet('{self.media_path}/*.parquet'))"
            ).fetchone()[0]
        finally:
            con.close()
        u = last["uniq"]
        ctx.check((u["rows"], u["distinct"], u["duplicates"])
                  == (rows, distinct, rows - distinct),
                  f"uniqueness {u} != duckdb {(rows, distinct)}")
        ctx.check(last["dangling"] == dangling,
                  f"dangling {last['dangling']} != duckdb {dangling}")
        if ctx.traced:
            sample = self.spark.read.parquet(self.path).sample(
                fraction=PY_SAMPLE / self.expected["docs"],
                seed=ctx.seed).collect()
            self.pyvalidator_rate(sample)


# ---------------------------------------------------------------------------

class JsonKernel(Workload):
    """``engine.validate_json`` over the dirty documents serialised as
    JSON strings: Arrow transport plus the pure-Python kernel."""
    name = "json_kernel"

    def prepare(self) -> None:
        ctx = self.ctx
        tile, tile_plan = ctx.store.get(
            "tile", ctx.seed, fx.TILE_DOCS, fx.build_tile(self.spark, ctx.seed))
        table, _ = ctx.store.get(
            "json", ctx.seed, fx.TILE_DOCS * JSON_COPIES,
            fx.build_interleaved(self.spark, ctx.seed, tile, JSON_COPIES,
                                 dirty=True, as_json=True))
        self.path = os.path.join(table, "data")
        self.expected = fx.expected_outcome(tile_plan, JSON_COPIES)

    def setup_once(self) -> None:
        ValidationEngine().validate_json(self.spark.read.parquet(self.path),
                                         "json", INTERLEAVED_SCHEMA)

    def run_once(self, tag) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        with ctx.span("engine"), ctx.timer("engine.validate_s"):
            res = ValidationEngine().validate_json(
                self.spark.read.parquet(self.path), "json",
                INTERLEAVED_SCHEMA)
            out = self.out_dir(f"violations-{tag}")
            res.violations.groupBy("error_type", "path").count() \
               .write.parquet(out)
        wall = time.perf_counter() - t0
        t = pq.read_table(out).to_pydict()
        got = {f"{e}|{p}": n for e, p, n in
               zip(t["error_type"], t["path"], t["count"])}
        ctx.check(got == self.expected["violations"],
                  f"violations {got} != {self.expected['violations']}")
        written = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return {"docs": self.expected["docs"], "batches": [wall],
                "bytes": written}

    def verify(self) -> None:
        res = ValidationEngine().validate_json(
            self.spark.read.parquet(self.path), "json", INTERLEAVED_SCHEMA)
        fail = res.annotated.where(~F.col("valid")).count()
        self.ctx.check(fail == self.expected["fail"],
                       f"fail {fail} != {self.expected['fail']}")


# pipeline_job.py stage number -> the sparkjesse layer it drives
STAGE_LAYER = {"1": "pipeline", "1.5": "pipeline", "2": "textops",
               "3": "dedup", "4": "dedup", "4.5": "dedup", "5": "dedup",
               "5.2": "selection", "5.5": "textops", "5.7": "selection",
               "6": "scrub", "7": "textops", "7.5": "textops",
               "8": "sources"}
CORPUS_LAYERS = ("textops", "dedup", "selection", "scrub", "sources")


class StageSampler:
    """Samples the main thread's stack every ``period`` s while
    ``tools/pipeline_job.py`` runs and turns runs of equal labels into
    spans: the innermost ``sparkjesse`` module on the stack if it is a
    corpus layer, else the layer of the pipeline stage whose numbered
    comment block holds the current line."""

    def __init__(self, tracer, job_file: str, period: float = 0.02) -> None:
        self.tracer, self.job_file, self.period = tracer, job_file, period
        with open(job_file, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        self.starts = []   # (first line, layer), ascending
        for i, line in enumerate(lines, 1):
            m = re.match(r"\s+# (\d+(?:\.\d+)?)[. ]", line)
            if m and m.group(1) in STAGE_LAYER:
                self.starts.append((i, STAGE_LAYER[m.group(1)]))
        self._stop = threading.Event()
        self._main = threading.main_thread().ident

    def label(self) -> str:
        frame = sys._current_frames().get(self._main)
        inner = None
        while frame is not None:
            path = frame.f_code.co_filename
            mod = os.path.splitext(os.path.basename(path))[0]
            if inner is None and os.sep + "sparkjesse" + os.sep in path \
                    and mod in CORPUS_LAYERS:
                inner = mod
            if path == self.job_file:
                if inner:
                    return inner
                layer = "sources"   # input open before stage 1
                for first, lay in self.starts:
                    if frame.f_lineno >= first:
                        layer = lay
                return layer
            frame = frame.f_back
        return "pipeline"

    def __enter__(self):
        if self.tracer.enabled:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.tracer.enabled:
            self._stop.set()
            self._thread.join()

    def _run(self) -> None:
        cur, since = None, now_ms()
        while not self._stop.is_set():
            lab, t = self.label(), now_ms()
            if lab != cur:
                if cur is not None:
                    self.tracer.add(cur, since, t)
                cur, since = lab, t
            self._stop.wait(self.period)
        if cur is not None:
            self.tracer.add(cur, since, now_ms())


class CorpusPipeline(Workload):
    """``tools/pipeline_job.py``, unchanged, run in-process on the
    benchmark's session."""
    name = "corpus_pipeline"

    def prepare(self) -> None:
        ctx = self.ctx
        self.dir, self.plan = ctx.store.get(
            "corpus", ctx.seed, CORPUS_DOCS,
            fx.build_corpus(ctx.seed, CORPUS_DOCS))
        self.job = os.path.join(ctx.root, "tools", "pipeline_job.py")

    def setup_once(self) -> None:
        # resolves the file listing and the parquet footer; no Spark job
        self.spark.read.parquet(f"{self.dir}/docs.parquet").schema

    def run_once(self, tag) -> dict:
        return self._pipeline(self.dir, self.plan, tag)

    def _pipeline(self, corpus: str, plan: dict, tag) -> dict:
        ctx = self.ctx
        out = self.out_dir(f"run-{tag}")
        spec = importlib.util.spec_from_file_location("pipeline_job",
                                                      self.job)
        job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(job)
        argv = ["pipeline_job.py", "--input", f"{corpus}/docs.parquet",
                "--output", f"{out}/out", "--vocab-size", "4096",
                "--partitions", "4",
                "--dsir-target", f"{corpus}/target.parquet",
                "--dsir-keep", "0.8"]
        saved = sys.argv
        t0 = time.perf_counter()
        try:
            sys.argv = argv
            with ctx.span("pipeline"), StageSampler(ctx.tracer, self.job), \
                    contextlib.redirect_stdout(io.StringIO()):
                job.main()
        finally:
            sys.argv = saved
        wall = time.perf_counter() - t0
        with open(f"{out}/out_stats.json", encoding="utf-8") as fh:
            stats = json.load(fh)
        self._check_output(stats, plan, f"{out}/out/docs")
        return {"docs": stats["input"], "batches": [wall],
                "bytes": dir_bytes(out)}

    def _check_output(self, stats: dict, plan: dict, docs_dir: str) -> None:
        ctx = self.ctx
        ctx.check(stats["input"] == plan["docs"],
                  f"input {stats['input']} != {plan['docs']}")
        want = plan["docs"] - plan["injected_exact_dups"]
        ctx.check(stats["after_exact_dedup"] == want,
                  f"after_exact_dedup {stats['after_exact_dedup']} != {want}")
        files = sorted(f for f in os.listdir(docs_dir)
                       if f.endswith(".parquet"))
        ids, ordered, prev_max = [], True, None
        for f in files:
            col = pq.read_table(os.path.join(docs_dir, f),
                                columns=["doc_id"]).column(0).to_pylist()
            if not col:
                continue
            ordered &= col == sorted(col) and (prev_max is None
                                               or col[0] > prev_max)
            prev_max = col[-1]
            ids.extend(col)
        ctx.check(len(ids) == stats["written"] and len(set(ids)) == len(ids),
                  "written doc_ids are not unique")
        ctx.check(ordered, "written doc_ids are not range-sorted")



WORKLOADS = {w.name: w for w in (ValidateClean, AuditDirty, JsonKernel,
                                  CorpusPipeline)}


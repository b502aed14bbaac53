"""Traced runs: spans around the calls into each module, Spark counters
per span, and the per-layer ledger built from them.

Spans come from the benchmark's own code: around its calls into the
pipeline, and, in traced runs only, from wrapping the public names the
composer calls inside ``foreachBatch`` (``TransformEngine.prune/apply``,
``SchemaEvolver.infer_drift_events``, ``compose.coerce_dataframe``,
``compose.repartition_by_key``) and the sink writer. Spark evaluates
lazily, so at each of those calls the traced run also materializes a
checksum of the layer's output. The checksums time growing prefixes of
the micro-batch's plan (decode, +transform, +coerce, +partition); a
layer's self time is its prefix's time minus the previous prefix's.

Spark's counters are read from the status store once a SparkSession's
work is done: each job is attributed to the innermost span open when it
was submitted, and carries its stages' task counts, executor run, CPU
and GC time, and shuffle and input bytes.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import stats

CHECKSUM = ".checksum"
PREFIXES = ("transform", "merging", "partitioning")   # after the decode
READS = ("paimon_pk.scan", "dsql.lookup")


@dataclass
class Span:
    id: int
    name: str
    trace_id: str | None
    parent: int | None
    start: float                 # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)   # submitted in this span
    children: list = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of (start, end) intervals given in
    seconds, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000


def self_ms(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return span.ms - union_ms([(c.start, c.end) for c in children],
                              span.start, span.end)


def prefix_self_ms(inclusive: list[float]) -> list[float]:
    """Self time of each layer from the inclusive times of growing
    prefixes (decode, decode+transform, ...): the first as is, each
    later one minus the prefix before it."""
    return [inclusive[0]] + [b - a for a, b in zip(inclusive, inclusive[1:])]


def checksum(df) -> int:
    """Materialize every column of ``df`` into an order-independent hash
    (an action Catalyst cannot prune to a bare count); returns the row
    count."""
    from pyspark.sql import functions as F

    return df.select(F.count(F.lit(1)).alias("n"),
                     F.sum(F.xxhash64(F.struct(*df.columns))).alias("h")
                     ).first()["n"]


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


class Tracer:
    """Records spans, wraps the composer's calls, and attributes Spark
    jobs to spans."""

    enabled = True

    def __init__(self, decode_module: str, sink_module: str, cpus: int):
        self.decode_module = decode_module
        self.sink_module = sink_module
        self.cpus = cpus
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.start_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._installed = False
        self.spark = None

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id: str | None = None,
             watch: str | None = None):
        """A span; ``watch`` names a directory whose files written during
        the span are counted into ``files_written``/``bytes_written``."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace_id is None and parent is not None:
            trace_id = parent.trace_id
        before = _files(watch) if watch else None
        with self._lock:
            sp = Span(len(self.spans), name, trace_id,
                      parent.id if parent else None, time.time())
            self.spans.append(sp)
            if parent is not None:
                parent.children.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if watch:
                after = _files(watch)
                new = [p for p, n in after.items() if before.get(p) != n]
                sp.attrs["files_written"] = len(new)
                sp.attrs["bytes_written"] = sum(after[p] for p in new)

    def prefix(self, layer: str, df):
        """Time the checksum of a lazy layer's output."""
        with self.span(layer + CHECKSUM) as sp:
            sp.attrs["rows"] = checksum(df)
        return df

    # -- wrapping the pipeline's calls -----------------------------------

    def install(self) -> None:
        """Wrap the public names the composer and the sinks call."""
        if self._installed:
            return
        self._installed = True
        from pyspark.sql.classic.dataframe import DataFrame

        from flink_cdc_dsql_master_spark import (compose, evolve, iam_auth,
                                                 sources, transform)

        tracer = self
        engine = transform.TransformEngine
        prune, apply = engine.prune, engine.apply

        def traced_prune(self_, df, tid):
            tracer.prefix(tracer.decode_module, df)
            with tracer.span("transform.prune"):
                return prune(self_, df, tid)

        def traced_apply(self_, df, tid):
            with tracer.span("transform.apply"):
                out = apply(self_, df, tid)
            return tracer.prefix("transform", out)

        engine.prune, engine.apply = traced_prune, traced_apply

        evolver = evolve.SchemaEvolver
        infer = evolver.infer_drift_events

        def traced_infer(self_, *a, **kw):
            with tracer.span("evolve.infer"):
                return list(infer(self_, *a, **kw))

        evolver.infer_drift_events = traced_infer

        coerce = compose.coerce_dataframe
        repartition = compose.repartition_by_key

        def traced_coerce(df, *a, **kw):
            with tracer.span("merging.coerce"):
                out = coerce(df, *a, **kw)
            return tracer.prefix("merging", out)

        def traced_repartition(df, *a, **kw):
            with tracer.span("partitioning.repartition"):
                out = repartition(df, *a, **kw)
            return tracer.prefix("partitioning", out)

        compose.coerce_dataframe = traced_coerce
        compose.repartition_by_key = traced_repartition

        batch_writer = compose.foreach_batch_writer

        def traced_batch_writer(*a, **kw):
            handle = batch_writer(*a, **kw)

            def traced_handle(df, batch_id):
                with tracer.span("compose.batch",
                                 f"{tracer.start_id}.{batch_id}"):
                    handle(df, batch_id)

            return traced_handle

        compose.foreach_batch_writer = traced_batch_writer

        poll = sources.DbApiPollingSource.poll

        def traced_poll(self_):
            with tracer.span("sources.snapshot"):
                return poll(self_)

        sources.DbApiPollingSource.poll = traced_poll

        token = iam_auth.DsqlAuthenticator.get_or_generate_auth_token

        def traced_token(self_):
            generation = self_.token_generation()
            out = token(self_)
            tracer.counts["iam_auth.token_calls"] += 1
            if self_.token_generation() != generation:
                tracer.counts["iam_auth.token_generations"] += 1
            return out

        iam_auth.DsqlAuthenticator.get_or_generate_auth_token = traced_token

        collect = DataFrame.collect

        def traced_collect(self_):
            rows = collect(self_)
            stack = tracer._stack()
            if stack:
                stack[-1].attrs["collect_rows"] = \
                    stack[-1].attrs.get("collect_rows", 0) + len(rows)
            return rows

        DataFrame.collect = traced_collect

    # -- Spark counters --------------------------------------------------

    def bind(self, spark, start_id: int) -> None:
        self.spark = spark
        self.start_id = start_id
        self.install()

    def collect(self) -> None:
        """Attribute every job of the bound SparkSession to the innermost
        span open at its submission. Call before the session stops."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        spans = [s for s in self.spans if s.end]
        for i in range(seq.size()):
            j = seq.apply(i)
            if not j.submissionTime().isDefined():
                continue
            submit = j.submissionTime().get().getTime() / 1000
            end = (j.completionTime().get().getTime() / 1000
                   if j.completionTime().isDefined() else submit)
            owner = None
            for s in spans:
                if s.start <= submit <= s.end and (
                        owner is None or s.start >= owner.start):
                    owner = s
            if owner is None:
                continue
            job = {"id": j.jobId(), "submit": submit, "end": end,
                   "stages": []}
            ids = j.stageIds()
            for k in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                stage = {"tasks": st.numTasks(),
                         "failed": st.numFailedTasks(),
                         "run_ms": st.executorRunTime(),
                         "cpu_ms": st.executorCpuTime() / 1e6,
                         "gc_ms": st.jvmGcTime(),
                         "shuffle_write": st.shuffleWriteBytes(),
                         "shuffle_read": st.shuffleReadBytes(),
                         "input_bytes": st.inputBytes()}
                if (owner.name == "partitioning" + CHECKSUM
                        and stage["shuffle_read"] > 0):
                    tasks = store.taskList(st.stageId(), st.attemptId(),
                                           10_000)
                    reads = []
                    for t in range(tasks.size()):
                        m = tasks.apply(t).taskMetrics()
                        if m.isDefined():
                            r = m.get().shuffleReadMetrics()
                            reads.append(r.remoteBytesRead()
                                         + r.localBytesRead())
                    stage["task_shuffle_read"] = reads
                job["stages"].append(stage)
            owner.jobs.append(job)

    # -- the ledger ------------------------------------------------------

    def subtree(self, span: Span, skip=()) -> list[Span]:
        """``span`` and its descendants, not descending into spans whose
        name is in ``skip`` or ends with the checksum suffix."""
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(c for c in s.children if not _benchmark_own(c, skip))
        return out


def _benchmark_own(span: Span, skip=READS) -> bool:
    """A checksum or a benchmark read: work the pipeline would not do."""
    return span.name in skip or span.name.endswith(CHECKSUM)


def pipeline_ms(batch: Span) -> float:
    """A micro-batch's wall time minus the checksums and benchmark reads
    run inside it."""
    own, todo = [], list(batch.children)
    while todo:
        s = todo.pop()
        if _benchmark_own(s):
            own.append((s.start, s.end))
        else:
            todo.extend(s.children)
    return batch.ms - union_ms(own, batch.start, batch.end)


def _jobs(spans: list[Span]) -> list[dict]:
    return [j for s in spans for j in s.jobs]


def _sum(jobs: list[dict], key: str) -> float:
    return sum(st[key] for j in jobs for st in j["stages"])


def _stage_count(jobs: list[dict]) -> int:
    return sum(len(j["stages"]) for j in jobs)


def _med(values) -> float:
    values = list(values)
    return stats.median(values) if values else 0.0


def _driver_only_ms(span: Span, jobs: list[dict]) -> float:
    return span.ms - union_ms([(j["submit"], j["end"]) for j in jobs],
                              span.start, span.end)


def _named(spans, name):
    return [s for s in spans if s.name == name]


# per-commit sink figures, named per sink module
SINK_METRICS = {
    "paimon_pk": {"commit_ms": "sink_ms", "jobs_per_commit": "sink_jobs",
                  "tasks_per_commit": "sink_tasks",
                  "driver_only_ms": "sink_driver_ms",
                  "files_per_commit": "sink_files",
                  "bytes_per_commit": "sink_bytes"},
    "sinks": {"upsert_ms": "sink_ms", "jobs_per_commit": "sink_jobs",
              "collect_rows": "collect_rows"},
}


def build_ledger(tr: Tracer, res, skipped: set[str]) -> dict:
    """Per-layer metrics. Per-micro-batch figures are medians over the
    log-phase micro-batches (the set-up batches and bulk loads named in
    ``skipped`` are left out); ``*_jobs`` and ``*_ms`` of a layer count
    only work the pipeline itself did, never the checksums or the
    benchmark's reads. A layer the workload does not touch reads 0. Each
    micro-batch that lacks a prefix checksum or a sink span counts as a
    failed check in ``res``."""
    out: dict[str, float] = {}
    spans = tr.spans
    batches = [s for s in _named(spans, "compose.batch")
               if s.trace_id not in skipped]
    engine_jobs = []
    per_batch = defaultdict(list)
    for b in batches:
        tree = tr.subtree(b, skip=READS)
        jobs = _jobs(tree)
        engine_jobs.extend(jobs)
        per_batch["jobs"].append(len(jobs))
        per_batch["stages"].append(_stage_count(jobs))
        per_batch["tasks"].append(_sum(jobs, "tasks"))
        chk = {s.name[:-len(CHECKSUM)]: s for s in b.children
               if s.name.endswith(CHECKSUM)}
        order = [tr.decode_module, *PREFIXES]
        complete = all(k in chk for k in order)
        res.check(f"trace of micro-batch {b.trace_id}",
                  complete and bool(_named(tree, "sink")))
        if complete:
            incl = [chk[k].ms for k in order]
            selfs = prefix_self_ms(incl)
            per_batch["decode_ms"].append(selfs[0])
            per_batch["decode_cpu_ms"].append(
                _sum(chk[tr.decode_module].jobs, "cpu_ms"))
            per_batch["transform_ms"].append(selfs[1])
            per_batch["coerce_ms"].append(selfs[2])
            rows_in = chk[tr.decode_module].attrs["rows"]
            per_batch["selectivity"].append(
                chk["transform"].attrs["rows"] / rows_in if rows_in else 0)
            pj = chk["partitioning"].jobs
            per_batch["shuffle_bytes"].append(_sum(pj, "shuffle_write"))
            reads = [r for j in pj for st in j["stages"]
                     for r in st.get("task_shuffle_read", [])]
            nonzero = [r for r in reads if r]
            if nonzero:
                per_batch["skew"].append(max(nonzero) / _med(nonzero))
        for s in tree:
            if s.name == "evolve.infer":
                per_batch["evolve_ms"].append(self_ms(s, s.children))
            if s.name == "sink":
                sj = _jobs(tr.subtree(s))
                per_batch["sink_ms"].append(s.ms)
                per_batch["sink_jobs"].append(len(sj))
                per_batch["sink_tasks"].append(_sum(sj, "tasks"))
                per_batch["sink_driver_ms"].append(_driver_only_ms(s, sj))
                per_batch["sink_files"].append(
                    s.attrs.get("files_written", 0))
                per_batch["sink_bytes"].append(
                    s.attrs.get("bytes_written", 0))
                per_batch["collect_rows"].append(
                    sum(x.attrs.get("collect_rows", 0)
                        for x in tr.subtree(s)))

    dm = tr.decode_module
    out[f"{dm}.decode_ms"] = _med(per_batch["decode_ms"])
    out[f"{dm}.decode_cpu_ms"] = _med(per_batch["decode_cpu_ms"])
    out["transform.self_ms"] = _med(per_batch["transform_ms"])
    out["transform.selectivity"] = _med(per_batch["selectivity"])
    out["evolve.self_ms"] = _med(per_batch["evolve_ms"])
    out["merging.coerce_ms"] = _med(per_batch["coerce_ms"])
    out["partitioning.shuffle_bytes"] = _med(per_batch["shuffle_bytes"])
    out["partitioning.skew"] = _med(per_batch["skew"])
    out["compose.jobs_per_batch"] = _med(per_batch["jobs"])
    out["compose.stages_per_batch"] = _med(per_batch["stages"])
    out["compose.tasks_per_batch"] = _med(per_batch["tasks"])

    log_ids = {b.trace_id for b in batches}
    prog = [p for s, start in enumerate(res.progress) for p in start
            if f"{s}.{p['batchId']}" in log_ids]
    for key, name in (("getBatch", "get_batch_ms"),
                      ("queryPlanning", "planning_ms"),
                      ("walCommit", "wal_commit_ms")):
        out[f"compose.{name}"] = _med(p["durationMs"].get(key, 0)
                                      for p in prog)
    out["compose.start_ms"] = _med(s.ms for s in _named(spans,
                                                        "compose.start"))
    out["session.start_s"] = _med(s.ms / 1000 for s in
                                  _named(spans, "session.start"))

    snap = _named(spans, "sources.snapshot")
    load = _named(spans, "snapshot.load")
    out["sources.snapshot_ms"] = _med(s.ms for s in snap)
    out["sources.snapshot_tasks"] = _med(_sum(_jobs(tr.subtree(s)), "tasks")
                                         for s in snap)

    sink = tr.sink_module
    for name, key in SINK_METRICS[sink].items():
        out[f"{sink}.{name}"] = _med(per_batch[key])
    if load and snap:
        out[f"{sink}.initial_write_ms"] = _med(
            ld.ms - sum(s.ms for s in _named(tr.subtree(ld),
                                             "sources.snapshot"))
            for ld in load)

    scans = _named(spans, "paimon_pk.scan")
    out["paimon_pk.scan_ms"] = _med(s.ms for s in scans)
    out["paimon_pk.scan_files"] = _med(s.attrs.get("files", 0)
                                       for s in scans)
    out["paimon_pk.scan_bytes_ratio"] = _med(
        _sum(_jobs(tr.subtree(s)), "input_bytes") / s.attrs["live_bytes"]
        for s in scans if s.attrs.get("live_bytes"))

    calls = tr.counts["iam_auth.token_calls"]
    gens = tr.counts["iam_auth.token_generations"]
    out["iam_auth.token_generations"] = gens
    out["iam_auth.token_hit_ratio"] = (calls - gens) / calls if calls else 0

    out["session.executor_cpu_ms"] = _sum(engine_jobs, "cpu_ms")
    out["session.gc_ms"] = _sum(engine_jobs, "gc_ms")
    out["session.failed_tasks"] = _sum(engine_jobs, "failed")
    busy = sum(pipeline_ms(b) for b in batches)
    out["session.slot_util"] = (_sum(engine_jobs, "run_ms")
                                / (busy * tr.cpus) if busy else 0)
    return out

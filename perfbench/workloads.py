"""The benchmark's workloads: seeded inputs, a closed-loop stream, and
the checks against the reference model.

A run starts the pipeline ``STARTS`` times in one process, over one sink
table that persists across starts:

    start 0:  JVM + SparkSession -> parse the YAML -> [snapshot load] ->
              stream start -> micro-batch 0 commits            (= set-up)
              -> micro-batches 1.. : one source segment each
    start 1.. the previous session stopped, new segments appended to the
              source directory; a new SparkSession, the YAML parsed again,
              the stream restarted from its checkpoint -> the first new
              micro-batch commits                              (= set-up)
              -> the following micro-batches
    end:      the sink table compared with the reference model

``snapshot_rows_s`` is the median rate of several loads spread over the
run, not one cold sample, which JVM warm-up dominates. A workload whose
initial rows come from a snapshot load repeats that load at the end of
each restart, into a fresh sink that is checked and then removed. A
workload whose initial load is its first segment has ``bulk_loads`` bulk
loads of new keys per start, each as large as the initial load, centred
in the start's log phase. The initial load, in the cold session, is the
slowest, so the median falls on the loads in the warm JVM.

Start 0 is a cold start; the later ones are pipeline restarts in a warm
JVM. ``setup_s`` is the median of the three, so it is always a warm
restart: the JVM launch, the cold session start and the snapshot load
(start 0 only) cannot move it. The report prints start 0's time apart.
The first micro-batch of each start is its set-up and is left out of the
commit samples, and so are the bulk loads.

Each stream uses ``availableNow`` over its backlog with
``maxFilesPerTrigger=1``: the source reads its next segment only after
the previous commit returned (a closed loop with one client). The
benchmark's own reads run inside the sink writer right after a commit,
so they never overlap one, and their time is subtracted from that
micro-batch's trigger time.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace
from types import SimpleNamespace

from . import gen
from .model import LwwModel, frame_rows, table_digest

STARTS = 3
SNAPSHOT_CHUNKS = 8  # twice the cores of the 4-core box it was sized on
# per start: the set-up micro-batch + 4 commits, so that any run has the
# 11 commit samples the report's tail rule needs (10 samples beyond)
MIN_SEGMENTS = 5

# per-layer metrics every traced run of a stream workload must produce
# non-zero; session.failed_tasks and session.gc_ms may read 0
STREAM_LAYERS = (
    "session.start_s", "compose.start_ms", "compose.jobs_per_batch",
    "compose.stages_per_batch", "compose.tasks_per_batch",
    "compose.get_batch_ms", "compose.planning_ms", "compose.wal_commit_ms",
    "transform.self_ms", "transform.selectivity", "evolve.self_ms",
    "merging.coerce_ms", "partitioning.shuffle_bytes", "partitioning.skew",
    "session.executor_cpu_ms", "session.slot_util", "trace.setup_s",
    "trace.commit_p50_ms")


@dataclass
class RunResult:
    setup_s: list[float] = field(default_factory=list)
    load_rows_s: list[float] = field(default_factory=list)
    commit_ms: list[float] = field(default_factory=list)
    log_rows: int = 0
    read_ms: list[float] = field(default_factory=list)
    space_amp: float = 0.0
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    progress: list[list[dict]] = field(default_factory=list)
    parallelism: dict = field(default_factory=dict)

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches.append(what)


class NullTracer:
    """Stands in for :class:`.trace.Tracer` in untraced runs."""

    enabled = False

    def bind(self, spark, start_id: int) -> None:
        pass

    def collect(self) -> None:
        pass

    def span(self, name, trace_id=None, watch=None):
        return nullcontext(SimpleNamespace(attrs={}))


def logical_bytes(rows) -> int:
    """Bytes of the live rows' values: 8 per number, UTF-8 length per
    string. The denominator of ``space_amp``."""
    total = 0
    for row in rows:
        for v in row:
            total += len(v.encode()) if isinstance(v, str) else 8
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _parallelism(spark) -> dict:
    """The effective parallelism of a session, for the report."""
    conf = spark.sparkContext.getConf()
    return {"master": conf.get("spark.master"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get(
                "spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory")}


class StreamWorkload:
    """Shared run driver. A subclass defines the inputs, the pipeline
    YAML, the sink writer, the post-commit read and the final table."""

    name = ""
    decode_module = ""    # module of the source's wire decoder
    sink_module = ""      # module of the sink writer
    table = ""            # source table id
    source_kind = ""      # streaming source type in the YAML
    source_extra = ""     # further YAML lines of the source section
    params: gen.Params
    layers: tuple[str, ...] = ()  # per-layer metrics a traced run needs
    segments_per_s = 1.0    # source segments per second of --seconds
    snapshot_first = False  # initial rows come from a snapshot load
    bulk_loads = 0          # bulk-load segments per start

    def __init__(self, seed: int, seconds: int, work: str,
                 spark_conf: dict):
        self.seed = seed
        self.work = work
        self.spark_conf = spark_conf
        self.per_start = max(MIN_SEGMENTS,
                             round(seconds * self.segments_per_s / STARTS))
        # micro-batch b carries segment b; start s writes segments
        # bounds[s] .. bounds[s + 1] - 1
        loads = self.bulk_loads
        size = self.per_start + loads
        self.bounds = [s * size for s in range(STARTS + 1)]
        # bulk loads centred in equal parts of each start's log phase
        self.bulk = frozenset(
            self.bounds[s] + 1 + (2 * k + 1) * (size - 1) // (2 * loads)
            for s in range(STARTS) for k in range(loads))
        # without a snapshot load, the first segment is the initial load
        self.first_log = 0 if self.snapshot_first else 1
        self.params = replace(
            self.params, batches=self.bounds[-1] - self.first_log)
        g = gen.ChangeGen(seed, self.params)
        self.initial = g.initial()
        self.log = g.log(frozenset(b - self.first_log for b in self.bulk))
        self.names = [n for n, _ in gen.columns(self.params.width)]
        self.ddl = gen.schema_ddl(self.params.width)
        self.segments = self.encode()
        self.read_rng = random.Random(seed + 1)
        self.mtime_base = int(time.time()) - 100_000

    def describe(self) -> dict:
        return {"params": self.params.describe(),
                "log_ops": gen.op_counts(self.log),
                "starts": STARTS, "segments_per_start": self.per_start,
                "bulk_segments": sorted(self.bulk)}

    # -- hooks -----------------------------------------------------------

    def encode(self) -> list[bytes]:
        """Source segments, one per micro-batch."""
        raise NotImplementedError

    def yaml(self, src: str) -> str:
        """The streaming pipeline: the file-backed CDC source over ``src``,
        one segment per micro-batch, and the workload's sink section."""
        return f"""
source:
  type: {self.source_kind}
  path: {src}
  schema: "{self.ddl}"
  table: {self.table}
  primary-keys: [id]
  reader-options:
    maxFilesPerTrigger: "1"
{self.source_extra}
{self.sink_yaml()}"""

    def sink_writer(self):
        raise NotImplementedError

    def read(self, spark, model: LwwModel, res: RunResult, tracer,
             batch: str, seg: int) -> None:
        """Issue one timed read against the sink and check it."""
        raise NotImplementedError

    def final_rows(self, spark, root: str | None = None) -> list[tuple]:
        """The sink table's rows (under ``root``, for a lakehouse sink)."""
        raise NotImplementedError

    def table_bytes(self) -> int:
        raise NotImplementedError

    def sink_dir(self) -> str | None:
        """Directory whose writes a traced commit counts."""
        return None

    def project(self, row: tuple) -> tuple | None:
        return row

    def sink_yaml(self, root: str | None = None) -> str:
        """The YAML's sink, transform, route and pipeline sections; a
        lakehouse sink keeps its tables under ``root`` when given."""
        raise NotImplementedError

    def _source_db(self) -> str:
        return os.path.join(self.work, "source.duckdb")

    def prepare(self) -> None:
        if self.snapshot_first:
            gen.write_duckdb_table(self._source_db(), "src_table",
                                   self.params.width, self.initial)

    def snapshot_load(self, spark, tracer, root: str | None = None,
                      trace_id: str = "snapshot") -> float:
        """Load the initial rows with the ``dbapi-polling`` source's first
        poll, a chunked parallel snapshot of the DuckDB source table,
        committed through the batch composer into the same sink table the
        stream then writes, or into a fresh sink under ``root``. Returns
        rows per second."""
        from flink_cdc_dsql_master_spark.compose import BatchComposer
        from flink_cdc_dsql_master_spark.pipeline import parse_pipeline_yaml
        from flink_cdc_dsql_master_spark.sources import DuckDBConnFactory

        chunk = -(-self.params.n_keys // SNAPSHOT_CHUNKS)
        snap = parse_pipeline_yaml(f"""
source:
  type: dbapi-polling
  table-id: {self.table}
  table: src_table
  key: id
  primary-keys: [id]
  schema: "{self.ddl}"
  state-path: {os.path.join(root or self.work, "poll_state")}
  chunk-size: {chunk}
{self.sink_yaml(root)}""")
        snap.source.config["conn-factory"] = DuckDBConnFactory(
            self._source_db())
        t = time.perf_counter()
        with tracer.span("snapshot.load", trace_id):
            BatchComposer(spark, snap).run()
        return len(self.initial) / (time.perf_counter() - t)

    def resnapshot(self, spark, tracer, s: int, res: RunResult) -> None:
        """Repeat the snapshot load in the warm JVM, into a fresh sink
        that is checked against the initial rows and then removed."""
        root = os.path.join(self.work, f"resnapshot{s}")
        res.load_rows_s.append(
            self.snapshot_load(spark, tracer, root, f"snapshot{s}"))
        res.check(f"snapshot load {s}",
                  table_digest(self.final_rows(spark, root))
                  == LwwModel(self.initial, self.project).digest())
        shutil.rmtree(root)

    def close_start(self) -> None:
        pass

    def lookup_keys(self, seg: int, n: int) -> list[int]:
        """Keys for ``n`` point lookups: half touched by the segment just
        committed (so stale reads show), half drawn from all keys."""
        touched = [e.key for e in self.log[seg]]
        space = self.params.n_keys + len(self.log) * self.params.batch_rows
        return ([self.read_rng.choice(touched) for _ in range(n // 2)]
                + [self.read_rng.randrange(space) for _ in range(n - n // 2)])

    # -- the run ---------------------------------------------------------

    def run(self, tracer) -> RunResult:
        os.makedirs(self.work, exist_ok=True)
        self.prepare()
        res = RunResult()
        model = LwwModel(self.initial, self.project)
        for s in range(STARTS):
            self._start(s, model, res, tracer)
        return res

    def _start(self, s: int, model: LwwModel, res: RunResult,
               tracer) -> None:
        from flink_cdc_dsql_master_spark.compose import \
            compose_changelog_stream
        from flink_cdc_dsql_master_spark.pipeline import parse_pipeline_yaml
        from flink_cdc_dsql_master_spark.session import get_spark

        # a restart resumes from the checkpoint, so micro-batch ids
        # continue: micro-batch b carries source segment b
        seg0, end = self.bounds[s], self.bounds[s + 1]
        src = os.path.join(self.work, "src")
        gen.write_segments(src, self.segments[seg0:end], ".seg", seg0,
                           self.mtime_base)
        committed: dict[int, float] = {}
        bench_ms: dict[int, float] = {}

        t0 = time.perf_counter()
        with tracer.span("session.start", f"start{s}"):
            spark = get_spark(f"perfbench-{self.name}",
                              extra_conf=self.spark_conf)
        tracer.bind(spark, s)
        try:
            with tracer.span("pipeline.parse", f"start{s}"):
                pipe = parse_pipeline_yaml(self.yaml(src))
            check_s = 0.0
            if s == 0 and self.snapshot_first:
                res.load_rows_s.append(self.snapshot_load(spark, tracer))
                c = time.perf_counter()
                res.check("snapshot load",
                          table_digest(self.final_rows(spark))
                          == model.digest())
                check_s = time.perf_counter() - c
            inner = self.sink_writer()

            def writer(tid, df, schema, batch_id=None):
                trace_id = f"{s}.{batch_id}"
                with tracer.span("sink", trace_id, watch=self.sink_dir()):
                    inner(tid, df, schema, batch_id)
                committed[batch_id] = time.perf_counter()
                b0 = time.perf_counter()
                log_seg = batch_id - self.first_log
                if log_seg >= 0:
                    model.apply(self.log[log_seg])
                    if batch_id > seg0:
                        self.read(spark, model, res, tracer, trace_id,
                                  log_seg)
                bench_ms[batch_id] = (time.perf_counter() - b0) * 1000

            with tracer.span("compose.start", f"start{s}"):
                q = compose_changelog_stream(
                    spark, pipe, os.path.join(self.work, "ckpt"), writer)
            q.awaitTermination(150)
            if q.isActive:
                q.stop()
                raise RuntimeError(f"{self.name}: stream did not finish")
            res.setup_s.append(committed[seg0] - t0 - check_s)
            # numInputRows is not usable here: it reads 0 when a sink
            # action does not rescan the source, so keep the batches the
            # sink writer saw
            prog = [json.loads(p.json) for p in q.recentProgress]
            prog = [p for p in prog if p["batchId"] in committed]
            res.progress.append(prog)
            trig = {p["batchId"]: p["durationMs"]["triggerExecution"]
                    - bench_ms.get(p["batchId"], 0.0) for p in prog}
            if sorted(trig) != list(range(seg0, end)):
                raise RuntimeError(
                    f"{self.name}: micro-batches {sorted(trig)} for "
                    f"segments {seg0}..{end - 1}")
            if s == 0 and not self.snapshot_first:
                res.load_rows_s.append(len(self.initial) / trig[0] * 1000)
            for b in range(seg0 + 1, end):
                rows = len(self.log[b - self.first_log])
                if b in self.bulk:
                    res.load_rows_s.append(rows / trig[b] * 1000)
                else:
                    res.commit_ms.append(trig[b])
                    res.log_rows += rows
            if s == STARTS - 1:
                res.check("final table",
                          table_digest(self.final_rows(spark))
                          == model.digest())
                res.space_amp = self.table_bytes() / logical_bytes(
                    model.rows.values())
            if s > 0 and self.snapshot_first:
                self.resnapshot(spark, tracer, s, res)
            res.parallelism = _parallelism(spark)
            tracer.collect()
        finally:
            self.close_start()
            spark.stop()

    def skipped_batches(self) -> set[str]:
        """Trace ids of the micro-batches outside the log phase: the one
        that ends each start's set-up, and the bulk loads."""
        return {f"{s}.{b}" for s in range(STARTS)
                for b in range(self.bounds[s], self.bounds[s + 1])
                if b == self.bounds[s] or b in self.bulk}


# -- mysql-paimon -------------------------------------------------------------

# a few buckets for the initial keys, so inserts also open new buckets
BUCKET_TARGET_ROWS = 2_500


class MysqlPaimon(StreamWorkload):
    name = "mysql-paimon"
    table = "shop.app.orders"
    decode_module = "binlog"
    sink_module = "paimon_pk"
    source_kind = "file-binlog"
    source_extra = "  mysql-table: orders"
    params = gen.Params(n_keys=6_000, skew=1.1, insert=0.15, update=0.75,
                        delete=0.10, width=1, batch_rows=1_000, batches=0)
    segments_per_s = 1.0
    snapshot_first = True
    layers = STREAM_LAYERS + (
        "binlog.decode_ms", "binlog.decode_cpu_ms", "sources.snapshot_ms",
        "sources.snapshot_tasks", "paimon_pk.initial_write_ms",
        "paimon_pk.commit_ms", "paimon_pk.jobs_per_commit",
        "paimon_pk.tasks_per_commit", "paimon_pk.driver_only_ms",
        "paimon_pk.files_per_commit", "paimon_pk.bytes_per_commit",
        "paimon_pk.scan_ms", "paimon_pk.scan_files",
        "paimon_pk.scan_bytes_ratio")

    def encode(self) -> list[bytes]:
        enc = gen.BinlogEncoder("shop", "orders", self.params.width)
        return [enc.events(b) for b in self.log]

    def sink_yaml(self, root: str | None = None) -> str:
        return f"""
sink:
  type: paimon
  path: {root or os.path.join(self.work, "paimon")}
  buckets: -1
  dynamic-bucket.target-row-num: {BUCKET_TARGET_ROWS}
transform:
  - source-table: {self.table}
    projection: "*"
route:
  - source-table: {self.table}
    sink-table: lake.ods.orders
pipeline:
  name: mysql-paimon
"""

    def _dest(self, root: str | None = None) -> str:
        return os.path.join(root or os.path.join(self.work, "paimon"),
                            "orders")

    def sink_writer(self):
        from flink_cdc_dsql_master_spark.paimon_pk import (
            DYNAMIC_BUCKET, make_paimon_pk_sink_writer)

        return make_paimon_pk_sink_writer(
            os.path.join(self.work, "paimon"), buckets=DYNAMIC_BUCKET,
            dynamic_bucket_target_rows=BUCKET_TARGET_ROWS)

    def _scan(self, spark, root: str | None = None) -> list[tuple]:
        from flink_cdc_dsql_master_spark.paimon_pk import read_paimon_pk

        return frame_rows(read_paimon_pk(spark, self._dest(root)),
                          self.names)

    def sink_dir(self) -> str:
        return self._dest()

    def read(self, spark, model, res, tracer, batch, seg) -> None:
        if seg % 2:
            return  # a scan after every second commit keeps the run short
        t = time.perf_counter()
        with tracer.span("paimon_pk.scan", batch) as sp:
            rows = self._scan(spark)
        res.read_ms.append((time.perf_counter() - t) * 1000)
        if tracer.enabled:
            sp.attrs["files"] = sum(
                len(files) for d, _, files in os.walk(self._dest())
                if os.path.basename(d).startswith("bucket-"))
            sp.attrs["live_bytes"] = logical_bytes(model.rows.values())
        res.check(f"scan after {batch}",
                  table_digest(rows) == model.digest())

    def final_rows(self, spark, root=None):
        return self._scan(spark, root)

    def table_bytes(self) -> int:
        return dir_bytes(self._dest())

    def close_start(self) -> None:
        # the resident index holds DataFrames of the session about to stop
        from flink_cdc_dsql_master_spark.paimon_pk import clear_index_cache

        clear_index_cache()


# -- pg-dsql ------------------------------------------------------------------

DSQL_HOST, DSQL_REGION = "bench.dsql.us-east-1.on.aws", "us-east-1"
DSQL_SECRET = "bench/Secret+Key"
DSQL_EPOCH = 1_768_478_400.0


class PgDsql(StreamWorkload):
    name = "pg-dsql"
    table = "shop.public.customers"
    decode_module = "pgoutput"
    sink_module = "sinks"
    source_kind = "file-pgoutput"
    params = gen.Params(n_keys=5_000, skew=0.0, insert=0.70, update=0.20,
                        delete=0.10, width=6, batch_rows=1_000, batches=0)
    segments_per_s = 1.35
    bulk_loads = 1
    lookups = 4
    layers = STREAM_LAYERS + (
        "pgoutput.decode_ms", "pgoutput.decode_cpu_ms", "sinks.upsert_ms",
        "sinks.jobs_per_commit", "sinks.collect_rows",
        "iam_auth.token_generations", "iam_auth.token_hit_ratio")

    def encode(self) -> list[bytes]:
        enc = gen.PgoutputEncoder("public", "customers", self.params.width)
        return [enc.inserts(self.initial)] + [enc.events(b)
                                              for b in self.log]

    def project(self, row: tuple) -> tuple | None:
        key, user_id, region, status, qty, amount, *notes = row
        if user_id % 10 == 0:
            return None
        return (key, user_id, region.upper(), f"{status}/{region}",
                qty * 3, amount, len(notes[0]), *notes)

    def sink_names(self) -> list[str]:
        return (["id", "user_id", "region", "status_region", "qty3",
                 "amount", "note_len"] + self.names[6:])

    def sink_yaml(self, root: str | None = None) -> str:
        notes = ", ".join(self.names[6:])
        return f"""
sink:
  type: dsql
  host: {DSQL_HOST}
  region: {DSQL_REGION}
transform:
  - source-table: {self.table}
    projection: "id, user_id, UPPER(region) AS region, CONCAT(status, '/', region) AS status_region, qty * 3 AS qty3, amount, CHAR_LENGTH(note1) AS note_len, {notes}"
    filter: "user_id % 10 <> 0"
route:
  - source-table: {self.table}
    sink-table: dsql.public.customers
pipeline:
  name: pg-dsql
"""

    def _db(self) -> str:
        return os.path.join(self.work, "dsql.duckdb")

    def sink_writer(self):
        """The DSQL writer behind a fake token gate that verifies every
        IAM token, with DuckDB as the database (a restarted pipeline
        starts with an empty token cache)."""
        import duckdb

        from flink_cdc_dsql_master_spark.compose import make_dsql_sink_writer
        from flink_cdc_dsql_master_spark.iam_auth import (Credentials,
                                                          DsqlAuthenticator)
        from flink_cdc_dsql_master_spark.testing import FakeDsqlTokenGate

        clock = lambda: DSQL_EPOCH  # noqa: E731 - fixed: tokens stay fresh
        gate = FakeDsqlTokenGate(clock, DSQL_SECRET, DSQL_HOST, DSQL_REGION)
        auth = DsqlAuthenticator(
            host=DSQL_HOST, region=DSQL_REGION,
            credentials_provider=lambda: Credentials("AKIDBENCH",
                                                     DSQL_SECRET),
            clock=clock, sleep=lambda s: None)
        auth.clear_token_cache()
        path = self._db()

        def connect(user, password):
            gate.check(user, password)
            return duckdb.connect(path)

        return make_dsql_sink_writer({
            "host": DSQL_HOST, "region": DSQL_REGION,
            "connect": connect, "authenticator": auth})

    def _select(self, where: str = "") -> list[tuple]:
        import duckdb

        con = duckdb.connect(self._db())
        try:
            return con.execute(
                f"SELECT {', '.join(self.sink_names())} FROM customers"
                + where).fetchall()
        finally:
            con.close()

    def read(self, spark, model, res, tracer, batch, seg) -> None:
        for k in self.lookup_keys(seg, self.lookups):
            t = time.perf_counter()
            with tracer.span("dsql.lookup", batch):
                got = self._select(f" WHERE id = {int(k)}")
            res.read_ms.append((time.perf_counter() - t) * 1000)
            want = model.get(k)
            res.check(f"lookup {k} after {batch}",
                      got == ([want] if want is not None else []))

    def final_rows(self, spark, root=None):
        return self._select()

    def table_bytes(self) -> int:
        db = self._db()
        wal = db + ".wal"
        return os.path.getsize(db) + (os.path.getsize(wal)
                                      if os.path.exists(wal) else 0)


WORKLOADS = {w.name: w for w in (MysqlPaimon, PgDsql)}

"""The benchmark's workloads, their output checks and their metrics.

Each workload sets up several times (session start, input generation,
warm-up pass) and reports the median as setup_s, then repeats its fixed
unit of work until the measuring window closes and reports the median.
A traced run first repeats the timed window, then a traced window of
the same length, and reports per-layer metrics from the traced one.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

from perfbench import gen
from perfbench.trace import (
    Tracer,
    covered,
    cpu_ticks,
    job_rows,
    last_job_id,
    stage_rows,
    stolen_share,
    wait_listener_bus,
)

SETUP_ROUNDS = 3
PASS_TIMEOUT_S = 120.0
# A run must end within 180 s. A traced run skips its last, optional
# measurement (the local[1] subprocess, the ingest pass) when less time
# is left than it may take on a slow machine, and says so in the env line.
RUN_BUDGET_S = 170.0
INGEST_MIN_LEFT_S = 75.0
ONE_CORE_MIN_LEFT_S = 60.0
_T0 = time.monotonic()


def time_left() -> float:
    return RUN_BUDGET_S - (time.monotonic() - _T0)

# firehose-catchup: the backlog drained per pass
CATCHUP = {"n_polls": 3, "poll_records": 12_000, "n_series": 5_000}
# batch-headline: table scale (1.0 = the shape of the engine's sf0.01)
BATCH_SCALE = 0.5
# batch-headline: the bench.HEADLINE queries in a pass, at least one per
# operator family (relational, tpch, dedup, similarity, text); all 18
# take about twice as long, which the run budget does not allow
BATCH_QUERIES = (
    "q_flagship", "q_agg_basic", "q_window_rank", "q_tpch_q5",
    "q_dedup_simhash", "q_similarity_topk", "q_text_tokens",
)

STREAM_LAYER_METRICS = (
    "source.latest_offset_ms", "source.get_batch_ms", "source.lag_files",
    "firehose.map_tasks", "firehose.map_busy_s", "firehose.rows_in",
    "firehose.rows_parsed", "firehose.speedup_vs_1core",
    "state.rows_total", "state.memory_bytes", "state.rows_updated",
    "state.commit_ms", "state.shuffle_bytes", "state.reduce_busy_s",
    "epoch.count", "epoch.trigger_ms", "epoch.planning_ms",
    "epoch.add_batch_ms", "epoch.wal_commit_ms", "epoch.commit_offsets_ms",
    "epoch.jobs", "epoch.job_gap_s",
    "sink.render_s", "sink.format_s", "sink.push_s", "sink.push_bytes",
)
# one traced pass of q_ingest_stream over the batch tables' documents
INGEST_LAYER_METRICS = (
    "ingest.wall_s", "ingest.epoch_s", "ingest.jobs",
    "ingest.stages", "ingest.tasks", "ingest.job_gap_s",
    "ingest.executor_busy_s", "ingest.utilization",
    "ingest.shuffle_write_bytes", "ingest.spill_bytes", "ingest.ledger_rows",
)
SPARK_LAYER_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_busy_s",
    "spark.utilization", "spark.job_gap_s", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "jvm.gc_s", "jvm.peak_rss_mb", "trace.overhead_ratio",
    "trace.spans",
)
BATCH_QUERY_METRICS = ("wall_s", "build_s", "jobs", "shuffle_bytes")


def layer_metric_names() -> list[str]:
    names = list(SPARK_LAYER_METRICS) + list(STREAM_LAYER_METRICS)
    names += INGEST_LAYER_METRICS
    for q in BATCH_QUERIES:
        names += [f"batch.{q}.{m}" for m in BATCH_QUERY_METRICS]
    return names


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "utilization", "speedup_vs_1core")):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# Run context: session, tracing, accounting
# ---------------------------------------------------------------------------


class Context:
    def __init__(self, seed: int, seconds: float, cpus: int, work: str):
        self.seed = seed
        self.seconds = seconds
        self.cpus = cpus
        self.work = work
        self.spark = None
        self.tracer = Tracer(enabled=False)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def session(self):
        """(Re)start the engine's session; the first call launches the JVM."""
        from confluent_example_firehose_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench")
        return self.spark

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def dir(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d


MIN_PASSES = 3


def _timed_window(
    ctx: Context, one_pass, after_min=None
) -> tuple[list[float], list[float]]:
    """Repeat one_pass() until ctx.seconds have elapsed, and at least
    MIN_PASSES times; after_min() runs once after the MIN_PASSES-th
    pass, a point of fixed work whatever the machine's speed. Returns
    each pass's wall and the share of it the hypervisor stole."""
    walls: list[float] = []
    shares: list[float] = []
    t_end = time.perf_counter() + ctx.seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
        ticks = cpu_ticks()
        walls.append(one_pass())
        shares.append(stolen_share(ticks, cpu_ticks()))
        if after_min is not None and len(walls) == MIN_PASSES:
            after_min()
    return walls, shares


def unstolen(walls: list[float], shares: list[float]) -> list[float]:
    """Each wall less the share of it the hypervisor stole: what the
    benchmark reports, because stolen time on this kind of shared
    machine slows whole runs by up to 1.6x (the raw walls and shares
    are in the env line)."""
    return [w * (1 - s) for w, s in zip(walls, shares)]


# ---------------------------------------------------------------------------
# firehose-catchup
# ---------------------------------------------------------------------------


class Catchup:
    """Closed loop: a backlog of poll files drained through
    file_event_stream -> parse_metrics -> metric_latest_value_stream ->
    push_sink with a recording push_fn, until the last poll's marker has
    been pushed."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.passes = 0

    def setup(self) -> None:
        """Session start, poll generation, and one checked warm-up drain
        of the whole backlog (a drain of its first poll alone leaves the
        first timed passes a third slower)."""
        c = self.ctx
        self.polls = c.dir("polls")
        self.truth = gen.write_polls(self.polls, c.seed, **CATCHUP)
        c.session()
        self.one_pass()

    def one_pass(self) -> float:
        from pyspark.sql import functions as F

        from confluent_example_firehose_spark.operators.firehose import parse_metrics
        from confluent_example_firehose_spark.streaming.pipeline import (
            file_event_stream,
            metric_latest_value_stream,
        )
        from confluent_example_firehose_spark.streaming.sinks import push_sink

        c = self.ctx
        truth = self.truth
        ckpt = c.dir(f"ckpt-{self.passes}")
        self.passes += 1
        pushed: list[str] = []
        done_at: list[float] = []
        done = threading.Event()
        last_marker = gen.marker_line(CATCHUP["n_polls"] - 1) + "\n"

        def push_fn(text: str, epoch_id: int) -> None:
            with c.tracer.span("push", bytes=len(text)):
                pushed.append(text)
                if not done_at and last_marker in text:
                    done_at.append(time.perf_counter())
                    done.set()

        with c.tracer.span("pass", workload="firehose-catchup"):
            t0 = time.perf_counter()
            parsed = parse_metrics(file_event_stream(c.spark, self.polls)).observe(
                "parsed", F.count(F.lit(1)).alias("rows")
            )
            q = push_sink(
                metric_latest_value_stream(parsed), push_fn, ckpt, query_name="catchup"
            )
            deadline = t0 + PASS_TIMEOUT_S
            while not done.wait(0.05) and q.isActive and time.perf_counter() < deadline:
                pass
            wall = (done_at[0] if done_at else time.perf_counter()) - t0
        # let the last epoch report its progress before stopping
        while q.isActive and time.perf_counter() < deadline and (
            sum(p.numInputRows for p in q.recentProgress) < truth.total_rows
        ):
            time.sleep(0.01)
        progress = q.recentProgress
        error = q.exception()
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)

        rows_in = sum(p.numInputRows for p in progress)
        parsed_rows = sum(
            p.observedMetrics["parsed"]["rows"]
            for p in progress
            if "parsed" in p.observedMetrics
        )
        state = gen.replay_pushes(pushed)
        ok = bool(done_at) and error is None
        ok = ok and rows_in == truth.total_rows and parsed_rows == truth.valid_rows
        ok = ok and state == truth.last
        c.count(
            ok,
            f"catchup pass: marker={bool(done_at)} error={error} "
            f"rows_in={rows_in}/{truth.total_rows} "
            f"parsed={parsed_rows}/{truth.valid_rows} "
            f"series={len(state)}/{len(truth.last)} "
            f"values_equal={state == truth.last}",
        )
        return wall

    def throughput(self, wall: float) -> float:
        return self.truth.total_rows / wall

    # -- tracing -----------------------------------------------------------

    def traced(self, fn):
        """Run fn with an epoch listener and to_prometheus_text wrapped at
        the module attribute push_sink reads at call time."""
        import confluent_example_firehose_spark.streaming.sinks as sinks

        c = self.ctx
        progress: list = []
        polls_dir = self.polls
        real = sinks.to_prometheus_text

        def render(df, *a, **kw):
            with c.tracer.span("render"):
                return real(df, *a, **kw)

        listener = _progress_listener(
            lambda p: progress.append(
                (p, len(os.listdir(polls_dir)) - _log_offset(p) - 1)
            )
        )
        c.spark.streams.addListener(listener)
        sinks.to_prometheus_text = render
        try:
            walls = fn()
            wait_listener_bus(c.spark)
        finally:
            sinks.to_prometheus_text = real
            c.spark.streams.removeListener(listener)
        return walls, progress

    def extra_metrics(self, timed_wall: float, env: dict) -> dict[str, float]:
        left = time_left()
        one = _one_core_wall(self.ctx, left - 10) if left > ONE_CORE_MIN_LEFT_S else None
        if one is None:
            env["one_core_skipped"] = f"{left:.0f} s left of the run budget"
            return {}
        env["one_core_wall_s"] = one
        return {"firehose.speedup_vs_1core": one / timed_wall}

    def layer_metrics(self, progress, stages, jobs, n_passes) -> dict[str, float]:
        c = self.ctx
        t = c.tracer
        out: dict[str, float] = {}
        dur = lambda p, k: float(p.durationMs.get(k, 0))  # noqa: E731
        per = lambda v: v / n_passes  # noqa: E731
        ps = [p for p, _ in progress]
        med = lambda k: statistics.median(dur(p, k) for p in ps) if ps else 0.0  # noqa: E731
        out["source.latest_offset_ms"] = med("latestOffset")
        out["source.get_batch_ms"] = med("getBatch")
        out["source.lag_files"] = statistics.mean(l for _, l in progress) if progress else 0.0
        maps = [s for s in stages if s["shuffle_write"] > 0 and s["shuffle_read"] == 0]
        reds = [s for s in stages if s["shuffle_read"] > 0]
        out["firehose.map_tasks"] = sum(s["tasks"] for s in maps) / max(1, len(ps))
        out["firehose.map_busy_s"] = per(sum(s["run_ms"] for s in maps) / 1000)
        out["firehose.rows_in"] = per(sum(p.numInputRows for p in ps))
        out["firehose.rows_parsed"] = per(
            sum(p.observedMetrics["parsed"]["rows"] for p in ps if "parsed" in p.observedMetrics)
        )
        ops = [p.stateOperators[0] for p in ps if p.stateOperators]
        out["state.rows_total"] = float(ops[-1].numRowsTotal) if ops else 0.0
        out["state.memory_bytes"] = float(max((o.memoryUsedBytes for o in ops), default=0))
        out["state.rows_updated"] = per(sum(o.numRowsUpdated for o in ops))
        out["state.commit_ms"] = statistics.median(o.commitTimeMs for o in ops) if ops else 0.0
        out["state.shuffle_bytes"] = per(sum(s["shuffle_write"] for s in maps))
        out["state.reduce_busy_s"] = per(sum(s["run_ms"] for s in reds) / 1000)
        out["epoch.count"] = per(len(ps))
        out["epoch.trigger_ms"] = med("triggerExecution")
        out["epoch.planning_ms"] = med("queryPlanning")
        out["epoch.add_batch_ms"] = med("addBatch")
        out["epoch.wal_commit_ms"] = med("walCommit")
        out["epoch.commit_offsets_ms"] = med("commitOffsets")
        out["epoch.jobs"] = len(jobs) / max(1, len(ps))
        job_iv = _job_intervals(t, jobs)
        out["epoch.job_gap_s"] = per(sum(g for _, _, g in _epochs(t, ps, job_iv)))
        renders = [s for s in t.spans if s.name == "render"]
        out["sink.render_s"] = per(sum(s.dur for s in renders))
        out["sink.format_s"] = per(
            sum(s.dur - covered(job_iv, s.start, s.end) for s in renders)
        )
        pushes = [s for s in t.spans if s.name == "push"]
        out["sink.push_s"] = per(sum(s.dur for s in pushes))
        out["sink.push_bytes"] = per(sum(s.attrs["bytes"] for s in pushes))
        return out


def _progress_listener(on_progress):
    """A StreamingQueryListener that hands every progress report of an
    epoch that read input to on_progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.numInputRows:
                on_progress(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _job_intervals(t: Tracer, jobs: list[dict]) -> list[tuple[float, float]]:
    return [(t.from_epoch_ms(j["start_ms"]), t.from_epoch_ms(j["end_ms"])) for j in jobs]


def _epochs(t: Tracer, ps, job_iv) -> list[tuple[float, float, float]]:
    """Each epoch's (start, end) on the tracer's clock and the time
    inside its addBatch with no Spark job running; records an epoch
    span per progress report."""
    out = []
    for p in ps:
        dur = {k: float(v) / 1000 for k, v in p.durationMs.items()}
        start = t.from_epoch_ms(_iso_ms(p.timestamp))
        end = start + dur.get("triggerExecution", 0.0)
        gap = max(0.0, dur.get("addBatch", 0.0) - covered(job_iv, start, end))
        t.add("epoch", start, end, query=p.name, batch=p.batchId, **p.durationMs)
        out.append((start, end, gap))
    return out


def _log_offset(p) -> int:
    try:
        return int(json.loads(p.sources[0].endOffset)["logOffset"])
    except (ValueError, KeyError, IndexError, TypeError):
        return -1


def _iso_ms(ts: str) -> float:
    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000


# ---------------------------------------------------------------------------
# batch-headline
# ---------------------------------------------------------------------------


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted,
    floats to six significant digits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class Batch:
    """One pass over BATCH_QUERIES, each query materialized by count(),
    in an order the seed permutes."""

    def __init__(self, ctx: Context):
        from confluent_example_firehose_spark.flagship import flagship
        from confluent_example_firehose_spark.registry import query_fns

        self.ctx = ctx
        fns = dict(query_fns())
        fns["q_flagship"] = flagship
        self.ingest_fn = fns["q_ingest_stream"]
        self.order = list(BATCH_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.fns = {q: fns[q] for q in self.order}
        self.results: dict | None = None
        self.query_walls: dict[str, list[float]] = {q: [] for q in self.order}

    def setup(self) -> None:
        """Session start, table generation, and a warm-up pass. The first
        round's warm-up collects every query's result, whose row count
        and order-insensitive hash are the reference; later rounds run
        the checked timed pass."""
        c = self.ctx
        self.tables = c.dir("tables")
        self.rows, self.docs = gen.write_tables(self.tables, c.seed, BATCH_SCALE)
        c.session()
        if self.results is not None:
            self.one_pass()
            return
        self.results = {}
        for q in self.order:
            rows, cols, _ = self._run(q, self.tables, collect=True)
            self.results[q] = (len(rows), table_hash([tuple(r) for r in rows], cols))
        self.ref_count = {q: r[0] for q, r in self.results.items()}

    def _run(self, q: str, tables: str, collect: bool = False):
        from confluent_example_firehose_spark.caching import drain_pending

        c = self.ctx
        with c.tracer.span("query", query=q):
            t0 = time.perf_counter()
            with c.tracer.span("build", query=q):
                df = self.fns[q](c.spark, tables)
            with c.tracer.span("count", query=q):
                res = df.collect() if collect else df.count()
            wall = time.perf_counter() - t0
        cols = df.columns
        drain_pending()
        c.spark.catalog.clearCache()
        return res, cols, wall

    def reference(self) -> None:
        """Once per input, outside the timed region: the DuckDB oracle's
        order-insensitive hash for each query that registers one,
        compared with the engine's first warm-up result."""
        import duckdb

        from confluent_example_firehose_spark.registry import all_queries
        from confluent_example_firehose_spark.schema import TABLE_NAMES

        c = self.ctx
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.tables
        specs = all_queries()
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.tables, t)}.parquet'"
                )
            for q in self.order:
                spec = specs.get(q)
                sql = spec.oracle_sql() if spec else None
                if sql is None:
                    continue
                res = con.execute(sql)
                ocols = [d[0] for d in res.description]
                ok = table_hash(res.fetchall(), ocols) == self.results[q][1]
                c.count(ok, f"{q}: engine result differs from the DuckDB oracle")
        finally:
            con.close()

    def one_pass(self) -> float:
        total = 0.0
        for q in self.order:
            n, _, wall = self._run(q, self.tables)
            total += wall
            self.query_walls[q].append(wall)
            self.ctx.count(
                n == self.ref_count[q],
                f"{q}: count {n} != reference {self.ref_count[q]}",
            )
        return total

    def throughput(self, wall: float) -> float:
        return sum(self.rows.values()) / wall

    def traced(self, fn):
        return fn(), []

    def extra_metrics(self, timed_wall: float, env: dict) -> dict[str, float]:
        """One traced pass of the registered q_ingest_stream over the
        pass's documents table, after the traced window: the ingest
        layer's epochs, jobs and executor time, and its ledger checked
        against the planted documents."""
        from confluent_example_firehose_spark.operators.sketch_stream_queries import (
            SK_BATCHES,
        )
        from confluent_example_firehose_spark.plans.inspect import session_shuffle_stages

        if time_left() < INGEST_MIN_LEFT_S:
            env["ingest_skipped"] = f"{time_left():.0f} s left of the run budget"
            return {}
        c = self.ctx
        t = c.tracer
        spark = c.spark
        progress: list = []
        listener = _progress_listener(progress.append)
        before = set(session_shuffle_stages(spark))
        job0 = last_job_id(spark)
        spark.streams.addListener(listener)
        try:
            with t.span("ingest", query="q_ingest_stream"):
                t0 = time.perf_counter()
                rows = self.ingest_fn(spark, self.tables).collect()
                wall = time.perf_counter() - t0
            wait_listener_bus(spark)
        finally:
            spark.streams.removeListener(listener)
        ledger = {r["doc_id"]: (r["status"], r["dup_of"], r["cluster_id"]) for r in rows}
        truth = gen.ingest_ledger(self.docs, SK_BATCHES)
        wrong = [d for d in truth if ledger.get(d) != truth[d]]
        c.count(
            len(rows) == len(truth) and not wrong,
            f"q_ingest_stream ledger: {len(rows)} rows for {len(truth)} documents, "
            f"{len(wrong)} differ from the planted truth (first: {wrong[:3]})",
        )
        stages = stage_rows(spark, set(session_shuffle_stages(spark)) - before)
        jobs = job_rows(spark, job0)
        _status_spans(t, jobs, stages)
        epochs = _epochs(t, progress, _job_intervals(t, jobs))
        n = max(1, len(epochs))
        in_epoch = lambda ms: any(a <= t.from_epoch_ms(ms) <= b for a, b, _ in epochs)  # noqa: E731
        ep_stages = [s for s in stages if s["start_ms"] and in_epoch(s["start_ms"])]
        busy = sum(s["run_ms"] for s in stages) / 1000
        env["ingest_epoch_s"] = [b - a for a, b, _ in epochs]
        return {
            "ingest.wall_s": wall,
            "ingest.epoch_s": statistics.median(b - a for a, b, _ in epochs) if epochs else 0.0,
            "ingest.jobs": sum(in_epoch(j["start_ms"]) for j in jobs) / n,
            "ingest.stages": len(ep_stages) / n,
            "ingest.tasks": sum(s["tasks"] for s in ep_stages) / n,
            "ingest.job_gap_s": sum(g for _, _, g in epochs) / n,
            "ingest.executor_busy_s": busy,
            "ingest.utilization": busy / (wall * c.cpus),
            "ingest.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "ingest.spill_bytes": sum(s["spill"] for s in stages),
            "ingest.ledger_rows": len(rows),
        }

    def layer_metrics(self, progress, stages, jobs, n_passes) -> dict[str, float]:
        t = self.ctx.tracer
        out: dict[str, float] = {}
        for q in self.order:
            mine = [s for s in t.spans if s.name == "query" and s.attrs["query"] == q]
            builds = [s for s in t.spans if s.name == "build" and s.attrs["query"] == q]
            lo_hi = [(s.start, s.end) for s in mine]
            inside = lambda ms: any(a <= t.from_epoch_ms(ms) <= b for a, b in lo_hi)  # noqa: E731
            out[f"batch.{q}.wall_s"] = statistics.median(s.dur for s in mine)
            out[f"batch.{q}.build_s"] = statistics.median(s.dur for s in builds)
            out[f"batch.{q}.jobs"] = sum(inside(j["start_ms"]) for j in jobs) / n_passes
            out[f"batch.{q}.shuffle_bytes"] = sum(
                s["shuffle_write"] for s in stages if s["start_ms"] and inside(s["start_ms"])
            ) / n_passes
        return out


# ---------------------------------------------------------------------------
# Driver
# ---------------------------------------------------------------------------


def _spin_canaries(cpus: int) -> dict[str, float]:
    import bench

    return {"spin_ms": bench._spin_ms(), "spin_par_ms": bench._spin_par_ms(cpus)}


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its JVM descendants."""
    me = os.getpid()
    parent: dict[int, int] = {}
    names: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, _, rest = stat.rpartition(")")
        parent[int(d)] = int(rest.split()[1])
        names[int(d)] = head.partition("(")[2]

    def descends(pid: int) -> bool:
        while pid > 1:
            pid = parent.get(pid, 0)
            if pid == me:
                return True
        return False

    pids = [me] + [p for p in parent if names.get(p) == "java" and descends(p)]
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def _one_core_wall(ctx: Context, timeout: float) -> float | None:
    """The catch-up pass wall of the same seed at local[1], measured in
    a subprocess with its own JVM after the same SETUP_ROUNDS as the
    timed run (MIN_PASSES passes)."""
    cmd = [
        sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
        "--workload", "firehose-catchup", "--seed", str(ctx.seed),
        "--seconds", "0", "--trace", "0", "--cpus", "1",
    ]
    # its own process group, so a timeout also stops the child's JVM;
    # its scratch files land in this run's work directory
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True, cwd=ctx.work,
    )
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None
    if proc.returncode:
        raise subprocess.CalledProcessError(proc.returncode, cmd, out, err)
    return json.loads(out.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def run(workload: str, seed: int, seconds: float, trace: bool, cpus: int, work: str):
    loadavg = os.getloadavg()[0]
    ctx = Context(seed, seconds, cpus, work)
    wl = Catchup(ctx) if workload == "firehose-catchup" else Batch(ctx)
    env: dict = {"workload": workload, "seed": seed, "cpus": cpus,
                 "loadavg_1m_start": loadavg}
    try:
        setups, setup_shares = [], []
        for _ in range(SETUP_ROUNDS):
            t0, ticks = time.perf_counter(), cpu_ticks()
            wl.setup()
            setups.append(time.perf_counter() - t0)
            setup_shares.append(stolen_share(ticks, cpu_ticks()))
        if isinstance(wl, Batch):
            wl.reference()
        rss: list[float] = []
        walls, shares = _timed_window(ctx, wl.one_pass, lambda: rss.append(peak_rss_mb()))
        wall = statistics.median(unstolen(walls, shares))
        env["setup_rounds_s"] = setups
        env["setup_stolen_shares"] = setup_shares
        env["pass_walls_s"] = walls
        env["pass_stolen_shares"] = shares
        if isinstance(wl, Batch):
            n = len(walls)
            env["query_walls_s"] = {q: v[-n:] for q, v in wl.query_walls.items()}
        env["peak_rss_mb"] = rss[0]
        if not trace:
            metrics = {
                "wall_s": (wall, "s"),
                "throughput_rps": (wl.throughput(wall), "1/s"),
                "setup_s": (statistics.median(unstolen(setups, setup_shares)), "s"),
            }
        else:
            metrics = _traced(ctx, wl, wall, env)
        env.update(_spin_canaries(cpus))
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
    if ctx.errors:
        env["errors"] = ctx.errors[:20]
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, env


def _status_spans(t: Tracer, jobs: list[dict], stages: list[dict]) -> None:
    """Job and stage spans from the status store's rows."""
    for j in jobs:
        t.add("job", t.from_epoch_ms(j["start_ms"]), t.from_epoch_ms(j["end_ms"]), job=j["id"])
    for s in stages:
        if s["start_ms"] and s["end_ms"]:
            attrs = {k: v for k, v in s.items() if k not in ("start_ms", "end_ms")}
            t.add("stage", t.from_epoch_ms(s["start_ms"]), t.from_epoch_ms(s["end_ms"]), **attrs)


def _traced(ctx: Context, wl, timed_wall: float, env: dict) -> dict:
    from confluent_example_firehose_spark.plans.inspect import session_shuffle_stages

    spark = ctx.spark
    wait_listener_bus(spark)
    before = set(session_shuffle_stages(spark))
    job0 = last_job_id(spark)
    ctx.tracer = Tracer(enabled=True)
    t_start = time.perf_counter()
    (walls, shares), progress = wl.traced(lambda: _timed_window(ctx, wl.one_pass))
    t_end = time.perf_counter()
    wait_listener_bus(spark)
    new_keys = set(session_shuffle_stages(spark)) - before
    stages = stage_rows(spark, new_keys)
    jobs = job_rows(spark, job0)
    t = ctx.tracer
    _status_spans(t, jobs, stages)
    n = len(walls)
    metrics = {k: 0.0 for k in layer_metric_names()}
    metrics.update(wl.layer_metrics(progress, stages, jobs, n))
    job_iv = [(t.from_epoch_ms(j["start_ms"]), t.from_epoch_ms(j["end_ms"])) for j in jobs]
    busy = sum(s["run_ms"] for s in stages) / 1000
    metrics.update({
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s["tasks"] for s in stages) / n,
        "spark.executor_busy_s": busy / n,
        "spark.utilization": busy / ((t_end - t_start) * ctx.cpus),
        "spark.job_gap_s": (t_end - t_start - covered(job_iv, t_start, t_end)) / n,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages) / n,
        "spark.spill_bytes": sum(s["spill"] for s in stages) / n,
        "jvm.gc_s": sum(s["gc_ms"] for s in stages) / 1000 / n,
        "jvm.peak_rss_mb": env["peak_rss_mb"],
        "trace.overhead_ratio": statistics.median(unstolen(walls, shares)) / timed_wall,
    })
    metrics.update(wl.extra_metrics(timed_wall, env))
    metrics["trace.spans"] = len(t.spans)
    out_dir = os.path.abspath(".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{env['workload']}-seed{ctx.seed}.jsonl")
    t.dump(path)
    env["span_file"] = path
    env["traced_pass_walls_s"] = walls
    env["traced_pass_stolen_shares"] = shares
    return {k: (float(v), _unit(k)) for k, v in metrics.items()}

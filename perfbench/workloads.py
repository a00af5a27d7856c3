"""The benchmark workloads. Each takes a ``Run`` (session, directories,
tracer, seed, seconds), makes its inputs from the seed, warms up, runs its
ops for the measured window, checks every output, and returns a
``Result``.

An op is one catalog query or one micro-batch; a replay is one
``availableNow`` run of a streaming job over the whole generated input on
a fresh checkpoint and sink.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow.parquet as pq

from data_harvesting_spark.config import HarvestConfig
from perfbench import gen, records

# Input sizes, fixed per workload so every seed gives the same amount of
# work. Chosen so one catalog pass or one replay takes a few seconds at
# local[4]; see perfbench/README.md for the measured times. A window runs
# ``Run.units(nominal)`` units, so it is near ``--seconds`` long on a
# 4-vCPU machine.
CATALOG_PASS_S = 9.0          # nominal seconds of one catalog pass
REPLAY_UNIT_S = 16.0          # nominal seconds of one replay unit (both jobs)
CATALOG_SCALE = 0.01          # × sf1 row counts (sf0.1 = 0.1)
REPLAY_TURNS = 40_000         # FIXTURES.md mix, cut to exactly this many turns
REPLAY_SLICES = 2
EVENTS = 16_000
EVENT_USERS = 150             # SCD2 keys; every slice touches ~all of them
EVENT_SLICES = 2
WATERMARK = "10 minutes"
_CURATE_INPUT = (gen.transcript_slices, (REPLAY_TURNS, REPLAY_SLICES))
_SCD2_INPUT = (gen.event_slices, (EVENTS, EVENT_USERS, EVENT_SLICES))
# Warm-up inputs: the same shapes at a quarter of the size. One replay of
# each pays the JVM's first-run cost (code generation, class loading,
# Python workers, RocksDB) at a fraction of a full replay's time.
_CURATE_WARM = (gen.transcript_slices, (REPLAY_TURNS // 4, REPLAY_SLICES))
_SCD2_WARM = (gen.event_slices, (EVENTS // 4, EVENT_USERS, EVENT_SLICES))
_CURATE_CFG = HarvestConfig(session_gap="30 minutes", watermark_delay=WATERMARK,
                            sink_format="epoch", cap_scope="conversation")


@dataclass
class Result:
    items: float = 0.0                 # input items processed in the window
    window_s: float = 0.0              # measured window wall time
    units: int = 0                     # catalog passes or replay units in the window
    op_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    info: dict = field(default_factory=dict)    # workload-specific e2e
    layers: dict = field(default_factory=dict)  # per-layer metrics


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _pct(xs, q):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def _job_spans(run, jobs, stages, parent_of):
    """Job and stage spans; ``parent_of(t)`` picks the job's parent."""
    ids = {}
    for j in jobs:
        if j["start"] is None or j["end"] is None:
            continue
        ids[j["id"]] = run.tracer.add(f"job {j['id']}", "operators", j["start"],
                                      j["end"], parent=parent_of(j["start"]),
                                      tasks=j["tasks"])
    for s in stages:
        if s["end"] is not None and s["job"] in ids:
            run.tracer.add(f"stage {s['id']}", "operators", s["start"], s["end"],
                           parent=ids[s["job"]], cpu_s=s["cpu_s"])


def _batch_layers(acc: dict, ops: dict, jobs: list, stages: list, units: int) -> None:
    """Per-unit (per catalog pass / per replay) totals of the stage and
    operator records."""
    n = max(units, 1)
    acc.update({
        "batch.jobs": len(jobs) / n,
        "batch.stages": len(stages) / n,
        "batch.tasks": sum(s["tasks"] for s in stages) / n,
        "batch.executor_cpu_s": sum(s["cpu_s"] for s in stages) / n,
        "batch.gc_s": sum(s["gc_s"] for s in stages) / n,
        "batch.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / n / 2**20,
        "batch.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / n / 2**20,
        "batch.spill_mb": sum(s["spill_b"] for s in stages) / n / 2**20,
        "operators.sort_ms": ops["sort_s"] * 1e3 / n,
        "operators.agg_build_ms": ops["agg_build_s"] * 1e3 / n,
        "operators.wscg_ms": ops["wscg_s"] * 1e3 / n,
        "operators.peak_mem_mb": ops["peak_mem_b"] / 2**20,
        "operators.python_rows": ops["python_rows"] / n,
        "operators.python_sent_mb": ops["python_sent_b"] / n / 2**20,
        "operators.python_recv_mb": ops["python_recv_b"] / n / 2**20,
    })


# ------------------------------------------------------------------ catalog

def batch_catalog(run) -> Result:
    """The 15 ``bench.py`` HEADLINE queries through the ``noop`` sink, in
    passes, in a warm session. The DuckDB oracle check runs first: it is
    untimed and doubles as the cold warm-up."""
    import bench
    from data_harvesting_spark.derive import load_transcripts_from_events
    from data_harvesting_spark.plans import catalog
    from scripts.check_oracle import compare_one, duck_connect

    [data] = run.inputs([(gen.catalog_tables, (run.catalog_scale,))])
    queries, oracle = catalog.spark_queries(), catalog.oracle_queries()
    spark, res = run.spark, Result()

    con = duck_connect(data)
    t0 = time.perf_counter()
    for name in bench.HEADLINE:
        row = compare_one(spark, con, data, name, queries[name], oracle.get(name))
        res.attempted += 1
        if not row["hash_match"]:
            res.failed += 1
            res.failures.append(f"{name}: {row['err']}")
    con.close()
    n_turns = load_transcripts_from_events(spark, data).count()
    run.warmup_s = time.perf_counter() - t0

    exec0, job0 = records.last_sql_execution_id(spark), records.last_job_id(spark)
    per_query: dict[str, list[float]] = {n: [] for n in bench.HEADLINE}
    build_ms, plan_ms, driver_s = [], [], 0.0
    passes = res.units = run.units(CATALOG_PASS_S)
    run.window_start()
    for _ in range(passes):
        for name in bench.HEADLINE:
            if run.tracer.enabled:
                with run.tracer.overhead():
                    e_before = records.last_job_id(spark)
            with run.tracer.span(f"query {name}", "bench") as op:
                t_op = time.perf_counter()
                with run.tracer.span("build", "plans"):
                    t_b = time.perf_counter()
                    df = queries[name](spark, data)
                    build = time.perf_counter() - t_b
                t_exec = time.time()
                try:
                    df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 — an op failure is a result
                    res.failed += 1
                    res.failures.append(f"{name}: {exc}"[:300])
                dt = time.perf_counter() - t_op
            res.attempted += 1
            res.op_s.append(dt)
            per_query[name].append(dt)
            if run.tracer.enabled:
                with run.tracer.overhead():
                    jobs, stages = records.jobs_and_stages(spark, e_before)
                    _job_spans(run, jobs, stages, lambda _t, op=op: op)
                    starts = [j["start"] for j in jobs
                              if j["start"] and j["start"] >= t_exec]
                    build_ms.append(build * 1e3)
                    if starts:  # execute call to first job: Catalyst planning
                        run.tracer.add("plan", "plans", t_exec, min(starts), parent=op)
                        plan_ms.append((min(starts) - t_exec) * 1e3)
                    t_end = t_exec + dt - build
                    driver_s += (t_end - t_exec) - records.covered(
                        [(j["start"], j["end"]) for j in jobs
                         if j["start"] and j["end"]], t_exec, t_end)
    res.window_s = run.window_end()
    res.items = len(res.op_s)

    catalog_s = sum(_median(v) for v in per_query.values())
    res.info = {
        "catalog_s": (catalog_s, "s"),
        "curate_pairs_turns_per_s": (n_turns / _median(per_query["curate_pairs"]), "1/s"),
        "input_turns": (n_turns, "count"),
    }
    if run.tracer.enabled:
        for name, ts in per_query.items():
            res.layers[f"plans.q.{name}_s"] = _median(ts)
        with run.tracer.overhead():
            jobs, stages = records.jobs_and_stages(spark, job0)
            _batch_layers(res.layers, records.summarize_operators(
                records.sql_store_metrics(spark, exec0)), jobs, stages, passes)
            res.layers.update({
                "plans.build_ms": _median(build_ms),
                "plans.plan_ms": _median(plan_ms),
                "batch.driver_s": driver_s / passes,
            })
    return res


# ------------------------------------------------------------------ streams

def _progress(q) -> list[dict]:
    import json

    return [json.loads(p.json) for p in q.recentProgress]


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


_PHASES = [  # MicroBatchExecution order inside triggerExecution
    ("latestOffset", "source"), ("walCommit", "streaming.pipeline"),
    ("getBatch", "source"), ("queryPlanning", "plans"),
    ("addBatch", "streaming.pipeline"), ("commitOffsets", "streaming.pipeline"),
]


class _Wrappers:
    """Timing wrappers on the epoch sink, the lineage recorder and the cap
    ledger, installed by the benchmark for traced runs and removed after.
    The jobs resolve these names when they start or at call time, so the
    program itself is unchanged."""

    def __init__(self, run):
        from data_harvesting_spark.streaming import metrics, pipeline, sink

        self.run = run
        self.job = ""  # the job whose replay is running
        self.calls: dict[str, dict[str, list[float]]] = {}
        self.plan_metrics: dict = {}
        self._saved = [
            (sink.SINKS, "epoch", sink.SINKS["epoch"]),
            (sink, "write_epoch", sink.write_epoch),
            (metrics, "record_epoch_lineage", metrics.record_epoch_lineage),
            (pipeline, "_cap_with_ledger", pipeline._cap_with_ledger),
        ]
        write = self._wrap(sink.write_epoch, "sink", "write_epoch", "streaming.sink")
        sink.SINKS["epoch"] = write
        sink.write_epoch = write
        metrics.record_epoch_lineage = self._wrap(
            metrics.record_epoch_lineage, "lineage", "record_epoch_lineage",
            "streaming.sink")
        pipeline._cap_with_ledger = self._wrap(
            pipeline._cap_with_ledger, "ledger", "cap ledger", "streaming.pipeline")

    def _wrap(self, fn, key, name, layer):
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            with self.run.tracer.span(name, layer, floating=True):
                out = fn(*args, **kwargs)
            self.calls.setdefault(self.job, {}).setdefault(key, []).append(
                (time.perf_counter() - t0) * 1e3)
            if key == "sink":
                self._read_batch_plan()
            return out
        return wrapped

    def _read_batch_plan(self):
        """After a micro-batch's sink write its jobs are done, so the
        running query's current ``IncrementalExecution`` holds final
        operator metrics for this batch."""
        with self.run.tracer.overhead():
            for q in self.run.spark.streams.active:
                ex = q._jsq.streamingQuery().lastExecution()
                if ex is not None:
                    self.plan_metrics.update(records.plan_metrics(ex.executedPlan()))

    def remove(self):
        for obj, attr, orig in self._saved:
            if isinstance(obj, dict):
                obj[attr] = orig
            else:
                setattr(obj, attr, orig)


@dataclass
class StreamJob:
    """One streaming job of a stream workload: its inputs, how to start it
    on a fresh sink and checkpoint, and how to check a finished sink."""
    name: str
    src: str          # generated input
    warm: str         # smaller input of the same shape, for the warm-up
    items: int        # input items in ``src`` (turns or events)
    rate_name: str    # name of the job's own items/s metric
    start: object     # (source, sink, ckpt) -> StreamingQuery
    check: object     # sink path -> error text, or None when correct
    info: dict = field(default_factory=dict)


def _stream(run, jobs: list[StreamJob]) -> Result:
    """Closed-loop driver. Warm-up: one untimed replay of each job on its
    warm-up input.
    Window: a fixed number of replay units, each one ``availableNow``
    replay of every job in turn. Every timed sink is checked after the
    window."""
    spark, tracer = run.spark, run.tracer
    res = Result()
    wrappers = _Wrappers(run) if tracer.enabled else None

    def replay(unit: int, job: StreamJob, source: str) -> dict:
        d = os.path.join(run.work, f"{job.name}-{unit}")
        sink = os.path.join(d, "sink")
        if wrappers:
            wrappers.job = job.name
        with tracer.span(f"{job.name} replay {unit}", "bench") as sid:
            t0 = time.time()
            with tracer.span("start job", "plans"):
                q = job.start(source, sink, os.path.join(d, "ckpt"))
            q.awaitTermination()
            t1 = time.time()
        if q.exception() is not None:
            raise RuntimeError(f"{job.name}: {q.exception()}")
        return {"job": job.name, "t0": t0, "t1": t1, "span": sid,
                "progress": _progress(q), "sink": sink}

    t_w = time.perf_counter()
    for job in jobs:
        replay(0, job, job.warm)
    run.warmup_s = time.perf_counter() - t_w
    if wrappers:  # keep only the timed replays' calls
        wrappers.calls.clear()
        wrappers.plan_metrics.clear()
    exec0, job0 = records.last_sql_execution_id(spark), records.last_job_id(spark)
    timed, units = [], run.units(REPLAY_UNIT_S)
    res.units = units
    run.window_start()
    for unit in range(1, units + 1):
        timed += [replay(unit, job, job.src) for job in jobs]
    res.window_s = run.window_end()
    res.items = units * sum(job.items for job in jobs)
    if wrappers:
        wrappers.remove()

    batches = [p for r in timed for p in r["progress"]]
    res.op_s = [p["durationMs"]["triggerExecution"] / 1e3
                for p in batches if p["numInputRows"] > 0]
    res.attempted += len(batches)
    checks = {job.name: job.check for job in jobs}
    for r in timed:
        res.attempted += 1
        err = checks[r["job"]](r["sink"])
        if err:
            res.failed += 1
            res.failures.append(f"{r['job']} replay: {err}")
    for job in jobs:
        wall = sum(r["t1"] - r["t0"] for r in timed if r["job"] == job.name)
        res.info[job.rate_name] = (units * job.items / wall, "1/s")
        res.info.update(job.info)
    if tracer.enabled:
        with tracer.overhead():
            _stream_layers(run, res, jobs, timed, units, exec0, job0, wrappers)
    return res


def _micro_batch_spans(tracer, timed) -> list[tuple[float, float, int]]:
    """Spans for every micro-batch and its ``durationMs`` phases (laid out
    in execution order; Spark records only their lengths). Returns the
    phase intervals, to hang wrapper and job spans under."""
    phases = []
    for r in timed:
        for p in r["progress"]:
            start = _ts(p["timestamp"])
            d = p["durationMs"]
            b = tracer.add(f"{r['job']} micro-batch {p['batchId']}",
                           "streaming.pipeline", start,
                           start + d.get("triggerExecution", 0) / 1e3,
                           parent=r["span"], rows=p["numInputRows"])
            t = start
            for key, layer in _PHASES:
                if d.get(key):
                    end = t + d[key] / 1e3
                    phases.append((t, end, tracer.add(key, layer, t, end, parent=b)))
                    t = end
    return phases


def _job_layers(timed: list[dict], calls: dict, n: int) -> dict:
    """Stream, state, sink and source metrics of one job's timed replays:
    per-batch medians for phase times, per-replay totals for counts."""
    batches = [p for r in timed for p in r["progress"]]
    data = [p for p in batches if p["numInputRows"] > 0]
    states = [records.state_totals(p) for p in batches]

    def per_batch(key):
        return _median([p["durationMs"].get(key, 0) for p in batches])

    trig = [p["durationMs"].get("triggerExecution", 0) for p in data]
    lags = [_ts(p["timestamp"]) - r["t0"] for r in timed for p in r["progress"]
            if p["numInputRows"] > 0]
    files = records.dir_files(timed[-1]["sink"])
    return {
        "batches": len(batches) / n,
        "nodata_batches": (len(batches) - len(data)) / n,
        "batch_p50_ms": _median(trig),
        "batch_max_ms": max(trig, default=0),
        "add_batch_ms": per_batch("addBatch"),
        "planning_ms": per_batch("queryPlanning"),
        "wal_commit_ms": per_batch("walCommit"),
        "commit_offsets_ms": per_batch("commitOffsets"),
        "latest_offset_ms": per_batch("latestOffset"),
        "ingest_lag_p50_s": _median(lags),
        "ingest_lag_p90_s": _pct(lags, 0.9),
        "ledger_ms": _median(calls.get("ledger", [])),
        "sink_write_ms": _median(calls.get("sink", [])),
        "sink_lineage_ms": _median(calls.get("lineage", [])),
        "sink_files": len(files),
        "sink_mb": sum(os.path.getsize(f) for f in files) / 2**20,
        "rows_total": max((s["rows_total"] for s in states), default=0),
        "rows_updated": sum(s["rows_updated"] for s in states) / n,
        "rows_removed": sum(s["rows_removed"] for s in states) / n,
        "memory_mb": max((s["memory_b"] for s in states), default=0) / 2**20,
        "commit_ms": _median([s["commit_ms"] for s in states]),
        "late_dropped": sum(s["late_dropped"] for s in states) / n,
        "rocksdb_flush_ms": _median([s["rocksdb_flush_ms"] for s in states]),
        "rocksdb_checkpoint_ms": _median([s["rocksdb_checkpoint_ms"] for s in states]),
        "rocksdb_write_mb": sum(s["rocksdb_write_b"] for s in states) / n / 2**20,
    }


def _stream_layers(run, res, jobs, timed, units, exec0, job0, wrappers):
    """Per-layer metrics of a traced stream run. ``stream.*``, ``state.*``,
    ``sink.*`` and ``source.*`` describe the workload's first job;
    ``scd2.*`` the SCD2 job when the workload runs one."""
    spark, tracer, L = run.spark, run.tracer, res.layers
    phases = _micro_batch_spans(tracer, timed)

    def parent_of(t):
        inner = [sid for a, b, sid in phases if a <= t <= b]
        return inner[-1] if inner else None

    for s in tracer.spans:
        if s.pop("floating", False):
            s["parent"] = parent_of(s["start"]) or s["parent"]
    jobs_, stages = records.jobs_and_stages(spark, job0)
    _job_spans(run, jobs_, stages, parent_of)
    ops = records.sql_store_metrics(spark, exec0)
    ops.update(wrappers.plan_metrics)
    _batch_layers(L, records.summarize_operators(ops), jobs_, stages, units)
    n_batches = sum(len(r["progress"]) for r in timed)
    L.update({
        "plans.build_ms": _median([(s["end"] - s["start"]) * 1e3
                                   for s in tracer.spans if s["name"] == "start job"]),
        "plans.plan_ms": _median([p["durationMs"].get("queryPlanning", 0)
                                  for r in timed for p in r["progress"]]),
        "batch.driver_s": sum((r["t1"] - r["t0"]) - records.covered(
            [(j["start"], j["end"]) for j in jobs_ if j["start"] and j["end"]],
            r["t0"], r["t1"]) for r in timed) / units,
        "stream.jobs_per_batch": len(jobs_) / max(n_batches, 1),
    })
    first = jobs[0].name
    m = _job_layers([r for r in timed if r["job"] == first],
                    wrappers.calls.get(first, {}), units)
    for key in ("batches", "nodata_batches", "batch_p50_ms", "batch_max_ms",
                "add_batch_ms", "planning_ms", "wal_commit_ms",
                "commit_offsets_ms", "ledger_ms"):
        L[f"stream.{key}"] = m[key]
    for key in ("rows_total", "rows_updated", "rows_removed", "memory_mb",
                "commit_ms", "late_dropped", "rocksdb_flush_ms",
                "rocksdb_checkpoint_ms", "rocksdb_write_mb"):
        L[f"state.{key}"] = m[key]
    L.update({
        "sink.write_ms": m["sink_write_ms"], "sink.lineage_ms": m["sink_lineage_ms"],
        "sink.files": m["sink_files"], "sink.mb": m["sink_mb"],
        "source.latest_offset_ms": m["latest_offset_ms"],
        "source.ingest_lag_p50_s": m["ingest_lag_p50_s"],
        "source.ingest_lag_p90_s": m["ingest_lag_p90_s"],
        # every slice is present when a replay starts
        "source.backlog_max": len(records.dir_files(jobs[0].src)),
    })
    ledger = [r["sink"].rstrip("/") + ".capledger" for r in timed if r["job"] == first]
    L["ledger.rows"], ledger_b = records.ledger_snapshot(ledger[-1])
    L["ledger.mb"] = ledger_b / 2**20
    scd2 = [r for r in timed if r["job"] == "scd2"]
    if scd2:
        m = _job_layers(scd2, wrappers.calls.get("scd2", {}), units)
        job = next(j for j in jobs if j.name == "scd2")
        L.update({
            "scd2.keys_per_batch": job.info["keys_per_batch"][0],
            "scd2.batch_p50_ms": m["batch_p50_ms"],
            "scd2.add_batch_ms": m["add_batch_ms"],
            "scd2.python_sent_mb": L["operators.python_sent_mb"],
            "scd2.python_recv_mb": L["operators.python_recv_mb"],
            "scd2.state_rows_total": m["rows_total"],
            "scd2.state_commit_ms": m["commit_ms"],
            "scd2.rocksdb_flush_ms": m["rocksdb_flush_ms"],
        })


def _canon(pdf, keys):
    return (pdf.sort_values(keys).reset_index(drop=True)
            .reindex(sorted(pdf.columns), axis=1))


_CURATE_KEYS = ["conv_id", "window_start", "example_idx"]


def _transcripts(spark, src: str):
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src + "/*.parquet").where(
        "conv_id != 'conv-flush'")


def curate_reference(spark, src: str):
    """The batch curate the curate job's sinks are checked against:
    event-time sessions from a batch ``session_window`` aggregation,
    curated by ``curate_keyed`` with the conversation cap; sorted pandas."""
    from pyspark.sql import functions as F

    from data_harvesting_spark.operators.curate import curate_keyed

    sessions = (
        _transcripts(spark, src)
        .groupBy(F.session_window("ts", _CURATE_CFG.session_gap).alias("sw"), "conv_id")
        .agg(F.collect_list(F.struct("turn_idx", "role", "text", "tool", "ts")).alias("t"))
        .select("conv_id", F.col("sw.start").alias("window_start"), F.explode("t").alias("t"))
        .select("conv_id", "window_start", "t.*"))
    return _canon(curate_keyed(sessions, _CURATE_CFG).toPandas(), _CURATE_KEYS)


def check_reference(run) -> str | None:
    """Self-check of ``curate_reference``: on the curate input of
    ``run.seed`` it must equal the ``curate_sessions`` kernel runner that
    the parity tests pin. The kernel runs one pandas group per
    conversation, too slow to be the per-run check. Returns an error text,
    or None when the two agree."""
    from data_harvesting_spark.operators.curate_sessions import curate_sessions

    [src] = run.inputs([_CURATE_INPUT])
    want = curate_reference(run.spark, src)
    got = curate_sessions(_transcripts(run.spark, src), _CURATE_CFG).toPandas()
    got = _canon(got[list(want.columns)], _CURATE_KEYS)
    if len(got) != len(want):
        return f"kernel gives {len(got)} curated rows, the reference {len(want)}"
    if not got.equals(want):
        return "kernel and reference rows differ"
    return None


def _curate_job(run) -> StreamJob:
    """``start_curate_job_session_window`` (conversation cap scope, epoch
    sink) over large arrival-ordered transcript slices plus a flush slice.
    A sink must equal ``curate_reference`` of the same input."""
    from dataclasses import replace

    from data_harvesting_spark.streaming.pipeline import start_curate_job_session_window
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    spark = run.spark
    [src, warm] = run.inputs([_CURATE_INPUT, _CURATE_WARM])
    ref = {}

    def reference():
        """Computed once, after the window, in the warm session."""
        if not ref:
            ref["want"] = curate_reference(spark, src)
        return ref["want"]

    def start(source, sink, ckpt):
        cfg = replace(_CURATE_CFG, sink_path=sink, checkpoint_dir=ckpt)
        return start_curate_job_session_window(spark, source, cfg, available_now=True)

    def check(sink):
        want = reference()
        got = read_epoch_sink(spark, sink).toPandas()
        got = _canon(got[got["conv_id"] != "conv-flush"][list(want.columns)], _CURATE_KEYS)
        if len(got) != len(want):
            return f"{len(got)} curated rows, batch reference has {len(want)}"
        if not got.equals(want):
            return "curated rows differ from the batch reference"
        return None

    return StreamJob("curate", src, warm,
                     REPLAY_TURNS, "stream_turns_per_s", start, check,
                     {"input_turns": (REPLAY_TURNS, "count")})


def _scd2_job(run) -> StreamJob:
    """``start_scd2_stream_job`` over a seeded event log with a bounded
    user count: the per-key Python state handler
    (``applyInPandasWithState``). Closed versions in a sink must equal the
    batch ``scd2_user_state`` rows with ``is_current = false``."""
    from data_harvesting_spark.plans.catalog import spark_queries
    from data_harvesting_spark.streaming.pipeline import start_scd2_stream_job
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    spark = run.spark
    [src, warm] = run.inputs([_SCD2_INPUT, _SCD2_WARM])
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    keys = [len(pq.read_table(os.path.join(src, f), columns=["user_id"])
                .column(0).unique()) for f in files]
    ref = {}

    def reference():
        """Computed once, after the window, in the warm session."""
        if not ref:
            d = os.path.join(run.work, "scd2-ref", "events.parquet")
            os.makedirs(d)
            for f in files:
                shutil.copy(os.path.join(src, f), os.path.join(d, f))
            ref["want"] = {
                (r.user_id, r.version, r.state, r.valid_from_us, r.valid_to_us)
                for r in spark_queries()["scd2_user_state"](
                    spark, os.path.dirname(d)).collect()
                if not r.is_current}
        return ref["want"]

    def start(source, sink, ckpt):
        return start_scd2_stream_job(spark, source, sink, ckpt,
                                     watermark_delay=WATERMARK, available_now=True)

    def check(sink):
        want = reference()
        got = read_epoch_sink(spark, sink).collect()
        got_set = {(r.user_id, r.version, r.state, r.valid_from_us, r.valid_to_us)
                   for r in got}
        if len(got_set) != len(got):
            return "duplicate closed versions in the sink"
        if got_set != want:
            return (f"{len(got_set - want)} unexpected and {len(want - got_set)} "
                    "missing closed versions")
        return None

    return StreamJob("scd2", src, warm,
                     EVENTS, "scd2_events_per_s", start, check,
                     {"input_events": (EVENTS, "count"),
                      "keys_per_batch": (_median(keys), "count")})


def stream_replay(run) -> Result:
    """Closed loop over both streaming jobs: each replay unit runs the
    session-window curate job, then the SCD2 job, each ``availableNow``
    over its whole input on a fresh checkpoint. Items are turns plus
    events."""
    # one generation child for all four inputs
    run.inputs([_CURATE_INPUT, _CURATE_WARM, _SCD2_INPUT, _SCD2_WARM])
    return _stream(run, [_curate_job(run), _scd2_job(run)])


WORKLOADS = {
    "batch_catalog": batch_catalog,
    "stream_replay": stream_replay,
}

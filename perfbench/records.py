"""Readers for Spark's own records: the SQL and stage status stores
(through py4j, with the UI disabled), ``StreamingQueryProgress``, and the
sink and cap-ledger files. Each returns plain Python values; nothing here
changes what the engine does."""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40,
}


def parse_metric(text: str | None) -> float:
    """Total of one formatted SQL metric ('1.6 s', '5.4 KiB', '1,000',
    or the multi-line 'total (min, med, max)' form) in seconds, bytes or
    rows."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1].split(" (")[0].replace(",", "")
    parts = line.split()
    try:
        value = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _ms(opt) -> float | None:
    """Scala Option[Date] → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def last_sql_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((e.executionId() for e in _seq(execs)), default=-1)


_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def sql_store_metrics(spark, after_exec_id: int) -> dict:
    """{accumulator id: (node, metric, value)} over every SQL execution
    with id above ``after_exec_id``, values in s, bytes or rows. Actions
    that share a plan share its accumulators, so each id is kept once;
    metrics the store has no value for are skipped."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {}
    for ex in _seq(store.executionsList()):
        eid = ex.executionId()
        if eid <= after_exec_id:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[m.accumulatorId()] = (node.name(), m.name(), parse_metric(v.get()))
    return out


def plan_metrics(plan) -> dict:
    """{accumulator id: (node, metric, value)} read straight from an
    executed physical plan's SQLMetrics, e.g. a micro-batch's
    ``IncrementalExecution``, whose operator metrics the SQL store does
    not aggregate."""
    out, todo = {}, [plan]
    while todo:
        node = todo.pop()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            out[m.id()] = (node.nodeName(), m.name().get() if m.name().isDefined() else kv._1(),
                           m.value() * _RAW_SCALE.get(m.metricType(), 1.0))
        todo += _seq(node.children())
    return out


def summarize_operators(metrics: dict) -> dict:
    """Operator totals: sort time, aggregation build time, whole-stage
    codegen pipeline time, peak memory (max), Python-worker rows/bytes."""
    out = {"sort_s": 0.0, "agg_build_s": 0.0, "wscg_s": 0.0, "peak_mem_b": 0.0,
           "python_rows": 0.0, "python_sent_b": 0.0, "python_recv_b": 0.0}
    for node, metric, x in metrics.values():
        python = "Python" in node or "Pandas" in node
        if metric == "sort time":
            out["sort_s"] += x
        elif metric == "time in aggregation build":
            out["agg_build_s"] += x
        elif metric == "duration" and node.startswith("WholeStageCodegen"):
            out["wscg_s"] += x
        elif metric == "peak memory":
            out["peak_mem_b"] = max(out["peak_mem_b"], x)
        elif python and metric == "number of output rows":
            out["python_rows"] += x
        elif python and metric == "data sent to Python workers":
            out["python_sent_b"] += x
        elif python and metric == "data returned from Python workers":
            out["python_recv_b"] += x
    return out


def last_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((j.jobId() for j in _seq(jobs)), default=-1)


def jobs_and_stages(spark, after_job_id: int) -> tuple[list[dict], list[dict]]:
    """Jobs with id above ``after_job_id`` and every stage they ran, with
    wall-clock intervals (epoch s) and the stage task-metric totals."""
    ss = spark.sparkContext._jsc.sc().statusStore()
    jobs, stages, seen = [], [], set()
    for j in _seq(ss.jobsList(None)):
        if j.jobId() <= after_job_id:
            continue
        jobs.append({"id": j.jobId(), "start": _ms(j.submissionTime()),
                     "end": _ms(j.completionTime()), "tasks": j.numTasks()})
        for sid in _seq(j.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            st = ss.lastStageAttempt(sid)
            start = _ms(st.submissionTime())
            if start is None:  # skipped stage (shuffle output reused)
                continue
            stages.append({
                "id": sid, "job": j.jobId(), "start": start,
                "end": _ms(st.completionTime()), "tasks": st.numTasks(),
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "shuffle_read_b": st.shuffleReadBytes(),
                "shuffle_write_b": st.shuffleWriteBytes(),
                "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            })
    jobs.sort(key=lambda j: j["id"])
    return jobs, stages


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def state_totals(progress: dict) -> dict:
    """One micro-batch's state metrics, summed over every state operator
    (not just ``stateOperators[0]``), RocksDB custom metrics included."""
    out = {"rows_total": 0, "rows_updated": 0, "rows_removed": 0,
           "memory_b": 0, "commit_ms": 0, "late_dropped": 0,
           "rocksdb_flush_ms": 0, "rocksdb_checkpoint_ms": 0,
           "rocksdb_write_b": 0}
    for op in progress.get("stateOperators") or []:
        out["rows_total"] += op.get("numRowsTotal", 0)
        out["rows_updated"] += op.get("numRowsUpdated", 0)
        out["rows_removed"] += op.get("numRowsRemoved", 0)
        out["memory_b"] += op.get("memoryUsedBytes", 0)
        out["commit_ms"] += op.get("commitTimeMs", 0)
        out["late_dropped"] += op.get("numRowsDroppedByWatermark", 0)
        custom = op.get("customMetrics") or {}
        out["rocksdb_flush_ms"] += custom.get("rocksdbCommitFlushLatency", 0)
        out["rocksdb_checkpoint_ms"] += custom.get("rocksdbCommitCheckpointLatency", 0)
        out["rocksdb_write_b"] += custom.get("rocksdbTotalBytesWritten", 0)
    return out


def dir_files(path: str, suffix: str = ".parquet") -> list[str]:
    found = []
    for root, _dirs, files in os.walk(path):
        found += [os.path.join(root, f) for f in files if f.endswith(suffix)]
    return found


def ledger_snapshot(ledger_path: str) -> tuple[int, int]:
    """(rows, bytes) of the newest cap-ledger snapshot."""
    epochs = [int(m.group(1)) for d in os.listdir(ledger_path)
              if (m := re.match(r"_epoch=(\d+)$", d))] if os.path.isdir(ledger_path) else []
    if not epochs:
        return 0, 0
    files = dir_files(os.path.join(ledger_path, f"_epoch={max(epochs)}"))
    return (sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            sum(os.path.getsize(f) for f in files))

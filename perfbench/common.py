"""Spark- and HTTP-side helpers shared by the workloads."""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from harness import PeakRssSampler

# 50 symbols with spread-out base prices, the shape ``bench.py`` uses.
SYMBOLS = {f"S{i:03d}": 10.0 + 7.3 * i for i in range(50)}


@dataclass
class Context:
    """What a workload gets from the runner."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    rss: PeakRssSampler
    layers: dict = field(default_factory=dict)
    trace_s: float = 0.0  # wall seconds spent on tracing-only work

    @contextlib.contextmanager
    def tracing(self):
        """Time a block of work that only a traced run does (statusTracker
        reads, listings, direct-call replays) into ``trace_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.trace_s += time.perf_counter() - t0


@dataclass
class Outcome:
    """What a workload hands back to the runner.

    ``e2e`` holds the workload's values for the uniform end-to-end
    metrics; ``named`` holds the workload's own end-to-end metrics under
    their own names, as ``{name: (value, unit)}``.
    """

    e2e: dict
    named: dict
    attempted: int
    failed: int
    checks_failed: list
    conditions: dict = field(default_factory=dict)


class JobCounter:
    """Spark jobs and tasks launched between ``start()`` and ``stop()``
    (every job of the group when ``start()`` was not called), read from
    ``SparkContext.statusTracker()``. ``group=None`` counts jobs
    outside any job group (calls made by the benchmark or by the HTTP
    handler threads); a streaming query's jobs run in the group named by
    its ``runId``."""

    def __init__(self, spark, group: str | None = None):
        self._st = spark.sparkContext.statusTracker()
        self._group = group
        self._before: set = set()

    def _ids(self) -> set:
        return set(self._st.getJobIdsForGroup(self._group))

    def start(self) -> "JobCounter":
        self._before = self._ids()
        return self

    def stop(self) -> tuple[int, int]:
        """(jobs, tasks) launched since ``start()``."""
        new = self._ids() - self._before
        tasks = 0
        for jid in new:
            info = self._st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = self._st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numTasks
        return len(new), tasks


def http_get(base: tuple[str, int], path: str, timeout: float = 60.0):
    """GET ``path``; returns (status, decoded JSON body)."""
    conn = http.client.HTTPConnection(base[0], base[1], timeout=timeout)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
        return resp.status, json.loads(body) if body else None
    finally:
        conn.close()


def tree_stats(root: str) -> tuple[int, int, int]:
    """(data files, leaf partition directories, bytes) of a parquet
    table or index directory, hidden entries excluded."""
    files = parts = size = 0
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        data = [n for n in names if n.startswith("part-")]
        if data:
            parts += 1
        files += len(data)
        size += sum(os.path.getsize(os.path.join(d, n)) for n in data)
    return files, parts, size


def timed(fn, *args, **kwargs):
    """(result, seconds) of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def stream_layers(layers: dict, progress: list[dict], jobs: int, tasks: int) -> None:
    """Fill the ``sources`` and ``streaming.pipeline`` metrics from a
    query's progress records (``StreamingQueryProgress`` as dicts) and the
    jobs and tasks its job group launched over them."""
    data = [p["durationMs"] for p in progress if p["numInputRows"] > 0]
    layers["sources.get_batch_ms_p50"] = _median(
        [d.get("getBatch", 0) + d.get("latestOffset", 0) for d in data])
    layers["sources.input_rows"] = sum(p["numInputRows"] for p in progress)
    layers["streaming.pipeline.trigger_ms_p50"] = _median([d["triggerExecution"] for d in data])
    layers["streaming.pipeline.add_batch_ms_p50"] = _median([d.get("addBatch", 0) for d in data])
    layers["streaming.pipeline.overhead_ms_p50"] = _median(
        [d["triggerExecution"] - d.get("addBatch", 0) for d in data])
    layers["streaming.pipeline.triggers"] = len(progress)
    layers["streaming.pipeline.jobs_per_trigger"] = jobs / max(1, len(progress))
    layers["streaming.pipeline.tasks_per_trigger"] = tasks / max(1, len(progress))
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    if ops:
        layers["streaming.pipeline.state_rows_end"] = ops[-1]["numRowsTotal"]
        layers["streaming.pipeline.state_bytes_end"] = ops[-1]["memoryUsedBytes"]
        layers["streaming.pipeline.state_commit_ms_p50"] = _median([o["commitTimeMs"] for o in ops])
    layers["streaming.pipeline.rows_dropped_late"] = dropped_late(progress)


def dropped_late(progress: list[dict]) -> int:
    """Rows the query's state operator dropped as late."""
    return sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in progress if p.get("stateOperators")
    )


def sink_layers(layers: dict, table: str, publishes: int) -> None:
    """Fill the ``streaming.sink`` metrics: publishes counted by the
    caller from ``table_version``, and a listing of the table."""
    layers["streaming.sink.publishes"] = publishes
    files, parts, size = tree_stats(table)
    layers["streaming.sink.files_end"] = files
    layers["streaming.sink.partitions_end"] = parts
    layers["streaming.sink.table_bytes_end"] = size


def table_matches_recompute(spark, table: str, trades) -> tuple[int, object]:
    """Compare a serving table with ``multi_frame_candles`` over the
    trades its stream has emitted: every trade before the end of the
    newest MINUTE candle in the table. With a zero watermark the newest
    trades' minute is still open, so the table stops short of them.

    Returns (rows that differ, newest minute in the table)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.candles import multi_frame_candles
    from stock_chart_kafka_streams_spark.schemas import CANDLE_COLUMNS

    got = spark.read.parquet(table).select(*CANDLE_COLUMNS).localCheckpoint(eager=True)
    newest = got.where(F.col("time_frame") == "MINUTE").agg(F.max("bucket_start")).first()[0]
    if newest is None:
        return got.count(), None
    emitted = trades.where(F.col("ts") < F.lit(newest + dt.timedelta(minutes=1)))
    want = multi_frame_candles(emitted).select(*CANDLE_COLUMNS).localCheckpoint(eager=True)
    return got.exceptAll(want).count() + want.exceptAll(got).count(), newest

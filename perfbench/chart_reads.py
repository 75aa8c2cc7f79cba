"""``chart_reads``: uncached chart reads over HTTP from a prebuilt table.

Closed loop, two client threads, read-only. Setup builds a day of
history for 50 symbols at one trade per symbol per second (4.32M
trades): all but the last ``TAIL_MINUTES`` in batch (``generate_trades``
-> ``multi_frame_candles`` -> ``write_candles``), then the tail through
the streaming pipeline, as a live stream extends a backfilled table: one
file spooled by ``write_replay_batches`` and drained by
``start_candle_pipeline(..., available_now=True)`` with all four frames
into the same table. The table is served with
``serve_in_background(CandleStore.from_path(...))`` with the LRU tier off.
Each block of ten requests holds the same ten request shapes (four
recent-N, three range, two point and one symbol listing), shuffled by
the seed; symbols and times are drawn from the seed so that almost no
key repeats. Every seed thus asks for the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import statistics
import threading
import time
from urllib.parse import urlencode

from common import (
    SYMBOLS,
    JobCounter,
    Outcome,
    dropped_late,
    http_get,
    sink_layers,
    stream_layers,
    table_matches_recompute,
    timed,
)
from harness import cpu_seconds, summarize

START = dt.datetime(2024, 1, 1)
# One trade per symbol per second: the rate of the reference's trade
# generator, and ``generate_trades``' default. One day of it keeps the
# set-up within the run budget; the daily MINUTE partition then holds
# 72,000 candles, 60 trades each.
DAYS = 1
TICK_SECONDS = 1
N_TICKS = DAYS * 24 * 3600 // TICK_SECONDS
# Streamed through the pipeline, the rest built in batch: 72,000 trades,
# about one trigger of a backlogged replay of ~1M trades in 14 files.
TAIL_MINUTES = 24
# The ten request shapes of a block: (kind, frame, recent-N or range
# hours, whether a recent read carries a ``now=`` anchor).
BLOCK = [
    ("recent", "MINUTE", 15, True), ("recent", "MINUTE", 240, False),
    ("recent", "HOUR", 60, True), ("recent", "HOUR", 120, False),
    ("range", "MINUTE", 1, False), ("range", "MINUTE", 4, False),
    ("range", "HOUR", 12, False),
    ("point", "MINUTE", 0, False), ("point", "HOUR", 0, False),
    ("symbols", None, 0, False),
]
WARMUP_AFTER = 20  # warm-up requests per client after the tail has landed
CHECK_EVERY = 8  # every 8th completed request is checked against DuckDB
REPLAY_CAP = 40  # direct-call replay length in traced runs


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def make_requests(seed: int, count: int) -> list[dict]:
    """The seeded request sequence: blocks of ``BLOCK`` in shuffled
    order, each request with its own symbol and time drawn from the
    seed."""
    rng = random.Random(seed)
    syms = sorted(SYMBOLS)
    span_min = DAYS * 24 * 60
    out: list[dict] = []
    while len(out) < count:
        block = BLOCK[:]
        rng.shuffle(block)
        for kind, frame, size, anchored in block:
            sym = rng.choice(syms)
            if kind == "recent":
                req = {"kind": kind, "symbol": sym, "frame": frame, "n": size}
                if anchored:
                    # a wall-clock anchor inside the history
                    req["now"] = START + dt.timedelta(minutes=rng.randrange(600, span_min))
            elif kind == "range":
                lo = START + dt.timedelta(minutes=rng.randrange(0, span_min - size * 60))
                req = {"kind": kind, "symbol": sym, "frame": frame,
                       "start": lo, "end": lo + dt.timedelta(hours=size)}
            elif kind == "point":
                # buckets that exist: whole minutes, whole hours
                if frame == "MINUTE":
                    t = START + dt.timedelta(minutes=rng.randrange(span_min))
                else:
                    t = START + dt.timedelta(hours=rng.randrange(span_min // 60))
                req = {"kind": kind, "symbol": sym, "frame": frame, "at": t}
            else:
                req = {"kind": kind}
            out.append(req)
    return out[:count]


def url_of(req: dict) -> str:
    kind = req["kind"]
    if kind == "symbols":
        return "/api/charts/symbols"
    sym = req["symbol"]
    if kind == "recent":
        q = {"minutes": req["n"], "frame": req["frame"]}
        if "now" in req:
            q["now"] = _iso(req["now"])
        return f"/api/charts/recent/{sym}?{urlencode(q)}"
    if kind == "range":
        q = {"from": _iso(req["start"]), "to": _iso(req["end"]), "frame": req["frame"]}
        return f"/api/charts/{sym}?{urlencode(q)}"
    t = req["at"]
    q = {"frame": req["frame"], "year": t.year, "month": t.month, "day": t.day,
         "hour": t.hour, "minute": t.minute}
    return f"/api/charts/point/{sym}?{urlencode(q)}"


def direct_call(store, req: dict):
    """The store call the HTTP route makes for ``req``."""
    kind = req["kind"]
    if kind == "symbols":
        return store.symbol_names()
    if kind == "recent":
        now = _iso(req["now"]) if "now" in req else None
        return store.recent_rows(req["symbol"], req["frame"], n=req["n"], now=now,
                                 max_rows=10_001)
    if kind == "range":
        return store.get_candles(req["symbol"], req["frame"], start=_iso(req["start"]),
                                 end=_iso(req["end"])).collect()
    t = req["at"]
    return store.point_row(req["symbol"], req["frame"], year=t.year, month=t.month,
                           day=t.day, hour=t.hour, minute=t.minute)


class ChartReads:
    def __init__(self, ctx):
        self.ctx = ctx
        self.table = os.path.join(ctx.work, "chart_table")
        self.server = None
        self.next_req = 0
        self.lock = threading.Lock()
        self.warm_errors = 0  # failed warm-up reads, reported in conditions

    # -- setup -----------------------------------------------------------
    def setup(self) -> None:
        from pyspark.sql import functions as F

        from stock_chart_kafka_streams_spark.operators.candles import multi_frame_candles
        from stock_chart_kafka_streams_spark.plans.http_api import serve_in_background
        from stock_chart_kafka_streams_spark.plans.query_api import CandleStore
        from stock_chart_kafka_streams_spark.sources.generator import generate_trades
        from stock_chart_kafka_streams_spark.streaming.sink import write_candles

        ctx = self.ctx
        # generated once: the batch build, the spooled tail and the final
        # check all read the same trades
        self.trades, ctx.layers["sources.generate_s"] = timed(
            lambda: generate_trades(
                ctx.spark, N_TICKS, symbols=SYMBOLS, start=START,
                tick_seconds=TICK_SECONDS, seed=ctx.seed,
            ).localCheckpoint(eager=True))
        cut = F.lit(START + dt.timedelta(days=DAYS, minutes=-TAIL_MINUTES))
        _, secs = timed(
            lambda: write_candles(
                multi_frame_candles(self.trades.where(F.col("ts") < cut)), self.table))
        ctx.layers["operators.candles.batch_recompute_s"] = secs
        self.store = CandleStore.from_path(ctx.spark, self.table)  # LRU tier off
        self.server, _ = serve_in_background(self.store)
        self.addr = self.server.server_address
        self.requests = make_requests(ctx.seed, 20_000)
        # Warm-up: read latency falls by half over the first few hundred
        # requests as the JIT compiles the read path. Both clients read
        # while the last day streams in, then WARMUP_AFTER requests more
        # each.
        warm = make_requests(ctx.seed + 1_000_003, 20_000)
        landed = threading.Event()
        threads = [threading.Thread(target=self._warm, args=(warm[c::2], landed))
                   for c in range(2)]
        for t in threads:
            t.start()
        try:
            self._stream_tail(self.trades.where(F.col("ts") >= cut))
        finally:
            landed.set()
            for t in threads:
                t.join()
        ctx.rss.sample()

    def _warm(self, reqs, landed: threading.Event) -> None:
        after = 0
        for req in reqs:
            try:
                status, _ = http_get(self.addr, url_of(req))
            except Exception:  # noqa: BLE001 — warm-up only; counted, not failed
                status = None
            if status != 200:
                with self.lock:
                    self.warm_errors += 1
            after += landed.is_set()
            if after >= WARMUP_AFTER:
                return

    def _stream_tail(self, tail) -> None:
        """Spool ``tail`` into one file and drain it through the streaming
        pipeline into the table."""
        from pyspark.sql import functions as F

        from stock_chart_kafka_streams_spark.sources.trades import read_trades_json_stream
        from stock_chart_kafka_streams_spark.streaming.pipeline import start_candle_pipeline
        from stock_chart_kafka_streams_spark.streaming.replay import write_replay_batches
        from stock_chart_kafka_streams_spark.streaming.sink import table_version

        ctx = self.ctx
        spool = os.path.join(ctx.work, "spool")
        n, secs = timed(write_replay_batches, tail.withColumn("batch", F.lit(0)), spool)
        ctx.layers["sources.spool_s"] = secs
        # the replay's two far-future heartbeat files would publish
        # heartbeat candles into the served table: leave them out
        files = sorted(f for f in os.listdir(spool) if f.endswith(".json"))
        if len(files) != n or n != 3:
            raise RuntimeError(f"spooled {len(files)} files, expected 3")
        for name in files[1:]:
            os.remove(os.path.join(spool, name))
        version0 = table_version(self.table)[0]
        stream = read_trades_json_stream(ctx.spark, spool)
        q = start_candle_pipeline(stream, self.table, os.path.join(ctx.work, "ckpt"),
                                  available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        self.progress = [json.loads(p.json) for p in q.recentProgress]
        stream_layers(ctx.layers, self.progress,
                      *JobCounter(ctx.spark, group=str(q.runId)).stop())
        sink_layers(ctx.layers, self.table, table_version(self.table)[0] - version0)

    # -- measurement -----------------------------------------------------
    def _take(self) -> int:
        with self.lock:
            i = self.next_req
            self.next_req += 1
            return i

    def _client(self, deadline: float, out: list) -> None:
        while time.perf_counter() < deadline:
            i = self._take()
            req = self.requests[i]
            t0 = time.perf_counter()
            try:
                status, body = http_get(self.addr, url_of(req))
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                status, body = None, repr(exc)
            out.append((i, time.perf_counter() - t0, status, body))

    def measure(self, seconds: float, trace: bool) -> Outcome:
        ctx = self.ctx
        results: list = []
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        deadline = t0 + seconds
        threads = [threading.Thread(target=self._client, args=(deadline, results))
                   for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed = time.perf_counter() - t0
        cpu = cpu_seconds() - cpu0
        ctx.rss.sample()
        results.sort()
        ok = [r for r in results if r[2] == 200]
        lat_ms = [r[1] * 1000.0 for r in ok]
        failed = len(results) - len(ok)
        checks_failed = self._check([r for r in ok if r[0] % CHECK_EVERY == 0])
        s = summarize(lat_ms)
        cpu_ms = cpu * 1000.0 / max(1, len(ok))
        named = {
            "read_p50_ms": (s["p50"], "ms"),
            "reads_per_s": (len(ok) / elapsed, "1/s"),
            "read_samples": (s["n"], "count"),
            "read_cpu_ms": (cpu_ms, "ms"),
            "failed_ratio": ((failed + len(checks_failed)) / max(1, len(results)), "ratio"),
        }
        if "tail" in s:
            named[f"read_p{s['tail_pct']:g}_ms"] = (s["tail"], "ms")
        if trace:
            with ctx.tracing():
                self._replay(ok)
        return Outcome(
            e2e={"op_cpu_ms": cpu_ms},
            named=named,
            attempted=len(results),
            failed=failed,
            checks_failed=checks_failed,
            conditions={"warmup_errors": self.warm_errors},
        )

    # -- output check ----------------------------------------------------
    def _check(self, sample) -> list:
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        glob = f"{self.table}/time_frame=*/bucket_date=*/*.parquet"
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet('{glob}', hive_partitioning=true)"
        )
        bad = []
        for i, _, _, body in sample:
            req = self.requests[i]
            want = expected(con, req)
            got = body if req["kind"] == "symbols" else (
                [body] if req["kind"] == "point" else body)
            if got != want:
                bad.append(f"chart_reads request {i} ({url_of(req)}) differs from DuckDB")
        con.close()
        return bad

    # -- traced replay of direct store calls -----------------------------
    def _replay(self, ok) -> None:
        ctx = self.ctx
        per_kind: dict = {}
        jobs_per: list = []
        overhead: list = []
        for i, http_s, _, _ in ok[:REPLAY_CAP]:
            req = self.requests[i]
            counter = JobCounter(ctx.spark).start()
            _, secs = timed(direct_call, self.store, req)
            n_jobs, _ = counter.stop()
            per_kind.setdefault(req["kind"], []).append(secs * 1000.0)
            jobs_per.append(n_jobs)
            overhead.append((http_s - secs) * 1000.0)
        for kind in ("recent", "range", "point", "symbols"):
            vals = per_kind.get(kind)
            ctx.layers[f"plans.query_api.{kind}_ms_p50"] = statistics.median(vals) if vals else 0.0
        ctx.layers["plans.query_api.jobs_per_request"] = statistics.mean(jobs_per)
        ctx.layers["plans.query_api.jobless_ratio"] = sum(1 for j in jobs_per if j == 0) / len(jobs_per)
        ctx.layers["plans.http_api.overhead_ms_p50"] = statistics.median(overhead)

    def finish(self) -> list:
        """Check the streamed tail: the pipeline read every tail trade,
        dropped none as late, and the table equals the batch recompute of
        the trades it has emitted, missing at most the last tick's
        still-open minute. Returns the failed checks."""
        bad = []
        rows_in = sum(p["numInputRows"] for p in self.progress)
        want = TAIL_MINUTES * 60 // TICK_SECONDS * len(SYMBOLS)
        if rows_in != want:
            bad.append(f"chart_reads: pipeline read {rows_in} rows, {want} spooled")
        if dropped_late(self.progress):
            bad.append(f"chart_reads: {dropped_late(self.progress)} rows dropped as late")
        diff, newest = table_matches_recompute(self.ctx.spark, self.table, self.trades)
        # the last tick's minute is still open; the one before must be in
        last_closed = START + dt.timedelta(days=DAYS, minutes=-2)
        if newest is None or newest < last_closed:
            bad.append(f"chart_reads: newest minute {newest} is before {last_closed}")
        if diff:
            bad.append(f"chart_reads: table differs from the batch recompute in {diff} rows")
        return bad

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()


_FRAME_STEP = {"MINUTE": "1 minute", "HOUR": "1 hour"}


def _rows_json(rows) -> list[dict]:
    return [
        {
            "symbol": r[0], "open": r[1], "high": r[2], "low": r[3], "close": r[4],
            "volume": r[5],
            "startTime": r[6].strftime("%Y-%m-%dT%H:%M:%SZ"),
            "endTime": r[7].strftime("%Y-%m-%dT%H:%M:%SZ"),
        }
        for r in rows
    ]


def expected(con, req: dict):
    """The response ``req`` should get, read from the table with DuckDB."""
    cols = "symbol, open, high, low, close, volume, bucket_start, bucket_end"
    kind = req["kind"]
    if kind == "symbols":
        return [r[0] for r in con.execute("SELECT DISTINCT symbol FROM t ORDER BY 1").fetchall()]
    sym, frame = req["symbol"], req["frame"]
    where = "symbol = ? AND time_frame = ?"
    args: list = [sym, frame]
    if kind == "recent" and "now" not in req:
        rows = con.execute(
            f"SELECT * FROM (SELECT {cols} FROM t WHERE {where} "
            "ORDER BY bucket_start DESC LIMIT ?) ORDER BY bucket_start",
            args + [req["n"]],
        ).fetchall()
    elif kind == "recent":
        rows = con.execute(
            f"SELECT {cols} FROM t WHERE {where} AND bucket_start <= ? AND "
            f"bucket_start > ? - ? * INTERVAL '{_FRAME_STEP[frame]}' ORDER BY bucket_start",
            args + [req["now"], req["now"], req["n"]],
        ).fetchall()
    elif kind == "range":
        rows = con.execute(
            f"SELECT {cols} FROM t WHERE {where} AND bucket_start BETWEEN ? AND ? "
            "ORDER BY bucket_start",
            args + [req["start"], req["end"]],
        ).fetchall()
    else:
        rows = con.execute(
            f"SELECT {cols} FROM t WHERE {where} AND bucket_start = ?",
            args + [req["at"]],
        ).fetchall()
    return _rows_json(rows)

"""Thin HTTP entry points (plans/http_api.py) — reference Q9/Q10 parity.

The HTTP layer must be a pure adapter: every endpoint's JSON equals the
underlying oracle-checked CandleStore query serialized row-for-row, and
the error contract mirrors the reference controller's Spring behavior
(400 for bad params, 404 for unknown routes, 200 + [] for empty
results)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from stock_chart_kafka_streams_spark.operators.candles import multi_frame_candles
from stock_chart_kafka_streams_spark.plans.http_api import (
    candle_rows_to_json,
    serve_in_background,
)
from stock_chart_kafka_streams_spark.plans.query_api import CandleStore
from stock_chart_kafka_streams_spark.sources.trades import load_trades

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def store(spark):
    return CandleStore(
        multi_frame_candles(load_trades(spark, SF_DIR), ["MINUTE", "HOUR"])
    )


@pytest.fixture(scope="module")
def base_url(store):
    server, url = serve_in_background(store)
    yield url
    server.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


def _rows(df):
    return candle_rows_to_json(
        df.select(
            "symbol", "bucket_start", "bucket_end", "open", "high", "low",
            "close", "volume",
        ).collect()
    )


def test_symbols_endpoint_derives_catalog(store, base_url):
    status, got = _get(f"{base_url}/api/charts/symbols")
    assert status == 200
    want = [r["symbol"] for r in store.symbols().collect()]
    assert got == want and len(got) > 0


def test_range_endpoint_equals_store_query(store, base_url, spark):
    sym = store.symbols().collect()[0]["symbol"]
    lo, hi = "2024-01-01T00:00:00", "2026-01-01T00:00:00"
    status, got = _get(
        f"{base_url}/api/charts/{sym}?from={lo}&to={hi}&frame=HOUR"
    )
    assert status == 200
    assert got == _rows(store.get_candles(sym, "HOUR", lo, hi))
    assert len(got) > 0
    # serialized shape is the reference CandleStick record
    assert set(got[0]) == {
        "symbol", "open", "high", "low", "close", "volume",
        "startTime", "endTime",
    }
    assert got[0]["startTime"].endswith("Z")


def test_recent_endpoints_default_60_minutes(store, base_url):
    sym = store.symbols().collect()[0]["symbol"]
    want = _rows(store.recent(sym, "MINUTE", n=60))
    for path in (
        f"/api/charts/recent/{sym}",
        f"/api/charts/{sym}",  # no from/to -> recent branch, like the ref
    ):
        status, got = _get(f"{base_url}{path}")
        assert status == 200
        assert got == want


def test_recent_minutes_param(store, base_url):
    sym = store.symbols().collect()[0]["symbol"]
    status, got = _get(f"{base_url}/api/charts/recent/{sym}?minutes=5")
    assert status == 200
    assert got == _rows(store.recent(sym, "MINUTE", n=5))
    assert len(got) == 5


def test_unknown_symbol_is_empty_200(base_url):
    status, got = _get(f"{base_url}/api/charts/recent/NOPE")
    assert status == 200 and got == []


def _expect_status(url, code):
    try:
        urllib.request.urlopen(url, timeout=120)
    except urllib.error.HTTPError as exc:
        assert exc.code == code
        return json.loads(exc.read())
    raise AssertionError(f"expected HTTP {code} for {url}")


def test_error_contract(base_url):
    body = _expect_status(f"{base_url}/api/charts/X?frame=FORTNIGHT", 400)
    assert "error" in body
    _expect_status(f"{base_url}/api/charts/X?from=notadate&to=2024-01-01T00:00:00", 400)
    _expect_status(f"{base_url}/api/charts/recent/X?minutes=0", 400)
    _expect_status(f"{base_url}/api/charts/recent/X?minutes=abc", 400)
    _expect_status(f"{base_url}/api/nope", 404)
    _expect_status(f"{base_url}/api/charts/a/b/c", 404)


def test_oversized_minutes_is_400_before_any_scan(base_url):
    """round 15 (r14 verdict #1a, the round's weak): ?minutes above the
    result cap can never return anyway, so it must be rejected at PARSE
    time — before the probe or any directory listing/scan runs. Before
    this guard, ?minutes=10000000 forced a full-frame listing+scan per
    request on the hottest endpoint (the cap fired only after the
    scan)."""
    from stock_chart_kafka_streams_spark.plans import query_api as qa

    sentinel = {"untouched": True}
    qa.LAST_RECENT_PROBE.clear()
    qa.LAST_RECENT_PROBE.update(sentinel)
    for url in (
        f"{base_url}/api/charts/recent/X?minutes=10000000",
        f"{base_url}/api/charts/X?minutes=10000000",
        f"{base_url}/api/charts/X?minutes=10000000&fill=true",
    ):
        body = _expect_status(url, 400)
        assert "result cap" in body["error"]
    # the probe never ran — the 400 came before any listing or scan
    assert qa.LAST_RECENT_PROBE == sentinel


def test_unbound_params_ignored_like_spring(store, base_url):
    """minutes binds lazily, only on the branches that use it (ADVICE r7):
    a garbage minutes param on /symbols or on a from/to range query is an
    unbound param Spring would ignore, not a 400."""
    status, got = _get(f"{base_url}/api/charts/symbols?minutes=abc")
    assert status == 200 and len(got) > 0
    sym = store.symbols().collect()[0]["symbol"]
    status, got = _get(
        f"{base_url}/api/charts/{sym}?from=2024-01-01T00:00:00"
        f"&to=2026-01-01T00:00:00&frame=HOUR&minutes=abc"
    )
    assert status == 200 and len(got) > 0


def test_oversized_result_is_400(store, base_url, monkeypatch):
    """An unbounded range (?from=2020&to=2030) must not collect every
    matching candle onto the driver: past MAX_RESULT_ROWS the request is
    the 400 class (r7 verdict #3), and the handler materializes at most
    cap+1 rows deciding that."""
    import stock_chart_kafka_streams_spark.plans.http_api as http_api

    monkeypatch.setattr(http_api, "MAX_RESULT_ROWS", 5)
    sym = store.symbols().collect()[0]["symbol"]
    body = _expect_status(
        f"{base_url}/api/charts/{sym}?from=2020-01-01T00:00:00"
        f"&to=2030-01-01T00:00:00",
        400,
    )
    assert "narrow" in body["error"]
    # under the real cap the same query serves fine
    monkeypatch.setattr(http_api, "MAX_RESULT_ROWS", 10_000)
    status, got = _get(
        f"{base_url}/api/charts/{sym}?from=2020-01-01T00:00:00"
        f"&to=2030-01-01T00:00:00"
    )
    assert status == 200 and len(got) > 5


def test_store_failure_is_500_json(store, base_url, monkeypatch):
    """Non-ValueError store failures (missing table, Py4J errors) must
    surface as a JSON 500 body, not a dropped connection (ADVICE r7)."""

    def _boom(*a, **k):
        raise RuntimeError("serving table unavailable")

    monkeypatch.setattr(store, "recent", _boom)
    body = _expect_status(f"{base_url}/api/charts/recent/X", 500)
    assert "RuntimeError" in body["error"]


def test_iso_instant_localizes_naive_from_system_tz():
    """collect() hands the handler NAIVE datetimes in the driver OS
    timezone; _iso_instant must interpret them as such (ADVICE r7), so
    the emitted instant is correct even on a non-UTC host."""
    import datetime as dt
    import os
    import time as time_mod

    from stock_chart_kafka_streams_spark.plans.http_api import _iso_instant

    prev = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        time_mod.tzset()
        # 2024-01-15 07:00 New York (EST, UTC-5) == 12:00Z
        assert _iso_instant(dt.datetime(2024, 1, 15, 7, 0)) == "2024-01-15T12:00:00Z"
        # aware values pass through unchanged
        aware = dt.datetime(2024, 1, 15, 12, 0, tzinfo=dt.timezone.utc)
        assert _iso_instant(aware) == "2024-01-15T12:00:00Z"
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time_mod.tzset()


def test_http_over_disk_serving_table(spark, tmp_path):
    """The deployment shape: CandleStore.from_path over a partitioned
    serving table written by the MERGE sink, fronted by the HTTP layer —
    the bucket_date partition column must not leak into responses and
    range queries must still serve (pruned) correctly."""
    from stock_chart_kafka_streams_spark.streaming.sink import write_candles

    table = str(tmp_path / "serving")
    candles = multi_frame_candles(load_trades(spark, SF_DIR), ["HOUR"])
    write_candles(candles, table)
    disk_store = CandleStore.from_path(spark, table)
    server, url = serve_in_background(disk_store)
    try:
        status, syms = _get(f"{url}/api/charts/symbols")
        assert status == 200 and len(syms) > 0
        sym = syms[0]
        status, got = _get(
            f"{url}/api/charts/{sym}?from=2024-01-01T00:00:00"
            f"&to=2026-01-01T00:00:00&frame=HOUR"
        )
        assert status == 200 and len(got) > 0
        assert set(got[0]) == {
            "symbol", "open", "high", "low", "close", "volume",
            "startTime", "endTime",
        }
        want = _rows(
            disk_store.get_candles(
                sym, "HOUR", "2024-01-01T00:00:00", "2026-01-01T00:00:00"
            )
        )
        assert got == want
    finally:
        server.shutdown()


# -- gap-fill through the read surface (round 10, r9 verdict #7) ------------


def test_store_get_candles_fill_gaps_continuous(spark):
    """fill_gaps=True must return one row per frame bucket between the
    range's first and last real candle, flat synthetic candles flagged
    is_gap, real rows untouched."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 10, 0)
    rows = [
        ("GAPPY", "MINUTE", t0, t0 + dt.timedelta(minutes=1),
         10.0, 12.0, 9.0, 11.0, 100),
        # 10:01 and 10:02 missing
        ("GAPPY", "MINUTE", t0 + dt.timedelta(minutes=3),
         t0 + dt.timedelta(minutes=4), 11.5, 13.0, 11.0, 12.0, 50),
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, time_frame string, bucket_start timestamp,"
        " bucket_end timestamp, open double, high double, low double,"
        " close double, volume long",
    )
    store = CandleStore(df)
    got = store.get_candles(
        "GAPPY", "MINUTE", "2024-03-01T00:00:00", "2024-03-02T00:00:00",
        fill_gaps=True,
    ).collect()
    assert [r["bucket_start"].minute for r in got] == [0, 1, 2, 3]
    assert [r["is_gap"] for r in got] == [False, True, True, False]
    for r in got[1:3]:
        assert r["open"] == r["high"] == r["low"] == r["close"] == 11.0
        assert r["volume"] == 0
    # sparse default: same query without the flag returns the holes
    assert store.get_candles("GAPPY", "MINUTE").count() == 2


def test_http_fill_param_returns_continuous_series(store, base_url):
    """?fill=true must serve the store's gap-filled result with isGap on
    every row; bad values are the 400 class."""
    sym = store.symbols().collect()[0]["symbol"]
    lo, hi = "2024-01-01T00:00:00", "2026-01-01T00:00:00"
    status, got = _get(
        f"{base_url}/api/charts/{sym}?from={lo}&to={hi}&frame=HOUR&fill=true"
    )
    assert status == 200 and len(got) > 0
    assert all("isGap" in r for r in got)
    want = store.get_candles(sym, "HOUR", lo, hi, fill_gaps=True)
    assert len(got) == want.count()
    # continuity: consecutive rows are exactly one hour apart
    starts = [r["startTime"] for r in got]
    assert sorted(starts) == starts
    # plain query has no isGap key (schema is the reference record)
    status, plain = _get(f"{base_url}/api/charts/{sym}?from={lo}&to={hi}&frame=HOUR")
    assert status == 200 and all("isGap" not in r for r in plain)
    # strict parse
    try:
        urllib.request.urlopen(
            f"{base_url}/api/charts/{sym}?from={lo}&to={hi}&fill=yes", timeout=120
        )
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as exc:
        assert exc.code == 400


def test_http_fill_recent_endpoint(store, base_url):
    sym = store.symbols().collect()[0]["symbol"]
    status, got = _get(
        f"{base_url}/api/charts/{sym}?frame=HOUR&minutes=500&fill=true"
    )
    assert status == 200
    assert all("isGap" in r for r in got)


# -- point-lookup tier: LRU over (symbol, frame, bucket) (round 11) ----------


def test_point_endpoint_round_trip_cache_and_merge_invalidation(spark, tmp_path):
    """r10 verdict #7: the /point route serves a single candle through
    the store's driver-side LRU — cold call is the pruned scan, warm
    repeat is a dict hit (orders of magnitude faster), and a MERGE bumps
    the table version so the next read refetches the NEW value instead
    of serving the cached stale one."""
    import time

    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.streaming.sink import (
        upsert_candles,
        write_candles,
    )

    table = str(tmp_path / "serving_point")
    mf = multi_frame_candles(
        load_trades(spark, SF_DIR), ["MINUTE", "HOUR"]
    ).localCheckpoint()
    write_candles(mf, table)
    store = CandleStore.from_path(spark, table, point_cache_size=64)
    server, url = serve_in_background(store)
    try:
        target = (
            mf.where(F.col("time_frame") == "HOUR")
            .orderBy("symbol", "bucket_start")
            .first()
        )
        b = target["bucket_start"]
        q = (
            f"{url}/api/charts/point/{target['symbol']}?frame=HOUR"
            f"&year={b.year}&month={b.month}&day={b.day}&hour={b.hour}"
        )
        t0 = time.perf_counter()
        status, cold = _get(q)
        cold_s = time.perf_counter() - t0
        assert status == 200
        assert cold["close"] == target["close"]
        assert cold["volume"] == target["volume"]

        t0 = time.perf_counter()
        status, warm = _get(q)
        warm_s = time.perf_counter() - t0
        assert status == 200 and warm == cold
        # dict hit vs Spark job: decisively faster, not statistically
        assert warm_s < cold_s and warm_s < 0.05, (cold_s, warm_s)

        # MERGE a changed candle at the same key -> cache must invalidate
        changed = spark.createDataFrame(
            [(
                target["symbol"], "HOUR", target["bucket_start"],
                target["bucket_end"], target["open"], target["high"],
                target["low"], 123456.78, int(target["volume"]) + 7,
            )],
            "symbol string, time_frame string, bucket_start timestamp, "
            "bucket_end timestamp, open double, high double, low double, "
            "close double, volume long",
        )
        upsert_candles(spark, changed, table)
        status, fresh = _get(q)
        assert status == 200
        assert fresh["close"] == 123456.78
        assert fresh["volume"] == int(target["volume"]) + 7

        # missing candle -> 404; bad params -> 400
        status, _ = _get_err(
            f"{url}/api/charts/point/{target['symbol']}?frame=HOUR"
            f"&year=1971&month=1&day=1&hour=0"
        )
        assert status == 404
        status, _ = _get_err(f"{url}/api/charts/point/{target['symbol']}?frame=HOUR")
        assert status == 400
        status, _ = _get_err(
            f"{url}/api/charts/point/{target['symbol']}?frame=HOUR"
            f"&year=2024&month=abc"
        )
        assert status == 400
    finally:
        server.shutdown()


def _get_err(url):
    try:
        with urllib.request.urlopen(url, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read())


def test_corr_endpoint_round_trip(store, base_url, spark):
    """/corr/<a>/<b> serves w14 through the store's pruned range read:
    values equal the operator over the same candles, strict parse on n,
    unknown pair is an empty 200 (the range-read convention)."""
    from stock_chart_kafka_streams_spark.operators.windows_ext import (
        rolling_correlation,
    )

    syms = [r["symbol"] for r in store.symbols().collect()]
    a, b = syms[0], syms[1]
    status, got = _get(f"{base_url}/api/charts/corr/{a}/{b}?frame=HOUR&n=10")
    assert status == 200 and len(got) > 0
    want = {
        r["bucket_start"]: r["corr_10"]
        for r in rolling_correlation(store.df, a, b, n=10, frame="HOUR").collect()
    }
    assert len(got) == len(want)
    for row in got:
        import datetime as dt

        key = dt.datetime.fromisoformat(row["bucketStart"].replace("Z", "+00:00"))
        w = want[key.replace(tzinfo=None)]
        assert (row["corr"] is None) == (w is None)
        if w is not None:
            assert abs(row["corr"] - w) < 1e-12
        assert row["pair"] == f"{a}/{b}"

    # range-bounded: windows start at the range's first bucket
    status, ranged = _get(
        f"{base_url}/api/charts/corr/{a}/{b}?frame=HOUR&n=10"
        f"&from=2024-01-05T00:00:00&to=2024-01-07T00:00:00"
    )
    assert status == 200 and 0 < len(ranged) < len(got)

    status, _ = _get_err(f"{base_url}/api/charts/corr/{a}/{b}?frame=HOUR&n=1")
    assert status == 400  # n must be >= 2
    status, _ = _get_err(f"{base_url}/api/charts/corr/{a}/{b}?frame=HOUR&n=abc")
    assert status == 400
    status, empty = _get(f"{base_url}/api/charts/corr/nope1/nope2?frame=HOUR")
    assert status == 200 and empty == []
    status, _ = _get_err(f"{base_url}/api/charts/corr/{a}?frame=HOUR")
    assert status == 404  # corr needs two symbols


def test_corrmatrix_endpoint_round_trip(store, base_url):
    """/corrmatrix serves w15 over the stored table: pair set equals the
    store's symbols choose 2, a symbols= filter bounds the matrix, and
    each (a,b) slice equals the pairwise /corr values (correlation is
    symmetric)."""
    syms = [r["symbol"] for r in store.symbols().collect()]
    status, got = _get(f"{base_url}/api/charts/corrmatrix?frame=HOUR&n=10")
    assert status == 200 and len(got) > 0
    pairs = {(r["symA"], r["symB"]) for r in got}
    want_pairs = {
        (a, b) for a in syms for b in syms if a < b
    }
    assert pairs == want_pairs

    a, b = sorted(syms)[:2]
    status, two = _get(
        f"{base_url}/api/charts/corrmatrix?frame=HOUR&n=10&symbols={a},{b}"
    )
    assert status == 200
    assert {(r["symA"], r["symB"]) for r in two} == {(a, b)}
    status, pairwise = _get(f"{base_url}/api/charts/corr/{a}/{b}?frame=HOUR&n=10")
    assert status == 200
    matrix_by_bucket = {r["bucketStart"]: r["corr"] for r in two}
    assert len(pairwise) == len(two)
    for r in pairwise:
        assert matrix_by_bucket[r["bucketStart"]] == r["corr"]

    status, _ = _get_err(f"{base_url}/api/charts/corrmatrix?frame=HOUR&symbols={a}")
    assert status == 400  # at least 2 series
    status, _ = _get_err(f"{base_url}/api/charts/corrmatrix?frame=HOUR&n=0")
    assert status == 400


def test_recent_now_param_round_trip(store, base_url):
    """r13 verdict #1 (second half): the HTTP recent routes accept
    ?now=ISO — the reference's wall-clock-anchored recency
    (CandleStickService.kt:142-147) — and the JSON equals the store's
    pruned now= query; a garbage now is the 400 class."""
    sym = store.symbols().collect()[0]["symbol"]
    anchor = store.recent(sym, "MINUTE", n=1).collect()[0]["bucket_start"]
    now = anchor.isoformat()
    status, got = _get(
        f"{base_url}/api/charts/recent/{sym}?minutes=30&now={now}"
    )
    assert status == 200
    assert got == _rows(store.recent(sym, "MINUTE", n=30, now=now))
    assert len(got) > 0
    # same param on the combined route's recent branch
    status, got2 = _get(f"{base_url}/api/charts/{sym}?minutes=30&now={now}")
    assert status == 200
    assert got2 == got

    # an anchor far in the past bounds the result to buckets <= now
    early = f"{now[:4]}-01-01T00:00:30"
    status, got3 = _get(
        f"{base_url}/api/charts/recent/{sym}?minutes=30&now={early}"
    )
    assert status == 200
    assert all(c["startTime"] <= f"{early}Z" for c in got3)

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/api/charts/recent/{sym}?now=garbage")
    assert e.value.code == 400


def test_recent_rows_lru_and_merge_invalidation(spark, tmp_path):
    """round 14: recent_rows serves the chart poller's repeat recent-N
    from the version-tagged LRU (dict hit, no Spark job) and refetches
    after any MERGE — the point_row discipline applied to the primary
    endpoint."""
    import datetime as dt

    from stock_chart_kafka_streams_spark.streaming.sink import upsert_candles
    from tests.test_streaming import _mk_candle_batch

    table = str(tmp_path / "recent_lru")
    t0 = dt.datetime(2024, 6, 3, 9, 0)
    upsert_candles(
        spark,
        _mk_candle_batch(
            spark, [("X", t0 + dt.timedelta(minutes=i), 1.0 + i, 1)
                    for i in range(3)]
        ),
        table,
    )
    store = CandleStore.from_path(spark, table, point_cache_size=8)
    first = store.recent_rows("X", n=2)
    assert [r["close"] for r in first] == [2.0, 3.0]
    # repeat poll: the SAME cached list object comes back (no recompute)
    assert store.recent_rows("X", n=2) is first

    # a MERGE bumps the version token -> refetch with the new candle
    upsert_candles(
        spark,
        _mk_candle_batch(spark, [("X", t0 + dt.timedelta(minutes=3), 9.0, 1)]),
        table,
    )
    after = store.recent_rows("X", n=2)
    assert after is not first
    assert [r["close"] for r in after] == [3.0, 9.0]

    # uncached store (size 0): plain collect path, same values
    plain = CandleStore.from_path(spark, table)
    assert [r["close"] for r in plain.recent_rows("X", n=2)] == [3.0, 9.0]


def test_symbol_names_lru_and_invalidation(spark, tmp_path):
    """round 15: the /symbols poll endpoint rides the version-tagged
    LRU — a repeat poll between writes is a dict hit; any writer bump
    refetches; the result stays EXACT (a cache miss runs the same scan
    the c9_symbols oracle checks — the sidecar's over-approximating
    membership is deliberately not used)."""
    import datetime as dt

    from stock_chart_kafka_streams_spark.plans.query_api import CandleStore
    from stock_chart_kafka_streams_spark.streaming.sink import upsert_candles
    from tests.test_streaming import _mk_candle_batch

    table = str(tmp_path / "symcat")
    t0 = dt.datetime(2024, 7, 1, 9, 0)
    upsert_candles(
        spark,
        _mk_candle_batch(spark, [("B", t0, 1.0, 1), ("A", t0, 2.0, 1)]),
        table,
    )
    store = CandleStore.from_path(spark, table, point_cache_size=8)
    first = store.symbol_names()
    assert first == ["A", "B"]
    assert store.symbol_names() is first  # dict hit
    upsert_candles(
        spark, _mk_candle_batch(spark, [("C", t0, 3.0, 1)]), table
    )
    assert store.symbol_names() == ["A", "B", "C"]  # invalidated
    # cache disabled -> exact scan every call, still correct
    plain = CandleStore.from_path(spark, table)
    assert plain.symbol_names() == ["A", "B", "C"]
    assert plain.symbol_names() is not plain.symbol_names()


# -- driver-side Arrow serving: no Spark job, UTC instants on any host -------


@pytest.fixture(scope="module")
def disk_url(spark, tmp_path_factory):
    """HTTP server over a MINUTE+HOUR serving table on disk (LRU off)."""
    from stock_chart_kafka_streams_spark.streaming.sink import write_candles

    table = str(tmp_path_factory.mktemp("arrow_serving") / "table")
    write_candles(
        multi_frame_candles(load_trades(spark, SF_DIR), ["MINUTE", "HOUR"]), table
    )
    server, url = serve_in_background(CandleStore.from_path(spark, table))
    yield url, table
    server.shutdown()


def _chart_reads_block(shift: int) -> list[str]:
    """One block of the benchmark's ten request shapes (four recent-N,
    three range, two point, one symbol listing); ``shift`` moves every
    time so that a second block asks for different rows."""
    import datetime as dt

    t = dt.datetime(2024, 1, 10, 9, 0) + dt.timedelta(hours=shift)

    def iso(x):
        return x.strftime("%Y-%m-%dT%H:%M:%S")

    return [
        f"/api/charts/recent/click?minutes=15&frame=MINUTE&now={iso(t)}",
        "/api/charts/recent/click?minutes=240&frame=MINUTE",
        f"/api/charts/recent/click?minutes=60&frame=HOUR&now={iso(t)}",
        "/api/charts/recent/click?minutes=120&frame=HOUR",
        f"/api/charts/click?from={iso(t)}&to={iso(t + dt.timedelta(hours=1))}&frame=MINUTE",
        f"/api/charts/click?from={iso(t)}&to={iso(t + dt.timedelta(hours=4))}&frame=MINUTE",
        f"/api/charts/click?from={iso(t)}&to={iso(t + dt.timedelta(hours=12))}&frame=HOUR",
        f"/api/charts/point/click?frame=MINUTE&year={t.year}&month={t.month}"
        f"&day={t.day}&hour={t.hour}&minute=3",
        f"/api/charts/point/click?frame=HOUR&year={t.year}&month={t.month}"
        f"&day={t.day}&hour={t.hour}",
        "/api/charts/symbols",
    ]


def test_chart_reads_request_shapes_run_no_spark_job(spark, disk_url):
    """Each of the benchmark's ten request shapes is served without a
    Spark job. Handler threads run outside any job group, so the count
    covers the jobs with no group plus the test thread's own group."""
    url, _ = disk_url
    for path in _chart_reads_block(0):  # per-table-version schema inference
        _get_err(f"{url}{path}")
    sc = spark.sparkContext
    st = sc.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    sc.setJobGroup("chart-reads-no-job", "ten request shapes")
    try:
        codes = [_get_err(f"{url}{path}")[0] for path in _chart_reads_block(5)]
    finally:
        sc.setJobGroup(None, None)
    # the points (shapes 8 and 9) may miss in the sparse sf0.001 data
    assert codes[:7] + codes[9:] == [200] * 8 and set(codes[7:9]) <= {200, 404}
    new = (set(st.getJobIdsForGroup(None)) - before) | set(
        st.getJobIdsForGroup("chart-reads-no-job")
    )
    assert not new, f"{len(new)} Spark jobs for ten chart reads"


def test_range_past_the_cap_reads_only_the_directories_it_needs(
    spark, tmp_path, monkeypatch
):
    """A range wider than the result cap is read oldest directory first
    and stops after the directory that brings it to ``MAX_RESULT_ROWS +
    1`` rows: over eight dense MINUTE days (1,440 candles each) a
    2020-2030 range lists and reads seven of them (chunks of 1, 2 and 4
    directories), through ``range_rows`` (whose rows equal
    ``get_candles``' first ``MAX_RESULT_ROWS + 1``) and over HTTP (a
    400)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.plans import http_api
    from stock_chart_kafka_streams_spark.plans.query_api import _ROW_COLS
    from stock_chart_kafka_streams_spark.streaming.sink import write_candles

    days = 8
    t = F.timestamp_seconds(F.lit(1_704_067_200) + F.col("id") * 60)  # 2024-01-01Z
    c = (F.col("id") % 97).cast("double")
    table = str(tmp_path / "cap")
    write_candles(
        spark.range(days * 1440).select(
            F.lit("X").alias("symbol"), F.lit("MINUTE").alias("time_frame"),
            t.alias("bucket_start"),
            (t + F.expr("INTERVAL 1 minute")).alias("bucket_end"),
            c.alias("open"), c.alias("high"), c.alias("low"), c.alias("close"),
            F.col("id").alias("volume"),
        ),
        table,
    )
    store = CandleStore.from_path(spark, table)
    read: list = []
    real = CandleStore._partition_files

    def _count(self, fs, root, frame, dates):
        read.extend(dates)
        return real(self, fs, root, frame, dates)

    monkeypatch.setattr(CandleStore, "_partition_files", _count)
    cap = http_api.MAX_RESULT_ROWS + 1
    need = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(-(-cap // 1440))]
    assert len(need) == 7
    lo, hi = "2020-01-01T00:00:00", "2030-01-01T00:00:00"
    rows = store.range_rows("X", "MINUTE", lo, hi, cap)
    assert read == need
    want = store.get_candles("X", "MINUTE", lo, hi).select(*_ROW_COLS).limit(cap)
    assert [tuple(r) for r in rows] == [tuple(r) for r in want.collect()]

    read.clear()
    server, url = serve_in_background(store)
    try:
        code, body = _get_err(f"{url}/api/charts/X?from={lo}&to={hi}")
    finally:
        server.shutdown()
    assert code == 400 and "exceeds" in body["error"]
    assert read == need


def test_serving_json_equals_duckdb_under_non_utc_tz(spark, disk_url):
    """With the process under ``TZ=America/New_York`` the candle JSON
    still carries the UTC instants DuckDB reads from the same files:
    recent (data- and ``now=``-anchored), range, point and symbols.
    Explicit ``+00:00`` offsets pin the UTC meaning of ``now``/``from``/
    ``to``; naive ones read as host-local time, as PySpark does."""
    import os
    import time as time_mod
    from urllib.parse import quote

    import duckdb

    url, table = disk_url
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW t AS SELECT * FROM read_parquet("
        f"'{table}/time_frame=*/bucket_date=*/*.parquet', hive_partitioning=true)"
    )
    cols = "symbol, open, high, low, close, volume, bucket_start, bucket_end"

    def want(sql, args):
        return [
            {
                "symbol": r[0], "open": r[1], "high": r[2], "low": r[3],
                "close": r[4], "volume": r[5],
                "startTime": r[6].strftime("%Y-%m-%dT%H:%M:%SZ"),
                "endTime": r[7].strftime("%Y-%m-%dT%H:%M:%SZ"),
            }
            for r in con.execute(f"SELECT {cols} FROM t WHERE {sql}", args).fetchall()
        ]

    sym = "symbol = 'click' AND time_frame = 'MINUTE'"
    starts = [r[0].replace(tzinfo=None) for r in con.execute(
        f"SELECT bucket_start FROM t WHERE {sym} ORDER BY 1").fetchall()]
    now = starts[len(starts) // 2]
    # a range across a UTC midnight: the last candle of one day to the
    # first of the next, two partitions
    cut = next(i for i in range(1, len(starts))
               if starts[i].date() != starts[i - 1].date())
    lo, hi = starts[cut - 1], starts[cut]
    utc = quote("+00:00")
    cases = [
        (
            "/api/charts/recent/click?minutes=45",
            "bucket_start IN (SELECT bucket_start FROM t WHERE " + sym
            + " ORDER BY bucket_start DESC LIMIT 45) AND " + sym
            + " ORDER BY bucket_start",
            [],
        ),
        (
            f"/api/charts/recent/click?minutes=600&now={now.isoformat()}{utc}",
            f"{sym} AND bucket_start <= ? AND bucket_start > ? - INTERVAL 600 minute"
            " ORDER BY bucket_start",
            [now, now],
        ),
        (
            f"/api/charts/click?from={lo.isoformat()}{utc}&to={hi.isoformat()}{utc}",
            f"{sym} AND bucket_start BETWEEN ? AND ? ORDER BY bucket_start",
            [lo, hi],
        ),
    ]
    prev = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        time_mod.tzset()
        for path, sql, args in cases:
            status, got = _get_err(f"{url}{path}")
            assert status == 200 and got, path
            assert got == want(sql, args), path
        assert len(got) == 2  # the last range: both sides of midnight
        # point: the calendar parts are read in the session zone (UTC)
        status, got = _get_err(
            f"{url}/api/charts/point/click?frame=MINUTE&year={now.year}"
            f"&month={now.month}&day={now.day}&hour={now.hour}&minute={now.minute}"
        )
        assert status == 200
        assert [got] == want(f"{sym} AND bucket_start = ?", [now])
        status, got = _get_err(f"{url}/api/charts/symbols")
        assert status == 200
        assert got == [r[0] for r in con.execute(
            "SELECT DISTINCT symbol FROM t ORDER BY 1").fetchall()]
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time_mod.tzset()
        con.close()

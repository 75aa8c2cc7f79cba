"""Trade sources: test-data adapter, generic readers, Kafka stream source.

Reference source: Kafka topic ``stock-transactions`` with String key /
JSON ``StockTransaction`` value (``stream/CandlestickAggregator.kt:80-84``,
SURVEY §2.1 S1). Batch/test inputs come from the driver's ``events`` table
(``/root/testdata/sf*/events.parquet``) through a thin column mapping
(FIXTURES.md F1 adapter note): the entity id column becomes ``symbol``,
``value`` → ``price``, the ``props.k`` count → ``quantity``, event time →
``ts``. The oracle harness applies the same mapping in SQL, so the adapter
cannot affect correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_chart_kafka_streams_spark.schemas import KAFKA_TRADE_JSON_SCHEMA
from stock_chart_kafka_streams_spark.session import tune_session

# DuckDB twin of trades_from_events(), used by every candle oracle query.
# Kept next to the Spark adapter so the two mappings evolve together.
TRADES_FROM_EVENTS_SQL = """
    SELECT
        event_type AS symbol,
        value AS price,
        CAST(props->>'$.k' AS BIGINT) AS quantity,
        ts
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
"""


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the driver's events table with ``ts`` as TimestampType.

    The driver parquet stores TIMESTAMP(NANOS). Depending on the Spark
    build/confs that arrives as a nanosecond-epoch long (under
    ``spark.sql.legacy.parquet.nanosAsLong``) or as TIMESTAMP_NTZ with
    microsecond truncation; both are normalized here to the engine's ONE
    timestamp type (``TimestampType``, matching ``TRADE_SCHEMA``), so
    every downstream path — including the Kafka serde round-trip — sees
    identical types. The session timezone is pinned UTC (session.py), so
    the NTZ→LTZ cast does not move the instant.
    """
    tune_session(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type != "timestamp":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def trades_from_events(events: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Map the driver's events table onto the trade schema (FIXTURES F1).

    Nulls in any mapped column are dropped — the reference's
    decode-and-drop behavior (``CandleStickService.kt:77-81``, SURVEY P5);
    ``get_json_object`` yields null for corrupt ``props`` exactly as
    ``from_json`` does on corrupt Kafka payloads.
    """
    return (
        events.select(
            F.col("event_type").alias("symbol"),
            F.col("value").alias("price"),
            F.get_json_object("props", "$.k").cast("long").alias("quantity"),
            F.col("ts"),
            *[F.col(c) for c in extra_cols],
        )
        .where(
            F.col("symbol").isNotNull()
            & F.col("price").isNotNull()
            & F.col("ts").isNotNull()
        )
    )


def load_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet at ``sf_dir`` → trades DataFrame."""
    return trades_from_events(read_events(spark, sf_dir))


def read_trades_csv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """Trade-shaped CSV with the declared schema (no inference pass —
    a second full scan at 100 TB is never acceptable). Malformed rows
    null out under the default PERMISSIVE mode and are dropped (P5)."""
    tune_session(spark)
    df = (
        spark.read.schema(KAFKA_TRADE_JSON_SCHEMA)
        .option("header", str(header).lower())
        .csv(path)
    )
    return df.where(
        F.col("symbol").isNotNull()
        & F.col("price").isNotNull()
        & F.col("ts").isNotNull()
    )


def read_trades_orc(spark: SparkSession, path: str) -> DataFrame:
    """Trade-shaped ORC table (columnar alternative to parquet; same
    declared-schema, no-inference contract as the CSV/JSON readers)."""
    tune_session(spark)
    df = spark.read.schema(KAFKA_TRADE_JSON_SCHEMA).orc(path)
    return df.where(
        F.col("symbol").isNotNull()
        & F.col("price").isNotNull()
        & F.col("ts").isNotNull()
    )


def read_trades_json(spark: SparkSession, path: str) -> DataFrame:
    """Trade-shaped JSON-lines files (batch twin of the streaming JSON
    source); corrupt lines decode to nulls and are dropped (P5)."""
    tune_session(spark)
    df = spark.read.schema(KAFKA_TRADE_JSON_SCHEMA).json(path)
    return df.where(
        F.col("symbol").isNotNull()
        & F.col("price").isNotNull()
        & F.col("ts").isNotNull()
    )


def decode_kafka_trades(raw: DataFrame) -> DataFrame:
    """Decode Kafka-shaped records (binary ``value`` column, JSON payload)
    into trades. Works on both batch and streaming frames, so the parse +
    decode-and-drop semantics (reference P5, ``CandleStickService.kt:77-81``)
    are testable without a broker: ``from_json`` yields null for corrupt
    payloads and those rows are dropped. The drop contract is shared with
    the batch adapter (``trades_from_events``): symbol, price AND ts must
    all be non-null, so a null-price record can never become a candle's
    open/close via min_by/max_by on either path."""
    return (
        raw.select(
            F.from_json(F.col("value").cast("string"), KAFKA_TRADE_JSON_SCHEMA).alias("t")
        )
        .select("t.*")
        .where(
            F.col("symbol").isNotNull()
            & F.col("price").isNotNull()
            & F.col("ts").isNotNull()
        )
    )


def encode_kafka_trades(trades: DataFrame) -> DataFrame:
    """Inverse of ``decode_kafka_trades``: trades → Kafka-wire-shaped frame
    (binary key = UTF-8 symbol, binary value = JSON ``StockTransaction``
    payload with ISO-8601 UTC timestamps, the reference's JsonSerde shape,
    ``config/KafkaConfig.kt:78-85`` + ``JacksonConfig.kt:20``). Microsecond
    precision is preserved on the wire so
    ``decode_kafka_trades(encode_kafka_trades(df)) == df`` exactly — the
    broker-free round-trip contract pinned by tests/test_kafka_serde.py."""
    return trades.select(
        F.col("symbol").cast("binary").alias("key"),
        F.to_json(
            F.struct("symbol", "price", "quantity", "ts"),
            {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX", "timeZone": "UTC"},
        ).cast("binary").alias("value"),
    )


def read_trades_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "stock-transactions",
    starting_offsets: str = "latest",
) -> DataFrame:
    """Streaming trade source from Kafka (reference S1).

    Key is the symbol (duplicated in the JSON value, reference
    ``StockTransactionGenerator.kt:69-72``); the JSON value is authoritative.
    """
    tune_session(spark)
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_kafka_trades(raw)


def read_trades_json_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming trade source from a directory of JSON files — the
    test/replay stand-in for Kafka (one file ≈ one micro-batch when
    ``max_files_per_trigger=1``). Same decode-and-drop contract as the
    batch adapter: null symbol/price/ts rows are dropped."""
    tune_session(spark)
    reader = spark.readStream.schema(KAFKA_TRADE_JSON_SCHEMA).format("json")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return (
        reader.load(path)
        .where(
            F.col("symbol").isNotNull()
            & F.col("price").isNotNull()
            & F.col("ts").isNotNull()
        )
    )

"""Benchmark harness, two tiers:

Tier 1 — headline candle queries (SURVEY §2.8 C1-C7) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. At sf0.1 these are fixed-overhead-bound
(~0.3-0.7 s each), so they guard the planning/overhead envelope, not
throughput.

Tier 2 — data-dominated runs where per-row work is the cost: 25M
generated trades (50 symbols, deterministic random walk via
sources/generator.py) for candle aggregation, rollup, both as-of join
directions and the KMV sketch; the sf documents table replicated 100×
for MinHash-LSH dedup and training-set selection (a 20-replica slice for
the connected-components clustering run, whose rounds-to-convergence is
recorded as tier2.d7_cc_rounds); the embeddings table replicated 100×
with hash-directed noise for LSH top-k and near-dup; plus streaming
drains (noop sink) and a FULL-pipeline replay (distributed JSON spool →
file source → watermark → cascade → MERGE serving sink). Inputs are
materialized to parquet in a temp dir once (generation excluded from
timings) and batch queries run through the noop sink (full distributed
compute, no collect). Disable with SPARK_GRAFT_BENCH_TIER2=0 /
SPARK_GRAFT_BENCH_STREAM=0; scale with SPARK_GRAFT_BENCH_TICKS /
SPARK_GRAFT_BENCH_DOC_REPLICAS / SPARK_GRAFT_BENCH_VEC_REPLICAS /
SPARK_GRAFT_BENCH_TICKS_STREAM / SPARK_GRAFT_BENCH_TICKS_REPLAY.

Prints ONE JSON line:
  {"metric": "candle_c1_c7_total", "value": <tier-1 total sec>,
   "unit": "sec", "queries": {"c1_minute_candles": sec, ...,
   "t2_c1_minute_25m": sec, ...}, "sf": 0.1,
   "tier2": {"trades_rows": N, "documents_rows": N}}

"value" stays the tier-1 C1-C7 total so round-over-round headlines stay
comparable; tier-2 timings appear in "queries" under the t2_ prefix.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from stock_chart_kafka_streams_spark.session import get_spark

BENCH_QUERIES = [
    "c1_minute_candles",
    "c2_hour_candles",
    "c3_day_candles",
    "c4_month_candles",
    "c5_rollup_hour",
    "c6_range_query",
    "c7_recent_n",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time_best(make_df, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        df = make_df()
        t0 = time.perf_counter()
        _noop(df)
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


# ---- heavy similarity entries: ONE builder for in-suite AND isolated ----
#
# r10 verdict #3 (what's wrong): the five heaviest entries drifted
# 20-30% round over round from SUITE STATE (page cache, GC debt, JIT
# residue of whatever ran before), and every apparent regression had to
# be re-adjudicated by hand. The committed number of record for these
# five is now a FRESH-JVM subprocess run (bench.py --isolated <name>),
# with the in-suite measurement kept as a secondary column
# (tier2.insuite_*). One builder function serves both paths so the
# isolated run can never drift out of sync with the in-suite config.

HEAVY_ISOLATED = [
    "t2_s4_knn_200k",
    "t2_s5_pq_topk_200k",
    "t2_s6_ivfpq_matmul_q50_200k",
    "t2_d8_semdedup_50k",
    "t2_d9b_incr_50k_vs_500k",
    # r11 verdict #5: p11 drifted +21% over two rounds with unchanged
    # plans and t7/p4b sat in the same suite-noise band — none were in
    # the isolated set, so every drift became a hand adjudication. Now
    # their numbers of record are fresh-JVM too.
    "t2_p11_dsir_100x",
    "t2_t7_vocabulary_500k",
    "t2_p4b_ngram_decontam_100x",
    # r15 verdict #3: the four entries that flapped 20-60% in-suite every
    # round since r10 (d2 hit 0.62× in r15 with ZERO code on its path
    # changed). Same additions-only pattern: the in-suite number stays
    # recorded as insuite_*, the fresh-JVM number becomes the number of
    # record. replay and index_q50 need per-entry prep (streaming input /
    # a prebuilt index) — see _isolated_main.
    "t2_d2_dedup_minhash_100x",
    "t2_d5_neardup_50k",
    "t2_s6_index_q50_200k",
    "t2_stream_replay_full_1m",
]


def _heavy_entry_df(name: str, trades, docs, embs, **kw):
    """The DataFrame for one heavy bench entry — parameters identical
    between the in-suite and isolated measurements by construction.
    ``kw`` passes diagnostics hooks (e.g. d8's stats dict) through."""
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.dedup import (
        incremental_dedup,
    )
    from stock_chart_kafka_streams_spark.operators.similarity import (
        ivfpq_topk,
        knn_join,
        pq_topk,
        semantic_dedup,
    )

    if name == "t2_s4_knn_200k":
        return knn_join(embs, k=10, n_bits=16, **kw)
    if name == "t2_d2_dedup_minhash_100x":
        from stock_chart_kafka_streams_spark.operators.dedup import (
            dedup_minhash,
        )

        return dedup_minhash(docs, **kw)
    if name == "t2_d5_neardup_50k":
        from stock_chart_kafka_streams_spark.operators.similarity import (
            embedding_neardup_lsh,
        )

        return embedding_neardup_lsh(
            embs.where(F.col("vec_id") < 2_500_000_000),
            threshold=0.99,
            n_bits=14,
            **kw,
        )
    if name == "t2_s6_index_q50_200k":
        # serving against a PREBUILT index: the caller passes index_path
        # (in-suite: the t2_s6_index_build_200k artifact; isolated: the
        # subprocess builds the identical index untimed first)
        return ivfpq_topk(
            embs, embs.where(F.col("vec_id") < 50),
            k=10, n_lists=64, n_probe=8, m=4, n_codes=256,
            sample_num=1, sample_den=16,
            coarse_sample_num=1, coarse_sample_den=16, **kw,
        )
    if name == "t2_s5_pq_topk_200k":
        return pq_topk(
            embs, embs.where(F.col("vec_id") < 5),
            k=10, m=4, n_codes=16, sample_num=1, sample_den=16, **kw,
        )
    if name == "t2_s6_ivfpq_matmul_q50_200k":
        return ivfpq_topk(
            embs, embs.where(F.col("vec_id") < 50),
            k=10, n_lists=64, n_probe=8, m=4, n_codes=256,
            sample_num=1, sample_den=16,
            coarse_sample_num=1, coarse_sample_den=16, **kw,
        )
    if name == "t2_d8_semdedup_50k":
        return semantic_dedup(
            embs.where(F.col("vec_id") < 2_500_000_000),
            threshold=0.99, n_centroids=256, sample_den=10, **kw,
        )
    if name == "t2_d9b_incr_50k_vs_500k":
        return incremental_dedup(
            docs,
            docs.where(F.pmod(F.col("doc_id"), 10) == 0).select(
                (F.col("doc_id") + F.lit(30_000_000_000)).alias("doc_id"),
                "text",
                "lang",
            ),
            mode="minhash",
            **kw,
        )
    if name == "t2_p11_dsir_100x":
        from stock_chart_kafka_streams_spark.operators.sampling import (
            dsir_importance,
        )

        return dsir_importance(
            docs,
            docs.where(F.pmod(F.col("doc_id"), 9973) == 0),
            n_buckets=10_000,
            **kw,
        )
    if name == "t2_t7_vocabulary_500k":
        from stock_chart_kafka_streams_spark.operators.text import (
            vocabulary_stats,
        )

        return vocabulary_stats(docs, top_n=10_000, **kw)
    if name == "t2_p4b_ngram_decontam_100x":
        from stock_chart_kafka_streams_spark.operators.text import (
            ngram_collision_decontaminate,
        )

        return ngram_collision_decontaminate(
            docs, docs.where(F.pmod(F.col("doc_id"), 9973) == 0), **kw
        )
    raise ValueError(f"unknown heavy entry {name!r}")


def _isolated_main(name: str, trades_path: str, docs_path: str, embs_path: str) -> None:
    """Fresh-JVM measurement of one heavy entry (invoked as a subprocess
    by main; also usable standalone against saved tier-2 inputs). Same
    session factory, driver memory, 4 MB scan splits and best-of-2
    discipline as the in-suite run — the only difference is the clean
    JVM. Prints one JSON line."""
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(app_name=f"candle-bench-iso-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    if name == "t2_stream_replay_full_1m":
        # streaming entry (round 16, r15 verdict #3): not a DataFrame
        # builder — regenerate the identical replay input (same tick
        # count, symbols and 12-batch split as the in-suite entry) and
        # time the same start_candle_pipeline run, runs-until-stable.
        _isolated_replay_main(spark)
        spark.stop()
        return
    kw: dict = {}
    prep_dir = None
    if name == "t2_s6_index_q50_200k":
        # serving entry: build the identical index UNTIMED first (the
        # in-suite pair charges the build to t2_s6_index_build_200k),
        # then time only the query batch
        import tempfile as _tempfile

        from stock_chart_kafka_streams_spark.operators.similarity import (
            build_pq_index,
        )

        prep_dir = _tempfile.mkdtemp(prefix="bench-iso-index-")
        idx = os.path.join(prep_dir, "ivfpq")
        build_pq_index(
            spark.read.parquet(embs_path), idx, n_lists=64, m=4,
            n_codes=256, sample_num=1, sample_den=16,
            coarse_sample_num=1, coarse_sample_den=16,
        )
        kw["index_path"] = idx
    trades = spark.read.parquet(trades_path)
    docs = spark.read.parquet(docs_path)
    embs = spark.read.parquet(embs_path)
    # runs-until-stable (round 15, r14 verdict #3's follow-up): the
    # fixed best-of-3 let a 2× in-array spread (s4's [56.2, 31.2, 30.4])
    # decide the committed best by luck of which runs were slow — now
    # the subprocess keeps measuring until its two FASTEST runs agree
    # within 10%, so the recorded best is a reproduced steady-state
    # number, not a one-off. Minimum 3 runs (two early runs can agree on
    # a transiently-slow state — observed: s4 stopping at [53.5, 48.9]
    # in a window where run 3 would have landed ~30), cap 6.
    runs: list[float] = []
    while True:
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(_heavy_entry_df(name, trades, docs, embs))
        runs.append(round(time.perf_counter() - t0, 3))
        if len(runs) >= 6:
            break
        if len(runs) >= 3:
            best2 = sorted(runs)[:2]
            if best2[1] <= best2[0] * 1.10:
                break
    print(json.dumps({"name": name, "sec": min(runs), "runs": runs}))
    if prep_dir is not None:
        shutil.rmtree(prep_dir, ignore_errors=True)
    spark.stop()


def _isolated_replay_main(spark) -> None:
    """Fresh-JVM replay measurement (round 16, r15 verdict #3): the
    replay entry's in-suite runs were wildly bimodal (r15: [113.4,
    43.1]) because it shares the JVM with the whole suite. Identical
    input recipe and timed span to the in-suite entry; runs-until-stable
    like the other isolated entries."""
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.sources.generator import (
        generate_trades,
    )
    from stock_chart_kafka_streams_spark.streaming.pipeline import (
        start_candle_pipeline,
    )
    from stock_chart_kafka_streams_spark.streaming.replay import (
        read_trades_json_stream,
        write_replay_batches,
    )

    work = _tempfile.mkdtemp(prefix="bench-iso-replay-")
    try:
        n_ticks_r = int(
            os.environ.get("SPARK_GRAFT_BENCH_TICKS_REPLAY", "20000")
        )
        symbols = {f"S{i:03d}": 10.0 + 7.3 * i for i in range(50)}
        trades = generate_trades(spark, n_ticks_r, symbols=symbols)
        lo, hi = trades.agg(F.min("ts"), F.max("ts")).collect()[0]
        span = max((hi - lo).total_seconds(), 1.0)
        width = max(int(span // 12) + 1, 1)
        tb = trades.withColumn(
            "batch",
            (
                (F.col("ts").cast("long") - int(lo.timestamp())) / width
            ).cast("long"),
        )
        write_replay_batches(tb, os.path.join(work, "in"))
        runs: list[float] = []
        while True:
            r = len(runs)
            stream = read_trades_json_stream(
                spark, os.path.join(work, "in"), max_files_per_trigger=2
            )
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            q = start_candle_pipeline(
                stream,
                os.path.join(work, f"serving{r}"),
                os.path.join(work, f"ck{r}"),
                frames=["MINUTE", "HOUR"],
                watermark_delay="0 seconds",
                available_now=True,
            )
            q.awaitTermination()
            runs.append(round(time.perf_counter() - t0, 3))
            if len(runs) >= 6:
                break
            if len(runs) >= 3:
                best2 = sorted(runs)[:2]
                if best2[1] <= best2[0] * 1.10:
                    break
        print(
            json.dumps(
                {
                    "name": "t2_stream_replay_full_1m",
                    "sec": min(runs),
                    "runs": runs,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _tier2_inputs(spark, sf_dir: str, work: str) -> tuple[str, str, str, int, int]:
    """Materialize tier-2 inputs (untimed): 25M generated trades, the
    documents table replicated with distinct doc_ids, and the embeddings
    table replicated with deterministic perturbations. Returns
    (trades_path, docs_path, embs_path, n_trades, n_docs)."""
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.sources.generator import generate_trades

    n_ticks = int(os.environ.get("SPARK_GRAFT_BENCH_TICKS", "500000"))
    replicas = int(os.environ.get("SPARK_GRAFT_BENCH_DOC_REPLICAS", "100"))

    # 50 symbols x n_ticks: enough key cardinality that per-key work
    # (as-of sort, candle shuffle) spreads across the local cores the way
    # it would across executors.
    symbols = {f"S{i:03d}": 10.0 + 7.3 * i for i in range(50)}
    trades_path = os.path.join(work, "trades")
    generate_trades(spark, n_ticks, symbols=symbols).write.mode("overwrite").parquet(
        trades_path
    )

    docs_path = os.path.join(work, "documents")
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    # Replication via crossJoin(range) inherits the source file's split
    # count (1-2 for a few-MB parquet), which would serialize every
    # downstream text stage onto 1-2 cores. Repartition to a
    # cluster-representative split count — text work is CPU-bound at
    # ~kB/row, so far below the 128 MB scan-split heuristic.
    (
        docs.crossJoin(spark.range(replicas).withColumnRenamed("id", "rep"))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(100_000_000)).alias("doc_id"),
            "text",
            "lang",
        )
        .repartition(8 * int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .write.mode("overwrite")
        .parquet(docs_path)
    )
    # 100x embeddings with deterministic hash-directed noise per
    # (replica, element). The noise direction must be ~random per replica:
    # a shared perturbation direction leaves every replica of a base
    # vector co-bucketing under SRP, which turns the near-dup candidate
    # set into 100-cliques and the verify join into an ~80 GB
    # vector-payload shuffle (measured: filled the disk). Hash noise
    # decorrelates the replicas so buckets spread like a real corpus.
    vec_replicas = int(os.environ.get("SPARK_GRAFT_BENCH_VEC_REPLICAS", "100"))
    embs_path = os.path.join(work, "embeddings")
    embs = spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet")
    noise = lambda x, i: x + (
        (
            F.pmod(
                F.xxhash64(F.concat_ws(":", F.col("rep"), i)), F.lit(1000)
            ).cast("double")
            / F.lit(1000.0)
            - F.lit(0.5)
        )
        * F.lit(0.2)
    )
    (
        embs.crossJoin(spark.range(vec_replicas).withColumnRenamed("id", "rep"))
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(100_000_000)).alias("vec_id"),
            F.transform(F.col("embedding"), noise).alias("embedding"),
        )
        .repartition(4 * int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .write.mode("overwrite")
        .parquet(embs_path)
    )
    n_trades = n_ticks * len(symbols)
    n_docs = spark.read.parquet(docs_path).count()
    return trades_path, docs_path, embs_path, n_trades, n_docs


def _tier2_queries(
    spark, trades_path: str, docs_path: str, embs_path: str
) -> tuple[dict[str, float], dict[str, int]]:
    from pyspark.sql import functions as F

    # The tier-2 tables are a few hundred MB; with the 128 MB scan-split
    # default Spark packs them into a handful of read partitions, and the
    # CPU-bound text stages (md5/shingle per row) serialize onto those few
    # cores. 4 MB splits model the many-splits layout a 100 TB corpus has
    # naturally. (Tier 1 timings are done before this conf is set.)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))

    from stock_chart_kafka_streams_spark.operators.candles import (
        candles,
        rollup_candles,
    )
    from stock_chart_kafka_streams_spark.operators.dedup import (
        dedup_minhash,
        incremental_dedup,
    )
    from stock_chart_kafka_streams_spark.operators.joins import asof_join
    from stock_chart_kafka_streams_spark.operators.text import (
        c4_clean,
        c4_span_dedup,
        gopher_quality,
        ngram_collision_decontaminate,
        training_set_selection,
        unigram_rarity,
    )
    from stock_chart_kafka_streams_spark.operators.similarity import (
        embedding_neardup_lsh,
        lsh_topk,
        pq_topk,
    )
    from stock_chart_kafka_streams_spark.operators.privacy import (
        pii_scrub,
        with_synthetic_pii,
    )
    from stock_chart_kafka_streams_spark.operators.sampling import (
        dsir_importance,
        epoch_mixture_upsample,
        global_interleave,
        temperature_mixture_sample,
    )
    from stock_chart_kafka_streams_spark.operators.windows_ext import (
        kmv_daily_stats,
        rolling_correlation_matrix,
    )

    trades = spark.read.parquet(trades_path)
    docs = spark.read.parquet(docs_path)
    embs = spark.read.parquet(embs_path)

    def j3():
        mc = candles(trades, "MINUTE").select(
            "symbol",
            "bucket_end",
            F.col("close").alias("prev_close"),
            F.col("bucket_start").alias("prev_bucket_start"),
        )
        return asof_join(
            trades.select("symbol", "ts", "price"),
            mc,
            on=["symbol"],
            left_ts="ts",
            right_ts="bucket_end",
            payload=["prev_close", "prev_bucket_start"],
        )

    def j6():
        mc = candles(trades, "MINUTE").select(
            "symbol",
            F.col("open").alias("next_open"),
            F.col("bucket_start").alias("next_bucket_start"),
        )
        return asof_join(
            trades.select("symbol", "ts", "price"),
            mc,
            on=["symbol"],
            left_ts="ts",
            right_ts="next_bucket_start",
            payload=["next_open", "next_bucket_start"],
            direction="forward",
        )

    makers = {
        "t2_c1_minute_25m": lambda: candles(trades, "MINUTE"),
        "t2_c5_rollup_hour_25m": lambda: rollup_candles(
            candles(trades, "MINUTE"), "HOUR"
        ),
        "t2_j3_asof_prev_close_25m": j3,
        "t2_j6_asof_next_open_25m": j6,
        "t2_d2_dedup_minhash_100x": lambda: _heavy_entry_df(
            "t2_d2_dedup_minhash_100x", trades, docs, embs
        ),
        "t2_p1_training_set_100x": lambda: training_set_selection(docs),
        "t2_w9_kmv_sketch_25m": lambda: kmv_daily_stats(trades),
        # w15 all-pairs rolling correlation over the 25M-trade minute
        # candles: 50 symbols -> 1225 pairs in ONE bucket-keyed self-join
        # (S rows per bucket per side) + ONE pair-partitioned window —
        # the S² expansion is the operator's documented cost, and this
        # entry watches that it stays a clean two-shuffle plan as the
        # series lengthens.
        "t2_w15_corr_matrix_50sym": lambda: rolling_correlation_matrix(
            candles(trades, "MINUTE"), n=20, frame="MINUTE"
        ),
        # ANN over the perturbed corpus. n_bits scales with corpus size
        # exactly as the operator docs prescribe (keep mean bucket size
        # O(1) so Σ bucket² stays ~linear): 8 bits for the 5-query top-k
        # over all 200k, 14 bits (16k buckets/table) for the all-pairs
        # near-dup over a 50k slice — the verify join ships both vectors
        # per candidate pair, so candidate volume IS the cost.
        "t2_s2_lsh_topk_200k": lambda: lsh_topk(
            embs, embs.where(F.col("vec_id") < 5), k=10, n_bits=8
        ),
        # PII scrub is the pure scan-bandwidth op: per-row regexp
        # projections, zero shuffles — its wall-clock IS the corpus scan.
        "t2_t8_pii_scrub_100x": lambda: pii_scrub(with_synthetic_pii(docs)),
        # Global interleave: one shard shuffle (sizes branch rides a
        # ReusedExchange) + broadcast offsets join.
        "t2_p8_interleave_100x": lambda: global_interleave(docs),
        "t2_d5_neardup_50k": lambda: _heavy_entry_df(
            "t2_d5_neardup_50k", trades, docs, embs
        ),
        # kNN self-join over the full 200k corpus: both sides are the
        # corpus, so the (table, code) bucket exchange carries
        # (id, t, code) only and vectors join back by id post-dedup
        # (d5's shape). n_bits=16 (65k buckets/table) keeps mean bucket
        # ~3 so Σ bucket² stays ~linear — n_bits=14 left mean bucket ~12
        # and the candidate set (and its two vector fetch-back joins)
        # 16× larger, measured 118 s vs ~20 s.
        "t2_s4_knn_200k": lambda: _heavy_entry_df(
            "t2_s4_knn_200k", trades, docs, embs
        ),
        # p10 temperature mixture sampling (keyed on lang — the replicated
        # corpus drops the source column): one stratum-keyed count agg,
        # rate table broadcasts, corpus filtered map-side.
        "t2_p10_mixture_sample_100x": lambda: temperature_mixture_sample(
            docs, target_frac=0.5, alpha_quarters=2, strata_col="lang"
        ),
        # p12 epoch-capped upsampling (keyed on lang like p10): broadcast
        # rates + explode(sequence) + map-side md5 filter — output bytes
        # are the only cost; ~2.2x the corpus flows out at these rates.
        "t2_p12_epoch_upsample_100x": lambda: epoch_mixture_upsample(
            docs, {"en": 2.5, "de": 4.0, "fr": 0.75}, strata_col="lang"
        ),
        # t9 unigram rarity over the 500k corpus: ONE token-keyed agg
        # (partial aggregation pre-reduces stopword skew) -> broadcast
        # top-k vocab -> one doc-keyed agg. The two shuffles are the
        # operator's whole wire cost.
        "t2_t9_unigram_rarity_100x": lambda: unigram_rarity(docs, top_k=50_000),
        # t10/t11 (round 9): pure map-side rule filters — per-row
        # split/regexp integer arithmetic in whole-stage codegen, zero
        # shuffles; wall-clock IS the corpus scan (t8's cost class).
        "t2_t10_gopher_100x": lambda: gopher_quality(docs),
        "t2_t11_c4_clean_100x": lambda: c4_clean(docs),
        # t12 corpus-level span dedup over a derived multi-line corpus
        # (' merge ' -> newline, same derivation as the oracle entry):
        # ONE hash-keyed window over slim (h, doc_id, start) rows + a
        # doc-keyed removal aggregation — span strings never shuffle.
        "t2_t12_span_dedup_100x": lambda: c4_span_dedup(
            docs.select(
                "doc_id",
                F.replace(F.col("text"), F.lit(" merge "), F.lit("\n")).alias(
                    "text"
                ),
            )
        ),
        # p4b exact n-gram collision decontamination over the 500k
        # corpus vs a ~50-doc benchmark slice: two map-side gram scans +
        # a broadcast semi-join — wall-clock is the tokenize+md5 scan,
        # the corpus never shuffles by gram. (The 100 exact replicas of
        # each benchmark doc all collide, so the flag actually fires.)
        "t2_p4b_ngram_decontam_100x": lambda: ngram_collision_decontaminate(
            docs, docs.where(F.pmod(F.col("doc_id"), 9973) == 0)
        ),
        # d2 at 1M docs (2× the 100-replica corpus, distinct ids): keeps
        # the dedup headline honest as the band-hash shuffle shrinks —
        # per-doc cost must stay flat as the corpus doubles.
        "t2_d2_dedup_minhash_1m": lambda: dedup_minhash(
            docs.unionByName(
                docs.select(
                    (F.col("doc_id") + F.lit(20_000_000_000)).alias("doc_id"),
                    "text",
                    "lang",
                )
            )
        ),
    }
    # Best-of-3 (tier 1 already is): a single GC pause or page-cache miss
    # can no longer masquerade as a per-query regression; the heavy
    # streaming replay and d7 CC loop run OUTSIDE this dict so their
    # allocation spikes can't pollute neighbors mid-measurement.
    spark.sparkContext._jvm.System.gc()
    timings = {name: _time_best(make, runs=3) for name, make in makers.items()}

    # d7 connected components at scale: a 100k-doc slice (20 exact-dup
    # replicas per source doc, so the verified-pair graph is ~5k
    # 20-cliques — the quasi-clique shape LSH dedup actually produces).
    # The CC loop runs Spark ACTIONS inside the operator call (per-round
    # convergence aggregates), so the whole call is timed inclusively
    # rather than through _time_best's build/execute split; rounds-to-
    # convergence is recorded alongside (O(diameter) claim: cliques have
    # diameter 1, so expect 1 propagation round + 1 confirm round).
    from stock_chart_kafka_streams_spark.operators.dedup import neardup_clusters

    d7_stats: dict[str, int] = {}
    # Iterative entries run BEST-OF-2 since round 8: the variance probe
    # (tools/variance_probe.py, PERF.md round 8) showed the r7 15-46 s
    # spread lives in first-execution state (codegen compile, page
    # cache, GC debt from whatever ran before) — the CC loop's own
    # rounds are stable (~6 s + ~1 s every run) — so one warmup
    # execution restores the steady-state estimator the best-of-3
    # entries already use. Per-run walls are recorded alongside.
    d7_runs = []
    d7_best: dict = {}
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(
            neardup_clusters(
                docs.where(F.col("doc_id") < 2_000_000_000), stats=d7_stats
            )
        )
        d7_runs.append(round(time.perf_counter() - t0, 3))
        # snapshot the diagnostics of the run whose wall-clock we report
        # (min) — otherwise round_secs could describe a different run
        # than the number it exists to explain (the _batch_ms discipline)
        if d7_runs[-1] == min(d7_runs):
            d7_best = dict(d7_stats)
    timings["t2_d7_clusters_100k"] = min(d7_runs)
    extra = {
        "d7_cc_rounds": d7_best.get("rounds", -1),
        # per-round wall-clock (r8, variance diagnostic): uniform-slow
        # rounds = environmental (GC/page cache); one slow round =
        # shuffle/checkpoint churn
        "d7_cc_round_secs": d7_best.get("round_secs", []),
        "d7_cc_runs_s": d7_runs,
    }

    # CC convergence beyond quasi-cliques: the 100k-doc graph above is
    # clique-shaped (diameter 1 -> 2 rounds), which never exercises the
    # O(diameter) loop. This entry plants 111k disjoint 9-node PATHS
    # (1M nodes, diameter 8) so the label has to propagate the full
    # chain: expect 9 rounds (8 hops + fixpoint confirm), recorded as
    # d7_chain_rounds alongside the wall-clock.
    from stock_chart_kafka_streams_spark.operators.dedup import (
        connected_components,
    )

    chain_stats: dict[str, int] = {}
    n_nodes, chain_len = 1_000_000, 9
    nodes = spark.range(n_nodes).withColumnRenamed("id", "doc_id")
    edges = (
        spark.range(n_nodes - 1)
        .where(F.pmod(F.col("id"), chain_len) != chain_len - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    chain_runs = []
    chain_best: dict = {}
    for _ in range(2):  # best-of-2 (see d7 comment above)
        t0 = time.perf_counter()
        _noop(connected_components(nodes, edges, stats=chain_stats))
        chain_runs.append(round(time.perf_counter() - t0, 3))
        if chain_runs[-1] == min(chain_runs):
            chain_best = dict(chain_stats)
    timings["t2_d7_chain_1m"] = min(chain_runs)
    extra["d7_chain_rounds"] = chain_best.get("rounds", -1)
    extra["d7_chain_round_secs"] = chain_best.get("round_secs", [])
    extra["d7_chain_runs_s"] = chain_runs

    # p9: the composed curation pipeline (approx quality filter -> MinHash-LSH
    # dedup -> winnow decontamination -> split -> pack) over the full
    # 500k-doc corpus — the integration-scale proof that the stages
    # chain as ONE plan without a driver-side bottleneck. Single-run
    # (it contains d2 + two winnow passes; best-of-3 would triple the
    # dominant costs already measured individually above).
    # threshold=0.9 / bench_mod=9973 because the synthetic corpus's tiny
    # word pool saturates winnow-fingerprint coverage: ANY ~50 docs
    # overlap ~82% (median) with every other doc, so the realistic 0.2-0.4
    # thresholds contaminate the whole corpus here (a real web corpus has
    # heavy-tailed grams); 0.9 keeps only true same-cluster overlap and
    # leaves ~2.3k survivors flowing through split + pack.
    from stock_chart_kafka_streams_spark.operators.pipeline import (
        curation_pipeline,
    )

    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    _noop(curation_pipeline(docs, threshold=0.9, bench_mod=9973))
    timings["t2_p9_curation_100x"] = round(time.perf_counter() - t0, 3)

    # p9 with persist_stages=True (round 8): each stage boundary is
    # localCheckpointed so the DAG's shared stages are computed once
    # instead of re-expanded per reference — the operable-pipeline form
    # the one-plan docstring prescribes. Timed inclusively (the
    # checkpoints run jobs during the call).
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    _noop(
        curation_pipeline(docs, threshold=0.9, bench_mod=9973, persist_stages=True)
    )
    timings["t2_p9_curation_persist_100x"] = round(time.perf_counter() - t0, 3)

    # p9 with the exact n-gram collision decontamination stage (late r8):
    # the composed alternative to the winnow stage, same one-plan form.
    # bench_mod as above; gram collisions against ~50 benchmark docs.
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    _noop(
        curation_pipeline(
            docs, threshold=0.9, bench_mod=9973, decontam_mode="ngram"
        )
    )
    timings["t2_p9_curation_ngram_100x"] = round(time.perf_counter() - t0, 3)

    # d8 semantic dedup at 50k vectors (the d5 slice), 256 clusters,
    # centroid training on the 1/10 hash-sample — the scale shape: the
    # Lloyd rounds scan ONLY the sample (full-corpus training
    # measured 149 s vs 64 s end-to-end at this size), assignment is the
    # map-side Arrow argmax kernel, pairs enumerate within clusters (~n x
    # mean-cluster candidates). Timed inclusively (the centroid build
    # and assignment checkpoint run jobs inside the call). BEST-OF-2
    # with per-stage walls since round 9 (r8 verdict #3: it was the
    # suite's slowest and only single-run entry, 68–113 s across runs);
    # stats adds one trivial count job on the 50k-row checkpointed
    # assignment. Round 9 also turns on the triangle-inequality verify
    # prune by default (verdict #4) — pairs whose centroid-cosines bound
    # them below the threshold never ship vector payloads.
    from stock_chart_kafka_streams_spark.operators.similarity import (
        semantic_dedup,
    )

    d8_slice = embs.where(F.col("vec_id") < 2_500_000_000)
    d8_runs: list[float] = []
    d8_best: dict = {}
    for _ in range(2):
        st: dict = {}
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(
            _heavy_entry_df("t2_d8_semdedup_50k", trades, docs, embs, stats=st)
        )
        d8_runs.append(round(time.perf_counter() - t0, 3))
        if d8_runs[-1] == min(d8_runs):
            d8_best = dict(st)
    timings["t2_d8_semdedup_50k"] = min(d8_runs)
    extra["d8_runs_s"] = d8_runs
    extra["d8_train_s"] = d8_best.get("train_s")
    extra["d8_assign_s"] = d8_best.get("assign_s")
    extra["d8_capped_clusters"] = d8_best.get("n_capped_clusters")

    # d8 at the PAPER-scale configuration shape (r8 verdict #2): 2048
    # centroids on the exact path — a JVM argmax would need 2048
    # literal plan columns (infeasible: plan size/codegen), the Arrow
    # kernel keeps the plan O(1) in k and its certified BLAS argmax keeps
    # the cost per row near one matmul. One Lloyd round on the 1/10
    # sample. The entry keeps its historical "matmul" key so earlier
    # records compare; compare d8_matmul_2048_assign_s against
    # d8_assign_s (k=256) for the growth in k.
    st = {}
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    _noop(
        semantic_dedup(
            d8_slice,
            threshold=0.99,
            n_centroids=2048,
            iterations=1,
            sample_den=10,
            stats=st,
        )
    )
    timings["t2_d8_matmul_2048c_50k"] = round(time.perf_counter() - t0, 3)
    extra["d8_matmul_2048_train_s"] = st.get("train_s")
    extra["d8_matmul_2048_assign_s"] = st.get("assign_s")

    # p11 DSIR importance over the 500k corpus vs a ~50-doc target slice:
    # gram-keyed bucket aggs (map-side pre-reduced, reduce side
    # <= n_buckets rows, eagerly checkpointed), broadcast weights, one
    # doc-keyed agg — the corpus never shuffles by gram (p4b's cost class
    # plus one agg). Timed inclusively (the bucket-count checkpoints run
    # jobs at construction); best-of-2.
    p11_runs: list[float] = []
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(
            dsir_importance(
                docs,
                docs.where(F.pmod(F.col("doc_id"), 9973) == 0),
                n_buckets=10_000,
            )
        )
        p11_runs.append(round(time.perf_counter() - t0, 3))
    timings["t2_p11_dsir_100x"] = min(p11_runs)
    extra["p11_dsir_runs_s"] = p11_runs

    # p11 with persist_grams=True: the (id, bucket) gram rows checkpoint
    # once, so the corpus tokenizes+hashes ONCE instead of once per pass
    # (measured 29.7 -> 21.5 s at 500k docs) — the operable form when
    # local disk for ~12 bytes/gram is cheaper than a second scan.
    p11p_runs: list[float] = []
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(
            dsir_importance(
                docs,
                docs.where(F.pmod(F.col("doc_id"), 9973) == 0),
                n_buckets=10_000,
                persist_grams=True,
            )
        )
        p11p_runs.append(round(time.perf_counter() - t0, 3))
    timings["t2_p11_dsir_persist_100x"] = min(p11p_runs)
    extra["p11_dsir_persist_runs_s"] = p11p_runs

    # s5 PQ ANN over the full 200k corpus: codebooks train on a 1/16 md5
    # sample (the d8 sampled-training discipline), the corpus encodes
    # map-side against broadcast codebooks, the ADC scan carries
    # (query, id, adc) only through the two-phase cut, and the exact
    # rerank touches candidates x queries rows. Timed inclusively
    # (codebook training runs driver-coordinated jobs inside the call);
    # best-of-2 like the other iterative entries.
    s5_runs: list[float] = []
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(_heavy_entry_df("t2_s5_pq_topk_200k", trades, docs, embs))
        s5_runs.append(round(time.perf_counter() - t0, 3))
    timings["t2_s5_pq_topk_200k"] = min(s5_runs)
    extra["s5_pq_runs_s"] = s5_runs

    # s5 at the PQ paper's standard k*=256-per-subspace configuration on
    # the exact path (a JVM encode would be a 16k-term literal plan):
    # certified-BLAS argmin encode, Arrow ADC scan. The key keeps
    # its historical "matmul" name so earlier records compare.
    s5m_runs: list[float] = []
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(
            pq_topk(
                embs,
                embs.where(F.col("vec_id") < 5),
                k=10,
                m=4,
                n_codes=256,
                sample_num=1,
                sample_den=16,
            )
        )
        s5m_runs.append(round(time.perf_counter() - t0, 3))
    timings["t2_s5_pq_matmul_256c_200k"] = min(s5m_runs)
    extra["s5_pq_matmul_runs_s"] = s5m_runs

    # s6 IVF+PQ vs s5 flat PQ at 200k, paper-scale codebooks (default
    # exact path; the keys keep their historical "matmul" names), 50-query
    # batch. IVF's economics: the inverted lists cost a
    # FIXED index build (coarse train on the shared 1/16 sample, one
    # full-corpus assignment pass, codes↔lists join) and repay per query
    # (each query ADC-scans ~n_probe/n_lists = 1/8 of the codes).
    # Measured slope at this fixture: ~0.56 s/query flat vs ~0.19 s/query
    # probed, crossover ~34 queries — so the 5-query s5 entries above
    # stay (r9 continuity; flat PQ WINS there and the operator docstring
    # says so) and this pair records the serving-batch regime where the
    # published IVFADC structure earns its build.
    from stock_chart_kafka_streams_spark.operators.similarity import ivfpq_topk

    q50 = embs.where(F.col("vec_id") < 50)
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    _noop(
        pq_topk(
            embs, q50, k=10, m=4, n_codes=256, sample_num=1, sample_den=16,
        )
    )
    timings["t2_s5_pq_matmul_q50_200k"] = round(time.perf_counter() - t0, 3)
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    _noop(_heavy_entry_df("t2_s6_ivfpq_matmul_q50_200k", trades, docs, embs))
    timings["t2_s6_ivfpq_matmul_q50_200k"] = round(time.perf_counter() - t0, 3)

    # persisted-index serving pair (r10 verdict #3): every s5/s6 entry
    # above RETRAINS per call — the production serving shape pays the
    # build ONCE as a parquet artifact (build_pq_index) and serves each
    # query batch at marginal cost (ivfpq_topk(index_path=...): coarse +
    # codebooks load driver-side, the cid-partitioned code table scans
    # only probed directories via a static IN). The pair records
    # (amortizable build, zero-rebuild per-batch cost); compare the q50
    # entry against t2_s6_ivfpq_matmul_q50_200k for the rebuild tax.
    from stock_chart_kafka_streams_spark.operators.similarity import (
        build_pq_index,
    )

    idx_root = tempfile.mkdtemp(prefix="bench-pq-index-")
    try:
        idx = os.path.join(idx_root, "ivfpq")
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        build_pq_index(
            embs, idx, n_lists=64, m=4, n_codes=256,
            sample_num=1, sample_den=16,
            coarse_sample_num=1, coarse_sample_den=16,
        )
        timings["t2_s6_index_build_200k"] = round(time.perf_counter() - t0, 3)
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(
            _heavy_entry_df(
                "t2_s6_index_q50_200k", None, None, embs, index_path=idx
            )
        )
        timings["t2_s6_index_q50_200k"] = round(time.perf_counter() - t0, 3)

        # extend-probe flatness pair (r11 verdict #2): the redelivery
        # anti-join's probe side is bounded to the batch's id range
        # (footer-stat pruned), so extending a 1k batch onto a 10×
        # larger index must cost ~the same — the number that proves the
        # O(index)-per-trigger scan is gone. Same batch, same encode
        # work, only the index size differs.
        from pyspark.sql import functions as _F

        from stock_chart_kafka_streams_spark.operators.similarity import (
            extend_pq_index,
        )

        # a failure in this auxiliary pair must not cost the whole bench
        # record (the r10 unparseable-record lesson) — record and move on
        try:
            ext_batch = (
                embs.where(_F.col("vec_id") % 200 == 7)
                .select(
                    (_F.col("vec_id") + _F.lit(50_000_000_000)).alias("vec_id"),
                    "embedding",
                )
                .localCheckpoint(eager=True)
            )
            for tag, base in (
                ("20k", embs.where(_F.col("vec_id") % 10 == 0)),
                ("200k", embs),
            ):
                ipath = os.path.join(idx_root, f"pq_ext_{tag}")
                build_pq_index(
                    base, ipath, m=4, n_codes=16, sample_num=1, sample_den=16,
                )
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                extend_pq_index(ext_batch, ipath)
                timings[f"t2_s5_index_extend_1k_on_{tag}"] = round(
                    time.perf_counter() - t0, 3
                )
        except Exception as exc:  # noqa: BLE001 — keep the record parseable
            extra["extend_pair_error"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)

    # streaming-corr serving pair (r11 verdict #7): the materialized pair
    # table (streaming/corr.py) turns a per-request w14 window recompute
    # into a pruned read of stored rows. Build cost amortizes across the
    # stream (per-batch anchor-window updates); this records the
    # READ-SIDE economics at the tier-2 shape: one pair served from the
    # overlay vs recomputed from the stored candle table per request.
    from stock_chart_kafka_streams_spark.plans.query_api import CandleStore
    from stock_chart_kafka_streams_spark.streaming.corr import upsert_corr
    from stock_chart_kafka_streams_spark.streaming.sink import write_candles

    corr_root = tempfile.mkdtemp(prefix="bench-corr-")
    try:  # noqa: SIM105 — failure here must not cost the whole record
        ct_dir = os.path.join(corr_root, "candles")
        ov_dir = os.path.join(corr_root, "pairs")
        write_candles(candles(trades, "MINUTE"), ct_dir)
        store = CandleStore.from_path(spark, ct_dir)
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(store.correlation("S000", "S001", n=20))
        timings["t2_corr_pair_recompute_50sym"] = round(
            time.perf_counter() - t0, 3
        )
        t0 = time.perf_counter()
        upsert_corr(
            spark,
            rolling_correlation_matrix(
                spark.read.parquet(ct_dir), n=20, frame="MINUTE"
            ),
            ov_dir,
        )
        timings["t2_corr_tier_build_50sym"] = round(time.perf_counter() - t0, 3)
        store.attach_corr_table(ov_dir, n=20)
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(store.correlation("S000", "S001", n=20))
        timings["t2_corr_pair_materialized_50sym"] = round(
            time.perf_counter() - t0, 3
        )

        # steady-state maintenance cost: ONE 10-minute 50-symbol batch
        # appended at the table's tail, candle MERGE + incremental corr
        # update (affected-leg pairs within the anchor window only) —
        # the per-micro-batch price of keeping the overlay current,
        # which must stay flat as the stored series lengthens.
        import datetime as _bdt

        from stock_chart_kafka_streams_spark.streaming.corr import (
            corr_batch_update,
        )
        from stock_chart_kafka_streams_spark.streaming.sink import (
            upsert_candles,
        )

        tail = (
            spark.read.parquet(ct_dir)
            .agg(F.max("bucket_start").alias("mx"))
            .collect()[0]["mx"]
        )
        syms = [f"S{i:03d}" for i in range(50)]
        rows = [
            (
                s, "MINUTE",
                tail + _bdt.timedelta(minutes=m + 1),
                tail + _bdt.timedelta(minutes=m + 2),
                100.0, 101.0, 99.0, 100.0 + 0.01 * m, 5,
            )
            for s in syms
            for m in range(10)
        ]
        tick = spark.createDataFrame(
            rows,
            "symbol string, time_frame string, bucket_start timestamp, "
            "bucket_end timestamp, open double, high double, low double, "
            "close double, volume long",
        ).localCheckpoint(eager=True)
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        upsert_candles(spark, tick, ct_dir)
        corr_batch_update(spark, tick, ct_dir, ov_dir, n=20)
        timings["t2_corr_tier_batch_50sym"] = round(time.perf_counter() - t0, 3)
    except Exception as exc:  # noqa: BLE001 — keep the record parseable
        extra["corr_tier_block_error"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        shutil.rmtree(corr_root, ignore_errors=True)

    # anchor-probe flatness (round 13, r12 verdict #1 "done" criterion):
    # a fill-enabled tail micro-batch against 2 / 60 / 600 days of stored
    # history. The r12 probe scanned EVERY bucket_date partition of the
    # minute table per batch (PERF.md's 30x-history => ~1.25x-per-batch
    # slope); the bounded probe reads the batch's own dates plus a
    # doubling pad, so per-batch wall must stay FLAT in history depth and
    # the probe's selected-directory count must stay O(1). Both are
    # recorded: walls per depth, plus LAST_ANCHOR_PROBE's dates_scanned.
    probe_root = tempfile.mkdtemp(prefix="bench-probe-")
    try:
        import datetime as _pdt

        from stock_chart_kafka_streams_spark.streaming.pipeline import (
            LAST_ANCHOR_PROBE,
            cascade_upsert,
        )
        from stock_chart_kafka_streams_spark.streaming.sink import (
            write_candles as _wc,
        )

        p_syms = [f"S{i:03d}" for i in range(20)]
        gap_walls: dict[str, float] = {}
        gap_dirs: dict[str, int] = {}
        recent_walls: dict[str, float] = {}
        recent_dirs: dict[str, int] = {}
        sparse_walls: dict[str, float] = {}
        sparse_dirs: dict[str, int] = {}
        for days in (2, 60, 600):
            tdir = os.path.join(probe_root, f"d{days}")
            end_day = _pdt.datetime(2023, 12, 31, 12, 0)
            hist = spark.createDataFrame(
                [
                    (
                        s, "MINUTE",
                        end_day - _pdt.timedelta(days=d, minutes=-m),
                        end_day - _pdt.timedelta(days=d, minutes=-(m + 1)),
                        100.0, 101.0, 99.0, 100.0, 5, False,
                    )
                    for s in p_syms
                    for d in range(days)
                    for m in range(4)
                ],
                "symbol string, time_frame string, bucket_start timestamp, "
                "bucket_end timestamp, open double, high double, low double, "
                "close double, volume long, is_gap boolean",
            )
            _wc(hist, tdir)
            hook = cascade_upsert(tdir, frames=["MINUTE"], fill_gaps=True)
            # tail batch ADJACENT to the last stored candle: the probe's
            # anchors live in the newest 1-2 directories regardless of
            # history depth, and the fill window stays tiny — isolating
            # the probe's read cost from gap-grid size
            tick = spark.createDataFrame(
                [
                    (
                        s, "MINUTE",
                        end_day + _pdt.timedelta(minutes=4 + m),
                        end_day + _pdt.timedelta(minutes=5 + m),
                        100.0, 101.0, 99.0, 100.0, 5,
                    )
                    for s in p_syms
                    for m in range(10)
                ],
                "symbol string, time_frame string, bucket_start timestamp, "
                "bucket_end timestamp, open double, high double, low double, "
                "close double, volume long",
            ).localCheckpoint(eager=True)
            # best-of-2 (the suite's idiom): this block runs late in
            # tier-2, where GC/suite-state noise can dwarf the ~2-3 s
            # signal — a redelivered batch is idempotent, so the second
            # run measures the same maintenance work
            runs = []
            for bid in (1, 2):
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                hook(tick, bid)
                runs.append(round(time.perf_counter() - t0, 3))
            gap_walls[str(days)] = min(runs)
            gap_dirs[str(days)] = int(LAST_ANCHOR_PROBE.get("dates_scanned", -1))

            # data-anchored recent-N serving read against the same table
            # (round 14, r13 verdict #1 "done" criterion): the default
            # HTTP recency path must be flat in history depth — the
            # backward-widening probe reads O(n-buckets) directories
            # from the newest end, never the frame's history
            from stock_chart_kafka_streams_spark.plans import (
                query_api as _qa,
            )

            # a SPARSE just-listed symbol (3 buckets, newest day only):
            # the r14 verdict's remaining unbounded serving shape — its
            # recent-N must be extent-bounded (round 15), not an
            # exhaustive widen + full-frame scan per poll
            from stock_chart_kafka_streams_spark.streaming.sink import (
                upsert_candles as _uc,
            )

            _uc(
                spark,
                spark.createDataFrame(
                    [
                        (
                            "SPARSE", "MINUTE",
                            end_day + _pdt.timedelta(minutes=m),
                            end_day + _pdt.timedelta(minutes=m + 1),
                            50.0, 51.0, 49.0, 50.0, 3,
                        )
                        for m in range(3)
                    ],
                    "symbol string, time_frame string, "
                    "bucket_start timestamp, bucket_end timestamp, "
                    "open double, high double, low double, close double, "
                    "volume long",
                ),
                tdir,
            )
            r_store = _qa.CandleStore.from_path(spark, tdir)
            r_runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                rows = r_store.recent(p_syms[0], "MINUTE", n=60).collect()
                r_runs.append(round(time.perf_counter() - t0, 3))
            assert rows, "recent() returned no rows in the bench table"
            recent_walls[str(days)] = min(r_runs)
            recent_dirs[str(days)] = int(
                _qa.LAST_RECENT_PROBE.get("dates_scanned", -1)
            )
            s_runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                s_rows = r_store.recent("SPARSE", "MINUTE", n=60).collect()
                s_runs.append(round(time.perf_counter() - t0, 3))
            assert len(s_rows) == 3, "sparse symbol rows went missing"
            sparse_walls[str(days)] = min(s_runs)
            sparse_dirs[str(days)] = int(
                _qa.LAST_RECENT_PROBE.get("dates_scanned", -1)
            )
        timings["t2_gapfill_batch_600d_hist"] = gap_walls["600"]
        timings["t2_recent_default_600d_hist"] = recent_walls["600"]
        timings["t2_recent_sparse_600d_hist"] = sparse_walls["600"]
        extra["gapfill_batch_walls_by_days"] = gap_walls
        extra["gapfill_probe_dates_scanned"] = gap_dirs
        extra["recent_walls_by_days"] = recent_walls
        extra["recent_probe_dates_scanned"] = recent_dirs
        extra["recent_sparse_walls_by_days"] = sparse_walls
        extra["recent_sparse_probe_dates_scanned"] = sparse_dirs
    except Exception as exc:  # noqa: BLE001 — keep the record parseable
        extra["gapfill_probe_block_error"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        shutil.rmtree(probe_root, ignore_errors=True)

    # full serving-maintenance hook vs history depth (round 14, r13
    # verdict #4): cascade_upsert_with_corr — minute MERGE + bounded gap
    # fill + corr-tier update in ONE foreachBatch hook — against 2 / 60 /
    # 600 days of stored history. This is the number that proves the
    # whole per-trigger maintenance story flat in table age, not just
    # its pieces (the gap-fill pair above covers the fill alone).
    cc_root = tempfile.mkdtemp(prefix="bench-cascorr-")
    try:
        import datetime as _cdt

        from stock_chart_kafka_streams_spark.streaming.corr import (
            cascade_upsert_with_corr,
        )
        from stock_chart_kafka_streams_spark.streaming.pipeline import (
            LAST_ANCHOR_PROBE,
        )
        from stock_chart_kafka_streams_spark.streaming.sink import (
            write_candles as _wc2,
        )

        cc_syms = ["AAA", "BBB", "CCC"]
        cc_walls: dict[str, float] = {}
        cc_dirs: dict[str, int] = {}
        for days in (2, 60, 600):
            tdir = os.path.join(cc_root, f"t{days}")
            cdir = os.path.join(cc_root, f"c{days}")
            end_day = _cdt.datetime(2023, 12, 31, 12, 0)
            hist = spark.createDataFrame(
                [
                    (
                        s, "MINUTE",
                        end_day - _cdt.timedelta(days=d, minutes=-m),
                        end_day - _cdt.timedelta(days=d, minutes=-(m + 1)),
                        100.0, 101.0, 99.0, 100.0 + 0.1 * m, 5, False,
                    )
                    for s in cc_syms
                    for d in range(days)
                    for m in range(30)
                ],
                "symbol string, time_frame string, bucket_start timestamp, "
                "bucket_end timestamp, open double, high double, low double, "
                "close double, volume long, is_gap boolean",
            )
            _wc2(hist, tdir)
            hook = cascade_upsert_with_corr(
                tdir, cdir, frames=["MINUTE"], fill_gaps=True, corr_n=20
            )
            tick = spark.createDataFrame(
                [
                    (
                        s, "MINUTE",
                        end_day + _cdt.timedelta(minutes=30 + m),
                        end_day + _cdt.timedelta(minutes=31 + m),
                        100.0, 101.0, 99.0, 100.0 + 0.2 * m, 5,
                    )
                    for s in cc_syms
                    for m in (0, 1, 2, 6, 9)  # intra-batch gaps
                ],
                "symbol string, time_frame string, bucket_start timestamp, "
                "bucket_end timestamp, open double, high double, low double, "
                "close double, volume long",
            ).localCheckpoint(eager=True)
            runs = []
            for bid in (1, 2):  # best-of-2: redelivery is idempotent
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                hook(tick, bid)
                runs.append(round(time.perf_counter() - t0, 3))
            cc_walls[str(days)] = min(runs)
            cc_dirs[str(days)] = int(LAST_ANCHOR_PROBE.get("dates_scanned", -1))
        timings["t2_cascade_corr_batch_600d_hist"] = cc_walls["600"]
        extra["cascade_corr_batch_walls_by_days"] = cc_walls
        extra["cascade_corr_probe_dates_scanned"] = cc_dirs
    except Exception as exc:  # noqa: BLE001 — keep the record parseable
        extra["cascade_corr_block_error"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        shutil.rmtree(cc_root, ignore_errors=True)

    # p13 streaming curation ingest (round 13, r12 verdict #5): the
    # quality-gate -> decontam -> dedup -> append loop driven with 100k-doc
    # micro-batches from an empty corpus to 500k — per-batch wall recorded
    # per step, so the array IS the flatness evidence as the accumulated
    # corpus grows (the d9b pair's pattern: history enters the cross-batch
    # dedup via the band-bucket artifact, never a full re-shingle).
    p13_root = tempfile.mkdtemp(prefix="bench-p13-")
    try:
        from stock_chart_kafka_streams_spark.streaming.dedup import (
            foreach_batch_curation_ingest,
        )

        bench_tab = os.path.join(p13_root, "bench")
        corpus_tab = os.path.join(p13_root, "corpus")
        buckets_tab = os.path.join(p13_root, "buckets")
        docs.where(F.abs(F.hash("doc_id")) % 9973 == 0).write.parquet(bench_tab)
        hook = foreach_batch_curation_ingest(
            corpus_tab,
            bench_path=bench_tab,
            buckets_path=buckets_tab,
            # the corpus-sensitive gate knobs the p13 oracle entry uses
            # (the synthetic docs are shorter than web text)
            gopher_min_words=40,
            gopher_required_min=1,
        )
        n_batches = 5
        slot = F.abs(F.hash("doc_id")) % n_batches
        p13_walls: list[float] = []
        for i in range(n_batches):
            batch = docs.where(slot == i).localCheckpoint(eager=True)
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            hook(batch, i)
            p13_walls.append(round(time.perf_counter() - t0, 3))
        timings["t2_p13_curation_ingest_100k"] = p13_walls[-1]
        extra["p13_batch_walls_s"] = p13_walls
        extra["p13_corpus_rows"] = int(spark.read.parquet(corpus_tab).count())
    except Exception as exc:  # noqa: BLE001 — keep the record parseable
        extra["p13_block_error"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        shutil.rmtree(p13_root, ignore_errors=True)

    # d9b incremental near-dedup: a 10% id-shifted slice (50k docs, all
    # of them near-dups of existing rows) deduped against the full 500k
    # corpus — the continuous-ingestion shape. Both sides band map-side;
    # the candidate join carries ids only; verification shingles build
    # only for candidate ids. Timed inclusively (the candidate set
    # checkpoints eagerly at construction, the d3 pattern); best-of-2.
    d9b_runs: list[float] = []
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(_heavy_entry_df("t2_d9b_incr_50k_vs_500k", trades, docs, embs))
        d9b_runs.append(round(time.perf_counter() - t0, 3))
    timings["t2_d9b_incr_50k_vs_500k"] = min(d9b_runs)
    extra["d9b_incremental_runs_s"] = d9b_runs

    # t7 vocabulary at the 500k-doc corpus (r8 verdict #1): the top_n
    # cut is a distributed TakeOrdered since round 9 — no single-task
    # full-vocabulary window. Timed inclusively (the bounded top_n
    # collect runs at construction).
    from stock_chart_kafka_streams_spark.operators.text import vocabulary_stats

    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    _noop(vocabulary_stats(docs, top_n=10_000))
    timings["t2_t7_vocabulary_500k"] = round(time.perf_counter() - t0, 3)

    # ---- deliberate-skew entries (r8 verdict #6): every other tier-2
    # fixture is near-uniform, so the skew guards never fire. These
    # record BOTH paths on a skewed input.

    # c1 under 80%-one-symbol skew: plain candles vs the salted
    # two-phase variant. candles() is algebraic — map-side partial
    # aggregation already collapses the hot key per input partition, so
    # the HONEST expectation (candles_salted docstring) is plain ≈
    # salted here; the entry exists to keep that claim measured, not
    # assumed. Salting earns its keep for holistic aggregates.
    from stock_chart_kafka_streams_spark.operators.candles import candles_salted

    skew_trades = trades.withColumn(
        "symbol",
        F.when(
            F.pmod(F.xxhash64("ts", "price"), F.lit(10)) < 8, F.lit("HOT")
        ).otherwise(F.col("symbol")),
    )
    spark.sparkContext._jvm.System.gc()
    timings["t2_c1_skew_plain_25m"] = _time_best(
        lambda: candles(skew_trades, "MINUTE"), runs=2
    )
    timings["t2_c1_skew_salted_25m"] = _time_best(
        lambda: candles_salted(skew_trades, "MINUTE"), runs=2
    )

    # d5 under a planted mega-bucket: 4000 copies of ONE vector over a
    # 10k background slice, single SRP table so the effect is isolated.
    # Uncapped, the mega-bucket explodes 4000²/2 = 8M pairs from ONE
    # task and ships 8M vector-pair payloads to the verify join;
    # capped at 256 the salt split bounds any task at ~cap²/2 and the
    # verify join sees ~16×256²/2 ≈ 0.5M pairs (the documented recall
    # trade above the cap).
    mega = (
        spark.range(4000)
        .crossJoin(
            F.broadcast(
                embs.where(F.col("vec_id") == 0).select("embedding")
            )
        )
        .select((F.col("id") + F.lit(9_000_000_000)).alias("vec_id"), "embedding")
    )
    skew_vecs = (
        embs.where(F.col("vec_id") < 500_000_000)
        .unionByName(mega)
        .localCheckpoint(eager=True)
    )
    for label, cap in (("uncapped", None), ("capped", 256)):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(
            embedding_neardup_lsh(
                skew_vecs, threshold=0.99, n_bits=8, n_tables=1, bucket_cap=cap
            )
        )
        timings[f"t2_d5_skew_{label}_14k"] = round(time.perf_counter() - t0, 3)

    # d9b under a planted hot band (r9 verdict #1): 6000 existing copies
    # of ONE boilerplate page and 1500 incoming copies share every band.
    # MEASURED FINDING (round 10): the operational d9 shape is already
    # skew-immune here — the small incoming side BROADCASTS
    # (BroadcastHashJoin BuildLeft, plan-verified), so the hot band's
    # 6000x1500x3 = 27M candidate rows are produced in parallel across
    # ALL existing-side partitions, never one task. The lossless
    # band_cap salt split (results identical; replication, not
    # truncation) is therefore pure overhead at this scale — interleaved
    # best-of-3: uncapped 58.2-62.7 s vs capped 65.6-74.4 s — and the
    # pair below records that honest negative (the candles_salted
    # precedent). The cap stays as the opt-in third line behind the
    # broadcast plan and AQE's SMJ skew split (PERF.md round 10).
    boiler = (
        "terms of service privacy policy all rights reserved contact us today"
    )
    hot_ex = (
        docs.limit(494_000)
        .select("doc_id", "text", "lang")
        .unionByName(
            spark.range(6000).select(
                (F.col("id") + F.lit(40_000_000_000)).alias("doc_id"),
                F.lit(boiler).alias("text"),
                F.lit("en").alias("lang"),
            )
        )
        .localCheckpoint(eager=True)
    )
    hot_in = (
        spark.range(1500)
        .select(
            (F.col("id") + F.lit(41_000_000_000)).alias("doc_id"),
            F.lit(boiler).alias("text"),
            F.lit("en").alias("lang"),
        )
        .localCheckpoint(eager=True)
    )
    for label, cap in (("uncapped", None), ("capped", 512)):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(
            incremental_dedup(hot_ex, hot_in, mode="minhash", band_cap=cap)
        )
        timings[f"t2_d9b_skew_{label}"] = round(time.perf_counter() - t0, 3)

    # as-of join under ONE hot symbol (r9 verdict #3): 10M trades all
    # remapped to a single key, enriched with their previous minute
    # candle. Unsplit, the running window sorts the key's entire history
    # in ONE task; split_seconds=3600 shrinks each task to one hour's
    # rows with the bucket-carry stitching the boundary (results
    # equality-tested in tests/test_asof_join.py).
    hot_trades = (
        trades.where(F.col("symbol") < "S020")
        .withColumn("symbol", F.lit("HOT1"))
        .localCheckpoint(eager=True)
    )
    hot_mc = (
        candles(hot_trades, "MINUTE")
        .select(
            "symbol",
            "bucket_end",
            F.col("close").alias("prev_close"),
        )
        .localCheckpoint(eager=True)
    )
    for label, split in (("plain", None), ("split", 3600)):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _noop(
            asof_join(
                hot_trades.select("symbol", "ts", "price"),
                hot_mc,
                on=["symbol"],
                left_ts="ts",
                right_ts="bucket_end",
                payload=["prev_close"],
                split_seconds=split,
            )
        )
        timings[f"t2_j3_hot1_{label}_10m"] = round(time.perf_counter() - t0, 3)
    return timings, extra


def _load_sentinel() -> float:
    """Wall seconds for a fixed single-thread pure-Python busy loop — a
    machine-load self-document for the record (r13 verdict #3: the r13
    headline was inflated ~1.3x by background load on untouched code and
    needed a PERF caveat paragraph to adjudicate; now every record
    carries its own conditions). Quiet machine ≈ the round-to-round
    floor; a ratio >> 1 vs prior records flags a loaded run."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i * i
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    wall_t0 = time.perf_counter()
    sentinel_before = _load_sentinel()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Headroom so allocation spikes (wide aggregates, candidate joins)
    # never trigger JVM GC warnings on stdout — the driver parses our ONE
    # JSON line from stdout, so JVM log noise is a contract hazard, not
    # just cosmetic.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    # r11 codegen gate: tee fd 2 so a silent whole-stage-codegen fallback
    # (ERROR CodeGenerator / 64 KB janino overflow — the r10 judge's d5
    # finding) is detected and loudly reported in the bench record instead
    # of requiring a manual stderr grep. Entered BEFORE the JVM starts.
    from tools.codegen_gate import StderrCodegenGate

    gate = StderrCodegenGate()
    gate.__enter__()
    try:
        spark = get_spark(app_name="candle-bench")
        spark.sparkContext.setLogLevel("ERROR")
        queries = entry_mod.queries()

        # warmup: touch the parquet + exercise codegen once
        _noop(queries["c3_day_candles"](spark, sf_dir))

        # best of 3 runs per query (tier 1 is sub-second fixed-overhead work,
        # so the extra run is cheap): JVM JIT and page cache stabilize after
        # the first execution; min is the standard steady-state estimator and
        # a single GC pause can no longer masquerade as a regression.
        timings: dict[str, float] = {}
        for name in BENCH_QUERIES:
            timings[name] = _time_best(lambda: queries[name](spark, sf_dir), runs=3)
        total = round(sum(timings.values()), 3)

        stream_extra: dict = {}
        # Streaming throughput (same numbers tools/bench_streaming.py prints,
        # folded into the driver-recorded JSON): 2M generated events drained
        # through the real stateful pipeline with trigger(availableNow) in 4
        # micro-batches; *_sec is the drain wall-clock. Disable with
        # SPARK_GRAFT_BENCH_STREAM=0.
        if os.environ.get("SPARK_GRAFT_BENCH_STREAM", "1") != "0":
            import tools.bench_streaming as _bs

            work = tempfile.mkdtemp(prefix="bench-stream-")
            try:
                n_ticks = int(os.environ.get("SPARK_GRAFT_BENCH_TICKS_STREAM", "40000"))
                symbols = {f"S{i:03d}": 10.0 + 7.3 * i for i in range(50)}
                from stock_chart_kafka_streams_spark.sources.generator import (
                    generate_trades,
                )

                spool = os.path.join(work, "spool")
                (
                    generate_trades(spark, n_ticks, symbols=symbols)
                    .repartition(64)
                    .write.mode("overwrite")
                    .parquet(spool)
                )
                for shape in ("single", "chained"):
                    timings[f"t2_stream_{shape}_2m_events"] = round(
                        _bs._drain(spark, spool, work, shape), 3
                    )
            finally:
                shutil.rmtree(work, ignore_errors=True)

            # Full-pipeline REPLAY (not a noop drain): JSON micro-batch files
            # written by the distributed spool writer (streaming/replay.py),
            # drained through file source → watermark → minute candles →
            # foreachBatch cascade → MERGE serving sink. This is the c12/c15
            # correctness harness at tier-2 scale — possible since round 6
            # because the spool writer no longer materializes rows on the
            # driver. Spool construction is untimed; the drain (including
            # every per-batch MERGE) is timed.
            from pyspark.sql import functions as F_

            from stock_chart_kafka_streams_spark.sources.generator import generate_trades
            from stock_chart_kafka_streams_spark.sources.trades import (
                read_trades_json_stream,
            )
            from stock_chart_kafka_streams_spark.streaming.pipeline import (
                start_candle_pipeline,
            )
            from stock_chart_kafka_streams_spark.streaming.replay import (
                write_replay_batches,
            )

            work = tempfile.mkdtemp(prefix="bench-replay-")
            try:
                n_ticks_r = int(os.environ.get("SPARK_GRAFT_BENCH_TICKS_REPLAY", "20000"))
                symbols = {f"S{i:03d}": 10.0 + 7.3 * i for i in range(50)}
                trades = generate_trades(spark, n_ticks_r, symbols=symbols)
                lo, hi = trades.agg(F_.min("ts"), F_.max("ts")).collect()[0]
                span = max((hi - lo).total_seconds(), 1.0)
                width = max(int(span // 12) + 1, 1)
                tb = trades.withColumn(
                    "batch",
                    ((F_.col("ts").cast("long") - int(lo.timestamp())) / width).cast(
                        "long"
                    ),
                )
                write_replay_batches(tb, os.path.join(work, "in"))

                def _batch_ms(q) -> list[float]:
                    """Per-micro-batch triggerExecution wall-clock from the
                    query's progress log — the r8 variance diagnostic for
                    the replay entries (a slow RUN with uniform batches is
                    environmental; a slow BATCH is MERGE/listing churn)."""
                    out = []
                    for p in q.recentProgress:
                        if isinstance(p, str):
                            p = json.loads(p)
                        out.append(float(p.get("durationMs", {}).get("triggerExecution", 0)))
                    return out

                # Best-of-2 since round 8 (was single-run): the variance
                # probe (tools/variance_probe.py, PERF.md round 8) attributed
                # the r7 41-63 s spread to first-execution state — per-batch
                # addBatch dominates uniformly and the first run carries the
                # codegen/page-cache/GC debt — so one warmup execution
                # restores the steady-state estimator. Per-run walls and the
                # best run's per-batch triggerExecution ms are recorded.
                from stock_chart_kafka_streams_spark.streaming.pipeline import (
                    start_candle_pipeline_batched,
                )

                replay_runs, compact_runs = [], []
                for r in range(2):
                    stream = read_trades_json_stream(
                        spark, os.path.join(work, "in"), max_files_per_trigger=2
                    )
                    spark.sparkContext._jvm.System.gc()
                    t0 = time.perf_counter()
                    q = start_candle_pipeline(
                        stream,
                        os.path.join(work, f"serving{r}"),
                        os.path.join(work, f"ck{r}"),
                        frames=["MINUTE", "HOUR"],
                        watermark_delay="0 seconds",
                        available_now=True,
                    )
                    q.awaitTermination()
                    replay_runs.append(round(time.perf_counter() - t0, 3))
                    if replay_runs[-1] == min(replay_runs):
                        stream_extra["replay_batch_ms"] = _batch_ms(q)

                    # Same replay through the BatchedCompactionSink (r8):
                    # append staging per batch, MERGE every 8, coarse frames
                    # at finalize — the high-throughput serving-sink option;
                    # finalize is inside the timed window so the entry covers
                    # the identical end state as the cascade entry above.
                    stream2 = read_trades_json_stream(
                        spark, os.path.join(work, "in"), max_files_per_trigger=2
                    )
                    spark.sparkContext._jvm.System.gc()
                    t0 = time.perf_counter()
                    q2, sink2 = start_candle_pipeline_batched(
                        stream2,
                        os.path.join(work, f"serving_c{r}"),
                        os.path.join(work, f"ck_c{r}"),
                        frames=["MINUTE", "HOUR"],
                        watermark_delay="0 seconds",
                        available_now=True,
                        merge_every=8,
                    )
                    q2.awaitTermination()
                    sink2.finalize(["MINUTE", "HOUR"])
                    compact_runs.append(round(time.perf_counter() - t0, 3))
                    if compact_runs[-1] == min(compact_runs):
                        stream_extra["replay_compact_batch_ms"] = _batch_ms(q2)
                timings["t2_stream_replay_full_1m"] = min(replay_runs)
                timings["t2_stream_replay_compact_1m"] = min(compact_runs)
                stream_extra["replay_runs_s"] = replay_runs
                stream_extra["replay_compact_runs_s"] = compact_runs
            finally:
                shutil.rmtree(work, ignore_errors=True)

        tier2_info = {}
        if os.environ.get("SPARK_GRAFT_BENCH_TIER2", "1") != "0":
            work = tempfile.mkdtemp(prefix="bench-tier2-")
            try:
                trades_path, docs_path, embs_path, n_trades, n_docs = _tier2_inputs(
                    spark, sf_dir, work
                )
                t2_timings, t2_extra = _tier2_queries(
                    spark, trades_path, docs_path, embs_path
                )
                timings.update(t2_timings)
                # fresh-JVM isolation for the five suite-state-sensitive
                # entries (r10 verdict #4): the subprocess number becomes the
                # number of record; the in-suite one stays as insuite_* so
                # the suite-state delta itself is visible in the record.
                if os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0":
                    import subprocess

                    for hname in HEAVY_ISOLATED:
                        if hname not in timings:
                            continue
                        proc = subprocess.run(
                            [
                                sys.executable,
                                os.path.abspath(__file__),
                                "--isolated",
                                hname,
                                trades_path,
                                docs_path,
                                embs_path,
                            ],
                            capture_output=True,
                            text=True,
                            timeout=3600,
                        )
                        line = next(
                            (
                                ln
                                for ln in reversed(proc.stdout.splitlines())
                                if ln.startswith("{")
                            ),
                            None,
                        )
                        # the subprocess's stderr is captured, so feed it to
                        # the codegen gate by hand — an isolated run must not
                        # be able to hide a fallback from the record
                        from tools.codegen_gate import scan_text

                        for h in scan_text(proc.stderr):
                            if h not in gate.hits:
                                gate.hits.append(h)
                        if proc.returncode != 0 or line is None:
                            t2_extra[f"isolated_{hname}_error"] = (
                                proc.stderr.strip().splitlines() or ["no output"]
                            )[-1][:300]
                            continue
                        iso = json.loads(line)
                        t2_extra[f"insuite_{hname}"] = timings[hname]
                        t2_extra[f"isolated_{hname}_runs_s"] = iso["runs"]
                        timings[hname] = iso["sec"]
                n_vecs = spark.read.parquet(embs_path).count()
                tier2_info = {
                    "trades_rows": n_trades,
                    "documents_rows": n_docs,
                    "embedding_rows": n_vecs,
                    **t2_extra,
                }
            finally:
                shutil.rmtree(work, ignore_errors=True)

        tier2_info.update(stream_extra)
        spark.stop()
        gate.__exit__()
        gate_failed = gate.report()  # stderr; bench still emits its record

        sentinel_after = _load_sentinel()
        out = {
            "metric": "candle_c1_c7_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "codegen_fallbacks": len(gate.hits),
            "bench_wall_s": round(time.perf_counter() - wall_t0, 1),
            "load_sentinel_s": [sentinel_before, sentinel_after],
        }
        if tier2_info:
            out["tier2"] = tier2_info
        print(json.dumps(out))
        # The driver's capture keeps only the TAIL of stdout, so the full
        # record above has had "parsed": null for two rounds (r9/r10 bench
        # files hold a head-truncated fragment). Contract fix (r10 verdict
        # #2): the LAST stdout line is a compact headline the driver can
        # always parse — tier-1 per-query seconds + total + the headline
        # tier-2/streaming keys; the full record stays one line above for
        # human diffing.
        headline_keys = [k for k in BENCH_QUERIES] + [
            "t2_stream_replay_full_1m",
            "t2_d2_dedup_minhash_100x",
            "t2_d5_neardup_50k",
            "t2_p9_curation_100x",
            "t2_s4_knn_200k",
            "t2_s5_pq_topk_200k",
            "t2_s6_ivfpq_matmul_q50_200k",
            "t2_s6_index_build_200k",
            "t2_s6_index_q50_200k",
        ]
        compact = {
            "metric": "candle_c1_c7_total",
            "value": total,
            "unit": "sec",
            "queries": {k: timings[k] for k in headline_keys if k in timings},
            "sf": sf,
            "codegen_fallbacks": len(gate.hits),
            "bench_wall_s": round(time.perf_counter() - wall_t0, 1),
            "load_sentinel_s": [sentinel_before, sentinel_after],
        }
        # the round's headline EVIDENCE pairs ride the final line too
        # (r14 verdict #3: the driver keeps only the stdout TAIL, and
        # r14's depth pairs were cut mid-key out of the full record —
        # the committed record must be self-contained)
        evidence_keys = (
            "recent_walls_by_days",
            "recent_probe_dates_scanned",
            "recent_sparse_walls_by_days",
            "recent_sparse_probe_dates_scanned",
            "gapfill_batch_walls_by_days",
            "gapfill_probe_dates_scanned",
            "cascade_corr_batch_walls_by_days",
            "cascade_corr_probe_dates_scanned",
        )
        evidence = {k: tier2_info[k] for k in evidence_keys if k in tier2_info}
        if evidence:
            compact["extras"] = evidence
        print(json.dumps(compact))
        if gate_failed:
            # perf-regression signal, not a correctness failure: the record
            # above is still valid, so report loudly but do not lose it.
            print("WARNING: codegen fallback detected during bench "
                  f"({len(gate.hits)} hit(s)) — see stderr", file=sys.stderr)


    finally:
        # idempotent (no-op after the normal exit above): on a CRASH
        # this restores fd 2 and drains the tee BEFORE the interpreter
        # prints the traceback — without it the pump daemon dies at
        # process exit and the traceback tail is swallowed (seen in
        # the first r11 full-bench run).
        gate.__exit__()

if __name__ == "__main__":
    if len(sys.argv) >= 6 and sys.argv[1] == "--isolated":
        _isolated_main(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5])
    else:
        main()

"""Persisted ANN index (r10 verdict #3): build_pq_index writes a
one-table model (meta, codebooks, coarse centroids) and the
cid-partitioned code table as a parquet serving artifact, committed as
one directory; pq_topk/ivfpq_topk(index_path=...) serve from it with
zero rebuild and BIT-IDENTICAL results to the rebuild-every-call form
(parquet float64 is exact). The IVF probe over the artifact must prune to
exactly the probed list directories — asserted from selectedPartitions,
the serving-table discipline, on the REAL artifact and the REAL query
plan (not a simulated code table)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from stock_chart_kafka_streams_spark.operators.similarity import (
    build_pq_index,
    ivfpq_topk,
    pq_topk,
    read_pq_index,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(embs):
    return embs.where(F.col("vec_id") % 50 == 0).limit(5)


def _rows(df):
    return sorted(
        (r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in df.collect()
    )


def test_flat_pq_index_roundtrip_bit_identical(spark, embs, queries, tmp_path):
    path = str(tmp_path / "pq_index")
    meta = build_pq_index(embs, path, m=4, n_codes=8, iterations=2)
    assert meta["kind"] == "pq"

    fresh = pq_topk(embs, queries, k=5, m=4, n_codes=8, iterations=2)
    served = pq_topk(embs, queries, k=5, m=4, n_codes=8, index_path=path)
    assert _rows(served) == _rows(fresh)

    # loader sanity: codebooks round-trip exactly
    meta2, books, coarse = read_pq_index(spark, path)
    assert meta2["m"] == 4 and meta2["n_codes"] == 8 and coarse is None
    assert len(books) == 4 and all(len(b) == 8 for b in books)


def test_ivfpq_index_roundtrip_bit_identical(spark, embs, queries, tmp_path):
    path = str(tmp_path / "ivfpq_index")
    meta = build_pq_index(embs, path, n_lists=8, m=4, n_codes=8, iterations=2)
    assert meta["kind"] == "ivfpq" and meta["n_lists"] == 8

    fresh = ivfpq_topk(
        embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8, iterations=2
    )
    served = ivfpq_topk(
        embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
        index_path=path,
    )
    assert _rows(served) == _rows(fresh)


def test_ivfpq_index_probe_prunes_real_artifact(spark, embs, queries, tmp_path):
    """The artifact's economics, proven end-to-end: the served query's
    code-table scan selects exactly the probed cid directories."""
    from tests.test_serving_table import _scan_stats

    path = str(tmp_path / "ivfpq_prune")
    build_pq_index(embs, path, n_lists=8, m=4, n_codes=8, iterations=2)

    n_lists_on_disk, _, _ = _scan_stats(spark.read.parquet(f"{path}/codes"))
    served = ivfpq_topk(
        embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
        index_path=path,
    )
    # find the codes-table scan (the leaf whose Location is the artifact;
    # toString() truncates large plans, so read the metadata map instead)
    leaves = served._jdf.queryExecution().sparkPlan().collectLeaves()
    stats = None
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        meta = leaf.metadata()
        loc = str(meta.get("Location").get()) if meta.contains("Location") else ""
        if f"{path}/codes" in loc:
            listing = leaf.selectedPartitions()
            stats = (listing.partitionCount(), str(meta))
            break
    assert stats is not None, "codes scan not found in plan leaves"
    n_parts, md = stats
    # 5 queries x 2 probes => at most 10 distinct cids, and the planted
    # query set concentrates: strictly fewer directories than on disk
    assert 1 <= n_parts <= 10
    assert n_parts < n_lists_on_disk, (n_parts, n_lists_on_disk)
    assert "cid" in md  # partition filter reached the scan


def test_index_meta_mismatch_raises(spark, embs, queries, tmp_path):
    path = str(tmp_path / "pq_meta")
    build_pq_index(embs, path, m=4, n_codes=8, iterations=1)
    with pytest.raises(ValueError, match="does not match"):
        pq_topk(embs, queries, k=5, m=8, n_codes=8, index_path=path)
    with pytest.raises(ValueError, match="does not match"):
        pq_topk(embs, queries, k=5, m=4, n_codes=16, index_path=path)
    # flat index cannot serve the IVF form
    with pytest.raises(ValueError, match="does not match"):
        ivfpq_topk(
            embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
            index_path=path,
        )


def test_extend_pq_index_equals_sampled_train_and_is_idempotent(
    spark, embs, queries, tmp_path
):
    """Incremental growth contract: build on the md5-half, extend with
    the complement -> queries serve BIT-IDENTICALLY to the rebuild-every-
    call operator over the full corpus with training restricted to the
    same md5 sample (the sample_den=2 shape its twin replays). Redelivery
    appends nothing."""
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.similarity import (
        _md5_sample_pred,
        extend_pq_index,
    )

    half = embs.where(_md5_sample_pred("vec_id", 1, 2))
    rest = embs.join(half.select("vec_id"), on="vec_id", how="left_anti")
    n_half, n_rest = half.count(), rest.count()
    assert n_half > 0 and n_rest > 0

    for kind, n_lists in (("pq", None), ("ivfpq", 8)):
        path = str(tmp_path / f"ext_{kind}")
        build_pq_index(half, path, n_lists=n_lists, m=4, n_codes=8)
        appended = extend_pq_index(rest, path)
        assert appended == n_rest
        # redelivered batch: anti-join drops everything
        assert extend_pq_index(rest, path) == 0
        assert (
            spark.read.parquet(f"{path}/codes").count() == n_half + n_rest
        )

        if kind == "pq":
            served = pq_topk(embs, queries, k=5, m=4, n_codes=8, index_path=path)
            fresh = pq_topk(
                embs, queries, k=5, m=4, n_codes=8,
                sample_num=1, sample_den=2,
            )
        else:
            served = ivfpq_topk(
                embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
                index_path=path,
            )
            fresh = ivfpq_topk(
                embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
                sample_num=1, sample_den=2,
                coarse_sample_num=1, coarse_sample_den=2,
            )
        assert _rows(served) == _rows(fresh), kind

    # unknown id column -> explicit error, not silent mis-keying
    bad = embs.withColumnRenamed("vec_id", "other_id")
    with pytest.raises(ValueError, match="id column"):
        extend_pq_index(bad, str(tmp_path / "ext_pq"))


def test_streaming_index_ingest_replay_equals_one_shot(spark, embs, tmp_path):
    """Continuous index ingestion (streaming/ann_index.py): build on the
    md5-half, stream the complement through foreachBatch in single-file
    micro-batches WITH a redelivered batch — the final index and corpus
    table equal the one-shot extend (no duplicates, no missing rows), and
    queries served from the streamed index equal the sampled-train
    rebuild."""
    import shutil

    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.similarity import (
        _md5_sample_pred,
    )
    from stock_chart_kafka_streams_spark.streaming.ann_index import (
        foreach_batch_index_ingest,
    )

    half = embs.where(_md5_sample_pred("vec_id", 1, 2))
    rest = embs.join(half.select("vec_id"), on="vec_id", how="left_anti")
    n_total = embs.count()

    idx = str(tmp_path / "stream_idx")
    corpus = str(tmp_path / "stream_corpus")
    indir = str(tmp_path / "in")
    build_pq_index(half, idx, n_lists=8, m=4, n_codes=8)
    half.write.parquet(corpus)

    # three single-file micro-batches of new vectors
    for i in range(3):
        rest.where(F.pmod("vec_id", 3) == i).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
    # simulate at-least-once redelivery: duplicate one input file
    import os

    part = next(
        f for f in os.listdir(indir) if f.endswith(".parquet")
    )
    shutil.copy(os.path.join(indir, part), os.path.join(indir, "redelivered.parquet"))

    q = (
        spark.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
        .writeStream.foreachBatch(foreach_batch_index_ingest(idx, corpus))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.count() == n_total
    assert codes.select("vec_id").distinct().count() == n_total
    stored = spark.read.parquet(corpus)
    assert stored.count() == n_total
    assert stored.select("vec_id").distinct().count() == n_total

    qs = embs.where(F.col("vec_id") % 50 == 0).limit(5)
    served = ivfpq_topk(
        stored, qs, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
        index_path=idx,
    )
    fresh = ivfpq_topk(
        embs, qs, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
        sample_num=1, sample_den=2, coarse_sample_num=1, coarse_sample_den=2,
    )
    assert _rows(served) == _rows(fresh)


def test_compact_pq_index_one_file_per_list_same_rows(spark, embs, queries, tmp_path):
    """After streaming extends fragment the code table, compaction leaves
    ONE file per cid directory with byte-equal rows and unchanged query
    results (compact_candles' discipline for the ANN artifact)."""
    import os

    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.similarity import (
        compact_pq_index,
        extend_pq_index,
    )

    third = embs.where(F.pmod("vec_id", 3) == 0)
    path = str(tmp_path / "compact_ivf")
    build_pq_index(third, path, n_lists=4, m=4, n_codes=8)
    for i in (1, 2):  # two extend batches -> multiple files per list
        extend_pq_index(embs.where(F.pmod("vec_id", 3) == i), path)

    def files_per_cid():
        counts = {}
        root = f"{path}/codes"
        for d in os.listdir(root):
            if d.startswith("cid="):
                counts[d] = len(
                    [f for f in os.listdir(os.path.join(root, d))
                     if f.endswith(".parquet")]
                )
        return counts

    before_rows = sorted(
        map(tuple, spark.read.parquet(f"{path}/codes").collect())
    )
    assert max(files_per_cid().values()) > 1  # fragmentation is real
    served_before = ivfpq_topk(
        embs, queries, k=5, n_lists=4, n_probe=2, m=4, n_codes=8,
        index_path=path,
    )
    rows_before = _rows(served_before)

    compact_pq_index(spark, path)
    after = files_per_cid()
    assert after and all(v == 1 for v in after.values()), after
    assert sorted(
        map(tuple, spark.read.parquet(f"{path}/codes").collect())
    ) == before_rows
    served_after = ivfpq_topk(
        embs, queries, k=5, n_lists=4, n_probe=2, m=4, n_codes=8,
        index_path=path,
    )
    assert _rows(served_after) == rows_before

    # flat index compacts to a single file
    flat = str(tmp_path / "compact_flat")
    build_pq_index(third, flat, m=4, n_codes=8)
    extend_pq_index(embs.where(F.pmod("vec_id", 3) == 1), flat)
    compact_pq_index(spark, flat)
    n_files = len(
        [f for f in os.listdir(f"{flat}/codes") if f.endswith(".parquet")]
    )
    assert n_files == 1


def test_ingest_repairs_corpus_after_crash_between_appends(spark, embs, tmp_path):
    """r11 advice (high): a crash BETWEEN the index append and the corpus
    append leaves ids index-only; the redelivered batch's index append is
    then a FULL no-op (n_new == 0), and the corpus append must still run
    — gating it on the index appending anything would strand those
    vectors outside the rerank fetch-back forever. Simulated exactly:
    extend the index directly (the 'crashed' half-finished batch), then
    deliver the same batch through the hook."""
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.similarity import (
        _md5_sample_pred,
        extend_pq_index,
    )
    from stock_chart_kafka_streams_spark.streaming.ann_index import (
        foreach_batch_index_ingest,
    )

    half = embs.where(_md5_sample_pred("vec_id", 1, 2))
    batch = embs.join(half.select("vec_id"), on="vec_id", how="left_anti")
    idx = str(tmp_path / "crash_idx")
    corpus = str(tmp_path / "crash_corpus")
    build_pq_index(half, idx, n_lists=4, m=4, n_codes=8)
    half.write.parquet(corpus)
    n_half, n_batch = half.count(), batch.count()

    # the crash: index append completed, corpus append never ran
    assert extend_pq_index(batch, idx) == n_batch
    assert spark.read.parquet(corpus).count() == n_half

    # redelivery through the hook: index no-ops, corpus repairs
    foreach_batch_index_ingest(idx, corpus)(batch, 0)
    assert spark.read.parquet(f"{idx}/codes").count() == n_half + n_batch
    stored = spark.read.parquet(corpus)
    assert stored.count() == n_half + n_batch
    assert stored.select("vec_id").distinct().count() == n_half + n_batch

    # and a SECOND redelivery is a total no-op (both anti-joins drain it)
    foreach_batch_index_ingest(idx, corpus)(batch, 1)
    assert spark.read.parquet(corpus).count() == n_half + n_batch
    assert spark.read.parquet(f"{idx}/codes").count() == n_half + n_batch


def test_ingest_bootstraps_missing_corpus_table(spark, embs, tmp_path):
    """r11 advice (low): the first batch must not read-before-create the
    raw corpus table — the hook bootstraps it like the candle sink."""
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.streaming.ann_index import (
        foreach_batch_index_ingest,
    )

    third = embs.where(F.pmod("vec_id", 3) == 0)
    idx = str(tmp_path / "boot_idx")
    corpus = str(tmp_path / "boot_corpus")  # never created
    build_pq_index(third, idx, m=4, n_codes=8)

    first = embs.where(F.pmod("vec_id", 3) == 1)
    foreach_batch_index_ingest(idx, corpus)(first, 0)
    assert spark.read.parquet(corpus).count() == first.count()


def test_extend_probe_pushes_id_range_to_scan(spark, embs, tmp_path):
    """r11 verdict #2: the redelivery anti-join's probe side must be a
    footer-prunable RANGE scan of the code table's id column, not a full
    id-column pass — asserted from PushedFilters on the probe plan, the
    bound that keeps per-trigger probe cost flat as the index grows."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        existing_index_ids,
    )

    path = str(tmp_path / "probe_idx")
    build_pq_index(embs, path, m=4, n_codes=8)
    probe = existing_index_ids(spark, path, "vec_id", 100, 199)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters")[1][:200]
    assert "GreaterThanOrEqual(vec_id,100)" in pushed, pushed
    assert "LessThanOrEqual(vec_id,199)" in pushed, pushed
    # and the bounded probe is complete within the range
    want = sorted(
        r["vec_id"]
        for r in embs.where("vec_id between 100 and 199").collect()
    )
    assert sorted(r["vec_id"] for r in probe.collect()) == want


def test_index_training_knob_mismatch_raises(spark, embs, queries, tmp_path):
    """r11 advice: serving must refuse an index trained with different
    sampling / iterations than the caller requested — silently serving a
    differently-trained index is the wrong-answer class the (m, n_codes,
    dim) check already guards."""
    path = str(tmp_path / "knob_idx")
    build_pq_index(
        embs, path, m=4, n_codes=8, iterations=2, sample_num=1, sample_den=2
    )
    # matching knobs serve fine
    pq_topk(
        embs, queries, k=5, m=4, n_codes=8, iterations=2,
        sample_num=1, sample_den=2, index_path=path,
    ).collect()
    with pytest.raises(ValueError, match="sample_den"):
        pq_topk(embs, queries, k=5, m=4, n_codes=8, index_path=path)
    with pytest.raises(ValueError, match="iterations"):
        pq_topk(
            embs, queries, k=5, m=4, n_codes=8, iterations=3,
            sample_num=1, sample_den=2, index_path=path,
        )


def test_v2_index_meta_is_refused(spark, embs, queries, tmp_path):
    """v2 and v3 indexes keep meta, codebooks and coarse centroids in
    directories of their own beside ``codes`` (a v2 index may also hold
    codes from the deleted inexact BLAS encode). v4 reads one ``model``
    table and refuses either old layout, naming its version."""
    import shutil

    path = str(tmp_path / "old_idx")
    meta = build_pq_index(embs, path, m=4, n_codes=8, iterations=2)
    assert meta["version"] == 4
    shutil.rmtree(f"{path}/model")
    for version, extra in ((2, {"encode_mode": "matmul"}), (3, {})):
        old = dict(meta, version=version, **extra)
        spark.createDataFrame(
            [tuple(old.values())],
            ", ".join(
                f"{k} {'string' if isinstance(v, str) else 'int'}"
                for k, v in old.items()
            ),
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
        with pytest.raises(ValueError, match=f"version {version} layout"):
            read_pq_index(spark, path)
        with pytest.raises(ValueError, match=f"version {version} layout"):
            pq_topk(embs, queries, k=5, m=4, n_codes=8, index_path=path)


def test_build_killed_before_commit_keeps_previous_index(
    spark, embs, queries, tmp_path, monkeypatch
):
    """A rebuild writes into a staging directory beside ``path`` and moves
    it into place last. Killed before that move, it leaves the previous
    index serving bit-identical results, and no staging directory."""
    import os

    from stock_chart_kafka_streams_spark.operators import similarity as S

    path = str(tmp_path / "idx")
    kw = dict(n_lists=8, m=4, n_codes=8, iterations=2)
    build_pq_index(embs, path, **kw)
    served = _rows(ivfpq_topk(embs, queries, k=5, n_probe=2, index_path=path, **kw))

    def _killed(spark, stage, path):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(S, "_commit_index", _killed)
    with pytest.raises(RuntimeError, match="killed before commit"):
        build_pq_index(embs, path, n_lists=8, m=4, n_codes=8, iterations=1)
    assert sorted(os.listdir(tmp_path)) == ["idx"]
    again = _rows(ivfpq_topk(embs, queries, k=5, n_probe=2, index_path=path, **kw))
    assert again == served

    # the same rebuild, committed, swaps over the existing index
    monkeypatch.undo()
    build_pq_index(embs, path, **kw)
    assert sorted(os.listdir(tmp_path)) == ["idx"]
    assert _rows(ivfpq_topk(embs, queries, k=5, n_probe=2, index_path=path, **kw)) == served


def _jobs(spark, group, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_build_runs_two_jobs_and_serving_reads_no_metadata_job(
    spark, embs, queries, tmp_path
):
    """A build is the training fetch plus the codes write; the model is
    written and read on the driver, so ``read_pq_index`` runs no job and
    a served query plans with only its query collect: the probed list
    directories (more than Spark's default parallel-listing threshold of
    32 paths here) are listed on the driver, under the session's raised
    threshold, and read with the schema given."""
    path = str(tmp_path / "jobs")
    kw = dict(n_lists=40, m=4, n_codes=8, iterations=2)
    _, build_jobs = _jobs(spark, "pq-build", lambda: build_pq_index(embs, path, **kw))
    assert build_jobs == 2
    (meta, _, coarse), read_jobs = _jobs(
        spark, "pq-read", lambda: read_pq_index(spark, path)
    )
    assert read_jobs == 0 and meta["n_lists"] == 40 and len(coarse) == 40

    served, plan_jobs = _jobs(
        spark, "pq-serve",
        lambda: ivfpq_topk(embs, queries, k=5, n_probe=40, index_path=path, **kw),
    )
    assert plan_jobs == 1  # the query collect
    fresh = ivfpq_topk(embs, queries, k=5, n_probe=40, **kw)
    assert _rows(served) == _rows(fresh)


def test_driver_written_model_reads_in_spark(spark, embs, tmp_path):
    """The driver-written model is one parquet file that Spark reads as
    ``_MODEL_SCHEMA`` with the rows ``read_pq_index`` reads."""
    from pyspark.sql.types import _parse_datatype_string

    from stock_chart_kafka_streams_spark.operators.similarity import (
        _MODEL_SCHEMA,
        _read_model_rows,
    )

    path = str(tmp_path / "idx")
    build_pq_index(embs, path, n_lists=8, m=4, n_codes=8, iterations=2)
    model = spark.read.parquet(f"{path}/model")
    assert model.schema.simpleString() == _parse_datatype_string(
        _MODEL_SCHEMA
    ).simpleString()
    assert [r.asDict() for r in model.collect()] == _read_model_rows(
        spark, f"{path}/model"
    )
    assert model.inputFiles() == [f"file://{path}/model/part-00000.parquet"]


def test_spark_written_model_reads_back_the_same(spark, embs, queries, tmp_path):
    """An index whose model table Spark wrote (the writer before the
    driver-side one: ``createDataFrame``, ``coalesce(1)``, a write job)
    reads back to the same (meta, books, coarse) and serves the same
    rows."""
    from stock_chart_kafka_streams_spark.operators.similarity import _MODEL_SCHEMA

    path = str(tmp_path / "idx")
    kw = dict(n_lists=8, m=4, n_codes=8, iterations=2)
    build_pq_index(embs, path, **kw)
    driver = read_pq_index(spark, path)
    served = _rows(ivfpq_topk(embs, queries, k=5, n_probe=2, index_path=path, **kw))

    rows = [tuple(r) for r in spark.read.parquet(f"{path}/model").collect()]
    spark.createDataFrame(rows, _MODEL_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/model.spark")
    shutil.rmtree(f"{path}/model")
    os.rename(f"{path}/model.spark", f"{path}/model")
    assert any(n.endswith(".snappy.parquet") for n in os.listdir(f"{path}/model"))
    assert read_pq_index(spark, path) == driver
    assert _rows(ivfpq_topk(embs, queries, k=5, n_probe=2, index_path=path, **kw)) == served


def test_blue_green_refresh_serves_without_interruption(
    spark, embs, queries, tmp_path
):
    """r11 verdict #6, the missing last step of the index lifecycle
    (build / serve / extend / compact / REFRESH): a periodic re-train
    lands in a fresh versioned directory and the CURRENT pointer flips
    atomically, so readers resolving the pointer never fail mid-swap and
    a reader that resolved the old version finishes against an immutable
    artifact. Served results after the flip equal a from-scratch build
    on the union corpus (same deterministic training, same knobs)."""
    import threading

    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.similarity import (
        _md5_sample_pred,
        current_index_path,
        current_index_version,
        extend_pq_index,
        prune_index_versions,
        refresh_pq_index,
    )

    root = str(tmp_path / "idx_root")
    half = embs.where(_md5_sample_pred("vec_id", 1, 2))
    rest = embs.join(half.select("vec_id"), on="vec_id", how="left_anti")

    with pytest.raises(ValueError, match="no CURRENT"):
        current_index_path(root)

    v1 = refresh_pq_index(half, root, n_lists=8, m=4, n_codes=8)
    assert current_index_version(root) == 1
    assert current_index_path(root) == v1

    # the live ingest loop keeps extending whatever CURRENT names
    extend_pq_index(rest, current_index_path(root))
    pinned = current_index_path(root)  # a reader that resolved pre-flip

    # rebuild on the union corpus UNDER LOAD: serve in a loop while the
    # refresh runs; zero queries may fail across the flip
    failures, serves = [], []

    def _serve_loop(stop):
        while not stop.is_set():
            try:
                got = ivfpq_topk(
                    embs, queries, k=5, n_lists=8, n_probe=2, m=4,
                    n_codes=8, index_path=current_index_path(root),
                ).collect()
                serves.append(len(got))
            except Exception as exc:  # noqa: BLE001 — the assertion IS "none"
                failures.append(repr(exc))

    stop = threading.Event()
    reader = threading.Thread(target=_serve_loop, args=(stop,))
    reader.start()
    try:
        v2 = refresh_pq_index(embs, root, n_lists=8, m=4, n_codes=8)
    finally:
        stop.set()
        reader.join()
    assert not failures, failures
    assert serves and all(n > 0 for n in serves)
    assert current_index_version(root) == 2
    assert current_index_path(root) == v2

    # post-flip serving equals a from-scratch build on the union corpus
    scratch = str(tmp_path / "scratch")
    build_pq_index(embs, scratch, n_lists=8, m=4, n_codes=8)
    served_v2 = ivfpq_topk(
        embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
        index_path=current_index_path(root),
    )
    served_scratch = ivfpq_topk(
        embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
        index_path=scratch,
    )
    assert _rows(served_v2) == _rows(served_scratch)

    # the pre-flip reader's pinned version is intact (extended artifact)
    pinned_rows = ivfpq_topk(
        embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
        index_path=pinned,
    ).collect()
    assert len(pinned_rows) > 0

    # prune old versions: v1 goes, CURRENT survives, serving unaffected
    assert prune_index_versions(root, keep=1) == ["v1"]
    import os

    assert not os.path.exists(pinned)
    assert _rows(
        ivfpq_topk(
            embs, queries, k=5, n_lists=8, n_probe=2, m=4, n_codes=8,
            index_path=current_index_path(root),
        )
    ) == _rows(served_scratch)


def test_refresh_reconciles_ingests_and_root_hook_follows_flip(
    spark, embs, queries, tmp_path
):
    """The refresh-under-ingest loss window, closed from both ends:
    (a) ``refresh_pq_index(reconcile_path=...)`` appends every corpus row
    missing from the new version's codes BEFORE the pointer flips — rows
    ingested into the OLD version during the rebuild stay servable; and
    (b) ``foreach_batch_index_ingest(index_root=...)`` re-resolves the
    CURRENT pointer per batch, so post-flip batches extend the NEW
    version with zero coordination. The reconciled index is bit-equal to
    the sampled-train rebuild (train on the snapshot, encode the union)
    — the existing extend oracle shape."""
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.similarity import (
        _md5_sample_pred,
        current_index_path,
        current_index_version,
        refresh_pq_index,
    )
    from stock_chart_kafka_streams_spark.streaming.ann_index import (
        foreach_batch_index_ingest,
    )

    root = str(tmp_path / "bg_root")
    corpus_tab = str(tmp_path / "bg_corpus")
    half = embs.where(_md5_sample_pred("vec_id", 1, 2))
    rest = embs.join(half.select("vec_id"), on="vec_id", how="left_anti")

    # v1 over the snapshot; the corpus table starts as the snapshot
    refresh_pq_index(half, root, m=4, n_codes=8)
    half.write.parquet(corpus_tab)

    # "during the rebuild": the live loop ingests `rest` into v1+corpus
    hook = foreach_batch_index_ingest(index_root=root, corpus_path=corpus_tab)
    hook(rest, 0)
    v1 = current_index_path(root)
    n_v1 = spark.read.parquet(f"{v1}/codes").count()
    assert n_v1 == embs.count()

    # refresh v2 from the OLD snapshot (what a rebuild that raced the
    # ingest would have read) + reconcile from the corpus table
    v2 = refresh_pq_index(half, root, reconcile_path=corpus_tab, m=4, n_codes=8)
    assert current_index_version(root) == 2
    assert spark.read.parquet(f"{v2}/codes").count() == embs.count()

    # bit-equality: v2 == train-on-half / encode-union (the extend oracle)
    served = pq_topk(
        spark.read.parquet(corpus_tab), queries, k=5, m=4, n_codes=8,
        index_path=current_index_path(root),
    )
    fresh = pq_topk(embs, queries, k=5, m=4, n_codes=8, sample_num=1, sample_den=2)
    assert _rows(served) == _rows(fresh)

    # redelivery of the reconciled rows no-ops on v2
    hook(rest, 1)
    assert spark.read.parquet(f"{v2}/codes").count() == embs.count()

    # post-flip batches land on v2, never v1
    new_rows = rest.select(
        (F.col("vec_id") + F.lit(40_000_000_000)).alias("vec_id"), "embedding"
    )
    hook(new_rows, 2)
    assert spark.read.parquet(f"{v1}/codes").count() == n_v1
    assert (
        spark.read.parquet(f"{v2}/codes").count()
        == embs.count() + new_rows.count()
    )

    # exactly-one-of validation
    with pytest.raises(ValueError, match="exactly one"):
        foreach_batch_index_ingest()
    with pytest.raises(ValueError, match="exactly one"):
        foreach_batch_index_ingest(index_path="x", index_root="y")


def test_index_pointer_rejects_object_store_urls():
    from stock_chart_kafka_streams_spark.operators.similarity import (
        current_index_version,
    )

    with pytest.raises(ValueError, match="catalog"):
        current_index_version("s3a://bucket/index-root")


def test_refresh_reconcile_covers_scan_to_flip_window(
    spark, embs, tmp_path, monkeypatch
):
    """r12 verdict #2: an ingest that lands BETWEEN the reconcile's final
    empty probe and the pointer flip must still become servable from the
    new CURRENT — the post-flip delta pass delivers it. Injected via the
    refresh's pre-flip test seam (the exact gap the r12 code left open:
    its single pre-flip scan had already run)."""
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators import similarity as sim
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _md5_sample_pred,
        current_index_version,
        refresh_pq_index,
    )
    from stock_chart_kafka_streams_spark.streaming.ann_index import (
        foreach_batch_index_ingest,
    )

    root = str(tmp_path / "gap_root")
    corpus_tab = str(tmp_path / "gap_corpus")
    half = embs.where(_md5_sample_pred("vec_id", 1, 2))
    late = (
        embs.join(half.select("vec_id"), on="vec_id", how="left_anti")
        .limit(50)
        .localCheckpoint()
    )
    refresh_pq_index(half, root, m=4, n_codes=8)
    half.write.parquet(corpus_tab)

    hook = foreach_batch_index_ingest(index_root=root, corpus_path=corpus_tab)
    fired = []

    def _inject():
        # the racing ingest: resolves the OLD pointer (flip hasn't
        # happened), extends v1 + appends the corpus table — exactly the
        # rows the r12 reconcile would have stranded in v1
        hook(late, 7)
        fired.append(True)

    monkeypatch.setattr(sim, "_REFRESH_PRE_FLIP_HOOK", _inject)
    v2 = refresh_pq_index(half, root, reconcile_path=corpus_tab, m=4, n_codes=8)
    assert fired and current_index_version(root) == 2
    got = {
        r["vec_id"]
        for r in spark.read.parquet(f"{v2}/codes").select("vec_id").collect()
    }
    for r in late.select("vec_id").collect():
        assert r["vec_id"] in got  # servable from the new CURRENT


def test_ingest_pointer_recheck_redelivers_after_mid_batch_flip(
    spark, embs, tmp_path, monkeypatch
):
    """r12 verdict #2, the other interleaving: a refresh flips CURRENT
    while an ingest batch is mid-flight (the batch resolved the OLD
    pointer at entry). The hook's post-append pointer re-check must
    observe the flip and re-extend the NEW version with the same batch."""
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators import similarity as sim
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _md5_sample_pred,
        _pointer_file,
        current_index_path,
        refresh_pq_index,
    )
    from stock_chart_kafka_streams_spark.streaming import ann_index as ai
    from stock_chart_kafka_streams_spark.streaming.ann_index import (
        foreach_batch_index_ingest,
    )

    root = str(tmp_path / "flip_root")
    corpus_tab = str(tmp_path / "flip_corpus")
    half = embs.where(_md5_sample_pred("vec_id", 1, 2))
    late = (
        embs.join(half.select("vec_id"), on="vec_id", how="left_anti")
        .limit(40)
        .localCheckpoint()
    )
    v1 = refresh_pq_index(half, root, m=4, n_codes=8)
    v2 = refresh_pq_index(half, root, m=4, n_codes=8)
    assert current_index_path(root) == v2
    half.write.parquet(corpus_tab)

    # wind the pointer back to v1, then flip it to v2 DURING the batch's
    # first extend — deterministic stand-in for a racing refresh
    with open(_pointer_file(root), "w") as fh:
        fh.write("v1")
    real_extend = sim.extend_pq_index
    flipped = []

    def _extend_and_flip(batch, target, **kw):
        out = real_extend(batch, target, **kw)
        if not flipped:
            with open(_pointer_file(root), "w") as fh:
                fh.write("v2")
            flipped.append(True)
        return out

    monkeypatch.setattr(sim, "extend_pq_index", _extend_and_flip)
    hook = foreach_batch_index_ingest(index_root=root, corpus_path=corpus_tab)
    hook(late, 0)

    late_ids = {r["vec_id"] for r in late.select("vec_id").collect()}
    for vdir in (v1, v2):  # old version got the original extend ...
        got = {
            r["vec_id"]
            for r in spark.read.parquet(f"{vdir}/codes").select("vec_id").collect()
        }
        assert late_ids <= got, vdir  # ... new version got the re-check

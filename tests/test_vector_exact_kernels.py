"""The ANN kernels against their references, bit for bit.

Each ANN operator has one path: Arrow-batched numpy kernels that
accumulate over DIMENSIONS left to right (``exact_chains``). Their
reference is the operator's DuckDB twin (``*_sql``), compared with
``oracle.assert_matches_twin_bits`` — every double by bit pattern, NaN
equal to NaN — not at the driver oracle's 9 decimals. Fixtures the twin
cannot express (DuckDB raises where Spark's ``floor`` saturates NaN and
1e300-scale components) compare against a pure-Python dimension-loop
replay built on ``exact_chains.quantize``. The tests also pin the edge
contract written in ``exact_chains``: NaN first, ties to the lowest cid,
short rows raise, empty input yields no rows."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from tests.oracle import (
    assert_bits_equal,
    assert_matches_twin_bits,
    bits,
    register_vectors,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _twin_select(sql: str, select: str) -> str:
    """A twin's CTE chain with its final SELECT replaced by ``select``,
    to read an intermediate CTE (centroids, codes, lists)."""
    head, _ = sql.rsplit("\nSELECT query_id, vec_id, cos", 1)
    return f"{head}\n{select}"


def _srp_codes_sql(source: str, n_bits: int, n_tables: int, dim: int) -> str:
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _srp_code_fold_sql,
    )

    return "\nUNION ALL\n".join(
        f"SELECT vec_id AS id, {t} AS t, "
        f"{_srp_code_fold_sql('v', t, n_bits, dim)} AS code "
        f"FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM {source})"
        for t in range(n_tables)
    )


def test_srp_codes_kernel_bit_equals_twin_code_expression(spark, embs, duck):
    """The SRP code kernel equals the twins' code expression
    (``_srp_code_fold_sql``) on every (id, table)."""
    from stock_chart_kafka_streams_spark.operators.similarity import _srp_codes

    v = embs.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    assert_matches_twin_bits(
        _srp_codes(v, "vec_id", 16, 4, 64), duck, _srp_codes_sql("embeddings", 16, 4, 64)
    )


def test_srp_codes_nan_projection_counts_as_positive(spark, duck):
    """``NaN > 0`` is TRUE in Spark and DuckDB (NaN is the greatest
    value): the kernel sets the bit for a NaN projection, as the twin's
    code expression does."""
    from stock_chart_kafka_streams_spark.operators.similarity import _srp_codes

    nan = float("nan")
    rows = [(1, [nan] * 8), (2, [0.5] * 8), (3, [-0.5] * 8)]
    register_vectors(duck, "srp_nan", rows)
    v = spark.createDataFrame(rows, "vec_id long, v array<double>")
    kernel = _srp_codes(v, "vec_id", 4, 2, 8)
    assert_matches_twin_bits(kernel, duck, _srp_codes_sql("srp_nan", 4, 2, 8))
    # the all-NaN row's projections are NaN -> every bit set
    assert [r for r in _rows(kernel) if r[0] == 1] == [(1, 0, 15), (1, 1, 15)]


def _assignment_sql(source_cte: str, n_centroids: int, iterations: int, dim: int) -> str:
    """The twin's assignment of every row, (vec_id, cid, cent_cos): the d8
    twin with a threshold no cosine reaches, so nothing is removed."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        semantic_dedup_sql,
    )

    return semantic_dedup_sql(
        threshold=2.0, n_centroids=n_centroids, iterations=iterations, dim=dim,
        source_cte=source_cte,
    )


def test_assign_vector_bit_equals_twin_assignment(spark, embs, duck):
    """``_assign_vector`` over the trained centroids equals the twin's
    assignment (cid and cent_cos bits, which also pins the trained
    centroids), and its ``nv`` is the JVM norm's double."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _assign_vector,
        _norm,
        ivf_build_centroids,
    )

    cents = ivf_build_centroids(embs, 8)
    base = embs.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    vect = _assign_vector(base, cents, "vec_id", 64)
    src = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    assert_matches_twin_bits(
        vect.select("vec_id", "cid", "cent_cos"), duck, _assignment_sql(src, 8, 2, 64)
    )
    jvm_nv = base.select("vec_id", _norm(F.col("v")).alias("nv"))
    assert_bits_equal(vect.select("vec_id", "nv").collect(), jvm_nv.collect())


def test_ivf_centroids_bit_equal_twin(spark, embs, duck):
    """The driver-side Lloyd rounds give the twin's k-means centroids
    (``_kmeans_ctes``), every component bit for bit."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _kmeans_ctes,
        ivf_build_centroids,
    )

    vect = ivf_build_centroids(embs, 8, iterations=2)
    ctes, last = _kmeans_ctes(8, 2, 64)
    sql = (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
        + ",\n".join(ctes)
        + f"\nSELECT cid, cv FROM {last}"
    )
    assert_bits_equal(list(enumerate(vect)), duck.execute(sql).fetchall())


def test_pq_train_and_encode_bit_equal_twin(spark, embs, duck):
    """The PQ codebooks and the encode kernel's codes equal the s5
    twin's ``cent*_s*`` and ``codes`` CTEs."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _encode_vector,
        _train_quantizers,
        pq_topk_sql,
    )

    books, _ = _train_quantizers(embs, 4, 8, 2, 1, 1, "vec_id", "embedding", 64)
    sql = pq_topk_sql(k=10, m=4, n_codes=8, iterations=2)
    for j in range(4):
        want = duck.execute(_twin_select(sql, f"SELECT cid, cv FROM cent2_s{j}")).fetchall()
        assert_bits_equal(list(enumerate(books[j])), want)
    codes = _encode_vector(embs, books, None, "vec_id", "embedding", 64)
    assert_matches_twin_bits(codes, duck, _twin_select(sql, "SELECT * FROM codes"))


def test_pq_topk_bit_equals_pq_topk_sql_end_to_end(spark, embs, duck):
    """s5 end to end against ``pq_topk_sql``, cos doubles included."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        pq_topk,
        pq_topk_sql,
    )

    q = embs.where(F.col("vec_id") < 5)
    assert_matches_twin_bits(
        pq_topk(embs, q, k=10, m=4, n_codes=8), duck, pq_topk_sql(k=10, m=4, n_codes=8)
    )


def test_ivfpq_topk_bit_equals_ivfpq_topk_sql_end_to_end(spark, embs, duck):
    """s6 end to end against ``ivfpq_topk_sql`` (coarse k-means, list
    assignment, query probes, PQ, probed ADC, rerank)."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_topk_sql,
    )

    q = embs.where(F.col("vec_id") < 5)
    assert_matches_twin_bits(
        ivfpq_topk(embs, q, k=5, n_lists=4, n_probe=2),
        duck,
        ivfpq_topk_sql(k=5, n_lists=4, n_probe=2),
    )


def test_semantic_dedup_bit_equals_semantic_dedup_sql(spark, embs, duck):
    """d8 on the raw corpus at threshold 0.95 against
    ``semantic_dedup_sql``: survivors, cids and cent_cos doubles."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_sql,
    )

    assert_matches_twin_bits(
        semantic_dedup(embs, threshold=0.95, n_centroids=8),
        duck,
        semantic_dedup_sql(threshold=0.95, n_centroids=8),
    )


def test_assign_vector_nondefault_dim(spark, duck):
    """The multimodal path assigns 8-dim feature vectors (dim=8): the
    kernel's dim-prefix slicing must match the twin's at a non-default
    width."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _assign_vector,
        ivf_build_centroids,
    )

    rows = [(i, [math.sin(i * 7.3 + j) for j in range(8)]) for i in range(40)]
    register_vectors(duck, "dim8", rows)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_build_centroids(df, 3, iterations=0, dim=8)
    base = df.select("vec_id", F.col("embedding").alias("v"))
    src = "e AS (SELECT vec_id, embedding AS v FROM dim8)"
    assert_matches_twin_bits(
        _assign_vector(base, cents, "vec_id", 8).select("vec_id", "cid", "cent_cos"),
        duck,
        _assignment_sql(src, 3, 0, 8),
    )


def test_assign_vector_keeps_nan_like_the_twin(spark, duck):
    """A NaN component makes ``nv`` and every cosine NaN: the Arrow
    batches keep both as NaN (a pandas batch made them NULL), the row
    lands in cluster 0 with a NaN ``cent_cos``, and ``semantic_dedup``
    equals ``semantic_dedup_sql`` bit for bit. No Lloyd round runs, as
    DuckDB's BIGINT cast raises on a NaN quantize."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _assign_vector,
        ivf_build_centroids,
        semantic_dedup,
        semantic_dedup_sql,
    )

    rows = [(i, [math.sin(i * 7.3 + j) for j in range(8)]) for i in range(40)]
    nan_id = _md5_order(range(40))[5]  # not one of the 3 seeds
    rows[nan_id][1][2] = float("nan")
    register_vectors(duck, "nan8", rows)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_build_centroids(df, 3, iterations=0, dim=8)
    base = df.select("vec_id", F.col("embedding").alias("v"))
    got = {r["vec_id"]: r for r in _assign_vector(base, cents, "vec_id", 8).collect()}
    assert got[nan_id]["cid"] == 0
    assert math.isnan(got[nan_id]["nv"]) and math.isnan(got[nan_id]["cent_cos"])
    assert_matches_twin_bits(
        semantic_dedup(df, threshold=0.9, n_centroids=3, iterations=0, dim=8),
        duck,
        semantic_dedup_sql(
            threshold=0.9, n_centroids=3, iterations=0, dim=8,
            source_cte="e AS (SELECT vec_id, embedding AS v FROM nan8)",
        ),
    )


def _rows8(n=60, seed=8):
    import random

    rng = random.Random(seed)
    return [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(n)]


def test_lsh_topk_dim8_matches_twin(spark, duck):
    """``lsh_topk`` reranks with ``dim``: at 8-d its cosines equal the
    twin's (the 64-d default made every one NULL)."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        lsh_topk,
        lsh_topk_sql,
    )

    rows = _rows8()
    register_vectors(duck, "lsh8", rows)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(k=5, n_bits=2, n_tables=2, dim=8)
    assert_matches_twin_bits(
        lsh_topk(df, df.where(F.col("vec_id") < 5), **kw),
        duck,
        lsh_topk_sql(table="lsh8", query_pred="vec_id < 5", **kw),
    )


def test_knn_join_dim8_matches_twin(spark, duck):
    """``knn_join`` verifies with ``dim``: at 8-d it equals its twin."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        knn_join,
        knn_join_sql,
    )

    rows = _rows8()
    register_vectors(duck, "knn8", rows)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(k=3, n_bits=2, n_tables=2, dim=8)
    assert_matches_twin_bits(knn_join(df, **kw), duck, knn_join_sql(table="knn8", **kw))


def test_embedding_neardup_lsh_dim8_matches_twin(spark):
    """``embedding_neardup_lsh`` verifies with ``dim``: at 8-d its pairs
    equal the twin's, which reads the planted fixture from a table named
    ``embeddings`` (registered here on a connection of its own)."""
    import duckdb

    from stock_chart_kafka_streams_spark.operators.similarity import (
        embedding_neardup_lsh,
        embedding_neardup_lsh_sql,
        planted_neardup_vectors,
    )

    rows = _rows8(n=120)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, n_bits=2, n_tables=2, dim=8)
    con = duckdb.connect()
    try:
        register_vectors(con, "embeddings", rows)
        assert_matches_twin_bits(
            embedding_neardup_lsh(planted_neardup_vectors(df), **kw),
            con,
            embedding_neardup_lsh_sql(**kw),
        )
    finally:
        con.close()


def test_cosine_verify_kernel_bit_equals_dot_unrolled(spark, embs):
    """The shared pair-verify kernel (s4/d5/d8's exact scoring) must emit
    the IDENTICAL double the JVM 64-term chain emits, and NULL for a
    short-array pair exactly like the chain's out-of-bounds F.get."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _as_double,
        _cosine_verify_vector,
        _dot_unrolled,
        _norm,
    )

    v = embs.select(F.col("vec_id"), _as_double("embedding").alias("v"))
    a = v.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        _norm(F.col("v")).alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        _norm(F.col("v")).alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") + 7 == F.col("id_b"))
    jvm = pairs.select(
        "id_a",
        "id_b",
        (_dot_unrolled(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
            "cos"
        ),
    )
    kern = _cosine_verify_vector(pairs).select("id_a", "id_b", "cos")
    assert _rows(jvm) == _rows(kern)


def test_cosine_verify_kernel_short_array_is_null(spark):
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _cosine_verify_vector,
    )

    rows = [(1, 2, [1.0] * 64, [2.0] * 8, 8.0, 8.0), (3, 4, [1.0] * 64, [2.0] * 64, 8.0, 16.0)]
    pairs = spark.createDataFrame(
        rows,
        "id_a int, id_b int, va array<double>, vb array<double>, na double, nb double",
    )
    out = {r["id_a"]: r["cos"] for r in _cosine_verify_vector(pairs).collect()}
    assert out[1] is None  # short vb -> NULL, the JVM F.get semantics
    assert out[3] == 128.0 / (8.0 * 16.0)


def test_adc_scan_kernel_bit_equals_jvm_chain(spark, embs):
    """Round-16 ADC kernel (s5/s6 serve chain): the kernel's adc doubles
    must be bit-identical to the JVM form — per-subspace _dot_unrolled
    against the element_at-selected centroid, summed in subspace order —
    both flat (s5) and probe-restricted (s6)."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _adc_scan_vector,
        _dot_unrolled,
        _encode_vector,
        _normalized,
        _train_quantizers,
    )

    m, sub_dim, dim = 4, 16, 64
    books, _ = _train_quantizers(embs, m, 8, 2, 1, 1, "vec_id", "embedding", dim)
    codes = _encode_vector(embs, books, None, "vec_id", "embedding", dim)
    qn = _normalized(embs.where(F.col("vec_id") < 5), "vec_id", "embedding", dim).select(
        F.col("vec_id").alias("query_id"), F.col("vn").alias("qvn")
    )
    adc = None
    paired = codes.crossJoin(F.broadcast(qn))
    for j in range(m):
        book_lit = F.array(*[F.array(*[F.lit(x) for x in c]) for c in books[j]])
        contrib = _dot_unrolled(
            F.col("qvn"),
            F.element_at(book_lit, F.col(f"code{j}") + 1),
            sub_dim,
            j * sub_dim,
        )
        adc = contrib if adc is None else adc + contrib
    jvm = paired.select("query_id", F.col("vec_id"), adc.alias("adc"))
    q_rows = [(r["query_id"], r["qvn"]) for r in qn.collect()]
    kern = _adc_scan_vector(
        codes, books, q_rows, m, sub_dim, "vec_id", dim, "bigint"
    )
    assert _rows(jvm) == _rows(kern)

    # probe-restricted (s6's shape): queries 0/1 scan cid 0, the rest cid 1
    coded = codes.withColumn("cid", (F.col("vec_id") % 2).cast("int"))
    probes = [(i, 0 if q < 2 else 1) for i, (q, _) in enumerate(q_rows)]
    kern_p = _adc_scan_vector(
        coded, books, q_rows, m, sub_dim, "vec_id", dim, "bigint",
        probes=probes,
    )
    probe_df = spark.createDataFrame(
        [(q_rows[i][0], c) for i, c in probes], "query_id bigint, cid int"
    )
    jvm_p = (
        coded.join(F.broadcast(probe_df.join(qn, on="query_id")), on="cid")
        .select("query_id", F.col("vec_id"), adc.alias("adc"))
    )
    assert _rows(jvm_p) == _rows(kern_p)


def test_adc_scan_kernel_short_query_is_null(spark, embs):
    """A query vector shorter than dim scores NULL against every code —
    the JVM chain's out-of-bounds F.get semantics."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _adc_scan_vector,
        _encode_vector,
        _train_quantizers,
    )

    books, _ = _train_quantizers(embs, 4, 8, 1, 1, 1, "vec_id", "embedding", 64)
    codes = _encode_vector(embs, books, None, "vec_id", "embedding", 64).limit(3)
    out = _adc_scan_vector(
        codes, books, [(99, [1.0] * 8)], 4, 16, "vec_id", 64, "bigint"
    ).collect()
    assert len(out) == 3 and all(r["adc"] is None for r in out)


def test_pq_topk_nan_scores_rank_like_pq_topk_sql(spark, duck):
    """A NaN ADC score must stay NaN, which Spark and DuckDB sort FIRST
    under the ``adc DESC`` candidate cut; a NULL would sort it last and
    cut it. Row ``nan_id`` has a NaN component and sorts first by md5,
    so with no Lloyd round it is codebook centroid 0 of every subspace
    and the only row encoded there. It is also a query, whose scores
    are all NaN; query 11's are finite except against it. Reference:
    ``pq_topk_sql`` on the same registered rows."""
    import random

    from stock_chart_kafka_streams_spark.operators.similarity import (
        pq_topk,
        pq_topk_sql,
    )

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(200)]
    nan_id = min(range(200), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    rows[nan_id][1][7] = float("nan")
    register_vectors(duck, "pq_nan", rows)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pred = f"vec_id IN (11, {nan_id})"
    out = pq_topk(corpus, corpus.where(pred), k=5, n_codes=8, iterations=0, shards=1)
    assert_matches_twin_bits(
        out, duck,
        pq_topk_sql(table="pq_nan", k=5, n_codes=8, iterations=0, query_pred=pred),
    )
    # the NaN row survived the cut and ranks first for the finite query
    first = [r for r in out.collect() if r["query_id"] == 11 and r["rank"] == 1]
    assert [r["vec_id"] for r in first] == [nan_id] and math.isnan(first[0]["cos"])


def test_serve_query_set_past_its_bound_raises(spark, embs, monkeypatch):
    """ivf_topk, pq_topk and ivfpq_topk collect the query set to the
    driver; past ``MAX_SERVE_QUERIES`` they raise instead."""
    from stock_chart_kafka_streams_spark.operators import similarity as S

    assert S.MAX_SERVE_QUERIES >= 50  # the largest batch any caller serves
    monkeypatch.setattr(S, "MAX_SERVE_QUERIES", 3)
    q = embs.where(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="query set has 5 rows.*maximum of 3"):
        S.pq_topk(embs, q, k=2, n_codes=4, iterations=1).collect()
    with pytest.raises(ValueError, match="query set has 5 rows.*maximum of 3"):
        S.ivfpq_topk(embs, q, k=2, n_lists=2, n_probe=1, n_codes=4, iterations=1)
    with pytest.raises(ValueError, match="query set has 5 rows.*maximum of 3"):
        S.ivf_topk(embs, q, k=2, n_centroids=2)
    S.pq_topk(embs, q.where(F.col("vec_id") < 3), k=2, n_codes=4, iterations=1).collect()


def test_vector_mode_rejected_names_still_raise(spark, embs, tmp_path):
    """Each ANN operator has one path: the ``assign_mode``/``encode_mode``
    parameters and the JVM fold reference are gone, and passing a mode
    raises before any Spark job runs."""
    import inspect

    from stock_chart_kafka_streams_spark.operators import similarity as S

    for name in (
        "_check_mode", "_nearest_fold", "_assign_fold", "_dot", "_lloyd_sums_jvm",
        "_pq_encode", "_l2_unrolled", "_adc_fold", "_srp_code_fold", "_coded_corpus",
        "_assign_matmul", "_pq_encode_matmul",
    ):
        assert not hasattr(S, name), name
    calls = {
        "semantic_dedup": lambda **kw: S.semantic_dedup(embs, **kw),
        "ivf_build_centroids": lambda **kw: S.ivf_build_centroids(embs, 4, **kw),
        "pq_topk": lambda **kw: S.pq_topk(embs, embs, **kw),
        "ivfpq_topk": lambda **kw: S.ivfpq_topk(embs, embs, **kw),
        "build_pq_index": lambda **kw: S.build_pq_index(embs, str(tmp_path / "i"), **kw),
    }
    for name, call in calls.items():
        params = inspect.signature(getattr(S, name)).parameters
        assert "assign_mode" not in params and "encode_mode" not in params
        for kw in ("assign_mode", "encode_mode"):
            with pytest.raises(TypeError, match=kw):
                call(**{kw: "fold"})


def _near_tie_fixture(d, seeds=(0, 1, 2, 3), n=2000):
    """Centroids and rows on which a plain BLAS argmax/argmin disagrees
    with the dimension-loop chain. Per seed: a random c0, a planted exact
    duplicate of it, and every 1-ulp nudge of one of its components; the
    rows are c0 with every component moved by up to 64 ulps, so the
    chain's scores of those centroids tie to within rounding. Edge rows
    follow: random normals, a NaN row, a zero-norm row and a 1e300 row."""
    import numpy as np

    cents, rows = [], []
    for seed in seeds:
        rng = np.random.default_rng(seed)
        c0 = rng.normal(size=d)
        cents += [c0, c0]
        for j in range(d):
            for to in (np.inf, -np.inf):
                c = c0.copy()
                c[j] = np.nextafter(c[j], to)
                cents.append(c)
        rows.append(c0 * (1.0 + rng.integers(-64, 65, size=(n, d)) * 2.0**-52))
    rng = np.random.default_rng(99)
    rows += [
        rng.normal(size=(50, d)),
        np.full((1, d), np.nan),
        np.zeros((1, d)),
        np.full((1, d), 1e300),
    ]
    return np.vstack(rows), np.vstack(cents)


def _pure_chains(V, C):
    """The dimension-loop chains alone: (cosine scores, cosine argmax,
    squared-L2 argmin with NaN as +inf)."""
    import numpy as np

    from stock_chart_kafka_streams_spark.operators import exact_chains as xc

    nv = np.sqrt(xc.sq_norms(V))
    S = xc.dots(V, C) / (nv[:, None] * xc.centroid_norms(C)[None, :])
    D = np.zeros((len(V), len(C)))
    for i in range(V.shape[1]):
        diff = V[:, i][:, None] - C[None, :, i]
        D += diff * diff
    D[np.isnan(D)] = np.inf
    return S, S.argmax(axis=1), D.argmin(axis=1)


@pytest.mark.parametrize("d", [16, 64])
def test_exact_chains_certified_argmax_argmin_equal_the_chain(d):
    """``cos_argmax`` and ``l2_argmin`` score with BLAS and rerun the
    chain on every row their error bound cannot certify: on a fixture
    where the plain BLAS winner differs from the chain's, both must
    still return exactly the chain's cid (and cos bits). A zero-norm or
    NaN centroid sends every row to the chain."""
    import numpy as np

    from stock_chart_kafka_streams_spark.operators import exact_chains as xc

    V, C = _near_tie_fixture(d)
    bad = C.copy()
    bad[3] = 0.0
    bad[5, 0] = np.nan
    rows = np.arange(len(V))
    with np.errstate(all="ignore"):
        nv = np.sqrt(xc.sq_norms(V))
        ncv = xc.centroid_norms(C)
        blas_cid = ((V @ C.T) / (nv[:, None] * ncv[None, :])).argmax(axis=1)
        Q = xc.sq_norms(C)[None, :] - 2.0 * (V @ C.T)
        Q[np.isnan(Q)] = np.inf
        blas_l2 = Q.argmin(axis=1)
        for i, cents in enumerate((C, bad)):
            S, chain_cid, chain_l2 = _pure_chains(V, cents)
            cid, cos = xc.cos_argmax(V, cents, nv, xc.centroid_norms(cents))
            l2 = xc.l2_argmin(V, cents)
            if i == 0:
                # the fixture is adversarial: plain BLAS picks other winners
                assert (blas_cid != chain_cid).any()
                assert (blas_l2 != chain_l2).any()
            assert cid.dtype == np.int32 and l2.dtype == np.int32
            assert np.array_equal(cid, chain_cid)
            # bit equality, NaN included
            assert np.array_equal(cos.view(np.int64), S[rows, chain_cid].view(np.int64))
            assert np.array_equal(l2, chain_l2)


def _md5_order(ids):
    """``ids`` in the seeding order of every k-means here:
    ``ORDER BY md5(CAST(id AS STRING)), id``."""
    return sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))


def test_assignment_near_ties_match_twin(spark, duck):
    """Near ties through a twin: the centroids are ``_near_tie_fixture``'s
    (a planted exact duplicate and every 1-ulp nudge of c0) and the rows
    lie within 64 ulps of c0, where a plain BLAS argmax picks other
    winners than the chain. The certified kernel must equal the twin's
    assignment, cid and cent_cos, on every row (a 1e300 row included)."""
    import numpy as np

    from stock_chart_kafka_streams_spark.operators.similarity import (
        _assign_vector,
        ivf_build_centroids,
    )

    V, C = _near_tie_fixture(16, seeds=(0,), n=300)
    V = np.vstack([V[:-3], V[-1:]])  # keep the 1e300 row, drop NaN and zero
    ids = _md5_order(range(len(C) + len(V)))
    rows = [(i, list(map(float, c))) for i, c in zip(ids, C)]
    rows += [(i, list(map(float, v))) for i, v in zip(ids[len(C):], V)]
    register_vectors(duck, "near_ties", rows)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_build_centroids(df, len(C), iterations=0, dim=16)
    assert bits(cents) == bits(C.tolist())
    base = df.select("vec_id", F.col("embedding").alias("v"))
    got = _assign_vector(base, cents, "vec_id", 16).select("vec_id", "cid", "cent_cos")
    sql = _assignment_sql(
        "e AS (SELECT vec_id, embedding AS v FROM near_ties)", len(C), 0, 16
    )
    assert_matches_twin_bits(got, duck, sql)
    # the fixture is adversarial: plain BLAS disagrees with the twin
    twin_cid = dict((r[0], r[1]) for r in duck.execute(sql).fetchall())
    with np.errstate(all="ignore"):
        blas = ((V @ C.T) / np.linalg.norm(V, axis=1)[:, None]).argmax(axis=1)
    assert any(int(b) != twin_cid[i] for i, b in zip(ids[len(C):], blas))


def test_kernel_edge_contract_matches_twin(spark, duck):
    """The edge contract of ``exact_chains`` against the s6 twin on one
    registered fixture, with no Lloyd round so that no quantized sum
    sees a NaN (DuckDB's BIGINT cast raises on one):

    - NaN first: row ``nan_id`` has a NaN component, so its cosines and
      distances are NaN: it lands in list 0 with code 0 everywhere, its
      exact cosine with any query is NaN and ranks first, and as a query
      it probes list 0 and scores NaN against every code;
    - ties to the lowest cid: the two md5-first rows (list seeds 0 and 1,
      codebook entries 0 and 1) hold the same vector, so the rows nearest
      it go to list 0 / code 0, and query ``tie_id`` probes list 0, not 1;
    - a short query row raises, and an empty query set yields no rows."""
    import random

    from stock_chart_kafka_streams_spark.operators.similarity import (
        _probe_lists,
        ivfpq_topk,
        ivfpq_topk_sql,
    )

    rng = random.Random(5)
    order = _md5_order(range(120))
    rows = {i: [rng.uniform(-1, 1) for _ in range(16)] for i in range(120)}
    rows[order[1]] = list(rows[order[0]])  # duplicate seed: lists/codes 0 and 1 tie
    nan_id, tie_id = order[9], order[10]  # neither is a seed
    rows[nan_id][3] = float("nan")
    rows[tie_id] = [x + 1e-3 for x in rows[order[0]]]
    rows = sorted(rows.items())
    register_vectors(duck, "edge", rows)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(k=5, n_lists=4, n_probe=1, m=4, n_codes=8, iterations=0, candidates=200)
    pred = f"vec_id IN ({nan_id}, {tie_id})"
    out = ivfpq_topk(corpus, corpus.where(pred), dim=16, **kw)
    assert_matches_twin_bits(
        out, duck, ivfpq_topk_sql(table="edge", query_pred=pred, dim=16, **kw)
    )
    got = {(r["query_id"], r["rank"]): r for r in out.collect()}
    # the NaN corpus row ranks first for the tied query, which probed list 0
    assert got[(tie_id, 1)]["vec_id"] == nan_id and math.isnan(got[(tie_id, 1)]["cos"])
    assert all(math.isnan(r["cos"]) for (q, _), r in got.items() if q == nan_id)
    cents = [dict(rows)[i] for i in order[:4]]
    assert _probe_lists([dict(rows)[tie_id], dict(rows)[nan_id]], cents, 16, 2)[2] == [
        [0, 1],
        [0, 1],
    ]
    with pytest.raises(ValueError, match="fewer than dim"):
        _probe_lists([[1.0, 2.0]], cents, 16, 1)
    assert ivfpq_topk(corpus, corpus.limit(0), dim=16, **kw).count() == 0


# ---------------------------------------------------------------------------
# Lloyd rounds and the fused encode-and-assign scan
# ---------------------------------------------------------------------------


def _edge_rows(dim=8, n=30):
    """Row 5 has a NaN component, row 9 a 1e300 one. Component 6 is
    non-positive everywhere else, so the saturated INT64_MAX of row 9
    can join any cluster without overflowing its BIGINT sum."""
    rows = [(i, [math.sin(i * 7.3 + j) for j in range(dim)]) for i in range(n)]
    for _, v in rows:
        v[6] = -abs(v[6])
    rows[5][1][2] = float("nan")
    rows[9][1][6] = 1e300
    return rows


def test_quantize_matches_spark_floor_conversion():
    import numpy as np

    from stock_chart_kafka_streams_spark.operators.exact_chains import (
        INT64_MAX,
        INT64_MIN,
        quantize,
    )

    v = np.array([[float("nan"), 1e300, -1e300, float("inf"), -float("inf"), 0.4999999, -0.5]])
    assert quantize(v, 1e6).tolist() == [
        [0, INT64_MAX, INT64_MIN, INT64_MAX, INT64_MIN, 500000, -500000]
    ]


def test_group_sums_are_exact_past_int64():
    import numpy as np

    from stock_chart_kafka_streams_spark.operators.exact_chains import (
        INT64_MAX,
        INT64_MIN,
        check_int64,
        group_sums,
    )

    keys = np.array([2, 0, 2, 1, 0])
    q = np.array([[INT64_MAX], [5], [INT64_MAX], [-3], [INT64_MIN]], dtype=np.int64)
    present, counts, sums = group_sums(keys, q)
    assert present.tolist() == [0, 1, 2] and counts.tolist() == [2, 1, 2]
    assert sums[:, 0].tolist() == [INT64_MIN + 5, -3, 2 * INT64_MAX]
    check_int64(sums[:2].ravel(), "test")
    with pytest.raises(ArithmeticError, match="overflow"):
        check_int64(sums.ravel(), "test")


def _lloyd_reference(rows, k, iterations, m, sub, metric):
    """Pure-Python replay of the deterministic k-means, one row and one
    dimension at a time: md5-ordered seeding, Spark's ``ORDER BY score,
    cid`` with NaN as the greatest value (cosine DESC for ``"cos"``,
    squared L2 ASC for ``"l2"``), components quantized by
    ``exact_chains.quantize`` (Spark's ``floor`` conversion) and summed as
    exact integers. Returns ``books[m][k]``."""
    import numpy as np

    from stock_chart_kafka_streams_spark.operators.exact_chains import quantize

    def chain(a, b, term):
        acc = np.float64(0.0)
        for x, y in zip(a, b):
            acc = acc + term(np.float64(x), np.float64(y))
        return acc

    def best(s, book):
        def key(cid):
            c = book[cid][:sub]
            if metric == "cos":
                nv = np.sqrt(chain(s, s, lambda x, y: x * y))
                nc = np.sqrt(chain(c, c, lambda x, y: x * y))
                score = chain(s, c, lambda x, y: x * y) / (nv * nc)
                nan_last, score = not math.isnan(score), -score  # DESC, NaN first
            else:
                score = chain(s, c, lambda x, y: (x - y) * (x - y))
                nan_last = math.isnan(score)  # ASC, NaN last
            return (nan_last, 0.0 if math.isnan(score) else score, cid)

        return min(range(len(book)), key=key)

    seeds = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))[:k]
    if metric == "cos":  # IVF keeps the raw seed vectors
        books = [[list(v) for _, v in seeds]]
    else:
        books = [[list(v[j * sub : (j + 1) * sub]) for _, v in seeds] for j in range(m)]
    with np.errstate(all="ignore"):
        for _ in range(iterations):
            new = []
            for j, book in enumerate(books):
                tot = {}
                for _, v in rows:
                    s = v[j * sub : (j + 1) * sub]
                    cid = best(s, book)
                    q = quantize(np.asarray([s], dtype=np.float64), 1e6)[0]
                    n, acc = tot.get(cid, (0, [0] * sub))
                    tot[cid] = (n + 1, [a + int(b) for a, b in zip(acc, q)])
                new.append(
                    [
                        [float(x) / float(tot[i][0]) / 1e6 for x in tot[i][1]]
                        if i in tot else c
                        for i, c in enumerate(book)
                    ]
                )
            books = new
    return books


def _fetched_rows(df, dim):
    """The raw training rows of ``df`` as ``_pq_train`` receives them
    (fetched and md5-sorted by ``_fetch_training``, not normalized)."""
    from stock_chart_kafka_streams_spark.operators import exact_chains
    from stock_chart_kafka_streams_spark.operators.similarity import _fetch_training

    vecs, _ = _fetch_training(df, "vec_id", "embedding", [(1, 1)])
    return exact_chains.arrow_rows(vecs, dim)


def test_lloyd_rounds_match_reference_on_nan_and_huge_components(spark):
    """A NaN component quantizes to 0 and a 1e300 one saturates at
    INT64_MAX, as Spark's ``floor(double)`` does; DuckDB's twin raises on
    both, so the reference is the pure-Python replay
    (``_lloyd_reference``). The driver-side Lloyd rounds must equal it
    bit for bit, NaN equal to NaN."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _pq_train,
        ivf_build_centroids,
    )

    rows = _edge_rows()
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    vect = ivf_build_centroids(df, 3, iterations=2, dim=8)
    assert bits(vect) == bits(_lloyd_reference(rows, 3, 2, 1, 8, "cos")[0])
    assert any(x > 1e9 for c in vect for x in c)  # the saturated sum

    books = _pq_train(_fetched_rows(df, 8), 2, 4, 3, 2)
    assert bits(books) == bits(_lloyd_reference(rows, 3, 2, 2, 4, "l2"))


def test_lloyd_kernels_raise_on_int64_overflow_like_ansi_sum(spark):
    """Two saturated components in one cluster overflow the BIGINT sum,
    where Spark's ANSI ``sum`` raises: so must the kernel — never wrap."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _pq_train,
        ivf_build_centroids,
    )

    rows = _edge_rows()
    rows[10] = (10, list(rows[9][1]))  # a second, identical huge vector
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    with pytest.raises(Exception, match="(?i)overflow"):
        ivf_build_centroids(df, 3, iterations=1, dim=8)
    with pytest.raises(Exception, match="(?i)overflow"):
        _pq_train(_fetched_rows(df, 8), 2, 4, 3, 1)


def test_index_build_matches_twin_across_partitions_and_batches(spark, embs, duck, tmp_path):
    """Three input partitions of several 64-row Arrow batches each: the
    one training fetch must gather every partition (the s6 twin's
    codebooks and coarse centroids), and the fused encode over every
    batch must give its ``codes`` joined with its ``lists``."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        build_pq_index,
        ivfpq_topk_sql,
        read_pq_index,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        corpus = embs.repartition(3)
        assert corpus.rdd.getNumPartitions() == 3 and corpus.count() > 3 * 64
        path = str(tmp_path / "idx")
        build_pq_index(corpus, path, n_lists=4)
        _, books, coarse = read_pq_index(spark, path)
        codes = spark.read.parquet(f"{path}/codes")
    finally:
        spark.conf.set(key, old)
    sql = ivfpq_topk_sql(k=10, n_lists=4)
    assert_bits_equal(
        list(enumerate(coarse)),
        duck.execute(_twin_select(sql, "SELECT cid, cv FROM cent2")).fetchall(),
    )
    for j in range(4):
        want = duck.execute(_twin_select(sql, f"SELECT cid, cv FROM cent2_s{j}")).fetchall()
        assert_bits_equal(list(enumerate(books[j])), want)
    assert_matches_twin_bits(
        codes, duck,
        _twin_select(sql, "SELECT c.*, l.cid FROM codes c JOIN lists l USING (vec_id)"),
    )


def test_training_past_max_train_rows_raises(spark, embs, tmp_path, monkeypatch):
    """Training fetches its rows to the driver, at most ``MAX_TRAIN_ROWS``
    of them: a training set of exactly the bound trains, one row more
    raises and names ``sample_den``, for every operator that trains."""
    from stock_chart_kafka_streams_spark.operators import similarity as S

    n_half = embs.where(S._md5_sample_pred("vec_id", 1, 2)).count()
    q = embs.where(F.col("vec_id") < 5)
    monkeypatch.setattr(S, "MAX_TRAIN_ROWS", n_half)
    vecs, (mask,) = S._fetch_training(embs, "vec_id", "embedding", [(1, 2)])
    assert len(vecs) == n_half and mask.all()
    S.pq_topk(embs, q, k=5, sample_den=2).collect()

    monkeypatch.setattr(S, "MAX_TRAIN_ROWS", n_half - 1)
    for train in (
        lambda: S.pq_topk(embs, q, k=5, sample_den=2),
        lambda: S.ivfpq_topk(embs, q, k=5, sample_den=2, coarse_sample_den=2),
        lambda: S.build_pq_index(embs, str(tmp_path / "idx"), sample_den=2),
        lambda: S.ivf_topk(embs, q, k=5),
        lambda: S.ivf_build_centroids(embs, 4),
        lambda: S.semantic_dedup(embs, sample_den=2),
    ):
        with pytest.raises(ValueError, match="MAX_TRAIN_ROWS.*sample_den"):
            train()


def test_kernel_closures_load_without_the_package(tmp_path):
    """The kernel closures pickle the shared chains by value: a Python
    process that cannot import this package can still run the list
    assignment's batch function."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from stock_chart_kafka_streams_spark.operators import similarity as S

    fn = S._assign_kernel([[1.0, 0.0], [0.0, 1.0]], "vec_id", 2)
    blob = tmp_path / "fn.pkl"
    blob.write_bytes(cloudpickle.dumps(fn))
    script = (
        "import pickle, sys\n"
        "sys.path = [p for p in sys.path if p not in ('', '.')]\n"
        "import pyarrow as pa\n"
        f"fn = pickle.loads(open({str(blob)!r}, 'rb').read())\n"
        "b = pa.RecordBatch.from_pydict({'vec_id': [7, 8], 'v': [[0.9, 0.1], [0.1, 0.8]]})\n"
        "out = list(fn(iter([b])))\n"
        "assert not any(m.startswith('stock_chart') for m in sys.modules)\n"
        "print(out[0].column('vec_id').to_pylist(), out[0].column('cid').to_pylist())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "[7, 8] [0, 1]"

"""Round-15 vectorized-exact kernels: BIT equality against the fold.

The optimization round replaced the interpreted HOF folds / literal plan
chains on the oracle-exact default paths (SRP codes, centroid
assignment, PQ training + encode) with Arrow-batched numpy kernels that
accumulate over DIMENSIONS left to right — the claim is not "equivalent
modulo ties" but BIT-IDENTICAL doubles and
therefore identical oracle hashes. These tests pin that claim at its
strictest: full row tuples including float values, plus the NaN /
non-default-dim edges the kernels must mirror from Spark semantics."""

import math

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_srp_codes_kernel_bit_equals_fold_expression(spark, embs):
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _srp_code_fold,
        _srp_codes,
    )

    v = embs.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    kernel = _srp_codes(v, "vec_id", 16, 4, 64)
    fold = v.select(
        F.col("vec_id").alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        _srp_code_fold(F.col("v"), t, 16, 64).alias("code"),
                    )
                    for t in range(4)
                ]
            )
        ).alias("tc"),
    ).select("id", F.col("tc.t"), F.col("tc.code"))
    assert _rows(kernel) == _rows(fold)


def test_srp_codes_nan_projection_counts_as_positive(spark):
    """Spark evaluates ``NaN > 0`` as TRUE (NaN-greatest ordering); the
    kernel must set the bit for a NaN projection exactly like the fold."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _srp_code_fold,
        _srp_codes,
    )

    nan = float("nan")
    rows = [(1, [nan] * 8), (2, [0.5] * 8), (3, [-0.5] * 8)]
    v = spark.createDataFrame(rows, "vec_id int, v array<double>")
    kernel = _rows(_srp_codes(v, "vec_id", 4, 2, 8))
    fold = _rows(
        v.select(
            F.col("vec_id").alias("id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            _srp_code_fold(F.col("v"), t, 4, 8).alias("code"),
                        )
                        for t in range(2)
                    ]
                )
            ).alias("tc"),
        ).select("id", F.col("tc.t"), F.col("tc.code"))
    )
    assert kernel == fold
    # the all-NaN row's projections are NaN -> every bit set
    assert [r for r in kernel if r[0] == 1] == [(1, 0, 15), (1, 1, 15)]


def test_assign_vector_bit_equals_assign_fold(spark, embs):
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _assign_fold,
        _assign_vector,
        ivf_build_centroids,
    )

    cents = ivf_build_centroids(embs, 8, assign_mode="fold")
    base = embs.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    fold = _assign_fold(base, cents, 64, "vec_id").select(
        "vec_id", "nv", "cid", "cent_cos"
    )
    vect = _assign_vector(base, cents, "vec_id", 64).select(
        "vec_id", "nv", "cid", "cent_cos"
    )
    # bit equality including the nv / cent_cos doubles
    assert _rows(fold) == _rows(vect)


def test_ivf_lloyd_vector_centroids_bit_equal_fold(spark, embs):
    from stock_chart_kafka_streams_spark.operators.similarity import (
        ivf_build_centroids,
    )

    fold = ivf_build_centroids(embs, 8, iterations=2, assign_mode="fold")
    vect = ivf_build_centroids(embs, 8, iterations=2, assign_mode="vector")
    assert fold == vect  # exact float equality, every component


def test_pq_train_and_encode_vector_bit_equal_fold(spark, embs):
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _coded_corpus,
        _normalized,
        _pq_encode,
        _pq_train,
    )

    cn = _normalized(embs, "vec_id", "embedding", 64)
    books_f = _pq_train(cn, 4, 16, 8, 2, "vec_id", "fold")
    books_v = _pq_train(cn, 4, 16, 8, 2, "vec_id", "vector")
    assert books_f == books_v
    codes_f = _pq_encode(cn, books_f, 4, 16, "vec_id")
    # the vector mode encodes the RAW corpus, normalizing inside the kernel
    codes_v = _coded_corpus(embs, books_f, None, "vector", "vec_id", "embedding", 64)
    assert _rows(codes_f) == _rows(codes_v)


def test_pq_topk_vector_bit_equals_fold_end_to_end(spark, embs):
    from stock_chart_kafka_streams_spark.operators.similarity import pq_topk

    q = embs.where(F.col("vec_id") < 5)
    fold = pq_topk(embs, q, k=10, m=4, n_codes=8, encode_mode="fold")
    vect = pq_topk(embs, q, k=10, m=4, n_codes=8, encode_mode="vector")
    assert _rows(fold) == _rows(vect)  # cos doubles included


def test_ivfpq_topk_vector_bit_equals_fold_end_to_end(spark, embs):
    from stock_chart_kafka_streams_spark.operators.similarity import ivfpq_topk

    q = embs.where(F.col("vec_id") < 5)
    fold = ivfpq_topk(embs, q, k=5, n_lists=4, n_probe=2, encode_mode="fold")
    vect = ivfpq_topk(embs, q, k=5, n_lists=4, n_probe=2, encode_mode="vector")
    assert _rows(fold) == _rows(vect)


def test_semantic_dedup_vector_bit_equals_fold(spark, embs):
    from stock_chart_kafka_streams_spark.operators.similarity import semantic_dedup

    fold = semantic_dedup(embs, threshold=0.95, n_centroids=8, assign_mode="fold")
    vect = semantic_dedup(embs, threshold=0.95, n_centroids=8, assign_mode="vector")
    assert _rows(fold) == _rows(vect)  # survivors AND cent_cos doubles


def test_assign_vector_nondefault_dim(spark):
    """The multimodal path assigns 8-dim feature vectors (dim=8): the
    kernel's dim-prefix slicing must match the fold's F.get/zip_with
    prefix semantics at a non-default width."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _assign_fold,
        _assign_vector,
    )

    rows = [(i, [math.sin(i * 7.3 + j) for j in range(8)]) for i in range(40)]
    base = spark.createDataFrame(rows, "vec_id int, v array<double>")
    cents = [r[1] for r in rows[:3]]
    fold = _assign_fold(base, cents, 8, "vec_id").select(
        "vec_id", "nv", "cid", "cent_cos"
    )
    vect = _assign_vector(base, cents, "vec_id", 8).select(
        "vec_id", "nv", "cid", "cent_cos"
    )
    assert _rows(fold) == _rows(vect)


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
        _normalized,
        _pq_encode,
        _pq_train,
    )

    m, sub_dim, dim = 4, 16, 64
    cn = _normalized(embs, "vec_id", "embedding", dim)
    books = _pq_train(cn, m, sub_dim, 8, 2, "vec_id", "fold")
    codes = _pq_encode(cn, books, m, sub_dim, "vec_id")
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
        _normalized,
        _pq_encode,
        _pq_train,
    )

    cn = _normalized(embs, "vec_id", "embedding", 64)
    books = _pq_train(cn, 4, 16, 8, 1, "vec_id", "fold")
    codes = _pq_encode(cn, books, 4, 16, "vec_id").limit(3)
    out = _adc_scan_vector(
        codes, books, [(99, [1.0] * 8)], 4, 16, "vec_id", 64, "bigint"
    ).collect()
    assert len(out) == 3 and all(r["adc"] is None for r in out)


def _nan_safe(rows):
    return sorted(
        tuple("nan" if isinstance(x, float) and math.isnan(x) else x for x in r)
        for r in rows
    )


def test_pq_topk_nan_scores_rank_like_the_fold(spark):
    """A NaN ADC score must stay NaN, which Spark sorts FIRST under the
    ``adc DESC`` candidate cut; a NULL would sort it last and cut it.
    Query 1 has a NaN component (every score NaN). Row ``nan_id`` is
    NaN too and sorts first by md5, so with no Lloyd round it is
    codebook centroid 0 of every subspace and the only row encoded
    there: query 0's scores are finite except against it."""
    import hashlib
    import random

    from stock_chart_kafka_streams_spark.operators.similarity import pq_topk

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(200)]
    nan_id = min(range(200), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    rows[nan_id][1][7] = float("nan")
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, rows[11][1]), (1, [float("nan")] + rows[12][1][1:])],
        "vec_id long, embedding array<double>",
    )
    out = {
        mode: _nan_safe(
            pq_topk(
                corpus, queries, k=5, n_codes=8, iterations=0, shards=1,
                encode_mode=mode,
            ).collect()
        )
        for mode in ("fold", "vector")
    }
    assert out["vector"] == out["fold"]
    # the NaN row survived the cut and ranks first for the finite query
    assert (0, nan_id, "nan", 1) in out["vector"]


def test_serve_query_set_past_its_bound_raises(spark, embs, monkeypatch):
    """pq_topk/ivfpq_topk collect the query set (and IVF's probe pairs)
    to the driver; past ``MAX_SERVE_QUERIES`` they raise instead."""
    from stock_chart_kafka_streams_spark.operators import similarity as S

    assert S.MAX_SERVE_QUERIES >= 50  # the largest batch any caller serves
    monkeypatch.setattr(S, "MAX_SERVE_QUERIES", 3)
    q = embs.where(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="query set has 5 rows.*maximum of 3"):
        S.pq_topk(embs, q, k=2, n_codes=4, iterations=1).collect()
    with pytest.raises(ValueError, match="set has .* rows.*serve-path maximum"):
        S.ivfpq_topk(embs, q, k=2, n_lists=2, n_probe=1, n_codes=4, iterations=1)
    S.pq_topk(embs, q.where(F.col("vec_id") < 3), k=2, n_codes=4, iterations=1).collect()


def test_vector_mode_rejected_names_still_raise(spark, embs, tmp_path):
    """Unknown modes raise before any Spark job runs — and so does
    "matmul": the inexact BLAS mode was deleted."""
    from stock_chart_kafka_streams_spark.operators import similarity as S

    assert not hasattr(S, "_assign_matmul") and not hasattr(S, "_pq_encode_matmul")
    for bad in ("simd", "matmul"):
        with pytest.raises(ValueError, match="assign_mode must be 'fold' or 'vector'"):
            S.semantic_dedup(embs, assign_mode=bad)
        with pytest.raises(ValueError, match="assign_mode"):
            S.ivf_build_centroids(embs, 4, assign_mode=bad)
        with pytest.raises(ValueError, match="encode_mode must be 'fold' or 'vector'"):
            S.pq_topk(embs, embs, encode_mode=bad)
        with pytest.raises(ValueError, match="encode_mode"):
            S.ivfpq_topk(embs, embs, encode_mode=bad)
        with pytest.raises(ValueError, match="encode_mode"):
            S.build_pq_index(embs, str(tmp_path / "i"), encode_mode=bad)


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


# ---------------------------------------------------------------------------
# Map-only Lloyd rounds and the fused encode-and-assign scan
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


def test_lloyd_kernels_match_fold_on_nan_and_huge_components(spark):
    """A NaN component quantizes to 0 and a 1e300 one saturates at
    INT64_MAX, as Spark's ``floor(double)`` does; the map-only Lloyd
    rounds must then agree with the JVM aggregate bit for bit."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _pq_train,
        ivf_build_centroids,
    )

    df = spark.createDataFrame(_edge_rows(), "vec_id int, embedding array<double>")
    fold = ivf_build_centroids(df, 3, iterations=2, dim=8, assign_mode="fold")
    vect = ivf_build_centroids(df, 3, iterations=2, dim=8, assign_mode="vector")
    assert repr(fold) == repr(vect)  # repr: NaN equals NaN
    assert any(x > 1e9 for c in vect for x in c)  # the saturated sum

    vn = df.select("vec_id", F.col("embedding").alias("vn"))
    books_f = _pq_train(vn, 2, 4, 3, 2, "vec_id", "fold")
    books_v = _pq_train(vn, 2, 4, 3, 2, "vec_id", "vector")
    assert repr(books_f) == repr(books_v)


def test_lloyd_kernels_raise_on_int64_overflow_like_ansi_sum(spark):
    """Two saturated components in one cluster overflow the BIGINT sum:
    the JVM aggregate raises (ANSI), and so must the kernel — never wrap."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _pq_train,
        ivf_build_centroids,
    )

    rows = _edge_rows()
    rows[10] = (10, list(rows[9][1]))  # a second, identical huge vector
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    vn = df.select("vec_id", F.col("embedding").alias("vn"))
    for mode in ("fold", "vector"):
        with pytest.raises(Exception, match="(?i)overflow"):
            ivf_build_centroids(df, 3, iterations=1, dim=8, assign_mode=mode)
        with pytest.raises(Exception, match="(?i)overflow"):
            _pq_train(vn, 2, 4, 3, 1, "vec_id", mode)


def test_map_only_build_reduces_across_partitions_and_batches(spark, embs, tmp_path):
    """Three input partitions of several 64-row Arrow batches each: the
    per-partition partial sums and the driver reduce must give the fold's
    codebooks and centroids, and the fused encode the fold build's
    (codes, cid) table."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        _normalized,
        _pq_train,
        build_pq_index,
        ivf_build_centroids,
        read_pq_index,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        corpus = embs.repartition(3)
        assert corpus.rdd.getNumPartitions() == 3 and corpus.count() > 3 * 64
        assert ivf_build_centroids(corpus, 8, assign_mode="vector") == (
            ivf_build_centroids(corpus, 8, assign_mode="fold")
        )
        cn = _normalized(corpus, "vec_id", "embedding", 64)
        assert _pq_train(cn, 4, 16, 8, 2, "vec_id", "vector") == _pq_train(
            cn, 4, 16, 8, 2, "vec_id", "fold"
        )
        built = {}
        for mode in ("fold", "vector"):
            path = str(tmp_path / mode)
            build_pq_index(corpus, path, n_lists=4, encode_mode=mode)
            _, books, coarse = read_pq_index(spark, path)
            codes = spark.read.parquet(f"{path}/codes").select(
                "vec_id", "code0", "code1", "code2", "code3", "cid"
            )
            built[mode] = (books, coarse, _rows(codes))
        assert built["vector"] == built["fold"]
    finally:
        spark.conf.set(key, old)


def test_lloyd_round_collect_past_its_bound_raises(spark, monkeypatch):
    """A round collects at most partitions x m x k rows; a kernel that
    emits more must fail loudly instead of growing the driver's collect."""
    from stock_chart_kafka_streams_spark.operators import similarity as S

    def _too_many(books, metric, sub):
        def _rows_out(batches):
            import pandas as pd

            for _ in batches:
                pass
            k = len(books[0])
            yield pd.DataFrame(
                {
                    "part": 0,
                    "sub": 0,
                    "cid": list(range(k)) + [0],
                    "n": 1,
                    "s": [[0] * sub for _ in range(k + 1)],
                }
            )

        return _rows_out

    monkeypatch.setattr(S, "_lloyd_kernel", _too_many)
    df = spark.createDataFrame([([0.0, 1.0],)], "vn array<double>").coalesce(1)
    with pytest.raises(RuntimeError, match="bound"):
        S._lloyd_round_vector(df, "vn", [[[0.0, 1.0], [1.0, 0.0]]], "l2", 2)


def test_kernel_closures_load_without_the_package(tmp_path):
    """The Lloyd and encode closures pickle the shared chains by value: a
    Python process that cannot import this package can still run them."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from stock_chart_kafka_streams_spark.operators import similarity as S

    fn = S._lloyd_kernel([[[1.0, 0.0], [0.0, 1.0]]], "l2", 2)
    blob = tmp_path / "fn.pkl"
    blob.write_bytes(cloudpickle.dumps(fn))
    script = (
        "import pickle, sys\n"
        "sys.path = [p for p in sys.path if p not in ('', '.')]\n"
        "import pandas as pd, pyspark\n"
        "class _Ctx:\n"
        "    def partitionId(self):\n"
        "        return 0\n"
        "pyspark.TaskContext.get = staticmethod(lambda: _Ctx())\n"
        f"fn = pickle.loads(open({str(blob)!r}, 'rb').read())\n"
        "out = list(fn(iter([pd.DataFrame({'vn': [[0.9, 0.1], [0.1, 0.8]]})])))\n"
        "assert not any(m.startswith('stock_chart') for m in sys.modules)\n"
        "print(out[0][['cid', 'n']].values.tolist(), out[0]['s'].tolist())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "[[0, 1], [1, 1]] [[900000, 100000], [100000, 800000]]"

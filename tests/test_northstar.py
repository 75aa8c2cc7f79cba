"""North-star operator tests (SURVEY §2.9): dedup, similarity, text,
multimodal. Oracle parity for these is covered by test_candles_oracle.py
(driver-contract parametrization); here are the semantic properties."""

import pytest
from pyspark.sql import functions as F

from stock_chart_kafka_streams_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash,
    dedup_ngram_jaccard,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)
from stock_chart_kafka_streams_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    lsh_topk,
    planted_neardup_vectors,
)
from stock_chart_kafka_streams_spark.operators.text import text_features

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


# -- dedup ----------------------------------------------------------------


def test_dedup_exact_removes_planted_duplicates(spark, docs):
    # plant whitespace-padded dups under new ids; normalization must catch them
    dup = docs.limit(5).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("  "), "text", F.lit("   ")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out = dedup_exact(docs.unionByName(dup))
    assert out.count() == docs.count()
    # originals (lower ids) survive
    assert out.where(F.col("doc_id") >= 10_000).count() == 0


def test_dedup_idempotent(docs):
    once = dedup_minhash(docs)
    twice = dedup_minhash(once)
    assert once.count() == twice.count()


def test_minhash_catches_near_duplicates(spark, docs):
    # append a copy of 5 docs with one word changed -> shingle overlap high
    near = docs.limit(5).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat("text", F.lit(" trailing extra token")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out = dedup_minhash(docs.unionByName(near))
    # every planted near-dup must collapse onto its (lower-id) original
    assert out.where(F.col("doc_id") >= 20_000).count() == 0


def test_jaccard_pairs_symmetric_bounds(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert 0.5 <= r["jaccard"] <= 1.0


def test_dedup_ngram_jaccard_removes_pair_members(docs):
    """1-hop rule: for every confirmed pair (a < b), b is removed; a
    survives unless it is the larger side of some other pair."""
    kept = dedup_ngram_jaccard(docs, threshold=0.5)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    expected_removed = pairs.select("id_b").distinct().count()
    assert docs.count() - kept.count() == expected_removed


def test_simhash_stable_and_total(docs):
    a = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert a == b
    assert len(a) == docs.count()
    assert all(0 <= v < 2**32 or v == -1 for v in a.values())


def test_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c d")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", shingles().alias("sh")).collect()}
    assert rows[1] == ["one two"]
    assert rows[2] == [""]
    assert rows[3] == ["a b c", "b c d"]


# -- similarity -----------------------------------------------------------


def test_cosine_topk_self_first(embs):
    top = cosine_topk(embs, embs.where(F.col("vec_id") < 5), k=10)
    firsts = top.where(F.col("rank") == 1).collect()
    for r in firsts:
        assert r["vec_id"] == r["query_id"]  # self-similarity == 1.0
        assert abs(r["cos"] - 1.0) < 1e-9


def test_ivf_recall_against_brute_force(embs):
    from stock_chart_kafka_streams_spark.operators.similarity import ivf_topk

    queries = embs.where(F.col("vec_id") < 10)
    brute = cosine_topk(embs, queries, k=5)
    approx = ivf_topk(embs, queries, k=5, n_centroids=8, n_probe=3)
    hits = brute.join(approx, on=["query_id", "vec_id"], how="left_semi").count()
    recall = hits / brute.count()
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"
    # rank-1 self hit must survive probing (query is in its own cell)
    self_hits = approx.where(
        (F.col("rank") == 1) & (F.col("query_id") == F.col("vec_id"))
    ).count()
    assert self_hits == 10


def test_ivf_deterministic(embs):
    from stock_chart_kafka_streams_spark.operators.similarity import ivf_build_centroids

    a = ivf_build_centroids(embs, n_centroids=4)
    b = ivf_build_centroids(embs, n_centroids=4)
    assert a == b


def test_lsh_recall_against_brute_force(embs):
    queries = embs.where(F.col("vec_id") < 20)
    brute = cosine_topk(embs, queries, k=5)
    approx = lsh_topk(embs, queries, k=5)
    hits = brute.join(approx, on=["query_id", "vec_id"], how="left_semi").count()
    recall = hits / brute.count()
    assert recall >= 0.3, f"LSH recall {recall:.2f} too low"


def test_embedding_neardup_finds_planted(embs):
    pairs = embedding_neardup_pairs(planted_neardup_vectors(embs), threshold=0.99)
    got = pairs.collect()
    planted_ids = {r["vec_id"] for r in embs.where(F.col("vec_id") % 40 == 0).collect()}
    assert {(r["id_a"], r["id_b"]) for r in got} == {
        (i, i + 1_000_000) for i in planted_ids
    }


def test_embedding_neardup_lsh_recall_vs_exact(embs):
    """The bucketed LSH near-dup path (the d5 driver query) against the
    exact all-pairs oracle: no false positives (every LSH pair is verified
    exactly, so it must appear in the exact result) and near-total recall
    on the planted ~0.999-cosine pairs."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        embedding_neardup_lsh,
    )

    aug = planted_neardup_vectors(embs)
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(aug, threshold=0.99).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_lsh(aug, threshold=0.99).collect()
    }
    assert lsh <= exact  # exact verification ⇒ zero false positives
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"LSH near-dup recall {recall:.2f} too low"


def test_knn_join_recall_against_brute_force(embs):
    """s4's corpus-wide neighbor graph vs brute force: the exact rank-1
    neighbor (excluding self) must be recovered for most vectors, and
    every emitted cos must be exact (verified scoring, so any (q, v)
    pair the approx path emits carries the same cosine brute force
    computes)."""
    from stock_chart_kafka_streams_spark.operators.similarity import knn_join

    queries = embs.where(F.col("vec_id") < 20)
    brute = cosine_topk(embs, queries, k=2)  # rank 1 = self, rank 2 = NN
    nn = {
        r["query_id"]: (r["vec_id"], r["cos"])
        for r in brute.where(F.col("rank") == 2).collect()
    }
    # random-corpus rank-1 neighbors are only moderately similar
    # (cos ~0.4-0.5 at 64 dims), so per-table SRP collision is weak:
    # few bits + many tables is the recall-oriented configuration.
    approx = knn_join(embs, k=5, n_bits=3, n_tables=8).where(
        F.col("query_id") < 20
    )
    got = {
        (r["query_id"], r["vec_id"]): r["cos"] for r in approx.collect()
    }
    hits = sum(
        1 for q, (v, _) in nn.items() if (q, v) in got
    )
    recall = hits / len(nn)
    assert recall >= 0.5, f"kNN-join rank-1 recall {recall:.2f} too low"
    # exact verified scoring: where approx found the true NN, the cosine
    # matches brute force to float tolerance
    for q, (v, cos) in nn.items():
        if (q, v) in got:
            assert abs(got[(q, v)] - cos) < 1e-9


# -- text -----------------------------------------------------------------


def test_lang_id_on_real_language_samples(spark):
    """The synthetic corpus's lang column is arbitrary metadata (the text is
    the same English-ish word soup for every label), so accuracy is measured
    on hand-written samples instead."""
    samples = [
        (1, "the cat and the dog sat on the mat for a while", "en"),
        (2, "der Hund und die Katze sind nicht mit dem Ball", "de"),
        (3, "le chat est dans la maison et les oiseaux sont sur le toit", "fr"),
        (4, "el perro y los gatos es una historia del pueblo", "es"),
        (5, "今天天气很好我们一起去公园散步吧", "zh"),
        (6, "zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string, expect string")
    got = {r["doc_id"]: r["lang_pred"] for r in text_features(df).collect()}
    want = {i: e for i, _, e in samples}
    assert got == want


def test_text_features_ranges(docs):
    feats = text_features(docs)
    bad = feats.where(
        (F.col("quality") < 0) | (F.col("quality") > 1) | (F.col("n_tokens") < 0)
    )
    assert bad.count() == 0
    assert feats.where(F.length("fingerprint") != 32).count() == 0


# -- LSH bucket skew guard (round 8, r7 verdict #4) -----------------------


def _mega_bucket_vectors(spark, n: int = 600):
    """n IDENTICAL vectors: every one lands in the same SRP bucket in
    every table — the degenerate dense-embedding-mode corpus that turns
    the bucket-pair explode into a single-task bucket² explosion."""
    from stock_chart_kafka_streams_spark.operators.similarity import EMBED_DIM

    base = [0.3 + 0.01 * (i % 7) for i in range(EMBED_DIM)]
    return spark.createDataFrame(
        [(i, base) for i in range(n)], "vec_id long, embedding array<double>"
    )


def test_bucket_cap_splits_mega_bucket(spark):
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.similarity import (
        EMBED_DIM,
        _apply_bucket_cap,
        _as_double,
        _srp_codes,
    )

    vecs = _mega_bucket_vectors(spark, 600)
    v = vecs.select(F.col("vec_id"), _as_double("embedding").alias("v"))
    codes = _srp_codes(v, "vec_id", n_bits=4, n_tables=2, dim=EMBED_DIM)
    # sanity: without the guard, one bucket per table holds all 600 ids
    assert codes.groupBy("t", "code").count().agg(F.max("count")).collect()[0][0] == 600
    guarded, group_cols = _apply_bucket_cap(codes, 50)
    assert group_cols == ["t", "code", "sub"]
    sizes = [r["count"] for r in guarded.groupBy(*group_cols).count().collect()]
    # ceil(600/50)=12 sub-buckets per table; md5 splitting is uneven but
    # bounded — no sub-bucket (i.e. no task's pair-explode input) may be
    # more than ~2x the cap
    assert len(sizes) >= 12
    assert max(sizes) <= 100


def test_bucket_cap_noop_below_cap(embs):
    """At default shapes (all buckets under the cap) the guard must be a
    bit-exact no-op — this is what keeps the d5/s4 driver oracles valid
    with the guard on by default."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        embedding_neardup_lsh,
        knn_join,
        planted_neardup_vectors,
    )

    aug = planted_neardup_vectors(embs)
    with_cap = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_lsh(aug, threshold=0.99).collect()
    }
    no_cap = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_lsh(aug, threshold=0.99, bucket_cap=None).collect()
    }
    assert with_cap == no_cap and len(with_cap) > 0
    k_cap = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in knn_join(embs, k=3).where(F.col("query_id") < 10).collect()
    }
    k_none = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in knn_join(embs, k=3, bucket_cap=None)
        .where(F.col("query_id") < 10)
        .collect()
    }
    assert k_cap == k_none and len(k_cap) > 0


def test_bucket_cap_preserves_cluster_connectivity(spark):
    """The documented recall trade: pair recall inside a split mega-bucket
    drops, but CLUSTER recall survives transitivity — each sub-bucket's
    pairs are complete and the per-table salts split differently, so
    connected components still merges the whole mega-bucket into ONE
    cluster (what d5 -> d7 dedup actually consumes)."""
    from pyspark.sql import functions as F

    from stock_chart_kafka_streams_spark.operators.dedup import (
        connected_components,
    )
    from stock_chart_kafka_streams_spark.operators.similarity import (
        embedding_neardup_lsh,
    )

    vecs = _mega_bucket_vectors(spark, 300)
    pairs = embedding_neardup_lsh(
        vecs, threshold=0.99, n_bits=4, n_tables=2, bucket_cap=50
    )
    n_pairs = pairs.count()
    all_pairs = 300 * 299 // 2
    assert 0 < n_pairs < all_pairs  # capped: strictly fewer than bucket²
    cc = connected_components(
        vecs.select("vec_id"), pairs, id_col="vec_id", max_iter=30
    )
    assert cc.select("cluster_id").distinct().count() == 1


def test_pq_recall_against_brute_force(embs):
    from stock_chart_kafka_streams_spark.operators.similarity import pq_topk

    queries = embs.where(F.col("vec_id") < 10)
    brute = cosine_topk(embs, queries, k=5)
    # near-orthogonal random vectors are the hardest ANN input; widen the
    # codebook and the ADC candidate cut (~10% of this 500-vector corpus,
    # the same recall/scan trade the IVF test makes probing 3/8 cells)
    approx = pq_topk(embs, queries, k=5, m=4, n_codes=16, candidates=50)
    hits = brute.join(approx, on=["query_id", "vec_id"], how="left_semi").count()
    recall = hits / brute.count()
    assert recall >= 0.5, f"PQ recall {recall:.2f} too low"
    # the exact rerank must surface the query itself at rank 1 whenever it
    # survives the ADC candidate cut; with candidates=4k that is all 10
    self_hits = approx.where(
        (F.col("rank") == 1) & (F.col("query_id") == F.col("vec_id"))
    ).count()
    assert self_hits == 10


def test_pq_two_phase_cut_equals_flat_cut(embs):
    """The sharded two-phase ADC candidate cut must select the SAME final
    top-k as a degenerate single-shard run — per-shard top-c always covers
    the global top-c (the correctness argument for the no-funnel plan)."""
    from stock_chart_kafka_streams_spark.operators.similarity import pq_topk

    queries = embs.where(F.col("vec_id") < 5)
    sharded = pq_topk(embs, queries, k=5, shards=16)
    flat = pq_topk(embs, queries, k=5, shards=1)
    assert sharded.exceptAll(flat).count() == 0
    assert flat.exceptAll(sharded).count() == 0


def test_pq_sampled_training_still_ranks_self_first(embs):
    from stock_chart_kafka_streams_spark.operators.similarity import pq_topk

    queries = embs.where(F.col("vec_id") < 5)
    out = pq_topk(embs, queries, k=3, sample_num=1, sample_den=2)
    firsts = out.where(F.col("rank") == 1).collect()
    assert len(firsts) == 5
    for r in firsts:
        assert r["vec_id"] == r["query_id"] and abs(r["cos"] - 1.0) < 1e-9


def test_pq_rejects_degenerate_parameters(embs):
    from stock_chart_kafka_streams_spark.operators.similarity import (
        pq_topk,
        pq_topk_sql,
    )

    with pytest.raises(ValueError, match="divisible"):
        pq_topk(embs, embs, m=7)
    with pytest.raises(ValueError, match="candidates"):
        pq_topk(embs, embs, k=10, candidates=5)
    with pytest.raises(ValueError, match="divisible"):
        pq_topk_sql(m=7)
    with pytest.raises(ValueError, match="sample fraction"):
        pq_topk(embs, embs, sample_num=3, sample_den=2)
    # training set smaller than the codebook: explicit error, no padding
    with pytest.raises(ValueError, match="n_codes"):
        pq_topk(embs.limit(4), embs.limit(1), n_codes=8)


# -- incremental (cross-snapshot) dedup ------------------------------------


def test_incremental_dedup_exact_drops_only_cross_snapshot_copies(spark):
    from stock_chart_kafka_streams_spark.operators.dedup import incremental_dedup

    existing = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # exact copy
            (11, "The  quick BROWN fox jumps over the lazy dog"),  # normalized copy
            (12, "a completely different document about spark"),
            (13, "a completely different document about spark"),  # intra-batch dup
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in incremental_dedup(existing, incoming).collect()}
    # copies of EXISTING go; intra-batch dups are out of contract and stay
    assert kept == {12, 13}


def test_incremental_dedup_minhash_drops_near_dups(spark):
    from stock_chart_kafka_streams_spark.operators.dedup import incremental_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    existing = spark.createDataFrame([(0, base)], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [
            (10, base.replace("kappa", "lambda")),  # near-dup of existing
            (11, "totally unrelated words about weather and sailing boats"),
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in incremental_dedup(
            existing, incoming, mode="minhash", threshold=0.5
        ).collect()
    }
    assert kept == {11}


def test_incremental_dedup_rejects_unknown_mode(spark):
    from stock_chart_kafka_streams_spark.operators.dedup import (
        incremental_dedup,
        incremental_dedup_sql,
    )

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="mode"):
        incremental_dedup(df, df, mode="fuzzy")
    with pytest.raises(ValueError, match="mode"):
        incremental_dedup_sql("documents", "documents", mode="fuzzy")


def test_pq_zero_norm_vector_never_hijacks_rank1(spark):
    """An all-zero embedding must rerank at cos 0 (guarded norm), never
    NaN — Spark sorts NaN above every real cosine under DESC, so an
    unguarded rerank would hand the zero vector rank 1."""
    from stock_chart_kafka_streams_spark.operators.similarity import pq_topk

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    rows.append((99, [0.0] * 64))  # the degenerate vector
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_topk(vecs, vecs.where(F.col("vec_id") < 2), k=41, m=4,
                  n_codes=4, candidates=41).collect()
    zero_rows = [r for r in out if r["vec_id"] == 99]
    for r in zero_rows:
        assert r["cos"] == 0.0 and r["rank"] > 1
    firsts = [r for r in out if r["rank"] == 1]
    assert all(r["vec_id"] == r["query_id"] for r in firsts)


def test_pq_rejects_nonpositive_m(embs):
    from stock_chart_kafka_streams_spark.operators.similarity import (
        pq_topk,
        pq_topk_sql,
    )

    with pytest.raises(ValueError, match="m must"):
        pq_topk(embs, embs, m=0)
    with pytest.raises(ValueError, match="m must"):
        pq_topk_sql(m=-4)


def test_pq_encode_topk_bit_equals_twin(spark, embs, duck):
    """The encode (certified BLAS argmin, Arrow ADC scan) must produce
    the SAME final top-k rows, cos doubles bit for bit, as the DuckDB
    twin at k=5."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        pq_topk,
        pq_topk_sql,
    )
    from tests.oracle import assert_matches_twin_bits

    queries = embs.where(F.col("vec_id") < 5)
    assert_matches_twin_bits(
        pq_topk(embs, queries, k=5, n_codes=8), duck, pq_topk_sql(k=5, n_codes=8)
    )


def test_pq_runs_at_paper_scale_codebooks(spark, embs):
    """k*=256 codes per subspace (the PQ paper's standard configuration)
    must be RUNNABLE on the exact path — a literal-array JVM plan of
    256 centroids per subspace is not. n_codes=256 > the 500-vector fixture's 1/2 sample, so train
    on the full corpus; self-hit at rank 1 proves the whole path works."""
    from stock_chart_kafka_streams_spark.operators.similarity import pq_topk

    out = pq_topk(
        embs,
        embs.where(F.col("vec_id") < 3),
        k=3,
        m=4,
        n_codes=256,
    )
    firsts = out.where(F.col("rank") == 1).collect()
    assert len(firsts) == 3
    for r in firsts:
        assert r["vec_id"] == r["query_id"] and abs(r["cos"] - 1.0) < 1e-9


def test_pq_rejects_unknown_encode_mode(embs):
    """pq_topk has one path: any ``encode_mode`` is an unknown argument."""
    from stock_chart_kafka_streams_spark.operators.similarity import pq_topk

    with pytest.raises(TypeError, match="encode_mode"):
        pq_topk(embs, embs, encode_mode="simd")


def test_incremental_dedup_precomputed_buckets_identical(spark, tmp_path):
    """The materialize-once story must be executable, not just
    documented: d9b over a PERSISTED band_buckets table (what a
    continuous-ingestion deployment stores per snapshot) must equal the
    on-the-fly form exactly."""
    from stock_chart_kafka_streams_spark.operators.dedup import (
        band_buckets,
        incremental_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    existing = spark.createDataFrame(
        [(0, base), (1, "completely different legal filings and court text")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(10, base.replace("kappa", "lambda")), (11, "weather and sailing")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ex_buckets")
    band_buckets(existing).write.parquet(path)
    stored = spark.read.parquet(path)
    live = incremental_dedup(existing, incoming, mode="minhash", threshold=0.5)
    precomp = incremental_dedup(
        existing, incoming, mode="minhash", threshold=0.5, existing_buckets=stored
    )
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, precomp.collect()))
    # and the guard: buckets make no sense for the exact mode
    with pytest.raises(ValueError, match="existing_buckets"):
        incremental_dedup(existing, incoming, existing_buckets=stored)


def test_incremental_dedup_band_cap_lossless_on_planted_hot_band(spark):
    """r9 verdict #1: the cross-table band join needs a skew cap. Unlike
    the self-join cap (recall trade), the cross-table split REPLICATES
    the other side across sub-buckets, so results must be BIT-IDENTICAL
    with the cap firing hard (40-doc and 20-doc buckets under cap=4) vs
    disabled — and both must match the (unsplit) DuckDB twin."""
    import duckdb
    import pandas as pd

    from stock_chart_kafka_streams_spark.operators.dedup import (
        incremental_dedup,
        incremental_dedup_sql,
    )
    from tests.oracle import assert_matches_oracle

    boiler = "terms of service privacy policy all rights reserved contact us"
    # 40 existing copies of one boilerplate page: every band bucket on
    # the existing side holds 40 rows -> hot under cap=4 (nsub=10).
    ex_rows = [(i, boiler) for i in range(40)]
    ex_rows += [(100 + i, f"unique existing article number {i} body text here") for i in range(5)]
    # 10 EXACT incoming copies (guaranteed band collision + Jaccard 1.0)
    # make the incoming side hot too (nsub=3), plus near variants and
    # genuinely fresh docs.
    in_rows = [(1000 + i, boiler) for i in range(10)]
    in_rows += [(1100 + i, boiler.replace("contact", f"email{i % 2}")) for i in range(10)]
    in_rows += [(2000 + i, f"fresh incoming report {i} with novel content") for i in range(5)]
    existing = spark.createDataFrame(ex_rows, "doc_id long, text string")
    incoming = spark.createDataFrame(in_rows, "doc_id long, text string")

    capped = incremental_dedup(
        existing, incoming, mode="minhash", threshold=0.5, band_cap=4
    )
    uncapped = incremental_dedup(
        existing, incoming, mode="minhash", threshold=0.5, band_cap=None
    )
    got_capped = sorted(map(tuple, capped.collect()))
    assert got_capped == sorted(map(tuple, uncapped.collect()))
    kept_ids = {r[0] for r in got_capped}
    # exact copies MUST drop (the split cannot lose their pairs); fresh
    # docs MUST survive
    assert kept_ids.isdisjoint({1000 + i for i in range(10)})
    assert {2000 + i for i in range(5)} <= kept_ids

    con = duckdb.connect()
    con.register("ex_t", pd.DataFrame(ex_rows, columns=["doc_id", "text"]))
    con.register("in_t", pd.DataFrame(in_rows, columns=["doc_id", "text"]))
    assert_matches_oracle(
        capped, con, incremental_dedup_sql("ex_t", "in_t", mode="minhash", threshold=0.5)
    )
    con.close()


def test_incremental_dedup_rejects_nonpositive_band_cap(spark):
    from stock_chart_kafka_streams_spark.operators.dedup import incremental_dedup

    df = spark.createDataFrame([(0, "alpha beta gamma delta")], "doc_id long, text string")
    with pytest.raises(ValueError, match="band_cap"):
        incremental_dedup(df, df, mode="minhash", band_cap=0)


# -- s6: IVF + PQ (round 10) -------------------------------------------------


def test_ivfpq_matches_duckdb_full_replay(spark, embs, duck):
    """The composed coarse-kmeans + PQ procedure must hash-match the
    DuckDB twin end-to-end (the s3/s5 discipline applied to their
    composition)."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_topk_sql,
    )
    from tests.oracle import assert_matches_oracle

    got = ivfpq_topk(
        embs, embs.where(F.col("vec_id") < 5), k=10, n_lists=8, n_probe=3
    )
    assert_matches_oracle(
        got, duck, ivfpq_topk_sql(k=10, n_lists=8, n_probe=3)
    )


def test_ivfpq_recall_vs_exact(spark, embs):
    """Probing 6 of 8 lists must recover most of the exact top-10 (and
    every query's own vector at rank 1 — the self-hit lives in the
    query's nearest list by construction)."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk,
    )

    queries = embs.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(embs, queries, k=10).collect()
    }
    approx_rows = ivfpq_topk(
        embs, queries, k=10, n_lists=8, n_probe=6, n_codes=16, candidates=60
    ).collect()
    approx = {(r["query_id"], r["vec_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    firsts = [r for r in approx_rows if r["rank"] == 1]
    assert len(firsts) == 10
    for r in firsts:
        assert r["vec_id"] == r["query_id"] and abs(r["cos"] - 1.0) < 1e-9


def test_ivfpq_4_lists_2_probes_bit_equals_twin(spark, embs, duck):
    """s6 at 4 lists / 2 probes against the DuckDB twin, bit for bit."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_topk_sql,
    )
    from tests.oracle import assert_matches_twin_bits

    queries = embs.where(F.col("vec_id") < 3)
    assert_matches_twin_bits(
        ivfpq_topk(embs, queries, k=5, n_lists=4, n_probe=2),
        duck,
        ivfpq_topk_sql(k=5, n_lists=4, n_probe=2, query_pred="vec_id < 3"),
    )


def test_ivfpq_rejects_bad_params(embs):
    from stock_chart_kafka_streams_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_topk_sql,
    )

    with pytest.raises(ValueError, match="n_probe"):
        ivfpq_topk(embs, embs, n_lists=4, n_probe=5)
    with pytest.raises(ValueError, match="n_probe"):
        ivfpq_topk_sql(n_lists=4, n_probe=0)
    with pytest.raises(ValueError, match="n_lists"):
        ivfpq_topk(embs, embs, n_lists=0)
    with pytest.raises(TypeError, match="encode_mode"):
        ivfpq_topk(embs, embs, encode_mode="gpu")


def test_ivfpq_coarse_sample_matches_twin(spark, embs, duck):
    """coarse_sample trains the coarse quantizer on the md5 subsample —
    the twin must replay the sampled k-means and still hash-match; bad
    fractions raise on both sides."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_topk_sql,
    )
    from tests.oracle import assert_matches_oracle

    got = ivfpq_topk(
        embs,
        embs.where(F.col("vec_id") < 4),
        k=5,
        n_lists=4,
        n_probe=2,
        coarse_sample_num=1,
        coarse_sample_den=2,
    )
    assert_matches_oracle(
        got,
        duck,
        ivfpq_topk_sql(
            k=5,
            n_lists=4,
            n_probe=2,
            coarse_sample_num=1,
            coarse_sample_den=2,
            query_pred="vec_id < 4",
        ),
    )
    with pytest.raises(ValueError, match="coarse sample"):
        ivfpq_topk(embs, embs, coarse_sample_num=3, coarse_sample_den=2)
    with pytest.raises(ValueError, match="coarse sample"):
        ivfpq_topk_sql(coarse_sample_num=0)

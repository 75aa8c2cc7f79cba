"""Property tests for the round-8 curation additions: d8 semantic dedup
(SemDeDup-style cluster-then-prune) and p4b exact n-gram collision
decontamination. Cross-engine value equality for both is pinned by the
extras oracle in test_new_queries.py; these tests pin the SEMANTIC
claims (pair resolution, keep rule, no-op cap, short-doc behavior)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted(spark):
    from stock_chart_kafka_streams_spark.operators.similarity import (
        planted_neardup_vectors,
    )

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return planted_neardup_vectors(embs).localCheckpoint(eager=True)


def test_semantic_dedup_resolves_every_planted_pair(spark, planted):
    """Each planted (id, id+1M) near-dup pair loses EXACTLY one member —
    SemDeDup's point — and non-duplicated vectors all survive."""
    from stock_chart_kafka_streams_spark.operators.similarity import semantic_dedup

    survivors = {
        r["vec_id"] for r in semantic_dedup(planted, threshold=0.99).collect()
    }
    base_ids = {
        r["vec_id"]
        for r in planted.where(F.col("vec_id") < 1_000_000).collect()
    }
    planted_ids = {
        r["vec_id"] - 1_000_000
        for r in planted.where(F.col("vec_id") >= 1_000_000).collect()
    }
    assert planted_ids, "fixture must plant duplicates"
    for pid in planted_ids:
        kept = {pid, pid + 1_000_000} & survivors
        assert len(kept) == 1, f"pair {pid} kept {kept}"
    # vectors with no planted twin survive untouched (random corpus
    # vectors do not reach cosine 0.99 with each other)
    assert base_ids - planted_ids <= survivors


def test_semantic_dedup_keeps_lower_centroid_cosine_member(spark, planted):
    """The survivor of each pair is the member with the LOWER cosine to
    its centroid (ties to lower id) — the paper's diversity-preserving
    keep rule, asserted from the operator's own cent_cos output."""
    from stock_chart_kafka_streams_spark.operators.similarity import semantic_dedup

    rows = semantic_dedup(planted, threshold=0.99).collect()
    cent = {r["vec_id"]: r["cent_cos"] for r in rows}
    survivors = set(cent)
    planted_ids = {
        r["vec_id"] - 1_000_000
        for r in planted.where(F.col("vec_id") >= 1_000_000).collect()
    }
    # survivors' cent_cos is only emitted for survivors; recompute the
    # loser's from a cap=None run over the pair membership instead:
    # sufficient here to check the SURVIVING member is not the planted
    # copy AND the original at the same time (exactly one survives, by
    # the other test) — verify the rule on pairs where both cent_cos
    # values are recoverable from two runs with disjoint thresholds.
    # Simplest faithful check: rerun with threshold > 1 (no pair ever
    # matches) to get every vector's cent_cos, then compare.
    all_cent = {
        r["vec_id"]: r["cent_cos"]
        for r in semantic_dedup(planted, threshold=1.5).collect()
    }
    for pid in planted_ids:
        a, b = pid, pid + 1_000_000
        ca, cb = all_cent[a], all_cent[b]
        expected_survivor = a if (ca, a) < (cb, b) else b
        assert expected_survivor in survivors
        assert ({a, b} - {expected_survivor}).isdisjoint(survivors)


def test_semantic_dedup_cap_is_noop_below_threshold(spark, planted):
    """cluster_cap=None and the (large) default produce identical
    survivor sets when no cluster exceeds the cap — the same bit-exact
    no-op contract _apply_bucket_cap gives d5/s4."""
    from stock_chart_kafka_streams_spark.operators.similarity import semantic_dedup

    with_cap = sorted(
        (r["vec_id"], r["cid"]) for r in semantic_dedup(planted).collect()
    )
    no_cap = sorted(
        (r["vec_id"], r["cid"])
        for r in semantic_dedup(planted, cluster_cap=None).collect()
    )
    assert with_cap == no_cap


def test_ngram_collision_flags_benchmark_and_exact_copies(spark):
    """Every benchmark member long enough to have an n-gram is flagged
    (it collides with itself); an exact copy of a benchmark doc under a
    new id is flagged; an unrelated doc is not."""
    from stock_chart_kafka_streams_spark.operators.text import (
        ngram_collision_decontaminate,
    )

    bench_text = " ".join(f"tok{i}" for i in range(20))
    other_text = " ".join(f"alt{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, bench_text),
            (2, bench_text),  # exact copy of the benchmark doc
            (3, other_text),
        ],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") == 1)
    out = {
        r["doc_id"]: (r["n_collisions"], r["contaminated"])
        for r in ngram_collision_decontaminate(docs, bench, n=13).collect()
    }
    assert out[1][1] and out[2][1]
    assert out[1][0] == out[2][0] == 20 - 13 + 1
    assert out[3] == (0, False)


def test_ngram_collision_short_docs_never_flagged(spark):
    """Documents shorter than n tokens have no n-grams: zero collisions
    even when their full text appears inside a benchmark document."""
    from stock_chart_kafka_streams_spark.operators.text import (
        ngram_collision_decontaminate,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma " + " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["contaminated"]
        for r in ngram_collision_decontaminate(docs, bench, n=13).collect()
    }
    assert out[1] is False  # 3 tokens < n: no gram, never flagged
    assert out[2] is True  # its 13-grams appear verbatim in the benchmark


def test_semantic_dedup_cluster_cap_bounds_mega_cluster(spark):
    """600 identical vectors collapse into ONE cluster — the degenerate
    corpus that makes the within-cluster pair explode quadratic on one
    task. With cluster_cap=50 the cluster salt-splits into ~12 bounded
    sub-buckets; dedup stays complete WITHIN each sub-bucket, so the
    survivor count collapses from 600 to ~#sub-buckets (the documented
    recall trade confines misses to cross-sub pairs)."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        EMBED_DIM,
        semantic_dedup,
    )

    base = [0.3 + 0.01 * (i % 7) for i in range(EMBED_DIM)]
    vecs = spark.createDataFrame(
        [(i, base) for i in range(600)], "vec_id long, embedding array<double>"
    )
    out = semantic_dedup(vecs, threshold=0.99, n_centroids=4, cluster_cap=50).collect()
    survivors = {r["vec_id"] for r in out}
    assert 1 <= len(survivors) <= 24  # ceil(600/50)=12 subs, md5 split ≤ ~2x uneven
    assert len({r["cid"] for r in out}) == 1  # identical vectors, one cluster


def test_unigram_rarity_orders_gibberish_above_stopword_soup(spark):
    """The semantic claim behind the filter: a document of corpus-unique
    tokens scores maximally rare, a document of the corpus's most common
    tokens scores least rare, and an empty document scores 0."""
    from stock_chart_kafka_streams_spark.operators.text import (
        _RARITY_SCALE,
        unigram_rarity,
    )

    common = "the " * 50  # will dominate the frequency table
    docs = spark.createDataFrame(
        [
            (1, common),
            (2, common),
            (3, "zzqj xkvw qqpl mmzx"),  # singleton tokens: maximal rarity
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_rarity(docs, top_k=10).collect()}
    assert out[4]["n_tokens"] == 0 and out[4]["mean_rarity"] == 0.0
    assert out[3]["mean_rarity"] == float(_RARITY_SCALE)  # freq-1 tokens
    assert out[1]["mean_rarity"] == out[2]["mean_rarity"]
    assert out[1]["mean_rarity"] < out[3]["mean_rarity"]
    # 'the' appears 100x corpus-wide -> rarity floor(1e12/100)
    assert out[1]["mean_rarity"] == float(_RARITY_SCALE // 100)


def test_unigram_rarity_oov_tokens_score_as_singletons(spark):
    """Tokens outside the top_k vocabulary take frequency 1 regardless of
    their true corpus frequency — the bounded-vocabulary contract."""
    from stock_chart_kafka_streams_spark.operators.text import (
        _RARITY_SCALE,
        unigram_rarity,
    )

    docs = spark.createDataFrame(
        [(1, "aa aa aa bb bb cc")], "doc_id long, text string"
    )
    out = unigram_rarity(docs, top_k=1).collect()[0]
    # vocab = {aa: 3}; bb (freq 2) and cc are OOV -> rarity 1e12 each
    expected = (3 * (_RARITY_SCALE // 3) + 3 * _RARITY_SCALE) / 6.0
    assert out["mean_rarity"] == expected


def test_mixture_sample_flattens_skewed_sources(spark):
    """The temperature property on a deliberately skewed corpus (900 head
    / 100 tail): at alpha=1 rates are uniform across sources (natural
    mix); at alpha=1/4 the tail source's keep RATE strictly exceeds the
    head's (flattened mix), while the expected total stays ~target. Also
    pins determinism: two runs keep the identical row set."""
    from stock_chart_kafka_streams_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, f"t{i}", "en", "head", 1) for i in range(900)]
    rows += [(i + 1000, f"t{i}", "en", "tail", 1) for i in range(100)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    natural = temperature_mixture_sample(docs, target_frac=0.5, alpha_quarters=4)
    flat = temperature_mixture_sample(docs, target_frac=0.5, alpha_quarters=1)
    nat_rates = {r["source"]: r["sample_rate"] for r in natural.collect()}
    flat_rates = {r["source"]: r["sample_rate"] for r in flat.collect()}
    assert nat_rates["head"] == nat_rates["tail"]  # alpha=1: natural shares
    assert flat_rates["tail"] > flat_rates["head"]  # alpha<1: tail upsampled
    kept = flat.count()
    assert 0.35 * 1000 <= kept <= 0.65 * 1000  # expectation ~ target_frac
    again = {r["doc_id"] for r in temperature_mixture_sample(
        docs, target_frac=0.5, alpha_quarters=1
    ).collect()}
    assert again == {r["doc_id"] for r in flat.collect()}


def test_mixture_sample_rejects_bad_params(spark):
    from stock_chart_kafka_streams_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    docs = spark.createDataFrame(
        [(1, "x", "en", "a", 1)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_mixture_sample(docs, target_frac=0.0)
    with _pytest.raises(ValueError):
        temperature_mixture_sample(docs, alpha_quarters=5)


# ---------------------------------------------------------------------------
# round 9: bit equality with the twin, verify prune, cap-mirrored twin,
# stage stats
# ---------------------------------------------------------------------------


def test_semantic_dedup_planted_bit_equals_twin(spark, planted, duck):
    """The assignment (certified BLAS argmax) must pick the same clusters,
    survivors and cent_cos doubles, bit for bit, as the DuckDB twin on
    the planted fixture."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        PLANTED_NEARDUP_CTE,
        semantic_dedup,
        semantic_dedup_sql,
    )
    from tests.oracle import assert_matches_twin_bits

    assert_matches_twin_bits(
        semantic_dedup(planted, threshold=0.99),
        duck,
        semantic_dedup_sql(
            threshold=0.99, source_cte=PLANTED_NEARDUP_CTE, source_name="aug"
        ),
    )


def test_semantic_dedup_verify_prune_is_lossless(spark, planted):
    """The spherical-triangle-inequality prune is a NECESSARY-condition
    filter: enabling it must not change a single output row (values
    included) — it only skips pairs the exact verify would reject."""
    from stock_chart_kafka_streams_spark.operators.similarity import semantic_dedup

    on = sorted(
        map(tuple, semantic_dedup(planted, threshold=0.99, verify_prune=True).collect())
    )
    off = sorted(
        map(tuple, semantic_dedup(planted, threshold=0.99, verify_prune=False).collect())
    )
    assert on == off


def test_semantic_dedup_sql_mirrors_cap_above_threshold(spark, duck):
    """r8 advice: above the cap the twin used to enumerate UNCAPPED pairs
    and silently diverge. The round-9 twin replays the same md5
    salt-split, so a 600-member mega-cluster at cap=50 must now agree
    cross-engine row-for-row (ids, cluster ids and cent_cos)."""
    from stock_chart_kafka_streams_spark.operators.similarity import (
        EMBED_DIM,
        semantic_dedup,
        semantic_dedup_sql,
    )

    base = [0.3 + 0.01 * (i % 7) for i in range(EMBED_DIM)]
    vecs = spark.createDataFrame(
        [(i, base) for i in range(600)], "vec_id long, embedding array<double>"
    )
    got = sorted(
        (r["vec_id"], r["cid"], round(r["cent_cos"], 9))
        for r in semantic_dedup(
            vecs, threshold=0.99, n_centroids=4, cluster_cap=50
        ).collect()
    )
    lit = "[" + ", ".join(repr(x) for x in base) + "]"
    cte = (
        f"e AS (SELECT CAST(i AS BIGINT) AS vec_id, {lit}::DOUBLE[] AS v "
        "FROM range(600) t(i))"
    )
    sql = semantic_dedup_sql(
        threshold=0.99, n_centroids=4, cluster_cap=50, source_cte=cte
    )
    want = sorted((r[0], r[1], round(r[2], 9)) for r in duck.execute(sql).fetchall())
    assert got == want
    assert len(got) < 600  # the mega-cluster did dedup within sub-buckets


def test_semantic_dedup_stats_and_cap_warning(spark):
    """stats records the stage walls and the over-cap cluster count; a
    UserWarning names the recall trade when the cap actually splits."""
    import warnings

    from stock_chart_kafka_streams_spark.operators.similarity import (
        EMBED_DIM,
        semantic_dedup,
    )

    base = [0.3 + 0.01 * (i % 7) for i in range(EMBED_DIM)]
    vecs = spark.createDataFrame(
        [(i, base) for i in range(200)], "vec_id long, embedding array<double>"
    )
    stats = {}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        semantic_dedup(
            vecs, threshold=0.99, n_centroids=2, cluster_cap=50, stats=stats
        ).collect()
    assert stats["train_s"] >= 0 and stats["assign_s"] >= 0
    assert stats["n_capped_clusters"] >= 1
    assert any("cluster_cap" in str(w.message) for w in caught)


def test_semantic_dedup_latent_dim_prefix_matches_twin(spark, duck):
    """r9 review regression: with dim SMALLER than the physical array
    width, the assignment must (a) agree with the DuckDB twin's
    dim-prefix cosines bit for bit and (b) actually resolve pairs that
    are near-dups in the dim-prefix — a former JVM assignment once used
    full-width cosines against dim-length trained centroids."""
    import random

    from stock_chart_kafka_streams_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_sql,
    )
    from tests.oracle import assert_matches_twin_bits, register_vectors

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    for i in range(5):
        base = rows[i][1]
        rows.append(
            (
                1000 + i,
                [x * 1.0001 for x in base[:4]]
                + [rng.uniform(-1, 1) for _ in range(4)],
            )
        )
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    register_vectors(duck, "latent8", rows)
    out = semantic_dedup(vecs, threshold=0.99, n_centroids=3, dim=4)
    assert_matches_twin_bits(
        out,
        duck,
        semantic_dedup_sql(
            threshold=0.99, n_centroids=3, dim=4,
            source_cte="e AS (SELECT vec_id, embedding AS v FROM latent8)",
        ),
    )
    survivors = {r["vec_id"] for r in out.collect()}
    for pid in range(5):
        kept = {pid, 1000 + pid} & survivors
        assert len(kept) == 1, f"prefix pair {pid} kept {kept}"

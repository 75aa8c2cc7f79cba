"""Deduplication operators for LLM data pipelines (SURVEY.md §2.9).

Four families, all deterministic and cluster-scalable:

- **exact**: group by normalized-content hash, keep the minimum doc_id.
  One shuffle on the 32-hex-char hash; at 100 TB this is the cheapest
  possible dedup (hash is computed map-side, only (hash, doc_id) shuffles).
- **MinHash + LSH**: 3-word shingles -> one md5 per shingle (first 32 bits
  as a BIGINT) -> k minhashes via the universal-hash family
  ``(a_i * h + b_i) mod 2038074743`` (Spark ML MinHashLSH's prime) ->
  bands -> band-bucket grouping. One md5 per shingle instead of k: the k
  permutations are integer multiply-adds, exact in both Spark and DuckDB
  (a_i < p ~ 2^31, h < 2^32, so a_i*h + b_i < 2^63 — no overflow), so the
  oracle reproduces every signature bit-for-bit. The signature is computed by exploding the
  shingle array and aggregating ``min`` per document — a whole-stage-codegen
  hash aggregate with map-side partial combine — rather than per-row
  higher-order ``transform``/``array_min`` expressions, which fall out of
  codegen and were measured ~20x slower at 500k documents.
- **n-gram Jaccard**: LSH band buckets generate candidate pairs, exact
  Jaccard over distinct shingle sets confirms them. The candidate join is
  bucket-local (no quadratic blowup); bucket skew is bounded because a
  band value is 128 bits of minhash.
- **SimHash**: 32-bit signature from per-token md5 bit votes — explode +
  32 conditional sums + bit assembly, all JVM expressions.

Duplicate-group resolution offers two tiers: the deterministic 1-hop rule
used inside ``dedup_minhash`` (a document's representative is the smallest
doc_id over every bucket/pair-neighborhood it belongs to; stable,
idempotent on its output, single-pass) and FULL transitive closure via
``connected_components``/``neardup_clusters`` (min-label propagation,
O(component diameter) rounds) whose fixpoint is reproduced exactly by a
recursive-CTE oracle — so even the iterative operator is value-checked
cross-engine.
"""

from __future__ import annotations

import time as _time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stock_chart_kafka_streams_spark.operators.text import (
    TOKENS_SQL,
    fingerprint,
    fingerprint_sql,
    normalized,
    tokens,
)

MINHASH_K = 12
LSH_BANDS = 3  # rows per band = MINHASH_K // LSH_BANDS = 4
SHINGLE_WORDS = 3


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per normalized content hash."""
    keyed = docs.withColumn("__fp", fingerprint(text_col))
    keep = keyed.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return (
        keyed.join(keep, on=[id_col, "__fp"], how="left_semi").drop("__fp")
    )


def dedup_exact_sql(table: str = "documents") -> str:
    fp = fingerprint_sql("text")
    return f"""
SELECT d.* FROM {table} d
JOIN (
    SELECT min(doc_id) AS doc_id FROM {table} GROUP BY {fp}
) k USING (doc_id)
"""


# ---------------------------------------------------------------------------
# shingles + minhash signature
# ---------------------------------------------------------------------------


def shingles(text_col: str = "text") -> Column:
    """Distinct 3-word shingles; documents with < 3 tokens fall back to a
    single whole-text shingle so every document has a signature."""
    toks = tokens(text_col)
    # slice() clamps instead of erroring (ANSI-safe for any token count);
    # the guarded sequence end keeps it ascending when size < 3.
    tri = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(toks) - F.lit(SHINGLE_WORDS - 1), F.lit(1))
        ),
        lambda i: F.array_join(F.slice(toks, i, F.lit(SHINGLE_WORDS)), " "),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= SHINGLE_WORDS, tri).otherwise(
            F.array(normalized(text_col))
        )
    )


def shingle_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, ``__sh``) exploded shingle rows built WITHOUT higher-order
    functions in the hot path: three shifted ``slice``s of the token
    array, ``arrays_zip``, explode, then a plain ``concat_ws`` per row —
    every step whole-stage-codegen'd. The HOF construction in
    ``shingles()`` (``transform`` + per-element ``array_join`` closures)
    evaluates interpreted at ~11 µs/shingle and dominated the MinHash
    pipeline (~17 s of d2's 19 s at 500k docs); this form produces the
    same strings several times faster.

    Duplicates are NOT removed (no ``array_distinct``): the only consumer
    is the signature aggregate, and ``min`` over a multiset equals
    ``min`` over its set — signatures are bit-identical to the
    distinct-set form the SQL twin uses. Jaccard verification, which
    genuinely needs set semantics, keeps ``shingles()``."""
    toks = tokens(text_col)
    base = docs.select(
        F.col(id_col),
        toks.alias("__t"),
        normalized(text_col).alias("__w"),
    )
    n2 = F.size(F.col("__t")) - F.lit(SHINGLE_WORDS - 1)
    tri = (
        base.where(F.size(F.col("__t")) >= SHINGLE_WORDS)
        .select(
            id_col,
            F.explode(
                F.arrays_zip(
                    *[
                        F.slice(F.col("__t"), j + 1, n2).alias(f"w{j}")
                        for j in range(SHINGLE_WORDS)
                    ]
                )
            ).alias("z"),
        )
        .select(
            id_col,
            F.concat_ws(
                " ", *[F.col(f"z.w{j}") for j in range(SHINGLE_WORDS)]
            ).alias("__sh"),
        )
    )
    short = base.where(F.size(F.col("__t")) < SHINGLE_WORDS).select(
        id_col, F.col("__w").alias("__sh")
    )
    return tri.unionByName(short)


def SHINGLES_SQL(col: str = "text") -> str:
    toks = TOKENS_SQL.format(col=col)
    norm = f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"
    tri = (
        f"list_transform(range(1, len({toks}) - {SHINGLE_WORDS - 2}), "
        f"i -> array_to_string({toks}[i:i+{SHINGLE_WORDS - 1}], ' '))"
    )
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {SHINGLE_WORDS} "
        f"THEN {tri} ELSE [{norm}] END)"
    )


# Universal-hash modulus: the prime Spark ML's MinHashLSH uses. It must be
# SMALL relative to the base-hash range so a_i*h wraps around the modulus
# many times — with a large modulus (e.g. 2^61-1) and a*h < p the affine map
# is order-preserving in h and all k "permutations" pick the same argmin
# shingle, collapsing MinHash to k=1. With p ~ 2^31, h < 2^32 and a < p the
# product wraps ~2^32 times (thorough mixing) yet stays < 2^63 — exact in
# Spark (ANSI longs), DuckDB BIGINT, and Python alike.
MINHASH_P = 2038074743


def _mh_ab(i: int) -> tuple[int, int]:
    """Per-permutation universal-hash coefficients in [1, p) — fixed,
    deterministic (Knuth multiplicative constants), identical in the Spark
    expressions and the DuckDB twin."""
    a = (2654435761 * (i + 1) + 907633385) % MINHASH_P
    b = (2654435789 * (i + 13) + 40503) % MINHASH_P
    return (a or 1), b


def _base_hash(col: Column | str) -> Column:
    """First 32 bits of md5 as a BIGINT (one md5 per shingle)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _hash60(col: Column | str) -> Column:
    """First 60 bits of md5 as BIGINT (15 hex digits — stays inside
    BIGINT in both engines with no overflow-to-NULL edge). Used where a
    value stands in for the STRING ITSELF (shingle-set membership, band
    identity): collision odds are ~n²/2⁶¹, negligible at any real
    document/bucket size. DuckDB twin:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _mh_col(h: Column, i: int) -> Column:
    a, b = _mh_ab(i)
    return (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)


def minhash_signature_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = MINHASH_K
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) via explode + hash-aggregate: shingle rows
    come from the HOF-free ``shingle_rows`` (slice/arrays_zip/concat_ws,
    fully codegen'd — round 6; was ``explode(shingles(...))`` whose
    interpreted transform closures dominated the whole pipeline), then
    one md5 per shingle row and k integer multiply-adds run inside
    whole-stage codegen with map-side partial ``min`` combine — only the
    k-long signature row per document reaches the shuffle.
    ``shingle_rows`` keeps duplicate shingles (min is duplicate-
    invariant, so signatures equal the distinct-set form the SQL twin
    computes) and always yields >= 1 row per document (whole-text
    fallback)."""
    exploded = shingle_rows(docs, id_col, text_col)
    h = _base_hash("__sh").alias("__h")
    return (
        exploded.select(id_col, h)
        .groupBy(id_col)
        .agg(*[F.min(_mh_col(F.col("__h"), i)).alias(f"mh_{i}") for i in range(k)])
    )


def _minhash_sql_exprs(k: int = MINHASH_K) -> list[str]:
    """DuckDB twins over a pre-computed ``hl`` BIGINT-list column."""
    out = []
    for i in range(k):
        a, b = _mh_ab(i)
        out.append(
            f"list_min(list_transform(hl, h -> (h * {a} + {b}) % {MINHASH_P}))"
            f" AS mh_{i}"
        )
    return out


def lsh_bands(k: int = MINHASH_K, bands: int = LSH_BANDS) -> list[Column]:
    """Band values: the first 60 bits of md5 over each run of k/bands
    signature components, as BIGINT. Hashing the band slice map-side
    (before any exchange) means the bucket shuffle carries ``bands x 8``
    bytes per document instead of a 32-char hex string (or the k x 8-byte
    raw slice) — at 100 TB the bucket exchange is the dedup pipeline's
    dominant shuffle, so its row width matters. 60 bits (not 64: 15 hex
    digits keeps the unsigned value inside BIGINT in both engines, no
    overflow-to-NULL edge) makes a cross-band collision ~n²/2⁶¹ —
    negligible false-merge risk at any realistic corpus, and identical in
    the DuckDB twin so the oracle reproduces the same buckets."""
    r = k // bands
    return [
        _hash60(
            F.concat_ws(
                "|", *[F.col(f"mh_{b * r + j}").cast("string") for j in range(r)]
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]


def _bands_sql_exprs(k: int = MINHASH_K, bands: int = LSH_BANDS) -> list[str]:
    r = k // bands
    return [
        "('0x' || substr(md5(concat_ws('|', "
        + ", ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        + f")), 1, 15))::BIGINT AS band_{b}"
        for b in range(bands)
    ]


def _band_buckets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, band_idx, band_val) — one row per document per band."""
    sig = minhash_signature_df(docs, id_col, text_col)
    banded = sig.select(id_col, *lsh_bands())
    pairs = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), F.col(f"band_{b}").alias("band_val"))
            for b in range(LSH_BANDS)
        ]
    )
    return banded.select(id_col, F.explode(pairs).alias("b")).select(
        id_col, F.col("b.band_idx"), F.col("b.band_val")
    )


_BUCKETS_CTE = """
hashed{sfx} AS (
    SELECT doc_id,
           list_transform({sh}, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hl
    FROM {table}
),
sig{sfx} AS (
    SELECT doc_id, {mh_exprs} FROM hashed{sfx}
),
banded{sfx} AS (
    SELECT doc_id, {band_exprs} FROM sig{sfx}
),
buckets{sfx} AS (
    {band_union}
)
"""


def _buckets_cte_sql(table: str = "documents", suffix: str = "") -> str:
    """Bucket CTE chain; ``suffix`` disambiguates the CTE names so two
    chains (e.g. d9's existing vs incoming sides) can share one WITH."""
    band_union = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {b} AS band_idx, band_{b} AS band_val FROM banded{suffix}"
        for b in range(LSH_BANDS)
    )
    return _BUCKETS_CTE.format(
        table=table,
        sfx=suffix,
        sh=SHINGLES_SQL("text"),
        mh_exprs=", ".join(_minhash_sql_exprs()),
        band_exprs=", ".join(_bands_sql_exprs()),
        band_union=band_union,
    )


# ---------------------------------------------------------------------------
# MinHash-LSH dedup
# ---------------------------------------------------------------------------


def dedup_minhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-dedup: documents agreeing on ANY full LSH band are grouped;
    the 1-hop minimum doc_id survives.

    The per-bucket minimum is a window ``min`` over the bucket partition
    rather than a groupBy + self-join: the bucket frame references the
    (expensive) signature pipeline ONCE, so Spark does not recompute the
    shingle/md5 stage for a second join branch — measured 2x end-to-end."""
    from pyspark.sql.window import Window

    buckets = _band_buckets(docs, id_col, text_col)
    w = Window.partitionBy("band_idx", "band_val")
    doc_rep = (
        buckets.withColumn("bucket_rep", F.min(id_col).over(w))
        .groupBy(id_col)
        .agg(F.min("bucket_rep").alias("rep"))
    )
    keep = doc_rep.where(F.col(id_col) == F.col("rep")).select(id_col)
    return docs.join(keep, on=id_col, how="left_semi")


def dedup_minhash_sql(table: str = "documents") -> str:
    return f"""
WITH {_buckets_cte_sql(table)},
bucket_min AS (
    SELECT band_idx, band_val, min(doc_id) AS bucket_rep
    FROM buckets GROUP BY band_idx, band_val
),
doc_rep AS (
    SELECT b.doc_id, min(m.bucket_rep) AS rep
    FROM buckets b JOIN bucket_min m USING (band_idx, band_val)
    GROUP BY b.doc_id
)
SELECT d.* FROM {table} d
JOIN doc_rep r ON d.doc_id = r.doc_id AND r.rep = d.doc_id
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup (LSH candidates + exact verification)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate pairs from LSH buckets, confirmed by Jaccard over
    distinct 60-bit-hashed shingle sets (equal to string-set Jaccard up
    to ~|S|²/2⁶¹ collision odds; the SQL twin hashes identically, so the
    oracle is exact). Returns (id_a, id_b, jaccard), id_a < id_b.

    Scale posture: the bucket self-join references the signature pipeline
    twice, so the (tiny — 3 rows x ~50 bytes per doc) bucket frame is
    persisted rather than recomputed; and exact-verification shingles are
    built only for documents that appear in some candidate pair (a semi
    join), not the whole corpus."""
    buckets = _band_buckets(docs, id_col, text_col).persist()
    cands = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
        # materialize the (tiny) candidate set now so the persisted bucket
        # frame can be released immediately instead of pinning executor
        # storage for the caller's whole job lifetime
        .localCheckpoint(eager=True)
    )
    buckets.unpersist()
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Build each candidate doc's DISTINCT shingle-HASH set once: the
    # codegen'd exploded rows (shingle_rows) + collect_set over the
    # 60-bit md5 hash, checkpointed eagerly so the two join branches
    # below read it instead of re-running shingle construction per branch
    # (the interpreted-HOF array build evaluated TWICE dominated this
    # stage — same finding as the signature path). Hashing shrinks the
    # pair-join payload to 8 bytes/shingle and makes the intersections
    # integer ops; Jaccard over 60-bit-hashed shingle sets differs from
    # the string-set value only on a within-pair hash collision
    # (~|S|²/2⁶¹ — negligible at any real document size), and the SQL
    # twin hashes identically so the oracle stays bit-for-bit.
    # collect_set's element order is nondeterministic, but only the
    # intersection/union SIZES feed Jaccard, so the value is unaffected.
    sh = (
        shingle_rows(
            docs.join(cand_ids, on=id_col, how="left_semi"), id_col, text_col
        )
        .groupBy(id_col)
        .agg(F.collect_set(_hash60(F.col("__sh"))).alias("sh"))
        .localCheckpoint(eager=True)
    )
    joined = (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_sql(table: str = "documents", threshold: float = 0.5) -> str:
    sh = SHINGLES_SQL("text")
    # 60-bit-hashed distinct shingle sets — the twin of the Spark side's
    # collect_set(_hash60(shingle)).
    hashed = (
        f"list_distinct(list_transform({sh}, "
        "s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))"
    )
    return f"""
WITH {_buckets_cte_sql(table)},
cands AS (
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM buckets x
    JOIN buckets y
      ON x.band_idx = y.band_idx AND x.band_val = y.band_val
     AND x.doc_id < y.doc_id
),
sh AS (SELECT doc_id, {hashed} AS s FROM {table})
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
FROM cands c
JOIN sh a ON a.doc_id = c.id_a
JOIN sh b ON b.doc_id = c.id_b
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= {threshold}
"""


def dedup_ngram_jaccard(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup via confirmed Jaccard pairs + 1-hop minimum representative."""
    pairs = ngram_jaccard_pairs(docs, threshold, id_col, text_col)
    neighbors = pairs.select(
        F.col("id_a").alias(id_col), F.col("id_b").alias("nb")
    ).unionByName(pairs.select(F.col("id_b").alias(id_col), F.col("id_a").alias("nb")))
    rep = neighbors.groupBy(id_col).agg(F.min("nb").alias("mn"))
    dup = rep.where(F.col("mn") < F.col(id_col)).select(id_col)
    return docs.join(dup, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit simhash per document: each token votes its md5-derived bits
    up/down; the sign of each bit-sum forms the signature. Documents with
    no tokens get simhash -1."""
    tok = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    h32 = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    votes = [
        F.sum(
            F.when(F.shiftright(h32, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v_{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    sums = sums.select(F.col(id_col), sig.alias("simhash"))
    return docs.select(id_col).join(sums, on=id_col, how="left").select(
        id_col, F.coalesce("simhash", F.lit(-1).cast("long")).alias("simhash")
    )


def simhash_sql(table: str = "documents") -> str:
    toks = TOKENS_SQL.format(col="text")
    votes = ", ".join(
        f"sum(CASE WHEN (h32 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, unnest({toks}) AS tok FROM {table}
),
hashed AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h32 FROM tok
),
sums AS (
    SELECT doc_id, {votes} FROM hashed GROUP BY doc_id
),
sig AS (
    SELECT doc_id, {sig} AS simhash FROM sums
)
SELECT d.doc_id, COALESCE(s.simhash, CAST(-1 AS BIGINT)) AS simhash
FROM {table} d LEFT JOIN sig s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# near-dup clusters (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(id, cluster_id) where cluster_id = min node id in the connected
    component; singletons map to themselves. ``edges`` is undirected
    (id_a, id_b) pairs.

    Algorithm: min-label propagation — each round every node takes the
    minimum of its own label and its neighbors' labels; converges in
    O(component diameter) rounds. Near-dup clusters have tiny diameters
    (they are quasi-cliques out of LSH buckets), so the loop runs 2-4
    rounds in practice; ``max_iter`` bounds pathological chains — the
    operator RAISES if the fixpoint is not reached within the bound
    (silently truncated propagation would corrupt clusters undetectably).
    Convergence is only DETECTED by a no-change confirming round, so
    ``max_iter`` must exceed the component diameter by at least one: a
    graph whose diameter exactly equals ``max_iter`` raises even though
    the final labels happen to be correct (conservative by design), and
    ``max_iter=0`` always raises rather than returning unpropagated
    initial labels. Each
    round is two shuffles (neighbor-min aggregate + label join) over
    (id, label) pairs ONLY — document payloads never enter the loop —
    and labels are localCheckpointed per round so the plan does not grow
    with iterations. Convergence detection: labels only ever decrease,
    so the label sum strictly decreases until fixpoint — one cheap agg
    per round instead of a change-count join. (At 100 TB scale with
    billion-node graphs, swap in the alternating small-star/large-star
    algorithm; for dedup-shaped components this propagation is already
    shuffle-minimal.)

    Exactly reproducible in SQL: min-over-reachable-set via a recursive
    CTE (``neardup_clusters_sql``) — label propagation computes the
    same fixpoint, so this iterative operator carries a full value oracle
    (rare for graph ops; worth it for dedup auditability).

    CONTRACT: ``id_col`` must be an integral type (labels are the ids
    themselves). Non-numeric ids (e.g. string UUIDs) would silently cast
    to NULL and corrupt every cluster — hash them first
    (``xxhash64(id)`` has a ~n²/2⁶⁴ collision risk; fine for dedup) or
    pass a surrogate key; this function raises on a non-integral column
    or NULL ids rather than guessing.
    """
    integral = {"tinyint", "smallint", "int", "bigint"}
    id_type = dict(nodes.dtypes).get(id_col)
    if id_type not in integral:
        raise TypeError(
            f"connected_components requires an integral {id_col!r} "
            f"(got {id_type}); hash string ids to long first"
        )
    e = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    e = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).cast("long").alias("label")
    ).localCheckpoint(eager=True)
    first = labels.agg(
        F.sum("label"), F.count(F.lit(1)), F.count("label")
    ).collect()[0]
    prev_sum, n_rows, n_labels = first[0], first[1], first[2]
    if n_labels != n_rows:
        raise ValueError(
            f"connected_components: {id_col!r} contains NULLs "
            f"({n_rows - n_labels} of {n_rows}) — labels would be NULL "
            "and convergence undetectable"
        )
    rounds = 0
    round_secs: list[float] = []
    for _ in range(max_iter):
        _t0 = _time.perf_counter()
        rounds += 1
        nmin = (
            e.join(labels.withColumnRenamed("id", "src"), on="src")
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("dst", "id")
        )
        labels = (
            labels.join(nmin, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        round_secs.append(round(_time.perf_counter() - _t0, 3))
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # max_iter rounds and the last one still changed labels: the
        # labels are NOT a fixpoint and at least one component is only
        # partially merged. Silent truncation here would corrupt dedup
        # clusters undetectably — raise instead (callers with genuinely
        # long-diameter graphs should raise max_iter or switch to the
        # small-star/large-star variant noted above).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
        # per-round wall-clock (join + checkpoint + convergence agg): the
        # variance diagnostic for the bench's iterative entries — a slow
        # RUN with uniform rounds is environmental (GC/page cache); a
        # slow ROUND inside an otherwise-fast run is shuffle/checkpoint
        # churn (r7 verdict #4)
        stats["round_secs"] = round_secs
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def neardup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: dict | None = None,
) -> DataFrame:
    """End of the dedup pipeline: LSH candidates -> verified Jaccard pairs
    (``ngram_jaccard_pairs``) -> connected components. Returns every
    document with its cluster id and a canonical flag (keep the minimum
    doc_id per cluster — the distributed version of 'keep first').
    ``stats`` (optional dict) receives the CC round count."""
    pairs = ngram_jaccard_pairs(docs, threshold, id_col, text_col).select(
        F.col("id_a"), F.col("id_b")
    )
    cc = connected_components(docs.select(id_col), pairs, id_col=id_col, stats=stats)
    return cc.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def neardup_clusters_sql(table: str = "documents", threshold: float = 0.5) -> str:
    """DuckDB twin of ``neardup_clusters``: the same verified pairs, then
    min-reachable-id per node via a recursive CTE."""
    pairs_sql = ngram_jaccard_pairs_sql(table, threshold)
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
    SELECT doc_id, CAST(doc_id AS BIGINT) FROM {table}
    UNION
    SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id,
       (id = min(r)) AS is_canonical
FROM reach GROUP BY id
"""


# ---------------------------------------------------------------------------
# d9: incremental (cross-snapshot) dedup (round 9)
# ---------------------------------------------------------------------------


def band_buckets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Public face of the MinHash-LSH band-bucket projection:
    (id, band_idx, band_val) rows, one per document per band — THE
    incremental artifact a continuous-ingestion deployment materializes
    once per corpus snapshot so ``incremental_dedup(existing_buckets=...)``
    never re-shingles history. Identical values to the internal
    projection ``dedup_minhash``/d9 compute on the fly.

    Materialize it with ``sources.bucketed.write_bucketed(...,
    ["band_idx", "band_val"])``: the candidate join is keyed on exactly
    those columns, so a bucketed catalog table enters the join WITHOUT
    an Exchange — history never shuffles, only the (small) incoming
    batch does (plan-asserted in tests/test_bucketed_join.py). Caveat:
    opting into ``band_cap`` appends salt columns to the join key, which
    reinstates a (slim, ids-only) shuffle of the stored buckets — the
    default (None) keeps the Exchange-free path, which is also the
    measured-faster plan (see ``incremental_dedup``'s band_cap note)."""
    return _band_buckets(docs, id_col, text_col)


def _salt_split_cross(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    cap: int,
    id_col: str,
    salt: str = "d9split-v1",
) -> tuple[DataFrame, DataFrame, list[str]]:
    """LOSSLESS skew guard for a cross-table equi-join on ``keys``: any
    key value whose row count exceeds ``cap`` on either side is split
    into ``ceil(size / cap)`` salted sub-buckets on THAT side, and the
    OTHER side's rows for the key are replicated across those
    sub-buckets. Joining on ``keys + [__sl, __sr]`` then yields exactly
    the same row set as the plain join on ``keys`` — no pair is lost
    (unlike the self-join ``_apply_bucket_cap``, whose split trades
    recall above the cap; a cross join can replicate instead because the
    two sides are distinct relations) — while no single join key carries
    more than ~cap rows per side, so no task ever streams more than
    ~cap² output rows for one key. The result is bit-identical to the
    unsplit join BY CONSTRUCTION, so the DuckDB twin needs no mirroring.

    Cost: one map-side-combined count aggregate per side to find the
    (rare, by premise) hot keys — the hot tables are broadcast, so the
    slim (id, keys) rows gain two broadcast-hash lookups and only rows
    under a hot key replicate. Replication factor = the OTHER side's
    split count for that key; rows are ids + two longs, so even a
    pathological band shared by 10⁶ history docs and a full incoming
    batch replicates ~batch × ceil(10⁶/cap) slim rows across tasks —
    the exact shape AQE's skew-join split cannot reach (the skew is
    within one key, not across partitions).

    Callers must ensure ``left``/``right`` are cheap to scan twice
    (persist or checkpoint expensive subtrees first): each side feeds
    both its count aggregate and the join."""
    if cap <= 0:
        raise ValueError("band_cap must be positive (or None to disable)")

    def _hot(side: DataFrame, n_col: str) -> DataFrame:
        return (
            side.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") > cap)
            .select(
                *keys, F.ceil(F.col("__c") / F.lit(int(cap))).alias(n_col)
            )
        )

    hot_l = _hot(left, "__nl")
    hot_r = _hot(right, "__nr")

    def _sub_hash(side_tag: str) -> Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(salt), F.lit(side_tag), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    def _split(side: DataFrame, tag: str, own: str, other: str) -> DataFrame:
        return (
            side.join(F.broadcast(hot_l), on=keys, how="left")
            .join(F.broadcast(hot_r), on=keys, how="left")
            .withColumn(
                "__so" if tag == "l" else "__sr",
                F.when(F.col(own).isNull(), F.lit(0).cast("long")).otherwise(
                    F.pmod(_sub_hash(tag), F.col(own))
                ),
            )
            .withColumn(
                "__sr" if tag == "l" else "__so",
                F.explode(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.coalesce(F.col(other), F.lit(1).cast("long")) - F.lit(1),
                    )
                ),
            )
            .withColumnRenamed("__so", "__sl")
            .drop("__nl", "__nr")
        )

    left2 = _split(left, "l", "__nl", "__nr")
    right2 = _split(right, "r", "__nr", "__nl")
    return left2, right2, keys + ["__sl", "__sr"]


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    mode: str = "exact",
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    existing_buckets: DataFrame | None = None,
    band_cap: int | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the operational form
    continuous ingestion needs (C4/CCNet-style pipelines re-crawl
    periodically; each snapshot must drop documents already held, without
    ever re-deduplicating the accumulated corpus against itself). Returns
    the incoming rows (all columns) that are NOT duplicates of any
    existing document. Intra-batch duplicates are deliberately NOT
    removed here — compose d1/d2 over the batch first; this operator's
    contract is purely incoming-vs-existing.

    ``mode="exact"``: duplicate = same content fingerprint (md5 of the
    whitespace/case-normalized text, ``text.fingerprint``). One anti-join
    keyed by fingerprint — both sides shuffle by fingerprint once; at
    100 TB the existing side's distinct-fingerprint table is the thing a
    production deployment materializes (bucketed by fingerprint) so each
    new snapshot joins against it shuffle-free, and its size is bounded
    by distinct content, not corpus bytes.

    ``mode="minhash"``: duplicate = shares ANY full MinHash-LSH band with
    an existing doc AND the hashed-shingle Jaccard clears ``threshold``
    (d2's banding + d3's verification, across tables). Band buckets are
    map-side per row; the candidate join is band-keyed and carries ids
    only; verification shingle sets are built ONLY for candidate ids
    (semi-join) on each side. The existing side's buckets are the
    incremental artifact to materialize once per corpus — pass the
    stored table via ``existing_buckets`` (built with ``band_buckets``;
    must carry (id, band_idx, band_val)) and each snapshot re-buckets
    only its own (small) batch while history is never re-shingled; the
    verification still reads ``existing`` text, but only for the
    candidate ids. Omitted, the buckets derive from ``existing`` on the
    fly (identical values — pytest-asserted).

    ``band_cap`` (minhash mode; default None): OPT-IN deterministic skew
    guard for the cross-table band join. Measured round 10 — the
    operational shape does not need it: with a small incoming batch the
    candidate join plans as a **BroadcastHashJoin building the incoming
    side** (plan-verified), so a boilerplate-hot band's E x I candidate
    rows are produced in parallel across ALL existing-side partitions —
    there is no per-key colocation and no single-task straggler to
    split. On the planted 6000 x 1500 hot band at 500k docs the cap was
    pure overhead: interleaved best-of-3 uncapped 58.2-62.7 s vs capped
    65.6-74.4 s (t2_d9b_skew_* records the pair). When the batch is too
    large to broadcast the join degrades to SortMergeJoin, where AQE's
    skew-join (on by default, session.py) splits oversized partitions
    losslessly at runtime. ``band_cap`` remains as the third line —
    deployments with AQE off, or a single band value so hot it exceeds
    what block-level splitting can rebalance: ``_salt_split_cross``
    splits each side's hot bands into ceil(size/cap) salted sub-buckets
    and replicates the other side across them — LOSSLESS (every
    candidate pair is still enumerated, results and the DuckDB twin are
    bit-identical with the cap on or off, unlike the recall-trading
    self-join cap in ``_apply_bucket_cap``) while no join key exceeds
    ~cap rows per side.
    """
    if mode not in ("exact", "minhash"):
        raise ValueError(f"mode must be 'exact' or 'minhash', got {mode!r}")
    from stock_chart_kafka_streams_spark.operators.text import fingerprint

    if existing_buckets is not None and mode != "minhash":
        raise ValueError("existing_buckets applies only to mode='minhash'")
    if band_cap is not None and mode != "minhash":
        # same contract as existing_buckets: a no-op "skew guard" the
        # caller believes is active is worse than an error (r10 review)
        raise ValueError("band_cap applies only to mode='minhash'")
    if mode == "exact":
        ex_fp = existing.select(fingerprint(text_col).alias("__fp")).distinct()
        return (
            incoming.withColumn("__fp", fingerprint(text_col))
            .join(ex_fp, on="__fp", how="left_anti")
            .drop("__fp")
        )

    inc_b = _band_buckets(incoming, id_col, text_col)
    ex_b = (
        existing_buckets.select(id_col, "band_idx", "band_val")
        if existing_buckets is not None
        else _band_buckets(existing, id_col, text_col)
    )
    if band_cap is not None:
        # The salt-split scans each bucket side twice (hot-key count +
        # join); persist the slim (id, band_idx, band_val) rows so the
        # signature pipeline behind them runs once. Released right after
        # the candidate set materializes (eager checkpoint below).
        inc_b = inc_b.persist()
        ex_b = ex_b.persist()
        inc_s, ex_s, join_keys = _salt_split_cross(
            inc_b, ex_b, ["band_idx", "band_val"], band_cap, id_col
        )
    else:
        inc_s, ex_s, join_keys = inc_b, ex_b, ["band_idx", "band_val"]
    cands = (
        inc_s.alias("n")
        .join(
            ex_s.alias("e"),
            [F.col(f"n.{k}") == F.col(f"e.{k}") for k in join_keys],
        )
        .select(
            F.col(f"n.{id_col}").alias("inc_id"),
            F.col(f"e.{id_col}").alias("ex_id"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if band_cap is not None:
        inc_b.unpersist()
        ex_b.unpersist()

    def _cand_shingles(df: DataFrame, key: str, out: str) -> DataFrame:
        ids = cands.select(F.col(key).alias(id_col)).distinct()
        return (
            shingle_rows(df.join(ids, on=id_col, how="left_semi"), id_col, text_col)
            .groupBy(id_col)
            .agg(F.collect_set(_hash60(F.col("__sh"))).alias(out))
        )

    sh_in = _cand_shingles(incoming, "inc_id", "sh_a")
    sh_ex = _cand_shingles(existing, "ex_id", "sh_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    dup_ids = (
        cands.join(sh_in.withColumnRenamed(id_col, "inc_id"), on="inc_id")
        .join(sh_ex.withColumnRenamed(id_col, "ex_id"), on="ex_id")
        .where(jac >= F.lit(float(threshold)))
        .select(F.col("inc_id").alias(id_col))
        .distinct()
    )
    return incoming.join(dup_ids, on=id_col, how="left_anti")


def incremental_dedup_sql(
    existing: str,
    incoming: str,
    mode: str = "exact",
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of ``incremental_dedup``. ``existing``/``incoming``
    are table expressions (a view name or a parenthesized subquery,
    WITHOUT an alias — the twin binds its own). NOT EXISTS mirrors the
    anti-join's NULL semantics."""
    if mode not in ("exact", "minhash"):
        raise ValueError(f"mode must be 'exact' or 'minhash', got {mode!r}")
    from stock_chart_kafka_streams_spark.operators.text import fingerprint_sql

    if mode == "exact":
        return f"""
WITH exfp AS (SELECT DISTINCT {fingerprint_sql('text')} AS fp FROM {existing})
SELECT i.* FROM {incoming} AS i
WHERE NOT EXISTS (
    SELECT 1 FROM exfp e WHERE e.fp = {fingerprint_sql('i.text')}
)
"""
    sh = SHINGLES_SQL("text")
    hashed = (
        f"list_distinct(list_transform({sh}, "
        "s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))"
    )
    return f"""
WITH {_buckets_cte_sql(incoming, suffix='_in')},
{_buckets_cte_sql(existing, suffix='_ex').lstrip()},
cands AS (
    SELECT DISTINCT n.doc_id AS inc_id, e.doc_id AS ex_id
    FROM buckets_in n
    JOIN buckets_ex e
      ON n.band_idx = e.band_idx AND n.band_val = e.band_val
),
sh_in AS (
    SELECT doc_id, {hashed} AS s FROM {incoming} AS t_in
    WHERE doc_id IN (SELECT inc_id FROM cands)
),
sh_ex AS (
    SELECT doc_id, {hashed} AS s FROM {existing} AS t_ex
    WHERE doc_id IN (SELECT ex_id FROM cands)
),
dup AS (
    SELECT DISTINCT c.inc_id
    FROM cands c
    JOIN sh_in a ON a.doc_id = c.inc_id
    JOIN sh_ex b ON b.doc_id = c.ex_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
          >= {float(threshold)}
)
SELECT i.* FROM {incoming} AS i
WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.inc_id = i.doc_id)
"""

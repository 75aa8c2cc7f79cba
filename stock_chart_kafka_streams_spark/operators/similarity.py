"""Similarity search over embedding columns (SURVEY.md §2.9).

- ``cosine_topk``: exact brute-force top-k. The query set is BROADCAST
  (it is small by definition), so the scan over the corpus is a single
  map-side pass — no shuffle of the big side; at 100 TB this is the
  correct baseline plan and the accuracy oracle for ANN variants.
- ``lsh_topk``: sign-random-projection LSH. Each vector gets a short
  hash code per table (deterministic ±1 hyperplanes derived from
  xxhash64); candidates share a code in any table; exact re-ranking on
  the (much smaller) candidate set. Corpus codes are computed map-side;
  the join is an equi-join on (table, code) — shuffle proportional to the
  candidate set, not the corpus square.
- ``embedding_neardup_pairs``: all-pairs cosine above a threshold —
  exact quadratic form for oracle checking; production path would bucket
  through ``lsh_topk``'s codes first.

All dot products are double-precision left-to-right sums over the
element order — an unrolled, whole-stage-codegen'd chain in the JVM
(``_dot_unrolled``) and the dimension-loop chains of ``exact_chains`` in
the Arrow kernels — matching the DuckDB twin's
``list_sum(list_transform(...))`` so values agree bit for bit. Each ANN
operator has one path; its DuckDB twin (``*_sql``) is its reference.
"""

from __future__ import annotations

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stock_chart_kafka_streams_spark.operators import exact_chains as _xc
from stock_chart_kafka_streams_spark.streaming.sink import read_partition_dirs

# the Arrow kernels below call the shared chains; shipping the module by
# value keeps their closures loadable on workers without this package
cloudpickle.register_pickle_by_value(_xc)

EMBED_DIM = 64


def _md5_sample_pred(id_col: str, num: int, den: int) -> Column:
    """Deterministic md5-membership sampling predicate (the p2/p7a
    discipline), shared by d8's centroid training and s5's codebook
    training so the hash can never diverge between them. SQL twin:
    ``_md5_sample_pred_sql``."""
    return (
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            ).cast("long"),
            F.lit(int(den)),
        )
        < F.lit(int(num))
    )


def _md5_sample_pred_sql(id_col: str, num: int, den: int) -> str:
    return (
        f"('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {int(den)} < {int(num)}"
    )


def _dot_unrolled(
    a: Column, b: Column, dim: int = EMBED_DIM, a_off: int = 0
) -> Column:
    """Codegen'd dot product for a statically-known dimension: a
    left-associated chain of ``get(a, a_off+i)*get(b,i)`` additions.
    Float order is identical to DuckDB's ``list_sum(list_transform(...))``
    (its leading ``0.0 + x`` is exact in IEEE), so every oracle stays
    bit-for-bit.
    Unlike the interpreted HOF eval this stays inside whole-stage codegen
    — the exact-verify stage of the ANN operators is dot-product-bound,
    so this is the hot path at scale. At dim=64 one dot is ~190
    arithmetic nodes, far under the 64 KB janino method limit (contrast
    the former 16-projection SRP unroll). ``get`` (0-based) null-safes
    short arrays instead of throwing under ANSI. ``a_off`` offsets the
    LEFT side only — PQ's sub-vector dots read a slice of the full
    vector against a sub_dim codebook centroid (one implementation, one
    determinism argument, every consumer)."""
    t: Column | None = None
    for i in range(dim):
        term = F.get(a, a_off + i) * F.get(b, i)
        t = term if t is None else t + term
    assert t is not None
    return t


def _norm(a: Column, dim: int = EMBED_DIM) -> Column:
    return F.sqrt(_dot_unrolled(a, a, dim))


def cosine(a: Column, b: Column, dim: int = EMBED_DIM) -> Column:
    return _dot_unrolled(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


# NORM PRECOMPUTE PATTERN (round 6): every pairwise stage below computes
# ``dot(a,b) / (na * nb)`` with the norms projected PER VECTOR before the
# join instead of re-deriving sqrt(dot(v,v)) per PAIR. Two effects:
# (1) norm work drops from O(pairs) to O(vectors) — the ANN verify stage
# is dot-bound, so this cuts its arithmetic ~3x; (2) the fused codegen
# stage shrinks from three unrolled dot chains per pair to one, which is
# what kept d5's verify stage under janino's 64 KB method limit once the
# candidate join + filter fused into a single whole-stage method (the
# n_bits=14 bench config overflowed and silently fell back to
# interpreted execution — same failure class the round-5 s2 fix covered).
# Values are bit-identical to the old form: na is the SAME sqrt(dot)
# subexpression, just evaluated once — so every oracle hash is unchanged
# (re-verified via tools/driver_sim.py after the swap).


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for every query vector (ties broken by corpus
    id ascending). Returns (query_id, vec_id, cos, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(F.col(id_col), _as_double(vec_col).alias("cv")).withColumn(
        "cn", _norm(F.col("cv"))
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        id_col,
        (
            _dot_unrolled(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_topk_sql(
    table: str = "embeddings", k: int = 10, query_pred: str = "vec_id < 5"
) -> str:
    dot = "list_sum(list_transform(range(1, {n}), i -> {a}[i] * {b}[i]))".format
    d_qc = dot(n=EMBED_DIM + 1, a="q.v", b="c.v")
    d_qq = dot(n=EMBED_DIM + 1, a="q.v", b="q.v")
    d_cc = dot(n=EMBED_DIM + 1, a="c.v", b="c.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
q AS (SELECT vec_id AS query_id, v FROM e WHERE {query_pred}),
scored AS (
    SELECT q.query_id, c.vec_id,
           {d_qc} / (sqrt({d_qq}) * sqrt({d_cc})) AS cos
    FROM e c CROSS JOIN q
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
    ) AS rank
    FROM scored
)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# sign-random-projection LSH
# ---------------------------------------------------------------------------


def srp_signs(table_idx: int, bit: int, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic ±1 hyperplane for (table, bit): sign i is the parity
    of the first md5 hex digit of ``"t:bit:i"``. Computed driver-side as
    CONSTANTS, so both the Spark expression and the SQL twin are the same
    literal arithmetic — no in-engine hashing, bit-identical projections."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{table_idx}:{bit}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
        for i in range(dim)
    ]


# NOTE: SRP codes are computed by one Arrow kernel (``_srp_codes``), not
# as a JVM expression: an unrolled dim-term projection chain exceeds
# janino's 64 KB method limit at n_tables*n_bits*dim terms (the stage falls
# back to interpreted execution), and a higher-order fold per bit runs
# interpreted (~12 s at 200k vectors x 4 tables x 16 bits).


def lsh_topk_sql(
    table: str = "embeddings",
    k: int = 10,
    n_bits: int = 4,
    n_tables: int = 4,
    query_pred: str = "vec_id < 5",
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of lsh_topk with the same constant hyperplanes."""
    dot = "list_sum(list_transform(range(1, {n}), i -> {a}[i] * {b}[i]))".format
    c_codes = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {t} AS t, {_srp_code_fold_sql('v', t, n_bits, dim)} AS code FROM e"
        for t in range(n_tables)
    )
    q_codes = "\n    UNION ALL\n    ".join(
        f"SELECT query_id, {t} AS t, {_srp_code_fold_sql('v', t, n_bits, dim)} AS code FROM q"
        for t in range(n_tables)
    )
    d_qc = dot(n=dim + 1, a="qe.v", b="ce.v")
    d_qq = dot(n=dim + 1, a="qe.v", b="qe.v")
    d_cc = dot(n=dim + 1, a="ce.v", b="ce.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
q AS (SELECT vec_id AS query_id, v FROM e WHERE {query_pred}),
ccodes AS (
    {c_codes}
),
qcodes AS (
    {q_codes}
),
cands AS (
    SELECT DISTINCT qc.query_id, cc.vec_id
    FROM ccodes cc JOIN qcodes qc ON cc.t = qc.t AND cc.code = qc.code
),
scored AS (
    SELECT c.query_id, c.vec_id,
           {d_qc} / (sqrt({d_qq}) * sqrt({d_cc})) AS cos
    FROM cands c
    JOIN q qe ON qe.query_id = c.query_id
    JOIN e ce ON ce.vec_id = c.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
    ) AS rank
    FROM scored
)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
"""


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Approximate top-k: candidates share an SRP code in any of
    ``n_tables`` tables; exact cosine re-ranks candidates. Returns
    (query_id, vec_id, cos, rank) like cosine_topk (may return < k rows
    per query if the buckets are sparse).

    Both sides get their codes from the ``_srp_codes`` kernel; only the
    slim (id, t, code) rows meet in the bucket join, and the vectors
    join back by id for the exact cosine (s4/d5's fetch-back shape)."""
    c = corpus.select(F.col(id_col), _as_double(vec_col).alias("v"))
    q = queries.select(F.col(id_col), _as_double(vec_col).alias("v"))
    c_codes = _srp_codes(c, id_col, n_bits, n_tables, dim)
    q_codes = _srp_codes(q, id_col, n_bits, n_tables, dim).withColumnRenamed(
        "id", "query_id"
    )
    cand_ids = (
        c_codes.join(F.broadcast(q_codes), on=["t", "code"])
        .select("query_id", F.col("id").alias(id_col))
        .dropDuplicates(["query_id", id_col])
    )
    c_vec = c.select(
        F.col(id_col), F.col("v").alias("cv"), _norm(F.col("v"), dim).alias("cn")
    )
    q_vec = q.select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v"), dim).alias("qn"),
    )
    cands = cand_ids.join(c_vec, on=id_col).join(F.broadcast(q_vec), on="query_id")
    scored = cands.select(
        "query_id",
        id_col,
        (
            _dot_unrolled(F.col("qv"), F.col("cv"), dim) / (F.col("qn") * F.col("cn"))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


# Quantization scale for centroid averaging: vector components are
# snapped to 1e-6 grid integers BEFORE summation, so the per-dimension
# sums are exact BIGINTs — associative and therefore independent of both
# Spark's partition order and DuckDB's scan order. The centroid mean is
# then the identical double `CAST(sum AS DOUBLE)/CAST(n AS DOUBLE)/1e6`
# in both engines, which makes every downstream assignment comparison
# bit-for-bit reproducible cross-engine (see ivf_topk_sql).
_IVF_QUANT = 1_000_000.0

# Largest training set a quantizer fetches to the driver: 2**18 rows,
# 128 MiB of doubles at 64-d. Seeding and the Lloyd rounds run in-process
# on the fetched rows, so a larger corpus trains on an md5 sample
# (``sample_den``), as FAISS caps k-means training at 256 points per
# centroid. The largest sample any caller fetches today is 12.5k rows.
MAX_TRAIN_ROWS = 1 << 18


def _fetch_training(
    corpus: DataFrame, id_col: str, vec_col: str, samples: list[tuple[int, int]]
):
    """The training rows of one or more quantizers in ONE bounded fetch.

    ``samples`` holds one ``(num, den)`` md5 sample per quantizer
    (``_md5_sample_pred``; ``den == 1`` takes every row). The fetch
    selects the md5 sort key, the id, the double vector and one flag per
    sample, keeps the rows any flag takes, and collects at most
    ``MAX_TRAIN_ROWS + 1`` of them as Arrow; more than ``MAX_TRAIN_ROWS``
    raises. The rows are then sorted on the driver by
    ``(md5(cast(id as string)), id)``, nulls first: Spark's ``orderBy``
    order for integral and string ids, and the twins' seeding order.

    Returns ``(vectors, masks)``: the sorted vectors as a pyarrow list
    array and one boolean numpy mask per sample."""
    import pyarrow.compute as pc

    flags = [
        F.lit(True) if den == 1 else _md5_sample_pred(id_col, num, den)
        for num, den in samples
    ]
    names = [f"f{i}" for i in range(len(flags))]
    take = F.col(names[0])
    for name in names[1:]:
        take = take | F.col(name)
    tbl = (
        corpus.select(
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.col(id_col).alias("id"),
            _as_double(vec_col).alias("v"),
            *[f.alias(n) for f, n in zip(flags, names)],
        )
        .where(take)
        .limit(MAX_TRAIN_ROWS + 1)
        .toArrow()
    )
    if tbl.num_rows > MAX_TRAIN_ROWS:
        raise ValueError(
            f"the training set has more than MAX_TRAIN_ROWS={MAX_TRAIN_ROWS} "
            "rows, and training fetches it to the driver; train on an md5 "
            "sample of the corpus (raise sample_den)"
        )
    tbl = tbl.take(
        pc.sort_indices(
            tbl,
            sort_keys=[("h", "ascending"), ("id", "ascending")],
            null_placement="at_start",
        )
    )
    masks = [
        pc.fill_null(tbl.column(n), False).to_numpy(zero_copy_only=False)
        for n in names
    ]
    return tbl.column("v").combine_chunks(), masks


def _lloyd_kernel(V, books: list[list[list[float]]], metric: str, sub: int):
    """One Lloyd round over the training rows ``V`` (n, m * sub), run
    in-process; returns the new ``books``.

    ``books[j]`` holds subspace ``j``'s ``k`` centroids (their first
    ``sub`` components are used). Each row is assigned per subspace with
    the exact chains of ``exact_chains``: cosine argmax (``metric="cos"``,
    IVF) or squared-L2 argmin (``metric="l2"``, PQ). Its components are
    quantized to ``floor(x * 1e6 + 0.5)`` with Spark's ``floor``
    semantics and summed exactly per (sub, cid), so the sums do not
    depend on row order. A centroid's new value is
    ``float(s) / float(n) / 1e6``, the DuckDB twins' double; a centroid
    no row picks keeps its previous value. An exact sum outside int64
    raises, as Spark's ANSI ``sum`` does."""
    import numpy as np

    new = [list(book) for book in books]
    with np.errstate(all="ignore"):
        Q = _xc.quantize(V, _IVF_QUANT)
        for j, book in enumerate(books):
            C = np.asarray([list(c)[:sub] for c in book], dtype=np.float64)
            S = V[:, j * sub : (j + 1) * sub]
            if metric == "l2":
                cid = _xc.l2_argmin(S, C)
            else:
                nv = np.sqrt(_xc.sq_norms(S))
                cid, _ = _xc.cos_argmax(S, C, nv, _xc.centroid_norms(C))
            keys, counts, sums = _xc.group_sums(cid, Q[:, j * sub : (j + 1) * sub])
            _xc.check_int64(sums.ravel(), "a Lloyd centroid sum")
            for c, n, s in zip(keys, counts, sums):
                new[j][c] = [float(x) / float(n) / _IVF_QUANT for x in s]
    return new


def _ivf_train(vecs, n_centroids: int, iterations: int, dim: int) -> list[list[float]]:
    """IVF centroids from the (md5, id)-sorted training vectors: the first
    ``n_centroids`` rows, kept whole, seed ``iterations`` cosine Lloyd
    rounds over the dim-prefix of every row."""
    centroids = vecs.slice(0, n_centroids).to_pylist()
    if centroids and iterations:
        V = _xc.arrow_rows(vecs, dim)
        for _ in range(iterations):
            centroids = _lloyd_kernel(V, [centroids], "cos", dim)[0]
    return centroids


def ivf_build_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> list[list[float]]:
    """Deterministic, CROSS-ENGINE-EXACT mini k-means.

    - Seeding: the ``n_centroids`` corpus vectors that sort first under
      ``(md5(cast(id as string)), id)`` — a deterministic pseudo-random
      sample expressible identically in DuckDB (``xxhash64`` is not).
    - Fixed ``iterations`` Lloyd rounds; assignment = argmax cosine with
      ties broken by centroid id.
    - Averaging: components are quantized to integers
      (``floor(v*1e6 + 0.5)`` — plain double arithmetic, no engine
      rounding-mode semantics) and summed as exact integers, so the sum
      is order-independent; the mean double is then identical in Spark,
      Python and DuckDB. This is what lets ``ivf_topk_sql`` replay the
      whole procedure and hash-match.

    Training runs on the driver: ONE job fetches the corpus
    (``_fetch_training``), and the seeding and every Lloyd round
    (``_lloyd_kernel``) run in-process on the fetched rows. The kernel
    assigns each row with ``exact_chains.cos_argmax`` — the chain's
    cosine argmax, scored by one BLAS product and rerun on the
    dimension-loop chain wherever a float error bound cannot certify the
    winner — so paper-scale centroid counts run on this exact path. A
    corpus of more than ``MAX_TRAIN_ROWS`` rows raises: pass an md5
    sample of it (as ``semantic_dedup``'s ``sample_den`` does)."""
    vecs, _ = _fetch_training(corpus, id_col, vec_col, [(1, 1)])
    return _ivf_train(vecs, n_centroids, iterations, dim)


# Largest query set an IVF/PQ serve call collects. The set (and, for
# IVF, its probe lists) is computed on the driver and shipped in the
# scan's task closure or as a broadcast, so it must stay small; the
# largest one any caller passes today is 50.
MAX_SERVE_QUERIES = 1024


def _collect_bounded(df: DataFrame, bound: int, what: str) -> list:
    """``df.collect()`` for a serve-path set that is small by contract;
    more than ``bound`` rows raises instead of shipping it to every task."""
    rows = df.collect()
    if len(rows) > bound:
        raise ValueError(
            f"{what} has {len(rows)} rows, more than the serve-path maximum "
            f"of {bound} (MAX_SERVE_QUERIES queries); split the query batch"
        )
    return rows


def _probe_lists(vectors: list, centroids: list[list[float]], dim: int, n_probe: int):
    """Each query's ``n_probe`` nearest lists, computed on the driver over
    the collected query vectors: the chain's cosine
    ``dots(V, C) / (nv * ncv)`` ordered by ``cos DESC, cid ASC`` with NaN
    first, which is how Spark's and DuckDB's ``ORDER BY`` both rank it.
    Returns ``(nv, V, probes)``: the dim-prefix norms, the (n, dim)
    matrix and one list of cids per query."""
    import numpy as np

    if not vectors:
        return np.zeros(0), np.zeros((0, dim)), []
    V = _xc.stack_rows(vectors, dim)
    C = np.asarray([list(c)[:dim] for c in centroids], dtype=np.float64)
    nv = np.sqrt(_xc.sq_norms(V))
    with np.errstate(all="ignore"):
        S = _xc.dots(V, C) / (nv[:, None] * _xc.centroid_norms(C)[None, :])
    nan = np.isnan(S)
    cids = np.broadcast_to(np.arange(C.shape[0]), S.shape)
    # lexsort keys, last is primary: NaN first, then cos DESC, then cid ASC
    order = np.lexsort((cids, -np.where(nan, 0.0, S), ~nan), axis=1)
    return nv, V, [[int(c) for c in row[:n_probe]] for row in order]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: assign the corpus to its nearest centroid
    (one map-side Arrow pass, ``_assign_vector``), probe each query's
    n_probe nearest centroid lists (``_probe_lists``), exact-rerank
    candidates. At scale the inverted lists are a partitioned table;
    n_probe/n_centroids trade recall for the fraction of the corpus
    scanned per query (~n_probe/n_centroids).

    The query set is collected to the driver for the probe: more than
    ``MAX_SERVE_QUERIES`` queries raise. The centroids train on the whole
    corpus on the driver (``ivf_build_centroids``), so a corpus of more
    than ``MAX_TRAIN_ROWS`` rows raises."""
    centroids = ivf_build_centroids(corpus, n_centroids, id_col=id_col, vec_col=vec_col)
    c = corpus.select(F.col(id_col), _as_double(vec_col).alias("v"))
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    # inverted lists: one centroid per vector, with the vector's norm
    c_lists = _assign_vector(c, centroids, id_col, EMBED_DIM)
    q_rows = _collect_bounded(q, MAX_SERVE_QUERIES, "query set")
    _, _, probes = _probe_lists([r["qv"] for r in q_rows], centroids, EMBED_DIM, n_probe)
    q_probes = corpus.sparkSession.createDataFrame(
        [(r["query_id"], r["qv"], cid) for r, cids in zip(q_rows, probes) for cid in cids],
        f"query_id {q.schema['query_id'].dataType.simpleString()}, "
        "qv array<double>, cid int",
    ).withColumn("qn", _norm(F.col("qv")))

    cands = c_lists.join(
        F.broadcast(q_probes), on="cid"
    ).select("query_id", "qv", "qn", id_col, "v", "nv")
    scored = cands.select(
        "query_id",
        id_col,
        (
            _dot_unrolled(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nv"))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _cos_sql(a: str, b: str, dim: int = EMBED_DIM) -> str:
    """DuckDB cosine between two DOUBLE[] expressions — the bit-identical
    IEEE expression the Spark side evaluates (same dot order via
    ``list_sum``'s left fold, same division order)."""
    dot = "list_sum(list_transform(range(1, {n}), i -> {a}[i] * {b}[i]))".format
    d_ab = dot(n=dim + 1, a=a, b=b)
    d_aa = dot(n=dim + 1, a=a, b=a)
    d_bb = dot(n=dim + 1, a=b, b=b)
    return f"{d_ab} / (sqrt({d_aa}) * sqrt({d_bb}))"


def _kmeans_ctes(
    n_centroids: int, iterations: int, dim: int, source: str = "e"
) -> tuple[list[str], str]:
    """CTE chain replaying ``ivf_build_centroids`` EXACTLY (md5-ordered
    seeding, fixed Lloyd rounds, quantized-BIGINT averaging) against a
    CTE ``source`` exposing (vec_id, v DOUBLE[]). Returns (ctes,
    final_centroid_cte_name). Shared by the s3 (``ivf_topk_sql``) and d8
    (``semantic_dedup_sql``) twins — one determinism argument, two
    consumers."""
    quant = int(_IVF_QUANT)
    ctes = [
        f"""seeds AS (
    SELECT CAST(rn - 1 AS INT) AS cid, v AS cv FROM (
        SELECT v, row_number() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM {source}
    ) WHERE rn <= {n_centroids}
)""",
    ]
    prev = "seeds"
    for it in range(1, iterations + 1):
        ctes.append(
            f"""assign{it} AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, s.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos_sql('e.v', 's.cv', dim)} DESC, s.cid
               ) AS rk
        FROM {source} e CROSS JOIN {prev} s
    ) WHERE rk = 1
)"""
        )
        ctes.append(
            f"""cent{it} AS (
    SELECT s.cid, COALESCE(u.cv, s.cv) AS cv
    FROM {prev} s LEFT JOIN (
        SELECT cid, list(m ORDER BY i) AS cv FROM (
            SELECT cid, i,
                   CAST(SUM(CAST(floor(v[i] * {quant}.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) / {quant}.0 AS m
            FROM assign{it} CROSS JOIN range(1, {dim + 1}) AS t(i)
            GROUP BY cid, i
        ) GROUP BY cid
    ) u ON u.cid = s.cid
)"""
        )
        prev = f"cent{it}"
    return ctes, prev


def ivf_topk_sql(
    table: str = "embeddings",
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    iterations: int = 2,
    query_pred: str = "vec_id < 5",
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of ``ivf_topk``: replays the ENTIRE deterministic
    k-means (md5-ordered seeding, fixed Lloyd iterations with
    quantized-BIGINT averaging), the probe and the exact re-rank as one
    chained-CTE statement. Every double computed along the way is the
    bit-identical IEEE expression Spark evaluates (same dot order, same
    quantized sums, same division order), so assignments, candidate sets
    and final cosines agree exactly — no centroid literals need to be
    smuggled in from a Spark run."""

    def cos_sql(a: str, b: str) -> str:
        return _cos_sql(a, b, dim)

    kmeans, prev = _kmeans_ctes(n_centroids, iterations, dim)
    ctes = [f"e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table})"]
    ctes.extend(kmeans)
    ctes.append(
        f"""assign_final AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, s.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cos_sql('e.v', 's.cv')} DESC, s.cid
               ) AS rk
        FROM e CROSS JOIN {prev} s
    ) WHERE rk = 1
)"""
    )
    ctes.append(f"q AS (SELECT vec_id AS query_id, v FROM e WHERE {query_pred})")
    ctes.append(
        f"""probes AS (
    SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.v AS qv, s.cid,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {cos_sql('q.v', 's.cv')} DESC, s.cid
               ) AS rk
        FROM q CROSS JOIN {prev} s
    ) WHERE rk <= {n_probe}
)"""
    )
    ctes.append(
        f"""scored AS (
    SELECT p.query_id, a.vec_id,
           {cos_sql('p.qv', 'a.v')} AS cos
    FROM probes p JOIN assign_final a ON a.cid = p.cid
)"""
    )
    ctes.append(
        """ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
    ) AS rank
    FROM scored
)"""
    )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank "
        f"FROM ranked WHERE rank <= {k}"
    )


# ---------------------------------------------------------------------------
# embedding near-duplicate pairs
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine >= threshold — exact quadratic
    scan (the oracle-checkable form; LSH-bucket first at scale). ``dim``
    must match the vector length (the unrolled dot is static-width; e.g.
    the multimodal feature vectors are 8-dim)."""
    a = vectors.select(
        F.col(id_col).alias("id_a"), _as_double(vec_col).alias("va")
    ).withColumn("na", _norm(F.col("va"), dim))
    b = vectors.select(
        F.col(id_col).alias("id_b"), _as_double(vec_col).alias("vb")
    ).withColumn("nb", _norm(F.col("vb"), dim))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        (
            _dot_unrolled(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb"))
        ).alias("cos"),
        # null-tolerant threshold — same inferred-isnotnull / pushdown-
        # substitution codegen-overflow guard as embedding_neardup_lsh.
    ).where(F.coalesce(F.col("cos") >= threshold, F.lit(False)))


def _srp_code_fold_sql(vec_sql: str, table_idx: int, n_bits: int, dim: int) -> str:
    parts = []
    for j in range(n_bits):
        signs = srp_signs(table_idx, j, dim)
        lst = "[" + ",".join("1.0" if s > 0 else "-1.0" for s in signs) + "]"
        proj = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> {vec_sql}[i] * ({lst})[i]))"
        )
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def _srp_codes(
    v: DataFrame, id_col: str, n_bits: int, n_tables: int, dim: int
) -> DataFrame:
    """(id, t, code) — one map-side pass computing every table's SRP code
    per vector (shared by s2's ``lsh_topk``, d5's near-dup pass and s4's
    kNN self-join).

    An Arrow-batched numpy kernel accumulating over DIMENSIONS left to
    right (``proj += v_i * sign_i`` — the ``_assign_vector`` exactness
    argument), so every projection is the identical IEEE double the
    DuckDB twin's ``list_sum`` (``_srp_code_fold_sql``) computes and the
    emitted codes are bit-identical (``proj > 0`` is an exact
    comparison; NaN projections count as > 0, as NaN is the greatest
    value in Spark and DuckDB). Output rows are emitted pre-exploded
    (n_tables slim rows per vector) so no JVM explode follows."""
    import numpy as np

    T, B, d = int(n_tables), int(n_bits), int(dim)
    # (T*B, dim) hyperplane matrix, row t*B+j = table t, bit j
    H = np.asarray(
        [srp_signs(t, j, d) for t in range(T) for j in range(B)],
        dtype=np.float64,
    )
    weights = (1 << np.arange(B, dtype=np.int64))  # (B,)
    id_type = v.schema[id_col].dataType.simpleString()
    out_schema = f"id {id_type}, t int, code int"

    def _codes(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            proj = _xc.dots(_xc.stack_rows(pdf["v"], d), H)
            bits = (proj > 0) | _np.isnan(proj)  # Spark: NaN > 0 is TRUE
            codes = (
                (bits.reshape(n, T, B) * weights[None, None, :])
                .sum(axis=2)
                .astype("int32")
            )  # exact integer sums
            yield _pd.DataFrame(
                {
                    "id": _np.repeat(pdf[id_col].values, T),
                    "t": _np.tile(_np.arange(T, dtype=_np.int32), n),
                    "code": codes.reshape(n * T),
                }
            )

    return v.select(F.col(id_col), "v").mapInPandas(_codes, schema=out_schema)


def _apply_bucket_cap(
    codes: DataFrame, bucket_cap: int | None, salt: str = "lshsplit-v1"
) -> tuple[DataFrame, list[str]]:
    """Skew guard for the bucket-pair explode (r7 verdict #4): buckets
    larger than ``bucket_cap`` are deterministically salt-split into
    ``ceil(size / cap)`` sub-buckets, so no single task ever enumerates
    more than ~cap² candidate pairs — a dense embedding mode (a real
    corpus's near-constant vectors) can otherwise land a mega-bucket
    whose bucket² explosion runs on one task.

    Returns (codes + sub, group_cols). Cost when no bucket exceeds the
    cap: one window count over the slim (id, t, code) rows (see the plan
    shape note below) and ``sub`` is constant 0 — grouping by
    (t, code, 0) ≡ (t, code), so results (and the DuckDB twins) are
    bit-identical at default shapes.

    Recall effect when the cap TRIGGERS (documented trade): a pair inside
    an oversized bucket is enumerated only if both ids hash to the same
    sub-bucket — P ≈ 1/nsub per table. The sub hash is salted by table
    id, so each table splits the same mega-bucket DIFFERENTLY and the
    miss probability decays as Π_t (1 - 1/nsub_t); for d5→d7 clustering,
    CLUSTER recall is preserved transitively (each sub-bucket's pairs are
    complete, and overlapping memberships across tables' different splits
    connect the component). ``n_bits`` scaling remains the first-line
    answer (keep mean bucket O(1)); the cap is the guard for the skewed
    tail n_bits cannot fix globally.

    Plan shape: bucket sizes come from a WINDOW count over (t, code) —
    NOT a groupBy+join back — so the codes subtree keeps exactly ONE
    consumer and the SRP code pass is computed once BY CONSTRUCTION,
    the same single-reference discipline d5/s4 adopted in round 7 (a
    sizes join re-expanded the code subtree per branch). Cost below the
    cap: one extra slim-row exchange + an equal-key sort feeding the
    window. The window does buffer a
    mega-bucket's slim rows in one task — an O(n) spill-able sort of
    (id, t, code) triples, survivable where the bucket² pair explosion
    it prevents is not."""
    if bucket_cap is None:
        return codes, ["t", "code"]
    if bucket_cap <= 0:
        raise ValueError("bucket_cap must be positive (or None to disable)")
    w = Window.partitionBy("t", "code")
    sub_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(salt),
                    F.col("id").cast("string"),
                    F.col("t").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    guarded = (
        codes.withColumn("__bsz", F.count("*").over(w))
        .withColumn(
            "__nsub",
            F.ceil(F.col("__bsz") / F.lit(int(bucket_cap))).cast("long"),
        )
        .withColumn(
            "sub",
            F.when(F.col("__nsub") <= 1, F.lit(0)).otherwise(
                F.pmod(sub_hash, F.col("__nsub"))
            ),
        )
        .drop("__bsz", "__nsub")
    )
    return guarded, ["t", "code", "sub"]


def embedding_neardup_lsh(
    vectors: DataFrame,
    threshold: float = 0.99,
    n_bits: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """Near-duplicate pairs via SRP-LSH bucketing + exact verification —
    the SCALE path for d5 (``embedding_neardup_pairs`` is the quadratic
    oracle/recall baseline kept for tests).

    Plan: (1) one map-side pass computes ``n_tables`` short codes per
    vector (constant md5-derived hyperplanes, so the DuckDB twin enumerates
    the identical buckets); (2) ONE groupBy(table, code) collects each
    bucket's id list and explodes ordered pairs inside it — id+code ONLY
    ride the single bucket shuffle (the 64-double vectors never do), and
    the SRP-code pass is computed once BY CONSTRUCTION instead of per
    self-join side (round 7, same shape as ``knn_join``; the previous
    self-equi-join form left the second code computation to
    optimizer-coupled ReuseExchange); (3) distinct candidate pairs join
    the vectors back and exact cosine >= threshold verifies. Work is Σ
    bucket² instead of corpus²;
    ``n_bits`` sets the bucket count per table (2^n_bits) and scales up
    with the corpus to keep buckets small, ``n_tables`` sets recall
    (for cos >= 0.99 pairs, per-table collision ~0.96^n_bits; misses decay
    geometrically in n_tables); ``bucket_cap`` salt-splits buckets past
    the cap so one degenerate mega-bucket cannot land a bucket² pair
    explosion on a single task (``_apply_bucket_cap`` — no-op below the
    cap, documented recall trade above it). Recall vs the exact form is
    pinned by tests/test_similarity recall assertions; the driver oracle
    reproduces this result exactly, bucket for bucket."""
    v = vectors.select(F.col(id_col), _as_double(vec_col).alias("v"))
    codes = _srp_codes(v, id_col, n_bits, n_tables, dim)
    codes, group_cols = _apply_bucket_cap(codes, bucket_cap)
    cands = (
        codes.groupBy(*group_cols)
        .agg(F.collect_list("id").alias("ids"))
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = v.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        _norm(F.col("v"), dim).alias("na"),
    )
    vb = v.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        _norm(F.col("v"), dim).alias("nb"),
    )
    # exact verification rides the _cosine_verify_vector kernel (round
    # 15): bit-identical doubles at Arrow speed, and no 64-term codegen
    # chain exists anymore for pushdown substitution to overflow.
    return (
        _cosine_verify_vector(
            cands.join(va, on="id_a").join(vb, on="id_b"), dim=dim
        )
        .select("id_a", "id_b", "cos")
        # Null-TOLERANT threshold (r11): a plain ``cos >= t`` filter is
        # null-intolerant, so InferFiltersFromConstraints derives
        # ``isnotnull(cos)`` — harmless against the kernel's output, but
        # the null-tolerant form is kept: it is value-identical (NULL cos
        # never passes either form) and stays robust if a JVM scoring
        # path ever returns. Gate: tools/codegen_gate.py fails preflight/
        # bench on any ``ERROR CodeGenerator`` in captured stderr.
        .where(F.coalesce(F.col("cos") >= threshold, F.lit(False)))
    )


def embedding_neardup_lsh_sql(
    threshold: float = 0.99,
    n_bits: int = 8,
    n_tables: int = 4,
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of embedding_neardup_lsh over the planted fixture —
    same constant hyperplanes, so identical buckets, candidates, result."""
    dot = "list_sum(list_transform(range(1, {n}), i -> {a}[i] * {b}[i]))".format
    codes = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id AS id, {t} AS t, "
        f"{_srp_code_fold_sql('v', t, n_bits, dim)} AS code FROM aug"
        for t in range(n_tables)
    )
    d_ab = dot(n=dim + 1, a="a.v", b="b.v")
    d_aa = dot(n=dim + 1, a="a.v", b="a.v")
    d_bb = dot(n=dim + 1, a="b.v", b="b.v")
    return f"""
WITH {PLANTED_NEARDUP_CTE.strip()},
codes AS (
    {codes}
),
cands AS (
    SELECT DISTINCT ca.id AS id_a, cb.id AS id_b
    FROM codes ca JOIN codes cb ON ca.t = cb.t AND ca.code = cb.code
    WHERE ca.id < cb.id
)
SELECT c.id_a, c.id_b,
       {d_ab} / (sqrt({d_aa}) * sqrt({d_bb})) AS cos
FROM cands c
JOIN aug a ON a.vec_id = c.id_a
JOIN aug b ON b.vec_id = c.id_b
WHERE {d_ab} / (sqrt({d_aa}) * sqrt({d_bb})) >= {threshold}
"""


def planted_neardup_vectors(vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic near-dup fixture: every 40th vector re-emitted under
    id + 1_000_000 with its first component shifted by +0.05 (cosine with
    the original stays ~1; scaling alone would be exactly 1). The DuckDB
    twin is PLANTED_NEARDUP_CTE."""
    base = vectors.select(F.col(id_col), _as_double(vec_col).alias("v"))
    planted = base.where(F.col(id_col) % 40 == 0).select(
        (F.col(id_col) + 1_000_000).alias(id_col),
        F.concat(
            F.array(F.element_at("v", 1) + F.lit(0.05)),
            F.slice("v", 2, EMBED_DIM - 1),
        ).alias("v"),
    )
    return base.unionByName(planted).withColumnRenamed("v", vec_col)


PLANTED_NEARDUP_CTE = """
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
aug AS (
    SELECT vec_id, v FROM base
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id,
           list_concat([v[1] + 0.05], v[2:]) AS v
    FROM base WHERE vec_id % 40 = 0
)
"""


# ---------------------------------------------------------------------------
# kNN self-join (near-neighbor graph)
# ---------------------------------------------------------------------------


def knn_join(
    vectors: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """Approximate k-nearest-neighbor SELF-join: for every vector, its
    top-k neighbors (excluding itself) among vectors sharing an SRP code
    in any table — the embedding-neighborhood graph a curation pipeline
    uses for diversity sampling / cluster labeling.

    Returns (query_id, vec_id, cos, rank), rank 1..k per query_id.

    Scale posture: unlike ``lsh_topk`` (small broadcast query set), BOTH
    sides are the corpus. Candidates come from ONE aggregation — codes
    group by (table, code) into per-bucket id lists, and pairs explode
    inside each bucket — rather than a self-equi-join: a self-join
    re-expands the SRP-code subtree per side (whether ReuseExchange
    recovers the second copy is optimizer-coupled), while the groupBy
    shape computes codes exactly once BY CONSTRUCTION and shuffles (id, t, code) exactly once. Work
    is Σ bucket² like d5's near-dup pass, never corpus²; ``n_bits``
    scales with corpus size to keep mean bucket size O(1), which also
    bounds the exploded ``ids`` payload per bucket row. The 64-double
    vectors never ride the bucket shuffle; after the (query_id, vec_id)
    pairs are deduped, two id-equi-joins fetch the vectors (and
    per-VECTOR norms) back for exact scoring — ``embedding_neardup_lsh``'s
    fetch-back shape. The re-rank window partitions on query_id — the
    same shuffle the top-k needs anyway. Deterministic end-to-end
    (constant md5 hyperplanes, id-ascending tie-breaks), so the DuckDB
    twin (``knn_join_sql``) reproduces it exactly. ``bucket_cap``
    salt-splits oversized buckets (``_apply_bucket_cap``): a query's
    candidates then come from its sub-bucket per table rather than the
    whole mega-bucket — per-task candidate volume stays bounded, at a
    documented recall cost confined to buckets past the cap."""
    v = vectors.select(F.col(id_col), _as_double(vec_col).alias("v"))
    codes = _srp_codes(v, id_col, n_bits, n_tables, dim)
    codes, group_cols = _apply_bucket_cap(codes, bucket_cap)
    cands = (
        codes.groupBy(*group_cols)
        .agg(F.collect_list("id").alias("ids"))
        .select(F.explode("ids").alias("query_id"), "ids")
        .select("query_id", F.explode("ids").alias(id_col))
        .where(F.col("query_id") != F.col(id_col))
        .dropDuplicates(["query_id", id_col])
    )
    vq = v.select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v"), dim).alias("qn"),
    )
    vc = v.select(
        F.col(id_col),
        F.col("v").alias("cv"),
        _norm(F.col("v"), dim).alias("cn"),
    )
    # exact scoring rides the _cosine_verify_vector kernel (round 15):
    # the joins themselves are cheap (~3.5 s at 7.4M candidates), the
    # 64-term codegen dot chain was the wall (~18 s) — same doubles,
    # bit for bit (see the kernel docstring).
    scored = _cosine_verify_vector(
        cands.join(vq, on="query_id").join(vc, on=id_col),
        a_col="qv",
        b_col="cv",
        na_col="qn",
        nb_col="cn",
        dim=dim,
    ).select("query_id", id_col, "cos")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_join_sql(
    table: str = "embeddings",
    k: int = 5,
    n_bits: int = 4,
    n_tables: int = 4,
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of ``knn_join`` (same constant hyperplanes, buckets,
    tie-breaks)."""
    dot = "list_sum(list_transform(range(1, {n}), i -> {a}[i] * {b}[i]))".format
    codes = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id AS id, {t} AS t, "
        f"{_srp_code_fold_sql('v', t, n_bits, dim)} AS code FROM e"
        for t in range(n_tables)
    )
    d_qc = dot(n=dim + 1, a="qe.v", b="ce.v")
    d_qq = dot(n=dim + 1, a="qe.v", b="qe.v")
    d_cc = dot(n=dim + 1, a="ce.v", b="ce.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
codes AS (
    {codes}
),
cands AS (
    SELECT DISTINCT ca.id AS query_id, cb.id AS vec_id
    FROM codes ca JOIN codes cb ON ca.t = cb.t AND ca.code = cb.code
    WHERE ca.id <> cb.id
),
scored AS (
    SELECT c.query_id, c.vec_id,
           {d_qc} / (sqrt({d_qq}) * sqrt({d_cc})) AS cos
    FROM cands c
    JOIN e qe ON qe.vec_id = c.query_id
    JOIN e ce ON ce.vec_id = c.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
    ) AS rank
    FROM scored
)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# semantic dedup (cluster-then-dedup, SemDeDup-style)
# ---------------------------------------------------------------------------


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.99,
    n_centroids: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    cluster_cap: int | None = 4096,
    sample_num: int = 1,
    sample_den: int = 1,
    verify_prune: bool = True,
    stats: dict | None = None,
    warn_over_cap: bool = True,
) -> DataFrame:
    """Semantic (embedding-space) dedup by cluster-then-prune — the
    SemDeDup recipe (Abbas et al., arXiv:2303.09540): k-means-cluster the
    embeddings, enumerate pairs ONLY within a cluster, and among each
    near-duplicate pair (cosine >= ``threshold``) keep the member with
    the LOWER cosine to its centroid (the paper's keep-low-centroid-sim
    rule: survivors are the cluster's "edge" representatives, which
    preserves diversity); ties break to the lower id. Returns the
    survivors as (id, cid, cent_cos).

    Removal semantics (deterministic, pairwise): a vector is removed iff
    SOME same-cluster neighbor with cosine >= threshold precedes it under
    the (cent_cos, id) order. The minimum-priority member of every
    duplicate neighborhood survives, so no group is emptied. This is the
    standard pairwise simplification of the paper's per-group rule and is
    exactly replayable in SQL (``semantic_dedup_sql``).

    Scale shape — each stage is the repo's already-audited pattern:
    (1) centroids come from ``ivf_build_centroids``, which fetches the
    training set to the driver once (at most ``MAX_TRAIN_ROWS`` rows, or
    it raises) and runs the Lloyd rounds there — trained on a
    deterministic md5 hash-SAMPLE of the corpus when
    ``sample_num/sample_den`` < 1: sampled centroid training is the
    published practice and keeps a large corpus under that bound (the
    sampled-training REMOVAL behavior is pinned
    cross-engine by the ``d8_semantic_dedup_sampled`` oracle, which
    resolves every planted pair); the oracle fixture keeps 1/1 so the
    twin's CTE chain is unchanged; (2) assignment is a PURE MAP-SIDE
    scan (``_assign_vector``: one Arrow kernel per batch, centroids in
    the task closure), so the corpus is never shuffled, crossJoined, or
    windowed to get its cluster ids;
    (3) within-cluster pair enumeration reuses d5's ONE-groupBy bucket
    explode over slim (id, cid) rows with the ``_apply_bucket_cap`` skew
    guard (``cluster_cap``), vectors fetched back by id for the exact
    cosine verify. Work is sigma cluster-size-squared, never corpus-squared;
    at real scale ``n_centroids`` grows with the corpus (the paper runs
    ~50k clusters) to keep mean cluster size O(1), and ``cluster_cap``
    bounds the skewed tail. Ties on (cent_cos) across engines are safe
    because both sides compute the identical IEEE double (see
    ``ivf_topk_sql``'s determinism argument; zero vectors excluded by
    the no-NaN precondition documented there).

    Assignment is ``_assign_vector``, whose argmax is
    ``exact_chains.cos_argmax``: one BLAS product per batch, with the
    rows a float error bound cannot certify rerun on the dimension-loop
    chain. It is BIT-IDENTICAL to the twin's ``ORDER BY cos DESC, cid``
    (oracle-safe), its plan size is O(1) in ``n_centroids``, and it runs
    at BLAS speed, so the SemDeDup paper's thousands of clusters run on
    the exact path; the training rounds use the same argmax.

    ``verify_prune`` (round 9): before fetching vector payloads for the
    exact within-cluster verify, candidate pairs are pre-filtered by the
    spherical triangle inequality — for unit-direction vectors a, b with
    centroid c, ``angle(a,b) >= |angle(a,c) - angle(b,c)|``, hence
    ``cos(a,b) <= ca*cb + sqrt(1-ca^2)*sqrt(1-cb^2)``. Pairs whose bound
    is below ``threshold - 1e-9`` CANNOT pass the exact check (the 1e-9
    slack dwarfs the bound's own ~1e-14 rounding), so dropping them
    changes nothing — output and oracles are unchanged (pytest-asserted)
    — while the expensive stage (shipping two dim-length arrays and the
    unrolled dot per pair) runs only on survivors. At threshold 0.99 the
    bound kills the great majority of intra-cluster pairs using the two
    doubles already in hand.

    ``cluster_cap`` (r8 advice): with the DEFAULT ``n_centroids=8``, any
    corpus beyond ~``8*cluster_cap`` vectors makes the cap split
    ORDINARY clusters, not just skewed ones — and with a single table
    (t=0) a pair split across sub-buckets is permanently missed (no
    multi-table miss-decay here). Scale ``n_centroids`` with the corpus
    so MEAN cluster size stays well under ``cluster_cap`` (the paper runs
    ~50k clusters for exactly this reason); the cap is the guard for the
    skewed tail only. The DuckDB twin (``semantic_dedup_sql``) mirrors
    the same salted sub-bucket split since round 9, so engine and oracle
    agree even ABOVE the cap. The over-cap check runs UNCONDITIONALLY
    (``warn_over_cap=True`` default — one cheap count over the
    checkpointed assignment): a ``UserWarning`` names the recall trade
    whenever any cluster was split, and ``stats`` (when supplied)
    records the count as ``n_capped_clusters``; pass
    ``warn_over_cap=False`` to skip the extra pass.

    ``stats`` (opt-in) also records per-stage walls: ``train_s`` (Lloyd
    rounds incl. sampling) and ``assign_s`` (assignment scan +
    checkpoint) — the d7/replay instrumentation discipline.

    Degenerate-input asymmetry (r8 advice, documented): an EMPTY
    centroid-training sample raises ``ValueError`` here, while the SQL
    twin's empty ``seeds`` CTE silently yields an empty result — the
    oracle cannot distinguish "no input" from "sample left nothing", so
    the engine fails loudly and the twin is only meaningful on inputs
    where training is possible."""
    if sample_num < 1 or sample_den < 1 or sample_num > sample_den:
        raise ValueError("sample fraction must satisfy 1 <= sample_num <= sample_den")
    import time as _time

    _t0 = _time.perf_counter()
    train = vectors
    if sample_den > 1:
        # deterministic md5 membership (the p2/p7a discipline — never
        # Spark's seed-dependent sample()): both engines hash the same
        # id string, so the twin trains on the identical subset
        train = vectors.where(_md5_sample_pred(id_col, sample_num, sample_den))
    centroids = ivf_build_centroids(
        train, n_centroids, iterations=iterations,
        id_col=id_col, vec_col=vec_col, dim=dim,
    )
    if not centroids:
        raise ValueError(
            "centroid training set is empty (empty corpus, or sample_num/"
            "sample_den left no training rows) — no assignment is possible"
        )
    if stats is not None:
        stats["train_s"] = round(_time.perf_counter() - _t0, 3)
    _t0 = _time.perf_counter()
    base = vectors.select(F.col(id_col), _as_double(vec_col).alias("v"))
    assigned = _assign_vector(base, centroids, id_col, dim)
    # Materialize the assignment ONCE: it has four consumers (pair codes,
    # both fetch-back sides, the final anti-join), and Catalyst re-expands
    # shared stages per reference (the p9 lesson) — without the boundary
    # each consumer re-runs the assignment kernel. At cluster scale
    # this boundary is the assignment table a real SemDeDup run writes
    # anyway (cluster ids are a reused artifact).
    assigned = assigned.localCheckpoint(eager=True)
    if stats is not None:
        stats["assign_s"] = round(_time.perf_counter() - _t0, 3)
    if cluster_cap is not None and warn_over_cap:
        # UNCONDITIONAL over-cap check (r9 review: gating it on the
        # opt-in stats dict left default callers with silent recall
        # loss): one cheap count over the already-checkpointed
        # assignment. warn_over_cap=False opts out where that extra
        # pass matters.
        n_capped = int(
            assigned.groupBy("cid")
            .count()
            .where(F.col("count") > int(cluster_cap))
            .count()
        )
        if stats is not None:
            stats["n_capped_clusters"] = n_capped
        if n_capped:
            import warnings as _warnings

            _warnings.warn(
                f"semantic_dedup: {n_capped} cluster(s) exceed cluster_cap="
                f"{cluster_cap} and were salt-split — near-dup pairs across "
                "sub-buckets are missed; scale n_centroids so mean cluster "
                "size stays below the cap (see docstring)",
                UserWarning,
                stacklevel=2,
            )
    elif stats is not None and cluster_cap is not None:
        stats["n_capped_clusters"] = None  # check skipped (warn_over_cap=False)
    codes = assigned.select(
        F.col(id_col).alias("id"),
        F.lit(0).alias("t"),
        F.col("cid").alias("code"),
        "cent_cos",
    )
    codes, group_cols = _apply_bucket_cap(codes, cluster_cap)
    # ordered pairs within a cluster (sub-bucket when the cap triggers):
    # pairs are unique by construction (single t, disjoint sub-buckets),
    # so no dedup shuffle is needed before the fetch-back joins. Each
    # member travels as a slim (id, cent_cos) struct so the prune bound
    # below needs NO extra join.
    cands = (
        codes.groupBy(*group_cols)
        .agg(F.collect_list(F.struct(F.col("id"), F.col("cent_cos"))).alias("ms"))
        .select(F.explode("ms").alias("a"), "ms")
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.cent_cos").alias("ca"),
            F.explode("ms").alias("b"),
        )
        .select(
            "id_a", "ca", F.col("b.id").alias("id_b"), F.col("b.cent_cos").alias("cb")
        )
        .where(F.col("id_a") < F.col("id_b"))
    )
    if verify_prune:
        # spherical triangle inequality (docstring): the pair's cosine is
        # AT MOST cos(|θa-θb|) = ca*cb + sin(θa)sin(θb); below the
        # threshold (minus slack covering the bound's own rounding) the
        # exact verify cannot pass, so skip the vector fetch entirely.
        # greatest(0, ·) guards cent_cos values a rounded dot pushed past 1.
        sin_a = F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("ca") * F.col("ca")))
        sin_b = F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("cb") * F.col("cb")))
        cands = cands.where(
            F.col("ca") * F.col("cb") + sin_a * sin_b
            >= F.lit(float(threshold) - 1e-9)
        )
    side_a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    side_b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    # exact verification rides the _cosine_verify_vector kernel (round
    # 15): bit-identical doubles at Arrow speed; ca/cb and the ids pass
    # through Arrow losslessly for the removal rule below.
    dup_pairs = _cosine_verify_vector(
        cands.join(side_a, on="id_a").join(side_b, on="id_b"),
        dim=dim,
    ).where(F.col("cos") >= F.lit(float(threshold)))
    removed = dup_pairs.select(
        F.when(
            (F.col("cb") < F.col("ca"))
            | ((F.col("cb") == F.col("ca")) & (F.col("id_b") < F.col("id_a"))),
            F.col("id_a"),
        )
        .otherwise(F.col("id_b"))
        .alias(id_col)
    ).distinct()
    return assigned.join(removed, on=id_col, how="left_anti").select(
        F.col(id_col), F.col("cid"), F.col("cent_cos")
    )


def _assign_vector(
    base: DataFrame, centroids: list[list[float]], id_col: str, dim: int
) -> DataFrame:
    """Bit-exact centroid assignment at Arrow speed: adds ``nv``, ``cid``
    and ``cent_cos`` to ``base`` (id, v).

    An Arrow-batched ``mapInArrow`` scan (no shuffle; the centroids
    ride in the task closure, so plan size is O(1) in ``n_centroids``).
    Each batch's argmax is ``exact_chains.cos_argmax``: the cosine of
    the dimension-loop chain

        dot[:, j] = ((0 + v0*c_j0) + v1*c_j1) + ... + v{d-1}*c_j{d-1}

    — the identical IEEE-double chain ``_dot_unrolled`` and the DuckDB
    twin's ``list_sum`` evaluate — found through one BLAS product whose
    winner is kept only where a proven error bound certifies it, the
    chain rerunning elsewhere. Centroid norms are the driver-side
    left-to-right sum + ``sqrt`` (``centroid_norms``); ``nv`` is the
    dim-prefix norm accumulated the same way; ``cent_cos`` is the
    chain's double. Ties and NaN follow the edge contract of
    ``exact_chains``, which is the twin's ``ORDER BY cos DESC, cid``.
    The kernel emits Arrow batches, so a NaN ``nv`` or ``cent_cos``
    stays NaN, as in the twin.

    The closure is numpy/pyarrow-only (no package import on workers)."""
    return base.mapInArrow(
        _assign_kernel(centroids, id_col, dim),
        schema=f"{id_col} {base.schema[id_col].dataType.simpleString()}, "
        "v array<double>, nv double, cid int, cent_cos double",
    )


def _assign_kernel(centroids: list[list[float]], id_col: str, dim: int):
    """``_assign_vector``'s batch function over ``(id, v)`` Arrow batches."""
    import numpy as np

    d = int(dim)
    C = np.asarray([list(c)[:d] for c in centroids], dtype=np.float64)
    ncv = _xc.centroid_norms(C)

    def _assign(batches):
        import numpy as _np
        import pyarrow as _pa

        for b in batches:
            if b.num_rows == 0:
                continue
            V = _xc.arrow_rows(b.column("v"), d)
            nv = _np.sqrt(_xc.sq_norms(V))
            cid, cent = _xc.cos_argmax(V, C, nv, ncv)
            yield _pa.RecordBatch.from_arrays(
                [
                    b.column(id_col),
                    b.column("v"),
                    _pa.array(nv, type=_pa.float64()),
                    _pa.array(cid, type=_pa.int32()),
                    _pa.array(cent, type=_pa.float64()),
                ],
                names=[id_col, "v", "nv", "cid", "cent_cos"],
            )

    return _assign


def _cosine_verify_vector(
    pairs: DataFrame,
    a_col: str = "va",
    b_col: str = "vb",
    na_col: str = "na",
    nb_col: str = "nb",
    dim: int = EMBED_DIM,
    out: str = "cos",
) -> DataFrame:
    """Bit-exact pair-cosine scoring at Arrow speed (round 15; the
    ``_assign_vector`` pattern applied to the ANN verify stage).

    Input: one row per candidate pair carrying both vectors and their
    precomputed norms (the fetch-back join output). Output: the same row
    minus the two vector columns, plus ``out = dot/(na*nb)`` where the
    dot accumulates over DIMENSIONS left to right — the identical IEEE
    chain ``_dot_unrolled`` evaluates (elementwise numpy ``*``/``+`` are
    single correctly-rounded ops), and the norm product + division are
    one IEEE op each on both engines, so the emitted double is
    bit-identical to the JVM expression. Measured motivation: the
    64-term codegen chain costs ~2.4 µs/pair — ~18 s of s4's ~30 s wall
    at 7.4M candidates (tools/profile_s4b.py), vs ~3.5 s for the joins
    themselves; the kernel's 64 vectorized multiply-adds amortize that
    to memory bandwidth. A pair whose vector is shorter than ``dim``
    (or NULL) scores NULL, mirroring the JVM chain (out-of-bounds
    ``F.get`` is NULL, which poisons the sum). The kernel emits Arrow
    batches (``mapInArrow``), so a NaN cosine stays NaN, as in the JVM
    chain and the twins. All non-vector columns pass through Arrow
    unchanged."""
    d = int(dim)
    keep = [f for f in pairs.schema.fields if f.name not in (a_col, b_col)]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keep
    ) + f", {out} double"
    keep_names = [f.name for f in keep]

    def _score(batches):
        import numpy as _np
        import pyarrow as _pa
        import pyarrow.compute as _pc

        def _stack(col):
            short = _pc.fill_null(
                _pc.less(_pc.list_value_length(col), d), True
            ).to_numpy(zero_copy_only=False)
            if not short.any():
                return _xc.arrow_rows(col, d), short
            mat = _np.full((len(col), d), _np.nan)
            for i, x in enumerate(col.to_pylist()):
                if not short[i]:
                    mat[i] = _np.asarray(x[:d], dtype=_np.float64)
            return mat, short

        for b in batches:
            if b.num_rows == 0:
                continue
            A, short_a = _stack(b.column(a_col))
            B, short_b = _stack(b.column(b_col))
            na, nb = b.column(na_col), b.column(nb_col)
            with _np.errstate(all="ignore"):
                cos = _xc.row_dots(A, B) / (
                    na.to_numpy(zero_copy_only=False) * nb.to_numpy(zero_copy_only=False)
                )
            null = (
                short_a | short_b
                | _pc.is_null(na).to_numpy(zero_copy_only=False)
                | _pc.is_null(nb).to_numpy(zero_copy_only=False)
            )
            yield _pa.RecordBatch.from_arrays(
                [b.column(n) for n in keep_names]
                + [_pa.array(cos, type=_pa.float64(), mask=null)],
                names=keep_names + [out],
            )

    return pairs.mapInArrow(_score, schema=out_schema)


def semantic_dedup_sql(
    threshold: float = 0.99,
    n_centroids: int = 8,
    iterations: int = 2,
    dim: int = EMBED_DIM,
    source_cte: str | None = None,
    source_name: str = "e",
    sample_num: int = 1,
    sample_den: int = 1,
    cluster_cap: int | None = 4096,
) -> str:
    """DuckDB twin of ``semantic_dedup``: replays the deterministic
    k-means via ``_kmeans_ctes`` (shared with the s3 twin), the argmax
    assignment (row_number ORDER BY cos DESC, cid ASC == Spark's
    array_max + first-position array_position), the within-cluster pair
    filter and the
    keep-low-centroid-sim removal rule. ``source_cte``/``source_name``
    inject the input fixture (the driver uses the planted near-dup
    corpus, PLANTED_NEARDUP_CTE's ``aug``); default is the raw
    embeddings table.

    ``cluster_cap`` (round 9, r8 advice): mirrors the engine's
    ``_apply_bucket_cap`` salt-split — the same md5 sub-bucket hash
    (``'lshsplit-v1|<id>|0'``, first 8 hex digits, mod
    ceil(cluster_size/cap)) and the same pairs-join on (cid, sub) — so
    engine and twin agree even when a cluster EXCEEDS the cap (before
    round 9 the twin enumerated the uncapped pairs and silently diverged
    above the cap). Keep the value equal to the engine call's; the
    degenerate-empty-sample asymmetry is documented on the engine side."""
    if source_cte is None:
        source_cte = f"{source_name} AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    ctes = [source_cte.strip()]
    train = source_name
    if sample_den > 1:
        # same md5 membership hash the Spark side applies to the
        # centroid-training sample
        train = "samp"
        ctes.append(
            f"""samp AS (
    SELECT * FROM {source_name}
    WHERE {_md5_sample_pred_sql('vec_id', sample_num, sample_den)}
)"""
        )
    kmeans, prev = _kmeans_ctes(n_centroids, iterations, dim, source=train)
    ctes.extend(kmeans)
    ctes.append(
        f"""af AS (
    SELECT vec_id, v, cid, cent_cos FROM (
        SELECT e.vec_id, e.v, s.cid,
               {_cos_sql('e.v', 's.cv', dim)} AS cent_cos,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos_sql('e.v', 's.cv', dim)} DESC, s.cid
               ) AS rk
        FROM {source_name} e CROSS JOIN {prev} s
    ) WHERE rk = 1
)"""
    )
    pair_src, pair_keys = "af", "a.cid = b.cid"
    if cluster_cap is not None:
        if cluster_cap <= 0:
            raise ValueError("cluster_cap must be positive (or None to disable)")
        # the engine's _apply_bucket_cap replay: bucket size via a window
        # count over cid, nsub = ceil(size/cap), sub = md5-salted member
        # hash mod nsub (0 when the cluster fits) — pairs only within
        # (cid, sub)
        ctes.append(
            f"""afc AS (
    SELECT vec_id, v, cid, cent_cos,
           CASE WHEN CEIL(CAST(count(*) OVER (PARTITION BY cid) AS DOUBLE)
                          / {int(cluster_cap)}) <= 1 THEN 0
                ELSE ('0x' || substr(md5('lshsplit-v1|' ||
                          CAST(vec_id AS VARCHAR) || '|0'), 1, 8))::BIGINT
                     % CAST(CEIL(CAST(count(*) OVER (PARTITION BY cid) AS DOUBLE)
                                 / {int(cluster_cap)}) AS BIGINT)
           END AS sub
    FROM af
)"""
        )
        pair_src, pair_keys = "afc", "a.cid = b.cid AND a.sub = b.sub"
    ctes.append(
        f"""dup_pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           a.cent_cos AS ca, b.cent_cos AS cb
    FROM {pair_src} a JOIN {pair_src} b ON {pair_keys} AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.v', 'b.v', dim)} >= {threshold}
)"""
    )
    ctes.append(
        """removed AS (
    SELECT DISTINCT CASE
        WHEN cb < ca OR (cb = ca AND id_b < id_a) THEN id_a
        ELSE id_b
    END AS vec_id
    FROM dup_pairs
)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT af.vec_id, af.cid, af.cent_cos
FROM af
WHERE NOT EXISTS (SELECT 1 FROM removed r WHERE r.vec_id = af.vec_id)
"""


# ---------------------------------------------------------------------------
# s5: product-quantization ANN (round 9)
# ---------------------------------------------------------------------------


def _normalized(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    """(id, vn) with vn = v / ||v|| — one norm per vector (projected
    column, not re-derived per element); zero-norm vectors divide by 1 so
    they pass through unchanged instead of NaN-ing (the twin mirrors the
    CASE). Per-element division is IEEE-correctly-rounded, so normalized
    components are cross-engine bit-identical."""
    staged = df.select(
        F.col(id_col), _as_double(vec_col).alias("v")
    ).withColumn("n0", _norm(F.col("v"), dim))
    nv = F.when(F.col("n0") == 0, F.lit(1.0)).otherwise(F.col("n0"))
    return staged.select(
        F.col(id_col),
        F.transform(F.col("v"), lambda x: x / nv).alias("vn"),
    )


def _pq_train(
    VN, m: int, sub_dim: int, n_codes: int, iterations: int
) -> list[list[list[float]]]:
    """Per-subspace deterministic k-means over the NORMALIZED training
    rows ``VN`` (n, m * sub_dim), in ``(md5, id)`` order —
    ``ivf_build_centroids``' exact-replay discipline (md5-ordered seeding,
    fixed Lloyd rounds, quantized-BIGINT averaging) with squared-L2
    assignment (the PQ metric: sub-vectors are not unit, cosine would
    divide by near-zero norms). Returns codebooks[m][n_codes][sub_dim].

    All m subspaces seed from the SAME first ``n_codes`` rows, and each
    Lloyd round (``_lloyd_kernel`` with ``exact_chains.l2_argmin``, the
    squared-L2 chain's argmin found through one certified BLAS product
    per subspace) covers all m subspaces in-process. The arithmetic per
    subspace is the SQL twin's independent per-subspace replay, and the
    integer sums are order-independent, so the codebooks equal the
    twin's."""
    if not len(VN):
        raise ValueError(
            "PQ codebook training set is empty (empty corpus, or sample_num/"
            "sample_den left no training rows) — no encoding is possible"
        )
    if len(VN) < n_codes:
        # no silent padding: the SQL twin's seeds CTE would yield fewer
        # centroids and diverge — surface the misconfiguration instead
        # (the d8 empty-sample discipline, r8 ADVICE #4).
        raise ValueError(
            f"training set has {len(VN)} rows < n_codes={n_codes}; "
            "shrink n_codes or widen the training sample"
        )
    books = [
        VN[:n_codes, j * sub_dim : (j + 1) * sub_dim].tolist() for j in range(m)
    ]
    for _ in range(iterations):
        books = _lloyd_kernel(VN, books, "l2", sub_dim)
    return books


def _train_quantizers(
    corpus: DataFrame,
    m: int,
    n_codes: int,
    iterations: int,
    sample_num: int,
    sample_den: int,
    id_col: str,
    vec_col: str,
    dim: int,
    n_lists: int | None = None,
    coarse_sample_num: int = 1,
    coarse_sample_den: int = 1,
):
    """``(books, coarse)``: the PQ codebooks and, given ``n_lists``, the
    IVF coarse centroids (else None), trained on the driver from ONE
    bounded fetch of both md5 samples (``_fetch_training``; more than
    ``MAX_TRAIN_ROWS`` rows raises). The PQ rows are normalized by
    ``_normalized``'s chain (dim-prefix norm, zero norm divides by 1);
    the coarse quantizer trains on the raw rows
    (``ivf_build_centroids``' procedure)."""
    import numpy as np
    import pyarrow as pa

    samples = [(sample_num, sample_den)]
    if n_lists is not None:
        samples.append((coarse_sample_num, coarse_sample_den))
    vecs, masks = _fetch_training(corpus, id_col, vec_col, samples)
    with np.errstate(all="ignore"):
        _, VN = _xc.unit_rows(_xc.arrow_rows(vecs.filter(pa.array(masks[0])), dim))
    books = _pq_train(VN, m, dim // m, n_codes, iterations)
    coarse = None
    if n_lists is not None:
        coarse = _ivf_train(vecs.filter(pa.array(masks[1])), n_lists, iterations, dim)
    return books, coarse


def _encode_vector(
    corpus: DataFrame,
    books: list[list[list[float]]],
    coarse: list[list[float]] | None,
    id_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """(id, code0..code{m-1}[, cid]) in ONE map-only Arrow pass over the
    RAW corpus — the encode of every PQ consumer (pq_topk, ivfpq_topk,
    build_pq_index, extend_pq_index). The kernel is a ``mapInArrow``: it
    stacks the rows with ``exact_chains.arrow_rows`` (no Python object
    per row), passes the id column through and emits int32 code columns.

    Per batch the kernel computes the ``_normalized`` vector (dim-prefix
    norm, zero norm divides by 1, per-element IEEE division), its PQ
    codes (squared-L2 argmin per subspace, ``_xc.l2_argmin``) and, given
    ``coarse``, its IVF list (cosine argmax of the raw vector,
    ``_xc.cos_argmax``). Every argmin/argmax is the one of the
    dimension-loop chain (found through a certified BLAS product), so
    codes and lists are bit-identical to the twins' ``code_s*`` and
    ``lists`` CTEs — with no join and no shuffle. Plan size is O(1) in
    ``n_codes`` and ``n_lists``."""
    import numpy as np

    m = len(books)
    sub = int(dim) // m
    d = int(dim)
    C = [np.asarray(b, dtype=np.float64) for b in books]
    K = None
    ncv = None
    if coarse is not None:
        K = np.asarray([list(c)[:d] for c in coarse], dtype=np.float64)
        ncv = _xc.centroid_norms(K)
    out_schema = _codes_schema(corpus, id_col, m, coarse is not None)
    names = [id_col] + [f"code{j}" for j in range(m)]
    if coarse is not None:
        names.append("cid")

    def _encode(batches):
        import pyarrow as _pa

        for b in batches:
            if b.num_rows == 0:
                continue
            V = _xc.arrow_rows(b.column("v"), d)
            nv, VN = _xc.unit_rows(V)
            codes = [
                _xc.l2_argmin(VN[:, j * sub : (j + 1) * sub], C[j]) for j in range(m)
            ]
            if K is not None:
                codes.append(_xc.cos_argmax(V, K, nv, ncv)[0])
            yield _pa.RecordBatch.from_arrays(
                [b.column(id_col)] + [_pa.array(c, type=_pa.int32()) for c in codes],
                names=names,
            )

    return corpus.select(
        F.col(id_col), _as_double(vec_col).alias("v")
    ).mapInArrow(_encode, schema=out_schema)


def _codes_schema(corpus: DataFrame, id_col: str, m: int, ivf: bool) -> str:
    """DDL of a code table: the corpus id type, ``code0..code{m-1}`` int
    and, for IVF, ``cid`` int."""
    id_type = corpus.schema[id_col].dataType.simpleString()
    return ", ".join(
        [f"{id_col} {id_type}"]
        + [f"code{j} int" for j in range(m)]
        + (["cid int"] if ivf else [])
    )


def _adc_scan_vector(
    codes: DataFrame,
    books: list[list[list[float]]],
    q_rows: list,
    m: int,
    sub_dim: int,
    id_col: str,
    dim: int,
    qid_type: str,
    probes: list | None = None,
) -> DataFrame:
    """Bit-exact ADC scan at Arrow speed (round 16, r15 verdict #5; the
    ``_cosine_verify_vector`` recipe applied to the s5/s6 serve chain).

    Input: the corpus code table — ``(id, code0..code{m-1}[, cid])`` —
    and the (small, already driver-materialized) query set as plain rows
    ``(query_id, qvn)``. Output: one ``(query_id, id, adc)`` row per
    (query, scanned code) pair, where

        adc = Σ_j dot(q_sub_j, codebook_j[code_j])

    with the inner dot accumulated over DIMENSIONS left to right and the
    outer sum accumulated in subspace order — the identical IEEE chains
    the JVM form evaluates (``_dot_unrolled`` per subspace, left-
    associated ``+`` across subspaces), so every emitted double is
    bit-identical to the broadcast-join + codegen-chain plan it replaces
    (pinned by tests/test_vector_exact_kernels.py). A query vector
    SHORTER than ``dim`` scores NULL against every code, mirroring the
    JVM chain (out-of-bounds ``F.get`` is NULL and poisons the sum). The
    kernel emits Arrow batches (``mapInArrow``), so a NaN score stays NaN
    as in the JVM chain — and sorts first under the ``adc DESC``
    candidate cut, as Spark orders NaN above every number — where a
    pandas batch would turn it into NULL and sort it last.

    What this removes from the plan (measured on the s6 q50 entry: the
    ADC stage was ~2.5 s of JVM chain): the m broadcast hash-joins that
    attached an m×sub_dim-double centroid payload to EVERY code row, the
    query join that re-carried the dim-double query vector per scanned
    row, and the m×sub_dim-term whole-stage-codegen arithmetic per
    (row, query) — one MapInPandas with the codebooks and queries in the
    task closure replaces all of it, and only the slim (id[, cid], codes)
    columns cross the Python boundary.

    ``probes``: for IVF (s6) — ``(query_index, cid)`` pairs restricting
    each query's scan to its probed inverted lists (the kernel-side form
    of the ``coded_lists JOIN probes ON cid`` the JVM plan did). None
    means every query scans every row (s5's flat crossJoin)."""
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    C = [np.asarray(books[j], dtype=np.float64) for j in range(m)]
    qid_arrow = to_arrow_type(_parse_datatype_string(qid_type))
    qids = [r[0] for r in q_rows]
    qvecs = []
    q_short = []
    for r in q_rows:
        if r[1] is None:
            # NULL query vector: the JVM chain scores NULL — same here
            q_short.append(True)
            qvecs.append(None)
            continue
        a = np.asarray(r[1], dtype=np.float64)
        q_short.append(a.size < dim)
        qvecs.append(a[:dim] if a.size >= dim else None)
    id_type = codes.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_type}, {id_col} {id_type}, adc double"
    q_cids: list[list[int]] | None = None
    if probes is not None:
        q_cids = [[] for _ in qids]
        for qi, cid in probes:
            q_cids[int(qi)].append(int(cid))
    sub = int(sub_dim)
    mm = int(m)
    in_cols = [id_col] + [f"code{j}" for j in range(mm)] + (
        ["cid"] if probes is not None else []
    )

    def _scan(batches):
        import numpy as _np
        import pyarrow as _pa

        for b in batches:
            if b.num_rows == 0:
                continue
            sel = [
                C[j][b.column(f"code{j}").to_numpy(zero_copy_only=False)]
                for j in range(mm)
            ]
            if q_cids is not None:
                cid_vals = b.column("cid").to_numpy(zero_copy_only=False)
            for qi, qid in enumerate(qids):
                if q_cids is not None:
                    probed = _np.isin(cid_vals, q_cids[qi])
                    if not probed.any():
                        continue
                    ids = b.column(id_col).filter(_pa.array(probed))
                    csel = [s[probed] for s in sel]
                else:
                    ids = b.column(id_col)
                    csel = sel
                rows = len(ids)
                if q_short[qi]:
                    adc = _pa.nulls(rows, _pa.float64())
                else:
                    q = qvecs[qi]
                    acc = None
                    for j in range(mm):
                        dot = _xc.row_dots(csel[j], q[j * sub : (j + 1) * sub])
                        acc = dot if acc is None else acc + dot
                    adc = _pa.array(acc, type=_pa.float64())
                yield _pa.RecordBatch.from_arrays(
                    [_pa.repeat(_pa.scalar(qid, type=qid_arrow), rows), ids, adc],
                    names=["query_id", id_col, "adc"],
                )

    return codes.select(*in_cols).mapInArrow(_scan, schema=out_schema)


# ---------------------------------------------------------------------------
# Persisted ANN index (r10 verdict #3): build once, serve many
# ---------------------------------------------------------------------------

# v2 (round 12): meta also persists the TRAINING knobs (iterations,
# sample_num/den, coarse_sample_num/den) so serving raises on a caller
# whose requested training regime differs from how the stored books were
# actually fit (r11 advice — silently serving a differently-trained index
# is the wrong-answer class).
# v3: meta drops ``encode_mode``; a v2 index may hold inexact
# BLAS-encoded codes and is refused.
# v4: meta, codebooks and coarse centroids are rows of ONE ``model``
# table, committed with ``codes`` as one directory move. A v3 index
# (separate meta/codebooks/coarse directories) is refused.
PQ_INDEX_VERSION = 4

_MODEL_SCHEMA = "part string, sub int, cid int, cv array<double>, meta string"


def build_pq_index(
    corpus: DataFrame,
    path: str,
    n_lists: int | None = None,
    m: int = 4,
    n_codes: int = 8,
    iterations: int = 2,
    sample_num: int = 1,
    sample_den: int = 1,
    coarse_sample_num: int = 1,
    coarse_sample_den: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> dict:
    """Train PQ codebooks (and, when ``n_lists`` is set, the IVF coarse
    quantizer) over ``corpus`` and persist the SERVING ARTIFACT under
    ``path`` — the band_buckets pattern (operators/dedup.py
    ``write_band_buckets``) applied to ANN: ``pq_topk``/``ivfpq_topk``
    without an index re-pay training and encoding on every call; a
    stored index pays them once and serves every subsequent query batch
    at marginal cost.

    Jobs: TWO. ONE bounded fetch of both training samples, after which
    the seeding and every Lloyd round run in-process on the driver
    (``_train_quantizers``; a training set of more than
    ``MAX_TRAIN_ROWS`` rows raises — raise ``sample_den``); then ONE
    map-only scan that normalizes, PQ-encodes and list-assigns each raw
    vector (``_encode_vector``) and writes ``partitionBy(cid)`` with no
    shuffle. The ``model`` table is one parquet file the driver encodes
    and writes itself (``_write_model``), not a Spark job.

    Layout (all parquet, so the artifact lives on the same storage tier
    as the data at 100 TB — no driver-local files):

    - ``path/model``  one small table (``_MODEL_SCHEMA``) in one file,
      ``part-00000.parquet``: one ``meta`` row (version, kind,
      m/n_codes/sub_dim/dim, n_lists, id_col and the training knobs, as
      JSON) read back for compatibility validation, m*n_codes ``book``
      rows (sub, cid, cv) and n_lists ``coarse`` rows (cid, cv; IVF
      only).
    - ``path/codes``  (id, code0..code{m-1}[, cid]); the IVF form is
      ``partitionBy(cid)`` so a probe of n_probe lists is a scan of
      exactly n_probe directories (pruning asserted from
      selectedPartitions in tests, the serving-table discipline).

    Commit: both tables are written into a fresh staging directory
    beside ``path``, which moves into place last (``_commit_index``): a
    rename when ``path`` is new, ``_swap_dirs`` over an existing index.
    A build that fails before the move leaves the previous index as it
    was, and the directory never holds the model of one build with the
    codes of another. A reader that reads the model before a swap and
    the codes after it still sees two builds; the blue/green
    ``refresh_pq_index`` is the online path.

    Exactness: parquet stores float64 bit-exactly, so an index-served
    query returns BIT-IDENTICAL results to the rebuild-every-time form,
    and the DuckDB twins (``pq_topk_sql``/``ivfpq_topk_sql``) stay the
    full-procedure oracle — the twin replays the build.

    Returns the meta dict (also persisted)."""
    import json
    import uuid

    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if dim % m != 0:
        raise ValueError(f"dim={dim} must be divisible by m={m}")
    if n_lists is not None and n_lists < 1:
        raise ValueError(f"n_lists must be >= 1, got {n_lists}")
    spark = corpus.sparkSession

    books, coarse = _train_quantizers(
        corpus, m, n_codes, iterations, sample_num, sample_den, id_col,
        vec_col, dim, n_lists, coarse_sample_num, coarse_sample_den,
    )
    meta = {
        "version": PQ_INDEX_VERSION,
        "kind": "ivfpq" if n_lists is not None else "pq",
        "m": m,
        "n_codes": n_codes,
        "sub_dim": dim // m,
        "dim": dim,
        "n_lists": n_lists if n_lists is not None else 0,
        "id_col": id_col,
        "iterations": iterations,
        "sample_num": sample_num,
        "sample_den": sample_den,
        "coarse_sample_num": coarse_sample_num,
        "coarse_sample_den": coarse_sample_den,
    }
    model = (
        [("meta", None, None, None, json.dumps(meta))]
        + [("book", j, i, v, None) for j in range(m) for i, v in enumerate(books[j])]
        + [("coarse", None, i, v, None) for i, v in enumerate(coarse or [])]
    )
    stage = f"{path.rstrip('/')}.staging-{uuid.uuid4().hex}"
    try:
        codes = _encode_vector(corpus, books, coarse, id_col, vec_col, dim).write
        if n_lists is not None:
            codes = codes.partitionBy("cid")
        codes.parquet(f"{stage}/codes")
        _write_model(spark, f"{stage}/model", model)
        _commit_index(spark, stage, path)
    except BaseException:
        fs, hpath = _hadoop_fs(spark, stage)
        fs.delete(hpath(stage), True)
        raise
    return meta


def read_pq_index(
    spark, path: str
) -> tuple[dict, list[list[list[float]]], list[list[float]] | None]:
    """(meta, codebooks, coarse_centroids_or_None) from a persisted index,
    without a Spark job: the driver reads the parquet files of its
    ``model`` table (1 + m*n_codes + n_lists rows — index metadata, never
    data) through the path's Hadoop FileSystem (``_read_model_rows``).
    A model table written by Spark (indexes built before the driver-side
    writer) reads back to the same rows. A v2/v3 index (separate
    ``meta``/``codebooks``/``coarse`` directories) raises, naming its
    version; a path with neither layout raises ``FileNotFoundError``."""
    import json

    rows = _read_model_rows(spark, f"{path}/model")
    if rows is None:
        old = _read_model_rows(spark, f"{path}/meta")
        if old is None:
            raise FileNotFoundError(f"no PQ index at {path!r}: no model table")
        raise ValueError(
            f"PQ index at {path!r} has the version {old[0]['version']} layout "
            f"(separate meta/codebooks/coarse directories); version "
            f"{PQ_INDEX_VERSION} is supported — rebuild the index"
        )
    metas = [r["meta"] for r in rows if r["part"] == "meta"]
    if len(metas) != 1:
        raise ValueError(f"malformed PQ index at {path!r}: {len(metas)} meta rows, expected 1")
    meta = json.loads(metas[0])
    if meta["version"] != PQ_INDEX_VERSION:
        raise ValueError(
            f"PQ index version {meta['version']} at {path!r} not supported "
            f"(expected {PQ_INDEX_VERSION})"
        )
    m, n_codes, sub_dim = meta["m"], meta["n_codes"], meta["sub_dim"]
    book_rows = [r for r in rows if r["part"] == "book"]
    if len(book_rows) != m * n_codes:
        raise ValueError(
            f"malformed PQ index at {path!r}: {len(book_rows)} codebook rows, "
            f"expected m*n_codes={m * n_codes}"
        )
    books: list[list[list[float]]] = [
        [[0.0] * sub_dim for _ in range(n_codes)] for _ in range(m)
    ]
    for r in book_rows:
        books[r["sub"]][r["cid"]] = list(r["cv"])
    coarse: list[list[float]] | None = None
    if meta["kind"] == "ivfpq":
        coarse_rows = [r for r in rows if r["part"] == "coarse"]
        if len(coarse_rows) != meta["n_lists"]:
            raise ValueError(
                f"malformed PQ index at {path!r}: {len(coarse_rows)} coarse rows, "
                f"expected n_lists={meta['n_lists']}"
            )
        coarse = [[0.0] * meta["dim"] for _ in range(len(coarse_rows))]
        for r in coarse_rows:
            coarse[r["cid"]] = list(r["cv"])
    return meta, books, coarse


def _write_model(spark, model_dir: str, model: list[tuple]) -> None:
    """Write the ``_MODEL_SCHEMA`` rows ``model`` as ONE parquet file,
    ``model_dir/part-00000.parquet``: the bytes are encoded on the driver
    by ``pyarrow.parquet`` and written through the path's Hadoop
    FileSystem (the API ``_commit_index`` moves the index with), so no
    Spark job runs and every scheme the codes write reaches works."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = to_arrow_schema(_parse_datatype_string(_MODEL_SCHEMA))
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in model], schema)
    buf = pa.BufferOutputStream()
    # the cv doubles are nearly all distinct: a dictionary only adds bytes
    pq.write_table(table, buf, use_dictionary=["part"])
    fs, hpath = _hadoop_fs(spark, model_dir)
    out = fs.create(hpath(f"{model_dir}/part-00000.parquet"))
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()


def _read_model_rows(spark, table_dir: str) -> list[dict] | None:
    """The rows (as dicts) of the small parquet table at ``table_dir``,
    read on the driver: each part file directly under it (``_``/``.``
    names skipped) is read whole through the path's Hadoop FileSystem
    into ``pyarrow.parquet``. None when the directory does not exist."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, hpath = _hadoop_fs(spark, table_dir)
    if not fs.exists(hpath(table_dir)):
        return None
    io = spark._jvm.org.apache.commons.io.IOUtils  # type: ignore[attr-defined]
    rows: list[dict] = []
    for status in fs.listStatus(hpath(table_dir)):
        part = status.getPath()
        if not status.isFile() or part.getName().startswith(("_", ".")):
            continue
        stream = fs.open(part)
        try:
            data = io.toByteArray(stream)
        finally:
            stream.close()
        rows += pq.read_table(pa.BufferReader(data)).to_pylist()
    return rows


def _batch_id_bounds(batch: DataFrame, id_col: str):
    """(min, max) of the batch's id column — one tiny driver-side job.
    The redelivery anti-join probes only stored ids INSIDE this range
    (any collision is by definition within it), which turns the probe
    into a footer-prunable range scan instead of a full id-column pass."""
    row = batch.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]
    return row["lo"], row["hi"]


def existing_index_ids(spark, path: str, id_col: str, lo, hi) -> DataFrame:
    """The code table's ids restricted to [lo, hi] — the redelivery-probe
    side of ``extend_pq_index``'s anti-join. The BETWEEN predicate is
    pushed to the parquet scan (PushedFilters — plan-asserted in
    tests/test_pq_index.py), so file/row-group min-max stats bound the
    probe: each streaming extend appends files carrying only that batch's
    ids, and compaction id-sorts rows within files, so for the common
    clustered/monotonic id stream the probe reads O(overlapping files),
    flat as the index grows — not O(index) per trigger (r11 verdict #2).
    Worst case (ids uniformly random over the full range) degrades to the
    previous column-pruned full scan, never worse."""
    return (
        spark.read.parquet(f"{path}/codes")
        .select(id_col)
        .where(F.col(id_col).between(F.lit(lo), F.lit(hi)))
    )


def extend_pq_index(new_vectors: DataFrame, path: str) -> int:
    """Grow a persisted ANN index with new corpus vectors WITHOUT
    rebuilding (round 11 — the d9-incremental story applied to serving
    indexes): encode the new vectors with the STORED codebooks (and, for
    an IVF index, assign them to lists with the stored coarse centroids),
    then append their code rows to the artifact. Training never
    re-runs; only the new batch is scanned, by the same encode the build
    ran (``_encode_vector``).

    Exactness contract (what makes this oracle-able): an index built on
    corpus slice A and extended with slice B serves queries BIT-IDENTICALLY
    to ``pq_topk``/``ivfpq_topk`` over A∪B with training restricted to A —
    the same train-on-sample/encode-everything shape the operators'
    ``sample_num/den`` knobs (and their DuckDB twins) already replay. The
    driver extra builds on the md5-sample half and extends with the
    complement, so the EXISTING full-procedure twin is the oracle.

    Idempotency: ids already present in the code table are anti-joined
    away before the append, so a redelivered batch (at-least-once
    ``foreachBatch`` delivery) appends nothing — the d9 discipline. The
    probe side is bounded to the batch's own id range
    (``existing_index_ids`` — footer-stat pruned, O(overlapping files)
    per trigger instead of a full id-column scan; r11 verdict #2).
    Quantization drift: none — codebooks/centroids load from parquet
    float64 exactly, and the encode argmin is the same expression the
    build ran.

    Returns the number of NEW rows appended (0 for a fully-redelivered
    batch)."""
    spark = new_vectors.sparkSession
    meta, books, coarse = read_pq_index(spark, path)
    dim, id_col = meta["dim"], meta["id_col"]
    if id_col not in new_vectors.columns:
        raise ValueError(
            f"new_vectors must carry the index id column {id_col!r}"
        )
    vec_col = "embedding" if "embedding" in new_vectors.columns else None
    if vec_col is None:
        cand = [c for c in new_vectors.columns if c != id_col]
        if len(cand) != 1:
            raise ValueError(
                "cannot infer the vector column; pass (id, embedding) rows"
            )
        vec_col = cand[0]

    lo, hi = _batch_id_bounds(new_vectors, id_col)
    if lo is None:
        return 0  # empty batch
    existing_ids = existing_index_ids(spark, path, id_col, lo, hi)
    fresh = new_vectors.join(existing_ids, on=id_col, how="left_anti")
    # bound the append (and make `return 0` cheap) before the encode
    fresh = fresh.localCheckpoint(eager=True)
    n_new = fresh.count()
    if n_new == 0:
        return 0

    codes = _encode_vector(fresh, books, coarse, id_col, vec_col, dim)
    if meta["kind"] == "ivfpq":
        codes.write.mode("append").partitionBy("cid").parquet(f"{path}/codes")
    else:
        codes.write.mode("append").parquet(f"{path}/codes")
    return n_new


def _hadoop_fs(spark, path: str):
    """(Hadoop FileSystem of ``path``, the JVM ``Path`` constructor)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path  # type: ignore[attr-defined]
    conf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    return hpath(path).getFileSystem(conf), hpath


def _commit_index(spark, stage: str, path: str) -> None:
    """Move the fully written index directory ``stage`` to ``path``: one
    rename when ``path`` is new, ``_swap_dirs`` over an existing one."""
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath(path)):
        _swap_dirs(spark, stage, path)
    elif not fs.rename(hpath(stage), hpath(path)):
        raise IOError(f"cannot rename {stage} to {path}")


def _swap_dirs(spark, src: str, dst: str) -> None:
    """Replace directory ``dst`` with ``src`` via two renames (dst ->
    dst.old, src -> dst), then drop the old copy. Hadoop FileSystem API
    so HDFS paths swap exactly like local ones; on object stores whose
    rename is copy-based (S3) this is not atomic — there the blue/green
    versioned-directory refresh (``refresh_pq_index``) is the online
    path. A failed second rename restores the original directory."""
    fs, hpath = _hadoop_fs(spark, dst)
    old = hpath(dst + ".old")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(hpath(dst), old):
        raise IOError(f"cannot rename {dst} aside for swap")
    if not fs.rename(hpath(src), hpath(dst)):
        fs.rename(old, hpath(dst))  # restore — leave the table readable
        raise IOError(f"cannot rename {src} into place; original restored")
    fs.delete(old, True)


def compact_pq_index(spark, path: str) -> None:
    """Compact a persisted index's code table: one file per ``cid``
    partition (or one file total for a flat index) — the candle sink's
    ``compact_candles`` discipline applied to the ANN artifact. Every
    streaming ``extend_pq_index`` batch APPENDS at least one small file
    per touched list; after thousands of micro-batches the file count,
    not the byte count, dominates probe listing and scan planning. Rows
    sort by id within files so parquet min/max stats narrow the
    extend-time anti-join's id probes too. Contents are byte-equal rows
    (pytest-asserted); probe pruning is unaffected (same directories).

    Write discipline (r11 verdict #4): the compacted table is written to
    ``codes.tmp`` and then swapped into place with two directory renames
    — read-from-while-overwriting never arises, so nothing is
    materialized into executor storage (the previous ``localCheckpoint``
    was a full copy of the code table per compaction)."""
    meta, _, _ = read_pq_index(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    id_col = meta["id_col"]
    tmp = f"{path}/codes.tmp"
    if meta["kind"] == "ivfpq":
        (
            codes.repartition("cid")
            .sortWithinPartitions(id_col)
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(tmp)
        )
    else:
        (
            codes.coalesce(1)
            .sortWithinPartitions(id_col)
            .write.mode("overwrite")
            .parquet(tmp)
        )
    _swap_dirs(spark, tmp, f"{path}/codes")


# ---------------------------------------------------------------------------
# Blue/green index refresh (round 12, r11 verdict #6): the recall-drift
# answer. ``foreach_batch_index_ingest`` keeps EXTENDING the live index
# with codebooks frozen at build time; as the corpus distribution drifts,
# quantization error grows (the aging-FAISS-index problem the ann_index
# docstring documents). The fix is periodic re-TRAINING — but an in-place
# rebuild would break readers mid-swap. Blue/green: each rebuild lands in
# a fresh versioned directory under one root, and a CURRENT pointer file
# flips atomically (tmp + rename); a reader resolves the pointer, then
# serves from an immutable artifact — queries in flight keep their
# version, queries after the flip get the new one, and no query ever
# observes a half-written index. Old versions stay until pruned.
# ---------------------------------------------------------------------------

INDEX_POINTER = "CURRENT"


def _pointer_file(root: str) -> str:
    if "://" in root:
        # silently returning version 0 on a URL path would route callers
        # into "never refreshed" behavior against a live remote root
        raise ValueError(
            "versioned-pointer refresh uses local/NFS atomic rename; on "
            f"object stores ({root!r}) the pointer belongs in your table "
            "catalog — keep the same v{N} directory layout"
        )
    return f"{root.rstrip('/')}/{INDEX_POINTER}"


def current_index_version(root: str) -> int:
    """The version number the CURRENT pointer names (0 if no pointer —
    a root that has never been refreshed)."""
    import os as _os

    try:
        with open(_pointer_file(root)) as fh:
            name = fh.read().strip()
    except OSError:
        return 0
    if not name.startswith("v"):
        raise ValueError(f"malformed index pointer {name!r} at {root!r}")
    return int(name[1:])


def current_index_path(root: str) -> str:
    """Resolve the CURRENT pointer to the servable index directory —
    pass the result straight to ``pq_topk``/``ivfpq_topk(index_path=...)``.
    Raises if the root has never been refreshed."""
    ver = current_index_version(root)
    if ver == 0:
        raise ValueError(
            f"no CURRENT index under {root!r} — run refresh_pq_index first"
        )
    return f"{root.rstrip('/')}/v{ver}"


def refresh_pq_index(
    corpus: DataFrame,
    root: str,
    reconcile_path: str | None = None,
    **build_kwargs,
) -> str:
    """Blue/green rebuild: train + encode a brand-new index over
    ``corpus`` into ``root/v{N+1}``, then atomically repoint
    ``root/CURRENT`` at it. Returns the new version directory.

    The build writes into a directory no reader resolves yet, so serving
    from ``current_index_path(root)`` never fails during a refresh —
    the pointer flip is a single rename. The PREVIOUS version directory
    is left intact (readers that resolved it before the flip finish
    against an immutable artifact); reclaim space with
    ``prune_index_versions`` once in-flight readers have drained.

    ``reconcile_path`` closes the refresh-under-ingest gap: vectors the
    streaming loop (``foreach_batch_index_ingest``) adds to the LIVE
    version while this rebuild runs are in the raw corpus table but not
    in ``corpus`` (the build's snapshot), and no later extend re-delivers
    them — after the flip they would be unservable from CURRENT forever.
    Pass the raw corpus table's path and the new version is extended with
    every corpus row whose id is not yet in its code table (anti-join
    against the full id column — a once-per-refresh maintenance scan,
    not a per-batch cost; the delta it appends is bounded by the build
    window's ingests). Encoding uses the new version's stored codebooks,
    so the reconciled index is exactly "train on snapshot, encode
    snapshot ∪ delta" — the same sampled-train shape the extend oracles
    already verify.

    The reconcile is race-free against concurrent ingest (round 13, r12
    verdict #2 — the r12 version had a scan→flip window): (a) BEFORE the
    flip, the anti-join delta pass LOOPS until an empty probe, so the
    pre-flip gap shrinks to the final empty probe; (b) AFTER the flip,
    one more delta pass runs against the now-CURRENT version. Any ingest
    batch interleaves one of two ways: its corpus append completed
    before the post-flip scan — the post-flip pass delivers it — or it
    completed after, in which case the ingest hook's own pointer
    re-check (``foreach_batch_index_ingest`` re-resolves CURRENT after
    its appends) observes the flipped pointer and re-extends the new
    version itself. Both paths are idempotent anti-join appends, so
    double delivery converges. Without a ``reconcile_path`` (no corpus
    table) the hook-side re-check is the only guard, and an ingest that
    both resolved the old pointer and finished before the flip stays in
    the old version — pass the corpus path to close that case.

    Local/NFS-posix pointer semantics (os.replace); at object-store
    scale the pointer becomes the catalog entry of whatever table format
    hosts the artifact — the versioned-directory layout is unchanged."""
    import os as _os

    spark = corpus.sparkSession
    ver = current_index_version(root) + 1
    vdir = f"{root.rstrip('/')}/v{ver}"
    meta = build_pq_index(corpus, vdir, **build_kwargs)

    def _reconcile_once() -> bool:
        """Extend vdir with corpus rows absent from its code table;
        True when the delta was empty (nothing left to deliver)."""
        id_col = meta["id_col"]
        live = spark.read.parquet(reconcile_path)
        stored_ids = spark.read.parquet(f"{vdir}/codes").select(id_col)
        delta = live.join(stored_ids, on=id_col, how="left_anti")
        # pin: extend() re-reads the index it is appending to
        delta = delta.localCheckpoint(eager=True)
        if delta.isEmpty():
            return True
        extend_pq_index(delta, vdir)
        return False

    if reconcile_path is not None:
        # loop-until-empty: each pass delivers the ingests that landed
        # during the previous one; the loop exits on an EMPTY probe, so
        # the pre-flip window is the probe itself, not the build
        for _ in range(10):
            if _reconcile_once():
                break
    if _REFRESH_PRE_FLIP_HOOK is not None:
        _REFRESH_PRE_FLIP_HOOK()  # test seam: inject an ingest in the gap
    _os.makedirs(root, exist_ok=True)
    tmp = _pointer_file(root) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(f"v{ver}")
    _os.replace(tmp, _pointer_file(root))
    if reconcile_path is not None:
        # post-flip pass: anything that slipped between the final empty
        # probe and the rename is in the corpus table by now or will
        # re-deliver itself via the ingest hook's pointer re-check
        _reconcile_once()
    return vdir


# Test seam for the reconcile race (see refresh_pq_index): called
# between the pre-flip reconcile loop and the pointer rename. Never set
# outside tests.
_REFRESH_PRE_FLIP_HOOK = None


def prune_index_versions(root: str, keep: int = 2) -> list[str]:
    """Drop all but the newest ``keep`` version directories (never the
    CURRENT one regardless of ``keep``). Returns dropped dir names."""
    import os as _os
    import re as _re
    import shutil as _shutil

    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    cur = current_index_version(root)
    vers = sorted(
        int(m.group(1))
        for d in _os.listdir(root)
        if (m := _re.fullmatch(r"v(\d+)", d)) and _os.path.isdir(f"{root}/{d}")
    )
    drop = [v for v in vers[:-keep] if v != cur]
    for v in drop:
        _shutil.rmtree(f"{root}/v{v}", ignore_errors=True)
    return [f"v{v}" for v in drop]


def _check_index_meta(
    meta: dict,
    kind: str,
    m: int,
    n_codes: int,
    dim: int,
    iterations: int | None = None,
    sample_num: int | None = None,
    sample_den: int | None = None,
    coarse_sample_num: int | None = None,
    coarse_sample_den: int | None = None,
) -> None:
    """A stored index silently serving different hyper-parameters than
    the caller asked for is the wrong-answer class — raise instead. That
    includes the TRAINING knobs (r11 advice): the stored codebooks were
    fit with a specific sampling / iteration regime; a caller requesting
    a different one would get results trained differently than
    requested while the docstrings promise bit-identical-to-rebuild
    serving."""
    got = (meta["kind"], meta["m"], meta["n_codes"], meta["dim"])
    want = (kind, m, n_codes, dim)
    if got != want:
        raise ValueError(
            f"persisted index (kind, m, n_codes, dim)={got} does not match "
            f"requested {want}; rebuild the index or match the parameters"
        )
    knobs = {
        "iterations": iterations,
        "sample_num": sample_num,
        "sample_den": sample_den,
        "coarse_sample_num": coarse_sample_num,
        "coarse_sample_den": coarse_sample_den,
    }
    for key, val in knobs.items():
        if val is None:
            continue
        stored = meta.get(key)
        if stored != val:
            raise ValueError(
                f"persisted index was trained with {key}={stored!r}, "
                f"caller requested {val!r}; serving it would silently "
                "return results from a differently-trained index — rebuild "
                "or pass the stored value"
            )


def _cut_and_rerank(
    scored: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    cand: int,
    shards: int,
    id_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """pq_topk/ivfpq_topk's shared tail: the per-query top-``cand`` ADC
    candidates, exact-reranked to the final (query_id, id, cos, rank)."""
    # two-phase candidate cut: per-(query, shard) top-cand, then global
    # per-query top-cand over the <= shards*cand survivors — identical
    # result to a flat per-query window (every global top-cand row is in
    # its shard's top-cand), without the one-task-per-query funnel.
    sharded = scored.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(shards)))
    )
    w1 = Window.partitionBy("query_id", "__shard").orderBy(
        F.col("adc").desc(), F.col(id_col).asc()
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col(id_col).asc())
    cands = (
        sharded.withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= cand)
        .withColumn("r2", F.row_number().over(w2))
        .where(F.col("r2") <= cand)
        .select("query_id", id_col)
    )

    # exact rerank: candidates x queries rows only, vectors joined back by
    # id. Norms take the same zero-norm->1 guard _normalized applies, so
    # an all-zero vector reranks at cos 0 instead of NaN (NaN sorts ABOVE
    # every real cosine under DESC and would hijack rank 1); the twin's
    # rerank CTE mirrors the CASE.
    zn = lambda c: F.when(c == 0, F.lit(1.0)).otherwise(c)  # noqa: E731
    c_vec = corpus.select(F.col(id_col), _as_double(vec_col).alias("cv")).withColumn(
        "cn2", zn(_norm(F.col("cv"), dim))
    )
    q_vec = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qn2", zn(_norm(F.col("qv"), dim)))
    exact = (
        cands.join(c_vec, on=id_col)
        .join(F.broadcast(q_vec), on="query_id")
        .select(
            "query_id",
            id_col,
            (
                _dot_unrolled(F.col("qv"), F.col("cv"), dim)
                / (F.col("qn2") * F.col("cn2"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return exact.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    n_codes: int = 8,
    iterations: int = 2,
    candidates: int | None = None,
    shards: int = 32,
    sample_num: int = 1,
    sample_den: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    index_path: str | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)): split
    each L2-NORMALIZED vector into ``m`` sub-vectors, k-means each
    subspace into ``n_codes`` centroids, store each corpus vector as m
    small codes, and score query-to-corpus dot products by summing the
    per-subspace query x codebook-centroid dots (asymmetric distance
    computation — on normalized vectors dot IS cosine). The ADC top
    ``candidates`` per query are exact-reranked to the final top-k.

    Returns (query_id, vec_id, cos, rank) — the s1/s2/s3 shape; `cos` is
    the EXACT cosine of the reranked survivors.

    100 TB posture: this is the memory story of large-scale ANN — the
    scan side carries ``m`` small ints per vector (codes), never the
    dim-double embedding; the ADC scan is a pure map-side kernel with
    the codebooks (m x n_codes x sub_dim doubles) in its closure. The
    per-query candidate cut is TWO-PHASE top-k — per (query, shard) first,
    then over the shards x candidates survivors — so no task ever sorts a
    whole corpus partition per query (the t7 lesson; a flat per-query
    window would funnel the corpus through one task per query). Codebook
    training subsamples via the d8 md5 predicate (``sample_num/den``),
    and only that sample reaches the driver. Exact rerank
    touches only candidates x queries rows, joined back by id. Composition
    with an IVF coarse quantizer (scan only probed lists) is the standard
    next step at extreme scale; flat-PQ here is the published base form.

    Cross-engine exactness: normalization, L2 argmin encode, ADC sums and
    the final cosines are all IEEE-correctly-rounded chains in the twin's
    evaluation order, and k-means averaging uses the quantized-BIGINT
    trick — so ``pq_topk_sql`` replays the WHOLE procedure and
    hash-matches, like s3/d8.

    Training runs on the driver over one bounded fetch of the md5
    sample (``_train_quantizers``: more than ``MAX_TRAIN_ROWS`` training
    rows raise — raise ``sample_den``); the encode and the ADC scan run
    as map-only Arrow kernels (``_encode_vector``, ``_adc_scan_vector``).
    All are BIT-IDENTICAL to the twin with plan size O(1) in
    ``n_codes``. The argmins are ``exact_chains.l2_argmin``: one BLAS
    product per subspace, certified by a float error bound, the
    dimension-loop chain rerun on the rows it cannot certify — so the PQ
    paper's k*=256 codebooks run at BLAS speed on this exact path.

    The query set is collected to the driver for the scan kernel's
    closure: more than ``MAX_SERVE_QUERIES`` queries raise.

    ``index_path`` (r10 verdict #3): serve from a ``build_pq_index``
    artifact instead of re-training — codebooks load driver-side
    (m*n_codes rows) and the code table is the stored parquet; training
    and encoding disappear from the query path. Results are
    bit-identical to the rebuild form (parquet float64 is exact), so
    ``pq_topk_sql`` remains the oracle; (m, n_codes, dim) must match
    the stored meta (raises otherwise). ``corpus`` is still required —
    the exact rerank fetches survivor vectors back by id (the index
    stores codes, never embeddings: the PQ memory story) — and its id
    column must have the build corpus's type: the code table is read
    with that type given (no footer inference), so a different one
    fails the scan."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if dim % m != 0:
        raise ValueError(f"dim={dim} must be divisible by m={m}")
    if n_codes < 1:
        raise ValueError(f"n_codes must be >= 1, got {n_codes}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if sample_num < 1 or sample_den < 1 or sample_num > sample_den:
        raise ValueError("sample fraction must satisfy 1 <= sample_num <= sample_den")
    cand = 4 * k if candidates is None else int(candidates)
    if cand < k:
        raise ValueError(f"candidates={cand} must be >= k={k}")
    sub_dim = dim // m

    if index_path is not None:
        meta, books, _ = read_pq_index(corpus.sparkSession, index_path)
        _check_index_meta(
            meta, "pq", m, n_codes, dim,
            iterations=iterations,
            sample_num=sample_num,
            sample_den=sample_den,
        )
        if meta["id_col"] != id_col:
            raise ValueError(
                f"persisted index id_col={meta['id_col']!r} != {id_col!r}"
            )
        # the codes directory with the schema given: no footer inference
        codes = read_partition_dirs(
            corpus.sparkSession, index_path, ["codes"], assume_exists=True,
            schema=_codes_schema(corpus, id_col, m, ivf=False),
        )
    else:
        books, _ = _train_quantizers(
            corpus, m, n_codes, iterations, sample_num, sample_den, id_col,
            vec_col, dim,
        )
        # encode: per subspace, argmin squared-L2 against the codebook
        # (numpy argmin finds the FIRST minimum -> ties to the lowest
        # cid, the twin's row_number ORDER BY d ASC, cid).
        codes = _encode_vector(corpus, books, None, id_col, vec_col, dim)

    qn = _normalized(queries, id_col, vec_col, dim).select(
        F.col(id_col).alias("query_id"), F.col("vn").alias("qvn")
    )
    # ADC: adc = sum_j dot(q_sub_j, codebook_j[code_j]) in fixed j order,
    # ONE Arrow kernel with the codebooks and the (small, collected)
    # query set in the task closure; bit-identical doubles by the
    # kernel's dimension-loop order (see _adc_scan_vector).
    q_rows = [
        (r["query_id"], r["qvn"])
        for r in _collect_bounded(qn, MAX_SERVE_QUERIES, "query set")
    ]
    scored = _adc_scan_vector(
        codes, books, q_rows, m, sub_dim, id_col, dim,
        qn.schema["query_id"].dataType.simpleString(),
    )

    return _cut_and_rerank(
        scored, corpus, queries, k, cand, shards, id_col, vec_col, dim
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    iterations: int = 2,
    candidates: int | None = None,
    shards: int = 32,
    sample_num: int = 1,
    sample_den: int = 1,
    coarse_sample_num: int = 1,
    coarse_sample_den: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    index_path: str | None = None,
) -> DataFrame:
    """IVF + PQ ANN top-k (s6, round 10 — the s5 docstring's "standard
    next step", Jégou et al. 2011 §IV's IVFADC structure): a coarse
    k-means quantizer (s3's ``ivf_build_centroids``) partitions the
    corpus into ``n_lists`` inverted lists; each query probes its
    ``n_probe`` nearest lists and ADC-scans ONLY those lists' PQ codes;
    survivors exact-rerank to the final top-k. Returns (query_id,
    vec_id, cos, rank) — the s1/s2/s3/s5 shape.

    Divergence from the paper, documented: codes encode the VECTOR, not
    the residual (x - coarse_centroid) — FAISS's ``by_residual=False``
    variant. Residual encoding refines quantization error but entangles
    every codebook with the coarse assignment; the non-residual form
    keeps the coarse stage a pure scan-pruner, reuses s5's codebooks
    verbatim, and keeps the whole procedure IEEE-replayable by the
    DuckDB twin (``ivfpq_topk_sql`` — full-procedure oracle like s3/s5).

    100 TB posture — this is where flat PQ stops and IVFADC starts:
    s5's ADC is corpus x queries work no matter how small the codes;
    here each query touches ~n_probe/n_lists of the codes (the inverted
    lists are the partition key of the stored code table, so a probe is
    a partition-pruned scan — proven from selected-partition counts in
    tests/test_serving_table.py, the serving table's discipline), and
    the scan row stays m small ints. The
    memory story is unchanged (codes + list id per vector); recall is
    tuned by n_probe like every published IVF deployment. The economics
    are index-build vs per-query: training, encoding and list
    assignment are a fixed build cost that ``build_pq_index`` pays once,
    and each query then scans ~n_probe/n_lists of the codes — for small
    batches without an index, flat ``pq_topk`` is cheaper (the
    t2_s5/s6 *_q50_* bench pair records the regime where IVF earns its
    build). Coarse training/assignment cost is n_lists-proportional —
    the coarse assignment and the PQ encode run through the Arrow
    kernels and the Lloyd rounds through the same chains on the driver,
    whose certified BLAS argmax/argmin is BIT-IDENTICAL to the twin (oracle-safe at paper-scale list counts; see
    ``pq_topk``). ``coarse_sample_num/den``
    trains the coarse quantizer on the d8 md5
    subsample instead of the full corpus (FAISS likewise trains IVF on
    a sample). Both quantizers train on the driver from ONE bounded
    fetch of their samples (``_train_quantizers``): more than
    ``MAX_TRAIN_ROWS`` training rows raise. Final list ASSIGNMENT always
    covers the full corpus; the sample knobs mirror in the twin, so the
    exact-mode oracle stays exact.

    ``index_path`` (r10 verdict #3): serve from a ``build_pq_index(...,
    n_lists=...)`` artifact — coarse centroids + codebooks load
    driver-side, the cid-partitioned code table is the stored parquet,
    and the (O(queries x n_probe), driver-bounded) probe set names the
    directories read: the scan lists and reads exactly the probed list
    directories (asserted from selectedPartitions in tests) — no
    training, no assignment, no rebuild on the query path. Results
    bit-identical to the rebuild form; ``ivfpq_topk_sql`` remains the
    full-procedure oracle. ``corpus`` still required for the exact
    rerank fetch-back, and its id column must have the build corpus's
    type: the code table is read with that type given (no footer
    inference), so a different one fails the scan.

    The raw query vectors are collected to the driver once; their probe
    lists (``_probe_lists``) and normalized vectors are computed there
    with the exact chains. More than ``MAX_SERVE_QUERIES`` queries
    raise.

    Reference attribution: the reference has no vector search at all
    (SURVEY §2.6); s1-s6 exist for the LLM-pipeline mandate."""
    if n_lists < 1:
        raise ValueError(f"n_lists must be >= 1, got {n_lists}")
    if n_probe < 1 or n_probe > n_lists:
        raise ValueError(
            f"n_probe must be in [1, n_lists={n_lists}], got {n_probe}"
        )
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if dim % m != 0:
        raise ValueError(f"dim={dim} must be divisible by m={m}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if sample_num < 1 or sample_den < 1 or sample_num > sample_den:
        raise ValueError("sample fraction must satisfy 1 <= sample_num <= sample_den")
    if (
        coarse_sample_num < 1
        or coarse_sample_den < 1
        or coarse_sample_num > coarse_sample_den
    ):
        raise ValueError(
            "coarse sample fraction must satisfy 1 <= coarse_sample_num "
            "<= coarse_sample_den"
        )
    cand = 4 * k if candidates is None else int(candidates)
    if cand < k:
        raise ValueError(f"candidates={cand} must be >= k={k}")
    sub_dim = dim // m
    spark = corpus.sparkSession

    if index_path is not None:
        meta, books, coarse = read_pq_index(spark, index_path)
        _check_index_meta(
            meta, "ivfpq", m, n_codes, dim,
            iterations=iterations,
            sample_num=sample_num,
            sample_den=sample_den,
            coarse_sample_num=coarse_sample_num,
            coarse_sample_den=coarse_sample_den,
        )
        if meta["n_lists"] != n_lists:
            raise ValueError(
                f"persisted index n_lists={meta['n_lists']} != {n_lists}"
            )
        if meta["id_col"] != id_col:
            raise ValueError(
                f"persisted index id_col={meta['id_col']!r} != {id_col!r}"
            )
        assert coarse is not None
    else:
        # ---- coarse quantizer (s3's deterministic k-means) + PQ
        # codebooks (s5's machinery), trained on the driver from one
        # bounded fetch of both samples
        books, coarse = _train_quantizers(
            corpus, m, n_codes, iterations, sample_num, sample_den, id_col,
            vec_col, dim, n_lists, coarse_sample_num, coarse_sample_den,
        )
        # the stored artifact at scale: codes PARTITIONED BY the list id —
        # a probe below prunes to n_probe partitions (build_pq_index
        # writes exactly this shape; index_path serves it)
        coded_lists = _encode_vector(corpus, books, coarse, id_col, vec_col, dim)

    # ---- query probes: n_probe nearest coarse lists per query ----------
    # one collect of the raw query vectors; the probe lists and the
    # normalized vectors (``_normalized``'s chain: dim-prefix norm, zero
    # norm divides by 1) are computed from it on the driver
    import numpy as np

    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("v"))
    q_raw = _collect_bounded(q, MAX_SERVE_QUERIES, "query set")
    nv, V, probes = _probe_lists([r["v"] for r in q_raw], coarse, dim, n_probe)
    qvn = V / np.where(nv == 0, 1.0, nv)[:, None]
    q_rows = [(r["query_id"], list(x)) for r, x in zip(q_raw, qvn)]
    if index_path is not None:
        # static probe pruning: the probed cid set is known BEFORE the
        # scan, so only the probed list directories are listed and read
        # (a probed list with no directory holds no codes), with the
        # schema given: no listing of all n_lists directories, no footer
        # inference
        ddl = _codes_schema(corpus, id_col, m, ivf=True)
        coded_lists = read_partition_dirs(
            spark, f"{index_path}/codes",
            [f"cid={c}" for c in sorted({c for cids in probes for c in cids})],
            schema=ddl,
        )
        if coded_lists is None:
            coded_lists = spark.createDataFrame([], ddl)

    # ---- ADC over probed lists only (vs s5's full scan) -----------------
    # the probed-list restriction runs INSIDE the Arrow kernel alongside
    # the codebooks (see _adc_scan_vector)
    scored = _adc_scan_vector(
        coded_lists, books, q_rows, m, sub_dim, id_col, dim,
        q.schema["query_id"].dataType.simpleString(),
        probes=[(qi, cid) for qi, cids in enumerate(probes) for cid in cids],
    )
    return _cut_and_rerank(
        scored, corpus, queries, k, cand, shards, id_col, vec_col, dim
    )


def _l2_sql(a: str, b: str, n: int, a_off: int = 0) -> str:
    """DuckDB squared-L2 between ``a[a_off+1 .. a_off+n]`` (1-based) and
    ``b[1..n]`` — list_sum's left-to-right sum is the chain of
    ``exact_chains.l2_argmin``."""
    return (
        f"list_sum(list_transform(range(1, {n + 1}), "
        f"i -> ({a}[i + {a_off}] - {b}[i]) * ({a}[i + {a_off}] - {b}[i])))"
    )


def _dot_off_sql(a: str, b: str, n: int, a_off: int = 0) -> str:
    return (
        f"list_sum(list_transform(range(1, {n + 1}), "
        f"i -> {a}[i + {a_off}] * {b}[i]))"
    )


def ivfpq_topk_sql(
    table: str = "embeddings",
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    iterations: int = 2,
    candidates: int | None = None,
    sample_num: int = 1,
    sample_den: int = 1,
    coarse_sample_num: int = 1,
    coarse_sample_den: int = 1,
    query_pred: str = "vec_id < 5",
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of ``ivfpq_topk``: the s3 coarse-k-means
    CTE chain (``_kmeans_ctes``) + final list assignment + query probes,
    composed with the s5 PQ chain (per-subspace k-means, argmin encode,
    ADC, candidate cut, exact rerank) — the ADC's FROM restricts to
    probed lists via ``JOIN probes ON probes.cid = lists.cid`` instead of
    s5's CROSS JOIN. Every double is the bit-identical IEEE chain, so the
    full procedure replays and hash-matches."""
    if n_lists < 1:
        raise ValueError(f"n_lists must be >= 1, got {n_lists}")
    if n_probe < 1 or n_probe > n_lists:
        raise ValueError(
            f"n_probe must be in [1, n_lists={n_lists}], got {n_probe}"
        )
    base = pq_topk_sql(
        table=table,
        k=k,
        m=m,
        n_codes=n_codes,
        iterations=iterations,
        candidates=candidates,
        sample_num=sample_num,
        sample_den=sample_den,
        query_pred=query_pred,
        dim=dim,
    )
    if (
        coarse_sample_num < 1
        or coarse_sample_den < 1
        or coarse_sample_num > coarse_sample_den
    ):
        raise ValueError(
            "coarse sample fraction must satisfy 1 <= coarse_sample_num "
            "<= coarse_sample_den"
        )
    coarse_src = "e"
    sample_ctes: list[str] = []
    if coarse_sample_den > 1:
        sample_ctes.append(
            "ce AS (SELECT * FROM e WHERE "
            + _md5_sample_pred_sql("vec_id", coarse_sample_num, coarse_sample_den)
            + ")"
        )
        coarse_src = "ce"
    kmeans, prev = _kmeans_ctes(n_lists, iterations, dim, source=coarse_src)
    coarse_ctes = ",\n".join(
        sample_ctes
        + kmeans
        + [
            f"""lists AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos_sql('e.v', 's.cv', dim)} DESC, s.cid
               ) AS rk
        FROM e CROSS JOIN {prev} s
    ) WHERE rk = 1
)""",
            f"""q_probes AS (
    SELECT query_id, cid FROM (
        SELECT qe.vec_id AS query_id, s.cid,
               row_number() OVER (
                   PARTITION BY qe.vec_id
                   ORDER BY {_cos_sql('qe.v', 's.cv', dim)} DESC, s.cid
               ) AS rk
        FROM (SELECT * FROM e WHERE {query_pred}) qe CROSS JOIN {prev} s
    ) WHERE rk <= {n_probe}
)""",
        ]
    )
    # splice the coarse chain in after the shared e/en CTEs and restrict
    # s5's scored CTE to probed lists (same adc expression, probed FROM).
    # Explicit raises, not asserts (r10 advice): under ``python -O`` an
    # assert is stripped, and a pq_topk_sql refactor that drifts these
    # markers would silently return flat-PQ SQL labeled as the IVF twin.
    marker = "codes AS (SELECT"
    if marker not in base:
        raise RuntimeError(
            "ivfpq_topk_sql splice marker drifted: pq_topk_sql no longer "
            f"contains {marker!r} — update the splice to match"
        )
    base = base.replace(marker, coarse_ctes + ",\n" + marker, 1)
    old_scored = "AS adc FROM codes c CROSS JOIN qn q "
    if old_scored not in base:
        raise RuntimeError(
            "ivfpq_topk_sql splice marker drifted: pq_topk_sql no longer "
            f"contains {old_scored!r} — update the splice to match"
        )
    base = base.replace(
        old_scored,
        "AS adc FROM codes c JOIN lists l ON l.vec_id = c.vec_id "
        "JOIN q_probes p ON p.cid = l.cid "
        "JOIN qn q ON q.query_id = p.query_id ",
        1,
    )
    return base


def pq_topk_sql(
    table: str = "embeddings",
    k: int = 10,
    m: int = 4,
    n_codes: int = 8,
    iterations: int = 2,
    candidates: int | None = None,
    sample_num: int = 1,
    sample_den: int = 1,
    query_pred: str = "vec_id < 5",
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of ``pq_topk``: replays normalization, the m per-
    subspace deterministic k-means chains (md5-ordered seeding, L2
    assignment, quantized-BIGINT averaging), the argmin encode, the ADC
    scoring, the candidate cut and the exact rerank as ONE chained-CTE
    statement. The candidate cut is a flat per-query window here — at
    DuckDB's oracle scale that is the same row set the Spark side's
    two-phase cut selects (per-shard top-c always covers global top-c),
    so the compared output is identical."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if dim % m != 0:
        raise ValueError(f"dim={dim} must be divisible by m={m}")
    if n_codes < 1:
        raise ValueError(f"n_codes must be >= 1, got {n_codes}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if sample_num < 1 or sample_den < 1 or sample_num > sample_den:
        raise ValueError("sample fraction must satisfy 1 <= sample_num <= sample_den")
    cand = 4 * k if candidates is None else int(candidates)
    if cand < k:
        raise ValueError(f"candidates={cand} must be >= k={k}")
    sub = dim // m
    quant = int(_IVF_QUANT)
    dot_full = "list_sum(list_transform(range(1, {n}), i -> {a}[i] * {b}[i]))".format

    ctes = [
        f"e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table})",
        f"""en AS (
    SELECT vec_id, list_transform(v, x -> x / nv) AS vn FROM (
        SELECT vec_id, v, CASE WHEN n0 = 0 THEN 1.0 ELSE n0 END AS nv FROM (
            SELECT vec_id, v, sqrt({dot_full(n=dim + 1, a='v', b='v')}) AS n0 FROM e
        )
    )
)""",
    ]
    if sample_den > 1:
        ctes.append(
            f"""train AS (
    SELECT * FROM en
    WHERE {_md5_sample_pred_sql('vec_id', sample_num, sample_den)}
)"""
        )
        train = "train"
    else:
        train = "en"

    code_joins = []
    adc_joins = []
    adc_terms = []
    for j in range(m):
        off = j * sub
        sj = f"s{j}"
        slice_j = f"list_transform(range({off + 1}, {off + sub + 1}), i -> vn[i])"
        ctes.append(
            f"""seeds_{sj} AS (
    SELECT CAST(rn - 1 AS INT) AS cid, {slice_j} AS cv FROM (
        SELECT vn, row_number() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM {train}
    ) WHERE rn <= {n_codes}
)"""
        )
        prev = f"seeds_{sj}"
        for it in range(1, iterations + 1):
            ctes.append(
                f"""assign{it}_{sj} AS (
    SELECT vec_id, vn, cid FROM (
        SELECT t.vec_id, t.vn, s.cid,
               row_number() OVER (
                   PARTITION BY t.vec_id
                   ORDER BY {_l2_sql('t.vn', 's.cv', sub, off)} ASC, s.cid
               ) AS rk
        FROM {train} t CROSS JOIN {prev} s
    ) WHERE rk = 1
)"""
            )
            ctes.append(
                f"""cent{it}_{sj} AS (
    SELECT s.cid, COALESCE(u.cv, s.cv) AS cv
    FROM {prev} s LEFT JOIN (
        SELECT cid, list(mv ORDER BY i) AS cv FROM (
            SELECT cid, i,
                   CAST(SUM(CAST(floor(vn[i + {off}] * {quant}.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) / {quant}.0 AS mv
            FROM assign{it}_{sj} CROSS JOIN range(1, {sub + 1}) AS t(i)
            GROUP BY cid, i
        ) GROUP BY cid
    ) u ON u.cid = s.cid
)"""
            )
            prev = f"cent{it}_{sj}"
        ctes.append(
            f"""code_{sj} AS (
    SELECT vec_id, cid AS code{j} FROM (
        SELECT en.vec_id, s.cid,
               row_number() OVER (
                   PARTITION BY en.vec_id
                   ORDER BY {_l2_sql('en.vn', 's.cv', sub, off)} ASC, s.cid
               ) AS rk
        FROM en CROSS JOIN {prev} s
    ) WHERE rk = 1
)"""
        )
        code_joins.append(f"JOIN code_{sj} USING (vec_id)")
        adc_joins.append(f"JOIN {prev} cb{j} ON cb{j}.cid = c.code{j}")
        adc_terms.append(_dot_off_sql("q.qvn", f"cb{j}.cv", sub, off))

    ctes.append(
        "codes AS (SELECT en.vec_id, "
        + ", ".join(f"code{j}" for j in range(m))
        + f" FROM en {' '.join(code_joins)})"
    )
    ctes.append(
        f"qn AS (SELECT vec_id AS query_id, vn AS qvn FROM en WHERE {query_pred})"
    )
    ctes.append(
        "scored AS (SELECT q.query_id, c.vec_id, "
        + " + ".join(adc_terms)
        + f" AS adc FROM codes c CROSS JOIN qn q {' '.join(adc_joins)})"
    )
    ctes.append(
        f"""cand AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id, row_number() OVER (
            PARTITION BY query_id ORDER BY adc DESC, vec_id ASC) AS rn
        FROM scored
    ) WHERE rn <= {cand}
)"""
    )
    # rerank cosine with the zero-norm->1 guard (mirrors the Spark side:
    # an all-zero vector scores 0, never NaN)
    dqc = dot_full(n=dim + 1, a="qe.v", b="ce.v")
    dqq = dot_full(n=dim + 1, a="qe.v", b="qe.v")
    dcc = dot_full(n=dim + 1, a="ce.v", b="ce.v")
    guarded = (
        f"{dqc} / ((CASE WHEN sqrt({dqq}) = 0 THEN 1.0 ELSE sqrt({dqq}) END)"
        f" * (CASE WHEN sqrt({dcc}) = 0 THEN 1.0 ELSE sqrt({dcc}) END))"
    )
    ctes.append(
        f"""exact AS (
    SELECT r.query_id, r.vec_id, {guarded} AS cos
    FROM cand r
    JOIN e ce ON ce.vec_id = r.vec_id
    JOIN e qe ON qe.vec_id = r.query_id
)"""
    )
    ctes.append(
        """ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
    ) AS rank
    FROM exact
)"""
    )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank "
        f"FROM ranked WHERE rank <= {k}"
    )

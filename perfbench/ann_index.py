"""``ann_index``: build an IVF-PQ index, then answer a query batch from it.

Batch. The corpus has the shape of the sf0.1 ``embeddings`` table
replicated, as ``bench.py`` replicates it: ``N_BASE`` seeded 64-d base
vectors, each copied ``N_REPLICAS`` times with uniform noise of +-0.1
per element (float32, written as parquet). The sf0.1 table itself is
test data that does not ship with the repository, so the base vectors
are drawn from the seed. Setup computes the exact cosine top-10 of the
first ``N_QUERIES`` vectors with NumPy. The timed operation is the
index build, ``build_pq_index(n_lists=64, m=4, n_codes=256,
sample_den=16, coarse_sample_den=16)``, each into a fresh directory; a
build outlasts a short window, so a window holds one. Nothing is warmed
up first: a batch index job pays its JVM warm-up on every run, so the
first build runs cold, like the job would. One
``ivfpq_topk(..., index_path=...)`` batch of ``N_QUERIES`` queries
follows the window; its top-10 gives the recall, and must repeat
exactly the top-10 of every earlier run of the same seed and inputs.
No ``*_mode``
argument is passed.

The build is the timed operation, not the query batch: a batch of 50
queries took as long as one of 10, and spread wider from run to run.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np

from common import JobCounter, Outcome, timed, tree_stats
from harness import cpu_seconds

N_BASE = 2_000  # rows of the sf0.1 embeddings table
# 20,000 vectors. At 50 replicas (100,000 vectors) one run took 58-82 s
# on 4 cores, too long for the run budget, and the cold build's CPU time
# spread 0.19 over five seeds.
N_REPLICAS = 10
NOISE = 0.1  # per-element noise amplitude of each replica, as in bench.py
N_CHECK = 1_000
N_QUERIES = 50
DIM = 64
K = 10
INDEX = dict(n_lists=64, m=4, n_codes=256, sample_den=16, coarse_sample_den=16)
MIN_RECALL = 0.3  # far below what this index reaches; catches a broken search


def make_vectors(seed: int, n_base: int, replicas: int) -> np.ndarray:
    """``n_base * replicas`` float32 vectors: seeded unit-scale base
    vectors, each repeated ``replicas`` times with its own uniform noise.
    Replica ``r`` of base ``b`` is row ``r * n_base + b``."""
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n_base, DIM)) / np.sqrt(DIM)
    noise = rng.uniform(-NOISE, NOISE, size=(replicas, n_base, DIM))
    return (base[None, :, :] + noise).reshape(-1, DIM).astype(np.float32)


def exact_topk(x: np.ndarray, n_queries: int, k: int) -> dict[int, list[int]]:
    """Exact cosine top-k of the first ``n_queries`` rows over all rows
    (float64, ties by id ascending) — the ranking ``cosine_topk`` defines."""
    v = x.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    scores = v[:n_queries] @ v.T
    ids = np.arange(len(v))
    out = {}
    for q in range(n_queries):
        order = np.lexsort((ids, -scores[q]))
        out[q] = [int(i) for i in order[:k]]
    return out


def _write(x: np.ndarray, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    offsets = pa.array(np.arange(0, x.size + 1, DIM, dtype=np.int32))
    table = pa.table({
        "vec_id": pa.array(np.arange(len(x)), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1))),
    })
    pq.write_table(table, path)


def _ids(rows) -> dict[int, list[int]]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append(int(r["vec_id"]))
    return out


def recall(got: dict, want: dict) -> float:
    hits = sum(len(set(got.get(q, [])) & set(ids)) for q, ids in want.items())
    return hits / sum(len(ids) for ids in want.values())


class AnnIndex:
    def __init__(self, ctx):
        self.ctx = ctx
        self.builds = 0
        # top-10 digests of earlier runs, one file per seed, kept across runs
        self.digests = os.path.join(os.path.dirname(ctx.work), "topk")

    def setup(self) -> None:
        from pyspark.sql import functions as F

        ctx = self.ctx
        x = make_vectors(ctx.seed, N_BASE, N_REPLICAS)
        self.exact = exact_topk(x, N_QUERIES, K)
        path = os.path.join(ctx.work, "vectors.parquet")
        _write(x, path)
        self.corpus = ctx.spark.read.parquet(path)
        self.queries = self.corpus.where(F.col("vec_id") < N_QUERIES)
        ctx.rss.sample()

    def _build(self, trace: bool) -> float:
        """Build the index into a fresh directory; returns seconds."""
        from stock_chart_kafka_streams_spark.operators.similarity import build_pq_index

        ctx = self.ctx
        self.builds += 1
        self.index = os.path.join(ctx.work, f"index-{self.builds}")
        if trace:
            with ctx.tracing():
                jobs = JobCounter(ctx.spark).start()
        _, secs = timed(build_pq_index, self.corpus, self.index, **INDEX)
        if trace:
            with ctx.tracing():
                L = ctx.layers
                L["operators.similarity.build_jobs"], L["operators.similarity.build_tasks"] = jobs.stop()
                files, _, size = tree_stats(self.index)
                L["operators.similarity.index_files"] = files
                L["operators.similarity.index_bytes"] = size
        return secs

    def _query(self) -> dict:
        from stock_chart_kafka_streams_spark.operators.similarity import ivfpq_topk

        rows = ivfpq_topk(
            self.corpus, self.queries, k=K, n_probe=8, index_path=self.index, **INDEX
        ).collect()
        return _ids(rows)

    def _check_repeat(self, digest: str) -> list:
        """The top-10 of this run must equal that of every earlier run of
        the same seed and inputs: the first run records its digest, later
        runs compare with it."""
        os.makedirs(self.digests, exist_ok=True)
        inputs = repr((N_BASE, N_REPLICAS, NOISE, N_QUERIES, K, sorted(INDEX.items())))
        key = hashlib.sha256(inputs.encode()).hexdigest()[:8]
        path = os.path.join(self.digests, f"seed-{self.ctx.seed}-{key}.txt")
        if os.path.exists(path):
            with open(path) as f:
                first = f.read().strip()
            if first != digest:
                return [f"ann_index: top-10 digest {digest} differs from {first} "
                        f"of an earlier run of seed {self.ctx.seed}"]
            return []
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(digest + "\n")
        os.replace(tmp, path)
        return []

    def measure(self, seconds: float, trace: bool) -> Outcome:
        ctx = self.ctx
        builds = []
        cpu0 = cpu_seconds()
        t_end = time.perf_counter() + seconds
        # a build takes longer than a short window: start one only if it
        # should end in time, but always one
        while not builds or time.perf_counter() + statistics.median(builds) <= t_end:
            builds.append(self._build(trace))
        cpu_ms = (cpu_seconds() - cpu0) * 1000.0 / len(builds)
        if trace:
            with ctx.tracing():
                counter = JobCounter(ctx.spark).start()
        ids, query_s = timed(self._query)
        if trace:
            with ctx.tracing():
                ctx.layers["operators.similarity.query_jobs"] = counter.stop()[0]
        self.recall = recall(ids, self.exact)
        digest = hashlib.sha256(repr(sorted(ids.items())).encode()).hexdigest()[:16]
        checks = self._check_repeat(digest)
        if self.recall < MIN_RECALL:
            checks.append(f"ann_index: recall@10 {self.recall:.3f} < {MIN_RECALL}")
        ctx.rss.sample()
        build_s = statistics.median(builds)
        named = {
            "index_build_s": (build_s, "s"),
            "index_builds": (len(builds), "count"),
            "index_build_cpu_s": (cpu_ms / 1000.0, "s"),
            "query_batch_s": (query_s, "s"),
            "recall_at_10": (self.recall, "ratio"),
            "failed_ratio": (len(checks) / (len(builds) + 1), "ratio"),
        }
        return Outcome(
            e2e={"op_cpu_ms": cpu_ms},
            named=named,
            attempted=len(builds) + 1,
            failed=0,
            checks_failed=checks,
            conditions={"topk_digest": digest},
        )

    def finish(self) -> list:
        """Check the exact reference against the engine's own exact
        search on a small corpus."""
        from pyspark.sql import functions as F

        from stock_chart_kafka_streams_spark.operators.similarity import cosine_topk

        small = make_vectors(self.ctx.seed + 1, N_CHECK, 1)
        path = os.path.join(self.ctx.work, "check.parquet")
        _write(small, path)
        corpus = self.ctx.spark.read.parquet(path)
        got = _ids(cosine_topk(corpus, corpus.where(F.col("vec_id") < 10), k=K).collect())
        if got != exact_topk(small, 10, K):
            return ["ann_index: cosine_topk differs from the exact reference"]
        return []

    def close(self) -> None:
        pass

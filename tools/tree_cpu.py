"""CPU of one cold ``build_pq_index`` over the whole process tree.

Usage: python tools/tree_cpu.py [seed]

Builds the ``ann_index`` benchmark's index once (its input and
parameters, imported from ``perfbench/ann_index.py``) in a fresh
session, and prints the user+system CPU seconds the build cost in the
driver process, the JVM, and the Python workers, as one JSON line.

perfbench's ``op_cpu_ms`` walks ``/proc/<pid>/task/<pid>/children``,
which lists only the children of each process's main thread. The JVM
forks the PySpark daemon from another thread, so the Python workers are
missing there. This script walks the children of every thread.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from ann_index import INDEX, N_BASE, N_REPLICAS, _write, make_vectors  # noqa: E402


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds so far of this process's tree, by role: this process
    ("driver"), ``java`` processes ("jvm"), everything else ("workers").
    Each process counts its own time and that of the children it reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += _children(pid)
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        role = "driver" if pid == os.getpid() else "jvm" if comm == "java" else "workers"
        out[role] += sum(int(v) for v in fields[11:15]) / tick
    return out


def main() -> None:
    from stock_chart_kafka_streams_spark.operators.similarity import build_pq_index
    from stock_chart_kafka_streams_spark.session import get_spark

    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 101
    # perfbench runs Spark on the machine's cores, not get_spark's default 32
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark(app_name="tree-cpu")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        path = os.path.join(work, "vectors.parquet")
        _write(make_vectors(seed, N_BASE, N_REPLICAS), path)
        corpus = spark.read.parquet(path)
        before = tree_cpu()
        t0 = time.perf_counter()
        build_pq_index(corpus, os.path.join(work, "index"), **INDEX)
        wall = time.perf_counter() - t0
        after = tree_cpu()
    spark.stop()
    cpu = {k: round(after[k] - before[k], 2) for k in after}
    cpu["total"] = round(sum(cpu.values()), 2)
    print(json.dumps({"seed": seed, "build_s": round(wall, 2), "cpu_s": cpu}))


if __name__ == "__main__":
    main()

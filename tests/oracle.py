"""Order-insensitive Spark-vs-DuckDB comparison, mirroring the driver's
CORRECTNESS harness (row count + column names + value hash after sorting
columns by name, doubles rounded to 9dp — FIXTURES.md F5), and the
bit-exact form the ANN kernels are held to against their twins."""

from __future__ import annotations

import math
import struct

import pandas as pd


def _canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        canon_row = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                canon_row.append(None)
            elif isinstance(v, float):
                canon_row.append(round(v, 9))
            elif isinstance(v, pd.Timestamp):
                canon_row.append(v.floor("us").isoformat())
            elif hasattr(v, "item"):  # numpy scalar
                canon_row.append(v.item())
            else:
                canon_row.append(v)
        rows.append(tuple(canon_row))
    return sorted(rows, key=repr)


def assert_matches_oracle(spark_df, duck_con, sql: str) -> None:
    got = spark_df.toPandas()
    want = duck_con.sql(sql).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"column mismatch: spark={sorted(got.columns)} duckdb={sorted(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} duckdb={len(want)}"
    cg, cw = _canon(got), _canon(want)
    for i, (a, b) in enumerate(zip(cg, cw)):
        assert a == b, f"row {i} differs:\n  spark : {a}\n  duckdb: {b}"


# ---------------------------------------------------------------------------
# bit-exact comparison: the ANN kernels against their DuckDB twins
# ---------------------------------------------------------------------------


def bits(v):
    """``v`` with every double replaced by its IEEE-754 bit pattern (every
    NaN the same token), recursing into lists and tuples, so that ``==``
    compares doubles bit for bit with NaN equal to NaN."""
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", struct.unpack("<q", struct.pack("<d", v))[0])
    if isinstance(v, (list, tuple)):
        return tuple(bits(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalar or array
        return bits(v.tolist())
    return v


def assert_bits_equal(got, want) -> None:
    """Order-insensitive row comparison, doubles bit for bit."""
    g = sorted((bits(tuple(r)) for r in got), key=repr)
    w = sorted((bits(tuple(r)) for r in want), key=repr)
    assert len(g) == len(w), f"row count: got={len(g)} want={len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        assert a == b, f"row {i} differs:\n  got : {a}\n  want: {b}"


def assert_matches_twin_bits(spark_df, duck_con, sql: str) -> None:
    """``spark_df`` equals the DuckDB twin's result: same column names,
    same rows, every double bit for bit."""
    cols = sorted(spark_df.columns)
    got = [tuple(r[c] for c in cols) for r in spark_df.collect()]
    res = duck_con.execute(sql)
    names = [d[0] for d in res.description]
    assert sorted(names) == cols, f"columns: spark={cols} duckdb={sorted(names)}"
    want = [tuple(row[names.index(c)] for c in cols) for row in res.fetchall()]
    assert want, "the twin returned no rows; the comparison would be empty"
    assert_bits_equal(got, want)


def register_vectors(duck_con, name: str, rows) -> None:
    """Register ``(vec_id, embedding)`` rows as DuckDB view ``name``
    (BIGINT, DOUBLE[]; NaN stays NaN) so a twin can read them through its
    ``table=`` argument."""
    import pyarrow as pa

    duck_con.register(
        name,
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float64())),
            }
        ),
    )

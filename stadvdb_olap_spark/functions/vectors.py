"""Vector column expressions for embedding similarity search.

Dense vectors are plain ``array<float>`` columns; all math is JVM-side
higher-order functions over double-widened elements with a PINNED
left-to-right summation order, so the DuckDB oracle (``*_sql`` twins using
``list_reduce``) reproduces every result bit-for-bit.

At 100 TB scale these expressions run inside whole-stage codegen per row —
no Python, no UDF serialization. For maximum throughput on very wide
vectors a Pandas-UDF/numpy batch variant is provided in
operators/similarity.py; the expression form here is the correctness
reference and the oracle-checkable path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


#: Width of the ``embeddings`` fixture's vectors: the ``dim`` every
#: catalog oracle passes to the ``*_sql`` builders below.
EMB_DIM = 64


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


import re as _re

_IDENT = _re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _ident(col) -> str | None:
    """Backtick-quoted name when ``col`` is a plain column name, else None
    (Column objects keep the Column-builder path)."""
    if isinstance(col, str) and _IDENT.match(col):
        return f"`{col}`"
    return None


def dot_spark_sql(a: str, b: str) -> str:
    """Spark-SQL twin of :func:`dot` — identical tree, one parse. Used to
    cut per-query plan-build driver time (each py4j Column op costs ~1 ms;
    a dot/cosine tree is dozens of them)."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-to-right dot product in double precision."""
    ia, ib = _ident(a), _ident(b)
    if ia is not None and ib is not None:
        return F.expr(dot_spark_sql(ia, ib))
    prods = F.zip_with(
        _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dot_sql(a: str, b: str, dim: int | None = None) -> str:
    """DuckDB dot product. With ``dim`` (statically known vector width)
    the fold is UNROLLED into the left-associative sum
    ``0.0 + a[1]*b[1] + a[2]*b[2] + ...`` — the exact IEEE op sequence
    of the list_reduce left fold (r13 A/B: bit-identical over every
    fixture row) without DuckDB's per-element lambda interpretation,
    which dominated the vector oracles' sweep wall (~75x on a 64-dim
    signature pass). Pass dim ONLY when every row provably has that
    width: a shorter list would index to NULL and poison the sum (a
    loud certification failure, not a silent drift)."""
    if dim is not None:
        return (
            "("
            + " + ".join(
                ["CAST(0.0 AS DOUBLE)"]
                + [
                    f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
                    for i in range(1, dim + 1)
                ]
            )
            + ")"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, (x, i) -> CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(p, q) -> p + q)"
    )


def l2_norm_spark_sql(a: str) -> str:
    return f"sqrt({dot_spark_sql(a, a)})"


def l2_norm(a: Column | str) -> Column:
    ia = _ident(a)
    if ia is not None:
        return F.expr(l2_norm_spark_sql(ia))
    return F.sqrt(dot(a, a))


def l2_norm_sql(a: str, dim: int | None = None) -> str:
    return f"sqrt({dot_sql(a, a, dim)})"


def cosine_spark_sql(a: str, b: str) -> str:
    return f"({dot_spark_sql(a, b)} / ({l2_norm_spark_sql(a)} * {l2_norm_spark_sql(b)}))"


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity = dot(a,b) / (||a|| * ||b||), all IEEE-ordered."""
    ia, ib = _ident(a), _ident(b)
    if ia is not None and ib is not None:
        return F.expr(cosine_spark_sql(ia, ib))
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_sql(a: str, b: str, dim: int | None = None) -> str:
    return (
        f"({dot_sql(a, b, dim)} / "
        f"({l2_norm_sql(a, dim)} * {l2_norm_sql(b, dim)}))"
    )


def l2_sq_spark_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
        f"* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared euclidean distance, left-to-right double fold (the
    k-means/IVF assignment metric; squared form skips the sqrt without
    changing any argmin/argsort)."""
    ia, ib = _ident(a), _ident(b)
    if ia is not None and ib is not None:
        return F.expr(l2_sq_spark_sql(ia, ib))
    diffs = F.zip_with(
        _c(a),
        _c(b),
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def l2_sq_sql(a: str, b: str, dim: int | None = None) -> str:
    """DuckDB squared-L2. Same dim-unrolling contract as :func:`dot_sql`."""
    if dim is not None:
        return (
            "("
            + " + ".join(
                ["CAST(0.0 AS DOUBLE)"]
                + [
                    f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
                    f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
                    for i in range(1, dim + 1)
                ]
            )
            + ")"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, (x, i) -> "
        f"(CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
        f"(p, q) -> p + q)"
    )

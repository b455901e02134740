"""Arrow-batched pandas API surface: cogrouped as-of merge, grouped-agg UDF.

Completes the engine's coverage of PySpark's vectorized-Python escape
hatches (mapInPandas and applyInPandas[WithState] are exercised by
operators/similarity.py, operators/packing.py and streaming/stateful.py;
Python UDTFs by functions/udtfs.py):

- ``asof_join_cogrouped``: the SAME as-of semantics as the declarative
  union-timeline plan in plans/advanced_queries.py:asof_join_events_orders,
  implemented with ``DataFrame.groupBy(...).cogroup(...).applyInPandas`` —
  both sides shuffle once on the user key, each key's two groups arrive as
  pandas frames in the same task, and a per-key sorted searchsorted walk
  emits the backward match. The catalog certifies it against the SAME
  DuckDB ASOF JOIN oracle as the declarative twin, so the two paths cannot
  drift apart.
- ``trimmed_mean_grouped``: a pandas Series->scalar GROUPED_AGG UDF
  (k-trimmed mean) — the shape for custom aggregates Spark lacks built-in.
  Arithmetic is exact: money values cross the Arrow boundary as integer
  cents (the grouped-agg path lowers decimals to float64, so decimals
  must not cross it raw), the UDF sums Python ints exactly, and only the
  final single IEEE division leaves integer space (compat.py
  conventions).

Both run as ONE Arrow-batched Python stage after a single key shuffle —
the correct escape-hatch shape at any scale (never row-at-a-time UDFs,
never driver-side loops).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    left_id: str,
    right_val: str,
    out_col: str = "matched_val",
) -> DataFrame:
    """For every left row, the right row with the greatest ``right_ts``
    <= ``left_ts`` for the same key (backward as-of, exact matches
    allowed), as (left_id, left_key, out_col | null).

    The caller must pre-deduplicate the right side to one row per
    (key, ts) so the match is deterministic. Each side is shuffled once
    on its key bucket (below).

    TYPE CONTRACT: ``left_id``, ``left_key`` and ``right_val`` must all
    be integral (the output schema is declared long and missing matches
    use the nullable Int64 pandas dtype); timestamps may be timestamp or
    date. A floating ``right_val`` passes only when every value is
    integral (8.0 becomes 8); a non-integral value (8.5) fails the job
    with pandas' ``TypeError`` rather than being truncated. For
    non-integral keys/values, map to surrogate longs first
    (functions/keys.py) — the declarative twin in advanced_queries has
    no such restriction.

    NULL-KEY CONTRACT: a NULL ``left_key`` matches right rows whose key
    is also NULL, by timestamp like any other key (``merge_asof`` groups
    NaN ``by`` keys together). This is NOT SQL ``ASOF JOIN`` semantics,
    where NULL never equals NULL; filter NULL keys out of either side
    first to get those.

    The cogroup key is a KEY-HASH BUCKET, not the raw key (guide §4:
    coarsen Python groups so Arrow batches are large): cogrouped
    applyInPandas invokes the Python function once per group, so keying
    on the raw user key costs one interpreter crossing + two pandas
    frame constructions per key (~10⁴ calls on the fixture — measured
    ~3x the whole join's useful work). Each bucket's as-of matching is
    one vectorized ``pd.merge_asof(..., by=key)`` — the same
    backward/exact-allowed, greatest-ts-wins semantics, grouped in C.
    Bucket count scales with the session's parallelism, so batches stay
    large while every core gets work at any data size."""

    n_buckets = left.sparkSession.sparkContext.defaultParallelism * 2

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame({left_id: [], left_key: [], out_col: []})
        l = lpdf.assign(__ts=pd.to_datetime(lpdf[left_ts])).sort_values(
            "__ts", kind="mergesort"
        )
        if rpdf.empty:
            matched = pd.array([None] * len(l), dtype="Int64")
        else:
            r = rpdf.assign(
                __ts=pd.to_datetime(rpdf[right_ts]),
                __val=rpdf[right_val].astype("Int64"),
            )[[right_key, "__val", "__ts"]].sort_values(
                "__ts", kind="mergesort"
            )
            m = pd.merge_asof(
                l[[left_id, left_key, "__ts"]],
                r,
                on="__ts",
                left_by=left_key,
                right_by=right_key,
                direction="backward",
                allow_exact_matches=True,
            )
            matched = m["__val"].astype("Int64")
        return pd.DataFrame(
            {
                left_id: l[left_id].to_numpy(),
                left_key: l[left_key].to_numpy(),
                out_col: matched,
            }
        )

    lb = left.withColumn("__b", F.pmod(F.col(left_key), F.lit(n_buckets)))
    rb = right.withColumn("__b", F.pmod(F.col(right_key), F.lit(n_buckets)))
    return (
        lb.groupBy("__b")
        .cogroup(rb.groupBy("__b"))
        .applyInPandas(
            merge,
            schema=f"{left_id} long, {left_key} long, {out_col} long",
        )
    )


def trimmed_mean_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-group k-trimmed mean of a DECIMAL column via a GROUPED_AGG
    pandas UDF: drop the k smallest and k largest values (fewer when the
    group is small, always keeping at least one), then mean the rest.

    Which tied rows fall in the trimmed ends is arbitrary but the KEPT
    MULTISET is not, so the sum — and therefore the result — is
    deterministic. Arrow lowers decimals to float64 on the grouped-agg
    path, so the column is pre-converted to exact integer CENTS (the
    2-decimal money convention); the UDF sums Python ints exactly and the
    single final IEEE division is the only float op anywhere.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean_cents(v: pd.Series) -> float:
        vals = sorted(int(x) for x in v.dropna())
        n = len(vals)
        if n == 0:
            return None
        drop = min(k, (n - 1) // 2)
        kept = vals[drop : n - drop]
        return float(sum(kept)) / (100.0 * len(kept))

    # Spark disallows mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one agg(), so the count is a pandas aggregate too.
    @pandas_udf("long")
    def n_values(v: pd.Series) -> int:
        return int(v.notna().sum())

    cents = (
        (F.col(value_col).cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("__cents")
    )
    return (
        df.select(F.col(group_col), cents)
        .groupBy(group_col)
        .agg(
            n_values("__cents").alias("n_values"),
            trimmed_mean_cents("__cents").alias("trimmed_mean"),
        )
    )

"""Unit tests for semantic-gap operator cases (SURVEY.md §5.2):
pandas-exact title-case, deterministic dedup, merge idempotence and
last-write-wins, ceil-to-cent, mixed date parsing, similarity sanity."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from stadvdb_olap_spark.functions.cleaning import (
    ceil_to_cents,
    parse_datetime_mixed,
    recode,
    titlecase_exact,
)
from stadvdb_olap_spark.operators.dedup import dedup_keep_first
from stadvdb_olap_spark.operators.merge import merge_scd1
from stadvdb_olap_spark.operators.similarity import brute_force_topk, cosine_topk_pandas


def test_titlecase_exact_matches_pandas(spark):
    cases = ["men's apparel", "o'brien  mcdonald", "a1b c-d", "", "HELLO world", "x"]
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    got = [r[0] for r in df.select(titlecase_exact("s")).collect()]
    expected = [c.title() for c in cases]
    assert got == expected


def test_recode_keeps_unmatched(spark):
    df = spark.createDataFrame([("male",), ("m",), ("other",), (None,)], ["g"])
    out = [r[0] for r in df.select(recode("g", {"male": "M", "m": "M"})).collect()]
    assert out == ["M", "M", "other", None]


def test_ceil_to_cents_rounds_up(spark):
    df = spark.createDataFrame([(10.001,), (10.0,), (9.999,)], ["p"])
    out = [r[0] for r in df.select(ceil_to_cents("p")).collect()]
    assert out == [10.01, 10.0, 10.0]


def test_parse_datetime_mixed_formats(spark):
    df = spark.createDataFrame(
        [("1990-01-02",), ("02/03/1991",), ("March 4, 1992",), ("garbage",)], ["d"]
    )
    out = [r[0] for r in df.select(F.to_date(parse_datetime_mixed("d"))).collect()]
    assert out == [
        dt.date(1990, 1, 2),
        dt.date(1991, 2, 3),
        dt.date(1992, 3, 4),
        None,
    ]


def test_dedup_keep_first_deterministic(spark):
    rows = [Row(k="a", v=i) for i in (3, 1, 2)] + [Row(k="b", v=9)]
    df = spark.createDataFrame(rows)
    out = {r["k"]: r["v"] for r in dedup_keep_first(df, ["k"], ["v"]).collect()}
    assert out == {"a": 1, "b": 9}


def test_merge_scd1_semantics_and_idempotence(spark):
    target = spark.createDataFrame(
        [(1, "old", 10.0), (2, "keep", 20.0)], ["id", "name", "bal"]
    )
    source = spark.createDataFrame(
        [(1, "new", 11.0), (3, "ins", 30.0)], ["id", "name", "bal"]
    )
    merged = merge_scd1(target, source, keys=["id"])
    got = {r["id"]: (r["name"], r["bal"]) for r in merged.collect()}
    # update wins, unmatched target kept, new key inserted
    assert got == {1: ("new", 11.0), 2: ("keep", 20.0), 3: ("ins", 30.0)}
    # idempotent: merging the same source again changes nothing
    again = merge_scd1(merged, source, keys=["id"])
    assert {r["id"]: (r["name"], r["bal"]) for r in again.collect()} == got


def test_merge_scd1_null_update_wins(spark):
    target = spark.createDataFrame([(1, "x")], "id long, name string")
    source = spark.createDataFrame([(1, None)], "id long, name string")
    out = merge_scd1(target, source, keys=["id"]).collect()
    assert out[0]["name"] is None  # last-write-wins includes explicit NULLs


def test_pandas_gemm_topk_agrees_with_expression_path(spark):
    from stadvdb_olap_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    a = brute_force_topk(q, emb, k=5)
    b = cosine_topk_pandas(q, emb, k=5)
    pairs_a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in a.collect()}
    pairs_b = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in b.collect()}
    assert pairs_a == pairs_b


def test_driver_side_ann_paths_refuse_oversized_query_sets(spark):
    """The collect() in the pandas-GEMM and IVF paths is capped: passing a
    query frame above max_queries must raise instead of pulling a corpus
    onto the driver."""
    import pytest

    from stadvdb_olap_spark.operators.similarity import ivf_topk
    from stadvdb_olap_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk_pandas(q, emb, k=3, max_queries=4)
    with pytest.raises(ValueError, match="max_queries"):
        ivf_topk(q, emb, k=3, n_centroids=4, n_probe=2, max_queries=4)
    # At the cap exactly, the path still works.
    assert cosine_topk_pandas(q, emb, k=3, max_queries=5).count() > 0


def test_approx_distinct_within_error_bound(spark):
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    exact = {
        r["l_returnflag"]: r["n_parts"]
        for r in REGISTRY["distinct_parts_per_flag"].fn(spark, sf).collect()
    }
    approx = {
        r["l_returnflag"]: (r["n_parts_exact"], r["within_10pct"])
        for r in REGISTRY["approx_distinct_parts_per_flag"].fn(spark, sf).collect()
    }
    assert set(exact) == set(approx)
    for flag, n in exact.items():
        n_exact, within = approx[flag]
        assert n_exact == n  # the exact twin inside the query agrees
        assert within  # and the sketch is inside its error bound


def test_approx_percentile_near_exact(spark):
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    exact = {
        r["o_orderpriority"]: r["p50"]
        for r in REGISTRY["percentiles_by_priority"].fn(spark, sf).collect()
    }
    approx = {
        r["o_orderpriority"]: (r["p50_exact"], r["p50_within_2pct"])
        for r in REGISTRY["approx_percentiles_by_priority"].fn(spark, sf).collect()
    }
    for prio, p50 in exact.items():
        p50_exact, within = approx[prio]
        assert p50_exact == p50  # the exact twin inside the query agrees
        assert within  # and the t-digest estimate is inside its bound


def test_train_split_fractions_and_determinism(spark):
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    out1 = REGISTRY["train_val_test_split_docs"].fn(spark, sf)
    counts = {r["split"]: r["n"] for r in out1.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    assert 0.70 < counts["train"] / total < 0.90
    assert counts["val"] / total < 0.20 and counts["test"] / total < 0.20
    # determinism: same assignment on re-run
    a = {r["doc_id"]: r["split"] for r in out1.collect()}
    b = {r["doc_id"]: r["split"] for r in REGISTRY["train_val_test_split_docs"].fn(spark, sf).collect()}
    assert a == b


def test_asof_join_tiny_semantics(spark):
    from stadvdb_olap_spark.plans import advanced_queries as A

    events = spark.createDataFrame(
        [(1, "2024-01-10 00:00:00", 7), (2, "2024-01-01 00:00:00", 7),
         (3, "2024-01-10 00:00:00", 8)],
        "event_id long, ts string, user_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    orders = spark.createDataFrame(
        [(100, 7, "2024-01-05 00:00:00"), (101, 7, "2024-01-09 00:00:00"),
         (102, 9, "2024-01-01 00:00:00")],
        "o_orderkey long, o_custkey long, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))

    import stadvdb_olap_spark.sources.parquet as P

    real = P.load_table
    try:
        P.load_table = lambda s, d, n: {"events": events, "orders": orders}[n]
        # reload module binding? advanced_queries imported load_table directly
        saved = A.load_table
        A.load_table = P.load_table
        out = {r["event_id"]: r["last_order_key"]
               for r in A.asof_join_events_orders(spark, "ignored").collect()}
    finally:
        P.load_table = real
        A.load_table = saved
    # event 1: latest order <= 01-10 for user 7 is 101; event 2: none before 01-01;
    # event 3: user 8 has no orders at all
    assert out == {1: 101, 2: None, 3: None}


def test_scd2_history_semantics(spark):
    from stadvdb_olap_spark.operators.dimension import scd2_history

    feed = spark.createDataFrame(
        [
            (1, "gold", "2024-01-01", 1),
            (1, "gold", "2024-02-01", 2),   # no change -> collapsed
            (1, "silver", "2024-03-01", 3),
            (1, None, "2024-04-01", 4),     # change to NULL is a version
            (2, "bronze", "2024-01-15", 5),
        ],
        "id long, tier string, ts string, seq long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_history(feed, ["id"], ["tier"], "ts", ["seq"]).collect()
    rows = {(r["id"], r["version"]): r for r in out}
    assert len(rows) == 4
    g1 = rows[(1, 1)]
    assert g1["tier"] == "gold" and not g1["is_current"]
    assert str(g1["effective_to"]).startswith("2024-03-01")
    assert rows[(1, 2)]["tier"] == "silver"
    n3 = rows[(1, 3)]
    assert n3["tier"] is None and n3["is_current"]
    assert rows[(2, 1)]["is_current"]


def test_ivf_recall_against_brute_force(spark):
    from stadvdb_olap_spark.operators.similarity import brute_force_topk, ivf_topk
    from stadvdb_olap_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(q, emb, k=10)
    approx = ivf_topk(q, emb, k=10, n_centroids=8, n_probe=3)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"


def test_ivf_fixed_degenerates_to_brute_force_and_recalls(spark):
    """ivf_fixed_topk with n_probe == |centroids| probes every cell, so
    its output must EQUAL brute force exactly (same ids, cosines and
    ranks); at n_probe=2 recall against brute force stays useful."""
    from stadvdb_olap_spark.operators.similarity import (
        brute_force_topk,
        ivf_fixed_topk,
    )
    from stadvdb_olap_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    exact = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in brute_force_topk(q, emb, k=10).collect()
    }
    full_probe = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ivf_fixed_topk(q, emb, cents, k=10, n_probe=8).collect()
    }
    assert full_probe == exact

    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_fixed_topk(q, emb, cents, k=10, n_probe=2).collect()
    }
    exact_pairs = {(a, b) for a, b, _, _ in exact}
    recall = len(exact_pairs & approx) / len(exact_pairs)
    assert recall >= 0.5, f"fixed-IVF recall {recall:.2f} too low"


# ---------------------------------------------------------------------------
# Property-based invariants (hypothesis)
# ---------------------------------------------------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    _rows = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),           # key
            st.integers(min_value=-100, max_value=100),      # order col
            st.text(alphabet="abc", max_size=3),             # payload
        ),
        min_size=1,
        max_size=30,
    )

    @given(rows=_rows)
    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    def test_prop_dedup_partition_invariance(spark, rows):
        """dedup_keep_first picks the same winners under any partitioning."""
        from stadvdb_olap_spark.operators.dedup import dedup_keep_first

        df = spark.createDataFrame(rows, "k long, o long, v string")
        a = dedup_keep_first(df.coalesce(1), ["k"], ["o", "v"]).collect()
        b = dedup_keep_first(df.repartition(7), ["k"], ["o", "v"]).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    @given(rows=_rows)
    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    def test_prop_merge_idempotent_and_upsert_complete(spark, rows):
        """merge_scd1: target keys survive, source wins, re-merge is a no-op."""
        from stadvdb_olap_spark.operators.dedup import dedup_keep_first
        from stadvdb_olap_spark.operators.merge import merge_scd1

        df = spark.createDataFrame(rows, "k long, o long, v string")
        half = dedup_keep_first(df.filter(F.col("k") % 2 == 0), ["k"], ["o", "v"])
        src = dedup_keep_first(df, ["k"], ["o", "v"])
        merged = merge_scd1(half, src, keys=["k"])
        once = sorted(map(tuple, merged.collect()))
        assert {r[0] for r in once} == {r[0] for r in rows}  # all keys present
        twice = sorted(map(tuple, merge_scd1(merged, src, keys=["k"]).collect()))
        assert once == twice


def test_connected_components_known_graph(spark):
    from stadvdb_olap_spark.operators.text_dedup import connected_components

    # two chains and an isolated edge: {1-2-3-4}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_agree_with_union_find(spark):
    from stadvdb_olap_spark.operators.text_dedup import (
        dedup_clusters,
        jaccard_verified_pairs,
    )
    from stadvdb_olap_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = jaccard_verified_pairs(docs, "doc_id", "text", 0.5).collect()

    # driver-side union-find oracle over the same verified pairs
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in pairs:
        union(r["id_a"], r["id_b"])
    expected = {x: find(x) for x in parent}

    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_clusters(docs, "doc_id", "text", 0.5).collect()
    }
    assert got == expected


def test_multimodal_resize_payload_and_meta(spark):
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["multimodal_resize"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # content is published as hex (the certifiable surface): 256
        # payload bytes -> 512 hex chars, dims from meta
        assert r["n_bytes"] == 16 * 16
        assert len(r["content_hex"]) == 2 * 16 * 16
        assert r["width"] == 16 and r["height"] == 16


def test_curate_corpus_invariants(spark):
    from stadvdb_olap_spark.operators.text_dedup import jaccard_verified_pairs
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded
    from stadvdb_olap_spark.sources.parquet import load_table

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    out = REGISTRY["curate_corpus_docs"].fn(spark, sf)
    rows = out.collect()
    kept = {r["doc_id"] for r in rows}
    assert 0 < len(kept) <= docs.count()

    # no exact duplicates survive (content hash unique)
    from stadvdb_olap_spark.functions.text import tokens

    hashes = (
        out.select(F.md5(F.array_join(tokens("text"), " ")).alias("h"))
        .groupBy("h").count().filter(F.col("count") > 1).count()
    )
    assert hashes == 0

    # no surviving near-dup pair (all verified pairs are broken up)
    surviving_pairs = (
        jaccard_verified_pairs(out, "doc_id", "text", 0.5).count()
    )
    assert surviving_pairs == 0

    # split assignment total and determinism
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    again = {r["doc_id"]: r["split"] for r in REGISTRY["curate_corpus_docs"].fn(spark, sf).collect()}
    assert again == {r["doc_id"]: r["split"] for r in rows}


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from stadvdb_olap_spark.operators.maintenance import compact_parquet
    from stadvdb_olap_spark.sources.parquet import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "fragmented")
    ev.repartition(64).write.parquet(src)
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_file_mb=256)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    import glob

    files = glob.glob(out + "/*.parquet")
    assert len(files) == n
    assert len(files) < 64


def _file_spans(spark, path, col):
    df = spark.read.parquet(path)
    agg = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
        .collect()
    )
    g = df.agg(F.min(col), F.max(col)).collect()[0]
    width = float(g[1]) - float(g[0])
    return sum((float(r["hi"]) - float(r["lo"])) / width for r in agg) / len(agg)


def test_zorder_write_tightens_minmax_on_both_dims(spark, tmp_path):
    from stadvdb_olap_spark.operators.maintenance import write_zordered
    from stadvdb_olap_spark.sources.parquet import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )
    zpath = str(tmp_path / "zordered")
    write_zordered(ev, zpath, ["user_id", "value"], n_files=8)
    assert spark.read.parquet(zpath).count() == ev.count()

    # baseline: clustered on user_id only — value min/max stays ~global
    bpath = str(tmp_path / "single")
    ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(bpath)

    z_user = _file_spans(spark, zpath, "user_id")
    z_value = _file_spans(spark, zpath, "value")
    b_value = _file_spans(spark, bpath, "value")
    assert z_user < 0.8  # z-order keeps user_id locality...
    assert z_value < 0.8  # ...AND value locality in the same layout
    # single-column clustering leaves value spans markedly wider
    assert z_value < 0.8 * b_value


def test_zvalue_interleave_bijective_and_monotone(spark):
    from stadvdb_olap_spark.operators.maintenance import _interleave_bits

    grid = spark.createDataFrame(
        [(a, b) for a in range(16) for b in range(16)], "a long, b long"
    )
    z = grid.select(
        "a", "b", _interleave_bits([F.col("a"), F.col("b")], 4).alias("z")
    ).collect()
    zs = [r["z"] for r in z]
    assert len(set(zs)) == 256          # bijective on the 16x16 grid
    assert min(zs) == 0 and max(zs) == 255  # exactly 8 bits used
    by_ab = {(r["a"], r["b"]): r["z"] for r in z}
    for v in range(15):  # monotone along each axis with the other fixed
        assert by_ab[(v + 1, 0)] > by_ab[(v, 0)]
        assert by_ab[(0, v + 1)] > by_ab[(0, v)]


def test_hash_sample_nested_and_partition_stable(spark):
    from stadvdb_olap_spark.plans.sampling_queries import bernoulli_sample

    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    small = {r["k"] for r in bernoulli_sample(df, "k", "10").collect()}
    big = {r["k"] for r in bernoulli_sample(df, "k", "40").collect()}
    assert small < big                  # cutoffs nest
    assert 0 < len(small) < len(big) < 2000
    again = {r["k"] for r in bernoulli_sample(df.repartition(13), "k", "10").collect()}
    assert again == small               # membership ignores partitioning


def test_pack_sequences_invariants(spark):
    from stadvdb_olap_spark.operators.packing import pack_sequences

    items = spark.createDataFrame(
        [(i, (i * 37) % 90 + 10) for i in range(300)] + [(999, 700)],
        "item_id long, w long",
    )
    out = pack_sequences(items, ["item_id"], "w", budget=128, n_buckets=8)
    rows = out.collect()
    assert len(rows) == 301  # every item assigned exactly once
    sums = {}
    for r in rows:
        sums.setdefault((r["bucket"], r["bin_id"]), []).append((r["item_id"], r["w"]))
    for (_, _), members in sums.items():
        total = sum(w for _, w in members)
        # over-budget only allowed for a singleton oversized item
        assert total <= 128 or (len(members) == 1 and members[0][1] > 128)

    again = pack_sequences(
        items.repartition(11), ["item_id"], "w", budget=128, n_buckets=8
    ).collect()
    a = {r["item_id"]: (r["bucket"], r["bin_id"]) for r in rows}
    b = {r["item_id"]: (r["bucket"], r["bin_id"]) for r in again}
    assert a == b  # deterministic under any input partitioning


def test_chunking_covers_every_token_exactly_once_per_stride(spark):
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded
    from stadvdb_olap_spark.functions.text import token_count
    from stadvdb_olap_spark.sources.parquet import load_table

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    chunks = REGISTRY["chunk_documents_sliding"].fn(spark, sf)
    per_doc = {
        r["doc_id"]: (r["n_chunks"], r["max_idx"], r["tok_sum"])
        for r in chunks.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("chunk_idx").alias("max_idx"),
            F.sum("chunk_tokens").alias("tok_sum"),
        ).collect()
    }
    docs = load_table(spark, sf, "documents").select(
        "doc_id", token_count("text").alias("n")
    )
    for r in docs.collect():
        n, (n_chunks, max_idx, tok_sum) = r["n"], per_doc[r["doc_id"]]
        assert n_chunks == -(-n // 40)          # ceil(n / stride)
        assert max_idx == n_chunks - 1          # dense, zero-based
        # stride-window identity: sum of min(50, n - 40i) over all chunks
        assert tok_sum == sum(min(50, n - 40 * i) for i in range(n_chunks))


def test_money_sum_partition_invariant(spark):
    """The determinism convention underneath every oracle: exact decimal
    aggregation must yield the SAME double no matter how rows are
    partitioned (plain double sums would differ in the last ulp)."""
    from stadvdb_olap_spark.plans.compat import mean_round, money_sum

    vals = [((-1) ** i * (1.0 / 3.0) * (i + 1) * 1e3,) for i in range(5000)]
    df = spark.createDataFrame(vals, "v double")
    layouts = [df.coalesce(1), df.repartition(7), df.repartition(32, "v")]
    sums = {layout.agg(money_sum("v")).collect()[0][0] for layout in layouts}
    means = {layout.agg(mean_round("v")).collect()[0][0] for layout in layouts}
    assert len(sums) == 1 and len(means) == 1


def test_minhash_salted_groups_extend_the_base_signature(spark):
    """num_hashes=16 must agree with num_hashes=8 on mh0..mh7 (group 0 is
    the unsalted digest — backward-compatible signatures), and every hash
    within a group must come from a distinct digest slice (the HOF
    index-binding trap would collapse them)."""
    from stadvdb_olap_spark.operators.text_dedup import minhash_signatures
    from stadvdb_olap_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    s8 = {r["doc_id"]: r for r in minhash_signatures(docs, "doc_id", "text", 8).collect()}
    s16 = {r["doc_id"]: r for r in minhash_signatures(docs, "doc_id", "text", 16).collect()}
    assert set(s8) == set(s16)
    for doc_id, r8 in s8.items():
        r16 = s16[doc_id]
        assert [r8[f"mh{k}"] for k in range(8)] == [r16[f"mh{k}"] for k in range(8)]
    # distinct slices: across docs, mh columns must not be pairwise identical
    cols16 = list(zip(*[[s16[d][f"mh{k}"] for d in sorted(s16)] for k in range(16)]))
    assert len({tuple(c) for c in zip(*cols16)}) == 16


def test_lsh_recall_improves_with_more_hashes(spark):
    """Widening the signature 8 -> 16 at band_size=2 adds bands, so the
    candidate set is a superset (first 4 bands are shared) and recall vs
    exact Jaccard stays total on the fixture's true near-dups."""
    from stadvdb_olap_spark.operators.text_dedup import (
        lsh_candidate_pairs,
        word_shingles,
    )
    from stadvdb_olap_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sets_ = docs.select(
        "doc_id", F.array_distinct(word_shingles("text", 3)).alias("sh")
    )
    a = sets_.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = sets_.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    jac = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size(
        F.array_distinct(F.concat("sa", "sb"))
    )
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(jac >= 0.5)
        .collect()
    }
    c8 = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(docs, "doc_id", "text", 8, 2, 3).collect()
    }
    c16 = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(docs, "doc_id", "text", 16, 2, 3).collect()
    }
    assert c16 >= c8  # more bands only ever add candidates
    assert true_pairs, "fixture should contain true near-dup pairs"
    recall16 = len(true_pairs & c16) / len(true_pairs)
    recall8 = len(true_pairs & c8) / len(true_pairs)
    assert recall16 >= recall8
    assert recall16 >= 0.9


# ---------------------------------------------------------------------------
# Scale-pattern operators (plans/scale_queries.py)
# ---------------------------------------------------------------------------


def test_salted_join_matches_plain_join(spark):
    from stadvdb_olap_spark.operators.joins import salted_equi_join
    from stadvdb_olap_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    events = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    customer = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")

    salted = salted_equi_join(
        events, customer, left_key="user_id", right_key="c_custkey", n_salts=8
    )
    plain = events.join(
        customer, events.user_id == customer.c_custkey
    ).select("event_id", "user_id", "value", "c_mktsegment")

    assert salted.columns == ["event_id", "user_id", "value", "c_mktsegment"]
    got = sorted(tuple(r) for r in salted.collect())
    want = sorted(tuple(r) for r in plain.collect())
    assert got == want

    # the replicate side shows up as a Generate (explode) in the plan
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan

    # degenerate single-salt case is still the plain join
    one = salted_equi_join(
        events, customer, left_key="user_id", right_key="c_custkey", n_salts=1
    )
    assert sorted(tuple(r) for r in one.collect()) == want


def test_incremental_dedup_equals_full_lsh_cross_pairs(spark):
    """Delta-vs-corpus matches must be exactly the full-corpus verified
    pairs that straddle the delta boundary (same signatures, same bands,
    same threshold — the incremental path changes COST, not semantics)."""
    from pyspark.sql import functions as F

    from stadvdb_olap_spark.operators.text_dedup import (
        incremental_lsh_matches,
        jaccard_verified_pairs,
    )
    from stadvdb_olap_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    delta = docs.filter(bucket < "14")
    corpus = docs.filter(bucket >= "14")

    inc = {
        (r["delta_id"], r["corpus_id"])
        for r in incremental_lsh_matches(
            delta, corpus, "doc_id", "text", 0.2, 16, 2, 3
        ).collect()
    }

    delta_ids = {r[0] for r in delta.select("doc_id").collect()}
    full = jaccard_verified_pairs(docs, "doc_id", "text", 0.2, 16, 2, 3)
    cross = {
        (a, b) if a in delta_ids else (b, a)
        for a, b in ((r["id_a"], r["id_b"]) for r in full.collect())
        if (a in delta_ids) != (b in delta_ids)
    }
    assert inc == cross


def test_weighted_sample_biases_toward_heavy_rows(spark):
    """Priority sampling must overselect high-weight rows: the sampled mean
    o_totalprice beats the population mean in every stratum, and the draw
    is deterministic across invocations."""
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    fn = REGISTRY["weighted_sample_orders_priority"].fn
    sample = fn(spark, sf).collect()
    assert len(sample) == 90  # 30 per status, 3 statuses
    again = fn(spark, sf).collect()
    assert sorted(map(tuple, sample)) == sorted(map(tuple, again))

    from stadvdb_olap_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    pop = {
        r["o_orderstatus"]: r["m"]
        for r in load_table(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(F.avg("o_totalprice").alias("m"))
        .collect()
    }
    by_status: dict[str, list[float]] = {}
    for r in sample:
        by_status.setdefault(r["o_orderstatus"], []).append(r["o_totalprice"])
    for status, prices in by_status.items():
        assert sum(prices) / len(prices) > pop[status]


def test_chunk_ranges_udtf(spark):
    """UDTF surface: edge semantics (empty/None yield nothing, tail chunk
    clipped) and agreement between the Arrow and pickled transfer paths."""
    from stadvdb_olap_spark.functions.udtfs import ChunkRanges, register_udtfs

    fn = ChunkRanges.func()  # the undecorated handler class
    assert list(fn.eval(0, 50, 40)) == []
    assert list(fn.eval(None, 50, 40)) == []
    assert list(fn.eval(50, 50, 40)) == [(0, 0, 50), (1, 40, 50)]
    assert list(fn.eval(130, 50, 40)) == [
        (0, 0, 50),
        (1, 40, 90),
        (2, 80, 130),
        (3, 120, 130),
    ]

    register_udtfs(spark)
    sql = "SELECT * FROM chunk_ranges(130, 50, 40)"
    base = [tuple(r) for r in spark.sql(sql).collect()]
    assert base == [(0, 0, 50), (1, 40, 90), (2, 80, 130), (3, 120, 130)]
    conf = "spark.sql.execution.pythonUDTF.arrow.enabled"
    old = spark.conf.get(conf, "false")
    try:
        for mode in ("true", "false"):
            spark.conf.set(conf, mode)
            assert [tuple(r) for r in spark.sql(sql).collect()] == base
    finally:
        spark.conf.set(conf, old)


def test_bfs_depth_from_sources(spark):
    """Path graph 1-2-3-4 plus isolated edge 10-11, sources {1, 10}:
    depths follow hop counts; unreachable nodes are absent; a too-small
    depth cap raises instead of truncating."""
    import pytest

    from stadvdb_olap_spark.operators.text_dedup import bfs_depth_from_sources

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    sources = spark.createDataFrame([(1,), (10,)], ["id"])
    got = {
        r["id"]: r["depth"]
        for r in bfs_depth_from_sources(edges, sources).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 10: 0, 11: 1}

    with pytest.raises(RuntimeError, match="did not converge"):
        bfs_depth_from_sources(edges, sources, max_depth=2)


def test_prefix_filter_jaccard_matches_brute_force(spark):
    """Completeness of the prefix filter: on a corpus with planted
    near-dups, the prefix-filtered exact join returns EXACTLY the pairs
    the naive all-pairs Jaccard join returns, at two thresholds (0.5 and
    a non-round 0.34 that exercises the ceil in the prefix length)."""
    from stadvdb_olap_spark.operators.curation import prefix_filter_jaccard_pairs
    from stadvdb_olap_spark.operators.text_dedup import _jaccard, _shingle_sets

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " lambda"),                       # near-dup of 1
            (3, "one two three four five six seven"),
            (4, "one two three four five six eight"),    # near-dup of 3
            (5, "totally different words entirely here now"),
            (6, base.replace("alpha", "omega")),          # near-dup of 1/2
            (7, "short text"),
        ],
        ["doc_id", "text"],
    )
    a = _shingle_sets(docs, "doc_id", "text", 3, "id_a", "sh_a")
    b = _shingle_sets(docs, "doc_id", "text", 3, "id_b", "sh_b")
    for t in (0.5, 0.34):
        brute = {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.round(_jaccard("sh_a", "sh_b"), 6).alias("j"))
            .filter(F.col("j") >= t)
            .collect()
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in prefix_filter_jaccard_pairs(
                docs, "doc_id", "text", t, shingle_n=3
            ).collect()
        }
        assert got == brute and brute  # non-empty: planted dups found


def test_segment_dedup_drops_boilerplate_preserving_order(spark):
    """Six docs share a boilerplate segment (doc-freq 6 >= 5): it is
    removed from every doc, unique segments survive in original order,
    and an all-boilerplate doc reassembles to the empty string."""
    from stadvdb_olap_spark.operators.curation import segment_dedup

    bp = "call to action"  # the planted 3-token boilerplate segment
    rows = [(i, f"u{i}a u{i}b u{i}c {bp} t{i}x t{i}y t{i}z") for i in range(5)]
    rows.append((5, bp))  # all-boilerplate doc
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["kept_text"], r["n_segments"], r["n_dropped"])
        for r in segment_dedup(
            docs, "doc_id", "text", seg_len=3, min_doc_freq=5
        ).collect()
    }
    for i in range(5):
        assert got[i] == (f"u{i}a u{i}b u{i}c t{i}x t{i}y t{i}z", 3, 1)
    assert got[5] == ("", 1, 1)


def test_cogrouped_asof_equals_declarative_asof(spark):
    """The cogrouped-applyInPandas as-of path and the union-timeline
    declarative path must return identical rows on the fixture."""
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded
    from tests.conftest import SF_DIR

    _ensure_loaded()
    a = REGISTRY["asof_join_events_orders"].fn(spark, SF_DIR)
    b = REGISTRY["asof_join_cogrouped_pandas"].fn(spark, SF_DIR)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and rows_a


def test_cogrouped_asof_null_key_and_integral_value_contract(spark):
    """The documented edges of asof_join_cogrouped: a NULL left key
    matches NULL-keyed right rows by timestamp, an integral double value
    passes as a long, and a non-integral one fails the job."""
    from stadvdb_olap_spark.operators.pandas_surface import asof_join_cogrouped

    left = spark.sql(
        "SELECT * FROM VALUES (1L, NULL, TIMESTAMP '2024-01-02'),"
        " (2L, 5L, TIMESTAMP '2024-01-02') AS t(id, k, ts)"
    )

    def right(v: str):
        return spark.sql(
            f"SELECT * FROM VALUES (CAST(NULL AS BIGINT), {v}, TIMESTAMP '2024-01-01'),"
            f" (5L, {v}, TIMESTAMP '2024-01-01') AS t(k, v, ts)"
        )

    def join(v: str):
        return sorted(
            tuple(r)
            for r in asof_join_cogrouped(
                left, right(v), "k", "k", "ts", "ts", "id", "v"
            ).collect()
        )

    assert join("7L") == [(1, None, 7), (2, 5, 7)]
    assert join("CAST(8.0 AS DOUBLE)") == [(1, None, 8), (2, 5, 8)]
    with pytest.raises(Exception, match="TypeError"):
        join("CAST(8.5 AS DOUBLE)")


def test_trimmed_mean_small_group_edges(spark):
    """Groups smaller than 2k+1 shrink the trim to keep >= 1 value; a
    1-row group returns its own value; trims drop true extremes."""
    from stadvdb_olap_spark.operators.pandas_surface import trimmed_mean_grouped

    rows = (
        [("big", float(v)) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
        + [("tiny", 42.0)]
        + [("pair", 10.0), ("pair", 20.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: (r["n_values"], r["trimmed_mean"])
        for r in trimmed_mean_grouped(df, "g", "v", k=2).collect()
    }
    # big: drop {1,2} and {9,1000} -> mean(3..8) = 5.5
    assert got["big"] == (10, 5.5)
    assert got["tiny"] == (1, 42.0)
    # pair: n=2 -> drop = min(2, 0) = 0 -> plain mean
    assert got["pair"] == (2, 15.0)


def test_table_fingerprint_order_free_and_sensitive(spark):
    """Checksum is invariant to partitioning/row order, changes when any
    cell changes, and n_rows tracks the row count."""
    from stadvdb_olap_spark.operators.reconcile import table_fingerprint

    df = spark.createDataFrame(
        [(i, f"name{i}", float(i) * 1.5) for i in range(100)],
        "id long, name string, val double",
    )
    base = table_fingerprint(df.repartition(1), "t").collect()[0]
    shuffled = table_fingerprint(
        df.repartition(13).sortWithinPartitions("name"), "t"
    ).collect()[0]
    assert (base["n_rows"], base["checksum"]) == (100, shuffled["checksum"])

    tweaked = df.withColumn(
        "val", F.when(F.col("id") == 57, 0.0).otherwise(F.col("val"))
    )
    assert (
        table_fingerprint(tweaked, "t").collect()[0]["checksum"]
        != base["checksum"]
    )


def test_table_diff_null_transitions(spark):
    """Null-safe comparison: null->value and value->null are 'changed'
    with the right column list; null==null is unchanged; added/removed
    rows carry empty changed_cols."""
    from stadvdb_olap_spark.operators.reconcile import table_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, None, 5.0), (3, "c", None), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 9.0), (2, "x", None), (3, "c", None), (5, "e", 1.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: (r["change_type"], list(r["changed_cols"]))
        for r in table_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got == {
        1: ("changed", ["v"]),          # null -> 9.0
        2: ("changed", ["s", "v"]),     # null -> x, 5.0 -> null
        4: ("removed", []),
        5: ("added", []),
    }  # k=3 identical (incl. null==null) -> absent


def test_arrow_gemm_topk_agrees_with_expression_path(spark):
    """mapInArrow GEMM returns the same ranked neighbors as the exact
    JVM expression path (batching cannot change an exact top-k)."""
    from stadvdb_olap_spark.operators.similarity import cosine_topk_arrow
    from stadvdb_olap_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    a = brute_force_topk(q, emb, k=5)
    b = cosine_topk_arrow(q, emb, k=5)
    pairs_a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in a.collect()}
    pairs_b = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in b.collect()}
    assert pairs_a == pairs_b


def test_exact_fold_batch_paths_are_bit_identical_to_expression(spark):
    """exact_fold=True makes BOTH Arrow batch tiers reproduce the JVM
    expression fold bit-for-bit — cosines equal as float64, not just
    ranks (the property the shared brute-force oracle certifies)."""
    from stadvdb_olap_spark.operators.similarity import (
        cosine_topk_arrow,
        cosine_topk_pandas,
    )
    from stadvdb_olap_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    ref = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    for fn in (cosine_topk_pandas, cosine_topk_arrow):
        got = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in fn(q, emb, k=5, exact_fold=True).collect()
        }
        assert got == ref  # exact float equality, deliberate


def test_merge_scd1_schema_evolution(spark):
    """schema_evolution appends source-only columns: matched/inserted
    rows carry source values, pre-existing rows read NULL, and the
    evolved merge stays idempotent."""
    from stadvdb_olap_spark.operators.merge import merge_scd1

    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, name string"
    )
    source = spark.createDataFrame(
        [(2, "B", 20.0), (3, "C", 30.0)], "k long, name string, score double"
    )
    out = merge_scd1(target, source, ["k"], schema_evolution=True)
    assert out.columns == ["k", "name", "score"]
    got = {r["k"]: (r["name"], r["score"]) for r in out.collect()}
    assert got == {1: ("a", None), 2: ("B", 20.0), 3: ("C", 30.0)}

    again = merge_scd1(out, source, ["k"], schema_evolution=True)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))

    # Without the flag the source-only column is ignored (old behavior).
    legacy = merge_scd1(target, source, ["k"])
    assert legacy.columns == ["k", "name"]


def test_generate_cdc_roundtrip_and_null_safety(spark):
    """generate_cdc emits exactly the I/U/D delta (null-safe attribute
    compare: NULL->value and value->NULL are updates, NULL->NULL is
    unchanged) and apply_cdc(old, generate_cdc(old, new)) == new."""
    from stadvdb_olap_spark.operators.merge import apply_cdc, generate_cdc

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "c", None), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (3, "c", None), (5, "e", 5.0)],
        "k long, s string, v double",
    )
    feed = generate_cdc(old, new, keys=["k"])
    ops = {r["k"]: r["op"] for r in feed.collect()}
    # 1 unchanged (absent), 2 NULL->'B' update, 3 NULL==NULL unchanged,
    # 4 deleted, 5 inserted
    assert ops == {2: "U", 4: "D", 5: "I"}

    replayed = apply_cdc(old, feed, keys=["k"])
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, new.collect())
    )

    # empty diff -> empty feed -> replay is the identity
    empty = generate_cdc(old, old, keys=["k"])
    assert empty.count() == 0
    assert sorted(map(tuple, apply_cdc(old, empty, ["k"]).collect())) == sorted(
        map(tuple, old.collect())
    )


def test_merge_scd1_type_widening(spark):
    """TYPE drift on a shared column: schema_evolution widens along the
    value-preserving ladder (int->long, float->double); without the flag
    drift raises; incompatible drift (string vs int) always raises."""
    import pytest

    from stadvdb_olap_spark.operators.merge import merge_scd1

    target = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "k long, qty int, price float"
    )
    source = spark.createDataFrame(
        [(2, 200, 2.75), (3, 300, 3.5)], "k long, qty long, price double"
    )
    out = merge_scd1(target, source, ["k"], schema_evolution=True)
    types = dict(out.dtypes)
    assert types["qty"] == "bigint" and types["price"] == "double"
    got = {r["k"]: (r["qty"], r["price"]) for r in out.collect()}
    assert got == {1: (10, 1.5), 2: (200, 2.75), 3: (300, 3.5)}

    # idempotent on the evolved target (types now match the source)
    again = merge_scd1(out, source, ["k"], schema_evolution=True)
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, out.collect())
    )

    with pytest.raises(ValueError, match="type drift"):
        merge_scd1(target, source, ["k"])

    bad = spark.createDataFrame([(2, "x")], "k long, qty string")
    with pytest.raises(ValueError, match="no value-preserving widening"):
        merge_scd1(target, bad, ["k"], schema_evolution=True)

    # long -> double is NOT value-preserving (53 mantissa bits) and must
    # raise rather than silently round |v| > 2^53.
    tgt_long = spark.createDataFrame([(1, 2**53 + 1)], "k long, v long")
    src_dbl = spark.createDataFrame([(1, 1.5)], "k long, v double")
    with pytest.raises(ValueError, match="no value-preserving widening"):
        merge_scd1(tgt_long, src_dbl, ["k"], schema_evolution=True)

    # KEY drift never widens, in either mode.
    src_strkey = spark.createDataFrame([("2", 5, 2.0)], "k string, qty int, price float")
    with pytest.raises(ValueError, match="type drift on KEY"):
        merge_scd1(target, src_strkey, ["k"], schema_evolution=True)


def test_upsert_parquet_schema_evolution_roundtrip(spark, tmp_path):
    """On-disk upsert with an evolving source widens the stored schema
    once and stays stable on replay."""
    from stadvdb_olap_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string")
    upsert_parquet(spark, v1, path, keys=["k"])
    v2 = spark.createDataFrame([(2, "B", 2.5)], "k long, name string, score double")
    upsert_parquet(spark, v2, path, keys=["k"], schema_evolution=True)
    upsert_parquet(spark, v2, path, keys=["k"], schema_evolution=True)  # replay
    got = {r["k"]: (r["name"], r["score"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", None), 2: ("B", 2.5)}


def test_fingerprint_and_diff_empty_inputs(spark):
    """Empty table -> checksum 0 (not NULL) so two empty copies compare
    equal; diffing an empty side classifies every row added/removed."""
    from stadvdb_olap_spark.operators.reconcile import table_diff, table_fingerprint

    empty = spark.createDataFrame([], "id long, name string")
    fp = table_fingerprint(empty, "e").collect()[0]
    assert (fp["n_rows"], int(fp["checksum"])) == (0, 0)

    full = spark.createDataFrame([(1, "a")], "id long, name string")
    d1 = table_diff(empty, full, ["id"], ["name"]).collect()
    d2 = table_diff(full, empty, ["id"], ["name"]).collect()
    assert [(r["change_type"], list(r["changed_cols"])) for r in d1] == [("added", [])]
    assert [(r["change_type"], list(r["changed_cols"])) for r in d2] == [("removed", [])]


def test_segment_dedup_null_text_yields_no_segments(spark):
    """NULL/token-less text rows produce zero segment rows (matching the
    empty generate_series on the oracle side) instead of phantom
    negative-index segments."""
    from stadvdb_olap_spark.operators.curation import doc_segments

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None)], "doc_id long, text string"
    )
    got = doc_segments(docs, "doc_id", "text", 3).collect()
    assert [(r["doc_id"], r["seg_idx"], r["seg"]) for r in got] == [
        (1, 0, "alpha beta gamma")
    ]


def test_interval_overlap_join_rejects_shared_columns(spark):
    """Shared column names would make the bound references ambiguous —
    the operator fails fast with a clear message."""
    import pytest

    from stadvdb_olap_spark.operators.joins import interval_overlap_join

    a = spark.createDataFrame([(1, 0, 5)], "id long, a_start long, a_end long")
    b = spark.createDataFrame([(2, 3, 9)], "id long, b_start long, b_end long")
    with pytest.raises(ValueError, match="disjoint column names"):
        interval_overlap_join(a, b, "a_start", "a_end", "b_start", "b_end")


def test_json_quarantine_reason_alignment(spark):
    """The classification rule matches the oracle's presence semantics:
    non-integer k is ok (key present), absent key is missing_key, NULL or
    unparseable props is malformed."""
    df = spark.createDataFrame(
        [
            (1, '{"k": 5}'),
            (2, '{"k": "abc"}'),
            (3, '{"other": 1}'),
            (4, None),
            (5, "x{broken"),
        ],
        "event_id long, props string",
    )
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "variant")
    reason = (
        F.when(v.isNull(), F.lit("malformed"))
        .when(k.isNull(), F.lit("missing_key"))
        .otherwise(F.lit("ok"))
    )
    got = {r["event_id"]: r["r"] for r in df.select("event_id", reason.alias("r")).collect()}
    assert got == {1: "ok", 2: "ok", 3: "missing_key", 4: "malformed", 5: "malformed"}


def test_agg_state_merge_and_finalize_match_direct_stats(spark):
    """merge(state(A), state(B)) == state(A u B) exactly, and the
    finalized mean/variance match Python's statistics on the raw data."""
    import statistics

    from stadvdb_olap_spark.operators.maintenance import (
        agg_state,
        finalize_agg_state,
        merge_agg_states,
    )

    rows = [("g", float(v)) for v in [3, 7, 7, 19, 24, 31, 42]]
    df = spark.createDataFrame(rows, "k string, v double")
    a, b = df.filter(F.col("v") < 20), df.filter(F.col("v") >= 20)
    merged = merge_agg_states(
        agg_state(a, ["k"], "v"), agg_state(b, ["k"], "v")
    )
    direct = agg_state(df, ["k"], "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    fin = finalize_agg_state(merged).collect()[0]
    vals = [v for _, v in rows]
    assert fin["n"] == len(vals)
    assert abs(fin["mean_v"] - statistics.fmean(vals)) < 1e-9
    assert abs(fin["var_v"] - statistics.pvariance(vals)) < 1e-9


def test_schema_diff_reports_all_change_kinds(spark):
    from stadvdb_olap_spark.operators.reconcile import schema_diff

    old = spark.createDataFrame([], "k long, a string, b int, c double")
    new = spark.createDataFrame([], "k long, a string, b bigint, d date")
    got = schema_diff(old, new)
    by_col = {r["column"]: r["change"] for r in got}
    assert by_col == {"d": "added", "c": "removed", "b": "type_changed"}
    assert schema_diff(old, old) == []


def _make_ppm(w, h, fn):
    """Build a P6 PPM where pixel (y, x) = fn(y, x) -> (r, g, b)."""
    body = bytearray()
    for y in range(h):
        for x in range(w):
            body.extend(fn(y, x))
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(body)


def _make_wav(samples, rate=8000):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_ppm_decode_features_exact(spark):
    """Real PPM decode through the Spark mapInPandas path: features match
    a direct numpy computation on a hand-built image, exactly."""
    import numpy as np

    from stadvdb_olap_spark.operators.multimodal import (
        decode_ppm,
        extract_features,
    )

    # 4x2: left half pure red, right half pure blue
    ppm = _make_ppm(4, 2, lambda y, x: (255, 0, 0) if x < 2 else (0, 0, 255))
    img = decode_ppm(ppm)
    assert img.shape == (2, 4, 3)
    assert img[0, 0].tolist() == [255, 0, 0] and img[1, 3].tolist() == [0, 0, 255]

    df = spark.createDataFrame([(1, bytearray(ppm))], ["doc_id", "content"])
    feats = extract_features(df, codec="ppm").collect()[0]
    f = feats["features"]
    assert feats["n_bytes"] == len(ppm)
    assert f[0] == pytest.approx(0.5)  # mean R: half the pixels
    assert f[1] == 0.0  # no green anywhere
    assert f[2] == pytest.approx(0.5)  # mean B
    # luminance std: two values (0.2126, 0.0722), half/half
    lum = np.array([0.2126] * 4 + [0.0722] * 4)
    assert f[3] == pytest.approx(float(lum.std()))
    assert f[5] == pytest.approx(2.0)  # aspect w/h = 4/2
    # malformed payload raises (quarantine upstream)
    with pytest.raises(Exception):
        extract_features(
            spark.createDataFrame([(2, bytearray(b"P6\n9 9\n255\nxx"))],
                                  ["doc_id", "content"]),
            codec="ppm",
        ).collect()


def test_ppm_resize_exact_pixels(spark):
    """Nearest-neighbor PPM resize through Spark: exact expected pixels,
    and the output is itself a valid PPM with updated metadata."""
    from stadvdb_olap_spark.operators.multimodal import decode_ppm, resize_media

    # 4x4 gradient: pixel value = 16*(4*y + x) in the red channel
    ppm = _make_ppm(4, 4, lambda y, x: (16 * (4 * y + x), 0, 0))
    df = spark.createDataFrame([(7, bytearray(ppm))], ["doc_id", "content"])
    out = resize_media(df, target_w=2, target_h=2, codec="ppm").collect()[0]
    assert out["meta"]["width"] == 2 and out["meta"]["format"] == "ppm"
    img = decode_ppm(bytes(out["content"]))
    # nearest-neighbor picks source rows/cols 0 and 2
    assert [[p[0] for p in row] for row in img] == [[0, 32], [128, 160]]


def test_wav_decode_features_exact(spark):
    """Real WAV decode via stdlib wave through Spark: RMS/peak/duration
    match the constructed signal."""
    from stadvdb_olap_spark.operators.multimodal import extract_features

    # constant full-scale-half square wave: +/-16384, 8000 samples @ 8kHz
    samples = [16384 if i % 2 == 0 else -16384 for i in range(8000)]
    wav = _make_wav(samples, rate=8000)
    df = spark.createDataFrame([(3, bytearray(wav))], ["doc_id", "content"])
    f = extract_features(df, codec="wav").collect()[0]["features"]
    assert f[0] == pytest.approx(0.5)  # RMS of +/-0.5 square
    assert f[1] == pytest.approx(0.5)  # peak
    assert f[2] == pytest.approx(1.0, rel=1e-3)  # alternating signs: zcr ~ 1
    assert f[3] == pytest.approx(0.0)  # DC offset
    assert f[4] == pytest.approx(1.0)  # 1 second
    assert f[5] == 1.0  # mono


def test_media_decode_quarantine(spark):
    """on_error='quarantine': corrupt blobs yield NULL features + the
    error message; good rows are untouched; default mode still raises —
    one bad blob must not kill a 100 TB job."""
    from stadvdb_olap_spark.operators.multimodal import extract_features

    good = _make_ppm(2, 2, lambda y, x: (10, 20, 30))
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"NOT A PPM"))],
        ["doc_id", "content"],
    )
    rows = {
        r["doc_id"]: r
        for r in extract_features(df, codec="ppm", on_error="quarantine").collect()
    }
    assert rows[1]["decode_error"] is None and rows[1]["features"] is not None
    assert rows[2]["features"] is None
    assert "ppm" in rows[2]["decode_error"]
    with pytest.raises(Exception):
        extract_features(df, codec="ppm").collect()


def test_y4m_roundtrip_and_frame_sampling_exact(spark):
    """decode_y4m(encode_y4m(frames)) returns the exact luma planes,
    and sample_frames_decoded emits every-Nth frame with timestamps,
    luma stats and fingerprints matching a direct numpy replay."""
    import hashlib

    import numpy as np

    from stadvdb_olap_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
        sample_frames_decoded,
    )

    rng = np.random.RandomState(7)
    frames = [rng.randint(0, 256, (4, 6)).astype(np.uint8) for _ in range(5)]
    payload = encode_y4m(frames, fps=(10, 1))
    w, h, num, den, got = decode_y4m(payload)
    assert (w, h, num, den) == (6, 4, 10, 1)
    assert len(got) == 5 and all((a == b).all() for a, b in zip(got, frames))

    df = spark.createDataFrame([(1, bytearray(payload))], ["doc_id", "content"])
    rows = {
        r["frame_no"]: r
        for r in sample_frames_decoded(df, every_n_frames=2).collect()
    }
    assert sorted(rows) == [0, 2, 4]
    import math

    for fno, r in rows.items():
        f = frames[fno]
        n = int(f.size)
        s1 = int(f.sum(dtype=np.int64))
        s2 = int((f.astype(np.int64) ** 2).sum())
        assert r["ts_ms"] == fno * 100
        # exact integer-moment replay (the operator's deterministic
        # formula); numpy's float mean/std agree to ~1 ulp
        assert r["mean_luma"] == s1 / (255.0 * n)
        assert r["std_luma"] == math.sqrt(n * s2 - s1 * s1) / (255.0 * n)
        lum = f.astype(np.float64) / 255.0
        assert r["mean_luma"] == pytest.approx(lum.mean(), rel=1e-12)
        assert r["std_luma"] == pytest.approx(lum.std(), rel=1e-12)
        assert r["frame_fingerprint"] == hashlib.md5(
            frames[fno].tobytes()
        ).hexdigest()
        assert r["decode_error"] is None

    # C420 (the ffmpeg default output) parses too: luma plane first.
    c420 = (
        b"YUV4MPEG2 W4 H2 F25:1 C420\nFRAME\n"
        + bytes(range(8))  # luma 2x4
        + bytes(4)  # chroma planes (skipped)
    )
    w, h, _, _, fr = decode_y4m(c420)
    assert (w, h) == (4, 2) and (fr[0].ravel() == np.arange(8)).all()

    # Odd dimensions: chroma planes subsample by ceil(), so a 5x3 C420
    # frame is 15 luma + 2*3*2 chroma bytes (not 15*3//2).
    odd = (
        b"YUV4MPEG2 W5 H3 C420\nFRAME\n"
        + bytes(range(15))  # luma 3x5
        + bytes(12)  # chroma 2 * ceil(5/2) * ceil(3/2)
    )
    w, h, _, _, fr = decode_y4m(odd)
    assert (w, h) == (5, 3) and (fr[0].ravel() == np.arange(15)).all()

    # malformed payloads raise (quarantine upstream)
    for bad in (b"JUNK", payload[:-3], b"YUV4MPEG2 W4 H2 Cweird\nFRAME\n"):
        with pytest.raises(ValueError):
            decode_y4m(bad)


def test_y4m_frame_sample_quarantine(spark):
    """on_error='quarantine': a corrupt video yields one NULL-stats row
    carrying the decode error while good rows sample normally."""
    import numpy as np

    from stadvdb_olap_spark.operators.multimodal import (
        encode_y4m,
        sample_frames_decoded,
    )

    ok = encode_y4m([np.zeros((2, 2), dtype=np.uint8)])
    df = spark.createDataFrame(
        [(1, bytearray(ok)), (2, bytearray(b"NOTVIDEO"))], ["doc_id", "content"]
    )
    rows = sample_frames_decoded(
        df, every_n_frames=1, on_error="quarantine"
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["decode_error"] is None
    assert len(by_doc[2]) == 1
    assert by_doc[2][0]["frame_no"] is None
    assert "y4m" in by_doc[2][0]["decode_error"]


def test_ffmpeg_codec_gates_cleanly_without_ffmpeg(spark):
    """codec='ffmpeg' is implemented (subprocess transcode to y4m) but
    binary-gated: on a runtime without ffmpeg it must fail with
    NotImplementedError naming the dependency. Mirrors the PIL gate."""
    from stadvdb_olap_spark.operators.multimodal import (
        _ffmpeg_available,
        sample_frames_decoded,
    )

    if _ffmpeg_available():
        pytest.skip("ffmpeg installed here; gate test targets bare runtimes")
    df = spark.createDataFrame([(1, bytearray(b"x"))], ["doc_id", "content"])
    with pytest.raises(Exception, match="ffmpeg binary"):
        sample_frames_decoded(df, codec="ffmpeg").collect()


def test_ffmpeg_transcode_matches_y4m_when_available(spark):
    """When ffmpeg IS available the transcode path must sample the same
    frame count and luma means as feeding y4m directly (shared parser).
    Skips on ffmpeg-less runtimes — the gate test above covers those."""
    import numpy as np

    from stadvdb_olap_spark.operators.multimodal import (
        _ffmpeg_available,
        sample_frames_decoded,
    )

    if not _ffmpeg_available():
        pytest.skip("no ffmpeg on this runtime")
    frames = [np.full((8, 8), v, dtype=np.uint8) for v in (0, 64, 128, 192)]
    from stadvdb_olap_spark.operators.multimodal import encode_y4m

    payload = encode_y4m(frames, fps=(10, 1))
    df = spark.createDataFrame([(1, bytearray(payload))], ["doc_id", "content"])
    direct = sample_frames_decoded(df, every_n_frames=1, codec="y4m").collect()
    via_ffmpeg = sample_frames_decoded(
        df, every_n_frames=1, codec="ffmpeg"
    ).collect()
    assert len(direct) == len(via_ffmpeg) == 4
    for a, b in zip(
        sorted(direct, key=lambda r: r["frame_no"]),
        sorted(via_ffmpeg, key=lambda r: r["frame_no"]),
    ):
        assert a["frame_no"] == b["frame_no"]
        assert a["mean_luma"] == pytest.approx(b["mean_luma"], abs=1e-2)


def test_pillow_codec_gates_cleanly_without_pil(spark):
    """codec='pillow' is implemented but import-gated: on a runtime
    without PIL it must fail with NotImplementedError naming the
    dependency (not an ImportError from deep inside a UDF)."""
    from stadvdb_olap_spark.operators.multimodal import (
        _pillow_available,
        extract_features,
        resize_media,
    )

    if _pillow_available():
        pytest.skip("PIL installed here; gate test targets PIL-less runtimes")
    ppm = _make_ppm(2, 2, lambda y, x: (10, 20, 30))
    df = spark.createDataFrame([(1, bytearray(ppm))], ["doc_id", "content"])
    with pytest.raises(Exception, match="pillow codec requires PIL"):
        extract_features(df, codec="pillow").collect()
    with pytest.raises(Exception, match="pillow codec requires PIL"):
        resize_media(df, target_w=1, target_h=1, codec="pillow").collect()


def test_pillow_features_match_ppm_on_same_pixels(spark):
    """When PIL IS available the pillow codec must produce the exact
    same feature vector as the PPM codec for identical pixel data
    (shared _image_stats), proving the two decode paths agree.
    Skips on PIL-less runtimes — the gate test above covers those."""
    from stadvdb_olap_spark.operators.multimodal import (
        _pillow_available,
        extract_features,
    )

    if not _pillow_available():
        pytest.skip("PIL not installed in this runtime")
    import io

    from PIL import Image

    ppm = _make_ppm(4, 3, lambda y, x: (x * 40, y * 50, (x + y) * 20))
    # encode the same pixels as PNG (lossless) for the pillow path
    from stadvdb_olap_spark.operators.multimodal import decode_ppm

    buf = io.BytesIO()
    Image.fromarray(decode_ppm(ppm)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, bytearray(ppm))], ["doc_id", "content"]
    )
    df_png = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], ["doc_id", "content"]
    )
    f_ppm = extract_features(df, codec="ppm").collect()[0]["features"]
    f_png = extract_features(df_png, codec="pillow").collect()[0]["features"]
    assert f_ppm == f_png


def test_semdedup_kept_set_is_independent(spark):
    """SemDeDup invariants on the fixture embeddings: (a) the kept set is
    an independent set under within-cluster T-similarity — no two KEPT
    rows of one cluster are mutual near-dups; (b) every dropped row has a
    lower-id same-cluster row within threshold (nothing dropped without a
    witness); (c) the keep flag is deterministic across runs."""
    import numpy as np

    from stadvdb_olap_spark.operators.similarity import semdedup
    from stadvdb_olap_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    T = 0.8
    out = semdedup(emb, n_clusters=4, threshold=T).collect()
    assert len(out) == emb.count()

    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def cos(a, b):
        return float(
            vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        )

    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append((r["vec_id"], r["keep"]))

    n_dropped = 0
    for members in by_cluster.values():
        kept = sorted(i for i, k in members if k)
        dropped = sorted(i for i, k in members if not k)
        n_dropped += len(dropped)
        for idx, i in enumerate(kept):
            for j in kept[:idx]:
                assert cos(i, j) < T, f"kept pair {i},{j} over threshold"
        ids = sorted(i for i, _ in members)
        for d in dropped:
            assert any(cos(d, j) >= T for j in ids if j < d), (
                f"row {d} dropped without a lower-id witness"
            )

    out2 = semdedup(emb, n_clusters=4, threshold=T).collect()
    assert {(r["vec_id"], r["keep"]) for r in out2} == {
        (r["vec_id"], r["keep"]) for r in out
    }


def test_semdedup_fixed_assignment_and_keep_policy(spark):
    """semdedup_fixed against a direct numpy replay: (a) every row's
    cluster is its max-cosine centroid with ties to the smallest
    centroid id; (b) keep == (no lower-id same-cluster row within
    threshold) — the exact SemDeDup policy, independently recomputed."""
    import numpy as np
    from pyspark.sql import functions as F

    from stadvdb_olap_spark.operators.similarity import semdedup_fixed
    from stadvdb_olap_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    T, C = 0.3, 8
    cents = emb.filter(F.col("vec_id") < C).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    out = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semdedup_fixed(emb, cents, threshold=T).collect()
    }
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    assert len(out) == len(vecs)

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    want_cluster = {
        i: min(
            (c for c in range(C)),
            key=lambda c: (-cos(v, vecs[c]), c),
        )
        for i, v in vecs.items()
    }
    assert {i: c for i, (c, _) in out.items()} == want_cluster
    for i, (c, keep) in out.items():
        witness = any(
            want_cluster[j] == c and cos(vecs[i], vecs[j]) >= T
            for j in vecs
            if j < i
        )
        assert keep == (not witness), f"row {i}: keep={keep}, witness={witness}"


def test_concat_pack_offsets_are_contiguous(spark):
    """concat_pack invariants: within each shard the start offsets tile
    the concatenated stream exactly (sorted starts are the running sum
    of weights, no gaps or overlaps), and every span count equals the
    chunk-boundary arithmetic."""
    from stadvdb_olap_spark.functions.text import token_count
    from stadvdb_olap_spark.operators.packing import concat_pack
    from stadvdb_olap_spark.sources.parquet import load_table

    ctx = 128
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    items = docs.select("doc_id", token_count("text").alias("n_tokens"))
    rows = concat_pack(items, ctx_len=ctx, n_shards=4).collect()
    assert len(rows) == docs.count()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for members in by_shard.values():
        members.sort(key=lambda r: r["start_off"])
        expect = 0
        for r in members:
            assert r["start_off"] == expect, "stream has a gap/overlap"
            first = r["start_off"] // ctx
            last = (r["start_off"] + r["n_tokens"] - 1) // ctx
            assert r["chunk_first"] == first
            assert r["n_chunks_spanned"] == last - first + 1
            expect += r["n_tokens"]


def test_bpe_pinned_encode_matches_greedy_reference(spark):
    """The replace-chain encoder behind bpe_encode_pinned_docs produces
    the same symbol count as a direct greedy BPE (apply each published
    merge to fixpoint, in rank order) for EVERY distinct fixture token —
    proving the two-pass replace device loses nothing on this
    vocabulary."""
    import duckdb

    from stadvdb_olap_spark.plans.curation_queries import (
        _BPE_MERGES,
        _bpe_symcount_sql,
    )

    def greedy_symbols(word: str) -> int:
        syms = list(word) + ["</w>"]
        for left, right in _BPE_MERGES:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == left and syms[i + 1] == right:
                    syms[i : i + 2] = [left + right]
                else:
                    i += 1
        return len(syms)

    toks = {
        t
        for (txt,) in duckdb.sql(
            "SELECT text FROM '/root/testdata/sf0.001/documents.parquet'"
        ).fetchall()
        for t in txt.strip().lower().split()
    }
    con = duckdb.connect()
    for tok in sorted(toks):
        got = con.execute(
            f"SELECT {_bpe_symcount_sql('?')}", [tok]
        ).fetchone()[0]
        assert got == greedy_symbols(tok), f"token {tok!r}"


def test_split_column_deterministic_and_total(spark):
    """The extracted split device: every id gets exactly one split,
    assignment is a pure function of the id (stable across calls and
    partitionings), and the three buckets are all populated at corpus
    size with roughly the 80/10/10 design weights."""
    from stadvdb_olap_spark.operators.mixture import split_column

    ids = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["s"] for r in ids.select(
        "doc_id", split_column("doc_id").alias("s")).collect()}
    b = {r["doc_id"]: r["s"] for r in ids.repartition(7).select(
        "doc_id", split_column("doc_id").alias("s")).collect()}
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.7 < c["train"] / 2000 < 0.9
    assert 0.05 < c["val"] / 2000 < 0.15
    assert 0.05 < c["test"] / 2000 < 0.15


def test_widened_type_lattice():
    """_widened_type: symmetric, idempotent, and exactly the documented
    value-preserving pairs — nothing else resolves."""
    import pytest
    from pyspark.sql import types as T

    from stadvdb_olap_spark.operators.merge import _widened_type

    ok = [
        (T.IntegerType(), T.LongType(), T.LongType()),
        (T.ByteType(), T.ShortType(), T.ShortType()),
        (T.FloatType(), T.DoubleType(), T.DoubleType()),
        (T.IntegerType(), T.DoubleType(), T.DoubleType()),
        (T.DateType(), T.TimestampType(), T.TimestampType()),
        (T.StringType(), T.StringType(), T.StringType()),
    ]
    for a, b, want in ok:
        assert _widened_type(a, b) == want
        assert _widened_type(b, a) == want
    bad = [
        (T.LongType(), T.DoubleType()),   # > 2^53 not exact
        (T.LongType(), T.FloatType()),
        (T.StringType(), T.LongType()),
        (T.TimestampType(), T.StringType()),
        (T.BooleanType(), T.IntegerType()),
    ]
    for a, b in bad:
        with pytest.raises(ValueError):
            _widened_type(a, b)
        with pytest.raises(ValueError):
            _widened_type(b, a)


def test_resolve_late_arriving_placeholder_guard_bidirectional(spark):
    """Both mismatch directions raise up front: string placeholder on a
    LONG surrogate AND numeric placeholder on a STRING surrogate (the
    latter used to slip through and coalesce coerced -1 -> '-1')."""
    import pytest

    from stadvdb_olap_spark.operators.fact import resolve_late_arriving

    fact = spark.createDataFrame([(1, "k1")], ["id", "nk"])
    long_map = spark.createDataFrame([("k1", 10)], ["nk", "surrogate_key"])
    str_map = spark.createDataFrame([("k1", "s10")], ["nk", "surrogate_key"])

    with pytest.raises(ValueError, match="does not match"):
        resolve_late_arriving(
            fact, long_map, long_map, "nk", "nk", placeholder="__unresolved__"
        )
    with pytest.raises(ValueError, match="does not match"):
        resolve_late_arriving(
            fact, str_map, str_map, "nk", "nk", placeholder=-1
        )
    # matched types still work in both worlds
    out_long = resolve_late_arriving(
        fact, long_map, long_map, "nk", "nk", placeholder=-1
    )
    assert out_long.count() == 1
    out_str = resolve_late_arriving(
        fact, str_map, str_map, "nk", "nk", placeholder="__unresolved__"
    )
    assert out_str.count() == 1


def test_orphan_repair_roundtrip_zero_residual_for_arrived_keys(spark):
    """The DQ-loop guarantee behind orphan_fk_repair_roundtrip_orders:
    after the repair pass, the orphan rate is EXACTLY ZERO for every
    fact key whose dimension row arrived in the refreshed snapshot —
    placeholders only ever remain for keys still absent from v2."""
    from stadvdb_olap_spark.functions.keys import surrogate_key
    from stadvdb_olap_spark.operators.fact import resolve_late_arriving
    from stadvdb_olap_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    key_map = load_table(spark, sf, "customer").select(
        F.col("c_custkey"),
        surrogate_key(["c_custkey"], method="md5").alias("surrogate_key"),
    )
    v1 = key_map.filter(F.col("c_custkey") % 10 != 3)
    v2 = key_map.filter(F.col("c_custkey") % 100 != 33)
    out = resolve_late_arriving(
        orders, v1, v2, fact_key="o_custkey", map_key="c_custkey",
        out_col="customer_sk",
    ).persist()
    try:
        arrived_late = out.filter(
            F.col("was_late") & (F.col("o_custkey") % 100 != 33)
        )
        assert arrived_late.count() > 0  # the scenario actually fires
        assert (
            arrived_late.filter(
                (~F.col("repaired"))
                | (F.col("customer_sk") == "__unresolved__")
            ).count()
            == 0
        )
        still_missing = out.filter(F.col("o_custkey") % 100 == 33)
        assert still_missing.count() > 0
        assert (
            still_missing.filter(
                F.col("repaired")
                | (F.col("customer_sk") != "__unresolved__")
            ).count()
            == 0
        )
    finally:
        out.unpersist()


def test_kmeans_lloyd_step_properties(spark):
    """One Lloyd iteration: (a) every input vector is counted in exactly
    one cell (n_members sums to N), (b) an empty cell carries its OLD
    centroid forward with n_members=0 (total step), (c) a singleton
    cell's refined centroid equals its lone member exactly."""
    from stadvdb_olap_spark.operators.similarity import kmeans_lloyd_step

    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [10.0, 10.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [100.0, 100.0])],
        "cid long, cv array<double>",
    )
    out = {r["cid"]: r for r in kmeans_lloyd_step(df, cents).collect()}
    assert sum(r["n_members"] for r in out.values()) == len(rows)
    # cell 2 is empty: old centroid carried forward
    assert out[2]["n_members"] == 0 and out[2]["cv"] == [100.0, 100.0]
    # cell 1 is a singleton: refined centroid == its member
    assert out[1]["n_members"] == 1 and out[1]["cv"] == [10.0, 10.0]
    # cell 0 mean of three members, exact dyadic-free check via sum/3
    got = out[0]["cv"]
    assert got[0] == (0.0 + 0.9 + 1.0) / 3 and got[1] == (0.0 + 0.0 + 0.1) / 3


def test_ahash_bands_exact_and_resample(spark):
    """aHash bits are the strict 64*l > sum(l) threshold in row-major
    MSB-first band order, and non-8x8 sources go through the same
    nearest-neighbor index map as resize_media."""
    import numpy as np

    from stadvdb_olap_spark.operators.multimodal import (
        ahash_bands,
        encode_ppm,
    )

    # top half black, bottom half white -> bits rows 0-3 zero, 4-7 one
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[4:] = 255
    # 16x16 upscale of the same image must hash identically (NN resample)
    big = np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)
    # all-constant image: no pixel is strictly above the mean -> all zero
    flat = np.full((8, 8, 3), 7, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_ppm(img))),
            (2, bytearray(encode_ppm(big))),
            (3, bytearray(encode_ppm(flat))),
            (4, bytearray(b"nonsense")),
        ],
        "image_id long, content binary",
    )
    # non-default id_col: the output still publishes as doc_id
    rows = {r["doc_id"]: r for r in ahash_bands(df, id_col="image_id").collect()}
    assert (rows[1]["b0"], rows[1]["b1"], rows[1]["b2"], rows[1]["b3"]) == (
        0, 0, 65535, 65535,
    )
    assert [rows[2][f"b{k}"] for k in range(4)] == [0, 0, 65535, 65535]
    assert [rows[3][f"b{k}"] for k in range(4)] == [0, 0, 0, 0]
    assert rows[4]["b0"] is None and "ppm" in rows[4]["decode_error"]


def test_near_dup_pairs_ahash_blocking(spark):
    """A one-pixel perturbation pairs with its original at small
    Hamming distance; an inverted image shares NO band with the
    original (banding blocks it before any distance math)."""
    import numpy as np

    from stadvdb_olap_spark.operators.multimodal import (
        ahash_bands,
        encode_ppm,
        near_dup_pairs_ahash,
    )

    rng_img = np.zeros((8, 8, 3), dtype=np.uint8)
    rng_img[4:] = 255
    near = rng_img.copy()
    near[0, 0, 0] = 3  # tiny bump, stays below the mean -> bit unchanged
    inverted = (255 - rng_img).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (10, bytearray(encode_ppm(rng_img))),
            (11, bytearray(encode_ppm(near))),
            (12, bytearray(encode_ppm(inverted))),
        ],
        "doc_id long, content binary",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in near_dup_pairs_ahash(ahash_bands(df), max_hamming=6).collect()
    }
    assert pairs == {(10, 11): 0}


def test_grid_radius_join_equals_bruteforce(spark):
    """grid_radius_join == the naive all-pairs filter on a deterministic
    point cloud spanning negative coordinates (floor-division cells) and
    a dense hot cell (many points at near-identical positions)."""
    import hashlib

    from stadvdb_olap_spark.operators.spatial import grid_radius_join

    pts = []
    for i in range(120):
        h = hashlib.md5(f"pt:{i}".encode()).hexdigest()
        # spread over [-200, 312): crosses cell boundaries and zero
        pts.append((i, int(h[:3], 16) % 512 - 200, int(h[3:6], 16) % 512 - 200))
    # hot cell: 15 points jammed within a few units of (-7, -7)
    for i in range(120, 135):
        pts.append((i, -7 + (i % 4), -7 - (i % 3)))
    r = 40
    want = {
        (a, b, (xa - xb) ** 2 + (ya - yb) ** 2)
        for (a, xa, ya) in pts
        for (b, xb, yb) in pts
        if a < b and (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r
    }
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        (row["id_a"], row["id_b"], row["dist_sq"])
        for row in grid_radius_join(df, r).collect()
    }
    assert got == want and len(want) > 120


def test_audio_energy_fingerprint_bits_and_pairing(spark):
    """Fingerprint bits are the strict frame-energy delta signs; a
    one-sample amplitude nudge pairs with its original while an
    energy-reversed clip shares no band; too-short clips quarantine."""
    import io
    import struct
    import wave

    from stadvdb_olap_spark.operators.multimodal import (
        audio_energy_fingerprint,
        near_dup_pairs_ahash,
    )

    def wav(samples):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(b"".join(struct.pack("<h", s) for s in samples))
        return bytearray(buf.getvalue())

    # strictly rising frame energy: every delta bit = 1 -> bands all 63
    rising = [((f * 16 + j) // 16 + 1) * 50 for f in range(25) for j in range(16)]
    near = list(rising)
    near[0] += 7  # frame 0 energy nudged up, still < frame 1 -> bits keep
    falling = list(reversed(rising))  # every delta bit = 0 -> bands all 0
    df = spark.createDataFrame(
        [
            (1, wav(rising)),
            (2, wav(near)),
            (3, wav(falling)),
            (4, wav([100] * 64)),  # 4 frames < 25 -> quarantine
        ],
        "doc_id long, content binary",
    )
    rows = {r["doc_id"]: r for r in audio_energy_fingerprint(df).collect()}
    assert [rows[1][f"b{k}"] for k in range(4)] == [63, 63, 63, 63]
    assert [rows[3][f"b{k}"] for k in range(4)] == [0, 0, 0, 0]
    assert rows[4]["b0"] is None and "25 frames" in rows[4]["decode_error"]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in near_dup_pairs_ahash(
            audio_energy_fingerprint(df), max_hamming=4
        ).collect()
    }
    assert pairs == {(1, 2): 0}


def test_range_fingerprints_localize_damage(spark):
    """Equal copies produce identical range summaries regardless of
    partitioning; corrupting ONE row flips exactly that key's bucket
    checksum (and nothing else); dropping a row flips only that
    bucket's count."""
    from stadvdb_olap_spark.operators.reconcile import range_fingerprints

    rows = [(i, f"v{i}") for i in range(1, 501)]
    a = spark.createDataFrame(rows, "k long, v string").repartition(13)
    b = spark.createDataFrame(list(reversed(rows)), "k long, v string")
    fp = lambda df: {
        r["bucket"]: (r["n_rows"], r["lo_key"], r["hi_key"], r["checksum"])
        for r in range_fingerprints(df, "k", 100).collect()
    }
    assert fp(a) == fp(b) and len(fp(a)) == 6  # buckets 0..5
    corrupted = spark.createDataFrame(
        [(k, "XX" if k == 250 else v) for k, v in rows], "k long, v string"
    )
    diff = {bk for bk in fp(a) if fp(a)[bk] != fp(corrupted)[bk]}
    assert diff == {2}  # 250 DIV 100
    dropped = spark.createDataFrame(
        [(k, v) for k, v in rows if k != 499], "k long, v string"
    )
    fa, fd = fp(a), fp(dropped)
    assert {bk for bk in fa if fa[bk][0] != fd[bk][0]} == {4}


def test_hilbert_key_is_a_hilbert_curve(spark):
    """The unrolled hilbert_key_pinned walk really is a Hilbert curve:
    bijective onto 0..255 over the 16x16 grid, consecutive indices are
    unit-step adjacent (the locality property Morton lacks), and every
    value matches the classic xy2d reference."""
    from pyspark.sql import functions as F

    from stadvdb_olap_spark.operators.maintenance import hilbert_key_pinned

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    cells = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(cells, "x long, y long")
    got = {
        (r["x"], r["y"]): r["h"]
        for r in df.select(
            "x", "y", hilbert_key_pinned(F.col("x"), F.col("y")).alias("h")
        ).collect()
    }
    assert got == {(x, y): xy2d(16, x, y) for x, y in cells}
    inv = {d: xy for xy, d in got.items()}
    assert sorted(inv) == list(range(256))
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(255)
    )


def test_scd2_validity_audit_rules(spark):
    """A clean scd2_history passes all four validity rules; each damage
    type fires exactly its own rule."""
    import datetime as dt

    from pyspark.sql import functions as F

    from stadvdb_olap_spark.operators.dimension import (
        scd2_history,
        scd2_validity_audit,
    )

    changes = spark.createDataFrame(
        [
            (1, "A", dt.datetime(2024, 1, 1), 1),
            (1, "B", dt.datetime(2024, 2, 1), 2),
            (1, "C", dt.datetime(2024, 3, 1), 3),
            (2, "A", dt.datetime(2024, 1, 5), 4),
            (2, "B", dt.datetime(2024, 1, 9), 5),
        ],
        "k long, attr string, ts timestamp, seq long",
    )
    hist = scd2_history(
        changes, keys=["k"], attrs=["attr"], ts_col="ts", tiebreak=["seq"]
    ).select(
        "k",
        F.to_date("effective_from").alias("effective_from"),
        F.to_date("effective_to").alias("effective_to"),
        "version",
        "is_current",
    )
    clean = {r["rule"]: (r["n_violating_keys"], r["n_violations"])
             for r in scd2_validity_audit(hist, ["k"]).collect()}
    assert clean == {
        "overlap": (0, 0), "gap": (0, 0),
        "bad_current_count": (0, 0), "version_holes": (0, 0),
    }

    # drop key 1's middle version: gap + version hole, current intact
    holey = hist.where(~((F.col("k") == 1) & (F.col("version") == 2)))
    got = {r["rule"]: (r["n_violating_keys"], r["n_violations"])
           for r in scd2_validity_audit(holey, ["k"]).collect()}
    assert got["gap"] == (1, 1) and got["version_holes"] == (1, 1)
    assert got["overlap"] == (0, 0) and got["bad_current_count"] == (0, 0)

    # bump key 2 v1's effective_to: overlap only
    bumped = hist.withColumn(
        "effective_to",
        F.when(
            (F.col("k") == 2) & (F.col("version") == 1),
            F.date_add("effective_to", 2),
        ).otherwise(F.col("effective_to")),
    )
    got = {r["rule"]: (r["n_violating_keys"], r["n_violations"])
           for r in scd2_validity_audit(bumped, ["k"]).collect()}
    assert got["overlap"] == (1, 1) and got["gap"] == (0, 0)

    # drop key 1's current row: bad_current_count fires; versions stay
    # dense (1..2), so the hole rule correctly does NOT — a truncated
    # tail is a currency defect, not a numbering defect
    nocur = hist.where(~((F.col("k") == 1) & F.col("is_current")))
    got = {r["rule"]: (r["n_violating_keys"], r["n_violations"])
           for r in scd2_validity_audit(nocur, ["k"]).collect()}
    assert got["bad_current_count"] == (1, 1)
    assert got["version_holes"] == (0, 0)

    # duplicate version compensating a hole (1,2,2 instead of 1,2,3):
    # min/max/count alone would miss it; the distinctness term fires
    dup = hist.withColumn(
        "version",
        F.when((F.col("k") == 1) & (F.col("version") == 3), 2)
        .otherwise(F.col("version")),
    )
    got = {r["rule"]: (r["n_violating_keys"], r["n_violations"])
           for r in scd2_validity_audit(dup, ["k"]).collect()}
    assert got["version_holes"] == (1, 1)

    # empty history is vacuously valid: four ZERO rows, never NULLs
    empty = {r["rule"]: (r["n_violating_keys"], r["n_violations"])
             for r in scd2_validity_audit(
                 hist.where(F.lit(False)), ["k"]).collect()}
    assert empty == {
        "overlap": (0, 0), "gap": (0, 0),
        "bad_current_count": (0, 0), "version_holes": (0, 0),
    }


def test_scd2_validity_audit_nonterminal_open_end(spark):
    """A NULL effective_to on a NON-terminal version means 'valid
    forever' alongside later versions — a PIT join would double-match,
    so the audit must count it as an overlap even though NULL compares
    UNKNOWN (the vendor-feed corruption the audit exists to catch)."""
    import datetime as dt

    from stadvdb_olap_spark.operators.dimension import scd2_validity_audit

    hist = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 1), None, 1, True),
            (1, dt.date(2024, 2, 1), dt.date(2024, 3, 1), 2, False),
        ],
        "k long, effective_from date, effective_to date,"
        " version int, is_current boolean",
    )
    got = {r["rule"]: (r["n_violating_keys"], r["n_violations"])
           for r in scd2_validity_audit(hist, ["k"]).collect()}
    assert got["overlap"] == (1, 1)


def test_apply_cdc_null_key_roundtrip(spark):
    """NULL-keyed rows round-trip through generate->apply: the apply
    anti-join must match keys null-safely like generate does, or a
    NULL-keyed update duplicates the row and a NULL-keyed delete is
    ignored."""
    from stadvdb_olap_spark.operators.merge import apply_cdc, generate_cdc

    old = spark.createDataFrame(
        [(None, "x"), (1, "k1"), (2, "k2")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(None, "y"), (1, "k1")], "k long, v string"  # NULL updated, 2 deleted
    )
    feed = generate_cdc(old, new, ["k"])
    got = sorted(
        ((r["k"], r["v"]) for r in apply_cdc(old, feed, ["k"]).collect()),
        key=str,
    )
    want = sorted(((r["k"], r["v"]) for r in new.collect()), key=str)
    assert got == want


def test_widened_type_int_float_meet_at_double(spark):
    """int32-and-below vs float32 share no ladder but both embed exactly
    in a double — the cross-family meet; long vs float still raises."""
    import pytest
    from pyspark.sql import types as T

    from stadvdb_olap_spark.operators.merge import _widened_type, merge_scd1

    assert _widened_type(T.IntegerType(), T.FloatType()) == T.DoubleType()
    assert _widened_type(T.FloatType(), T.ShortType()) == T.DoubleType()
    with pytest.raises(ValueError):
        _widened_type(T.LongType(), T.FloatType())

    tgt = spark.createDataFrame([(1, 7)], "k long, v int")
    src = spark.createDataFrame(
        [(2, 1.5)], "k long, v float"
    )
    out = merge_scd1(tgt, src, ["k"], schema_evolution=True)
    assert dict(out.dtypes)["v"] == "double"
    assert {(r["k"], r["v"]) for r in out.collect()} == {(1, 7.0), (2, 1.5)}


def test_dedup_similarity_guardrails(spark):
    """Fail-fast guards: indivisible LSH bands, simhash bits >= 64, LSH
    plane-dim mismatch, and the GEMM path's empty-query frame; NULL /
    whitespace-only docs are excluded from near-dup candidacy instead
    of all colliding on the degenerate empty band key."""
    import pytest
    from pyspark.sql import functions as F

    from stadvdb_olap_spark.operators.similarity import (
        cosine_topk_pandas,
        lsh_bucketed_topk,
    )
    from stadvdb_olap_spark.operators.text_dedup import (
        lsh_candidate_pairs,
        minhash_band_keys,
        minhash_signatures,
        simhash,
        simhash_sql,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, None), (4, "   "), (5, None)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="not divisible"):
        minhash_band_keys(
            minhash_signatures(docs, "doc_id", "text", 8), "doc_id", 8, 3
        )
    with pytest.raises(ValueError, match=r"\[1, 63\]"):
        simhash("text", bits=64)
    with pytest.raises(ValueError, match=r"\[1, 63\]"):
        simhash_sql("text", bits=64)

    # contentless docs never pair: only the true duplicate pair remains
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(docs, "doc_id", "text").collect()
    }
    assert pairs == {(1, 2)}

    vecs = spark.createDataFrame(
        [(1, [1.0] * 128), (2, [0.5] * 128)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="plane dim"):
        lsh_bucketed_topk(vecs, vecs, dim=64).collect()

    empty = vecs.where(F.lit(False))
    out = cosine_topk_pandas(empty, vecs)
    assert out.count() == 0 and out.columns == [
        "query_id", "neighbor_id", "cosine", "rank",
    ]

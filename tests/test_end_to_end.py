"""End-to-end star-schema warehouse test (SURVEY.md §5 item 3): run the
full dim→fact pipeline on the fixtures, persist the warehouse, and assert
the three properties the reference's upsert loop was meant to guarantee —
key-map completeness, referential integrity of fact FKs, and idempotence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded
from stadvdb_olap_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"

_ensure_loaded()


def _build_warehouse(spark, base):
    """Persist dims + fact exactly as a deployment would."""
    from stadvdb_olap_spark.functions.cleaning import normalize_date
    from stadvdb_olap_spark.functions.keys import surrogate_key
    from stadvdb_olap_spark.operators.dimension import build_dimension

    cust = load_table(spark, SF_DIR, "customer")
    part = load_table(spark, SF_DIR, "part")
    nation = load_table(spark, SF_DIR, "nation")
    orders = load_table(spark, SF_DIR, "orders")

    dims = {
        "dim_user": build_dimension(
            cust, ["c_name"], ["c_nationkey", "c_acctbal"], ["c_custkey"],
            key_method="md5",
        ).table,
        "dim_product": build_dimension(
            part, ["p_name", "p_type"], ["p_retailprice"], ["p_partkey"],
            key_method="md5",
        ).table,
        "dim_location": build_dimension(
            nation, ["n_name"], [], ["n_nationkey"], key_method="md5"
        ).table,
        "dim_date": orders.select(
            normalize_date("o_orderdate").alias("order_date")
        )
        .distinct()
        .select(
            surrogate_key(["order_date"], method="md5").alias("surrogate_key"),
            "order_date",
        ),
    }
    for name, df in dims.items():
        df.write.mode("overwrite").parquet(f"{base}/{name}")
    REGISTRY["fact_star"].fn(spark, SF_DIR).write.mode("overwrite").parquet(
        f"{base}/fact_sales"
    )


def _content_hash(df):
    cols = sorted(df.columns)
    return (
        df.select(F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")))
        .collect()[0][0]
    )


def test_warehouse_integrity_and_idempotence(spark, tmp_path):
    base1 = str(tmp_path / "wh1")
    _build_warehouse(spark, base1)

    fact = spark.read.parquet(f"{base1}/fact_sales")
    n_fact = fact.count()
    assert n_fact > 0

    # Referential integrity: every fact FK resolves in its dimension.
    for fk, dim_name in [
        ("user_sk", "dim_user"),
        ("product_sk", "dim_product"),
        ("location_sk", "dim_location"),
        ("date_sk", "dim_date"),
    ]:
        dim = spark.read.parquet(f"{base1}/{dim_name}")
        dangling = fact.join(
            dim, fact[fk] == dim["surrogate_key"], "left_anti"
        ).count()
        assert dangling == 0, f"{dangling} fact rows dangle on {fk}"
        # surrogate keys are unique within the dimension
        assert dim.count() == dim.select("surrogate_key").distinct().count()

    # Degenerate dimension is unique post-dedup.
    assert fact.select("order_number").distinct().count() == n_fact

    # Idempotence: rebuilding from the same inputs yields byte-identical
    # content (deterministic keys + deterministic dedup).
    base2 = str(tmp_path / "wh2")
    _build_warehouse(spark, base2)
    for t in ["dim_user", "dim_product", "dim_location", "dim_date", "fact_sales"]:
        a = spark.read.parquet(f"{base1}/{t}")
        b = spark.read.parquet(f"{base2}/{t}")
        assert _content_hash(a) == _content_hash(b), f"{t} not reproducible"


def test_run_pipeline_all_stages_and_written_star(spark, tmp_path):
    from stadvdb_olap_spark.app import run_pipeline

    out = str(tmp_path / "warehouse")
    report = run_pipeline(spark, "/root/testdata/sf0.001", out_dir=out)
    assert list(report) == [
        "dim_customer", "dim_location", "dim_date", "dim_part", "fact_star"
    ]
    for stage, m in report.items():
        assert m["rows"] > 0, stage
        assert m["seconds"] >= 0
    # the written star is re-readable and row-stable
    fact = spark.read.parquet(out + "/fact_star")
    assert fact.count() == report["fact_star"]["rows"]


def test_cli_list_run_explain(spark, capsys):
    """The __main__ CLI surfaces the catalog: list filters, run prints
    rows, explain prints a physical plan; unknown names exit 2."""
    from stadvdb_olap_spark.__main__ import main

    assert main(["list", "markov_event"]) == 0
    out = capsys.readouterr().out
    assert "markov_event_transitions" in out and "1 queries" in out

    assert main([
        "run", "events_by_type", "--sf-dir", "/root/testdata/sf0.001",
        "--json",
    ]) == 0
    out = capsys.readouterr().out
    assert '"event_type"' in out

    assert main([
        "explain", "events_by_type", "--sf-dir", "/root/testdata/sf0.001",
    ]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out

    assert main(["run", "no_such_query"]) == 2


def test_run_curation_pipeline_invariants(spark, tmp_path):
    """The 7-stage curation DAG: stage ordering, monotone retention
    through the filter/dedup stages, layout row conservation, manifest
    consistency with the written layout, and run-to-run determinism."""
    from stadvdb_olap_spark.curation_app import run_curation_pipeline

    out = str(tmp_path / "corpus")
    report = run_curation_pipeline(spark, "/root/testdata/sf0.001", out_dir=out)
    assert list(report) == [
        "screen", "scrub", "dedup_exact", "dedup_near", "decontaminate",
        "layout", "manifest",
    ]
    r = {k: v["rows"] for k, v in report.items()}
    assert all(m["seconds"] >= 0 for m in report.values())
    # filters/dedups only ever drop rows; scrub and layout preserve
    assert r["scrub"] == r["screen"]
    assert r["dedup_exact"] <= r["scrub"]
    assert r["dedup_near"] <= r["dedup_exact"]
    assert r["decontaminate"] <= r["dedup_near"]
    assert r["layout"] == r["decontaminate"]
    assert 0 < r["decontaminate"] < 500  # every stage actually bites
    assert 0 < r["manifest"] <= 8

    layout = spark.read.parquet(out + "/layout")
    manifest = spark.read.parquet(out + "/manifest")
    assert layout.count() == r["layout"]
    # manifest doc/token totals equal the layout's
    m = manifest.agg(
        F.sum("n_docs").alias("d"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    l = layout.agg(
        F.count(F.lit(1)).alias("d"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    assert (m["d"], m["t"]) == (l["d"], l["t"])
    # per-shard offsets tile the concatenated stream exactly
    for row in layout.groupBy("shard").agg(
        F.sum("n_tokens").alias("tot"),
        F.max(F.col("start_off") + F.col("n_tokens")).alias("end"),
    ).collect():
        assert row["tot"] == row["end"]

    # determinism: a second run reproduces rows and manifest checksums
    out2 = str(tmp_path / "corpus2")
    report2 = run_curation_pipeline(spark, "/root/testdata/sf0.001", out_dir=out2)
    assert {k: v["rows"] for k, v in report2.items()} == r
    m1 = {tuple(x) for x in manifest.collect()}
    m2 = {tuple(x) for x in spark.read.parquet(out2 + "/manifest").collect()}
    assert m1 == m2


def test_curation_app_policies_match_certified_queries(spark):
    """The app-embedded near-dedup survivorship and graded
    decontamination run the SAME shared operators the hash-certified
    standalone queries run (text_dedup.survivor_longest /
    mixture.contamination_scores). This pins the query bodies to those
    shared code paths: if either query is ever rewritten away from the
    operator, the bit-for-bit agreement here breaks."""
    from stadvdb_olap_spark.operators.mixture import (
        contamination_scores,
        split_column,
    )
    from stadvdb_olap_spark.operators.text_dedup import survivor_longest
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded
    from stadvdb_olap_spark.sources.parquet import load_table

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")

    q_surv = REGISTRY["dedup_survivor_longest_docs"].fn(spark, sf)
    d_surv = survivor_longest(docs, "doc_id", "text", 0.2, 16, 2, 3)
    assert sorted(map(tuple, q_surv.collect())) == sorted(
        map(tuple, d_surv.collect())
    )

    q_cont = REGISTRY["contamination_score_docs"].fn(spark, sf)
    with_split = docs.withColumn("split", split_column("doc_id"))
    d_cont = contamination_scores(
        with_split.filter(F.col("split") == "train"),
        with_split.filter(F.col("split") != "train"),
    )
    assert sorted(map(tuple, q_cont.collect())) == sorted(
        map(tuple, d_cont.collect())
    )


def test_run_pipeline_on_delta_format_with_time_travel(spark, tmp_path):
    """table_format='delta': every stage lands as one Delta-log
    overwrite version, the report carries the committed versions, the
    caller's OPTIMIZE composes with the load, and a SECOND run leaves
    the first build time-travelable — the lakehouse-sink loop end to
    end."""
    from stadvdb_olap_spark.app import run_pipeline
    from stadvdb_olap_spark.sources.delta_log import (
        compact_table,
        read_delta,
        table_history,
    )

    out = str(tmp_path / "warehouse")
    r1 = run_pipeline(
        spark, "/root/testdata/sf0.001", out_dir=out,
        table_format="delta",
    )
    for stage, m in r1.items():
        assert m["rows"] > 0, stage
        assert "delta_version" in m, stage
    fact_dir = out + "/fact_star"
    v1 = r1["fact_star"]["delta_version"]
    optimize_version = compact_table(spark, fact_dir, target_files=2)
    assert read_delta(spark, fact_dir).count() == r1["fact_star"]["rows"]

    # second load: new overwrite version; first build still readable
    r2 = run_pipeline(
        spark, "/root/testdata/sf0.001", out_dir=out, table_format="delta"
    )
    v2 = r2["fact_star"]["delta_version"]
    assert v2 > v1
    assert read_delta(spark, fact_dir).count() == r2["fact_star"]["rows"]
    assert (
        read_delta(spark, fact_dir, version=v1).count()
        == r1["fact_star"]["rows"]
    )
    ops = [h["operation"] for h in table_history(fact_dir)]
    assert "PIPELINE LOAD" in ops
    # OPTIMIZE commits only when the live set exceeds target_files
    # (AQE often coalesces these small builds to one file — a no-op
    # compaction must NOT burn an empty version); the returned version
    # reflects whichever happened.
    if "OPTIMIZE" in ops:
        assert optimize_version > v1
    else:
        assert optimize_version == v1


def test_run_pipeline_concurrent_landing(spark, duck, tmp_path):
    """The five stages land concurrently: the report keeps stage order,
    every table equals its catalog oracle, and the Delta landing
    region's timestamp-type pin is undone afterwards."""
    from stadvdb_olap_spark.app import run_pipeline
    from stadvdb_olap_spark.sources.delta_log import read_delta
    from tests.conftest import assert_frames_match

    ts_key = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(ts_key, None)
    out = str(tmp_path / "warehouse")
    report = run_pipeline(spark, SF_DIR, out_dir=out, table_format="delta")
    assert list(report) == [
        "dim_customer", "dim_location", "dim_date", "dim_part", "fact_star"
    ]
    for name, m in report.items():
        table = read_delta(spark, f"{out}/{name}")
        assert table.count() == m["rows"], name
        assert_frames_match(table, duck.execute(REGISTRY[name].oracle), name)
    assert spark.conf.get(ts_key, None) == prior


def test_run_pipeline_reraises_first_failure_after_others_commit(
    spark, tmp_path, monkeypatch
):
    """One stage failing while it lands and a later one failing while it
    builds: the other three stages still commit, and the error raised is
    the first in STAGE order (the landing failure), not in time."""
    import dataclasses

    from stadvdb_olap_spark.app import run_pipeline
    from stadvdb_olap_spark.sources.delta_log import read_delta, table_versions

    def fails_landing(spark, sf_dir):
        return spark.range(3).select(
            F.raise_error(F.lit("dim_location landing boom")).cast("string").alias("v")
        )

    def fails_build(spark, sf_dir):
        raise RuntimeError("dim_part build boom")

    for name, fn in (("dim_location", fails_landing), ("dim_part", fails_build)):
        monkeypatch.setitem(REGISTRY, name, dataclasses.replace(REGISTRY[name], fn=fn))
    out = str(tmp_path / "warehouse")
    with pytest.raises(Exception, match="dim_location landing boom"):
        run_pipeline(spark, SF_DIR, out_dir=out, table_format="delta")
    for name in ("dim_customer", "dim_date", "fact_star"):
        assert table_versions(f"{out}/{name}") == [0], name
        assert read_delta(spark, f"{out}/{name}").count() > 0, name
    for name in ("dim_location", "dim_part"):
        assert not table_versions(f"{out}/{name}"), name


def test_run_curation_pipeline_on_delta_format(spark, tmp_path):
    """Curation layout/manifest stages land as Delta versions and read
    back row-identical through the log."""
    from stadvdb_olap_spark.curation_app import run_curation_pipeline
    from stadvdb_olap_spark.sources.delta_log import read_delta

    out = str(tmp_path / "corpus")
    report = run_curation_pipeline(
        spark, "/root/testdata/sf0.001", out_dir=out, table_format="delta"
    )
    for name in ("layout", "manifest"):
        assert "delta_version" in report[name]
        assert (
            read_delta(spark, f"{out}/{name}").count()
            == report[name]["rows"]
        )

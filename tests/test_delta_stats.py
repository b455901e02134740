"""Per-file stats + log-only data skipping (sources/delta_stats.py and
its wiring into sources/delta_log.py).

Soundness is the invariant under test everywhere: a skipped file must
PROVABLY contain no matching row, and anything un-analyzable (missing
stats, unsupported predicate, incomparable types) must degrade to
keeping the file — skipping may only ever change I/O, never results."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from stadvdb_olap_spark.sources.delta_log import (
    live_files,
    read_delta,
    write_delta,
)
from stadvdb_olap_spark.sources.delta_stats import (
    PredicateError,
    collect_file_stats,
    file_might_match,
    parse_predicate,
    prune_by_stats,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def test_parse_comparison_and_boolean_structure():
    assert parse_predicate("a = 1") == ("cmp", "=", "a", 1)
    assert parse_predicate("a<>1") == ("cmp", "!=", "a", 1)
    assert parse_predicate("a >= -2.5") == ("cmp", ">=", "a", -2.5)
    assert parse_predicate("s = 'it''s'") == ("cmp", "=", "s", "it's")
    assert parse_predicate("10 < a") == ("cmp", ">", "a", 10)
    node = parse_predicate("a = 1 AND b < 2 OR NOT c = 3")
    assert node == (
        "or",
        ("and", ("cmp", "=", "a", 1), ("cmp", "<", "b", 2)),
        ("not", ("cmp", "=", "c", 3)),
    )
    assert parse_predicate("a BETWEEN 1 AND 3") == (
        "and", ("cmp", ">=", "a", 1), ("cmp", "<=", "a", 3)
    )
    assert parse_predicate("a IN (1, 2)") == ("in", "a", [1, 2])
    assert parse_predicate("a NOT IN (1)") == ("not", ("in", "a", [1]))
    assert parse_predicate("a IS NULL") == ("isnull", "a")
    assert parse_predicate("a IS NOT NULL") == ("notnull", "a")
    assert parse_predicate("d >= DATE '2024-01-01'") == (
        "cmp", ">=", "d", "2024-01-01"
    )
    assert parse_predicate("t < TIMESTAMP '2024-01-01T06:00:00'") == (
        "cmp", "<", "t", "2024-01-01 06:00:00"
    )
    assert parse_predicate("`weird col` = 1") == ("cmp", "=", "weird col", 1)


def test_parse_rejects_out_of_subset():
    for bad in (
        "a + 1 = 2",          # arithmetic
        "f(a) = 1",           # function call
        "a = b",              # column-vs-column
        "a LIKE 'x%'",        # unsupported op
        "a =",                # truncated
        "(a = 1",             # unbalanced
    ):
        with pytest.raises(PredicateError):
            parse_predicate(bad)


# ---------------------------------------------------------------------------
# evaluator soundness
# ---------------------------------------------------------------------------

_STATS = {
    "numRecords": 10,
    "minValues": {"a": 5, "s": "m"},
    "maxValues": {"a": 9, "s": "p"},
    "nullCount": {"a": 0, "s": 2, "z": 10},
}


def _m(sql):
    return file_might_match(parse_predicate(sql), _STATS)


def test_range_skipping_decisions():
    assert _m("a = 7") and not _m("a = 4") and not _m("a = 10")
    assert _m("a > 8") and not _m("a > 9") and _m("a >= 9")
    assert _m("a < 6") and not _m("a < 5") and _m("a <= 5")
    assert not _m("a BETWEEN 10 AND 20") and _m("a BETWEEN 9 AND 20")
    assert _m("s >= 'o'") and not _m("s > 'q'")
    assert _m("a IN (1, 7)") and not _m("a IN (1, 2)")
    assert _m("a = 7 AND s = 'n'") and not _m("a = 7 AND s = 'z'")
    assert _m("a = 1 OR s = 'n'") and not _m("a = 1 OR s = 'a'")


def test_null_semantics():
    # z is ALL null: comparisons never match, IS NULL does
    assert not _m("z = 1") and _m("z IS NULL") and not _m("z IS NOT NULL")
    # a has no nulls: IS NULL can be skipped
    assert not _m("a IS NULL") and _m("a IS NOT NULL")
    # s has some nulls: both sides possible
    assert _m("s IS NULL") and _m("s IS NOT NULL")
    # col <op> NULL literal is never TRUE
    assert not _m("a = NULL")


def test_negation_three_valued_soundness():
    assert not _m("NOT (a >= 5)")          # all rows in [5,9]
    assert _m("NOT (a >= 6)")
    assert not _m("NOT (a <= 9 AND a >= 5)")
    assert _m("NOT (a = 7)")
    # != skips only a constant file
    one = {
        "numRecords": 3,
        "minValues": {"a": 7},
        "maxValues": {"a": 7},
        "nullCount": {"a": 0},
    }
    assert not file_might_match(parse_predicate("a != 7"), one)
    assert not file_might_match(parse_predicate("NOT (a = 7)"), one)
    # NOT over all-null column: NOT(NULL) is NULL, never TRUE
    assert not _m("NOT (z = 1)")
    assert not _m("z != 1")


def test_unknowns_degrade_to_keep():
    # column with no recorded bounds
    assert _m("missing = 123")
    # incomparable literal type vs bounds
    assert _m("a = 'seven'")
    # stats-free file always kept by prune_by_stats
    files = {"f1": {"stats": json.dumps(_STATS)}, "f2": {}}
    assert prune_by_stats(files, ["f1", "f2"], "a = 99") == ["f2"]
    # unparseable predicate keeps everything
    assert prune_by_stats(files, ["f1", "f2"], "a ~~ 1") == ["f1", "f2"]
    # corrupt stats JSON keeps the file
    files["f3"] = {"stats": "{not json"}
    assert prune_by_stats(files, ["f3"], "a = 99") == ["f3"]


# ---------------------------------------------------------------------------
# footer -> stats
# ---------------------------------------------------------------------------


def test_collect_file_stats_types_and_nulls(spark, tmp_path, monkeypatch):
    df = spark.sql(
        """
        SELECT * FROM VALUES
          (1L, CAST(1.5 AS DOUBLE), 'apple', DATE '2024-01-05',
           TIMESTAMP '2024-01-05 06:30:00', true),
          (9L, CAST(-2.5 AS DOUBLE), 'pear', DATE '2024-03-01',
           TIMESTAMP '2024-03-01 23:59:59', false),
          (4L, NULL, NULL, DATE '2024-02-01',
           TIMESTAMP '2024-02-01 00:00:00', true)
        AS v(id, v, s, d, ts, b)
        """
    )
    # micros, as the delta writer stages files (INT96 carries no stats)
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    try:
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "dir"))
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    part = [
        n for n in os.listdir(tmp_path / "dir") if n.endswith(".parquet")
    ][0]
    p = str(tmp_path / "dir" / part)
    st = collect_file_stats(p)
    assert st["numRecords"] == 3
    assert st["minValues"]["id"] == 1 and st["maxValues"]["id"] == 9
    assert st["minValues"]["v"] == -2.5 and st["maxValues"]["v"] == 1.5
    assert st["minValues"]["s"] == "apple" and st["maxValues"]["s"] == "pear"
    assert st["minValues"]["d"] == "2024-01-05"
    assert st["maxValues"]["d"] == "2024-03-01"
    assert st["minValues"]["ts"].startswith("2024-01-05 06:30:00")
    assert st["maxValues"]["ts"].startswith("2024-03-01 23:59:59")
    assert st["minValues"]["b"] is False and st["maxValues"]["b"] is True
    assert st["nullCount"] == {"id": 0, "v": 1, "s": 1, "d": 0, "ts": 0, "b": 0}

    # The delta writer's staging step: a session on the INT96 default
    # still gets INT64 timestamp min/max and has its conf restored; a
    # session already on micros sees no conf write at all (concurrent
    # writers on one session would race on a save/set/restore).
    from pyspark.sql.conf import RuntimeConfig

    from stadvdb_olap_spark.sources.delta_log import _stage_files

    ts_key = "spark.sql.parquet.outputTimestampType"
    conf_writes: list[tuple[str, str]] = []

    def recording(method):
        orig = getattr(RuntimeConfig, method)

        def record(self, key, *args):
            conf_writes.append((method, key))
            return orig(self, key, *args)

        return record

    for method in ("set", "unset"):
        monkeypatch.setattr(RuntimeConfig, method, recording(method))
    for pinned in (None, "TIMESTAMP_MICROS"):
        if pinned is not None:
            spark.conf.set(ts_key, pinned)
        conf_writes.clear()
        try:
            adds = _stage_files(
                df.coalesce(1), str(tmp_path / f"staged_{pinned}"), 0, [], True, 0
            )
            after = spark.conf.get(ts_key, None)
            ts_writes = [w for w in conf_writes if w[1] == ts_key]
        finally:
            spark.conf.unset(ts_key)
        assert after == pinned
        assert ts_writes == (
            [("set", ts_key), ("unset", ts_key)] if pinned is None else []
        )
        [add] = adds
        staged = json.loads(add["stats"])
        assert staged["minValues"]["ts"].startswith("2024-01-05 06:30:00")
        assert staged["maxValues"]["ts"].startswith("2024-03-01 23:59:59")


# ---------------------------------------------------------------------------
# end-to-end through the log
# ---------------------------------------------------------------------------


def test_write_delta_adds_carry_protocol_stats(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_delta(
        spark.range(100).select(
            F.col("id"), (F.col("id") % 7).cast("double").alias("v")
        ),
        t,
        mode="overwrite",
    )
    log0 = os.path.join(t, "_delta_log", f"{0:020d}.json")
    adds = [
        json.loads(line)["add"]
        for line in open(log0)
        if line.strip() and "add" in json.loads(line)
    ]
    assert adds
    for a in adds:
        st = json.loads(a["stats"])
        assert set(st) == {"numRecords", "minValues", "maxValues", "nullCount"}
        assert st["numRecords"] > 0
        assert st["minValues"]["id"] <= st["maxValues"]["id"]


def test_data_predicate_skips_files_and_preserves_results(spark, tmp_path):
    t = str(tmp_path / "tbl")
    # 4 appends with DISJOINT id ranges -> per-file stats are disjoint
    for b in range(4):
        write_delta(
            spark.range(b * 100, (b + 1) * 100).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ).coalesce(1),
            t,
            mode="append" if b else "overwrite",
        )
    pred = "id >= 120 AND id < 180"
    scanned = live_files(t, data_predicate=pred)
    assert len(scanned) == 1 and len(live_files(t)) == 4
    got = read_delta(spark, t, data_predicate=pred)
    want = read_delta(spark, t).where(pred)
    assert _rows(got) == _rows(want)
    # empty-result predicate skips everything and still returns the
    # pinned schema
    nothing = read_delta(spark, t, data_predicate="id > 100000")
    assert nothing.count() == 0
    assert [f.name for f in nothing.schema.fields] == ["id", "v"]


def test_data_predicate_composes_with_partition_pruning(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("g"),
    )
    write_delta(
        df.repartitionByRange(4, "id"), t, mode="overwrite",
        partition_by=["g"],
    )
    total = len(live_files(t))
    both = live_files(
        t, partition_predicate="g = '1'", data_predicate="id < 50",
        spark=spark,
    )
    assert 0 < len(both) < total
    got = read_delta(
        spark, t, partition_predicate="g = '1'", data_predicate="id < 50"
    )
    assert _rows(got) == _rows(df.where("g = '1' AND id < 50"))


def test_stats_survive_checkpoint_roundtrip(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import (
        _replay,
        checkpoint_table,
    )

    t = str(tmp_path / "tbl")
    for b in range(3):
        write_delta(
            spark.range(b * 10, b * 10 + 10).coalesce(1),
            t,
            mode="append" if b else "overwrite",
        )
    checkpoint_table(t)
    # delete the commit JSONs below the checkpoint: state must come
    # from the checkpoint INCLUDING stats
    for v in (0, 1):
        os.remove(os.path.join(t, "_delta_log", f"{v:020d}.json"))
    state = _replay(t)
    assert all("stats" in a for a in state["files"].values())
    scanned = live_files(t, data_predicate="id >= 25")
    assert len(scanned) == 1


def test_temporal_literals_compare_soundly():
    """Round-12 review fix: mixed-precision temporal strings must
    compare by TIME VALUE, not lexicographically — '2024-03-01' equals
    '2024-03-01 00:00:00.000000', and '.5' equals '.500000'."""
    stats = {
        "numRecords": 2,
        "minValues": {"ts": "2024-03-01 00:00:00.000000"},
        "maxValues": {"ts": "2024-03-05 10:00:00.000000"},
        "nullCount": {"ts": 0},
    }

    def m(sql, temporal_ok=True):
        return file_might_match(parse_predicate(sql), stats, temporal_ok)

    # date-only literal hits the midnight boundary
    assert m("ts = TIMESTAMP '2024-03-01'")
    assert m("ts <= TIMESTAMP '2024-03-01'")
    assert not m("ts < TIMESTAMP '2024-03-01'")
    assert not m("ts > TIMESTAMP '2024-03-05 10:00:00'")
    assert m("ts >= TIMESTAMP '2024-03-05 10:00:00.0'")
    # fractional-second padding
    half = {
        "numRecords": 1,
        "minValues": {"ts": "2024-03-01 12:30:00.500000"},
        "maxValues": {"ts": "2024-03-01 12:30:00.500000"},
        "nullCount": {"ts": 0},
    }
    assert file_might_match(
        parse_predicate("ts <= TIMESTAMP '2024-03-01 12:30:00.5'"), half
    )
    assert not file_might_match(
        parse_predicate("ts < TIMESTAMP '2024-03-01 12:30:00.5'"), half
    )
    # temporal vs plain string: incomparable -> keep
    assert m("ts = 'hello'")
    # non-UTC session guard: temporal comparisons keep the file
    assert m("ts > TIMESTAMP '2024-03-05 10:00:00'", temporal_ok=False)


def test_skipping_disabled_under_non_utc_session(spark, tmp_path):
    """With a non-UTC session timezone the naive-UTC stats strings no
    longer line up with session-local literals — temporal skipping must
    disable (keep files), while the residual .where still filters."""
    t = str(tmp_path / "tbl")
    df = spark.sql(
        "SELECT TIMESTAMP '2024-01-01 05:00:00' AS ts, 1L AS id"
    )
    write_delta(df.coalesce(1), t, mode="overwrite")
    pred = "ts >= TIMESTAMP '2024-01-01 00:00:00'"
    assert live_files(t, data_predicate=pred) == live_files(t)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Manila")
    try:
        # a predicate that WOULD skip under UTC must keep the file now
        skip_pred = "ts > TIMESTAMP '2030-01-01 00:00:00'"
        assert live_files(t, data_predicate=skip_pred) == live_files(t)
        # and results stay correct (residual filter applies)
        from stadvdb_olap_spark.sources.delta_log import read_delta

        assert read_delta(spark, t, data_predicate=skip_pred).count() == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_delete_where_pre_prunes_hit_scan_from_stats(spark, tmp_path):
    """A string-predicate DELETE skips stats-excluded files before the
    hit-detection scan — and still deletes exactly the right rows."""
    from unittest import mock

    from stadvdb_olap_spark.sources import delta_log
    from stadvdb_olap_spark.sources.delta_log import delete_where

    t = str(tmp_path / "tbl")
    for b in range(4):  # disjoint id ranges -> disjoint stats
        write_delta(
            spark.range(b * 100, (b + 1) * 100).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ).coalesce(1),
            t,
            mode="append" if b else "overwrite",
        )
    seen = {}
    orig = delta_log._tagged_live

    def spy(spark_, table_dir_, state_, paths_):
        seen["candidates"] = list(paths_)
        return orig(spark_, table_dir_, state_, paths_)

    with mock.patch.object(delta_log, "_tagged_live", side_effect=spy):
        delete_where(spark, t, "id >= 150 AND id < 170")
    # only the file holding ids 100-199 was scanned for hits
    assert len(seen["candidates"]) == 1
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == [i for i in range(400) if not (150 <= i < 170)]
    # a Column predicate (not analyzable) still deletes correctly
    with mock.patch.object(delta_log, "_tagged_live", side_effect=spy):
        delete_where(spark, t, F.col("id") == 399)
    assert len(seen["candidates"]) >= 1
    assert read_delta(spark, t).where("id = 399").count() == 0

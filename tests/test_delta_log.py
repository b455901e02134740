"""Delta-log table format (sources/delta_log.py): protocol-shaped
transaction log, snapshot reads, time travel, put-if-absent commits."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from stadvdb_olap_spark.sources.delta_log import (
    read_delta,
    table_history,
    table_versions,
    write_delta,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_delta_roundtrip_overwrite_append_timetravel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    a = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).cast("double").alias("v")
    )
    b = spark.range(10, 15).select(
        F.col("id"), (F.col("id") * 2).cast("double").alias("v")
    )
    v0 = write_delta(a, t, mode="overwrite")
    v1 = write_delta(b, t, mode="append")
    assert (v0, v1) == (0, 1)
    assert _rows(read_delta(spark, t)) == _rows(a.unionAll(b))
    # time travel: version 0 is immutable under later appends
    assert _rows(read_delta(spark, t, version=0)) == _rows(a)
    # overwrite logically removes everything live
    c = spark.range(3).select(
        F.col("id"), F.lit(0.5).cast("double").alias("v")
    )
    v2 = write_delta(c, t, mode="overwrite")
    assert v2 == 2
    assert _rows(read_delta(spark, t)) == _rows(c)
    # ...while old versions stay readable (files were never deleted)
    assert _rows(read_delta(spark, t, version=1)) == _rows(a.unionAll(b))
    hist = table_history(t)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["operation"] for h in hist] == ["WRITE", "APPEND", "WRITE"]


def test_delta_log_is_protocol_shaped(spark, tmp_path):
    """Commit 0 must carry protocol + metaData actions, adds must point
    at real files with true sizes, and the schema round-trips through
    metaData.schemaString (pinned, never inferred)."""
    t = str(tmp_path / "tbl")
    df = spark.range(5).select(
        F.col("id"),
        F.col("id").cast("string").alias("s"),
        F.to_date(F.lit("2024-01-02")).alias("d"),
    )
    write_delta(df, t, mode="overwrite")
    log0 = os.path.join(t, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(log0) if line.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a for a in actions if "protocol" in a)["protocol"]
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a for a in actions if "metaData" in a)["metaData"]
    assert meta["format"]["provider"] == "parquet"
    assert json.loads(meta["schemaString"]) == json.loads(df.schema.json())
    for a in actions:
        if "add" in a:
            p = os.path.join(t, a["add"]["path"])
            assert os.path.isfile(p)
            assert a["add"]["size"] == os.path.getsize(p)
            assert a["add"]["partitionValues"] == {}
    # read pins the logged schema exactly (date stays date, no
    # inference); Spark file-source reads relax nullability, so names
    # and types are the contract
    back = read_delta(spark, t)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]


def test_delta_commit_is_put_if_absent(spark, tmp_path):
    """A racing writer that already took the next version must collide
    on open(..., "x") — the protocol's log-store contract — and then
    resolve through the optimistic conflict check: a table-CREATE race
    (both writers planned version 0, the interleaved commit pins
    metaData) cannot commute, so it raises ConcurrentWriteError. Either
    way a silent lost update is impossible."""
    import stadvdb_olap_spark.sources.delta_log as dl

    t = str(tmp_path / "tbl")
    df = spark.range(3).select("id")
    write_delta(df, t, mode="overwrite")
    # The race: a writer PLANS against a stale view of the log (another
    # writer landed the version it computed). table_versions returns
    # the stale [] exactly once — the planning call — then reality.
    orig = dl.table_versions
    calls = {"n": 0}

    def stale_once(d):
        calls["n"] += 1
        return [] if calls["n"] == 1 else orig(d)

    dl.table_versions = stale_once
    try:
        with pytest.raises(dl.ConcurrentWriteError, match="metaData"):
            dl.write_delta(df, t, mode="overwrite")
    finally:
        dl.table_versions = orig
    # the original commit survived intact
    assert _rows(read_delta(spark, t)) == _rows(df)
    assert table_versions(t) == [0]


def test_delta_read_rejects_log_gaps(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_delta(spark.range(3).select("id"), t, mode="overwrite")
    write_delta(spark.range(3).select("id"), t, mode="append")
    os.remove(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(ValueError, match="gaps"):
        read_delta(spark, t)


def test_delta_empty_overwrite_reads_empty_with_schema(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(4).select(F.col("id"), F.lit("x").alias("s"))
    write_delta(df, t, mode="overwrite")
    empty = df.where(F.lit(False))
    write_delta(empty, t, mode="overwrite")
    back = read_delta(spark, t)
    assert back.count() == 0
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    # and the pre-truncation version still time-travels
    assert _rows(read_delta(spark, t, version=0)) == _rows(df)


def test_delta_delete_is_copy_on_write(spark, tmp_path):
    """DELETE rewrites ONLY hit files: untouched files keep their exact
    paths in the live set; survivors from hit files reappear in fresh
    files; NULL-predicate rows survive (SQL DELETE semantics)."""
    from stadvdb_olap_spark.sources.delta_log import delete_where

    t = str(tmp_path / "tbl")
    left = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v long"
    ).coalesce(1)
    right = spark.createDataFrame(
        [(4, 40), (5, 50)], "id long, v long"
    ).coalesce(1)
    write_delta(left, t, mode="overwrite")
    write_delta(right, t, mode="append")

    from stadvdb_olap_spark.sources.delta_log import _replay

    before = _replay(t)["files"]
    v = delete_where(spark, t, F.col("v") < 15)  # hits only the left file
    after = _replay(t)["files"]

    # the right-side file is untouched (same path survives the commit)
    left_files = {p for p in before if p.startswith("part-00000-")}
    right_files = {p for p in before if p.startswith("part-00001-")}
    assert right_files <= set(after)
    assert not (left_files & set(after))
    # values: id=1 deleted; id=2 (NULL predicate) and id=3 survive
    assert _rows(read_delta(spark, t)) == [(2, None), (3, 30), (4, 40), (5, 50)]
    # time travel still shows the pre-delete state
    assert len(_rows(read_delta(spark, t, version=v - 1))) == 5
    assert table_history(t)[-1]["operation"] == "DELETE"


def test_delta_delete_no_match_is_a_noop_commit(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import _replay, delete_where

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    write_delta(df, t, mode="overwrite")
    before = set(_replay(t)["files"])
    v = delete_where(spark, t, "v > 999")
    assert set(_replay(t)["files"]) >= before  # no file removed
    assert v == 1 and table_history(t)[-1]["operation"] == "DELETE"
    assert _rows(read_delta(spark, t)) == [(1, 10), (2, 20)]


def test_delta_compact_preserves_content_and_history(spark, tmp_path):
    """OPTIMIZE packs the live set into target_files with
    dataChange=false on every action; content is bit-identical, old
    versions still time-travel, and an already-compact table commits
    nothing."""
    from stadvdb_olap_spark.sources.delta_log import _replay, compact_table

    t = str(tmp_path / "tbl")
    for i in range(4):  # four tiny append commits => small-file debt
        write_delta(
            spark.createDataFrame([(i, i * 10)], "id long, v long"),
            t,
            mode="append" if i else "overwrite",
        )
    before_rows = _rows(read_delta(spark, t))
    assert len(_replay(t)["files"]) >= 4
    v = compact_table(spark, t, target_files=1)
    assert v == 4
    assert len(_replay(t)["files"]) == 1
    assert _rows(read_delta(spark, t)) == before_rows
    assert _rows(read_delta(spark, t, version=3)) == before_rows
    assert table_history(t)[-1]["operation"] == "OPTIMIZE"
    # every action in the OPTIMIZE commit is dataChange=false
    log4 = os.path.join(t, "_delta_log", f"{4:020d}.json")
    for line in open(log4):
        a = json.loads(line)
        for kind in ("add", "remove"):
            if kind in a:
                assert a[kind]["dataChange"] is False
    # idempotent: already at target => same version back, no new commit
    assert compact_table(spark, t, target_files=1) == 4
    assert table_versions(t) == [0, 1, 2, 3, 4]


def test_delta_changes_tail_skips_optimize(spark, tmp_path):
    """read_delta_changes returns exactly the appended rows per commit
    window and skips dataChange=false OPTIMIZE rewrites — the
    incremental-consumer contract."""
    from stadvdb_olap_spark.sources.delta_log import (
        compact_table,
        read_delta_changes,
    )

    t = str(tmp_path / "tbl")
    write_delta(
        spark.createDataFrame([(1, 10)], "id long, v long"), t, "overwrite"
    )
    write_delta(spark.createDataFrame([(2, 20)], "id long, v long"), t, "append")
    write_delta(spark.createDataFrame([(3, 30)], "id long, v long"), t, "append")
    ch, cursor = read_delta_changes(spark, t, from_version=0)
    assert _rows(ch) == [(2, 20), (3, 30)] and cursor == 2
    # an OPTIMIZE commit lands: the tail sees NO new rows
    compact_table(spark, t, target_files=1)
    ch2, cursor2 = read_delta_changes(spark, t, from_version=cursor)
    assert ch2.count() == 0 and cursor2 == 3
    # a real append after the optimize flows through
    write_delta(spark.createDataFrame([(4, 40)], "id long, v long"), t, "append")
    ch3, cursor3 = read_delta_changes(spark, t, from_version=cursor2)
    assert _rows(ch3) == [(4, 40)] and cursor3 == 4
    # full-history tail equals the table minus the seed commit
    ch_all, _ = read_delta_changes(spark, t, from_version=0)
    assert _rows(ch_all) == [(2, 20), (3, 30), (4, 40)]


def test_delta_vacuum_respects_retention_horizon(spark, tmp_path):
    """VACUUM deletes only files unreferenced by the newest
    keep_versions live sets: reads within the horizon stay exact,
    files of vacuumed history are physically gone."""
    from stadvdb_olap_spark.sources.delta_log import vacuum_table

    t = str(tmp_path / "tbl")
    gen0 = spark.createDataFrame([(1, 10)], "id long, v long")
    gen1 = spark.createDataFrame([(2, 20)], "id long, v long")
    gen2 = spark.createDataFrame([(3, 30)], "id long, v long")
    write_delta(gen0, t, "overwrite")   # v0
    write_delta(gen1, t, "overwrite")   # v1 (v0's files now historical)
    write_delta(gen2, t, "overwrite")   # v2
    deleted = vacuum_table(t, keep_versions=2)
    assert deleted, "v0's files should have been vacuumed"
    # horizon versions read exactly
    assert _rows(read_delta(spark, t, version=1)) == [(2, 20)]
    assert _rows(read_delta(spark, t)) == [(3, 30)]
    # vacuumed files are gone from disk
    for name in deleted:
        assert not os.path.exists(os.path.join(t, name))
    # nothing referenced in-horizon was touched: a second vacuum is empty
    assert vacuum_table(t, keep_versions=2) == []


def test_delta_append_stream_is_exactly_once(spark, tmp_path):
    """The streaming Delta sink: micro-batches land as txn-stamped
    append commits; a replayed batch (the crash-recovery foreachBatch
    reality) is skipped against the table's txn watermark, so the table
    equals the source exactly — never doubled."""
    from stadvdb_olap_spark.sources.delta_log import last_txn_version
    from stadvdb_olap_spark.streaming.incremental import delta_append_stream

    src = str(tmp_path / "incoming")
    a = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    b = spark.createDataFrame([(3, 30)], "id long, v long")
    a.write.parquet(src)
    b.write.mode("append").parquet(src)

    t = str(tmp_path / "tbl")
    # seed commit so version 0 carries protocol+metaData before streams
    write_delta(
        spark.createDataFrame([], "id long, v long"), t, mode="overwrite"
    )
    q = delta_append_stream(
        spark, src, "id long, v long", t, str(tmp_path / "ckpt"),
        app_id="stream_a", max_files_per_trigger=1,
    )
    assert q.awaitTermination(300)
    assert _rows(read_delta(spark, t)) == [(1, 10), (2, 20), (3, 30)]
    wm = last_txn_version(t, "stream_a")
    assert wm is not None and wm >= 1  # two micro-batches committed

    from stadvdb_olap_spark.sources.delta_log import table_versions

    # crash replay, SAME checkpoint: restart re-delivers nothing new and
    # a replayed batch id is skipped against the txn watermark
    versions_before = table_versions(t)
    q2 = delta_append_stream(
        spark, src, "id long, v long", t, str(tmp_path / "ckpt"),
        app_id="stream_a",
    )
    assert q2.awaitTermination(300)
    assert _rows(read_delta(spark, t)) == [(1, 10), (2, 20), (3, 30)]
    assert table_versions(t) == versions_before

    # fresh checkpoint + explicitly carried-over app_id: batch ids
    # restart at 0, all under the watermark -> skipped (the migration
    # path for a MOVED checkpoint whose source did not change)
    q3 = delta_append_stream(
        spark, src, "id long, v long", t, str(tmp_path / "ckpt2"),
        app_id="stream_a",
    )
    assert q3.awaitTermination(300)
    assert table_versions(t) == versions_before

    # the round-10 advice's data-loss mode: source GREW, checkpoint
    # lost. With the default (checkpoint-derived) app_id the new rows
    # must LAND — duplicates of old batches are allowed (at-least-once),
    # silent loss is not.
    spark.createDataFrame([(4, 40)], "id long, v long").write.mode(
        "append"
    ).parquet(src)
    q4 = delta_append_stream(
        spark, src, "id long, v long", t, str(tmp_path / "ckpt3"),
    )
    assert q4.awaitTermination(300)
    vals = _rows(read_delta(spark, t))
    assert (4, 40) in vals  # new data is never dropped


# ---------------------------------------------------------------------------
# Round 11: checkpoints, schema guard, MERGE, partitioned tables, vacuum
# ---------------------------------------------------------------------------


def test_delta_checkpoint_written_and_replay_starts_from_it(
    spark, tmp_path, monkeypatch
):
    """Every CHECKPOINT_INTERVAL commits a parquet checkpoint +
    _last_checkpoint lands, and _replay reads THROUGH the checkpoint:
    commits below it can disappear from the log without breaking
    latest-version reads — the O(interval) read the streaming sink's
    per-batch commits need."""
    from stadvdb_olap_spark.sources import delta_log
    from stadvdb_olap_spark.sources.delta_log import (
        _replay,
        checkpoint_versions,
    )

    t = str(tmp_path / "tbl")
    monkeypatch.setattr(delta_log, "CHECKPOINT_INTERVAL", 5)
    for i in range(13):
        write_delta(
            spark.createDataFrame([(i, i * 10)], "id long, v long"),
            t,
            mode="append" if i else "overwrite",
        )
    assert checkpoint_versions(t) == [5, 10]
    lc = json.load(open(os.path.join(t, "_delta_log", "_last_checkpoint")))
    assert lc["version"] == 10

    # the proof _replay starts from the checkpoint, not commit 0:
    # delete every commit json strictly below the newest checkpoint
    for v in range(10):
        os.remove(os.path.join(t, "_delta_log", f"{v:020d}.json"))
    state = _replay(t)
    assert state["version"] == 12
    assert _rows(read_delta(spark, t)) == [(i, i * 10) for i in range(13)]
    # time travel to the checkpointed version itself also works
    assert len(_rows(read_delta(spark, t, version=10))) == 11
    # ...but below the surviving history it reports the truncation
    # honestly (version no longer listed in the log)
    with pytest.raises(ValueError, match="not in|gaps"):
        read_delta(spark, t, version=4)


def test_delta_checkpoint_roundtrips_txn_and_schema(spark, tmp_path):
    """The checkpoint carries txn watermarks, the pinned schema, and
    partition columns — state from a checkpoint equals state from a
    full log replay."""
    from stadvdb_olap_spark.sources.delta_log import (
        _replay,
        checkpoint_table,
        last_txn_version,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    write_delta(df, t, mode="overwrite", txn=("appX", 7))
    full = _replay(t)
    v = checkpoint_table(t)
    assert v == 0
    # wipe the only commit json: state must now come from the checkpoint
    os.remove(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    # (table_versions is empty -> re-add an empty marker commit at v0 is
    # not possible; instead read the checkpoint-backed state directly)
    from stadvdb_olap_spark.sources.delta_log import _load_checkpoint

    cp = _load_checkpoint(t, 0)
    assert cp["schema_json"] == full["schema_json"]
    assert cp["txns"] == full["txns"] == {"appX": 7}
    assert set(cp["files"]) == set(full["files"])
    assert cp["protocol"]["minReaderVersion"] == 1
    del last_txn_version  # imported for parity with other tests


def test_delta_append_schema_mismatch_raises_unless_merge_schema(
    spark, tmp_path
):
    """Round-10 advice: an append whose schema differs from the pinned
    metaData must fail loudly; merge_schema=True is the explicit
    evolution gate; overwrite may always replace the schema."""
    t = str(tmp_path / "tbl")
    write_delta(
        spark.createDataFrame([(1, 10)], "id long, v long"), t, "overwrite"
    )
    drifted = spark.createDataFrame([(2, "x")], "id long, v string")
    with pytest.raises(ValueError, match="merge_schema"):
        write_delta(drifted, t, mode="append")
    # explicit evolution commits new metaData and reads back
    renamed = spark.createDataFrame([(2, 20, "x")], "id long, v long, tag string")
    write_delta(renamed, t, mode="append", merge_schema=True)
    back = read_delta(spark, t)
    assert set(back.columns) == {"id", "v", "tag"}
    # overwrite still replaces the schema silently (it replaces the data)
    write_delta(drifted, t, mode="overwrite")
    assert _rows(read_delta(spark, t)) == [(2, "x")]


def test_delta_merge_scd1_copy_on_write(spark, tmp_path):
    """MERGE INTO: matched keys take the source row, unmatched source
    keys insert, files without matches keep their exact paths, and
    re-running the same merge is idempotent on the data."""
    from stadvdb_olap_spark.sources.delta_log import (
        _replay,
        merge_delta_scd1,
    )

    t = str(tmp_path / "tbl")
    left = spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, v long"
    ).coalesce(1)
    right = spark.createDataFrame(
        [(3, 30), (4, 40)], "id long, v long"
    ).coalesce(1)
    write_delta(left, t, mode="overwrite")
    write_delta(right, t, mode="append")
    before = _replay(t)["files"]
    right_files = {p for p in before if p.startswith("part-00001-")}

    src = spark.createDataFrame([(2, 99), (5, 50)], "id long, v long")
    merge_delta_scd1(spark, t, src, keys=["id"])
    after = _replay(t)["files"]
    # the right file had no matched keys -> untouched path
    assert right_files <= set(after)
    assert _rows(read_delta(spark, t)) == [
        (1, 10), (2, 99), (3, 30), (4, 40), (5, 50),
    ]
    # idempotence: same merge again -> same data
    merge_delta_scd1(spark, t, src, keys=["id"])
    assert _rows(read_delta(spark, t)) == [
        (1, 10), (2, 99), (3, 30), (4, 40), (5, 50),
    ]
    assert table_history(t)[-1]["operation"] == "MERGE"
    # txn guard makes a REPLAYED merge a hard error before staging
    merge_delta_scd1(spark, t, src, keys=["id"], txn=("merge_app", 3))
    with pytest.raises(ValueError, match="already committed"):
        merge_delta_scd1(spark, t, src, keys=["id"], txn=("merge_app", 3))

    # NULL keys match null-safely, and one source can hit several files:
    # the NULL-keyed and 20-keyed source rows replace their target rows
    # in two different files; the third file keeps its path
    t2 = str(tmp_path / "tbl2")
    write_delta(
        spark.createDataFrame([(None, 1), (10, 100)], "id long, v long").coalesce(1),
        t2, mode="overwrite",
    )
    for rows in ([(20, 200), (21, 210)], [(30, 300)]):
        write_delta(
            spark.createDataFrame(rows, "id long, v long").coalesce(1), t2,
            mode="append",
        )
    before = set(_replay(t2)["files"])
    untouched = {p for p in before if p.startswith("part-00002-")}
    src2 = spark.createDataFrame(
        [(None, 9), (20, 299), (40, 400)], "id long, v long"
    )
    merge_delta_scd1(spark, t2, src2, keys=["id"])
    after = set(_replay(t2)["files"])
    assert len(before - after) == 2 and untouched <= after
    assert table_history(t2)[-1]["operationParameters"]["matchedFiles"] == 2
    assert sorted(
        (tuple(r) for r in read_delta(spark, t2).collect()),
        key=lambda r: (r[0] is not None, r[0] or 0),
    ) == [(None, 9), (10, 100), (20, 299), (21, 210), (30, 300), (40, 400)]


def test_delta_merge_rejects_schema_drift(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import merge_delta_scd1

    t = str(tmp_path / "tbl")
    write_delta(
        spark.createDataFrame([(1, 10)], "id long, v long"), t, "overwrite"
    )
    bad = spark.createDataFrame([(1, "x")], "id long, v string")
    with pytest.raises(ValueError, match="pinned schema"):
        merge_delta_scd1(spark, t, bad, keys=["id"])


def test_delta_partitioned_write_prune_and_read(spark, tmp_path):
    """partition_by lays files out hive-style with partitionValues in
    the log; live_files prunes FROM THE LOG ALONE; read_delta with a
    partition_predicate scans only matching files and re-attaches typed
    partition columns."""
    from stadvdb_olap_spark.sources.delta_log import live_files

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, None, 40)],
        "id long, grp string, v long",
    )
    write_delta(df, t, mode="overwrite", partition_by=["grp"])
    all_files = live_files(t)
    assert all(("grp=" in p) for p in all_files)
    pruned = live_files(t, partition_predicate="grp = 'a'", spark=spark)
    assert pruned and set(pruned) < set(all_files)
    assert all("grp=a/" in p for p in pruned)

    back = read_delta(spark, t, partition_predicate="grp = 'a'")
    assert _rows(back.select("id", "grp", "v")) == [(1, "a", 10), (2, "a", 20)]
    # full read re-attaches the partition column, including the null
    full = read_delta(spark, t)
    assert _rows(full.select("id", "grp", "v")) == [
        (1, "a", 10), (2, "a", 20), (3, "b", 30), (4, None, 40),
    ]
    assert dict(full.dtypes)["grp"] == "string"
    # appends must keep the partition spec
    with pytest.raises(ValueError, match="partition"):
        write_delta(
            spark.createDataFrame([(9, "c", 90)], "id long, grp string, v long"),
            t,
            mode="append",
        )


def test_delta_partitioned_delete_and_merge_keep_layout(spark, tmp_path):
    """Copy-on-write DELETE and MERGE on a partitioned table rewrite
    hit files INTO the partition layout (partitionValues preserved)."""
    from stadvdb_olap_spark.sources.delta_log import (
        delete_where,
        live_files,
        merge_delta_scd1,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
        "id long, grp string, v long",
    )
    write_delta(df, t, mode="overwrite", partition_by=["grp"])
    delete_where(
        spark, t, "id = 2", partition_predicate="grp = 'a'"
    )
    assert _rows(read_delta(spark, t).select("id", "grp", "v")) == [
        (1, "a", 10), (3, "b", 30),
    ]
    assert all("grp=" in p for p in live_files(t))

    src = spark.createDataFrame(
        [(1, "a", 99), (7, "c", 70)], "id long, grp string, v long"
    )
    merge_delta_scd1(spark, t, src, keys=["id"])
    assert _rows(read_delta(spark, t).select("id", "grp", "v")) == [
        (1, "a", 99), (3, "b", 30), (7, "c", 70),
    ]
    assert any("grp=c/" in p for p in live_files(t))


def test_delta_vacuum_reclaims_staging_and_fails_fast_below_horizon(
    spark, tmp_path
):
    """Round-10 advice: vacuum removes orphaned _staging_* dirs, and a
    read below the vacuum horizon raises an explicit 'vacuumed' error
    instead of a scan-time path-not-found."""
    from stadvdb_olap_spark.sources.delta_log import vacuum_table

    t = str(tmp_path / "tbl")
    for i in range(3):
        write_delta(
            spark.createDataFrame([(i, i)], "id long, v long"),
            t,
            mode="overwrite",
        )
    orphan = os.path.join(t, "_staging_deadbeef")
    os.makedirs(orphan)
    open(os.path.join(orphan, "junk.parquet"), "w").close()
    deleted = vacuum_table(t, keep_versions=2)
    assert not os.path.exists(orphan)
    assert "_staging_deadbeef" in deleted
    with pytest.raises(ValueError, match="vacuumed"):
        read_delta(spark, t, version=0)
    # in-horizon reads still exact
    assert _rows(read_delta(spark, t, version=1)) == [(1, 1)]


def test_delta_optimize_zorder_gives_disjoint_file_ranges(spark, tmp_path):
    """OPTIMIZE ZORDER: after the clustered rewrite, each live file
    holds one contiguous curve segment, so per-file min/max ranges of
    the z-ordered column are pairwise DISJOINT (the data-skipping
    property); content is unchanged and history still time-travels."""
    import pyarrow.parquet as papq

    from stadvdb_olap_spark.sources.delta_log import (
        _replay,
        compact_table,
    )

    t = str(tmp_path / "tbl")
    # shuffled values across 4 appends: every pre-compact file spans
    # nearly the whole value range
    vals = [(i * 373) % 1000 for i in range(1000)]
    for c in range(4):
        chunk = [(i, v) for i, v in enumerate(vals) if i % 4 == c]
        write_delta(
            spark.createDataFrame(chunk, "id long, v long").coalesce(1),
            t,
            mode="append" if c else "overwrite",
        )
    before = _rows(read_delta(spark, t))
    v = compact_table(spark, t, target_files=4, zorder_by=["v"])
    assert _rows(read_delta(spark, t)) == before
    assert _rows(read_delta(spark, t, version=v - 1)) == before

    ranges = []
    for p in sorted(_replay(t)["files"]):
        md = papq.read_metadata(os.path.join(t, p))
        lo = min(
            md.row_group(g).column(1).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(1).statistics.max
            for g in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    assert len(ranges) == 4
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file value ranges overlap: {ranges}"
    hist = table_history(t)[-1]
    assert hist["operation"] == "OPTIMIZE"
    assert json.loads(hist["operationParameters"]["zOrderBy"]) == ["v"]


def test_delta_zorder_rejects_partition_columns(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import compact_table

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, grp string, v long"
    )
    write_delta(df, t, mode="overwrite", partition_by=["grp"])
    with pytest.raises(ValueError, match="partition columns"):
        compact_table(spark, t, target_files=1, zorder_by=["grp"])


def test_delta_cdf_row_level_change_types(spark, tmp_path):
    """read_delta_cdf: DELETE commits yield their dropped rows as
    'delete' (rewrite survivors cancel), MERGE yields the replaced
    pre-image + the source batch, OPTIMIZE yields nothing, duplicates
    delete with exact multiplicity."""
    from stadvdb_olap_spark.sources.delta_log import (
        compact_table,
        delete_where,
        merge_delta_scd1,
        read_delta_cdf,
    )

    t = str(tmp_path / "tbl")
    # v0: two identical (2,20) rows in one file + (1,10),(3,30)
    write_delta(
        spark.createDataFrame(
            [(1, 10), (2, 20), (2, 20), (3, 30)], "id long, v long"
        ).coalesce(1),
        t,
        mode="overwrite",
    )
    # v1: delete id=3 (copy-on-write rewrites the single file)
    delete_where(spark, t, "id = 3")
    # v2: merge replaces one (2,20) pair-member? no — SCD1 replaces BOTH
    # copies of key 2 with the single source row, and inserts key 4
    src = spark.createDataFrame([(2, 99), (4, 40)], "id long, v long")
    merge_delta_scd1(spark, t, src, keys=["id"])
    # v3: OPTIMIZE — dataChange=false, must not appear in the feed
    compact_table(spark, t, target_files=1)

    cdf, to_v = read_delta_cdf(spark, t, from_version=0)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in cdf.collect()
    )
    assert rows == [
        (1, "delete", 3, 30),
        (2, "delete", 2, 20),
        (2, "delete", 2, 20),   # both duplicate copies vanished
        (2, "insert", 2, 99),
        (2, "insert", 4, 40),
    ]
    assert to_v == 3

    # applying the feed to the v0 snapshot reproduces the v3 snapshot
    base = _rows(read_delta(spark, t, version=0))
    for cv, kind, i, vv in rows:
        if kind == "delete":
            base.remove((i, vv))
        else:
            base.append((i, vv))
    assert sorted(base) == _rows(read_delta(spark, t))


def test_delta_cdf_empty_range_and_vacuum_guard(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import (
        read_delta_cdf,
        vacuum_table,
    )

    t = str(tmp_path / "tbl")
    for i in range(3):
        write_delta(
            spark.createDataFrame([(i, i)], "id long, v long"),
            t,
            mode="overwrite",
        )
    cdf, to_v = read_delta_cdf(spark, t, from_version=2)
    assert cdf.count() == 0 and to_v == 2
    assert cdf.columns[-2:] == ["_change_type", "_commit_version"]
    vacuum_table(t, keep_versions=1)
    with pytest.raises(ValueError, match="horizon"):
        read_delta_cdf(spark, t, from_version=0)


def test_delta_timestamp_time_travel(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import (
        table_history,
        version_at_timestamp,
    )

    t = str(tmp_path / "tbl")
    for i in range(3):
        write_delta(
            spark.createDataFrame([(i, i)], "id long, v long"),
            t,
            mode="overwrite",
        )
    hist = table_history(t)
    # at exactly v1's commit time -> v1 (<= rule); after the last -> v2
    assert version_at_timestamp(t, hist[1]["timestamp"]) >= 1
    assert version_at_timestamp(t, hist[-1]["timestamp"] + 10_000) == 2
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(t, hist[0]["timestamp"] - 10_000)


# ---------------------------------------------------------------------------
# Round-11 review regressions
# ---------------------------------------------------------------------------


def test_delta_cdf_on_partitioned_table(spark, tmp_path):
    """Review regression: the CDF must work on PARTITIONED tables —
    removes resolve to the full add action they retire (partitionValues
    included), and the feed carries the re-attached partition column."""
    from stadvdb_olap_spark.sources.delta_log import (
        delete_where,
        read_delta_cdf,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
        "id long, grp string, v long",
    )
    write_delta(df, t, mode="overwrite", partition_by=["grp"])
    delete_where(spark, t, "id = 2")
    cdf, _ = read_delta_cdf(spark, t, from_version=0)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["grp"], r["v"])
        for r in cdf.collect()
    )
    assert rows == [(1, "delete", 2, "a", 20)]


def test_delta_cdf_partitioned_overwrite_pre_round11_removes(spark, tmp_path):
    """Even when a remove action carries NO partitionValues (pre-fix
    logs), the CDF resolves it against the live file map it maintains."""
    import json as _json

    from stadvdb_olap_spark.sources.delta_log import read_delta_cdf

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a", 10)], "id long, grp string, v long")
    write_delta(df, t, mode="overwrite", partition_by=["grp"])
    write_delta(
        spark.createDataFrame([(9, "z", 90)], "id long, grp string, v long"),
        t,
        mode="overwrite",
        partition_by=["grp"],
    )
    # strip partitionValues from v1's removes, simulating an old log
    p = os.path.join(t, "_delta_log", f"{1:020d}.json")
    actions = [_json.loads(line) for line in open(p) if line.strip()]
    for a in actions:
        if "remove" in a:
            a["remove"].pop("partitionValues", None)
    with open(p, "w") as f:
        for a in actions:
            f.write(_json.dumps(a, sort_keys=True) + "\n")
    cdf, _ = read_delta_cdf(spark, t, from_version=0)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["grp"])
        for r in cdf.collect()
    )
    assert rows == [(1, "delete", 1, "a"), (1, "insert", 9, "z")]


def test_delta_prune_empty_live_set_returns_empty(spark, tmp_path):
    """Review regression: partition pruning over an EMPTY live set must
    return []/an empty frame, not crash schema inference."""
    from stadvdb_olap_spark.sources.delta_log import delete_where, live_files

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a", 10)], "id long, grp string, v long")
    write_delta(df, t, mode="overwrite", partition_by=["grp"])
    delete_where(spark, t, "id >= 0")  # empties the table
    assert live_files(t, partition_predicate="grp = 'a'", spark=spark) == []
    back = read_delta(spark, t, partition_predicate="grp = 'a'")
    assert back.count() == 0 and back.columns == ["id", "grp", "v"]


def test_delta_compact_partitioned_respects_target_files(spark, tmp_path):
    """Review regression: target_files bounds files PER PARTITION DIR
    (plain hash-by-partition collapsed every dir to one file) and a
    directory can actually receive more than one."""
    from stadvdb_olap_spark.sources.delta_log import _replay, compact_table

    t = str(tmp_path / "tbl")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("grp"),
        (F.col("id") * 3).alias("v"),
    )
    write_delta(df.repartition(8), t, mode="overwrite", partition_by=["grp"])
    compact_table(spark, t, target_files=3)
    by_dir: dict = {}
    for p in _replay(t)["files"]:
        by_dir.setdefault(p.split("/")[0], []).append(p)
    assert set(by_dir) == {"grp=0", "grp=1"}
    for d, files in by_dir.items():
        assert 1 <= len(files) <= 3, (d, files)
    assert any(len(files) > 1 for files in by_dir.values())
    assert read_delta(spark, t).count() == 2000


def test_delta_cdf_full_history_and_schema_evolution(spark, tmp_path):
    """Second-review regressions: from_version=-1 yields the whole
    history on an uncleaned log (commit 0's inserts included), and a
    range spanning a merge_schema evolution presents every row through
    the LATEST schema (old files null-fill the evolved column)."""
    from stadvdb_olap_spark.sources.delta_log import read_delta_cdf

    t = str(tmp_path / "tbl")
    write_delta(
        spark.createDataFrame([(1, 10)], "id long, v long"), t, "overwrite"
    )
    write_delta(
        spark.createDataFrame([(2, 20, "x")], "id long, v long, tag string"),
        t,
        mode="append",
        merge_schema=True,
    )
    cdf, to_v = read_delta_cdf(spark, t, from_version=-1)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"], r["tag"])
        for r in cdf.collect()
    )
    assert rows == [
        (0, "insert", 1, 10, None),
        (1, "insert", 2, 20, "x"),
    ]
    assert to_v == 1


def test_delta_compact_salt_handles_map_columns(spark, tmp_path):
    """Second-review regression: the per-directory salt must not feed
    map-typed columns to F.hash (unhashable); such tables fall back to
    other columns or the source partition id."""
    from stadvdb_olap_spark.sources.delta_log import compact_table

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", {"k": "v"}), (2, "b", {"k2": "v2"})],
        "id long, grp string, attrs map<string,string>",
    )
    write_delta(df.repartition(4), t, mode="overwrite", partition_by=["grp"])
    compact_table(spark, t, target_files=2)
    assert read_delta(spark, t).count() == 2

    # all-map data columns: the spark_partition_id fallback
    t2 = str(tmp_path / "tbl2")
    df2 = spark.createDataFrame(
        [("a", {"k": "v"}), ("b", {"k2": "v2"})],
        "grp string, attrs map<string,string>",
    )
    write_delta(df2.repartition(4), t2, mode="overwrite", partition_by=["grp"])
    compact_table(spark, t2, target_files=2)
    assert read_delta(spark, t2).count() == 2


def test_delta_zorder_partitioned_bounds_files_per_dir(spark, tmp_path):
    """Second-review regression: partitioned ZORDER range-partitions on
    (parts..., z) so target_files bounds per-directory files AND each
    file is a contiguous curve segment (disjoint per-dir value ranges)."""
    import pyarrow.parquet as papq

    from stadvdb_olap_spark.sources.delta_log import _replay, compact_table

    t = str(tmp_path / "tbl")
    df = spark.range(4000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("grp"),
        ((F.col("id") * 373) % 1000).alias("v"),
    )
    write_delta(df.repartition(8), t, mode="overwrite", partition_by=["grp"])
    before = _rows(read_delta(spark, t))
    compact_table(spark, t, target_files=3, zorder_by=["v"])
    assert _rows(read_delta(spark, t)) == before

    by_dir: dict = {}
    for p in _replay(t)["files"]:
        by_dir.setdefault(p.split("/")[0], []).append(p)
    assert set(by_dir) == {"grp=0", "grp=1"}
    for d, files in by_dir.items():
        assert 1 < len(files) <= 3, (d, files)
        ranges = []
        for p in files:
            md = papq.read_metadata(os.path.join(t, p))
            idx = md.schema.to_arrow_schema().names.index("v")
            lo = min(md.row_group(g).column(idx).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max
                     for g in range(md.num_row_groups))
            ranges.append((lo, hi))
        ranges.sort()
        for (l1, h1), (l2, _h2) in zip(ranges, ranges[1:]):
            assert h1 <= l2, (d, ranges)


def test_delta_corrupt_checkpoint_degrades_to_json_replay(spark, tmp_path):
    """A torn/corrupt N.checkpoint.parquet (crash mid-write on a
    pre-atomic-rename log, bit rot) must degrade to an older checkpoint
    or full JSON replay, never brick the table — and the checkpoint
    writer itself lands via tmp + os.replace, so no in-place torn file
    can appear in a normal lifecycle."""
    from stadvdb_olap_spark.sources.delta_log import checkpoint_table

    t = str(tmp_path / "tbl")
    df = spark.range(6).select(F.col("id"), (F.col("id") % 2).alias("g"))
    write_delta(df, t, mode="overwrite")
    write_delta(df, t, mode="append")
    v = checkpoint_table(t)
    cp = os.path.join(t, "_delta_log", f"{v:020d}.checkpoint.parquet")
    assert os.path.isfile(cp)
    # no tmp leftovers from the atomic rename
    assert not [
        n for n in os.listdir(os.path.join(t, "_delta_log"))
        if n.endswith(".tmp")
    ]
    before = _rows(read_delta(spark, t))
    # truncate the checkpoint to simulate a torn write
    with open(cp, "r+b") as f:
        f.truncate(16)
    assert _rows(read_delta(spark, t)) == before  # JSON replay fallback
    # and writes still work (append replays state through the fallback)
    write_delta(df, t, mode="append")
    assert len(_rows(read_delta(spark, t))) == 18


def test_delta_delete_partition_predicate_is_semantic_and_audited(
    spark, tmp_path
):
    """partition_predicate restricts the DELETE's scope (WHERE pred AND
    partition_pred) and is recorded in commitInfo for the audit trail."""
    from stadvdb_olap_spark.sources.delta_log import delete_where

    t = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("g")
    )
    write_delta(df, t, mode="overwrite", partition_by=["g"])
    # id < 4 matches rows in BOTH partitions; scope restricts to g='0'
    delete_where(spark, t, "id < 4", partition_predicate="g = '0'")
    left = _rows(read_delta(spark, t))
    assert sorted(r[0] for r in left) == [1, 3, 4, 5, 6, 7, 8, 9]
    hist = table_history(t)
    params = hist[-1]["operationParameters"]
    assert params["partitionPredicate"] == "g = '0'"
    assert "id < 4" in params["predicate"]


def test_delta_prune_without_session_raises_clear_error(spark, tmp_path):
    """live_files with a partition predicate and no usable session must
    raise a descriptive ValueError, not AttributeError on None."""
    from unittest import mock

    from stadvdb_olap_spark.sources import delta_log
    from stadvdb_olap_spark.sources.delta_log import live_files

    t = str(tmp_path / "tbl")
    df = spark.range(4).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("g")
    )
    write_delta(df, t, mode="overwrite", partition_by=["g"])
    with mock.patch.object(
        delta_log.SparkSession, "getActiveSession", return_value=None
    ):
        with pytest.raises(ValueError, match="SparkSession"):
            live_files(t, partition_predicate="g = '0'")


def test_delta_merge_schema_evolution_adds_and_widens(spark, tmp_path):
    """merge_schema=True on the format path: source-only columns append
    (un-rewritten files read NULL), shared columns widen within the
    parquet reader's promotion set (un-rewritten int files read as
    long), the commit re-pins metaData, and the merge is idempotent —
    including at the metadata level on the second run."""
    from stadvdb_olap_spark.sources.delta_log import (
        _replay,
        merge_delta_scd1,
    )

    t = str(tmp_path / "tbl")
    target = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
        "id long, v int, s string",
    )
    # multi-file so SOME files stay un-rewritten
    write_delta(target.repartition(4), t, mode="overwrite")
    source = spark.createDataFrame(
        [(2, 200, "B", "x"), (5, 500, "E", "y")],
        "id long, v long, s string, extra string",
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        merge_delta_scd1(spark, t, source, keys=["id"])
    merge_delta_scd1(spark, t, source, keys=["id"], merge_schema=True)
    got = read_delta(spark, t)
    assert [
        (f.name, f.dataType.simpleString()) for f in got.schema.fields
    ] == [
        ("id", "bigint"), ("v", "bigint"), ("s", "string"),
        ("extra", "string"),
    ]
    assert _rows(got) == [
        (1, 10, "a", None), (2, 200, "B", "x"), (3, 30, "c", None),
        (4, 40, "d", None), (5, 500, "E", "y"),
    ]
    v1 = _replay(t)["version"]
    # second identical merge: same data, and NO new metaData action
    merge_delta_scd1(spark, t, source, keys=["id"], merge_schema=True)
    assert _rows(read_delta(spark, t)) == _rows(got)
    last = os.path.join(t, "_delta_log", f"{v1 + 1:020d}.json")
    kinds = {next(iter(json.loads(l))) for l in open(last) if l.strip()}
    assert "metaData" not in kinds


def test_delta_merge_evolution_guards(spark, tmp_path):
    """Key drift, partition-column drift, and widenings outside the
    parquet reader's promotion set all raise clearly."""
    from stadvdb_olap_spark.sources.delta_log import merge_delta_scd1

    t = str(tmp_path / "tbl")
    write_delta(
        spark.sql(
            "SELECT 1L AS id, CAST(1 AS INT) AS v, DATE '2024-01-01' AS d, "
            "'p' AS g"
        ),
        t,
        mode="overwrite",
        partition_by=["g"],
    )
    key_drift = spark.sql(
        "SELECT CAST(1 AS INT) AS id, CAST(1 AS INT) AS v, "
        "DATE '2024-01-01' AS d, 'p' AS g"
    )
    with pytest.raises(ValueError, match="KEY"):
        merge_delta_scd1(spark, t, key_drift, keys=["id"], merge_schema=True)
    part_drift = spark.sql(
        "SELECT 1L AS id, CAST(1 AS INT) AS v, DATE '2024-01-01' AS d, "
        "CAST(NULL AS BIGINT) AS g"
    )
    with pytest.raises(ValueError, match="partition column"):
        merge_delta_scd1(spark, t, part_drift, keys=["id"], merge_schema=True)
    # date -> timestamp is value-preserving but NOT parquet-readable
    # over un-rewritten files: must raise, not corrupt reads
    ts_drift = spark.sql(
        "SELECT 1L AS id, CAST(1 AS INT) AS v, "
        "TIMESTAMP '2024-01-01 00:00:00' AS d, 'p' AS g"
    )
    with pytest.raises(ValueError, match="promotion"):
        merge_delta_scd1(spark, t, ts_drift, keys=["id"], merge_schema=True)
    # missing key column
    no_key = spark.sql("SELECT CAST(1 AS INT) AS v")
    with pytest.raises(ValueError, match="key columns"):
        merge_delta_scd1(spark, t, no_key, keys=["id"], merge_schema=True)


def _interleave(monkeypatch, interloper):
    """Run ``interloper()`` (a racing writer) exactly once, right after
    the NEXT write's data files are staged and before its commit — the
    deterministic version of two writers racing the same log version."""
    from stadvdb_olap_spark.sources import delta_log

    original = delta_log._stage_files
    fired = {"done": False}

    def wrapper(*args, **kwargs):
        adds = original(*args, **kwargs)
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.setattr(delta_log, "_stage_files", original)
            interloper()
        return adds

    monkeypatch.setattr(delta_log, "_stage_files", wrapper)


def test_delta_concurrent_appends_commute_via_retry(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "tbl")
    write_delta(spark.range(0, 5), t, mode="overwrite")

    def interloper():
        write_delta(spark.range(10, 15), t, mode="append")

    _interleave(monkeypatch, interloper)
    v = write_delta(spark.range(5, 10), t, mode="append")
    # interloper took version 1; ours retried and landed at 2
    assert v == 2 and table_versions(t) == [0, 1, 2]
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(
        range(15)
    )


def test_delta_delete_conflicts_with_racing_append(
    spark, tmp_path, monkeypatch
):
    from stadvdb_olap_spark.sources.delta_log import (
        ConcurrentWriteError,
        delete_where,
    )

    t = str(tmp_path / "tbl")
    write_delta(spark.range(10), t, mode="overwrite")

    def interloper():
        write_delta(spark.range(100, 105), t, mode="append")

    _interleave(monkeypatch, interloper)
    with pytest.raises(ConcurrentWriteError, match="added data"):
        delete_where(spark, t, "id < 3")
    # nothing half-committed: the racing append is intact, delete is not
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(
        range(10)
    ) + list(range(100, 105))


def test_delta_delete_conflicts_with_racing_delete_same_file(
    spark, tmp_path, monkeypatch
):
    from stadvdb_olap_spark.sources.delta_log import (
        ConcurrentWriteError,
        delete_where,
    )

    t = str(tmp_path / "tbl")
    write_delta(spark.range(10).coalesce(1), t, mode="overwrite")

    def interloper():
        delete_where(spark, t, "id = 9")

    _interleave(monkeypatch, interloper)
    with pytest.raises(ConcurrentWriteError, match="remove"):
        delete_where(spark, t, "id < 3")


def test_delta_compact_commutes_with_racing_append(
    spark, tmp_path, monkeypatch
):
    from stadvdb_olap_spark.sources.delta_log import compact_table

    t = str(tmp_path / "tbl")
    write_delta(spark.range(0, 6).repartition(3), t, mode="overwrite")

    def interloper():
        write_delta(spark.range(6, 9), t, mode="append")

    _interleave(monkeypatch, interloper)
    v = compact_table(spark, t, target_files=1)
    assert v == 2
    # compaction retired only the OLD files; the racing append's rows
    # survive alongside the compacted ones
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(
        range(9)
    )


def test_delta_overwrite_conflicts_with_racing_optimize(
    spark, tmp_path, monkeypatch
):
    """OPTIMIZE's adds carry dataChange=false and an overwrite reads no
    files, so only the overwrite's own remove set can catch this race:
    both commits retire the same files."""
    from stadvdb_olap_spark.sources.delta_log import (
        ConcurrentWriteError,
        compact_table,
    )

    t = str(tmp_path / "tbl")
    write_delta(spark.range(0, 6).repartition(3), t, mode="overwrite")

    def interloper():
        compact_table(spark, t, target_files=1)

    _interleave(monkeypatch, interloper)
    with pytest.raises(ConcurrentWriteError, match="also removes"):
        write_delta(spark.range(10, 12), t, mode="overwrite")
    # the compaction landed alone: content unchanged
    assert table_versions(t) == [0, 1]
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(
        range(6)
    )


def test_delta_txn_watermark_conflict_on_race(spark, tmp_path, monkeypatch):
    from stadvdb_olap_spark.sources.delta_log import ConcurrentWriteError

    t = str(tmp_path / "tbl")
    write_delta(spark.range(3), t, mode="overwrite")

    def interloper():
        # the SAME idempotent batch lands first from another worker
        write_delta(spark.range(3, 6), t, mode="append", txn=("app", 7))

    _interleave(monkeypatch, interloper)
    with pytest.raises(ConcurrentWriteError, match="already committed"):
        write_delta(spark.range(3, 6), t, mode="append", txn=("app", 7))
    # exactly-once held: one copy of the batch
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(
        range(6)
    )


def test_delta_restore_to_version_and_timestamp(spark, tmp_path):
    """RESTORE commits a new version equal to the target's live set,
    history intact; schema re-pins when the target's differs; vacuumed
    targets fail fast."""
    from stadvdb_olap_spark.sources.delta_log import (
        delete_where,
        restore_table,
        table_history,
        vacuum_table,
    )

    t = str(tmp_path / "tbl")
    a = spark.range(6).select("id")
    b = spark.range(6, 10).select("id")
    write_delta(a, t, mode="overwrite")                  # v0
    v1 = write_delta(b, t, mode="append")                # v1
    delete_where(spark, t, "id % 2 = 0")                 # v2
    v3 = restore_table(t, version=v1)
    assert v3 == 3
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(
        range(10)
    )
    # history preserved; restore is itself a version
    hist = table_history(t)
    assert [h["operation"] for h in hist] == [
        "WRITE", "APPEND", "DELETE", "RESTORE",
    ]
    # un-restore: roll forward to the post-delete state again
    restore_table(t, version=2)
    assert sorted(r.id for r in read_delta(spark, t).collect()) == [
        1, 3, 5, 7, 9,
    ]
    # timestamp form resolves through version_at_timestamp
    ts = hist[1]["timestamp"]
    restore_table(t, timestamp_ms=ts)
    assert read_delta(spark, t).count() == 10
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(t)
    with pytest.raises(ValueError, match="already at"):
        restore_table(t, version=table_versions(t)[-1])


def test_delta_restore_repins_old_schema(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import restore_table

    t = str(tmp_path / "tbl")
    write_delta(spark.range(3).select("id"), t, mode="overwrite")
    write_delta(
        spark.range(3).select("id", F.lit("x").alias("s")),
        t,
        mode="overwrite",
    )
    restore_table(t, version=0)
    got = read_delta(spark, t)
    assert [f.name for f in got.schema.fields] == ["id"]
    assert got.count() == 3


def test_delta_restore_below_vacuum_horizon_fails_fast(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import (
        delete_where,
        restore_table,
        vacuum_table,
    )

    t = str(tmp_path / "tbl")
    write_delta(spark.range(4), t, mode="overwrite")     # v0
    write_delta(spark.range(4, 8), t, mode="append")     # v1
    delete_where(spark, t, "id < 2")                     # v2
    vacuum_table(t, keep_versions=1)                     # horizon = v2
    with pytest.raises(ValueError, match="vacuumed"):
        restore_table(t, version=0)


def test_delta_check_constraints_enforced_on_writes(spark, tmp_path):
    """ADD CONSTRAINT validates existing data and bumps the writer
    version; subsequent appends and merges validate their staged batch
    and abort (reclaiming staged files) on violation; NULL satisfies
    (SQL CHECK semantics); DROP CONSTRAINT lifts enforcement."""
    from stadvdb_olap_spark.sources.delta_log import (
        _replay,
        drop_check_constraint,
        merge_delta_scd1,
        set_check_constraint,
        table_constraints,
    )

    t = str(tmp_path / "tbl")
    write_delta(
        spark.createDataFrame([(1, 10), (2, None)], "id long, v long"), t,
        mode="overwrite",
    )
    # existing NULL passes (CHECK semantics); a violating constraint
    # on existing data refuses
    with pytest.raises(ValueError, match="existing rows"):
        set_check_constraint(spark, t, "v_big", "v > 15")
    set_check_constraint(spark, t, "v_pos", "v > 0")
    state = _replay(t)
    assert table_constraints(state["meta"]) == {"v_pos": "v > 0"}
    assert state["protocol"]["minWriterVersion"] >= 3

    before_files = set(_replay(t)["files"])
    with pytest.raises(ValueError, match="CHECK constraint"):
        write_delta(
            spark.createDataFrame([(3, -5)], "id long, v long"), t,
            mode="append",
        )
    # nothing committed, staged files reclaimed
    assert set(_replay(t)["files"]) == before_files
    leftovers = [
        f for f in os.listdir(t)
        if f.endswith(".parquet") and f not in {
            os.path.basename(p) for p in before_files
        }
    ]
    assert leftovers == []
    # valid append (with a NULL, which satisfies) lands
    write_delta(
        spark.createDataFrame([(3, None), (4, 4)], "id long, v long"), t,
        mode="append",
    )
    # merge validates too
    bad_src = spark.createDataFrame([(1, -1)], "id long, v long")
    with pytest.raises(ValueError, match="CHECK constraint"):
        merge_delta_scd1(spark, t, bad_src, keys=["id"])
    # constraint survives schema evolution (configuration carried)
    evolved = spark.createDataFrame(
        [(5, 5, "x")], "id long, v long, tag string"
    )
    merge_delta_scd1(spark, t, evolved, keys=["id"], merge_schema=True)
    assert table_constraints(_replay(t)["meta"]) == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="CHECK constraint"):
        write_delta(
            spark.createDataFrame(
                [(6, -6, "y")], "id long, v long, tag string"
            ),
            t,
            mode="append",
        )
    drop_check_constraint(t, "v_pos")
    write_delta(
        spark.createDataFrame([(7, -7, "z")], "id long, v long, tag string"),
        t,
        mode="append",
    )
    assert read_delta(spark, t).where("v = -7").count() == 1
    with pytest.raises(ValueError, match="no constraint"):
        drop_check_constraint(t, "v_pos")


def test_delta_append_only_tables_refuse_dml(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import (
        compact_table,
        delete_where,
        merge_delta_scd1,
        restore_table,
        set_table_properties,
    )

    t = str(tmp_path / "tbl")
    write_delta(spark.range(6).select("id"), t, mode="overwrite")
    set_table_properties(t, {"delta.appendOnly": "true"})
    write_delta(spark.range(6, 9).select("id"), t, mode="append")  # fine
    with pytest.raises(ValueError, match="appendOnly"):
        delete_where(spark, t, "id = 1")
    with pytest.raises(ValueError, match="appendOnly"):
        write_delta(spark.range(2).select("id"), t, mode="overwrite")
    with pytest.raises(ValueError, match="appendOnly"):
        merge_delta_scd1(
            spark, t, spark.range(1).select("id"), keys=["id"]
        )
    with pytest.raises(ValueError, match="appendOnly"):
        restore_table(t, version=0)
    # content-preserving OPTIMIZE is allowed
    compact_table(spark, t, target_files=1)
    assert read_delta(spark, t).count() == 9
    # unset lifts the gate
    set_table_properties(t, {"delta.appendOnly": None})
    delete_where(spark, t, "id = 1")
    assert read_delta(spark, t).count() == 8

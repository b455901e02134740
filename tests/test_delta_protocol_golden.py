"""Golden-file protocol conformance for sources/delta_log.py.

No off-the-shelf Delta reader is installable in this runtime (delta-rs /
delta-spark / DuckDB's delta extension all need a network fetch), so the
"any Delta reader can open these tables" claim is pinned the next-best
way: a scripted commit sequence must produce EXACTLY the action stream
delta-io/delta PROTOCOL.md prescribes — action kinds, field names,
field types, and ordering — with only the genuinely volatile fields
(uuids, timestamps, byte sizes) normalized. Any drift in what we write
to ``_delta_log`` fails this test before it can break an external
reader."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from stadvdb_olap_spark.sources.delta_log import (
    checkpoint_table,
    compact_table,
    delete_where,
    drop_check_constraint,
    merge_delta_scd1,
    restore_table,
    set_check_constraint,
    set_table_properties,
    table_versions,
    write_delta,
)


def _normalized_log(table_dir: str, meta_ids: bool = False) -> list[list[dict]]:
    """All commit actions, volatile fields replaced by stable tokens.

    File paths are replaced by sequence tokens CONSISTENTLY across
    actions (an add and a later remove of the same file normalize to
    the same token), so copy-on-write identity is part of the golden.
    With ``meta_ids`` the metaData ids get the same treatment, so the
    golden also pins which commits keep the table id and which mint a
    fresh one."""
    path_tokens: dict[str, str] = {}
    id_tokens: dict[str, str] = {}

    def tok(path: str) -> str:
        if path not in path_tokens:
            prefix = path.rsplit("/", 1)[0] + "/" if "/" in path else ""
            path_tokens[path] = f"{prefix}<file-{len(path_tokens)}>"
        return path_tokens[path]

    out = []
    for v in table_versions(table_dir):
        commit = []
        p = os.path.join(table_dir, "_delta_log", f"{v:020d}.json")
        for line in open(p):
            if not line.strip():
                continue
            a = json.loads(line)
            kind = next(iter(a))
            body = dict(a[kind])
            if kind == "commitInfo":
                body["timestamp"] = 0
            elif kind == "metaData":
                body["id"] = (
                    id_tokens.setdefault(body["id"], f"<meta-{len(id_tokens)}>")
                    if meta_ids
                    else "<uuid>"
                )
                body["createdTime"] = 0
                body["schemaString"] = json.loads(body["schemaString"])
            elif kind == "add":
                body["path"] = tok(body["path"])
                body["size"] = "<bytes>"
                body["modificationTime"] = 0
                # stats are DETERMINISTIC for the scripted data — pin
                # values, not just shape (parsed like schemaString)
                body["stats"] = json.loads(body["stats"])
            elif kind == "remove":
                body["path"] = tok(body["path"])
                body["deletionTimestamp"] = 0
            commit.append({kind: body})
        out.append(commit)
    return out


def _field(name, type_, nullable=True):
    return {"name": name, "type": type_, "nullable": nullable, "metadata": {}}


_SCHEMA = {
    "type": "struct",
    "fields": [_field("id", "long"), _field("s", "string")],
}

_CI = {
    "engineInfo": "stadvdb-olap-spark delta_log writer",
    "timestamp": 0,
}

GOLDEN = [
    # v0: CREATE (overwrite into empty dir): commitInfo, protocol,
    # metaData, adds — protocol version 1/2 (plain parquet, no column
    # mapping / deletion vectors), exactly what old readers accept.
    [
        {"commitInfo": dict(_CI, operation="WRITE",
                            operationParameters={"mode": "OVERWRITE",
                                                 "partitionBy": "[]"})},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "<uuid>",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": _SCHEMA,
                      "partitionColumns": [],
                      "configuration": {},
                      "createdTime": 0}},
        {"add": {"path": "<file-0>", "partitionValues": {},
                 "size": "<bytes>", "modificationTime": 0,
                 "dataChange": True,
                 "stats": {"maxValues": {"id": 2, "s": "b"},
                   "minValues": {"id": 1, "s": "a"},
                   "nullCount": {"id": 0, "s": 0},
                   "numRecords": 2}}},
    ],
    # v1: APPEND with an idempotent-writer txn action
    [
        {"commitInfo": dict(_CI, operation="APPEND",
                            operationParameters={"mode": "APPEND",
                                                 "partitionBy": "[]"})},
        {"txn": {"appId": "golden_app", "version": 1}},
        {"add": {"path": "<file-1>", "partitionValues": {},
                 "size": "<bytes>", "modificationTime": 0,
                 "dataChange": True,
                 "stats": {"maxValues": {"id": 3, "s": "c"},
                   "minValues": {"id": 3, "s": "c"},
                   "nullCount": {"id": 0, "s": 0},
                   "numRecords": 1}}},
    ],
    # v2: copy-on-write DELETE — remove(hit file-0) + add(rewrite)
    [
        {"commitInfo": dict(_CI, operation="DELETE",
                            operationParameters={"predicate": "id = 1",
                                                 "rewrittenFiles": 1})},
        {"remove": {"path": "<file-0>", "partitionValues": {},
                    "deletionTimestamp": 0, "dataChange": True}},
        {"add": {"path": "<file-2>", "partitionValues": {},
                 "size": "<bytes>", "modificationTime": 0,
                 "dataChange": True,
                 "stats": {"maxValues": {"id": 2, "s": "b"},
                   "minValues": {"id": 2, "s": "b"},
                   "nullCount": {"id": 0, "s": 0},
                   "numRecords": 1}}},
    ],
    # v3: OPTIMIZE — dataChange=false on BOTH sides so streaming
    # consumers skip it
    [
        {"commitInfo": dict(_CI, operation="OPTIMIZE",
                            operationParameters={"targetFiles": 1,
                                                 "zOrderBy": "[]"})},
        {"remove": {"path": "<file-1>", "partitionValues": {},
                    "deletionTimestamp": 0, "dataChange": False}},
        {"remove": {"path": "<file-2>", "partitionValues": {},
                    "deletionTimestamp": 0, "dataChange": False}},
        {"add": {"path": "<file-3>", "partitionValues": {},
                 "size": "<bytes>", "modificationTime": 0,
                 "dataChange": True,
                 "stats": {"maxValues": {"id": 3, "s": "c"},
                   "minValues": {"id": 2, "s": "b"},
                   "nullCount": {"id": 0, "s": 0},
                   "numRecords": 2}}},
    ],
]


def test_delta_log_matches_protocol_golden(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    write_delta(base.coalesce(1), t, mode="overwrite")
    write_delta(
        spark.createDataFrame([(3, "c")], "id long, s string").coalesce(1),
        t,
        mode="append",
        txn=("golden_app", 1),
    )
    delete_where(spark, t, "id = 1")
    compact_table(spark, t, target_files=1)
    got = _normalized_log(t)
    # compact writes dataChange=False adds; golden pins the protocol's
    # requirement that OPTIMIZE output files carry dataChange=false too
    golden = [list(c) for c in GOLDEN]
    golden[3][3]["add"] = dict(golden[3][3]["add"], dataChange=False)
    assert got == golden


def _meta(meta_id, fields, configuration=None):
    return {"metaData": {"id": meta_id,
                         "format": {"provider": "parquet", "options": {}},
                         "schemaString": {"type": "struct", "fields": fields},
                         "partitionColumns": [],
                         "configuration": configuration or {},
                         "createdTime": 0}}


def _remove(path):
    return {"remove": {"path": path, "partitionValues": {},
                       "deletionTimestamp": 0, "dataChange": True}}


def _add(path, lo, hi, nulls, n):
    return {"add": {"path": path, "partitionValues": {}, "size": "<bytes>",
                    "modificationTime": 0, "dataChange": True,
                    "stats": {"minValues": lo, "maxValues": hi,
                              "nullCount": nulls, "numRecords": n}}}


_IDS = [_field("id", "long"), _field("s", "string")]
_IDS_N = _IDS + [_field("n", "integer")]
_NO_NULLS = {"id": 0, "s": 0}

GOLDEN_DML = [
    # v0: CREATE
    [
        {"commitInfo": dict(_CI, operation="WRITE",
                            operationParameters={"mode": "OVERWRITE",
                                                 "partitionBy": "[]"})},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta("<meta-0>", _IDS),
        _add("<file-0>", {"id": 1, "s": "a"}, {"id": 2, "s": "b"},
             _NO_NULLS, 2),
    ],
    # v1: overwrite of a live table, same schema — removes every prior
    # file and commits no protocol/metaData
    [
        {"commitInfo": dict(_CI, operation="WRITE",
                            operationParameters={"mode": "OVERWRITE",
                                                 "partitionBy": "[]"})},
        _remove("<file-0>"),
        _add("<file-1>", {"id": 1, "s": "a"}, {"id": 3, "s": "c"},
             _NO_NULLS, 3),
    ],
    # v2: MERGE carrying a txn — txn rides before the removes;
    # survivors file, then the source batch file
    [
        {"commitInfo": dict(_CI, operation="MERGE",
                            operationParameters={"keys": '["id"]',
                                                 "matchedFiles": 1,
                                                 "schemaEvolved": False})},
        {"txn": {"appId": "golden_merge", "version": 1}},
        _remove("<file-1>"),
        _add("<file-2>", {"id": 1, "s": "a"}, {"id": 3, "s": "c"},
             _NO_NULLS, 2),
        _add("<file-3>", {"id": 2, "s": "B"}, {"id": 4, "s": "d"},
             _NO_NULLS, 2),
    ],
    # v3: schema-evolving MERGE — a fresh metaData (new id) before the
    # removes; survivors null-fill the new column
    [
        {"commitInfo": dict(_CI, operation="MERGE",
                            operationParameters={"keys": '["id"]',
                                                 "matchedFiles": 1,
                                                 "schemaEvolved": True})},
        _meta("<meta-1>", _IDS_N),
        _remove("<file-2>"),
        _add("<file-4>", {"id": 3, "s": "c"}, {"id": 3, "s": "c"},
             {"id": 0, "n": 1, "s": 0}, 1),
        _add("<file-5>", {"id": 1, "n": 7, "s": "A"},
             {"id": 1, "n": 7, "s": "A"}, {"id": 0, "n": 0, "s": 0}, 1),
    ],
    # v4: RESTORE to v0 — re-pins v0's metaData (its id included),
    # removes everything live since, re-adds v0's file
    [
        {"commitInfo": dict(_CI, operation="RESTORE",
                            operationParameters={"version": 0,
                                                 "sourceVersion": 3})},
        _meta("<meta-0>", _IDS),
        _remove("<file-3>"),
        _remove("<file-4>"),
        _remove("<file-5>"),
        _add("<file-0>", {"id": 1, "s": "a"}, {"id": 2, "s": "b"},
             _NO_NULLS, 2),
    ],
    # v5: DELETE matching nothing — an audit-only commit
    [
        {"commitInfo": dict(_CI, operation="DELETE",
                            operationParameters={"predicate": "id = 999"})},
    ],
    # v6: ADD CONSTRAINT — writer protocol bumps to 3, then the
    # configuration-only metaData (same table id)
    [
        {"commitInfo": dict(_CI, operation="ADD CONSTRAINT",
                            operationParameters={"name": "id_pos",
                                                 "expr": "id > 0"})},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}},
        _meta("<meta-0>", _IDS, {"delta.constraints.id_pos": "id > 0"}),
    ],
    # v7: SET TBLPROPERTIES
    [
        {"commitInfo": dict(_CI, operation="SET TBLPROPERTIES",
                            operationParameters={
                                "properties": '{"owner": "golden"}'})},
        _meta("<meta-0>", _IDS, {"delta.constraints.id_pos": "id > 0",
                                 "owner": "golden"}),
    ],
    # v8: DROP CONSTRAINT
    [
        {"commitInfo": dict(_CI, operation="DROP CONSTRAINT",
                            operationParameters={"name": "id_pos"})},
        _meta("<meta-0>", _IDS, {"owner": "golden"}),
    ],
]


def test_delta_dml_log_matches_protocol_golden(spark, tmp_path):
    """The DML, RESTORE and table-property commit shapes: overwrite of
    a live table, MERGE with txn, schema-evolving MERGE, RESTORE across
    a schema change, no-op DELETE, ADD/DROP CONSTRAINT and SET
    TBLPROPERTIES."""
    t = str(tmp_path / "tbl")
    schema = "id long, s string"

    def frame(rows, ddl=schema):
        return spark.createDataFrame(rows, ddl).coalesce(1)

    write_delta(frame([(1, "a"), (2, "b")]), t, mode="overwrite")
    write_delta(frame([(1, "a"), (2, "b"), (3, "c")]), t, mode="overwrite")
    merge_delta_scd1(spark, t, frame([(2, "B"), (4, "d")]), ["id"],
                     txn=("golden_merge", 1))
    merge_delta_scd1(spark, t, frame([(1, "A", 7)], schema + ", n int"),
                     ["id"], merge_schema=True)
    restore_table(t, version=0)
    delete_where(spark, t, "id = 999")
    set_check_constraint(spark, t, "id_pos", "id > 0")
    set_table_properties(t, {"owner": "golden"})
    drop_check_constraint(t, "id_pos")
    assert _normalized_log(t, meta_ids=True) == GOLDEN_DML


def test_delta_checkpoint_matches_protocol_columns(spark, tmp_path):
    """The parquet checkpoint exposes the protocol's top-level action
    columns with the protocol's nested field names — what an external
    reader's checkpoint loader keys on."""
    import pyarrow.parquet as papq

    t = str(tmp_path / "tbl")
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, s string"),
        t,
        mode="overwrite",
        txn=("golden_app", 1),
    )
    v = checkpoint_table(t)
    cp = os.path.join(t, "_delta_log", f"{v:020d}.checkpoint.parquet")
    assert os.path.isfile(cp)
    schema = papq.read_schema(cp)
    assert set(schema.names) == {"protocol", "metaData", "txn", "add"}
    meta_fields = {f.name for f in schema.field("metaData").type}
    assert {
        "id", "format", "schemaString", "partitionColumns",
        "configuration", "createdTime",
    } <= meta_fields
    add_fields = {f.name for f in schema.field("add").type}
    assert {
        "path", "partitionValues", "size", "modificationTime", "dataChange",
        "stats",
    } <= add_fields
    lc = json.load(open(os.path.join(t, "_delta_log", "_last_checkpoint")))
    assert lc["version"] == v and lc["size"] >= 3


def test_delta_partitioned_add_paths_are_hive_relative(spark, tmp_path):
    """Partitioned adds: path is table-relative with hive-style
    segments, partitionValues carries the raw string values (null for
    the hive default partition) — the layout external readers expect."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "x", 1.0), (2, None, 2.0)], "id long, grp string, v double"
    )
    write_delta(df, t, mode="overwrite", partition_by=["grp"])
    log0 = os.path.join(t, "_delta_log", f"{0:020d}.json")
    adds = [
        json.loads(line)["add"]
        for line in open(log0)
        if line.strip() and "add" in json.loads(line)
    ]
    by_val = {a["partitionValues"]["grp"]: a for a in adds}
    assert set(by_val) == {"x", None}
    assert by_val["x"]["path"].startswith("grp=x/")
    assert by_val[None]["path"].startswith("grp=__HIVE_DEFAULT_PARTITION__/")
    meta = next(
        json.loads(line)["metaData"]
        for line in open(log0)
        if line.strip() and "metaData" in json.loads(line)
    )
    assert meta["partitionColumns"] == ["grp"]
    # partition column is NOT in the data files (protocol requirement)
    import pyarrow.parquet as papq

    data_file = os.path.join(t, by_val["x"]["path"])
    assert "grp" not in papq.read_schema(data_file).names


def test_delta_golden_uses_plain_column_filter(spark, tmp_path):
    """delete_where accepts Column predicates too — parity with the
    string path used in the golden sequence."""
    t = str(tmp_path / "tbl")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"),
        t,
        mode="overwrite",
    )
    delete_where(spark, t, F.col("id") == 2)
    from stadvdb_olap_spark.sources.delta_log import read_delta

    assert [tuple(r) for r in read_delta(spark, t).collect()] == [(1, "a")]

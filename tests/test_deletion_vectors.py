"""Deletion-vector READ support (sources/deletion_vectors.py + the
delta_log reader): Z85, the 64-bit RoaringBitmapArray portable format,
descriptor resolution (inline / relative-uuid / absolute), the
_metadata.row_index anti-join, and the reader-protocol gate."""

from __future__ import annotations

import json
import os
import struct
import uuid

import pytest
from pyspark.sql import functions as F

from stadvdb_olap_spark.sources.delta_log import (
    read_delta,
    write_delta,
)
from stadvdb_olap_spark.sources.deletion_vectors import (
    decode_bitmap,
    deleted_positions,
    dv_file_name,
    encode_bitmap,
    write_dv_file,
    z85_decode,
    z85_encode,
)


def test_z85_roundtrip_and_reference_vector():
    # the ZeroMQ spec's reference vector: 0x86 0x4F 0xD2 0x6F 0xB5 0x59
    # 0xF7 0x5B encodes to "HelloWorld"
    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
    )
    for payload in (b"", b"abcd", bytes(range(32))):
        assert z85_decode(z85_encode(payload)) == payload
    with pytest.raises(ValueError):
        z85_decode("abcd")  # not a multiple of 5
    with pytest.raises(ValueError):
        z85_encode(b"abc")  # not a multiple of 4


def test_roaring_bitmap_array_roundtrip():
    cases = [
        [],
        [0],
        [0, 1, 2, 65535, 65536, 131071],          # two 16-bit keys
        list(range(100)) + [1 << 33, (1 << 33) + 5],  # two 32-bit keys
        [7, 1 << 16, (1 << 16) + 1, (1 << 32) + 9],
    ]
    for values in cases:
        assert decode_bitmap(encode_bitmap(values)) == sorted(set(values))
    with pytest.raises(ValueError, match="magic"):
        decode_bitmap(struct.pack("<iq", 123, 0))


def test_roaring_run_and_bitmap_containers_decode():
    """The decoder must handle run (cookie 12347) and dense bitmap
    containers, which real writers emit — build them by hand."""
    # run-format bitmap: one container, runs [(5, len 3), (100, len 1)]
    rb = struct.pack("<I", 12347 | (0 << 16))        # 1 container
    rb += bytes([0b1])                                # run flag for c0
    rb += struct.pack("<HH", 0, 4 - 1)                # key 0, card 4
    # < NO_OFFSET_THRESHOLD containers: no offsets
    rb += struct.pack("<H", 2)                        # numRuns
    rb += struct.pack("<HH", 5, 2)                    # 5,6,7
    rb += struct.pack("<HH", 100, 0)                  # 100
    data = struct.pack("<iq", 1681511377, 1) + struct.pack("<I", 0) + rb
    assert decode_bitmap(data) == [5, 6, 7, 100]

    # dense bitmap container: card > 4096 -> 8192-byte bitset
    values = list(range(0, 10000, 2))  # 5000 even values
    words = [0] * 1024
    for v in values:
        words[v >> 6] |= 1 << (v & 63)
    rb = struct.pack("<II", 12346, 1)
    rb += struct.pack("<HH", 0, len(values) - 1)
    rb += struct.pack("<I", 4 + 4 + 4 + 4)            # offset (unused)
    rb += struct.pack("<1024Q", *words)
    data = struct.pack("<iq", 1681511377, 1) + struct.pack("<I", 0) + rb
    assert decode_bitmap(data) == values


def _external_dv_commit(spark, t, positions_by_file, storage):
    """Fabricate what a modern Delta writer would commit: upgrade the
    protocol to v3/deletionVectors and re-add the table's files with DV
    descriptors marking ``positions_by_file`` deleted."""
    from stadvdb_olap_spark.sources.delta_log import (
        _commit_path,
        _replay,
        table_versions,
    )

    state = _replay(t)
    paths = sorted(state["files"])
    assert len(paths) == len(positions_by_file)
    actions = [
        {
            "commitInfo": {
                "timestamp": 0,
                "operation": "DELETE",
                "engineInfo": "fabricated external writer",
            }
        },
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
    ]
    if storage == "u":
        dv_uuid = uuid.uuid4()
        rel = dv_file_name(z85_encode(dv_uuid.bytes))
        entries = write_dv_file(os.path.join(t, rel), positions_by_file)
        descs = [
            dict(e, storageType="u", pathOrInlineDv=z85_encode(dv_uuid.bytes))
            for e in entries
        ]
    elif storage == "p":
        abs_path = os.path.join(t, f"deletion_vector_{uuid.uuid4()}.bin")
        entries = write_dv_file(abs_path, positions_by_file)
        descs = [
            dict(e, storageType="p", pathOrInlineDv=abs_path)
            for e in entries
        ]
    else:  # inline
        descs = []
        for positions in positions_by_file:
            data = encode_bitmap(positions)
            pad = (-len(data)) % 4
            descs.append(
                {
                    "storageType": "i",
                    "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
                    "offset": None,
                    "sizeInBytes": len(data),
                    "cardinality": len(positions),
                }
            )
    for p, desc in zip(paths, descs):
        add = dict(state["files"][p])
        add["deletionVector"] = {k: v for k, v in desc.items() if v is not None}
        actions.append({"add": add})
    v = table_versions(t)[-1] + 1
    with open(_commit_path(t, v), "x") as f:
        f.write("".join(json.dumps(a, sort_keys=True) + "\n" for a in actions))
    return v


@pytest.mark.parametrize("storage", ["i", "u", "p"])
def test_read_delta_honors_deletion_vectors(spark, tmp_path, storage):
    t = str(tmp_path / "tbl")
    df = spark.range(20).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    ).sort("id")
    write_delta(df.coalesce(1), t, mode="overwrite")
    # the single file is sorted by id, so row index == id
    _external_dv_commit(spark, t, [[0, 3, 17]], storage)
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == [i for i in range(20) if i not in (0, 3, 17)]
    # time travel BEFORE the DV commit still sees every row
    assert read_delta(spark, t, version=0).count() == 20


def test_dv_read_on_partitioned_table(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "a" if i < 10 else "b") for i in range(20)], "id long, g string"
    ).sort("id")
    write_delta(df, t, mode="overwrite", partition_by=["g"])
    # two files (one per partition), each sorted: row index == id % 10
    _external_dv_commit(spark, t, [[0, 1], [9]], "u")
    got = read_delta(spark, t)
    ids = sorted(r.id for r in got.collect())
    # partition a drops rows 0,1 (ids 0,1); partition b drops row 9 (id 19)
    assert ids == [i for i in range(20) if i not in (0, 1, 19)]
    # partition column still re-attached on the DV path
    assert {r.g for r in got.collect()} == {"a", "b"}


def test_dv_checksum_and_cardinality_guards(spark, tmp_path):
    t = str(tmp_path / "tbl")
    entries = write_dv_file(str(tmp_path / "dv.bin"), [[1, 2, 3]])
    desc = dict(
        entries[0], storageType="p", pathOrInlineDv=str(tmp_path / "dv.bin")
    )
    assert deleted_positions(desc, t) == [1, 2, 3]
    bad = dict(desc, cardinality=99)
    with pytest.raises(ValueError, match="cardinality"):
        deleted_positions(bad, t)
    # corrupt a bitmap byte -> CRC must catch it
    with open(tmp_path / "dv.bin", "r+b") as f:
        f.seek(desc["offset"] + 4 + 6)
        f.write(b"\xff")
    with pytest.raises(ValueError, match="checksum"):
        deleted_positions(desc, t)


def test_reader_protocol_gate(spark, tmp_path):
    from stadvdb_olap_spark.sources.delta_log import _commit_path, _replay

    t = str(tmp_path / "tbl")
    write_delta(spark.range(3), t, mode="overwrite")

    def upgrade(protocol, config=None):
        from stadvdb_olap_spark.sources.delta_log import table_versions

        state = _replay(t)
        meta = dict(state["meta"])
        if config:
            meta["configuration"] = config
        v = table_versions(t)[-1] + 1
        with open(_commit_path(t, v), "x") as f:
            f.write(json.dumps({"protocol": protocol}) + "\n")
            f.write(json.dumps({"metaData": meta}) + "\n")

    # v3 with ONLY deletionVectors: readable
    upgrade(
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
        }
    )
    assert read_delta(spark, t).count() == 3
    # v3 with columnMapping feature but mapping not enabled: readable
    # ('name'-mode support landed round 12)
    upgrade(
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "columnMapping"],
        }
    )
    assert read_delta(spark, t).count() == 3
    # genuinely unknown reader feature: refuse
    upgrade(
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "typeWidening"],
        }
    )
    with pytest.raises(ValueError, match="typeWidening"):
        read_delta(spark, t).count()


def test_reader_gate_refuses_id_column_mapping(spark, tmp_path):
    """'name' mode reads are supported (tests/test_column_mapping.py);
    'id' mode (parquet field-id matching) is still refused."""
    from stadvdb_olap_spark.sources.delta_log import _commit_path, _replay, table_versions

    t = str(tmp_path / "tbl")
    write_delta(spark.range(3), t, mode="overwrite")
    state = _replay(t)
    meta = dict(state["meta"])
    meta["configuration"] = {"delta.columnMapping.mode": "id"}
    v = table_versions(t)[-1] + 1
    with open(_commit_path(t, v), "x") as f:
        f.write(
            json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}})
            + "\n"
        )
        f.write(json.dumps({"metaData": meta}) + "\n")
    with pytest.raises(ValueError, match="'name' mode"):
        read_delta(spark, t)


def test_checkpoint_refuses_live_dvs_and_auto_skips(
    spark, tmp_path, monkeypatch
):
    from stadvdb_olap_spark.sources import delta_log
    from stadvdb_olap_spark.sources.delta_log import (
        checkpoint_table,
        checkpoint_versions,
    )

    t = str(tmp_path / "tbl")
    write_delta(spark.range(10).sort("id").coalesce(1), t, mode="overwrite")
    _external_dv_commit(spark, t, [[2]], "i")
    with pytest.raises(ValueError, match="deletion vectors"):
        checkpoint_table(t)
    # auto-checkpoint must silently skip, not fail the append
    monkeypatch.setattr(delta_log, "CHECKPOINT_INTERVAL", 3)
    for i in range(10):
        write_delta(spark.range(100 + i, 101 + i), t, mode="append")
    assert checkpoint_versions(t) == []
    # and the DV is still honored through all those appends
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert 2 not in ids and len(ids) == 9 + 10


def test_cow_delete_on_dv_table_materializes_the_dv(spark, tmp_path):
    """Copy-on-write DML over a DV'd file reads THROUGH the DV, so the
    rewrite can never resurrect deleted rows."""
    from stadvdb_olap_spark.sources.delta_log import delete_where

    t = str(tmp_path / "tbl")
    write_delta(spark.range(10).sort("id").coalesce(1), t, mode="overwrite")
    _external_dv_commit(spark, t, [[4, 5]], "i")
    delete_where(spark, t, "id >= 8")
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [0, 1, 2, 3, 6, 7]


def test_u_descriptor_uuid_split_is_length_based(spark, tmp_path):
    """Z85's alphabet contains '/', so the uuid must be split from the
    prefix by LENGTH (last 20 chars), never by '/' — and a path prefix
    (with or without trailing slash) resolves into a subdirectory."""
    t = str(tmp_path / "tbl")
    os.makedirs(os.path.join(t, "ab"), exist_ok=True)
    # find a uuid whose Z85 encoding contains '/'
    u = None
    for _ in range(10000):
        cand = uuid.uuid4()
        if "/" in z85_encode(cand.bytes):
            u = cand
            break
    assert u is not None
    rel = dv_file_name(z85_encode(u.bytes), "ab")
    assert rel.startswith("ab/deletion_vector_")
    entries = write_dv_file(os.path.join(t, rel), [[1, 5]])
    desc = dict(
        entries[0], storageType="u", pathOrInlineDv="ab" + z85_encode(u.bytes)
    )
    assert deleted_positions(desc, t) == [1, 5]
    # trailing-slash prefix resolves identically
    desc2 = dict(
        entries[0], storageType="u", pathOrInlineDv="ab/" + z85_encode(u.bytes)
    )
    assert deleted_positions(desc2, t) == [1, 5]


def test_delta_tail_refuses_dv_tables(spark, tmp_path):
    """Round-12 review fix: the stream readers scan raw parquet, so a
    DV'd add must be refused at planning time — silently streaming it
    resurrected deleted rows."""
    from stadvdb_olap_spark.sources.delta_stream import (
        _adds_in_range,
        _cdf_changes_in_commit,
    )

    t = str(tmp_path / "tbl")
    write_delta(spark.range(20).sort("id").coalesce(1), t, mode="overwrite")
    _external_dv_commit(spark, t, [[0, 3]], "i")
    with pytest.raises(ValueError, match="deletion vector"):
        _adds_in_range(t, -1, 1)
    with pytest.raises(ValueError, match="deletion vector"):
        _cdf_changes_in_commit(t, 1)


def test_writer_feature_gate_refuses_unknown_obligations(spark, tmp_path):
    """Writes onto tables whose protocol demands unimplemented writer
    obligations must refuse (reads stay fine)."""
    from stadvdb_olap_spark.sources.delta_log import _commit_path, table_versions

    t = str(tmp_path / "tbl")
    write_delta(spark.range(3).select("id"), t, mode="overwrite")

    def set_protocol(proto):
        v = table_versions(t)[-1] + 1
        with open(_commit_path(t, v), "x") as f:
            f.write(json.dumps({"protocol": proto}) + "\n")

    set_protocol(
        {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "rowTracking"],
        }
    )
    assert read_delta(spark, t).count() == 3  # reading is fine
    with pytest.raises(ValueError, match="rowTracking"):
        write_delta(spark.range(2).select("id"), t, mode="append")

    t2 = str(tmp_path / "tbl2")
    write_delta(spark.range(3).select("id"), t2, mode="overwrite")
    v = table_versions(t2)[-1] + 1
    with open(_commit_path(t2, v), "x") as f:
        f.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 5}}
            )
            + "\n"
        )
    with pytest.raises(ValueError, match="minWriterVersion 5"):
        write_delta(spark.range(2).select("id"), t2, mode="append")
    # v7 with only supported features writes fine
    t3 = str(tmp_path / "tbl3")
    write_delta(spark.range(3).select("id"), t3, mode="overwrite")
    v = table_versions(t3)[-1] + 1
    with open(_commit_path(t3, v), "x") as f:
        f.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 7,
                        "writerFeatures": ["appendOnly", "checkConstraints"],
                    }
                }
            )
            + "\n"
        )
    write_delta(spark.range(3, 5).select("id"), t3, mode="append")
    assert read_delta(spark, t3).count() == 5


def test_timestamp_ntz_reader_feature(spark, tmp_path):
    """v3 tables gated on timestampNtz read natively: the pinned
    schemaString round-trips TimestampNTZType and the scan returns
    wall-clock values regardless of session timezone."""
    from stadvdb_olap_spark.sources.delta_log import (
        _commit_path,
        table_versions,
    )

    t = str(tmp_path / "tbl")
    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-01 05:00:00' AS tn, 1L AS id"
    )
    write_delta(df, t, mode="overwrite")
    v = table_versions(t)[-1] + 1
    with open(_commit_path(t, v), "x") as f:
        f.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["timestampNtz"],
                        "writerFeatures": ["timestampNtz"],
                    }
                }
            )
            + "\n"
        )
    got = read_delta(spark, t)
    assert got.schema["tn"].dataType.typeName() == "timestamp_ntz"
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Manila")
    try:
        assert str(got.collect()[0].tn) == "2024-01-01 05:00:00"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

"""Streaming SOURCE over a Delta-log table — a pure-Python Spark 4
DataSource (``spark.readStream.format("delta_tail")``).

``sources/delta_log.py`` gives the engine the open Delta format as a
SINK (per-batch txn commits) and a batch change tail
(``read_delta_changes``). This closes the loop: any table this engine
writes can also be CONSUMED as a Structured Streaming source, with the
log's commit versions as the stream's offsets — the same contract
delta-spark's streaming source keeps:

- **Offsets are commit versions.** ``initialOffset`` starts at
  ``startingVersion - 1`` (default: before version 0, so the first
  micro-batch delivers the table-so-far); ``latestOffset`` reports the
  log's current last version — the source never fabricates progress,
  an idle table yields empty batches.
- **One input partition per add-file** with ``dataChange=true`` in the
  offset range — OPTIMIZE rewrites are skipped exactly as the protocol
  intends (their adds carry ``dataChange: false``), so compaction never
  doubles a consumer's rows. Parallelism = file count, declared to
  Spark, not discovered.
- **Executors read parquet via pyarrow** and yield RecordBatches (the
  Arrow fast path of the Python DataSource API); partition columns are
  re-attached as typed constant arrays from the log's
  ``partitionValues`` (the protocol keeps them out of the data files).
- **Exactly-once riding the checkpoint.** Offsets are version numbers
  in an append-only log, so a restart re-reads precisely the
  checkpointed range; replays are deterministic by construction.

Two consumption modes:

- **Default (append tail)**: removes are not replayed as row-level
  deletes — this is the append/ETL consumer, and OPTIMIZE rewrites are
  invisible by dataChange.
- **``.option("readChangeFeed", "true")``**: the streaming CHANGE DATA
  FEED — each micro-batch carries ``_change_type`` (``insert`` /
  ``delete``) and ``_commit_version`` columns, computed per commit as
  the symmetric multiset difference of its dataChange adds vs removes
  (the same semantics as the batch ``read_delta_cdf``): a
  copy-on-write DELETE yields exactly its dropped rows as ``delete``
  (rewrite survivors cancel), a MERGE yields the replaced pre-image as
  ``delete`` plus the post-image as ``insert``, OPTIMIZE yields
  nothing. One input partition per COMMIT (the diff needs the commit's
  full add/remove file set); the per-commit work is bounded by the
  files that commit touched, never table size, and runs executor-side
  over Arrow. This closes the round-11 gap where consumers of tables
  taking DELETE/MERGE traffic silently missed removals.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from stadvdb_olap_spark.sources.delta_log import (
    _read_commit,
    _replay,
    earliest_retained_version,
    table_versions,
)


@dataclass
class _AddFile(InputPartition):
    path: str                      # absolute path of the data file
    schema_json: str               # pinned full schema (log metaData)
    partition_columns: tuple       # ordered partition column names
    partition_values: tuple = field(default=())  # raw string values


@dataclass
class _CdfCommit(InputPartition):
    """One COMMIT of the change feed: its dataChange add and remove
    file sets (path + raw partition values each), diffed executor-side."""

    version: int
    adds: tuple                    # ((abs path, (raw pvals...)), ...)
    removes: tuple
    schema_json: str
    partition_columns: tuple


def _adds_in_range(
    table_dir: str, after_version: int, to_version: int
) -> list[dict]:
    """dataChange add actions committed in (after_version, to_version],
    ascending by (version, path) for a deterministic partition order.
    Adds carrying a deletion vector are REFUSED (clear error, planning
    time): the stream readers scan raw parquet and would resurrect the
    DV's logically-deleted rows — consume DV tables through the batch
    readers (read_delta / read_delta_cdf), which apply them."""
    out: list[dict] = []
    for v in range(after_version + 1, to_version + 1):
        adds = [
            a["add"]
            for a in _read_commit(table_dir, v)
            if "add" in a and a["add"].get("dataChange", True)
        ]
        for add in adds:
            if add.get("deletionVector"):
                raise ValueError(
                    f"delta_tail: commit {v} of {table_dir} adds "
                    f"{add['path']} with a deletion "
                    "vector; streaming would resurrect its "
                    "deleted rows — use the batch readers "
                    "(read_delta / read_delta_cdf) for DV tables"
                )
        out.extend(sorted(adds, key=lambda a: a["path"]))
    return out


#: Partition column typeName()s the source can re-attach from the log's
#: string partitionValues. Validated ONCE, driver-side, at stream
#: construction — never mid-batch on an executor.
_SUPPORTED_PARTITION_TYPES = frozenset(
    {
        "byte",
        "short",
        "integer",
        "long",
        "float",
        "double",
        "string",
        "boolean",
        "date",
        "timestamp",
        "decimal",
    }
)


def _constant_array(value: str | None, dtype, length: int):
    """A pyarrow constant column of ``length`` carrying the partition
    value parsed per the pinned Spark type ``dtype`` (the protocol
    stores partition values as strings in the log)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    pa_type = to_arrow_type(dtype)
    if value is None:
        return pa.nulls(length, pa_type)
    name = dtype.typeName()
    if name == "date":
        import datetime

        parsed = datetime.date.fromisoformat(value)
    elif name == "timestamp":
        import datetime

        # the protocol serializes timestamp partition values as
        # "yyyy-MM-dd HH:mm:ss[.ffffff]" — fromisoformat parses both
        parsed = datetime.datetime.fromisoformat(value)
    elif name == "decimal":
        import decimal

        parsed = decimal.Decimal(value)
    elif name == "boolean":
        parsed = value == "true"
    elif name in ("byte", "short", "integer", "long"):
        parsed = int(value)
    elif name in ("float", "double"):
        parsed = float(value)
    elif name == "string":
        parsed = value
    else:  # unreachable: validated at stream construction
        raise ValueError(
            f"unsupported partition column type {name!r} for the "
            "delta_tail stream source"
        )
    return pa.array([parsed] * length, pa_type)



class _DeltaTailStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.table_dir = options.get("path")
        if not self.table_dir:
            raise ValueError("delta_tail requires .option('path', table_dir)")
        self.starting_version = int(options.get("startingVersion", 0))
        state = _replay(self.table_dir)
        mode = (state["meta"].get("configuration") or {}).get(
            "delta.columnMapping.mode"
        ) or "none"
        if mode != "none":
            raise ValueError(
                "delta_tail does not support column-mapped tables "
                f"(mode {mode!r}) — use the batch reader (read_delta)"
            )
        self._schema_json = state["schema_json"]
        self._partition_columns = tuple(state["partition_columns"])
        # validate partition column types NOW, driver-side, so an
        # unsupported type is a clear planning-time error instead of an
        # executor-side ValueError mid-batch
        schema = StructType.fromJson(json.loads(self._schema_json))
        bad = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in schema.fields
            if f.name in self._partition_columns
            and f.dataType.typeName() not in _SUPPORTED_PARTITION_TYPES
        ]
        if bad:
            raise ValueError(
                "delta_tail cannot re-attach partition column(s) of "
                f"unsupported type: {', '.join(bad)} (supported: "
                f"{sorted(_SUPPORTED_PARTITION_TYPES)})"
            )

        self.max_commits = int(options.get("maxCommitsPerTrigger", 0))
        self._last_ret: int | None = None

    def initialOffset(self):
        self._last_ret = self.starting_version - 1
        return {"version": self.starting_version - 1}

    def latestOffset(self):
        versions = table_versions(self.table_dir)
        latest = versions[-1] if versions else -1
        if self.max_commits > 0:
            base = (
                self._last_ret
                if self._last_ret is not None
                else self.starting_version - 1
            )
            latest = min(latest, base + self.max_commits)
            self._last_ret = latest
        return {"version": latest}

    def _check_floor(self, lo: int) -> None:
        """Retention guards: fail with the clear errors the batch
        readers give, never a raw FileNotFoundError from a cleaned
        commit JSON or a vacuumed data file surfacing executor-side."""
        versions = table_versions(self.table_dir)
        if versions and lo + 1 < versions[0]:
            raise ValueError(
                f"delta_tail offset {lo} needs commits below "
                f"{versions[0]}, which log cleanup has removed "
                f"(cleanup_log); restart with startingVersion >= "
                f"{versions[0]}"
            )
        horizon = earliest_retained_version(self.table_dir)
        if lo + 1 < horizon:
            raise ValueError(
                f"delta_tail offset {lo} reaches below the vacuum "
                f"horizon; earliest retained version is {horizon} — "
                f"restart with startingVersion >= {horizon}"
            )

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        # learn the stream's true position: after a checkpoint restart
        # Spark re-plans the last committed batch (partitions is called
        # with the checkpointed range BEFORE the first latestOffset), so
        # this keeps the admission cap from ever returning an offset
        # below the committed one (offset regression = re-delivery)
        floor = max(lo, hi)
        if self._last_ret is None or self._last_ret < floor:
            self._last_ret = floor
        if hi <= lo:
            return []
        self._check_floor(lo)
        adds = _adds_in_range(self.table_dir, lo, hi)
        return [
            _AddFile(
                path=os.path.join(self.table_dir, a["path"]),
                schema_json=self._schema_json,
                partition_columns=self._partition_columns,
                partition_values=tuple(
                    (a.get("partitionValues") or {}).get(c)
                    for c in self._partition_columns
                ),
            )
            for a in adds
        ]

    def read(self, partition: _AddFile):
        import pyarrow.parquet as papq

        schema = StructType.fromJson(json.loads(partition.schema_json))
        names = [f.name for f in schema.fields]
        part_types = {
            f.name: f.dataType
            for f in schema.fields
            if f.name in partition.partition_columns
        }
        pf = papq.ParquetFile(partition.path)
        for batch in pf.iter_batches(batch_size=64_000):
            cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            for c, v in zip(partition.partition_columns, partition.partition_values):
                cols[c] = _constant_array(v, part_types[c], batch.num_rows)
            import pyarrow as pa

            # files written BEFORE a merge_schema evolution lack the
            # evolved columns — null-fill them like the batch reader
            # does (read_delta pins the schema and reads NULL)
            for f in schema.fields:
                if f.name not in cols:
                    from pyspark.sql.pandas.types import to_arrow_type

                    cols[f.name] = pa.nulls(
                        batch.num_rows, to_arrow_type(f.dataType)
                    )
            yield pa.RecordBatch.from_arrays(
                [cols[n] for n in names], names=names
            )

    def commit(self, end):
        pass


def _cdf_changes_in_commit(table_dir: str, v: int) -> tuple[list, list]:
    """dataChange add and remove actions of commit ``v``. Actions
    carrying deletion vectors are refused — the executor-side diff
    reads raw parquet and would mis-diff DV-masked rows; use the batch
    ``read_delta_cdf`` for DV tables."""
    adds: list[dict] = []
    removes: list[dict] = []
    for action in _read_commit(table_dir, v):
        kind = "add" if "add" in action else (
            "remove" if "remove" in action else None
        )
        if kind is None or not action[kind].get("dataChange", True):
            continue
        if action[kind].get("deletionVector"):
            raise ValueError(
                f"delta_tail readChangeFeed: commit {v} of "
                f"{table_dir} carries a deletion vector on "
                f"{action[kind]['path']}; the streaming diff would "
                "mis-count its masked rows — use the batch "
                "read_delta_cdf for DV tables"
            )
        (adds if kind == "add" else removes).append(action[kind])
    return adds, removes


class _DeltaCdfStreamReader(_DeltaTailStreamReader):
    """``readChangeFeed`` mode: one input partition per COMMIT; the
    executor loads that commit's removed and added files, takes the
    symmetric multiset difference (null-safe, exact multiplicity — the
    same semantics as the batch ``read_delta_cdf``), and emits rows
    tagged ``_change_type`` / ``_commit_version``. Cost per commit is
    bounded by the files it touched."""

    def __init__(self, options):
        super().__init__(options)
        schema = StructType.fromJson(json.loads(self._schema_json))
        nested = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if nested:
            raise ValueError(
                "readChangeFeed needs hashable row values for the "
                f"multiset diff; nested column(s) unsupported: "
                f"{', '.join(nested)}"
            )

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        # same committed-floor learning as the base reader (restart
        # re-plans the last batch before the first latestOffset)
        floor = max(lo, hi)
        if self._last_ret is None or self._last_ret < floor:
            self._last_ret = floor
        if hi <= lo:
            return []
        self._check_floor(lo)
        parts = self._partition_columns
        out = []
        for v in range(lo + 1, hi + 1):
            adds, removes = _cdf_changes_in_commit(self.table_dir, v)
            if not adds and not removes:
                continue
            # this engine's removes always carry partitionValues; for a
            # partitioned table written by an older writer, resolve the
            # retired add action from the pre-commit state (one bounded
            # log replay, only when actually needed)
            retired: dict = {}
            if parts and any(
                r.get("partitionValues") is None for r in removes
            ):
                retired = _replay(self.table_dir, v - 1)["files"]

            def pvals(action: dict) -> tuple:
                m = action.get("partitionValues")
                if m is None:
                    m = (retired.get(action["path"]) or {}).get(
                        "partitionValues", {}
                    )
                return tuple((m or {}).get(c) for c in parts)

            out.append(
                _CdfCommit(
                    version=v,
                    adds=tuple(
                        (os.path.join(self.table_dir, a["path"]), pvals(a))
                        for a in sorted(adds, key=lambda a: a["path"])
                    ),
                    removes=tuple(
                        (os.path.join(self.table_dir, r["path"]), pvals(r))
                        for r in sorted(removes, key=lambda r: r["path"])
                    ),
                    schema_json=self._schema_json,
                    partition_columns=parts,
                )
            )
        return out

    def read(self, partition: _CdfCommit):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as papq
        from pyspark.sql.pandas.types import to_arrow_type

        schema = StructType.fromJson(json.loads(partition.schema_json))
        names = [f.name for f in schema.fields]
        arrow_types = {f.name: to_arrow_type(f.dataType) for f in schema.fields}
        spark_types = {f.name: f.dataType for f in schema.fields}

        def load(files: tuple) -> pd.DataFrame:
            frames = []
            for path, pvals in files:
                t = papq.read_table(path)
                cols = {n: t.column(n) for n in t.schema.names}
                for c, raw in zip(partition.partition_columns, pvals):
                    cols[c] = _constant_array(raw, spark_types[c], t.num_rows)
                for n in names:  # pre-evolution files: null-fill
                    if n not in cols:
                        cols[n] = pa.nulls(t.num_rows, arrow_types[n])
                tbl = pa.table(
                    {n: cols[n].cast(arrow_types[n]) for n in names}
                )
                frames.append(tbl.to_pandas(types_mapper=pd.ArrowDtype))
            if not frames:
                empty = pa.table(
                    {n: pa.nulls(0, arrow_types[n]) for n in names}
                )
                return empty.to_pandas(types_mapper=pd.ArrowDtype)
            return pd.concat(frames, ignore_index=True)

        # symmetric multiset difference, null-safe (dropna=False groups
        # null keys together), exact multiplicity via count repeat
        ga = load(partition.adds).groupby(names, dropna=False).size()
        gr = load(partition.removes).groupby(names, dropna=False).size()
        m = pd.concat(
            [ga.rename("__a"), gr.rename("__r")], axis=1
        ).fillna(0)
        net = m["__a"] - m["__r"]

        out_schema = pa.schema(
            [pa.field(n, arrow_types[n]) for n in names]
            + [
                pa.field("_change_type", pa.string()),
                pa.field("_commit_version", pa.int64()),
            ]
        )
        for counts, kind in ((net, "insert"), (-net, "delete")):
            pos = counts[counts > 0]
            if pos.empty:
                continue
            idx = pos.index.repeat(pos.astype(int).to_numpy())
            df = idx.to_frame(index=False)
            df.columns = names
            df["_change_type"] = kind
            df["_commit_version"] = partition.version
            tbl = pa.Table.from_pandas(
                df, schema=out_schema, preserve_index=False
            )
            yield from tbl.to_batches()


class DeltaTailDataSource(DataSource):
    """``spark.readStream.format("delta_tail").option("path", dir)`` —
    stream the dataChange adds of a delta_log table, offsets = commit
    versions. Options: ``path`` (required), ``startingVersion``
    (default 0: deliver the whole table first), ``readChangeFeed``
    (``"true"``: emit the row-level change feed with ``_change_type``
    and ``_commit_version`` columns, replaying DELETE/MERGE removals —
    see :class:`_DeltaCdfStreamReader`), ``maxCommitsPerTrigger``
    (admission control at commit grain, the ``maxFilesPerTrigger``
    analogue: each micro-batch advances at most N commits; the cap
    never regresses below the checkpoint-committed offset)."""

    @classmethod
    def name(cls):
        return "delta_tail"

    def _cdf(self) -> bool:
        return str(self.options.get("readChangeFeed", "")).lower() == "true"

    def schema(self):
        base = StructType.fromJson(
            json.loads(_replay(self.options["path"])["schema_json"])
        )
        if not self._cdf():
            return base
        from pyspark.sql.types import LongType, StringType, StructField

        return StructType(
            base.fields
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_version", LongType(), False),
            ]
        )

    def streamReader(self, schema: StructType):
        if self._cdf():
            return _DeltaCdfStreamReader(self.options)
        return _DeltaTailStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(DeltaTailDataSource)

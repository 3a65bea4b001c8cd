"""Streaming CDF source for ANY Delta table (engine-written or
foreign) as a native Structured Streaming source, via PySpark 4's
Python Data Source API — the OSS stand-in for
``spark.readStream.format("delta").option("readChangeFeed", "true")``
(reference stream surface ``delta_lake_features.py:357-368`` +
``delta_sharing_recipient.py:180-205``).

Offsets ARE table versions: a micro-batch covers the half-open commit
range [start.version, end.version), so restart/replay semantics come
from the checkpoint for free and each commit is delivered exactly
once. A version's change files are planned by
``delta_interop.change_files``, as in ``LakeTable.read_changes``; a
rewrite commit without cdc actions, or a starting version whose
commits are no longer in the log, fails the stream loudly rather than
emitting wrong or partial changes.

Scale shape: ``partitions()`` plans one input partition per change
file, with schema and partition columns from the checkpoint-aware
snapshot cache (``delta_interop._replay``): driver cost O(new commits
+ their files). ``read()`` runs executor-side via pyarrow with no
driver data movement. On a real cluster the package ships to workers
like any other Python dependency (py-files / wheel); local mode shares
PYTHONPATH.

Usage::

    from databricks_delta_lake_project_spark.sources.cdf_stream import (
        register_cdf_stream,
    )
    register_cdf_stream(spark)
    changes = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", table_root)
        .option("startingVersion", 0)        # default 0
        .load()
    )

No per-batch rate limit is offered: with version-valued offsets a cap
would have to be anchored at the last COMMITTED offset, which this API
does not expose to ``latestOffset`` — an in-process anchor regresses
after restart and would re-deliver committed versions. Bound batch
size upstream (commit cadence) instead.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..tables.delta_interop import (
    _commit_versions,
    _replay,
    change_files,
    change_versions,
    physical_name_map,
)

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa


class CdfFilePartition(InputPartition):
    """One change file of one commit: everything ``read()`` needs,
    serialized to the executor (no driver state)."""

    def __init__(
        self,
        file_path: str,
        version: int,
        change_type: str | None,  # None -> the file carries its own
        partition_values: dict[str, str],
        logical_names: list[str],
        physical_names: list[str],
        partition_cols: list[str],
        arrow_types: dict[str, Any],
    ):
        self.file_path = file_path
        self.version = version
        self.change_type = change_type
        self.partition_values = partition_values
        self.logical_names = logical_names
        self.physical_names = physical_names
        self.partition_cols = partition_cols
        self.arrow_types = arrow_types


class DeltaCdfStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict[str, str]):
        # DSv2 normalizes option keys to lowercase
        opts = {k.lower(): v for k, v in options.items()}
        self.root = opts["path"]
        self.start_version = int(opts.get("startingversion", 0) or 0)
        if int(opts.get("maxversionsperbatch", 0) or 0):
            raise ValueError(
                "maxVersionsPerBatch is not supported: a version-window "
                "cap cannot be anchored correctly across restarts with "
                "this API (it would re-deliver committed versions)"
            )
        self.out_schema = schema

    # -- offsets -----------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        versions = _commit_versions(self.root)
        latest_excl = (versions[-1] + 1) if versions else self.start_version
        return {"version": max(latest_excl, self.start_version)}

    # -- planning (driver) -------------------------------------------------

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        # refuses a start below the oldest commit left in the log
        versions = change_versions(self.root, lo, hi - 1)
        if not versions:
            return []
        state = _replay(self.root, versions[-1])
        schema = StructType.fromJson(json.loads(state.schema_json))
        phys_by_logical = physical_name_map(schema)
        logical, physical = list(phys_by_logical), list(phys_by_logical.values())
        phys_pcols = [phys_by_logical[c] for c in state.partition_columns]
        # exact arrow types per column, computed ONCE at planning so
        # read() types null-fills and partition values correctly for
        # every Spark type (decimal, binary, nested, ...)
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        arrow_types = {}
        for f in schema.fields:
            try:
                arrow_types[f.name] = to_arrow_type(f.dataType)
            except Exception:
                arrow_types[f.name] = pa.string()

        parts: list[InputPartition] = []
        for v in versions:
            chosen, ctype = change_files(self.root, v)
            for e in chosen:
                parts.append(
                    CdfFilePartition(
                        str(Path(self.root) / e["path"]),
                        v,
                        ctype,
                        dict(e.get("partitionValues") or {}),
                        logical,
                        physical,
                        phys_pcols,
                        arrow_types,
                    )
                )
        return parts

    # -- execution (executor) ----------------------------------------------

    def read(self, partition: CdfFilePartition) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        table = pq.read_table(partition.file_path)
        n = table.num_rows
        cols: list[pa.Array | pa.ChunkedArray] = []
        names: list[str] = []
        file_cols = set(table.column_names)
        for lname, pname in zip(
            partition.logical_names, partition.physical_names
        ):
            atype = partition.arrow_types.get(lname, pa.string())
            if pname in partition.partition_cols:
                # hive layout: the value lives in the directory, typed
                # per the logical schema (arrow casts ISO strings to
                # numeric/date/timestamp/decimal)
                raw = partition.partition_values.get(pname)
                if raw is None:
                    # typed nulls: a string-typed null array would make
                    # the batch schema mismatch the declared output
                    # schema for numeric/date/timestamp partition cols
                    # (__HIVE_DEFAULT_PARTITION__ directories)
                    cols.append(pa.nulls(n, type=atype))
                    names.append(lname)
                    continue
                arr = pa.array([raw] * n, pa.string())
                if pa.types.is_timestamp(atype) and atype.tz:
                    # hive partition strings are naive wall-clock;
                    # arrow refuses string -> tz-aware directly
                    arr = pc.assume_timezone(
                        pc.cast(arr, pa.timestamp(atype.unit)), atype.tz
                    )
                else:
                    arr = pc.cast(arr, atype)
                cols.append(arr)
            elif pname in file_cols:
                cols.append(table.column(pname))
            else:
                # column added by later schema evolution: null-fill
                cols.append(pa.nulls(n, type=atype))
            names.append(lname)
        if partition.change_type is None:
            cols.append(table.column("_change_type"))
        else:
            cols.append(pa.array([partition.change_type] * n, pa.string()))
        names.append("_change_type")
        cols.append(pa.array([partition.version] * n, pa.int64()))
        names.append("_commit_version")
        out = pa.table(dict(zip(names, cols)))
        yield from out.to_batches(max_chunksize=1 << 16)

    def commit(self, end: dict) -> None:
        # offsets are durable in the query checkpoint; nothing to ack
        pass


class DeltaCdfStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_cdf_stream"

    def schema(self) -> StructType:
        state = _replay(self.options["path"], None)
        base = StructType.fromJson(json.loads(state.schema_json))
        # strip field metadata (mapping ids etc.) from the OUTPUT
        # schema; read() already resolves physical names
        fields = [
            StructField(f.name, f.dataType, True) for f in base.fields
        ]
        fields.append(StructField("_change_type", StringType(), True))
        fields.append(StructField("_commit_version", LongType(), True))
        return StructType(fields)

    def streamReader(self, schema: StructType) -> DeltaCdfStreamReader:
        return DeltaCdfStreamReader(schema, dict(self.options))


def register_cdf_stream(spark) -> None:
    """Register the ``delta_cdf_stream`` format on this session."""
    spark.dataSource.register(DeltaCdfStreamDataSource)

"""ACID Delta Lake table: parquet data files under a ``_delta_log``.

Every table is a Delta table. The commit log is written by
``delta_log.DeltaLogBackend`` following the public Delta protocol, so
external Delta readers open the same files in place. The DML, time
travel and maintenance surface the reference uses everywhere is
implemented here on open-source Spark, without delta-spark:

* MERGE builder            -> reference ``src/silver/transform_customers.py:174-202``
* DELETE / UPDATE by pred  -> ``governance/compliance_policies.py:136-295``
* time travel + RESTORE    -> ``src/utils/delta_lake_features.py:65-176``
* change data feed         -> ``src/utils/delta_lake_features.py:346-368``
* OPTIMIZE / VACUUM        -> ``src/utils/performance_optimization.py:27-134``,
                              ``delta_lake_features.py:385-393``
* DESCRIBE HISTORY         -> ``delta_lake_features.py:46-60``

Scale design (what keeps this working at 100 TB):

* Copy-on-write at file granularity. DELETE/UPDATE/MERGE first compute
  the *touched file set* and rewrite only those files; untouched files
  are carried forward by reference in the log.
* File-level min/max stats are collected from parquet footers at write
  time and used to prune the touched-file search: an equality MERGE
  whose source keys span a narrow range never scans files outside that
  range (same idea as Delta data skipping).
* All row movement is DataFrame-planned (joins, filters); the driver
  only handles file *names*, never rows.
"""

from __future__ import annotations

import bisect
import functools
import json
import re
import shutil
import time
import uuid
from pathlib import Path
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .delta_log import DATA_DIR, DeltaLogBackend

_STATS_TYPES = (
    "int",
    "bigint",
    "smallint",
    "tinyint",
    "double",
    "float",
    "string",
    "date",
    "timestamp",
    "boolean",
)

CDF_TYPE_COL = "_change_type"
CDF_VERSION_COL = "_commit_version"


def _json_safe(v: Any) -> Any:
    if v is None or isinstance(v, (int, float, bool, str)):
        return v
    return str(v)


def _physical_read_schema(schema: StructType) -> StructType | None:
    """Physical twin of a column-mapped logical schema, or None when
    the schema carries no mapping metadata (the common case)."""
    from .delta_interop import _PHYS_KEY, _physical_type

    def mapped(dt) -> bool:
        from pyspark.sql.types import ArrayType, MapType

        if isinstance(dt, StructType):
            return any(
                _PHYS_KEY in f.metadata or mapped(f.dataType)
                for f in dt.fields
            )
        if isinstance(dt, ArrayType):
            return mapped(dt.elementType)
        if isinstance(dt, MapType):
            return mapped(dt.keyType) or mapped(dt.valueType)
        return False

    if not mapped(schema):
        return None
    return _physical_type(schema)


def _alive_rows(e: dict[str, Any]) -> int:
    """Rows a reader sees in this file: physical rows minus any
    deletion-vector cardinality."""
    dv = e.get("deletionVector") or {}
    return int(e.get("rows", 0)) - int(dv.get("cardinality", 0))


_ID_START = "delta.identity.start"
_ID_STEP = "delta.identity.step"
_ID_HWM = "delta.identity.highWaterMark"
_ID_ALLOW = "delta.identity.allowExplicitInsert"


def _identity_fields(schema: StructType) -> list:
    """Top-level IDENTITY columns (``GENERATED ... AS IDENTITY``)."""
    return [
        f
        for f in schema.fields
        if _ID_START in f.metadata or _ID_STEP in f.metadata
    ]


def _generate_identity(df: DataFrame, schema: StructType) -> DataFrame:
    """Honor the identity-column writer obligation on an incoming
    frame: a frame NOT carrying the column gets fresh values past the
    highWaterMark — ``base + step * monotonically_increasing_id()``,
    fully distributed, one projection; the protocol explicitly allows
    gaps, which is what makes a coordination-free distributed
    assignment legal. A frame that DOES carry the column is an
    explicit insert: allowed only when
    ``delta.identity.allowExplicitInsert`` is true (GENERATED BY
    DEFAULT), refused otherwise (GENERATED ALWAYS)."""
    for f in _identity_fields(schema):
        meta = f.metadata
        if f.name in df.columns:
            if not str(meta.get(_ID_ALLOW, False)).lower() in ("true", "1"):
                raise ValueError(
                    f"column {f.name!r} is GENERATED ALWAYS AS IDENTITY; "
                    "explicit values are not allowed (drop the column "
                    "from the frame to have values assigned)"
                )
            continue
        if not isinstance(f.dataType, LongType):
            # Delta restricts IDENTITY to BIGINT for exactly this
            # reason: monotonically_increasing_id's per-partition
            # ordinals jump by 2^33, so a narrower cast would silently
            # wrap and collide with existing ids.
            raise ValueError(
                f"identity column {f.name!r} must be BIGINT, got "
                f"{f.dataType.simpleString()}"
            )
        step = int(meta.get(_ID_STEP, 1))
        hwm = meta.get(_ID_HWM)
        base = (
            int(hwm) + step if hwm is not None else int(meta.get(_ID_START, 1))
        )
        df = df.withColumn(
            f.name,
            F.lit(base) + F.lit(step) * F.monotonically_increasing_id(),
        )
    return df


def _file_stats(path: Path) -> dict[str, Any]:
    """File-level stats from the parquet footer (no data read)."""
    meta = pq.ParquetFile(path).metadata
    cols: dict[str, dict[str, Any]] = {}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for i in range(g.num_columns):
            c = g.column(i)
            name = c.path_in_schema
            if "." in name:  # nested — skip
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                continue
            try:
                # pyarrow cannot extract stats for some physical types
                # (DECIMAL raises ArrowNotImplementedError even with
                # has_min_max=True) — skip the column: less pruning,
                # never a broken write
                mn, mx = _json_safe(st.min), _json_safe(st.max)
            except Exception:  # noqa: BLE001
                continue
            cur = cols.setdefault(name, {"min": None, "max": None, "nulls": 0})
            if cur["min"] is None or (mn is not None and mn < cur["min"]):
                cur["min"] = mn
            if cur["max"] is None or (mx is not None and mx > cur["max"]):
                cur["max"] = mx
            cur["nulls"] += st.null_count or 0
    return {
        "rows": meta.num_rows,
        "bytes": path.stat().st_size,
        "stats": cols,
    }


class LakeTable:
    """Handle on a Delta table rooted at ``path``.

    Every commit goes through the open Delta Lake ``_delta_log``
    protocol (``delta_log.DeltaLogBackend``); every write operation
    (append, MERGE, DELETE, UPDATE, OPTIMIZE, RESTORE, ...) is
    copy-on-write, or a deletion vector where the table enables them."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.root = str(Path(path))
        self._log = DeltaLogBackend(spark)
        if self._log.latest_version(self.root) is None:
            raise ValueError(f"not a LakeTable (no commits): {path}")

    # -- creation ----------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame | None = None,
        schema: StructType | None = None,
        properties: dict[str, Any] | None = None,
        format: str = "delta",
        partition_by: list[str] | None = None,
    ) -> "LakeTable":
        """Create a Delta table: the commit log is a real Delta Lake
        ``_delta_log``, so external Delta tooling can read (and keep
        writing) it. ``format`` accepts only ``"delta"``; any other
        value raises. ``partition_by`` lays data out hive-style with
        ``partitionValues`` stamped on every add action."""
        if format != "delta":
            raise ValueError(
                f"unknown table format {format!r}: tables are Delta-only "
                "(omit format or pass format='delta')"
            )
        root = str(Path(path))
        log = DeltaLogBackend(spark)
        log.ensure_layout(root)
        if log.latest_version(root) is not None:
            raise ValueError(f"table already exists: {path}")
        if str(
            (properties or {}).get("delta.columnMapping.mode", "none")
        ).lower() in ("name", "id"):
            # creating a MAPPED table: every field needs columnMapping
            # id/physicalName metadata before the first commit (the
            # same assignment delta-spark performs on CREATE), and the
            # initial load must land under physical names — so commit
            # the mapped schema first and route the data through the
            # normal append path, which renames logical -> physical
            from .delta_log import assign_mapping_metadata

            base_schema = schema if df is None else df.schema
            mapped_schema, max_id = assign_mapping_metadata(base_schema)
            props = dict(properties or {})
            props["delta.columnMapping.maxColumnId"] = str(max_id)
            log.commit(
                root, "CREATE TABLE", [], [], mapped_schema.json(),
                properties=props,
                partition_columns=partition_by,
            )
            t = cls(spark, root)
            if df is not None:
                t.append(df)
            return t
        if df is None:
            if schema is None:
                raise ValueError("need df or schema")
            log.commit(
                root, "CREATE TABLE", [], [], schema.json(),
                properties=properties or {},
                partition_columns=partition_by,
            )
        else:
            # the initial CTAS load is a write like any other: declared
            # constraints judge it and generated columns are computed
            # (schema/property metadata can arrive via create itself).
            # Capture the schema JSON FIRST — withColumn strips field
            # metadata from the frame, and the commit must record it
            schema_json = df.schema.json()
            decl_schema = df.schema
            for f in decl_schema.fields:
                gexpr = f.metadata.get("delta.generationExpression")
                if gexpr:
                    df = df.withColumn(
                        f.name, F.expr(gexpr).cast(f.dataType)
                    )
            _raise_on_constraint_violations(
                df, _collect_constraint_checks(properties or {}, decl_schema)
            )
            adds, n = _write_files(
                df, root, partition_columns=partition_by
            )
            log.commit(
                root, "CREATE TABLE AS SELECT", adds, [], schema_json,
                metrics={"numOutputRows": n, "numFiles": len(adds)},
                properties=properties or {},
                partition_columns=partition_by,
            )
        return cls(spark, root)

    @classmethod
    def convert_parquet(
        cls,
        spark: SparkSession,
        path: str,
        partition_schema: dict[str, str] | None = None,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        """CONVERT TO DELTA: turn a plain parquet directory into a
        Delta table IN PLACE — no data is read or rewritten. Every
        ``*.parquet`` file becomes an add action with footer stats; a
        hive layout (``k=v`` dirs) yields ``partitionValues`` and
        partition columns typed per ``partition_schema`` (DDL types,
        e.g. ``{"day": "date"}``; default string — same contract as
        Delta's CONVERT, which also needs the partition schema spelled
        out because hive dirs are untyped). The schema comes from one
        driver-side footer read plus the partition columns."""
        from urllib.parse import unquote

        from .delta_interop import synth_partition_stats

        root = Path(path)
        if (root / "_delta_log").is_dir():
            raise ValueError(f"already a table: {path}")
        files = sorted(
            p
            for p in root.rglob("*.parquet")
            if p.is_file() and not p.name.startswith("_")
        )
        if not files:
            raise ValueError(f"no parquet files under {path}")

        pcols: list[str] = []
        adds: list[dict[str, Any]] = []
        for p in files:
            rel = p.relative_to(root)
            entry: dict[str, Any] = {"path": rel.as_posix(), **_file_stats(p)}
            pv: dict[str, Any] = {}
            for seg in rel.parent.parts:
                k, eq, v = seg.partition("=")
                if not eq:
                    raise ValueError(
                        f"non-hive directory {seg!r} under {path}; "
                        "CONVERT needs a flat or hive layout"
                    )
                pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            if pv:
                entry["partitionValues"] = pv
                synth_partition_stats(entry)
                if not pcols:
                    pcols = list(pv)
                elif list(pv) != pcols:
                    raise ValueError("inconsistent partition directories")
            adds.append(entry)

        # merge EVERY file's footer schema (parallel Spark job, no data
        # read): plain-parquet directories drift, and taking one file's
        # schema would silently drop later columns
        data_schema = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[str(f) for f in files])
            .schema
        )
        fields = list(data_schema.fields)
        from pyspark.sql.types import _parse_datatype_string

        for c in pcols:
            fields.append(
                StructField(
                    c,
                    _parse_datatype_string(
                        (partition_schema or {}).get(c, "string")
                    ),
                    True,
                )
            )
        schema = StructType(fields)

        log = DeltaLogBackend(spark)
        log.ensure_layout(str(root))
        log.commit(
            str(root),
            "CONVERT",
            adds,
            [],
            schema.json(),
            metrics={"numConvertedFiles": len(adds)},
            properties=properties or {},
            partition_columns=pcols or None,
        )
        return cls(spark, str(root))

    @classmethod
    def is_table(cls, path: str) -> bool:
        """True when ``path`` holds a Delta table: a ``_delta_log``
        with at least one JSON commit."""
        from .delta_interop import is_delta_table

        return is_delta_table(str(Path(path)))

    @classmethod
    def for_path(cls, spark: SparkSession, path: str) -> "LakeTable":
        """Open the Delta table at ``path``. Every readable SHAPE —
        partitioned, column-mapped, live deletion vectors — opens as a
        ``LakeTable`` whose writes land as real ``_delta_log`` commits;
        CHECK constraints and invariants are ENFORCED on new rows and
        generated columns recomputed. A table declaring an obligation
        the engine cannot honor (nested identity or generation
        expressions, unknown v7 writerFeatures) opens the same way and
        stays readable; every write to it is refused at commit, naming
        the obligation."""
        return cls(spark, path)

    # -- reads -------------------------------------------------------------

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self._log.schema_at(self.root)))

    def version(self) -> int:
        v = self._log.latest_version(self.root)
        assert v is not None
        return v

    def properties(self) -> dict[str, Any]:
        return self._log.table_properties(self.root)

    def _files(self, version: int | None = None) -> list[dict[str, Any]]:
        return self._log.active_files(self.root, version)

    def _read_files(
        self,
        entries: list[dict[str, Any]],
        version: int | None = None,
        with_row_index: bool = False,
        cdc: bool = False,
    ) -> DataFrame:
        """Scan a file set under the table schema. Entries carrying a
        ``deletionVector`` descriptor have their marked row indices
        dropped via a broadcast anti-join — every
        caller (snapshot reads, touched-file probes, copy-on-write
        rewrites) therefore sees only ALIVE rows. ``with_row_index``
        additionally exposes ``__file``/``__pos`` metadata columns (the
        DV delete path needs physical positions). ``cdc`` scans change
        data files, which carry ``_change_type`` after the table
        columns."""
        schema_json = self._log.schema_at(self.root, version)
        schema = StructType.fromJson(json.loads(schema_json))
        if cdc:
            schema = schema.add(CDF_TYPE_COL, "string")
        if not entries:
            df = self.spark.createDataFrame([], schema)
            if with_row_index:
                df = df.withColumn(
                    "__file", F.lit(None).cast("string")
                ).withColumn("__pos", F.lit(None).cast("long"))
            return df
        paths = [str(Path(self.root) / e["path"]) for e in entries]
        dvd = [e for e in entries if e.get("deletionVector")]
        need_meta = bool(dvd) or with_row_index
        meta_cols = [
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/+", "/"
            ).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
        pcols = self._partition_columns()
        phys = _physical_read_schema(schema)
        if pcols:
            df = self._scan_partitioned(entries, schema, pcols, need_meta)
            if not need_meta:
                return df
        elif phys is not None:
            # column mapping: parquet columns carry PHYSICAL names —
            # read under the physical schema, rename back to logical
            # (cast-by-position renames nested struct fields too);
            # mapped tables are never partitioned (check_readable)
            rename = [
                F.col(pf.name).cast(lf.dataType).alias(lf.name)
                for pf, lf in zip(phys.fields, schema.fields)
            ]
            base = self.spark.read.schema(phys).parquet(*paths)
            if not need_meta:
                return base.select(*rename)
            df = base.select(*rename, *meta_cols)
        elif not need_meta:
            return self.spark.read.schema(schema).parquet(*paths)
        else:
            df = self.spark.read.schema(schema).parquet(*paths).select(
                "*", *meta_cols
            )
        if dvd:
            import pandas as pd

            from .delta_interop import _dv_positions, spark_file_key

            frames = []
            for e in dvd:
                positions = _dv_positions(self.root, e["deletionVector"])
                fpath = spark_file_key(self.root, e["path"])
                frames.append(
                    pd.DataFrame(
                        {"__file": [fpath] * len(positions), "__pos": positions}
                    )
                )
            deleted = pd.concat(frames, ignore_index=True)
            if not deleted.empty:
                df = df.join(
                    F.broadcast(self.spark.createDataFrame(deleted)),
                    ["__file", "__pos"],
                    "left_anti",
                )
        if not with_row_index:
            df = df.drop("__file", "__pos")
        return df

    def _partition_columns(self) -> list[str]:
        return list(self._log.partition_columns(self.root))

    def _write_partition_columns(self) -> list[str] | None:
        """Partition columns under their ON-DISK names for the writer:
        ``_prep_write`` renames a mapped frame to physical names, so
        ``partitionBy`` (and the hive dirs + partitionValues it
        produces) must use the physical names too."""
        pcols = self._partition_columns()
        if not pcols:
            return None
        schema = self.schema
        if _physical_read_schema(schema) is None:
            return pcols
        from .delta_interop import physical_name_map

        m = physical_name_map(schema)
        return [m[c] for c in pcols]

    def _prep_write(
        self,
        df: DataFrame,
        schema: StructType | None = None,
        enforce: bool = True,
        regenerate: bool = True,
    ) -> DataFrame:
        """Prepare an outgoing frame: recompute GENERATED columns,
        enforce CHECK constraints/invariants, rename to PHYSICAL
        column names on mapped tables. ``schema`` overrides the table
        schema during mapped schema evolution (the evolved mapping
        exists before the commit that records it).

        ``enforce=False`` is for frames of PRE-EXISTING rows carried
        forward unchanged (DELETE's kept rows, OPTIMIZE compaction,
        the unchanged portion of a copy-on-write rewrite): real Delta
        validates constraints on NEW data only — re-checking old rows
        would make maintenance ops fail on tables whose historical
        data this engine evaluates differently than its original
        writer. Callers that pass ``enforce=False`` over a frame
        CONTAINING changed rows must enforce on the changed subset
        explicitly. ``regenerate=False`` additionally passes existing
        generated-column values through untouched (OPTIMIZE is
        dataChange=false and must not alter bytes)."""
        schema = schema if schema is not None else self.schema
        if regenerate:
            df = self._apply_generated(df, schema)
        if enforce:
            self._enforce_constraints(df, schema)
        phys = _physical_read_schema(schema)
        if phys is None:
            return df
        return df.select(
            *[
                F.col(lf.name).cast(pf.dataType).alias(pf.name)
                for lf, pf in zip(schema.fields, phys.fields)
            ]
        )

    def _apply_generated(
        self, df: DataFrame, schema: StructType | None = None
    ) -> DataFrame:
        """Recompute GENERATED columns — the expression DEFINES the
        column, so recomputation is always protocol-correct: appends
        may omit the column entirely, UPDATE/MERGE post-images can
        never go stale, and a caller providing an inconsistent value
        gets the defined one. Also applied to CDF post-image/insert
        frames so the change feed matches the table."""
        schema = schema if schema is not None else self.schema
        for f in schema.fields:
            gexpr = f.metadata.get("delta.generationExpression")
            if gexpr:
                df = df.withColumn(f.name, F.expr(gexpr).cast(f.dataType))
        return df

    def _enforce_constraints(self, df: DataFrame, schema: StructType) -> None:
        """Enforce CHECK constraints (``delta.constraints.<name>``
        table properties) and column invariants (``delta.invariants``
        field metadata, struct nesting) on an outgoing frame of NEW
        rows — the writer obligation the protocol attaches to those
        features. SQL semantics: a row violates only when the
        expression evaluates FALSE (NULL passes, like CHECK in every
        SQL engine). One aggregation covers all constraints; zero cost
        when none are defined (the overwhelmingly common case)."""
        props = self._log.table_properties(self.root)
        checks = _collect_constraint_checks(props, schema)
        _raise_on_constraint_violations(df, checks)



    def _scan_partitioned(
        self,
        entries: list[dict[str, Any]],
        schema: StructType,
        pcols: list[str],
        need_meta: bool,
    ) -> DataFrame:
        """Scan hive-partitioned file entries under the logical schema.

        Partition column values live in each add action's
        ``partitionValues``, not in the data files. The fast path groups
        entries by their HIVE BASE — the directory whose children are
        exactly the ``k=v`` partition dirs — and runs ONE
        directory-discovery scan per base with an explicit ``basePath``
        (a single FileScan, partition columns recovered by Spark). A
        plain partitioned table is one group (its own data dir); a
        SHALLOW CLONE of a partitioned source resolves its borrowed
        absolute entries against the SOURCE's base the same way, plus
        one group for its own copy-on-write rewrites — bases, not
        files, bound the union width. Only a non-hive layout (possible
        per protocol: ``partitionValues`` is authoritative, paths are
        opaque) falls back to per-partition scans with literal columns,
        bounded by the number of DISTINCT partition tuples among the
        entries, not file count."""
        from .delta_interop import _physical_type, physical_name_map

        meta_cols = [
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/+", "/"
            ).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
        # under column mapping every on-disk name — data columns, hive
        # partition dirs, partitionValues keys — is the PHYSICAL name;
        # both maps are identity when unmapped
        phys = _physical_type(schema)
        phys_by_logical = physical_name_map(schema)
        pmap = {c: phys_by_logical[c] for c in pcols}
        pdirs = [pmap[c] for c in pcols]
        logical_sel = [
            F.col(phys_by_logical[f.name]).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]

        def hive_base(path: str) -> str | None:
            # hive layout iff the trailing parent dirs are exactly the
            # partition dirs in declared order (…/p1=v1/p2=v2/file);
            # the head is the scan base (relative OR absolute — a
            # shallow clone's borrowed entries resolve to the source's)
            parts = Path(path).parent.parts
            if len(parts) < len(pdirs):
                return None
            tail = parts[len(parts) - len(pdirs):]
            if not all(
                seg.startswith(f"{k}=") for seg, k in zip(tail, pdirs)
            ):
                return None
            head = parts[: len(parts) - len(pdirs)]
            return str(Path(*head)) if head else "."

        by_base: dict[str, list[dict[str, Any]]] = {}
        opaque: list[dict[str, Any]] = []
        for e in entries:
            b = hive_base(e["path"])
            if b is None:
                opaque.append(e)
            else:
                by_base.setdefault(b, []).append(e)
        parts = []
        for b, es in by_base.items():
            # explicit schema (the log's, in physical names — partition
            # fields included, recovered from the k=v dirs and cast to
            # their declared types): a schemaless partitioned read
            # submits a footer-inference Spark job on EVERY call, which
            # every DML probe/rewrite on a partitioned table was paying
            # (guide §6 — the schema lives in the table log, re-deriving
            # it from footers is pure metadata overhead)
            df = self.spark.read.schema(phys).option(
                "basePath", str(Path(self.root) / b)
            ).parquet(*[str(Path(self.root) / e["path"]) for e in es])
            parts.append(
                df.select(*logical_sel, *(meta_cols if need_meta else []))
            )
        if opaque:
            data_schema = StructType(
                [f for f in phys.fields if f.name not in set(pdirs)]
            )
            groups: dict[tuple, list[dict[str, Any]]] = {}
            for e in opaque:
                pv = e.get("partitionValues") or {}
                groups.setdefault(
                    tuple(pv.get(pmap[c]) for c in pcols), []
                ).append(e)
            for key, es in groups.items():
                g = self.spark.read.schema(data_schema).parquet(
                    *[str(Path(self.root) / e["path"]) for e in es]
                )
                if need_meta:
                    g = g.select("*", *meta_cols)
                by_logical = dict(zip(pcols, key))
                cols = [
                    (
                        F.lit(by_logical[f.name])
                        .cast(f.dataType)
                        .alias(f.name)
                        if f.name in by_logical
                        else F.col(phys_by_logical[f.name])
                        .cast(f.dataType)
                        .alias(f.name)
                    )
                    for f in schema.fields
                ]
                parts.append(
                    g.select(
                        *cols,
                        *(["__file", "__pos"] if need_meta else []),
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def to_df(
        self, version: int | None = None, timestamp_ms: int | None = None
    ) -> DataFrame:
        """Snapshot read; ``version``/``timestamp_ms`` = time travel
        (reference ``delta_lake_features.py:83-108``)."""
        if timestamp_ms is not None:
            if version is not None:
                raise ValueError("version and timestamp are exclusive")
            version = self._log.version_at_timestamp(self.root, timestamp_ms)
        return self._read_files(self._files(version), version)

    def read_where(self, condition: str) -> DataFrame:
        """Data-skipping read: open only files whose footer [min, max]
        stats can contain rows matching ``condition``, then apply the
        full filter (the read-path twin of the DELETE/UPDATE/MERGE
        pruning; Delta's "skip 99%+ of files" claim, reference
        ``performance_optimization.py:175-184``).

        Pruning uses the conjunctive-comparison bounds contract of
        ``predicate_bounds`` — anything it can't prove keeps every
        file, so results always equal ``to_df().filter(condition)``.
        After ``optimize(zorder_by=[cols...])`` files are
        range-disjoint on the cluster columns and a point/range
        predicate touches O(1) of them.
        """
        kept = _prune_by_stats(
            self._files(),
            self._augment_generated_bounds(predicate_bounds(condition)),
        )
        return self._read_files(kept).filter(condition)

    def read_in(
        self, column: str, values: list[Any], prune_only: bool = False
    ) -> DataFrame:
        """IN-list data-skipping read: keep a file only if at least one
        probe value lands inside its [min, max] for ``column``; then
        apply the exact ``isin`` filter.

        This is the index-probe primitive ``read_where`` can't express
        (an IN list is a disjunction): with files range-clustered on
        ``column``, a small probe set stabs O(|values|) files out of
        the whole table. ``values`` lives on the driver — suitable for
        batch-sized probe sets (thousands to low millions), not for
        table-sized ones; beyond that, fall back to a join against
        ``to_df()``. ``prune_only=True`` skips the residual ``isin``
        filter for callers that apply their own equality (e.g. a
        subsequent join on ``column``) — with a large probe list the
        redundant InSet just burns CPU.
        """
        if not values:
            return self._read_files([]).filter(F.lit(False))
        probe = sorted(values)

        def _hits(e: dict[str, Any]) -> bool:
            st = (e.get("stats") or {}).get(column)
            if not st or st.get("min") is None or st.get("max") is None:
                return True  # no stats: never unsafe to keep
            try:
                i = bisect.bisect_left(probe, st["min"])
                return i < len(probe) and probe[i] <= st["max"]
            except TypeError:
                return True
        kept = [e for e in self._files() if _hits(e)]
        df = self._read_files(kept)
        return df if prune_only else df.filter(F.col(column).isin(values))

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY equivalent (``delta_lake_features.py:46-60``)."""
        rows = [
            (
                c["version"],
                c["timestamp_ms"],
                c["operation"],
                json.dumps(c.get("operationParameters", {})),
                json.dumps(c.get("operationMetrics", {})),
            )
            for c in self._log.read_log(self.root)
        ]
        return self.spark.createDataFrame(
            rows,
            "version long, timestamp_ms long, operation string, "
            "operationParameters string, operationMetrics string",
        )

    # -- writes ------------------------------------------------------------

    def append(
        self,
        df: DataFrame,
        merge_schema: bool = False,
        operation: str = "WRITE",
        parameters: dict[str, Any] | None = None,
    ) -> int:
        """Append with schema-on-write enforcement (§1.3): extra
        columns are rejected unless ``merge_schema`` (the Delta
        ``mergeSchema``/``autoMerge`` contract,
        ``delta_lake_features.py:182-262``); missing columns are
        null-filled. Old files read under an evolved schema null-fill
        the new columns, exactly like Delta.

        IDENTITY columns are honored here: a frame without the column
        gets generated values past the highWaterMark
        (``_generate_identity``), and the commit advances
        ``delta.identity.highWaterMark`` in the schema metadata (from
        the new files' footer stats — no extra data pass) so every
        later writer continues above them. The watermark commit is
        OCC-protected: a rival writer landing a schema change between
        our snapshot and commit raises, and the append REGENERATES
        from the fresh watermark (no overlap, no regression)."""
        from .log import ConcurrentModificationError

        last: Exception | None = None
        for _ in range(6):
            try:
                return self._append_once(
                    df, merge_schema, operation, parameters
                )
            except ConcurrentModificationError as e:
                last = e
        assert last is not None
        raise last

    def _append_once(
        self,
        df: DataFrame,
        merge_schema: bool,
        operation: str = "WRITE",
        parameters: dict[str, Any] | None = None,
    ) -> int:
        snap = self._log.latest_version(self.root)
        table_schema = self.schema
        df = _generate_identity(df, table_schema)
        df = self._conform(df, merge_schema)
        schema_json, props = df.schema.json(), None
        write_schema: StructType | None = None
        if (
            _physical_read_schema(table_schema) is not None
            and [f.name for f in df.schema.fields]
            != [f.name for f in table_schema.fields]
        ):
            # mapped evolution: assign columnMapping ids/physicalNames
            # to the net-new columns BEFORE writing, so the files land
            # under the same physical names the commit records
            write_schema, props = self._log.evolve_mapped_schema(
                self.root, df.schema
            )
            schema_json = write_schema.json()
        adds, n = _write_files(
            self._prep_write(df, schema=write_schema),
            self.root,
            partition_columns=self._write_partition_columns(),
        )
        # the watermark MUST be computed against the schema captured at
        # append START (the one generation used): re-reading here could
        # see a rival's advance that already covers our max, return
        # None, and let a stale non-authoritative commit land duplicate
        # ids without ever hitting the OCC check
        hwm_json = self._identity_hwm_schema(
            adds, schema=write_schema or table_schema
        )
        if hwm_json is not None:
            schema_json = hwm_json
        # caller-supplied parameters ride the SAME commit as the data
        # (COPY INTO's copiedFiles ledger needs crash-atomic identity
        # with the rows it describes)
        params = {"mode": "Append", "mergeSchema": merge_schema}
        if parameters:
            params.update(parameters)
        return self._commit_cleanup(
            adds,
            self.root, operation, adds, [], schema_json,
            parameters=params,
            metrics={"numOutputRows": n, "numFiles": len(adds)},
            properties=props,
            schema_authoritative=hwm_json is not None,
            # watermark commits are planned against the snapshot read
            # at append START; losing the race must recompute (fresh
            # watermark), never regress a rival's advance
            **({"expected_version": snap} if hwm_json is not None else {}),
        )

    def txn_version(self, app_id: str) -> int:
        """Highest committed transaction version for ``app_id``, or -1.
        Mirrors Delta's idempotent-writer tracking (txnAppId/txnVersion):
        the snapshot folds ``txn`` actions from the checkpoint on, and a
        warm call applies only the commits since the last one."""
        return self._log.txn_version(self.root, app_id)

    def append_txn(self, df: DataFrame, app_id: str, version: int) -> int:
        """Idempotent append: commit ``df`` tagged (app_id, version);
        if that version (or a later one) is already in the log, skip —
        the micro-batch was already landed and this is a replay.

        This is the scalable exactly-once primitive for streaming
        sinks: O(commit log) replay detection with NO table scan, where
        a MERGE-based dedup would join the batch against the whole
        table (reference exactly-once contract,
        ``transform_transactions.py:98-146``; Delta txnAppId/txnVersion
        semantics). Returns the commit version, or -1 on skip.
        Identity watermark commits recover from lost OCC races by
        regenerating, like :meth:`append`.
        """
        from .log import ConcurrentModificationError

        last: Exception | None = None
        for _ in range(6):
            try:
                return self._append_txn_once(df, app_id, version)
            except ConcurrentModificationError as e:
                last = e
        assert last is not None
        raise last

    def _append_txn_once(
        self, df: DataFrame, app_id: str, version: int
    ) -> int:
        if self.txn_version(app_id) >= version:
            return -1
        snap = self._log.latest_version(self.root)
        tbl_schema = self.schema
        out = self._conform(
            _generate_identity(df, tbl_schema), merge_schema=False
        )
        adds, n = _write_files(
            self._prep_write(out),
            self.root,
            partition_columns=self._write_partition_columns(),
        )
        # computed against the generation-time schema (see append())
        hwm_json = self._identity_hwm_schema(adds, schema=tbl_schema)
        return self._commit_cleanup(
            adds,
            self.root, "WRITE", adds, [], hwm_json or out.schema.json(),
            parameters={
                "mode": "Append",
                "txn": {"appId": app_id, "version": version},
            },
            metrics={"numOutputRows": n, "numFiles": len(adds)},
            schema_authoritative=hwm_json is not None,
            **({"expected_version": snap} if hwm_json is not None else {}),
        )

    def _identity_hwm_schema(
        self, adds: list[dict[str, Any]], schema: StructType | None = None
    ) -> str | None:
        """Updated schema JSON with each identity column's
        ``highWaterMark`` advanced to cover the values just written —
        read from the new files' FOOTER stats (already collected for
        the commit; no data re-read). Returns None when the table has
        no identity columns or nothing advanced."""
        schema = schema if schema is not None else self.schema
        idf = _identity_fields(schema)
        if not idf or not adds:
            return None
        from .delta_interop import physical_name_map

        phys = physical_name_map(schema)
        changed = False
        fields = []
        for f in schema.fields:
            if f in idf:
                step = int(f.metadata.get(_ID_STEP, 1))
                key = "max" if step > 0 else "min"
                vals = [
                    e["stats"][phys[f.name]][key]
                    for e in adds
                    if (e.get("stats") or {}).get(phys[f.name], {}).get(key)
                    is not None
                ]
                if vals:
                    new = max(vals) if step > 0 else min(vals)
                    old = f.metadata.get(_ID_HWM)
                    if old is None or (
                        new > int(old) if step > 0 else new < int(old)
                    ):
                        meta = dict(f.metadata)
                        meta[_ID_HWM] = int(new)
                        f = StructField(f.name, f.dataType, f.nullable, meta)
                        changed = True
            fields.append(f)
        return StructType(fields).json() if changed else None

    def _conform(self, df: DataFrame, merge_schema: bool) -> DataFrame:
        """Align an incoming frame with the table schema: cast known
        columns, null-fill missing ones, and either reject or (with
        ``merge_schema``) append net-new columns."""
        current = self.schema
        have = {f.name for f in current.fields}
        extra = [c for c in df.columns if c not in have]
        if extra and not merge_schema:
            raise ValueError(
                f"schema enforcement: unknown columns {extra}; "
                "pass merge_schema=True to evolve the table schema"
            )
        def fill(f: StructField) -> Column:
            # a column omitted by the writer takes its declared
            # DEFAULT (protocol CURRENT_DEFAULT metadata), else NULL
            d = (f.metadata or {}).get("CURRENT_DEFAULT")
            return (
                F.expr(str(d)) if d is not None else F.lit(None)
            ).cast(f.dataType)

        cols = [
            (
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else fill(f)
            ).alias(f.name)
            for f in current.fields
        ]
        cols += [F.col(c) for c in extra]  # evolved columns keep their type
        return df.select(*cols)

    def overwrite(
        self, df: DataFrame, *, expected_version: int | None = None
    ) -> int:
        """Replace the table contents in one commit.

        ``expected_version`` pins the optimistic-concurrency check to
        a version the CALLER read, closing the read→pin window of a
        read-merge-write loop: without it the OCC snapshot is captured
        HERE, so a rival commit landing between the caller's merge-read
        and this call would be silently overwritten instead of raising
        ``ConcurrentModificationError``. The removed-file set is read
        as of the pinned snapshot so the commit describes exactly the
        state it claims to replace.
        """
        snap = (
            expected_version
            if expected_version is not None
            else self._log.latest_version(self.root)
        )
        old = [e["path"] for e in self._files(snap)]
        # identity obligations apply here like append: generation for
        # frames without the column, GENERATED ALWAYS refusal for
        # explicit values, highWaterMark advance (never reset — the
        # protocol watermark is monotone even across overwrites)
        tbl_schema = self.schema
        df = _generate_identity(df, tbl_schema)
        adds, n = _write_files(
            self._prep_write(df),
            self.root,
            partition_columns=self._write_partition_columns(),
        )
        # overwrite may EVOLVE the schema: the commit records the
        # frame's fields (enriched with surviving table metadata), and
        # the watermark — computed against the generation-time table
        # schema — grafts onto THAT, never reviving the old field list
        from .delta_interop import merge_schema_metadata

        base_json = merge_schema_metadata(
            tbl_schema.json(), df.schema.json()
        )
        hwm_json = self._identity_hwm_schema(
            adds, schema=StructType.fromJson(json.loads(base_json))
        )
        return self._commit_cleanup(
            adds,
            self.root, "WRITE", adds, old, hwm_json or base_json,
            parameters={"mode": "Overwrite"},
            metrics={"numOutputRows": n, "numFiles": len(adds)},
            expected_version=snap,
            schema_authoritative=hwm_json is not None,
        )

    def delete(
        self,
        condition: str | Column,
        strategy: str = "auto",
        dv_max_rows: int = 1_000_000,
        retries: int = 0,
    ) -> dict[str, Any]:
        """DELETE by predicate with OCC retry: a lost commit race
        (``ConcurrentModificationError``) recomputes the whole plan
        from a fresh snapshot up to ``retries`` times, like
        ``MergeBuilder.execute``. See :meth:`_delete_once` for the
        strategy semantics."""
        from .log import ConcurrentModificationError

        last: Exception | None = None
        for _ in range(retries + 1):
            try:
                return self._delete_once(condition, strategy, dv_max_rows)
            except ConcurrentModificationError as e:
                last = e
        assert last is not None
        raise last

    def _commit_cleanup(
        self, staged: list[dict[str, Any]], *args: Any, **kwargs: Any
    ) -> int:
        """``self._log.commit`` with the append/MERGE failure contract:
        a commit that raises (lost OCC race, validation error) unlinks
        every parquet file this mutation staged — new data-file adds
        AND ``_change_data`` cdc files — so a raced-and-retried DML
        does not leak orphan bytes that only VACUUM's mtime sweep
        would eventually reclaim."""
        try:
            return self._log.commit(*args, **kwargs)
        except Exception:
            for e in staged:
                (Path(self.root) / e["path"]).unlink(missing_ok=True)
            raise

    def _delete_once(
        self,
        condition: str | Column,
        strategy: str = "auto",
        dv_max_rows: int = 1_000_000,
    ) -> dict[str, Any]:
        """DELETE by predicate (``compliance_policies.py:136-212``).

        Strategies:

        * ``"rewrite"`` — copy-on-write: rewrite touched files without
          the matching rows. Always available.
        * ``"dv"`` — deletion vectors: mark the matching ROW INDICES
          in a roaring bitmap sidecar and
          re-add the untouched data file with the DV descriptor. Cost
          is O(deleted rows), not O(touched-file bytes) — the modern
          Delta small-delete path (a GDPR single-subject erasure
          touches no data file at all). Falls back to rewrite when the
          deleted set exceeds ``dv_max_rows`` (the positions pass
          through the driver, bounded by design — DV-sized deletes;
          bulk deletes want the rewrite anyway).
        * ``"auto"`` — ``dv`` when ``delta.enableDeletionVectors`` is
          set (the property real Delta writers key on), else
          ``rewrite``.
        """
        if strategy not in ("auto", "dv", "rewrite"):
            raise ValueError(f"unknown DELETE strategy: {strategy!r}")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        snap = self._log.latest_version(self.root)
        bounds, complete = (
            predicate_bounds_full(condition)
            if isinstance(condition, str)
            else ({}, False)
        )
        # metadata-only whole-file drop: files whose stats PROVE every
        # row matches a complete conjunctive predicate are removed by
        # log action alone — never read, never rewritten. This is the
        # path that makes "DELETE WHERE day = X" on a 100 TB
        # partitioned table an O(log) operation (Delta's partition
        # delete); partitionValues point-interval stats qualify whole
        # hive partitions.
        whole: list[dict[str, Any]] = []
        if complete and bounds:
            whole = [
                e
                for e in _prune_by_stats(self._files(), bounds)
                if _file_fully_matches(e, bounds)
            ]
        whole_paths = {e["path"] for e in whole}
        # a foreign add action without a stats JSON reports rows=0 —
        # the drop is still provably correct (partition synth stats),
        # but the metric needs the real count: one driver-side footer
        # read per such file (bounded by |whole|)
        for e in whole:
            if not e.get("rows"):
                e["rows"] = pq.ParquetFile(
                    Path(self.root) / e["path"]
                ).metadata.num_rows
        n_whole = sum(_alive_rows(e) for e in whole)
        if strategy == "auto":
            strategy = "dv" if self._dv_enabled() else "rewrite"
        if strategy == "dv":
            result = self._delete_dv(
                cond, bounds, dv_max_rows, whole, n_whole, snap
            )
            if result is not None:
                return result
            # too many rows for a DV: fall through to rewrite
        touched = self._touched_files(cond, bounds, exclude_paths=whole_paths)
        if not touched and not whole:
            return {"numRemovedFiles": 0, "numDeletedRows": 0}
        cdf_on = self._cdf_enabled()
        persisted = False
        if touched and cdf_on:
            # CDF stages the deleted rows as change data: keep the
            # touched scan warm across its three consumers (the
            # deleted count, the kept-rows write and the cdc write)
            tdf = self._read_files(touched).persist()
            persisted = True
            kept = tdf.filter(~cond | cond.isNull())
            deleted = tdf.filter(cond)
            n_deleted = deleted.count()
            adds, _ = _write_files(
                # kept rows are PRE-EXISTING and unchanged: no
                # re-validation, no regeneration (see _prep_write)
                self._prep_write(kept, enforce=False, regenerate=False),
                self.root,
                partition_columns=self._write_partition_columns(),
            )
        elif touched:
            # no CDF: the touched scan has exactly ONE consumer (the
            # kept-rows write), and the deleted-row count needs no
            # extra pass either — every ALIVE row of a touched file is
            # either rewritten into the kept output or deleted, so
            # n_deleted = alive(touched) - rows_written, all from
            # commit-log stats plus the writer's return. (An
            # Observation would be fragile here: `DELETE FROM t`
            # makes the kept filter provably false and
            # PropagateEmptyRelation prunes the CollectMetrics node.)
            tdf = self._read_files(touched)
            deleted = None
            kept = tdf.filter(~cond | cond.isNull())
            adds, n_kept = _write_files(
                self._prep_write(kept, enforce=False, regenerate=False),
                self.root,
                partition_columns=self._write_partition_columns(),
            )
            # foreign adds without a stats JSON report rows=0 — one
            # driver-side footer read each, same as the whole-file path
            for e in touched:
                if not e.get("rows"):
                    e["rows"] = pq.ParquetFile(
                        Path(self.root) / e["path"]
                    ).metadata.num_rows
            n_deleted = sum(_alive_rows(e) for e in touched) - n_kept
        else:
            tdf, deleted, n_deleted, adds = None, None, 0, []
        metrics = {
            "numRemovedFiles": len(touched) + len(whole),
            "numWholeFilesRemoved": len(whole),
            "numAddedFiles": len(adds),
            "numDeletedRows": n_deleted + n_whole,
        }
        changes = self._whole_file_changes(whole, cdf_on)
        if deleted is not None:
            changes = (
                deleted if changes is None
                else deleted.unionByName(changes)
            )
        cdc = (
            self._stage_cdc([("delete", changes)])
            if changes is not None
            else []
        )
        self._commit_cleanup(
            adds + cdc,
            self.root, "DELETE", adds,
            [e["path"] for e in touched] + sorted(whole_paths),
            self._log.schema_at(self.root), metrics=metrics,
            expected_version=snap,
            **({"cdc": cdc} if cdc else {}),
        )
        if persisted:
            tdf.unpersist()
        return metrics

    def _delete_dv(
        self,
        cond: Column,
        bounds: dict,
        dv_max_rows: int,
        whole: list[dict[str, Any]] | None = None,
        n_whole: int = 0,
        snap: int | None = None,
    ) -> dict[str, Any] | None:
        """Deletion-vector DELETE: collect the matching (file, row
        index) pairs (bounded by ``dv_max_rows``), merge them into each
        touched file's existing bitmap, write one
        ``deletion_vector_*.bin`` per file, and commit remove+re-add
        actions carrying the DV descriptors. ``whole`` files (stats
        prove every row matches) skip the DV machinery entirely — pure
        remove actions in the same commit. Returns None when the
        deleted set is too large (caller falls back to rewrite)."""
        import numpy as np

        from .delta_interop import _dv_positions, spark_file_key, write_dv_file

        whole = whole or []
        whole_paths = {e["path"] for e in whole}
        touched = self._touched_files(
            cond, bounds, exclude_paths=whole_paths
        )
        if not touched and not whole:
            return {"numRemovedFiles": 0, "numDeletedRows": 0, "strategy": "dv"}
        if touched:
            tdf = self._read_files(touched, with_row_index=True).persist()
            hits = tdf.filter(cond)
            # size gate BEFORE the driver collect
            n_deleted = hits.count()
            if n_deleted > dv_max_rows:
                tdf.unpersist()
                return None
            pdf = hits.select("__file", "__pos").toPandas()
            new_adds, removes, n_fully_dead, staged_dv = self._dv_mark(
                touched, pdf
            )
        else:
            tdf, hits = None, None
            n_deleted, new_adds, removes, n_fully_dead = 0, [], [], 0
            staged_dv = []
        metrics = {
            "numDeletedRows": n_deleted + n_whole,
            "numDeletionVectorsAdded": len(new_adds),
            "numRemovedFiles": n_fully_dead + len(whole),
            "numWholeFilesRemoved": len(whole),
            "strategy": "dv",
        }
        cdf_on = self._cdf_enabled()
        changes = self._whole_file_changes(whole, cdf_on)
        if hits is not None and cdf_on:
            pre = hits.drop("__file", "__pos")
            changes = (
                pre if changes is None else pre.unionByName(changes)
            )
        cdc = (
            self._stage_cdc([("delete", changes)])
            if changes is not None
            else []
        )
        self._commit_cleanup(
            # DV re-adds point at EXISTING live files — only the fresh
            # sidecars and cdc parquet were staged by this pass
            staged_dv + cdc,
            self.root, "DELETE", new_adds,
            removes + sorted(whole_paths),
            self._log.schema_at(self.root),
            parameters={"strategy": "dv"},
            metrics=metrics,
            expected_version=snap,
            **({"cdc": cdc} if cdc else {}),
        )
        if tdf is not None:
            tdf.unpersist()
        return metrics

    def _dv_mark(
        self, touched: list[dict[str, Any]], pdf
    ) -> tuple[list[dict[str, Any]], list[str], int, list[dict[str, Any]]]:
        """Fold collected (``__file``, ``__pos``) hit pairs into
        deletion vectors: per touched file, union the new positions
        with any existing bitmap, write the sidecar, and build the
        remove + DV-re-add action lists. A file whose every physical
        row is marked is dropped outright (no all-rows DV).

        The 4th return value lists the freshly written DV SIDECARS as
        ``{"path": rel}`` entries — the only files this pass actually
        staged. A failed commit must unlink THOSE, never the re-add
        entries: a DV re-add's ``path`` is the pre-existing live data
        file (only the descriptor is new), so unlinking it would
        destroy committed data."""
        import numpy as np

        from .delta_interop import (
            _dv_positions,
            dv_file_path,
            spark_file_key,
            write_dv_file,
        )

        new_adds: list[dict[str, Any]] = []
        removes: list[str] = []
        staged_dv: list[dict[str, Any]] = []
        n_fully_dead = 0
        for e in touched:
            fpath = spark_file_key(self.root, e["path"])
            pos = pdf.loc[pdf["__file"] == fpath, "__pos"].to_numpy(np.int64)
            if len(pos) == 0:
                continue
            removes.append(e["path"])
            if e.get("deletionVector"):
                pos = np.union1d(
                    pos, _dv_positions(self.root, e["deletionVector"])
                )
            if e.get("rows") and len(pos) >= e["rows"]:
                n_fully_dead += 1
                continue
            desc = write_dv_file(self.root, pos)
            sidecar = dv_file_path(self.root, desc)
            if sidecar is not None:
                staged_dv.append(
                    {"path": str(sidecar.relative_to(self.root))}
                )
            entry = {k: v for k, v in e.items() if k != "deletionVector"}
            entry["deletionVector"] = desc
            new_adds.append(entry)
        return new_adds, removes, n_fully_dead, staged_dv

    def update(
        self,
        condition: str | Column,
        set: dict[str, str | Column],
        strategy: str = "auto",
        dv_max_rows: int = 1_000_000,
        retries: int = 0,
    ) -> dict[str, Any]:
        """UPDATE by predicate with OCC retry: a lost commit race
        recomputes from a fresh snapshot up to ``retries`` times, like
        ``MergeBuilder.execute``. See :meth:`_update_once` for the
        strategy semantics."""
        from .log import ConcurrentModificationError

        last: Exception | None = None
        for _ in range(retries + 1):
            try:
                return self._update_once(condition, set, strategy, dv_max_rows)
            except ConcurrentModificationError as e:
                last = e
        assert last is not None
        raise last

    def _update_once(
        self,
        condition: str | Column,
        set: dict[str, str | Column],
        strategy: str = "auto",
        dv_max_rows: int = 1_000_000,
    ) -> dict[str, Any]:
        """UPDATE by predicate (``compliance_policies.py:277-295``).

        Strategies mirror :meth:`delete`: ``"rewrite"`` rewrites the
        touched files; ``"dv"`` marks the OLD versions of matched rows
        in deletion vectors and appends only the updated rows as new
        files — cost O(matched rows), the way modern Delta writers run
        UPDATE/MERGE with DVs enabled;
        ``"auto"`` picks dv when ``delta.enableDeletionVectors`` is
        set. Falls back to rewrite past ``dv_max_rows``."""
        if strategy not in ("auto", "dv", "rewrite"):
            raise ValueError(f"unknown UPDATE strategy: {strategy!r}")
        hit = {f.name for f in _identity_fields(self.schema)} & set.keys()
        if hit:
            raise ValueError(
                f"cannot UPDATE identity column(s) {sorted(hit)}"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        snap = self._log.latest_version(self.root)
        bounds = predicate_bounds(condition) if isinstance(condition, str) else {}
        if strategy == "auto":
            strategy = "dv" if self._dv_enabled() else "rewrite"
        if strategy == "dv":
            result = self._update_dv(cond, set, bounds, dv_max_rows, snap)
            if result is not None:
                return result
        return self._update_rewrite(cond, set, bounds, snap)

    def _update_dv(
        self,
        cond: Column,
        set: dict[str, str | Column],
        bounds: dict,
        dv_max_rows: int,
        snap: int | None = None,
    ) -> dict[str, Any] | None:
        touched = self._touched_files(cond, bounds)
        if not touched:
            return {"numUpdatedRows": 0, "strategy": "dv"}
        tdf = self._read_files(touched, with_row_index=True).persist()
        hits = tdf.filter(cond)
        n_updated = hits.count()
        if n_updated > dv_max_rows:
            tdf.unpersist()
            return None
        pdf = hits.select("__file", "__pos").toPandas()
        new_adds, removes, n_fully_dead, staged_dv = self._dv_mark(
            touched, pdf
        )
        schema = self.schema
        set_cols = {
            k: (F.expr(v) if isinstance(v, str) else v).cast(schema[k].dataType)
            for k, v in set.items()
        }
        pre = hits.drop("__file", "__pos")
        # regenerate BEFORE branching so the CDF post-image carries the
        # same generated-column values the table does
        post = self._apply_generated(
            pre.select(
                *[
                    set_cols[c].alias(c) if c in set_cols else F.col(c)
                    for c in pre.columns
                ]
            ),
            schema,
        )
        adds_new, _ = _write_files(
            self._prep_write(post, regenerate=False),
            self.root,
            partition_columns=self._write_partition_columns(),
        )
        metrics = {
            "numUpdatedRows": n_updated,
            "numDeletionVectorsAdded": len(new_adds),
            "numRemovedFiles": n_fully_dead,
            "numAddedFiles": len(adds_new),
            "strategy": "dv",
        }
        cdc = self._stage_cdc(
            [("update_preimage", pre), ("update_postimage", post)]
        )
        self._commit_cleanup(
            # DV re-adds point at EXISTING live files — staged files
            # are the fresh sidecars, the post-image adds, and the cdc
            staged_dv + adds_new + cdc,
            self.root, "UPDATE", new_adds + adds_new, removes,
            self._log.schema_at(self.root),
            parameters={"strategy": "dv"},
            metrics=metrics,
            expected_version=snap,
            **({"cdc": cdc} if cdc else {}),
        )
        tdf.unpersist()
        return metrics

    def _update_rewrite(
        self,
        cond: Column,
        set: dict[str, str | Column],
        bounds: dict,
        snap: int | None = None,
    ) -> dict[str, Any]:
        """Copy-on-write UPDATE (``compliance_policies.py:277-295``)."""
        touched = self._touched_files(cond, bounds)
        if not touched:
            return {"numUpdatedRows": 0}
        schema = self.schema
        set_cols = {
            k: (F.expr(v) if isinstance(v, str) else v).cast(schema[k].dataType)
            for k, v in set.items()
        }
        cdf_on = self._cdf_enabled()
        has_checks = bool(
            _collect_constraint_checks(
                self._log.table_properties(self.root), schema
            )
        )
        # CDF change frames and the constraint pre-check re-read the
        # touched scan; without either, the rewrite write is its only
        # consumer — no persist, and the matched-row count rides the
        # write as an Observation instead of a separate count job
        reuse = cdf_on or has_checks
        tdf = self._read_files(touched)
        if reuse:
            tdf = tdf.persist()
        pre = tdf.filter(cond)
        n_updated = pre.count() if reuse else None
        # constraints re-judge only the CHANGED rows (post-image with
        # regenerated columns) — unchanged rows in touched files are
        # pre-existing data real Delta does not re-validate
        post = self._apply_generated(
            pre.select(
                *[
                    set_cols[c].alias(c) if c in set_cols else F.col(c)
                    for c in pre.columns
                ]
            ),
            schema,
        )
        if has_checks:
            self._enforce_constraints(post, schema)
        obs = None
        base = tdf
        if not reuse:
            from pyspark.sql import Observation

            obs = Observation()
            base = tdf.observe(
                obs, F.sum(F.when(cond, 1).otherwise(0)).alias("u")
            )
        updated = base.select(
            *[
                F.when(cond, set_cols[c]).otherwise(F.col(c)).alias(c)
                if c in set_cols
                else F.col(c)
                for c in tdf.columns
            ]
        )
        adds, _ = _write_files(
            self._prep_write(updated, enforce=False),
            self.root,
            partition_columns=self._write_partition_columns(),
        )
        if obs is not None:
            try:
                n_updated = int(obs.get["u"] or 0)
            except Exception:  # noqa: BLE001
                # degenerate plans can optimize the CollectMetrics node
                # away (the listener then completes with a schemaless
                # row) — fall back to the explicit count; correctness
                # of the metric beats saving its job
                n_updated = tdf.filter(cond).count()
        metrics = {
            "numRemovedFiles": len(touched),
            "numAddedFiles": len(adds),
            "numUpdatedRows": n_updated,
        }
        cdc = self._stage_cdc(
            [("update_preimage", pre), ("update_postimage", post)]
        )
        self._commit_cleanup(
            adds + cdc,
            self.root, "UPDATE", adds, [e["path"] for e in touched],
            self._log.schema_at(self.root), metrics=metrics,
            expected_version=snap,
            **({"cdc": cdc} if cdc else {}),
        )
        if reuse:
            tdf.unpersist()
        return metrics

    def merge(self, source: DataFrame, condition: str) -> "MergeBuilder":
        """MERGE builder; condition references aliases ``t`` (target)
        and ``s`` (source), e.g. ``"t.customer_id = s.customer_id"``."""
        return MergeBuilder(self, source, condition)

    # -- maintenance -------------------------------------------------------

    def optimize(
        self,
        zorder_by: list[str] | None = None,
        target_files: int | None = None,
        where: str | None = None,
        max_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict[str, Any]:
        """Compaction + clustering (reference OPTIMIZE/ZORDER incl. the
        WHERE partition filter, ``performance_optimization.py:27-134``).

        Scale contract: OPTIMIZE must be incremental — at 100 TB you
        compact the hot partition, never rewrite the table. Two guards
        enforce that here:

        * ``where`` scopes the candidate set by file stats (same
          pruning as reads). Whole files are rewritten, never filtered,
          so an over-approximate candidate set is still correct.
        * plain compaction (no ``zorder_by``) only touches files under
          ``max_file_bytes`` — already-compacted files are left alone,
          so repeated OPTIMIZE runs are O(new small files), not
          O(table). ZORDER rewrites its whole scope (re-clustering by
          definition relocates rows across files).

        Single-column clustering is range-partition + in-partition
        sort. Multi-column clustering uses REAL interleaved-bit
        Z-values (``_with_zvalue``): per-column equal-depth buckets
        whose bits interleave, so per-file min/max ranges narrow on
        EVERY cluster column and footer-stats skipping prunes scans
        for predicates on any of them — not only the leading column.
        """
        snap = self._log.latest_version(self.root)
        files = self._files()
        if where:
            files = _prune_by_stats(files, predicate_bounds(where))
        if not zorder_by:
            files = [e for e in files if e.get("bytes", 0) < max_file_bytes]
            if len(files) < 2:
                return {"numFilesRemoved": 0, "numFilesAdded": 0}
        if not files:
            return {"numFilesRemoved": 0, "numFilesAdded": 0}
        df = self._read_files(files)
        total_bytes = sum(e.get("bytes", 0) for e in files)
        n_out = target_files or max(1, total_bytes // (128 * 1024 * 1024))
        if zorder_by and len(zorder_by) > 1:
            # true multi-dim clustering: interleaved-bit z-value, so a
            # predicate on ANY cluster column prunes files — range+sort
            # would order by the leading column only and leave later
            # columns' per-file min/max spanning the whole domain
            df, zcol = _with_zvalue(df, list(zorder_by))
            df = (
                df.repartitionByRange(int(n_out), F.col(zcol))
                .sortWithinPartitions(zcol)
                .drop(zcol)
            )
        elif zorder_by:
            df = df.repartitionByRange(int(n_out), *zorder_by).sortWithinPartitions(
                *zorder_by
            )
        else:
            df = df.coalesce(int(n_out))
        adds, n = _write_files(
            # dataChange=false compaction must not alter or re-judge
            # existing bytes
            self._prep_write(df, enforce=False, regenerate=False),
            self.root,
            already_partitioned=True,
            partition_columns=self._write_partition_columns(),
        )
        metrics = {
            "numFilesRemoved": len(files),
            "numFilesAdded": len(adds),
            "numOutputRows": n,
        }
        self._commit_cleanup(
            adds,
            self.root, "OPTIMIZE", adds, [e["path"] for e in files],
            self._log.schema_at(self.root),
            parameters={"zOrderBy": zorder_by or [], "predicate": where or ""},
            metrics=metrics,
            expected_version=snap,
        )
        return metrics

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION AS OF (``delta_lake_features.py:157-176``).

        Diffs on (path, deletion-vector identity), not path alone: a DV
        DELETE re-adds the SAME data file with a descriptor, so a
        path-only diff would see "no change" and silently leave rows
        deleted after restoring to the pre-delete version (and keep a
        stale DV after restoring across a DV UPDATE). Re-adding a file
        with its old DV state (including none) is how Delta itself
        restores across DV commits."""

        def key(e: dict[str, Any]) -> tuple[str, str | None]:
            dv = e.get("deletionVector") or {}
            return (e["path"], dv.get("pathOrInlineDv"))

        snap = self._log.latest_version(self.root)
        target = self._log.active_files(self.root, version)
        current = self._files()
        current_keys = {key(e) for e in current}
        target_keys = {key(e) for e in target}
        adds = [e for e in target if key(e) not in current_keys]
        # a path whose DV state changed appears in both lists: the
        # remove must precede the re-add within the commit replay
        # (state.apply folds removes by path), so list it once
        add_paths = {e["path"] for e in adds}
        removes = [
            e["path"]
            for e in current
            if key(e) not in target_keys or e["path"] in add_paths
        ]
        return self._log.commit(
            self.root, "RESTORE", adds, sorted(set(removes)),
            self._log.schema_at(self.root, version),
            parameters={"version": version},
            expected_version=snap,
        )

    def clone(
        self,
        target_path: str,
        *,
        shallow: bool = True,
        version: int | None = None,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        """Delta-style ``CREATE TABLE tgt [SHALLOW|DEEP] CLONE src``:
        a new table whose first commit re-adds this table's snapshot
        (optionally a time-travel ``version``). Beyond the reference
        repo's surface; semantics follow Delta's public CLONE docs.

        SHALLOW records ABSOLUTE paths to the source's data files — a
        zero-copy metadata-only snapshot (the 100 TB dev/test-copy
        path: O(files) driver work, no data moved). Reads resolve
        absolute entries natively (``Path(root) / path`` preserves an
        absolute path); later DML copy-on-writes rewritten files into
        the CLONE's own directory, so the source never observes the
        clone's changes; VACUUM on the clone walks only the clone's
        own data dir, so borrowed files are never reclaimed by it.
        Matching Delta's documented caveat, VACUUM on the SOURCE can
        still remove files a shallow clone references — retention
        policy is the operator's guard, exactly as on Databricks.
        PARTITIONED sources shallow-clone too: every add action
        carries its ``partitionValues`` and the scan resolves each
        entry against ITS OWN hive base (``_scan_partitioned``), so no
        cross-root directory discovery is needed.

        DEEP copies every live data file into the target, preserving
        relative layout (partitioned sources stay hive-laid-out); the
        driver-side copy here is the object store's bulk-copy API
        behind the same call at real scale.

        Both kinds carry the source's schema verbatim (field metadata
        included), its table properties, and every file's statistics —
        stats-based pruning on the clone works immediately. LIVE
        deletion vectors clone too: SHALLOW rewrites each borrowed
        descriptor to storageType ``p`` with the sidecar's ABSOLUTE
        source path (protocol-native, foreign-reader-visible; the
        clone's own later DV writes stay clone-local, and clone VACUUM
        only ever globs its own root, so borrowed sidecars are as safe
        as borrowed data files); DEEP MATERIALIZES each DV'd file's
        alive rows into fresh clone-owned files (fresh stats, no
        descriptor) and copies clean files verbatim."""
        target_root = str(Path(target_path))
        v = self.version() if version is None else version
        entries = [dict(e) for e in self._files(v)]
        # snapshot-version state throughout: a time-travel clone must
        # carry the properties and partitioning the SOURCE had at v,
        # not whatever later ALTERs turned on (a v0 clone born with a
        # later delta.enableDeletionVectors would take DML paths the
        # v0 snapshot never had)
        pcols = list(self._log.partition_columns(self.root, v))
        if LakeTable.is_table(target_root):
            raise ValueError(f"table already exists: {target_path}")
        self._log.ensure_layout(target_root)
        if shallow:
            from .delta_interop import dv_file_path

            for e in entries:
                e["path"] = str((Path(self.root) / e["path"]).resolve())
                dv = e.get("deletionVector")
                if dv and dv["storageType"] == "u":
                    # relative-uuid descriptors resolve against the
                    # TABLE root — on the clone that would be the wrong
                    # root, so borrow them by ABSOLUTE path (protocol
                    # storageType "p"); inline ("i") descriptors are
                    # self-contained and "p" is already absolute
                    sidecar = dv_file_path(self.root, dv)
                    assert sidecar is not None
                    e["deletionVector"] = {
                        **dv,
                        "storageType": "p",
                        "pathOrInlineDv": str(sidecar.resolve()),
                    }
        else:
            import shutil

            dv_entries = [e for e in entries if e.get("deletionVector")]
            if dv_entries:
                # materialize alive rows of DV'd files as clone-owned
                # files with fresh footer stats; the descriptors die
                # here (a deep clone owns ALL its bytes)
                schema_v = StructType.fromJson(
                    json.loads(self._log.schema_at(self.root, v))
                )
                phys_v = _physical_read_schema(schema_v)
                wp: list[str] | None = None
                if pcols:
                    from .delta_interop import physical_name_map

                    pm = (
                        physical_name_map(schema_v)
                        if phys_v is not None
                        else {c: c for c in pcols}
                    )
                    wp = [pm[c] for c in pcols]
                adds, _n = _write_files(
                    self._prep_write(
                        self._read_files(dv_entries, version=v),
                        schema=schema_v,
                        enforce=False,
                        regenerate=False,
                    ),
                    target_root,
                    partition_columns=wp,
                )
                entries = [
                    e for e in entries if not e.get("deletionVector")
                ] + adds
                mat_paths = {a["path"] for a in adds}
            else:
                mat_paths = set()
            dd_rel = Path(self._log.data_dir(target_root)).relative_to(
                Path(target_root)
            )
            for e in entries:
                if e["path"] in mat_paths:
                    continue  # materialized: already in the target
                srcf = Path(self.root) / e["path"]
                if Path(e["path"]).is_absolute():
                    # deep-cloning a SHALLOW clone: its borrowed
                    # absolute entries must land as the new table's OWN
                    # files (copying onto the source path would be a
                    # same-file no-op that left the deep clone
                    # borrowing) — relativize under the target data
                    # dir, keeping the source's hive partition dirs so
                    # a partitioned deep-of-shallow stays hive-laid
                    pv = e.get("partitionValues") or {}
                    tail = srcf.parent.parts[
                        len(srcf.parent.parts) - len(pv):
                    ] if pv else ()
                    if pv and not all(
                        s.partition("=")[0] in pv and "=" in s
                        for s in tail
                    ):
                        tail = ()  # opaque layout: flat copy is fine
                    e["path"] = str(dd_rel.joinpath(*tail) / srcf.name)
                dstf = Path(target_root) / e["path"]
                dstf.parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(srcf, dstf)
        props = dict(self._log.table_properties(self.root, v))
        props.update(properties or {})
        self._log.commit(
            target_root,
            "CLONE",
            entries,
            [],
            self._log.schema_at(self.root, v),
            parameters={
                "sourceTable": self.root,
                "sourceVersion": v,
                "isShallow": shallow,
            },
            properties=props,
            schema_authoritative=True,
            partition_columns=pcols,
        )
        return LakeTable(self.spark, target_root)

    def replace_where(
        self,
        df: DataFrame,
        predicate: str | list[str],
        constraint_check: bool = True,
    ) -> dict[str, Any]:
        """Atomic predicate-scoped overwrite (Delta's public
        ``replaceWhere`` — the idempotent partition-reload shape at
        100 TB): ONE commit removes every row matching the predicate
        and lands the incoming frame. Whole files whose stats PROVE
        every row matches drop by log action alone (a partition reload
        never reads the old bytes — O(log) like the partition DELETE);
        only boundary files rewrite, without their matching rows.
        Incoming rows must all satisfy the predicate (Delta's
        replaceWhere constraint check; ``constraint_check=False``
        mirrors disabling ``delta.replaceWhere.constraintCheck``).

        A LIST of predicates is an OR of conjunctive disjuncts — the
        dynamic-partition-overwrite shape (one disjunct per incoming
        partition tuple). Each disjunct prunes and whole-file-matches
        INDEPENDENTLY (an OR predicate as one string would defeat the
        stats fast path), the union swaps in ONE commit."""
        preds = [predicate] if isinstance(predicate, str) else list(predicate)
        if not preds:
            raise ValueError("replace_where: empty predicate list")
        conds = [F.expr(p) for p in preds]
        cond = functools.reduce(lambda a, b: a | b, conds)
        predicate = (
            preds[0]
            if len(preds) == 1
            else " OR ".join(f"({p})" for p in preds)
        )
        snap = self._log.latest_version(self.root)
        bounds_list = [predicate_bounds_full(p) for p in preds]
        all_files = self._files()
        whole: list[dict[str, Any]] = []
        whole_paths: set[str] = set()
        for b, complete in bounds_list:
            if complete and b:
                for e in _prune_by_stats(all_files, b):
                    if (
                        e["path"] not in whole_paths
                        and _file_fully_matches(e, b)
                    ):
                        whole.append(e)
                        whole_paths.add(e["path"])
        for e in whole:
            if not e.get("rows"):
                e["rows"] = pq.ParquetFile(
                    Path(self.root) / e["path"]
                ).metadata.num_rows
        n_whole = sum(_alive_rows(e) for e in whole)
        # the incoming frame honors the SAME writer obligations as
        # append: identity generation/refusal, conform (defaults for
        # omitted columns — the predicate may reference them),
        # generated-column recomputation applied ONCE so data files
        # and CDF frames agree
        table_schema = self.schema
        new_df = self._apply_generated(
            self._conform(
                _generate_identity(df, table_schema), merge_schema=False
            ),
            table_schema,
        ).persist()
        tdf = deleted = None
        try:
            if constraint_check:
                stray = (
                    new_df.filter(~cond | cond.isNull()).limit(1).count()
                )
                if stray:
                    raise ValueError(
                        "replaceWhere: incoming rows do not all satisfy "
                        f"the predicate {predicate!r}"
                    )
            touched = self._touched_files(
                cond,
                [b for b, _ in bounds_list],
                exclude_paths=whole_paths,
            )
            kept_adds: list[dict[str, Any]] = []
            n_deleted = 0
            if touched:
                tdf = self._read_files(touched).persist()
                kept = tdf.filter(~cond | cond.isNull())
                deleted = tdf.filter(cond)
                n_deleted = deleted.count()
                kept_adds, _ = _write_files(
                    self._prep_write(kept, enforce=False, regenerate=False),
                    self.root,
                    partition_columns=self._write_partition_columns(),
                )
            new_adds, n_new = _write_files(
                self._prep_write(new_df, regenerate=False),
                self.root,
                partition_columns=self._write_partition_columns(),
            )
            adds = kept_adds + new_adds
            metrics = {
                "numRemovedFiles": len(touched) + len(whole),
                "numWholeFilesRemoved": len(whole),
                "numAddedFiles": len(adds),
                "numDeletedRows": n_deleted + n_whole,
                "numOutputRows": n_new,
            }
            cdf_on = self._cdf_enabled()
            removed = self._whole_file_changes(whole, cdf_on)
            if deleted is not None:
                removed = (
                    deleted if removed is None
                    else deleted.unionByName(removed)
                )
            cdc: list[dict[str, Any]] = []
            if cdf_on:
                pairs: list[tuple[str, DataFrame]] = [("insert", new_df)]
                if removed is not None:
                    pairs.append(("delete", removed))
                cdc = self._stage_cdc(pairs)
            # explicit identity values must advance the highWaterMark
            # (against the snapshot schema, like append)
            hwm_json = self._identity_hwm_schema(adds, schema=table_schema)
            self._commit_cleanup(
                adds + cdc,
                self.root,
                "WRITE",
                adds,
                [e["path"] for e in touched] + sorted(whole_paths),
                hwm_json or self._log.schema_at(self.root),
                parameters={"mode": "Overwrite", "predicate": predicate},
                metrics=metrics,
                expected_version=snap,
                schema_authoritative=hwm_json is not None,
                **({"cdc": cdc} if cdc else {}),
            )
            return metrics
        finally:
            new_df.unpersist()
            if tdf is not None:
                tdf.unpersist()

    def reorg_purge(self, where: str | None = None) -> dict[str, Any]:
        """``REORG TABLE ... APPLY (PURGE)``: rewrite the files whose
        deletion vectors mark soft-deleted rows so those bytes are
        physically gone (beyond the reference repo's surface;
        semantics follow Databricks' public REORG docs). A DV DELETE
        leaves row bytes in place until a rewrite — REORG is the
        documented prep for GDPR physical erasure and for
        sharing/cloning workflows that want descriptor-free files.
        Logical data is unchanged, so no CDF is staged (like
        OPTIMIZE, the commit only swaps physical layout; the old
        sidecars stay for time travel until VACUUM ages them out).
        Cost is O(DV'd files), never O(table); ``where`` scopes the
        candidate set further via file stats (partition predicates at
        100 TB)."""
        snap = self._log.latest_version(self.root)
        dvd = [e for e in self._files() if e.get("deletionVector")]
        if where:
            # over-approximate candidate pruning is correct: whole
            # files are rewritten, never filtered by the predicate
            dvd = _prune_by_stats(dvd, predicate_bounds(where))
        if not dvd:
            return {
                "numFilesRemoved": 0,
                "numFilesAdded": 0,
                "numRowsRewritten": 0,
            }
        # alive rows only: _read_files anti-joins the DV positions
        df = self._read_files(dvd)
        adds, n = _write_files(
            self._prep_write(df, enforce=False, regenerate=False),
            self.root,
            partition_columns=self._write_partition_columns(),
        )
        metrics = {
            "numFilesRemoved": len(dvd),
            "numFilesAdded": len(adds),
            "numRowsRewritten": n,
        }
        self._commit_cleanup(
            adds,
            self.root, "REORG", adds, [e["path"] for e in dvd],
            self._log.schema_at(self.root),
            parameters={"applyPurge": True, "predicate": where or ""},
            metrics=metrics,
            expected_version=snap,
        )
        return metrics

    def generate_manifest(self) -> dict[str, Any]:
        """``GENERATE symlink_format_manifest FOR TABLE t`` (beyond
        the reference's surface; Delta's public GENERATE): write
        ``_symlink_format_manifest/[<k=v>/...]manifest`` text files
        listing the CURRENT snapshot's data-file URIs so
        Presto/Trino/Athena-style symlink readers can query the table
        without a Delta reader. O(files) driver metadata — no data
        read; partitioned tables get one manifest per partition dir
        (the hive layout those engines expect). Tables carrying live
        deletion vectors refuse loudly (a manifest reader would
        resurrect soft-deleted rows — the documented Delta
        restriction); previous manifests are replaced wholesale so a
        stale partition's manifest never survives a partition swap.
        VACUUM never touches the manifest dir (it walks only the data
        dir)."""
        from urllib.parse import quote

        files = self._files()
        if any(e.get("deletionVector") for e in files):
            raise NotImplementedError(
                "GENERATE symlink_format_manifest: table has live "
                "deletion vectors; run REORG TABLE ... APPLY (PURGE) "
                "first (a manifest reader cannot apply DVs)"
            )
        base = Path(self.root)
        mdir = base / "_symlink_format_manifest"
        if mdir.exists():
            shutil.rmtree(mdir)
        pcols = self._partition_columns() or []
        groups: dict[str, list[str]] = {}
        for e in files:
            p = e["path"]
            ap = Path(p) if p.startswith("/") else base / p
            seg = ""
            if pcols:
                pv = e.get("partitionValues") or {}
                seg = "/".join(
                    f"{k}="
                    + (
                        "__HIVE_DEFAULT_PARTITION__"
                        if pv.get(k) is None
                        else quote(str(pv[k]), safe="")
                    )
                    for k in pcols
                )
            groups.setdefault(seg, []).append(ap.resolve().as_uri())
        for seg, paths in groups.items():
            d = mdir / seg if seg else mdir
            d.mkdir(parents=True, exist_ok=True)
            (d / "manifest").write_text("\n".join(sorted(paths)) + "\n")
        return {
            "numManifestFiles": len(groups),
            "numDataFiles": len(files),
        }

    def fsck_repair(self, dry_run: bool = False) -> dict[str, Any]:
        """``FSCK REPAIR TABLE [DRY RUN]`` (beyond the reference's
        surface; Databricks' public FSCK): drop active log entries
        whose data files are GONE from storage (manual deletion, a
        partial restore) so snapshot reads stop dying with
        FileNotFound. Metadata-only — one commit of remove actions,
        O(files) driver-side existence probes, no data read. DRY RUN
        reports without committing. Rows in the vanished files are
        lost by definition; the commit records how many file entries
        were dropped so the data loss is visible in history."""
        snap = self._log.latest_version(self.root)
        missing = [
            e
            for e in self._files()
            if not (Path(self.root) / e["path"]).exists()
        ]
        if dry_run or not missing:
            return {
                "numMissingFiles": len(missing),
                "numRemovedFiles": 0,
                "dryRun": dry_run,
            }
        self._log.commit(
            self.root,
            "FSCK",
            [],
            [e["path"] for e in missing],
            self._log.schema_at(self.root),
            parameters={"dryRun": False},
            metrics={"numRemovedFiles": len(missing)},
            expected_version=snap,
        )
        return {
            "numMissingFiles": len(missing),
            "numRemovedFiles": len(missing),
            "dryRun": False,
        }

    def truncate(self) -> dict[str, Any]:
        """TRUNCATE TABLE: metadata-only removal of every data file —
        one commit of remove actions, no data read or rewritten (time
        travel still serves pre-truncate versions; VACUUM reclaims the
        bytes after retention). CDF-enabled tables record the full
        delete image first, like DELETE."""
        snap = self._log.latest_version(self.root)
        files = self._files()
        if not files:
            return {"numRemovedFiles": 0, "numDeletedRows": 0}
        for e in files:
            if not e.get("rows"):
                e["rows"] = pq.ParquetFile(
                    Path(self.root) / e["path"]
                ).metadata.num_rows
        n = sum(_alive_rows(e) for e in files)
        changes = self._read_files(files) if self._cdf_enabled() else None
        cdc = (
            self._stage_cdc([("delete", changes)])
            if changes is not None
            else []
        )
        metrics = {"numRemovedFiles": len(files), "numDeletedRows": n}
        self._commit_cleanup(
            cdc,
            self.root, "TRUNCATE", [], [e["path"] for e in files],
            self._log.schema_at(self.root), metrics=metrics,
            expected_version=snap,
            **({"cdc": cdc} if cdc else {}),
        )
        return metrics

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (reference evolution surface
        ``delta_lake_features.py:182-262``). Requires a column-mapped
        table (``delta.columnMapping.mode``): the logical name changes
        in the schema, the columnMapping physicalName stays, no data
        file is rewritten, and pre-rename versions keep time-traveling
        under their old names."""
        v = self._log.rename_column(self.root, old, new)
        return self._migrate_column_props(old, new) or v

    def drop_column(self, col: str) -> int:
        """Metadata-only column drop (column-mapped Delta tables): the
        logical field leaves the schema; existing parquet keeps the
        physical column for pre-drop time travel."""
        v = self._log.drop_column(self.root, col)
        return self._migrate_column_props(col, None) or v

    def _migrate_column_props(self, old: str, new: str | None) -> int | None:
        """Move (rename) or remove (drop) the per-column governance
        properties — ``engine.coltags.<old>.*`` tags and the
        ``engine.mask.<old>`` mask binding — after a column rename/drop,
        so classification follows the column like UC tags do. One extra
        metadata commit, and only when such properties exist; returns
        the commit version or None when nothing needed to move."""
        tag_prefix = f"engine.coltags.{old}."
        mask_key = f"engine.mask.{old}"
        props = dict(self.properties())
        moved = {
            k: v
            for k, v in props.items()
            if k.startswith(tag_prefix) or k == mask_key
        }
        if not moved:
            return None
        for k, v in moved.items():
            props.pop(k)
            if new is not None:
                if k == mask_key:
                    props[f"engine.mask.{new}"] = v
                else:
                    props[f"engine.coltags.{new}.{k[len(tag_prefix):]}"] = v
        snap = self._log.latest_version(self.root)
        return self._log.commit(
            self.root,
            "MIGRATE COLUMN TAGS",
            [],
            [],
            self._log.schema_at(self.root),
            parameters={"from": old, "to": new},
            properties=props,
            expected_version=snap,
        )

    def add_columns(self, cols: "StructType | str") -> int:
        """ALTER TABLE ADD COLUMNS — metadata-only additive schema
        evolution (reference
        ``delta_lake_features.py:258-262``): the new nullable fields
        append to the schema in one commit; no data file is touched and
        existing rows null-fill on read (the same contract
        ``append(merge_schema=True)`` uses). New columns must be
        nullable — pre-existing rows have no value for them. Committed
        ``schema_authoritative`` with the planned snapshot pinned, so a
        racing schema change conflicts (retryable) instead of being
        merged away."""
        new = (
            StructType.fromDDL(cols) if isinstance(cols, str) else cols
        )
        schema = self.schema
        names = {f.name.lower() for f in schema.fields}
        added = []
        for f in new.fields:
            if f.name.lower() in names:
                raise ValueError(f"column already exists: {f.name!r}")
            names.add(f.name.lower())
            added.append(StructField(f.name, f.dataType, True, f.metadata))
        if not added:
            raise ValueError("ADD COLUMNS: empty column list")
        evolved = StructType(list(schema.fields) + added)
        snap = self._log.latest_version(self.root)
        return self._log.commit(
            self.root,
            "ADD COLUMNS",
            [],
            [],
            evolved.json(),
            parameters={"columns": [f.name for f in added]},
            expected_version=snap,
            schema_authoritative=True,
        )

    def set_column_comment(self, col: str, comment: str) -> int:
        """ALTER TABLE ... ALTER COLUMN c COMMENT '...' — metadata-only
        (reference governance surface
        ``governance/unity_catalog_setup.py:96-103``)."""
        schema = self.schema
        # case-insensitive like Spark's own resolution; the stored
        # field name keeps its casing
        by_lower = {f.name.lower(): f.name for f in schema.fields}
        actual = by_lower.get(col.lower())
        if actual is None:
            raise ValueError(f"no such column: {col!r}")
        fields = [
            StructField(
                f.name,
                f.dataType,
                f.nullable,
                {**dict(f.metadata or {}), "comment": comment}
                if f.name == actual
                else f.metadata,
            )
            for f in schema.fields
        ]
        snap = self._log.latest_version(self.root)
        return self._log.commit(
            self.root,
            "ALTER COLUMN",
            [],
            [],
            StructType(fields).json(),
            parameters={"column": col, "comment": comment},
            expected_version=snap,
            schema_authoritative=True,
        )

    def set_tags(self, tags: dict[str, str], unset: bool = False) -> int:
        """ALTER TABLE ... SET TAGS ('k' = 'v', ...) / UNSET TAGS —
        governance classification tags (reference
        ``governance/unity_catalog_setup.py:105-124``), stored as
        ``engine.tags.<k>`` table properties so they ride the commit
        log, survive restarts, and show in DESCRIBE EXTENDED /
        SHOW TBLPROPERTIES."""
        snap = self._log.latest_version(self.root)
        props = dict(self.properties())
        if unset:
            for k in tags:
                props.pop(f"engine.tags.{k}", None)
        else:
            for k, v in tags.items():
                props[f"engine.tags.{k}"] = str(v)
        return self._log.commit(
            self.root,
            "UNSET TAGS" if unset else "SET TAGS",
            [],
            [],
            self._log.schema_at(self.root),
            parameters={"tags": sorted(tags)},
            properties=props,
            expected_version=snap,
        )

    def add_constraint(self, name: str, expr: str) -> int:
        """``ALTER TABLE t ADD CONSTRAINT name CHECK (expr)`` (beyond
        the reference's surface; Delta's public constraint DDL).
        Validates every EXISTING row in ONE aggregation pass before
        the ``delta.constraints.<name>`` property lands — the
        Databricks contract: the DDL refuses on a violation, it never
        half-lands. New writes are then enforced by
        ``_enforce_constraints`` (zero cost until a constraint
        exists). At 100 TB the validation is one full-scan AND-agg —
        the price Databricks itself pays; the commit is metadata."""
        cname = name.lower()
        key = f"delta.constraints.{cname}"
        snap = self._log.latest_version(self.root)
        props = dict(self.properties())
        if key in props:
            raise ValueError(
                f"constraint {cname!r} already exists on {self.root} "
                f"(expression {props[key]!r})"
            )
        # analyzes against the schema (unknown column -> loud refusal)
        # and scans existing rows; NULL passes, FALSE violates
        _raise_on_constraint_violations(self.to_df(), {cname: expr})
        props[key] = expr
        return self._log.commit(
            self.root,
            "ADD CONSTRAINT",
            [],
            [],
            self._log.schema_at(self.root),
            parameters={"name": cname, "expr": expr},
            properties=props,
            expected_version=snap,
        )

    def drop_constraint(self, name: str, if_exists: bool = False) -> int | None:
        """``ALTER TABLE t DROP CONSTRAINT [IF EXISTS] name`` —
        metadata-only; every metaData action snapshots the full
        configuration, so the key is simply omitted."""
        cname = name.lower()
        key = f"delta.constraints.{cname}"
        snap = self._log.latest_version(self.root)
        props = dict(self.properties())
        if key not in props:
            if if_exists:
                return None
            raise ValueError(f"no such constraint {cname!r} on {self.root}")
        props.pop(key)
        return self._log.commit(
            self.root,
            "DROP CONSTRAINT",
            [],
            [],
            self._log.schema_at(self.root),
            parameters={"name": cname},
            properties=props,
            expected_version=snap,
        )

    def unset_properties(self, keys: list[str]) -> int:
        """``ALTER TABLE t UNSET TBLPROPERTIES (...)`` — metadata-only,
        keys are omitted from the configuration snapshot, like
        ``drop_constraint``."""
        snap = self._log.latest_version(self.root)
        props = dict(self.properties())
        for k in keys:
            props.pop(k, None)
        return self._log.commit(
            self.root,
            "UNSET TBLPROPERTIES",
            [],
            [],
            self._log.schema_at(self.root),
            parameters={"properties": sorted(keys)},
            properties=props,
            expected_version=snap,
        )

    def set_column_nullability(self, col: str, nullable: bool) -> int:
        """``ALTER TABLE t ALTER COLUMN c SET NOT NULL / DROP NOT
        NULL``. DROP is metadata-only; SET validates existing rows
        first (early-exit LIMIT 1 probe — the full-scan worst case is
        the price Databricks itself pays) and marks the field
        ``engine.notNull`` so writes enforce it from then on. The
        MARKER, not the bare nullable flag, drives write-time
        enforcement: DataFrame-created tables inherit incidental
        non-nullability (``spark.range``'s id) and must not start
        paying a validation aggregation per write."""
        schema = self.schema
        by_lower = {f.name.lower(): f.name for f in schema.fields}
        actual = by_lower.get(col.lower())
        if actual is None:
            raise ValueError(f"no such column: {col!r}")
        if not nullable:
            bad = (
                self.to_df()
                .filter(F.col(actual).isNull())
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"cannot SET NOT NULL on {actual!r}: existing rows "
                    "hold NULLs"
                )
        fields = []
        for f in schema.fields:
            if f.name != actual:
                fields.append(f)
                continue
            meta = dict(f.metadata or {})
            if nullable:
                meta.pop("engine.notNull", None)
            else:
                meta["engine.notNull"] = True
            fields.append(StructField(f.name, f.dataType, nullable, meta))
        snap = self._log.latest_version(self.root)
        return self._log.commit(
            self.root,
            "ALTER COLUMN",
            [],
            [],
            StructType(fields).json(),
            parameters={"column": actual, "nullable": nullable},
            expected_version=snap,
            schema_authoritative=True,
        )

    def set_column_type(self, col: str, new_type: str) -> int:
        """``ALTER TABLE t ALTER COLUMN c TYPE <wider>`` — Delta's
        public type widening (beyond the reference's surface): a
        METADATA-ONLY schema commit; no file is rewritten, old parquet
        upcasts at read time (Spark's reader converts int32->long,
        float->double, decimal precision-up natively — probed). Gated
        on ``delta.enableTypeWidening`` like Databricks, and only the
        protocol's SAFE transitions are allowed: the integer up-chain,
        float->double, and decimal widening that grows both the
        integral digits and the scale monotonically."""
        from pyspark.sql.types import (
            ByteType,
            DecimalType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
            _parse_datatype_string,
        )

        if str(
            self.properties().get("delta.enableTypeWidening", "false")
        ).lower() not in ("true", "1"):
            raise ValueError(
                "type widening is disabled; SET TBLPROPERTIES "
                "('delta.enableTypeWidening' = 'true') first"
            )
        schema = self.schema
        by_lower = {f.name.lower(): f.name for f in schema.fields}
        actual = by_lower.get(col.lower())
        if actual is None:
            raise ValueError(f"no such column: {col!r}")
        old = schema[actual].dataType
        new = _parse_datatype_string(new_type)
        chain = [ByteType(), ShortType(), IntegerType(), LongType()]

        def ok() -> bool:
            if old == new:
                return False
            if old in chain and new in chain:
                return chain.index(old) < chain.index(new)
            if isinstance(old, FloatType) and isinstance(new, DoubleType):
                return True
            if isinstance(old, DecimalType) and isinstance(new, DecimalType):
                return (
                    new.scale >= old.scale
                    and new.precision - new.scale
                    >= old.precision - old.scale
                    and (new.precision, new.scale)
                    != (old.precision, old.scale)
                )
            return False

        if not ok():
            raise ValueError(
                f"unsupported type change for {actual!r}: "
                f"{old.simpleString()} -> {new.simpleString()} is not a "
                "safe widening (integer up-chain, float->double, or "
                "decimal precision/scale growth)"
            )
        snap = self._log.latest_version(self.root)
        fields = [
            StructField(f.name, new if f.name == actual else f.dataType,
                        f.nullable, f.metadata)
            for f in schema.fields
        ]
        return self._log.commit(
            self.root,
            "ALTER COLUMN",
            [],
            [],
            StructType(fields).json(),
            parameters={
                "column": actual,
                "fromType": old.simpleString(),
                "toType": new.simpleString(),
            },
            expected_version=snap,
            schema_authoritative=True,
        )

    def set_column_default(self, col: str, expr: str | None) -> int:
        """``ALTER TABLE t ALTER COLUMN c SET DEFAULT expr / DROP
        DEFAULT`` — metadata-only (protocol ``CURRENT_DEFAULT`` column
        metadata); applies to FUTURE writes that omit the column,
        existing rows are untouched (the Databricks contract)."""
        schema = self.schema
        by_lower = {f.name.lower(): f.name for f in schema.fields}
        actual = by_lower.get(col.lower())
        if actual is None:
            raise ValueError(f"no such column: {col!r}")
        if expr is not None:
            # the expression must analyze NOW — a typo'd default
            # failing at some later INSERT would be a delayed trap
            self.spark.range(1).select(F.expr(expr)).schema
        fields = []
        for f in schema.fields:
            if f.name != actual:
                fields.append(f)
                continue
            meta = dict(f.metadata or {})
            if expr is None:
                meta.pop("CURRENT_DEFAULT", None)
            else:
                meta["CURRENT_DEFAULT"] = expr
            fields.append(StructField(f.name, f.dataType, f.nullable, meta))
        snap = self._log.latest_version(self.root)
        return self._log.commit(
            self.root,
            "ALTER COLUMN",
            [],
            [],
            StructType(fields).json(),
            parameters={"column": actual, "default": expr},
            expected_version=snap,
            schema_authoritative=True,
        )

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: name -> SQL expression."""
        return {
            k[len("delta.constraints."):]: str(v)
            for k, v in self.properties().items()
            if k.startswith("delta.constraints.")
        }

    def tags(self) -> dict[str, str]:
        """The table's governance tags (``engine.tags.*`` properties)."""
        return {
            k[len("engine.tags."):]: str(v)
            for k, v in self.properties().items()
            if k.startswith("engine.tags.")
        }

    def set_column_tags(
        self, col: str, tags: dict[str, str], unset: bool = False
    ) -> int:
        """``ALTER TABLE t ALTER COLUMN c SET TAGS ('k' = 'v', ...)`` /
        ``UNSET TAGS`` — per-column classification tags (reference
        ``governance/data_classification.py:108-129`` tags PII columns
        this way), stored as ``engine.coltags.<col>.<k>`` table
        properties so they ride the commit log like table tags and feed
        the ``system.information_schema.column_tags`` view."""
        names = {f.name for f in self.schema.fields}
        if col not in names:
            raise ValueError(f"no such column {col!r} (have {sorted(names)})")
        if "." in col:
            raise ValueError(
                f"column tags need an un-dotted column name, got {col!r}"
            )
        snap = self._log.latest_version(self.root)
        props = dict(self.properties())
        for k, v in tags.items():
            key = f"engine.coltags.{col}.{k}"
            if unset:
                props.pop(key, None)
            else:
                props[key] = str(v)
        return self._log.commit(
            self.root,
            "UNSET COLUMN TAGS" if unset else "SET COLUMN TAGS",
            [],
            [],
            self._log.schema_at(self.root),
            parameters={"column": col, "tags": sorted(tags)},
            properties=props,
            expected_version=snap,
        )

    def column_tags(self) -> dict[str, dict[str, str]]:
        """Per-column governance tags: ``{column: {tag: value}}`` from
        the ``engine.coltags.*`` properties."""
        out: dict[str, dict[str, str]] = {}
        prefix = "engine.coltags."
        for k, v in self.properties().items():
            if not k.startswith(prefix):
                continue
            col, _, tag = k[len(prefix):].partition(".")
            if tag:
                out.setdefault(col, {})[tag] = str(v)
        return out

    def set_column_mask(self, col: str, function: str | None) -> int:
        """``ALTER TABLE t ALTER COLUMN c SET MASK fn`` / ``DROP MASK``
        (U2; reference ``governance/access_control.py:135-143``) —
        binds a SQL scalar function to the column. The engine applies
        the mask in the table's synced temp VIEW (the secured-view
        layer), so every SQL SELECT sees ``fn(col)`` while API
        DataFrame reads — the storage-credential trust boundary — stay
        raw. Stored as the ``engine.mask.<col>`` property; the version
        bump makes ``sync_views`` rebuild the view."""
        names = {f.name for f in self.schema.fields}
        if col not in names:
            raise ValueError(f"no such column {col!r} (have {sorted(names)})")
        snap = self._log.latest_version(self.root)
        props = dict(self.properties())
        key = f"engine.mask.{col}"
        if function is None:
            props.pop(key, None)
        else:
            props[key] = function
        return self._log.commit(
            self.root,
            "DROP MASK" if function is None else "SET MASK",
            [],
            [],
            self._log.schema_at(self.root),
            parameters={"column": col, "function": function},
            properties=props,
            expected_version=snap,
        )

    def column_masks(self) -> dict[str, str]:
        """``{column: mask_function_name}`` from ``engine.mask.*``."""
        prefix = "engine.mask."
        return {
            k[len(prefix):]: str(v)
            for k, v in self.properties().items()
            if k.startswith(prefix)
        }

    def vacuum(self, retain_hours: float = 168.0, dry_run: bool = False) -> list[str]:
        """Delete unreferenced data files older than the retention window
        (``delta_lake_features.py:385-393``)."""
        active = {e["path"] for e in self._files()}
        cutoff = time.time() - retain_hours * 3600
        ddir = self._log.data_dir(self.root)
        victims = []
        # rglob: partitioned tables nest files under hive dirs
        for p in ddir.rglob("*"):
            if not p.is_file():
                continue
            rel = f"{DATA_DIR}/{p.relative_to(ddir).as_posix()}"
            if rel not in active and p.stat().st_mtime < cutoff:
                victims.append(rel)
        # protocol change data ages out with the retention window, like
        # Delta's VACUUM: cdc files are never "active" table state, and
        # the CDF availability window IS the retention window
        cdir = Path(self.root) / "_change_data"
        if cdir.is_dir():
            for p in cdir.rglob("*"):
                if p.is_file() and p.stat().st_mtime < cutoff:
                    victims.append(
                        f"_change_data/{p.relative_to(cdir).as_posix()}"
                    )
        # orphaned deletion-vector sidecars: a rewrite/compaction drops
        # the DV reference and leaves the .bin behind — collect any bin
        # that NO version references (time travel included)
        kept_dvs = self._log.referenced_dv_files(self.root)
        for p in Path(self.root).glob("deletion_vector_*.bin"):
            if p.resolve() not in kept_dvs and p.stat().st_mtime < cutoff:
                victims.append(p.name)
        if not dry_run:
            # commit first (Delta's VACUUM START): a table this engine
            # may not write is refused before any file is deleted
            self._log.commit(
                self.root, "VACUUM", [], [], self._log.schema_at(self.root),
                metrics={"numDeletedFiles": len(victims)},
            )
            for rel in victims:
                (Path(self.root) / rel).unlink()
        return victims

    # -- change data feed --------------------------------------------------

    def _dv_enabled(self) -> bool:
        props = self.properties()
        v = props.get(
            "delta.enableDeletionVectors",
            props.get("enableDeletionVectors", False),
        )
        return str(v).lower() in ("true", "1")

    def _cdf_enabled(self) -> bool:
        # both spellings accepted: the engine's own short key and the
        # Delta TBLPROPERTIES name users carry over from the reference
        # stack (delta_lake_features.py:335-341)
        props = self.properties()
        v = props.get(
            "enableChangeDataFeed", props.get("delta.enableChangeDataFeed", False)
        )
        return str(v).lower() in ("true", "1")

    def _whole_file_changes(
        self, whole: list[dict[str, Any]], cdf_on: bool
    ) -> DataFrame | None:
        """CDF change frame for whole-file removals, or None when CDF
        is off: its only consumer (``_stage_cdc``) no-ops then, and
        building the frame anyway costs a partition-listing/scan job
        whose output nothing reads."""
        return self._read_files(whole) if (whole and cdf_on) else None

    def _stage_cdc(
        self, frames: list[tuple[str, DataFrame]]
    ) -> list[dict[str, Any]]:
        """Materialize PROTOCOL change data for a commit about to land
        on a CDF-enabled table: the (change_type, frame)
        pairs union into ``_change_data`` parquet (physical column
        names on mapped tables, hive dirs on partitioned ones) and the
        returned ``cdc`` actions ride in the SAME commit. They are the
        only copy of the commit's row-level changes: ``read_changes``,
        the ``delta_cdf_stream`` source and any external Delta CDF
        reader serve UPDATE/DELETE/MERGE history from them, so the
        change set lands whole with the commit or not at all."""
        if not self._cdf_enabled():
            return []
        union = functools.reduce(
            DataFrame.unionByName,
            [
                self._prep_write(df, enforce=False, regenerate=False)
                .withColumn("_change_type", F.lit(change_type))
                for change_type, df in frames
            ],
        )
        pcols = self._write_partition_columns() or []
        adds, n = _write_files(
            union, self.root, partition_columns=pcols, subdir="_change_data"
        )
        if n == 0:
            # an empty change set (a MERGE whose matched clauses all
            # declined) still gets one empty cdc file: a commit that
            # rewrote files without any cdc action has no readable
            # change set at all. Partition columns stay out of the
            # file, as in any partitioned file, and take null values.
            from pyspark.sql.pandas.types import to_arrow_schema

            rel = f"_change_data/part-{uuid.uuid4().hex}.parquet"
            data = StructType(
                [f for f in union.schema.fields if f.name not in pcols]
            )
            dest = Path(self.root) / rel
            pq.write_table(to_arrow_schema(data).empty_table(), dest)
            adds = [
                {
                    "path": rel,
                    "bytes": dest.stat().st_size,
                    "partitionValues": dict.fromkeys(pcols),
                }
            ]
        return adds

    def read_changes(
        self, starting_version: int = 0, ending_version: int | None = None
    ) -> DataFrame:
        """Batch CDF scan (``delta_lake_features.py:357-368``). Columns:
        table schema + _change_type + _commit_version.

        Each version is served from its own commit by the planner the
        ``delta_cdf_stream`` source uses too
        (``delta_interop.change_files``): its ``cdc`` files, else its
        data-changing add files as ``insert`` rows; ``dataChange=false``
        commits (OPTIMIZE, REORG) contribute nothing. A commit that
        rewrote files without cdc actions (CDF off at write time) is
        refused loudly, naming the version, instead of returning wrong
        changes (reference surface:
        ``delta_sharing_recipient.py:180-205``); so is a range starting
        below the oldest commit left in the log, or ending before it
        starts (``delta_interop.change_versions``)."""
        from .delta_interop import change_files, change_versions

        frames = []
        for v in change_versions(self.root, starting_version, ending_version):
            entries, change_type = change_files(self.root, v)
            if not entries:
                continue
            df = self._read_files(entries, version=v, cdc=change_type is None)
            if change_type is not None:
                df = df.withColumn(CDF_TYPE_COL, F.lit(change_type))
            frames.append(
                df.withColumn(CDF_VERSION_COL, F.lit(v).cast("long"))
            )
        if not frames:
            schema = self.schema.add(CDF_TYPE_COL, "string").add(
                CDF_VERSION_COL, "long"
            )
            return self.spark.createDataFrame([], schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read_changes_stream(self) -> DataFrame:
        """Streaming CDF scan (S4-equivalent: the OSS
        ``readStream.option("readChangeFeed", ...)`` role): this
        table's change feed through the ``delta_cdf_stream`` source,
        served from the same commits as :meth:`read_changes`. Offsets
        are table versions, so each downstream checkpoint delivers
        every commit's changes exactly once."""
        if not self._cdf_enabled():
            raise ValueError(
                "change data feed not enabled; create the table with "
                "properties={'enableChangeDataFeed': True}"
            )
        from ..sources.cdf_stream import register_cdf_stream

        register_cdf_stream(self.spark)
        return (
            self.spark.readStream.format("delta_cdf_stream")
            .option("path", self.root)
            .load()
        )

    # -- internals ---------------------------------------------------------

    # monotone generation-expression shapes whose bounds derive from
    # the base column's bounds (Delta's generated-column partition
    # pruning): date casts, year, and lexicographic date_format
    _GEN_DATE_RE = re.compile(
        r"^\s*(?:CAST\s*\(\s*`?(\w+)`?\s+AS\s+DATE\s*\)"
        r"|to_date\s*\(\s*`?(\w+)`?\s*\)"
        r"|DATE\s*\(\s*`?(\w+)`?\s*\))\s*$",
        re.IGNORECASE,
    )
    _GEN_YEAR_RE = re.compile(
        r"^\s*year\s*\(\s*`?(\w+)`?\s*\)\s*$", re.IGNORECASE
    )
    _GEN_FMT_RE = re.compile(
        r"^\s*date_format\s*\(\s*`?(\w+)`?\s*,\s*'(yyyy-MM(?:-dd)?)'\s*\)\s*$"
    )
    _GEN_TRUNC_RE = re.compile(
        r"^\s*date_trunc\s*\(\s*'(year|month|day)'\s*,\s*`?(\w+)`?\s*\)\s*$",
        re.IGNORECASE,
    )

    def _augment_generated_bounds(
        self, bounds: dict[str, tuple[Any, Any]]
    ) -> dict[str, tuple[Any, Any]]:
        """Derive bounds for GENERATED columns from their base column's
        bounds when the generation expression is monotone — so a
        predicate on a raw timestamp prunes the date/year/month
        partitions generated from it (Delta's generated-column
        partition pruning). Only ever ADDS implied intervals, so
        skipping stays provably safe; non-monotone shapes (month(x),
        day(x)) are never derived."""
        if not bounds:
            return bounds

        from datetime import datetime

        def _dt(v: Any) -> "datetime | None":
            if isinstance(v, str):
                try:
                    return datetime.fromisoformat(v)
                except ValueError:
                    return None
            return None

        out = dict(bounds)
        for f in self.schema.fields:
            gexpr = f.metadata.get("delta.generationExpression")
            if not gexpr or f.name in out:
                continue
            gexpr = str(gexpr)
            derive = None
            base = None
            m = self._GEN_DATE_RE.match(gexpr)
            if m:
                base = next(g for g in m.groups() if g)
                derive = lambda d: d.date().isoformat()  # noqa: E731
            elif self._GEN_YEAR_RE.match(gexpr):
                base = self._GEN_YEAR_RE.match(gexpr).group(1)
                derive = lambda d: d.year  # noqa: E731
            elif self._GEN_FMT_RE.match(gexpr):
                mf = self._GEN_FMT_RE.match(gexpr)
                base = mf.group(1)
                n = len(mf.group(2))  # yyyy-MM -> 7, yyyy-MM-dd -> 10
                derive = lambda d: d.isoformat()[:n]  # noqa: E731
            elif self._GEN_TRUNC_RE.match(gexpr):
                mt = self._GEN_TRUNC_RE.match(gexpr)
                unit, base = mt.group(1).lower(), mt.group(2)

                def derive(d, unit=unit):
                    if unit == "year":
                        d = d.replace(month=1)
                    if unit in ("year", "month"):
                        d = d.replace(day=1)
                    d = d.replace(hour=0, minute=0, second=0, microsecond=0)
                    # Spark serializes timestamp partition values as
                    # 'yyyy-MM-dd HH:mm:ss'
                    return d.strftime("%Y-%m-%d %H:%M:%S")
            if base is None or base not in bounds:
                continue
            lo, hi = bounds[base]
            dlo = _dt(lo) if lo is not None else None
            dhi = _dt(hi) if hi is not None else None
            if (lo is not None and dlo is None) or (
                hi is not None and dhi is None
            ):
                continue  # unparseable literal: derive nothing
            out[f.name] = (
                derive(dlo) if dlo is not None else None,
                derive(dhi) if dhi is not None else None,
            )
        return out

    def _touched_files(
        self,
        cond: Column,
        bounds: dict[str, tuple[Any, Any]]
        | list[dict[str, tuple[Any, Any]]]
        | None = None,
        exclude_paths: set[str] | None = None,
    ) -> list[dict[str, Any]]:
        """Files containing at least one row matching ``cond``.

        Two stages: (1) driver-side stats pruning against the commit
        log's per-file min/max (``bounds`` — extracted from the
        predicate or from MERGE source keys; file metadata only, no
        data read); (2) an exact membership probe via a file-path
        distinct over the surviving candidates. ``exclude_paths``
        drops files the caller already decided about (whole-match
        DELETE) before the probe ever reads them. A LIST of bounds
        (one per OR-disjunct of ``cond``) keeps a candidate that ANY
        disjunct's bounds admit — per-disjunct pruning where a single
        merged interval would be over-wide.
        """
        files = self._files()
        if exclude_paths:
            files = [e for e in files if e["path"] not in exclude_paths]
        if bounds is None:
            bounds = {}
        if isinstance(bounds, list):
            kept: dict[str, dict[str, Any]] = {}
            for b in bounds:
                for e in _prune_by_stats(
                    files, self._augment_generated_bounds(b)
                ):
                    kept.setdefault(e["path"], e)
                if not b:
                    break  # one unbounded disjunct admits everything
            files = [e for e in files if e["path"] in kept]
        else:
            files = _prune_by_stats(
                files, self._augment_generated_bounds(bounds)
            )
        if not files:
            return []
        df = self._read_files(files, with_row_index=True)
        hit_paths = {
            r[0]
            for r in df.filter(cond).select("__file").distinct().collect()
        }
        return _hit_files(self.root, files, hit_paths)


_CMP_RE = re.compile(
    r"^\s*`?(\w+)`?\s*(==|=|<=|>=|<|>)\s*"
    r"(-?\d+(?:\.\d+)?|'[^']*'|\"[^\"]*\")\s*$"
)


def _collect_constraint_checks(
    props: dict[str, Any], schema: StructType
) -> dict[str, str]:
    """Constraint name -> SQL predicate from table properties + field
    metadata (see ``LakeTable._enforce_constraints``)."""
    checks: dict[str, str] = {}
    for k, v in props.items():
        if k.startswith("delta.constraints."):
            checks[k[len("delta.constraints."):]] = str(v)
    # NOT NULL declared through the engine's DDL (CREATE TABLE ...
    # NOT NULL, ALTER COLUMN SET NOT NULL) — keyed on the explicit
    # ``engine.notNull`` marker, NOT the bare nullable flag: a table
    # created from a DataFrame inherits incidental non-nullability
    # (spark.range's id) and must not pay a per-write validation agg
    for f in schema.fields:
        if (
            not f.nullable
            and f.metadata
            and f.metadata.get("engine.notNull")
        ):
            checks[f"notnull__{f.name}"] = f"`{f.name}` IS NOT NULL"

    from pyspark.sql.types import ArrayType, MapType

    def walk(dt, path, in_collection):
        # dotted paths resolve only through STRUCT nesting; an
        # invariant on a field inside an array/map cannot be
        # expressed as one top-level predicate — refuse it loudly
        # rather than mis-evaluating (or crashing) per write
        if isinstance(dt, StructType):
            for f in dt.fields:
                p = f"{path}.{f.name}" if path else f.name
                inv = f.metadata.get("delta.invariants")
                if inv:
                    if in_collection:
                        raise NotImplementedError(
                            f"invariant on {p} inside an array/map "
                            "cannot be enforced per element"
                        )
                    try:
                        expr = json.loads(inv)["expression"]["expression"]
                    except (ValueError, KeyError, TypeError):
                        raise NotImplementedError(
                            f"unparseable invariant on {p}: {inv!r}"
                        )
                    checks[f"invariant_{p.replace('.', '_')}"] = expr
                walk(f.dataType, p, in_collection)
        elif isinstance(dt, ArrayType):
            walk(dt.elementType, path, True)
        elif isinstance(dt, MapType):
            walk(dt.valueType, path, True)

    walk(schema, "", False)
    return checks


def _raise_on_constraint_violations(
    df: DataFrame, checks: dict[str, str]
) -> None:
    if not checks:
        return
    row = df.agg(
        *[
            F.sum(F.expr(e).eqNullSafe(F.lit(False)).cast("int")).alias(n)
            for n, e in checks.items()
        ]
    ).collect()[0]
    bad = {n: int(row[n]) for n in checks if (row[n] or 0) > 0}
    if bad:
        detail = "; ".join(
            f"{n} ({checks[n]!r}): {c} rows" for n, c in bad.items()
        )
        raise ValueError(f"CHECK constraint violation — {detail}")


def predicate_bounds(condition: str) -> dict[str, tuple[Any, Any]]:
    """Extract per-column (lo, hi) bounds from a *conjunctive* SQL
    predicate of simple comparisons — the file-skipping contract Delta
    derives from its stats. Returns {} (no pruning) for anything with
    OR/NOT/parentheses: pruning must only ever skip files that
    provably cannot match."""
    bounds, _ = predicate_bounds_full(condition)
    return bounds


def predicate_bounds_full(
    condition: str,
) -> tuple[dict[str, tuple[Any, Any]], bool]:
    """Like :func:`predicate_bounds`, plus a ``complete`` flag: True
    iff EVERY conjunct was captured in the bounds. A complete
    conjunctive predicate supports the reverse inference too — a file
    whose stats interval lies wholly INSIDE the bounds provably
    matches on every row (the metadata-only whole-file DELETE);
    an incomplete parse only ever supports skipping."""
    if re.search(r"\bor\b|\bnot\b|\(", condition, flags=re.IGNORECASE):
        return {}, False
    complete = True
    bounds: dict[str, tuple[Any, Any]] = {}
    for part in condition.split(" AND "):
        m = _CMP_RE.match(part.strip())
        if not m:
            complete = False
            continue
        col, op, lit = m.groups()
        value: Any
        if lit[0] in "'\"":
            value = lit[1:-1]
        else:
            value = float(lit) if "." in lit else int(lit)
        if op in ("<", ">"):
            # strict edges are folded inclusively — safe for skipping
            # (over-approximate) but NOT for the whole-file full-match
            # inference (a file with max == v does not match `col < v`)
            complete = False
        lo, hi = bounds.get(col, (None, None))
        if op in ("=", "=="):
            # equality INTERSECTS with prior conjuncts on the column —
            # overwriting (lo, hi) would let "a >= 5 AND a = 3" claim
            # complete bounds (3, 3), and the whole-file full-match
            # inference would then delete a=3 rows an unsatisfiable
            # predicate matches none of
            new_lo, new_hi = value, value
        elif op in (">", ">="):
            new_lo, new_hi = value, None
        else:  # "<", "<="
            new_lo, new_hi = None, value
        try:
            if new_lo is not None:
                lo = new_lo if lo is None else max(lo, new_lo)
            if new_hi is not None:
                hi = new_hi if hi is None else min(hi, new_hi)
            if lo is not None and hi is not None and lo > hi:
                # unsatisfiable conjunction: bounds stay (the empty
                # interval prunes correctly) but the full-match
                # inference must never fire
                complete = False
        except TypeError:
            # mixed-type conjuncts ("a >= 1 AND a = 'x'"): drop every
            # claim for the column — no pruning, no full-match
            bounds.pop(col, None)
            complete = False
            continue
        bounds[col] = (lo, hi)
    return bounds, complete


def _file_fully_matches(
    e: dict[str, Any], bounds: dict[str, tuple[Any, Any]]
) -> bool:
    """True iff stats PROVE every row of the file satisfies a COMPLETE
    conjunctive ``bounds`` (each bound column: no nulls and the file's
    [min, max] wholly inside [lo, hi]). Must only be called with
    ``complete=True`` bounds from :func:`predicate_bounds_full`."""
    for col, (lo, hi) in bounds.items():
        st = (e.get("stats") or {}).get(col)
        if (
            not st
            or st.get("min") is None
            or st.get("max") is None
            or st.get("nulls", 0)
        ):
            return False
        try:
            if lo is not None and st["min"] < lo:
                return False
            if hi is not None and st["max"] > hi:
                return False
        except TypeError:
            return False  # mixed types prove nothing
    return True


def _hit_files(
    root: str, files: list[dict[str, Any]], hits: set[str]
) -> list[dict[str, Any]]:
    """The entries of ``files`` whose scan key is in ``hits``, the
    ``__file`` values of a probe that read exactly ``files``. A hit
    naming no candidate means the driver key diverged from Spark's
    rendering of the path; dropping it would silently skip rows the
    statement matched, so it raises."""
    from .delta_interop import spark_file_key

    keyed = [(spark_file_key(root, e["path"]), e) for e in files]
    stray = hits - {k for k, _ in keyed}
    if stray:
        raise RuntimeError(
            f"touched-file probe returned {len(stray)} file(s) outside "
            f"its candidate set under {root}, e.g. {min(stray)!r}"
        )
    return [e for k, e in keyed if k in hits]


def _prune_by_stats(
    files: list[dict[str, Any]], bounds: dict[str, tuple[Any, Any]]
) -> list[dict[str, Any]]:
    """Keep files whose [min, max] intervals can intersect ``bounds``.
    Missing stats or incomparable types keep the file (never unsafe)."""
    if not bounds:
        return files
    kept = []
    for e in files:
        ok = True
        for col, (lo, hi) in bounds.items():
            st = (e.get("stats") or {}).get(col)
            if not st or st.get("min") is None or st.get("max") is None:
                continue
            try:
                if lo is not None and st["max"] < lo:
                    ok = False
                    break
                if hi is not None and st["min"] > hi:
                    ok = False
                    break
            except TypeError:
                continue  # mixed types: do not prune
        if ok:
            kept.append(e)
    return kept


_Z_BITS = 4  # quantile buckets per dimension = 2^4
_Z_SAMPLE = 4096  # driver-side sample size for string boundaries


def _zorder_boundaries(df: DataFrame, col: str) -> list[Any]:
    """Equal-depth bucket boundaries (at most 2^_Z_BITS - 1) for one
    cluster column. Numerics/dates/timestamps use approxQuantile (one
    bounded pass). Strings are bucketed by SAMPLED raw-string
    boundaries compared lexicographically — the RangePartitioner
    approach — because any numeric proxy of a string collapses under
    double precision once values share a long common prefix (footer
    min/max stats compare full strings, so boundaries must too)."""
    dt = df.schema[col].dataType.simpleString()
    qs = [i / (1 << _Z_BITS) for i in range(1, 1 << _Z_BITS)]
    if dt == "string":
        # uniform deterministic sample WITHOUT leaving Catalyst: order
        # by a seeded hash and take the first _Z_SAMPLE rows — ONE
        # TakeOrderedAndProject job (per-partition top-k heaps), vs
        # rdd.takeSample's count job + sample job
        sample = [
            r[0]
            for r in df.select(col)
            .filter(F.col(col).isNotNull())
            .orderBy(F.xxhash64(F.col(col), F.lit(42)))
            .limit(_Z_SAMPLE)
            .collect()
        ]
        sample.sort()
        if not sample:
            return []
        return sorted(
            {sample[min(int(q * len(sample)), len(sample) - 1)] for q in qs}
        )
    proxy = (
        F.col(col).cast("timestamp").cast("double")
        if dt in ("timestamp", "timestamp_ntz", "date")
        else F.col(col).cast("double")
    )
    vals = df.select(proxy.alias("__q")).stat.approxQuantile("__q", qs, 0.01)
    return sorted(set(vals))


def _zorder_bucket(df: DataFrame, col: str, bounds: list[Any]) -> Column:
    dt = df.schema[col].dataType.simpleString()
    if dt == "string":
        probe: Column = F.col(col)
    elif dt in ("timestamp", "timestamp_ntz", "date"):
        probe = F.col(col).cast("timestamp").cast("double")
    else:
        probe = F.col(col).cast("double")
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(probe >= F.lit(b), 1).otherwise(0)
    return bucket.cast("long")


def _with_zvalue(df: DataFrame, cols: list[str]) -> tuple[DataFrame, str]:
    """Append an interleaved-bit Z-value over ``cols`` (the real
    Z-ORDER, reference ``performance_optimization.py:82-134``): each
    column is bucketed to 2^_Z_BITS equal-depth levels (quantile /
    sampled boundaries — the same range-id computation delta-spark's
    OPTIMIZE ZORDER runs), then the per-column bucket bits interleave
    so consecutive z-values stay close in EVERY dimension. Clustering
    by z therefore narrows each file's min/max on every cluster column
    — footer-stats skipping works for predicates on ANY of them, not
    just the leading one. NULLs sort to bucket 0."""
    zexpr = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        bucket = _zorder_bucket(df, c, _zorder_boundaries(df, c))
        for bit in range(_Z_BITS):
            # bit `bit` of this column's bucket lands at interleaved
            # position bit*ncols + ci
            zexpr = zexpr + F.shiftleft(
                F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                bit * len(cols) + ci,
            )
    return df.withColumn("__zval", zexpr), "__zval"


def _write_files(
    df: DataFrame,
    root: str,
    already_partitioned: bool = False,
    partition_columns: list[str] | None = None,
    subdir: str | None = None,
) -> tuple[list[dict[str, Any]], int]:
    """Write df as immutable parquet files under <root>/data (or
    ``subdir``, e.g. the protocol's ``_change_data``) and return
    (add-entries with footer stats, row count).

    With ``partition_columns`` the layout is hive-style
    (``data/day=d1/part-*.parquet``, matching how every Delta writer
    lays out partitioned tables) and each add entry carries the
    ``partitionValues`` map plus synthesized point-interval stats so
    driver-side pruning (``_prune_by_stats``) skips whole partitions
    without touching footers.

    Partitioned writes are optimized writes (Delta's ``optimizeWrite``,
    reference ``performance_optimization.py:296-308``): the frame is
    wrapped in a ``REBALANCE`` hint on the partition columns, so each
    partition value lands in one write task — one file per value per
    commit instead of one per (input task × value). AQE packs small
    values into shared tasks and splits a value larger than its
    advisory size over several tasks, so large writes still get
    several well-sized files. Callers whose frame carries a layout the
    files must keep (OPTIMIZE's range partitioning and in-partition
    sort) pass ``already_partitioned=True``: Spark's
    ``CollapseRepartition`` would drop that layout under the rebalance.
    Unpartitioned writes keep their frame's own partitioning."""
    from urllib.parse import unquote

    from .delta_interop import synth_partition_stats

    staging = Path(root) / f"_staging_{uuid.uuid4().hex}"
    if partition_columns and not already_partitioned:
        # quoted columns, not names: physical column-mapping names such
        # as `col-1a2b` are not valid unquoted SQL identifiers
        df = df.hint(
            "rebalance",
            *[F.col("`" + c.replace("`", "``") + "`") for c in partition_columns],
        )
    writer = df.write.mode("overwrite")
    if partition_columns:
        writer = writer.partitionBy(*partition_columns)
    writer.parquet(str(staging))
    rel_prefix = subdir if subdir else DATA_DIR
    ddir = Path(root) / rel_prefix
    ddir.mkdir(parents=True, exist_ok=True)
    adds = []
    total_rows = 0
    for p in sorted(staging.rglob("*.parquet")):
        if p.stat().st_size == 0:
            continue
        rel_dir = p.relative_to(staging).parent
        name = f"part-{uuid.uuid4().hex}.parquet"
        dest = ddir / rel_dir / name
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.move(str(p), dest)
        st = _file_stats(dest)
        if st["rows"] == 0:
            dest.unlink()
            continue
        total_rows += st["rows"]
        rel = (
            f"{rel_prefix}/{rel_dir.as_posix()}/{name}"
            if rel_dir.parts
            else f"{rel_prefix}/{name}"
        )
        entry: dict[str, Any] = {"path": rel, **st}
        if partition_columns:
            pv: dict[str, Any] = {}
            for seg in rel_dir.parts:
                k, _, v = seg.partition("=")
                pv[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                )
            entry["partitionValues"] = pv
            synth_partition_stats(entry)
        adds.append(entry)
    shutil.rmtree(staging, ignore_errors=True)
    return adds, total_rows


# ---------------------------------------------------------------------------
# MERGE
# ---------------------------------------------------------------------------

# Below this many candidate files, MERGE skips the source key-bounds
# aggregate and lets the exact touched-file probe read every candidate
# directly (see _execute_once). The touched set is identical either
# way; only the probe's input size changes.
_MERGE_PRUNE_MIN_FILES = 8


class MergeBuilder:
    """Fluent MERGE matching the DeltaTable builder the reference uses
    (``transform_customers.py:174-202``, ``transform_transactions.py:133-144``,
    ``transform_support_tickets.py:120-147``).

    Supported clauses: whenMatchedUpdate(condition?, set),
    whenMatchedUpdateAll(condition?), whenMatchedDelete(condition?),
    whenNotMatchedInsert(values), whenNotMatchedInsertAll(),
    whenNotMatchedBySourceUpdate(condition?, set),
    whenNotMatchedBySourceDelete(condition?).

    Execution = copy-on-write join:
      1. touched target files = semi-join(source, condition) over the
         snapshot (file-pruned via footer stats by Spark's reader);
         BY SOURCE clauses widen this to every file in scope — a
         target row's non-matching-ness is only provable against the
         whole source, the same inherent O(scope) Delta pays;
      2. full-outer join of touched rows with source;
      3. clause application as a single select of CASE expressions;
      4. atomic commit: remove touched, add rewritten + inserted.
    """

    def __init__(self, table: LakeTable, source: DataFrame, condition: str):
        self.table = table
        self.source = source
        self.condition = condition
        self._matched: list[tuple[str, str | None, dict[str, str] | None]] = []
        self._not_matched: list[tuple[str | None, dict[str, str] | None]] = []
        self._by_source: list[tuple[str, str | None, dict[str, str] | None]] = []
        self._schema_evolution = False
        # cache handles released by the tail unpersist or the OCC-retry
        # cleanup in execute()
        self._persisted: DataFrame | None = None
        self._materialized: DataFrame | None = None

    def withSchemaEvolution(self) -> "MergeBuilder":
        """``MERGE WITH SCHEMA EVOLUTION`` (Delta's public builder
        flag): source columns absent from the target are ADDED to the
        table schema (nullable), populated by UPDATE SET * / INSERT *
        clauses; pre-existing rows read NULL for them (old files are
        read under the evolved schema, like the append path's
        mergeSchema). Also implied by the OSS Delta session conf
        ``spark.databricks.delta.schema.autoMerge.enabled``."""
        self._schema_evolution = True
        return self

    def whenMatchedUpdate(
        self, set: dict[str, str], condition: str | None = None
    ) -> "MergeBuilder":
        self._matched.append(("update", condition, set))
        return self

    def whenMatchedUpdateAll(self, condition: str | None = None) -> "MergeBuilder":
        self._matched.append(("update_all", condition, None))
        return self

    def whenMatchedDelete(self, condition: str | None = None) -> "MergeBuilder":
        self._matched.append(("delete", condition, None))
        return self

    def whenNotMatchedInsert(
        self, values: dict[str, str], condition: str | None = None
    ) -> "MergeBuilder":
        self._not_matched.append((condition, values))
        return self

    def whenNotMatchedBySourceUpdate(
        self, set: dict[str, str], condition: str | None = None
    ) -> "MergeBuilder":
        """Update TARGET rows no source row matches (condition and set
        expressions may reference ``t.`` columns only)."""
        self._by_source.append(("update", condition, set))
        return self

    def whenNotMatchedBySourceDelete(
        self, condition: str | None = None
    ) -> "MergeBuilder":
        """Delete TARGET rows no source row matches — the sync-style
        MERGE that retires rows absent from the source."""
        self._by_source.append(("delete", condition, None))
        return self

    def whenNotMatchedInsertAll(self, condition: str | None = None) -> "MergeBuilder":
        self._not_matched.append((condition, None))
        return self

    def _source_key_bounds(self) -> dict[str, tuple[Any, Any]]:
        """For each ``t.col = s.col`` equality in the merge condition,
        the source's [min, max] of s.col becomes a pruning interval on
        the target column — one tiny aggregate over the source."""
        pairs = re.findall(
            r"\bt\.`?(\w+)`?\s*=\s*s\.`?(\w+)`?", self.condition
        ) + [
            (tc, sc)
            for sc, tc in re.findall(
                r"\bs\.`?(\w+)`?\s*=\s*t\.`?(\w+)`?", self.condition
            )
        ]
        if not pairs:
            return {}
        aggs = []
        for tcol, scol in pairs:
            aggs.append(F.min(scol).alias(f"__lo_{tcol}"))
            aggs.append(F.max(scol).alias(f"__hi_{tcol}"))
        source = getattr(self, "_materialized", None)
        if source is None:
            source = self.source
        row = source.agg(*aggs).collect()[0]
        return {
            tcol: (
                _json_safe(row[f"__lo_{tcol}"]),
                _json_safe(row[f"__hi_{tcol}"]),
            )
            for tcol, _ in pairs
        }

    def execute(
        self,
        strategy: str = "auto",
        dv_max_rows: int = 1_000_000,
        retries: int = 0,
    ) -> dict[str, Any]:
        """Run the MERGE. ``strategy``:

        * ``"rewrite"`` — copy-on-write: rewrite every touched file.
        * ``"dv"`` — the modern Delta MERGE
          shape: matched rows hit by an update/delete clause are
          DV-marked in place and only the post-image + inserted rows
          land as new files — cost O(changed rows), never
          O(touched-file bytes); rows in touched files that the MERGE
          did not modify are never rewritten. Falls back to rewrite
          past ``dv_max_rows``.
        * ``"auto"`` — ``dv`` when ``delta.enableDeletionVectors`` is
          set, else rewrite.

        ``retries``: an OCC loser (another writer committed a
        conflicting version between this MERGE's snapshot and its
        commit) raises ``ConcurrentModificationError``; with retries >
        0 the whole MERGE recomputes from a FRESH snapshot — touched
        files, join, clause application — and tries again, which is the
        correct recovery (the stale plan must never be re-committed).
        """
        from .log import ConcurrentModificationError

        last: Exception | None = None
        for _ in range(retries + 1):
            try:
                return self._execute_once(strategy, dv_max_rows)
            except ConcurrentModificationError as e:
                last = e
                for attr in ("_persisted", "_materialized"):
                    stale = getattr(self, attr, None)
                    if stale is not None:
                        stale.unpersist()
                        setattr(self, attr, None)
        assert last is not None
        raise last

    def _merge_insert_only(
        self, work_schema: StructType, tgt_cols: list[str], snap: int | None
    ) -> dict[str, Any]:
        """MERGE against a zero-file target snapshot: evaluate the NOT
        MATCHED clauses straight over the source (clause nesting
        identical to the join path's, with ``s_only`` identically true)
        and commit the inserts. One write job instead of the general
        path's materialize + bounds + probe + join; the insert count is
        the writer's row count (every surviving row is written exactly
        once), so no metric pass runs at all."""
        t = self.table
        metrics = {
            "numTargetRowsUpdated": 0,
            "numTargetRowsDeleted": 0,
            "numTargetRowsInserted": 0,
            "numOutputRows": 0,
            "numRemovedFiles": 0,
            "numAddedFiles": 0,
        }
        adds_all: list[dict[str, Any]] = []
        if self._not_matched:
            src = self.source.alias("s")
            src_cols = set(self.source.columns)
            insert_pred = F.lit(False)
            insert_exprs: dict[str, Column] = {
                c: F.lit(None) for c in tgt_cols
            }
            # first-matching-clause-wins (Delta semantics): each clause
            # only fires on rows no earlier clause claimed — same
            # ``remaining`` masking the MATCHED clauses use. Null-safe:
            # a NULL condition means "not satisfied", so it must neither
            # fire this clause nor poison the mask for later ones
            remaining_ins = F.lit(True)
            for ccond, values in self._not_matched:
                cond = (
                    F.expr(ccond).eqNullSafe(F.lit(True))
                    if ccond is not None
                    else F.lit(True)
                )
                this = remaining_ins & cond
                insert_pred = insert_pred | this
                for c in tgt_cols:
                    if values is not None:
                        expr = (
                            F.expr(values[c]) if c in values else F.lit(None)
                        )
                    else:
                        expr = F.col(f"s.{c}") if c in src_cols else F.lit(None)
                    insert_exprs[c] = F.when(this, expr).otherwise(
                        insert_exprs[c]
                    )
                remaining_ins = remaining_ins & ~cond
            out = src.filter(insert_pred).select(
                *[
                    insert_exprs[c].cast(work_schema[c].dataType).alias(c)
                    for c in tgt_cols
                ]
            )
            has_checks = bool(
                _collect_constraint_checks(
                    t._log.table_properties(t.root), work_schema
                )
            )
            if has_checks:
                t._enforce_constraints(t._apply_generated(out), work_schema)
            adds_all, n_rows = _write_files(
                t._prep_write(out, schema=work_schema, enforce=False),
                t.root,
                partition_columns=t._write_partition_columns(),
            )
            metrics["numTargetRowsInserted"] = n_rows
            metrics["numOutputRows"] = n_rows
            metrics["numAddedFiles"] = len(adds_all)
        new_cols = {
            f.name
            for f in work_schema.fields
            if f.name not in {g.name for g in t.schema.fields}
        }
        hwm_json = t._identity_hwm_schema(adds_all, schema=work_schema)
        schema_json = hwm_json or (
            work_schema.json() if new_cols else t._log.schema_at(t.root)
        )
        t._commit_cleanup(
            adds_all,
            t.root, "MERGE", adds_all, [],
            schema_json,
            parameters={"predicate": self.condition},
            metrics=metrics,
            expected_version=snap,
            schema_authoritative=hwm_json is not None or bool(new_cols),
        )
        return metrics

    def _execute_once(
        self, strategy: str, dv_max_rows: int
    ) -> dict[str, Any]:
        t = self.table
        # identity columns: MERGE inserts must carry explicit values
        # (this path has no generation step — refusing loudly beats
        # silently inserting NULL ids); updates may never touch them —
        # including UPDATE SET *, which preserves the TARGET's identity
        # value instead of copying the source's (identity is immutable)
        start_schema = t.schema  # one snapshot for guard + watermark
        evolve = self._schema_evolution or str(
            t.spark.conf.get(
                "spark.databricks.delta.schema.autoMerge.enabled", "false"
            )
        ).lower() in ("true", "1")
        work_schema = start_schema
        new_cols: set[str] = set()
        if evolve:
            existing = {f.name.lower() for f in start_schema.fields}
            extra = [
                StructField(f.name, f.dataType, True)
                for f in self.source.schema.fields
                if f.name.lower() not in existing
            ]
            if extra:
                if _physical_read_schema(start_schema) is not None:
                    raise NotImplementedError(
                        "MERGE WITH SCHEMA EVOLUTION on a column-mapped "
                        "table: evolve the schema with ALTER TABLE ADD "
                        "COLUMNS first"
                    )
                work_schema = StructType(
                    list(start_schema.fields) + extra
                )
                new_cols = {f.name for f in extra}
        idf = _identity_fields(start_schema)
        id_names: set[str] = set()
        if idf:
            id_names = {f.name for f in idf}
            for _, values in self._not_matched:
                supplied = (
                    set(self.source.columns) if values is None else set(values)
                )
                missing = id_names - supplied
                if missing:
                    raise ValueError(
                        f"MERGE INSERT must supply identity column(s) "
                        f"{sorted(missing)} explicitly (generation runs "
                        "on the append path); or insert via append()"
                    )
            for kind, _, cset in self._matched + self._by_source:
                if kind == "update" and cset and id_names & cset.keys():
                    raise ValueError(
                        "cannot UPDATE identity column(s) "
                        f"{sorted(id_names & cset.keys())}"
                    )
        if strategy not in ("auto", "dv", "rewrite"):
            raise ValueError(f"unknown MERGE strategy: {strategy!r}")
        snap = t._log.latest_version(t.root)
        if strategy == "auto":
            strategy = "dv" if t._dv_enabled() else "rewrite"
        dv_mode = strategy == "dv"
        tgt_cols = [f.name for f in work_schema.fields]
        files = t._files()
        cond = F.expr(self.condition)

        # EMPTY-TARGET fast path (guide §1.1: don't run work whose
        # outcome is provable from metadata). A MERGE whose target
        # snapshot has zero data files can match nothing: every matched
        # clause is a no-op and, absent BY SOURCE clauses, the whole
        # statement reduces to the NOT MATCHED inserts — evaluated
        # directly over the source with no materialization, no
        # key-bounds aggregate, no touched-file probe, and no
        # full-outer join against a provably empty side (the bootstrap
        # micro-batch of every foreachBatch-MERGE stream takes this
        # path). Its commit only adds files, which a CDF reader serves
        # as inserts. Guarded to the clean rewrite shape: DV mode and
        # (invalid per the MERGE spec, but analyzable on the join path)
        # ``t.``-references inside NOT MATCHED clauses fall through to
        # the general plan.
        if (
            not files
            and not dv_mode
            and not self._by_source
            and not any(
                (c is not None and re.search(r"\bt\s*\.", c))
                or any(
                    re.search(r"\bt\s*\.", v) for v in (vals or {}).values()
                )
                for c, vals in self._not_matched
            )
        ):
            return self._merge_insert_only(work_schema, tgt_cols, snap)

        # The source feeds THREE separate jobs (key-bounds agg, touched-
        # file semi-join, full-outer join) — materialize it once instead
        # of recomputing the source plan per consumer. MEMORY_AND_DISK
        # (the persist default) spills rather than evicts, so at scale
        # this costs one write of the source vs two recomputes; it also
        # pins a consistent source snapshot across the probe and the
        # join (the same reason Delta's MERGE materializes its source).
        material = self.source.persist()
        self._materialized = material
        src = material.withColumn("__se", F.lit(1)).alias("s")

        # 1. touched files: stats-prune by source key range first (an
        # equality MERGE whose source keys span a narrow range never
        # probes files outside that range), then the exact semi-join.
        # BY SOURCE clauses can modify rows in ANY file (non-matching
        # rows live everywhere), so they take the whole scope.
        if self._by_source:
            touched = list(files)
        else:
            # Stats-pruning by source key range costs one aggregate
            # over the source (2 AQE jobs). It exists to shrink the
            # candidate set the exact semi-join probe has to READ — on
            # a snapshot of only a handful of files the probe is
            # already as cheap as the aggregate, and `touched` is
            # exact either way (the probe decides membership), so the
            # bounds pass is pure overhead there. The crossover is a
            # file-count constant, not a cluster-size tunable: any
            # table past _MERGE_PRUNE_MIN_FILES (e.g. every 100 TB
            # table) takes the pruned path unchanged.
            if len(files) > _MERGE_PRUNE_MIN_FILES:
                files = _prune_by_stats(files, self._source_key_bounds())
            touched = []
        if files and not self._by_source:
            with_file = (
                t._read_files(files, with_row_index=True)
                .drop("__pos")
                .alias("t")
            )
            hit = {
                r[0]
                for r in with_file.join(src, cond, "left_semi")
                .select("__file")
                .distinct()
                .collect()
            }
            touched = _hit_files(t.root, files, hit)

        tgt = (
            t._read_files(touched, with_row_index=dv_mode)
            .withColumn("__te", F.lit(1))
            .alias("t")
        )
        joined = tgt.join(src, cond, "full_outer")
        is_match = F.col("__te").isNotNull() & F.col("__se").isNotNull()
        t_only = F.col("__te").isNotNull() & F.col("__se").isNull()
        s_only = F.col("__te").isNull() & F.col("__se").isNotNull()

        # 2. matched-side output (and delete handling)
        def clause_cond(c: str | None) -> Column:
            # null-safe: a clause condition evaluating to SQL NULL means
            # "not satisfied" (Delta semantics), NOT unknown — without
            # eqNullSafe a NULL would poison the first-clause-wins
            # `remaining` mask (True & ~NULL = NULL) and silently
            # withhold the row from every later clause
            if c is None:
                return F.lit(True)
            return F.expr(c).eqNullSafe(F.lit(True))

        delete_pred = F.lit(False)
        update_hit = F.lit(False)
        remaining = F.lit(True)
        matched_exprs: dict[str, Column] = {
            # evolution: a NEW column has no target side — existing
            # rows carry NULL until a clause assigns it
            c: F.lit(None).cast(work_schema[c].dataType)
            if c in new_cols
            else F.col(f"t.{c}")
            for c in tgt_cols
        }
        for kind, ccond, cset in self._matched:
            this = remaining & clause_cond(ccond)
            if kind == "delete":
                delete_pred = delete_pred | (is_match & this)
            else:
                update_hit = update_hit | (is_match & this)
                for c in tgt_cols:
                    if c in id_names:
                        continue  # identity is immutable: UPDATE SET *
                        # keeps the target's value, never the source's
                    if kind == "update_all":
                        expr = F.col(f"s.{c}")
                    elif cset is not None and c in cset:
                        expr = F.expr(cset[c])
                    elif c in new_cols:
                        # evolved column untouched by this SET clause:
                        # there is no t-side to keep — stays NULL
                        expr = F.lit(None).cast(work_schema[c].dataType)
                    else:
                        expr = F.col(f"t.{c}")
                    matched_exprs[c] = F.when(
                        is_match & this, expr
                    ).otherwise(matched_exprs[c])
            remaining = remaining & ~clause_cond(ccond)

        # 2b. NOT MATCHED BY SOURCE clauses gate on target-only rows
        # (conditions/sets reference t.* only — s.* is all-null there)
        remaining_bs = F.lit(True)
        for kind, ccond, cset in self._by_source:
            this = remaining_bs & clause_cond(ccond)
            if kind == "delete":
                delete_pred = delete_pred | (t_only & this)
            else:
                update_hit = update_hit | (t_only & this)
                for c in tgt_cols:
                    if cset and c in cset:
                        matched_exprs[c] = F.when(
                            t_only & this, F.expr(cset[c])
                        ).otherwise(matched_exprs[c])
            remaining_bs = remaining_bs & ~clause_cond(ccond)

        # 3. insert-side output
        insert_pred = F.lit(False)
        insert_exprs: dict[str, Column] = {c: F.lit(None) for c in tgt_cols}
        src_cols = set(self.source.columns)
        # first-matching-clause-wins (Delta semantics), same ``remaining``
        # masking as the MATCHED clauses above
        remaining_ins = F.lit(True)
        for ccond, values in self._not_matched:
            this = s_only & remaining_ins & clause_cond(ccond)
            insert_pred = insert_pred | this
            for c in tgt_cols:
                if values is not None:
                    expr = F.expr(values[c]) if c in values else F.lit(None)
                else:
                    expr = F.col(f"s.{c}") if c in src_cols else F.lit(None)
                insert_exprs[c] = F.when(this, expr).otherwise(insert_exprs[c])
            remaining_ins = remaining_ins & ~clause_cond(ccond)

        out_select = [
            F.when(s_only, insert_exprs[c])
            .otherwise(matched_exprs[c])
            .cast(work_schema[c].dataType)
            .alias(c)
            for c in tgt_cols
        ]

        # update_hit/delete_pred are already gated on their row
        # class (is_match or t_only), so no extra mask is needed
        modified_pred = update_hit | delete_pred
        cdf_on = t._cdf_enabled()
        has_checks = bool(
            _collect_constraint_checks(
                t._log.table_properties(t.root), work_schema
            )
        )
        # persist only when something actually re-reads the join output:
        # the DV branch (position collect + post-image write), CDF
        # staging (4 change frames), or a constraint pre-check. The
        # plain rewrite MERGE consumes the join exactly once — in the
        # output write — so caching it would be pure overhead.
        metric_aggs = (
            F.sum(
                F.when(update_hit & ~delete_pred, 1).otherwise(0)
            ).alias("u"),
            F.sum(F.when(delete_pred, 1).otherwise(0)).alias("d"),
            F.sum(F.when(s_only & insert_pred, 1).otherwise(0)).alias("i"),
        )
        if dv_mode or cdf_on or has_checks:
            joined = joined.persist()
            # remembered so a lost OCC race (exception before the tail
            # unpersist) can release the cache before the retry recomputes
            self._persisted = joined
        obs = None
        if dv_mode:
            # the DV-vs-rewrite gate needs the counts BEFORE any write
            counts = joined.agg(*metric_aggs).collect()[0]
            n_updated = counts["u"] or 0
            n_deleted = counts["d"] or 0
            n_inserted = counts["i"] or 0
        else:
            # rewrite mode: the counts ride the output write as an
            # Observation instead of paying a separate full pass over
            # the join (guide §1: fold metric passes into the action)
            from pyspark.sql import Observation

            obs = Observation()
            joined_out = joined.observe(obs, *metric_aggs)

        if dv_mode and n_updated + n_deleted <= dv_max_rows:
            # DV shape: mark the modified positions in place, append
            # only post-image + inserted rows — unmodified rows in
            # touched files are never read back or rewritten
            pdf = (
                joined.filter(modified_pred)
                .select(
                    F.col("t.__file").alias("__file"),
                    F.col("t.__pos").alias("__pos"),
                )
                .toPandas()
            )
            new_adds, removes, n_fully_dead, staged_dv = t._dv_mark(
                touched, pdf
            )
            out_new = joined.filter(
                (update_hit & ~delete_pred)
                | (s_only & insert_pred)
            ).select(*out_select)
            adds_new, n_rows = _write_files(
                t._prep_write(out_new, schema=work_schema),
                t.root,
                partition_columns=t._write_partition_columns(),
            )
            adds_all = new_adds + adds_new
            # DV re-adds reference EXISTING files; the cleanup set is
            # the rewritten outputs plus the fresh DV sidecars
            fresh_adds = adds_new + staged_dv
            removes_all = removes
            metrics = {
                "numTargetRowsUpdated": n_updated,
                "numTargetRowsDeleted": n_deleted,
                "numTargetRowsInserted": n_inserted,
                "numOutputRows": n_rows,
                "numDeletionVectorsAdded": len(new_adds),
                "numRemovedFiles": n_fully_dead,
                "numAddedFiles": len(adds_new),
                "strategy": "dv",
            }
        else:
            keep = (
                (t_only | is_match) & ~delete_pred
            ) | (s_only & insert_pred)
            out = (joined if obs is None else joined_out).filter(
                keep
            ).select(*out_select)
            if has_checks:
                # constraints re-judge only the CHANGED subset; `out`
                # also carries untouched pre-existing rows. Gated: with
                # no checks defined this agg would still launch a job.
                t._enforce_constraints(
                    t._apply_generated(
                        joined.filter(
                            (update_hit & ~delete_pred)
                            | (s_only & insert_pred)
                        ).select(*out_select)
                    ),
                    work_schema,
                )
            adds_all, n_rows = _write_files(
                t._prep_write(out, schema=work_schema, enforce=False),
                t.root,
                partition_columns=t._write_partition_columns(),
            )
            if obs is not None:
                try:
                    row = obs.get
                except Exception:  # noqa: BLE001
                    # a degenerate plan can prune the CollectMetrics
                    # node (see _delete_once) — recount explicitly
                    row = joined.agg(*metric_aggs).collect()[0]
                n_updated = row["u"] or 0
                n_deleted = row["d"] or 0
                n_inserted = row["i"] or 0
            fresh_adds = list(adds_all)
            removes_all = [e["path"] for e in touched]
            metrics = {
                "numTargetRowsUpdated": n_updated,
                "numTargetRowsDeleted": n_deleted,
                "numTargetRowsInserted": n_inserted,
                "numOutputRows": n_rows,
                "numRemovedFiles": len(touched),
                "numAddedFiles": len(adds_all),
            }
        cdc: list[dict[str, Any]] = []
        if cdf_on:
            upd = update_hit & ~delete_pred
            # pre-images under the evolved schema: a NEW column read
            # NULL before this MERGE by definition
            t_side = [
                (
                    F.lit(None).cast(work_schema[c].dataType)
                    if c in new_cols
                    else F.col(f"t.{c}")
                ).alias(c)
                for c in tgt_cols
            ]
            pre = joined.filter(upd).select(*t_side)
            post = t._apply_generated(
                joined.filter(upd).select(
                    *[matched_exprs[c].cast(work_schema[c].dataType).alias(c) for c in tgt_cols]
                )
            )
            dele = joined.filter(delete_pred).select(*t_side)
            ins = t._apply_generated(
                joined.filter(s_only & insert_pred).select(
                    *[insert_exprs[c].cast(work_schema[c].dataType).alias(c) for c in tgt_cols]
                )
            )
            # a MERGE commit with cdc actions serves CDF exclusively
            # from them, so the insert rows must be included too
            cdc = t._stage_cdc(
                [
                    ("update_preimage", pre),
                    ("update_postimage", post),
                    ("delete", dele),
                    ("insert", ins),
                ]
            )
        # explicit identity inserts must advance the highWaterMark so
        # later appends generate past them (computed against the
        # snapshot schema — see append()'s stale-watermark note)
        hwm_json = t._identity_hwm_schema(adds_all, schema=work_schema)
        schema_json = hwm_json or (
            work_schema.json() if new_cols else t._log.schema_at(t.root)
        )
        # a failed commit must not orphan the freshly written outputs —
        # rewritten/new data files, fresh DV sidecars, staged cdc. DV
        # re-adds point at EXISTING files and are never removed.
        t._commit_cleanup(
            fresh_adds + cdc,
            t.root, "MERGE", adds_all, removes_all,
            schema_json,
            parameters={"predicate": self.condition},
            metrics=metrics,
            expected_version=snap,
            schema_authoritative=hwm_json is not None or bool(new_cols),
            **({"cdc": cdc} if cdc else {}),
        )
        if self._persisted is not None:
            joined.unpersist()
            self._persisted = None
        material.unpersist()
        self._materialized = None
        return metrics

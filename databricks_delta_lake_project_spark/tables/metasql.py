"""SQL metadata statements over registered LakeTables (X9 in SURVEY
§2.11): ``SHOW CATALOGS / SCHEMAS / TABLES / TBLPROPERTIES / CREATE
TABLE``, ``DESCRIBE [EXTENDED | DETAIL]``, ``ANALYZE TABLE`` and
``CACHE/UNCACHE TABLE`` — the discovery-and-governance verbs the
reference runs as plain SQL (``src/databricks_connect/
remote_development.py:210-236`` SHOW CATALOGS/SCHEMAS/TABLES +
DESCRIBE EXTENDED, ``src/utils/performance_optimization.py:195-234``
ANALYZE TABLE / CACHE TABLE / DESCRIBE DETAIL,
``src/utils/common_functions.py:50-60`` DESCRIBE DETAIL sizeInBytes,
``governance/unity_catalog_setup.py:80-124`` properties surface).

Dispatch contract: :func:`run_metadata` returns a DataFrame when the
statement is a metadata verb it owns, ``None`` otherwise — the caller
(``queries/sqlpack.run_statement``) falls through to ``spark.sql`` so
the same verbs over ordinary catalog/temp-view names keep Spark's
native behavior. Column names mirror the Spark/Databricks output
shapes (``namespace/tableName/isTemporary``, ``col_name/data_type/
comment``, ``key/value``, ``createtab_stmt``, Delta's DESCRIBE DETAIL
row) so scripts written against the reference parse unchanged.

Scale notes: every listing is O(registry) driver-side metadata — no
data is read. ANALYZE is the one scanning verb: table-level stats come
from the commit log's file sizes (no scan), and ``FOR COLUMNS`` runs
ONE distributed aggregate job computing min/max/null-count/NDV
(``approx_count_distinct`` — HyperLogLog, exact enough for the CBO and
O(1) memory per column) for all requested columns at once, never a
per-column pass. Results are committed as ``engine.stats.*`` table
properties so later sessions (and DESCRIBE EXTENDED) see them.
"""

from __future__ import annotations

import json
import re
from typing import Any, TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_key
from . import sqldml

if TYPE_CHECKING:  # pragma: no cover
    from .table import LakeTable

__all__ = ["run_metadata"]


def _registered(spark: SparkSession) -> dict[str, "LakeTable"]:
    sid = session_key(spark)
    return {n: t for (s, n), t in sqldml._REGISTRY.items() if s == sid}


def _enforce(spark: SparkSession, privilege: str, name: str) -> None:
    """Opt-in ACL gate for metadata verbs (read verbs require SELECT,
    ANALYZE commits so it requires MODIFY); no-op unless
    spark.engine.accessControl.enabled."""
    from ..governance import access_control as acl

    if acl.enabled(spark):
        acl.enforce(spark, privilege, acl.canonical_name(spark, name))


def _listable(spark: SparkSession, securable: str) -> bool:
    """Listing filter for SHOW verbs: with enforcement on, engine rows
    are revealed only when the principal holds some privilege on the
    securable, an ancestor, or something inside it (UC filters listings
    by privilege). Native catalog/temp-view rows are outside engine
    governance and stay unfiltered."""
    from ..governance import access_control as acl

    return not acl.enabled(spark) or acl.can_list(spark, securable)


def _resolve(spark: SparkSession, name: str) -> "LakeTable | None":
    """A registered LakeTable (or path-addressed table) for ``name``,
    or None — the caller then falls through to spark.sql so catalog
    tables and temp views keep native behavior."""
    try:
        return sqldml.resolve_table(spark, name)
    except ValueError:
        return None


_TREF = r"(`[^`]+`|[\w.]+)"


def _schema_rows(t: "LakeTable") -> list[tuple[str, str, str | None]]:
    return [
        (
            f.name,
            f.dataType.simpleString(),
            f.metadata.get("comment") if f.metadata else None,
        )
        for f in t.schema.fields
    ]


def _created_last_modified(t: "LakeTable") -> tuple[int | None, int | None]:
    log = list(t._log.read_log(t.root))
    if not log:
        return None, None
    ts = [c.get("timestamp_ms") for c in log]
    return ts[0], ts[-1]


def _show_create_stmt(name: str, t: "LakeTable") -> str:
    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString().upper()}"
        for f in t.schema.fields
    )
    parts = [f"CREATE TABLE {name} (\n  {cols})"]
    parts.append("USING DELTA")
    props = dict(t.properties())
    pcols = t._write_partition_columns() or []
    if pcols:
        parts.append("PARTITIONED BY (" + ", ".join(pcols) + ")")
    ccols = [c for c in props.pop("engine.clusterBy", "").split(",") if c]
    if ccols:
        parts.append("CLUSTER BY (" + ", ".join(ccols) + ")")
    parts.append(f"LOCATION '{t.root}'")
    if props:
        kv = ",\n  ".join(
            f"'{k}' = '{v}'" for k, v in sorted(props.items())
        )
        parts.append(f"TBLPROPERTIES (\n  {kv})")
    return "\n".join(parts)


def _describe(spark: SparkSession, t: "LakeTable", extended: bool) -> DataFrame:
    rows: list[tuple[str | None, str | None, str | None]] = _schema_rows(t)
    pcols = t._write_partition_columns() or []
    if pcols:
        rows.append(("# Partition Information", "", ""))
        rows.append(("# col_name", "data_type", "comment"))
        by_name = {r[0]: r for r in _schema_rows(t)}
        rows.extend(by_name[c] for c in pcols if c in by_name)
    if extended:
        created, modified = _created_last_modified(t)
        props = t.properties()
        rows.append(("", "", ""))
        rows.append(("# Detailed Table Information", "", ""))
        rows.append(("Location", t.root, ""))
        rows.append(("Provider", "delta", ""))
        rows.append(("Table Version", str(t.version()), ""))
        if created is not None:
            rows.append(("Created At (ms)", str(created), ""))
            rows.append(("Last Modified (ms)", str(modified), ""))
        if props.get("comment"):
            rows.append(("Comment", str(props["comment"]), ""))
        cons = t.constraints()
        if cons:
            rows.append(("# Constraints", "", ""))
            rows.extend((n, e, "") for n, e in sorted(cons.items()))
        ccols = str(props.get("engine.clusterBy", ""))
        if ccols:
            rows.append(("Clustering Columns", f"[{ccols}]", ""))
        if props:
            kv = ", ".join(f"{k}={v}" for k, v in sorted(props.items()))
            rows.append(("Table Properties", f"[{kv}]", ""))
    return spark.createDataFrame(
        rows, "col_name string, data_type string, comment string"
    )


def _describe_detail(spark: SparkSession, t: "LakeTable") -> DataFrame:
    """Delta's one-row DESCRIBE DETAIL shape
    (``common_functions.py:54-60`` reads ``sizeInBytes`` from it)."""
    files = t._files()
    created, modified = _created_last_modified(t)
    props = {str(k): str(v) for k, v in t.properties().items()}
    ccols = [c for c in props.get("engine.clusterBy", "").split(",") if c]
    row = {
        "format": "delta",
        "name": t.root.rstrip("/").rsplit("/", 1)[-1],
        "location": t.root,
        "createdAt": created,
        "lastModified": modified,
        "partitionColumns": t._write_partition_columns() or [],
        "clusteringColumns": ccols,
        "numFiles": len(files),
        "sizeInBytes": sum(
            int(e.get("bytes") or e.get("size") or 0) for e in files
        ),
        "properties": props,
    }
    return spark.createDataFrame(
        [row],
        "format string, name string, location string, createdAt long, "
        "lastModified long, partitionColumns array<string>, "
        "clusteringColumns array<string>, numFiles long, "
        "sizeInBytes long, properties map<string,string>",
    )


def _analyze(
    spark: SparkSession, t: "LakeTable", columns: list[str] | None
) -> DataFrame:
    """Table stats from the log (no scan); column stats from ONE
    aggregate job. Persisted as ``engine.stats.*`` properties in an
    ANALYZE commit so the next session's planner can read them."""
    snap = t._log.latest_version(t.root)
    files = t._files()
    stats: dict[str, Any] = {
        "engine.stats.numFiles": str(len(files)),
        "engine.stats.sizeInBytes": str(
            sum(int(e.get("bytes") or e.get("size") or 0) for e in files)
        ),
    }
    df = t.to_df()
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns or []:
        if c not in df.columns:
            raise ValueError(f"ANALYZE: no such column {c!r}")
        aggs += [
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.approx_count_distinct(c).alias(f"{c}__ndv"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    stats["engine.stats.rowCount"] = str(row.pop("__rows"))
    for c in columns or []:
        col_stats = {
            "min": row[f"{c}__min"],
            "max": row[f"{c}__max"],
            "nullCount": row[f"{c}__nulls"],
            "distinctCount": row[f"{c}__ndv"],
        }
        stats[f"engine.stats.col.{c}"] = json.dumps(
            col_stats, default=str, sort_keys=True
        )
    merged = {**t.properties(), **stats}
    # expected_version: the stats job takes seconds — a rival property
    # change landing meanwhile must conflict (retryable), not be
    # silently reverted by this commit's full property snapshot
    t._log.commit(
        t.root,
        "ANALYZE",
        [],
        [],
        t._log.schema_at(t.root),
        parameters={"columns": columns or []},
        properties=merged,
        expected_version=snap,
    )
    out = sorted(stats.items())
    return spark.createDataFrame(out, "key string, value string")


def _native_rows(
    spark: SparkSession, sql: str, cols: tuple[str, ...]
) -> list[tuple]:
    """Rows (as tuples of ``cols``) from Spark's own metadata
    statement, so engine listings MERGE with (never replace) native
    temp views / catalog tables. An unknown-namespace error (the
    namespace only exists in the engine registry) or a vendored Spark
    with different output column names degrades to [] — the verb then
    serves the engine-only listing."""
    try:
        return [
            tuple(r[c] for c in cols) for r in spark.sql(sql).collect()
        ]
    except Exception:  # noqa: BLE001
        return []


# session -> (kind, name) -> {"comment": ..., "location": ...} for
# namespaces declared via CREATE CATALOG / CREATE SCHEMA (reference
# governance/unity_catalog_setup.py:33-53 runs these as plain SQL; OSS
# Spark has no CREATE CATALOG and no multi-part CREATE SCHEMA, so the
# engine records them as driver-side metadata — its namespace is
# otherwise implicit in registered table names)
_NAMESPACES: dict[str, dict[tuple[str, str], dict[str, str | None]]] = {}


def declared_namespaces(spark: SparkSession, kind: str) -> dict[str, dict]:
    from ..governance import catalog_registry

    catalog_registry.ensure_loaded(spark)
    reg = _NAMESPACES.get(session_key(spark), {})
    return {n: dict(m) for (k, n), m in reg.items() if k == kind}


# managed-volume storage root (each volume c.s.v maps to
# <root>/c/s/v); EXTERNAL volumes carry their own LOCATION
VOLUMES_ROOT_CONF = "spark.engine.volumes.root"


def _volume_location(spark: SparkSession, clean: str, meta: dict) -> str:
    """Path a declared volume resolves to — PURE (no filesystem
    writes: DROP VOLUME must not fabricate the directory tree it is
    about to remove)."""
    import os
    import tempfile

    loc = meta.get("location")
    if not loc:
        try:
            root = spark.conf.get(VOLUMES_ROOT_CONF)
        except Exception:  # noqa: BLE001
            root = None
        root = root or os.path.join(
            tempfile.gettempdir(), "engine_volumes"
        )
        loc = os.path.join(root, *clean.split("."))
    return loc


def _backing_path(spark: SparkSession, clean: str, meta: dict) -> str:
    """Directory backing a declared volume (created on demand for
    local paths; URI-style EXTERNAL locations pass through untouched).
    No ACL check — callers gate (volume_path for use, CREATE VOLUME
    after its own creation check)."""
    import os

    loc = _volume_location(spark, clean, meta)
    if "://" not in loc:
        # a URI location (s3://...) belongs to a remote filesystem —
        # os.makedirs would fabricate a bogus local 's3:' directory
        os.makedirs(loc, exist_ok=True)
    return loc


def volume_path(spark: SparkSession, name: str, intent: str = "read") -> str:
    """Directory backing a declared volume. With ACL enforcement on,
    using a volume requires SELECT (``intent='read'`` — UC READ VOLUME)
    or BOTH MODIFY and SELECT (``intent='write'`` — UC WRITE VOLUME,
    which Databricks only grants alongside READ VOLUME) on the volume
    securable, or admin/ALL PRIVILEGES — path access is a data
    read/write boundary like every table verb, a read-only grant must
    not open the write path, and a write-only grant must not quietly
    read back volume contents (checkpoint dirs and schema registries
    are read-modify-write)."""
    from ..governance import access_control as acl, catalog_registry

    if intent not in ("read", "write"):
        raise ValueError(f"volume intent must be read|write, got {intent!r}")
    clean = name.strip("`").lower()
    catalog_registry.ensure_loaded(spark)
    reg = _NAMESPACES.get(session_key(spark), {})
    meta = reg.get(("volume", clean))
    if meta is None:
        # with enforcement on, only reveal volumes the principal could
        # list anyway — the error must not leak the catalog inventory
        declared = sorted(
            n
            for (k, n) in reg
            if k == "volume" and _listable(spark, n)
        )
        raise ValueError(
            f"no such volume {name!r}; declared volumes: {declared} "
            "(CREATE VOLUME first)"
        )
    if acl.enabled(spark) and not acl.can_manage(spark, clean):
        acl.enforce(spark, "SELECT", clean)
        if intent == "write":
            acl.enforce(spark, "MODIFY", clean)
    return _backing_path(spark, clean, meta)


def resolve_volume_path(
    spark: SparkSession, path: str, intent: str = "read"
) -> str:
    """Translate a UC-style ``/Volumes/<catalog>/<schema>/<volume>/…``
    path (the convention every reference ingestion job uses, e.g.
    ``src/bronze/ingest_transactions.py:21``) to the declared volume's
    backing directory; non-volume paths pass through unchanged.
    Undeclared volumes refuse loudly, like UC. ``intent`` gates like
    :func:`volume_path` (read -> SELECT, write -> MODIFY)."""
    if not path.startswith("/Volumes/"):
        return path
    bits = path[len("/Volumes/"):].split("/")
    if len(bits) < 3:
        raise ValueError(
            f"volume path {path!r} needs /Volumes/<catalog>/<schema>/"
            "<volume>[/...]"
        )
    base = volume_path(spark, ".".join(bits[:3]), intent=intent)
    rest = "/".join(bits[3:])
    return f"{base}/{rest}" if rest else base


# dotted name with optional whole-name or per-part backticks
_NSNAME = r"(?:`[^`]+`|\w+)(?:\s*\.\s*(?:`[^`]+`|\w+))*"
# COMMENT/LOCATION string literal, single- or double-quoted
_NSLIT = "(?:'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\")"


def _clean_ns_name(raw: str) -> str:
    """```c`.`s`.`v``` / ``c.s.v`` /
    ```c.s.v``` -> ``c.s.v`` (lowered)."""
    parts = re.findall(r"`([^`]+)`|(\w+)", raw)
    return ".".join((a or b) for a, b in parts).lower()


def _unquote(lit: str | None) -> str | None:
    if lit is None:
        return None
    q = lit[0]
    return lit[1:-1].replace(q + q, q)


def _upsert_namespace(
    spark: SparkSession,
    kind: str,
    name: str,
    ine: bool,
    comment: str | None,
    location: str | None,
) -> bool:
    """Shared registry upsert for CREATE CATALOG/SCHEMA/VOLUME: returns
    False when the entry already existed and IF NOT EXISTS applied (the
    existing metadata is left UNTOUCHED — a re-run must not silently
    re-point a volume's location), raises without the clause."""
    reg = _NAMESPACES.setdefault(session_key(spark), {})
    key = (kind, name)
    if key in reg:
        if ine:
            return False
        raise ValueError(f"{kind} already exists: {name}")
    meta: dict[str, str | None] = {}
    if comment:
        meta["comment"] = comment
    if location:
        meta["location"] = location
    reg[key] = meta
    from ..governance import catalog_registry

    catalog_registry.record(spark, kind, name, meta)
    return True


_CREATE_VIEW_RE = re.compile(
    r"CREATE\s+(?P<repl>OR\s+REPLACE\s+)?VIEW\s+"
    r"(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    r"(?P<name>`[^`]+`|[\w.]+)\s*"
    r"(?:\((?P<cols>[^()]*)\)\s*)?"
    r"(?:COMMENT\s+'(?P<comment>[^']*)'\s*)?"
    r"AS\s+(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _run_create_view(spark: SparkSession, text: str) -> DataFrame | None:
    """``CREATE [OR REPLACE] VIEW [IF NOT EXISTS] name [(cols)]
    [COMMENT '...'] AS select`` — persistent, ACL-gated views (UC
    views; the reference drives everything through tables, so this is
    beyond-reference surface). ``CREATE TEMPORARY VIEW`` falls through
    to Spark's native handling (None).

    Definition-time semantics mirror UC's owner's-rights model: the
    CREATOR needs SELECT on every table the body reads (checked here,
    once), and later queries need SELECT on the VIEW only — the view
    is the securable. The definition is re-analyzed per statement
    (``sync_views``), so it always reads the underlying tables'
    current snapshot, and it persists through the durable catalog
    registry like SQL functions do. Body table references use the
    same suffix-name resolution every engine statement uses."""
    from ..governance import access_control as acl, catalog_registry
    from ..queries import sqlpack

    m = _CREATE_VIEW_RE.match(text)
    if m is None:
        return None
    sid = session_key(spark)
    clean = m.group("name").strip("`").lower()
    parts = clean.split(".")
    base = parts[-1]
    # engine views are UC-style 3-part names outside real Spark
    # catalogs — same routing rule as DROP TABLE / namespace DDL. A
    # SHORT-named view still lands in the engine when its body reads
    # engine objects: their temp-view bindings are invisible to a
    # native permanent view (INVALID_TEMP_OBJ_REFERENCE), so native
    # routing could never succeed for it; a short view over native
    # tables stays native.
    if parts[0] in _native_catalogs(spark):
        return None
    if len(parts) != 3:
        from ..governance import access_control as _acl

        if not _acl.referenced_tables(spark, m.group("body")):
            return None
    if not re.fullmatch(r"\w+", base):
        raise ValueError(f"invalid view name: {m.group('name')!r}")
    # the definition is STORED normalized: validation analyzes the
    # same dialect-neutral text every later sync re-analyzes, so a
    # body using DATEADD / IS_ACCOUNT_GROUP_MEMBER cannot validate at
    # CREATE and then fail on every statement after
    body = sqlpack.normalize_sql(m.group("body").strip().rstrip(";"))
    cols = (
        [c.strip().strip("`") for c in m.group("cols").split(",")]
        if m.group("cols")
        else None
    )
    # ACL FIRST — before any existence/collision answer (the repo's
    # no-existence-oracle convention: an unprivileged principal gets
    # the same PermissionError whether or not the view exists)
    if acl.enabled(spark):
        # a view BODY resolves names at sync time, outside the
        # per-statement guard — the same fail-closed rule applies
        acl.refuse_dynamic_sql(spark, body)
        parent = clean.rpartition(".")[0]
        acl.enforce(spark, "CREATE", parent)
        # owner's rights, checked ONCE at definition: the creator must
        # be able to read everything the body reads; queriers later
        # need SELECT on the view only
        for tbl in acl.referenced_tables(spark, body):
            acl.enforce(spark, "SELECT", tbl)
    # a view must not shadow (or be shadowed by) another resolution
    # name — tables AND views resolve by basename. The colliding name
    # is shown only when the principal may LIST it (the same
    # no-inventory-oracle filter volume_path applies).
    for (s, n) in sqldml._REGISTRY:
        if s == sid and (n == clean or n.split(".")[-1] == base):
            shown = n if _listable(spark, n) else "an existing table"
            raise ValueError(
                f"view name collides with registered table {shown!r}"
            )
    for (s, n) in sqldml._VIEW_DEFS:
        if s == sid and n != clean and n.split(".")[-1] == base:
            shown = n if _listable(spark, n) else "an existing view"
            raise ValueError(f"view name collides with view {shown!r}")
    # a self-referential body (CREATE OR REPLACE VIEW v AS ... FROM v)
    # would analyze against the PREVIOUS definition's already-bound
    # temp view and silently freeze that stale plan — refuse the shape
    # outright (views resolve by basename, so a FROM-position ref
    # sharing this basename can only mean the view). The scan is
    # limited to FROM/USING/JOIN/CLONE READ positions: a COLUMN that
    # merely shares the view's basename (CREATE VIEW revenue AS
    # SELECT revenue FROM t) must create, not refuse.
    body_refs = sqlpack.from_position_refs(body)
    if clean in body_refs or base in {
        r.split(".")[-1] for r in body_refs
    }:
        raise ValueError(
            f"view {clean} references itself in its body — recursive "
            f"or self-replacing views are not supported"
        )
    existing = sqldml._VIEW_DEFS.get((sid, clean))
    if existing is not None and m.group("ine"):
        return spark.createDataFrame(
            [(clean, 0)], "view string, created int"
        )
    if existing is not None and not m.group("repl"):
        raise ValueError(f"view already exists: {clean}")
    if existing is not None and acl.enabled(spark):
        # replacing a view rewrites what every granted reader sees:
        # ownership/manage gate, like DROP (UC requires ownership)
        _require_drop(spark, clean, "CREATE OR REPLACE VIEW")
    # validate the body NOW (and bind the temp view): a definition
    # that cannot analyze must fail its CREATE, not every later
    # statement. Metadata verbs run BEFORE the statement-level group
    # UDF refresh, so a membership-gated body registers the UDF here.
    if "engine_is_group_member" in body.lower():
        sqlpack._ensure_group_udf(spark)
    sqldml.sync_views(spark, body)
    df = spark.sql(body)
    if cols is not None:
        if len(cols) != len(df.columns):
            raise ValueError(
                f"view column list has {len(cols)} names for "
                f"{len(df.columns)} output columns"
            )
        df = df.toDF(*cols)
    df.createOrReplaceTempView(base)
    sqldml._VIEW_DEFS[(sid, clean)] = {
        "sql": body,
        "cols": cols,
        "comment": m.group("comment"),
    }
    # the manual bind above carries no freshness key: drop any stale
    # one (an OR REPLACE's predecessor) so the next sync recomputes
    sqldml._BOUND_VIEWS.pop((sid, clean), None)
    if "engine_is_group_member" in body.lower():
        # the body evaluates group membership (IS_ACCOUNT_GROUP_MEMBER
        # normalizes to the engine UDF): flag the session so every
        # statement re-registers the UDF with the CURRENT groups conf
        # BEFORE the view re-analyzes — the same freshness contract
        # masked tables get
        sqldml._MASKED_SESSIONS.add(sid)
    # table-level lineage: underlying tables/views -> the view entity
    from ..governance import systables

    vnames = {n for (s, n) in sqldml._VIEW_DEFS if s == sid}
    for src in sqlpack._lineage_sources(spark, body):
        if src != clean:
            systables.record_lineage(
                spark, src, clean,
                source_type="VIEW" if src in vnames else "TABLE",
                target_type="VIEW",
            )
    catalog_registry.record(
        spark,
        "view",
        clean,
        {"sql": body, "cols": cols, "comment": m.group("comment")},
    )
    return spark.createDataFrame(
        [(clean, 1)], "view string, created int"
    )


def _run_drop_view(spark: SparkSession, text: str) -> DataFrame | None:
    """``DROP VIEW [IF EXISTS] name`` over a registered persistent
    view; None (fall through to Spark) when the name is not one —
    a user's own TEMP view drops natively."""
    from ..governance import catalog_registry
    from . import sqldml

    m = re.match(
        r"DROP\s+VIEW\s+(?P<ife>IF\s+EXISTS\s+)?"
        r"(?P<name>`[^`]+`|[\w.]+)\s*$",
        text,
        re.IGNORECASE,
    )
    if m is None:
        return None
    ref = m.group("name").strip("`").lower()
    rparts = ref.split(".")
    if len(rparts) == 3 and rparts[0] not in _native_catalogs(spark):
        # engine-shaped name: gate BEFORE the existence answer (the
        # no-existence-oracle convention)
        _require_drop(spark, ref, "DROP VIEW")
    hit = sqldml.view_def(spark, m.group("name"))
    if hit is None:
        return None  # unknown to the engine: native temp-view drop
    full, _meta = hit
    _require_drop(spark, full, "DROP VIEW")
    sqldml._VIEW_DEFS.pop((session_key(spark), full), None)
    sqldml._BOUND_VIEWS.pop((session_key(spark), full), None)
    try:
        spark.catalog.dropTempView(full.split(".")[-1])
    except Exception:  # noqa: BLE001
        pass
    catalog_registry.erase(spark, "view", full)
    return spark.createDataFrame([(full, 1)], "view string, dropped int")


def _run_create_volume(spark: SparkSession, text: str) -> DataFrame | None:
    m = re.match(
        rf"CREATE\s+(?P<ext>EXTERNAL\s+)?VOLUME\s+"
        rf"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>{_NSNAME})"
        rf"(?:\s+COMMENT\s+(?P<comment>{_NSLIT})"
        rf"|\s+LOCATION\s+(?P<loc>{_NSLIT}))*\s*$",
        text,
        re.IGNORECASE,
    )
    if not m:
        return None
    name = _clean_ns_name(m.group("name"))
    if name.count(".") != 2:
        raise ValueError(
            f"CREATE VOLUME needs a 3-part name catalog.schema.volume, "
            f"got {name!r}"
        )
    loc = _unquote(m.group("loc"))
    if m.group("ext") and not loc:
        raise ValueError("CREATE EXTERNAL VOLUME requires LOCATION '...'")
    if loc and not m.group("ext"):
        # UC rejects LOCATION on managed volumes; accepting it would
        # silently diverge from the platform being emulated
        raise ValueError(
            "managed CREATE VOLUME cannot take LOCATION — use "
            "CREATE EXTERNAL VOLUME"
        )
    from ..governance import access_control as acl

    if acl.enabled(spark):
        parent = name.rpartition(".")[0]
        if not acl.can_manage(spark, parent):
            acl.enforce(spark, "CREATE", parent)
    created = _upsert_namespace(
        spark,
        "volume",
        name,
        bool(m.group("ine")),
        _unquote(m.group("comment")),
        loc,
    )
    if created:
        # the result row's path comes from the UNGUARDED resolver: the
        # creation privilege was already checked above, and a principal
        # holding only CREATE on the parent schema must not hit a
        # SELECT denial on the volume it just created (with partial
        # state behind)
        meta = _NAMESPACES[session_key(spark)][("volume", name)]
        path = _backing_path(spark, name, meta)
    else:
        # IF NOT EXISTS hit an existing volume: nothing was created, so
        # the path (possibly another team's external LOCATION) is only
        # revealed through the ACL-gated resolver — a principal holding
        # just CREATE on the parent schema must not learn (or makedirs)
        # an existing volume's location by re-issuing CREATE
        path = volume_path(spark, name, intent="read")
    return spark.createDataFrame(
        [("CREATE VOLUME", name, path)],
        "operation string, name string, path string",
    )


def _run_create_namespace(spark: SparkSession, text: str) -> DataFrame | None:
    m = re.match(
        rf"CREATE\s+(?P<kind>CATALOG|SCHEMA|DATABASE)\s+"
        rf"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>{_NSNAME})"
        rf"(?:\s+COMMENT\s+(?P<comment>{_NSLIT})"
        rf"|\s+MANAGED\s+LOCATION\s+(?P<loc>{_NSLIT}))*\s*$",
        text,
        re.IGNORECASE,
    )
    if not m:
        # includes CREATE CATALOG ... USING SHARE (the D2D mount) —
        # share_sql owns that form and runs before this module
        return None
    kind = (
        "catalog" if m.group("kind").upper() == "CATALOG" else "schema"
    )
    name = _clean_ns_name(m.group("name"))
    if kind == "schema":
        if "." not in name:
            # 1-part CREATE SCHEMA works natively in spark_catalog —
            # keep Spark's behavior (local_testing.py relies on it)
            return None
        # a multi-part name under a REAL Spark catalog (spark_catalog
        # or a configured plugin) is also native territory — the engine
        # registry only backstops catalogs Spark doesn't know
        if name.split(".")[0] in _native_catalogs(spark):
            return None
    from ..governance import access_control as acl

    if acl.enabled(spark):
        if kind == "catalog":
            if not acl.can_manage(spark, name):
                who = sorted(acl.current_principals(spark)) or [
                    "<anonymous>"
                ]
                raise PermissionError(
                    f"principal {who} may not CREATE CATALOG {name!r}: "
                    f"requires {acl.ADMINS_CONF} membership or ALL "
                    "PRIVILEGES"
                )
        else:
            # admins (or ALL PRIVILEGES holders) create schemas too —
            # the unity-catalog-setup sequence is run by the admin that
            # just created the catalog, who may hold no explicit grant
            parent = name.rpartition(".")[0]
            if not acl.can_manage(spark, parent):
                acl.enforce(spark, "CREATE", parent)
    _upsert_namespace(
        spark,
        kind,
        name,
        bool(m.group("ine")),
        _unquote(m.group("comment")),
        _unquote(m.group("loc")),
    )
    return spark.createDataFrame(
        [(f"CREATE {m.group('kind').upper()}", name)],
        "operation string, name string",
    )


def _native_catalogs(spark: SparkSession) -> set[str]:
    """Catalog names REAL Spark knows — anything else in a multi-part
    name is engine territory (declared namespaces, share mounts,
    foreign catalogs)."""
    try:
        return {c.name for c in spark.catalog.listCatalogs()}
    except Exception:  # noqa: BLE001
        return {"spark_catalog"}


def _tagged_under(sid: str, name: str, *, include_self: bool) -> list[str]:
    """Names with NON-EMPTY layer tags at or under ``name`` (UNSET can
    leave empty dicts behind — those are not governed metadata and
    must not count as existence evidence)."""
    from ..governance import systables

    return [
        tn
        for (_lvl, tn), tags in systables._LAYER_TAGS.get(sid, {}).items()
        if tags
        and (tn.startswith(name + ".") or (include_self and tn == name))
    ]


def _require_drop(spark: SparkSession, securable: str, verb: str) -> None:
    """DROP gate (enforcement on only): UC drops require ownership /
    MANAGE — the engine's equivalent is the shared manage gate
    (admin membership or ALL PRIVILEGES), with the refusal recorded
    in the access audit like every other denied manage action."""
    from ..governance import access_control as acl

    acl._require_manage(
        spark, securable, verb.split()[-1], action="drop", verb=verb
    )


def _rm_volume_storage(spark: SparkSession, name: str, meta: dict) -> None:
    """DROP VOLUME storage semantics: a MANAGED volume's backing
    directory is engine-owned and is deleted with the volume (UC
    deletes managed-volume files); an EXTERNAL volume's LOCATION
    belongs to the caller and is left untouched."""
    import shutil

    if meta.get("location"):
        return  # external: metadata-only drop
    path = _volume_location(spark, name, meta)
    if "://" not in path:
        shutil.rmtree(path, ignore_errors=True)


def _drop_registered_tables(
    spark: SparkSession, prefix: str, *, exact_only: bool = False
) -> int:
    """Unregister every engine table under ``prefix.`` (the namespace
    CASCADE path) or — with ``exact_only`` — ONLY the table registered
    AS ``prefix`` (the DROP TABLE path: a registration that happens to
    extend the dropped name with more dots is a different table and
    must survive). Drops the engine-owned synced views too. Data files
    stay — engine tables are path-backed external locations (storage
    removal is an explicit VACUUM / filesystem concern, not namespace
    DDL)."""
    sid = session_key(spark)
    doomed = [
        (s, n)
        for (s, n) in sqldml._REGISTRY
        if s == sid
        and (n == prefix if exact_only else n.startswith(prefix + "."))
    ]
    for key in doomed:
        sqldml._REGISTRY.pop(key, None)
        view = key[1].split(".")[-1]
        if (sid, view) in sqldml._OWNED_VIEWS:
            sqldml._OWNED_VIEWS.pop((sid, view), None)
            try:
                spark.catalog.dropTempView(view)
            except Exception:  # noqa: BLE001
                pass
    return len(doomed)


def _run_drop_volume(spark: SparkSession, text: str) -> DataFrame:
    m = re.match(
        rf"DROP\s+VOLUME\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>{_NSNAME})\s*$",
        text,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse DROP VOLUME: {text[:80]!r}")
    name = _clean_ns_name(m.group("name"))
    # gate BEFORE the existence check: distinguishable responses on
    # exists-vs-missing would hand unprivileged principals an
    # existence oracle for the very inventory _listable hides
    _require_drop(spark, name, "DROP VOLUME")
    reg = _NAMESPACES.get(session_key(spark), {})
    meta = reg.get(("volume", name))
    if meta is None:
        if m.group("ie"):
            return spark.createDataFrame(
                [("DROP VOLUME", name, False)],
                "operation string, name string, dropped boolean",
            )
        raise ValueError(
            f"no such volume: {name} (use DROP VOLUME IF EXISTS)"
        )
    _rm_volume_storage(spark, name, meta)
    del reg[("volume", name)]
    from ..governance import access_control as acl, catalog_registry

    acl.purge_grants(spark, name)
    catalog_registry.erase(spark, "volume", name)
    return spark.createDataFrame(
        [("DROP VOLUME", name, True)],
        "operation string, name string, dropped boolean",
    )


def _run_drop_namespace(spark: SparkSession, text: str) -> DataFrame | None:
    """``DROP CATALOG|SCHEMA [IF EXISTS] <name> [CASCADE|RESTRICT]``
    over ENGINE-declared namespaces (reference test fixtures run
    ``DROP SCHEMA IF EXISTS {schema} CASCADE``,
    ``local_testing.py:49``). RESTRICT (the default) refuses when the
    namespace still holds schemas/volumes/tables; CASCADE drops the
    subtree: child schemas, managed volumes (with their storage),
    table registrations (data files stay — external locations), and
    share-mounted views under a mounted catalog. Native 1-part
    schemas and real Spark catalogs fall through to spark.sql."""
    m = re.match(
        rf"DROP\s+(?P<kind>CATALOG|SCHEMA|DATABASE)\s+"
        rf"(?P<ie>IF\s+EXISTS\s+)?(?P<name>{_NSNAME})"
        r"(?:\s+(?P<mode>CASCADE|RESTRICT))?\s*$",
        text,
        re.IGNORECASE,
    )
    if not m:
        return None
    kind = "catalog" if m.group("kind").upper() == "CATALOG" else "schema"
    name = _clean_ns_name(m.group("name"))
    sid = session_key(spark)
    reg = _NAMESPACES.get(sid, {})
    verb = f"DROP {m.group('kind').upper()}"

    def _implicit_children() -> bool:
        # table registrations / declared schemas / volumes / SQL
        # functions / layer tags under (or ON) a namespace that was
        # never formally declared still make it droppable — CREATE
        # SCHEMA c.s never required CREATE CATALOG c first, so DROP
        # CATALOG c CASCADE must find that subtree. (STRICT prefix
        # for registrations: a table registered AS this very name is
        # a table, not evidence of a schema — DROP SCHEMA must not
        # unregister it and bypass RESTRICT.)
        from ..queries import sqlpack

        return (
            any(
                n.startswith(name + ".")
                for (s, n) in sqldml._REGISTRY
                if s == sid
            )
            or any(
                k in ("schema", "volume") and n.startswith(name + ".")
                for (k, n) in reg
            )
            or any(
                f.startswith(name + ".")
                for f in sqlpack._FUNCS.get(sid, {})
            )
            or any(
                n.startswith(name + ".")
                for (s, n) in sqldml._VIEW_DEFS
                if s == sid
            )
            or bool(_tagged_under(sid, name, include_self=True))
        )

    def _missing() -> DataFrame:
        if m.group("ie"):
            return spark.createDataFrame(
                [(verb, name, False)],
                "operation string, name string, dropped boolean",
            )
        raise ValueError(
            f"no such {kind}: {name} (use {verb} IF EXISTS)"
        )

    if kind == "schema":
        if "." not in name:
            return None  # native 1-part schema — Spark owns it
        # a multi-part name under a REAL Spark catalog is native
        # territory (mirrors _run_create_namespace's routing)
        if name.split(".")[0] in _native_catalogs(spark):
            return None
        # engine territory from here on: gate BEFORE the existence
        # check (exists-vs-missing must not be an oracle for
        # unprivileged principals)
        _require_drop(spark, name, verb)
        if ("schema", name) not in reg and not _implicit_children():
            return _missing()
    else:
        from ..governance import federation, share_sql

        if name in _native_catalogs(spark):
            return None  # a real Spark catalog — native territory
        # gate before the foreign-catalog redirect too: which foreign
        # catalogs exist is inventory an unprivileged principal must
        # not be able to probe
        _require_drop(spark, name, verb)
        if name in federation._FOREIGN_CATALOGS.get(sid, {}):
            raise ValueError(
                f"{name!r} is a foreign catalog: use DROP FOREIGN "
                f"CATALOG {name}"
            )
        if (
            ("catalog", name) not in reg
            and not any(
                f.startswith(name + ".")
                for f in share_sql._MOUNTS.get(sid, {})
            )
            and not _implicit_children()
        ):
            return _missing()
    prefix = name + "."
    child_schemas = [
        n for (k, n) in reg if k == "schema" and n.startswith(prefix)
    ]
    child_volumes = [
        n for (k, n) in reg if k == "volume" and n.startswith(prefix)
    ]
    child_tables = [
        n
        for (s, n) in sqldml._REGISTRY
        if s == sid and n.startswith(prefix)
    ]
    from ..governance import share_sql
    from ..queries import sqlpack

    mounts = share_sql._MOUNTS.get(sid, {})
    child_mounts = [f for f in mounts if f.startswith(prefix)]
    fmap = sqlpack._FUNCS.get(sid, {})
    child_funcs = [f for f in fmap if f.startswith(prefix)]
    child_views = [
        n
        for (s, n) in sqldml._VIEW_DEFS
        if s == sid and n.startswith(prefix)
    ]
    # tags on CHILD namespaces are governed metadata worth a RESTRICT
    # refusal (tags on the dropped namespace itself die with it)
    child_tagged = _tagged_under(sid, name, include_self=False)
    cascade = (m.group("mode") or "").upper() == "CASCADE"
    children = (
        child_schemas
        + child_volumes
        + child_tables
        + child_mounts
        + child_funcs
        + child_views
        + child_tagged
    )
    if children and not cascade:
        raise ValueError(
            f"{kind} {name!r} is not empty ({sorted(set(children))[:5]}"
            f"{'...' if len(set(children)) > 5 else ''}): "
            "use DROP ... CASCADE"
        )
    for vol in child_volumes:
        _rm_volume_storage(spark, vol, reg[("volume", vol)])
        del reg[("volume", vol)]
    for sch in child_schemas:
        del reg[("schema", sch)]
    _drop_registered_tables(spark, name)
    for full in child_mounts:
        try:
            spark.catalog.dropTempView(mounts.pop(full))
        except Exception:  # noqa: BLE001
            pass
    for full in child_funcs:
        # contained SQL functions go with the namespace (UC CASCADE):
        # unbind the temp function AND the 3-part mapping, or the
        # basename-clash guard would block re-creation forever
        base = fmap.pop(full)
        try:
            spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {base}")
        except Exception:  # noqa: BLE001
            pass
    for full in child_views:
        # contained persistent views go too — a ghost _VIEW_DEFS entry
        # would keep listing the view, warn on every sync, and block
        # same-basename re-registration forever
        sqldml._VIEW_DEFS.pop((sid, full), None)
        try:
            spark.catalog.dropTempView(full.split(".")[-1])
        except Exception:  # noqa: BLE001
            pass
    reg.pop((kind, name), None)
    from ..governance import access_control as acl, catalog_registry, systables

    # layer tags die with the namespace (in memory AND durably)
    tags = systables._LAYER_TAGS.get(sid, {})
    for tkey in [
        k
        for k in tags
        if k[1] == name or k[1].startswith(prefix)
    ]:
        tags.pop(tkey, None)
    acl.purge_grants(spark, name, prefix=True)
    catalog_registry.erase(spark, None, name, prefix=True)
    return spark.createDataFrame(
        [(verb, name, True)],
        "operation string, name string, dropped boolean",
    )


def _run_drop_table(spark: SparkSession, text: str) -> DataFrame | None:
    m = re.match(
        rf"DROP\s+TABLE\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>{_TREF})\s*$",
        text,
        re.IGNORECASE,
    )
    if not m:
        return None
    ref = m.group("name").strip("`").lower()
    from ..governance import access_control as acl, federation, share_sql

    sid = session_key(spark)
    # mounted / foreign names resolve by FULL name, never the suffix
    # rule — checked before canonicalization, or DROP TABLE on a
    # mounted alias would silently drop the SOURCE table the suffix
    # rule resolves to. Gate first: the redirect is for admins
    if ref in share_sql._MOUNTS.get(sid, {}):
        _require_drop(spark, ref, "DROP TABLE")
        raise ValueError(
            f"{ref!r} is a share-mounted table: drop the mount with "
            f"DROP CATALOG {ref.split('.')[0]} CASCADE"
        )
    if (
        "." in ref
        and ref.split(".")[0] in federation._FOREIGN_CATALOGS.get(sid, {})
    ):
        _require_drop(spark, ref, "DROP TABLE")
        raise ValueError(
            f"{ref!r} is a foreign table: use DROP FOREIGN CATALOG "
            f"{ref.split('.')[0]}"
        )
    # same refusal every other verb gives — a basename matching two
    # registered tables must not fall through to native Spark and act
    # on the engine-owned synced temp view. An ambiguous basename is
    # proof of engine territory, so the manage gate fires FIRST: the
    # helpful matches-list is for admins, not an inventory oracle
    try:
        acl._raise_if_ambiguous(spark, ref)
    except ValueError:
        _require_drop(spark, ref, "DROP TABLE")
        raise
    canonical = acl.canonical_name(spark, ref)
    if (sid, canonical) not in sqldml._REGISTRY:
        parts = canonical.split(".")
        if len(parts) == 3 and parts[0] not in _native_catalogs(spark):
            # engine-style 3-part name that was never (or is no
            # longer) registered: native Spark raises
            # CATALOG_NOT_FOUND even under IF EXISTS, so teardown
            # scripts (DROP SCHEMA CASCADE then per-table drops)
            # would stop being idempotent
            _require_drop(spark, canonical, "DROP TABLE")
            if m.group("ie"):
                return spark.createDataFrame(
                    [("DROP TABLE", canonical, False)],
                    "operation string, name string, dropped boolean",
                )
            raise ValueError(
                f"no such table: {canonical} "
                "(use DROP TABLE IF EXISTS)"
            )
        # not an engine registration: native catalog tables / temp
        # views keep Spark's own DROP TABLE behavior
        return None
    _require_drop(spark, canonical, "DROP TABLE")
    _drop_registered_tables(spark, canonical, exact_only=True)
    acl.purge_grants(spark, canonical)
    return spark.createDataFrame(
        [("DROP TABLE", canonical, True)],
        "operation string, name string, dropped boolean",
    )


def run_metadata(spark: SparkSession, sql: str) -> DataFrame | None:
    """Execute one metadata statement against the session's registered
    LakeTables; None when the statement isn't a metadata verb or its
    target isn't a registered/path table (callers fall through to
    ``spark.sql``)."""
    from ..governance import catalog_registry

    # durable catalog tree (opt-in): declared-elsewhere namespaces /
    # volumes / tags / functions resolve before any verb routes
    catalog_registry.ensure_loaded(spark)
    text = sql.strip().rstrip(";").strip()

    ns = _run_create_namespace(spark, text)
    if ns is not None:
        return ns

    m = re.match(
        r"ALTER\s+VIEW\s+(?P<name>`[^`]+`|[\w.]+)\s+AS\s+(?P<body>.+)$",
        text,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        # in-place body redefinition (Spark/Databricks ALTER VIEW AS):
        # requires the view to EXIST; the comment survives, the column
        # list resets to the new query's output (the Spark contract).
        # Routed through the replace path so the manage gate, the
        # fail-closed analysis, and lineage all apply identically.
        hit = sqldml.view_def(spark, m.group("name"))
        if hit is None:
            return None  # native catalog views keep spark.sql behavior
        full, meta = hit
        comment = (
            " COMMENT '{}'".format(meta["comment"].replace("'", "''"))
            if meta.get("comment")
            else ""
        )
        return _run_create_view(
            spark,
            f"CREATE OR REPLACE VIEW {full}{comment} AS {m.group('body')}",
        )

    if re.match(r"CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\b", text, re.IGNORECASE):
        made = _run_create_view(spark, text)
        if made is not None:
            return made
        # native territory (1/2-part or real-catalog names): Spark's
        # own view DDL handles it via the caller's fall-through

    if re.match(r"DROP\s+VIEW\b", text, re.IGNORECASE):
        dropped = _run_drop_view(spark, text)
        if dropped is not None:
            return dropped

    m = re.match(
        r"SHOW\s+VIEWS(?:\s+IN\s+(?P<ns>[\w.]+))?\s*$", text, re.IGNORECASE
    )
    if m:
        # native rows (the user's temp views, native-catalog views)
        # UNION engine persistent views — native behavior preserved,
        # engine objects visible, one listing
        ns_filter = (m.group("ns") or "").lower()
        try:
            native = spark.sql(text)
        except Exception:  # noqa: BLE001
            native = None  # engine-only namespace: no native rows
        sid = session_key(spark)
        rows = []
        for (s, n) in sorted(sqldml._VIEW_DEFS):
            if s != sid:
                continue
            if ns_filter and not n.startswith(ns_filter + "."):
                continue
            if not _listable(spark, n):
                continue
            ns_part, _, base = n.rpartition(".")
            rows.append((ns_part, base, False))
        eng = spark.createDataFrame(
            rows, "namespace string, viewName string, isTemporary boolean"
        )
        if native is not None:
            # native SHOW VIEWS lists every TEMP view — including the
            # bindings the ENGINE creates for its registered tables
            # and persistent views. Those are resolution plumbing, not
            # user views: listing them would double-list every
            # persistent view (falsely isTemporary) and leak the full
            # table inventory past the _listable privilege filter.
            # The user's OWN temp views (never engine-owned) stay.
            owned = {
                k[1] for k in sqldml._OWNED_VIEWS if k[0] == sid
            } | {
                n.split(".")[-1]
                for (s, n) in sqldml._VIEW_DEFS
                if s == sid
            }
            if owned:
                native = native.filter(
                    (~F.col("viewName").isin(sorted(owned)))
                    | (~F.col("isTemporary"))
                )
            return native.unionByName(eng)
        return eng

    if re.match(r"DROP\s+VOLUME\b", text, re.IGNORECASE):
        return _run_drop_volume(spark, text)

    if re.match(
        r"DROP\s+(?:CATALOG|SCHEMA|DATABASE)\b", text, re.IGNORECASE
    ):
        dropped = _run_drop_namespace(spark, text)
        if dropped is not None:
            return dropped

    if re.match(r"DROP\s+TABLE\b", text, re.IGNORECASE):
        dropped = _run_drop_table(spark, text)
        if dropped is not None:
            return dropped

    if re.match(r"CREATE\s+(?:EXTERNAL\s+)?VOLUME\b", text, re.IGNORECASE):
        vol = _run_create_volume(spark, text)
        if vol is not None:
            return vol
        raise ValueError(f"cannot parse CREATE VOLUME: {text[:80]!r}")

    m = re.match(
        r"SHOW\s+VOLUMES(?:\s+IN\s+(?P<ns>[\w.]+))?\s*$",
        text,
        re.IGNORECASE,
    )
    if m:
        ns_filter = (m.group("ns") or "").lower()
        rows = []
        reg = _NAMESPACES.get(session_key(spark), {})
        for (k, n), meta in sorted(reg.items()):
            if k != "volume":
                continue
            if ns_filter and not n.startswith(ns_filter + "."):
                continue
            if not _listable(spark, n):
                continue
            cat, sch, vol = n.split(".")
            rows.append((cat, sch, vol, meta.get("comment")))
        return spark.createDataFrame(
            rows,
            "catalog string, schema string, "
            "volume_name string, comment string",
        )

    m = re.match(r"SHOW\s+CATALOGS\s*$", text, re.IGNORECASE)
    if m:
        names = {
            c for (c,) in _native_rows(spark, text, ("catalog",))
        } or {"spark_catalog"}
        names.update(
            n.split(".")[0]
            for n in _registered(spark)
            if n.count(".") == 2 and _listable(spark, n.split(".")[0])
        )
        names.update(
            n
            for n in declared_namespaces(spark, "catalog")
            if _listable(spark, n)
        )
        return spark.createDataFrame(
            [(c,) for c in sorted(names)], "catalog string"
        )

    m = re.match(
        r"SHOW\s+(?:SCHEMAS|DATABASES)(?:\s+IN\s+(?P<cat>[\w.]+))?\s*$",
        text,
        re.IGNORECASE,
    )
    if m:
        cat = (m.group("cat") or "").lower()
        out = set()
        for n in _registered(spark):
            bits = n.split(".")
            if len(bits) == 3:
                if (not cat or bits[0] == cat) and _listable(
                    spark, f"{bits[0]}.{bits[1]}"
                ):
                    out.add(bits[1])
            elif len(bits) == 2:
                if (not cat or bits[0] == cat) and _listable(
                    spark, bits[0]
                ):
                    out.add(bits[0])
            elif not cat and _listable(spark, n):
                # 1-part tables sit in the implicit 'default' schema:
                # the row is revealed by a grant on the table itself
                out.add("default")
        for n in declared_namespaces(spark, "schema"):
            c, _, s = n.rpartition(".")
            if (not cat or c == cat) and _listable(spark, n):
                out.add(s)
        out.update(ns for (ns,) in _native_rows(spark, text, ("namespace",)))
        if not out and not cat:
            out.add("default")
        return spark.createDataFrame(
            [(s,) for s in sorted(out)], "namespace string"
        )

    m = re.match(
        r"SHOW\s+TABLES(?:\s+IN\s+(?P<ns>[\w.]+))?\s*$", text, re.IGNORECASE
    )
    if m:
        ns = (m.group("ns") or "").lower()
        rows = []
        for n in sorted(_registered(spark)):
            prefix, _, last = n.rpartition(".")
            if ns and prefix != ns and not prefix.endswith("." + ns) and prefix.split(".")[-1] != ns:
                continue
            if not _listable(spark, n):
                continue
            rows.append((prefix or "default", last, False))
        # native temp views / catalog tables merge in (SHOW TABLES must
        # keep listing what spark.sql would have listed). Only the
        # module's OWN synced views (sqldml._OWNED_VIEWS) are
        # suppressed as duplicates of their engine rows; a user's
        # pre-existing temp view wins SELECT resolution (sync_views
        # never shadows it) and must stay listed. Dedup on
        # (namespace, tableName).
        sid = session_key(spark)
        owned = {n for (s2, n) in sqldml._OWNED_VIEWS if s2 == sid}
        seen = {(r[0], r[1]) for r in rows}
        for nsn, tbl, tmp in _native_rows(
            spark, text, ("namespace", "tableName", "isTemporary")
        ):
            if tmp and tbl in owned:
                continue
            if (nsn, tbl) in seen:
                continue
            rows.append((nsn, tbl, tmp))
        return spark.createDataFrame(
            rows, "namespace string, tableName string, isTemporary boolean"
        )

    m = re.match(
        rf"SHOW\s+COLUMNS\s+(?:IN|FROM)\s+{_TREF}"
        r"(?:\s+(?:IN|FROM)\s+(?P<ns>[\w.]+))?\s*$",
        text,
        re.IGNORECASE,
    )
    if m:
        ref = m.group(1)
        if m.group("ns") and not ref.startswith("`"):
            ref = f"{m.group('ns')}.{ref.strip('`')}"
        t = _resolve(spark, ref)
        if t is None:
            return None  # native tables keep spark.sql behavior
        _enforce(spark, "SELECT", ref)
        return spark.createDataFrame(
            [(f.name,) for f in t.schema.fields], "col_name string"
        )

    m = re.match(
        rf"COMMENT\s+ON\s+TABLE\s+{_TREF}\s+IS\s+"
        r"(?P<val>NULL|'(?:[^']|'')*')\s*$",
        text,
        re.IGNORECASE,
    )
    if m:
        t = _resolve(spark, m.group(1))
        if t is None:
            return None
        _enforce(spark, "MODIFY", m.group(1))
        if m.group("val").upper() == "NULL":
            t.unset_properties(["comment"])
        else:
            comment = m.group("val")[1:-1].replace("''", "'")
            snap = t._log.latest_version(t.root)
            t._log.commit(
                t.root,
                "COMMENT ON TABLE",
                [],
                [],
                t._log.schema_at(t.root),
                parameters={"comment": comment},
                properties={**t.properties(), "comment": comment},
                expected_version=snap,
            )
        return spark.createDataFrame(
            [("COMMENT ON TABLE", m.group(1).strip("`"))],
            "operation string, target string",
        )

    m = re.match(
        r"COMMENT\s+ON\s+COLUMN\s+(?P<tref>`[^`]+`|[\w.]+)\s*\.\s*"
        r"(`?)(?P<col>\w+)\2\s+IS\s+(?P<val>NULL|'(?:[^']|'')*')\s*$",
        text,
        re.IGNORECASE,
    )
    if m:
        # the column is the LAST dotted component; everything before
        # it names the table
        tref, col = m.group("tref"), m.group("col")
        t = _resolve(spark, tref)
        if t is None:
            return None
        _enforce(spark, "MODIFY", tref)
        val = (
            None
            if m.group("val").upper() == "NULL"
            else m.group("val")[1:-1].replace("''", "'")
        )
        t.set_column_comment(col, val)
        return spark.createDataFrame(
            [("COMMENT ON COLUMN", f"{tref.strip('`')}.{col}")],
            "operation string, target string",
        )

    m = re.match(rf"SHOW\s+PARTITIONS\s+{_TREF}\s*$", text, re.IGNORECASE)
    if m:
        t = _resolve(spark, m.group(1))
        if t is None:
            return None
        _enforce(spark, "SELECT", m.group(1))
        pcols = t._partition_columns()
        if not pcols:
            raise ValueError(
                "SHOW PARTITIONS is not allowed on a table that is "
                f"not partitioned: {m.group(1).strip('`')}"
            )
        # distinct partitionValues tuples straight from the commit
        # log's active entries — O(files) driver metadata, no scan
        # (the 100 TB answer: partitions are a log fact, not a data
        # fact). Typed under the table schema like Delta's output.
        from pyspark.sql.types import StringType, StructField, StructType

        live = {
            tuple((e.get("partitionValues") or {}).get(c) for c in pcols)
            for e in t._files()
        }
        str_schema = StructType(
            [StructField(c, StringType(), True) for c in pcols]
        )
        types = {f.name: f.dataType for f in t.schema.fields}
        return (
            spark.createDataFrame(sorted(live, key=str), str_schema)
            .select(*[F.col(c).cast(types[c]).alias(c) for c in pcols])
            .orderBy(*pcols)
        )

    m = re.match(
        rf"SHOW\s+TBLPROPERTIES\s+{_TREF}(?:\s*\(\s*'?(?P<key>[^')]+)'?\s*\))?\s*$",
        text,
        re.IGNORECASE,
    )
    if m:
        t = _resolve(spark, m.group(1))
        if t is None:
            return None
        _enforce(spark, "SELECT", m.group(1))
        props = {str(k): str(v) for k, v in t.properties().items()}
        if m.group("key"):
            k = m.group("key").strip()
            return spark.createDataFrame(
                [(k, props.get(k))], "key string, value string"
            )
        return spark.createDataFrame(
            sorted(props.items()), "key string, value string"
        )

    m = re.match(
        rf"SHOW\s+CREATE\s+(?:TABLE|VIEW)\s+{_TREF}\s*$",
        text,
        re.IGNORECASE,
    )
    if m:
        t = _resolve(spark, m.group(1))
        if t is None:
            # a persistent VIEW reconstructs its CREATE statement from
            # the stored (normalized) definition. For an engine-shaped
            # name (3-part, non-native) the gate fires BEFORE the
            # existence answer — exists-vs-missing must not be an
            # oracle for unprivileged principals.
            ref = m.group(1).strip("`").lower()
            rparts = ref.split(".")
            if len(rparts) == 3 and rparts[0] not in _native_catalogs(
                spark
            ):
                _enforce(spark, "SELECT", ref)
            hit = sqldml.view_def(spark, m.group(1))
            if hit is None:
                return None
            full, meta = hit
            _enforce(spark, "SELECT", full)
            cols = (
                " ({})".format(
                    ", ".join(
                        c if re.fullmatch(r"\w+", c) else f"`{c}`"
                        for c in meta["cols"]
                    )
                )
                if meta.get("cols")
                else ""
            )
            comment = (
                " COMMENT '{}'".format(meta["comment"].replace("'", "''"))
                if meta.get("comment")
                else ""
            )
            stmt = (
                f"CREATE VIEW {full}{cols}{comment} AS {meta['sql']}"
            )
            return spark.createDataFrame(
                [(stmt,)], "createtab_stmt string"
            )
        _enforce(spark, "SELECT", m.group(1))
        stmt = _show_create_stmt(m.group(1).strip("`"), t)
        return spark.createDataFrame([(stmt,)], "createtab_stmt string")

    m = re.match(
        rf"(?:DESCRIBE|DESC)\s+DETAIL\s+{_TREF}\s*$", text, re.IGNORECASE
    )
    if m:
        t = _resolve(spark, m.group(1))
        if t is None:
            return None
        _enforce(spark, "SELECT", m.group(1))
        return _describe_detail(spark, t)

    m = re.match(
        rf"(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(?P<ext>EXTENDED\s+|FORMATTED\s+)?{_TREF.replace('(', '(?P<tref>', 1)}\s*$",
        text,
        re.IGNORECASE,
    )
    if m and m.group("tref").lower() not in ("history", "detail"):
        t = _resolve(spark, m.group("tref"))
        if t is None:
            return None
        _enforce(spark, "SELECT", m.group("tref"))
        return _describe(spark, t, extended=bool(m.group("ext")))

    m = re.match(
        rf"ANALYZE\s+TABLE\s+{_TREF}\s+COMPUTE\s+STATISTICS"
        r"(?:\s+FOR\s+(?:(?P<all>ALL\s+COLUMNS)|COLUMNS\s+(?P<cols>[\w`,\s]+)))?\s*$",
        text,
        re.IGNORECASE,
    )
    if m:
        t = _resolve(spark, m.group(1))
        if t is None:
            return None
        _enforce(spark, "MODIFY", m.group(1))
        if m.group("all"):
            columns = [f.name for f in t.schema.fields]
        elif m.group("cols"):
            columns = [
                c.strip().strip("`")
                for c in m.group("cols").split(",")
                if c.strip()
            ]
        else:
            columns = None
        return _analyze(spark, t, columns)

    m = re.match(
        rf"(?P<un>UN)?CACHE\s+(?:LAZY\s+)?TABLE\s+{_TREF}\s*$",
        text,
        re.IGNORECASE,
    )
    if m:
        ref = m.group(2).strip("`")
        if "/" in ref:
            # path reference (or path-registered table): resolvable for
            # reads, but there is no view name to cache under — refuse
            # loudly BEFORE any suffix matching so a dotted basename
            # can never cache an unrelated same-suffix view
            raise ValueError(
                "CACHE TABLE needs a registered table name (path-"
                "addressed tables have no view); register_table(...) "
                "first or cache the DataFrame directly"
            )
        try:
            # resolve_table's full semantics: exact hit, UNIQUE-suffix
            # hit, or a loud ambiguity error — never an arbitrary pick
            sqldml.resolve_table(spark, ref)
        except ValueError as e:
            if "ambiguous" in str(e):
                raise
            return None  # unknown -> native temp views / catalog tables
        name = ref.split(".")[-1]
        if not re.fullmatch(r"\w+", name):
            raise ValueError(
                f"CACHE TABLE: {ref!r} has no view-able name; "
                "register_table(...) under a word name first"
            )
        reg = _registered(spark)
        if not any(
            n == ref.lower() or n.split(".")[-1] == name.lower()
            for n in reg
        ):
            # resolved via the path probe (a table DIR named like a
            # word), not the registry — no synced view exists
            return None
        _enforce(spark, "SELECT", ref)
        sqldml.sync_views(spark)
        if m.group("un"):
            spark.catalog.uncacheTable(name)
            op = "UNCACHE TABLE"
        else:
            spark.catalog.cacheTable(name)
            op = "CACHE TABLE"
        return spark.createDataFrame(
            [(op, name)], "operation string, tableName string"
        )

    return None

"""Engine-owned system tables (X9/X11 SQL tail): the
``system.information_schema.table_tags / column_tags / catalog_tags /
schema_tags`` classification views and the ``system.access.audit``
access-event table the reference queries as plain SQL
(``governance/data_classification.py:279-300`` classification report,
``governance/compliance_policies.py:321-334,387-394`` access audit +
PII exposure, ``governance/lineage_and_audit.py:92-124`` audit/system
table tour).

Design: Unity Catalog materializes these in the managed control plane;
the engine serves the same query surface from its OWN metadata —
table/column tags live in each table's commit log
(``engine.tags.* / engine.coltags.*`` properties, durable), catalog/
schema tags live in a session registry (same scope as the ACL grants
registry), and audit events are recorded at the enforcement boundary
(``access_control.enforce``) whenever ``spark.engine.accessControl.
enabled`` is on. :func:`repoint` rewrites the ``system.*`` names in a
statement to engine temp views built on demand, so the reference's
report SQL runs verbatim through ``queries/sqlpack.run_statement``.

Columns carry BOTH the ``table_catalog/table_schema`` spellings the
reference's queries use and the ``catalog_name/schema_name`` spellings
the Databricks docs list, so either dialect of report SQL works.

Visibility: with ACL enforcement on, tag rows are filtered to
securables the session principal may list (``access_control.can_list``
— the same rule SHOW TABLES applies), and ``system.access.audit``
requires admin rights (``ADMINS_CONF`` membership or ALL PRIVILEGES on
the ``system`` catalog), mirroring UC's admin-gated system tables.

Scale notes: all views are O(registry)/O(events) driver-side metadata
turned into small DataFrames — no data files are read. The audit
buffer is capped (oldest dropped past ``_AUDIT_CAP``) so a long-lived
enforcing session cannot grow the driver without bound; deployments
needing a durable audit trail attach ``compliance.AuditLog``.
"""

from __future__ import annotations

import datetime as _dt
import re
import threading as _threading
import uuid as _uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import session_key

__all__ = [
    "set_layer_tags",
    "layer_tags",
    "catalogs_df",
    "schemata_df",
    "tables_df",
    "columns_df",
    "table_tags_df",
    "column_tags_df",
    "catalog_tags_df",
    "schema_tags_df",
    "record_access",
    "audit_df",
    "flush_audit",
    "journal_flush_health",
    "record_query",
    "query_history_df",
    "flush_query_history",
    "record_lineage",
    "table_lineage_df",
    "storage_tables_df",
    "repoint",
]

# ---------------------------------------------------------------------------
# catalog / schema tags (session registry — tables carry their own tags
# in the commit log; catalogs/schemas have no log to ride)
# ---------------------------------------------------------------------------

# session -> (level, name) -> {tag: value}; level in {"catalog","schema"}
_LAYER_TAGS: dict[str, dict[tuple[str, str], dict[str, str]]] = {}


def set_layer_tags(
    spark: SparkSession,
    level: str,
    name: str,
    tags: dict[str, str],
    unset: bool = False,
) -> None:
    """``ALTER CATALOG|SCHEMA <name> SET/UNSET TAGS (...)`` (reference
    ``data_classification.py:39-48``). Session-scoped, like the ACL
    grants registry."""
    from . import catalog_registry

    level = level.lower()
    if level not in ("catalog", "schema"):
        raise ValueError(f"unknown tag level {level!r}")
    catalog_registry.ensure_loaded(spark)
    clean = name.strip("`").lower()
    reg = _LAYER_TAGS.setdefault(session_key(spark), {})
    cur = reg.setdefault((level, clean), {})
    # durable write-through, ONE ROW PER TAG (rival sessions tagging
    # the same catalog compose instead of clobbering each other —
    # the row-per-grant granularity of the grants registry)
    if unset:
        for k in tags:
            cur.pop(k, None)
            catalog_registry.erase(
                spark, "layer_tag", f"{level}|{clean}|{k}", flush_now=False
            )
    else:
        for k, v in tags.items():
            cur[k] = str(v)
            catalog_registry.record(
                spark,
                "layer_tag",
                f"{level}|{clean}|{k}",
                {"value": str(v)},
                flush_now=False,
            )
    catalog_registry.flush(spark)


def layer_tags(
    spark: SparkSession, level: str
) -> dict[str, dict[str, str]]:
    """``{name: {tag: value}}`` for one level ('catalog'|'schema')."""
    from . import catalog_registry

    catalog_registry.ensure_loaded(spark)
    reg = _LAYER_TAGS.get(session_key(spark), {})
    return {
        name: dict(tags)
        for (lvl, name), tags in reg.items()
        if lvl == level and tags
    }


# ---------------------------------------------------------------------------
# name resolution helpers
# ---------------------------------------------------------------------------


def _split_name(name: str) -> tuple[str, str, str]:
    """Registered name -> (catalog, schema, table); shorter names fill
    with Spark's defaults so WHERE table_catalog = ... filters behave."""
    bits = name.split(".")
    if len(bits) >= 3:
        return bits[0], bits[1], ".".join(bits[2:])
    if len(bits) == 2:
        return "spark_catalog", bits[0], bits[1]
    return "spark_catalog", "default", bits[0]


def _visible_tables(spark: SparkSession):
    """(full_name, LakeTable) pairs the session principal may see —
    the SHOW TABLES listing rule."""
    from ..tables import sqldml
    from . import access_control as acl

    sid = session_key(spark)
    enforcing = acl.enabled(spark)
    for (s, n), t in sorted(sqldml._REGISTRY.items()):
        if s != sid:
            continue
        if "/" in n:
            continue  # path-registered: no namespace to report under
        if enforcing and not acl.can_list(spark, n):
            continue
        yield n, t


# ---------------------------------------------------------------------------
# information_schema tag views
# ---------------------------------------------------------------------------

_TABLE_TAGS_SCHEMA = (
    "table_catalog string, table_schema string, table_name string, "
    "tag_name string, tag_value string, "
    "catalog_name string, schema_name string"
)
_COLUMN_TAGS_SCHEMA = (
    "table_catalog string, table_schema string, table_name string, "
    "column_name string, tag_name string, tag_value string, "
    "catalog_name string, schema_name string"
)


_IS_TABLES_SCHEMA = (
    "table_catalog string, table_schema string, table_name string, "
    "table_type string, data_source_format string, storage_path string"
)
_IS_COLUMNS_SCHEMA = (
    "table_catalog string, table_schema string, table_name string, "
    "column_name string, ordinal_position int, data_type string, "
    "is_nullable string"
)


def _table_kind(spark: SparkSession, t) -> tuple[str, str]:
    """``(table_type, data_source_format)`` for one registered handle:
    MANAGED when the table lives under the warehouse dir (where
    metasql's managed CREATE lands it), EXTERNAL otherwise. Every
    table is DELTA."""
    try:
        wh = spark.conf.get("spark.sql.warehouse.dir") or ""
    except Exception:  # noqa: BLE001
        wh = ""
    managed = bool(wh) and str(t.root).startswith(
        wh.removeprefix("file:")
    )
    return ("MANAGED" if managed else "EXTERNAL"), "DELTA"


_IS_CATALOGS_SCHEMA = "catalog_name string, comment string"
_IS_SCHEMATA_SCHEMA = (
    "catalog_name string, schema_name string, comment string"
)


def catalogs_df(spark: SparkSession) -> DataFrame:
    """``system.information_schema.catalogs``: declared catalogs
    (namespace DDL / the durable registry) plus catalogs implied by
    registered 3-part table names — a table's namespace is browsable
    even when the setup notebook never ran in this session."""
    from ..tables import metasql

    declared = metasql.declared_namespaces(spark, "catalog")
    names = {n: (m.get("comment") if m else None) for n, m in declared.items()}
    for full, _t in _visible_tables(spark):
        cat, _sch, _tbl = _split_name(full)
        names.setdefault(cat, None)
    return spark.createDataFrame(
        sorted(names.items()), _IS_CATALOGS_SCHEMA
    )


def schemata_df(spark: SparkSession) -> DataFrame:
    """``system.information_schema.schemata``: declared schemas plus
    schemas implied by registered table names, as (catalog, schema)
    pairs."""
    from ..tables import metasql

    declared = metasql.declared_namespaces(spark, "schema")
    pairs: dict[tuple[str, str], str | None] = {}
    for n, m in declared.items():
        cat, _, sch = n.partition(".")
        if sch:
            pairs[(cat, sch)] = m.get("comment") if m else None
    for full, _t in _visible_tables(spark):
        cat, sch, _tbl = _split_name(full)
        pairs.setdefault((cat, sch), None)
    return spark.createDataFrame(
        [(c, s, cm) for (c, s), cm in sorted(pairs.items())],
        _IS_SCHEMATA_SCHEMA,
    )


def tables_df(spark: SparkSession) -> DataFrame:
    """``system.information_schema.tables`` over the session's
    registered tables — the UC catalog-browsing shape, filtered by the
    same listing rule as SHOW TABLES (``_visible_tables``). Everything
    comes from registry + log metadata; no data files are touched. An
    unreadable table is SKIPPED (the storage_tables_df convention) —
    one broken registration must not take down the whole listing."""
    rows = []
    for name, t in _visible_tables(spark):
        cat, sch, tbl = _split_name(name)
        try:
            kind, fmt = _table_kind(spark, t)
            rows.append((cat, sch, tbl, kind, fmt, str(t.root)))
        except Exception:  # noqa: BLE001
            continue
    # persistent views list alongside tables (UC's
    # information_schema.tables includes table_type = 'VIEW' rows)
    from ..tables import sqldml as _sqldml
    from . import access_control as acl

    sid = session_key(spark)
    enforcing = acl.enabled(spark)
    for (s, n) in sorted(_sqldml._VIEW_DEFS):
        if s != sid or (enforcing and not acl.can_list(spark, n)):
            continue
        cat, sch, tbl = _split_name(n)
        rows.append((cat, sch, tbl, "VIEW", None, None))
    return spark.createDataFrame(rows, _IS_TABLES_SCHEMA)


def columns_df(spark: SparkSession) -> DataFrame:
    """``system.information_schema.columns``: one row per column of
    every visible registered table, in schema order. NOTE
    ``ordinal_position`` is 0-based — Databricks' information_schema
    documents this deviation from the ISO standard and the reference's
    queries would port against it. Types are Spark ``simpleString``;
    served from log metadata only, unreadable tables skipped."""
    rows = []
    for name, t in _visible_tables(spark):
        cat, sch, tbl = _split_name(name)
        try:
            fields = list(t.schema.fields)
        except Exception:  # noqa: BLE001
            continue
        for i, f in enumerate(fields):
            rows.append(
                (
                    cat,
                    sch,
                    tbl,
                    f.name,
                    i,
                    f.dataType.simpleString(),
                    "YES" if f.nullable else "NO",
                )
            )
    return spark.createDataFrame(rows, _IS_COLUMNS_SCHEMA)


def table_tags_df(spark: SparkSession) -> DataFrame:
    rows = []
    for name, t in _visible_tables(spark):
        cat, sch, tbl = _split_name(name)
        for k, v in sorted(t.tags().items()):
            rows.append((cat, sch, tbl, k, v, cat, sch))
    return spark.createDataFrame(rows, _TABLE_TAGS_SCHEMA)


def column_tags_df(spark: SparkSession) -> DataFrame:
    rows = []
    for name, t in _visible_tables(spark):
        cat, sch, tbl = _split_name(name)
        for col, tags in sorted(t.column_tags().items()):
            for k, v in sorted(tags.items()):
                rows.append((cat, sch, tbl, col, k, v, cat, sch))
    return spark.createDataFrame(rows, _COLUMN_TAGS_SCHEMA)


def _layer_df(
    spark: SparkSession, level: str, name_col: str
) -> DataFrame:
    from . import access_control as acl

    enforcing = acl.enabled(spark)
    rows = []
    for name, tags in sorted(layer_tags(spark, level).items()):
        if enforcing and not acl.can_list(spark, name):
            continue
        for k, v in sorted(tags.items()):
            rows.append((name, k, v))
    return spark.createDataFrame(
        rows, f"{name_col} string, tag_name string, tag_value string"
    )


def catalog_tags_df(spark: SparkSession) -> DataFrame:
    return _layer_df(spark, "catalog", "catalog_name")


def schema_tags_df(spark: SparkSession) -> DataFrame:
    """Rows carry the full ``catalog.schema`` name split in two (the
    Databricks view has catalog_name + schema_name columns)."""
    from . import access_control as acl

    enforcing = acl.enabled(spark)
    rows = []
    for name, tags in sorted(layer_tags(spark, "schema").items()):
        if enforcing and not acl.can_list(spark, name):
            continue
        cat, _, sch = name.rpartition(".")
        for k, v in sorted(tags.items()):
            rows.append((cat or "spark_catalog", sch, k, v))
    return spark.createDataFrame(
        rows,
        "catalog_name string, schema_name string, "
        "tag_name string, tag_value string",
    )


# ---------------------------------------------------------------------------
# system.access.audit
# ---------------------------------------------------------------------------

# session -> capped FIFO of event rows in _DUR_AUDIT_SCHEMA shape;
# the PENDING journal holds the SAME tuple objects (two pointer lists
# over one row set, not two copies)
_AUDIT: dict[str, list[tuple]] = {}
_AUDIT_CAP = 50_000

# opt-in durability (UC audit logs are durable account state; a
# compliance trail that dies with the driver is barely a trail): with
# this conf set to a LakeTable path, audit events are written through
# to that table in batches — one commit per _AUDIT_FLUSH_EVERY events
# on the record path (attempted once per batch even while the path is
# failing, never per event), on every audit read, and via
# flush_audit(). Rows carry a (session, seq) identity so a flush
# retried after a partial failure deduplicates at read instead of
# double-counting; the session id is salted with a per-process nonce
# because the py4j fallback key is only unique within one JVM. While
# the conf is set AND enforcement is on, system.access.audit serves
# the DURABLE table (all sessions' history, the UC shape) after
# flushing this session's pending tail; with enforcement OFF there is
# no admin to gate on, so only the session's own buffer is served —
# the durable history never leaks past the gate.
AUDIT_PATH_CONF = "spark.engine.audit.path"
_AUDIT_FLUSH_EVERY = 500
_AUDIT_NONCE = _uuid.uuid4().hex[:12]
# journaled unconditionally (like the catalog registry's journal, so
# events recorded BEFORE the conf was set still land on the first
# flush after it is set), drained by flush_audit
_AUDIT_PENDING: dict[str, list[tuple]] = {}
_AUDIT_SEQ: dict[str, int] = {}
# seq allocation + buffer append are one atomic step: a torn
# read-modify-write would hand two events the same (session, seq) and
# the read-side dedup would silently drop a real audit row
_SEQ_LOCK = _threading.Lock()

_DUR_AUDIT_SCHEMA = (
    "session_id string, seq long, event_time timestamp, ts timestamp, "
    "email string, action_name string, full_name_arg string, "
    "status_code int"
)


def _audit_path(spark: SparkSession) -> str | None:
    try:
        return spark.conf.get(AUDIT_PATH_CONF) or None
    except Exception:  # noqa: BLE001
        return None


def _append_or_create(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Append to the engine table at ``path``, creating it on first
    use. A NON-EMPTY directory that is not an engine table (a Delta
    table, arbitrary files) is refused loudly — planting a second
    commit log inside a foreign table's directory would fork it."""
    from pathlib import Path as _P

    from ..tables import LakeTable

    if LakeTable.is_table(path):
        LakeTable.for_path(spark, path).append(df)
        return
    p = _P(path)
    if p.exists() and any(p.iterdir()):
        raise ValueError(
            f"{path} exists and is not an engine table — refusing to "
            f"create a registry over it (point the conf at an empty "
            f"path or an existing engine table)"
        )
    try:
        LakeTable.create(spark, path, df=df)
    except Exception:
        if LakeTable.is_table(path):  # lost the creation race
            LakeTable.for_path(spark, path).append(df)
        else:
            raise


# journal-flush health, (session, label) -> [consecutive_failures,
# last_error_repr]: record-path failures are warnings (observability
# must not fail the operation it describes), so without a ledger a
# persistently-broken storage path degrades the "durable" trail to
# in-memory-only with nothing an operator can poll. Read paths surface
# it — a failing flush propagates with this context attached, and a
# session-view read over a degraded journal serves an explicit
# degradation row (see _degradation_row uses below).
_FLUSH_HEALTH: dict[tuple[str, str], list] = {}
# one flush at a time: two racing flushes would both pin n=len(pend)
# and both slice-delete, dropping up to n never-written rows from the
# journal. Never held while allocating (seq alloc takes _SEQ_LOCK and
# then returns BEFORE any flush attempt), so lock order is always
# FLUSH -> SEQ, never inverted.
_FLUSH_LOCK = _threading.Lock()


def _flush_journal(
    spark: SparkSession,
    path: str | None,
    pending: dict[str, list[tuple]],
    schema: str,
    label: str,
) -> int:
    """Drain one session journal to its durable table; returns rows
    written. Raises on failure — RECORD-path callers catch and warn
    (observability must not fail the operation it describes), READ
    paths let it propagate (silently serving a partial history is
    worse than failing). Serialized under ``_FLUSH_LOCK``: concurrent
    record-path appends land at the tail and flush next time; a second
    flusher waits instead of double-draining."""
    sid = session_key(spark)
    with _FLUSH_LOCK:
        pend = pending.get(sid)
        if not path or not pend:
            return 0
        n = len(pend)  # pin BEFORE the write: a concurrent record may
        # append while the commit runs; those rows flush next time
        try:
            _append_or_create(
                spark, path, spark.createDataFrame(pend[:n], schema)
            )
        except Exception as e:  # noqa: BLE001
            h = _FLUSH_HEALTH.setdefault((sid, label), [0, ""])
            h[0] += 1
            h[1] = repr(e)
            raise RuntimeError(
                f"{label}: durable flush failed ({h[0]} consecutive "
                f"failure{'s' if h[0] > 1 else ''}, {n} rows pending "
                f"in the session journal): {e}"
            ) from e
        _FLUSH_HEALTH.pop((sid, label), None)
        # drain exactly what was written (appends only ever extend the
        # tail, so the first n are the written rows); a retry after a
        # partial failure re-appends the same (session, seq) rows,
        # which the read-side dedup absorbs
        with _SEQ_LOCK:
            del pend[:n]
        return n


def journal_flush_health(
    spark: SparkSession, label: str
) -> tuple[int, str] | None:
    """``(consecutive_failures, last_error)`` for this session's
    ``label`` journal ("audit" / "query history"), or None while
    healthy. A successful flush (including the read-path ones) clears
    the entry."""
    h = _FLUSH_HEALTH.get((session_key(spark), label))
    return (h[0], h[1]) if h else None


def flush_audit(spark: SparkSession) -> int:
    """Append this session's pending audit events to the durable table
    (no-op without ``AUDIT_PATH_CONF``); returns rows written."""
    return _flush_journal(
        spark, _audit_path(spark), _AUDIT_PENDING, _DUR_AUDIT_SCHEMA,
        "audit",
    )


def _journal_event(
    spark: SparkSession,
    row_tail: tuple,
    buf_map: dict[str, list[tuple]],
    pend_map: dict[str, list[tuple]],
    seq_map: dict[str, int],
    path_fn: Callable[[SparkSession], str | None],
    flush_fn: Callable[[SparkSession], int],
    label: str,
) -> None:
    """One write-behind journal append shared by the audit log and the
    query history: allocate the (session, seq) identity atomically,
    append ONE row object to both the capped session buffer and the
    pending journal, and attempt a batched flush once per
    ``_AUDIT_FLUSH_EVERY`` events (a counter gate, not a buffer-size
    gate — the buffer stays full during a storage outage and must not
    turn every recorded event into a doomed table commit). The pending
    journal is deliberately UNCAPPED (unlike the display buffer): it
    only grows while flushes fail, and trimming it would silently
    punch holes in the durable trail while the flush-failure warning
    claims the rows "remain session-journaled". Timestamps
    in ``row_tail`` are naive UTC — correct under the engine's
    UTC-pinned sessions (`session.py` pins
    ``spark.sql.session.timeZone``); a foreign non-UTC session would
    skew the recorded instants by its offset."""
    sid = session_key(spark)
    with _SEQ_LOCK:
        seq = seq_map.get(sid, 0)
        seq_map[sid] = seq + 1
        row = (f"{sid}:{_AUDIT_NONCE}", seq) + row_tail
        buf = buf_map.setdefault(sid, [])
        buf.append(row)
        if len(buf) > _AUDIT_CAP:
            del buf[: len(buf) - _AUDIT_CAP]
        pend = pend_map.setdefault(sid, [])
        pend.append(row)
    if (seq + 1) % _AUDIT_FLUSH_EVERY == 0 and path_fn(spark):
        import warnings

        try:
            flush_fn(spark)
        except Exception as e:  # noqa: BLE001
            # observability must never fail the operation it describes
            # (the flush error already carries the consecutive-failure
            # count and pending size from _flush_journal); reads of
            # the system table surface the same degradation loudly
            warnings.warn(
                f"{label}: {e}; rows remain session-journaled and "
                f"flush on the next batch, read, or flush call",
                stacklevel=3,
            )

# privilege checked at the boundary -> the UC audit action name the
# reference's queries filter on (compliance_policies.py:321-334 uses
# getTable/commandSubmit)
_PRIV_ACTION = {
    "SELECT": "getTable",
    "MODIFY": "commandSubmit",
    "CREATE": "createTable",
    "USAGE": "getCatalog",
    "ALL PRIVILEGES": "getTable",
}


def record_access(
    spark: SparkSession,
    privilege: str,
    securable: str,
    status_code: int,
    action: str | None = None,
) -> None:
    """Append one access event (called from ``access_control.enforce``
    and the GRANT/REVOKE SQL surface while enforcement is on)."""
    from . import access_control as acl

    principals = sorted(acl.current_principals(spark))
    email = principals[0] if principals else "anonymous"
    now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    sid = session_key(spark)
    act = action or _PRIV_ACTION.get(privilege.upper(), "commandSubmit")
    _journal_event(
        spark,
        (now, now, email, act, securable, status_code),
        _AUDIT,
        _AUDIT_PENDING,
        _AUDIT_SEQ,
        _audit_path,
        flush_audit,
        "audit",
    )


def _require_system_admin(spark: SparkSession, table: str) -> None:
    """UC gates audit/query-history/lineage system tables on account
    admins; the engine's equivalent (while enforcement is on) is
    ADMINS_CONF membership or ALL PRIVILEGES on the ``system``
    catalog. No-op otherwise."""
    from . import access_control as acl

    if acl.enabled(spark) and not acl.can_manage(spark, "system"):
        # denied probes of system tables are themselves audit events
        # (the module contract: every enforced check is recorded)
        record_access(spark, "SELECT", table, 403)
        who = sorted(acl.current_principals(spark)) or ["<anonymous>"]
        raise PermissionError(
            f"principal {who} may not read {table}: requires "
            f"{acl.ADMINS_CONF} membership or ALL PRIVILEGES on 'system'"
        )


def _audit_view(df: DataFrame) -> DataFrame:
    """Reconstruct the nested UC audit schema from flat rows (drops
    the session/seq identity columns)."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("event_time"),
        F.col("ts").alias("timestamp"),
        F.struct(F.col("email").alias("email")).alias("user_identity"),
        F.col("action_name"),
        F.struct(F.col("full_name_arg").alias("full_name_arg")).alias(
            "request_params"
        ),
        F.struct(F.col("status_code").alias("status_code")).alias(
            "response"
        ),
    )


def audit_df(spark: SparkSession) -> DataFrame:
    """The access events as ``system.access.audit``. Admin-gated while
    enforcement is on; wide open otherwise — the SESSION buffer is
    then empty anyway because recording only happens under
    enforcement. With ``AUDIT_PATH_CONF`` set AND enforcement on, this
    session's pending tail is flushed first (failures propagate — a
    silently partial audit is worse than an error) and the DURABLE
    table serves ALL sessions' history, the UC shape: a distributed
    read of the LakeTable deduplicated on the (session, seq) row
    identity, never a driver-side collect. With enforcement OFF the
    durable history is NOT served — there is no admin gate to pass,
    and the whole multi-session trail (which the gate exists to
    protect) must not be readable just because the recording session's
    conf is visible."""
    from . import access_control as acl

    _require_system_admin(spark, "system.access.audit")
    path = _audit_path(spark)
    sid = session_key(spark)
    buf = _AUDIT.get(sid, [])

    def _session_view() -> DataFrame:
        rows = list(buf)
        # a session-view read over a DEGRADED durable journal (path
        # set, last flush failed, more than one batch pending — the
        # enforcement-off shape the read-path flush never reaches)
        # serves an explicit degradation row: an operator reading the
        # trail must see that the durable copy is behind
        h = _FLUSH_HEALTH.get((sid, "audit"))
        pend = _AUDIT_PENDING.get(sid, [])
        if path and h and len(pend) > _AUDIT_FLUSH_EVERY:
            now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
            rows = rows + [(
                sid, -1, now, now, "system", "journalFlushDegraded",
                f"{len(pend)} audit rows pending durable flush after "
                f"{h[0]} consecutive failures; last error: {h[1]}",
                503,
            )]
        return _audit_view(spark.createDataFrame(rows, _DUR_AUDIT_SCHEMA))

    if not path or not acl.enabled(spark):
        return _session_view()
    from ..tables import LakeTable

    flush_audit(spark)
    if not LakeTable.is_table(path):
        # conf set but nothing ever flushed (no events recorded)
        return _session_view()
    return _audit_view(
        LakeTable.for_path(spark, path)
        .to_df()
        .dropDuplicates(["session_id", "seq"])
    )


# ---------------------------------------------------------------------------
# system.query.history
# ---------------------------------------------------------------------------

# session -> list of query events; capped FIFO like the audit buffer
_QUERY_HISTORY: dict[str, list[tuple]] = {}

_QUERY_HISTORY_SCHEMA = (
    "statement_text string, total_duration_ms long, rows_produced long, "
    "read_bytes long, executed_by string, warehouse_id string, "
    "start_time timestamp, end_time timestamp"
)


def record_query(
    spark: SparkSession,
    statement_text: str,
    start: _dt.datetime,
    duration_ms: int,
    rows_produced: int | None = None,
) -> None:
    """Append one statement to the session's query history (called from
    ``sqlpack.run_statement`` for every statement it executes). For
    lazy SELECTs the duration covers parse/analyze/plan — execution
    happens at the caller's action — while DML statements (executed
    eagerly) carry their full runtime and affected-row count. The
    reference's slow-query report (``sql_warehouse_management.py:
    280-296``) filters on total_duration_ms/start_time, both real."""
    try:
        principal = spark.conf.get("spark.engine.principal")
    except Exception:  # noqa: BLE001
        principal = None
    try:
        master = spark.conf.get("spark.master")
    except Exception:  # noqa: BLE001
        master = "local"
    sid = session_key(spark)
    row = (
        statement_text,
        duration_ms,
        rows_produced,
        None,  # read_bytes: not tracked per-statement
        principal or "engine",
        master,
        start.replace(tzinfo=None),
        (start + _dt.timedelta(milliseconds=duration_ms)).replace(
            tzinfo=None
        ),
    )
    # shares the write-behind batching/identity contract of the audit
    # log (one row object in both the buffer and the journal)
    _journal_event(
        spark,
        row,
        _QUERY_HISTORY,
        _QH_PENDING,
        _QH_SEQ,
        _qh_path,
        flush_query_history,
        "query history",
    )


# opt-in durability for system.query.history, same contract as the
# audit log: batched write-behind, (session, seq) identity, reads
# serve the durable table (all sessions) after flushing the tail
QUERY_HISTORY_PATH_CONF = "spark.engine.queryHistory.path"
_QH_PENDING: dict[str, list[tuple]] = {}
_QH_SEQ: dict[str, int] = {}
_DUR_QH_SCHEMA = "session_id string, seq long, " + _QUERY_HISTORY_SCHEMA


def _qh_path(spark: SparkSession) -> str | None:
    try:
        return spark.conf.get(QUERY_HISTORY_PATH_CONF) or None
    except Exception:  # noqa: BLE001
        return None


def flush_query_history(spark: SparkSession) -> int:
    """Append this session's pending query-history rows to the durable
    table (no-op without ``QUERY_HISTORY_PATH_CONF``); same failure
    contract as ``flush_audit``."""
    return _flush_journal(
        spark, _qh_path(spark), _QH_PENDING, _DUR_QH_SCHEMA,
        "query history",
    )


def query_history_df(spark: SparkSession) -> DataFrame:
    """Admin-gated like the audit view: statement texts carry literals
    (predicates over PII values) every principal's queries share. With
    ``QUERY_HISTORY_PATH_CONF`` set AND enforcement on, serves the
    durable table (all sessions' history) after flushing this
    session's pending tail — a distributed LakeTable read deduplicated
    on (session, seq). With enforcement OFF only the session's own
    buffer is served (same no-gate-no-durable-history rule as
    ``audit_df``)."""
    from . import access_control as acl

    _require_system_admin(spark, "system.query.history")
    path = _qh_path(spark)
    sid = session_key(spark)
    buf = _QUERY_HISTORY.get(sid, [])

    def _session_view() -> DataFrame:
        rows = list(buf)
        # same degradation row as audit_df: with the durable journal
        # failing and enforcement off (query history records every
        # statement regardless), the session view is all an operator
        # sees — make the durable gap explicit in it
        h = _FLUSH_HEALTH.get((sid, "query history"))
        pend = _QH_PENDING.get(sid, [])
        if path and h and len(pend) > _AUDIT_FLUSH_EVERY:
            now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
            rows = rows + [(
                sid, -1,
                f"-- DEGRADED: {len(pend)} query-history rows pending "
                f"durable flush after {h[0]} consecutive failures; "
                f"last error: {h[1]}",
                0, None, None, "system", "journalFlushDegraded",
                now, now,
            )]
        return spark.createDataFrame(rows, _DUR_QH_SCHEMA).drop(
            "session_id", "seq"
        )

    if not path or not acl.enabled(spark):
        return _session_view()
    from ..tables import LakeTable

    flush_query_history(spark)
    if not LakeTable.is_table(path):
        return _session_view()
    return (
        LakeTable.for_path(spark, path)
        .to_df()
        .dropDuplicates(["session_id", "seq"])
        .drop("session_id", "seq")
    )


# ---------------------------------------------------------------------------
# system.lineage.table_lineage
# ---------------------------------------------------------------------------

# session -> {(source_full_name, target_full_name, source_type,
# target_type)}: a SET — lineage is an edge list, re-running a pipeline
# must not duplicate edges
_LINEAGE: dict[str, set[tuple[str, str, str, str]]] = {}

_LINEAGE_SCHEMA = (
    "source_table_full_name string, target_table_full_name string, "
    "source_type string, target_type string"
)

# opt-in durability (UC's system.access lineage tables are durable
# account state; the engine's buffers are session dicts): with this
# conf set to a LakeTable path, both lineage system tables serve
# buffer ∪ table, and the session's not-yet-persisted edges are
# flushed to the table when a lineage table is READ — never on the
# DML hot path (a Delta commit per mutating statement would be real
# latency; lineage reads are rare and the flush piggybacks on them).
# Flushes append only edges missing from the table (edges are facts —
# a set, not a log), so scheduled re-runs of the same job do not grow
# it; a concurrent-flush race can duplicate a row, which the DISTINCT
# merge at read absorbs and later flushes do not repeat.
LINEAGE_PATH_CONF = "spark.engine.lineage.path"

_DUR_LINEAGE_SCHEMA = (
    "kind string, source_table_full_name string, "
    "source_column_name string, target_table_full_name string, "
    "target_column_name string, source_type string, target_type string"
)

# (session, durable path) -> edges already flushed to THAT table
# (pending = in-memory set minus these). Keyed by path too: a session
# repointed at a different registry must re-flush everything there,
# or the new table would permanently lack this session's edges.
_LIN_PERSISTED: dict[tuple[str, str], set[tuple[str, str, str, str]]] = {}
_COL_PERSISTED: dict[tuple[str, str], set[tuple[str, str, str, str]]] = {}


def _lineage_path(spark: SparkSession) -> str | None:
    try:
        return spark.conf.get(LINEAGE_PATH_CONF) or None
    except Exception:  # noqa: BLE001
        return None


def _durable_lineage_rows(
    spark: SparkSession, path: str
) -> tuple[set, set]:
    """``(table_edges, column_edges)`` from the durable lineage table.
    A whole-table read: lineage is a fact set over table/column NAMES
    (bounded by schema size, not data), and the diff-append flush
    keeps it duplicate-free, so this stays O(edges). Unreadable table
    fails loudly — silently serving partial lineage would misreport
    data provenance."""
    from ..tables import LakeTable

    if not LakeTable.is_table(path):
        return set(), set()
    t_edges: set = set()
    c_edges: set = set()
    for r in LakeTable.for_path(spark, path).to_df().collect():
        if r["kind"] == "table":
            t_edges.add(
                (
                    r["source_table_full_name"],
                    r["target_table_full_name"],
                    r["source_type"],
                    r["target_type"],
                )
            )
        else:
            c_edges.add(
                (
                    r["source_table_full_name"],
                    r["source_column_name"],
                    r["target_table_full_name"],
                    r["target_column_name"],
                )
            )
    return t_edges, c_edges


def _merged_lineage(spark: SparkSession) -> tuple[set, set] | None:
    """Flush this session's pending edges to the durable table and
    return its full ``(table_edges, column_edges)``; None when the
    conf is unset. Flush failures WARN and leave the edges pending
    (the read still serves buffer ∪ whatever the table holds); read
    failures raise."""
    import warnings

    path = _lineage_path(spark)
    if not path:
        return None
    from ..tables import LakeTable

    sid = session_key(spark)
    pkey = (sid, path)
    disk_t, disk_c = _durable_lineage_rows(spark, path)
    pend_t = _LINEAGE.get(sid, set()) - _LIN_PERSISTED.get(pkey, set())
    pend_c = _COL_LINEAGE.get(sid, set()) - _COL_PERSISTED.get(
        pkey, set()
    )
    new_t = sorted(pend_t - disk_t)
    new_c = sorted(pend_c - disk_c)
    if new_t or new_c:
        rows = [
            ("table", s, None, t, None, st, tt) for s, t, st, tt in new_t
        ] + [
            ("column", st_, sc, tt_, tc, None, None)
            for st_, sc, tt_, tc in new_c
        ]
        df = spark.createDataFrame(rows, _DUR_LINEAGE_SCHEMA)
        try:
            _append_or_create(spark, path, df)
        except Exception as e:  # noqa: BLE001
            warnings.warn(
                f"lineage: could not persist {len(rows)} edge(s) to "
                f"{path} ({e}); they remain session-buffered",
                stacklevel=2,
            )
            return disk_t, disk_c
    _LIN_PERSISTED.setdefault(pkey, set()).update(pend_t)
    _COL_PERSISTED.setdefault(pkey, set()).update(pend_c)
    return disk_t | pend_t, disk_c | pend_c


def record_lineage(
    spark: SparkSession,
    source: str,
    target: str,
    source_type: str = "TABLE",
    target_type: str = "TABLE",
) -> None:
    """Record one table-to-table dependency edge. Called from the DML
    boundary (MERGE/INSERT read sources -> write target) and available
    to the pipeline runner; UC derives the same edges from query plans
    (reference ``lineage_and_audit.py:115-124``)."""
    _LINEAGE.setdefault(session_key(spark), set()).add(
        (source.lower(), target.lower(), source_type, target_type)
    )


def table_lineage_df(spark: SparkSession) -> DataFrame:
    """Admin-gated: edges reveal the names of tables a principal may
    not be able to list. With ``LINEAGE_PATH_CONF`` set, serves the
    session buffer merged with the durable table (flushing this
    session's pending edges first)."""
    _require_system_admin(spark, "system.lineage.table_lineage")
    edges = set(_LINEAGE.get(session_key(spark), set()))
    merged = _merged_lineage(spark)
    if merged is not None:
        edges |= merged[0]
    return spark.createDataFrame(sorted(edges), _LINEAGE_SCHEMA)


# session -> {(source_table, source_column, target_table,
# target_column)} — edges derived ONLY from plain projections
# (CTAS / INSERT-SELECT with bare or aliased column references);
# expression-derived columns are deliberately NOT attributed, so the
# view under-reports rather than fabricates (UC's plan-derived
# lineage has the same attributable-only property)
_COL_LINEAGE: dict[str, set[tuple[str, str, str, str]]] = {}

_COL_LINEAGE_SCHEMA = (
    "source_table_full_name string, source_column_name string, "
    "target_table_full_name string, target_column_name string"
)


def record_column_lineage(
    spark: SparkSession,
    source_table: str,
    source_column: str,
    target_table: str,
    target_column: str,
) -> None:
    _COL_LINEAGE.setdefault(session_key(spark), set()).add(
        (
            source_table.lower(),
            source_column.lower(),
            target_table.lower(),
            target_column.lower(),
        )
    )


def column_lineage_df(spark: SparkSession) -> DataFrame:
    """Admin-gated like table_lineage_df (column names reveal schema
    the principal may not be able to describe); durable-merged the
    same way."""
    _require_system_admin(spark, "system.lineage.column_lineage")
    edges = set(_COL_LINEAGE.get(session_key(spark), set()))
    merged = _merged_lineage(spark)
    if merged is not None:
        edges |= merged[1]
    return spark.createDataFrame(sorted(edges), _COL_LINEAGE_SCHEMA)


# ---------------------------------------------------------------------------
# system.storage.tables
# ---------------------------------------------------------------------------


def storage_tables_df(spark: SparkSession) -> DataFrame:
    """One row of size/layout metadata per visible registered table
    (the reference's system-table tour lists this as 'table metadata
    and sizes'; the engine serves it from commit-log file statistics —
    no data read)."""
    rows = []
    for name, t in _visible_tables(spark):
        cat, sch, tbl = _split_name(name)
        try:
            files = t._files()
        except Exception:  # noqa: BLE001
            continue
        rows.append(
            (
                cat,
                sch,
                tbl,
                t.root,
                len(files),
                sum(int(e.get("bytes") or e.get("size") or 0) for e in files),
            )
        )
    return spark.createDataFrame(
        rows,
        "table_catalog string, table_schema string, table_name string, "
        "storage_path string, num_files long, size_in_bytes long",
    )


def _unsupported(name: str, why: str):
    def _raise(spark: SparkSession) -> DataFrame:
        raise NotImplementedError(f"system table {name} is unsupported: {why}")

    return _raise


# ---------------------------------------------------------------------------
# SQL re-pointing
# ---------------------------------------------------------------------------

_SYS_TABLES: list[tuple[str, str, Callable[[SparkSession], DataFrame]]] = [
    (
        r"\bsystem\s*\.\s*information_schema\s*\.\s*catalogs\b",
        "engine_sys_is_catalogs",
        catalogs_df,
    ),
    (
        r"\bsystem\s*\.\s*information_schema\s*\.\s*schemata\b",
        "engine_sys_is_schemata",
        schemata_df,
    ),
    (
        r"\bsystem\s*\.\s*information_schema\s*\.\s*tables\b",
        "engine_sys_is_tables",
        tables_df,
    ),
    (
        r"\bsystem\s*\.\s*information_schema\s*\.\s*columns\b",
        "engine_sys_is_columns",
        columns_df,
    ),
    (
        r"\bsystem\s*\.\s*information_schema\s*\.\s*table_tags\b",
        "engine_sys_table_tags",
        table_tags_df,
    ),
    (
        r"\bsystem\s*\.\s*information_schema\s*\.\s*column_tags\b",
        "engine_sys_column_tags",
        column_tags_df,
    ),
    (
        r"\bsystem\s*\.\s*information_schema\s*\.\s*catalog_tags\b",
        "engine_sys_catalog_tags",
        catalog_tags_df,
    ),
    (
        r"\bsystem\s*\.\s*information_schema\s*\.\s*schema_tags\b",
        "engine_sys_schema_tags",
        schema_tags_df,
    ),
    (
        r"\bsystem\s*\.\s*access\s*\.\s*audit\b",
        "engine_sys_access_audit",
        audit_df,
    ),
    (
        r"\bsystem\s*\.\s*query\s*\.\s*history\b",
        "engine_sys_query_history",
        query_history_df,
    ),
    (
        r"\bsystem\s*\.\s*lineage\s*\.\s*table_lineage\b",
        "engine_sys_table_lineage",
        table_lineage_df,
    ),
    (
        r"\bsystem\s*\.\s*storage\s*\.\s*tables\b",
        "engine_sys_storage_tables",
        storage_tables_df,
    ),
    (
        r"\bsystem\s*\.\s*lineage\s*\.\s*column_lineage\b",
        "engine_sys_column_lineage",
        column_lineage_df,
    ),
    # loud refusals: these UC system tables describe managed-workspace
    # infrastructure (cost meters, cluster registry) — an empty view
    # would read as "nothing happened", which is worse than an error
    (
        r"\bsystem\s*\.\s*billing\s*\.\s*usage\b",
        "engine_sys_billing_usage",
        _unsupported(
            "system.billing.usage",
            "no managed-workspace cost meter exists in the engine",
        ),
    ),
    (
        r"\bsystem\s*\.\s*compute\s*\.\s*clusters\b",
        "engine_sys_compute_clusters",
        _unsupported(
            "system.compute.clusters",
            "no managed-cluster registry exists in the engine",
        ),
    ),
]


def repoint(spark: SparkSession, sql: str) -> tuple[str, list[str]]:
    """Rewrite ``system.*`` table references to engine temp views,
    refreshing each referenced view from live metadata first. Quote-
    aware: occurrences inside string literals are left alone.

    Returns ``(rewritten_sql, created_view_names)`` — the caller MUST
    drop the views after running the statement (``drop_views``): they
    materialize gated/principal-filtered snapshots, and a later
    principal could otherwise read them directly under the
    ``engine_sys_*`` names, bypassing the gate. Dropping is safe
    because ``spark.sql`` analyzes eagerly — the returned DataFrame
    keeps its resolved plan."""
    from ..tables import sqldml

    if "system" not in sql.lower():
        # cheap short-circuit: every pattern starts with `system.`
        return sql, []
    out = sql
    created: list[str] = []
    try:
        for pattern, view, builder in _SYS_TABLES:
            mask = sqldml._mask(out)
            hits = [
                m
                for m in re.finditer(pattern, out, re.IGNORECASE)
                if not mask[m.start()][1]
            ]
            if not hits:
                continue
            builder(spark).createOrReplaceTempView(view)
            created.append(view)
            pieces, prev = [], 0
            for m in hits:
                pieces.append(out[prev : m.start()])
                pieces.append(view)
                prev = m.end()
            pieces.append(out[prev:])
            out = "".join(pieces)
    except Exception:
        # a later builder raising (gate denial, unsupported table) must
        # not leave earlier views behind — they hold gated snapshots
        drop_views(spark, created)
        raise
    return out, created


def drop_views(spark: SparkSession, views: list[str]) -> None:
    for v in views:
        try:
            spark.catalog.dropTempView(v)
        except Exception:  # noqa: BLE001
            pass

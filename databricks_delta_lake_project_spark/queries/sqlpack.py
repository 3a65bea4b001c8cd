"""SQL-string entry path (SURVEY §3.2): the reference drives
dashboards/alerts through Databricks-flavored SQL
(``src/databricks_sql/sql_queries_and_dashboards.py``). The engine
accepts that dialect, normalizes it to OSS Spark SQL, and runs it via
``spark.sql`` over registered views — exercising the parse -> analyze
-> optimize lifecycle (not the DataFrame DSL).

Dialect translations (SURVEY §3.2 / §2.11 mapping table):

* ``DATEADD(unit, n, ts)``      -> ``timestampadd(unit, n, ts)``
* ``DATEDIFF(unit, a, b)``      -> ``timestampdiff(unit, a, b)``
* ``TIMESTAMPDIFF``/``TIMESTAMPADD`` pass through (Spark >= 3.3)
* ``GETDATE()``                 -> ``current_timestamp()``
* ``IS_ACCOUNT_GROUP_MEMBER(g)``-> ``engine_is_group_member(g)``
  (registered UDF over session-configured groups, U3)
* ``FROM (DESCRIBE HISTORY t)`` -> ``FROM t__history`` (a view the
  engine registers from ``LakeTable.history()``, X5)
* ``delta.`/path` VERSION AS OF n`` / ``TIMESTAMP AS OF 'ts'`` ->
  snapshot temp view over ``LakeTable.for_path(...).to_df(...)``
  (reference ``src/utils/delta_lake_features.py:103-108``; the
  time-travel rewrite needs a session so it runs in ``run_sql``, not
  the pure-string ``normalize_sql``)
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.masking import GROUPS_CONF_KEY
from ..session import session_key
from .catalog import TABLES, load

_RULES: list[tuple[str, str]] = [
    (r"\bDATEADD\s*\(", "timestampadd("),
    (r"\bDATEDIFF\s*\(\s*(DAY|HOUR|MINUTE|SECOND|MONTH|YEAR)\b", r"timestampdiff(\1"),
    (r"\bGETDATE\s*\(\s*\)", "current_timestamp()"),
    (r"\bIS_ACCOUNT_GROUP_MEMBER\s*\(", "engine_is_group_member("),
    (r"FROM\s*\(\s*DESCRIBE\s+HISTORY\s+(\w+)\s*\)", r"FROM \1__history"),
]

# Databricks JSON-path extraction on the event-log details column
# ([alias.]details:flow_progress.data_quality.expectations,
# quality_monitoring.py:142) -> OSS get_json_object. Scoped to the
# 'details' column — a bare (\w+):(path) rule would rewrite time
# literals like '12:30' — and applied QUOTE-AWARE below, so a string
# literal containing 'details:...' is untouched
_DETAILS_PATH_RE = re.compile(
    # the full (possibly multi-part, possibly backticked) qualifier
    # chain is captured so db.tbl.details:p rewrites as one unit —
    # capturing only one \w+ part would emit db.get_json_object(...)
    r"(?:(?P<qual>(?:`[^`]+`|\w+)(?:\s*\.\s*(?:`[^`]+`|\w+))*)\s*\.\s*)?"
    r"\b(?P<kw>details)\s*:\s*(?P<path>[A-Za-z_][\w.]*)",
    re.IGNORECASE,
)


def _rewrite_qualify(sql: str, substitute_aliases: bool = False) -> str:
    """Databricks/Snowflake ``QUALIFY <pred>`` -> OSS Spark (which has
    no QUALIFY): compute the predicate as an extra select item inside
    a subquery (post-WHERE/GROUP BY/HAVING, lateral aliases and named
    WINDOWs resolve exactly as QUALIFY's contract requires), filter on
    it outside, and drop the helper via ``SELECT * EXCEPT``. Only the
    OUTERMOST select's depth-0 QUALIFY rewrites; shapes whose
    semantics the wrap could change bail UNTOUCHED and surface
    Spark's own parse error instead of a silent misread: depth-0 set
    operations (QUALIFY binds per branch), SELECT DISTINCT (an added
    item changes the distinct key), and subquery-level QUALIFYs.

    ``substitute_aliases`` textually replaces bare select-list alias
    references in the predicate with their defining expressions —
    the retry path for predicates whose WINDOW references an alias
    (OSS Spark refuses lateral aliases in windows, Databricks
    resolves them). Only taken after the plain rewrite failed with
    that exact error, so a genuine source column sharing an alias
    name keeps native resolution."""
    if not re.search(r"\bQUALIFY\b", sql, re.IGNORECASE):
        return sql
    from ..tables.sqldml import _mask

    mask = _mask(sql)
    quals = [
        m
        for m in re.finditer(r"\bQUALIFY\b", sql, re.IGNORECASE)
        if mask[m.start()] == (0, False)
    ]
    if len(quals) != 1:
        return sql
    mq = quals[0]
    msel = None
    for m in re.finditer(r"\bSELECT\b", sql, re.IGNORECASE):
        if mask[m.start()] == (0, False):
            msel = m
            break
    if msel is None or msel.start() > mq.start():
        return sql
    if re.match(r"\s*DISTINCT\b", sql[msel.end():], re.IGNORECASE):
        return sql
    for m in re.finditer(
        r"\b(UNION|INTERSECT|EXCEPT|MINUS)\b", sql, re.IGNORECASE
    ):
        if mask[m.start()] != (0, False):
            continue
        k = m.start() - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        if k >= 0 and sql[k] == "*":
            continue  # `* EXCEPT (c)` is star syntax, not a set op
        return sql
    mfrom = None
    for m in re.finditer(r"\bFROM\b", sql, re.IGNORECASE):
        if m.start() > msel.end() and mask[m.start()] == (0, False):
            mfrom = m
            break
    if mfrom is None or mfrom.start() > mq.start():
        return sql
    # predicate runs to the next depth-0 tail clause (or statement end)
    tail_at = len(sql)
    for m in re.finditer(r"\b(ORDER|LIMIT|OFFSET)\b", sql, re.IGNORECASE):
        if m.start() > mq.end() and mask[m.start()] == (0, False):
            tail_at = m.start()
            break
    pred = sql[mq.end(): tail_at].strip().rstrip(";")
    if not pred:
        return sql
    tail = sql[tail_at:].strip().rstrip(";")
    head = sql[: msel.start()]
    if substitute_aliases:
        from ..tables import sqldml

        amap: dict[str, str] = {}
        for it in sqldml._split_commas(sql[msel.end(): mfrom.start()]):
            expr, alias = _split_item_alias(it)
            if alias is not None:
                amap[alias.lower()] = expr.strip()
        if amap:
            pmask = sqldml._mask(pred)
            outp: list[str] = []
            prev = 0
            for tm in re.finditer(r"[A-Za-z_]\w*", pred):
                tok = tm.group(0).lower()
                if (
                    tok not in amap
                    or pmask[tm.start()][1]
                ):
                    continue
                k = tm.start() - 1
                while k >= 0 and pred[k].isspace():
                    k -= 1
                if k >= 0 and pred[k] == ".":
                    continue  # qualified: never an alias ref
                j = tm.end()
                while j < len(pred) and pred[j].isspace():
                    j += 1
                if j < len(pred) and pred[j] == "(":
                    continue  # call position
                outp.append(pred[prev: tm.start()])
                outp.append("(" + amap[tok] + ")")
                prev = tm.end()
            outp.append(pred[prev:])
            pred = "".join(outp)
    inner = (
        sql[msel.start(): mfrom.start()]
        + f", ({pred}) AS __qualify_pred__ "
        + sql[mfrom.start(): mq.start()]
    )
    out = (
        head
        + "SELECT * EXCEPT (__qualify_pred__) FROM ("
        + inner
        + ") WHERE __qualify_pred__"
    )
    if tail:
        out += " " + tail
    return out


def normalize_sql(sql: str, qualify_aliases: bool = False) -> str:
    """Databricks dialect -> OSS Spark SQL."""
    out = sql
    for pat, repl in _RULES:
        out = re.sub(pat, repl, out, flags=re.IGNORECASE)
    out = _rewrite_qualify(out, substitute_aliases=qualify_aliases)
    if _DETAILS_PATH_RE.search(out):
        from ..tables.sqldml import _mask

        mask = _mask(out)
        parts, pos = [], 0
        for m in _DETAILS_PATH_RE.finditer(out):
            # masked at the KEYWORD, not the match start: a backtick
            # qualifier (`e`.details:x) begins inside a quoted
            # identifier span, but the extraction itself is code; a
            # 'details:abc' string literal stays untouched either way
            if mask[m.start("kw")][1]:
                continue
            qual = f"{m.group('qual')}." if m.group("qual") else ""
            parts.append(out[pos : m.start()])
            parts.append(
                f"get_json_object({qual}details, '$.{m.group('path')}')"
            )
            pos = m.end()
        parts.append(out[pos:])
        out = "".join(parts)
    return out


_registered: dict[str, str] = {}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views for every engine table + the group-membership UDF, so
    SQL-pack queries resolve like the reference's catalog tables.
    View creation is cached per (session, sf_dir); the UDF re-registers
    every call because the principal's groups may have changed."""
    key = session_key(spark)
    if _registered.get(key) != sf_dir:
        for t in TABLES:
            load(spark, sf_dir, t).createOrReplaceTempView(t)
        _registered[key] = sf_dir

    _ensure_group_udf(spark)


def _ensure_group_udf(spark: SparkSession) -> None:
    """(Re-)register ``engine_is_group_member`` with a FRESH snapshot of
    the session principal's groups. Registered as a SQL temp function
    (not a Python UDF): the analyzer inlines the body into the calling
    plan, so ``engine_is_group_member('pii_authorized')`` becomes
    ``array_contains(array(<group literals>), 'pii_authorized')`` — a
    constant the optimizer folds away. Masked/RLS scans therefore stay
    inside whole-stage codegen with NO BatchEvalPython, and membership
    changes apply because every statement that can evaluate the
    function re-registers it (and masked views re-analyze per
    statement)."""
    try:
        raw = spark.conf.get(GROUPS_CONF_KEY)
    except Exception:
        raw = ""
    groups = sorted({g.strip() for g in (raw or "").split(",") if g.strip()})
    if groups:
        lits = ", ".join(
            "'" + g.replace("\\", "\\\\").replace("'", "\\'") + "'"
            for g in groups
        )
        body = f"array_contains(array({lits}), g)"
    else:
        body = "false"
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION engine_is_group_member"
        f"(g STRING) RETURNS BOOLEAN RETURN {body}"
    )


# `delta.`/path`` or bare `` `/path` `` followed by a time-travel
# clause. Matches in FROM and JOIN positions alike.
_TIME_TRAVEL_RE = re.compile(
    r"(?:\bdelta\s*\.\s*)?`([^`]+)`\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|\d+)",
    re.IGNORECASE,
)


def _travel_ts_ms(literal: str) -> int:
    dt = datetime.fromisoformat(literal.strip("'"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def rewrite_time_travel(spark: SparkSession, sql: str) -> str:
    """Replace each ``<path> VERSION|TIMESTAMP AS OF <v>`` table ref
    with a temp view holding that snapshot. Path tables resolve through
    ``LakeTable.for_path``, so every Delta table gets both forms."""
    from ..tables import LakeTable

    def _sub(m: re.Match) -> str:
        path, kind, literal = m.group(1), m.group(2).upper(), m.group(3)
        t = LakeTable.for_path(spark, path)
        if kind == "VERSION":
            df = t.to_df(version=int(literal))
            tag = literal
        else:
            ts_ms = _travel_ts_ms(literal)
            df = t.to_df(timestamp_ms=ts_ms)
            tag = str(ts_ms)
        view = "tt_" + re.sub(r"\W", "_", f"{path}_{kind}_{tag}").strip("_")
        df.createOrReplaceTempView(view)
        return view

    return _TIME_TRAVEL_RE.sub(_sub, sql)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    register_views(spark, sf_dir)
    return run_statement(spark, sql)


# session -> {qualified_function_name_lower: temp_basename}: the
# reference creates SQL scalar UDFs under 3-part UC names
# (``governance/access_control.py:111-133`` CREATE OR REPLACE FUNCTION
# catalog.gold.mask_email ... RETURN ...). OSS Spark's session catalog
# rejects multi-part persistent function names, so the engine creates
# them as TEMPORARY functions under the basename and re-points later
# full-name calls. PySpark 4.1 SQL UDF bodies resolve
# ``engine_is_group_member`` (the IS_ACCOUNT_GROUP_MEMBER rewrite) at
# query time, so group-membership changes apply without re-creating
# the function.
_FUNCS: dict[str, dict[str, str]] = {}

_CREATE_FN_RE = re.compile(
    r"^(?P<head>\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?"
    r"FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?)(?P<name>`[^`]+`|[\w.]+)"
    r"(?=\s*\()",
    re.IGNORECASE,
)


def _rewrite_functions(spark: SparkSession, sql: str) -> str:
    sid = session_key(spark)
    m = _CREATE_FN_RE.match(sql)
    if m:
        full = m.group("name").strip("`")
        if "." not in full:
            return sql  # 1-part names work natively; leave untouched
        base = full.split(".")[-1]
        if not re.fullmatch(r"\w+", base):
            raise ValueError(f"CREATE FUNCTION: bad name {full!r}")
        fmap = _FUNCS.setdefault(sid, {})
        created_before = full.lower() in fmap
        if not created_before:
            # the temp-function namespace is session-global by
            # BASENAME (case-insensitive, like every Spark function
            # name): refuse (loudly) a second full name that would
            # silently capture an existing binding (cat1.gold.fn then
            # cat2.gold.fn would both resolve to one body)
            clash = [
                f for f, b in fmap.items() if b.lower() == base.lower()
            ]
            if clash:
                raise ValueError(
                    f"CREATE FUNCTION: basename {base!r} is already "
                    f"bound to {clash[0]!r}; temp functions resolve by "
                    "basename — pick a distinct function name"
                )
        head = m.group("head")
        ine = re.search(r"IF\s+NOT\s+EXISTS\s+", head, re.IGNORECASE)
        if ine:
            # Spark forbids TEMPORARY FUNCTION IF NOT EXISTS: emulate
            # the idempotence against OUR registry (functionExists
            # would also match builtins), then strip the clause
            if created_before:
                return (
                    f"SELECT '{base}' AS function_name, false AS created"
                )
            head = head[: ine.start()] + head[ine.end():]
        fmap[full.lower()] = base
        head = re.sub(
            r"CREATE\s+(OR\s+REPLACE\s+)?(TEMPORARY\s+)?FUNCTION",
            lambda mm: "CREATE "
            + (mm.group(1) or "")
            + "TEMPORARY FUNCTION",
            head,
            count=1,
            flags=re.IGNORECASE,
        )
        return head + base + sql[m.end("name"):]
    from ..tables import sqldml

    for full, base in _FUNCS.get(sid, {}).items():
        # quote-aware (a full name inside a string literal stays data)
        # and boundary-guarded: `xcat.gold.fn(` / `other.cat.gold.fn(`
        # must not suffix-match a registered `cat.gold.fn`
        sql = sqldml._replace_outside_quotes(
            sql, r"(?<![\w.])" + re.escape(full) + r"(?=\s*\()", base
        )
    return sql


def run_statement(spark: SparkSession, sql: str) -> DataFrame:
    """One SQL statement, SELECT or DML. DML (MERGE INTO / UPDATE /
    DELETE FROM / INSERT) routes through the engine's DML parser to
    MergeBuilder/update/delete/append — the reference's SQL MERGE
    scripts (``delta_lake_features.py:268-323``) run verbatim — and
    returns the one-row metrics DataFrame Databricks SQL returns for
    DML. Everything else goes to ``spark.sql`` after dialect
    normalization.

    Every successful statement lands in ``system.query.history``
    (driver-side tuple append; lazy SELECT durations cover
    parse/analyze only — execution happens at the caller's action)."""
    import time as _time

    from ..governance import systables

    start = datetime.now(timezone.utc)
    t0 = _time.perf_counter()
    qctx: dict = {"rows": None}
    out = _run_statement_impl(spark, sql, _qctx=qctx)
    systables.record_query(
        spark,
        sql.strip(),
        start,
        int((_time.perf_counter() - t0) * 1000),
        rows_produced=qctx["rows"],
    )
    return out


_ROW_METRIC_KEYS = (
    "numAffectedRows",
    "numUpdatedRows",
    "numInsertedRows",
    "numDeletedRows",
    "numTargetRowsUpdated",
    "numTargetRowsInserted",
    "numTargetRowsDeleted",
)


def _affected_rows(metrics: dict) -> int | None:
    """DML affected-row count for query history. Specific per-action
    counters first; ``numOutputRows`` only as a FALLBACK (INSERT/CTAS,
    where it is the inserted count) — in MERGE metrics it counts every
    rewritten row including copied-unmodified ones, which must not
    inflate rows_produced."""
    vals = [
        int(metrics[k])
        for k in _ROW_METRIC_KEYS
        if isinstance(metrics.get(k), (int, float))
    ]
    if vals:
        return sum(vals)
    n = metrics.get("numOutputRows")
    return int(n) if isinstance(n, (int, float)) else None


# words that precede a NON-table FROM: EXTRACT(DAY FROM ts),
# TRIM(BOTH ' ' FROM s) — the ANSI keyword-FROM forms
_NON_TABLE_FROM_PRECEDERS = frozenset(
    {
        "year", "yearofweek", "quarter", "month", "week", "day",
        "dayofweek", "dayofweek_iso", "dow", "doy", "hour", "minute",
        "second", "millisecond", "microsecond", "epoch",
        "leading", "trailing", "both",
    }
)
# PLURAL interval-unit spellings (`ts + INTERVAL 7 DAYS`): expression
# tails the alias detector must never read as a trailing alias, and
# tokens the ref scanners must never attribute as column reads. Kept
# separate from _NON_TABLE_FROM_PRECEDERS because a plural unit right
# before FROM is usually the END of an interval literal — i.e. a
# TABLE FROM (`SELECT ts + interval 7 days FROM src`) — which
# _lineage_sources disambiguates with an interval-literal lookbehind.
_INTERVAL_PLURALS = frozenset(
    {
        "years", "quarters", "months", "weeks", "days", "hours",
        "minutes", "seconds", "milliseconds", "microseconds",
        "nanoseconds",
    }
)
# every spelling Spark's EXTRACT accepts as a field name (docs:
# YEAR/Y/YEARS/YR/YRS, MONTH/MON/MONS/MONTHS, DAY/D/DAYS, HOUR/H/HR/
# HRS/HOURS, MINUTE/M/MIN/MINS/MINUTES, SECOND/S/SEC/SECS/SECONDS,
# WEEK/W/WEEKS, QUARTER/QTR, DOW_ISO). Used by the table-level FROM
# scan: `extract(DAYS FROM ts)` must not read `ts` as a table (a
# registered table sharing a timestamp column's name would be a
# fabricated edge). The scan pairs this set with an opening-paren
# check — the field position only exists right after the function's
# "(" — so `SELECT x AS d FROM t` / `+ interval 7 days FROM t` keep
# their table edges.
_EXTRACT_FIELD_SYNONYMS = (
    _NON_TABLE_FROM_PRECEDERS
    | _INTERVAL_PLURALS
    | frozenset(
        {
            "y", "yr", "yrs", "qtr", "mon", "mons", "w", "d",
            "dow_iso", "h", "hr", "hrs", "m", "min", "mins",
            "s", "sec", "secs",
        }
    )
)


_SELECT_TAIL_RE = re.compile(
    r"\b(SELECT)\b", re.IGNORECASE
)
_PLAIN_ITEM_RE = re.compile(
    r"^\s*(?:(?P<qual>\w+)\s*\.\s*)?(?P<col>\w+)"
    r"(?:\s+(?:AS\s+)?(?P<alias>\w+))?\s*$",
    re.IGNORECASE,
)
_STAR_ITEM_RE = re.compile(r"^\s*(?:(?P<q>\w+)\s*\.\s*)?\*\s*$")
# FROM-clause grammar for column lineage: plain table refs combined
# by explicit JOINs or depth-0 commas (`FROM a, b` — a comma source
# resolves exactly like a CROSS JOIN one). These keyword sets drive
# the conservative parser below — any shape outside the grammar
# (subquery sources, NATURAL, LATERAL, VALUES, TABLESAMPLE, PIVOT)
# makes the whole statement derive nothing rather than risk
# mis-reading a source list (a missing source would silently flip an
# "unambiguous" unqualified-column attribution into a fabricated
# edge).
_FROM_TERMINATORS = frozenset(
    {
        "where", "group", "having", "order", "limit",
        "qualify", "distribute", "cluster", "sort",
        "union", "intersect", "except", "minus",
    }
)
# keywords that make the whole FROM clause unattributable wherever
# they appear: LATERAL changes the source list implicitly,
# TABLESAMPLE/PIVOT/UNPIVOT reshape rows or columns. NATURAL stays in
# the set for the alias/condition-skip roles but is parsed as a join
# connector by a dedicated branch BEFORE the bail check (r14). (A WINDOW clause
# — which defines a NAME that select items reference bare (``OVER w``)
# so a source column sharing that name would be fabricated as an edge
# — is handled by a dedicated whole-tail pre-scan instead: its legal
# position is AFTER WHERE/GROUP BY/HAVING, where the connector loop
# has already returned.)
_FROM_BAILERS = frozenset(
    {"natural", "lateral", "tablesample", "pivot", "unpivot"}
)
_JOIN_INTRO = frozenset(
    {"inner", "left", "right", "full", "cross", "semi", "anti",
     "outer", "join"}
)
# words that can never be a source's bare alias (they end or continue
# the FROM clause instead)
_SEG_STOP = (
    _FROM_TERMINATORS | _JOIN_INTRO | _FROM_BAILERS | {"on", "using", "values"}
)
_SEG_SRC_RE = re.compile(r"\s*(?P<src>`[^`]+`|[\w.]+)")
_SEG_WORD_RE = re.compile(r"\s*(?P<w>[A-Za-z_]\w*)")


def _clause_start_ok(w: str, tail: str, pos: int) -> bool:
    """Whether the text at ``pos`` (right after terminator word ``w``)
    can legally START that clause — GROUP/ORDER/CLUSTER/DISTRIBUTE/
    SORT demand BY, LIMIT a count, a set-op its branch; a leading
    binary operator / comparison keyword means ``w`` was a bare COLUMN
    inside a skipped ON condition, not a clause boundary."""
    nm = _SEG_WORD_RE.match(tail, pos)
    nxt_w = nm.group("w").lower() if nm is not None else None
    if w in ("group", "order", "cluster", "distribute", "sort"):
        return nxt_w == "by"
    if w == "limit":
        return nxt_w == "all" or bool(re.match(r"\s*\d", tail[pos:]))
    if w in ("union", "intersect", "except", "minus"):
        return nxt_w in ("all", "distinct", "select") or bool(
            re.match(r"\s*\(", tail[pos:])
        )
    # where / having / qualify start with an expression, never with an
    # operator ("WHERE NOT x" is mis-classified here — the cost is a
    # conservative refusal below, never a wrong list)
    return not re.match(
        r"\s*(?:[=<>!+\-*/%|&^,.]"
        r"|(?:is|in|like|ilike|rlike|between|and|or|not)\b)",
        tail[pos:],
        re.IGNORECASE,
    )


def _parse_from_sources(
    tail: str,
) -> tuple[list[tuple[str, str | None]], bool, set[str] | None] | None:
    """``([(spelling, alias_or_None), ...], saw_using, equated)`` for
    a FROM clause made of plain table refs joined by explicit JOINs,
    NATURAL/USING JOINs, or depth-0 commas (``FROM a, b`` — each comma source resolves exactly
    like a CROSS JOIN one, including after an ON condition: ``FROM a
    JOIN b ON ..., c`` ends the condition at the comma); None for ANY
    shape outside that grammar. ``tail`` starts right after the
    depth-0 FROM keyword. ON/USING conditions are skipped by scanning
    for the next depth-0 join/terminator/bail keyword or source-list
    comma outside quotes — qualified refs (``a.left``) and function
    calls (``right(s, 1)``) named like keywords are stepped over, and
    every misparse collapses to None (derive nothing), never to a
    wrong source list. A terminator reached THROUGH a condition skip
    may really be a bare column of the condition (``AND cluster = 1``)
    — when the clause it claims to start is malformed
    (``_clause_start_ok``) and a later JOIN or depth-0 comma could
    still extend the source list, the whole clause refuses."""
    from ..tables import sqldml

    mask = sqldml._mask(tail)
    n = len(tail)
    # WINDOW-clause pre-scan over the WHOLE tail: `WINDOW w AS (...)`
    # legally appears after WHERE/GROUP BY/HAVING — past the point the
    # connector loop returns — and defines a name select items
    # reference bare (`OVER w`); a source column sharing that name
    # would fabricate an edge. The `window(ts, ...)` FUNCTION (token
    # followed by '(') and a dotted ref's tail (`a.window`) are fine.
    for wt in re.finditer(r"\bwindow\b", tail, re.IGNORECASE):
        a = wt.start()
        if mask[a] != (0, False):
            continue
        k = a - 1
        while k >= 0 and tail[k].isspace():
            k -= 1
        if k >= 0 and tail[k] == ".":
            continue
        j = wt.end()
        while j < n and tail[j].isspace():
            j += 1
        if j < n and tail[j] == "(":
            continue
        return None
    segs: list[tuple[str, str | None]] = []
    saw_using = False
    # `equated` (the third return): the column names the JOIN LIST
    # ITSELF equates across sources — every USING-list column, plus
    # the "*" sentinel (any shared name) when NATURAL joins appear.
    # Only meaningful when EVERY connector equates (all NATURAL or
    # USING-with-parsed-list): one ON/comma/CROSS connector and a
    # shared name is no longer provably one value, so the caller gets
    # None and stays conservative. Sound because an equated column's
    # holders all carry the SAME value (inner) or its coalesce
    # arguments (outer) — every edge is real data flow.
    n_connectors = 0
    n_equating = 0
    equated: set[str] = set()
    pos = 0
    expect_source = True
    via_skip = False  # connector position reached through an ON skip
    while True:
        if expect_source:
            pm = re.match(r"\s*\(", tail[pos:])
            if pm is not None:
                # parenthesized source (derived table): the seg
                # spelling is the full "(...)" text; the caller scans
                # its body as a virtual source
                open_i = pos + pm.end() - 1
                try:
                    inner, _rest = sqldml._balanced_paren(tail[open_i:])
                except (StopIteration, ValueError):
                    # unbalanced parens: derive nothing, never raise
                    # (the lineage scanners' totality contract)
                    return None
                src = tail[open_i: open_i + len(inner) + 2]
                pos = open_i + len(inner) + 2
            else:
                m = _SEG_SRC_RE.match(tail, pos)
                if m is None:
                    return None  # VALUES / comma / nothing
                src = m.group("src")
                if not src.startswith("`"):
                    if src.lower() in _SEG_STOP:
                        return None  # keyword in source position
                    if (
                        src.startswith(".")
                        or src.endswith(".")
                        or ".." in src
                    ):
                        return None
                pos = m.end()
            alias = None
            wm = _SEG_WORD_RE.match(tail, pos)
            if wm is not None and wm.group("w").lower() == "as":
                wm2 = _SEG_WORD_RE.match(tail, wm.end())
                if wm2 is None:
                    return None
                alias = wm2.group("w")
                pos = wm2.end()
            elif wm is not None and wm.group("w").lower() not in _SEG_STOP:
                alias = wm.group("w")
                pos = wm.end()
            segs.append((src, alias))
            expect_source = False
            continue
        cm = re.match(r"\s*,", tail[pos:])
        if cm is not None:
            # comma join: the next source continues the list
            pos += cm.end()
            n_connectors += 1
            expect_source = True
            via_skip = False
            continue
        wm = _SEG_WORD_RE.match(tail, pos)
        if wm is None:
            # end of statement is fine; a paren / anything else is
            # outside the grammar
            if tail[pos:].strip() == "":
                return (
                    segs,
                    saw_using,
                    equated
                    if n_connectors > 0 and n_connectors == n_equating
                    else None,
                )
            return None
        w = wm.group("w").lower()
        arrived_via_skip, via_skip = via_skip, False
        if w in _FROM_TERMINATORS:
            # a bare column NAMED like a terminator inside an ON
            # condition (ON ... AND cluster = 1 JOIN c ...) would end
            # the scan early and silently DROP table c from the source
            # list — the one misparse shape that yields a wrong list
            # instead of None. A later JOIN can always extend the
            # list, so refuse whenever one exists beyond this point;
            # a later depth-0 COMMA can too, but commas are ordinary
            # inside real later clauses (GROUP BY a, b), so that
            # refusal applies only when the terminator was reached
            # THROUGH a condition skip AND the clause it claims to
            # start is malformed (both signals of a misread column).
            for jm in re.finditer(r"\bjoin\b", tail[wm.end():], re.IGNORECASE):
                a = wm.end() + jm.start()
                if mask[a] != (0, False):
                    continue
                k = a - 1
                while k >= 0 and tail[k].isspace():
                    k -= 1
                if k >= 0 and tail[k] == ".":
                    continue  # a.join — a dotted ref's tail
                return None
            if arrived_via_skip and not _clause_start_ok(w, tail, wm.end()):
                for ci in range(wm.end(), n):
                    if tail[ci] == "," and mask[ci] == (0, False):
                        return None
            return (
                segs,
                saw_using,
                equated
                if n_connectors > 0 and n_connectors == n_equating
                else None,
            )
        if w == "natural":
            # NATURAL [INNER|LEFT|RIGHT|FULL|CROSS] [OUTER] JOIN src:
            # no ON clause follows; the common columns coalesce out of
            # a bare star (same hazard as USING, so saw_using flips)
            pos = wm.end()
            wm = _SEG_WORD_RE.match(tail, pos)
            if wm is None or wm.group("w").lower() not in _JOIN_INTRO:
                return None
            w = wm.group("w").lower()
            while w != "join":
                pos = wm.end()
                wm = _SEG_WORD_RE.match(tail, pos)
                if wm is None or wm.group("w").lower() not in _JOIN_INTRO:
                    return None
                w = wm.group("w").lower()
            pos = wm.end()
            saw_using = True
            n_connectors += 1
            n_equating += 1
            equated.add("*")
            expect_source = True
            continue
        if w in _FROM_BAILERS:
            return None
        if w in _JOIN_INTRO:
            # consume the introducer chain through the JOIN keyword
            while w != "join":
                pos = wm.end()
                wm = _SEG_WORD_RE.match(tail, pos)
                if wm is None or wm.group("w").lower() not in _JOIN_INTRO:
                    return None
                w = wm.group("w").lower()
            pos = wm.end()
            n_connectors += 1
            expect_source = True  # plain ref or parenthesized source
            continue
        if w == "using":
            # USING (a, b): capture the equated columns and continue
            # at the close paren — nothing else sits inside the spec
            um = re.match(r"\s*\(", tail[wm.end():])
            if um is not None:
                open_i = wm.end() + um.end() - 1
                try:
                    inner, _rest = sqldml._balanced_paren(tail[open_i:])
                except (StopIteration, ValueError):
                    return None
                cols = [c.strip().strip("`") for c in inner.split(",")]
                if all(re.fullmatch(r"\w+", c) for c in cols):
                    saw_using = True
                    n_equating += 1
                    equated.update(c.lower() for c in cols)
                    pos = open_i + len(inner) + 2
                    continue
                return None  # malformed USING list: outside grammar
        if w in ("on", "using"):
            saw_using = saw_using or w == "using"
            pos = wm.end()
            # skip the condition: next depth-0 unquoted join/terminator
            # /bail keyword that is neither a dotted ref's tail
            # (a.left) nor a function call (right(s,1)); JOIN followed
            # by '(' must still land — the source state parses the
            # parenthesized derived table — and the bail keywords
            # (PIVOT/UNPIVOT/TABLESAMPLE/...) land even before '(',
            # their legitimate spelling takes a paren group
            nxt = None
            for tm in re.finditer(r"[A-Za-z_]\w*", tail[pos:]):
                a = pos + tm.start()
                if mask[a] != (0, False):
                    continue
                lw = tm.group(0).lower()
                if (
                    lw not in _JOIN_INTRO
                    and lw not in _FROM_TERMINATORS
                    and lw not in _FROM_BAILERS
                ):
                    continue
                k = a - 1
                while k >= 0 and tail[k].isspace():
                    k -= 1
                if k >= 0 and tail[k] == ".":
                    continue  # qualified ref named like a keyword
                j = a + len(tm.group(0))
                while j < n and tail[j].isspace():
                    j += 1
                if (
                    j < n
                    and tail[j] == "("
                    and lw in _JOIN_INTRO
                    and lw != "join"
                ):
                    continue  # function call named like a keyword
                nxt = a
                break
            # a depth-0 comma inside the condition region is a COMMA
            # JOIN continuing the source list (valid after an ON:
            # FROM a JOIN b ON ..., c) — the condition ends at the
            # comma and the next source begins. Invisible to the
            # keyword scan above, so check for it directly.
            end = nxt if nxt is not None else n
            comma_i = None
            for ci in range(pos, end):
                if tail[ci] == "," and mask[ci] == (0, False):
                    comma_i = ci
                    break
            if comma_i is not None:
                pos = comma_i + 1
                expect_source = True
                continue
            if nxt is None:
                return (
                    segs,
                    saw_using,
                    equated
                    if n_connectors > 0 and n_connectors == n_equating
                    else None,
                )
            pos = nxt
            via_skip = True
            continue
        return None  # bare word in connector position: outside grammar

# tokens never attributed as source columns inside an expression item
# even when a source column shares the name: SQL keywords, cast-target
# types and the EXTRACT/TRIM datepart vocabulary (shared with the
# FROM-clause scan via _NON_TABLE_FROM_PRECEDERS) would otherwise
# fabricate edges — extract(day FROM ts) must not attribute a column
# named `day`. A column with one of these names still attributes
# through the PLAIN-item path, which runs first. The same set also
# bars trailing-token ALIAS detection ("... ELSE 'x' END" must not
# read END as an alias).
# niladic functions Spark accepts as BARE tokens: their auto-name is
# the function form ('current_date()'), never the scanned token, and
# they read no column — both the ref scanners and the set-op name
# deriver must treat them as opaque. A source column that genuinely
# shares one of these names still attributes when table-qualified.
_NILADIC = frozenset(
    {
        "current_date", "current_timestamp", "current_user",
        "session_user", "current_catalog", "current_schema",
        "current_database", "current_timezone", "localtimestamp",
        "user",
    }
)

# keyword OPERATORS that demand a following operand: a trailing bare
# identifier right after one ('flag1 AND flag2', 'x BETWEEN lo AND
# hi') is that operand, never an alias
_OPERATOR_TAILS = frozenset(
    {
        "and", "or", "not", "in", "is", "like", "ilike", "rlike",
        "between", "div", "escape", "then", "when", "else", "by",
        "distinct", "all", "over",
    }
)

_EXPR_STOPWORDS = frozenset(
    {
        "case", "when", "then", "else", "end", "and", "or", "not",
        "in", "is", "null", "like", "ilike", "rlike", "between",
        "as", "from", "distinct", "all", "true", "false", "interval",
        "over", "partition", "by", "order", "rows", "range",
        "preceding", "following", "unbounded", "current", "row",
        "escape", "div", "asc", "desc", "nulls", "first", "last",
        # cast-target type names
        "int", "integer", "bigint", "smallint", "tinyint", "long",
        "float", "double", "decimal", "numeric", "string", "varchar",
        "char", "boolean", "date", "timestamp", "timestamp_ntz",
        "binary", "array", "map", "struct", "void",
    }
) | _NON_TABLE_FROM_PRECEDERS | _NILADIC | _INTERVAL_PLURALS


_SETOP_RE = re.compile(r"\b(UNION|INTERSECT|EXCEPT|MINUS)\b", re.IGNORECASE)

_CTE_DEF_RE = re.compile(
    r"(?:`(?P<bt>[^`]+)`|\b(?P<w>[A-Za-z_]\w*))"
    r"\s*(?:\([^()]*\))?\s*\b(?P<kw>AS)\s*\(",
    re.IGNORECASE,
)


def _cte_names(sql: str) -> set[str]:
    """Names bound by ``name [(cols)] AS (`` anywhere in the statement
    — WITH-clause CTEs at any nesting depth, backtick-quoted and
    whitespace-free (``x(a,b)AS(``) spellings included (also catches
    named windows; over-excluding only under-reports). A FROM
    reference to one of these is NOT a read of a same-named registered
    table: the CTE shadows it, and attributing the table would
    fabricate both table- and column-level edges. The quote scan
    anchors on the AS keyword (a backticked name's own span is inside
    an identifier quote, but a definition inside a string literal has
    its AS masked too). A name in QUALIFIED position (``CREATE TABLE
    backup.orders AS (...)`` — the last part of a dotted CTAS target)
    is not a CTE binding and must not shadow anything."""
    from ..tables import sqldml

    mask = sqldml._mask(sql)
    out: set[str] = set()
    for m in _CTE_DEF_RE.finditer(sql):
        if mask[m.start("kw")][1]:
            continue
        k = m.start() - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        if k >= 0 and sql[k] == ".":
            continue  # dotted target's last part, not a binding
        out.add((m.group("bt") or m.group("w")).lower())
    return out


def _split_set_branches(body: str) -> list[tuple[str | None, str]] | None:
    """Split a statement body (text after the first depth-0 SELECT) at
    depth-0 unquoted set-operation keywords. Returns ``[(op, text),
    ...]`` where each ``text`` is a branch's select-list + FROM tail
    (its leading SELECT consumed) and ``op`` is the operator that
    introduced it (None for the first). A set-op keyword NOT followed
    by ``[ALL|DISTINCT] SELECT`` (Databricks' ``SELECT * EXCEPT(col)``
    projection form, a parenthesized branch) returns None — derive
    nothing rather than misread branch boundaries."""
    from ..tables import sqldml

    mask = sqldml._mask(body)
    hits = [
        m
        for m in _SETOP_RE.finditer(body)
        if mask[m.start()] == (0, False)
    ]
    if not hits:
        return [(None, body)]
    parts: list[tuple[str | None, str]] = []
    prev_end, prev_op = 0, None
    for m in hits:
        mm = re.match(
            r"\s*(?:(?:ALL|DISTINCT)\s+)?SELECT\b", body[m.end():],
            re.IGNORECASE,
        )
        if mm is None:
            return None
        parts.append((prev_op, body[prev_end: m.start()]))
        prev_op = m.group(1).upper()
        prev_end = m.end() + mm.end()
    parts.append((prev_op, body[prev_end:]))
    return parts


def _ctas_out_names(branch: str) -> list[str | None] | None:
    """Positional output column names of a set-op's FIRST branch (the
    names every later branch's values land under): alias or bare name
    for plain items, the trailing alias for expressions, None for a
    position whose name is not derivable (those positions attribute
    nothing in ANY branch). A star returns None for the whole list —
    its width needs schema expansion the positional mapper should not
    guess."""
    from ..tables import sqldml

    mfrom = sqldml._find_top(branch, r"\bFROM\b")
    if mfrom is None:
        return None
    items = sqldml._split_commas(branch[: mfrom.start()])
    if items:
        items[0] = re.sub(
            r"^\s*(DISTINCT|ALL)\b", "", items[0], flags=re.IGNORECASE
        )
    out: list[str | None] = []
    for item in items:
        if _STAR_ITEM_RE.match(item) or re.search(r"\.\s*\*", item):
            return None
        pm = _PLAIN_ITEM_RE.match(item)
        if pm is not None:
            col, qual = pm.group("col"), pm.group("qual")
            if pm.group("alias") is None and (
                col[0].isdigit()
                or (qual is not None and qual[0].isdigit())
                or col.upper() in ("NULL", "TRUE", "FALSE")
                or (qual is None and col.lower() in _NILADIC)
            ):
                # unaliased literal / niladic function: Spark's
                # auto-name ('true', '1.5', 'current_date()') is not
                # what the ref regex read — drop the position
                out.append(None)
            else:
                out.append(pm.group("alias") or col)
        else:
            out.append(_split_item_alias(item)[1])
    return out


def _parse_cte_defs(
    s: str,
) -> list[tuple[str, list[str] | None, str]] | None:
    """``[(name, explicit_cols_or_None, parenthesized_body)]`` for the
    text after a depth-0 WITH keyword: ``name [(cols)] AS ( body )``
    separated by commas, ending exactly where the outer SELECT begins
    (the caller's head ends there). Anything outside that grammar —
    including WITH RECURSIVE, whose name position reads RECURSIVE and
    fails the AS match — returns None (derive nothing)."""
    from ..tables import sqldml

    out: list[tuple[str, list[str] | None, str]] = []
    pos = 0
    while True:
        m = re.match(
            r"\s*([A-Za-z_]\w*)\s*(?:\(([^()]*)\))?\s*\bAS\s*\(",
            s[pos:],
            re.IGNORECASE,
        )
        if m is None:
            return None
        name = m.group(1).lower()
        cols: list[str] | None = None
        if m.group(2) is not None:
            cols = [c.strip().strip("`") for c in m.group(2).split(",")]
            if not all(re.fullmatch(r"\w+", c) for c in cols):
                return None
        open_i = pos + m.end() - 1
        try:
            inner, _rest = sqldml._balanced_paren(s[open_i:])
        except StopIteration:
            return None
        close_i = open_i + len(inner) + 1
        out.append((name, cols, inner))
        mm = re.match(r"\s*,", s[close_i + 1:])
        if mm is not None:
            pos = close_i + 1 + mm.end()
            continue
        return out if s[close_i + 1:].strip() == "" else None


def _placeholder_names(
    names: list[str | None],
) -> tuple[list[str], set[str]]:
    """``(synth_names, placeholders)``: positions whose output name is
    not derivable get placeholder names so positional alignment holds;
    their edges are dropped after the scan. The base grows until no
    REAL name collides, so a genuine column called __drop_0 keeps its
    lineage (filtering is exact-membership, never by prefix)."""
    real = {nm for nm in names if nm is not None}
    base = "__drop"
    while any(f"{base}_{i}" in real for i in range(len(names))):
        base += "x"
    placeholders: set[str] = set()
    synth_names: list[str] = []
    for i, nm in enumerate(names):
        if nm is None:
            nm = f"{base}_{i}"
            placeholders.add(nm)
        synth_names.append(nm)
    return synth_names, placeholders


def _setop_edges(
    spark: SparkSession,
    parts: list[tuple[str | None, str]],
    target: str,
    is_insert: bool,
    insert_cols: list[str] | None,
    cache: dict[str, dict[str, str]],
    ctx: dict,
) -> list[tuple[str, str, str]]:
    """Per-branch positional attribution for set-operation statements:
    every branch's item i lands under output name i (the INSERT column
    list, or the first branch's names for CTAS). A branch contributes
    VALUES to the result iff it is the first branch or introduced by
    UNION — the right side of INTERSECT/EXCEPT/MINUS only filters rows
    (its equal values are already attributed through the left side),
    so it derives nothing. Each contributing branch is re-scanned as a
    synthesized positional INSERT through the single-branch scanner,
    so every conservatism there (out-of-grammar FROM shapes, ambiguous
    names, star guards) applies per branch unchanged."""
    if is_insert:
        names: list[str | None] = list(insert_cols or [])
    else:
        got = _ctas_out_names(parts[0][1])
        if got is None:
            return []
        names = got
    if not names:
        return []
    synth_names, placeholders = _placeholder_names(names)
    edges: list[tuple[str, str, str]] = []
    for op, text in parts:
        if op is not None and op != "UNION":
            continue
        synth = (
            f"INSERT INTO {target} ({', '.join(synth_names)}) "
            f"SELECT {text}"
        )
        # the synthesized branch no longer carries the original WITH
        # clause, so the outer statement's virtual sources thread
        # through via the shared ctx
        for e in _column_lineage_edges(spark, synth, target, cache, ctx):
            if e[2] not in placeholders and e not in edges:
                edges.append(e)
    return edges


def _split_item_alias(item: str) -> tuple[str, str | None]:
    """``(expression_text, alias_or_None)`` for one select-list item:
    an explicit ``AS alias``, or a trailing bare identifier preceded
    by a word char / closing paren / quote — never by an operator, and
    never a trailing SQL keyword (``... ELSE 'x' END`` / ``ts +
    interval 1 day`` are expression tails, not aliases)."""
    am = re.search(r"\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
    if am:
        return item[: am.start()], am.group(1)
    bm = re.search(r"([A-Za-z_]\w*|\S)\s+(\w+)\s*$", item)
    if (
        bm
        and (bm.group(1)[-1].isalnum() or bm.group(1) in ")`'\"")
        and bm.group(2).lower() not in _EXPR_STOPWORDS
        and bm.group(1).lower() not in _OPERATOR_TAILS
    ):
        return item[: bm.start(2)], bm.group(2)
    return item, None


def _register_qual(
    alias_map: dict[str, str], dead_quals: set[str], q: str, s: str
) -> None:
    """Register qualifier ``q`` as resolving to source ``s``. A
    qualifier claimed by two DIFFERENT sources resolves for neither —
    it is demoted to ``dead_quals`` permanently so later registrations
    cannot resurrect it half-bound. Non-``\\w+`` spellings (dotted or
    quoted names the ref scanners can never produce as a qualifier
    token) are ignored."""
    q = q.lower()
    if not re.fullmatch(r"\w+", q) or q in dead_quals:
        return
    if q in alias_map and alias_map[q] != s:
        del alias_map[q]
        dead_quals.add(q)
        return
    alias_map[q] = s


def _resolve_ref(
    tok_low: str,
    qual_low: str | None,
    alias_map: dict[str, str],
    dead_quals: set[str],
    schemas: dict[str, dict[str, str]],
) -> tuple[str, str] | None:
    """``(source_table, actual_column_spelling)`` for one column ref,
    or None when it is not unambiguously attributable. A qualified ref
    resolves through the alias map; a qualifier that is not a known
    alias is a struct-column access and attributes the STRUCT column
    (resolved as an unqualified ref) — the column the data actually
    flows from. An unqualified ref attributes only when exactly ONE
    source schema holds the column; a name two sources share (the
    coalesced column of a USING join is the common case) derives
    nothing. A qualifier made ambiguous by two same-named sources
    (``dead_quals``) blocks resolution entirely."""
    if qual_low is not None:
        if qual_low in alias_map:
            src = alias_map[qual_low]
            actual = schemas[src].get(tok_low)
            return (src, actual) if actual is not None else None
        if qual_low in dead_quals:
            return None
        return _resolve_ref(qual_low, None, alias_map, dead_quals, schemas)
    if tok_low in dead_quals:
        return None
    hits = [
        (s, sch[tok_low]) for s, sch in schemas.items() if tok_low in sch
    ]
    return hits[0] if len(hits) == 1 else None


def _scalar_subquery_hits(
    spark: SparkSession,
    expr: str,
    target: str,
    cache: dict[str, dict[str, str]],
    ctx: dict,
) -> tuple[str, list[tuple[str, str]]] | None:
    """``(residual_expr, hits)`` for a select ITEM containing scalar
    subqueries (``SELECT (SELECT max(x) FROM s) AS m FROM t`` — the
    real-dashboard shape): each outermost ``(SELECT ...)`` group is
    scanned as a VIRTUAL source (the same machinery MERGE subquery
    sources use), its output columns' REAL (table, column) ancestry
    joins the item's hits, and the group is replaced by a neutral
    parenthesized literal so the outer token scan attributes the
    remaining refs without re-entering the subquery (and an
    ``EXISTS (...)`` keyword stays function-shaped, never a column
    guess). IN-subqueries and EXISTS in a select item are
    value-affecting and attribute the same way; a ``count(*)``-style
    body legitimately contributes no column edges. None when any
    group's body is unattributable — the item then derives nothing
    (under-report, never fabricate)."""
    from ..tables import sqldml

    hits: list[tuple[str, str]] = []
    while True:
        mask = sqldml._mask(expr)
        m = None
        for mm in re.finditer(r"\(\s*SELECT\b", expr, re.IGNORECASE):
            if not mask[mm.start()][1]:
                m = mm
                break
        if m is None:
            return expr, hits
        try:
            inner, rest = sqldml._balanced_paren(expr[m.start():])
        except Exception:  # noqa: BLE001
            return None  # unbalanced: derive nothing
        name = f"__sq_{ctx['n']}"
        ctx["n"] += 1
        while name in ctx["virtual"]:
            name = f"__sq_{ctx['n']}"
            ctx["n"] += 1
        # the subquery's output NAME is irrelevant (its value feeds the
        # item, not a referenceable column) — synthesize names so an
        # unaliased projection (`max(price)`, the normal scalar shape)
        # still records ancestry instead of a skipped placeholder
        ms = re.match(r"\s*SELECT\b", inner, re.IGNORECASE)
        if ms is None:
            return None  # (WITH ...)-headed body: derive nothing
        names = _ctas_out_names(inner[ms.end():])
        if names is None:
            return None  # star projection: derive nothing
        _virtual_source(
            spark, name, [f"__sqc{i}" for i in range(len(names))],
            inner, target, cache, ctx,
        )
        if not ctx["virtual"][name]:
            return None  # unattributable body: derive nothing
        for pairs in ctx["ancestry"][name].values():
            hits.extend(sorted(pairs))
        expr = expr[: m.start()] + "(0)" + rest


def _expr_source_cols(
    item: str,
    alias_map: dict[str, str],
    dead_quals: set[str],
    schemas: dict[str, dict[str, str]],
    lateral: dict[str, list[tuple[str, str]]] | None = None,
    equated: set[str] | None = None,
) -> list[tuple[str, str]] | None:
    """``(source, column)`` pairs referenced by ONE select-list
    expression: every identifier token outside string literals that
    resolves to a source column (schema spelling returned), excluding
    function names (token followed by ``(``) and SQL keywords. A
    dotted token resolves through its qualifier by POSITION, not name
    (``o.amount`` attributes ``amount`` of o's table; ``addr.city`` —
    struct-field access — attributes ``addr``, the column the data
    actually flows from, never a same-named top-level column; an
    unqualified name held by two sources derives nothing). ``lateral``
    maps EARLIER select items' aliases to the source pairs they derive
    from (Spark's lateral column aliases): an unqualified token held
    by NO source schema that matches one expands to that ancestry —
    Spark's own precedence, where a real column always wins and an
    ambiguous real name errors at execution before lineage ever runs.
    Returns None when the item is not attributable at all — an
    embedded subquery reads OTHER tables, and a ``t.*`` star needs
    schema expansion, not token attribution. Backtick-quoted refs are
    skipped (under-report, never fabricate)."""
    from ..tables import sqldml

    if re.search(r"\bSELECT\b", item, re.IGNORECASE):
        return None
    if re.search(r"\.\s*\*", item) or item.strip() == "*":
        return None
    mask = sqldml._mask(item)
    out: list[tuple[str, str]] = []
    n = len(item)
    for m in re.finditer(r"[A-Za-z_]\w*", item):
        if mask[m.start()][1]:
            continue  # inside a string literal / backticked name
        tok = m.group(0).lower()
        qual_low: str | None = None
        k = m.start() - 1
        while k >= 0 and item[k].isspace():
            k -= 1
        if k >= 0 and item[k] == ".":
            qe = k - 1
            while qe >= 0 and item[qe].isspace():
                qe -= 1
            qm = re.match(r".*?([A-Za-z_]\w*)$", item[: qe + 1], re.DOTALL)
            if qm is None:
                continue
            # a qualifier that is ITSELF dot-preceded makes this token
            # the tail of a 3+-part chain (a.b.c): its immediate
            # qualifier b may coincide with another table's alias while
            # the data flows from a's struct column — never attribute
            # through it; the chain's own root token handles the chain
            p = qm.start(1) - 1
            while p >= 0 and item[p].isspace():
                p -= 1
            if p >= 0 and item[p] == ".":
                continue
            qual_low = qm.group(1).lower()
            if qual_low not in alias_map:
                # struct field under a column / unknown qualifier: the
                # STRUCT column attributes at its own token
                continue
        if tok in _EXPR_STOPWORDS and qual_low is None:
            # a keyword-named column still attributes when explicitly
            # table-qualified (o.date IS a column ref in valid SQL)
            continue
        j = m.end()
        while j < n and item[j].isspace():
            j += 1
        if (
            qual_low is None
            and tok in _EXTRACT_FIELD_SYNONYMS
            and re.match(r"FROM\b", item[j:], re.IGNORECASE)
        ):
            # extract's SHORT field synonyms (d, s, min, ...) are
            # legal column names, so they are not blanket stopwords —
            # but one right before a keyword-FROM is the field of
            # `extract(d FROM ts)`, not a read of a column named `d`.
            # A genuine column there (`substring(d FROM 2)`) is
            # under-reported; attributing it would fabricate whenever
            # the extract form was meant.
            continue
        if j < n and item[j] == "(":
            continue  # function call
        if j < n and item[j] == "." and qual_low is None:
            # UNQUALIFIED token in qualifier position: a table alias
            # is never a column; a STRUCT column used as `addr.city`
            # attributes here (the data flows from the struct column).
            # A token already qualified by a known alias (`a.b.c`'s
            # b) skips these checks — in that position it can only be
            # a's struct column, even if it collides with another
            # table's alias.
            if tok in alias_map or tok in dead_quals:
                continue
            # the root of a 3+-part chain (db.t.col / nested struct
            # addr.geo.lat) is either a catalog/schema prefix or a
            # nested-struct root — not distinguishable without a plan
            # walk, so attribute neither (under-report); likewise the
            # namespace root of a dotted FUNCTION call (util.fmt(x))
            # qualifies code, not data
            if re.match(r"\.\s*[A-Za-z_]\w*\s*[.(]", item[j:]):
                continue
        hit = _resolve_ref(tok, qual_low, alias_map, dead_quals, schemas)
        if hit is not None:
            if hit not in out:
                out.append(hit)
        elif (
            equated is not None
            and ("*" in equated or tok in equated)
            and qual_low is None
            and tok not in dead_quals
            and sum(tok in sch for sch in schemas.values()) >= 2
        ):
            # the join list equates this name across its holders
            # (NATURAL / USING column) — every holder is a true
            # value source
            for pair in (
                (sch_s, sch[tok])
                for sch_s, sch in schemas.items()
                if tok in sch
            ):
                if pair not in out:
                    out.append(pair)
        elif (
            lateral
            and qual_low is None
            and tok in lateral
            and all(tok not in sch for sch in schemas.values())
        ):
            # lateral column alias: expand to the earlier item's
            # ancestry. Guarded to names NO source schema holds — a
            # real column always wins in Spark, and an AMBIGUOUS real
            # name (hit None but present in schemas) errors at
            # execution, so expanding it would fabricate
            for pair in lateral[tok]:
                if pair not in out:
                    out.append(pair)
    return out


def _column_lineage_edges(
    spark: SparkSession,
    sql: str,
    target: str,
    _schema_cache: dict[str, dict[str, str]] | None = None,
    _ctx: dict | None = None,
) -> list[tuple[str, str, str]]:
    """``(source_table, source_column, target_column)`` edges for the
    projection shapes UC-style column lineage can attribute without a
    plan walk: ``CREATE TABLE t AS SELECT ...`` and ``INSERT INTO t
    [(cols)] SELECT ...`` over plain table sources combined by
    explicit JOINs (``_parse_from_sources``). Bare / aliased column
    references (or a ``*``/``t.*`` star) attribute directly; an
    EXPRESSION item attributes every source column it references
    (``round(amount, 2) AS amt`` => ``amount -> amt``). In a join, a
    QUALIFIED ref resolves through its alias and an unqualified ref
    attributes only when exactly one source schema holds the column
    (``_resolve_ref``). Depth-0 set operations attribute per branch,
    positionally (``_setop_edges``): UNION branches contribute values;
    the right side of INTERSECT/EXCEPT/MINUS only filters rows and
    derives nothing. A WITH clause's CTEs and parenthesized FROM
    sources (derived tables) become VIRTUAL sources: each body is
    scanned like a set-op branch and a reference through a virtual
    column expands to the real table columns it derives from
    (transitively through chains and nesting); a CTE whose body is not
    attributable still SHADOWS any same-named registered table.
    Comma joins (``FROM a, b [WHERE ...]`` — the reference's own KPI
    dashboard shape, sql_queries_and_dashboards.py:43-73) resolve
    exactly like CROSS JOINs. Lateral column aliases compose: a later
    item's bare reference to an earlier item's alias (a name no source
    holds — Spark's precedence) expands to that item's ancestry.
    Scalar subqueries in select items (``(SELECT max(x) FROM s) AS
    m``) scan their bodies as virtual sources and attribute their
    projected columns (``_scalar_subquery_hits``); correlation
    predicates affect rows, not values, and derive nothing extra.
    NATURAL joins, ambiguous names and unaliased CTAS
    expressions derive NOTHING — a fabricated edge is worse than a
    missing one. INSERT targets map by
    POSITION against the target schema (the engine's ``_run_insert``
    renames via ``df.toDF(*target_cols)``), so any star mixed with
    other items makes an INSERT derive nothing (positions shift by the
    star's width); CTAS targets map by alias/name. Best-effort and
    wholly off the query path (driver-side string scan per DML)."""
    from ..tables import sqldml

    sql = sql.strip().rstrip(";")
    mask = sqldml._mask(sql)
    # the first depth-0 SELECT starts the projection; everything
    # before is the CTAS/INSERT head (CTE bodies sit inside parens,
    # so a WITH clause stays in the head)
    sel = None
    for m in _SELECT_TAIL_RE.finditer(sql):
        if mask[m.start()] == (0, False):
            sel = m
            break
    if sel is None:
        return []
    head, body = sql[: sel.start()], sql[sel.end():]
    cache = _schema_cache if _schema_cache is not None else {}
    if _ctx is not None:
        # sub-scan (set-op branch / CTE or derived-table body):
        # cte:-prefixed edges bubble up to the top-level caller, who
        # owns the shared ancestry in _ctx
        return _edges_impl(spark, head, body, target, cache, _ctx)
    ctx: dict = {"virtual": {}, "ancestry": {}, "n": 0}
    mw = None
    # head is a prefix of sql, so the already-computed mask applies
    for m in re.finditer(r"\bWITH\b", head, re.IGNORECASE):
        if mask[m.start()] == (0, False):
            mw = m
            break
    if mw is not None:
        defs = _parse_cte_defs(head[mw.end():])
        if defs is None:
            return []
        head = head[: mw.start()]
        for name, cols, cbody in defs:
            _virtual_source(spark, name, cols, cbody, target, cache, ctx)
    edges = _edges_impl(spark, head, body, target, cache, ctx)
    out: list[tuple[str, str, str]] = []
    for s_t, s_c, t_c in edges:
        if s_t.startswith("cte:"):
            for rt, rc in sorted(
                ctx["ancestry"].get(s_t[4:], {}).get(s_c.lower(), set())
            ):
                if (rt, rc, t_c) not in out:
                    out.append((rt, rc, t_c))
        elif (s_t, s_c, t_c) not in out:
            out.append((s_t, s_c, t_c))
    return out


def _virtual_source(
    spark: SparkSession,
    name: str,
    cols: list[str] | None,
    cbody: str,
    target: str,
    cache: dict[str, dict[str, str]],
    ctx: dict,
) -> None:
    """Register ``name`` in ``ctx`` as a virtual source whose body is
    ``cbody`` (a CTE definition or a derived table's parenthesized
    query): the body is scanned as a synthesized positional INSERT and
    its per-column ancestry recorded. An unattributable body (VALUES,
    table functions, nested WITH, underivable names) registers a
    SHADOW-ONLY entry — present so it hides any same-named registered
    table, empty so references through it derive nothing."""
    virtual, ancestry = ctx["virtual"], ctx["ancestry"]
    # shadow FIRST: a self-referencing (recursive) body bails through
    # the empty schema instead of mis-resolving
    virtual[name] = {}
    ancestry[name] = {}
    ms = re.match(r"\s*SELECT\b", cbody, re.IGNORECASE)
    if ms is None:
        return  # VALUES / nested-WITH body: shadow-only
    inner = cbody[ms.end():]
    names_n = list(cols) if cols is not None else _ctas_out_names(inner)
    if names_n is None:
        return  # underivable names: shadow-only
    # the virtual schema must be FULL-WIDTH and collision-free or star
    # expansion over it would mis-zip positional INSERT targets:
    # underivable positions AND duplicated names (unreferenceable
    # unambiguously) become placeholder columns that keep their
    # position but expand to nothing
    lows = [n.lower() if n else None for n in names_n]
    dups = {x for x in lows if x is not None and lows.count(x) > 1}
    masked_n = [
        (n if n and n.lower() not in dups else None) for n in names_n
    ]
    snames, ph = _placeholder_names(masked_n)
    synth = (
        f"INSERT INTO {target} ({', '.join(snames)}) SELECT {inner}"
    )
    anc: dict[str, set] = {}
    for s_t, s_c, t_c in _column_lineage_edges(
        spark, synth, target, cache, ctx
    ):
        if t_c in ph:
            continue
        dst = anc.setdefault(t_c.lower(), set())
        if s_t.startswith("cte:"):
            # chain: expand through the earlier virtual source now, so
            # ancestry always holds REAL (table, column) pairs
            dst |= ancestry.get(s_t[4:], {}).get(s_c.lower(), set())
        else:
            dst.add((s_t, s_c))
    ancestry[name] = anc
    virtual[name] = {sn.lower(): sn for sn in snames}


_PIVOT_HEAD_RE = re.compile(
    r"\s*(`[^`]+`|[\w.]+)\s+(PIVOT|UNPIVOT)\s*"
    r"(?P<nulls>(?:INCLUDE|EXCLUDE)\s+NULLS\s*)?\(",
    re.IGNORECASE,
)


def _pivot_unpivot_rewrite(
    spark: SparkSession,
    tail: str,
    target: str,
    cache: dict[str, dict[str, str]],
    ctx: dict,
) -> tuple[bool, str] | None:
    """``FROM <src> PIVOT (agg FOR col IN (vals)) [alias] <rest>`` →
    register the pivoted relation as a virtual source whose ancestry
    maps each output column to the REAL source columns it derives
    from, and return ``(True, "<virtual> [alias] <rest>")`` so the
    plain FROM grammar takes over. PIVOT output columns derive from
    the aggregate's source column(s) PLUS the pivot column (the
    values that became column names); pass-through group columns
    derive from themselves. UNPIVOT's value/name columns derive from
    every unpivoted column; surviving columns from themselves.

    Returns None when the tail has no PIVOT/UNPIVOT head (caller
    proceeds unchanged) and ``(False, "")`` for any shape outside the
    supported grammar — multi-column pivots, unaliased multi-agg
    lists, expression values, unknown sources — which keeps the
    under-report-never-fabricate contract (derive nothing)."""
    from ..governance import access_control as acl
    from ..tables import sqldml

    m = _PIVOT_HEAD_RE.match(tail)
    if m is None:
        return None
    is_unpivot = m.group(2).lower() == "unpivot"
    bail = (False, "")
    try:
        inner, rest = sqldml._balanced_paren(tail[m.end() - 1 :])
    except (StopIteration, ValueError):
        return bail
    # resolve the pivoted source: a CTE/derived virtual already in
    # ctx, or a registered table — anything else derives nothing
    virtual, ancestry = ctx["virtual"], ctx["ancestry"]
    bare = m.group(1).strip("`").lower()
    if "." not in bare and bare in virtual:
        if not virtual[bare]:
            return bail
        schema = virtual[bare]

        def pairs(col_low: str) -> set[tuple[str, str]]:
            return set(ancestry.get(bare, {}).get(col_low, set()))

    else:
        canon = acl.canonical_name(spark, bare)
        if canon == target:
            return bail
        if canon in cache:
            schema = cache[canon]
        else:
            try:
                schema = {
                    c.lower(): c
                    for c in sqldml.resolve_table(
                        spark, canon
                    ).schema.fieldNames()
                }
            except Exception:  # noqa: BLE001
                return bail
            cache[canon] = schema

        def pairs(col_low: str) -> set[tuple[str, str]]:
            sp = schema.get(col_low)
            return {(canon, sp)} if sp is not None else set()

    imask = sqldml._mask(inner)
    mfor = None
    for fm in re.finditer(r"\bFOR\b", inner, re.IGNORECASE):
        if imask[fm.start()] == (0, False):
            mfor = fm
            break
    if mfor is None:
        return bail
    lhs, after = inner[: mfor.start()], inner[mfor.end() :]
    mcol = re.match(r"\s*(?:`(\w+)`|(\w+))\s+IN\s*\(", after, re.IGNORECASE)
    if mcol is None:
        return bail  # multi-column FOR (a, b) — outside the grammar
    for_col = (mcol.group(1) or mcol.group(2)).lower()
    try:
        vals_s, leftover = sqldml._balanced_paren(after[mcol.end() - 1 :])
    except (StopIteration, ValueError):
        return bail
    if leftover.strip():
        return bail
    name = f"__pv_{ctx['n']}"
    ctx["n"] += 1
    while name in virtual:
        name = f"__pv_{ctx['n']}"
        ctx["n"] += 1
    out_schema: dict[str, str] = {}
    out_anc: dict[str, set[tuple[str, str]]] = {}
    if is_unpivot:
        # lhs = value column name; IN items = source columns to fold
        vm = re.fullmatch(r"\s*(?:`(\w+)`|(\w+))\s*", lhs)
        if vm is None:
            return bail  # multi-value UNPIVOT ((a, b) FOR ...)
        val_col = vm.group(1) or vm.group(2)
        folded: list[str] = []
        for it in sqldml._split_commas(vals_s):
            im = re.match(
                r"\s*(?:`(\w+)`|(\w+))\s*(?:AS\s+.+)?$",
                it,
                re.IGNORECASE | re.DOTALL,
            )
            if im is None:
                return bail
            c = (im.group(1) or im.group(2)).lower()
            if c not in schema:
                return bail
            folded.append(c)
        fold_pairs: set[tuple[str, str]] = set()
        for c in folded:
            fold_pairs |= pairs(c)
        for low, sp in schema.items():
            if low not in folded and low != for_col:
                out_schema[low] = sp
                out_anc[low] = pairs(low)
        out_schema[for_col] = mcol.group(1) or mcol.group(2)
        out_anc[for_col] = set(fold_pairs)
        out_schema[val_col.lower()] = val_col
        out_anc[val_col.lower()] = set(fold_pairs)
    else:
        aggs: list[tuple[list[str], str | None]] = []  # (ref_cols, alias)
        agg_items = sqldml._split_commas(lhs)
        for it in agg_items:
            expr, alias = _split_item_alias(it)
            emask = sqldml._mask(expr)
            refs: list[str] = []
            for tm in re.finditer(r"[A-Za-z_][\w.]*", expr):
                if emask[tm.start()][1]:
                    continue
                # a token in CALL position is the aggregate/function
                # NAME, never a column ref — a source column named
                # avg/sum must not fabricate an edge
                j = tm.end()
                while j < len(expr) and expr[j].isspace():
                    j += 1
                if j < len(expr) and expr[j] == "(":
                    continue
                low = tm.group(0).lower().split(".")[-1]
                if low in schema and low not in refs:
                    refs.append(low)
            aggs.append((refs, alias))
        if len(aggs) > 1 and any(a is None for _r, a in aggs):
            return bail  # Spark's multi-agg names need the aliases
        val_names: list[str] = []
        for it in sqldml._split_commas(vals_s):
            expr, alias = _split_item_alias(it)
            if alias is not None:
                val_names.append(alias)
                continue
            expr = expr.strip()
            ml = re.fullmatch(
                r"'([^']*)'|\"([^\"]*)\"|(-?\d+(?:\.\d+)?)"
                r"|(NULL|TRUE|FALSE)",
                expr,
                re.IGNORECASE,
            )
            if ml is None:
                return bail  # tuple / expression value: no stable name
            val_names.append(
                ml.group(1)
                if ml.group(1) is not None
                else ml.group(2)
                if ml.group(2) is not None
                else ml.group(3)
                if ml.group(3) is not None
                else ml.group(4).lower()
            )
        agg_ref_low = {c for refs, _a in aggs for c in refs}
        for low, sp in schema.items():
            if low != for_col and low not in agg_ref_low:
                out_schema[low] = sp
                out_anc[low] = pairs(low)
        for vn in val_names:
            for refs, alias in aggs:
                out_name = vn if len(aggs) == 1 else f"{vn}_{alias}"
                anc: set[tuple[str, str]] = set(pairs(for_col))
                for c in refs:
                    anc |= pairs(c)
                if out_name.lower() in out_schema:
                    return bail  # colliding output names: unattributable
                out_schema[out_name.lower()] = out_name
                out_anc[out_name.lower()] = anc
    virtual[name] = out_schema
    ancestry[name] = out_anc
    return True, f" {name}{rest}"


def _edges_impl(
    spark: SparkSession,
    head: str,
    body: str,
    target: str,
    cache: dict[str, dict[str, str]],
    ctx: dict,
) -> list[tuple[str, str, str]]:
    """One statement scan over an already-split head/body (any WITH
    clause removed by the orchestrator). ``ctx["virtual"]`` maps CTE /
    derived-table names to their derived schemas: a single-part source
    matching one becomes a ``cte:``-prefixed source whose edges the
    top-level caller expands through ``ctx["ancestry"]``; an EMPTY
    virtual schema is a shadow-only entry (present, not attributable)
    and the statement derives nothing. A parenthesized FROM source is
    registered here as a fresh virtual source (its body scanned like a
    CTE's) before resolution."""
    from ..governance import access_control as acl
    from ..tables import sqldml

    virtual = ctx["virtual"]
    is_insert = bool(re.match(r"\s*INSERT\b", head, re.IGNORECASE))
    # positional target columns: the explicit INSERT list when given,
    # else the target table's schema order
    insert_cols: list[str] | None = None
    if is_insert:
        mi = re.search(r"\(([^()]*)\)\s*$", head)
        if mi:
            insert_cols = [
                c.strip().strip("`") for c in mi.group(1).split(",")
            ]
            if not all(re.fullmatch(r"\w+", c) for c in insert_cols):
                return []
        else:
            try:
                insert_cols = (
                    sqldml.resolve_table(spark, target).schema.fieldNames()
                )
            except Exception:  # noqa: BLE001
                return []
    # depth-0 set operations attribute per branch (positional); a
    # masked occurrence (inside a subquery or string literal) is not
    # a set op of THIS statement and falls through to the single-
    # branch path
    if _SETOP_RE.search(body):
        split = _split_set_branches(body)
        if split is None:
            return []
        if len(split) > 1:
            return _setop_edges(
                spark, split, target, is_insert, insert_cols,
                cache, ctx,
            )
    # split projection from FROM at depth 0
    mask_b = sqldml._mask(body)
    mfrom = None
    for m in re.finditer(r"\bFROM\b", body, re.IGNORECASE):
        if mask_b[m.start()] == (0, False):
            mfrom = m
            break
    if mfrom is None:
        return []
    items_s, tail = body[: mfrom.start()], body[mfrom.end():]
    pv = _pivot_unpivot_rewrite(spark, tail, target, cache, ctx)
    if pv is not None:
        ok, tail = pv
        if not ok:
            return []  # PIVOT/UNPIVOT outside the supported grammar
    parsed = _parse_from_sources(tail)
    if parsed is None or not parsed[0]:
        return []
    segs, saw_using, equated = parsed
    # a single-part source matching a CTE name reads the CTE, never a
    # same-named registered table: attributable CTEs become virtual
    # cte: sources; a shadow-only CTE (empty schema) makes the whole
    # statement derive nothing — without its schema, unqualified-ref
    # ambiguity cannot be decided for the OTHER sources either
    srcs: list[str] = []
    for sp, _a in segs:
        if sp.startswith("("):
            # derived table: scan its body as a fresh virtual source
            # (never reusing a name a user CTE already bound)
            name = f"__dt_{ctx['n']}"
            ctx["n"] += 1
            while name in virtual:
                name = f"__dt_{ctx['n']}"
                ctx["n"] += 1
            _virtual_source(
                spark, name, None, sp[1:-1], target, cache, ctx
            )
            if not virtual[name]:
                return []  # unattributable body: derive nothing
            srcs.append("cte:" + name)
            continue
        bare = sp.strip("`").lower()
        if "." not in bare and bare in virtual:
            if not virtual[bare]:
                return []
            srcs.append("cte:" + bare)
            continue
        vd = sqldml.view_def(spark, bare)
        if vd is not None:
            # a persistent VIEW is a virtual source like a CTE: its
            # body is scanned once per statement and references
            # through its output columns expand to the real table
            # columns they derive from; an unattributable body (WITH,
            # stars) derives nothing for the whole statement, same as
            # a shadow-only CTE
            vname = "__v_" + vd[0].replace(".", "_")
            if vname not in virtual:
                _virtual_source(
                    spark, vname, vd[1].get("cols"), vd[1]["sql"],
                    target, cache, ctx,
                )
            if not virtual[vname]:
                return []
            srcs.append("cte:" + vname)
        else:
            srcs.append(acl.canonical_name(spark, bare))
    sid = session_key(spark)
    registered = {n for (s, n) in sqldml._REGISTRY if s == sid}
    if any(
        s == target or (not s.startswith("cte:") and s not in registered)
        for s in srcs
    ):
        # same registered-sources-only rule table lineage applies
        return []
    # per-source schema: lower -> actual spelling, insertion order =
    # column order (star expansion relies on it). One driver-side
    # metadata read per DISTINCT source per DML — off the query path;
    # set-op branch and CTE-body re-scans share one cache
    schemas: dict[str, dict[str, str]] = {}
    for s in dict.fromkeys(srcs):
        if s.startswith("cte:"):
            schemas[s] = virtual[s[4:]]
            continue
        if s in cache:
            schemas[s] = cache[s]
            continue
        try:
            schemas[s] = {
                c.lower(): c
                for c in sqldml.resolve_table(spark, s).schema.fieldNames()
            }
        except Exception:  # noqa: BLE001
            return []
        cache[s] = schemas[s]
    # qualifier -> source. An ALIASED segment registers only its alias
    # (SQL: the alias replaces the table name as a qualifier — and a
    # retired spelling left mapped could shadow a same-named struct
    # column of ANOTHER source); an unaliased segment registers its
    # written spelling and last-name part. The single-source case
    # keeps the historical latitude of accepting the table spellings
    # alongside the alias (nothing else exists to shadow). A qualifier
    # claimed by two different sources resolves for neither.
    alias_map: dict[str, str] = {}
    dead_quals: set[str] = set()
    single = len(segs) == 1
    for (sp, al), s in zip(segs, srcs):
        if al is not None:
            _register_qual(alias_map, dead_quals, al, s)
        if al is None or single:
            bare = sp.strip("`").lower()
            _register_qual(alias_map, dead_quals, bare, s)
            _register_qual(alias_map, dead_quals, bare.split(".")[-1], s)
            _register_qual(alias_map, dead_quals, s.split(".")[-1], s)

    items = sqldml._split_commas(items_s)
    if items:
        # DISTINCT / ALL prefix the first item without changing lineage
        items[0] = re.sub(
            r"^\s*(DISTINCT|ALL)\b", "", items[0], flags=re.IGNORECASE
        )
    edges: list[tuple[str, str, str]] = []
    # lateral column aliases (Spark >= 3.4 resolves a later item's
    # bare reference to an EARLIER item's alias when no source column
    # holds the name): alias -> the source pairs that item derives
    # from, [] when defined but underivable (references then derive
    # nothing rather than fall through to a same-named source guess)
    lateral: dict[str, list[tuple[str, str]]] = {}
    for i, item in enumerate(items):
        sm = _STAR_ITEM_RE.match(item)
        if sm is not None:
            # star expansion in source-schema order; USING joins
            # coalesce the join column out of a bare star, so those
            # derive nothing rather than fabricate the dropped side
            expand: list[tuple[str, str]] = []
            if sm.group("q") is not None:
                s = alias_map.get(sm.group("q").lower())
                if s is None:
                    if is_insert:
                        return []
                    continue
                expand = [(s, c) for c in schemas[s].values()]
            else:
                if saw_using:
                    if is_insert:
                        # positions shift by the coalesced columns —
                        # every positional mapping is suspect
                        return []
                    if equated is None:
                        continue  # mixed join list: side unknowable
                    # ALL-equating join list (NATURAL / USING): the
                    # star drops duplicate columns, but the NAME SET
                    # and its sources are still exact — an equated
                    # name flows from every holder (real value flow),
                    # and CTAS edges map by name, not position
                for s in srcs:
                    expand += [(s, c) for c in schemas[s].values()]
            if is_insert:
                if len(items) != 1:
                    # positions before/after a star shift by its
                    # width — every positional mapping is suspect
                    return []
                return [
                    (s, c, t) for (s, c), t in zip(expand, insert_cols)
                ]
            edges.extend((s, c, c) for s, c in expand)
            continue
        if is_insert:
            # a projection star the strict regex did NOT match
            # (multi-part `db.t.*`, backticked `` `t`.* ``) still
            # shifts every later position by its width — the whole
            # INSERT derives nothing. (`2.*3` — a decimal literal
            # times 3 — trips this too; under-report is the safe side)
            imask = sqldml._mask(item)
            for mm in re.finditer(r"\.\s*\*", item):
                if not imask[mm.end() - 1][1]:
                    return []
        pm = _PLAIN_ITEM_RE.match(item)
        if pm is not None and (
            pm.group("col").isdigit()
            or pm.group("col").upper() in ("NULL", "TRUE", "FALSE")
            or (
                pm.group("qual") is None
                and pm.group("col").lower() in _NILADIC
            )
        ):
            continue  # literal / niladic function: not attributable
        if pm is not None:
            alias = pm.group("alias")
            qual = pm.group("qual")
            col_low = pm.group("col").lower()
            hit = _resolve_ref(
                col_low,
                qual.lower() if qual is not None else None,
                alias_map,
                dead_quals,
                schemas,
            )
            if hit is not None:
                # struct-field access (addr.city) attributes the
                # struct column; the output auto-name stays the FIELD
                # name, so the alias default below still holds
                s_hits = [hit]
            elif (
                equated is not None
                and ("*" in equated or col_low in equated)
                and qual is None
                and col_low not in dead_quals
                and sum(col_low in sch for sch in schemas.values()) >= 2
            ):
                # the join list itself EQUATES this name across its
                # sources (NATURAL, or a USING-list column), so every
                # holder is a true value source — both edges are real
                # data flow, not a fabrication
                s_hits = [
                    (sch_s, sch[col_low])
                    for sch_s, sch in schemas.items()
                    if col_low in sch
                ]
            elif (
                qual is None
                and col_low in lateral
                and all(col_low not in sch for sch in schemas.values())
            ):
                # an earlier item's alias re-projected under a new
                # name (real columns win — hence the NO-schema guard;
                # an ambiguous real name errors at execution before
                # lineage runs)
                s_hits = list(lateral[col_low])
            else:
                if alias is not None:
                    lateral[alias.lower()] = []
                continue  # unknown / ambiguous: not attributable
        else:
            # expression item: strip the alias before scanning
            expr, alias = _split_item_alias(item)
            if not is_insert and alias is None:
                # CTAS expression without an alias materializes under
                # Spark's auto-generated column name: skip it
                continue
            sub_hits: list[tuple[str, str]] = []
            if re.search(r"\bSELECT\b", expr, re.IGNORECASE):
                # scalar subquery in a select item: scan each
                # (SELECT ...) group as a virtual source; the residual
                # expression (groups replaced by literals) attributes
                # its own refs below
                sq = _scalar_subquery_hits(spark, expr, target, cache, ctx)
                if sq is None:
                    if alias is not None:
                        lateral[alias.lower()] = []
                    continue  # unattributable subquery body
                expr, sub_hits = sq
            found = _expr_source_cols(
                expr, alias_map, dead_quals, schemas, lateral, equated
            )
            if found is None:
                if alias is not None:
                    lateral[alias.lower()] = []
                continue  # star / unresolvable shape: derive nothing
            found = found + [h for h in sub_hits if h not in found]
            if not found:
                if alias is not None:
                    lateral[alias.lower()] = []
                continue  # no attributable refs
            s_hits = found
        if alias is not None:
            lateral[alias.lower()] = list(s_hits)
        if is_insert:
            if i >= len(insert_cols):
                continue
            t_col = insert_cols[i]
        else:
            # the unaliased plain default is Spark's output name: the
            # final name part (col group), which for a struct access
            # is the FIELD name, not the attributed struct column.
            # (pm None implies alias non-None here — unaliased CTAS
            # expressions already hit `continue` above.)
            t_col = alias or pm.group("col")
        for s, c in s_hits:
            edges.append((s, c, t_col))
    return edges


def _merge_column_lineage_edges(
    spark: SparkSession, sql: str, target: str
) -> list[tuple[str, str, str]]:
    """``(source_table, source_column, target_column)`` edges for
    ``MERGE INTO t USING s`` over a PLAIN registered source table or a
    parenthesized SUBQUERY source: the columns a MERGE writes are its
    assignment targets, and each assignment/INSERT-value expression
    attributes its references to the SOURCE (``SET amount = s.amount *
    s.rate`` => ``amount -> amount`` and ``rate -> amount``).
    ``UPDATE SET *`` / ``INSERT *`` assign every target column from
    the same-named source column. A subquery source becomes a VIRTUAL
    source (the same ``_virtual_source`` machinery CTEs and derived
    tables use): a reference to one of its output columns expands to
    the real table columns that output derives from; an unattributable
    body derives nothing. References to the target's own columns are
    value recirculation, not cross-table lineage, and are not recorded
    (consistent with table-level lineage skipping self-edges); ON /
    WHEN conditions only FILTER rows (indirect lineage) and are
    likewise not recorded. Reuses the same structural parse helpers
    the MERGE executor uses (`tables/sqldml.py` ``_run_merge``), so
    the scan sees exactly the clause boundaries that ran."""
    from ..governance import access_control as acl
    from ..tables import sqldml

    m = re.match(r"\s*MERGE\s+INTO\s+", sql.strip().rstrip(";"), re.IGNORECASE)
    if m is None:
        return []
    virtual_anc: dict[str, set] | None = None
    sname = salias = None
    try:
        rest = sql.strip().rstrip(";")[m.end():]
        tname, rest = sqldml._read_table_ref(rest)
        talias, rest = sqldml._read_alias(rest)
        mu = re.match(r"USING\s+", rest, re.IGNORECASE)
        if mu is None:
            return []
        rest = rest[mu.end():].lstrip()
        if rest.startswith("("):
            # subquery source: scan the body as a virtual source whose
            # per-output-column ancestry holds real (table, column)
            # pairs (Spark requires an alias here; its absence never
            # executed, so bailing loses nothing)
            try:
                inner, rest = sqldml._balanced_paren(rest)
            except StopIteration:
                return []
            salias, rest = sqldml._read_alias(rest.lstrip())
            if not salias:
                return []
        else:
            sname, rest = sqldml._read_table_ref(rest)
            salias, rest = sqldml._read_alias(rest)
        mo = re.match(r"ON\s+", rest, re.IGNORECASE)
        if mo is None:
            return []
        rest = rest[mo.end():]
        cuts = sqldml._merge_when_cuts(rest)
    except ValueError:
        return []
    if not cuts:
        return []
    sid = session_key(spark)
    registered = {n for (s, n) in sqldml._REGISTRY if s == sid}
    vbody = vcols = None
    if sname is not None:
        vd = sqldml.view_def(spark, sname.strip("`"))
        if vd is not None:
            # MERGE USING <view>: scan the view body as the virtual
            # source, exactly like a subquery source
            vbody, vcols = vd[1]["sql"], vd[1].get("cols")
    if sname is None or vbody is not None:
        ctx: dict = {"virtual": {}, "ancestry": {}, "n": 0}
        _virtual_source(
            spark, "__musrc",
            vcols if vbody is not None else None,
            vbody if vbody is not None else inner,
            target, {}, ctx,
        )
        src_schema = ctx["virtual"]["__musrc"]
        if not src_schema:
            return []  # unattributable body: derive nothing
        virtual_anc = ctx["ancestry"]["__musrc"]
        src = "cte:__musrc"
    else:
        src = acl.canonical_name(spark, sname.strip("`").lower())
        if src == target or src not in registered:
            return []
        try:
            src_schema = {
                c.lower(): c
                for c in sqldml.resolve_table(spark, src).schema.fieldNames()
            }
        except Exception:  # noqa: BLE001
            return []
    try:
        tgt_cols = sqldml.resolve_table(spark, target).schema.fieldNames()
    except Exception:  # noqa: BLE001
        return []
    tgt_schema = {c.lower(): c for c in tgt_cols}
    # both sides' qualifiers go in the map — a target-qualified ref
    # must RESOLVE (to the target, whose edges are then dropped), or
    # the struct-access fallback could misread it as a source column.
    # The executor's _requalify accepts name-derived qualifiers even
    # alongside an alias, so the scan mirrors that latitude.
    alias_map: dict[str, str] = {}
    dead_quals: set[str] = set()
    for name, alias, s in (
        (sname, salias, src),
        (tname, talias, target),
    ):
        if alias:
            _register_qual(alias_map, dead_quals, alias, s)
        if name is None:
            continue  # subquery source: only its alias qualifies
        bare = name.strip("`").lower()
        _register_qual(alias_map, dead_quals, bare, s)
        _register_qual(alias_map, dead_quals, bare.split(".")[-1], s)
        _register_qual(alias_map, dead_quals, s.split(".")[-1], s)
    schemas = {src: src_schema, target: tgt_schema}

    edges: list[tuple[str, str, str]] = []

    def _emit(s_c: str, t_actual: str) -> None:
        # a virtual (subquery) source column expands to the real
        # table columns its output derives from; self-edges into the
        # target stay unrecorded either way
        if virtual_anc is None:
            if (src, s_c, t_actual) not in edges:
                edges.append((src, s_c, t_actual))
            return
        for rt, rc in sorted(virtual_anc.get(s_c.lower(), set())):
            if rt != target and (rt, rc, t_actual) not in edges:
                edges.append((rt, rc, t_actual))

    def _scan(expr: str, t_col_raw: str) -> None:
        t_low = (
            sqldml._strip_qualifiers(t_col_raw, tname, talias)
            .strip("`")
            .lower()
        )
        t_actual = tgt_schema.get(t_low)
        if t_actual is None or not re.fullmatch(r"\w+", t_low):
            return  # nested-field / unparsable target: under-report
        for s_t, s_c in _expr_source_cols(
            expr, alias_map, dead_quals, schemas
        ) or []:
            if s_t == src:
                _emit(s_c, t_actual)

    def _star_edges() -> None:
        for tc in tgt_cols:
            sc = src_schema.get(tc.lower())
            if sc is not None:
                _emit(sc, tc)

    chunks = [rest[a:b] for a, b in zip(cuts, cuts[1:] + [len(rest)])]
    for chunk in chunks:
        chunk = chunk.strip()
        if not chunk:
            continue
        mt = sqldml._find_clause_then(chunk)
        if mt is None:
            continue
        action = chunk[mt.end():].strip()
        al = action.lower()
        if al == "delete":
            continue
        if re.fullmatch(r"update\s+set\s+\*", al) or re.fullmatch(
            r"insert\s+\*", al
        ):
            _star_edges()
            continue
        if al.startswith("update"):
            ms = re.match(r"UPDATE\s+SET\s+", action, re.IGNORECASE)
            if ms is None:
                continue
            try:
                assigns = sqldml._parse_assignments(action[ms.end():])
            except ValueError:
                continue
            for c, e in assigns.items():
                _scan(e, c)
        elif al.startswith("insert"):
            mi = re.match(
                r"INSERT\s*\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\)\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if mi is None:
                continue
            cols = sqldml._split_commas(mi.group("cols"))
            vals = sqldml._split_commas(mi.group("vals"))
            if len(cols) != len(vals):
                continue
            for c, v in zip(cols, vals):
                _scan(v, c)
    return edges


def _lineage_sources(spark: SparkSession, sql: str) -> set[str]:
    """Registered tables in FROM/USING/JOIN positions (quote-aware,
    comma joins included) — the precise-read-set scan lineage needs, as
    opposed to the fail-closed identifier scan enforcement uses.
    Best-effort by design: EXTRACT/TRIM keyword-FROM forms are
    excluded via their preceding keyword; ``substring(col FROM n)``
    captures ``n``, which resolves to no registered table."""
    from ..governance import access_control as acl
    from ..tables import sqldml

    sid = session_key(spark)
    registered = {n for (s, n) in sqldml._REGISTRY if s == sid} | {
        n for (s, n) in sqldml._VIEW_DEFS if s == sid
    }
    out: set[str] = set()
    for bare in from_position_refs(sql):
        name = acl.canonical_name(spark, bare)
        if name in registered:
            out.add(name)
    return out


def from_position_refs(sql: str) -> set[str]:
    """Bare lowered table refs in FROM/USING/JOIN/CLONE position
    (quote-aware, comma joins included), CTE names excluded — the
    READ positions of a statement, without registry resolution. The
    textual half of :func:`_lineage_sources`; also the view
    self-reference guard (``metasql._run_create_view``), where a
    COLUMN merely sharing the view's basename must not count as a
    reference."""
    from ..tables import sqldml

    mask = sqldml._mask(sql)
    ctes = _cte_names(sql)
    out: set[str] = set()
    # CLONE sources scan separately from the FROM/USING/JOIN loop: a
    # combined alternation would CONSUME the real FROM after a column
    # named `clone` (SELECT clone FROM t) and drop t's edge
    for m in re.finditer(
        r"\b(?:SHALLOW\s+|DEEP\s+)?CLONE\s+(`[^`]+`|[\w.]+)",
        sql,
        re.IGNORECASE,
    ):
        if mask[m.start()][1]:
            continue
        bare = m.group(1).strip("`").lower()
        # a column named clone captures the keyword after it — a
        # keyword never names a registered table
        if bare in sqldml._KEYWORDS or bare in (
            "from", "join", "where", "group", "order", "limit", "union",
        ):
            continue
        if "." not in bare and bare in ctes:
            continue
        out.add(bare)
    for m in re.finditer(
        r"\b(?P<kw>FROM|USING|JOIN)\s+(`[^`]+`|[\w.]+)", sql, re.IGNORECASE
    ):
        if mask[m.start()][1]:
            continue
        is_from = m.group("kw").upper() == "FROM"
        if is_from:
            prev = re.search(r"([\w.]+|')\s*$", sql[: m.start()])
            if prev is not None:
                ptok = prev.group(1)
                if ptok == "'":
                    continue  # substring('abc' FROM 2): keyword-FROM
                if ptok.lower() == "distinct":
                    # `a IS [NOT] DISTINCT FROM b` captures b, a
                    # COLUMN (bare SELECT DISTINCT never abuts FROM)
                    continue
                if (
                    ptok.split(".")[-1].lower()
                    in _EXTRACT_FIELD_SYNONYMS
                ):
                    # a field word is the keyword-FROM shape ONLY right
                    # after the function's opening paren —
                    # extract(DAY FROM ts), trim(BOTH FROM s) — while a
                    # select item aliased d/min/days (SELECT x AS d
                    # FROM t) or an interval literal (`+ interval 7
                    # days FROM t`) is preceded by a word or number and
                    # keeps its table edge
                    k = prev.start(1) - 1
                    while k >= 0 and sql[k].isspace():
                        k -= 1
                    if k >= 0 and sql[k] == "(":
                        continue
        names = [m.group(2)]
        if is_from:
            # comma join: FROM a, b, c
            pos = m.end()
            while True:
                cm = re.match(r"\s*,\s*(`[^`]+`|[\w.]+)", sql[pos:])
                if not cm:
                    break
                names.append(cm.group(1))
                pos += cm.end()
        for ref in names:
            bare = ref.strip("`").lower()
            if "." not in bare and bare in ctes:
                # a single-part ref bound by the statement's own WITH
                # clause reads the CTE, never a same-named table
                continue
            out.add(bare)
    return out


_TABLE_CHANGES_RE = re.compile(
    r"\btable_changes\s*\(\s*(?P<args>[^()]*)\)", re.IGNORECASE
)


def _tc_bound(t, arg: str, start: bool) -> int:
    """One table_changes version bound: an integer literal is a commit
    version; a quoted timestamp resolves against the commit log —
    start = first version AT OR AFTER the instant (Databricks'
    starting_timestamp contract), end = last version at or before it
    (plain time-travel semantics)."""
    arg = arg.strip()
    if re.fullmatch(r"\d+", arg):
        return int(arg)
    if not (arg.startswith("'") or arg.startswith('"')):
        raise ValueError(
            f"table_changes: bound must be a version int or a quoted "
            f"timestamp, got {arg!r}"
        )
    dt = datetime.fromisoformat(arg[1:-1])
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    ts_ms = int(dt.timestamp() * 1000)
    if not start:
        # end bound = plain time-travel resolution; the log backend's
        # helper already skips foreign commits without commitInfo
        # (timestamp_ms None is protocol-legal)
        try:
            return t._log.version_at_timestamp(t.root, ts_ms)
        except ValueError as e:
            raise ValueError(f"table_changes: {e}") from e
    for c in t._log.read_log(t.root):
        cts = c.get("timestamp_ms")
        if cts is not None and cts >= ts_ms:
            return c["version"]
    raise ValueError(
        f"table_changes: no commit at or after {arg}; the starting "
        "timestamp is past the table's latest commit"
    )


def _rewrite_table_changes(
    spark: SparkSession, sql: str
) -> tuple[str, list[str]]:
    """Rewrite ``table_changes('t', start [, end])`` calls (Databricks'
    SQL change-data-feed reader; beyond the reference's surface) to
    statement-scoped temp views over :meth:`LakeTable.read_changes`,
    with the ``_commit_timestamp`` column Databricks adds joined in
    from the commit log (tiny broadcast frame — O(commits), never a
    scan). Quote-aware: a call inside a string literal is untouched.
    Caller drops the views after the statement (they hold
    SELECT-gated snapshots)."""
    if "table_changes" not in sql.lower():
        return sql, []
    from ..governance import access_control as acl
    from ..tables import sqldml
    from ..tables.table import CDF_TYPE_COL, CDF_VERSION_COL

    mask = sqldml._mask(sql)
    hits = [
        m for m in _TABLE_CHANGES_RE.finditer(sql) if not mask[m.start()][1]
    ]
    if not hits:
        return sql, []
    import uuid as _uuid

    created: list[str] = []
    pieces: list[str] = []
    prev = 0
    try:
        for m in hits:
            args = sqldml._split_commas(m.group("args"))
            if len(args) not in (2, 3):
                raise ValueError(
                    "table_changes expects (table, start [, end]), got "
                    f"{m.group(0)[:80]!r}"
                )
            name = args[0].strip().strip("'\"")
            t = sqldml.resolve_table(spark, name)
            if acl.enabled(spark):
                acl.enforce(
                    spark, "SELECT", acl.canonical_name(spark, name)
                )
            start_v = _tc_bound(t, args[1], start=True)
            end_v = (
                _tc_bound(t, args[2], start=False) if len(args) == 3 else None
            )
            df = t.read_changes(start_v, end_v)
            vts = [
                (c["version"], c["timestamp_ms"])
                for c in t._log.read_log(t.root)
            ]
            ts_df = spark.createDataFrame(
                vts, f"{CDF_VERSION_COL} long, __ts_ms long"
            )
            data_cols = [
                c
                for c in df.columns
                if c not in (CDF_TYPE_COL, CDF_VERSION_COL)
            ]
            df = (
                df.join(F.broadcast(ts_df), CDF_VERSION_COL, "left")
                .withColumn(
                    "_commit_timestamp", F.timestamp_millis(F.col("__ts_ms"))
                )
                .select(
                    *data_cols,
                    CDF_TYPE_COL,
                    CDF_VERSION_COL,
                    "_commit_timestamp",
                )
            )
            view = f"engine_tc_{_uuid.uuid4().hex[:12]}"
            df.createOrReplaceTempView(view)
            created.append(view)
            pieces.append(sql[prev : m.start()])
            pieces.append(view)
            prev = m.end()
    except Exception:
        from ..governance import systables

        systables.drop_views(spark, created)
        raise
    pieces.append(sql[prev:])
    return "".join(pieces), created


def _run_statement_impl(
    spark: SparkSession, sql: str, _qctx: dict | None = None
) -> DataFrame:
    from ..governance import access_control as acl, catalog_registry
    from ..tables import sqldml

    # durable catalog tree (opt-in): namespaces / volumes / tags /
    # SQL functions declared by an earlier session resolve here too
    catalog_registry.ensure_loaded(spark)

    # GRANT / REVOKE / SHOW GRANTS (X10 SQL surface)
    acl_out = acl.run_acl(spark, sql)
    if acl_out is not None:
        return acl_out

    # CREATE SHARE / ALTER SHARE / CREATE RECIPIENT / GRANT ... ON
    # SHARE / SHOW SHARES|RECIPIENTS (S9/X10 share-DDL surface)
    from ..governance import share_sql

    share_out = share_sql.run_share_sql(spark, sql)
    if share_out is not None:
        return share_out

    # CREATE CONNECTION / CREATE FOREIGN CATALOG / SHOW CONNECTIONS /
    # SHOW SCHEMAS|TABLES over a foreign catalog (S10 SQL surface) —
    # before metasql so foreign-catalog SHOW verbs route to live JDBC
    # metadata instead of the engine registry
    from ..governance import federation

    fed_out = federation.run_federation_sql(spark, sql)
    if fed_out is not None:
        return fed_out

    enforcing = acl.enabled(spark)
    md = re.match(
        r"\s*DESCRIBE\s+HISTORY\s+(`[^`]+`|[\w.]+)\s*;?\s*$",
        sql,
        re.IGNORECASE,
    )
    if md:
        # direct DESCRIBE HISTORY over a DML-registered LakeTable (the
        # Databricks-SQL subquery form `FROM (DESCRIBE HISTORY t)` over
        # catalog views is handled by normalize_sql)
        if enforcing:
            acl.enforce(
                spark, "SELECT", acl.canonical_name(spark, md.group(1))
            )
        return sqldml.resolve_table(spark, md.group(1)).history()
    # metadata verbs over registered LakeTables (SHOW TABLES/SCHEMAS/
    # CATALOGS/TBLPROPERTIES/CREATE TABLE, DESCRIBE [EXTENDED|DETAIL],
    # ANALYZE TABLE, CACHE TABLE) — X9; falls through to spark.sql for
    # ordinary catalog names so native behavior is preserved
    from ..tables import metasql

    meta = metasql.run_metadata(spark, sql)
    if meta is not None:
        return meta
    # DROP FUNCTION symmetry for engine-created SQL UDFs (3-part
    # CREATE FUNCTION binds a TEMPORARY function under the basename;
    # the drop accepts the full name or the basename). 1-part names
    # the engine never bound keep native DROP FUNCTION behavior.
    mfn = re.match(
        r"\s*DROP\s+(?:TEMPORARY\s+)?FUNCTION\s+(?P<ie>IF\s+EXISTS\s+)?"
        r"(?P<name>`[^`]+`|[\w.]+)\s*;?\s*$",
        sql,
        re.IGNORECASE,
    )
    if mfn:
        fname = mfn.group("name").strip("`").lower()
        fmap = _FUNCS.get(session_key(spark), {})
        target = None
        if fname in fmap:
            target = fname
        else:
            # basenames are stored in their declared case; the lookup
            # is case-insensitive like every Spark function name
            hits = [f for f, b in fmap.items() if b.lower() == fname]
            if hits:
                target = hits[0]
        parts = fname.split(".")
        engine_style = target is not None or (
            len(parts) == 3
            and parts[0] not in metasql._native_catalogs(spark)
        )
        if engine_style:
            # same manage gate as every other engine DROP — and it
            # fires BEFORE the existence answer, so exists-vs-missing
            # is not an oracle for unprivileged principals
            from ..governance import access_control as acl

            acl._require_manage(
                spark,
                target or fname,
                "FUNCTION",
                action="drop",
                verb="DROP FUNCTION",
            )
            if target is None:
                if mfn.group("ie"):
                    return spark.createDataFrame(
                        [("DROP FUNCTION", fname, False)],
                        "operation string, name string, dropped boolean",
                    )
                raise ValueError(f"no such function: {fname}")
            base = fmap.pop(target)
            spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {base}")
            catalog_registry.erase(spark, "function", target)
            return spark.createDataFrame(
                [("DROP FUNCTION", fname, True)],
                "operation string, name string, dropped boolean",
            )
        # 1-/2-part names the engine never bound (and 3-part names
        # under a REAL catalog) keep native DROP FUNCTION behavior —
        # OSS Spark supports persistent db.fn functions
    # statements that can evaluate group membership — masked views
    # (SET MASK flags the session; sync_views then re-analyzes those
    # views against the refreshed UDF), SQL UDFs created this session,
    # or a direct IS_ACCOUNT_GROUP_MEMBER call — need the membership
    # UDF re-registered with the CURRENT groups conf BEFORE the view
    # sync, because analysis snapshots the UDF closure
    sid = session_key(spark)
    if (
        sid in sqldml._MASKED_SESSIONS
        or _FUNCS.get(sid)
        or re.search(
            r"\b(?:IS_ACCOUNT_GROUP_MEMBER|engine_is_group_member)\s*\(",
            sql,
            re.IGNORECASE,
        )
    ):
        _ensure_group_udf(spark)
    # registered LakeTables resolve by name in FROM/USING clauses;
    # the statement text scopes the persistent-view sync to the views
    # it references (plus their transitive deps)
    sqldml.sync_views(spark, sql)
    # share-mounted catalogs (CREATE CATALOG ... USING SHARE): 3-part
    # mounted names re-point to their views BEFORE routing, so DML/CTAS
    # reading a mounted table resolves like a plain SELECT does
    from ..governance import share_sql as _share_sql

    # comments are semantically void — strip them ONCE so every scan
    # from here down (mount/federation rewrites, enforcement token
    # scans, repoints) sees the same comment-free text the DML router
    # does: a foreign/mounted name inside a comment must never be
    # spliced, enforced or audited. bare_sql keeps the PRE-rewrite
    # text: the durable function registry stores it (mount/federation
    # rewrites bake in session-scoped temp-view names that will not
    # exist at replay), and the internal-view guard scans it (names
    # the rewrites splice in are already enforced at splice time)
    sql = sqldml._strip_comments(sql)
    bare_sql = sql
    sql = _share_sql.rewrite_mounts(spark, sql)
    # federated 3-part names (crm_postgres.public.customers) re-point
    # to lazy pushdown-enabled JDBC views the same way — SELECTs, DML
    # sources and CTAS over foreign tables all resolve
    sql = federation.rewrite_foreign_tables(spark, sql)
    if enforcing:
        # runtime-constructed names (IDENTIFIER(), EXECUTE IMMEDIATE)
        # cannot be resolved by ANY token scan — fail closed before
        # the rewrites and checks that rely on one
        acl.refuse_dynamic_sql(spark, bare_sql)
        # a statement naming an engine-internal fed__ view DIRECTLY
        # (instead of the 3-part foreign name) gets the same SELECT
        # check + audit row; scanned on the comment-free PRE-rewrite
        # text so names the rewrite just spliced in are not
        # double-audited and commented-out names are not enforced
        federation.enforce_internal_view_refs(spark, bare_sql)
    kind = sqldml.statement_kind(sql)
    if kind is not None:
        # opt-in enforcement (spark.engine.accessControl.enabled):
        # MODIFY on the mutated target, CREATE on a new table's parent
        # namespace, SELECT on read-side tables. All scanning is gated
        # on the conf so the default path pays nothing.
        if enforcing:
            if kind in ("create", "convert"):
                m = re.search(
                    rf"(?:{sqldml.CREATE_VERBS}|CONVERT\s+TO\s+DELTA\s+)"
                    r"(?:(?:parquet|delta)\s*\.\s*`|(`[^`]+`|[\w.]+))",
                    sql,
                    re.IGNORECASE,
                )
                # path targets (CONVERT TO DELTA parquet.`/p`, CREATE
                # ... LOCATION-less backtick paths) are the storage-
                # credential trust boundary, like API writes — only
                # NAMED tables get the namespace CREATE check; a
                # 1-part name creates in the implicit 'default' schema
                if m and m.group(1) and not m.group(1).startswith("`"):
                    name = m.group(1).lower()
                    parent = name.rpartition(".")[0] or "default"
                    acl.enforce(spark, "CREATE", parent)
            target = sqldml.statement_target(sql)
            if target is not None:
                target = acl.canonical_name(spark, target)
                acl.enforce(spark, "MODIFY", target)
            for name in acl.referenced_tables(spark, sql):
                # skip ONLY the statement's own target (both sides are
                # canonical registered names) — a second table that
                # merely shares the target's basename (`a.t` vs `b.t`)
                # is a read source and still needs SELECT
                if name != target:
                    acl.enforce(spark, "SELECT", name)
        # table_changes(...) in a DML SOURCE position (INSERT/CTAS
        # SELECT, MERGE USING) resolves like on the SELECT path; DML
        # executes eagerly inside run_dml, so the statement-scoped
        # views can drop right after
        text_dml, tc_dml = _rewrite_table_changes(spark, sql)
        try:
            metrics = sqldml.run_dml(spark, normalize_sql(text_dml))
        finally:
            if tc_dml:
                from ..governance import systables as _st

                _st.drop_views(spark, tc_dml)
        if _qctx is not None:
            _qctx["rows"] = _affected_rows(metrics)
        if kind in ("merge", "insert", "create") and not (
            # CREATE TABLE IF NOT EXISTS that no-oped moved no data:
            # recording edges for it would fabricate lineage facts
            kind == "create"
            and metrics.get("created") == 0
        ):
            # table-level lineage edges (system.lineage.table_lineage):
            # registered read sources feeding the written target. NOT
            # acl.referenced_tables — its fail-closed identifier scan
            # is right for enforcement (over-checking is safe) but
            # would fabricate lineage facts (a column sharing a table's
            # name becomes a false edge); lineage anchors to
            # FROM/USING/JOIN clause positions instead.
            from ..governance import systables

            tgt = sqldml.statement_target(sql)
            if tgt is None and kind == "create":
                # statement_target covers mutation verbs only (the
                # MODIFY gate's scope); CTAS targets parse via the
                # shared sqldml.ctas_target
                tgt = sqldml.ctas_target(sql)
            is_clone = metrics.get("operation") == "CLONE"
            if tgt is None and is_clone:
                mm = re.match(
                    r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+"
                    r"(?:IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|[\w.]+)",
                    sql,
                    re.IGNORECASE,
                )
                if mm:
                    tgt = mm.group(1).strip("`").lower()
            if tgt is not None:
                tgt_c = acl.canonical_name(spark, tgt)
                srcs = [
                    s for s in _lineage_sources(spark, sql) if s != tgt_c
                ]
                views = {
                    n for (s, n) in sqldml._VIEW_DEFS
                    if s == session_key(spark)
                }
                for src in srcs:
                    systables.record_lineage(
                        spark, src, tgt_c,
                        source_type="VIEW" if src in views else "TABLE",
                    )
                if is_clone:
                    # a clone carries every source column 1:1 under
                    # the same name (the clone's own schema IS the
                    # cloned snapshot's schema, exact for time-travel
                    # clones too)
                    if len(srcs) == 1:
                        try:
                            cols = sqldml.resolve_table(
                                spark, tgt_c
                            ).schema.fieldNames()
                        except Exception:  # noqa: BLE001
                            cols = []
                        for c in cols:
                            systables.record_column_lineage(
                                spark, srcs[0], c, tgt_c, c
                            )
                elif kind in ("insert", "create"):
                    # column edges for attributable projections (bare
                    # / aliased / expression refs over plain sources
                    # joined explicitly) — every ambiguous shape
                    # derives nothing, so column_lineage under-reports
                    # instead of fabricating
                    for s_t, s_c, t_c in _column_lineage_edges(
                        spark, sql, tgt_c
                    ):
                        systables.record_column_lineage(
                            spark, s_t, s_c, tgt_c, t_c
                        )
                elif kind == "merge":
                    # MERGE assignment targets attribute their source-
                    # table references (same under-report discipline)
                    for s_t, s_c, t_c in _merge_column_lineage_edges(
                        spark, sql, tgt_c
                    ):
                        systables.record_column_lineage(
                            spark, s_t, s_c, tgt_c, t_c
                        )
        return sqldml.metrics_df(spark, metrics)
    if enforcing:
        for name in acl.referenced_tables(spark, sql):
            acl.enforce(spark, "SELECT", name)
    # engine-owned system tables (information_schema tags, access
    # audit) resolve to temp views refreshed from live metadata; the
    # views are dropped after the statement (they hold gated snapshots
    # — spark.sql analyzes eagerly, so the returned frame survives)
    from ..governance import systables

    text, sys_views = systables.repoint(spark, sql)
    # event_log(TABLE(t)) TVF -> statement-scoped view over the
    # pipeline runner's flow_progress events (same pattern)
    from ..quality import event_log as _event_log

    text, ev_views = _event_log.repoint(spark, text)
    # table_changes('t', start [, end]) TVF (Databricks' SQL CDF
    # reader) -> statement-scoped view over LakeTable.read_changes
    text, tc_views = _rewrite_table_changes(spark, text)
    sys_views = list(sys_views) + ev_views + tc_views
    try:
        # SQL scalar functions: 3-part CREATE FUNCTION DDL -> a temp
        # function under the basename; later full-name calls re-point
        text = _rewrite_functions(spark, text)
        final = normalize_sql(rewrite_time_travel(spark, text))
        try:
            out = spark.sql(final)
        except Exception as qe:  # noqa: BLE001
            # QUALIFY predicates may reference select-list ALIASES
            # inside their window (Databricks resolves them; OSS
            # Spark refuses lateral aliases in windows). Retried with
            # the aliases textually substituted — only on that exact
            # error, so a real source column named like an alias
            # keeps native resolution on the first attempt.
            if "LATERAL_COLUMN_ALIAS_IN_WINDOW" not in str(qe):
                raise
            final2 = normalize_sql(
                rewrite_time_travel(spark, text), qualify_aliases=True
            )
            if final2 == final:
                raise
            out = spark.sql(final2)
            final = final2
        # detect on the COMMENT-FREE text (a leading /* .. */ hides
        # the verb from the anchored match, and the session binding
        # above succeeded on stripped text — the durable record must
        # not silently diverge); the stored statement is bare_sql for
        # the same reason: replay re-parses it with this same regex
        mcf = _CREATE_FN_RE.match(bare_sql)
        if (
            mcf
            and "." in mcf.group("name").strip("`")
            # IF NOT EXISTS on an existing binding rewrites to a
            # SELECT no-op — only an executed CREATE lands durably
            and _CREATE_FN_RE.match(final)
            # an EXPLICIT TEMPORARY function dies with the session
            # by definition — never persist it
            and not re.search(
                r"\bTEMPORARY\s+FUNCTION\b", mcf.group("head"), re.IGNORECASE
            )
        ):
            # record durably only AFTER the body executed — a broken
            # body must not poison every later session's registry
            # load. The ORIGINAL statement is stored (mount /
            # federation / system-view rewrites embed per-statement
            # temp-view names that won't exist at replay); load
            # replays it through the rewrite path again
            full = mcf.group("name").strip("`").lower()
            fmap = _FUNCS.get(sid, {})
            if full in fmap:
                catalog_registry.record(
                    spark,
                    "function",
                    full,
                    {"base": fmap[full], "sql": bare_sql},
                )
        return out
    finally:
        systables.drop_views(spark, sys_views)


# ---------------------------------------------------------------------------
# dashboard pack (Databricks dialect on the Spark side, on purpose)
# ---------------------------------------------------------------------------

# 30-day KPI block (reference ``sql_queries_and_dashboards.py:25-39``),
# pinned to a fixed reference date for determinism.
_Q36_SPARK = """
SELECT
  COUNT(DISTINCT o_custkey) AS active_customers,
  COUNT(*) AS order_count,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_order_value
FROM orders
WHERE o_orderdate >= DATEADD(DAY, -30, TIMESTAMP '2001-08-01 00:00:00')
"""

Q36_SQL = """
SELECT
  COUNT(DISTINCT o_custkey) AS active_customers,
  COUNT(*) AS order_count,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_order_value
FROM orders
WHERE o_orderdate >= TIMESTAMP '2001-08-01 00:00:00' - INTERVAL 30 DAY
"""


def q36_kpi_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-entry KPI block with Databricks ``DATEADD`` normalized to
    ``timestampadd`` (§3.2 dialect path)."""
    return run_sql(spark, sf_dir, _Q36_SPARK)


# month-over-month trend with LAG over grouped output
# (reference ``sql_queries_and_dashboards.py:43-73`` period compare,
# expressed as the window form)
_Q37_SPARK = """
WITH monthly AS (
  SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec,
         COUNT(*) AS n_orders
  FROM orders
  GROUP BY ALL
)
SELECT month, n_orders,
  CAST(rev_dec AS DOUBLE) AS revenue,
  CAST(LAG(rev_dec) OVER (ORDER BY month) AS DOUBLE) AS prev_revenue,
  CASE WHEN LAG(rev_dec) OVER (ORDER BY month) IS NULL THEN NULL
       ELSE (CAST(rev_dec AS DOUBLE) - CAST(LAG(rev_dec) OVER (ORDER BY month) AS DOUBLE))
            / CAST(LAG(rev_dec) OVER (ORDER BY month) AS DOUBLE) * 100.0
  END AS mom_pct
FROM monthly
"""

Q37_SQL = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec,
         COUNT(*) AS n_orders
  FROM orders
  GROUP BY ALL
)
SELECT month, n_orders,
  CAST(rev_dec AS DOUBLE) AS revenue,
  CAST(LAG(rev_dec) OVER (ORDER BY month) AS DOUBLE) AS prev_revenue,
  CASE WHEN LAG(rev_dec) OVER (ORDER BY month) IS NULL THEN NULL
       ELSE (CAST(rev_dec AS DOUBLE) - CAST(LAG(rev_dec) OVER (ORDER BY month) AS DOUBLE))
            / CAST(LAG(rev_dec) OVER (ORDER BY month) AS DOUBLE) * 100.0
  END AS mom_pct
FROM monthly
"""


def q37_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-entry month-over-month revenue trend (GROUP BY ALL + LAG —
    A7/W2 at the SQL surface)."""
    return run_sql(spark, sf_dir, _Q37_SPARK)


# market-segment share with pct-of-total (reference
# ``sql_queries_and_dashboards.py:78-106`` shape)
_Q38_SPARK = """
SELECT c_mktsegment,
  COUNT(*) AS n_customers,
  CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS total_customers,
  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) * 100.0 AS pct_share
FROM customer
GROUP BY c_mktsegment
"""

Q38_SQL = """
SELECT c_mktsegment,
  COUNT(*) AS n_customers,
  CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS total_customers,
  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) * 100.0 AS pct_share
FROM customer
GROUP BY c_mktsegment
"""


def q38_segment_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-entry share-of-total over grouped output (W6/A9 at the SQL
    surface)."""
    return run_sql(spark, sf_dir, _Q38_SPARK)


SQLPACK_QUERIES = {
    "q36_kpi_dashboard": (q36_kpi_dashboard, Q36_SQL),
    "q37_monthly_trend": (q37_monthly_trend, Q37_SQL),
    "q38_segment_share": (q38_segment_share, Q38_SQL),
}

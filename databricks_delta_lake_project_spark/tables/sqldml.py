"""SQL-string DML over LakeTables: ``MERGE INTO`` / ``UPDATE`` /
``DELETE FROM`` / ``INSERT INTO`` statements routed to the engine's
:class:`MergeBuilder` / :meth:`LakeTable.update` / :meth:`delete` /
:meth:`append` — so the reference's own SQL MERGE scripts
(``/root/reference/src/utils/delta_lake_features.py:268-323``: MERGE
update-all, conditional update, single-MERGE CDC with
``WHEN MATCHED ... THEN DELETE``) run verbatim against engine tables.

Spark's open-source parser rejects MERGE/UPDATE/DELETE against plain
parquet-backed temp views, so the engine parses the statement itself
(a paren/quote-aware scanner, not a full grammar — the DML subset is
small and regular) and drives the same copy-on-write/DV machinery the
DataFrame API uses. Aliases are requalified to the builder's fixed
``t``/``s`` convention, which makes every WHEN-clause condition and
SET expression a plain Spark SQL expression over the joined plan —
no re-implementation of expression semantics.

Table-name resolution: names registered via :func:`register_table`
(exact, case-insensitive; or unique last dotted component so
``catalog.schema.customers`` scripts resolve to a table registered as
``customers``), or a backticked filesystem path (the Databricks
``delta.`/path``` form).
"""

from __future__ import annotations

import re
from typing import Any, TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from ..session import session_key

if TYPE_CHECKING:  # pragma: no cover
    from .table import LakeTable

__all__ = [
    "register_table",
    "resolve_table",
    "statement_kind",
    "run_dml",
]


# ---------------------------------------------------------------------------
# name registry (per SparkSession)
# ---------------------------------------------------------------------------

_REGISTRY: dict[tuple[str, str], "LakeTable"] = {}


def _skey(spark: SparkSession, name: str) -> tuple[str, str]:
    # session_key (JVM session UUID) never recycles, unlike id() of a
    # GC'd wrapper — a replacement session must see fresh registries.
    return (session_key(spark), name.lower().strip("`"))


def register_table(spark: SparkSession, name: str, table: "LakeTable") -> None:
    """Bind ``name`` (optionally dotted, e.g. ``cat.schema.customers``)
    to a LakeTable for SQL DML resolution in this session. Refuses a
    name whose BASENAME collides with a persistent view (both resolve
    by basename — the later sync pass would silently shadow one with
    the other)."""
    sid, clean = _skey(spark, name)
    base = clean.split(".")[-1]
    for (s, n) in _VIEW_DEFS:
        if s == sid and (n == clean or n.split(".")[-1] == base):
            raise ValueError(
                f"table name {name!r} collides with view {n!r}"
            )
    _REGISTRY[(sid, clean)] = table


# temp views this module created (never user-owned ones), mapped to
# the table VERSION they reflect — a view is only rebuilt when the
# table moved, so a script of N statements over M tables does O(changed
# tables) refreshes, not O(N*M) log replays
# sessions whose synced views carry SET MASK bindings — sqlpack
# refreshes the group-membership UDF before statements in these
# sessions (the mask functions late-bind it at query time)
_MASKED_SESSIONS: set[str] = set()

# (session, view_name) -> (table_version, table_root): the root is
# part of the freshness key so a DIFFERENT table re-registered under a
# previously-used name refreshes the view even when both tables happen
# to sit at the same version number
_OWNED_VIEWS: dict[tuple[str, str], tuple[int | None, str] | None] = {}


def sync_views(spark: SparkSession, statement: str | None = None) -> None:
    """Expose every registered LakeTable as a same-named temp view (last
    dotted component) so plain SELECTs and MERGE USING clauses resolve
    table names. A view refreshes only when its table's version moved
    (cheap latest-version probe, no replay); a user's own temp view is
    never shadowed.

    ``statement`` (the SQL about to run) scopes the persistent-view
    sync: only views the statement's identifier tokens reference —
    plus their transitive view dependencies — are considered, and a
    considered view re-analyzes only when its freshness key moved
    (underlying registered-table versions, its own definition text, a
    dependency rebuilt this pass, a membership-gated body, or a
    non-engine source whose state the engine cannot version). Without
    ``statement`` (or when it contains runtime-constructed names —
    IDENTIFIER() / EXECUTE IMMEDIATE — that no token scan resolves)
    every view is considered. Zero cost for sessions with no views."""
    sid = session_key(spark)
    cur_state: dict[str, tuple[int | None, str]] = {}
    rebuilt: set[str] = set()
    for (s, n), t in list(_REGISTRY.items()):
        if s != sid:
            continue
        name = n.split(".")[-1]
        if not re.fullmatch(r"\w+", name):
            continue  # path-registered tables have no view-able name
        key = (sid, name)
        try:
            v = t._log.latest_version(t.root)
        except Exception:
            v = None
        cur_state[name] = (v, t.root)
        owned = key in _OWNED_VIEWS
        if owned and _OWNED_VIEWS[key] == (v, t.root):
            # same table, unchanged since the last sync — EXCEPT masked
            # views, which must re-analyze so the mask function binds
            # the freshly-registered group-membership UDF (the closure
            # snapshots the session's groups). Sessions that never SET
            # MASK skip the properties probe entirely.
            if sid not in _MASKED_SESSIONS:
                continue
            try:
                if not t.column_masks():
                    continue
            except Exception:  # noqa: BLE001
                continue
        if owned or not spark.catalog.tableExists(name):
            try:
                df = t.to_df()
            except Exception:
                # table directory gone (e.g. a temp workspace cleaned
                # up) — drop the dead registration instead of poisoning
                # every later statement
                _REGISTRY.pop((s, n), None)
                _OWNED_VIEWS.pop(key, None)
                continue
            masks = t.column_masks()
            if masks:
                _MASKED_SESSIONS.add(sid)
                # SET MASK binds a SQL function to the column; the
                # synced view IS the engine's secured-view layer, so
                # every SQL SELECT sees fn(col) (the function body
                # decides privilege via engine_is_group_member). API
                # DataFrame reads stay raw — the storage-credential
                # trust boundary. Mask names were validated \w+ at
                # bind time.
                from pyspark.sql import functions as F

                try:
                    df = df.select(
                        *[
                            F.expr(f"{masks[c]}(`{c}`)").alias(c)
                            if c in masks
                            else F.col(c)
                            for c in df.columns
                        ]
                    )
                except Exception:  # noqa: BLE001
                    # the mask binding is durable (table property) but
                    # the function is TEMPORARY — in a session where it
                    # isn't (re)created yet, fail CLOSED for this one
                    # table: drop any pre-mask view so nothing serves
                    # raw data, keep every other statement working (a
                    # raise here would brick the whole SQL surface,
                    # including the CREATE FUNCTION that fixes it)
                    spark.catalog.dropTempView(name)
                    _OWNED_VIEWS.pop(key, None)
                    rebuilt.add(name)
                    continue
            df.createOrReplaceTempView(name)
            _OWNED_VIEWS[key] = (v, t.root)
            rebuilt.add(name)
    # persistent VIEWS are SQL text re-analyzed here so the plan
    # always reads the underlying tables' CURRENT snapshot (a temp
    # view built once would freeze the file list at definition time).
    # The sync is REFERENCED-ONLY and VERSION-KEYED — see _view_sync.
    views = [(n, meta) for (s, n), meta in _VIEW_DEFS.items() if s == sid]
    if views:
        _view_sync(spark, sid, views, statement, cur_state, rebuilt)


def _view_tokens(meta: dict) -> set[str]:
    """The body's identifier tokens plus each dotted token's basename
    (a body can spell a dependency either way), cached on the
    definition — recomputed only when the stored SQL changes."""
    cached = meta.get("_tokens")
    if cached is None or meta.get("_tokens_sql") != meta["sql"]:
        toks = identifier_tokens(meta["sql"])
        cached = toks | {t.split(".")[-1] for t in toks}
        meta["_tokens"] = cached
        meta["_tokens_sql"] = meta["sql"]
    return cached


def _view_from_refs(meta: dict) -> set[str]:
    """The body's FROM/JOIN/USING-position relation refs (lowered,
    CTEs excluded), cached on the definition like ``_view_tokens`` —
    the ownership test behind keyed skipping: every read relation must
    be one the engine versions."""
    cached = meta.get("_from_refs")
    if cached is None or meta.get("_from_refs_sql") != meta["sql"]:
        from ..queries.sqlpack import from_position_refs

        cached = from_position_refs(meta["sql"])
        meta["_from_refs"] = cached
        meta["_from_refs_sql"] = meta["sql"]
    return cached


_MEMBER_RE = re.compile(
    r"\b(?:is_account_group_member|engine_is_group_member)\s*\(",
    re.IGNORECASE,
)

# identifier immediately before an opening paren — the call-position
# shape. SQL keywords that legitimately precede '(' without being a
# function (OVER (...), VALUES (...), GROUPING SETS (...)) are
# excluded, as is any identifier right after AS (a table alias's
# column list: AS v(a, b)); most overlap-shaped words (IN, EXISTS,
# FILTER, DECIMAL) are already in Spark's builtin registry so need no
# exclusion. A bare alias-with-column-list (no AS) still reads as a
# call — that only forfeits keyed skipping for that view (harmless
# re-analysis), never a stale answer.
_CALL_RE = re.compile(r"([A-Za-z_][\w.]*)\s*\(")
_CALL_KEYWORDS = frozenset(
    """over values on when then else and or not where select join
    using as by all any some union except intersect distinct having
    group order partition between like is case end with from varchar
    interval row rows range lateral tablesample pivot unpivot for
    within cluster distribute sort sets
    """.split()
)
_AS_BEFORE_RE = re.compile(r"(?i)\bAS\s+$")


def call_position_refs(sql: str) -> set[str]:
    """Lowered identifier tokens in call position (``name(``) outside
    string literals, keyword-paren shapes, AS-aliased column lists,
    and CTE names excluded. Like :func:`identifier_tokens`, collected
    under both lexer maskings and unioned — a data value can at worst
    ADD a spurious token (forcing a harmless re-analysis), never hide
    one."""
    out: set[str] = set()
    ctes = _cte_basenames(sql)
    for backslash in (True, False):
        mask = _mask(sql, backslash_escapes=backslash)
        for m in _CALL_RE.finditer(sql):
            if mask[m.start()][1]:
                continue
            tok = m.group(1).lower()
            if tok in _CALL_KEYWORDS or tok.split(".")[-1] in ctes:
                continue
            if _AS_BEFORE_RE.search(sql, 0, m.start()):
                continue  # AS v(a, b): alias column list, not a call
            out.add(tok)
    return out


def _cte_basenames(sql: str) -> set[str]:
    """CTE names declared in the statement — ``WITH t (a, b) AS``
    puts ``t`` in call position textually, but it is a relation."""
    try:
        from ..queries.sqlpack import _cte_names

        return _cte_names(sql)
    except Exception:  # noqa: BLE001
        return set()


# static Spark builtin function names (FunctionRegistry.builtin() —
# temp/catalog functions never enter it), probed once per process.
# None = probe not yet run or failed; a failed probe fails SAFE: with
# no builtin set, every call-position token is "unknown" and views
# with calls re-analyze each statement (correct, just slower).
_BUILTIN_FUNCS: set[str] | None = None
_BUILTIN_PROBED = False


def _spark_builtin_funcs(spark: SparkSession) -> set[str] | None:
    global _BUILTIN_FUNCS, _BUILTIN_PROBED
    if not _BUILTIN_PROBED:
        _BUILTIN_PROBED = True
        try:
            reg = (
                spark._jvm.org.apache.spark.sql.catalyst.analysis
                .FunctionRegistry.builtin()
            )
            seq = reg.listFunction()
            names = {
                seq.apply(i).funcName().lower()
                for i in range(seq.size())
            }
            try:  # generator TVFs (explode/range/... in FROM position)
                tv = (
                    spark._jvm.org.apache.spark.sql.catalyst.analysis
                    .TableFunctionRegistry.builtin()
                )
                tseq = tv.listFunction()
                names |= {
                    tseq.apply(i).funcName().lower()
                    for i in range(tseq.size())
                }
            except Exception:  # noqa: BLE001
                pass
            _BUILTIN_FUNCS = names
        except Exception:  # noqa: BLE001
            _BUILTIN_FUNCS = None
    return _BUILTIN_FUNCS


def _view_call_refs(meta: dict) -> set[str]:
    """Call-position tokens of the body, cached on the definition."""
    cached = meta.get("_call_refs")
    if cached is None or meta.get("_call_refs_sql") != meta["sql"]:
        cached = call_position_refs(meta["sql"])
        meta["_call_refs"] = cached
        meta["_call_refs_sql"] = meta["sql"]
    return cached

# (session, view_full_name) -> freshness key of the CURRENT binding:
# (definition sql, cols, sorted (table_basename, version, root) over
# the registered tables the body's tokens touch). A matching key
# proves the bound plan still reads the same snapshots of everything
# the engine versions; anything the engine cannot version (native
# temp views / catalog tables in the body, membership UDF closures)
# disqualifies the view from keyed skipping entirely.
_BOUND_VIEWS: dict[tuple[str, str], tuple] = {}


def _view_sync(
    spark: SparkSession,
    sid: str,
    views: list[tuple[str, dict]],
    statement: str | None,
    cur_state: dict[str, tuple[int | None, str]],
    rebuilt: set[str],
) -> None:
    """Bind the persistent views a statement needs, re-analyzing only
    the stale ones. Need = the statement's identifier tokens name the
    view (plus transitive view deps); stale = freshness key moved, a
    dependency (table temp view or other view) rebuilt this pass, a
    membership-gated body (the group UDF closure refreshes per
    statement in masked sessions), or a body token naming a NON-engine
    relation (user temp view / native catalog table — sources the
    engine cannot version-key, so those views keep the re-analyze-
    every-statement contract). Fixed-point passes keep view-over-view
    binding ORDER-FREE; a view that still fails after convergence
    fails CLOSED — its previous binding is dropped, so a stale frozen
    plan can never keep serving data whose definition no longer
    analyzes."""
    bind_all = statement is None or re.search(
        r"\bIDENTIFIER\s*\(|\bEXECUTE\s+IMMEDIATE\b", statement,
        re.IGNORECASE,
    )
    if bind_all:
        needed = list(views)
    else:
        assert statement is not None
        stoks = identifier_tokens(statement)
        stoks |= {t.split(".")[-1] for t in stoks}
        needed = [
            (n, meta)
            for n, meta in views
            if n in stoks or n.split(".")[-1] in stoks
        ]
        # transitive deps: a needed view's body tokens can name other
        # views, which must be bound for its analysis to succeed
        seen = {n for n, _ in needed}
        frontier = list(needed)
        while frontier:
            deps: set[str] = set()
            for _n, meta in frontier:
                deps |= _view_tokens(meta)
            frontier = [
                (n, meta)
                for n, meta in views
                if n not in seen
                and (n in deps or n.split(".")[-1] in deps)
            ]
            seen |= {n for n, _ in frontier}
            needed.extend(frontier)
    if not needed:
        return
    # relations the engine does NOT own in READ position (user temp
    # views, native catalog tables in ANY database, global_temp views,
    # TVF sources): a view whose body reads one re-analyzes every
    # statement — the engine has no version to key on. Judged on
    # FROM/JOIN/USING-position refs, not raw tokens (a qualified
    # column ``alias.col`` must not look foreign) and not the current
    # database's listing (``db2.tbl`` / ``global_temp.g`` would hide).
    engine_owned = set(cur_state) | {
        n for (s, n) in _REGISTRY if s == sid
    }
    for n, _m in views:
        engine_owned.add(n)
        engine_owned.add(n.split(".")[-1])
    # SQL functions the engine registered (3-part CREATE FUNCTION):
    # CREATE OR REPLACE FUNCTION changes a body the bound plan has
    # already inlined, and no table version moves — a view CALLING one
    # is volatile. A TEMPORARY function created natively outside the
    # engine's DDL path has no version the engine can key on either,
    # so any call-position token that is neither a Spark builtin nor
    # an engine function disqualifies the view from keyed skipping
    # (same treatment as non-engine relations).
    try:
        from ..queries.sqlpack import _FUNCS

        fmap = _FUNCS.get(sid, {})
        engine_funcs: set[str] | None = {f.lower() for f in fmap} | {
            b.lower() for b in fmap.values()
        }
    except Exception:  # noqa: BLE001
        engine_funcs = None  # fail-safe: volatile, never stale

    def key_for(meta: dict) -> tuple:
        toks = _view_tokens(meta)
        return (
            meta["sql"],
            tuple(meta.get("cols") or ()),
            tuple(
                sorted(
                    (b, v, r)
                    for b, (v, r) in cur_state.items()
                    if b in toks
                )
            ),
        )

    def stale(n: str, meta: dict) -> bool:
        toks = _view_tokens(meta)
        if any(
            r not in engine_owned and r.split(".")[-1] not in engine_owned
            for r in _view_from_refs(meta)
        ):
            return True
        if engine_funcs is None or toks & engine_funcs:
            return True
        calls = _view_call_refs(meta)
        if calls:
            builtins = _spark_builtin_funcs(spark)
            if builtins is None:
                return True  # cannot classify calls — never skip
            known = engine_funcs | builtins
            if any(
                c not in known and c.split(".")[-1] not in known
                for c in calls
            ):
                # a natively-created temp function (or anything else
                # the engine cannot version) — re-analyze every
                # statement so CREATE OR REPLACE of it is never stale
                return True
        if _MEMBER_RE.search(meta["sql"]):
            return True
        if toks & rebuilt:
            return True
        if _BOUND_VIEWS.get((sid, n)) != key_for(meta):
            return True
        try:
            return not spark.catalog.tableExists(n.split(".")[-1])
        except Exception:  # noqa: BLE001
            return True

    pending = [(n, meta) for n, meta in needed if stale(n, meta)]
    fresh = [(n, meta) for n, meta in needed if (n, meta) not in pending]
    progressed = True
    while pending and progressed:
        progressed = False
        still: list[tuple[str, dict]] = []
        for n, meta in pending:
            base = n.split(".")[-1]
            try:
                df = spark.sql(meta["sql"])
                if meta.get("cols"):
                    df = df.toDF(*meta["cols"])
                df.createOrReplaceTempView(base)
                _BOUND_VIEWS[(sid, n)] = key_for(meta)
                rebuilt.add(base)
                progressed = True
            except Exception:  # noqa: BLE001
                still.append((n, meta))
        pending = still
        # a rebuild can invalidate a previously-fresh dependent (its
        # dep landed in `rebuilt` after the staleness check ran)
        if progressed and fresh:
            newly = [fm for fm in fresh if _view_tokens(fm[1]) & rebuilt]
            if newly:
                fresh = [fm for fm in fresh if fm not in newly]
                pending.extend(newly)
                progressed = True
    for n, _meta in pending:
        import warnings

        base = n.split(".")[-1]
        try:
            spark.catalog.dropTempView(base)
        except Exception:  # noqa: BLE001
            pass
        _BOUND_VIEWS.pop((sid, n), None)
        # one broken view (an underlying table dropped since
        # definition) must not brick every later statement — but it
        # must not serve a stale frozen plan either
        warnings.warn(
            f"view {n}: body no longer analyzes; statements "
            f"referencing it will fail until it is re-created or "
            f"dropped",
            stacklevel=2,
        )
    if pending:
        # fail-closed must PROPAGATE: a dependent bound on an earlier
        # statement holds a frozen plan that reads THROUGH the view
        # just dropped — left alone it would keep serving the old
        # snapshot. Dropping its binding makes the next reference
        # re-analyze (and fail loudly, since the dep is gone).
        failed: set[str] = set()
        for n, _m in pending:
            failed |= {n, n.split(".")[-1]}
        changed = True
        while changed:
            changed = False
            for n, meta in views:
                if n in failed or (sid, n) not in _BOUND_VIEWS:
                    continue
                if _view_tokens(meta) & failed:
                    _BOUND_VIEWS.pop((sid, n), None)
                    try:
                        spark.catalog.dropTempView(n.split(".")[-1])
                    except Exception:  # noqa: BLE001
                        pass
                    failed |= {n, n.split(".")[-1]}
                    changed = True


# persistent VIEW definitions (UC views: named, ACL-gated, durable
# via the catalog registry), (session, full_name_lower) ->
# {"sql": <select body>, "cols": [..]|None, "comment": str|None}
_VIEW_DEFS: dict[tuple[str, str], dict] = {}


def view_def(spark: SparkSession, name: str) -> tuple[str, dict] | None:
    """``(full_name, definition)`` for a registered view, resolved
    exactly or by unique basename suffix (the same rule table
    resolution applies); None when unknown or ambiguous."""
    sid = session_key(spark)
    clean = name.strip().strip("`").lower()
    hit = _VIEW_DEFS.get((sid, clean))
    if hit is not None:
        return clean, hit
    last = clean.split(".")[-1]
    matches = [
        (n, d)
        for (s, n), d in _VIEW_DEFS.items()
        if s == sid and n.split(".")[-1] == last
    ]
    return matches[0] if len(matches) == 1 else None


def resolve_table(spark: SparkSession, name: str) -> "LakeTable":
    from .table import LakeTable

    clean = name.strip().strip("`")
    hit = _REGISTRY.get(_skey(spark, clean))
    if hit is not None:
        return hit
    # unique-suffix match: a script written against a 3-part catalog
    # name resolves to a table registered under the bare table name,
    # and vice versa
    last = clean.split(".")[-1].lower()
    sid = session_key(spark)
    suffix_hits = [
        t
        for (s, n), t in _REGISTRY.items()
        if s == sid and (n.split(".")[-1] == last or n == last)
    ]
    if len(suffix_hits) == 1:
        return suffix_hits[0]
    if len(suffix_hits) > 1:
        raise ValueError(f"ambiguous DML table name {name!r}")
    if LakeTable.is_table(clean):
        return LakeTable.for_path(spark, clean)
    raise ValueError(
        f"unknown DML target {name!r}: register it with "
        "sqldml.register_table(spark, name, table) or use a table path"
    )


# ---------------------------------------------------------------------------
# quote/paren-aware scanning
# ---------------------------------------------------------------------------


def identifier_tokens(sql: str) -> set[str]:
    """Every lowered identifier token a statement COULD reference:
    dotted-word tokens outside string literals plus all backtick-
    quoted identifiers. This is the shared fail-closed scan behind
    SELECT enforcement (``access_control.referenced_tables``) and the
    internal-view guard (``federation.enforce_internal_view_refs``) —
    one implementation so a quote/comment-handling fix reaches every
    security check at once.

    Fail-closed under EITHER lexer mode: Spark's default treats
    backslash as an escape inside literals, but the legacy conf
    ``spark.sql.parser.escapedStringLiterals=true`` does not — a scan
    masked under only one interpretation goes fail-OPEN under the
    other (a ``'\\'`` literal flips where the string ends). Tokens
    are collected under BOTH maskings and unioned: a data value can
    at worst trigger a spurious check, never hide one."""
    import re as _re

    refs: set[str] = set()
    for backslash in (True, False):
        mask = _mask(sql, backslash_escapes=backslash)
        for m in _re.finditer(r"[A-Za-z_][\w.]*", sql):
            if not mask[m.start()][1]:
                refs.add(m.group(0).lower())
    for m in _re.finditer(r"`([^`]+)`", sql):
        refs.add(m.group(1).lower())
    return refs


def _mask(
    sql: str, backslash_escapes: bool = True
) -> list[tuple[int, bool]]:
    """Per-character (paren_depth, in_quote). Quotes: '...' (with ''
    and backslash escapes — Spark's default lexer semantics), "...",
    and `...` identifiers. ``backslash_escapes=False`` models the
    legacy ``spark.sql.parser.escapedStringLiterals=true`` lexer;
    security scans union both (see ``identifier_tokens``)."""
    out: list[tuple[int, bool]] = []
    depth = 0
    q: str | None = None
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if q is not None:
            out.append((depth, True))
            if (
                backslash_escapes
                and ch == "\\"
                and q in "'\""
                and i + 1 < n
            ):
                # \' inside a literal must not close the quote
                out.append((depth, True))
                i += 2
                continue
            if ch == q:
                if q == "'" and i + 1 < n and sql[i + 1] == "'":
                    out.append((depth, True))
                    i += 2
                    continue
                q = None
            i += 1
            continue
        if ch in "'\"`":
            q = ch
            out.append((depth, True))
        elif ch == "(":
            depth += 1
            out.append((depth, False))
        elif ch == ")":
            out.append((depth, False))
            depth -= 1
        else:
            out.append((depth, False))
        i += 1
    return out


def _strip_comments(sql: str) -> str:
    """Remove ``-- ...`` line comments and ``/* ... */`` block
    comments (outside quotes; block comments nest, like Spark's
    lexer). Quotes are tracked inline rather than via ``_mask`` —
    a quote character INSIDE a comment (``/* don't */``) must not
    open a quoted span."""
    out: list[str] = []
    i, n = 0, len(sql)
    q: str | None = None
    while i < n:
        ch = sql[i]
        if q:
            out.append(ch)
            if ch == "\\" and q in "'\"" and i + 1 < n:
                out.append(sql[i + 1])  # \' must not close the quote
                i += 2
                continue
            if ch == q:
                if q in "'\"" and i + 1 < n and sql[i + 1] == q:
                    out.append(sql[i + 1])  # '' / "" escape pair
                    i += 2
                    continue
                q = None
            i += 1
            continue
        if ch in "'\"`":
            q = ch
            out.append(ch)
            i += 1
            continue
        if sql[i : i + 2] == "--":
            while i < n and sql[i] != "\n":
                i += 1
            continue
        if sql[i : i + 2] == "/*":
            start, depth, i = i, 1, i + 2
            while i < n and depth:
                if sql[i : i + 2] == "/*":
                    depth, i = depth + 1, i + 2
                elif sql[i : i + 2] == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            if sql[start : start + 3] == "/*+":
                # optimizer HINT, not commentary: Spark's lexer keeps
                # /*+ BROADCAST(d) */ and planning depends on it —
                # stripping it would silently change join strategies
                out.append(sql[start:i])
            else:
                out.append(" ")  # keep a token separator
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _find_top(sql: str, pattern: str, start: int = 0) -> re.Match | None:
    """First regex match at paren depth 0, outside quotes."""
    mask = _mask(sql)
    for m in re.finditer(pattern, sql, re.IGNORECASE):
        if m.start() < start:
            continue
        d, q = mask[m.start()]
        if d == 0 and not q:
            return m
    return None


def _split_top(sql: str, pattern: str) -> list[str]:
    """Split on every depth-0, unquoted occurrence of ``pattern``."""
    mask = _mask(sql)
    cuts = [
        m.start()
        for m in re.finditer(pattern, sql, re.IGNORECASE)
        if mask[m.start()] == (0, False)
    ]
    parts = []
    prev = 0
    for c in cuts:
        parts.append(sql[prev:c])
        prev = c
    parts.append(sql[prev:])
    return parts


def _merge_when_cuts(sql: str) -> list[int]:
    """Positions of MERGE-clause ``WHEN`` heads: depth-0, unquoted,
    OUTSIDE any ``CASE .. END`` expression, and followed by
    ``[NOT] MATCHED`` — so a ``CASE WHEN`` inside a condition or SET
    value never splits the clause list."""
    mask = _mask(sql)
    case_depth = 0
    cuts: list[int] = []
    for m in re.finditer(r"\b(CASE|END|WHEN)\b", sql, re.IGNORECASE):
        if mask[m.start()] != (0, False):
            continue
        w = m.group(1).upper()
        if w == "CASE":
            case_depth += 1
        elif w == "END":
            case_depth = max(0, case_depth - 1)
        elif case_depth == 0 and re.match(
            r"WHEN\s+(NOT\s+)?MATCHED\b", sql[m.start() :], re.IGNORECASE
        ):
            cuts.append(m.start())
    return cuts


def _find_clause_then(sql: str) -> re.Match | None:
    """First ``THEN`` at depth 0, unquoted, outside CASE..END — the
    MERGE clause's THEN, never a CASE's."""
    mask = _mask(sql)
    case_depth = 0
    for m in re.finditer(r"\b(CASE|END|THEN)\b", sql, re.IGNORECASE):
        if mask[m.start()] != (0, False):
            continue
        w = m.group(1).upper()
        if w == "CASE":
            case_depth += 1
        elif w == "END":
            case_depth = max(0, case_depth - 1)
        elif case_depth == 0:
            return m
    return None


def _split_commas(s: str) -> list[str]:
    mask = _mask(s)
    parts: list[str] = []
    prev = 0
    for i, ch in enumerate(s):
        if ch == "," and mask[i] == (0, False):
            parts.append(s[prev:i])
            prev = i + 1
    parts.append(s[prev:])
    return [p.strip() for p in parts if p.strip()]


# table ref: backticked path/name or dotted identifier
_TREF_RE = re.compile(r"\s*(`[^`]+`|[A-Za-z_][\w.]*)\s*")
_KEYWORDS = {
    "using",
    "on",
    "when",
    "set",
    "where",
    "values",
    "select",
    "then",
    "as",
}


def _read_table_ref(s: str) -> tuple[str, str]:
    m = _TREF_RE.match(s)
    if not m:
        raise ValueError(f"cannot parse table reference at: {s[:60]!r}")
    return m.group(1), s[m.end() :]


def _read_alias(s: str) -> tuple[str | None, str]:
    m = re.match(r"\s*AS\s+([A-Za-z_]\w*)\s*", s, re.IGNORECASE)
    if m:
        return m.group(1), s[m.end() :]
    m = re.match(r"\s*([A-Za-z_]\w*)\s*", s)
    if m and m.group(1).lower() not in _KEYWORDS:
        return m.group(1), s[m.end() :]
    return None, s


# ---------------------------------------------------------------------------
# alias requalification
# ---------------------------------------------------------------------------


def _replace_outside_quotes(expr: str, pattern: str, repl: str) -> str:
    mask = _mask(expr)
    out: list[str] = []
    pos = 0
    for m in re.finditer(pattern, expr, re.IGNORECASE):
        if mask[m.start()][1]:
            continue
        out.append(expr[pos : m.start()])
        out.append(repl)
        pos = m.end()
    out.append(expr[pos:])
    return "".join(out)


def _qualifier_patterns(name: str | None, alias: str | None) -> list[str]:
    pats: list[str] = []
    if alias:
        pats.append(rf"\b{re.escape(alias)}\s*\.\s*")
    if name:
        clean = name.strip("`")
        # full dotted name and its last component, as qualifiers
        pats.append(rf"\b{re.escape(clean)}\s*\.\s*")
        last = clean.split(".")[-1]
        if last != clean:
            pats.append(rf"\b{re.escape(last)}\s*\.\s*")
    return pats


def _requalify(
    expr: str,
    tname: str | None,
    talias: str | None,
    sname: str | None,
    salias: str | None,
) -> str:
    """Rewrite target/source qualifiers to the builder's ``t.``/``s.``
    convention (two-phase via placeholders so ``target AS s`` cannot
    collide with the canonical aliases)."""
    out = expr
    for p in _qualifier_patterns(tname, talias):
        out = _replace_outside_quotes(out, p, "\x00T\x00.")
    for p in _qualifier_patterns(sname, salias):
        out = _replace_outside_quotes(out, p, "\x00S\x00.")
    return out.replace("\x00T\x00.", "t.").replace("\x00S\x00.", "s.").strip()


def _strip_qualifiers(expr: str, name: str | None, alias: str | None) -> str:
    out = expr
    for p in _qualifier_patterns(name, alias):
        out = _replace_outside_quotes(out, p, "")
    return out.strip()


def _parse_assignments(s: str) -> dict[str, str]:
    """``a = expr, b = expr`` -> {col: expr} (qualifiers NOT yet
    stripped — callers requalify per their context)."""
    out: dict[str, str] = {}
    for part in _split_commas(s):
        m = _find_top(part, r"=")
        if m is None:
            raise ValueError(f"cannot parse assignment: {part!r}")
        out[part[: m.start()].strip()] = part[m.start() + 1 :].strip()
    return out


# ---------------------------------------------------------------------------
# statement detection + dispatch
# ---------------------------------------------------------------------------


def statement_kind(sql: str) -> str | None:
    head = _strip_comments(sql).lstrip().lower()
    for kw, kind in (
        ("merge", "merge"),
        ("update", "update"),
        ("delete", "delete"),
        ("insert", "insert"),
        ("alter", "alter"),
        ("optimize", "optimize"),
        ("vacuum", "vacuum"),
        ("restore", "restore"),
        ("reorg", "reorg"),
        ("fsck", "fsck"),
        ("create table", "create"),
        ("create or replace table", "create"),
        ("create table if not exists", "create"),
        ("truncate", "truncate"),
        ("convert", "convert"),
        ("copy into", "copy"),
        ("generate", "generate"),
    ):
        if head.startswith(kw):
            return kind
    return None


# ONE inventory of target-mutating verb prefixes: statement_target's
# MODIFY gate and federation's read-only guard must never drift apart
# (a verb in one list but not the other silently loses a check)
TARGET_VERBS = (
    r"MERGE\s+(?:WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO|UPDATE|DELETE\s+FROM"
    r"|INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?"
    r"|TRUNCATE\s+(?:TABLE\s+)?|ALTER\s+TABLE|OPTIMIZE"
    r"|VACUUM|RESTORE\s+(?:TABLE\s+)?|COPY\s+INTO\s+"
    r"|REORG\s+(?:TABLE\s+)?|FSCK\s+REPAIR\s+(?:TABLE\s+)?"
    r"|GENERATE\s+\w+\s+FOR\s+TABLE\s+"
)
# creation verbs, kept separate: statement_target deliberately
# excludes them (CREATE is namespace-gated, not MODIFY-gated)
CREATE_VERBS = (
    r"(?:CREATE\s+(?:OR\s+REPLACE\s+)?|REPLACE\s+)TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?"
)


def statement_target(sql: str) -> str | None:
    """The mutated table name of a DML/DDL statement (None when not
    parseable) — the securable the access-control layer checks MODIFY
    on; source tables in USING/SELECT clauses are read-checked
    separately."""
    text = _strip_comments(sql).strip()
    m = re.match(
        rf"(?:{TARGET_VERBS})\s*(`[^`]+`|[\w.]+)",
        text,
        re.IGNORECASE,
    )
    return m.group(1).strip("`") if m else None


def ctas_target(sql: str) -> str | None:
    """The NAMED target of a CREATE [OR REPLACE] TABLE statement
    (None otherwise, including backtick-PATH targets) —
    ``statement_target``'s sibling for the creation verbs it
    deliberately excludes from the MODIFY gate. Comment-stripped like
    statement_target so a leading ``/* .. */`` never hides the
    target."""
    m = re.match(
        rf"\s*(?:{CREATE_VERBS})(`[^`]+`|[\w.]+)",
        _strip_comments(sql),
        re.IGNORECASE,
    )
    if m is None or m.group(1).startswith("`"):
        return None
    return m.group(1)


def run_dml(spark: SparkSession, sql: str) -> dict[str, Any]:
    """Parse + execute one DML statement; returns the operation's
    metrics dict (the engine's operationMetrics surface)."""
    kind = statement_kind(sql)
    if kind is None:
        raise ValueError("not a DML statement")
    text = _strip_comments(sql).strip().rstrip(";").strip()
    # the Databricks path-table form `delta.`/path`` normalizes to a
    # plain backticked path (resolve_table opens it via for_path);
    # quote-aware so string literals are never rewritten
    text = _replace_outside_quotes(text, r"\bdelta\s*\.\s*`", "`")
    if kind == "merge":
        return _run_merge(spark, text)
    if kind == "update":
        return _run_update(spark, text)
    if kind == "delete":
        return _run_delete(spark, text)
    if kind == "alter":
        return _run_alter(spark, text)
    if kind == "create":
        return _run_create(spark, text)
    if kind == "optimize":
        return _run_optimize(spark, text)
    if kind == "vacuum":
        return _run_vacuum(spark, text)
    if kind == "restore":
        return _run_restore(spark, text)
    if kind == "reorg":
        return _run_reorg(spark, text)
    if kind == "fsck":
        m = re.match(
            r"FSCK\s+REPAIR\s+TABLE\s+(?P<tref>`[^`]+`|[A-Za-z_][\w.]*)"
            r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$",
            text,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse FSCK statement: {text[:80]!r}")
        return {
            **resolve_table(spark, m.group("tref")).fsck_repair(
                dry_run=bool(m.group("dry"))
            ),
            "operation": "FSCK",
        }
    if kind == "copy":
        return _run_copy_into(spark, text)
    if kind == "generate":
        m = re.match(
            r"GENERATE\s+(?P<mode>\w+)\s+FOR\s+TABLE\s+"
            r"(?P<tref>`[^`]+`|[A-Za-z_][\w.]*)\s*$",
            text,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(
                f"cannot parse GENERATE statement: {text[:80]!r}"
            )
        if m.group("mode").lower() != "symlink_format_manifest":
            raise ValueError(
                f"GENERATE: unknown mode {m.group('mode')!r} "
                "(supported: symlink_format_manifest)"
            )
        return {
            **resolve_table(spark, m.group("tref")).generate_manifest(),
            "operation": "GENERATE",
        }
    if kind == "convert":
        m = re.match(
            r"CONVERT\s+TO\s+DELTA\s+parquet\s*\.\s*`([^`]+)`"
            r"(?:\s+PARTITIONED\s+BY\s*\((?P<pcols>[^)]*)\))?\s*$",
            text,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse CONVERT statement: {text[:80]!r}")
        from .table import LakeTable

        pschema = None
        if m.group("pcols"):
            pschema = {}
            for item in _split_commas(m.group("pcols")):
                bits = item.split()
                pschema[bits[0].strip("`")] = (
                    " ".join(bits[1:]) if len(bits) > 1 else "string"
                )
        t = LakeTable.convert_parquet(
            spark, m.group(1), partition_schema=pschema
        )
        register_table(spark, m.group(1), t)
        return {
            "operation": "CONVERT TO DELTA",
            "numConvertedFiles": len(t._files()),
        }
    if kind == "truncate":
        m = re.match(
            r"TRUNCATE\s+(?:TABLE\s+)?(`[^`]+`|[\w.]+)\s*$", text, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"cannot parse TRUNCATE statement: {text[:80]!r}")
        return {
            **resolve_table(spark, m.group(1)).truncate(),
            "operation": "TRUNCATE",
        }
    return _run_insert(spark, text)


def metrics_df(spark: SparkSession, metrics: dict[str, Any]) -> DataFrame:
    """One-row DataFrame of the metrics — the shape Databricks SQL
    returns for DML statements."""
    items = sorted(
        (k, v) for k, v in metrics.items() if isinstance(v, (int, type(None)))
    )
    # explicit schema: a None-valued metric (e.g. version=None from a
    # no-op DDL) would otherwise fail Spark's type inference on the
    # single-row frame
    schema = StructType(
        [StructField(k, LongType(), True) for k, _ in items]
    )
    return spark.createDataFrame([tuple(v for _, v in items)], schema)


# ---------------------------------------------------------------------------
# MERGE
# ---------------------------------------------------------------------------


def _run_merge(spark: SparkSession, sql: str) -> dict[str, Any]:
    m = re.match(
        r"MERGE\s+(?P<se>WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+",
        sql,
        re.IGNORECASE,
    )
    rest = sql[m.end() :]
    tname, rest = _read_table_ref(rest)
    talias, rest = _read_alias(rest)

    mu = re.match(r"USING\s+", rest, re.IGNORECASE)
    if not mu:
        raise ValueError("MERGE: expected USING")
    rest = rest[mu.end() :].lstrip()

    sname: str | None = None
    if rest.startswith("("):
        mask = _mask(rest)
        close = next(
            i for i, ch in enumerate(rest) if ch == ")" and mask[i] == (1, False)
        )
        source_df = spark.sql(rest[1:close])
        rest = rest[close + 1 :]
    else:
        sname, rest = _read_table_ref(rest)
        source_df = spark.table(sname.strip("`"))
    salias, rest = _read_alias(rest)

    mo = re.match(r"ON\s+", rest, re.IGNORECASE)
    if not mo:
        raise ValueError("MERGE: expected ON <condition>")
    rest = rest[mo.end() :]

    cuts = _merge_when_cuts(rest)
    if not cuts:
        raise ValueError("MERGE: expected at least one WHEN clause")
    on_cond = rest[: cuts[0]].strip()
    chunks = [
        rest[a:b] for a, b in zip(cuts, cuts[1:] + [len(rest)])
    ]

    def rq(e: str) -> str:
        return _requalify(e, tname, talias, sname, salias)

    table = resolve_table(spark, tname)
    builder = table.merge(source_df, rq(on_cond))
    if m.group("se"):
        builder.withSchemaEvolution()

    for chunk in chunks:
        chunk = chunk.strip()
        if not chunk:
            continue
        mt = _find_clause_then(chunk)
        if mt is None:
            raise ValueError(f"MERGE: WHEN clause without THEN: {chunk[:80]!r}")
        head = chunk[4 : mt.start()].strip()  # after 'WHEN'
        action = chunk[mt.end() :].strip()

        hm = re.match(
            r"(NOT\s+)?MATCHED(\s+BY\s+(TARGET|SOURCE))?\s*(AND\s+(?P<cond>.*))?$",
            head,
            re.IGNORECASE | re.DOTALL,
        )
        if not hm:
            raise ValueError(f"MERGE: cannot parse WHEN head: {head!r}")
        negated = bool(hm.group(1))
        by = (hm.group(3) or "").upper()
        cond = rq(hm.group("cond")) if hm.group("cond") else None
        if by == "SOURCE":
            al = action.lower()
            if al == "delete":
                builder.whenNotMatchedBySourceDelete(cond)
            elif al.startswith("update"):
                ms = re.match(r"UPDATE\s+SET\s+", action, re.IGNORECASE)
                if not ms:
                    raise ValueError(f"MERGE: cannot parse action {action!r}")
                assigns = _parse_assignments(action[ms.end() :])
                builder.whenNotMatchedBySourceUpdate(
                    {
                        _strip_qualifiers(c, tname, talias).strip("`"): rq(e)
                        for c, e in assigns.items()
                    },
                    cond,
                )
            else:
                raise ValueError(
                    f"MERGE: unsupported BY SOURCE action {action!r}"
                )
            continue

        al = action.lower()
        if not negated:
            if al == "delete":
                builder.whenMatchedDelete(cond)
            elif re.fullmatch(r"update\s+set\s+\*", al):
                builder.whenMatchedUpdateAll(cond)
            elif al.startswith("update"):
                ms = re.match(r"UPDATE\s+SET\s+", action, re.IGNORECASE)
                if not ms:
                    raise ValueError(f"MERGE: cannot parse action {action!r}")
                assigns = _parse_assignments(action[ms.end() :])
                builder.whenMatchedUpdate(
                    {
                        _strip_qualifiers(c, tname, talias).strip("`"): rq(e)
                        for c, e in assigns.items()
                    },
                    cond,
                )
            else:
                raise ValueError(f"MERGE: unsupported MATCHED action {action!r}")
        else:
            if re.fullmatch(r"insert\s+\*", al):
                builder.whenNotMatchedInsertAll(cond)
            elif al.startswith("insert"):
                mi = re.match(
                    r"INSERT\s*\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\)\s*$",
                    action,
                    re.IGNORECASE | re.DOTALL,
                )
                if not mi:
                    raise ValueError(f"MERGE: cannot parse action {action!r}")
                cols = [
                    _strip_qualifiers(c, tname, talias).strip("`")
                    for c in _split_commas(mi.group("cols"))
                ]
                vals = [rq(v) for v in _split_commas(mi.group("vals"))]
                if len(cols) != len(vals):
                    raise ValueError("MERGE: INSERT column/value count mismatch")
                builder.whenNotMatchedInsert(dict(zip(cols, vals)), cond)
            else:
                raise ValueError(
                    f"MERGE: unsupported NOT MATCHED action {action!r}"
                )
    return builder.execute()


# ---------------------------------------------------------------------------
# UPDATE / DELETE / INSERT
# ---------------------------------------------------------------------------


def _run_update(spark: SparkSession, sql: str) -> dict[str, Any]:
    m = re.match(r"UPDATE\s+", sql, re.IGNORECASE)
    rest = sql[m.end() :]
    tname, rest = _read_table_ref(rest)
    talias, rest = _read_alias(rest)
    ms = re.match(r"SET\s+", rest, re.IGNORECASE)
    if not ms:
        raise ValueError("UPDATE: expected SET")
    rest = rest[ms.end() :]
    mw = _find_top(rest, r"\bWHERE\b")
    if mw is not None:
        set_text, where = rest[: mw.start()], rest[mw.end() :].strip()
    else:
        set_text, where = rest, "true"
    assigns = {
        _strip_qualifiers(c, tname, talias).strip("`"): _strip_qualifiers(
            e, tname, talias
        )
        for c, e in _parse_assignments(set_text).items()
    }
    cond = _strip_qualifiers(where, tname, talias)
    return resolve_table(spark, tname).update(cond, assigns)


def _run_delete(spark: SparkSession, sql: str) -> dict[str, Any]:
    m = re.match(r"DELETE\s+FROM\s+", sql, re.IGNORECASE)
    if not m:
        raise ValueError("DELETE: expected DELETE FROM")
    rest = sql[m.end() :]
    tname, rest = _read_table_ref(rest)
    talias, rest = _read_alias(rest)
    mw = _find_top(rest, r"\bWHERE\b")
    cond = rest[mw.end() :].strip() if mw is not None else "true"
    cond = _strip_qualifiers(cond, tname, talias)
    return resolve_table(spark, tname).delete(cond)


def _run_alter(spark: SparkSession, sql: str) -> dict[str, Any]:
    """ALTER TABLE <t> RENAME COLUMN a TO b | DROP COLUMN(S) a[, b] |
    ADD COLUMNS (c TYPE, ...) | ALTER COLUMN c COMMENT '...' / SET
    [DATA] TYPE <wider> / SET DEFAULT expr / DROP DEFAULT / SET|DROP
    NOT NULL | ADD/DROP CONSTRAINT | RENAME TO | SET/UNSET TAGS (...) |
    CLUSTER BY (...) | SET/UNSET TBLPROPERTIES (...) —
    the reference's schema-evolution, governance and feature-toggle
    surface (``delta_lake_features.py:182-262``,
    ``governance/unity_catalog_setup.py:80-124``). Also routes the
    namespace-level tag forms ``ALTER CATALOG|SCHEMA <name> SET/UNSET
    TAGS (...)`` (reference ``governance/data_classification.py:39-48``)
    to the session tag registry."""
    ml = re.match(
        r"ALTER\s+(?P<lvl>CATALOG|SCHEMA|DATABASE)\s+"
        r"(?P<name>`[^`]+`|[\w.]+)\s+(?P<un>UN)?SET\s+TAGS\s*"
        r"\((?P<body>.*)\)\s*$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if ml:
        from ..governance import access_control as acl
        from ..governance import systables

        level = (
            "schema"
            if ml.group("lvl").upper() in ("SCHEMA", "DATABASE")
            else "catalog"
        )
        name = ml.group("name")
        if acl.enabled(spark) and not acl.can_manage(
            spark, name.strip("`").lower()
        ):
            who = sorted(acl.current_principals(spark)) or ["<anonymous>"]
            raise PermissionError(
                f"principal {who} may not tag {level} "
                f"{name.strip('`').lower()!r}: requires "
                f"{acl.ADMINS_CONF} membership or ALL PRIVILEGES on it"
            )
        if ml.group("un"):
            keys = [
                k.strip().strip("'\"")
                for k in _split_commas(ml.group("body"))
            ]
            systables.set_layer_tags(
                spark, level, name, dict.fromkeys(keys, ""), unset=True
            )
            return {"operation": "UNSET TAGS", "target": name}
        systables.set_layer_tags(
            spark, level, name, _parse_properties(ml.group("body"))
        )
        return {"operation": "SET TAGS", "target": name}
    m = re.match(r"ALTER\s+TABLE\s+", sql, re.IGNORECASE)
    if not m:
        raise ValueError("ALTER: expected ALTER TABLE")
    rest = sql[m.end() :]
    tname, rest = _read_table_ref(rest)
    table = resolve_table(spark, tname)
    rest = rest.strip()

    mr = re.match(
        r"RENAME\s+COLUMN\s+(`?)(\w+)\1\s+TO\s+(`?)(\w+)\3\s*$",
        rest,
        re.IGNORECASE,
    )
    if mr:
        v = table.rename_column(mr.group(2), mr.group(4))
        return {"operation": "RENAME COLUMN", "version": v}
    md = re.match(r"DROP\s+COLUMNS?\s+(.*)$", rest, re.IGNORECASE | re.DOTALL)
    if md:
        cols_text = md.group(1).strip()
        if cols_text.startswith("("):
            cols_text = cols_text.strip("()")
        v = None
        for c in _split_commas(cols_text):
            v = table.drop_column(c.strip("`"))
        return {"operation": "DROP COLUMNS", "version": v}
    ma = re.match(
        r"ADD\s+COLUMNS?\s*\(", rest, re.IGNORECASE
    )
    if ma:
        inner, tail = _balanced_paren(rest[ma.end() - 1 :])
        if tail.strip():
            raise ValueError(f"ADD COLUMNS: trailing text {tail[:40]!r}")
        v = table.add_columns(_parse_create_columns(inner))
        return {"operation": "ADD COLUMNS", "version": v}
    mc = re.match(
        r"ALTER\s+COLUMN\s+(`?)(\w+)\1\s+COMMENT\s+'(?P<txt>(?:[^']|'')*)'\s*$",
        rest,
        re.IGNORECASE,
    )
    if mc:
        v = table.set_column_comment(
            mc.group(2), mc.group("txt").replace("''", "'")
        )
        return {"operation": "ALTER COLUMN", "version": v}
    mtt = re.match(
        r"ALTER\s+COLUMN\s+(`?)(\w+)\1\s+(?:SET\s+DATA\s+)?TYPE\s+"
        r"(?P<type>.+?)\s*$",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if mtt:
        v = table.set_column_type(mtt.group(2), mtt.group("type"))
        return {"operation": "ALTER COLUMN", "version": v}
    mdef = re.match(
        r"ALTER\s+COLUMN\s+(`?)(\w+)\1\s+"
        r"(?:SET\s+DEFAULT\s+(?P<expr>.+?)|DROP\s+DEFAULT)\s*$",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if mdef:
        v = table.set_column_default(mdef.group(2), mdef.group("expr"))
        return {"operation": "ALTER COLUMN", "version": v}
    mnn = re.match(
        r"ALTER\s+COLUMN\s+(`?)(\w+)\1\s+(?P<verb>SET|DROP)\s+NOT\s+NULL\s*$",
        rest,
        re.IGNORECASE,
    )
    if mnn:
        v = table.set_column_nullability(
            mnn.group(2), nullable=mnn.group("verb").upper() == "DROP"
        )
        return {"operation": "ALTER COLUMN", "version": v}
    mct = re.match(
        r"ALTER\s+COLUMN\s+(`?)(\w+)\1\s+(?P<un>UN)?SET\s+TAGS\s*"
        r"\((?P<body>.*)\)\s*$",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if mct:
        # reference governance/data_classification.py:108-129 (PII
        # column classification)
        if mct.group("un"):
            keys = [
                k.strip().strip("'\"")
                for k in _split_commas(mct.group("body"))
            ]
            v = table.set_column_tags(
                mct.group(2), dict.fromkeys(keys, ""), unset=True
            )
            return {"operation": "UNSET COLUMN TAGS", "version": v}
        v = table.set_column_tags(
            mct.group(2), _parse_properties(mct.group("body"))
        )
        return {"operation": "SET COLUMN TAGS", "version": v}
    mmk = re.match(
        r"ALTER\s+COLUMN\s+(`?)(\w+)\1\s+SET\s+MASK\s+"
        r"(?P<fn>`[^`]+`|[\w.]+)\s*$",
        rest,
        re.IGNORECASE,
    )
    if mmk:
        # reference governance/access_control.py:135-143. The mask
        # function must already exist (CREATE FUNCTION ... RETURN runs
        # through sqlpack as a temp SQL UDF under its basename) — a
        # dangling binding would poison the table's synced view for
        # every later SELECT, so fail at bind time instead.
        fn = mmk.group("fn").strip("`")
        base = fn.split(".")[-1]
        if not re.fullmatch(r"\w+", base):
            raise ValueError(f"SET MASK: {fn!r} is not a function name")
        try:
            known = spark.catalog.functionExists(base)
        except Exception:  # noqa: BLE001
            known = False
        if not known:
            raise ValueError(
                f"SET MASK: function {fn!r} is not defined; run "
                f"CREATE FUNCTION {fn}(...) RETURNS ... RETURN ... first"
            )
        v = table.set_column_mask(mmk.group(2), base)
        _MASKED_SESSIONS.add(session_key(spark))
        return {"operation": "SET MASK", "version": v}
    mdm = re.match(
        r"ALTER\s+COLUMN\s+(`?)(\w+)\1\s+DROP\s+MASK\s*$",
        rest,
        re.IGNORECASE,
    )
    if mdm:
        v = table.set_column_mask(mdm.group(2), None)
        return {"operation": "DROP MASK", "version": v}
    mt = re.match(
        r"(?P<un>UN)?SET\s+TAGS\s*\((?P<body>.*)\)\s*$",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if mt:
        if mt.group("un"):
            keys = [
                k.strip().strip("'\"")
                for k in _split_commas(mt.group("body"))
            ]
            v = table.set_tags(dict.fromkeys(keys, ""), unset=True)
            return {"operation": "UNSET TAGS", "version": v}
        v = table.set_tags(_parse_properties(mt.group("body")))
        return {"operation": "SET TAGS", "version": v}
    mcl = re.match(
        r"CLUSTER\s+BY\s*\((?P<cols>[^)]*)\)\s*$", rest, re.IGNORECASE
    )
    if mcl:
        # re-declare clustering columns: metadata-only (the liquid
        # clustering "no full rewrite" contract); the next OPTIMIZE
        # clusters by the new columns
        cols = [c.strip("` ") for c in _split_commas(mcl.group("cols"))]
        snap = table._log.latest_version(table.root)
        merged = {**table.properties(), "engine.clusterBy": ",".join(cols)}
        # expected_version: a full property snapshot must conflict with
        # a rival property change, not silently revert it
        v = table._log.commit(
            table.root,
            "CLUSTER BY",
            [],
            [],
            table._log.schema_at(table.root),
            parameters={"clusterBy": cols},
            properties=merged,
            expected_version=snap,
        )
        return {"operation": "CLUSTER BY", "version": v}
    mac = re.match(
        r"ADD\s+CONSTRAINT\s+(`?)(?P<name>\w+)\1\s+CHECK\s*\(",
        rest,
        re.IGNORECASE,
    )
    if mac:
        inner, tail = _balanced_paren(rest[mac.end() - 1 :])
        if tail.strip():
            raise ValueError(
                f"ADD CONSTRAINT: trailing text {tail[:40]!r}"
            )
        v = table.add_constraint(mac.group("name"), inner.strip())
        return {"operation": "ADD CONSTRAINT", "version": v}
    mdc = re.match(
        r"DROP\s+CONSTRAINT\s+(?:(?P<ie>IF\s+EXISTS)\s+)?"
        r"(`?)(?P<name>\w+)\2\s*$",
        rest,
        re.IGNORECASE,
    )
    if mdc:
        v = table.drop_constraint(
            mdc.group("name"), if_exists=bool(mdc.group("ie"))
        )
        return {
            "operation": "DROP CONSTRAINT",
            "version": v,
            "dropped": v is not None,
        }
    mrt = re.match(
        r"RENAME\s+TO\s+(?P<new>`[^`]+`|[\w.]+)\s*$", rest, re.IGNORECASE
    )
    if mrt:
        # registry-level rebind: the NAME moves, data and log stay at
        # the same location (the external-table RENAME contract —
        # views/lineage referencing the old name break, like
        # Databricks). Path tables have no name to rename.
        new = mrt.group("new")
        if tname.strip().startswith("`") or new.startswith("`"):
            raise ValueError(
                "ALTER TABLE ... RENAME TO operates on registered "
                "names, not paths"
            )
        sid = session_key(spark)
        # rename ONLY the binding the statement named (exact key, else
        # the unique suffix match resolve_table used) — the same table
        # registered under OTHER aliases keeps those bindings
        old_key = _skey(spark, tname)
        if old_key not in _REGISTRY:
            last = tname.strip().strip("`").split(".")[-1].lower()
            hits = [
                (s, n)
                for (s, n), t in _REGISTRY.items()
                if s == sid
                and t is table
                and (n.split(".")[-1] == last or n == last)
            ]
            if len(hits) != 1:
                raise ValueError(
                    f"RENAME TO: {tname!r} is not a registered table"
                )
            old_key = hits[0]
        if _REGISTRY.get(_skey(spark, new)) is not None:
            raise ValueError(f"RENAME TO: {new!r} already exists")
        # register_table runs the view-basename collision checks
        register_table(spark, new, table)
        del _REGISTRY[old_key]
        base = old_key[1].split(".")[-1]
        # the old basename must stop resolving immediately — unless
        # another alias of some table still owns that basename
        still_bound = any(
            s == sid and n.split(".")[-1] == base
            for (s, n) in _REGISTRY
        )
        if (sid, base) in _OWNED_VIEWS and not still_bound:
            _OWNED_VIEWS.pop((sid, base), None)
            try:
                spark.catalog.dropTempView(base)
            except Exception:  # noqa: BLE001
                pass
        return {
            "operation": "RENAME TO",
            "oldName": old_key[1],
            "newName": new.lower(),
            "renamed": 1,
        }
    mup = re.match(
        r"UNSET\s+TBLPROPERTIES\s*(?:(?P<ie>IF\s+EXISTS)\s*)?"
        r"\((?P<body>.*)\)\s*$",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if mup:
        keys = [
            k.strip().strip("'\"") for k in _split_commas(mup.group("body"))
        ]
        missing = sorted(set(keys) - set(table.properties()))
        if missing and not mup.group("ie"):
            raise ValueError(
                f"UNSET TBLPROPERTIES: unknown keys {missing}; "
                "add IF EXISTS to ignore"
            )
        v = table.unset_properties(keys)
        return {"operation": "UNSET TBLPROPERTIES", "version": v}
    mp = re.match(
        r"SET\s+TBLPROPERTIES\s*\((?P<body>.*)\)\s*$",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    if mp:
        props = _parse_properties(mp.group("body"))
        snap = table._log.latest_version(table.root)
        merged = {**table.properties(), **props}
        v = table._log.commit(
            table.root,
            "SET TBLPROPERTIES",
            [],
            [],
            table._log.schema_at(table.root),
            parameters={"properties": props},
            properties=merged,
            expected_version=snap,
        )
        return {"operation": "SET TBLPROPERTIES", "version": v}
    raise NotImplementedError(f"unsupported ALTER TABLE form: {rest[:80]!r}")


def _parse_properties(body: str) -> dict[str, str]:
    props: dict[str, str] = {}
    for item in _split_commas(body):
        me = _find_top(item, r"=")
        if me is None:
            raise ValueError(f"cannot parse property {item!r}")
        k = item[: me.start()].strip().strip("'\"`")
        props[k] = item[me.start() + 1 :].strip().strip("'\"")
    return props


def _split_column_items(s: str) -> list[str]:
    """Split a CREATE TABLE column list on top-level commas, tracking
    parens AND angle brackets (``map<string,int>`` must not split)."""
    mask = _mask(s)
    parts: list[str] = []
    prev = 0
    angle = 0
    for i, ch in enumerate(s):
        if mask[i][1]:
            continue
        # angle brackets only open generic types at paren depth 0 —
        # inside parens (a GENERATED ALWAYS AS (a < 5) expression) a
        # '<' is a comparison and must not swallow later commas
        if ch == "<" and mask[i][0] == 0:
            angle += 1
        elif ch == ">" and mask[i][0] == 0:
            angle = max(0, angle - 1)
        elif ch == "," and mask[i][0] == 0 and angle == 0:
            parts.append(s[prev:i])
            prev = i + 1
    parts.append(s[prev:])
    return [p.strip() for p in parts if p.strip()]


def _parse_create_columns(cols_text: str):
    """Column-list grammar for CREATE TABLE, including the reference's
    Delta DDL column clauses (``delta_lake_features.py:206-262``):

    * ``col BIGINT GENERATED ALWAYS AS IDENTITY [(START WITH n
      [INCREMENT BY m])]`` / ``GENERATED BY DEFAULT AS IDENTITY`` —
      recorded as ``delta.identity.*`` field metadata, the exact keys
      the writer obligation (:func:`_generate_identity`) and the
      highWaterMark tracker already honor.
    * ``col TYPE GENERATED ALWAYS AS (expr)`` — recorded as
      ``delta.generationExpression``, recomputed on every write by
      ``_apply_generated`` and used for partition pruning on monotone
      shapes.
    * plain ``name TYPE [NOT NULL] [COMMENT '...']`` items pass
      through Spark's own DDL parser untouched.
    """
    from pyspark.sql.types import StructField as _SF, StructType as _ST

    fields = []
    for item in _split_column_items(cols_text):
        meta: dict[str, Any] = {}
        # clause keywords inside string literals (COMMENT '...') must
        # not parse as clauses: only depth-0, unquoted matches count
        mi = _find_top(
            item,
            r"\sGENERATED\s+(?P<mode>ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY"
            r"(?:\s*\((?P<opts>[^)]*)\))?",
        )
        if mi:
            opts = mi.group("opts") or ""
            ms = re.search(r"START\s+WITH\s+(-?\d+)", opts, re.IGNORECASE)
            mp = re.search(r"INCREMENT\s+BY\s+(-?\d+)", opts, re.IGNORECASE)
            meta = {
                "delta.identity.start": int(ms.group(1)) if ms else 1,
                "delta.identity.step": int(mp.group(1)) if mp else 1,
                "delta.identity.allowExplicitInsert": (
                    mi.group("mode").upper() != "ALWAYS"
                ),
            }
            item = (item[: mi.start()] + " " + item[mi.end() :]).strip()
        else:
            mg = _find_top(item, r"\sGENERATED\s+ALWAYS\s+AS\s*\(")
            if mg:
                inner, after = _balanced_paren(item[mg.end() - 1 :])
                meta = {"delta.generationExpression": inner.strip()}
                item = (item[: mg.start()] + " " + after).strip()
        md = _find_top(item, r"\sDEFAULT\s+")
        if md:
            # `col TYPE DEFAULT <expr> [COMMENT ...]` — the default
            # expression runs to the next depth-0 clause keyword;
            # recorded under the protocol's CURRENT_DEFAULT column
            # metadata key, applied when a write omits the column
            tail_from = md.end()
            mstop = _find_top(
                item, r"\s(?:COMMENT|NOT\s+NULL)(?=\s|$)", tail_from
            )
            stop = mstop.start() if mstop else len(item)
            meta["CURRENT_DEFAULT"] = item[tail_from:stop].strip()
            item = (item[: md.start()] + " " + item[stop:]).strip()
        f = _ST.fromDDL(item).fields[0]
        if not f.nullable:
            # EXPLICIT `NOT NULL` in the DDL: mark it so writes enforce
            # (the marker, not the bare flag, drives enforcement —
            # see _collect_constraint_checks)
            meta["engine.notNull"] = True
        if meta:
            fields.append(
                _SF(f.name, f.dataType, f.nullable, {**dict(f.metadata or {}), **meta})
            )
        else:
            fields.append(f)
    return _ST(fields)


def _balanced_paren(s: str) -> tuple[str, str]:
    """``s`` starts at '('; return (inner_text, rest_after_close).
    Unbalanced input raises a parse-shaped ValueError, never a bare
    StopIteration."""
    mask = _mask(s)
    close = next(
        (
            i
            for i, ch in enumerate(s)
            if ch == ")" and mask[i] == (1, False)
        ),
        None,
    )
    if close is None:
        raise ValueError(f"unbalanced parentheses at: {s[:60]!r}")
    return s[1:close], s[close + 1 :]


def _copy_file_ident(p: "Path") -> str:
    """Identity under which COPY INTO tracks a loaded file: absolute
    path + size + mtime (ms) — a file REWRITTEN in place counts as new,
    matching Databricks' documented COPY INTO behavior."""
    st = p.stat()
    return f"{p.resolve()}|{st.st_size}|{st.st_mtime_ns // 1_000_000}"


# cumulative COPY INTO ledger snapshots: written once a replay had to
# read this many commits, so steady-state replay is O(commits since
# snapshot), not O(table lifetime) — a minutely ingest pipeline stays
# bounded at ~this many driver-side JSON reads per run
_COPY_LEDGER_DIR = "_copy_into_ledger"
_COPY_LEDGER_EVERY = 20


def _copy_ledger_interval(t: Any) -> int:
    """Replay length that triggers a ledger snapshot: the table
    property ``engine.copyInto.snapshotInterval`` when set to a
    positive int (1 = snapshot after every run), else the default.
    Read at replay time so ALTER TABLE SET TBLPROPERTIES takes effect
    on the next COPY INTO; garbage values fall back to the default
    rather than disabling snapshots."""
    try:
        v = int(
            str(
                t.properties().get(
                    "engine.copyInto.snapshotInterval",
                    _COPY_LEDGER_EVERY,
                )
            )
        )
        return v if v >= 1 else _COPY_LEDGER_EVERY
    except Exception:  # noqa: BLE001
        return _COPY_LEDGER_EVERY


def _copy_ledger_load(root: str) -> tuple[int, set[str]]:
    """Newest usable ledger snapshot as ``(version, file idents)``;
    ``(-1, empty)`` when none. A snapshot is a pure CACHE of the fold
    of ``copiedFiles`` over every COPY INTO commit ≤ its version — the
    commits' operationParameters stay the crash-atomic source of
    truth, so a missing/partial snapshot only costs a longer replay,
    never correctness (a torn write is skipped for the next older
    one)."""
    import json as _json
    from pathlib import Path as _P

    d = _P(root) / _COPY_LEDGER_DIR
    if not d.is_dir():
        return -1, set()
    for p in sorted(d.glob("ledger_*.json"), reverse=True):
        try:
            doc = _json.loads(p.read_text())
            return int(doc["version"]), set(doc["files"])
        except Exception:  # noqa: BLE001
            continue
    return -1, set()


def _copy_replay(t: Any) -> tuple[set[str], int, int]:
    """``(loaded idents, snapshot version, commits read)``: seed from
    the newest ledger snapshot, then fold ``copiedFiles`` from only
    the commits past it. The third element counts the driver-side
    commit-JSON reads this replay performed — the quantity the ledger
    bounds."""
    base_v, loaded = _copy_ledger_load(t.root)
    replayed = 0
    for v in t._log.list_versions(t.root):
        if v <= base_v:
            continue
        c = t._log.read_commit(t.root, v)
        replayed += 1
        if c.get("operation") == "COPY INTO":
            loaded.update(
                c.get("operationParameters", {}).get("copiedFiles") or []
            )
    return loaded, base_v, replayed


def _copy_ledger_write(t: Any, version: int) -> None:
    """Publish a cumulative snapshot AT ``version``. Race-correct by
    construction: the fold re-reads the log's COPY INTO commits in
    ``(snapshot, version]`` at write time (not a pre-append in-memory
    set), so a concurrent COPY INTO that landed below ``version``
    after this run's replay is still captured. Atomic publish via
    rename; best-effort — failures leave replay on the commits."""
    import json as _json
    import uuid as _uuid
    from pathlib import Path as _P

    base_v, files = _copy_ledger_load(t.root)
    for v in t._log.list_versions(t.root):
        if base_v < v <= version:
            c = t._log.read_commit(t.root, v)
            if c.get("operation") == "COPY INTO":
                files.update(
                    c.get("operationParameters", {}).get("copiedFiles")
                    or []
                )
    d = _P(t.root) / _COPY_LEDGER_DIR
    d.mkdir(parents=True, exist_ok=True)
    tmp = d / f".ledger_{_uuid.uuid4().hex}.tmp"
    tmp.write_text(
        _json.dumps({"version": version, "files": sorted(files)})
    )
    tmp.replace(d / f"ledger_{version:020d}.json")
    for old in sorted(d.glob("ledger_*.json"))[:-2]:
        old.unlink(missing_ok=True)


def _run_copy_into(spark: SparkSession, sql: str) -> dict[str, Any]:
    """``COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
    [PATTERN = '<glob>'] [FORMAT_OPTIONS ('k'='v', ...)]
    [COPY_OPTIONS ('force'='true' | 'mergeSchema'='true')]`` —
    Databricks' idempotent batch-ingest DDL (beyond the reference
    repo's surface; semantics follow the public COPY INTO docs).

    File-level exactly-once WITHOUT a table scan: each run's commit
    records the file identities it loaded (``copiedFiles`` in the
    commit's operationParameters, crash-atomic with the data), and a
    re-run seeds from the newest cumulative ledger snapshot
    (``_copy_into_ledger/``, written once a replay had to read
    ``_COPY_LEDGER_EVERY`` commits) then replays only the commits
    past it — O(commits since snapshot) driver-side, bounded for a
    minutely pipeline. The snapshot is a cache; the commits stay the
    source of truth (see ``_copy_ledger_load``). ``'force' = 'true'``
    reloads everything. CSV/JSON read under the TARGET schema (stable
    types without inference) unless ``mergeSchema`` asks for
    inference + schema evolution; parquet reads its own schema and the
    append conforms (missing columns null-fill, extras refuse unless
    ``mergeSchema``). Hidden files (``.``/``_`` prefixes) are skipped
    like every Spark source. Two COPY INTO runs racing the SAME files
    can each land them once (the ledger read precedes the append, and
    appends never conflict) — serialize ingest jobs per target, the
    same operational rule Databricks documents for concurrent
    writers."""
    from pathlib import Path as _P

    m = re.match(
        r"COPY\s+INTO\s+(?P<tref>`[^`]+`|[\w.]+)\s+"
        r"FROM\s+'(?P<src>[^']+)'\s*",
        sql,
        re.IGNORECASE,
    )
    if m is None:
        raise ValueError(
            f"cannot parse COPY INTO statement: {sql[:80]!r} (the "
            "transformation form FROM (SELECT ...) is not supported)"
        )
    rest = sql[m.end():]
    fmt: str | None = None
    pattern: str | None = None
    fopts: dict[str, str] = {}
    copts: dict[str, str] = {}
    while rest:
        mf = re.match(r"FILEFORMAT\s*=\s*(\w+)\s*", rest, re.IGNORECASE)
        if mf:
            fmt = mf.group(1).lower()
            rest = rest[mf.end():]
            continue
        mp = re.match(r"PATTERN\s*=\s*'([^']+)'\s*", rest, re.IGNORECASE)
        if mp:
            pattern = mp.group(1)
            rest = rest[mp.end():]
            continue
        mo = re.match(
            r"(?P<which>FORMAT_OPTIONS|COPY_OPTIONS)\s*\(",
            rest,
            re.IGNORECASE,
        )
        if mo:
            inner, rest = _balanced_paren(rest[mo.end() - 1:])
            dst = (
                fopts
                if mo.group("which").upper() == "FORMAT_OPTIONS"
                else copts
            )
            dst.update(_parse_properties(inner))
            rest = rest.lstrip()
            continue
        raise ValueError(f"COPY INTO: cannot parse clause at {rest[:60]!r}")
    if fmt not in ("parquet", "csv", "json"):
        raise ValueError(
            f"COPY INTO FILEFORMAT must be PARQUET, CSV or JSON "
            f"(got {fmt!r})"
        )
    t = resolve_table(spark, m.group("tref").strip("`"))
    # UC-style /Volumes/<catalog>/<schema>/<volume>/... sources
    # resolve through the declared volume (SELECT-gated, like every
    # volume read); plain paths pass through unchanged
    from .metasql import resolve_volume_path

    src_dir = _P(resolve_volume_path(spark, m.group("src"), intent="read"))
    if src_dir.is_file():
        # a direct file source (Databricks accepts it); PATTERN is
        # meaningless against one file
        cands = [src_dir] if pattern is None else []
    elif src_dir.is_dir():
        # skip any candidate with a HIDDEN path component relative to
        # the source — Spark's own file index does, and a leaf-only
        # check would descend into _delta_log/ or _spark_metadata/ and
        # ingest commit JSON as data
        cands = sorted(
            p
            for p in (
                src_dir.glob(pattern) if pattern else src_dir.rglob("*")
            )
            if p.is_file()
            and not any(
                part.startswith((".", "_"))
                for part in p.relative_to(src_dir).parts
            )
        )
    else:
        # a missing source must FAIL, not report a successful 0-file
        # load (a typo'd path would otherwise green a pipeline run)
        raise ValueError(
            f"COPY INTO source does not exist: {src_dir}"
        )
    force = str(copts.get("force", "false")).lower() in ("true", "1")
    merge = str(copts.get("mergeSchema", "false")).lower() in ("true", "1")
    loaded: set[str] = set()
    base_v, replayed = -1, 0
    if not force:
        loaded, base_v, replayed = _copy_replay(t)
    idents = [(p, _copy_file_ident(p)) for p in cands]
    new = [(p, i) for p, i in idents if i not in loaded]
    out = {
        "operation": "COPY INTO",
        "numFilesLoaded": len(new),
        "numSkippedFiles": len(cands) - len(new),
        "numOutputRows": 0,
    }
    if not new:
        # a no-op re-run still snapshots once the replay got long —
        # otherwise a steady-state poller replays the whole log forever
        if not force and replayed >= _copy_ledger_interval(t):
            try:
                lv = t._log.latest_version(t.root)
                if lv is not None:
                    _copy_ledger_write(t, lv)
            except Exception:  # noqa: BLE001
                pass
        return out
    paths = [str(p) for p, _ in new]
    reader = spark.read.options(**fopts)
    if fmt == "parquet":
        df = reader.parquet(*paths)
    else:
        if not merge:
            reader = reader.schema(t.schema)
        df = reader.csv(paths) if fmt == "csv" else reader.json(paths)
    v = t.append(
        df,
        merge_schema=merge,
        operation="COPY INTO",
        parameters={"copiedFiles": [i for _, i in new]},
    )
    out["numOutputRows"] = int(
        t._log.read_commit(t.root, v)
        .get("operationMetrics", {})
        .get("numOutputRows", 0)
    )
    if not force and replayed + 1 >= _copy_ledger_interval(t):
        # counting this run's own commit, the NEXT replay would read
        # >= interval commits — fold now so it doesn't (interval 1 =
        # snapshot after every run); a failed write just means the
        # next run replays the same commits again (cache, never truth)
        try:
            _copy_ledger_write(t, v)
        except Exception:  # noqa: BLE001
            pass
    return out


def _default_location(spark: SparkSession, clean_name: str) -> str:
    """Managed-table location for ``clean_name``: the runtime-settable
    ``spark.engine.warehouse.dir`` first (``spark.sql.warehouse.dir``
    is a static conf), else the session warehouse, dots mapped to
    directories."""
    import os

    try:
        wh = spark.conf.get("spark.engine.warehouse.dir")
    except Exception:  # noqa: BLE001
        wh = None
    if not wh:
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = re.sub("^file:/*", "/", wh) if wh.startswith("file:") else wh
    return os.path.join(wh, "engine_tables", *clean_name.split("."))


def _prepare_create_target(
    spark: SparkSession, head_m: "re.Match", clean: str, location: str
):
    """Shared CREATE-target protocol for ``_run_create`` and
    ``_run_clone`` (one copy, so replace/exists semantics can never
    drift between them): IF NOT EXISTS returns the EXISTING table
    (caller no-ops after re-registering), plain CREATE over an
    existing table refuses, OR REPLACE clears the location; otherwise
    the parent directory is readied and None returned (caller
    creates)."""
    from pathlib import Path as _P

    from .table import LakeTable

    exists = LakeTable.is_table(location)
    if exists and head_m.group("ine"):
        t = LakeTable.for_path(spark, location)
        register_table(spark, clean, t)
        return t
    if exists and not head_m.group("replace"):
        raise ValueError(f"table already exists: {location}")
    if exists:
        import shutil

        shutil.rmtree(location, ignore_errors=True)
    _P(location).parent.mkdir(parents=True, exist_ok=True)
    return None


def _run_clone(
    spark: SparkSession, head_m: "re.Match", tname: str, rest: str
) -> dict[str, Any]:
    """``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] tgt [SHALLOW|DEEP]
    CLONE src [VERSION AS OF n | TIMESTAMP AS OF 'ts'] [LOCATION
    '...'] [TBLPROPERTIES (...)]`` — Delta's zero-copy snapshot DDL
    (bare CLONE = DEEP, the Databricks default). Beyond the reference
    repo's surface; executes :meth:`LakeTable.clone` and registers the
    target for later DML."""
    from .table import LakeTable

    mcl = re.match(
        r"(?:(?P<kind>SHALLOW|DEEP)\s+)?CLONE\s+", rest, re.IGNORECASE
    )
    kind = (mcl.group("kind") or "DEEP").upper()
    rest = rest[mcl.end():]
    sref, rest = _read_table_ref(rest)
    rest = rest.lstrip()
    ver: int | None = None
    location: str | None = None
    props: dict[str, str] = {}
    ts_lit: str | None = None
    while rest:
        mv = re.match(r"VERSION\s+AS\s+OF\s+(\d+)\s*", rest, re.IGNORECASE)
        if mv:
            ver = int(mv.group(1))
            rest = rest[mv.end():]
            continue
        mts = re.match(
            r"TIMESTAMP\s+AS\s+OF\s+('[^']+')\s*", rest, re.IGNORECASE
        )
        if mts:
            ts_lit = mts.group(1)
            rest = rest[mts.end():]
            continue
        ml = re.match(r"LOCATION\s+'([^']+)'\s*", rest, re.IGNORECASE)
        if ml:
            location = ml.group(1)
            rest = rest[ml.end():]
            continue
        mt = re.match(r"TBLPROPERTIES\s*\(", rest, re.IGNORECASE)
        if mt:
            inner, rest = _balanced_paren(rest[mt.end() - 1:])
            props.update(_parse_properties(inner))
            rest = rest.lstrip()
            continue
        raise ValueError(f"CLONE: cannot parse clause at {rest[:60]!r}")
    src = resolve_table(spark, sref.strip("`"))
    if not hasattr(src, "clone"):
        raise NotImplementedError(
            f"CLONE source {sref!r} is not engine-writable (read-only "
            "interop handle)"
        )
    if ts_lit is not None:
        if ver is not None:
            raise ValueError("CLONE: VERSION and TIMESTAMP are exclusive")
        from ..queries.sqlpack import _travel_ts_ms

        ver = src._log.version_at_timestamp(
            src.root, _travel_ts_ms(ts_lit)
        )
    clean = tname.strip("`")
    if location is None:
        location = _default_location(spark, clean)
    from pathlib import Path as _P

    if str(_P(location).resolve()) == str(_P(src.root).resolve()):
        # OR REPLACE would rmtree the SOURCE before the clone reads it
        raise ValueError(
            f"CLONE target location is the source's own location: "
            f"{location}"
        )
    if _prepare_create_target(spark, head_m, clean, location) is not None:
        return {"operation": "CLONE", "created": 0}
    t = src.clone(
        location,
        shallow=kind == "SHALLOW",
        version=ver,
        properties=props or None,
    )
    register_table(spark, clean, t)
    params = t._log.read_commit(t.root, 0).get("operationParameters", {})
    return {
        "operation": "CLONE",
        "created": 1,
        "isShallow": str(kind == "SHALLOW").lower(),
        "sourceTable": src.root,
        "sourceVersion": int(params.get("sourceVersion") or 0),
        "numClonedFiles": len(t._files()),
    }


def _run_create(spark: SparkSession, sql: str) -> dict[str, Any]:
    """``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] name
    [(col type, ...)] [USING DELTA] [PARTITIONED BY (...)]
    [CLUSTER BY (...)] [LOCATION 'path'] [TBLPROPERTIES (...)]
    [AS select]`` — the reference's DDL surface
    (``delta_lake_features.py:206-212`` schema-demo,
    ``performance_optimization.py:145-169`` liquid clustering).

    Managed tables land under ``spark.sql.warehouse.dir``/engine_tables
    with dots mapped to directories; ``CLUSTER BY`` is recorded as the
    ``engine.clusterBy`` table property, which a later bare OPTIMIZE
    picks up (the liquid-clustering contract: clustering is declared on
    the table, triggered by OPTIMIZE, re-declarable without rewrite via
    ALTER TABLE ... CLUSTER BY). The created table self-registers for
    later DML by name."""
    from pyspark.sql.types import StructType as _ST

    from .table import LakeTable

    # needs its own named groups (replace/ine drive behavior), but the
    # verb spellings must stay a subset of CREATE_VERBS above — the
    # router (statement_kind) only sends CREATE TABLE forms here
    m = re.match(
        r"CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+"
        r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?",
        sql,
        re.IGNORECASE,
    )
    rest = sql[m.end() :]
    tname, rest = _read_table_ref(rest)
    rest = rest.lstrip()
    if re.match(r"(?:(?:SHALLOW|DEEP)\s+)?CLONE\s+", rest, re.IGNORECASE):
        return _run_clone(spark, m, tname, rest)
    mlike = re.match(
        r"LIKE\s+(?P<src>`[^`]+`|[\w.]+)\s*"
        r"(?:LOCATION\s+'(?P<loc>[^']+)')?\s*$",
        rest,
        re.IGNORECASE,
    )
    if mlike:
        # CREATE TABLE t2 LIKE t1: copy schema, partitioning and
        # properties — never data (Spark/Databricks contract). A
        # metadata-only driver op at any scale.
        src = resolve_table(spark, mlike.group("src"))
        clean = tname.strip("`")
        location = mlike.group("loc") or _default_location(spark, clean)
        if _prepare_create_target(spark, m, clean, location) is not None:
            return {"operation": "CREATE TABLE", "created": 0}
        src_props = {
            k: v for k, v in src.properties().items() if k != "comment"
        }
        t = LakeTable.create(
            spark,
            location,
            schema=src.schema,
            format="delta",
            partition_by=src._partition_columns() or None,
            properties=src_props or None,
        )
        register_table(spark, clean, t)
        return {"operation": "CREATE TABLE", "created": 1, "numOutputRows": 0}

    schema: _ST | None = None
    if rest.startswith("("):
        cols_text, rest = _balanced_paren(rest)
        schema = _parse_create_columns(cols_text)
        rest = rest.lstrip()

    partition_by: list[str] | None = None
    cluster_by: list[str] | None = None
    location: str | None = None
    props: dict[str, str] = {}
    select_sql: str | None = None
    while rest:
        mu = re.match(r"USING\s+(\w+)\s*", rest, re.IGNORECASE)
        if mu:
            fmt = mu.group(1).lower()
            if fmt not in ("delta", "parquet"):
                raise ValueError(f"unsupported table format {fmt!r}")
            rest = rest[mu.end() :]
            continue
        mp = re.match(r"PARTITIONED\s+BY\s*\(", rest, re.IGNORECASE)
        if mp:
            inner, rest = _balanced_paren(rest[mp.end() - 1 :])
            partition_by = [c.strip("` ") for c in _split_commas(inner)]
            rest = rest.lstrip()
            continue
        mc = re.match(r"CLUSTER\s+BY\s*\(", rest, re.IGNORECASE)
        if mc:
            inner, rest = _balanced_paren(rest[mc.end() - 1 :])
            cluster_by = [c.strip("` ") for c in _split_commas(inner)]
            rest = rest.lstrip()
            continue
        ml = re.match(r"LOCATION\s+'([^']+)'\s*", rest, re.IGNORECASE)
        if ml:
            location = ml.group(1)
            rest = rest[ml.end() :]
            continue
        mt = re.match(r"TBLPROPERTIES\s*\(", rest, re.IGNORECASE)
        if mt:
            inner, rest = _balanced_paren(rest[mt.end() - 1 :])
            props.update(_parse_properties(inner))
            rest = rest.lstrip()
            continue
        mcm = re.match(
            r"COMMENT\s+'(?P<txt>(?:[^']|'')*)'\s*", rest, re.IGNORECASE
        )
        if mcm:
            # table-level comment rides the `comment` property (the
            # DESCRIBE EXTENDED / COMMENT ON TABLE surface)
            props["comment"] = mcm.group("txt").replace("''", "'")
            rest = rest[mcm.end() :]
            continue
        ma = re.match(r"AS\s+", rest, re.IGNORECASE)
        if ma:
            select_sql = rest[ma.end() :].strip()
            rest = ""
            continue
        raise ValueError(f"CREATE TABLE: cannot parse clause at {rest[:60]!r}")

    if schema is None and select_sql is None:
        raise ValueError("CREATE TABLE needs a column list or AS SELECT")
    if cluster_by:
        props["engine.clusterBy"] = ",".join(cluster_by)

    clean = tname.strip("`")
    if location is None:
        location = _default_location(spark, clean)

    if _prepare_create_target(spark, m, clean, location) is not None:
        return {"operation": "CREATE TABLE", "created": 0}

    df = spark.sql(select_sql) if select_sql is not None else None
    t = LakeTable.create(
        spark,
        location,
        df=df,
        schema=schema if df is None else None,
        format="delta",
        partition_by=partition_by,
        properties=props or None,
    )
    register_table(spark, clean, t)
    n = (
        t._log.read_commit(t.root, t.version())
        .get("operationMetrics", {})
        .get("numOutputRows", 0)
    )
    return {"operation": "CREATE TABLE", "created": 1, "numOutputRows": int(n)}


def _run_optimize(spark: SparkSession, sql: str) -> dict[str, Any]:
    """``OPTIMIZE t [WHERE pred] [ZORDER BY (c1, c2)]`` — the
    reference's maintenance surface (``performance_optimization.py:
    27-134``), routed to :meth:`LakeTable.optimize` (multi-column
    ZORDER uses the interleaved-bit clustering)."""
    m = re.match(
        r"OPTIMIZE\s+(?P<tref>`[^`]+`|[A-Za-z_][\w.]*)"
        r"(?:\s+(?P<full>FULL))?"
        r"(?:\s+WHERE\s+(?P<where>.*?))?"
        r"(?:\s+ZORDER\s+BY\s*\((?P<zcols>[^)]*)\))?\s*$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse OPTIMIZE statement: {sql[:80]!r}")
    table = resolve_table(spark, m.group("tref"))
    zorder = (
        [c.strip("` ") for c in _split_commas(m.group("zcols"))]
        if m.group("zcols")
        else None
    )
    if zorder is None:
        # liquid-clustering contract: a bare OPTIMIZE triggers the
        # clustering DECLARED on the table (CREATE/ALTER ... CLUSTER BY)
        declared = table.properties().get("engine.clusterBy")
        if declared:
            zorder = [c.strip() for c in str(declared).split(",") if c.strip()]
    if m.group("full"):
        # OPTIMIZE t FULL (Databricks liquid clustering): recluster
        # ALL data by the DECLARED keys — the incremental-compaction
        # small-file filter does not apply (the zorder path already
        # rewrites its whole scope). Only meaningful on a clustered
        # table, and never combined with ZORDER BY/WHERE, like
        # Databricks.
        if m.group("zcols"):
            raise ValueError(
                "OPTIMIZE FULL applies the table's DECLARED clustering; "
                "it cannot combine with ZORDER BY"
            )
        if not zorder:
            raise ValueError(
                "OPTIMIZE FULL requires clustering keys: declare them "
                "with CREATE/ALTER TABLE ... CLUSTER BY"
            )
        if m.group("where"):
            raise ValueError("OPTIMIZE FULL reclusters everything; "
                             "drop the WHERE or drop FULL")
    return {
        **table.optimize(
            zorder_by=zorder,
            where=(m.group("where") or "").strip() or None,
        ),
        "operation": "OPTIMIZE",
    }


def _run_vacuum(spark: SparkSession, sql: str) -> dict[str, Any]:
    """``VACUUM t [RETAIN n HOURS] [DRY RUN]``
    (``delta_lake_features.py:385-393``)."""
    m = re.match(
        r"VACUUM\s+(?P<tref>`[^`]+`|[A-Za-z_][\w.]*)"
        r"(?:\s+RETAIN\s+(?P<hours>[\d.]+)\s+HOURS?)?"
        r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$",
        sql,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse VACUUM statement: {sql[:80]!r}")
    table = resolve_table(spark, m.group("tref"))
    victims = table.vacuum(
        retain_hours=float(m.group("hours") or 168.0),
        dry_run=bool(m.group("dry")),
    )
    return {"operation": "VACUUM", "numDeletedFiles": len(victims)}


def _run_reorg(spark: SparkSession, sql: str) -> dict[str, Any]:
    """``REORG TABLE t [WHERE pred] APPLY (PURGE)`` — rewrite files
    carrying deletion vectors so soft-deleted bytes are physically
    gone (Databricks' documented GDPR-erasure prep; beyond the
    reference repo's surface). Routed to :meth:`LakeTable.reorg_purge`
    — O(DV'd files), never O(table)."""
    m = re.match(
        r"REORG\s+(?:TABLE\s+)?(?P<tref>`[^`]+`|[A-Za-z_][\w.]*)"
        r"(?:\s+WHERE\s+(?P<where>.*?))?"
        r"\s+APPLY\s*\(\s*PURGE\s*\)\s*$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse REORG statement: {sql[:80]!r}")
    table = resolve_table(spark, m.group("tref"))
    return {
        **table.reorg_purge(where=(m.group("where") or "").strip() or None),
        "operation": "REORG",
    }


def _run_restore(spark: SparkSession, sql: str) -> dict[str, Any]:
    """``RESTORE TABLE t TO VERSION AS OF n`` — the reference's own
    form (``delta_lake_features.py:157-176``); TIMESTAMP AS OF resolves
    through the log's timestamp index."""
    m = re.match(
        r"RESTORE\s+(?:TABLE\s+)?(?P<tref>`[^`]+`|[A-Za-z_][\w.]*)\s+"
        r"TO\s+(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+(?P<v>'[^']*'|\d+)\s*$",
        sql,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse RESTORE statement: {sql[:80]!r}")
    table = resolve_table(spark, m.group("tref"))
    if m.group("kind").upper() == "VERSION":
        target = int(m.group("v"))
    else:
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(m.group("v").strip("'"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        target = table._log.version_at_timestamp(
            table.root, int(dt.timestamp() * 1000)
        )
    v = table.restore(target)
    return {"operation": "RESTORE", "restoredVersion": target, "version": v}


def _expand_values_defaults(
    body: str, names: list[str], table: "LakeTable"
) -> str | None:
    """Rewrite ``(1, DEFAULT), (2, 'x')`` with each bare DEFAULT
    token replaced by the positional column's declared default
    expression (CURRENT_DEFAULT metadata) or NULL. Returns None (no
    rewrite, let Spark produce its own error) for any tuple shape the
    conservative parse cannot follow."""
    defaults = {
        f.name: (f.metadata or {}).get("CURRENT_DEFAULT")
        for f in table.schema.fields
    }
    groups: list[str] = []
    for tup in _split_commas(body):
        tup = tup.strip()
        if not tup.startswith("("):
            return None
        inner, tail = _balanced_paren(tup)
        if tail.strip():
            return None
        items = _split_commas(inner)
        if len(items) != len(names):
            return None
        out_items = []
        for i, it in enumerate(items):
            if re.fullmatch(r"\s*DEFAULT\s*", it, re.IGNORECASE):
                d = defaults.get(names[i])
                out_items.append(str(d) if d is not None else "NULL")
            else:
                out_items.append(it)
        groups.append("(" + ", ".join(out_items) + ")")
    return ", ".join(groups)


def _sql_literal(v: Any) -> str:
    """A collected partition value as a SQL literal whose text form
    both compares correctly in a predicate AND matches the engine's
    hive-serialized partition stats (``coerce_partition_value``) so
    the whole-partition metadata fast path fires: ints/floats render
    bare, dates/strings render as quoted strings (ISO dates compare
    correctly as strings; Spark casts in the comparison; backslashes
    and quotes are escaped for the default lexer). Timestamps render
    as typed TIMESTAMP literals: hive serialization TRIMS trailing
    fraction zeros, so a padded quoted string would lexically
    mis-compare against the synthesized partition stats and wrongly
    PRUNE the matching files — the typed literal opts out of stats
    pruning entirely (exact predicate evaluation decides), trading
    the fast path for correctness."""
    import datetime as _dt

    if isinstance(v, bool):
        return f"'{str(v).lower()}'"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, _dt.datetime):
        return "TIMESTAMP '" + v.isoformat(sep=" ") + "'"
    if isinstance(v, _dt.date):
        return "'" + v.isoformat() + "'"
    s = str(v).replace("\\", "\\\\").replace("'", "''")
    return "'" + s + "'"


def _run_insert(spark: SparkSession, sql: str) -> dict[str, Any]:
    m = re.match(
        r"INSERT\s+(INTO|OVERWRITE)\s+(TABLE\s+)?", sql, re.IGNORECASE
    )
    if not m:
        raise ValueError("INSERT: expected INSERT INTO / INSERT OVERWRITE")
    overwrite = m.group(1).lower() == "overwrite"
    rest = sql[m.end() :]
    tname, rest = _read_table_ref(rest)
    rest = rest.lstrip()
    pins: list[tuple[str, str]] = []
    dyn: list[str] = []
    mpart = re.match(r"PARTITION\s*\(", rest, re.IGNORECASE)
    if mpart:
        # static partition overwrite: `INSERT OVERWRITE t PARTITION
        # (day = 'd1') SELECT ...` routes to replace_where — the
        # metadata-only whole-partition swap. A column with no value
        # is DYNAMIC (Spark's partitionOverwriteMode=dynamic): the
        # incoming frame's own distinct tuples decide which
        # partitions swap. Spark's grammar rule holds: static keys
        # precede dynamic ones.
        inner, rest = _balanced_paren(rest[mpart.end() - 1 :])
        rest = rest.lstrip()
        for item in _split_commas(inner):
            mb = re.fullmatch(r"\s*(?:`([^`]+)`|(\w+))\s*", item)
            if mb:
                dyn.append(mb.group(1) or mb.group(2))
                continue
            mkv = re.match(
                r"\s*(?:`(?P<q>[^`]+)`|(?P<b>\w+))\s*=\s*(?P<val>.+?)\s*$",
                item,
                re.DOTALL,
            )
            if not mkv:
                raise ValueError(
                    f"cannot parse PARTITION spec item: {item.strip()!r}"
                )
            if dyn:
                raise ValueError(
                    "static partition spec "
                    f"{(mkv.group('q') or mkv.group('b'))!r} after a "
                    f"dynamic column {dyn[-1]!r}: static keys must "
                    "precede dynamic ones"
                )
            pins.append((mkv.group("q") or mkv.group("b"), mkv.group("val")))
    cols: list[str] | None = None
    if rest.startswith("("):
        mask = _mask(rest)
        close = next(
            i for i, ch in enumerate(rest) if ch == ")" and mask[i] == (1, False)
        )
        cols = [c.strip("`") for c in _split_commas(rest[1:close])]
        rest = rest[close + 1 :].lstrip()
    table = resolve_table(spark, tname)
    if pins or dyn:
        # the spec must name actual PARTITION columns (the Spark
        # contract — a typo'd name must not become a replace_where
        # predicate on a data column), under their canonical spelling
        # so _conform's case-sensitive alignment sees the real field
        pcols = {c.lower(): c for c in (table._partition_columns() or [])}
        if not pcols:
            raise ValueError(
                f"PARTITION spec on unpartitioned table {tname}"
            )
        fixed: list[tuple[str, str]] = []
        for k, v in pins:
            canon = pcols.get(k.lower())
            if canon is None:
                raise ValueError(
                    f"PARTITION spec column {k!r} is not a partition "
                    f"column of {tname} (partitioned by "
                    f"{sorted(pcols.values())})"
                )
            fixed.append((canon, v))
        pins = fixed
        dyn_fixed: list[str] = []
        for k in dyn:
            canon = pcols.get(k.lower())
            if canon is None:
                raise ValueError(
                    f"PARTITION spec column {k!r} is not a partition "
                    f"column of {tname} (partitioned by "
                    f"{sorted(pcols.values())})"
                )
            if canon in {p for p, _ in pins} or canon in dyn_fixed:
                raise ValueError(
                    f"PARTITION spec repeats column {canon!r}"
                )
            dyn_fixed.append(canon)
        dyn = dyn_fixed
        if dyn:
            # a DYNAMIC spec must cover every partition column: the
            # per-tuple disjuncts constrain only the listed columns,
            # so an omitted one would silently delete sibling
            # sub-partitions the frame never provides (static-only
            # partial specs keep Spark's static-mode contract: the
            # whole matching subtree swaps)
            missing_p = [
                c
                for c in pcols.values()
                if c not in dyn and c not in {p for p, _ in pins}
            ]
            if missing_p:
                raise ValueError(
                    f"dynamic PARTITION spec omits partition columns "
                    f"{missing_p}; list every partition column "
                    "(static or dynamic)"
                )
        if cols is not None:
            dup = [
                c
                for c in cols
                if c.lower() in {p.lower() for p, _ in pins}
            ]
            if dup:
                raise ValueError(
                    f"columns {dup} appear in both the PARTITION spec "
                    "and the column list"
                )
            missing = [
                c for c in dyn if c.lower() not in {x.lower() for x in cols}
            ]
            if missing:
                raise ValueError(
                    f"dynamic partition columns {missing} must appear "
                    "in the column list (their values come from the "
                    "query)"
                )
    replace_pred: str | None = None
    mrw = re.match(r"REPLACE\s+WHERE\s+", rest, re.IGNORECASE)
    if mrw:
        if overwrite:
            raise ValueError(
                "REPLACE WHERE goes with INSERT INTO, not OVERWRITE"
            )
        body = _find_top(rest, r"\b(?:SELECT|VALUES|TABLE|FROM|WITH)\b",
                         mrw.end())
        if body is None:
            raise ValueError(
                "INSERT REPLACE WHERE: expected a SELECT/VALUES body"
            )
        replace_pred = rest[mrw.end() : body.start()].strip()
        rest = rest[body.start() :]
    pinned = {k.lower() for k, _ in pins}
    names = cols if cols is not None else [
        f.name
        for f in table.schema.fields
        if f.name.lower() not in pinned
    ]
    mv = re.match(r"VALUES\s*", rest, re.IGNORECASE)
    if mv:
        body = rest[mv.end() :]
        bmask = _mask(body)
        if any(
            not bmask[dm.start()][1]
            for dm in re.finditer(r"\bDEFAULT\b", body, re.IGNORECASE)
        ):
            # standard-SQL explicit DEFAULT in a VALUES tuple: the
            # position's declared default (else NULL) substitutes in
            # before Spark parses — Spark has no DEFAULT literal
            rewritten = _expand_values_defaults(body, names, table)
            if rewritten is not None:
                rest = "VALUES " + rewritten
        df = spark.sql(f"SELECT * FROM ({rest})")
    else:
        df = spark.sql(rest)
    if len(names) != len(df.columns):
        raise ValueError("INSERT: column count mismatch")
    df = df.toDF(*names)
    if pins or dyn:
        from pyspark.sql import functions as F

        for k, v in pins:
            df = df.withColumn(k, F.expr(v))
        if overwrite:
            # NULL pins need null-safe equality (`col = NULL` matches
            # nothing); non-NULL keep plain `=` so the predicate stays
            # stats-prunable (whole-partition metadata drop)
            static_parts = [
                f"{k} <=> NULL"
                if v.strip().upper() == "NULL"
                else f"{k} = {v}"
                for k, v in pins
            ]
            if not dyn:
                return {
                    **table.replace_where(df, " AND ".join(static_parts)),
                    "operation": "INSERT OVERWRITE PARTITION",
                }
            # DYNAMIC overwrite (partitionOverwriteMode=dynamic): one
            # aggregation derives the incoming frame's distinct
            # partition tuples, one replace_where commit swaps exactly
            # those partitions — untouched partitions survive. Each
            # tuple is its own conjunctive disjunct so the per-
            # partition stats fast path (metadata-only whole-file
            # drop) still fires; the driver-side tuple list is
            # bounded by the number of INCOMING partitions, the same
            # set Spark's own dynamic overwrite materializes.
            tdt = {f.name: f.dataType for f in table.schema.fields}
            # the incoming SELECT feeds BOTH the tuple aggregation and
            # the replace_where write — persist so an expensive source
            # query computes once, not twice
            df = df.persist()
            try:
                # limit caps driver memory BEFORE collecting: the cap
                # decision needs at most 4097 rows, never the full set
                tuples = (
                    df.select(
                        *[F.col(c).cast(tdt[c]).alias(c) for c in dyn]
                    )
                    .distinct()
                    .limit(4097)
                    .collect()
                )
                if not tuples:
                    # empty source: dynamic overwrite touches nothing
                    return {
                        "numOutputRows": 0,
                        "numRemovedFiles": 0,
                        "numDynamicPartitions": 0,
                        "operation": "INSERT OVERWRITE PARTITION",
                    }
                if len(tuples) > 4096:
                    raise ValueError(
                        "dynamic partition overwrite with more than "
                        "4096 incoming partitions exceeds the "
                        "disjunct predicate cap; overwrite in batches"
                    )
                disjuncts = []
                for r in tuples:
                    parts = list(static_parts)
                    for c in dyn:
                        v = r[c]
                        parts.append(
                            f"{c} <=> NULL"
                            if v is None
                            else f"{c} = {_sql_literal(v)}"
                        )
                    disjuncts.append(" AND ".join(parts))
                return {
                    **table.replace_where(df, disjuncts),
                    "numDynamicPartitions": len(disjuncts),
                    "operation": "INSERT OVERWRITE PARTITION",
                }
            finally:
                df.unpersist()
    if replace_pred is not None:
        return {
            **table.replace_where(df, replace_pred),
            "operation": "INSERT REPLACE WHERE",
        }
    # append/overwrite return the commit VERSION; the row count lives
    # in the commit's operationMetrics
    v = table.overwrite(df) if overwrite else table.append(df)
    n = (
        table._log.read_commit(table.root, v)
        .get("operationMetrics", {})
        .get("numOutputRows", 0)
    )
    return {
        "numOutputRows": int(n),
        "operation": "INSERT OVERWRITE" if overwrite else "INSERT INTO",
    }

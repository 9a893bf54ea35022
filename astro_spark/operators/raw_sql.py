"""run_raw_sql / get_value_list.

Reference: ``sql/operators/raw_sql.py:25-235`` — execute arbitrary SQL
(DDL/DML/SELECT), optional ``handler`` post-processing, ``results_format``
∈ {list, pandas_dataframe}, ``fail_on_empty``, and a response-size cap;
``get_value_list`` at ``sql/__init__.py:53-79`` feeds Airflow dynamic task
mapping from query results.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..plans.identifiers import render_sql
from .timetravel import _literal_rows_df


class QueryModifier:
    """Pre/post statements around the main query.

    Reference: ``astro/query_modifier.py:6-29`` — e.g. Snowflake session
    tags.  In Spark these are typically ``SET`` conf statements or DDL.
    """

    def __init__(self, pre_queries: list[str] | None = None, post_queries: list[str] | None = None):
        self.pre_queries = pre_queries or []
        self.post_queries = post_queries or []


_DESCRIBE_HISTORY_RE = None
_RESTORE_RE = None


def _derived_root(spark: SparkSession, name: str) -> str:
    """Deterministic versioned root for a name-only CREATE (no
    LOCATION): ``<warehouse>/_versioned/<db>/<table>`` — re-deriving
    the same name always lands on the same root, so a session that
    lost its registry (restart) finds the table again by re-CREATE or
    re-register."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    return f"{wh}/_versioned/{name.lower().replace('.', '/')}"


def _route_timetravel_sql(spark: SparkSession, stmt: str) -> DataFrame | None:
    """Route the Delta SQL maintenance shapes a reference user issues
    against a versioned-parquet root through the timetravel operators
    (the ``merge_from_sql`` precedent for SQL-text parity)::

        DESCRIBE HISTORY '<root>'
        DESCRIBE DETAIL '<root>'
        RESTORE TABLE '<root>' TO VERSION|TIMESTAMP AS OF <n|ts|'iso'>
        INSERT INTO|OVERWRITE '<root>' <select-or-values>
        ALTER TABLE '<root>' ADD CONSTRAINT <name> CHECK (<expr>)
        ALTER TABLE '<root>' SET|UNSET TBLPROPERTIES (...)
        SHOW TBLPROPERTIES '<root>'
        ALTER TABLE '<root>' DROP CONSTRAINT <name>
        OPTIMIZE '<root>' [ZORDER BY (c1, c2, ...)]
        VACUUM '<root>' [RETAIN <n> VERSIONS] [DRY RUN]
        CONVERT TO DELTA [parquet.]'<dir>'   -- adopt in place
        CREATE TABLE <'<dst>'|db.t> SHALLOW CLONE '<src>'
            [VERSION AS OF <n>] [LOCATION '<root>']
        CREATE [OR REPLACE] TABLE <'<root>'|db.t> USING DELTA
            [LOCATION '<root>'] AS <select>

    The CTAS shape is the reference's primary Delta surface
    (``databases/databricks/delta.py:168-187``): a bare-name target
    creates the versioned table at LOCATION (else a warehouse-derived
    root) and REGISTERS the name (``tt_register``), so every statement
    afterwards addresses it by name.

    The quoted path form targets this engine's versioned roots; bare
    table identifiers fall through to ``spark.sql`` untouched (a real
    Delta catalog handles them).  INSERT's source query may itself
    contain ``'<root>' VERSION AS OF`` references (they resolve through
    the manifest log first).  ``VACUUM ... RETAIN n VERSIONS`` keeps
    the last n versions (this log versions explicitly, so retention is
    stated in versions rather than Delta's wall-clock hours).  Returns
    the result DataFrame (history rows; 1-row version/deleted-count
    relations for the commands) or None when the statement is none of
    these shapes."""
    global _DESCRIBE_HISTORY_RE, _RESTORE_RE
    import re

    if _DESCRIBE_HISTORY_RE is None:
        _DESCRIBE_HISTORY_RE = re.compile(
            r"(?is)^\s*describe\s+history\s+'([^']+)'\s*;?\s*$"
        )
        _RESTORE_RE = re.compile(
            r"(?is)^\s*restore\s+table\s+'([^']+)'\s+to\s+"
            r"(version|timestamp)\s+as\s+of\s+('[^']*'|[\d.]+)\s*;?\s*$"
        )
    m = _DESCRIBE_HISTORY_RE.match(stmt)
    if m:
        from .timetravel import tt_history

        return tt_history(spark, m.group(1))
    m = re.match(r"(?is)^\s*describe\s+detail\s+'([^']+)'\s*;?\s*$", stmt)
    if m:
        from .timetravel import tt_detail

        return tt_detail(spark, m.group(1))
    m = _RESTORE_RE.match(stmt)
    if m:
        from .timetravel import tt_restore, tt_restore_to_ts

        kind, val = m.group(2).lower(), m.group(3)
        if kind == "version":
            v = tt_restore(spark, m.group(1), int(val))
        else:
            if val.startswith("'"):
                from datetime import datetime

                ts = datetime.fromisoformat(val.strip("'")).timestamp()
            else:
                ts = float(val)
            v = tt_restore_to_ts(spark, m.group(1), ts)
        return _literal_rows_df(spark, [(v,)], "restored_as_version long")
    m = re.match(
        r"(?is)^\s*insert\s+(into|overwrite)\s+'([^']+)'\s+(.+?)\s*;?\s*$",
        stmt,
    )
    if m:
        from pyspark.sql import functions as F

        from .timetravel import tt_append, tt_overwrite, tt_read

        src_sql = m.group(3)
        tt_views: list[str] = []
        if _needs_tt_rewrite(src_sql):
            src_sql, tt_views = _rewrite_timetravel_reads(spark, src_sql)
        try:
            df = spark.sql(src_sql)
        finally:
            # analysis already inlined the views' plans into df
            for vn in tt_views:
                spark.catalog.dropTempView(vn)
        # SQL INSERT is POSITIONAL: align the source to the table schema
        # by position with casts (a VALUES source arrives as col1/col2)
        tgt = tt_read(spark, m.group(2)).schema
        if len(df.columns) != len(tgt.fields):
            raise ValueError(
                f"INSERT arity mismatch: table has {len(tgt.fields)} "
                f"columns, source has {len(df.columns)}"
            )
        df = df.select(
            *[
                F.col(c).cast(f.dataType).alias(f.name)
                for c, f in zip(df.columns, tgt.fields)
            ]
        )
        if m.group(1).lower() == "into":
            v = tt_append(spark, df, m.group(2))
        else:
            v = tt_overwrite(spark, df, m.group(2))
        return _literal_rows_df(spark, [(v,)], "committed_version long")
    m = re.match(
        r"(?is)^\s*alter\s+table\s+'([^']+)'\s+add\s+constraint\s+"
        r"`?(\w+)`?\s+check\s*\((.+)\)\s*;?\s*$",
        stmt,
    )
    if m:
        from ..table import validate_identifier
        from .timetravel import tt_add_constraint

        v = tt_add_constraint(
            spark, m.group(1), validate_identifier(m.group(2)), m.group(3)
        )
        return _literal_rows_df(spark, [(v,)], "committed_version long")
    m = re.match(
        r"(?is)^\s*alter\s+table\s+'([^']+)'\s+add\s+columns?\s*"
        r"\((.+)\)\s*;?\s*$",
        stmt,
    )
    if m:
        from ..table import validate_identifier
        from .timetravel import tt_add_columns

        cols: list[tuple[str, str]] = []
        for piece in _split_top_level(m.group(2)):
            cm = re.match(r"(?s)^\s*`?(\w+)`?\s+(.+?)\s*$", piece)
            if not cm:
                return None  # not the ADD COLUMNS grammar: fall through
            cols.append(
                (validate_identifier(cm.group(1)), cm.group(2))
            )
        v = tt_add_columns(spark, m.group(1), cols)
        return _literal_rows_df(spark, [(v,)], "committed_version long")
    m = re.match(
        r"(?is)^\s*alter\s+table\s+'([^']+)'\s+set\s+tblproperties\s*"
        r"\((.+)\)\s*;?\s*$",
        stmt,
    )
    if m:
        from .timetravel import tt_set_properties

        props = {}
        for piece in _split_top_level(m.group(2)):
            pm = re.match(
                r"(?s)^\s*'([^']+)'\s*=\s*'([^']*)'\s*$", piece
            )
            if not pm:
                return None  # not the TBLPROPERTIES grammar: fall through
            props[pm.group(1)] = pm.group(2)
        v = tt_set_properties(spark, m.group(1), props)
        return _literal_rows_df(spark, [(v,)], "committed_version long")
    m = re.match(
        r"(?is)^\s*alter\s+table\s+'([^']+)'\s+unset\s+tblproperties\s*"
        r"(?:if\s+exists\s*)?\((.+)\)\s*;?\s*$",
        stmt,
    )
    if m:
        from .timetravel import tt_unset_properties

        keys = []
        for piece in _split_top_level(m.group(2)):
            pm = re.match(r"(?s)^\s*'([^']+)'\s*$", piece)
            if not pm:
                return None
            keys.append(pm.group(1))
        v = tt_unset_properties(spark, m.group(1), keys)
        return _literal_rows_df(spark, [(v,)], "committed_version long")
    m = re.match(
        r"(?is)^\s*show\s+tblproperties\s+'([^']+)'\s*;?\s*$", stmt
    )
    if m:
        from .timetravel import tt_properties

        props = tt_properties(spark, m.group(1))
        return _literal_rows_df(
            spark, sorted(props.items()) or [], "key string, value string"
        )
    m = re.match(
        r"(?is)^\s*alter\s+table\s+'([^']+)'\s+drop\s+constraint\s+"
        r"`?(\w+)`?\s*;?\s*$",
        stmt,
    )
    if m:
        from ..table import validate_identifier
        from .timetravel import tt_drop_constraint

        v = tt_drop_constraint(
            spark, m.group(1), validate_identifier(m.group(2))
        )
        return _literal_rows_df(spark, [(v,)], "committed_version long")
    m = re.match(
        r"(?is)^\s*optimize\s+'([^']+)'"
        r"(?:\s+where\s+(.+?))?"
        r"(?:\s+zorder\s+by\s*\(([^)]+)\))?\s*;?\s*$",
        stmt,
    )
    if m:
        from ..table import validate_identifier
        from .timetravel import tt_optimize

        zcols = None
        if m.group(3):
            zcols = [
                validate_identifier(c.strip().strip("`"))
                for c in m.group(3).split(",")
            ]
        v = tt_optimize(
            spark, m.group(1), zorder_by=zcols, where=m.group(2)
        )
        return _literal_rows_df(spark, [(v,)], "committed_version long")
    m = re.match(
        r"(?is)^\s*create\s+table\s+"
        r"(?:'([^']+)'|([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?))\s+shallow\s+clone\s+"
        r"'([^']+)'(?:\s+version\s+as\s+of\s+(\d+))?"
        r"(?:\s+location\s+'([^']+)')?\s*;?\s*$",
        stmt,
    )
    if m:
        from .timetravel import tt_clone, tt_register

        dst_name = m.group(2)
        dst_root = m.group(1) or m.group(5) or _derived_root(spark, dst_name)
        v = tt_clone(
            spark,
            m.group(3),
            dst_root,
            int(m.group(4)) if m.group(4) else None,
        )
        if dst_name:
            tt_register(spark, dst_name, dst_root)
        return _literal_rows_df(spark, [(v,)], "committed_version long")
    m = re.match(
        r"(?is)^\s*create\s+(or\s+replace\s+)?table\s+"
        r"(if\s+not\s+exists\s+)?"
        r"(?:'([^']+)'|([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?))\s+using\s+delta\s+"
        r"(?:partitioned\s+by\s*\(([^)]+)\)\s+)?"
        r"(?:location\s+'([^']+)'\s+)?as\s+(.+?)\s*;?\s*$",
        stmt,
    )
    if m:
        # the reference's PRIMARY Delta shape: CTAS `USING DELTA` into a
        # name — its literal template is
        # 'CREATE TABLE IF NOT EXISTS {} USING DELTA AS {}'
        # (databases/databricks/delta.py:31, :168-187) — create a
        # versioned table (at LOCATION, else a warehouse-derived root)
        # and register the name for every later statement.  A registered
        # name re-CTAS'd arrives here already substituted to its quoted
        # root (OR REPLACE then overwrites in place; IF NOT EXISTS
        # no-ops against the existing versions without running the
        # SELECT, Delta's semantics).  PARTITIONED BY lays the table
        # out per partition value (timetravel partition_cols).
        from ..exceptions import AstroSparkError
        from ..sources.tt_log import TableLog
        from ..table import validate_identifier
        from .timetravel import (
            tt_create,
            tt_overwrite,
            tt_register,
            tt_resolve_name,
        )

        or_replace = bool(m.group(1))
        if_not_exists = bool(m.group(2))
        if or_replace and if_not_exists:
            raise AstroSparkError(
                "CREATE OR REPLACE TABLE IF NOT EXISTS is contradictory"
            )
        name = m.group(4)
        root = m.group(3) or m.group(6)
        if root is None and name is not None:
            # IF NOT EXISTS arrives with the bare name unsubstituted
            # when the target is already registered — resolve it so the
            # no-op lands on the EXISTING table, not a derived root
            root = tt_resolve_name(spark, name) or _derived_root(spark, name)
        pcols = None
        if m.group(5):
            pcols = [
                validate_identifier(c.strip().strip("`"))
                for c in m.group(5).split(",")
            ]
        src_sql = m.group(7)
        existing = TableLog(root, spark).versions()
        if existing and if_not_exists:
            # IF NOT EXISTS no-op: keep the table, (re)register the
            # name, return the current head — the SELECT never runs
            if name:
                tt_register(spark, name, root)
            return _literal_rows_df(
                spark, [(existing[-1],)], "committed_version long"
            )
        tt_views: list[str] = []
        if _needs_tt_rewrite(src_sql):
            src_sql, tt_views = _rewrite_timetravel_reads(spark, src_sql)
        try:
            df = spark.sql(src_sql)
        finally:
            for vn in tt_views:
                spark.catalog.dropTempView(vn)
        if existing:
            if not or_replace:
                raise AstroSparkError(
                    f"versioned table already exists at {root} — use "
                    "CREATE OR REPLACE TABLE to overwrite (old versions "
                    "stay readable) or IF NOT EXISTS to no-op"
                )
            # Delta's CREATE OR REPLACE defines the table from the
            # statement ALONE: no PARTITIONED BY clause means the new
            # snapshot is unpartitioned — pass [] (explicit re-layout),
            # never None (None would CARRY the old layout, which is
            # tt_overwrite's INSERT OVERWRITE semantics, not CREATE's)
            v = tt_overwrite(spark, df, root, partition_by=pcols or [])
        else:
            v = tt_create(spark, df, root, partition_by=pcols)
        if name:
            tt_register(spark, name, root)
        return _literal_rows_df(spark, [(v,)], "committed_version long")
    m = re.match(
        r"(?is)^\s*vacuum\s+'([^']+)'"
        r"(?:\s+retain\s+(\d+)\s+versions)?(\s+dry\s+run)?\s*;?\s*$",
        stmt,
    )
    if m:
        from .timetravel import tt_vacuum

        keep = int(m.group(2)) if m.group(2) else 1
        n = tt_vacuum(
            spark, m.group(1), keep_last=keep, dry_run=bool(m.group(3))
        )
        return _literal_rows_df(spark, [(n,)], "deleted_files long")
    m = re.match(
        r"(?is)^\s*convert\s+to\s+delta\s+"
        r"(?:parquet\s*\.\s*)?(?:'([^']+)'|`([^`]+)`)"
        r"(?:\s+partitioned\s+by\s*\(([^)]+)\))?\s*;?\s*$",
        stmt,
    )
    if m:
        from ..table import validate_identifier
        from .timetravel import tt_convert

        pcols = None
        if m.group(3):
            # Delta's clause carries `col type` pairs; the layout is
            # detected from the paths here, so only the NAMES validate
            pcols = [
                validate_identifier(piece.strip().strip("`").split()[0])
                for piece in m.group(3).split(",")
            ]
        tt_convert(spark, m.group(1) or m.group(2), partition_by=pcols)
        return _literal_rows_df(spark, [(0,)], "converted_as_version long")
    return None


_TT_READ_RE = None
_TT_HEAD_RE = None


def _substitute_registered_names(spark: SparkSession, stmt: str) -> str:
    """Rewrite bare identifiers registered via ``tt_register`` into the
    quoted-root form all routed Delta SQL shapes already speak — the
    reference's Delta surface is NAME-addressed (CTAS ``USING DELTA``
    into ``schema.table``, reference ``databases/databricks/
    delta.py:168-187``; MERGE on names ``:357-442``), so a reference
    user's statement text works verbatim once the name is registered.
    Substitution is TABLE-POSITION aware: a registered identifier is
    rewritten only when the preceding token is a table-position keyword
    (FROM/JOIN/INTO/UPDATE/TABLE/HISTORY/DETAIL/OPTIMIZE/VACUUM/CLONE/
    USING), so a column, alias, or any other identifier that merely
    EQUALS a registered one-part name is never clobbered.  Identifiers
    inside single/double-quoted strings (backslash escapes and doubled
    quotes respected) and backticks are never touched; unregistered
    names fall through to ``spark.sql`` (a real catalog handles
    them)."""
    import re

    from .timetravel import tt_registered

    reg = tt_registered(spark)
    if not reg:
        return stmt
    kw = {
        "from", "join", "into", "update", "table", "history", "detail",
        "optimize", "vacuum", "clone", "using", "delta",
        # "delta": CONVERT TO DELTA <name>
        "tblproperties",  # SHOW TBLPROPERTIES <name>
        "exists",  # CREATE TABLE IF NOT EXISTS <name> / DROP ... IF EXISTS
    }
    # clause keywords that END a FROM list's comma-separated run (so a
    # later comma — e.g. inside WHERE f(a, b) — never re-enters table
    # position); parens are tracked by depth
    from_enders = {
        "where", "group", "order", "having", "limit", "union",
        "intersect", "except", "select", "window", "qualify", "on",
    }
    # tokens that may follow a FROM/JOIN-position name WITHOUT being a
    # user alias — safe spots to inject the implicit alias that keeps
    # `WHERE pt.r = ...` resolvable after the name becomes a temp view
    alias_safe = from_enders | {
        "join", "left", "right", "full", "inner", "cross", "outer",
        "natural", "semi", "anti", "lateral",
    }

    def _next_token(pos: int) -> str | None:
        while pos < n and stmt[pos].isspace():
            pos += 1
        if pos >= n:
            return None
        t = ident.match(stmt, pos)
        return t.group(0).lower() if t else stmt[pos]

    # implicit aliasing only inside SELECT-shaped statements — routed
    # command grammars (DELETE FROM '<root>' WHERE, INSERT, MERGE, ...)
    # expect the bare quoted root right where they parse it
    hm = re.match(r"\s*\(*\s*([A-Za-z_]\w*)", stmt)
    aliasing_ok = bool(hm) and hm.group(1).lower() in ("select", "with")

    ident = re.compile(r"[A-Za-z_][\w.$]*")
    out: list[str] = []
    i, n = 0, len(stmt)
    prev_token = ""
    table_pos_ident = False  # last identifier stood in table position
    depth = 0
    from_depths: list[int] = []  # stack of open FROM lists' paren depths
    while i < n:
        ch = stmt[i]
        if ch in "'\"":
            j = i + 1
            while j < n:
                if stmt[j] == "\\":
                    j += 2  # Spark's default backslash escaping
                    continue
                if stmt[j] == ch:
                    if j + 1 < n and stmt[j + 1] == ch:
                        j += 2  # doubled quote = escaped quote
                        continue
                    break
                j += 1
            j = min(j, n - 1)
            out.append(stmt[i : j + 1])
            i = j + 1
            prev_token = ""  # a literal never puts us in table position
            table_pos_ident = False
            continue
        if ch == "`":
            j = stmt.find("`", i + 1)
            j = n - 1 if j < 0 else j
            out.append(stmt[i : j + 1])
            i = j + 1
            prev_token = ""
            table_pos_ident = False
            continue
        m = ident.match(stmt, i)
        if m:
            tok = m.group(0)
            key = tok.lower()
            table_pos_ident = prev_token in kw
            if key == "from":
                if not from_depths or from_depths[-1] != depth:
                    from_depths.append(depth)
            elif (
                key in from_enders
                and from_depths
                and from_depths[-1] == depth
            ):
                from_depths.pop()
            if key in reg and table_pos_ident:
                repl = f"'{reg[key]}'"
                if aliasing_ok and prev_token in ("from", "join"):
                    # implicit alias = the name's last part, so the
                    # user's `WHERE pt.r = ...` qualifiers survive the
                    # temp-view substitution — added only when nothing
                    # alias-like (or AS OF) already follows
                    nxt = _next_token(m.end())
                    if nxt is None or nxt in alias_safe or not (
                        nxt[0].isalpha() or nxt[0] in "_`"
                    ):  # backtick = quoted user alias: don't double up
                        repl += f" {key.rsplit('.', 1)[-1]}"
                out.append(repl)
            else:
                out.append(tok)
            prev_token = key
            i = m.end()
            continue
        out.append(ch)
        if not ch.isspace():
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                while from_depths and from_depths[-1] > depth:
                    from_depths.pop()  # the subquery's FROM closed
            if ch == "," and from_depths and from_depths[-1] == depth:
                # FROM t1 a, t2 b: a comma in an open FROM list at the
                # list's own depth puts the NEXT identifier back in
                # table position, so every name in the list resolves
                # (SELECT-list and function-argument commas never
                # qualify: no open FROM, or deeper parens)
                prev_token = "from"
            else:
                prev_token = ""  # punctuation leaves table position
                table_pos_ident = False
        i += 1
    return "".join(out)


def _needs_tt_rewrite(stmt: str) -> bool:
    """Cheap pre-gate for ``_rewrite_timetravel_reads``: AS-OF text or a
    quoted path in FROM/JOIN position (a head read of a versioned
    root — plain Spark SQL has no such form, so intercepting is safe)."""
    import re

    global _TT_HEAD_RE
    if _TT_HEAD_RE is None:
        # FROM/JOIN position, or a comma-prefixed literal (over-matches
        # SELECT-list commas on purpose — this is only a GATE; the
        # actual rewrite (_sub_head_reads) is FROM-list aware and never
        # touches literals outside table position)
        _TT_HEAD_RE = re.compile(r"(?is)(\b(?:from|join)\s+|,\s*)'([^']+)'")
    return "as of" in stmt.lower() or _TT_HEAD_RE.search(stmt) is not None


def _rewrite_timetravel_reads(
    spark: SparkSession, stmt: str
) -> tuple[str, list[str]]:
    """Rewrite Delta's daily-driver time-travel READ syntax inside any
    statement (VERDICT r10 missing #4)::

        SELECT ... FROM '<versioned-root>' VERSION AS OF <n> ...
        SELECT ... FROM '<versioned-root>' TIMESTAMP AS OF <epoch|'iso'> ...

    Each quoted-path AS OF reference resolves through ``tt_read`` (the
    manifest log picks the exact file list) and is substituted with a
    session temp view, so the surrounding SQL — joins, CTEs, aggregates
    — runs unchanged through Catalyst.  Quoted paths that are NOT
    versioned roots are left untouched (the statement falls through to
    ``spark.sql`` verbatim).  ISO timestamp strings without an offset
    are interpreted in session-local time, numerics as unix epoch
    seconds (the manifest's commit clock).

    Returns ``(rewritten_stmt, created_view_names)`` — the caller MUST
    drop the views (``spark.catalog.dropTempView``) once ``spark.sql``
    has analyzed the statement (analysis inlines the view's plan, so
    the returned DataFrame survives the drop); otherwise long-lived
    sessions accumulate views, each pinning a resolved file list."""
    global _TT_READ_RE
    import re
    import uuid as _uuid

    if _TT_READ_RE is None:
        _TT_READ_RE = re.compile(
            r"(?is)'([^']+)'\s+(version|timestamp)\s+as\s+of\s+"
            r"('[^']*'|\d+(?:\.\d+)?)"
        )

    from ..sources.tt_log import TableLog
    from .timetravel import tt_read

    created: list[str] = []

    def _sub(m: "re.Match[str]") -> str:
        root, kind, val = m.group(1), m.group(2).lower(), m.group(3)
        try:
            if not TableLog(root, spark).versions():
                return m.group(0)  # not a versioned root: leave verbatim
        except Exception:
            return m.group(0)
        if kind == "version":
            if val.startswith("'") or "." in val:
                return m.group(0)
            df = tt_read(spark, root, version=int(val))
        else:
            if val.startswith("'"):
                from datetime import datetime

                ts = datetime.fromisoformat(val.strip("'")).timestamp()
            else:
                ts = float(val)
            df = tt_read(spark, root, as_of_ts=ts)
        name = f"__tt_read_{_uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(name)
        created.append(name)
        return name

    stmt = _TT_READ_RE.sub(_sub, stmt)

    # Head reads: FROM/JOIN '<versioned-root>' with no AS OF clause
    # resolves to the current snapshot (Delta's ``delta.`path```
    # daily-driver; also what a tt_register'd bare name becomes after
    # substitution).  AS-OF references were consumed above, so any
    # quoted path left standing either isn't versioned (untouched —
    # spark.sql surfaces its own error) or is a head read.

    def _resolve_head(root: str) -> str | None:
        try:
            if not TableLog(root, spark).versions():
                return None
        except Exception:
            return None
        df = tt_read(spark, root)
        name = f"__tt_read_{_uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(name)
        created.append(name)
        return name

    return _sub_head_reads(stmt, _resolve_head), created


def _sub_head_reads(stmt: str, resolve) -> str:
    """Substitute single-quoted literals that stand in TABLE position —
    directly after FROM/JOIN, or after a comma inside an open FROM list
    at the list's own paren depth — with ``resolve(path)``'s view name
    (literal kept verbatim when ``resolve`` returns None).  Literals
    anywhere else (SELECT list, IN lists, WHERE comparisons, function
    arguments) are never table references and are never touched, even
    when their text exactly names a versioned root — the FROM-list
    scanner is the same one ``_substitute_registered_names`` uses, so a
    ``SELECT k, '/data/pt' AS src`` literal can't be clobbered."""
    import re

    from_enders = {
        "where", "group", "order", "having", "limit", "union",
        "intersect", "except", "select", "window", "qualify", "on",
    }
    ident = re.compile(r"[A-Za-z_][\w.$]*")
    out: list[str] = []
    i, n = 0, len(stmt)
    prev_token = ""
    depth = 0
    from_depths: list[int] = []
    while i < n:
        ch = stmt[i]
        if ch in "'\"":
            j = i + 1
            while j < n:
                if stmt[j] == "\\":
                    j += 2
                    continue
                if stmt[j] == ch:
                    if j + 1 < n and stmt[j + 1] == ch:
                        j += 2
                        continue
                    break
                j += 1
            j = min(j, n - 1)
            lit = stmt[i : j + 1]
            if ch == "'" and prev_token in ("from", "join"):
                name = resolve(lit[1:-1])
                out.append(name if name is not None else lit)
            else:
                out.append(lit)
            i = j + 1
            prev_token = ""
            continue
        if ch == "`":
            j = stmt.find("`", i + 1)
            j = n - 1 if j < 0 else j
            out.append(stmt[i : j + 1])
            i = j + 1
            prev_token = ""
            continue
        m = ident.match(stmt, i)
        if m:
            tok = m.group(0)
            key = tok.lower()
            if key == "from":
                if not from_depths or from_depths[-1] != depth:
                    from_depths.append(depth)
            elif (
                key in from_enders
                and from_depths
                and from_depths[-1] == depth
            ):
                from_depths.pop()
            out.append(tok)
            prev_token = key
            i = m.end()
            continue
        out.append(ch)
        if not ch.isspace():
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                while from_depths and from_depths[-1] > depth:
                    from_depths.pop()
            if ch == "," and from_depths and from_depths[-1] == depth:
                # FROM 'p1' a, 'p2' b — the comma re-enters table
                # position only inside an open FROM list
                prev_token = "from"
            else:
                prev_token = ""
        i += 1
    return "".join(out)


def _split_top_level(txt: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren/bracket depth 0 outside quoted strings —
    SET assignments may carry commas inside function calls."""
    out: list[str] = []
    buf: list[str] = []
    depth, q = 0, None
    for ch in txt:
        if q:
            if ch == q:
                q = None
            buf.append(ch)
            continue
        if ch in "'\"":
            q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == sep and depth == 0:
            out.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    out.append("".join(buf))
    return out


def _find_top_level_kw(txt: str, kw: str) -> int:
    """Index of the first standalone ``kw`` at depth 0 outside quotes
    (so a string literal containing 'where' never splits), or -1."""
    low, n, k = txt.lower(), len(txt), len(kw)
    depth, q, i = 0, None, 0
    while i < n:
        ch = txt[i]
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif (
            depth == 0
            and low.startswith(kw, i)
            and (i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_"))
            and (
                i + k >= n
                or not (low[i + k].isalnum() or low[i + k] == "_")
            )
        ):
            return i
        i += 1
    return -1


def _route_merge_versioned_sql(
    spark: SparkSession, stmt: str
) -> DataFrame | None:
    """``MERGE INTO '<versioned-root>' [AS] t USING <src> [AS] s ON …``
    — the quoted-path variant of ``merge_from_sql``'s grammar — routes
    to ``tt_merge`` (a file-scoped upsert committing a new version).
    The clause parser is shared with the catalog dispatch
    (``merge.py:_parse_merge_tail``), so the same strict allowlist and
    key/mapping rules apply; ``tt_merge`` is an upsert, so the grammar
    additionally REQUIRES the WHEN MATCHED THEN UPDATE clause (a
    MATCHED-silent merge is the catalog path's 'ignore', which the log
    would misrepresent).  Returns a (committed_version,) relation or
    None when the target isn't a quoted path."""
    import re

    from .merge import MergeSqlGrammarError, _merge_sql_ident, _parse_merge_tail

    s = stmt.strip().rstrip(";")
    head = re.match(
        r"(?is)^\s*merge\s+into\s+'([^']+)'\s+(?:as\s+)?(`?\w+`?)\s+"
        r"using\s+([`\w.]+)\s+(?:as\s+)?(`?\w+`?)\s+on\s+",
        s,
    )
    if not head:
        return None
    root = head.group(1)
    ta, sa = _merge_sql_ident(head.group(2)), _merge_sql_ident(head.group(4))
    keys, col_map, has_update = _parse_merge_tail(s[head.end():], ta, sa)
    if not has_update:
        raise MergeSqlGrammarError(
            "merge into '<root>': the versioned-log MERGE is an upsert — "
            "a WHEN MATCHED THEN UPDATE clause is required"
        )
    from pyspark.sql import functions as F

    from .timetravel import tt_merge

    src_name = ".".join(
        _merge_sql_ident(p) for p in head.group(3).split(".")
    )
    source = spark.table(src_name).select(
        *[F.col(s_col).alias(t_col) for s_col, t_col in col_map.items()]
    )
    v = tt_merge(spark, source, root, keys)
    return _literal_rows_df(spark, [(v,)], "committed_version long")


def _route_dml_sql(spark: SparkSession, stmt: str) -> DataFrame | None:
    """Route SQL-text row-level DML through the engine's file-scoped
    copy-on-write DML (``operators/dml.py``) — the ``merge_from_sql``
    precedent applied to the two shapes a reference user's raw SQL
    carries daily (reference ``sql/operators/raw_sql.py:25-158`` accepts
    arbitrary DML; on Delta-backed deployments the catalog executes it,
    but Spark rejects DELETE/UPDATE on v1 parquet tables)::

        DELETE FROM <table> [WHERE <cond>]
        DELETE FROM '<versioned-root>' [WHERE <cond>]   -- tt_delete_where
        UPDATE <table> SET <col> = <expr>[, ...] [WHERE <cond>]

    Strict-allowlist identifiers; conditions/expressions are Spark SQL
    expression text evaluated against the table's own columns.  Returns
    a 1-row ``affected_rows`` (or ``committed_version``) DataFrame, or
    None on any grammar miss — the caller falls back to ``spark.sql``
    so a catalog that CAN run the text (Delta/Iceberg v2) still does.
    The parse completes before anything executes; execution errors
    propagate (never a second run)."""
    import re

    from ..exceptions import IllegalIdentifierError
    from ..table import Metadata, Table, validate_identifier

    s = stmt.strip().rstrip(";").strip()
    low = s.lower()

    def _table(tok: str) -> Table | None:
        parts = [p.strip().strip("`") for p in tok.strip().split(".")]
        try:
            if len(parts) == 1:
                return Table(validate_identifier(parts[0]), temp=False)
            if len(parts) == 2:
                return Table(
                    validate_identifier(parts[1]),
                    metadata=Metadata(schema=validate_identifier(parts[0])),
                    temp=False,
                )
        except IllegalIdentifierError:
            return None
        return None

    def _where_tail(tail: str) -> tuple[str | None, bool]:
        """(condition text or None, grammar ok) from what follows the
        target/SET body."""
        tail = tail.strip()
        if not tail:
            return None, True
        m = re.match(r"(?is)^where\s+(.+)$", tail)
        if not m:
            return None, False
        return m.group(1).strip(), True

    if low.startswith("delete"):
        m = re.match(r"(?is)^delete\s+from\s+(.+)$", s)
        if not m:
            return None
        rest = m.group(1).strip()
        if rest.startswith("'"):
            pm = re.match(r"(?s)^'([^']+)'(.*)$", rest)
            if not pm:
                return None
            cond, ok = _where_tail(pm.group(2))
            if not ok:
                return None
            from .timetravel import tt_delete_where

            v = tt_delete_where(spark, pm.group(1), cond or "true")
            return _literal_rows_df(spark, [(v,)], "committed_version long")
        tm = re.match(r"(?s)^(`?\w+`?(?:\s*\.\s*`?\w+`?)?)(\s.*|$)", rest)
        if not tm:
            return None
        t = _table(tm.group(1))
        if t is None:
            return None
        cond, ok = _where_tail(tm.group(2))
        if not ok:
            return None
        from .dml import delete_rows

        n = delete_rows(spark, t, cond if cond is not None else "true")
        return _literal_rows_df(spark, [(n,)], "affected_rows long")

    if low.startswith("update"):
        pm = re.match(r"(?is)^update\s+'([^']+)'\s+set\s+(.+)$", s)
        m = (
            None
            if pm
            else re.match(
                r"(?is)^update\s+(`?\w+`?(?:\s*\.\s*`?\w+`?)?)\s+set\s+(.+)$", s
            )
        )
        if pm is None and m is None:
            return None
        t = None
        if m is not None:
            t = _table(m.group(1))
            if t is None:
                return None
        body = (pm or m).group(2)
        wi = _find_top_level_kw(body, "where")
        sets_txt, cond = (
            (body[:wi], body[wi + 5 :].strip()) if wi >= 0 else (body, None)
        )
        if wi >= 0 and not cond:
            return None
        set_map: dict[str, str] = {}
        for piece in _split_top_level(sets_txt):
            am = re.match(r"(?s)^\s*`?(\w+)`?\s*=\s*(.+?)\s*$", piece)
            if not am:
                return None
            try:
                set_map[validate_identifier(am.group(1))] = am.group(2)
            except IllegalIdentifierError:
                return None
        if not set_map:
            return None
        if pm is not None:  # versioned root: UPDATE commits a new version
            from .timetravel import tt_update_where

            v = tt_update_where(spark, pm.group(1), set_map, cond)
            return _literal_rows_df(spark, [(v,)], "committed_version long")
        from .dml import update_rows

        n = update_rows(spark, t, set_map, cond)
        return _literal_rows_df(spark, [(n,)], "affected_rows long")

    return None


def run_raw_sql(
    spark: SparkSession,
    sql: str,
    parameters: dict[str, Any] | None = None,
    handler: Callable[[DataFrame], Any] | None = None,
    results_format: str | None = None,  # None | "list" | "pandas_dataframe" | "dataframe"
    fail_on_empty: bool = False,
    response_size: int = -1,
    query_modifier: QueryModifier | None = None,
) -> Any:
    if query_modifier:
        for q in query_modifier.pre_queries:
            spark.sql(q)
    rendered = render_sql(sql, parameters or {})
    # tt_register'd names become quoted versioned roots BEFORE any
    # routing, so every Delta SQL shape accepts bare identifiers
    rendered = _substitute_registered_names(spark, rendered)

    def _finish(result: Any) -> Any:
        # post-queries run AFTER the result is materialized (Spark plans
        # are lazy; the reference's engines execute eagerly)
        if query_modifier:
            for q in query_modifier.post_queries:
                spark.sql(q)
        return result

    tt_merge_df = _route_merge_versioned_sql(spark, rendered)
    if tt_merge_df is not None:
        if handler is not None:
            return _finish(handler(tt_merge_df))
        return _finish(None)

    if rendered.lstrip()[:10].lower().startswith("merge into"):
        # Spark rejects MERGE INTO on v1 parquet tables; route the
        # reference's generated Delta MERGE text through the engine's
        # copy-on-write merge (same semantics, crash-recoverable).  MERGE
        # text outside merge_from_sql's grammar (literal VALUES sources,
        # WHEN MATCHED THEN DELETE, conditional clauses) falls back to
        # spark.sql so a session whose catalog CAN execute it (Delta /
        # Iceberg v2) still does; on plain parquet that surfaces Spark's
        # own UNSUPPORTED_FEATURE error rather than ours.
        from ..exceptions import IllegalIdentifierError
        from .merge import MergeSqlGrammarError, merge_from_sql

        try:
            merge_from_sql(spark, rendered)
        except (MergeSqlGrammarError, IllegalIdentifierError):
            # only the dedicated PARSE-phase rejections fall back —
            # nothing ran yet.  An execution-time ValueError propagates
            # (re-running a partially-applied MERGE would double-apply).
            spark.sql(rendered)
        # results_format / fail_on_empty are no-ops for MERGE (it returns
        # no rows); post_queries still run via _finish, symmetric with
        # every other statement type.
        if handler is not None:
            return _finish(handler(spark.createDataFrame([], "ok boolean")))
        return _finish(None)

    tt = _route_timetravel_sql(spark, rendered)
    if tt is None:
        tt = _route_dml_sql(spark, rendered)
    if tt is not None:
        df = tt
    else:
        tt_views: list[str] = []
        if _needs_tt_rewrite(rendered):
            rendered, tt_views = _rewrite_timetravel_reads(spark, rendered)
        try:
            df = spark.sql(rendered)
        finally:
            # analysis already inlined the views' plans into df — drop
            # them even on failure so long-lived sessions don't leak
            for vn in tt_views:
                spark.catalog.dropTempView(vn)

    if fail_on_empty and df.isEmpty():
        raise ValueError("run_raw_sql(fail_on_empty=True): query returned no rows")

    if handler is not None:
        return _finish(handler(df))
    if results_format == "list":
        limited = df.limit(response_size) if response_size >= 0 else df
        return _finish(limited.collect())
    if results_format == "pandas_dataframe":
        limited = df.limit(response_size) if response_size >= 0 else df
        return _finish(limited.toPandas())
    if results_format == "dataframe":
        # caller gets the lazy plan; post-queries still run now — avoid
        # post-queries that invalidate the plan's inputs in this mode
        return _finish(df)
    return _finish(None)  # reference returns None for plain DDL/DML


def get_value_list(spark: SparkSession, sql: str, max_length: int = 1000) -> list:
    """Bounded collect for dynamic fan-out (reference sql/__init__.py:53-79)."""
    return spark.sql(sql).limit(max_length).collect()

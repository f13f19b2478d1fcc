"""ExecutionContext — the engine's single public entry point.

Mirrors the reference's lifecycle (reference src/context.rs:42-56):

    parse -> guard -> plan -> output

but where the reference stops after pretty-printing the logical plan
(src/context.rs:53), we hand the SQL to Catalyst and return a real
DataFrame. Divergences (documented per SURVEY.md §7.3):

- Multi-statement input: the reference silently truncates to ``ast[0]``
  (src/context.rs:49). We raise instead — silent truncation is a bug.
- CTE scope: the reference leaks CTE registrations across statements
  (tmp/select.rs:124 never cleared). Spark scopes CTEs per query; we keep
  Spark's correct behavior.

The reference's 11-dialect knob (src/lib.rs:9-23, default postgres at
main.rs:5) is honored as *accepted configuration*: Spark SQL is a single
dialect, and the reference's planner semantics are dialect-independent, so
every dialect name maps to the same execution path. Unknown dialect names
fall back to generic, exactly like ``get_dialect``'s ``_ =>`` arm
(src/lib.rs:21).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException

from mesin_spark import sqltext
from mesin_spark.catalog import TESTDATA_TABLES, Catalog, local_frame
from mesin_spark.session import get_session

#: Reference dialect surface (src/lib.rs:9-23).
DIALECTS = frozenset(
    {
        "ansi",
        "bigquery",
        "clickhouse",
        "duckdb",
        "generic",
        "hive",
        "mssql",
        "mysql",  # EXTENSION: not in the reference's knob (src/lib.rs:9-23
        # maps it to generic); here it gets a real arm (GROUP_CONCAT)
        "postgres",
        "redshift",
        "sqlite",
        "snowflake",
    }
)


def get_dialect(name: str) -> str:
    """Dialect selector; unknown names → generic (src/lib.rs:21).
    'mysql' is an extension arm the reference lacks."""
    name = name.lower()
    return name if name in DIALECTS else "generic"


#: Dialects whose identifier quote is the double-quote and that support
#: the ``expr::type`` cast shorthand (snowflake shares both idioms).
_PG_LIKE = frozenset(
    {"postgres", "redshift", "duckdb", "sqlite", "generic", "ansi", "snowflake"}
)

#: Dialects whose identifier quote is already Spark's backtick — their
#: common syntax parses unchanged.
_BACKTICK = frozenset({"hive", "bigquery", "clickhouse", "mysql"})


def normalize_dialect(sql: str, dialect: str) -> str:
    """Minimal dialect normalization so the most common per-dialect syntax
    runs on Spark SQL, honoring the reference's 11-dialect knob
    (src/lib.rs:9-23) with actual behavior instead of a no-op:

    - pg-like (postgres/redshift/duckdb/sqlite/snowflake/ansi/generic):
      ``expr::type`` → ``CAST(expr AS type)`` (identifiers, numbers,
      string literals, parenthesized groups) and double-quoted identifiers
      → backticked.
    - mssql: ``SELECT TOP n`` → trailing ``LIMIT n``; ``[bracket]``
      identifiers → backticked.
    - mysql (EXTENSION dialect — the reference maps it to generic) and
      sqlite: ``GROUP_CONCAT([DISTINCT] expr [ORDER BY ord [ASC|DESC]]
      [SEPARATOR 'sep'])`` and sqlite's two-arg ``group_concat(expr,
      'sep')`` → array_join over collect_list/collect_set (struct-sorted
      when ordered) — see _rewrite_group_concat.
    - hive/bigquery/clickhouse: backtick identifiers already match Spark —
      passthrough.

    - clickhouse: top-level ``[LEFT] ARRAY JOIN <expr> [AS <alias>]``
      (the dialect's signature idiom) → the FROM clause is wrapped in a
      subquery that explodes the operand. Bare-column form replaces the
      array column with its element (``SELECT * EXCEPT (c), explode(c)
      AS c``), aliased form keeps the array and adds the element — both
      exactly ClickHouse's semantics; LEFT uses explode_outer (empty
      arrays keep the row with NULL element). Multi-array zip form is
      rejected with a clear error.
    - bigquery: ``SELECT * EXCEPT (cols)`` parses natively on Spark ≥3.4
      — passthrough by design (tested, not assumed).

    - all dialects: a top-level ``QUALIFY <pred>`` (Teradata-origin;
      duckdb/snowflake/bigquery surface) → wrapped subquery with the
      predicate as an outer WHERE — Spark has no QUALIFY at all, and the
      standard usage filters on a window alias from the select list, which
      the subquery form preserves exactly.

    - all dialects: quantified comparison subqueries (ANSI; Spark lacks
      them). ``= ANY/SOME (sub)`` → ``IN (sub)`` and ``<> ALL (sub)`` →
      ``NOT IN (sub)`` are EXACT rewrites (same three-valued logic).
      Ordering forms rewrite to extremum scalar subqueries (``> ALL`` →
      ``> (SELECT max ...)``, ``> ANY`` → ``> (SELECT min ...)``, and
      mirrored for ``<``/``<=``/``>=``) — exact when the subquery is
      non-empty and null-free; the empty-set edge (ALL over {} is TRUE,
      the extremum form yields NULL) is documented, matching how most
      engines' users encounter these predicates.

    Every rewrite reads the text through ``mesin_spark.sqltext``, which
    holds Spark's lexical rule: literals, quoted identifiers and comments
    are never rewritten. Constructs beyond these surface Spark's parse
    error unchanged."""
    if re.match(r"\s*(SELECT|WITH|\()", sql, re.I):
        # QUALIFY wraps the statement in SELECT * FROM (...) — only valid
        # for queries; a DML statement containing QUALIFY must reach the
        # DML router intact
        sql = _rewrite_qualify(sql)
    sql = _rewrite_quantified(sql)
    if dialect == "clickhouse":
        sql = _rewrite_array_join(sql)
        sql = _rewrite_combinators(sql)
    if dialect == "snowflake":
        sql = _rewrite_flatten(sql)
        sql = _rewrite_iff(sql)
    if dialect == "duckdb":
        sql = _rewrite_exclude(sql)
    if dialect in ("mysql", "sqlite"):
        sql = _rewrite_group_concat(sql, dialect)
    if dialect in ("postgres", "redshift", "duckdb"):
        sql = _rewrite_regex_match(sql)
    if dialect == "mssql":
        return _normalize_mssql(sql)
    if dialect not in _PG_LIKE:
        return sql
    if '"' in sql:
        sql = "".join(
            _backtick(sql[a:b]) if kind == '"' else sql[a:b]
            for kind, a, b in sqltext.spans(sql)
        )
    return _rewrite_casts(sql) if "::" in sql else sql


def _backtick(quoted: str) -> str:
    """A double-quoted identifier as Spark's backticked one; an
    unterminated one stays as it is."""
    if len(quoted) < 2 or not quoted.endswith('"'):
        return quoted
    return "`" + quoted[1:-1].replace('""', '"').replace("`", "``") + "`"


#: the type after ``::``: a name with an optional parameter list
_CAST_TYPE = re.compile(r"\w*(?:\([\w\s,]*\))?")


def _rewrite_casts(sql: str) -> str:
    """``operand::type`` → ``CAST(operand AS type)`` when the operand is a
    simple token ending right before the ``::``: an identifier (qualified or
    backticked), a number, a string literal, or a parenthesized group with
    an optional function name before it (``fn(x)::T``, chained casts)."""
    out: list[str] = []
    pos = 0  # len("".join(out))
    starts: dict[int, int] = {}  # end of an emitted token or group -> its start
    opens: list[int] = []
    for kind, a, b in sqltext.spans(sql):
        if kind:
            if kind not in ("--", "/*"):  # a comment is never an operand
                starts[pos + b - a] = pos
            out.append(sql[a:b])
            pos += b - a
            continue
        i = a
        while i < b:
            ch = sql[i]
            if sql.startswith("::", i):
                k = _CAST_TYPE.match(sql, i + 2, b).end()
                typename = sql[i + 2 : k]
                emitted = "".join(out)
                p = starts.get(pos, pos)
                if not emitted.endswith("'"):
                    while p > 0 and (emitted[p - 1].isalnum() or emitted[p - 1] in "_.`"):
                        p -= 1
                operand = emitted[p:]
                if operand.strip() and typename.strip():
                    cast = f"CAST({operand} AS {typename})"
                    out, pos = [emitted[:p], cast], p + len(cast)
                    starts[pos] = p
                    i = k
                    continue
                # no identifiable operand/type: emit '::' untouched rather
                # than fabricating CAST( AS T) — Spark's parser gives the
                # honest error
                out.append("::")
                pos += 2
                i += 2
                continue
            if ch == "(":
                opens.append(pos)
            elif ch == ")" and opens:
                starts[pos + 1] = opens.pop()
            out.append(ch)
            pos += 1
            i += 1
    return "".join(out)


#: quantified-comparison rewrite table: (op, quantifier) → how to emit.
#: 'in'/'not_in' are exact; 'max'/'min' pick the extremum scalar subquery.
_QUANT_FORMS = {
    ("=", "ANY"): "in",
    ("=", "SOME"): "in",
    ("<>", "ALL"): "not_in",
    ("!=", "ALL"): "not_in",
    (">", "ALL"): "max",
    (">=", "ALL"): "max",
    ("<", "ALL"): "min",
    ("<=", "ALL"): "min",
    (">", "ANY"): "min",
    (">=", "ANY"): "min",
    ("<", "ANY"): "max",
    ("<=", "ANY"): "max",
    (">", "SOME"): "min",
    (">=", "SOME"): "min",
    ("<", "SOME"): "max",
    ("<=", "SOME"): "max",
}

_QUANT_RE = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(ALL|ANY|SOME)\s*\(", re.IGNORECASE
)


def _rewrite_quantified(sql: str) -> str:
    """Rewrite ANSI quantified comparison subqueries (op ALL/ANY/SOME
    (subquery)) into forms Spark supports — see normalize_dialect's
    docstring for exactness notes. Rewrites re-scan from the rewritten
    spot, so nested occurrences inside subqueries are handled too."""
    start = 0
    while True:
        for i, ch, _ in sqltext.scan(sql, start):
            if ch in "=<>!" and (m := _QUANT_RE.match(sql, i)):
                break
        else:
            return sql
        op, quant = m.group(1), m.group(2).upper()
        close = sqltext.matching_paren(sql, m.end() - 1)
        sub = sql[m.end() : close]
        # combos with no sound rewrite (= ALL, <> ANY/SOME) fall through
        # to the documented contract: the construct surfaces Spark's own
        # parse error unchanged, never a KeyError from this scanner. And
        # quantified comparisons take a SUBQUERY; anything else (e.g. the
        # any()/some() aggregates over a column) is left untouched
        form = _QUANT_FORMS.get((op, quant))
        if (
            form is None
            or close == -1
            or not sub.lstrip().upper().startswith(("SELECT", "WITH", "VALUES"))
        ):
            start = m.end()
            continue
        if form == "in":
            repl = f" IN ({sub})"
        elif form == "not_in":
            repl = f" NOT IN ({sub})"
        else:
            repl = f"{op} (SELECT {form}(_qv) FROM ({sub}) _quant(_qv))"
        sql = sql[: m.start()] + repl + sql[close + 1 :]
        start = m.start()


def _rewrite_qualify(sql: str) -> str:
    """Rewrite a TOP-LEVEL ``... QUALIFY <pred> [ORDER BY ...] [LIMIT n]``
    into ``SELECT * FROM (...) _qualify WHERE <pred> [ORDER BY/LIMIT]``.
    QUALIFY inside parentheses (subqueries) is left alone — nested QUALIFY
    would need a real parser and surfaces Spark's parse error instead."""
    q = sqltext.find_keyword(sql, "QUALIFY")
    if q == -1:
        return sql
    head = sqltext.close_comment(sql[:q].rstrip().rstrip(";"))
    rest = sql[q + 7 :]
    # the predicate runs until a top-level ORDER BY / LIMIT (those move to
    # the outer query), or the end of the statement
    tail_at = sqltext.find_keyword(rest, "ORDER BY", "LIMIT")
    if tail_at == -1:
        tail_at = len(rest)
    pred = sqltext.close_comment(rest[:tail_at].strip().rstrip(";"))
    tail = rest[tail_at:].strip().rstrip(";")
    return f"SELECT * FROM ({head}) _qualify WHERE {pred}" + (f" {tail}" if tail else "")


_AJ_STOP = ("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY", "UNION",
            "INTERSECT", "EXCEPT", "SETTINGS")


def _rewrite_array_join(sql: str) -> str:
    """ClickHouse ``[LEFT] ARRAY JOIN <expr> [AS <alias>]`` → a FROM-clause
    subquery with explode/explode_outer (see normalize_dialect's docstring
    for the exact semantics mapping). Top-level only; occurrences inside
    subqueries are reached because the rewrite re-runs on its own output
    until no top-level clause remains — nested ones surface Spark's parse
    error, the documented contract for constructs beyond the normalizer."""
    aj_at = sqltext.find_keyword(sql, "ARRAY JOIN")
    if aj_at == -1:
        return sql
    left = False
    # optional LEFT immediately before
    head_end = aj_at
    pre = sql[:aj_at].rstrip()
    # word boundary: an alias/table name ENDING in 'left' (e.g. `FROM
    # clicks cleft ARRAY JOIN xs`) is not the LEFT modifier
    if pre.upper().endswith("LEFT") and (
        len(pre) == 4 or not (pre[-5].isalnum() or pre[-5] == "_")
    ):
        left = True
        head_end = len(pre) - 4
    # operand starts after 'JOIN'
    j = sql.upper().index("JOIN", aj_at) + 4
    # find the top-level FROM that owns this clause (last FROM before it)
    before = sql[:head_end]
    from_at, k = -1, sqltext.find_keyword(before, "FROM")
    while k != -1:
        from_at, k = k, sqltext.find_keyword(before, "FROM", start=k + 4)
    if from_at == -1:
        raise ValueError("ARRAY JOIN without a FROM clause")
    src = sql[from_at + 4 : head_end].strip()
    # operand runs to a top-level stop keyword or end of statement
    op_end = len(sql)
    as_at = -1
    comma_at = -1
    for i, ch, depth in sqltext.scan(sql, j):
        if depth != 0:
            continue
        if ch == ",":
            comma_at = i if comma_at == -1 else comma_at
        if ch == ";":
            op_end = i
            break
        if any(sqltext.word_at(sql, i, k) for k in _AJ_STOP):
            op_end = i
            break
        if sqltext.word_at(sql, i, "AS") and as_at == -1:
            as_at = i
    if comma_at != -1 and comma_at < op_end:
        raise ValueError(
            "multi-array ARRAY JOIN (zip semantics) is not supported — "
            "rewrite as arrays_zip(...) with a single ARRAY JOIN"
        )
    explode = "explode_outer" if left else "explode"
    rest = sql[op_end:]
    head = sql[:from_at]
    if as_at != -1 and as_at < op_end:
        expr = sql[j:as_at].strip()
        alias = sql[as_at + 2 : op_end].strip()
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", alias):
            raise ValueError(f"ARRAY JOIN alias must be an identifier, got {alias!r}")
        inner = f"SELECT *, {explode}({expr}) AS {alias} FROM {src}"
    else:
        expr = sql[j:op_end].strip()
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", expr):
            raise ValueError(
                "unaliased ARRAY JOIN needs a plain array column (its element "
                f"replaces the column); alias expressions: ARRAY JOIN {expr} AS x"
            )
        inner = f"SELECT * EXCEPT ({expr}), {explode}({expr}) AS {expr} FROM {src}"
    return _rewrite_array_join(f"{head}FROM ({inner}) _arrayjoin {rest}".rstrip())


_COMBINATOR_BASES = frozenset({"count", "sum", "avg", "min", "max"})


def _rewrite_iff(sql: str) -> str:
    """Snowflake ``IFF(cond, a, b)`` → Spark ``IF(cond, a, b)`` — same
    three-argument conditional, different name. Only a whole-word IFF
    followed by '(' rewrites."""
    for i, ch, depth in sqltext.scan(sql):
        if not sqltext.word_at(sql, i, "IFF"):
            continue
        j = i + 3
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j < len(sql) and sql[j] == "(":
            return _rewrite_iff(sql[:i] + "IF" + sql[i + 3 :])
    return sql


def _rewrite_regex_match(sql: str) -> str:
    """Postgres regex-match operators → Spark: ``expr ~ 'pat'`` →
    ``expr RLIKE 'pat'``, ``expr !~ 'pat'`` → ``NOT (expr RLIKE 'pat')``
    via suffix rewrite of the operator token, and the case-insensitive
    forms ``~*`` / ``!~*`` prepend an inline ``(?i)`` flag to a literal
    pattern. Only a ``~`` with a string-literal right operand is treated
    as the operator (a tilde with any other operand passes through —
    Spark has no other infix ``~``, so its parser reports it)."""
    if "~" not in sql:
        return sql
    for i, ch, depth in sqltext.scan(sql):
        if ch != "~":
            continue
        neg = i > 0 and sql[i - 1] == "!"
        star = i + 1 < len(sql) and sql[i + 1] == "*"
        j = i + (2 if star else 1)
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j >= len(sql) or sql[j] != "'":
            continue  # not a literal pattern: leave for Spark's parser
        _, _, k = next(sqltext.spans(sql, j))
        pat = sql[j:k]
        if star:
            pat = "'(?i)" + pat[1:]
        start = i - 1 if neg else i
        # `lhs NOT RLIKE pat` parses on Spark with semantics identical to
        # postgres `lhs !~ pat` (negation scoped to the comparison)
        repl = f"NOT RLIKE {pat}" if neg else f"RLIKE {pat}"
        return _rewrite_regex_match(sql[:start] + repl + sql[k:])
    return sql


def _rewrite_exclude(sql: str) -> str:
    """DuckDB ``* EXCLUDE (cols)`` / ``* EXCLUDE col`` → Spark's
    ``* EXCEPT (cols)`` — same semantics, different keyword. Only an
    EXCLUDE directly following a ``*`` (or ``alias.*``) is rewritten;
    the single-bare-column form gains the parentheses Spark requires."""
    for i, ch, depth in sqltext.scan(sql):
        if not sqltext.word_at(sql, i, "EXCLUDE"):
            continue
        pre = sql[:i].rstrip()
        if not pre.endswith("*"):
            continue
        j = i + 7
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j < len(sql) and sql[j] == "(":
            return _rewrite_exclude(sql[:i] + "EXCEPT" + sql[i + 7 :])
        m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", sql[j:])
        if not m:
            continue
        col = m.group(0)
        return _rewrite_exclude(
            sql[:i] + f"EXCEPT ({col})" + sql[j + m.end() :]
        )
    return sql


def _rewrite_combinators(sql: str) -> str:
    """ClickHouse ``-If`` aggregate combinators → conditional aggregates:
    ``sumIf(x, cond)`` / ``avgIf`` / ``minIf`` / ``maxIf`` →
    ``sum(CASE WHEN cond THEN x END)`` (non-matching rows contribute
    NULL, which the aggregate skips — ClickHouse's exact semantics), and
    ``countIf(cond)`` → ``count(CASE WHEN cond THEN 1 END)``. Other
    combinators (-Array, -State, -Merge) surface Spark's error unchanged."""
    for i, ch, depth in sqltext.scan(sql):
        if ch != "(":
            continue
        # identifier ending just before the paren (whitespace allowed)
        e = i
        while e > 0 and sql[e - 1].isspace():
            e -= 1
        j = e
        while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_"):
            j -= 1
        ident = sql[j:e]
        if not ident.endswith("If"):
            continue
        base = ident[:-2]
        if base.lower() not in _COMBINATOR_BASES:
            continue
        q = sqltext.matching_paren(sql, i)
        if q == -1:
            continue
        parts = sqltext.split(sql[i + 1 : q])
        if base.lower() == "count" and len(parts) == 1:
            repl = f"count(CASE WHEN {parts[0]} THEN 1 END)"
        elif len(parts) == 2:
            repl = f"{base.lower()}(CASE WHEN {parts[1]} THEN {parts[0]} END)"
        else:
            continue  # wrong arity: let Spark's parser report it
        return _rewrite_combinators(sql[:j] + repl + sql[q + 1 :])
    return sql


_FLATTEN_STOP_WORDS = frozenset(
    "WHERE GROUP ORDER LIMIT HAVING UNION INTERSECT EXCEPT JOIN ON LEFT "
    "RIGHT INNER CROSS FULL LATERAL SELECT QUALIFY WINDOW".split()
)


def _rewrite_flatten(sql: str) -> str:
    """Snowflake ``[,] LATERAL FLATTEN(input => <expr>[, outer => true])
    [AS] <alias>`` → Spark ``LATERAL VIEW [OUTER] explode(<expr>) <alias>
    AS value`` — the signature Snowflake table function in its common
    form (array input, element exposed as ``<alias>.value``). A
    comma-join comma before LATERAL is dropped (Spark's LATERAL VIEW
    attaches without one). Top-level occurrences only, re-run on the
    rewritten output until none remain; FLATTEN's richer outputs
    (seq/key/path/index over objects) surface Spark's error unchanged,
    the documented contract for constructs beyond the normalizer."""
    lat_at = sqltext.find_keyword(sql, "LATERAL FLATTEN")
    if lat_at == -1:
        return sql
    p = sql.upper().index("FLATTEN", lat_at) + 7
    while p < len(sql) and sql[p].isspace():
        p += 1
    if p >= len(sql) or sql[p] != "(":
        return sql
    q = sqltext.matching_paren(sql, p)
    if q == -1:
        raise ValueError("FLATTEN: unbalanced parentheses")
    parts = sqltext.split(sql[p + 1 : q])
    input_expr, outer = None, False
    for part in parts:
        m = re.match(r"\s*(input|outer)\s*=>\s*(.*?)\s*$", part, re.I | re.S)
        if m:
            if m.group(1).lower() == "input":
                input_expr = m.group(2)
            else:
                outer = m.group(2).upper() in ("TRUE", "1")
        elif input_expr is None and part.strip():
            input_expr = part.strip()  # positional input
    if input_expr is None:
        raise ValueError("FLATTEN requires an input => <expr> argument")
    m = re.match(r"\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)", sql[q + 1 :], re.I)
    alias, end = "_flat", q + 1
    if m and m.group(1).upper() not in _FLATTEN_STOP_WORDS:
        alias, end = m.group(1), q + 1 + m.end()
    pre = sql[:lat_at].rstrip()
    if pre.endswith(","):
        pre = pre[:-1]
    lv = f" LATERAL VIEW {'OUTER ' if outer else ''}explode({input_expr}) {alias} AS value "
    return _rewrite_flatten((pre + lv + sql[end:]).rstrip())


def _rewrite_group_concat(sql: str, dialect: str = "mysql") -> str:
    """``GROUP_CONCAT([DISTINCT] exprs [ORDER BY k1 [ASC|DESC], ...]
    [SEPARATOR 'sep'])`` → Spark built-ins:

    - unordered: ``array_join(collect_list|collect_set(expr), sep)``
    - ordered: collect ``struct(k1 AS _o1, ..., expr AS _v)``,
      ``array_sort`` (reversed when every key is DESC), project ``_v``,
      join — the ordering survives the aggregate exactly, which a bare
      collect_list cannot guarantee. MIXED ASC/DESC key directions are
      left unrewritten (array_sort has one direction; the honest
      contract is Spark's parse error, not silently wrong order).

    The second-argument comma is DIALECT-SPECIFIC: sqlite's
    ``group_concat(expr, 'sep')`` makes arg 2 the separator, while
    MySQL's ``GROUP_CONCAT(a, b)`` concatenates the expressions per row
    and joins with the default ',' — so mysql multi-arg becomes
    ``concat(a, b)`` and only sqlite treats two args as (expr, sep)
    (three+ args under sqlite pass through to the parse error).

    Default separator is ',' (both dialects'). NULL elements are skipped
    by collect_list/collect_set, matching both. With DISTINCT and ORDER
    BY together, values are deduped AFTER the sort (array_distinct keeps
    the first occurrence in sort order) — exact MySQL semantics whenever
    the keys derive from expr, and a deterministic dedup-by-value when
    they don't. Nested parens in exprs/keys/sep survive, and multiple
    occurrences rewrite via recursion. Everything stays a single grouped
    aggregate: the sort is a per-group array sort after the partial agg,
    no extra shuffle."""
    gc_at = next(
        (i for i, _, _ in sqltext.scan(sql) if sqltext.word_at(sql, i, "GROUP_CONCAT")), -1
    )
    if gc_at == -1:
        return sql
    open_idx = sql.find("(", gc_at)
    if open_idx == -1 or sql[gc_at + 12 : open_idx].strip():
        return sql
    close_idx = sqltext.matching_paren(sql, open_idx)
    if close_idx == -1:
        return sql
    inner = sql[open_idx + 1 : close_idx]
    body = inner.lstrip()
    distinct = False
    if sqltext.word_at(body, 0, "DISTINCT"):
        distinct = True
        body = body[8:].lstrip()
    # locate top-level ORDER ... BY and SEPARATOR within the argument
    order_at = sqltext.find_keyword(body, "ORDER BY")
    sep_at = sqltext.find_keyword(body, "SEPARATOR")
    sep = "','"
    if sep_at != -1:
        sep = body[sep_at + 9 :].strip() or sep
        body_main = body[:sep_at]
    else:
        body_main = body
    ordered = order_at != -1 and (sep_at == -1 or order_at < sep_at)
    expr = (body_main[:order_at] if ordered else body_main).strip()
    # dialect-specific argument-list comma (see docstring)
    parts = sqltext.split(expr)
    if len(parts) == 2 and dialect == "sqlite" and sep_at == -1:
        expr, sep = parts[0], parts[1]
    elif len(parts) > 1 and dialect == "mysql":
        expr = f"concat({', '.join(parts)})"
    elif len(parts) > 1:
        return sql  # 3+ args under sqlite: no such form — parse error
    collect = "collect_set" if distinct else "collect_list"
    if not ordered:
        repl = f"array_join({collect}({expr}), {sep})"
        return _rewrite_group_concat(
            sql[:gc_at] + repl + sql[close_idx + 1 :], dialect
        )
    ord_part = body_main[order_at:].lstrip()[5:].lstrip()  # past ORDER
    ord_part = ord_part[2:].strip()  # past BY
    keys: list[str] = []
    descs: list[bool] = []
    for item in sqltext.split(ord_part):
        up = item.upper()
        if up.endswith(" DESC"):
            descs.append(True)
            item = item[:-5].rstrip()
        elif up.endswith(" ASC"):
            descs.append(False)
            item = item[:-4].rstrip()
        else:
            descs.append(False)
        keys.append(item)
    if len(set(descs)) > 1:
        return sql  # mixed directions: unrewritable with one array_sort
    fields = ", ".join(
        f"{k} AS _o{i + 1}" for i, k in enumerate(keys)
    )
    arr = f"array_sort({collect}(struct({fields}, {expr} AS _v)))"
    if descs[0]:
        arr = f"reverse({arr})"
    vals = f"transform({arr}, _x -> _x._v)"
    if distinct:
        # collect_set dedups the (keys, expr) STRUCT — duplicate values
        # with distinct order keys would survive it. array_distinct on
        # the post-sort value array keeps the FIRST occurrence in sort
        # order, matching MySQL whenever the key is derived from expr
        # and giving a deterministic dedup-by-value otherwise.
        vals = f"array_distinct({vals})"
    repl = f"array_join({vals}, {sep})"
    return _rewrite_group_concat(
        sql[:gc_at] + repl + sql[close_idx + 1 :], dialect
    )


_TOP_RE = re.compile(r"(?<!\w)(SELECT)\s+TOP\s+(\d+)", re.I)


def _normalize_mssql(sql: str) -> str:
    """mssql surface: ``[bracket]`` identifiers → backticks and the
    top-level ``SELECT TOP n`` → a trailing ``LIMIT n``. Brackets are not
    quotes in Spark (``a[1]`` indexes an array), so they are rewritten only
    in code; TOP is only rewritten for the outermost SELECT (subquery TOP
    would need a real parser — those surface Spark's parse error
    unchanged)."""
    text = "".join(
        sql[a:b] if kind else re.sub(r"\[([^\]]*)\]", r"`\1`", sql[a:b])
        for kind, a, b in sqltext.spans(sql)
    )
    for i, _, depth in sqltext.scan(text):
        if depth == 0 and (m := _TOP_RE.match(text, i)):
            body = text[: m.start()] + m.group(1) + " " + text[m.end() :]
            return sqltext.close_comment(body.rstrip().rstrip(";")) + f" LIMIT {m.group(2)}"
    return text


_BYTE_SUFFIXES = {
    "": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(text: str) -> int:
    """Spark byte-size conf values ('10MB', '10485760b', '-1') → bytes."""
    m = re.fullmatch(r"\s*(-?\d+)\s*([A-Za-z]*)\s*", str(text))
    if not m or m.group(2).lower() not in _BYTE_SUFFIXES:
        return 10 * 1024 * 1024
    return int(m.group(1)) * _BYTE_SUFFIXES[m.group(2).lower()]


class ExecutionContext:
    """SQL-string-in, DataFrame-out engine handle.

    >>> ctx = ExecutionContext()
    >>> ctx.register_dir("/root/testdata/sf0.001")
    >>> ctx.execute("SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1")
    """

    def __init__(
        self,
        dialect: str = "postgres",
        spark: SparkSession | None = None,
        stats: bool = False,
    ):
        self.dialect = get_dialect(dialect)
        self.spark = spark or get_session()
        self.catalog = Catalog(self.spark)
        self._ddl = None  # lazy DdlSession for the statement dispatcher
        #: opt-in CBO loop: when True, execute() consults persisted ANALYZE
        #: artifacts (catalog 'stats_path' properties) before planning —
        #: stats-known small tables get a broadcast hint and the shuffle
        #: partition count is seeded from the largest table's estimate.
        self.stats_enabled = stats
        self._stats_hinted: set[str] = set()

    @property
    def ddl(self):
        """DdlSession bound to this context's catalog (created on first
        DML/DDL statement — pure SELECT workloads never pay for it)."""
        if self._ddl is None:
            from mesin_spark.dml import DdlSession

            self._ddl = DdlSession(self.spark, catalog=self.catalog)
        return self._ddl

    # -- registration ------------------------------------------------------
    def register_parquet(self, name: str, path: str) -> DataFrame:
        return self.catalog.register_parquet(name, path)

    def register_dir(self, sf_dir: str, tables=TESTDATA_TABLES) -> None:
        self.catalog.register_dir(sf_dir, tables)

    # -- execution ---------------------------------------------------------
    def execute(self, sql: str) -> DataFrame:
        """Parse + plan + (unlike the reference) actually execute.

        Reference parity: empty input errors (src/context.rs:45-47);
        multi-statement input errors (improvement over the silent ``ast[0]``
        truncation at src/context.rs:49).
        """
        stmts = self._split_statements(sql)
        if not stmts:
            raise ValueError("Empty SQL statement")
        if len(stmts) > 1:
            raise ValueError(
                f"Multi-statement input not supported (got {len(stmts)} statements); "
                "execute them one at a time"
            )
        stmt = normalize_dialect(stmts[0], self.dialect)
        m = re.match(r"\s*EXPLAIN\s+(?:EXTENDED\s+|FORMATTED\s+)?(.+)$", stmt,
                     re.I | re.S)
        if m:
            # the reference's ONLY output artifact is a printed plan
            # (src/context.rs:53) — surface it as a 1-row (plan STRING)
            # frame. Queries only: EXPLAIN on a DML statement would have
            # to execute it to plan it here, so it is refused instead.
            inner = m.group(1).strip()
            if not re.match(r"(SELECT|WITH|VALUES|\()", inner, re.I):
                raise ValueError(
                    "EXPLAIN supports query statements (SELECT/WITH/VALUES)"
                )
            plan = self.explain(inner)
            return local_frame(self.spark, [(plan,)], "plan string")
        from mesin_spark import sql_dml

        if sql_dml.is_dml(stmt):
            # the dispatcher's non-Query arms (src/planner/mod.rs:21-38):
            # INSERT/UPDATE/DELETE/CREATE/DROP/ALTER route to the managed
            # DML tier; CREATE/DROP VIEW and queries stay on spark.sql
            return sql_dml.dispatch(self.ddl, stmt)
        if self.stats_enabled:
            self._apply_stats(stmt)
        return self.spark.sql(stmt)

    def _apply_stats(self, stmt: str) -> None:
        """The opt-in stats→plan loop (``ExecutionContext(stats=True)``):
        for every catalog table mentioned in ``stmt`` that carries a
        persisted ANALYZE artifact, (a) re-register its view with a
        broadcast hint when the artifact-estimated size fits under Spark's
        autoBroadcastJoinThreshold — a ResolvedHint on the view propagates
        into every join against it, exactly the first-run broadcast a CBO
        gets from catalog stats without waiting for AQE's runtime sizes —
        and (b) seed spark.sql.shuffle.partitions from the LARGEST
        mentioned table's estimated bytes (AQE can only coalesce down).
        Metadata-only: no scan, no collect; each table is hinted once per
        context."""
        from mesin_spark.ext.stats import (
            avg_row_bytes,
            load_stats,
            recommend_shuffle_partitions,
        )
        from mesin_spark.sources import read_parquet

        words = {w.lower() for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", stmt)}
        thresh = _parse_bytes(
            self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        )
        if thresh <= 0:  # broadcast disabled session-wide: honor it
            thresh = -1
        max_rows, max_row_bytes = 0, 8
        for name, meta in self.catalog.tables.items():
            if name.lower() not in words:
                continue
            stats_path = meta.properties.get("stats_path")
            if not stats_path:
                continue
            try:
                stats = load_stats(self.spark, stats_path)
            except (OSError, ValueError):
                continue
            if not stats.summary:
                continue
            df = self.catalog.table(name)
            n_rows = next(iter(stats.summary.values()))["n"]
            row_bytes = avg_row_bytes(df)
            if n_rows * row_bytes > max_rows * max_row_bytes:
                max_rows, max_row_bytes = n_rows, row_bytes
            if n_rows * row_bytes <= thresh and name not in self._stats_hinted:
                # rebuild from source (hinting spark.table(name) and
                # re-registering under the same name would self-reference).
                # meta.path for a versioned ManagedTable is the table ROOT
                # (data under v*/ subdirs) — resolve the committed data
                # dir, and guard the whole rebuild: a planning HINT must
                # never be able to fail the query itself.
                if meta.path and os.path.exists(meta.path):
                    try:
                        from mesin_spark.dml import ManagedTable

                        data_dir = ManagedTable(
                            self.spark, name, meta.path, catalog=None
                        )._data_dir()
                        src = read_parquet(self.spark, data_dir)
                        src.hint("broadcast").createOrReplaceTempView(name)
                        self._stats_hinted.add(name)
                    except (OSError, ValueError, AnalysisException):
                        # ValueError: a corrupt _VERSION pointer raises in
                        # current_version()'s int() parse — DML paths should
                        # fail loudly on that, but a planning HINT must not
                        continue
        if max_rows:
            n = recommend_shuffle_partitions(max_rows, max_row_bytes)
            self.spark.conf.set("spark.sql.shuffle.partitions", str(n))

    def execute_script(self, sql: str) -> list[DataFrame]:
        """Run a multi-statement script (';'-separated, see _split_statements)
        statement by statement, returning each statement's result frame.
        The single-statement ``execute`` stays strict (the reference
        truncates scripts to ``ast[0]`` silently, src/context.rs:49 — we
        make scripts explicit instead of implicit)."""
        stmts = self._split_statements(sql)
        if not stmts:
            raise ValueError("Empty SQL script")
        return [self.execute(s) for s in stmts]

    def explain(self, sql: str) -> str:
        """The reference's terminal stage was a pretty-printed logical plan
        (src/context.rs:53, tmp/select.rs:625-746 ``format_plan``); ours is
        Catalyst's, which includes the optimized + physical plan. Queries
        only — explaining a DML statement would have to execute it."""
        from mesin_spark import sql_dml

        if sql_dml.is_dml(normalize_dialect(sql, self.dialect)):
            raise ValueError(
                "explain() supports query statements (SELECT/WITH/VALUES)"
            )
        df = self.execute(sql)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "extended"
        )

    def sql(self, sql: str) -> DataFrame:
        return self.execute(sql)

    @staticmethod
    def _split_statements(sql: str) -> list[str]:
        """Split on top-level ';' (``mesin_spark.sqltext``'s rule: a ';' in
        a literal, a quoted identifier or a comment does not split). The
        comments around a statement are dropped, so its leading keyword
        routes it."""
        return sqltext.split(sql, ";")

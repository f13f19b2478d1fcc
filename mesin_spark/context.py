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
      → backticked. Single-quoted string literals are never touched (char
      scanner, not regex-over-everything).
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

    Constructs beyond these surface Spark's parse error unchanged."""
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
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":  # string literal: copy verbatim, honoring '' escapes
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                if sql[j] == "'":
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif ch == '"':  # quoted identifier -> backticks
            j = sql.find('"', i + 1)
            if j == -1:
                out.append(sql[i:])
                break
            out.append("`" + sql[i + 1 : j] + "`")
            i = j + 1
        elif ch == ":" and i + 1 < n and sql[i + 1] == ":":
            # expr::type — rewrite when the operand is a simple token
            # (identifier, quoted identifier we just emitted, number, or
            # a parenthesized group ending right before the '::')
            k = i + 2
            while k < n and (sql[k].isalnum() or sql[k] in "_("):
                if sql[k] == "(":  # e.g. ::DECIMAL(10,2)
                    depth = 1
                    k += 1
                    while k < n and depth:
                        depth += {"(": 1, ")": -1}.get(sql[k], 0)
                        k += 1
                    break
                k += 1
            typename = sql[i + 2 : k]
            # walk back over the operand in what we've emitted so far
            emitted = "".join(out)
            m = len(emitted)
            if m and emitted[-1] == "'":
                # string-literal operand ('2024-01-01'::date): scan back to
                # the opening quote, honoring '' escapes — the whole literal
                # is the operand
                p = m - 2
                while p >= 0:
                    if emitted[p] == "'":
                        if p > 0 and emitted[p - 1] == "'":
                            p -= 2  # doubled quote inside the literal
                            continue
                        break
                    p -= 1
                operand_start = max(p, 0)
            elif m and emitted[-1] == ")":
                depth = 0
                p = m - 1
                while p >= 0:
                    depth += {")": 1, "(": -1}.get(emitted[p], 0)
                    if depth == 0:
                        break
                    p -= 1
                # include a function name before the parens: fn(x)::T, CAST(..)::T
                while p > 0 and (emitted[p - 1].isalnum() or emitted[p - 1] in "_.`"):
                    p -= 1
                operand_start = p
            elif m and emitted[-1] == "`":
                # backtick-quoted identifier (possibly qualified: t.`my col`)
                p = emitted.rfind("`", 0, m - 1)
                while p > 0 and (emitted[p - 1].isalnum() or emitted[p - 1] in "_.`"):
                    p -= 1
                operand_start = p
            else:
                p = m
                while p > 0 and (emitted[p - 1].isalnum() or emitted[p - 1] in "_.`"):
                    p -= 1
                operand_start = p
            operand = emitted[operand_start:]
            if not operand.strip() or not typename.strip():
                # no identifiable operand/type: emit '::' untouched rather
                # than fabricating CAST( AS T) — Spark's parser gives the
                # honest error
                out.append("::")
                i += 2
                continue
            out = [emitted[:operand_start], f"CAST({operand} AS {typename})"]
            i = k
        else:
            out.append(ch)
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
    docstring for exactness notes. Char-scanner driven: quantifier
    keywords inside string literals never match; the subquery's closing
    paren is found by balanced-paren scan (quote-aware), and rewrites
    re-scan so nested occurrences inside subqueries are handled too."""
    while True:
        # locate the first candidate OUTSIDE string literals
        m = None
        i, n = 0, len(sql)
        while i < n:
            if sql[i] == "'":
                j = i + 1
                while j < n:
                    if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    if sql[j] == "'":
                        break
                    j += 1
                i = j + 1
                continue
            m = _QUANT_RE.match(sql, i)
            if m:
                break
            i += 1
        if not m:
            return sql
        op, quant = m.group(1), m.group(2).upper()
        # combos with no sound rewrite (= ALL, <> ANY/SOME) fall through
        # to the documented contract: the construct surfaces Spark's own
        # parse error unchanged, never a KeyError from this scanner
        form = _QUANT_FORMS.get((op, quant))
        if form is None:
            i2 = m.end()
            return sql[:i2] + _rewrite_quantified(sql[i2:])
        # balanced-paren, quote-aware scan for the subquery body
        depth, j = 1, m.end()
        while j < n and depth:
            ch = sql[j]
            if ch == "'":
                j += 1
                while j < n:
                    if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    if sql[j] == "'":
                        break
                    j += 1
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        sub = sql[m.end() : j - 1]
        # quantified comparisons take a SUBQUERY; anything else (e.g. the
        # any()/some() aggregates over a column) is left untouched
        if not sub.lstrip().upper().startswith(("SELECT", "WITH", "VALUES")):
            i = m.end()
            head, tail = sql[:i], sql[i:]
            rest = _rewrite_quantified(tail)
            return head + rest
        if form == "in":
            repl = f" IN ({sub})"
        elif form == "not_in":
            repl = f" NOT IN ({sub})"
        else:
            repl = f"{op} (SELECT {form}(_qv) FROM ({sub}) _quant(_qv))"
        sql = sql[: m.start()] + repl + sql[j:]


def _rewrite_qualify(sql: str) -> str:
    """Rewrite a TOP-LEVEL ``... QUALIFY <pred> [ORDER BY ...] [LIMIT n]``
    into ``SELECT * FROM (...) _qualify WHERE <pred> [ORDER BY/LIMIT]``.
    Char scanner: QUALIFY inside string literals, quoted identifiers or
    parentheses (subqueries) is left alone — nested QUALIFY would need a
    real parser and surfaces Spark's parse error instead."""
    n = len(sql)
    i, depth = 0, 0
    q_start = q_end = -1
    while i < n:
        ch = sql[i]
        if ch == "'":
            i += 1
            while i < n:
                if sql[i] == "'" and i + 1 < n and sql[i + 1] == "'":
                    i += 2
                    continue
                if sql[i] == "'":
                    break
                i += 1
            i += 1
        elif ch in "\"`":
            j = sql.find(ch, i + 1)
            i = n if j == -1 else j + 1
        elif ch in "()":
            depth += 1 if ch == "(" else -1
            i += 1
        elif (
            depth == 0
            and sql[i : i + 7].upper() == "QUALIFY"
            and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
            and (i + 7 == n or not (sql[i + 7].isalnum() or sql[i + 7] == "_"))
        ):
            q_start, q_end = i, i + 7
            break
        else:
            i += 1
    if q_start == -1:
        return sql
    head = sql[:q_start].rstrip().rstrip(";")
    rest = sql[q_end:]
    # the predicate runs until a top-level ORDER BY / LIMIT (those move to
    # the outer query), or the end of the statement
    tail_at = len(rest)
    i, depth = 0, 0
    while i < len(rest):
        ch = rest[i]
        if ch == "'":
            i += 1
            while i < len(rest) and rest[i] != "'":
                i += 1
            i += 1
        elif ch in "()":
            depth += 1 if ch == "(" else -1
            i += 1
        elif depth == 0 and (
            rest[i : i + 8].upper() == "ORDER BY" or rest[i : i + 5].upper() == "LIMIT"
        ):
            tail_at = i
            break
        else:
            i += 1
    pred = rest[:tail_at].strip().rstrip(";")
    tail = rest[tail_at:].strip().rstrip(";")
    return f"SELECT * FROM ({head}) _qualify WHERE {pred}" + (f" {tail}" if tail else "")


_AJ_STOP = ("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY", "UNION",
            "INTERSECT", "EXCEPT", "SETTINGS")


def _scan_top_level(sql: str, start: int = 0):
    """Yield (i, ch) for positions OUTSIDE string literals / quoted
    identifiers, tracking paren depth — the shared walk all the dialect
    rewriters need. Yields (i, ch, depth)."""
    i, n, depth = start, len(sql), 0
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                if sql[j] == "'":
                    break
                j += 1
            i = j + 1
            continue
        if ch in '"`':
            j = sql.find(ch, i + 1)
            i = n if j == -1 else j + 1
            continue
        if ch in "()":
            depth += 1 if ch == "(" else -1
        yield i, ch, depth
        i += 1


def _kw_at(sql: str, i: int, kw: str) -> bool:
    """True when ``kw`` (single word) starts at i as a whole word."""
    n = len(sql)
    k = len(kw)
    return (
        sql[i : i + k].upper() == kw
        and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
        and (i + k == n or not (sql[i + k].isalnum() or sql[i + k] == "_"))
    )


def _rewrite_array_join(sql: str) -> str:
    """ClickHouse ``[LEFT] ARRAY JOIN <expr> [AS <alias>]`` → a FROM-clause
    subquery with explode/explode_outer (see normalize_dialect's docstring
    for the exact semantics mapping). Top-level only; occurrences inside
    subqueries are reached because the rewrite re-runs on its own output
    until no top-level clause remains — nested ones surface Spark's parse
    error, the documented contract for constructs beyond the normalizer."""
    aj_at = -1
    left = False
    for i, ch, depth in _scan_top_level(sql):
        if depth == 0 and _kw_at(sql, i, "ARRAY"):
            rest = sql[i + 5 :].lstrip()
            if rest.upper().startswith("JOIN"):
                aj_at = i
                break
    if aj_at == -1:
        return sql
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
    from_at = -1
    for i, ch, depth in _scan_top_level(sql[:head_end]):
        if depth == 0 and _kw_at(sql[:head_end], i, "FROM"):
            from_at = i
    if from_at == -1:
        raise ValueError("ARRAY JOIN without a FROM clause")
    src = sql[from_at + 4 : head_end].strip()
    # operand runs to a top-level stop keyword or end of statement
    op_end = len(sql)
    as_at = -1
    comma_at = -1
    for i, ch, depth in _scan_top_level(sql, j):
        if depth != 0:
            continue
        if ch == ",":
            comma_at = i if comma_at == -1 else comma_at
        if ch == ";":
            op_end = i
            break
        if any(_kw_at(sql, i, k) for k in _AJ_STOP):
            op_end = i
            break
        if _kw_at(sql, i, "AS") and as_at == -1:
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


def _matching_paren(sql: str, open_idx: int) -> int:
    """Index of the ')' matching the '(' at ``open_idx``, honoring string
    literals ('' escapes), double-quoted and backtick identifiers — the
    quote-aware sibling of a raw paren count (a ')' inside a literal must
    not close the argument list). Returns -1 when unbalanced."""
    depth = 0
    i, n = open_idx, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    j += 2  # backslash escape (clickhouse-style \')
                    continue
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                if sql[j] == "'":
                    break
                j += 1
            i = j + 1
            continue
        if ch in '"`':
            j = sql.find(ch, i + 1)
            i = n if j == -1 else j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return -1


def _split_top_commas(segment: str) -> list[str]:
    """Split an argument list on top-level commas, honoring nested parens
    and string/identifier quoting (a comma inside '...' is data)."""
    parts: list[str] = []
    cur: list[str] = []
    depth = 0
    i, n = 0, len(segment)
    while i < n:
        ch = segment[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if segment[j] == "\\" and j + 1 < n:
                    j += 2  # backslash escape (clickhouse-style \')
                    continue
                if segment[j] == "'" and j + 1 < n and segment[j + 1] == "'":
                    j += 2
                    continue
                if segment[j] == "'":
                    break
                j += 1
            cur.append(segment[i : min(j + 1, n)])
            i = j + 1
            continue
        if ch in '"`':
            j = segment.find(ch, i + 1)
            j = n - 1 if j == -1 else j
            cur.append(segment[i : j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _rewrite_iff(sql: str) -> str:
    """Snowflake ``IFF(cond, a, b)`` → Spark ``IF(cond, a, b)`` — same
    three-argument conditional, different name. Only a whole-word IFF
    followed by '(' rewrites; string literals are never touched."""
    for i, ch, depth in _scan_top_level(sql):
        if not _kw_at(sql, i, "IFF"):
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
    for i, ch, depth in _scan_top_level(sql):
        if ch != "~":
            continue
        neg = i > 0 and sql[i - 1] == "!"
        star = i + 1 < len(sql) and sql[i + 1] == "*"
        j = i + (2 if star else 1)
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j >= len(sql) or sql[j] != "'":
            continue  # not a literal pattern: leave for Spark's parser
        # literal end ('' escapes)
        k = j + 1
        n = len(sql)
        while k < n:
            if sql[k] == "'" and k + 1 < n and sql[k + 1] == "'":
                k += 2
                continue
            if sql[k] == "'":
                break
            k += 1
        pat = sql[j : k + 1]
        if star:
            pat = "'(?i)" + pat[1:]
        start = i - 1 if neg else i
        # `lhs NOT RLIKE pat` parses on Spark with semantics identical to
        # postgres `lhs !~ pat` (negation scoped to the comparison)
        repl = f"NOT RLIKE {pat}" if neg else f"RLIKE {pat}"
        return _rewrite_regex_match(sql[:start] + repl + sql[k + 1 :])
    return sql


def _rewrite_exclude(sql: str) -> str:
    """DuckDB ``* EXCLUDE (cols)`` / ``* EXCLUDE col`` → Spark's
    ``* EXCEPT (cols)`` — same semantics, different keyword. Only an
    EXCLUDE directly following a ``*`` (or ``alias.*``) is rewritten;
    the single-bare-column form gains the parentheses Spark requires.
    String literals are never touched (the shared top-level scanner)."""
    for i, ch, depth in _scan_top_level(sql):
        if not _kw_at(sql, i, "EXCLUDE"):
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
    ``countIf(cond)`` → ``count(CASE WHEN cond THEN 1 END)``. String
    literals are never touched; other combinators (-Array, -State,
    -Merge) surface Spark's error unchanged."""
    for i, ch, depth in _scan_top_level(sql):
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
        q = _matching_paren(sql, i)
        if q == -1:
            continue
        parts = _split_top_commas(sql[i + 1 : q])
        if base.lower() == "count" and len(parts) == 1:
            repl = f"count(CASE WHEN {parts[0].strip()} THEN 1 END)"
        elif len(parts) == 2:
            repl = (
                f"{base.lower()}(CASE WHEN {parts[1].strip()}"
                f" THEN {parts[0].strip()} END)"
            )
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
    lat_at = -1
    for i, ch, depth in _scan_top_level(sql):
        if depth == 0 and _kw_at(sql, i, "LATERAL"):
            rest = sql[i + 7 :].lstrip()
            if rest.upper().startswith("FLATTEN"):
                lat_at = i
                break
    if lat_at == -1:
        return sql
    p = sql.upper().index("FLATTEN", lat_at) + 7
    while p < len(sql) and sql[p].isspace():
        p += 1
    if p >= len(sql) or sql[p] != "(":
        return sql
    q = _matching_paren(sql, p)
    if q == -1:
        raise ValueError("FLATTEN: unbalanced parentheses")
    parts = [a for a in _split_top_commas(sql[p + 1 : q]) if a.strip()]
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
    they don't. All parsing is quote-aware (shared scanners),
    nested parens in exprs/keys/sep survive, and multiple occurrences
    rewrite via recursion. Everything stays a single grouped aggregate:
    the sort is a per-group array sort after the partial agg, no extra
    shuffle."""
    gc_at = -1
    for i, ch, depth in _scan_top_level(sql):
        if _kw_at(sql, i, "GROUP_CONCAT"):
            gc_at = i
            break
    if gc_at == -1:
        return sql
    open_idx = sql.find("(", gc_at)
    if open_idx == -1 or sql[gc_at + 12 : open_idx].strip():
        return sql
    close_idx = _matching_paren(sql, open_idx)
    if close_idx == -1:
        return sql
    inner = sql[open_idx + 1 : close_idx]
    body = inner.lstrip()
    distinct = False
    if _kw_at(body, 0, "DISTINCT"):
        distinct = True
        body = body[8:].lstrip()
    # locate top-level ORDER ... BY and SEPARATOR within the argument
    order_at = sep_at = -1
    for i, ch, depth in _scan_top_level(body):
        if depth != 0:
            continue
        if order_at == -1 and _kw_at(body, i, "ORDER"):
            rest = body[i + 5 :].lstrip()
            if rest.upper().startswith("BY"):
                order_at = i
        if sep_at == -1 and _kw_at(body, i, "SEPARATOR"):
            sep_at = i
            break
    sep = "','"
    if sep_at != -1:
        sep = body[sep_at + 9 :].strip() or sep
        body_main = body[:sep_at]
    else:
        body_main = body
    ordered = order_at != -1 and (sep_at == -1 or order_at < sep_at)
    expr = (body_main[:order_at] if ordered else body_main).strip()
    # dialect-specific argument-list comma (see docstring)
    parts = [p.strip() for p in _split_top_commas(expr)]
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
    for item in _split_top_commas(ord_part):
        item = item.strip()
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


def _normalize_mssql(sql: str) -> str:
    """mssql surface: ``[bracket]`` identifiers → backticks and the
    top-level ``SELECT TOP n`` → a trailing ``LIMIT n``. Char scanner so
    brackets/TOP inside string literals are never touched; TOP is only
    rewritten for the outermost SELECT (subquery TOP would need a real
    parser — those surface Spark's parse error unchanged)."""
    out: list[str] = []
    i, n = 0, len(sql)
    limit: str | None = None
    depth = 0
    while i < n:
        ch = sql[i]
        if ch == "'":  # string literal: verbatim, honoring '' escapes
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                if sql[j] == "'":
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif ch == "[":  # bracket identifier -> backticks
            j = sql.find("]", i + 1)
            if j == -1:
                out.append(sql[i:])
                break
            out.append("`" + sql[i + 1 : j] + "`")
            i = j + 1
        elif ch in "()":
            depth += 1 if ch == "(" else -1
            out.append(ch)
            i += 1
        elif (
            depth == 0
            and limit is None
            and sql[i : i + 6].upper() == "SELECT"
            and (i + 6 == n or sql[i + 6].isspace())
            and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
        ):
            j = i + 6
            while j < n and sql[j].isspace():
                j += 1
            if sql[j : j + 3].upper() == "TOP" and j + 3 < n and sql[j + 3].isspace():
                k = j + 3
                while k < n and sql[k].isspace():
                    k += 1
                d = k
                while d < n and sql[d].isdigit():
                    d += 1
                if d > k:
                    limit = sql[k:d]
                    out.append(sql[i : i + 6] + " ")
                    i = d
                    continue
            out.append(sql[i : i + 6])
            i += 6
        else:
            out.append(ch)
            i += 1
    text = "".join(out)
    if limit is not None:
        text = text.rstrip().rstrip(";") + f" LIMIT {limit}"
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
        """Run a multi-statement script (';'-separated, quote-aware)
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
        """Split on top-level ';' while respecting quoted strings
        (both '' doubling and backslash escapes — Spark's default parser
        accepts 'don\'t', and a ';' inside such a literal must not
        split the statement)."""
        out, buf, quote = [], [], None
        it = iter(range(len(sql)))
        for i in it:
            ch = sql[i]
            if quote:
                buf.append(ch)
                if ch == "\\" and i + 1 < len(sql):
                    buf.append(sql[i + 1])
                    next(it, None)
                    continue
                if ch == quote:
                    quote = None
            elif ch in ("'", '"'):
                quote = ch
                buf.append(ch)
            elif ch == ";":
                if "".join(buf).strip():
                    out.append("".join(buf).strip())
                buf = []
            else:
                buf.append(ch)
        if "".join(buf).strip():
            out.append("".join(buf).strip())
        return out

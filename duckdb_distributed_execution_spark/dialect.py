"""DuckDB-dialect SQL shim — run (a documented subset of) DuckDB
SQL unchanged on Spark.

The reference's users write DuckDB SQL against registered tables; the
server strips the catalog prefix and forwards the text
(``SanitizeQuery``, src/utils/catalog_utils.cpp:12-21). Spark SQL
already accepts most of that surface verbatim (Spark 4: ``SELECT *
EXCEPT``, ``GROUP BY ALL``, ``ILIKE``, ``LIMIT/OFFSET``, ``x div y``)
— this module source-rewrites the remaining syntactic deltas:

=====================  ==========================================
DuckDB                 rewritten to
=====================  ==========================================
``expr::TYPE``         ``CAST(expr AS TYPE)``
``a // b``             ``a div b`` (integer division)
``SELECT * EXCLUDE``   ``SELECT * EXCEPT``
``QUALIFY <pred>``     outer-query filter on a helper column
``dh.tbl``             ``tbl`` (catalog prefix strip, like
                       SanitizeQuery)
type aliases           VARCHAR/TEXT→STRING, BLOB→BINARY,
                       HUGEINT→DECIMAL(38,0), unsigned widening
                       (§1.2 of SURVEY.md), INT1/2/4/8, FLOAT4/8
function renames       list_value→array, list_contains→
                       array_contains, list_distinct→array_distinct,
                       list_sort→array_sort, list_position/indexof→
                       array_position, regexp_split_to_array→
                       split, quantile_cont→percentile
arg transforms         list_prepend(e,l)→array_insert(l,1,e);
                       list_slice(l,a,b)→slice(l,a,b-a+1);
                       string_split/str_split/string_to_array with a
                       LITERAL separator → split(s, re-escaped sep)
                       (structural, mask-based — nesting and
                       literal commas handled; non-literal
                       separators raise);
                       strftime(ts, 'fmt') → date_format with the C
                       directives translated to a Java pattern
                       (literal fmt only; unknown directives raise);
                       date_diff('part', a, b) → timestampdiff over
                       date_trunc'd endpoints (DuckDB counts PART
                       BOUNDARIES crossed, Spark's bare timestampdiff
                       counts elapsed units — truncating both
                       endpoints to the part start makes them agree);
                       epoch(ts) → unix_micros(ts)/1e6 (DuckDB epoch
                       returns fractional seconds as DOUBLE)
``a ^ b``, ``a ** b``  ``power(a, b)`` — in DuckDB ``^`` is
                       exponentiation; Spark's ``^`` is bitwise XOR,
                       so passing it through would silently change
                       semantics. Operands resolved structurally
                       (leftmost-first ⇒ left-associative, matching
                       DuckDB; an immediately preceding unary sign
                       binds to the operand: ``-2 ^ 2`` = 4 in
                       DuckDB and here). Unary ``~`` (bitwise NOT)
                       is untouched — same meaning on both engines.
``s ~ p`` / ``s !~ p`` ``s [NOT] RLIKE concat('^(?:', p, ')$')`` —
                       DuckDB's ``~`` is a FULL-string regex match
                       (regexp_full_match), Spark RLIKE is a
                       substring search, hence the anchor wrap.
                       ``~~``/``!~~`` → ``LIKE``/``NOT LIKE``.
                       Case-insensitive ``~*``/``!~*`` raise.
                       (Pattern DIALECT differences — DuckDB uses
                       RE2, Spark uses Java regex — are not
                       translated; the common subset behaves
                       identically.)
=====================  ==========================================

All rewriting is token-aware (string literals, quoted identifiers and
comments are never touched — including the QUALIFY scan, which runs
over a code-only mask of the statement). Anything outside the table
above is passed through for Spark to parse — unsupported DuckDB
constructs fail loudly at parse time rather than silently changing
meaning; QUALIFY inside a subquery raises ``NotImplementedError``.

Known ENGINE divergence (not a shim issue — found by the SQL fuzzer):
GROUPING SETS/ROLLUP/CUBE over an EMPTY input relation: DuckDB emits
the grand-total ``()`` grouping-set row (one row, aggregates over
zero rows — the standard's behavior, matching a plain global
aggregate); Spark's Expand-based implementation emits no rows at
all. Plain global aggregates agree (both emit one row). Queries whose
grouping-set input can be empty should not rely on the () row.

Catalog-prefix stripping is alias-aware (stricter than the
reference's ``SanitizeQuery``, src/utils/catalog_utils.cpp:12-21,
which strips ``dh.`` even inside string literals): normally any
``dh.`` qualifier in code spans is stripped, but when the query
itself declares a table alias named ``dh`` (``FROM tbl dh``), the
strip restricts itself to table positions (after FROM/JOIN/INTO/
UPDATE/TABLE or a FROM-list comma) so ``SELECT dh.x FROM tbl dh``
keeps its alias references intact.
"""

from __future__ import annotations

import re

# DuckDB type name → Spark SQL type name (SURVEY §1.2 widening rules).
TYPE_ALIASES = {
    "varchar": "STRING",
    "text": "STRING",
    "bpchar": "STRING",
    "blob": "BINARY",
    "bytea": "BINARY",
    "bool": "BOOLEAN",
    "logical": "BOOLEAN",
    "int1": "TINYINT",
    "int2": "SMALLINT",
    "int4": "INT",
    "int8": "BIGINT",
    "signed": "INT",
    "float4": "FLOAT",
    "float8": "DOUBLE",
    "real": "FLOAT",
    "utinyint": "SMALLINT",
    "usmallint": "INT",
    "uinteger": "BIGINT",
    "ubigint": "DECIMAL(20,0)",
    "hugeint": "DECIMAL(38,0)",
    "uhugeint": "DECIMAL(38,0)",
}

FUNCTION_RENAMES = {
    "list_value": "array",
    "list_pack": "array",
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "list_distinct": "array_distinct",
    "list_sort": "array_sort",
    "list_reverse": "reverse",
    "list_append": "array_append",
    # list_prepend / list_slice / string_split(literal sep) need
    # ARGUMENT transforms, not renames — handled structurally by
    # _rewrite_arg_calls. list_position / list_indexof return 0 on
    # miss in both engines (verified), so they are plain renames.
    "list_position": "array_position",
    "list_indexof": "array_position",
    "array_length": "size",
    "regexp_split_to_array": "split",
    "str_split_regex": "split",
    "quantile_cont": "percentile",
    "stddev_pop": "stddev_pop",  # identity; documents the audited set
}

_CAST_TARGET = r"[A-Za-z_][A-Za-z_0-9]*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?"


def _split_tokens(sql: str) -> list[tuple[str, str]]:
    """Split into (kind, text) spans where kind is 'code', 'str'
    (single-quoted literal), 'qid' (double-quoted identifier or
    backtick identifier) or 'comment'. Rewrites only apply to 'code'
    spans."""
    spans: list[tuple[str, str]] = []
    i, n = 0, len(sql)
    buf = []

    def flush():
        if buf:
            spans.append(("code", "".join(buf)))
            buf.clear()

    while i < n:
        c = sql[i]
        if c == "'":
            flush()
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                if sql[j] == "'":
                    break
                j += 1
            spans.append(("str", sql[i : j + 1]))
            i = j + 1
        elif c == '"' or c == "`":
            flush()
            j = sql.find(c, i + 1)
            j = n - 1 if j == -1 else j
            spans.append(("qid", sql[i : j + 1]))
            i = j + 1
        elif c == "-" and sql[i : i + 2] == "--":
            flush()
            j = sql.find("\n", i)
            j = n if j == -1 else j
            spans.append(("comment", sql[i:j]))
            i = j
        elif c == "/" and sql[i : i + 2] == "/*":
            flush()
            j = sql.find("*/", i)
            j = n - 2 if j == -1 else j
            spans.append(("comment", sql[i : j + 2]))
            i = j + 2
        else:
            buf.append(c)
            i += 1
    flush()
    return spans


def rename_column_ref(sql: str, old: str, new: str) -> str:
    """``sql`` with every reference to column ``old`` (any case) named
    ``new``: a bare identifier that is not a function name, or a
    quoted identifier. String literals and comments stay as written,
    so ``CHECK (q >= 0 AND s <> 'q')`` renames only the column."""
    bare = re.compile(rf"\b{re.escape(old)}\b(?!\s*\()", re.IGNORECASE)
    out = []
    for kind, text in _split_tokens(sql):
        if kind == "code":
            text = bare.sub(new, text)
        elif kind == "qid" and text[1:-1].lower() == old.lower():
            text = text[0] + new + text[-1]
        out.append(text)
    return "".join(out)


_CLAUSE_KW_RE = re.compile(
    r"\b(FROM|JOIN|INTO|UPDATE|TABLE|SELECT|WHERE|GROUP|HAVING|ORDER|"
    r"LIMIT|OFFSET|ON|USING|SET|WINDOW|QUALIFY|WHEN|THEN|ELSE|RETURNING)\b",
    re.IGNORECASE,
)
_TABLE_KW_TAIL_RE = re.compile(
    r"\b(?:FROM|JOIN|INTO|UPDATE|TABLE)\s*$", re.IGNORECASE
)


def _strip_catalog_table_positions(code: str, catalog: str) -> str:
    """Strip ``catalog.`` prefixes only at table positions: directly
    after a table-introducing keyword, or after a comma whose most
    recent clause keyword is FROM (a comma-separated FROM list).
    Commas in SELECT/GROUP BY/ORDER BY lists never trigger, so
    `alias.col` references to a same-named table alias survive."""
    pat = re.compile(
        rf"\b{re.escape(catalog)}\.(?=[A-Za-z_])", re.IGNORECASE
    )
    out, last = [], 0
    for m in pat.finditer(code):
        prefix = code[: m.start()]
        if _TABLE_KW_TAIL_RE.search(prefix):
            strip = True
        elif prefix.rstrip().endswith(","):
            kws = list(_CLAUSE_KW_RE.finditer(prefix))
            strip = bool(kws) and kws[-1].group(1).upper() == "FROM"
        else:
            strip = False
        if strip:
            out.append(code[last : m.start()])
            last = m.end()
    out.append(code[last:])
    return "".join(out)


def _rewrite_code(code: str, catalog: str | None,
                  table_pos_only: bool = False) -> str:
    if catalog and table_pos_only:
        # The query declares a table alias with the catalog's name, so
        # a blanket strip would corrupt `alias.col` references. Strip
        # only where the qualifier follows a table-introducing keyword,
        # or a comma whose enclosing clause is FROM (a comma in a
        # SELECT/GROUP BY/ORDER BY list must NOT trigger — `SELECT o.k,
        # dh.v FROM ...` keeps the alias reference intact).
        code = _strip_catalog_table_positions(code, catalog)
    elif catalog:
        code = re.sub(
            rf"\b{re.escape(catalog)}\.(?=[A-Za-z_])", "", code
        )
    code = _rewrite_casts(code)
    code = re.sub(r"(?<=[\w\s)])//(?=[\w\s(])", " div ", code)
    code = re.sub(r"\bEXCLUDE\b", "EXCEPT", code, flags=re.IGNORECASE)
    for old, new in FUNCTION_RENAMES.items():
        if old != new:
            code = re.sub(rf"\b{old}\s*\(", f"{new}(", code,
                          flags=re.IGNORECASE)
    return code


_FILL_STR = "\x01"
_FILL_COMMENT = "\x02"

# A bare keyword cannot be a cast operand — reaching one means the
# real operand was absent (e.g. "SELECT /* c */::INT").
_NON_OPERAND_KEYWORDS = frozenset(
    "SELECT FROM WHERE AND OR NOT GROUP BY HAVING ORDER LIMIT OFFSET "
    "JOIN ON AS UNION ALL DISTINCT CASE WHEN THEN ELSE END IN IS "
    "BETWEEN LIKE ILIKE EXISTS VALUES SET INSERT UPDATE DELETE".split()
)


def _build_mask(sql: str) -> str:
    """Length-preserving structural mask: code chars verbatim, string/
    quoted-identifier chars → \\x01, comment chars → \\x02. Regex and
    paren scans over the mask can never match inside non-code spans,
    while indices remain valid for the original text."""
    parts = []
    for kind, text in _split_tokens(sql):
        if kind == "code":
            parts.append(text)
        elif kind == "comment":
            parts.append(_FILL_COMMENT * len(text))
        else:
            parts.append(_FILL_STR * len(text))
    return "".join(parts)


# Calls whose Spark twin needs argument REORDERING or arithmetic, not
# just a rename (semantics verified side-by-side on both engines):
#   list_prepend(e, l)   → array_insert(l, 1, e)
#   list_slice(l, a, b)  → slice(l, a, (b)-(a)+1)   (1-based inclusive
#        → start+length; positive indices — the audited subset; DuckDB
#        negative-index slicing is NOT translated and should not be
#        fed through the shim)
def _split_literal_sep(args: list[str]) -> str:
    """``string_split(s, '<literal>')`` → ``split(s, '<re-escaped>')``:
    DuckDB splits on a LITERAL separator, Spark's split takes a Java
    regex — translatable only when the separator is a literal we can
    escape at transpile time. A non-literal separator raises (fail
    loudly, never silently change meaning). Backslashes introduced by
    the escaping are doubled for Spark's C-style string literals."""
    sep = args[1].strip()
    if not (len(sep) >= 2 and sep[0] == "'" and sep[-1] == "'"):
        raise NotImplementedError(
            "string_split with a non-literal separator is not translatable "
            f"(Spark split takes a regex): {args[1]!r}"
        )
    content = sep[1:-1].replace("''", "'")
    escaped = re.escape(content).replace("\\", "\\\\").replace("'", "''")
    return f"split({args[0]}, '{escaped}')"


# C strftime directive → Java SimpleDateFormat/DateTimeFormatter
# pattern piece (the subset whose OUTPUT is verified identical on
# both engines; anything else raises rather than guessing).
_STRFTIME_MAP = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd",
    "H": "HH", "I": "hh", "M": "mm", "S": "ss",
    "f": "SSSSSS", "j": "DDD", "p": "a",
    "A": "EEEE", "a": "EEE", "B": "MMMM", "b": "MMM",
    "%": "%",
}


def _strftime_fmt(args: list[str]) -> str:
    """``strftime(ts, '<literal C fmt>')`` → ``date_format(ts,
    '<Java pattern>')``. Literal (non-directive) LETTERS are quoted
    for the Java pattern; a non-literal format raises."""
    fmt = args[1].strip()
    if not (len(fmt) >= 2 and fmt[0] == "'" and fmt[-1] == "'"):
        raise NotImplementedError(
            f"strftime with a non-literal format is not translatable: {args[1]!r}"
        )
    content = fmt[1:-1].replace("''", "'")
    out: list[str] = []
    i = 0
    while i < len(content):
        c = content[i]
        if c == "%":
            if i + 1 >= len(content):
                raise NotImplementedError("dangling '%' in strftime format")
            d = content[i + 1]
            piece = _STRFTIME_MAP.get(d)
            if piece is None:
                raise NotImplementedError(
                    f"strftime directive %{d} is not translated"
                )
            out.append(piece)
            i += 2
        elif c.isalpha():
            # Literal letter — must be quoted in a Java pattern.
            j = i
            while j < len(content) and content[j].isalpha():
                j += 1
            out.append("'" + content[i:j] + "'")
            i = j
        elif c == "'":
            out.append("''")  # literal quote in Java pattern
            i += 1
        else:
            out.append(c)
            i += 1
    # Escape for the surrounding SQL single-quoted literal.
    sql_lit = "".join(out).replace("'", "''")
    return f"date_format({args[0]}, '{sql_lit}')"


_DATE_PARTS = {
    "year": "YEAR", "years": "YEAR", "y": "YEAR", "yr": "YEAR",
    "quarter": "QUARTER", "quarters": "QUARTER",
    "month": "MONTH", "months": "MONTH", "mon": "MONTH",
    "week": "WEEK", "weeks": "WEEK", "w": "WEEK",
    "day": "DAY", "days": "DAY", "d": "DAY",
    "hour": "HOUR", "hours": "HOUR", "h": "HOUR", "hr": "HOUR",
    "minute": "MINUTE", "minutes": "MINUTE", "min": "MINUTE",
    "second": "SECOND", "seconds": "SECOND", "s": "SECOND", "sec": "SECOND",
    "millisecond": "MILLISECOND", "milliseconds": "MILLISECOND",
    "ms": "MILLISECOND",
    "microsecond": "MICROSECOND", "microseconds": "MICROSECOND",
    "us": "MICROSECOND",
}


def _date_diff(args: list[str]) -> str:
    """``date_diff('part', a, b)`` → ``timestampdiff(PART,
    date_trunc('PART', a), date_trunc('PART', b))``. DuckDB counts
    PART BOUNDARIES crossed between a and b; Spark's bare
    timestampdiff counts fully-elapsed units — truncating both
    endpoints to the part start reconciles them (verified
    side-by-side for every part in tests/test_dialect.py)."""
    part_lit = args[0].strip()
    if not (len(part_lit) >= 2 and part_lit[0] == "'" and part_lit[-1] == "'"):
        raise NotImplementedError(
            f"date_diff with a non-literal part is not translatable: {args[0]!r}"
        )
    part = _DATE_PARTS.get(part_lit[1:-1].lower())
    if part is None:
        raise NotImplementedError(
            f"date_diff part {part_lit} is not translated"
        )
    return (
        f"timestampdiff({part}, date_trunc('{part}', {args[1]}), "
        f"date_trunc('{part}', {args[2]}))"
    )


_ARG_REWRITES: dict[str, tuple[int, "callable"]] = {
    "list_prepend": (2, lambda a: f"array_insert({a[1]}, 1, {a[0]})"),
    "list_slice": (3, lambda a: f"slice({a[0]}, {a[1]}, ({a[2]}) - ({a[1]}) + 1)"),
    "string_split": (2, _split_literal_sep),
    "str_split": (2, _split_literal_sep),
    "string_to_array": (2, _split_literal_sep),
    "strftime": (2, _strftime_fmt),
    "date_diff": (3, _date_diff),
    "datediff": (3, _date_diff),
    # DuckDB epoch() returns fractional seconds as DOUBLE; Spark's
    # unix_timestamp() truncates, so go through microseconds.
    "epoch": (1, lambda a: f"(unix_micros({a[0]}) / CAST(1000000 AS DOUBLE))"),
}


def _rewrite_arg_calls(sql: str) -> str:
    """Rewrite the ``_ARG_REWRITES`` calls over the structural mask:
    the call is located in code spans only, its argument list split at
    top-level commas (bracket depth counted on the mask, so commas in
    literals or nested calls never split), and the Spark form emitted.
    Outermost-first; nested occurrences are picked up on the next
    scan over the rewritten text."""
    pat = re.compile(
        r"\b(" + "|".join(_ARG_REWRITES) + r")\s*\(", re.IGNORECASE
    )
    while True:
        mask = _build_mask(sql)
        m = pat.search(mask)
        if m is None:
            return sql
        name = m.group(1).lower()
        depth = 0
        close = -1
        for j in range(m.end() - 1, len(mask)):
            if mask[j] == "(":
                depth += 1
            elif mask[j] == ")":
                depth -= 1
                if depth == 0:
                    close = j
                    break
        if close < 0:
            raise NotImplementedError(
                f"unbalanced parens in {name}() call: " + sql[m.start():][:80]
            )
        inner = sql[m.end(): close]
        inner_mask = mask[m.end(): close]
        args, d, last = [], 0, 0
        for idx, ch in enumerate(inner_mask):
            if ch in "([":
                d += 1
            elif ch in ")]":
                d -= 1
            elif ch == "," and d == 0:
                args.append(inner[last:idx])
                last = idx + 1
        args.append(inner[last:])
        args = [a.strip() for a in args]
        arity, fn = _ARG_REWRITES[name]
        if len(args) != arity:
            raise NotImplementedError(
                f"{name}() expects {arity} args, got {len(args)}: "
                + sql[m.start(): close + 1][:80]
            )
        sql = sql[: m.start()] + fn(args) + sql[close + 1:]


def _operand_back(mask: str, i: int) -> int:
    """Start index of the operand ENDING at mask index ``i`` (i points
    at its last non-space char): walks (...)/[...] trailers
    right-to-left, then the base identifier / literal / bare group —
    the same shape the cast rewrite resolves. Returns the start, or
    raises if nothing resolvable precedes."""
    pos = i
    while True:
        c = mask[pos]
        if c in ")]":
            open_ch = "(" if c == ")" else "["
            depth = 0
            j = pos
            while j >= 0:
                if mask[j] == c:
                    depth += 1
                elif mask[j] == open_ch:
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            if j < 0:
                raise NotImplementedError(
                    "unbalanced brackets scanning operand"
                )
            if j == 0:
                return 0
            if mask[j - 1] in ")]":
                pos = j - 1
                continue
            if mask[j - 1].isalnum() or mask[j - 1] in "_$.":
                k = j - 1
                while k >= 0 and (mask[k].isalnum() or mask[k] in "_$."):
                    k -= 1
                return k + 1
            return j
        if c == _FILL_STR:
            j = pos
            while j >= 0 and mask[j] == _FILL_STR:
                j -= 1
            return j + 1
        j = pos
        while j >= 0 and (mask[j].isalnum() or mask[j] in "_$."):
            j -= 1
        return j + 1


def _operand_fwd(mask: str, i: int) -> tuple[int, int]:
    """(start, end_exclusive) of the operand BEGINNING at or after
    mask index ``i``: skips whitespace/comments, takes an optional
    unary sign, then a literal / identifier / parenthesized group,
    then any (...)/[...] trailers."""
    n = len(mask)
    while i < n and (mask[i].isspace() or mask[i] == _FILL_COMMENT):
        i += 1
    if i >= n:
        raise NotImplementedError("operator with no right operand")
    start = i
    if mask[i] in "+-":
        i += 1
        while i < n and (mask[i].isspace() or mask[i] == _FILL_COMMENT):
            i += 1
    if i >= n:
        raise NotImplementedError("operator with no right operand")
    c = mask[i]
    if c == _FILL_STR:
        while i < n and mask[i] == _FILL_STR:
            i += 1
    elif c == "(":
        depth = 0
        while i < n:
            if mask[i] == "(":
                depth += 1
            elif mask[i] == ")":
                depth -= 1
                if depth == 0:
                    i += 1
                    break
            i += 1
        else:
            raise NotImplementedError("unbalanced parens in right operand")
    elif c.isalnum() or c in "_$":
        while i < n and (mask[i].isalnum() or mask[i] in "_$."):
            i += 1
    else:
        raise NotImplementedError(
            f"cannot resolve right operand starting at {c!r}"
        )
    # Trailers: calls/subscripts directly following (allow spaces
    # before an opening paren — function call style).
    while True:
        j = i
        while j < n and (mask[j].isspace() or mask[j] == _FILL_COMMENT):
            j += 1
        if j < n and mask[j] in "([":
            open_ch, close_ch = mask[j], ")" if mask[j] == "(" else "]"
            depth = 0
            while j < n:
                if mask[j] == open_ch:
                    depth += 1
                elif mask[j] == close_ch:
                    depth -= 1
                    if depth == 0:
                        j += 1
                        break
                j += 1
            else:
                raise NotImplementedError("unbalanced trailer in operand")
            i = j
        else:
            break
    return start, i


# Characters after which a '-'/'+' is a unary sign, not a binary op.
_SIGN_CONTEXT = set("(,=<>+-*/%|&^")


def _prev_is_operand(mask: str, k: int) -> bool:
    """True if mask position ``k`` (a non-space char) ends an operand
    — an identifier/number/literal/closing bracket — as opposed to an
    operator, punctuation, or a bare SQL keyword (``SELECT -2``,
    ``WHERE ~x`` …: the word before the sign is a keyword, so what
    follows is unary)."""
    if k < 0:
        return False
    c = mask[k]
    if c in ")]" or c == _FILL_STR:
        return True
    if not (c.isalnum() or c in "_$"):
        return False
    j = k
    while j >= 0 and (mask[j].isalnum() or mask[j] in "_$."):
        j -= 1
    word = mask[j + 1 : k + 1]
    return word.upper() not in _NON_OPERAND_KEYWORDS


def _rewrite_power_ops(sql: str) -> str:
    """``a ^ b`` / ``a ** b`` → ``power(a, b)``; leftmost-first ⇒
    left-associative like DuckDB (``2 ^ 3 ^ 2`` = 64). An immediately
    preceding unary sign joins the left operand (``-2 ^ 2`` = 4)."""
    pat = re.compile(r"\*\*|\^")
    while True:
        mask = _build_mask(sql)
        m = pat.search(mask)
        if m is None:
            return sql
        i = m.start() - 1
        while i >= 0 and (mask[i].isspace() or mask[i] == _FILL_COMMENT):
            i -= 1
        if i < 0:
            raise NotImplementedError("'^' with no left operand")
        lstart = _operand_back(mask, i)
        # Fold a unary sign into the left operand (DuckDB parses
        # -2 ^ 2 as (-2) ^ 2).
        k = lstart - 1
        while k >= 0 and (mask[k].isspace() or mask[k] == _FILL_COMMENT):
            k -= 1
        if k >= 0 and mask[k] in "+-":
            k2 = k - 1
            while k2 >= 0 and (mask[k2].isspace() or mask[k2] == _FILL_COMMENT):
                k2 -= 1
            if k2 < 0 or mask[k2] in _SIGN_CONTEXT or not _prev_is_operand(mask, k2):
                lstart = k
        rstart, rend = _operand_fwd(mask, m.end())
        left = sql[lstart : i + 1]
        right = sql[rstart:rend]
        sql = sql[:lstart] + f"power({left}, {right})" + sql[rend:]


def _rewrite_regex_ops(sql: str) -> str:
    """Postgres-style regex/LIKE operators → Spark predicates.
    ``~``/``!~`` are FULL matches in DuckDB, so the pattern operand is
    anchor-wrapped via concat (works for non-literal patterns too);
    ``~~``/``!~~`` are plain LIKE aliases. Unary ``~`` (bitwise NOT —
    no left operand) is left alone: same meaning on both engines."""
    pat = re.compile(r"!~~|~~|!~\*|~\*|!~|~")
    search_from = 0
    while True:
        mask = _build_mask(sql)
        m = pat.search(mask, search_from)
        if m is None:
            return sql
        op = m.group(0)
        if op in ("~*", "!~*"):
            raise NotImplementedError(
                "case-insensitive regex match (~* / !~*) is not translated; "
                "use regexp_matches with a (?i) flag explicitly"
            )
        i = m.start() - 1
        while i >= 0 and (mask[i].isspace() or mask[i] == _FILL_COMMENT):
            i -= 1
        binary = _prev_is_operand(mask, i)
        if not binary:
            if op in ("~~", "!~~", "!~"):
                raise NotImplementedError(f"'{op}' with no left operand")
            search_from = m.end()  # unary bitwise NOT — leave as-is
            continue
        if op == "~~":
            sql = sql[: m.start()] + " LIKE " + sql[m.end():]
            continue
        if op == "!~~":
            sql = sql[: m.start()] + " NOT LIKE " + sql[m.end():]
            continue
        rstart, rend = _operand_fwd(mask, m.end())
        rhs = sql[rstart:rend]
        kw = " RLIKE " if op == "~" else " NOT RLIKE "
        sql = (
            sql[: m.start()]
            + kw
            + f"concat('^(?:', {rhs}, ')$')"
            + sql[rend:]
        )


def _rewrite_casts_masked(sql: str) -> str:
    """``operand::TYPE`` → ``CAST(operand AS TYPE)`` over the WHOLE
    statement via the structural mask, so the operand may freely cross
    literal boundaries — ``f(l, 'x')::INT``, ``'2024-01-01'::DATE``,
    chains ``x::INT::VARCHAR`` — cases the old per-code-span scan
    could not see (it mangled a call operand whose parens enclosed a
    literal). Paren balancing counts only code parens (literal parens
    are masked); a ``::`` inside a literal or comment never matches."""
    pat = re.compile(rf"::\s*({_CAST_TARGET})")
    while True:
        mask = _build_mask(sql)
        m = pat.search(mask)
        if m is None:
            return sql
        i = m.start() - 1
        while i >= 0 and (mask[i].isspace() or mask[i] == _FILL_COMMENT):
            i -= 1
        if i < 0:
            raise NotImplementedError(
                "'::' cast with no resolvable operand: " + sql[: m.end()][-80:]
            )
        # Walk the operand's trailers right-to-left: any sequence of
        # (...) call/group and [...] subscript suffixes, then the base
        # (identifier, literal, or bare group) — so a[1]::T,
        # f(x,'s')[2]::T and (e)::T all resolve.
        pos = i
        start = None
        while start is None:
            c = mask[pos]
            if c in ")]":
                open_ch = "(" if c == ")" else "["
                depth = 0
                j = pos
                while j >= 0:
                    if mask[j] == c:
                        depth += 1
                    elif mask[j] == open_ch:
                        depth -= 1
                        if depth == 0:
                            break
                    j -= 1
                if j < 0:
                    raise NotImplementedError(
                        "unbalanced brackets before '::' cast: "
                        + sql[: m.end()][-80:]
                    )
                if j == 0:
                    start = 0
                elif mask[j - 1] in ")]":
                    pos = j - 1  # another trailer precedes
                elif mask[j - 1].isalnum() or mask[j - 1] in "_$.":
                    # function name / subscripted base identifier
                    k = j - 1
                    while k >= 0 and (mask[k].isalnum() or mask[k] in "_$."):
                        k -= 1
                    start = k + 1
                else:
                    start = j  # bare parenthesized group
            elif c == _FILL_STR:
                # The operand IS a literal / quoted identifier.
                j = pos
                while j >= 0 and mask[j] == _FILL_STR:
                    j -= 1
                start = j + 1
            else:
                j = pos
                while j >= 0 and (mask[j].isalnum() or mask[j] in "_$."):
                    j -= 1
                start = j + 1
        operand = sql[start : i + 1]
        if not operand.strip() or operand.upper() in _NON_OPERAND_KEYWORDS:
            raise NotImplementedError(
                "'::' cast with no resolvable operand in this context: "
                + sql[: m.end()][-80:]
            )
        sql = (
            sql[:start]
            + f"CAST({operand} AS {_type_alias(m.group(1))})"
            + sql[m.end():]
        )


def _rewrite_casts(code: str) -> str:
    """``operand::TYPE`` → ``CAST(operand AS TYPE)``. The operand is
    either a (dotted) identifier/number or a balanced parenthesized
    expression; chained casts unwrap left-to-right (innermost
    first). Literal operands are handled earlier by
    ``_rewrite_literal_casts``; a ``::`` with no operand left in this
    span is therefore unsupported input and raises."""
    pat = re.compile(rf"::\s*({_CAST_TARGET})")
    while True:
        m = pat.search(code)
        if m is None:
            return code
        # Scan backward from '::' for the operand start.
        end = m.start()
        i = end - 1
        while i >= 0 and code[i].isspace():
            i -= 1
        if i >= 0 and code[i] == ")":
            depth = 0
            j = i
            while j >= 0:
                if code[j] == ")":
                    depth += 1
                elif code[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            # Include a preceding function name: f(...)::T casts the
            # CALL result, so the operand is "f(...)" not "(...)".
            k = j - 1
            while k >= 0 and (code[k].isalnum() or code[k] in "_$."):
                k -= 1
            start = max(k + 1, 0)
        else:
            j = i
            while j >= 0 and (code[j].isalnum() or code[j] in "_$."):
                j -= 1
            start = j + 1
        operand = code[start : i + 1]
        if not operand.strip():
            raise NotImplementedError(
                "'::' cast with no resolvable operand in this context: "
                + code[: m.end()][-80:]
            )
        code = (
            code[:start]
            + f"CAST({operand} AS {_type_alias(m.group(1))})"
            + code[m.end():]
        )


def _type_alias(t: str) -> str:
    base = re.match(r"[A-Za-z_][A-Za-z_0-9]*", t).group(0)
    mapped = TYPE_ALIASES.get(base.lower())
    if mapped is None:
        return t
    return mapped + t[len(base):] if "(" not in mapped else mapped


def _rewrite_qualify(sql: str, mask: str) -> str:
    """``SELECT ... QUALIFY <pred> [ORDER BY/LIMIT tail]`` →
    helper-column filter in an outer query. Only top-level QUALIFY
    (not inside a subquery) is handled; the predicate may reference
    window functions directly, matching DuckDB semantics.

    ``mask`` is ``sql`` with every non-code span blanked to spaces
    (same length, aligned indices): the QUALIFY search, the paren
    depth counting and the tail ORDER BY/LIMIT scan all run over the
    mask, so literals/identifiers/comments can never match (ADVICE
    r1: the raw-text regex spliced apart a literal containing the
    word QUALIFY)."""
    matches = list(re.finditer(r"\bQUALIFY\b", mask, flags=re.IGNORECASE))
    if not matches:
        return sql
    m = matches[0]
    depth = mask[: m.start()].count("(") - mask[: m.start()].count(")")
    if depth != 0 or len(matches) > 1:
        raise NotImplementedError(
            "QUALIFY inside a subquery is not supported by the dialect "
            "shim; rewrite the inner query with a window + WHERE"
        )
    head, tail = sql[: m.start()], sql[m.end():]
    mtail = mask[m.end():]
    # Split the predicate from a trailing ORDER BY/LIMIT/OFFSET at
    # paren depth 0 only (an ORDER BY inside OVER(...) belongs to the
    # window spec, not the query tail) — scanned over the mask.
    split_at = None
    depth = 0
    for km in re.finditer(r"[()]|\b(?:ORDER\s+BY|LIMIT|OFFSET)\b", mtail,
                          flags=re.IGNORECASE):
        tok = km.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            split_at = km.start()
            break
    pred = tail[:split_at] if split_at is not None else tail
    suffix = tail[split_at:] if split_at is not None else ""
    sel_m = re.match(r"\s*SELECT\b", mask[: m.start()], flags=re.IGNORECASE)
    if not sel_m:
        raise NotImplementedError(
            "QUALIFY is only supported on a plain top-level SELECT"
        )
    inner = (
        head[: sel_m.end()]
        + " *, (" + pred.strip() + ") AS __qualify FROM ("
        + "SELECT " + head[sel_m.end():].strip()
        + ") __q_src"
    )
    # Window predicates must see the source columns; simplest correct
    # form: evaluate the original SELECT in a subquery, then compute
    # the qualify predicate over it — works when the predicate refers
    # to selected columns or windows over them (the DuckDB-idiomatic
    # usage: QUALIFY row_number() OVER (...) <= k references selected
    # columns).
    return (
        "SELECT * EXCEPT (__qualify) FROM (" + inner + ") __q "
        "WHERE __qualify " + suffix
    )


def transpile(sql: str, catalog: str | None = "dh") -> str:
    """Rewrite DuckDB-dialect SQL into Spark SQL (see module doc for
    the audited subset)."""
    sql = _rewrite_arg_calls(sql)
    sql = _rewrite_casts_masked(sql)
    sql = _rewrite_power_ops(sql)
    sql = _rewrite_regex_ops(sql)
    spans = _split_tokens(sql)
    # If the query itself declares a table alias named like the
    # catalog (`FROM tbl dh`), fall back to table-position-only
    # stripping so `dh.col` alias references survive.
    code_mask = "".join(t for k, t in spans if k == "code")
    alias_collision = bool(catalog) and bool(
        re.search(
            rf"(?:\b(?:FROM|JOIN)\s+|,\s*)[A-Za-z_][\w]*(?:\.[\w]+)*"
            rf"\s+(?:AS\s+)?{re.escape(catalog)}\b(?!\s*\.)",
            code_mask, re.IGNORECASE,
        )
    )
    spans = [
        (kind,
         _rewrite_code(text, catalog, table_pos_only=alias_collision)
         if kind == "code" else text)
        for kind, text in spans
    ]
    out = "".join(text for _, text in spans)
    mask = "".join(
        text if kind == "code" else " " * len(text) for kind, text in spans
    )
    return _rewrite_qualify(out, mask)

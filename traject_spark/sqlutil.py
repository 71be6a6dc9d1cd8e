"""Lexer-mode-robust SQL string literals, and column names as SQL text.

Spark has two string-literal lexer modes and they disagree about every
escape mechanism (probed on Spark 4.1.2, tests/test_semantics.py):

=====================================  ==========  =========
rendering of ``it's``                  escaped=F   escaped=T
=====================================  ==========  =========
``'it\\'s'``  (backslash escape)        ``it's``    ``it\\'s``
``'it''s'``   (quote doubling)          ``it's``    ``it''s``
``"it's"``    (double-quoted)           ``it's``    ``it's``
=====================================  ==========  =========

``spark.sql.parser.escapedStringLiterals=true`` (the Hive-compatible
mode some deployments set for regex ergonomics) interprets NEITHER
backslash escapes NOR doubled quotes — and the double-quoted rendering
above is itself unsafe because a THIRD knob,
``spark.sql.ansi.doubleQuotedIdentifiers=true``, turns ``"it's"`` into
a quoted IDENTIFIER (review r12). So the only rendering stable under
all three knobs is a single-quoted literal containing neither ``'``
nor ``\\``; strings carrying either become a ``concat(...)`` of such
pieces with ``chr(N)`` for the offenders — still a deterministic
foldable expression, usable anywhere a literal is (Catalyst
constant-folds it).

Every generated SQL text (the MARC extractor and semantic macros,
translation-map probes, the formats compiler) renders its embedded
literals through :func:`sql_str_lit` so a user map with apostrophes —
the languages map alone has 120 — behaves identically under both lexer
modes. The MARC renderer writes its source column with :func:`sql_ident`.
"""

from __future__ import annotations

import re as _re

__all__ = ["sql_str_lit", "sql_ident", "quote_ident", "ident_safe", "EMPTY_SQL"]

#: the empty ``array<string>``: the accumulator a rule starts from and the
#: "contributes nothing" value of every generated expression
EMPTY_SQL = "CAST(array() AS array<string>)"


def ident_safe(name: str) -> bool:
    """Gate for the generated-SQL fast paths: only plain identifiers.
    The generic Column path's ``F.col('a.b')`` resolves a NESTED field
    while backtick-quoted SQL text would read one dotted top-level
    column — the two paths must never read different columns, so
    anything beyond ``[A-Za-z_][A-Za-z0-9_]*`` must take the generic
    path (callers fall back to ``F.col(name)``)."""
    return bool(_re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name))


def quote_ident(name: str) -> str:
    """``name`` as ONE backtick-quoted SQL identifier: a dot stays part
    of the name, as with ``Column.alias``."""
    return "`" + name.replace("`", "``") + "`"


def sql_ident(name: str) -> str:
    """Render a column name as SQL text that resolves exactly like
    ``F.col(name)``: dots split the name into nested parts, a backticked
    part is taken literally (a doubled backtick inside it is one
    backtick), and every part is re-quoted with backticks. So
    ``"rec.marc"`` reads field ``marc`` of struct ``rec`` and
    ``"`a.b`"`` reads the top-level column named ``a.b``.

    Follows Spark's ``UnresolvedAttribute.parseAttributeName``; a name
    it would reject raises ``ValueError``."""
    parts: list[str] = []
    cur: list[str] = []
    in_tick = False
    i = 0
    while i < len(name):
        ch = name[i]
        if in_tick:
            if ch != "`":
                cur.append(ch)
            elif name[i + 1 : i + 2] == "`":
                cur.append("`")
                i += 1
            else:
                in_tick = False
                if i + 1 < len(name) and name[i + 1] != ".":
                    raise ValueError(f"invalid column name: {name!r}")
        elif ch == "`":
            if cur:
                raise ValueError(f"invalid column name: {name!r}")
            in_tick = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise ValueError(f"invalid column name: {name!r}")
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if in_tick:
        raise ValueError(f"invalid column name: {name!r}")
    parts.append("".join(cur))
    return ".".join(quote_ident(p) for p in parts)


def sql_str_lit(s: str) -> str:
    """Render ``s`` as a Spark SQL expression that evaluates to exactly
    ``s`` under both string-lexer modes (escapedStringLiterals on/off)
    AND under ansi.doubleQuotedIdentifiers (so never double-quoted).

    Plain strings become a bare single-quoted literal; strings
    containing ``'`` or ``\\`` become ``concat(piece, chr(39), ...)``.
    The result is always a foldable scalar expression — valid wherever
    a literal operand is.
    """
    if s == "":
        return "''"
    if "\\" not in s and "'" not in s:
        return "'" + s + "'"
    # split into maximal runs free of both troublemakers, splice the
    # offenders back in via chr() (a double quote is literal inside a
    # single-quoted literal under every knob — no special case)
    pieces: list[str] = []
    run: list[str] = []

    def flush() -> None:
        if run:  # runs are free of quotes and backslashes by split
            pieces.append("'" + "".join(run) + "'")
            run.clear()

    for ch in s:
        if ch == "\\":
            flush()
            pieces.append("chr(92)")
        elif ch == "'":
            flush()
            pieces.append("chr(39)")
        else:
            run.append(ch)
    flush()
    if len(pieces) == 1 and not pieces[0].startswith("chr("):
        return pieces[0]
    return "concat(" + ", ".join(pieces) + ")"


def default_lexer_active() -> bool:
    """True when the active session parses string literals with the
    DEFAULT lexer (spark.sql.parser.escapedStringLiterals unset/false).

    Since round 13 the generated-SQL fast paths render EVERY embedded
    literal — regexes included — through :func:`sql_str_lit`, so their
    compiled text is lexer-independent and no longer gates on this.
    Kept as a public probe for user code that embeds its own literals
    (e.g. custom translation-map SQL)."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return True
    try:
        v = s.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    except Exception:
        return True
    return (v or "false").lower() != "true"

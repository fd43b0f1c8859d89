"""SQL-text lexing shared by every HiveEngine rewrite.

One literal convention, Hive's (``parse/HiveLexer.g`` StringLiteral):
``'...'`` and ``"..."`` with backslash escapes; a backtick quotes an
identifier.  Every scanner here treats literal, identifier and comment
(``--`` to the end of the line, or ``/* ... */``) text as opaque, so a
``)``, ``,``, ``;`` or quote inside one never ends or starts anything.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import NamedTuple

_LITERAL = r"""'(?:[^'\\]|\\.)*'?|"(?:[^"\\]|\\.)*"?|--[^\n]*|/\*.*?\*/"""
#: string literals and comments (an unterminated literal runs to the end
#: of the text)
_LITERAL_RE = re.compile(_LITERAL, re.S)
#: the same plus backtick identifiers
_OPAQUE = _LITERAL + r"|`[^`]*`?"
_OPAQUE_RE = re.compile(_OPAQUE, re.S)


@lru_cache(maxsize=16)
def _tokens(delims: str) -> re.Pattern:
    """Opaque tokens, or any one of the single characters in delims."""
    return re.compile(_OPAQUE + "|[" + re.escape(delims) + "]", re.S)


def _pattern(p) -> re.Pattern:
    return p if isinstance(p, re.Pattern) else re.compile(p, re.IGNORECASE)


def close_paren(s: str, i: int, open: str = "(", close: str = ")") -> int:
    """Index of the ``close`` that balances the ``open`` at s[i]
    (``open="<", close=">"`` scans complex type brackets)."""
    depth = 0
    for m in _tokens(open + close).finditer(s, i):
        t = m.group()
        if t == open:
            depth += 1
        elif t == close:
            depth -= 1
            if depth == 0:
                return m.start()
    raise ValueError("unbalanced parentheses in query text")


def split_top_level(s: str, angle: bool = False) -> list[str]:
    """Split on top-level commas; parts are stripped and empty parts
    dropped.  ``angle=True`` also nests ``<...>``, for column-spec lists
    holding complex types (``s STRUCT<c1:STRING, c2:STRING>``); it is
    opt-in because ``<`` is a comparison operator in expression lists."""
    opens, closes = ("(<", ")>") if angle else ("(", ")")
    out, depth, last = [], 0, 0
    for m in _tokens(opens + closes + ",").finditer(s):
        t = m.group()
        if t in opens:
            depth += 1
        elif t in closes:
            depth -= 1
        elif t == "," and depth == 0:
            out.append(s[last : m.start()].strip())
            last = m.end()
    out.append(s[last:].strip())
    return [p for p in out if p]


_COMMENT = re.compile(r"\s+COMMENT\s+'[^']*'", re.IGNORECASE)


def column_specs(s: str) -> list[tuple[str, str]]:
    """(name, type) of each ``name type [COMMENT '...']`` entry of a
    column list, backticks and comment dropped; an entry without a type
    is skipped."""
    out = []
    for spec in split_top_level(s, angle=True):
        parts = spec.split(None, 1)
        if len(parts) == 2:
            out.append((parts[0].strip("`"), _COMMENT.sub("", parts[1]).strip()))
    return out


def _top_level_view(s: str, pos: int) -> str:
    """s with only the text at paren depth 0 (relative to pos) left
    visible: nested text, comments and literal contents become spaces,
    parens stay, and the view ends at a ')' that leaves the level.
    Offsets are those of s."""
    out, depth, last = [" " * pos], 0, pos
    for m in _tokens("()").finditer(s, pos):
        seg = s[last : m.start()]
        out.append(seg if depth == 0 else " " * len(seg))
        t = m.group()
        if t == "(":
            depth += 1
        elif t == ")":
            if depth == 0:
                return "".join(out)
            depth -= 1
        elif t[0] in "'\"" and depth == 0:
            t = t[0] + " " * (len(t) - 1)
        elif t[0] != "`" or depth:
            t = " " * len(t)
        out.append(t)
        last = m.end()
    seg = s[last:]
    out.append(seg if depth == 0 else " " * len(seg))
    return "".join(out)


def search_top_level(pattern, s: str, pos: int = 0) -> re.Match | None:
    """First match of pattern at paren depth 0 (relative to pos) and
    outside every literal and comment, stopping at a ')' that leaves that level
    (``$`` matches there).  The match is taken on a masked copy of s:
    its offsets index s, its matched text is the masked text."""
    return _pattern(pattern).search(_top_level_view(s, pos), pos)


_AND = re.compile(r"\s+AND\s+", re.IGNORECASE)


def split_conjuncts(s: str) -> list[str]:
    """Split a condition on its top-level ANDs (an AND inside parens or a
    literal stays put); parts are stripped and empty parts dropped."""
    out, last = [], 0
    for m in _AND.finditer(_top_level_view(s, 0)):
        out.append(s[last : m.start()].strip())
        last = m.end()
    out.append(s[last:].strip())
    return [p for p in out if p]


def paren_depths(s: str) -> list[int | None]:
    """The paren depth before each offset of s, and at len(s); None at
    offsets inside a literal, identifier or comment.  A stray ``)`` does
    not take the depth below 0."""
    out, d, last = [], 0, 0
    for m in _tokens("()").finditer(s):
        out += [d] * (m.start() - last)
        t = m.group()
        if t in "()":
            out.append(d)
            d = d + 1 if t == "(" else max(0, d - 1)
        else:
            out += [None] * len(t)
        last = m.end()
    return out + [d] * (len(s) - last + 1)


_ADJACENT_QUOTES = re.compile(r"""['"]\s*['"]""")
_CLOSED_LITERAL = re.compile(r"""'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*\"""", re.S)


def concat_adjacent_literals(text: str) -> str:
    """HiveQL lexes ``'face''book'`` as TWO adjacent StringLiteral tokens
    and the parser CONCATENATES them ('facebook' — literal_string.q
    golden); Spark reads '' as an escaped quote.  Merge each run of
    adjacent literals (either quote style, any whitespace between) into
    one single-quoted literal, keeping backslash escapes."""
    if not _ADJACENT_QUOTES.search(text):
        return text
    toks = [
        m for m in _OPAQUE_RE.finditer(text)
        if _CLOSED_LITERAL.fullmatch(m.group())
    ]
    out, pos, i = [], 0, 0
    while i < len(toks):
        j = i
        while j + 1 < len(toks) and not text[
            toks[j].end() : toks[j + 1].start()
        ].strip():
            j += 1
        if j > i:
            body = "".join(t.group()[1:-1] for t in toks[i : j + 1])
            body = body.replace("\\'", "'").replace("'", "\\'")
            out += [text[pos : toks[i].start()], f"'{body}'"]
            pos = toks[j].end()
        i = j + 1
    out.append(text[pos:])
    return "".join(out)


def split_literals(s: str) -> list[str]:
    """Alternating [code, literal, code, ..., code] pieces of s; the
    string literals and comments sit at the odd indexes."""
    out, last = [], 0
    for m in _LITERAL_RE.finditer(s):
        out += [s[last : m.start()], m.group()]
        last = m.end()
    out.append(s[last:])
    return out


def sub_outside_quotes(pattern, repl, text: str) -> str:
    """re.sub applied only outside string literals and comments (a
    call-site rewrite must never corrupt ``SELECT 'map x using cat'``)."""
    pat = _pattern(pattern)
    return "".join(
        p if i % 2 else pat.sub(repl, p)
        for i, p in enumerate(split_literals(text))
    )


_OVER = re.compile(r"\s*OVER\s*\(", re.IGNORECASE)


class Call:
    """One ``name(...)`` call found by rewrite_calls: ``open``/``close``
    index its brackets in ``text``."""

    __slots__ = ("text", "match", "open", "close")

    def __init__(self, text: str, match: re.Match, brackets: str = "()"):
        self.text, self.match = text, match
        self.open = text.index(brackets[0], match.start())
        self.close = close_paren(text, self.open, *brackets)

    @property
    def start(self) -> int:
        return self.match.start()

    @property
    def inner(self) -> str:
        return self.text[self.open + 1 : self.close]

    @property
    def args(self) -> list[str]:
        return split_top_level(self.inner)

    def over(self) -> tuple[int, int] | None:
        """(open, close) paren offsets of an ``OVER (...)`` spec right
        after the call, or None."""
        om = _OVER.match(self.text, self.close + 1)
        if om is None:
            return None
        return om.end() - 1, close_paren(self.text, om.end() - 1)


def rewrite_calls(
    text: str, name_re, fn, open: str = "(", close: str = ")"
) -> str:
    """Rewrite each call matched by name_re (a pattern that ends at or
    before the call's ``open`` bracket) outside literals, identifiers and
    comments, left to right.
    ``fn(call)`` returns None to keep the call, the text replacing it, or
    ``(replacement, end)`` to replace text[call.start:end].  Scanning
    resumes after the kept or replaced span, so calls nested in a kept
    or replaced span are fn's to handle."""
    pat = _pattern(name_re)
    if not pat.search(text):
        return text
    quoted = [m.span() for m in _OPAQUE_RE.finditer(text)]
    out, pos = [], 0
    while True:
        m = pat.search(text, pos)
        if m is None:
            break
        lit = next((b for a, b in quoted if a <= m.start() < b), None)
        if lit is not None:
            out.append(text[pos:lit])
            pos = lit
            continue
        call = Call(text, m, open + close)
        r = fn(call)
        end = call.close + 1
        if isinstance(r, tuple):
            r, end = r
        out += [text[pos : m.start()], text[m.start() : end] if r is None else r]
        pos = end
    out.append(text[pos:])
    return "".join(out)


#: the words a table reference follows
_RELATION_WORDS = frozenset(
    "FROM JOIN TABLE INTO OVERWRITE UPDATE LIKE IN DESCRIBE DESC EXTENDED "
    "FORMATTED PARTITIONS TBLPROPERTIES".split()
)
_LAST_TOKEN = re.compile(r"(\w+|\S)\s*$")
_CLAUSE_OR_PAREN = re.compile(
    r"\b(?:SELECT|FROM|WHERE|GROUP|ORDER|SORT|CLUSTER|DISTRIBUTE|HAVING"
    r"|WINDOW|LIMIT|VALUES|SET|LATERAL)\b|[()]",
    re.IGNORECASE,
)
#: what may follow a FROM item that has no alias
_NOT_ALIAS = (
    "WHERE|GROUP|ORDER|SORT|CLUSTER|DISTRIBUTE|HAVING|WINDOW|LIMIT|JOIN"
    "|LEFT|RIGHT|FULL|INNER|CROSS|OUTER|SEMI|ANTI|NATURAL|ON|USING|UNION"
    "|INTERSECT|EXCEPT|MINUS|LATERAL|TABLESAMPLE|INSERT|SELECT|PIVOT|UNPIVOT"
)
_ALIAS = re.compile(
    rf"\s+(?:AS\b|`|(?!(?:{_NOT_ALIAS})\b)[A-Za-z_])", re.IGNORECASE
)


def _in_from_list(code: str, pos: int) -> bool:
    """True when the clause holding pos (same paren level) is a FROM."""
    depth = 0
    for m in reversed(list(_CLAUSE_OR_PAREN.finditer(code, 0, pos))):
        t = m.group()
        if t == ")":
            depth += 1
        elif t == "(":
            if depth == 0:
                return False
            depth -= 1
        elif depth == 0:
            return t.upper() == "FROM"
    return False


def sub_relation(text: str, name: str, repl: str) -> str:
    """Replace each unquoted, unqualified reference to table ``name``
    that stands where a table goes: after FROM, JOIN, TABLE, INTO, ...
    or a comma of a FROM list.  A column, alias or qualifier of that
    spelling stays; when the text qualifies a column with ``name``
    (``name.col``), a FROM or JOIN reference without an alias keeps
    ``name`` as its alias."""
    code = _OPAQUE_RE.sub(lambda m: " " * len(m.group()), text)
    word = rf"(?<![\w.]){re.escape(name)}"
    qualifies = re.search(word + r"\s*\.", code, re.IGNORECASE)
    out, last = [], 0
    for m in re.finditer(word + r"(?![\w.])", code, re.IGNORECASE):
        prev = _LAST_TOKEN.search(code, 0, m.start())
        tok = prev.group(1).upper() if prev else ""
        in_from = tok in ("FROM", "JOIN") or (
            tok == "," and _in_from_list(code, prev.start())
        )
        if not in_from and tok not in _RELATION_WORDS:
            continue
        alias = in_from and qualifies and not _ALIAS.match(text, m.end())
        out += [text[last : m.start()], repl + (" " + m.group() if alias else "")]
        last = m.end()
    out.append(text[last:])
    return "".join(out)


_WRITE_HEAD = re.compile(
    r"\s*(?:INSERT\s+(?P<mode>INTO|OVERWRITE)"
    r"(?:\s+TABLE|(?!\s+(?:LOCAL\s+)?DIRECTORY\b))"
    r"|LOAD\s+DATA\s[\s\S]*?\bINTO\s+TABLE"
    r"|ALTER\s+TABLE"
    r"|CREATE\s+TABLE(?:\s+IF\s+NOT\s+EXISTS)?)"
    r"\s+(?P<table>(?:`[^`]*`|[\w.])+)",
    re.IGNORECASE,
)
_PARTITION = re.compile(r"\s*PARTITION\s*\(", re.IGNORECASE)
_QUERY = re.compile(r"(?:SELECT|WITH|FROM)\b", re.IGNORECASE)


class WriteTarget(NamedTuple):
    """The table an INSERT, LOAD DATA, ALTER TABLE or CREATE TABLE
    statement writes."""

    verb: str  # INSERT, LOAD, ALTER or CREATE
    mode: str | None  # INTO or OVERWRITE, for INSERT
    table: str  # as written: backticks kept
    partition: str | None  # the ``PARTITION (...)`` clause as written
    rest: str  # the text after the table and its partition clause

    @property
    def spec(self) -> str | None:
        """The partition clause's inner text."""
        if self.partition is None:
            return None
        return self.partition[self.partition.index("(") + 1 : -1]

    @property
    def query(self) -> str | None:
        """The SELECT/WITH/FROM query an INSERT writes, if it has one."""
        return self.rest if _QUERY.match(self.rest) else None


def write_target(text: str) -> WriteTarget | None:
    """The write target of a statement, or None when it names none (an
    ``INSERT OVERWRITE [LOCAL] DIRECTORY`` writes no table)."""
    m = _WRITE_HEAD.match(text)
    if m is None:
        return None
    rest, part = text[m.end() :], None
    pm = _PARTITION.match(rest)
    if pm:
        try:
            close = close_paren(rest, pm.end() - 1)
        except ValueError:
            return None
        part, rest = rest[: close + 1].strip(), rest[close + 1 :]
    mode = m.group("mode")
    return WriteTarget(
        m.group().split()[0].upper(),
        mode and mode.upper(),
        m.group("table"),
        part,
        rest.strip(),
    )


def split_statements(script: str) -> list[str]:
    """Split a ';'-separated script into runnable statements (CliDriver
    processLine semantics: ';' inside a literal, identifier or comment is
    not a separator; whitespace/comment-only fragments are dropped)."""
    stmts, last = [], 0
    for m in _tokens(";").finditer(script):
        if m.group() == ";":
            stmts.append(script[last : m.start()])
            last = m.end()
    stmts.append(script[last:])

    def runnable(s: str) -> bool:
        # CliDriver tolerates trailing -- line and /* */ block comments
        bare = re.sub(r"--[^\n]*", "", s)
        bare = re.sub(r"/\*.*?\*/", "", bare, flags=re.S)
        return bool(bare.strip())

    return [s for s in stmts if runnable(s)]


_ESCAPES = {
    "\\": "\\", "'": "'", '"': '"', "a": "\a", "b": "\b",
    "f": "\f", "n": "\n", "r": "\r", "t": "\t", "v": "\v",
}
_ESCAPE_RE = re.compile(
    r"\\(x[0-9a-fA-F]{2}|u[0-9a-fA-F]{4}|U[0-9a-fA-F]{8}|[0-7]{1,3}|.)", re.S
)


def _unescape_one(m: re.Match) -> str:
    e = m.group(1)
    if e in _ESCAPES:
        return _ESCAPES[e]
    if e[0] in "01234567":
        return chr(int(e, 8))
    if len(e) > 1 and int(e[1:], 16) <= 0x10FFFF:
        return chr(int(e[1:], 16))
    return m.group()


def unescape(raw: str) -> str:
    """Decode the backslash escapes in a literal's body (``\\t``,
    ``\\001``, ``\\u0001``, ...).  An unknown escape stays literal: Hive's
    default null token ``\\N`` is a backslash and an N."""
    return _ESCAPE_RE.sub(_unescape_one, raw)


# ------------------------------------------------------------- partitions
#
# A partition is one value per partition key (metastore Partition.values).
# Spec text ``k='v', k2=2`` and the directory path ``k=v/k2=2`` are two
# spellings of the same (key, value) pairs: the parsers lowercase the
# keys and decode the values to the strings the metastore keeps.

_NUMERIC_SUFFIX = re.compile(r"[\d.+-]+[YSL]", re.IGNORECASE)
_QUOTED = re.compile(r"""'((?:[^'\\]|\\.)*)'|"((?:[^"\\]|\\.)*)\"""", re.S)


def partition_value(raw: str) -> str:
    """One partition-spec literal decoded as HiveParser does: a quoted
    literal loses its quotes and backslash escapes, a number its
    ``Y``/``S``/``L`` suffix (``110Y`` is ``110``)."""
    raw = raw.strip()
    m = _QUOTED.fullmatch(raw)
    if m:
        return unescape(m.group(1) if m.group(1) is not None else m.group(2))
    if _NUMERIC_SUFFIX.fullmatch(raw):
        return raw[:-1]
    return raw


def parse_partition_spec(text: str) -> list[tuple[str, str | None]]:
    """The (key, value) pairs of a ``PARTITION (...)`` clause's inner
    text, in order; a bare key (a dynamic partition) has value None."""
    out = []
    for item in split_top_level(text):
        key, eq, value = item.partition("=")
        key = key.strip().strip("`").lower()
        out.append((key, partition_value(value) if eq else None))
    return out


def sql_string(v: str) -> str:
    """v as a single-quoted literal, backslashes and quotes escaped."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def spec_sql(pairs) -> str:
    """Pairs rendered as spec text, `` `k`='v' ``; a None value renders
    the bare key."""
    return ", ".join(
        f"`{k}`" if v is None else f"`{k}`={sql_string(v)}" for k, v in pairs
    )


#: the characters FileUtils.escapePathName escapes in a partition path:
#: every control character plus the reserved list
_PATH_ESCAPE_CHARS = frozenset(
    [chr(c) for c in range(0x20)]
    + [chr(0x7F), '"', "#", "%", "'", "*", "/", ":", "=", "?", "\\",
       "{", "[", "]", "^"]
)
_PATH_ESCAPED = re.compile(r"%([0-9A-Fa-f]{2})")


def escape_path_name(s: str) -> str:
    """FileUtils.escapePathName: ``%XX`` for each reserved or control
    character, so a key or value can be a directory name."""
    return "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE_CHARS else c for c in s
    )


def unescape_path_name(s: str) -> str:
    """FileUtils.unescapePathName: decode every ``%XX``."""
    return _PATH_ESCAPED.sub(lambda m: chr(int(m.group(1), 16)), s)


def partition_path(pairs) -> str:
    """Pairs as the relative directory ``k=v/k2=v2``, both sides
    escaped."""
    return "/".join(
        f"{escape_path_name(k)}={escape_path_name(v)}" for k, v in pairs
    )


def parse_partition_path(path: str) -> list[tuple[str, str]]:
    """The (key, value) pairs of a partition path ``k=v/k2=v2`` (a
    ``SHOW PARTITIONS`` row, a directory under the table), unescaped."""
    out = []
    for seg in path.strip("/").split("/"):
        key, _, value = seg.partition("=")
        out.append((unescape_path_name(key).lower(), unescape_path_name(value)))
    return out

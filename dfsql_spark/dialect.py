"""dfsql dialect → Spark SQL rewriter.

The reference engine's SQL dialect has three observable quirks that
Spark's parser does not share (SURVEY.md §2.8); everything else in the
dialect (double-quoted string literals, backtick identifiers, clause
set) is already native to Spark with ANSI mode off.

1. ``LIKE`` is an **anchored Python regex**, not SQL ``%/_`` wildcards
   (reference: dfsql/functions.py:278-288 uses ``re.match``).  We
   rewrite ``x LIKE '<pat>'`` → ``x RLIKE '^(?:<pat>)'`` — ``re.match``
   anchors at the start only, so a leading anchor reproduces it
   exactly.  ``NOT LIKE`` → ``NOT RLIKE``.
2. ``^`` is **power**, not XOR (reference: dfsql/functions.py:244-248).
   We rewrite ``a ^ b`` → ``POWER(a, b)`` with proper operand
   extraction (identifiers, numbers, function calls, parenthesized
   groups, unary minus).
3. ``CAST(x AS <pandas-dtype>)`` uses pandas dtype names
   (reference: dfsql/base_data_source.py:30-33): ``str``/``int``/
   ``float``/``bool`` → Spark ``STRING``/``BIGINT``/``DOUBLE``/
   ``BOOLEAN`` (pandas ``int``/``float`` are 64-bit).

The rewriter is a token-level transform: we never need a full parse
because each quirk is locally recognizable.  This file is the entire
"custom dialect" layer — planning/optimization stays 100% in Catalyst.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

__all__ = ["rewrite", "tokenize", "Token", "CAST_TYPE_MAP"]

CAST_TYPE_MAP = {
    "str": "STRING",
    "string": "STRING",
    "object": "STRING",
    "int": "BIGINT",
    "int64": "BIGINT",
    "int32": "INT",
    "integer": "BIGINT",
    "float": "DOUBLE",
    "float64": "DOUBLE",
    "float32": "FLOAT",
    "bool": "BOOLEAN",
    "boolean": "BOOLEAN",
    "datetime64[ns]": "TIMESTAMP",
}

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|/\*.*?\*/)
  | (?P<squote>'(?:[^']|'')*')
  | (?P<dquote>"(?:[^"]|"")*")
  | (?P<bquote>`(?:[^`]|``)*`)
  | (?P<num>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
  | (?P<word>[A-Za-z_][A-Za-z_0-9$.]*)
  | (?P<op><>|!=|>=|<=|\|\||::|[-+*/%^=<>(),.;\[\]{}])
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class Token:
    kind: str  # ws | comment | squote | dquote | bquote | num | word | op
    text: str

    @property
    def upper(self) -> str:
        return self.text.upper()


def tokenize(sql: str) -> list[Token]:
    tokens: list[Token] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            # unknown char: pass through verbatim as an op token
            tokens.append(Token("op", sql[pos]))
            pos += 1
            continue
        tokens.append(Token(m.lastgroup, m.group()))
        pos = m.end()
    return tokens


def _significant(tokens: list[Token], i: int, step: int) -> int:
    """Index of next/prev non-ws, non-comment token, or -1."""
    i += step
    while 0 <= i < len(tokens):
        if tokens[i].kind not in ("ws", "comment"):
            return i
        i += step
    return -1


def _rewrite_like(tokens: list[Token]) -> list[Token]:
    i = 0
    while i < len(tokens):
        tok = tokens[i]
        if tok.kind == "word" and tok.upper == "LIKE":
            tokens[i] = Token("word", "RLIKE")
            nxt = _significant(tokens, i, +1)
            if nxt == -1:
                break
            if tokens[nxt].kind == "squote":
                pat = tokens[nxt].text[1:-1]
                tokens[nxt] = Token("squote", "'^(?:" + pat + ")'")
            elif tokens[nxt].kind == "dquote":
                # collapse the dquote escape ("" -> ") before converting
                # to a single-quoted literal, then re-escape for squote
                pat = tokens[nxt].text[1:-1].replace('""', '"')
                tokens[nxt] = Token("squote", "'^(?:" + pat.replace("'", "''") + ")'")
            else:
                # non-literal pattern (column / expression): anchor at
                # runtime so re.match semantics hold for every pattern
                # source — RLIKE CONCAT('^(?:', <expr>, ')').  The
                # operand is the FULL pattern expression up to the next
                # lower-precedence boundary (AND/OR/comma/closing
                # paren/comparison), so compound patterns like
                # ``col || '.*'`` or ``b ^ 2`` anchor as a whole —
                # subsequent rewrites (power) then apply inside the
                # CONCAT, not around it.
                end = _like_pattern_end(tokens, i)
                operand = tokens[nxt : end + 1]
                repl = (
                    [
                        Token("word", "CONCAT"),
                        Token("op", "("),
                        Token("squote", "'^(?:'"),
                        Token("op", ","),
                        Token("ws", " "),
                    ]
                    + operand
                    + [
                        Token("op", ","),
                        Token("ws", " "),
                        Token("squote", "')'"),
                        Token("op", ")"),
                    ]
                )
                tokens = tokens[:nxt] + repl + tokens[end + 1 :]
        i += 1
    return tokens


_ATOM_KINDS = ("squote", "dquote", "bquote", "num", "word")

# words that can directly precede '(' without being a function name
_NON_FUNCTION_KEYWORDS = frozenset(
    """select where and or not from on in between case when then else end
    having group by order limit offset join inner left right full outer
    cross union all distinct as is null like rlike exists any some values
    insert update delete set""".split()
)


def _left_operand_start(tokens: list[Token], i: int) -> int:
    """Start index of the operand ending just before token ``i`` (the
    ``^`` operator).  Walks back over a primary expression: balanced
    parens/brackets, then an optional preceding function name."""
    j = _significant(tokens, i, -1)
    if j == -1:
        return i
    if tokens[j].text in (")", "]"):
        depth = 0
        while j >= 0:
            if tokens[j].text in (")", "]"):
                depth += 1
            elif tokens[j].text in ("(", "["):
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        # function call: name immediately before '(' (but not a keyword)
        k = _significant(tokens, j, -1)
        if (
            k != -1
            and tokens[k].kind == "word"
            and tokens[k].text.lower() not in _NON_FUNCTION_KEYWORDS
        ):
            j = k
        return j
    if tokens[j].kind in _ATOM_KINDS:
        return j
    return j + 1


def _right_operand_end(tokens: list[Token], i: int) -> int:
    """End index (inclusive) of the operand starting just after ``i``."""
    j = _significant(tokens, i, +1)
    if j == -1:
        return i
    # unary +/- prefix
    if tokens[j].kind == "op" and tokens[j].text in ("-", "+"):
        j = _significant(tokens, j, +1)
        if j == -1:
            return len(tokens) - 1
    if tokens[j].kind == "word":
        nxt = _significant(tokens, j, +1)
        if nxt != -1 and tokens[nxt].text == "(":
            j = nxt  # function call — consume the arg list below
        else:
            return j
    if tokens[j].text in ("(", "["):
        depth = 0
        while j < len(tokens):
            if tokens[j].text in ("(", "["):
                depth += 1
            elif tokens[j].text in (")", "]"):
                depth -= 1
                if depth == 0:
                    return j
            j += 1
        return len(tokens) - 1
    return j


# tokens that end a LIKE pattern expression: the pattern binds tighter
# than comparisons/logical connectives and clause keywords, and a
# depth-0 comma / closing paren / semicolon closes the enclosing
# context.
_LIKE_BOUNDARY_OPS = frozenset((",", ")", "]", ";", "=", "<", ">", "<=", ">=", "<>", "!="))
_LIKE_BOUNDARY_WORDS = frozenset(
    """and or not when then else end from where group order having limit
    offset union except intersect join on as is in between like rlike
    escape asc desc""".split()
)


def _like_pattern_end(tokens: list[Token], i: int) -> int:
    """Index (inclusive) of the last token of the pattern expression
    following the LIKE at ``i`` — the whole arithmetic/concat
    expression, stopping at a lower-precedence boundary."""
    j = _significant(tokens, i, +1)
    if j == -1:
        return i
    depth = 0
    last = j
    prev_atom = False  # last depth-0 token completed an operand
    while j < len(tokens):
        t = tokens[j]
        if t.kind in ("ws", "comment"):
            j += 1
            continue
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            if depth == 0:
                break
            depth -= 1
            if depth == 0:
                prev_atom = True
        elif depth == 0:
            if t.kind == "op" and t.text in _LIKE_BOUNDARY_OPS:
                break
            if t.kind == "word" and t.text.lower() in _LIKE_BOUNDARY_WORDS:
                break
            if t.kind in _ATOM_KINDS:
                # two adjacent atoms with no operator between them: the
                # second can only be a bare (no-AS) output alias — stop
                # before it rather than swallowing it into the pattern.
                if prev_atom:
                    break
                prev_atom = True
            else:
                prev_atom = False
        last = j
        j += 1
    return last


def _rewrite_power(tokens: list[Token]) -> list[Token]:
    # right-to-left so chained a^b^c becomes POWER(a, POWER(b, c))
    # (right-associative, matching Python's ** which backs the reference)
    while True:
        idx = -1
        for i, tok in enumerate(tokens):
            if tok.kind == "op" and tok.text == "^":
                idx = i  # keep last (rightmost) — rewrite that first
        if idx == -1:
            return tokens
        lo = _left_operand_start(tokens, idx)
        hi = _right_operand_end(tokens, idx)
        left = tokens[lo:idx]
        right = tokens[idx + 1 : hi + 1]
        replacement = (
            [Token("word", "POWER"), Token("op", "(")]
            + left
            + [Token("op", ","), Token("ws", " ")]
            + right
            + [Token("op", ")")]
        )
        tokens = tokens[:lo] + replacement + tokens[hi + 1 :]


def _rewrite_cast_types(tokens: list[Token]) -> list[Token]:
    # CAST ( expr AS <name> )  — map pandas dtype names to Spark types.
    for i, tok in enumerate(tokens):
        if tok.kind == "word" and tok.upper == "AS":
            nxt = _significant(tokens, i, +1)
            if nxt == -1:
                continue
            after = _significant(tokens, nxt, +1)
            if after == -1 or tokens[after].text != ")":
                continue
            name_tok = tokens[nxt]
            raw = name_tok.text.strip("`'\"")
            mapped = CAST_TYPE_MAP.get(raw.lower())
            if mapped and _in_cast(tokens, i):
                tokens[nxt] = Token("word", mapped)
    return tokens


def _in_cast(tokens: list[Token], as_idx: int) -> bool:
    """True if the AS at ``as_idx`` is inside a CAST(...) call."""
    depth = 0
    for j in range(as_idx - 1, -1, -1):
        t = tokens[j]
        if t.text == ")":
            depth += 1
        elif t.text == "(":
            if depth == 0:
                k = _significant(tokens, j, -1)
                return k != -1 and tokens[k].kind == "word" and tokens[k].upper in ("CAST", "TRY_CAST")
            depth -= 1
    return False


def _rewrite_function_names(tokens: list[Token], fmap: dict[str, str]) -> list[Token]:
    """Rename call sites of registered custom functions to their
    internal session names (``name(`` → ``dfsql_f_name(``).

    This is the per-DataSource function-scoping mechanism (reference
    resolves custom functions before builtins, per DataSource:
    base_data_source.py:192-198): only call-position words are renamed
    — a word token immediately followed by ``(`` — so column/alias
    references of the same name are untouched.  Dotted (qualified)
    names are skipped: custom functions are unqualified.  SQL function
    names are case-insensitive, hence the lowercase lookup.
    """
    for i, tok in enumerate(tokens):
        if tok.kind != "word" or "." in tok.text:
            continue
        internal = fmap.get(tok.text.lower())
        if internal is None:
            continue
        nxt = _significant(tokens, i, +1)
        if nxt != -1 and tokens[nxt].text == "(":
            tokens[i] = Token("word", internal)
    return tokens


def rewrite(sql: str, function_map: "dict[str, str] | None" = None) -> str:
    """Rewrite a dfsql-dialect SQL string into Spark SQL.

    ``function_map`` (lowercase public name → internal session name)
    scopes custom functions to the calling DataSource.  It runs FIRST:
    user-written call sites (including ``power(``/``concat(``) are
    renamed, while ``POWER``/``CONCAT`` tokens *generated* by the later
    ``^``/LIKE rewrites keep Spark's builtins — matching the reference,
    whose ``^`` and LIKE lowering use native ops, not custom functions.
    """
    tokens = tokenize(sql)
    if function_map:
        tokens = _rewrite_function_names(tokens, function_map)
    tokens = _rewrite_like(tokens)
    tokens = _rewrite_power(tokens)
    tokens = _rewrite_cast_types(tokens)
    return "".join(t.text for t in tokens)

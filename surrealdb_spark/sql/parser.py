"""SurrealQL tokenizer + recursive-descent/Pratt parser (SELECT subset).

Grammar sources: the reference's standalone parser stack (surrealdb/parser,
surrealdb/ast) and binding powers (core/src/expr/operator.rs:204
BindingPower).  Round-1 scope: SELECT statements with expressions, idiom
paths, function calls, containment operators, GROUP/SPLIT/ORDER/LIMIT/
START/FETCH/VALUE clauses.

AST is plain tuples:
  ("lit", v) ("param", name) ("ident", name) ("all",)
  ("path", base, [part...])          part: ("field",n) ("index",i) ("all",)
                                           ("where", expr) ("first",) ("last",)
  ("bin", op, l, r) ("un", op, e) ("call", name, [args]) ("array", [e...])
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<num>\d[\d_]*(\.\d[\d_]*)?([eE][+-]?\d+)?(dec|f)?)
  | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
  | (?P<param>\$[A-Za-z_][A-Za-z0-9_]*)
  | (?P<bname>`[^`]*`|⟨[^⟩]*⟩)
  | (?P<name>[A-Za-z_µ][A-Za-z0-9_µ]*(::[A-Za-z_][A-Za-z0-9_]*)*)
  | (?P<op><->|<~|<\||\|>|\?\?|\?:|\*=|\+\?=|\?=|==|!=|<=|>=|&&|\|\||\+=|-=|->|<-|\.\.\.|…|\.\.=|\.\.|\*\*|\?\.|@@|@|[-+*/%=<>!(),\[\].$:*|{};?\\^~#])
    """,
    re.X,
)

KEYWORDS = {
    "SELECT", "VALUE", "FROM", "WHERE", "SPLIT", "GROUP", "ORDER", "BY", "ALL",
    "LIMIT", "START", "FETCH", "AS", "ASC", "DESC", "ON", "AT", "ONLY", "AND",
    "OR", "NOT", "IN", "CONTAINS", "CONTAINSNOT", "CONTAINSALL", "CONTAINSANY",
    "CONTAINSNONE", "INSIDE", "NOTINSIDE", "ALLINSIDE", "ANYINSIDE",
    "NONEINSIDE", "TRUE", "FALSE", "NULL", "NONE", "OMIT", "WITH", "NOINDEX",
    "TIMEOUT", "PARALLEL", "EXPLAIN", "COLLATE", "NUMERIC",
    # DML / DDL statements (expr/statements/*.rs)
    "CREATE", "INSERT", "INTO", "UPDATE", "UPSERT", "DELETE", "RELATE",
    "CONTENT", "MERGE", "PATCH", "RETURN", "BEFORE", "AFTER", "DIFF",
    "DUPLICATE", "KEY", "VALUES", "DEFINE", "TABLE", "FIELD", "TYPE",
    "ASSERT", "DEFAULT", "FUNCTION", "SCHEMAFULL", "SCHEMALESS", "MATCHES",
    "SET", "OUTSIDE", "INTERSECTS", "LET", "ANALYZER", "TOKENIZERS",
    "FILTERS", "PERMISSIONS", "FOR", "FULL", "INDEX", "FIELDS", "COLUMNS",
    "UNIQUE", "FULLTEXT", "SEARCH", "HNSW", "DIMENSION", "IS",
}

# Soft keywords: statement-position words (REMOVE, ALTER, INFO, WHEN, ...)
# are matched case-insensitively via Parser.eat_word/expect_word instead of
# reserving them — they stay usable as field/table identifiers.

# keywords that never act as identifiers in expression position
_STRUCTURAL_KWS = {
    "TRUE", "FALSE", "NULL", "NONE", "NOT", "AND", "OR", "IS", "SELECT",
    "FROM", "WHERE", "ORDER", "BY", "LIMIT", "START", "FETCH",
    "SPLIT", "OMIT", "AS", "ASC", "DESC", "WITH", "DEFINE", "CREATE",
    "INSERT", "UPDATE", "UPSERT", "DELETE", "RELATE", "RETURN", "LET",
    "IN", "CONTAINS", "CONTAINSNOT", "CONTAINSALL", "CONTAINSANY",
    "CONTAINSNONE", "INSIDE", "NOTINSIDE", "ALLINSIDE", "ANYINSIDE",
    "NONEINSIDE", "OUTSIDE", "INTERSECTS", "MATCHES",
}

# operator keywords that double as field names in path positions
# (`.contains`, `places: contains.@` — operators are infix-only)
_OP_KWS = {
    "IN", "CONTAINS", "CONTAINSNOT", "CONTAINSALL", "CONTAINSANY",
    "CONTAINSNONE", "INSIDE", "NOTINSIDE", "ALLINSIDE", "ANYINSIDE",
    "NONEINSIDE", "OUTSIDE", "INTERSECTS", "MATCHES", "IS",
}

# clause words that terminate a SELECT field list
_FIELD_STOP_KWS = {"FROM", "OMIT"}

# keywords that can never be a FROM source (clause/structure words)
_NON_SOURCE_KWS = {
    "WHERE", "GROUP", "ORDER", "SPLIT", "LIMIT", "START", "FETCH", "OMIT",
    "WITH", "TIMEOUT", "PARALLEL", "EXPLAIN", "SELECT", "FROM", "VALUE",
    "AND", "OR", "NOT", "AS", "BY", "ASC", "DESC",
}


@dataclass
class Tok:
    kind: str  # num str param name op kw eof
    text: str
    pos: int
    orig: str = ""  # original (pre-uppercase) text for kw tokens


def tokenize(src: str) -> list[Tok]:
    out: list[Tok] = []
    i = 0
    while i < len(src):
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise SyntaxError(f"unexpected char {src[i]!r} at {i}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group()
        if kind == "bname":
            # `quoted` / ⟨angle⟩ identifier (syn lexer escaped idents):
            # always a plain name token, never a keyword
            out.append(Tok("name", text[1:-1], m.start(), text[1:-1]))
        elif kind == "name" and text.upper() in KEYWORDS:
            out.append(Tok("kw", text.upper(), m.start(), text))
        else:
            out.append(Tok(kind, text, m.start(), text))
    out.append(Tok("eof", "", len(src)))
    return out


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f", "0": "\0",
            "\\": "\\", "'": "'", '"': '"', "/": "/"}


_DUR_UNIT_NS = {
    "ns": 1, "us": 1_000, "µs": 1_000, "ms": 1_000_000, "s": 1_000_000_000,
    "m": 60_000_000_000, "h": 3_600_000_000_000, "d": 86_400_000_000_000,
    "w": 604_800_000_000_000, "y": 365 * 86_400_000_000_000,
}
_DUR_CHAIN_RE = re.compile(r"(?:\d+(?:ns|us|µs|ms|s|m|h|d|w|y))+")


def _parse_duration_nanos(chain: str) -> int:
    """`1y7w6d`-style duration literal → total nanoseconds
    (val/duration.rs: y = 365 d, no calendar months)."""
    total = 0
    for n, unit in re.findall(r"(\d+)(ns|us|µs|ms|s|m|h|d|w|y)", chain):
        total += int(n) * _DUR_UNIT_NS[unit]
    return total


def _unescape(body: str) -> str:
    """String-literal escapes (reference syn lexer): \\n \\t \\r \\b \\f \\0
    \\\\ \\' \\" plus \\uXXXX / \\u{...} unicode."""

    def sub(m: "re.Match[str]") -> str:
        e = m.group(1)
        if e[0] == "u":
            hexpart = e[2:-1] if e[1:2] == "{" else e[1:]
            return chr(int(hexpart, 16))
        return _ESCAPES.get(e, e)

    return re.sub(r"\\(u\{[0-9a-fA-F]+\}|u[0-9a-fA-F]{4}|.)", sub, body)


# Binding powers adapted from core/src/expr/operator.rs:204 (BindingPower):
# Nullish < Or < And < Equality/Relation/Containment < Add < Mul < Power.
_BIN_BP = {
    "??": (2, 3), "?:": (2, 3),
    "OR": (4, 5), "||": (4, 5),
    "AND": (6, 7), "&&": (6, 7),
    "=": (8, 9), "==": (8, 9), "!=": (8, 9), "<": (8, 9), "<=": (8, 9),
    ">": (8, 9), ">=": (8, 9), "*=": (8, 9), "?=": (8, 9),
    "IN": (8, 9), "CONTAINS": (8, 9), "CONTAINSNOT": (8, 9),
    "CONTAINSALL": (8, 9), "CONTAINSANY": (8, 9), "CONTAINSNONE": (8, 9),
    "INSIDE": (8, 9), "NOTINSIDE": (8, 9), "ALLINSIDE": (8, 9),
    "ANYINSIDE": (8, 9), "NONEINSIDE": (8, 9),
    "OUTSIDE": (8, 9), "INTERSECTS": (8, 9),  # geometry (operator.rs:110-112)
    "..": (10, 11), "..=": (10, 11),
    "+": (12, 13), "-": (12, 13),
    "*": (14, 15), "/": (14, 15), "%": (14, 15),
    "**": (17, 16),  # right-associative
    "@@": (8, 9), "MATCHES": (8, 9),  # full-text match (operator.rs Matches)
}


class Parser:
    def __init__(self, src: str):
        self.src = src
        self.toks = tokenize(src)
        self.i = 0
        # >0 → postfix() leaves `->`/`<-` untouched (RELATE from/to
        # operands use arrows as statement syntax, not lookups)
        self.no_graph = 0

    def span_text(self, start_tok, end_tok=None) -> str:
        """Source text from start_tok to end_tok (or to the end)."""
        end = len(self.src) if end_tok is None else end_tok.pos
        return self.src[start_tok.pos:end].strip()

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def eat(self, kind: str, text: str | None = None) -> Tok | None:
        t = self.peek()
        if t.kind == kind and (text is None or t.text == text):
            return self.next()
        return None

    def expect(self, kind: str, text: str | None = None) -> Tok:
        t = self.eat(kind, text)
        if t is None:
            got = self.peek()
            raise SyntaxError(f"expected {text or kind}, got {got.text!r} at {got.pos}")
        return t

    # soft keywords: match name/kw tokens case-insensitively without
    # reserving the word (it stays a valid identifier elsewhere)
    def peek_word(self, word: str) -> bool:
        t = self.peek()
        return t.kind in ("name", "kw") and t.text.upper() == word

    def eat_word(self, word: str) -> Tok | None:
        return self.next() if self.peek_word(word) else None

    def expect_word(self, word: str) -> Tok:
        t = self.eat_word(word)
        if t is None:
            got = self.peek()
            raise SyntaxError(f"expected {word}, got {got.text!r} at {got.pos}")
        return t

    def block_contains_return(self) -> bool:
        """Lookahead: the `{ ... }` block starting at the current token
        carries a RETURN anywhere inside — ControlFlow::Return propagates
        out of nested blocks (exec/mod.rs:150-155;
        return/breaks_nested_execution.surql)."""
        t = self.peek()
        if not (t.kind == "op" and t.text == "{"):
            return False
        depth, j = 0, self.i
        while j < len(self.toks):
            tk = self.toks[j]
            if tk.kind == "op" and tk.text == "{":
                depth += 1
            elif tk.kind == "op" and tk.text == "}":
                depth -= 1
                if depth == 0:
                    return False
            elif tk.kind == "kw" and tk.text == "RETURN" and depth >= 1:
                return True
            j += 1
        return False

    # -- expressions --------------------------------------------------------

    def expr(self, min_bp: int = 0):
        lhs = self.prefix()
        while True:
            t = self.peek()
            op = t.text if t.kind == "op" else (t.text if t.kind == "kw" else None)
            if op == "<|":
                # KNN operator <|k[,metric_or_ef]|> (operator.rs NearestNeighbor)
                if 8 < min_bp:
                    break
                self.next()
                k = int(self.expect("num").text)
                metric = None
                if self.eat("op", ","):
                    mt = self.next()
                    metric = mt.text if mt.kind in ("name", "num") else None
                self.expect("op", "|>")
                rhs = self.expr(9)
                lhs = ("knn", k, metric, lhs, rhs)
                continue
            if (
                op == ">"
                and self.toks[self.i + 1].kind == "op"
                and self.toks[self.i + 1].text in ("..", "..=")
            ):
                # `a>..b` / `a>..=b` — start-exclusive ranges (value/range.rs)
                if _BIN_BP[".."][0] < min_bp:
                    break
                self.next()
                rop = ">" + self.next().text
                rhs = self.expr(_BIN_BP[".."][1])
                lhs = ("bin", rop, lhs, rhs)
                continue
            if op == "IS":
                # IS / IS NOT — equality aliases (syn parser; operator.rs)
                if _BIN_BP["="][0] < min_bp:
                    break
                self.next()
                neg = self.eat("kw", "NOT") is not None
                rhs = self.expr(_BIN_BP["="][1])
                lhs = ("bin", "!=" if neg else "=", lhs, rhs)
                continue
            if op == "<~":
                # value<~(table FIELD f) — reverse-reference lookup on a
                # record value (scan/reference.rs:48); idiom parts may
                # follow (`chat:bla<~(message FIELD chat).message` —
                # reference/range.surql)
                self.next()
                lhs = ("refscan_on", lhs, self._refscan_entries())
                nt = self.peek()
                if nt.kind == "op" and nt.text in (".", "[", "?."):
                    lhs = self.postfix(lhs)
                continue
            if op == "@" and self.toks[self.i + 1].kind in ("num", "name",
                                                            "kw"):
                # `@N@` / `@AND@` / `@N,OR@` — matches with a numbered
                # match reference and/or boolean mode
                # (operator.rs Matches{rf, operator})
                j = self.i + 1
                inner = []
                while j < len(self.toks) and not (
                        self.toks[j].kind == "op"
                        and self.toks[j].text == "@"):
                    if self.toks[j].kind not in ("num", "name", "kw") and \
                            self.toks[j].text != ",":
                        break
                    inner.append(self.toks[j])
                    j += 1
                if j < len(self.toks) and self.toks[j].kind == "op" \
                        and self.toks[j].text == "@" and inner:
                    if _BIN_BP["@@"][0] < min_bp:
                        break
                    self.i = j + 1
                    spec = "".join(t.orig or t.text for t in inner)
                    rhs = self.expr(_BIN_BP["@@"][1])
                    lhs = ("bin", f"@{spec.upper()}@", lhs, rhs)
                    continue
            if op not in _BIN_BP:
                break
            lbp, rbp = _BIN_BP[op]
            if lbp < min_bp:
                break
            self.next()
            if op in ("..", "..=") and (
                self.peek().kind == "eof"
                or (self.peek().kind == "op" and self.peek().text in
                    ("]", ")", ",", "}"))
            ):
                # open-ended range `lo..` (value/range.rs Unbounded end)
                lhs = ("bin", op, lhs, None)
                continue
            rhs = self.expr(rbp)
            if op == "MATCHES":
                op = "@@"
            lhs = ("bin", op, lhs, rhs)
        return lhs

    def _parse_kind(self, no_union: bool = False):
        """Type in a `<kind>` cast: name with optional `<...>` args, literal
        kinds (`<123>`, `<"a">`, `<true>`), and `|` unions
        (types/src/kind.rs; syn kind parser).  `no_union` disables `|`
        unions where `|` is structural (closure param/return kinds)."""
        mark = self.i
        t = self.next()
        if t.kind == "op" and t.text == "[":
            # literal-array (tuple) kind `[number, "abc"]`
            # (types/src/kind.rs Literal::Array)
            elems: list = []
            if not (self.peek().kind == "op" and self.peek().text == "]"):
                while True:
                    elems.append(self._parse_kind())
                    if not self.eat("op", ","):
                        break
            self.expect("op", "]")
            k = ("litarr", elems)
            if not no_union and self.peek().kind == "op" \
                    and self.peek().text == "|":
                mem = [k]
                while self.eat("op", "|"):
                    mem.append(self._parse_kind(no_union=True))
                return ("union", mem)
            return k
        if t.kind == "num" and self.peek().kind == "name" \
                and self.peek().pos == t.pos + len(t.text):
            # duration literal kind (`1d | 2h`): re-parse through the
            # expression path's duration gluing (types/kind.rs Literal)
            self.i = mark
            val_ast = self.prefix()
            if val_ast[0] == "dur":
                from surrealdb_spark import pyeval as _pk

                k = ("lit", _pk.peval(val_ast, {}))
                if not no_union and self.peek().kind == "op" \
                        and self.peek().text == "|":
                    mem = [k]
                    while self.eat("op", "|"):
                        mem.append(self._parse_kind(no_union=True))
                    return ("union", mem)
                return k
            self.i = mark
            t = self.next()
        if t.kind == "op" and t.text == "{":
            # literal-object kind `{ a: string, b: option<int> }`
            # (types/src/kind.rs Literal::Object)
            members: list = []
            if not (self.peek().kind == "op" and self.peek().text == "}"):
                while True:
                    kt = self.next()
                    key = (_unescape(kt.text[1:-1]) if kt.kind == "str"
                           else (kt.orig or kt.text))
                    self.expect("op", ":")
                    members.append((key, self._parse_kind()))
                    if not self.eat("op", ","):
                        break
            self.expect("op", "}")
            k = ("litobj", members)
            if not no_union and self.peek().kind == "op" \
                    and self.peek().text == "|":
                mem = [k]
                while self.eat("op", "|"):
                    mem.append(self._parse_kind(no_union=True))
                return ("union", mem)
            return k
        if t.kind == "num":
            txt = t.text
            v = (float(txt[:-1]) if txt.endswith("f")
                 else float(txt) if "." in txt else int(txt))
            k = ("lit", v)
        elif t.kind == "str":
            k = ("lit", _unescape(t.text[1:-1]))
        elif t.kind == "kw" and t.text in ("TRUE", "FALSE"):
            k = ("lit", t.text == "TRUE")
        elif t.kind in ("name", "kw"):
            name = (t.orig or t.text).lower()
            args = []
            if self.eat("op", "<"):
                args.append(self._parse_kind())
                while self.eat("op", ","):
                    args.append(self._parse_kind())
                self.expect("op", ">")
            k = (name, args)
        else:
            raise SyntaxError(f"expected type name, got {t.text!r} at {t.pos}")
        if not no_union and self.peek().kind == "op" \
                and self.peek().text == "|":
            members = [k]
            while self.eat("op", "|"):
                members.append(self._parse_kind())
            # flatten nested unions produced by right recursion
            flat = []
            for m in members:
                flat.extend(m[1] if m[0] == "union" else [m])
            return ("union", flat)
        return k

    def prefix(self):
        t = self.peek()
        if t.kind in ("kw", "name") and t.text.upper() == "IF":
            # IF cond THEN a [ELSE IF ...] [ELSE b] END — expression form
            # (expr/statements/ifelse.rs); on parse failure rewind — `IF`
            # may be a field name, and `IF cond { }` belongs to the script
            # engine
            mark = self.i
            try:
                self.next()
                branches = []
                els = None
                def _branch_body():
                    if self.peek().kind == "op" and self.peek().text == "{":
                        return self.prefix()  # `{ expr }` block form
                    if not self.eat_word("THEN"):
                        raise SyntaxError("no THEN")
                    return self.expr(0)

                while True:
                    cond = self.expr(0)
                    branches.append((cond, _branch_body()))
                    if self.eat_word("ELSE"):
                        if self.peek_word("IF"):
                            self.next()
                            continue
                        els = (self.prefix()
                               if self.peek().kind == "op"
                               and self.peek().text == "{"
                               else self.expr(0))
                    self.eat_word("END")
                    break
                return self.postfix(("ifexpr", branches, els))
            except SyntaxError:
                self.i = mark
        if t.kind == "op" and t.text in ("->", "<-", "<->"):
            # leading lookup: `->knows->person` — traverses from the
            # current record (expr/lookup.rs; exec GraphEdgeScan chains)
            return self.postfix(("curr",))
        if t.kind == "op" and t.text == "@":
            # `@` = the current record id (syn: Param::this shorthand);
            # `@{n}` / `@{..}` attach the recursion braces without a dot
            # (recursion syntax sugar — graph/recursion corpus)
            self.next()
            if self.peek().kind == "op" and self.peek().text == "{":
                self.next()
                part = self._curly_part()
                rest = self.postfix(("curr",))
                if rest[0] == "path":
                    return ("path", rest[1], [part] + list(rest[2]))
                return ("path", rest, [part])
            return self.postfix(("curr",))
        if t.kind == "op" and t.text == "/":
            # `/pattern/` regex literal (types Value::Regex) — only valid
            # in prefix position (infix `/` is division), so scan the raw
            # source to the next unescaped slash and resync the tokens
            start = t.pos + 1
            j = start
            while j < len(self.src):
                if self.src[j] == "\\":
                    j += 2
                    continue
                if self.src[j] == "/":
                    break
                j += 1
            if j >= len(self.src):
                raise SyntaxError(f"unterminated regex literal at {t.pos}")
            pattern = self.src[start:j]
            while self.toks[self.i].kind != "eof" \
                    and self.toks[self.i].pos <= j:
                self.i += 1
            return self.postfix(("regex", pattern))
        if t.kind == "op" and t.text == "<":
            # `<kind> expr` cast (expr/cast.rs; binds like unary prefix)
            self.next()
            kind = self._parse_kind()
            self.expect("op", ">")
            # binds looser than ranges/arithmetic (`<array> 1..5` casts the
            # whole range) but tighter than comparisons
            return ("cast", kind, self.expr(9))
        if t.kind == "num":
            self.next()
            txt = t.text
            # duration literal: num + adjacent unit-chain name ("1d",
            # "5ms5µs", "1y7w6d") — val/duration.rs display units
            nxt = self.peek()
            if (
                "." not in txt
                and not txt.endswith(("f",))
                and nxt.kind in ("name", "kw")
                and nxt.pos == t.pos + len(txt)
                and _DUR_CHAIN_RE.fullmatch(txt + (nxt.orig or nxt.text))
            ):
                self.next()
                return self.postfix(
                    ("dur", _parse_duration_nanos(txt + (nxt.orig or nxt.text)))
                )
            # literal suffixes (sql/literal.rs): 1f → float, 1dec → decimal
            if txt.endswith("dec"):
                import decimal as _dec

                return self.postfix(("lit", _dec.Decimal(txt[:-3])))
            if txt.endswith("f"):
                return self.postfix(("lit", float(txt[:-1])))
            val = float(txt) if ("." in txt or "e" in txt or "E" in txt) else int(txt)
            return self.postfix(("lit", val))
        if t.kind == "str":
            self.next()
            body = _unescape(t.text[1:-1])
            return self.postfix(("lit", body))
        if t.kind == "param":
            self.next()
            return self.postfix(("param", t.text[1:]))
        if t.kind == "kw" and t.text in ("TRUE", "FALSE"):
            self.next()
            return self.postfix(("lit", t.text == "TRUE"))
        if t.kind == "kw" and t.text in ("NULL", "NONE"):
            self.next()
            # both compile to SQL NULL, but the AST keeps the distinction so
            # type::of can answer 'null' vs 'none' (val/mod.rs None vs Null)
            if t.text == "NULL":
                return self.postfix(("nulllit",))
            return self.postfix(("lit", None))
        if t.kind == "kw" and t.text == "NOT":
            self.next()
            return ("un", "!", self.expr(15))
        if t.kind == "op" and t.text in ("!", "-", "+"):
            self.next()
            return ("un", t.text, self.expr(15))
        if t.kind == "op" and t.text == "||":
            # `||body` — zero-arg closure (the lexer fuses the empty
            # param-list bars into one OR token)
            self.next()
            ret = self._parse_kind(no_union=True) \
                if self.eat("op", "->") else None
            return ("closure", [], self.expr(0), [], ret)
        if t.kind == "op" and t.text == "|" and \
                self.toks[self.i + 1].kind in ("name", "kw") and \
                self.toks[self.i + 2].kind == "op" and \
                self.toks[self.i + 2].text == ":":
            # `|tb:n|` / `|tb:lo..hi|` (+ `>..`, `..=`, open bounds) —
            # mock in expression position: its value is the id list
            # (expr/mock.rs; mock/range_bounds.surql)
            self.next()
            mtb = self.next().text
            self.expect("op", ":")

            def _num():
                neg = bool(self.eat("op", "-"))
                v = int(self.expect("num").text)
                return -v if neg else v

            lo = hi = None
            lo_excl = hi_incl = False
            is_range = True
            if not (self.peek().kind == "op"
                    and self.peek().text in ("..", "..=", ">")):
                lo = _num()
            if self.eat("op", ">"):
                lo_excl = True
            if self.eat("op", "..="):
                hi_incl = True
                hi = _num()
            elif self.eat("op", ".."):
                if not (self.peek().kind == "op" and self.peek().text == "|"):
                    hi = _num()
            else:
                is_range = False  # `|tb:n|` count form
            self.expect("op", "|")
            if not is_range:
                return ("mockv", mtb, ("count", lo))
            return ("mockv", mtb, ("range", lo, hi, lo_excl, hi_incl))
        if t.kind == "op" and t.text == "|":
            # closure |$x[: kind][, $i]| [-> kind] body
            # (core/src/expr/closure.rs:12 — args carry optional kinds,
            # optional returns kind; body is an expr or { block })
            self.next()
            cparams = []
            ckinds = []
            while self.peek().kind == "param":
                cparams.append(self.next().text[1:])
                ckinds.append(self._parse_kind(no_union=True)
                              if self.eat("op", ":") else None)
                if not self.eat("op", ","):
                    break
            self.expect("op", "|")
            ret = self._parse_kind() if self.eat("op", "->") else None
            body = self.expr(0)
            return ("closure", cparams, body, ckinds, ret)
        if t.kind == "op" and t.text == "(":
            self.next()
            if self.peek().kind == "kw" and self.peek().text == "SELECT":
                sub = _parse_select_body(self)
                self.expect("op", ")")
                # idioms attach to ANY expression, including a parenthesized
                # subquery: `(SELECT ... LIMIT 3).id` (expr/part.rs Start)
                return self.postfix(("subquery", sub))
            if self.peek().kind == "kw" and self.peek().text in (
                    "CREATE", "UPDATE", "UPSERT", "DELETE", "INSERT",
                    "RELATE"):
                # writable subquery expression `(UPSERT t SET ...).value`
                # (exec/planner.rs:309-336): capture the raw DML text; the
                # runner executes it ONCE at evaluation time
                # (doc/create.rs:17-33 $input computes once per record)
                start_tok = self.peek()
                depth = 1
                while depth and self.peek().kind != "eof":
                    nt = self.next()
                    if nt.kind == "op" and nt.text == "(":
                        depth += 1
                    elif nt.kind == "op" and nt.text == ")":
                        depth -= 1
                # tokens are position-tagged: slice the raw source span
                end_pos = (self.peek().pos if self.peek().kind != "eof"
                           else len(self.src))
                raw = self.src[start_tok.pos:end_pos]
                raw = raw[:raw.rfind(")")] if ")" in raw else raw
                return self.postfix(("wsub", raw.strip()))
            e = self.expr(0)
            if self.peek().kind == "op" and self.peek().text == ",":
                # `(lon, lat)` geometry point literal (sql/geometry parsing
                # in the reference's syn parser)
                self.next()
                e2 = self.expr(0)
                self.expect("op", ")")
                return self.postfix(("geom_point", e, e2))
            self.expect("op", ")")
            return self.postfix(e)
        if t.kind == "op" and t.text == "<~":
            self.next()
            return self.postfix(("refscan", self._refscan_entries()))
        if t.kind == "op" and t.text == "[":
            self.next()
            elems = []
            while not self.eat("op", "]"):
                elems.append(self.expr(0))
                if not self.eat("op", ","):
                    self.expect("op", "]")
                    break
            return self.postfix(("array", elems))
        if t.kind == "op" and t.text == "{":
            self.next()
            # `{1, 2}` SET literal (types/kind.rs Literal sets) vs object:
            # an object key is name/str/kw followed by `:`.
            nxt = self.peek()
            is_obj = nxt.kind == "op" and nxt.text == "}" or (
                nxt.kind in ("name", "str", "kw", "num")
                and self.toks[self.i + 1].kind == "op"
                and self.toks[self.i + 1].text == ":"
            )
            if nxt.kind == "op" and nxt.text == ",":
                # `{,}` — the empty SET literal (types/kind.rs Literal sets;
                # `{}` is the empty object)
                self.next()
                self.expect("op", "}")
                return self.postfix(("setlit", []))
            if self.peek_word("BREAK") or self.peek_word("CONTINUE"):
                # `{ break; }` closure body — control-flow node, only
                # meaningful inside FOR loops (expr/statements/break.rs)
                word = self.next().text.lower()
                self.eat("op", ";")
                self.expect("op", "}")
                return ("ctrl", word)
            if self.peek_word("RETURN"):
                # `{ RETURN expr }` — a value block whose value is the
                # RETURN payload (expr/block.rs; closure bodies); the
                # payload may be a bare SELECT (computed/select.surql)
                self.next()
                if self.peek().kind == "kw" and self.peek().text == "SELECT":
                    be = ("subquery", _parse_select_body(self))
                else:
                    be = self.expr(0)
                self.eat("op", ";")
                self.expect("op", "}")
                return self.postfix(("block1", be))
            if self.peek().kind == "kw" and self.peek().text == "SELECT":
                # `{ SELECT ... }` — single-statement value block whose
                # value is the SELECT's result (expr/block.rs last-expr;
                # computed/select_or_expression.surql)
                be = ("subquery", _parse_select_body(self))
                self.eat("op", ";")
                self.expect("op", "}")
                return self.postfix(("block1", be))
            if not is_obj:
                elems = [self.expr(0)]
                saw_comma = False
                while self.eat("op", ","):
                    saw_comma = True
                    if self.peek().kind == "op" and self.peek().text == "}":
                        break  # trailing comma: `{1,}`
                    elems.append(self.expr(0))
                self.expect("op", "}")
                if len(elems) == 1 and not saw_comma:
                    # `{ expr }` — a value BLOCK (expr/block.rs), not a set;
                    # set literals need a comma: `{1, 2}` / `{1,}` / `{,}`
                    return self.postfix(("block1", elems[0]))
                return self.postfix(("setlit", elems))
            # object literal {key: expr, ...} (expr/object.rs)
            pairs = []
            while not self.eat("op", "}"):
                kt = self.next()
                if kt.kind not in ("name", "str", "kw", "num"):
                    raise SyntaxError(f"bad object key {kt.text!r} at {kt.pos}")
                key = kt.text[1:-1] if kt.kind == "str" else (kt.orig or kt.text)
                self.expect("op", ":")
                pairs.append((key, self.expr(0)))
                if not self.eat("op", ","):
                    self.expect("op", "}")
                    break
            return self.postfix(("object", pairs))
        if t.kind == "op" and t.text == "*":
            self.next()
            return ("all",)
        if (
            t.kind == "kw"
            and self.toks[self.i + 1].kind == "op"
            and self.toks[self.i + 1].text == ":"
            and self.toks[self.i + 2].kind in ("name", "num")
        ):
            # record-id literal with a keyword table name (group:0foo)
            tb = t.orig or t.text
            self.next()
            colon = self.next()
            parts = [self.next()]
            while True:
                nx = self.peek()
                last = parts[-1]
                if nx.kind in ("name", "num", "kw") and \
                        nx.pos == last.pos + len(last.text):
                    parts.append(self.next())
                else:
                    break
            key = "".join(pp.orig or pp.text for pp in parts)
            return self.postfix(("lit", f"{tb}:{key}"))
        if t.kind == "name":
            self.next()
            if t.text == "NaN":
                return self.postfix(("lit", float("nan")))
            if t.text == "Infinity":
                # printed form of f64::INFINITY (val number ToSql)
                return self.postfix(("lit", float("inf")))
            # typed string literals (syn lexer): d'…' datetime, u'…' uuid,
            # f'bucket:/key' file pointer, b'hex' bytes
            if t.text in ("d", "u", "f", "b", "r") and \
                    self.peek().kind == "str":
                body = _unescape(self.next().text[1:-1])
                if t.text == "r":
                    # r'tb:key' — record-id-typed string (syn lexer)
                    return self.postfix(("lit", body))
                if t.text == "f":
                    bkt, _, key = body.partition(":/")
                    return self.postfix(("lit", f"file:/{bkt}/{key.lstrip('/')}"))
                if t.text == "b":
                    return self.postfix(("lit", bytes.fromhex(body)))
                if t.text == "u":
                    # uuid-typed string: same compiled value, tagged AST so
                    # type::of answers 'uuid'; uuids canonicalize to
                    # lowercase (types/src/value/uuid.rs Display)
                    return self.postfix(("ulit", body.lower()))
                import datetime as _dt
                import re as _re_dt

                iso = body.replace("Z", "+00:00")
                dt = _dt.datetime.fromisoformat(iso)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=_dt.timezone.utc)
                frac = _re_dt.search(r"\.(\d+)", body)
                if frac and len(frac.group(1)) > 6:
                    # sub-microsecond literal: Python truncates, so keep
                    # the source text for exact EXPLAIN printing
                    from surrealdb_spark.values import NanoDatetime

                    dt = NanoDatetime.wrap(dt, body)
                return self.postfix(("lit", dt))
            if self.peek().kind == "op" and self.peek().text == "(":
                self.next()
                args = []
                while not self.eat("op", ")"):
                    args.append(self.expr(0))
                    if not self.eat("op", ","):
                        self.expect("op", ")")
                        break
                # builtins are case-insensitive in the reference (COUNT())
                fname = t.text.lower() if t.text.isupper() else t.text
                return self.postfix(("call", fname, args))
            # record-id literal tb:key — keys may be alphanumeric runs
            # ("0foo" tokenizes num+name; glue contiguous tokens back,
            # record_id/key.rs), uuid-typed (tb:u'...'), or ⟨escaped⟩
            if self.peek().kind == "op" and self.peek().text == ":":
                colon = self.peek()
                nxt = self.toks[self.i + 1]
                if nxt.kind == "name" and nxt.text == "u" and \
                        self.toks[self.i + 2].kind == "str":
                    self.next()
                    self.next()
                    key = _unescape(self.next().text[1:-1])
                    return self.postfix(("lit", f"{t.text}:{key}"))
                if nxt.kind == "op" and nxt.text == "[":
                    # array-keyed record id `tb:[1]` / `knows:[a:1, b:2]`
                    # (types/src/value/record_id/key.rs RecordIdKey::Array)
                    self.next()
                    arr = self.prefix()
                    # prefix() may have consumed a trailing idiom
                    # (`location:[50.0, 50.0].point`) — split it off
                    trail = None
                    if arr[0] == "path":
                        arr, trail = arr[1], arr[2]
                    if arr[0] == "array" and all(
                            e[0] in ("lit", "ulit") or
                            (e[0] == "un" and e[1] == "-"
                             and e[2][0] == "lit")
                            for e in arr[1]):
                        from surrealdb_spark.values import render_rid_key

                        base = ("lit", f"{t.text}:{render_rid_key(arr)}")
                    else:
                        base = ("ridexpr", t.text, arr)
                    return ("path", base, trail) if trail \
                        else self.postfix(base)
                if nxt.kind == "op" and nxt.text == "{":
                    # object-keyed record id `t:{ id: 4, r: o:2 }`
                    # (record_id/key.rs RecordIdKey::Object — BTreeMap,
                    # canonical key-sorted text)
                    self.next()
                    obj = self.prefix()
                    trail = None
                    if obj[0] == "path":
                        obj, trail = obj[1], obj[2]
                    from surrealdb_spark.values import (render_rid_obj,
                                                        rid_obj_literal)

                    if obj[0] == "object" and rid_obj_literal(obj):
                        base = ("lit", f"{t.text}:{render_rid_obj(obj)}")
                    else:
                        base = ("ridexpr", t.text, obj)
                    return ("path", base, trail) if trail \
                        else self.postfix(base)
                if nxt.kind == "op" and nxt.text == "-" and \
                        self.toks[self.i + 2].kind == "num" and \
                        nxt.pos == colon.pos + 1:
                    # negative integer key: tb:-42 (record_id/key.rs Number)
                    self.next()
                    self.next()
                    return self.postfix(
                        ("lit", f"{t.text}:-{self.next().text}"))
                if nxt.kind in ("name", "num", "kw") \
                        and nxt.pos == colon.pos + 1:
                    # keyword keys glue too: log:CREATE (record_id/key.rs
                    # — key text is an arbitrary ident)
                    self.next()
                    parts = [self.next()]
                    while True:
                        nx = self.peek()
                        last = parts[-1]
                        if nx.kind in ("name", "num", "kw") and \
                                nx.pos == last.pos + len(last.text):
                            parts.append(self.next())
                        else:
                            break
                    key = "".join(p.orig or p.text for p in parts)
                    return self.postfix(("lit", f"{t.text}:{key}"))
            return self.postfix(("ident", t.text))
        if t.kind == "kw" and t.text == "IN":
            # `in` is infix-only as an operator; in prefix position it's
            # the edge pointer field (doc/relate.rs edge shape: in/out)
            self.next()
            return self.postfix(("ident", "in"))
        if t.kind == "kw" and t.text not in _STRUCTURAL_KWS:
            # non-structural keywords double as identifiers (`value`,
            # `type`, `order` are common field names; syn treats most
            # keywords as soft)
            self.next()
            return self.postfix(("ident", t.orig or t.text.lower()))
        if t.kind == "kw" and t.text in _OP_KWS \
                and self.toks[self.i + 1].kind == "op" \
                and self.toks[self.i + 1].text in (".", "?."):
            # operator keywords in PREFIX position followed by a path
            # part are field names (`contains.@` inside a recursive
            # destructure — idiom/recursion_record_links.surql)
            self.next()
            return self.postfix(("ident", t.orig or t.text.lower()))
        raise SyntaxError(f"unexpected token {t.text!r} at {t.pos}")

    def _refscan_entries(self):
        """`<~table` / `<~(tb [FIELD f][, ...])` — referencing-table entries
        [(table, field|None), ...]; richer `<~(SELECT ... FIELD f ...)` /
        `<~(tb FIELD f WHERE ...)` forms return ("refquery", raw_text)
        for the runner to rewrite into a SELECT (scan/reference.rs)."""
        if not (self.peek().kind == "op" and self.peek().text == "("):
            t = self.next()
            return [(t.orig or t.text, None)]
        open_t = self.next()
        # consume the balanced group, remembering tokens
        depth, toks = 1, []
        while depth:
            t = self.next()
            if t.kind == "eof":
                raise SyntaxError("unterminated <~(...)")
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
                if not depth:
                    break
            toks.append(t)
        words = {t.text.upper() for t in toks if t.kind in ("kw", "name")}
        if words & {"SELECT", "WHERE", "ORDER", "LIMIT", "START", "SPLIT",
                    "GROUP", "VALUE"} or any(
                t.kind == "op" and t.text in ("..", "..=", ">") for t in toks):
            raw = self.src[open_t.pos + 1:toks[-1].pos + len(toks[-1].text)]                 if toks else ""
            return ("refquery", raw.strip())
        out, i = [], 0
        while i < len(toks):
            tb = toks[i].orig or toks[i].text
            i += 1
            fld = None
            if i < len(toks) and toks[i].text.upper() == "FIELD":
                fld = toks[i + 1].orig or toks[i + 1].text
                i += 2
            out.append((tb, fld))
            if i < len(toks) and toks[i].text == ",":
                i += 1
        return out

    def _curly_part(self):
        """`.{...}` — recursion `{min..max}[+instr]` or destructure `{a, b}`
        (syn/parser/idiom.rs parse_curly_part; `{` already consumed)."""
        t = self.peek()
        if t.kind == "num" or (t.kind == "op" and t.text == ".."):
            lo = None
            if t.kind == "num":
                lo = int(self.next().text)
            if self.eat("op", ".."):
                hi = int(self.next().text) if self.peek().kind == "num" else None
            else:
                hi = lo  # {n} = Recurse::Fixed
            instr: dict = {}
            while self.eat("op", "+"):
                kind = self.expect("name").text.lower()
                if kind == "shortest":
                    self.expect("op", "=")
                    # bind above '+' so `+inclusive` stays an instruction
                    # (syn: recursion instructions chain with '+')
                    instr["shortest"] = self.expr(14)
                elif kind == "inclusive":
                    instr["inclusive"] = True
                elif kind in ("collect", "path"):
                    instr["kind"] = kind
                else:
                    raise SyntaxError(f"unknown recursion instruction +{kind}")
            self.expect("op", "}")
            steps = []
            if self.eat("op", "("):
                if self.peek().kind == "op" and self.peek().text == ".":
                    # `(.field)` — record-link recursion step
                    # (idiom.rs Recurse over plain idiom parts)
                    self.next()

                    def _seg():
                        t2 = self.next()
                        if t2.kind not in ("name", "kw"):
                            raise SyntaxError(
                                f"bad link segment {t2.text!r}")
                        return t2.orig or t2.text.lower()

                    chain = [_seg()]
                    while self.eat("op", "."):
                        if self.peek().kind == "op" and \
                                self.peek().text == "@":
                            self.next()
                            break
                        chain.append(_seg())
                    steps = [("link", chain)]
                else:
                    steps = self._graph_steps()
                    self.eat("op", ".")  # optional trailing .@ repeat marker
                    self.eat("op", "@")
                self.expect("op", ")")
            return ("recurse", (lo, hi), instr, steps)
        # destructure: {a, b.*, c.{...}, alias: expr}
        fields = []
        while not self.eat("op", "}"):
            nt = self.next()
            if nt.kind not in ("name", "kw"):
                raise SyntaxError(f"bad destructure name {nt.text!r}")
            name = nt.orig or nt.text.lower()
            sub: list = []
            if self.eat("op", ":"):
                # aliased destructure entry (part.rs DestructurePart::
                # Aliased): value is an expression over the record
                sub = [("aliased", self.expr(0))]
                fields.append((name, sub))
                if not self.eat("op", ","):
                    self.expect("op", "}")
                    break
                continue
            if self.eat("op", "."):
                nt = self.next()
                if nt.kind == "op" and nt.text == "*":
                    sub = [("all",)]
                elif nt.kind == "op" and nt.text == "{":
                    sub = [self._curly_part()]
                else:
                    raise SyntaxError(f"bad destructure segment {nt.text!r}")
            fields.append((name, sub))
            if not self.eat("op", ","):
                self.expect("op", "}")
                break
        return ("destructure", fields)

    def _graph_steps(self):
        """Pairwise `->edge->target` steps for the recursion syntax
        `.{min..max}(->e->t)` — built from single lookups (expr/lookup.rs:
        each `->name` is one Lookup part; recursion repeats a pair)."""
        singles = []
        while self.peek().kind == "op" and self.peek().text in ("->", "<-", "<->"):
            singles.append(self._lookup_step())
        steps = []
        for i in range(0, len(singles) - 1, 2):
            (d1, s1, _), (_, s2, _) = singles[i], singles[i + 1]
            steps.append((d1, (s1 or ["?"])[0], (s2 or ["?"])[0]))
        if len(singles) % 2:
            d1, s1, _ = singles[-1]
            steps.append((d1, (s1 or ["?"])[0], "?"))
        return steps

    _DIRS = {"->": "out", "<-": "in", "<->": "both"}

    def _lookup_step(self):
        """One graph lookup `->seg` (expr/lookup.rs; scan/graph.rs): seg is
        a table name, `?` wildcard, or a parenthesized lookup subquery —
        `(tb [| tb2...] [WHERE ..] [ORDER BY ..] [LIMIT n] [START n])` or
        `(SELECT fields FROM tb [WHERE ..] ...)`.  Returns
        ``(dir, tables|None, opts)``."""
        arrow = self.next().text
        dirn = self._DIRS[arrow]
        t = self.peek()
        opts: dict = {}
        if t.kind == "op" and t.text == "?":
            self.next()
            return (dirn, None, opts)
        if t.kind == "op" and t.text == "?.":
            # lexer pairs `?` + `.` greedily (`->?.id`): wildcard segment,
            # hand the `.` back for the following field part
            self.toks[self.i] = Tok("op", ".", t.pos + 1, ".")
            return (dirn, None, opts)
        if t.kind == "op" and t.text == "(":
            self.next()
            if self.peek().kind == "kw" and self.peek().text == "SELECT":
                # `->(SELECT fields FROM tb ...)` — FullEdge scan projected
                # through a per-source subquery (planner lookup subqueries)
                sub = _parse_select_body(self)
                tables = []
                rng = None
                for s in sub.sources:
                    if isinstance(s, str):
                        tables.append(s)
                    elif isinstance(s, tuple) and s[0] == "idrange":
                        # `->(SELECT .. FROM edge:1..=5)` — edge-id range
                        # bounds (EdgeTableSpec range_start/range_end,
                        # scan/graph.rs:44-50)
                        tables.append(s[1])
                        rng = (s[2], s[3], s[4])
                    elif isinstance(s, tuple) and s[0] == "idpoint":
                        tables.append(s[1])
                        rng = (s[2], s[2], True)
                opts = {
                    "where": sub.where,
                    "order": [(k.expr, k.desc) for k in (sub.order or [])] or None,
                    "limit": sub.limit, "start": sub.start,
                    "fields": sub.fields,
                    "group": sub.group,
                }
                opts = {k: v for k, v in opts.items() if v is not None}
                opts["select"] = True  # SELECT-form segment (vs `(tb ..)`)
                if rng is not None:
                    opts["range"] = rng
                if sub.fields is None or sub.star:
                    opts["star"] = True  # SELECT * — full edge rows
                if sub.only:
                    opts["only"] = True  # FROM ONLY → bare object result
                self.expect("op", ")")
                return (dirn, tables or None, opts)
            tables: list | None = []
            if self.peek().kind == "op" and self.peek().text == "?":
                self.next()
                tables = None
            else:
                t0 = self.next()
                tables.append(t0.orig or t0.text)
                while self.eat("op", "|") or self.eat("op", ","):
                    tn = self.next()
                    tables.append(tn.orig or tn.text)
                if self.eat("kw", "AS"):
                    # `->(bought AS purchases)` — lookup alias names the
                    # projected field (expr/lookup.rs:63 alias)
                    at = self.next()
                    if at.kind not in ("name", "kw"):
                        raise SyntaxError(f"bad lookup alias {at.text!r}")
                    opts["alias"] = at.orig or at.text.lower()
            while True:
                nt = self.peek()
                if nt.kind == "kw" and nt.text == "WHERE":
                    self.next()
                    opts["where"] = self.expr(0)
                elif nt.kind == "kw" and nt.text == "ORDER":
                    self.next()
                    self.eat("kw", "BY")
                    order = []
                    while True:
                        e = self.expr(0)
                        desc = False
                        if self.eat("kw", "DESC"):
                            desc = True
                        else:
                            self.eat("kw", "ASC")
                        order.append((e, desc))
                        if not self.eat("op", ","):
                            break
                    opts["order"] = order
                elif nt.kind == "kw" and nt.text == "LIMIT":
                    self.next()
                    opts["limit"] = int(self.expect("num").text)
                elif nt.kind == "kw" and nt.text == "START":
                    self.next()
                    opts["start"] = int(self.expect("num").text)
                else:
                    break
            self.expect("op", ")")
            return (dirn, tables, opts)
        nt = self.next()
        if nt.kind not in ("name", "kw"):
            raise SyntaxError(f"bad lookup segment {nt.text!r} at {nt.pos}")
        if self.peek().kind == "op" and self.peek().text == ":":
            # `->edge:lo..=hi` / `->edge:[a]..=[b]` — edge-id range bounds
            # on the segment (scan/graph.rs EdgeTableSpec range_start/end;
            # graph/edge_range_syntax.surql)
            self.next()

            def _ekey():
                if self.peek().kind == "num":
                    return int(self.next().text)
                if self.peek().kind == "op" and self.peek().text == "[":
                    return ("karr", self.prefix())
                if self.peek().kind in ("name", "str", "kw"):
                    t_ = self.next()
                    if t_.kind == "str":
                        return t_.text[1:-1]
                    return t_.orig or t_.text.lower()
                return None

            lo = None
            if not (self.peek().kind == "op"
                    and self.peek().text in ("..", "..=")):
                lo = _ekey()
            if self.peek().kind == "op" and self.peek().text in ("..", "..="):
                incl = self.next().text == "..="
                hi = _ekey()
                opts["range"] = (lo, hi, incl)
            else:
                opts["range"] = (lo, lo, True)
        return (dirn, [nt.orig or nt.text.lower()], opts)

    def postfix(self, base):
        parts = []
        if (isinstance(base, tuple) and base[0] == "param"
                and self.peek().kind == "op" and self.peek().text == "("):
            # `$f(args)` — invoke a closure VALUE bound to a param
            # (expr/closure.rs invocation; part.rs Part::Method on params)
            self.next()
            cargs = []
            while not self.eat("op", ")"):
                cargs.append(self.expr(0))
                if not self.eat("op", ","):
                    self.expect("op", ")")
                    break
            base = ("pcall", base[1], cargs)
        elif (isinstance(base, tuple)
                and base[0] in ("closure", "block1", "path", "paren")
                and self.peek().kind == "op" and self.peek().text == "("):
            # `(||1)()` / `{||2}()` — immediate closure invocation; a
            # parenthesized PATH value invokes too (`($obj.fnc)()` —
            # idiom/fallback_function.surql callable values)
            self.next()
            cargs = []
            while not self.eat("op", ")"):
                cargs.append(self.expr(0))
                if not self.eat("op", ","):
                    self.expect("op", ")")
                    break
            base = ("ccall", base, cargs)
        while True:
            nt = self.peek()
            if nt.kind == "op" and nt.text in ("->", "<-", "<->") \
                    and not self.no_graph:
                # graph lookup part on any receiver: `person:alice->knows`
                # (expr/lookup.rs — Part::Graph applies to the current value)
                parts.append(("graph", self._lookup_step()))
                continue
            if self.eat("op", "?."):
                # ?. optional chaining (part.rs Optional) — null-propagating
                parts.append(("optional",))
                nt = self.next()
                if nt.kind == "op" and nt.text == "*":
                    parts.append(("all",))
                elif nt.kind == "name":
                    parts.append(("field", nt.text))
                else:
                    raise SyntaxError(f"bad path segment {nt.text!r} at {nt.pos}")
                continue
            if self.eat("op", "."):
                nt = self.next()
                if nt.kind == "op" and nt.text in ("?", "?."):
                    # `.?` / `.?.segment` optional markers (part.rs Optional)
                    parts.append(("optional",))
                    if nt.text == "?.":
                        nx = self.next()
                        if nx.kind == "op" and nx.text == "*":
                            parts.append(("all",))
                        elif nx.kind == "name":
                            if self.peek().kind == "op" and self.peek().text == "(":
                                self.next()
                                margs = []
                                while not self.eat("op", ")"):
                                    margs.append(self.expr(0))
                                    if not self.eat("op", ","):
                                        self.expect("op", ")")
                                        break
                                recv = ("path", base, parts) if parts else base
                                base, parts = ("method", nx.text, recv, margs), []
                            else:
                                parts.append(("field", nx.text))
                        else:
                            raise SyntaxError(
                                f"bad path segment {nx.text!r} at {nx.pos}")
                    continue
                if nt.kind == "op" and nt.text == "*":
                    parts.append(("all",))
                elif nt.kind == "op" and nt.text == "@":
                    # `.@` RepeatRecurse marker (part.rs Part::RepeatRecurse)
                    # — recursion point inside a recursive destructure
                    parts.append(("repeat",))
                elif nt.kind == "op" and nt.text == "{":
                    parts.append(self._curly_part())
                elif nt.kind == "name" or (
                    nt.kind == "kw" and (
                        nt.text not in _STRUCTURAL_KWS
                        # operator keywords are unambiguous AFTER a dot
                        # (`.contains` is a field, CONTAINS is infix-only)
                        or nt.text in _OP_KWS
                        # a structural keyword followed by `(` is a method
                        # name after `.` (`"a b".split(" ")`)
                        or (self.peek().kind == "op"
                            and self.peek().text == "("))
                ):
                    nt_text = nt.orig or nt.text.lower()
                    if self.peek().kind == "op" and self.peek().text == "(":
                        # method syntax: value.fn(args) dispatches on the
                        # receiver's type (fnc/mod.rs idiom(), dispatch!)
                        self.next()
                        margs = []
                        while not self.eat("op", ")"):
                            margs.append(self.expr(0))
                            if not self.eat("op", ","):
                                self.expect("op", ")")
                                break
                        recv = ("path", base, parts) if parts else base
                        base, parts = ("method", nt_text, recv, margs), []
                        continue
                    parts.append(("field", nt_text))
                else:
                    raise SyntaxError(f"bad path segment {nt.text!r} at {nt.pos}")
                continue
            if self.peek().kind == "op" and self.peek().text == "[":
                self.next()
                if self.eat("op", "*"):
                    self.expect("op", "]")
                    parts.append(("all",))
                elif self.eat("kw", "WHERE") or self.eat("op", "?"):
                    # `[WHERE cond]` / `[? cond]` shorthand (part.rs Where)
                    cond = self.expr(0)
                    self.expect("op", "]")
                    parts.append(("where", cond))
                elif self.eat("op", "$"):
                    self.expect("op", "]")
                    parts.append(("last",))
                elif self.peek().kind == "op" and \
                        self.peek().text in ("..", "..="):
                    # open-start slice: [..2] / [..=2] (value/idiom.rs)
                    op_ = self.next().text
                    hi = None
                    if not (self.peek().kind == "op"
                            and self.peek().text == "]"):
                        hi = self.expr(0)
                    self.expect("op", "]")
                    parts.append(("slice", ("bin", op_, None, hi)))
                else:
                    idx = self.expr(11)  # bind below range ops
                    if self.peek().kind == "op" and self.peek().text in (
                            ">", "..", "..="):
                        excl = bool(self.eat("op", ">"))
                        op_ = self.next().text
                        if op_ not in ("..", "..="):
                            raise SyntaxError(f"bad slice at {self.peek().pos}")
                        hi = None
                        if not (self.peek().kind == "op"
                                and self.peek().text == "]"):
                            hi = self.expr(0)
                        self.expect("op", "]")
                        parts.append(("slice", ("bin",
                                                (">" if excl else "") + op_,
                                                idx, hi)))
                        continue
                    self.expect("op", "]")
                    if idx[0] != "lit" or not isinstance(idx[1], int):
                        parts.append(("iexpr", idx))
                        continue
                    parts.append(("index", idx[1]))
                continue
            break
        return ("path", base, parts) if parts else base


# -- SELECT statement --------------------------------------------------------


@dataclass
class Field:
    expr: tuple
    alias: str | None = None
    # verbatim source text of the expression (reference: unaliased output
    # columns are named by their printed form); not part of identity
    text: str | None = field(default=None, compare=False)


@dataclass
class OrderKey:
    expr: tuple
    desc: bool = False
    collate: bool = False
    numeric: bool = False


@dataclass
class Select:
    fields: list[Field] | None  # None = SELECT * (no extras)
    value_expr: tuple | None
    star: bool = False  # SELECT *, extra... keeps all columns plus extras
    sources: list[str] = field(default_factory=list)
    where: tuple | None = None
    split: list[str] = field(default_factory=list)
    group: list[tuple] | None = None  # [] = GROUP ALL
    order: list[OrderKey] = field(default_factory=list)
    limit: int | None = None
    start: int | None = None
    fetch: list[str] = field(default_factory=list)
    omit: list[str] = field(default_factory=list)
    only: bool = False
    # `VERSION <datetime>` clause — read the sources as of that instant
    # (exec/operators/version_scope.rs:25); expression AST or None
    version: tuple | None = None
    # EXPLAIN [FULL] suffix — 'plain' | 'full' | None (explain.rs)
    explain: str | None = None
    timeout: object = None  # ns int or ("param", name)
    # WITH NOINDEX / WITH INDEX a, b hint
    with_hint: tuple | None = None


def parse_expr(src: str):
    p = Parser(src)
    e = p.expr(0)
    p.expect("eof")
    return e


def parse_kind(src: str):
    """Kind text → kind AST (types/src/kind.rs) — used by the write-time
    literal-kind validator."""
    p = Parser(src)
    k = p._parse_kind()
    p.expect("eof")
    return k


def parse_select(src: str) -> Select:
    p = Parser(src.strip().rstrip(";"))
    sel = _parse_select_body(p)
    p.expect("eof")
    return sel


def _lookup_alias(e) -> str | None:
    """Alias carried inside a lookup segment `->(edge AS alias)`
    (expr/lookup.rs:63 Lookup alias names the projected field)."""
    if not isinstance(e, tuple):
        return None
    if e[0] == "path":
        for part in e[2]:
            if isinstance(part, tuple) and part[0] == "graph" \
                    and isinstance(part[1][2], dict) \
                    and "alias" in part[1][2]:
                return part[1][2]["alias"]
    return None


def _parse_select_body(p: Parser) -> Select:
    p.expect("kw", "SELECT")
    sel = Select(fields=None, value_expr=None)
    vt = p.eat("kw", "VALUE")
    if vt and p.peek().kind == "kw" and p.peek().text == "FROM" or \
            vt and p.peek().kind == "op" and p.peek().text == ",":
        # `SELECT value FROM ...` / `SELECT value, x FROM` — a field named
        # value, not the VALUE projection form
        p.i -= 1
        vt = None
    if vt:
        sel.value_expr = p.expr(0)
    else:
        fields: list[Field] = []
        star = p.eat("op", "*")
        had_comma = bool(star and p.eat("op", ","))  # SELECT *, extra fields
        if not star or had_comma:
            while not (p.peek().kind == "kw"
                       and p.peek().text in _FIELD_STOP_KWS):
                t0 = p.peek()
                e = p.expr(0)
                t1 = p.peek()
                alias = None
                if p.eat("kw", "AS"):
                    at = p.next()
                    if at.kind not in ("name", "kw"):
                        raise SyntaxError(f"bad alias {at.text!r}")
                    # keywords are soft in alias position (`AS content`);
                    # dotted aliases nest the output path (`AS a.b` —
                    # exec/operators/project.rs:118 output paths)
                    alias = at.orig or at.text.lower()
                    while p.eat("op", "."):
                        nt = p.next()
                        if nt.kind not in ("name", "kw"):
                            raise SyntaxError(
                                f"bad alias segment {nt.text!r}")
                        alias += "." + (nt.orig or nt.text.lower())
                # verbatim field text: the reference names unaliased
                # lookup projections by their PRINTED form — strings
                # render single-quoted regardless of source quoting
                txt = re.sub(r'"([^"\']*)"', r"'\1'",
                                  p.src[t0.pos:t1.pos].strip())
                if alias is None:
                    # `->(bought AS purchases)` — in-lookup alias names
                    # the field (expr/lookup.rs:63)
                    alias = _lookup_alias(e)
                fields.append(Field(e, alias, txt))
                if not p.eat("op", ","):
                    break
        # star + extras: keep both — the compiler emits select('*', *extras)
        sel.star = bool(star) and bool(fields)
        sel.fields = None if star and not fields else fields
    if p.eat("kw", "OMIT"):
        # entries may be plain fields, dotted paths, `.*` wildcards, or
        # destructures `obj.c.{d, f}` (statements/select/omit.surql)
        while True:
            segs = [p.expect("name").text]
            destr: list[str] | None = None
            while p.eat("op", "."):
                if p.eat("op", "*"):
                    segs.append("*")
                    break
                if p.peek().kind == "op" and p.peek().text == "{":
                    p.next()
                    destr = []
                    while not p.eat("op", "}"):
                        destr.append(p.next().text)
                        if not p.eat("op", ","):
                            p.expect("op", "}")
                            break
                    break
                segs.append(p.next().text)
            if destr is not None:
                sel.omit.extend([*segs, d] for d in destr)
            elif len(segs) == 1:
                sel.omit.append(segs[0])
            else:
                sel.omit.append(segs)
            if not p.eat("op", ","):
                break
    p.expect("kw", "FROM")
    sel.only = bool(p.eat("kw", "ONLY"))
    while True:
        if p.peek().kind == "op" and p.peek().text == "(":
            # `FROM (lon, lat)` — geometry point literal source
            # (primitive/geometry/inner_access.surql); otherwise a
            # parenthesized subquery
            nxt = p.toks[p.i + 1] if p.i + 1 < len(p.toks) else None
            if nxt is not None and (nxt.kind == "num" or (
                    nxt.kind == "op" and nxt.text == "-")):
                sel.sources.append(("exprsrc", p.prefix()))
            else:
                p.next()
                sel.sources.append(_parse_select_body(p))
                p.expect("op", ")")
        elif p.peek().kind == "param":
            # FROM $source — DynamicScan: the target resolves at execution
            # from the bound parameter (exec/operators/scan/dynamic.rs:53).
            # A trailing idiom path ($session.ns) makes it a value source.
            pname = p.next().text[1:]
            if p.peek().kind == "op" and p.peek().text in (".", "["):
                sel.sources.append(("exprsrc",
                                    p.postfix(("param", pname))))
            else:
                sel.sources.append(("paramsrc", pname))
        elif p.peek().kind == "kw" and p.peek().text in ("NONE", "NULL"):
            # FROM NONE/NULL — empty source (planner yields no iterations)
            p.next()
            sel.sources.append(("emptysrc",))
        elif p.peek().kind == "op" and p.peek().text == "[":
            # FROM [v, ...] — value-list source; NONE/NULL entries vanish
            arr = p.prefix()
            sel.sources.append(("exprsrc", arr))
        elif p.peek().kind in ("num", "str") or (
            p.peek().kind == "op" and p.peek().text in ("<", "{")
        ):
            # FROM <scalar literal> / <array>lo..hi / { object } — value
            # source
            sel.sources.append(("exprsrc", p.prefix()))
        elif p.peek().kind == "op" and p.peek().text == "|":
            # FROM |tb:n| / |tb:lo..hi| — mock source (expr/mock.rs)
            p.next()
            mtb = p.next().text
            p.expect("op", ":")
            lo = int(p.expect("num").text)
            hi = None
            if p.eat("op", ".."):
                hi = int(p.expect("num").text)
            p.expect("op", "|")
            sel.sources.append(("mocksrc", mtb, lo, hi))
        else:
            # source names may collide with NON-STRUCTURAL keywords
            # (`group`, `order` are fine table names; clause words are not)
            start_i = p.i
            st_ = p.next()
            if st_.kind not in ("name", "kw") or (
                st_.kind == "kw" and st_.text in _NON_SOURCE_KWS
            ):
                raise SyntaxError(f"expected a source, got {st_.text!r} at {st_.pos}")
            if p.peek().kind == "op" and p.peek().text == "(":
                # FROM fn(...) — function-call value source
                # (session::ns(), rand::uuid(); statements/use corpus)
                p.i = start_i
                sel.sources.append(("exprsrc", p.prefix()))
                if not p.eat("op", ","):
                    break
                continue
            tb = st_.orig or st_.text
            if p.peek().kind == "op" and p.peek().text == ":":
                # record-id source: tb:key, tb:lo..hi, tb:lo..=hi, tb:..hi
                # (types/src/value/record_id/key.rs:31-32; the planner's
                # range fast path exec/planner/select.rs:1346-1382)
                p.next()

                def _key():
                    if p.peek().kind == "num":
                        return int(p.next().text)
                    if p.peek().kind == "op" and p.peek().text == "[":
                        # array key bound (record_id/key.rs Array) —
                        # an AST, resolved at compile/execution
                        return ("karr", p.prefix())
                    if p.peek().kind == "op" and p.peek().text == "{":
                        # object key (record_id/key.rs Object) — canonical
                        # sorted text, a point lookup
                        obj = p.prefix()
                        from surrealdb_spark.values import (
                            render_rid_obj, rid_obj_literal)

                        if obj[0] == "object" and rid_obj_literal(obj):
                            return render_rid_obj(obj)
                        return ("karr", obj)
                    if p.peek().kind == "kw" and p.peek().text in (
                            "WHERE", "ORDER", "LIMIT", "START", "GROUP",
                            "SPLIT", "FETCH", "OMIT", "WITH", "TIMEOUT",
                            "PARALLEL", "EXPLAIN"):
                        return None  # open-ended range before a clause
                    if p.peek().kind in ("name", "str", "kw"):
                        t_ = p.next()
                        if t_.kind == "str":
                            return t_.text[1:-1]
                        return t_.orig or t_.text.lower()
                    return None

                lo = None
                lo_excl = False
                if not (p.peek().kind == "op" and p.peek().text in ("..", "..=")):
                    lo = _key()
                    if (p.peek().kind == "op" and p.peek().text == ">"
                            and p.toks[p.i + 1].kind == "op"
                            and p.toks[p.i + 1].text in ("..", "..=")):
                        # `tb:lo>..hi` — exclusive lower bound
                        # (record_id/key.rs Range; reference/range.surql)
                        p.next()
                        lo_excl = True
                if p.peek().kind == "op" and p.peek().text in ("..", "..="):
                    incl = p.next().text == "..="
                    hi = _key()
                    sel.sources.append(("idrange", tb,
                                        ("xlo", lo) if lo_excl else lo,
                                        hi, incl))
                else:
                    sel.sources.append(("idpoint", tb, lo))
                if p.peek().kind == "op" and p.peek().text in (
                        "->", "<-", "<->"):
                    # FROM tb:key->edge... — a graph-walk source: the rows
                    # are the walked edge/target records (SourceExpr over a
                    # lookup; graph/edge_range_syntax.surql) — reparse the
                    # whole segment as one path expression
                    p.i = start_i
                    sel.sources.pop()
                    sel.sources.append(("pathsrc", p.expr(0)))
            else:
                sel.sources.append(tb)
        if not p.eat("op", ","):
            break
    if p.eat("kw", "WITH"):
        # WITH NOINDEX / WITH NO INDEX / WITH INDEX a[, b] — access-path
        # hint (recorded for EXPLAIN; Catalyst plans the real access)
        if p.eat("kw", "NOINDEX") or (
            p.eat_word("NO") and p.expect("kw", "INDEX")
        ):
            sel.with_hint = ("noindex",)
        elif p.eat("kw", "INDEX"):
            names = [_src_name(p)]
            while p.eat("op", ","):
                names.append(_src_name(p))
            sel.with_hint = ("index", names)
    if p.eat("kw", "WHERE"):
        sel.where = p.expr(0)
    if p.eat("kw", "SPLIT"):
        p.eat("kw", "ON")
        while True:
            sel.split.append(p.expect("name").text)
            if not p.eat("op", ","):
                break
    if p.eat("kw", "GROUP"):
        if p.eat("kw", "ALL"):
            sel.group = []
        else:
            p.eat("kw", "BY")
            sel.group = []
            while True:
                sel.group.append(p.expr(0))
                if not p.eat("op", ","):
                    break
    if p.eat("kw", "ORDER"):
        p.eat("kw", "BY")
        while True:
            k = OrderKey(p.expr(0))
            if p.eat("kw", "COLLATE"):
                k.collate = True
            if p.eat("kw", "NUMERIC"):
                k.numeric = True
            if p.eat("kw", "DESC"):
                k.desc = True
            else:
                p.eat("kw", "ASC")
            sel.order.append(k)
            if not p.eat("op", ","):
                break
    # LIMIT and START accept either order (parser/stmt/select.rs)
    for _ in range(2):
        if p.eat("kw", "LIMIT"):
            p.eat("kw", "BY")
            sel.limit = int(p.expect("num").text)
        if p.eat("kw", "START"):
            p.eat("kw", "AT")
            sel.start = int(p.expect("num").text)
    if p.eat("kw", "FETCH"):
        while True:
            if p.peek().kind == "param":
                # `FETCH $param` — resolved to an idiom/string at
                # execution (fetch.rs Fetch::compute on Value::Param)
                sel.fetch.append(("param", p.next().text[1:]))
                if not p.eat("op", ","):
                    break
                continue
            if p.peek().kind == "name" and p.peek().text.startswith(
                    "type::"):
                # `FETCH type::field('x')` / `type::fields([...])` —
                # computed fetch targets (fetch.rs on Value::Function)
                sel.fetch.append(("expr", p.expr(0)))
                if not p.eat("op", ","):
                    break
                continue
            if p.peek().kind == "str":
                t_s = p.next()
                sel.fetch.append(t_s.text[1:-1])
                if not p.eat("op", ","):
                    break
                continue
            name = p.expect("name").text
            # dotted fetch paths (`FETCH author.company`) dereference
            # every record link along the path and embed each level
            # (expr/fetch.rs Fetchs; exec/operators/fetch.rs:27); a `*`
            # segment keeps the base path (whole-record fetch subsumes)
            segs = [name]
            while p.eat("op", "."):
                nt = p.next()
                if nt.kind == "op" and nt.text == "*":
                    continue
                if nt.kind not in ("name", "kw"):
                    raise SyntaxError(
                        f"bad FETCH path segment {nt.text!r}")
                segs.append(nt.orig or nt.text)
            path = ".".join(segs)
            if path not in sel.fetch:
                sel.fetch.append(path)
            if not p.eat("op", ","):
                break
    if p.eat_word("VERSION"):
        # SELECT ... VERSION d'...' (version_scope.rs; soft keyword)
        sel.version = p.expr(0)
    if p.eat("kw", "TIMEOUT"):
        # duration or $param — recorded so a zero timeout can error like
        # the reference (batch jobs have no soft deadline otherwise)
        if p.peek().kind == "param":
            sel.timeout = ("param", p.next().text[1:])
        else:
            t0 = p.next()
            chain = t0.text
            while p.peek().kind in ("num", "name") and \
                    p.peek().pos == p.toks[p.i - 1].pos + len(p.toks[p.i - 1].text):
                chain += p.next().text
            sel.timeout = _parse_duration_nanos(chain)
    if p.eat("kw", "PARALLEL"):
        pass  # Spark parallelizes everything already
    if p.eat_word("TEMPFILES"):
        pass  # external-sort hint: Spark spills automatically
    if p.eat("kw", "EXPLAIN"):
        sel.explain = "full" if p.eat_word("FULL") else "plain"
    return sel


def _src_name(p: Parser) -> str:
    t = p.next()
    return t.orig or t.text


# -- statement splitting ------------------------------------------------------


def _strip_comments(src: str) -> str:
    """Remove `--`/`//`/`#` line comments and `/* */` blocks, respecting
    strings (surql comment syntax: syn lexer in the reference parser)."""
    out: list[str] = []
    i, n = 0, len(src)
    while i < n:
        ch = src[i]
        if ch in "'\"":
            q = ch
            out.append(ch)
            i += 1
            while i < n:
                out.append(src[i])
                if src[i] == "\\" and i + 1 < n:
                    out.append(src[i + 1])
                    i += 2
                    continue
                if src[i] == q:
                    i += 1
                    break
                i += 1
            continue
        if src.startswith("/*", i):
            j = src.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        if src.startswith("--", i) or src.startswith("//", i) or ch == "#":
            j = src.find("\n", i)
            i = n if j < 0 else j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def split_statements(src: str, lenient_keywords: bool = False) -> list[str]:
    """Top-level `;` split, respecting strings, bracket nesting, and the
    worded IF block form.

    `IF cond THEN body; ELSE IF cond THEN body; ELSE body; END` is ONE
    statement whose branch bodies may each end with an optional `;`
    (syn/parser/stmt/if.rs parse_worded_tail: a single END closes the
    whole ELSE-IF chain; the bracketed form `IF cond { .. }` has no END
    and its braces nest normally).  `IF [NOT] EXISTS` inside DEFINE/
    REMOVE/ALTER is not a block opener.
    """
    src = _strip_comments(src)
    out: list[str] = []
    cur: list[str] = []
    depth = 0
    # worded-IF tracking at bracket depth 0: each entry is "cond" (seen
    # IF, awaiting THEN or '{') or "worded" (THEN seen — needs END)
    ifstack: list[str] = []
    prev_word = ""
    i, n = 0, len(src)

    def _next_word(j: int) -> str:
        while j < n and src[j].isspace():
            j += 1
        k = j
        while k < n and (src[k].isalnum() or src[k] == "_"):
            k += 1
        return src[j:k].upper()

    while i < n:
        ch = src[i]
        if ch in "'\"":
            q = ch
            cur.append(ch)
            i += 1
            while i < n:
                cur.append(src[i])
                if src[i] == "\\" and i + 1 < n:
                    cur.append(src[i + 1])
                    i += 2
                    continue
                if src[i] == q:
                    i += 1
                    break
                i += 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (src[j].isalnum() or src[j] == "_"):
                j += 1
            word = src[i:j].upper()
            if (lenient_keywords and depth == 0 and not ifstack
                    and word in ("CREATE", "UPDATE", "UPSERT", "DELETE",
                                 "INSERT", "RELATE", "DEFINE", "REMOVE",
                                 "LET", "RETURN", "FOR", "THROW")
                    and "".join(cur).rstrip().endswith("}")):
                # block bodies may omit the `;` after a `}`-terminated
                # statement (fetch/objects.surql setup block runs in the
                # reference without one) — a following statement keyword
                # is an implicit boundary
                stmt0 = "".join(cur).strip()
                if stmt0:
                    out.append(stmt0)
                cur = []
            if depth == 0:
                if word == "IF" and prev_word != "ELSE" \
                        and _next_word(j) not in ("NOT", "EXISTS"):
                    ifstack.append("cond")
                elif word == "THEN" and ifstack and ifstack[-1] == "cond":
                    ifstack[-1] = "worded"
                elif word == "END" and ifstack and ifstack[-1] == "worded":
                    ifstack.pop()
            prev_word = word
            cur.append(src[i:j])
            i = j
            continue
        if ch in "([{":
            if ch == "{" and depth == 0 and ifstack and ifstack[-1] == "cond":
                ifstack.pop()  # bracketed form: braces nest, no END
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == ";" and depth == 0 and not ifstack:
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out

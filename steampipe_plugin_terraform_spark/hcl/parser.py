"""Tokenizer + recursive-descent parser for HCL2 (Terraform configuration).

Output contract (matches the kics Terraform parser the reference consumes,
observed via /root/reference/terraform/table_terraform_*.go builders):

- A file parses to a list of top-level ``Block`` objects, each carrying
  ``block_type`` (e.g. ``resource``), ``labels`` (e.g. ``["aws_instance",
  "app_server"]``), a ``body`` dict, ``start_line``/``end_line`` (1-based,
  inclusive, header line through closing-brace line) and top-level
  ``attributes`` where present (.tfvars-style).
- Attribute values render as: native Python for pure literals (numbers, bools,
  null, strings, and tuples/objects of literals); the raw expression source
  wrapped as ``"${...}"`` for anything else (references, function calls,
  operators, conditionals, for-expressions, splats). A quoted template that
  already contains interpolation keeps its inner text verbatim
  (``"a-${var.x}"`` -> ``a-${var.x}``).
- Nested blocks become dict entries; a repeated nested block name becomes a
  list of dicts (this is why the reference needs dict-or-list normalization,
  /root/reference/terraform/table_terraform_provider.go:119-145 — we reproduce
  the shape, then normalize once in the table builders).

The parser is position-aware: every block records its source line span so the
engine can serve the ``start_line``/``end_line``/``source`` columns without the
reference's per-row file re-parse (/root/reference/terraform/utils.go:268-298).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

# ---------------------------------------------------------------------------
# Tokens
# ---------------------------------------------------------------------------

# Operators: the one three-char one, then two-char ones, then single chars
# (longest match first).
_OPS_2 = frozenset(("==", "!=", "<=", ">=", "&&", "||", "=>", "::", ".*"))
_SINGLE_OPS = "{}[](),:.?=+-*/%<>!"

_IDENT_CONT = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_0123456789-")
_DIGITS = set("0123456789")

# Runs the tokenizer consumes whole instead of one character at a time:
# blanks, identifiers, and string characters with no meaning in a template
# outside (``_PLAIN``) or inside (``_PLAIN_INTERP``) a ``${``/``%{``.
_BLANKS = re.compile(r"[ \t\r]+")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_-]*")
_PLAIN = re.compile(r'[^\\"$%]+')
_PLAIN_INTERP = re.compile(r'[^"$%}]+')
_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\"}


class HCLParseError(ValueError):
    def __init__(self, msg: str, line: int):
        super().__init__(f"line {line}: {msg}")
        self.line = line


@dataclass
class Token:
    kind: str  # IDENT NUMBER STRING HEREDOC OP NEWLINE EOF
    value: Any
    line: int
    start: int  # byte offset into source (inclusive)
    end: int  # byte offset (exclusive)
    has_interp: bool = False  # STRING only


def tokenize(src: str) -> list[Token]:
    toks: list[Token] = []
    i, n, line = 0, len(src), 1

    def err(msg: str) -> HCLParseError:
        return HCLParseError(msg, line)

    while i < n:
        c = src[i]
        # -- whitespace (newline is significant) --
        if c in " \t\r":
            i = _BLANKS.match(src, i).end()
            continue
        if c == "\n":
            toks.append(Token("NEWLINE", "\n", line, i, i + 1))
            line += 1
            i += 1
            continue
        # -- comments --
        if c == "#" or (c == "/" and src[i + 1 : i + 2] == "/"):
            j = src.find("\n", i)
            i = n if j < 0 else j
            continue
        if c == "/" and src[i + 1 : i + 2] == "*":
            j = src.find("*/", i + 2)
            if j < 0:
                raise err("unterminated block comment")
            line += src.count("\n", i, j)
            i = j + 2
            continue
        # -- heredoc (must check before '<' operator) --
        if c == "<" and src[i + 1 : i + 2] == "<":
            j = i + 2
            indent = False
            if j < n and src[j] == "-":
                indent = True
                j += 1
            k = j
            while k < n and (src[k] in _IDENT_CONT):
                k += 1
            tag = src[j:k]
            if tag and k < n and src[k] in "\r\n":
                start_line = line
                # skip to end of the heredoc intro line
                while k < n and src[k] != "\n":
                    k += 1
                k += 1
                line += 1
                lines: list[str] = []
                closed = False
                while k < n:
                    eol = src.find("\n", k)
                    if eol < 0:
                        eol = n
                    text = src[k:eol]
                    if text.strip() == tag:
                        closed = True
                        k = eol + 1 if eol < n else n
                        line += 1
                        break
                    lines.append(text)
                    k = eol + 1 if eol < n else n
                    line += 1
                if not closed:
                    raise HCLParseError(f"unterminated heredoc <<{tag}", start_line)
                if indent and lines:
                    pad = min((len(t) - len(t.lstrip()) for t in lines if t.strip()), default=0)
                    lines = [t[pad:] if len(t) >= pad else t for t in lines]
                value = "\n".join(lines) + ("\n" if lines else "")
                toks.append(Token("HEREDOC", value, start_line, i, k))
                # the heredoc consumed its trailing newline; emit NEWLINE so the
                # parser sees the statement boundary
                toks.append(Token("NEWLINE", "\n", line, k - 1, k))
                i = k
                continue
            # fall through: '<' '<' operators
        # -- strings / templates --
        if c == '"':
            start, start_line = i, line
            i += 1
            buf: list[str] = []
            has_interp = False
            depth = 0  # ${ / %{ nesting depth
            while i < n:
                run = (_PLAIN if depth == 0 else _PLAIN_INTERP).match(src, i)
                if run is not None:
                    j = run.end()
                    line += src.count("\n", i, j)
                    buf.append(src[i:j])
                    i = j
                    if i >= n:
                        break
                ch = src[i]
                if ch == "\\":  # only at depth 0: plain inside ${ }
                    if i + 1 >= n:
                        raise err("dangling escape")
                    nxt = src[i + 1]
                    if nxt == "u" and i + 5 < n:
                        try:
                            buf.append(chr(int(src[i + 2 : i + 6], 16)))
                        except ValueError:
                            raise err(f"invalid \\u escape {src[i:i + 6]!r}") from None
                        i += 6
                        continue
                    buf.append(_ESCAPES.get(nxt, "\\" + nxt))
                    i += 2
                    continue
                if ch in "$%":
                    after = src[i + 1 : i + 3]
                    if after == ch + "{":
                        # HCL escape: $${ evaluates to the literal ${ (same for
                        # %%{) — unescape so pure-literal strings match what the
                        # kics/hcl template evaluation produces
                        buf.append(after)
                        i += 3
                        continue
                    if after[:1] == "{":
                        has_interp = True
                        depth += 1
                        buf.append(ch + "{")
                        i += 2
                        continue
                    buf.append(ch)
                    i += 1
                    continue
                if ch == "}":  # only inside ${ }: plain at depth 0
                    depth -= 1
                    buf.append(ch)
                    i += 1
                    continue
                if depth == 0:  # the closing quote
                    break
                # nested quoted string inside interpolation — copy verbatim
                buf.append(ch)
                i += 1
                while i < n and src[i] != '"':
                    if src[i] == "\\":
                        buf.append(src[i : i + 2])
                        i += 2
                        continue
                    if src[i] == "\n":
                        line += 1
                    buf.append(src[i])
                    i += 1
                if i >= n:
                    raise HCLParseError("unterminated string", start_line)
                buf.append('"')
                i += 1
            if i >= n:
                raise HCLParseError("unterminated string", start_line)
            i += 1  # closing quote
            if has_interp:
                # keep raw inner text verbatim (kics keeps "${var.x}" as-is)
                value = src[start + 1 : i - 1]
            else:
                value = "".join(buf)
            toks.append(Token("STRING", value, start_line, start, i, has_interp=has_interp))
            continue
        # -- numbers --
        if c in _DIGITS:
            start = i
            while i < n and src[i] in _DIGITS:
                i += 1
            is_float = False
            if i < n and src[i] == "." and i + 1 < n and src[i + 1] in _DIGITS:
                is_float = True
                i += 1
                while i < n and src[i] in _DIGITS:
                    i += 1
            if i < n and src[i] in "eE":
                j = i + 1
                if j < n and src[j] in "+-":
                    j += 1
                if j < n and src[j] in _DIGITS:
                    is_float = True
                    i = j
                    while i < n and src[i] in _DIGITS:
                        i += 1
            text = src[start:i]
            toks.append(Token("NUMBER", float(text) if is_float else int(text), line, start, i))
            continue
        # -- identifiers --
        ident = _IDENT.match(src, i)
        if ident is not None:
            toks.append(Token("IDENT", ident.group(), line, i, ident.end()))
            i = ident.end()
            continue
        # -- operators / punctuation --
        if src[i : i + 3] == "...":
            op = "..."
        elif src[i : i + 2] in _OPS_2:
            op = src[i : i + 2]
        elif c in _SINGLE_OPS:
            op = c
        else:
            raise err(f"unexpected character {c!r}")
        toks.append(Token("OP", op, line, i, i + len(op)))
        i += len(op)
    toks.append(Token("EOF", None, line, n, n))
    return toks


# ---------------------------------------------------------------------------
# AST-lite: literal nodes render natively, everything else renders as ${src}
# ---------------------------------------------------------------------------


@dataclass
class _Node:
    start: int
    end: int


@dataclass
class _Lit(_Node):
    value: Any = None


@dataclass
class _Tuple(_Node):
    items: list = field(default_factory=list)


@dataclass
class _Obj(_Node):
    pairs: list = field(default_factory=list)  # [(key, node)]


@dataclass
class _Raw(_Node):
    pass


@dataclass
class Block:
    block_type: str
    labels: list[str]
    body: dict
    start_line: int
    end_line: int


class _Parser:
    def __init__(self, src: str):
        self.src = src
        self.toks = tokenize(src)
        self.pos = 0

    # -- token helpers --
    def peek(self, k: int = 0) -> Token:
        j = min(self.pos + k, len(self.toks) - 1)
        return self.toks[j]

    def next(self) -> Token:
        t = self.toks[self.pos]
        if t.kind != "EOF":
            self.pos += 1
        return t

    def skip_newlines(self) -> None:
        while self.peek().kind == "NEWLINE":
            self.next()

    def expect_op(self, op: str) -> Token:
        t = self.next()
        if t.kind != "OP" or t.value != op:
            raise HCLParseError(f"expected {op!r}, got {t.kind}:{t.value!r}", t.line)
        return t

    def err(self, msg: str) -> HCLParseError:
        return HCLParseError(msg, self.peek().line)

    # -- file / body --
    def parse_file(self) -> list[Block]:
        blocks: list[Block] = []
        attrs: dict[str, Any] = {}
        self.skip_newlines()
        while self.peek().kind != "EOF":
            item = self.parse_body_item(top_level=True)
            if isinstance(item, Block):
                blocks.append(item)
            else:
                k, v = item
                attrs[k] = v
            self.skip_newlines()
        if attrs:
            # .tfvars-style top-level attributes surface as a pseudo-block so
            # callers see one uniform shape.
            blocks.append(Block("__attributes__", [], attrs, 1, self.toks[-1].line))
        return blocks

    def parse_body_item(self, top_level: bool = False):
        t = self.peek()
        if t.kind not in ("IDENT", "STRING"):
            raise self.err(f"expected identifier, got {t.kind}:{t.value!r}")
        name_tok = self.next()
        name = str(name_tok.value)
        nxt = self.peek()
        if nxt.kind == "OP" and nxt.value == "=":
            self.next()
            node = self.parse_expression()
            return (name, _render(node, self.src))
        # block: labels then '{'
        labels: list[str] = []
        while True:
            p = self.peek()
            if p.kind in ("STRING", "IDENT"):
                labels.append(str(self.next().value))
                continue
            if p.kind == "OP" and p.value == "{":
                break
            raise self.err(f"expected block label or '{{', got {p.kind}:{p.value!r}")
        self.expect_op("{")
        body, end_line = self.parse_block_body()
        return Block(name, labels, body, name_tok.line, end_line)

    def parse_block_body(self) -> tuple[dict, int]:
        body: dict[str, Any] = {}
        self.skip_newlines()
        while True:
            t = self.peek()
            if t.kind == "OP" and t.value == "}":
                end = self.next()
                return body, end.line
            if t.kind == "EOF":
                raise self.err("unexpected EOF in block body")
            item = self.parse_body_item()
            if isinstance(item, Block):
                _insert_block(body, item.block_type, item.labels, item.body)
            else:
                k, v = item
                prev = body.get(k)
                if isinstance(prev, list):
                    # attr sharing a name with accumulated block bodies —
                    # preserve both (mirror of _insert_block's collision rule)
                    prev.append(v)
                elif isinstance(prev, dict):
                    body[k] = [prev, v]
                else:
                    body[k] = v  # plain re-assignment: HCL attr last-wins
            self.skip_newlines()

    # -- expressions --
    def parse_expression(self) -> _Node:
        node = self.parse_ternary()
        return node

    def parse_ternary(self) -> _Node:
        cond = self.parse_binary(0)
        t = self.peek()
        if t.kind == "OP" and t.value == "?":
            self.next()
            self.skip_newlines()
            a = self.parse_ternary()
            self.skip_newlines()
            self.expect_op(":")
            self.skip_newlines()
            b = self.parse_ternary()
            return _Raw(cond.start, b.end)
        return cond

    _BIN_LEVELS = [
        {"||"},
        {"&&"},
        {"==", "!="},
        {"<", ">", "<=", ">="},
        {"+", "-"},
        {"*", "/", "%"},
    ]

    def parse_binary(self, level: int) -> _Node:
        if level >= len(self._BIN_LEVELS):
            return self.parse_unary()
        left = self.parse_binary(level + 1)
        ops = self._BIN_LEVELS[level]
        while True:
            t = self.peek()
            if t.kind == "OP" and t.value in ops:
                self.next()
                self.skip_newlines()
                right = self.parse_binary(level + 1)
                left = _Raw(left.start, right.end)
                continue
            break
        return left

    def parse_unary(self) -> _Node:
        t = self.peek()
        if t.kind == "OP" and t.value in ("-", "!"):
            op_tok = self.next()
            operand = self.parse_unary()
            if op_tok.value == "-" and isinstance(operand, _Lit) and isinstance(operand.value, (int, float)):
                return _Lit(op_tok.start, operand.end, -operand.value)
            return _Raw(op_tok.start, operand.end)
        return self.parse_postfix()

    def parse_postfix(self) -> _Node:
        node = self.parse_primary()
        while True:
            t = self.peek()
            if t.kind == "OP" and t.value == ".":
                nxt = self.peek(1)
                if nxt.kind in ("IDENT", "NUMBER") or (nxt.kind == "OP" and nxt.value == "*"):
                    self.next()
                    end_tok = self.next()
                    node = _Raw(node.start, end_tok.end)
                    continue
                break
            if t.kind == "OP" and t.value == ".*":
                end_tok = self.next()
                node = _Raw(node.start, end_tok.end)
                continue
            if t.kind == "OP" and t.value == "[":
                self.next()
                self.skip_newlines()
                if self.peek().kind == "OP" and self.peek().value == "*":
                    self.next()
                self.skip_newlines()
                if not (self.peek().kind == "OP" and self.peek().value == "]"):
                    self.parse_expression()
                    self.skip_newlines()
                end_tok = self.expect_op("]")
                node = _Raw(node.start, end_tok.end)
                continue
            if t.kind == "OP" and t.value == "(":
                # function call (on an identifier/namespaced reference)
                self.next()
                self.skip_newlines()
                while not (self.peek().kind == "OP" and self.peek().value == ")"):
                    if self.peek().kind == "EOF":
                        raise self.err("unterminated call")
                    self.parse_expression()
                    self.skip_newlines()
                    p = self.peek()
                    if p.kind == "OP" and p.value in (",", "..."):
                        self.next()
                        self.skip_newlines()
                end_tok = self.expect_op(")")
                node = _Raw(node.start, end_tok.end)
                continue
            if t.kind == "OP" and t.value == "::":
                # namespaced function reference, e.g. provider::fn(...)
                self.next()
                end_tok = self.next()
                node = _Raw(node.start, end_tok.end)
                continue
            break
        return node

    def parse_primary(self) -> _Node:
        t = self.peek()
        if t.kind == "NUMBER":
            tok = self.next()
            return _Lit(tok.start, tok.end, tok.value)
        if t.kind in ("STRING", "HEREDOC"):
            tok = self.next()
            return _Lit(tok.start, tok.end, tok.value)
        if t.kind == "IDENT":
            if t.value in ("true", "false", "null"):
                tok = self.next()
                val = {"true": True, "false": False, "null": None}[tok.value]
                # a bare keyword followed by postfix ops is a reference, but
                # true/false/null take no postfix in valid HCL
                return _Lit(tok.start, tok.end, val)
            tok = self.next()
            return _Raw(tok.start, tok.end)
        if t.kind == "OP" and t.value == "[":
            return self.parse_tuple()
        if t.kind == "OP" and t.value == "{":
            return self.parse_object()
        if t.kind == "OP" and t.value == "(":
            open_tok = self.next()
            self.skip_newlines()
            inner = self.parse_expression()
            self.skip_newlines()
            close_tok = self.expect_op(")")
            if isinstance(inner, _Lit):
                return _Lit(open_tok.start, close_tok.end, inner.value)
            return _Raw(open_tok.start, close_tok.end)
        raise self.err(f"unexpected token {t.kind}:{t.value!r} in expression")

    def parse_tuple(self) -> _Node:
        open_tok = self.expect_op("[")
        self.skip_newlines()
        # for-expression → raw
        if self.peek().kind == "IDENT" and self.peek().value == "for":
            end = self._skip_balanced("[", "]")
            return _Raw(open_tok.start, end)
        items: list[_Node] = []
        while True:
            self.skip_newlines()
            p = self.peek()
            if p.kind == "OP" and p.value == "]":
                end_tok = self.next()
                return _Tuple(open_tok.start, end_tok.end, items)
            if p.kind == "EOF":
                raise self.err("unterminated tuple")
            items.append(self.parse_expression())
            self.skip_newlines()
            p = self.peek()
            if p.kind == "OP" and p.value == ",":
                self.next()
            elif p.kind == "OP" and p.value == "]":
                continue
            elif p.kind == "NEWLINE":
                continue
            elif p.kind == "EOF":
                raise self.err("unterminated tuple")

    def parse_object(self) -> _Node:
        open_tok = self.expect_op("{")
        self.skip_newlines()
        if self.peek().kind == "IDENT" and self.peek().value == "for":
            end = self._skip_balanced("{", "}")
            return _Raw(open_tok.start, end)
        pairs: list[tuple[str, _Node]] = []
        while True:
            self.skip_newlines()
            p = self.peek()
            if p.kind == "OP" and p.value == "}":
                end_tok = self.next()
                return _Obj(open_tok.start, end_tok.end, pairs)
            if p.kind == "EOF":
                raise self.err("unterminated object")
            # key: IDENT | STRING | (expr)
            if p.kind in ("IDENT", "STRING", "NUMBER"):
                key_tok = self.next()
                key = str(key_tok.value)
            elif p.kind == "OP" and p.value == "(":
                node = self.parse_primary()
                key = self.src[node.start : node.end]
            else:
                raise self.err(f"bad object key {p.kind}:{p.value!r}")
            sep = self.next()
            if not (sep.kind == "OP" and sep.value in ("=", ":")):
                raise HCLParseError(f"expected '=' or ':' after object key, got {sep.value!r}", sep.line)
            self.skip_newlines()
            val = self.parse_expression()
            pairs.append((key, val))
            self.skip_newlines()
            p = self.peek()
            if p.kind == "OP" and p.value == ",":
                self.next()

    def _skip_balanced(self, open_ch: str, close_ch: str) -> int:
        """Consume tokens until the matching close bracket (depth already 1).

        Used for for-expressions, which render raw; returns end offset.
        """
        depth = 1
        while depth > 0:
            t = self.next()
            if t.kind == "EOF":
                raise self.err(f"unterminated {open_ch}...{close_ch}")
            if t.kind == "OP":
                if t.value in ("[", "{", "("):
                    depth += 1
                elif t.value in ("]", "}", ")"):
                    depth -= 1
            end = t.end
        return end


def _insert_block(container: dict, name: str, labels: list[str], body: Any) -> None:
    """Insert a block into a document dict, kics-shape.

    Labeled blocks nest by label path (``resource "t" "n"`` →
    ``container["resource"]["t"]["n"]``); a collision on the FULL path — a
    repeated ``provider "aws"`` or a repeated unlabeled ``filter``/``locals``
    — accumulates the bodies into a list (the dict-or-list shape the reference
    normalizes, /root/reference/terraform/table_terraform_provider.go:119-145).
    """
    cur = container
    path = [name] + list(labels)
    for depth, key in enumerate(path[:-1]):
        nxt = cur.get(key)
        if nxt is None:
            nxt = {}
            cur[key] = nxt
            cur = nxt
        elif isinstance(nxt, dict):
            cur = nxt
        else:
            # incompatible shapes at this key (e.g. unlabeled `filter {}`
            # bodies already accumulated, now a labeled `filter "x" {}`):
            # preserve BOTH by appending the nested remainder to a list
            # instead of silently overwriting the earlier bodies
            rest: Any = body
            for k2 in reversed(path[depth + 1 :]):
                rest = {k2: rest}
            if isinstance(nxt, list):
                nxt.append(rest)
            else:
                cur[key] = [nxt, rest]
            return
    leaf = path[-1]
    if leaf not in cur:
        cur[leaf] = body
    elif isinstance(cur[leaf], list):
        cur[leaf].append(body)
    else:
        cur[leaf] = [cur[leaf], body]


def _render(node: _Node, src: str) -> Any:
    if isinstance(node, _Lit):
        return node.value
    if isinstance(node, _Tuple):
        return [_render(i, src) for i in node.items]
    if isinstance(node, _Obj):
        return {k: _render(v, src) for k, v in node.pairs}
    # _Raw → "${<source text>}" (collapse internal newlines/runs of spaces the
    # way a single-line rendering would read)
    text = src[node.start : node.end]
    text = " ".join(text.split()) if "\n" in text else text
    return "${" + text + "}"


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def parse_file(src: str) -> list[Block]:
    """Parse HCL source into a list of top-level blocks with positions."""
    return _Parser(src).parse_file()


def parse_document(src: str) -> dict:
    """Parse into a kics-style document: top-level blocks grouped by type.

    ``resource "t" "n" {…}`` → ``doc["resource"]["t"]["n"] = body``;
    repeated same-keyed blocks become lists (the shape the reference
    normalizes in its providers/locals builders).
    """
    doc: dict[str, Any] = {}
    for blk in parse_file(src):
        _insert_block(doc, blk.block_type, blk.labels, blk.body)
    return doc

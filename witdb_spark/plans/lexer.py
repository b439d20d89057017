"""The one SQL lexer behind every Trino -> Spark text rewrite.

A text is tokenized into single-quoted strings (``''`` escapes a quote;
an unterminated string runs to the end of the text), ``--`` and
``/* */`` comments, ``"quoted identifiers"``, words, whitespace runs and
single punctuation characters — concatenating the tokens gives back the
text. Strings and comments are the only non-code tokens: a rewrite
never starts a match inside them. Quoted identifiers are code (the
segment pass respells them as backticks), but a quote or bracket inside
one no longer flips the string state or the nesting.

Every code ``(`` and ``[`` records the index of its matching close (one
stack per bracket kind), and every position has a paren depth, with the
convention that an opening paren carries the incremented depth and a
closing paren the decremented one — so every character of a scope, its
opening paren included, shares the scope's depth.

Each part of the analysis is built on first use: the string/comment
spans (one regex scan), the bracket events (one regex scan plus a loop
over the brackets) and the token list. ``lex`` memoizes the analysis per
text, so a pass that has not spliced new text in since the previous pass
reuses the same ``Lexed``. A pass whose pattern never matches costs one
regex scan and no lexing, and none at all when the pattern opens with a
whole word the text does not contain.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from functools import cached_property, lru_cache
from itertools import accumulate
from typing import NamedTuple

__all__ = ["Lexed", "UnsupportedTrinoSyntax", "is_comment", "lex", "split"]


class UnsupportedTrinoSyntax(ValueError):
    pass


_NONCODE = r"'[^']*(?:''[^']*)*'?|--[^\n]*|/\*.*?(?:\*/|\Z)"
_QIDENT = r'"[^"]*(?:""[^"]*)*"?'
# string literals and comments (non-code), quoted identifiers (code, but
# their content must not open a string or a comment)
_SPECIAL = re.compile(f"{_NONCODE}|{_QIDENT}", re.S)
_TOKEN = re.compile(f"{_NONCODE}|{_QIDENT}|\\w+|\\s+|.", re.S)
_BRACKET = re.compile(r"[()\[\]]")
_COMMA = re.compile(",")
_ANGLE_SPLIT = re.compile(r"[()\[\]<>,]")
_WORD = re.compile(r"\w+")
# a regex without alternation that opens with a whole word: \bNAME then
# \b, \s+ or \s*\( — every match holds NAME as a whole \w+ word
_LEAD_WORD = re.compile(r"\\b(\w+)(?:\\b|\\s\+|\\s\*\\\()")


def is_comment(tok: str) -> bool:
    return tok[:2] in ("--", "/*")


class _Brackets(NamedTuple):
    """Per code bracket, in text order: its position, the paren depth
    after it, the innermost open paren after it and the innermost open
    bracket of either kind after it (-1 for the top level); plus the
    open -> close and close -> open maps."""

    pos: list[int]
    depth: list[int]
    encl: list[int]
    encl_any: list[int]
    closes: dict[int, int]
    opens: dict[int, int]


class Lexed:
    """The lexical analysis of one text plus the lookups rewrites share."""

    def __init__(self, text: str):
        self.text = text

    @cached_property
    def _spans(self) -> tuple[list[int], list[int], list[bool]]:
        """Strings, comments and quoted identifiers: span starts, ends,
        and whether the span is code (only quoted identifiers are)."""
        ss, se, sc = [], [], []
        for m in _SPECIAL.finditer(self.text):
            ss.append(m.start())
            se.append(m.end())
            sc.append(self.text[m.start()] == '"')
        return ss, se, sc

    @cached_property
    def _brackets(self) -> _Brackets:
        text = self.text
        ss, se, _sc = self._spans
        b = _Brackets([], [], [], [], {}, {})
        parens, squares = [-1], [-1]  # open-bracket stacks; -1 = top level
        depth = 0
        for lo, hi in zip([0, *se], [*ss, len(text)]):  # between spans
            for m in _BRACKET.finditer(text, lo, hi):
                p = m.start()
                c = text[p]
                if c == "(":
                    parens.append(p)
                    depth += 1
                elif c == "[":
                    squares.append(p)
                else:
                    st = parens if c == ")" else squares
                    if len(st) > 1:
                        o = st.pop()
                        b.closes[o] = p
                        b.opens[p] = o
                    if c == ")":
                        depth -= 1
                b.pos.append(p)
                b.depth.append(depth)
                b.encl.append(parens[-1])
                b.encl_any.append(max(parens[-1], squares[-1]))
        return b

    @property
    def closes(self) -> dict[int, int]:
        """Open bracket index -> index of its matching close."""
        return self._brackets.closes

    @property
    def opens(self) -> dict[int, int]:
        """Close bracket index -> index of its matching open."""
        return self._brackets.opens

    # ---- positions ---------------------------------------------------
    def _special(self, pos: int) -> int:
        """Index of the string/comment/quoted-identifier span holding
        ``pos``, or -1."""
        ss, se, _sc = self._spans
        i = bisect_right(ss, pos) - 1
        return i if i >= 0 and pos < se[i] else -1

    def is_code(self, pos: int) -> bool:
        """True unless ``pos`` lies inside a string literal or comment."""
        i = self._special(pos)
        return i < 0 or self._spans[2][i]

    def _last_bracket(self, pos: int) -> int:
        """Index of the last code bracket at or before ``pos``, or -1."""
        return bisect_right(self._brackets.pos, pos) - 1

    def depth(self, pos: int) -> int:
        i = self._last_bracket(pos)
        return self._brackets.depth[i] if i >= 0 else 0

    def encl(self, pos: int) -> int:
        """Index of the innermost unclosed ``(`` at ``pos`` (-1 at top)."""
        i = self._last_bracket(pos)
        return self._brackets.encl[i] if i >= 0 else -1

    def close(self, open_idx: int) -> int:
        """Index of the bracket that closes the ``(``/``[`` at open_idx."""
        c = self.closes.get(open_idx)
        if c is None:
            raise UnsupportedTrinoSyntax(
                f"unbalanced {self.text[open_idx:open_idx + 1]!r} at"
                f" position {open_idx}"
            )
        return c

    def scope_end(self, pos: int) -> int:
        """Index of the ``)`` closing the paren scope that holds ``pos``
        (len(text) at top level or when that scope never closes)."""
        return self.closes.get(self.encl(pos), len(self.text))

    # ---- tokens ------------------------------------------------------
    @cached_property
    def toks(self) -> list[str]:
        return _TOKEN.findall(self.text)

    @cached_property
    def starts(self) -> list[int]:
        return list(accumulate(map(len, self.toks), initial=0))[:-1]

    def index(self, pos: int) -> int:
        """Index of the token containing character ``pos``."""
        return bisect_right(self.starts, pos) - 1

    def prev_code_token(self, pos: int) -> str | None:
        """The nearest token before ``pos`` that is neither whitespace
        nor a comment (None at the start of the text)."""
        i = self.index(pos) - 1 if pos < len(self.text) else len(self.toks) - 1
        while i >= 0:
            t = self.toks[i]
            if not (t.isspace() or is_comment(t)):
                return t
            i -= 1
        return None

    def top_level(self, lo: int = 0, hi: int | None = None):
        """Indices of the tokens in text[lo:hi] outside any ``()``/``[]``
        group opened in that range. A group's open and close tokens are
        yielded; everything between them is skipped."""
        hi = len(self.text) if hi is None else hi
        starts, toks = self.starts, self.toks
        i, n = self.index(lo) if lo < len(self.text) else len(toks), len(toks)
        while i < n and starts[i] < hi:
            yield i
            if toks[i] in ("(", "["):
                c = self.closes.get(starts[i])
                if c is None or c >= hi:
                    return  # the rest of the range is inside the group
                i = self.index(c)
                yield i
            i += 1

    # ---- code-only regex ---------------------------------------------
    @cached_property
    def _words(self) -> frozenset[str] | None:
        """Every \\w+ word of an ASCII text, lowercased (None otherwise:
        re.I folds some non-ASCII letters onto ASCII ones)."""
        if not self.text.isascii():
            return None
        return frozenset(_WORD.findall(self.text.lower()))

    def finditer(self, pattern, pos: int = 0, endpos: int | None = None,
                 flags=re.I):
        """Matches of ``pattern`` that start in code."""
        rx = re.compile(pattern, flags) if isinstance(pattern, str) else pattern
        # a pattern opening with a whole word cannot match a text without
        # that word: skip the scan (a leading \b keeps the regex engine
        # from using its fast literal-prefix search)
        lead = _LEAD_WORD.match(rx.pattern)
        if (
            lead
            and "|" not in rx.pattern
            and self._words is not None
            and lead[1].lower() not in self._words
        ):
            return iter(())
        it = rx.finditer(self.text, pos, len(self.text) if endpos is None else endpos)
        return (m for m in it if self.is_code(m.start()))

    def search(self, pattern, pos: int = 0, endpos: int | None = None,
               flags=re.I):
        return next(self.finditer(pattern, pos, endpos, flags), None)

    def at_depth(self, pattern, d: int, pos: int = 0, endpos: int | None = None):
        """Code matches of ``pattern`` that start at paren depth ``d``."""
        return (
            m for m in self.finditer(pattern, pos, endpos) if self.depth(m.start()) == d
        )

    def sub(self, pattern, repl: str, flags=re.I) -> str:
        """``re.sub`` over matches that start in code; ``repl`` is literal."""
        out, last = [], 0
        for m in self.finditer(pattern, flags=flags):
            out.append(self.text[last : m.start()])
            out.append(repl)
            last = m.end()
        out.append(self.text[last:])
        return "".join(out)

    def _pieces(self):
        """(piece, is_code) runs covering the text: each string literal
        or comment alone, and the maximal code runs between them."""
        last = 0
        for s, e, code in zip(*self._spans):
            if code:
                continue
            if s > last:
                yield self.text[last:s], True
            yield self.text[s:e], False
            last = e
        if last < len(self.text):
            yield self.text[last:], True

    def map_code(self, fn) -> str:
        """Apply ``fn`` to every maximal run of code between string
        literals and comments; those are kept verbatim."""
        return "".join(fn(p) if code else p for p, code in self._pieces())

    def blank_strings(self) -> str:
        """The text with every string literal replaced by ``''``."""
        return "".join(
            "''" if not code and p[0] == "'" else p for p, code in self._pieces()
        )

    # ---- nesting -----------------------------------------------------
    def split(self, lo: int = 0, hi: int | None = None,
              angle: bool = False) -> list[str]:
        """Split text[lo:hi] on commas outside strings, comments and
        brackets; each part is stripped. ``angle`` also counts ``<``
        and ``>`` as brackets (for type lists like MAP<K, V>) — every
        comparison operator then shifts the depth, so use it only where
        the text holds no comparisons."""
        text = self.text
        hi = len(text) if hi is None else hi
        parts, start = [], lo
        if angle:
            depth = 0
            for m in _ANGLE_SPLIT.finditer(text, lo, hi):
                if self._special(m.start()) >= 0:
                    continue
                c = m.group()
                if c in "([<":
                    depth += 1
                elif c in ")]>":
                    depth -= 1
                elif depth == 0:
                    parts.append(text[start : m.start()].strip())
                    start = m.end()
        else:
            for m in _COMMA.finditer(text, lo, hi):
                if self._special(m.start()) >= 0:
                    continue
                i = self._last_bracket(m.start())
                if i < 0 or self._brackets.encl_any[i] < lo:
                    parts.append(text[start : m.start()].strip())
                    start = m.end()
        parts.append(text[start:hi].strip())
        return parts


@lru_cache(maxsize=64)
def lex(text: str) -> Lexed:
    return Lexed(text)


def split(text: str, angle: bool = False) -> list[str]:
    """Top-level comma split of a whole text (see Lexed.split)."""
    return lex(text).split(angle=angle)

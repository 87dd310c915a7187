"""Hand-rolled Java/C expression lexer, parity with the reference tokenizer.

Behavioral spec: /root/reference/src/templatecrawler/logparser/javatokenizer.py:7-96
over the char stream at logparser/strstream.py:1-19.

Token kinds: ``str`` (double-quoted literal, quotes stripped), ``punc``
(single char of ``;,.(){}[]`` — note '.' is punctuation, not an operator),
``op`` (maximal run of ``+*|^/%=&-<>!``), ``num`` (maximal digit run — no
decimal point, so ``3.14`` lexes as num/punc/num), ``var`` (maximal run of
anything that is neither punctuation nor an operator char).

Replicated QUIRKs:

* the escape check in ``_read_escaped`` compares one char against the
  two-char literal ``r'\\\\'`` (javatokenizer.py:77), so escape handling never
  triggers: a string literal is simply "all chars up to the next unescaped…
  er, any next double quote", backslashes included verbatim.
* the ``var`` character class (javatokenizer.py:13) is the complement of
  punc+ops, so identifiers absorb whitespace and quote chars mid-token
  (``foo bar,`` lexes as one var token ``'foo bar'``, ``x  )`` as ``'x  '``).
  For the same reason the reference's ``croak`` on an unknown character
  (strstream.py:18-19) is unreachable: every character starts some token.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

_UNARY_RE = re.compile(r"^(\+\+|-|--|!)$")

# One alternation lexes a whole statement, in the reference's priority order
# (javatokenizer.py:80-96): str, punc, op, num, var.  Leading whitespace is
# skipped first.  ``var`` may not START with whitespace: otherwise trailing
# whitespace (e.g. '\u2028' after the last token) would backtrack out of the
# skip and come back as a var token.  Mid-token it may, as in the reference.
_TOKEN_RE = re.compile(
    r'\s*(?:"(?P<str>[^"]*)"?'
    r"|(?P<punc>[;,.(){}\[\]])"
    r"|(?P<op>[+*|^/%=&\-<>!]+)"
    r"|(?P<num>\d+)"
    r"|(?P<var>[^\s.+*|^/%=&\-<>!;,(){}\[\]][^.+*|^/%=&\-<>!;,(){}\[\]]*))"
)

Token = Tuple[str, str]


def is_unary_op(tok: str) -> bool:
    """Full-token unary-operator test (javatokenizer.py:14,21-22)."""
    return bool(_UNARY_RE.match(tok))


def _lex(source: str) -> List[Token]:
    """Every token of ``source``, in order.  Only trailing whitespace stops
    the match loop early: every other character starts some token."""
    tokens: List[Token] = []
    match = _TOKEN_RE.match
    pos = 0
    while True:
        m = match(source, pos)
        if m is None:
            return tokens
        kind = m.lastgroup
        tokens.append((kind, m.group(kind)))
        pos = m.end()


class TokenStream:
    """Cursor with one-token lookahead over a statement lexed once.

    The parser counts a nested call's arguments from its '(' on a second
    cursor (logparser/java.py:404); ``fork`` gives one over the same token
    list instead of lexing the rest of the statement again.
    """

    __slots__ = ("_tokens", "_pos")

    def __init__(self, source: str):
        self._tokens = _lex(source)
        self._pos = 0

    def fork(self) -> "TokenStream":
        """An independent cursor at the current (peeked) token."""
        other = TokenStream.__new__(TokenStream)
        other._tokens = self._tokens
        other._pos = self._pos
        return other

    def peek(self) -> Optional[Token]:
        if self._pos < len(self._tokens):
            return self._tokens[self._pos]
        return None

    def next(self) -> Optional[Token]:
        tok = self.peek()
        if tok is not None:
            self._pos += 1
        return tok

    def eof(self) -> bool:
        return self._pos >= len(self._tokens)

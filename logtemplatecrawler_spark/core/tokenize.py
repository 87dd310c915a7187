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
from typing import Dict, List, Optional, Tuple

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


def _paren_arg_counts(tokens: List[Token]) -> Dict[int, int]:
    """For each '(' token index that is not the last token: 0 when the next
    token is ')', else 1 + the ',' tokens directly inside it, up to its
    matching ')' or the end of the statement — the reference's argument
    counter (logparser/java.py:442-474) for a call opening there.  One pass
    with a stack of the open parens' indices."""
    counts: Dict[int, int] = {}
    open_parens: List[int] = []
    for i, (kind, tok) in enumerate(tokens):
        if kind != "punc":
            continue
        if tok == "(":
            open_parens.append(i)
            counts[i] = 1
        elif tok == ")" and open_parens:
            j = open_parens.pop()
            if j == i - 1:
                counts[j] = 0
        elif tok == "," and open_parens:
            counts[open_parens[-1]] += 1
    if tokens and tokens[-1] == ("punc", "("):
        del counts[len(tokens) - 1]
    return counts


class TokenStream:
    """Cursor with one-token lookahead over a statement lexed once.

    The parser counts a call's arguments from its '(' (logparser/java.py:404
    re-lexes the rest of the source and scans to the call's ')').  Here
    ``call_arg_count`` looks the count up in a table built in one pass over
    the tokens on first use: scanning per call is quadratic when calls
    whose parens never close follow one another.  ``fork`` gives a second
    cursor over the same tokens and table.
    """

    __slots__ = ("_tokens", "_pos", "_arg_counts")

    def __init__(self, source: str):
        self._tokens = _lex(source)
        self._pos = 0
        self._arg_counts: Optional[Dict[int, int]] = None

    def fork(self) -> "TokenStream":
        """An independent cursor at the current (peeked) token."""
        other = TokenStream.__new__(TokenStream)
        other._tokens = self._tokens
        other._pos = self._pos
        other._arg_counts = self._arg_counts
        return other

    def call_arg_count(self) -> Optional[int]:
        """Argument count of the call whose '(' is the current token (see
        :func:`_paren_arg_counts`); None when the current token is not a
        '(' or is the last token."""
        if self._arg_counts is None:
            self._arg_counts = _paren_arg_counts(self._tokens)
        return self._arg_counts.get(self._pos)

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

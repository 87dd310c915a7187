"""Log-statement → template parser: parity with the reference's `_parse_new`.

Behavioral spec: /root/reference/src/templatecrawler/logparser/java.py
(entry `_parse_new` :247-257, expression walker `_read_variable` :384-432,
format-call walker `_parse_format` :268-341, argument counter :442-474,
role trimming :476-491, printf rewrite :13,493-499) and the C specialization
at logparser/c.py:5-60.

The parser walks the raw call expression token-by-token:

* ``_read_variable`` scans a (possibly dotted) expression; when it sees
  ``name(`` where ``name`` maps to a known formatting function it counts
  the call's arguments on a fork of the token stream, trims the function's role
  template (['skip','str','...']-style) to that count, and descends into
  ``_parse_format``; otherwise brackets are tracked and the expression is
  returned as a plain variable.
* ``_parse_format`` walks the call's tokens under the current role: string
  literals under role 'str' append to the message (printf specifiers
  rewritten to '{}'), variables append '{}' + are recorded as arguments,
  role '...' records arguments without touching the message, role 'skip'
  ignores tokens, and a top-level ',' advances the role cursor.

Replicated QUIRKs (all verified against the reference source):

* roles under 'skip' swallow '(' without pushing the bracket stack
  (java.py:287 precedes :291), so leading-skip C functions like
  ``printk("m", x)`` reach the final ')' with an empty stack → ``list.pop``
  IndexError → the row is dropped (run() catches ValueError/IndexError,
  java.py:67-68).
* ``_create_params_mapping`` returns ``list.append``'s None on the ≥2-skip
  trim path (java.py:489) → ``_parse_format`` raises "no roles" ValueError →
  row dropped.
* ``_increase_index`` raises ValueError when a top-level ',' overruns the
  role list (java.py:434-440) → row dropped.
* ``_count_arguments`` raises ValueError when the sub-lex stream ends right
  after '(' (java.py:453-454).
* after a sub-``_read_variable`` returns (it never consumes its stopping
  token), ``_parse_format``'s loop-bottom ``next()`` consumes that stopper —
  so the ',' between variable arguments never hits the role-advance branch.
* the parser never consumes the statement's trailing content after the
  matched ')' of a *nested* call — message/arguments are whatever was
  accumulated when the call closed or the token stream ran dry.
* mode 'simple' (the whole statement is one plain expression — no known
  formatting call) yields an empty template → row dropped (java.py:253-254,
  :63).

Deviation (the same one as the uncaught TypeError in ``parse_statement``):
formatting calls nested more than ``MAX_FORMAT_NESTING`` deep raise
ValueError, so the row is dropped.  The reference recurses without a bound
and dies with RecursionError (or, below the interpreter's limit, spends
time quadratic in the statement on argument counting); a hostile page must
fail neither the task nor the time budget.  The bound is an explicit count,
not a RecursionError catch, so Spark's Python worker and an in-process
caller, which start at different stack depths, drop the same rows.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from logtemplatecrawler_spark.core.tokenize import TokenStream, is_unary_op

# java.py:13 — note '[0-9+#-.]' includes the '#'..'.' char *range* and
# '[l|hh|ll|j|z|tL]?' is a single-char class {l,|,h,j,z,t,L}; kept verbatim.
PRINTF_SPEC_RE = re.compile("%[0-9+#-.]*[l|hh|ll|j|z|tL]?[diuoxXfFeEgGaAcspnm]")

# Role tables: (style, roles) per callable name — java.py:15-42.
_FORMAT_STR_VARARGS = ("format", ["str", "..."])
GENERAL_FUNCS = {
    "format": _FORMAT_STR_VARARGS,
    "printf": _FORMAT_STR_VARARGS,
}
SLF4J_FUNCS = {
    name: _FORMAT_STR_VARARGS for name in ("trace", "debug", "info", "warn", "error")
}
LOG4J_FUNCS = SLF4J_FUNCS
UTILLOGGER_FUNCS = {
    "fine": ("simple", ["str"]),
    "finer": ("simple", ["str"]),
    "finest": ("simple", ["str"]),
    "severe": ("simple", ["str"]),
    "warning": ("simple", ["str"]),
    "log": ("format", ["skip", "str", "..."]),
}
FRAMEWORK_FUNCS = {
    "slf4j": SLF4J_FUNCS,
    "log4j": LOG4J_FUNCS,
    "utillogger": UTILLOGGER_FUNCS,
    "unknown": SLF4J_FUNCS,
}

# C function table — logparser/c.py:7-49.
C_FUNCS = {
    "printf": _FORMAT_STR_VARARGS,
    "printk": ("format", ["skip", "str", "..."]),
    "fprintf": ("format", ["skip", "str", "..."]),
    "av_log": ("format", ["skip", "skip", "str", "..."]),
    "log": _FORMAT_STR_VARARGS,
    "Log_print": _FORMAT_STR_VARARGS,
    "logf": _FORMAT_STR_VARARGS,
    "warning": _FORMAT_STR_VARARGS,
    "warn": _FORMAT_STR_VARARGS,
    "warnx": _FORMAT_STR_VARARGS,
    "fatal": _FORMAT_STR_VARARGS,
    "dfatal": _FORMAT_STR_VARARGS,
    "debug": ("format", ["skip", "str", "..."]),
    "LOG_ERR": _FORMAT_STR_VARARGS,
    "GX_LOG": _FORMAT_STR_VARARGS,
    "vcos_log_error": _FORMAT_STR_VARARGS,
    "vcos_log_warn": _FORMAT_STR_VARARGS,
    "vcos_log_info": _FORMAT_STR_VARARGS,
    "vcos_log_trace": _FORMAT_STR_VARARGS,
    "vcos_logc_error": _FORMAT_STR_VARARGS,
    "vcos_logc_warn": _FORMAT_STR_VARARGS,
    "vcos_logc_info": _FORMAT_STR_VARARGS,
    "vcos_logc_trace": _FORMAT_STR_VARARGS,
    "GIMP_LOG": ("format", ["skip", "str", "..."]),
    "Critf": _FORMAT_STR_VARARGS,
    "Infof": _FORMAT_STR_VARARGS,
    "Warningf": _FORMAT_STR_VARARGS,
    "Tracef": _FORMAT_STR_VARARGS,
    "Debugf": _FORMAT_STR_VARARGS,
    "Errf": _FORMAT_STR_VARARGS,
    "Crit": _FORMAT_STR_VARARGS,
    "Info": _FORMAT_STR_VARARGS,
    "Warning": _FORMAT_STR_VARARGS,
    "Trace": _FORMAT_STR_VARARGS,
    "Debug": _FORMAT_STR_VARARGS,
    "Err": _FORMAT_STR_VARARGS,
    "g_log": ("format", ["skip", "skip", "str", "..."]),
    "srm_printk": _FORMAT_STR_VARARGS,
    "pr_warn": _FORMAT_STR_VARARGS,
    "pr_debug": _FORMAT_STR_VARARGS,
    "dprintk": _FORMAT_STR_VARARGS,
}

_PARSEABLE_STYLES = ("format", "simple", "printf")

# Formatting calls deeper than this drop the row (module docstring).  Real
# log statements nest one or two; 64 leaves a wide margin under the
# interpreter's recursion limit (two frames per level).
MAX_FORMAT_NESTING = 64


def rewrite_printf_specs(s: str) -> str:
    """printf-style %-specifiers → '{}' (java.py:493-499)."""
    if PRINTF_SPEC_RE.search(s):
        return PRINTF_SPEC_RE.sub("{}", s)
    return s


def _lookup_func(name: str, funcs: dict) -> Tuple[Optional[str], Optional[list]]:
    """Function-name → (style, roles) with the general fallback (java.py:362-376)."""
    name = name.strip()
    if name in funcs:
        return funcs[name]
    if name in GENERAL_FUNCS:
        return GENERAL_FUNCS[name]
    return None, None


def _flatten(nested) -> List[str]:
    out: List[str] = []
    for element in nested:
        if isinstance(element, list):
            out.extend(_flatten(element))
        else:
            out.append(element)
    return out


def _count_call_args(lexer: TokenStream) -> int:
    """Count top-level commas inside the first call's parens (java.py:442-474).

    Returns 0 for an empty call ``()``; the count is otherwise 1 (a call
    with any token and no commas has one arg) plus the commas, up to the
    matching ')' or the end of the statement.  Advances ``lexer`` to that
    '(' — not at all when it is the current token.  ValueError when no '('
    follows or it ends the statement.
    """
    while not lexer.eof() and lexer.peek() != ("punc", "("):
        lexer.next()
    nargs = lexer.call_arg_count()
    if nargs is None:
        raise ValueError("Does not contain a function call")
    return nargs


def _trim_roles(roles: List[str], nargs: int) -> Optional[List[str]]:
    """Trim the role template to the actual arg count (java.py:476-491).

    QUIRK: the ≥2-skip path returns ``list.append``'s None, exactly as the
    reference does — the caller's "no roles" ValueError then drops the row.
    """
    if nargs >= len(roles):
        return roles
    trimmed = roles[:nargs]
    if set(trimmed) == {"skip"} and len(trimmed) == 1:
        return ["str"]
    elif set(trimmed) == {"skip"} and len(trimmed) >= 1:
        trimmed.pop()
        return trimmed.append("str")  # None — reference java.py:489.
    return trimmed


def _parse_format_call(lexer: TokenStream, roles: Optional[List[str]],
                       funcs: dict, level: int):
    """Walk a formatting call under its role template (java.py:268-341).
    ``level`` counts the formatting calls enclosing this one."""
    if not roles:
        raise ValueError("Trying to parse format without argument. Aborting...")

    role_idx = 0
    role = roles[role_idx]
    message = ""
    variables: list = []
    depth: List[str] = []
    while not lexer.eof():
        kind, tok = lexer.peek()

        if kind == "punc" and tok == "," and role != "...":
            role_idx += 1
            if role_idx >= len(roles):
                raise ValueError(f"Missparsing number of arguments")
            role = roles[role_idx]
        elif role == "skip":
            pass
        elif kind == "punc" and tok == "(":
            depth.append(tok)
        elif kind == "punc" and tok == ")":
            depth.pop()  # IndexError on empty stack drops the row — QUIRK.
            if not depth:
                break
        elif kind == "str" and role == "...":
            variables.append(tok)
        elif kind == "str":
            message += rewrite_printf_specs(tok)
        elif kind == "num" and role == "str":
            message += str(tok)
        elif kind == "num" and role == "...":
            variables.append(tok)
        elif kind == "var" or (kind == "op" and is_unary_op(tok)):
            sub_mode, sub_payload, sub_args = _read_variable(lexer, funcs, level + 1)
            if sub_mode == "simple":
                variables.append("".join(sub_payload))
                if role == "str":
                    message += "{}"
            if sub_mode == "nested":
                message += sub_payload
                variables.append(sub_args)
        elif role == "str" and kind == "op" and tok == "+":
            lexer.next()
            kind, tok = lexer.peek()
            if kind == "str":
                message += tok
            elif kind == "var":
                sub_mode, sub_payload, _ = _read_variable(lexer, funcs, level + 1)
                if sub_mode == "simple" and sub_payload:
                    message += "{}"
                    variables += sub_payload  # list-extend — reference java.py:335.
                elif sub_mode == "nested":
                    pass

        lexer.next()
    rewrite_printf_specs(message)  # computed-and-discarded, as at java.py:340.
    return message, variables


def _read_variable(lexer: TokenStream, funcs: dict, level: int = 0):
    """Scan one expression; descend into known formatting calls (java.py:384-432).

    Returns ('simple', token-texts, None) for a plain expression or
    ('nested', message, variables) after descending into a formatting call.
    Raises ValueError at EOF (java.py:432) and when the call would be
    ``level`` ≥ ``MAX_FORMAT_NESTING`` deep — the row is then dropped.
    """
    depth: List[str] = []
    gathered: List[str] = []
    prev_was_ident = False
    while not lexer.eof():
        kind, tok = lexer.peek()
        if kind == "punc" and tok == "," and not depth:
            return "simple", gathered, None
        elif kind == "op" and tok == "+" and not depth:
            return "simple", gathered, None
        elif kind == "var":
            prev_was_ident = True
        elif kind == "punc" and tok == "(" and prev_was_ident:
            prev_was_ident = False
            style, default_roles = _lookup_func(gathered[-1], funcs)
            if style in _PARSEABLE_STYLES:
                if level >= MAX_FORMAT_NESTING:
                    raise ValueError("Formatting calls nested too deep")
                # Count this call's args from the peeked '(' (java.py:404-407
                # re-lexes the rest of the source; the count is a lookup).
                nargs = _count_call_args(lexer)
                roles = _trim_roles(default_roles, nargs)
                message, variables = _parse_format_call(lexer, roles, funcs, level)
                return "nested", message, variables
            else:
                depth.append("(")
        elif kind == "punc" and tok == "(":
            prev_was_ident = False
            depth.append("(")
        elif kind == "punc" and tok == ")":
            prev_was_ident = False
            if not depth:
                return "simple", gathered, None
            depth.pop()
        else:
            prev_was_ident = False
        gathered.append(tok)
        lexer.next()
    raise ValueError("Unexpected EOF")


def parse_statement(raw: str, lang: str, framework: str) -> Optional[Tuple[str, List[str]]]:
    """Parse one raw statement → (template, arguments), or None to drop.

    Mirrors ``_parse_new`` + the per-row error handling of ``run``
    (java.py:59-68, 247-257): parse errors (ValueError/IndexError) and empty
    results drop the row.  For C the function table replaces the framework
    map entirely (c.py:51-54).
    """
    funcs = C_FUNCS if lang == "c" else FRAMEWORK_FUNCS.get(framework, SLF4J_FUNCS)
    lexer = TokenStream(raw)
    try:
        mode, payload, variables = _read_variable(lexer, funcs)
    # TypeError: unpacking peek()==None after a trailing '+' — the reference
    # does not catch it (it would crash the whole batch, java.py:327-328);
    # a distributed engine must not, so we drop the row instead (deviation).
    # The MAX_FORMAT_NESTING ValueError is the same deviation.
    except (ValueError, IndexError, TypeError):
        return None
    if mode != "nested":
        return None  # 'simple' → empty template → dropped (java.py:253, :63).
    template = payload.strip()
    if not template:
        return None
    return template, _flatten(variables)


def check_number(number_string: str):
    """U13 — numeric-literal classifier (java.py:235-245, verbatim
    semantics): ('int', value) if Python ``int()`` accepts the token, else
    ('float', value) if ``float()`` does, else None (the reference's
    fall-through — no return statement — which would crash its caller's
    tuple unpack; only the legacy ``_parse`` path at java.py:139-144 calls
    this, ``_parse_new`` never does, so the engine exposes it for API
    completeness and the '{!Integer}'/'{!Float}' argument tagging is pinned
    by tests only)."""
    try:
        return "int", int(number_string)
    except ValueError:
        pass
    try:
        return "float", float(number_string)
    except ValueError:
        return None


def number_argument_tag(number_string: str) -> str:
    """The legacy path's argument tag for a numeric token (java.py:139-144):
    '{!Integer}' for ints, '{!Float}' for floats.  A token neither accepts
    raises TypeError — exactly the reference's ``dtype, value = None``
    unpack crash (unreachable from real lexer 'num' tokens; kept so the
    quirk is pinned, not papered over)."""
    dtype, _value = check_number(number_string)
    return "{!Integer}" if dtype == "int" else "{!Float}"

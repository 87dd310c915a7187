"""Property-based tests (hypothesis) over the core pipeline.

The reference ships no tests, so these pin OUR invariants: total functions,
determinism, and structural contracts that hold for every parsed statement.
"Total" is tested on these inputs: arbitrary Unicode text up to 200
characters for every function below, and, for ``parse_statement``,
adversarial statements up to 20,000 characters (deep ``String.format``
nesting, runs of sibling calls, unbalanced quotes and parens), which must
also parse within a CPU budget linear in their length.
"""

import string
import time

from hypothesis import given, settings, strategies as st

from logtemplatecrawler_spark.core.detect import detect_page, page_framework
from logtemplatecrawler_spark.core.extract import extract_statements
from logtemplatecrawler_spark.core.filters import prefilter_keep, template_valid
from logtemplatecrawler_spark.core.formalize import (
    TOKEN_TYPES,
    formalize_template,
    segment_template,
)
from logtemplatecrawler_spark.core.parse import parse_statement
from logtemplatecrawler_spark.core.tokenize import TokenStream

PLACEHOLDER_NAMES = {name for name, _ in TOKEN_TYPES}

ident = st.text(alphabet=string.ascii_letters, min_size=1, max_size=10)
literal = st.text(
    alphabet=string.ascii_letters + string.digits + " %d{}.:+-_",
    max_size=30,
)
arbitrary = st.text(max_size=200)


@st.composite
def log_statement(draw):
    """Random-but-plausible java log statement."""
    obj = draw(ident)
    method = draw(st.sampled_from(["info", "warn", "error", "debug", "trace"]))
    msg = draw(literal).replace('"', "")
    parts = [f'"{msg}"']
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.sampled_from(["var", "num", "str", "concat"]))
        if kind == "var":
            parts.append(draw(ident))
        elif kind == "num":
            parts.append(str(draw(st.integers(0, 10 ** 6))))
        elif kind == "str":
            parts.append(f'"{draw(literal).replace(chr(34), "")}"')
        else:
            parts[-1] = parts[-1] + " + " + draw(ident)
    return f"{obj}.{method}({', '.join(parts)})"


@given(log_statement())
@settings(max_examples=300, deadline=None)
def test_parse_total_and_deterministic(stmt):
    a = parse_statement(stmt, "java", "slf4j")
    b = parse_statement(stmt, "java", "slf4j")
    assert a == b
    if a is not None:
        template, args = a
        assert isinstance(template, str) and template
        assert all(isinstance(x, str) for x in args)


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_parse_never_crashes_on_garbage(s):
    for lang, fw in (("java", "slf4j"), ("java", "utillogger"), ("c", "unknown")):
        out = parse_statement(s, lang, fw)
        assert out is None or isinstance(out[0], str)


# Adversarial statements: a call prefix, then a short unit of call openers,
# quotes, parens, commas and operands repeated up to 2,000 times (deep
# nesting when the unit opens a call, sibling calls when it also closes one,
# unbalanced quotes and parens either way), then up to 2,000 closing parens.
MAX_ADVERSARIAL_LEN = 20_000
_call = st.sampled_from([
    "String.format(", "printf(", "printk(", "fprintf(", "av_log(",
    "log.info(", "log.log(", "severe(", "foo(",
])
_piece = st.one_of(_call, st.sampled_from([
    '"a %s"', '"b {} %d"', '"', "(", ")", "()", ",", ", ", " + ", "+",
    "x", "42", ".", "-", "\\",
]))


@st.composite
def adversarial_statement(draw):
    prefix = draw(st.sampled_from(["log.info(", "printf(", "logger.log(", ""]))
    unit = "".join(draw(st.lists(_piece, min_size=1, max_size=8)))
    body = unit * draw(st.integers(1, 2_000))
    tail = ")" * draw(st.integers(0, 2_000))
    return (prefix + body + tail)[:MAX_ADVERSARIAL_LEN]


# CPU seconds allowed per input character, plus a fixed allowance.  The
# worst shapes found parse at ~1 µs per character (a 19 KB 600-deep
# String.format nest in ~6 ms); 50 µs leaves room for a loaded machine.
PARSE_CPU_S_PER_CHAR = 50e-6
PARSE_CPU_S_FIXED = 0.05


@given(adversarial_statement())
@settings(max_examples=200, deadline=None)
def test_parse_adversarial_total_and_linear_time(stmt):
    budget = PARSE_CPU_S_FIXED + PARSE_CPU_S_PER_CHAR * len(stmt)
    for lang, fw in (("java", "slf4j"), ("java", "utillogger"), ("c", "unknown")):
        t0 = time.process_time()
        out = parse_statement(stmt, lang, fw)
        spent = time.process_time() - t0
        assert spent <= budget, (lang, len(stmt), spent)
        assert out is None or (isinstance(out[0], str) and out[0])


def _scan_arg_count(tokens, i):
    """Reference for the argument-count table: the reference's per-call
    scan from the '(' at ``i`` (logparser/java.py:442-474)."""
    if i == len(tokens) - 1:
        return None
    depth, count, prev = 0, 1, tokens[i]
    for tok in tokens[i + 1:]:
        if tok == ("punc", ")") and not depth:
            return 0 if prev == ("punc", "(") else count
        if tok == ("punc", "("):
            depth += 1
        elif tok == ("punc", ")"):
            depth -= 1
        elif tok == ("punc", ",") and not depth:
            count += 1
        prev = tok
    return count


@given(st.one_of(arbitrary, adversarial_statement().map(lambda s: s[:400])))
@settings(max_examples=300, deadline=None)
def test_call_arg_count_table_matches_scan(s):
    stream = TokenStream(s)
    tokens = []
    while not stream.eof():
        tokens.append(stream.next())
    stream = TokenStream(s)
    for i, tok in enumerate(tokens):
        want = _scan_arg_count(tokens, i) if tok == ("punc", "(") else None
        assert stream.call_arg_count() == want, (s, i)
        stream.next()


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_extract_total(s):
    for lang in ("java", "c", "python", "csharp"):
        stmts = extract_statements(s, lang, "unknown")
        assert isinstance(stmts, list)
        # every raw statement is a substring of the input
        for raw in stmts:
            assert raw in s


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_detect_and_filters_total(s):
    for lang in ("java", "c", "python", "csharp", "other"):
        hit, indicator = detect_page(s, lang)
        assert isinstance(hit, bool)
        assert page_framework(s, lang) in ("log4j", "slf4j", "utillogger", "unknown")
    assert isinstance(prefilter_keep(s), bool)
    assert isinstance(template_valid(s), bool)


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_template_validity_is_always_true(s):
    """The reference's find_valid is provably a no-op (core/filters.py) —
    property-check the proof."""
    assert template_valid(s) is True


@given(arbitrary, st.lists(st.text(max_size=20), max_size=6))
@settings(max_examples=300, deadline=None)
def test_formalize_total_and_slots_resolved(template, args):
    out = formalize_template(template, args)
    if out is None:
        return
    segs = segment_template(template)
    assert segs.count("{}") == len(args)
    # formalized output never contains more bare slots than unmatched args
    bare = out.count("{}")
    assert bare <= len(args)


@given(arbitrary)
@settings(max_examples=300, deadline=None)
def test_tokenizer_consumes_all_or_raises(s):
    toks = []
    stream = TokenStream(s)
    try:
        while not stream.eof():
            toks.append(stream.next())
    except ValueError:
        return  # croak on unhandled char — reference behavior
    # concatenating var/num/punc/op token texts (plus quoted strs) must not
    # exceed the input length (tokens never invent characters)
    total = sum(len(t[1]) for t in toks)
    assert total <= len(s)

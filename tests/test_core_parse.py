"""Golden tests for the template parser (core/parse.py).

Expectations hand-derived from the reference control flow
(/root/reference/src/templatecrawler/logparser/java.py:247-499).
"""

from logtemplatecrawler_spark.core.parse import (
    parse_statement,
    rewrite_printf_specs,
    _count_call_args,
    _trim_roles,
)
from logtemplatecrawler_spark.core.tokenize import TokenStream


def test_slf4j_slots_and_varargs():
    out = parse_statement('log.info("got {} of {}", count, total)', "java", "slf4j")
    assert out == ("got {} of {}", ["count", "total"])


def test_concat_single_arg():
    out = parse_statement('log.warn("retry: " + attempts)', "java", "slf4j")
    assert out == ("retry: {}", ["attempts"])


def test_nested_string_format():
    out = parse_statement('log.debug(String.format("took %d ms", elapsed))', "java", "slf4j")
    assert out == ("took {} ms", ["elapsed"])


def test_plain_message_no_args():
    out = parse_statement('log.error("fatal failure occurred")', "java", "slf4j")
    assert out == ("fatal failure occurred", [])


def test_simple_expression_dropped():
    # No known formatting call → mode 'simple' → empty template → dropped.
    assert parse_statement("someVariable + other", "java", "slf4j") is None


def test_unknown_method_dropped():
    # 'trace' exists but 'custom' doesn't; brackets tracked, EOF → ValueError.
    assert parse_statement('log.custom("x", y)', "java", "slf4j") is None


def test_utillogger_simple_methods():
    out = parse_statement('logger.warning("disk almost full")', "java", "utillogger")
    assert out == ("disk almost full", [])


def test_utillogger_log_level_skipped():
    # roles ['skip','str','...'] trimmed to ['skip','str']: the Level arg is
    # consumed under 'skip'; after the comma the literal + concat var build
    # the message normally.
    out = parse_statement('logger.log(Level.INFO, "state is " + s)', "java", "utillogger")
    assert out == ("state is {}", ["s"])


def test_c_printf():
    out = parse_statement('printf("read %d bytes from %s", n, path)', "c", "unknown")
    assert out == ("read {} bytes from {}", ["n", "path"])


def test_c_printk_skip_quirk():
    # printk roles ['skip','str','...'] trimmed to ['skip','str'] for 2 args;
    # the format literal disappears under 'skip' (see parse.py QUIRKs).
    out = parse_statement('printk("bad state %d", state)', "c", "unknown")
    assert out == ("{}", ["state"])


def test_c_fprintf_skips_stream_arg():
    out = parse_statement('fprintf(stderr, "open %s failed: %d", path, err)', "c", "unknown")
    assert out == ("open {} failed: {}", ["path", "err"])


def test_printf_spec_rewrite():
    assert rewrite_printf_specs("a %d b %s c %lu d %-8.3f") == "a {} b {} c {} d {}"
    assert rewrite_printf_specs("100% done") == "100% done"
    assert rewrite_printf_specs("%m errno shorthand") == "{} errno shorthand"


def test_count_call_args():
    assert _count_call_args(TokenStream('foo("a", b, c)')) == 3
    assert _count_call_args(TokenStream("foo()")) == 0
    assert _count_call_args(TokenStream('foo(bar(x, y), z)')) == 2
    assert _count_call_args(TokenStream('foo("only")')) == 1


def _tokens(source):
    stream = TokenStream(source)
    out = []
    while not stream.eof():
        out.append(stream.next())
    return out


def test_tokenizer_goldens():
    # trailing Unicode whitespace is skipped, never a var token of its own
    assert _tokens("x + \u2028") == [("var", "x "), ("op", "+")]
    # ... but a var absorbs whitespace mid-token, trailing included
    assert _tokens("foo\u2028") == [("var", "foo\u2028")]
    assert _tokens("foo bar,") == [("var", "foo bar"), ("punc", ",")]
    # an unterminated string runs to the end of the statement
    assert _tokens('f("abc') == [("var", "f"), ("punc", "("), ("str", "abc")]
    assert _tokens('""') == [("str", "")]
    # NBSP is whitespace: skipped before a token, absorbed inside a var
    assert _tokens("\u00a0a\u00a0b") == [("var", "a\u00a0b")]
    # Unicode decimal digits lex as a num run
    assert _tokens("\u0663\u0664x") == [("num", "\u0663\u0664"), ("var", "x")]


def test_count_call_args_on_fork():
    stream = TokenStream("f(a, g(b, c, d), e)")
    assert _count_call_args(stream.fork()) == 3
    while stream.peek() != ("var", "g"):
        stream.next()
    stream.next()
    fork = stream.fork()
    assert fork.peek() == ("punc", "(")
    assert _count_call_args(fork) == 3
    # the fork shares tokens, not the cursor
    assert stream.peek() == ("punc", "(")


def test_trim_roles_quirks():
    assert _trim_roles(["str", "..."], 5) == ["str", "..."]
    assert _trim_roles(["str", "..."], 1) == ["str"]
    assert _trim_roles(["skip", "str", "..."], 1) == ["str"]
    # ≥2-skip path returns None (reference java.py:489) → row dropped.
    assert _trim_roles(["skip", "skip", "str", "..."], 2) is None
    assert _trim_roles(["str", "..."], 0) == []


def test_av_log_two_skips_dropped():
    # av_log roles ['skip','skip','str','...']; 2 args → _trim_roles None →
    # ValueError in _parse_format_call → dropped.
    assert parse_statement('av_log(ctx, "oops %d")', "c", "unknown") is None


def test_number_argument():
    out = parse_statement('log.info("port {}", 8080)', "java", "slf4j")
    assert out == ("port {}", ["8080"])


def test_empty_call_dropped():
    assert parse_statement("log.info()", "java", "slf4j") is None


def test_string_only_concatenation():
    out = parse_statement('log.info("part one " + "part two")', "java", "slf4j")
    assert out == ("part one part two", [])


def test_u13_check_number_golden():
    """U13 (java.py:235-245): int-else-float-else-None classification,
    including Python-int quirks the reference inherits (underscores, signs,
    whitespace) and the float specials."""
    from logtemplatecrawler_spark.core.parse import check_number, number_argument_tag

    assert check_number("42") == ("int", 42)
    assert check_number("-7") == ("int", -7)
    assert check_number("+05") == ("int", 5)
    assert check_number("1_000") == ("int", 1000)   # PEP 515 int() quirk
    assert check_number(" 9 ") == ("int", 9)        # int() strips whitespace
    assert check_number("3.14") == ("float", 3.14)
    assert check_number("1e3") == ("float", 1000.0)
    assert check_number(".5") == ("float", 0.5)
    assert check_number("inf") == ("float", float("inf"))
    assert check_number("0x1F") is None             # int(hex-str) raises in base 10
    assert check_number("abc") is None
    assert check_number("") is None

    assert number_argument_tag("42") == "{!Integer}"
    assert number_argument_tag("3.14") == "{!Float}"
    assert number_argument_tag("1e3") == "{!Float}"
    import pytest as _pytest
    with _pytest.raises(TypeError):                 # reference unpack crash
        number_argument_tag("abc")


def _nested_format(depth):
    """``depth`` nested ``String.format("aN %s", … + "q")`` calls — the
    shape of perfbench/inputs.py:hostile_page."""
    inner = "requestId"
    for i in range(depth):
        inner = f'String.format("a{i} %s", {inner} + "q")'
    return f"log.info({inner})"


def test_format_nesting_bound():
    """Formatting calls nested past MAX_FORMAT_NESTING drop the row with a
    ValueError (the documented deviation), not a RecursionError, and the
    hostile 600-deep statement (~19 KB) is dropped quickly."""
    import time

    from logtemplatecrawler_spark.core.parse import MAX_FORMAT_NESTING

    # log.info + 63 String.format calls = exactly the bound: still parsed
    out = parse_statement(_nested_format(MAX_FORMAT_NESTING - 1), "java", "slf4j")
    assert out is not None
    assert out[0].startswith("a62 {}a61 {}")
    assert parse_statement(_nested_format(MAX_FORMAT_NESTING), "java", "slf4j") is None

    hostile = _nested_format(600)
    assert len(hostile) > 19_000
    t0 = time.process_time()
    assert parse_statement(hostile, "java", "slf4j") is None
    assert time.process_time() - t0 < 0.5


def test_unclosed_sibling_calls_parse_in_linear_time():
    """Sibling calls whose parens never close: each call's argument count
    spans the rest of the statement, so counting per call by scanning was
    quadratic (~2.6 CPU s at 15 KB).  The counts come from one pass now;
    the result is unchanged."""
    import time

    def stmt(k):
        return 'printf("m %d", ' + "printk(a, (1), " * k + "x)"

    assert parse_statement(stmt(3), "c", "unknown") == ("m {}111", ["x"])
    t0 = time.process_time()
    out = parse_statement(stmt(1000), "c", "unknown")
    assert time.process_time() - t0 < 0.5
    assert out == ("m {}" + "1" * 1000, ["x"])

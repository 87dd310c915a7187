"""Native pyspark column expressions for the pipeline's filters/predicates.

Everything here stays JVM-side (whole-stage codegen; no Python workers):
the reference's detectors and filters are plain regex searches, so they map
to ``rlike``/``length``/``startswith`` expressions.  Each function's
pure-Python twin lives in ``logtemplatecrawler_spark.core`` (same reference
citations); parity is asserted by tests/test_spark_pipeline.py.

Regex notes: Spark ``rlike`` is Java ``Matcher.find``, close to Python
``re.search`` for these patterns (all are ASCII, no lookbehind; backreference
``(.)\\1{5,}`` is supported by java.util.regex) but not identical: Java's
``.`` also excludes ``\\r``, ``\\u0085``, ``\\u2028`` and ``\\u2029``, and its
``\\s`` is ASCII-only.  That is why the statement-level filters
(``normalize_raw`` … ``template_valid``) no longer run in the template
pipeline — it applies their Python twins inside its one Python stage — and
remain here for the harness queries and layer-by-layer profiling.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column
from pyspark.sql import functions as F

# Detector rules — logdetector/java.py:8-19 (see core/detect.py for quirks).
_JAVA_RULES = [
    "import.+log4j",
    "import.+util\\.logging",
    "import.+slf4j",
    "\\.(debug|info|warn|error|fatal)",
    "\\.severe|warning|info|config|fine|finer|finest|log",
    "\\.(debug|info|warn|error|fatal)",
]
_PY_RULES = ["import logging", "\\.log.*\\("]


def detect_hit(text: Column, lang: Column) -> Column:
    """True iff the reference detector reports 'contains logging' (U1-U3).

    java/c share the java engine (detector.py:13-16); csharp is the
    always-False stub (logdetector/csharp.py:25-26).
    """
    java_hit = reduce(or_, (text.rlike(p) for p in _JAVA_RULES))
    py_hit = reduce(or_, (text.rlike(p) for p in _PY_RULES))
    return (
        F.when(lang.isin("java", "c"), java_hit)
        .when(lang == "python", py_hit)
        .otherwise(F.lit(False))
    )


def detect_vote(text: Column, lang: Column) -> Column:
    """The detector's rule-vote MODE (U1/U4): the framework indicator the
    fired rules vote for, ``max(values, key=values.count)`` semantics —
    first-fired indicator among those with the max hit count
    (logdetector/java.py:28,34; pure twin core/detect.detect_page's second
    return).  NULL when no rule fires, and for python/csharp (their engines
    return no vote — detector.py:13-16, csharp stub).

    Native encoding: per indicator, ``key = hit_count * 8 + (7 -
    first_fired_rule_index)``; keys of fired indicators are distinct
    (counts ≤ 2, rule indices unique), so the argmax is exact — no UDF.
    """
    r = [text.rlike(p) for p in _JAVA_RULES]
    b = [x.cast("int") for x in r]
    key_l = (b[0] + b[3]) * 8 + F.when(r[0], 6).when(r[3], 3).otherwise(0)
    key_u = (b[1] + b[4]) * 8 + F.when(r[1], 5).when(r[4], 2).otherwise(0)
    key_s = (b[2] + b[5]) * 8 + F.when(r[2], 4).when(r[5], 1).otherwise(0)
    any_hit = reduce(or_, r)
    best = (
        F.when((key_l >= key_u) & (key_l >= key_s), F.lit("log4j"))
        .when(key_u >= key_s, F.lit("utillogger"))
        .otherwise(F.lit("slf4j"))
    )
    return F.when(lang.isin("java", "c") & any_hit, best).otherwise(
        F.lit(None).cast("string")
    )


def framework(text: Column, lang: Column) -> Column:
    """Import-rule framework vote with 'unknown' fallback (U4).

    Each import rule fires at most once per file, so the reference's
    count-mode tie-break reduces to first-match-wins in definition order
    (core/detect.py:page_framework).
    """
    java_fw = (
        F.when(text.rlike("import.+log4j"), F.lit("log4j"))
        .when(text.rlike("import.+util\\.logging"), F.lit("utillogger"))
        .when(text.rlike("import.+slf4j"), F.lit("slf4j"))
        .otherwise(F.lit("unknown"))
    )
    return F.when(lang.isin("java", "c"), java_fw).otherwise(F.lit("unknown"))


def normalize_raw(raw: Column, lang: Column) -> Column:
    """C statements are whitespace-stripped before filtering/parsing and the
    stripped text is what gets stored (logparser/c.py:56-60, F7)."""
    return F.when(lang == "c", F.regexp_replace(raw, "^\\s+|\\s+$", "")).otherwise(raw)


def keep_non_preprocessor(raw: Column, lang: Column) -> Column:
    """Drop C preprocessor lines (logparser/c.py:58-59, F7)."""
    return ~((lang == "c") & raw.startswith("#"))


def prefilter_keep(raw: Column) -> Column:
    """Statement pre-filter (filtersettings.py:6-9, F6): drop too-short and
    repeated-char raws."""
    return ~raw.rlike("^.{0,5}$") & ~raw.rlike("(.)\\1{5,}")


def template_valid(parsed_template: Column) -> Column:
    """The reference's permissive OR-mask (templatefilter.py:12-21, F8).

    Provably always-true (see core/filters.py module doc) — kept as an
    auditable native expression; Catalyst folds it into the scan cheaply.
    """
    keep = F.length(parsed_template) > 14
    keep = keep | ~parsed_template.rlike("^[^a-wyzA-WYZ]+$")
    keep = keep | ~parsed_template.rlike("^\\s*(static|#include|#define|#if|#endif)")
    keep = keep | ~parsed_template.rlike("^\\s*(//|\\*)")
    return keep


def url_file(url: Column) -> Column:
    """Per-page 'file' id: url path without leading slashes
    (core/pipeline.py:url_file)."""
    return F.regexp_replace(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")), "^/+", "")


def url_host(url: Column) -> Column:
    """Host component for politeness partitioning."""
    return F.parse_url(url, F.lit("HOST"))

"""The complete per-page oracle pipeline (pure Python, no Spark).

This is the sequential reference-semantics twin of the distributed plan in
``logtemplatecrawler_spark.plans.template_pipeline``: given one page (url,
text, lang), produce the fully-processed template rows.  The plan runs
detect and framework natively, then ``statement_templates`` — the rest of
``process_page`` — as its one Python stage, so the two share that code.
The e2e pytest asserts the Spark job's output equals this oracle applied
page-by-page.

Stage order mirrors the reference DAG
(/root/reference/dags/log2vec_process-repository.py:346-371):
detect → (framework) → extract → pre-filter → parse → validity filter →
formalize → empty cleanup.  Cross-page dedup (the templates table's UNIQUE
constraints, postgres_db.sql:236-261) is applied by the caller over the
whole corpus — see ``dedup_rows``.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Tuple
from urllib.parse import urlparse

from logtemplatecrawler_spark.core.detect import detect_page, page_framework
from logtemplatecrawler_spark.core.extract import extract_statements
from logtemplatecrawler_spark.core.filters import prefilter_keep, template_valid
from logtemplatecrawler_spark.core.formalize import formalize_template
from logtemplatecrawler_spark.core.parse import parse_statement


def url_file(url: str) -> str:
    """The per-page 'file' identifier: the url path without its leading '/'.

    The reference's `file` column is the path inside the repository
    (logextractor/java/log4j.py:25-26); for Common-Crawl-style pages the path
    component of the url is the analog.
    """
    return urlparse(url).path.lstrip("/")


def statement_templates(
    text: str, lang: str, framework: str
) -> List[Tuple[int, str, str, List[str], str]]:
    """The post-detect half of ``process_page``: every surviving statement
    of one detected page as ``(stmt_idx, raw, parsed_template, arguments,
    template)``, in statement order.  The Spark plan's one Python stage runs
    exactly this function per page."""
    out = []
    for stmt_idx, raw in enumerate(extract_statements(text, lang, framework)):
        if lang == "c":
            # CParser.run strips and drops preprocessor lines BEFORE the
            # generic pre-filter, and the stripped text becomes `raw`
            # (logparser/c.py:56-60).
            raw = raw.strip()
            if raw.startswith("#"):
                continue
        if not prefilter_keep(raw):
            continue
        parsed = parse_statement(raw, lang, framework)
        if parsed is None:
            continue
        parsed_template, args = parsed
        if not template_valid(parsed_template):
            continue
        template = formalize_template(parsed_template, args)
        if template is None:
            continue
        if len(template) == 0 or len(parsed_template) == 0:
            continue  # dags/log2vec_process-repository.py:287-294
        out.append((stmt_idx, raw, parsed_template, args, template))
    return out


def process_page(url: str, text: str, lang: str) -> List[Dict]:
    """All surviving template rows of one page, in statement order."""
    hit, _ = detect_page(text, lang)
    if not hit:
        return []
    framework = page_framework(text, lang)
    file_id = url_file(url)
    return [
        {
            "url": url,
            "file": file_id,
            "stmt_idx": stmt_idx,
            "framework": framework,
            "raw": raw,
            "parsed_template": parsed_template,
            "arguments": args,
            "template": template,
        }
        for stmt_idx, raw, parsed_template, args, template
        in statement_templates(text, lang, framework)
    ]


def dedup_rows(rows: Iterable[Dict]) -> List[Dict]:
    """Corpus-level dedup: UNIQUE(template) + UNIQUE(parsed_template).

    The reference enforces this sequentially via ON CONFLICT DO NOTHING
    inserts (postgres_db.sql:236-261; dags/log2vec_process-repository.py:328).
    Our engine's documented semantics (shared by the Spark plan): a row
    survives iff it is the first occurrence — in deterministic crawl order
    (url, file, stmt_idx) — of BOTH its template and its parsed_template,
    computed over the full input.  This differs from sequential insertion
    only in the pathological chained-duplicate case (a row skipped for one
    key does not "release" its other key for later rows).
    """
    ordered = sorted(rows, key=lambda r: (r["url"], r["file"], r["stmt_idx"]))
    seen_template = {}
    seen_parsed = {}
    for r in ordered:
        seen_template.setdefault(r["template"], (r["url"], r["file"], r["stmt_idx"]))
        seen_parsed.setdefault(r["parsed_template"], (r["url"], r["file"], r["stmt_idx"]))
    out = []
    for r in ordered:
        key = (r["url"], r["file"], r["stmt_idx"])
        if seen_template[r["template"]] == key and seen_parsed[r["parsed_template"]] == key:
            out.append(r)
    return out

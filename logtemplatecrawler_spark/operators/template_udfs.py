"""The template pipeline's Python stage, plus its two older Arrow UDFs.

``page_templates`` is the ONE Python crossing of ``extract_templates``: a
``mapInArrow`` stage that takes detected pages (url, text, lang, framework)
and emits finished statement rows.  Its body is
``core.pipeline.statement_templates`` — extract, C strip + preprocessor
drop, pre-filter, parse, validity, formalize, empty drop — the very code
the pure-Python oracle runs, so Spark ≡ core holds by construction.  Only
the native filters that prune the stage's *input* (detect, functions/
columns.py) run before it; nothing native runs on its output except the
``file`` column and the dedup windows.

``extract_raws`` and ``parse_and_formalize`` are the earlier two-stage
surface (extract UDF → posexplode → native filters → parse UDF).  No plan
uses them; they stay importable for layer-by-layer profiling.

Batch sizing: page bodies are large strings — callers should set
``spark.sql.execution.arrow.maxRecordsPerBatch`` modestly (the session
helper uses 256) so Arrow batches stay memory-friendly.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from logtemplatecrawler_spark.core.extract import extract_statements
from logtemplatecrawler_spark.core.formalize import formalize_template
from logtemplatecrawler_spark.core.parse import parse_statement
from logtemplatecrawler_spark.core.pipeline import statement_templates

STATEMENT_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("framework", StringType(), True),
        StructField("stmt_idx", IntegerType(), True),
        StructField("raw", StringType(), True),
        StructField("parsed_template", StringType(), True),
        StructField("arguments", ArrayType(StringType()), True),
        StructField("template", StringType(), True),
    ]
)
_STATEMENT_ARROW = to_arrow_schema(STATEMENT_SCHEMA)


def _statement_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow batches of pages → Arrow batches of their statement rows."""
    for batch in batches:
        pages = zip(*(batch.column(n).to_pylist()
                      for n in ("url", "text", "lang", "framework")))
        rows = [
            (url, framework) + row
            for url, text, lang, framework in pages
            for row in statement_templates(text, lang, framework)
        ]
        if rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, type=field.type)
                 for col, field in zip(zip(*rows), _STATEMENT_ARROW)],
                schema=_STATEMENT_ARROW,
            )


def page_templates(pages: DataFrame) -> DataFrame:
    """Detected pages(url, text, lang, framework) → one row per surviving
    statement (``STATEMENT_SCHEMA``), in one Python stage (U5-U12, F6-F10)."""
    return pages.select("url", "text", "lang", "framework").mapInArrow(
        _statement_batches, STATEMENT_SCHEMA
    )


@F.pandas_udf(ArrayType(StringType()))
def extract_raws(text: pd.Series, lang: pd.Series, framework: pd.Series) -> pd.Series:
    """Per-page raw log statements, in trigger-match order (U5).

    The per-row loop lives inside the Arrow batch; result order feeds
    ``posexplode`` so each statement keeps its in-file index.
    """
    return pd.Series(
        [extract_statements(t, l, f) for t, l, f in zip(text, lang, framework)]
    )


_PARSE_RESULT = StructType(
    [
        StructField("parsed_template", StringType(), True),
        StructField("arguments", ArrayType(StringType()), True),
        StructField("template", StringType(), True),
    ]
)


@F.pandas_udf(_PARSE_RESULT)
def parse_and_formalize(raw: pd.Series, lang: pd.Series, framework: pd.Series) -> pd.DataFrame:
    """Parse (U6-U10) + formalize (U11-U12) fused into one Python stage.

    A null ``parsed_template`` means the parser dropped the row; a null
    ``template`` means formalization dropped it (count mismatch).  The
    native validity filter between the two is always-true (F8), so fusing
    loses nothing and saves one Arrow round-trip per statement batch.
    """
    templates: List[Optional[str]] = []
    arguments: List[Optional[List[str]]] = []
    formals: List[Optional[str]] = []
    for r, l, f in zip(raw, lang, framework):
        parsed = parse_statement(r, l, f)
        if parsed is None:
            templates.append(None)
            arguments.append(None)
            formals.append(None)
            continue
        parsed_template, args = parsed
        templates.append(parsed_template)
        arguments.append(args)
        formals.append(formalize_template(parsed_template, args))
    return pd.DataFrame(
        {"parsed_template": templates, "arguments": arguments, "template": formals}
    )


# The function IS deterministic; the marker only pins it in place.  Without
# it Catalyst pushes the downstream null-filter below the struct-field
# projection and evaluates the UDF TWICE (one ArrowEvalPython feeding the
# Filter, another feeding the Project) — verified via executedPlan.  Marking
# it non-deterministic forbids that duplication; our native pre-filters are
# already placed below it explicitly, so no optimization is lost.
parse_and_formalize = parse_and_formalize.asNondeterministic()

"""The distributed template pipeline: pages → formalized templates.

Spark shape of the reference's per-repo DAG
(/root/reference/dags/log2vec_process-repository.py:346-371), per SURVEY §3:

    pages
      → project (url, text, lang)           # column pruning: html never read
      → where detect_hit (native rlike)     # U1-U3, JVM-side
      → framework column (native)           # U4
      → statement stage (mapInArrow)        # the ONE Python crossing:
          extract → C strip/# drop → pre-filter → parse → validity
          → formalize → empty drop          # U5-U12, F6-F10
      → file column (native)
      → per-corpus dedup windows             # W3 / UNIQUE constraints

Design rules for scale:
* Native filters that prune the Python stage's *input* (detect) sit BEFORE
  it — Catalyst will not reorder predicates through an opaque Python
  stage, so the order in this file IS the physical order.  Filters over
  its *output* run inside the stage, as ``core.pipeline.statement_templates``
  shared with the oracle: one Arrow round trip per page batch instead of
  two plus a posexplode, and Python regex semantics on both sides (Java's
  ``.`` and ``\\s`` differ from Python's on carriage returns and
  non-ASCII spaces).
* ``html`` is projected away at the first select → parquet scans prune it
  (ReadSchema shows url/text/lang only).
* Dedup is the only wide operation; both UNIQUE keys are window
  ``row_number``s over deterministic crawl order (url, file, stmt_idx) —
  see core/pipeline.py:dedup_rows for the documented semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from logtemplatecrawler_spark.functions import columns as C
from logtemplatecrawler_spark.operators.template_udfs import page_templates

TEMPLATE_COLUMNS = [
    "url", "file", "stmt_idx", "framework", "raw",
    "parsed_template", "arguments", "template",
]


def extract_templates(pages: DataFrame, dedup: bool = True,
                      crawl_date=None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → templates table."""
    p = pages.select("url", "text", "lang")
    p = p.where(C.detect_hit(F.col("text"), F.col("lang")))
    p = p.withColumn("framework", C.framework(F.col("text"), F.col("lang")))

    parsed = page_templates(p).withColumn("file", C.url_file(F.col("url")))

    if dedup:
        parsed = dedup_templates(parsed)
    if crawl_date is not None:
        parsed = parsed.withColumn("crawl_date", F.lit(crawl_date).cast("timestamp"))
        return parsed.select(*TEMPLATE_COLUMNS, "crawl_date")
    return parsed.select(*TEMPLATE_COLUMNS)


def dedup_templates(df: DataFrame) -> DataFrame:
    """UNIQUE(template) + UNIQUE(parsed_template) keep-first semantics (W3).

    A row survives iff it is the first occurrence — in deterministic crawl
    order (url, file, stmt_idx) — of BOTH its keys (postgres_db.sql:236-261;
    deviation from sequential inserts documented at core/pipeline.py:dedup_rows).
    """
    order = [F.col("url"), F.col("file"), F.col("stmt_idx")]
    w_template = Window.partitionBy("template").orderBy(*order)
    w_parsed = Window.partitionBy("parsed_template").orderBy(*order)
    return (
        df.withColumn("_rn_t", F.row_number().over(w_template))
        .withColumn("_rn_p", F.row_number().over(w_parsed))
        .where((F.col("_rn_t") == 1) & (F.col("_rn_p") == 1))
        .drop("_rn_t", "_rn_p")
    )

"""Stateful streaming seen-filters.

Two state-backed streaming operators complementing the batch round loop:

* ``streaming_seen_urls`` — `dropDuplicates` on the canonical url over an
  unbounded stream of discovered URLs: Spark's state store IS the URL-seen
  set (the streaming twin of the batch bloom+anti-join in crawl/seen.py).
* ``streaming_host_budget`` — a custom stateful operator via
  ``applyInPandasWithState``: per-host running fetch counter; URLs beyond
  the host's total budget are dropped.  This is the streaming analog of the
  per-round politeness window (a *cumulative* budget rather than a
  per-round one — rounds don't exist in a continuous stream).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from logtemplatecrawler_spark.crawl.frontier import canonicalize_url
from pyspark.sql import functions as F


def streaming_seen_urls(url_stream: DataFrame) -> DataFrame:
    """Unbounded stateful URL dedup: first occurrence wins, state-store backed."""
    return url_stream.select(
        canonicalize_url(F.col("url")).alias("url")
    ).dropDuplicates(["url"])


_BUDGET_OUT_SCHEMA = "host string, url string"
_BUDGET_STATE_SCHEMA = "taken bigint"


def _budget_fn(budget: int):
    def fn(key: Tuple[str], batches: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (host,) = key
        taken = state.get[0] if state.exists else 0
        if taken >= budget:
            # exhausted host: nothing can be admitted, so skip the sort
            for _ in batches:
                pass
            state.update((taken,))
            return
        # a host group larger than one Arrow batch arrives as SEVERAL
        # chunks in shuffle order; the url-ascending admission order must
        # cover the WHOLE group (same contract fix as content_dedup's
        # band buckets), else which urls consume the budget would depend
        # on chunk boundaries
        urls = sorted(u for pdf in batches for u in pdf["url"].tolist())
        keep = urls[: max(0, budget - taken)]
        taken += len(keep)
        if keep:
            yield pd.DataFrame({"host": [host] * len(keep), "url": keep})
        state.update((taken,))

    return fn


def streaming_host_budget(url_stream: DataFrame, budget: int) -> DataFrame:
    """Per-host cumulative fetch budget as a custom stateful operator."""
    withhost = url_stream.select(
        canonicalize_url(F.col("url")).alias("url")
    ).withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
    return withhost.groupBy("host").applyInPandasWithState(
        _budget_fn(budget),
        outputStructType=_BUDGET_OUT_SCHEMA,
        stateStructType=_BUDGET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

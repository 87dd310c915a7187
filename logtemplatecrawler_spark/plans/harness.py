"""Driver-harness query registry: SURVEY §2 operators + training-data ops.

Every entry pairs a Spark DataFrame implementation with an ANSI-SQL oracle
string DuckDB runs on the same parquet tables (views: region nation customer
supplier part orders lineitem events documents embeddings).  Column names
and types are aliased identically on both sides — the driver's comparator
sorts columns by name and value-hashes rows.

Determinism rules used throughout (both sides):
* pseudo-sampling via modular arithmetic (``(key * 2654435761) % 100 < p``)
  instead of engine RNGs (reference's unseeded random: SURVEY §2.5 O2/O5/O6);
* windows always carry a total-order tie-break;
* float aggregates rounded via ``round(x, N)`` before comparison;
* portable 64-bit hashes via ``md5`` hex prefixes (identical in both engines).

Queries with no SQL oracle (the template/crawl pipeline, LSH with custom
plumbing) register ``sql=None`` → the driver records a rows-only check.
"""

from __future__ import annotations

from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def _q(name: str, sql: Optional[str] = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


# `_t` scan-spread policy: per table, the deterministic hash-repartition
# key (a keyless round-robin repartition would pay a per-task sort,
# sortBeforeRepartition, to stay retry-safe; hashing an id column is
# deterministic for free) and the MINIMUM ROW COUNT below which spreading
# is a net loss.  The thresholds reflect downstream per-row cost — a
# document fans out to hundreds of shingle/gram/md5 rows, an embedding
# explodes 64x, an event row is one string concat — and were measured both
# ways: unconditional spreading regressed small-table queries 1.3-2.4x at
# sf0.1, while at the sf1-shaped sizes (50k docs / 20k vectors / 1M
# events) spreading is worth 2-8x on the scan-heavy families.
_SPREAD_KEYS = {
    "documents": ("doc_id", 20_000),
    "embeddings": ("vec_id", 10_000),
    "events": ("event_id", 250_000),
    "orders": ("o_orderkey", 500_000),
    "lineitem": ("l_orderkey", 500_000),
    "customer": ("c_custkey", 500_000),
    "part": ("p_partkey", 500_000),
    "supplier": ("s_suppkey", 500_000),
}
_SPREAD_ROWS_CACHE: Dict[str, int] = {}


def _table_rows(path: str) -> int:
    """Row count from the parquet footer(s) — a driver-side metadata read,
    no Spark job."""
    import os

    import pyarrow.parquet as pq

    rows = _SPREAD_ROWS_CACHE.get(path)
    if rows is None:
        if os.path.isdir(path):
            rows = sum(
                pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
                for r, _, fs in os.walk(path)
                for f in fs if f.endswith(".parquet")
            )
        else:
            rows = pq.ParquetFile(path).metadata.num_rows
        _SPREAD_ROWS_CACHE[path] = rows
    return rows


def _t(spark: SparkSession, sf_dir: str, name: str,
       spread: bool = True) -> DataFrame:
    """Read a fixture table, spreading large single-row-group files across
    the cluster.  The driver-generated parquet fixtures are written as ONE
    row group per file (verified up to 600k rows at sf0.1), and Spark
    cannot split a row group across scan tasks — so without this every
    query's scan stage (split/explode/md5/expression work up to the first
    exchange) runs on a single core (guide §2.5, "one huge unsplittable
    file → repartition immediately after the read").  Scale-adaptive both
    ways: the repartition fires only when the scan yields fewer partitions
    than ``defaultParallelism`` AND the table clears its per-table row
    threshold (below that the exchange costs more than the single-task
    scan work it parallelizes — measured, see ``_SPREAD_KEYS``);
    warehouse-scale tables scan as thousands of splits and pass through
    untouched.

    ``spread=False`` opts a caller out entirely: queries whose downstream
    per-row work is a single hash/projection (exact dedup, split assign,
    domain mix) or that re-shuffle to tiny rows immediately (the host-graph
    edge build's modular-arithmetic distinct) lose more to the extra
    exchange than the parallel scan recovers — measured at the sf1-shaped
    dir, see OPTIMIZATION_r06.md."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    spec = _SPREAD_KEYS.get(name)
    if spec is None or not spread:
        return df
    key, min_rows = spec
    n = spark.sparkContext.defaultParallelism
    if _table_rows(path) >= min_rows and df.rdd.getNumPartitions() < n:
        df = df.repartition(n, F.col(key))
    return df


# ---------------------------------------------------------------------------
# §2.1/2.3 sources, joins, set ops
# ---------------------------------------------------------------------------

@_q("s10_export_union_sample", sql="""
    SELECT o.o_orderkey AS orderkey, c.c_name AS cname
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    UNION
    SELECT o_orderkey AS orderkey, 'sampled' AS cname
    FROM orders WHERE (o_orderkey * 2654435761) % 10 < 3
""")
def s10_export_union_sample(spark, sf_dir):
    """S10/J1/J5/O5: export join ∪ deterministic sample (export_query.sql:1-15).
    The join broadcasts the small dimension (customer)."""
    orders, customer = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("o_orderkey").alias("orderkey"), F.col("c_name").alias("cname"))
    )
    sampled = orders.where((F.col("o_orderkey") * 2654435761) % 10 < 3).select(
        F.col("o_orderkey").alias("orderkey"), F.lit("sampled").alias("cname")
    )
    return joined.unionByName(sampled).dropDuplicates()


@_q("j3_anti_join_negative_cache", sql="""
    SELECT DISTINCT e.user_id AS user_id FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM events x WHERE x.user_id = e.user_id AND x.event_type = 'error'
    )
""")
def j3_anti_join(spark, sf_dir):
    """J3/F11: existence anti-join (discarded-templates negative cache →
    one shuffle instead of the reference's per-row SELECT loop)."""
    events = _t(spark, sf_dir, "events")
    err_users = events.where(F.col("event_type") == "error").select("user_id").distinct()
    return events.select("user_id").distinct().join(err_users, "user_id", "left_anti")


@_q("j4_union_merge_dedup", sql="""
    SELECT doc_id, lang FROM documents WHERE lang = 'en'
    UNION
    SELECT doc_id, lang FROM documents WHERE source = 'src1'
""")
def j4_union_merge(spark, sf_dir):
    """J4/J5: outer-merge accumulate ≡ unionByName + dropDuplicates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    a = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    b = docs.where(F.col("source") == "src1").select("doc_id", "lang")
    return a.unionByName(b).dropDuplicates()


# ---------------------------------------------------------------------------
# §2.2 filters / predicates
# ---------------------------------------------------------------------------

@_q("f1_size_gate", sql="""
    SELECT doc_id, n_chars,
           CASE WHEN n_chars >= 256 THEN 'accepted' ELSE 'discarded' END AS gate
    FROM documents
""")
def f1_size_gate(spark, sf_dir):
    """F1: two-way admission split (operators.py:112-116) as one pass with a
    gate column — a partitioned write then lands both sides without a second
    scan."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        F.when(F.col("n_chars") >= 256, "accepted").otherwise("discarded").alias("gate"),
    )


@_q("f2_quality_heuristic", sql="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 1000 AND c_nationkey < 10
""")
def f2_quality(spark, sf_dir):
    """F2: stars/size popularity predicate (process-repository.py:115-116)."""
    return _t(spark, sf_dir, "customer").where(
        (F.col("c_acctbal") > 1000) & (F.col("c_nationkey") < 10)
    ).select("c_custkey")


@_q("f6_statement_prefilter", sql="""
    SELECT doc_id FROM documents
    WHERE NOT regexp_matches(text, '^.{0,5}$')
      AND NOT regexp_matches(text, 'spark spark spark')
""")
def f6_prefilter(spark, sf_dir):
    """F6: pre-parse regex drops (filtersettings.py:6-9).  The repeated-char
    backreference lives in the pipeline tests (DuckDB/RE2 has no backrefs);
    here a literal-run pattern stands in."""
    return _t(spark, sf_dir, "documents").where(
        ~F.col("text").rlike("^.{0,5}$") & ~F.col("text").rlike("spark spark spark")
    ).select("doc_id")


@_q("f8_validity_mask", sql="""
    SELECT doc_id,
           (length(text) > 14
            OR NOT regexp_matches(text, '^[^a-wyzA-WYZ]+$')
            OR NOT regexp_matches(text, '^\\s*(static|#include|#define|#if|#endif)')
            OR NOT regexp_matches(text, '^\\s*(//|\\*)')) AS valid
    FROM documents
""")
def f8_validity(spark, sf_dir):
    """F8: the permissive OR-mask (templatefilter.py:12-21)."""
    t = F.col("text")
    valid = (
        (F.length(t) > 14)
        | ~t.rlike("^[^a-wyzA-WYZ]+$")
        | ~t.rlike("^\\s*(static|#include|#define|#if|#endif)")
        | ~t.rlike("^\\s*(//|\\*)")
    )
    return _t(spark, sf_dir, "documents").select("doc_id", valid.alias("valid"))


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

@_q("a1_mode_majority_vote", sql="""
    WITH counted AS (
      SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT user_id, event_type, cnt,
             row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
      FROM counted
    )
    SELECT user_id, event_type AS top_type, cnt AS votes FROM ranked WHERE rn = 1
""")
def a1_mode(spark, sf_dir):
    """A1: majority vote / mode with deterministic tie-break
    (detector.py:28 — ``max(indicators, key=count)``)."""
    events = _t(spark, sf_dir, "events")
    counted = events.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_type"), F.col("cnt").alias("votes"))
    )


@_q("a2_any_bool", sql="""
    SELECT user_id,
           max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_error
    FROM events GROUP BY user_id
""")
def a2_any(spark, sf_dir):
    """A2: ANY(bool) per group (detector.py:24-28)."""
    return _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("has_error")
    )


@_q("a3_max_cursor", sql="SELECT max(event_id) AS max_cursor FROM events")
def a3_max_cursor(spark, sf_dir):
    """A3: checkpoint cursor = max key (operators.py:111)."""
    return _t(spark, sf_dir, "events").agg(F.max("event_id").alias("max_cursor"))


@_q("a4_stage_counts", sql="""
    SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value
    FROM events GROUP BY event_type
""")
def a4_counts(spark, sf_dir):
    """A4: per-stage dataset-size metrics (logparser/java.py:49-56) as one
    grouped agg instead of repeated len() actions."""
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value")
    )


@_q("a5_placeholder_count", sql="""
    SELECT doc_id,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the
    FROM documents
""")
def a5_substr_count(spark, sf_dir):
    """A5: '{}' occurrence counting (formalizer.py:64-65) — native
    length-difference arithmetic, no UDF."""
    t = F.col("text")
    n = ((F.length(t) - F.length(F.regexp_replace(t, "the", ""))) / 3).cast("bigint")
    return _t(spark, sf_dir, "documents").select("doc_id", n.alias("n_the"))


@_q("a6_latest_cursor_top1", sql="""
    SELECT event_id, user_id FROM events
    ORDER BY ts DESC, event_id DESC LIMIT 1
""")
def a6_latest(spark, sf_dir):
    """A6: newest checkpoint row (operators.py:82-84)."""
    return (
        _t(spark, sf_dir, "events")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(1)
        .select("event_id", "user_id")
    )


@_q("a7_keep_newest_n", sql="""
    WITH ranked AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id FROM ranked WHERE rn <= 10
""")
def a7_keep_newest(spark, sf_dir):
    """A7: keep-newest-10 rotation (postgres_db.sql:23-29)."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# §2.5/2.6 sorts, top-k, sampling, windows
# ---------------------------------------------------------------------------

@_q("o1_sort_by_size_topk", sql="""
    SELECT doc_id, n_chars FROM documents
    ORDER BY n_chars DESC, doc_id LIMIT 50
""")
def o1_topk(spark, sf_dir):
    """O1: order blobs by size desc (heuristicwalk.py:30) — Spark turns
    ORDER BY+LIMIT into a TakeOrderedAndProject (no full sort)."""
    return (
        _t(spark, sf_dir, "documents")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .limit(50)
        .select("doc_id", "n_chars")
    )


@_q("o2_top_pool_sample", sql="""
    WITH pool AS (
      SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 100
    )
    SELECT doc_id, n_chars FROM pool WHERE (doc_id * 2654435761) % 100 < 40
""")
def o2_pool_sample(spark, sf_dir):
    """O2: top-2k pool then sample k (crawler.py:52-56) — deterministic
    hash-mod stands in for the reference's unseeded random.sample."""
    pool = (
        _t(spark, sf_dir, "documents")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .limit(100)
    )
    return pool.where((F.col("doc_id") * 2654435761) % 100 < 40).select("doc_id", "n_chars")


@_q("w1_politeness_queue", sql="""
    WITH ranked AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      FROM events
    )
    SELECT user_id, event_id, value FROM ranked WHERE rn <= 2
""")
def w1_politeness(spark, sf_dir):
    """W1/W2/O4: the per-host windowed priority queue (user_id ↔ host,
    value ↔ priority, budget 2) — the crawl scheduler's pop, relationally."""
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("user_id", "event_id", "value")
    )


@_q("w3_dedup_keepfirst", sql="""
    WITH ranked AS (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id, event_type, event_id FROM ranked WHERE rn = 1
""")
def w3_dedup(spark, sf_dir):
    """W3: UNIQUE-constraint keep-first dedup (postgres_db.sql:236-261)."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup family
# ---------------------------------------------------------------------------

@_q("dedup_exact_hash", sql="""
    SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n
    FROM documents GROUP BY md5(text)
""")
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, keep min doc_id per fingerprint."""
    return _t(spark, sf_dir, "documents", spread=False).groupBy(
        F.md5("text").alias("fp")
    ).agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n"))


@_q("dedup_jaccard_words", sql="""
    WITH words AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      WHERE doc_id < 200
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
""")
def dedup_jaccard(spark, sf_dir):
    """Near-dup detection: word-set Jaccard ≥ 0.8 over a doc_id<200 slice
    (bounded pair join; the scale path is minhash/LSH below)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = words.alias("a")
    b = words.alias("b")
    pairs = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("inter") / (F.col("sa.n") + F.col("sb.n") - F.col("inter"))
    return (
        pairs.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# Portable 64-bit word hash: first 15 hex chars of md5 → BIGINT (fits 2^60).
from logtemplatecrawler_spark.operators.minhash import MINHASH_P as _MINHASH_P

_MINHASH_COEF = [(2, 1), (3, 7), (5, 11), (7, 13), (11, 17), (13, 19), (17, 23), (19, 29)]


def _band_pairs(sigs, bands: int, rows: int):
    """Candidate pairs from banded signatures: one equality self-join per
    band on the band's ``rows`` signature columns (compact keys — never an
    all-pairs scan), unioned and de-duplicated.  Shared by the fixed 4×2
    demonstrator and the threshold-parameterized entry so the two loops
    cannot drift apart."""
    out = None
    for band in range(bands):
        keys = [f"mh{band * rows + j}" for j in range(rows)]
        left = sigs.select(F.col("doc_id").alias("doc_a"),
                           *[F.col(k).alias(f"b{j}") for j, k in enumerate(keys)])
        right = sigs.select(F.col("doc_id").alias("doc_b"),
                            *[F.col(k).alias(f"b{j}") for j, k in enumerate(keys)])
        pairs = (
            left.join(right, [f"b{j}" for j in range(rows)])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out.distinct()


def _shingle_sig_sql(coefs) -> str:
    # Shingles are word BIGRAMS: the fixture vocabulary is tiny (~31 words),
    # so unigram word-sets collide across most documents and LSH buckets
    # degenerate; bigrams restore discriminative sets.  1-based list
    # indexing in both engines (DuckDB ws[i], Spark element_at).
    mins = ",\n           ".join(
        f"min(((hw % {_MINHASH_P}) * {a} + {b}) % {_MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(coefs)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), shingles AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, array_length(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS w
      FROM toks WHERE array_length(ws) >= 2
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hw FROM shingles
    ), sigs AS (
      SELECT doc_id,
           {mins}
      FROM hashed GROUP BY doc_id
    )"""


def _minhash_sql_core() -> str:
    return _shingle_sig_sql(_MINHASH_COEF)


def _minhash_sigs(spark, sf_dir, coefs):
    """documents → (doc_id, mh0..mhN) minhash signatures.

    r6: signatures are PER-DOCUMENT work, so they run as one mapInPandas
    kernel (operators/minhash.make_minhash_sig_fn) over (doc_id, text) —
    the r5 plan exploded each doc to shingle rows (split + transform +
    per-shingle md5 + conv as JVM expressions) and shuffled them through a
    groupBy(doc_id) min-aggregation; the kernel computes the identical
    int64-exact mins with zero shuffle and a shingle→hash memo reused
    across batches (guide §4.2/§4.5, §2.4).  Equality is exact: md5-prefix
    hashes and the (hw%P)*a+b mod-P mins are integer arithmetic stated
    identically on both sides; min over the distinct shingle set equals
    min over the occurrence multiset, so the oracle's DISTINCT form is
    matched too.  <2-token docs produce no row, matching the oracle's
    ``array_length(ws) >= 2`` gate."""
    from logtemplatecrawler_spark.operators.minhash import make_minhash_sig_fn

    docs = _t(spark, sf_dir, "documents")
    schema = "doc_id bigint, " + ", ".join(
        f"mh{i} bigint" for i in range(len(coefs))
    )
    return docs.select("doc_id", "text").mapInPandas(
        make_minhash_sig_fn(coefs), schema
    )


@_q("dedup_minhash_signatures", sql=_minhash_sql_core() + """
    SELECT * FROM sigs
""")
def dedup_minhash(spark, sf_dir):
    """MinHash signatures (8 permutations) over word-bigram shingles,
    portable md5-derived hashes — the scale path for near-dup at 100 TB."""
    return _minhash_sigs(spark, sf_dir, _MINHASH_COEF)


@_q("dedup_lsh_candidate_pairs", sql=_minhash_sql_core() + """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sigs a JOIN sigs b
      ON a.doc_id < b.doc_id
     AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
       OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3)
       OR (a.mh4 = b.mh4 AND a.mh5 = b.mh5)
       OR (a.mh6 = b.mh6 AND a.mh7 = b.mh7))
""")
def dedup_lsh_pairs(spark, sf_dir):
    """LSH banding (4 bands × 2 rows): equality self-join per band — each
    band is a shuffle-join on a compact key, no quadratic pair scan.
    Signatures are materialized once via localCheckpoint: 4 bands × 2 join
    sides would otherwise recompute the minhash aggregation 8×, and a
    .persist() here would outlive the query (CacheManager entries survive
    until an explicit unpersist, which a lazily-returned DataFrame cannot
    schedule — ADVICE r02); localCheckpointed blocks are GC-cleaned with
    the DataFrame."""
    sigs = dedup_minhash(spark, sf_dir).localCheckpoint()
    return _band_pairs(sigs, bands=4, rows=2)


# Threshold-parameterized banding: 16 perms at a 0.7 Jaccard target →
# lsh_banding picks 4 bands × 4 rows (S-curve midpoint (1/4)^(1/4) ≈ 0.707).
_TUNED_THRESHOLD = 0.7
_TUNED_PERMS = 16


def _lsh_tuned_sql() -> str:
    from logtemplatecrawler_spark.operators.minhash import (
        lsh_banding, minhash_coefficients,
    )

    coefs = minhash_coefficients(_TUNED_PERMS)
    bands, rows = lsh_banding(_TUNED_PERMS, _TUNED_THRESHOLD)
    conds = "\n       OR ".join(
        "(" + " AND ".join(
            f"a.mh{band * rows + j} = b.mh{band * rows + j}" for j in range(rows)
        ) + ")"
        for band in range(bands)
    )
    return _shingle_sig_sql(coefs) + f"""
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sigs a JOIN sigs b
      ON a.doc_id < b.doc_id
     AND ({conds})
"""


@_q("dedup_lsh_pairs_tuned", sql=_lsh_tuned_sql())
def dedup_lsh_pairs_tuned(spark, sf_dir):
    """Threshold-PARAMETERIZED LSH banding (VERDICT r02 item 7): (bands,
    rows) are derived from the target Jaccard threshold via the S-curve
    midpoint (1/b)^(1/r) — 16 perms at τ=0.7 resolve to 4 bands × 4 rows,
    P(candidate | s) = 1-(1-s^4)^4 (operators/minhash.py, with the fixture
    S-curve property-tested against exact shingle Jaccard in
    tests/test_harness.py::test_lsh_tuned_s_curve).  Plan shape is the
    scale shape: per-band equality self-joins on compact keys over
    signatures materialized once — never an all-pairs scan; the SQL oracle
    is generated from the same (coefficients, bands, rows) constants."""
    from logtemplatecrawler_spark.operators.minhash import (
        lsh_banding, minhash_coefficients,
    )

    coefs = minhash_coefficients(_TUNED_PERMS)
    bands, rows = lsh_banding(_TUNED_PERMS, _TUNED_THRESHOLD)
    sigs = _minhash_sigs(spark, sf_dir, coefs).localCheckpoint()
    return _band_pairs(sigs, bands=bands, rows=rows)


# Mega-bucket cap: a band bucket with n members expands to n(n-1)/2
# candidate pairs, so one boilerplate-heavy key (cookie banners, license
# headers) with 10^6 members at 100 TB would emit 5·10^11 pairs from a
# single task — the classic LSH skew failure.  Production dedup drops (or
# samples) buckets above a cap and accepts the documented recall loss;
# pairs dropped in one band can still surface via their other bands.
# 4 keeps the fixture's one oversized bucket (8 members at sf0.001, 5 at
# sf0.01) genuinely dropped so the hash check exercises the guard.
_LSH_BUCKET_CAP = 4


def _lsh_capped_sql() -> str:
    from logtemplatecrawler_spark.operators.minhash import (
        lsh_banding, minhash_coefficients,
    )

    coefs = minhash_coefficients(_TUNED_PERMS)
    bands, rows = lsh_banding(_TUNED_PERMS, _TUNED_THRESHOLD)
    ctes, unions = [], []
    for band in range(bands):
        keys = [f"mh{band * rows + j}" for j in range(rows)]
        key_list = ", ".join(keys)
        s_eq_c = " AND ".join(f"s.{k} = c.{k}" for k in keys)
        a_eq_b = " AND ".join(f"a.{k} = b.{k}" for k in keys)
        ctes.append(f"""ok{band} AS (
      SELECT s.* FROM sigs s
      JOIN (SELECT {key_list}, count(*) AS n FROM sigs
            GROUP BY {key_list}) c ON {s_eq_c}
      WHERE c.n <= {_LSH_BUCKET_CAP}
    ), p{band} AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ok{band} a JOIN ok{band} b
        ON a.doc_id < b.doc_id AND {a_eq_b}
    )""")
        unions.append(f"SELECT doc_a, doc_b FROM p{band}")
    return (_shingle_sig_sql(coefs) + ", " + ", ".join(ctes)
            + "\n    SELECT DISTINCT doc_a, doc_b FROM ("
            + " UNION ALL ".join(unions) + ")")


@_q("dedup_lsh_pairs_capped", sql=_lsh_capped_sql())
def dedup_lsh_pairs_capped(spark, sf_dir):
    """Tuned LSH banding with a MEGA-BUCKET skew guard: per band, bucket
    membership counts are computed over the band key (one window — the
    count's shuffle partitioning is reused by the pair self-join on the
    same key), buckets above `_LSH_BUCKET_CAP` members are dropped, and
    only surviving buckets expand to candidate pairs.  This is the 100 TB
    skew story for LSH dedup: without the cap, one boilerplate band key
    holding 10^6 docs expands quadratically inside a single shuffle
    partition; with it, per-task pair fan-out is bounded at
    cap·(cap-1)/2 per bucket, at a documented recall cost (a pair dropped
    from an oversized band can still qualify via its other bands — see
    tests/test_harness.py::test_lsh_capped_subset).  The SQL twin is
    generated from the same (coefficients, bands, rows, cap) constants."""
    from pyspark.sql import Window
    from logtemplatecrawler_spark.operators.minhash import (
        lsh_banding, minhash_coefficients,
    )

    coefs = minhash_coefficients(_TUNED_PERMS)
    bands, rows = lsh_banding(_TUNED_PERMS, _TUNED_THRESHOLD)
    sigs = _minhash_sigs(spark, sf_dir, coefs).localCheckpoint()
    out = None
    for band in range(bands):
        keys = [f"mh{band * rows + j}" for j in range(rows)]
        ok = (
            sigs.withColumn(
                "_n", F.count("*").over(Window.partitionBy(*keys))
            )
            .where(F.col("_n") <= _LSH_BUCKET_CAP)
        )
        left = ok.select(F.col("doc_id").alias("doc_a"),
                         *[F.col(k).alias(f"b{j}") for j, k in enumerate(keys)])
        right = ok.select(F.col("doc_id").alias("doc_b"),
                          *[F.col(k).alias(f"b{j}") for j, k in enumerate(keys)])
        pairs = (
            left.join(right, [f"b{j}" for j in range(rows)])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out.distinct()


def _simhash_cte() -> str:
    # Programmatically generated twin of the Spark aggregation below — the
    # same 60 per-bit sign-sums, built by the same loop (VERDICT r01 item 5:
    # a `no_oracle` row doesn't count as green, and the SQL IS generatable).
    # Ends in a ``sims`` CTE so the signature computation is shared by the
    # plain entry and the banded Hamming-pair entry.
    sums = ",\n           ".join(
        f"sum(CASE WHEN (hw >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS s{i}"
        for i in range(60)
    )
    bits = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN 1 ELSE 0 END)::BIGINT * {2 ** i}"
        for i in range(60)
    )
    return f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), tfs AS (
      SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2
    ), hashed AS (
      SELECT doc_id, tf, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hw FROM tfs
    ), sums AS (
      SELECT doc_id,
           {sums}
      FROM hashed GROUP BY doc_id
    ), sims AS (
      SELECT doc_id, {bits} AS simhash FROM sums
    )"""


def _simhash_sql() -> str:
    return _simhash_cte() + """
    SELECT doc_id, simhash FROM sims
    """


@_q("dedup_simhash60", sql=_simhash_sql())
def dedup_simhash(spark, sf_dir):
    """SimHash (60-bit) per doc: sign-sum of md5-derived word-hash bits,
    weighted by term frequency.  60 bits keeps every intermediate inside a
    signed bigint under ANSI arithmetic in both engines; the DuckDB oracle
    is generated by the same loop that builds the Spark aggregates."""
    return _simhash_frame(spark, sf_dir)


def _simhash_frame(spark, sf_dir):
    """Spark twin of `_simhash_cte`: (doc_id, simhash) per document.

    r6: the signature is computed PER DOCUMENT by the shared integer-exact
    kernel `operators/simhash.simhash60_batch` through one Arrow-batched
    pandas UDF — the same kernel the streaming near-dup filter runs, pinned
    bit-identical to both the scalar oracle and the r5 explode/aggregate
    DataFrame form (tests/test_stateful_streaming.py::
    test_simhash60_batch_matches_scalar / test_simhash60_matches_batch_frame,
    and the generated `_simhash_cte` twin hashes green).  The computation is
    embarrassingly parallel per doc, so the r5 plan's explode to word
    occurrences (~200 rows/doc), per-occurrence md5 + 60 conditional-sum
    expressions, and the full groupBy(doc_id) SHUFFLE of 61-bigint rows all
    disappear (guide §4.2: batch native code beats JVM expression trees;
    §2.4: the only shuffle left is none).  The kernel memoizes word→hash
    across batches in a reused worker (§4.5)."""
    import pandas as pd

    from logtemplatecrawler_spark.operators.simhash import simhash60_batch

    sig = F.pandas_udf(
        lambda texts: pd.Series(simhash60_batch(texts), dtype="int64"),
        "bigint",
    )
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", sig("text").alias("simhash"))


# 60-bit simhash split into 4 bands of 15 bits; by pigeonhole any pair at
# Hamming distance ≤ bands-1 = 3 must agree on at least one whole band, so
# banded candidate generation is EXACTLY complete at the τ=3 verify — no
# recall loss, unlike probabilistic MinHash-LSH.
_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = 15
_SIMHASH_BAND_MASK = (1 << _SIMHASH_BAND_BITS) - 1
_SIMHASH_HAMMING = _SIMHASH_BANDS - 1


def _simhash_pairs_cte() -> str:
    """Extend `_simhash_cte` with a ``spairs`` CTE holding the verified
    (doc_a, doc_b, hamming) near-dup pairs — shared by the pairs entry and
    the clustered composition below."""
    conds = "\n        OR ".join(
        f"((a.simhash >> {b * _SIMHASH_BAND_BITS}) & {_SIMHASH_BAND_MASK})"
        f" = ((b.simhash >> {b * _SIMHASH_BAND_BITS}) & {_SIMHASH_BAND_MASK})"
        for b in range(_SIMHASH_BANDS)
    )
    return _simhash_cte() + f""", cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sims a JOIN sims b
        ON a.doc_id < b.doc_id
       AND ({conds})
    ), spairs AS (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
      FROM cand c
      JOIN sims sa ON sa.doc_id = c.doc_a
      JOIN sims sb ON sb.doc_id = c.doc_b
      WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SIMHASH_HAMMING}
    )"""


def _simhash_pairs_sql() -> str:
    return _simhash_pairs_cte() + """
    SELECT doc_a, doc_b, hamming FROM spairs
"""


@_q("dedup_simhash_hamming_pairs", sql=_simhash_pairs_sql())
def dedup_simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS over the full documents table — the
    detection step the signature entry feeds: band the 60-bit simhash into
    4×15-bit keys, generate candidates by per-band equality self-joins
    (never all-pairs), then verify by exact Hamming distance ≤ 3
    (`bit_count(a XOR b)`).  The pigeonhole bound makes banded generation
    EXACTLY complete at this threshold: ≤ 3 differing bits cannot touch
    all 4 bands, so every qualifying pair shares a band key.  Signatures
    are materialized once (localCheckpoint) and reused for banding and
    verification; the SQL twin is generated from the same band/threshold
    constants.  At 100 TB this is the simhash leg of the dedup family:
    band keys are shuffle keys, the verify touches candidates only."""
    return _simhash_pairs_frame(spark, sf_dir)


def _simhash_pairs_frame(spark, sf_dir):
    """Spark twin of `_simhash_pairs_cte`: verified (doc_a, doc_b, hamming)
    simhash near-dup pairs via banded candidate generation."""
    sims = _simhash_frame(spark, sf_dir).localCheckpoint()
    a, b = sims.alias("a"), sims.alias("b")
    # r6: VERIFY before DISTINCT, and IN PLACE.  Both signatures are
    # already columns of every band self-join, so the exact-Hamming verify
    # is a bit_count filter applied directly inside each band piece — the
    # r5 shape re-joined the signature table twice to re-fetch them, two
    # broadcast probes over the full candidate stream (a pair can appear
    # once per band, and band collisions explode quadratically on
    # near-dup-heavy corpora: 27M candidate rows at the sf1-shaped
    # bench).  Filtering inside the piece also shrinks the distinct's
    # input to the verified survivors (verify∘distinct ≡ distinct∘verify
    # for a deterministic per-pair predicate), so the only shuffle left is
    # the distinct over true near-dup pairs.
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("bigint")
    cand = None
    for band in range(_SIMHASH_BANDS):
        key = lambda side: (
            F.shiftright(F.col(f"{side}.simhash"), band * _SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(_SIMHASH_BAND_MASK))
        )
        piece = (
            a.join(b, (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (key("a") == key("b")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    hamming.alias("hamming"))
            .where(F.col("hamming") <= _SIMHASH_HAMMING)
        )
        cand = piece if cand is None else cand.unionByName(piece)
    return cand.distinct()


@_q("dedup_simhash_canonical", sql=f"""
    {_simhash_pairs_cte().replace("WITH words", "WITH RECURSIVE words", 1)}, edges AS (
      SELECT doc_a AS a, doc_b AS b FROM spairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM spairs
    ), reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS doc_id, min(dst) AS cluster_id,
           (src = min(dst)) AS is_canonical
    FROM reach GROUP BY src
""")
def dedup_simhash_canonical(spark, sf_dir):
    """SimHash near-dup DEDUP, composed end-to-end over the FULL documents
    table: banded Hamming-≤3 pair generation (`_simhash_pairs_frame` —
    exactly complete by pigeonhole, never all-pairs) → connected components
    (operators/components.connected_components, the SAME clustering operator
    the MinHash-LSH and embedding-cosine legs drive) → canonical min-doc_id
    keeper.  Unlike those legs this one needs no bounded oracle slice: the
    banded generator is exact, so the DuckDB twin is the same generated
    pair CTE plus a recursive-closure components query over all documents.
    At 100 TB: band keys shuffle, verify touches candidates, clustering
    joins touch only edge endpoints — every stage is key-bucketed."""
    from logtemplatecrawler_spark.operators.components import (
        connected_components,
    )

    pairs = _simhash_pairs_frame(spark, sf_dir).select("doc_a", "doc_b")
    nodes = _t(spark, sf_dir, "documents").select("doc_id")
    labels, _ = connected_components(nodes, pairs, id_col="doc_id")
    return labels.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: similarity search over embeddings
# ---------------------------------------------------------------------------

@_q("ann_cosine_topk", sql="""
    WITH q AS (
      SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id = 0
    ), e AS (
      SELECT vec_id, unnest(embedding) AS ev, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id <> 0
    ), dots AS (
      SELECT e.vec_id,
             sum(CAST(e.ev AS DOUBLE) * CAST(q.qv AS DOUBLE)) AS dot,
             sum(CAST(e.ev AS DOUBLE) * CAST(e.ev AS DOUBLE)) AS nn
      FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id
    ), qn AS (SELECT sum(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE)) AS qq FROM q)
    SELECT vec_id, round(dot / sqrt(nn * (SELECT qq FROM qn)), 6) AS cosine
    FROM dots
    ORDER BY round(dot / sqrt(nn * (SELECT qq FROM qn)), 6) DESC, vec_id
    LIMIT 20
""")
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-20 vs the vec_id=0 query vector.

    The dot product stays native (posexplode + join + sum as double);
    rounding to 6 decimals before ranking makes the comparison stable across
    engines.  The scale path is `ann_lsh_hyperplane` below."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.posexplode("embedding").alias("i", "qv")
    )
    e = emb.where(F.col("vec_id") != 0).select(
        "vec_id", F.posexplode("embedding").alias("i", "ev")
    )
    dots = (
        e.join(q, "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("ev").cast("double") * F.col("qv").cast("double")).alias("dot"),
            F.sum(F.col("ev").cast("double") * F.col("ev").cast("double")).alias("nn"),
        )
    )
    qq = q.agg(F.sum(F.col("qv").cast("double") * F.col("qv").cast("double")).alias("qq"))
    cos = F.round(F.col("dot") / F.sqrt(F.col("nn") * F.col("qq")), 6)
    return (
        dots.crossJoin(F.broadcast(qq))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(20)
    )


def _hyperplane_sql(n_planes: int = 8, dims: int = 64) -> str:
    """SQL twin of operators/similarity.lsh_bucket, generated from the same
    deterministic integer plane coefficients (exact: the quantized dot is
    pure int64 arithmetic, order-independent in both engines)."""
    from logtemplatecrawler_spark.operators.similarity import plane_coefficients

    coefs = plane_coefficients(n_planes, dims)
    qdefs = ",\n             ".join(
        f"CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE) * 1000) AS BIGINT) AS q{d}"
        for d in range(dims)
    )
    planes = "\n         + ".join(
        "(CASE WHEN "
        + " + ".join(f"({coefs[p][d]} * q{d})" for d in range(dims))
        + f" > 0 THEN {2 ** p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             {qdefs}
      FROM embeddings
    )
    SELECT vec_id, CAST({planes} AS INTEGER) AS bucket FROM q
    """


@_q("ann_lsh_hyperplane", sql=_hyperplane_sql())
def ann_lsh_hyperplane(spark, sf_dir):
    """Random-hyperplane LSH bucketing: 8-bit signature per vector →
    bucket id; bucket-joined search touches only same-signature candidates
    — the IVF/LSH scale path.  One vectorized pandas UDF (numpy int64
    matmul) replaces r01's 8×64-term Catalyst expression, so the plan is
    dimension-independent (see operators/similarity.py; dim-768 pinned by
    tests/test_operators.py)."""
    from logtemplatecrawler_spark.operators.similarity import lsh_bucket

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select("vec_id", lsh_bucket(F.col("embedding")).alias("bucket"))


# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis
# ---------------------------------------------------------------------------

@_q("text_token_count", sql="""
    SELECT doc_id,
           length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
    FROM documents
""")
def text_token_count(spark, sf_dir):
    """Whitespace token counting via portable length arithmetic."""
    t = F.col("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1)
        .cast("bigint").alias("n_tokens"),
    )


@_q("text_quality_score", sql="""
    SELECT doc_id,
           round(CAST(n_chars AS DOUBLE) /
                 (length(text) - length(replace(text, ' ', '')) + 1), 6) AS avg_token_len,
           CAST(length(text) - length(replace(text, 'the', '')) AS BIGINT) / 3
             AS stopword_hits
    FROM documents
""")
def text_quality(spark, sf_dir):
    """Quality scoring: avg token length + stopword hits (native arithmetic)."""
    t = F.col("text")
    n_tokens = F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1
    stop = ((F.length(t) - F.length(F.regexp_replace(t, "the", ""))).cast("bigint") / 3)
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(F.col("n_chars").cast("double") / n_tokens, 6).alias("avg_token_len"),
        stop.alias("stopword_hits"),
    )


@_q("text_lang_id", sql="""
    SELECT doc_id, lang AS labeled,
           CASE WHEN length(text) - length(replace(text, 'the', '')) > 0
                THEN 'en' ELSE 'unk' END AS predicted
    FROM documents
""")
def text_lang_id(spark, sf_dir):
    """Heuristic language id: stopword-presence vote (deterministic; the
    point is the plumbing — a real n-gram model slots into the same shape)."""
    t = F.col("text")
    pred = F.when(
        F.length(t) - F.length(F.regexp_replace(t, "the", "")) > 0, "en"
    ).otherwise("unk")
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("labeled"), pred.alias("predicted")
    )


@_q("text_tfidf_topk", sql="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), tf AS (
      SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2
    ), df AS (
      SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY 1
    ), n AS (
      SELECT count(*) AS n FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.w AS term,
             round(tf.tf * ln(CAST((SELECT n FROM n) AS DOUBLE) / df.df), 6)
               AS tfidf
      FROM tf JOIN df ON tf.w = df.w
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
""")
def text_tfidf_topk(spark, sf_dir):
    """Corpus-level TF-IDF with per-doc top-3 terms — the keyword /
    quality-signal extraction step of a training-data pipeline.  Scale
    shape: term frequencies and document frequencies are two independent
    partial-aggregated groupBys over the exploded token table, the corpus
    size is ONE broadcast scalar, and the top-k is a per-doc window
    (WindowGroupLimit caps each key map-side).  Scores are rounded to 6 dp
    BEFORE ranking on both engines so the cross-engine float comparison
    (Java Math.log vs libm) is stable; term is the total-order tiebreak."""
    # r6: the tf table is per-document work — one mapInPandas kernel
    # (operators/textstats.make_tf_fn) emits the identical (doc_id, w, tf)
    # rows with zero shuffle, replacing the explode + groupBy(doc_id, w)
    # shuffle of ~10M word rows.  Document frequencies follow from tf
    # (one row per distinct word per doc, so count(*) per w ==
    # countDistinct(doc_id) over occurrences — same integers), which also
    # drops the second explode + distinct-expansion shuffle the r5 dfreq
    # paid.  tf feeds two consumers, so it is checkpointed once.
    from logtemplatecrawler_spark.operators.textstats import make_tf_fn

    docs = _t(spark, sf_dir, "documents")
    tf = docs.select("doc_id", "text").mapInPandas(
        make_tf_fn(), "doc_id bigint, w string, tf bigint"
    ).localCheckpoint()
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", F.col("w").alias("term"),
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6)
            .alias("tfidf"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@_q("text_fingerprint", sql="""
    SELECT doc_id, md5(lower(text)) AS fp, length(text) AS n FROM documents
""")
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting: normalized content hash."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower("text")).alias("fp"),
        F.length("text").cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing: opaque binary columns through mapInPandas
# ---------------------------------------------------------------------------

@_q("mm_binary_meta", sql="""
    SELECT doc_id,
           octet_length(encode(text)) AS nbytes,
           substr(md5(text), 1, 8) AS magic,
           octet_length(encode(text)) % 640 AS fake_width
    FROM documents
""")
def mm_binary_meta(spark, sf_dir):
    """Multimodal column plumbing: documents.text encoded to an opaque
    binary payload column, then metadata extracted in a mapInPandas stage
    (Arrow batches of binary).  Decode goes through the optional-codec
    seam (operators/multimodal.py, VERDICT r04 item 8): Pillow decodes
    real images when importable, undecodable payloads (all fixture rows —
    they are text) fall back to the deterministic fake the SQL oracle
    mirrors, so the hash is stable with or without the library.  The
    vectorized no-codec fast path avoids per-row Python when no codec is
    installed."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"),
        F.md5("text").alias("_md5"),
    )

    def _decode_batch(batches):
        import pandas as pd

        from logtemplatecrawler_spark.operators.multimodal import (
            IMAGE_CODEC, image_meta,
        )
        for pdf in batches:
            if IMAGE_CODEC is None:
                nbytes = pdf["payload"].map(len)
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"],
                    "nbytes": nbytes.astype("int64"),
                    "magic": pdf["_md5"].str.slice(0, 8),
                    "fake_width": (nbytes % 640).astype("int64"),
                })
            else:
                metas = [
                    image_meta(p, m, codec=IMAGE_CODEC)
                    for p, m in zip(pdf["payload"], pdf["_md5"])
                ]
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"],
                    "nbytes": pd.Series([m[0] for m in metas], dtype="int64"),
                    "magic": [m[1] for m in metas],
                    "fake_width": pd.Series([m[2] for m in metas], dtype="int64"),
                })

    return docs.mapInPandas(
        _decode_batch, schema="doc_id bigint, nbytes bigint, magic string, fake_width bigint"
    )


@_q("mm_frame_sample", sql="""
    WITH fr AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text) / 32.0) AS BIGINT), 4))
               AS frame_idx
      FROM documents
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           md5(substr(text, CAST(frame_idx * 32 + 1 AS BIGINT), 32)) AS frame_sig
    FROM fr
""")
def mm_frame_sample(spark, sf_dir):
    """Multimodal frame sampling: every 4th 32-CHARACTER "frame" of an
    opaque binary payload is decoded, sliced and fingerprinted inside a
    mapInPandas stage (Arrow binary batches) — the plumbing shape of video
    frame-sampling / audio chunking, with the codec swapped for a slicer
    the SQL oracle can mirror (a real keyframe decoder slots into
    operators/multimodal.sample_frames' ``codec`` argument; libs absent
    here).  Frames are character slices on BOTH sides (DuckDB
    substr/length are character-based) so non-ASCII corpora agree —
    ADVICE r02: byte-slicing here silently diverged off-ASCII; pinned by
    tests/test_harness.py::test_mm_frame_sample_non_ascii."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def _sample(batches):
        import pandas as pd

        from logtemplatecrawler_spark.operators.multimodal import sample_frames
        for pdf in batches:
            ids, idxs, sigs = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for idx, sig in sample_frames(bytes(payload).decode("utf-8")):
                    ids.append(doc_id)
                    idxs.append(idx)
                    sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_sig": sigs})

    return docs.mapInPandas(
        _sample, schema="doc_id bigint, frame_idx bigint, frame_sig string"
    )


# ---------------------------------------------------------------------------
# §2.2 F4/F5 url-path predicates, §2.5 O3, §2.7 U15
# ---------------------------------------------------------------------------

@_q("f4_f5_url_path_filters", sql="""
    WITH urls AS (
      SELECT doc_id,
             'https://h.example.org/' ||
             CASE WHEN doc_id % 5 = 0 THEN 'tests' WHEN doc_id % 5 = 1 THEN 'docs'
                  WHEN doc_id % 5 = 2 THEN 'src' WHEN doc_id % 5 = 3 THEN 'core'
                  ELSE 'examples' END ||
             '/F' || doc_id ||
             CASE WHEN doc_id % 3 = 0 THEN '.java' WHEN doc_id % 3 = 1 THEN '.c'
                  ELSE '.md' END AS url
      FROM documents
    )
    SELECT doc_id, url,
           NOT regexp_matches(url, '/(docs?|tests?|testing|tmp|scripts?|examples)/')
             AS dir_ok,
           regexp_matches(url, '\\.(java|c)$') AS ext_ok,
           regexp_matches(url, '/(src|source|java|libs|core|app)/') AS priority_dir
    FROM urls
""")
def f4_f5_url_filters(spark, sf_dir):
    """F4/F5: directory exclude/priority + extension predicates
    (heuristicwalk.py:8-9,35-40,82-83; patterns.py:1-6) over urls derived
    deterministically from doc ids."""
    d = F.col("doc_id")
    top = (
        F.when(d % 5 == 0, "tests").when(d % 5 == 1, "docs")
        .when(d % 5 == 2, "src").when(d % 5 == 3, "core").otherwise("examples")
    )
    ext = F.when(d % 3 == 0, ".java").when(d % 3 == 1, ".c").otherwise(".md")
    url = F.concat(F.lit("https://h.example.org/"), top, F.lit("/F"), d, ext)
    return _t(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url"),
        (~url.rlike("/(docs?|tests?|testing|tmp|scripts?|examples)/")).alias("dir_ok"),
        url.rlike("\\.(java|c)$").alias("ext_ok"),
        url.rlike("/(src|source|java|libs|core|app)/").alias("priority_dir"),
    )


@_q("o3_per_group_sample", sql="""
    SELECT source, doc_id FROM documents
    WHERE (doc_id * 2654435761) % 10 < 3
""")
def o3_per_group_sample(spark, sf_dir):
    """O3: random subtree sampling (heuristicwalk.py:73-80) — deterministic
    hash-mod per-group sample."""
    return _t(spark, sf_dir, "documents").where(
        (F.col("doc_id") * 2654435761) % 10 < 3
    ).select("source", "doc_id")


@_q("u15_cursor_codec", sql="""
    SELECT event_id,
           base64(encode('cursor:' || event_id)) AS cursor_b64,
           CAST(regexp_extract(decode(from_base64(base64(encode('cursor:' || event_id)))),
                               'cursor:([0-9]+)', 1) AS BIGINT) AS decoded
    FROM events WHERE event_id < 100
""")
def u15_cursor_codec(spark, sf_dir):
    """U15: the GitHub-cursor base64 codec (crawler.py:182-185,
    operators.py:89-94) — native base64/unbase64 + regexp_extract."""
    cur = F.concat(F.lit("cursor:"), F.col("event_id"))
    b64 = F.base64(F.encode(cur, "utf-8"))
    decoded = F.regexp_extract(
        F.decode(F.unbase64(b64), "utf-8"), "cursor:([0-9]+)", 1
    ).cast("bigint")
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") < 100)
        .select("event_id", b64.alias("cursor_b64"), decoded.alias("decoded"))
    )


@_q("u14_decode_roundtrip", sql="""
    SELECT doc_id, decode(encode(text)) = text AS roundtrip_ok FROM documents
""")
def u14_decode_roundtrip(spark, sf_dir):
    """U14: encoding-fallback decode (crawler.py:105-116) — text → binary →
    decode_html pandas UDF.  The DuckDB oracle pins the utf-8 leg of the
    fallback chain (decode(encode(text)) = text); the non-utf8 fallbacks
    (utf-16/iso-8859-1/replacement) stay pinned by tests/test_operators.py."""
    from logtemplatecrawler_spark.operators.decode import decode_html

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("html"), "text"
    )
    return docs.select(
        "doc_id",
        (decode_html("html") == F.col("text")).alias("roundtrip_ok"),
    )


# ---------------------------------------------------------------------------
# Similarity: IVF coarse quantizer + embedding near-dup pairs
# ---------------------------------------------------------------------------

@_q("ann_ivf_assign", sql="""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cents AS (
      SELECT vec_id % 8 AS k, i, avg(x) AS c FROM flat GROUP BY 1, 2
    ), dists AS (
      SELECT f.vec_id, c.k, sum((f.x - c.c) * (f.x - c.c)) AS d2
      FROM flat f JOIN cents c ON f.i = c.i
      GROUP BY 1, 2
    ), ranked AS (
      SELECT vec_id, k, row_number() OVER (
        PARTITION BY vec_id ORDER BY round(d2, 6), k) AS rn
      FROM dists
    )
    SELECT vec_id, k AS centroid FROM ranked WHERE rn = 1
""")
def ann_ivf_assign(spark, sf_dir):
    """IVF coarse quantization: 8 deterministic centroids (mean of vectors
    with vec_id%8==k), each vector assigned to its nearest centroid — the
    coarse-partition scale path for ANN (probe 1-2 cells instead of all
    vectors).  Distances rounded before ranking for cross-engine stability."""
    emb = _t(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    cents = flat.groupBy((F.col("vec_id") % 8).alias("k"), "i").agg(
        F.avg("x").alias("c")
    )
    dists = (
        flat.join(F.broadcast(cents), "i")
        .groupBy("vec_id", "k")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.round("d2", 6), F.col("k"))
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("k").alias("centroid"))
    )


def _assign_nearest(flat, cents, label_col):
    """Argmin-distance assignment: every vector to its nearest centroid.
    ``flat`` = (vec_id, i, x) long form; ``cents`` = (k, i, c) centroids.
    Distances rounded to 6 decimals before ranking (ties broken by k) so
    float summation order can't flip the argmin across engines."""
    dists = (
        flat.join(F.broadcast(cents), "i")
        .groupBy("vec_id", "k")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.round("d2", 6), F.col("k"))
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("k").alias(label_col))
    )


@_q("ann_ivf_kmeans_refine", sql="""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cents0 AS (
      SELECT vec_id % 8 AS k, i, avg(x) AS c FROM flat GROUP BY 1, 2
    ), d0 AS (
      SELECT f.vec_id, c.k, sum((f.x - c.c) * (f.x - c.c)) AS d2
      FROM flat f JOIN cents0 c ON f.i = c.i GROUP BY 1, 2
    ), a0 AS (
      SELECT vec_id, k AS centroid0 FROM (
        SELECT vec_id, k, row_number() OVER (
          PARTITION BY vec_id ORDER BY round(d2, 6), k) AS rn
        FROM d0) WHERE rn = 1
    ), cents1 AS (
      SELECT a0.centroid0 AS k, f.i, avg(f.x) AS c
      FROM flat f JOIN a0 ON a0.vec_id = f.vec_id GROUP BY 1, 2
    ), d1 AS (
      SELECT f.vec_id, c.k, sum((f.x - c.c) * (f.x - c.c)) AS d2
      FROM flat f JOIN cents1 c ON f.i = c.i GROUP BY 1, 2
    ), a1 AS (
      SELECT vec_id, k AS centroid FROM (
        SELECT vec_id, k, row_number() OVER (
          PARTITION BY vec_id ORDER BY round(d2, 6), k) AS rn
        FROM d1) WHERE rn = 1
    )
    SELECT a1.vec_id, a0.centroid0, a1.centroid,
           a0.centroid0 <> a1.centroid AS moved
    FROM a1 JOIN a0 ON a0.vec_id = a1.vec_id
""")
def ann_ivf_kmeans_refine(spark, sf_dir):
    """IVF codebook TRAINING — one Lloyd iteration as pure DataFrame ops,
    the missing piece between the deterministic seed centroids
    (`ann_ivf_assign`) and the probe entries: seed assignment → recompute
    centroids as assigned-cluster means → re-assign.  Output keeps both
    labels plus a `moved` flag so the oracle pins the full step, and Lloyd
    monotonicity (the k-means objective cannot increase) is property-tested
    in tests/test_harness.py.

    Scale shape: each half-iteration is one broadcast join (≤ k·dims
    centroid rows — 512 here, still tiny at k=65k dims=1k) + one
    groupBy-agg over the long-form vectors; a full training loop is this
    stage iterated, exactly how IVF codebooks are fit over a corpus sample
    at 100 TB.  No all-pairs product anywhere; the wide table is touched
    twice per iteration (assign, re-center).  Distances rounded before
    ranking for cross-engine argmin stability (same device as
    `ann_ivf_assign`)."""
    emb = _t(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    cents0 = flat.groupBy((F.col("vec_id") % 8).alias("k"), "i").agg(
        F.avg("x").alias("c")
    )
    a0 = _assign_nearest(flat, cents0, "centroid0")
    cents1 = (
        flat.join(a0, "vec_id")
        .groupBy(F.col("centroid0").alias("k"), "i")
        .agg(F.avg("x").alias("c"))
    )
    a1 = _assign_nearest(flat, cents1, "centroid")
    return a1.join(a0, "vec_id").select(
        "vec_id", "centroid0", "centroid",
        (F.col("centroid0") != F.col("centroid")).alias("moved"),
    )


# shared by the pairs entry, its clustered composition below, and both SQL
# twins: the exact-cosine near-dup pair generator over the bounded
# vec_id<300 slice (τ=0.35 — the fixture embeddings are near-orthogonal
# random vectors, so a production 0.95 threshold would select nothing to
# check).
_COSINE_PAIRS_CTE = """flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings WHERE vec_id < 300
    ), norms AS (
      SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id
    ), dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.x * b.x) AS dot
      FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ), cpairs AS (
      SELECT vec_a, vec_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
      FROM dots
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b
      WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.35
    )"""


def _cosine_pair_frame(spark, sf_dir):
    """Spark twin of ``_COSINE_PAIRS_CTE``: (vec_a, vec_b, cosine) rows."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    norms = flat.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
    a, b = flat.alias("a"), flat.alias("b")
    dots = (
        a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .groupBy(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .agg(F.sum(F.col("a.x") * F.col("b.x")).alias("dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cos = F.round(F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm")), 6)
    return (
        dots.join(na, F.col("na.vec_id") == F.col("vec_a"))
        .join(nb, F.col("nb.vec_id") == F.col("vec_b"))
        .where(cos >= 0.35)
        .select("vec_a", "vec_b", cos.alias("cosine"))
    )


@_q("dedup_embedding_cosine_pairs", sql=f"""
    WITH {_COSINE_PAIRS_CTE}
    SELECT vec_a, vec_b, cosine FROM cpairs
""")
def dedup_embedding_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ τ) over a bounded slice —
    the exactness oracle for LSH/IVF candidate generation.  Constants and
    semantics live in `_cosine_pair_frame` / `_COSINE_PAIRS_CTE` (shared
    with the clustered composition `dedup_embedding_cosine_canonical`)."""
    return _cosine_pair_frame(spark, sf_dir)


@_q("dedup_embedding_cosine_canonical", sql=f"""
    WITH RECURSIVE {_COSINE_PAIRS_CTE}, nodes AS (
      SELECT vec_id FROM embeddings WHERE vec_id < 300
    ), edges AS (
      SELECT vec_a AS a, vec_b AS b FROM cpairs
      UNION ALL
      SELECT vec_b AS a, vec_a AS b FROM cpairs
    ), reach AS (
      SELECT vec_id AS src, vec_id AS dst FROM nodes
      UNION
      SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS vec_id, min(dst) AS cluster_id,
           (src = min(dst)) AS is_canonical
    FROM reach GROUP BY src
""")
def dedup_embedding_cosine_canonical(spark, sf_dir):
    """Embedding-cosine near-dup DEDUP, composed end-to-end: exact cosine
    pair generation (cos ≥ τ, `_cosine_pair_frame`) → connected components
    (operators/components.connected_components — the SAME clustering
    operator the text-LSH path drives) → canonical min-vec_id keeper.

    This is the embedding leg of the training-data dedup family: the text
    legs go shingles→MinHash→LSH→verify→cluster; the embedding leg goes
    cosine-pairs→cluster.  Pair source here is the bounded exact slice for
    oracle exactness — at 100 TB the pair generator swaps for the
    hyperplane-LSH bucketed candidates (`ann_lsh_hyperplane` buckets, then
    exact cosine within buckets), feeding the identical clustering
    operator.  DuckDB twin: same pair CTE + recursive-closure components."""
    from logtemplatecrawler_spark.operators.components import (
        connected_components,
    )

    pairs = _cosine_pair_frame(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 300)
        .select("vec_id")
    )
    labels, _ = connected_components(nodes, pairs, id_col="vec_id")
    return labels.withColumn(
        "is_canonical", F.col("vec_id") == F.col("cluster_id")
    )


_SEARCH_PLANES = 4  # 16 buckets: the recall-leaning width for search probes


def _lsh_search_sql(k: int = 10, n_planes: int = _SEARCH_PLANES) -> str:
    """Bucket-restricted cosine search: the hyperplane-bucket CTE (same
    generated plane constants as `ann_lsh_hyperplane`, recall-leaning
    4-plane width) narrows candidates to the query's bucket, then the exact
    cosine ranks only those."""
    from logtemplatecrawler_spark.operators.similarity import plane_coefficients

    coefs = plane_coefficients(n_planes, 64)
    qdefs = ",\n             ".join(
        f"CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE) * 1000) AS BIGINT) AS q{d}"
        for d in range(64)
    )
    planes = " + ".join(
        "(CASE WHEN "
        + " + ".join(f"({coefs[p][d]} * q{d})" for d in range(64))
        + f" > 0 THEN {2 ** p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
    WITH qcols AS (
      SELECT vec_id,
             {qdefs}
      FROM embeddings
    ), buckets AS (
      SELECT vec_id, {planes} AS bucket FROM qcols
    ), qb AS (
      SELECT bucket FROM buckets WHERE vec_id = 0
    ), cand AS (
      SELECT b.vec_id FROM buckets b JOIN qb ON b.bucket = qb.bucket
      WHERE b.vec_id <> 0
    ), qe AS (
      SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id = 0
    ), e AS (
      SELECT em.vec_id, unnest(em.embedding) AS ev,
             generate_subscripts(em.embedding, 1) AS i
      FROM embeddings em JOIN cand ON em.vec_id = cand.vec_id
    ), dots AS (
      SELECT e.vec_id,
             sum(CAST(e.ev AS DOUBLE) * CAST(qe.qv AS DOUBLE)) AS dot,
             sum(CAST(e.ev AS DOUBLE) * CAST(e.ev AS DOUBLE)) AS nn
      FROM e JOIN qe ON e.i = qe.i GROUP BY e.vec_id
    ), qn AS (SELECT sum(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE)) AS qq FROM qe)
    SELECT vec_id, round(dot / sqrt(nn * (SELECT qq FROM qn)), 6) AS cosine
    FROM dots
    ORDER BY round(dot / sqrt(nn * (SELECT qq FROM qn)), 6) DESC, vec_id
    LIMIT {k}
    """


@_q("ann_lsh_bucket_search", sql=_lsh_search_sql())
def ann_lsh_bucket_search(spark, sf_dir):
    """End-to-end LSH search (the scale path `ann_cosine_topk` oracles):
    hyperplane buckets narrow candidates to the query's bucket — at 100 TB
    that is a partition-pruned scan of ~1/2^8 of the vectors — then the
    exact cosine ranks only those.  Same plan shape as the brute-force
    oracle downstream of the candidate cut."""
    from logtemplatecrawler_spark.operators.similarity import make_lsh_bucket

    bucket_udf = make_lsh_bucket(_SEARCH_PLANES)
    emb = _t(spark, sf_dir, "embeddings", spread=False)
    # At warehouse scale `buckets` is a materialized index column written at
    # ingest (and the bucket is the partition key); the localCheckpoint
    # stands in — without it the probe and the candidate cut each rescan +
    # re-hash, and a .persist() would leak a session-lifetime CacheManager
    # entry no caller can unpersist (ADVICE r02).
    buckets = emb.select(
        "vec_id", bucket_udf(F.col("embedding")).alias("bucket")
    ).localCheckpoint()
    qb = buckets.where(F.col("vec_id") == 0).select(F.col("bucket").alias("qbucket"))
    cand = (
        buckets.join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
        .where(F.col("vec_id") != 0)
        .select("vec_id")
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.posexplode("embedding").alias("i", "qv")
    )
    e = emb.join(cand, "vec_id").select(
        "vec_id", F.posexplode("embedding").alias("i", "ev")
    )
    dots = (
        e.join(q, "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("ev").cast("double") * F.col("qv").cast("double")).alias("dot"),
            F.sum(F.col("ev").cast("double") * F.col("ev").cast("double")).alias("nn"),
        )
    )
    qq = q.agg(F.sum(F.col("qv").cast("double") * F.col("qv").cast("double")).alias("qq"))
    cos = F.round(F.col("dot") / F.sqrt(F.col("nn") * F.col("qq")), 6)
    return (
        dots.crossJoin(F.broadcast(qq))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


def _ivf_search_sql(nprobe: int, trained: bool = False) -> str:
    """DuckDB twin of the IVF search, parameterized by probe width and by
    whether the codebook is the raw seed (mod-8 means) or the Lloyd-refined
    one (`trained=True` — the `ann_ivf_kmeans_refine` chain)."""
    if trained:
        cents_cte = """cents0 AS (
      SELECT vec_id % 8 AS k, i, avg(x) AS c FROM flat GROUP BY 1, 2
    ), tr_d0 AS (
      SELECT f.vec_id, c.k, sum((f.x - c.c) * (f.x - c.c)) AS d2
      FROM flat f JOIN cents0 c ON f.i = c.i GROUP BY 1, 2
    ), tr_a0 AS (
      SELECT vec_id, k AS k0 FROM (
        SELECT vec_id, k, row_number() OVER (
          PARTITION BY vec_id ORDER BY round(d2, 6), k) AS rn
        FROM tr_d0) WHERE rn = 1
    ), cents AS (
      SELECT tr_a0.k0 AS k, f.i, avg(f.x) AS c
      FROM flat f JOIN tr_a0 ON tr_a0.vec_id = f.vec_id GROUP BY 1, 2
    )"""
    else:
        cents_cte = """cents AS (
      SELECT vec_id % 8 AS k, i, avg(x) AS c FROM flat GROUP BY 1, 2
    )"""
    return f"""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), {cents_cte}, dists AS (
      SELECT f.vec_id, c.k, sum((f.x - c.c) * (f.x - c.c)) AS d2
      FROM flat f JOIN cents c ON f.i = c.i
      GROUP BY 1, 2
    ), assign AS (
      SELECT vec_id, k, row_number() OVER (
        PARTITION BY vec_id ORDER BY round(d2, 6), k) AS rn
      FROM dists
    ), probe AS (
      SELECT k FROM assign WHERE vec_id = 0 AND rn <= {nprobe}
    ), cand AS (
      SELECT a.vec_id FROM assign a JOIN probe ON a.k = probe.k
      WHERE a.rn = 1 AND a.vec_id <> 0
    ), qe AS (
      SELECT i, x AS qv FROM flat WHERE vec_id = 0
    ), dots AS (
      SELECT f.vec_id,
             sum(f.x * qe.qv) AS dot,
             sum(f.x * f.x) AS nn
      FROM flat f JOIN cand ON f.vec_id = cand.vec_id
      JOIN qe ON f.i = qe.i
      GROUP BY f.vec_id
    ), qn AS (SELECT sum(qv * qv) AS qq FROM qe)
    SELECT vec_id, round(dot / sqrt(nn * (SELECT qq FROM qn)), 6) AS cosine
    FROM dots
    ORDER BY round(dot / sqrt(nn * (SELECT qq FROM qn)), 6) DESC, vec_id
    LIMIT 10
"""


def _ivf_search(spark, sf_dir, nprobe: int, trained: bool = False):
    """IVF search, probe width ``nprobe``: the query probes its ``nprobe``
    nearest centroids' cells and exact-cosine ranks only those cells'
    vectors (each vector belongs to its rn=1 cell).  With ``trained=True``
    the codebook is the Lloyd-refined one (one `ann_ivf_kmeans_refine`
    step) instead of the raw seed means — the train→serve composition."""
    emb = _t(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    cents = flat.groupBy((F.col("vec_id") % 8).alias("k"), "i").agg(
        F.avg("x").alias("c")
    )
    if trained:
        a0 = _assign_nearest(flat, cents, "k0")
        cents = (
            flat.join(a0, "vec_id")
            .groupBy(F.col("k0").alias("k"), "i")
            .agg(F.avg("x").alias("c"))
        )
    dists = (
        flat.join(F.broadcast(cents), "i")
        .groupBy("vec_id", "k")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.round("d2", 6), F.col("k"))
    # The assignment table is the IVF index — built once (localCheckpointed
    # here; written as a partition column at warehouse scale).  Without it
    # the probe and the candidate cut each replay the full centroid-distance
    # aggregation over a fresh scan; a .persist() would leak past the
    # query's lifetime (ADVICE r02).  rn ≤ nprobe rows are retained so the
    # query row carries its nprobe nearest cells; data vectors always
    # belong to their rn = 1 cell.
    assign = (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .localCheckpoint()
    )
    probe = assign.where(F.col("vec_id") == 0).select(F.col("k").alias("pk"))
    cand = (
        assign.where(F.col("rn") == 1)
        .join(F.broadcast(probe), F.col("k") == F.col("pk"))
        .where(F.col("vec_id") != 0)
        .select("vec_id")
    )
    qe = flat.where(F.col("vec_id") == 0).select("i", F.col("x").alias("qv"))
    dots = (
        flat.join(cand, "vec_id")
        .join(F.broadcast(qe), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("x") * F.col("qv")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("nn"),
        )
    )
    qq = qe.agg(F.sum(F.col("qv") * F.col("qv")).alias("qq"))
    cos = F.round(F.col("dot") / F.sqrt(F.col("nn") * F.col("qq")), 6)
    return (
        dots.crossJoin(F.broadcast(qq))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@_q("ann_ivf_search", sql=_ivf_search_sql(1))
def ann_ivf_search(spark, sf_dir):
    """IVF probe-1 search: the query probes its own nearest centroid's cell
    and ranks only that cell's vectors by exact cosine — the
    coarse-quantizer counterpart of `ann_lsh_bucket_search` (at scale the
    cells are the partition keys, so a probe is a partition-pruned scan)."""
    return _ivf_search(spark, sf_dir, nprobe=1)


@_q("ann_ivf_search_trained", sql=_ivf_search_sql(1, trained=True))
def ann_ivf_search_trained(spark, sf_dir):
    """IVF train→serve composition: the probe-1 search runs against the
    Lloyd-REFINED codebook (`ann_ivf_kmeans_refine`'s one training step)
    instead of the raw seed means — cells are tighter, so the probed cell
    is likelier to hold the true neighbors.  At scale the trained centroids
    are a tiny broadcast table fit offline over a corpus sample; serving is
    unchanged (partition-pruned cell reads).  The SQL twin regenerates the
    same chain from the same constants, so the hash pins training AND
    serving together."""
    return _ivf_search(spark, sf_dir, nprobe=1, trained=True)


@_q("ann_ivf_search_nprobe2", sql=_ivf_search_sql(2))
def ann_ivf_search_nprobe2(spark, sf_dir):
    """IVF nprobe=2 search (VERDICT r04 item 4 — the recall knob): the
    query probes its TWO nearest cells; candidates are a superset of the
    probe-1 set, so recall@k vs the brute-force oracle is monotone in
    nprobe (tests/test_harness.py::test_multiprobe_recall_monotone).  At
    scale: two partition-pruned cell reads instead of one."""
    return _ivf_search(spark, sf_dir, nprobe=2)


@_q("dedup_ngram_jaccard", sql="""
    WITH grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(text) - 1),
                                   i -> substr(text, i, 3))) AS g
      FROM documents WHERE doc_id < 150 AND length(text) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.82
""")
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup by character-trigram Jaccard ≥ 0.82 over a doc_id<150 slice
    — the n-gram-level exactness oracle (word-level Jaccard misses
    word-internal edits); the scale path stays minhash/LSH."""
    docs = _t(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 150) & (F.length("text") >= 3)
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 2),"
                   " i -> substring(text, i, 3))")
        ).alias("g"),
    ).distinct()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("inter") / (F.col("sa.n") + F.col("sb.n") - F.col("inter"))
    return (
        pairs.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(jac >= 0.82)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@_q("dedup_repeated_ngram_spans", sql="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(generate_series(1, array_length(ws) - 7)) AS pos
      FROM toks WHERE array_length(ws) >= 8
    ), keyed AS (
      SELECT g.doc_id, g.pos,
             substr(md5(array_to_string(t.ws[g.pos:g.pos+7], ' ')), 1, 15)
               AS gk
      FROM grams g JOIN toks t ON t.doc_id = g.doc_id
    ), shared AS (
      SELECT gk FROM keyed GROUP BY gk HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT k.doc_id,
           count(*) AS total_grams,
           count(s.gk) AS dup_grams,
           round(count(s.gk) * 1.0 / count(*), 6) AS dup_ratio
    FROM keyed k LEFT JOIN shared s ON k.gk = s.gk
    GROUP BY k.doc_id
""")
def dedup_repeated_ngram_spans(spark, sf_dir):
    """Cross-document repeated-span contamination — the word-8-gram
    approximation of exact-substring training-data dedup (find spans that
    occur verbatim in more than one document; docs with a high duplicated
    fraction get filtered or span-trimmed).  Scale shape: explode the
    positions, key each 8-gram with a portable md5-prefix hash, ONE
    groupBy finds grams shared across ≥2 docs, one join + groupBy scores
    each document — no pairwise comparisons anywhere, cost O(total
    tokens).  DuckDB twin slices the same grams via list ranges."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ws")).where(
        F.size("ws") >= 8
    )
    keyed = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 7),"
                " i -> substring(md5(array_join(slice(ws, i, 8), ' ')), 1, 15))"
            )
        ).alias("gk"),
    )
    shared = (
        keyed.groupBy("gk")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gk", F.lit(1).alias("_shared"))
    )
    return (
        keyed.join(shared, "gk", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_grams"),
            F.count("_shared").alias("dup_grams"),
            F.round(F.count("_shared") / F.count("*"), 6).alias("dup_ratio"),
        )
    )


@_q("text_token_count_regex", sql="""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
                AS BIGINT) AS n_tokens
    FROM documents
""")
def text_token_count_regex(spark, sf_dir):
    """BPE-ish tokenizer plumbing: letter-runs | digit-runs | single
    punctuation (the pre-tokenization split every BPE vocabulary starts
    from), counted natively — whitespace counting is `text_token_count`."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))
        .cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Flagship: the full crawl/template pipeline (U1-U12, F6-F10, W3 end-to-end)
# ---------------------------------------------------------------------------

@_q("dedup_cluster_canonical", sql="""
    WITH RECURSIVE words AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE doc_id < 200
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id
    ), raw_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b FROM raw_pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
    ), nodes AS (
      SELECT DISTINCT doc_id FROM documents WHERE doc_id < 200
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ), reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM nodes
      UNION
      SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS doc_id, min(dst) AS cluster_id,
           (src = min(dst)) AS is_canonical
    FROM reach GROUP BY src
""")
def dedup_cluster_canonical(spark, sf_dir):
    """Near-dup CLUSTERING — the step after pair generation in a real
    training-data dedup pipeline: connected components over the
    similarity-pair graph, labeled by the component's min doc_id, with the
    canonical (kept) document flagged.

    Spark side: operators/components.connected_components — iterative
    hash-min label propagation, ONE job per iteration (the change count
    rides the lazily-checkpointed propagation itself — VERDICT r04
    item 6), iterations = component diameter.  The edge list here is the
    bounded-slice exact Jaccard for oracle exactness; the composed 100 TB
    path (tuned-LSH candidate pairs → exact shingle-Jaccard verify → the
    SAME clustering operator) is `dedup_lsh_cluster_canonical` below.
    DuckDB oracle: the same components via a recursive-CTE transitive
    closure (exact on the doc_id<200 slice)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = words.alias("a"), words.alias("b")
    raw_pairs = (
        a.join(b, (F.col("a.w") == F.col("b.w"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("inter") / (F.col("sa.n") + F.col("sb.n") - F.col("inter"))
    pairs = (
        raw_pairs.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(jac >= 0.8)
        .select("doc_a", "doc_b")
    )
    from logtemplatecrawler_spark.operators.components import (
        connected_components,
    )

    labels, _ = connected_components(docs.select("doc_id"), pairs)
    return labels.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


def _lsh_cluster_cte() -> str:
    """CTE chain of the COMPOSED dedup path, generated from the same
    (coefficients, bands, rows, threshold) constants as the Spark plan:
    tuned-LSH candidate pairs → exact bigram-shingle Jaccard verify →
    recursive-CTE transitive closure, ending in a ``labels`` CTE.  Shared
    by `dedup_lsh_cluster_canonical` and the curation pipeline."""
    from logtemplatecrawler_spark.operators.minhash import (
        lsh_banding, minhash_coefficients,
    )

    coefs = minhash_coefficients(_TUNED_PERMS)
    bands, rows = lsh_banding(_TUNED_PERMS, _TUNED_THRESHOLD)
    conds = "\n       OR ".join(
        "(" + " AND ".join(
            f"a.mh{band * rows + j} = b.mh{band * rows + j}" for j in range(rows)
        ) + ")"
        for band in range(bands)
    )
    sig = _shingle_sig_sql(coefs).replace("WITH toks", "WITH RECURSIVE toks", 1)
    return sig + f""", cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b
        ON a.doc_id < b.doc_id
       AND ({conds})
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN hashed ha ON ha.doc_id = c.doc_a
      JOIN hashed hb ON hb.doc_id = c.doc_b AND hb.hw = ha.hw
      GROUP BY 1, 2
    ), verified AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= {_TUNED_THRESHOLD}
    ), nodes AS (
      SELECT doc_id FROM documents
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM verified
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM verified
    ), reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM nodes
      UNION
      SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    ), labels AS (
      SELECT src AS doc_id, min(dst) AS cluster_id,
             (src = min(dst)) AS is_canonical
      FROM reach GROUP BY src
    )"""


def _lsh_cluster_sql() -> str:
    """DuckDB twin of the composed dedup path: the shared CTE chain
    (`_lsh_cluster_cte`) projected as the labels table."""
    return _lsh_cluster_cte() + """
    SELECT doc_id, cluster_id, is_canonical FROM labels
"""


@_q("dedup_lsh_cluster_canonical", sql=_lsh_cluster_sql())
def dedup_lsh_cluster_canonical(spark, sf_dir):
    """THE composed 100 TB training-data dedup query (VERDICT r04 item 2),
    end-to-end over the FULL documents table — no oracle-only slice:

    1. minhash signatures (16 perms, threshold-parameterized 4×4 banding
       from τ=0.7 — operators/minhash.py) → LSH candidate pairs: per-band
       equality self-joins on compact keys, never all-pairs;
    2. LSH-then-verify: candidates confirmed by EXACT bigram-shingle
       Jaccard ≥ τ computed only over the candidate pairs (the standard
       production shape — LSH recall, exact precision);
    3. connected components over the verified pairs
       (operators/components.connected_components, one job per iteration)
       with the canonical min-doc_id keeper flagged.

    The DuckDB twin is generated from the same constants and closes the
    same verified edges with a recursive CTE, so the hash pins the whole
    composition, not just the stages."""
    return _lsh_cluster_labels(spark, sf_dir)


def _lsh_cluster_labels(spark, sf_dir):
    """Spark twin of `_lsh_cluster_cte`: (doc_id, cluster_id, is_canonical)
    for every document via tuned-LSH candidates → exact shingle-Jaccard
    verify → connected components."""
    from logtemplatecrawler_spark.operators.components import (
        connected_components,
    )
    from logtemplatecrawler_spark.operators.minhash import (
        lsh_banding, minhash_coefficients,
    )

    coefs = minhash_coefficients(_TUNED_PERMS)
    bands, rows = lsh_banding(_TUNED_PERMS, _TUNED_THRESHOLD)
    # r6: signatures AND the per-doc sorted distinct-shingle hash arrays
    # come from ONE mapInPandas pass over (doc_id, text)
    # (operators/minhash.make_sig_and_array_fn), checkpointed once — the
    # r5 pipeline computed them as two explode/shuffle pipelines (the
    # array side paid a DISTINCT shuffle of shingle strings plus a
    # collect_list shuffle), and the first r6 cut still ran two separate
    # kernel passes over the same text.  String-distinct before hashing
    # (md5-prefix collisions keep both hashes) and the <2-token gate are
    # the oracle's exact order of operations; the signature mins are
    # identical over set or multiset.
    from logtemplatecrawler_spark.operators.jaccard import (
        INTER_SCHEMA, intersect_counts,
    )
    from logtemplatecrawler_spark.operators.minhash import make_sig_and_array_fn

    docs = _t(spark, sf_dir, "documents")
    combo_schema = (
        "doc_id bigint, "
        + ", ".join(f"mh{i} bigint" for i in range(len(coefs)))
        + ", hws array<bigint>"
    )
    combo = docs.select("doc_id", "text").mapInPandas(
        make_sig_and_array_fn(coefs), combo_schema
    ).localCheckpoint()
    # narrow re-checkpoint: the band self-joins read the signature table
    # 2×bands times, and checkpointed rows deserialize whole — leaving the
    # hws arrays in would make every band read pay for them (measured:
    # 5.9 → 5.3 s interleaved min-of-3 at the sf1-shaped dir).
    sigs = combo.drop("hws").localCheckpoint()
    cand = _band_pairs(sigs, bands=bands, rows=rows)
    # Exact verify over candidates only (r6, session 1): instead of
    # expanding the candidate stream against the per-doc hash table twice
    # (~|shingles| rows per candidate per side — a 53M-row join pipeline
    # at the sf1-shaped bench), each doc's SORTED hash array is attached
    # once and a binary-search kernel (operators/jaccard.py) counts
    # matches — an all-integer restatement of the r5 join-count, equal by
    # construction (incl. duplicate-hash multiplicities).  The Jaccard
    # threshold stays in the JVM as the original predicate over
    # (i, na, nb).  The combined table is checkpointed so the planner
    # sees its true (small) size and auto-broadcasts while it fits,
    # degrading to a shuffle join at scale.
    harr = combo.select("doc_id", "hws")
    inter = (
        cand.join(harr.select(F.col("doc_id").alias("doc_a"),
                              F.col("hws").alias("hwa")), "doc_a")
        .join(harr.select(F.col("doc_id").alias("doc_b"),
                          F.col("hws").alias("hwb")), "doc_b")
        .mapInPandas(intersect_counts, INTER_SCHEMA)
    )
    verified = (
        inter.where(
            F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
            >= _TUNED_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    nodes = _t(spark, sf_dir, "documents").select("doc_id")
    labels, _ = connected_components(nodes, verified)
    return labels.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


@_q("curation_export_pipeline", sql=_lsh_cluster_cte() + """, quality AS (
      SELECT doc_id, lang, n_chars,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS tok_count,
             CAST(n_chars AS DOUBLE) /
               (length(text) - length(replace(text, ' ', '')) + 1) AS avg_tok,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM documents
    )
    SELECT q.doc_id, q.lang, q.n_chars, q.tok_count
    FROM quality q JOIN labels l ON l.doc_id = q.doc_id AND l.is_canonical
    WHERE q.tok_count >= 5 AND q.avg_tok >= 2 AND q.avg_tok <= 12
      AND q.doc_id = q.keeper
      AND (q.doc_id * 2654435761) % 10 < 3
""")
def curation_export_pipeline(spark, sf_dir):
    """The end-to-end training-data CURATION query — the composition a
    100 TB export actually runs, in one driver-hashed entry:

    1. quality gate (native arithmetic: token count ≥ 5, average token
       length in [2, 12] — the `text_quality_score` heuristics as filters);
    2. exact dedup keep-first (min doc_id per md5(text) group);
    3. near-dup canonical keep via the composed LSH pipeline
       (`_lsh_cluster_labels`: tuned-LSH → exact shingle-Jaccard verify →
       connected components — only cluster canonicals survive);
    4. deterministic Bernoulli-by-hash 30% sample (the `o3` hash-mod
       device — independent of lang, so strata keep their proportions).

    Plan shape: the cheap native gates (1, 2, 4) filter the documents scan
    BEFORE the join against the heavy clustering labels, so the expensive
    side joins against an already-thinned build side; at warehouse scale
    the labels table is computed once per snapshot and reused by every
    export.  The DuckDB twin shares the clustering CTE chain and states
    gates (1)(2)(4) in SQL over the same constants."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    tok_count = F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1
    avg_tok = F.col("n_chars").cast("double") / tok_count
    keeper = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    thinned = (
        docs.withColumn("tok_count", tok_count.cast("bigint"))
        .withColumn("_avg_tok", avg_tok)
        .withColumn("_keeper", keeper)
        .where(
            (F.col("tok_count") >= 5)
            & (F.col("_avg_tok") >= 2) & (F.col("_avg_tok") <= 12)
            & (F.col("doc_id") == F.col("_keeper"))
            & ((F.col("doc_id") * 2654435761) % 10 < 3)
        )
    )
    canon = (
        _lsh_cluster_labels(spark, sf_dir)
        .where(F.col("is_canonical"))
        .select("doc_id")
    )
    return thinned.join(canon, "doc_id").select(
        "doc_id", "lang", "n_chars", "tok_count"
    )


@_q("w1_politeness_pop_salted", sql="""
    WITH pend AS (
      SELECT 'h' || CAST(user_id AS VARCHAR) || '.example.org' AS host,
             'https://h' || CAST(user_id AS VARCHAR) || '.example.org/p/'
               || CAST(event_id AS VARCHAR) AS url,
             value AS priority
      FROM events
    ), ranked AS (
      SELECT host, url, priority,
             row_number() OVER (PARTITION BY host
                                ORDER BY priority DESC, url ASC) AS rn
      FROM pend
    )
    SELECT host, url, priority FROM ranked WHERE rn <= 3
""")
def w1_politeness_pop_salted(spark, sf_dir):
    """W1/W2 driver check of the ENGINE's salted two-phase politeness pop
    (crawl/politeness.py::pop_per_host(salted=True) — VERDICT r04 item 3:
    the equivalence 'union of per-(host,salt) top-k re-ranked per host ≡
    global per-host top-k' was pytest-only).  A frontier-shaped pending set
    derives from ``events`` (host ↔ user_id, priority ↔ value, unique urls
    from event_id, salts from crc32(url) % 8 so each host genuinely spans
    several salt slices); the DuckDB oracle is the single global window the
    two-phase plan must equal."""
    from logtemplatecrawler_spark.crawl.politeness import pop_per_host

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    host = F.concat(F.lit("h"), F.col("user_id").cast("string"),
                    F.lit(".example.org"))
    pend = ev.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 F.col("event_id").cast("string")).alias("url"),
        F.col("value").alias("priority"),
    ).withColumn("salt", F.pmod(F.crc32(F.col("url")), F.lit(8)).cast("int"))
    return pop_per_host(pend, budget=3, salted=True).select(
        "host", "url", "priority"
    )


def _lsh_multiprobe_sql(k: int = 10, n_planes: int = _SEARCH_PLANES) -> str:
    """SQL twin of the Hamming-distance-1 multiprobe search: same generated
    plane constants; the probe set is the query bucket plus every bucket
    one flipped plane away (xor masks 0, 1, 2, 4, …)."""
    base = _lsh_search_sql(k=k, n_planes=n_planes)
    masks = ", ".join(f"({0 if i < 0 else 2 ** i})" for i in range(-1, n_planes))
    old_cand = """), cand AS (
      SELECT b.vec_id FROM buckets b JOIN qb ON b.bucket = qb.bucket
      WHERE b.vec_id <> 0
    )"""
    new_cand = f"""), probes AS (
      SELECT DISTINCT xor(qb.bucket, v.m) AS pb
      FROM qb, (VALUES {masks}) AS v(m)
    ), cand AS (
      SELECT b.vec_id FROM buckets b JOIN probes ON b.bucket = probes.pb
      WHERE b.vec_id <> 0
    )"""
    assert old_cand in base
    return base.replace(old_cand, new_cand, 1)


@_q("ann_lsh_multiprobe_search", sql=_lsh_multiprobe_sql())
def ann_lsh_multiprobe_search(spark, sf_dir):
    """Multi-probe LSH search (VERDICT r04 item 4 — the recall knob):
    probe the query's bucket AND every bucket at Hamming distance 1 (one
    hyperplane flipped), then exact-cosine rank the union.  Candidates can
    only grow vs the single-probe `ann_lsh_bucket_search`, so recall@k is
    monotone in the probe radius (pinned by
    tests/test_harness.py::test_multiprobe_recall_monotone); at warehouse
    scale the probes are n_planes+1 partition-pruned bucket reads instead
    of one."""
    from logtemplatecrawler_spark.operators.similarity import make_lsh_bucket

    bucket_udf = make_lsh_bucket(_SEARCH_PLANES)
    emb = _t(spark, sf_dir, "embeddings", spread=False)
    buckets = emb.select(
        "vec_id", bucket_udf(F.col("embedding")).alias("bucket")
    ).localCheckpoint()
    qb = buckets.where(F.col("vec_id") == 0)
    probes = qb.select(
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i))
                  for i in range(_SEARCH_PLANES)]
            )
        ).alias("pbucket")
    )
    cand = (
        buckets.join(F.broadcast(probes), F.col("bucket") == F.col("pbucket"))
        .where(F.col("vec_id") != 0)
        .select("vec_id")
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.posexplode("embedding").alias("i", "qv")
    )
    e = emb.join(cand, "vec_id").select(
        "vec_id", F.posexplode("embedding").alias("i", "ev")
    )
    dots = (
        e.join(q, "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("ev").cast("double") * F.col("qv").cast("double")).alias("dot"),
            F.sum(F.col("ev").cast("double") * F.col("ev").cast("double")).alias("nn"),
        )
    )
    qq = q.agg(F.sum(F.col("qv").cast("double") * F.col("qv").cast("double")).alias("qq"))
    cos = F.round(F.col("dot") / F.sqrt(F.col("nn") * F.col("qq")), 6)
    return (
        dots.crossJoin(F.broadcast(qq))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@_q("s1_seed_rank_paged", sql="""
    WITH seeds AS (
      SELECT 'https://h' || CAST(user_id % 40 AS VARCHAR)
             || '.example.org/s/' || CAST(event_id AS VARCHAR) AS url,
             CAST(user_id % 7 AS INTEGER) AS priority
      FROM events
    ), ranked AS (
      SELECT url, priority,
             row_number() OVER (ORDER BY priority DESC, url ASC) AS seed_rank
      FROM seeds
    )
    SELECT url, priority, seed_rank FROM ranked WHERE seed_rank <= 200
""")
def s1_seed_rank_paged(spark, sf_dir):
    """S1/S9 driver check of the DISTRIBUTED seed-ranking cursor
    (crawl/scheduler.py::with_seed_rank, VERDICT r03 item 2): the
    two-phase range-partitioned rank must equal DuckDB's global
    ``row_number() OVER (ORDER BY priority DESC, url)`` — the first
    admission page (rank ≤ 200) is the hashed surface, exactly the
    paged-search cursor semantics of the reference
    (airflow/plugins/operators.py:64-94).  Heavy priority ties (7 distinct
    values over the seed list) force every range boundary into a tie run."""
    from logtemplatecrawler_spark.crawl.scheduler import with_seed_rank

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    seeds = ev.select(
        F.concat(F.lit("https://h"), (F.col("user_id") % 40).cast("string"),
                 F.lit(".example.org/s/"), F.col("event_id").cast("string")
                 ).alias("url"),
        (F.col("user_id") % 7).cast("int").alias("priority"),
    )
    ranked, _total, cache = with_seed_rank(spark, seeds)
    page = ranked.where(F.col("_seed_rank") <= 200).select(
        "url", "priority", F.col("_seed_rank").cast("bigint").alias("seed_rank")
    )
    # Materialize the (small) page eagerly, then release the rank cache —
    # with_seed_rank's contract puts the unpersist on the caller, and a
    # harness query must not pin the full seed table in the block manager
    # for the session lifetime (r4 review finding).  localCheckpoint blocks
    # are GC-cleaned with the returned DataFrame, same as other entries.
    page = page.localCheckpoint()
    cache.unpersist()
    return page


@_q("u1_u4_framework_vote", sql="""
    WITH pages AS (
      SELECT doc_id,
             CAST(doc_id % 4 AS BIGINT) AS variant,
             CASE doc_id % 4
               WHEN 0 THEN 'import org.slf4j.Logger;' || chr(10)
                           || 'log.info("started ok", count);'
               WHEN 1 THEN 'import java.util.logging.Logger;' || chr(10)
                           || 'log.severe("boot failed");'
               WHEN 2 THEN 'handler.info("retry scheduled");'
               ELSE 'static page body'
             END || chr(10) || substr(text, 1, 80) AS page
      FROM documents
    ), bits AS (
      SELECT doc_id, variant, page,
        CAST(regexp_matches(page, 'import.+log4j') AS INT) AS r1,
        CAST(regexp_matches(page, 'import.+util\\.logging') AS INT) AS r2,
        CAST(regexp_matches(page, 'import.+slf4j') AS INT) AS r3,
        CAST(regexp_matches(page, '\\.(debug|info|warn|error|fatal)') AS INT) AS r4,
        CAST(regexp_matches(page,
             '\\.severe|warning|info|config|fine|finer|finest|log') AS INT) AS r5,
        CAST(regexp_matches(page, '\\.(debug|info|warn|error|fatal)') AS INT) AS r6
      FROM pages
    ), keyed AS (
      SELECT doc_id, variant,
        (r1 + r2 + r3 + r4 + r5 + r6) > 0 AS hit,
        (r1+r4)*8 + CASE WHEN r1=1 THEN 6 WHEN r4=1 THEN 3 ELSE 0 END AS kl,
        (r2+r5)*8 + CASE WHEN r2=1 THEN 5 WHEN r5=1 THEN 2 ELSE 0 END AS ku,
        (r3+r6)*8 + CASE WHEN r3=1 THEN 4 WHEN r6=1 THEN 1 ELSE 0 END AS ks,
        CASE WHEN r1=1 THEN 'log4j' WHEN r2=1 THEN 'utillogger'
             WHEN r3=1 THEN 'slf4j' ELSE 'unknown' END AS framework
      FROM bits
    )
    SELECT doc_id, variant, hit,
      CASE WHEN hit IS NULL THEN NULL  -- NULL text: engine vote is NULL too
           WHEN NOT hit THEN NULL
           WHEN kl >= ku AND kl >= ks THEN 'log4j'
           WHEN ku >= ks THEN 'utillogger'
           ELSE 'slf4j' END AS vote,
      framework
    FROM keyed
""")
def u1_u4_framework_vote(spark, sf_dir):
    """U1/U4 driver check: the detector's rule-vote MODE (A1-style
    first-max count over fired indicators, logdetector/java.py:28,34) and
    the import-rule framework, both as native column expressions
    (functions/columns.py::detect_vote/framework), over four page variants
    derived from ``documents`` — slf4j-import, util.logging-import,
    statement-rules-only (a genuine count TIE resolved by first-fired
    order), and no-markers.  The document text itself participates in the
    unanchored rules (bare 'log'/'info'/'warning' substrings fire r5 —
    reference quirk), so the oracle recomputes every rule over the same
    constructed text rather than assuming per-variant outcomes; the pure
    twin (core/detect.detect_page) parity is pinned by
    tests/test_spark_pipeline.py::test_detect_vote_matches_core."""
    from logtemplatecrawler_spark.functions.columns import (
        detect_hit, detect_vote, framework,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    header = (
        F.when(F.col("doc_id") % 4 == 0,
               F.lit('import org.slf4j.Logger;\nlog.info("started ok", count);'))
        .when(F.col("doc_id") % 4 == 1,
              F.lit('import java.util.logging.Logger;\nlog.severe("boot failed");'))
        .when(F.col("doc_id") % 4 == 2,
              F.lit('handler.info("retry scheduled");'))
        .otherwise(F.lit("static page body"))
    )
    page = F.concat(header, F.lit("\n"), F.substring("text", 1, 80))
    lang = F.lit("java")
    return docs.select(
        "doc_id",
        (F.col("doc_id") % 4).cast("bigint").alias("variant"),
        detect_hit(page, lang).alias("hit"),
        detect_vote(page, lang).alias("vote"),
        framework(page, lang).alias("framework"),
    )


@_q("crawl_frontier_mor", sql="""
    WITH ev AS (
      SELECT event_id, user_id FROM events
    ), urls AS (
      SELECT 'https://h' || CAST(user_id % 50 AS VARCHAR)
             || '.example.org/p/' || CAST(event_id AS VARCHAR) AS url,
             event_id
      FROM ev
    ), merged AS (
      SELECT url, 'pending' AS state, CAST(0 AS BIGINT) AS updated_round
      FROM urls
      UNION ALL
      SELECT url, 'done' AS state, CAST(1 AS BIGINT) AS updated_round
      FROM urls WHERE event_id % 3 = 0
      UNION ALL
      SELECT url, 'missing' AS state, CAST(2 AS BIGINT) AS updated_round
      FROM urls WHERE event_id % 5 = 0
      UNION ALL
      SELECT 'https://new.example.org/p/' || CAST(event_id AS VARCHAR) AS url,
             'pending' AS state, CAST(2 AS BIGINT) AS updated_round
      FROM ev WHERE event_id % 7 = 0
    ), ranked AS (
      SELECT url, state, updated_round,
             row_number() OVER (PARTITION BY url
                                ORDER BY updated_round DESC) AS rn
      FROM merged
    )
    SELECT url, state, updated_round FROM ranked WHERE rn = 1
""")
def crawl_frontier_mor(spark, sf_dir):
    """Driver check of ``load_frontier``'s MERGE-on-read reconstruction
    (crawl/scheduler.py::merge_on_read — the most load-bearing crawl-loop
    path, previously pytest-only; VERDICT r03 item 6).

    A frontier base snapshot plus two later delta rounds (state flips at
    rounds 1/2 with overlapping urls, plus round-2 NEW admissions absent
    from the base) are derived deterministically from ``events``, and the
    ACTUAL engine function ``merge_on_read`` (delta-latest window →
    base anti-join → union) reconstructs the state.  The DuckDB oracle is
    the r3 *window* formulation — ``row_number() OVER (PARTITION BY url
    ORDER BY updated_round DESC)`` over base ∪ deltas — so a hash match
    proves the exchange-free join rewrite ≡ keep-latest semantics."""
    from logtemplatecrawler_spark.crawl.scheduler import merge_on_read

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    url = F.concat(
        F.lit("https://h"), (F.col("user_id") % 50).cast("string"),
        F.lit(".example.org/p/"), F.col("event_id").cast("string"),
    )
    base = ev.select(
        url.alias("url"), F.lit("pending").alias("state"),
        F.lit(0).cast("bigint").alias("updated_round"),
    )
    d1 = ev.where(F.col("event_id") % 3 == 0).select(
        url.alias("url"), F.lit("done").alias("state"),
        F.lit(1).cast("bigint").alias("updated_round"),
    )
    d2 = ev.where(F.col("event_id") % 5 == 0).select(
        url.alias("url"), F.lit("missing").alias("state"),
        F.lit(2).cast("bigint").alias("updated_round"),
    )
    d2_new = ev.where(F.col("event_id") % 7 == 0).select(
        F.concat(F.lit("https://new.example.org/p/"),
                 F.col("event_id").cast("string")).alias("url"),
        F.lit("pending").alias("state"),
        F.lit(2).cast("bigint").alias("updated_round"),
    )
    return merge_on_read(base, d1.unionByName(d2).unionByName(d2_new))


_FLAGSHIP_SQL = """
    WITH pages AS (
      SELECT CAST(doc_id AS VARCHAR) AS did,
             regexp_replace(substr(text, 1, 120), '["\\\\;{}#%]', '', 'g') AS safe
      FROM documents
    ), tmpl AS (
      -- stmt 0: plain slf4j literal with a {} placeholder (U6/U7/U11/U12)
      SELECT 'https://synth.local/src/Doc' || did || '.java' AS url,
             'src/Doc' || did || '.java' AS file,
             CAST(0 AS INTEGER) AS stmt_idx,
             'slf4j' AS framework,
             'log.info("' || safe || ' {} done", requestCount)' AS raw,
             safe || ' {} done' AS parsed_template,
             '["requestCount"]' AS arguments,
             safe || ' {IntegerPlaceholder} done' AS template
      FROM pages
      UNION ALL
      -- stmt 1: +-concat chain (U7 segments; reference keeps the argument's
      -- trailing space — core/parse.py quirk, pinned by the pytest golden)
      SELECT 'https://synth.local/src/Doc' || did || '.java',
             'src/Doc' || did || '.java',
             CAST(1 AS INTEGER), 'slf4j',
             'log.info("phase " + stageName + " ' || safe || '")',
             -- the parser rstrips the assembled template, so a safe-prefix
             -- ending in whitespace loses it when it sits at the END of the
             -- template (stmts 0/2 append static text after safe — no-op)
             regexp_replace('phase {} ' || safe, '\\s+$', ''),
             '["stageName "]',
             regexp_replace('phase {UserPlaceholder} ' || safe, '\\s+$', '')
      FROM pages
      UNION ALL
      -- stmt 2: nested String.format with a %d printf rewrite (U8)
      SELECT 'https://synth.local/src/Doc' || did || '.java',
             'src/Doc' || did || '.java',
             CAST(2 AS INTEGER), 'slf4j',
             'log.info(String.format("' || safe || ' took %d ms", elapsedMillis))',
             safe || ' took {} ms',
             '["elapsedMillis"]',
             safe || ' took {} ms'
      FROM pages
      UNION ALL
      -- C page: printf with %s/%d specifiers (C trigger table + U8 + U12;
      -- framework is 'unknown' because no java import rule fires)
      SELECT 'https://synth.local/src/Doc' || did || '.c',
             'src/Doc' || did || '.c',
             CAST(0 AS INTEGER), 'unknown',
             'printf("' || safe || ' wrote %s in %d ms", path, count)',
             safe || ' wrote {} in {} ms',
             '["path","count"]',
             safe || ' wrote {PathPlaceholder} in {IntegerPlaceholder} ms'
      FROM pages
      UNION ALL
      -- mixed-framework page (r4): util.logging import wins the import-rule
      -- vote → framework 'utillogger'; warning/severe parse under the
      -- ('simple', ['str']) utillogger roles with +-concat args; the page's
      -- third statement (slf4j-style log.info) has no utillogger role and
      -- is dropped at parse — so exactly two rows per page survive
      SELECT 'https://synth.local/src/Util' || did || '.java',
             'src/Util' || did || '.java',
             CAST(0 AS INTEGER), 'utillogger',
             'log.warning("' || safe || ' retry " + retryCount)',
             safe || ' retry {}',
             '["retryCount"]',
             safe || ' retry {IntegerPlaceholder}'
      FROM pages
      UNION ALL
      -- crc32('userName|0') % 2 picks StringPlaceholder among
      -- (User, String) — pinned by tests/test_spark_pipeline.py
      SELECT 'https://synth.local/src/Util' || did || '.java',
             'src/Util' || did || '.java',
             CAST(1 AS INTEGER), 'utillogger',
             'log.severe("' || safe || ' flagged by " + userName)',
             safe || ' flagged by {}',
             '["userName"]',
             safe || ' flagged by {StringPlaceholder}'
      FROM pages
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY template
                                ORDER BY url, file, stmt_idx) AS rt,
             row_number() OVER (PARTITION BY parsed_template
                                ORDER BY url, file, stmt_idx) AS rp
      FROM tmpl
    )
    SELECT url, file, stmt_idx, framework, raw, parsed_template, arguments,
           template
    FROM ranked WHERE rt = 1 AND rp = 1
"""


@_q("crawl_template_pipeline", sql=_FLAGSHIP_SQL)
def crawl_template_pipeline(spark, sf_dir):
    """Driver-facing flagship (dags/log2vec_process-repository.py:346-371):
    the full distributed pipeline — native rlike detect → Arrow extract UDF
    → parse+formalize UDF → two-window keep-first dedup — over pages derived
    deterministically from ``documents`` (plans/flagship.py).

    Two driver-surface adaptations (engine plan unchanged):
    * ``arguments array<string>`` is serialized with ``to_json`` — the
      driver's canonicalizer hashes rows and cannot hash Python lists
      (VERDICT r01 item 1);
    * the SQL oracle is the string-algebra twin: each derived page holds
      exactly one slf4j statement whose literal is a sanitized 120-char
      document prefix, so extract/parse/formalize reduce to concatenation
      and the dedup is the same two-window rule as
      plans/template_pipeline.dedup_templates.
    """
    from logtemplatecrawler_spark.plans.flagship import flagship_templates

    return flagship_templates(spark, sf_dir).withColumn(
        "arguments", F.to_json("arguments")
    )


# ---------------------------------------------------------------------------
# Product quantization (r5 wave 3): the memory-compression half of
# production ANN.  IVF (above) prunes WHICH vectors a query touches; PQ
# compresses WHAT is stored per vector — M=8 round-robin subspaces, K=8
# codes each, so a 768-dim float vector becomes 8 small ints (the classic
# IVF-PQ split of Jégou et al., "Product Quantization for Nearest Neighbor
# Search").  The codebook reuses the deterministic seed centroids
# (`ann_ivf_assign`'s vec_id%8 means) restricted per subspace, so training
# and both SQL twins share one constant set.  Subspaces are round-robin
# (m = dim_index % 8) rather than contiguous blocks: dimension-permutation
# PQ is standard (OPQ's trivial rotation) and the formulation is
# dimension-count-independent on both engines.
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (codes per vector)


def _pq_flat_cents(spark, sf_dir):
    """Long-form vectors + the shared deterministic codebook.
    Same seed-centroid device as `ann_ivf_assign` (vec_id%8 means)."""
    emb = _t(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    cents = flat.groupBy((F.col("vec_id") % 8).alias("k"), "i").agg(
        F.avg("x").alias("c")
    )
    return flat, cents


def _pq_codes(flat, cents):
    """Encode: per (vector, subspace) the nearest sub-centroid's id.
    Distances rounded before the argmin (ties by k) — the cross-engine
    stability device used by every centroid entry in this file."""
    subdist = (
        flat.join(F.broadcast(cents), "i")
        .groupBy("vec_id", (F.col("i") % _PQ_M).alias("m"), "k")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.round("d2", 6), F.col("k"))
    return (
        subdist.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("m").cast("bigint").alias("m"),
            F.col("k").cast("bigint").alias("code"),
        )
    )


_PQ_CODES_CTES = """flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cents AS (
      SELECT vec_id % 8 AS k, i, avg(x) AS c FROM flat GROUP BY 1, 2
    ), subdist AS (
      SELECT f.vec_id, (f.i - 1) % 8 AS m, c.k,
             sum((f.x - c.c) * (f.x - c.c)) AS d2
      FROM flat f JOIN cents c ON f.i = c.i
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code
      FROM (
        SELECT vec_id, m, k AS code, row_number() OVER (
          PARTITION BY vec_id, m ORDER BY round(d2, 6), k) AS rn
        FROM subdist) WHERE rn = 1
    )"""


@_q("ann_pq_encode", sql=f"""
    WITH {_PQ_CODES_CTES}
    SELECT vec_id, m, code FROM codes
""")
def ann_pq_encode(spark, sf_dir):
    """PQ encoding: every vector becomes M=8 sub-centroid ids — the compact
    codes table that replaces raw vectors on the ANN serving path (768
    floats → 8 small ints; at 10^10 vectors that is the difference between
    30 TB of floats and ~80 GB of codes).  Encode cost is one broadcast
    join (codebook ≤ K·dims rows) + one groupBy over the long-form vectors
    + a per-(vector,subspace) argmin window — embarrassingly parallel, no
    all-pairs product.  DuckDB twin regenerates the identical codes from
    the same constants (subspace = dim index mod 8, codebook = vec_id%8
    means, round-then-argmin ties by k)."""
    flat, cents = _pq_flat_cents(spark, sf_dir)
    return _pq_codes(flat, cents)


@_q("ann_ivfpq_search", sql=f"""
    WITH {_PQ_CODES_CTES}, dists AS (
      SELECT f.vec_id, c.k, sum((f.x - c.c) * (f.x - c.c)) AS d2
      FROM flat f JOIN cents c ON f.i = c.i GROUP BY 1, 2
    ), assign AS (
      SELECT vec_id, k, row_number() OVER (
        PARTITION BY vec_id ORDER BY round(d2, 6), k) AS rn
      FROM dists
    ), probe AS (SELECT k FROM assign WHERE vec_id = 0 AND rn = 1),
    cand AS (
      SELECT a.vec_id FROM assign a JOIN probe ON a.k = probe.k
      WHERE a.rn = 1 AND a.vec_id <> 0
    ), qe AS (SELECT i, x AS qv FROM flat WHERE vec_id = 0),
    lut AS (
      SELECT (qe.i - 1) % 8 AS m, c.k, sum((qe.qv - c.c) * (qe.qv - c.c)) AS ld2
      FROM qe JOIN cents c ON qe.i = c.i GROUP BY 1, 2
    ), adc AS (
      SELECT codes.vec_id, sum(lut.ld2) AS adc
      FROM codes JOIN cand ON codes.vec_id = cand.vec_id
      JOIN lut ON lut.m = codes.m AND lut.k = codes.code
      GROUP BY 1
    )
    SELECT vec_id, round(adc, 6) AS adc FROM adc
    ORDER BY round(adc, 6), vec_id LIMIT 10
""")
def ann_ivfpq_search(spark, sf_dir):
    """IVF-PQ search — the full production ANN serving shape in one entry:
    the query (vec_id 0) probes its nearest coarse cell (IVF, probe-1),
    and the cell's candidates are ranked by ASYMMETRIC DISTANCE (ADC): a
    per-query lookup table LUT[m][k] = ||q_m − c_{m,k}||² (M·K = 64 tiny
    rows, one broadcast) joined against the candidates' precomputed PQ
    codes — the scan never touches a raw vector, only (vec_id, m, code)
    rows.  At 100 TB: cells are partition keys (pruned read), codes are
    the only per-vector payload, and the LUT join is a broadcast hash join
    against a 64-row table.  Top-10 by rounded ADC, ties by vec_id; exact
    recall vs `ann_cosine_topk` is property-tested (non-residual PQ over
    near-orthogonal fixtures is coarse — the test pins the numpy-oracle
    equivalence and the plumbing, not retrieval quality)."""
    flat, cents = _pq_flat_cents(spark, sf_dir)
    # r6: the codebook is broadcast THREE times here (codes, coarse dists,
    # LUT) and each broadcast re-ran the full long-form groupBy that
    # builds it (no ReusedExchange across the three subtrees — verified in
    # plans/r06).  One eager checkpoint of the 512-row table computes it
    # once; values are bit-identical (same plan, executed once instead of
    # thrice).  2.33 s → 1.44 s min-of-3 at the sf1-shaped dir.  (A
    # checkpoint of `flat` itself was measured SLOWER — the scan+explode
    # recompute is fully pipelined codegen and beats materializing the
    # long form; same result for the ivf_search/trained entries, left
    # unchanged.)
    cents = cents.localCheckpoint()
    codes = _pq_codes(flat, cents)
    # coarse assignment (same shape as `ann_ivf_search` probe-1)
    dists = (
        flat.join(F.broadcast(cents), "i")
        .groupBy("vec_id", "k")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.round("d2", 6), F.col("k"))
    assign = (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .localCheckpoint()  # the IVF index: built once, probed twice below
    )
    probe = assign.where(F.col("vec_id") == 0).select(F.col("k").alias("pk"))
    cand = (
        assign.join(F.broadcast(probe), F.col("k") == F.col("pk"))
        .where(F.col("vec_id") != 0)
        .select("vec_id")
    )
    qe = flat.where(F.col("vec_id") == 0).select("i", F.col("x").alias("qv"))
    lut = (
        qe.join(F.broadcast(cents), "i")
        .groupBy((F.col("i") % _PQ_M).cast("bigint").alias("m"), "k")
        .agg(F.sum((F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c"))).alias("ld2"))
        .select("m", F.col("k").cast("bigint").alias("code"), "ld2")
    )
    adc = (
        codes.join(cand, "vec_id")
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("ld2").alias("adc"))
    )
    return (
        adc.select("vec_id", F.round("adc", 6).alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (r5 wave 3): Schleimer/Wilkerson/Aiken's MOSS
# selection rule — hash every k-gram, slide a w-hash window, keep each
# window's minimum.  Guarantees any shared substring of length ≥ k+w−1
# yields a shared fingerprint while keeping density ≈ 2/(w+1): the
# standard scalable document-fingerprint for fuzzy dedup of code/text.
# ---------------------------------------------------------------------------

_WINNOW_K = 8   # gram length (chars)
_WINNOW_W = 16  # window length (hashes)

_WINNOW_FPS_CTE = f"""docs AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id < 200 AND length(text) >= {_WINNOW_K + _WINNOW_W - 1}
    ), hashes AS (
      SELECT doc_id, p,
             substr(md5(substr(text, CAST(p AS INT), {_WINNOW_K})), 1, 8) AS h,
             length(text) - {_WINNOW_K - 1} AS nh
      FROM docs, unnest(range(1, length(text) - {_WINNOW_K - 2})) AS u(p)
    ), wins AS (
      SELECT doc_id, p, nh,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp
      FROM hashes
    ), fps AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE p <= nh - {_WINNOW_W - 1}
    )"""


def _winnow_fps(spark, sf_dir):
    """Spark twin of ``_WINNOW_FPS_CTE``: distinct (doc_id, fp) rows."""
    k, w = _WINNOW_K, _WINNOW_W
    docs = _t(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 200) & (F.length("text") >= k + w - 1)
    )
    hashes = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - (k - 1))).alias("p"),
        (F.length("text") - (k - 1)).alias("nh"),
        "text",
    ).select(
        "doc_id", "p", "nh",
        F.substring(F.md5(F.expr(f"substring(text, p, {k})")), 1, 8).alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("p").rowsBetween(
        Window.currentRow, w - 1
    )
    return (
        hashes.withColumn("fp", F.min("h").over(win))
        .where(F.col("p") <= F.col("nh") - (w - 1))
        .select("doc_id", "fp")
        .distinct()
    )


@_q("text_winnow_fingerprint", sql=f"""
    WITH {_WINNOW_FPS_CTE}
    SELECT doc_id, fp FROM fps
""")
def text_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints per document (k={_WINNOW_K} char grams,
    w={_WINNOW_W} hash windows): ONE window-min pass over the per-doc
    rolling hashes — no joins, no shuffle beyond the per-doc repartition,
    density ≈ 2/(w+1) of the gram count.  This is the content-defined
    selection that makes fuzzy dedup storage-proportional to ~12% of the
    corpus grams instead of all of them.  Portable hashing via
    md5 hex prefixes (both engines); lexicographic min over hex is
    collation-safe ASCII."""
    return _winnow_fps(spark, sf_dir)


@_q("dedup_winnow_pairs", sql=f"""
    WITH {_WINNOW_FPS_CTE}, sizes AS (
      SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.shared,
           round(p.shared * 1.0 / least(sa.n, sb.n), 6) AS overlap
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.shared * 1.0 / least(sa.n, sb.n) >= 0.5
""")
def dedup_winnow_pairs(spark, sf_dir):
    """Fingerprint-overlap near-dup candidates: docs sharing ≥ 50% of the
    smaller side's winnowed fingerprints.  The MOSS pair rule — containment
    on the winnowed set, so a doc embedded inside a larger one still
    scores 1.0 (Jaccard would dilute it).  At sf0.01 this selects exactly
    the planted duplicate pairs at overlap 1.0 plus a thin 0.5-0.67 noise
    band (word-salad fixtures share a tiny vocabulary).  Scale shape: the
    equality self-join on fp is the LSH-band join shape; mega-fingerprint
    buckets (boilerplate grams) get the same cap device as
    `dedup_lsh_pairs_capped` before pair expansion."""
    fps = _winnow_fps(spark, sf_dir).localCheckpoint()  # shared by 3 uses
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    ov = F.col("shared") / F.least(F.col("sa.n"), F.col("sb.n"))
    return (
        pairs.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(ov >= 0.5)
        .select("doc_a", "doc_b", "shared", F.round(ov, 6).alias("overlap"))
    )


# ---------------------------------------------------------------------------
# Seed ingestion + URL canonicalization (r5 wave 3): driver-hash the
# engine's ACTUAL canonicalizer and seed-collapse (crawl/frontier.py) the
# way `crawl_frontier_mor` drives `merge_on_read` — previously pytest-only.
# ---------------------------------------------------------------------------

@_q("crawl_seed_ingest_canonicalize", sql="""
    WITH raws AS (
      SELECT CASE doc_id % 5
        WHEN 0 THEN 'HTTP://Host' || CAST(doc_id % 40 AS VARCHAR)
                    || '.Example.COM/path/' || CAST(doc_id AS VARCHAR)
        WHEN 1 THEN 'http://host' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com:80/path/' || CAST(doc_id AS VARCHAR) || '/'
        WHEN 2 THEN 'HTTPS://HOST' || CAST(doc_id % 40 AS VARCHAR)
                    || '.Example.COM:443/P/' || CAST(doc_id AS VARCHAR) || '#frag'
        WHEN 3 THEN 'https://host' || CAST(doc_id % 40 AS VARCHAR)
                    || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '//'
        ELSE 'http://HOST' || CAST((doc_id - 4) % 40 AS VARCHAR)
             || '.example.com/path/' || CAST(doc_id - 4 AS VARCHAR)
      END AS url, CAST(doc_id % 10 AS BIGINT) AS priority
      FROM documents
    ), nofrag AS (
      SELECT regexp_replace(url, '#.*$', '') AS nf, priority FROM raws
    ), joined AS (
      SELECT regexp_replace(
               lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1)),
               ':(80|443)$', '')
             || regexp_replace(nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') AS j,
             priority
      FROM nofrag
    ), canon AS (
      SELECT regexp_replace(j, '/+$', '') AS url, priority FROM joined
    )
    SELECT url,
           regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host,
           max(priority) AS priority,
           CAST(0 AS BIGINT) AS depth, 'pending' AS state,
           CAST(0 AS BIGINT) AS round_added, CAST(0 AS BIGINT) AS updated_round
    FROM canon GROUP BY 1, 2
""")
def crawl_seed_ingest_canonicalize(spark, sf_dir):
    """S1-adjacent seed ingestion through the ENGINE's
    ``frontier_from_seeds`` (crawl/frontier.py:81-98 → with_frontier_keys →
    canonicalize_url): messy seed URLs — mixed-case scheme/authority,
    default :80/:443 ports, fragments, trailing-slash runs, and exact
    duplicates under canonicalization with conflicting priorities — are
    synthesized deterministically from ``documents`` and must land as the
    canonical frontier rows with max-priority collapse (the reference's
    stars/size admission heuristic, airflow/plugins/operators.py:112-116).
    Variant 4 duplicates variant 0's canonical target (100 of 500 rows
    collapse), and variant 2 pins that PATH case is preserved while the
    authority lowercases.  The DuckDB twin re-states the four
    canonicalization regexes verbatim (all RE2/Java-compatible) and
    replicates ``parse_url(url, 'HOST')`` with an authority extract —
    valid here because canonical URLs carry no userinfo/port.  url_hash
    and salt are projected away (xxhash64 is engine-specific; their
    derivation is pinned by tests/test_crawl.py)."""
    from logtemplatecrawler_spark.crawl.frontier import frontier_from_seeds

    docs = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 40).cast("string")
    i = F.col("doc_id").cast("string")
    m4 = ((F.col("doc_id") - 4) % 40).cast("string")
    i4 = (F.col("doc_id") - 4).cast("string")
    url = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("HTTP://Host"), m, F.lit(".Example.COM/path/"), i))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("http://host"), m, F.lit(".example.com:80/path/"),
                       i, F.lit("/")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("HTTPS://HOST"), m, F.lit(".Example.COM:443/P/"),
                       i, F.lit("#frag")))
        .when(F.col("doc_id") % 5 == 3,
              F.concat(F.lit("https://host"), m, F.lit(".example.com/p/"),
                       i, F.lit("//")))
        .otherwise(
            F.concat(F.lit("http://HOST"), m4, F.lit(".example.com/path/"), i4))
    )
    seeds = docs.select(url.alias("url"),
                        (F.col("doc_id") % 10).cast("int").alias("priority"))
    return frontier_from_seeds(seeds).select(
        "url", "host",
        F.col("priority").cast("bigint").alias("priority"),
        F.col("depth").cast("bigint").alias("depth"),
        "state",
        F.col("round_added").cast("bigint").alias("round_added"),
        F.col("updated_round").cast("bigint").alias("updated_round"),
    )


@_q("crawl_discover_outlinks", sql="""
    WITH ids AS (
      SELECT CAST(doc_id % 40 AS VARCHAR) AS m, CAST(doc_id AS VARCHAR) AS i
      FROM documents
    ), pages AS (
      SELECT 'intro http://h' || m || '.example.com/a/' || m
          || ' mid (https://h' || m || '.example.com:443/b/' || i || '#frag)'
          || ' q "http://h' || m || '.example.com/c/' || i
          || '//" noise HTTP://NOPE'
          || ' upper http://HUP' || m || '.Example.COM/d/' || i || ' end' AS text
      FROM ids
    ), links AS (
      SELECT unnest(regexp_extract_all(text, 'https?://[^\\s"''<>)*]+')) AS url
      FROM pages
    ), nofrag AS (
      SELECT regexp_replace(url, '#.*$', '') AS nf FROM links
    ), joined AS (
      SELECT regexp_replace(
               lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1)),
               ':(80|443)$', '')
             || regexp_replace(nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') AS j
      FROM nofrag
    )
    SELECT DISTINCT regexp_replace(j, '/+$', '') AS url FROM joined
""")
def crawl_discover_outlinks(spark, sf_dir):
    """S2 through the ENGINE's ``discover_outlinks``
    (crawl/scheduler.py:438-444: regexp_extract_all over page text →
    explode → canonicalize → distinct — the reference's lazy tree walk
    /src/templatecrawler/crawler/crawler.py re-expressed as the pages
    table self-describing its edges; previously pytest-only).  Page text
    is synthesized from ``documents`` with URLs in every boundary the
    OUTLINK_RE must respect: plain, parenthesized with a default :443
    port and a fragment, quote-delimited with a trailing-slash run,
    an uppercase-scheme decoy (HTTP:// must NOT match — the regex is
    case-sensitive in both engines), and a mixed-case authority the
    canonicalizer must lowercase.  The a-type link repeats across docs
    (path keyed by doc_id%40) so the distinct collapses 500 → 40 there.
    The DuckDB twin restates OUTLINK_RE and the canonicalization chain
    verbatim (all RE2/Java-compatible)."""
    from logtemplatecrawler_spark.crawl.scheduler import discover_outlinks

    docs = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 40).cast("string")
    i = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("intro http://h"), m, F.lit(".example.com/a/"), m,
        F.lit(" mid (https://h"), m, F.lit(".example.com:443/b/"), i,
        F.lit("#frag)"),
        F.lit(' q "http://h'), m, F.lit(".example.com/c/"), i,
        F.lit('//" noise HTTP://NOPE'),
        F.lit(" upper http://HUP"), m, F.lit(".Example.COM/d/"), i,
        F.lit(" end"),
    )
    return discover_outlinks(docs.select(text.alias("text")))


@_q("crawl_frontier_pending_view", sql="""
    WITH ev AS (
      SELECT event_id, user_id FROM events
    ), urls AS (
      SELECT 'https://h' || CAST(user_id % 50 AS VARCHAR)
             || '.example.org/p/' || CAST(event_id AS VARCHAR) AS url,
             event_id, user_id
      FROM ev
    ), merged AS (
      SELECT url, CASE WHEN event_id % 4 = 0 THEN 'done' ELSE 'pending' END AS state,
             CAST(user_id % 10 AS BIGINT) AS priority,
             CAST(0 AS BIGINT) AS updated_round
      FROM urls
      UNION ALL
      SELECT url, 'done' AS state, CAST(user_id % 10 AS BIGINT) AS priority,
             CAST(1 AS BIGINT) AS updated_round
      FROM urls WHERE event_id % 3 = 0
      UNION ALL
      SELECT url, 'blocked' AS state, CAST(user_id % 10 AS BIGINT) AS priority,
             CAST(2 AS BIGINT) AS updated_round
      FROM urls WHERE event_id % 7 = 0
      UNION ALL
      SELECT 'https://new.example.org/p/' || CAST(event_id AS VARCHAR) AS url,
             'pending' AS state, CAST(5 AS BIGINT) AS priority,
             CAST(2 AS BIGINT) AS updated_round
      FROM ev WHERE event_id % 5 = 0
    ), ranked AS (
      SELECT url, state, priority, updated_round,
             row_number() OVER (PARTITION BY url
                                ORDER BY updated_round DESC) AS rn
      FROM merged
    )
    SELECT url, state, priority, updated_round
    FROM ranked WHERE rn = 1 AND state = 'pending'
""")
def crawl_frontier_pending_view(spark, sf_dir):
    """Driver check of the r5 headline scale fix — the pending VIEW
    (crawl/scheduler.load_frontier_pending over the pending-only sidecar,
    VERDICT r04 item 1): a base compaction round plus two later delta
    rounds are derived from ``events``, written through the REAL table
    format into a scratch checkpoint (``write_frontier_snapshots`` writes
    the main snapshot AND its pending sidecar; ``write_delta`` the round
    partitions), and the engine's sidecar + deltas reconstruction returns
    the committed pending set.  The DuckDB oracle is the full-scan
    formulation — keep-latest window over base ∪ deltas, then
    ``state = 'pending'`` — so a hash match proves the
    O(|pending| + |touched|) read ≡ the O(|frontier|) filter.  Unlike
    `crawl_frontier_mor` (in-memory frames), this entry round-trips the
    on-disk layout: snapshot dirs, the sidecar, delta partitions."""
    import tempfile

    from logtemplatecrawler_spark.crawl.scheduler import (
        CrawlConfig, _frontier_delta_dir, load_frontier_pending,
        write_frontier_snapshots,
    )
    from logtemplatecrawler_spark.crawl.frontier import with_frontier_keys

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    url = F.concat(
        F.lit("https://h"), (F.col("user_id") % 50).cast("string"),
        F.lit(".example.org/p/"), F.col("event_id").cast("string"),
    )

    def _frontier_rows(df, url_col, state_col, priority_col, rnd):
        return with_frontier_keys(
            df.select(url_col.alias("url"), state_col.alias("state"),
                      priority_col.cast("int").alias("priority"))
        ).select(
            "url", "url_hash", "host", "salt", "priority",
            F.lit(0).alias("depth"), "state",
            F.lit(0).alias("round_added"),
            F.lit(rnd).alias("updated_round"),
        )

    base = _frontier_rows(
        ev, url,
        F.when(F.col("event_id") % 4 == 0, "done").otherwise("pending"),
        F.col("user_id") % 10, 0,
    )
    d1 = _frontier_rows(
        ev.where(F.col("event_id") % 3 == 0), url, F.lit("done"),
        F.col("user_id") % 10, 1,
    )
    d2_blocked = _frontier_rows(
        ev.where(F.col("event_id") % 7 == 0), url, F.lit("blocked"),
        F.col("user_id") % 10, 2,
    )
    d2_new = _frontier_rows(
        ev.where(F.col("event_id") % 5 == 0),
        F.concat(F.lit("https://new.example.org/p/"),
                 F.col("event_id").cast("string")),
        F.lit("pending"), F.lit(5), 2,
    )
    cfg = CrawlConfig(checkpoint_dir=tempfile.mkdtemp(prefix="pending_view_"))
    fmt = cfg.table_format
    # r6 (guide §2.6): the snapshot+sidecar write and the two delta writes
    # are mutually independent — only the read below needs all three
    # complete — so they run as concurrent jobs from a small thread pool;
    # later jobs back-fill executors freed by the earlier jobs' task
    # tails.  Ordering INSIDE write_frontier_snapshots (main-then-sidecar,
    # the crash contract) is untouched; each delta stages under its own
    # round directory, so the writes share no paths.
    from concurrent.futures import ThreadPoolExecutor

    jobs = [
        lambda: write_frontier_snapshots(spark, cfg, base, 0),
        lambda: fmt.write_delta(d1, _frontier_delta_dir(cfg), 1),
        lambda: fmt.write_delta(d2_blocked.unionByName(d2_new),
                                _frontier_delta_dir(cfg), 2),
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        for fut in [pool.submit(j) for j in jobs]:
            fut.result()
    return load_frontier_pending(spark, cfg, 2).select(
        "url", "state",
        F.col("priority").cast("bigint").alias("priority"),
        F.col("updated_round").cast("bigint").alias("updated_round"),
    )


_COMPACT_ROUNDTRIP_SQL = """
    WITH ev AS (
      SELECT event_id, user_id FROM events
    ), urls AS (
      SELECT 'https://h' || CAST(user_id % 50 AS VARCHAR)
             || '.example.org/p/' || CAST(event_id AS VARCHAR) AS url,
             event_id, user_id
      FROM ev
    ), merged AS (
      SELECT url, CASE WHEN event_id % 4 = 0 THEN 'done' ELSE 'pending' END AS state,
             CAST(user_id % 10 AS BIGINT) AS priority,
             CAST(0 AS BIGINT) AS updated_round
      FROM urls
      UNION ALL
      SELECT url, 'done' AS state, CAST(user_id % 10 AS BIGINT) AS priority,
             CAST(1 AS BIGINT) AS updated_round
      FROM urls WHERE event_id % 3 = 0
      UNION ALL
      SELECT url, 'blocked' AS state, CAST(user_id % 10 AS BIGINT) AS priority,
             CAST(2 AS BIGINT) AS updated_round
      FROM urls WHERE event_id % 7 = 0
      UNION ALL
      SELECT 'https://new.example.org/p/' || CAST(event_id AS VARCHAR) AS url,
             'pending' AS state, CAST(5 AS BIGINT) AS priority,
             CAST(2 AS BIGINT) AS updated_round
      FROM ev WHERE event_id % 5 = 0
    ), ranked AS (
      SELECT url, state, priority, updated_round,
             row_number() OVER (PARTITION BY url
                                ORDER BY updated_round DESC) AS rn
      FROM merged
    )
    SELECT url, state, priority, updated_round
    FROM ranked WHERE rn = 1
"""


@_q("crawl_compact_roundtrip", sql=_COMPACT_ROUNDTRIP_SQL)
def crawl_compact_roundtrip(spark, sf_dir):
    """Driver check of OFFLINE MAINTENANCE (crawl/scheduler.
    compact_checkpoint — the rewrite_data_files + expire_snapshots analog,
    S9's retention rotation scaled up): the same base + two delta rounds as
    `crawl_frontier_pending_view`, committed as three rounds through the
    real table format, then compacted — deltas folded into a round-2
    snapshot (plus its pending sidecar), superseded partitions pruned,
    superseded history expired — and the returned frame is the FULL
    frontier read back from the compacted checkpoint (`load_frontier` at
    the fold round, which after compaction reads the fresh snapshot with
    zero deltas).  The DuckDB twin is the keep-latest window over
    base ∪ deltas with no state filter, so a hash match proves the offline
    fold ≡ the logical MERGE it replaced."""
    import os
    import tempfile

    from logtemplatecrawler_spark.crawl.scheduler import (
        CrawlConfig, _frontier_delta_dir, _round_dir, compact_checkpoint,
        load_frontier, write_frontier_snapshots,
    )
    from logtemplatecrawler_spark.crawl.frontier import with_frontier_keys

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    url = F.concat(
        F.lit("https://h"), (F.col("user_id") % 50).cast("string"),
        F.lit(".example.org/p/"), F.col("event_id").cast("string"),
    )

    def _frontier_rows(df, url_col, state_col, priority_col, rnd):
        return with_frontier_keys(
            df.select(url_col.alias("url"), state_col.alias("state"),
                      priority_col.cast("int").alias("priority"))
        ).select(
            "url", "url_hash", "host", "salt", "priority",
            F.lit(0).alias("depth"), "state",
            F.lit(0).alias("round_added"),
            F.lit(rnd).alias("updated_round"),
        )

    base = _frontier_rows(
        ev, url,
        F.when(F.col("event_id") % 4 == 0, "done").otherwise("pending"),
        F.col("user_id") % 10, 0,
    )
    d1 = _frontier_rows(
        ev.where(F.col("event_id") % 3 == 0), url, F.lit("done"),
        F.col("user_id") % 10, 1,
    )
    d2 = _frontier_rows(
        ev.where(F.col("event_id") % 7 == 0), url, F.lit("blocked"),
        F.col("user_id") % 10, 2,
    ).unionByName(_frontier_rows(
        ev.where(F.col("event_id") % 5 == 0),
        F.concat(F.lit("https://new.example.org/p/"),
                 F.col("event_id").cast("string")),
        F.lit("pending"), F.lit(5), 2,
    ))
    cfg = CrawlConfig(checkpoint_dir=tempfile.mkdtemp(prefix="compact_rt_"))
    write_frontier_snapshots(spark, cfg, base, 0)
    fmt = cfg.table_format
    fmt.write_delta(d1, _frontier_delta_dir(cfg), 1)
    fmt.write_delta(d2, _frontier_delta_dir(cfg), 2)
    for rnd in (0, 1, 2):
        os.makedirs(_round_dir(cfg, rnd), exist_ok=True)
        fmt.commit_round(_round_dir(cfg, rnd))
    compact_checkpoint(spark, cfg)
    return load_frontier(spark, cfg, 2).select(
        "url", "state",
        F.col("priority").cast("bigint").alias("priority"),
        F.col("updated_round").cast("bigint").alias("updated_round"),
    )


@_q("stream_windowed_metrics_drain", sql="""
    WITH pages AS (
      SELECT 'h' || CAST(user_id % 20 AS VARCHAR) || '.example.org' AS host,
             1700000000 + (event_id % 96) * 600 AS ts_epoch,
             100 + event_id % 50 AS nbytes
      FROM events
    )
    SELECT (ts_epoch // 3600) * 3600 AS win_start_epoch,
           (ts_epoch // 3600) * 3600 + 3600 AS win_end_epoch,
           host,
           count(*) AS pages,
           CAST(sum(nbytes) AS BIGINT) AS bytes
    FROM pages GROUP BY 1, 2, 3
""")
def stream_windowed_metrics_drain(spark, sf_dir):
    """STRUCTURED STREAMING, driver-hashed: the engine's windowed-metrics
    drain (streaming/windowed_metrics.drain_windowed_metrics — readStream
    over a parquet dir → withWatermark → event-time 1-hour window groupBy →
    availableNow drain into a memory sink) runs to completion inside the
    query and its final table is hash-compared against a plain GROUP BY
    twin.  Valid because a complete-mode drain of a bounded source is
    deterministic: the watermark bounds state in update/append modes but
    drops nothing in complete mode, so stream ≡ batch (the property
    tests/test_streaming_and_tables.py pins; this entry pins it in the
    driver hash too).  Pages are synthesized from ``events`` (20 hosts ×
    ~16 epoch-hours, 10-minute steps) and written to a scratch dir first —
    the file source replays them as micro-batches.  All output keys are
    epoch-second integers computed inside each engine (no timestamp
    rendering crosses the engine boundary — the r4 timezone lesson)."""
    import tempfile
    import uuid

    from logtemplatecrawler_spark.streaming.windowed_metrics import (
        drain_windowed_metrics,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    pages = ev.select(
        F.concat(F.lit("https://h"), (F.col("user_id") % 20).cast("string"),
                 F.lit(".example.org/p/"),
                 F.col("event_id").cast("string")).alias("url"),
        F.timestamp_seconds(
            F.lit(1700000000) + (F.col("event_id") % 96) * 600
        ).alias("warc_ts"),
        F.expr("repeat('x', CAST(100 + event_id % 50 AS INT))").alias("html"),
    )
    scratch = tempfile.mkdtemp(prefix="stream_drain_")
    pages_dir = f"{scratch}/pages"
    pages.write.mode("overwrite").parquet(pages_dir)
    name = f"drain_{uuid.uuid4().hex[:12]}"
    out = drain_windowed_metrics(
        spark, pages_dir, "url string, warc_ts timestamp, html string",
        checkpoint_dir=f"{scratch}/ckpt", query_name=name,
        window_len="1 hour", watermark_delay="2 hours",
        output_mode="complete",
    )
    return out.select(
        F.unix_timestamp("win_start").alias("win_start_epoch"),
        F.unix_timestamp("win_end").alias("win_end_epoch"),
        "host",
        F.col("pages").cast("bigint").alias("pages"),
        F.col("bytes").cast("bigint").alias("bytes"),
    )


@_q("s7_append_unique_upsert", sql="""
    WITH b1 AS (
      SELECT 'T' || CAST(doc_id AS VARCHAR) AS template,
             'P' || CAST(doc_id AS VARCHAR) AS parsed_template,
             'b1' AS src
      FROM documents WHERE doc_id < 250
    ), b2 AS (
      SELECT 'T' || CAST(doc_id AS VARCHAR) AS template,
             'P' || CAST(doc_id - 180 AS VARCHAR) AS parsed_template,
             'b2' AS src
      FROM documents WHERE doc_id >= 200 AND doc_id < 450
    )
    SELECT template, parsed_template, src FROM b1
    UNION ALL
    SELECT template, parsed_template, src FROM b2
    WHERE template NOT IN (SELECT template FROM b1)
      AND parsed_template NOT IN (SELECT parsed_template FROM b1)
""")
def s7_append_unique_upsert(spark, sf_dir):
    """S7 through the ENGINE's ``append_unique`` (sources/tables.py:31-50 —
    INSERT … ON CONFLICT DO NOTHING, postgres_db.sql:236-261's two
    INDEPENDENT unique constraints on template and parsed_template):
    batch 1 seeds a scratch parquet sink; batch 2 overlaps it on the
    template key for doc_id 200-249 and on the parsed_template key for
    doc_id 250-429 (both constraints bind on disjoint ranges — only
    430-449 survives), and the returned frame is the sink READ BACK from
    disk, so the hash pins the anti-join semantics AND the filesystem
    append path.  The DuckDB twin is the relational restatement: batch 1
    ∪ (batch 2 minus either-key conflicts)."""
    import tempfile

    from logtemplatecrawler_spark.sources.tables import append_unique

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    b1 = docs.where(F.col("doc_id") < 250).select(
        F.concat(F.lit("T"), i).alias("template"),
        F.concat(F.lit("P"), i).alias("parsed_template"),
        F.lit("b1").alias("src"),
    )
    b2 = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 450)).select(
        F.concat(F.lit("T"), i).alias("template"),
        F.concat(F.lit("P"), (F.col("doc_id") - 180).cast("string")).alias(
            "parsed_template"
        ),
        F.lit("b2").alias("src"),
    )
    sink = tempfile.mkdtemp(prefix="append_unique_") + "/templates"
    append_unique(b1, sink, ["template", "parsed_template"])
    append_unique(b2, sink, ["template", "parsed_template"])
    return spark.read.parquet(sink).select("template", "parsed_template", "src")


@_q("f7_c_preprocessor_strip", sql="""
    WITH stmts AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN '   printf("x %d", v); // ' || CAST(doc_id AS VARCHAR) || '  '
               WHEN 1 THEN '  #include <stdio.h> // ' || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN '   log.info("y"); // ' || CAST(doc_id AS VARCHAR) || '   '
               ELSE '#define X ' || CAST(doc_id AS VARCHAR)
             END AS raw,
             CASE WHEN doc_id % 4 IN (0, 1) THEN 'c' ELSE 'java' END AS lang
      FROM documents
    ), normalized AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'c'
                  THEN regexp_replace(raw, '^\\s+|\\s+$', '', 'g')
                  ELSE raw END AS raw
      FROM stmts
    )
    SELECT doc_id, lang, raw FROM normalized
    WHERE NOT (lang = 'c' AND raw LIKE '#%')
""")
def f7_c_preprocessor_strip(spark, sf_dir):
    """F7 through the ENGINE's native columns (functions/columns.py:93-102,
    citing logparser/c.py:56-60): C statements are whitespace-stripped
    BEFORE the preprocessor check (so an indented ``#include`` is still
    dropped) and the stripped text is what flows on; java statements keep
    their whitespace and their ``#``-leading lines (the rule is
    C-conditional).  The same normalize→filter order the template
    pipeline runs in Python (core/pipeline.py:statement_templates).  The DuckDB twin
    restates the trim regex (both-anchor alternation needs the 'g' flag —
    Spark's regexp_replace is global by default) and the conditional
    filter."""
    from logtemplatecrawler_spark.functions import columns as C

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    raw = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit('   printf("x %d", v); // '), i, F.lit("  ")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("  #include <stdio.h> // "), i))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit('   log.info("y"); // '), i, F.lit("   ")))
        .otherwise(F.concat(F.lit("#define X "), i))
    )
    lang = F.when(F.col("doc_id") % 4 <= 1, "c").otherwise("java")
    stmts = docs.select("doc_id", raw.alias("raw"), lang.alias("lang"))
    stmts = stmts.withColumn("raw", C.normalize_raw(F.col("raw"), F.col("lang")))
    return stmts.where(
        C.keep_non_preprocessor(F.col("raw"), F.col("lang"))
    ).select("doc_id", "lang", "raw")


@_q("s6_csv_roundtrip", sql="""
    SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS segment,
           c_name || ', segment="' || c_mktsegment || '"' AS comment
    FROM customer WHERE c_custkey % 3 = 0
""")
def s6_csv_roundtrip(spark, sf_dir):
    """S6 through the ENGINE's CSV sink/source (sources/tables.py:24-29 —
    the reference's file-locked append-only CSV of searched repos,
    crawler.py:128-153): write a customer slice with ``write_csv`` and
    return ``read_csv`` of it back, so the hash pins header handling,
    schema-ful reads, and quoting (the synthesized comment column embeds
    commas AND double quotes, forcing the writer's quote-and-escape path).
    The DuckDB twin is the identity derivation — a lossless roundtrip must
    equal the source slice."""
    import tempfile

    from logtemplatecrawler_spark.sources.tables import read_csv, write_csv

    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 3 == 0
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.concat(F.col("c_name"), F.lit(', segment="'),
                 F.col("c_mktsegment"), F.lit('"')).alias("comment"),
    )
    path = tempfile.mkdtemp(prefix="csv_lock_") + "/searched"
    write_csv(cust, path)
    return read_csv(
        spark, path, "custkey bigint, name string, segment string, comment string"
    )


@_q("s3_fetch_join_size_gate", sql="""
    WITH popped AS (
      SELECT 'https://site.example/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents WHERE doc_id < 600
    ), pages AS (
      SELECT 'https://site.example/' || CAST(doc_id AS VARCHAR) AS url,
             repeat('x', CASE WHEN doc_id % 7 = 0 THEN 10 ELSE 300 END) AS body
      FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT p.url,
           CASE WHEN g.body IS NULL THEN 'missing'
                WHEN octet_length(encode(g.body)) <= 255 THEN 'too_small'
                ELSE 'done' END AS fetch_state
    FROM popped p LEFT JOIN pages g ON p.url = g.url
""")
def s3_fetch_join_size_gate(spark, sf_dir):
    """S3/S4/F3 through the ENGINE's ``classify_fetch``
    (crawl/scheduler.py — the run_crawl fetch stage itself): popped URLs
    left-join the pages table; no page row → ``missing`` (the blob fetch's
    isBinary/404 analog, calls.py:170-202), octet_length(html) ≤ 255 →
    ``too_small`` (heuristicwalk.py:29), else ``done``.  doc_id % 5 = 0
    rows are absent from pages and % 7 = 0 bodies are 10 bytes, so all
    three states occur; the DuckDB twin restates the gate over VARCHAR
    bytes (octet_length(utf8) ≡ octet_length(encode))."""
    from logtemplatecrawler_spark.crawl.scheduler import classify_fetch

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(F.lit("https://site.example/"), F.col("doc_id").cast("string"))
    popped = docs.where(F.col("doc_id") < 600).select(url.alias("url"))
    body = F.repeat(
        F.lit("x"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(10)).otherwise(F.lit(300)),
    )
    pages_kv = docs.where(F.col("doc_id") % 5 != 0).select(
        url.alias("url"),
        F.encode(body, "utf-8").alias("html"),
        body.alias("text"),
    )
    return classify_fetch(popped, pages_kv, min_page_bytes=255).select(
        "url", "fetch_state"
    )


@_q("w2_politeness_pacing_rounds", sql="""
    WITH pend AS (
      SELECT 'h' || CAST(user_id % 40 AS VARCHAR) || '.example.net' AS host,
             'https://h' || CAST(user_id % 40 AS VARCHAR) || '.example.net/p/'
               || CAST(event_id AS VARCHAR) AS url,
             value AS priority
      FROM events
    ), ranked AS (
      SELECT host, url, priority,
             row_number() OVER (PARTITION BY host
                                ORDER BY priority DESC, url ASC) AS rn
      FROM pend
    )
    SELECT host, url, priority,
           CAST((rn - 1) // 4 + 1 AS BIGINT) AS pop_round
    FROM ranked WHERE rn <= 8
""")
def w2_politeness_pacing_rounds(spark, sf_dir):
    """W2 pacing through the ENGINE's pop: two consecutive rounds of
    ``pop_per_host(budget=4, salted=True)`` with the first round's pops
    anti-joined away before the second (exactly run_crawl's round loop —
    each cron tick leases the NEXT budget-slice per host,
    dags/log2vec_process-repository.py:62-79).  Round r's set must equal
    per-host priority ranks (r-1)·budget+1 … r·budget, which is the DuckDB
    twin: one global window with pop_round = (rn-1) // budget + 1."""
    from logtemplatecrawler_spark.crawl.politeness import pop_per_host

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    host = F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string"),
                    F.lit(".example.net"))
    pend = ev.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 F.col("event_id").cast("string")).alias("url"),
        F.col("value").alias("priority"),
    ).withColumn("salt", F.pmod(F.crc32(F.col("url")), F.lit(8)).cast("int"))
    # r6: round 1's result feeds BOTH the output union and the anti-join
    # under round 2 — without the checkpoint the full window pipeline over
    # the pending set executes twice (budget·hosts rows, trivial to pin).
    r1 = pop_per_host(pend, budget=4, salted=True).localCheckpoint()
    rest = pend.join(r1.select("url"), "url", "left_anti")
    r2 = pop_per_host(rest, budget=4, salted=True)
    out = r1.withColumn("pop_round", F.lit(1).cast("bigint")).unionByName(
        r2.withColumn("pop_round", F.lit(2).cast("bigint"))
    )
    return out.select("host", "url", "priority", "pop_round")


@_q("curation_decontaminate_ngram", sql="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(generate_series(1, array_length(ws) - 7)) AS pos
      FROM toks WHERE array_length(ws) >= 8
    ), keyed AS (
      SELECT g.doc_id,
             substr(md5(array_to_string(t.ws[g.pos:g.pos+7], ' ')), 1, 15)
               AS gk
      FROM grams g JOIN toks t ON t.doc_id = g.doc_id
    ), eval_grams AS (
      SELECT DISTINCT gk FROM keyed WHERE doc_id % 97 = 0
    )
    SELECT k.doc_id,
           count(*) AS total_grams,
           count(e.gk) AS eval_grams,
           count(e.gk) > 0 AS contaminated
    FROM keyed k LEFT JOIN eval_grams e ON k.gk = e.gk
    WHERE k.doc_id % 97 <> 0
    GROUP BY k.doc_id
""")
def curation_decontaminate_ngram(spark, sf_dir):
    """Benchmark DECONTAMINATION — the training-data hygiene op every
    100 TB pipeline runs before export: drop/flag corpus documents that
    share a verbatim word-8-gram with the evaluation set (the
    GPT-3/C4-style 13-gram rule at this corpus's scale).  Here the "eval
    set" is the doc_id % 97 == 0 slice; every other document is scored by
    how many of its 8-grams appear in it.  Scale shape: the eval side of
    the probe is tiny by construction (benchmarks are MBs, corpora are
    TBs), so its distinct gram keys are BROADCAST and the corpus grams
    stream through a BroadcastHashJoin — the only shuffle is the final
    per-doc count combine, O(|docs|) after partial aggregation.  Same
    md5-prefix gram keys as `dedup_repeated_ngram_spans`; the DuckDB twin
    slices grams via list ranges."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ws")).where(
        F.size("ws") >= 8
    )
    keyed = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 7),"
                " i -> substring(md5(array_join(slice(ws, i, 8), ' ')), 1, 15))"
            )
        ).alias("gk"),
    )
    eval_grams = (
        keyed.where(F.col("doc_id") % 97 == 0).select("gk").distinct()
        .select("gk", F.lit(1).alias("_hit"))
    )
    return (
        keyed.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_grams), "gk", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_grams"),
            F.count("_hit").alias("eval_grams"),
            (F.count("_hit") > 0).alias("contaminated"),
        )
    )


def _stream_content_dedup_sql() -> str:
    # shares the generated simhash CTE with the batch entries, then states
    # the online verdict relationally: dup iff an EARLIER (smaller doc_id)
    # signature lies within the Hamming radius
    return _simhash_cte() + f"""
    SELECT a.doc_id,
           CAST(EXISTS(
             SELECT 1 FROM sims b
             WHERE b.doc_id < a.doc_id
               AND bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_HAMMING}
           ) AS BOOLEAN) AS near_dup
    FROM sims a
    """


@_q("stream_content_dedup_drain", sql=_stream_content_dedup_sql())
def stream_content_dedup_drain(spark, sf_dir):
    """STREAMING content-level near-dup, driver-hashed: the engine's online
    simhash filter (streaming/content_dedup.streaming_near_dup_flags —
    readStream → Arrow simhash UDF → band-key explode →
    `applyInPandasWithState` keyed by the 4×15-bit band buckets →
    availableNow drain → `near_dup_verdicts` resolve) runs to completion
    inside the query.  Deterministic because the whole table arrives as ONE
    micro-batch (maxFilesPerTrigger ≫ file count, asserted post-drain
    against the checkpoint offsets) and within a batch the state function
    orders by doc_id, so the verdict is exactly "some smaller-doc_id
    signature within Hamming ≤ 3" — which the DuckDB twin states over the
    SAME generated simhash CTE as the batch entries (the pure-Python
    streaming signature is pinned bit-identical to the batch aggregation by
    tests/test_stateful_streaming.py::test_simhash60_matches_batch_frame).
    Pigeonhole makes the banded state exact, so the relational restatement
    needs no banding at all."""
    import tempfile

    from logtemplatecrawler_spark.streaming.content_dedup import (
        near_dup_verdicts, streaming_near_dup_flags,
    )

    import glob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scratch = tempfile.mkdtemp(prefix="stream_dedup_")
    src, out, ckpt = f"{scratch}/src", f"{scratch}/out", f"{scratch}/ckpt"
    # r6: multiple source files so the Arrow simhash UDF stage runs on
    # every core instead of one (the coalesce(1) source serialized the
    # whole signature computation).  Determinism needs all files in ONE
    # micro-batch — pinned explicitly via maxFilesPerTrigger far above the
    # file count, and verified after the drain (offsets dir must hold
    # exactly batch 0) so a Spark behavior change fails loudly instead of
    # silently reordering arrivals.
    docs.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1000000")
        .parquet(src)
    )
    q = (
        streaming_near_dup_flags(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = sorted(
        p.rsplit("/", 1)[-1] for p in glob.glob(f"{ckpt}/offsets/*")
        if not p.endswith(".tmp")
    )
    if committed != ["0"]:
        raise RuntimeError(
            f"stream_content_dedup_drain: expected ONE micro-batch, got "
            f"offsets {committed} — the single-batch determinism contract "
            "is broken"
        )
    return near_dup_verdicts(spark.read.parquet(out))


@_q("crawl_url_seen_filter", sql="""
    WITH frontier AS (
      SELECT 'https://h' || CAST(user_id % 30 AS VARCHAR)
             || '.example.org/p/' || CAST(event_id AS VARCHAR) AS url
      FROM events
    ), cands AS (
      SELECT 'https://h' || CAST(user_id % 30 AS VARCHAR)
             || '.example.org/p/' || CAST(event_id AS VARCHAR) AS url
      FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT 'https://new.example.org/o/' || CAST(event_id AS VARCHAR) AS url
      FROM events WHERE event_id % 3 = 0
    )
    SELECT c.url FROM cands c
    WHERE c.url NOT IN (SELECT url FROM frontier)
""")
def crawl_url_seen_filter(spark, sf_dir):
    """J3 at crawl scale through the ENGINE's URL-seen machinery
    (crawl/seen.py: `build_bloom` — native probe arithmetic →
    groupBy(word).bit_or → 64 KiB-chunk collect → `BroadcastBloom` — then
    `filter_unseen`'s bloom prune + exact anti-join decider): candidates
    are half already-in-frontier urls and a disjoint new set; the output
    must equal the plain anti-join because the bloom has NO false
    negatives (a bloom-miss is definitely new) and every bloom-positive
    goes through the exact string anti-join.  So the DuckDB twin IS the
    plain NOT IN — a hash match proves the two-path union (definitely-new
    ∪ checked) loses and invents nothing.  Drives the real numpy
    membership UDF and the distributed build, not a restatement."""
    from logtemplatecrawler_spark.crawl.frontier import with_frontier_keys
    from logtemplatecrawler_spark.crawl.seen import (
        BroadcastBloom, build_bloom, filter_unseen,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    url = F.concat(
        F.lit("https://h"), (F.col("user_id") % 30).cast("string"),
        F.lit(".example.org/p/"), F.col("event_id").cast("string"),
    )
    frontier = with_frontier_keys(ev.select(url.alias("url"))).localCheckpoint()
    cands = with_frontier_keys(
        ev.where(F.col("event_id") % 2 == 0).select(url.alias("url"))
        .unionByName(
            ev.where(F.col("event_id") % 3 == 0).select(
                F.concat(F.lit("https://new.example.org/o/"),
                         F.col("event_id").cast("string")).alias("url")
            )
        )
    )
    bloom = build_bloom(frontier)
    bcast = BroadcastBloom(spark.sparkContext, bloom)
    return filter_unseen(cands, frontier, bloom=bcast).select("url")


# ---------------------------------------------------------------------------
# r5 wave 5: LM quality scoring, semantic dedup, scrubbing, packing, splits
# ---------------------------------------------------------------------------

# LM train split: docs with doc_id % _LM_TRAIN_MOD == 1 train the counts,
# everything else is scored.  2% keeps the training corpus small enough that
# ALL THREE scoring branches fire on the fixtures (verified at sf0.001 and
# the driver's sf0.01 gate: ~12.3k bigram backoffs and ~26 unseen-unigram
# fallbacks among ~26k scored tokens), so the hash pins the backoff logic,
# not just the happy path.
_LM_TRAIN_MOD = 50
_LM_BACKOFF = 0.4  # stupid-backoff discount (Brants et al., 2007)


@_q("text_lm_bigram_score", sql=f"""
    WITH words AS (
      SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS w
      FROM documents
    ), toks AS (
      SELECT doc_id, pos, w,
             lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM words
    ), uni AS (
      SELECT w, count(*) AS c1 FROM words
      WHERE doc_id % {_LM_TRAIN_MOD} = 1 GROUP BY w
    ), tot AS (
      SELECT CAST(count(*) AS DOUBLE) AS t FROM words
      WHERE doc_id % {_LM_TRAIN_MOD} = 1
    ), big AS (
      SELECT prev, w, count(*) AS c2 FROM toks
      WHERE prev IS NOT NULL AND doc_id % {_LM_TRAIN_MOD} = 1 GROUP BY 1, 2
    ), scored AS (
      SELECT t.doc_id,
             CASE WHEN b.c2 IS NOT NULL
                    THEN ln(CAST(b.c2 AS DOUBLE) / up.c1)
                  WHEN uw.c1 IS NOT NULL
                    THEN ln({_LM_BACKOFF} * uw.c1 / (SELECT t FROM tot))
                  ELSE ln({_LM_BACKOFF} / (SELECT t FROM tot)) END AS lp
      FROM toks t
      LEFT JOIN big b ON b.prev = t.prev AND b.w = t.w
      LEFT JOIN uni up ON up.w = t.prev
      LEFT JOIN uni uw ON uw.w = t.w
      WHERE t.prev IS NOT NULL AND t.doc_id % {_LM_TRAIN_MOD} <> 1
    )
    SELECT doc_id, count(*) AS n_scored,
           CAST(sum(CAST(round(lp * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_lp_micro
    FROM scored GROUP BY doc_id
""")
def text_lm_bigram_score(spark, sf_dir):
    """LM-based quality scoring (the CCNet/Gopher filter shape): a bigram
    stupid-backoff model (Brants et al., 2007) trained on a deterministic
    2% document split scores every held-out document by its total token
    log-probability.  Scoring rule per token: seen bigram →
    ln(c2/c1(prev)); unseen bigram, seen word → ln(0.4·c1(w)/T); OOV word
    → ln(0.4/T).

    Scale shape: the model IS two aggregation outputs — unigram and bigram
    count tables built with map-side partial aggregation over the exploded
    token table — and scoring is broadcast joins against them (at 100 TB
    the unigram table is vocab-sized and always broadcastable; a bigram
    table beyond the broadcast budget degrades to one shuffle join on the
    bigram key — same plan Catalyst picks automatically once broadcast
    hints are dropped).  The only window is per-document (lag over pos),
    so no global ordering anywhere.

    Cross-engine float determinism: each token's log-prob is snapped to
    BIGINT micro-units BEFORE the per-doc sum, so the aggregate is exact
    integer arithmetic in both engines — immune to summation order, unlike
    round(avg(...)) (Java Math.log vs libm differ only below the 1e-6
    snap)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    toks = words.withColumn(
        "prev", F.lag("w").over(Window.partitionBy("doc_id").orderBy("pos"))
    ).where(F.col("prev").isNotNull())
    is_train = F.col("doc_id") % _LM_TRAIN_MOD == 1
    uni = words.where(is_train).groupBy("w").agg(F.count("*").alias("c1"))
    tot = words.where(is_train).agg(F.count("*").cast("double").alias("t"))
    big = (
        toks.where(is_train)
        .groupBy("prev", "w").agg(F.count("*").alias("c2"))
    )
    scored = (
        toks.where(~is_train)
        .join(F.broadcast(big), ["prev", "w"], "left")
        .join(
            F.broadcast(
                uni.select(F.col("w").alias("prev"), F.col("c1").alias("c1_prev"))
            ),
            "prev", "left",
        )
        .join(
            F.broadcast(uni.select("w", F.col("c1").alias("c1_w"))), "w", "left"
        )
        .crossJoin(F.broadcast(tot))
    )
    lp = (
        F.when(
            F.col("c2").isNotNull(),
            F.log(F.col("c2").cast("double") / F.col("c1_prev")),
        )
        .when(
            F.col("c1_w").isNotNull(),
            F.log(F.lit(_LM_BACKOFF) * F.col("c1_w") / F.col("t")),
        )
        .otherwise(F.log(F.lit(_LM_BACKOFF) / F.col("t")))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_scored"),
        F.sum(F.round(lp * 1000000).cast("bigint")).cast("bigint")
        .alias("sum_lp_micro"),
    )


# Lexicon-based scrubbing: the PII-redaction shape (emails / phone numbers /
# ids at production; here a denylist drawn from the fixture vocabulary so
# the fixtures actually exercise replacement).  Word-boundary alternation
# keeps to the regex subset where Java regex and RE2 agree.
_SCRUB_PATTERN = r"\b(customer|value)\b"
_SCRUB_TOKEN = "<SCRUBBED>"


@_q("text_pii_scrub", sql=f"""
    SELECT doc_id,
           md5(regexp_replace(text, '{_SCRUB_PATTERN}', '{_SCRUB_TOKEN}', 'g'))
             AS red_fp,
           CAST(len(regexp_extract_all(text, '{_SCRUB_PATTERN}')) AS BIGINT)
             AS n_hits
    FROM documents
""")
def text_pii_scrub(spark, sf_dir):
    """PII/denylist redaction: every match of a word-boundary lexicon
    pattern is replaced with a scrub token, and the per-document hit count
    is kept for curation stats.  Output fingerprints the REDACTED text so
    the hash pins the actual replacement semantics, not just the count.

    Scale shape: pure native string expressions (regexp_replace /
    regexp_count) inside whole-stage codegen — embarrassingly parallel, no
    shuffle, no UDF.  At production the lexicon alternation is generated
    from the denylist the same way the LSH SQL twins generate from shared
    constants; patterns stay within the Java∩RE2 regex subset so engines
    agree."""
    pat = _SCRUB_PATTERN
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.regexp_replace("text", pat, _SCRUB_TOKEN)).alias("red_fp"),
        F.regexp_count("text", F.lit(pat)).cast("bigint").alias("n_hits"),
    )


_PACK_TARGET = 512  # tokens per training chunk
_PACK_SHARDS = 8    # independent packing streams


@_q("curation_pack_sequences", sql=f"""
    WITH sized AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS start_off
      FROM sized
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor(start_off / {_PACK_TARGET}) AS BIGINT) AS chunk_id,
           CAST(start_off % {_PACK_TARGET} AS BIGINT) AS chunk_offset
    FROM packed
""")
def curation_pack_sequences(spark, sf_dir):
    """Sequence packing for LM training: documents are concatenated in
    deterministic order within independent shards and split into
    fixed-token chunks (streaming-concat packing — the standard pretraining
    batcher); each document gets (shard, chunk_id, chunk_offset) so a
    writer can emit chunk files directly.

    Scale shape: the ONLY stateful step is a running sum windowed BY SHARD
    (partitionBy(shard).orderBy(doc_id)) — no global window, no global
    sort; shards are the parallelism unit exactly like output file streams
    at 100 TB (shard count scales with cluster size; doc_id here, a
    content hash at production).  All arithmetic is exact bigint, so the
    cross-engine hash has no float surface."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    sized = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        (F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1)
        .cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.select(
        "doc_id", "shard", "n_tokens",
        F.floor(F.col("start_off") / _PACK_TARGET).cast("bigint")
        .alias("chunk_id"),
        (F.col("start_off") % _PACK_TARGET).cast("bigint")
        .alias("chunk_offset"),
    )


@_q("curation_split_assign", sql="""
    WITH b AS (
      SELECT doc_id,
             (ascii(substr(md5(text), 1, 1)) * 256
              + ascii(substr(md5(text), 2, 1))) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket >= 98 THEN 'test'
                WHEN bucket >= 96 THEN 'val'
                ELSE 'train' END AS split
    FROM b
""")
def curation_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (96/2/2) keyed on CONTENT
    (md5 of text), not position — so re-sharding, re-crawling, or
    re-ordering the corpus never migrates a document across splits (the
    leakage-safety property an id- or row-number-based split lacks; same
    reason exact dedup keys on content hash).  Bucket arithmetic uses
    ascii() of the md5 hex prefix — portable across engines without
    hex→int casts.

    Scale shape: stateless per-row expressions, whole-stage codegen, no
    shuffle; the split becomes a partition column at write time."""
    h = F.md5("text")
    bucket = (
        (F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1)))
        % 100
    )
    return _t(spark, sf_dir, "documents", spread=False).select(
        "doc_id",
        bucket.cast("bigint").alias("bucket"),
        F.when(bucket >= 98, "test")
        .when(bucket >= 96, "val")
        .otherwise("train").alias("split"),
    )


_SEM_CELLS = 8
_SEM_TAU = 0.35  # fixture vectors are near-orthogonal; production ~0.95


@_q("dedup_semantic_clustered_canonical", sql=f"""
    WITH RECURSIVE flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cents AS (
      SELECT vec_id % {_SEM_CELLS} AS k, i, avg(x) AS c FROM flat GROUP BY 1, 2
    ), dists AS (
      SELECT f.vec_id, c.k, sum((f.x - c.c) * (f.x - c.c)) AS d2
      FROM flat f JOIN cents c ON f.i = c.i GROUP BY 1, 2
    ), assign AS (
      SELECT vec_id, k AS cell FROM (
        SELECT vec_id, k, row_number() OVER (
          PARTITION BY vec_id ORDER BY round(d2, 6), k) AS rn
        FROM dists) WHERE rn = 1
    ), norms AS (
      SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id
    ), cellvec AS (
      SELECT a.cell, f.vec_id, f.i, f.x
      FROM flat f JOIN assign a ON a.vec_id = f.vec_id
    ), dots AS (
      SELECT fa.vec_id AS vec_a, fb.vec_id AS vec_b, sum(fa.x * fb.x) AS dot
      FROM cellvec fa JOIN cellvec fb
        ON fa.i = fb.i AND fa.cell = fb.cell AND fa.vec_id < fb.vec_id
      GROUP BY 1, 2
    ), cpairs AS (
      SELECT vec_a, vec_b FROM dots
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b
      WHERE round(dot / (na.nrm * nb.nrm), 6) >= {_SEM_TAU}
    ), edges AS (
      SELECT vec_a AS a, vec_b AS b FROM cpairs
      UNION ALL SELECT vec_b AS a, vec_a AS b FROM cpairs
    ), reach AS (
      SELECT vec_id AS src, vec_id AS dst FROM embeddings
      UNION
      SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS vec_id, min(dst) AS cluster_id,
           (src = min(dst)) AS is_canonical
    FROM reach GROUP BY src
""")
def dedup_semantic_clustered_canonical(spark, sf_dir):
    """Semantic dedup over the FULL embedding table, clustered — the
    SemDeDup shape (Abbas et al., 2023): IVF coarse assignment partitions
    vectors into cells (same deterministic centroids as `ann_ivf_assign`),
    exact cosine pairs are generated ONLY within cells, and the shared
    connected-components operator keeps one canonical document per
    near-dup cluster.

    Unlike `dedup_embedding_cosine_canonical` (exact all-pairs over a
    bounded slice — the exactness oracle), this entry runs the whole table
    through the scale path: the quadratic step is confined to cells, so
    pair fan-out is Σ|cell|²/2 instead of N²/2 — with k ∝ N cells (k=√N
    typical) that is O(N) pairs at fixed cell size, the documented recall
    trade being pairs that straddle a cell boundary.  The within-cell
    pair join co-partitions on (cell, i), so each shuffle partition holds
    one cell's long-form slice; at 100 TB the same plan swaps the
    DataFrame dot-product for a per-cell numpy matmul via applyInPandas
    without touching the surrounding pipeline.  Distances and cosines are
    rounded before compare for cross-engine argmin/threshold stability;
    the DuckDB twin composes the identical CTEs plus the recursive-CTE
    closure.

    The within-cell dot products run as a PER-CELL numpy kernel
    (operators/semantic.py, `groupBy(cell).applyInPandas`) — the swap this
    docstring always promised for scale.  The r5 self-join on ``cell`` had
    8 distinct join keys (parallelism collapse) and evaluated one
    interpreted zip_with/aggregate fold per candidate pair (~25M × 64 dims
    at the sf1.0 bench: 134 s in BENCH_r05).  The kernel accumulates the
    same products in the same sequential dimension order in float64, so
    every dot is BIT-identical to the JVM fold; it emits a margin-superset
    of candidates and the original JVM predicate
    ``round(dot / (na·nb), 6) >= τ`` — unchanged — decides each pair, so
    the output is identical by construction (see operators/semantic.py)."""
    from logtemplatecrawler_spark.operators.components import (
        connected_components,
    )
    from logtemplatecrawler_spark.operators.semantic import (
        PAIR_SCHEMA, make_cell_pair_fn,
    )

    emb = _t(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    cents = flat.groupBy((F.col("vec_id") % _SEM_CELLS).alias("k"), "i").agg(
        F.avg("x").alias("c")
    )
    assign = _assign_nearest(flat, cents, "cell")
    sq_sum = F.aggregate(
        "embedding", F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    vec = (
        emb.join(assign, "vec_id")
        .select("vec_id", "cell", "embedding", F.sqrt(sq_sum).alias("nrm"))
        .localCheckpoint()
    )
    # r6 within-cell salting (guide §2.5): with only _SEM_CELLS grouping
    # keys, groupBy(cell) caps the quadratic kernel at _SEM_CELLS tasks.
    # Each cell row is replicated to `stride` (cell, blk) groups and each
    # group computes exactly the pairs whose a-row has vec_id % stride ==
    # blk — a disjoint exact partition of the pair set, bit-identical dots
    # (see operators/semantic.py docstring).  stride is scale-adaptive:
    # ~2 groups per core locally (hash-collision headroom, guide §2.5 —
    # measured 4.4 s → 2.6 s at stride 4, → 2.3 s at stride 8 on the
    # sf1-shaped dir), degrading to 1 (no replication) once the cell count
    # itself saturates the cluster.
    stride = max(1, 2 * spark.sparkContext.defaultParallelism // _SEM_CELLS)
    rep = vec.withColumn(
        "blk", F.explode(F.array(*[F.lit(j) for j in range(stride)]))
    )
    cand = rep.groupBy("cell", "blk").applyInPandas(
        make_cell_pair_fn(_SEM_TAU, stride=stride), PAIR_SCHEMA
    )
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    pairs = cand.where(cos >= _SEM_TAU).select("doc_a", "doc_b")
    labels, _ = connected_components(emb.select("vec_id"), pairs,
                                     id_col="vec_id")
    return labels.withColumn(
        "is_canonical", F.col("vec_id") == F.col("cluster_id")
    )


@_q("text_repetition_stats", sql="""
    WITH words AS (
      SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS w
      FROM documents
    ), wc AS (
      SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2
    ), uni AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct_words,
             CAST(max(c) AS BIGINT) AS top_word_count
      FROM wc GROUP BY doc_id
    ), bigr AS (
      SELECT doc_id, prev, w FROM (
        SELECT doc_id, w,
               lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM words) WHERE prev IS NOT NULL
    ), bi AS (
      SELECT doc_id, count(DISTINCT (prev, w)) AS n_distinct_bigrams
      FROM bigr GROUP BY doc_id
    )
    SELECT uni.doc_id, n_tokens, n_distinct_words, top_word_count,
           bi.n_distinct_bigrams
    FROM uni JOIN bi ON bi.doc_id = uni.doc_id
""")
def text_repetition_stats(spark, sf_dir):
    """Within-document repetition statistics — the Gopher repetition-filter
    family (Rae et al., 2021: docs dominated by one token or by repeated
    n-grams are boilerplate/spam): per doc, token count, distinct-word
    count, the top word's frequency, and distinct-bigram count.  The
    downstream filter thresholds ratios of these (top_word_count/n_tokens,
    n_distinct_bigrams/(n_tokens-1)); the entry emits the exact integer
    numerators/denominators so the cross-engine hash has no float surface.

    Scale shape: two per-(doc, gram) partial-aggregated groupBys + one
    per-doc rollup joined on doc_id — no windows beyond the per-doc lag,
    no corpus-global state at all (unlike the LM scorer, this filter is
    embarrassingly doc-parallel)."""
    # r6: all four statistics are per-document integers, so they run as ONE
    # mapInPandas kernel over (doc_id, text) (operators/textstats.py) — the
    # r5 plan exploded 10M word rows, shuffled a (doc_id, w) groupBy, ran a
    # per-doc LAG WINDOW (a full sort) and a countDistinct shuffle, then
    # joined the two rollups.  Counter/set arithmetic yields the identical
    # integers, and the kernel reproduces the oracle's INNER-join gate
    # (docs with <2 tokens emit no bigram row, hence no output row).
    from logtemplatecrawler_spark.operators.textstats import (
        make_repetition_stats_fn,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        make_repetition_stats_fn(),
        "doc_id bigint, n_tokens bigint, n_distinct_words bigint,"
        " top_word_count bigint, n_distinct_bigrams bigint",
    )


@_q("curation_domain_mix_sample", sql="""
    WITH quota AS (
      SELECT CAST(min(c) AS BIGINT) AS q FROM (
        SELECT lang, count(*) AS c FROM documents GROUP BY lang)
    ), ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(text), doc_id) AS rnk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= (SELECT q FROM quota)
""")
def curation_domain_mix_sample(spark, sf_dir):
    """Data-mix rebalancing: stratified downsampling to a uniform
    per-language mix (every lang contributes exactly min-group-size docs
    — the pretraining domain-weighting step, with the uniform target as
    the deterministic special case; arbitrary target weights swap the
    quota scalar for a per-source quota table joined the same way).
    Selection ranks by content hash within each group, so the sample is
    reproducible and re-ordering the corpus never changes it.  The fixture
    corpus is lang-skewed (en ≈ 40%), so the quota genuinely cuts rows.

    Scale shape: quota = one tiny per-source aggregate broadcast as a
    scalar; ranking is a window partitioned BY GROUP (at 100 TB groups
    are domains or languages — many partitions, no global window; a skewed
    mega-group ranks inside its own partition only).  The quota here is
    dynamic (a broadcast 1-row filter after the window); a production run
    that fixes the quota as a literal additionally gets the map-side
    WindowGroupLimit cut, as `w1_politeness_queue` demonstrates."""
    docs = _t(spark, sf_dir, "documents", spread=False)
    quota = (
        docs.groupBy("lang").agg(F.count("*").alias("c"))
        .agg(F.min("c").cast("bigint").alias("q"))
    )
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rnk")
    )
    return (
        ranked.crossJoin(F.broadcast(quota))
        .where(F.col("rnk") <= F.col("q"))
        .select("doc_id", "lang", "rnk")
    )


# -- host-graph PageRank (crawl prioritization) -----------------------------
#
# Fixed-point integer PageRank: every quantity is a bigint "mass unit"
# (initial mass _PR_SCALE per host, damping 0.85 expressed as *85 div 100,
# truncating division throughout).  Integer arithmetic is associative, so
# the driver hash matches REGARDLESS of Spark/DuckDB aggregation order —
# no float sum-order hazard, no round() epsilon.  The Spark loop and the
# unrolled-CTE SQL twin are generated from the same constants below.

_PR_ITERS = 3
_PR_SCALE = 1_000_000_000
_PR_HOSTS = 60          # host id = residue mod 60
_PR_SRC_CAP = 55        # hosts 55-59 never link out -> genuine dangling mass


def _host_rank_ctes(iters: int = _PR_ITERS) -> str:
    """The PageRank recurrence as a CTE body (``e1 AS (...) ... r{iters}``)
    so composing queries can extend the chain with their own CTEs."""
    head = f"""
    e1 AS (
      SELECT event_id % {_PR_HOSTS} AS src,
             (event_id * 7 + 3) % {_PR_HOSTS} AS dst
      FROM events
    ), e2 AS (
      SELECT event_id % {_PR_HOSTS} AS src,
             (event_id * 13 + 5) % {_PR_HOSTS} AS dst
      FROM events WHERE event_id % 3 = 0
    ), edges AS (
      SELECT DISTINCT src, dst
      FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
      WHERE src < {_PR_SRC_CAP} AND src <> dst
    ), nodes AS (
      SELECT DISTINCT src AS host FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ), outdeg AS (
      SELECT src, count(*) AS deg FROM edges GROUP BY src
    ), nn AS (SELECT count(*) AS n FROM nodes
    ), r0 AS (SELECT host, CAST({_PR_SCALE} AS BIGINT) AS pr FROM nodes)"""
    steps = []
    for t in range(iters):
        steps.append(f"""
    , d{t} AS (
      SELECT coalesce(sum(r.pr), 0) AS dang
      FROM r{t} r LEFT JOIN outdeg o ON r.host = o.src WHERE o.src IS NULL
    ), c{t} AS (
      SELECT r.host AS src, r.pr // o.deg AS contrib
      FROM r{t} r JOIN outdeg o ON r.host = o.src
    ), i{t} AS (
      SELECT e.dst AS host, sum(c.contrib) AS inc
      FROM edges e JOIN c{t} c ON e.src = c.src GROUP BY e.dst
    ), r{t + 1} AS (
      SELECT n.host,
             CAST(((15 * ((SELECT n FROM nn) * {_PR_SCALE})) // 100)
                    // (SELECT n FROM nn)
                  + (85 * (coalesce(i.inc, 0)
                           + (SELECT dang FROM d{t}) // (SELECT n FROM nn)))
                    // 100 AS BIGINT) AS pr
      FROM nodes n LEFT JOIN i{t} i ON n.host = i.host
    )""")
    return head + "".join(steps)


def _host_rank_sql(iters: int = _PR_ITERS) -> str:
    return f"""
    WITH {_host_rank_ctes(iters)}
    SELECT host, pr FROM r{iters}"""


def _host_rank_edges(spark, sf_dir):
    """Deterministic host-link graph from ``events``: two modular edge
    families, self-loops dropped, hosts >= _PR_SRC_CAP never source (so
    the dangling-mass term is exercised)."""
    ev = _t(spark, sf_dir, "events", spread=False).select("event_id")
    src = (F.col("event_id") % _PR_HOSTS).alias("src")
    e1 = ev.select(src, ((F.col("event_id") * 7 + 3) % _PR_HOSTS).alias("dst"))
    e2 = ev.where(F.col("event_id") % 3 == 0).select(
        src, ((F.col("event_id") * 13 + 5) % _PR_HOSTS).alias("dst")
    )
    return (
        e1.unionByName(e2)
        .where((F.col("src") < _PR_SRC_CAP) & (F.col("src") != F.col("dst")))
        .distinct()
    )


@_q("crawl_host_rank", sql=_host_rank_sql())
def crawl_host_rank(spark, sf_dir):
    """Host-graph PageRank for crawl prioritization — the classic
    frontier-ordering signal (which hosts deserve budget next round) the
    reference's FIFO repo queue has no counterpart for at web scale.
    Power iteration in plain DataFrame ops: per round, contributions =
    rank div outdeg (broadcast host-side tables onto the edge table),
    one groupBy(dst) shuffle to sum incoming mass, dangling mass
    redistributed uniformly, damping 0.85 as integer *85 div 100.

    Exactness: all mass is bigint fixed-point (_PR_SCALE units/host,
    truncating division) — integer addition is order-independent, so the
    driver hash is stable with no float rounding.  The DuckDB twin is the
    same _PR_ITERS-step recurrence unrolled into CTEs by
    ``_host_rank_sql`` from the same constants.

    Scale shape: the edge table is the 100 TB side; ranks/outdeg are
    |hosts|-sized (millions at web scale) and are BROADCAST onto edges —
    the only shuffle per iteration is the groupBy(dst) partial-aggregated
    mass sum.  Graph tables are localCheckpointed once (reused every
    iteration, lineage cut); iteration count is a fixed cap, matching the
    production pattern (ranks converge geometrically; schedulers use few
    iterations over fresh snapshots rather than exact fixpoints)."""
    edges = _host_rank_edges(spark, sf_dir).localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    nn = nodes.agg(F.count("*").alias("n"))
    ranks = nodes.select("host", F.lit(_PR_SCALE).cast("bigint").alias("pr"))
    for _it in range(_PR_ITERS):
        rd = ranks.join(
            F.broadcast(outdeg), ranks["host"] == outdeg["src"], "left"
        ).select("host", "pr", "deg")
        dang = rd.where(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("pr"), F.lit(0)).cast("bigint").alias("dang")
        )
        contrib = rd.where(F.col("deg").isNotNull()).select(
            F.col("host").alias("src"), F.expr("pr div deg").alias("contrib")
        )
        inc = (
            edges.join(F.broadcast(contrib), "src")
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inc"))
        )
        ranks = (
            nodes.join(F.broadcast(inc), nodes["host"] == inc["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(nn))
            .select(
                "host",
                (
                    F.expr(f"((15 * (n * {_PR_SCALE})) div 100) div n")
                    + F.expr(
                        "(85 * (coalesce(inc, 0) + dang div n)) div 100"
                    )
                ).cast("bigint").alias("pr"),
            )
        )
        # r6: eager per-iteration checkpoint of the |hosts|-row rank
        # table.  Without it the plan EMBEDS the previous iteration
        # twice (via dang and inc), growing ~3^iters — the static plan
        # printed 84 BroadcastExchange nodes at 3 iterations and
        # Catalyst planning itself became a cost.  Checkpointing 60
        # bigint rows per round is trivially cheap, keeps the plan
        # constant-depth, and changes no integer (1.37 → 1.19 s
        # interleaved min-of-3 at the sf1-shaped dir; the composed
        # crawl_pop_by_host_rank inherits the win).  The LAST iteration
        # stays un-checkpointed so the returned frame's plan still shows
        # the per-iteration broadcast-join shape (plan-shape test).
        if _it < _PR_ITERS - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("host", "pr")


_BFS_ROUNDS = 4


def _host_bfs_sql(rounds: int = _BFS_ROUNDS) -> str:
    head = f"""
    WITH e1 AS (
      SELECT event_id % {_PR_HOSTS} AS src,
             (event_id * 7 + 3) % {_PR_HOSTS} AS dst
      FROM events
    ), e2 AS (
      SELECT event_id % {_PR_HOSTS} AS src,
             (event_id * 13 + 5) % {_PR_HOSTS} AS dst
      FROM events WHERE event_id % 3 = 0
    ), edges AS (
      SELECT DISTINCT src, dst
      FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
      WHERE src < {_PR_SRC_CAP} AND src <> dst
    ), nodes AS (
      SELECT DISTINCT src AS host FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ), s0 AS (
      SELECT host, CAST(0 AS BIGINT) AS depth FROM nodes WHERE host % 10 = 0
    )"""
    steps = []
    for t in range(rounds):
        steps.append(f"""
    , s{t + 1} AS (
      SELECT host, min(depth) AS depth FROM (
        SELECT host, depth FROM s{t}
        UNION ALL
        SELECT e.dst AS host, s.depth + 1 AS depth
        FROM edges e JOIN s{t} s ON e.src = s.host
      ) GROUP BY host
    )""")
    return head + "".join(steps) + f"""
    SELECT host, depth FROM s{rounds}"""


@_q("crawl_bfs_depth", sql=_host_bfs_sql())
def crawl_bfs_depth(spark, sf_dir):
    """Multi-source BFS crawl-depth labeling over the host graph — the
    "how many hops from a seed is this host" signal behind max-depth
    crawl policies (the reference walks one repo tree at a time,
    crawler.py's recursive descent; at web scale depth is a join-iterated
    label).  Seeds = hosts with host % 10 = 0, depth 0.

    Spark side is DELTA-FRONTIER BFS: each round joins only the
    newly-reached frontier against the edge table, anti-joins the
    visited set, and unions the new (host, depth=t+1) labels — work per
    round is O(|frontier edges|), the textbook distributed BFS.  The
    DuckDB twin is plain min-relaxation unrolled _BFS_ROUNDS times; the
    two are equivalent because BFS discovers exactly the min-depth
    labels and relaxation converges on them round-for-round.  Depths are
    bigints — exact, hash-safe.

    Scale shape: the edge table is the big side (joined on src, one
    shuffle per round); frontier/visited are |hosts|-sized and broadcast
    here (at true web scale the anti-join shuffles — both sides keyed on
    host, AQE picks the strategy).  Frontier is localCheckpointed per
    round: constant-depth plan, no lineage blowup."""
    edges = _host_rank_edges(spark, sf_dir).localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    seeds = nodes.where(F.col("host") % 10 == 0).select(
        "host", F.lit(0).cast("bigint").alias("depth")
    )
    visited = seeds.localCheckpoint()
    frontier = visited
    for t in range(_BFS_ROUNDS):
        new = (
            edges.join(F.broadcast(frontier), edges["src"] == frontier["host"])
            .select(
                F.col("dst").alias("host"),
                (F.col("depth") + 1).cast("bigint").alias("depth"),
            )
            .groupBy("host")
            .agg(F.min("depth").alias("depth"))
            .join(visited.select("host"), "host", "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionByName(new).localCheckpoint()
        frontier = new
    return visited.select("host", "depth")


_POP_TOP_HOSTS = 20
_POP_BUDGET = 2


@_q("crawl_pop_by_host_rank", sql=f"""
    WITH {_host_rank_ctes()}
    , top_hosts AS (
      SELECT host, pr FROM r{_PR_ITERS}
      ORDER BY pr DESC, host ASC LIMIT {_POP_TOP_HOSTS}
    ), pend AS (
      SELECT t.host, t.pr AS priority,
             'https://h' || CAST(t.host AS VARCHAR) || '.example.org/p/'
               || CAST(e.event_id AS VARCHAR) AS url
      FROM events e JOIN top_hosts t ON e.event_id % {_PR_HOSTS} = t.host
    ), ranked AS (
      SELECT host, url, priority,
             row_number() OVER (PARTITION BY host
                                ORDER BY priority DESC, url ASC) AS rn
      FROM pend
    )
    SELECT host, url, priority FROM ranked WHERE rn <= {_POP_BUDGET}
""")
def crawl_pop_by_host_rank(spark, sf_dir):
    """Composition: crawl budget routed to the highest-AUTHORITY hosts —
    `crawl_host_rank`'s fixed-point PageRank picks the top
    _POP_TOP_HOSTS hosts (TakeOrderedAndProject, no global window), the
    pending URL set joins them (broadcast — the selected-host table is
    top-k-sized by construction), and the ENGINE's salted two-phase
    `pop_per_host` (crawl/politeness.py) takes _POP_BUDGET urls per
    host with the bigint rank as priority.  This is the authority-first
    scheduler policy (OPIC/PageRank-ordered crawling) end-to-end:
    iterative rank → host selection → politeness-bounded pop, all
    driver-hashed; ranks stay exact integers so the composed hash has
    no float hazard.  The DuckDB twin extends the shared PageRank CTE
    chain (`_host_rank_ctes` — same constants) with the top-k and the
    single global window the salted pop must equal."""
    from logtemplatecrawler_spark.crawl.politeness import pop_per_host

    ranks = crawl_host_rank(spark, sf_dir)
    top = ranks.orderBy(F.col("pr").desc(), F.col("host").asc()).limit(
        _POP_TOP_HOSTS
    )
    ev = _t(spark, sf_dir, "events").select("event_id")
    cand = ev.select(
        (F.col("event_id") % _PR_HOSTS).alias("host"), "event_id"
    )
    pend = (
        cand.join(F.broadcast(top), "host")
        .select(
            "host",
            F.concat(
                F.lit("https://h"), F.col("host").cast("string"),
                F.lit(".example.org/p/"), F.col("event_id").cast("string"),
            ).alias("url"),
            F.col("pr").alias("priority"),
        )
        .withColumn("salt", F.pmod(F.crc32(F.col("url")), F.lit(8)).cast("int"))
    )
    return pop_per_host(pend, budget=_POP_BUDGET, salted=True).select(
        "host", "url", "priority"
    )


def registry():
    return dict(QUERIES), dict(ORACLES)

"""The crawl round loop: pop → fetch → pipeline → discover → commit.

Each round is one deterministic micro-batch (SURVEY §2.9: the reference is
cron-batch, not streaming, so the engine is batch-iterative by design):

  1. pending = the committed pending VIEW (pending-only sidecar snapshot +
     later deltas — never a scan of the mostly-done full frontier, r5),
     robots-gated (blocked rows are retired permanently, mirroring the
     reference's discarded_repositories split F1);
  2. pop ≤ host_budget URLs per host via the salted windowed priority queue
     (W1/W2; ≡ the reference's LIMIT-k lease O4);
  3. "fetch" = left join against the pages table on canonical url (S3/S4 —
     the sandboxed stand-in for a real fetcher; missing pages → 'missing');
  4. size gate: pages ≤ min_page_bytes are retired 'too_small' (F3,
     heuristicwalk.py:29);
  5. the template pipeline runs on fetched pages (templates delta appended);
  6. link discovery: outlink URLs harvested natively from page text,
     canonicalized, deduped, bloom+anti-joined against the frontier (J3),
     admitted as new pending rows (depth+1);
  7. state transitions + the new rows become the next frontier state;
  8. checkpoint: the frontier DELTA (only rows touched this round:
     popped/blocked transitions + new admissions), the templates delta, the
     negative-cache key delta, and metrics.json are written, then
     MANIFEST.json last — a round without a MANIFEST never happened (atomic
     commit), so a killed job resumes exactly at the last complete round.

Delta commits (VERDICT r02 items 1-2 — the last 100×-scale killer): the
per-round durable write volume is O(|touched rows|), NOT O(|frontier|).
The reference's analog is a row-level UPDATE
(/root/reference/dags/log2vec_process-repository.py:76-79 flips one
``locked`` flag per work lease).  Layout:

* ``<ckpt>/frontier_deltas/round=NNNN/`` — rows whose state changed in
  round NNNN (full row, ``updated_round`` = NNNN);
* ``<ckpt>/round=NNNN/frontier`` — a COMPACTED full snapshot, written only
  at round 0 and every ``compact_every`` rounds, bounding reconstruction
  to ≤ compact_every delta partitions;
* ``load_frontier(rnd)`` reconstructs: latest compacted snapshot ≤ rnd,
  plus the delta partitions after it (ONE partition-pruned read path),
  keep-latest per url by ``updated_round`` — exactly Iceberg's
  MERGE-on-read, expressed over plain parquet.

Cross-round negative cache: each round commits only its DELTA keys under
``<ckpt>/neg_keys/round=NNNN``; an inline roll-up every ``compact_every``
rounds folds them into a snapshot, so a round's read is ONE
partition-pruned scan of ≤ compact_every delta partitions + 1 snapshot —
cumulative-snapshot rewrites (r02) were O(R·keys) bytes written over the
crawl; per-round delta reads (r01) were O(R²) file-opens.  Writes are
O(touched keys) per round (plus one slim snapshot per compact_every
rounds); reads are O(compact_every) partitions per round.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logtemplatecrawler_spark.crawl import frontier as FR
from logtemplatecrawler_spark.crawl.politeness import pop_per_host
from logtemplatecrawler_spark.crawl.robots import (
    broadcast_fits,
    robots_prefixes,
    with_robots_blocked,
)
from logtemplatecrawler_spark.crawl.seen import (
    BroadcastBloom,
    add_to_bloom,
    bloom_capacity_exceeded,
    build_bloom,
    filter_unseen,
)
from logtemplatecrawler_spark.plans.template_pipeline import extract_templates
from logtemplatecrawler_spark.sources.table_format import ParquetManifestFormat

# Native outlink harvest — must stay identical to the oracle simulator's
# Python regex (tests/test_crawl.py).
OUTLINK_RE = "https?://[^\\s\"'<>)*]+"


@dataclass
class CrawlConfig:
    checkpoint_dir: str
    host_budget: int = 2
    n_salts: int = 8
    max_rounds: int = 100
    min_page_bytes: int = 255
    discover_links: bool = True
    discovered_priority: int = 0
    use_bloom: bool = True
    # Below this frontier size the bloom build (2 Spark jobs/round) costs
    # more than the anti-join it prunes; the exact join decides either way.
    bloom_min_keys: int = 4096
    # EP1 fidelity: admit seeds in pages of this size per round (the
    # reference's paged GraphQL search + cursor checkpoint, S1/S9/A3);
    # None = admit the whole seed list at round 0.
    seeds_per_round: Optional[int] = None
    # Write a compacted full frontier snapshot every N rounds (round 0
    # always compacts); between compactions the frontier is reconstructed
    # from ≤ N delta partitions, so reads stay bounded while durable writes
    # stay O(|touched rows|) per round.
    compact_every: int = 16
    extra_confs: Dict[str, str] = field(default_factory=dict)
    # Checkpoint storage backend — any object with the table-format seam's
    # methods: ParquetManifestFormat (default), BucketedParquetFormat (opt-in
    # url-bucketed frontier snapshots for very large frontiers), or an ACID
    # format adapter in production; swapping it is this constructor argument.
    table_format: object = field(default_factory=ParquetManifestFormat)

    def __post_init__(self) -> None:
        # ADVICE r03: compact_every=0 would ZeroDivisionError at the first
        # round's `rnd % compact_every`; fail at construction instead.
        if self.compact_every < 1:
            raise ValueError(
                f"compact_every must be >= 1, got {self.compact_every}"
            )
        if self.host_budget < 1:
            raise ValueError(f"host_budget must be >= 1, got {self.host_budget}")
        if self.n_salts < 1:
            raise ValueError(f"n_salts must be >= 1, got {self.n_salts}")


def _round_dir(cfg: CrawlConfig, rnd: int) -> str:
    return os.path.join(cfg.checkpoint_dir, f"round={rnd:04d}")


def last_complete_round(cfg: CrawlConfig) -> Optional[int]:
    """Highest round with a commit marker, or None."""
    if not os.path.isdir(cfg.checkpoint_dir):
        return None
    rounds = []
    for name in os.listdir(cfg.checkpoint_dir):
        if name.startswith("round=") and cfg.table_format.is_committed(
            os.path.join(cfg.checkpoint_dir, name)
        ):
            rounds.append(int(name.split("=")[1]))
    return max(rounds) if rounds else None


def _frontier_delta_dir(cfg: CrawlConfig) -> str:
    return os.path.join(cfg.checkpoint_dir, "frontier_deltas")


def _neg_dir(cfg: CrawlConfig) -> str:
    return os.path.join(cfg.checkpoint_dir, "neg_keys")


def _latest_snapshot_round(cfg: CrawlConfig, rnd: int,
                           path_fn) -> Optional[int]:
    """Highest round ``b ≤ rnd`` whose ``path_fn(cfg, b)`` snapshot is
    complete.  Walks backward; the frontier search terminates within
    ``compact_every`` steps (the loop compacts on that cadence), the neg
    search is called once per crawl (cached by the loop), not per round."""
    fmt = cfg.table_format
    for b in range(rnd, -1, -1):
        if fmt.snapshot_exists(path_fn(cfg, b)):
            return b
    return None


def _frontier_snap_path(cfg: CrawlConfig, rnd: int) -> str:
    return os.path.join(_round_dir(cfg, rnd), "frontier")


def _pending_snap_path(cfg: CrawlConfig, rnd: int) -> str:
    return os.path.join(_round_dir(cfg, rnd), "frontier_pending")


def merge_on_read(base: DataFrame, deltas: DataFrame) -> DataFrame:
    """Keep-latest-per-url merge of a compacted base snapshot with LATER
    delta rows (every delta round > the base's round, so any delta row
    supersedes its base row).

    Shape matters at the 10^10-row design point (VERDICT r03 item 1): the
    r3 formulation — ``base ∪ deltas`` then a ``Window.partitionBy(url)``
    keep-latest — hash-exchanged the FULL frontier every round.  This one
    never shuffles the base:

    1. ``latest`` = keep-latest per url *within the deltas only* (a window
       over O(compact_every × touched) rows — the small side);
    2. ``base LEFT ANTI JOIN latest ON url`` — rows not superseded.  Over a
       bucketed-by-url snapshot (BucketedParquetFormat) this compiles with
       NO exchange on the base side (machine-checked by
       tests/test_scale_plans.py::test_mor_reconstruction_base_side_no_exchange);
       with AQE the small delta side becomes a broadcast anti-join;
    3. union with ``latest`` — exactly Iceberg's MERGE-on-read file-local
       merge, expressed relationally.

    Equivalence with the window formulation is driver-hashed
    (plans/harness.py::crawl_frontier_mor oracles the ``row_number() OVER
    (PARTITION BY url ORDER BY updated_round DESC)`` twin in DuckDB) and
    pinned by the crawl oracle/resume tests.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(F.col("updated_round").desc())
    latest = (
        deltas.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    survivors = base.join(latest.select("url"), "url", "left_anti")
    return survivors.unionByName(latest)


def load_frontier(spark: SparkSession, cfg: CrawlConfig, rnd: int) -> DataFrame:
    """Frontier state as of committed round ``rnd``: latest compacted
    snapshot ≤ rnd merged with the delta partitions after it (keep-latest
    per url by ``updated_round`` — MERGE-on-read, see :func:`merge_on_read`).
    Rows are touched at most once per round and compaction rounds write no
    delta, so the max ``updated_round`` per url is unique."""
    fmt = cfg.table_format
    base_round = _latest_snapshot_round(cfg, rnd, _frontier_snap_path)
    if base_round is None:
        raise FileNotFoundError(
            f"no compacted frontier snapshot ≤ round {rnd} under {cfg.checkpoint_dir}"
        )
    base = fmt.read_snapshot(spark, _frontier_snap_path(cfg, base_round))
    if base_round == rnd:
        return base
    deltas = fmt.read_deltas(
        spark, _frontier_delta_dir(cfg), max_round=rnd,
        min_round_exclusive=base_round,
    )
    if deltas is None:
        return base
    return merge_on_read(base, deltas)


def write_frontier_snapshots(spark: SparkSession, cfg: CrawlConfig,
                             frontier_next: DataFrame, rnd: int) -> None:
    """Write a compacted full frontier snapshot AND its pending-only
    sidecar (VERDICT r04 item 1: snapshots secondarily organized by state).

    The sidecar holds exactly the ``state == 'pending'`` slice — the small,
    hot subset every round's pop actually needs — so the per-round pending
    read (:func:`load_frontier_pending`) never scans the 10^10 mostly-done
    main snapshot (bucketed-by-url files cannot row-group-skip on
    ``state``).  Write order is main-then-sidecar: a crash between the two
    leaves a complete main snapshot whose missing sidecar makes the reader
    fall back to the full-scan filter (never wrong, just unpruned).  The
    sidecar is sourced from a read-back of the just-written main snapshot —
    one extra scan of data already local, instead of recomputing the
    MERGE-on-read a second time (r6 note: a bounded persist of
    ``frontier_next`` across the two writes was measured SLOWER than this
    read-back at the 1M-row bench scale — cache population cost exceeds a
    local parquet scan — so the read-back stays).  Under
    ``BucketedParquetFormat`` the sidecar is frontier-shaped, so it is
    itself bucketed by url and the pending view's MERGE-on-read stays
    exchange-free on its base side."""
    fmt = cfg.table_format
    snap = _frontier_snap_path(cfg, rnd)
    fmt.write_snapshot(frontier_next, snap)
    pending_only = fmt.read_snapshot(spark, snap).where(
        F.col("state") == FR.STATE_PENDING
    )
    fmt.write_snapshot(pending_only, _pending_snap_path(cfg, rnd))


def load_frontier_pending(spark: SparkSession, cfg: CrawlConfig,
                          rnd: int) -> DataFrame:
    """The ``state == 'pending'`` slice of the committed frontier as of
    round ``rnd`` WITHOUT reading the full snapshot (VERDICT r04 item 1).

    Reconstruction: the base compaction round's pending-only sidecar merged
    (keep-latest per url) with ALL delta rows after it, then filtered to
    pending.  Correct because state transitions only ever leave 'pending'
    (pending → done/missing/too_small/blocked are terminal) and every row
    that BECOMES pending after the base enters via a delta (new admission),
    so ``merge_on_read(sidecar, deltas) WHERE state='pending'`` is exactly
    the pending set: sidecar rows later touched are superseded by their
    non-pending delta row and filtered; admissions come in with the deltas.
    Per-round read cost: O(|pending| + |touched| · compact_every), never
    O(|frontier|).  A snapshot whose sidecar write crashed falls back to
    the full-scan filter (correct, unpruned).  Equality with the
    full-scan filter is pinned by
    tests/test_crawl.py::test_pending_view_matches_full_filter; the pruned
    file set by tests/test_scale_plans.py::test_pending_view_skips_main_snapshot."""
    fmt = cfg.table_format
    base_round = _latest_snapshot_round(cfg, rnd, _frontier_snap_path)
    if base_round is None:
        raise FileNotFoundError(
            f"no compacted frontier snapshot ≤ round {rnd} under {cfg.checkpoint_dir}"
        )
    sidecar = _pending_snap_path(cfg, base_round)
    if not fmt.snapshot_exists(sidecar):
        return load_frontier(spark, cfg, rnd).where(
            F.col("state") == FR.STATE_PENDING
        )
    base = fmt.read_snapshot(spark, sidecar)
    if base_round == rnd:
        return base
    deltas = fmt.read_deltas(
        spark, _frontier_delta_dir(cfg), max_round=rnd,
        min_round_exclusive=base_round,
    )
    if deltas is None:
        return base
    return merge_on_read(base, deltas).where(
        F.col("state") == FR.STATE_PENDING
    )


def _neg_snap_path(cfg: CrawlConfig, rnd: int) -> str:
    return os.path.join(_round_dir(cfg, rnd), "neg_snapshot")


_UNSET = object()


def load_neg_keys(spark: SparkSession, cfg: CrawlConfig, rnd: int,
                  snap_round=_UNSET) -> Optional[DataFrame]:
    """Cumulative committed-template keys as of round ``rnd``: the latest
    compacted neg snapshot ≤ rnd (written by ``compact_checkpoint``) plus
    the delta partitions after it, in one partition-pruned read — keys are
    append-only, so the cumulative set IS snapshot ∪ later deltas.  Without
    a snapshot it is the plain union of deltas ≤ rnd.

    ``snap_round`` lets the round loop pass the snapshot round it resolved
    ONCE at resume (compaction only runs offline, so it cannot change
    mid-crawl) instead of re-walking the round dirs every round."""
    fmt = cfg.table_format
    if snap_round is _UNSET:
        snap_round = _latest_snapshot_round(cfg, rnd, _neg_snap_path)
    deltas = fmt.read_deltas(
        spark, _neg_dir(cfg), max_round=rnd,
        min_round_exclusive=-1 if snap_round is None else snap_round,
    )
    if snap_round is None:
        return deltas
    snap = fmt.read_snapshot(spark, _neg_snap_path(cfg, snap_round))
    return snap if deltas is None else snap.unionByName(deltas)


def read_all_templates(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    """Union of all committed per-round template deltas (one-time export
    read — the per-round loop never does this; it uses the cumulative
    ``neg_keys`` snapshot).  Routed through the seam's multi-snapshot read
    (ONE multi-path call) so it works under any table format."""
    fmt = cfg.table_format
    last = last_complete_round(cfg)
    paths = [
        os.path.join(_round_dir(cfg, r), "templates")
        for r in range((-1 if last is None else last) + 1)
        if fmt.snapshot_exists(os.path.join(_round_dir(cfg, r), "templates"))
    ]
    if not paths:
        raise FileNotFoundError(f"no committed template deltas under {cfg.checkpoint_dir}")
    return fmt.read_snapshots(spark, paths)


def _load_neg_cache(spark: SparkSession, cfg: CrawlConfig,
                    resumed: Optional[int]) -> Optional[DataFrame]:
    """Cumulative committed-template keys as of the resumed round (None on a
    fresh crawl).  Every round writes its key delta before its commit
    marker, so a committed checkpoint without keys is damaged: resuming
    from it would re-admit templates earlier rounds already committed."""
    if resumed is None:
        return None
    neg = load_neg_keys(spark, cfg, resumed)
    if neg is None:
        raise FileNotFoundError(
            f"round {resumed} is committed under {cfg.checkpoint_dir} but no "
            "negative-cache keys are (neg_keys/ deltas or a neg_snapshot); "
            "refusing to resume without them"
        )
    return neg


def with_seed_rank(spark: SparkSession, all_seeds: DataFrame):
    """Add the global ``_seed_rank`` (1-based, ordered by priority desc then
    url asc — the reference's search-ranking cursor, S1/A3) WITHOUT a
    single-task global window (VERDICT r03 item 2).

    Two-phase distributed rank:

    1. range-partition + sort by the rank order — every partition holds a
       contiguous, internally-sorted slice of the global order;
    2. ``monotonically_increasing_id`` (partition-prefixed, increasing in
       row order) gives the position within each slice; ONE tiny stats job
       (``count``/``min(id)`` per partition — ≤ P rows collected) yields
       each slice's global offset, and
       ``rank = offset[pid] + (id - min_id[pid]) + 1`` via a broadcast
       map literal.

    The rank is independent of where the range boundaries fall (offsets
    absorb them), so the result is deterministic; the returned DataFrame is
    persisted (MEMORY_AND_DISK) because the ids must be computed once —
    the caller owns the unpersist.  Returns ``(ranked_df, total_rows)``.
    Plan shape (no Exchange SinglePartition, no Window) is pinned by
    tests/test_scale_plans.py::test_seed_rank_has_no_single_partition_stage;
    equality with the global-window formulation by
    tests/test_crawl.py::test_seed_rank_matches_global_window.
    """
    n_parts = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    order = [F.col("priority").desc(), F.col("url").asc()]
    part = (
        all_seeds.repartitionByRange(n_parts, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist()
    )
    stats = part.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("n"), F.min("_mid").alias("mn")
    ).collect()
    stats.sort(key=lambda r: r["_pid"])
    rank_base: Dict[int, int] = {}
    offset = 0
    for r in stats:
        rank_base[r["_pid"]] = offset + 1 - r["mn"]
        offset += r["n"]
    base_expr = (
        F.create_map(*[F.lit(x) for kv in rank_base.items() for x in kv])
        if rank_base else F.create_map()
    )
    # bigint, not int: past ~2.1B seeds an int32 rank silently wraps
    # negative and breaks the seed-page cursor slicing — the whole point of
    # the distributed rank is warehouse-scale seed lists (ADVICE r04).
    ranked = part.withColumn(
        "_seed_rank", (base_expr[F.col("_pid")] + F.col("_mid")).cast("bigint")
    ).drop("_pid", "_mid")
    # `ranked` is a cheap projection over the PERSISTED `part`; the caller
    # unpersists `part` (third element) when the crawl ends.
    return ranked, offset, part


MAX_BROADCAST_BATCH_KEYS = 2_000_000  # ~120 MB of short strings hashed


def anti_join_committed(templates: DataFrame, neg: DataFrame,
                        n_batch: Optional[int] = None,
                        max_broadcast_keys: int = MAX_BROADCAST_BATCH_KEYS,
                        ) -> DataFrame:
    """Drop batch rows whose ``template`` OR ``parsed_template`` was already
    committed (the reference's two INDEPENDENT unique constraints,
    postgres_db.sql:236-261, checked per-row at
    dags/log2vec_process-repository.py:297-317), with the join inverted so
    the cumulative key set never shuffles:

      conflicts(k) = neg ⋉ broadcast(batch keys)   -- big side streams, no
                                                   -- exchange, no distinct
      batch        = batch ▷ broadcast(conflicts)  -- tiny right side

    Equivalent to ``batch ▷ neg`` on each key (x ∈ batch survives iff no
    neg row matches it — the semi-join keeps exactly the matching neg rows),
    but the per-round cost is one parallel scan of two narrow columns
    instead of a full shuffle + hash-distinct of O(|all templates ever|).

    Like the robots gate (robots.py::broadcast_fits), the broadcast
    decision must be BOUNDED: a round over millions of hosts can extract
    more template keys than a driver/executor can hold in a hashed
    relation.  When the caller-supplied batch size exceeds
    ``max_broadcast_keys``, fall back to the direct shuffled anti-join —
    correct at any size, and at that batch scale the big-side shuffle is
    amortized over a proportionally large round."""
    if n_batch is not None and n_batch > max_broadcast_keys:
        for key in ("template", "parsed_template"):
            templates = templates.join(
                neg.select(key).distinct(), key, "left_anti"
            )
        return templates
    # Both conflict sets derive from the INCOMING batch (the two checks are
    # conjunctive filters, so order/base don't matter) — deriving the second
    # key set from the once-filtered batch would duplicate the first join's
    # subtree into the second distinct's lineage for nothing.
    conflict_sets = [
        (
            key,
            neg.select(key).join(
                F.broadcast(templates.select(key).distinct()), key, "left_semi"
            ),
        )
        for key in ("template", "parsed_template")
    ]
    for key, conflicts in conflict_sets:
        templates = templates.join(F.broadcast(conflicts), key, "left_anti")
    return templates


def classify_fetch(popped: DataFrame, pages_kv: DataFrame,
                   min_page_bytes: int) -> DataFrame:
    """The "fetch" (S3/S4: blob fetch ≡ left join onto the pages table —
    calls.py:170-202's per-oid GraphQL blob fetch, batched like the shallow
    clone crawler.py:63-72) plus the size gate (F3, heuristicwalk.py:29:
    blobs ≤255 bytes are dropped): each popped URL is classified
    ``missing`` (no page row — isBinary/404 analog), ``too_small``
    (octet_length(html) ≤ min_page_bytes), or ``done``.  The popped rows'
    full frontier columns ride through, so the round delta is a projection
    of this frame — no join-back."""
    fetched = popped.join(pages_kv, "url", "left")
    return fetched.withColumn(
        "fetch_state",
        F.when(F.col("text").isNull(), F.lit(FR.STATE_MISSING))
        .when(F.octet_length("html") <= min_page_bytes, F.lit(FR.STATE_TOO_SMALL))
        .otherwise(F.lit(FR.STATE_DONE)),
    )


def discover_outlinks(fetched_pages: DataFrame) -> DataFrame:
    """Harvest + canonicalize outlink URLs from fetched page text (S2 analog:
    the pages table self-describes its edges; explode replaces tree walks)."""
    links = fetched_pages.select(
        F.explode(F.regexp_extract_all("text", F.lit(OUTLINK_RE), 0)).alias("url")
    )
    return links.select(FR.canonicalize_url(F.col("url")).alias("url")).distinct()


def compact_checkpoint(spark: SparkSession, cfg: CrawlConfig) -> Dict:
    """Offline checkpoint maintenance (Iceberg's ``rewrite_data_files`` +
    ``expire_snapshots`` analog): fold every committed frontier delta — and
    every negative-cache key delta — into compacted snapshots at the last
    complete round, prune the folded delta partitions, and expire
    superseded snapshots below that round (resume always starts from the
    LAST complete round; earlier-round time travel is traded for disk,
    exactly Iceberg ``expire_snapshots`` semantics).  Run between crawls
    (or from a maintenance cron) to bound checkpoint size over a long
    crawl — the inline loop compacts every ``compact_every`` rounds but
    never deletes superseded deltas or snapshots.

    Crash-safe: the snapshot is written BEFORE any delta is pruned, and
    ``snapshot_exists`` only trusts complete snapshots (the parquet
    ``_SUCCESS`` marker), so a rerun after a crash at any
    point either rewrites the snapshot or skips straight to pruning —
    never reads partial data (the frontier reconstruction skips incomplete
    snapshots for the same reason).  Deltas ABOVE the last complete round
    (a crashed in-flight round) are left untouched; its rerun overwrites
    its own partition.
    """
    last = last_complete_round(cfg)
    if last is None:
        raise FileNotFoundError(f"no committed round under {cfg.checkpoint_dir}")
    fmt = cfg.table_format
    snap_path = _frontier_snap_path(cfg, last)
    wrote = False
    # Bucket-count lifecycle (VERDICT r04 nit 4): offline compaction is the
    # single-writer window where the snapshot can be REWRITTEN at a larger
    # bucket count once the frontier outgrows rows_per_bucket — the same
    # amortized-doubling policy as the URL-seen bloom.  The frontier is
    # localCheckpointed first because the rewrite overwrites the very
    # files its own plan reads.
    resized_to = None
    if hasattr(fmt, "target_buckets"):
        frontier_now = load_frontier(spark, cfg, last)
        target = fmt.target_buckets(frontier_now.count())
        if target != fmt.n_buckets:
            fmt.n_buckets = target
            resized_to = target
            write_frontier_snapshots(
                spark, cfg, frontier_now.localCheckpoint(), last
            )
            wrote = True
    if not wrote and not fmt.snapshot_exists(snap_path):
        write_frontier_snapshots(spark, cfg, load_frontier(spark, cfg, last), last)
        wrote = True
    elif not fmt.snapshot_exists(_pending_snap_path(cfg, last)):
        # snapshot exists but its pending sidecar doesn't (crash between the
        # two writes): backfill it so the per-round pending read prunes from
        # here on.
        fmt.write_snapshot(
            fmt.read_snapshot(spark, snap_path).where(
                F.col("state") == FR.STATE_PENDING
            ),
            _pending_snap_path(cfg, last),
        )
    pruned = fmt.prune_deltas(_frontier_delta_dir(cfg), last)

    # Same treatment for the negative-cache keys: fold deltas ≤ last into a
    # snapshot at round `last` (read sources are the older snapshot + delta
    # dirs — never the write target, so the fold is crash-safe too), then
    # prune the folded partitions.  Keeps the delta dir's partition count
    # O(rounds since last compaction) instead of O(all rounds).
    wrote_neg = False
    neg_pruned = 0
    snap_round = _latest_snapshot_round(cfg, last, _neg_snap_path)
    if fmt.deltas_exist(_neg_dir(cfg)) or snap_round is not None:
        # branch entry guarantees load_neg_keys is non-None; snap_round ==
        # last means a complete snapshot is already in place (skip-if-exists)
        if snap_round != last:
            fmt.write_snapshot(
                load_neg_keys(spark, cfg, last, snap_round=snap_round),
                _neg_snap_path(cfg, last),
            )
            wrote_neg = True
        neg_pruned = fmt.prune_deltas(_neg_dir(cfg), last)

    # Expire superseded history (Iceberg expire_snapshots): snapshots below
    # the fresh compaction round are unreachable by resume (which always
    # starts from the LAST complete round) and each holds a full table copy.
    expired = 0
    for b in range(last - 1, -1, -1):
        for dead in (_frontier_snap_path(cfg, b), _pending_snap_path(cfg, b),
                     _neg_snap_path(cfg, b)):
            if fmt.snapshot_exists(dead):
                fmt.drop_snapshot(dead)
                expired += 1
    return {"round": last, "wrote_snapshot": wrote,
            "resized_buckets_to": resized_to,
            "pruned_delta_partitions": pruned,
            "wrote_neg_snapshot": wrote_neg,
            "pruned_neg_delta_partitions": neg_pruned,
            "expired_snapshots": expired}


def _read_committed_metrics(cfg: CrawlConfig, rnd: int) -> Dict:
    """metrics.json of a committed round (``commit_round`` writes it into
    the round dir before the commit marker)."""
    import json

    with open(os.path.join(_round_dir(cfg, rnd), "metrics.json")) as fh:
        return json.load(fh)


def run_crawl(spark: SparkSession, pages: DataFrame, seeds: DataFrame,
              robots: DataFrame, cfg: CrawlConfig) -> List[Dict]:
    """Run (or resume) the crawl to completion; returns per-round metrics."""
    os.makedirs(cfg.checkpoint_dir, exist_ok=True)
    all_seeds = FR.frontier_from_seeds(seeds, n_salts=cfg.n_salts)
    _n_seeds_total = 0
    _seeds_cache: Optional[DataFrame] = None
    if cfg.seeds_per_round is not None:
        # Deterministic "search ranking" order: priority desc, url asc —
        # the rank is the cursor (S1 pagination / A3 max-cursor analog),
        # computed as a distributed two-phase rank (no global window —
        # VERDICT r03 item 2); the total comes back from the same stats job.
        all_seeds, _n_seeds_total, _seeds_cache = with_seed_rank(spark, all_seeds)

    fmt = cfg.table_format
    resumed = last_complete_round(cfg)
    neg = _load_neg_cache(spark, cfg, resumed)
    # Per-round working sets (VERDICT r04 item 1 — the pop path must not
    # scan 10^10 mostly-done rows):
    # * ``pending`` — the pending VIEW (sidecar + deltas, load_frontier_pending);
    #   feeds robots gate → pop → fetch and the per-round delta construction.
    # * ``frontier`` — the full committed state; still needed by the paths
    #   that are exact over ALL urls (discovery anti-join, bloom maintenance,
    #   seed-page idempotent admission, compaction merge).
    # One persist each per round keeps the reconstructions from replaying.
    persisted_frontier: Optional[DataFrame] = None
    persisted_pending: Optional[DataFrame] = None
    # Running state counts (the committed frontier's state → row count),
    # maintained INCREMENTALLY from each round's O(|touched|) delta stats
    # instead of a full-frontier groupBy per round (VERDICT r04 item 1).
    state_counts: Optional[Dict[str, int]] = None
    if resumed is None:
        if cfg.seeds_per_round is None:
            frontier = all_seeds
        else:
            frontier = all_seeds.where(
                F.col("_seed_rank") <= cfg.seeds_per_round
            ).drop("_seed_rank")
        # fresh crawl: everything is pending; ONE count seeds the running
        # totals (paged mode reads it off the persisted rank cache)
        pending = frontier
        state_counts = {FR.STATE_PENDING: frontier.count()}
        next_round = 0
    else:
        frontier = load_frontier(spark, cfg, resumed).persist()
        persisted_frontier = frontier
        pending = load_frontier_pending(spark, cfg, resumed).persist()
        persisted_pending = pending
        state_counts = {
            k: int(v) for k, v in
            _read_committed_metrics(cfg, resumed)["frontier_states"].items()
        }
        next_round = resumed + 1
    # Compaction only runs offline, so the neg snapshot round cannot change
    # mid-crawl: resolve it ONCE here and pass it to every per-round
    # load_neg_keys (a per-round backward walk would be O(R²) dir probes).
    neg_snap_round = (
        _latest_snapshot_round(cfg, resumed, _neg_snap_path)
        if resumed is not None else None
    )

    pages_kv = pages.select(
        FR.canonicalize_url(F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )

    # Robots join strategy: ONE aggregate over the rolled-up per-host prefix
    # table decides broadcast vs shuffle for the whole crawl (the robots
    # table is a crawl-static input — re-deciding per round is a wasted
    # job).  Sized in BYTES, not rows — Spark's broadcast cap is a byte
    # limit, and hosts with thousands of long Disallow rules can exceed it
    # at small row counts (ADVICE r04).
    robots_bcast = broadcast_fits(robots_prefixes(robots))

    metrics_log: List[Dict] = []
    # Incremental URL-seen bloom (r4, scan-free r5): the driver keeps the
    # bit array across rounds and ORs in only the urls that ENTERED the
    # frontier since the last update — a full rebuild (scan + 4×-explode +
    # shuffle of the WHOLE frontier, ruinous at 10^10 rows) happens only at
    # crawl start and when the frontier outgrows the array's sizing
    # (amortized O(log n) rebuilds — the scalable-bloom policy).  A live
    # bloom is updated EVERY discovery round, so the increment is exactly
    # the previous round's delta (kept persisted one extra round as
    # ``prev_delta``) plus this round's seed page — no frontier filter
    # scan at all; re-adding overlap rows is a no-op (insert = OR).
    bloom_state = None
    prev_delta: Optional[DataFrame] = None
    frontier_size_est: Optional[int] = None
    for rnd in range(next_round, cfg.max_rounds):
        t0 = time.monotonic()
        seed_cursor = (rnd + 1) * cfg.seeds_per_round if cfg.seeds_per_round else None
        page: Optional[DataFrame] = None
        if cfg.seeds_per_round is not None and rnd > 0:
            # Admit the next seed page (cursor = rnd * page size).  Seeds
            # already present (e.g. discovered as outlinks) are skipped —
            # the same idempotent-admission anti-join as discovery (J3).
            lo, hi = rnd * cfg.seeds_per_round, (rnd + 1) * cfg.seeds_per_round
            page = all_seeds.where(
                (F.col("_seed_rank") > lo) & (F.col("_seed_rank") <= hi)
            ).drop("_seed_rank")
            page = page.join(frontier.select("url"), "url", "left_anti")
            page = page.select(
                "url", "url_hash", "host", "salt", "priority", "depth",
                "state", F.lit(rnd).alias("round_added"), F.lit(rnd).alias("updated_round"),
            )
        # Working views for the round: `pending_r` (the pending VIEW + this
        # round's seed page) drives the pop; `frontier_r` backs the paths
        # that must be exact over ALL urls.  The per-round full-frontier
        # `where(state = 'pending')` scan is gone — the pending view
        # reconstructs from the pending-only sidecar + deltas
        # (load_frontier_pending, VERDICT r04 item 1).
        pending_r = pending if page is None else pending.unionByName(page)
        frontier_r = frontier if page is None else frontier.unionByName(page)

        gated = with_robots_blocked(pending_r, robots, broadcast=robots_bcast)
        # blocked keeps FULL frontier columns: it feeds the round delta
        # directly (a url-only projection would force a join-back later)
        blocked = gated.where(F.col("robots_blocked")).drop("robots_blocked")
        eligible = gated.where(~F.col("robots_blocked")).drop("robots_blocked")

        popped = pop_per_host(eligible, cfg.host_budget, salted=True)

        # The fetch join carries the popped rows' full frontier columns
        # through, so the round's delta rows are a projection of `fetched`
        # (+ blocked + admissions) — no full-frontier transitions join.
        fetched = classify_fetch(popped, pages_kv, cfg.min_page_bytes)
        # One materialization of the (small) per-round batch: reused by the
        # pipeline, discovery, transitions, and metrics.
        fetched = fetched.persist()
        seeds_remain = (
            cfg.seeds_per_round is not None and seed_cursor is not None
            and seed_cursor < _n_seeds_total
        )

        good = fetched.where(F.col("fetch_state") == FR.STATE_DONE)
        templates = extract_templates(
            good.select("url", "warc_ts", "html", "text", "lang"), dedup=True
        )
        # Pin the Arrow extract+parse output: the inverted neg check below
        # references the batch three times (two broadcast key sets + the
        # anti base) and must not re-run the UDF pipeline per reference.
        templates_cached = templates.persist() if neg is not None else None
        if templates_cached is not None:
            templates = templates_cached
        # Cross-round dedup: the reference's negative-cache / ON CONFLICT
        # anti-joins (F11/J3, dags/log2vec_process-repository.py:297-328) —
        # a template (or parsed_template) already committed by an earlier
        # round never re-enters.  `neg` is ONE cumulative committed-keys
        # snapshot (re-reading every prior round's delta was O(R²)
        # file-opens over the crawl — VERDICT r01 item 4).  The check is
        # INVERTED so the big side never exchanges (r5): a direct
        # `templates ANTI JOIN neg` sort-merge-shuffles (and `distinct()`
        # hash-aggregates) the cumulative key set — O(|all templates ever|)
        # shuffle per round at the design point.  Instead, semi-join `neg`
        # against a BROADCAST of this round's small key set (the big table
        # streams through a BroadcastHashJoin probe — a parallel scan, zero
        # exchange), which yields the ≤|batch| actual conflicts, and
        # broadcast-anti those back onto the batch.  Plan-asserted
        # exchange-free on the neg side in tests/test_scale_plans.py.
        if neg is not None:
            # the count doubles as the persist materializer (one cheap
            # action over the cached batch) and the broadcast-size gate
            templates = anti_join_committed(
                templates, neg, n_batch=templates.count()
            )

        bloom = None
        if cfg.discover_links:
            candidates = discover_outlinks(good)
            if cfg.use_bloom:
                if bloom_state is not None and frontier_size_est is not None \
                        and bloom_capacity_exceeded(bloom_state, frontier_size_est):
                    bloom_state = None  # outgrown — full rebuild below
                if bloom_state is None:
                    bloom_state = build_bloom(frontier_r, min_keys=cfg.bloom_min_keys)
                else:
                    # O(|touched|) incremental add WITHOUT a frontier scan
                    # (r5): a live bloom was updated last round, so the
                    # urls that entered the frontier since then are exactly
                    # the previous round's delta rows (its admissions;
                    # transition rows re-add keys already present — an
                    # idempotent OR) plus this round's seed page.
                    # Bit-identical to the r4 `round_added >= covered`
                    # filter over the full frontier — at O(|touched|)
                    # collected instead of O(|frontier|) scanned per round.
                    inc = (
                        prev_delta.select("url_hash")
                        if prev_delta is not None
                        else spark.createDataFrame([], "url_hash bigint")
                    )
                    if page is not None:
                        inc = inc.unionByName(page.select("url_hash"))
                    bloom_state = add_to_bloom(bloom_state, inc)
            bloom = bloom_state
            if bloom is not None:
                # Explicit broadcast: ship the bits once per executor (not
                # per task closure) and release them after the round's only
                # bloom-consuming job (the frontier commit) runs.
                bloom = BroadcastBloom(spark.sparkContext, bloom)
            candidates = FR.with_frontier_keys(candidates, n_salts=cfg.n_salts)
            new_urls = filter_unseen(candidates, frontier_r, bloom)
            new_rows = new_urls.select(
                "url", "url_hash", "host", "salt",
                F.lit(cfg.discovered_priority).alias("priority"),
                F.lit(rnd + 1).alias("depth"),
                F.lit(FR.STATE_PENDING).alias("state"),
                F.lit(rnd).alias("round_added"),
                F.lit(rnd).alias("updated_round"),
            )
        else:
            new_rows = spark.createDataFrame([], schema=FR.FRONTIER_DDL)

        # The round's DELTA — state transitions carry lineage: updated_round
        # records when a row last changed state (per-partition history =
        # frontier snapshots × (salt, updated_round)).  Assembled DIRECTLY
        # from the round's small sets (popped + blocked + admissions +
        # unconsumed seed page): the r2-r4 formulation left-joined
        # transitions against the FULL frontier to flip O(|touched|) rows —
        # a 10^10-row scan per round at the design point (VERDICT r04
        # item 1).
        front_cols = ["url", "url_hash", "host", "salt", "priority", "depth"]
        touched = fetched.select(
            *front_cols, F.col("fetch_state").alias("state"),
            "round_added", F.lit(rnd).alias("updated_round"),
        )
        blocked_rows = blocked.select(
            *front_cols, F.lit(FR.STATE_BLOCKED).alias("state"),
            "round_added", F.lit(rnd).alias("updated_round"),
        )
        delta_rows = touched.unionByName(blocked_rows).unionByName(
            new_rows.select(*front_cols, "state", "round_added", "updated_round")
        )
        if page is not None:
            # seed-page rows not consumed this round stay pending; they
            # entered the frontier this round, so they belong to the delta
            page_rest = page.join(
                touched.select("url").unionByName(blocked_rows.select("url")),
                "url", "left_anti",
            )
            delta_rows = delta_rows.unionByName(
                page_rest.select(*front_cols, "state", "round_added",
                                 "updated_round")
            )
        # One materialization: reused by the frontier commit, the delta
        # stats, and (on compaction rounds) the snapshot merge.
        delta_rows = delta_rows.persist()

        # ONE stats job per round (r5): this groupBy over the O(|touched|)
        # delta supplies the popped/blocked counts (r4 ran two separate
        # count jobs for them), the termination check, the per-salt
        # politeness metrics, the admission count, AND the incremental
        # state-count update — the r2-r4 full-frontier metrics groupBy is
        # gone (VERDICT r04 item 1).  `prior` marks rows already in the
        # running pending count (their transition decrements pending) vs
        # rows that entered the frontier this round: at rnd > 0 that is
        # round_added < rnd; at rnd == 0 the initial seeds (depth 0,
        # counted at init) vs round-0 discoveries (depth ≥ 1).
        prior = (
            (F.col("round_added") < rnd)
            | ((F.lit(rnd) == 0) & (F.col("depth") == 0))
        )
        dstats = delta_rows.groupBy(
            "state", "salt", prior.alias("prior")
        ).count().collect()
        fetch_states = (FR.STATE_DONE, FR.STATE_MISSING, FR.STATE_TOO_SMALL)
        n_popped = sum(r["count"] for r in dstats if r["state"] in fetch_states)
        n_blocked = sum(
            r["count"] for r in dstats if r["state"] == FR.STATE_BLOCKED
        )
        if n_popped == 0 and n_blocked == 0 and not seeds_remain:
            if bloom is not None:
                bloom.unpersist()
            if templates_cached is not None:
                templates_cached.unpersist()
            fetched.unpersist()
            delta_rows.unpersist()
            break
        per_salt: Dict[str, int] = {}
        n_new = 0
        for r in dstats:
            state_counts[r["state"]] = state_counts.get(r["state"], 0) + r["count"]
            if r["prior"]:
                state_counts[FR.STATE_PENDING] = (
                    state_counts.get(FR.STATE_PENDING, 0) - r["count"]
                )
            elif r["state"] == FR.STATE_PENDING:
                # discovery admissions (+ this round's unconsumed seed page)
                n_new += r["count"]
            if r["state"] in fetch_states:
                per_salt[str(r["salt"])] = per_salt.get(str(r["salt"]), 0) + r["count"]
        state_counts = {k: v for k, v in state_counts.items() if v != 0}
        # feeds next round's bloom resize check (scalable-bloom policy)
        frontier_size_est = sum(state_counts.values())

        # --- commit the round ------------------------------------------------
        from logtemplatecrawler_spark.plans.template_pipeline import TEMPLATE_COLUMNS
        templates = templates.select(*TEMPLATE_COLUMNS).withColumn("round", F.lit(rnd))
        rdir = _round_dir(cfg, rnd)
        fmt.write_snapshot(templates, os.path.join(rdir, "templates"))

        # Frontier commit: durable bytes are O(|touched rows|) — only the
        # state transitions + new admissions of this round go to disk; a
        # compacted full snapshot every compact_every rounds bounds the
        # number of delta partitions MERGE-on-read has to fold.  Every seed
        # page / admission row is itself a delta row, so the compaction
        # merge runs over the PREVIOUS committed state + this delta.
        if rnd % cfg.compact_every == 0:
            write_frontier_snapshots(
                spark, cfg, merge_on_read(frontier, delta_rows), rnd
            )
        else:
            fmt.write_delta(delta_rows, _frontier_delta_dir(cfg), rnd)
        if bloom is not None:
            bloom.unpersist()
        frontier = load_frontier(spark, cfg, rnd).persist()
        if persisted_frontier is not None:
            persisted_frontier.unpersist()
        persisted_frontier = frontier
        pending = load_frontier_pending(spark, cfg, rnd).persist()
        if persisted_pending is not None:
            persisted_pending.unpersist()
        persisted_pending = pending

        # Negative-cache delta: append only this round's committed keys;
        # readers take one partition-pruned scan of the whole directory
        # (keys are append-only, so the union of deltas IS the cumulative
        # set — no per-round cumulative rewrite, no lineage recursion).
        delta = fmt.read_snapshot(spark, os.path.join(rdir, "templates"))
        n_templates = delta.count()
        fmt.write_delta(
            delta.select("template", "parsed_template"), _neg_dir(cfg), rnd
        )
        if rnd % cfg.compact_every == 0 and rnd > 0:
            # Inline neg-keys roll-up on the same cadence as the frontier
            # compaction: fold snapshot ∪ deltas ≤ rnd into a snapshot at
            # rnd, so every round's read touches ≤ compact_every delta
            # partitions + 1 snapshot instead of O(all rounds) partitions.
            # Crash-safe: the snapshot lives inside this round's dir, which
            # has no MANIFEST yet (a partial write is invisible to resume,
            # and _SUCCESS gating hides it from the rerun's skip-check);
            # superseded deltas stay until offline compaction prunes them.
            fmt.write_snapshot(
                load_neg_keys(spark, cfg, rnd, snap_round=neg_snap_round),
                _neg_snap_path(cfg, rnd),
            )
            neg_snap_round = rnd
        neg = load_neg_keys(spark, cfg, rnd, snap_round=neg_snap_round)
        elapsed = time.monotonic() - t0
        metrics = {
            "round": rnd,
            "popped": n_popped,
            "robots_blocked": n_blocked,
            "templates": n_templates,
            "discovered_new": n_new,
            "frontier_states": dict(state_counts),
            "popped_per_salt": per_salt,
            "seed_cursor": seed_cursor,
            "elapsed_sec": round(elapsed, 3),
            "urls_per_sec": round(n_popped / elapsed, 2) if elapsed > 0 else None,
        }
        fmt.commit_round(rdir, metrics)
        metrics_log.append(metrics)
        if templates_cached is not None:
            templates_cached.unpersist()
        fetched.unpersist()
        # the round's delta stays persisted ONE extra round: it is the next
        # round's bloom increment (scan-free incremental add, above)
        if prev_delta is not None:
            prev_delta.unpersist()
        prev_delta = delta_rows

        if state_counts.get(FR.STATE_PENDING, 0) == 0 and not seeds_remain:
            break
    if persisted_frontier is not None:
        persisted_frontier.unpersist()
    if prev_delta is not None:
        prev_delta.unpersist()
    if persisted_pending is not None:
        persisted_pending.unpersist()
    if _seeds_cache is not None:
        _seeds_cache.unpersist()
    return metrics_log

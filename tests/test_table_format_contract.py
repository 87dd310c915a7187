"""Table-format seam contract, proved against both checkpoint layouts.

The scheduler claims swapping the checkpoint format is a constructor
argument (sources/table_format.py).  This file makes that claim testable:

* the seam's documented semantics (snapshot overwrite, delta commit /
  retry idempotence, max_round pruning of uncommitted partitions, atomic
  commit marker) run parameterized over ``ParquetManifestFormat`` AND
  ``BucketedParquetFormat``;
* a full crawl + kill + resume runs under ``BucketedParquetFormat`` and
  must produce the IDENTICAL frontier and template set as the
  parquet-format crawl of the same corpus — the layout never leaks into
  crawl semantics.
"""

import os

import pytest

from logtemplatecrawler_spark.crawl.scheduler import (
    CrawlConfig,
    compact_checkpoint,
    last_complete_round,
    load_frontier,
    read_all_templates,
    run_crawl,
)
from logtemplatecrawler_spark.sources.fixtures import (
    generate_pages,
    pages_df,
    robots_df,
    seeds_df,
)
from logtemplatecrawler_spark.sources.table_format import (
    BucketedParquetFormat,
    ParquetManifestFormat,
    detect_format,
)

FORMATS = [ParquetManifestFormat, BucketedParquetFormat]


@pytest.fixture(params=FORMATS, ids=lambda c: c.__name__)
def fmt(request):
    return request.param()


def _df(spark, rows, schema="k string, v bigint"):
    return spark.createDataFrame(rows, schema)


def test_snapshot_roundtrip_and_overwrite(spark, fmt, tmp_path):
    path = str(tmp_path / "snap")
    assert not fmt.snapshot_exists(path)
    fmt.write_snapshot(_df(spark, [("a", 1), ("b", 2)]), path)
    assert fmt.snapshot_exists(path)
    assert sorted(map(tuple, fmt.read_snapshot(spark, path).collect())) == [
        ("a", 1), ("b", 2),
    ]
    # overwrite fully replaces (no merge of old files into the new read)
    fmt.write_snapshot(_df(spark, [("c", 3)]), path)
    assert sorted(map(tuple, fmt.read_snapshot(spark, path).collect())) == [("c", 3)]


def test_read_snapshots_multi(spark, fmt, tmp_path):
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    fmt.write_snapshot(_df(spark, [("a", 1)]), p1)
    fmt.write_snapshot(_df(spark, [("b", 2)]), p2)
    got = sorted(map(tuple, fmt.read_snapshots(spark, [p1, p2]).collect()))
    assert got == [("a", 1), ("b", 2)]


def test_delta_commit_read_and_pruning(spark, fmt, tmp_path):
    base = str(tmp_path / "deltas")
    assert fmt.read_deltas(spark, base, max_round=10) is None
    assert not fmt.deltas_exist(base)
    fmt.write_delta(_df(spark, [("a", 1)]), base, 0)
    fmt.write_delta(_df(spark, [("b", 2)]), base, 1)
    # round 2 written but (conceptually) never committed: a reader resuming
    # at round 1 must not see it — the max_round filter IS the isolation
    fmt.write_delta(_df(spark, [("stale", 9)]), base, 2)
    got = sorted(map(tuple, fmt.read_deltas(spark, base, max_round=1).collect()))
    assert got == [("a", 1), ("b", 2)]
    assert fmt.delta_rounds(base) == [0, 1, 2]
    # min_round_exclusive window
    got = sorted(map(tuple, fmt.read_deltas(
        spark, base, max_round=2, min_round_exclusive=0).collect()))
    assert got == [("b", 2), ("stale", 9)]
    # empty selection on an existing table: empty result, writer schema
    empty = fmt.read_deltas(spark, base, max_round=0, min_round_exclusive=0)
    assert empty.count() == 0
    assert empty.columns == ["k", "v"]


def test_delta_retry_is_idempotent(spark, fmt, tmp_path):
    """A crashed round's rerun rewrites its own delta; no duplicates."""
    base = str(tmp_path / "deltas")
    fmt.write_delta(_df(spark, [("a", 1)]), base, 0)
    fmt.write_delta(_df(spark, [("first", 1)]), base, 1)
    fmt.write_delta(_df(spark, [("retry", 2)]), base, 1)  # rerun of round 1
    got = sorted(map(tuple, fmt.read_deltas(spark, base, max_round=1).collect()))
    assert got == [("a", 1), ("retry", 2)]


def test_commit_marker(spark, fmt, tmp_path):
    rdir = str(tmp_path / "round=0000")
    os.makedirs(rdir, exist_ok=True)
    assert not fmt.is_committed(rdir)
    fmt.commit_round(rdir, metrics={"n": 1})
    assert fmt.is_committed(rdir)


def test_crashed_delta_write_is_invisible(spark, fmt, tmp_path):
    """A delta write that died mid-flight (a staging dir with real parquet
    data) must be invisible to every reader — the atomic-publish
    guarantee."""
    base = str(tmp_path / "d")
    fmt.write_delta(_df(spark, [("a", 1)]), base, 0)
    crashed = os.path.join(base, ".staging-round=0001")
    _df(spark, [("ghost", 9)]).write.parquet(crashed)
    assert fmt.delta_rounds(base) == [0]
    got = sorted(map(tuple, fmt.read_deltas(spark, base, max_round=9).collect()))
    assert got == [("a", 1)]
    # maintenance sweeps the wreckage
    fmt.prune_deltas(base, up_to_round=-1)
    assert not os.path.isdir(crashed)


def test_detect_format(tmp_path):
    assert detect_format(str(tmp_path / "absent")) is None
    pq = tmp_path / "pq" / "round=0000"
    pq.mkdir(parents=True)
    ParquetManifestFormat().commit_round(str(pq))
    assert isinstance(detect_format(str(tmp_path / "pq")), ParquetManifestFormat)
    # a round killed before its commit marker is still a checkpoint
    (tmp_path / "crashed" / "round=0000" / "templates").mkdir(parents=True)
    assert isinstance(detect_format(str(tmp_path / "crashed")),
                      ParquetManifestFormat)


def test_bucketed_snapshot_roundtrip_and_reregister(spark, tmp_path):
    """Frontier-shaped snapshots under BucketedParquetFormat write as
    bucketed tables, read back identically, survive a catalog wipe (the
    resume path re-registers from the on-disk marker), and stay readable
    by the PLAIN parquet format (cross-format compatibility)."""
    from logtemplatecrawler_spark.crawl.frontier import with_frontier_keys
    from pyspark.sql import functions as F

    front = (
        with_frontier_keys(
            spark.range(500).select(
                F.concat(F.lit("https://h"), (F.col("id") % 5).cast("string"),
                         F.lit(".example.org/p/"), "id").alias("url")
            )
        )
        .withColumn("priority", F.lit(1))
        .withColumn("depth", F.lit(0))
        .withColumn("state", F.lit("pending"))
        .withColumn("round_added", F.lit(0))
        .withColumn("updated_round", F.lit(0))
        .drop("id")
    )
    fmt = BucketedParquetFormat(n_buckets=4)
    path = str(tmp_path / "snap")
    fmt.write_snapshot(front, path)
    assert fmt.snapshot_exists(path)
    expect = {tuple(r) for r in front.collect()}
    assert {tuple(r) for r in fmt.read_snapshot(spark, path).collect()} == expect
    # catalog wipe = fresh session resume: re-registration from the marker
    spark.sql(f"DROP TABLE IF EXISTS {fmt._table_name(path)}")
    assert {tuple(r) for r in fmt.read_snapshot(spark, path).collect()} == expect
    # the files are plain parquet: the base format reads them too
    got = {tuple(r) for r in
           ParquetManifestFormat().read_snapshot(spark, path).collect()}
    assert got == expect
    # overwrite fully replaces, and drop_snapshot removes files + table
    fmt.write_snapshot(front.where(F.col("salt") == 0), path)
    assert fmt.read_snapshot(spark, path).count() == \
        front.where(F.col("salt") == 0).count()
    fmt.drop_snapshot(path)
    assert not fmt.snapshot_exists(path)
    assert not spark.catalog.tableExists(fmt._table_name(path))
    # non-frontier snapshots fall through to plain parquet (no catalog table)
    other = str(tmp_path / "other")
    fmt.write_snapshot(_df(spark, [("a", 1)]), other)
    assert not os.path.exists(os.path.join(other, fmt._BUCKET_MARKER))
    assert [tuple(r) for r in fmt.read_snapshot(spark, other).collect()] == [("a", 1)]


def test_detect_format_bucketed(spark, tmp_path):
    """A checkpoint whose frontier snapshots carry the bucket marker
    auto-detects as BucketedParquetFormat with the recorded bucket count —
    offline compaction must not silently downgrade the layout."""
    from logtemplatecrawler_spark.crawl.frontier import with_frontier_keys
    from pyspark.sql import functions as F

    ckpt = tmp_path / "bk"
    rdir = ckpt / "round=0000"
    front = (
        with_frontier_keys(
            spark.range(50).select(
                F.concat(F.lit("https://x.org/p/"), "id").alias("url"))
        )
        .withColumn("priority", F.lit(1)).withColumn("depth", F.lit(0))
        .withColumn("state", F.lit("pending"))
        .withColumn("round_added", F.lit(0))
        .withColumn("updated_round", F.lit(0)).drop("id")
    )
    fmt = BucketedParquetFormat(n_buckets=4)
    fmt.write_snapshot(front, str(rdir / "frontier"))
    fmt.commit_round(str(rdir))
    detected = detect_format(str(ckpt))
    assert isinstance(detected, BucketedParquetFormat)
    assert detected.n_buckets == 4


def test_detect_format_from_delta_markers(spark, tmp_path):
    """A checkpoint that crashed before its first round commit still has
    delta-dir markers; auto-detection must read them instead of silently
    defaulting (ADVICE r03)."""
    pq = str(tmp_path / "pq")
    ParquetManifestFormat().write_delta(
        _df(spark, [("a", 1)]), os.path.join(pq, "frontier_deltas"), 0)
    assert isinstance(detect_format(pq), ParquetManifestFormat)


def test_detect_format_refuses_unrecognized_nonempty(tmp_path):
    """Strict resume detection: fresh dir → None; junk-filled dir → error."""
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    assert detect_format(str(fresh)) is None
    assert detect_format(str(tmp_path / "absent")) is None
    junk = tmp_path / "junk"
    junk.mkdir()
    (junk / "whatever.txt").write_text("x")
    with pytest.raises(ValueError, match="no checkpoint entries"):
        detect_format(str(junk))


def test_crawl_config_validation(tmp_path):
    with pytest.raises(ValueError, match="compact_every"):
        CrawlConfig(checkpoint_dir=str(tmp_path), compact_every=0)
    with pytest.raises(ValueError, match="host_budget"):
        CrawlConfig(checkpoint_dir=str(tmp_path), host_budget=0)
    with pytest.raises(ValueError, match="n_salts"):
        CrawlConfig(checkpoint_dir=str(tmp_path), n_salts=0)


def test_read_all_templates_round_zero_only(spark, tmp_path):
    """A crawl that completed ONLY round 0 must still export its templates
    (regression: `(last or -1)` treated round 0 as no-rounds)."""
    pages = generate_pages(N_PAGES, seed=7)
    cfg = _crawl(spark, pages, str(tmp_path / "r0"), ParquetManifestFormat(),
                 max_rounds=1)
    assert last_complete_round(cfg) == 0
    assert read_all_templates(spark, cfg).count() > 0


def test_delta_rejects_reserved_round_column(spark, fmt, tmp_path):
    df = _df(spark, [("a", 1)]).withColumnRenamed("v", "round")
    with pytest.raises(Exception):
        fmt.write_delta(df, str(tmp_path / "d"), 0)


# -- the swap proof: full crawl + resume under the bucketed layout -----------

N_PAGES = 80
BUDGET = 2
MAX_ROUNDS = 6


def _crawl(spark, pages, ckpt, fmt, max_rounds=MAX_ROUNDS, compact_every=3):
    cfg = CrawlConfig(checkpoint_dir=ckpt, host_budget=BUDGET,
                      max_rounds=max_rounds, compact_every=compact_every,
                      table_format=fmt)
    run_crawl(spark, pages_df(spark, N_PAGES, seed=7),
              seeds_df(spark, pages, seed=7), robots_df(spark, pages, seed=7),
              cfg)
    return cfg


def test_prune_deltas(spark, fmt, tmp_path):
    base = str(tmp_path / "deltas")
    for r in range(4):
        fmt.write_delta(_df(spark, [(f"r{r}", r)]), base, r)
    assert fmt.prune_deltas(base, up_to_round=2) == 3
    assert fmt.delta_rounds(base) == [3]
    got = sorted(map(tuple, fmt.read_deltas(spark, base, max_round=9).collect()))
    assert got == [("r3", 3)]
    assert fmt.prune_deltas(base, up_to_round=2) == 0  # idempotent


def test_partial_snapshot_reads_as_absent(spark, tmp_path):
    """A crash-truncated parquet snapshot (files, no _SUCCESS) must not be
    trusted by readers or by compaction's skip-if-exists."""
    fmt = ParquetManifestFormat()
    path = str(tmp_path / "snap")
    fmt.write_snapshot(_df(spark, [("a", 1)]), path)
    assert fmt.snapshot_exists(path)
    os.remove(os.path.join(path, "_SUCCESS"))
    assert not fmt.snapshot_exists(path)


def test_compact_checkpoint(spark, tmp_path):
    """Offline compaction folds frontier AND neg-key deltas into snapshots
    at the last round, prunes them, expires superseded history, leaves the
    reconstructed state identical, and the crawl resumes cleanly
    afterwards — both layouts."""
    from logtemplatecrawler_spark.crawl.scheduler import load_neg_keys

    pages = generate_pages(N_PAGES, seed=7)
    for fmt_cls, sub in [(ParquetManifestFormat, "pq"),
                         (BucketedParquetFormat, "bk")]:
        ckpt = str(tmp_path / sub)
        cfg = _crawl(spark, pages, ckpt, fmt_cls(), max_rounds=4)
        last = last_complete_round(cfg)
        before = {(r["url"], r["state"], r["depth"])
                  for r in load_frontier(spark, cfg, last).collect()}
        neg_before = {tuple(r) for r in load_neg_keys(spark, cfg, last).collect()}
        fdir = os.path.join(ckpt, "frontier_deltas")
        ndir = os.path.join(ckpt, "neg_keys")
        assert cfg.table_format.delta_rounds(fdir), "no deltas to compact"
        assert cfg.table_format.delta_rounds(ndir), "no neg deltas to compact"

        out = compact_checkpoint(spark, cfg)
        assert out["round"] == last and out["pruned_delta_partitions"] > 0
        # the loop's INLINE neg roll-up (every compact_every rounds) may
        # have already written the snapshot at `last`; either way the
        # folded delta partitions must be pruned
        assert out["pruned_neg_delta_partitions"] > 0
        assert cfg.table_format.delta_rounds(fdir) == []
        assert cfg.table_format.delta_rounds(ndir) == []
        # superseded history expired: no frontier snapshot below `last`
        for b in range(last):
            assert not cfg.table_format.snapshot_exists(
                os.path.join(ckpt, f"round={b:04d}", "frontier"))
        after = {(r["url"], r["state"], r["depth"])
                 for r in load_frontier(spark, cfg, last).collect()}
        assert after == before
        neg_after = {tuple(r) for r in load_neg_keys(spark, cfg, last).collect()}
        assert neg_after == neg_before
        # rerun is a no-op (snapshots exist, nothing left to prune)
        out2 = compact_checkpoint(spark, cfg)
        assert not out2["wrote_snapshot"] and out2["pruned_delta_partitions"] == 0
        assert not out2["wrote_neg_snapshot"] and out2["pruned_neg_delta_partitions"] == 0
        # the crawl continues from the compacted checkpoint, and the
        # continued rounds still see the compacted negative cache
        cfg2 = _crawl(spark, pages, ckpt, fmt_cls(), max_rounds=MAX_ROUNDS)
        last2 = last_complete_round(cfg2)
        assert last2 >= last
        assert {tuple(r) for r in load_neg_keys(spark, cfg2, last2).collect()} \
            >= neg_before


def test_crawl_identical_across_formats_with_resume(spark, tmp_path):
    pages = generate_pages(N_PAGES, seed=7)

    ref_cfg = _crawl(spark, pages, str(tmp_path / "pq"), ParquetManifestFormat())
    last_ref = last_complete_round(ref_cfg)
    a = {(r["url"], r["state"], r["priority"], r["depth"])
         for r in load_frontier(spark, ref_cfg, last_ref).collect()}
    ta = {(r["url"], r["stmt_idx"], r["template"], r["round"])
          for r in read_all_templates(spark, ref_cfg).collect()}

    # bucketed format: kill after 2 rounds, then resume to completion —
    # exercises load_frontier MERGE-on-read, neg-cache reads, and the
    # commit marker; the exchange-free MERGE-on-read over bucketed
    # snapshots must not leak into semantics
    bk = str(tmp_path / "bk")
    _crawl(spark, pages, bk, BucketedParquetFormat(n_buckets=4), max_rounds=2)
    bk_cfg = _crawl(spark, pages, bk, BucketedParquetFormat(n_buckets=4))
    assert last_complete_round(bk_cfg) == last_ref
    c = {(r["url"], r["state"], r["priority"], r["depth"])
         for r in load_frontier(spark, bk_cfg, last_ref).collect()}
    assert c == a
    tc = {(r["url"], r["stmt_idx"], r["template"], r["round"])
          for r in read_all_templates(spark, bk_cfg).collect()}
    assert tc == ta


def test_bucketed_resize_at_compaction(spark, tmp_path):
    """VERDICT r04 nit 4 done-criterion: offline compaction rewrites the
    frontier snapshot at a GROWN bucket count once the frontier outgrows
    ``rows_per_bucket`` (amortized-doubling, like the bloom); the resized
    checkpoint auto-detects at the new count, MERGE-on-read over it still
    plans bucketed (exchange-free base), and resume across the resize
    completes identically to a never-resized reference crawl."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from logtemplatecrawler_spark.crawl.scheduler import (
        compact_checkpoint, merge_on_read,
    )
    from logtemplatecrawler_spark.sources.table_format import detect_format

    pages = generate_pages(N_PAGES, seed=7)
    ref_cfg = _crawl(spark, pages, str(tmp_path / "ref"), ParquetManifestFormat())

    ck = str(tmp_path / "grow")
    _crawl(spark, pages, ck, BucketedParquetFormat(n_buckets=2, rows_per_bucket=10),
           max_rounds=2)
    cfg = CrawlConfig(checkpoint_dir=ck, host_budget=BUDGET, max_rounds=2,
                      compact_every=3,
                      table_format=detect_format(ck))
    info = compact_checkpoint(spark, cfg)
    assert info["resized_buckets_to"] is not None
    assert info["resized_buckets_to"] > 2
    assert info["wrote_snapshot"]

    detected = detect_format(ck)
    assert isinstance(detected, BucketedParquetFormat)
    assert detected.n_buckets == info["resized_buckets_to"]

    # the resized snapshot still drives an exchange-free (bucketed) merge
    last = last_complete_round(cfg)
    base = detected.read_snapshot(
        spark, os.path.join(ck, f"round={last:04d}", "frontier"))
    delta = base.limit(20).withColumn(
        "updated_round", F.col("updated_round") + 100)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            merge_on_read(base, delta).explain(mode="simple")
        assert "Bucketed: true" in buf.getvalue(), buf.getvalue()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # resume ACROSS the resize to completion; equals the reference crawl
    grown_cfg = _crawl(spark, pages, ck, detected)
    last_ref = last_complete_round(ref_cfg)
    assert last_complete_round(grown_cfg) == last_ref
    a = {(r["url"], r["state"], r["priority"])
         for r in load_frontier(spark, ref_cfg, last_ref).collect()}
    b = {(r["url"], r["state"], r["priority"])
         for r in load_frontier(spark, grown_cfg, last_ref).collect()}
    assert a == b
    ta = {(r["url"], r["stmt_idx"], r["template"], r["round"])
          for r in read_all_templates(spark, ref_cfg).collect()}
    tb = {(r["url"], r["stmt_idx"], r["template"], r["round"])
          for r in read_all_templates(spark, grown_cfg).collect()}
    assert ta == tb


def test_bucket_count_policy_and_cliff_warning(spark, tmp_path):
    """target_buckets grows power-of-two and never shrinks; writing or
    reading a bucketed snapshot below the session's shuffle-partition
    count warns about the DisableUnnecessaryBucketedScan cliff."""
    from logtemplatecrawler_spark.crawl.frontier import with_frontier_keys
    from pyspark.sql import functions as F

    fmt = BucketedParquetFormat(n_buckets=4, rows_per_bucket=100)
    assert fmt.target_buckets(1) == 4          # never shrinks
    assert fmt.target_buckets(400) == 4        # fits
    assert fmt.target_buckets(401) == 8        # next power of two
    assert fmt.target_buckets(100_000) == 1024
    with pytest.raises(ValueError):
        BucketedParquetFormat(n_buckets=4, rows_per_bucket=0)

    front = (
        with_frontier_keys(
            spark.range(100).select(
                F.concat(F.lit("https://h.example.org/p/"), "id").alias("url"))
        )
        .withColumn("priority", F.lit(1)).withColumn("depth", F.lit(0))
        .withColumn("state", F.lit("pending"))
        .withColumn("round_added", F.lit(0))
        .withColumn("updated_round", F.lit(0)).drop("id")
    )
    small = BucketedParquetFormat(n_buckets=2)  # < shuffle partitions (8)
    path = str(tmp_path / "cliff")
    with pytest.warns(RuntimeWarning, match="DisableUnnecessaryBucketedScan"):
        small.write_snapshot(front, path)

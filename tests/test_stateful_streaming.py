"""Stateful streaming operators: URL-seen dedup + per-host budget state."""

import os

from logtemplatecrawler_spark.streaming.stateful_dedup import (
    streaming_host_budget,
    streaming_seen_urls,
)


def _write_url_batch(spark, path, idx, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/b{idx}")
    # move part file up so the stream source (reading `path`) sees it
    for f in os.listdir(f"{path}/b{idx}"):
        if f.endswith(".parquet"):
            os.rename(f"{path}/b{idx}/{f}", f"{path}/batch{idx}.parquet")


def _drain(stream_df, out_dir, ckpt):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_streaming_seen_urls_dedups_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    _write_url_batch(spark, src, 0, ["https://A.org/x", "https://a.org/x#frag",
                                     "https://a.org/y"])
    stream = spark.readStream.schema("url string").parquet(src)
    _drain(streaming_seen_urls(stream), out, ckpt)
    first = {r["url"] for r in spark.read.parquet(out).collect()}
    assert first == {"https://a.org/x", "https://a.org/y"}

    # second batch: one repeat (different fragment), one new — state persists
    _write_url_batch(spark, src, 1, ["https://a.org/x#other", "https://a.org/z"])
    stream = spark.readStream.schema("url string").parquet(src)
    _drain(streaming_seen_urls(stream), out, ckpt)
    all_urls = [r["url"] for r in spark.read.parquet(out).collect()]
    assert sorted(all_urls) == ["https://a.org/x", "https://a.org/y", "https://a.org/z"]


def test_streaming_host_budget_cumulative(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    _write_url_batch(spark, src, 0,
                     [f"https://h1.org/p{i}" for i in range(3)]
                     + ["https://h2.org/p0"])
    stream = spark.readStream.schema("url string").parquet(src)
    _drain(streaming_host_budget(stream, budget=4), out, ckpt)
    got = {r["url"] for r in spark.read.parquet(out).collect()}
    assert len([u for u in got if "h1.org" in u]) == 3

    # next batch pushes h1 past its cumulative budget of 4
    _write_url_batch(spark, src, 1, [f"https://h1.org/q{i}" for i in range(5)])
    stream = spark.readStream.schema("url string").parquet(src)
    _drain(streaming_host_budget(stream, budget=4), out, ckpt)
    h1 = [r["url"] for r in spark.read.parquet(out).collect() if "h1.org" in r["url"]]
    assert len(h1) == 4  # 3 from batch 0 + only 1 more allowed


def test_simhash60_matches_batch_frame(spark):
    """The pure-Python simhash (streaming leg) must be bit-identical to
    the batch DataFrame aggregation (`_simhash_frame`) on every fixture
    document — one signature space across batch and streaming dedup."""
    from logtemplatecrawler_spark.operators.simhash import simhash60
    from logtemplatecrawler_spark.plans.harness import _simhash_frame

    sf = os.environ.get("HARNESS_SF_DIR", "/root/testdata/sf0.001")
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    batch = {
        r["doc_id"]: r["simhash"] for r in _simhash_frame(spark, sf).collect()
    }
    assert len(batch) == len(docs)
    for did, text in docs.items():
        assert simhash60(text) == batch[did], did


def test_simhash60_batch_matches_scalar(spark):
    """r6: the numpy-vectorized batch signature (`simhash60_batch`, the
    streaming UDF's new body) must be bit-identical to the scalar oracle
    on every fixture document — all-integer arithmetic, so exact equality,
    including repeated calls through the word-hash memo."""
    from logtemplatecrawler_spark.operators.simhash import (
        simhash60, simhash60_batch,
    )

    sf = os.environ.get("HARNESS_SF_DIR", "/root/testdata/sf0.001")
    texts = [
        r["text"]
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    ]
    texts += ["", "one", "a a a b"]  # degenerate shapes
    expect = [simhash60(t) for t in texts]
    assert simhash60_batch(texts) == expect
    assert simhash60_batch(texts) == expect  # memo warm — still identical


def test_budget_fn_orders_across_arrow_chunks():
    """Same chunk-order contract as the near-dup state function: a host
    group spanning several Arrow chunks must admit the url-ascending
    prefix of the WHOLE group, not chunk-by-chunk prefixes."""
    import pandas as pd

    from logtemplatecrawler_spark.streaming.stateful_dedup import _budget_fn

    class _FakeState:
        exists = False

        def update(self, value):
            self.updated = value

    chunk_a = pd.DataFrame({"url": ["https://h.org/c", "https://h.org/e"]})
    chunk_b = pd.DataFrame({"url": ["https://h.org/a", "https://h.org/d"]})
    (out,) = _budget_fn(2)(("h.org",), [chunk_a, chunk_b], _FakeState())
    # global sorted order is a,c,d,e — budget 2 admits a and c (the old
    # per-chunk loop admitted c and e, chunk_a's prefix)
    assert sorted(out["url"]) == ["https://h.org/a", "https://h.org/c"]


def test_budget_fn_exhausted_host_skips_sort():
    """A host whose cumulative budget is spent admits nothing: its batches
    are drained unsorted and the state is rewritten unchanged."""
    import pandas as pd

    from logtemplatecrawler_spark.streaming.stateful_dedup import _budget_fn

    class _SpentState:
        exists = True
        get = (2,)

        def update(self, value):
            self.updated = value

    drained = []

    def chunks():
        for url in ("https://h.org/b", "https://h.org/a"):
            drained.append(url)
            yield pd.DataFrame({"url": [url]})

    state = _SpentState()
    assert list(_budget_fn(2)(("h.org",), chunks(), state)) == []
    assert state.updated == (2,)
    assert len(drained) == 2


def test_flag_fn_orders_across_arrow_chunks():
    """r6 fix: a band bucket bigger than one Arrow chunk arrives as SEVERAL
    pandas DataFrames in shuffle order; the state function must sort the
    WHOLE group by doc_id, not each chunk alone.  Feed two chunks whose
    doc_id ranges interleave and pin the verdicts to the sorted-order
    online oracle (first arrival of each signature neighborhood wins)."""
    import pandas as pd

    from logtemplatecrawler_spark.streaming.content_dedup import _flag_fn

    class _FakeState:
        exists = False

        def update(self, value):
            self.updated = value

    # identical signature everywhere: exactly ONE doc (the global min
    # doc_id, which lives in the SECOND chunk) may come out non-dup
    chunk_a = pd.DataFrame({"doc_id": [10, 30, 50], "simhash": [7, 7, 7]})
    chunk_b = pd.DataFrame({"doc_id": [5, 20, 40], "simhash": [7, 7, 7]})
    state = _FakeState()
    (out,) = _flag_fn(3)((0, 7), [chunk_a, chunk_b], state)
    verdicts = dict(zip(out["doc_id"], out["is_dup_in_band"]))
    assert verdicts == {5: False, 10: True, 20: True, 30: True, 40: True,
                        50: True}
    # state keeps every signature of the group, in arrival (sorted) order
    assert state.updated == ([7] * 6,)


def test_streaming_near_dup_multi_chunk_bucket(spark, tmp_path):
    """End-to-end drain where one band bucket (600 exact dups) outgrows the
    256-row Arrow chunk the test session uses: only the smallest doc_id of
    the clique may be admitted, no matter how the chunks arrive."""
    from logtemplatecrawler_spark.streaming.content_dedup import (
        near_dup_verdicts, streaming_near_dup_flags,
    )

    text = "the same boilerplate sentence repeated across many mirrors"
    # shuffled doc_ids so chunk order != doc_id order
    ids = [((i * 379) % 601) + 100 for i in range(600)]
    assert len(set(ids)) == 600
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    df = spark.createDataFrame([(i, text) for i in ids],
                               "doc_id bigint, text string")
    df.coalesce(2).write.mode("overwrite").parquet(f"{src}/b0")
    k = 0
    for f in sorted(os.listdir(f"{src}/b0")):
        if f.endswith(".parquet"):
            os.rename(f"{src}/b0/{f}", f"{src}/batch{k}.parquet")
            k += 1
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1000000")
        .parquet(src)
    )
    _drain(streaming_near_dup_flags(stream), out, ckpt)
    got = {
        r["doc_id"]: r["near_dup"]
        for r in near_dup_verdicts(spark.read.parquet(out)).collect()
    }
    assert len(got) == 600
    admitted = sorted(d for d, dup in got.items() if not dup)
    assert admitted == [min(ids)]


def test_streaming_near_dup_matches_online_oracle(spark, tmp_path):
    """Two micro-batches of fixture docs (plus injected exact dups) through
    `streaming_near_dup_flags` with a persistent checkpoint: the resolved
    verdicts must equal the brute-force online oracle — doc D is a near-dup
    iff some earlier doc (previous batch, or same batch with smaller
    doc_id) is within Hamming <= 3 — including chain cases where the
    earlier doc was itself flagged."""
    from logtemplatecrawler_spark.operators.simhash import (
        SIMHASH_HAMMING, simhash60,
    )
    from logtemplatecrawler_spark.streaming.content_dedup import (
        near_dup_verdicts, streaming_near_dup_flags,
    )

    sf = os.environ.get("HARNESS_SF_DIR", "/root/testdata/sf0.001")
    fixture = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .where("doc_id < 80").collect()
    )
    # inject exact duplicates (hamming 0): one cross-batch, one in-batch,
    # and a chain C(id=9001)~B(id=9000)~A(id=40) where B is itself a dup
    batch0 = fixture[:40] + [(9000, fixture[20][1])]
    batch1 = fixture[40:] + [(9001, fixture[20][1]), (9002, fixture[50][1])]

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    def write_batch(idx, rows):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{idx}")
        for f in os.listdir(f"{src}/b{idx}"):
            if f.endswith(".parquet"):
                os.rename(f"{src}/b{idx}/{f}", f"{src}/batch{idx}.parquet")

    def drain():
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
        _drain(streaming_near_dup_flags(stream), out, ckpt)

    write_batch(0, batch0)
    drain()
    write_batch(1, batch1)
    drain()

    got = {
        r["doc_id"]: r["near_dup"]
        for r in near_dup_verdicts(spark.read.parquet(out)).collect()
    }

    # online oracle: same order convention (batch index, then doc_id)
    seen = []
    expected = {}
    for batch in (sorted(batch0), sorted(batch1)):
        for did, text in batch:
            sig = simhash60(text)
            expected[did] = any(
                bin(sig ^ s).count("1") <= SIMHASH_HAMMING for s in seen
            )
            seen.append(sig)

    assert got == expected
    assert expected[9000] and expected[9001] and expected[9002]
    assert sum(expected.values()) >= 3

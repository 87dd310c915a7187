"""Seeded benchmark inputs, generated off the clock and cached on disk.

Every input is a pure function of ``(workload shape, seed)``; the cache
directory name carries both, so a second run with the same seed reuses the
files and a different shape can never read stale ones.  The program under
test only ever sees the generated parquet tables.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from logtemplatecrawler_spark.core.detect import detect_page, page_framework
from logtemplatecrawler_spark.core.extract import extract_statements
from logtemplatecrawler_spark.sources.fixtures import (
    generate_pages,
    generate_robots,
    generate_seeds,
    write_pages_parquet,
)

# --- workload shapes -------------------------------------------------------
# pipeline_dense: the north-rule page density (BASELINE.json), sized so one
# pass at local[4] takes a few seconds and a run holds several passes.
PIPELINE_SHAPE = {"pages": 1000, "methods": (8, 16), "stmts": (3, 6), "n_files": 32}
# crawl_rounds: big enough that the frontier passes CrawlConfig's
# bloom_min_keys=4096 (at 2,000 pages the URL-seen bloom never runs).
CRAWL_SHAPE = {"pages": 20000, "hosts": 1000, "seed_fraction": 0.3,
               "host_budget": 4, "n_files": 8}
# harness_suite: the three tables its leaves read, at sf0.01-like row counts.
HARNESS_SHAPE = {"documents": 1000, "events": 10000, "users": 150,
                 "embeddings": 1000, "dim": 64, "labels": 10}

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])


def _shape_key(shape: dict) -> str:
    return "-".join(
        f"{k}{'x'.join(map(str, v)) if isinstance(v, tuple) else v}"
        for k, v in sorted(shape.items())
    )


def _cached(work_dir: str, workload: str, shape: dict, seed: int, build) -> str:
    """Directory holding the inputs for (workload, shape, seed); built once.

    The build writes into a staging directory that is renamed into place,
    so an interrupted build never leaves a half-written cache entry."""
    final = os.path.join(work_dir, "inputs", workload,
                         f"{_shape_key(shape)}-seed{seed}")
    if os.path.isdir(final):
        return final
    staging = final + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    info = build(staging, shape, seed)
    with open(os.path.join(staging, "shape.json"), "w") as fh:
        json.dump(info, fh, sort_keys=True)
    os.replace(staging, final)
    return final


def read_shape(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "shape.json")) as fh:
        return json.load(fh)


def _write_pages(path: str, rows, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    chunk = (len(rows) + n_files - 1) // n_files
    for fi in range(n_files):
        part = rows[fi * chunk:(fi + 1) * chunk]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema=PAGES_SCHEMA),
                           os.path.join(path, f"part-{fi:05d}.parquet"))


def read_pages(path: str):
    """Page rows back from a parquet directory, in file order."""
    return pq.read_table(path, schema=PAGES_SCHEMA).to_pylist()


# --- pipeline_dense ----------------------------------------------------------

def hostile_page(seed: int, depth: int = 600) -> dict:
    """One slf4j Java page whose single log statement nests ``depth``
    ``String.format("aN %s", … + "q")`` calls (~19 KB, no run of 6 equal
    characters, so the native statement pre-filter keeps it)."""
    rng = random.Random(seed)
    inner = rng.choice(["requestId", "sessionId", "count", "userName"])
    for i in range(depth):
        inner = f'String.format("a{i} %s", {inner} + "q")'
    text = (
        "import org.slf4j.Logger;\nimport org.slf4j.LoggerFactory;\n\n"
        "public class Hostile {\n"
        "    private static final Logger log = LoggerFactory.getLogger();\n"
        "    public void run0(int count) {\n"
        f"        log.info({inner});\n"
        "    }\n}\n"
    )
    host = f"host{rng.randrange(1000):03d}.example.org"
    return {"url": f"https://{host}/src/Hostile{seed}.java",
            "warc_ts": datetime(2024, 1, 1), "html": text.encode("utf-8"),
            "text": text, "lang": "java"}


def _build_pipeline(out: str, shape: dict, seed: int) -> dict:
    write_pages_parquet(os.path.join(out, "pages"), shape["pages"], seed=seed,
                        n_files=shape["n_files"], methods=shape["methods"],
                        stmts=shape["stmts"])
    hostile = hostile_page(seed)
    _write_pages(os.path.join(out, "hostile"), [hostile], 1)
    pages = read_pages(os.path.join(out, "pages"))
    statements = 0
    for p in pages:
        if detect_page(p["text"], p["lang"])[0]:
            framework = page_framework(p["text"], p["lang"])
            statements += len(extract_statements(p["text"], p["lang"], framework))
    return {
        "seed": seed,
        "pages": len(pages),
        "statements_extracted": statements,
        "text_mb": round(sum(len(p["text"].encode()) for p in pages) / 1e6, 3),
        "hosts": len({p["url"].split("/")[2] for p in pages}),
        "hostile_page_bytes": len(hostile["text"]),
    }


def pipeline_inputs(work_dir: str, seed: int) -> str:
    return _cached(work_dir, "pipeline_dense", PIPELINE_SHAPE, seed, _build_pipeline)


# --- crawl_rounds ------------------------------------------------------------

def _build_crawl(out: str, shape: dict, seed: int) -> dict:
    pages = generate_pages(shape["pages"], seed=seed, n_hosts=shape["hosts"])
    seeds = generate_seeds(pages, seed=seed, fraction=shape["seed_fraction"])
    robots = generate_robots(pages, seed=seed)
    _write_pages(os.path.join(out, "pages"), pages, shape["n_files"])
    pq.write_table(pa.Table.from_pylist(seeds, schema=pa.schema(
        [("url", pa.string()), ("priority", pa.int32())])),
        os.path.join(out, "seeds.parquet"))
    pq.write_table(pa.Table.from_pylist(robots, schema=pa.schema(
        [("host", pa.string()), ("disallow_prefix", pa.string())])),
        os.path.join(out, "robots.parquet"))
    hosts = [p["url"].split("/")[2] for p in pages]
    head = max(set(hosts), key=hosts.count)
    return {
        "seed": seed,
        "pages": len(pages),
        "text_mb": round(sum(len(p["text"].encode()) for p in pages) / 1e6, 3),
        "hosts": len(set(hosts)),
        "head_host_share": round(hosts.count(head) / len(hosts), 4),
        "seeds": len(seeds),
        "robots_rows": len(robots),
        "host_budget": shape["host_budget"],
    }


def crawl_inputs(work_dir: str, seed: int) -> str:
    return _cached(work_dir, "crawl_rounds", CRAWL_SHAPE, seed, _build_crawl)


def read_crawl_tables(input_dir: str):
    """(pages, seeds, robots) row lists, as the oracle simulator takes them."""
    pages = read_pages(os.path.join(input_dir, "pages"))
    seeds = pq.read_table(os.path.join(input_dir, "seeds.parquet")).to_pylist()
    robots = pq.read_table(os.path.join(input_dir, "robots.parquet")).to_pylist()
    return pages, seeds, robots


# --- harness_suite -----------------------------------------------------------

_DOC_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_LANGS = (["en"] * 40) + (["fr"] * 16) + (["es"] * 16) + (["zh"] * 15) + (["de"] * 13)
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def _build_harness(out: str, shape: dict, seed: int) -> dict:
    rng = random.Random(seed)
    texts, langs = [], []
    for i in range(shape["documents"]):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup leaves' prey)
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS)
                                  for _ in range(rng.randint(10, 99))))
        langs.append(rng.choice(_LANGS))
    n_docs = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    n_ev = shape["events"]
    base = datetime(2024, 1, 1)
    offsets = sorted(rng.uniform(0, 30 * 86400) for _ in range(n_ev))
    pq.write_table(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([base + timedelta(seconds=s) for s in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(shape["users"]) for _ in range(n_ev)],
                            pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(rng.uniform(0.01, 490.0), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)],
    }), os.path.join(out, "events.parquet"))

    nrng = np.random.default_rng(seed)
    n_vec, dim = shape["embeddings"], shape["dim"]
    centers = nrng.normal(size=(shape["labels"], dim))
    labels = nrng.integers(0, shape["labels"], size=n_vec)
    vecs = centers[labels] + 0.35 * nrng.normal(size=(n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
    return {"seed": seed, "documents": n_docs, "events": n_ev,
            "embeddings": n_vec, "dim": dim,
            "text_mb": round(sum(len(t) for t in texts) / 1e6, 3)}


def harness_inputs(work_dir: str, seed: int) -> str:
    return _cached(work_dir, "harness_suite", HARNESS_SHAPE, seed, _build_harness)


BUILDERS = {
    "pipeline_dense": pipeline_inputs,
    "crawl_rounds": crawl_inputs,
    "harness_suite": harness_inputs,
}

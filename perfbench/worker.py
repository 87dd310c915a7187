"""One workload's Spark side, in its own fresh process (see run.py).

Writes a JSON result to ``--out``: operation timings, per-layer numbers
(traced runs), peak RSS and what the correctness check in run.py needs.
Every operation that raises is recorded and the run goes on.

    python3 perfbench/worker.py --workload pipeline_dense --seed 1 \
        --seconds 10 --trace 0 --input DIR --work DIR --out result.json
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import CRAWL_SHAPE, read_shape  # noqa: E402
from oracles import canonical_rows  # noqa: E402
from spans import Tracer, job_busy_union_s, job_kind, merged_stats  # noqa: E402

SETUP_RESTARTS = 2

# harness_suite's leaves: at least one per family, picked for the operators
# ROADMAP's open items watch (window pops, anti-joins, the connected-
# components endgame, the shuffled-hash-join regressions, the pending view,
# the streaming drains).  The full 87-leaf suite is bench.py's job.
HARNESS_LEAVES = [
    "w1_politeness_pop_salted",
    "j3_anti_join_negative_cache",
    "dedup_simhash_canonical",
    "dedup_minhash_signatures",
    "ann_lsh_bucket_search",
    "text_tfidf_topk",
    "crawl_frontier_pending_view",
    "crawl_frontier_mor",
    "curation_decontaminate_ngram",
    "stream_windowed_metrics_drain",
    "mm_binary_meta",
]
FAMILIES = ["relational", "dedup", "ann", "text", "crawl", "curation", "stream", "mm"]
HARNESS_LAYERS = {
    f"plans.harness.{fam}.{m}": unit
    for fam in FAMILIES
    for m, unit in (("s", "s"), ("shuffle_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("task_skew", "ratio"))
}


def family(leaf: str) -> str:
    head = leaf.split("_", 1)[0]
    return head if head in FAMILIES else "relational"


# --- process-level measurements ---------------------------------------------

def _tree_pids(root_pid: int):
    """``root_pid`` and all its live descendants, from /proc."""
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_peak_rss_mb(root_pid: int) -> dict:
    """VmHWM (MB) of ``root_pid`` and each descendant (the driver, its JVM
    and the Python workers), by command name, from /proc."""
    by_name = {}
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/status") as fh:
                kb = next((int(line.split()[1]) for line in fh
                           if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        by_name[name] = by_name.get(name, 0.0) + kb / 1024.0
    return by_name


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    ``root_pid`` and its live descendants.  Time the machine gives to other
    tenants is not in it, unlike wall time."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


SETUP_TEXT = (
    "import org.slf4j.Logger;\npublic class Setup {\n"
    "    public void run0(int count) {\n"
    '        log.info("setup probe {} done", count);\n    }\n}\n'
)


class Session:
    """Owns the SparkSession; times each set-up from ``build_session``
    through the first action that starts Python workers."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self) -> dict:
        from logtemplatecrawler_spark.operators.template_udfs import extract_raws
        from logtemplatecrawler_spark.session import build_session

        t0, c0 = time.monotonic(), tree_cpu_s(os.getpid())
        self.spark = build_session("perfbench", master=f"local[{self.cores}]",
                                   shuffle_partitions=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        probe = self.spark.createDataFrame(
            [(SETUP_TEXT, "java", "slf4j")], "text string, lang string, framework string")
        rows = probe.select(extract_raws("text", "lang", "framework").alias("r")).collect()
        setup = {"s": time.monotonic() - t0, "cpu_s": tree_cpu_s(os.getpid()) - c0}
        if len(rows) != 1 or not rows[0]["r"]:
            raise RuntimeError(f"set-up probe returned {rows!r}")
        return setup

    def restart(self) -> dict:
        self.spark.stop()
        return self.start()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


class Ops:
    """Attempted/failed operation log; a raising operation is recorded and
    the caller continues."""

    def __init__(self):
        self.log = []

    def run(self, kind: str, fn, counted: bool = True):
        t0, c0 = time.monotonic(), tree_cpu_s(os.getpid())
        try:
            value = fn()
            ok, err = True, None
        except Exception as exc:  # noqa: BLE001 — record every failure, keep going
            value, ok = None, False
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc()
        entry = {"kind": kind, "ok": ok, "s": time.monotonic() - t0,
                 "cpu_s": tree_cpu_s(os.getpid()) - c0, "error": err,
                 "counted": counted}
        self.log.append(entry)
        return ok, entry, value

    def counts(self):
        counted = [o for o in self.log if o["counted"]]
        return len(counted), sum(1 for o in counted if not o["ok"])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def op_count(seconds: float, op_s: float, minimum: int) -> int:
    """Timed operations per run: about ``seconds`` worth at today's speed.
    A count rather than a deadline, so every run of the same code measures
    the same operations in the same order."""
    return max(minimum, round(seconds / op_s))


# --- pipeline_dense ----------------------------------------------------------

def run_pipeline(sess, args, tracer, ops, res):
    from logtemplatecrawler_spark.plans.template_pipeline import extract_templates

    spark = sess.spark
    pages_dir = os.path.join(args.input, "pages")
    out_dir = os.path.join(args.work, "out", "pipeline_dense")
    probe_dir = os.path.join(args.work, "out", "pipeline_dense_probe")
    n_pages = read_shape(args.input)["pages"]
    pages = spark.read.parquet(pages_dir)

    def one_pass():
        extract_templates(pages, dedup=True).write.mode("overwrite").parquet(out_dir)

    # untimed passes until the JVM is warm: in a fresh process the second
    # and third passes still run ~1.4x and ~1.3x slower than steady state
    for _ in range(3):
        ops.run("warmup", one_pass, counted=False)
    passes = []
    for i in range(op_count(args.seconds, 3.3, 3)):
        with tracer.span("pipeline.pass", i=i) as sp:
            ok, op, _ = ops.run("pass", one_pass)
        if ok:
            passes.append((op["s"], sp, op["cpu_s"]))
    res["pass_s"] = [p[0] for p in passes]
    res["pass_cpu_s"] = [p[2] for p in passes]
    res["output_dir"] = out_dir

    # Hostile-page probe: the corpus plus one deeply nested statement.  Its
    # failure is expected until the parser is bounded; it counts in the
    # failed operations, never in the pass timings.
    hostile = spark.read.parquet(pages_dir, os.path.join(args.input, "hostile"))

    def probe():
        extract_templates(hostile, dedup=True).write.mode("overwrite").parquet(probe_dir)

    ok, op, _ = ops.run("hostile_probe", probe)
    res["hostile_probe"] = {"ok": ok, "s": op["s"], "output_dir": probe_dir}
    res["rss_mb_by_process"] = tree_peak_rss_mb(os.getpid())

    if passes:
        med = statistics.median(p[0] for p in passes)
        cpu = statistics.median(p[2] for p in passes)
        res["e2e"] = {"pages_per_s": n_pages / med, "pass_p50_s": med,
                      "pass_cpu_p50_s": cpu, "pages_per_cpu_s": n_pages / cpu}
    if tracer.enabled and passes:
        res["layers"] = pipeline_layers(spark, pages, out_dir, tracer, passes,
                                        sess.cores)


def pipeline_layers(spark, pages, out_dir, tracer, passes, cores):
    """Self time of each layer, as the difference between cumulative
    prefixes of the plan that ``extract_templates`` builds, in its order."""
    from pyspark.sql import functions as F

    from logtemplatecrawler_spark.functions import columns as C
    from logtemplatecrawler_spark.operators.template_udfs import (
        extract_raws,
        parse_and_formalize,
    )
    from logtemplatecrawler_spark.plans.template_pipeline import (
        TEMPLATE_COLUMNS,
        dedup_templates,
    )

    p0 = pages.select("url", "text", "lang")
    p1 = p0.where(C.detect_hit(F.col("text"), F.col("lang"))).withColumn(
        "framework", C.framework(F.col("text"), F.col("lang")))
    p2 = p1.select("url", "lang", "framework", F.posexplode(
        extract_raws("text", "lang", "framework")).alias("stmt_idx", "raw"))
    p3 = (p2.withColumn("raw", C.normalize_raw(F.col("raw"), F.col("lang")))
          .where(C.keep_non_preprocessor(F.col("raw"), F.col("lang")))
          .where(C.prefilter_keep(F.col("raw"))))
    p4 = p3.withColumn("pr", parse_and_formalize("raw", "lang", "framework")).select(
        "url", "framework", "stmt_idx", "raw",
        F.col("pr.parsed_template").alias("parsed_template"),
        F.col("pr.arguments").alias("arguments"),
        F.col("pr.template").alias("template"),
    )
    p4 = (p4.where(F.col("parsed_template").isNotNull())
          .where(C.template_valid(F.col("parsed_template")))
          .where(F.col("template").isNotNull() & (F.length("template") > 0)
                 & (F.length("parsed_template") > 0))
          .withColumn("file", C.url_file(F.col("url"))))
    p5 = dedup_templates(p4).select(*TEMPLATE_COLUMNS)
    prefixes = [("sources.scan", p0), ("functions.columns.detect", p1),
                ("operators.template_udfs.extract", p2),
                ("functions.columns.prefilter", p3),
                ("operators.template_udfs.parse_formalize", p4),
                ("plans.template_pipeline.dedup", p5)]
    cum, counts, spans = {}, {}, {}
    for name, df in prefixes:
        with tracer.span(f"prefix:{name}") as sp:
            t0 = time.monotonic()
            noop(df)
            cum[name] = time.monotonic() - t0
        spans[name] = sp
        with tracer.span(f"count:{name}"):
            counts[name] = df.count()
    with tracer.span("sources.output_write"):
        t0 = time.monotonic()
        p5.write.mode("overwrite").parquet(out_dir + "_traced")
        t_write = time.monotonic() - t0
    names = [n for n, _ in prefixes]
    self_s = {n: cum[n] - (cum[names[i - 1]] if i else 0.0)
              for i, n in enumerate(names)}

    def ratio(a, b):
        return counts[a] / counts[b] if counts[b] else 0.0

    med_pass = statistics.median(p[0] for p in passes)
    pass_stats = merged_stats([p[1] for p in passes])
    n_pages = counts["sources.scan"]
    return {
        "sources.scan_s": self_s["sources.scan"],
        "sources.output_write_s": t_write - cum["plans.template_pipeline.dedup"],
        "functions.columns.detect_s": self_s["functions.columns.detect"],
        "functions.columns.detect_keep_ratio": ratio("functions.columns.detect", "sources.scan"),
        "functions.columns.prefilter_s": self_s["functions.columns.prefilter"],
        "functions.columns.prefilter_keep_ratio": ratio(
            "functions.columns.prefilter", "operators.template_udfs.extract"),
        "operators.template_udfs.extract_s": self_s["operators.template_udfs.extract"],
        "operators.template_udfs.statements_extracted": counts["operators.template_udfs.extract"],
        "operators.template_udfs.parse_formalize_s": self_s["operators.template_udfs.parse_formalize"],
        "operators.template_udfs.parse_yield": ratio(
            "operators.template_udfs.parse_formalize", "functions.columns.prefilter"),
        "plans.template_pipeline.dedup_s": self_s["plans.template_pipeline.dedup"],
        "plans.template_pipeline.dedup_keep_ratio": ratio(
            "plans.template_pipeline.dedup", "operators.template_udfs.parse_formalize"),
        "plans.template_pipeline.dedup_shuffle_bytes":
            spans["plans.template_pipeline.dedup"]["spark"]["shuffle_write_bytes"],
        "pipeline.executor_busy_frac": pass_stats["executor_run_s"] / (
            sum(p[0] for p in passes) * cores),
        "pipeline.task_skew": statistics.median(
            p[1]["spark"]["heaviest_stage_skew"] or 0.0 for p in passes),
        "_pages": n_pages,
        "_pass_p50_s": med_pass,
    }


# --- crawl_rounds ------------------------------------------------------------

def _crawl_tables(spark, input_dir):
    return (spark.read.parquet(os.path.join(input_dir, "pages")),
            spark.read.parquet(os.path.join(input_dir, "seeds.parquet")),
            spark.read.parquet(os.path.join(input_dir, "robots.parquet")))


def run_crawl_rounds(sess, args, tracer, ops, res):
    from logtemplatecrawler_spark.crawl.scheduler import CrawlConfig, run_crawl

    spark = sess.spark
    legs, budget = op_count(args.seconds, 10.0, 1), CRAWL_SHAPE["host_budget"]
    ck_root = os.path.join(args.work, "out", "crawl_rounds")
    shutil.rmtree(ck_root, ignore_errors=True)
    ckpt = os.path.join(ck_root, "checkpoint")
    pages, seeds, robots = _crawl_tables(spark, args.input)

    def crawl_to(n_rounds):
        return run_crawl(spark, pages, seeds, robots,
                         CrawlConfig(ckpt, host_budget=budget, max_rounds=n_rounds))

    # Round 0, from a fresh checkpoint, is the warm-up: a fresh JVM runs its
    # first round ~2x slower than later ones.
    ok0, _, m0 = ops.run("warmup", lambda: crawl_to(1), counted=False)
    res["warmup"] = {"ok": ok0, "rounds": m0}
    replay_copy = None
    if tracer.enabled and ok0:
        replay_copy = os.path.join(ck_root, "replay")
        shutil.copytree(ckpt, replay_copy)
    # Timed: resume legs, each resuming the checkpoint and running one round.
    res["legs"], leg_spans = [], []
    for i in range(legs):
        with tracer.span("crawl.resume_leg", i=i) as sp:
            ok, op, m = ops.run("crawl_leg", lambda i=i: crawl_to(2 + i))
        res["legs"].append({"ok": ok, "wall_s": op["s"], "cpu_s": op["cpu_s"], "rounds": m})
        leg_spans.append(sp)
    res["rounds_expected"] = 1 + legs
    res["rss_mb_by_process"] = tree_peak_rss_mb(os.getpid())
    timed = res["legs"]
    rounds = [r for leg in timed for r in (leg["rounds"] or [])]
    all_ok = all(leg["ok"] for leg in timed) and len(rounds) == legs
    if all_ok:
        wall = sum(leg["wall_s"] for leg in timed)
        popped = sum(r["popped"] for r in rounds)
        res["e2e"] = {
            "crawl_urls_per_s": popped / wall,
            "leg_cpu_min_s": min(leg["cpu_s"] for leg in timed),
            "urls_per_cpu_s": popped / sum(leg["cpu_s"] for leg in timed),
            "round_p50_s": statistics.median(r["elapsed_sec"] for r in rounds),
            "resume_s": statistics.median(leg["wall_s"] for leg in timed),
            "round_sum_s": sum(r["elapsed_sec"] for r in rounds),
            "legs_wall_s": wall,
        }
    if tracer.enabled and all_ok and replay_copy:
        res["layers"] = crawl_layers(spark, args, tracer, leg_spans, timed,
                                     replay_copy, ckpt, sess.cores)
    # correctness read-back (off the clock): frontier per round + templates
    res["readback"] = crawl_readback(spark, ckpt, budget)


def _dir_size(path):
    total, files = 0, 0
    for r, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(r, f))
                files += 1
    return total, files


def crawl_readback(spark, ckpt, budget):
    from logtemplatecrawler_spark.crawl.scheduler import (
        CrawlConfig,
        last_complete_round,
        load_frontier,
        read_all_templates,
    )

    cfg = CrawlConfig(ckpt, host_budget=budget)
    last = last_complete_round(cfg)
    if last is None:
        return None
    frontiers = [
        {r["url"]: [r["state"], r["priority"]]
         for r in load_frontier(spark, cfg, rnd).select("url", "state", "priority").collect()}
        for rnd in range(last + 1)
    ]
    templates = [
        [r["url"], r["stmt_idx"], r["raw"], r["parsed_template"], r["template"], r["round"]]
        for r in read_all_templates(spark, cfg).select(
            "url", "stmt_idx", "raw", "parsed_template", "template", "round").collect()
    ]
    return {"last_round": last, "frontiers": frontiers, "templates": templates}


def crawl_layers(spark, args, tracer, leg_spans, legs, replay_ckpt, ckpt, cores):
    """Job accounting of the timed legs from the status store, then a
    replay of one round's steps against a copy of the checkpoint as the
    warm-up round left it, each public function timed alone on pinned
    inputs."""
    from pyspark.sql import functions as F

    from logtemplatecrawler_spark.crawl import frontier as FR
    from logtemplatecrawler_spark.crawl.politeness import pop_per_host
    from logtemplatecrawler_spark.crawl.robots import (
        broadcast_fits,
        robots_prefixes,
        with_robots_blocked,
    )
    from logtemplatecrawler_spark.crawl.scheduler import (
        CrawlConfig,
        anti_join_committed,
        classify_fetch,
        discover_outlinks,
        last_complete_round,
        load_frontier,
        load_frontier_pending,
        load_neg_keys,
    )
    from logtemplatecrawler_spark.crawl.seen import (
        BroadcastBloom,
        build_bloom,
        filter_unseen,
    )
    from logtemplatecrawler_spark.plans.template_pipeline import (
        TEMPLATE_COLUMNS,
        extract_templates,
    )

    k = len(legs)  # one round per leg
    wall = sum(leg["wall_s"] for leg in legs)
    jobs = [j for sp in leg_spans for j in sp["spark"]["jobs"]]
    kinds = {}
    for j in jobs:
        kinds[job_kind(j["name"])] = kinds.get(job_kind(j["name"]), 0) + 1
    gap = sum(max(0.0, leg["wall_s"] - job_busy_union_s(sp["spark"]["jobs"]))
              for leg, sp in zip(legs, leg_spans))
    nbytes, nfiles = _dir_size(ckpt)
    out = {
        "crawl.scheduler.jobs_per_round": len(jobs) / k,
        "crawl.scheduler.executor_busy_frac": sum(
            sp["spark"]["executor_run_s"] for sp in leg_spans) / (wall * cores),
        "crawl.scheduler.driver_gap_s_per_round": gap / k,
        "crawl.jobs.python_action": kinds.get("python_action", 0) / k,
        "crawl.jobs.broadcast": kinds.get("broadcast", 0) / k,
        "crawl.jobs.write": kinds.get("write", 0) / k,
        # the checkpoint holds the warm-up round plus one round per leg
        "sources.table_format.bytes_written_per_round": nbytes / (k + 1),
        "sources.table_format.files_written_per_round": nfiles / (k + 1),
    }

    budget = CRAWL_SHAPE["host_budget"]
    cfg = CrawlConfig(replay_ckpt, host_budget=budget)
    pinned = []

    def timed(name, fn):
        with tracer.span(f"replay:{name}"):
            t0 = time.monotonic()
            value = fn()
            return time.monotonic() - t0, value

    def pin(df):
        df = df.persist()
        pinned.append(df)
        return df, df.count()

    t_lcr, rnd = timed("last_complete_round", lambda: last_complete_round(cfg))
    t_lf, _ = timed("load_frontier", lambda: noop(load_frontier(spark, cfg, rnd)))
    frontier, n_front = pin(load_frontier(spark, cfg, rnd))
    t_lp, _ = timed("load_frontier_pending", lambda: noop(load_frontier_pending(spark, cfg, rnd)))
    pending, n_pending = pin(load_frontier_pending(spark, cfg, rnd))
    t_ln, _ = timed("load_neg_keys", lambda: noop(load_neg_keys(spark, cfg, rnd)))
    neg, _ = pin(load_neg_keys(spark, cfg, rnd))

    pages, _, robots = _crawl_tables(spark, args.input)
    bcast = broadcast_fits(robots_prefixes(robots))
    gated_df = with_robots_blocked(pending, robots, broadcast=bcast)
    t_gate, _ = timed("robots.gate", lambda: noop(gated_df))
    gated, _ = pin(gated_df)
    n_blocked = gated.where(F.col("robots_blocked")).count()
    eligible = gated.where(~F.col("robots_blocked")).drop("robots_blocked")
    popped_df = pop_per_host(eligible, budget, salted=True)
    t_pop, _ = timed("politeness.pop", lambda: noop(popped_df))
    popped, n_popped = pin(popped_df)
    pages_kv = pages.select(FR.canonicalize_url(F.col("url")).alias("url"),
                            "warc_ts", "html", "text", "lang")
    fetched_df = classify_fetch(popped, pages_kv, cfg.min_page_bytes)
    t_fetch, _ = timed("fetch", lambda: noop(fetched_df))
    fetched, _ = pin(fetched_df)
    good = fetched.where(F.col("fetch_state") == FR.STATE_DONE)
    n_done = good.count()
    tmpl_df = extract_templates(good.select("url", "warc_ts", "html", "text", "lang"), dedup=True)
    t_tmpl, _ = timed("template_batch", lambda: noop(tmpl_df))
    templates, n_tmpl = pin(tmpl_df)
    t_neg, _ = timed("neg_anti_join", lambda: noop(
        anti_join_committed(templates, neg, n_batch=n_tmpl)))
    t_disc, _ = timed("discover", lambda: noop(discover_outlinks(good)))
    candidates, n_cand = pin(discover_outlinks(good))
    t_bloom, bloom = timed("seen.bloom_build",
                           lambda: build_bloom(frontier, min_keys=cfg.bloom_min_keys))
    keyed = FR.with_frontier_keys(candidates, n_salts=cfg.n_salts)
    bb = BroadcastBloom(spark.sparkContext, bloom) if bloom is not None else None
    new_df = filter_unseen(keyed, frontier, bb)
    t_unseen, _ = timed("seen.filter_unseen", lambda: noop(new_df))
    n_new = new_df.count()
    if bb is not None:
        bb.unpersist()

    fmt = cfg.table_format
    front_cols = ["url", "url_hash", "host", "salt", "priority", "depth"]
    delta = fetched.select(*front_cols, F.col("fetch_state").alias("state"),
                           "round_added", F.lit(rnd + 1).alias("updated_round"))
    delta, _ = pin(delta)
    scratch = os.path.join(os.path.dirname(replay_ckpt), "replay_writes")
    t_wd, _ = timed("table_format.write_delta", lambda: fmt.write_delta(
        delta, os.path.join(scratch, "frontier_deltas"), rnd + 1))
    snap = templates.select(*TEMPLATE_COLUMNS).withColumn("round", F.lit(rnd + 1))
    t_ws, _ = timed("table_format.write_snapshot", lambda: fmt.write_snapshot(
        snap, os.path.join(scratch, "templates")))
    for df in pinned:
        df.unpersist()

    out.update({
        "crawl.scheduler.load_frontier_s": t_lf,
        "crawl.scheduler.load_frontier_pending_s": t_lp,
        "crawl.scheduler.load_neg_keys_s": t_ln,
        "crawl.scheduler.fetch_s": t_fetch,
        "crawl.scheduler.fetch_done_ratio": n_done / n_popped if n_popped else 0.0,
        "crawl.scheduler.neg_anti_join_s": t_neg,
        "crawl.scheduler.discover_s": t_disc,
        "crawl.template_batch_s": t_tmpl,
        "crawl.robots.gate_s": t_gate,
        "crawl.robots.blocked_ratio": n_blocked / n_pending if n_pending else 0.0,
        "crawl.politeness.pop_s": t_pop,
        "crawl.politeness.popped": n_popped,
        "crawl.seen.bloom_build_s": t_bloom,
        "crawl.seen.filter_unseen_s": t_unseen,
        "crawl.seen.new_ratio": n_new / n_cand if n_cand else 0.0,
        "sources.table_format.write_delta_s": t_wd,
        "sources.table_format.write_snapshot_s": t_ws,
        "crawl.resume.read_s": t_lcr + t_lf + t_lp + t_ln,
        "_replay_round": rnd,
        "_replay_frontier_rows": n_front,
        "_bloom_built": bloom is not None,
    })
    return out


# --- harness_suite -----------------------------------------------------------

def run_harness(sess, args, tracer, ops, res):
    from logtemplatecrawler_spark.plans.harness import QUERIES

    spark = sess.spark
    sf = args.input
    out_dir = os.path.join(args.work, "out", "harness_suite")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    res["harness_out"] = out_dir

    # warm-up pass, collected for the correctness check in run.py
    for leaf in HARNESS_LEAVES:
        def collect(leaf=leaf):
            canonical_rows(QUERIES[leaf](spark, sf).toPandas()).to_parquet(
                os.path.join(out_dir, f"{leaf}.parquet"))
        ops.run(f"warmup:{leaf}", collect, counted=False)

    passes = []
    for i in range(op_count(args.seconds, 10.0, 2)):
        times, spans, cpus = {}, {}, {}
        for leaf in HARNESS_LEAVES:
            with tracer.span(f"leaf:{leaf}", family=family(leaf), i=i) as sp:
                ok, op, _ = ops.run(f"leaf:{leaf}", lambda leaf=leaf: noop(QUERIES[leaf](spark, sf)))
            if ok:
                times[leaf], spans[leaf], cpus[leaf] = op["s"], sp, op["cpu_s"]
        passes.append((times, spans, cpus))
    res["rss_mb_by_process"] = tree_peak_rss_mb(os.getpid())
    full = [p for p in passes if len(p[0]) == len(HARNESS_LEAVES)]
    res["leaf_s"] = {leaf: [p[0].get(leaf) for p in passes] for leaf in HARNESS_LEAVES}
    if full:
        sums = [sum(p[0].values()) for p in full]
        geos = [math.exp(statistics.fmean(math.log(t) for t in p[0].values())) for p in full]
        res["e2e"] = {"suite_s": statistics.median(sums),
                      "leaf_geomean_s": statistics.median(geos),
                      "suite_cpu_s": statistics.median(sum(p[2].values()) for p in full),
                      "leaves": len(HARNESS_LEAVES)}
    if tracer.enabled and full:
        out = {}
        for fam in FAMILIES:
            leaves = [lf for lf in HARNESS_LEAVES if family(lf) == fam]
            secs = [sum(p[0][lf] for lf in leaves) for p in full]
            st = merged_stats([full[0][1][lf] for lf in leaves])
            out[f"plans.harness.{fam}.s"] = statistics.median(secs)
            out[f"plans.harness.{fam}.shuffle_bytes"] = (
                st["shuffle_read_bytes"] + st["shuffle_write_bytes"])
            out[f"plans.harness.{fam}.spill_bytes"] = st["spill_bytes"]
            out[f"plans.harness.{fam}.task_skew"] = st["heaviest_stage_skew"]
        res["layers"] = out


WORKLOADS = {
    "pipeline_dense": run_pipeline,
    "crawl_rounds": run_crawl_rounds,
    "harness_suite": run_harness,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    res = {"workload": args.workload, "seed": args.seed, "cores": cores,
           "trace": args.trace}
    sess = Session(cores)
    ops = Ops()
    try:
        # set-up: one cold start, then restarts in the same JVM; the
        # reported value is the median of all of them
        res["setup"] = [sess.start()] + [sess.restart() for _ in range(SETUP_RESTARTS)]
        t0 = time.monotonic()
        run_id = f"{args.workload}-seed{args.seed}-{int(time.time() * 1000)}"
        tracer = Tracer(sess.spark, run_id, enabled=bool(args.trace))
        WORKLOADS[args.workload](sess, args, tracer, ops, res)
        res["workload_s"] = time.monotonic() - t0
        if tracer.enabled:
            trace_path = os.path.join(args.work, "traces", f"{run_id}.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            tracer.dump(trace_path, {"layers": res.get("layers")})
            res["trace_file"] = trace_path
    finally:
        sess.stop()
    res["ops"] = ops.log
    res["attempted"], res["failed"] = ops.counts()
    with open(args.out, "w") as fh:
        json.dump(res, fh, default=str)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Correctness checks, run off the clock after the workload's process exits.

* pipeline_dense: output rows equal ``core.pipeline.dedup_rows`` over
  ``process_page`` for the same pages (the single-process run also gives
  ``core.pages_per_s_1proc``).
* crawl_rounds: after the warm-up round and the resume legs, frontier
  states and priorities, pop order and templates equal an uninterrupted
  crawl of as many rounds by ``tests/test_crawl.py::oracle_crawl``.
* harness_suite: each leaf's sorted rows equal its DuckDB twin in
  ``plans.harness.ORACLES``, compared as ``scripts/check_oracles.py`` does.

Each check returns ``(mismatches, details)``.
"""

from __future__ import annotations

import os
import time

from inputs import read_crawl_tables, read_pages

_TEMPLATE_KEY = ("url", "file", "stmt_idx", "framework", "raw",
                 "parsed_template", "arguments", "template")


def _row_key(r):
    return tuple(tuple(r[k]) if k == "arguments" else r[k] for k in _TEMPLATE_KEY)


def check_pipeline(input_dir: str, result: dict):
    import pyarrow.parquet as pq

    from logtemplatecrawler_spark.core.pipeline import dedup_rows, process_page

    pages = read_pages(os.path.join(input_dir, "pages"))
    t0 = time.monotonic()
    rows = [r for p in pages for r in process_page(p["url"], p["text"], p["lang"])]
    core_s = time.monotonic() - t0
    want = sorted(map(_row_key, dedup_rows(rows)))
    details = {"core_s": core_s, "core_pages_per_s_1proc": len(pages) / core_s,
               "template_rows_core": len(rows), "oracle_rows": len(want)}
    mismatches = 0
    if not result.get("pass_s"):
        details["output"] = "no successful pass"
    else:
        got = sorted(map(_row_key, pq.read_table(result["output_dir"]).to_pylist()))
        details["output_rows"] = len(got)
        if got != want:
            mismatches += 1
            details["output"] = "MISMATCH"
        else:
            details["output"] = "equal"
    probe = result.get("hostile_probe") or {}
    if probe.get("ok"):
        # the probe passed: its rows must be the corpus oracle plus whatever
        # the core makes of the hostile page
        hostile = read_pages(os.path.join(input_dir, "hostile"))[0]
        try:
            extra = process_page(hostile["url"], hostile["text"], hostile["lang"])
        except RecursionError:
            details["hostile_probe_output"] = "unchecked: core oracle raises"
        else:
            want_probe = sorted(map(_row_key, dedup_rows(rows + extra)))
            got = sorted(map(_row_key, pq.read_table(probe["output_dir"]).to_pylist()))
            ok = got == want_probe
            mismatches += 0 if ok else 1
            details["hostile_probe_output"] = "equal" if ok else "MISMATCH"
    return mismatches, details


def _pop_order(frontiers, n_rounds):
    order, prev = [], {}
    for rnd in range(n_rounds):
        snap = frontiers[rnd]
        for url, (state, _prio) in snap.items():
            if prev.get(url, "pending") == "pending" and state in ("done", "missing", "too_small"):
                order.append((rnd, url))
        prev = {u: v[0] for u, v in snap.items()}
    return sorted(order)


def check_crawl(input_dir: str, result: dict, budget: int):
    from tests.test_crawl import oracle_crawl

    back = result.get("readback")
    if not back:
        return 1, {"readback": "missing"}
    if not all(leg["ok"] for leg in result["legs"]):
        # a failed leg is already counted as a failed operation
        return 0, {"crawl": "unchecked: a leg failed"}
    pages, seeds, robots = read_crawl_tables(input_dir)
    n = result["rounds_expected"]
    if back["last_round"] != n - 1:
        return 1, {"crawl": f"MISMATCH: checkpoint ends at round {back['last_round']}"}
    # round 0 ran from a fresh checkpoint, every later round from a resume;
    # together they must equal one uninterrupted crawl of n rounds
    frontier, order, templates = oracle_crawl(
        pages, seeds, robots, budget=budget, max_rounds=n)
    bad = []
    if back["frontiers"][n - 1] != {u: [v["state"], v["priority"]]
                                     for u, v in frontier.items()}:
        bad.append("frontier")
    if _pop_order(back["frontiers"], n) != sorted(order):
        bad.append("pop_order")
    want_tmpl = {(t["url"], t["stmt_idx"], t["raw"], t["parsed_template"],
                  t["template"], t["round"]) for t in templates}
    if {tuple(t) for t in back["templates"]} != want_tmpl:
        bad.append("templates")
    e2e = result.get("e2e") or {}
    if e2e and e2e["round_sum_s"] > e2e["legs_wall_s"]:
        bad.append("per-round elapsed exceeds the legs' wall time")
    details = {"crawl": "equal" if not bad else f"MISMATCH: {bad}",
               "rounds_checked": n, "templates": len(want_tmpl)}
    return len(bad), details


def canonical_rows(pdf):
    """check_oracles.py's comparison form: columns sorted by name, rows
    sorted, every value as its string."""
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols, ignore_index=True).astype(str)


def check_harness(input_dir: str, result: dict, leaves, work_dir: str):
    import duckdb
    import pandas as pd

    from logtemplatecrawler_spark.plans.harness import ORACLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb_tmp')}'")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")
    out_dir = result["harness_out"]
    mismatches, details = 0, {}
    for leaf in leaves:
        path = os.path.join(out_dir, f"{leaf}.parquet")
        if not os.path.exists(path):
            details[leaf] = "no Spark result"  # its failure is already counted
            continue
        s = pd.read_parquet(path)
        o = canonical_rows(con.execute(ORACLES[leaf]).fetchdf())
        ok = (list(s.columns) == list(o.columns) and s.shape == o.shape
              and bool((s.values == o.values).all()))
        mismatches += 0 if ok else 1
        details[leaf] = f"rows={len(s)}/{len(o)} " + ("equal" if ok else "MISMATCH")
    con.close()
    return mismatches, details

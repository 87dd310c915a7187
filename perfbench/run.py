#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation, results as JSON.

    python3 perfbench/run.py --workload pipeline_dense --seed 1 --seconds 10 --trace 0

Workloads: pipeline_dense, crawl_rounds, harness_suite (see README.md).
Inputs are generated from ``--seed`` off the clock and cached under
``perfbench/_work``.  The Spark side runs in a fresh child process
(worker.py); the correctness check runs here after it exits.

Standard output ends with two lines: every metric this workload defines,
by name and unit, then the summary object
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are the
end-to-end set (``--trace 0``) or the per-layer set (``--trace 1``) of
BENCHMARK.json.  The exit code is non-zero on any correctness mismatch or
when the program under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CHILD_DEADLINE_S = 165  # the whole run must end within 180 s

# harness_suite is not in BENCHMARK.json: one run costs ~70 s at local[4],
# more than the benchmark's fixed time budget leaves next to the other two.
# It runs on demand with the same command.
WORKLOADS = ("pipeline_dense", "crawl_rounds", "harness_suite")


def load_spec():
    """Metric names and units: BENCHMARK.json is the single list of record."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _metric(value, unit):
    return {"value": value, "unit": unit}


def run_worker(args, input_dir: str, out_path: str, deadline_s: float) -> int:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        # Cap the JVM heap: with the 8 GB default, the JVM's resident size
        # follows how lazily G1 grows the heap, not what the run needs.
        "SPARK_DRIVER_MEM": "2g",
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--input", input_dir, "--work", WORK, "--out", out_path]
    log_path = out_path[:-len(".json")] + ".log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=WORK, env=env, start_new_session=True)
        try:
            return proc.wait(timeout=deadline_s)
        except subprocess.TimeoutExpired:
            return -1
        finally:
            # the JVM and Python workers live in the child's session: stop
            # them all, and wait for the child itself
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def e2e_metrics(workload: str, res: dict, e2e_units: dict):
    """(the contract's end-to-end metrics, every metric this workload
    defines by name).  ``op_cpu_s`` is the CPU cost of one of the
    workload's operations (README.md)."""
    e = res.get("e2e") or {}
    attempted, failed = res["attempted"], res["failed"]
    named = {
        "setup_s": _metric(statistics.median(x["cpu_s"] for x in res["setup"]), "s"),
        "setup_wall_s": _metric(statistics.median(x["s"] for x in res["setup"]), "s"),
        "peak_rss_mb": _metric(sum(res["rss_mb_by_process"].values()), "MB"),
        "failed_frac": _metric(failed / attempted if attempted else 1.0, "ratio"),
    }
    op = None
    if workload == "pipeline_dense" and e:
        named["pages_per_s"] = _metric(e["pages_per_s"], "pages/s")
        named["pass_p50_s"] = _metric(e["pass_p50_s"], "s")
        named["pages_per_cpu_s"] = _metric(e["pages_per_cpu_s"], "pages/s")
        named["pass_cpu_p50_s"] = _metric(e["pass_cpu_p50_s"], "s")
        op = e["pass_cpu_p50_s"]
    elif workload == "crawl_rounds" and e:
        named["crawl_urls_per_s"] = _metric(e["crawl_urls_per_s"], "URLs/s")
        named["round_p50_s"] = _metric(e["round_p50_s"], "s")
        named["resume_s"] = _metric(e["resume_s"], "s")
        named["urls_per_cpu_s"] = _metric(e["urls_per_cpu_s"], "URLs/s")
        named["leg_cpu_min_s"] = _metric(e["leg_cpu_min_s"], "s")
        op = e["leg_cpu_min_s"]
    elif workload == "harness_suite" and e:
        named["suite_s"] = _metric(e["suite_s"], "s")
        named["leaf_geomean_s"] = _metric(e["leaf_geomean_s"], "s")
        named["suite_cpu_s"] = _metric(e["suite_cpu_s"], "s")
        op = e["suite_cpu_s"]
    values = {"setup_s": named["setup_s"]["value"],
              "peak_rss_mb": named["peak_rss_mb"]["value"],
              "op_cpu_s": op}
    contract = {k: _metric(values[k], u) for k, u in e2e_units.items()
                if values.get(k) is not None}
    return contract, named


def input_shape(workload: str, input_dir: str, res: dict) -> dict:
    from inputs import read_shape

    shape = read_shape(input_dir)
    if workload == "crawl_rounds":
        rounds = (res["warmup"]["rounds"] or []) + [
            r for leg in res["legs"] for r in (leg["rounds"] or [])]
        shape["rounds_run"] = len(rounds)
        shape["urls_popped_per_round"] = [r["popped"] for r in rounds]
    return shape


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "logtemplatecrawler_spark", "__init__.py")):
        print(f"program package logtemplatecrawler_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from inputs import BUILDERS, CRAWL_SHAPE

    input_dir = BUILDERS[args.workload](WORK, args.seed)
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_path = os.path.join(runs, f"{tag}.json")
    if os.path.exists(out_path):
        os.remove(out_path)
    deadline = CHILD_DEADLINE_S - (time.monotonic() - t_start)
    code = run_worker(args, input_dir, out_path, deadline)
    if code != 0 or not os.path.exists(out_path):
        print(f"workload process failed (exit {code}); log: {out_path[:-5]}.log",
              file=sys.stderr)
        return 1
    with open(out_path) as fh:
        res = json.load(fh)

    import oracles
    t_check = time.monotonic()
    if args.workload == "pipeline_dense":
        mismatches, checks = oracles.check_pipeline(input_dir, res)
    elif args.workload == "crawl_rounds":
        mismatches, checks = oracles.check_crawl(
            input_dir, res, CRAWL_SHAPE["host_budget"])
    else:
        from worker import HARNESS_LEAVES
        mismatches, checks = oracles.check_harness(input_dir, res, HARNESS_LEAVES, WORK)
    checks["check_s"] = time.monotonic() - t_check
    attempted = res["attempted"]
    failed = res["failed"] + mismatches
    res["attempted"], res["failed"] = attempted, failed

    e2e_units, layer_units = load_spec()
    if args.workload == "harness_suite":
        from worker import HARNESS_LAYERS as layer_units
    contract, named = e2e_metrics(args.workload, res, e2e_units)
    correct = mismatches == 0 and len(contract) == len(e2e_units)
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": res["cores"],
        "trace": args.trace, "metrics": named, "input": input_shape(args.workload, input_dir, res),
        "correctness": checks,
        "failures": [o for o in res["ops"] if not o["ok"]],
    }
    if args.workload == "pipeline_dense":
        detail["hostile_probe"] = res.get("hostile_probe")

    if args.trace:
        layers = dict(res.get("layers") or {})
        if args.workload == "pipeline_dense" and "_pass_p50_s" in layers:
            core_rate = checks["core_pages_per_s_1proc"]
            layers["core.pages_per_s_1proc"] = core_rate
            layers["core.parallel_eff"] = (
                layers["_pages"] / layers["_pass_p50_s"]) / (res["cores"] * core_rate)
        # a layer this workload does not run reports 0
        detail["layers_not_exercised"] = [k for k in layer_units if k not in layers]
        metrics = {k: _metric(float(layers.get(k) or 0.0), u) for k, u in layer_units.items()}
        detail["trace_file"] = res.get("trace_file")
        untraced = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace0.summary.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            detail["trace_overhead"] = {
                k: named[k]["value"] - base[k]["value"] for k in named if k in base}
        else:
            detail["trace_overhead"] = "no untraced run of this workload and seed on record"
    else:
        metrics = contract
        with open(os.path.join(runs, f"{tag}.summary.json"), "w") as fh:
            json.dump(named, fh)

    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())

"""Tiny-size self-test of the benchmark harness.

    python3 perfbench/run.py --self-test

Checks, at tiny input sizes:
  - every workload emits every end-to-end metric with its catalogue unit,
    and its outputs pass their checks;
  - a traced run emits every per-layer metric, with real walls and row
    counts for every pipeline stage;
  - a report with one planted pair split fails its check and counts as a
    failed operation, and a query that threw counts as one failure, not
    two;
  - another seed changes the inputs but not the metric names;
  - BENCHMARK.json (when present) lists exactly the catalogue's metrics.
Exits non-zero on the first failed check.
"""

import argparse
import json
import os

import run


def _run(root, workload, seed, trace=0, corrupt=False):
    args = argparse.Namespace(workload=workload, seed=seed, trace=trace)
    res = run.measure(root, args, tiny=True, corrupt=corrupt)
    return res, run.result_line(args, res)


def main(root):
    failures = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    units = {n: u for n, u, _ in run.END_TO_END + run.PER_LAYER}
    names = {}
    for w in run.WORKLOADS:
        res, line = _run(root, w, 1)
        got = line["metrics"]
        check(set(got) == {n for n, _, _ in run.END_TO_END}, f"{w}: every end-to-end metric")
        check(all(got[n]["unit"] == units[n] for n in got), f"{w}: units match the catalogue")
        check(line["correct"] and line["failed"] == 0 and line["attempted"] > 0,
              f"{w}: outputs pass their checks ({res['failures'][:3]})")
        names[w] = (set(res["metrics"]), res["info"].get("input_digest"))

    res, line = _run(root, "pipeline_stream", 1, trace=1)
    got = line["metrics"]
    check(set(got) == {n for n, _, _ in run.PER_LAYER}, "trace: every per-layer metric")
    measured = set(res["metrics"])
    for s in run.STAGES:
        check(got[f"{s}.wall_s"]["value"] > 0 and got[f"{s}.rows_out"]["value"] > 0
              and f"{s}.rows_out" in measured, f"trace: {s} has a wall and a row count")
    for n in ("trace.unattributed_s", "trace.overhead_s", "scaling.eff_1to4",
              "checkpoint.commit_s", "streaming.state_bytes", "kernel.lcs_us"):
        check(n in measured, f"trace: {n} measured")

    res, line = _run(root, "pipeline_stream", 1, corrupt=True)
    check(not line["correct"] and line["failed"] >= 1,
          f"a split planted pair fails its check (failed={line['failed']})")

    res = {"attempted": 3, "failed": 1, "failures": ["q#0: RuntimeException: boom"], "info": {}}
    run.count_check_failures(res, {("passes/0", "q"): "no result written",
                                   ("passes/0", "r"): "rows differ", ("passes/0", "s"): None})
    check(res["failed"] == 2, f"a query that threw counts once (failed={res['failed']})")

    for w in run.WORKLOADS:
        res, _ = _run(root, w, 2)
        check(res["info"].get("input_digest") != names[w][1], f"{w}: seed 2 changes the inputs")
        check(set(res["metrics"]) == names[w][0], f"{w}: seed 2 keeps the metric names")

    bench = os.path.join(root, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as f:
            b = json.load(f)
        check(b["workloads"] and [w["name"] for w in b["workloads"]] == list(run.WORKLOADS),
              "BENCHMARK.json: workloads")
        check([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] == run.END_TO_END,
              "BENCHMARK.json: end_to_end metrics")
        check([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == run.PER_LAYER,
              "BENCHMARK.json: per_layer metrics")

    print(f"self-test: {len(failures)} failed", flush=True)
    return 1 if failures else 0

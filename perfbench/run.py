"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run it from the repository root. The first run compiles the engine and the
harness (perfbench/build.sh) into $CARGO_TARGET_DIR (default .bench_build);
later runs reuse the classes while the sources are unchanged. A run makes
its inputs from --seed, times one cold pass of the workload's user-facing
operations in a fresh JVM, checks every output, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are END_TO_END; with --trace 1 they are PER_LAYER
(a layer a workload does not reach reads 0). --seconds is accepted and not
used: one cold pass already takes 20-60 s on a 4-vCPU host.

All scratch data (inputs, outputs, checkpoints, state roots, Spark's local
dirs) lives under .bench_work/ in the repository root and is deleted before
the run exits.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("pipeline_stream", "operator_suite")

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("stored_bytes_per_input_byte", "B/B", "lower"),
    ("dup_pair_recall", "ratio", "higher"),
    ("dup_pair_precision", "ratio", "higher"),
]

STAGES = ("st0_extract", "st0b_contents", "st1_signatures", "st2_candidates",
          "st3_verify", "st4_cluster", "st5_report")
STAGE_FIELDS = [("wall_s", "s", "lower"), ("rows_out", "count", "lower"),
                ("cpu_s", "s", "lower"), ("wait_s", "s", "lower"), ("gc_s", "s", "lower"),
                ("shuffle_write_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower"),
                ("task_skew", "ratio", "lower")]
# the SparkEntry queries operator_suite runs (all but the five whole-pipeline
# runs, which pipeline_stream times through Main.run)
QUERIES = ("alpha_counts", "ann_top1", "asset_meta", "bpe_token_counts", "canonical_pick",
           "doc_fingerprint", "emb_neardup", "emb_norms", "events_hourly", "exact_dup_groups",
           "exact_dup_stats", "exact_group_sizes", "host_stats", "ivf_top1", "jaccard_pairs",
           "knn_top3", "lang_id", "lang_stats", "length_filter", "nation_rollup", "part_stats",
           "props_extract", "q1_agg", "q3_top_orders", "quality", "redundant_bytes",
           "sessions_30m", "simhash_planted", "source_stats", "supplier_nations",
           "token_counts", "url_canon_groups", "winnow_fp", "winnow_grams")

PER_LAYER = (
    [(f"{s}.{f}", u, b) for s in STAGES for (f, u, b) in STAGE_FIELDS]
    + [("st2_candidates.band_rows", "count", "lower"),
       ("st2_candidates.pairs_per_doc", "ratio", "lower"),
       ("st2_candidates.salted_groups", "count", "lower"),
       ("st2_candidates.dropped_groups", "count", "lower"),
       ("st3_verify.pass_rate", "ratio", "higher"),
       ("st3_verify.lcs_calls", "count", "lower"),
       ("st4_cluster.edges", "count", "lower"),
       ("st4_cluster.components", "count", "lower")]
    + [(f"kernel.{k}_us", "us", "lower")
       for k in ("extract", "shingle", "minhash", "simhash", "jaccard", "lcs", "winnow")]
    + [("checkpoint.commit_s", "s", "lower"), ("checkpoint.load_s", "s", "lower"),
       ("checkpoint.bytes_written", "bytes", "lower"), ("checkpoint.resume_s", "s", "lower"),
       ("streaming.state_files", "count", "lower"), ("streaming.state_bytes", "bytes", "lower"),
       ("streaming.edges_est_only", "count", "lower"),
       ("streaming.edges_exact_verified", "count", "higher"),
       ("streaming.batch_wall_s", "s", "lower"),
       ("scaling.eff_1to4", "ratio", "higher"), ("jvm.peak_heap_mb", "MB", "lower"),
       ("trace.unattributed_s", "s", "lower"), ("trace.overhead_s", "s", "lower")]
    + [(f"query.{q}.wall_s", "s", "lower") for q in QUERIES]
)

# workload-specific figures the run prints beside the metrics (info keys)
FIGURES = {
    "pipeline_stream": [("main_run_s", "s"), ("resume_s", "s"), ("stream_s", "s"),
                        ("batch_latency_s", "s")],
    "operator_suite": [("suite_s", "s")],
}

# the harness is killed after this many seconds, which leaves the oracle
# checks and clean-up room inside the 180 s a run may take
RUN_LIMIT_S = 165
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def heap():
    """A quarter of the host's memory, between 1 and 4 GiB."""
    total_kb = 4 << 20
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build(root):
    """Compiles engine + harness unless the sources are unchanged."""
    srcs = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    srcs.append(os.path.join(HERE, "build.sh"))
    h = hashlib.sha256()
    for p in sorted(srcs):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(out, "perfbench-classes")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        log("compiling engine and harness")
        t0 = time.time()
        r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes], cwd=root,
                           env=dict(os.environ, SPARK_JARS=spark_jars()))
        if r.returncode != 0:
            raise SystemExit(f"build failed (exit {r.returncode})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def cpu_ticks():
    """The host's cumulative CPU ticks from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def remove_tree(path):
    """Deletes a tree, every _SUCCESS marker first, so an interrupted delete
    never leaves a partial table that still looks committed."""
    if not os.path.exists(path):
        return
    for d, _, files in os.walk(path):
        if "_SUCCESS" in files:
            os.remove(os.path.join(d, "_SUCCESS"))
    shutil.rmtree(path, ignore_errors=True)


def run_jvm(classes, work, args, deadline, extra):
    """Runs the harness; returns its result JSON."""
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{spark_jars()}/*", "perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--trace", str(args.trace),
              "--work", work, "--cpus", str(cpus()), "--out", out] + list(extra))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(logf, errors="replace") as lf:
            tail = lf.read()[-4000:]
        raise SystemExit(f"harness exited with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def operator_setup(work, seed, scale, reps=9):
    import tables
    d = os.path.join(work, "input", "tables")
    ts = []
    for _ in range(reps):
        remove_tree(d)
        t0 = time.perf_counter()
        tables.generate(d, seed, scale)
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def operator_checks(work, res):
    """Every query result of every pass against its DuckDB oracle."""
    import oracle
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    passes = os.path.join(work, "passes")
    verdicts = oracle.check(os.path.join(work, "input", "tables"),
                            [os.path.join(passes, p) for p in sorted(os.listdir(passes))],
                            sql, QUERIES)
    count_check_failures(res, verdicts)


def count_check_failures(res, verdicts):
    """Adds the failed oracle checks to `res`. A query that threw is
    already counted as failed by the harness (as `name#pass`) and is not
    counted again."""
    threw = {f.split(":", 1)[0] for f in res["failures"]}
    for (pass_dir, name), why in sorted(verdicts.items()):
        if why is not None and f"{name}#{os.path.basename(pass_dir)}" not in threw:
            res["failed"] += 1
            res["failures"].append(f"{name} in {os.path.basename(pass_dir)}: {why}")
    res["info"]["oracle_checks_passed"] = sum(1 for v in verdicts.values() if v is None)


def measure(root, args, tiny=False, corrupt=False):
    """One run; returns the harness result with the workload's checks done.
    `tiny` shrinks every input (self-test); `corrupt` splits one planted
    pair in the first scored report."""
    classes = build(root)
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    remove_tree(work)
    os.makedirs(work)
    try:
        setup = (operator_setup(work, args.seed, 0.02 if tiny else 0.1)
                 if args.workload == "operator_suite" else None)
        extra = ["--size", "tiny" if tiny else "full", "--corrupt", "1" if corrupt else "0"]
        t0 = cpu_ticks()
        res = run_jvm(classes, work, args, deadline, extra)
        t1 = cpu_ticks()
        if t0 and t1 and len(t0) > 7:
            # share of the host's CPU time taken by other tenants ("steal")
            # while the harness ran: the main source of run-to-run spread
            d = [y - x for x, y in zip(t0, t1)]
            res["info"]["host_steal_share"] = d[7] / max(1, sum(d))
        if setup is not None:
            res["metrics"]["setup_s"] = {"value": setup, "unit": "s"}
            operator_checks(work, res)
        return res
    finally:
        remove_tree(work)
        try:
            os.rmdir(os.path.join(root, ".bench_work"))
        except OSError:
            pass


def result_line(args, res):
    got = res["metrics"]
    if args.trace:
        metrics = {n: got.get(n, {"value": 0.0, "unit": u}) for n, u, _ in PER_LAYER}
    else:
        missing = [n for n, _, _ in END_TO_END if n not in got or got[n]["value"] is None]
        if missing:
            raise SystemExit(f"end-to-end metrics not measured: {missing}")
        metrics = {n: got[n] for n, _, _ in END_TO_END}
    for n, u, _ in END_TO_END + PER_LAYER:
        if n in metrics and metrics[n]["unit"] != u:
            raise SystemExit(f"metric {n} has unit {metrics[n]['unit']}, expected {u}")
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10, help="accepted, not used")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "Main.scala")):
        raise SystemExit("perfbench: run from the repository root (src/main/scala not found)")
    if args.self_test:
        import selftest
        raise SystemExit(selftest.main(root))
    if args.workload is None:
        ap.error("--workload is required")

    res = measure(root, args)
    line = result_line(args, res)
    info = res["info"]
    figures = [f"{k}={info[k]:.4f} {u}" for k, u in FIGURES[args.workload] if k in info]
    figures.append(f"failed_op_frac={res['failed'] / max(1, res['attempted']):.4f}")
    if "host_steal_share" in info:
        figures.append(f"host_steal_share={info['host_steal_share']:.3f}")
    print(f"# {args.workload} seed={args.seed}: " + ", ".join(figures))
    print("# inputs: " + json.dumps(info, sort_keys=True))
    for f in res["failures"][:20]:
        print(f"# FAILED {f}")
    print(json.dumps(line))


if __name__ == "__main__":
    main()

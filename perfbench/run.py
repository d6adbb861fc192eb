#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the engine and the harness with sbt when their sources changed
(compile time is never measured), generate the input tables once per
generator digest, run the workload in one JVM (perfbench.Harness), check the
written outputs against the DuckDB oracle off the clock
(scripts/oracle_check.py over SparkEntry.oracleSql), and print the metrics.
With --trace 0 they are the end-to-end metrics, with --trace 1 the per-layer
metrics. The last line of stdout is one JSON object with exactly the keys
correct, attempted, failed and metrics. Every run also writes its full
record, provenance included, to .bench_build/runs/<workload>-s<seed>-t<trace>/
result.json, and prints each metric by name and unit on stderr.

Exit status: 0 for a correct run; 1 when any op threw or failed the oracle
(the failing queries are named on stderr and in result.json); 2 and no
result when this is not an engine checkout; 3 for build or harness errors.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
from analyze import end_to_end, per_layer  # noqa: E402
from stats import count_failures  # noqa: E402

# Query -> module of the public function the query calls ("relational" for
# plain DataFrame plans). The module.<m>.op_s metrics sum op time by it.
MODULE_OF = {
    "q30_cdc_changes": "warehouse", "q33_meta_etl": "meta",
    "q34_flatten_inline": "mapper", "q117_stream_dedup": "streaming",
    "q21_token_stats": "text", "q25_ngram_jaccard": "dedup",
    "q27_ann_topk": "similarity", "q39_embedding_neardup": "dedup",
    "q01_pricing_summary": "relational", "selftest_fail": "relational",
}

# name -> (sink, input scale factor, queries). lake_etl is one op per
# feature of the reference's lake loads (CDC, metadata-driven load, nested
# flattening, stream ingest with its state in the memory state store), each
# result written as parquet through sources.DataWriter.write;
# corpus_curation runs curation kernels (n-gram jaccard, text stats,
# cosine top-k, embedding near-dups) into Spark's noop sink. Every op costs
# seconds cold, so the lists are short: a run must fit the time budget.
WORKLOADS = {
    "lake_etl": ("parquet", 0.01, [
        "q30_cdc_changes", "q33_meta_etl", "q34_flatten_inline",
        "q117_stream_dedup"]),
    "corpus_curation": ("noop", 0.02, [
        "q21_token_stats", "q25_ngram_jaccard", "q27_ann_topk",
        "q39_embedding_neardup"]),
    # not a benchmark workload: test_selftest.py's deliberately failing op
    "selftest": ("parquet", 0.01, ["q01_pricing_summary", "selftest_fail"]),
}

# Harness.WarmupPasses: every op also runs this often before the timed passes.
WARMUP_PASSES = 2

# The engine's own JVM options (build.sbt's javaOptions), heap capped.
JVM_BENCH = ["-Xmx3g"]
RUN_LIMIT_S = 170          # one run, build excluded
BUILD_LIMIT_S = 840
WORK = ".bench_build"      # under the checkout root; listed in .gitignore
ENGINE_FILES = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/harness/build.sbt",
                "perfbench/harness/project/build.properties",
                "perfbench/harness/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(root, rels):
    """sha256 over the relative paths and bytes of the files under rels."""
    h = hashlib.sha256()
    for rel in rels:
        p = os.path.join(root, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile engine + harness with sbt unless the stamp matches the
    sources; returns (source digest, classpath, jvm options)."""
    launch, stamp = os.path.join(work, "launch.txt"), os.path.join(work, "build.stamp")
    want = digest(root, ENGINE_FILES)
    have = open(stamp).read() if os.path.exists(stamp) else ""
    if have != want or not os.path.exists(launch):
        log("building engine and harness with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        with open(os.path.join(work, "build.log"), "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 f"-Dperfbench.launch={launch}", "writeLaunch"],
                cwd=os.path.join(root, "perfbench", "harness"), env=env,
                stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_LIMIT_S).returncode
        if rc != 0:
            tail(os.path.join(work, "build.log"))
            log(f"build failed (sbt exit {rc})")
            sys.exit(3)
        with open(stamp, "w") as fh:
            fh.write(want)
    lines = open(launch).read().splitlines()
    return want, lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def ensure_data(work, sf):
    """The input tables at scale sf, generated once per (generator, sf)
    digest."""
    h = hashlib.sha256(open(os.path.join(HERE, "gen_tables.py"), "rb").read())
    h.update(f"{sf}".encode())
    key = h.hexdigest()[:16]
    data = os.path.join(work, "data", key)
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.main(tmp, sf)
        os.replace(tmp, data)
    return data, key


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        for line in fh.readlines()[-n:]:
            print(line.rstrip(), file=sys.stderr)


def loadavg():
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def run_harness(cmd, log_path, timeout):
    """Run the harness JVM in its own process group; returns its exit code,
    or None on timeout. The group is killed and reaped on any way out,
    including SIGTERM to this process."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def oracle(root, data, out, run_dir):
    """scripts/oracle_check.py over the written outputs, off the clock.
    Returns (all passed, names that failed)."""
    sys.path.insert(0, os.path.join(root, "scripts"))
    import oracle_check
    res_path = os.path.join(run_dir, "oracle.json")
    with open(os.path.join(run_dir, "oracle.log"), "w") as fh, \
            contextlib.redirect_stdout(fh):
        rc = oracle_check.main(data, out, res_path)
    res = json.load(open(res_path))
    failed = sorted(n for n, r in res.items() if not r["hash_match"])
    return rc == 0, failed


def cpu_times():
    """The host-wide CPU counters of /proc/stat (user .. steal), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: host contention, which slows every run on it."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    needed = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
              "scripts/oracle_check.py", "perfbench/harness/build.sbt"]
    missing = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f"not an engine checkout (missing {', '.join(missing)}); "
            "run from the root of the repository")
        sys.exit(2)
    work = os.path.join(root, WORK)
    os.makedirs(work, exist_ok=True)
    source_digest, cp, jvm_opts = build(root, work)
    sink, sf, queries = WORKLOADS[args.workload]
    data, data_key = ensure_data(work, sf)

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out, tmp = os.path.join(run_dir, "out"), os.path.join(run_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    report_path = os.path.join(run_dir, "report.json")
    t_start, load_before, cpu_before = time.monotonic(), loadavg(), cpu_times()
    cmd = ["java", *jvm_opts, *JVM_BENCH, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Harness",
           "--data", data, "--out", out, "--queries", ",".join(queries),
           "--sink", sink, "--seconds", str(args.seconds),
           "--seed", str(args.seed), "--trace", str(args.trace),
           "--cores", str(nproc),
           "--report", report_path]
    rc = run_harness(cmd, os.path.join(run_dir, "harness.log"), RUN_LIMIT_S - 20)
    load_after, cpu_after = loadavg(), cpu_times()
    if rc != 0 or not os.path.exists(report_path):
        tail(os.path.join(run_dir, "harness.log"))
        log(f"harness {'timed out' if rc is None else f'exited {rc}'}")
        sys.exit(3)
    rep = json.load(open(report_path))
    oracle_ok, oracle_failed = oracle(root, data, out, run_dir)
    shutil.rmtree(tmp, ignore_errors=True)

    thrown = [f["name"] for f in rep["failures"]]
    executions = {n: WARMUP_PASSES for n in queries}
    for f in rep["failures"]:  # a warmup execution that did not throw returned
        if f["phase"].startswith("warmup"):
            executions[f["name"]] -= 1
    for o in rep["ops"]:
        executions[o["name"]] += 1
    attempted, failed, failing = count_failures(
        executions, thrown, oracle_failed + rep["no_oracle"])
    ok_names = set(queries) - set(failing)
    if args.trace:
        metrics, samples = per_layer(rep, MODULE_OF, nproc)
    else:
        metrics, samples = end_to_end(rep, ok_names)
    correct = oracle_ok and failed == 0

    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "queries": queries, "sink": sink,
        "correct": correct, "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted, "failing_queries": failing,
        "failures": rep["failures"], "oracle_failed": oracle_failed,
        "samples": samples,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "provenance": {
            "commit": commit(root), "source_digest": source_digest,
            "nproc": nproc, "loadavg_before": load_before,
            "loadavg_after": load_after,
            "steal_share": steal_share(cpu_before, cpu_after),
            "jvm_flags": rep["jvm_flags"],
            "data_digest": data_key, "data_sf": sf,
            "data_seed": gen_tables.SEED, "run_wall_s": time.monotonic() - t_start},
    }
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    for k, (v, u) in metrics.items():
        log(f"{args.workload} {k} = {v} {u}")
    log(f"{args.workload} samples {samples}; fail_ratio {failed}/{attempted}")
    if failing:
        log(f"FAILED queries: {', '.join(failing)}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": result["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

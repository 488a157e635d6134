#!/usr/bin/env python3
"""graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program and the
harness (build.py); every run then generates its inputs from the seed
(gen.py, cached per seed), times set-up, runs one workload in a fresh JVM
on `local[nproc]`, checks every output (check.py) and prints one JSON
object as its last line of stdout. The line before it holds the details:
every latency, the tail and sample count, the index build time, the
environment and the source digest.

Workloads (see BENCHMARK.json for why each exists):
  wordcount_bulk  WordCount MapReduceJob.run over one Zipf text file, one
                  job at a time through JobTracker, written as parquet
  ann_build_serve a cold IVF index build, then warm ann_ivf_topk requests
                  of one client

A "job" is each workload's repeated request: a bulk job or one top-k
serve. Each is timed only after an untimed warm-up (WARMUP). --trace 0
prints the end-to-end metrics; --trace 1 runs the workload traced and
prints the per-layer metrics, including the tracing overhead against the
untraced runs kept in the same checkout.

All state lives under $CARGO_TARGET_DIR (default .bench_build)/perfbench.
Exits non-zero on any failed output check or harness error.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing written next to the sources
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("wordcount_bulk", "ann_build_serve")
HEAP = "3g"
RUN_TIMEOUT_S = 170
# untimed warm-up requests before the --seconds window: the JIT is still
# speeding a fresh JVM's requests up over about this many
WARMUP = {"wordcount_bulk": 8, "ann_build_serve": 12}
KEEP_INPUTS = 3  # generated seeds kept per workload


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Jvm:
    """One harness JVM. Set-up time runs from the launch to the moment the
    JVM prints PERFBENCH_READY (session built, warm-up job done)."""

    def __init__(self, cmd, env, logpath):
        self.log = open(logpath, "ab")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE,
                                     stderr=self.log)
        self.ready_s = None
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if self.ready_s is None and line.strip() == b"PERFBENCH_READY":
                self.ready_s = time.monotonic() - self.t0

    def wait(self, timeout):
        try:
            code = self.proc.wait(timeout=max(1, timeout))
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.reader.join(5)
            self.log.close()
        return code


def tail(xs):
    """The highest percentile with at least ten samples above it, as
    (value, percentile, n). A run has fewer than 21 samples, so no
    percentile above the median qualifies; the run's maximum is reported
    then, with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return s[-1], 100.0, n
    return s[n - 11], round(100.0 * (n - 10) / n, 1), n


def end_to_end(phase):
    ok = [o["lat_s"] for o in phase["ops"] if o["ok"]]
    if not ok:
        raise SystemExit("no operation succeeded")
    p50 = statistics.median(ok)
    tv, tp, n = tail(ok)
    # the input one request covers (the text file, or the corpus the
    # index serves) over the median request
    metrics = {"input_mb_s": phase["input_bytes"] / 1e6 / p50, "job_p50_s": p50}
    return metrics, {"tail_s": tv, "tail_percentile": tp, "samples": n}


def untraced_baseline(results, workload, build_id):
    """Median end-to-end metrics of the untraced runs of `workload` of the
    same build kept in this checkout, with their count; the traced run is
    compared with them."""
    runs = []
    for f in glob.glob(os.path.join(results, f"{workload}-s*-t0.json")):
        with open(f) as fh:
            rec = json.load(fh)
        if rec["env"].get("build") == build_id:
            runs.append(rec["end_to_end"])
    if not runs:
        return {}, 0
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]}, len(runs)


def source_digest(root, classes):
    """The git commit when the checkout is a repository, else the digest
    of the compiled sources (the class directory's name)."""
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           capture_output=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    return "sources-" + os.path.basename(classes).split("-", 1)[1]


def measure(root, base, classes, args, data, expected, t_start):
    """One harness JVM run of the workload: returns the run record and the
    output-check failures."""
    run = os.path.join(base, "runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "spark-local"))
    os.makedirs(os.path.join(run, "tmp"))
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, TZ="UTC", GRAFT_INDEX_ROOT=os.path.join(run, "index"))
    # the program's own JVM flags (build.sbt's javaOptions) plus the heap;
    # JVM scratch files (native-library extraction, perf data) stay in the run
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}"] + build.java_options(root)
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(root), '*')}",
              "perfbench.Harness", "--cores", str(cores),
              "--local-dir", os.path.join(run, "spark-local"),
              "--workload", args.workload, "--data", data, "--run", run,
              "--seconds", str(args.seconds), "--warmup", str(WARMUP[args.workload]),
              "--trace", str(args.trace),
              "--tokens", str(expected.get("total", 0))])
    logpath = os.path.join(run, "jvm.log")
    try:
        log(f"inputs ready at {time.monotonic() - t_start:.1f} s")
        j = Jvm(cmd, env, logpath)
        code = j.wait(RUN_TIMEOUT_S - (time.monotonic() - t_start))
        log(f"harness JVM done at {time.monotonic() - t_start:.1f} s")
        if code != 0 or j.ready_s is None:
            raise SystemExit(f"harness JVM exited with {code}, see {logpath}")
        with open(os.path.join(run, "result.json")) as f:
            res = json.load(f)
        ph = res["phase"]
        if args.workload == "wordcount_bulk":
            bad = check.wordcount(ph["checks"], expected)
        else:
            bad = check.ann(ph["checks"], data, os.path.join(run, "oracle_sql.json"))
        for b in bad:
            log(f"output check failed: {b}")
        log(f"outputs checked at {time.monotonic() - t_start:.1f} s")
        e2e, tail_info = end_to_end(ph)
        e2e["setup_s"] = j.ready_s
        rec = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, **tail_info, "bulk": ph["bulk"],
            "env": {**res["env"], "nproc": cores, "heap": HEAP,
                    "source": source_digest(root, classes),
                    "build": os.path.basename(classes)},
            "end_to_end": e2e, "output_failures": bad,
            "latencies_s": [o["lat_s"] for o in ph["ops"]],
            "cpu_s": [o["cpu_s"] for o in ph["ops"]],
            # the index build counts as one operation
            "attempted": len(ph["ops"]) + (1 if ph["bulk"] else 0),
            "failed": sum(1 for o in ph["ops"] if not o["ok"]),
            "per_layer": res.get("per_layer", {}),
        }
        if args.trace:
            shutil.copy(os.path.join(run, "spans.jsonl"),
                        os.path.join(base, "results", f"{args.workload}-s{args.seed}.spans.jsonl"))
        shutil.rmtree(run, ignore_errors=True)
        return rec, bad
    except BaseException:
        log(f"run failed; its files are kept in {run}")
        raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    classes = build.ensure(root, os.path.join(base, "build"))
    # the run's time limit counts from here: a first run also compiles
    t_start = time.monotonic()
    data = gen.ensure(os.path.join(base, "inputs"), args.workload, args.seed)
    with open(os.path.join(data, "expected.json")) as f:
        expected = json.load(f)
    prune_inputs(os.path.join(base, "inputs"), args.workload, data)

    rec, bad = measure(root, base, classes, args, data, expected, t_start)
    if args.trace:
        # tracing overhead: this traced run against the untraced runs
        ref, n = untraced_baseline(results, args.workload, rec["env"]["build"])
        rec["overhead_baseline_runs"] = n
        metrics = dict(rec["per_layer"])
        for k, v in rec["end_to_end"].items():
            if k != "setup_s":
                metrics[f"trace.overhead.{k}_pct"] = (
                    100.0 * (v / ref[k] - 1.0) if n else 0.0)
    else:
        metrics = rec["end_to_end"]
    units = metric_units()
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(rec, f)
    print(json.dumps({"detail": {k: v for k, v in rec.items() if k != "per_layer"}}))
    print(json.dumps({
        "correct": not bad, "attempted": rec["attempted"], "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}}))
    sys.stdout.flush()
    return 1 if bad else 0


def metric_units():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def prune_inputs(inputs, workload, keep):
    """Bound the input cache: keep the newest KEEP_INPUTS seeds of a workload."""
    mine = [os.path.join(inputs, d) for d in os.listdir(inputs)
            if d.startswith(workload + "-") and ".tmp" not in d]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in mine[KEEP_INPUTS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

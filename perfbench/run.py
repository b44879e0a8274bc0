#!/usr/bin/env python3
"""Order-stream benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload drain|faults --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The first run compiles the program
(`src/main/scala`) and the benchmark (`perfbench/src`) with the Scala
compiler that ships in Spark's jars, into `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse the classes while the sources are
unchanged. It then runs `perfbench.StreamBench` in one JVM on
`local[<cores>]`, checks every drain's sink output with `check.py`, and
prints the metrics, the last line being

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`attempted` counts input rows over every checked drain and `failed` the
mismatches the oracle found; their ratio is the error rate. The run exits
non-zero when a check fails.

With `--trace 0` the metrics are the end-to-end ones, measured without
listeners or spans. With `--trace 1` the run makes an untraced pass and a
traced pass (spans and listeners on), adds the scan/decode/route isolation
pass and a drain on a `local[1]` context in the same JVM, prints the
per-layer metrics, and writes them with the spans to
`<build dir>/trace/<workload>-<seed>.json`.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

import check

HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = ("drain", "faults")
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """Classpath glob of the Spark jars: `$SPARK_HOME/jars`, else the
    `unmanagedBase` the repository's sbt build compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        found = None
        if os.path.exists("build.sbt"):
            with open("build.sbt") as f:
                found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = found.group(1) if found else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"no Spark jars with a Scala compiler in '{jars}'; set SPARK_HOME")
    return os.path.join(jars, "*")


def build(build_dir):
    """Compiles program and benchmark sources once per content hash."""
    root = os.getcwd()
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not program:
        sys.exit("no program sources under src/main/scala: run from the repository root")
    digest = hashlib.sha256()
    for path in program + bench:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    sources = os.path.join(build_dir, "sources.txt")
    with open(sources, "w") as f:
        f.write("\n".join(program + bench))
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", spark_jars(),
             "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", classes, "@" + sources],
            stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"compile failed (exit {rc}), log in {log}")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def run_jvm(classes, work, workload, seed, seconds, trace, cores):
    """Runs one StreamBench JVM and returns its result.json."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's block manager and the JVM's temp files stay in the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", classes + os.pathsep + spark_jars(), "perfbench.StreamBench",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(cores), "--work", work])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: no JVM outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"StreamBench {workload} failed ({rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default method)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def evaluate_pass(con, p):
    """Checks every drain of a pass and derives its stream metrics."""
    attempted = failed = 0
    p50, p95, batches, rates, notes = [], [], [], [], []
    for rep in p["reps"]:
        rows, bad, counts = check.check_rep(con, f"{rep['dir']}/topic", f"{rep['dir']}/truth",
                                            rep["dir"], rep["aggregate"])
        attempted += rows
        failed += bad
        if bad:
            notes.append(f"{rep['dir']}: {bad} mismatches")
        rep["sink_rows"] = counts
        # every row of a backlog is due when the drain starts, and its
        # result is committed with the fan-out batch that consumed its file
        commits = {int(b): ms for b, ms in rep["commits"].items()}
        latencies = [commits[b] - rep["start_ms"]
                     for b, n in check.file_batches(con).values() for _ in range(n)]
        p50.append(quantile(latencies, 0.5))
        p95.append(quantile(latencies, 0.95))
        batches.append(len(commits))
        rates.append(rows / rep["wall_s"])
    return {
        "attempted": attempted, "failed": failed, "notes": notes,
        "rows_per_s": statistics.median(rates),
        # best of the pass's producer timings: each is short (under a
        # second), so its median swings with host noise that a minimum
        # time filters
        "produce_rows_per_s": max(p["produce_rows_per_s"]),
        "latency_p50_ms": statistics.median(p50),
        "latency_p95_ms": statistics.median(p95),
        "batches": batches,
    }


def per_layer(result, passes):
    """The traced pass's per-layer metrics, completed with sink counts, the
    local[1] baseline and the tracing overhead."""
    m = dict(result["trace"]["metrics"])
    traced = next(p for p in result["passes"] if p["label"] == "traced")
    rep = traced["reps"][-1]
    for sink, n in rep["sink_rows"].items():
        m[f"fanout.rows.{sink}"] = n
    for sink, n in check.sink_bytes(rep["dir"]).items():
        m[f"fanout.bytes_written.{sink}"] = n
    m["scaling.rows_per_s_1core"] = passes["local1"]["rows_per_s"]
    m["trace.overhead_ratio"] = passes["untraced"]["rows_per_s"] / passes["traced"]["rows_per_s"]
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    try:
        result = run_jvm(classes, work, args.workload, args.seed, args.seconds, args.trace,
                         cores)
        con = check.connect()
        passes = {p["label"]: evaluate_pass(con, p) for p in result["passes"]}
        attempted = sum(p["attempted"] for p in passes.values())
        failed = sum(p["failed"] for p in passes.values())
        notes = [n for p in passes.values() for n in p["notes"]]
        if args.trace:
            layers = per_layer(result, passes)
            metrics = {d["name"]: {"value": layers[d["name"]], "unit": d["unit"]}
                       for d in spec["per_layer"]}
            out = os.path.join(build_dir, "trace", f"{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as f:
                json.dump({"per_layer": layers, "spans": result["trace"]["spans"],
                           "passes": passes}, f, indent=1)
            print(f"trace written to {out}")
        else:
            p = dict(passes["untraced"], setup_s=result["setup_s"])
            metrics = {d["name"]: {"value": p[d["name"]], "unit": d["unit"]}
                       for d in spec["end_to_end"]}
            # each rep's latency quantiles rest on its fan-out batches' commit
            # times, so the batch count is their sample count
            print(f"reps: {len(p['batches'])}, fan-out batches per rep: {p['batches']}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, v in metrics.items():
        print(f"{name}: {v['value']} {v['unit']}")
    print(f"workload {args.workload}, seed {args.seed}, local[{cores}] on {os.cpu_count()} "
          f"cpus; error_rate {failed / attempted:.6g} ({failed} of {attempted} rows)")
    for n in notes:
        print(f"CHECK FAILED: {n}")
    correct = failed == 0 and not notes
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

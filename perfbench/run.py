#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload warehouse_run --seed 1 \\
        --seconds 3 --trace 0
    python3 perfbench/run.py --smoke        # every workload, tiny inputs

Builds the library and the harness from source (perfbench/build.py), runs
the workload in one JVM on Spark local[N] (N = min(4, cores)), and prints
two JSON lines: a self-describing record (seed, parallelism, master, heap,
commit, input sizes, the workload's own named figures, check outcomes),
then the result {"correct", "attempted", "failed", "metrics"}. Metric names
and units come from BENCHMARK.json: with --trace 0 every end_to_end metric,
with --trace 1 every per_layer metric (a span the workload never enters
reads 0). Run artifacts stay in .bench_out/<run>/<workload>/ (raw.json,
spans.jsonl). The smoke run traces every workload on tiny inputs in one JVM
(about three minutes on 4 cores) and exits non-zero unless every check passes.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("warehouse_run", "novelty_ingest")
JVM_TIMEOUT_S = 170        # one workload; the smoke run gets SMOKE_TIMEOUT_S
SMOKE_TIMEOUT_S = 900
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def run_jvm(classes, workload, seed, seconds, trace, scale, out):
    cores = min(4, os.cpu_count() or 1)
    # the first run of a build dumps the classes it loaded into a
    # class-data-sharing archive; later runs map it and skip most class
    # loading and verification (seconds of every JVM start)
    cds = classes + ".jsa"
    cds_opt = ("-XX:SharedArchiveFile=" + cds if os.path.exists(cds)
               else "-XX:ArchiveClassesAtExit=" + cds + ".tmp")
    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", cds_opt] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes,
                                    os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--scale", scale, "--cores", str(cores),
            "--work", work, "--out", out])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr,
                            stderr=sys.stderr)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=SMOKE_TIMEOUT_S if workload == "all"
                         else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    shutil.rmtree(work, ignore_errors=True)
    if code == 0 and os.path.exists(cds + ".tmp"):
        os.replace(cds + ".tmp", cds)
    return code


def finite(v):
    return isinstance(v, (int, float)) and math.isfinite(v)


def run(workload, seed, seconds, trace, scale):
    """Run one workload (or "all"); return [(info, result)] per workload,
    or raise SystemExit."""
    bench = spec()
    classes, digest = build.build()
    out = os.path.join(ROOT, ".bench_out", "%s-s%d-t%d-%d" % (
        workload, seed, trace, int(time.time() * 1000)))
    os.makedirs(out)
    code = run_jvm(classes, workload, seed, seconds, trace, scale, out)
    names = WORKLOADS if workload == "all" else (workload,)
    paths = [os.path.join(out, w, "raw.json") for w in names]
    if code != 0 or not all(map(os.path.exists, paths)):
        raise SystemExit("perfbench: %s run failed (exit %s)" % (workload, code))
    return [result_of(bench, p, trace, digest) for p in paths]


def result_of(bench, raw_path, trace, digest):
    with open(raw_path) as f:
        raw = json.load(f)
    info = raw["info"]
    info.update(git_commit=git_commit(), source_sha256=digest,
                artifacts=os.path.relpath(os.path.dirname(raw_path), ROOT))
    failed = raw["failed"]
    if trace:
        values = raw["per_layer"]
        wanted = bench["per_layer"]
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in wanted}
    else:
        values = raw["end_to_end"]
        wanted = bench["end_to_end"]
        metrics = {m["name"]: {"value": values.get(m["name"]),
                               "unit": m["unit"]} for m in wanted}
    bad = [k for k, v in metrics.items() if not finite(v["value"])]
    if bad:
        info.setdefault("errors", []).append("no value for " + ",".join(bad))
        failed += 1
        for k in bad:
            metrics[k]["value"] = 0.0
    result = {"correct": failed == 0, "attempted": raw["attempted"],
              "failed": failed, "metrics": metrics}
    return info, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload and check on tiny inputs")
    a = ap.parse_args()
    if a.smoke:
        ok = True
        for info, result in run("all", a.seed, a.seconds or 1, 1, "tiny"):
            print(json.dumps({k: info[k] for k in (
                "workload", "checks", "errors", "artifacts")}))
            ok = ok and result["correct"]
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload is required (or --smoke)")
    seconds = a.seconds if a.seconds is not None else spec()["run_seconds"]
    [(info, result)] = run(a.workload, a.seed, seconds, a.trace, "full")
    print(json.dumps(info))
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()

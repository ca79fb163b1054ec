#!/usr/bin/env python3
"""Benchmark runner: builds the program from source, runs one workload in a
fresh JVM, checks its outputs and prints every metric.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones; the lines before it are the human-readable report.
Everything the run leaves behind goes under .bench_build/ (or
$CARGO_TARGET_DIR): classes, per-run results, traces and logs.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Layers each workload exercises; the others do no work there and read 0.
PIPELINE_PREFIXES = ("pages.", "extract.", "mentions.", "linking.", "canonical.", "linked.",
                     "emit_materialize.", "snapshots.", "graph.", "build_1t.", "weak_scaling_eff")
DELTA_PREFIXES = ("ingest.", "lsm.")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """$SPARK_HOME/jars, else the directory build.sbt takes its jars from."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            fail("set SPARK_HOME: build.sbt names no Spark jar directory")
    if not glob.glob(os.path.join(jars, "spark-core*.jar")):
        fail(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def build(root, out_dir, jars):
    """Compiles src/main/scala and perfbench/src into out_dir/classes,
    unless the sources are unchanged since the last build."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no program sources under src/main/scala: run from the repository root")
    sources += sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(out_dir, "classes")
    stamp = os.path.join(out_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", cp, "-d", tmp] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"# built {len(sources)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def run_jvm(root, out_dir, classes, jars, args, result_path, timeout):
    work = os.path.join(out_dir, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    expect = os.path.join(out_dir, "expect")
    os.makedirs(expect, exist_ok=True)
    log = os.path.join(out_dir, "logs", f"{args.workload}-seed{args.seed}-{os.getpid()}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-Xmn512m", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={root}/perfbench/log4j2.properties",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", result_path, "--expect", expect,
            "--data", os.path.join(root, "perfbench", "data")])
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    # a terminated benchmark stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = None
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
            try:
                code = p.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                code = "timeout"
    finally:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(log) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail(f"workload {args.workload} ended with {code}; log: {log}")


def latest(out_dir, name):
    path = os.path.join(out_dir, "results", name)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    known = [w["name"] for w in spec["workloads"]] + ["queries"]
    if args.workload not in known:
        fail(f"unknown workload {args.workload}; one of {known}")
    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars(root)
    classes = build(root, out_dir, jars)

    mode = "traced" if args.trace else "plain"
    run_id = f"{args.workload}-seed{args.seed}-{mode}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(out_dir, "runs", run_id)
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    load0, (total0, steal0), t0 = loadavg(), cpu_times(), time.time()
    # the listed workloads must end within the benchmark's time limit; the
    # queries pass, run by hand, may take longer
    run_jvm(root, out_dir, classes, jars, args, result_path,
            JVM_TIMEOUT_S if args.workload != "queries" else 900)
    load1, (total1, steal1), wall = loadavg(), cpu_times(), time.time() - t0
    with open(result_path) as f:
        res = json.load(f)
    context = {"nproc": len(os.sched_getaffinity(0)), "loadavg_start": load0, "loadavg_end": load1,
               "steal_share": (steal1 - steal0) / max(total1 - total0, 1), "wall_s": wall}
    res["context"] = context
    with open(result_path, "w") as f:
        json.dump(res, f, indent=1)
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    for name in (f"{args.workload}-{mode}.json", f"{args.workload}-seed{args.seed}-{mode}.json"):
        shutil.copy(result_path, os.path.join(out_dir, "results", name))

    attempted, failed = res["attempted"], res["failed"]
    print(f"# run {run_id}: outputs and spans in {run_dir}")
    print(f"# load: nproc {context['nproc']}, loadavg {load0} -> {load1}, "
          f"steal {100 * context['steal_share']:.2f}% over {wall:.1f} s")
    for k, v in res["info"].items():
        print(f"# {k}: {v}")
    print(f"error_rate {failed / max(attempted, 1):.6f} ratio ({failed} of {attempted} operations failed)")
    for msg in res["failures"][:20]:
        print(f"# FAILED {msg}")

    if args.workload == "queries":
        values = res["layers"] if args.trace else res["e2e"]
        wanted = [{"name": k, "unit": "count" if k.endswith(".jobs") else
                   "MiB" if k == "peak_rss_mb" else "s"} for k in values]
    elif args.trace == 0:
        wanted = spec["end_to_end"]
        values = res["e2e"]
    else:
        wanted = spec["per_layer"]
        values = dict(res["layers"])
        own = PIPELINE_PREFIXES if args.workload == "build" else DELTA_PREFIXES
        for m in wanted:
            n = m["name"]
            if n not in values and not n.startswith(own) and not n.startswith("turtle."):
                values[n] = 0.0
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        fail(f"workload {args.workload} did not report {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for n, m in metrics.items():
        print(f"{n} {m['value']} {m['unit']}")

    if args.trace == 1:
        # against the plain run of the same seed, else the latest plain run
        plain = (latest(out_dir, f"{args.workload}-seed{args.seed}-plain.json") or
                 latest(out_dir, f"{args.workload}-plain.json"))
        lines = [f"{n}\t{m['value']}\t{m['unit']}" for n, m in metrics.items()]
        if plain:
            for k, v in plain["e2e"].items():
                traced = res["e2e"].get(k)
                if traced is not None and v:
                    over = 100 * (traced - v) / v
                    lines.append(f"trace_overhead.{k}\t{over:.2f}\t% vs last plain run")
                    print(f"# trace overhead {k}: {over:+.2f}% (traced {traced:.4f}, plain {v:.4f})")
        else:
            print("# trace overhead: no plain run of this workload in this checkout yet")
        with open(os.path.join(run_dir, "layers.tsv"), "w") as f:
            f.write("\n".join(lines) + "\n")

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

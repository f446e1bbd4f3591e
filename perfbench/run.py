#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload ta_interactive --seed 1 --seconds 4 --trace 0

Builds graft and the benchmark from source into .bench_build/ (skipped
when the sources are unchanged), runs the workload in one JVM on
local[k] with k = min(4, cores), checks the outputs, prints every metric
with its unit and sample count, and as the last stdout line one JSON
object {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer ones (see README.md).
A failed output check prints "correct": false with no metrics and exits 1.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175.0
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def tree_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_scala(jars, sources, classpath, out, log):
    """scalac `sources` into `out` unless a finished build is there."""
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss64m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", ":".join([os.path.join(jars, "*")] + classpath)] + sources
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BenchError(f"compile failed ({os.path.relpath(log, ROOT)})")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile graft (src/main) and the benchmark; returns (classpath,
    program source hash)."""
    jars = spark_jars()
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise BenchError("no program sources under src/main/scala: run from the root of a graft checkout")
    compiler = os.path.basename(glob.glob(os.path.join(jars, "scala-compiler-*.jar"))[0])
    prog_hash = tree_hash(prog, compiler)
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    bench_hash = tree_hash(bench, prog_hash)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    prog_out = os.path.join(BUILD, "graft-" + prog_hash)
    bench_out = os.path.join(BUILD, "perfbench-" + bench_hash)
    compile_scala(jars, prog, [], prog_out, os.path.join(BUILD, "logs", "build-graft.log"))
    compile_scala(jars, bench, [prog_out], bench_out, os.path.join(BUILD, "logs", "build-perfbench.log"))
    return [bench_out, prog_out, os.path.join(jars, "*")], prog_hash


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def java_cmd(classpath, tmp, main, args):
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    props = {
        "java.io.tmpdir": tmp,
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.session.timeZone": "UTC",
        "log4j2.configurationFile": "file:" + os.path.join(HERE, "log4j2.properties"),
    }
    # no hsperfdata file: the run writes nothing outside the checkout
    return (["java", "-XX:-UsePerfData"] + opens + [f"-Xmx{HEAP}", "-Xss64m", "-XX:ReservedCodeCacheSize=1g"]
            + [f"-D{k}={v}" for k, v in props.items()]
            + ["-cp", ":".join(classpath), main] + args)


def run_jvm(cmd, log, deadline):
    """Run the JVM to completion or the deadline; never leaves it running
    (SIGTERM to this process also ends it, see __main__)."""
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT, env=env)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"run exceeded its time limit ({os.path.relpath(log, ROOT)})")
        except BaseException:
            p.kill()
            p.wait()
            raise


def fmt(v):
    return "nan" if isinstance(v, float) and math.isnan(v) else f"{v:.6g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.time()

    classpath, prog_hash = build()
    build_s = time.time() - start
    cores = max(1, min(4, len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    tmp = os.path.join(BUILD, "tmp", tag)
    results = os.path.join(BUILD, "results")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    raw_path = os.path.join(results, tag + ".raw.json")
    log = os.path.join(BUILD, "logs", tag + ".log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--tmp", tmp, "--out", raw_path,
            "--launch-ms", str(int(time.time() * 1000))]
    try:
        rc = run_jvm(java_cmd(classpath, tmp, "perfbench.Main", args), log, start + build_s + RUN_LIMIT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(raw_path):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BenchError(f"benchmark JVM exited with {rc} ({os.path.relpath(log, ROOT)})")
    with open(raw_path) as fh:
        raw = json.load(fh)

    stamp = dict(raw["stamp"], seed=a.seed, workload=a.workload, trace=a.trace,
                 git_commit=git_commit(), program_sources=prog_hash,
                 nproc=os.cpu_count(), driver_heap=HEAP, run_seconds=a.seconds)
    failed_checks = [c for c in raw["checks"] if not c["ok"]]
    for c in raw["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {fmt(c['value'])} (floor {fmt(c['floor'])})"
              + (f" {c['detail']}" if c["detail"] else ""))
    if a.trace:
        spans_path = raw_path + ".spans.jsonl"
        with open(spans_path) as fh:
            spans = [json.loads(line) for line in fh if line.strip()]
        metrics = benchlib.per_layer(raw, spans)
    else:
        metrics = benchlib.end_to_end(raw)
    for k, m in metrics.items():
        assert benchlib.valid_metric_name(k), k
        beyond = f", {m['beyond']} beyond" if "beyond" in m else ""
        print(f"metric {k} = {fmt(m['value'])} {m['unit']} (n={m['n']}{beyond})")
        if not math.isfinite(m["value"]):
            if not a.trace:
                raise BenchError(f"end-to-end metric {k} has no value")
            m["value"] = 0.0  # a per-layer metric without samples reads 0
    print("stamp " + json.dumps(stamp, sort_keys=True))
    correct = bool(raw["checks"]) and not failed_checks
    if raw["failed"]:
        print(f"failed operations: {raw['failed']} of {raw['attempted']}; first: {raw['first_error']}")
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        json.dump({"stamp": stamp, "checks": raw["checks"], "metrics": metrics}, fh, indent=1)
    if not correct:
        print(json.dumps(benchlib.result_line(False, raw["attempted"], raw["failed"], {})))
        return 1
    print(json.dumps(benchlib.result_line(True, raw["attempted"], raw["failed"], metrics)))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)

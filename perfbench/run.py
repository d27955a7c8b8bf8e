#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <batch_dag|index_waves>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the benchmark driver
with sbt on first use (or when a source changed), generates the seed's inputs
(cached under .bench_build/data), runs one JVM that measures the workload,
checks the outputs against independent oracles, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones, and a per-layer table
goes to stderr and the span dump to .bench_build/trace/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
JVM_TIMEOUT_S = 160

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402


T0 = time.time()


def log(msg):
    print(f"perfbench: {time.time() - T0:7.1f} s {msg}", file=sys.stderr)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        die("no library sources under src/main/scala: run from a full checkout")
    files += sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    return files


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true "
                        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                        "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def run_jvm(cp, workload, data, work, seconds, trace):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JDK17_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, data, work, str(seconds), str(trace), out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=lf, stderr=lf)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"benchmark JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in gen.GENERATORS:
        die(f"unknown workload {a.workload}")
    with open(SPEC) as f:
        spec = json.load(f)
    cp = build()
    log("built")
    data, sizes = gen.ensure(a.workload, a.seed, os.path.join(BUILD, "data"))
    log("inputs ready")
    work = os.path.join(BUILD, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, a.workload, data, work, a.seconds, a.trace)
    log("jvm done")
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(BUILD, f"last-jvm-{a.workload}.log"))
    for e in res["errors"]:
        print(f"perfbench: operation failed: {e}", file=sys.stderr)
    checks = oracle.check(a.workload, data, res)
    log("checked")
    failed = res["failed"] + checks["failed"]
    attempted = res["attempted"] + checks["attempted"]
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    values = res["layers"] if a.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    if a.trace:
        print_table(a.workload, res, sizes, checks)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)


def print_table(workload, res, sizes, checks):
    """Per-layer table to stderr; spans and jobs to .bench_build/trace."""
    lay = res["layers"]
    wall = lay["trace.wall_s"]
    err = sys.stderr
    print(f"\n{workload}: inputs {sizes}", file=err)
    print(f"checks: {checks['detail']}", file=err)
    print(f"{'layer (self time)':<22}{'s':>9}{'share':>8}", file=err)
    for k in ("bench", "dag", "index", "action", "catalyst", "jobs"):
        v = lay[f"self.{k}_s"]
        print(f"{k:<22}{v:9.3f}{v / wall:8.1%}", file=err)
    total = sum(lay[f"self.{k}_s"] for k in ("bench", "dag", "index", "action", "catalyst", "jobs"))
    print(f"{'sum / wall':<22}{total:9.3f}{total / wall:8.1%}", file=err)
    for k in sorted(lay):
        if not k.startswith("self."):
            print(f"  {k:<34}{lay[k]:14.4f}", file=err)
    tdir = os.path.join(BUILD, "trace")
    os.makedirs(tdir, exist_ok=True)
    with open(os.path.join(tdir, f"{workload}-{int(time.time())}.json"), "w") as f:
        json.dump({"spans": res.get("spans", []), "jobs": res.get("jobs", []), "layers": lay}, f)


if __name__ == "__main__":
    main()

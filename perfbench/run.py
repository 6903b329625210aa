#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|lakehouse|curate \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/classes with the Scala compiler shipped in $SPARK_HOME/jars;
later runs reuse that build while the sources are unchanged. The JVM
generates the workload's inputs from the seed, runs it on a local Spark
session with one worker thread per core, checks every output, and prints
its values; this script attaches units from BENCHMARK.json and prints the
result as the last line of standard output:

    {"correct": true, "attempted": N, "failed": N, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The exit code is 0 only when every output
check passed.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("no Spark jars found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BenchError("no java found; set JAVA_HOME")
    return exe


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError("src/main/scala not found: run from a full checkout")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile engine + benchmark unless the stamp matches the sources."""
    files = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BenchError("no Scala 2.13 compiler in the Spark jars")
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise BenchError("compile failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def jvm(mode_args, log_name):
    """Run perfbench.Main; returns (exit code, stdout lines)."""
    jars = spark_jars()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = [java(), "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseParallelGC"] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSES + ":" + os.path.join(jars, "*"),
        "perfbench.Main"] + mode_args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(logs, log_name), "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out.splitlines()


def assemble(raw, spec, trace):
    """Attach units to the JVM's values; the names must match BENCHMARK.json."""
    section = spec["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in section}
    values = raw["values"]
    unknown = sorted(set(values) - set(units))
    if unknown:
        raise BenchError(f"metrics not declared in BENCHMARK.json: {unknown}")
    missing = sorted(set(units) - set(values))
    if missing and not trace:
        raise BenchError(f"end-to-end metrics not measured: {missing}")
    metrics = {}
    for name in units:
        # a layer the workload does not exercise reads 0
        v = values.get(name, 0.0)
        if v is None:
            raise BenchError(f"metric {name} is not a number")
        metrics[name] = {"value": v, "unit": units[name]}
    return {"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]), "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        if a.workload not in [w["name"] for w in spec["workloads"]]:
            raise BenchError(f"unknown workload {a.workload}")
        build()
        tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
        code, lines = jvm(["run", "--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--work", os.path.join(BUILD, "work", tag),
                           "--params", os.path.join(HERE, "params.json")],
                          tag + ".log")
        result = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
        for l in lines:
            if not l.startswith("PERFBENCH_RESULT "):
                print(l)
        if not result:
            raise BenchError(f"no result from the benchmark JVM (exit {code}); "
                             f"see .bench_build/logs/{tag}.log")
        out = assemble(json.loads(result[-1][len("PERFBENCH_RESULT "):]), spec, a.trace == 1)
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0 if out["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark entry point.

Usage (from the repository root):

    python3 perfbench/run.py --workload <rag_pipeline|operator_suite> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --pin          # re-pin operator_suite hashes

The script compiles graft's main sources and the benchmark harness with the
Scala compiler that ships in the Spark distribution (no sbt, no network),
caches the classes under the build directory, then runs the harness in one
JVM with Spark local[N], N = the number of usable cores. The harness prints
human-readable lines first and, as its last stdout line, one JSON object
with the keys correct, attempted, failed and metrics.

Everything the run reads or writes stays under the current directory:
classes go to $CARGO_TARGET_DIR (default .bench_build), scratch data to
.bench_work, spans and per-run detail files to .bench_out.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_REL = os.path.relpath(HERE, os.getcwd())
WORKLOADS = ("rag_pipeline", "operator_suite")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800

# Module options Spark 4 needs on JDK 17 outside spark-submit (the same
# list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars_dir():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("cannot find Spark jars (set SPARK_HOME)")


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, out_dir, sources):
    compiler = [os.path.join(jars, f"scala-{n}-2.13.17.jar")
                for n in ("compiler", "library", "reflect")]
    if not all(os.path.isfile(j) for j in compiler):
        found = sorted(f for f in os.listdir(jars) if f.startswith("scala-compiler-"))
        if not found:
            fail("no scala-compiler jar next to the Spark jars")
        ver = found[-1][len("scala-compiler-"):-len(".jar")]
        compiler = [os.path.join(jars, f"scala-{n}-{ver}.jar")
                    for n in ("compiler", "library", "reflect")]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    args_file = out_dir + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", classpath, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(out_dir, ignore_errors=True)
        fail(f"compile failed ({out_dir})")


def build():
    """Compile graft (src/main/scala) and the harness; reuse cached classes."""
    main_src = scala_sources(os.path.join("src", "main", "scala"))
    bench_src = scala_sources(os.path.join(BENCH_REL, "src"))
    if not main_src:
        fail("no graft sources under src/main/scala (run from the repository root)")
    if not bench_src:
        fail("no harness sources")
    jars = spark_jars_dir()
    jar_cp = ":".join(sorted(os.path.join(jars, j) for j in os.listdir(jars)
                             if j.endswith(".jar")))
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    main_out = os.path.join(build_dir, "graft-classes")
    bench_out = os.path.join(build_dir, "perfbench-classes")
    main_key = digest(main_src, jar_cp)
    bench_key = digest(bench_src, main_key)
    stamp = os.path.join(build_dir, "stamp.json")
    old = {}
    if os.path.isfile(stamp):
        with open(stamp) as f:
            old = json.load(f)
    t0 = time.time()
    if old.get("main") != main_key or not os.path.isdir(main_out):
        old = {}
        scalac(jars, jar_cp, main_out, main_src)
    if old.get("bench") != bench_key or not os.path.isdir(bench_out):
        scalac(jars, main_out + ":" + jar_cp, bench_out, bench_src)
    with open(stamp, "w") as f:
        json.dump({"main": main_key, "bench": bench_key}, f)
    if time.time() - t0 > 1:
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return bench_out + ":" + main_out + ":" + jar_cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classpath, work, main_args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"] + opts +
            [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             f"-Dderby.system.home={tmp}",
             "-cp", classpath, "perfbench.Main"] + main_args)


def run_jvm(cmd, timeout_s):
    """Run the harness, relaying stdout; kill its process group on timeout."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        sys.stderr.write(err[-4000:])
        fail(f"harness exceeded {timeout_s} s and was stopped")
    return p.returncode, out, err


def load_spec():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found next to the benchmark directory")
    with open(path) as f:
        return json.load(f)


def select_metrics(spec, measured, trace):
    """The declared metrics of this run kind, with the declared units.

    Untraced runs must measure every end-to-end metric. A traced run
    reports every per-layer metric; one that belongs to another workload
    reads 0. A measured name that BENCHMARK.json does not declare, or a
    unit that differs from the declared one, is an error.
    """
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, m in measured.items():
        if name not in declared:
            fail(f"harness measured undeclared metric {name}")
        if m["unit"] != declared[name]:
            fail(f"metric {name} in {m['unit']}, declared {declared[name]}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        if m["name"] in measured:
            out[m["name"]] = measured[m["name"]]
        elif trace:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} not measured")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not (a.selftest or a.pin or a.workload):
        ap.error("one of --workload, --selftest or --pin is required")
    if a.workload and None in (a.seed, a.seconds, a.trace):
        ap.error("--workload needs --seed, --seconds and --trace")

    spec = load_spec()
    classpath = build()
    work = os.path.abspath(".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.abspath(".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    pins = os.path.join(HERE, "pins.json")
    if a.selftest:
        mode = ["selftest"]
    elif a.pin:
        mode = ["pin"]
    else:
        mode = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    cmd = java_cmd(classpath, work, mode + [
        "--pins", pins, "--cores", str(cores()), "--work", work, "--out", out_dir,
        "--launched-ms", str(int(time.time() * 1000))])
    timeout_s = 900 if a.pin else RUN_TIMEOUT_S
    try:
        code, out, err = run_jvm(cmd, timeout_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, "last_stderr.log"), "w") as f:
        f.write(err)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if code != 0:
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        sys.stderr.write(err[-4000:])
        fail(f"harness exited with code {code}")
    if a.selftest or a.pin:
        print("\n".join(lines))
        return
    if not lines:
        fail("harness printed nothing")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        sys.stderr.write(err[-4000:])
        fail("harness did not end with a result line")
    result["metrics"] = select_metrics(spec, result["metrics"], a.trace)
    print("\n".join(lines[:-1]))
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()

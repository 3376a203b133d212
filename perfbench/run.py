#!/usr/bin/env python3
"""Benchmark of the graft CDC pipeline and its analytics queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <cdc_churn|cdc_resume|query_mix|all> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest          # generator determinism self-test
    python3 perfbench/run.py --record-expected   # rewrite expected/query_mix.json

The first call compiles the program (src/main/scala) and the harness (perfbench/src) with
the Scala compiler shipped among the Spark jars, into the build directory
($CARGO_TARGET_DIR, default .bench_build). Each workload then runs in its own JVM. The last
line of standard output is one JSON object: correct, attempted, failed and metrics.
The exit code is non-zero when any op failed its output check.
"""
import argparse
import fcntl
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["cdc_churn", "cdc_resume", "query_mix"]
JVM_SECONDS = 170          # a run after the build
FIRST_RUN_SECONDS = 880    # a run that builds first
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars the sbt build compiles against: $SPARK_HOME/jars, else build.sbt's
    unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            fail("build.sbt sets no unmanagedBase; set SPARK_HOME")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail("no Spark jars in %s (set SPARK_HOME)" % jar_dir)
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def run_checked(cmd, deadline, **kw):
    """Runs cmd in its own process group; kills the group at the deadline."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("timed out: " + " ".join(cmd[:3]) + " ...", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def scalac(jars, classpath, srcs, dest, deadline):
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", ":".join(classpath),
           "@" + argfile]
    code, out, err = run_checked(cmd, deadline, stdout=subprocess.PIPE,
                                 stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("compilation failed (%s)" % dest)


def build(deadline):
    """Compiles the program and the harness unless the sources are unchanged."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("no program sources at %s: run from a checkout of the repository" % main_src)
    jars = spark_jars()
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    prog, harness = sources(main_src), sources(os.path.join(HERE, "src"))
    classes, bench = os.path.join(bdir, "classes"), os.path.join(bdir, "bench-classes")
    built = False
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        # the harness stamp covers the program too: it compiles against its classes
        for srcs, dest, cp, stamp_srcs in ((prog, classes, jars, prog),
                                           (harness, bench, jars + [classes], prog + harness)):
            stamp_file = dest + ".stamp"
            stamp = digest(stamp_srcs)
            if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
                continue
            print("perfbench: compiling %d sources into %s" % (len(srcs), dest), file=sys.stderr)
            scalac(jars, cp, srcs, dest, deadline)
            resources = os.path.join(ROOT, "src", "main", "resources")
            if dest == classes and os.path.isdir(resources):
                shutil.copytree(resources, classes, dirs_exist_ok=True)
            with open(stamp_file, "w") as f:
                f.write(stamp)
            built = True
    return jars, classes, bench, built


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def jvm(args, cp, out, trace, deadline):
    """Runs the harness; returns (exit code, stdout lines)."""
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    classpath = ([os.path.join(HERE, "conf")] if trace else []) + cp
    # no perf data: the JVM would write it under /tmp, outside the checkout
    cmd = (["java"] + opens +
           ["-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xmx3g", "-Xss8m",
            "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
            "-Dderby.system.home=" + out, "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties"),
            "-cp", ":".join(classpath), "perfbench.Main", "--out", out] + args)
    code, stdout, _ = run_checked(cmd, deadline, cwd=out, stdout=subprocess.PIPE, text=True)
    return code, stdout.splitlines()


def run_workload(name, a, cp, deadline):
    out = os.path.join(build_dir(), "runs", "%s-seed%d-trace%d" % (name, a.seed, a.trace))
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    args = ["--workload", name, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(HERE, "data", "sf0.01"),
            "--expected", os.path.join(HERE, "expected", "query_mix.json")]
    code, lines = jvm(args, cp, out, a.trace == 1, deadline)
    for line in lines:
        print(line)
    result_file = os.path.join(out, "result.json")
    result = json.load(open(result_file)) if os.path.exists(result_file) else None
    # keep result, context and trace; drop the bulky work dirs
    for d in os.listdir(out):
        if not d.endswith(".json"):
            p = os.path.join(out, d)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    if result is not None:
        print("perfbench: %s artifacts in %s" % (name, out), file=sys.stderr)
    return code, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()

    start = time.time()
    jars, classes, bench, built = build(start + FIRST_RUN_SECONDS - 2 * JVM_SECONDS)
    cp = [bench, classes, os.path.join(os.path.dirname(jars[0]), "*")]
    deadline = (start + FIRST_RUN_SECONDS) if built else (time.time() + JVM_SECONDS)
    if a.selftest or a.record_expected:
        out = os.path.join(build_dir(), "runs", "maintenance")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        args = (["--selftest"] if a.selftest else
                ["--record-expected", "--data", os.path.join(HERE, "data", "sf0.01"),
                 "--expected", os.path.join(HERE, "expected", "query_mix.json")])
        code, lines = jvm(args, cp, out, False, deadline)
        print("\n".join(lines))
        sys.exit(code)

    names = WORKLOADS if a.workload == "all" else [a.workload]
    results, codes = {}, []
    for name in names:
        wl_deadline = deadline if name == names[0] else time.time() + JVM_SECONDS
        code, result = run_workload(name, a, cp, wl_deadline)
        codes.append(code)
        if result is None:
            fail("%s produced no result (exit code %d)" % (name, code), code or 1)
        results[name] = result
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {"%s.%s" % (n, k): v for n, r in results.items()
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final))
    ok = all(c == 0 for c in codes) and final["correct"] and final["failed"] == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

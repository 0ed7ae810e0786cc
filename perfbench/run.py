#!/usr/bin/env python3
"""Run one benchmark workload against the repository's code.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke        # every workload, small inputs, with checks

Builds the repository and the harness with sbt when their sources
changed since the last build (outputs under `.bench_build/` and the sbt
`target/` directories), then runs the harness in one JVM. The harness
prints its measurements and ends with one JSON line, which this script
prints last. Exits non-zero, printing no result, when the repository's
sources are missing or the build or run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["cow_ingest", "mor_sql_query", "neardup_service"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# Spark on JDK 17 outside spark-submit (the repository's build.sbt uses
# the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: the repository's main sources
    and build definition, and the harness's own."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dn, fn in os.walk(r):
            dn.sort()
            files += [os.path.join(dp, f) for f in fn]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded classpath matches the
    current sources; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            same = f.read().strip() == stamp
        with open(cp_file) as f:
            cp = f.read().strip()
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    print("perfbench: building (sbt compile)", flush=True)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run(cp, workload, seed, seconds, trace, scale):
    """Run the harness once; returns its JSON result line or None."""
    work = os.path.join(OUT, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(OUT, "traces", "%s-seed%s.json" % (workload, seed))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + work, "-cp", cp,
              "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", work,
              "--scale", scale, "--trace-out", trace_out])
    result = None
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("%s timed out after %d s" % (workload, RUN_TIMEOUT_S))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for l in lines:
        if l.startswith("{") and '"metrics"' in l:
            result = l
        else:
            print(l)
    if proc.returncode != 0 or result is None:
        fail("%s exited with %d" % (workload, proc.returncode))
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at a small scale")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload or --smoke is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: its build.sbt and src/main are missing")
    cp = build()
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            res = run(cp, w, a.seed, 3, a.trace, "smoke")
            print(res)
            ok = ok and '"correct": true' in res
        sys.exit(0 if ok else 1)
    print(run(cp, a.workload, a.seed, a.seconds, a.trace, "full"))


if __name__ == "__main__":
    main()

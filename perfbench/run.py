#!/usr/bin/env python3
"""Pipeline-level benchmark for graft.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

The first run in a checkout builds the program and the harness from
source with sbt (perfbench/build.sbt depends on the root build); later
runs reuse the build while the sources are unchanged. Build outputs and
run scratch stay inside the checkout, under .bench_build/ and
.bench_out/. The harness JVM prints a human-readable report on stderr;
the last line of stdout is the result JSON.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("etl_backfill", "curation", "metastore_rw")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 720

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the list spark-submit itself passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

EXPECTED_KEYS = {"correct", "attempted", "failed", "metrics"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, capture):
    """Run a child in its own process group; on timeout or interrupt
    the whole group is killed and waited for."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise RuntimeError("no graft sources next to the benchmark: build.sbt and src/main are required")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]))
    log("building graft and the harness with sbt")
    t0 = time.time()
    code, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                          HERE, env, BUILD_LIMIT_S, capture=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise RuntimeError(f"sbt build failed with exit code {code}")
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, main_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opts = ["-XX:+IgnoreUnrecognizedVMOptions", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Duser.language=en",
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return [java] + opts + ["-cp", cp, "graftbench.Main"] + main_args


def main():
    # a TERM from the caller unwinds through run_group, which kills and
    # reaps the child's whole process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    t0 = time.time()
    try:
        cp = build()
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        log(f"build failed: {e}")
        return 2
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    if a.self_test:
        code, _ = run_group(java_cmd(cp, ["--self-test"]), ROOT, dict(os.environ), RUN_LIMIT_S, capture=False)
        return code
    run_dir = os.path.join(OUT, f"{a.workload}_{a.seed}_{a.trace}")
    remaining = max(30.0, RUN_LIMIT_S - (time.time() - t0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", run_dir]
    try:
        code, out = run_group(java_cmd(cp, args), ROOT, dict(os.environ), remaining, capture=True)
    except subprocess.TimeoutExpired:
        log(f"the harness did not finish within {remaining:.0f} s")
        return 3
    if code != 0:
        log(f"the harness exited with code {code}")
        return 4
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        log("the harness printed no result line")
        return 5
    if set(result) != EXPECTED_KEYS:
        log(f"unexpected result keys: {sorted(result)}")
        return 5
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload topk_sql --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles the engine (through
the repository's own sbt build, which perfbench/build.sbt depends on) and
the harness, offline; later runs reuse that build until a source file
changes. Each run gets its
own directory under perfbench/.run (index root, java.io.tmpdir, Spark local
dirs, warehouse), removed when the run ends. The last line of stdout is the
result object; the line before it is the run record.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench.classpath")
RUNS_DIR = os.path.join(HERE, ".run")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the stamp matches; return the
    runtime classpath."""
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as f2:
                    return f2.read().strip()
    log("building engine + harness with sbt (offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # keep sbt's own state (global base, ivy home, boot lock) out of the
    # home directory
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.server.autostart=false",
            "-Dsbt.boot.lock=false",
            f"-Dsbt.global.base={os.path.join(BUILD_DIR, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(BUILD_DIR, 'ivy')}",
            f"-Djna.tmpdir={os.path.join(BUILD_DIR, 'tmp')}",
            f"-Djava.io.tmpdir={os.path.join(BUILD_DIR, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-6000:])
        log(f"build failed (exit {p.returncode})")
        sys.exit(2)
    cp = lines[-1]
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, run_dir, main_args):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return [java, *opens, f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main", *main_args, "--run-dir", run_dir]


def run_jvm(cmd):
    """Run the harness JVM in its own process group; kill the group on
    timeout. Returns (exit code, stdout) or None on timeout."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
        sys.exit(2)

    cp = build()
    name = "selftest" if a.self_test else f"{a.workload}-{a.seed}-{a.trace}"
    run_dir = os.path.join(RUNS_DIR, f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    main_args = ["--self-test"] if a.self_test else [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        res = run_jvm(java_cmd(cp, run_dir, main_args))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass
    if res is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
        sys.exit(3)
    code, out = res
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        log(f"harness exited with {code}")
        sys.exit(code or 1)
    if not a.self_test:
        last = json.loads(lines[-1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()

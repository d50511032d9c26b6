#!/usr/bin/env python3
"""Production-path benchmark of graft's ExtractJob.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark once per source state (offline sbt; the
benchmark's build in this directory depends on the program's build), then runs the workload in a JVM of
its own. Scratch data lives under perfbench/.work and is removed when the run
ends. The last stdout line is the result JSON; a failed build, a failed run
or a failed output check exits non-zero and names the workload and the check.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("extract_mixed", "extract_repeat")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit (same list as the program's build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
           os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compiles once per source state; returns the runtime classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
                        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write(out or "")
        fail("build failed" if rc is not None else "build timed out")
    cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def main():
    # a terminated benchmark still stops the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"{a.workload}: program sources not found next to the benchmark")
    cp = build()
    cpus = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dderby.system.home={WORK}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--traces", os.path.join(HERE, ".traces"),
            "--cpus", str(cpus)]
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=WORK, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if rc is None:
        fail(f"{a.workload}: run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith('{"correct": true'):
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        fail(f"{a.workload}: run failed (exit {rc}); see the check named above")
    print("\n".join(lines))


if __name__ == "__main__":
    main()

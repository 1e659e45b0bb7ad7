#!/usr/bin/env python3
"""Build and run the graft benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload olap_mix|lake_commit \
        --seed N --seconds S --trace 0|1

The first run in a checkout compiles the engine's sources together with
the harness in perfbench/src (sbt, offline); later runs reuse the
classes while the sources are unchanged. Each run starts one JVM, prints
its lines, and ends with one JSON line: correct, attempted, failed and
metrics (end-to-end with --trace 0, per layer with --trace 1). All files
a run writes stay under .bench_build/ and perfbench/target/.
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
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
EXPECTED = os.path.join(HERE, "expected", "olap_mix.json")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DRIVER_HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp_of(files):
    # the classpath holds absolute paths, so a moved checkout rebuilds
    h = hashlib.sha256(ROOT.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout or
    interrupt, and wait for it to end either way."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    """Compile when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp = stamp_of(source_files())
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keeps every JVM the sbt launcher starts from writing /tmp/hsperfdata_*
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}",
         "compile", "export Runtime / fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.startswith("/") and "classes" in l]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def launch(workload, seed, seconds, trace, sf=None, expected=EXPECTED):
    """Build if needed, run one benchmark JVM and return its exit code,
    its stdout lines and the file holding its stderr. `sf` (default
    0.01) and `expected` (the committed olap_mix digests) are set only
    by the self-test."""
    cp = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--expected", os.path.abspath(expected)]
    if sf is not None:
        cmd += ["--sf", str(sf)]
    log = os.path.join(BUILD, f"{workload}-{seed}-{trace}.log")
    try:
        with open(log, "w") as err:
            code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=BUILD, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, [l for l in out.splitlines() if l.strip()], log


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["olap_mix", "lake_commit"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    code, lines, log = launch(a.workload, a.seed, a.seconds, a.trace)
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write("\n".join(lines[-20:]) + "\n")
        fail(f"benchmark JVM exited {code} without a result; stderr in {log}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Build the benchmark harness from this checkout's sources and run one
workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

The harness (perfbench/src) is compiled together with the program's main
sources (src/main/scala) by perfbench/build.sbt. Each digest of the source
files gets its own build directory, .bench_build/target-<digest>/, holding
the classes and the classpath file, so only the first run of a given tree
pays for the build and no run ever loads classes of other sources. Each run gets a private directory under
.bench_build/ as its working directory, removed afterwards; the span
trace of a traced run is kept as .bench_build/spans-<workload>-<seed>.tsv.

The harness prints report lines (RECORD, INPUT, METRIC, LAYER, ...) and,
last, one JSON result line. See perfbench/NOTES.md.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the same list as the
# program's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env(digest):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dperfbench.digest={digest}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(digest):
    """The harness classpath, building first if these sources were never built.

    The classpath file is written last, into the digest's own target
    directory, so it exists only once that directory holds a whole build
    of exactly these sources."""
    target = os.path.join(BUILD, f"target-{digest}")
    cp_file = os.path.join(target, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(digest), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s; see {log}", 1)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("".join(l + "\n" for l in lines[-40:]))
        fail(f"build failed; see {log}", 1)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main(argv):
    args = dict(zip(argv[0::2], argv[1::2]))
    if len(argv) % 2 or set(args) != {"--workload", "--seed", "--seconds", "--trace"}:
        fail("usage: run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources at {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    digest = source_digest()
    cp = classpath(digest)
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["PERFBENCH_COMMIT"] = commit()
    env["PERFBENCH_SOURCE_DIGEST"] = digest
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              f"-Dperfbench.runDir={run_dir}",
              "-cp", cp, "perfbench.Main"] + argv)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def stop(signum, _frame):
        # the harness runs in its own process group: take it down with us
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 1)
    finally:
        # the harness exits on its own; make sure nothing it forked lingers
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    spans = os.path.join(run_dir, "spans.tsv")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(BUILD, f"spans-{args['--workload']}-{args['--seed']}.tsv"))
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"harness exited with code {proc.returncode}", 1)
    sys.stdout.write(out)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

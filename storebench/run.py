#!/usr/bin/env python3
"""Store benchmark entry point.

Run from the root of a checkout of the repository:

    python3 storebench/run.py --workload lookup|scan|ingest --seed N \
        --seconds S --trace 0|1

The first run in a checkout compiles the connector and the harness with sbt
(the harness build under storebench/ depends on the root build) and stores
the runtime classpath under .bench_build/; later runs start the JVM directly.
The JVM prints a per-workload report line and, last, the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the spans and
per-op counts go to .bench_build/storebench/trace-<workload>-<seed>.jsonl.
Everything the run writes stays under .bench_build/ and is removed at exit,
except the build output and the trace file.
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
STATE = os.path.join(ROOT, ".bench_build", "storebench")
RUN_TIMEOUT_S = 170
HEAP = "2g"
# lookup's time is driver-side planning code, whose C2 compilation differed
# from JVM to JVM by up to ±15% in op latency with the host idle; C1 alone
# held it to about ±5%. So lookup measures C1 code, not the default JIT: a
# gain on lookup is confirmed under C2 (this entry removed) before it is
# claimed; see DESIGN.md. scan and ingest keep C2: their time is executor
# loops, which C1 runs at half speed.
JIT_FLAGS = {"lookup": ["-XX:TieredStopAtLevel=1"]}
# JDK 17 module opens Spark needs outside spark-submit (as in the root build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"storebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the build compiles, and of both builds'
    definitions (the files in project/, not its generated subdirectories)."""
    h = hashlib.sha1()
    tops = []
    for base in (ROOT, HERE):
        proj = os.path.join(base, "project")
        tops += [os.path.join(base, "build.sbt"), os.path.join(base, "src", "main")]
        if os.path.isdir(proj):
            tops += sorted(os.path.join(proj, f) for f in os.listdir(proj) if os.path.isfile(os.path.join(proj, f)))
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        # resolve only from the local repositories, as the root build's tests do
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=880)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "storebench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["lookup", "scan", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no connector sources next to {HERE}: run from a checkout of the repository")
    cp = classpath()

    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=work)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JIT_FLAGS.get(args.workload, [])
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "storebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    if args.trace == "1":
        cmd += ["--trace-file", os.path.join(STATE, f"trace-{args.workload}-{args.seed}.jsonl")]

    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            start_new_session=True)
    # terminating this script takes the JVM (its own process group) down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    text = out.decode()
    sys.stdout.write(text)
    sys.stdout.flush()
    last = [l for l in text.splitlines() if l.strip()]
    if proc.returncode != 0 or not last or not last[-1].startswith('{"correct"'):
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()

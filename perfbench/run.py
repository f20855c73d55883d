#!/usr/bin/env python3
"""Run one workload of the summary-store benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--spans-out <file>]

Run from the root of a checkout of the repository. The first run builds
the program and the benchmark from source with sbt (the benchmark's own
build in this directory compiles the repository through its root build)
and records the resulting classpath; later runs reuse it until a source
file changes. Each run then starts one JVM with the benchmark main, in a
fresh work directory that is deleted afterwards.

The last line of standard output is one JSON object: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The exit
code is 0 only when every op answered correctly.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("bulk_load", "point_query", "append_mixed", "index_probe")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens (as the root
# build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def read(path):
    with open(path) as f:
        return f.read().strip()


def jar_dirs(classpath):
    """Replace each class directory on the classpath by a jar of it: the
    JVM's class-data archive accepts jars only."""
    out = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in os.walk(entry):
                    for f in sorted(files):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def java_cmd(classpath, work, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"] + extra
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graft.perfbench.Main", "--work", work]


def dump_class_archive(classpath):
    """Record the classes a short run loads into a class-data archive, so
    every measured run starts its JVM without re-parsing and verifying
    them. Best effort: without the archive runs are slower to start, not
    different."""
    work = tempfile.mkdtemp(prefix="cds-", dir=BUILD)
    cmd = java_cmd(classpath, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    cmd += ["--workload", "point_query", "--seed", "0", "--seconds", "1", "--trace", "0"]
    try:
        ok = subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def build():
    """Compile with sbt and record the runtime classpath, unless the
    recorded one was built from the current sources."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and read(STAMP) == stamp:
        return read(CLASSPATH)
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    print("[perfbench] building (first run in this checkout)", file=sys.stderr)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cp = [l for l in lines if l and not l.startswith("[") and ".jar" in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]")) + "\n")
        fail("build failed", 3)
    classpath = jar_dirs(cp[-1])
    dump_class_archive(classpath)
    with open(CLASSPATH, "w") as f:
        f.write(classpath + "\n")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--spans-out", help="write the traced run's spans (JSON lines) here")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}: run from a checkout of the repository", 2)

    classpath = build()

    # Every file the run writes goes under one fresh work directory in
    # the checkout: stores, indexes, Spark scratch and JVM temp files.
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    cmd = java_cmd(classpath, work, cds)
    cmd += ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace]
    if args.spans_out:
        cmd += ["--spans-out", os.path.abspath(args.spans_out)]

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    last = ""
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        for line in out.splitlines():
            print(line)
            if line.strip():
                last = line.strip()
        code = proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s", 4)
    if code != 0:
        sys.exit(code)
    if not last.startswith("{"):
        fail("the run printed no result line", 5)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload decree_dashboard --seed 1 --seconds 20 --trace 0

Run it from the root of the repository. The first run compiles the
engine and the benchmark with sbt (offline, from the local caches) and
keeps the runtime classpath under the build directory ($CARGO_TARGET_DIR,
default .bench_build); later runs start the JVM directly. The last line
of standard output is the run's result as one JSON object; the line
before it records the run's conditions.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("decree_dashboard", "corpus_curation", "corpus_stream")
# the workload whose warm-up fills the class-data archive: it loads the
# session, SQL, parquet and codegen classes every workload starts with
TRAINED = ("decree_dashboard",)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally adds (the same list as the root build's).
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads from this checkout, in a stable order."""
    out = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            out.append(top)
        for d, _, files in sorted(os.walk(p)):
            out.extend(os.path.relpath(os.path.join(d, f), root) for f in sorted(files))
    return sorted(out)


def source_rev(root, files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(root, build_dir, rev):
    """Compile once per source revision; return the runtime classpath."""
    cp_file = os.path.join(build_dir, f"classpath-{rev}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log_path = os.path.join(build_dir, "build.log")
    print(f"[perfbench] building (log: {log_path})", file=sys.stderr)
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
                stderr=log, text=True, timeout=BUILD_TIMEOUT_S,
                start_new_session=True)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    log_text = proc.stdout
    with open(log_path, "a") as log:
        log.write(log_text)
    cps = [l.strip() for l in log_text.splitlines()
           if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    cp = jar_classpath(cps[-1], os.path.join(build_dir, f"jars-{rev}"))
    train(root, build_dir, cp, rev)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def jar_classpath(cp, jar_dir):
    """Pack the class directories of the classpath into jars: the JVM's
    class-data archive accepts only jars on the classpath."""
    os.makedirs(jar_dir, exist_ok=True)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jar_dir, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in sorted(os.walk(entry)):
                    for f in sorted(files):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train(root, build_dir, cp, rev):
    """Archive the classes a session and one workload's warm-up load, so
    every measured run starts from the same class-data archive."""
    work = os.path.join(build_dir, "work", f"train-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t0 = time.time()
    cmd = (jvm_opts(work, rev) + [f"-XX:ArchiveClassesAtExit={archive(build_dir, rev)}",
           "-cp", cp, "perfbench.Train", work] + list(TRAINED))
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=BUILD_TIMEOUT_S, start_new_session=True)
    shutil.rmtree(work, ignore_errors=True)
    print(f"[perfbench] class-data archive: exit {p.returncode}, {time.time() - t0:.1f} s",
          file=sys.stderr)


def archive(build_dir, rev):
    return os.path.join(build_dir, f"classes-{rev}.jsa")


def jvm_opts(work, rev):
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Xlog:disable", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             f"-Dperfbench.srcrev={rev}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no engine sources here ({need} is missing); run from the repository root")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    if not os.path.isabs(os.environ.get("CARGO_TARGET_DIR", "/")):
        build_dir = os.path.join(root, os.environ["CARGO_TARGET_DIR"])
    os.makedirs(build_dir, exist_ok=True)
    rev = source_rev(root, source_files(root))
    cp = build(root, build_dir, rev)

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(build_dir, "traces")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    jsa = archive(build_dir, rev)
    cmd = (jvm_opts(work, rev)
           + ([f"-XX:SharedArchiveFile={jsa}"] if os.path.isfile(jsa) else [])
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out_dir])
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines[:-1] else "")
        fail(f"benchmark JVM exited with {proc.returncode}", 3)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        fail("benchmark JVM printed no result line", 3)
    print("\n".join(lines))
    sys.stdout.flush()


if __name__ == "__main__":
    main()

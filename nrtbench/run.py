#!/usr/bin/env python3
"""Run one NRT freshness benchmark workload.

    python3 nrtbench/run.py --workload ct_merge_hot --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the benchmark and the
engine from source with sbt (offline) and caches the classpath under
.bench_build/; later runs with unchanged sources reuse it. The last
stdout line is one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json declares (end_to_end with --trace 0, per_layer
with --trace 1). The full result, with provenance, sample counts and
every metric measured, is written to .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ct_merge_hot", "entity_fanout", "medallion_stream")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"nrtbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the build cache key."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def java_cmd(cp, *jvm):
    return (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", *jvm] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", cp, "nrtbench.Main"])


def jars(cp, key):
    """The classpath with every directory entry packed into a jar: the
    JVM's class-data-sharing archive only covers classes loaded from jars.
    """
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"jars-{key}", f"{i}.jar")
            os.makedirs(os.path.dirname(jar), exist_ok=True)
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, names in os.walk(entry):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train(cp, key):
    """One short traced run of the streaming workload (which loads nearly
    every class the others do), recording the classes it loads into a
    class-data-sharing archive: measured runs map the archive instead of
    loading several thousand classes from jars, which cuts JVM and Spark
    start-up by several seconds. Every build measured gets its own.
    """
    work = os.path.join(BUILD, "work", "train")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(cp, f"-XX:ArchiveClassesAtExit={archive_path(key)}",
                   f"-Djava.io.tmpdir={work}/tmp") + [
        "--workload", "medallion_stream", "--seed", "0", "--seconds", "1", "--trace", "1",
        "--work", work, "--setup-reps", "1"]
    try:
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)


def archive_path(key):
    return os.path.join(BUILD, f"cds-{key}.jsa")


def build(key):
    """Compile with sbt; returns the runtime classpath (all jars)."""
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    print("nrtbench: building (first run in this checkout)", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    for name in os.listdir(BUILD):  # artifacts of earlier sources
        stale = os.path.join(BUILD, name)
        if name.split("-")[0] in ("classpath", "jars", "cds") and key not in name:
            if os.path.isdir(stale):
                shutil.rmtree(stale)
            else:
                os.remove(stale)
    cp = jars(lines[-1], key)
    train(cp, key)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the repository root: the engine sources (build.sbt, src/main/scala) are missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer" if a.trace else "end_to_end"]]

    key = digest(sources())
    cp = build(key)

    cpus = str(len(os.sched_getaffinity(0)))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(BUILD, "results", f"{tag}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    archive = archive_path(key)
    shared = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    cmd = java_cmd(cp, *shared, f"-Djava.io.tmpdir={work}/tmp") + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out, "--cpus", cpus,
        "--git-sha", git_sha(), "--source-digest", key]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{tag} did not finish within {RUN_TIMEOUT_S} s", 3)
    shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    result = None
    for line in lines:
        if line.startswith("{"):
            result = json.loads(line)
        else:
            print(line)
    if result is None:
        fail(f"{tag} printed no result (exit {proc.returncode})", 4)
    missing = [m for m in declared if m not in result["metrics"]]
    if missing:
        fail(f"{tag} did not measure {', '.join(missing)}", 5)
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"], "failed": result["failed"],
        "metrics": {m: result["metrics"][m] for m in declared}}))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()

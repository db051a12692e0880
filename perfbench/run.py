#!/usr/bin/env python3
"""The repo benchmark: the KG chain (fused and snapshot flows) and the query suite.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload kg_chain --seed 1 --seconds 6 --trace 0

It builds the harness (perfbench/build.sbt, which compiles the repo's own
sources) when the sources changed since the last build, runs one workload in
a fresh JVM and passes on its output. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics. The exit code is 0
only when every output matched its gold or expected value.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("kg_chain", "query_suite")
HEAP = "2g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# the module opens spark-submit passes to a JDK 17 JVM
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout."""
    files = []
    for top in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            path = os.path.join(top, name)
            if os.path.isfile(path):
                files.append(path)
        for base, _, names in os.walk(os.path.join(top, "src", "main")):
            files.extend(os.path.join(base, n) for n in names)
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compiles the repo and the harness; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath." + digest)
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    # resolve only from the local caches, as the repo's own build does
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    log("building (sbt compile)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(f"build failed (exit {proc.returncode})")
        sys.exit(2)
    for old in os.listdir(BUILD):
        if old.startswith("classpath."):
            os.remove(os.path.join(BUILD, old))
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="query_suite only: rewrite perfbench/expected/query_suite.json")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("the repo's sources are not next to perfbench/; run from the root of a checkout")
        sys.exit(2)
    files = source_files()
    digest = source_digest(files)
    classpath = build(digest)

    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--root", ROOT,
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.record_expected:
        cmd.append("--record-expected")
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=git_commit(), PERFBENCH_SOURCE_DIGEST=digest)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(3)
    lines = [l for l in out.splitlines() if l.strip()]
    if args.record_expected:
        sys.exit(proc.returncode)
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if not ok:
        sys.stderr.write(out)
        log(f"no result line (exit {proc.returncode})")
        sys.exit(proc.returncode or 4)
    print("\n".join(lines), flush=True)
    sys.exit(proc.returncode if proc.returncode != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()

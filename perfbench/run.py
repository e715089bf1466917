#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft plus the harness in
perfbench/ from source with sbt (offline, once per source state; the
build is cached under .bench_build/), then runs one workload in one JVM
on local[min(4, nproc)] and prints, as the last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list. Exits non-zero, printing no result, when the build, the run or the
metric set fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs the module opens it would
# otherwise inject (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    """Everything the build reads: graft's build and sources, then the
    harness's."""
    picks = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ["src/main", "perfbench/src/main"]:
        for d, dirs, files in os.walk(os.path.join(root, base)):
            dirs.sort()
            picks += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files)]
    return picks


def source_stamp(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout):
    """Run cmd in its own process group; on timeout kill the whole group.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        log(f"timed out after {timeout} s: {cmd[0]}")
        return None, None
    return p.returncode, out


def build(root, out):
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    code, text = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        os.path.join(root, "perfbench"), env, BUILD_TIMEOUT_S, subprocess.PIPE)
    if code != 0:
        if text:
            sys.stderr.write(text.decode(errors="replace")[-4000:])
        log(f"build failed (exit {code})")
        return None
    lines = [l for l in text.decode(errors="replace").splitlines()
             if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not lines:
        log("build printed no classpath")
        return None
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isfile(os.path.join(root, "perfbench", "run.py"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("run from the root of a graft checkout: build.sbt or src/ is missing")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {a.workload}")
        return 2
    wanted = [m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]]

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    if cp is None:
        return 1

    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work])
    code, text = run_group(cmd, root, env, RUN_TIMEOUT_S, subprocess.PIPE)
    if code != 0:
        log(f"benchmark run failed (exit {code})")
        return 1
    lines = text.decode(errors="replace").splitlines()
    for l in lines[:-1]:
        print(l)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        log("the run printed no result line")
        return 1
    got = list(result.get("metrics", {}))
    if sorted(got) != sorted(wanted):
        log(f"metric set differs from BENCHMARK.json: missing {sorted(set(wanted) - set(got))}, "
            f"extra {sorted(set(got) - set(wanted))}")
        return 1
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

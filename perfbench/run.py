#!/usr/bin/env python3
"""Feature-store benchmark runner.

    python3 perfbench/run.py --workload <offline_batch|ingest_while_serving>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. A run compiles the repository and the
benchmark (sbt, offline) whenever their sources or build files differ from
the last build, caching the runtime classpath under perfbench/.build. It
rebuilds the 10x replica under perfbench/.work/data, in a JVM of its own,
whenever the code that makes it differs from the last replica. Then it
starts one JVM, which prints progress on stderr and one JSON result as the
last stdout line. That result holds the gated metrics and the workload's
own figures (`detail`). This script checks that the gated metrics are
exactly the ones BENCHMARK.json lists for the run (end-to-end untraced,
per-layer traced), in their units, prints them as its own last line, and
logs the detail on stderr and to perfbench/.work/detail. Any failure exits
non-zero without printing a result.
"""
import argparse
import glob
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
MANIFEST = os.path.join(ROOT, "BENCHMARK.json")
DATA = os.path.join(WORK, "data")
# What the compiled program depends on: sources and build files of the
# repository and of the benchmark (tests are not on the runtime classpath).
BUILD_INPUTS = ["build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src/main"]
# What the replica's content depends on: the generator and the scaler.
DATA_INPUTS = ["perfbench/src/main/scala/perfbench/Gen.scala",
               "src/main/scala/graft/tools/ScaleCheck.scala"]

# Spark 4 on JDK 17 outside spark-submit needs these (the repository's
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Pinned heap and ParallelGC: the settings the repository's build gives its
# forked batch JVMs; a pinned heap also keeps peak RSS comparable run to run.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
WORKLOADS = ("offline_batch", "ingest_while_serving")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, cwd, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout or
    interruption and wait for it. Returns (code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out or ""
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def digest(inputs):
    """sha256 over the checkout path and every file (path + bytes) under
    `inputs`, skipping sbt's own output directories."""
    h = hashlib.sha256(ROOT.encode())
    for rel in inputs:
        top = os.path.join(ROOT, rel)
        if not os.path.exists(top):
            raise RuntimeError(f"{rel} is missing: nothing to benchmark")
        files = [top]
        if os.path.isdir(top):
            files = []
            for d, dirs, fs in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def read(path):
    return open(path).read().strip() if os.path.exists(path) else None


def build():
    key = digest(BUILD_INPUTS)
    stamp = os.path.join(BUILD, "sources.sha256")
    if read(stamp) == key and os.path.exists(CLASSPATH):
        return read(CLASSPATH)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log("building (sbt: sources changed since the last build)")
    code, out = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                           "export Runtime/fullClasspath"], cwd=HERE, timeout=600, env=env)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise RuntimeError(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(key)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    started = time.monotonic()
    cp = build()
    # a killed run leaves its scratch behind; runs never overlap
    for d in glob.glob(os.path.join(WORK, "run-*")) + [os.path.join(WORK, "spark-local")]:
        shutil.rmtree(d, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main", "--work", WORK])
    data_key = digest(DATA_INPUTS)
    data_stamp = os.path.join(DATA, "inputs.sha256")
    if read(data_stamp) != data_key or not os.path.exists(
            os.path.join(DATA, "x10", "events.parquet", "_SUCCESS")):
        # the 10x replica is built in its own JVM before the measured run,
        # so that run starts like every later one
        log("building the 10x replica (its generator changed or it is missing)")
        shutil.rmtree(DATA, ignore_errors=True)
        code, _ = run_child(java + ["--workload", "prepare", "--seed", "0", "--seconds", "0",
                                    "--trace", "0"], cwd=ROOT, timeout=max(60, 700 - (time.monotonic() - started)))
        if code != 0:
            raise RuntimeError(f"building the replica failed ({code})")
        with open(data_stamp, "w") as f:
            f.write(data_key)
    code, out = run_child(java + ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", a.trace], cwd=ROOT, timeout=170)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        raise RuntimeError(f"benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics", "detail"}:
        raise RuntimeError(f"malformed result: {lines[-1]}")
    with open(MANIFEST) as f:
        manifest = json.load(f)
    want = {m["name"]: m["unit"] for m in manifest["per_layer" if a.trace == "1" else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise RuntimeError(f"metrics differ from {os.path.basename(MANIFEST)}: "
                           f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                           f"units {sorted(k for k in want if k in got and got[k] != want[k])}")
    detail = result.pop("detail")
    os.makedirs(os.path.join(WORK, "detail"), exist_ok=True)
    with open(os.path.join(WORK, "detail", f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    for k, v in detail.items():
        log(f"detail {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result), flush=True)


def on_term(signum, frame):
    # becomes an exception, so run_child kills and reaps its process group
    raise SystemExit(f"terminated by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_term)
    try:
        main()
    except Exception as e:  # no result line on any failure
        log(f"FAILED: {e}")
        sys.exit(1)

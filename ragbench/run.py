#!/usr/bin/env python3
"""Ingest-and-retrieve benchmark for graft.

    python3 ragbench/run.py --workload <ingest_remote|ingest_live|rag_query>
                            --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness and graft's main sources
from source on first use (see build.py), runs one workload in a fresh JVM
with a fresh scratch directory under ragbench/.work, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The line before it carries the host stamp
and sample counts; the whole result is also kept under ragbench/.results.
Scratch directories are left in place (both paths are git-ignored): on an
ext4 disk mounted with `discard`, deleting a run's few hundred data files
took about as long as the run itself. Remove them with `rm -rf ragbench/.work`.

Test-only options: --scale tiny (small inputs) and --inject
drop|dup|vector|topk (simulate a faulty program to exercise the checks).
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest_remote", "ingest_live", "rag_query")
JVM_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[ragbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def git_sha():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, classpath, work, spans, log_path):
    cmd = ["java", "-Xms2g", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the mocks reply in one segment: without TCP_NODELAY a delayed ACK adds
    # ~40 ms to every call, which no real service does on a warm connection
    cmd += ["-Dsun.net.httpserver.nodelay=true",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}",
            "-cp", os.pathsep.join(classpath), "ragbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", args.scale, "--inject", args.inject,
            "--work", work, "--spans", spans, "--git-sha", git_sha(),
            "--source-hash", build.current_stamp()[:16],
            "--launch-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True, cwd=work, env=env)

        def stop(signum, _frame):  # take the JVM down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, f"timed out after {JVM_LIMIT_S} s"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return out, proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject", choices=("none", "drop", "dup", "vector", "topk"), default="none")
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")

    bench = spec()
    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        die(f"build failed: {e}")

    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", stamp)
    results = os.path.join(HERE, ".results")
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    spans = os.path.join(results, stamp + ".spans.jsonl")
    log_path = os.path.join(results, stamp + ".jvm.log")
    out, code = run_jvm(args, classpath, work, spans, log_path)
    if out is None or code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        die(f"benchmark JVM failed ({code}); log tail:\n{tail}")

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        die("benchmark JVM printed no result")
    info, raw = json.loads(lines[-2]), json.loads(lines[-1])

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = raw["metrics"].get(m["name"])
        if v is None:
            if not args.trace:
                die(f"end-to-end metric {m['name']} was not measured")
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
              "failed": int(raw["failed"]), "metrics": metrics}
    with open(os.path.join(results, stamp + ".json"), "w") as f:
        json.dump({"info": info["ragbench"], "result": result}, f, indent=1)
    print(json.dumps(info))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

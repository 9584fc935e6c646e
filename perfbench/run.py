#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md and BENCHMARK.json):
    notion_etl           the reference pipeline through the CLI entry points
    commits_and_queries  a seeded commit round on the manifest table format,
                         then read-only queries of the engine's query surface

The first run in a checkout builds the engine and the harness from
source with sbt (about a minute). Inputs are generated from --seed under
.bench_build/; the JVM harness runs the workload once, cold, in a closed
loop; the outputs are checked here, outside the timed region. One cold
pass is the unit of measurement, so --seconds is accepted and not used.
The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer ones with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402
import notion_gen  # noqa: E402
import oplog  # noqa: E402
import querymix  # noqa: E402

WORKLOADS = ("notion_etl", "commits_and_queries")
NOTION_TIMESLICES = 2000
JVM_HEAP = "3g"
CORES = min(4, os.cpu_count() or 1)  # local[n], n <= nproc
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sf_dir():
    """The fixed sf0.1 tables: $PERFBENCH_SF_DIR, else ~/testdata/sf0.1."""
    return os.environ.get("PERFBENCH_SF_DIR",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def source_fingerprint():
    """Hash of every build input, so a changed source rebuilds."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src", os.path.join("perfbench", "build.sbt"),
                 os.path.join("perfbench", "project"), os.path.join("perfbench", "src")):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if "target" not in os.path.relpath(d, ROOT).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless this source is built;
    return (class path, JVM options, fingerprint)."""
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a checkout of the engine: {need} is missing under {ROOT}")
    fp = source_fingerprint()
    stamp = os.path.join(BUILD, "built.json")
    launch = os.path.join(BUILD, "launch.txt")
    if os.path.exists(stamp) and os.path.exists(launch):
        with open(stamp) as f:
            if json.load(f).get("fingerprint") == fp:
                return read_launch(launch) + (fp,)
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd.append("perfbench/launchSpec")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.exists(launch):
        raise SystemExit(f"build failed (exit {rc}); see {BUILD}/build.log")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "build_s": time.time() - t0}, f)
    return read_launch(launch) + (fp,)


def read_launch(path):
    with open(path) as f:
        lines = f.read().splitlines()
    # the harness sets its own heap
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def cpu_jiffies():
    """(busy, steal, total) jiffies of the whole machine, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - v[3] - v[4], steal, sum(v)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def generate(workload, seed, work):
    """Seeded inputs; returns (harness arguments, what the checks need)."""
    inputs = os.path.join(work, "inputs")
    if workload == "notion_etl":
        return ["--inputs", inputs], notion_gen.generate(inputs, seed, NOTION_TIMESLICES)
    return (["--inputs", inputs, "--sf-dir", sf_dir()],
            dict(oplog.generate(inputs, seed, sf_dir()), **querymix.generate(inputs, seed)))


def run_jvm(classpath, jvm_opts, work, args):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main", "--work", work, "--out", result] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("harness timed out")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"harness failed (exit {rc})")
    with open(result) as f:
        return json.load(f)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="accepted, not used")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    classpath, jvm_opts, fingerprint = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cpu0 = cpu_jiffies()
        t0 = time.time()
        args, generated = generate(a.workload, a.seed, work)
        gen_s = time.time() - t0
        res = run_jvm(classpath, jvm_opts, work, [
            "--workload", a.workload, "--trace", str(a.trace), "--cores", str(CORES)] + args)
        outcome = checks.run(a.workload, res, generated, work, sf_dir())
        host = dict(res["host"], git_commit=git_commit(), source_sha256=fingerprint,
                    seed=a.seed, bench_gen_s=gen_s, setups_s=res["setup_s"])
        cpu1 = cpu_jiffies()
        if cpu0 and cpu1:  # how busy the machine was, and how much the host took
            total = max(1, cpu1[2] - cpu0[2])
            host.update(machine_busy_pct=100.0 * (cpu1[0] - cpu0[0]) / total,
                        steal_pct=100.0 * (cpu1[1] - cpu0[1]) / total)
        info = {"host": host, "checks": outcome.details}
        if a.trace:
            values = metrics.per_layer(a.workload, res, outcome, gen_s)
            info["sites_top10"] = metrics.top_sites(res)
            # the spans and jobs of the traced run outlive the work directory
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "trace_spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
        else:
            values = metrics.end_to_end(res)
        print(json.dumps(info))
        attempted = len(res["ops"]) + outcome.attempted
        failed = sum(not op["ok"] for op in res["ops"]) + outcome.failed
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics.render(values)}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one perfbench workload against the program in this checkout.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run builds the program and the benchmark with sbt (offline,
from the checkout's sources); later runs reuse that build until a
source file changes. Each run starts one JVM, runs the workload, checks
every answer and prints one JSON result as the last line of stdout.
A record of the run, with the host's steadiness evidence, is written
to perfbench/records/ under a new name; no record is ever overwritten.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_INFO = os.path.join(HERE, "target", "perfbench-build.json")
RECORDS = os.path.join(HERE, "records")
WORKLOADS = ("dashboard", "wide_scan", "ingest", "operator_suite")
# The whole run, JVM included, must end well inside three minutes.
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
HEAP = "3g"

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
    """Every file the build reads, in a stable order."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            out += [os.path.join(d, n) for n in names]
    for f in ("build.sbt", os.path.join("project", "build.properties"),
              os.path.join("perfbench", "build.sbt"),
              os.path.join("perfbench", "project", "build.properties")):
        out.append(os.path.join(ROOT, f))
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(src_hash):
    """Classpath of the built benchmark, building it first if needed."""
    try:
        with open(BUILD_INFO) as fh:
            info = json.load(fh)
        if info["source_sha256"] == src_hash and all(os.path.exists(p) for p in info["classpath"]):
            return info["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    classpath = lines[-1].split(os.pathsep)
    if not all(os.path.isabs(p) and os.path.exists(p) for p in classpath):
        sys.stderr.write(proc.stdout[-4000:])
        fail("could not read the classpath from sbt", 3)
    os.makedirs(os.path.dirname(BUILD_INFO), exist_ok=True)
    with open(BUILD_INFO, "w") as fh:
        json.dump({"source_sha256": src_hash, "classpath": classpath}, fh)
    return classpath


def cpu_times():
    """(busy, steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    idle = f[3] + f[4]
    steal = f[7] if len(f) > 7 else 0
    total = sum(f[:8])
    return total - idle - steal, steal, total


def cpu_probe_ms():
    """A fixed single-thread job: best of five SHA-256 passes over 8 MiB."""
    buf = bytes(range(256)) * 32768
    best = None
    for _ in range(5):
        t = time.perf_counter()
        hashlib.sha256(buf).digest()
        dt = (time.perf_counter() - t) * 1e3
        best = dt if best is None else min(best, dt)
    return best


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def last_untraced(workload, seconds, src_hash):
    """The newest untraced record of the same workload and build."""
    best = None
    if os.path.isdir(RECORDS):
        for name in sorted(os.listdir(RECORDS)):
            if f"_{workload}_" not in name or "_trace0_" not in name:
                continue
            try:
                with open(os.path.join(RECORDS, name)) as fh:
                    rec = json.load(fh)
            except (OSError, ValueError):
                continue
            if rec.get("source_sha256") == src_hash and rec.get("seconds") == seconds:
                best = rec
    return best


def print_trace_summary(record, name):
    """A readable digest of a traced run, on stderr."""
    rep = record["report"]
    out = [f"perfbench: traced {record['workload']} seed {record['seed']}, record {name}",
           "  per layer, per operation:"]
    out += [f"    {k:26s} {v['value']:14.6g} {v['unit']}"
            for k, v in sorted(rep["per_layer"].items()) if v["value"]]
    out.append("  by kind: n, latency p50 s, files kept, schema jobs, spark jobs, build jobs")
    for k, v in sorted(rep.get("by_kind", {}).items()):
        out.append(f"    {k:14s} {v['n']:5.0f} {v['latency_p50_s']:8.3f} {v['files_kept']:7.1f}"
                   f" {v['schema_jobs']:7.1f} {v['spark_jobs']:7.1f} {v['build_jobs']:7.1f}")
    if "tracing_overhead" in record:
        out.append(f"  tracing overhead against {record['tracing_overhead_base']}:")
        out += [f"    {k:26s} {v:+.6g}" for k, v in sorted(record["tracing_overhead"].items())]
    print("\n".join(out), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")

    src_hash = source_hash()
    classpath = ensure_built(src_hash)

    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report_path = os.path.join(work, "report.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join(classpath), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", os.path.join(HERE, "data"),
        "--work", work, "--report", report_path]

    probe_before = cpu_probe_ms()
    busy0, steal0, total0 = cpu_times()
    wall0 = time.monotonic()
    children0 = os.times()
    child = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
    # a terminated run takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(6))
    try:
        out, _ = child.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.communicate()
            shutil.rmtree(work, ignore_errors=True)
    if out is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    wall = time.monotonic() - wall0
    busy1, steal1, total1 = cpu_times()
    probe_after = cpu_probe_ms()
    children1 = os.times()
    child_cpu = (children1.children_user + children1.children_system
                 - children0.children_user - children0.children_system)

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        with open(report_path) as fh:
            report = json.load(fh)
    except (IndexError, ValueError, OSError):
        sys.stderr.write(out[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run printed no result (exit code {child.returncode})", 5)
    shutil.rmtree(work, ignore_errors=True)
    if child.returncode != 0:
        fail(f"the run exited with code {child.returncode}", 5)

    dt_total = max(total1 - total0, 1)
    hz = os.sysconf("SC_CLK_TCK")
    ncpu = os.cpu_count() or 1
    record = {
        "commit": git_commit(),
        "source_sha256": src_hash,
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "utc": stamp, "nproc": ncpu, "wall_s": wall,
        "host": {
            "steal_pct": 100.0 * (steal1 - steal0) / dt_total,
            "busy_pct": 100.0 * (busy1 - busy0) / dt_total,
            "other_process_cpu_pct": max(0.0, 100.0 * ((busy1 - busy0) / hz - child_cpu)
                                         / (wall * ncpu)),
            "cpu_probe_ms_before": probe_before,
            "cpu_probe_ms_after": probe_after,
            "loadavg": os.getloadavg(),
        },
        "result": result,
        "report": report,
    }
    if a.trace == 1:
        base = last_untraced(a.workload, a.seconds, src_hash)
        if base:
            traced = report["end_to_end"]
            record["tracing_overhead"] = {
                k: traced[k]["value"] - v["value"]
                for k, v in base["report"]["end_to_end"].items() if k in traced}
            record["tracing_overhead_base"] = base["utc"] + f" seed {base['seed']}"
    os.makedirs(RECORDS, exist_ok=True)
    name = f"{stamp}_{a.workload}_seed{a.seed}_trace{a.trace}_{os.getpid()}.json"
    with open(os.path.join(RECORDS, name), "x") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if a.trace == 1:
        print_trace_summary(record, name)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

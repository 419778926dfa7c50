#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--scale full|tiny]

Compiles the program and the benchmark's own code on first use (and again
whenever a source file changes), then runs one JVM holding one local[4] Spark
session. The last line of standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything the run writes stays under .bench_build/perfbench in the checkout.
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("serve_rw", "keys_warm")
DATA = os.path.join(HERE, "data")
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_LIMIT_S = 700    # the first run of a checkout also builds (900 s)
DEFAULT_HEAP = "3g"
HEAP_SHARE = 0.4       # of the machine's memory, at most

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


_children = []


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_children():
    """Kills every process group this run started and waits for each."""
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                         start_new_session=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        stop_children()
        return None, ""
    return p.returncode, out


def java(tool):
    """A JDK tool: JAVA_HOME's if set, otherwise the one on PATH."""
    path = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", tool)
    return path if os.environ.get("JAVA_HOME") and os.path.isfile(path) else tool


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(src):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def jars_dir():
    """The program's Spark jars (they hold the Scala compiler too): the
    `unmanagedBase` its build.sbt names."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        die("build.sbt names no unmanagedBase directory of jars")
    return m.group(1)


def build(deadline):
    """Returns (runtime classpath, source stamp, whether it built now),
    compiling first if any source changed since the last build. The program
    and the benchmark are compiled together with the Scala compiler among
    the program's own jars, straight into .bench_build, so the build writes
    nothing outside it."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("no program sources next to the benchmark (src/main/scala, build.sbt)")
    jars = os.path.join(jars_dir(), "*")
    files = source_files()
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    resources = os.path.join(ROOT, "src", "main", "resources")
    classpath = os.pathsep.join([classes] + ([resources] if os.path.isdir(resources) else []) + [jars])
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file) and \
            os.path.isfile(os.path.join(classes, "graft", "perfbench", "Main.class")):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classpath, stamp, False
    fresh = os.path.join(OUT, "classes-new")
    tmp = os.path.join(OUT, "build-tmp")
    for d in (fresh, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = [java("java"), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", jars, "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", fresh]
    code, out = run_child(cmd + [p for p in files if p.endswith(".scala")],
                          deadline - time.time(), cwd=OUT, stderr=subprocess.STDOUT)
    if code is None:
        die("build timed out", 3)
    if code != 0:
        sys.stderr.write(out[-4000:])
        die("build failed")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, stamp, True


def driver_heap():
    """The JVM heap: SPARK_DRIVER_MEM (default 3g), at most HEAP_SHARE of
    the machine's memory. The heap is committed in full at start, so a
    larger one (the program's build defaults to 32g) would stop the JVM
    before it runs."""
    want = os.environ.get("SPARK_DRIVER_MEM", DEFAULT_HEAP)
    m = re.fullmatch(r"(\d+)([kmgt]?)", want.strip().lower())
    if not m:
        die(f"SPARK_DRIVER_MEM={want!r} is not a JVM heap size like 3g")
    mb = int(m.group(1)) * {"": 2 ** -20, "k": 2 ** -10, "m": 1, "g": 2 ** 10, "t": 2 ** 20}[m.group(2)]
    try:
        with open("/proc/meminfo") as f:
            total_mb = int(f.readline().split()[1]) // 1024
    except (OSError, ValueError, IndexError):
        return want
    cap = int(total_mb * HEAP_SHARE)
    if mb <= cap:
        return want
    print(f"perfbench: SPARK_DRIVER_MEM={want} exceeds {HEAP_SHARE:.0%} of memory; heap {cap}m",
          file=sys.stderr)
    return f"{cap}m"


def cpu_jiffies():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return 0, 0


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def load_json(path, default):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def save_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    a = ap.parse_args()
    start = time.time()

    def on_signal(signum, _frame):
        stop_children()
        die(f"stopped by signal {signum}", 4)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    e2e_units, layer_units = declared()
    cp, stamp, built_now = build(start + BUILD_LIMIT_S)

    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-{a.scale}"
    spans = os.path.join(traces, f"{tag}.jsonl")
    heap = driver_heap()
    # no hsperfdata file: the JVM would otherwise write one outside the checkout
    cmd = [java("java"), f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--data", DATA, "--scale", a.scale]
    if a.trace == "1":
        cmd += ["--spans", spans]
    # a local session binds to loopback only, whatever the host's network
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    limit = (start + 870 if built_now else start + RUN_LIMIT_S) - time.time()
    steal0, total0 = cpu_jiffies()
    try:
        code, out = run_child(cmd, limit, cwd=work, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_jiffies()
    if code is None:
        die("run timed out", 3)
    lines = out.splitlines()
    details = [l for l in lines if l.startswith("perfbench: ")]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        die(f"run failed (exit {code})")
    result = json.loads(lines[-1])

    # the admission log must be the same for every run of one build at one seed
    digest = next((l.split()[-1] for l in details if "admission_digest" in l), None)
    digests_file = os.path.join(OUT, "digests.json")
    digests = load_json(digests_file, {})
    key = f"{tag}-{stamp[:16]}"
    if digest is not None:
        if digests.setdefault(key, digest) != digest:
            print(f"perfbench: admission digest {digest} differs from "
                  f"{digests[key]} of an earlier run at this seed", file=sys.stderr)
            result["correct"] = False
            result["failed"] += 1
        save_json(digests_file, digests)

    # every declared metric, finite, with its declared unit
    want = layer_units if a.trace == "1" else e2e_units
    ms = result["metrics"]
    bad = [n for n, u in want.items()
           if n not in ms or ms[n]["unit"] != u or not math.isfinite(ms[n]["value"])]
    if bad or set(ms) - set(want):
        die(f"metrics missing, extra or malformed: {bad or sorted(set(ms) - set(want))}")

    own_e2e = next((json.loads(l.split(" ", 2)[2]) for l in details if l.startswith("perfbench: e2e ")), {})
    e2e_file = os.path.join(OUT, "e2e", f"{tag}.json")
    if a.trace == "0":
        save_json(e2e_file, own_e2e)
    else:
        # tracing overhead: this traced run's own timings against the last
        # untraced run of the same workload and seed in this checkout
        base = load_json(e2e_file, None)
        timed = [n for n, u in e2e_units.items() if u == "s"]
        overhead = {n: own_e2e[n]["value"] / base[n]["value"] - 1.0
                    for n in timed if base and base.get(n, {}).get("value")}
        save_json(os.path.join(traces, f"{tag}-overhead.json"),
                  {"traced": own_e2e, "untraced": base, "overhead_frac": overhead})
        print("perfbench: tracing overhead " + (
            " ".join(f"{n}={v:+.3f}" for n, v in sorted(overhead.items()))
            if overhead else "unknown (no untraced run of this workload and seed yet)"))
        print(f"perfbench: spans {os.path.relpath(spans, ROOT)}")
    for l in details:
        if not l.startswith("perfbench: e2e "):
            print(l)
    # time the hypervisor gave this machine's CPUs to other guests: runs
    # with a high share read slower for reasons outside the program
    if total1 > total0:
        print(f"perfbench: cpu steal {100.0 * (steal1 - steal0) / (total1 - total0):.1f}% during the run")
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": ms},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()

"""Engine benchmark: runs one workload in a fresh JVM and prints its
metrics as one JSON line (the last line of standard output).

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 16 --trace 0

Workloads: cdc_stream, scan_mix (see perfbench/README.md).
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones;
both are named, with units, in BENCHMARK.json. The engine and the
client are built from source on first use (perfbench/build.py).
Exit code is non-zero when the build, the run or any oracle check fails.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("cdc_stream", "scan_mix")
HEAP = "-Xmx3g"
RUN_LIMIT_S = 175
# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def cpu_steal_ticks():
    """Cumulative steal ticks of all CPUs: time the hypervisor ran others."""
    try:
        return int(open("/proc/stat").readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def git_head():
    try:
        r = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    load_before = loadavg()
    steal_before = cpu_steal_ticks()

    try:
        classes, jars, src_digest = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    t_built = time.time()
    bench = spec()

    work = os.path.join(HERE, ".work", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = (["java", HEAP, "-Xss16m", "-XX:-UsePerfData", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    # the limit covers the run, not the build: a cold checkout compiles
    # the engine first (see README.md for how long that takes)
    budget = max(10.0, RUN_LIMIT_S - (time.time() - t_built))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    load_after = loadavg()
    steal_after = cpu_steal_ticks()
    if rc is None or not os.path.isfile(out):
        tail = open(log, errors="replace").read()[-3000:]
        fail(f"JVM {'timed out' if rc is None else f'exited {rc}'} without a result:\n{tail}")
    res = json.load(open(out))

    want = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = res["layers"] if a.trace else res["e2e"]
    metrics, missing = {}, []
    for m in want:
        v = source.get(m["name"])
        if v is None or not math.isfinite(v):
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    errors = list(res["errors"])
    if missing:
        errors.append(f"metrics not measured: {missing}")
    if not a.trace:
        zero = [k for k, v in metrics.items() if v["value"] <= 0]
        if zero:
            errors.append(f"end-to-end metrics not positive: {zero}")

    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "spark_master": res["jvm"]["master"], "jvm_heap_flag": HEAP,
        "jvm_max_heap_mb": res["jvm"]["max_heap_mb"], "git_head": git_head(),
        "source_digest": src_digest, "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_s": None if steal_before is None or steal_after is None
        else (steal_after - steal_before) / os.sysconf("SC_CLK_TCK"),
        "build_s": round(t_built - t_start, 3), "wall_s": round(time.time() - t_start, 3),
    }
    # traced runs also report how far tracing moved each end-to-end
    # metric against the last untraced run of the workload in this checkout
    last = os.path.join(HERE, ".work", f"untraced-{a.workload}.json")
    if a.trace and os.path.isfile(last):
        base = json.load(open(last))
        context["trace_overhead"] = {
            k: {"traced": v, "untraced": base[k], "delta": v - base[k]}
            for k, v in res["e2e"].items() if base.get(k) is not None and v is not None}
    elif not a.trace:
        with open(last, "w") as fh:
            json.dump(res["e2e"], fh)

    detail = {"context": context, "attempted": res["attempted"], "failed": res["failed"],
              "errors": errors, "e2e": res["e2e"], "detail": res["detail"]}
    if a.trace:
        detail["layers"] = res["layers"]
    print(json.dumps(detail, sort_keys=True))
    correct = rc == 0 and res["failed"] == 0 and not errors
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository's benchmark: drives FrontierJob.runBatch and
CorpusJob.runPipeline from outside, on seeded generated inputs, at
local[nproc] with the session settings of Main.clusterSession.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest     # planted wrong outputs are caught

Run from the repository root. The first run compiles the program and the
harness (perfbench/build.sh) into $CARGO_TARGET_DIR (default .bench_build).
The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end with --trace 0, per-layer with --trace 1). Traced runs
also write their spans to <build>/trace/<workload>-<seed>.json.
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
sys.path.insert(0, HERE)
import benchstats  # noqa: E402

DEADLINE_S = 175          # a run must end within 180 s
BUILD_DEADLINE_S = 800    # the first run of a checkout also builds
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install whose
    spark-submit is on PATH (a bare pyspark launcher has no jars dir)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    sys.exit("no Spark install found: set SPARK_HOME")


def source_stamp():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sh")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build(deadline):
    """Compiles when the classes are missing or the sources changed.
    Returns whether it compiled."""
    out = build_dir()
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.isdir(os.path.join(out, "classes")) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return False
    os.makedirs(out, exist_ok=True)
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), out, spark_jars()], check=True,
                   stdout=sys.stderr, timeout=max(1, deadline - time.time()))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def heap_gb():
    """A quarter of MemTotal, within [2, 8] GB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return min(8, max(2, kb // (4 * 2 ** 20)))


def harness(workload, seed, seconds, trace, params, deadline, selftest=False):
    out = build_dir()
    tag = f"{workload}-{seed}-{os.getpid()}"
    work = os.path.join(out, "work", tag)
    raw_file = os.path.join(out, "raw", tag + ".json")
    for d in (work, os.path.join(work, "tmp"), os.path.dirname(raw_file)):
        os.makedirs(d, exist_ok=True)
    heap = f"-Xmx{heap_gb()}g"
    # A fixed young generation with large survivor spaces and the highest
    # tenuring threshold: what a job call holds live stays in the young
    # generation instead of being promoted and left behind as old-generation
    # garbage, so the heap used after a collection inside a call reads the
    # call's live set (jvm.peak_mem_mb).
    cmd = (["java", heap, heap.replace("-Xmx", "-Xms"), f"-Xmn{heap_gb() * 384}m",
            "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-XX:SurvivorRatio=2",
            "-XX:InitialTenuringThreshold=15", "-XX:MaxTenuringThreshold=15",
            "-XX:-UsePerfData"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", os.path.join(out, "classes") + os.pathsep + os.path.join(spark_jars(), "*"),
            "graft.perfbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", raw_file,
            "--selftest", "1" if selftest else "0"] +
           [x for k, v in sorted(params.items()) for x in ("--param", f"{k}={v}")])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{workload}: harness exceeded the run deadline")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"{workload}: harness exited with code {rc}")
    with open(raw_file) as fh:
        raw = json.load(fh)
    os.remove(raw_file)
    return raw


def digest_check(workload, seed, params, digests):
    """The output digests of one seed must be the same on every run of the
    same sources and sizes: the first run records them under the build
    directory, later runs compare against that record."""
    if not digests:
        return []
    key = hashlib.sha256(json.dumps([source_stamp(), workload, seed, params],
                                    sort_keys=True).encode()).hexdigest()
    path = os.path.join(build_dir(), "digests", key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            first = json.load(fh)
        ok, detail = first == digests, f"digests {digests}, first run {first}"
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(digests, fh)
        ok, detail = True, f"digests {digests} recorded by this run"
    return [{"name": "digest_same_across_runs", "ok": ok, "detail": detail}]


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)["workloads"]


def describe(name, m, unit):
    tail = m["tail"]
    extra = f", p{tail[0]:g} {tail[1]:.6g}" if tail else ", no percentile beyond the median has 10 samples"
    print(f"# {name} = {m['value']:.6g} {unit} (median of n={m['n']}{extra})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("no program sources (src/main/scala) next to perfbench/: "
                 "run from a full checkout of the repository")
    workloads = load_workloads()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    built = ensure_build(started + BUILD_DEADLINE_S)
    deadline = (time.time() if built else started) + DEADLINE_S

    if args.selftest:
        ok = True
        for name, w in workloads.items():
            raw = harness(name, 0, 0, 0, w["selftest_params"], time.time() + DEADLINE_S,
                          selftest=True)
            print(json.dumps({"workload": name, **raw}))
            ok = ok and raw["ok"]
        sys.exit(0 if ok else 1)

    if args.workload not in workloads:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    w = workloads[args.workload]
    raw = harness(args.workload, args.seed, args.seconds, args.trace, w["params"], deadline)
    raw["checks"] += digest_check(args.workload, args.seed, w["params"], raw["digests"])
    for name, digest in sorted(raw["digests"].items()):
        print(f"# digest {name} = {digest}")
    attempted, failed = benchstats.outcome(raw)
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"# check failed: {c['name']}: {c['detail']}")
    for c in raw["calls"]:
        if not c["ok"]:
            print(f"# call failed: cycle {c['cycle']} dump {c['dump']}: {c['error']}")
    print(f"# {args.workload}: {attempted} attempted (job calls + output checks), "
          f"{failed} failed, fail_ratio {benchstats.ratio(failed, attempted):.4g}")

    mem = raw["peak_mem"]
    print(f"# peak heap per call (MB, after GC): "
          f"{[round(b / 2.0 ** 20) for b in mem['call_heap_bytes']]}, "
          f"collections per call: {mem['call_gcs']}, peak direct buffers "
          f"{mem['direct_bytes'] / 2.0 ** 20:.1f} MB, peak off-heap execution "
          f"{mem['offheap_bytes'] / 2.0 ** 20:.1f} MB")
    if args.trace:
        values = benchstats.per_layer(raw)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        trace_dir = os.path.join(build_dir(), "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(raw["trace"]["spans"], fh)
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    else:
        e2e = benchstats.end_to_end(raw)
        su = raw["setup"]
        print(f"# set-up: session {su['session_s']:.2f} s, input generation "
              f"{[round(g, 2) for g in su['gen_s']]} s, warm-up cycle {su['warmup_s']:.2f} s; "
              f"cycle walls {[round(c['wall_s'], 2) for c in raw['cycles']]} s")
        metrics = {}
        for m in spec["end_to_end"]:
            describe(m["name"], e2e[m["name"]], m["unit"])
            metrics[m["name"]] = {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one seeded, oracle-checked run of one workload.

    python3 graftbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program with the
repo's own offline sbt build and the benchmark's JVM harness; later runs
reuse both while the sources are unchanged. Inputs are generated from the
seed (graftbench/gen.py) and cached per seed. After the timed window the
harness runs every key once more and writes its result; the repo's
`tools/check_oracle.py` compares those with DuckDB. Everything the run
writes goes under $CARGO_TARGET_DIR, or `.bench_build/` when that is unset.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the
per-layer ones with --trace 1). The lines before it give the same numbers
as a table, plus the percentile behind `latency_tail_ms` and `error_rate`.
Exit codes: 0 ok, 1 a result failed the oracle or a request threw,
2 the benchmark could not run (a named error on stderr, no JSON).
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.path.dirname(HERE)
# The reference's three bench queries and two TPC-H joins. Every cycle gives
# three samples of the short keys and two of the joins, which puts the
# median request at the slowest short key; a key count that puts it in the
# gap between two keys' latencies makes it jump by the gap's width from run
# to run.
OLAP_KEYS = ["ref_full_scan", "ref_filter", "ref_aggregation", "q5_local_supplier",
             "q21_waiting_suppliers"]
# warm: untimed noop cycles before the window. Measured, OLAP requests keep
# getting faster for about four cycles after the cold pass, while the JIT
# catches up. A curation cycle is long (7-11 s), so there the window's two or
# three cycles take the warm-up instead.
WORKLOADS = {
    "olap_mix": dict(shape="olap", clients=1, warm=3, keys=OLAP_KEYS),
    "curate_iterative": dict(shape="curate", clients=1, warm=0, keys=[
        "pipeline_curate", "dedup_minhash_lsh", "graph_kcore"]),
    # not in BENCHMARK.json: a third workload did not fit the run budget
    "olap_concurrent": dict(shape="olap", clients=len(os.sched_getaffinity(0)), warm=3,
                            keys=OLAP_KEYS),
}

JVM_TIMEOUT_S = 165  # the whole run must end within 180 s
# the heap cap the repo's build.sbt gives forked runs; no -Xms, so the
# committed heap, and with it peak_rss_mb, is sized by G1 as in those runs
JVM_HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# what build.sbt passes to forked runs; Spark on JDK 17 needs these outside spark-submit
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")


class BenchError(Exception):
    """The benchmark could not run; the message names what is missing or failed."""


def work_dir() -> str:
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def tree_hash(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(dp, f) for dp, dns, fs in os.walk(p)
            for f in fs if "target" not in os.path.relpath(dp, p).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def sbt(cwd: str, task: str, log: str) -> None:
    exe = shutil.which("sbt")
    if exe is None:
        raise BenchError("build failed: sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS") or SBT_OPTS.format(home=os.path.expanduser("~")))
    with open(log, "a") as f:
        rc = subprocess.run([exe, "--batch", "-Dsbt.log.noformat=true", task], cwd=cwd,
                            env=env, stdout=f, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        raise BenchError(f"build failed: sbt {task} in {os.path.relpath(cwd, ROOT) or '.'} "
                         f"exited {rc}; see {log}")


def build() -> list:
    """Classpath of the harness, building the program and harness if stale."""
    needed = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    missing = [os.path.relpath(p, ROOT) for p in needed if not os.path.exists(p)]
    if missing:
        raise BenchError(f"program source missing: {', '.join(missing)} not found under {ROOT}")
    harness = os.path.join(HERE, "harness")
    wd = work_dir()
    os.makedirs(wd, exist_ok=True)
    stamp_path = os.path.join(wd, "build.stamp")
    stamp = tree_hash(needed + [os.path.join(harness, p) for p in ("build.sbt", "project", "src")])
    jar_dir = os.path.join(ROOT, "target", "scala-2.13")
    classes = os.path.join(harness, "target", "scala-2.13", "classes")

    def jars():
        return sorted(f for f in (os.listdir(jar_dir) if os.path.isdir(jar_dir) else [])
                      if f.startswith("datafusiontpcspark_") and f.endswith(".jar"))

    fresh = os.path.exists(stamp_path) and open(stamp_path).read() == stamp
    if not (fresh and jars() and os.path.isdir(classes)):
        log = os.path.join(wd, "build.log")
        t0 = time.monotonic()
        sbt(ROOT, "package", log)
        sbt(harness, "compile", log)
        open(stamp_path, "w").write(stamp)
        print(f"built program and harness in {time.monotonic() - t0:.0f} s", file=sys.stderr)
    if not jars():
        raise BenchError(f"build failed: no datafusiontpcspark jar in {jar_dir}")
    # the Spark jars the repo's build compiles against (its `unmanagedBase`)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(needed[0]).read())
    spark_jars = m.group(1) if m else None
    if not spark_jars or not os.path.isdir(spark_jars):
        raise BenchError(f"Spark jars not found: build.sbt's unmanagedBase is {spark_jars}")
    return [classes, os.path.join(jar_dir, jars()[-1]), os.path.join(spark_jars, "*")]


def run_jvm(cp: list, data: str, out: str, wl: dict, args) -> tuple:
    """Runs the harness; returns (run.json, trace.json or None, setup seconds)."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else shutil.which("java")
    if not java:
        raise BenchError("java not found (set JAVA_HOME or PATH)")
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={out}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "graftbench.Harness",
            "--data", data, "--out", out, "--keys", ",".join(wl["keys"]),
            "--clients", str(wl["clients"]), "--seconds", str(args.seconds),
            "--seed", str(args.seed), "--cores", str(len(os.sched_getaffinity(0))),
            "--trace", str(args.trace), "--warm-cycles", str(wl["warm"])]
    if args.poison:
        cmd += ["--poison", args.poison]
    log_path = os.path.join(out, "jvm.log")
    ready_ms = None
    timed_out = threading.Event()
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True, cwd=out)

        def kill():
            timed_out.set()
            proc.kill()

        timer = threading.Timer(JVM_TIMEOUT_S, kill)
        timer.start()
        try:
            for line in proc.stdout:
                if line.startswith("READY "):
                    ready_ms = int(line.split()[1])
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if timed_out.is_set():
        raise BenchError(f"harness exceeded {JVM_TIMEOUT_S} s; see {log_path}")
    if proc.returncode != 0 or ready_ms is None:
        tail = open(log_path).read().strip().splitlines()[-5:]
        raise BenchError(f"harness failed (exit {proc.returncode}); see {log_path}\n"
                         + "\n".join(tail))
    run = json.load(open(os.path.join(out, "run.json")))
    trace_path = os.path.join(out, "trace.json")
    trace = json.load(open(trace_path)) if os.path.exists(trace_path) else None
    return run, trace, ready_ms / 1000.0 - t_spawn


def oracle_failures(data: str, results: str) -> dict:
    """{key: why} for every key whose result `tools/check_oracle.py` rejects."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.exists(tool):
        raise BenchError(f"oracle check missing: {tool} not found")
    p = subprocess.run([sys.executable, tool, data, results], capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, timeout=120)
    fails = dict(m.groups() for m in re.finditer(r"^FAIL (\S+): (.*)$", p.stdout, re.M))
    if p.returncode not in (0, 1) or (p.returncode == 1) != bool(fails):
        raise BenchError(f"oracle check failed to run (exit {p.returncode}):\n"
                         + (p.stdout + p.stderr).strip()[-2000:])
    return fails


def declared_metrics(kind: str):
    """Names BENCHMARK.json declares under `kind`; the JSON line carries those
    (the table above it prints every metric). None without BENCHMARK.json."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {m["name"] for m in json.load(f)[kind]}


def latency_ms(r: dict) -> float:
    return (r["build_us"] + r["exec_us"] + r["release_us"]) / 1000.0


def end_to_end(run: dict, setup_s: float, reqs: list) -> tuple:
    """The end-to-end metrics, and the percentile `latency_tail_ms` reports."""
    lat = sorted(latency_ms(r) for r in reqs)
    n = len(lat)
    # the highest percentile with at least ten samples beyond it: the
    # 11th-largest sample, or the largest one when there are at most ten
    tail_rank = max(0, n - 11)
    tail_pct = 100.0 * tail_rank / n if n > 10 else 100.0
    by_key = {}
    for r in reqs:
        by_key.setdefault(r["key"], []).append(latency_ms(r))
    geomean = math.exp(statistics.fmean(math.log(max(statistics.median(v), 1e-3))
                                        for v in by_key.values()))
    return {
        "setup_s": (setup_s, "s"),
        "requests_per_s": (n / run["window_s"], "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_tail_ms": (lat[tail_rank] if n > 10 else lat[-1], "ms"),
        "latency_geomean_ms": (geomean, "ms"),
        "peak_rss_mb": (run["peak_rss_mb"], "MB"),
    }, tail_pct


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sf0.001-shaped inputs, for the benchmark's own tests")
    ap.add_argument("--poison", metavar="KEY",
                    help="self-test: make KEY return a wrong result; the run must fail")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    if args.poison and args.poison not in wl["keys"]:
        raise BenchError(f"--poison {args.poison}: not a key of {args.workload}")

    cp = build()
    shape = "tiny" if args.smoke else wl["shape"]
    data, gen_s = gen.ensure(os.path.join(work_dir(), "data"), shape, args.seed)
    out = os.path.join(work_dir(), "runs", args.workload)
    run, trace, setup_s = run_jvm(cp, data, out, wl, args)

    results = os.path.join(out, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        sql = json.load(f)
    missing_sql = [k for k in wl["keys"] if k not in sql]
    if missing_sql:
        raise BenchError(f"no oracle SQL for keys: {', '.join(missing_sql)}")
    bad_keys = {r["key"]: r["error"] for r in [c["req"] for c in run["cold_pass"]]
                + run["check_pass"] if r["error"]}
    for k, why in oracle_failures(data, results).items():
        bad_keys.setdefault(k, why)

    reqs = run["requests"]
    failed = sum(1 for r in reqs if r["error"] or r["key"] in bad_keys)
    attempted = len(reqs)
    if attempted == 0:
        raise BenchError("the timed window completed no request")
    e2e, tail_pct = end_to_end(run, setup_s, reqs)
    metrics = e2e
    if args.trace:  # the table shows both; the JSON line carries the per-layer ones
        metrics = {**e2e, **layers.per_layer(run, trace, reqs)}
        layers.write_spans(os.path.join(out, "spans.json"), run, trace, reqs)

    print(f"workload {args.workload}  seed {args.seed}  keys {len(wl['keys'])}  "
          f"clients {wl['clients']}  cores {len(os.sched_getaffinity(0))}  "
          f"requests {attempted}  window {run['window_s']:.2f} s  generation {gen_s:.2f} s")
    for k, why in sorted(bad_keys.items()):
        print(f"FAIL {k}: {why}")
    print(f"{'error_rate':<28} {failed / attempted:>14.4f} frac  ({failed}/{attempted})")
    for name, (v, unit) in metrics.items():
        note = {"latency_tail_ms": f"  (p{tail_pct:.1f} of {attempted})",
                "peak_rss_mb": f"  ({run['peak_rss_scope']})"}.get(name, "")
        print(f"{name:<28} {v:>14.4f} {unit}{note}")
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        "correct": not bad_keys and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    if declared is None or k in declared},
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"{type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(2)

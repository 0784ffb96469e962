#!/usr/bin/env python3
"""The repository benchmark: CDC ingest, lake serving and a query sweep.

Usage (from the repository root):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

W is one of cdc_ingest, lake_serve, query_sweep (see BENCHMARK.json and
perfbench/README.md). The first run compiles the program and the harness
into .bench_build/. Each run works in a fresh directory under .bench_work/
that is deleted when it ends; the host record and, for a traced run, the
span file are kept under .bench_out/. The last line of standard output is
one JSON object: correct, attempted, failed and the metrics (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1). The exit code
is non-zero when an output check fails. `--workload all` runs every
workload untraced and then traced and reports the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import uuid

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ["cdc_ingest", "lake_serve", "query_sweep"]
# fixed, pre-touched heap with the collector build.sbt gives benchmark JVMs;
# 2 GB rather than build.sbt's 8 GB default, because the workloads retain
# a few hundred MB and pre-touching 8 GB costs seconds of every run
HEAP = "2g"
# scale factor of the generated query-sweep tables (lineitem = 6M x SF rows)
QUERY_SF = 0.01
# free space the work directory needs, and memory beyond the heap
MIN_FREE_DISK = 4 << 30
MIN_FREE_MEM = 5 << 30
JVM_TIMEOUT_S = 140
CROSSCHECK_TIMEOUT_S = 25
# per-layer name prefixes each workload measures; every other per-layer
# metric reads 0 on that workload (its layer is not exercised there)
MEASURED = {
    "cdc_ingest": ("stream.", "lake.", "spark.", "host."),
    "lake_serve": ("lake.", "spark.", "host."),
    "query_sweep": ("query.", "spark.", "host."),
}
# lake-layer figures lake_serve has but a streaming backlog drain does not
LAKE_SERVE_ONLY = ("lake.merge_p50_s", "lake.merge_mean_s", "lake.point_read_p50_s",
                   "lake.range_read_p50_s", "lake.full_read_p50_s",
                   "lake.changes_read_p50_s", "lake.range_files_kept_ratio",
                   "lake.point_files_kept")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory the program is built and tested against: the
    `unmanagedBase` that build.sbt names."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m is None:
        fail("build.sbt names no unmanagedBase jar directory")
    jars = m.group(1)
    if not os.path.isdir(jars):
        fail(f"build.sbt's jar directory {jars} does not exist")
    return jars


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD, spark_jars()], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")


# ---------------------------------------------------------------- host record

def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest is inside user)
    return vals[:8]


def share(before, after):
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"host.idle_pct": 100.0 * (d[3] + d[4]) / total,
            "host.steal_pct": 100.0 * d[7] / total}


def calibrate():
    """Seconds for a fixed CPU job (hashing 32 MB) plus a fixed page-allocation
    job (fault in 128 MB), median of three: a slow host shows here before it
    shows in the workload."""
    buf = b"\x5a" * (1 << 20)
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(32):
            h.update(buf)
        block = bytearray(128 << 20)
        for i in range(0, len(block), 4096):
            block[i] = 1
        del block
        samples.append(time.perf_counter() - t0)
    samples.sort()
    return samples[1]


def mem_available():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    return 0


# ---------------------------------------------------------------- one run

def run_jvm(work, args, timeout):
    classes = os.path.join(BUILD, "classes")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
              "-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def run_one(workload, seed, seconds, trace, queries):
    """Runs one workload in a fresh work directory; returns the JVM result
    dict extended with the host record and the oracle check."""
    os.makedirs(WORK, exist_ok=True)
    free = shutil.disk_usage(WORK).free
    if free < MIN_FREE_DISK:
        fail(f"{free >> 20} MB free under {WORK}; the run needs {MIN_FREE_DISK >> 20} MB")
    if mem_available() < MIN_FREE_MEM:
        fail(f"{mem_available() >> 20} MB of memory available; the run needs {MIN_FREE_MEM >> 20} MB")
    work = os.path.join(WORK, f"{workload}-s{seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--work", work,
                "--out", os.path.join(work, "result.json")]
        if trace:
            args += ["--spans", os.path.join(OUT, f"{tag}.spans.json")]
        if queries:
            args += ["--queries", queries]
        if workload == "query_sweep":
            sys.path.insert(0, HERE)
            sys.dont_write_bytecode = True
            import gen_tables
            gen_tables.generate(os.path.join(work, "data"), seed, QUERY_SF)
            args += ["--data", os.path.join(work, "data")]
        host = {"host.calib_s": calibrate()}
        log(f"jvm launch at {time.time() - T0:.2f} s")
        before = cpu_times()
        rc = run_jvm(work, args, JVM_TIMEOUT_S)
        host.update(share(before, cpu_times()))
        log(f"jvm exit at {time.time() - T0:.2f} s")
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
        result_path = os.path.join(work, "result.json")
        if rc is None or not os.path.exists(result_path):
            sys.stderr.write(tail(os.path.join(work, "jvm.log")))
            fail(f"{workload}: the JVM {'timed out' if rc is None else f'exited with {rc}'} "
                 "without a result")
        with open(result_path) as f:
            res = json.load(f)
        if rc != 0:
            sys.stderr.write(tail(os.path.join(work, "jvm.log")))
            res["checks"]["jvm_exit_ok"] = False
        if workload == "query_sweep":
            res["checks"]["oracle_crosscheck"] = crosscheck(work)
        res["e2e"]["ok_ratio"] = 1.0 - res["failed"] / max(res["attempted"], 1)
        res["host"] = host
        with open(os.path.join(OUT, f"{tag}.host.json"), "w") as f:
            json.dump(host, f, indent=1)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def crosscheck(work):
    """The warm pass's outputs against the DuckDB oracle (scripts/crosscheck.py
    over the dump the harness wrote in graft.Verify's layout)."""
    verify = os.path.join(work, "oracle")
    if not os.path.exists(os.path.join(verify, "oracle_sql.json")):
        log("oracle check: the run wrote no oracle_sql.json")
        return False
    try:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "crosscheck.py"),
                            os.path.join(work, "data"), verify], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=CROSSCHECK_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"oracle check: no answer within {CROSSCHECK_TIMEOUT_S} s")
        return False
    if r.returncode != 0:
        bad = [l for l in r.stdout.splitlines() if l and " OK (" not in l]
        log("oracle check failed:\n" + "\n".join(bad[:40]))
    return r.returncode == 0


# ---------------------------------------------------------------- reporting

def metrics_for(res, workload, trace, spec):
    out = {}
    if not trace:
        for m in spec["end_to_end"]:
            v = res["e2e"].get(m["name"])
            if v is None:
                fail(f"{workload}: the run produced no {m['name']}")
            out[m["name"]] = {"value": v, "unit": m["unit"]}
        return out
    layer = dict(res["layer"], **res["host"])
    for m in spec["per_layer"]:
        name = m["name"]
        measured = name.startswith(MEASURED[workload]) and not (
            workload == "cdc_ingest" and name in LAKE_SERVE_ONLY)
        if name in layer:
            v = layer[name]
        elif measured:
            fail(f"{workload}: the traced run produced no {name}")
        else:
            v = 0.0
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def report(workload, res):
    """Human lines: the workload's own figures and every check."""
    for k, v in res["named"].items():
        print(f"{workload} {k} = {v['value']:.6g} {v['unit']}")
    print(f"{workload} failed_ratio = {res['failed'] / max(res['attempted'], 1):.6g} ratio")
    for k, v in res["host"].items():
        print(f"{workload} {k} = {v:.4g}")
    for k, ok in res["checks"].items():
        print(f"{workload} check {k}: {'ok' if ok else 'FAILED'}")
    for e in res["errors"]:
        print(f"{workload} error: {e}")


def correct(res):
    return all(res["checks"].values()) and res["failed"] == 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", default="",
                    help="query_sweep only: comma-separated subset of SparkEntry.queries")
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    build()

    if a.workload != "all":
        res = run_one(a.workload, a.seed, a.seconds, bool(a.trace), a.queries)
        report(a.workload, res)
        ok = correct(res)
        line = {"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                "metrics": metrics_for(res, a.workload, bool(a.trace), spec)}
        for k, v in line["metrics"].items():
            print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
        print(json.dumps(line))
        sys.exit(0 if ok else 1)

    # every workload, untraced then traced; metric names are prefixed
    metrics, attempted, failed, ok = {}, 0, 0, True
    for w in WORKLOADS:
        plain = run_one(w, a.seed, a.seconds, False, a.queries if w == "query_sweep" else "")
        traced = run_one(w, a.seed, a.seconds, True, a.queries if w == "query_sweep" else "")
        for res in (plain, traced):
            report(w, res)
            attempted += res["attempted"]
            failed += res["failed"]
            ok = ok and correct(res)
        for k, v in metrics_for(plain, w, False, spec).items():
            metrics[f"{w}.{k}"] = v
        p, t = plain["e2e"]["op_p50_s"], traced["e2e"]["op_p50_s"]
        metrics[f"{w}.trace_overhead_pct"] = {"value": 100.0 * (t - p) / p if p else 0.0,
                                              "unit": "%"}
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

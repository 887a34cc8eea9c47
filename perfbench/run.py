#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala
compiler shipped in the Spark distribution (`$SPARK_HOME/jars`, default
`/opt/spark/jars`) into `.bench_build/`; later runs reuse the classes
while the sources are unchanged. Each run generates its inputs from the
seed, runs the workload in one JVM on `local[cores]`, checks the first
op's outputs (`checks.py`) and prints, as its last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`. The line
before it reports the host probe (`host.calib_ms`, `host.steal_share`).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# workload -> (input kind, arXiv records per batch)
WORKLOADS = {
    "arxiv_daily": ("arxiv", 1000),
    "catalog_lifecycle": ("catalog", 0),
}
BUILD = ".bench_build"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {home}/jars")
    return jars


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("no program sources under src/main/scala; run from the repository root")
    return main, bench


def build():
    """Compile program and harness unless the sources are unchanged."""
    main, bench = sources()
    h = hashlib.sha256()
    for p in main + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    classes = [os.path.join(BUILD, "main"), os.path.join(BUILD, "bench")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    for d in classes:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cp = ":".join(jars)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        for out, files, extra in ((classes[0], main, ""), (classes[1], bench, ":" + classes[0])):
            cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
                   "scala.tools.nsc.Main", "-nowarn", "-classpath", cp + extra,
                   "-d", out] + files
            if subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT) != 0:
                raise SystemExit(f"compilation failed, see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def host_sizing():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 4 * 1024 * 1024
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 8))
    return cores, heap_mb


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[7]


def calib_ms():
    """Fixed single-threaded CPU probe: median of 5 timings."""
    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(300000):
            s += i * i
        ts.append((time.perf_counter() - t0) * 1000)
    return statistics.median(ts)


def run_jvm(classes, workload, input_dir, out_dir, run_dir, seconds, trace, cores, heap_mb):
    cp = ":".join(classes + spark_jars())
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java"] + opens + [
        f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={local}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Harness", workload, input_dir, out_dir,
        str(seconds), "1" if trace else "0", str(cores)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"{workload} did not finish within {JVM_TIMEOUT_S} s")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"{workload} JVM exited with {code}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def e2e_metrics(res):
    ops = res["ops_ms"]
    if not ops:
        raise SystemExit("no timed op completed")
    return {
        "setup_s": {"value": res["setup_ms"] / 1000, "unit": "s"},
        "peak_live_mb": {"value": res["live_mb"], "unit": "MB"},
        "items_per_s": {"value": res["items_per_op"] * len(ops) / (sum(ops) / 1000),
                        "unit": "1/s"},
        "op_p50_ms": {"value": statistics.median(ops), "unit": "ms"},
    }


def layer_metrics(res, host):
    with open("BENCHMARK.json") as f:
        spec = json.load(f)["per_layer"]
    values = dict(res["layers"])
    values["host.calib_ms"] = host["calib_ms"]
    values["host.steal_share"] = host["steal_share"]
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec}


def result_line(correct, attempted, failed, metrics):
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    kind, records = WORKLOADS[a.workload]
    cores, heap_mb = host_sizing()
    run_dir = os.path.abspath(os.path.join(
        BUILD, "runs", f"{a.workload}-s{a.seed}-p{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, out_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    try:
        classes = build()
        if kind == "arxiv":
            corpus = gen.write_arxiv(records, a.seed, input_dir)
        else:
            gen.write_catalog(a.seed, input_dir)
        calib0, cpu0 = calib_ms(), cpu_times()
        res = run_jvm(classes, a.workload, input_dir, out_dir, run_dir, a.seconds,
                      a.trace == 1, cores, heap_mb)
        calib1, cpu1 = calib_ms(), cpu_times()
        if kind == "arxiv":
            fails = checks.check_arxiv(corpus, out_dir, trace=a.trace == 1)
        else:
            fails = checks.check_catalog(input_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for msg in fails:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    total = cpu1[0] - cpu0[0]
    host = {"calib_ms": (calib0 + calib1) / 2,
            "steal_share": (cpu1[1] - cpu0[1]) / total if total > 0 else 0.0,
            "cores": cores, "heap_mb": heap_mb}
    print(json.dumps({"host": host}))
    print(json.dumps({k: res[k] for k in ("setup_ms", "first_op_ms", "ops_ms")}),
          file=sys.stderr)
    attempted = res["attempted"]
    failed = attempted if fails else res["failed"]
    metrics = layer_metrics(res, host) if a.trace == 1 else e2e_metrics(res)
    print(result_line(not fails, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())

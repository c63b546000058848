#!/usr/bin/env python3
"""Benchmark of the graft pipeline and warehouse.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py [--seed <n>] [--seconds <s>]   # every workload, untraced and traced

Workloads: epoch_stream and warehouse_dml (the set BENCHMARK.json names) and
warehouse_read (a read-only mix, run by hand or by the every-workload form).

The first call builds the program from source together with the harness
(perfbench/build.sbt, needs sbt and SPARK_HOME); later calls reuse the build
until a source file changes. One run starts one JVM (Spark local[nproc]),
which writes its figures to .bench_build/results/. This script prints them,
one per line with its unit, and ends with one JSON line holding the
`end_to_end` metrics of BENCHMARK.json (or, traced, its `per_layer` ones).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["epoch_stream", "warehouse_read", "warehouse_dml"]
BUILD_CMD = ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "Compile/products"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, log, cwd=ROOT, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def sources_digest():
    h = hashlib.sha256(" ".join(BUILD_CMD).encode())
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build(home):
    """Compile the program and the harness unless this source set is built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    os.makedirs(OUT, exist_ok=True)
    stamp = os.path.join(OUT, "build.stamp")
    digest = sources_digest()
    main_class = os.path.join(classes_dir(), "perfbench", "Main.class")
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.exists(main_class):
        return
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    log = os.path.join(OUT, "build.log")
    rc = run_group(BUILD_CMD, BUILD_TIMEOUT_S, log, cwd=HERE, env=env)
    if rc != 0 or not os.path.exists(main_class):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def result_path(workload, seed, trace):
    return os.path.join(OUT, "results", f"{workload}-s{seed}-t{trace}.json")


def run_once(home, workload, seed, seconds, trace):
    """One JVM run of one workload; returns its result document."""
    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    result = result_path(workload, seed, trace)
    spans = os.path.join(OUT, "traces", f"{tag}.json")
    log = os.path.join(OUT, "logs", f"{tag}.log")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.dirname(result), os.path.dirname(spans),
              os.path.dirname(log)):
        os.makedirs(d, exist_ok=True)
    if os.path.exists(result):
        os.remove(result)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cp = os.pathsep.join([classes_dir(), os.path.join(home, "jars", "*")])
    cmd = [java, "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--out", result, "--work", work]
    if trace:
        cmd += ["--spans", spans]
    env = dict(os.environ, SPARK_HOME=home)
    try:
        rc = run_group(cmd, RUN_TIMEOUT_S, log, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} run failed (exit {rc}); log in {log}")
    with open(result) as f:
        return json.load(f)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(res):
    w = res["workload"]
    print(f"== {w} seed={res['seed']} trace={int(res['trace'])} "
          f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    for name, m in res["end_to_end"].items():
        print(f"  {name:<22} {fmt(m['value']):>14} {m['unit']}")
    t = res["tail"]
    if t["percentile"] is None:
        print(f"  op_s.tail: none, n={t['n']} ops leave fewer than 10 "
              f"beyond the median")
    else:
        print(f"  op_s.tail is p{t['percentile']:g} of n={t['n']} ops "
              f"({t['beyond']} beyond)")
    for kind, o in sorted(res["ops"].items()):
        print(f"  ops[{kind}] n={o['n']} p50={fmt(o['p50_s'])} s failed={o['failed']}")
    if res["per_layer"]:
        print_layers(res["per_layer"])
        print_overhead(res)
    print("  inputs: " + json.dumps(res["inputs"]))
    print("  host: " + json.dumps(res["host"]))
    for n in res["notes"]:
        print(f"  note: {n}")


def print_overhead(traced):
    """Tracing overhead: traced vs untraced op_s.p50 of the same workload
    and seed, when an untraced result is on disk."""
    path = result_path(traced["workload"], traced["seed"], 0)
    if not os.path.exists(path):
        return
    with open(path) as f:
        base = json.load(f)["end_to_end"]["op_s.p50"]["value"]
    over = traced["per_layer"]["traced.op_s.p50"]["value"]
    print(f"  tracing overhead: traced op_s.p50 {fmt(over)} s vs untraced "
          f"{fmt(base)} s ({(over / base - 1) * 100:+.1f}%)")


def print_layers(pl):
    cols = ["wall_s", "self_s", "driver_gap_s", "jobs", "tasks", "task_s",
            "shuffle_bytes", "input_bytes"]
    print("  per call | " + " | ".join(cols))
    layers = []
    for k in pl:
        layer = k.split(".")[0]
        if layer not in layers:
            layers.append(layer)
    for layer in layers:
        row = [pl.get(f"{layer}.{c}") for c in cols]
        if all(r is None for r in row):
            continue
        print(f"  {layer:<9}| " + " | ".join(fmt(r["value"]) if r else "-" for r in row))
    rest = {k: v for k, v in pl.items() if k.split(".", 1)[1] not in cols}
    for k, v in rest.items():
        print(f"  {k:<28} {fmt(v['value']):>14} {v['unit']}")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def contract_line(res, trace):
    names = [m["name"] for m in spec()["per_layer" if trace else "end_to_end"]]
    pool = res["per_layer"] if trace else res["end_to_end"]
    missing = [n for n in names if n not in pool]
    if missing:
        fail(f"result lacks metrics {missing}")
    return json.dumps({
        "correct": bool(res["correct"]), "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": pool[n]["value"], "unit": pool[n]["unit"]}
                    for n in names}})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="measuring time (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    home = spark_home()
    build(home)
    if a.seconds is None:
        a.seconds = spec()["run_seconds"]
    if a.workload:
        res = run_once(home, a.workload, a.seed, a.seconds, a.trace)
        report(res)
        print(contract_line(res, a.trace), flush=True)
        return
    ok = True
    for w in WORKLOADS:
        plain = run_once(home, w, a.seed, a.seconds, 0)
        report(plain)
        traced = run_once(home, w, a.seed, a.seconds, 1)
        report(traced)
        ok = ok and plain["correct"] and traced["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Lifecycle benchmark of the graft engine.

    python3 lifebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It compiles the engine and the benchmark
driver from source (once per source tree, under .bench_build/), generates
the workload's inputs from the seed, runs the JVM driver in a local[4]
session, checks every output, and prints one JSON line last: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. The run's full
record is kept under .lifebench/results/. See lifebench/README.md.
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
sys.dont_write_bytecode = True

import gen  # noqa: E402

ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "lifebench")
STATE = os.path.join(ROOT, ".lifebench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ("cdm_cycle", "search_warm")
RUN_LIMIT_S = 175
# java.base packages Spark needs opened on JDK 17 (the list build.sbt passes)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"lifebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    found = sorted(glob.glob(f"{PROGRAM_SRC}/**/*.scala", recursive=True))
    if not found:
        die(f"no engine sources under {PROGRAM_SRC}; run from the repo root")
    return found + sorted(glob.glob(f"{BENCH_SRC}/**/*.scala", recursive=True))


def build():
    """Compile engine + driver with the Scala compiler Spark ships; reuse
    the classes while the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(BUILD, "compile.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-Xmx2g", "-Xss8m", "-cp", f"{SPARK_JARS}/*",
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
             "-classpath", f"{SPARK_JARS}/*"] + srcs,
            stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("compile failed")
    os.rename(tmp, classes)
    return classes


def run_jvm(classes, workload, inputs, work, seconds, trace, budget):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS
                       for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # the program's heap and code cache; the client compiler at a
           # tenth of its usual thresholds, so the warm-up leaves little to
           # compile (README.md, "JIT and heap")
           + ["-Xmx8g", "-XX:ReservedCodeCacheSize=240m",
              "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
              "-cp", f"{classes}:{SPARK_JARS}/*", "lifebench.Main",
              workload, inputs, work, str(seconds), str(trace)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            die(f"driver exceeded {budget:.0f} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"driver exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def data_files(d):
    """(path, bytes) of every data file an iteration wrote."""
    out = []
    for dirpath, _, files in os.walk(d):
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(dirpath, f)
                out.append((p, os.path.getsize(p)))
    return out


def output_counts(workload, d):
    """Row counts of the curation outputs the pipeline metrics report."""
    if workload != "search_warm":
        return {}
    import checks
    out = {}
    for key, path in (("docs_admitted", "crawl_ns/documents.parquet"),
                      ("dup_pairs", "minhash")):
        try:
            out[key] = checks.rows(os.path.join(d, path))
        except OSError:
            out[key] = 0
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def rows_per_iteration(workload, info):
    if workload == "cdm_cycle":
        return info["fact_rows"]
    return info["curation_docs"] + (
        info["text_batches"] + info["vector_batches"]) \
        * info["queries_per_batch"]


def end_to_end(workload, res, info, setup_s, measured):
    wall = median([i["wall_s"] for i in measured])
    amps = [(sum(b for _, b in i["files"]) + i["shuffle_write_bytes"])
            / info["input_bytes"] for i in measured]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows_per_iteration(workload, info) / wall, "1/s"),
        "write_amp": (median(amps), "ratio"),
        "retained_mb": (median([i["retained_mb"] for i in measured]), "MB"),
        "heap_mb": (median([i["heap_mb"] for i in measured]), "MB"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build()
    started = time.perf_counter()
    import checks
    import layers

    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        info = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.perf_counter() - t0
        budget = RUN_LIMIT_S - (time.perf_counter() - started)
        res = run_jvm(classes, a.workload, inputs, work, a.seconds, a.trace,
                      budget)
        setup = {"session_build_s": res["session_build_s"],
                 **res["prepare"]}
        setup_s = (gen_s + res["boot_s"] + res["session_build_s"]
                   + res["prepare_s"] + res["warmup_s"] + res["jit_settle_s"])

        checker = checks.Checker(a.workload, inputs, info, res["oracle_sql"],
                                 ROOT)
        attempted = failed = 0
        problems = {}
        for it in [res["warm"]] + res["iterations"]:
            it["files"] = data_files(it["dir"])
            it["counts"] = output_counts(a.workload, it["dir"])
            fails = checker.check(it)
            for o in it["ops"]:
                attempted += 1
                msgs = ([o["error"]] if not o["ok"] else []) \
                    + fails.get(o["name"], [])
                if msgs:
                    failed += 1
                    problems[f"{it['label']}/{o['name']}"] = msgs
            shutil.rmtree(it["dir"], ignore_errors=True)

        measured = [i for i in res["iterations"] if not i["traced"]]
        traced = [i for i in res["iterations"] if i["traced"]]
        detail = {}
        if a.trace:
            per, details = [], []
            for i in traced:
                m, d = layers.per_layer(i["trace"], setup, i["files"],
                                        i["counts"])
                per.append(m)
                details.append(d)
                if abs(d["self_s_sum"] - d["iteration_wall_s"]) > 1e-6:
                    problems[f"{i['label']}/trace"] = [
                        "span self times do not sum to the iteration wall"]
            metrics = {k: (median([m[k] for m in per]), layer_unit(k))
                       for k in per[0]}
            metrics["trace.overhead_s"] = (
                median([i["wall_s"] for i in traced])
                - median([i["wall_s"] for i in measured]), "s")
            detail = {"layers": details}
        else:
            metrics = end_to_end(a.workload, res, info, setup_s, measured)

        correct = failed == 0 and not problems
        line = {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}
        record = {**line, "workload": a.workload, "seed": a.seed,
                  "trace": a.trace, "input": info, "problems": problems,
                  "setup": {"gen_s": gen_s, "boot_s": res["boot_s"],
                            "prepare_s": res["prepare_s"],
                            "warmup_s": res["warmup_s"],
                            "jit_settle_s": res["jit_settle_s"], **setup},
                  "iterations": [{k: i[k] for k in
                                  ("label", "traced", "wall_s", "cpu_s",
                                   "jit_s", "retained_mb", "heap_mb",
                                   "ops")}
                                 for i in [res["warm"]] + res["iterations"]],
                  **detail}
        save(record)
        for k, msgs in problems.items():
            print(f"lifebench: FAILED {k}: {msgs[0][:300]}", file=sys.stderr)
        print(json.dumps(line))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "task_skew")):
        return "ratio"
    return "count"


def save(record):
    d = os.path.join(STATE, "results", record["workload"])
    os.makedirs(d, exist_ok=True)
    name = (f"seed{record['seed']}-trace{record['trace']}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(os.path.join(d, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()

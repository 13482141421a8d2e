#!/usr/bin/env python3
"""The repository's benchmark: one workload per run.

    python3 perfbench/run.py --workload <pit_serve|corpus_ingest> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the benchmark driver from source with sbt (offline) into .bench_build/;
later runs reuse the build while the sources are unchanged. Each run
generates its inputs from --seed (perfbench/gen.py), starts one JVM
with a local[nproc] Spark session driven by one client thread, times
its fixed timed work (the same whatever --seconds says, so a faster
program does more work in no run), checks every output, and prints a
report followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of BENCHMARK.json.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
FAMILIES = ["span", "minhash", "ivf", "keyword", "pq", "knn"]
GATES = ["span_gate", "minhash_gate", "semantic_gate", "keyword_index", "pq_index", "knn_index"]
EXPRS = ["hashed_shingles", "minhash_bands", "simhash64", "winnow_fps", "md5_hex_val",
         "cosine_sim", "centroid_argmax", "codebook_argmin", "bounded_topk"]
SPARK = ["jobs", "driver_gap_ms", "planning_ms", "task_ms", "executor_cpu_ms",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew",
         "gc_ms", "failed_tasks"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build compiles or is configured by."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compile with sbt into .bench_build/sbt unless the stamp of the
    sources matches the last successful build."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dperfbench.out={os.path.join(BUILD, 'sbt')}", "compile"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        die(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def run_jvm(classes, args, work):
    spark_home = os.environ.get("SPARK_HOME") or die("SPARK_HOME is not set")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", f"{classes}:{spark_home}/jars/*",
            "graft.perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"JVM timed out after {JVM_TIMEOUT_S}s, see {work}/jvm.log")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"JVM exited with {rc}")


def end_to_end(w, r, man, gen_s):
    """The end-to-end metrics, each with the samples it came from."""
    s = r["samples"]
    setup = gen_s + r["session_s"] + r["prepare_s"] + r["warmup_s"]
    if w == "pit_serve":
        # serves alternate two kinds of different cost; the p50 is the
        # mean of the per-kind medians, so it does not hinge on which
        # kind the middle sample happens to be
        kinds = [[v for i, v in enumerate(s["serve_ms"]) if i % 2 == k] for k in (0, 1)]
        p50 = sum(stats.median(k) for k in kinds) / 2
        tail = stats.tail(s["serve_ms"])
        out_bytes = r["log_bytes"]
        in_bytes = man["input_bytes"] + sum(man["tick_bytes"][:r["ticks_written"]])
    else:
        p50 = stats.median(s["day_ms"])
        tail = stats.tail(s["day_ms"])
        out_bytes = r["index_bytes"]
        in_bytes = man["input_bytes"] + sum(man["day_bytes"][:r["days"]])
    return {
        "setup_s": (setup, "s"),
        "work_s": (r["timed_ms"] / 1e3, "s"),
        "latency_p50_ms": (p50, "ms"),
        "latency_tail_ms": (tail[0], "ms"),
        "cpu_s": (r["cpu_ms"] / 1e3, "s"),
        "heap_peak_mb": (r["heap_peak_mb"], "MB"),
        "bytes_per_input_byte": (out_bytes / in_bytes, "ratio"),
    }, tail


def per_layer(r):
    """Every per-layer metric; a layer the workload does not call reads 0.
    The overhead is None only when its probe failed, which fails the run."""
    t, win = r["trace"], r["timed_window"]
    layer = r["layer"]
    m = {}
    m["fs.serve_ms"] = stats.median(stats.span_ms(t, win, "fs.serve"))
    m["fs.catalog_ms"] = stats.median(stats.span_ms(t, win, "fs.catalog", per="serve"))
    m["fs.files_per_serve"] = layer.get("fs.files_per_serve", 0.0)
    m["fs.write_ms"] = stats.median(stats.span_ms(t, win, "fs.write"))
    m["fs.bytes_written"] = layer.get("fs.bytes_written", 0.0)
    m["fs.compact_ms"] = stats.median(stats.span_ms(t, win, "fs.compact"))
    for g in GATES:
        m[f"streaming.{g}_ms"] = stats.median(stats.span_ms(t, win, f"streaming.{g}"))
        m[f"streaming.{g}_kept_ratio"] = layer.get(f"streaming.{g}_kept_ratio", 0.0)
    for f in FAMILIES:
        m[f"operators.{f}_build_ms"] = stats.median(stats.span_ms(t, win, f"operators.{f}_build"))
        m[f"operators.{f}_compact_ms"] = stats.median(stats.span_ms(t, win, f"operators.{f}_compact"))
    m["operators.probe_ms"] = stats.median(stats.span_ms(t, win, "operators.probe"))
    m["operators.ivf_recall_at_k"] = layer.get("operators.ivf_recall_at_k", 0.0)
    for e in EXPRS:
        m[f"plans.{e}_ns_per_row"] = layer.get(f"plans.{e}_ns_per_row", 0.0)
    eng = stats.engine(t, win)
    for k in SPARK:
        m[f"spark.{k}"] = eng[k]
    m["trace.coverage"] = stats.coverage(t["spans"], win)
    m["trace.overhead_ms"] = layer.get("trace.overhead_ms")
    return m


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_ns_per_row"):
        return "ns/row"
    if name.endswith("_ratio") or name.endswith("_at_k") or name in ("trace.coverage", "spark.task_skew"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    # the harness passes its run length; the timed work is fixed (README)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src: run from the root of a full checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        die("sbt and java must be on PATH")
    classes = build()

    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t0 = time.monotonic()
    man = gen.generate(a.workload, a.seed, data)
    gen_s = time.monotonic() - t0
    res = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--data", data, "--work", work, "--out", res,
            "--trace", str(a.trace), "--seed", str(a.seed)]
    args += [x for k, v in gen.SIZES[a.workload].items() for x in (f"--{k}", str(v))]
    run_jvm(classes, args, work)
    with open(res) as fh:
        r = json.load(fh)

    attempted, failed = r["attempted"], r["failed"]
    report = dict(workload=a.workload, seed=a.seed, sizes=man["sizes"], dups=man["dups"],
                  host=r["host"])
    if a.workload == "pit_serve":
        n, f, bad = checks.pit_serve(data, r)
        attempted += n
        failed += f
        report["serve_checks"] = dict(checked=n, failed=f, first=bad)
    else:
        report["index_checks"] = r["checks"]
    e2e, tail = end_to_end(a.workload, r, man, gen_s)
    report["tail"] = dict(percentile=round(tail[1], 1), samples=tail[2])
    report["setup"] = dict(gen_s=round(gen_s, 3), session_s=r["session_s"],
                           prepare_s=r["prepare_s"], warmup_s=r["warmup_s"])
    report["check_s"] = r["check_s"]
    report["samples"] = {k: [round(x, 1) for x in v] for k, v in r["samples"].items()}
    report["fail_ratio"] = failed / attempted if attempted else 1.0
    print("report " + json.dumps(report))
    print("host " + json.dumps(r["host"]))
    for k, (v, u) in e2e.items():
        print(f"e2e {k} = {v:.6g} {u}")
    if a.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as fh:
            json.dump(dict(window=r["timed_window"], **r["trace"]), fh)
        table = stats.span_table(r["trace"], r["timed_window"])
        print("spans " + json.dumps({k: {f: round(v, 1) for f, v in row.items()}
                                     for k, row in table.items()}))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer(r).items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <elt_daily|dedup_curation|ann_retrieval> \
        --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the benchmark driver from the checkout's sources
(sbt, offline; the build is cached under .bench_build until a source file
changes), runs one benchmark JVM on inputs generated from the seed, checks
the outputs with DuckDB, prints a human-readable report, and prints one JSON
object as its last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics of a traced run, whose spans are kept in
.bench_build/traces/. Everything the run writes stays in .bench_build."""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402

WORKLOADS = ("elt_daily", "dedup_curation", "ann_retrieval")
XMX = "2g"
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SBT_REPOSITORIES = os.path.expanduser("~/.sbt/repositories")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build(root, build_dir):
    """Compile (when sources changed) and return (classpath, built_now)."""
    stamp_file = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read().strip(), False
    log("building engine and benchmark from source (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={SBT_REPOSITORIES} "
                 if os.path.exists(SBT_REPOSITORIES) else "")
        env["SBT_OPTS"] = repos + "-Dsbt.offline=true -Xmx2g"
    t0 = time.monotonic()
    with tempfile.TemporaryFile(mode="w+") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime / fullClasspath"], HERE, env, out, 700, "build")
        out.seek(0)
        output = out.read()
    lines = [ln.strip() for ln in output.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if "perfbench" in ln and not ln.startswith("[")), None)
    if code != 0 or cp is None:
        sys.stderr.write(output[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"build done in {time.monotonic() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def run_group(cmd, cwd, env, out, timeout_s, what):
    """Run `cmd` in its own process group and wait for it; on timeout kill
    the whole group (sbt and java fork children) and wait again."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {what} exceeded {timeout_s:.0f} s")


def run_jvm(cp, args, work, result_path, log_path, timeout_s):
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{XMX}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--data", os.path.join(HERE, "data"),
              "--out", result_path])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=f"{work}/local")
    with open(log_path, "w") as logf:
        code = run_group(cmd, work, env, logf, timeout_s, "benchmark JVM")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {code})")
    with open(result_path) as f:
        return json.load(f)


def fmt(x):
    return f"{x:.6g}" if isinstance(x, float) else str(x)


def report(args, result, metrics, units, attempted, failures):
    """Human-readable lines; a caller reads only the last line (the JSON)."""
    out = [f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
           f"cpus={result['conf'].get('spark.master')} xmx={XMX}"]
    out += [f"input {k}: {v}" for k, v in result["inputs"].items()]
    conf = " ".join(f"{k}={v}" for k, v in sorted(result["conf"].items())
                    if k.startswith("spark.sql") or k in ("spark.master", "spark.app.name"))
    out.append(f"conf {conf}")
    s = result["setup"]
    out.append(f"setup jvm={s['jvm_s']:.3f}s session={s['session_s']:.3f}s "
               f"inputs={s['gen_s']:.3f}s warmup={s['warmup_s']:.3f}s")
    out.append(f"timed cycles={result['cycles']} in {result['timed_s']:.3f}s"
               + (" (per-layer values of the timed loop are per cycle)" if result["traced"] else ""))
    if not result["traced"]:
        by_kind = {}
        for o in result["ops"]:
            by_kind.setdefault(o["kind"], []).append(o["s"])
        for kind, secs in by_kind.items():
            sm = benchlib.summarize(secs)
            tail = f" p{sm['tail_q']}={sm['tail']:.4f}s" if "tail" in sm else ""
            out.append(f"op {kind}: p50={sm['p50']:.4f}s{tail} n={sm['n']}")
        for name, value in named_metrics(args.workload, result).items():
            out.append(f"metric {name} = {fmt(value[0])} {value[1]} (n={value[2]})")
    else:
        for sp in result["spans"]:
            c = sp.get("counters")
            if c and sp.get("name") and (sp.get("phase") == "cycle" or "id" not in sp):
                out.append(f"step {sp['name']}: jobs={c['jobs']} stages={c['stages']} "
                           f"tasks={c['tasks']} cpu={c['task_cpu_s']:.3f}s "
                           f"gc={c['task_gc_s']:.3f}s run={c['task_run_s']:.3f}s "
                           f"queue={c['task_queue_s']:.3f}s "
                           f"shuffle_w={c['shuffle_write_bytes']}B spill={c['spill_bytes']}B")
    for name, value in metrics.items():
        out.append(f"metric {name} = {fmt(value)} {units[name]}")
    out.append(f"metric failed_op_ratio = {len(failures) / attempted:.6g} "
               f"({len(failures)} of {attempted} checked operations)")
    out += [f"FAILED {f}" for f in failures[:10]]
    print("\n".join(out), flush=True)


def named_metrics(workload, result):
    """The workload's metrics under their descriptive names:
    name -> (value, unit, samples)."""
    ops = benchlib.samples(result)
    secs = [o["s"] for o in ops]
    loads = result["loads"]
    e2e = benchlib.end_to_end(result)
    out = {}
    if workload == "elt_daily":
        out["elt_full_load_s"] = (e2e["load_s"], "s", len(loads))
        out["elt_day_p50_s"] = (e2e["op_p50_s"], "s", len(secs))
        out["elt_rows_per_s"] = (e2e["work_per_s"], "1/s", len(secs))
    elif workload == "dedup_curation":
        out["dedup_store_build_s"] = (e2e["load_s"], "s", len(loads))
        out["dedup_gate_p50_s"] = (e2e["op_p50_s"], "s", len(secs))
        out["dedup_docs_per_s"] = (e2e["work_per_s"], "1/s", len(secs))
    else:
        out["ann_build_s"] = (e2e["load_s"], "s", len(loads))
        out["ann_search_p50_s"] = (e2e["op_p50_s"], "s", len(secs))
        out["ann_search_p90_s"] = (benchlib.percentile(secs, 90), "s", len(secs))
        out["ann_queries_per_s"] = (e2e["work_per_s"], "1/s", len(secs))
        out["ann_recall_at_10"] = (result["quality"]["recall_at_10"], "ratio", sum(o["items"] for o in ops))
    out["peak_rss_mb"] = (e2e["peak_rss_mb"], "MB", 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a checkout "
                         "(src/main/scala/graft not found)")
    import checks  # reads the repository's tools/check.py
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp, built = ensure_build(root, build_dir)
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build_dir, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(build_dir, "logs"), exist_ok=True)
    result_path = os.path.join(work, "result.json")
    try:
        t_jvm = time.monotonic()
        result = run_jvm(cp, args, work, result_path,
                         os.path.join(build_dir, "logs", f"{tag}.log"), limit)
        t_checks = time.monotonic()
        attempted, failures = checks.run_all(result["checks"])
        log(f"benchmark JVM {t_checks - t_jvm:.1f} s, checks {time.monotonic() - t_checks:.1f} s")
        attempted += result["attempted"]
        failures = list(result["failures"]) + failures
    finally:
        if os.path.exists(result_path) and args.trace:
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            shutil.copy(result_path, os.path.join(build_dir, "traces", f"{tag}.json"))
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = benchlib.per_layer(result)
        units = dict(benchlib.PER_LAYER)
    else:
        metrics = benchlib.end_to_end(result)
        units = dict(benchlib.END_TO_END)
    attempted = max(attempted, 1)
    report(args, result, metrics, units, attempted, failures)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()

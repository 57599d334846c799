#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

Builds the engine and the harness from source (once per source state),
generates the inputs from the seed, runs one workload in a fresh JVM,
checks every result and prints the metrics. The last line of standard
output is one JSON object: `correct`, `attempted`, `failed`, `metrics`.
With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones. `--all` runs every workload untraced
and prints all end-to-end metrics as a table. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["analytics", "index-churn"]
QUERY_WORKLOADS = ["analytics"]
# Generated tables (name → TPC-H-style scale factor) per workload.
STAR = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
TABLES = {"analytics": dict({t: 0.1 for t in STAR}, documents=0.01, embeddings=0.01),
          "index-churn": {"documents": 0.02, "embeddings": 0.02}}
# The tables do not depend on --seed, so query digests can be recorded
# once and every run does the same amount of work; --seed orders the
# queries, cuts the event stream and orders the held-out index rows.
DATA_SEED = 42
BUILD_DIR = os.path.join(HERE, ".build")
RUN_DIR = os.path.join(HERE, ".run")
EXPECTED = os.path.join(HERE, "expected_digests.json")
JVM_TIMEOUT_S = 165
# Gated times are read at reference speed: scaled by this over the median
# CPU time of the reference probes (Main.reference) taken just before and
# after the phase they time, as if measured on a host where the probe takes
# exactly this long. The probe tracks how much busy neighbours slow the
# host; see README.md, "Steadiness".
REFERENCE_S = 0.100
# End-to-end metric units; the gated subset is listed in BENCHMARK.json.
UNITS = {"setup_s": "s", "cpu_s_per_op": "s", "setup_raw_s": "s", "cpu_raw_s_per_op": "s",
         "reference_s": "s", "wall_s": "s", "ops_per_s": "1/s",
         "latency_p50_s": "s", "latency_p90_s": "s", "probe_p50_s": "s",
         "probe_p90_s": "s", "batch_p50_s": "s", "batch_p90_s": "s",
         "rows_per_s": "1/s", "index_disk_mb": "MB", "peak_heap_mb": "MB",
         "failed_ratio": "ratio"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness with sbt when the sources changed; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail("engine sources not found next to the benchmark; nothing to build")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "printClasspath"], cwd=HERE, env=sbt_env(), stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = [x for x in f.read().splitlines() if x.startswith("CLASSPATH=")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1][len("CLASSPATH="):]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, tmp, main, args):
    """The JVM command line for `main`: Spark's module opens for JDK 17,
    every temporary file under `tmp`, UTC everywhere, and a fixed-size heap:
    with a growable one, the full GC that starts the measured phase shrank
    the heap and the first timed operation paid to grow it back, 0.3-0.5 s
    for a heavy query, so the seed's choice of first query moved the CPU
    figure."""
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + args


def run_jvm(cp, workload, seed, seconds, trace, data, work, out, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(cp, tmp, "graftbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", data, "--work", work, "--out", out])
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=dict(os.environ, TMPDIR=tmp))
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{workload} timed out, see {log}")
        finally:
            # on a timeout, an error or SIGTERM the JVM must not outlive us
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        fail(f"{workload} JVM exited {rc}, see {log}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)["queries"]


def check(res, expected):
    """(attempted, failed, problems): a failed op is one that raised or
    whose digest differs from the expected one."""
    ops = res["ops"] + res.get("traced_ops", [])
    problems = list(res.get("check_problems", []))
    failed = 0
    for op in ops:
        bad = not op["ok"]
        if op["kind"] == "query" and op["ok"]:
            want = expected.get(op["name"], {}).get("digest")
            bad = want != op["digest"]
            if bad:
                problems.append(f"{op['name']}: digest {op['digest']} != expected {want}")
        elif not op["ok"]:
            problems.append(f"{op['name']}: {op['error']}")
        failed += bad
    # a workload-level check failure (index or stream state) fails every op
    if res.get("check_problems"):
        failed = len(ops)
    return len(ops), failed, problems


def end_to_end(res, failed, attempted):
    """All end-to-end figures of one run, and the sample count behind each
    percentile metric. A metric that does not apply to the workload, or a
    percentile with fewer than ten samples beyond it, is absent."""
    ops, rounds, secs = res["ops"], res["rounds"], res["measured_s"]
    # three probes each before the session, after set-up, after measuring
    refs = res["reference_s"]
    ref_setup, ref_measure = metrics.median(refs[:6]), metrics.median(refs[3:])
    out = {"setup_s": res["setup_s"] * REFERENCE_S / ref_setup,
           "cpu_s_per_op": res["cpu_s"] / len(ops) * REFERENCE_S / ref_measure,
           "setup_raw_s": res["setup_s"], "cpu_raw_s_per_op": res["cpu_s"] / len(ops),
           "reference_s": metrics.median(refs), "wall_s": metrics.median(rounds),
           "ops_per_s": len(ops) / secs, "peak_heap_mb": res["peak_heap_mb"],
           "failed_ratio": failed / attempted}
    samples = {}

    def pct(prefix, xs):
        for p in (50, 90):
            samples[f"{prefix}_p{p}_s"] = len(xs)
            v = metrics.reportable(xs, p)
            if v is not None:
                out[f"{prefix}_p{p}_s"] = v
    pct("latency", [o["secs"] for o in ops if o["kind"] == "query"])
    pct("probe", [o["secs"] for o in ops if o["kind"] == "probe"])
    pct("batch", [o["secs"] for o in ops if o["kind"] in ("commit", "batch")])
    fed = [o["rows"] for o in ops if o["name"] in ("vector-append", "bm25-append", "tumble")]
    if fed:
        out["rows_per_s"] = sum(fed) / secs
    if "index_disk_mb" in res:
        out["index_disk_mb"] = res["index_disk_mb"]
    return out, samples


def run_one(workload, seed, seconds, trace):
    t_start = time.time()
    deadline = t_start + JVM_TIMEOUT_S
    cp = build()
    deadline = max(deadline, time.time() + JVM_TIMEOUT_S)
    base = os.path.join(RUN_DIR, workload)
    work, out = os.path.join(base, "work"), os.path.join(base, "out")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out)
    data = os.path.join(work, "data")
    datagen.write(data, DATA_SEED, TABLES[workload])
    if workload == "index-churn":
        datagen.write_split(data, DATA_SEED, ["documents", "embeddings"])
    try:
        res = run_jvm(cp, workload, seed, seconds, trace, data, work, out, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed, problems = check(res, load_expected())
    e2e, samples = end_to_end(res, failed, attempted)
    summary = {"workload": workload, "seed": seed, "end_to_end": e2e, "samples": samples,
               "problems": problems, "setup_steps": res["setup_steps"],
               "floor_before_s": res["floor_before_s"], "floor_after_s": res["floor_after_s"],
               "session_build_s": res["session_build_s"]}
    if trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(x) for x in f]
        lay = metrics.layers(spans)
        lay["GraftSession.build_s"] = res["session_build_s"]
        lay["trace.overhead_s"] = metrics.median(res["traced_rounds"]) - e2e["wall_s"]
        summary["per_layer"] = lay
        summary["phase_split"] = metrics.phase_split(spans)
        summary["phase_split_off"] = metrics.phase_split_off(summary["phase_split"])
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return summary, attempted, failed


def print_e2e(summary):
    w = summary["workload"]
    for k, unit in UNITS.items():
        v = summary["end_to_end"].get(k)
        n = summary["samples"].get(k, 0)
        if v is not None:
            print(f"{w:16s} {k:14s} {v:12.4f} {unit}" + (f"  ({n} samples)" if n else ""))
        elif n:
            print(f"{w:16s} {k:14s} {'n/a':>12s} {unit}  ({n} samples:"
                  f" fewer than 10 beyond p{k[-4:-2]})")
        else:
            print(f"{w:16s} {k:14s} {'n/a':>12s} {unit}  (does not apply)")
    print(f"{w:16s} floor probe (spark.range sum): before {summary['floor_before_s']:.4f} s,"
          f" after {summary['floor_after_s']:.4f} s")
    for p in summary["problems"]:
        print(f"{w:16s} CHECK FAILED: {p}")
    for name in summary.get("phase_split_off", []):
        print(f"{w:16s} PHASE SPLIT OFF: {name}: construct + plan + exec differs from"
              f" latency by more than {metrics.PHASE_SPLIT_TOLERANCE:.0%}")


def main():
    # SIGTERM unwinds like an exception, so run_jvm's cleanup runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    if a.all:
        for w in WORKLOADS:
            summary, _, _ = run_one(w, a.seed, seconds, 0)
            print_e2e(summary)
        return
    if not a.workload:
        ap.error("--workload or --all is required")
    summary, attempted, failed = run_one(a.workload, a.seed, seconds, a.trace)
    print_e2e(summary)
    if a.trace:
        for name, lat, c, p, e in summary["phase_split"]:
            print(f"{a.workload:16s} {name:40s} latency {lat:.4f} = construct {c:.4f}"
                  f" + plan {p:.4f} + exec {e:.4f}")
        for k, v in summary["per_layer"].items():
            print(f"{a.workload:16s} {k:40s} {v:.6g}")
        wanted = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = summary["per_layer"]
    else:
        wanted = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = summary["end_to_end"]
    missing = [k for k in wanted if k not in values]
    if missing:
        fail(f"{a.workload} produced no value for {missing}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": u}
                                  for k, u in wanted.items()}}))


if __name__ == "__main__":
    main()

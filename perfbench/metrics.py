"""Metric arithmetic for the benchmark: percentiles, span self time and
the per-layer roll-up of a traced run's span tree. Pure functions, no
Spark; `tests/test_metrics.py` covers them."""
import math
from collections import defaultdict

# A percentile is reported only where at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10
# A traced query's construct + plan + exec must lie within this share of
# its latency.
PHASE_SPLIT_TOLERANCE = 0.05


def percentile(samples, p):
    """Nearest-rank p-th percentile of `samples`: the smallest value with
    at least p % of the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def reportable(samples, p):
    """The p-th percentile of `samples` when at least TAIL_SAMPLES samples
    lie beyond its rank, else None."""
    n = len(samples)
    if n - max(1, math.ceil(p / 100.0 * n)) < TAIL_SAMPLES:
        return None
    return percentile(samples, p)


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Map span id → self time: its duration minus the union of its
    children's intervals (children may overlap, e.g. concurrent jobs)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered(kids[s["id"]], s["start"], s["end"])
            for s in spans}


QUERY_MODULES = ["operators", "ext.TextOps", "ext.VectorOps", "ext.Multimodal"]
INDEX_MODULES = ["ext.VectorIndex", "ext.RetrievalIndex", "ext.TextIndex"]
STREAM_MODULE = "streaming.StreamOps"
STAGE_METRICS = ["stages", "tasks", "executor_run_s", "executor_cpu_s", "task_wait_s",
                 "gc_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                 "failed_tasks"]
QUERY_METRICS = ["construct_s", "construct_jobs", "plan_s", "exec_s", "exec_jobs",
                 "self_s"] + STAGE_METRICS
INDEX_METRICS = ["commit_s", "compact_s", "probe_s", "resolve_s", "chain_depth",
                 "disk_mb", "bytes_written_mb", "rows_examined_per_result"]
STREAM_METRICS = ["trigger_s", "addBatch_s", "queryPlanning_s", "walCommit_s",
                  "commitOffsets_s", "state_rows", "state_mb", "rows_dropped_by_watermark"]


def layer_names():
    """Every per-layer metric name, in report order."""
    names = [f"{m}.{k}" for m in QUERY_MODULES for k in QUERY_METRICS]
    names += ["Tables.schema_jobs", "GraftSession.build_s"]
    names += [f"{m}.{k}" for m in INDEX_MODULES for k in INDEX_METRICS]
    names += [f"{STREAM_MODULE}.{k}" for k in STREAM_METRICS]
    names += ["trace.overhead_s"]
    return names


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def layers(spans):
    """Per-layer figures of one traced run, keyed `<module>.<metric>`.
    Times and counts are means per operation of that module; gauges
    (chain depth, state size) are means or maxima over the run."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    selfs = self_times(spans)

    def below(s, kind):
        out, todo = [], list(kids[s["id"]])
        while todo:
            c = todo.pop()
            if c["kind"] == kind:
                out.append(c)
            todo.extend(kids[c["id"]])
        return out

    def stage_sum(phase, key):
        if key == "stages":
            return float(len(below(phase, "stage")))
        return sum(st["attrs"].get(key, 0.0) for st in below(phase, "stage"))

    out = {n: 0.0 for n in layer_names()}
    ops = [s for s in spans if s["kind"] == "op"]
    schema_jobs = 0
    for m in QUERY_MODULES:
        rows = []
        for op in (o for o in ops if o["module"] == m):
            ph = {p["name"]: p for p in kids[op["id"]] if p["kind"] == "phase"}
            if "construct" not in ph or "action" not in ph:
                continue
            c, a = ph["construct"], ph["action"]
            plan = a["attrs"].get("plan_s", 0.0)
            r = {"construct_s": c["end"] - c["start"],
                 "construct_jobs": len(below(c, "job")),
                 "plan_s": plan,
                 "exec_s": (a["end"] - a["start"]) - plan,
                 "exec_jobs": len(below(a, "job")),
                 "self_s": selfs[c["id"]] + selfs[a["id"]] - plan}
            for k in STAGE_METRICS:
                r[k] = stage_sum(c, k) + stage_sum(a, k)
            schema_jobs += sum(1 for j in below(c, "job") if j["attrs"].get("tables_site"))
            rows.append(r)
        for k in QUERY_METRICS:
            out[f"{m}.{k}"] = _mean([r[k] for r in rows])
    n_query_ops = sum(1 for o in ops if o["module"] in QUERY_MODULES)
    out["Tables.schema_jobs"] = schema_jobs / n_query_ops if n_query_ops else 0.0

    for m in INDEX_MODULES:
        phases = [p for p in spans if p["kind"] == "phase" and p["module"] == m]

        def dur(name):
            return _mean([p["end"] - p["start"] for p in phases if p["name"] == name])
        out[f"{m}.commit_s"] = dur("commit")
        out[f"{m}.compact_s"] = dur("compact")
        out[f"{m}.probe_s"] = dur("probe")
        out[f"{m}.resolve_s"] = dur("resolve")
        gauges = [g for g in spans if g["kind"] == "gauge" and g["module"] == m]
        out[f"{m}.chain_depth"] = _mean([g["attrs"].get("chain_depth", 0.0) for g in gauges])
        out[f"{m}.disk_mb"] = gauges[-1]["attrs"].get("disk_mb", 0.0) if gauges else 0.0
        out[f"{m}.bytes_written_mb"] = _mean(
            [p["attrs"].get("bytes_written_mb", 0.0) for p in phases if p["name"] == "commit"])
        probes = [p for p in phases if p["name"] == "probe"]
        results = sum(p["attrs"].get("result_rows", 0.0) for p in probes)
        examined = sum(stage_sum(p, "records_read") for p in probes)
        out[f"{m}.rows_examined_per_result"] = examined / results if results else 0.0

    batches = [p for p in spans if p["kind"] == "phase" and p["module"] == STREAM_MODULE]
    for k in STREAM_METRICS:
        vals = [p["attrs"].get(k, 0.0) for p in batches]
        if k in ("state_rows", "state_mb"):
            out[f"{STREAM_MODULE}.{k}"] = max(vals) if vals else 0.0
        elif k == "rows_dropped_by_watermark":
            out[f"{STREAM_MODULE}.{k}"] = sum(vals)
        else:
            out[f"{STREAM_MODULE}.{k}"] = _mean(vals)
    return out


def phase_split(spans):
    """Per traced query op: (name, latency, construct, plan, exec)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    rows = []
    for op in spans:
        if op["kind"] != "op" or op["module"] not in QUERY_MODULES:
            continue
        ph = {p["name"]: p for p in kids[op["id"]] if p["kind"] == "phase"}
        if "construct" not in ph or "action" not in ph:
            continue
        c, a = ph["construct"], ph["action"]
        plan = a["attrs"].get("plan_s", 0.0)
        rows.append((op["name"], op["end"] - op["start"], c["end"] - c["start"], plan,
                     (a["end"] - a["start"]) - plan))
    return rows


def phase_split_off(rows):
    """Names of the `phase_split` rows whose construct + plan + exec
    differs from the latency by more than PHASE_SPLIT_TOLERANCE."""
    return [name for name, lat, c, p, e in rows
            if abs(c + p + e - lat) > PHASE_SPLIT_TOLERANCE * lat]

"""Metrics from one run record (the JSON the harness writes).

End-to-end metrics come from an untraced run; per-layer metrics from a
traced one (Spark listeners and harness spans installed). Per-layer times
and counts are per warm pass, so they add up to `pass_s`; latencies are
medians per op or per micro-batch.
"""

import json
import math
import statistics
from collections import defaultdict
from pathlib import Path

# The metric names and units are those BENCHMARK.json declares.
SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

# Figures printed beside the end-to-end metrics and reported as per-layer
# metrics of a traced run, but not gated (perfbench/NOTES.md says why).
EXTRA_FIGURES = {
    "op_p50_s": "s",
    "op_p90_s": "s",
    "tvf_p50_s": "s",
    "tvf_p90_s": "s",
    "model_build_p50_s": "s",
    "registry_replay_p50_s": "s",
    "microbatch_p50_ms": "ms",
    "microbatch_p90_ms": "ms",
    "failed_frac": "ratio",
    "peak_rss_mb": "MiB",
}

# Layers of the self-time split, highest priority first: an instant of an
# op's wall time belongs to the first layer active at that instant.
SELF_LAYERS = ["executor", "scheduler", "catalyst", "udf", "queries_build", "queries_eval", "harness"]

MB = 1024.0 * 1024.0
STREAM_PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
}


def load(path):
    with open(path) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile (q in 0..100); 0 when there are no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def _op_s(op):
    return (op["end_ms"] - op["start_ms"]) / 1e3


def warm_ops(rec):
    return [o for o in rec["ops"] if o["pass"] >= 1]


def op_latencies(rec, kind=None):
    return [_op_s(o) for o in warm_ops(rec) if kind is None or o["kind"] == kind]


def batches_in(rec, ops):
    """Micro-batches whose start falls inside one of `ops`."""
    spans = sorted((o["start_ms"], o["end_ms"]) for o in ops)
    out = []
    for b in rec["progress"]:
        if any(lo <= b["start_ms"] <= hi for lo, hi in spans):
            out.append(b)
    return out


def end_to_end(rec):
    passes = rec["passes"]
    warm = [(p["end_ms"] - p["start_ms"]) / 1e3 for p in passes if p["pass"] >= 1]
    setup = rec["setup"]
    return {
        "setup_s": (setup["ready_ms"] - setup["jvm_start_ms"]) / 1e3,
        "cold_pass_s": (passes[0]["end_ms"] - passes[0]["start_ms"]) / 1e3,
        "pass_s": median(warm),
    }


def extra_figures(rec):
    lat = op_latencies(rec)
    tvf = op_latencies(rec, "tvf")
    mb = [b["duration_ms"].get("triggerExecution", 0) for b in batches_in(rec, warm_ops(rec))]
    ops = rec["ops"]
    return {
        "op_p50_s": median(lat),
        "op_p90_s": pct(lat, 90),
        "tvf_p50_s": median(tvf),
        "tvf_p90_s": pct(tvf, 90),
        "model_build_p50_s": median(op_latencies(rec, "model_build")),
        "registry_replay_p50_s": median(op_latencies(rec, "registry_replay")),
        "microbatch_p50_ms": median(mb),
        "microbatch_p90_ms": pct(mb, 90),
        "failed_frac": sum(1 for o in ops if not o["ok"]) / max(1, len(ops)),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def sample_counts(rec):
    counts = {"ops": len(op_latencies(rec)), "warm_passes": len(rec["passes"]) - 1}
    for kind in ("tvf", "model_build", "registry_replay"):
        counts[kind] = len(op_latencies(rec, kind))
    counts["microbatches"] = len(batches_in(rec, warm_ops(rec)))
    return counts


# ---- interval helpers --------------------------------------------------


def merge(intervals):
    out = []
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def covered(intervals):
    return sum(hi - lo for lo, hi in merge(intervals))


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def partition(layers, lo, hi):
    """Split [lo, hi] among `layers` (name -> intervals, highest priority
    first): each instant goes to the first layer covering it, the rest to
    the last layer. Returns name -> milliseconds; the values sum to hi - lo.
    """
    merged = {name: merge(clip(iv, lo, hi)) for name, iv in layers.items()}
    cuts = sorted({lo, hi, *(x for m in merged.values() for seg in m for x in seg)})
    out = dict.fromkeys(layers, 0.0)
    ptr = dict.fromkeys(layers, 0)
    last = list(layers)[-1]
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        owner = last
        for name, segs in merged.items():
            i = ptr[name]
            while i < len(segs) and segs[i][1] <= mid:
                i += 1
            ptr[name] = i
            if i < len(segs) and segs[i][0] <= mid:
                owner = name
                break
        out[owner] += b - a
    return out


# ---- per-layer metrics -------------------------------------------------


def per_layer(rec):
    ops = rec["ops"]
    warm = warm_ops(rec)
    warm_ids = {o["id"] for o in warm}
    n_pass = max(1, len(rec["passes"]) - 1)
    spark = rec.get("spark") or {}
    spans = [dict(zip(("id", "name", "parent", "op", "start", "end"), s)) for s in rec["spans"]]
    jobs = [dict(zip(("id", "op", "start", "end", "stages"), j)) for j in spark.get("jobs", [])]
    tasks = [dict(zip(("stage", "start", "end", "ok", "run_ms", "cpu_ns", "gc_ms", "in_bytes", "in_rows",
                       "sh_write", "sh_read", "fetch_wait_ms", "mem_spill", "disk_spill"), t))
             for t in spark.get("tasks", [])]
    stages = spark.get("stages", [])
    planning = [dict(zip(("phase", "start", "end"), p)) for p in spark.get("planning", [])]

    # attribute jobs by the op property (time containment when it is absent)
    def op_of_time(t):
        for o in ops:
            if o["start_ms"] <= t <= o["end_ms"]:
                return o["id"]
        return -1

    for j in jobs:
        if j["op"] < 0:
            j["op"] = op_of_time(j["start"])
        if j["end"] is None:
            j["end"] = j["start"]
    stage_op = {s: j["op"] for j in jobs for s in j["stages"]}
    for t in tasks:
        t["op"] = stage_op.get(t["stage"], -1)
    for p in planning:
        p["op"] = op_of_time(p["start"])

    warm_tasks = [t for t in tasks if t["op"] in warm_ids]
    warm_jobs = [j for j in jobs if j["op"] in warm_ids]
    warm_stage_ids = {s for j in warm_jobs for s in j["stages"]}

    def span_total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name and s["op"] in warm_ids)

    def spans_per_op(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name and s["op"] in warm_ids]

    m = {}
    setup = rec["setup"]
    m["session.build_s"] = (setup["built_ms"] - setup["build_start_ms"]) / 1e3
    m["session.warmup_s"] = (setup["ready_ms"] - setup["built_ms"]) / 1e3
    m["udf.materialize_ms"] = median(spans_per_op("udf.materialize"))
    m["udf.registry_save_ms"] = median(spans_per_op("udf.registry_save"))
    m["udf.registry_bootstrap_ms"] = median(spans_per_op("udf.registry_bootstrap"))
    m["udf.model_run_s"] = median(spans_per_op("udf.model_run")) / 1e3
    m["udf.table_write_mb"] = median([o["table_write_bytes"] / MB for o in warm
                                      if o.get("table_write_bytes") is not None])

    # self-time split of every warm op's wall time
    self_ms = dict.fromkeys(SELF_LAYERS, 0.0)
    err_max = 0.0
    gap_ms = 0.0
    tasks_by_op = defaultdict(list)
    for t in tasks:
        tasks_by_op[t["op"]].append((t["start"], t["end"]))
    jobs_by_op = defaultdict(list)
    for j in jobs:
        jobs_by_op[j["op"]].append((j["start"], j["end"]))
    plan_by_op = defaultdict(list)
    for p in planning:
        plan_by_op[p["op"]].append((p["start"], p["end"]))
    spans_by_op = defaultdict(lambda: defaultdict(list))
    for s in spans:
        key = "udf" if s["name"].startswith("udf.") else s["name"].replace(".", "_")
        spans_by_op[s["op"]][key].append((s["start"], s["end"]))
    for o in warm:
        lo, hi = o["start_ms"], o["end_ms"]
        layers = {
            "executor": tasks_by_op[o["id"]],
            "scheduler": jobs_by_op[o["id"]],
            "catalyst": plan_by_op[o["id"]],
            "udf": spans_by_op[o["id"]]["udf"],
            "queries_build": spans_by_op[o["id"]]["queries_build"],
            "queries_eval": spans_by_op[o["id"]]["queries_eval"],
            "harness": [(lo, hi)],
        }
        part = partition(layers, lo, hi)
        for k, v in part.items():
            self_ms[k] += v
        wall = hi - lo
        if wall > 0:
            err_max = max(err_max, abs(sum(part.values()) / wall - 1))
        gap_ms += wall - covered(clip(jobs_by_op[o["id"]] + plan_by_op[o["id"]], lo, hi))
    for k in SELF_LAYERS:
        m[f"self.{k}_s"] = self_ms[k] / 1e3 / n_pass
    m["trace.self_sum_err_max"] = err_max

    m["queries.build_s"] = self_ms["queries_build"] / 1e3 / n_pass
    m["queries.eval_s"] = span_total("queries.eval") / 1e3 / n_pass
    m["queries.conf_drift_keys"] = sum(o.get("conf_drift_keys") or 0 for o in ops)
    m["queries.leaked_temp_objects"] = sum(o.get("leaked_temp_objects") or 0 for o in ops)
    answers = defaultdict(set)
    for o in ops:
        if o["ok"] or o["rows"] is not None:
            answers[(o["kind"], o["name"], o["arg"])].add((o["rows"], o["hash"]))
    m["queries.hash_drift_ops"] = sum(1 for v in answers.values() if len(v) > 1)

    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = sum(p["end"] - p["start"] for p in planning
                                        if p["phase"] == phase and p["op"] in warm_ids) / n_pass

    m["scheduler.jobs"] = len(warm_jobs) / n_pass
    m["scheduler.stages"] = sum(1 for s in stages if s[0] in warm_stage_ids) / n_pass
    m["scheduler.tasks"] = len(warm_tasks) / n_pass
    m["scheduler.gap_s"] = gap_ms / 1e3 / n_pass
    m["scheduler.task_success_frac"] = (sum(1 for t in warm_tasks if t["ok"]) / len(warm_tasks)
                                        if warm_tasks else 1.0)

    def task_sum(key):
        return sum(t[key] for t in warm_tasks)

    m["executor.run_s"] = task_sum("run_ms") / 1e3 / n_pass
    m["executor.cpu_s"] = task_sum("cpu_ns") / 1e9 / n_pass
    m["executor.gc_s"] = task_sum("gc_ms") / 1e3 / n_pass
    m["executor.input_mb"] = task_sum("in_bytes") / MB / n_pass
    rows_read = task_sum("in_rows")
    m["executor.rows_read"] = rows_read / n_pass
    rows_out = sum(o["rows"] or 0 for o in warm)
    m["executor.rows_out_per_row_read"] = rows_out / rows_read if rows_read else 0.0
    m["shuffle.write_mb"] = task_sum("sh_write") / MB / n_pass
    m["shuffle.read_mb"] = task_sum("sh_read") / MB / n_pass
    m["shuffle.fetch_wait_ms"] = task_sum("fetch_wait_ms") / n_pass
    m["spill.memory_mb"] = task_sum("mem_spill") / MB / n_pass
    m["spill.disk_mb"] = task_sum("disk_spill") / MB / n_pass

    stream_ops = [o for o in warm if o["kind"] == "stream"]
    batches = batches_in(rec, stream_ops)
    m["streaming.batches"] = len(batches) / n_pass
    m["streaming.data_batch_frac"] = (sum(1 for b in batches if b["input_rows"] > 0) / len(batches)
                                      if batches else 0.0)
    for name, key in STREAM_PHASES.items():
        m[name] = median([b["duration_ms"][key] for b in batches if key in b["duration_ms"]])
    trigger = sum(b["duration_ms"].get("triggerExecution", 0) for b in batches)
    m["streaming.lifecycle_gap_s"] = (sum(_op_s(o) for o in stream_ops) - trigger / 1e3) / n_pass
    m["streaming.state_rows"] = max((b["state_rows"] for b in batches), default=0)
    m["streaming.state_mem_mb"] = max((b["state_mem_bytes"] for b in batches), default=0) / MB

    for k in ("expressions.minhash_ns_per_row", "expressions.sig_agreement_ns_per_pair",
              "expressions.jaccard_ns_per_pair", "expressions.dot_ns_per_pair",
              "media.jpeg_decode_mb_s", "media.gif_decode_mb_s"):
        m[k] = rec["rig"].get(k, 0.0)
    m["trace.pass_s"] = end_to_end(rec)["pass_s"]
    m.update(extra_figures(rec))
    return m


def metrics(rec):
    """The metrics the run reports: end-to-end untraced, per-layer traced."""
    if rec["trace"]:
        return _with_units(per_layer(rec), PER_LAYER)
    return _with_units(end_to_end(rec), END_TO_END)


def _with_units(values, units):
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def failures(rec):
    return [o for o in rec["ops"] if not o["ok"]]

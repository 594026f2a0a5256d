"""Turns the harness's raw records (raw.json) into the benchmark's metrics.

Pure functions over plain dicts, so they can be tested without Spark:
span building and self time per layer, the tail percentile, and the
end-to-end and per-layer figures.
"""
import itertools
import math
import statistics

MB = 1024.0 * 1024.0

# Layers of the span tree, outermost first:
# run -> pass -> item (query or flow) -> construct | plan | execute -> job -> stage
# A flow item has no construct/plan/execute split: its jobs hang off it.
LAYERS = ["run", "pass", "item", "construct", "plan", "execute", "job", "stage"]


def median(xs):
    xs = [x for x in xs if x is not None and not math.isnan(x)]
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    xs = [x for x in xs if x is not None and x > 0]
    if not xs:
        return float("nan")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(samples, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it. Returns (value, percentile, n); with fewer than beyond + 1
    samples there is no such percentile and the maximum is returned with
    percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return float("nan"), None, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    k = n - beyond  # xs[k-1] has exactly `beyond` samples after it
    return xs[k - 1], 100.0 * k / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span: its duration minus the time its children cover
    (children clipped to the parent, overlaps counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - union_length(clipped))
    return out


def self_time_by_layer(spans):
    st = self_times(spans)
    acc = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        acc[s["layer"]] = acc.get(s["layer"], 0.0) + st[s["id"]]
    return acc


def build_spans(run_id, passes):
    """Span tree (times in ms) for the traced passes of one run."""
    ids, spans = itertools.count(1), []

    def add(parent, name, layer, start, end):
        sid = next(ids)
        spans.append({"id": sid, "parent": parent, "name": name, "layer": layer,
                      "start": start, "end": max(start, end), "run": run_id})
        return sid

    if not passes:
        return spans
    root = add(0, run_id, "run", passes[0]["start"], passes[-1]["end"])
    for i, p in enumerate(passes):
        pid = add(root, f"pass{i}", "pass", p["start"], p["end"])
        tr = p.get("trace", {})
        jobs, stages, qes = tr.get("jobs", []), tr.get("stages", []), tr.get("qes", [])
        job_parent = {}
        for item in p["items"]:
            iid = add(pid, item["name"], "item", item["start"], item["end"])
            if item["flow"]:
                cid = eid = iid
            else:
                cid = add(iid, "construct", "construct", item["start"], item["constructed"])
                w = write_qe(item, qes)
                plan_end = item["constructed"]
                if w is not None:
                    ph = w["phases"].values()
                    ps = max(item["constructed"], min(a for a, _ in ph))
                    plan_end = min(item["end"], max(b for _, b in ph))
                    add(iid, "plan", "plan", ps, plan_end)
                eid = add(iid, "execute", "execute", plan_end, item["end"])
            for j in jobs:
                if j["group"] == item["name"]:
                    job_parent[j["id"]] = cid if j["start"] < item["constructed"] else eid
        for j in jobs:
            jid = add(job_parent.get(j["id"], pid), f"job{j['id']}", "job", j["start"], _end(j))
            for s in stages:
                if s["job"] == j["id"] and s["start"] is not None:
                    add(jid, f"stage{s['id']}.{s['attempt']}", "stage", s["start"], _end(s))
    return spans


def _end(rec):
    e = rec.get("end")
    return rec["start"] if e is None else e


def write_qe(item, qes):
    """The query execution of a query item's final write: the first one
    whose analysis starts after the DataFrame was constructed."""
    cands = [q for q in qes if q["phases"] and
             item["constructed"] <= min(a for a, _ in q["phases"].values()) <= item["end"]]
    return min(cands, key=lambda q: min(a for a, _ in q["phases"].values())) if cands else None


def pins(passes):
    """One record per query execution started while a query item was being
    constructed (eager pins and collects): query, rows, bytes, ms. A pin's
    jobs are the item's jobs that start before the next execution does."""
    out = []
    for p in passes:
        tr = p.get("trace", {})
        stage_bytes = {}
        for s in tr.get("stages", []):
            stage_bytes[s["job"]] = stage_bytes.get(s["job"], 0.0) + s["block_b"] + s["result_b"]
        starts = sorted((min(a for a, _ in q["phases"].values()), i)
                        for i, q in enumerate(tr.get("qes", [])) if q["phases"])
        for item in (i for i in p["items"] if not i["flow"]):
            mine = [(t, i) for t, i in starts if item["start"] <= t < item["constructed"]]
            for k, (t, i) in enumerate(mine):
                until = mine[k + 1][0] if k + 1 < len(mine) else item["constructed"]
                jobs = [j["id"] for j in tr.get("jobs", [])
                        if j["group"] == item["name"] and t <= j["start"] < until]
                q = tr["qes"][i]
                out.append({"query": item["name"], "func": q["func"], "rows": q["rows"],
                            "bytes": sum(stage_bytes.get(j, 0.0) for j in jobs),
                            "ms": q["dur_ms"], "jobs": jobs})
    return out


def pass_layers(p, cores, setup_prepare_s):
    """Per-layer figures of one traced pass."""
    tr = p.get("trace", {})
    jobs, stages, qes = tr.get("jobs", []), tr.get("stages", []), tr.get("qes", [])
    queries = [i for i in p["items"] if not i["flow"]]
    flows = {i["name"] for i in p["items"] if i["flow"]}
    ms = 1e-3
    construct_s = sum(i["constructed"] - i["start"] for i in queries) * ms
    windows = [(i["start"], i["constructed"], i["name"]) for i in queries]
    plan_qes = [q for q in (write_qe(i, qes) for i in queries) if q is not None]
    cjobs = {j["id"] for j in jobs for (a, b, n) in windows if j["group"] == n and a <= j["start"] < b}
    pin_b = sum(s["block_b"] + s["result_b"] for s in stages if s["job"] in cjobs)
    pin_rows = sum(max(0, x["rows"]) for x in pins([p]))
    sink_jobs = {j["id"] for j in jobs if j["group"] in flows}
    sink_stages = [s for s in stages if s["job"] in sink_jobs]

    def phase(name):
        return sum(q["phases"][name][1] - q["phases"][name][0]
                   for q in plan_qes if name in q["phases"]) * ms

    execute_s = union_length([(j["start"], _end(j)) for j in jobs]) * ms
    task_run_s = sum(s["task_run_ms"] for s in stages) * ms
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    declared = sum(j["declared_stages"] for j in jobs)
    ran = sum(j["run_stages"] for j in jobs)
    return {
        "SparkEntry.construct_s": construct_s,
        "SparkEntry.construct_jobs": float(len(cjobs)),
        "SparkEntry.pin_mb": pin_b / MB,
        "SparkEntry.pin_rows": float(pin_rows),
        "plans.analysis_s": phase("analysis"),
        "plans.optimization_s": phase("optimization"),
        "plans.planning_s": phase("planning"),
        "plans.codegen_s": p["codegen_s"],
        "plans.codegen_classes": float(p["codegen_classes"]),
        "exec.execute_s": execute_s,
        "exec.stages": float(len(stages)),
        "exec.tasks": float(sum(s["tasks"] for s in stages)),
        "exec.task_run_s": task_run_s,
        "exec.task_cpu_s": sum(s["task_cpu_ms"] for s in stages) * ms,
        "exec.sched_wait_s": sum(s["sched_wait_ms"] for s in stages) * ms,
        "exec.slot_busy_frac": task_run_s / (execute_s * cores) if execute_s > 0 else 0.0,
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "exec.task_skew": median(skews) if skews else 1.0,
        "exec.skipped_stage_frac": (declared - ran) / declared if declared else 0.0,
        "exec.failed_tasks": float(sum(s["failed_tasks"] for s in stages)),
        "Tables.prepare_s": setup_prepare_s,
        "Tables.scan_mb": sum(s["input_b"] for s in stages) / MB,
        "Tables.scan_rows": sum(s["input_rows"] for s in stages),
        "Tables.scan_tasks": float(sum(s["tasks"] for s in stages if s["input_b"] > 0)),
        "Sinks.write_mb": sum(s["output_b"] for s in sink_stages) / MB,
        "Sinks.rows": sum(s["output_rows"] for s in sink_stages),
        "Sinks.files": float(p["files"]),
        "jvm.gc_s": p["gc_s"],
        "jvm.alloc_gib": p["alloc_gib"],
    }


def pool_busy_frac(cold, cores):
    """Σ dump seconds ÷ (wall × clients) of the cold pass's Verify.run."""
    dumps = [i for i in cold["items"] if i.get("via_verify")]
    if not dumps:
        return 0.0
    wall_s = (max(i["end"] for i in dumps) - min(i["start"] for i in dumps)) * 1e-3
    secs = sum(i["secs"] for i in dumps if i["secs"] is not None)
    return secs / (wall_s * cores) if wall_s > 0 else 0.0


def item_medians(passes):
    per = {}
    for p in passes:
        for i in p["items"]:
            if i["ok"] and i["secs"] is not None:
                per.setdefault(i["name"], []).append(i["secs"])
    return {k: median(v) for k, v in per.items()}


def end_to_end(raw):
    """{metric: (value, samples)} and the item-time tail (value, pct, n)."""
    warm = raw["passes"]
    walls = [p["wall_s"] for p in warm]
    samples = [i["secs"] for p in warm for i in p["items"] if i["ok"] and i["secs"] is not None]
    return {
        "setup_s": (raw["setup"]["total_s"], 1),
        "cold_pass_s": (raw["cold_pass"]["wall_s"], 1),
        "pass_s.p50": (median(walls), len(walls)),
        "query_geomean_s": (geomean(item_medians(warm).values()), len(samples)),
        "live_heap_gib": (raw["live_heap_gib"], 1),
    }, tail(samples)


def per_layer(raw):
    traced = raw.get("traced_passes", [])
    cores = raw["env"]["nproc"]
    rows = [pass_layers(p, cores, raw["setup"]["prepare_s"]) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    out["Verify.pool_busy_frac"] = pool_busy_frac(raw["cold_pass"], cores)
    run_id = f"{raw['env']['workload']}-seed{raw['env']['seed']}"
    spans = build_spans(run_id, traced)
    by_layer = self_time_by_layer(spans)
    for layer in LAYERS[1:]:  # the run span also covers untraced passes
        out[f"self.{layer}_s"] = by_layer.get(layer, 0.0) * 1e-3 / max(1, len(traced))
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced]) -
                               median([p["wall_s"] for p in raw["passes"]]))
    return out, spans


# Units of the per-layer metrics, by name suffix.
def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_gib"):
        return "GiB"
    if name.endswith("_frac") or name.endswith("skew"):
        return "ratio"
    return "count"

#!/usr/bin/env python3
"""Benchmark of the graft Spark engine, one workload per invocation.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the harness from
source with sbt (into .bench_build/, reused while the sources are
unchanged), runs one JVM with local[nproc] that sets up cold, runs a cold
pass and then --seconds' worth of warm passes (a count fixed per workload),
checks every output against the DuckDB oracles and every warm result
against the checked cold output, and prints one JSON object
as the last line of stdout. With --trace 1 the warm passes alternate
between untraced ones and ones with the harness's Spark listeners
attached, and the per-layer metrics are printed instead of the end-to-end
ones; the span tree is written to .bench_build/runs/<run>/trace.json.

The input tables are the seed-42 testdata under $GRAFT_TESTDATA
(default: ~/testdata), read only. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")

# Workload -> scale factor, and the seconds one warm pass took at the seed
# commit (4 cores). A run makes --seconds / that many warm passes, at least
# two: a fixed count, so both sides of an A/B measure the same work at the
# same point of the JIT's warm-up (see README.md).
WORKLOADS = {
    "relational": ("sf0.1", 5.0),
    "corpus": ("sf0.01", 18.0),
}

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s.p50": "s",
              "query_geomean_s": "s", "live_heap_gib": "GiB"}

# Printed and kept in trace.json but left out of the JSON metrics: at the
# planning tracker's millisecond resolution a warm write's analysis reads
# 0, and codegen time is 0 whenever every class comes from Spark's cache,
# so both would read the same on every run.
INFO_ONLY_LAYERS = {"plans.analysis_s", "plans.codegen_s"}

RUN_LIMIT_S = 175    # a run (after any build) must end within this
COMPARE_RESERVE_S = 40

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness; returns (classpath, seconds spent)."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_f, cp_f = os.path.join(BUILD, "stamp.txt"), os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_f) and os.path.exists(cp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip(), 0.0
    t0 = time.monotonic()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines() if os.pathsep in ln or ln.endswith(".jar")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed (rc {proc.returncode})")
    cp = lines[-1].strip()
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp, time.monotonic() - t0


def testdata():
    return os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))


def run_jvm(cp, workload, seed, passes, trace, sfdir, work, deadline):
    tmp = os.path.join(BUILD, "tmp")
    # The prepared-table cache lives under the JVM's tmpdir; clearing it
    # here makes setup_s always include its materialization.
    shutil.rmtree(os.path.join(tmp, "graft-prepared"), ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *[a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx4g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.BenchMain",
           workload, str(seed), str(passes), str(trace), sfdir, work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness exceeded its time limit; see {work}/jvm.log", 1)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness failed (rc {rc})", 1)
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def correctness(raw, sfdir, timeout):
    """(attempted, failed, {what: reason}). Every item execution is
    attempted; it fails if it threw, or if its result's digest differs from
    the reference: the digest of the cold pass's oracle-checked dump for a
    query, of the first warm landing for a flow (whose last landing the
    oracle checks). Every oracle check (the cold dumps, the landed bodies
    of oracle-checked queries) is attempted too, and fails on a
    mismatch."""
    reference = raw["verify"]["reference"]
    queries = [i["name"] for i in raw["items"] if not i["flow"]]
    checks = oracle.check_dumps(ROOT, sfdir, raw["verify"]["dump_dir"], queries, timeout)
    checks.update(oracle.check_flow_oracles(ROOT, sfdir, raw["verify"]["flow_oracles"]))
    bad = {k: v for k, v in checks.items() if v is not None}
    attempted, failed = len(checks), len(bad)
    for p in [raw["cold_pass"]] + raw["passes"] + raw.get("traced_passes", []):
        for i in p["items"]:
            attempted += 1
            why = None
            if not i["ok"]:
                why = raw["errors"].get(i["name"], "failed")
            elif i["digest"] is not None and i["digest"] != reference.get(i["name"]):
                why = f"result digest {i['digest']} != checked {reference.get(i['name'])}"
            if why is not None:
                failed += 1
                bad.setdefault(f"{p['label']} {i['name']}", why)
    return attempted, failed, bad


def per_item_series(raw, passes):
    """`<Module>.<item>_s` warm medians, and `Verify.dump_s.<Module>` from
    the cold pass's Verify.run dumps."""
    module = {i["name"]: i["module"] for i in raw["items"]}
    out = {f"{module[n]}.{n}_s": v for n, v in sorted(analysis.item_medians(passes).items())}
    per_mod = {}
    for i in raw["cold_pass"]["items"]:
        if i.get("via_verify") and i["secs"] is not None:
            per_mod[module[i["name"]]] = per_mod.get(module[i["name"]], 0.0) + i["secs"]
    out.update({f"Verify.dump_s.{m}": v for m, v in sorted(per_mod.items())})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(oracle.compare_script(ROOT)):
        fail("engine sources (src/main/scala) or tools/compare_oracle.py not found; "
             "run from the root of a full checkout")
    sf, pass_s = WORKLOADS[a.workload]
    sfdir = os.path.join(testdata(), sf)
    if not os.path.isfile(os.path.join(sfdir, "documents.parquet")):
        fail(f"testdata not found at {sfdir} (set GRAFT_TESTDATA)")

    cp, build_s = build()
    t_ready = time.monotonic()
    work = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    passes = max(2, round(a.seconds / pass_s))
    raw = run_jvm(cp, a.workload, a.seed, passes, a.trace, sfdir, work,
                  t_ready + RUN_LIMIT_S - COMPARE_RESERVE_S)
    attempted, failed, bad = correctness(
        raw, sfdir, max(10.0, t_ready + RUN_LIMIT_S - time.monotonic()))

    env = dict(raw["env"], sf_dir=sf, seconds=a.seconds, build_s=round(build_s, 1),
               git_sha=git_sha(), source_sha256=source_stamp()[:16])
    log("env " + json.dumps(env, sort_keys=True))
    for k, v in sorted(bad.items()):
        log(f"FAILED {k}: {v}")
    log(f"correctness: {attempted - failed}/{attempted} ok, failed_frac = {failed / attempted:.4f}")

    if a.trace:
        traced = raw["traced_passes"]
        layers, spans = analysis.per_layer(raw)
        series = per_item_series(raw, raw["passes"] + traced)
        pin_records = analysis.pins(traced)
        trace_path = os.path.join(work, "trace.json")
        with open(trace_path, "w") as f:
            json.dump({"env": env, "spans": spans, "pins": pin_records,
                       "per_layer": layers, "per_item": series}, f)
        for k, v in series.items():
            log(f"item {k} = {v:.4f} s")
        for k, v in layers.items():
            log(f"layer {k} = {v:.6g} {analysis.unit_of(k)} (traced passes={len(traced)})")
        log(f"trace: {len(spans)} spans, {len(pin_records)} pins -> {os.path.relpath(trace_path, ROOT)}")
        metrics = {k: {"value": v, "unit": analysis.unit_of(k)} for k, v in layers.items()
                   if k not in INFO_ONLY_LAYERS}
    else:
        e2e, (tail, pct, n_items) = analysis.end_to_end(raw)
        for k, (v, n) in e2e.items():
            log(f"metric {k} = {v:.6g} {END_TO_END[k]} (n={n})")
        # Reported, not gated: a run holds too few item samples for a tail
        # percentile to be steady.
        log(f"info item_s.tail = {tail:.6g} s (p{pct:.0f} of n={n_items})")
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
    broken = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if broken:
        fail(f"no finite value for {broken}", 1)
    log(f"total {time.monotonic() - t_start:.1f}s (build {build_s:.1f}s)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


if __name__ == "__main__":
    main()

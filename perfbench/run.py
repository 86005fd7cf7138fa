#!/usr/bin/env python3
"""Pipeline benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, into
.bench_build/), generates the workload's inputs from the seed, runs the
harness in one fresh JVM (cold pass, then steady passes for --seconds),
checks the outputs, prints a human-readable table on stderr and, as the
last line of stdout, one JSON object with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1).  See README.md.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CORES = 4
DRIVER_MEM = "1g"
SETUP_REPS = 3
# a cold pass and at least one steady pass; a traced run adds a traced
# pass and the untraced one it is compared with (see trace.overhead_s)
MIN_PASSES, MAX_PASSES = 2, 8
RUN_DEADLINE_S = 170

# Sizes per workload (see README.md for the reasoning and timings).
WORKLOADS = {
    "nightly_refresh": {"scale": 1, "docs": 60},
    "daily_cycle": {
        "history": 20, "start": "2024-01-01",
        "rows": {"orders": 150, "lineitem": 1200, "customer": 20, "events": 200},
        "unauthorized_per_date": 1, "throttled_per_date": 1},
}

# the refresh stages, then the corpus programs, of one nightly pass
NIGHTLY_SPANS = ["analytics.screen_metrics", "analytics.technical_snapshot",
                 "queries.market_breadth", "queries.market_breadth_full",
                 "queries.per_bands", "queries.market_indicators",
                 "queries.factor_vectors", "queries.neardup_pairs",
                 "queries.exact_substr", "queries.corpus_suffix_rank",
                 "queries.lev_pairs"]
SCHEDULE_SPANS = ["jobs.land_schedule", "jobs.heal"]

# Timings are CPU seconds of the process, all threads: on a shared virtual
# machine wall time drifts with the host's steal time (see README.md).
END_TO_END = [("setup_s", "s"), ("cold_pass_cpu_s", "s"), ("pass_cpu_s", "s"),
              ("bytes_per_user_byte", "ratio"), ("peak_rss_mb", "MB")]
SPAN_LAYERS = [
    "jobs.refresh_run", "jobs.land_schedule", "jobs.catchup_plan", "jobs.heal",
    "jobs.production_refresh"] + NIGHTLY_SPANS
PER_LAYER = (
    ["harness.session_s", "harness.inputs_s", "harness.history_land_s",
     "harness.verify_s"]
    + ["pass.cold_wall_s", "pass.wall_s"]
    + [n + "_s" for n in SPAN_LAYERS]
    + ["spark.jobs", "spark.jobs_per_date", "spark.stages", "spark.tasks",
       "spark.job_busy_s", "spark.driver_gap_s", "spark.task_run_s",
       "spark.task_cpu_s", "spark.gc_s", "spark.core_util", "spark.scan_bytes",
       "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
       "spark.output_bytes", "sink.files", "sink.bytes_on_disk",
       "cache.peak_storage_mb", "cache.rdds_left_after_pass",
       "sources.fetch_calls", "sources.pages_useful_ratio", "sources.virtual_wait_s",
       "sources.fetch_self_s", "sources.claims", "trace.overhead_s",
       "trace.overhead_wall_s"])


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_hash():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = _source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [ln for ln in p.stdout.splitlines()
          if ".bench_build" in ln and ":" in ln and not ln.startswith("[")][-1]
    with open(cp_file, "w") as f:
        f.write(cp.strip())
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return cp.strip()


# ------------------------------------------------------------------ inputs

def stage_inputs(workload, seed, inputs):
    """Generate and stage the workload's inputs. Returns the config
    fields, the user bytes per staged unit ("<table>" or
    "<dataset>/<date>") and the expected landed figures."""
    w = WORKLOADS[workload]
    os.makedirs(inputs, exist_ok=True)
    if workload == "nightly_refresh":
        tbls = gen.tables(seed, w["scale"], w["docs"])
        gen.write_tables(tbls, inputs)
        user = {t: os.path.getsize(os.path.join(inputs, f"{t}.parquet")) for t in tbls}
        return {"expected_rows": {t: v.num_rows for t, v in tbls.items()}}, user, {}
    dates = gen.dates_from(w["start"], w["history"] + 1)
    fields = {"history_dates": dates[:-1], "day": dates[-1]}
    payloads = gen.api_payloads(seed, dates, w["rows"])
    fields.update(gen.failure_plan(seed, dates[-1:], w["unauthorized_per_date"],
                                   w["throttled_per_date"]))
    user = gen.write_payloads(payloads, inputs)
    fields["expected_rows"] = {ds: t.num_rows for ds, t in payloads.items()}
    return fields, user, gen.expected_landing(payloads)


# ------------------------------------------------------------------ metrics

def pass_wall(p):
    return (p["end_ms"] - p["start_ms"]) / 1e3


def steps(workload, spans, trace):
    if workload == "nightly_refresh":
        return [(r["end"] - r["start"]) / 1e3 for r in spans.of(trace, NIGHTLY_SPANS)]
    return [s for _, s in spans.dataset_dates(trace, SCHEDULE_SPANS)]


def end_to_end(workload, res, setup_s, user_bytes):
    spans = stats.Spans(res["spans"])
    passes = res["passes"]
    steady = [p for p in passes[1:] if not p["traced"]]
    step_samples = [s for p in steady for s in steps(workload, spans, p["i"])]
    st = stats.summary(step_samples)
    last = passes[-1]
    m = {"setup_s": setup_s,
         "cold_pass_cpu_s": passes[0]["cpu_s"],
         "pass_cpu_s": stats.median([p["cpu_s"] for p in steady]),
         "bytes_per_user_byte": stats.bytes_per_user_byte(last["sink_bytes"], user_bytes),
         "peak_rss_mb": res["rss_hwm_kb"] / 1024}
    # wall times and per-step latency drift too far between runs to hold
    # a 0.25 bound, so they are printed, not reported as metrics
    info = {"cold_pass_s": round(pass_wall(passes[0]), 3),
            "pass_s": round(stats.median([pass_wall(p) for p in steady]), 3),
            "steady_passes": len(steady), "step_samples": st["n"],
            "step_p50_s": round(st["p50"], 3), "step_p90_s": round(st["p90"], 3)}
    return m, info


def per_layer(res, harness, cores):
    """Per-layer numbers from the traced steady passes (median over them)."""
    spans = stats.Spans(res["spans"])
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    jobs = res.get("jobs", [])
    per_pass = []
    tables = []
    for p in traced:
        i = p["i"]
        rows = spans.of(i)
        wall = pass_wall(p)
        v = dict(harness)
        for name in SPAN_LAYERS:
            rs = [r for r in rows if r["name"] == name]
            total = sum((r["end"] - r["start"]) / 1e3 for r in rs)
            v[name + "_s"] = (sum(spans.self_s(r) for r in rs)
                              if name.startswith("jobs.") else total)
        pj = [j for j in jobs if p["start_ms"] <= j[1] <= p["end_ms"]]
        col = lambda k: sum(j[k] for j in pj)  # noqa: E731
        busy = stats.union_length([(j[1], j[2]) for j in pj if j[2] >= j[1]]) / 1e3
        dates = len(spans.dataset_dates(i, SCHEDULE_SPANS))
        src = res.get(f"sources_p{i}", {})
        v.update({
            "spark.jobs": len(pj), "spark.jobs_per_date": len(pj) / dates if dates else 0.0,
            "spark.stages": col(4), "spark.tasks": col(5),
            "spark.job_busy_s": busy, "spark.driver_gap_s": max(0.0, wall - busy),
            "spark.task_run_s": col(6), "spark.task_cpu_s": col(7), "spark.gc_s": col(8),
            "spark.core_util": col(6) / (wall * cores),
            "spark.scan_bytes": col(9), "spark.shuffle_read_bytes": col(10),
            "spark.shuffle_write_bytes": col(11), "spark.spill_bytes": col(12),
            "spark.output_bytes": col(13),
            "sink.files": p["sink_files"], "sink.bytes_on_disk": p["sink_bytes"],
            "cache.peak_storage_mb": p["peak_storage_bytes"] / 2**20,
            "cache.rdds_left_after_pass": p["rdds_left"],
            "sources.fetch_calls": src.get("fetch_calls", 0),
            "sources.pages_useful_ratio": (src["useful_pages"] / src["fetch_calls"]
                                           if src.get("fetch_calls") else 0.0),
            "sources.virtual_wait_s": src.get("virtual_wait_s", 0.0),
            "sources.fetch_self_s": src.get("fetch_self_s", 0.0),
            "sources.claims": src.get("claims", 0),
        })
        per_pass.append(v)
        tables.append(layer_table(spans, rows, pj))
    out = {k: stats.median([v[k] for v in per_pass]) for k in per_pass[0]}
    out["pass.cold_wall_s"] = pass_wall(passes[0])
    out["pass.wall_s"] = stats.median([pass_wall(p) for p in untraced])
    # each traced pass against the untraced pass after it: the first
    # steady pass still pays for JIT work left over from the cold pass
    def overhead(cost):
        after = {q["i"]: q for q in untraced}
        return stats.median([cost(p) - cost(after[p["i"] + 1])
                             for p in traced if p["i"] + 1 in after])
    out["trace.overhead_s"] = overhead(lambda p: p["cpu_s"])
    out["trace.overhead_wall_s"] = overhead(pass_wall)
    return out, tables[-1]


def layer_table(spans, rows, jobs):
    """Per span name: calls, total s, self s, attributed jobs/tasks/cpu."""
    owner = stats.attribute_jobs([j[1] for j in jobs], rows)
    by_id = {r["id"]: r for r in rows}
    agg = {}
    for r in rows:
        a = agg.setdefault(r["name"], [0, 0.0, 0.0, 0, 0, 0.0])
        a[0] += 1
        a[1] += (r["end"] - r["start"]) / 1e3
        a[2] += spans.self_s(r)
    for j, sid in zip(jobs, owner):
        if sid is not None:
            a = agg[by_id[sid]["name"]]
            a[3] += 1
            a[4] += int(j[5])
            a[5] += j[7]
    return agg


def print_table(title, agg):
    log(f"\n{title}")
    log(f"{'span':34} {'calls':>5} {'total_s':>8} {'self_s':>8} {'jobs':>5} "
        f"{'tasks':>6} {'cpu_s':>7}")
    for name, a in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        log(f"{name:34} {a[0]:5d} {a[1]:8.3f} {a[2]:8.3f} {a[3]:5d} {a[4]:6d} {a[5]:7.2f}")


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    cp = build()
    t_start = time.time()  # the run's deadline excludes a first-run build
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        return run(a, cp, work, inputs, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, cp, work, inputs, t_start):
    gen_s = []
    for _ in range(SETUP_REPS):
        t0 = time.process_time()
        fields, user, expected = stage_inputs(a.workload, a.seed, inputs)
        gen_s.append(time.process_time() - t0)
    cfg = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": bool(a.trace), "cores": CORES, "work": work, "inputs": inputs,
           "min_passes": MIN_PASSES + 2 * a.trace, "max_passes": MAX_PASSES,
           "setup_reps": SETUP_REPS, **fields}
    cfg_path, res_path = os.path.join(work, "config.json"), os.path.join(work, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = ["java", f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", "-XX:+UseSerialGC", *opens,
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           "-cp", cp, "perfbench.Harness", cfg_path, res_path]
    launch_ms = time.time() * 1e3
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd + [repr(launch_ms)], stdout=logf, stderr=logf, cwd=work)
        try:
            p.wait(timeout=max(10, RUN_DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            raise SystemExit("harness did not finish in time")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    with open(res_path) as f:
        res = json.load(f)

    # ---- output checks (outside the timed passes)
    t0 = time.perf_counter()
    fails = list(res["fails"])
    attempted = res["attempted"]
    if a.workload == "nightly_refresh":
        outs = res.get("outputs", {})
        fails += checks.oracle(inputs, outs, res.get("oracle", {}))
        attempted += len(outs)
        user_bytes = sum(user.values())
    else:
        days = set(res.get("landed_dates", []))
        expected = {k: v for k, v in expected.items() if k.split("/", 1)[1] in days}
        fails += checks.landed(res.get("landing_root", ""), expected)
        attempted += len(expected)
        user_bytes = sum(v for k, v in user.items() if k in expected)
    check_s = time.perf_counter() - t0
    for msg in fails[:20]:
        log("FAIL", msg)

    # set-up without the JVM and session start (harness.session_s): one
    # sample per run, and Spark's cost rather than the program's
    setup = {"inputs_s": stats.median(gen_s) + med(res, "api_load_s"),
             "history_land_s": med(res, "history_land_s"),
             "verify_s": med(res, "verify_s")}
    setup_s = sum(setup.values())
    m, info = end_to_end(a.workload, res, setup_s, user_bytes)
    info.update(session_s=round(res["session_s"], 3),
                **{k: round(v, 3) for k, v in setup.items()},
                passes_s=[round(pass_wall(p), 2) for p in res["passes"]],
                cpu_s=[round(p["cpu_s"], 2) for p in res["passes"]])
    log(f"\n{a.workload} seed={a.seed} passes={len(res['passes'])} "
        f"checks={check_s:.1f}s failed={len(fails)}/{attempted} {json.dumps(info)}")
    for k, unit in END_TO_END:
        log(f"  {k:22} {m[k]:12.4f} {unit}")
    if a.trace:
        harness = {"harness.session_s": res["session_s"],
                   **{"harness." + k: v for k, v in setup.items()}}
        layers, table = per_layer(res, harness, CORES)
        print_table(f"per-layer table, last traced pass ({a.workload})", table)
        log(f"tracing overhead per pass: {layers['trace.overhead_s']:+.3f} CPU s, "
            f"{layers['trace.overhead_wall_s']:+.3f} s wall")
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"spans": res["spans"], "jobs": res.get("jobs", []),
                       "passes": res["passes"]}, f)
        metrics = {k: {"value": layers[k], "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": len(fails), "metrics": metrics}))
    return 0


def med(res, key):
    """Median of a set-up phase the harness repeated; 0 if the workload
    has no such phase."""
    return stats.median(res[key]) if key in res else 0.0


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sink.bytes_on_disk":
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_util", "_per_date")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

"""Turns the harness records into the run's metrics, its correctness
verdict and its human-readable lines. Metric names and units live here;
``END_TO_END`` and ``PER_LAYER`` must match BENCHMARK.json.
"""
import math
import statistics

# cold_cpu_s: process CPU of the cold pass; warm_cpu_s: per-query Java-thread
# CPU (JIT and GC threads excluded), best warm execution, summed;
# live_drain_cpu_s: Java-thread CPU of one live backlog drain, median
END_TO_END = [("setup_s", "s"), ("cold_cpu_s", "s"), ("warm_cpu_s", "s"),
              ("live_drain_cpu_s", "s")]
# per-layer because they did not repeat within a tenth across ten runs on a
# box whose hypervisor steals CPU in episodes (README.md, Steadiness): the
# replay walls, and the live leg's figures
WALL = [("cold_s", "s"), ("warm_s", "s")]
LIVE = [("live_p50_ms", "ms"), ("live_p99_ms", "ms"), ("live_drain_eps", "events/s")]

OPS = ["Sort", "Window", "HashAggregate", "ObjectHashAggregate", "SortMergeJoin",
       "BroadcastHashJoin", "Exchange", "MapGroups", "Generate", "WholeStageCodegen"]
# operators whose SQL metrics carry output rows, and those that carry a time
ROW_OPS = ["HashAggregate", "ObjectHashAggregate", "SortMergeJoin", "BroadcastHashJoin",
           "Generate", "Exchange"]
TIMED_OPS = ["Sort", "Exchange", "WholeStageCodegen"]
# registry families (query name prefixes) the workloads run; runmode is the
# RunMode.batch replay of the live leg's BurstProc
FAMILIES = ["aug", "book", "doc", "evt", "runmode"]

PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("codegen.compile_s", "s"), ("codegen.classes", "count"),
    ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
    ("cold.build_s", "s"), ("cold.plan_s", "s"), ("cold.codegen_s", "s"), ("cold.jit_s", "s"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.delay_s", "s"), ("sched.busy_frac", "ratio"),
    ("shuffle.partitions_after_aqe", "count"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"),
] + [(f"op.{o}.n", "count") for o in OPS] + [(f"op.{o}.rows", "count") for o in ROW_OPS] + [
    (f"op.{o}.time_s", "s") for o in TIMED_OPS] + [
    ("sources.scan_rows", "count"), ("sources.scan_bytes", "bytes"),
    ("sources.scan_files", "count"), ("sources.scan_s", "s"),
] + WALL + LIVE + [(f"warm_{f}_s", "s") for f in FAMILIES] + [
    (f"warm_{f}_cpu_s", "s") for f in FAMILIES] + [
    ("streaming.cold_s", "s"),
    ("streaming.trigger_p50_ms", "ms"), ("streaming.trigger_p99_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_ms", "ms"), ("streaming.rows_per_trigger", "count"),
    ("streaming.backlog_slope_eps", "events/s"), ("streaming.gen_late_ms", "ms"),
    ("state.rows_total", "count"), ("state.mem_bytes", "bytes"),
    ("state.rows_updated", "count"), ("state.commit_ms", "ms"),
    ("oracle.check_s", "s"), ("oracle.mismatches", "count"),
    ("host.steal_frac", "ratio"), ("host.iowait_frac", "ratio"),
    ("gen.input_s", "s"), ("setup.cold_s", "s"), ("setup.cold_cpu_s", "s"),
    ("peak_rss_mb", "MB"), ("error_rate", "ratio"),
    ("trace.overhead_s", "s"), ("trace.coverage_min", "ratio"),
]

# The listener's job and planning spans, on its own clock, must cover at
# least COVER_MIN of each traced query's wall; the rest is driver self-time
# (query build, AQE re-planning, codegen, output commit), which the
# self-time table splits by child span. Those spans must also lie inside
# their query span to NEST_TOL_MS (the listener's clock counts whole ms).
COVER_MIN = 0.4
NEST_TOL_MS = 5.0


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def coverage(spans):
    """(least listener coverage of a traced query's wall, all nested,
    self-time rows)."""
    by_parent, by_qid = {}, {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
        by_qid.setdefault(s["qid"], []).append(s)
    cover, nested = 1.0, True
    layers = {}

    def add(k, v):
        layers[k] = layers.get(k, 0.0) + v / 1e3

    for q in (s for s in spans if s["name"] == "query"):
        wall = q["end"] - q["start"]
        inner = [s for s in by_qid.get(q["qid"], []) if s["name"] == "job" or s["name"].startswith("plan.")]
        nested &= all(s["start"] >= q["start"] - NEST_TOL_MS and s["end"] <= q["end"] + NEST_TOL_MS
                      for s in inner)
        if wall > 0:
            seen = _union([(max(s["start"], q["start"]), min(s["end"], q["end"])) for s in inner])
            cover = min(cover, seen / wall)
        add("query", wall)
        for k in (s for s in by_parent.get(q["id"], []) if s["name"] in ("isolate", "build", "execute")):
            dur = k["end"] - k["start"]
            within = [s for s in inner if s["start"] >= k["start"] - NEST_TOL_MS and s["start"] < k["end"]]
            plan = sum(s["end"] - s["start"] for s in within if s["name"].startswith("plan."))
            jobs = _union([(s["start"], s["end"]) for s in within if s["name"] == "job"])
            add(f"{k['name']}.self", max(0.0, dur - plan - jobs))
            add(f"{k['name']}.plan", plan)
            add(f"{k['name']}.jobs", jobs)
    return cover, nested, layers


def _union(iv):
    tot, end = 0.0, -math.inf
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if b > end:
            tot += b - max(a, end)
            end = b
    return tot


def families(best):
    """Each registry family's share of a per-query sum."""
    fam = dict.fromkeys(FAMILIES, 0.0)
    for name, v in best.items():
        f = name.split("_")[0]
        fam[f] = fam.get(f, 0.0) + v
    return fam


def summarise(recs, checks, spans, ctx):
    q = [r for r in recs if r["k"] == "query"]
    passes = [r for r in recs if r["k"] == "pass"]
    setups = [r for r in recs if r["k"] == "setup"]
    cold_setup = next(s for s in setups if s["cold"])
    live = next(r for r in recs if r["k"] == "live")
    rss = next(r for r in recs if r["k"] == "rss")
    tallies = {r["tag"]: r for r in recs if r["k"] == "tally"}
    trace = ctx["trace"]

    # warm_s: each query's best warm execution, summed (a noise burst in
    # one pass does not move it); a failed execution counts as missing
    best, best_cpu = {}, {}
    for r in q:
        if r["pass"] > 0 and r["ok"] and not (trace and r["traced"]):
            best[r["name"]] = min(best.get(r["name"], math.inf), r["wall_s"])
            best_cpu[r["name"]] = min(best_cpu.get(r["name"], math.inf), r["cpu_s"])
    cold = next(p for p in passes if p["pass"] == 0)
    fam, fam_cpu = families(best), families(best_cpu)

    e2e = {
        "setup_s": statistics.median(s["s"] for s in setups if not s["cold"]),
        "cold_cpu_s": cold["cpu_s"],
        "warm_cpu_s": sum(best_cpu.values()),
        "live_drain_cpu_s": statistics.median(live["drain_cpu_s"]),
        "cold_s": cold["s"],
        "warm_s": sum(best.values()),
        "live_p50_ms": statistics.median(live["lat_ms"]),
        "live_p99_ms": pct(live["lat_ms"], 0.99),
        "live_drain_eps": statistics.median(
            n / s for n, s in zip(live["drain_events"], live["drain_s"])),
        "setup.cold_s": cold_setup["s"],
        "setup.cold_cpu_s": cold_setup["cpu_s"],
        "peak_rss_mb": rss["vmhwm_mb"],
    }
    e2e.update({f"warm_{f}_s": v for f, v in fam.items()})
    e2e.update({f"warm_{f}_cpu_s": v for f, v in fam_cpu.items()})

    attempted = failed = 0
    failures = []
    for r in q:
        attempted += 1
        if not r["ok"]:
            failed += 1
            failures.append(f"pass {r['pass']} {r['name']}: {r['err']}")
    for name, ok, msg, _ in checks:
        attempted += 1
        if not ok:
            failed += 1
            failures.append(f"check {name}: {msg}")
    attempted += live["sent"] + 1
    failed += live["missing"] + (1 if live["mismatches"] else 0)
    if live["missing"]:
        failures.append(f"live: {live['missing']} events without output")
    if live["mismatches"]:
        failures.append(f"live: {live['mismatches']} rows differ from RunMode.batch")

    cover, nested, layers = coverage(spans) if trace else (1.0, True, {})
    if trace:
        attempted += 1
        if cover < COVER_MIN or not nested:
            failed += 1
            failures.append(f"trace: listener coverage {cover:.4f} (at least {COVER_MIN}), nested={nested}")
    e2e["error_rate"] = failed / attempted

    lines = [f"workload {ctx['workload']} seed {ctx['seed']} cores {ctx['cores']} "
             f"input sha256 {ctx['digest']}"]
    shown = END_TO_END + WALL + LIVE + [("setup.cold_s", "s"), ("setup.cold_cpu_s", "s"),
                                        ("peak_rss_mb", "MB")]
    ran = sorted({name.split("_")[0] for name in best})
    shown += [(f"warm_{f}_s", "s") for f in ran] + [(f"warm_{f}_cpu_s", "s") for f in ran]
    shown += [("error_rate", "ratio")]
    for name, unit in shown:
        lines.append(f"metric {name} {e2e[name]:.6g} {unit}")
    lines.append(f"live open-loop {live['open_events']} events at {live['rate']:g}/s, "
                 f"backlog slope {live['backlog_slope_eps']:.1f} events/s, "
                 f"generator lateness p99 {live['gen_late_p99_ms']:.3f} ms")
    lines.append("oracle check s: " + " ".join(f"{c[0]}={c[3]:.2f}" for c in checks))
    lines.append(f"host steal {ctx['host']['steal_frac']:.4f} iowait {ctx['host']['iowait_frac']:.4f}")
    lines += [f"failure {x}" for x in failures[:20]]

    if trace:
        ctx = dict(ctx, oracle_mismatches=sum(1 for c in checks if not c[1]))
        layer = dict(per_layer(tallies, passes, live, ctx, cover), **e2e)
        lines.append("self-time by span layer (s, summed over traced queries):")
        for k in sorted(layers):
            lines.append(f"  {k:<20} {layers[k]:10.3f}")
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    return {"lines": lines, "json": {"correct": failed == 0, "attempted": attempted,
                                     "failed": failed, "metrics": metrics}}


def per_layer(tallies, passes, live, ctx, cover):
    traced_warm = [p for p in passes if p["pass"] > 0 and p["traced"]]
    untraced_warm = [p for p in passes if p["pass"] > 0 and not p["traced"]]
    tw = [tallies.get(f"warm:{p['pass']}", {}) for p in traced_warm]
    cold = tallies.get("cold", {})
    run = tallies.get("run", {})

    def m(k, scale=1.0):
        return statistics.mean(t.get(k, 0.0) for t in tw) * scale if tw else 0.0

    busy = statistics.mean(
        t.get("exec.run_ms", 0.0) / 1e3 / (p["s"] * ctx["cores"]) for t, p in zip(tw, traced_warm))
    out = {
        "queries.build_s": m("queries.build_s"), "queries.build_jobs": m("queries.build_jobs"),
        "plan.analysis_s": m("plan.analysis_ms", 1e-3),
        "plan.optimization_s": m("plan.optimization_ms", 1e-3),
        "plan.planning_s": m("plan.planning_ms", 1e-3),
        "codegen.compile_s": run.get("codegen.compile_s", 0.0),
        "codegen.classes": run.get("codegen.classes", 0.0),
        "jvm.jit_s": m("jvm.jit_s"), "jvm.gc_s": m("jvm.gc_s"),
        "cold.build_s": cold.get("queries.build_s", 0.0),
        "cold.plan_s": sum(cold.get(f"plan.{p}_ms", 0.0) for p in
                           ("analysis", "optimization", "planning")) / 1e3,
        "cold.codegen_s": cold.get("codegen.compile_s", 0.0),
        "cold.jit_s": cold.get("jvm.jit_s", 0.0),
        "sched.jobs": m("sched.jobs"), "sched.stages": m("sched.stages"),
        "sched.tasks": m("sched.tasks"), "sched.delay_s": m("sched.delay_ms", 1e-3),
        "sched.busy_frac": busy,
        "shuffle.partitions_after_aqe": m("shuffle.partitions_after_aqe"),
        "exec.run_s": m("exec.run_ms", 1e-3), "exec.cpu_s": m("exec.cpu_ns", 1e-9),
        "shuffle.write_bytes": m("shuffle.write_bytes"), "shuffle.read_bytes": m("shuffle.read_bytes"),
        "shuffle.spill_bytes": m("shuffle.spill_bytes"),
        "sources.scan_rows": m("sources.scan_rows"), "sources.scan_bytes": m("sources.scan_bytes"),
        "sources.scan_files": m("sources.scan_files"), "sources.scan_s": m("sources.scan_ms", 1e-3),
        "streaming.cold_s": live["cold_s"],
        "streaming.trigger_p50_ms": statistics.median(live["trigger_ms"]),
        "streaming.trigger_p99_ms": pct(live["trigger_ms"], 0.99),
        "streaming.add_batch_ms": live["add_batch_ms"],
        "streaming.query_planning_ms": live["query_planning_ms"],
        "streaming.wal_commit_ms": live["wal_commit_ms"],
        "streaming.commit_ms": live["commit_ms"],
        "streaming.rows_per_trigger": live["rows_per_trigger"],
        "streaming.backlog_slope_eps": live["backlog_slope_eps"],
        "streaming.gen_late_ms": live["gen_late_p99_ms"],
        "state.rows_total": live["state_rows_total"], "state.mem_bytes": live["state_mem_bytes"],
        "state.rows_updated": live["state_rows_updated"], "state.commit_ms": live["state_commit_ms"],
        "oracle.check_s": ctx["check_s"], "oracle.mismatches": ctx["oracle_mismatches"],
        "host.steal_frac": ctx["host"]["steal_frac"], "host.iowait_frac": ctx["host"]["iowait_frac"],
        "gen.input_s": ctx["gen_s"],
        "trace.overhead_s": (statistics.median(p["s"] for p in traced_warm) -
                             statistics.median(p["s"] for p in untraced_warm))
        if traced_warm and untraced_warm else 0.0,
        "trace.coverage_min": cover,
    }
    for o in OPS:
        out[f"op.{o}.n"] = m(f"op.{o}.n")
    for o in ROW_OPS:
        out[f"op.{o}.rows"] = m(f"op.{o}.rows")
    for o in TIMED_OPS:
        out[f"op.{o}.time_s"] = m(f"op.{o}.time_s")
    return out

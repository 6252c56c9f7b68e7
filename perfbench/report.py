"""Turn a run's JVM results into the benchmark's output line: end-to-end
metrics (untraced runs) or per-layer metrics (traced runs), with the output
checks of every JVM deciding `correct` and `failed`."""
import datetime as dt
import sys
from collections import Counter

import check
import stats

QUERIES = ("q01_agg_pricing", "q02_join_agg_topk", "q03_star_join", "q07_window_rank",
           "q21_count_distinct", "p01_exact_dedup", "p05_cosine_topk", "p07_minhash_lsh",
           "p12_ann_lsh", "p14_dup_clusters", "p18_incremental_dedup")
NODES = ("order_lines", "revenue_7d", "status_summary")

END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"),
              ("throughput_per_s", "1/s"), ("ok_frac", "ratio"), ("live_heap_mb", "MB"),
              ("recover_s", "s")]

PER_LAYER = [
    ("routing.receive_ms", "ms/event"), ("routing.probe_calls_per_event", "count/event"),
    ("routing.triggers_per_event", "count/event"), ("routing.pending_nodes_peak", "count"),
    ("routing.expired_nodes", "count/round"), ("routing.zombies_eliminated", "count/round"),
    ("routing.sweep_ms", "ms/sweep"), ("routing.alloc_kb_per_event", "KiB/event"),
    ("routing.wal.append_ms", "ms/append"), ("routing.wal.bytes_per_event", "B/event"),
    ("routing.wal.compact_ms", "ms/compaction"), ("dimension.declare_ms_per_route", "ms/route"),
    ("routing.decide_ms", "ms/op"), ("app.feedback_ms", "ms/op"), ("app.self_ms", "ms/op"),
    ("routing.wal_bytes_per_event", "B/event"), ("fs.meta_ops_per_output", "count/output"),
    ("fs.creates_per_output", "count/output"),
] + [(f"compute.exec_ms.{n}", "ms/exec") for n in NODES] + [
    ("compute.prewrite_ms", "ms/exec"), ("compute.write_ms", "ms/exec"),
    ("compute.plan_ms", "ms/exec"), ("compute.jobs_per_exec", "count/exec"),
    ("compute.in_job_ms", "ms/exec"), ("compute.driver_gap_ms", "ms/exec"),
    ("compute.task_ms", "ms/exec"), ("compute.bytes_written_per_exec", "B/exec"),
] + [(f"queries.{q}.{m}", u) for q in QUERIES
     for m, u in (("wall_ms", "ms"), ("jobs", "count"), ("driver_gap_ms", "ms"),
                  ("shuffle_bytes", "B"))] + [
    ("queries.plan_ms", "ms/query"), ("queries.in_job_ms", "ms/query"),
    ("queries.task_ms", "ms/query"), ("queries.input_bytes", "B/query"),
    ("queries.spill_bytes", "B/query"),
    ("jvm.gc_ms", "ms/op"), ("jvm.alloc_mb", "MB/op"),
    ("trace_overhead_frac", "ratio"), ("trace.path_coverage", "ratio"),
    ("host.canary_ms", "ms"), ("host.other_cores", "cores"),
]
COVERAGE_TOLERANCE = 0.05
# Ops a run of the default length (BENCHMARK.json run_seconds) completes;
# whole landing blocks, query sweeps and storm rounds make the counts exact.
# latency_tail_ms is the percentile these give, held fixed whatever a later
# run's count.
OPS_AT_DEFAULT = {"pipeline_daily": 8, "kernels_sf01": 11, "routing_storm": 8445}
TAIL_PCT = {w: stats.tail_percentile(n) for w, n in OPS_AT_DEFAULT.items()}


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def _jobs_in(jobs, lo, hi):
    """Jobs that started inside [lo, hi] (listener times are whole ms)."""
    return [j for j in jobs if lo - 1 <= j["start"] <= hi + 1 and j["end"] is not None]


def _route_jobs(jobs, route, lo, hi):
    """Jobs an execution of `route` ran (job group `graft-<route>-<uuid>`)
    that started inside [lo, hi]."""
    return [j for j in _jobs_in(jobs, lo, hi) if j["group"].startswith(f"graft-{route}-")]


def _job_iv(jobs):
    return [(j["start"], j["end"]) for j in jobs]


# ---- output checks -------------------------------------------------------

def _check_kernels(res, input_dir):
    e = res["extra"]
    bad, problems = check.kernels(input_dir, e["check_dir"], e["oracles"])
    failed = sum(1 for q in e["order"] if q in bad)
    return failed, problems


def _check_pipeline(res, input_dir):
    e = res["extra"]
    landed = [tuple(x) for x in e["landed"]]
    expected, bad, problems = check.pipeline(input_dir, f"{e['root']}/app", landed)
    warm = check.pipeline_expected(landed[:e["warmup_landings"]])["status_summary"]
    want = expected["status_summary"] - warm
    got = set(e["op_days"])
    if len(got) != len(e["op_days"]):
        problems.append("a status_summary partition completed twice")
    if e["recover_reran"]:
        problems.append(f"recover() re-ran committed work: {e['recover_reran']}")
    failed = len(want ^ got) + sum(1 for d in want & got if check.pipeline_op_failed(d, bad))
    return len(want | got), failed, problems


def _check_storm(res, truth):
    e = res["extra"]
    first = dt.date(2024, 1, 1)
    want = Counter((r, (first + dt.timedelta(days=d)).isoformat()) for r, d in truth)
    bad_outcomes, problems = set(), []
    for i, fired in enumerate(e["outcomes"]):
        got = Counter(tuple(x) for x in fired)
        if got != want:
            bad_outcomes.add(i)
            problems.append(f"round outcome {i}: {sum((want - got).values())} expected "
                            f"executions missing, {sum((got - want).values())} unexpected")
    # every timed round's WAL is recovered after the round
    for k, recoveries in zip(e["round_outcome"], e["recovered"]):
        done = {tuple(x) for x in e["outcomes"][k]}
        for ctxs in recoveries:
            again = {tuple(x) for x in ctxs} & done
            if again:
                bad_outcomes.add(k)
                problems.append(f"recover() re-surfaced {len(again)} executions "
                                f"whose outputs completed")
    failed = sum(e["events_per_round"] for k in e["round_outcome"] if k in bad_outcomes)
    return failed, problems


# ---- per-layer metrics ---------------------------------------------------

def _pipeline_layers(res, out):
    spans, jobs, sqls, plans = res["spans"], res["jobs"], res["sqls"], res["plans"]
    c = res["counters"]
    execs = [s for s in spans if s[0].startswith("compute.exec.")]
    for n in NODES:
        out[f"compute.exec_ms.{n}"] = _mean(s[2] - s[1] for s in execs
                                            if s[0] == f"compute.exec.{n}")
    pre, wr, plan, njobs, injob, gap, task, written = ([] for _ in range(8))
    for name, b, e, _, _ in execs:
        js = _route_jobs(jobs, name[len("compute.exec."):], b, e)
        w = sorted(q[0] for q in sqls if q[1] and b - 1 <= q[0] <= e + 1)
        first_write = max(b, min(w[0], e)) if w else e
        pre.append(first_write - b)
        wr.append(e - first_write)
        plan.append(sum(p[1] for p in plans if b - 1 <= p[0] <= e + 1))
        njobs.append(len(js))
        injob.append(stats.covered(_job_iv(js), b, e))
        gap.append(stats.driver_gap((b, e), _job_iv(js)))
        task.append(sum(j["task_ms"] for j in js))
        written.append(sum(j["written_bytes"] for j in js))
    for k, v in (("prewrite_ms", pre), ("write_ms", wr), ("plan_ms", plan),
                 ("jobs_per_exec", njobs), ("in_job_ms", injob), ("driver_gap_ms", gap),
                 ("task_ms", task), ("bytes_written_per_exec", written)):
        out[f"compute.{k}"] = _mean(v)
    # per traced op: the call spans of its landing, clipped to the op's
    # window, give the decide / feed-back / self split and the coverage
    by_step = {}
    for i, s in enumerate(spans):
        by_step.setdefault(s[4], []).append((i, s))
    decide, feedback, selfms, coverage = [], [], [], []
    for t0, t1, step in res["extra"]["op_windows"]:
        mine = by_step.get(step, [])
        index = {i: k for k, (i, _) in enumerate(mine)}
        tree = [(s[1], s[2], index.get(s[3], -1)) for _, s in mine]
        # Spark jobs hang under the execution that ran them, merged where
        # they overlap so that concurrent jobs count once
        for k, (_, s) in enumerate(mine):
            if s[0].startswith("compute.exec."):
                js = _route_jobs(jobs, s[0][len("compute.exec."):], s[1], s[2])
                tree += [(a, b, k) for a, b in stats.union(_job_iv(js))]
        coverage.append(stats.tree_self_total(tree, t0, t1) / (t1 - t0))

        def clip(name):
            return sum(max(0.0, min(s[2], t1) - max(s[1], t0)) for _, s in mine if s[0] == name)
        decide.append(clip("routing.decide"))
        feedback.append(clip("app.feedback"))
        selfms.append(clip("app.self"))
    out["routing.decide_ms"] = _mean(decide)
    out["app.feedback_ms"] = _mean(feedback)
    out["app.self_ms"] = _mean(selfms)
    # the op whose spans account for its wall time worst
    out["trace.path_coverage"] = max(coverage, key=lambda x: abs(x - 1)) if coverage else 0.0
    out["routing.wal_bytes_per_event"] = _ratio(c.get("routing.wal_bytes", 0),
                                                c.get("pipeline.events", 0))
    out["fs.meta_ops_per_output"] = _ratio(c.get("fs.meta_ops", 0), c.get("pipeline.outputs", 0))
    out["fs.creates_per_output"] = _ratio(c.get("fs.creates", 0), c.get("pipeline.outputs", 0))
    return [] if all(abs(x - 1) <= COVERAGE_TOLERANCE for x in coverage) else [
        f"traced blocking-path self times cover {out['trace.path_coverage']:.3f} of an op's wall"]


def _kernel_layers(res, out):
    jobs, plans = res["jobs"], res["plans"]
    per = {q: [] for q in QUERIES}
    for name, b, e, _, _ in res["spans"]:
        q = name[len("query."):]
        js = _jobs_in(jobs, b, e)
        per[q].append({"wall": e - b, "jobs": len(js), "gap": stats.driver_gap((b, e), _job_iv(js)),
                       "shuffle": sum(j["shuffle_bytes"] for j in js),
                       "plan": sum(p[1] for p in plans if b - 1 <= p[0] <= e + 1),
                       "in_job": stats.covered(_job_iv(js), b, e),
                       "task": sum(j["task_ms"] for j in js),
                       "input": sum(j["input_bytes"] for j in js),
                       "spill": sum(j["spill_bytes"] for j in js)})
    for q, rows in per.items():
        for m, k in (("wall_ms", "wall"), ("jobs", "jobs"), ("driver_gap_ms", "gap"),
                     ("shuffle_bytes", "shuffle")):
            out[f"queries.{q}.{m}"] = _mean(r[k] for r in rows)
    rows = [r for rs in per.values() for r in rs]
    for m, k in (("plan_ms", "plan"), ("in_job_ms", "in_job"), ("task_ms", "task"),
                 ("input_bytes", "input"), ("spill_bytes", "spill")):
        out[f"queries.{m}"] = _mean(r[k] for r in rows)
    return []


def _storm_layers(res, out):
    c = res["counters"]
    ev, rounds = c.get("events", 0), c.get("rounds", 0)
    out["routing.receive_ms"] = _ratio(c.get("routing.receive_ms", 0), ev)
    out["routing.probe_calls_per_event"] = _ratio(c.get("routing.probe_calls", 0), ev)
    out["routing.triggers_per_event"] = _ratio(c.get("routing.triggers", 0), ev)
    out["routing.pending_nodes_peak"] = _ratio(c.get("routing.pending_nodes_peak", 0), rounds)
    out["routing.expired_nodes"] = _ratio(c.get("routing.expired_nodes", 0), rounds)
    out["routing.zombies_eliminated"] = _ratio(c.get("routing.zombies_eliminated", 0), rounds)
    out["routing.sweep_ms"] = _ratio(c.get("routing.sweep_ms", 0), c.get("routing.sweeps", 0))
    out["routing.alloc_kb_per_event"] = _ratio(c.get("routing.alloc_kb", 0), ev)
    out["routing.wal.append_ms"] = _ratio(c.get("routing.wal.append_ms", 0),
                                          c.get("routing.wal.appends", 0))
    out["routing.wal.bytes_per_event"] = _ratio(c.get("routing.wal.bytes", 0), ev)
    out["routing.wal.compact_ms"] = _ratio(c.get("routing.wal.compact_ms", 0),
                                           c.get("routing.wal.compacts", 0))
    out["dimension.declare_ms_per_route"] = _ratio(c.get("dimension.declare_ms", 0),
                                                   c.get("dimension.routes", 0))
    return []


# ---- the output line -----------------------------------------------------

def _check(workload, res, truth, input_dir):
    """(attempted, failed, problems) of one JVM's ops."""
    attempted = len(res["op_ms"])
    if workload == "kernels_sf01":
        failed, problems = _check_kernels(res, input_dir)
    elif workload == "pipeline_daily":
        attempted, failed, problems = _check_pipeline(res, input_dir)
    else:
        failed, problems = _check_storm(res, truth)
    if attempted < 1:
        return 1, 1, problems + ["no op completed"]
    return attempted, failed, problems


def _recover_s(workload, recovers):
    """The median recovery, except on routing_storm: its recoveries are
    about a second of single-thread work each, whose speed follows the
    host's load from one second to the next, and the mean of the ones that
    follow its rounds is steadier from run to run than their median."""
    if workload == "routing_storm":
        return sum(recovers) / len(recovers)
    return stats.median(recovers)


def build(workload, runs, truth, input_dir, host):
    """`runs` holds the timed JVM's result and, in a traced run, the traced
    JVM's after it; the outputs of both are checked."""
    attempted, failed, problems = 0, 0, []
    for res in runs:
        a, f, p = _check(workload, res, truth, input_dir)
        attempted, failed, problems = attempted + a, failed + f, problems + p
    base, res = runs[0], runs[-1]
    ops = res["op_ms"]
    if len(runs) > 1:
        out = {name: 0.0 for name, _ in PER_LAYER}
        problems += {"pipeline_daily": _pipeline_layers, "kernels_sf01": _kernel_layers,
                     "routing_storm": _storm_layers}[workload](res, out)
        if ops and base["op_ms"]:
            out["trace_overhead_frac"] = stats.median(ops) / stats.median(base["op_ms"]) - 1
        out["jvm.gc_ms"] = _ratio(res["gc_ms"], len(ops))
        out["jvm.alloc_mb"] = _ratio(res["alloc_mb"], len(ops))
        out["host.canary_ms"] = host["canary_ms"]
        out["host.other_cores"] = host["other_cores"]
        units = dict(PER_LAYER)
    else:
        out = {"setup_s": res["setup_s"],
               "latency_p50_ms": stats.median(ops),
               "latency_tail_ms": stats.percentile(ops, TAIL_PCT[workload]),
               "throughput_per_s": len(ops) / res["timed_s"],
               "ok_frac": 1.0 - stats.failed_frac(attempted, failed),
               "live_heap_mb": res["live_heap_mb"],
               "recover_s": _recover_s(workload, res["recovers"])}
        units = dict(END_TO_END)
    for p in problems:
        print(f"perfbench: check: {p}", file=sys.stderr)
    print(f"perfbench: {workload}: {len(ops)} ops, {attempted} attempted, {failed} failed, "
          f"tail p{TAIL_PCT[workload]}", file=sys.stderr)
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()}}

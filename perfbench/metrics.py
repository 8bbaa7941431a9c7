"""Turns one harness result (raw operations, Spark jobs and spans) into the
benchmark's metrics and output checks.

Pure functions over the parsed result, so the rules are unit-tested
without a JVM (see test_metrics.py).
"""
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10

FAMILIES = ("relational", "text", "dedup", "similarity", "domain", "curation", "other")
DAG_STAGES = ("detections", "poses", "grouped", "rays", "hits", "summary")
SPAN_LAYERS = ("workload", "op", "queries", "catalyst", "action", "dag_stage", "job")


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1) of `values`, or None when fewer
    than MIN_BEYOND samples lie above its rank."""
    xs = sorted(values)
    rank = math.ceil(q * len(xs))
    if not xs or len(xs) - rank < MIN_BEYOND:
        return None
    return xs[max(rank, 1) - 1]


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
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
    """Per-layer self time: each span's duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        covered = union_ms(kids, s["start_ms"], s["end_ms"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end_ms"] - s["start_ms"]) - covered
    return out


def job_spans(ops, jobs, spans):
    """Spark jobs as leaf spans: each job hangs under the span of the
    operation whose job group it ran in, or under that operation's DAG
    stage / builder / action span when one of those contains it."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    op_span = {o["group"]: o["span"] for o in ops if o["span"]}
    next_id = max([s["id"] for s in spans], default=0) + 1
    out = []
    for j in jobs:
        parent = op_span.get(j["group"])
        if parent is None or j["end_ms"] < 0:
            continue
        for c in by_parent.get(parent, []):
            if j["dag_stage"] and c["layer"] == "dag_stage":
                if c["name"] == j["dag_stage"]:
                    parent = c["id"]
                    break
            elif c["start_ms"] <= j["start_ms"] <= c["end_ms"]:
                parent = c["id"]
                break
        out.append({"id": next_id, "parent": parent, "name": "job-%d" % j["id"],
                    "layer": "job", "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
        next_id += 1
    return out


def is_tick(op):
    return op["name"] == "tick"


def op_failures(result, expected, seed):
    """Names the reason each failed operation failed (None when it passed).
    An operation fails when it errors, when its output check fails, or when
    a reuse tick rebuilds a stage."""
    facts = result["facts"]
    workload = result["meta"]["workload"]
    reasons = []
    dag_outputs = iter(facts.get("outputs", []))
    for op in result["ops"]:
        why = None
        # One output dir per street_dag operation, whether it errored or not.
        out = next(dag_outputs, None) if workload == "street_dag" else None
        if op["error"] is not None:
            why = "error: " + op["error"]
        elif is_tick(op):
            rebuilt = [s["name"] for s in op["stages"] if not s["reused"]]
            if rebuilt:
                why = "tick rebuilt " + ",".join(rebuilt)
            else:
                initial = {s["name"]: s["rows"] for s in facts["initial_stages"]}
                drift = [s["name"] for s in op["stages"] if s["rows"] != initial.get(s["name"])]
                if drift:
                    why = "tick rows differ from the first materialization: " + ",".join(drift)
        elif workload == "street_dag":
            why = dag_problem(op["stages"], out, facts, expected[workload], seed)
        elif workload == "query_sweep":
            why = query_problem(op, expected, seed)
        reasons.append(why)
    return reasons


def dag_problem(stages, out, facts, exp, seed):
    """Checks one materialization of the street-level DAG; `out` is None
    when its summary table was never committed."""
    if out is None:
        return "no committed summary table"
    rows = {s["name"]: s["rows"] for s in stages}
    if seed == 0:
        if rows != exp["stage_rows"]:
            return "stage rows %s, expected %s" % (rows, exp["stage_rows"])
        if out["summary_checksum"] != exp["summary_checksum"]:
            return "summary checksum %s, expected %s" % (out["summary_checksum"],
                                                         exp["summary_checksum"])
        return None
    # Any seed: invariants of the pipeline over its own input.
    checks = [
        ("detections == lineitem rows", rows.get("detections") == facts["lineitem_rows"]),
        ("poses == panoramas", rows.get("poses") == facts["panoramas"]),
        ("grouped == detections", rows.get("grouped") == rows.get("detections")),
        ("hits == rays > 0", rows.get("hits") == rows.get("rays") and rows.get("rays", 0) > 0),
        ("summary rows == summary table", rows.get("summary") == out["summary_rows"]),
        ("summary <= poses", out["summary_rows"] <= rows.get("poses", -1)),
        ("summary n_rays total == hits", out["summary_rays"] == rows.get("hits")),
        ("summary n_hits <= n_rays", out["summary_hits"] <= out["summary_rays"]),
    ]
    bad = [name for name, ok in checks if not ok]
    return "invariants failed: " + "; ".join(bad) if bad else None


def query_problem(op, expected, seed):
    exp = expected["query_sweep"]
    want = exp["seed0_rows"].get(op["name"])
    if want is None:
        return "no expected row count for " + op["name"]
    if op["rows"] is None:
        return "no committed row count"
    if (seed == 0 or op["name"] in exp["seed_invariant"]) and op["rows"] != want:
        return "rows %d, expected %d" % (op["rows"], want)
    return None


def setup_problems(result, expected, seed):
    """Checks of work done in set-up (the tick workload's first
    materialization), which no timed operation covers."""
    facts = result["facts"]
    if result["meta"]["workload"] != "dag_tick":
        return []
    stages = [{"name": s["name"], "rows": s["rows"]} for s in facts["initial_stages"]]
    why = dag_problem(stages, facts["outputs"][0], facts, expected["dag_tick"], seed)
    return [why] if why else []


def stored_bytes(result):
    facts = result["facts"]
    if "input_table_bytes" in facts:
        return sum(facts["input_table_bytes"].values())
    committed = [sum(o["table_bytes"].values()) for o in facts["outputs"] if o is not None]
    return statistics.median(committed) if committed else 0.0


def end_to_end(result):
    """The metrics a user of the system sees."""
    return {
        "setup_s": (result["setup"]["total_ms"] / 1000.0, "s"),
        "wall_s": (statistics.median(result["round_ms"]) / 1000.0, "s"),
        "stored_mb": (stored_bytes(result) / 2**20, "MB"),
    }


def latency_report(ops, failures):
    """Per-operation latency of the operations that passed, with the
    sample count; percentiles without ten samples beyond them are None."""
    secs = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o, f in zip(ops, failures) if f is None]
    return {"n": len(secs), "op_p50_s": percentile(secs, 0.5), "op_p90_s": percentile(secs, 0.9),
            "ops_failed_frac": sum(f is not None for f in failures) / max(len(ops), 1)}


def per_layer(result):
    """Per-layer numbers from a traced run, per round of operations.
    `result["spans"]` must already hold the job spans (job_spans)."""
    rounds = len(result["round_ms"])
    ops = result["ops"]
    groups = {o["group"]: o for o in ops}
    jobs = [j for j in result["jobs"] if j["group"] in groups]
    setup = result["setup"]
    workload = result["meta"]["workload"]
    m = {}

    def put(name, value, per_round=True):
        m[name] = value / rounds if per_round else value

    for part in ("session_ms", "warmup_ms", "input_tables_ms", "dag_initial_ms",
                 "session_cache_build_ms", "session_cache_builds"):
        put("setup." + part, setup.get(part, 0.0), False)

    def jobs_of(op_group):
        return [j for j in jobs if j["group"] == op_group]

    def total(key, js=jobs):
        return float(sum(j[key] for j in js))

    query_ops = [o for o in ops if o["family"] != "dag"]
    build_jobs = 0
    nojob = 0.0
    for o in ops:
        js = jobs_of(o["group"])
        build_end = o["start_ms"] + o["build_ms"]
        build_jobs += sum(1 for j in js if j["start_ms"] <= build_end)
        covered = union_ms([(j["start_ms"], j["end_ms"]) for j in js], o["start_ms"], o["end_ms"])
        nojob += (o["end_ms"] - o["start_ms"]) - covered
    put("queries.build_ms", sum(o["build_ms"] for o in query_ops))
    put("queries.build_jobs", float(build_jobs if query_ops else 0))
    put("queries.action_ms", sum(o["action_ms"] for o in query_ops))
    put("catalyst.plan_ms", sum(o["plan_ms"] for o in query_ops))
    put("driver.nojob_ms", nojob)
    put("spark.jobs", float(len(jobs)))
    put("spark.stages", total("stages"))
    put("spark.tasks", total("tasks"))
    for f in FAMILIES:
        fam = [o for o in query_ops if o["family"] == f]
        fam_jobs = [j for o in fam for j in jobs_of(o["group"])]
        put("family.%s.build_ms" % f, sum(o["build_ms"] for o in fam))
        put("family.%s.action_ms" % f, sum(o["action_ms"] for o in fam))
        put("family.%s.jobs" % f, float(len(fam_jobs)))
        put("family.%s.executor_cpu_ms" % f, total("cpu_ms", fam_jobs))
    put("executor.run_ms", total("run_ms"))
    put("executor.cpu_ms", total("cpu_ms"))
    put("executor.gc_ms", total("gc_ms"))
    put("shuffle.read_bytes", total("shuffle_read_bytes"))
    put("shuffle.write_bytes", total("shuffle_write_bytes"))
    put("spill.disk_bytes", total("spill_disk_bytes"))
    put("sources.input_bytes", total("input_bytes"))
    put("sources.input_records", total("input_records"))
    put("session_cache.build_ms", float(sum(o["cache_build_ms"] for o in ops)))
    put("session_cache.builds", float(sum(o["cache_builds"] for o in ops)))

    dag_ops = [o for o in ops if o["family"] == "dag"]
    stage_ms = {s: 0.0 for s in DAG_STAGES}
    for o in dag_ops:
        for s in o["stages"]:
            stage_ms[s["name"]] += s["ms"]
    deps = result["facts"].get("deps", {})
    for s in DAG_STAGES:
        sj = [j for j in jobs if j["dag_stage"] == s]
        put("dag.%s.ms" % s, stage_ms[s])
        put("dag.%s.executor_cpu_ms" % s, total("cpu_ms", sj))
        put("dag.%s.bytes_written" % s, total("output_bytes", sj))
    put("dag.critical_path_ms", sum(critical_path_ms(
        {s["name"]: s["ms"] for s in o["stages"]}, deps) for o in dag_ops))
    grouping = result["grouping"]
    put("grouping.pairs_enumerated", float(grouping["pairs_enumerated"]))
    put("grouping.max_group_boxes", float(grouping["max_group_boxes"]), False)
    put("grouping.dense_groups", float(grouping["dense_groups"]))
    ticks = [o for o in dag_ops if is_tick(o)]
    tick_stages = [s for o in ticks for s in o["stages"]]
    put("dag.tick.jobs", float(sum(len(jobs_of(o["group"])) for o in ticks)))
    put("dag.tick.reused_ratio",
        sum(s["reused"] for s in tick_stages) / len(tick_stages) if tick_stages else 0.0, False)
    put("dag.tick.max_stage_ms", float(max((s["ms"] for s in tick_stages), default=0)), False)

    spans = result["spans"]
    selfs = self_times(spans)
    for layer in SPAN_LAYERS:
        put("self.%s_ms" % layer, selfs.get(layer, 0.0))
    put("jvm.rss_peak_mb", result["rss_peak_mb"], False)
    put("trace.spans", float(len(spans)), False)
    # The traced run's wall_s; against the untraced runs' wall_s it gives
    # the tracing overhead.
    put("trace.wall_s", statistics.median(result["round_ms"]) / 1000.0, False)
    return m


def critical_path_ms(stage_ms, deps):
    """Longest dependency chain through the stages, by stage time."""
    memo = {}

    def finish(s):
        if s not in memo:
            memo[s] = stage_ms.get(s, 0.0) + max((finish(d) for d in deps.get(s, [])), default=0.0)
        return memo[s]
    return max((finish(s) for s in stage_ms), default=0.0)

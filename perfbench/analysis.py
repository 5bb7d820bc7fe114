"""Offline analysis of one benchmark run's record file.

The runner JVM (perfbench/src/perfbench/Runner.scala) writes JSON lines:
set-up cycles, one record per op, pass boundaries, JVM figures and, in a
traced run, raw listener events. This module checks each op against the
committed expected outputs, computes the end-to-end metrics, and in a traced
run rebuilds the span tree

    workload pass -> op -> {construct, action} -> [stream batch ->] job -> stage

to report each layer's self time and the per-layer metrics. Everything here
is pure Python over plain data, so it is unit-tested without a JVM.
"""

import statistics
from collections import defaultdict

MB = float(1 << 20)


# --------------------------------------------------------------- statistics

def quantile(values, q):
    """The q-quantile (0 <= q <= 1) with linear interpolation between the
    closest ranks, as numpy's default and Python's `statistics` 'inclusive'
    method compute it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


P90_MIN_SAMPLES = 100


def latency_summary(samples):
    """Sample count, p50 and, only from 100 samples on, p90."""
    out = {"n": len(samples), "p50": quantile(samples, 0.5) if samples else None,
           "p90": None}
    if len(samples) >= P90_MIN_SAMPLES:
        out["p90"] = quantile(samples, 0.9)
    return out


# --------------------------------------------------------------- intervals

def union_length(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of [start, end) intervals, each clipped to
    [lo, hi]."""
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
    """Self time of every span: its duration minus the union of its
    children's intervals, clipped to the span. `spans` maps id ->
    {"parent", "start", "end"}; the self times of a tree sum to its root's
    duration."""
    children = defaultdict(list)
    for sid, s in spans.items():
        if s["parent"] in spans:
            children[s["parent"]].append((s["start"], s["end"]))
    return {sid: max(0.0, s["end"] - s["start"])
            - union_length(children[sid], s["start"], s["end"])
            for sid, s in spans.items()}


# --------------------------------------------------------------- correctness

def check_op(rec, expected):
    """None if the op's outputs match `expected`, else why not."""
    if rec.get("error"):
        return "threw " + rec["error"]
    if expected is None:
        return "no expected output is committed for this op"
    if "rows" in expected and rec.get("rows") != expected["rows"]:
        return "returned %s rows, expected %s" % (rec.get("rows"), expected["rows"])
    if expected.get("digest") is not None and rec.get("digest") != expected["digest"]:
        return "digest %s, expected %s" % (rec.get("digest"), expected["digest"])
    params = rec.get("params") or {}
    for k, v in (expected.get("params") or {}).items():
        if params.get(k) != v:
            return "param %s=%s, expected %s" % (k, params.get(k), v)
    return None


def judge(records, ops, expected):
    """Per-op verdicts over every pass. An op of the pinned list that a pass
    never reported counts as a failure of that pass."""
    op_recs = [r for r in records if r["kind"] == "op"]
    passes = sorted({r["pass"] for r in records if r["kind"] == "pass"})
    verdicts = []
    for p in passes:
        seen = set()
        for r in (r for r in op_recs if r["pass"] == p):
            seen.add(r["name"])
            why = check_op(r, expected.get(r["name"]))
            verdicts.append(dict(r, ok=why is None, why=why))
        for name in ops:
            if name not in seen:
                verdicts.append({"kind": "op", "pass": p, "name": name,
                                 "construct_s": 0.0, "action_s": 0.0,
                                 "ok": False, "why": "never ran"})
    return verdicts


def latency(v):
    return v["construct_s"] + v["action_s"]


# --------------------------------------------------------------- end to end

HARNESS_STAGES = {
    "ny_taxi": ("t_readcsv", "queries"),
    "ny_taxi_ml": ("load_data", "etl", "train"),
    "plasticc": ("t_readcsv", "t_etl", "t_train_test_split", "t_ml"),
}
HARNESS_METRICS = ["harness.etl_s", "harness.ml_s"] + [
    "harness.%s.%s_s" % (b, st) for b, sts in HARNESS_STAGES.items() for st in sts]


def harness_split(name, m):
    """The reference's `-no_ml` split of the timedf stage times: (etl_s,
    ml_s, per-stage layer metrics) for benchmark `name`'s measurements `m`."""
    if name == "ny_taxi":
        stages = {"harness.ny_taxi.t_readcsv_s": m.get("total.t_readcsv", 0.0),
                  "harness.ny_taxi.queries_s": sum(
                      v for k, v in m.items() if k.startswith("total.Query"))}
        return m.get("total", 0.0), 0.0, stages
    if name == "ny_taxi_ml":
        load = m.get("total.load_data", 0.0)
        etl = sum(m.get("total." + k, 0.0) for k in
                  ("filter_df", "feature_engineering", "split_time"))
        train = m.get("total.train_time", 0.0)
        stages = {"harness.ny_taxi_ml.load_data_s": load,
                  "harness.ny_taxi_ml.etl_s": etl,
                  "harness.ny_taxi_ml.train_s": train}
        return load + etl, train, stages
    if name == "plasticc":
        stages = {"harness.plasticc.%s_s" % k: m.get("total." + k, 0.0)
                  for k in ("t_readcsv", "t_etl", "t_train_test_split", "t_ml")}
        etl = sum(stages["harness.plasticc.%s_s" % k]
                  for k in ("t_readcsv", "t_etl", "t_train_test_split"))
        return etl, stages["harness.plasticc.t_ml_s"], stages
    return 0.0, 0.0, {}


COLD_PASSES = 1
MIN_MEASURED_PASSES = 3


def measured_passes(verdicts):
    """The passes the metrics come from: all but the first, cold pass, which
    warms the JVM, the code generator's cache and the file cache on the
    client's own ops."""
    return sorted({v["pass"] for v in verdicts if v["pass"] >= COLD_PASSES})


def pass_walls(verdicts, passes):
    """Per pass, the summed latency of the ops that passed."""
    return [sum(latency(v) for v in verdicts if v["pass"] == p and v["ok"])
            for p in passes]


def end_to_end(records, verdicts):
    """The untraced metrics. `setup_s` runs from the JVM's launch to a ready,
    warmed-up session. `wall_s` is the median over the measured passes of
    one pass's summed op latency; `op_p50_s` pools the op latencies of all
    measured passes. Failed ops are left out of both."""
    setup = next(r for r in records if r["kind"] == "setup")
    jvm = next(r for r in records if r["kind"] == "jvm")
    passes = measured_passes(verdicts)
    ok = [latency(v) for v in verdicts if v["pass"] in passes and v["ok"]]
    lat = latency_summary(ok)
    return {
        "setup_s": setup["seconds"],
        "wall_s": statistics.median(pass_walls(verdicts, passes)),
        "op_p50_s": lat["p50"] if lat["p50"] is not None else 0.0,
        "peak_rss_mb": jvm["peak_rss_mb"],
    }, lat


# --------------------------------------------------------------- traced run

LAYERS = ("workload", "op", "construct", "action", "batch", "job", "stage")


def span_tree(records):
    """Spans of the traced run in ms, keyed by id: the runner's own
    (workload pass, op, construct, action) plus stream batches, jobs and
    stages, each listener span parented by time containment under the
    innermost runner phase (or batch) open when it started. Listener events
    outside every pass (set-up, warm-up) are dropped."""
    spans = {}
    for r in records:
        if r["kind"] == "span":
            spans[r["id"]] = {"parent": r["parent"], "layer": r["layer"],
                              "name": r["name"], "start": r["start_ms"],
                              "end": r["end_ms"]}
    phases = sorted((s["start"], s["end"], sid) for sid, s in spans.items()
                    if s["layer"] in ("construct", "action"))

    def phase_at(t):
        for s, e, sid in phases:
            if s <= t <= e:
                return sid
        return None

    batches = []
    for r in records:
        if r["kind"] == "batch":
            start = r["start_ms"]
            end = start + r["durations"].get("triggerExecution", 0)
            parent = phase_at(start)
            if parent is not None:
                sid = "batch:%s:%s" % (r["query"], r["batch"])
                spans[sid] = {"parent": parent, "layer": "batch", "name": sid,
                              "start": start, "end": end, "event": r}
                batches.append((start, end, sid))

    job_end = {r["job"]: r["t_ms"] for r in records if r["kind"] == "job_end"}
    stage_job = {}
    for r in records:
        if r["kind"] != "job_start":
            continue
        start = r["t_ms"]
        parent = next((sid for s, e, sid in batches if s <= start <= e), None) \
            or phase_at(start)
        if parent is None:
            continue
        sid = "job:%d" % r["job"]
        spans[sid] = {"parent": parent, "layer": "job", "name": sid, "start": start,
                      "end": job_end.get(r["job"], start)}
        for st in r["stages"]:
            stage_job.setdefault(st, sid)
    for r in records:
        if r["kind"] == "stage" and r["stage"] in stage_job and r.get("submit_ms"):
            sid = "stage:%d:%d" % (r["stage"], r["attempt"])
            spans[sid] = {"parent": stage_job[r["stage"]], "layer": "stage", "name": sid,
                          "start": r["submit_ms"], "end": r.get("end_ms") or r["submit_ms"],
                          "event": r}
    return spans


def ancestor(spans, sid, layer):
    while sid in spans:
        if spans[sid]["layer"] == layer:
            return sid
        sid = spans[sid]["parent"]
    return None


def layer_metrics(records, spans, slots, root_id, owners):
    """The per-layer metrics of the subtree under span `root_id` (a
    workload pass, or one op for the per-op detail). `owners` maps each RDD
    id the pass persisted to the span that persisted it (`cache_owners`);
    a persisted RDD counts as reused when a stage of another job reads it."""
    root = spans[root_id]
    inside = {sid: s for sid, s in spans.items()
              if ancestor(spans, sid, root["layer"]) == root_id}
    by_layer = defaultdict(list)
    for sid, s in inside.items():
        by_layer[s["layer"]].append(sid)
    t0, t1 = root["start"], root["end"]
    m = {}

    selfs = self_times(inside)
    for layer in LAYERS:
        m["self.%s_s" % layer] = sum(selfs[s] for s in by_layer[layer]) / 1e3
    dur = lambda sid: (inside[sid]["end"] - inside[sid]["start"]) / 1e3
    m["entry.construct_s"] = sum(dur(s) for s in by_layer["construct"])
    m["entry.action_s"] = sum(dur(s) for s in by_layer["action"])

    plans = [r for r in records if r["kind"] == "plan" and t0 <= r["t_ms"] <= t1]
    for metric, phase in (("analysis", "analysis"), ("optimization", "optimization"),
                          ("physical", "planning")):
        m["planner.%s_s" % metric] = sum(
            (r["phases"][phase][1] - r["phases"][phase][0]) / 1e3
            for r in plans if phase in r["phases"])
    m["planner.executions"] = len(plans)

    jobs = [inside[s] for s in by_layer["job"]]
    stages = [inside[s]["event"] for s in by_layer["stage"]]
    job_union = union_length([(j["start"], j["end"]) for j in jobs]) / 1e3
    task_s = sum(st.get("run_ms", 0) for st in stages) / 1e3
    m["scheduler.jobs"] = len(jobs)
    m["scheduler.stages"] = len(stages)
    m["scheduler.tasks"] = sum(st["tasks"] for st in stages)
    m["scheduler.job_wall_s"] = sum(j["end"] - j["start"] for j in jobs) / 1e3
    m["scheduler.driver_gap_s"] = sum(
        dur(op) - union_length([(inside[j]["start"], inside[j]["end"])
                                for j in by_layer["job"] if ancestor(inside, j, "op") == op],
                               inside[op]["start"], inside[op]["end"]) / 1e3
        for op in by_layer["op"])
    m["scheduler.slot_idle_share"] = (
        1.0 - task_s / (job_union * slots) if job_union > 0 else 0.0)

    total = lambda key: sum(st.get(key, 0) for st in stages)
    m["exec.task_s"] = task_s
    m["exec.cpu_s"] = total("cpu_ns") / 1e9
    m["exec.gc_s"] = total("gc_ms") / 1e3
    m["exec.scan_mb"] = total("input_bytes") / MB
    m["exec.shuffle_write_mb"] = total("shuffle_write_bytes") / MB
    m["exec.shuffle_read_mb"] = total("shuffle_read_bytes") / MB
    m["exec.spill_mb"] = total("spill_bytes") / MB
    m["exec.write_mb"] = total("output_bytes") / MB
    m["exec.write_rows"] = total("output_rows")

    persisted = [i for i, owner in owners.items() if owner in inside]
    reused = {i for sid in by_layer["stage"]
              for i in inside[sid]["event"].get("persisted_rdds", [])
              if i in owners and owners[i] != inside[sid]["parent"]}
    m["cache.persisted"] = len(persisted)
    m["cache.reused"] = len(reused)
    m["cache.reuse_ratio"] = len(reused) / len(persisted) if persisted else 0.0
    m["cache.stored_mb_peak"] = max((r["stored_bytes"] for r in records
                                     if r["kind"] == "cache" and r["op_span"] in inside),
                                    default=0) / MB

    batches = [inside[s]["event"] for s in by_layer["batch"]]
    d = lambda b, k: b["durations"].get(k, 0) / 1e3
    m["streaming.queries"] = sum(1 for r in records if r["kind"] == "stream_start"
                                 and t0 <= r["t_ms"] <= t1)
    m["streaming.batches"] = len(batches)
    m["streaming.add_batch_s"] = sum(d(b, "addBatch") for b in batches)
    m["streaming.commit_s"] = sum(d(b, "walCommit") + d(b, "commitOffsets") for b in batches)
    m["streaming.batch_planning_s"] = sum(d(b, "queryPlanning") for b in batches)
    m["streaming.state_commit_s"] = sum(b["state_commit_ms"] for b in batches) / 1e3
    m["streaming.state_rows"] = sum(b["state_rows"] for b in batches)
    return m


def cache_owners(records, spans, pass_id):
    """RDD id -> the span that persisted it during one pass: the first job
    with a stage over it, else the op after which it first showed in
    `getPersistentRDDs`. Ids already persisted when the pass began are
    nobody's."""
    before = set()
    owners = {}
    for r in records:
        if r["kind"] == "cache" and r["op_span"] == pass_id:
            before = set(r["persisted_rdds"])
    stages = sorted((s["start"], sid) for sid, s in spans.items()
                    if s["layer"] == "stage" and ancestor(spans, sid, "workload") == pass_id)
    for _, sid in stages:
        for i in spans[sid]["event"].get("persisted_rdds", []):
            if i not in before:
                owners.setdefault(i, spans[sid]["parent"])
    for r in records:
        if r["kind"] == "cache" and r["op_span"] != pass_id \
                and ancestor(spans, r["op_span"], "workload") == pass_id:
            for i in set(r["persisted_rdds"]) - before:
                owners.setdefault(i, r["op_span"])
    return owners

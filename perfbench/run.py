"""The repo benchmark: one closed-loop client over one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the runner from source (perfbench/build.py), makes the
fixture tables (perfbench/gen_data.py), then runs the workload's pinned op
list in a fresh JVM (perfbench/src/perfbench/Runner.scala): one op at a time,
in an order permuted by --seed, each op's output checked against
perfbench/expected.json. With --trace 1 the JVM also carries Spark listeners,
and the per-layer metrics are computed from their events
(perfbench/analysis.py).

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). Human-readable detail goes to stderr, and the
full detail record to .bench_build/results/.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import build  # noqa: E402
import gen_data  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 160
# local task slots, pinned whatever nproc says, so plans, partition counts
# and digests match on any host
SLOTS = 4
# a fixed heap, so VmHWM tracks touched pages rather than G1's resizing
HEAP = "3g"
LISTENERS = {
    "spark.extraListeners": "perfbench.JobListener",
    "spark.sql.queryExecutionListeners": "perfbench.PlanListener",
    "spark.sql.streaming.streamingQueryListeners": "perfbench.StreamListener",
}
# Spark 4 on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def ensure_data():
    """The fixture directory, generated once per checkout and again when
    gen_data.py changes."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(BUILD_DIR, "data", tag)
    if not os.path.isdir(out):
        tmp = out + ".tmp%d" % os.getpid()
        gen_data.write(tmp)
        os.rename(tmp, out)
    return out


def jvm_command(classpath, scratch, trace, main):
    """`java` with the module opens, heap and scratch space every benchmark
    JVM gets, then `main`: the main class and its arguments."""
    props = {
        "java.io.tmpdir": scratch,
        "spark.local.dir": scratch,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "derby.system.home": scratch,
        "log4j2.configurationFile": os.path.join(HERE, "log4j2.properties"),
        "spark.ui.enabled": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.hadoop.hadoop.tmp.dir": scratch,
    }
    if trace:
        props.update(LISTENERS)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # a fixed young generation too; no hsperfdata file outside the checkout
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn1g", "-Xss4m", "-XX:-UsePerfData"]
    cmd += ["-D%s=%s" % kv for kv in sorted(props.items())]
    return cmd + ["-cp", os.pathsep.join(classpath)] + main


def child_env():
    """The caller's environment without the engine's dev knobs
    (SPARK_GRAFT_*) and without Spark settings that would move its scratch
    space or configuration out of the checkout."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_WORKER_DIR")}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    return env


def run_jvm(workload, wconf, seed, seconds, trace, classpath, data, run_dir):
    scratch = os.path.join(run_dir, "tmp")
    os.makedirs(scratch)
    out = os.path.join(run_dir, "records.jsonl")
    args = [wconf["kind"], ",".join(wconf["ops"]), seed,
            analysis.COLD_PASSES + analysis.MIN_MEASURED_PASSES, seconds, data,
            SLOTS, int(time.time() * 1000), out]
    cmd = jvm_command(classpath, scratch, trace,
                      ["perfbench.Runner"] + [str(a) for a in args])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, env=child_env(), cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout after %ds" % JVM_TIMEOUT_S
    shutil.rmtree(scratch, ignore_errors=True)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError("runner JVM for %s exited with %s:\n%s" % (workload, code, tail))
    with open(out) as f:
        return [json.loads(line) for line in f]


def mean_dicts(ds):
    return {k: sum(d[k] for d in ds) / len(ds) for k in ds[0]}


def harness_metrics(verdicts):
    """Per-layer harness metrics and the etl/ml split: the timedf stage
    times summed over one pass, averaged over the measured passes."""
    passes = analysis.measured_passes(verdicts)
    m = dict.fromkeys(analysis.HARNESS_METRICS, 0.0)
    for v in verdicts:
        if v["pass"] in passes and v.get("measurements"):
            etl, ml, stages = analysis.harness_split(v["name"], v["measurements"])
            stages.update({"harness.etl_s": etl, "harness.ml_s": ml})
            for k, x in stages.items():
                m[k] += x / len(passes)
    return m


def traced_metrics(records, verdicts, wall_s):
    """Per-layer metrics, the per-op breakdown and the reconciliation of
    layer self times with the pass, each averaged over the measured
    passes."""
    spans = analysis.span_tree(records)
    per_pass, per_op, pass_s = [], {}, []
    for p in analysis.measured_passes(verdicts):
        pass_id = next(sid for sid, s in spans.items()
                       if s["layer"] == "workload" and s["name"] == "pass%d" % p)
        owners = analysis.cache_owners(records, spans, pass_id)
        per_pass.append(analysis.layer_metrics(records, spans, SLOTS, pass_id, owners))
        pass_s.append((spans[pass_id]["end"] - spans[pass_id]["start"]) / 1e3)
        for sid, s in spans.items():
            if s["layer"] == "op" and s["parent"] == pass_id:
                per_op.setdefault(s["name"], []).append(analysis.layer_metrics(
                    records, spans, SLOTS, sid, owners))
    m = mean_dicts(per_pass)
    per_op = {name: mean_dicts(ms) for name, ms in per_op.items()}
    jvm = next(r for r in records if r["kind"] == "jvm")
    m["jvm.gc_s"] = jvm["gc_s"]
    m["jvm.heap_peak_mb"] = jvm["heap_peak_mb"]
    m.update(harness_metrics(verdicts))
    mean_pass_s = sum(pass_s) / len(pass_s)
    self_sum = sum(m["self.%s_s" % layer] for layer in analysis.LAYERS)
    m["trace.wall_s"] = wall_s
    m["trace.reconcile_gap_share"] = m["self.workload_s"] / mean_pass_s
    # sibling spans that run at once (concurrent jobs of one op) each keep
    # their own self time, so the layers can sum to more than the pass
    m["trace.overlap_s"] = max(0.0, self_sum - mean_pass_s)
    reconcile = {"pass_s": mean_pass_s, "self_sum_s": self_sum,
                 "wall_s": wall_s, "between_ops_s": m["self.workload_s"],
                 "self_s": {layer: m["self.%s_s" % layer] for layer in analysis.LAYERS}}
    return m, per_op, reconcile


def per_op_latency(verdicts, ops):
    """Per op: cold-pass latency, and the medians over the measured passes
    of its latency and construct time (failed samples left out)."""
    passes = analysis.measured_passes(verdicts)
    out = {}
    for name in ops:
        vs = [v for v in verdicts if v["name"] == name and v["ok"]]
        cold = [analysis.latency(v) for v in vs if v["pass"] == 0]
        warm = [v for v in vs if v["pass"] in passes]
        out[name] = {
            "cold_s": cold[0] if cold else float("nan"),
            "median_s": statistics.median(analysis.latency(v) for v in warm) if warm
            else float("nan"),
            "median_construct_s": statistics.median(v["construct_s"] for v in warm)
            if warm else float("nan")}
    return out


def describe(detail, out):
    p = lambda *a: print(*a, file=out)
    p("[perfbench] workload=%s seed=%s trace=%s ops=%d (pinned) passes=%d "
      "(the cold pass 0, then measured ones); cold pass %.3f s"
      % (detail["workload"], detail["seed"], detail["trace"], len(detail["ops"]),
         detail["passes"], detail["cold_wall_s"]))
    p("[perfbench]   %-28s %9s %9s %9s" % ("op", "cold s", "median s", "construct"))
    for name, row in detail["per_op_latency"].items():
        p("[perfbench]   %-28s %9.3f %9.3f %9.3f" % (
            name, row["cold_s"], row["median_s"], row["median_construct_s"]))
    for v in detail["failures"]:
        p("[perfbench] FAILED op %s (pass %d): %s" % (v["name"], v["pass"], v["why"]))
    lat = detail["latency"]
    p("[perfbench] fail_ratio=%.4f  op latency n=%d p50=%s p90=%s"
      % (detail["fail_ratio"], lat["n"], lat["p50"],
         lat["p90"] if lat["p90"] is not None else "n/a (<%d samples)"
         % analysis.P90_MIN_SAMPLES))
    if "reconcile" in detail:
        r = detail["reconcile"]
        p("[perfbench] self time by layer (s): " + ", ".join(
            "%s=%.3f" % kv for kv in r["self_s"].items()))
        m = detail["metrics"]
        p("[perfbench] layers sum to %.3f s over a %.3f s pass; ops' wall_s %.3f s"
          % (r["self_sum_s"], r["pass_s"], r["wall_s"]))
        p("[perfbench]   between-op gap (runner time) %.3f s = %.1f%% of the pass%s"
          % (r["between_ops_s"], 100 * m["trace.reconcile_gap_share"],
             " -- over 10%" if m["trace.reconcile_gap_share"] > 0.10 else ""))
        p("[perfbench]   concurrent sibling spans counted twice %.3f s = %.1f%% of the pass%s"
          % (m["trace.overlap_s"], 100 * m["trace.overlap_s"] / r["pass_s"],
             " -- over 10%: jobs of one op ran at once" if
             m["trace.overlap_s"] > 0.10 * r["pass_s"] else ""))
        if "trace_overhead_s" in detail:
            p("[perfbench] tracing overhead: traced wall_s - untraced wall_s = %.3f s"
              % detail["trace_overhead_s"])
    for k, v in detail["metrics"].items():
        p("[perfbench]   %-36s %s" % (k, v))


def summarize(workload, seed, trace, ops, records, expected):
    """The detail record of one run: verdicts, failures, latencies and the
    end-to-end metrics."""
    verdicts = analysis.judge(records, ops, expected)
    e2e, lat = analysis.end_to_end(records, verdicts)
    failures = [v for v in verdicts if not v["ok"]]
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "ops": ops, "op_count": len(ops),
        "passes": len({v["pass"] for v in verdicts}),
        "cold_wall_s": analysis.pass_walls(verdicts, [0])[0],
        "measured_walls_s": analysis.pass_walls(verdicts, analysis.measured_passes(verdicts)),
        "per_op_latency": per_op_latency(verdicts, ops),
        "verdicts": verdicts,
        "failures": failures,
        "fail_ratio": len(failures) / len(verdicts),
        "latency": lat, "end_to_end": e2e, "metrics": e2e,
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    workloads = load_json("workloads.json")
    if a.workload not in workloads:
        print("unknown workload %r; known: %s" % (a.workload, ", ".join(workloads)),
              file=sys.stderr)
        return 2
    wconf = workloads[a.workload]
    expected = load_json("expected.json").get(a.workload, {})
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        classpath = build.ensure_built(ROOT, BUILD_DIR)
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    data = ensure_data()
    run_dir = os.path.join(BUILD_DIR, "runs", "%s-s%d-t%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    os.makedirs(run_dir)
    try:
        records = run_jvm(a.workload, wconf, a.seed, a.seconds, a.trace,
                          classpath, data, run_dir)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1

    detail = summarize(a.workload, a.seed, a.trace, wconf["ops"], records, expected)
    e2e, verdicts, failures = detail["end_to_end"], detail["verdicts"], detail["failures"]
    if a.trace:
        wanted = spec["per_layer"]
        metrics, per_op, reconcile = traced_metrics(records, verdicts, e2e["wall_s"])
        detail.update(per_op=per_op, reconcile=reconcile)
        untraced = os.path.join(BUILD_DIR, "results", "%s_seed%d_trace0.json"
                                % (a.workload, a.seed))
        if os.path.exists(untraced):
            with open(untraced) as f:
                detail["trace_overhead_s"] = (
                    e2e["wall_s"] - json.load(f)["end_to_end"]["wall_s"])
    else:
        wanted = spec["end_to_end"]
        metrics = e2e
    detail["metrics"] = metrics
    os.makedirs(os.path.join(BUILD_DIR, "results"), exist_ok=True)
    with open(os.path.join(BUILD_DIR, "results", "%s_seed%d_trace%d.json"
                           % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(detail, f, indent=1)
    describe(detail, sys.stderr)

    result = {
        "correct": not failures,
        "attempted": len(verdicts),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Writes perfbench/expected.json: each op's expected outputs.

    python3 perfbench/calibrate.py [workload ...]

Runs every workload (default: all) once per seed of SEEDS, each a fresh JVM
with its own op order, and keeps, per op, the row count, and the digest only where every run
produced the same one: float aggregates may differ in their last bits with
the order of their inputs. For timedf ops it keeps the result params that
repeat (validation hashes, model scores). An op whose row count differs
between runs is reported and left without an expected value, so it fails.
"""

import argparse
import json
import os
import shutil
import sys

import run

SEEDS = (1, 2, 3)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    workloads = run.load_json("workloads.json")
    path = os.path.join(run.HERE, "expected.json")
    expected = run.load_json("expected.json") if os.path.exists(path) else {}
    classpath = run.build.ensure_built(run.ROOT, run.BUILD_DIR)
    data = run.ensure_data()
    for w in a.workloads or list(workloads):
        wconf = workloads[w]
        outputs = {}
        for seed in SEEDS:
            run_dir = os.path.join(run.BUILD_DIR, "runs", "calibrate-%s-%d" % (w, seed))
            shutil.rmtree(run_dir, ignore_errors=True)
            os.makedirs(run_dir)
            records = run.run_jvm(w, wconf, seed, 0, 0, classpath, data, run_dir)
            shutil.rmtree(run_dir, ignore_errors=True)
            for r in records:
                if r["kind"] == "op":
                    if r["error"]:
                        sys.exit("%s/%s threw: %s" % (w, r["name"], r["error"]))
                    outputs.setdefault(r["name"], []).append(r)
        exp = {}
        for name in wconf["ops"]:
            rs = outputs.get(name, [])
            if "params" in rs[0]:
                first = rs[0]["params"]
                exp[name] = {"params": {k: v for k, v in sorted(first.items())
                                        if all(r["params"].get(k) == v for r in rs)}}
                continue
            rows = {r["rows"] for r in rs}
            if len(rows) != 1:
                print("%s/%s: row count differs between runs: %s" % (w, name, rows),
                      file=sys.stderr)
                continue
            digests = {r["digest"] for r in rs}
            exp[name] = {"rows": rows.pop(),
                         "digest": digests.pop() if len(digests) == 1 else None}
        expected[w] = exp
        with open(path, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        print("%s: %d ops, %d with a digest" % (
            w, len(exp), sum(1 for e in exp.values() if e.get("digest"))))


if __name__ == "__main__":
    main()

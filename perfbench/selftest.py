#!/usr/bin/env python3
"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload on toy-size inputs, untraced and traced, and fails
when a run's output check fails, when a metric BENCHMARK.json names is
missing or carries another unit, or when BENCHMARK.json and metrics.py
disagree. Run it from the root of a graft checkout.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def main():
    bench = json.load(open("BENCHMARK.json"))
    problems = []
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if declared_e2e != {k: v[0] for k, v in metrics.END_TO_END.items()}:
        problems.append("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    if declared_layer != {k: v[0] for k, v in metrics.per_layer().items()}:
        problems.append("BENCHMARK.json per_layer differs from metrics.per_layer()")
    if [w["name"] for w in bench["workloads"]] != metrics.WORKLOADS:
        problems.append("BENCHMARK.json workloads differ from metrics.WORKLOADS")
    env = dict(os.environ, PERFBENCH_SCALE="toy")
    for w in metrics.WORKLOADS:
        for trace, declared in ((0, declared_e2e), (1, declared_layer)):
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "3", "--seconds", "1", "--trace", str(trace)],
                env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            tag = f"{w} --trace {trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}: {r.stderr[-1500:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res.get("correct") or res.get("failed"):
                meta = json.loads(lines[-2]).get("meta", {}) if len(lines) > 1 else {}
                problems.append(f"{tag}: output checks failed: {meta.get('failures')}")
            got = res.get("metrics", {})
            for name, unit in declared.items():
                if name not in got:
                    problems.append(f"{tag}: metric {name} missing")
                elif got[name].get("unit") != unit:
                    problems.append(f"{tag}: metric {name} unit {got[name].get('unit')} != {unit}")
            extra = set(got) - set(declared)
            if extra:
                problems.append(f"{tag}: undeclared metrics {sorted(extra)}")
            print(f"{tag}: {'ok' if not problems else 'see problems'}", flush=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

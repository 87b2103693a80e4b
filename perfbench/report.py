"""Layer report: where a traced run's wall time goes.

    python3 perfbench/report.py [trace.json ...]

Reads the artifacts traced runs write (default: every file under
``perfbench/_work/trace/``) and prints, per workload, the mean traced
operation split by layer, the self time of every span name, and the
operations with the most self time outside Spark execution.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import op_metrics  # noqa: E402
from tracing import self_times  # noqa: E402

LAYERS = (
    ("plans (driver build)", "plans.build_s"),
    ("catalyst", "catalyst.plan_s"),
    ("execution", "exec.wall_s"),
    ("operators.staging release", "staging.release_s"),
)
STAGES = (
    ("01 ingest", "pipeline.s01_ingest_s"),
    ("02-03 features", "pipeline.s02_03_features_s"),
    ("04-05 train", "pipeline.s04_05_train_s"),
    ("06 deploy", "pipeline.s06_deploy_s"),
)


def report(path: str, top: int = 10) -> None:
    with open(path) as f:
        rec = json.load(f)
    spans, env = rec["spans"], rec["env"]
    ops = defaultdict(list)
    for s in spans:
        ops[s["op"]].append(s)
    per_op = {op: op_metrics(mine) for op, mine in ops.items()}
    wall = statistics.fmean(m["trace.op_wall_s"] for m in per_op.values())
    print(f"== {env['workload']} seed {env['seed']} ({env['revision']}, {env['master']}, "
          f"{len(per_op)} traced ops, mean op {wall:.3f}s)")
    print(f"   tracing overhead {rec['metrics']['trace.overhead_s']:+.3f}s per pass "
          f"({rec['metrics']['trace.overhead_ratio']:+.1%} of the untraced pass)")
    pipeline = any(s["name"].startswith("pipeline.") for s in spans)
    rows = STAGES if pipeline else LAYERS
    print("   where an operation's wall time goes:")
    for label, key in rows:
        v = statistics.fmean(m[key] for m in per_op.values())
        print(f"     {label:28s} {v:8.3f}s {v / wall:6.1%}")
    if pipeline:
        for label, key in (("Spark executions or jobs", "exec.wall_s"),
                           ("driver JVM outside Spark", "driver.jvm_s"),
                           ("Catalyst phases", "catalyst.plan_s"),
                           ("driver Python CPU", "driver.python_cpu_s"),
                           ("ml.train_logistic call", "ml.train_s"),
                           ("parquet write calls", "sinks.write_s")):
            v = statistics.fmean(m[key] for m in per_op.values())
            print(f"     {label:28s} {v:8.3f}s {v / wall:6.1%}")
    ratios = [m["trace.layer_sum_ratio"] for m in per_op.values()]
    within = sum(abs(r - 1) <= 0.1 for r in ratios)
    print(f"   layers add up to the op wall within 10% on {within}/{len(ratios)} ops "
          f"(ratio {min(ratios):.3f}..{max(ratios):.3f})")

    selft = self_times(spans)
    by_name = defaultdict(float)
    for s in spans:
        name = "operation (glue)" if s["parent"] is None and s["name"] != "staging.release" \
            else s["name"]
        by_name[name] += selft[s["id"]]
    total = sum(by_name.values())
    print("   self time by span:")
    for name, v in sorted(by_name.items(), key=lambda kv: -kv[1]):
        print(f"     {name:40s} {v:8.3f}s {v / total:6.1%}")

    print(f"   top {top} operations by self time outside Spark execution:")
    named = {op: mine[0]["name"] for op, mine in ops.items()}
    outside = {op: m["trace.op_wall_s"] - m["exec.wall_s"] for op, m in per_op.items()}
    for op in sorted(outside, key=lambda o: -outside[o])[:top]:
        m = per_op[op]
        print(f"     {named[op]:46s} wall {m['trace.op_wall_s']:.3f}s "
              f"build {m['plans.build_s']:.3f}s ({m['plans.build_jobs']:.0f} jobs, "
              f"{m['plans.py4j_calls']:.0f} py4j) catalyst {m['catalyst.plan_s']:.3f}s "
              f"exec {m['exec.wall_s']:.3f}s ({m['exec.stages']:.0f} stages)")


def main(argv: list[str]) -> int:
    paths = argv or sorted(glob.glob(os.path.join(HERE, "_work", "trace", "*.json")))
    if not paths:
        print("no traced runs found; run perfbench/run.py with --trace 1 first",
              file=sys.stderr)
        return 1
    for path in paths:
        report(path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Self-test of the benchmark's metric sources, at sf0.01.

    python3 perfbench/selftest.py [--seed 1] [--limit 0]

Runs every query a surface draw takes from (or the first ``--limit`` of
them in seeded order) once, traced, over seeded sf0.01 inputs, and
checks three things before the per-layer numbers are trusted:

1. closure: for each query, plans.build_s + catalyst.plan_s +
   exec.wall_s + the release time add up to within 10% of its traced
   wall time;
2. Catalyst provenance: the phases counted for each query come from the
   noop write's own query execution (an ``OverwriteByExpression``);
3. shuffle bytes: the stage shuffle bytes written and read that the
   REST API reports for the write are at least the ``Exchange`` node
   metrics of its SQL execution (to within 1% or 1 KiB). REST may count
   more: stages of sub-plans that are not nodes of the write's plan
   (recursive CTE iterations, subqueries) are printed as notes.

Prints one line per failed check and a summary; exits 0 when all hold.
"""

from __future__ import annotations

import argparse
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--limit", type=int, default=0, help="0 = every surface query")
    args = ap.parse_args(argv)
    run.pin_environment()

    import gen

    base = os.path.join(run.WORK, "selftest", f"seed{args.seed}")
    dirs = {sf: os.path.join(base, sf) for sf in ("sf0.001", "sf0.01")}
    for sf, scale in (("sf0.001", 0.001), ("sf0.01", 0.01)):
        gen.make_fixture(dirs[sf], args.seed, scale)

    from big_data_backblaze_hard_drive_failure_spark.plans import QUERIES
    from big_data_backblaze_hard_drive_failure_spark.session import get_spark
    from tracing import Tracer

    spark = get_spark(app_name="perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    run.warm_up(spark, "surface-sf0.1", dirs["sf0.01"], dirs["sf0.001"])
    names = run.surface_pool(sorted(QUERIES))
    random.Random(args.seed).shuffle(names)
    names = names[: args.limit or None]

    tracer = Tracer(spark, enabled=True)
    work = run.QueryWorkload(spark, dirs["sf0.01"], tracer)
    for name in names:
        run.release_caches(spark)
        work.run(name)
    spans = tracer.dump()
    jvm = spark.sparkContext._gateway
    spark.stop()
    run.shutdown(jvm)

    problems, notes = [], []
    ratios = []
    shuffle_checked = 0
    for op in sorted({s["op"] for s in spans}):
        mine = [s for s in spans if s["op"] == op]
        name = mine[0]["name"]
        m = run.op_metrics(mine)
        ratios.append(m["trace.layer_sum_ratio"])
        if abs(m["trace.layer_sum_ratio"] - 1.0) > 0.1:
            problems.append(f"closure {name}: layers {m['trace.layer_sum_ratio']:.3f} of "
                            f"{m['trace.op_wall_s']:.3f}s")
        write = next(s for s in mine if s["name"] == "sinks.write")["stats"]
        if write.get("write_plan_verified") != 1.0:
            problems.append(f"catalyst {name}: no noop-write query execution seen")
        for side in ("write", "read"):
            rest = write.get(f"shuffle_{side}_bytes", 0.0)
            sql = write.get(f"exchange_{side}_bytes", 0.0)
            if not (rest or sql):
                continue
            shuffle_checked += 1
            line = f"shuffle {name}: REST stages {side} {rest:.0f} B, Exchange metrics {sql:.0f} B"
            if rest < sql - max(1024.0, 0.01 * sql):
                problems.append(line)
            elif rest > sql + max(1024.0, 0.01 * sql):
                notes.append(line)
    for line in notes:
        print("note:", line)
    for line in problems:
        print(line)
    within = sum(abs(r - 1.0) <= 0.1 for r in ratios)
    print(f"{len(ratios)} queries: layers within 10% of wall on {within} "
          f"(ratio {min(ratios):.3f}..{max(ratios):.3f}); shuffle bytes cross-checked "
          f"on {shuffle_checked} write/read pairs ({len(notes)} where REST counts more); "
          f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

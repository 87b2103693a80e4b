"""The repository's benchmark: one closed-loop client, one Spark session.

    python3 perfbench/run.py --workload surface-sf0.1 --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Each run generates its inputs from
``--seed`` (``perfbench/gen.py``), starts one SparkSession through the
engine's own ``get_spark`` on ``local[nproc]``, warms it (set-up), then
runs the workload's operations back to back in passes until
``--seconds`` have elapsed (always at least one whole pass). Outputs are
checked after the timed region. The last stdout line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
the per-layer metrics. A traced run traces every operation of its
passes, and runs every fourth one a second time untraced, right before
or after the traced run in alternating order; the paired difference is
the tracing overhead. It also writes its spans to
``perfbench/_work/trace/`` for ``perfbench/report.py``. Progress goes
to stderr.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PKG = "big_data_backblaze_hard_drive_failure_spark"
REQUIRED = (
    os.path.join(PKG, "__init__.py"),
    os.path.join("scripts", "gen_sf1.py"),
    os.path.join("tests", "oracle.py"),
)

# Surface draw size: a p90 needs at least ten samples above it.
SURFACE_DRAW = 100
# Passes a run holds at least, whatever --seconds says. The pipeline's
# first timed run still pays JIT compilation its warm-up run did not
# finish; with three passes the median pass is a warm one.
MIN_PASSES = {"surface-sf0.1": 1, "pipeline-sf1": 3}
# In a traced run, every this-many-th operation also runs untraced.
TRACE_PAIR_EVERY = 4
# Traced passes a run holds at least. The pipeline pass is one operation,
# so four passes run its pairs as untraced-traced, traced-untraced twice:
# both orders occur, and neither side is always the first run after set-up.
MIN_TRACE_PASSES = {"surface-sf0.1": 1, "pipeline-sf1": 4}
# Frozen sf0.1 cost from which a query is left out of the surface draw:
# such queries are bound by their data or ML work, not by the per-query
# overhead this workload measures, and a run must fit the benchmark's
# time budget. Three of them also have DuckDB oracles that alone take
# longer at sf0.1 than the rest of a run's check.
HEAVY_S = 1.0
# Also left out of the surface draw: this one's oracle pair disagrees on
# some inputs: ROUND(x / (n * 100.0), 6) of an exact half (n = 64) rounds
# up in Spark's decimal and down in DuckDB.
SURFACE_EXCLUDED = {
    "mlops_cusum_changepoint": "mismatches DuckDB on exact-half quotients (seed 106)",
}
FAMILIES = ("ref", "star", "tpch", "datapipe", "mlops", "io")

# One query per Python eval type; Spark caches Python workers per eval
# type, so the first query of each type pays the worker spawn. The
# Python DataSource type is not warmed: its only query,
# io_avro_roundtrip, is above HEAVY_S and never drawn.
PYTHON_WARMUPS = (
    "datapipe_chunk_udtf",          # UDTF
    "mlops_score_pandas_udf",       # scalar pandas_udf
    "datapipe_audio_decode",        # mapInPandas
    "datapipe_arrow_native_stats",  # mapInArrow
    "ref_grouped_zscore",           # applyInPandas
    "ref_grouped_arrow_stats",      # applyInArrow
    "ref_grouped_agg_udaf",         # grouped-agg pandas UDAF
)

# What is released before every timed operation and what is warmed once
# in set-up (and so counted in setup_s), with the reason for each.
CACHE_POLICY = {
    "operators.staging staged frames": (
        "release", "Spark's CacheManager substitutes any equal subtree, so a "
        "frame staged by one operation would make a later one read it warm"),
    "SQL cache (spark.catalog.clearCache)": (
        "release", "same reason as staged frames, for caches not tracked "
        "by the staging LRU"),
    "operators.prefix._BOUNDS_MEMO": (
        "release", "memoizes the build-time percentile job of the prefix-sum "
        "family; kept warm it hides 18 of mlops_kaplan_meier's 19 build jobs"),
    "plans.io._PARTITIONED_WRITTEN": (
        "release", "memoizes a layout the query writes during its build; "
        "build-time writes are part of the query's cost"),
    "JVM codegen and JIT": (
        "warm", "paid once per process by every user; timing it per query "
        "would measure process age, not the query (the pipeline workload "
        "warms with one pipeline run over its own inputs)"),
    "Python workers per eval type": (
        "warm", "spawned once per eval type and process, see PYTHON_WARMUPS"),
    "plans.mlops._GBT_FORESTS": (
        "warm", "train-time artifact; the gbt queries are deploy-shaped scorers"),
    "plans.datapipe._BRP_LSH_MODELS": (
        "warm", "train-time artifact (seeded hyperplanes), keyed by session"),
    "plans.datapipe._IVF_CENTROIDS": (
        "warm", "train-time artifact (seeded Lloyd iterations)"),
    "plans.datapipe._IVF_CELL_EXPRS": (
        "warm", "a parsed expression that is a pure function of the IVF "
        "centroids, so it is part of that artifact"),
}


# The per-layer metrics a traced run reports (per-operation means).
LAYER_UNITS = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.py4j_calls": "count",
    "catalyst.plan_s": "s",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.slot_busy_ratio": "ratio",
    "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "functions.python_rows": "count", "functions.python_bytes": "bytes",
    "staging.frames": "count", "staging.cached_bytes": "bytes", "staging.release_s": "s",
    "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.bytes_per_input_byte": "ratio",
    "ml.train_s": "s", "ml.train_jobs": "count", "ml.eval_s": "s",
    "pipeline.s01_ingest_s": "s", "pipeline.s02_03_features_s": "s",
    "pipeline.s04_05_train_s": "s", "pipeline.s06_deploy_s": "s",
    "pipeline.unattributed_s": "s", "driver.python_cpu_s": "s",
    "driver.jvm_s": "s",
    "trace.op_wall_s": "s", "trace.overhead_s": "s", "trace.overhead_ratio": "ratio",
    "trace.layer_sum_ratio_min": "ratio", "trace.layer_sum_ratio_max": "ratio",
    "trace.ops_within_10pct": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- memory
class PeakRss:
    """Samples the summed resident memory of this process and all of its
    descendants (the JVM, Python workers) every 100 ms."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _tree(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = [os.getpid()], [os.getpid()]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._t.join()


# ------------------------------------------------------------------ data
def make_inputs(seed: int, sf1: bool) -> tuple[dict[str, str], float]:
    import gen

    data = os.path.join(WORK, "data")
    mine = os.path.join(data, f"seed{seed}")
    for old in glob.glob(os.path.join(data, "seed*")):
        if old != mine:
            shutil.rmtree(old, ignore_errors=True)
    dirs = {sf: os.path.join(mine, sf) for sf in ("sf0.001", "sf0.1", "sf1")}
    t0 = time.perf_counter()
    for sf, scale in (("sf0.001", 0.001), ("sf0.1", 0.1)):
        if not os.path.exists(os.path.join(dirs[sf], "embeddings.parquet")):
            gen.make_fixture(dirs[sf], seed, scale)
    if sf1 and not os.path.exists(os.path.join(dirs["sf1"], "embeddings.parquet")):
        gen.make_sf1(dirs["sf0.1"], dirs["sf1"])
    return dirs, time.perf_counter() - t0


def frozen_costs() -> dict[str, float]:
    with open(os.path.join(HERE, "costs_sf0.1.json")) as f:
        return json.load(f)["seconds"]


def surface_pool(names: list[str]) -> list[str]:
    """The queries a surface draw takes from."""
    cost = frozen_costs()
    return [n for n in names if n not in SURFACE_EXCLUDED and cost.get(n, 0.0) < HEAVY_S]


def surface_draw(names: list[str], seed: int) -> list[str]:
    """SURFACE_DRAW queries in seeded order, a family-stratified
    systematic sample of the queries whose frozen sf0.1 cost
    (costs_sf0.1.json) is below HEAVY_S: within each family, ordered by
    cost, every k-th query from a seeded offset, so every draw spans the
    same cost range."""
    cost = frozen_costs()
    rng = random.Random(seed)
    pool = surface_pool(names)
    fams = {f: sorted((n for n in pool if n.split("_")[0] == f),
                      key=lambda n: (cost.get(n, 0.0), n)) for f in FAMILIES}
    # each family's share of SURFACE_DRAW, rounded by largest remainder
    share = {f: SURFACE_DRAW * len(m) / len(pool) for f, m in fams.items()}
    quota = {f: int(q) for f, q in share.items()}
    for f in sorted(share, key=lambda f: quota[f] - share[f])[:SURFACE_DRAW - sum(quota.values())]:
        quota[f] += 1
    picked: list[str] = []
    for f, members in fams.items():
        step = len(members) / quota[f]
        off = rng.random() * step
        picked += [members[int(off + i * step)] for i in range(quota[f])]
    rng.shuffle(picked)
    return picked


# ----------------------------------------------------------------- engine
def revision() -> str:
    """The git revision, or a digest of the engine's sources when the
    checkout is not a git work tree."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            h.update(f.read())
    return "src-sha1:" + h.hexdigest()[:12]


def release_caches(spark) -> int:
    """The cache policy's per-operation releases; returns the number of
    staged frames released."""
    from big_data_backblaze_hard_drive_failure_spark.operators import prefix
    from big_data_backblaze_hard_drive_failure_spark.operators.staging import (
        release_stage_boundaries,
    )
    from big_data_backblaze_hard_drive_failure_spark.plans import io

    frames = release_stage_boundaries()
    spark.catalog.clearCache()
    prefix._BOUNDS_MEMO.clear()
    io._PARTITIONED_WRITTEN.clear()
    return frames


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, workload: str, sf_dir: str, smoke_dir: str) -> None:
    """The set-up half of the cache policy, limited to what the
    workload's operations can reach: the pipeline runs no Python workers
    and uses none of the query artifacts, so its set-up is one pipeline
    run over its own inputs (codegen and JIT of exactly its code paths)."""
    from big_data_backblaze_hard_drive_failure_spark.plans import QUERIES
    from big_data_backblaze_hard_drive_failure_spark.plans.mlops import _gbt_forest

    if workload == "pipeline-sf1":
        from big_data_backblaze_hard_drive_failure_spark.pipeline import (
            run_reference_pipeline,
        )

        run_reference_pipeline(spark, sf_dir, os.path.join(WORK, "pipeline-warm"))
        release_caches(spark)
        return
    noop_write(QUERIES["ref_rolling_features"](spark, sf_dir))
    for name in PYTHON_WARMUPS:
        noop_write(QUERIES[name](spark, smoke_dir))
    _gbt_forest(spark, sf_dir)
    # building these fits _BRP_LSH_MODELS, _IVF_CENTROIDS, _IVF_CELL_EXPRS
    QUERIES["datapipe_knn_lsh"](spark, sf_dir)
    QUERIES["datapipe_knn_ivf"](spark, sf_dir)
    release_caches(spark)


# -------------------------------------------------------------- workloads
class QueryWorkload:
    """Operations are registered queries: build once, execute once to
    the noop sink. Oracled queries are compared with DuckDB afterwards."""

    def __init__(self, spark, sf_dir: str, tracer) -> None:
        from big_data_backblaze_hard_drive_failure_spark.plans import ORACLE, QUERIES

        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.queries, self.oracle = QUERIES, ORACLE
        self.frames: dict[str, object] = {}
        self._local = threading.local()

    def run(self, name: str) -> None:
        t = self.tracer
        op = t.new_op()
        with t.span(f"query:{name}", op=op):
            with t.span("plans.build"):
                df = self.queries[name](self.spark, self.sf_dir)
            with t.span("sinks.write"):
                noop_write(df)
        self.frames[name] = df  # the last build: its scratch files are current
        self._after(op, expect_write=True)

    def _after(self, op: int, expect_write: bool) -> None:
        t = self.tracer
        if not t.enabled:
            return
        cached = t.storage_bytes()
        with t.span("staging.release", op=op) as s:
            s.stats["frames"] = float(release_caches(self.spark))
            s.stats["cached_bytes"] = cached
        t.collect(op, expect_write)

    def check(self) -> list[str]:
        """Compare every oracled query with DuckDB, canonicalized as in
        tests/oracle.py. Untimed, so queries are checked four at a time."""
        from concurrent.futures import ThreadPoolExecutor

        oracled = [(n, df) for n, df in self.frames.items() if n in self.oracle]
        with ThreadPoolExecutor(4) as pool:
            verdicts = list(pool.map(lambda item: self._matches(*item), oracled))
        return [name for (name, _), ok in zip(oracled, verdicts) if not ok]

    def _duckdb(self):
        """This thread's DuckDB connection, two threads each, so four
        checks do not oversubscribe the cores Spark is collecting on."""
        con = getattr(self._local, "con", None)
        if con is None:
            import duckdb

            from big_data_backblaze_hard_drive_failure_spark.sources.catalog import TABLES

            con = duckdb.connect(config={"threads": 2})
            for table in TABLES:
                path = os.path.join(self.sf_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            self._local.con = con
        return con

    def _matches(self, name: str, df) -> bool:
        from tests.oracle import _multiset

        t0 = time.perf_counter()
        try:
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
            t1 = time.perf_counter()
            rel = self._duckdb().sql(self.oracle[name])
            # as tests/oracle.py: HUGEINT would reach the driver as float
            ok = not any("HUGEINT" in str(t).upper() for t in rel.types)
            d_cols, d_rows = list(rel.columns), rel.fetchall()
            t2 = time.perf_counter()
            cols = sorted(s_cols)
            ok = ok and cols == sorted(d_cols) and len(s_rows) == len(d_rows) and (
                _multiset(s_rows, cols, {c: i for i, c in enumerate(s_cols)})
                == _multiset(d_rows, cols, {c: i for i, c in enumerate(d_cols)}))
            took = f"spark {t1 - t0:.2f}s, duckdb {t2 - t1:.2f}s, compare {time.perf_counter() - t2:.2f}s"
        except Exception as exc:  # noqa: BLE001 - every miss is counted
            log(f"ERROR checking {name}: {type(exc).__name__}: {str(exc)[:300]}")
            ok, took = False, ""
        log(f"checked {name}: {'MATCH' if ok else 'MISMATCH'} ({took})")
        return ok


PIPELINE_CALLS = {
    # public functions pipeline.py calls -> the reference stage each of
    # their calls serves, in call order (the last one repeats)
    "load": ("s01_ingest",), "write_parquet": ("s01_ingest", "s06_deploy"),
    "lead_label": ("s02_03_features",), "leakage_filter": ("s02_03_features",),
    "add_rolling_features": ("s02_03_features",), "add_drive_age": ("s02_03_features",),
    "stage_boundary": ("s02_03_features",),
    "chronological_split": ("s04_05_train",), "downsample_negatives": ("s04_05_train",),
    "train_logistic": ("s04_05_train",), "score_with_model": ("s04_05_train", "s06_deploy"),
    "pr_auc": ("s04_05_train",), "threshold_at_recall": ("s04_05_train",),
    "save_threshold_artifact": ("s04_05_train",),
    "confusion_matrix": ("s06_deploy",), "alert_decision": ("s06_deploy",),
    "operational_summary": ("s06_deploy",), "alerts_per_day": ("s06_deploy",),
}

_TEST_SLICE_SQL = """
WITH raw AS (
  SELECT event_id, ts, user_id,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS failure
  FROM read_parquet('{path}')),
lab AS (
  SELECT *, CASE WHEN lead(failure) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) = 1
         THEN 1 ELSE 0 END AS y
  FROM raw)
SELECT count(*), CAST(sum(y) AS BIGINT) FROM lab
WHERE failure = 0 AND CAST(ts AS DATE) >= DATE '2024-01-25'
"""


class PipelineWorkload:
    """Each operation is one ``run_reference_pipeline`` (stages 01-06)."""

    def __init__(self, spark, sf_dir: str, tracer) -> None:
        from big_data_backblaze_hard_drive_failure_spark import pipeline

        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.pipeline = pipeline
        self.workdir = os.path.join(WORK, "pipeline")
        self.results: list[tuple[dict, dict]] = []
        self._cells: dict = {}
        summarize = pipeline.operational_summary

        def keep_cells(rows):
            self._cells = {(r["alert"], r["target"]): r["n"] for r in rows}
            return summarize(rows)

        pipeline.operational_summary = keep_cells

    def trace_calls(self) -> None:
        """Span every public function pipeline.py calls; the spans go to
        whichever tracer the current pass uses."""
        for attr in PIPELINE_CALLS:
            fn = getattr(self.pipeline, attr)

            def spanned(*args, _fn=fn, _name=f"pipeline.{attr}", **kwargs):
                with self.tracer.span(_name):
                    return _fn(*args, **kwargs)

            setattr(self.pipeline, attr, spanned)

    def run(self, name: str) -> None:
        t = self.tracer
        op = t.new_op()
        with t.span("pipeline.run_reference_pipeline", op=op):
            summary = self.pipeline.run_reference_pipeline(
                self.spark, self.sf_dir, self.workdir)
        self.results.append((summary, dict(self._cells)))
        if t.enabled:
            cached = t.storage_bytes()
            with t.span("staging.release", op=op) as s:
                s.stats["frames"] = float(release_caches(self.spark))
                s.stats["cached_bytes"] = cached
            t.collect(op, expect_write=False)

    def check(self) -> list[str]:
        """DuckDB invariants on the test slice, and the same summary from
        every run over the same inputs."""
        import duckdb

        path = os.path.join(self.sf_dir, "events.parquet")
        rows, positives = duckdb.sql(_TEST_SLICE_SQL.format(path=path)).fetchone()
        misses = []
        first = self.results[0][0]
        for i, (summary, cells) in enumerate(self.results):
            tn = cells.get((0, 0), 0)
            tp, fp, fn = summary["tp"], summary["fp"], summary["fn"]
            same = all(summary[k] == first[k] for k in ("tp", "fp", "fn", "threshold"))
            if tp + fn != positives or tp + fp + fn + tn != rows or not same:
                log(f"MISMATCH pipeline run {i}: tp={tp} fp={fp} fn={fn} tn={tn} "
                    f"positives={positives} rows={rows} summary={summary} first={first}")
                misses.append(f"run{i}")
        return misses


# ---------------------------------------------------------------- metrics
def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between observed values."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def op_metrics(mine: list[dict]) -> dict[str, float]:
    """Layer split of one traced operation (its spans, root first)."""
    root = mine[0]
    by = lambda prefix: [s for s in mine if s["name"].startswith(prefix)]  # noqa: E731
    st = lambda ss, k: sum(s["stats"].get(k, 0.0) for s in ss)  # noqa: E731
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
    build, write, release = by("plans.build"), by("sinks.write"), by("staging.release")
    non_build = [s for s in mine if s not in build]
    op_wall = dur([root]) + dur(release)
    if write:
        # Catalyst phases of the noop write's own query execution; Spark's
        # duration of that SQL execution, less the optimization and
        # planning that run inside it, is the execution layer.
        plan_s = st(write, "plan_s")
        exec_wall = max(0.0, st(write, "sql_s") - st(write, "inner_plan_s"))
    else:
        # Catalyst phases of every query execution the operation ran, and
        # the time any of its query executions or Spark jobs was running
        plan_s = st(mine, "plan_s")
        exec_wall = root["stats"].get("spark_union_s", 0.0)
    m = {
        "plans.build_s": dur(build),
        "plans.build_jobs": st(build, "jobs"),
        "plans.py4j_calls": sum(s["py4j_calls"] for s in build),
        "catalyst.plan_s": plan_s,
        "exec.wall_s": exec_wall,
        "exec.jobs": st(non_build, "jobs"),
        "exec.stages": st(non_build, "stages"),
        "exec.tasks": st(non_build, "tasks"),
        "exec.failed_tasks": st(non_build, "failed_tasks"),
        "exec.task_run_s": st(non_build, "task_run_s"),
        "exec.task_cpu_s": st(non_build, "task_cpu_s"),
        "exec.gc_s": st(non_build, "gc_s"),
        "exec.input_bytes": st(non_build, "input_bytes"),
        "exec.shuffle_write_bytes": st(non_build, "shuffle_write_bytes"),
        "exec.shuffle_read_bytes": st(non_build, "shuffle_read_bytes"),
        "exec.spill_bytes": st(non_build, "spill_bytes"),
        "functions.python_rows": st(mine, "python_rows"),
        "functions.python_bytes": st(mine, "python_bytes"),
        "staging.frames": st(release, "frames"),
        "staging.cached_bytes": st(release, "cached_bytes"),
        "staging.release_s": dur(release),
    }
    sinks = write or by("pipeline.write_parquet")
    m["sinks.write_s"] = dur(sinks)
    m["sinks.bytes_written"] = st(sinks, "output_bytes")
    m["sinks.input_bytes"] = st(sinks, "input_bytes")
    train = by("pipeline.train_logistic")
    m["ml.train_s"] = dur(train)
    m["ml.train_jobs"] = st(train, "jobs")
    m["ml.eval_s"] = dur(by("pipeline.pr_auc") + by("pipeline.threshold_at_recall"))
    m["driver.python_cpu_s"] = root["stats"].get("driver_cpu_s", 0.0)
    m["driver.jvm_s"] = root["stats"].get("driver_jvm_s", 0.0)
    m.update(pipeline_stages(mine))
    if write:
        layered = (m["plans.build_s"] + m["catalyst.plan_s"] + m["exec.wall_s"]
                   + m["staging.release_s"])
    else:
        # readings taken independently of the operation's wall clock: the
        # time its executions or jobs ran (JVM clock), the driver thread's
        # py4j round trips outside that time (JVM driver work: building
        # frames, Catalyst, file listing), and the thread's own CPU time
        layered = (m["exec.wall_s"] + m["driver.jvm_s"] + m["driver.python_cpu_s"]
                   + m["staging.release_s"])
    m["trace.op_wall_s"] = op_wall
    m["trace.layer_sum_ratio"] = layered / op_wall if op_wall else 1.0
    return m


def layer_metrics(spans: list[dict], ops: list[int], cores: int) -> dict[str, float]:
    """Per-operation means of the per-layer metrics over traced ops."""
    per_op = [op_metrics([s for s in spans if s["op"] == op]) for op in ops]
    out = {k: statistics.fmean(m[k] for m in per_op) for k in per_op[0]}
    run_s, wall = out["exec.task_run_s"], out["exec.wall_s"]
    out["exec.slot_busy_ratio"] = run_s / (wall * cores) if wall > 0 else 0.0
    out["sinks.bytes_per_input_byte"] = (
        out["sinks.bytes_written"] / out["sinks.input_bytes"] if out["sinks.input_bytes"] else 0.0)
    out["trace.layer_sum_ratio_min"] = min(m["trace.layer_sum_ratio"] for m in per_op)
    out["trace.layer_sum_ratio_max"] = max(m["trace.layer_sum_ratio"] for m in per_op)
    out["trace.ops_within_10pct"] = statistics.fmean(
        abs(m["trace.layer_sum_ratio"] - 1.0) <= 0.1 for m in per_op)
    return out


def pipeline_stages(mine: list[dict]) -> dict[str, float]:
    """Split the pipeline span into reference stages: each wrapped call
    counts toward its stage, and the time pipeline.py spends after a
    call (actions it runs itself) toward that call's stage. What no
    stage claims, the time before the first wrapped call, is
    ``pipeline.unattributed_s``."""
    out = {f"pipeline.{s}_s": 0.0 for s in ("s01_ingest", "s02_03_features",
                                             "s04_05_train", "s06_deploy")}
    out["pipeline.unattributed_s"] = 0.0
    root = mine[0]
    if not root["name"].startswith("pipeline.run_reference_pipeline"):
        return out
    calls = sorted((s for s in mine if s["parent"] == root["id"]), key=lambda s: s["start"])
    seen: dict[str, int] = {}
    prev_end, stage = root["start"], "unattributed"
    for s in calls:
        out[f"pipeline.{stage}_s"] += s["start"] - prev_end
        fn = s["name"].split(".", 1)[1]
        stages = PIPELINE_CALLS[fn]
        stage = stages[min(seen.get(fn, 0), len(stages) - 1)]
        seen[fn] = seen.get(fn, 0) + 1
        out[f"pipeline.{stage}_s"] += s["end"] - s["start"]
        prev_end = s["end"]
    out[f"pipeline.{stage}_s"] += root["end"] - prev_end
    return out


# ------------------------------------------------------------------ main
def pin_environment() -> int:
    """Pin what the engine reads from the environment before it is
    imported: local[nproc] with nproc shuffle partitions (session.py
    defaults to 32), a 2g driver, Spark scratch and Python workers'
    import path inside the checkout. Returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)
    return nproc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("surface-sf0.1", "pipeline-sf1"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a checkout of the engine: missing {missing}")
        return 2

    nproc = pin_environment()

    sf1 = args.workload == "pipeline-sf1"
    dirs, gen_s = make_inputs(args.seed, sf1)
    sf_dir = dirs["sf1" if sf1 else "sf0.1"]
    log(f"inputs for seed {args.seed} ready in {gen_s:.2f}s")

    rss = PeakRss()
    t_setup = time.perf_counter()
    from big_data_backblaze_hard_drive_failure_spark.plans import QUERIES
    from big_data_backblaze_hard_drive_failure_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t_setup
    t_warm = time.perf_counter()
    warm_up(spark, args.workload, sf_dir, dirs["sf0.001"])
    warmup_s = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - t_setup
    log(f"set-up {setup_s:.2f}s (get_spark {get_spark_s:.2f}s)")

    from tracing import Tracer

    tracer = Tracer(spark, enabled=False)
    traced = Tracer(spark, enabled=True) if args.trace else None
    if args.workload == "pipeline-sf1":
        work = PipelineWorkload(spark, sf_dir, tracer)
        if traced:
            work.trace_calls()
        ops = ["run_reference_pipeline"]
    else:
        ops = surface_draw(sorted(QUERIES), args.seed)
        work = QueryWorkload(spark, sf_dir, tracer)

    latencies: list[float] = []  # untraced operation latencies
    passes: list[float] = []  # untraced pass wall times
    paired = {False: 0.0, True: 0.0}  # trace mode: the same ops, per mode
    errors = attempted = rounds = n_paired = 0

    def timed(name: str, traced_op: bool) -> float | None:
        nonlocal errors, attempted
        work.tracer = traced if traced_op else tracer
        if traced:
            traced.listen(traced_op)
        release_caches(spark)
        attempted += 1
        t0 = time.perf_counter()
        try:
            work.run(name)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            errors += 1
            log(f"FAILED {name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        dt = time.perf_counter() - t0
        log(f"{'traced ' if traced_op else ''}{name}: {dt:.3f}s")
        return dt

    t_run = time.perf_counter()
    if not args.trace:
        while len(passes) < MIN_PASSES[args.workload] or time.perf_counter() - t_run < args.seconds:
            t_pass = time.perf_counter()
            for name in ops:
                if (dt := timed(name, False)) is not None:
                    latencies.append(dt)
            passes.append(time.perf_counter() - t_pass)
            if len(passes) == 1:  # set-up and one pass, whatever the pass count
                rss.sample()
                peak_mb = rss.peak / 2**20
    else:
        # Every TRACE_PAIR_EVERY-th operation also runs untraced, right
        # before or after its traced run (the order alternating, so neither
        # side gets the other's warm codegen on balance); the paired
        # difference, scaled to the whole pass, is the tracing overhead.
        while rounds < MIN_TRACE_PASSES[args.workload] or time.perf_counter() - t_run < args.seconds:
            for i, name in enumerate(ops):
                if i % TRACE_PAIR_EVERY:
                    timed(name, True)
                    continue
                order = (False, True) if (i // TRACE_PAIR_EVERY + rounds) % 2 == 0 else (True, False)
                pair = {mode: timed(name, mode) for mode in order}
                if None not in pair.values():
                    for mode, dt in pair.items():
                        paired[mode] += dt
                    n_paired += 1
            rounds += 1
        traced.listen(False)
    release_caches(spark)
    rss.stop()

    t_check = time.perf_counter()
    n_failed = errors + len(work.check())
    log(f"checked outputs in {time.perf_counter() - t_check:.2f}s")

    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "sf_dir": os.path.relpath(sf_dir, ROOT), "revision": revision(),
        "spark": spark.version, "python": platform.python_version(), "nproc": nproc,
        "gen_s": gen_s, "cache_policy": CACHE_POLICY,
    }
    if args.trace:
        spans = traced.dump()
        traced_ops = sorted({s["op"] for s in spans if s["parent"] is None})
        metrics = layer_metrics(spans, traced_ops, nproc)
        metrics["session.get_spark_s"] = get_spark_s
        metrics["session.warmup_s"] = warmup_s
        per_pass = len(ops) / max(1, n_paired / rounds)
        metrics["trace.overhead_s"] = (paired[True] - paired[False]) / rounds * per_pass
        metrics["trace.overhead_ratio"] = (paired[True] - paired[False]) / paired[False]
        trace = {"env": env, "spans": spans, "plan_events": traced.plan_events,
                 "metrics": metrics, "paired_s": paired, "rounds": rounds}
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(trace, f)
        reported = {k: {"value": metrics[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        reported = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(passes), "unit": "s"},
            "query_p50_s": {"value": statistics.median(latencies), "unit": "s"},
            "query_p90_s": {"value": quantile(latencies, 90), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    record = {"env": env, "ops": ops, "latencies": latencies, "passes": passes,
              "failed": n_failed, "metrics": reported}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(record, f)
    log(json.dumps({k: record[k] for k in ("env", "passes", "failed")}))

    jvm = spark.sparkContext._gateway
    spark.stop()
    shutdown(jvm)
    print(json.dumps({
        "correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
        "metrics": reported,
    }))
    return 0


def shutdown(gateway) -> None:
    """Stop the JVM this run launched and wait for it to exit."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())

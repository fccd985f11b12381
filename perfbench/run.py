#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client driving the engine
in one process on ``local[$SPARK_GRAFT_CPUS]``.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 1 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``relational_mix``: seeded shuffles of short relational, TPC-H,
  reference, timeseries and maintenance queries over cached sf0.1 tables.
- ``llm_curation``: seeded shuffles of dedup, similarity, text, selection
  and curation queries over the sf0.1 ``documents``/``embeddings``.
- ``weather_incremental``: seeded hourly forecast batches through the
  reference pipeline into a growing parquet destination and an embedded
  in-memory Derby database over JDBC.

An operation is one query (plan build + collect) or one weather batch.
Every operation's output is checked after its timer stops: query results
against golden fingerprints computed by the DuckDB oracle
(perfbench/make_golden.py), weather sinks against the feed's model.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries per-layer metrics recorded by wrappers
installed from outside the engine (perfbench/tracing.py). Everything the
run writes stays under ``.perfbench_work/`` in the checkout: the
generated tables are cached there, the run's Spark/Derby/parquet scratch
lives in a per-run directory that is deleted at exit, and a details file
(per-operation latencies, spans) lands in ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PKG = "weather_data_data_pipeline_spark"

SF = 0.1
DATA_SEED = 20261016  # the query workloads' tables are one fixed corpus

# Oracle-bearing queries only (their golden fingerprints live in
# perfbench/golden.json); chosen to cover operators.{timeseries, joins,
# aggregates, ranking} and every relational plan module.
RELATIONAL_MIX = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "q14_promo_revenue_ratio",
    "weekly_avg_value",
    "tumbling_window_daily",
    "top_events_per_user_pruned",
    "weekly_cohort_retention",
    "range_join_incidents",
)
LLM_MIX = (
    "semantic_dedup_keep_capped",
    "dsir_score_frozen",
    "quality_classifier_frozen_scores",
    "bm25_search_topk",
    "exact_substring_mems",
    "doc_quality_deciles",
)
RELATIONAL_TABLES = ("region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem", "events")
LLM_TABLES = ("embeddings",)
WEATHER_CITIES = 250
# After one cold set-up that launches the JVM, the whole set-up (a new
# session, tuning, the data set-up step) runs this many more times per
# run; setup_s takes the median. A weather set-up costs about 5 s, a
# cache warm-up about 1 s, and a run must stay under a minute.
SETUP_REPS = 3
WEATHER_SETUP_REPS = 1
# A run measures at least this many query passes or weather batches,
# even when fewer outlast --seconds. A query's CPU time varies by about
# 10 % between runs, but it moves with the run: a second pass in each
# run left the spread of the CPU metrics over five seeds as it was.
MIN_PASSES = 1
MIN_BATCHES = 3
# The anchor job runs this many times after a warm-up; the bounded time
# metrics are engine CPU seconds scaled by ANCHOR_NOMINAL_CPU_S over the
# median anchor CPU time, i.e. CPU seconds at a fixed machine speed. The
# same VM ran 30 % faster for minutes at a time (fewer busy neighbours on
# the host's shared cores), and unscaled CPU time moved with it.
ANCHOR_REPS = 3
ANCHOR_NOMINAL_CPU_S = 2.0
# Untimed warm-up queries run this many at a time.
WARMUP_THREADS = 3


# ---------------------------------------------------------------------------
# process-tree memory


def _stat_fields(pid: int) -> list[str]:
    """/proc/<pid>/stat from field 3 (state) on; raises OSError once the
    process has exited."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    return stat[stat.rindex(")") + 2:].split()


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss_bytes(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and all its
    descendants, from /proc. PSS splits shared pages between the processes
    mapping them, so forked Python workers, and a child the JVM spawns,
    are not counted twice the way summed RSS would count them."""
    total = 0
    for pid in (root_pid, *_descendants(root_pid)):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass  # the process exited meanwhile
    return total


def engine_cpu_s() -> float:
    """CPU time the engine has used so far: this process's main thread
    (the client: py4j calls, result conversion, driver-side JSON work)
    plus every descendant process (the Spark JVM, Python workers) with
    the children each has reaped. Time the hypervisor steals from the
    VM is not charged to any process, so unlike wall time this does not
    grow with the neighbours' load. The memory sampler's thread is left
    out: it is the benchmark's, not the engine's."""
    tick = os.sysconf("SC_CLK_TCK")
    total = time.thread_time()  # called from the main thread
    for pid in _descendants(os.getpid()):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue  # exited meanwhile; its parent has reaped or will reap it
        # utime, stime, cutime, cstime: fields 14-17 of stat
        total += sum(int(x) for x in f[11:15]) / tick
    return total


class PeakMemory:
    """Background sampler of the process tree's memory (driver Python,
    Spark JVM, Python workers)."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, args=(interval,), daemon=True
        )

    def _run(self, interval: float) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(interval)

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, machine-wide."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# helpers


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with at
    least 10 samples beyond it once there are 100 samples; with fewer, no
    percentile from p90 up has 10 beyond it, and p90 (interpolated between
    the closest samples) is reported."""
    xs = sorted(latencies)
    n = len(xs)
    if n >= 100:
        return xs[n - 11], 100.0 * (n - 10) / n, 10
    value = statistics.quantiles(xs, n=10, method="inclusive")[-1] if n > 1 else xs[0]
    return value, 90.0, sum(x > value for x in xs)


def _driver_mem() -> str:
    """A quarter of physical memory, capped at 16g: the engine's 16g
    default exceeds small machines, which may have no swap."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(16, kb // 4 // 2**20))}g"


class Run:
    """State of one benchmark run: its scratch dir, session and tracer."""

    def __init__(self, args, scratch: Path) -> None:
        self.args = args
        self.scratch = scratch
        self.rng = random.Random(args.seed)
        self.tracer = None
        self.spark = None
        self.setup: dict[str, float] = {}
        self.latencies: list[float] = []
        self.cpu_times: list[float] = []
        self.op_stats: list[dict] = []
        # (operation id, message); id -1 marks an untimed warm-up step
        self.failures: list[tuple[int, str]] = []
        self.details: dict = {}

    # -- session ---------------------------------------------------------
    def start_session(self) -> float:
        """``get_spark``; the first call launches the JVM. Returns its
        duration."""
        from weather_data_data_pipeline_spark.session import get_spark

        java_opts = " ".join(
            (
                f"-Dderby.system.home={self.scratch}",
                f"-Dderby.stream.error.file={self.scratch}/derby.log",
                f"-Djava.io.tmpdir={self.scratch}",
                # a fixed-size heap, as a long-running service runs: heap
                # resizing otherwise adds run-to-run noise to latency and RSS
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
                "-Duser.timezone=UTC",
                "-XX:-UsePerfData",
                # C1 only: within a one-minute run the optimizing C2 tier
                # is still compiling during the timed operations (its
                # threads took 6 of every 10 CPU seconds in the weather
                # batches), so per-operation CPU drifted by a third; C1
                # settles during the warm-up
                "-XX:TieredStopAtLevel=1",
                # the whole heap is resident from the start: otherwise peak
                # memory depends on how far the collector happened to walk
                # the heap, and it spread 0.31 of its median over five runs
                "-XX:+AlwaysPreTouch",
            )
        )
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": str(self.scratch / "warehouse"),
                "spark.local.dir": str(self.scratch / "local"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        elapsed = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin pipe from the driver closes
            proc.stdin.close()
            proc.wait(timeout=60)

    def set_up(self, working_set_bytes: int, data_key: str, data_setup,
               reps: int = SETUP_REPS, reset=lambda: None) -> None:
        """Set the engine up 1 + ``reps`` times: ``get_spark``,
        ``tune_for_working_set``, then ``data_setup(k)`` (the data set-up
        step, recorded as ``data_key``). The first set-up launches the JVM
        and runs everything cold; it is kept apart as ``cold_s``. Before
        each later one, ``reset()`` drops the data set-up's state and the
        session is stopped, so the set-up starts a new session in the
        running JVM.
        ``setup_s`` and its parts are medians over those."""
        from pyspark import SparkContext

        from weather_data_data_pipeline_spark.session import tune_for_working_set

        times, cpus = [], []
        for k in range(1 + reps):
            if k:
                reset()
                self.spark.stop()
                SparkContext._jvm.System.gc()
            cpu = engine_cpu_s()
            get_spark_s = self.start_session()
            t = time.perf_counter()
            tune_for_working_set(self.spark, working_set_bytes)
            t1 = time.perf_counter()
            data_setup(k)
            t2 = time.perf_counter()
            times.append({"get_spark_s": get_spark_s, "tune_s": t1 - t, data_key: t2 - t1})
            cpus.append(engine_cpu_s() - cpu)
        self.details["setup_reps"] = times
        self.details["setup_cpu_reps"] = cpus
        self.setup["cold_s"] = sum(times[0].values())
        self.setup["wall_s"] = statistics.median(sum(r.values()) for r in times[1:])
        self.setup["cpu_s"] = statistics.median(cpus[1:])
        for key in times[0]:
            self.setup[key] = statistics.median(r[key] for r in times[1:])

    # -- one operation ---------------------------------------------------
    def op(self, i: int, name: str, body):
        """Time ``body()`` as operation ``i``; on a traced run, attribute
        its Spark jobs through a job group and its spans through the op
        id. Returns body's result, or None when it raised."""
        sc = self.spark.sparkContext
        group = f"perfbench-{i}"
        if self.tracer is not None:
            sc.setJobGroup(group, name)
            self.tracer.op = i
            self.tracer.counting = True
            calls0, s0 = self.tracer.py4j_calls, self.tracer.py4j_s
        cpu, steal = engine_cpu_s(), _steal_s()
        t = time.perf_counter()
        try:
            result = body()
        except Exception:  # an operation failing is a measured outcome
            result = None
            self.failures.append((i, f"{name}: {traceback.format_exc(limit=3)}"))
        lat = time.perf_counter() - t
        cpu, steal = engine_cpu_s() - cpu, _steal_s() - steal
        stats = {"op": i, "name": name, "latency_s": lat, "cpu_s": cpu, "steal_s": steal}
        if self.tracer is not None:
            self.tracer.counting = False
            self.tracer.op = None
            from tracing import job_group_stats

            stats["py4j_calls"] = self.tracer.py4j_calls - calls0
            stats["py4j_s"] = self.tracer.py4j_s - s0
            stats.update(job_group_stats(self.spark, group))
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.latencies.append(lat)
        self.cpu_times.append(cpu)
        self.op_stats.append(stats)
        return result


# ---------------------------------------------------------------------------
# query workloads


def fingerprint(rows, columns) -> dict:
    """Order-insensitive, type-strict fingerprint of a result: row count
    plus sha256 over the sorted rows normalized by the driver mirror's
    ``norm`` (Decimal kept apart from int, floats compared bit-exactly)."""
    import hashlib

    from driver_mirror import _sort_key, norm

    cols = sorted(columns)
    normed = sorted(
        (tuple(norm(r[c]) for c in cols) for r in rows), key=_sort_key
    )
    digest = hashlib.sha256(repr((cols, normed)).encode()).hexdigest()
    return {"rows": len(normed), "sha256": digest}


def run_queries(run: Run, mix: tuple[str, ...], tables: tuple[str, ...],
                documents: bool) -> dict:
    import datagen

    golden = json.loads((HERE / "golden.json").read_text())
    if golden["data_seed"] != DATA_SEED or golden["sf"] != SF:
        raise SystemExit("golden.json was built for another corpus")
    data = datagen.ensure(str(WORK / "data"), SF, DATA_SEED)

    from weather_data_data_pipeline_spark import registry
    from weather_data_data_pipeline_spark.sources import tables as tables_mod

    working_set = sum(
        os.path.getsize(f"{data}/{t}.parquet")
        for t in (*tables, *(("documents",) if documents else ()))
    )

    def warm(k: int) -> None:
        """Warm the engine's cache the way bench.py does."""
        tables_mod.warm_cache(run.spark, data, tables)
        if documents:
            tables_mod.warm_cache(run.spark, data, ("documents",),
                                  partitions=tables_mod.DOC_FANOUT)

    run.set_up(working_set, "warm_cache_s", warm, reset=tables_mod.clear_cache)
    spark = run.spark
    run.details["cached_mb"] = _cached_mb(spark)
    keep = _persistent_ids(spark)

    fns = {n: registry.get_query(n) for n in mix}
    if run.tracer is not None:
        fns = {n: _traced_plan(run.tracer, q) for n, q in fns.items()}
    else:
        fns = {n: q.fn for n, q in fns.items()}

    rows_returned = 0

    def one(i: int, name: str) -> None:
        nonlocal rows_returned
        fn = fns[name]
        build_jobs = []

        def body():
            df = fn(spark, data)
            if run.tracer is None:
                return df.columns, df.collect()
            build_jobs.append(len(
                spark.sparkContext.statusTracker().getJobIdsForGroup(f"perfbench-{i}")
            ))
            with run.tracer.span("spark.collect", "spark"):
                return df.columns, df.collect()

        out = run.op(i, name, body)
        _release_transients(spark, keep)
        if build_jobs:
            run.op_stats[-1]["build_jobs"] = build_jobs[0]
        if out is None:
            return
        got = fingerprint(out[1], out[0])
        rows_returned += got["rows"]
        if got != golden["queries"][name]:
            run.failures.append((i, f"{name}: result {got} != golden"))

    def warm_up(name: str) -> None:
        t = time.perf_counter()
        try:
            fns[name](spark, data).collect()
        except Exception:  # reported; the timed passes record their own
            run.failures.append((-1, f"{name}: {traceback.format_exc(limit=3)}"))
        run.details["warmup_s"][name] = time.perf_counter() - t

    # JIT warm-up: one untimed pass, so timed runs hit compiled code
    run.details["warmup_s"] = {}
    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        list(pool.map(warm_up, run.rng.sample(mix, len(mix))))
    _release_transients(spark, keep)

    # whole passes, every query once in a seeded order, so each run
    # samples every query equally often
    i = passes = 0
    while sum(run.latencies) < run.args.seconds or passes < MIN_PASSES:
        for name in run.rng.sample(mix, len(mix)):
            one(i, name)
            i += 1
        passes += 1
    run.details["rows_returned"] = rows_returned
    return {
        "rows": rows_returned,
        "bytes_stored_per_input_byte": run.details["cached_mb"] * 2**20 / working_set,
    }


def _traced_plan(tracer, q):
    module = q.fn.__module__.rsplit(".", 1)[-1]

    def build(spark, data):
        with tracer.span(f"plans.{module}.{q.name}", "plans"):
            return q.fn(spark, data)

    return build


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def _persistent_ids(spark) -> set[int]:
    return {int(r) for r in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _release_transients(spark, keep: set[int]) -> None:
    """Unpersist RDDs a query cached for itself and run a JVM GC, as
    bench.py does between runs, so one query's garbage does not land in
    the next one's latency."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet()):
        if int(rid) not in keep:
            jmap.get(rid).unpersist(False)
    spark.sparkContext._jvm.System.gc()


# ---------------------------------------------------------------------------
# weather workload


def run_weather(run: Run) -> dict:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    import weathergen

    from weather_data_data_pipeline_spark.pipeline import weather
    from weather_data_data_pipeline_spark.sources import jdbc

    feed = weathergen.WeatherFeed(run.args.seed, WEATHER_CITIES)
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    table = "weather_report_data"

    def window(b: int) -> tuple[str, str]:
        first = weathergen.FIRST_SLOT + b * weathergen.SLOT_SECONDS
        last = first + (weathergen.SLOTS_PER_BATCH - 1) * weathergen.SLOT_SECONDS
        day = lambda s: dt.datetime.fromtimestamp(s, dt.timezone.utc).date().isoformat()  # noqa: E731
        return day(first), day(last)

    def batch(b: int, payloads: list[dict], dest: str, url: str) -> None:
        spark = run.spark
        start, end = window(b)
        fact = weather.run_full_load(spark, payloads, dest, start, end)["fact"]
        if b == 0:
            jdbc.append(fact, url, table, props)
        else:
            derby = jdbc.read_table(spark, url, table, props)
            jdbc.append(weather.rows_to_append(fact, derby), url, table, props)

    # set-up k initialises its own pair of sinks: a parquet directory and
    # an in-memory Derby database
    dests = [str(run.scratch / f"dest{k}") for k in range(1 + WEATHER_SETUP_REPS)]
    urls = [f"jdbc:derby:memory:wx{k}" for k in range(1 + WEATHER_SETUP_REPS)]
    offered = appended = 0
    growth: list[float] = []
    dest_trace: list[tuple[int, int]] = []

    def fact_counts(dest: str) -> tuple[int, int]:
        """(rows, distinct dedup keys) in the parquet fact table, read
        with pyarrow, outside the engine."""
        keys = pa.concat_tables(
            pq.read_table(f, columns=weather.DEDUP_KEYS)
            for f in _files(f"{dest}/weather_report_data")
        )
        return keys.num_rows, keys.group_by(weather.DEDUP_KEYS).aggregate([]).num_rows

    def step(b: int, k: int, timed: bool) -> None:
        """Batch ``b`` into set-up ``k``'s sinks, then check them."""
        nonlocal offered, appended
        dest, url = dests[k], urls[k]
        payloads = feed.batch(b)
        batch_bytes = sum(len(json.dumps(p)) for p in payloads)
        reports_before = _files(f"{dest}/weekly_avg_temp_report_data")
        _, bytes_before = _tree(dest)
        rows_before, _ = fact_counts(dest)
        if timed:
            run.op(b, f"batch{b}", lambda: batch(b, payloads, dest, url))
        else:
            batch(b, payloads, dest, url)
        # -- checks, outside the timed path: the fact table holds exactly
        # the feed's distinct keys, and the new report rows match the model
        op = b if timed else -1
        rows_after, keys = fact_counts(dest)
        want = feed.distinct_keys_after(b)
        if rows_after != want or keys != want:
            run.failures.append((op, f"batch{b}: parquet fact holds {rows_after} rows, "
                                 f"{keys} distinct keys; expected {want}"))
        new_reports = sorted(_files(f"{dest}/weekly_avg_temp_report_data") - reports_before)
        got = pq.read_table(new_reports, columns=[
            "country", "city", "week", "average_temperature"]).to_pylist()
        if not _same_report([tuple(r.values()) for r in got], feed.weekly_avg_rows(b)):
            run.failures.append((op, f"batch{b}: weekly average report differs"))
        run.spark.sparkContext._jvm.System.gc()  # as between queries
        if not timed:
            return
        dest_trace.append(_tree(dest))
        growth.append((dest_trace[-1][1] - bytes_before) / batch_bytes)
        offered += sum(len(p["list"]) for p in payloads)
        appended += rows_after - rows_before

    payloads = feed.batch(0)

    def init(k: int) -> None:
        """Destination initialisation: the first full load into empty
        sinks."""
        batch(0, payloads, dests[k], f"{urls[k]};create=true")

    run.set_up(sum(len(json.dumps(p)) for p in payloads), "dest_init_s", init,
               reps=WEATHER_SETUP_REPS)
    spark = run.spark
    # the last set-up's sinks are the ones the batches grow
    last = WEATHER_SETUP_REPS
    for k in range(last):
        shutil.rmtree(dests[k])
        _drop_derby(spark, urls[k])
    # An untimed warm-up batch on the session the timed batches use:
    # without it the first timed batch took 10-25 % more CPU than the
    # next two, even after two warm-up batches on the cold set-up's
    # session (a new session starts new Python workers, among others).
    step(1, last, timed=False)
    b = 1
    while sum(run.latencies) < run.args.seconds or len(run.latencies) < MIN_BATCHES:
        b += 1
        step(b, last, timed=True)
    # Derby is checked once, after the last batch: a batch that lost or
    # duplicated a key leaves the final counts wrong, and every timed
    # batch is then counted as failed
    derby = _derby_counts(spark, jdbc, urls[last], table, props)
    want = feed.distinct_keys_after(b)
    if derby != (want, want):
        run.failures.extend(
            (i, f"after batch{b}: derby rows/keys {derby}, expected {want}")
            for i in range(2, b + 1))

    run.details.update(
        batches=b, rows_offered=offered, rows_appended=appended,
        dest_files=dest_trace[-1][0], dest_bytes=dest_trace[-1][1],
        dest_trace=dest_trace,
    )
    return {
        "rows": offered,
        "bytes_stored_per_input_byte": statistics.median(growth),
    }


def _files(path: str) -> set[str]:
    out = set()
    for d, _, names in os.walk(path):
        out.update(os.path.join(d, n) for n in names if n.endswith(".parquet"))
    return out


def _tree(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    sizes = [os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names]
    return len(sizes), sum(sizes)


def _derby_counts(spark, jdbc, url, table, props) -> tuple[int, int]:
    """(rows, distinct dedup keys) in the Derby sink, counted by Derby."""
    # Spark creates string columns as CLOB, which Derby cannot compare
    keys = 'CAST("country" AS VARCHAR(64)), CAST("city" AS VARCHAR(64)), "weatherDate"'
    row = jdbc.read_query(spark, url, (
        f"SELECT (SELECT COUNT(*) FROM {table}) AS n, (SELECT COUNT(*) FROM "
        f"(SELECT DISTINCT {keys} FROM {table}) d) AS k FROM SYSIBM.SYSDUMMY1"
    ), props).collect()[0]
    return int(row[0]), int(row[1])


def _drop_derby(spark, url: str) -> None:
    """Drop an in-memory Derby database; Derby reports success as an
    SQLException (state 08006)."""
    from py4j.protocol import Py4JJavaError

    try:
        spark.sparkContext._jvm.java.sql.DriverManager.getConnection(f"{url};drop=true")
    except Py4JJavaError as exc:
        if exc.java_exception.getSQLState() != "08006":
            raise


def _same_report(got: list[tuple], want: list[tuple]) -> bool:
    """Same (country, city, week) keys; averages within one unit of the
    last rounded place (HALF_UP ties can land either side of a binary
    double)."""
    g = {r[:3]: r[3] for r in got}
    return len(g) == len(got) == len(want) and all(
        r[:3] in g and abs(g[r[:3]] - r[3]) <= 0.01 + 1e-9 for r in want
    )


# ---------------------------------------------------------------------------
# reporting


def end_to_end(run: Run, extra: dict, peak_bytes: int) -> dict:
    """The bounded metrics. An operation's cost is the engine CPU time it
    takes (``engine_cpu_s``), not its wall time: on a shared VM the wall
    time of the same run moves by a third with the hypervisor's steal.
    Times are scaled to the machine speed at which the anchor job takes
    ANCHOR_NOMINAL_CPU_S."""
    scale = ANCHOR_NOMINAL_CPU_S / run.details["anchor_cpu_s"]
    cpu = [c * scale for c in run.cpu_times]
    value, pct, beyond = tail(cpu)
    run.details["op_cpu_tail"] = {"percentile": pct, "beyond": beyond, "samples": len(cpu)}
    return {
        "setup_s": (run.setup["cpu_s"] * scale, "s"),
        "op_cpu_s": (statistics.median(cpu), "s"),
        "op_cpu_tail_s": (value, "s"),
        "rows_per_cpu_s": (extra["rows"] / sum(cpu), "1/s"),
        "peak_rss_mb": (peak_bytes / 2**20, "MB"),
        "bytes_stored_per_input_byte": (extra["bytes_stored_per_input_byte"], "ratio"),
    }


def wall_clock(run: Run, extra: dict) -> dict:
    """Wall-time counterparts, printed and kept in the details file but
    not bounded: they move with the neighbours' load."""
    lat = run.latencies
    value, pct, beyond = tail(lat)
    run.details["op_tail"] = {"percentile": pct, "beyond": beyond, "samples": len(lat)}
    return {
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (value, "s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "rows_per_s": (extra["rows"] / sum(lat), "1/s"),
    }


def per_layer(run: Run) -> dict:
    from tracing import FUNCTION_LAYERS, OPERATOR_LAYERS

    tracer = run.tracer
    n = len(run.latencies)
    ops = {s["op"] for s in run.op_stats}
    self_s, incl, calls = tracer.self_times(ops)
    tot = lambda k: sum(s.get(k, 0.0) for s in run.op_stats)  # noqa: E731
    per_op = lambda v: v / n  # noqa: E731
    wall = sum(run.latencies)
    cores = run.spark.sparkContext.defaultParallelism
    d = run.details
    m = {
        "session.get_spark_s": (run.setup["get_spark_s"], "s"),
        "session.tune_s": (run.setup["tune_s"], "s"),
        "sources.tables.warm_cache_s": (run.setup.get("warm_cache_s", 0.0), "s"),
        "sources.tables.cached_mb": (d.get("cached_mb", 0.0), "MB"),
        "plans.build_s": (
            per_op(sum(v for k, v in incl.items() if k.startswith("plans."))), "s"),
        "plans.build_jobs": (per_op(tot("build_jobs")), "count"),
        "py4j.calls": (per_op(tot("py4j_calls")), "count"),
        "py4j.s": (per_op(tot("py4j_s")), "s"),
        "spark.jobs": (per_op(tot("jobs")), "count"),
        "spark.stages": (per_op(tot("stages")), "count"),
        "spark.tasks": (per_op(tot("tasks")), "count"),
        "spark.task_run_s": (per_op(tot("task_run_s")), "s"),
        "spark.task_cpu_s": (per_op(tot("task_cpu_s")), "s"),
        "spark.shuffle_write_bytes": (per_op(tot("shuffle_write_bytes")), "bytes"),
        "spark.shuffle_read_bytes": (per_op(tot("shuffle_read_bytes")), "bytes"),
        "spark.spill_bytes": (per_op(tot("spill_bytes")), "bytes"),
        "spark.gc_s": (per_op(tot("gc_s")), "s"),
        "spark.core_busy_ratio": (tot("task_run_s") / (wall * cores), "ratio"),
    }
    for kind, names in (("functions", FUNCTION_LAYERS), ("operators", OPERATOR_LAYERS)):
        for mod in names:
            layer = f"{kind}.{mod}"
            m[f"{layer}.calls"] = (per_op(calls.get(layer, 0)), "count")
            m[f"{layer}.s"] = (per_op(self_s.get(layer, 0.0)), "s")
    offered = d.get("rows_offered", 0)
    m.update(
        {
            "pipeline.weather.payloads_to_df_s": (
                per_op(incl.get("pipeline.weather.payloads_to_df", 0.0)), "s"),
            "pipeline.weather.append_idempotent_s": (
                per_op(incl.get("pipeline.weather.append_idempotent", 0.0)), "s"),
            "pipeline.weather.rows_offered": (per_op(offered), "count"),
            "pipeline.weather.rows_appended": (per_op(d.get("rows_appended", 0)), "count"),
            "pipeline.weather.dedup_reject_ratio": (
                1 - d["rows_appended"] / offered if offered else 0.0, "ratio"),
            "sources.dest_files": (d.get("dest_files", 0), "count"),
            "sources.dest_bytes": (d.get("dest_bytes", 0), "bytes"),
            "sources.jdbc.read_s": (per_op(incl.get("sources.jdbc.read_table", 0.0)), "s"),
            "sources.jdbc.append_s": (per_op(incl.get("sources.jdbc.append", 0.0)), "s"),
            "trace.op_p50_s": (statistics.median(run.latencies), "s"),
            "trace.op_cpu_s": (statistics.median(run.cpu_times)
                               * ANCHOR_NOMINAL_CPU_S / d["anchor_cpu_s"], "s"),
        }
    )
    return m


# ---------------------------------------------------------------------------


def anchor(spark) -> tuple[float, float]:
    """bench.py's drift anchor (hash + sort of 4M longs on 8 partitions),
    a job of Spark's alone that the engine's code does not touch: (wall
    seconds, engine CPU seconds), each the median of ANCHOR_REPS runs
    after one warm-up."""
    from pyspark.sql import functions as F

    def once() -> tuple[float, float]:
        cpu, t = engine_cpu_s(), time.perf_counter()
        (
            spark.range(0, 4_000_000, 1, 8)
            .select(F.xxhash64("id").alias("h"))
            .sortWithinPartitions("h")
            .write.format("noop").mode("overwrite").save()
        )
        return time.perf_counter() - t, engine_cpu_s() - cpu

    once()
    reps = [once() for _ in range(ANCHOR_REPS)]
    return statistics.median(w for w, _ in reps), statistics.median(c for _, c in reps)


WORKLOADS = {
    "relational_mix": lambda run: run_queries(run, RELATIONAL_MIX, RELATIONAL_TABLES, False),
    "llm_curation": lambda run: run_queries(run, LLM_MIX, LLM_TABLES, True),
    "weather_incremental": run_weather,
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PKG).is_dir() or not (HERE / "golden.json").is_file():
        print(f"perfbench: {ROOT / PKG} or golden.json missing; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    sys.dont_write_bytecode = True
    sys.path[:0] = [str(ROOT), str(HERE), str(ROOT / "scripts")]
    WORK.mkdir(exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK))
    for k, v in {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
    }.items():
        os.environ.setdefault(k, v)
    os.environ.update(
        TMPDIR=str(scratch), SPARK_LOCAL_DIRS=str(scratch / "local"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    tempfile.tempdir = str(scratch)
    cwd = os.getcwd()
    os.chdir(scratch)  # anything Spark or Derby writes relative lands here

    run = Run(args, scratch)
    if args.trace:
        from tracing import Tracer

        run.tracer = Tracer()
        run.tracer.install_py4j()
        run.tracer.install_layers()  # before registry imports the plans
    try:
        steal0 = _steal_s()
        with PeakMemory() as mem:
            extra = WORKLOADS[args.workload](run)
        run.details["steal_s"] = _steal_s() - steal0
        run.details["anchor_s"], run.details["anchor_cpu_s"] = anchor(run.spark)
        metrics = per_layer(run) if args.trace else end_to_end(run, extra, mem.peak)
        wall = wall_clock(run, extra)
    finally:
        run.stop_session()
        os.chdir(cwd)
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = len(run.latencies)
    failed = len({op for op, _ in run.failures if op >= 0})
    results = WORK / "results"
    results.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    details = {
        "args": vars(args), "setup": run.setup, "details": run.details,
        "ops": run.op_stats, "failures": run.failures,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "wall_clock": {k: v for k, (v, _) in wall.items()},
    }
    (results / f"{tag}.json").write_text(json.dumps(details, indent=1, default=str))
    if run.tracer is not None:
        run.tracer.dump(str(results / f"{tag}.spans.json"))

    for op, msg in run.failures:
        print(f"FAILED op {op} {msg}", file=sys.stderr)
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print(f"failed_ops_ratio = {failed / max(attempted, 1):.6g} ({failed}/{attempted})")
    if "op_cpu_tail" in run.details:
        print(f"op_cpu_tail_s sample = {run.details['op_cpu_tail']}")
    for k, (v, unit) in wall.items():
        print(f"{k} = {v:.6g} {unit} (wall clock, unbounded)")
    print(f"op_tail_s sample = {run.details['op_tail']}")
    print(f"set-up wall time = {run.setup['wall_s']:.4g} s (wall clock, unbounded)")
    cold = run.details["setup_reps"][0]
    print(f"cold set-up = {run.setup['cold_s']:.4g} s wall, of which JVM launch and "
          f"get_spark {cold['get_spark_s']:.4g} s (diagnostic; setup_s excludes it)")
    print(f"anchor_s = {run.details['anchor_s']:.4f} s, anchor_cpu_s = "
          f"{run.details['anchor_cpu_s']:.4f} s, steal_s = "
          f"{run.details['steal_s']:.2f} s (machine-drift diagnostics)")
    print(f"output check: {'FAILED' if run.failures else 'ok'}")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads and the measurement loop around each.

Every run has the same shape:

1. generate the inputs from the seed (untimed);
2. set up ``SETUPS`` times: start a Spark session (the first start
   also launches the JVM), construct the engine and resolve the inputs.
   ``setup_s`` is the median; the last session is the one measured;
3. the first pass at the target scale, timed on its own and reported
   as the ``first_pass_s`` annotation: it pays the cold JIT and fills
   the engine's per-session caches; the batch workload then runs
   ``WARM_PASSES`` more passes untimed;
4. the measured region, ``--seconds`` long (whole passes for the batch
   workloads, an open-loop replay for the stream);
5. outside any timed region, every output is compared with its DuckDB
   oracle.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import datagen
import host
import oracle
import tracing as tr

SETUPS = 5
WARM_PASSES = 1
STREAM_RATE = 4.0           # chunk files per second; see README.md
STREAM_SF = 0.025
DATAPIPE_FUNCS = ("dsir_resample",)


@dataclass(frozen=True)
class BatchWorkload:
    name: str
    sf: float
    queries: tuple[str, ...]


BATCH = BatchWorkload("batch_sf0.1", 0.1, (
    "q1_pricing_summary", "q3_top_revenue", "q13_custdist_cogroup",
    "nested_foreach_distinct", "events_props_json", "dsir_resample"))
STREAM = "stream_events"
WORKLOADS = (BATCH.name, STREAM)


# ------------------------------------------------------------ statistics

def median(vals) -> float:
    return statistics.median(vals) if vals else 0.0


def pct(vals, q: int) -> float:
    """The q-th percentile, linear between order statistics."""
    if len(vals) < 2:
        return float(vals[0]) if vals else 0.0
    return statistics.quantiles(vals, n=100, method="inclusive")[q - 1]


# ------------------------------------------------------------ spark

def start_spark(work: str, trace: bool, extra: dict[str, str] | None = None):
    from pyspark.sql import SparkSession
    n = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    b = (SparkSession.builder.master(f"local[{n}]").appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         # no hsperfdata file in /tmp: a run writes only inside its work
         # directory
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 "-XX:-UsePerfData")
         .config("spark.sql.streaming.numRecentProgressUpdates", "10000"))
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(work, "eventlog"))
             .config("spark.eventLog.compress", "false"))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup_sessions(work: str, trace: bool, prepare, extra=None):
    """Set up ``SETUPS`` times; returns the last session, what
    ``prepare`` returned for it, and every set-up time."""
    times, spark, prepared = [], None, None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_spark(work, trace, extra)
        prepared = prepare(spark)
        times.append(time.perf_counter() - t0)
    return spark, prepared, times


# ------------------------------------------------------------ batch

@dataclass
class QueryRun:
    query: str
    pass_no: int
    build_s: float = 0.0
    exec_s: float = 0.0
    rows: int = 0
    ok: bool = False
    error: str = ""
    jobs_build: int = 0
    jobs_exec: int = 0

    @property
    def qid(self) -> str:
        return f"{self.pass_no}:{self.query}"

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Pass:
    no: int
    runs: list[QueryRun] = field(default_factory=list)

    @property
    def total_s(self) -> float:
        return sum(r.total_s for r in self.runs)


def oracle_sql(entry, data: str) -> dict[str, str]:
    """``entry.oracle_sql(data)`` without its compression_ratio oracle,
    which no workload runs and which writes a fixture file to /tmp."""
    zlib_oracle = entry._zlib_oracle_sql
    entry._zlib_oracle_sql = lambda sf_dir=None: None
    try:
        return entry.oracle_sql(data)
    finally:
        entry._zlib_oracle_sql = zlib_oracle


def run_batch(wl: BatchWorkload, seed: int, seconds: float, trace: bool,
              work: str) -> dict:
    import __spark_entry__ as entry
    data = os.path.join(work, "data")
    datagen.write(data, wl.sf, seed)
    fns = entry.queries()
    sql = oracle_sql(entry, data)
    expected = oracle.duckdb_rows(data, {q: sql[q] for q in wl.queries})
    order_rng = random.Random(seed)

    def prepare(spark):
        import piglet_spark as pg
        pg.PigEngine(spark)
        for t in sorted(os.listdir(data)):
            spark.read.parquet(os.path.join(data, t)).schema
        return None

    with host.MemSampler() as mem:
        spark, _, setups = setup_sessions(work, trace, prepare)
        jobs = tr.JobCounter(spark)
        tracer = tr.Tracer(spark) if trace else None
        if tracer:
            tracer.install()

        def one_pass(no: int) -> Pass:
            order = list(wl.queries)
            order_rng.shuffle(order)
            p = Pass(no)
            for q in order:
                r = QueryRun(q, no)
                if tracer:
                    tracer.query_id = r.qid
                try:
                    jobs.set(r.qid, "build")
                    t0 = time.time()
                    df = fns[q](spark, data)
                    jobs.set(r.qid, "exec")
                    t1 = time.time()
                    rows = df.collect()
                    t2 = time.time()
                    r.build_s, r.exec_s = t1 - t0, t2 - t1
                    r.rows = len(rows)
                    r.ok, r.error = oracle.compare(rows, df.columns,
                                                   expected[q])
                except Exception as e:  # a failing query is counted
                    r.error = f"{type(e).__name__}: {str(e)[:300]}"
                    traceback.print_exc(file=sys.stderr)
                finally:
                    jobs.clear()
                r.jobs_build = jobs.count(r.qid, "build")
                r.jobs_exec = jobs.count(r.qid, "exec")
                p.runs.append(r)
            return p

        first = one_pass(0)
        # the JIT keeps speeding the queries up over the next pass
        # (measured: pass 1 about 20 % slower than passes 2-4), so
        # WARM_PASSES more run untimed before the measured region
        warm = [one_pass(1 + i) for i in range(WARM_PASSES)]
        cpu0, t0 = host.cpu_jiffies(), time.perf_counter()
        passes: list[Pass] = []
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(one_pass(1 + WARM_PASSES + len(passes)))
        measured_s = time.perf_counter() - t0
        noise = host.cpu_shares(cpu0, host.cpu_jiffies())
        if tracer:
            tracer.uninstall()
        app_id = spark.sparkContext.applicationId
        spark.stop()

    runs = [r for p in [first, *warm, *passes] for r in p.runs]
    attempted = len(runs)
    failed = sum(not r.ok for r in runs)
    qs = [r.total_s for p in passes for r in p.runs]
    e2e = {
        # one pass made of each query's median over the measured passes
        "total_s": sum(median([r.total_s for p in passes for r in p.runs
                               if r.query == q]) for q in wl.queries),
        # closed loop: a query is due when it is submitted, so its
        # latency is its build plus its timed action
        "latency_s.p50": median(qs), "latency_s.p90": pct(qs, 90),
        "setup_s": median(setups),
    }
    detail = {
        "peak_pss_mb": mem.peak / 2**20,
        "jvm_peak_pss_mb": mem.jvm_peak / 2**20,
        "workload": wl.name, "seed": seed, "sf": wl.sf,
        "passes": len(passes), "query_samples": len(qs),
        "measured_s": measured_s, "setup_all_s": setups,
        "first_pass_s": first.total_s,
        "failed_frac": failed / attempted, **noise,
        "errors": {r.qid: r.error for r in runs if r.error},
        "queries": {r.qid: {"build_s": r.build_s, "exec_s": r.exec_s,
                            "rows": r.rows, "jobs_build": r.jobs_build,
                            "jobs_exec": r.jobs_exec}
                    for r in runs},
        "total_s": e2e["total_s"],
    }
    layers = None
    if trace:
        log = tr.EventLog(os.path.join(work, "eventlog"), app_id)
        layers = batch_layers(log, tracer, passes, detail["queries"])
        layers["spark.peak_pss_mb"] = detail["peak_pss_mb"]
    return {"attempted": attempted, "failed": failed, "e2e": e2e,
            "layers": layers, "detail": detail}


def batch_layers(log: tr.EventLog, tracer: tr.Tracer, passes: list[Pass],
                 per_query: dict) -> dict[str, float]:
    """Per-layer metrics: per-pass sums (counts) over each measured
    pass, then the median over passes. Also adds each query's job,
    stage and task counts to ``per_query`` for the trace self-check."""
    for qid, d in per_query.items():
        mine = lambda q, ph, qid=qid: q == qid   # noqa: E731
        d["jobs_all"] = len(log.jobs_in(mine))
        d["jobs_datapipe"] = len(log.jobs_in(
            lambda q, ph, qid=qid: q == qid and ph.startswith("datapipe.")))
        stages = log.stages_in(mine)
        d["stages"] = len(stages)
        d["tasks"] = sum(s.tasks for s in stages)

    per_pass: list[dict[str, float]] = []
    for p in passes:
        qids = {r.qid for r in p.runs}
        spans = [s for s in tracer.spans if s.query_id in qids]

        def span_sum(prefix, attr="dur", spans=spans):
            return sum(getattr(s, attr) for s in spans
                       if s.name.startswith(prefix))

        def jobs(pred, qids=qids):
            return log.jobs_in(lambda q, ph: q in qids and pred(ph))

        def job_s(js):
            return sum(j.end - j.submit for j in js)

        build = jobs(lambda ph: ph == "build")
        dp = jobs(lambda ph: ph.startswith("datapipe."))
        ex = jobs(lambda ph: ph == "exec")
        m = {
            "plans.parse_s": span_sum("plans.parse"),
            "plans.rewrite_s": span_sum("plans.rewrite"),
            "plans.ops": span_sum("plans.rewrite", "count"),
            "operators.build_s": span_sum("operators.execute", "self_s"),
            "operators.build_jobs": len(build),
            "operators.build_job_s": job_s(build),
            "datapipe.call_s": span_sum("datapipe."),
            "datapipe.build_jobs": len(dp),
            "datapipe.build_job_s": job_s(dp),
        }
        for fn in DATAPIPE_FUNCS:
            fjobs = jobs(lambda ph, fn=fn: ph == f"datapipe.{fn}")
            m[f"datapipe.{fn}.call_s"] = span_sum(f"datapipe.{fn}")
            m[f"datapipe.{fn}.build_jobs"] = len(fjobs)
            m[f"datapipe.{fn}.build_job_s"] = job_s(fjobs)
        exec_stages = log.stages_in(
            lambda q, ph, qids=qids: q in qids and ph == "exec")
        sm = tr.spark_metrics(exec_stages)
        rows_out = sum(r.rows for r in p.runs)
        plan_s = 0.0
        for r in p.runs:
            js = [j for j in ex if j.group == tr.group_id(r.qid, "exec")]
            plan_s += r.exec_s - tr.union_s([(j.submit, j.end) for j in js])
        sm["spark.exec_jobs"] = len(ex)
        sm["spark.exec_plan_s"] = plan_s
        sm["spark.records_read_per_row_out"] = (
            sm.pop("_records_read") / rows_out if rows_out else 0.0)
        m.update(sm)
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out.update({k: 0.0 for k in STREAMING_LAYERS})
    return out


STREAMING_LAYERS = (
    "streaming.batches", "streaming.batch_s", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.wal_commit_s",
    "streaming.state_rows", "streaming.state_bytes",
    "streaming.rows_dropped_late")


# ------------------------------------------------------------ stream

STREAM_SCRIPT = """
SET piglet.cep.partition_key 'user_id';
E = LOAD '{watch}' USING PigStorage(',') AS (event_id:long, user_id:long,
    ts:datetime, event_type:chararray, value:double) TIMESTAMP(ts);
W = WINDOW E RANGE 3600 SECONDS;
G = GROUP W BY event_type;
C = FOREACH G GENERATE group AS event_type, COUNT(W) AS n;
M = MATCH_EVENT E PATTERN SEQ(ERR, CLK)
    WITH (ERR: event_type == 'error', CLK: event_type == 'click')
    WITHIN 2 HOURS;
P = FOREACH M GENERATE ERR::event_id AS err_id, CLK::event_id AS clk_id,
    ERR::user_id AS user_id;
"""
# sink name -> (alias, output mode)
STREAM_SINKS = {"pb_windows": ("C", "complete"), "pb_cep": ("P", "append")}
WINDOW_SQL = """
SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts))::BIGINT AS ws, event_type,
       count(*) AS n
FROM events GROUP BY ALL
"""


def stage_chunks(events_parquet: str, stage: str, n_chunks: int) -> list[str]:
    """Split the events table, in event-time order, into ``n_chunks``
    CSV files; returns their names in delivery order."""
    import pyarrow.parquet as pq
    t = pq.read_table(events_parquet).sort_by("ts")
    ts = [x.strftime("%Y-%m-%d %H:%M:%S.%f") for x in
          t.column("ts").to_pylist()]
    cols = [t.column(c).to_pylist()
            for c in ("event_id", "user_id", "event_type", "value")]
    os.makedirs(stage, exist_ok=True)
    names, n = [], t.num_rows
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        name = f"chunk_{i:05d}.csv"
        with open(os.path.join(stage, name), "w") as fh:
            for j in range(lo, hi):
                fh.write(f"{cols[0][j]},{cols[1][j]},{ts[j]},"
                         f"{cols[2][j]},{cols[3][j]}\n")
        names.append(name)
    return names


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p
            for p in q.recentProgress]


def _commit_time(p: dict) -> float:
    from datetime import datetime
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1e3


def _files_by_batch(checkpoint: str) -> dict[str, int]:
    """chunk file name -> id of the micro-batch that read it, from the
    file source's metadata log in the query's checkpoint."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def run_stream(seed: int, seconds: float, trace: bool, work: str) -> dict:
    import __spark_entry__ as entry
    data = os.path.join(work, "data")
    datagen.write(data, STREAM_SF, seed, only=("events",))
    n_live = max(2, math.ceil(seconds * STREAM_RATE))
    stage, watch = os.path.join(work, "stage"), os.path.join(work, "watch")
    chunks = stage_chunks(os.path.join(data, "events.parquet"), stage,
                          1 + n_live)
    expected = oracle.duckdb_rows(data, {"pb_windows": WINDOW_SQL,
                                         "pb_cep": entry.CEP_SEQ_SQL})

    def prepare(spark):
        import piglet_spark as pg
        os.makedirs(watch, exist_ok=True)
        eng = pg.PigEngine(spark, options={"streaming": True})
        eng.run(STREAM_SCRIPT.format(watch=watch))
        return {sink: eng.df(alias) for sink, (alias, _) in
                STREAM_SINKS.items()}

    utc = {"spark.sql.session.timeZone": "UTC"}
    queries = {}
    with host.MemSampler() as mem:
        spark, dfs, setups = setup_sessions(work, trace, prepare, utc)
        errors: dict[str, str] = {}
        t_first = time.time()
        for sink, (_, mode) in STREAM_SINKS.items():
            queries[sink] = (
                dfs[sink].writeStream.format("memory").queryName(sink)
                .outputMode(mode)
                .option("checkpointLocation",
                        os.path.join(work, "chk", sink))
                .start())
        os.rename(os.path.join(stage, chunks[0]),
                  os.path.join(watch, chunks[0]))
        for q in queries.values():
            q.processAllAvailable()
        first_pass_s = time.time() - t_first

        cpu0 = host.cpu_jiffies()
        t0 = time.time()
        due: dict[str, float] = {}
        late: list[float] = []
        for i, name in enumerate(chunks[1:]):
            due[name] = t0 + i / STREAM_RATE
            wait = due[name] - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(stage, name), os.path.join(watch, name))
            late.append(time.time() - due[name])
        for sink, q in queries.items():
            try:
                q.processAllAvailable()
            except Exception as e:  # a failing stream is counted
                errors[sink] = f"{type(e).__name__}: {str(e)[:300]}"
        t_end = time.time()
        noise = host.cpu_shares(cpu0, host.cpu_jiffies())

        progress = {s: _progress(q) for s, q in queries.items()}
        read_by = {s: _files_by_batch(os.path.join(work, "chk", s))
                   for s in queries}
        failed = 0
        for sink in STREAM_SINKS:
            if sink in errors:
                failed += 1
                continue
            if sink == "pb_windows":
                df = spark.sql("SELECT unix_timestamp(__window.start) AS ws,"
                               " event_type, n FROM pb_windows")
            else:
                df = spark.table(sink)
            ok, why = oracle.compare(df.collect(), df.columns, expected[sink])
            if not ok:
                failed += 1
                errors[sink] = why
        for q in queries.values():
            q.stop()
        app_id = spark.sparkContext.applicationId
        spark.stop()

    commit = {s: {p["batchId"]: _commit_time(p) for p in progress[s]}
              for s in queries}
    lags = []
    for name in chunks[1:]:
        done = [commit[s].get(read_by[s].get(name)) for s in queries]
        if None not in done:
            lags.append(max(done) - due[name])
    live = {s: [p for p in progress[s] if _commit_time(p) >= t0]
            for s in queries}
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3
            for ps in live.values() for p in ps]
    e2e = {
        # one replay pass: the micro-batches' busy time
        "total_s": sum(trig),
        # open loop: from when a chunk was due to land until the later
        # of the two queries committed the micro-batch that read it
        "latency_s.p50": median(lags), "latency_s.p90": pct(lags, 90),
        "setup_s": median(setups),
    }
    attempted = len(STREAM_SINKS)
    detail = {
        "peak_pss_mb": mem.peak / 2**20,
        "jvm_peak_pss_mb": mem.jvm_peak / 2**20,
        "workload": STREAM, "seed": seed, "rate_files_per_s": STREAM_RATE,
        "chunks": len(chunks) - 1,
        "lag_samples": len(lags), "batch_samples": len(trig),
        "measured_s": t_end - t0, "setup_all_s": setups,
        "first_pass_s": first_pass_s,
        "gen_late_s.max": max(late) if late else 0.0,
        "failed_frac": failed / attempted, **noise, "errors": errors,
        "total_s": e2e["total_s"],
    }
    layers = None
    if trace:
        log = tr.EventLog(os.path.join(work, "eventlog"), app_id)
        layers = stream_layers(log, live, t0, t_end)
        layers["spark.peak_pss_mb"] = detail["peak_pss_mb"]
    return {"attempted": attempted, "failed": failed, "e2e": e2e,
            "layers": layers, "detail": detail}


def stream_layers(log: tr.EventLog, live: dict[str, list[dict]],
                  t0: float, t1: float) -> dict[str, float]:
    ps = [p for v in live.values() for p in v]

    def dur(key):
        return median([p["durationMs"].get(key, 0) / 1e3 for p in ps])

    last = [v[-1] for v in live.values() if v]
    state = [op for p in last for op in p.get("stateOperators", [])]
    out = {k: 0.0 for k in LAYER_METRICS}
    jobs = log.jobs_between(t0, t1)
    sm = tr.spark_metrics(log.stages_of(jobs))
    sm.pop("_records_read")
    out.update(sm)
    out["spark.exec_jobs"] = len(jobs)
    out.update({
        "streaming.batches": len(ps),
        "streaming.batch_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": median(
            [(p["durationMs"].get("walCommit", 0)
              + p["durationMs"].get("commitOffsets", 0)) / 1e3 for p in ps]),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0)
                                    for op in state),
        "streaming.state_bytes": sum(op.get("memoryUsedBytes", 0)
                                     for op in state),
        "streaming.rows_dropped_late": sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in ps for op in p.get("stateOperators", [])),
    })
    return out


# ------------------------------------------------------------ metric names

E2E_METRICS = {
    "total_s": "s", "latency_s.p50": "s", "latency_s.p90": "s",
    "setup_s": "s",
}
LAYER_METRICS = {
    "plans.parse_s": "s", "plans.rewrite_s": "s", "plans.ops": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.build_job_s": "s",
    "datapipe.call_s": "s", "datapipe.build_jobs": "count",
    "datapipe.build_job_s": "s",
    **{f"datapipe.{fn}.{m}": u for fn in DATAPIPE_FUNCS
       for m, u in (("call_s", "s"), ("build_jobs", "count"),
                    ("build_job_s", "s"))},
    "spark.exec_jobs": "count", "spark.exec_stages": "count",
    "spark.exec_tasks": "count", "spark.exec_plan_s": "s",
    "spark.run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.cpu_util": "ratio", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.records_read_per_row_out": "ratio",
    "spark.failed_tasks": "count", "spark.python_s": "s",
    "spark.python_boot_s": "s", "spark.peak_pss_mb": "MB",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes", "streaming.rows_dropped_late": "count",
}


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    if name == BATCH.name:
        return run_batch(BATCH, seed, seconds, trace, work)
    if name == STREAM:
        return run_stream(seed, seconds, trace, work)
    raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")

"""Benchmark for the ingest product path and the query registry.

    python3 perfbench/run.py --workload ingest_waves --seed 1 --seconds 24 --trace 0

Workloads (closed loops, one client; see README.md):

- ``ingest_waves``: seeded gzip-JSON waves land one at a time and each is
  ingested by ``IngestPipeline.run_once`` into one growing warehouse.
- ``query_mix``: eleven registry queries (seven relational, four LLM-data)
  over seeded sf0.1 tables, in a seed-shuffled order each pass; each query
  is ``QUERIES[name].fn`` (plan build) then a noop-sink write (execution).

Set-up (session start, input generation, warm-up) is timed as ``setup_s``;
the query mix is checked against the DuckDB oracle during their warm-up
pass and the warehouse is checked after the last wave, both outside the
timed window. ``--trace 1`` turns on Spark's event log and reports the
per-layer metrics instead of the end-to-end ones. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aws_snowflake_kinesis_airflow_pipeline_spark"
SF = 0.1
EVENTS_PER_WAVE = 20_000
#: Warm-up waves, sized by measurement on a 4-core host: the first wave pays
#: class loading and the first code generation (11-15 s even at 5,000
#: events); full-size waves then fall ~5 -> 4 -> 3.5 s, and after three of
#: them the timed waves drift down only mildly. Four 5,000-event waves alone
#: left the first timed waves 25-50% slower than the last ones.
WARMUP_SIZES = [5_000] + [EVENTS_PER_WAVE] * 3
WARMUP_WAVES = len(WARMUP_SIZES)

#: Relational queries: the reference suite's summary, anti-join and
#: duplicate operators (the ones ingest writes through), TPC-H Q1 and Q3,
#: a five-table join and a subquery-filter pack. Plan build and job
#: scheduling, no Python workers.
RELATIONAL_QUERIES = (
    "ref_daily_event_summary",
    "ref_insert_dedup_anti_join",
    "ref_duplicate_event_ids",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "b2_multiway_join_revenue_by_nation",
    "b_subquery_filters",
)
#: LLM-data queries: a pandas UDF in Python/Arrow workers (token counts),
#: PII redaction, and two that build an index per query (BM25 postings,
#: n-gram decontamination). An odd-sized mix puts the median on one query's
#: copies rather than between two queries of different cost.
LLM_QUERIES = (
    "b17_pandas_udf_token_count",
    "c21_pii_redaction",
    "c27_bm25_search",
    "c20_benchmark_decontamination",
)
QUERY_MIX = RELATIONAL_QUERIES + LLM_QUERIES
WORKLOADS = ("ingest_waves", "query_mix")
#: Timed operations per run are fixed from --seconds and these nominal
#: durations on a 4-core host, not from the clock, so a slow host or a
#: slow change does not alter which operations are sampled: early
#: executions still speed up as the JVM warms, and a run that stopped one
#: pass earlier would report a different median.
NOMINAL_WAVE_S = 2.8
NOMINAL_PASS_S = 7.5
INGEST_ONLY = (
    "streaming.process_batch_s",
    "streaming.engine_s",
    "streaming.batches_per_wave",
    "sources.input_bytes_per_landed_byte",
    "storage.bytes_written_per_wave",
    "storage.events_files",
    "storage.stored_bytes_per_landed_byte",
)
SPARK_METRICS = (
    ("jobs", "jobs", 1),
    ("stages", "stages", 1),
    ("tasks", "tasks", 1),
    ("task_run_s", "task_run_ms", 1e-3),
    ("task_cpu_s", "task_cpu_ns", 1e-9),
    ("gc_s", "gc_ms", 1e-3),
    ("shuffle_read_bytes", "shuffle_read_bytes", 1),
    ("shuffle_write_bytes", "shuffle_write_bytes", 1),
    ("spill_bytes", "spill_bytes", 1),
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- process environment ---------------------------------------------------


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside its work dir, and let Spark's
    Python workers import the package from any working directory."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, trace: bool):
    from aws_snowflake_kinesis_airflow_pipeline_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        f" -Dderby.system.home={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
            }
        )
    return get_spark(app_name="perfbench", cpus=cores(), extra_conf=conf)


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the driver JVM (local mode: the only JVM)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_bytes(path: str, pattern: str = "**/*") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` (no dot/underscore
    bookkeeping files such as ``_SUCCESS`` or ``.crc``)."""
    total = n = 0
    for f in glob.glob(os.path.join(path, pattern), recursive=True):
        base = os.path.basename(f)
        if os.path.isfile(f) and not base.startswith((".", "_")):
            total += os.path.getsize(f)
            n += 1
    return total, n


# -- workloads -------------------------------------------------------------


class Run:
    """State shared by one workload run: the tracer, the op spans that
    the timed window produced, and the correctness bookkeeping."""

    def __init__(self, args, work: str):
        from eventlog import Tracer

        self.args = args
        self.work = work
        self.tracer = Tracer()
        self.ops: list = []  # timed op spans (a wave or a query)
        self.failed_ops = 0
        self.setup_done = 0.0  # perf_counter when the timed window opens
        self.checks: list[str] = []  # failed correctness checks
        self.storage: dict[str, float] = {}  # warehouse sizes after the last wave
        self.landed_bytes_timed = 0
        self.report: dict[str, object] = {}  # printed before the JSON line


def ingest_waves(run: Run, spark) -> None:
    from aws_snowflake_kinesis_airflow_pipeline_spark.streaming.pipeline import (
        IngestPipeline,
    )
    from pyspark.sql import functions as F

    import ingest_gen

    tracer = run.tracer
    n_timed = max(1, round(run.args.seconds / NOMINAL_WAVE_S))
    with tracer.span("generate"):
        sizes = WARMUP_SIZES + [EVENTS_PER_WAVE] * n_timed
        waves = ingest_gen.make_waves(run.args.seed, sizes)
        staged = os.path.join(run.work, "staged")
        for wave in waves:
            for rel, body in wave.files:
                path = os.path.join(staged, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as f:
                    f.write(body)

    class TimedPipeline(IngestPipeline):
        def process_batch(self, batch_df, batch_id):
            with tracer.span("process_batch"):
                super().process_batch(batch_df, batch_id)

    landing = os.path.join(run.work, "landing")
    os.makedirs(landing)
    pipe = TimedPipeline(spark, landing, os.path.join(run.work, "warehouse"))
    observed: list[int] = []

    def one_wave(wave):
        """Land a wave, ingest it; returns (its span, observed rows right)."""
        with tracer.span("wave") as span:
            for rel, _ in wave.files:
                dst = os.path.join(landing, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(staged, rel), dst)
            try:
                with tracer.span("run_once"):
                    q = pipe.run_once()
            except Exception:
                traceback.print_exc()
                return span, False
        rows = sum(
            p.observedMetrics["ingest"]["rows"]
            for p in q.recentProgress
            if "ingest" in p.observedMetrics
        )
        observed.append(rows)
        return span, rows == wave.lines

    with tracer.span("warmup"):
        warm = [one_wave(wave)[0] for wave in waves[:WARMUP_WAVES]]
        # a failed warm-up wave shows in the final check
    run.setup_done = time.perf_counter()

    timed = waves[WARMUP_WAVES:]
    for wave in timed:
        span, ok = one_wave(wave)
        run.ops.append(span)
        run.failed_ops += not ok

    with tracer.span("verify"):
        want = ingest_gen.expected_after(waves)
        events = pipe.events_table()
        got_events = events.count()
        dups = events.groupBy("event_id").count().filter(F.col("count") > 1).count()
        got_raw = spark.read.parquet(pipe.raw_path).count()
        got_summary = {
            (str(r["event_date"]), r["event_type"]): (
                r["event_count"],
                r["first_event"].isoformat(timespec="microseconds"),
                r["last_event"].isoformat(timespec="microseconds"),
            )
            for r in pipe.summary_table().collect()
        }
    problems = check_ingest(want, got_events, dups, got_raw, got_summary,
                            sum(observed))
    if problems:
        run.checks.extend(problems)
        run.failed_ops = len(run.ops)  # the warehouse is cumulative

    wave_s = [s.seconds for s in run.ops]
    lines = sum(w.lines for w in timed)
    landed_bytes = sum(w.landed_bytes for w in waves)
    stored, _ = dir_bytes(os.path.join(run.work, "warehouse"))
    _, events_files = dir_bytes(pipe.events_path, "**/*.parquet")
    run.storage = {
        "storage.stored_bytes_per_landed_byte": stored / landed_bytes,
        "storage.events_files": events_files,
    }
    run.landed_bytes_timed = sum(w.landed_bytes for w in timed)
    run.report.update(
        {
            "waves": f"{len(timed)} timed after {WARMUP_WAVES} warm-up, "
            f"{EVENTS_PER_WAVE} events each",
            "ingest_rows_per_s": f"{lines / sum(wave_s):.1f} rows/s",
            "wave_s_p50": f"{statistics.median(wave_s):.3f} s",
            f"wave_s_tail (max of {len(wave_s)})": f"{max(wave_s):.3f} s",
            "wave_s": " ".join(f"{s:.2f}" for s in wave_s),
            "warm-up wave_s": " ".join(f"{s.seconds:.2f}" for s in warm),
            "stored_bytes_per_landed_byte": f"{stored / landed_bytes:.3f}",
        }
    )


def check_ingest(want, got_events, dups, got_raw, got_summary, observed_rows):
    """Compare the warehouse with the generator's expectation; returns the
    list of mismatches (empty when correct)."""
    problems = []
    if got_events != want.events:
        problems.append(f"events rows {got_events} != {want.events}")
    if dups:
        problems.append(f"{dups} duplicate event_ids")
    if got_raw != want.raw_rows:
        problems.append(f"raw_data rows {got_raw} != {want.raw_rows}")
    if got_summary != want.summary:
        problems.append("daily_event_summary differs from the expected rows")
    if observed_rows != want.raw_rows:
        problems.append(f"observe(ingest) rows {observed_rows} != {want.raw_rows}")
    return problems


def load_verify_local():
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_query(vl, name: str, cols: list[str], rows: list[tuple], con, oracle):
    """None when the Spark rows match the DuckDB oracle (or the query has
    no oracle and returned rows), else a description of the mismatch."""
    if oracle is None:
        return None if rows else f"{name}: no rows"
    cur = con.execute(oracle)
    o_n, o_c = vl.normalize([tuple(r) for r in cur.fetchall()],
                            [d[0] for d in cur.description])
    s_n, s_c = vl.normalize(rows, cols)
    if s_c != o_c:
        return f"{name}: columns {s_c} != {o_c}"
    if len(s_n) != len(o_n):
        return f"{name}: {len(s_n)} rows != oracle {len(o_n)}"
    if not vl.rows_equal(s_n, o_n):
        return f"{name}: values differ from the oracle"
    return None


def one_pass(tracer, spark, data: str, order: list[str], wrong: set[str]):
    """Build and execute every query of ``order`` once. Returns the pass's
    seconds and (query span, right) per query; a query is right when it
    ran and its rows matched the oracle in the checked pass."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.registry import QUERIES

    results = []
    with tracer.span("pass") as p:
        for name in order:
            with tracer.span("query:" + name) as span:
                try:
                    with tracer.span("build"):
                        df = QUERIES[name].fn(spark, data)
                    with tracer.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
                    ok = name not in wrong
                except Exception:
                    traceback.print_exc()
                    ok = False
            results.append((span, ok))
    return p.seconds, results


def query_mix(run: Run, spark, mix: tuple[str, ...]) -> None:
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.registry import QUERIES

    import gen_tables

    tracer = run.tracer
    data = os.path.join(run.work, "tables")
    with tracer.span("generate"):
        gen_tables.write_tables(run.args.seed, SF, data)
    rng = random.Random(run.args.seed)
    order = list(mix)

    # Warm-up: a pass that checks every query's rows against DuckDB, then
    # an unchecked pass; the timed passes follow. The first four executions
    # of a query still speed up as the JVM compiles (a pass fell 5.2 -> 4.3
    # -> 4.1 -> 3.5 s on the reference host), and the second is the steepest.
    vl = load_verify_local()
    con = vl.duck_con(data)
    wrong: set[str] = set()
    with tracer.span("warmup"):
        rng.shuffle(order)
        for name in order:
            try:
                with tracer.span("check:" + name):
                    df = QUERIES[name].fn(spark, data)
                    rows = [tuple(r) for r in df.collect()]
                problem = check_query(vl, name, df.columns, rows, con,
                                      QUERIES[name].oracle)
            except Exception:
                traceback.print_exc()
                problem = f"{name}: raised"
            if problem:
                wrong.add(name)
                run.checks.append(problem)
        con.close()
        rng.shuffle(order)
        warm_s, _ = one_pass(tracer, spark, data, order, wrong)
    run.setup_done = time.perf_counter()

    passes = []
    n_passes = max(1, round(run.args.seconds / NOMINAL_PASS_S))
    for _ in range(n_passes):
        rng.shuffle(order)
        seconds, results = one_pass(tracer, spark, data, order, wrong)
        passes.append(seconds)
        for span, ok in results:
            run.ops.append(span)
            run.failed_ops += not ok

    q_s = [s.seconds for s in run.ops]
    by_query = {
        name: statistics.median(s.seconds for s in run.ops if s.name == "query:" + name)
        for name in mix
    }
    run.report.update(
        {
            "passes": f"{len(passes)} over {len(mix)} queries at sf{SF}",
            "mix_pass_s": f"{statistics.median(passes):.3f} s",
            "pass_s": f"warm-up {warm_s:.2f}, timed " + " ".join(f"{s:.2f}" for s in passes),
            "query_s_p50": f"{statistics.median(q_s):.3f} s",
            f"query_s_tail (max of {len(q_s)})": f"{max(q_s):.3f} s",
            "query_s by query": " ".join(
                f"{k}={v:.2f}" for k, v in sorted(by_query.items(), key=lambda kv: -kv[1])
            ),
        }
    )


# -- metrics ---------------------------------------------------------------


def end_to_end(run: Run, setup_s: float) -> dict[str, float]:
    """A run holds 8 waves or 33 queries, so no percentile above p50 has
    ten samples beyond it: the slowest operation is printed, not gated."""
    op_s = [s.seconds for s in run.ops]
    return {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(op_s),
        "ops_per_s": len(op_s) / sum(op_s),
    }


def per_layer(run: Run, rss_mb: float) -> dict[str, float]:
    from eventlog import attribute, parse, rollup

    [path] = glob.glob(os.path.join(run.work, "eventlog", "*"))
    t0 = time.perf_counter()
    log = parse(path)
    rows = attribute(log, run.tracer.spans)
    parse_s = time.perf_counter() - t0
    tracer, ops = run.tracer, run.ops
    n = len(ops)
    total = rollup(rows, set().union(*(tracer.subtree(op) for op in ops)))
    op_ms = sum(op.seconds for op in ops) * 1000

    m: dict[str, float] = {}
    for name, key, scale in SPARK_METRICS:
        m[f"spark.{name}"] = total[key] * scale / n
    m["spark.core_busy_share"] = total["busy_ms"] / (cores() * op_ms)
    m["spark.stage_skew_max"] = total["stage_skew_max"]
    m["functions.python_run_s"] = total["python_run_ms"] / 1000 / n
    m["functions.python_sent_bytes"] = total["python_sent_bytes"] / n
    m["functions.python_returned_bytes"] = total["python_returned_bytes"] / n

    # streaming/sources/storage: ingest waves only (0 on the query mixes).
    if run.args.workload == "ingest_waves":
        batches = [_descendants(tracer, op, "process_batch") for op in ops]
        batch_s = [sum(s.seconds for s in b) for b in batches]
        run_s = [sum(s.seconds for s in tracer.children(op, "run_once")) for op in ops]
        m["streaming.process_batch_s"] = statistics.fmean(batch_s)
        m["streaming.engine_s"] = statistics.fmean(
            r - b for r, b in zip(run_s, batch_s))
        m["streaming.batches_per_wave"] = statistics.fmean(len(b) for b in batches)
        m["sources.input_bytes_per_landed_byte"] = (
            total["input_bytes"] / run.landed_bytes_timed)
        m["storage.bytes_written_per_wave"] = total["output_bytes"] / n
        m.update(run.storage)
    else:
        m.update(dict.fromkeys(INGEST_ONLY, 0.0))

    # plans: the query mixes (zero on ingest).
    build = [s.seconds for op in ops for s in tracer.children(op, "build")]
    execs = [s.seconds for op in ops for s in tracer.children(op, "exec")]
    m["plans.build_s"] = sum(build) / n
    m["plans.exec_s"] = sum(execs) / n
    for k in ("exchanges", "python_eval_nodes", "nested_loop_joins"):
        m[f"plans.{k}"] = total[k] / n

    m["memory.jvm_peak_rss_mb"] = rss_mb
    m["trace.unattributed_jobs"] = rows.get(None, {}).get("jobs", 0)
    m["trace.parse_s"] = parse_s
    m["trace.overhead_share"] = trace_overhead(run)
    return m


def _descendants(tracer, span, name: str) -> list:
    ids = tracer.subtree(span)
    return [s for s in tracer.spans if s.id in ids and s.name == name]


def results_path(workload: str) -> str:
    return os.path.join(os.getcwd(), ".perfbench_work", f"untraced-{workload}.json")


def trace_overhead(run: Run) -> float:
    """Mean op time of this traced run over that of the latest untraced run
    of the same workload in this checkout, minus one (0 when none ran)."""
    try:
        with open(results_path(run.args.workload)) as f:
            base = json.load(f)["op_s_mean"]
    except (OSError, KeyError, ValueError):
        print("note: no untraced run recorded; trace.overhead_share is 0",
              file=sys.stderr)
        return 0.0
    return statistics.fmean(s.seconds for s in run.ops) / base - 1


# -- main ------------------------------------------------------------------


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(
        os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    try:
        prepare_env(work)
        run = Run(args, work)
        with run.tracer.span("session"):
            spark = start_spark(work, bool(args.trace))
        try:
            if args.workload == "ingest_waves":
                ingest_waves(run, spark)
            else:
                query_mix(run, spark, QUERY_MIX)
            setup_s = run.setup_done - t_start
            rss = jvm_peak_rss_mb(spark)
        finally:
            stop_spark(spark)
        if args.trace:
            metrics = per_layer(run, rss)
        else:
            metrics = end_to_end(run, setup_s)
            with open(results_path(args.workload), "w") as f:
                json.dump({"op_s_mean": statistics.fmean(s.seconds for s in run.ops)}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(run.ops)
    failed = run.failed_ops
    print(f"{args.workload} seed={args.seed} trace={args.trace}")
    for k, v in run.report.items():
        print(f"  {k}: {v}")
    print(f"  failed_ratio: {failed / attempted:.4f} ({failed}/{attempted})")
    print(f"  jvm_peak_rss_mb: {rss:.1f} MB")
    print(f"  setup_s: {setup_s:.3f} s (" + " ".join(
        f"{s.name}={s.seconds:.2f}" for s in run.tracer.spans
        if s.name in ("session", "generate", "warmup")) + ")")
    for s in run.tracer.spans:
        if s.name.startswith("check:"):
            print(f"warm-up {s.name[6:]}: {s.seconds:.2f} s", file=sys.stderr)
    for problem in run.checks:
        print(f"  CHECK FAILED: {problem}")
    units = unit_map()
    print(
        json.dumps(
            {
                "correct": not run.checks and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


def unit_map() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())

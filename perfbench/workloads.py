"""The three workloads. Each drives the engine only through its public
functions, times every operation, and checks every output against
DuckDB outside the timed calls.

- dash_serve: the Flask dashboard's shape. An open loop from one
  generator thread at a fixed rate, served by `nproc` worker threads on
  one session; each request is one route build plus one collect, timed
  from the moment it was due. Per-request fixed cost dominates: route
  construction, the `catalog.load` memo, Catalyst planning and a small
  scan, under concurrent callers. No pins, no streaming.
- pipeline_batch: the Airflow-style batch run, one closed-loop client.
  It makes one pass in a fixed order over a fixed sample of relational,
  scalar-function, SQL and Arrow-UDF queries and the DAG's terminal
  plan (joins, windows, shuffles), reads the seeded bronze backlog of
  Reddit listing pages back through `sources.rest_json`, drains it into
  silver with `ingest_to_silver` (per-micro-batch lifecycle, anti-join
  against a growing silver, parquet writes) and runs a stateful drain
  over a landed event stream. Execution dominates; almost no pins.
- curation_batch: one closed-loop client over LLM-data-curation
  queries in a fixed order, twice: pass 1 builds the session
  pins, pass 2 reuses them. Construction dominates (`session_pin`,
  `compute_once`); the dashboard and streaming layers take no part.
"""

from __future__ import annotations

import importlib
import math
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb

import checks
import gen

PKG = "social_media_data_pipeline_recession_political_sentiment_spark"

# Tables each workload reads; the generator writes only these.
TABLES = {
    "dash_serve": ("events",),
    "pipeline_batch": tuple(sorted(gen.SF01_ROWS)),  # sql_interface registers every table
    "curation_batch": ("events", "documents", "embeddings"),
}

DASH_RATE = 2.8  # requests per second, under half the saturating rate on 4 cores;
# 15 s at this rate serve three blocks of the 14 routes
DASH_WARMUP_ROUNDS = 3

# A fixed sample of the batch query families, run in this order: the
# slowest relational query on the reference box (join_interval_overlap),
# the pandas-UDF sentiment path, windows with and without a partition
# key (agg_running_total runs its window in one task), a union, the SQL
# front door, a scalar text function and the Airflow DAG's terminal
# plan (silver -> gold enrichment -> aggregate). Queries that write
# outside their input directory are left out (the benchmark writes only
# inside its checkout).
BATCH_SAMPLE = (
    "join_interval_overlap",
    "udf_vader_sentiment",
    "window_lag_delta",
    "window_rank_latest",
    "union_platforms",
    "sql_interface",
    "agg_running_total",
    "fn_normalize_text",
    "orchestration_dag",
)

# Curation queries whose pass-1 cost is dominated by construction, run
# in this order: the pinned shingle relation and MinHash signatures, the
# shingle self-join pin the weighted Jaccard rides on, and one pinned
# query each from the similarity (normalized-embedding top-k), text
# analysis (unigram LM) and multimodal (perceptual-hash) modules.
CURATION = (
    "ext_dedup_minhash_est_audit",
    "ext_dedup_weighted_jaccard",
    "ext_sim_topk",
    "ext_lm_unigram_score",
    "ext_mm_dedup_phash",
)

NOMINAL_ROUND_S = 15.0  # --seconds per round of a closed-loop workload


@dataclass
class Op:
    name: str
    module: str
    latency_s: float
    ok: bool
    problems: list = field(default_factory=list)
    tag: str = ""


@dataclass
class Result:
    ops: list
    wall_s: float
    extra: dict = field(default_factory=dict)  # workload-specific figures, printed


class Ctx:
    def __init__(self, spark, sf_dir, work_dir, seed, seconds, tracer, nproc, inputs):
        self.spark = spark
        self.inputs = inputs  # generated inputs beyond the tables (pipeline_batch)
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.nproc = nproc
        self._con = None
        self._oracle_cache: dict = {}
        self._seq = 0
        self._lock = threading.Lock()

    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.sql("SET TimeZone = 'UTC'")
            for t in os.listdir(self.sf_dir):
                if t.endswith(".parquet"):
                    path = os.path.join(self.sf_dir, t)
                    self._con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{path}'")
        return self._con

    def oracle(self, key: str, sql: str):
        if key not in self._oracle_cache:
            self._oracle_cache[key] = checks.oracle_result(self.con(), sql)
        return self._oracle_cache[key]

    def op_id(self, name: str) -> str:
        with self._lock:
            self._seq += 1
            return f"{self._seq:05d}:{name}"

    def close(self):
        if self._con is not None:
            self._con.close()


def engine(module: str):
    """One module of the engine package, imported on first use."""
    return importlib.import_module(f"{PKG}.{module}")


def module_of(fn) -> str:
    """The layer a registered query belongs to: its operator module,
    `plans.pipeline`, or the `enrich` / `streaming` / `sources` package."""
    mod = fn.__module__.removeprefix(PKG + ".")
    return mod.split(".")[0] if mod.startswith(("enrich", "streaming", "sources")) else mod


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile of a non-empty list: the smallest value
    with at least a share q of the values at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def timed_collect(ctx: Ctx, name: str, module: str, build, **extra):
    """Build and collect one DataFrame: (df, rows, seconds). The job
    groups and spans are recorded only when tracing."""
    tr = ctx.tracer
    op_id = ctx.op_id(name)
    t0 = time.perf_counter()
    with tr.phase(op_id, "build"):
        df = build()
    with tr.phase(op_id, "exec"):
        rows = df.collect()
    t1 = time.perf_counter()
    tr.finish_op(op_id, name, module, df, len(rows), t0, t1, **extra)
    return df, rows, t1 - t0


def check_against(ctx: Ctx, key: str, sql: str, df, rows) -> list[str]:
    try:
        ocols, otypes, orows = ctx.oracle(key, sql)
    except duckdb.Error as e:
        return [f"oracle raised {e!r}"[:500]]
    return checks.compare(df.columns, dict(df.dtypes), [tuple(r) for r in rows], ocols, otypes, orows)


def run_registry_op(ctx: Ctx, name: str, fn, oracle_sql: str | None, tag: str = "") -> Op:
    module = module_of(fn)
    try:
        df, rows, dt = timed_collect(ctx, name, module, lambda: fn(ctx.spark, ctx.sf_dir), tag=tag)
    except Exception as e:  # a failed operation is counted, the run goes on
        return Op(name, module, float("nan"), False, [f"raised {e!r}"[:500]], tag)
    problems = check_against(ctx, name, oracle_sql, df, rows) if oracle_sql else ["no oracle"]
    return Op(name, module, dt, not problems, problems, tag)


def rounds(seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_ROUND_S))


# ------------------------------------------------------------ dashboard

def _dash_oracle(route: str, platform: str | None, start: str, end: str) -> str:
    """DuckDB statement of one dashboard request: the engine's own
    parametrized route oracles, and for routes 1 and 13 the statement of
    their registered oracles with the request's window."""
    dashboard = engine("dashboard")
    if route == "platform_count":
        return dashboard._count_oracle(platform, start, end)
    if route in ("sentiment_distribution", "hate_distribution"):
        col = "sentiment" if route == "sentiment_distribution" else "is_hate_speech"
        return dashboard._dist_oracle(platform, col, start, end)
    where = (
        f"event_type = '{dashboard.PLATFORMS['politics']}' "
        f"AND ts >= TIMESTAMP '{start} 00:00:00' AND ts < TIMESTAMP '{end} 00:00:00'"
    )
    if route == "politics_comments":
        return f"SELECT ts AS created_utc FROM events WHERE {where}"
    return (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS count "
        f"FROM events WHERE {where} GROUP BY day"
    )


def dash_warmup(spark, sf_dir: str, nproc: int) -> None:
    """Serve every route DASH_WARMUP_ROUNDS times on the server's worker
    threads, so the timed phase sees warm routes and a settled JIT (with
    one round, run-to-run spread of the latency was about twice as wide)."""
    dashboard = engine("dashboard")

    def serve(route: str, platform: str | None) -> None:
        fn = getattr(dashboard, route)
        (fn(spark, sf_dir) if platform is None else fn(spark, sf_dir, platform)).collect()

    with ThreadPoolExecutor(max_workers=nproc) as pool:
        for f in [pool.submit(serve, *r) for r in gen.DASH_ROUTES * DASH_WARMUP_ROUNDS]:
            f.result()


def dash_serve(ctx: Ctx) -> Result:
    dashboard = engine("dashboard")
    n = max(1, int(DASH_RATE * ctx.seconds))
    schedule = gen.dash_schedule(ctx.seed, n)
    out: list = [None] * n
    late = [0.0] * n

    def serve(i: int, due: float) -> None:
        route, platform, start, end = schedule[i]
        fn = getattr(dashboard, route)
        args = (start, end) if platform is None else (platform, start, end)
        started = time.perf_counter()
        try:
            df, rows, _ = timed_collect(
                ctx, route, "dashboard", lambda: fn(ctx.spark, ctx.sf_dir, *args),
                queue_wait_s=started - due,
            )
            out[i] = (time.perf_counter() - due, df, rows, None)
        except Exception as e:
            out[i] = (time.perf_counter() - due, None, None, f"raised {e!r}"[:500])

    t_start = time.perf_counter() + 0.05
    with ThreadPoolExecutor(max_workers=ctx.nproc) as pool:
        futures = []
        for i in range(n):
            due = t_start + i / DASH_RATE
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            late[i] = max(0.0, time.perf_counter() - due)
            futures.append(pool.submit(serve, i, due))
        for f in futures:
            f.result()
    wall = time.perf_counter() - t_start
    ctx.tracer.mark("gen_late_s", max(late))

    ops = []
    for i, (lat, df, rows, err) in enumerate(out):
        route, platform, start, end = schedule[i]
        name = f"{route}:{platform}" if platform else route
        problems = [err] if err else check_against(
            ctx, f"dash:{schedule[i]}", _dash_oracle(route, platform, start, end), df, rows
        )
        ops.append(Op(name, "dashboard", lat, not problems, problems))
    return Result(ops, wall, {
        "op_p95_s": (percentile([o.latency_s for o in ops], 0.95), "s"),
        "gen_late_max_s": (max(late), "s"),
        "rate_req_per_s": (DASH_RATE, "1/s"),
    })


# ------------------------------------------------------- curation batch

def curation_batch(ctx: Ctx) -> Result:
    registry = engine("registry")
    qs, orc = registry.queries(), registry.oracles()
    # a fixed order: the pin builds land on the same query in every run
    order = list(CURATION)
    ops = []
    passes = 2 * rounds(ctx.seconds)
    pass_s = []
    for p in range(passes):
        t0 = time.perf_counter()
        ops.extend(run_registry_op(ctx, name, qs[name], orc.get(name), tag=f"pass{p + 1}") for name in order)
        pass_s.append(sum(o.latency_s for o in ops[-len(order):]))
        if ctx.tracer.enabled:
            ctx.tracer.mark(f"persisted_rdds_pass{p + 1}", ctx.tracer.persisted_rdds())
            ctx.tracer.mark(f"pass{p + 1}_wall_s", time.perf_counter() - t0)
    return Result(ops, sum(pass_s), {
        "cold_s": (pass_s[0], "s"),
        "warm_s": (statistics.median(pass_s[1:]), "s"),
        "order": (",".join(order), ""),
    })


# ------------------------------------------------------- pipeline batch

BRONZE_PAGES = 3
COMMENTS_PER_PAGE = 400
EVENT_FILES = 2  # the landed event stream arrives as this many micro-batches


def prepare_pipeline_inputs(seed: int, sf_dir: str, work_dir: str) -> dict:
    """Land the bronze backlog and split the events table into
    time-ordered files, one per micro-batch."""
    import pyarrow.parquet as pq

    bronze = os.path.join(work_dir, "bronze")
    ids, rows, nbytes = gen.write_bronze(seed, bronze, BRONZE_PAGES, COMMENTS_PER_PAGE)
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    landed = os.path.join(work_dir, "events_landed")
    os.makedirs(landed, exist_ok=True)
    step = -(-events.num_rows // EVENT_FILES)
    for k in range(EVENT_FILES):
        pq.write_table(events.slice(k * step, step), os.path.join(landed, f"part-{k:05d}.parquet"))
    return {"bronze": bronze, "ids": ids, "rows": rows, "bytes": nbytes, "events": landed}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def _ingest(ctx: Ctx, ingest, r: int) -> tuple[Op, int, int]:
    """Drain the bronze backlog into a fresh silver table; check that
    silver holds exactly the generated distinct ids and that the
    watermark dropped nothing. Returns (op, dropped rows, silver bytes)."""
    inputs = ctx.inputs
    silver = os.path.join(ctx.work_dir, f"silver_{r}")
    ckpt = os.path.join(ctx.work_dir, f"ckpt_{r}")
    op_id = ctx.op_id("ingest_to_silver")
    t0 = time.perf_counter()
    try:
        with ctx.tracer.phase(op_id, "exec"):
            q = ingest.ingest_to_silver(ctx.spark, inputs["bronze"], silver, ckpt, available_now=True)
        dt = time.perf_counter() - t0
    except Exception as e:
        return Op("ingest_to_silver", "streaming", float("nan"), False, [f"raised {e!r}"[:500]]), 0, 0
    ctx.tracer.finish_op(op_id, "ingest_to_silver", "streaming", None, inputs["rows"], t0, t0 + dt)
    dropped = sum(
        o.numRowsDroppedByWatermark for p in q.recentProgress for o in (p.stateOperators or [])
    )
    got = [
        row[0]
        for row in ctx.con().sql(f"SELECT comment_id FROM read_parquet('{silver}/*.parquet')").fetchall()
    ]
    problems = []
    if len(got) != len(set(got)):
        problems.append(f"silver holds {len(got) - len(set(got))} duplicate ids")
    if set(got) != inputs["ids"]:
        problems.append(
            f"silver ids differ: {len(set(got) - inputs['ids'])} extra, "
            f"{len(inputs['ids'] - set(got))} missing"
        )
    if dropped:
        problems.append(f"{dropped} rows dropped by the watermark")
    op = Op("ingest_to_silver", "streaming", dt, not problems, problems, f"round{r + 1}")
    return op, dropped, _dir_bytes(silver)


def _landed_pages(ctx: Ctx, rest_json, r: int) -> Op:
    """Read the bronze backlog back with the engine's listing reader and
    flattener; every landed comment row must come back, ids intact."""
    name = "read_landed_pages"
    tag = f"round{r + 1}"
    try:
        df, rows, dt = timed_collect(
            ctx, name, "sources",
            lambda: rest_json.flatten_reddit_listing(
                rest_json.read_landed_pages(ctx.spark, ctx.inputs["bronze"])
            ),
        )
    except Exception as e:
        return Op(name, "sources", float("nan"), False, [f"raised {e!r}"[:500]], tag)
    problems = []
    if len(rows) != ctx.inputs["rows"]:
        problems.append(f"{len(rows)} rows, {ctx.inputs['rows']} landed")
    if {row["comment_id"] for row in rows} != ctx.inputs["ids"]:
        problems.append("comment ids differ from the landed ones")
    if any(row["created_utc"] is None or row["body"] is None for row in rows):
        problems.append("null created_utc or body")
    return Op(name, "sources", dt, not problems, problems, tag)


def pipeline_batch(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    ingest = engine("streaming.ingest")
    squeries = engine("streaming.queries")
    rest_json = engine("sources.rest_json")
    registry = engine("registry")
    qs, orc = registry.queries(), registry.oracles()
    spark = ctx.spark

    def tumbling_drain():
        """The body of the registered `stream_tumbling_count` (a daily
        tumbling-window count drained into a memory sink by the engine's
        `drain_to_table`), over the events landed in the work directory
        as time-ordered files with a declared schema. The registered
        query itself stages its input under a fixed system path."""
        src = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, event_type string, "
                "value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(ctx.inputs["events"])
        )
        agg = (
            src.withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count("*").alias("cnt"))
        )
        return squeries.drain_to_table(agg, "complete").select(
            F.to_date(F.col("w.start")).alias("day"), "cnt"
        )

    ops = []
    ingest_s = []
    dropped = silver_bytes = 0
    for r in range(rounds(ctx.seconds)):
        tag = f"round{r + 1}"
        for name in BATCH_SAMPLE:
            ops.append(run_registry_op(ctx, name, qs[name], orc.get(name), tag=tag))
        ops.append(_landed_pages(ctx, rest_json, r))
        op, d, silver_bytes = _ingest(ctx, ingest, r)
        ops.append(op)
        dropped += d
        if op.ok:
            ingest_s.append(op.latency_s)
        name = "tumbling_drain"
        try:
            df, rows, dt = timed_collect(ctx, name, "streaming", tumbling_drain)
            problems = check_against(ctx, name, orc["stream_tumbling_count"], df, rows)
            ops.append(Op(name, "streaming", dt, not problems, problems, tag))
        except Exception as e:
            ops.append(Op(name, "streaming", float("nan"), False, [f"raised {e!r}"[:500]], tag))
    sink_tables = sum(
        1 for t in spark.catalog.listTables() if t.isTemporary and t.name.startswith("sink_")
    )
    ctx.tracer.mark("sink_tables_after", sink_tables)
    ctx.tracer.mark("silver_bytes_written", silver_bytes)
    ctx.tracer.mark("silver_bytes_per_input_byte", silver_bytes / ctx.inputs["bytes"])
    ingest_med = statistics.median(ingest_s) if ingest_s else float("nan")
    return Result(ops, sum(o.latency_s for o in ops if o.ok), {
        "ingest_rows_per_s": (ctx.inputs["rows"] / ingest_med, "1/s"),
        "watermark_dropped_rows": (dropped, "count"),
        "sink_tables_after": (sink_tables, "count"),
    })


WARMUPS = {"dash_serve": dash_warmup}

WORKLOADS = {
    "dash_serve": dash_serve,
    "pipeline_batch": pipeline_batch,
    "curation_batch": curation_batch,
}

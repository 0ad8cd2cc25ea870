"""The traced run: spans and counts recorded from the benchmark's side.

Nothing inside the engine is instrumented. The tracer

- wraps the public `catalog` functions (`load`, `source_fingerprint`,
  `compute_once`, `session_pin`) before the operator modules import
  them, counting calls, time and hits;
- gives every operation phase (build, exec) its own Spark job group, so
  the status tracker attributes jobs, stages and tasks to it;
- reads the Catalyst phase times of the collected plan from its
  `QueryPlanningTracker`;
- listens to streaming progress for per-trigger phase times and state;
- parses the session's event log after the run for shuffle, spill and
  the physical plans (single-partition windows).

Spans stay in memory and are written once, at the end of the run.
`NullTracer` is the untraced run: every hook is a no-op.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("analysis", "optimization", "planning")


class NullTracer:
    enabled = False

    def install_catalog_wrappers(self, catalog) -> None:
        pass

    def attach(self, spark) -> None:
        pass

    def phase(self, op_id: str, phase: str):
        return contextlib.nullcontext()

    def finish_op(self, op_id, name, module, df, n_rows, t0, t1, **extra) -> None:
        pass

    def mark(self, key: str, value) -> None:
        pass


class _Counter:
    """Call count and busy time of one wrapped function (updated under
    the tracer's lock)."""

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0


class Tracer:
    enabled = True

    def __init__(self):
        self.lock = threading.Lock()
        self.spans: list[dict] = []
        self.marks: dict = {}
        self.counters = defaultdict(_Counter)
        self.load_seen: dict = {}
        self.load_hits = 0
        self.pin_builds = 0
        self.pin_hits = 0
        self.pin_build_s = 0.0
        self.self_s = 0.0  # time the tracer itself spent in its hooks
        self.progress: list[dict] = []
        self.spark = None
        self._tls = threading.local()

    # ------------------------------------------------ catalog wrappers
    def _timed(self, key: str, fn):
        counter = self.counters[key]
        lock = self.lock

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with lock:
                    counter.calls += 1
                    counter.seconds += dt

        return wrapper

    def install_catalog_wrappers(self, catalog) -> None:
        """Must run before `registry.load_all()`: the operator modules
        bind `from ..catalog import load` at import time."""
        tracer = self
        load = self._timed("catalog.load", catalog.load)

        def traced_load(spark, sf_dir, name):
            df = load(spark, sf_dir, name)
            key = (spark.sparkContext.applicationId, sf_dir, name)
            with tracer.lock:
                if tracer.load_seen.get(key) is df:
                    tracer.load_hits += 1
                tracer.load_seen[key] = df
            return df

        session_pin = self._timed("catalog.session_pin", catalog.session_pin)

        def traced_session_pin(spark, sf_dir, tag, build, source="documents.parquet"):
            depth = getattr(tracer._tls, "pin_depth", 0)

            def traced_build():
                tracer._tls.pin_depth = depth + 1
                t0 = time.perf_counter()
                try:
                    return build()
                finally:
                    tracer._tls.pin_depth = depth
                    with tracer.lock:
                        tracer.pin_builds += 1
                        if depth == 0:  # nested builds are inside this time
                            tracer.pin_build_s += time.perf_counter() - t0

            built_before = tracer.pin_builds
            df = session_pin(spark, sf_dir, tag, traced_build, source)
            if tracer.pin_builds == built_before:
                with tracer.lock:
                    tracer.pin_hits += 1
            return df

        catalog.load = traced_load
        catalog.session_pin = traced_session_pin
        catalog.source_fingerprint = self._timed(
            "catalog.source_fingerprint", catalog.source_fingerprint
        )
        catalog.compute_once = self._timed("catalog.compute_once", catalog.compute_once)

    # --------------------------------------------------------- session
    def attach(self, spark) -> None:
        """Start recording on the session of the timed phase; counts made
        during set-up are dropped (the load memo it warmed is kept)."""
        self.spark = spark
        spark.streams.addListener(_ProgressListener(self))
        with self.lock:
            for c in self.counters.values():  # the wrappers hold these objects
                c.calls, c.seconds = 0, 0.0
            self.load_hits = self.pin_builds = self.pin_hits = 0
            self.pin_build_s = 0.0

    @contextlib.contextmanager
    def phase(self, op_id: str, phase: str):
        sc = self.spark.sparkContext
        group = f"{op_id}|{phase}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs, stages, tasks = self._jobs(group)
            with self.lock:
                self.spans.append(
                    {
                        "op": op_id,
                        "span": phase,
                        "start": t0,
                        "end": t1,
                        "group": group,
                        "jobs": jobs,
                        "stages": stages,
                        "tasks": tasks,
                    }
                )
                self.self_s += time.perf_counter() - t1

    def _jobs(self, group: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stage = st.getStageInfo(s)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return len(job_ids), stages, tasks

    def finish_op(self, op_id, name, module, df, n_rows, t0, t1, **extra) -> None:
        ta = time.perf_counter()
        plan_ms = {}
        if df is not None:
            try:
                phases = df._jdf.queryExecution().tracker().phases()
                for p in PHASES:
                    opt = phases.get(p)
                    if opt.isDefined():
                        plan_ms[p] = float(opt.get().durationMs())
            except Exception as e:  # a plan without a tracker: record, keep going
                plan_ms["error"] = repr(e)[:200]
        with self.lock:
            self.spans.append(
                {
                    "op": op_id,
                    "span": "op",
                    "name": name,
                    "module": module,
                    "start": t0,
                    "end": t1,
                    "rows": n_rows,
                    "plan_ms": plan_ms,
                    **extra,
                }
            )
            self.self_s += time.perf_counter() - ta

    def mark(self, key: str, value) -> None:
        with self.lock:
            self.marks[key] = value

    # ---------------------------------------------------- aggregation
    def persisted_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def wait_listeners(self) -> None:
        """Let the listener bus deliver outstanding streaming progress."""
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:
            time.sleep(1.0)

    def layer_metrics(self, timed_wall_s: float, event_log: dict) -> dict[str, float]:
        ops = [s for s in self.spans if s["span"] == "op"]
        phases = defaultdict(dict)
        for s in self.spans:
            if s["span"] in ("build", "exec"):
                phases[s["op"]][s["span"]] = s
        m: dict[str, float] = {}
        c = self.counters
        m["catalog.load_calls"] = c["catalog.load"].calls
        m["catalog.load_s"] = c["catalog.load"].seconds
        m["catalog.load_hit_ratio"] = self.load_hits / max(1, c["catalog.load"].calls)
        m["catalog.source_fingerprint_calls"] = c["catalog.source_fingerprint"].calls
        m["catalog.source_fingerprint_s"] = c["catalog.source_fingerprint"].seconds
        m["catalog.compute_once_calls"] = c["catalog.compute_once"].calls
        m["catalog.compute_once_s"] = c["catalog.compute_once"].seconds
        m["catalog.session_pin_builds"] = self.pin_builds
        m["catalog.session_pin_hits"] = self.pin_hits
        m["catalog.session_pin_build_s"] = self.pin_build_s
        m["catalog.persisted_rdds"] = self.marks.get("persisted_rdds_end", 0)

        build_s = exec_s = plan_ms = 0.0
        rows = 0
        jobs_build = jobs_exec = stages = tasks = 0
        per_module = defaultdict(lambda: [0.0, 0.0])
        for op in ops:
            ph = phases.get(op["op"], {})
            b, e = ph.get("build"), ph.get("exec")
            bs = (b["end"] - b["start"]) if b else 0.0
            es = (e["end"] - e["start"]) if e else 0.0
            late_plan = sum(op["plan_ms"].get(p, 0.0) for p in ("optimization", "planning"))
            plan_ms += sum(op["plan_ms"].get(p, 0.0) for p in PHASES)
            es = max(0.0, es - late_plan / 1000.0)
            build_s += bs
            exec_s += es
            rows += op["rows"] or 0
            per_module[op["module"]][0] += bs
            per_module[op["module"]][1] += es
            for p in (b, e):
                if p:
                    stages += p["stages"]
                    tasks += p["tasks"]
            jobs_build += b["jobs"] if b else 0
            jobs_exec += e["jobs"] if e else 0
        m["query.ops"] = len(ops)
        m["query.build_s"] = build_s
        m["query.plan_ms"] = plan_ms
        m["query.exec_s"] = exec_s
        m["query.result_rows"] = rows
        for mod in MODULES:
            m[f"{mod}.build_s"] = per_module[mod][0] if mod in per_module else 0.0
            m[f"{mod}.exec_s"] = per_module[mod][1] if mod in per_module else 0.0
        m["spark.jobs_build"] = jobs_build
        m["spark.jobs_exec"] = jobs_exec
        m["spark.stages"] = stages
        m["spark.tasks"] = tasks
        m["spark.shuffle_read_bytes"] = event_log.get("shuffle_read_bytes", 0)
        m["spark.shuffle_write_bytes"] = event_log.get("shuffle_write_bytes", 0)
        m["spark.spill_bytes"] = event_log.get("spill_bytes", 0)
        m["spark.single_partition_windows"] = event_log.get("single_partition_windows", 0)

        waits = [op["queue_wait_s"] for op in ops if "queue_wait_s" in op]
        m["dashboard.queue_wait_s"] = statistics.median(waits) if waits else 0.0
        m["dashboard.gen_late_s"] = self.marks.get("gen_late_s", 0.0)

        prog = self.progress
        m["streaming.batches"] = len(prog)
        for k in ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "getBatch", "latestOffset"):
            m[f"streaming.{k}_ms"] = float(sum(p["durationMs"].get(k, 0) for p in prog))
        last = {}
        for p in prog:
            last[p["id"]] = p
        m["streaming.state_rows"] = sum(p["state_rows"] for p in last.values())
        m["streaming.state_mem_bytes"] = max((p["state_mem"] for p in prog), default=0)
        m["streaming.watermark_dropped_rows"] = sum(p["dropped"] for p in prog)
        m["streaming.sink_tables_after"] = self.marks.get("sink_tables_after", 0)
        m["streaming.silver_bytes_written"] = self.marks.get("silver_bytes_written", 0)
        m["streaming.silver_bytes_per_input_byte"] = self.marks.get("silver_bytes_per_input_byte", 0.0)

        m["trace.self_s"] = self.self_s
        m["trace.self_frac"] = self.self_s / timed_wall_s if timed_wall_s > 0 else 0.0
        return m

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "marks": self.marks, **extra}, f, default=str)


# operator modules whose build and exec time is reported separately
MODULES = (
    "dashboard",
    "operators.relational",
    "operators.scalar_fns",
    "operators.dedup",
    "operators.similarity",
    "operators.text_analysis",
    "operators.multimodal",
    "enrich",
    "streaming",
    "sources",
    "plans.pipeline",
)


class _ProgressListener(StreamingQueryListener):
    """Per-trigger progress phases of every streaming query."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        rec = {
            "id": str(p.id),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "durationMs": dict(p.durationMs or {}),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_mem": sum(o.memoryUsedBytes for o in ops),
            "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
        }
        with self.tracer.lock:
            self.tracer.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


# ------------------------------------------------------ event log

_WINDOW_PASSTHROUGH = ("Sort", "AQEShuffleRead", "ShuffleQueryStage", "WindowGroupLimit", "Window", "Project", "InputAdapter", "WholeStageCodegen")


def _single_partition_windows(node: dict) -> int:
    """Window operators fed by an `Exchange SinglePartition`: every row of
    the window's input goes through one task."""
    count = 0
    if node.get("nodeName") == "Window":
        stack = list(node.get("children", []))
        while stack:
            child = stack.pop()
            name = child.get("nodeName", "")
            if name.startswith("Exchange"):
                if "SinglePartition" in child.get("simpleString", ""):
                    count += 1
                break
            if name.startswith(_WINDOW_PASSTHROUGH):
                stack.extend(child.get("children", []))
    for child in node.get("children", []):
        count += _single_partition_windows(child)
    return count


def analyze_event_log(log_dir: str) -> dict:
    """Shuffle, spill and single-partition windows per job group, from
    every event log file in `log_dir` (read after the sessions stop)."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    per_group = defaultdict(lambda: defaultdict(float))
    tasks_by_stage = []
    for fname in sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []:
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, group)
                        eid = props.get("spark.sql.execution.id")
                        if eid is not None:
                            exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks_by_stage.append(
                        (
                            ev.get("Stage ID"),
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            sw.get("Shuffle Bytes Written", 0),
                            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        )
                    )
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    info = ev.get("sparkPlanInfo")
                    if info is not None:
                        exec_plan[int(ev["executionId"])] = info  # the latest plan wins
    out = defaultdict(float)
    for stage, sr, sw, sp in tasks_by_stage:
        g = stage_group.get(stage, "")
        per_group[g]["shuffle_read_bytes"] += sr
        per_group[g]["shuffle_write_bytes"] += sw
        per_group[g]["spill_bytes"] += sp
        out["shuffle_read_bytes"] += sr
        out["shuffle_write_bytes"] += sw
        out["spill_bytes"] += sp
    for eid, plan in exec_plan.items():
        n = _single_partition_windows(plan)
        if n:
            g = exec_group.get(eid, "")
            per_group[g]["single_partition_windows"] += n
            out["single_partition_windows"] += n
    return {**out, "per_group": {g: dict(v) for g, v in per_group.items()}}

"""Benchmark of the analytics engine: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates its inputs from the
seed inside `perfbench/.work/`, sets up the engine five times (the
first set-up starts the JVM), runs the workload's timed phase, checks
every output against DuckDB, and prints as its last stdout line one
JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` they are the per-layer ones, from a run that also records
spans (written to `perfbench/.work/traces/`). Lines before the last
one are a human-readable report, including the workload's own
figures (cold/warm pass times, ingest rate, failure share, ...).

Workloads: dash_serve, pipeline_batch, curation_batch
(see workloads.py for what each one exercises and why).
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402

SETUPS = 5  # set-ups per run; setup_s is their median
JVM_HEAP = "4g"


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - PROCESS_T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def configure_environment(work: str) -> None:
    """Keep every file the engine, Spark and Python workers write
    inside the run's work directory."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SMDP_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM of the run (the Spark launcher and the Spark JVM): temp files in the
    # work directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-XX:-UsePerfData",
        ) if p
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def descendants(pid: int) -> list[int]:
    """Every live process below `pid`, from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for the processes to exit; kill what is left at the timeout."""
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def stop_jvm() -> None:
    """Stop the py4j gateway, wait for the JVM to exit, then for the
    Python workers it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    wait_gone(workers, 15.0)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in wl.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(work)
    try:
        return run(args, work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, work_root: str) -> int:
    try:
        catalog = wl.engine("catalog")
        registry = wl.engine("registry")
        session = wl.engine("session")
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    sf_dir = os.path.join(work, "sf0.1")
    t_gen = time.perf_counter()
    gen.write_tables(args.seed, sf_dir, wl.TABLES[args.workload])
    inputs = wl.prepare_pipeline_inputs(args.seed, sf_dir, work) if args.workload == "pipeline_batch" else {}
    gen_s = time.perf_counter() - t_gen

    event_log = os.path.join(work, "eventlog")
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    if args.trace:
        os.makedirs(event_log, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
        tracer = tracing.Tracer()
        tracer.install_catalog_wrappers(catalog)
    else:
        tracer = tracing.NullTracer()

    # ---- set-up: the first one starts the JVM, the others restart the
    # session in it; each ends with the registry loaded and warmed up.
    # Stopping the previous session is not part of a set-up: its time
    # swings between about 0.05 and 0.5 s with the JVM's warmth.
    setups = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = PROCESS_T0 + gen_s if i == 0 else time.perf_counter()
        spark = session.get_session(f"perfbench_{args.workload}", cpus=nproc, extra_confs=confs)
        registry.load_all()
        for t in wl.TABLES[args.workload]:
            catalog.load(spark, sf_dir, t)
        registry.queries()["agg_topk_groups"](spark, sf_dir).collect()
        setups.append(time.perf_counter() - t0)
        log(f"set-up {i + 1}/{SETUPS}: {setups[-1]:.3f} s")
    t0 = time.perf_counter()
    if args.workload in wl.WARMUPS:
        wl.WARMUPS[args.workload](spark, sf_dir, nproc)
    warmup_s = time.perf_counter() - t0
    tracer.attach(spark)

    ctx = wl.Ctx(spark, sf_dir, work, args.seed, args.seconds, tracer, nproc, inputs)
    t_timed = time.perf_counter()
    result = wl.WORKLOADS[args.workload](ctx)
    timed_wall = time.perf_counter() - t_timed
    log(f"timed phase: {timed_wall:.3f} s")
    self_test_ok = checks.self_test()

    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0

    layer = {}
    trace_path = None
    if args.trace:
        tracer.mark("persisted_rdds_end", tracer.persisted_rdds())
        tracer.wait_listeners()
    spark.stop()
    ctx.close()
    if args.trace:
        elog = tracing.analyze_event_log(event_log)
        layer = tracer.layer_metrics(timed_wall, elog)
        layer["setup.cold_s"] = setups[0]
        layer["setup.restart_s"] = statistics.median(setups[1:])
        layer["setup.warmup_s"] = warmup_s
        layer["bench.peak_rss_mb"] = peak_rss_mb
        traces = os.path.join(work_root, "traces")
        os.makedirs(traces, exist_ok=True)
        trace_path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        tracer.write(trace_path, {"layer": layer, "event_log": elog, "setups": setups})
    stop_jvm()

    ops = result.ops
    lat = [o.latency_s for o in ops if o.ok]
    failed = sum(1 for o in ops if not o.ok)
    attempted = len(ops)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "op_geomean_ms": (math.exp(statistics.fmean(map(math.log, lat))) * 1e3 if lat else float("nan"), "ms"),
        "op_p75_ms": (wl.percentile(lat, 0.75) * 1e3 if lat else float("nan"), "ms"),
        "wall_s": (result.wall_s, "s"),
    }

    # ---- human-readable report
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"nproc={nproc} ops={attempted} failed={failed} failed_frac={failed / attempted:.4f} "
          f"inputs_s={gen_s:.3f} self_test={'ok' if self_test_ok else 'FAILED'}")
    for k, (v, unit) in e2e.items():
        n = len(lat) if k.startswith("op_") else SETUPS if k == "setup_s" else 1
        print(f"  {k:<24} {v:>14.4f} {unit}  (n={n})")
    print(f"  {'peak_rss_mb':<24} {peak_rss_mb:>14.4f} MB")
    for k, (v, unit) in result.extra.items():
        print(f"  {k:<24} {v if isinstance(v, str) else f'{v:>14.4f}'} {unit}")
    for o in ops:
        status = "ok" if o.ok else "FAILED " + "; ".join(o.problems)[:400]
        print(f"    {o.latency_s:9.3f} s  {o.name} {o.tag} {status}")
    if args.trace:
        report_trace(tracer, layer, elog, args.workload)
        print(f"  spans written to {os.path.relpath(trace_path, ROOT)}")

    keys = LAYER_KEYS if args.trace else E2E_KEYS
    values = {k: (layer.get(k, 0), unit) for k, unit in keys} if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0 and self_test_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k][0], "unit": unit} for k, unit in keys},
    }))
    return 0


def report_trace(tracer, layer: dict, elog: dict, workload: str) -> None:
    print("  per-layer:")
    for k, _unit in LAYER_KEYS:
        v = layer.get(k, 0)
        if v:
            print(f"    {k:<44} {v:.6g}")
    offenders = sorted(
        ((v.get("single_partition_windows", 0), g) for g, v in elog["per_group"].items()),
        reverse=True,
    )
    top = [f"{g.split('|')[0].split(':', 1)[-1]}={int(n)}" for n, g in offenders if n][:8]
    if top:
        print(f"  single-partition windows, top operations: {', '.join(top)}")
    if workload == "curation_batch":
        rows: dict = {}
        ops = {s["op"]: s for s in tracer.spans if s["span"] == "op"}
        for s in tracer.spans:
            if s["span"] == "build" and s["op"] in ops:
                op = ops[s["op"]]
                rows.setdefault(op["name"], {})[op.get("tag", "")] = (s["end"] - s["start"], s["jobs"])
        print("  pass table (build_s / jobs_build):")
        for name, by_pass in sorted(rows.items()):
            cells = "  ".join(f"{p}: {b:.3f}s/{j}j" for p, (b, j) in sorted(by_pass.items()))
            print(f"    {name:<36} {cells}")
        persisted = sorted((k, v) for k, v in tracer.marks.items() if k.startswith("persisted_rdds_pass"))
        print("  persisted RDDs after each pass: " + ", ".join(f"{k[15:]}={v}" for k, v in persisted))


E2E_KEYS = (
    ("setup_s", "s"),
    ("op_geomean_ms", "ms"),
    ("op_p75_ms", "ms"),
    ("wall_s", "s"),
)

LAYER_KEYS = tuple(
    [
        ("catalog.load_calls", "count"),
        ("catalog.load_s", "s"),
        ("catalog.load_hit_ratio", "ratio"),
        ("catalog.source_fingerprint_calls", "count"),
        ("catalog.source_fingerprint_s", "s"),
        ("catalog.compute_once_calls", "count"),
        ("catalog.compute_once_s", "s"),
        ("catalog.session_pin_builds", "count"),
        ("catalog.session_pin_hits", "count"),
        ("catalog.session_pin_build_s", "s"),
        ("catalog.persisted_rdds", "count"),
        ("query.ops", "count"),
        ("query.build_s", "s"),
        ("query.plan_ms", "ms"),
        ("query.exec_s", "s"),
        ("query.result_rows", "count"),
    ]
    + [(f"{m}.{p}_s", "s") for m in tracing.MODULES for p in ("build", "exec")]
    + [
        ("spark.jobs_build", "count"),
        ("spark.jobs_exec", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.shuffle_read_bytes", "bytes"),
        ("spark.shuffle_write_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"),
        ("spark.single_partition_windows", "count"),
        ("dashboard.queue_wait_s", "s"),
        ("dashboard.gen_late_s", "s"),
        ("streaming.batches", "count"),
        ("streaming.addBatch_ms", "ms"),
        ("streaming.walCommit_ms", "ms"),
        ("streaming.commitOffsets_ms", "ms"),
        ("streaming.queryPlanning_ms", "ms"),
        ("streaming.getBatch_ms", "ms"),
        ("streaming.latestOffset_ms", "ms"),
        ("streaming.state_rows", "count"),
        ("streaming.state_mem_bytes", "bytes"),
        ("streaming.watermark_dropped_rows", "count"),
        ("streaming.sink_tables_after", "count"),
        ("streaming.silver_bytes_written", "bytes"),
        ("streaming.silver_bytes_per_input_byte", "ratio"),
        ("setup.cold_s", "s"),
        ("setup.restart_s", "s"),
        ("setup.warmup_s", "s"),
        ("bench.peak_rss_mb", "MB"),
        ("trace.self_s", "s"),
        ("trace.self_frac", "ratio"),
    ]
)


if __name__ == "__main__":
    sys.exit(main())

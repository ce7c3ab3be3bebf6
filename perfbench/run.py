"""flatterer_spark benchmark: flatten throughput, small-call latency and
registry passes, with a traced run for per-layer numbers.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run generates its inputs from ``--seed``
inside ``.perfbench_run/`` (removed at exit), starts ``local[<cpus>]``
Spark, sets up and warms up three times, then runs cycles of a cold pass
and a warm pass over the workload's operations for ``--seconds`` (at least
one cycle, two when traced), checking every operation's output outside the
timed region.

Standard output ends with two JSON lines: a record (environment, ambient
control, set-up and pass walls, every metric the run computed) and the
result ``{"correct", "attempted", "failed", "metrics"}`` whose metrics are
the end-to-end set with ``--trace 0`` and the per-layer set with
``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.trace import Tracer, attribute, read_event_log, tail_percentile  # noqa: E402
from perfbench.workloads import WORKLOADS, csv_mb  # noqa: E402

#: Set-ups per run; ``setup_s`` is their median.  The first also launches
#: the JVM, the later ones restart the SparkContext inside it.
SETUPS = 3
#: Warm passes per cycle.  One, so that a run holds as many cold passes as
#: warm ones to take the median of.
WARM_PASSES = 1
CONTROL_OBJECTS = 20_000
CONTROL_SEED = 0

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
}

#: (module attribute patched in a traced pass, span name).  Each entry is
#: patched where its caller looks the name up.
PATCHES = [
    ("flatterer_spark.flatten", "flatten", "flatten"),
    ("flatterer_spark.flatten", "flatten_dataframes", "flatten_dataframes"),
    ("flatterer_spark.flatten_api", "flatten_dataframes", "flatten_dataframes"),
    ("flatterer_spark.flatten", "compute_metadata", "metadata"),
    ("flatterer_spark.flatten_api", "build_metadata", "metadata"),
    ("flatterer_spark.flatten_api", "read_json_source", "read_json_source"),
    ("flatterer_spark.sources.json_input", "sample_key_order", "sample_key_order"),
    ("flatterer_spark.sources.json_input", "text_ordinal_rows", "text_ordinal_rows"),
    ("flatterer_spark.flatten_api", "with_ordinal", "with_ordinal"),
    ("flatterer_spark.sources.json_input", "with_ordinal_text", "with_ordinal"),
    ("flatterer_spark.sources.json_input", "schema_guard_ok", "schema_guard_ok"),
    ("flatterer_spark.flatten_api", "derive_plan", "derive_plan"),
    ("flatterer_spark.sinks.writers", "write_csv_exact", "write_csv_exact"),
    ("flatterer_spark.sinks.writers", "write_csv_exact_merged", "write_csv_exact_merged"),
    ("flatterer_spark.sinks.writers", "concat_csv_parts", "concat_csv_parts"),
    ("flatterer_spark.sinks.writers", "write_parquet", "write_parquet"),
    ("flatterer_spark.sinks.writers", "write_sqlite", "write_sqlite"),
    ("flatterer_spark.sinks.writers", "write_metadata_csvs", "write_metadata"),
    ("flatterer_spark.sinks.writers", "write_datapackage", "write_metadata"),
    ("flatterer_spark.sinks.union_csv", "run_union_write", "run_union_write"),
]

QUERY_LAYERS = ["queries", "tpch_queries", "ext_queries", "curation"]

PER_LAYER = {
    "session.get_spark_s": "s",
    "json_input.read_json_source_s": "s",
    "json_input.sample_key_order_s": "s",
    "json_input.text_ordinal_rows_s": "s",
    "json_input.with_ordinal_s": "s",
    "json_input.schema_guard_hit_ratio": "ratio",
    "table_plan.derive_plan_s": "s",
    "table_plan.tables_per_call": "count",
    "flatten_api.flatten_dataframes_self_s": "s",
    "flatten_api.metadata_s": "s",
    "flatten_api.redo_ratio": "ratio",
    "writers.write_csv_exact_s": "s",
    "writers.write_csv_exact_merged_s": "s",
    "writers.concat_csv_parts_s": "s",
    "writers.write_parquet_s": "s",
    "writers.write_sqlite_s": "s",
    "writers.write_metadata_s": "s",
    "writers.csv_mb": "MB",
    "union_csv.run_union_write_calls": "count",
    "flatten.self_s": "s",
    **{f"{m}.{k}": "s" for m in QUERY_LAYERS
       for k in ("build_cold_s", "build_s", "exec_s")},
    "gate_queries.drain_s": "s",
    "stream_flatten.batches": "count",
    "stream_flatten.add_batch_ms": "ms",
    "stream_flatten.wal_commit_ms": "ms",
    "stream_flatten.commit_offsets_ms": "ms",
    "stream_flatten.state_commit_ms": "ms",
    "stream_flatten.state_rows": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.slot_busy_ratio": "ratio",
    "spark.no_task_s": "s",
    "spark.cached_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _isolate(work: str, trace: bool) -> dict:
    """Point every scratch location at ``work``; return the Spark conf."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "ckpt"), os.path.join(work, "events")):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["FLATTERER_CKPT_BASE"] = os.path.join(work, "ckpt")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _control(src: str, work: str) -> float:
    """Single-thread hand-written flattener on a fixed input: a host-speed
    reference recorded beside each run, never gated on."""
    out = os.path.join(work, "control_out")
    t0 = time.perf_counter()
    inputs.reference_flatten(src, out)
    wall = time.perf_counter() - t0
    shutil.rmtree(out)
    return wall


class Pass:
    """One pass over a workload's operations: per-operation records and,
    when traced, the spans."""

    def __init__(self, tracer: Tracer | None, cold: bool):
        self.tracer = tracer
        self.cold = cold
        self.ops: list[dict] = []

    @property
    def wall(self) -> float:
        return sum(o["wall_s"] for o in self.ops)


DRAIN_KEYS = ("batches", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
              "state_commit_ms", "state_rows")


def _drain_snapshot() -> dict:
    from flatterer_spark.streaming import stream_flatten

    return dict(stream_flatten.DRAIN_PROGRESS)


def _drain_stats(before: dict) -> dict:
    """Progress of the drains that ran since ``before``."""
    from flatterer_spark.streaming import stream_flatten

    stats = dict.fromkeys(DRAIN_KEYS, 0)
    for k, progs in stream_flatten.DRAIN_PROGRESS.items():
        if before.get(k) is progs:
            continue
        stats["batches"] += len(progs)
        for p in progs:
            d = p.get("durationMs") or {}
            stats["add_batch_ms"] += d.get("addBatch", 0)
            stats["wal_commit_ms"] += d.get("walCommit", 0)
            stats["commit_offsets_ms"] += d.get("commitOffsets", 0)
            stats["state_commit_ms"] += sum(
                so.get("commitTimeMs", 0) for so in p.get("stateOperators", []))
        if progs:
            stats["state_rows"] += sum(
                so.get("numRowsTotal", 0)
                for so in progs[-1].get("stateOperators", []))
    return stats


def _run_pass(spark, ops, traced: bool, cold: bool) -> Pass:
    tracer = Tracer() if traced else None
    rec = Pass(tracer, cold)
    if tracer:
        for module, attr, name in PATCHES:
            tracer.patch(module, attr, name)
    try:
        for op in ops:
            drains = _drain_snapshot() if op.layer == "gate_queries" else None
            start_ms = time.time() * 1e3
            t0 = time.perf_counter()
            t1 = None
            problems: list[str] = []
            try:
                out = op.run(spark)
                t1 = time.perf_counter()
                if op.execute is not None:
                    op.execute(out)
            except Exception as exc:  # a failed op is counted, the loop goes on
                problems = [f"{type(exc).__name__}: {exc}"[:500]]
            t2 = time.perf_counter()
            o = {
                "op": op.name, "layer": op.layer, "objects": op.objects,
                "wall_s": t2 - t0,
                "build_s": (t1 or t2) - t0,
                "exec_s": t2 - (t1 or t2),
                "start_ms": start_ms, "end_ms": start_ms + (t2 - t0) * 1e3,
            }
            if drains is not None:
                o["drain"] = _drain_stats(drains)
            if not problems:
                try:
                    problems = op.check(out)
                except Exception as exc:
                    problems = [f"check {type(exc).__name__}: {exc}"[:500]]
            if tracer and op.out and not problems:
                o["csv_mb"] = csv_mb(op.out)
            o["problems"] = problems[:3]
            rec.ops.append(o)
    finally:
        if tracer:
            tracer.unpatch()
    return rec


def _flatten_layers(p: Pass) -> dict:
    """Per-layer values of one traced pass over flatten calls."""
    t = p.tracer
    plans = t.named("derive_plan")
    fd = t.named("flatten_dataframes")
    guards = t.named("schema_guard_ok")
    metadata = [s for s in t.named("metadata")
                if s.parent is None or s.parent.name != "metadata"]
    return {
        "json_input.read_json_source_s": t.total("read_json_source"),
        "json_input.sample_key_order_s": t.total("sample_key_order"),
        "json_input.text_ordinal_rows_s": t.total("text_ordinal_rows"),
        "json_input.with_ordinal_s": t.total("with_ordinal"),
        "table_plan.derive_plan_s": t.total("derive_plan"),
        "flatten_api.flatten_dataframes_self_s": t.total_self("flatten_dataframes"),
        "flatten_api.metadata_s": sum(s.duration for s in metadata),
        "writers.write_csv_exact_s": t.total("write_csv_exact"),
        "writers.write_csv_exact_merged_s": t.total("write_csv_exact_merged"),
        "writers.concat_csv_parts_s": t.total("concat_csv_parts"),
        "writers.write_parquet_s": t.total("write_parquet"),
        "writers.write_sqlite_s": t.total("write_sqlite"),
        "writers.write_metadata_s": t.total("write_metadata"),
        "writers.csv_mb": sum(o.get("csv_mb", 0.0) for o in p.ops),
        "union_csv.run_union_write_calls": len(t.named("run_union_write")),
        "flatten.self_s": t.total_self("flatten"),
        # pooled below, not medians
        "_plans": [len(s.result or []) for s in plans],
        "_fd": [bool(s.kwargs.get("_exact_schema")) for s in fd],
        "_guards": [s.result is True for s in guards],
    }


def _layer_metrics(passes: list[Pass], setup_tracer: Tracer, events,
                   cpus: int) -> dict:
    """Per-layer values: medians over warm passes of per-pass sums, span
    metrics from the traced warm passes only."""
    cold = [p for p in passes if p.cold]
    repeats = [p for p in passes if not p.cold]
    traced = [p for p in repeats if p.tracer]
    untraced = [p for p in repeats if not p.tracer]
    out = dict.fromkeys(PER_LAYER, 0.0)

    flat = [_flatten_layers(p) for p in traced]
    for k in flat[0] if flat else ():
        if not k.startswith("_"):
            out[k] = _median(f[k] for f in flat)
    plans = [n for f in flat for n in f["_plans"]]
    fd = [x for f in flat for x in f["_fd"]]
    guards = [x for f in flat for x in f["_guards"]]
    out["table_plan.tables_per_call"] = sum(plans) / len(plans) if plans else 0.0
    out["flatten_api.redo_ratio"] = sum(fd) / len(fd) if fd else 0.0
    out["json_input.schema_guard_hit_ratio"] = (
        sum(guards) / len(guards) if guards else 0.0)
    out["session.get_spark_s"] = _median(
        s.duration for s in setup_tracer.named("get_spark"))

    def layer_sum(p: Pass, layer: str, key: str) -> float:
        return sum(o[key] for o in p.ops if o["layer"] == layer)

    for m in QUERY_LAYERS:
        out[f"{m}.build_cold_s"] = _median(layer_sum(p, m, "build_s") for p in cold)
        out[f"{m}.build_s"] = _median(layer_sum(p, m, "build_s") for p in repeats)
        out[f"{m}.exec_s"] = _median(layer_sum(p, m, "exec_s") for p in repeats)
    out["gate_queries.drain_s"] = _median(
        layer_sum(p, "gate_queries", "build_s") for p in repeats)
    for k in DRAIN_KEYS:
        out[f"stream_flatten.{k}"] = _median(
            sum(o["drain"][k] for o in p.ops if "drain" in o) for p in repeats)

    per_pass = []
    for p in repeats:
        acc: dict = {}
        for o in p.ops:
            for k, v in attribute(events, o["start_ms"], o["end_ms"]).items():
                acc[k] = acc.get(k, 0) + v
        per_pass.append(acc)
    for k in ("spark.jobs", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
              "spark.gc_s", "spark.shuffle_write_mb", "spark.spill_mb",
              "spark.no_task_s"):
        out[k] = _median(a[k] for a in per_pass)
    wall = sum(a["spark.wall_s"] for a in per_pass)
    out["spark.slot_busy_ratio"] = (
        sum(a["spark.slot_busy_s"] for a in per_pass) / (wall * cpus) if wall else 0.0)
    out["trace.overhead_ratio"] = (
        _median(p.wall for p in traced) / _median(p.wall for p in untraced))
    return out


def _shutdown_jvm() -> None:
    """End the JVM that the py4j gateway launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on end of input
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _workload_metrics(name: str, passes: list[Pass]) -> dict:
    """The workload's own headline numbers, for the record."""
    cold = [p for p in passes if p.cold]
    warm = [p for p in passes if not p.cold]

    def walls(layers, ps=warm):
        return [o["wall_s"] for p in ps for o in p.ops if o["layer"] in layers]

    def pass_sum(p, layers):
        return sum(o["wall_s"] for o in p.ops if o["layer"] in layers)

    m: dict = {}
    calls = walls({"flatten"})
    if name == "flatten_bulk":
        m["flatten_objs_per_s"] = warm[0].ops[0]["objects"] / _median(calls)
    else:
        m["call_p50_ms"] = _median(calls) * 1e3
        tail = tail_percentile(calls)
        m["call_tail_ms"] = (
            {"percentile": tail[0], "value": tail[1] * 1e3, "calls": len(calls)}
            if tail else {"percentile": None, "calls": len(calls)})
        batch = set(QUERY_LAYERS)
        m["batch_cold_pass_s"] = _median(pass_sum(p, batch) for p in cold)
        m["batch_warm_pass_s"] = _median(pass_sum(p, batch) for p in warm)
        m["stream_pass_s"] = _median(pass_sum(p, {"gate_queries"}) for p in warm)
    return m


def run(args, work: str) -> tuple[dict, dict]:
    # fail before any input is generated when the program is not there
    session = importlib.import_module("flatterer_spark.session")
    cpus = len(os.sched_getaffinity(0))
    conf = _isolate(work, args.trace)
    control_src = os.path.join(work, "control.ndjson")
    inputs.write_games_ndjson(control_src, CONTROL_OBJECTS, CONTROL_SEED)
    control = [_control(control_src, work)]

    wl = WORKLOADS[args.workload](work, args.seed)
    wl.prepare()
    # write the inputs back now: the kernel would do it ~30 s later, inside
    # a set-up or a timed pass
    os.sync()

    setup_tracer = Tracer()
    if args.trace:
        setup_tracer.patch("flatterer_spark.session", "get_spark", "get_spark")
    setups = []
    passes: list[Pass] = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session.get_spark("perfbench", cpus=cpus, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            wl.warm(spark)
            setups.append(time.perf_counter() - t0)
        setup_tracer.unpatch()
        os.sync()  # likewise for the warm-up outputs

        deadline = time.perf_counter() + args.seconds
        cycles = 0
        # a traced run alternates traced and untraced cycles, for the overhead
        while cycles < (2 if args.trace else 1) or time.perf_counter() < deadline:
            ops = wl.fresh(cycles)
            traced = bool(args.trace) and cycles % 2 == 0
            for i in range(1 + WARM_PASSES):
                passes.append(_run_pass(spark, ops, traced, cold=i == 0))
            cycles += 1

        cached = _storage_mb(spark)
        env = {
            "cpus": cpus,
            "master": spark.sparkContext.master,
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "jvm_heap": os.environ["SPARK_DRIVER_MEM"],
        }
        rss = _jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            spark.stop()
        _shutdown_jvm()
    control.append(_control(control_src, work))

    all_ops = [o for p in passes for o in p.ops]
    failed = sum(1 for o in all_ops if o["problems"])
    e2e = {
        "setup_s": _median(setups),
        "cold_pass_s": _median(p.wall for p in passes if p.cold),
        "warm_pass_s": _median(p.wall for p in passes if not p.cold),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env,
        "control_handwritten_s": control,
        "setups_s": setups,
        "pass_walls_s": [[p.wall for p in passes if p.cold],
                         [p.wall for p in passes if not p.cold]],
        "end_to_end": e2e,
        "workload_metrics": {
            **_workload_metrics(args.workload, passes),
            "cached_mb": cached,
            "error_rate": failed / len(all_ops),
        },
        "failures": [(o["op"], o["problems"]) for o in all_ops if o["problems"]][:5],
    }
    if args.trace:
        lines: list[str] = []
        for fn in sorted(os.listdir(os.path.join(work, "events"))):
            with open(os.path.join(work, "events", fn)) as f:
                lines.extend(f)
        log = read_event_log(lines)
        layers = _layer_metrics(passes, setup_tracer, log, cpus)
        layers["spark.cached_mb"] = cached
        layers["jvm.peak_rss_mb"] = rss
        record["per_layer"] = layers
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": metrics,
    }
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(RUN_DIR)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

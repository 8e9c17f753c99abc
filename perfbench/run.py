"""spark-graft benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload board_refresh --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from --seed under
perfbench/.work/, builds a local[4] session with session.get_spark, runs the
workload, checks every output against a computation made apart from the
engine, and prints as the last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything else goes to
stderr and to a sidecar JSON under perfbench/.out/. README.md defines every
metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import probes  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("board_refresh", "llm_curation", "stream_ads")
BATCH_KEYS = {"board_refresh": workloads.BOARD_KEYS, "llm_curation": workloads.LLM_KEYS}
# The metric line's end-to-end metrics. Peak memory is measured too but
# kept off the line (README: it spreads 0.2-0.4 between runs).
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_ms": "ms",
    "drain_eps": "events/s",
    "lag_p50_ms": "ms",
}
LOWER_IS_BETTER = {"setup_s", "pass_s", "op_geomean_ms", "peak_rss_mb", "lag_p50_ms"}
# Workload results copied into the sidecar as they are.
DETAIL = (
    "key_median_s", "warmup_key_s", "input_rows", "passes", "op_latency_s",
    "lags_ms", "lag_p90_ms", "batches", "n_live", "key_order", "jvm",
)


def _module_of(fn) -> str:
    return fn.__module__.removeprefix("flink_realtime_spark.")


def layer_names(queries) -> dict[str, str]:
    """Every per-layer metric on the metric line, with its unit, in the
    order printed. The set is the same for every workload; a layer a
    workload does not run reads 0. Module metrics cover board_refresh's
    modules; a run of llm_curation keeps its modules' figures in the
    sidecar."""
    names = {
        "session.get_spark_s": "s",
        "registry.load_all_s": "s",
        "warmup_s": "s",
        "query.construct_ms": "ms",
        "query.construct_jobs": "count",
        "query.execute_ms": "ms",
        "query.execute_jobs": "count",
    }
    mods = sorted({_module_of(queries[k]) for k in workloads.BOARD_KEYS})
    for m in mods:
        names[f"{m}.construct_ms"] = "ms"
        names[f"{m}.execute_ms"] = "ms"
    names.update(
        {
            "catalyst.analysis_ms": "ms",
            "catalyst.optimization_ms": "ms",
            "catalyst.planning_ms": "ms",
            "exec.stages": "count",
            "exec.tasks": "count",
            "exec.task_cpu_ms": "ms",
            "exec.gc_ms": "ms",
            "exec.input_bytes": "bytes",
            "shuffle.write_bytes": "bytes",
            "shuffle.read_bytes": "bytes",
            "spill.disk_bytes": "bytes",
            "aqe.reused_exchanges": "count",
            "python.rows_out": "count",
            "python.data_bytes": "bytes",
            "python.exec_ms": "ms",
            "codegen.compilations": "count",
            "jit.compile_ms": "ms",
        }
    )
    for phase in ("catchup", "live"):
        names[f"stream.{phase}.batches"] = "count"
        names[f"stream.{phase}.rows_per_batch"] = "count"
        for p in workloads.STREAM_PHASES:
            names[f"stream.{phase}.{p}_ms"] = "ms"
    names.update(
        {
            "sinks.merge_ms": "ms",
            "state.rows_total": "count",
            "state.memory_bytes": "bytes",
            "state.commit_ms": "ms",
            "generator.late_ms": "ms",
        }
    )
    return names


def _jvm_layers(out: dict, jvm: dict, per: float) -> None:
    out["codegen.compilations"] = jvm["codegen_compilations"] / per
    out["jit.compile_ms"] = jvm["jit_compile_ms"] / per


def _exec_layers(out: dict, totals: dict, per: float) -> None:
    out["exec.stages"] = totals["stages"] / per
    out["exec.tasks"] = totals["tasks"] / per
    out["exec.task_cpu_ms"] = totals["task_cpu_ms"] / per
    out["exec.gc_ms"] = totals["gc_ms"] / per
    out["exec.input_bytes"] = totals["input_bytes"] / per
    out["shuffle.write_bytes"] = totals["shuffle_write_bytes"] / per
    out["shuffle.read_bytes"] = totals["shuffle_read_bytes"] / per
    out["spill.disk_bytes"] = totals["spill_disk_bytes"] / per
    out["aqe.reused_exchanges"] = totals["reused_exchanges"] / per
    out["python.rows_out"] = totals["python_rows_out"] / per
    out["python.data_bytes"] = totals["python_data_bytes"] / per
    out["python.exec_ms"] = totals["python_exec_ms"] / per


def batch_layers(res: dict, queries, log: probes.EventLogTotals) -> dict:
    """Per-pass figures: time layers are sums over keys of per-key medians
    (as pass_s is), counts and bytes are timed-phase totals / passes."""
    out: dict[str, float] = {}
    ok_ops = [o for o in res["ops"] if o["ok"]]
    by_key: dict[str, list[dict]] = {}
    for o in ok_ops:
        by_key.setdefault(o["key"], []).append(o)

    def med_sum(keys, f) -> float:
        return sum(stats.median([f(o) for o in by_key[k]]) for k in keys if k in by_key)

    keys = list(by_key)
    out["query.construct_ms"] = med_sum(keys, lambda o: o["construct_s"] * 1000)
    out["query.execute_ms"] = med_sum(keys, lambda o: o["execute_s"] * 1000)
    for k_mod in {_module_of(queries[k]) for k in keys}:
        mk = [k for k in keys if _module_of(queries[k]) == k_mod]
        out[f"{k_mod}.construct_ms"] = med_sum(mk, lambda o: o["construct_s"] * 1000)
        out[f"{k_mod}.execute_ms"] = med_sum(mk, lambda o: o["execute_s"] * 1000)
    for p in ("analysis", "optimization", "planning"):
        out[f"catalyst.{p}_ms"] = med_sum(keys, lambda o, p=p: o["catalyst_ms"][p])
    passes = res["passes"]
    c_groups = ["c|" + o["op"] for o in res["ops"]]
    x_groups = ["x|" + o["op"] for o in res["ops"]]
    out["query.construct_jobs"] = log.total(c_groups)["jobs"] / passes
    out["query.execute_jobs"] = log.total(x_groups)["jobs"] / passes
    _exec_layers(out, log.total(c_groups + x_groups), passes)
    _jvm_layers(out, res["jvm"], passes)
    return out


def stream_layers(res: dict, log: probes.EventLogTotals) -> dict:
    out: dict[str, float] = {}
    prog = res["progress"]
    last_catchup = res["last_backlog_batch"]
    phases = {
        "catchup": [p for p in prog if p["batchId"] <= last_catchup],
        "live": [p for p in prog if p["batchId"] > last_catchup],
    }
    for name, ps in phases.items():
        out[f"stream.{name}.batches"] = len(ps)
        out[f"stream.{name}.rows_per_batch"] = (
            stats.median([p["numInputRows"] for p in ps]) if ps else 0
        )
        for ph in workloads.STREAM_PHASES:
            vals = [p["durationMs"].get(ph, 0) for p in ps]
            out[f"stream.{name}.{ph}_ms"] = stats.median(vals) if vals else 0.0
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    if ops:
        out["state.rows_total"] = ops[-1].get("numRowsTotal", 0)
        out["state.memory_bytes"] = ops[-1].get("memoryUsedBytes", 0)
        out["state.commit_ms"] = stats.median([o.get("commitTimeMs", 0) for o in ops])
    if res["merge_s"]:
        out["sinks.merge_ms"] = stats.median(res["merge_s"]) * 1000
    out["generator.late_ms"] = max(res["late_ms"], default=0.0)
    out["query.construct_ms"] = res["construct_s"] * 1000
    out["query.execute_ms"] = sum(p["durationMs"]["triggerExecution"] for p in prog)
    totals = log.total([res["run_id"]])
    out["query.execute_jobs"] = totals["jobs"]
    _exec_layers(out, totals, 1)
    _jvm_layers(out, res["jvm"], 1)
    return out


def _prepare_env(work: str, trace: bool) -> None:
    """Keep everything the engine writes inside the work directory, and turn
    on the event log for a traced run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs = dict(probes.EVENT_LOG_CONFS, **{"spark.eventLog.dir": "file://" + log_dir})
        for k, v in confs.items():
            args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    traced = bool(a.trace)

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(a, traced, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, traced: bool, work: str, out_dir: str) -> int:
    _prepare_env(work, traced)
    calib_before = probes.calib_ms()
    ticks_before = probes.cpu_ticks()
    print(f"perfbench: host.calib_ms before={calib_before:.1f}", file=sys.stderr)
    t0 = time.perf_counter()
    data_dir = os.path.join(work, "data")
    datagen.write_warehouse(data_dir, a.seed)
    datagen_s = time.perf_counter() - t0

    sys.path.insert(0, ROOT)
    import flink_realtime_spark
    from flink_realtime_spark import registry
    from flink_realtime_spark.session import get_spark

    if not os.path.abspath(flink_realtime_spark.__file__).startswith(ROOT + os.sep):
        raise RuntimeError("the engine must be imported from this checkout")

    tracer = probes.Tracer(traced)
    with tracer.span("session.get_spark") as s_spark:
        spark = get_spark(f"perfbench-{a.workload}")
    rss = probes.RssSampler().start()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("registry.load_all") as s_load:
            registry.load_all()
        ctx = workloads.Context(
            spark, data_dir, work, a.seed, a.seconds, tracer, registry.QUERIES, registry.ORACLES
        )
        if a.workload == "stream_ads":
            res = workloads.run_stream(ctx, rss)
        else:
            res = workloads.run_batch(ctx, BATCH_KEYS[a.workload], rss)
        app_id = spark.sparkContext.applicationId
    finally:
        rss.stop()
        _stop_spark(spark)
    steal = probes.steal_share(ticks_before, probes.cpu_ticks())
    calib_after = probes.calib_ms()
    print(
        f"perfbench: host.calib_ms after={calib_after:.1f} host.steal_share={steal:.3f}",
        file=sys.stderr,
    )

    setup_s = (
        res["first_op_t"] - T_PROCESS - datagen_s - res.get("input_s", 0.0) - calib_before / 1000.0
    )
    e2e = dict(res["metrics"], setup_s=setup_s)
    layers = None
    if traced:
        event_log = probes.EventLogTotals(os.path.join(work, "eventlog", app_id))
        names = layer_names(registry.QUERIES)
        layers = dict.fromkeys(names, 0.0)
        layers["session.get_spark_s"] = s_spark["end"] - s_spark["start"]
        layers["registry.load_all_s"] = s_load["end"] - s_load["start"]
        layers["warmup_s"] = res["warmup_s"]
        if a.workload == "stream_ads":
            layers.update(stream_layers(res, event_log))
        else:
            layers.update(batch_layers(res, registry.QUERIES, event_log))

    sidecar = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "host.calib_ms": {"before": calib_before, "after": calib_after},
        "host.steal_share": steal,
        "datagen_s": datagen_s,
        "timed_s": res["timed_s"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "checks": res["checks"],
        "end_to_end": e2e,
        "per_layer": layers,
        "detail": {k: res[k] for k in DETAIL if k in res},
    }
    kind = "traced" if traced else "untraced"
    if traced:
        sidecar["spans"] = tracer.spans
        sidecar["overhead"] = _overhead(out_dir, a.workload, e2e)
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-{kind}.json"), "w") as f:
        json.dump(sidecar, f, indent=1, default=str)
    if not traced:
        with open(os.path.join(out_dir, f"{a.workload}-untraced-last.json"), "w") as f:
            json.dump(sidecar, f, indent=1, default=str)

    print(f"perfbench: peak_rss_mb={e2e['peak_rss_mb']:.1f}", file=sys.stderr)
    shown = layers if traced else e2e
    units = layer_names(registry.QUERIES) if traced else END_TO_END
    # Every operation whose output is wrong is counted in ``failed``, so the
    # operations that did not fail are correct by construction.
    print(
        stats.result_line(
            True,
            res["attempted"],
            res["failed"],
            {name: (float(shown[name]), units[name]) for name in units},
        )
    )
    return 0


def _overhead(out_dir: str, workload: str, traced_e2e: dict) -> dict:
    """The traced run's end-to-end metrics beside the last untraced run's,
    on stderr and in the sidecar."""
    path = os.path.join(out_dir, f"{workload}-untraced-last.json")
    if not os.path.exists(path):
        print("perfbench: no untraced run to compare the traced run with", file=sys.stderr)
        return {}
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    out = {}
    print(f"perfbench: {'metric':16s} {'traced':>12s} {'untraced':>12s} {'overhead':>9s}", file=sys.stderr)
    for name, v in traced_e2e.items():
        b = base.get(name)
        if not b:
            continue
        worse = (v - b) / b if name in LOWER_IS_BETTER else (b - v) / b
        out[name] = {"traced": v, "untraced": b, "overhead": worse}
        print(f"perfbench: {name:16s} {v:12.3f} {b:12.3f} {worse:+9.1%}", file=sys.stderr)
    return out


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail without a result line
        import traceback

        traceback.print_exc()
        sys.exit(1)

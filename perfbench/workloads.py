"""The three workloads. Each runs against a live session and returns what it
measured; run.py turns that into the metric line.

Batch workloads (board_refresh, llm_curation) are closed loops with one
client thread: an operation is one call of a registered query function
followed by a write of the returned DataFrame to the noop sink, so every
output column is computed. stream_ads runs one continuous query fed by a
generator thread on a fixed schedule (an open loop).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import sys
import threading
import time
import traceback

import duckdb

import datagen
import probes
import stats

# Keys per batch workload, in registry order. The seed picks one key order
# per run and every pass runs it: Spark's codegen cache (100 entries) is
# smaller than board_refresh's ~140 generated classes, so the order decides
# which classes are recompiled, and a fixed cyclic order makes that the same
# set in every pass and every run. README.md explains the choice.
BOARD_KEYS = [
    "agg_star_flagship",
    "agg_rollup",
    "ads_daily_uv_pv",
    "join_inner_equi",
    "join_asof_temporal",
    "win_session",
    "over_topn_pergroup",
    "scalar_json_props",
    "cdc_latest_image",
    "tpch_q21_waiting",
]
LLM_KEYS = [
    "llm_dedup_exact",
    "llm_dedup_minhash",
    "llm_dedup_containment",
    "llm_text_stats",
    "llm_doc_keywords",
    "llm_cooccurrence",
    "cogroup_apply",
]
MIN_PASSES = 3
# Untimed noop passes after the cold pass: the JVM's JIT compile time per
# pass keeps falling for about four passes after the first.
WARM_PASSES = 2

# stream_ads input: small files of events over a fixed user population.
STREAM_USERS = 200
EVENTS_PER_FILE = 250
BACKLOG_FILES = 120
MAX_FILES_PER_TRIGGER = 40
WARMUP_FILES = 6 * MAX_FILES_PER_TRIGGER  # six full-size batches before timing
LIVE_INTERVAL_S = 0.2  # 1,250 events/s offered in the live phase
LIVE_SHARE = 0.6  # share of --seconds spent dropping live files
DRAIN_TIMEOUT_S = 60.0
STREAM_PHASES = ("addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


class Context:
    """What every workload gets: the session, the generated inputs, the
    run's knobs and its work directory."""

    def __init__(self, spark, data_dir, work_dir, seed, seconds, tracer, queries, oracles):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.queries = queries
        self.oracles = oracles

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def job_group(self, group: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, group)


def _warehouse_duck(data_dir: str):
    con = duckdb.connect()
    for name in datagen.TABLE_FILES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, name + '.parquet')}')"
        )
    return con


# ---------------------------------------------------------------- batch


def run_batch(ctx: Context, keys: list[str], rss: probes.RssSampler) -> dict:
    from tools.drive_driver import frame_hash  # importable once run.py put the checkout on sys.path

    spark = ctx.spark
    outputs: dict[str, tuple[list, list] | None] = {}
    input_rows: dict[str, int] = {}
    warm_key_s: dict[str, float] = {}
    table_rows = datagen.table_rows(ctx.data_dir)
    order = list(keys)
    random.Random(ctx.seed).shuffle(order)
    t_warm = time.perf_counter()
    # Warm-up: one pass at the benchmark's scale, in the run's key order.
    # Each output is collected here and compared with its oracle after the
    # timed phase. Then WARM_PASSES untimed passes as the timed ones run.
    with ctx.tracer.span("warmup"):
        for key in order:
            ctx.job_group("warmup")
            t_key = time.perf_counter()
            try:
                df = ctx.queries[key](spark, ctx.data_dir)
                outputs[key] = (df.columns, [tuple(r) for r in df.collect()])
                files = {os.path.basename(p) for p in df.inputFiles()}
                input_rows[key] = sum(table_rows.get(f, 0) for f in files)
            except Exception:  # noqa: BLE001 - a failing key is counted, not fatal
                traceback.print_exc()
                outputs[key] = None
                input_rows[key] = 0
            warm_key_s[key] = time.perf_counter() - t_key
        for _ in range(WARM_PASSES):
            for key in order:
                if outputs[key] is None:
                    continue
                ctx.job_group("warmup")
                try:
                    df = ctx.queries[key](spark, ctx.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - its timed operations fail and are counted
                    traceback.print_exc()
    warmup_s = time.perf_counter() - t_warm

    ops: list[dict] = []
    jvm0 = probes.jvm_compile_counters(spark)
    t_start = time.perf_counter()
    passes = 0
    with ctx.tracer.span("timed"):
        while passes < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
            with ctx.tracer.span("pass", op=f"pass{passes}"):
                for key in order:
                    ops.append(_batch_op(ctx, key, f"{passes}.{key}"))
            passes += 1
    timed_s = time.perf_counter() - t_start
    jvm = probes.jvm_compile_counters(spark, since=jvm0)
    peak_rss_mb = rss.stop()

    # Checks, after the timed phase: strict hash against the DuckDB oracle.
    con = _warehouse_duck(ctx.data_dir)
    ok: dict[str, bool] = {}
    with ctx.tracer.span("check"):
        for key in keys:
            if outputs[key] is None:
                ok[key] = False
                continue
            cur = con.execute(ctx.oracles[key])
            ocols = [d[0] for d in cur.description]
            ok[key] = frame_hash(*outputs[key]) == frame_hash(ocols, cur.fetchall())
            if not ok[key]:
                print(f"perfbench: {key}: output differs from its oracle", file=sys.stderr)
    con.close()

    lat: dict[str, list[float]] = {k: [] for k in keys}
    for op in ops:
        if op["ok"]:
            lat[op["key"]].append(op["construct_s"] + op["execute_s"])
    med = {k: stats.median(v) for k, v in lat.items() if v}
    failed = sum(1 for op in ops if not (op["ok"] and ok[op["key"]]))
    pass_s = sum(med.values())
    return {
        "attempted": len(ops),
        "failed": failed,
        "passes": passes,
        "timed_s": timed_s,
        "warmup_s": warmup_s,
        "first_op_t": t_start,
        "checks": ok,
        "ops": ops,
        "op_latency_s": [(o["key"], o["construct_s"] + o["execute_s"]) for o in ops],
        "key_median_s": med,
        "input_rows": input_rows,
        "warmup_key_s": warm_key_s,
        "key_order": order,
        "jvm": jvm,
        "metrics": {
            "pass_s": pass_s,
            "op_geomean_ms": stats.geomean([v * 1000 for v in med.values()]),
            "lag_p50_ms": stats.median(
                [(o["construct_s"] + o["execute_s"]) * 1000 for o in ops if o["ok"]]
            ),
            "drain_eps": sum(input_rows[k] for k in med) / pass_s,
            "peak_rss_mb": peak_rss_mb,
        },
    }


def _batch_op(ctx: Context, key: str, op_id: str) -> dict:
    rec = {"key": key, "op": op_id, "ok": False, "construct_s": 0.0, "execute_s": 0.0}
    with ctx.tracer.span("op", op=op_id, key=key):
        try:
            ctx.job_group("c|" + op_id)
            with ctx.tracer.span("construct", op=op_id) as s:
                df = ctx.queries[key](ctx.spark, ctx.data_dir)
            rec["construct_s"] = s["end"] - s["start"]
            ctx.job_group("x|" + op_id)
            with ctx.tracer.span("execute", op=op_id) as s:
                df.write.format("noop").mode("overwrite").save()
            rec["execute_s"] = s["end"] - s["start"]
            rec["ok"] = True
        except Exception:  # noqa: BLE001 - a failing operation is counted, not fatal
            traceback.print_exc()
            return rec
    if ctx.traced:
        ctx.job_group("catalyst")
        with ctx.tracer.span("catalyst", op=op_id):
            rec["catalyst_ms"] = probes.planning_phases_ms(df)
    return rec


# ---------------------------------------------------------------- stream


class TimedStore:
    """Hands ``merge`` through to a ParquetUpsertStore and keeps each
    call's duration: the sink layer's time, seen from outside."""

    def __init__(self, store):
        self.store = store
        self.merge_s: list[float] = []

    def merge(self, batch_df) -> None:
        t0 = time.perf_counter()
        self.store.merge(batch_df)
        self.merge_s.append(time.perf_counter() - t0)


def _stream_query(ctx, drop_dir, store_dir, ckpt_dir, timed_store: bool):
    from pyspark.sql import functions as F

    from flink_realtime_spark.streaming import sinks, sources, stateful

    sdf = sources.file_stream_source(
        ctx.spark, drop_dir, sources.EVENTS_DDL, max_files_per_trigger=MAX_FILES_PER_TRIGGER
    ).select("user_id", "event_id", "ts", "event_type", "value")
    state = stateful.apply_with_state(sdf, "user_id", stateful.latest_image_state_fn)
    store = sinks.ParquetUpsertStore(
        ctx.spark,
        store_dir,
        keys=["user_id"],
        order_cols=[F.col("last_ts_us").desc(), F.col("last_event_id").desc()],
    )
    target = TimedStore(store) if timed_store else store
    return sinks.upsert_sink(state, target, ckpt_dir), target


def _source_log(ckpt_dir: str) -> dict[int, list[str]]:
    """batch id -> files, from the file source's log in the checkpoint (the
    compacted and the delta files may both list a batch; pairs are
    de-duplicated)."""
    pairs: set[tuple[int, str]] = set()
    log_dir = os.path.join(ckpt_dir, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    pairs.add((int(e["batchId"]), os.path.basename(e["path"])))
    out: dict[int, list[str]] = {}
    for bid, path in sorted(pairs):
        out.setdefault(bid, []).append(path)
    return out


def _batch_end(p: dict) -> float:
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    )
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1000.0


def _wait_rows(listener, rows: int, timeout: float) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if listener.snapshot()[0] >= rows:
            return True
        time.sleep(0.01)
    return False


def run_stream(ctx: Context, rss: probes.RssSampler) -> dict:
    spark = ctx.spark
    files = datagen.EventFiles(ctx.seed, EVENTS_PER_FILE, STREAM_USERS)
    dirs = {n: os.path.join(ctx.work_dir, n) for n in ("warm", "drop", "staging", "store", "ckpt")}
    for n in ("warm", "drop", "staging"):  # the store and checkpoint are the engine's to create
        os.makedirs(dirs[n])

    # Inputs first (input generation is not set-up): the warm-up's own
    # files, and the backlog the timed query starts on.
    t_gen = time.perf_counter()
    warm = os.path.join(dirs["warm"], "drop")
    os.makedirs(warm)
    warm_files = datagen.EventFiles(ctx.seed + 1_000_003, EVENTS_PER_FILE, STREAM_USERS)
    for i in range(WARMUP_FILES):
        warm_files.write(i, warm, dirs["staging"])
    names = [
        os.path.basename(files.write(i, dirs["drop"], dirs["staging"]))
        for i in range(BACKLOG_FILES)
    ]
    input_s = time.perf_counter() - t_gen

    # Warm-up: the same query over its own files, availableNow, in batches
    # as large as the catch-up's.
    t_warm = time.perf_counter()
    with ctx.tracer.span("warmup"):
        writer, _ = _stream_query(
            ctx, warm, os.path.join(dirs["warm"], "store"), os.path.join(dirs["warm"], "ckpt"), False
        )
        writer.start().awaitTermination()
        shutil.rmtree(dirs["warm"])
    warmup_s = time.perf_counter() - t_warm

    n_live = max(1, round(ctx.seconds * LIVE_SHARE / LIVE_INTERVAL_S))
    backlog_rows = BACKLOG_FILES * EVENTS_PER_FILE
    total_rows = (BACKLOG_FILES + n_live) * EVENTS_PER_FILE

    listener = probes.make_progress_listener()
    spark.streams.addListener(listener)
    due: dict[str, float] = {}
    dropped: dict[str, float] = {}
    q = None
    jvm0 = probes.jvm_compile_counters(spark)
    t_first = time.perf_counter()
    try:
        with ctx.tracer.span("timed"):
            with ctx.tracer.span("construct") as s_construct:
                writer, target = _stream_query(
                    ctx, dirs["drop"], dirs["store"], dirs["ckpt"], ctx.traced
                )
                writer = writer.trigger(processingTime="0 seconds")
                t_query = time.time()
                q = writer.start()
            for n in names:
                due[n] = t_query
            with ctx.tracer.span("catchup"):
                caught_up = _wait_rows(listener, backlog_rows, DRAIN_TIMEOUT_S)
            with ctx.tracer.span("live"):
                if caught_up:
                    gen = threading.Thread(
                        target=_generate, args=(files, dirs, n_live, due, dropped), name="generator"
                    )
                    gen.start()
                    gen.join()
                drained = caught_up and _wait_rows(listener, total_rows, DRAIN_TIMEOUT_S)
        timed_s = time.perf_counter() - t_first
        jvm = probes.jvm_compile_counters(spark, since=jvm0)
    finally:
        if q is not None:
            q.stop()
        spark.streams.removeListener(listener)
    peak_rss_mb = rss.stop()
    if not drained:
        print("perfbench: stream did not consume every file in time", file=sys.stderr)
    if max(dropped[f] - due[f] for f in dropped) > LIVE_INTERVAL_S:
        print("perfbench: the generator ran late; this run is invalid", file=sys.stderr)

    # Attribution and checks, after the timed phase.
    _, progress = listener.snapshot()
    progress = [p for p in progress if p.get("numInputRows", 0) > 0]
    ends = {p["batchId"]: _batch_end(p) for p in progress}
    batch_files = _source_log(dirs["ckpt"])
    file_end, twice = stats.attribute_files(batch_files, ends)
    all_files = sorted(due)
    rows_in = sum(p["numInputRows"] for p in progress)
    store_ok, bad_users = _check_store(dirs["store"], [os.path.join(dirs["drop"], f) for f in all_files])
    if rows_in != len(all_files) * EVENTS_PER_FILE:
        print(f"perfbench: numInputRows {rows_in} != {len(all_files) * EVENTS_PER_FILE}", file=sys.stderr)
    failed_files = set(twice) | {f for f in all_files if f not in file_end}
    if bad_users:
        con = duckdb.connect()
        for f in all_files:
            users = {
                r[0]
                for r in con.execute(
                    f"SELECT DISTINCT user_id FROM read_parquet('{os.path.join(dirs['drop'], f)}')"
                ).fetchall()
            }
            if users & bad_users:
                failed_files.add(f)
        con.close()
    if rows_in != len(all_files) * EVENTS_PER_FILE and not failed_files:
        failed_files = set(all_files)

    backlog_end = max((file_end.get(n, float("nan")) for n in names), default=float("nan"))
    live = [f for f in all_files if f not in names]
    lags_ms = [(file_end[f] - due[f]) * 1000 for f in live if f in file_end]
    last_backlog_batch = max(
        (bid for bid, fs in batch_files.items() if set(fs) & set(names)), default=-1
    )
    drain_s = backlog_end - t_query
    return {
        "attempted": len(all_files),
        "failed": len(failed_files),
        "timed_s": timed_s,
        "warmup_s": warmup_s,
        "first_op_t": t_first,
        "input_s": input_s,
        "construct_s": s_construct["end"] - s_construct["start"],
        "run_id": str(q.runId),
        "checks": {"store": store_ok, "rows_in": rows_in, "files_twice": twice},
        "progress": progress,
        "last_backlog_batch": last_backlog_batch,
        "lags_ms": lags_ms,
        "lag_p90_ms": stats.percentile(lags_ms, 90),  # None below 100 live files
        "batches": [
            (p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"]) for p in progress
        ],
        "late_ms": [(dropped[f] - due[f]) * 1000 for f in dropped],
        "merge_s": getattr(target, "merge_s", []),
        "n_live": n_live,
        "jvm": jvm,
        "metrics": {
            "pass_s": drain_s,
            "op_geomean_ms": stats.geomean(
                [p["durationMs"]["triggerExecution"] for p in progress]
            ),
            "lag_p50_ms": stats.median(lags_ms),
            "drain_eps": backlog_rows / drain_s,
            "peak_rss_mb": peak_rss_mb,
        },
    }


def _generate(files, dirs, n_live, due, dropped) -> None:
    """Open loop: file j is due at t0 + j * interval whether or not the
    engine kept up."""
    t0 = time.time()
    for j in range(n_live):
        when = t0 + j * LIVE_INTERVAL_S
        pause = when - time.time()
        if pause > 0:
            time.sleep(pause)
        name = os.path.basename(files.write(BACKLOG_FILES + j, dirs["drop"], dirs["staging"]))
        due[name] = when
        dropped[name] = time.time()


def _check_store(store_dir: str, files: list[str]) -> tuple[bool, set]:
    """The final store against DuckDB's latest image over exactly the files
    the generator wrote (the sink_upsert_latest oracle's form)."""
    from tools.drive_driver import frame_hash

    con = duckdb.connect()
    file_list = ", ".join(f"'{f}'" for f in files)
    oracle = con.execute(
        f"""
        SELECT user_id, event_id AS last_event_id, event_type AS last_type,
               CAST(value AS DOUBLE) AS last_value, epoch_us(ts) AS last_ts_us
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM read_parquet([{file_list}])
        ) WHERE rn = 1
        """
    )
    ocols = [d[0] for d in oracle.description]
    orows = oracle.fetchall()
    got = con.execute(
        "SELECT user_id, last_event_id, last_type, last_value, last_ts_us "
        f"FROM read_parquet('{os.path.join(store_dir, '*.parquet')}')"
    )
    gcols = [d[0] for d in got.description]
    grows = got.fetchall()
    con.close()
    if frame_hash(gcols, grows) == frame_hash(ocols, orows):
        return True, set()
    want = {r[0]: r for r in orows}
    have = {r[0]: r for r in grows}
    bad = {u for u in set(want) | set(have) if want.get(u) != have.get(u)}
    print(f"perfbench: store differs from the oracle for {len(bad)} users", file=sys.stderr)
    return False, bad

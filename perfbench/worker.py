"""One benchmark run inside a fresh process: set up the engine, run the
workload in a closed loop for the measured window, and write a record.

Started by ``run.py`` with the environment the engine reads
(``FLOORPLAN_FILE``, ``FLOORIST_DATA_DIR``, ``FLOORIST_OUTPUT_URI``, ...)
and ``PYTHONPATH`` at the checkout root, which the engine's Python UDF
workers need to import ``floorist_spark``. Usage::

    python3 perfbench/worker.py <config.json>
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext

import host
import pyarrow.parquet as pq
import tracing

#: warm set-ups timed for ``setup_s``, after the cold one
WARM_SETUPS = 4

#: per-iteration layer values reported as their median over the warm runs
LAYER_METRICS = (
    "storage.write_s", "storage.list_s", "storage.jobs", "storage.stages",
    "operators.build_s", "operators.exec_s", "operators.jobs", "operators.stages",
    "streaming.batches", "streaming.add_batch_s", "streaming.state_rows",
    "executor.dumps", "executor.attempts", "executor.self_s",
    "operators._cache.release_s", "operators._cache.persisted_rdds_end",
    "trace.coverage", "trace.untagged_jobs",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.task_run_s",
    "spark.gc_s", "spark.spill_bytes",
)


def probe() -> float:
    """The host's speed between two runs of the engine: the mean of two
    probes, as one reading varies by 12-19 % within a run."""
    return (host.probe_s() + host.probe_s()) / 2


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    tracer = tracing.Tracer() if cfg["trace"] else None
    if tracer:
        tracing.install(tracer)

    from floorist_spark.config import get_config
    from floorist_spark.operators._cache import release_caches, release_memos
    from floorist_spark.runner import FlooristSpark
    from floorist_spark.session import get_spark

    def span(name, dump=None):
        return tracer.span(name, dump) if tracer else nullcontext()

    tmp = cfg["tmp_dir"]
    extra = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if tracer:
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + cfg["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def setup():
        t0 = time.perf_counter()
        with span("session:get_spark"):
            spark = get_spark("floorist_spark", extra_conf=extra)
        if tracer:
            tracer.sc = spark.sparkContext
        fs = FlooristSpark(get_config(mode="native"), spark=spark)
        return spark, fs, time.perf_counter() - t0

    spark, fs, _ = setup()
    cold_start_s = time.time() - cfg["spawn_time"]
    setups, probes = [], []
    for _ in range(WARM_SETUPS):
        if tracer:
            tracer.sc = None
        spark.stop()
        spark, fs, dt = setup()
        setups.append(dt)
        probes.append(probe())
    if tracer:
        tracing.wrap_query_runner(tracer, fs)
        progress: list[dict] = []
        spark.streams.addListener(tracing.streaming_listener(progress))

    rows, data_dir, out_dir = cfg["rows"], cfg["data_dir"], cfg["out_dir"]
    cur = os.path.join(out_dir, "cur")
    if cfg["noop"]:
        import __spark_entry__

        queries = __spark_entry__.queries()
        names = [r["query"].removeprefix("catalog:") for r in rows]

        def run_once(cold: bool) -> tuple[int, int]:
            # the cold run collects each result for the output checker (the
            # noop sink keeps nothing); the measured warm runs use noop
            failed = 0
            for n, name in enumerate(names, 1):
                try:
                    with span("operators:build", f"{n}:{name}"):
                        df = queries[name](spark, data_dir)
                    with span("operators:exec", f"{n}:{name}"):
                        if cold:
                            pq.write_table(df.toArrow(), os.path.join(out_dir, "verify", f"{name}.parquet"))
                        else:
                            df.write.format("noop").mode("overwrite").save()
                except Exception as ex:  # one entry failing must not end the run
                    print(f"[perfbench] {name} failed: {ex}", file=sys.stderr)
                    failed += 1
            return 0, failed
    else:

        def run_once(cold: bool) -> tuple[int, int]:
            try:
                fs.run()
            except SystemExit as ex:
                return int(ex.code or 0), 0
            return 0, 0

    sc = spark.sparkContext
    pid = os.getpid()
    iters = []
    # iteration 0 is the cold run a fresh CronJob makes; a fixed number of
    # warm runs follows, so every run does the same work whatever the load
    while len(iters) <= cfg["warm_runs"]:
        i = len(iters)
        if tracer:
            tracer.iteration = i
        c0, s0, w0, e0 = host.tree_cpu_s(pid), host.steal_s(), time.perf_counter(), time.time()
        code, failed = run_once(cold=i == 0)
        w1, e1, s1, c1 = time.perf_counter(), time.time(), host.steal_s(), host.tree_cpu_s(pid)
        if tracer:
            tracer.iteration = None
        persisted = sc._jsc.getPersistentRDDs().size()
        # untimed: every iteration starts with the caches a fresh run has;
        # the host speed probe runs while the engine is idle
        release_caches()
        release_memos()
        if not cfg["noop"]:
            os.rename(cur, os.path.join(out_dir, f"iter{i}"))
            os.mkdir(cur)
        iters.append({
            "wall_s": w1 - w0, "cpu_s": c1 - c0, "steal_s": s1 - s0,
            "exit_code": code, "failed": failed, "probe_s": probe(),
            "persisted_rdds": persisted, "span": (w0, w1), "epoch": (e0, e1),
        })

    t_end = time.perf_counter()
    record = {"cold_start_s": cold_start_s, "setups_s": setups, "setup_probes_s": probes,
              "iters": iters}
    from __spark_entry__ import oracle_sql

    oracles = oracle_sql()
    record["oracles"] = {r["query"]: oracles[r["query"].removeprefix("catalog:")]
                         for r in rows if r["query"].startswith("catalog:")}
    record["persisted_rdds_end"] = sc._jsc.getPersistentRDDs().size()
    if tracer:
        _wait_streams(progress)
    spark.stop()
    if tracer:
        record["trace"] = _layers(tracer, progress, iters, cfg["eventlog_dir"])
    record["after_loop_s"] = time.perf_counter() - t_end
    with open(cfg["record"], "w") as fh:
        json.dump(record, fh)


def _wait_streams(progress: list, timeout: float = 5.0) -> None:
    """Listener events arrive asynchronously; wait until no new progress
    event has arrived for half a second."""
    deadline = time.time() + timeout
    seen = -1
    while time.time() < deadline and seen != len(progress):
        seen = len(progress)
        time.sleep(0.5)


def _layers(tracer, progress, iters, eventlog_dir) -> dict[str, float]:
    spans = tracer.dump_spans()
    n = len(iters)  # medians over the warm iterations 1..n-1
    per_iter = tracing.span_summary(spans)
    logs = sorted(glob.glob(os.path.join(eventlog_dir, "*")), key=os.path.getmtime)
    events, untagged = tracing.parse_eventlog(logs[-1])
    for it, vals in events.items():
        per_iter[it].update(vals)
    for rec in progress:
        for i, it in enumerate(iters):
            if it["epoch"][0] <= rec["start"] <= it["epoch"][1]:
                d = per_iter[i]
                d["streaming.batches"] += 1
                d["streaming.add_batch_s"] += rec["add_batch_s"]
                d["streaming.state_rows"] += rec["state_rows"]
                break
    for i, it in enumerate(iters):
        d = per_iter[i]
        d["operators._cache.persisted_rdds_end"] = it["persisted_rdds"]
        d["trace.coverage"] = tracing.coverage([s for s in spans if s["iter"] == i], *it["span"])
        d["trace.untagged_jobs"] = sum(it["epoch"][0] <= t <= it["epoch"][1] for t in untagged)

    def setup_median(name: str) -> float:
        vals = [s["end"] - s["start"] for s in spans if s["name"] == name and s["iter"] is None]
        return statistics.median(vals[-WARM_SETUPS:]) if vals else 0.0

    out = {
        "session.get_spark_s": setup_median("session:get_spark"),
        "session.register_views_s": setup_median("session:register_views"),
        "runner.init_s": setup_median("runner:init"),
    }
    for metric in LAYER_METRICS:
        out[metric] = tracing.median_over(per_iter, metric, range(1, n))
    return out


if __name__ == "__main__":
    main(sys.argv[1])

"""Floorplan-export benchmark for floorist_spark.

Runs one workload (see ``workloads.py``) in a fresh engine process: a
cold floorplan run, then ``--seconds * 2 // 5`` warm ones. Checks every output
against DuckDB, and prints each metric by name with its unit; the last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``::

    python3 perfbench/run.py --workload export_sql --seed 1 --seconds 18 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separately traced run (``BENCHMARK.json`` lists both).
Several workloads may be given comma-separated; their metrics are then
prefixed with the workload name. Everything a run writes lives under
``.perfbench_tmp/`` in the checkout and is deleted when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import check
import datagen
import host
import yaml
from workloads import DATA_SEED, WORKLOADS, floorplan

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 150



def warm_runs(seconds: int) -> int:
    """Warm floorplan runs measured after the cold one: two per 5 s of
    ``--seconds`` (a warm run takes 2-3 s on 4 cores), fixed so that a
    loaded host slows a run down instead of changing what it measures."""
    return max(1, seconds * 2 // 5)


def declared_metrics(trace: bool) -> list[dict]:
    """The metrics ``BENCHMARK.json`` declares for this mode, in order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["per_layer" if trace else "end_to_end"]


def run_workload(name: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """One measured run; returns (result, run record)."""
    w = WORKLOADS[name]
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{name}-{seed}-", dir=base)
    try:
        return _run_in(w, seed, seconds, trace, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run_in(w, seed: int, seconds: int, trace: bool, tmp: str) -> tuple[dict, dict]:
    data_dir, out_dir = os.path.join(tmp, "data"), os.path.join(tmp, "out")
    for d in ("cur", "verify"):
        os.makedirs(os.path.join(out_dir, d))
    for d in ("spark-local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(tmp, d))
    t0 = time.perf_counter()
    datagen.write(data_dir, w.sf, DATA_SEED)
    rows, run_date = floorplan(w, seed)
    plan_path = os.path.join(tmp, "floorplan.yaml")
    with open(plan_path, "w") as fh:
        yaml.safe_dump(rows, fh, sort_keys=False)

    ncpu = host.cores()
    cfg = {
        "trace": trace, "warm_runs": warm_runs(seconds), "noop": w.noop, "rows": rows,
        "data_dir": data_dir, "out_dir": out_dir, "tmp_dir": os.path.join(tmp, "tmp"),
        "eventlog_dir": os.path.join(tmp, "eventlog"),
        "record": os.path.join(tmp, "record.json"),
    }
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "FLOORIST_MODE": "native",
        "FLOORIST_DATA_DIR": data_dir,
        "FLOORPLAN_FILE": plan_path,
        "FLOORIST_OUTPUT_URI": "file://" + os.path.join(out_dir, "cur"),
        "FLOORIST_RUN_DATE": run_date.isoformat(),
        "FLOORIST_MAX_PARALLEL_DUMPS": str(w.max_parallel or ncpu),
    })

    steal0 = host.steal_s()
    cfg["spawn_time"] = time.time()
    cfg_path = os.path.join(tmp, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    log_path = os.path.join(tmp, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        peak = _watch(proc, sample_rss=trace)
    t1 = time.perf_counter()
    steal = host.steal_s() - steal0
    if proc.returncode != 0 or not os.path.exists(cfg["record"]):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"engine process exited with {proc.returncode}")
    with open(cfg["record"]) as fh:
        rec = json.load(fh)

    verdict = _check(w, rows, rec, data_dir, out_dir, run_date, ncpu)
    iters = rec["iters"]
    probe = statistics.median(rec["setup_probes_s"] + [i["probe_s"] for i in iters])
    scale = host.PROBE_REF_S / probe
    raw = {"run_s": sum(i["wall_s"] for i in iters), "cpu_s": sum(i["cpu_s"] for i in iters),
           "setup_s": statistics.median(rec["setups_s"])}
    phases = {"engine_process_s": t1 - t0, "check_s": time.perf_counter() - t1,
              "after_loop_s": rec["after_loop_s"]}
    record = {
        "workload": w.name, "seed": seed, "trace": trace, "iterations": len(iters),
        "host_steal_s": steal, "probe_s": probe, "scale": scale, "raw": raw,
        "cores": ncpu, **verdict["record"],
        "phases": phases, "first_run_s": iters[0]["wall_s"],
        "iteration_wall_s": [i["wall_s"] for i in iters],
        "iteration_cpu_s": [i["cpu_s"] for i in iters],
        "iteration_steal_s": [i["steal_s"] for i in iters],
        "iteration_probe_s": [i["probe_s"] for i in iters],
    }
    if trace:
        metrics = dict(rec["trace"]) | verdict["layers"]
        metrics["session.cold_start_s"] = rec["cold_start_s"]
        metrics["host.peak_rss_mb"] = peak
        metrics["host.steal_s"] = steal
        metrics["host.probe_s"] = probe
        # same statistic as the untraced run_s, so the two give the overhead
        metrics["trace.run_s"] = raw["run_s"] * scale
    else:
        # the whole timed region, cold run and warm runs alike, at the
        # reference host's speed: summing the work of the run spreads far
        # less between runs than the best or the median floorplan run does,
        # and the scale takes out the host's own speed, which other tenants
        # move by up to half within a minute
        metrics = {k: v * scale for k, v in raw.items()} | {
            "ok_ratio": 1.0 - verdict["failed"] / verdict["attempted"],
        }
    result = {
        "correct": verdict["correct"], "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in declared_metrics(trace)},
    }
    return result, record


def _watch(proc: subprocess.Popen, sample_rss: bool) -> float:
    """Wait for the engine process and return its tree's peak resident
    memory in MB (sampled every 0.1 s when ``sample_rss``, which only the
    traced run does, so the sampler adds no load to the timed runs). Kills
    the whole process group on timeout and waits until all of it ended."""
    peak = 0.0
    done = threading.Event()

    def sample():
        nonlocal peak
        while not done.is_set():
            peak = max(peak, host.tree_rss_mb(proc.pid))
            done.wait(0.1)

    t = threading.Thread(target=sample, daemon=True)
    if sample_rss:
        t.start()
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        done.set()
        if sample_rss:
            t.join()
        _kill_group(proc)
    return peak


def _kill_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and _group_alive(proc.pid):
        time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except ProcessLookupError:
                continue
    return False


def _dump_path(out: str, prefix: str, d) -> str:
    return os.path.join(out, prefix, f"year_created={d.year}", f"month_created={d.month}",
                        f"day_created={d.day}")


def _check(w, rows, rec, data_dir, out_dir, run_date, ncpu) -> dict:
    con = check.connect(data_dir, ncpu)
    key = check.data_key(data_dir)
    cache = os.path.join(ROOT, ".perfbench_tmp", "oracle")
    want = {r["prefix"]: check.oracle_digest(con, rec["oracles"].get(r["query"], r["query"]), cache, key)
            for r in rows}
    iters = rec["iters"]
    problems: list[str] = []
    failed = files = bytes_ = markers = 0
    attempted = len(rows) * len(iters)
    if w.noop:
        # one collected result per entry, from the cold run
        bad = 0
        for r in rows:
            name = r["query"].removeprefix("catalog:")
            why = check.check_dump(con, os.path.join(out_dir, "verify"), None, want[r["prefix"]],
                                   files=[os.path.join(out_dir, "verify", f"{name}.parquet")])
            if why:
                bad += 1
                problems.append(f"{name}: {why}")
        failed = sum(min(len(rows), it["failed"] + bad) for it in iters)
    else:
        for i, it in enumerate(iters):
            base = os.path.join(out_dir, f"iter{i}")
            for r in rows:
                d = _dump_path(base, r["prefix"], run_date)
                why = check.check_dump(con, d, r.get("chunksize", 1000) or 0, want[r["prefix"]])
                if why:
                    failed += 1
                    problems.append(f"iter {i} {r['prefix']}: {why}")
                found = check.data_files(d)
                files += len(found)
                bytes_ += sum(os.path.getsize(f) for f in found)
                markers += os.path.isdir(d) and not found
            if it["exit_code"] != 0:
                problems.append(f"iter {i}: exit code {it['exit_code']}")
    if rec["persisted_rdds_end"]:
        problems.append(f"{rec['persisted_rdds_end']} persisted RDDs left after release")
    con.close()
    n = len(iters)
    exported = sum(want[r["prefix"]][1] for r in rows) * n
    return {
        "correct": not problems, "attempted": attempted, "failed": failed,
        "layers": {
            "storage.files": files / n, "storage.bytes": bytes_ / n, "storage.markers": markers / n,
            "storage.bytes_per_row": bytes_ / exported if exported and not w.noop else 0.0,
        },
        "record": {"problems": problems},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help=", ".join(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    names = args.workload.split(",")
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        ap.error(f"unknown workload {unknown}; choose from {list(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "floorist_spark")):
        print(f"perfbench: no floorist_spark package under {ROOT}", file=sys.stderr)
        return 2

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        result, record = run_workload(name, args.seed, args.seconds, bool(args.trace))
        print(json.dumps({"run_record": record}))
        for k, m in result["metrics"].items():
            print(f"{name} {k} {m['value']:.6g} {m['unit']}")
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        prefix = f"{name}." if len(names) > 1 else ""
        combined["metrics"] |= {prefix + k: m for k, m in result["metrics"].items()}
    print(json.dumps(combined))
    return 0


if __name__ == "__main__":
    sys.exit(main())

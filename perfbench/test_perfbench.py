"""Self-tests of the benchmark's own code (no Spark needed)::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re

import check
import datagen
import host
import pytest
import tracing
from workloads import WORKLOADS, floorplan

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")

QUERY = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey < 23"
EMPTY = "SELECT o_orderkey FROM orders WHERE o_totalprice < 0"


@pytest.fixture(scope="module")
def con(tmp_path_factory):
    d = tmp_path_factory.mktemp("data")
    datagen.write(str(d), 0.001, 1)
    c = check.connect(str(d), 1)
    yield c
    c.close()


def _export(con, sql: str, out, chunksize: int) -> None:
    """Write ``sql``'s rows the way the sink lays them out: one gzip
    Parquet file per ``chunksize`` rows."""
    out.mkdir(parents=True)
    n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    for k, off in enumerate(range(0, n, chunksize)):
        con.execute(
            f"COPY (SELECT * FROM ({sql}) ORDER BY ALL LIMIT {chunksize} OFFSET {off}) "
            f"TO '{out}/part-{k:05d}.gz.parquet' (FORMAT parquet, COMPRESSION gzip)"
        )


def test_checker_accepts_faithful_output(con, tmp_path):
    _export(con, QUERY, tmp_path / "d", 5)
    assert check.check_dump(con, str(tmp_path / "d"), 5, check.digest(con, QUERY)) is None


def test_checker_rejects_wrong_file_count(con, tmp_path):
    _export(con, QUERY, tmp_path / "d", 5)
    why = check.check_dump(con, str(tmp_path / "d"), 10, check.digest(con, QUERY))
    assert why and "files" in why
    os.remove(sorted((tmp_path / "d").iterdir())[-1])
    assert check.check_dump(con, str(tmp_path / "d"), 5, check.digest(con, QUERY))


def test_checker_rejects_altered_row(con, tmp_path):
    altered = QUERY.replace("o_totalprice", "o_totalprice + (o_orderkey = 7)::INT * 0.01 AS o_totalprice")
    _export(con, altered, tmp_path / "d", 5)
    assert check.check_dump(con, str(tmp_path / "d"), 5, check.digest(con, QUERY)) == (
        "row values differ from the oracle"
    )


def test_checker_rejects_missing_marker(con, tmp_path):
    want = check.digest(con, EMPTY)
    assert want[1] == 0
    assert check.check_dump(con, str(tmp_path / "nothing"), 1000, want) == "missing output directory"
    (tmp_path / "marker").mkdir()
    assert check.check_dump(con, str(tmp_path / "marker"), 1000, want) is None


def test_digest_ignores_order_and_integer_width(con):
    a = check.digest(con, "SELECT CAST(x AS INTEGER) AS x FROM range(5) t(x)")
    b = check.digest(con, "SELECT CAST(4 - x AS BIGINT) AS x FROM range(5) t(x)")
    assert a == b
    c = check.digest(con, "SELECT CAST(x AS DOUBLE) AS x FROM range(5) t(x)")
    assert c[2] != a[2]  # 1 and 1.0 differ, as in the catalog's oracle checks


def test_expected_files():
    assert check.expected_files(0, 5) == 0
    assert check.expected_files(23, 5) == 5
    assert check.expected_files(23, 0) == 1


def test_benchmark_json_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        mapped = {n for entry in json.load(fh)["map"] for n in entry["layer"]}
    assert mapped == {m["name"] for m in bench["per_layer"]}


def test_floorplan_seed_only_reorders():
    w = WORKLOADS["export_sql"]
    a, da = floorplan(w, 1)
    b, db = floorplan(w, 2)
    assert floorplan(w, 1) == (a, da)
    key = lambda r: r["prefix"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key) == sorted(w.rows, key=key)


def test_eventlog_attribution(tmp_path):
    def props(it, layer):
        return {"perfbench.iter": str(it), "perfbench.layer": layer}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": props(0, "storage")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": props(0, "storage")},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": props(1, "operators")},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    out, untagged = tracing.parse_eventlog(str(path))
    assert len(untagged) == 1
    assert out[0]["storage.jobs"] == 1 and out[0]["storage.stages"] == 1
    assert out[0]["spark.task_run_s"] == 1.5 and out[0]["spark.shuffle_write_bytes"] == 7
    assert out[1]["operators.jobs"] == 1
    assert set(out) == {0, 1}


def test_spans_self_time_and_coverage():
    t = tracing.Tracer()
    t.iteration = 0
    with t.span("executor", "1:a"):
        with t.span("operators:build"):
            pass
        with t.span("storage:write") as inner:
            pass
    spans = t.dump_spans()
    assert inner.dump == "1:a" and inner.parent == 0
    summary = tracing.span_summary(spans)[0]
    assert summary["executor.dumps"] == 1 and summary["executor.attempts"] == 1
    assert 0 <= summary["executor.self_s"] <= summary["executor_s"]
    assert summary["storage.write_s"] <= summary["executor_s"]
    top = spans[0]
    assert tracing.coverage(spans, top["start"], top["end"]) == pytest.approx(1.0)
    assert tracing.coverage(spans, top["start"], top["end"] + (top["end"] - top["start"])) < 0.51


def test_oracle_digest_is_cached(con, tmp_path):
    first = check.oracle_digest(con, QUERY, str(tmp_path), "k")
    assert len(list(tmp_path.iterdir())) == 1
    assert check.oracle_digest(con, QUERY, str(tmp_path), "k") == first == check.digest(con, QUERY)


def test_probe_restores_affinity():
    before = os.sched_getaffinity(0)
    assert host.probe_s() > 0
    assert os.sched_getaffinity(0) == before

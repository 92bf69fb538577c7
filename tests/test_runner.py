"""F11/F14 end-to-end: floorplan → Catalyst → partitioned gzip parquet on a
local FS sink, with the reference's isolation/exit-code/log contract
(`/root/reference/tests/test_floorist.py:153-220`)."""

from __future__ import annotations

import logging
import os
from datetime import date

import pytest

from floorist_spark.config import Config
from floorist_spark.runner import FlooristSpark

from tests.conftest import SF_SMOKE

PLAN = """
- prefix: exports/values
  query: >-
    SELECT * FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) AS t(num, letter)
- prefix: exports/series
  query: SELECT id AS n FROM range(0, 1000)
  chunksize: 13
- prefix: exports/empty
  query: SELECT 1 AS x WHERE 1 = 0
"""

PLAN_WITH_FAILURE = """
- prefix: exports/good
  query: SELECT 1 AS x
- prefix: exports/bad
  query: SELECT FROM nonsense syntax(
- prefix: exports/after
  query: SELECT 2 AS y
"""


@pytest.fixture
def runner_factory(spark, tmp_path):
    def make(plan_text: str) -> tuple[FlooristSpark, str]:
        plan = tmp_path / "floorplan.yaml"
        plan.write_text(plan_text)
        out = tmp_path / "out"
        out.mkdir(exist_ok=True)
        cfg = Config(
            floorplan_filename=str(plan),
            output_uri=f"file://{out}",
            mode="native",
        )
        return FlooristSpark(cfg, spark=spark), str(out)

    return make


def _day_dir(out: str, prefix: str) -> str:
    d = date.today()
    return os.path.join(
        out, prefix, f"year_created={d.year}", f"month_created={d.month}", f"day_created={d.day}"
    )


def test_full_run_layout_and_chunks(runner_factory, spark, caplog):
    caplog.set_level(logging.INFO)
    runner, out = runner_factory(PLAN)
    runner.run()

    # unpadded hive-style path (F4)
    values_dir = _day_dir(out, "exports/values")
    assert os.path.isdir(values_dir)
    assert spark.read.parquet(f"file://{values_dir}").count() == 3

    # chunk-count parity: 1000 rows / chunksize 13 -> 77 files (F5)
    series_dir = _day_dir(out, "exports/series")
    files = [f for f in os.listdir(series_dir) if f.endswith(".parquet")]
    assert len(files) == 77
    assert all(".gz.parquet" in f for f in files)

    # empty result -> marker dir, no parquet (F6)
    empty_dir = _day_dir(out, "exports/empty")
    assert os.path.isdir(empty_dir)
    assert os.listdir(empty_dir) == []

    # log-string parity (F14)
    assert "Dumped 3 from total of 3" in caplog.text
    assert "Written parquet chunk #77" in caplog.text
    assert "Empty folder created for empty result" in caplog.text


def test_partial_failure_exits_1_but_later_dumps_run(runner_factory, spark, caplog):
    # reference tests/test_floorist.py:190-198: one bad dump -> exit(1),
    # successful prefixes remain written
    caplog.set_level(logging.INFO)
    runner, out = runner_factory(PLAN_WITH_FAILURE)
    with pytest.raises(SystemExit) as exc:
        runner.run()
    assert exc.value.code == 1

    assert os.path.isdir(_day_dir(out, "exports/good"))
    assert os.path.isdir(_day_dir(out, "exports/after"))  # isolation
    assert not os.path.exists(_day_dir(out, "exports/bad"))
    assert "Dumped 2 from total of 3" in caplog.text


def test_missing_key_rows_fail_only_that_dump(runner_factory, caplog):
    caplog.set_level(logging.INFO)
    runner, out = runner_factory(
        "- query: SELECT 1 AS x\n- prefix: exports/ok\n  query: SELECT 1 AS x\n"
    )
    with pytest.raises(SystemExit):
        runner.run()
    assert os.path.isdir(_day_dir(out, "exports/ok"))
    assert "Dumped 1 from total of 2" in caplog.text


def test_startup_logs_connected(runner_factory, caplog):
    caplog.set_level(logging.INFO)
    runner_factory(PLAN)
    assert "Successfully connected to the S3 bucket" in caplog.text
    assert "Successfully connected to the database" in caplog.text


def test_parallel_dumps(runner_factory, spark, monkeypatch, caplog):
    # Spark-native extension: independent dumps run as concurrent Spark
    # jobs on one session; isolation + exit-code contract unchanged.
    caplog.set_level(logging.INFO)
    monkeypatch.setenv("FLOORIST_MAX_PARALLEL_DUMPS", "3")
    runner, out = runner_factory(PLAN)
    runner.run()
    assert spark.read.parquet(
        f"file://{_day_dir(out, 'exports/values')}"
    ).count() == 3
    series_dir = _day_dir(out, "exports/series")
    assert len([f for f in os.listdir(series_dir) if f.endswith(".parquet")]) == 77
    assert os.listdir(_day_dir(out, "exports/empty")) == []
    assert "Dumped 3 from total of 3" in caplog.text


def test_parallel_dumps_partial_failure(runner_factory, monkeypatch, caplog):
    caplog.set_level(logging.INFO)
    monkeypatch.setenv("FLOORIST_MAX_PARALLEL_DUMPS", "2")
    runner, out = runner_factory(PLAN_WITH_FAILURE)
    with pytest.raises(SystemExit) as exc:
        runner.run()
    assert exc.value.code == 1
    assert os.path.isdir(_day_dir(out, "exports/good"))
    assert os.path.isdir(_day_dir(out, "exports/after"))
    assert "Dumped 2 from total of 3" in caplog.text


def test_catalog_query_export(runner_factory, spark, monkeypatch, caplog):
    # floorplan rows can export any operator-catalog entry by name
    caplog.set_level(logging.INFO)
    monkeypatch.setenv("FLOORIST_DATA_DIR", "/root/testdata/sf0.001")
    runner, out = runner_factory(
        "- prefix: exports/catalog\n  query: catalog:q11_pricing_summary\n"
        "- prefix: exports/catalog_bad\n  query: catalog:nope\n"
    )
    with pytest.raises(SystemExit):  # unknown name fails ONLY that dump
        runner.run()
    d = _day_dir(out, "exports/catalog")
    assert spark.read.parquet(f"file://{d}").count() == 6  # q11 rows at sf0.001
    assert "Dumped 1 from total of 2" in caplog.text


def test_catalog_query_without_data_dir_fails_fast(runner_factory, monkeypatch, caplog):
    # a catalog query with no FLOORIST_DATA_DIR must fail the dump loudly,
    # never silently export bundled testdata to the real sink
    caplog.set_level(logging.INFO)
    monkeypatch.delenv("FLOORIST_DATA_DIR", raising=False)
    runner, out = runner_factory(
        "- prefix: exports/guard\n  query: catalog:q11_pricing_summary\n"
        "- prefix: exports/ok\n  query: SELECT 1 AS x\n"
    )
    with pytest.raises(SystemExit) as exc:
        runner.run()
    assert exc.value.code == 1
    assert not os.path.exists(os.path.join(out, "exports/guard"))
    assert os.path.isdir(_day_dir(out, "exports/ok"))  # isolation holds
    assert "FLOORIST_DATA_DIR must be set" in caplog.text


def test_unknown_catalog_name_suggests_close_matches(spark):
    from floorist_spark.operators.catalog import resolve_catalog_query

    with pytest.raises(KeyError) as exc:
        resolve_catalog_query(spark, "catalog:q11_pricing_sumary", "/tmp")
    assert "did you mean" in str(exc.value)
    assert "q11_pricing_summary" in str(exc.value)


def test_run_date_backfill(runner_factory, spark, monkeypatch):
    # FLOORIST_RUN_DATE pins the partition path for reproducible backfills
    monkeypatch.setenv("FLOORIST_RUN_DATE", "2025-02-03")
    runner, out = runner_factory("- prefix: exports/backfill\n  query: SELECT 1 AS x\n")
    runner.run()
    d = os.path.join(
        out, "exports/backfill", "year_created=2025", "month_created=2", "day_created=3"
    )
    assert os.path.isdir(d)
    assert spark.read.parquet(f"file://{d}").count() == 1


#: catalog rows that persist (t24), checkpoint-or-scope a conf (q45) and
#: stream with sized state (e29, d08), next to plain SQL rows
MIXED_PLAN = """
- prefix: exports/t24
  query: catalog:t24_source_divergence
- prefix: exports/q45
  query: catalog:q45_recursive_gapfill
- prefix: exports/e29
  query: catalog:e29_streaming_funnel
- prefix: exports/d08
  query: catalog:d08_streaming_dedup
  chunksize: 100
- prefix: exports/orders
  query: SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
  chunksize: 50
- prefix: exports/series
  query: SELECT id AS n FROM range(0, 1000)
  chunksize: 13
"""


def _export_digests(spark, out: str) -> dict[str, tuple[int, list[str]]]:
    """Per prefix: (parquet files written, sorted rows)."""
    got = {}
    for row in ("t24", "q45", "e29", "d08", "orders", "series"):
        d = os.path.join(out, "exports", row, "year_created=2025", "month_created=2", "day_created=3")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        rows = spark.read.parquet(f"file://{d}").collect() if files else []
        got[row] = (len(files), sorted(repr(tuple(r)) for r in rows))
    return got


def test_parallel_catalog_dumps_equal_sequential(spark, tmp_path, monkeypatch):
    """Concurrent dumps that persist, checkpoint and stream must write
    exactly what the sequential run writes, leave the session conf as
    they found it, and free every intermediate they persisted."""
    from floorist_spark.operators._cache import release_caches, release_memos

    monkeypatch.setenv("FLOORIST_DATA_DIR", SF_SMOKE)
    monkeypatch.setenv("FLOORIST_RUN_DATE", "2025-02-03")
    plan = tmp_path / "floorplan.yaml"
    plan.write_text(MIXED_PLAN)
    release_caches()
    release_memos()
    partitions = spark.conf.get("spark.sql.shuffle.partitions")

    def export(name: str, parallel: int) -> dict:
        monkeypatch.setenv("FLOORIST_MAX_PARALLEL_DUMPS", str(parallel))
        out = tmp_path / name
        out.mkdir()
        cfg = Config(floorplan_filename=str(plan), output_uri=f"file://{out}", mode="native")
        FlooristSpark(cfg, spark=spark).run()  # exits non-zero on any failed dump
        return _export_digests(spark, str(out))

    sequential = export("sequential", 1)
    assert sequential["t24"][0] > 0 and sequential["e29"][0] > 0
    for i in range(2):
        assert export(f"parallel{i}", 4) == sequential
        assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
        release_memos()
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0

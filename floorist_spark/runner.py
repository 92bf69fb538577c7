"""Run driver: floorplan iteration + exit-code contract (SURVEY §2 F11, F14).

Reference (`/root/reference/src/floorist/floorist.py:259-303`):

* startup: verify storage, connect the query backend, log the two
  "Successfully connected" lines;
* run: iterate floorplan rows in order, count successes, log
  ``"Dumped X from total of Y"``, and **exit(1) if any dump failed** —
  partial results stay written (`floorist.py:279-292`,
  `tests/test_floorist.py:190-198`);
* logging surface: ``[%(asctime)s] [%(levelname)s]`` format, LOGLEVEL env
  (`floorist.py:25,295-297`).
"""

from __future__ import annotations

import logging
from datetime import date
from os import environ

from floorist_spark.config import Config, base_output_uri, get_config, s3a_conf
from floorist_spark.executor import DumpExecutor, RetryPolicy
from floorist_spark.floorplan import load_floorplan
from floorist_spark.session import get_spark, register_views
from floorist_spark.storage import StorageClient

LOG_FMT = "[%(asctime)s] [%(levelname)s] %(message)s"


class FlooristSpark:
    """The engine driver. ``mode="native"`` executes floorplan queries on
    Catalyst over the registered views; ``mode="jdbc"`` pushes them to live
    PostgreSQL for reference parity (`sources/jdbc.py`)."""

    def __init__(self, config: Config, spark=None, parity: bool = True):
        self.config = config
        self.spark = spark or get_spark("floorist_spark", extra_conf=s3a_conf(config))

        self.storage = StorageClient(self.spark, base_output_uri(config))
        self.storage.verify()
        logging.info("Successfully connected to the S3 bucket")

        if config.mode == "jdbc":
            from floorist_spark.sources.jdbc import JdbcQueryRunner

            runner = JdbcQueryRunner(self.spark, config, parity=parity)
            commit, rollback = runner.commit, runner.rollback
        else:
            from floorist_spark.operators.catalog import CATALOG_PREFIX, resolve_catalog_query

            data_dir = environ.get("FLOORIST_DATA_DIR")
            if data_dir:
                register_views(self.spark, data_dir)

            def runner(query: str, _dir=data_dir):
                # floorplan rows can reference any catalog operator by name
                # (`query: catalog:d04_lsh_jaccard_dedup`) — same sink path.
                # A catalog query with no configured data dir is a config
                # error, NOT a fall-back to bundled testdata: a misconfigured
                # production run must fail fast, never export toy data to the
                # real sink.
                if _dir is None and query.strip().startswith(CATALOG_PREFIX):
                    raise ValueError(
                        "FLOORIST_DATA_DIR must be set for catalog:<name> "
                        "floorplan queries in native mode"
                    )
                df = resolve_catalog_query(self.spark, query, _dir)
                return df if df is not None else self.spark.sql(query)

            commit = rollback = lambda: None
        logging.info("Successfully connected to the database")

        # FLOORIST_RUN_DATE=YYYY-MM-DD pins the partition date for
        # reproducible backfills (the reference always stamps "today")
        run_date = None
        if environ.get("FLOORIST_RUN_DATE"):
            run_date = date.fromisoformat(environ["FLOORIST_RUN_DATE"])

        self.executor = DumpExecutor(
            self.storage,
            runner,
            RetryPolicy(),
            parity=parity,
            run_date=run_date,
            commit=commit,
            rollback=rollback,
        )

    def __enter__(self):
        return self

    def __exit__(self, *args):
        return None

    def run(self) -> None:
        """F11: per-dump isolation + partial-failure exit code
        (`floorist.py:279-292`).

        ``FLOORIST_MAX_PARALLEL_DUMPS > 1`` opts into concurrent dump
        execution — a Spark-native improvement over the reference's
        single-connection sequential loop: independent dumps are
        independent Spark jobs, and one session schedules them
        concurrently across the cluster. Default stays sequential (exact
        reference parity, deterministic log interleaving); per-dump
        isolation and the exit-code contract are unchanged either way, and
        each dump frees its own intermediates (``DumpExecutor.execute``)."""
        rows = load_floorplan(self.config.floorplan_filename)
        max_parallel = int(environ.get("FLOORIST_MAX_PARALLEL_DUMPS", "1"))
        numbers = range(1, len(rows) + 1)
        if max_parallel > 1 and len(rows) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=max_parallel) as pool:
                dumped_count = sum(pool.map(self.executor.execute, rows, numbers))
        else:
            dumped_count = sum(map(self.executor.execute, rows, numbers))

        logging.info("Dumped %d from total of %d", dumped_count, len(rows))
        if dumped_count != len(rows):
            exit(1)


def _configure_loglevel() -> None:
    """F14 (`floorist.py:295-297`)."""
    loglevel = environ.get("LOGLEVEL", "INFO").upper()
    logging.basicConfig(level=loglevel, format=LOG_FMT)


def main() -> None:
    _configure_loglevel()
    mode = environ.get("FLOORIST_MODE", "native")
    with FlooristSpark(get_config(mode=mode)) as f:
        f.run()

"""Retry policy + per-dump executor (SURVEY §2 F7, F8, F9, F10).

Reference semantics (`/root/reference/src/floorist/floorist.py`):

* **F8 RetryPolicy** — an error is retryable iff its string form contains
  one of the known transient-database patterns; backoff is
  ``base_delay * 2**attempt`` (5s, 10s with the defaults); 3 attempts total
  (`floorist.py:21-23,31-63`, pinned by
  `tests/test_floorist_standalone.py:219-222`).
* **F7 cleanup-before-retry** — every retry first deletes the target prefix
  so re-running the full query cannot duplicate rows; if the cleanup itself
  fails the dump is aborted (`floorist.py:199-213`,
  `tests/test_floorist_standalone.py:92-113,162-200`).
* **F9 per-dump transaction** — commit after success, rollback on error.
  Native mode has no database transaction (parquet scans are snapshot-free
  by construction); JDBC parity mode keeps single-connection semantics via
  ``numPartitions=1`` (see sources/jdbc.py). The hooks are injectable so
  the JDBC path can wire real commit/rollback (`floorist.py:148-152,
  216-229`).
* **F10 execute(row, dump_count)** — missing ``prefix``/``query`` is not a
  parse error: it fails that dump only and later dumps still run
  (`floorist.py:186-197`, `tests/test_floorist.py:190-198`).

Design deviation, documented: the reference only enters the retry path for
SQLAlchemy ``OperationalError``/``PendingRollbackError`` (`floorist.py:
221-224`) — on Spark the transient errors surface as Py4J-wrapped
exceptions of many classes, so classification here is purely
pattern-on-message (same pattern list). Non-matching errors fail
immediately, exactly as in the reference.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from datetime import date
from enum import Enum

from pyspark.sql import DataFrame

from floorist_spark.operators import _cache
from floorist_spark.storage import StorageClient

#: Reference retry envelope (`floorist.py:22-23`).
MAX_RETRIES = 3
RETRY_DELAY = 5  # seconds

#: Transient-database error signatures (`floorist.py:31-36`).
RETRYABLE_ERROR_PATTERNS = (
    "SerializationFailure",
    "conflict with recovery",
    "PendingRollbackError",
    "invalid transaction",
)


class RetryResult(Enum):
    RETRY = "retry"
    FAILURE = "failure"
    EXHAUSTED = "exhausted"


class RetryPolicy:
    """F8: substring classification + exponential backoff
    (`floorist.py:45-63`)."""

    def __init__(self, max_retries: int = MAX_RETRIES, base_delay: float = RETRY_DELAY):
        self.max_retries = max_retries
        self.base_delay = base_delay

    def evaluate(self, ex: Exception, attempt: int) -> RetryResult:
        if not self.is_retryable(ex):
            return RetryResult.FAILURE
        if attempt >= self.max_retries - 1:
            return RetryResult.EXHAUSTED
        return RetryResult.RETRY

    def backoff_delay(self, attempt: int) -> float:
        return self.base_delay * (2**attempt)

    @staticmethod
    def is_retryable(ex: Exception) -> bool:
        text = str(ex)
        return any(p in text for p in RETRYABLE_ERROR_PATTERNS)


def _noop() -> None:
    return None


class DumpExecutor:
    """F10: orchestrate path → query → sink per floorplan row, with
    retry/cleanup/commit semantics (`floorist.py:159-256`).

    ``query_runner`` builds the DataFrame for a SQL string — ``spark.sql``
    in native mode, a JDBC read in parity mode. The DataFrame is lazy; the
    only actions are the emptiness probe and the write, both inside the
    retry scope so a mid-write failure replays the whole query after
    cleanup.
    """

    def __init__(
        self,
        storage: StorageClient,
        query_runner: Callable[[str], DataFrame],
        retry_policy: RetryPolicy | None = None,
        parity: bool = True,
        run_date: date | None = None,
        commit: Callable[[], None] = _noop,
        rollback: Callable[[], None] = _noop,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.storage = storage
        self.query_runner = query_runner
        self.retry_policy = retry_policy or RetryPolicy()
        self.parity = parity
        self.run_date = run_date
        self.commit = commit
        self.rollback = rollback
        self.sleep = sleep

    def execute(self, row: dict, dump_count: int) -> bool:
        """Run one dump; True on success. Never raises — failure isolation
        is the contract (`floorist.py:180-256`). The dump owns the operator
        intermediates its query persisted (they are tracked on this
        thread) and frees them when it ends, so a many-dump floorplan stays
        memory-flat and concurrent dumps never free each other's."""
        try:
            return self._execute(row, dump_count)
        finally:
            _cache.release_caches()

    def _execute(self, row: dict, dump_count: int) -> bool:
        try:
            path, target = self.storage.make_path(row["prefix"], self.run_date)
            query = row["query"]
            # missing chunksize defaults to 1000; explicit 0/None → unchunked
            # (`floorist.py:194`)
            chunksize = row.get("chunksize", 1000) or None
        except KeyError as ex:
            logging.exception("[Dump #%d] %s", dump_count, ex)
            return False

        for attempt in range(self.retry_policy.max_retries):
            try:
                if attempt > 0:
                    logging.info(
                        "[Dump #%d] Retry %d of %d (attempt %d total)",
                        dump_count,
                        attempt,
                        self.retry_policy.max_retries - 1,
                        attempt + 1,
                    )
                    try:
                        self.storage.cleanup(target)
                    except Exception:
                        logging.exception(
                            "[Dump #%d] S3 cleanup failed, cannot retry", dump_count
                        )
                        return False

                logging.debug("[Dump #%d] Query: %s", dump_count, query)
                df = self.query_runner(query)
                self.storage.write_parquet(
                    df, target, chunksize=chunksize, parity=self.parity, dump_count=dump_count
                )
                logging.debug("[Dump #%d] Dumped %s to %s", dump_count, query, path)

                self.commit()
                return True

            except Exception as ex:
                logging.warning("[Dump #%d] Database error, rolling back", dump_count)
                try:
                    self.rollback()
                except Exception as rollback_ex:
                    logging.exception(
                        "[Dump #%d] Rollback failed: %s", dump_count, rollback_ex
                    )

                result = self.retry_policy.evaluate(ex, attempt)
                if result == RetryResult.FAILURE:
                    logging.exception("[Dump #%d] %s", dump_count, ex)
                    break
                if result == RetryResult.EXHAUSTED:
                    logging.exception("[Dump #%d] Retries exhausted %s", dump_count, ex)
                    break

                backoff = self.retry_policy.backoff_delay(attempt)
                logging.warning(
                    "[Dump #%d] Retrying in %d seconds due to: %s",
                    dump_count,
                    backoff,
                    str(ex).split("\n")[0],
                )
                self.sleep(backoff)

        return False

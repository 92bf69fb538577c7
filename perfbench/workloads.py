"""The benchmark's workloads: which floorplan each one exports, over which
generated data, and how the seed shapes it.

The seed only permutes the floorplan rows and picks the partition date
(``FLOORIST_RUN_DATE``); the data and the total work stay the same, so
runs at different seeds measure the same thing.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date, timedelta

#: seed of the generated tables; fixed so every run exports the same data
DATA_SEED = 20261017

#: plain-SQL rows: the reference's own traffic. Each query is valid in
#: Spark SQL and DuckDB alike, so DuckDB running it over the same Parquet
#: inputs is the oracle.
SQL_ROWS = [
    # full table at the default chunksize (1000 rows per file)
    {"prefix": "sql/lineitem", "query": "SELECT * FROM lineitem"},
    # 4-table join aggregate, many tiny chunks
    {
        "prefix": "sql/revenue_by_nation",
        "query": (
            "SELECT n.n_name, o.o_orderstatus, count(*) AS n_lines, "
            "CAST(sum(l.l_quantity) AS DOUBLE) AS qty "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "GROUP BY n.n_name, o.o_orderstatus"
        ),
        "chunksize": 5,
    },
    # empty result: the directory-marker path
    {
        "prefix": "sql/no_orders",
        "query": "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 0",
    },
    # unchunked: exactly one file
    {"prefix": "sql/events", "query": "SELECT * FROM events", "chunksize": 0},
    # cross join at the default chunksize (the reference's parity export)
    {
        "prefix": "sql/cross",
        "query": (
            "SELECT c.c_custkey, p.p_partkey, c.c_acctbal + p.p_retailprice AS total "
            "FROM customer c CROSS JOIN part p WHERE p.p_partkey < 40"
        ),
    },
]


def _catalog(*names: str) -> list[dict]:
    return [{"prefix": f"catalog/{n}", "query": f"catalog:{n}"} for n in names]


#: one catalog row per layer of interest: e29 runs a bounded stream
#: through a Python state function, t24 persists an intermediate and
#: launches the many small stages of the sub-second tail, q32 is a plain
#: multi-stage SQL operator. Kept short so one run fits several warm
#: floorplan runs.
CATALOG_ROWS = _catalog(
    "q32_percentiles",
    "e29_streaming_funnel",
    "t24_source_divergence",
)

#: rows that persist (t24), checkpoint (q45) and stream (e29, d08) next
#: to plain SQL, exported concurrently
PARALLEL_ROWS = SQL_ROWS[1:4] + _catalog(
    "t24_source_divergence",
    "q45_recursive_gapfill",
    "e29_streaming_funnel",
    "d08_streaming_dedup",
)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: scale factor of the generated tables
    sf: float
    rows: list[dict] = field(default_factory=list)
    #: True: build catalog entries through ``queries()`` into the noop
    #: sink instead of exporting through ``FlooristSpark.run()``
    noop: bool = False
    #: FLOORIST_MAX_PARALLEL_DUMPS; 0 means one per core
    max_parallel: int = 1


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "export_sql",
            "plain-SQL floorplan: the sink (probe, encode, listing) does nearly all the work",
            sf=0.01,
            rows=SQL_ROWS,
        ),
        Workload(
            "export_catalog",
            "catalog rows through the sink: operators, streaming and caches dominate",
            sf=0.001,
            rows=CATALOG_ROWS,
        ),
        Workload(
            "catalog_noop",
            "same catalog entries via queries() into the noop sink: bypasses runner, executor, storage",
            sf=0.001,
            rows=CATALOG_ROWS,
            noop=True,
        ),
        Workload(
            "export_parallel",
            "mixed SQL and catalog rows dumped concurrently, one per core",
            sf=0.001,
            rows=PARALLEL_ROWS,
            max_parallel=0,
        ),
    ]
}


def floorplan(w: Workload, seed: int) -> tuple[list[dict], date]:
    """The workload's rows in a seed-chosen order, and its partition date."""
    rng = random.Random(seed)
    rows = [dict(r) for r in w.rows]
    rng.shuffle(rows)
    return rows, date(2024, 1, 1) + timedelta(days=rng.randrange(366))

"""Layer Q — the relational/SQL surface (SURVEY.md §2.2, Q1-Q11).

The reference delegates this entire surface to PostgreSQL by passing the
floorplan ``query`` string opaquely (`/root/reference/src/floorist/
floorist.py:141-146`); here Catalyst owns it. Each entry has a Spark-first
implementation (DataFrame API, falling back to ``spark.sql`` only where SQL
is the natural surface, e.g. VALUES relations) and a DuckDB oracle string.

Float determinism: the driver's correctness gate hashes result values, so
every floating-point *aggregate* is computed with exact DECIMAL arithmetic
and rendered to DOUBLE at the end VIA AN EXACT DECIMAL STRING (see _dsum:
a direct decimal→double cast is 1-ulp engine-dependent beyond 2^53). Spark
sums partitions in arbitrary order; DuckDB sums sequentially — with
doubles the results differ in the last bits, with decimals they are
bit-identical after the final render. The DECIMAL widths are chosen so no
intermediate exceeds precision 38 in either engine (no precision-loss
rounding on the Spark side).

Scale notes (100 TB):
* every query is expressed declaratively, so Catalyst pushes filters into
  the parquet scan and prunes columns (verify: .explain → PushedFilters /
  ReadSchema);
* dimension joins (nation, region, customer at TPC-H shape) are broadcast
  (autoBroadcastJoinThreshold + explicit F.broadcast on known-small dims);
* aggregations are partial (map-side combine) by construction — groupBy
  over low-cardinality keys shuffles only the combined partials;
* top-k uses sort+limit, which Spark executes as per-partition top-k and a
  driver-side merge (TakeOrderedAndProject), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from floorist_spark.operators._cache import local_checkpoint, track
from floorist_spark.session import load_table, scoped_conf

# ---------------------------------------------------------------------------
# Shared exact-arithmetic fragments (identical text runs in Spark and DuckDB)
# ---------------------------------------------------------------------------

def _dcol(col: str, width: str) -> str:
    """Exact cross-engine DOUBLE→DECIMAL ingestion: render the double to
    its shortest round-trip decimal string, then round the DIGITS half-up
    to the target scale — identical text, identical result, both engines.

    A direct double→decimal cast is ENGINE-DEPENDENT at round-half ties
    (found by the round-10 tie_render degenerate profile, the r3 defect
    class): DuckDB scales the double (v·10^s) and rounds the product,
    inheriting the multiply's 1-ulp error, while Spark rounds the
    shortest decimal repr half-up (BigDecimal.valueOf) — for a double
    just below the tie whose repr ends in "…5", the two disagree by one
    at the target scale. Both engines' float printers are shortest-
    round-trip and both their string→decimal parsers round digits
    half-up, so the string hop pins one semantics. On the Spark side
    this is provably identical to the direct cast (same shortest repr,
    same HALF_UP), so no plan or value changes outside the oracle
    agreement; the hop stays inside whole-stage codegen."""
    return f"CAST(CAST({col} AS STRING) AS DECIMAL({width}))"


# quantities <= 50, prices < 1e6: decimal(12,4) holds them exactly enough;
# rates (discount/tax) in [0, 0.2]: decimal(6,4) is lossless for 2-4dp data.
QTY = _dcol("l_quantity", "12,4")
PRICE = _dcol("l_extendedprice", "12,4")
DISC = _dcol("l_discount", "6,4")
TAX = _dcol("l_tax", "6,4")
DISC_PRICE = f"{PRICE} * (CAST(1 AS DECIMAL(6,4)) - {DISC})"
CHARGE = f"{DISC_PRICE} * (CAST(1 AS DECIMAL(6,4)) + {TAX})"


def _dsum(expr: str, alias: str) -> str:
    """Exact decimal SUM rendered back to DOUBLE — bit-identical between a
    parallel Spark aggregation and DuckDB's sequential one.

    The render goes THROUGH AN EXACT DECIMAL STRING on purpose: both
    engines' float parsers are correctly rounded, so string→double yields
    the nearest double of the exact sum on each side. A direct
    decimal→double cast is NOT safe once the scaled integer exceeds 2^53 —
    Java's BigDecimal converts the exact value in one rounding while
    DuckDB computes double(int128)/10^scale in two, and the results can
    differ by 1 ulp (observed on q11's sum_charge at sf0.1)."""
    return f"CAST(CAST(SUM({expr}) AS STRING) AS DOUBLE) AS {alias}"


def _davg(expr: str, alias: str) -> str:
    """Exact decimal mean: exact SUM rendered via decimal string (see
    _dsum), divided by COUNT — both engines then perform the identical
    double/bigint division."""
    return f"CAST(CAST(SUM({expr}) AS STRING) AS DOUBLE) / COUNT(*) AS {alias}"


# ---------------------------------------------------------------------------
# Q1/Q2 — projection + aliasing
# ---------------------------------------------------------------------------

def q01_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: plain projection (`SELECT *`-style narrow scan). Column pruning
    reaches the parquet footer — ReadSchema lists only these 3 columns."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


Q01_SQL = "SELECT c_custkey, c_name, c_mktsegment FROM customer"


def q02_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: column aliasing with AS (reference floorplan.example.yaml:6-7)."""
    return load_table(spark, sf_dir, "part").select(
        F.col("p_name").alias("part_name"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("price"),
    )


Q02_SQL = "SELECT p_name AS part_name, p_brand AS brand, p_retailprice AS price FROM part"


# ---------------------------------------------------------------------------
# Q3/Q4 — inline relations and series generation
# ---------------------------------------------------------------------------

VALUES_SQL = "SELECT * FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) AS t(num, letter)"


def q03_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: inline VALUES relation with column aliases
    (reference tests/floorplan_valid.yaml:1) — parses verbatim in Spark SQL."""
    return spark.sql(VALUES_SQL)


def q04_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: table-generating series (reference GENERATE_SERIES(0,999)).
    spark.range is a parallel, no-shuffle leaf — the idiomatic equivalent."""
    return spark.range(0, 1000).select(F.col("id").alias("n"))


Q04_SQL = "SELECT * FROM generate_series(0, 999) AS t(n)"


# ---------------------------------------------------------------------------
# Q5 — cross / theta join
# ---------------------------------------------------------------------------

def q05_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: cross join (reference JOIN ... ON 1=1). nation x region -> 125
    rows; Catalyst plans BroadcastNestedLoopJoin with the small side
    broadcast — no shuffle."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return nation.crossJoin(region)


Q05_SQL = (
    "SELECT n_nationkey, n_name, r_regionkey, r_name "
    "FROM (SELECT n_nationkey, n_name FROM nation) CROSS JOIN "
    "(SELECT r_regionkey, r_name FROM region)"
)


def q05b_cross_join_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 at the reference's tested scale: 1000x1000 series cross join ->
    1,000,000 rows (tests/floorplan_with_large_result.yaml:1). Both sides
    are range leaves; one side broadcasts."""
    x = spark.range(0, 1000).select(F.col("id").alias("x"))
    y = spark.range(0, 1000).select(F.col("id").alias("y"))
    return x.crossJoin(y)


Q05B_SQL = (
    "SELECT x, y FROM generate_series(0, 999) AS tx(x) "
    "CROSS JOIN generate_series(0, 999) AS ty(y)"
)


# ---------------------------------------------------------------------------
# Q6/Q7 — empty relation, uuid generation
# ---------------------------------------------------------------------------

def q06_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: constant-false filter -> empty relation (reference SELECT WHERE
    1=0). Catalyst folds the predicate to an empty LocalRelation — the scan
    is eliminated entirely."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey").filter(F.lit(False))


Q06_SQL = "SELECT l_orderkey FROM lineitem WHERE 1 = 0"


def q07_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: uuid() scalar function (reference uuid_generate_v1(),
    tests/floorplan_valid.yaml:1). Raw uuid values are non-deterministic,
    so the entry exposes deterministic DERIVED properties of each
    generated value — RFC-4122 length, version nibble, variant bits, full
    hyphen layout — which a constant-valued DuckDB oracle hash-matches.
    The reference's own tests take the same stance: they assert row count
    and column type over uuid_generate_v1() output, never the values
    (/root/reference/tests/test_floorist.py). uuid() stays in the plan,
    exercised end-to-end; only its entropy is projected away.

    The uuid is materialized ONCE in an inner projection and every derived
    column reads that named column: non-deterministic expressions are not
    common-subexpression-eliminated, so inlining ``uuid()`` four times
    would check four DIFFERENT values per row (each individually valid,
    but not "properties of each generated value" as documented). Catalyst
    keeps the two projections separate — CollapseProject refuses to inline
    a non-deterministic expression referenced more than once."""
    base = spark.range(0, 3).select(
        F.col("id").alias("n"), F.expr("uuid()").alias("u")
    )
    u = F.col("u")
    return base.select(
        "n",
        (F.length(u) == 36).alias("len_ok"),
        # RFC-4122: version nibble is char 15 (1-based), '4' for random
        F.substring(u, 15, 1).alias("version_nibble"),
        # variant bits 10xx -> char 20 in {8, 9, a, b}
        F.substring(u, 20, 1).isin("8", "9", "a", "b").alias("variant_ok"),
        u.rlike(
            "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
        ).alias("layout_ok"),
    )


Q07_SQL = (
    "SELECT n, TRUE AS len_ok, '4' AS version_nibble, TRUE AS variant_ok, "
    "TRUE AS layout_ok FROM generate_series(0, 2) AS t(n)"
)


# ---------------------------------------------------------------------------
# Q8/Q9/Q10 — distinct, IN-subquery, quoted identifiers
# ---------------------------------------------------------------------------

def q08_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: SELECT DISTINCT (reference README.md:131-133). Shuffles on the
    distinct key only after partial (map-side) dedup."""
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


Q08_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q09_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: IN (subquery) + OR predicate (reference README.md:126-128).
    Expressed in SQL so Catalyst's RewritePredicateSubquery turns the IN
    into a broadcast left-semi join inside the disjunction."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
           OR o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        """
    )


Q09_SQL = (
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "WHERE o_orderpriority = '1-URGENT' "
    "OR o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')"
)


def q10_quoted_idents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: case-exact quoted identifiers (reference "inventory"."hosts");
    Spark uses backticks where ANSI uses double quotes."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        "SELECT `o_orderkey` AS `Order Key`, `o_totalprice` AS `Total Price` FROM `orders`"
    )


Q10_SQL = 'SELECT o_orderkey AS "Order Key", o_totalprice AS "Total Price" FROM orders'


# ---------------------------------------------------------------------------
# Q11 — the delegated "joins or aggregates" capability, exercised TPC-H-style
# ---------------------------------------------------------------------------

def q11_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem — the flagship query.

    Scan -> pushed filter -> 4-group hash aggregate -> sort. The aggregate
    is partial+final (map-side combine); only 4 groups cross the shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate <= TIMESTAMP '1998-09-02'")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_dsum(QTY, "sum_qty")),
            F.expr(_dsum(PRICE, "sum_base_price")),
            F.expr(_dsum(DISC_PRICE, "sum_disc_price")),
            F.expr(_dsum(CHARGE, "sum_charge")),
            F.expr(_davg(QTY, "avg_qty")),
            F.expr(_davg(PRICE, "avg_price")),
            F.expr(_davg(DISC, "avg_disc")),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q11_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum(QTY, "sum_qty")},
       {_dsum(PRICE, "sum_base_price")},
       {_dsum(DISC_PRICE, "sum_disc_price")},
       {_dsum(CHARGE, "sum_charge")},
       {_davg(QTY, "avg_qty")},
       {_davg(PRICE, "avg_price")},
       {_davg(DISC, "avg_disc")},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q12_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: customer ⋈ orders ⋈ lineitem, filter both sides of
    the fact, top-10 revenue. Sort+limit -> TakeOrderedAndProject.

    Scale note: customer grows linearly with SF (~15B rows at the 100 TB
    shape), so it must NOT be force-broadcast — AQE +
    autoBroadcastJoinThreshold pick broadcast only when the filtered side
    actually fits; at scale this is a shuffle join on o_custkey."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate < TIMESTAMP '1998-01-01'")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate > TIMESTAMP '1997-01-01'")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(_dsum(DISC_PRICE, "revenue")))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q12_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority, {_dsum(DISC_PRICE, "revenue")}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q13_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: 5-way join with two broadcast dimension hops and a
    same-nation theta condition.

    Scale note: only nation (25 rows) and region (5 rows) are genuinely
    fixed-size and safe to force-broadcast; supplier and customer grow with
    SF, so their join strategy is left to AQE + autoBroadcastJoinThreshold
    (shuffle join at 100 TB, broadcast at small SF)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'"
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name").isin("AMERICA", "ASIA"))
        .groupBy("n_name")
        .agg(F.expr(_dsum(DISC_PRICE, "revenue")), F.count("*").alias("n_items"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q13_SQL = f"""
SELECT n_name, {_dsum(DISC_PRICE, "revenue")}, COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  AND r_name IN ('AMERICA', 'ASIA')
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q14_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure scan+filter+single-row aggregate. All three
    predicates push into the parquet scan; no shuffle beyond the final
    1-row partial merge."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr(
            "l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' "
            "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
        )
    )
    return li.agg(F.expr(_dsum(f"{PRICE} * {DISC}", "revenue")))


Q14_SQL = f"""
SELECT {_dsum(f"{PRICE} * {DISC}", "revenue")}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube
# ---------------------------------------------------------------------------

def _grand_total_if_empty(
    spark: SparkSession, rolled: DataFrame, fallback_exprs: list[str],
    source: DataFrame,
) -> DataFrame:
    """ANSI bridge for grouping sets that include the global () set:
    Spark's expand+aggregate emits ZERO rows over empty input, while the
    SQL standard (DuckDB, Postgres) emits the global grouping-set row —
    NULL group keys, NULL sums, COUNT 0 (found by the round-9 degenerate
    sweep: q15/q16 row count 0 vs 1 on the empty corpus).

    The fallback row's values are CONSTANTS — it is only ever appended
    when the input has no rows, where every SUM is NULL and every COUNT
    is 0. The emptiness probe runs against ``source`` (the aggregate's
    INPUT), not the aggregate itself: a grouping-set aggregate is empty
    iff its input is, and ``source.limit(1)`` is a genuine O(1) scan
    that short-circuits after the first row — probing ``rolled`` would
    reference the aggregate plan twice, and without an exchange-reuse
    guarantee Spark may execute the full rollup a second time (the
    round-9 advice flag on the O(1) claim). The one-row literal is
    anti-joined against the probe (broadcast by AQE) and unioned in.
    No-op on any non-empty input."""
    probe = source.limit(1).select(F.lit(1).alias("_k"))
    fb = (
        spark.range(1)
        .select([F.expr(e) for e in fallback_exprs] + [F.lit(1).alias("_k")])
        .join(probe, "_k", "left_anti")
        .drop("_k")
    )
    return rolled.unionByName(fb)


def q15_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (l_returnflag, l_linestatus): hierarchy subtotals +
    grand total. Spark expands to a single expand+aggregate — one shuffle;
    the empty-input grand-total row is bridged to ANSI semantics by
    :func:`_grand_total_if_empty`."""
    li = load_table(spark, sf_dir, "lineitem")
    rolled = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.expr(_dsum(QTY, "sum_qty")), F.count("*").alias("n_rows"))
    )
    return _grand_total_if_empty(
        spark,
        rolled,
        [
            "CAST(NULL AS STRING) AS l_returnflag",
            "CAST(NULL AS STRING) AS l_linestatus",
            "CAST(NULL AS DOUBLE) AS sum_qty",
            "CAST(0 AS BIGINT) AS n_rows",
        ],
        source=li,
    )


Q15_SQL = f"""
SELECT l_returnflag, l_linestatus, {_dsum(QTY, "sum_qty")}, COUNT(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q16_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (o_orderstatus, o_orderpriority): all 4 grouping-set
    combinations in one pass; empty-input global row bridged to ANSI
    semantics (see :func:`_grand_total_if_empty`)."""
    orders = load_table(spark, sf_dir, "orders")
    cubed = (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.expr(_dsum("CAST(CAST(o_totalprice AS STRING) AS DECIMAL(14,4))", "sum_price")),
            F.count("*").alias("n_orders"),
        )
    )
    return _grand_total_if_empty(
        spark,
        cubed,
        [
            "CAST(NULL AS STRING) AS o_orderstatus",
            "CAST(NULL AS STRING) AS o_orderpriority",
            "CAST(NULL AS DOUBLE) AS sum_price",
            "CAST(0 AS BIGINT) AS n_orders",
        ],
        source=orders,
    )


Q16_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       {_dsum("CAST(CAST(o_totalprice AS STRING) AS DECIMAL(14,4))", "sum_price")},
       COUNT(*) AS n_orders
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

def q17_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price via row_number(). The window sort
    runs inside each hash partition of o_custkey — a single shuffle, then
    the rank filter cuts 3 rows per key before anything else moves."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


Q17_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q18_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + lag per customer over order history. The running sum
    uses exact DECIMAL accumulation so the sequential-prefix result is
    bit-identical across engines."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.expr(
            "CAST(CAST(SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(14,4))) OVER "
            "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS STRING) AS DOUBLE)"
        ).alias("running_total"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
    )


Q18_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(CAST(SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(14,4))) OVER
            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS STRING) AS DOUBLE)
         AS running_total,
       LAG(o_totalprice, 1) OVER
            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
FROM orders
"""


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

def _custkeys_by_year(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.expr(f"o_orderdate >= TIMESTAMP '{year}-01-01' AND o_orderdate < TIMESTAMP '{year + 1}-01-01'"))
        .select("o_custkey")
    )


def q19_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of 1995/1996 buyer sets."""
    a = _custkeys_by_year(spark, sf_dir, 1995)
    b = _custkeys_by_year(spark, sf_dir, 1996)
    return a.union(b).distinct()


def q20_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers who bought in both years."""
    return _custkeys_by_year(spark, sf_dir, 1995).intersect(
        _custkeys_by_year(spark, sf_dir, 1996)
    )


def q21_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): 1995 buyers who did not buy in 1996."""
    return _custkeys_by_year(spark, sf_dir, 1995).subtract(
        _custkeys_by_year(spark, sf_dir, 1996)
    )


def _year_custkeys_sql(year: int) -> str:
    return (
        f"SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '{year}-01-01' "
        f"AND o_orderdate < TIMESTAMP '{year + 1}-01-01'"
    )


Q19_SQL = f"{_year_custkeys_sql(1995)} UNION {_year_custkeys_sql(1996)}"
Q20_SQL = f"{_year_custkeys_sql(1995)} INTERSECT {_year_custkeys_sql(1996)}"
Q21_SQL = f"{_year_custkeys_sql(1995)} EXCEPT {_year_custkeys_sql(1996)}"


# ---------------------------------------------------------------------------
# Sort / limit / having / conditional aggregation / scalar functions
# ---------------------------------------------------------------------------

def q22_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 lineitems by extended price. Spark never performs a
    full sort for this plan: TakeOrderedAndProject does per-partition heaps
    + driver merge — the scale-safe top-k."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(20)
    )


Q22_SQL = (
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
    "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20"
)


def q23_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING on an exact-decimal aggregate."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(_dsum("CAST(CAST(o_totalprice AS STRING) AS DECIMAL(14,4))", "total_spent")),
            F.count("*").alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 12)
    )


Q23_SQL = f"""
SELECT o_custkey, {_dsum("CAST(CAST(o_totalprice AS STRING) AS DECIMAL(14,4))", "total_spent")},
       COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
"""


def q24_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation: per-priority counts by status
    via CASE inside COUNT/SUM — a single pass, no pivot shuffle."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_pending"),
        )
        .orderBy("o_orderpriority")
    )


Q24_SQL = """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q25_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string functions (upper/substr/concat/length) — all JVM-side
    whole-stage-codegen expressions, no UDF."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper(F.col("p_type")).alias("type_upper"),
        F.substring(F.col("p_name"), 1, 8).alias("name_prefix"),
        F.concat_ws("/", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.length(F.col("p_name")).alias("name_len"),
    )


Q25_SQL = """
SELECT p_partkey, UPPER(p_type) AS type_upper, SUBSTRING(p_name, 1, 8) AS name_prefix,
       CONCAT_WS('/', p_brand, p_type) AS brand_type,
       CAST(LENGTH(p_name) AS INTEGER) AS name_len
FROM part
"""


def q26_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date functions: extract + truncate + month arithmetic buckets."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        )
        .groupBy("order_year", "order_month", "month_start")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("order_year", "order_month")
    )


Q26_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       date_trunc('month', o_orderdate) AS month_start,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1, 2, 3 ORDER BY order_year, order_month
"""


def q27_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global mean price. The subquery
    aggregates to one row and broadcasts into the filter."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (
          SELECT CAST(CAST(SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(14,4))) AS STRING) AS DOUBLE) / COUNT(*) FROM orders
        )
        """
    )


Q27_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > (
  SELECT CAST(CAST(SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(14,4))) AS STRING) AS DOUBLE) / COUNT(*) FROM orders
)
"""


def q28_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join: customers with no orders. The orders
    key set is the broadcast side candidate under AQE."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


Q28_SQL = (
    "SELECT c_custkey, c_name FROM customer "
    "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
)


def q29_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-side aggregation: suppliers per nation
    including supplier-less nations."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        nation.join(supp, nation.n_nationkey == supp.s_nationkey, "left")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
        .orderBy("n_nationkey")
    )


Q29_SQL = """
SELECT n_nationkey, n_name, COUNT(s_suppkey) AS n_suppliers
FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
GROUP BY n_nationkey, n_name ORDER BY n_nationkey
"""


def q30_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind rollup/cube."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(Q30_SQL)


Q30_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
"""


def q31_salted_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED distinct aggregation — the skew-survival pattern
    for high-cardinality distinct counts on hot keys.

    ``l_returnflag`` has only 3 values, so a naive
    ``groupBy(flag).agg(countDistinct(suppkey))`` funnels a third of a
    100 TB table through 3 reducers. Phase 1 deduplicates on
    (flag, suppkey) — the shuffle key carries the high-cardinality column,
    spreading each hot flag over the whole cluster (this IS the salt: a
    deterministic, collision-free one). Phase 2 counts per flag over the
    already-tiny distinct set. Result is identical to the naive plan
    (oracle: plain COUNT(DISTINCT)); only the shuffle distribution
    changes."""
    li = load_table(spark, sf_dir, "lineitem")
    phase1 = li.select("l_returnflag", "l_suppkey").distinct()
    return (
        phase1.groupBy("l_returnflag")
        .agg(F.count("*").alias("n_distinct_suppliers"))
        .orderBy("l_returnflag")
    )


Q31_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_distinct_suppliers
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q32_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — one sort-based aggregate
    computing the full quantile array, then cheap element extracts (never
    one sort per quantile). Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the (n-1)p linear-interpolation definition, so
    the doubles are bit-identical. At scale an exact percentile is a heavy
    per-group sort; the approx_percentile/t-digest variant trades that for
    a mergeable sketch with the same plan shape."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99))"
            ).alias("p")
        )
        .select(
            "l_returnflag",
            F.expr("element_at(p, 1)").alias("p25"),
            F.expr("element_at(p, 2)").alias("median"),
            F.expr("element_at(p, 3)").alias("p75"),
            F.expr("element_at(p, 4)").alias("p99"),
        )
        .orderBy("l_returnflag")
    )


Q32_SQL = """
WITH q AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.99]) AS p
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, p[1] AS p25, p[2] AS median, p[3] AS p75, p[4] AS p99
FROM q ORDER BY l_returnflag
"""


def q33_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: per customer, each order's trailing-30-day
    spend (value-based frame over the order date, not a row count). The
    frame key is integer days-since-epoch so both engines use the same
    numeric RANGE semantics; the sum is exact DECIMAL rendered to DOUBLE.
    One shuffle on o_custkey; frames evaluate in a single per-partition
    sorted pass."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)").alias("od"),
            "o_totalprice",
        )
        .withColumn(
            "trailing_30d_spend",
            F.expr(
                "CAST(CAST(SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(18,4))) OVER ("
                "PARTITION BY o_custkey ORDER BY od "
                "RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)"
            ),
        )
        .select("o_orderkey", "o_custkey", "trailing_30d_spend")
        .orderBy("o_orderkey")
    )


Q33_SQL = """
WITH t AS (
  SELECT o_orderkey, o_custkey,
         CAST(epoch(CAST(o_orderdate AS DATE)) / 86400 AS BIGINT) AS od,
         o_totalprice
  FROM orders
)
SELECT o_orderkey, o_custkey,
       CAST(CAST(SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(18,4))) OVER (
         PARTITION BY o_custkey ORDER BY od
         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)
         AS trailing_30d_spend
FROM t ORDER BY o_orderkey
"""


def q34_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS (PostgreSQL staple): customers with
    at least one high-value order but no low-priority one. Catalyst
    rewrites both subqueries to semi/anti joins — no per-row subquery
    execution."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(Q34_SQL)


Q34_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '5-LOW')
ORDER BY c_custkey
"""


def q35_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PostgreSQL ``DISTINCT ON (key) ... ORDER BY key, sort``: each
    customer's single most expensive order. Spark has no DISTINCT ON; the
    equivalent is a row_number window (one shuffle on the key). The oracle
    uses DuckDB's native DISTINCT ON to pin the semantics."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    )


Q35_SQL = """
SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
FROM orders ORDER BY o_custkey, o_totalprice DESC, o_orderkey
"""


def q36_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PostgreSQL ``string_agg(x, ',' ORDER BY x)``: region name roster per
    region. Deterministic by sorting the collected set before joining —
    collect_list order is partition-dependent, array_sort fixes it."""
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.expr("array_join(array_sort(collect_list(n_name)), ',')").alias(
                "nations_csv"
            ),
            F.count("*").alias("n_nations"),
        )
        .orderBy("n_regionkey")
    )


Q36_SQL = """
-- ORDER BY the aggregated value itself: ties contribute identical strings,
-- so the output is deterministic regardless of key-completeness
SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
       count(*) AS n_nations
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""


def q37_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority spread across columns, one row per
    order-year. Spark's relational pivot with an explicit value list keeps
    the single-shuffle grouped-agg plan; the oracle expresses the same
    thing as conditional aggregation (the portable PIVOT form)."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            F.expr("substring(o_orderpriority, 1, 1)").alias("prio"),
        )
        .groupBy("order_year")
        .pivot("prio", ["1", "2", "3", "4", "5"])
        .count()
        .na.fill(0)
    )
    return pivoted.select(
        "order_year",
        *[F.col(p).alias(f"p{p}").cast("bigint") for p in "12345"],
    ).orderBy("order_year")


Q37_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       count(*) FILTER (substr(o_orderpriority, 1, 1) = '1') AS p1,
       count(*) FILTER (substr(o_orderpriority, 1, 1) = '2') AS p2,
       count(*) FILTER (substr(o_orderpriority, 1, 1) = '3') AS p3,
       count(*) FILTER (substr(o_orderpriority, 1, 1) = '4') AS p4,
       count(*) FILTER (substr(o_orderpriority, 1, 1) = '5') AS p5
FROM orders GROUP BY 1 ORDER BY order_year
"""


def q38_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation (pg ``array_agg(x ORDER BY x)``): each
    market segment's distinct nation keys, numerically sorted then
    rendered to CSV (array-typed result columns hash differently across
    the gate's pandas bridges, so the deterministic string form is the
    comparable surface)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_set(c_nationkey)), "
                "x -> CAST(x AS STRING)), ',')"
            ).alias("nation_keys"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


Q38_SQL = """
SELECT c_mktsegment,
       array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nation_keys,
       count(DISTINCT c_nationkey) AS n_nations
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q39_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (pg's
    top-N-per-group idiom): each nation's 2 most expensive orders.
    Catalyst plans the correlated limit as a partitioned window under the
    hood — same scale shape as q17."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q39_BODY.format(lateral="JOIN LATERAL"))


# Spark spells the correlated join `JOIN LATERAL (…) t`; DuckDB wants the
# pg-style comma form `, LATERAL (…) t`. Same plan, two dialect spellings.
_Q39_BODY = """
SELECT n.n_name, t.o_orderkey, t.o_totalprice
FROM nation n {lateral} (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2
) t
ORDER BY n.n_name, t.o_totalprice DESC, t.o_orderkey
"""

Q39_SQL = _Q39_BODY.format(lateral=", LATERAL")


def q40_window_medley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation/distribution window functions over one partition pass:
    lag, lead, first_value, ntile — all share a single shuffle on
    o_custkey + one per-partition sort."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.first_value("o_orderkey").over(w).alias("first_order"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


Q40_SQL = """
SELECT o_custkey, o_orderkey,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       first_value(o_orderkey) OVER w AS first_order,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


def q41_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): melt three lineitem measures into
    (metric, val) rows. Identical SQL parses in both engines; the operator
    is a narrow per-row expansion (3 rows out per row in, no shuffle)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(Q41_SQL)


Q41_SQL = """
SELECT l_orderkey, l_linenumber, metric, val FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
  FROM lineitem WHERE l_orderkey < 100
) UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
ORDER BY l_orderkey, l_linenumber, metric
"""


def q42_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN with null-side accounting — the one join type the
    q-family didn't yet pin (q28 anti, q29 left, q34 exists). Positive-
    balance customers FULL OUTER the per-customer order rollup, then
    each row is classed both/left_only/right_only and aggregated: the
    reconciliation shape (which records exist on only one side?) every
    warehouse-vs-source audit runs. All outputs are BIGINT counts and
    coalesced key extremes — no float anywhere.

    Scale shape: the rollup is a map-side-combinable aggregate on
    o_custkey; the full-outer is a key-colocated shuffle join (both
    sides hash on custkey — AQE picks SMJ/shuffled-hash; a full outer
    cannot broadcast and never should); the classing aggregate is a
    3-row map-side-combinable reduce."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.expr("c_acctbal > 0"))
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
        .select(
            F.expr(
                "CASE WHEN c_custkey IS NULL THEN 'right_only' "
                "WHEN o_custkey IS NULL THEN 'left_only' "
                "ELSE 'both' END"
            ).alias("match_type"),
            F.expr("coalesce(c_custkey, o_custkey)").alias("k"),
            F.expr("coalesce(n_orders, CAST(0 AS BIGINT))").alias("n_orders"),
        )
        .groupBy("match_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_orders").cast("bigint").alias("total_orders"),
            F.min("k").alias("min_custkey"),
            F.max("k").alias("max_custkey"),
        )
        .orderBy("match_type")
    )


Q42_SQL = """
WITH c AS (
  SELECT c_custkey FROM customer WHERE c_acctbal > 0
),
o AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT CASE WHEN c.c_custkey IS NULL THEN 'right_only'
              WHEN o.o_custkey IS NULL THEN 'left_only'
              ELSE 'both' END AS match_type,
         coalesce(c.c_custkey, o.o_custkey) AS k,
         coalesce(o.n_orders, CAST(0 AS BIGINT)) AS n_orders
  FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
)
SELECT match_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_orders) AS BIGINT) AS total_orders,
       min(k) AS min_custkey,
       max(k) AS max_custkey
FROM j GROUP BY match_type ORDER BY match_type
"""



def q43_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a LEFT SEMI join — the one join type the q-family had
    not yet pinned (q28 anti, q29 left, q42 full outer): parts that have
    at least one heavy-quantity lineitem (l_quantity > 45), counted per
    brand. Semi join is the planner's native EXISTS shape: it stops
    probing after the first match and never duplicates left rows, so the
    downstream count is per-PART, not per-lineitem.

    Scale shape: the filter on l_quantity is pushed to the lineitem
    scan; the semi join hashes on partkey (both sides co-partitioned by
    the key under AQE — a semi join's build side carries only the key
    set, no payload columns); the brand rollup is a map-side-combinable
    aggregate over ~#parts rows, not ~#lineitems."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_quantity > 45")
    )
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("p_brand")
    )


Q43_SQL = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
FROM part
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_partkey = p_partkey AND l_quantity > 45)
GROUP BY p_brand ORDER BY p_brand
"""



def q44_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations — INTERSECT ALL / EXCEPT ALL /
    UNION ALL over the 1995-vs-1996 order-customer multisets (q19/q20/
    q21 pin the DISTINCT variants; the ALL variants preserve
    multiplicity: INTERSECT ALL keeps min(m_a, m_b) copies per key,
    EXCEPT ALL the surplus m_a - m_b). Each result is summarized as
    (rows, distinct keys) so the gate hash pins the multiplicity
    arithmetic itself — under DISTINCT semantics the three n_rows
    collapse and the entry would go red.

    Scale shape: Spark plans intersectAll/exceptAll as a count-aggregate
    + generate(replicate) on the hashed key — one shuffle per side on
    o_custkey, no join explosion; the year filters push to the orders
    scan; the three 1-row summaries union on the driver side of the
    plan for free."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("year(o_orderdate)").alias("y"), "o_custkey"
    )
    a = o.filter(F.col("y") == 1995).select("o_custkey")
    b = o.filter(F.col("y") == 1996).select("o_custkey")
    parts = []
    for name, df in (
        ("except_all", a.exceptAll(b)),
        ("intersect_all", a.intersectAll(b)),
        ("union_all", a.unionAll(b)),
    ):
        parts.append(
            df.agg(
                F.count("*").alias("n_rows"),
                F.count_distinct("o_custkey").alias("n_distinct"),
            ).select(F.lit(name).alias("setop"), "n_rows", "n_distinct")
        )
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionAll(pdf)
    return out.orderBy("setop")


Q44_SQL = """
WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT 'except_all' AS setop, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
UNION ALL
SELECT 'intersect_all', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT)
FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
UNION ALL
SELECT 'union_all', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT)
FROM (SELECT o_custkey FROM a UNION ALL SELECT o_custkey FROM b)
ORDER BY setop
"""


#: month key bounds fragment shared by the Spark scalar-collect and the
#: oracle's inline CTE — key = year*12 + month-1, positive for all of AD
_Q45_BOUNDS = (
    "CAST(year(min(o_orderdate)) * 12 + month(min(o_orderdate)) - 1 AS INT)"
    " AS lo, "
    "CAST(year(max(o_orderdate)) * 12 + month(max(o_orderdate)) - 1 AS INT)"
    " AS hi"
)


def _q45_body(div: str, anchor: str, stop: str) -> str:
    """Shared recursive-CTE gap-fill text; ``div`` is the engine's
    integer-division operator (Spark ``DIV``, DuckDB ``//`` — both
    truncate toward zero, and the month keys here are positive anyway);
    ``anchor``/``stop`` are the spine's start expression and stop bound
    (literals on the Spark side, a bounds-CTE scalar subquery in the
    oracle). Everything else — the recursive spine, make_date, the
    decimal-string revenue render — parses identically on both engines."""
    return f"""spine(k) AS (
  SELECT {anchor}
  UNION ALL
  SELECT k + 1 FROM spine WHERE k < {stop}
), monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INT) AS k,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(CAST(SUM(CAST(CAST(o_totalprice AS STRING) AS DECIMAL(14,4))) AS STRING) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1
)
SELECT make_date(s.k {div} 12, s.k % 12 + 1, 1) AS month_start,
       coalesce(m.n_orders, CAST(0 AS BIGINT)) AS n_orders,
       coalesce(m.revenue, CAST(0 AS DOUBLE)) AS revenue
FROM spine s LEFT JOIN monthly m ON s.k = m.k
ORDER BY month_start
"""


def q45_recursive_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4: ``WITH RECURSIVE``) driving a
    gap-filled monthly time series: a month spine spanning [min, max]
    of ``o_orderdate`` is generated by recursion, then LEFT JOINed to the
    per-month order count + revenue rollup so months with NO orders
    appear as explicit zero rows — the dense calendar every downstream
    trend/seasonality model (e31/e32/e35) assumes. At sf0.001 the corpus
    genuinely has empty months, so the zero-fill arm is exercised at
    smoke scale.

    The [lo, hi] month bounds are collected driver-side (ONE 1-row
    min/max aggregate — the d07-class scalar collect) and inlined as
    literals: Spark executes each recursion step as its own job and
    re-evaluates any bounds CTE referenced in the recursive term per
    step, so an inline ``(SELECT hi FROM bounds)`` re-scanned orders ~80
    times (measured 29s vs 2.5s at sf0.01). The oracle keeps the bounds
    inline — DuckDB evaluates the recursion in one operator.

    Scale shape: the spine is O(months) rows — depth equals the data's
    MONTH SPAN (~80 for seven years), never its row count, and the
    recursion-level limit is raised to that span when the calendar
    outgrows Spark's default 100; the
    monthly rollup is one map-side-combinable shuffle on the month key;
    the spine side of the final join is tiny so AQE broadcasts it.
    Revenue sums through exact DECIMAL and renders via string (see
    _dsum) for cross-engine bit-parity."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    lo, hi = spark.sql(f"SELECT {_Q45_BOUNDS} FROM orders").first()
    if lo is None:
        # empty orders: min/max are NULL and str(None) would be inlined
        # into the recursive SQL as a bare identifier — return the empty
        # calendar with the output schema instead (the oracle's recursion
        # anchors on a NULL scalar and yields zero rows identically)
        return spark.sql(
            "SELECT CAST(NULL AS DATE) AS month_start, "
            "CAST(0 AS BIGINT) AS n_orders, "
            "CAST(0 AS DOUBLE) AS revenue WHERE FALSE"
        )
    # Spark caps recursive-CTE depth at spark.sql.cteRecursionLevelLimit
    # (default 100) — one level per MONTH here, so a corpus spanning more
    # than ~8 years would throw RECURSION_LEVEL_LIMIT_EXCEEDED while the
    # oracle (unbounded) returns the full calendar. The bounds are known
    # driver-side, so raise the limit to the actual span when needed.
    span = hi - lo + 1
    # The limit is read from the session conf at EXECUTION time, so a
    # lazily-returned DataFrame would still hit the default cap once the
    # raised value is restored. Scope the raise (never lowering the limit)
    # and, when it was needed, materialize the (O(months)-row) calendar
    # inside the scope via an eager localCheckpoint — the checkpointed
    # plan no longer re-runs the recursion at collect time. The scope's
    # lock also keeps a concurrent dump from reading another's raised
    # value as the limit.
    with scoped_conf(
        spark,
        "spark.sql.cteRecursionLevelLimit",
        lambda limit: max(int(limit), span + 8),
    ) as limit:
        calendar = spark.sql(
            "WITH RECURSIVE " + _q45_body("DIV", anchor=str(lo), stop=str(hi))
        )
        if span + 8 <= int(limit):
            return calendar
        # track the checkpoint blocks so the catalog-boundary release frees
        # them (an untracked localCheckpoint persists RDD blocks until JVM
        # GC — the leak _cache.py documents)
        out, handle = local_checkpoint(calendar)
        track(handle)
        return out


Q45_SQL = (
    f"WITH RECURSIVE bounds AS (SELECT {_Q45_BOUNDS} FROM orders),\n"
    # table-form anchor: zero rows (not one NULL row) when orders is
    # empty, matching the Spark side's empty-calendar guard
    + _q45_body(
        "//",
        anchor="lo FROM bounds WHERE lo IS NOT NULL",
        stop="(SELECT hi FROM bounds)",
    )
)


FLAGSHIP = q11_pricing_summary

QUERIES = {
    "q01_projection": q01_projection,
    "q02_alias": q02_alias,
    "q03_values": q03_values,
    "q04_series": q04_series,
    "q05_cross_join": q05_cross_join,
    "q05b_cross_join_1m": q05b_cross_join_1m,
    "q06_empty": q06_empty,
    "q07_uuid": q07_uuid,
    "q08_distinct": q08_distinct,
    "q09_in_subquery": q09_in_subquery,
    "q10_quoted_idents": q10_quoted_idents,
    "q11_pricing_summary": q11_pricing_summary,
    "q12_shipping_priority": q12_shipping_priority,
    "q13_local_supplier_volume": q13_local_supplier_volume,
    "q14_forecast_revenue": q14_forecast_revenue,
    "q15_rollup": q15_rollup,
    "q16_cube": q16_cube,
    "q17_window_topk_per_group": q17_window_topk_per_group,
    "q18_window_running": q18_window_running,
    "q19_union": q19_union,
    "q20_intersect": q20_intersect,
    "q21_except": q21_except,
    "q22_topk_global": q22_topk_global,
    "q23_having": q23_having,
    "q24_conditional_agg": q24_conditional_agg,
    "q25_string_funcs": q25_string_funcs,
    "q26_date_funcs": q26_date_funcs,
    "q27_scalar_subquery": q27_scalar_subquery,
    "q28_anti_join": q28_anti_join,
    "q29_left_join": q29_left_join,
    "q30_grouping_sets": q30_grouping_sets,
    "q31_salted_distinct_agg": q31_salted_distinct_agg,
    "q32_percentiles": q32_percentiles,
    "q33_range_window": q33_range_window,
    "q34_exists_correlated": q34_exists_correlated,
    "q35_distinct_on": q35_distinct_on,
    "q36_string_agg": q36_string_agg,
    "q37_pivot": q37_pivot,
    "q38_array_agg": q38_array_agg,
    "q39_lateral": q39_lateral,
    "q40_window_medley": q40_window_medley,
    "q41_unpivot": q41_unpivot,
    "q42_full_outer_join": q42_full_outer_join,
    "q43_semi_join": q43_semi_join,
    "q44_set_ops_all": q44_set_ops_all,
    "q45_recursive_gapfill": q45_recursive_gapfill,
}

ORACLES = {
    "q01_projection": Q01_SQL,
    "q02_alias": Q02_SQL,
    "q03_values": VALUES_SQL,
    "q04_series": Q04_SQL,
    "q05_cross_join": Q05_SQL,
    "q05b_cross_join_1m": Q05B_SQL,
    "q06_empty": Q06_SQL,
    "q07_uuid": Q07_SQL,
    "q08_distinct": Q08_SQL,
    "q09_in_subquery": Q09_SQL,
    "q10_quoted_idents": Q10_SQL,
    "q11_pricing_summary": Q11_SQL,
    "q12_shipping_priority": Q12_SQL,
    "q13_local_supplier_volume": Q13_SQL,
    "q14_forecast_revenue": Q14_SQL,
    "q15_rollup": Q15_SQL,
    "q16_cube": Q16_SQL,
    "q17_window_topk_per_group": Q17_SQL,
    "q18_window_running": Q18_SQL,
    "q19_union": Q19_SQL,
    "q20_intersect": Q20_SQL,
    "q21_except": Q21_SQL,
    "q22_topk_global": Q22_SQL,
    "q23_having": Q23_SQL,
    "q24_conditional_agg": Q24_SQL,
    "q25_string_funcs": Q25_SQL,
    "q26_date_funcs": Q26_SQL,
    "q27_scalar_subquery": Q27_SQL,
    "q28_anti_join": Q28_SQL,
    "q29_left_join": Q29_SQL,
    "q30_grouping_sets": Q30_SQL,
    "q31_salted_distinct_agg": Q31_SQL,
    "q32_percentiles": Q32_SQL,
    "q33_range_window": Q33_SQL,
    "q34_exists_correlated": Q34_SQL,
    "q35_distinct_on": Q35_SQL,
    "q36_string_agg": Q36_SQL,
    "q37_pivot": Q37_SQL,
    "q38_array_agg": Q38_SQL,
    "q39_lateral": Q39_SQL,
    "q40_window_medley": Q40_SQL,
    "q41_unpivot": Q41_SQL,
    "q42_full_outer_join": Q42_SQL,
    "q43_semi_join": Q43_SQL,
    "q44_set_ops_all": Q44_SQL,
    "q45_recursive_gapfill": Q45_SQL,
}

"""Core relational operator queries (SURVEY.md §2 Part C: sources, row ops,
joins, aggregations).

Conventions for DuckDB-oracle hash parity:
- every computed column aliased identically in Spark and SQL;
- derived integers cast to BIGINT on BOTH sides (Spark int vs DuckDB BIGINT);
- timestamps emitted as ``yyyy-MM-dd HH:mm:ss`` strings (tz-free, ns-vs-us safe);
- floating-point policy (all testdata doubles are exact 2-decimal values):
    * Cross-engine float SUM/AVG is doubly hazardous: reduction order diverges
      (~1e-12), and ROUND itself disagrees between engines at true decimal
      halfway points (Spark rounds the shortest-decimal repr HALF_UP; DuckDB
      does not — ROUND(73.91375::DOUBLE, 4) is 73.9138 vs 73.9137).
    * Therefore money aggregates run in DECIMAL (exact, order-insensitive in
      both engines): cast 2-decimal inputs to DECIMAL(9,2), multiply/sum in
      decimal, emit CAST(... AS DOUBLE). Averages emit the raw double
      quotient CAST(sum_dec AS DOUBLE)/COUNT — identical IEEE division of
      identical inputs, no rounding step at all.
    * ROUND is allowed only where the TRUE value provably sits ON the target
      grid (e.g. ROUND(SUM(x),2) of exact-2dp x) or provably off-halfway —
      then both engines agree. Naked ROUND(AVG(x), n) is BANNED.
  This is also the right 100 TB answer: exact decimal money arithmetic,
  not float accumulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.readers import load_table
from .registry import register


def _ts_str(col):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


DEC = "decimal(9,2)"


def _dec(col):
    """Exact decimal view of a 2-decimal money column/expression."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def _sumd(expr):
    """Hash-safe SUM: exact decimal accumulation emitted as double."""
    return F.sum(expr).cast("double")


def _avgd(col):
    """Hash-safe AVG: exact decimal sum cast to double, divided by the
    non-null count — no rounding step (see module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(_dec(c)).cast("double") / F.count(c)


# ---------------------------------------------------------------------------
# Flagship + scan/agg spine
# ---------------------------------------------------------------------------


@register(
    "q_flagship_star_revenue",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY revenue DESC
    """,
    headline=True,
    tags=("join", "agg", "flagship"),
)
def q_flagship_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiway star join + hash agg + sort (SURVEY.md §7.2 minimum slice).

    lineitem ⋈ orders ⋈ customer → revenue per market segment. The customer
    dimension is broadcast (small side); the lineitem⋈orders join shuffles on
    orderkey — at 100 TB both sides would be bucketed on orderkey to make
    this a shuffle-free sort-merge join (:func:`flagship_star_revenue_over`
    over bucketed facts is pinned by tests/test_plans.py; past numbers in
    ``git show 9d8feb5:PLANS.md``)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return flagship_star_revenue_over(lineitem, orders, customer)


def flagship_star_revenue_over(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """The flagship star-join aggregation over caller-supplied inputs — the
    same logical plan runs against raw parquet scans (the registered
    headline query) or orderkey-bucketed tables (the 100 TB answer: the
    lineitem⋈orders shuffle disappears because bucketing pre-paid it at
    ingest; pinned by ``test_bucketed_flagship_matches_registered_query``
    in tests/test_plans.py)."""
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            _sumd(_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc())
    )


@register(
    "q_pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(9,2)))
                    * (1 + CAST(l_tax AS DECIMAL(9,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) / COUNT(l_quantity)
               AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) / COUNT(l_extendedprice)
               AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) / COUNT(l_discount)
               AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    headline=True,
    tags=("agg", "filter"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter → hash agg with expression
    arithmetic (ref A14 generalized to multi-aggregate; `loader.py:313-336`).

    The shipdate predicate is pushed to the parquet scan; aggregation is
    partial (map-side) then final — one shuffle on the 6-value group key.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast(DEC)
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sumd(_dec("l_quantity")).alias("sum_qty"),
            _sumd(_dec("l_extendedprice")).alias("sum_base_price"),
            _sumd(disc_price).alias("sum_disc_price"),
            _sumd(disc_price * (one + _dec("l_tax"))).alias("sum_charge"),
            _avgd("l_quantity").alias("avg_qty"),
            _avgd("l_extendedprice").alias("avg_price"),
            _avgd("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Row ops
# ---------------------------------------------------------------------------


@register(
    "q_project_rename",
    oracle="""
    SELECT p_partkey AS part_id, p_name AS part_name, p_retailprice AS price
    FROM part
    """,
    tags=("rowops",),
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + rename (ref A2, `loader.py:97-104` RELEVANT_COLUMNS)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_name"),
        F.col("p_retailprice").alias("price"),
    )


@register(
    "q_filter_pred",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_totalprice > 50000
      AND o_orderpriority IS NOT NULL
      AND o_custkey BETWEEN 10 AND 120
    """,
    tags=("rowops",),
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicate: equality + range + null-test (ref A3/A16)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_totalprice") > 50000)
        & F.col("o_orderpriority").isNotNull()
        & F.col("o_custkey").between(10, 120)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@register(
    "q_safe_cast",
    oracle="""
    SELECT o_orderkey,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS priority_num,
           TRY_CAST(o_orderpriority AS BIGINT) AS junk_cast
    FROM orders
    """,
    tags=("rowops",),
)
def q_safe_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-on-junk safe cast (ref A3, `loader.py:123-127`): '3-MEDIUM' → 3,
    whole string → NULL. try_cast on both engines (Spark 4 ANSI-safe)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).try_cast("bigint").alias("priority_num"),
        F.col("o_orderpriority").try_cast("bigint").alias("junk_cast"),
    )


@register(
    "q_positive_or_null",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal > 0 THEN ROUND(c_acctbal, 2) ELSE NULL END AS acctbal_pos
    FROM customer
    """,
    tags=("rowops",),
)
def q_positive_or_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-else-NULL cleansing (ref A4, `loader.py:37-50,:130-142`)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.when(F.col("c_acctbal") > 0, F.round(F.col("c_acctbal"), 2)).alias("acctbal_pos"),
    )


@register(
    "q_string_fns",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           upper(p_brand) AS brand_upper,
           CAST(length(p_name) AS BIGINT) AS name_len,
           trim(concat(p_brand, ' ', p_type)) AS brand_type,
           substr(p_type, 1, 5) AS type_prefix,
           replace(p_name, ' ', '_') AS name_underscored,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass,
           split_part(p_name, ' ', 1) AS first_token
    FROM part
    """,
    tags=("rowops", "string"),
)
def q_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface (ref B1 `get_named_entity` loader.py:28 is the
    seed: replace ' '→'_'; generalized per SURVEY.md §2 Part C string_fns)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.trim(F.concat(F.col("p_brand"), F.lit(" "), F.col("p_type"))).alias("brand_type"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_underscored"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.when(F.col("p_type").like("%BRASS%"), F.lit(1)).otherwise(F.lit(0)).cast("int").alias("is_brass"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_token"),
    )


@register(
    "q_date_fns",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           CAST(day(o_orderdate) AS BIGINT) AS order_day,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT)
               AS days_to_2002,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts_str
    FROM orders
    """,
    tags=("rowops", "date"),
)
def q_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions ([ext]; the reference keeps dates as varchar —
    `db_schema.json:5` — so this is the engine's added date surface)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("order_year"),
        F.month(d).cast("bigint").alias("order_month"),
        F.dayofmonth(d).cast("bigint").alias("order_day"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date"))
        .cast("bigint")
        .alias("days_to_2002"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.add_months(d.cast("date"), 3), "yyyy-MM-dd").alias("plus3m"),
        _ts_str(d).alias("order_ts_str"),
    )


@register(
    "q_math_fns",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))
                * (1 + CAST(l_tax AS DECIMAL(9,2))) AS DOUBLE) AS charge,
           CAST(abs(CAST(l_discount AS DECIMAL(9,2)) - CAST(0.05 AS DECIMAL(9,2))) AS DOUBLE)
               AS disc_dev,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           ROUND(ln(l_extendedprice + 1), 6) AS log_price,
           CAST(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2)) AS DOUBLE)
               AS qty_sq,
           CAST(CAST(l_discount AS DECIMAL(9,2)) * 100 AS DOUBLE) AS disc_pct
    FROM lineitem
    WHERE l_orderkey <= 500
    """,
    tags=("rowops", "math"),
)
def q_math_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function surface (ref A14 arithmetic generalized).

    Hash-exactness notes (driver compares raw pandas dtypes + values):
    - floor/ceil: Spark returns LONG while DuckDB floor(DOUBLE) returns
      DOUBLE, so the oracle casts to BIGINT to match int64 vs int64.
    - disc_dev / disc_pct: 2-dp inputs make DECIMAL arithmetic exact on
      both engines — no float ROUND, no rounding-boundary risk (module
      float policy, see header).
    - log_price keeps ROUND(ln(x)+1, 6); Java Math.log and libm agree on
      every sf0.01 row today — tolerance-based property coverage lives in
      tests, not the hash."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.filter(F.col("l_orderkey") <= 500).select(
        "l_orderkey",
        "l_linenumber",
        (
            _dec("l_extendedprice")
            * (F.lit(1).cast(DEC) - _dec("l_discount"))
            * (F.lit(1).cast(DEC) + _dec("l_tax"))
        )
        .cast("double")
        .alias("charge"),
        F.abs(_dec("l_discount") - F.lit(0.05).cast(DEC)).cast("double").alias("disc_dev"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        (_dec("l_quantity") * _dec("l_quantity")).cast("double").alias("qty_sq"),
        (_dec("l_discount") * F.lit(100)).cast("double").alias("disc_pct"),
    )


@register(
    "q_json_fns",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           TRY_CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_field
    FROM events
    """,
    headline=True,
    tags=("rowops", "json"),
)
def q_json_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props (ref A5 nested-cell parsing
    generalized to real JSON; `loader.py:146` et al.).

    Single-parse: one ``from_json`` into a struct, fields projected from it —
    three ``get_json_object`` calls would parse the same JSON three times per
    row (headline query; tests/test_plans.py pins one parse in the plan)."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_id", F.from_json("props", "k STRING, missing STRING").alias("p")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_str"),
        F.col("p.k").try_cast("bigint").alias("k_num"),
        F.col("p.missing").try_cast("bigint").alias("missing_field"),
    )


@register(
    "q_array_fns",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           list_sort(string_split(text, ' '))[1] AS min_token,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT)
               AS total_token_chars,
           CASE WHEN list_contains(string_split(text, ' '), 'data') THEN 1 ELSE 0 END
               AS has_data_token
    FROM documents
    """,
    tags=("rowops", "array"),
)
def q_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/lambda surface (ref A5/A6/A11 generalized): split, size,
    sort_array, array_distinct, aggregate/transform lambdas, array_contains.
    Arrays are reduced to scalars so the oracle hash is representation-free."""
    documents = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return documents.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.sort_array(toks).getItem(0).alias("min_token"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_token_chars"),
        F.when(F.array_contains(toks, "data"), F.lit(1)).otherwise(F.lit(0)).cast("int").alias(
            "has_data_token"
        ),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q_join_inner_equi",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
    tags=("join",),
)
def q_join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi hash join (generalizes ref A15's lookup join)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            _sumd(_dec("l_extendedprice")).alias("total_price"),
        )
    )


@register(
    "q_join_left_outer",
    oracle="""
    SELECT c_custkey,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(9,2))), 0) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tags=("join",),
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders (ref A15,
    `loader.py:406`: movie keeps NULL rating when no ratings exist)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast(DEC))
            .cast("double")
            .alias("total_spent"),
        )
    )


@register(
    "q_join_broadcast",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) / COUNT(l_quantity)
               AS avg_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    tags=("join", "broadcast"),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hash join: the part dimension ships to every
    executor; the fact side never shuffles (the 100 TB-correct plan for
    fact ⋈ small-dim)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            _avgd("l_quantity").alias("avg_qty"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    """,
    tags=("join",),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers having at least one large order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no orders at all."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "q_join_theta_range",
    oracle="""
    SELECT o_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_late_items
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY o_orderkey
    """,
    tags=("join", "range"),
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (theta) join: lineitems shipped >60 days after their
    order date. The equi key carries the shuffle; the range predicate is
    evaluated post-probe, so this stays a hash join at scale."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cond = (lineitem.l_orderkey == orders.o_orderkey) & (
        lineitem.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    return (
        orders.join(lineitem, cond)
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_late_items"))
    )


@register(
    "q_join_range_binned",
    oracle="""
    SELECT a.event_id AS probe_id,
           CAST(COUNT(*) AS BIGINT) AS n_nearby
    FROM events a JOIN events b
      ON b.ts >= a.ts - INTERVAL 5 MINUTE
     AND b.ts <  a.ts + INTERVAL 5 MINUTE
     AND b.event_id != a.event_id
    WHERE a.event_type = 'purchase'
    GROUP BY a.event_id
    """,
    headline=True,
    tags=("join", "range", "binned"),
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no equi key): for each purchase event, count all
    events within ±5 minutes. Naively this is a BroadcastNestedLoopJoin —
    O(|L|x|R|) — so it runs through the binned rewrite
    (operators/rangejoin.py): equi-join on time-bin ids + exact residual,
    shuffle-partitionable at any scale (plan shape pinned in test_plans)."""
    from ..operators.rangejoin import interval_point_join_binned

    events = load_table(spark, sf_dir, "events")
    probes = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("probe_id"), F.col("ts").alias("probe_ts")
    )
    points = events.select(
        F.col("event_id").alias("other_id"), F.col("ts").alias("other_ts")
    )
    pairs = interval_point_join_binned(
        probes,
        points,
        left_ts="probe_ts",
        right_ts="other_ts",
        lower_s=-300,
        upper_s=300,
        extra_pred=F.col("other_id") != F.col("probe_id"),
    )
    return pairs.groupBy("probe_id").agg(F.count("*").alias("n_nearby"))


@register(
    "q_join_multiway_star",
    oracle="""
    SELECT r_name AS region, n_name AS nation,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    headline=True,
    tags=("join", "star"),
)
def q_join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact + 4 dimensions star join; all dims broadcast, fact never
    shuffles for the joins (single shuffle for the final aggregation)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            _sumd(_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT event_id,
           user_id,
           ROUND(value, 4) AS purchase_value,
           strftime(prev_click_ts, '%Y-%m-%d %H:%M:%S') AS prev_click_ts_str
    FROM (
        SELECT event_id, user_id, event_type, value,
               last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_click_ts
        FROM events
    )
    WHERE event_type = 'purchase'
    """,
    headline=True,
    tags=("join", "asof"),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join emulation ([ext], SURVEY.md §2 `join_asof_event_order`):
    each purchase picks the most recent preceding click of the same user.

    Spark has no native ASOF JOIN; the scalable formulation is a union-free
    single-pass window (`last(..., ignorenulls)` over an unbounded-preceding
    frame) — one shuffle on user_id, no range-join blowup."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        events.withColumn("prev_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.round("value", 4).alias("purchase_value"),
            _ts_str("prev_click_ts").alias("prev_click_ts_str"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q_agg_avg_per_key",
    oracle="""
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(9,2))) AS DOUBLE) / COUNT(o_totalprice)
               AS avg_order_value
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("agg",),
)
def q_agg_avg_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG per group — the reference's rating aggregation (ref A14,
    `loader.py:313-336`) re-expressed as a hash aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        _avgd("o_totalprice").alias("avg_order_value")
    )


@register(
    "q_agg_multi",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) / COUNT(l_discount)
               AS avg_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate single pass: count / count-distinct / min / max /
    sum / avg (ref A14+A20 generalized)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        _sumd(_dec("l_quantity")).alias("sum_qty"),
        _avgd("l_discount").alias("avg_disc"),
    )


@register(
    "q_agg_collect_set",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("agg", "collect"),
)
def q_agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set per group (ref A10 per-movie sets, `loader.py:145-223`);
    emitted as a sorted joined string so the hash is order-insensitive."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "q_agg_first_nonnull",
    oracle="""
    SELECT c_nationkey,
           min(c_name) AS first_name,
           max(c_mktsegment) AS max_segment
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("agg",),
)
def q_agg_first_nonnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic first-nonnull merge (ref A9 name fill-in,
    `loader.py:188-189`): min/max give a stable representative where the
    reference relied on arrival order."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey").agg(
        F.min("c_name").alias("first_name"),
        F.max("c_mktsegment").alias("max_segment"),
    )


@register(
    "q_dedup_by_key",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) = 1
    """,
    tags=("agg", "dedup"),
)
def q_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup-by-key (ref A7 first-wins dimension registration,
    `loader.py:147-148` et al.): keep one row per key by an explicit order —
    row_number()==1, never nondeterministic dropDuplicates."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "q_agg_count_by_value",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("agg",),
)
def q_agg_count_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value histogram (ref B2 `print_all_jobs`, `loader.py:485-491`)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "q_agg_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    headline=True,
    tags=("agg", "rollup"),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals ([ext] SURVEY.md §2 agg_grouping_sets)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(_sumd(_dec("l_quantity")).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two keys ([ext])."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(_sumd(_dec("l_extendedprice")).alias("sum_price"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
        )
    )


@register(
    "q_agg_pivot",
    oracle="""
    SELECT l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(9,2)) END) AS DOUBLE) AS qty_F,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(9,2)) END) AS DOUBLE) AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: linestatus values become columns ([ext] OLAP reshaping). The
    value list is explicit, so the output schema is static (no extra
    distinct-scan job) and the whole thing is one hash aggregation — the
    oracle is the equivalent conditional aggregation."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(F.col("l_returnflag").alias("returnflag"))
        .pivot("l_linestatus", ["F", "O"])
        .agg(_sumd(_dec("l_quantity")))
        .select(
            "returnflag",
            F.col("F").alias("qty_F"),
            F.col("O").alias("qty_O"),
        )
    )


@register(
    "q_agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) (ref A10 implied set semantics)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )


@register("q_agg_approx_count_distinct", oracle=None, tags=("agg", "approx"))
def q_agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct ([ext]; sketch implementations
    differ across engines, so this is a rows-only check — the exact twin
    `q_agg_count_distinct` carries the value oracle)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_n_customers")
    )


@register(
    "q_agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25,
           round(quantile_cont(l_quantity, 0.5), 4) AS qty_p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS qty_p75,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles ([ext] distribution profiling — the data-
    quality twin of `q_agg_approx_count_distinct`'s sketch: this is the
    exact form, computed by Spark's `percentile` aggregate with linear
    interpolation, value-matched against DuckDB's `quantile_cont`).

    Scale note: exact percentiles sort each group's values inside the
    aggregate buffer — right for bounded-cardinality profiling like this
    (3 groups x ~200k values at sf1). For percentiles over UNBOUNDED groups
    at 100 TB use `percentile_approx` (t-digest-style sketch, map-side
    combinable) and accept the documented error bound, exactly as the
    approx-count-distinct pair does."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    quartiles = F.percentile("l_quantity", F.lit([0.25, 0.5, 0.75]))
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            quartiles.alias("q"),
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias(
                "median_price"
            ),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("q", 1), 4).alias("qty_p25"),
            F.round(F.element_at("q", 2), 4).alias("qty_p50"),
            F.round(F.element_at("q", 3), 4).alias("qty_p75"),
            "median_price",
        )
    )


@register("q_agg_percentiles_approx", oracle=None, tags=("agg", "approx"))
def q_agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch form of `q_agg_percentiles` ([ext]): `percentile_approx`
    (Greenwald-Khanna, map-side combinable, bounded memory) — the form an
    UNBOUNDED group at 100 TB wants, exactly as `q_agg_approx_count_distinct`
    pairs with the exact COUNT(DISTINCT). Sketches differ across engines, so
    this is rows-only for the driver; the estimate is pinned within the
    configured accuracy's error bound against the exact twin in
    tests/test_oracle_parity.py."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    q = F.percentile_approx("l_quantity", F.lit([0.25, 0.5, 0.75]), F.lit(10_000))
    return lineitem.groupBy("l_returnflag").agg(
        F.element_at(q, 1).alias("qty_p25_approx"),
        F.element_at(q, 2).alias("qty_p50_approx"),
        F.element_at(q, 3).alias("qty_p75_approx"),
    )


@register(
    "q_local_supplier_volume",
    oracle="""
    SELECT n_name AS nation,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    tags=("join", "star"),
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog — revenue per nation where the LINE ITEM'S
    SUPPLIER sits in the same nation as the ordering customer (the
    'local supplier volume' question): structurally harder than the
    plain star because TWO dimension paths (order→customer and
    line→supplier) must MEET on nationhood, not just decorate the fact.
    The fact never shuffles for joins at test SF: every dimension is
    broadcast-hinted and the date-filtered orders side is small enough
    that AQE broadcasts it too (plan-pinned: 5 BroadcastHashJoins, zero
    SortMergeJoin, ONE exchange — the final per-nation aggregate); at
    100 TB the lineitem-orders edge becomes a co-keyed shuffle join (or
    zero-shuffle via the bucketed-table twin, sources/writers
    .write_bucketed). The same-nation predicate rides the supplier join
    condition; the date range reaches the orders scan as PushedFilters
    with a three-column pruned ReadSchema."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # cast the range literals to the column's OWN dtype (the testdata's
    # timestamp encoding has flipped across generations — events.ts
    # precedent) so the comparison stays a pushable column-vs-literal
    dd = dict(orders.dtypes)["o_orderdate"]
    orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast(dd))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast(dd))
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            _sumd(
                _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_revenue_change_q6",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE)
             AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("scan", "agg"),
)
def q_revenue_change_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog — the forecasting-revenue-change question and the
    canon's PURE-SCAN member: no join, no window; the entire query is
    four pushable predicates and one global decimal-exact aggregate, so
    the plan's only costs are row-group-pruned parquet IO and a
    single-partition exchange of one partial row per task. Date, band,
    and quantity filters all reach the scan as PushedFilters (parquet
    min/max prunes whole row groups); ReadSchema carries exactly the
    four referenced columns. At 100 TB this shape is pure IO bandwidth —
    the query every storage-layout decision (partitioning, Z-order) is
    ultimately judged by."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    sd = dict(lineitem.dtypes)["l_shipdate"]
    f = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast(sd))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast(sd))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_items"),
        _sumd(_dec("l_extendedprice") * _dec("l_discount")).alias(
            "revenue_delta"
        ),
    )


@register(
    "q_join_full_outer",
    oracle="""
    WITH ue AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT COALESCE(c_custkey, user_id) AS entity_id,
           c_custkey IS NOT NULL AS is_customer,
           user_id IS NOT NULL AS has_events,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events
    FROM customer FULL OUTER JOIN ue ON c_custkey = user_id
    """,
    tags=("join",),
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the reconciliation canon member left/inner
    can't express: customers with no events AND event users absent from
    the customer table (the driver's user ids are drawn independently —
    at sf0.01+ both unmatched sides are non-empty, the same mismatch
    the FK-orphan audit counts, here materialized row-level; the plan
    test pins the preservation identity rows == customers +
    event-only users at any SF). Physical
    note: full outer preserves BOTH sides, so it can never broadcast —
    Spark plans a SortMergeJoin FullOuter (one co-keyed shuffle pair),
    the correct and only shape at any scale."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    ue = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    j = customer.join(ue, customer.c_custkey == ue.user_id, "full_outer")
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("user_id")).alias("entity_id"),
        F.col("c_custkey").isNotNull().alias("is_customer"),
        F.col("user_id").isNotNull().alias("has_events"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
    )


@register(
    "q_shipping_priority_q3",
    oracle="""
    SELECT l_orderkey AS orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                    * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE)
             AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority AS priority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    tags=("join", "star", "topk"),
)
def q_shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog — the shipping-priority top-10: revenue of the
    BUILDING segment's orders placed before a date but (partly) shipped
    after it, the canon's join-then-aggregate-then-rank member (Q1 is
    scan-agg, Q6 pure scan, Q5 the dimension meet — this adds the
    global-top-k tail). Segment and both date predicates push to their
    scans (the customer filter broadcast-semi-prunes orders before the
    fact joins); one aggregate exchange on the group key; the global
    top-10 plans as TakeOrderedAndProject — no full sort anywhere
    (plan-pinned). The reference has no joins at all (`loader.py` is a
    single-table ETL); this is north-star canon coverage.

    Scale posture (VERDICT r09 #1): the orders-side of the fact join is
    FACT-DERIVED — the date filter keeps ~97% of BUILDING-segment
    orders, a side that grows linearly with the warehouse — so it must
    NOT carry an unconditional broadcast hint (at 100 TB that is a
    multi-GB forced broadcast, the textbook driver-OOM). It carries no
    hint at all: the planner broadcasts it while its estimated (or, under
    AQE, observed) size is under `autoBroadcastJoinThreshold` (the pinned
    2-BHJ/1-exchange/TakeOrdered shape at the test SFs); past it the edge
    is a co-keyed shuffle join, exactly like Q5's unhinted
    lineitem-orders edge (`q_local_supplier_volume`)."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    dd = dict(orders.dtypes)["o_orderdate"]
    orders = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast(dd))
    lineitem = load_table(spark, sf_dir, "lineitem")
    sd = dict(lineitem.dtypes)["l_shipdate"]
    lineitem = lineitem.filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast(sd)
    )
    building_orders = orders.join(
        F.broadcast(customer),
        orders.o_custkey == customer.c_custkey,
    )
    return (
        lineitem.join(
            building_orders,
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _sumd(
                _dec("l_extendedprice")
                * (F.lit(1).cast(DEC) - _dec("l_discount"))
            ).alias("revenue")
        )
        .select(
            F.col("l_orderkey").alias("orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
    )

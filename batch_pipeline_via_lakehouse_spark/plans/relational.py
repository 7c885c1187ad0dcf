"""Relational operator suite over the TPC-H-ish test tables.

Each query re-expresses one operator family from the reference inventory
(SURVEY.md §2 ids cited per query) as an idiomatic Catalyst-optimizable plan,
with a DuckDB oracle. These run at sf0.01 for the correctness gate and sf0.1
in the bench.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.merge import scd1_rewrite
from .registry import load, query


def _us(col) -> F.Column:
    """epoch-microseconds of a (possibly NTZ) timestamp column; session TZ is
    UTC so NTZ values are interpreted exactly like DuckDB's epoch_us."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.unix_micros(c.cast("timestamp"))

# --------------------------------------------------------------------------
# A-family: aggregations


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                  AS sum_qty,
           round(sum(l_extendedprice), 4)                             AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)          AS sum_disc_price,
           round(avg(l_quantity), 4)                                  AS avg_qty,
           round(avg(l_discount), 4)                                  AS avg_disc,
           count(*)                                                   AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg with map-side partial aggregation
    (A1/A3; filter pushed to parquet, P4)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "minmax_agg",
    oracle="""
    SELECT count(*) AS n_orders,
           epoch_us(min(o_orderdate)) AS min_date,
           epoch_us(max(o_orderdate)) AS max_date,
           round(min(o_totalprice), 4) AS min_price,
           round(max(o_totalprice), 4) AS max_price
    FROM orders
    """,
)
def minmax_agg(spark, sf_dir) -> DataFrame:
    """Global min/max/count (A1/A2 — the incremental-cursor agg,
    `src/elt/gold/dim_date.py:33-36`)."""
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        _us(F.min("o_orderdate")).alias("min_date"),
        _us(F.max("o_orderdate")).alias("max_date"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
    )


# --------------------------------------------------------------------------
# P-family: projection / filters


@query(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT) AS charge_c
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
      AND l_quantity > 25
    """,
)
def filter_project(spark, sf_dir) -> DataFrame:
    """Range + comparison predicates with computed projection (P1/P4;
    `src/elt/bronze/load_fact.py:78-108`). Both predicates reach the
    parquet scan as PushedFilters."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").between("1996-01-01", "1996-12-31") & (F.col("l_quantity") > 25)
    ).select(
        "l_orderkey",
        "l_linenumber",
        # floor-scaling instead of round: both engines evaluate the identical
        # IEEE expression, so floor is bit-stable where decimal rounding of
        # half-boundary doubles is not (Java shortest-repr vs binary rounding)
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100
        ).cast("long").alias("charge_c"),
    )


# --------------------------------------------------------------------------
# W-family: windows


@query(
    "topn_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             round(o_totalprice, 4) AS o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def topn_per_group(spark, sf_dir) -> DataFrame:
    """Top-N per group (W2; `src/elt/gold/fact_daily_ohlcv.py:46-57`).
    Catalyst pushes the rn<=3 limit into the window sort (WindowGroupLimit)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"), "rn")
    )


@query(
    "dedup_latest",
    oracle="""
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
           round(value, 4) AS value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_latest(spark, sf_dir) -> DataFrame:
    """Keep-latest dedup (W1; `src/elt/silver/_silver_handler.py:124-143`) —
    the MERGE source-prep pattern.

    Aggregate form of rn=1: max over struct(ts, event_id, value) compares
    lexicographically, so the group's max struct IS the row_number-1 row of
    the (ts DESC, event_id DESC) window (event_id is a unique tiebreak, so
    `value` never decides; a null ts orders below any non-null in both
    forms). Struct max plans as a SortAggregate with map-side PARTIAL
    aggregation: the shuffle carries one candidate row per group per
    partition (the window form shuffles every surviving row), and the
    map-side sort is by the two GROUP columns only, not the window's
    four-column (group, ts DESC, event_id DESC) ordering."""
    e = load(spark, sf_dir, "events")
    m = F.max(F.struct("ts", "event_id", "value")).alias("m")
    return (
        e.groupBy("user_id", "event_type")
        .agg(m)
        .select(
            "user_id", "event_type",
            F.col("m.event_id").alias("event_id"),
            _us(F.col("m.ts")).alias("ts_us"),
            F.round("m.value", 4).alias("value"),
        )
    )


@query(
    "forward_fill",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           round(last_value(pv IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled_value
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' THEN value END AS pv
      FROM events
    )
    """,
)
def forward_fill(spark, sf_dir) -> DataFrame:
    """Forward-fill last non-null (W3; growing-frame `last(ignorenulls=True)`
    exactly as `src/elt/silver/transform_daily_ohlcv.py:67-69`)."""
    e = load(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        _us("ts").alias("ts_us"),
        F.round(F.last(pv, ignorenulls=True).over(w), 4).alias("filled_value"),
    )


@query(
    "rolling_window",
    oracle="""
    SELECT event_id, user_id,
           round(lag(value) OVER w, 4)                                   AS prev_value,
           round(avg(value) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)  AS ma7,
           round(stddev_samp(value) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 4) AS vol20
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def rolling_window(spark, sf_dir) -> DataFrame:
    """Lag / moving average / rolling stddev (W5 Spark-window forms of the
    reference's pandas rolling at `src/elt/gold/fact_daily_ohlcv.py:112-136`)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.avg("value").over(w.rowsBetween(-6, 0)), 4).alias("ma7"),
        F.round(F.stddev_samp("value").over(w.rowsBetween(-19, 0)), 4).alias("vol20"),
    )


# --------------------------------------------------------------------------
# J-family: joins


@query(
    "join_enrich",
    oracle="""
    SELECT r.r_name AS region, count(*) AS n_customers,
           round(sum(c.c_acctbal), 4) AS total_acctbal
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_enrich(spark, sf_dir) -> DataFrame:
    """Dim-enrich left joins (J1; `src/elt/gold/dim_company.py:41-43`) —
    small dims explicitly broadcast."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "left")
        .join(r, n.n_regionkey == r.r_regionkey, "left")
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
        )
    )


@query(
    "left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def left_anti(spark, sf_dir) -> DataFrame:
    """Anti join (J3; `src/elt/silver/transform_company_shareholders.py:70`)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "semi_join",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    )
    """,
)
def semi_join(spark, sf_dir) -> DataFrame:
    """Left-semi 'keep only matching keys' (J2 done right — the reference
    used inner joins for this, `src/elt/gold/fact_daily_ohlcv.py:172`)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter("l_returnflag = 'R'")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select("o_orderkey", "o_custkey")


@query(
    "asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey,
           epoch_us(o.o_orderdate) AS last_orderdate
    FROM (SELECT * FROM events WHERE event_type = 'purchase') e
    LEFT JOIN LATERAL (
      SELECT o_orderkey, o_orderdate FROM orders o
      WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1
    ) o ON true
    """,
)
def asof_join(spark, sf_dir) -> DataFrame:
    """As-of join (J4; the reference's hardest query,
    `src/elt/gold/fact_share_issue.py:63-72`): non-equi join picks order
    candidates at-or-before each purchase event, then a grouped max(struct)
    keeps the nearest. The aggregate (not a row_number window) matters at
    scale: partial aggregation collapses each event's candidates map-side
    before the shuffle, where the window form would shuffle + sort every
    candidate row."""
    e = load(spark, sf_dir, "events").filter("event_type = 'purchase'").alias("e")
    o = load(spark, sf_dir, "orders").alias("o")
    joined = e.join(
        o, (F.col("e.user_id") == F.col("o.o_custkey")) & (F.col("o.o_orderdate") <= F.col("e.ts")), "left"
    )
    # struct compares lexicographically -> (latest orderdate, largest key);
    # a no-match event contributes one struct(null, null) row, so its fields
    # surface as NULLs exactly like the LATERAL oracle's left join
    best = F.max(
        F.struct(F.col("o.o_orderdate").alias("d"), F.col("o.o_orderkey").alias("k"))
    ).alias("m")
    return (
        joined.groupBy(
            F.col("e.event_id").alias("event_id"), F.col("e.user_id").alias("user_id")
        )
        .agg(best)
        .select(
            "event_id",
            "user_id",
            F.col("m.k").alias("last_orderkey"),
            _us(F.col("m.d")).alias("last_orderdate"),
        )
    )


@query(
    "union_dedup",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice, src FROM (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src) AS rn FROM (
        SELECT o_orderkey, o_totalprice, 1 AS src FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_orderkey, o_totalprice, 2 AS src FROM orders WHERE o_totalprice > 100000
      )
    ) WHERE rn = 1
    """,
)
def union_dedup(spark, sf_dir) -> DataFrame:
    """Union + window dedup (J7/U1; `src/elt/gold/fact_daily_ohlcv.py:167-172`)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter("o_orderstatus = 'F'").select("o_orderkey", "o_totalprice", F.lit(1).alias("src"))
    b = o.filter("o_totalprice > 100000").select("o_orderkey", "o_totalprice", F.lit(2).alias("src"))
    w = Window.partitionBy("o_orderkey").orderBy("src")
    return (
        a.unionByName(b)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"), "src")
    )


# --------------------------------------------------------------------------
# F-family: scalar functions


@query(
    "map_fill",
    oracle="""
    SELECT event_id,
           CASE event_type
             WHEN 'click' THEN 'Click Event' WHEN 'view' THEN 'View Event'
             WHEN 'purchase' THEN 'Purchase Event' WHEN 'signup' THEN 'Signup Event'
             ELSE printf('UNKNOWN_%s', event_type) END AS event_name
    FROM events
    """,
)
def map_fill(spark, sf_dir) -> DataFrame:
    """Literal-map lookup with template fallback (F5 create_map+getItem at
    `src/elt/silver/_silver_handler.py:100-110`; F6 format_string at
    `:111-119`)."""
    e = load(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("click"), F.lit("Click Event"),
        F.lit("view"), F.lit("View Event"),
        F.lit("purchase"), F.lit("Purchase Event"),
        F.lit("signup"), F.lit("Signup Event"),
    )
    return e.select(
        "event_id",
        F.coalesce(m.getItem(F.col("event_type")), F.format_string("UNKNOWN_%s", "event_type")).alias("event_name"),
    )


@query(
    "ratio_clamp",
    oracle="""
    SELECT p_partkey,
           round(CASE
             WHEN margin >= 0 THEN least(greatest(margin, 0.05), 2.0)
             ELSE greatest(least(margin, -0.05), -2.0)
           END, 4) AS margin_clamped,
           round(CASE WHEN ret < 0 AND npm > 0 THEN -npm ELSE npm END, 4) AS npm_signed
    FROM (
      SELECT p_partkey,
             p_retailprice / nullif(p_size * 10.0, 0) AS margin,
             p_retailprice / 1000.0 - 1.0 AS ret,
             p_size / 100.0 AS npm
      FROM part
    )
    """,
)
def ratio_clamp(spark, sf_dir) -> DataFrame:
    """Arithmetic ratios + symmetric clamp + sign-fix (F13/F14/F15;
    `src/elt/gold/fact_quarterly_ratio.py:39-141`)."""
    p = load(spark, sf_dir, "part")
    margin = F.col("p_retailprice") / F.nullif(F.col("p_size") * 10.0, F.lit(0))
    ret = F.col("p_retailprice") / 1000.0 - 1.0
    npm = F.col("p_size") / 100.0
    clamped = F.when(
        margin >= 0, F.least(F.greatest(margin, F.lit(0.05)), F.lit(2.0))
    ).otherwise(F.greatest(F.least(margin, F.lit(-0.05)), F.lit(-2.0)))
    signed = F.when((ret < 0) & (npm > 0), -npm).otherwise(npm)
    return p.select(
        "p_partkey",
        F.round(clamped, 4).alias("margin_clamped"),
        F.round(signed, 4).alias("npm_signed"),
    )


@query(
    "surrogate_key",
    oracle="""
    SELECT o_orderkey,
           sha256(concat(CAST(o_orderkey AS VARCHAR), '|', CAST(o_custkey AS VARCHAR))) AS sk
    FROM orders
    """,
)
def surrogate_key(spark, sf_dir) -> DataFrame:
    """Hash surrogate key from business keys (F8;
    `src/elt/gold/_gold_handler.py:72-88`)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.sha2(
            F.concat(F.col("o_orderkey").cast("string"), F.lit("|"), F.col("o_custkey").cast("string")), 256
        ).alias("sk"),
    )


@query(
    "quarter_end",
    oracle="""
    SELECT DISTINCT
           year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
           strftime(CAST(concat(year(o_orderdate), '-',
             CASE quarter(o_orderdate) WHEN 1 THEN '03-31' WHEN 2 THEN '06-30'
                                       WHEN 3 THEN '09-30' ELSE '12-31' END) AS DATE),
             '%Y-%m-%d') AS quarter_end
    FROM orders
    """,
)
def quarter_end(spark, sf_dir) -> DataFrame:
    """(year, quarter) -> quarter-end date synthesis (F9;
    `src/elt/gold/_gold_handler.py:91-108`)."""
    o = load(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    qtr = F.quarter("o_orderdate")
    qe = F.to_date(
        F.concat(
            yr.cast("string"),
            F.lit("-"),
            F.when(qtr == 1, "03-31").when(qtr == 2, "06-30").when(qtr == 3, "09-30").otherwise("12-31"),
        ),
        "yyyy-MM-dd",
    )
    return o.select(
        yr.alias("yr"), qtr.alias("qtr"), F.date_format(qe, "yyyy-MM-dd").alias("quarter_end")
    ).distinct()


@query(
    "date_spine",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('month', min(o_orderdate)) AS lo, max(o_orderdate) AS hi FROM orders
    )
    SELECT strftime(d, '%Y-%m-%d') AS date_str,
           year(d) AS yr, quarter(d) AS qtr, month(d) AS mo,
           isodow(d) - 1 AS dow,
           CASE WHEN isodow(d) >= 6 THEN true ELSE false END AS is_weekend
    FROM (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds
    )
    """,
)
def date_spine(spark, sf_dir) -> DataFrame:
    """Date-spine generation via sequence+explode (F10/F11/F12;
    `src/elt/gold/dim_date.py:33-66`) — the reference's only array op."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.trunc(F.min("o_orderdate").cast("date"), "month").alias("lo"),
        F.max("o_orderdate").cast("date").alias("hi"),
    )
    d = F.col("d")
    return bounds.select(F.explode(F.sequence("lo", "hi")).alias("d")).select(
        F.date_format(d, "yyyy-MM-dd").alias("date_str"),
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mo"),
        F.weekday(d).alias("dow"),
        (F.weekday(d) >= 5).alias("is_weekend"),
    )


# --------------------------------------------------------------------------
# MERGE semantics as a pure query (J5/J6) — the engine operator's rewrite,
# oracled in SQL.


@query(
    "merge_upsert",
    oracle="""
    WITH source AS (
      SELECT o_orderkey, o_custkey, round(o_totalprice * 1.1, 4) AS o_totalprice,
             'P' AS o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    target AS (
      SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice, o_orderstatus
      FROM orders
    )
    SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           coalesce(t.o_custkey, s.o_custkey)   AS o_custkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus
    FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    """,
)
def merge_upsert(spark, sf_dir) -> DataFrame:
    """SCD1 MERGE classification (J5; `src/elt/silver/_silver_handler.py:195-224`)
    run through the engine's own copy-on-write rewrite
    (`operators/merge.py:scd1_rewrite`)."""
    o = load(spark, sf_dir, "orders")
    target = o.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice"), "o_orderstatus"
    )
    source = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
            F.lit("P").alias("o_orderstatus"),
        )
    )
    return scd1_rewrite(
        target, source, ["o_orderkey"], ["o_custkey", "o_totalprice", "o_orderstatus"]
    )


@query(
    "silver_clean",
    oracle="""
    SELECT event_id, user_id, trim(event_type) AS event_type,
           round(CASE WHEN value <= 0 THEN NULL ELSE value END, 4) AS value,
           coalesce(props, printf('UNKNOWN_%d', user_id)) AS props
    FROM events
    WHERE user_id IS NOT NULL
    """,
)
def silver_clean(spark, sf_dir) -> DataFrame:
    """The silver cleaning chain (P3/F2/F3/F4/F6 composed exactly like
    `src/elt/silver/_silver_pipeline.py:48-76`): trim -> nullify
    non-positive -> dropna(subset) -> template-fill nulls."""
    e = load(spark, sf_dir, "events")
    return (
        e.withColumn("event_type", F.trim("event_type"))
        .withColumn("value", F.when(F.col("value") <= 0, F.lit(None)).otherwise(F.col("value")))
        .dropna(subset=["user_id"])
        .withColumn("props", F.coalesce(F.col("props"), F.format_string("UNKNOWN_%d", "user_id")))
        .select(
            "event_id", "user_id", "event_type", F.round("value", 4).alias("value"), "props"
        )
    )


@query(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           epoch_us(o.o_orderdate) AS orderdate_us
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark, sf_dir) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join chain -> agg ->
    top-k. The customer filter broadcasts; both date predicates push into the
    parquet scans; the LIMIT becomes TakeOrderedAndProject."""
    c = load(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", _us("o_orderdate").alias("orderdate_us"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "region_volume",
    oracle="""
    SELECT r.r_name AS region,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def region_volume(spark, sf_dir) -> DataFrame:
    """TPC-H Q5 shape: fact -> snowflake dim chain, every dim broadcast
    (supplier/nation/region are tiny at any SF relative to lineitem)."""
    li = load(spark, sf_dir, "lineitem")
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )

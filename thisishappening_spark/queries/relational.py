"""Relational-core correctness queries (scans, joins, aggregations,
windows, set ops, temporal/JSON) — see registry.py for the cross-engine
determinism rules every entry follows.

Operator IDs in docstrings refer to SURVEY.md §2 (the reference inventory,
reference files cited there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thisishappening_spark.registry import dsum, isum, qsum, query, units
from thisishappening_spark.sources.tables import load_table

# Shared revenue term in 10^-4 units: cents of price × cents of
# (1 - discount), an exact BIGINT product (registry rule 1). The oracles
# keep the DECIMAL(18,2) × DECIMAL(18,2) form.
_REVENUE = f"{units('l_extendedprice', 2)} * {units('1 - l_discount', 2)}"


# ---------------------------------------------------------------------------
# Relational core: scans, filters, aggregation (SURVEY §2.2 Q1/Q2, §2.4 A1)
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_disc_price,
           CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))
                * CAST(1 + l_tax AS DECIMAL(18,2)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + hash aggregate (A1 generalization).

    Scale notes: single scan, map-side partial aggregation on a tiny key
    space (|returnflag × linestatus| ≤ 9) → the shuffle moves only partial
    aggregates, not rows. Filter and 7-column projection push to parquet.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Charge is scale 6.
    charge = f"{_REVENUE} * {units('1 + l_tax', 2)}"

    return (
        li.filter("l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"{dsum('l_quantity')} AS sum_qty"),
            F.expr(f"{dsum('l_extendedprice')} AS sum_base_price"),
            F.expr(f"{isum(_REVENUE, 4)} AS sum_disc_price"),
            F.expr(f"{isum(charge, 6)} AS sum_charge"),
            F.expr(f"{dsum('l_quantity')} / count(1) AS avg_qty"),
            F.expr(f"{dsum('l_extendedprice')} / count(1) AS avg_price"),
            F.expr(f"{dsum('l_discount')} / count(1) AS avg_disc"),
            F.expr("count(1) AS count_order"),
        )
    )


@query(
    "q03_top_revenue_orders",
    """
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l.l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-k (O1/O3).

    Scale notes: customer filter applies before the join (Catalyst pushes
    it); orders⋈lineitem is the big shuffle join on orderkey — co-located
    if both tables are bucketed by orderkey in a real deployment. Top-k is
    TakeOrderedAndProject: per-partition heap, no global sort.
    """
    c = load_table(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    o = load_table(spark, sf_dir, "orders").filter(
        "o_orderdate < TIMESTAMP '1998-03-15 00:00:00'"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        "l_shipdate > TIMESTAMP '1998-03-15 00:00:00'"
    )
    return (
        c.join(o, F.expr("c_custkey = o_custkey"))
        .join(li, F.expr("l_orderkey = o_orderkey"))
        .groupBy("o_orderkey", F.expr("CAST(o_orderdate AS DATE) AS orderdate"))
        .agg(F.expr(f"{isum(_REVENUE, 4)} AS revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q05_nation_revenue",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l.l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q05_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (SURVEY §2.3).

    Scale notes: Spark broadcasts region/nation/supplier by size, so the
    only shuffle joins are the fact-fact ones; final groupBy key space is
    ≤|nation| so the agg shuffle is trivial.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    return (
        c.join(o, F.expr("c_custkey = o_custkey"))
        .join(li, F.expr("l_orderkey = o_orderkey"))
        .join(s, F.expr("l_suppkey = s_suppkey AND c_nationkey = s_nationkey"))
        .join(n, F.expr("s_nationkey = n_nationkey"))
        .join(r, F.expr("n_regionkey = r_regionkey"))
        .groupBy("n_name")
        .agg(F.expr(f"{isum(_REVENUE, 4)} AS revenue"))
    )


@query(
    "q_semi_join_bigticket",
    """
    SELECT o.o_orderstatus, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    GROUP BY o.o_orderstatus
    """,
)
def q_semi_join_bigticket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (J4-style evidence lookup, SURVEY §2.3)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter("l_quantity >= 49")
    return (
        o.join(li, F.expr("o_orderkey = l_orderkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.expr("count(1) AS n_orders"))
    )


@query(
    "q_anti_join_dormant_customers",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_mktsegment
    """,
)
def q_anti_join_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (Q12 ID-list-delete complement, SURVEY §2.2)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        "o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'"
    )
    return (
        c.join(o, F.expr("c_custkey = o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.expr("count(1) AS n_customers"))
    )


@query(
    "q_event_type_stats",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2-style count/min/max/sum + count-distinct over the stream table."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("count(1) AS n_events"),
        F.expr("count(DISTINCT user_id) AS n_users"),
        F.expr("min(value) AS min_value"),
        F.expr("max(value) AS max_value"),
        F.expr(f"{dsum('value')} AS sum_value"),
    )


@query(
    "q_setop_click_not_purchase",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def q_setop_click_not_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (SURVEY §2.7): EXCEPT DISTINCT."""
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter("event_type = 'click'").select("user_id")
    buyers = ev.filter("event_type = 'purchase'").select("user_id")
    return clickers.subtract(buyers)  # EXCEPT DISTINCT semantics


@query(
    "q_rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set aggregation (engine surface beyond reference, SURVEY §2.4).

    No fan-out: a round-robin exchange of lineitem ahead of the Expand
    measured slower (0.99 → 1.19 s).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.expr(f"{dsum('l_extendedprice')} AS sum_price"),
        F.expr("count(1) AS n_rows"),
    )


# ---------------------------------------------------------------------------
# Windows / ordered computation (SURVEY §2.5 W1-W4, §2.6 O1-O4)
# ---------------------------------------------------------------------------


@query(
    "q_window_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rnk
    FROM (SELECT o_custkey, o_orderkey,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders) t
    WHERE rnk <= 3 AND o_custkey < 100
    """,
)
def q_window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number (O4 keep-N-rows pattern, data_base.py:464-482)."""
    o = load_table(spark, sf_dir, "orders")
    return o.selectExpr(
        "o_custkey",
        "o_orderkey",
        "row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) AS rnk",
    ).filter("rnk <= 3 AND o_custkey < 100")


@query(
    "q_window_lag_value_delta",
    """
    SELECT user_id,
           CAST(SUM(CAST(delta AS DECIMAL(18,2))) AS DOUBLE) AS sum_abs_delta,
           COUNT(*) AS n_deltas
    FROM (SELECT user_id,
                 ABS(value - LAG(value) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)) AS delta
          FROM events) t
    WHERE delta IS NOT NULL AND user_id < 30
    GROUP BY user_id
    """,
)
def q_window_lag_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() window — the J3 current-vs-previous-window comparison pattern."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.selectExpr(
            "user_id",
            "abs(value - lag(value) OVER (PARTITION BY user_id "
            "ORDER BY ts_ns, event_id)) AS delta",
        )
        .filter("delta IS NOT NULL AND user_id < 30")
        .groupBy("user_id")
        .agg(
            F.expr(f"{dsum('delta')} AS sum_abs_delta"),
            F.expr("count(1) AS n_deltas"),
        )
    )


@query(
    "q_decay_weights",
    """
    SELECT user_id,
           ROUND(CAST(SUM(CAST(EXP(-(rn - 1) * 0.5) AS DECIMAL(28,15))) AS DOUBLE), 6)
               AS total_weight,
           COUNT(*) AS n_events
    FROM (SELECT user_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) t
    GROUP BY user_id
    """,
)
def q_decay_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 exponential activity decay (reference data_utils.py:129-138),
    implemented by functions.weights.with_activity_weight.

    weight_i = exp(-i·factor), i = rank of the row within its user ordered
    by time — expressed as a window row_number, entirely JVM-side.
    Each exp term is quantized to 10^-15 units before summing so the sum
    is order-independent (Spark partial-agg order differs from DuckDB's);
    the final ROUND(...,6) absorbs last-ulp libm differences between
    engines.
    """
    from thisishappening_spark.functions.weights import with_activity_weight

    ev = load_table(spark, sf_dir, "events")
    weighted = with_activity_weight(
        ev,
        weight_factor_user=0.5,
        user_col="user_id",
        time_col="ts_ns",
        order_cols=("event_id",),
    )
    return weighted.groupBy("user_id").agg(
        F.expr(f"{qsum('weight')} AS total_weight"),
        F.expr("count(1) AS n_events"),
    )


@query(
    "q_keep_newest_n",
    """
    SELECT event_id FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 100
    """,
)
def q_keep_newest_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 keep-newest-N retention (reference data_base.py:464-482): the keep set."""
    ev = load_table(spark, sf_dir, "events")
    return ev.orderBy(F.desc("ts_ns"), F.desc("event_id")).select("event_id").limit(100)


@query(
    "q_topk_events_by_value",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
    FROM events ORDER BY value DESC, event_id LIMIT 5
    """,
)
def q_topk_events_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic top-k (O1-O3)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("value"), F.asc("event_id"))
        .select("event_id", "user_id", "event_type", "value")
        .limit(5)
    )


@query(
    "q_mode_event_type_per_user",
    """
    SELECT user_id, event_type AS top_type, c AS n
    FROM (SELECT user_id, event_type, COUNT(*) AS c,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY COUNT(*) DESC, event_type) AS rnk
          FROM events GROUP BY user_id, event_type) t
    WHERE rnk = 1 AND user_id < 25
    """,
)
def q_mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 mode/most-common (reference get_place_name tweet_utils.py:564-583).

    Deterministic tie-break (count desc, value asc) instead of engine-varying
    `mode()` so the oracle compare is stable.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.expr("count(1) AS c"))
    return (
        counts.selectExpr(
            "user_id",
            "event_type",
            "c",
            "row_number() OVER (PARTITION BY user_id "
            "ORDER BY c DESC, event_type) AS rnk",
        )
        .filter("rnk = 1 AND user_id < 25")
        .selectExpr("user_id", "event_type AS top_type", "c AS n")
    )


@query(
    "q_collect_sorted_ids",
    """
    SELECT user_id, STRING_AGG(CAST(event_id AS VARCHAR), ',' ORDER BY event_id DESC) AS ids
    FROM events WHERE event_type = 'signup'
    GROUP BY user_id
    """,
)
def q_collect_sorted_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/O6 collect_list + sort desc (reference get_status_ids tweet_utils.py:586-594,
    sort at :718)."""
    ev = load_table(spark, sf_dir, "events").filter("event_type = 'signup'")
    return ev.groupBy("user_id").agg(
        F.expr(
            "concat_ws(',', CAST(sort_array(collect_list(event_id), false) "
            "AS ARRAY<STRING>)) AS ids"
        )
    )


# ---------------------------------------------------------------------------
# Temporal / JSON / retention (SURVEY §2.2 Q1/Q10/Q11, §2.8 F1/F23, S4)
# ---------------------------------------------------------------------------


@query(
    "q_time_bucket_hourly",
    """
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY 1
    """,
)
def q_time_bucket_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 sliding-time-range filter + tumbling bucket aggregation (ST2 windows).

    The reference computes windows with `created_at BETWEEN ts-1h AND ts`
    (data_base.py:334-342); bucketed date_trunc is the batch/streaming
    generalization that scales (partition prune on ts, 1 shuffle on bucket).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            "ts >= TIMESTAMP '2024-01-10 00:00:00' "
            "AND ts < TIMESTAMP '2024-01-12 00:00:00'"
        )
        .groupBy(F.expr("date_trunc('hour', ts) AS hour_bucket"))
        .agg(
            F.expr("count(1) AS n_events"),
            F.expr(f"{dsum('value')} AS sum_value"),
        )
    )


@query(
    "q_sliding_window_counts",
    """
    SELECT t.anchor, COUNT(e.event_id) AS n_last_24h
    FROM (SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS anchor FROM events GROUP BY 1) t
    LEFT JOIN events e
      ON e.ts > t.anchor - INTERVAL 24 HOURS AND e.ts <= t.anchor
    GROUP BY t.anchor
    """,
)
def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 exact semantics: anchored sliding window `(anchor-24h, anchor]`
    (reference count_tweets data_base.py:276-305), one count per anchor.

    Plan: anchors are day-truncated and the window is exactly 24 h, so
    each event counts toward exactly ONE anchor, the next day boundary at
    or after its timestamp. Each event becomes two rows, its own day
    (which makes that day an anchor) and the anchor it counts toward; one
    groupBy(anchor) keeps the days with an own row. Events are scanned
    once, with no join (a nested-loop anchors × events join would
    multiply the scan at 100 TB), and only day-level partials shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    day = "date_trunc('day', ts)"
    # (anchor-24h, anchor]: an event at exactly midnight belongs to its own
    # day-start anchor (closed upper bound); all others to the next one. A
    # NULL ts counts toward no anchor (the oracle's join condition is NULL),
    # but its NULL day is still an anchor with count 0.
    contrib = f"CASE WHEN ts = {day} THEN {day} ELSE {day} + INTERVAL 24 HOURS END"
    return (
        ev.selectExpr(
            f"inline(array(struct({day} AS anchor, true AS own, CAST(NULL AS BIGINT) AS e), "
            f"struct({contrib} AS anchor, false AS own, IF(ts IS NULL, NULL, event_id) AS e)))"
        )
        .groupBy("anchor")
        .agg(F.expr("count(e) AS n_last_24h"), F.expr("bool_or(own) AS own"))
        .filter("own")
        .select("anchor", "n_last_24h")
    )


@query(
    "q_json_props_sum",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def q_json_props_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 JSON projection: typed `from_json` extraction, not per-row string
    probing (reference parses nested status dicts, tweet_utils.py:137-178).

    Oracle note: DuckDB widens SUM(BIGINT) to HUGEINT; the outer CAST pins
    both engines to int64 so the driver's type-sensitive value-hash matches.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.expr("sum(from_json(props, 'k BIGINT').k) AS sum_k"))


@query(
    "q_retention_cutoff",
    """
    SELECT event_type, COUNT(*) AS n_expired
    FROM events
    WHERE ts < (SELECT MAX(ts) FROM events) - INTERVAL 7 DAYS
    GROUP BY event_type
    """,
)
def q_retention_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 delete-older-than retention predicate (reference
    data_base.py:430-462) — the would-be-deleted set. The cutoff is a cross
    join with a one-row aggregate: a ``.scalar()`` value compiles into the
    generated Java like a literal, so every new ``max(ts)`` would compile
    again, and ``max(ts) OVER ()`` puts every row in one partition."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(F.expr("max(ts) - INTERVAL 7 DAYS AS cutoff"))
    return (
        ev.join(cutoff)
        .filter("ts < cutoff")
        .groupBy("event_type")
        .agg(F.expr("count(1) AS n_expired"))
    )


@query(
    "q_local_day",
    """
    SELECT CAST(ts - INTERVAL 5 HOURS AS DATE) AS local_day, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def q_local_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11/F23 UTC→local calendar-day filter (reference app.py:489-506).

    Fixed −5h offset (the reference's America/New_York winter offset) keeps
    the oracle engine-independent; a zone-aware (DST-correct) variant would
    use from_utc_timestamp.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.expr("CAST(ts - INTERVAL 5 HOURS AS DATE) AS local_day")).agg(
        F.expr("count(1) AS n")
    )

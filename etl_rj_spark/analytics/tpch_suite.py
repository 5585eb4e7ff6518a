"""Extended analytics coverage: TPC-H-shaped multi-join queries (the
big-big shuffle-join patterns the reference's star schema implies at
warehouse scale), semi/anti subquery forms, rollup, set ops, and the
remaining scalar-kernel citations.

These are the bench workhorses: orders⋈lineitem is a genuine big-big
join (sort-merge at scale, broadcast under AQE when one side shrinks
after filters), exercised alongside broadcast dim joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_rj_spark.analytics.suite import _msum, _q, _t
from etl_rj_spark.functions import norm_upper, recode_values
from etl_rj_spark.operators.aggregates import money_sum
from etl_rj_spark.operators.joins import dim_lookup
from etl_rj_spark.streaming.sketches import HLL_MERGE_TOL, HLL_REL_TOL


@_q(
    "revenue_by_nation",
    f"""
    SELECT n_name AS nation, {_msum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name ORDER BY revenue DESC
    """,
    bench=True,
    tags=("J1", "A3", "tpch-q5"),
)
def revenue_by_nation(spark, sf_dir):
    """TPC-H-Q5-shaped: local-supplier revenue per nation in one
    region. orders⋈lineitem is the big-big join; every dim broadcasts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"))
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


@_q(
    "top_unshipped_revenue",
    f"""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS fecha, o_orderpriority,
           {_msum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY o_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
    bench=True,
    tags=("J1", "A3", "O1", "O2", "tpch-q3"),
)
def top_unshipped_revenue(spark, sf_dir):
    """TPC-H-Q3-shaped: top revenue among orders not yet shipped at a
    cutoff — filters push into all three scans before the joins."""
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    j = c.join(o, c.c_custkey == o.o_custkey).join(li, li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy(
            "o_orderkey", F.to_date("o_orderdate").alias("fecha"), "o_orderpriority"
        )
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@_q(
    "late_order_priority_counts",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY 1 ORDER BY 1
    """,
    tags=("J-semi", "A3", "tpch-q4"),
)
def late_order_priority_counts(spark, sf_dir):
    """TPC-H-Q4-shaped: EXISTS correlated subquery → left_semi join
    (orders with any lineitem shipped >90 days after order date)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(
        o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
    semi = o.join(late.select(F.col("l_orderkey")), o.o_orderkey == F.col("l_orderkey"), "left_semi")
    return (
        semi.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders")).orderBy("o_orderpriority")
    )


@_q(
    "supplier_part_distincts",
    """
    SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
    """,
    tags=("A3", "distinct-agg"),
)
def supplier_part_distincts(spark, sf_dir):
    """Distinct aggregates per group (expand + two-phase agg plan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("l_suppkey")
    )


@_q(
    "rollup_flag_status",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {_msum('l_quantity', 'sum_qty')}
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- Spark's rollup over an EMPTY relation emits 0 rows, while ANSI
    -- GROUP BY () emits the grand-total row; every real rollup row
    -- has n > 0, so this HAVING only bites on empty input (r10 sweep)
    HAVING COUNT(*) > 0
    """,
    tags=("A3", "rollup"),
)
def rollup_flag_status(spark, sf_dir):
    """ROLLUP hierarchy totals (subtotal + grand-total rows with null
    group keys, identical in both engines)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), money_sum("l_quantity").alias("sum_qty")
    )


@_q(
    "set_ops_customers",
    """
    SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
    """,
    tags=("setops",),
)
def set_ops_customers(spark, sf_dir):
    """EXCEPT (distinct) set difference."""
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey")
    b = c.filter(F.col("c_custkey") % 3 == 0).select("c_custkey")
    return a.subtract(b)


@_q(
    "intersect_customers",
    """
    SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
    """,
    tags=("setops",),
)
def intersect_customers(spark, sf_dir):
    """INTERSECT (distinct)."""
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey")
    b = c.filter(F.col("c_custkey") % 3 == 0).select("c_custkey")
    return a.intersect(b)


@_q(
    "count_rows",
    "SELECT COUNT(*) AS n_rows FROM lineitem",
    tags=("A2",),
)
def count_rows(spark, sf_dir):
    """A2 — row-count progress metric (len(df), ventas_totales.py:215)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@_q(
    "zscore_events_by_type",
    """
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(ROUND(value*100) AS BIGINT)) AS sc,
             SUM(CAST(ROUND(value*100) AS BIGINT) * CAST(ROUND(value*100) AS BIGINT)) AS sq
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN ((sq/10000.0)/n - ((sc/100.0)/n)*((sc/100.0)/n)) > 0
                THEN (e.value - (sc/100.0)/n)
                     / sqrt((sq/10000.0)/n - ((sc/100.0)/n)*((sc/100.0)/n))
                ELSE 0.0 END AS zscore
    FROM events e JOIN s USING (event_type)
    """,
    tags=("grouped-pandas-udf",),
)
def zscore_events_by_type(spark, sf_dir):
    """Per-group z-score via Arrow grouped-map applyInPandas (UDF1's
    modern form) — mean/variance from exact integer-cents sums inside
    the UDF, so the Python path is bit-reproducible by the SQL oracle."""
    from etl_rj_spark.operators.grouped_pandas import zscore_by_group

    # complete-case: NULL event_type is not a normalization group (the
    # oracle's inner join drops it; r10 nullmix parity)
    e = (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .where(F.col("event_type").isNotNull())
    )
    return zscore_by_group(e, ["event_type"], "value")


@_q(
    "profile_lineitem",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS l_quantity_nulls,
           COUNT(DISTINCT l_quantity) AS l_quantity_distinct,
           CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS l_extendedprice_nulls,
           COUNT(DISTINCT l_extendedprice) AS l_extendedprice_distinct,
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS l_returnflag_nulls,
           COUNT(DISTINCT l_returnflag) AS l_returnflag_distinct,
           MIN(l_quantity) AS l_quantity_min, MAX(l_quantity) AS l_quantity_max,
           MIN(l_extendedprice) AS l_extendedprice_min,
           MAX(l_extendedprice) AS l_extendedprice_max
    FROM lineitem
    """,
    tags=("profiling", "A2"),
)
def profile_lineitem(spark, sf_dir):
    """Single-pass column profiling (nulls/distincts/ranges) — the
    reference's operational diagnostics as one aggregation."""
    from etl_rj_spark.operators.profiling import profile_columns

    li = _t(spark, sf_dir, "lineitem")
    return profile_columns(
        li, numeric_cols=["l_quantity", "l_extendedprice"], string_cols=["l_returnflag"]
    )


@_q(
    "merge_upsert_orders",
    """
    WITH updates AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             (CAST(ROUND(o_totalprice*100) AS BIGINT) + 100) / CAST(100 AS DOUBLE)
               AS o_totalprice,
             o_orderdate, o_orderpriority, 2 AS version
      FROM orders WHERE o_orderkey % 5 = 0
    ), existing AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, 1 AS version
      FROM orders
    ), unioned AS (
      SELECT * FROM existing UNION ALL SELECT * FROM updates
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority, version,
           row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
    FROM unioned QUALIFY rn = 1
    """,
    tags=("merge-upsert", "scd"),
)
def merge_upsert_orders(spark, sf_dir):
    """MERGE INTO emulation (no Delta): existing ∪ updates, latest
    version per key wins — every 5th order gets a +$1 repriced update,
    the rest pass through."""
    from etl_rj_spark.operators.scd import merge_upsert

    o = _t(spark, sf_dir, "orders")
    existing = o.withColumn("version", F.lit(1))
    updates = (
        o.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn(
            "o_totalprice",
            (F.round(F.col("o_totalprice") * 100).cast("long") + 100)
            / F.lit(100).cast("double"),
        )
        .withColumn("version", F.lit(2))
    )
    merged = merge_upsert(existing, updates, ["o_orderkey"], ["version"])
    # expose rn=1 to mirror the oracle's QUALIFY projection
    return merged.withColumn("rn", F.lit(1))


@_q(
    "quantile_stats",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.9) AS p90,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    tags=("A3", "quantile"),
)
def quantile_stats(spark, sf_dir):
    """Exact interpolated percentiles per group — Spark's percentile()
    and DuckDB's quantile_cont use the same linear interpolation, so
    even these float results compare bit-exactly."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", 0.25).alias("p25"),
            F.percentile("l_extendedprice", 0.5).alias("p50"),
            F.percentile("l_extendedprice", 0.9).alias("p90"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "histogram_totalprice",
    """
    SELECT CAST(LEAST(FLOOR(o_totalprice / 25000), 19) AS BIGINT) AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    tags=("profiling", "histogram"),
)
def histogram_totalprice(spark, sf_dir):
    """Fixed-width value histogram (20 × $25k buckets, top-clamped) —
    the distribution half of profiling, one aggregation."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 25000), F.lit(19)).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n")).orderBy("bucket")


@_q(
    "upper_trim_recode_kernel",
    """
    SELECT s_suppkey, upper(trim('  ' || s_name || ' ')) AS nombre_norm,
           CASE upper(trim('  ' || s_name || ' '))
             WHEN 'SUPPLIER_0' THEN 'PRIMARY' ELSE 'OTHER' END AS clase
    FROM supplier
    """,
    tags=("X2", "X5"),
)
def upper_trim_recode_kernel(spark, sf_dir):
    """X2 — uppercase+trim normalization (wor2.py:329) + value recode."""
    s = _t(spark, sf_dir, "supplier")
    dirty = F.concat(F.lit("  "), F.col("s_name"), F.lit(" "))
    normed = norm_upper(dirty)
    return s.select(
        "s_suppkey",
        normed.alias("nombre_norm"),
        recode_values(normed, {"SUPPLIER_0": "PRIMARY"}, default=F.lit("OTHER")).alias("clase"),
    )


@_q(
    "cube_flag_status",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {_msum('l_quantity', 'sum_qty')}
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    -- empty-input parity: Spark's cube emits 0 rows, ANSI emits the
    -- grand total; only the empty-input row has n = 0 (r10 sweep)
    HAVING COUNT(*) > 0
    """,
    tags=("A3", "cube"),
)
def cube_flag_status(spark, sf_dir):
    """CUBE over both grouping dimensions — all 4 grouping sets
    (detail, per-flag, per-status, grand total) in one pass; null
    group-key encoding is identical in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), money_sum("l_quantity").alias("sum_qty")
    )


@_q(
    "approx_distinct_stats",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           1 AS approx_orders_ok, 1 AS approx_parts_ok, 1 AS approx_median_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("approx-sketch", "bench-scale"),
)
def approx_distinct_stats(spark, sf_dir):
    """Sketch-based profiling for the 100 TB path: HyperLogLog++
    distinct counts and a bounded-memory approximate median — constant
    state per group instead of an exact-distinct shuffle of every key.

    Raw sketch estimates are engine-specific, so the driver-visible
    contract is the bounded-error ASSERTION, not the estimate: each
    ``*_ok`` flag is 1 iff Spark's sketch lands within its documented
    bound of the exact value computed in the same query (3×rsd for
    HLL++, 1 % for the approximate median), and the oracle pins the
    flags to literal 1 alongside the exact counts. tests/test_scale_ops
    additionally bounds the raw estimates."""
    li = _t(spark, sf_dir, "lineitem")
    ok = lambda approx, exact, tol: (  # noqa: E731
        (F.abs(approx - exact) <= tol * exact).cast("int")
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("__ao"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("__ap"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("__am"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("__em"),
    )
    return agg.select(
        "l_returnflag", "n", "exact_orders", "exact_parts",
        ok(F.col("__ao"), F.col("exact_orders"), 0.06).alias("approx_orders_ok"),
        ok(F.col("__ap"), F.col("exact_parts"), 0.06).alias("approx_parts_ok"),
        # a group whose every value is NULL has no median — the bound
        # is VACUOUS for it, not violated (r10 nullmix parity)
        F.when(F.col("__em").isNull(), F.lit(1))
        .otherwise(ok(F.col("__am"), F.col("__em"), 0.01))
        .alias("approx_median_ok"),
    ).orderBy("l_returnflag")


@_q(
    "hll_sketch_rollup",
    """
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS exact_users,
           1 AS merge_consistent, 1 AS estimate_ok
    FROM events
    -- complete-case: a NULL event_type is not a category (the NULL
    -- group's flags are undefined — no sketch of no items); mirrors
    -- the engine filter (r10 nullmix parity)
    WHERE event_type IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("approx-sketch", "mergeable", "incremental"),
)
def hll_sketch_rollup(spark, sf_dir):
    """MERGEABLE distinct-count sketches — the incremental posture
    ``approx_count_distinct`` cannot give: per-(event_type, day)
    DataSketches HLL sketches (the shape a daily job would persist
    alongside each partition) are union-merged to event_type level
    with ``hll_union_agg`` — no rescan of history when a new day
    arrives, O(sketch) state per group.

    Contract (driver-visible, engine-independent): in sparse mode the
    union is bit-lossless (merged == direct exactly); in dense HLL
    mode DataSketches unions through an HLL_8 gadget and the merged
    estimate can drift sub-percent from a direct single-pass sketch —
    the ×10 scale sweep caught an exact-equality pin failing at 15k
    distincts/group. ``merge_consistent`` therefore pins |merged −
    direct| ≤ HLL_MERGE_TOL (1 %) of the exact count — exactness where
    exact, honesty where dense — and ``estimate_ok`` pins the
    estimate within HLL_REL_TOL = 3 × rsd,
    where rsd(lgK=12) ≈ 1.6 % — so a 5 % bound — of the exact distinct
    count computed in the same query. The oracle
    pins both flags to literal 1 beside the exact counts."""
    # complete-case: NULL event_type is not a category — without the
    # filter the NULL group silently vanished at the inner equi-join
    # below (NULL never equi-matches), a wrong way to be right (r10)
    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("__day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("__sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__merged")
    )
    direct = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("__direct"),
    )
    return (
        direct.join(merged, "event_type")
        .select(
            "event_type", "n", "exact_users",
            (F.abs(F.col("__merged") - F.col("__direct"))
             <= HLL_MERGE_TOL * F.col("exact_users")).cast("int")
            .alias("merge_consistent"),
            (F.abs(F.col("__merged") - F.col("exact_users"))
             <= HLL_REL_TOL * F.col("exact_users")).cast("int").alias("estimate_ok"),
        )
        .orderBy("event_type")
    )


@_q(
    "topk_sketch_rollup",
    """
    WITH counts AS (
      -- complete-case: a NULL item is not a heavy hitter (the
      -- ItemsSketch skips NULLs, like COUNT(DISTINCT)); mirrors the
      -- engine filter (r10 nullmix parity)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
      WHERE event_type IS NOT NULL GROUP BY event_type
    )
    SELECT CAST(row_number() OVER (ORDER BY n DESC, event_type) AS BIGINT) AS rank,
           event_type, n, 1 AS merge_is_exact
    FROM counts ORDER BY rank
    """,
    bench=True,  # NEW bench row from r6 (VERDICT r5 #7: add, never replace)
    tags=("approx-sketch", "mergeable", "heavy-hitters", "incremental"),
)
def topk_sketch_rollup(spark, sf_dir):
    """MERGEABLE heavy hitters — the frequency twin of
    ``hll_sketch_rollup``: per-day DataSketches frequent-items states
    (``approx_top_k_accumulate``, the shape a daily job persists
    beside each partition) merge to corpus level with
    ``approx_top_k_combine`` and read out with
    ``approx_top_k_estimate`` — a new day is one state merge, never a
    history rescan, O(maxItemsTracked) bytes per partition.

    Contract: the ItemsSketch is EXACT while the distinct-item count
    stays under its map capacity — events carries a 5-value event_type
    vocabulary against maxItemsTracked=1024, so estimated counts equal
    the exact GROUP BY computed beside the sketch and
    ``merge_is_exact`` pins it in-query. Ranking re-sorts the estimate
    by (count DESC, item): ties are engine-deterministic, so the
    DuckDB oracle reproduces the rows exactly."""
    from pyspark.sql import Window

    from etl_rj_spark.streaming.sketches import topk_sketch_batch

    # complete-case: the ItemsSketch skips NULL items while the exact
    # GROUP BY beside it keeps the NULL group — filter so both sides
    # count the same population (r10 nullmix parity)
    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    # the SAME per-day accumulate the streaming fold persists — one
    # source of truth for the state shape and max_items
    daily = topk_sketch_batch(ev, item_col="event_type", max_items=1024)
    est = (
        daily.agg(
            F.expr("approx_top_k_estimate(approx_top_k_combine(st, 1024), 64)")
            .alias("__e")
        )
        .select(F.explode("__e").alias("__x"))
        .select(F.col("__x.item").alias("event_type"), F.col("__x.count").alias("n"))
    )
    exact = ev.groupBy("event_type").agg(F.count("*").alias("__exact"))
    w = Window.orderBy(F.desc("n"), "event_type")
    return (
        est.join(exact, "event_type")
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "event_type",
            "n",
            (F.col("n") == F.col("__exact")).cast("int").alias("merge_is_exact"),
        )
        .orderBy("rank")
    )


@_q(
    "theta_segment_algebra",
    """
    WITH u AS (SELECT DISTINCT o_orderpriority, o_custkey FROM orders
               WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
    SELECT
      CAST((SELECT COUNT(*) FROM
             (SELECT o_custkey FROM u WHERE o_orderpriority = '1-URGENT'
              INTERSECT
              SELECT o_custkey FROM u WHERE o_orderpriority = '5-LOW'))
           AS BIGINT) AS custs_both,
      CAST((SELECT COUNT(*) FROM
             (SELECT o_custkey FROM u WHERE o_orderpriority = '1-URGENT'
              EXCEPT
              SELECT o_custkey FROM u WHERE o_orderpriority = '5-LOW'))
           AS BIGINT) AS custs_urgent_only,
      CAST((SELECT COUNT(DISTINCT o_custkey) FROM u) AS BIGINT) AS custs_any
    -- existence guard: an empty segment universe yields 0 rows, like
    -- the engine's literal-grouped aggregate (r10 sweep fix; WHERE
    -- EXISTS, not a LIMIT-1 derived table — DuckDB's optimizer
    -- unreliably pruned that form to 0 rows even on data)
    WHERE EXISTS (SELECT 1 FROM u)
    """,
    bench=True,  # NEW bench row from r6 (VERDICT r5 #7: add, never replace)
    tags=("approx-sketch", "set-algebra", "mergeable"),
)
def theta_segment_algebra(spark, sf_dir):
    """Theta-sketch SET ALGEBRA over customer segments — the piece HLL
    cannot do (HLL only unions): per-(priority, month) theta sketches
    of distinct customers (the mergeable daily-job shape) union-merge
    per priority with ``theta_union_agg``, then the two segment
    sketches answer INTERSECTION (customers with both urgent and low
    orders), DIFFERENCE (urgent-only) and UNION questions on KB-sized
    state — no re-shuffle of the key domain per question, which is the
    100 TB posture for audience-overlap analytics.

    lgK=18 keeps every sketch in exact mode far beyond this ladder's
    cardinality (2^18 retained hashes vs 15k customers at sf0.1, 150k
    at the ×10 synth), so estimates are exact integers and the DuckDB
    oracle computes identical numbers with set SQL."""
    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy("o_orderpriority", F.trunc("o_orderdate", "month").alias("__m"))
        .agg(F.expr("theta_sketch_agg(o_custkey, 18)").alias("__msk"))
    )
    merged = monthly.groupBy("o_orderpriority").agg(
        F.expr("theta_union_agg(__msk, 18)").alias("__sk")
    )
    # grouped on a literal so an EMPTY segment universe yields an
    # EMPTY report (a global agg would emit one all-NULL row — the
    # sketch of no data is no report, not "unknown"; r10 sweep fix,
    # mirrored by the oracle's 1-row existence guard)
    sk = merged.groupBy(F.lit(1).alias("__g")).agg(
        F.max(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("__sk"))).alias("u"),
        F.max(F.when(F.col("o_orderpriority") == "5-LOW", F.col("__sk"))).alias("l"),
    )
    # lgK must ride EVERY operation: the scalar theta_union defaults
    # to lgK=12 (4096) and would silently downsample the union below
    # exact mode — caught by the ×10 scale-correctness sweep (union
    # estimated 153438 vs 147060 exact while both inputs were exact)
    return sk.select(
        F.expr("CAST(theta_sketch_estimate(theta_intersection(u, l)) AS BIGINT)")
        .alias("custs_both"),
        F.expr("CAST(theta_sketch_estimate(theta_difference(u, l)) AS BIGINT)")
        .alias("custs_urgent_only"),
        F.expr("CAST(theta_sketch_estimate(theta_union(u, l, 18)) AS BIGINT)")
        .alias("custs_any"),
    )


@_q(
    "small_qty_revenue_q17",
    f"""
    SELECT p_size, {_msum('l_extendedprice', 'small_qty_revenue')}, COUNT(*) AS n
    FROM lineitem l1 JOIN part ON p_partkey = l_partkey
    WHERE p_size <= 5
      AND l_quantity < (SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = l1.l_partkey)
    GROUP BY p_size ORDER BY p_size
    """,
    tags=("correlated-subquery", "sql-surface"),
)
def small_qty_revenue_q17(spark, sf_dir):
    """TPC-H Q17 shape through the SQL surface: correlated scalar
    subquery (per-part average), decorrelated by Catalyst into an
    aggregate + join — no per-row re-execution. AVG of integer-valued
    quantities is an exact double regardless of partial-agg order, so
    the threshold compare is engine-stable."""
    from etl_rj_spark.analytics.sql_surface import register_tables

    register_tables(spark, sf_dir)
    # Spark SQL: BIGINT/100.0 is DECIMAL — cast to double to match the
    # DataFrame-path money_sum (and the oracle's DOUBLE result)
    return spark.sql(
        """
        SELECT p_size,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0 AS DOUBLE)
                 AS small_qty_revenue,
               COUNT(*) AS n
        FROM lineitem l1 JOIN part ON p_partkey = l_partkey
        WHERE p_size <= 5
          AND l_quantity < (SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = l1.l_partkey)
        GROUP BY p_size ORDER BY p_size
        """
    )


@_q(
    "ntile_acctbal_quartiles",
    """
    SELECT quartile, COUNT(*) AS n,
           SUM(CAST(ROUND(c_acctbal*100) AS BIGINT))/100.0 AS bal_sum
    FROM (
      SELECT c_acctbal,
             -- NULLS FIRST: Spark's default ASC ordering (DuckDB
             -- defaults NULLS LAST — r10 nullmix parity)
             ntile(4) OVER (ORDER BY c_acctbal NULLS FIRST,
                            c_custkey NULLS FIRST) AS quartile
      FROM customer
    ) GROUP BY quartile ORDER BY quartile
    """,
    tags=("window-ntile",),
)
def ntile_acctbal_quartiles(spark, sf_dir):
    """ntile quartiles over a deterministic total order (unique
    c_custkey tiebreaker), rolled up per quartile.

    This is the documented TPC-H window SHAPE — ntile is inherently a
    global sort through one partition (allowlisted as the one demo in
    etl_rj_spark/plans/audit.py). Its BIT-IDENTICAL scale-safe twin is
    ``ntile_acctbal_quartiles_scaled`` below (two-phase
    ``windows.ntile_exact``, r12); the approximate-boundary cousin is
    ``rfm_segmentation`` (quality_suite)."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_acctbal", F.ntile(4).over(w).alias("quartile"))
        .groupBy("quartile")
        .agg(F.count("*").alias("n"), money_sum("c_acctbal").alias("bal_sum"))
        .orderBy("quartile")
    )


@_q(
    "ntile_acctbal_quartiles_scaled",
    """
    SELECT quartile, COUNT(*) AS n,
           SUM(CAST(ROUND(c_acctbal*100) AS BIGINT))/100.0 AS bal_sum
    FROM (
      SELECT c_acctbal,
             -- NULLS FIRST: Spark's default ASC ordering (DuckDB
             -- defaults NULLS LAST — r10 nullmix parity)
             ntile(4) OVER (ORDER BY c_acctbal NULLS FIRST,
                            c_custkey NULLS FIRST) AS quartile
      FROM customer
    ) GROUP BY quartile ORDER BY quartile
    """,
    tags=("window-ntile", "two-phase-rank"),
)
def ntile_acctbal_quartiles_scaled(spark, sf_dir):
    """EXACT ntile quartiles with NO single-partition window — the
    scale-safe twin of ``ntile_acctbal_quartiles`` (r12, closing the
    window audit's one demo license with a true equivalent). SQL
    ntile's pack-bigger-tiles-first semantics reduce to a closed
    integer form over the global row number, and the row number rides
    the two-phase range-bucket machinery (``windows.ntile_exact``), so
    the oracle is plain SQL ntile while the plan's every window is
    __pid-partitioned (pinned in test_plans). Same report, same
    values, any data size."""
    from etl_rj_spark.operators.windows import ntile_exact

    c = _t(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    tiled = ntile_exact(
        c, [("c_acctbal", True), ("c_custkey", True)], 4, tile_col="quartile"
    )
    return (
        tiled.groupBy("quartile")
        .agg(F.count("*").alias("n"), money_sum("c_acctbal").alias("bal_sum"))
        .orderBy("quartile")
    )


@_q(
    "kll_quantile_rollup",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS sketch_n,
           1 AS n_lossless, 1 AS median_rank_ok
    FROM orders
    -- complete-case: NULL priority is not a profiling group and a
    -- NULL price never enters a KLL sketch (sketch_n counts VALUES);
    -- mirrors the engine filter (r10 nullmix parity)
    WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("approx-sketch", "mergeable", "quantile", "incremental"),
)
def kll_quantile_rollup(spark, sf_dir):
    """MERGEABLE quantile sketches — the profiling posture
    ``percentile_approx`` cannot persist: per-(priority, order-date)
    DataSketches KLL sketches of o_totalprice (the shape a daily job
    would store beside each partition) are pairwise-merged to priority
    level with ``kll_sketch_merge_double`` folded over the collected
    per-day sketches, so a new day merges in O(sketch) without
    rescanning history. Per-group sketch count is bounded by distinct
    days (~2.4k), each ≤ ~2 KB at k=200 — the collect_list stays a few
    MB however large the fact table grows.

    Contract (driver-visible, engine-independent): KLL tracks the
    stream length EXACTLY and merge sums it, so ``n_lossless`` pins
    sketch n == COUNT(*); the merged median estimate's true rank —
    recomputed against the raw data in the same query — must sit
    within 0.5 ± 0.04 (k=200 ⇒ normalized rank error ≈1.65 % at 99 %
    confidence; 0.04 ≈ 2.4×). A value's rank in a MULTISET is the
    interval [count(<v), count(≤v)]/n, so the check is that this
    interval intersects the band — the point form |count(≤v)/n − 0.5|
    broke on any group where rank granularity exceeds the band (n=1:
    the only rank is 1.0) and on heavy ties (r10 degenerate-input
    sweep fix). The oracle pins both flags to literal 1 beside the
    exact group counts."""
    # complete-case (see oracle): NULL priority groups vanished at the
    # inner equi-join below, and NULL prices never enter the sketch so
    # n_lossless would read 0 against COUNT(*) (r10 nullmix parity)
    ord_ = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    val = F.col("o_totalprice").cast("double")
    daily = ord_.groupBy("o_orderpriority", "o_orderdate").agg(
        F.kll_sketch_agg_double(val.alias("v"), F.lit(200)).alias("__sk")
    )
    merged = (
        daily.groupBy("o_orderpriority")
        # sorted (for the order audit): KLL merge accepts any order,
        # but compaction detail depends on it — the lexicographic sort
        # of the sketch blobs makes the merged sketch (and so the
        # median estimate) run-deterministic, not just band-stable
        .agg(F.array_sort(F.collect_list("__sk")).alias("__sks"))
        .select(
            "o_orderpriority",
            F.aggregate(
                F.slice("__sks", 2, F.greatest(F.size("__sks") - 1, F.lit(0))),
                F.element_at("__sks", 1),
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ).alias("__msk"),
        )
        .select(
            "o_orderpriority",
            F.kll_sketch_get_n_double("__msk").alias("sketch_n"),
            F.kll_sketch_get_quantile_double("__msk", F.lit(0.5)).alias("__med_est"),
        )
    )
    exact = ord_.join(F.broadcast(merged), "o_orderpriority").groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        # min == the value: sketch_n is constant per group (functional
        # dependency of the broadcast join key) — min states that
        # order-freely where first() only happened to (r15 order audit)
        F.min("sketch_n").alias("sketch_n"),
        F.sum((val < F.col("__med_est")).cast("long")).alias("__lt_est"),
        F.sum((val <= F.col("__med_est")).cast("long")).alias("__le_est"),
    )
    return (
        exact.select(
            "o_orderpriority", "n_orders", "sketch_n",
            (F.col("sketch_n") == F.col("n_orders")).cast("int").alias("n_lossless"),
            # rank interval [lt, le]/n intersects 0.5 ± 0.04
            (
                (F.col("__lt_est") / F.col("n_orders") <= 0.54)
                & (F.col("__le_est") / F.col("n_orders") >= 0.46)
            ).cast("int").alias("median_rank_ok"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "scd2_customer_history",
    """
    -- cust: DISTINCT dimension rows — an SCD2 history has exactly one
    -- open row per key, so verbatim-duplicated source rows (the
    -- re-ingested-shard shape) collapse at the ingestion boundary, on
    -- BOTH sides (r11 dupstorm parity, matching the engine's
    -- .distinct(); scd2_apply's own contract already demands one
    -- change per key per batch)
    WITH cust AS (
      SELECT DISTINCT c_custkey, c_mktsegment, c_acctbal FROM customer
    ),
    closed0 AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             DATE '1994-01-01' AS valid_from, DATE '1995-01-01' AS valid_to
      FROM cust WHERE c_custkey % 13 = 1
    )
    SELECT * FROM closed0
    UNION ALL  -- open rows untouched: no change arrived, or a no-op change
    SELECT c_custkey, c_mktsegment, c_acctbal, DATE '1995-01-01', NULL
    FROM cust WHERE c_custkey % 7 <> 0
    UNION ALL  -- open rows closed by the real segment change
    SELECT c_custkey, c_mktsegment, c_acctbal, DATE '1995-01-01', DATE '1996-06-01'
    FROM cust WHERE c_custkey % 7 = 0
    UNION ALL  -- fresh open rows for changed keys
    SELECT c_custkey, 'RELOCATED', c_acctbal, DATE '1996-06-01', NULL
    FROM cust WHERE c_custkey % 7 = 0
    UNION ALL  -- fresh open rows for brand-new keys
    SELECT c_custkey + 1000000, 'NEWKEY', 0.0, DATE '1996-06-01', NULL
    FROM cust WHERE c_custkey % 11 = 3
    ORDER BY c_custkey, valid_from
    """,
    tags=("scd2", "dimension-history", "merge-upsert"),
)
def scd2_customer_history(spark, sf_dir):
    """SCD **Type 2** over the customer dimension: a change batch
    (segment change for every 7th key, a NO-OP re-send for every
    7th+1 key, brand-new keys for every 11th+3) applied to a history
    table with ``scd2_apply`` — changed keys get their open row closed
    at the effective date plus a fresh open row; no-ops and untouched
    keys pass through; pre-existing closed history passes through
    unchanged. The
    oracle states the expected history DIRECTLY (closed + kept + newly
    closed + new opens), so it checks semantics, not mechanism."""
    from etl_rj_spark.operators.scd import scd2_apply

    # complete-case: a NULL entity key is not a dimension member (the
    # oracle's modulo arms all exclude NULL keys — r10 nullmix parity).
    # Exact-distinct at the ingestion boundary: an SCD2 history keeps
    # ONE open row per key, and scd2_apply's full-outer join would fan
    # verbatim-duplicated source rows out multiplicity² (r11 dupstorm
    # fix; the projection keeps the distinct narrow)
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey").isNotNull())
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .distinct()
    )
    d95 = F.lit("1995-01-01").cast("date")
    open0 = c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        d95.alias("valid_from"), F.lit(None).cast("date").alias("valid_to"),
    )
    closed0 = c.filter(F.col("c_custkey") % 13 == 1).select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit("1994-01-01").cast("date").alias("valid_from"),
        d95.alias("valid_to"),
    )
    dim = closed0.unionByName(open0)
    eff = F.lit("1996-06-01").cast("date")
    changes = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey", F.lit("RELOCATED").alias("c_mktsegment"),
            "c_acctbal", eff.alias("effective_date"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 7 == 1).select(
                "c_custkey", "c_mktsegment", "c_acctbal",
                eff.alias("effective_date"),
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 11 == 3).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEWKEY").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
                eff.alias("effective_date"),
            )
        )
    )
    return scd2_apply(
        dim, changes, ["c_custkey"], ["c_mktsegment", "c_acctbal"]
    ).orderBy("c_custkey", "valid_from")


@_q(
    "price_qty_correlation",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
             CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT)
                      * CAST(ROUND(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(ROUND(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(FLOOR(
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             / SQRT(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
             * 1000000) AS BIGINT) AS corr_ppm
    FROM s ORDER BY l_returnflag
    """,
    tags=("statistics", "correlation"),
)
def price_qty_correlation(spark, sf_dir):
    """Pearson correlation of quantity vs (whole-dollar) price per
    return flag — computed from EXACT integer moment sums (Σx, Σy,
    Σx², Σy², Σxy as int64), so unlike ``F.corr`` (a float reduction
    whose result depends on partition order) the statistic is
    bit-identical on any engine/partitioning; the final normalize is
    a fixed-order double expression floored to ppm. Whole-dollar
    scaling keeps Σy² under int64 through ~10⁹ rows per group; past
    that, swap the moments to DECIMAL(38,0) partials.

    Scale: one map-side-combinable aggregate — the textbook one-pass
    parallel correlation."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice")).cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    # try_divide: a zero-variance side (n=1, or a constant column)
    # has no defined correlation — NULL, exactly as the oracle's
    # 0/0 emits in SQL (r10 degenerate-input sweep fix; a bare `/`
    # hard-errors under ANSI)
    corr = F.try_divide(
        F.try_divide(
            nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"),
            F.sqrt(nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")),
        ),
        F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")),
    )
    return s.select(
        "l_returnflag", "n",
        F.floor(corr * 1000000).cast("long").alias("corr_ppm"),
    ).orderBy("l_returnflag")

"""Oracle-checked query suite — one named query per implemented
operator from SURVEY.md §2, each paired with equivalent ANSI SQL that
DuckDB runs on the same parquet tables (the driver's correctness gate).

Determinism rules used throughout (see SURVEY §4 semantic deltas):

- Money/double aggregation is done in exact integer cents
  (``money_sum``): ``SUM(CAST(ROUND(x*100) AS BIGINT))/100.0``. A raw
  double SUM depends on partial-aggregation order and would hash-differ
  between engines/partitionings.
- All lenient casts are ``try_*`` (ANSI-safe both engines).
- Integer division in cross-engine expressions uses explicit ``div`` /
  ``//`` (Spark double→int casts truncate, DuckDB's round — never cast
  a fractional double to int in a shared expression).
- Window orderings always include a unique tiebreaker column.
- Timestamp semantics pinned by session timezone UTC
  (``ensure_session_defaults``).

Every aggregate/computed column is aliased identically in the Spark
plan and the oracle SQL — the driver sorts columns by name before
hashing.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_rj_spark.functions import (
    clean_customer_name,
    month_name,
    parse_date,
    parse_int_thousands,
    parse_money,
    parse_money_default,
    recode_values,
    temporal_dims,
)
from etl_rj_spark.functions.dates import MONTH_EN_ES
from etl_rj_spark.operators import (
    dim_lookup,
    distinct_topk,
    rows_where_no_column_contains,
    union_all_by_name,
    with_lag_delta,
)
from etl_rj_spark.operators.aggregates import latest_snapshot, money_sum
from etl_rj_spark.operators.dedup import anti_join_new_rows
from etl_rj_spark.operators.joins import unmapped_rows
from etl_rj_spark.operators.windows import sessionize
from etl_rj_spark.session import ensure_session_defaults


@dataclass
class Query:
    """A named engine query plus its DuckDB oracle (None → rows-only check)."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default=())
    #: Optional bench-only variant: when set, bench.py times THIS
    #: callable instead of ``build``. Lets a query carry an in-query
    #: correctness contract (extra ground-truth work) on the driver's
    #: correctness path while the timed path stays the production
    #: operator alone — keeping cross-round bench ratios comparable.
    bench_build: Callable[[SparkSession, str], DataFrame] | None = None


REGISTRY: dict[str, Query] = {}


def _q(name: str, oracle: str | None, bench: bool = False, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_defaults(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(name, build, oracle, bench, tags)
        return build

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from etl_rj_spark.sources.parquet import read_parquet_table

    return read_parquet_table(spark, f"{sf_dir}/{name}.parquet")


# SQL fragment: deterministic money sum (exact integer cents).
def _msum(expr: str, alias: str) -> str:
    return f"SUM(CAST(ROUND(({expr})*100) AS BIGINT))/100.0 AS {alias}"


# ---------------------------------------------------------------------------
# §2.10 analysis-layer queries (the reference docs' prescribed reads)
# ---------------------------------------------------------------------------

@_q(
    "trend_total_by_snapshot",
    f"""
    SELECT CAST(o_orderdate AS DATE) AS fecha_carga,
           {_msum('o_totalprice', 'total_cartera')},
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1 ORDER BY 1 DESC
    """,
    bench=True,
    tags=("A3", "O1"),
)
def trend_total_by_snapshot(spark, sf_dir):
    """§2.10 #2 — snapshot trend aggregate (Cartera PDF §7):
    SUM(open_balance) per FechaCarga, newest first."""
    o = _t(spark, sf_dir, "orders").withColumn("fecha_carga", F.to_date("o_orderdate"))
    return (
        o.groupBy("fecha_carga")
        .agg(money_sum("o_totalprice").alias("total_cartera"), F.count("*").alias("n_orders"))
        .orderBy(F.desc("fecha_carga"))
    )


@_q(
    "latest_snapshot",
    "SELECT * FROM orders WHERE o_orderdate = (SELECT MAX(o_orderdate) FROM orders)",
    tags=("A4",),
)
def latest_snapshot_q(spark, sf_dir):
    """§2.10 #1 — latest-snapshot filter (Cartera PDF §7), as a join
    against the broadcast 1-row MAX (no driver collect)."""
    return latest_snapshot(_t(spark, sf_dir, "orders"), "o_orderdate")


@_q(
    "monthly_order_stats",
    f"""
    SELECT month(o_orderdate) AS mes, monthname(o_orderdate) AS nombre_mes,
           COUNT(*) AS cantidad_ordenes, {_msum('o_totalprice', 'monto_total')}
    FROM orders GROUP BY 1, 2 ORDER BY 1
    """,
    tags=("A3", "D6"),
)
def monthly_order_stats(spark, sf_dir):
    """§2.10 #3 — monthly order stats (Pending Orders PDF §7)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.month("o_orderdate").alias("mes"),
            month_name("o_orderdate").alias("nombre_mes"),
        )
        .agg(F.count("*").alias("cantidad_ordenes"), money_sum("o_totalprice").alias("monto_total"))
        .orderBy("mes")
    )


@_q(
    "lag_day_over_day",
    """
    SELECT user_id, event_id, ts, value,
           LAG(value) OVER w AS prev_value,
           value - LAG(value) OVER w AS delta
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    bench=True,
    tags=("W1",),
)
def lag_day_over_day(spark, sf_dir):
    """W1 — LAG(value) OVER (PARTITION BY id ORDER BY ts) + delta
    (Cartera PDF §8 day-over-day balance)."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return with_lag_delta(
        e, ["user_id"], ["ts", "event_id"], "value", prev_name="prev_value", delta_name="delta"
    )


@_q(
    "last_two_snapshots_delta",
    """
    WITH top2 AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS fecha FROM orders
      ORDER BY fecha DESC LIMIT 2
    ), filt AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS fecha, o_orderkey, o_totalprice
      FROM orders WHERE CAST(o_orderdate AS DATE) IN (SELECT fecha FROM top2)
    )
    SELECT o_custkey, fecha, o_orderkey, o_totalprice,
           LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY fecha, o_orderkey)
             AS prev_total
    FROM filt
    """,
    tags=("W1", "A5", "A4"),
)
def last_two_snapshots_delta(spark, sf_dir):
    """§2.10 #4 (flagship) — LAG day-over-day over the last two
    snapshot dates (Cartera PDF §8): DISTINCT TOP 2 dates, filter,
    per-client LAG."""
    o = _t(spark, sf_dir, "orders").withColumn("fecha", F.to_date("o_orderdate"))
    top2 = distinct_topk(o, "fecha", 2)
    filt = o.join(F.broadcast(top2), "fecha").select(
        "o_custkey", "fecha", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy("fecha", "o_orderkey")
    return filt.withColumn("prev_total", F.lag("o_totalprice").over(w))


@_q(
    "client_zone_rollup",
    f"""
    SELECT c_name AS nombre_cliente, n_name AS zona,
           COUNT(*) AS n_orders, {_msum('o_totalprice', 'total')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2 ORDER BY total DESC, nombre_cliente
    """,
    bench=True,
    tags=("J1", "A3", "O1"),
)
def client_zone_rollup(spark, sf_dir):
    """§2.10 #5 — client/zone rollup with dimension join (Pending
    Orders PDF §7). Both dims broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = dim_lookup(
        dim_lookup(o, c, on=o.o_custkey == c.c_custkey, how="inner"),
        n,
        on=c.c_nationkey == n.n_nationkey,
        how="inner",
    )
    return (
        joined.groupBy(F.col("c_name").alias("nombre_cliente"), F.col("n_name").alias("zona"))
        .agg(F.count("*").alias("n_orders"), money_sum("o_totalprice").alias("total"))
        .orderBy(F.desc("total"), "nombre_cliente")
    )


@_q(
    "distinct_topk_dates",
    """
    SELECT DISTINCT CAST(o_orderdate AS DATE) AS fecha FROM orders
    ORDER BY fecha DESC LIMIT 2
    """,
    tags=("A5",),
)
def distinct_topk_dates(spark, sf_dir):
    """A5 — DISTINCT TOP 2 snapshot dates (Cartera PDF §8)."""
    o = _t(spark, sf_dir, "orders").withColumn("fecha", F.to_date("o_orderdate"))
    return distinct_topk(o, "fecha", 2)


# ---------------------------------------------------------------------------
# Joins / lookups / dedup (J1-J5, A1, F1)
# ---------------------------------------------------------------------------

@_q(
    "dim_enrich_left",
    """
    SELECT l_orderkey, l_linenumber, l_suppkey, s_name, l_quantity
    FROM lineitem LEFT JOIN (SELECT * FROM supplier WHERE s_suppkey % 2 = 0) s
      ON l_suppkey = s_suppkey
    """,
    tags=("J1", "J2"),
)
def dim_enrich_left(spark, sf_dir):
    """J1 — left equi-join to a (partial) dimension: unmapped fact rows
    survive with null dim columns (cartera.py:121-122)."""
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 2 == 0)
    return dim_lookup(li, dim.select("s_suppkey", "s_name"), on=li.l_suppkey == dim.s_suppkey).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "s_name", "l_quantity"
    )


@_q(
    "unmapped_clients_report",
    """
    SELECT DISTINCT o_custkey FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey % 3 != 0 AND c.c_custkey = o.o_custkey
    )
    """,
    tags=("A1", "F1"),
)
def unmapped_clients_report(spark, sf_dir):
    """A1 — distinct unmapped keys after a failed dim lookup
    (the reference's unmapped-client warning, ventas_totales.py:154)."""
    o = _t(spark, sf_dir, "orders")
    dim = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    enriched = dim_lookup(o, dim.select("c_custkey", "c_name"), on=o.o_custkey == dim.c_custkey)
    return unmapped_rows(enriched, "c_name").select("o_custkey").distinct()


@_q(
    "incremental_anti_join",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem l
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem e
      WHERE e.l_shipdate < TIMESTAMP '1995-06-01'
        AND e.l_orderkey = l.l_orderkey AND e.l_linenumber = l.l_linenumber
    )
    """,
    bench=True,
    tags=("J4", "J5"),
)
def incremental_anti_join(spark, sf_dir):
    """J4/J5 — incremental-load dedup: new rows anti-joined against the
    already-loaded key projection (ventas_totales.py:205-209,
    wor2.py:236-237)."""
    li = _t(spark, sf_dir, "lineitem")
    new = li.select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    existing = li.filter(F.col("l_shipdate") < F.lit("1995-06-01").cast("timestamp"))
    return anti_join_new_rows(new, existing, ["l_orderkey", "l_linenumber"])


# ---------------------------------------------------------------------------
# Scalar kernels (X, D, N) — dirty inputs synthesized in-query so the
# engine and the oracle see identical cells (FIXTURES.md §B)
# ---------------------------------------------------------------------------

@_q(
    "clean_name_kernel",
    r"""
    SELECT c_custkey,
           '  ' || upper(c_name) || '  !!' AS dirty,
           trim(regexp_replace(regexp_replace(
                lower(trim('  ' || upper(c_name) || '  !!')),
                '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS cleaned
    FROM customer
    """,
    tags=("X3", "X1"),
)
def clean_name_kernel(spark, sf_dir):
    """X3 — clean_customer_name on synthetically dirtied names
    (cartera.py:92-98)."""
    c = _t(spark, sf_dir, "customer")
    dirty = F.concat(F.lit("  "), F.upper("c_name"), F.lit("  !!"))
    return c.select(
        "c_custkey", dirty.alias("dirty"), clean_customer_name(dirty).alias("cleaned")
    )


def _sql_money_str(cents: str) -> str:
    """DuckDB fragment: format integer-cents into '$w,www.ff' (manual
    thousands comma — RE2 has no lookahead; handles up to 6-digit whole)."""
    whole = f"CAST({cents} // 100 AS VARCHAR)"
    frac = f"lpad(CAST({cents} % 100 AS VARCHAR), 2, '0')"
    wc = (
        f"CASE WHEN length({whole}) > 3 THEN "
        f"substr({whole}, 1, length({whole}) - 3) || ',' || substr({whole}, length({whole}) - 2, 3) "
        f"ELSE {whole} END"
    )
    return f"'$' || {wc} || '.' || {frac}"


def _spark_money_str_cols(cents):
    """Spark mirror of _sql_money_str on an integer-cents Column."""
    whole = (cents / F.lit(100)).cast("long").cast("string")  # cents >= 0: trunc == floor == div
    frac = F.lpad((cents % 100).cast("string"), 2, "0")
    wl = F.length(whole)
    wc = F.when(
        wl > 3, F.concat(F.substr(whole, F.lit(1), wl - 3), F.lit(","), F.substr(whole, wl - 2, F.lit(3)))
    ).otherwise(whole)
    return F.concat(F.lit("$"), wc, F.lit("."), frac)


_MONEY_CENTS = "CAST(ROUND(l_extendedprice*100) AS BIGINT)"

@_q(
    "money_parse_kernel",
    f"""
    WITH src AS (
      SELECT l_orderkey, l_linenumber,
             CASE l_linenumber % 3
               WHEN 0 THEN {_sql_money_str(_MONEY_CENTS)}
               WHEN 1 THEN '(' || {_sql_money_str(_MONEY_CENTS)} || ')'
               ELSE 'N/A'
             END AS raw
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, raw,
           -- $ and , stripped everywhere, whitespace at the ENDS only
           -- (the reference's .strip() — r10 ADVICE fix, mirrors
           -- parse_money): interior whitespace coerces to null
           TRY_CAST(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             raw, '[$,]', '', 'g'), '\\(', '-', 'g'), '\\)', '', 'g'),
             '^\\s+|\\s+$', '', 'g') AS DOUBLE) AS amount,
           COALESCE(TRY_CAST(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             raw, '[$,]', '', 'g'), '\\(', '-', 'g'), '\\)', '', 'g'),
             '^\\s+|\\s+$', '', 'g') AS DOUBLE), 0.0) AS amount_defaulted
    FROM src
    """,
    tags=("X4", "N1", "N2"),
)
def money_parse_kernel(spark, sf_dir):
    """X4/N1/N2 — accounting-format money parse over in-query
    synthesized dirty cells: '$1,234.56', '($1,234.56)' (negative),
    junk → null → 0 (cartera.py:143-149)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    money = _spark_money_str_cols(cents)
    mod = F.col("l_linenumber") % 3
    raw = (
        F.when(mod == 0, money)
        .when(mod == 1, F.concat(F.lit("("), money, F.lit(")")))
        .otherwise(F.lit("N/A"))
    )
    src = li.select("l_orderkey", "l_linenumber", raw.alias("raw"))
    return src.select(
        "l_orderkey",
        "l_linenumber",
        "raw",
        parse_money("raw").alias("amount"),
        parse_money_default("raw").alias("amount_defaulted"),
    )


@_q(
    "thousands_int_kernel",
    """
    WITH src AS (
      SELECT l_orderkey,
             CASE WHEN length(CAST(l_orderkey AS VARCHAR)) > 3 THEN
               substr(CAST(l_orderkey AS VARCHAR), 1, length(CAST(l_orderkey AS VARCHAR)) - 3)
               || ',' ||
               substr(CAST(l_orderkey AS VARCHAR), length(CAST(l_orderkey AS VARCHAR)) - 2, 3)
             ELSE CAST(l_orderkey AS VARCHAR) END AS raw
      FROM (SELECT DISTINCT l_orderkey FROM lineitem)
    )
    SELECT l_orderkey, raw,
           -- numeric-parse then TRUNCATE to int, mirroring the
           -- reference's pd.to_numeric -> astype(int) (r9: a direct
           -- int cast nulled decimal-formatted quantities)
           TRY_CAST(trunc(TRY_CAST(regexp_replace(raw, ',', '', 'g') AS DOUBLE))
                    AS INTEGER) AS parsed
    FROM src
    """,
    tags=("N4",),
)
def thousands_int_kernel(spark, sf_dir):
    """N4 — thousands-separator strip, numeric parse, int truncation
    (pending_orders.py:142-143: pd.to_numeric then astype(int))."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    s = F.col("l_orderkey").cast("string")
    sl = F.length(s)
    raw = F.when(
        sl > 3, F.concat(F.substr(s, F.lit(1), sl - 3), F.lit(","), F.substr(s, sl - 2, F.lit(3)))
    ).otherwise(s)
    return li.select(
        "l_orderkey", raw.alias("raw"), parse_int_thousands(raw).alias("parsed")
    )


@_q(
    "date_parse_kernel",
    """
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'not a date'
                  ELSE strftime(o_orderdate, '%m/%d/%Y') END AS raw
      FROM orders
    )
    SELECT o_orderkey, raw,
           CAST(try_strptime(raw, '%m/%d/%Y') AS DATE) AS fecha,
           COALESCE(CAST(try_strptime(raw, '%m/%d/%Y') AS DATE), DATE '1900-01-01')
             AS fecha_defaulted,
           strftime(CAST(try_strptime(raw, '%m/%d/%Y') AS DATE), '%Y-%m-%d') AS fecha_iso
    FROM src
    """,
    tags=("D1", "D2", "D4", "D5"),
)
def date_parse_kernel(spark, sf_dir):
    """D1/D2/D4/D5 — strict-format date parse with coerce-to-null,
    default 1900-01-01, ISO re-format (ventas_totales.py:133,
    pending_orders.py:85-86, cartera.py:170-172)."""
    o = _t(spark, sf_dir, "orders")
    raw = F.when(F.col("o_orderkey") % 7 == 0, F.lit("not a date")).otherwise(
        F.date_format("o_orderdate", "MM/dd/yyyy")
    )
    src = o.select("o_orderkey", raw.alias("raw"))
    fecha = parse_date("raw", "MM/dd/yyyy")
    from etl_rj_spark.functions import date_default, iso_format

    return src.select(
        "o_orderkey",
        "raw",
        fecha.alias("fecha"),
        date_default(fecha).alias("fecha_defaulted"),
        iso_format(fecha).alias("fecha_iso"),
    )


@_q(
    "temporal_dims_kernel",
    """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS fecha,
           monthname(o_orderdate) AS nombre_mes, month(o_orderdate) AS mes,
           day(o_orderdate) AS dia, year(o_orderdate) AS anio
    FROM orders
    """,
    tags=("D3", "D6"),
)
def temporal_dims_kernel(spark, sf_dir):
    """D6 — temporal-dimension derivation (pending_orders.py:87-90)."""
    o = _t(spark, sf_dir, "orders")
    dims = temporal_dims("o_orderdate")
    return o.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("fecha"),
        dims["nombre_mes"].alias("nombre_mes"),
        dims["mes"].alias("mes"),
        dims["dia"].alias("dia"),
        dims["anio"].alias("anio"),
    )


_PRIORIDAD_LABELS = {"1-URGENT": "Urgente", "2-HIGH": "Alta", "3-MEDIUM": "Media"}

@_q(
    "recode_static_map",
    """
    SELECT o_orderkey, o_orderpriority,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 'Urgente' WHEN '2-HIGH' THEN 'Alta'
             WHEN '3-MEDIUM' THEN 'Media' ELSE 'Otro' END AS prioridad
    FROM orders
    """,
    tags=("J3", "X5"),
)
def recode_static_map(spark, sf_dir):
    """J3/X5 — static-dict recode with default (ZONE_MAPPING
    wor2.py:50-62, fillna default wor2.py:213)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        recode_values("o_orderpriority", _PRIORIDAD_LABELS, default=F.lit("Otro")).alias("prioridad"),
    )


_MONTH_CASE = " ".join(f"WHEN '{en}' THEN '{es}'" for en, es in MONTH_EN_ES.items())

@_q(
    "month_es_en_recode",
    f"""
    SELECT DISTINCT month(o_orderdate) AS mes,
           monthname(o_orderdate) AS nombre_mes_en,
           CASE monthname(o_orderdate) {_MONTH_CASE} ELSE monthname(o_orderdate) END
             AS nombre_mes_es
    FROM orders ORDER BY mes
    """,
    tags=("D8",),
)
def month_es_en_recode(spark, sf_dir):
    """D8 — month-name ES↔EN recode via explicit 12-entry table
    (wor2.py:65-76), never locale."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.month("o_orderdate").alias("mes"),
            month_name("o_orderdate").alias("nombre_mes_en"),
            month_name("o_orderdate", spanish=True).alias("nombre_mes_es"),
        )
        .distinct()
        .orderBy("mes")
    )


@_q(
    "ecommerce_rewrite",
    """
    SELECT c_custkey,
           CASE WHEN trim(c_mktsegment) IN ('AUTOMOBILE', 'MACHINERY')
                     AND c_custkey % 5 = 0
                THEN 'E-Commerce' ELSE c_mktsegment END AS zona,
           CASE WHEN trim(c_mktsegment) = 'AUTOMOBILE' AND c_custkey % 5 = 0
                THEN 'Walmart Ecommerce'
                WHEN trim(c_mktsegment) = 'MACHINERY' AND c_custkey % 5 = 0
                THEN 'Amazon'
                ELSE c_name END AS nombre_cliente
    FROM customer
    """,
    tags=("F4", "X6"),
)
def ecommerce_rewrite(spark, sf_dir):
    """F4/X6 — TWO-branch conditional rewrite, the Walmart/Amazon
    e-commerce reclassification shape (cartera.py:101-108): each branch
    writes a DISTINCT client-name literal ('Walmart Ecommerce' /
    'Amazon'), both collapse zona to 'E-Commerce'. TPC-H analog:
    AUTOMOBILE plays Walmart, MACHINERY plays Amazon."""
    c = _t(spark, sf_dir, "customer")
    cond_w = (F.trim("c_mktsegment") == "AUTOMOBILE") & (F.col("c_custkey") % 5 == 0)
    cond_a = (F.trim("c_mktsegment") == "MACHINERY") & (F.col("c_custkey") % 5 == 0)
    return c.select(
        "c_custkey",
        F.when(cond_w | cond_a, F.lit("E-Commerce")).otherwise(F.col("c_mktsegment")).alias("zona"),
        F.when(cond_w, F.lit("Walmart Ecommerce"))
        .when(cond_a, F.lit("Amazon"))
        .otherwise(F.col("c_name"))
        .alias("nombre_cliente"),
    )


@_q(
    "truncate_fields",
    """
    SELECT p_partkey, substr(p_name, 1, 20) AS name20, substr(p_type, 1, 10) AS type10
    FROM part
    """,
    tags=("X7",),
)
def truncate_fields(spark, sf_dir):
    """X7 — substring truncation to warehouse field widths
    (pending_orders.py:146,149)."""
    from etl_rj_spark.functions import truncate

    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey", truncate("p_name", 20).alias("name20"), truncate("p_type", 10).alias("type10")
    )


@_q(
    "contains_scrub_filter",
    """
    SELECT p_partkey, p_name, p_brand, p_type FROM part
    WHERE NOT (COALESCE(p_name LIKE '%red%', FALSE)
            OR COALESCE(p_brand LIKE '%red%', FALSE)
            OR COALESCE(p_type LIKE '%red%', FALSE))
    """,
    tags=("F3", "X8"),
)
def contains_scrub_filter(spark, sf_dir):
    """F3/X8 — drop rows where ANY column contains a marker substring
    (the 'Total' subtotal-row scrub, wor2.py:269)."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_type")
    return rows_where_no_column_contains(p, "red", ["p_name", "p_brand", "p_type"])


@_q(
    "threshold_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
    WHERE l_quantity > 25 AND l_extendedprice > 1000
    """,
    tags=("F2",),
)
def threshold_filter(spark, sf_dir):
    """F2 — numeric threshold filters (TOTAL > 0, wor2.py:178,225)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 25) & (F.col("l_extendedprice") > 1000)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@_q(
    "zone_coalesce_default",
    """
    SELECT c_custkey, COALESCE(n.n_regionkey, 1) AS id_zone,
           COALESCE(n.n_name, 'Sin Zona') AS zone_name
    FROM customer LEFT JOIN (SELECT * FROM nation WHERE n_nationkey % 2 = 0) n
      ON c_nationkey = n.n_nationkey
    """,
    tags=("N6", "N2"),
)
def zone_coalesce_default(spark, sf_dir):
    """N6 — zone fallback chain: DB zone else default (cartera.py:124,
    pending_orders.py:125)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") % 2 == 0)
    j = dim_lookup(c, n, on=c.c_nationkey == n.n_nationkey)
    return j.select(
        "c_custkey",
        F.coalesce("n_regionkey", F.lit(1)).alias("id_zone"),
        F.coalesce("n_name", F.lit("Sin Zona")).alias("zone_name"),
    )


@_q(
    "union_schema_drift",
    """
    SELECT p_partkey, p_name, p_size FROM part WHERE p_size <= 25
    UNION ALL BY NAME
    SELECT p_partkey, p_retailprice FROM part WHERE p_size > 25
    """,
    tags=("U1",),
)
def union_schema_drift(spark, sf_dir):
    """U1 — UNION ALL by name with missing columns null-padded
    (month-to-month schema drift, wor2.py:188,300-301)."""
    p = _t(spark, sf_dir, "part")
    a = p.filter(F.col("p_size") <= 25).select("p_partkey", "p_name", "p_size")
    b = p.filter(F.col("p_size") > 25).select("p_partkey", "p_retailprice")
    return union_all_by_name([a, b])


# ---------------------------------------------------------------------------
# Heavier analytics: pricing summary, pivot, top-k, sessions, windows
# ---------------------------------------------------------------------------

@_q(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_msum('l_quantity', 'sum_qty')},
           {_msum('l_extendedprice', 'sum_base_price')},
           {_msum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    bench=True,
    tags=("A3",),
)
def pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped grouped aggregate — the A3 pattern at scale
    (hash partial+final aggregation, all JVM-side)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_q(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders GROUP BY 1
    """,
    tags=("A3",),
)
def pivot_status_by_priority(spark, sf_dir):
    """Pivot (conditional aggregation) — order counts by status."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
    )


@_q(
    "topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rk
    FROM orders QUALIFY rk <= 3
    """,
    bench=True,
    tags=("W1",),
)
def topk_orders_per_customer(spark, sf_dir):
    """Top-K per group — row_number window + filter (the standard
    Spark top-k plan: one shuffle on the partition key)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
    )


@_q(
    "windowed_event_counts",
    f"""
    SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS window_start,
           time_bucket(INTERVAL 5 MINUTES, ts) + INTERVAL 5 MINUTES AS window_end,
           event_type, COUNT(*) AS n_events, {_msum('value', 'value_sum')}
    FROM events
    -- an event with no timestamp cannot be assigned a window: Spark's
    -- window() drops NULL-ts rows by definition (r10 nullmix parity)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2, 3
    """,
    bench=True,
    tags=("streaming", "A3"),
)
def windowed_event_counts(spark, sf_dir):
    """Tumbling-window aggregation over the event stream — identical
    code runs under Structured Streaming (readStream + watermark); here
    executed as a batch plan over the same table."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("value_sum"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


@_q(
    "sessionization",
    f"""
    WITH o AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      -- CAST: DuckDB SUM(int) yields HUGEINT, which pandas renders as
      -- float64 and the driver's canonicalizer hashes differently from
      -- Spark's int64 (round-1/2 hash mismatch root cause)
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM o
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           {_msum('value', 'value_sum')}
    FROM s GROUP BY 1, 2
    """,
    bench=True,
    tags=("W1", "sessionization"),
)
def sessionization_q(spark, sf_dir):
    """Gap-based sessionization (30-min gap) + per-session rollup."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    s = sessionize(e, "user_id", "ts", 1800, tiebreak_col="event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        money_sum("value").alias("value_sum"),
    )


@_q(
    "json_extract_props",
    """
    SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
    tags=("json",),
)
def json_extract_props(spark, sf_dir):
    """JSON field extraction from the events props column."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").try_cast("int").alias("k")
    )


@_q(
    "variant_props_extract",
    """
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           event_type AS meta_type,
           round(value, 9) AS v
    FROM events ORDER BY event_id
    """,
    tags=("json", "variant", "semi-structured"),
)
def variant_props_extract(spark, sf_dir):
    """Semi-structured data through Spark 4's VARIANT type: a nested
    JSON document (built from props + typed event fields) is parsed
    ONCE into a variant — the open-schema binary encoding that makes
    repeated path extraction O(1) per path instead of re-parsing the
    JSON string per field — then three paths of different types are
    extracted with ``variant_get``. The oracle recomputes every field
    from the original flat columns, so a parse, path-walk, or
    type-cast defect cannot match. (The engine posture for 100 TB of
    heterogeneous JSON: parse to variant at the source boundary, store
    the variant column, extract lazily.)"""
    e = _t(spark, sf_dir, "events")
    j = F.to_json(
        F.struct(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            F.struct(
                F.col("event_type").alias("type"), F.col("value").alias("v")
            ).alias("meta"),
        )
    )
    v = F.parse_json(j)
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k"),
        F.variant_get(v, "$.meta.type", "string").alias("meta_type"),
        F.round(F.variant_get(v, "$.meta.v", "double"), 9).alias("v"),
    ).orderBy("event_id")


@_q(
    "session_window_native",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      -- an event with no timestamp cannot be sessionized: Spark's
      -- session_window() drops NULL-ts rows (r10 nullmix parity)
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    tags=("session-window-native",),
)
def session_window_native(spark, sf_dir):
    """Spark's native session_window aggregation (merge-on-overlap
    state, streaming-ready) against the gaps-and-islands oracle.
    Boundary semantics: a gap of exactly the timeout starts a NEW
    session (session_window ends are exclusive), hence >= in the
    oracle's island test."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@_q(
    "unpivot_flag_measures",
    f"""
    WITH base AS (
      SELECT l_returnflag, {_msum('l_quantity', 'sum_qty')},
             {_msum('l_extendedprice', 'sum_price')}
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM base
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM base
    """,
    tags=("unpivot",),
)
def unpivot_flag_measures(spark, sf_dir):
    """Native DataFrame unpivot (melt): wide per-flag measures to long
    (flag, measure, value) — the inverse of the pivot query."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        money_sum("l_quantity").alias("sum_qty"),
        money_sum("l_extendedprice").alias("sum_price"),
    )
    return base.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price"], "measure", "value"
    )


_ACCENTED_NAME = (
    "replace(replace(replace(replace(lower(c_name), 'a', 'á'), 'e', 'é'),"
    " 'o', 'ö'), 'n', 'ñ') || ' & cía.'"
)

@_q(
    "accent_fold_kernel",
    rf"""
    SELECT c_custkey, {_ACCENTED_NAME} AS dirty,
           trim(regexp_replace(regexp_replace(
                lower(trim(strip_accents({_ACCENTED_NAME}))),
                '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS folded_clean
    FROM customer
    """,
    tags=("X3-extension", "accent-fold"),
)
def accent_fold_kernel(spark, sf_dir):
    """Accent-insensitive name normalization: ``fold_accents`` ∘
    ``clean_customer_name`` over names accented in-query — the rescue
    for the reference's exact-match dim joins, which silently drop
    'Muñoz'/'Munoz' style variants (the unmapped-client defect,
    cartera.py:121-126). The fold is a fixed translate table, so the
    DuckDB ``strip_accents`` oracle agrees exactly on this domain."""
    from etl_rj_spark.functions.strings import fold_accents

    c = _t(spark, sf_dir, "customer")
    dirty = F.concat(
        F.replace(
            F.replace(
                F.replace(
                    F.replace(F.lower("c_name"), F.lit("a"), F.lit("á")),
                    F.lit("e"), F.lit("é"),
                ),
                F.lit("o"), F.lit("ö"),
            ),
            F.lit("n"), F.lit("ñ"),
        ),
        F.lit(" & cía."),
    )
    return c.select(
        "c_custkey",
        dirty.alias("dirty"),
        clean_customer_name(fold_accents(dirty)).alias("folded_clean"),
    )

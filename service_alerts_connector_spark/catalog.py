"""Query catalog — every SURVEY §2 operator expressed twice:

* as a Spark DataFrame plan over the driver's TPC-H-ish parquet tables
  (``/root/testdata/sf*/``), built on the engine's operator library;
* as an equivalent ANSI-SQL oracle string DuckDB can run on the same files.

The driver runs both at sf0.01 and compares row-count + schema + value hash
(CORRECTNESS_r{N}.json).  Determinism rules applied throughout:

* timestamps surface as formatted strings (``yyyy-MM-dd HH:mm:ss``) so tz /
  object-representation differences can't leak into hashes;
* money aggregates are computed on DECIMAL(18,2) casts (exact, order-
  independent) and surfaced as doubles;
* every top-k / per-group pick carries a key tiebreak so the result is a
  function of the data, not of partitioning.

Table-role mapping follows FIXTURES.md §7: ``orders`` stands in for the
alerts fact (o_orderkey↔Id, o_orderdate↔publish_date, o_orderstatus↔status),
``customer→nation→region`` for lookup dimensions, ``events`` for the
incremental/CDC stream, ``part`` for string/fuzzy ops, ``documents`` /
``embeddings`` for the training-data operators.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service_alerts_connector_spark.operators.dedup import (
    dedup_last_wins,
    snapshot_diff,
)
from service_alerts_connector_spark.operators.joins import lookup_join
from service_alerts_connector_spark.operators.topk import (
    best_match_per_group,
    top_k,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# (unit separator) — same canonical cell separator as functions/checksum.py.
SEP = "\x1f"
NULL_TOKEN = "∅"


# Reader-PLAN cache: spark.read.parquet costs ~70 ms of schema/footer RPCs
# per call, and a full bench run issues several hundred of them on the same
# handful of immutable testdata files.  The cached object is the unexecuted
# logical plan (DataFrames are immutable) — every query execution still
# computes from the parquet on disk; no data or results are held.  Keyed by
# applicationId so a new session (new JVM state) never reuses a stale plan.
# Versioned STORE reads (sources/parquet_io) are deliberately NOT cached:
# their directories mutate between ingests.
_READER_CACHE: dict[tuple[str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin UTC: timestamp wall-clock round-trips must match the (naive) DuckDB
    # oracle regardless of what timezone the caller's session was built with.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from service_alerts_connector_spark.shipping import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    if name == "events":
        return _events(spark, sf_dir)
    key = (spark.sparkContext.applicationId, f"{sf_dir}/{name}.parquet")
    df = _READER_CACHE.get(key)
    if df is None:
        _READER_CACHE[key] = df = spark.read.parquet(
            f"{sf_dir}/{name}.parquet"
        )
    return df


def _col_max_upper_bound(spark, path: str, col: str):
    """Upper bound on max(col) of one parquet file from FOOTER statistics
    (guide §6 — the same min/max that power predicate pushdown), with a
    Spark full-scan aggregate as the fallback when statistics are absent.

    Only valid where an UPPER BOUND is as good as the exact max — e.g. the
    pointer-jump round budgets, where an overestimate adds provably no-op
    doubling rounds and an underestimate is impossible (parquet statistics
    are bounds by spec).  Footer reads are O(row groups) driver work on one
    file; a many-file lake directory should derive the bound from table
    statistics instead, which is why this helper takes a single file path.
    """
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        idx = md.schema.names.index(col)
        vals = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                raise ValueError("missing parquet statistics")
            vals.append(st.max)
        if vals:
            return max(vals)
    except Exception:
        pass
    from pyspark.sql import functions as F

    return spark.read.parquet(path).agg(F.max(col)).collect()[0][0]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table and surface ``ts`` as a session-tz TimestampType
    regardless of how the generator wrote it.  The column's physical type has
    varied across driver testdata generations:

    * TIMESTAMP(NANOS) — Spark refuses it by default (PARQUET_TYPE_ILLEGAL);
      with ``nanosAsLong`` it surfaces as BIGINT nanos, which we convert to
      micros with exact integer arithmetic (DuckDB truncates the same way);
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — surfaces as TIMESTAMP_NTZ;
      cast to TIMESTAMP (session tz is pinned to UTC by ``_t``, so the wall
      clock is preserved and matches DuckDB's naive reading).

    Adapting on the observed dtype keeps every catalog query working across
    regenerations without re-plumbing."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, f"{sf_dir}/events.parquet")
    cached = _READER_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        out = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    else:
        out = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _READER_CACHE[key] = out
    return out


# ---------------------------------------------------------------------------
# P1/P2 — rename + fixed projection + drop-null gate
# (reference ServiceAlertFixer.py:89-103, ServiceAlertConnector.py:78)
# ---------------------------------------------------------------------------
def q_p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.na.drop(subset=["c_mktsegment"])
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("c_acctbal").cast("decimal(18,2)"), 2)
            .cast("double")
            .alias("acctbal"),
        )
    )


SQL_P1 = """
SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS acctbal
FROM customer WHERE c_mktsegment IS NOT NULL
"""


# ---------------------------------------------------------------------------
# P4 — time-window predicate with aggregate anchor
# (reference ServiceAlertBroadcaster.py:79-90; anchor = max instead of the
# reference's now() so the query is deterministic)
# ---------------------------------------------------------------------------
def q_p4_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("a")).collect()[0]["a"]
    return (
        orders.where(
            F.col("o_orderdate") > F.lit(anchor) - F.expr("INTERVAL 7 DAYS")
        )
        .select(
            F.col("o_orderkey").alias("id"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "order_ts"
            ),
            F.col("o_orderstatus").alias("status"),
        )
    )


SQL_P4 = """
SELECT o_orderkey AS id,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
       o_orderstatus AS status
FROM orders
WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders) - INTERVAL 7 DAY
"""


# ---------------------------------------------------------------------------
# P3+P4+P5 — a full broadcaster feed: window × planned-flag × version
# projection ("GET /v1.2/service-alerts/current/unplanned" analog;
# reference ServiceAlertBroadcaster.py:78-98)
# ---------------------------------------------------------------------------
def q_feed_current_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("a")).collect()[0]["a"]
    return (
        orders.where(
            F.col("o_orderdate") > F.lit(anchor) - F.expr("INTERVAL 30 DAYS")
        )
        .where(F.col("o_orderpriority") == "1-URGENT")  # P5 analog
        .select(  # P3 version projection
            F.col("o_orderkey").alias("id"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2)
            .cast("double")
            .alias("totalprice"),
        )
    )


SQL_FEED = """
SELECT o_orderkey AS id, o_custkey AS custkey, o_orderstatus AS status,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS totalprice
FROM orders
WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders) - INTERVAL 30 DAY
  AND o_orderpriority = '1-URGENT'
"""


# ---------------------------------------------------------------------------
# P6/P9 — string-expression predicate engine + set-membership exclusion
# (reference ServiceAlertEmailer.py:636-670, ServiceAlertAugmenter.py:64)
# ---------------------------------------------------------------------------
def q_p6_predicate_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.where(F.lower(F.col("p_name")).rlike("gr[ae]y|green"))
        .where(~F.col("p_brand").isin("Brand#11", "Brand#22"))
        .select(
            F.col("p_partkey").alias("id"),
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("brand"),
        )
    )


SQL_P6 = """
SELECT p_partkey AS id, p_name AS name, p_brand AS brand
FROM part
WHERE regexp_matches(lower(p_name), 'gr[ae]y|green')
  AND p_brand NOT IN ('Brand#11', 'Brand#22')
"""


# ---------------------------------------------------------------------------
# P10 — deterministic top-k (TakeOrderedAndProject)
# (reference tail/head caps, ServiceAlertBase.py:155-156)
# ---------------------------------------------------------------------------
def q_p10_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return top_k(
        orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], 20
    ).select(
        F.col("o_orderkey").alias("id"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2)
        .cast("double")
        .alias("totalprice"),
    )


SQL_P10 = """
SELECT o_orderkey AS id,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# J1 — left many-to-one lookup joins (broadcast dimension chain)
# (reference ServiceAlertFixer.py:110-131)
# ---------------------------------------------------------------------------
def q_j1_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dim = lookup_join(
        lookup_join(
            cust,
            nation,
            on=cust["c_nationkey"] == nation["n_nationkey"],
            validate_unique=["n_nationkey"],
        ),
        region,
        on=F.col("n_regionkey") == region["r_regionkey"],
        validate_unique=["r_regionkey"],
    ).select("c_custkey", "c_name", "n_name", "r_name")
    joined = lookup_join(
        orders, dim, on=orders["o_custkey"] == dim["c_custkey"], how="left"
    )
    return joined.select(
        F.col("o_orderkey").alias("id"),
        F.col("c_name").alias("customer"),
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
    )


SQL_J1 = """
SELECT o_orderkey AS id, c_name AS customer, n_name AS nation, r_name AS region
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


# ---------------------------------------------------------------------------
# J2/ST2 — incremental checksum anti-join (the engine's core operator)
# Cache := events sampled/perturbed deterministically; "new" = rows whose
# (event_id, checksum) pair is absent — i.e. missing-from-cache ∪ changed.
# (reference ServiceAlertBase.py:123-166)
# ---------------------------------------------------------------------------
def _event_checksum(value_col):
    return F.md5(
        F.concat_ws(
            SEP,
            F.coalesce(F.col("event_type"), F.lit(NULL_TOKEN)),
            F.format_string("%.2f", value_col),
            F.lit("salt1"),
        )
    )


def q_j2_incremental_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    inp = events.withColumn("InputChecksum", _event_checksum(F.col("value")))
    cache = (
        events.where(F.col("event_id") % 3 != 0)  # event_id%3==0 → "new"
        .withColumn(
            "value2",
            F.when(F.col("event_id") % 5 == 0, F.col("value") + 1.0).otherwise(
                F.col("value")
            ),
        )  # %5==0 → "changed"
        .withColumn("InputChecksum", _event_checksum(F.col("value2")))
    )
    new = inp.join(
        cache.select("event_id", "InputChecksum"),
        ["event_id", "InputChecksum"],
        "left_anti",
    )
    return new.select(
        F.col("event_id").alias("id"), F.col("event_type").alias("etype")
    )


SQL_J2 = """
WITH input AS (
  SELECT event_id,
         md5(concat_ws(chr(31), coalesce(event_type, '∅'),
                       printf('%.2f', value), 'salt1')) AS cs,
         event_type
  FROM events
), cache AS (
  SELECT event_id,
         md5(concat_ws(chr(31), coalesce(event_type, '∅'),
                       printf('%.2f', CASE WHEN event_id % 5 = 0
                                           THEN value + 1.0 ELSE value END),
                       'salt1')) AS cs
  FROM events WHERE event_id % 3 <> 0
)
SELECT i.event_id AS id, i.event_type AS etype
FROM input i
WHERE NOT EXISTS (
  SELECT 1 FROM cache c WHERE c.event_id = i.event_id AND c.cs = i.cs
)
"""


# ---------------------------------------------------------------------------
# J8/U3 — CDC snapshot difference on (Id, status)
# (reference alerts-recon.py:37-47)
# ---------------------------------------------------------------------------
def q_j8_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    current = orders.select(
        F.col("o_orderkey").alias("id"), F.col("o_orderstatus").alias("status")
    )
    previous = (
        orders.where(F.col("o_orderkey") % 13 != 0)  # %13==0 → brand new
        .select(
            F.col("o_orderkey").alias("id"),
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),  # %11==0 → status changed
        )
    )
    return snapshot_diff(current, previous, ["id", "status"])


SQL_J8 = """
WITH current AS (
  SELECT o_orderkey AS id, o_orderstatus AS status FROM orders
), previous AS (
  SELECT o_orderkey AS id,
         CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS status
  FROM orders WHERE o_orderkey % 13 <> 0
)
SELECT c.id, c.status FROM current c
WHERE NOT EXISTS (
  SELECT 1 FROM previous p WHERE p.id = c.id AND p.status = c.status
)
"""


# ---------------------------------------------------------------------------
# A1/A4 — group-by collect-list (sorted for determinism) + distinct
# (reference ServiceAlertAugmenter.py:679-681 inferred_suburbs)
# ---------------------------------------------------------------------------
def q_a1_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The grouped set is surfaced as a comma-joined string: the external
    # driver's canonicalizer pandas-sorts result cells and cannot hash
    # list-typed values (round-1 red row).  The array-typed variant stays
    # covered by tests/test_catalog_oracle.py::test_a1_array_variant.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_orderkey") % 50 == 0)
        .groupBy(F.col("l_orderkey").alias("id"))
        .agg(
            F.array_join(
                F.array_sort(F.collect_set(F.col("l_suppkey").cast("string"))),
                ",",
            ).alias("suppliers"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_A1 = """
SELECT l_orderkey AS id,
       array_to_string(list_sort(list(DISTINCT CAST(l_suppkey AS VARCHAR))), ',')
         AS suppliers,
       count(*) AS n_items
FROM lineitem WHERE l_orderkey % 50 = 0
GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# A3/W4 — last-wins dedup by key via explicit recency
# (reference ServiceAlertFixer.py:148-159)
# ---------------------------------------------------------------------------
def q_a3_lastwins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    latest = dedup_last_wins(
        events, key="user_id", order_col="ts", tiebreak=["event_id"]
    )
    return latest.select(
        F.col("user_id").alias("uid"),
        F.col("event_id").alias("last_event"),
        F.col("event_type").alias("etype"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


SQL_A3 = """
SELECT user_id AS uid, event_id AS last_event, event_type AS etype,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# A2/A5/A7 — global and grouped guard aggregates (min/max/any/count)
# (reference ServiceAlertBroadcaster.py:84, ServiceAlertAugmenter.py:553)
# ---------------------------------------------------------------------------
def q_a5_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.col("user_id").alias("uid"))
        .agg(
            F.expr("bool_or(event_type = 'error')").alias("has_error"),
            F.expr("bool_and(value >= 0)").alias("all_nonneg"),
            F.count(F.lit(1)).alias("n"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    )


SQL_A5 = """
SELECT user_id AS uid,
       bool_or(event_type = 'error') AS has_error,
       bool_and(value >= 0) AS all_nonneg,
       count(*) AS n,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# W3 — best-match pick per group (top-1 by score)
# (reference street fuzzy-match pick, ServiceAlertAugmenter.py:163-173)
# ---------------------------------------------------------------------------
def q_w3_best_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return best_match_per_group(
        part,
        ["p_brand"],
        [F.asc("p_retailprice"), F.asc("p_partkey")],
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("cheapest_part"),
        F.round(F.col("p_retailprice").cast("decimal(18,2)"), 2)
        .cast("double")
        .alias("price"),
    )


SQL_W3 = """
SELECT p_brand AS brand, p_partkey AS cheapest_part,
       CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS price
FROM (
  SELECT *, row_number() OVER (PARTITION BY p_brand
                               ORDER BY p_retailprice ASC, p_partkey ASC) AS rn
  FROM part
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Q1-style pricing summary — the flagship aggregation (decimal-exact)
# ---------------------------------------------------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money aggregates in integer cents: exact, order-independent, and ~2×
    faster than decimal aggregation (long sums stay in codegen'd primitive
    loops).  Final division back to currency is one deterministic double op."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    return (
        li.groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            (F.sum(cents("l_quantity")) / 100.0).alias("sum_qty"),
            (F.sum(cents("l_extendedprice")) / 100.0).alias("sum_base_price"),
            (
                F.sum(
                    cents("l_extendedprice")
                    * F.round((1 - F.col("l_discount")) * 100).cast("long")
                )
                / 10000.0
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
       sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * CAST(round((1 - l_discount) * 100) AS BIGINT)) / 10000.0 AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# F9 — salted row checksum (canonical serialization)
# (reference ServiceAlertBase.py:21-31)
# ---------------------------------------------------------------------------
def q_f9_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("id"),
        F.md5(
            F.concat_ws(
                SEP,
                F.coalesce(F.col("o_orderkey").cast("string"), F.lit(NULL_TOKEN)),
                F.coalesce(F.col("o_orderstatus"), F.lit(NULL_TOKEN)),
                F.format_string("%.2f", F.col("o_totalprice")),
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
                F.lit("AUGSALT"),
            )
        ).alias("checksum"),
    )


SQL_F9 = """
SELECT o_orderkey AS id,
       md5(concat_ws(chr(31),
           coalesce(CAST(o_orderkey AS VARCHAR), '∅'),
           coalesce(o_orderstatus, '∅'),
           printf('%.2f', o_totalprice),
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
           'AUGSALT')) AS checksum
FROM orders
"""


# ---------------------------------------------------------------------------
# F1 — regex-gate + zero-pad (notification number cleaning)
# (reference ServiceAlertFixer.py:17-18, 27-29)
# ---------------------------------------------------------------------------
def q_f1_zeropad(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    raw = F.when(
        F.col("c_custkey") % 3 != 0,
        F.format_string("%010d", F.col("c_custkey")),
    ).otherwise(F.lit("n/a"))
    df = cust.withColumn("raw_ref", raw)
    padded = F.when(
        F.col("raw_ref").rlike("^[0-9]{10}$"),
        F.format_string("%012d", F.col("raw_ref").cast("long")),
    )
    return df.select(
        F.col("c_custkey").alias("id"),
        F.col("raw_ref"),
        padded.alias("notification_number"),
    )


SQL_F1 = """
SELECT c_custkey AS id,
       CASE WHEN c_custkey % 3 <> 0 THEN printf('%010d', c_custkey)
            ELSE 'n/a' END AS raw_ref,
       CASE WHEN regexp_matches(CASE WHEN c_custkey % 3 <> 0
                                     THEN printf('%010d', c_custkey)
                                     ELSE 'n/a' END, '^[0-9]{10}$')
            THEN printf('%012d', c_custkey) END AS notification_number
FROM customer
"""


# ---------------------------------------------------------------------------
# F6 — dirty time-string repair (synthesized dirt, deterministic per row)
# (reference ServiceAlertFixer.py:19, 43-52)
# ---------------------------------------------------------------------------
def q_f6_time_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from service_alerts_connector_spark.functions.cleaning import (
        repair_time_string,
    )

    events = _t(spark, sf_dir, "events")
    dirty = (
        F.when(F.col("event_type") == "error", F.lit("23:60"))
        .when(F.col("event_type") == "signup", F.lit("Select..."))
        .when(F.col("event_type") == "view", F.lit("garbage"))
        .when(
            F.col("event_type") == "click",
            F.date_format("ts", "HH:mm"),
        )
        .otherwise(F.lit("9:30"))
    )
    df = events.withColumn("dirty_time", dirty)
    return df.select(
        F.col("event_id").alias("id"),
        F.col("dirty_time"),
        repair_time_string(F.col("dirty_time")).alias("clean_time"),
    )


SQL_F6 = """
WITH d AS (
  SELECT event_id,
         CASE event_type
           WHEN 'error' THEN '23:60'
           WHEN 'signup' THEN 'Select...'
           WHEN 'view' THEN 'garbage'
           WHEN 'click' THEN strftime(ts, '%H:%M')
           ELSE '9:30' END AS dirty_time
  FROM events
), r AS (
  SELECT event_id, dirty_time,
         regexp_replace(regexp_replace(trim(dirty_time), ':60$', ':59'),
                        '^Select.*$', '00:00') AS repaired
  FROM d
)
SELECT event_id AS id, dirty_time,
       CASE WHEN regexp_matches(repaired, '^[0-9]{2}:[0-9]{2}$')
            THEN repaired END AS clean_time
FROM r
"""


# ---------------------------------------------------------------------------
# F4/F5 — date arithmetic: +1 day expiry, N-day window flag, duration
# (reference ServiceAlertFixer.py:37-41, ServiceAlertBroadcaster.py:84-86)
# ---------------------------------------------------------------------------
def q_f4_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    expiry = F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")
    return orders.select(
        F.col("o_orderkey").alias("id"),
        F.date_format(expiry, "yyyy-MM-dd HH:mm:ss").alias("expiry"),
        F.datediff(
            F.to_date(F.lit("1998-12-01")), F.to_date("o_orderdate")
        ).alias("age_days"),
    )


SQL_F4 = """
SELECT o_orderkey AS id,
       strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS expiry,
       datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS age_days
FROM orders
"""


# ---------------------------------------------------------------------------
# F12/J7 — Levenshtein fuzzy theta-join (bounded candidate sets)
# (reference street matching, ServiceAlertAugmenter.py:148-177)
# ---------------------------------------------------------------------------
def q_f12_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    a = part.where(F.col("p_partkey") <= 50).select(
        F.col("p_partkey").alias("a_id"), F.col("p_name").alias("a_name")
    )
    b = part.where(
        (F.col("p_partkey") > 50) & (F.col("p_partkey") <= 150)
    ).select(F.col("p_partkey").alias("b_id"), F.col("p_name").alias("b_name"))
    # threshold form: the banded DP early-exits rows beyond the bound
    # (returns -1), so each candidate pair costs O(len × bound) instead of
    # O(len²) — same kept pairs and distances as the unbounded form
    lev = F.levenshtein(F.col("a_name"), F.col("b_name"), 8)
    return (
        a.join(F.broadcast(b), lev != F.lit(-1))
        .select("a_id", "b_id", lev.alias("dist"))
    )


SQL_F12 = """
SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
       levenshtein(a.p_name, b.p_name) AS dist
FROM part a JOIN part b
  ON levenshtein(a.p_name, b.p_name) <= 8
WHERE a.p_partkey <= 50 AND b.p_partkey > 50 AND b.p_partkey <= 150
"""


# ---------------------------------------------------------------------------
# F15 — JSON extraction (row → JSON and back)
# (reference ServiceAlertAugmenter.py:599-611)
# ---------------------------------------------------------------------------
def q_f15_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.select(
        F.col("event_id").alias("id"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )


SQL_F15 = """
SELECT event_id AS id, CAST(props->>'k' AS INTEGER) AS k FROM events
"""


# ---------------------------------------------------------------------------
# U1/A4 — union + distinct set semantics
# (reference pd.concat patterns, ServiceAlertBase.py:183)
# ---------------------------------------------------------------------------
def q_u1_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    a = orders.select(F.col("o_orderstatus").alias("tag"))
    b = events.select(F.col("event_type").alias("tag"))
    return a.unionByName(b).distinct()


SQL_U1 = """
SELECT DISTINCT tag FROM (
  SELECT o_orderstatus AS tag FROM orders
  UNION ALL
  SELECT event_type AS tag FROM events
)
"""


# ---------------------------------------------------------------------------
# F8 — conditional coalesce with prefix-overlap test (location cleaning)
# (reference ServiceAlertFixer.py:66-80) — exercised through the engine's
# own cleaning function over synthesized location/description pairs.
# ---------------------------------------------------------------------------
def q_f8_location_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from service_alerts_connector_spark.functions.cleaning import (
        coalesce_location,
    )

    part = _t(spark, sf_dir, "part")
    # deterministic dirt: every 3rd part gets a prefix-duplicate location,
    # every 5th gets no location at all; p_brand is the controlled fallback
    loc = (
        F.when(F.col("p_partkey") % 5 == 0, F.lit(None).cast("string"))
        .when(F.col("p_partkey") % 3 == 0, F.substring(F.col("p_name"), 1, 8))
        .otherwise(F.concat(F.lit("corner of "), F.col("p_name")))
    )
    df = part.withColumn("loc_raw", loc)
    return df.select(
        F.col("p_partkey").alias("id"),
        coalesce_location(
            F.col("loc_raw"), F.col("p_name"), F.col("p_brand")
        ).alias("location"),
    )


SQL_F8 = """
WITH d AS (
  SELECT p_partkey, p_name, p_brand,
         CASE WHEN p_partkey % 5 = 0 THEN NULL
              WHEN p_partkey % 3 = 0 THEN substr(p_name, 1, 8)
              ELSE 'corner of ' || p_name END AS loc_raw
  FROM part
)
SELECT p_partkey AS id,
       CASE
         WHEN loc_raw IS NOT NULL AND NOT (
              p_name IS NOT NULL AND
              substr(trim(loc_raw), 1, least(length(trim(loc_raw)), length(trim(p_name))))
                = substr(trim(p_name), 1, least(length(trim(loc_raw)), length(trim(p_name)))))
           THEN trim(loc_raw)
         WHEN trim(p_brand) <> '' THEN trim(p_brand)
       END AS location
FROM d
"""


# ---------------------------------------------------------------------------
# F16/F10/F11 — string templating + content addressing (toot/filename exprs)
# (reference ServiceAlertAugmenter.py:478-490, 626-631)
# ---------------------------------------------------------------------------
def q_f16_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from service_alerts_connector_spark.functions.checksum import (
        content_address,
    )

    nation = _t(spark, sf_dir, "nation")
    tweet = F.concat(F.lit("Alert for "), F.col("n_name"))
    return nation.select(
        F.col("n_nationkey").alias("id"),
        F.concat_ws(
            "\n", tweet, F.concat_ws(" ", F.lit("#Region"), F.lit("#CapeTown"))
        ).alias("toot"),
        content_address(F.col("n_name"), max_len=16).alias("artifact_key"),
    )


SQL_F16 = """
SELECT n_nationkey AS id,
       'Alert for ' || n_name || chr(10) || '#Region #CapeTown' AS toot,
       CASE WHEN length(to_base64(encode(n_name))) <= 16
            THEN to_base64(encode(n_name))
            ELSE sha256(n_name) END AS artifact_key
FROM nation
"""


# ---------------------------------------------------------------------------
# A2 + P4 — "all" window with min-aggregate anchor (the 24-feed 'all' case)
# (reference ServiceAlertBroadcaster.py:79-90)
# ---------------------------------------------------------------------------
def q_a2_all_window_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(
        (F.min("o_orderdate") - F.expr("INTERVAL 1 DAY")).alias("a")
    ).collect()[0]["a"]
    return (
        orders.where(F.col("o_orderdate") > F.lit(anchor))
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_A2 = """
SELECT o_orderstatus AS status, count(*) AS n
FROM orders
WHERE o_orderdate > (SELECT min(o_orderdate) - INTERVAL 1 DAY FROM orders)
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# U2 — difference by key (cache rows minus moved rows)
# (reference ServiceAlertAugmenter.py:569)
# ---------------------------------------------------------------------------
def q_u2_difference_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from service_alerts_connector_spark.operators.dedup import (
        difference_by_key,
    )

    cust = _t(spark, sf_dir, "customer")
    moving = cust.where(F.col("c_custkey") % 7 == 0)
    return difference_by_key(cust, moving, key="c_custkey").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )


SQL_U2 = """
SELECT c_custkey AS id, c_name AS name FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0)
"""


# ---------------------------------------------------------------------------
# F17 — array ops: membership, join-to-string, all-null test
# (reference ServiceAlertEmailer.py:72-74, 711-728)
# ---------------------------------------------------------------------------
def q_f17_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    arr = li.groupBy(F.col("l_orderkey").alias("id")).agg(
        F.array_sort(F.collect_set("l_returnflag")).alias("flags")
    )
    return arr.select(
        "id",
        F.array_contains(F.col("flags"), "R").alias("has_return"),
        F.array_join(F.col("flags"), ", ").alias("flags_joined"),
        F.forall(F.col("flags"), lambda x: x.isNull()).alias("all_null"),
    ).where(F.col("id") % 20 == 0)


SQL_F17 = """
SELECT l_orderkey AS id,
       list_contains(list_sort(list(DISTINCT l_returnflag)), 'R') AS has_return,
       array_to_string(list_sort(list(DISTINCT l_returnflag)), ', ') AS flags_joined,
       len(list_filter(list_sort(list(DISTINCT l_returnflag)), x -> x IS NOT NULL)) = 0 AS all_null
FROM lineitem GROUP BY l_orderkey
HAVING l_orderkey % 20 = 0
"""


# ---------------------------------------------------------------------------
# P6/P7-as-data — config-table join fan-out: subscriber configs are ROWS
# joined against the fact table, so the plan is one broadcast join regardless
# of config count (plans/emailer.py gets the same property from one
# projection that evaluates every config predicate per row)
# (reference SA_EMAIL_CONFIGS, ServiceAlertEmailer.py:88-671; SURVEY §3.3)
# ---------------------------------------------------------------------------
def q_config_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    configs = spark.createDataFrame(
        [
            ("urgent-watch", "1-URGENT", None),
            ("high-watch", "2-HIGH", None),
            ("open-anything", None, "O"),
            ("finished-urgent", "1-URGENT", "F"),
        ],
        "config_name string, want_priority string, want_status string",
    )
    cond = (
        configs["want_priority"].isNull()
        | (orders["o_orderpriority"] == configs["want_priority"])
    ) & (
        configs["want_status"].isNull()
        | (orders["o_orderstatus"] == configs["want_status"])
    )
    return (
        orders.join(F.broadcast(configs), cond)
        .where(F.col("o_orderkey") % 40 == 0)
        .select(
            F.col("config_name"),
            F.col("o_orderkey").alias("id"),
            F.sha2(
                F.concat_ws(
                    "|",
                    F.col("config_name"),
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderstatus"),
                ),
                256,
            ).alias("delivery_key"),
        )
    )


SQL_CONFIG_FANOUT = """
WITH configs(config_name, want_priority, want_status) AS (
  VALUES ('urgent-watch', '1-URGENT', NULL),
         ('high-watch', '2-HIGH', NULL),
         ('open-anything', NULL, 'O'),
         ('finished-urgent', '1-URGENT', 'F')
)
SELECT config_name, o_orderkey AS id,
       sha256(config_name || '|' || CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus)
         AS delivery_key
FROM orders JOIN configs
  ON (want_priority IS NULL OR o_orderpriority = want_priority)
 AND (want_status IS NULL OR o_orderstatus = want_status)
WHERE o_orderkey % 40 = 0
"""


def q_config_fanout_1k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-as-data fan-out at PRODUCTION config cardinality: 1 000
    synthetic configs generated as a DataFrame (never a driver-side literal
    list), theta-joined to orders under the same nullable-predicate shape
    as ``config_join_fanout``.  The fan-out stays ONE broadcast join
    regardless of config count — the fact side never shuffles, each order
    row evaluates the broadcast predicate table in place (plan-pinned by
    tests/test_plan_shapes.py::test_config_fanout_single_broadcast).
    ~1/6 of configs match each order → a genuine row explosion, priced in
    the bench."""
    orders = _t(spark, sf_dir, "orders")
    pr = F.array(
        F.lit("1-URGENT"), F.lit("2-HIGH"), F.lit("3-MEDIUM"),
        F.lit("4-NOT SPECIFIED"), F.lit("5-LOW"),
    )
    st = F.array(F.lit("O"), F.lit("F"), F.lit("P"))
    configs = spark.range(1000).select(
        F.concat(F.lit("cfg-"), F.col("id")).alias("config_name"),
        F.when(
            F.col("id") % 6 < 5,
            F.element_at(pr, (F.col("id") % 6 + 1).cast("int")),
        ).alias("want_priority"),
        F.when(
            F.col("id") % 4 < 3,
            F.element_at(st, (F.col("id") % 4 + 1).cast("int")),
        ).alias("want_status"),
    )
    cond = (
        configs["want_priority"].isNull()
        | (orders["o_orderpriority"] == configs["want_priority"])
    ) & (
        configs["want_status"].isNull()
        | (orders["o_orderstatus"] == configs["want_status"])
    )
    return (
        orders.where(F.col("o_orderkey") % 400 == 0)
        .join(F.broadcast(configs), cond)
        .select(
            F.col("config_name"),
            F.col("o_orderkey").alias("id"),
            F.sha2(
                F.concat_ws(
                    "|",
                    F.col("config_name"),
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderstatus"),
                ),
                256,
            ).alias("delivery_key"),
        )
    )


SQL_CONFIG_FANOUT_1K = """
WITH configs AS (
  SELECT 'cfg-' || CAST(i AS VARCHAR) AS config_name,
         CASE WHEN i % 6 < 5 THEN
           (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])
             [CAST(i % 6 AS INT) + 1]
         END AS want_priority,
         CASE WHEN i % 4 < 3 THEN
           (['O','F','P'])[CAST(i % 4 AS INT) + 1]
         END AS want_status
  FROM range(1000) t(i)
)
SELECT config_name, o_orderkey AS id,
       sha256(config_name || '|' || CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus)
         AS delivery_key
FROM orders JOIN configs
  ON (want_priority IS NULL OR o_orderpriority = want_priority)
 AND (want_status IS NULL OR o_orderstatus = want_status)
WHERE o_orderkey % 400 = 0
"""


# ---------------------------------------------------------------------------
# W5 — event-time tumbling-window aggregation (the streaming-agg shape, run
# batch here; streaming variant with watermark in streaming/windows.py)
# ---------------------------------------------------------------------------
def q_w5_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("event_type").alias("etype"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "etype",
            "n",
            "sum_value",
        )
    )


SQL_W5 = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type AS etype,
       count(*) AS n,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# ---------------------------------------------------------------------------
# J4 — composite-key dimension lookup with build-side name normalization
# (reference area-polygon lookup by (area_type, area) with str.strip()'d
# names, ServiceAlertAugmenter.py:509-535) — exercised through the engine's
# area_lookup_join over synthetically dirtied keys.
# ---------------------------------------------------------------------------
def q_j4_composite_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from service_alerts_connector_spark.operators.spatial import (
        area_lookup_join,
    )

    part = _t(spark, sf_dir, "part")
    # dimension: one row per (brand, type) with a synthetic "polygon" id;
    # dirty names: padded + upper-cased on the build side
    dim = (
        part.groupBy("p_brand", "p_type")
        .agg(F.min("p_partkey").alias("dim_id"))
        .select(
            F.col("p_brand").alias("area_type"),
            F.concat(F.lit("  "), F.upper(F.col("p_type")), F.lit(" ")).alias(
                "area"
            ),
            F.concat(F.lit("POLY-"), F.col("dim_id").cast("string")).alias(
                "WKT"
            ),
        )
    )
    probe = part.where(F.col("p_partkey") % 9 == 0).select(
        F.col("p_partkey").alias("Id"),
        F.col("p_brand").alias("area_type"),
        F.col("p_type").alias("area"),
    )
    return area_lookup_join(probe, dim).select(
        "Id", F.col("area_wkt").alias("polygon_ref")
    )


SQL_J4 = """
WITH dim AS (
  SELECT p_brand AS area_type,
         '  ' || upper(p_type) || ' ' AS area,
         'POLY-' || CAST(min(p_partkey) AS VARCHAR) AS wkt
  FROM part GROUP BY p_brand, p_type
)
SELECT p.p_partkey AS Id, d.wkt AS polygon_ref
FROM part p
LEFT JOIN dim d
  ON p.p_brand = d.area_type
 AND lower(trim(p.p_type)) = lower(trim(d.area))
WHERE p.p_partkey % 9 = 0
"""


# ---------------------------------------------------------------------------
# Catalog assembly
# ---------------------------------------------------------------------------
CORE_QUERIES: dict[str, QueryFn] = {
    "p1_projection": q_p1_projection,
    "p4_time_window": q_p4_time_window,
    "feed_current_urgent": q_feed_current_urgent,
    "p6_predicate_engine": q_p6_predicate_engine,
    "p10_topk": q_p10_topk,
    "j1_lookup_join": q_j1_lookup_join,
    "j2_incremental_anti": q_j2_incremental_anti,
    "j8_cdc_diff": q_j8_cdc_diff,
    "a1_collect_list": q_a1_collect_list,
    "a3_lastwins_dedup": q_a3_lastwins_dedup,
    "a5_guards": q_a5_guards,
    "w3_best_per_group": q_w3_best_per_group,
    "pricing_summary": q_pricing_summary,
    "f9_checksum": q_f9_checksum,
    "f1_zeropad": q_f1_zeropad,
    "f6_time_repair": q_f6_time_repair,
    "f4_date_arith": q_f4_date_arith,
    "f12_fuzzy_join": q_f12_fuzzy_join,
    "f15_json_extract": q_f15_json_extract,
    "u1_union_distinct": q_u1_union_distinct,
    "f8_location_coalesce": q_f8_location_coalesce,
    "f16_templates": q_f16_templates,
    "a2_all_window_anchor": q_a2_all_window_anchor,
    "u2_difference_by_key": q_u2_difference_by_key,
    "f17_array_ops": q_f17_array_ops,
    "config_join_fanout": q_config_join_fanout,
    "config_fanout_1k": q_config_fanout_1k,
    "w5_windowed_agg": q_w5_windowed_agg,
    "j4_composite_lookup": q_j4_composite_lookup,
}

CORE_ORACLES: dict[str, str] = {
    "p1_projection": SQL_P1,
    "p4_time_window": SQL_P4,
    "feed_current_urgent": SQL_FEED,
    "p6_predicate_engine": SQL_P6,
    "p10_topk": SQL_P10,
    "j1_lookup_join": SQL_J1,
    "j2_incremental_anti": SQL_J2,
    "j8_cdc_diff": SQL_J8,
    "a1_collect_list": SQL_A1,
    "a3_lastwins_dedup": SQL_A3,
    "a5_guards": SQL_A5,
    "w3_best_per_group": SQL_W3,
    "pricing_summary": SQL_PRICING,
    "f9_checksum": SQL_F9,
    "f1_zeropad": SQL_F1,
    "f6_time_repair": SQL_F6,
    "f4_date_arith": SQL_F4,
    "f12_fuzzy_join": SQL_F12,
    "f15_json_extract": SQL_F15,
    "u1_union_distinct": SQL_U1,
    "f8_location_coalesce": SQL_F8,
    "f16_templates": SQL_F16,
    "a2_all_window_anchor": SQL_A2,
    "u2_difference_by_key": SQL_U2,
    "f17_array_ops": SQL_F17,
    "config_join_fanout": SQL_CONFIG_FANOUT,
    "config_fanout_1k": SQL_CONFIG_FANOUT_1K,
    "w5_windowed_agg": SQL_W5,
    "j4_composite_lookup": SQL_J4,
}

"""Relational coverage queries (SURVEY.md §2.2: scans, filters, joins,
aggregations, windows, sorts/limits, set ops) over the TPC-H-ish tables.

Monetary aggregates are cast to DECIMAL(18,2) before summing so results
are bit-exact across Spark and DuckDB (double summation order is not),
then emitted as integer cents (``CAST(x * 100 AS BIGINT)``): Spark
renders DECIMAL(38,2) with trailing zeros ('248095.00') while DuckDB's
.df() downcasts DECIMAL to float64 ('248095.0'), so a DECIMAL output
column hash-mismatches in the gate even when the values are identical.
BIGINT cents render identically everywhere (CLAUDE.md: integer
quantization for cross-engine exactness).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _sql(spark: SparkSession, sf_dir: str, tables: list[str], sql: str) -> DataFrame:
    """Run ``sql`` (the text DuckDB also runs) with each ``FROM``/``JOIN``
    of a name in ``tables`` bound to that parquet table for this call
    only, so no session temp view is created or re-pointed."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # timestamp literals
    text = re.sub(rf"\b(FROM|JOIN)(\s+)({'|'.join(tables)})\b", r"\1\2{\3}", sql)
    return spark.sql(text, **{t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in tables})


_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price_c,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

_Q_JOIN = """
SELECT n.n_name AS nation, r.r_name AS region,
       count(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
"""

_Q_WINDOW = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS totalprice_c,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 AS BIGINT) AS running_spend_c
FROM orders
"""

_Q_TOPK = """
SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS spend_c
FROM orders
GROUP BY o_custkey
ORDER BY spend_c DESC, o_custkey ASC
LIMIT 10
"""

_Q_EVENTS = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_c
FROM events
GROUP BY event_type
"""

_Q_SETOPS = """
SELECT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
"""


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, ["lineitem"], _Q1)


def join_customer_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join; nation/region are broadcast by Catalyst (tiny dims)."""
    return _sql(spark, sf_dir, ["customer", "nation", "region"], _Q_JOIN)


def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, ["orders"], _Q_WINDOW)


def topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, ["orders"], _Q_TOPK)


def events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, ["events"], _Q_EVENTS)


def purchasers_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, ["events"], _Q_SETOPS)


def asof_purchase_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN — an operator Spark lacks natively: for each 'error'
    event, the same user's most recent 'purchase' at-or-before it.

    Implementation is the distributed union+window shape: tag both
    sides, union, ONE shuffle on (user_id) with an ordered window, and
    `last(purchase_cols, ignorenulls=True)` carries the running most-
    recent build row to each probe row.  No join explosion — cost is
    one sort per user partition, the right shape at any scale (a naive
    range join would be quadratic per key).

    Ties: a purchase at the EXACT error timestamp counts (at-or-before
    is inclusive) — the union sort orders build rows before probe rows
    at equal ts.  The old build-side (user_id, ts)→max(event_id)
    pre-aggregation (a full extra shuffle of the purchase rows) is
    FOLDED INTO the window sort key instead: build rows at equal
    (user, ts) sort purchase_id ASCENDING, so the running ``last(...,
    ignorenulls)`` lands on the max event_id — identical output rows,
    one Exchange fewer (guide §2.4: operations keyed the same way
    share one shuffle).  The DuckDB oracle is the engine's NATIVE ASOF
    JOIN over a pre-deduped build — an independent implementation of
    the same semantics.
    """
    from pyspark.sql.window import Window

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    build = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t"),
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("is_build"),
        F.lit(None).cast("long").alias("probe_id"),
    )
    probe = e.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(0).alias("is_build"),
        F.col("event_id").alias("probe_id"),
    )
    u = build.unionByName(probe)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t"), F.desc("is_build"), F.asc("purchase_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "user_id", "t", "is_build", "probe_id",
        F.last("purchase_id", ignorenulls=True).over(w).alias("purchase_id"),
        F.last(F.when(F.col("is_build") == 1, F.col("t")), ignorenulls=True).over(w).alias("purchase_ts"),
    )
    return (
        carried.where((F.col("is_build") == 0) & F.col("purchase_id").isNotNull())
        .select(
            F.col("probe_id").alias("event_id"),
            "user_id",
            F.col("t").alias("error_ts"),
            "purchase_id",
            "purchase_ts",
        )
    )


def rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style CONTINUOUS-AGGREGATE rollup: hourly aggregates
    computed FROM the minutely partial aggregates, never from raw rows
    — the TimescaleDB continuous-aggregate pattern that makes
    multi-resolution time series O(partials) instead of O(raw) per
    refresh.  Only COMPOSABLE stats (count/sum/min/max — no distincts)
    so the two-level result is exactly the direct aggregate; the DuckDB
    oracle computes hourly DIRECTLY from raw rows, proving the partial
    composition is lossless.
    """
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.expr("cast(round(value * 100) as long)")
    minutely = e.groupBy(
        F.date_trunc("minute", "ts").alias("minute_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.min(cents).alias("mn"),
        F.max(cents).alias("mx"),
    )
    return (
        minutely.groupBy(
            F.date_trunc("hour", "minute_start").alias("hour_start"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").alias("total_value_c"),
            F.min("mn").alias("min_value_c"),
            F.max("mx").alias("max_value_c"),
        )
    )


_Q_ROLLUP_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_c,
       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_value_c,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_value_c
FROM events GROUP BY 1, 2
"""

# grouping sets: one shared SQL text (beyond the reference, which has no
# relational layer at all — SURVEY §2.2 'not needed'; provided anyway
# for full relational-category coverage)
_Q_CUBE = """
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_c
FROM events
GROUP BY ROLLUP (event_type, CAST(date_trunc('day', ts) AS TIMESTAMP))
"""


def events_rollup_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP (grouping sets): per (type, day), per type, and
    grand total in one pass — identical SQL text runs on both engines."""
    return _sql(spark, sf_dir, ["events"], _Q_CUBE)


# gaps-and-islands sessionization — ONE SQL text for both engines, and
# the BATCH twin of streaming/stream_pipeline.stream_user_sessions: the
# same session definition computed three independent ways (streaming
# engine state store, Spark SQL window functions, DuckDB) — see
# tests/test_streaming.py for the streaming↔batch cross-validation
_Q_SESSIONS = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def user_sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) via gaps-and-islands windows."""
    return _sql(spark, sf_dir, ["events"], _Q_SESSIONS)


RANGE_WINDOW_US = 5 * 60 * 1_000_000  # 5 minutes in microseconds


def range_join_copresence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN — the other operator Spark lacks natively: unordered
    pairs of same-user events within 5 minutes of each other.

    A naive |Δt| < W self-join is quadratic per user.  The distributed
    shape is BUCKETIZATION: assign each event to a W-wide time bucket;
    any qualifying pair's buckets differ by ≤ 1, so exploding ONE side
    into (bucket, bucket+1) turns the range predicate into an equi-join
    on (user_id, bucket) with a cheap exact |Δt| post-filter — candidate
    volume is O(events per (user, 2W) window), not O(events²).
    The DuckDB oracle is the naive inequality join (exact at test
    scale), independently validating the bucketed rewrite.
    """
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        # parquet ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the
        # cast is identity under the UTC session timezone
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    a = e.select(
        "user_id", F.col("event_id").alias("event_a"), F.col("t_us").alias("t_a"),
        F.floor(F.col("t_us") / RANGE_WINDOW_US).alias("jb"),
    )
    b = e.select(
        "user_id", F.col("event_id").alias("event_b"), F.col("t_us").alias("t_b"),
        F.explode(
            F.array(
                F.floor(F.col("t_us") / RANGE_WINDOW_US),
                F.floor(F.col("t_us") / RANGE_WINDOW_US) + 1,
            )
        ).alias("jb"),
    )
    # a pair with Δbucket = ±1 matches the equi-join in only ONE
    # orientation — canonicalize (least, greatest) AFTER the join rather
    # than filtering on the join orientation, or half the cross-bucket
    # pairs vanish
    joined = a.join(b, on=["user_id", "jb"]).where(
        (F.col("event_a") != F.col("event_b"))
        & (F.abs(F.col("t_b") - F.col("t_a")) < RANGE_WINDOW_US)
    )
    return (
        joined.select(
            "user_id",
            F.least("event_a", "event_b").alias("event_a_c"),
            F.greatest("event_a", "event_b").alias("event_b_c"),
            F.when(F.col("event_a") < F.col("event_b"), F.col("t_b") - F.col("t_a"))
            .otherwise(F.col("t_a") - F.col("t_b"))
            .alias("delta_us"),
        )
        .dropDuplicates(["event_a_c", "event_b_c"])
        .select(
            "user_id",
            F.col("event_a_c").alias("event_a"),
            F.col("event_b_c").alias("event_b"),
            "delta_us",
        )
    )


_Q_RANGE_ORACLE = f"""
SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
       CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS delta_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(b.ts) - epoch_us(a.ts)) < {RANGE_WINDOW_US}
"""


_Q_ASOF_ORACLE = """
WITH probe AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
build AS (
  SELECT user_id, ts, max(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts AS error_ts, b.purchase_id, b.ts AS purchase_ts
FROM probe p ASOF JOIN build b ON p.user_id = b.user_id AND p.ts >= b.ts
"""


def queries():
    return {
        "tpch_q1": tpch_q1,
        "asof_purchase_before_error": asof_purchase_before_error,
        "range_join_copresence": range_join_copresence,
        "rollup_hypertable": rollup_hypertable,
        "user_sessions_batch": user_sessions_batch,
        "events_rollup_sets": events_rollup_sets,
        "join_customer_geo": join_customer_geo,
        "window_running_spend": window_running_spend,
        "topk_customers": topk_customers,
        "events_by_type": events_by_type,
        "purchasers_without_errors": purchasers_without_errors,
        "events_value_percentiles": events_value_percentiles,
    }


def oracle_sql():
    return {
        "tpch_q1": _Q1,
        "asof_purchase_before_error": _Q_ASOF_ORACLE,
        "range_join_copresence": _Q_RANGE_ORACLE,
        "rollup_hypertable": _Q_ROLLUP_ORACLE,
        "user_sessions_batch": _Q_SESSIONS,
        "events_rollup_sets": _Q_CUBE,
        "join_customer_geo": _Q_JOIN,
        "window_running_spend": _Q_WINDOW,
        "topk_customers": _Q_TOPK,
        "events_by_type": _Q_EVENTS,
        "purchasers_without_errors": _Q_SETOPS,
        "events_value_percentiles": _Q_PCT,
    }


PCT_QS = (50, 95, 99)


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed percentiles (nearest-rank) per event_type —
    not approx_percentile, whose internal sketch differs across
    engines and can never sit under a hash-exact gate.  Shape: one
    sort-within-group window (rank), one tiny per-group count, a
    3-row-per-group rank lookup join.  Values are quantized to integer
    cents (CLAUDE.md: never emit DOUBLE where the driver hashes
    renderings).  At 100 TB the same shape holds per partition-range;
    for a single global percentile you'd sample-and-bound first
    (Spark's range partitioner trick) — per-group percentiles like
    these stay fully parallel."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.expr("cast(round(value * 100) as long)").alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("v")
    ranked = e.withColumn("r", F.row_number().over(w))
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ks = counts.select(
        "event_type",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(q).alias("pct"),
                    F.expr(f"(n * {q} + 99) div 100").alias("k"),
                )
                for q in PCT_QS
            ])
        ).alias("qk"),
    ).select("event_type", F.col("qk.pct").alias("pct"), F.col("qk.k").alias("k"))
    ks = ks.select(
        F.col("event_type").alias("k_type"), "pct", "k"
    )
    return (
        ranked.join(
            ks,
            on=[ranked["event_type"] == ks["k_type"], ranked["r"] == ks["k"]],
        )
        .select("event_type", "pct", F.col("v").alias("value_cents"))
    )


_Q_PCT = f"""
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
),
ranked AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS r
  FROM e
),
counts AS (SELECT event_type, count(*) AS n FROM e GROUP BY event_type),
ks AS (
  SELECT event_type, q.pct, (n * q.pct + 99) // 100 AS k
  FROM counts, (VALUES {', '.join(f'({q})' for q in PCT_QS)}) AS q(pct)
)
SELECT ks.event_type, CAST(ks.pct AS INT) AS pct, ranked.v AS value_cents
FROM ranked JOIN ks ON ranked.event_type = ks.event_type AND ranked.r = ks.k
"""

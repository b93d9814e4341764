"""Deterministic synthetic transcript source (BASELINE.json input_hint shape).

The sandbox testdata has no transcript table, so we synthesize one
deterministically from ``lineitem`` with SQL that is executable verbatim
by BOTH Spark SQL and DuckDB — the correctness oracle runs the *same*
text, so the two engines' transcript tables agree exactly by
construction (verified in tests/test_queries_vs_oracles.py and
tests/test_kg_pipeline.py).

Shape (input_hint): (conv_id string, turn_idx int, role string,
text string, tool string, ts timestamp).  One conversation per order,
one turn per lineitem row; ~1-7 turns/conversation; entity mentions
``ENT_nnnn`` embedded in text with a skewed (hot-entity) distribution —
entity ids 0-6 absorb ~1/3 of all mentions, exercising the salted
repartitioning path.

At 10^12-turn scale this module is replaced by
``spark.read.format("iceberg").load(...)`` of the real transcript
table; everything downstream consumes only the DataFrame contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

N_ENTITIES = 211
HOT_ENTITIES = 7
VOCAB = "https://sparkld.dev/vocab#"
CONV_NS = "https://sparkld.dev/conv/"
ENTITY_NS = "https://sparkld.dev/entity/"
EPOCH = 1704067200  # 2024-01-01T00:00:00Z

# {ts_fn}: Spark=timestamp_micros, DuckDB=make_timestamp (both: µs → naive ts)
#
# {conv_cte}/{conv_expr}/{part_key}/{li_rel}: the window partition key.
# conv_id = concat('conv-', lpad(orderkey)) is a BIJECTION of l_orderkey
# while the orderkey renders in at most 10 characters (the lpad width;
# the Spark rendering raises past it), so partitioning the row_number
# window by either yields identical partition groups and identical
# row_numbers.  The SPARK rendering computes conv_id in an inner
# subquery and partitions the window by the conv_id COLUMN, so the one
# exchange this window plans is hashpartitioning(conv_id) and every
# downstream groupBy("conv_id") / Window.partitionBy("conv_id") — the
# pipeline's per-conversation assembly above all — REUSES it instead of
# adding a second full-payload shuffle (optimization guide §2.4: two
# operations keyed the same way share one exchange; partitioning by the
# raw expression does NOT work — the analyzer extracts it as a fresh
# `_w0` attribute that never unifies with the conv_id alias).  The
# DUCKDB rendering is BYTE-IDENTICAL to the pre-r7 text (l_orderkey
# key, no inner subquery): the oracle SQL is fingerprinted by the
# driver and must not change.  Equality of the two renderings' results
# is the bijection argument above, proven by the gate at three scales.
_TRANSCRIPTS_SQL = """
WITH {conv_cte}turns_base AS (
  SELECT
    {conv_expr} AS conv_id,
    CAST(row_number() OVER (
      PARTITION BY {part_key}
      -- (orderkey, linenumber) is NOT unique in the generated data;
      -- extend the sort key until it is, so row_number is deterministic
      -- and identical across engines
      ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
    ) - 1 AS INT) AS turn_idx,
    l_orderkey, l_partkey, l_suppkey, l_quantity, l_returnflag, l_linestatus
  FROM {li_rel}
), enriched AS (
  SELECT
    conv_id, turn_idx, l_orderkey, l_quantity, l_returnflag, l_linestatus,
    CASE WHEN l_partkey % 3 = 0 THEN l_partkey % {hot} ELSE l_partkey % {n_ent} END AS ent1,
    CASE WHEN l_suppkey % 5 = 0 THEN l_suppkey % 3 ELSE l_suppkey % {n_ent} END AS ent2,
    CASE WHEN turn_idx % 3 = 0 THEN 'user'
         WHEN turn_idx % 3 = 1 THEN 'assistant'
         ELSE 'tool' END AS role
  FROM turns_base
)
SELECT
  conv_id,
  turn_idx,
  role,
  concat(
    CASE WHEN l_orderkey % 97 = 0 THEN 'Zürich café — ' ELSE '' END,
    'The ', l_returnflag, ' shipment of ', CAST(l_quantity AS INT),
    ' units references ENT_', lpad(concat('', ent1), 4, '0'),
    CASE WHEN l_quantity >= 25
         THEN concat(' and ENT_', lpad(concat('', ent2), 4, '0'))
         ELSE '' END,
    ' with status ', l_linestatus, '.'
  ) AS text,
  CASE WHEN role = 'tool' THEN 'kb_search' ELSE NULL END AS tool,
  {ts_fn}(({epoch} + l_orderkey * 100 + turn_idx) * 1000000) AS ts
FROM enriched
"""

_ENTITY_DICT_SQL = """
SELECT
  concat('E', lpad(concat('', {id_col}), 4, '0')) AS entity_id,
  concat('ENT_', lpad(concat('', {id_col}), 4, '0')) AS surface_norm,
  concat('{entity_ns}E', lpad(concat('', {id_col}), 4, '0')) AS canonical_iri
FROM {range_rel}
"""


_CONV_EXPR = "concat('conv-', lpad(concat('', l_orderkey), 10, '0'))"
# Spark rendering only (the DuckDB text must not change): lpad TRUNCATES
# a rendering longer than 10 characters, so such an orderkey would share
# its conv_id with another order.  Fail the row instead — a per-row check
# inside the projection, no extra job.  NULL orderkeys still give NULL.
_CONV_EXPR_CHECKED = (
    "CASE WHEN length(concat('', l_orderkey)) > 10 THEN raise_error(concat("
    "'l_orderkey ', l_orderkey, ' does not fit the 10-character conv_id'))"
    f" ELSE {_CONV_EXPR} END"
)


def transcripts_sql(lineitem_rel: str, dialect: str, distribute: bool = True) -> str:
    ts_fn = "timestamp_micros" if dialect == "spark" else "make_timestamp"
    if dialect == "spark":
        # DISTRIBUTE BY conv_id makes the one per-conversation shuffle an
        # EXPLICIT repartition at the source: the row_number window (and
        # every downstream groupBy/Window on conv_id) reuses it, and
        # consumers whose plan PRUNES the window (e.g. kg_entity_links
        # needs no turn_idx) still get the scan → synthesize → explode →
        # partial-aggregate chain spread across the cluster instead of
        # running inside the single scan split (guide §2.4/§2.5).
        # ``distribute=False`` drops it: transcripts_df passes the same
        # under-partitioned-input guard as partitioning.spread_input, so
        # a properly-split production source is NOT forced through an
        # exchange its window-pruned consumers never needed.
        dist = "  DISTRIBUTE BY conv_id\n" if distribute else ""
        conv_cte = (
            f"conv_base AS (\n  SELECT {_CONV_EXPR_CHECKED} AS conv_id, *"
            f"\n  FROM {lineitem_rel}\n{dist}), "
        )
        conv_expr, part_key, li_rel = "conv_id", "conv_id", "conv_base"
    else:
        conv_cte, conv_expr, part_key, li_rel = (
            "", _CONV_EXPR, "l_orderkey", lineitem_rel
        )
    return _TRANSCRIPTS_SQL.format(
        conv_cte=conv_cte, conv_expr=conv_expr, part_key=part_key,
        li_rel=li_rel, ts_fn=ts_fn, epoch=EPOCH,
        hot=HOT_ENTITIES, n_ent=N_ENTITIES,
    )


def transcripts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript DataFrame for a testdata scale-factor directory.

    All synthesis is Catalyst-expressible (projection + one window over
    the natural (orderkey, linenumber) clustering) — no Python UDFs.
    Session timezone is pinned to UTC so timestamp rendering (xsd:dateTime
    lexicals, oracle comparisons) is caller-environment-independent.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # same under-partitioned-input guard as partitioning.spread_input:
    # only force the source-side conv_id exchange when the scan would
    # otherwise run single-threaded (the one-file test corpus); a
    # well-split production table keeps its natural partitioning and
    # the window plans its own exchange where needed
    under = li.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    # the source is bound per call (spark.sql registers it under a unique
    # name and drops it after analysis), not as a fixed session-global
    # temp view another thread could re-point between register and read
    return spark.sql(transcripts_sql("{li}", "spark", distribute=under), li=li)


def transcripts_oracle_cte(lineitem_rel: str = "lineitem") -> str:
    """DuckDB-executable body (same SQL text, DuckDB ts function)."""
    return transcripts_sql(lineitem_rel, "duckdb")


def entity_dict_df(spark: SparkSession) -> DataFrame:
    return spark.sql(_ENTITY_DICT_SQL.format(
        id_col="id", range_rel=f"range({N_ENTITIES})", entity_ns=ENTITY_NS
    ))


def entity_dict_oracle_sql() -> str:
    return _ENTITY_DICT_SQL.format(
        id_col="range", range_rel=f"range({N_ENTITIES})", entity_ns=ENTITY_NS
    )

"""Run every __spark_entry__ queries() entry against its DuckDB oracle
at sf0.001 — the repo-local mirror of the driver's correctness gate.

(The KG queries have their own dedicated tests in test_kg_pipeline.py;
this test sweeps everything, so a new query can't be registered in
__spark_entry__ without oracle coverage.)
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from tests.spark_fixtures import compare_with_oracle, spark  # noqa: F401

pytestmark = pytest.mark.spark

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_query_vs_oracle(spark, name):  # noqa: F811
    fn = QUERIES[name]
    df = fn(spark, "/root/testdata/sf0.001")
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op)
        assert df.count() >= 0
        return
    compare_with_oracle(df, ORACLES[name])


def test_entry_smoke(spark):  # noqa: F811
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_purchasers_without_errors_non_empty_witness(spark, tmp_path):  # noqa: F811
    """The gate fixture yields 0 rows for this EXCEPT at every sf (all
    purchasers also error) — both engines agreeing on the empty set is a
    vacuous pass.  This witness fixture makes EXCEPT return rows and
    asserts oracle equality on NON-empty output."""
    import duckdb
    import pandas as pd

    from jsonld_ex_spark.functions.relational_ops import purchasers_without_errors

    pdf = pd.DataFrame(
        {
            "event_id": range(6),
            # microsecond precision: Spark rejects TIMESTAMP(NANOS) parquet
            "ts": pd.to_datetime(["2024-01-01 00:00:00"] * 6).astype("datetime64[us]"),
            "user_id": [1, 1, 2, 2, 3, 4],
            "event_type": ["purchase", "purchase", "purchase", "error", "error", "purchase"],
            "value": [1.0] * 6,
            "props": ["{}"] * 6,
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    out = purchasers_without_errors(spark, str(tmp_path))
    got = sorted(r["user_id"] for r in out.collect())
    assert got == [1, 4]  # NON-empty: purchasers 1 and 4 never errored
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    oracle = sorted(r[0] for r in con.execute(
        "SELECT user_id FROM events WHERE event_type = 'purchase' "
        "EXCEPT SELECT user_id FROM events WHERE event_type = 'error'"
    ).fetchall())
    assert got == oracle


def test_relational_queries_leave_callers_temp_views_alone(spark):  # noqa: F811
    """The relational queries bind their input tables per call: a
    caller's own temp view named like an input table (``orders``) still
    resolves to the caller's data after ``topk_customers`` runs."""
    from jsonld_ex_spark.functions.relational_ops import topk_customers
    from tests.spark_fixtures import SF_DIR

    spark.range(3).withColumnRenamed("id", "mine").createOrReplaceTempView("orders")
    try:
        assert topk_customers(spark, SF_DIR).count() > 0
        mine = spark.table("orders")
        assert mine.columns == ["mine"]
        assert sorted(r["mine"] for r in mine.collect()) == [0, 1, 2]
    finally:
        spark.catalog.dropTempView("orders")

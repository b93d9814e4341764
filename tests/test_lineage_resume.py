"""Checkpoint/resume invariants (north_star): interrupted run resumes
from the per-partition lineage ledger and the final triple set equals a
single uninterrupted run's output exactly (incl. skolem ids)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from jsonld_ex_spark.operators.kg_pipeline import conversation_triples
from jsonld_ex_spark.operators.triples import dedup_triples, salted_repartition, with_subject_bucket
from jsonld_ex_spark.sources.transcripts import transcripts_df
from jsonld_ex_spark.streaming.lineage import bucket_of, run_with_lineage, write_bucketed

from tests.spark_fixtures import spark  # noqa: F401

pytestmark = pytest.mark.spark
SF = "/root/testdata/sf0.001"


def test_resume_produces_identical_triples(spark):  # noqa: F811
    tmp = tempfile.mkdtemp()
    out1, led1 = f"{tmp}/full/triples", f"{tmp}/full/ledger"
    out2, led2 = f"{tmp}/resumed/triples", f"{tmp}/resumed/ledger"
    try:
        t = transcripts_df(spark, SF)

        # uninterrupted run
        m = run_with_lineage(t, spark, conversation_triples, out1, led1, "run-a", n_buckets=8)
        assert m["buckets_processed"] == 8

        # interrupted run: first process only buckets 0-3 (simulated crash),
        # then resume over the full input
        half = t.where(bucket_of("conv_id", 8) < 4)
        m1 = run_with_lineage(half, spark, conversation_triples, out2, led2, "run-b1", n_buckets=8)
        assert 0 < m1["buckets_processed"] <= 4
        m2 = run_with_lineage(t, spark, conversation_triples, out2, led2, "run-b2", n_buckets=8)
        assert m1["buckets_processed"] + m2["buckets_processed"] == 8

        a = sorted(map(tuple, spark.read.parquet(out1).drop("_bucket").collect()))
        b = sorted(map(tuple, spark.read.parquet(out2).drop("_bucket").collect()))
        assert a == b

        # third call: nothing left to do
        m3 = run_with_lineage(t, spark, conversation_triples, out2, led2, "run-b3", n_buckets=8)
        assert m3["resumed"] and m3["buckets_processed"] == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_after_crash_inside_write_ledger_window(spark):  # noqa: F811
    """Kill between the triple write and the ledger append: bucket 0's
    partition holds PARTIAL output (half its conversations) and no
    ledger row exists.  Resume must re-process bucket 0 and REPLACE the
    partial partition (dynamic partition overwrite), not append to it —
    final output equals an uninterrupted run exactly."""
    tmp = tempfile.mkdtemp()
    out1, led1 = f"{tmp}/full/triples", f"{tmp}/full/ledger"
    out2, led2 = f"{tmp}/crashed/triples", f"{tmp}/crashed/ledger"
    try:
        t = transcripts_df(spark, SF)
        run_with_lineage(t, spark, conversation_triples, out1, led1, "run-a", n_buckets=8)

        # simulated crash: bucket 0 partially written, ledger never touched
        partial = t.where((bucket_of("conv_id", 8) == 0) & (F.xxhash64("conv_id", F.lit(99)) % 2 == 0))
        trip = conversation_triples(partial).withColumn("_bucket", bucket_of("conv_id", 8))
        write_bucketed(trip, out2, spark)
        partial_rows = spark.read.parquet(out2).count()
        assert partial_rows > 0

        m = run_with_lineage(t, spark, conversation_triples, out2, led2, "run-resume", n_buckets=8)
        assert m["buckets_processed"] == 8  # bucket 0 re-processed too

        a = sorted(map(tuple, spark.read.parquet(out1).drop("_bucket").collect()))
        b = sorted(map(tuple, spark.read.parquet(out2).drop("_bucket").collect()))
        assert a == b  # no duplicated triples from the partial write
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _never(df):
    raise AssertionError("triples_fn must not be called")


def test_all_buckets_done_runs_no_job(spark, tmp_path):  # noqa: F811
    """With every bucket ledgered, the call returns from the ledger
    alone: neither the input nor ``triples_fn`` is evaluated."""
    out, led = str(tmp_path / "triples"), str(tmp_path / "ledger")
    t = transcripts_df(spark, SF)
    run_with_lineage(t, spark, conversation_triples, out, led, "run-a", n_buckets=4)
    unreadable = t.withColumn("conv_id", F.raise_error(F.lit("input was evaluated")))
    m = run_with_lineage(unreadable, spark, _never, out, led, "run-b", n_buckets=4)
    assert m == {"buckets_processed": 0, "n_triples": 0, "resumed": True}
    assert spark.read.parquet(led).count() == 4


def test_first_run_over_empty_input_writes_no_ledger(spark, tmp_path):  # noqa: F811
    out, led = str(tmp_path / "triples"), str(tmp_path / "ledger")
    empty = transcripts_df(spark, SF).where(F.lit(False))
    m = run_with_lineage(empty, spark, conversation_triples, out, led, "run-a", n_buckets=4)
    assert m == {"buckets_processed": 0, "n_triples": 0, "resumed": True}
    assert not os.path.exists(led)


def test_write_bucketed_leaves_session_conf_alone(spark, tmp_path):  # noqa: F811
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    rows = spark.range(4).selectExpr("CAST(id AS STRING) AS conv_id", "CAST(id % 2 AS INT) AS _bucket")
    write_bucketed(rows, str(tmp_path / "ok"), spark)
    assert spark.conf.get(key) == before
    failing = rows.withColumn("conv_id", F.raise_error(F.lit("write fails")))
    with pytest.raises(Exception, match="write fails"):
        write_bucketed(failing, str(tmp_path / "failed"), spark)
    assert spark.conf.get(key) == before


def test_corrupt_ledger_raises(spark, tmp_path):  # noqa: F811
    """An unreadable ledger is an error, not "no ledger yet": reading
    it as empty would rebuild every bucket and ledger it a second time."""
    out, led = str(tmp_path / "triples"), str(tmp_path / "ledger")
    os.makedirs(led)
    with open(os.path.join(led, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="part-00000.parquet"):
        run_with_lineage(transcripts_df(spark, SF), spark, conversation_triples, out, led, "run-a", n_buckets=4)
    assert os.listdir(led) == ["part-00000.parquet"]
    assert not os.path.exists(out)


def test_salted_repartition_spreads_hot_subjects(spark):  # noqa: F811
    triples = conversation_triples(transcripts_df(spark, SF))
    hot = triples.groupBy("subj").count().orderBy(F.desc("count")).first()
    salted = salted_repartition(triples.where(F.col("subj") == hot["subj"]), n_salts=8, partitions=8)
    parts = salted.rdd.glom().map(len).collect()
    nonempty = [p for p in parts if p > 0]
    assert len(nonempty) > 1, f"hot subject not spread: {parts}"


def test_dedup_and_bucket_columns(spark):  # noqa: F811
    triples = conversation_triples(transcripts_df(spark, SF))
    n = triples.count()
    assert dedup_triples(triples).count() == n  # pipeline emits no dup triples
    b = with_subject_bucket(triples, 16).select("subj_bucket").distinct().count()
    assert 1 < b <= 16


def test_iceberg_sink_roundtrip(spark, tmp_path):  # noqa: F811
    """Drives write_triples_iceberg end-to-end (create + append +
    read-back row parity) when the Iceberg runtime jar is on the
    classpath.  The sandbox image has no jar, no network and no ivy/m2
    cache (see write_triples_iceberg docstring for the exact
    coordinate), so this SKIPS here — it is the ready-made proof for
    any environment that can supply the jar."""
    from jsonld_ex_spark.operators.triples import (
        iceberg_available,
        write_triples_iceberg,
    )

    if not iceberg_available(spark):
        pytest.skip(
            "iceberg-spark-runtime-4.0_2.13 not on classpath "
            "(no network/cache in sandbox)"
        )
    spark.conf.set("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it.warehouse", str(tmp_path / "wh"))
    triples = conversation_triples(transcripts_df(spark, SF))
    write_triples_iceberg(triples, "it.db.triples", mode="create")
    write_triples_iceberg(triples, "it.db.triples", mode="append")
    back = spark.table("it.db.triples")
    assert back.count() == 2 * triples.count()
    assert set(back.columns) >= set(triples.columns)

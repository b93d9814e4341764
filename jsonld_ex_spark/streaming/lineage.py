"""Checkpoint-resume with per-partition lineage + triple-count metrics.

north_star: "checkpoint-resumable with per-partition lineage and
triple-count metrics".  Design (SURVEY.md §4.5): batch-first over
snapshots — no Spark streaming state store.

* Work is partitioned into conversation buckets:
  ``bucket = pmod(xxhash64(conv_id), n_buckets)`` — deterministic, so a
  re-run maps every conversation to the same bucket.
* The lineage ledger is a small table ``(bucket, n_convs, n_triples,
  run_id)`` appended once per completed bucket batch.  On resume, the
  driver collects its bucket ids (at most ``n_buckets``) and filters the
  input with a static ``NOT IN`` on the bucket expression: no join, and
  when every bucket is done neither the input nor the pipeline runs.
* Triple output is partitioned by the same bucket and written with
  dynamic partition overwrite (a writer option, not session conf), so a
  bucket that crashed between the triple write and the ledger append is
  re-processed and its partition REPLACED, not appended to.
* A build runs two actions: the triple write, and a read-back of ONLY
  this run's partitions (partition pruning) that aggregates and appends
  the ledger rows.  The write's row count and the ledger totals come
  from ``Observation`` metrics on those two actions, not extra passes.

At 10^12-turn scale the ledger stays tiny (n_buckets rows per run) and
lives next to the Iceberg table; snapshot ids take the place of run_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LEDGER_SCHEMA = "bucket INT, n_convs LONG, n_triples LONG, run_id STRING"


def bucket_of(conv_col: str = "conv_id", n_buckets: int = 64):
    return F.pmod(F.xxhash64(conv_col), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, ledger_path: str) -> list[int]:
    """Bucket ids the ledger marks done; ``[]`` when there is no ledger
    yet.  A corrupt ledger raises rather than redoing and re-ledgering
    every bucket.  Absence is asked of the Hadoop filesystem: a failed
    read would also log a stack trace from Spark's Observation listener.
    The fixed schema reads a ledger dir without data files as empty."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(ledger_path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return []
    ledger = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
    return sorted(r["bucket"] for r in ledger.select("bucket").distinct().collect())


def write_bucketed(triples: DataFrame, out_path: str, spark: SparkSession | None = None) -> None:
    """Write triples partitioned by ``_bucket`` with DYNAMIC partition
    overwrite: only the partitions present in ``triples`` are replaced,
    everything else is untouched.  This is what makes a mid-run crash
    recoverable without duplicates — a bucket that was written but never
    ledgered is simply re-processed on resume and its partition is
    replaced atomically (job-level commit), not appended to.  ``spark``
    is unused: the mode is a writer option, the session conf is untouched."""
    w = triples.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    w.partitionBy("_bucket").parquet(out_path)


def run_with_lineage(
    transcripts: DataFrame,
    spark: SparkSession,
    triples_fn,
    out_path: str,
    ledger_path: str,
    run_id: str,
    n_buckets: int = 64,
) -> dict:
    """Execute the pipeline over the remaining buckets, write triples
    partitioned by bucket (dynamic partition overwrite — see
    write_bucketed), append per-bucket lineage rows, return metrics.
    """
    nothing_done = {"buckets_processed": 0, "n_triples": 0, "resumed": True}
    done = completed_buckets(spark, ledger_path)
    if set(range(n_buckets)) <= set(done):
        return nothing_done
    todo = transcripts.where(~bucket_of("conv_id", n_buckets).isin(done)) if done else transcripts

    written = Observation()
    triples = triples_fn(todo).withColumn("_bucket", bucket_of("conv_id", n_buckets))
    write_bucketed(triples.observe(written, F.count(F.lit(1)).alias("rows")), out_path)
    if not written.get["rows"]:
        return nothing_done

    # Counting the durably-written files of this run's partitions — never
    # the whole historical output — keeps resume O(this run) and counts
    # what a reader will see, including a re-written partial bucket.
    this_run = spark.read.schema(triples.schema).parquet(out_path).withColumnRenamed("_bucket", "bucket")
    if done:
        this_run = this_run.where(~F.col("bucket").isin(done))
    new_stats = (
        this_run.groupBy("bucket")
        .agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.count(F.lit(1)).alias("n_triples"),
        )
        .withColumn("run_id", F.lit(run_id))
    )
    ledgered = Observation()
    totals = (F.count(F.lit(1)).alias("buckets"), F.sum("n_triples").alias("triples"))
    new_stats.observe(ledgered, *totals).write.mode("append").parquet(ledger_path)
    m = ledgered.get
    return {"buckets_processed": m["buckets"], "n_triples": m["triples"], "resumed": False}

"""Input-partitioning helpers shared across operator families.

`spread_input` is the r7 single-split-input fix (optimization guide
§2.5: "one huge unsplittable file … repartition immediately after the
read"): the test corpus ships each table as ONE parquet file under the
128 MB split size, so every CPU-heavy per-row stage before the first
exchange runs single-threaded (measured: the sf0.1 shingle tokenize
stage alone was 7.8 s on one core).  The guard on the actual scan
partition count makes it a no-op on a properly-split production table
— no extra exchange at scale; the key is a deterministic column hash
(never rand() — SPARK-38388 row-loss under retries).

`capped_shuffle_width` is the iterative-loop sizing rule: closures,
pointer-doubling walks and label propagation run over
localCheckpointed inputs, which report UnknownPartitioning, so every
superstep join or aggregate re-shuffles at the session's full
``spark.sql.shuffle.partitions``.  Capping the width to the core count
for the duration of an EAGER materialization sizes those shuffles to
the superstep data; a plan returned lazily evaluates after the restore
and is not capped.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_input(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition an UNDER-PARTITIONED input to the cluster's
    parallelism before a CPU-heavy per-row stage (tokenization, shingle
    explosion, vector math, per-document JSON-LD kernels).  Returns
    ``df`` untouched when the scan already has at least
    defaultParallelism partitions."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(k) for k in keys])


@contextmanager
def capped_shuffle_width(spark) -> Iterator[None]:
    """Cap ``spark.sql.shuffle.partitions`` at
    ``max(defaultParallelism, 2)`` (never raising it) for the body,
    and restore the previous value afterwards, also when the body
    raises."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(min(int(prev), max(spark.sparkContext.defaultParallelism, 2))))
    try:
        yield
    finally:
        spark.conf.set(key, prev)

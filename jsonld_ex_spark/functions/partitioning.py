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

`session_memo` is the one driver-side memo for per-session shared
tables (the gate family's checkpointed triples, walks and edge sets,
the BGP predicate statistics): an entry lives as long as its
SparkSession's application, because a localCheckpoint dies with the
executors that hold it.  It is a small LRU, so a burst of short-lived
entries cannot push out a table that queries keep scanning.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from contextlib import contextmanager
from typing import Callable, Hashable, Iterator, TypeVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

T = TypeVar("T")

# entries held across all memo users; the gate family needs about a
# dozen per session, and a long-lived session's fresh snapshot reads
# add predicate-statistics entries that the LRU ages out
SESSION_MEMO_BOUND = 32

_SESSION_MEMO: OrderedDict[tuple, object] = OrderedDict()
_SESSION_MEMO_LOCK = threading.Lock()


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


def session_memo(spark, key: tuple[Hashable, ...], build: Callable[[], T]) -> T:
    """Return the value memoized for ``key`` in ``spark``'s application,
    calling ``build()`` on a miss.  ``key`` names the memo user first
    (``("triples", sf_dir)``).  Inserting drops every entry of another
    application (a stopped session's checkpoints are gone) and the least
    recently used entries beyond ``SESSION_MEMO_BOUND``.

    The lock guards only the dict: ``build`` runs outside it, so a build
    may itself call ``session_memo``, and two threads that miss the same
    key both build; the first insert wins and both return it."""
    full = (spark.sparkContext.applicationId, *key)
    with _SESSION_MEMO_LOCK:
        if full in _SESSION_MEMO:
            _SESSION_MEMO.move_to_end(full)
            return _SESSION_MEMO[full]
    value = build()
    with _SESSION_MEMO_LOCK:
        for k in [k for k in _SESSION_MEMO if k[0] != full[0]]:
            del _SESSION_MEMO[k]
        value = _SESSION_MEMO.setdefault(full, value)
        _SESSION_MEMO.move_to_end(full)
        while len(_SESSION_MEMO) > SESSION_MEMO_BOUND:
            _SESSION_MEMO.popitem(last=False)
    return value

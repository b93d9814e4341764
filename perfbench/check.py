"""Output checks shared by the workloads.

Two renderings of the same rule, one per engine, so that a Spark
result and its expected rows are compared without collecting either:

* ``fingerprint`` — row count plus the sum of the first 32 bits of each
  row's md5, where a row is its columns (sorted by name) cast to
  string, nulls as ``\\0``, joined by ``\\x1f``.  Order-free, so it
  checks a multiset.  Spark (``spark_fingerprint``), DuckDB
  (``duckdb_fingerprint_sql``) and plain Python (``py_fingerprint``)
  compute it identically.
* ``canon`` — the ``scripts/gate_check.py`` rule (md5 over the sorted
  string-rendered rows) written as DuckDB SQL, applied to both the
  persisted triple table and the oracle's rows.
"""

from __future__ import annotations

import hashlib

NULL = "\x00"
SEP = "\x1f"


def _row_hash32(text: str) -> int:
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:8], 16)


def py_fingerprint(rows) -> tuple[int, int]:
    """``rows``: iterables of already-string-rendered values (None for
    null), columns in sorted-name order."""
    n = total = 0
    for r in rows:
        n += 1
        total += _row_hash32(SEP.join(NULL if v is None else v for v in r))
    return n, total


def spark_fingerprint(df, normalize: dict | None = None) -> tuple[int, int]:
    """Run ``df`` to a one-row aggregate sink and return its fingerprint.
    ``normalize`` maps a column name to a ``(java_regex, replacement)``
    applied before hashing (blank-node label canonicalisation)."""
    from pyspark.sql import functions as F

    parts = []
    for c in sorted(df.columns):
        col = F.col(f"`{c}`").cast("string")
        if normalize and c in normalize:
            pattern, repl = normalize[c]
            col = F.regexp_replace(col, pattern, repl)
        parts.append(F.coalesce(col, F.lit(NULL)))
    h = F.conv(F.substring(F.md5(F.concat_ws(SEP, *parts)), 1, 8), 16, 10).cast("long")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def duckdb_fingerprint_sql(inner_sql: str, columns: list[str]) -> str:
    cols = ", ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(0))" for c in sorted(columns)
    )
    return (
        "SELECT count(*) AS n, coalesce(sum(CAST(('0x' || substr(md5(concat_ws("
        f"chr(31), {cols})), 1, 8)) AS BIGINT)), 0) AS h FROM ({inner_sql}) AS fp_rows"
    )


def duckdb_fingerprint(con, inner_sql: str) -> tuple[list[str], tuple[int, int]]:
    """Columns and fingerprint of a DuckDB query's result."""
    columns = [d[0] for d in con.execute(f"SELECT * FROM ({inner_sql}) AS q LIMIT 0").description]
    n, h = con.execute(duckdb_fingerprint_sql(inner_sql, columns)).fetchone()
    return sorted(columns), (int(n), int(h))


def canon_sql(inner_sql: str, columns: list[str]) -> str:
    cols = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), 'None')" for c in sorted(columns))
    return (
        f"SELECT count(*), md5(coalesce(string_agg(r || chr(30), '' ORDER BY r), '')) "
        f"FROM (SELECT concat_ws(chr(31), {cols}) AS r FROM ({inner_sql}) AS c) AS canon_rows"
    )

"""The fingerprint rule renders identically in Python and DuckDB."""

import duckdb

import check


def test_python_and_duckdb_fingerprints_agree():
    rows = [(1, "a", None, True), (2, "Zürich", "x", False), (2, "Zürich", "x", False)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, s VARCHAR, n VARCHAR, b BOOLEAN)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    cols, got = check.duckdb_fingerprint(con, "SELECT * FROM t")
    assert cols == ["b", "k", "n", "s"]
    rendered = [("true" if b else "false", str(k), n, s) for k, s, n, b in rows]
    assert got == check.py_fingerprint(rendered)
    assert got != check.py_fingerprint(rendered[:2])

"""The two memo mechanisms: ``partitioning.session_memo`` on the driver
(built once per key per application, other applications dropped, an
LRU bound, safe under threads and nested builds) and the bounded
``functools.lru_cache`` caches of ``jsonld_ops`` on the executors.  The
last test guards the source tree so that new memos go through them.

No SparkSession: a session is faked by its ``applicationId``, and the
process-wide memo is swapped for an empty one per test so the Spark
tests' shared tables survive.
"""

from __future__ import annotations

import ast
import json
import pathlib
import re
import sys
import threading
import time
from collections import OrderedDict
from types import SimpleNamespace

import pytest

import jsonld_ex_spark
from jsonld_ex_spark.core.errors import JsonLdError
from jsonld_ex_spark.functions import partitioning
from jsonld_ex_spark.functions.partitioning import SESSION_MEMO_BOUND, session_memo
from jsonld_ex_spark.operators import jsonld_ops


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def empty_memo(monkeypatch):
    monkeypatch.setattr(partitioning, "_SESSION_MEMO", OrderedDict())
    monkeypatch.setattr(partitioning, "_SESSION_MEMO_LOCK", threading.Lock())


def _run_threads(target, n: int, timeout: float = 60.0) -> None:
    # daemon: a deadlocked thread must fail the test, not hang the run
    threads = [threading.Thread(target=target, args=(i,), daemon=True) for i in range(n)]
    for t in threads:
        t.start()
    deadline = time.monotonic() + timeout
    for t in threads:
        t.join(max(deadline - time.monotonic(), 0))
    assert not any(t.is_alive() for t in threads)


def test_build_runs_once_per_key_per_application():
    calls = []

    def build(tag):
        return lambda: calls.append(tag) or tag

    a = _session("app-a")
    assert session_memo(a, ("t", "x"), build("x1")) == "x1"
    assert session_memo(a, ("t", "x"), build("x2")) == "x1"
    assert session_memo(a, ("t", "y"), build("y1")) == "y1"
    assert session_memo(_session("app-b"), ("t", "x"), build("x3")) == "x3"
    assert calls == ["x1", "y1", "x3"]


def test_other_application_entries_dropped_on_insert():
    session_memo(_session("app-a"), ("t", 1), lambda: "a1")
    session_memo(_session("app-a"), ("t", 2), lambda: "a2")
    assert len(partitioning._SESSION_MEMO) == 2
    session_memo(_session("app-b"), ("t", 1), lambda: "b1")
    assert list(partitioning._SESSION_MEMO) == [("app-b", "t", 1)]


def test_bound_holds_and_recent_hit_survives():
    s = _session("app-a")
    session_memo(s, ("triples",), lambda: "table")
    for i in range(3 * SESSION_MEMO_BOUND):
        session_memo(s, ("predicate_stats", i), lambda: i)
        assert len(partitioning._SESSION_MEMO) <= SESSION_MEMO_BOUND
        # the shared table is hit between inserts, so the LRU keeps it
        assert session_memo(s, ("triples",), lambda: "rebuilt") == "table"
    assert ("app-a", "predicate_stats", 0) not in partitioning._SESSION_MEMO
    assert len(partitioning._SESSION_MEMO) == SESSION_MEMO_BOUND


def test_nested_build_does_not_deadlock():
    s = _session("app-a")
    got = []

    def outer(_):
        got.append(session_memo(s, ("outer",), lambda: ("outer", session_memo(
            s, ("inner",), lambda: "inner"
        ))))

    _run_threads(outer, 1, timeout=10)
    assert got == [("outer", "inner")]


def test_two_threads_missing_one_key_share_the_first_insert():
    s = _session("app-a")
    both_building = threading.Barrier(2, timeout=10)
    got = [None, None]

    def worker(i):
        def build():
            both_building.wait()  # both threads are inside build at once
            return f"built-by-{i}"

        got[i] = session_memo(s, ("k",), build)

    _run_threads(worker, 2)
    assert got[0] == got[1] and got[0] in {"built-by-0", "built-by-1"}


def test_concurrent_inserts_across_applications():
    """Many threads over two applications and more keys than the bound:
    every call returns its own key's value and none raises."""
    sessions = [_session("app-a"), _session("app-b")]
    start = threading.Barrier(16, timeout=10)
    errors, wrong = [], []

    def worker(t):
        try:
            start.wait()
            for i in range(300):
                key = ("k", (i * 7 + t) % (SESSION_MEMO_BOUND + 8))
                v = session_memo(sessions[(i + t) % 2], key, lambda: key)
                if v != key:
                    wrong.append((key, v))
        except Exception as e:  # noqa: BLE001 — collected and asserted below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _run_threads(worker, 16)
    finally:
        sys.setswitchinterval(prev)
    assert errors == [] and wrong == []
    assert len(partitioning._SESSION_MEMO) <= SESSION_MEMO_BOUND


@pytest.mark.parametrize(
    "cached, arg",
    [
        (jsonld_ops._processed_context, lambda i: {"ex": f"http://example.org/{i}#"}),
        (jsonld_ops._expanded_frame,
         lambda i: {"@context": {"ex": "http://example.org/"}, "@type": f"ex:T{i}"}),
    ],
)
def test_executor_cache_is_bounded(cached, arg):
    cached.cache_clear()
    bound = jsonld_ops.EXECUTOR_CACHE_SIZE
    assert bound >= 64  # well above the 16 contexts of perfbench's jsonld_docs corpus
    for i in range(bound + 16):
        cached(json.dumps(arg(i), sort_keys=True))
        assert cached.cache_info().currsize <= bound
    assert cached.cache_info().currsize == bound


@pytest.mark.parametrize("bad, exc", [
    (json.dumps({"term": 5}), JsonLdError),
    ('{"ex": ', json.JSONDecodeError),
])
def test_malformed_context_raises_every_call_and_takes_no_slot(bad, exc):
    jsonld_ops._processed_context.cache_clear()
    for _ in range(3):
        with pytest.raises(exc):
            jsonld_ops._processed_context(bad)
    assert jsonld_ops._processed_context.cache_info().currsize == 0


PKG = pathlib.Path(jsonld_ex_spark.__file__).parent
HELPER = PKG / "functions" / "partitioning.py"


def test_session_state_goes_through_the_helpers():
    """No module-level ``_*_MEMO``/``_*_CACHE`` besides the helper's own
    dict, ``applicationId`` only in the helper, and no temp view that a
    query registers in the caller's session."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(PKG)
        if "createOrReplaceTempView" in src:
            found.append(f"{rel}: createOrReplaceTempView")
        if "applicationId" in src and path != HELPER:
            found.append(f"{rel}: applicationId")
        for node in ast.parse(src).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if (isinstance(t, ast.Name) and re.fullmatch(r"_\w*_(MEMO|CACHE)", t.id)
                        and (path, t.id) != (HELPER, "_SESSION_MEMO")):
                    found.append(f"{rel}: module-level {t.id}")
    assert found == []

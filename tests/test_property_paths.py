"""Property-path evaluator semantics vs the DuckDB recursive-CTE
mirror: closures (incl. CYCLES — reachability is well-defined where the
list walker would raise), inverse/sequence/alternative, zero-length
path semantics, and the gated conv→turn path query."""

from __future__ import annotations

import duckdb
import pytest

from jsonld_ex_spark.operators.property_paths import (
    eval_path,
    path_oracle_sql,
    path_select,
)
from tests.spark_fixtures import SF_DIR, spark  # noqa: F401

TRIPLES = [
    # a -p-> b -p-> c -p-> a  (CYCLE), plus a -q-> d, d -p-> e
    ("a", "p", "b", True),
    ("b", "p", "c", True),
    ("c", "p", "a", True),
    ("a", "q", "d", True),
    ("d", "p", "e", True),
]


@pytest.fixture()
def tiny(spark):  # noqa: F811
    return spark.createDataFrame(
        TRIPLES, "subj string, pred string, obj string, obj_is_iri boolean"
    )


def _cte(rows=TRIPLES) -> str:
    values = ", ".join(
        f"('{s}', '{p}', '{o}', {str(i).lower()})" for s, p, o, i in rows
    )
    return (
        "SELECT * FROM (VALUES " + values + ") AS v(subj, pred, obj, obj_is_iri)"
    )


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def _duck(sql):
    return sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())


CASES = [
    # plus over a CYCLE: every node in the cycle reaches every cycle
    # node (incl. itself); d reaches e
    ("plus_cycle", ("plus", "p")),
    ("star_cycle", ("star", "p")),
    ("inv", ("inv", "p")),
    ("seq", ("seq", "q", "p")),           # a-q->d-p->e
    ("alt", ("alt", "p", "q")),
    ("opt", ("opt", "q")),
    ("seq_star", ("seq", "q", ("star", "p"))),  # a->d, a->e (zero + one)
    ("nested", ("plus", ("alt", "p", "q"))),
]


@pytest.mark.parametrize("name,path", CASES, ids=[c[0] for c in CASES])
def test_path_matches_duckdb(tiny, name, path):
    got = _pairs(path_select(tiny, "?s", path, "?o"))
    sql = path_oracle_sql(_cte(), "?s", path, "?o")
    assert got == _duck(sql), name
    assert got  # non-vacuous


def test_plus_cycle_exact_pairs(tiny):
    got = set(_pairs(eval_path(tiny, ("plus", "p"))))
    cyc = {"a", "b", "c"}
    expected = {(x, y) for x in cyc for y in cyc} | {("d", "e")}
    assert got == expected


def test_constant_terms_and_same_var(tiny):
    # constant subject
    got = _pairs(path_select(tiny, "<a>", ("plus", "p"), "?o"))
    assert got == [("a",), ("b",), ("c",)]
    sql = path_oracle_sql(_cte(), "<a>", ("plus", "p"), "?o")
    assert got == _duck(sql)
    # same variable twice = self-reachability (cycle members only)
    got2 = _pairs(path_select(tiny, "?x", ("plus", "p"), "?x"))
    assert got2 == [("a",), ("b",), ("c",)]
    sql2 = path_oracle_sql(_cte(), "?x", ("plus", "p"), "?x")
    assert got2 == _duck(sql2)


def test_path_validation(tiny):
    with pytest.raises(ValueError, match="bad path node"):
        eval_path(tiny, ("between", "p"))
    with pytest.raises(ValueError, match="exactly one"):
        eval_path(tiny, ("plus", "p", "q"))
    with pytest.raises(ValueError, match="at least two"):
        eval_path(tiny, ("seq", "p"))
    with pytest.raises(ValueError, match="bad path term"):
        path_select(tiny, '"lit"', "p", "?o")
    with pytest.raises(ValueError, match="no variables"):
        path_select(tiny, "<a>", "p", "<b>")


def test_gated_path_equals_list_walk_members(spark):  # noqa: F811
    """The gated path query answers from the list walk's (head, member)
    projection; it must equal the generic evaluator's pair set for the
    same path AST over the same triples.  Both read the runs through
    the positional closure, but the walk positions cells from the list
    heads while path_select composes v:turns, rest* and rdf:first as
    path pairs and deduplicates; the gate's DuckDB oracle is the
    independent engine."""
    from jsonld_ex_spark.operators.kg_queries import _checkpointed_triples, kg_path_conv_turns
    from jsonld_ex_spark.plans.oracles import CONV_TURNS_PATH

    path = kg_path_conv_turns(spark, SF_DIR)
    generic = path_select(_checkpointed_triples(spark, SF_DIR), "?conv", CONV_TURNS_PATH, "?turn")
    assert path.count() == generic.count() > 0
    assert path.exceptAll(generic).count() == 0


def test_mixed_path_and_pattern_bgp(tiny):
    """bgp_select paths= joins a path relation with plain patterns on
    the shared variable; SQL mirror agrees (WITH RECURSIVE composed
    with the pattern CTEs)."""
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql, bgp_select

    patterns = [("?y", "<q>", "?z")]
    paths = [("?x", ("plus", "p"), "?y")]
    out = bgp_select(tiny, patterns, project=["x", "y", "z"], paths=paths)
    got = sorted(tuple(r) for r in out.collect())
    # ?x p+ ?y restricted to y with a q-edge: only a has q→d; a,b,c all reach a
    assert got == [("a", "a", "d"), ("b", "a", "d"), ("c", "a", "d")]
    sql = bgp_oracle_sql(_cte(), patterns, project=["x", "y", "z"], paths=paths)
    assert got == _duck(sql)
    # path-only BGP (no plain patterns)
    out2 = bgp_select(tiny, [], paths=paths, project=["x", "y"])
    sql2 = bgp_oracle_sql(_cte(), [], paths=paths, project=["x", "y"])
    assert sorted(tuple(r) for r in out2.collect()) == _duck(sql2)
    # disconnected path rejected
    with pytest.raises(ValueError, match="shares no variable"):
        bgp_select(tiny, [("?a", "<q>", "?b")], paths=[("?m", "p", "?n")])


def test_negated_property_set(tiny):
    """!(p) matches every edge whose predicate is not p — forward-only
    negated property set, mirrored in SQL."""
    got = _pairs(eval_path(tiny, ("neg", "p")))
    assert got == [("a", "d")]  # only the q edge survives
    sql = path_oracle_sql(_cte(), "?s", ("neg", "p"), "?o")
    assert got == _duck(sql)
    # composes with closures: !(q)+ == p+ here
    got2 = _pairs(eval_path(tiny, ("plus", ("neg", "q"))))
    assert got2 == _pairs(eval_path(tiny, ("plus", "p")))
    with pytest.raises(ValueError, match="IRI predicates"):
        eval_path(tiny, ("neg", ("inv", "p")))


def test_seq_star_rewrite_equivalence(tiny):
    """The seq-star/opt identity-elimination rewrite must be invisible:
    Spark (rewritten) vs DuckDB (direct form) on multi-star sequences,
    and the rewriter's output shape is as derived: a star after the
    head of a sequence stays (the seeded closure is zero-or-more), a head
    star and every opt are eliminated."""
    from jsonld_ex_spark.operators.property_paths import _rewrite

    assert _rewrite(("seq", "q", ("star", "p"))) == ("seq", "q", ("star", "p"))
    assert _rewrite(("seq", "a", ("star", "b"), "c")) == ("seq", "a", ("star", "b"), "c")
    assert _rewrite(("seq", ("star", "p"), "q")) == (
        "alt", "q", ("inv", ("seq", ("inv", "q"), ("plus", ("inv", "p")))))
    assert _rewrite(("seq", "a", ("opt", "b"), "c")) == (
        "alt", ("seq", "a", "c"), ("seq", "a", "b", "c"))
    for path in [
        ("seq", ("star", "p"), "q", ("star", "p")),
        ("seq", ("opt", "p"), ("star", "q")),
        ("seq", "q", ("star", ("alt", "p", "q"))),
    ]:
        got = _pairs(path_select(tiny, "?s", path, "?o"))
        assert got == _duck(path_oracle_sql(_cte(), "?s", path, "?o")), path


def test_head_plus_rewrite_is_seedable_and_correct(tiny):
    """Round-5 advice (low): a plus at the HEAD of a sequence (directly,
    or generated by the star/opt expansion) must not fall through to the
    all-pairs closure.  The rewrite reverses the sequence under inverse
    (seq(p1..pn) = inv(seq(inv(pn)..inv(p1)))) so the plus lands in a
    seedable tail position; the oracle keeps the direct form, so
    agreement proves the rewrite."""
    from jsonld_ex_spark.operators.property_paths import _rewrite

    def no_head_plus(ast):
        if isinstance(ast, str):
            return True
        if ast[0] == "seq" and isinstance(ast[1], tuple) and ast[1][0] == "plus":
            return False
        return all(no_head_plus(s) for s in ast[1:] if not isinstance(s, str))

    for path in [
        ("seq", ("plus", "p"), "q"),
        ("seq", ("star", "p"), "q"),       # expansion creates a head plus
        ("seq", ("opt", "p"), ("star", "q")),
    ]:
        assert no_head_plus(_rewrite(path)), path

    # correctness of the reversal vs the direct-form oracle
    for path in [("seq", ("plus", "p"), "q"), ("seq", ("star", "p"), "q")]:
        got = _pairs(path_select(tiny, "?s", path, "?o"))
        sql = path_oracle_sql(_cte(), "?s", path, "?o")
        assert got == _duck(sql), path
        assert got  # non-vacuous


def test_full_closure_guard(tiny, monkeypatch):
    """Round-4 verdict item 6: a standalone plus/star over a relation
    above the edge bound raises unless the caller opts in."""
    from jsonld_ex_spark.operators import property_paths

    monkeypatch.setattr(property_paths, "FULL_CLOSURE_EDGE_BOUND", 2)
    with pytest.raises(ValueError, match="allow_full_closure"):
        eval_path(tiny, ("plus", "p"))
    out = eval_path(tiny, ("plus", "p"), allow_full_closure=True)
    assert out.count() > 0
    # the gated seq-rewrite shape stays guarded-free (seeded closure)
    from jsonld_ex_spark.operators.property_paths import path_select as ps
    got = ps(tiny, "?s", ("seq", "q", ("star", "p")), "?o")
    assert got.count() > 0


def test_materialized_closure_build_reuse_and_staleness(spark, tmp_path):  # noqa: F811
    """Round-6 verdict item 5: ensure_path_closure writes the (s, o)
    closure next to the triple table, reuses it while the source
    fingerprint matches, and REBUILDS it when the triples change."""
    import os

    from jsonld_ex_spark.operators.property_paths import (
        ensure_path_closure,
        read_path_closure,
        source_table_fingerprint,
    )

    tdir = str(tmp_path / "triples")
    df = spark.createDataFrame(
        TRIPLES, "subj string, pred string, obj string, obj_is_iri boolean"
    )
    df.write.parquet(tdir)
    cdir = ensure_path_closure(spark, tdir, "pplus", ("plus", "p"))
    pairs1 = _pairs(read_path_closure(spark, cdir))
    assert ("a", "b") in pairs1 and ("a", "a") in pairs1  # cycle closure
    # unchanged source -> same dir, no rebuild (marker mtime stable)
    marker = os.path.join(cdir, "_SOURCE_FINGERPRINT")
    mtime1 = os.path.getmtime(marker)
    assert ensure_path_closure(spark, tdir, "pplus", ("plus", "p")) == cdir
    assert os.path.getmtime(marker) == mtime1
    # source change (append a new edge e -p-> f) -> fingerprint moves,
    # closure rebuilt with the new reachability
    fp_before = source_table_fingerprint(tdir)
    spark.createDataFrame(
        [("e", "p", "f", True)],
        "subj string, pred string, obj string, obj_is_iri boolean",
    ).write.mode("append").parquet(tdir)
    assert source_table_fingerprint(tdir) != fp_before
    cdir2 = ensure_path_closure(spark, tdir, "pplus", ("plus", "p"))
    pairs2 = _pairs(read_path_closure(spark, cdir2))
    assert ("d", "f") in pairs2 and pairs1 < pairs2


def test_persisted_table_removal_covers_its_closures(spark, monkeypatch, tmp_path):  # noqa: F811
    """The persisted gate table registers its exit-time removal on its
    temp root, which holds both the triple table and the closure table
    ``ensure_path_closure`` writes beside it."""
    import atexit
    import os
    import shutil

    from jsonld_ex_spark.operators import kg_queries
    from jsonld_ex_spark.operators.kg_pipeline import TRIPLE_SCHEMA

    rows = [(s, p, o, i, None, None, None, "a", None) for s, p, o, i in LOCAL_GRAPH]
    monkeypatch.setattr(
        kg_queries, "_checkpointed_triples",
        lambda spark, sf_dir: spark.createDataFrame(rows, TRIPLE_SCHEMA),
    )
    registered = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: registered.append(a))
    key = str(tmp_path / "no_such_sf")  # a session-memo key no other test built
    cdir = kg_queries._persisted_conv_turn_closure_dir(spark, key)
    try:
        ((root,),) = registered
        assert sorted(os.listdir(root)) == ["closure_conv_turns", "triples"]
        assert os.path.dirname(cdir) == root
    finally:
        shutil.rmtree(os.path.dirname(cdir), ignore_errors=True)


# --- seeded closures vs the doubling fallback --------------------------------

from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

V = "urn:v:"
NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
LIST_PATHS = [
    ("seq", f"{V}turns", ("star", f"{V}rest"), f"{V}first"),
    ("seq", f"{V}turns", ("plus", f"{V}rest")),
]
# the same paths in the form a star took before it seeded the closure
# itself: A/B*/C = A/C ∪ A/B+/C
ALT_PATHS = [
    ("alt", ("seq", f"{V}turns", f"{V}first"),
     ("seq", f"{V}turns", ("plus", f"{V}rest"), f"{V}first")),
    LIST_PATHS[1],
]
_SCHEMA = "subj string, pred string, obj string, obj_is_iri boolean"


def _conv(doc: str, cells: list[str], extra=()) -> list[tuple]:
    """Conversation ``urn:c:<doc>`` whose rdf:list-shaped spine runs
    through ``cells`` to rdf:nil; ``extra`` adds (i, j) rest edges
    between cells (cycles, branches)."""
    rows = [(f"urn:c:{doc}", f"{V}turns", cells[0] if cells else NIL, True)]
    for i, c in enumerate(cells):
        rows.append((c, f"{V}first", f"urn:t:{doc}.{i}", True))
        rows.append((c, f"{V}rest", cells[i + 1] if i + 1 < len(cells) else NIL, True))
    rows += [(cells[i], f"{V}rest", cells[j], True) for i, j in extra]
    return rows


def _bn(doc: str, n: int) -> list[str]:
    return [f"_:{doc}.{i}" for i in range(n)]


def _iri_head_conv(doc: str, n: int, extra=()) -> list[tuple]:
    """Conversation ``urn:c:<doc>`` whose list starts at the IRI cell
    ``urn:cell:<doc>`` and goes on through ``n`` blank cells; the last
    cell has no rest edge.  No rest edge has an IRI object, so the rest
    edges stay positional while some have an IRI subject: the star
    closure's first-hop case."""
    head, cells = f"urn:cell:{doc}", _bn(doc, n)
    rows = [(f"urn:c:{doc}", f"{V}turns", head, True),
            (head, f"{V}first", f"urn:t:{doc}.h", True)]
    for i, (a, b) in enumerate(zip([head] + cells, cells)):
        rows.append((a, f"{V}rest", b, True))
        rows.append((b, f"{V}first", f"urn:t:{doc}.{i}", True))
    rows += [(cells[i], f"{V}rest", cells[j], True) for i, j in extra]
    return rows


def _closure_runs(spark, rows, monkeypatch):
    """Evaluate every LIST_PATHS path and a DESCRIBE of every
    conversation as shipped, recording what the positional check
    decided, and the same closures with the check forced off: the
    ALT_PATHS forms through the doubling loop.  Returns (decisions,
    shipped results, doubling results)."""
    from jsonld_ex_spark.operators import property_paths
    from jsonld_ex_spark.operators.bgp import bgp_describe

    df = spark.createDataFrame(rows, _SCHEMA)
    roots = sorted({s for s, p, _, _ in rows if p == f"{V}turns"})
    check = property_paths._chain_check
    decisions = []

    def spy(e):
        decisions.append(check(e))
        return decisions[-1]

    # the test graphs converge in a few doubling rounds; a small bound
    # makes a loop that stops converging fail fast instead of growing
    def run(paths):
        out = [set(_pairs(eval_path(df, p, max_iters=8))) for p in paths]
        out.append(set(tuple(r) for r in bgp_describe(df, roots, max_iters=8).collect()))
        return out

    with monkeypatch.context() as m:
        m.setattr(property_paths, "_chain_check", spy)
        shipped = run(LIST_PATHS)
    with monkeypatch.context() as m:
        m.setattr(
            property_paths, "_chain_check",
            lambda e: property_paths._ChainCheck(False, False),
        )
        doubling = run(ALT_PATHS)
    return decisions, shipped, doubling


LOCAL_GRAPH = (
    _conv("a", _bn("a", 3))                       # plain list
    + _conv("b", _bn("b", 1))                     # one-cell list
    + _conv("c", _bn("c", 3), extra=[(2, 0)])     # cycle back to the head
    + _conv("d", _bn("d", 3), extra=[(0, 2)])     # branching cell
    + _conv("e", [])                              # empty list: turns -> nil
    + [("urn:c:f", f"{V}turns", "_:f.0", True),   # seed whose next hop is an IRI
       ("_:f.0", f"{V}rest", "urn:cell:f", True)]
)


# IRI head cells with a three-cell, an empty and a one-cell tail
IRI_HEAD_GRAPH = (
    _iri_head_conv("g", 3)
    + _iri_head_conv("h", 0)
    + _iri_head_conv("i", 1)
)


def test_label_local_closure_matches_doubling(spark, monkeypatch):  # noqa: F811
    """A graph whose blank nodes stay inside their documents but break
    the positional proof (a cycle, a branch) takes the seeded doubling
    loop, and its list paths (A/B*/C against its old A/C ∪ A/B+/C
    form) and DESCRIBE return exactly the unseeded doubling loop's
    (s, o) sets; the list paths also match DuckDB."""
    decisions, shipped, doubling = _closure_runs(spark, LOCAL_GRAPH, monkeypatch)
    # two list paths, DESCRIBE; only DESCRIBE's edges have IRI subjects
    assert [tuple(d) for d in decisions] == [(False, False), (False, False), (False, True)]
    assert shipped == doubling
    assert ("urn:c:c", "_:c.0") in shipped[1]  # the cycle reaches its head
    assert ("urn:c:f", "urn:cell:f") in shipped[1]  # IRI-object terminal
    assert ("urn:c:d", "urn:t:d.2") in shipped[0]  # through the branch
    for path, got in zip(LIST_PATHS, shipped):
        assert sorted(got) == _duck(path_oracle_sql(_cte(LOCAL_GRAPH), "?s", path, "?o"))


def test_star_first_hop_from_iri_starts(spark, monkeypatch):  # noqa: F811
    """A/B*/C where A reaches IRI cells that B leaves by IRI-subject
    edges: the star keeps the IRI cell as its own zero-length pair and
    takes the first hop from it before the positional closure."""
    decisions, shipped, doubling = _closure_runs(spark, IRI_HEAD_GRAPH, monkeypatch)
    assert [tuple(d) for d in decisions] == [(True, True)] * 3
    assert shipped == doubling
    star = shipped[0]
    assert ("urn:c:g", "urn:t:g.h") in star  # zero-length pair of the IRI cell
    assert ("urn:c:h", "urn:t:h.h") in star  # ... with no tail at all
    assert {("urn:c:g", f"urn:t:g.{i}") for i in range(3)} <= star  # first hop + run
    for path, got in zip(LIST_PATHS, shipped):
        assert sorted(got) == _duck(path_oracle_sql(_cte(IRI_HEAD_GRAPH), "?s", path, "?o"))


FALLBACK_GRAPHS = {
    # one bnode->bnode edge crossing from prefix a to prefix g, through
    # a chain of six prefixes, so the reach leaves its document
    "cross_prefix": _conv("a", _bn("a", 2))
    + _conv("g", ["_:g.0", "_:h.0", "_:i.0", "_:j.0", "_:k.0", "_:l.0"])
    + [("_:a.1", f"{V}rest", "_:g.0", True)],
    # N-Quads style labels carry no document prefix
    "unprefixed": _conv("a", ["_:b0", "_:b1", "_:b2"]),
    "unprefixed_cycle": _conv("a", ["_:b0", "_:b1", "_:b2"], extra=[(2, 0)]),
    # IRI cells: the rest edges have IRI subjects AND IRI objects
    "iri_cells": _conv("a", ["urn:cell:0", "urn:cell:1"]) + _conv("b", _bn("b", 2)),
    # document-local labels that break (a) or (b): a non-canonical
    # label, a skip, a branch, a back edge, a position past 18 digits
    "leading_zero": _conv("p", ["_:p.01"]) + _conv("q", _bn("q", 2)),
    "skip": _conv("p", ["_:p.0", "_:p.2", "_:p.3"]),
    "branch": _conv("p", _bn("p", 3), extra=[(0, 2)]),
    "back_edge": _conv("p", _bn("p", 3), extra=[(2, 0)]),
    "19_digits": _conv("p", [f"_:p.{10**18 - 1}", f"_:p.{10**18}"]),
}


@pytest.mark.parametrize("name", sorted(FALLBACK_GRAPHS))
def test_non_local_graphs_fall_back_to_doubling(spark, monkeypatch, name):  # noqa: F811
    """A graph that breaks any of the three checks must take the
    doubling loop, and the seeded form still equals the unseeded one
    and DuckDB; the cross-prefix case is built so that a check without
    (b) would read one document's run and lose the chain through the
    other prefixes."""
    rows = FALLBACK_GRAPHS[name]
    decisions, shipped, doubling = _closure_runs(spark, rows, monkeypatch)
    assert [d.positional for d in decisions[:2]] == [False, False]
    if name != "iri_cells":  # DESCRIBE never follows IRI cells
        assert decisions[2].positional is False
    assert shipped == doubling
    for path, got in zip(LIST_PATHS, shipped):
        assert sorted(got) == _duck(path_oracle_sql(_cte(rows), "?s", path, "?o"))
    if name == "cross_prefix":
        assert ("urn:c:a", "_:l.0") in shipped[1]


@st.composite
def _graph(draw):
    """A few conversations with random list lengths and random extra
    intra-document rest edges; optionally one perturbation that must
    force the fallback."""
    kind = draw(st.sampled_from(["local", "local", "iri_head", "cross", "unprefixed"]))
    rows = []
    for d in range(draw(st.integers(1, 4))):
        n = draw(st.integers(0, 5))
        extra = (
            draw(st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)), max_size=3))
            if n else []
        )
        if kind == "iri_head":
            rows += _iri_head_conv(f"d{d}", n, extra)
        else:
            rows += _conv(f"d{d}", _bn(f"d{d}", n), extra)
    cells = [s for s, p, _, _ in rows if p == f"{V}first"]
    if kind == "cross" and cells:
        rows.append((draw(st.sampled_from(cells)), f"{V}rest", "_:zz.0", True))
        rows.append(("_:zz.0", f"{V}first", "urn:t:zz", True))
    elif kind == "unprefixed" and cells:
        rows.append((draw(st.sampled_from(cells)), f"{V}rest", "_:b0", True))
    elif kind != "iri_head":
        kind = "local"
    return kind, sorted(set(rows))


@given(_graph())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_property_label_local_matches_doubling(spark, monkeypatch, case):  # noqa: F811
    """Random document-local graphs (cycles, branches, empty and one-cell
    lists, IRI head cells) and random perturbed ones: the shipped
    closure (A/B*/C seeding the closure) equals the old A/C ∪ A/B+/C
    form through the doubling loop, and no perturbed graph passes the
    positional check."""
    kind, rows = case
    decisions, shipped, doubling = _closure_runs(spark, rows, monkeypatch)
    if kind not in ("local", "iri_head"):
        assert not any(d.positional for d in decisions[:2])
    assert shipped == doubling


# --- positional closure vs the doubling fallback -----------------------------


def _roots_sql(rows) -> str:
    roots = sorted({s for s, p, _, _ in rows if p == f"{V}turns"})
    return " UNION ALL ".join(f"SELECT '{r}' AS root" for r in roots)


@st.composite
def _positional_graph(draw):
    """Conversations whose blank list cells carry positional labels
    ``_:<doc>.<i>``: empty, one-cell and longer lists, or IRI-headed
    lists; a second list in the same prefix after the first; some
    triples duplicated."""
    iri_head = draw(st.booleans())
    rows = []
    for d in range(draw(st.integers(1, 4))):
        n = draw(st.integers(0, 5))
        if iri_head:
            rows += _iri_head_conv(f"d{d}", n)
            continue
        rows += _conv(f"d{d}", _bn(f"d{d}", n))
        if draw(st.booleans()):
            at = n + draw(st.integers(0, 2))
            rows += _conv(f"d{d}x", [f"_:d{d}.{at + i}" for i in range(draw(st.integers(1, 3)))])
    return rows + draw(st.lists(st.sampled_from(rows), max_size=4))


# empty and one-cell lists, two more lists in prefix c (adjacent, and
# after a gap) and one list's triples twice
POSITIONAL_GRAPH = (
    _conv("a", []) + _conv("b", _bn("b", 1)) + _conv("c", _bn("c", 3))
    + _conv("cx", ["_:c.3", "_:c.4"]) + _conv("cy", ["_:c.6"]) + _conv("c", _bn("c", 3))
)


@given(_positional_graph())
@example(POSITIONAL_GRAPH)
@example(_iri_head_conv("g", 3) + _iri_head_conv("h", 0) + _iri_head_conv("i", 1) * 2)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_property_positional_matches_doubling(spark, monkeypatch, rows):  # noqa: F811
    """Every closure over a graph of positional list labels takes the
    positional closure, and its ``A/B*/C``, ``A/B+`` and DESCRIBE results
    equal the doubling loop's and DuckDB's."""
    from jsonld_ex_spark.operators.bgp import bgp_describe_oracle_sql

    decisions, shipped, doubling = _closure_runs(spark, rows, monkeypatch)
    assert [d.positional for d in decisions] == [True] * 3
    assert shipped == doubling
    for path, got in zip(LIST_PATHS, shipped):
        assert sorted(got) == _duck(path_oracle_sql(_cte(rows), "?s", path, "?o"))
    assert sorted(shipped[2]) == _duck(bgp_describe_oracle_sql(_cte(rows), _roots_sql(rows)))


# --- chain_positions: the label tier vs its doubling fallback ---------------

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def _list_walks(spark, rows, monkeypatch):
    """graph_paths.chain_positions over ``rows`` with the list
    predicates renamed to rdf:first/rdf:rest and the v:turns edges as
    heads: whether the shipped call took the label tier (it never
    reached ``_walk_fixed``), its rows, and the doubling reference's
    rows (``_chain_check`` forced off), each as a Counter."""
    from collections import Counter

    from pyspark.sql import functions as F

    from jsonld_ex_spark.operators import graph_paths, property_paths

    rdf = {f"{V}first": f"{RDF}first", f"{V}rest": f"{RDF}rest"}
    df = spark.createDataFrame([(s, rdf.get(p, p), o, i) for s, p, o, i in rows], _SCHEMA)
    heads = df.filter(F.col("pred") == f"{V}turns").select(
        F.col("subj").alias("head"), F.col("obj").alias("cell")
    )
    walk, doubled = graph_paths._walk_fixed, []

    def spy(*args):
        doubled.append(args)
        return walk(*args)

    def rows_of(out):
        return Counter(tuple(r) for r in out.collect())

    with monkeypatch.context() as m:
        m.setattr(graph_paths, "_walk_fixed", spy)
        shipped = rows_of(graph_paths.chain_positions(df, heads))
    with monkeypatch.context() as m:
        m.setattr(
            property_paths, "_chain_check",
            lambda e: property_paths._ChainCheck(False, False),
        )
        doubling = rows_of(graph_paths.chain_positions(df, heads))
    return not doubled, shipped, doubling


@given(_positional_graph())
@example(POSITIONAL_GRAPH)
# a duplicated head edge and rdf:first triple, no duplicated rest edge
@example(_conv("a", _bn("a", 2)) + [("urn:c:a", f"{V}turns", "_:a.0", True),
                                    ("_:a.1", f"{V}first", "urn:t:a.1", True)])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_list_positions_label_tier_matches_doubling(spark, monkeypatch, rows):  # noqa: F811
    """Lists whose cells carry positional labels (empty, one-cell and
    longer lists, two lists in one prefix, after a gap) take the label
    tier, and it returns the doubling walk's (head, position, member)
    rows: as a multiset, or as a set when an rdf:rest triple is
    duplicated (the doubling bag under a duplicated rest edge is
    arbitrary).  IRI-headed lists take the fallback."""
    labelled, shipped, doubling = _list_walks(spark, rows, monkeypatch)
    heads = [o for _, p, o, _ in rows if p == f"{V}turns"]
    assert labelled == all(o.startswith("_:") or o == NIL for o in heads)
    rest = [r for r in rows if r[1] == f"{V}rest"]
    if len(set(rest)) == len(rest):
        assert shipped == doubling
    else:
        assert set(shipped) == set(doubling)
    assert shipped or not any(p == f"{V}first" for _, p, _, _ in rows)


LIST_FALLBACKS = {
    "iri_head": _iri_head_conv("g", 3),
    "unprefixed": _conv("a", ["_:b0", "_:b1", "_:b2"]),
    "suffix_gap": _conv("p", ["_:p.0", "_:p.1", "_:p.2", "_:p.3", "_:p.5"]),
    "branch": _conv("p", _bn("p", 3), extra=[(0, 2)]),
    "cross_document": _conv("p", _bn("p", 4) + ["_:q.4", "_:q.5"]),
    # rest edges positional, but one head cell's label is not
    "unpositional_head": _conv("a", _bn("a", 2))
    + [("urn:c:z", f"{V}turns", "_:z.01", True), ("_:z.01", f"{V}first", "urn:t:z.0", True)],
    # a rest edge into an IRI cell that has a member but no rest edge:
    # the cell has no label to read its position off
    "iri_tail": [
        ("urn:c:t", f"{V}turns", "_:t.0", True),
        ("_:t.0", f"{V}first", "urn:t:t.0", True),
        ("_:t.0", f"{V}rest", "urn:cell:t", True),
        ("urn:cell:t", f"{V}first", "urn:t:t.1", True),
    ],
}


@pytest.mark.parametrize("name", sorted(LIST_FALLBACKS))
def test_list_positions_fallback_inputs(spark, monkeypatch, name):  # noqa: F811
    """Each input the label tier cannot read takes pointer doubling,
    and every list member still gets its position."""
    labelled, shipped, doubling = _list_walks(spark, LIST_FALLBACKS[name], monkeypatch)
    assert not labelled
    assert shipped == doubling
    if name == "iri_tail":
        assert set(shipped) == {("urn:c:t", 0, "urn:t:t.0"), ("urn:c:t", 1, "urn:t:t.1")}


DUP_PATHS = [
    ("seq", f"{V}turns", f"{V}first"),
    ("alt", f"{V}rest", ("inv", ("inv", f"{V}rest"))),  # both branches equal
    ("inv", f"{V}rest"),
    ("plus", f"{V}rest"),
    *LIST_PATHS,
]


@pytest.mark.parametrize("graph", ["positional", "label_local", "unprefixed"])
def test_duplicate_triples_keep_set_semantics(spark, graph):  # noqa: F811
    """Set semantics hold at the output even though the leaves, joins
    and unions inside a path no longer deduplicate: over a table that
    holds every triple three times, each path and DESCRIBE equals the
    result over the deduplicated table and the DuckDB oracle, on the
    positional closure and on the doubling fallback, over document-local
    labels and over ``_:b0`` labels."""
    from jsonld_ex_spark.operators.bgp import bgp_describe, bgp_describe_oracle_sql

    rows = {
        "positional": POSITIONAL_GRAPH,
        "label_local": LOCAL_GRAPH,
        "unprefixed": FALLBACK_GRAPHS["unprefixed"],
    }[graph]
    tripled = spark.createDataFrame(rows * 3, _SCHEMA)
    once = spark.createDataFrame(rows, _SCHEMA)
    for path in DUP_PATHS:
        got = _pairs(eval_path(tripled, path))
        assert got == _pairs(eval_path(once, path)), path
        assert got == _duck(path_oracle_sql(_cte(rows * 3), "?s", path, "?o")), path
        assert got
    roots = sorted({s for s, p, _, _ in rows if p == f"{V}turns"})
    got = sorted(tuple(r) for r in bgp_describe(tripled, roots).collect())
    assert got == sorted(tuple(r) for r in bgp_describe(once, roots).collect())
    roots_sql = " UNION ALL ".join(f"SELECT '{r}' AS root" for r in roots)
    assert got == _duck(bgp_describe_oracle_sql(_cte(rows * 3), roots_sql))


# a hub root with three blank-node objects whose reaches overlap (and
# a cycle), a second root sharing one of them, and a blank-node root
HUB_GRAPH = [
    ("urn:r", f"{V}has", "_:r.0", True),
    ("urn:r", f"{V}has", "_:r.1", True),
    ("urn:r", f"{V}has", "_:r.2", True),
    ("urn:r", f"{V}name", "hub", False),
    ("urn:s", f"{V}has", "_:r.0", True),
    ("_:r.0", f"{V}next", "_:r.3", True),
    ("_:r.1", f"{V}next", "_:r.3", True),
    ("_:r.3", f"{V}next", "_:r.4", True),
    ("_:r.4", f"{V}next", "_:r.3", True),
    ("_:r.4", f"{V}name", "tail", False),
    ("_:r.2", f"{V}name", "leaf", False),
]


def test_describe_walks_duplicate_roots_once(spark, monkeypatch):  # noqa: F811
    """DESCRIBE given a roots DataFrame that binds each root several
    times (the bag output of bgp_select): the reach holds every (root,
    node) pair once, although the hub's blank-node objects reach the
    same nodes and each root arrives several times (the hub's labels
    are not positional, so this is the doubling fallback's star), and
    DESCRIBE equals DuckDB."""
    from jsonld_ex_spark.operators import property_paths
    from jsonld_ex_spark.operators.bgp import bgp_describe, bgp_describe_oracle_sql

    df = spark.createDataFrame(HUB_GRAPH, _SCHEMA)
    bag = ["urn:r"] * 4 + ["urn:s"] * 2 + ["_:r.1"] * 3
    roots = spark.createDataFrame([(r,) for r in bag], "x string")
    closure, reaches = property_paths._seeded_closure, []

    def spy(*args, **kwargs):
        reaches.append(closure(*args, **kwargs))
        return reaches[-1]

    monkeypatch.setattr(property_paths, "_seeded_closure", spy)
    got = sorted(tuple(r) for r in bgp_describe(df, roots).collect())
    reach = _pairs(reaches[0])
    assert len(reach) == len(set(reach))
    hub = {"urn:r"} | {f"_:r.{i}" for i in range(5)}
    assert set(reach) == (
        {("urn:r", n) for n in hub}
        | {("urn:s", n) for n in ("urn:s", "_:r.0", "_:r.3", "_:r.4")}
        | {("_:r.1", n) for n in ("_:r.1", "_:r.3", "_:r.4")}
    )
    roots_sql = " UNION ALL ".join(f"SELECT '{r}' AS root" for r in bag)
    assert got == _duck(bgp_describe_oracle_sql(_cte(HUB_GRAPH), roots_sql))


def test_capped_shuffle_width_restores_on_raise(spark):  # noqa: F811
    from jsonld_ex_spark.functions.partitioning import capped_shuffle_width

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError, match="body"):
        with capped_shuffle_width(spark):
            cap = int(spark.conf.get(key))
            assert cap == min(int(before), max(spark.sparkContext.defaultParallelism, 2))
            raise RuntimeError("body")
    assert spark.conf.get(key) == before

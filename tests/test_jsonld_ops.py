"""Generic document-column operators: distributed expand/flatten/
compact/to_rdf over a JSON string column must agree per-row with the
driver-side core API, and bad documents must quarantine instead of
failing the job."""

from __future__ import annotations

import json

import pytest

from jsonld_ex_spark.core.api import compact, expand, flatten
from jsonld_ex_spark.core.context import Options
from jsonld_ex_spark.operators.jsonld_ops import (
    QUARANTINE_PRED,
    compact_column,
    expand_column,
    flatten_column,
    frame_column,
    to_rdf_rows,
)

from tests.spark_fixtures import spark  # noqa: F401

pytestmark = pytest.mark.spark

CTX = {"name": "http://xmlns.com/foaf/0.1/name", "knows": {"@id": "http://xmlns.com/foaf/0.1/knows", "@type": "@id"}}

DOCS = [
    {"@context": CTX, "@id": "http://ex.org/a", "name": "Alice", "knows": "http://ex.org/b"},
    {"@context": CTX, "@id": "http://ex.org/b", "name": ["Bob", "Bobby"]},
    {"@context": CTX, "name": "anonymous"},  # blank node subject
    {"@context": CTX, "@id": "http://ex.org/c", "knows": {"name": "nested blank"}},
]


# expands, but compaction, framing and toRdf reject its expanded form
# with a TypeError
TYPE_MAP_DOC = {"@context": {"@vocab": "http://ex/", "a": {"@container": "@type"}}, "a": {"k": 5}}
# a top-level context that does not propagate to nested nodes
NO_PROPAGATE_DOC = {
    "@context": {"@vocab": "http://ex/", "@propagate": False},
    "@id": "http://ex.org/p", "p": "v", "n": {"@id": "http://ex.org/n", "q": 1},
}


def _df(spark, docs):  # noqa: F811
    return spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(docs)], "doc_id long, doc string"
    )


def test_expand_column_matches_core(spark):  # noqa: F811
    rows = expand_column(_df(spark, DOCS)).orderBy("doc_id").collect()
    for r, doc in zip(rows, DOCS):
        assert r["jsonld_error"] is None
        assert json.loads(r["expanded"]) == expand(doc, Options())


def test_flatten_and_compact_columns_match_core(spark):  # noqa: F811
    df = _df(spark, DOCS)
    for r, doc in zip(flatten_column(df).orderBy("doc_id").collect(), DOCS):
        assert json.loads(r["flattened"]) == flatten(doc, None, Options())
    # a context given as an {"@context": …} wrapper compacts like the API's
    for ctx in (CTX, {"@context": CTX}):
        for r, doc in zip(compact_column(df, ctx).orderBy("doc_id").collect(), DOCS):
            expected = compact(expand(doc, Options()), ctx, Options())
            assert r["jsonld_error"] is None
            assert json.loads(r["compacted"]) == expected


def test_bad_documents_quarantine_not_crash(spark):  # noqa: F811
    docs = [
        json.dumps(DOCS[0]),
        "not json at all {{{",
        json.dumps({"@context": {"@vocab": 7}, "x": 1}),  # invalid vocab mapping
        json.dumps(TYPE_MAP_DOC),
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, doc string")
    rows = expand_column(df).orderBy("doc_id").collect()
    assert rows[0]["jsonld_error"] is None
    assert rows[1]["expanded"] is None and "invalid JSON" in rows[1]["jsonld_error"]
    assert rows[2]["expanded"] is None and rows[2]["jsonld_error"] == "invalid vocab mapping"
    assert rows[3]["jsonld_error"] is None
    assert json.loads(rows[3]["expanded"]) == expand(TYPE_MAP_DOC, Options())

    trows = to_rdf_rows(df).collect()
    quarantined = {r["doc_id"]: r["obj"] for r in trows if r["pred"] == QUARANTINE_PRED}
    assert set(quarantined) == {1, 2, 3}
    assert quarantined[2] == "invalid vocab mapping"
    assert quarantined[3].startswith("invalid document: ")

    # every operator quarantines the @type-map document with the same code
    type_map_df = df.where("doc_id = 3")
    vocab = {"@vocab": "http://ex/"}
    for out in [
        compact_column(type_map_df, vocab),
        frame_column(type_map_df, {"@context": vocab}),
        flatten_column(type_map_df, context=vocab),
    ]:
        [row] = out.collect()
        assert row["jsonld_error"] == quarantined[3]
    [row] = flatten_column(type_map_df).collect()
    assert row["jsonld_error"] is None
    assert json.loads(row["flattened"]) == flatten(TYPE_MAP_DOC, None, Options())


def test_to_rdf_rows_deterministic_skolem(spark):  # noqa: F811
    df = _df(spark, DOCS)
    a = sorted(map(tuple, to_rdf_rows(df).collect()))
    b = sorted(map(tuple, to_rdf_rows(df.repartition(4)).collect()))
    assert a == b  # identical across partitionings/reruns (skolem per doc)
    # the nested blank node of doc 3 got a per-doc skolem label
    blanks = [r for r in a if r[0] == 3 and str(r[3]).startswith("_:")]
    assert blanks and all("3." in r[3] for r in blanks)


def test_from_rdf_rows_inverts_to_rdf_rows(spark):  # noqa: F811
    """to_rdf_rows → from_rdf_rows must agree per-document with the
    driver-side core from_rdf over the same (sorted) quads, at any
    partitioning."""
    from jsonld_ex_spark.core.api import from_rdf as from_rdf_core
    from jsonld_ex_spark.operators.jsonld_ops import from_rdf_rows

    df = _df(spark, DOCS)
    triples = to_rdf_rows(df)
    back = {r["doc_id"]: r for r in from_rdf_rows(triples.repartition(5)).collect()}
    rows = triples.collect()
    for doc_id in range(len(DOCS)):
        def node(v):
            return ("bnode", v[2:]) if v.startswith("_:") else ("iri", v)
        quads = []
        for r in rows:
            if r["doc_id"] != doc_id:
                continue
            o = node(r["obj"]) if r["obj_is_iri"] else ("lit", r["obj"], r["obj_dt"], r["obj_lang"])
            g = node(r["graph"]) if r["graph"] is not None else None
            quads.append((node(r["subj"]), ("iri", r["pred"]), o, g))
        quads.sort(key=repr)
        expected = from_rdf_core(quads, Options())
        assert back[doc_id]["jsonld_error"] is None
        assert json.loads(back[doc_id]["doc"]) == expected


def test_expand_column_shared_context(spark):  # noqa: F811
    """expand_column(context=...) applies the shared context to EVERY
    document as the base active context (cached per executor), with any
    inline @context layered on top — reference expand_context semantics
    (lib/json_ld.ex): a doc whose inline context does not override a
    shared term still resolves that term through the shared vocabulary."""
    bare = [{"name": "A"}, {"name": ["B", "C"], "knows": "http://ex.org/z"}]
    override = {"@context": {"name": "http://other.example/name"}, "name": "D"}
    # inline context ADDS a term; the shared "name" mapping must survive
    layered = {"@context": {"nick": "http://ex.org/nick"}, "name": "E", "nick": "e"}
    docs = bare + [override, layered, NO_PROPAGATE_DOC]
    df = _df(spark, docs)
    no_propagate_base = {"@vocab": "http://base.example/", "@propagate": False}
    for base in (no_propagate_base, CTX):
        rows = expand_column(df, context=base).orderBy("doc_id").collect()
        for r, doc in zip(rows, docs):
            assert r["jsonld_error"] is None
            expected = expand(doc, Options(expand_context=base))
            assert json.loads(r["expanded"]) == expected
    # under CTX: the non-propagating inline context applies at the top node
    [top] = json.loads(rows[4]["expanded"])
    assert "http://ex/p" in top
    # the layered doc really used BOTH vocabularies
    layered_out = json.loads(rows[3]["expanded"])[0]
    assert "http://xmlns.com/foaf/0.1/name" in layered_out
    assert "http://ex.org/nick" in layered_out


def test_to_rdf_rows_non_dict_documents(spark):  # noqa: F811
    """Valid top-level JSON-LD arrays expand item-by-item; null/scalar
    docs expand to nothing; a non-JSON-LD-shaped-but-parseable doc
    quarantines (marker triple) instead of killing the job."""
    array_doc = [
        {"@context": CTX, "@id": "http://ex.org/a", "name": "Alice"},
        {"@context": CTX, "@id": "http://ex.org/b", "name": "Bob"},
    ]
    docs = [json.dumps(array_doc), "null", json.dumps("just a string"), "5"]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, doc string"
    )
    # a parsed string is a document (it expands to nothing), not a URL
    expanded = expand_column(df).orderBy("doc_id").collect()
    for r in expanded[1:]:
        assert r["jsonld_error"] is None and json.loads(r["expanded"]) == []
    rows = to_rdf_rows(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # array doc: two name triples, no quarantine
    a = by_doc[0]
    assert all(r["pred"] != QUARANTINE_PRED for r in a)
    assert sorted(r["obj"] for r in a) == ["Alice", "Bob"]
    # null / bare scalar: no triples at all (expand → []), no crash
    assert 1 not in by_doc
    assert 2 not in by_doc
    assert 3 not in by_doc


def test_to_rdf_rows_match_api_to_rdf_on_edge_contexts(spark):  # noqa: F811
    """A non-propagating top-level context yields the API's triples,
    and a context with two invalid terms quarantines with the API's code
    (contexts are processed in the document's own key order)."""
    from jsonld_ex_spark.core.api import to_rdf
    from jsonld_ex_spark.core.errors import JsonLdError
    from jsonld_ex_spark.core.rdf import quad_row

    two_invalid = {"@context": {"z": {"@reverse": 5}, "a": {"@id": "http://x", "@language": 5}},
                   "a": "v"}
    rows = to_rdf_rows(_df(spark, [NO_PROPAGATE_DOC, two_invalid])).collect()
    got = sorted(tuple(r)[1:] for r in rows if r["doc_id"] == 0)
    assert got and got == sorted(quad_row(q) for q in to_rdf(NO_PROPAGATE_DOC, Options()))
    with pytest.raises(JsonLdError) as api_error:
        to_rdf(two_invalid, Options())
    [marker] = [r for r in rows if r["doc_id"] == 1]
    assert marker["pred"] == QUARANTINE_PRED
    assert marker["obj"] == api_error.value.code == "invalid IRI mapping"


def test_frame_column_matches_core(spark):  # noqa: F811
    """Distributed framing must agree per-document with core frame()."""
    from jsonld_ex_spark.core.api import frame as frame_core

    frame_doc = {
        "@context": {"@vocab": "http://ex.org/v#"},
        "@type": "T",
        "@explicit": True,
        "name": {},
    }
    docs = [
        {"@context": {"@vocab": "http://ex.org/v#"}, "@id": "http://ex.org/1",
         "@type": "T", "name": "match", "extra": 1},
        {"@context": {"@vocab": "http://ex.org/v#"}, "@id": "http://ex.org/2",
         "@type": "U", "name": "no match"},
    ]
    df = _df(spark, docs)
    rows = frame_column(df, frame_doc).orderBy("doc_id").collect()
    for r, doc in zip(rows, docs):
        assert r["jsonld_error"] is None
        assert json.loads(r["framed"]) == frame_core(doc, frame_doc)
    framed0 = json.loads(rows[0]["framed"])
    assert framed0["name"] == "match" and "extra" not in framed0

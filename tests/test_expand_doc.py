"""The column operators' one expansion kernel, ``jsonld_ops._expand_doc``,
against the driver-side ``core.api.expand`` — no SparkSession.  Result
and error code must be equal for every non-string document, with and
without a shared base context; each case runs twice so the second pass
reads the processed contexts from a warm LRU (a cached ``Context`` that
expansion mutated would show there)."""

from __future__ import annotations

import copy
import json

import pytest

from jsonld_ex_spark.core.api import expand
from jsonld_ex_spark.core.context import Options
from jsonld_ex_spark.operators import jsonld_ops

EX = "http://ex.org/"

DOCS = {
    # the @type-map document compaction/toRdf reject with a TypeError
    "type_map": {"@context": {"@vocab": EX, "a": {"@container": "@type"}}, "a": {"k": 5}},
    # step 9 processes a non-propagating inline context after step 7:
    # the top node keeps it, nested nodes revert (value objects and
    # only-@id references keep it)
    "inline_no_propagate": {
        "@context": {"@vocab": EX, "@propagate": False},
        "@id": "http://x.org/1", "p": "v", "n": {"q": 1},
        "v": {"@value": 2}, "r": {"@id": "http://x.org/2"},
    },
    # two invalid terms: the code depends on the processing order
    "two_invalid_terms": {
        "@context": {"z": {"@reverse": 5}, "a": {"@id": "http://x", "@language": 5}},
        "a": "v",
    },
    "base_iri": {
        "@context": {"@base": "http://base.example/dir/", "@vocab": EX},
        "@id": "rel", "p": {"@id": "../up"},
    },
    "version_protected": {
        "@context": {"@version": 1.1, "@protected": True, "name": EX + "name"},
        "name": "x",
    },
    "protected_redefinition": {
        "@context": [{"@protected": True, "name": EX + "name"}, {"name": "http://other/"}],
        "name": "x",
    },
    "type_scoped": {
        "@context": {"@vocab": EX, "T": {"@context": {"p": "http://scoped/p"}}},
        "@type": "T", "p": "v", "n": {"p": "w"},
    },
    "context_array": {"@context": [{"@vocab": EX}, {"a": "http://a/"}], "a": 1, "b": 2},
    "graph_only": {
        "@context": {"@vocab": EX},
        "@graph": [{"@id": "http://x.org/1", "p": 1}, {"@id": "http://x.org/2", "p": 2}],
    },
    "only_id": {"@context": {"@vocab": EX}, "@id": "http://x.org/1"},
    "value_object": {"@context": {"@vocab": EX}, "@value": 5},
    "null_context": {"@context": None, "p": 1, EX + "q": 2},
    "no_context": {"p": 1, "@type": "T"},
    "reverse_term": {
        "@context": {"@vocab": EX, "knows": {"@reverse": EX + "knownBy"}},
        "@id": "http://x.org/1", "knows": {"@id": "http://x.org/2"},
    },
    "remote_import": {"@context": {"@import": "http://remote.example/ctx"}, "p": 1},
    "remote_context": {"@context": "http://remote.example/ctx", "p": 1},
    "bad_vocab": {"@context": {"@vocab": 7}, "x": 1},
    "top_level_array": [
        {"@context": {"@vocab": EX}, "@id": "http://x.org/1", "p": 1},
        {"@context": {"@vocab": EX, "@propagate": False}, "p": 2, "n": {"q": 3}},
        {"p": 4},
    ],
    "null": None,
    "number": 5,
}

BASES = {
    "none": None,
    "vocab": {"@vocab": "http://base.org/", "p": "http://base.org/shared-p"},
    "no_propagate": {"@vocab": "http://base.org/", "@propagate": False},
    "wrapped_base_iri": {"@context": {"@base": "http://b.example/", "@vocab": EX}},
}


def _outcome(fn, doc):
    doc = copy.deepcopy(doc)
    try:
        return "ok", fn(doc)
    except jsonld_ops._QUARANTINED as e:
        return "error", jsonld_ops._error_code(e)


def test_expand_doc_equals_api_expand():
    """Every document under every base, twice; the bases interleave, so
    an inline context cached without its base would be served under
    the wrong one."""
    jsonld_ops._processed_context.cache_clear()
    for _warm in range(2):
        for base_name, base in BASES.items():
            shared = (jsonld_ops._context_json(base),) if base is not None else ()
            for name, doc in DOCS.items():
                want = _outcome(lambda d: expand(d, Options(expand_context=base)), doc)
                got = _outcome(lambda d: jsonld_ops._expand_doc(d, *shared), doc)
                assert got == want, (name, base_name)


def test_expand_doc_cases_are_not_vacuous():
    """The edge documents reach both outcomes, and the inline
    non-propagating context really applies at the top node only."""
    outcomes = [_outcome(jsonld_ops._expand_doc, d) for d in DOCS.values()]
    assert {kind for kind, _ in outcomes} == {"ok", "error"}
    [node] = jsonld_ops._expand_doc(DOCS["inline_no_propagate"])
    assert node[EX + "p"] == [{"@value": "v"}]
    assert node[EX + "n"] == [{}]  # the nested node reverted: q is dropped
    assert node[EX + "v"] == [{"@value": 2}]
    code = _outcome(jsonld_ops._expand_doc, DOCS["two_invalid_terms"])
    assert code == ("error", "invalid IRI mapping")


@pytest.mark.parametrize("doc", ["just a string", None, 5])
def test_expand_doc_reads_every_document_as_data(doc):
    """A parsed JSON string is a document, not a URL to load."""
    assert jsonld_ops._expand_doc(doc) == []
    assert jsonld_ops._expand_doc(doc, json.dumps({"@vocab": EX})) == []

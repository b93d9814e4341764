"""Shared harness for the vendored W3C JSON-LD 1.1 API test suite.

Fixtures live read-only in the reference repo
(/root/reference/test/data/json-ld-api-tests).  The reference's own runner
(test/support/test_suite.ex) maps test-suite URLs to local files and skips
JSON-LD-1.0-only cases; we mirror that so our pass set is comparable to the
reference's EARL report (1196 passed).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from jsonld_ex_spark.core.context import Options, RemoteDocument
from jsonld_ex_spark.core.errors import JsonLdError

FIXTURE_DIR = Path("/root/reference/test/data/json-ld-api-tests")
BASE_IRI = "https://w3c.github.io/json-ld-api/tests/"

# The suite modules build their parameter lists from the manifests at
# collection time; without the fixtures, skip each importing module
# (reported per module) instead of failing its collection.
if not FIXTURE_DIR.is_dir():
    pytest.skip(
        f"W3C JSON-LD API fixtures not found at {FIXTURE_DIR}; the suite's cases cannot be collected",
        allow_module_level=True,
    )


def load_json(relpath: str):
    with open(FIXTURE_DIR / relpath, encoding="utf-8") as f:
        return json.load(f)


def load_text(relpath: str) -> str:
    with open(FIXTURE_DIR / relpath, encoding="utf-8") as f:
        return f.read()


def fixture_loader(url: str) -> RemoteDocument:
    if not url.startswith(BASE_IRI):
        raise JsonLdError("loading remote context failed", f"non-fixture URL {url}")
    rel = url[len(BASE_IRI):]
    path = FIXTURE_DIR / rel
    if not path.exists():
        raise JsonLdError("loading remote context failed", f"missing fixture {rel}")
    with open(path, encoding="utf-8") as f:
        return RemoteDocument(document=json.load(f), document_url=url)


_CAMEL_RE = re.compile(r"(?<!^)(?=[A-Z])")


def manifest_cases(suite: str) -> list[dict]:
    manifest = load_json(f"{suite}-manifest.jsonld")
    return manifest["sequence"]


def case_kind(case: dict) -> str:
    types = case["@type"]
    if "jld:PositiveEvaluationTest" in types:
        return "positive"
    if "jld:NegativeEvaluationTest" in types:
        return "negative"
    if "jld:PositiveSyntaxTest" in types:
        return "positive_syntax"
    return "negative_syntax"


def is_1_0_only(case: dict) -> bool:
    return case.get("option", {}).get("specVersion") == "json-ld-1.0"


def case_options(case: dict) -> Options:
    opts = case.get("option", {})
    o = Options(document_loader=fixture_loader)
    o.base = opts.get("base", BASE_IRI + case["input"])
    if "processingMode" in opts:
        o.processing_mode = opts["processingMode"]
    if "expandContext" in opts:
        o.expand_context = load_json(opts["expandContext"])
    if "rdfDirection" in opts:
        o.rdf_direction = opts["rdfDirection"]
    if "produceGeneralizedRdf" in opts:
        o.produce_generalized_rdf = opts["produceGeneralizedRdf"]
    if "useNativeTypes" in opts:
        o.use_native_types = opts["useNativeTypes"]
    if "useRdfType" in opts:
        o.use_rdf_type = opts["useRdfType"]
    if "compactArrays" in opts:
        o.compact_arrays = opts["compactArrays"]
    if "compactToRelative" in opts:
        o.compact_to_relative = opts["compactToRelative"]
    return o


def input_url(case: dict) -> str:
    return BASE_IRI + case["input"]

"""Lightweight RDF term model + canonical XSD lexical forms + JCS.

Terms are plain tuples so they cross Arrow/pandas UDF boundaries cheaply:

* ``("iri", value)``
* ``("bnode", label)``          (label WITHOUT the ``_:`` prefix)
* ``("lit", lexical, datatype_iri, language_or_None)``

Canonical lexical forms follow XSD canonical mapping as emitted by the
reference (lib/json/ld/decoder.ex:179-211): shortest-round-trip doubles in
``1.1E0`` style, truncated integers, ``true``/``false`` booleans; ``@json``
literals are canonicalized per RFC 8785 (JCS).
"""

from __future__ import annotations

import json
import math
from decimal import Decimal
from typing import Any

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"

RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_VALUE = RDF_NS + "value"
RDF_LANGUAGE = RDF_NS + "language"
RDF_DIRECTION = RDF_NS + "direction"
RDF_JSON = RDF_NS + "JSON"
RDF_LANGSTRING = RDF_NS + "langString"

XSD_STRING = XSD_NS + "string"
XSD_BOOLEAN = XSD_NS + "boolean"
XSD_INTEGER = XSD_NS + "integer"
XSD_DOUBLE = XSD_NS + "double"

I18N_NS = "https://www.w3.org/ns/i18n#"


def iri(value: str) -> tuple:
    return ("iri", value)


def bnode(label: str) -> tuple:
    return ("bnode", label)


def literal(lexical: str, datatype: str = XSD_STRING, language: str | None = None) -> tuple:
    return ("lit", lexical, datatype, language)


def term_str(term: tuple) -> str:
    """An IRI or blank-node term as a string: the IRI, or ``_:label``."""
    return term[1] if term[0] == "iri" else "_:" + term[1]


def quad_row(quad: tuple) -> tuple:
    """One quad as a triple-table row ``(subj, pred, obj, obj_is_iri,
    obj_dt, obj_lang, graph)``: node terms via ``term_str``, literals
    split into lexical form, datatype and language; ``graph`` is None
    for the default graph."""
    s, p, o, g = quad
    if o[0] == "lit":
        obj, is_iri, dt, lang = o[1], False, o[2], o[3]
    else:
        obj, is_iri, dt, lang = term_str(o), True, None, None
    return (term_str(s), p[1], obj, is_iri, dt, lang, None if g is None else term_str(g))


def canonical_double(value: float) -> str:
    """XSD canonical double from the shortest round-trip decimal form."""
    if math.isnan(value):
        return "NaN"
    if math.isinf(value):
        return "INF" if value > 0 else "-INF"
    if value == 0:
        return "-0.0E0" if math.copysign(1.0, value) < 0 else "0.0E0"
    d = Decimal(repr(float(value)))
    sign, digits, _ = d.as_tuple()
    digits_str = "".join(map(str, digits)).rstrip("0") or "0"
    adjusted = d.adjusted()
    first = digits_str[0]
    rest = digits_str[1:] or "0"
    return f"{'-' if sign else ''}{first}.{rest}E{adjusted}"


def canonical_integer(value: Any) -> str:
    return str(int(value))


def _es6_number(value: float) -> str:
    """ES6 Number::toString for JCS (RFC 8785 §3.2.2.3)."""
    if value != value or value in (float("inf"), float("-inf")):
        raise ValueError("non-finite number in JSON literal")
    if value == int(value) and abs(value) < 1e21:
        return str(int(value))
    r = repr(value)
    if "e" in r:
        mant, _, exp = r.partition("e")
        e = int(exp)
        if mant.endswith(".0"):
            mant = mant[:-2]
        return f"{mant}e{'+' if e >= 0 else '-'}{abs(e)}"
    return r


def _jcs_dump(value: Any) -> str:
    if value is None:
        return "null"
    if value is True:
        return "true"
    if value is False:
        return "false"
    if isinstance(value, str):
        return json.dumps(value, ensure_ascii=False)
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return _es6_number(value)
    if isinstance(value, list):
        return "[" + ",".join(_jcs_dump(v) for v in value) + "]"
    if isinstance(value, dict):
        items = sorted(value.items(), key=lambda kv: kv[0].encode("utf-16-be"))
        return "{" + ",".join(json.dumps(k, ensure_ascii=False) + ":" + _jcs_dump(v) for k, v in items) + "}"
    raise ValueError(f"unserializable JSON value: {value!r}")


def jcs_canonicalize(value: Any) -> str:
    """RFC 8785 JSON Canonicalization Scheme (subset sufficient for rdf:JSON)."""
    return _jcs_dump(value)

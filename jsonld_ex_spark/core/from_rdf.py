"""Serialize RDF as JSON-LD (W3C JSON-LD 1.1 API §9).

Reference parity: lib/json/ld/encoder.ex:100-601 in /root/reference.

Input is a list of quads in the jsonld_ex_spark.core.rdf tuple form;
output is an expanded JSON-LD document (array of node maps).

Spark shape: the triple→document direction is
``groupBy(graph, subj).agg(collect_list(...))`` + this per-graph
assembly in a pandas UDF; list reconstruction is doc-local (rdf:nil
usage back-walk), exactly as here.
"""

from __future__ import annotations

import json
from typing import Any

from jsonld_ex_spark.core.context import Options
from jsonld_ex_spark.core.errors import INVALID_JSON_LITERAL, JsonLdError
from jsonld_ex_spark.core.rdf import (
    I18N_NS,
    RDF_DIRECTION,
    RDF_FIRST,
    RDF_JSON,
    RDF_LANGSTRING,
    RDF_LANGUAGE,
    RDF_NIL,
    RDF_NS,
    RDF_REST,
    RDF_TYPE,
    RDF_VALUE,
    XSD_BOOLEAN,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    canonical_double,
    term_str,
)

RDF_LIST = RDF_NS + "List"


def _rdf_to_object(o: tuple, options: Options) -> dict:
    if o[0] in ("iri", "bnode"):
        return {"@id": term_str(o)}
    _, lexical, datatype, language = o
    result: dict[str, Any] = {}
    if options.use_native_types and language is None:
        if datatype == XSD_STRING:
            result["@value"] = lexical
            return result
        if datatype == XSD_BOOLEAN and lexical in ("true", "false"):
            result["@value"] = lexical == "true"
            return result
        if datatype == XSD_INTEGER:
            try:
                result["@value"] = int(lexical)
                return result
            except ValueError:
                pass
        if datatype == XSD_DOUBLE:
            try:
                result["@value"] = float(lexical)
                return result
            except ValueError:
                pass
    if not options.is_1_0 and datatype == RDF_JSON:
        try:
            result["@value"] = json.loads(lexical)
        except ValueError:
            # spec §9 (RDF-to-Object step 2): deserializing an
            # rdf:JSON literal whose lexical form is not valid JSON is
            # an 'invalid JSON literal' error (W3C fromRdf #tjs08/09)
            raise JsonLdError(
                INVALID_JSON_LITERAL,
                f"rdf:JSON literal is not valid JSON: {lexical!r}",
            ) from None
        result["@type"] = "@json"
        return result
    if options.rdf_direction == "i18n-datatype" and datatype.startswith(I18N_NS):
        result["@value"] = lexical
        lang_dir = datatype[len(I18N_NS):]
        lang, _, direction = lang_dir.partition("_")
        if lang:
            result["@language"] = lang
        if direction:
            result["@direction"] = direction
        return result
    result["@value"] = lexical
    if language is not None:
        result["@language"] = language
    elif datatype != XSD_STRING:
        result["@type"] = datatype
    return result


def _strict_eq(a: Any, b: Any) -> bool:
    from jsonld_ex_spark.core.flattening import _strict_eq as eq

    return eq(a, b)


def from_rdf(quads: list, options: Options | None = None) -> list:
    """Serialize RDF as JSON-LD algorithm (spec §9.2... 'fromRdf')."""
    options = options or Options()
    # an RDF dataset is a *set* of quads: drop duplicates (order-preserving)
    seen: set = set()
    deduped = []
    for q in quads:
        key = tuple(q)
        if key not in seen:
            seen.add(key)
            deduped.append(q)
    quads = deduped
    default_graph: dict[str, dict] = {}
    graph_map: dict[str, dict] = {"@default": default_graph}
    referenced_once: dict[str, Any] = {}  # global across graphs (spec)
    compound_subjects: dict[str, set] = {}

    for s, p, o, g in quads:
        name = term_str(g) if g is not None else "@default"
        node_map = graph_map.setdefault(name, {})
        compound = compound_subjects.setdefault(name, set())
        if name != "@default":
            default_graph.setdefault(name, {"@id": name})
        subj = term_str(s)
        pred = term_str(p)
        node = node_map.setdefault(subj, {"@id": subj})

        if options.rdf_direction == "compound-literal" and pred == RDF_DIRECTION:
            compound.add(subj)

        if o[0] in ("iri", "bnode"):
            node_map.setdefault(term_str(o), {"@id": term_str(o)})

        if pred == RDF_TYPE and not options.use_rdf_type and o[0] in ("iri", "bnode"):
            types = node.setdefault("@type", [])
            if term_str(o) not in types:
                types.append(term_str(o))
            continue

        value = _rdf_to_object(o, options)
        values = node.setdefault(pred, [])
        if not any(_strict_eq(value, v) for v in values):
            values.append(value)

        if o[0] in ("iri", "bnode"):
            oid = term_str(o)
            usage = {"node": node, "property": pred, "value": value}
            if oid == RDF_NIL:
                nil_node = node_map.setdefault(oid, {"@id": oid})
                nil_node.setdefault("usages", []).append(usage)
            elif oid in referenced_once:
                referenced_once[oid] = False
            elif o[0] == "bnode":
                referenced_once[oid] = usage

    # compound literals → value objects
    for name, compound in compound_subjects.items():
        node_map = graph_map.get(name, {})
        for cl in compound:
            cl_ref = referenced_once.get(cl)
            if not isinstance(cl_ref, dict):
                continue
            cl_node = node_map.pop(cl, None)
            if cl_node is None:
                continue
            value = cl_ref["value"]
            value.pop("@id", None)
            v_list = cl_node.get(RDF_VALUE, [{}])
            value["@value"] = v_list[0].get("@value")
            langs = cl_node.get(RDF_LANGUAGE)
            if langs:
                value["@language"] = langs[0].get("@value")
            dirs = cl_node.get(RDF_DIRECTION)
            if dirs:
                value["@direction"] = dirs[0].get("@value")

    # list reconstruction from rdf:nil usages, walking rdf:rest backwards
    for name, node_map in graph_map.items():
        nil_node = node_map.get(RDF_NIL)
        if nil_node is None:
            continue
        for usage in nil_node.get("usages", []):
            node, prop, head = usage["node"], usage["property"], usage["value"]
            lst: list = []
            list_nodes: list[str] = []
            while (
                prop == RDF_REST
                and node["@id"].startswith("_:")
                and isinstance(referenced_once.get(node["@id"]), dict)
                and isinstance(node.get(RDF_FIRST), list)
                and isinstance(node.get(RDF_REST), list)
                and len(node[RDF_FIRST]) == 1
                and len(node[RDF_REST]) == 1
                and set(node.keys()) - {"@id", RDF_FIRST, RDF_REST, "@type", "usages"} == set()
                and node.get("@type", [RDF_LIST]) == [RDF_LIST]
            ):
                lst.append(node[RDF_FIRST][0])
                list_nodes.append(node["@id"])
                next_usage = referenced_once[node["@id"]]
                node, prop, head = next_usage["node"], next_usage["property"], next_usage["value"]
                if not node["@id"].startswith("_:"):
                    break
            head.pop("@id", None)
            lst.reverse()
            head["@list"] = lst
            for ln in list_nodes:
                node_map.pop(ln, None)
        nil_node.pop("usages", None)

    result = []
    for subject in sorted(default_graph.keys()):
        node = default_graph[subject]
        if subject in graph_map and subject != "@default":
            graph_nodes = graph_map[subject]
            node["@graph"] = [
                graph_nodes[s]
                for s in sorted(graph_nodes.keys())
                if set(graph_nodes[s].keys()) != {"@id"}
            ]
            for gn in node["@graph"]:
                gn.pop("usages", None)
        node.pop("usages", None)
        if set(node.keys()) != {"@id"}:
            result.append(node)
    return result

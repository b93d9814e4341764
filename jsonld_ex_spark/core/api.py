"""JsonLdProcessor API: expand / compact / flatten / toRdf / fromRdf.

Reference parity: lib/json_ld.ex:97-359 in /root/reference.
"""

from __future__ import annotations

import json
from typing import Any

from jsonld_ex_spark.core import errors as err
from jsonld_ex_spark.core.context import (
    Context,
    Options,
    RemoteDocument,
    new_context,
    process_context,
)
from jsonld_ex_spark.core.errors import JsonLdError
from jsonld_ex_spark.core.expansion import expand as _expand_algo
from jsonld_ex_spark.core.expansion import expanded_array
from jsonld_ex_spark.core.flattening import (
    BlankNodeGenerator,
    flatten_node_map,
    node_map as _node_map,
)
from jsonld_ex_spark.core.to_rdf import expanded_to_rdf


def _load_input(input_doc: Any, options: Options) -> tuple[Any, str | None, str | None, str | None]:
    """Returns (document, document_url, context_url, base_override)."""
    if isinstance(input_doc, RemoteDocument):
        doc = input_doc.document
        if isinstance(doc, (str, bytes)):
            doc = json.loads(doc)
        return doc, input_doc.document_url, input_doc.context_url, input_doc.base_iri
    if isinstance(input_doc, str):
        try:
            remote = options.document_loader(input_doc)
        except JsonLdError:
            raise
        except Exception as e:  # noqa: BLE001
            raise JsonLdError(err.LOADING_DOCUMENT_FAILED, f"{input_doc}: {e}") from e
        doc = remote.document
        if isinstance(doc, (str, bytes)):
            try:
                doc = json.loads(doc)
            except Exception as e:  # noqa: BLE001
                raise JsonLdError(err.LOADING_DOCUMENT_FAILED, f"{input_doc}: {e}") from e
        return doc, remote.document_url, remote.context_url, remote.base_iri
    return input_doc, None, None, None


def _initial_context(document_url: str | None, context_url: str | None, options: Options) -> Context:
    base = document_url or options.base
    active = Context(base_iri=options.base if options.base is not None else document_url,
                     original_base_url=base if document_url else options.base)
    # per spec: base IRI = document URL unless options.base overrides;
    # original base URL = document URL
    active.base_iri = options.base if options.base is not None else document_url
    active.original_base_url = document_url if document_url is not None else options.base
    if options.expand_context is not None:
        ec = options.expand_context
        if isinstance(ec, dict) and "@context" in ec:
            ec = ec["@context"]
        active = process_context(active, ec, options, base_url=active.original_base_url)
    if context_url is not None:
        active = process_context(active, context_url, options, base_url=context_url)
    return active


def expand(input_doc: Any, options: Options | None = None) -> list:
    """JsonLdProcessor.expand (spec §6.1)."""
    options = options or Options()
    doc, document_url, context_url, base_override = _load_input(input_doc, options)
    active = _initial_context(document_url, context_url, options)
    if base_override is not None:
        # HTML <base href> overrides the document/option base
        active.base_iri = base_override
        active.original_base_url = base_override
    return expanded_array(_expand_algo(active, None, doc, options, base_url=document_url))


def flatten(input_doc: Any, ctx: Any = None, options: Options | None = None) -> Any:
    """JsonLdProcessor.flatten (spec §6.2): expand → node map → flatten.

    HTML inputs: extractAllScripts keeps the first-script default."""
    options = options or Options()
    return flatten_expanded(expand(input_doc, options), ctx, options, None)


def flatten_expanded(expanded: list, ctx: Any, options: Options, active: Context | None) -> Any:
    """Flatten an already-expanded document, then compact it against
    ``ctx`` when one is given.  ``active``: ``ctx`` already processed
    (or None to process it here), as for ``compact_expanded``."""
    flattened = flatten_node_map(_node_map(expanded, BlankNodeGenerator()), ordered=options.ordered)
    if ctx is not None:
        from jsonld_ex_spark.core.compaction import compact_expanded

        return compact_expanded(flattened, ctx, options, force_graph=True, active=active)
    return flattened


def to_rdf(input_doc: Any, options: Options | None = None) -> list:
    """JsonLdProcessor.toRdf: expand (ordered=False) → node map → quads."""
    options = options or Options()
    import dataclasses

    reset = options.extract_all_scripts is None
    if reset:
        # HTML inputs: extractAllScripts defaults to TRUE for toRdf;
        # set in place so document-loader closures see it
        options.extract_all_scripts = True
    try:
        expand_opts = dataclasses.replace(options, ordered=False)
        expanded = expand(input_doc, expand_opts)
    finally:
        if reset:
            options.extract_all_scripts = None
    return expanded_to_rdf(expanded, options)


def compact(input_doc: Any, ctx: Any, options: Options | None = None) -> Any:
    """JsonLdProcessor.compact (spec §6.1.2)."""
    from jsonld_ex_spark.core.compaction import compact_document

    options = options or Options()
    return compact_document(input_doc, ctx, options)


def from_rdf(quads: list, options: Options | None = None) -> list:
    """Serialize RDF as JSON-LD (spec §9)."""
    from jsonld_ex_spark.core.from_rdf import from_rdf as _from_rdf

    options = options or Options()
    return _from_rdf(quads, options)


def frame(input_doc: Any, frame_doc: Any, options: Options | None = None) -> Any:
    """JsonLdProcessor.frame (W3C json-ld11-framing §4.1).

    BEYOND REFERENCE: jsonld-ex has no Framing algorithm (only the
    frame-expansion option surface); see core/framing.py."""
    from jsonld_ex_spark.core.framing import frame as _frame_algo

    options = options or Options()
    return _frame_algo(input_doc, frame_doc, options)


def canonicalize(quads: list, _options: Options | None = None) -> list:
    """RDF dataset canonicalization (RDFC-1.0 shape): quads with
    deterministic, isomorphism-invariant _:c14nN blank-node labels.
    BEYOND REFERENCE — see core/canonicalization.py."""
    from jsonld_ex_spark.core.canonicalization import canonicalize as _canon

    return _canon(quads)


def canonical_nquads(quads: list, _options: Options | None = None) -> str:
    """Canonical N-Quads document (equal strings ⟺ isomorphic data)."""
    from jsonld_ex_spark.core.canonicalization import canonical_nquads as _cnq

    return _cnq(quads)


def context(ctx: Any, options: Options | None = None) -> Context:
    """Process a context document → active Context (reference
    JSON.LD.context/2, lib/json_ld.ex:330-340)."""
    options = options or Options()
    if isinstance(ctx, dict) and "@context" in ctx:
        ctx = ctx["@context"]
    return process_context(new_context(options), ctx, options, base_url=options.base)


def node_map(input_doc: Any, options: Options | None = None) -> dict:
    """Expanded input → node map (reference JSON.LD.node_map/2)."""
    options = options or Options()
    expanded = expand(input_doc, options)
    return _node_map(expanded, BlankNodeGenerator())


def is_jsonld_keyword(value: Any) -> bool:
    """Reference JSON.LD.keyword?/1 (lib/json_ld.ex:79-81)."""
    from jsonld_ex_spark.core.utils import is_keyword

    return is_keyword(value)


def read_jsonld_file(path: str, options: Options | None = None) -> list:
    """Read a JSON-LD file → RDF quads (reference JSON.LD.read_file!
    via RDF.Serialization — lib/json_ld.ex:10: a JSON-LD document read
    through the RDF layer yields a dataset)."""
    import dataclasses

    from jsonld_ex_spark.sources.document_loader import file_loader

    options = options or Options()
    rd = file_loader(path)
    if options.base is None:
        options = dataclasses.replace(options, base=rd.document_url)
    return to_rdf(rd.document, options)


def write_jsonld_file(
    quads: list, path: str, ctx: Any = None, options: Options | None = None
) -> None:
    """Serialize RDF quads to a JSON-LD file, with the reference's
    implicit ``:context`` compaction (encoder.ex:62-90: passing a
    context to write_file! compacts the serialized output)."""
    import json as _json

    options = options or Options()
    doc = from_rdf(quads, options)
    if ctx is not None:
        doc = compact(doc, ctx, options)
    with open(path, "w", encoding="utf-8") as f:
        _json.dump(doc, f, ensure_ascii=False, indent=2)

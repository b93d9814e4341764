"""Generic JSON-LD operators over DataFrame columns — the distributed
form of the reference's public API surface (JSON.LD.expand/compact/
flatten/to_rdf over arbitrary documents, reference lib/json_ld.ex),
for corpora of JSON-LD documents rather than the fixed transcript
pipeline in operators/kg_pipeline.py.

Shape (the 100 TB rules all apply):
* each operator is ONE fused Arrow-batched ``mapInPandas`` stage — no
  shuffle is introduced; partitioning of the input is preserved;
* a reused worker's tasks start without re-reading every zip archive's
  directory: unpickling an operator imports this package, which
  installs ``worker_imports.keep_zip_directories``.  The first task of
  each forked worker and the first Python stage of a session (about
  4 s on 4 cores) still pay their full set-up;
* every operator expands a document through one kernel,
  ``_expand_doc``, which equals ``core.api.expand`` in result and
  error code.  Its per-executor processed-context LRU,
  ``_processed_context``, holds every context the operators apply: the
  shared ones (expansion base, compaction context, frame context) and
  each document's top-level inline ``@context`` on top of its base.  A
  vocabulary shared across billions of documents is processed once
  per executor, not per document;
* per-document quarantine, one rule for every operator: a document
  that raises a spec error, is not JSON, or has a shape the algorithms
  reject structurally yields an error column (or marker triple) coded
  by ``_error_code`` instead of killing the job — the reference raises
  JSON.LD.Error and aborts, which is correct for one document and
  wrong for a corpus.

Remote contexts: resolve them driver-side with
``sources.document_loader.http_document_loader`` and inline/pre-process
before distributing; executors never perform I/O.
"""

from __future__ import annotations

import functools
import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from jsonld_ex_spark.core.api import expand as _expand
from jsonld_ex_spark.core.api import flatten_expanded
from jsonld_ex_spark.core.context import Context, Options, process_context
from jsonld_ex_spark.core.errors import JsonLdError
from jsonld_ex_spark.core.expansion import expand as expand_algo
from jsonld_ex_spark.core.expansion import expanded_array
from jsonld_ex_spark.core.flattening import BlankNodeGenerator, node_map
from jsonld_ex_spark.core.rdf import quad_row
from jsonld_ex_spark.core.to_rdf import to_rdf_from_node_map

QUARANTINE_PRED = "https://sparkld.dev/system#processingError"

# entries per reused Python worker in each executor-side cache; bounds
# a corpus in which every document carries its own inline context
EXECUTOR_CACHE_SIZE = 256

# what a document can raise that quarantines it: spec errors, bad JSON
# text, and malformed-but-parseable shapes the spec algorithms reject
# structurally (AttributeError/TypeError)
_QUARANTINED = (JsonLdError, ValueError, AttributeError, TypeError)


def _error_code(e: Exception) -> str:
    """The quarantine code of one of the ``_QUARANTINED`` errors."""
    if isinstance(e, JsonLdError):
        return e.code
    if isinstance(e, ValueError):
        return f"invalid JSON: {e}"
    return f"invalid document: {e}"


@functools.lru_cache(maxsize=EXECUTOR_CACHE_SIZE)
def _processed_context(*ctx_jsons: str) -> Context:
    """Per-executor processed-context memo, keyed by the contexts' raw
    JSON in the order they apply: the last one is processed on top of
    the (memoized) result of the ones before it, the first on top of an
    empty context.  A context that fails to process raises and is not
    cached."""
    active = _processed_context(*ctx_jsons[:-1]) if len(ctx_jsons) > 1 else Context()
    return process_context(active, json.loads(ctx_jsons[-1]), Options())


def _context_json(ctx) -> str:
    """A context's JSON, an ``{"@context": …}`` wrapper unwrapped as the
    core API unwraps it."""
    if isinstance(ctx, dict) and "@context" in ctx:
        ctx = ctx["@context"]
    return json.dumps(ctx)


def _expand_doc(doc, *base: str) -> list:
    """Expand one parsed document — the only place the column operators
    expand one.  Equals ``core.api.expand(doc, Options(expand_context=
    ctx))`` in result and in error code, where ``base`` is empty or holds
    the shared context's JSON; unlike the API, a string document is data
    (it expands to nothing), never a URL.

    The top-level inline ``@context`` comes from the LRU, processed on
    top of the base.  Expanding the rest with ``from_map=True`` skips
    spec step 7 at the top node: the inline context is step 9, so step 7
    must not revert an inline ``@propagate: false`` there.  A base that
    does not propagate itself (it carries a ``previous_context``) is
    reverted by step 7 before step 9 runs; the document then expands
    whole."""
    active = _processed_context(*base) if base else Context()
    if isinstance(doc, dict) and "@context" in doc and active.previous_context is None:
        active = _processed_context(*base, json.dumps(doc["@context"]))
        body = {k: v for k, v in doc.items() if k != "@context"}
        return expanded_array(expand_algo(active, None, body, Options(), from_map=True))
    return expanded_array(expand_algo(active, None, doc, Options()))


def _doc_op_column(df: DataFrame, json_col: str, out_col: str, fn) -> DataFrame:
    """Run ``fn(doc) -> json-able`` per document; emit (passthrough cols,
    out_col json string, jsonld_error)."""
    passthrough = [c for c in df.columns if c != json_col]
    out_schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in df.columns]
        + [f"{out_col} string", "jsonld_error string"]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs, errs = [], []
            for raw in pdf[json_col]:
                try:
                    outs.append(json.dumps(fn(json.loads(raw))))
                    errs.append(None)
                except _QUARANTINED as e:
                    outs.append(None)
                    errs.append(_error_code(e))
            out = pdf[passthrough + [json_col]].copy()
            out[out_col] = outs
            out["jsonld_error"] = errs
            yield out

    return df.mapInPandas(run, schema=out_schema)


def expand_column(
    df: DataFrame,
    json_col: str = "doc",
    out_col: str = "expanded",
    context: dict | None = None,
) -> DataFrame:
    """Distributed JSON.LD.expand over a JSON string column.

    ``context``: a SHARED context (the expandContext option) applied to
    EVERY document as the base active context — documents with an inline
    ``@context`` layer it on top, exactly like the reference's
    expand_context handling (lib/json_ld.ex); both are processed once
    per executor via the context LRU, not per document."""
    base = (_context_json(context),) if context is not None else ()
    return _doc_op_column(df, json_col, out_col, lambda d: _expand_doc(d, *base))


def flatten_column(
    df: DataFrame, json_col: str = "doc", out_col: str = "flattened", context: dict | None = None
) -> DataFrame:
    """Distributed JSON.LD.flatten (optional compaction context, processed
    once per executor like ``compact_column``'s)."""
    ctx_json = _context_json(context) if context is not None else None

    def fn(d):
        active = _processed_context(ctx_json) if ctx_json is not None else None
        return flatten_expanded(_expand_doc(d), context, Options(), active)

    return _doc_op_column(df, json_col, out_col, fn)


def compact_column(
    df: DataFrame, context: dict, json_col: str = "doc", out_col: str = "compacted"
) -> DataFrame:
    """Distributed JSON.LD.compact against a SHARED context: the context
    is processed once per executor and its inverse-context memo (the
    expensive term-selection table) is built once and reused across
    every document in the partition — not rebuilt per document."""
    from jsonld_ex_spark.core.compaction import compact_expanded

    ctx_json = _context_json(context)

    def fn(d):
        active = _processed_context(ctx_json)
        return compact_expanded(_expand_doc(d), context, Options(), active=active)

    return _doc_op_column(df, json_col, out_col, fn)


def frame_column(
    df: DataFrame, frame_doc: dict, json_col: str = "doc", out_col: str = "framed"
) -> DataFrame:
    """Distributed JSON.LD.frame against a SHARED frame document: every
    document in the column is framed with the same pattern (the
    "give me conversations matching this shape" query).  One fused
    mapInPandas, per-document quarantine — same 100 TB shape as the
    other column operators.  BEYOND REFERENCE (no framing there)."""
    from jsonld_ex_spark.core.framing import frame_expanded

    frame_json = json.dumps(frame_doc)
    ctx = frame_doc.get("@context") if isinstance(frame_doc, dict) else None

    def fn(d):
        # the frame and its context are processed once per executor
        # (LRUs); document expansion honors any inline @context
        return frame_expanded(
            _expand_doc(d), _expanded_frame(frame_json), ctx, Options(),
            compact_active=_processed_context(json.dumps(ctx)),
        )

    return _doc_op_column(df, json_col, out_col, fn)


@functools.lru_cache(maxsize=EXECUTOR_CACHE_SIZE)
def _expanded_frame(frame_json: str) -> list:
    """Per-executor expanded-frame memo (keyed by the frame's JSON)."""
    import dataclasses

    return _expand(json.loads(frame_json), dataclasses.replace(Options(), frame_expansion=True))


TRIPLE_OUT_SCHEMA = (
    "doc_id long, subj string, pred string, obj string, "
    "obj_is_iri boolean, obj_dt string, obj_lang string, graph string"
)


def to_rdf_rows(df: DataFrame, json_col: str = "doc", doc_id_col: str = "doc_id") -> DataFrame:
    """Distributed JSON.LD.to_rdf: JSON-LD document column → exploded
    triple rows, deterministic per-document skolem blank-node labels
    (re-runs and retries produce identical output).  Failed documents
    quarantine as one marker triple (pred=QUARANTINE_PRED, obj=the
    ``_error_code``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        options = Options()
        cols = ["doc_id", "subj", "pred", "obj", "obj_is_iri", "obj_dt", "obj_lang", "graph"]
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, raw in zip(pdf[doc_id_col], pdf[json_col]):
                doc_id = int(doc_id)
                try:
                    generator = BlankNodeGenerator(skolem_prefix=f"{doc_id}.")
                    nm = node_map(_expand_doc(json.loads(raw)), generator)
                    quads = to_rdf_from_node_map(nm, options, generator)
                    out.extend((doc_id, *quad_row(q)) for q in quads)
                except _QUARANTINED as e:
                    out.append((doc_id, f"urn:doc:{doc_id}", QUARANTINE_PRED, _error_code(e),
                                False, None, None, None))
            yield pd.DataFrame(out, columns=cols)

    return df.mapInPandas(run, schema=TRIPLE_OUT_SCHEMA)


def from_rdf_rows(triples: DataFrame, doc_id_col: str = "doc_id") -> DataFrame:
    """Distributed JSON.LD.from_rdf: triple rows grouped per document →
    JSON-LD (expanded form) document column.  The inverse of
    to_rdf_rows; ONE shuffle keyed on the document id (applyInPandas).
    Quads are sorted within each group before deserialization so output
    is identical across partitionings/retries."""
    from jsonld_ex_spark.core.api import from_rdf as _from_rdf

    def rebuild(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"doc_id": [], "doc": [], "jsonld_error": []})
        doc_id = int(pdf[doc_id_col].iloc[0])

        def node(v: str):
            return ("bnode", v[2:]) if v.startswith("_:") else ("iri", v)

        quads = []
        for r in pdf.itertuples(index=False):
            o = (
                node(r.obj)
                if r.obj_is_iri
                else ("lit", r.obj, r.obj_dt, r.obj_lang if r.obj_lang is not None else None)
            )
            g = node(r.graph) if r.graph is not None else None
            quads.append((node(r.subj), ("iri", r.pred), o, g))
        quads.sort(key=repr)
        try:
            docs = _from_rdf(quads, Options())
            return pd.DataFrame(
                {"doc_id": [doc_id], "doc": [json.dumps(docs)], "jsonld_error": [None]}
            )
        except _QUARANTINED as e:
            return pd.DataFrame(
                {"doc_id": [doc_id], "doc": [None], "jsonld_error": [_error_code(e)]}
            )

    return triples.groupBy(doc_id_col).applyInPandas(
        rebuild, schema="doc_id long, doc string, jsonld_error string"
    )


# ---------------------------------------------------------------------------
# Driver-gate query: documents table → per-doc JSON-LD → triples.
# The JSON-LD document is synthesized Spark-side (to_json over a struct —
# only the OUTPUT must be engine-portable); the DuckDB oracle produces
# the expected triples relationally, which is an independent derivation
# of expand→toRdf for this document shape.
# ---------------------------------------------------------------------------

VOCAB = "https://sparkld.dev/vocab#"
DOC_NS = "https://sparkld.dev/doc/"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

_DOC_CTX = {
    "name": f"{VOCAB}name",
    "chars": {"@id": f"{VOCAB}chars", "@type": XSD_INT},
}


def _gated_docs(spark, sf_dir: str, ctx: dict, *fields) -> DataFrame:
    """``(doc_id, doc)`` over the gate's documents table, one JSON-LD
    document per row: ``{"@context": ctx, <fields>}``.  ``fields`` are
    named columns over ``documents``; to_json builds (and escapes) the
    data part and the shared context is spliced in as a constant
    prefix."""
    from pyspark.sql import functions as F

    from jsonld_ex_spark.functions.partitioning import spread_input

    # spread the single-split test file before the per-document Python
    # kernel (partitioning.spread_input: no-op on a properly-split table)
    d = spread_input(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.lit('{"@context": ' + json.dumps(ctx) + ", "),
            F.regexp_replace(F.to_json(F.struct(*fields)), r"^\{", ""),
        ).alias("doc"),
    )


def _doc_iri():
    """The ``@id`` column of a gated document: ``DOC_NS`` + doc_id."""
    from pyspark.sql import functions as F

    return F.concat(F.lit(DOC_NS), F.col("doc_id").cast("string")).alias("@id")


def jsonld_doc_triples(spark, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = _gated_docs(
        spark, sf_dir, _DOC_CTX,
        _doc_iri(),
        F.col("text").alias("name"),
        F.col("n_chars").cast("long").alias("chars"),
    )
    triples = to_rdf_rows(docs, json_col="doc", doc_id_col="doc_id")
    return triples.select("doc_id", "subj", "pred", "obj", "obj_dt")


AUTH_NS = "https://sparkld.dev/author/"
FRAME_CHARS_THRESHOLD = 300

# frame: select Long documents, explicit projection, embedded author
_SELECT_FRAME = {
    "@context": {"@vocab": VOCAB},
    "@type": "Long",
    "@explicit": True,
    "chars": {},
    "author": {"@explicit": True, "name": {}},
}


def jsonld_frame_select(spark, sf_dir: str) -> DataFrame:
    """DRIVER-GATED framing query: per-document JSON-LD (typed Long/Short
    by n_chars, nested author node) framed with a shared pattern — type
    match selects Long docs, @explicit projects {chars, author.name},
    and the author node is RE-EMBEDDED from the node map (the framing
    deliverable: tree reassembly).  Output rows are scalars extracted
    from the framed tree; the DuckDB oracle derives the same rows
    relationally (an independent derivation of match+embed semantics
    for this document shape)."""
    from pyspark.sql import functions as F

    docs = _gated_docs(
        spark, sf_dir, {"@vocab": VOCAB},
        _doc_iri(),
        F.when(F.col("n_chars") > FRAME_CHARS_THRESHOLD, F.lit("Long"))
        .otherwise(F.lit("Short"))
        .alias("@type"),
        F.col("text").alias("name"),
        F.col("n_chars").cast("long").alias("chars"),
        F.struct(
            F.concat(F.lit(AUTH_NS), (F.col("doc_id") % 10).cast("string")).alias("@id"),
            F.concat(F.lit("author "), (F.col("doc_id") % 10).cast("string")).alias("name"),
        ).alias("author"),
    )
    frame_json = json.dumps(_SELECT_FRAME)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from jsonld_ex_spark.core.framing import frame_expanded

        # one-time per task: expanded frame + processed compaction
        # context (per-executor memos) — no per-document reprocessing
        ef = _expanded_frame(frame_json)
        fctx = _SELECT_FRAME["@context"]
        compact_active = _processed_context(json.dumps(fctx))
        options = Options()
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["doc"]):
                framed = frame_expanded(
                    _expand_doc(json.loads(raw)), ef, fctx, options,
                    compact_active=compact_active,
                )
                if "chars" not in framed:
                    continue  # frame did not match (Short doc)
                out.append(
                    (
                        int(doc_id),
                        framed["@id"],
                        int(framed["chars"]),
                        framed["author"]["name"],
                    )
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "subj", "chars", "author_name"]
            )

    return docs.mapInPandas(
        run, schema="doc_id long, subj string, chars long, author_name string"
    )


def jsonld_canonical_hashes(spark, sf_dir: str) -> DataFrame:
    """DRIVER-GATED RDF canonicalization: per-document JSON-LD with an
    ANONYMOUS author node (a real blank node, not a skolem IRI) →
    expand → toRdf → RDFC canonical labels (core/canonicalization.py)
    → canonical N-Quads md5.  Label invariance is itself gated: the
    kernel skolemizes each document TWICE with different prefixes and
    reports whether both canonicalize to the same hash
    (labels_invariant — the oracle says it must always be true; the
    hash value itself is reproduced relationally since _:c14n0 is the
    unique canonical label for this shape).  One mapInPandas, zero
    shuffle."""
    import copy as _copy

    from pyspark.sql import functions as F

    from jsonld_ex_spark.core.canonicalization import canonical_nquads

    docs = _gated_docs(
        spark, sf_dir, {"@vocab": VOCAB},
        _doc_iri(),
        F.md5("text").alias("name"),
        F.struct(
            F.concat(F.lit("author "), (F.col("doc_id") % 10).cast("string")).alias("name"),
        ).alias("author"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        options = Options()
        for pdf in batches:
            ids, hashes, counts, invariant = [], [], [], []
            for doc_id, raw in zip(pdf["doc_id"], pdf["doc"]):
                expanded = _expand_doc(json.loads(raw))
                canons = []
                for prefix in ("A.", "B."):
                    generator = BlankNodeGenerator(skolem_prefix=prefix)
                    nm = node_map(_copy.deepcopy(expanded), generator)
                    quads = to_rdf_from_node_map(nm, options, generator)
                    canons.append(canonical_nquads(quads))
                ids.append(int(doc_id))
                hashes.append(hashlib.md5(canons[0].encode()).hexdigest())
                counts.append(canons[0].count("\n"))
                invariant.append(canons[0] == canons[1])
            yield pd.DataFrame(
                {"doc_id": ids, "canon_md5": hashes, "n_quads": counts,
                 "labels_invariant": invariant}
            )

    return docs.mapInPandas(
        run,
        schema="doc_id long, canon_md5 string, n_quads long, labels_invariant boolean",
    )


GRAPH_NS = "https://sparkld.dev/graph/"


def _named_graph_triples(spark, sf_dir: str) -> DataFrame:
    """Documents serialized as JSON-LD NAMED GRAPHS — the top-level
    ``{"@id": <graph>, "@graph": [node]}`` form the reference's decoder
    walks graph→subject→property (decoder.ex:44-115) — run through the
    REAL expand→node-map→to_rdf pipeline: each document's triples land
    in graph ``GRAPH_NS + (doc_id % 10)``, so the output is a QUAD
    table with ten named graphs (the GRAPH-clause witness the BGP
    compiler's quad patterns query).  Memoized per (session, sf_dir):
    both gated graph queries scan one localCheckpointed table instead
    of re-running the Python stage."""
    from pyspark.sql import functions as F

    from jsonld_ex_spark.functions.partitioning import session_memo

    def build() -> DataFrame:
        docs = _gated_docs(
            spark, sf_dir, _DOC_CTX,
            F.concat(F.lit(GRAPH_NS), (F.col("doc_id") % 10).cast("string")).alias("@id"),
            F.array(
                F.struct(
                    _doc_iri(),
                    F.col("text").alias("name"),
                    F.col("n_chars").cast("long").alias("chars"),
                )
            ).alias("@graph"),
        )
        return to_rdf_rows(docs, json_col="doc", doc_id_col="doc_id").drop(
            "doc_id"
        ).localCheckpoint(eager=True)

    return session_memo(spark, ("named_graph", sf_dir), build)


def kg_bgp_graph_doc_chars(spark, sf_dir: str) -> DataFrame:
    """GRAPH-clause quad pattern with a VARIABLE graph term under the
    gate (round-4 verdict item 2): ``GRAPH ?g { ?d v:chars ?c }`` over
    the named-graph document quads — ?g binds each document's graph
    IRI (named graphs only, per SPARQL) and comes back as a result
    column.  The oracle derives the same (d, c, g) rows relationally
    from the documents table — an independent derivation of the
    @graph→named-graph encoding AND the quad compiler."""
    from jsonld_ex_spark.operators.bgp import bgp_select

    return bgp_select(
        _named_graph_triples(spark, sf_dir),
        [("?d", f"<{VOCAB}chars>", "?c", "?g")],
        project=["d", "c", "g"],
    )


def kg_bgp_graph_scoped_names(spark, sf_dir: str) -> DataFrame:
    """GRAPH-clause quad patterns with a CONSTANT graph term + a ?g
    variable joined across patterns: the name pattern is scoped to ONE
    named graph (a pushed ``graph = ...`` filter — plan-asserted in
    tests/test_bgp.py over the persisted form) and the chars pattern
    binds ?g, which the shared ?d forces to the same graph."""
    from jsonld_ex_spark.operators.bgp import bgp_select

    return bgp_select(
        _named_graph_triples(spark, sf_dir),
        [
            ("?d", f"<{VOCAB}name>", "?n", f"<{GRAPH_NS}3>"),
            ("?d", f"<{VOCAB}chars>", "?c", "?g"),
        ],
        project=["d", "n", "c", "g"],
    )


def kg_update_graph_ops(spark, sf_dir: str) -> DataFrame:
    """GRAPH-SCOPED SPARQL Update + graph management under the gate
    (round-5 late): stage the ten named document graphs as a snapshot
    table, then run the full graph-administration sequence —

        WITH <g1> DELETE { ?d v:chars ?c }
                  INSERT { ?d v:redacted "true" } WHERE { ?d v:chars ?c };
        COPY <g3> TO <archive>;
        ADD  <g4> TO <archive>;
        CLEAR GRAPH <g5>

    — each an atomic validated snapshot commit, and aggregate
    per-(graph, predicate) stats over the final state.  Exercises quad
    templates, WITH-scoping, graph-exact insert dedup, and
    CLEAR/COPY/ADD (operators/graph_update.py); the oracle applies the
    same four operations relationally to the documents table."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from jsonld_ex_spark.operators.graph_update import (
        add_graph,
        clear_graph,
        copy_graph,
        delete_insert,
    )
    from jsonld_ex_spark.sources.snapshot_table import (
        read_snapshot,
        write_triples_snapshot,
    )

    tdir = tempfile.mkdtemp(prefix="kg_gupdate_")
    atexit.register(shutil.rmtree, tdir, ignore_errors=True)
    write_triples_snapshot(
        _named_graph_triples(spark, sf_dir), tdir, operation="append"
    )
    delete_insert(
        spark, tdir,
        delete_template=[("?d", f"<{VOCAB}chars>", "?c")],
        insert_template=[("?d", f"<{VOCAB}redacted>", '"true"')],
        where=[("?d", f"<{VOCAB}chars>", "?c")],
        with_graph=f"{GRAPH_NS}1",
    )
    copy_graph(spark, tdir, f"{GRAPH_NS}3", f"{GRAPH_NS}archive")
    add_graph(spark, tdir, f"{GRAPH_NS}4", f"{GRAPH_NS}archive")
    clear_graph(spark, tdir, f"{GRAPH_NS}5")
    return (
        read_snapshot(spark, tdir)
        .groupBy(F.col("graph").alias("g"), "pred")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("subj").alias("n_docs"),
        )
    )


XSD_STR = "http://www.w3.org/2001/XMLSchema#string"

_LANG_DOC_CTX = {
    "name": f"{VOCAB}name",
    "chars": {"@id": f"{VOCAB}chars", "@type": XSD_INT},
    "rating": f"{VOCAB}rating",
}


def _lang_doc_triples(spark, sf_dir: str) -> DataFrame:
    """Documents as JSON-LD with LANGUAGE-TAGGED literals, run through
    the real expand→node-map→to_rdf pipeline: ``name`` is a
    ``{"@value": …, "@language": …}`` value object ('en' for
    doc_id%3=0, 'fr' for %3=1, PLAIN for %3=2 — the @language field is
    null there and to_json omits null struct fields, so the value
    object degrades to a plain-literal form), ``chars`` is a typed
    xsd:integer, and ``rating`` exists only for doc_id%4=0 (the
    OPTIONAL/BOUND witness).  This is the term-annotation witness table
    for the SPARQL LANG()/DATATYPE() accessors and the round-6
    expression library.  Memoized per (session, sf_dir): a repeated
    query scans the localCheckpointed table instead of re-running the
    Python stage."""
    from pyspark.sql import functions as F

    from jsonld_ex_spark.functions.partitioning import session_memo

    def build() -> DataFrame:
        mod3 = F.col("doc_id") % 3
        docs = _gated_docs(
            spark, sf_dir, _LANG_DOC_CTX,
            _doc_iri(),
            F.struct(
                F.col("text").alias("@value"),
                F.when(mod3 == 0, F.lit("en")).when(mod3 == 1, F.lit("fr")).alias("@language"),
            ).alias("name"),
            F.col("n_chars").cast("long").alias("chars"),
            F.when(F.col("doc_id") % 4 == 0, (F.col("doc_id") % 5).cast("string")).alias("rating"),
        )
        return to_rdf_rows(docs, json_col="doc", doc_id_col="doc_id").drop(
            "doc_id"
        ).localCheckpoint(eager=True)

    return session_memo(spark, ("lang_doc", sf_dir), build)


def kg_bgp_expr_doc_labels(spark, sf_dir: str) -> DataFrame:
    """The round-6 SPARQL EXPRESSION LIBRARY under the gate — one query
    using LANG, DATATYPE, BOUND, STRSTARTS, IF, COALESCE and UCASE over
    the language-tagged document graph:

        SELECT ?d ?lang ?dt ?label ?meta WHERE {
          ?d v:name ?n . ?d v:chars ?c .
          OPTIONAL { ?d v:rating ?r }
          BIND(LANG(?n) AS ?lang) BIND(DATATYPE(?c) AS ?dt)
          FILTER(STRSTARTS(?lang, "en") || BOUND(?r))
          BIND(IF(BOUND(?r), CONCAT("rated:", ?r), "unrated") AS ?label)
          BIND(CONCAT(COALESCE(?r, "-"), "|", UCASE(?lang)) AS ?meta)
        }

    The DuckDB oracle compiles the SAME query AST to SQL over a
    relationally-derived triples CTE (independent of the JSON-LD
    pipeline that produced the Spark-side terms) — both the expression
    compiler and the language-tagged to_rdf path are cross-checked."""
    from jsonld_ex_spark.operators.bgp import bgp_select

    return bgp_select(
        _lang_doc_triples(spark, sf_dir),
        **_EXPR_DOC_LABELS_KW,
    )


_EXPR_DOC_LABELS_KW = dict(
    patterns=[("?d", f"<{VOCAB}name>", "?n"), ("?d", f"<{VOCAB}chars>", "?c")],
    annotations={"lang": ("n", "lang"), "dt": ("c", "datatype")},
    optional=[[("?d", f"<{VOCAB}rating>", "?r")]],
    filter_exprs=[("or", ("strstarts", "lang", "en"), ("bound", "r"))],
    bind={
        "label": (
            "if",
            ("bound", "r"),
            ("concat", ("lit", "rated:"), "r"),
            ("lit", "unrated"),
        ),
        "meta": ("concat", ("coalesce", "r", ("lit", "-")), ("lit", "|"), ("ucase", "lang")),
    },
    project=["d", "lang", "dt", "label", "meta"],
)

# Relational derivation of the lang-doc triples.  obj_dt on the
# language-tagged name rows is irrelevant to every query over this
# table (the DATATYPE annotation tests obj_lang FIRST and maps any
# tagged literal to rdf:langString), so the CTE leaves it NULL; plain
# strings carry xsd:string exactly as to_rdf canonicalizes them
# (matching jsonld_doc_triples' oracle).
_LANG_DOC_TRIPLES_SQL = f"""
SELECT '{DOC_NS}' || CAST(doc_id AS VARCHAR) AS subj,
       '{VOCAB}name' AS pred, text AS obj, false AS obj_is_iri,
       CASE WHEN doc_id % 3 = 2 THEN '{XSD_STR}' END AS obj_dt,
       CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' END AS obj_lang,
       CAST(NULL AS VARCHAR) AS graph
FROM documents
UNION ALL
SELECT '{DOC_NS}' || CAST(doc_id AS VARCHAR), '{VOCAB}chars',
       CAST(n_chars AS VARCHAR), false, '{XSD_INT}', NULL, NULL
FROM documents
UNION ALL
SELECT '{DOC_NS}' || CAST(doc_id AS VARCHAR), '{VOCAB}rating',
       CAST(doc_id % 5 AS VARCHAR), false, '{XSD_STR}', NULL, NULL
FROM documents WHERE doc_id % 4 = 0"""


def kg_bgp_expr_doc_labels_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(_LANG_DOC_TRIPLES_SQL, **_EXPR_DOC_LABELS_KW)


def queries():
    return {
        "jsonld_doc_triples": jsonld_doc_triples,
        "jsonld_frame_select": jsonld_frame_select,
        "jsonld_canonical_hashes": jsonld_canonical_hashes,
        "kg_bgp_graph_doc_chars": kg_bgp_graph_doc_chars,
        "kg_bgp_graph_scoped_names": kg_bgp_graph_scoped_names,
        "kg_update_graph_ops": kg_update_graph_ops,
        "kg_bgp_expr_doc_labels": kg_bgp_expr_doc_labels,
    }


def oracle_sql():
    return {
        "jsonld_doc_triples": f"""
            SELECT doc_id,
                   '{DOC_NS}' || CAST(doc_id AS VARCHAR) AS subj,
                   '{VOCAB}name' AS pred,
                   text AS obj,
                   'http://www.w3.org/2001/XMLSchema#string' AS obj_dt
            FROM documents
            UNION ALL
            SELECT doc_id,
                   '{DOC_NS}' || CAST(doc_id AS VARCHAR) AS subj,
                   '{VOCAB}chars' AS pred,
                   CAST(n_chars AS VARCHAR) AS obj,
                   '{XSD_INT}' AS obj_dt
            FROM documents""",
        "jsonld_frame_select": f"""
            SELECT doc_id,
                   '{DOC_NS}' || CAST(doc_id AS VARCHAR) AS subj,
                   CAST(n_chars AS BIGINT) AS chars,
                   'author ' || CAST(doc_id % 10 AS VARCHAR) AS author_name
            FROM documents
            WHERE n_chars > {FRAME_CHARS_THRESHOLD}""",
        # the document's single anonymous node canonicalizes to _:c14n0,
        # so the full canonical N-Quads text is relationally derivable:
        # sorted lines + trailing newline, md5'd (name literal is the
        # md5 hex of text — no N-Quads escaping needed in SQL)
        "jsonld_canonical_hashes": f"""
            WITH lines AS (
              SELECT doc_id, line FROM (
                SELECT doc_id,
                       '<{DOC_NS}' || CAST(doc_id AS VARCHAR) || '> <{VOCAB}author> _:c14n0 .' AS l1,
                       '<{DOC_NS}' || CAST(doc_id AS VARCHAR) || '> <{VOCAB}name> "' || md5(text) || '" .' AS l2,
                       '_:c14n0 <{VOCAB}name> "author ' || CAST(doc_id % 10 AS VARCHAR) || '" .' AS l3
                FROM documents
              ), unnest([l1, l2, l3]) AS t(line)
            )
            SELECT doc_id,
                   md5(string_agg(line, chr(10) ORDER BY line) || chr(10)) AS canon_md5,
                   CAST(count(*) AS BIGINT) AS n_quads,
                   TRUE AS labels_invariant
            FROM lines GROUP BY doc_id""",
        # named-graph quads, derived relationally: doc d's node lives in
        # graph GRAPH_NS || (doc_id % 10); chars is the canonical
        # xsd:integer lexical form
        "kg_bgp_graph_doc_chars": f"""
            SELECT '{DOC_NS}' || CAST(doc_id AS VARCHAR) AS d,
                   CAST(n_chars AS VARCHAR) AS c,
                   '{GRAPH_NS}' || CAST(doc_id % 10 AS VARCHAR) AS g
            FROM documents""",
        "kg_bgp_graph_scoped_names": f"""
            SELECT '{DOC_NS}' || CAST(doc_id AS VARCHAR) AS d,
                   text AS n,
                   CAST(n_chars AS VARCHAR) AS c,
                   '{GRAPH_NS}3' AS g
            FROM documents
            WHERE doc_id % 10 = 3""",
        # the four graph operations applied relationally: g1 chars →
        # redacted markers, archive := g3 ∪ g4 (ADD's set dedup is
        # vacuous — the buckets are disjoint), g5 gone, the rest keep
        # name+chars; per-doc subjects are unique so each (g, pred)
        # group counts its docs
        "kg_update_graph_ops": f"""
            WITH buckets AS (
              SELECT doc_id, doc_id % 10 AS b FROM documents
            ),
            quads AS (
              SELECT '{GRAPH_NS}' || CAST(b AS VARCHAR) AS g,
                     '{VOCAB}name' AS pred, doc_id
              FROM buckets WHERE b <> 5
              UNION ALL
              SELECT '{GRAPH_NS}' || CAST(b AS VARCHAR),
                     '{VOCAB}chars', doc_id
              FROM buckets WHERE b NOT IN (1, 5)
              UNION ALL
              SELECT '{GRAPH_NS}1', '{VOCAB}redacted', doc_id
              FROM buckets WHERE b = 1
              UNION ALL
              SELECT '{GRAPH_NS}archive', '{VOCAB}name', doc_id
              FROM buckets WHERE b IN (3, 4)
              UNION ALL
              SELECT '{GRAPH_NS}archive', '{VOCAB}chars', doc_id
              FROM buckets WHERE b IN (3, 4)
            )
            SELECT g, pred, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM quads GROUP BY g, pred""",
        "kg_bgp_expr_doc_labels": kg_bgp_expr_doc_labels_oracle(),
    }

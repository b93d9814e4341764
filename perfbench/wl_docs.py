"""``jsonld_docs``: the generic column operators over seeded documents.

Set-up writes the documents (varied shapes, per-document contexts from a
seeded pool, ~1% planted malformed ones) and computes every expected
output with the plain-Python ``core.api`` (``to_rdf``, ``compact`` with the
shared context, ``expand``), document by document.  A pass reads the
documents back with ``spark.read.parquet`` and runs ``jsonld_ops``
``to_rdf_rows``, ``compact_column`` and ``expand_column``; each result is
consumed by a fingerprint aggregate compared with the expected one, so
a differing document, an unplanted quarantine or a planted document
with the wrong error code all fail the operation.
"""

from __future__ import annotations

import json
import math
import os
import re
import time

import check
import gen

N_DOCS = 4000
K_CONTEXTS = 16
PLANTED_EVERY = 100
N_FILES = 8

# blank-node labels: "_:<doc_id>.<n>" from the operator's skolem
# generator, "_:b<n>" from the plain API; both become "_:<n>"
BNODE_RE = r"^(_:)+(b|[0-9]+\.)"
BNODE_NORMALIZE = {c: (BNODE_RE, "_:") for c in ("subj", "obj", "graph")}
_BNODE = re.compile(BNODE_RE)

OPS = ("to_rdf", "compact", "expand")
OUT_COL = {"compact": "compacted", "expand": "expanded"}


def _bnode(v):
    return None if v is None else _BNODE.sub("_:", v)


def _rdf_rows(doc_id: int, quads) -> list[tuple]:
    """The plain API's quads rendered as ``to_rdf_rows`` renders them,
    columns in sorted-name order (doc_id, graph, obj, obj_dt,
    obj_is_iri, obj_lang, pred, subj)."""
    rows = []
    for s, p, o, g in quads:
        subj = s[1] if s[0] == "iri" else "_:" + s[1]
        if o[0] == "lit":
            obj, is_iri, dt, lang = o[1], False, o[2], o[3]
        else:
            obj = o[1] if o[0] == "iri" else "_:" + o[1]
            is_iri, dt, lang = True, None, None
        graph = (g[1] if g[0] == "iri" else "_:" + g[1]) if g is not None else None
        rows.append((str(doc_id), _bnode(graph), _bnode(obj), dt, "true" if is_iri else "false",
                     lang, p[1], _bnode(subj)))
    return rows


def _quarantine_row(doc_id: int, code: str) -> tuple:
    from jsonld_ex_spark.operators.jsonld_ops import QUARANTINE_PRED

    return (str(doc_id), None, code, None, "false", None, QUARANTINE_PRED, f"urn:doc:{doc_id}")


def expected_outputs(rows, planted: dict, shared_context: dict) -> tuple[dict, dict, list[str]]:
    """Fingerprints of every operator's expected output, per-operator
    plain-API seconds, and the documents whose plain-API outcome
    contradicts the generator (a planted document that does not fail
    with its code, or an unplanted one that fails)."""
    from jsonld_ex_spark.core import api
    from jsonld_ex_spark.core.errors import JsonLdError

    out = {op: [] for op in OPS}
    secs = dict.fromkeys(OPS, 0.0)
    problems = []
    fns = {
        "to_rdf": api.to_rdf,
        "compact": lambda d: api.compact(d, shared_context),
        "expand": api.expand,
    }
    for doc_id, raw in rows:
        for op in OPS:
            doc = json.loads(raw)
            t = time.perf_counter()
            try:
                result, code = fns[op](doc), None
            except JsonLdError as e:
                result, code = None, e.code
            secs[op] += time.perf_counter() - t
            if code != planted.get(doc_id):
                problems.append(f"{op} doc {doc_id}: plain API gave {code!r}, planted {planted.get(doc_id)!r}")
            if op == "to_rdf":
                out[op].extend(_rdf_rows(doc_id, result) if code is None else [_quarantine_row(doc_id, code)])
            else:
                row = {"doc_id": str(doc_id), "jsonld_error": code,
                       OUT_COL[op]: None if code is not None else json.dumps(result)}
                out[op].append(tuple(v for _, v in sorted(row.items())))
    return {op: check.py_fingerprint(r) for op, r in out.items()}, secs, problems


def context_microbench(pool: list[dict], reps: int = 20) -> float:
    """µs to process one context from the pool (``core.context``)."""
    from jsonld_ex_spark.core.context import Context, Options, process_context

    t = time.perf_counter()
    for _ in range(reps):
        for ctx in pool:
            process_context(Context(), ctx, Options())
    return (time.perf_counter() - t) * 1e6 / (reps * len(pool))


class JsonldDocs:
    name = "jsonld_docs"
    # the fewest warm passes a run makes
    WARM_PASSES = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.docs_dir = os.path.join(work, "docs")
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @property
    def items(self) -> int:
        """Documents one pass processes, over the three operators."""
        return len(OPS) * N_DOCS

    def setup(self) -> None:
        rows, self.planted = gen.write_docs(
            self.docs_dir, self.seed, N_DOCS, K_CONTEXTS, PLANTED_EVERY, N_FILES
        )
        self.expected, secs, problems = expected_outputs(rows, self.planted, gen.SHARED_CONTEXT)
        # the plain-API check of the generator is one check, like each
        # timed operator run; every contradicting document is listed
        self.attempted += 1
        if problems:
            self._fail(f"{len(problems)} documents contradict the generator: " + "; ".join(problems[:20]))
        contexts = {json.dumps(json.loads(raw).get("@context"), sort_keys=True) for _, raw in rows}
        self.info.update(docs=N_DOCS, planted=len(self.planted), contexts=len(contexts),
                         expected_rows={op: fp[0] for op, fp in self.expected.items()})
        if self.tracer.enabled:
            n = len(rows)
            self.layer.update({
                "core.to_rdf_per_doc_us": secs["to_rdf"] * 1e6 / n,
                "core.compact_per_doc_us": secs["compact"] * 1e6 / n,
                "core.expand_per_doc_us": secs["expand"] * 1e6 / n,
                "core.context.process_per_ctx_us": context_microbench(
                    gen.context_pool(self.seed, K_CONTEXTS)
                ),
                "jsonld_ops.ctx_reuse": n / len(contexts),
                "jsonld_ops.docs": n,
                "jsonld_ops.contexts": len(contexts),
                "jsonld_ops.planted": len(self.planted),
            })

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    def _op(self, op: str, df):
        from jsonld_ex_spark.operators import jsonld_ops

        if op == "to_rdf":
            return jsonld_ops.to_rdf_rows(df)
        if op == "compact":
            out = jsonld_ops.compact_column(df, gen.SHARED_CONTEXT)
        else:
            out = jsonld_ops.expand_column(df)
        return out.select("doc_id", OUT_COL[op], "jsonld_error")

    def run_pass(self, traced: str | None = None) -> list[float]:
        """One pass: the three operators over a fresh read of the
        documents; returns per-operator latencies (seconds).  A traced
        pass runs each to the ``noop`` sink under a span and job label
        ``<traced>.<operator>``."""
        tr = self.tracer
        tr.new_trace()
        df = self.spark.read.parquet(self.docs_dir)
        lat = []
        for op in OPS:
            self.attempted += 1
            try:
                if traced:
                    with tr.span(f"{traced}.{op}") as sp:
                        self._op(op, df).write.format("noop").mode("overwrite").save()
                    lat.append(sp["s"])
                    continue
                t = time.perf_counter()
                got = check.spark_fingerprint(
                    self._op(op, df), BNODE_NORMALIZE if op == "to_rdf" else None
                )
                lat.append(time.perf_counter() - t)
                if got != self.expected[op]:
                    self._fail(f"{op}: fingerprint {got}, expected {self.expected[op]}")
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, the loop goes on
                self._fail(f"{op}: {type(e).__name__}: {e}")
                lat.append(math.inf)
        return lat

    def trace_layers(self) -> None:
        """Documents ``to_rdf_rows`` quarantines, against the planted ones."""
        from pyspark.sql import functions as F

        from jsonld_ex_spark.operators import jsonld_ops

        df = self.spark.read.parquet(self.docs_dir)
        self.layer["jsonld_ops.quarantined"] = (
            jsonld_ops.to_rdf_rows(df).where(F.col("pred") == jsonld_ops.QUARANTINE_PRED).count()
        )

    def per_layer(self, summarize) -> dict[str, float]:
        """Layer metrics from the spans of the traced pass."""
        out = dict(self.layer)
        spans = {s["name"]: s["s"] for s in self.tracer.spans}
        for op in OPS:
            out[f"jsonld_ops.{op}_s"] = spans[f"warm.{op}"]
        return out

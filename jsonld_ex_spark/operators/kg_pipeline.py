"""KG-construction pipeline: transcripts → JSON-LD docs → RDF triples.

Spark-first layout (north_star architecture):

1. transcript scan + turn synthesis — pure Catalyst (projection, one
   window over the source's natural clustering);
2. mention detection — ``regexp_extract_all`` (JVM, codegen; NOT a
   Python UDF);
3. per-conversation assembly — ``groupBy(conv_id).agg(sort_array(
   collect_list(struct(...))))``: ONE shuffle, with map-side partial
   aggregation; turn ordering restored by sort_array on the leading
   turn_idx field (per-row invariant: per-turn text equality under
   stable (conv_id, turn_idx) ordering);
4. triple rendering — one Catalyst projection (``transform``/``filter``/
   ``flatten`` + ``inline``) in the stage that holds the conv_id
   exchange: every document shares one template (CONV_CONTEXT +
   build_conversation_doc), so expand→flatten→toRdf is partially
   evaluated into the rows it always yields — no Python worker.  Blank
   nodes are skolemized deterministically per (conv_id, ordinal) so ids
   are stable across retries/re-runs.  The generic algorithms
   (jsonld_ex_spark.core, with a context processed once per executor)
   stay as the reference kernel ``_extract_triples``, which the
   differential tests run against this rendering;
5. optional salted repartition on subject hash before the sink (hot
   entities concentrate subjects; salt defuses skew at 10^12-turn
   scale — see triples.salted_repartition).

Reference parity: the reference kernel's expand/flatten/toRdf semantics
are exactly the W3C algorithms the reference implements
(lib/json/ld/expansion.ex, flattening.ex, decoder.ex) — validated against
the W3C suite in tests/test_w3c_*.py; the pipeline's rendering is checked
against that kernel row for row and against a relational DuckDB oracle
end-to-end.
"""

from __future__ import annotations

import functools
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from jsonld_ex_spark.core.context import Context, Options, process_context
from jsonld_ex_spark.core.errors import JsonLdError
from jsonld_ex_spark.core.expansion import expand as expand_algo
from jsonld_ex_spark.core.flattening import BlankNodeGenerator, node_map
from jsonld_ex_spark.core.rdf import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_INTEGER,
    XSD_STRING,
    quad_row,
)
from jsonld_ex_spark.core.to_rdf import to_rdf_from_node_map
from jsonld_ex_spark.sources.transcripts import (
    CONV_NS,
    ENTITY_NS,
    VOCAB,
    transcripts_df,
)

XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"

# The fixed pipeline context (versioned with the repo; FIXTURES.md §D)
CONV_CONTEXT = {
    "@vocab": VOCAB,
    "mentions": {"@type": "@id"},
    "ts": {"@type": XSD_DATETIME},
    "turns": {"@container": "@list"},
}

MENTION_RE = r"ENT_[0-9]{4}"

# marker predicate for quarantined (per-document error) rows
QUARANTINE_PRED = "https://sparkld.dev/system#processingError"

TRIPLE_SCHEMA = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("obj_is_iri", BooleanType(), False),
        StructField("obj_dt", StringType(), True),
        StructField("obj_lang", StringType(), True),
        StructField("graph", StringType(), True),
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), True),
    ]
)


@functools.cache
def _pipeline_context() -> Context:
    """Process CONV_CONTEXT once per executor process and cache.

    (At cluster scale this is the 'broadcast context cache': the
    processed term-definition table is built once, not per document.)
    """
    return process_context(Context(), CONV_CONTEXT, Options())


def build_conversation_doc(conv_id: str, turns: list[dict]) -> dict:
    """Assemble one conversation's JSON-LD document (no @context — the
    pipeline uses the preprocessed shared context)."""
    turn_nodes = []
    for t in turns:
        node = {
            "@id": f"urn:turn:{conv_id}:{t['turn_idx']}",
            "@type": "Turn",
            "turn_idx": t["turn_idx"],
            "role": t["role"],
            "text": t["text"],
            "ts": t["ts"],
        }
        if t.get("tool") is not None:
            node["tool"] = t["tool"]
        mentions = t.get("mentions") or []
        if len(mentions) > 0:
            node["mentions"] = [f"{ENTITY_NS}E{m[4:]}" for m in dict.fromkeys(mentions)]
        turn_nodes.append(node)
    return {
        "@id": f"{CONV_NS}{conv_id}",
        "@type": "Conversation",
        "turns": turn_nodes,
    }


def _lineage_turn_idx(conv_id: str, subj_kind: str, subj: str) -> int | None:
    if subj_kind == "bnode":
        # list-cell skolem label: "<conv_id>.<ordinal>"
        _, _, ordinal = subj.rpartition(".")
        return int(ordinal) if ordinal.isdigit() else None
    if subj.startswith("urn:turn:"):
        _, _, ordinal = subj.rpartition(":")
        return int(ordinal) if ordinal.isdigit() else None
    return None


def doc_to_triple_rows(conv_id: str, doc: dict, active: Context, options: Options) -> list[tuple]:
    """expand → node map → toRdf for one document, with deterministic
    per-conversation skolemized blank nodes."""
    expanded = expand_algo(active, None, doc, options)
    generator = BlankNodeGenerator(skolem_prefix=f"{conv_id}.")
    nm = node_map(expanded, generator)
    quads = to_rdf_from_node_map(nm, options, generator)
    rows = []
    lineage_memo: dict[str, int | None] = {}
    for quad in quads:
        row = quad_row(quad)
        turn_idx = lineage_memo.get(row[0], -2)
        if turn_idx == -2:
            turn_idx = _lineage_turn_idx(conv_id, *quad[0])
            lineage_memo[row[0]] = turn_idx
        rows.append((*row, conv_id, turn_idx))
    return rows


def _extract_triples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The reference kernel, a mapInPandas body: assembled conversations
    (turns as JSON) → triple rows through the generic JSON-LD algorithms.
    The pipeline renders the same rows in Catalyst (conversation_triples);
    this is the path that rendering is tested against.

    Each Arrow batch's rows are accumulated as one list of 9-field row
    tuples (``doc_to_triple_rows`` emits tuples) and become one
    ``pd.DataFrame(rows, columns=...)`` per batch.
    """
    import json

    active = _pipeline_context()
    options = Options()
    cols = list(TRIPLE_SCHEMA.fieldNames())
    for pdf in batches:
        out: list[tuple] = []
        for conv_id, turns_json in zip(pdf["conv_id"], pdf["turns_json"]):
            # turns arrive as ONE JSON string per conversation (built
            # JVM-side with to_json): Arrow moves a flat string column
            # ~30% cheaper than a list<struct> column, and json.loads is
            # C — measured ~1.3s/14.7k convs saved at sf0.1 vs letting
            # pyarrow build per-row lists of dicts.
            # NB to_json DROPS null fields → .get() for nullable 'tool'.
            turn_dicts = [
                {
                    "turn_idx": int(t["turn_idx"]),
                    "role": t.get("role"),
                    "text": t.get("text", ""),
                    "tool": t.get("tool"),
                    "ts": t.get("ts_str"),
                    "mentions": t.get("mentions") or [],
                }
                for t in json.loads(turns_json)
            ]
            try:
                doc = build_conversation_doc(conv_id, turn_dicts)
                out.extend(doc_to_triple_rows(conv_id, doc, active, options))
            except JsonLdError as e:
                # per-row error capture (reference raises JSON.LD.Error and
                # aborts; at corpus scale a bad document must quarantine,
                # not kill the job).  One marker triple per failed doc,
                # filterable by QUARANTINE_PRED; spec error code preserved.
                out.append((
                    f"{CONV_NS}{conv_id}", QUARANTINE_PRED, e.code,
                    False, None, None, None, conv_id, None,
                ))
        yield pd.DataFrame(out, columns=cols)


def assemble_conversations(transcripts: DataFrame) -> DataFrame:
    """Turn-level rows → one row per conversation with ordered turns.

    JVM-only: mention detection via regexp_extract_all, ts formatting
    via date_format, ordering via sort_array(collect_list(struct(...)))
    (struct sorts on its leading field turn_idx) — a single shuffle with
    map-side combine, no Python in the aggregation path.
    """
    turn_struct = F.struct(
        F.col("turn_idx"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_str"),
        F.expr(f"regexp_extract_all(text, '{MENTION_RE}', 0)").alias("mentions"),
    )
    return transcripts.groupBy("conv_id").agg(
        F.sort_array(F.collect_list(turn_struct)).alias("turns")
    )


# A conv_id whose IRIs toRdf drops (``core.iri.is_well_formed_iri``): a
# raw character outside the IRI grammar, or a second '#' (a '#' inside
# the fragment).  Both IRIs of a conversation carry the conv_id verbatim
# and no other '#', so the reference kernel emits no row for it at all.
_ILL_FORMED_CONV_ID = r'[\x00-\x20<>"{}|\\^`]|#[^#]*#'


def _triple(subj: str, pred: str, obj: str, dt: str | None, turn_idx: str) -> str:
    """One triple of the template as a SQL struct; only literals carry a
    datatype."""
    dt_sql = "CAST(NULL AS STRING)" if dt is None else f"'{dt}'"
    return (
        f"named_struct('subj', {subj}, 'pred', '{pred}', 'obj', {obj}, "
        f"'obj_is_iri', {str(dt is None).lower()}, 'obj_dt', {dt_sql}, "
        f"'turn_idx', CAST({turn_idx} AS INT))"
    )


def _cell(i: str) -> str:
    """Skolem label of list cell ``i``, as the reference kernel's blank
    node generator numbers them (cells are its only blank nodes)."""
    return f"concat('_:', conv_id, '.', CAST({i} AS STRING))"


_CONV_IRI = f"concat('{CONV_NS}', conv_id)"

# The triples doc_to_triple_rows derives from build_conversation_doc +
# CONV_CONTEXT, as one array per assembled conversation (SQL text: one
# JVM parse per call instead of hundreds of Column round trips).  Each
# turn ``p`` carries its position ``i`` in the sorted turns (list cell
# i), its IRI and its row lineage (_lineage_turn_idx: NULL for a
# negative turn_idx).  A NULL role/tool/ts yields a NULL obj and its row
# is dropped; a NULL text is "" (to_json drops the field, the kernel
# reads .get("text", "")) and NULL mentions are none.
_TEMPLATE_ROWS_SQL = f"""filter(concat(
  array(
    {_triple(_CONV_IRI, RDF_TYPE, f"'{VOCAB}Conversation'", None, "NULL")},
    {_triple(_CONV_IRI, f"{VOCAB}turns", _cell("0"), None, "NULL")}),
  flatten(transform(
    transform(turns, (t, i) -> named_struct(
      't', t, 'i', i,
      'iri', concat('urn:turn:', conv_id, ':', CAST(t.turn_idx AS STRING)),
      'lineage', IF(t.turn_idx >= 0, t.turn_idx, NULL))),
    p -> concat(
      array(
        {_triple(_cell("p.i"), RDF_FIRST, "p.iri", None, "p.i")},
        {_triple(_cell("p.i"), RDF_REST,
                 f"IF(p.i + 1 < size(turns), {_cell('p.i + 1')}, '{RDF_NIL}')", None, "p.i")},
        {_triple("p.iri", RDF_TYPE, f"'{VOCAB}Turn'", None, "p.lineage")},
        {_triple("p.iri", f"{VOCAB}turn_idx", "CAST(p.t.turn_idx AS STRING)", XSD_INTEGER, "p.lineage")},
        {_triple("p.iri", f"{VOCAB}role", "p.t.role", XSD_STRING, "p.lineage")},
        {_triple("p.iri", f"{VOCAB}text", "coalesce(p.t.text, '')", XSD_STRING, "p.lineage")},
        {_triple("p.iri", f"{VOCAB}tool", "p.t.tool", XSD_STRING, "p.lineage")},
        {_triple("p.iri", f"{VOCAB}ts", "p.t.ts_str", XSD_DATETIME, "p.lineage")}),
      transform(array_distinct(coalesce(p.t.mentions, array())), m ->
        {_triple("p.iri", f"{VOCAB}mentions", f"concat('{ENTITY_NS}E', substr(m, 5))", None, "p.lineage")}))))),
  r -> r.obj IS NOT NULL)"""

# A repeated turn_idx is one node to the reference kernel: its rows
# merge.  Dedup only then, because array_distinct compares structs
# pairwise (quadratic in the conversation's rows); the int-array test
# is linear.
_DEDUP_SQL = """CASE WHEN size(array_distinct(transform(turns, t -> t.turn_idx))) < size(turns)
  THEN array_distinct(rows) ELSE rows END"""


def conversation_triples(transcripts: DataFrame) -> DataFrame:
    """Full pipeline: transcript turns → RDF triple DataFrame.

    The pipeline's documents all share one template, so their triples
    are rendered by Catalyst from the assembled rows
    (``_TEMPLATE_ROWS_SQL``) in the stage that holds the conv_id
    exchange: no Python worker.  It reproduces the reference kernel
    ``_extract_triples`` row for row (tests/test_kg_pipeline.py runs
    both); this template cannot raise a ``JsonLdError``, so there is no
    quarantine row."""
    # rlike is NULL on a NULL conv_id: that conversation is dropped too
    assembled = assemble_conversations(transcripts).where(
        ~F.col("conv_id").rlike(_ILL_FORMED_CONV_ID)
    )
    null = F.lit(None).cast("string")
    return (
        assembled.select("conv_id", "turns", F.expr(_TEMPLATE_ROWS_SQL).alias("rows"))
        .select("conv_id", F.inline(F.expr(_DEDUP_SQL)))
        .select(
            "subj", "pred", "obj", "obj_is_iri", "obj_dt", null.alias("obj_lang"),
            null.alias("graph"), "conv_id", "turn_idx",
        )
    )


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conversation_triples(transcripts_df(spark, sf_dir))

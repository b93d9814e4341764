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
4. fused expand→flatten→toRdf — a single ``mapInPandas`` stage: one
   Arrow batch of assembled conversations in, triple rows out.  The
   JSON-LD algorithms (jsonld_ex_spark.core) run per document with a
   shared preprocessed context (processed once per executor, module
   cache — the reference reprocesses @context per document); blank
   nodes are skolemized deterministically per (conv_id, ordinal) so ids
   are stable across retries/re-runs;
5. optional salted repartition on subject hash before the sink (hot
   entities concentrate subjects; salt defuses skew at 10^12-turn
   scale — see triples.salted_repartition).

Reference parity: the expand/flatten/toRdf semantics are exactly the
W3C algorithms the reference implements (lib/json/ld/expansion.ex,
flattening.ex, decoder.ex) — validated against the W3C suite in
tests/test_w3c_*.py and against a relational DuckDB oracle end-to-end.
"""

from __future__ import annotations

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

_PROCESSED_CONTEXT: Context | None = None


def _pipeline_context() -> Context:
    """Process CONV_CONTEXT once per executor process and cache.

    (At cluster scale this is the 'broadcast context cache': the
    processed term-definition table is built once, not per document.)
    """
    global _PROCESSED_CONTEXT
    if _PROCESSED_CONTEXT is None:
        _PROCESSED_CONTEXT = process_context(Context(), CONV_CONTEXT, Options())
    return _PROCESSED_CONTEXT


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
    for s, p, o, g in quads:
        s_kind, s_val = s
        subj = s_val if s_kind == "iri" else "_:" + s_val
        pred = p[1]
        if o[0] == "lit":
            obj, obj_is_iri, obj_dt, obj_lang = o[1], False, o[2], o[3]
        else:
            obj = o[1] if o[0] == "iri" else "_:" + o[1]
            obj_is_iri, obj_dt, obj_lang = True, None, None
        graph = (g[1] if g[0] == "iri" else "_:" + g[1]) if g is not None else None
        turn_idx = lineage_memo.get(subj, -2)
        if turn_idx == -2:
            turn_idx = _lineage_turn_idx(conv_id, s_kind, s_val)
            lineage_memo[subj] = turn_idx
        rows.append((subj, pred, obj, obj_is_iri, obj_dt, obj_lang, graph, conv_id, turn_idx))
    return rows


def _extract_triples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: assembled conversations → triple rows.

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


def conversation_triples(transcripts: DataFrame) -> DataFrame:
    """Full pipeline: transcript turns → RDF triple DataFrame.

    The assembled turns cross the JVM→Python boundary as one JSON string
    per conversation (see _extract_triples for the measured rationale)."""
    assembled = assemble_conversations(transcripts).select(
        "conv_id", F.to_json("turns").alias("turns_json")
    )
    return assembled.mapInPandas(_extract_triples, schema=TRIPLE_SCHEMA)


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conversation_triples(transcripts_df(spark, sf_dir))

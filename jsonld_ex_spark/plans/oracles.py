"""DuckDB oracle SQL for the KG pipeline queries.

The kg_triples oracle is the strongest correctness check in the repo: it
derives the expected RDF triples *relationally* (pure SQL over the same
transcript synthesis CTE), completely independently of the JSON-LD
algorithm stack — if the Spark pipeline (expand → flatten → toRdf with
skolemized blank nodes) agrees with it row-for-row, both the document
assembly and the algorithm layer are right.
"""

from __future__ import annotations

from jsonld_ex_spark.sources.transcripts import (
    CONV_NS,
    ENTITY_NS,
    VOCAB,
    transcripts_oracle_cte,
)

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"


def transcripts_oracle() -> str:
    return transcripts_oracle_cte("lineitem")


def kg_triples_oracle(turns_sql: str | None = None) -> str:
    t = turns_sql or transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t}),
mx AS (SELECT conv_id, max(turn_idx) AS max_idx FROM t GROUP BY conv_id),
turn AS (
  SELECT t.*, concat('urn:turn:', conv_id, ':', turn_idx) AS turn_iri,
         concat('_:', conv_id, '.', turn_idx) AS cell
  FROM t
)
SELECT * FROM (
  SELECT DISTINCT concat('{CONV_NS}', conv_id) AS subj, '{RDF}type' AS pred,
         '{VOCAB}Conversation' AS obj, true AS obj_is_iri,
         CAST(NULL AS VARCHAR) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang,
         CAST(NULL AS VARCHAR) AS graph, conv_id, CAST(NULL AS INT) AS turn_idx
  FROM t
  UNION ALL
  SELECT DISTINCT concat('{CONV_NS}', conv_id), '{VOCAB}turns',
         concat('_:', conv_id, '.0'), true, NULL, NULL, NULL, conv_id, CAST(NULL AS INT)
  FROM t
  UNION ALL
  SELECT cell, '{RDF}first', turn_iri, true, NULL, NULL, NULL, conv_id, turn_idx FROM turn
  UNION ALL
  SELECT cell, '{RDF}rest',
         CASE WHEN turn_idx = max_idx THEN '{RDF}nil'
              ELSE concat('_:', conv_id, '.', turn_idx + 1) END,
         true, NULL, NULL, NULL, conv_id, turn_idx
  FROM turn JOIN mx USING (conv_id)
  UNION ALL
  SELECT turn_iri, '{RDF}type', '{VOCAB}Turn', true, NULL, NULL, NULL, conv_id, turn_idx FROM turn
  UNION ALL
  SELECT turn_iri, '{VOCAB}role', role, false, '{XSD}string', NULL, NULL, conv_id, turn_idx FROM turn
  UNION ALL
  SELECT turn_iri, '{VOCAB}text', text, false, '{XSD}string', NULL, NULL, conv_id, turn_idx FROM turn
  UNION ALL
  SELECT turn_iri, '{VOCAB}tool', tool, false, '{XSD}string', NULL, NULL, conv_id, turn_idx
  FROM turn WHERE tool IS NOT NULL
  UNION ALL
  SELECT turn_iri, '{VOCAB}ts', strftime(ts, '%Y-%m-%dT%H:%M:%SZ'), false,
         '{XSD}dateTime', NULL, NULL, conv_id, turn_idx FROM turn
  UNION ALL
  SELECT turn_iri, '{VOCAB}turn_idx', concat('', turn_idx), false,
         '{XSD}integer', NULL, NULL, conv_id, turn_idx FROM turn
  UNION ALL
  SELECT DISTINCT turn_iri, '{VOCAB}mentions',
         concat('{ENTITY_NS}E', substr(m, 5)), true, NULL, NULL, NULL, conv_id, turn_idx
  FROM turn, unnest(regexp_extract_all(text, 'ENT_[0-9]{{4}}')) AS u(m)
) AS triples
"""


def kg_mentions_oracle() -> str:
    t = transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t})
SELECT DISTINCT conv_id, turn_idx, m AS surface_norm
FROM t, unnest(regexp_extract_all(text, 'ENT_[0-9]{{4}}')) AS u(m)
"""


def kg_entity_links_oracle() -> str:
    t = transcripts_oracle_cte("lineitem")
    from jsonld_ex_spark.sources.transcripts import entity_dict_oracle_sql

    return f"""
WITH t AS ({t}),
dict AS ({entity_dict_oracle_sql()}),
m AS (
  SELECT DISTINCT conv_id, turn_idx, mm AS surface_norm
  FROM t, unnest(regexp_extract_all(text, 'ENT_[0-9]{{4}}')) AS u(mm)
)
SELECT d.entity_id, d.canonical_iri, count(*) AS n_mentions,
       count(DISTINCT m.conv_id) AS n_convs
FROM m JOIN dict d USING (surface_norm)
GROUP BY d.entity_id, d.canonical_iri
"""


def kg_triple_stats_oracle() -> str:
    return f"""
WITH triples AS ({kg_triples_oracle()})
SELECT pred, count(*) AS n, count(DISTINCT subj) AS n_subj
FROM triples GROUP BY pred
"""


def kg_turn_order_oracle() -> str:
    t = transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t})
SELECT conv_id, turn_idx,
       row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS expected_idx,
       text
FROM t
"""


def kg_roundtrip_check_oracle() -> str:
    t = transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t})
SELECT DISTINCT conv_id, true AS ok FROM t
"""


def kg_link_scores_oracle() -> str:
    t = transcripts_oracle_cte("lineitem")
    from jsonld_ex_spark.sources.transcripts import entity_dict_oracle_sql

    return f"""
WITH t AS ({t}),
dict AS ({entity_dict_oracle_sql()}),
cands AS (
  SELECT DISTINCT conv_id, turn_idx, role, length(text) AS text_len,
         m AS surface_norm, strpos(text, m) - 1 AS position
  FROM t, unnest(regexp_extract_all(text, 'ENT_[0-9]{{4}}')) AS u(m)
)
SELECT conv_id, turn_idx, d.entity_id, d.canonical_iri,
       least(1000 - (500 * position) // greatest(text_len, 1)
             + 100 * CASE WHEN role = 'user' THEN 1 ELSE 0 END, 1000) AS score
FROM cands JOIN dict d USING (surface_norm)
"""


def kg_entity_cooccurrence_oracle() -> str:
    t = transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t}),
m AS (
  SELECT DISTINCT conv_id, mm AS surface_norm
  FROM t, unnest(regexp_extract_all(text, 'ENT_[0-9]{{4}}')) AS u(mm)
)
SELECT a.surface_norm AS ent_a, b.surface_norm AS ent_b, count(*) AS n_convs
FROM m a JOIN m b USING (conv_id)
WHERE a.surface_norm < b.surface_norm
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def kg_frame_tool_turns_oracle() -> str:
    """Framed tool-turn selection, derived relationally: the frame's
    @requireAll turn pattern (turn_idx+role+tool all present) is exactly
    'tool IS NOT NULL' on the synthesized transcripts."""
    t = transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t})
SELECT conv_id, turn_idx, role, tool FROM t WHERE tool IS NOT NULL"""


def kg_graph_dedup_oracle() -> str:
    """Graph-level dedup fingerprints, re-derived from the relational
    triple oracle: same conv-abstraction, same chr(31)-joined field
    lines, same newline-joined sorted canonical text, same md5."""
    return f"""
WITH trip AS ({kg_triples_oracle()}),
lines AS (
  SELECT conv_id,
         concat_ws(chr(31),
            replace(subj, conv_id, 'X'),
            pred,
            CASE WHEN obj_is_iri THEN replace(obj, conv_id, 'X') ELSE obj END,
            COALESCE(obj_dt, ''),
            COALESCE(obj_lang, '')) AS line
  FROM trip
),
fp AS (
  SELECT conv_id, md5(string_agg(line, chr(10) ORDER BY line)) AS graph_md5
  FROM lines GROUP BY conv_id
)
SELECT conv_id, graph_md5,
       count(*) OVER (PARTITION BY graph_md5) AS group_size,
       min(conv_id) OVER (PARTITION BY graph_md5) AS canonical_conv_id
FROM fp"""


# --- BGP pattern queries (operators/bgp.py) --------------------------------

# Shared with operators/kg_queries.py so the Spark plan and the oracle
# compile the IDENTICAL pattern list.
BGP_TOOL_MENTIONS_PATTERNS: list[tuple[str, str, str]] = [
    ("?turn", f"<{VOCAB}role>", '"tool"'),
    ("?turn", f"<{VOCAB}mentions>", "?entity"),
]


def kg_bgp_tool_mentions_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(
        kg_triples_oracle(), BGP_TOOL_MENTIONS_PATTERNS, project=["turn", "entity"]
    )


def kg_bgp_bridge_entities_oracle() -> str:
    """Derived straight from the transcript CTE (independent of both the
    triple oracle and the BGP compiler): per-entity distinct assistant/
    tool turn counts, inner-joined on entity.  This is the factorized
    form of the 4-pattern BGP's count-distinct aggregate — the naive
    bag join is Σ|A_e|·|T_e| ≈ 12.4M rows at sf0.01 (~1.2B at sf0.1)."""
    t = transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t}),
m AS (
  SELECT DISTINCT role, concat('urn:turn:', conv_id, ':', turn_idx) AS turn,
         concat('{ENTITY_NS}E', substr(mm, 5)) AS entity
  FROM t, unnest(regexp_extract_all(text, 'ENT_[0-9]{{4}}')) AS u(mm)
),
a AS (SELECT entity, count(DISTINCT turn) AS n_assistant_turns
      FROM m WHERE role = 'assistant' GROUP BY entity),
b AS (SELECT entity, count(DISTINCT turn) AS n_tool_turns
      FROM m WHERE role = 'tool' GROUP BY entity)
SELECT entity, n_assistant_turns, n_tool_turns FROM a JOIN b USING (entity)"""


# --- Incremental maintenance: snapshot delta -------------------------------

def _turns_participating() -> str:
    """The deterministic conv subset the delta gate query compares over
    (keeps the gate's two pipeline runs to ~25% of the data)."""
    t = transcripts_oracle_cte("lineitem")
    return (
        f"SELECT * FROM ({t}) pt "
        "WHERE substr(md5(conv_id), 1, 1) IN ('0','1','2','3')"
    )


def _turns_old_snapshot() -> str:
    """Yesterday's snapshot: the same convs, but convs whose md5 leads
    with 0/1 have not yet received their final turn."""
    return f"""SELECT conv_id, turn_idx, role, text, tool, ts FROM (
  SELECT b.*, max(turn_idx) OVER (PARTITION BY conv_id) AS _mx
  FROM ({_turns_participating()}) b
) x WHERE NOT (substr(md5(conv_id), 1, 1) IN ('0','1') AND turn_idx = _mx)"""


_DELTA_KEY_SQL = (
    "md5(concat_ws(chr(31), subj, pred, obj, CAST(obj_is_iri AS VARCHAR), "
    "coalesce(obj_dt, chr(30)), coalesce(obj_lang, chr(30)), "
    "coalesce(graph, chr(30))))"
)


def kg_triples_delta_oracle() -> str:
    """Per-predicate added/removed triple counts between two pipeline
    snapshots, derived via the relational triple oracle on both sides."""
    return f"""
WITH nk AS (SELECT pred, {_DELTA_KEY_SQL} AS k FROM ({kg_triples_oracle(_turns_participating())}) n),
ok AS (SELECT pred, {_DELTA_KEY_SQL} AS k FROM ({kg_triples_oracle(_turns_old_snapshot())}) o),
a AS (SELECT pred, count(*) AS n_added FROM nk WHERE k NOT IN (SELECT k FROM ok) GROUP BY pred),
r AS (SELECT pred, count(*) AS n_removed FROM ok WHERE k NOT IN (SELECT k FROM nk) GROUP BY pred)
SELECT pred, CAST(coalesce(a.n_added, 0) AS BIGINT) AS n_added,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
FROM a FULL JOIN r USING (pred)"""


BGP_TURN_TOOLS_PATTERNS: list[tuple[str, str, str]] = [
    ("?turn", f"<{RDF}type>", f"<{VOCAB}Turn>"),
    ("?turn", f"<{VOCAB}role>", "?role"),
]
# OPTIONAL { ?turn v:tool ?toolname } — only tool-role turns carry it;
# the other two thirds of the bindings come back with a NULL toolname,
# exercising the left-join path non-vacuously at every scale.
BGP_TURN_TOOLS_OPTIONAL: list[list[tuple[str, str, str]]] = [
    [("?turn", f"<{VOCAB}tool>", "?toolname")]
]


def kg_bgp_turn_tools_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(
        kg_triples_oracle(),
        BGP_TURN_TOOLS_PATTERNS,
        project=["turn", "role", "toolname"],
        optional=BGP_TURN_TOOLS_OPTIONAL,
    )


def kg_list_walk_oracle() -> str:
    """List positions re-derived with a recursive CTE over the
    relational triple oracle — one hop per recursion level (DuckDB's
    sequential walk) vs the Spark side's positions read off the cell
    labels (graph_paths.chain_positions)."""
    return f"""
WITH RECURSIVE trip AS ({kg_triples_oracle()}),
edges AS (
  SELECT subj AS src, obj AS dst FROM trip
  WHERE pred = '{RDF}rest' AND obj <> '{RDF}nil'
),
heads AS (
  SELECT subj AS conv_iri, obj AS cell FROM trip WHERE pred = '{VOCAB}turns'
),
walk AS (
  SELECT conv_iri, cell, 0 AS position FROM heads
  UNION ALL
  SELECT w.conv_iri, e.dst, w.position + 1
  FROM walk w JOIN edges e ON e.src = w.cell
)
SELECT w.conv_iri, w.position, f.obj AS turn_iri
FROM walk w JOIN trip f ON f.subj = w.cell AND f.pred = '{RDF}first'
"""


def kg_construct_entity_edges_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_construct_oracle_sql

    return bgp_construct_oracle_sql(
        kg_triples_oracle(),
        [("?turn", f"<{VOCAB}mentions>", "?ent")],
        [
            ("?ent", f"<{RDF}type>", f"<{VOCAB}Entity>"),
            ("?ent", f"<{VOCAB}mentionedBy>", "?turn"),
        ],
    )


def kg_conversation_text_oracle() -> str:
    """Conversation text fingerprints straight from the transcript CTE
    — no triples, no walker: if the graph-derived form agrees, the
    whole construct→walk→reassemble chain preserved every byte."""
    t = transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t})
SELECT concat('{CONV_NS}', conv_id) AS conv_iri,
       md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS text_md5,
       CAST(count(*) AS BIGINT) AS n_turns
FROM t GROUP BY conv_id"""


def kg_bgp_nontool_mentions_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(
        kg_triples_oracle(),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        project=["turn", "entity"],
        minus=[[("?turn", f"<{VOCAB}role>", '"tool"')]],
    )


def kg_entity_pagerank_oracle() -> str:
    """PR_ITERS PageRank iterations unrolled as CTEs over the same
    integer fixed-point arithmetic (DuckDB // floors like Spark div on
    non-negative operands; sums CAST back to BIGINT before reuse)."""
    from jsonld_ex_spark.operators.kg_queries import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_ITERS,
        PR_SCALE,
    )

    t = transcripts_oracle_cte("lineitem")
    parts = [f"""t AS ({t}),
m AS (
  SELECT DISTINCT conv_id, mm AS e
  FROM t, unnest(regexp_extract_all(text, 'ENT_[0-9]{{4}}')) AS u(mm)
),
cooc AS (
  SELECT a.e AS ent_a, b.e AS ent_b
  FROM m a JOIN m b USING (conv_id)
  WHERE a.e < b.e GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS (
  SELECT ent_a AS src, ent_b AS dst FROM cooc
  UNION ALL SELECT ent_b, ent_a FROM cooc
),
nodes AS (SELECT DISTINCT src AS ent FROM edges),
deg AS (SELECT src AS ent, count(*) AS d FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
pr0 AS (SELECT ent, CAST({PR_SCALE} // n AS BIGINT) AS pr FROM nodes CROSS JOIN nn)"""]
    for it in range(1, PR_ITERS + 1):
        prev = f"pr{it - 1}"
        parts.append(f"""pr{it} AS (
  SELECT nodes.ent,
         CAST(({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_SCALE} // nn.n)
               + {PR_DAMP_NUM} * COALESCE(s.msum, 0)) // {PR_DAMP_DEN} AS BIGINT) AS pr
  FROM nodes CROSS JOIN nn LEFT JOIN (
    SELECT e.dst AS ent, CAST(sum(p.pr // d.d) AS BIGINT) AS msum
    FROM edges e
    JOIN {prev} p ON p.ent = e.src
    JOIN deg d ON d.ent = e.src
    GROUP BY e.dst
  ) s ON s.ent = nodes.ent
)""")
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT ent, pr FROM pr{PR_ITERS}"
    )


def kg_shape_report_oracle() -> str:
    """The shape rules re-expressed as scalar-subquery counts over
    the relational triple derivation."""
    from jsonld_ex_spark.operators.kg_queries import _kg_shapes

    parts = []
    for s in _kg_shapes():
        if s["rule"] == "cardinality":
            checked = (
                f"(SELECT count(*) FROM (SELECT DISTINCT subj FROM trip "
                f"WHERE pred = '{RDF}type' AND obj = '{s['cls']}') ts)"
            )
            bad = f"""(SELECT count(*) FROM (
  SELECT ts.subj, coalesce(c.c, 0) AS c
  FROM (SELECT DISTINCT subj FROM trip WHERE pred = '{RDF}type' AND obj = '{s['cls']}') ts
  LEFT JOIN (SELECT subj, count(*) AS c FROM trip WHERE pred = '{s['pred']}' GROUP BY subj) c
    ON c.subj = ts.subj
) x WHERE c < {s['min_count']} OR c > {s['max_count']})"""
        elif s["rule"] == "datatype":
            checked = f"(SELECT count(*) FROM trip WHERE pred = '{s['pred']}')"
            bad = (
                f"(SELECT count(*) FROM trip WHERE pred = '{s['pred']}' "
                f"AND (obj_is_iri OR coalesce(obj_dt, '') <> '{s['dt']}'))"
            )
        elif s["rule"] == "node_kind":
            checked = f"(SELECT count(*) FROM trip WHERE pred = '{s['pred']}')"
            want = "true" if s["is_iri"] else "false"
            bad = (
                f"(SELECT count(*) FROM trip WHERE pred = '{s['pred']}' "
                f"AND obj_is_iri <> {want})"
            )
        elif s["rule"] == "pattern":
            checked = f"(SELECT count(*) FROM trip WHERE pred = '{s['pred']}')"
            bad = (
                f"(SELECT count(*) FROM trip WHERE pred = '{s['pred']}' "
                f"AND NOT regexp_matches(obj, '{s['regex']}'))"
            )
        elif s["rule"] == "class_range":
            checked = f"(SELECT count(*) FROM trip WHERE pred = '{s['pred']}')"
            bad = f"""(SELECT count(*) FROM trip p
  LEFT JOIN (SELECT DISTINCT subj FROM trip
             WHERE pred = '{RDF}type' AND obj = '{s['cls']}') t
    ON t.subj = p.obj
  WHERE p.pred = '{s['pred']}' AND t.subj IS NULL)"""
        else:  # value_in
            vals = ", ".join(f"'{v}'" for v in s["values"])
            checked = f"(SELECT count(*) FROM trip WHERE pred = '{s['pred']}')"
            bad = (
                f"(SELECT count(*) FROM trip WHERE pred = '{s['pred']}' "
                f"AND obj NOT IN ({vals}))"
            )
        parts.append(
            f"SELECT '{s['rule_id']}' AS rule_id, "
            f"CAST({checked} AS BIGINT) AS n_checked, "
            f"CAST({bad} AS BIGINT) AS n_violations"
        )
    body = " UNION ALL ".join(parts)
    return f"WITH trip AS ({kg_triples_oracle()})\n{body}"


def kg_bgp_human_or_assistant_turns_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_union_oracle_sql

    return bgp_union_oracle_sql(
        kg_triples_oracle(),
        [
            [("?turn", f"<{VOCAB}role>", '"user"')],
            [("?turn", f"<{VOCAB}role>", '"assistant"')],
        ],
        project=["turn"],
    )


def kg_entity_triangles_oracle() -> str:
    """Degree-ordered triangle enumeration re-derived relationally:
    same (deg, ent) orientation key, same once-per-triangle wedge
    close, per-corner counts."""
    t = transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t}),
m AS (
  SELECT DISTINCT conv_id, mm AS e
  FROM t, unnest(regexp_extract_all(text, 'ENT_[0-9]{{4}}')) AS u(mm)
),
pairs AS (
  SELECT a.e AS src, b.e AS dst
  FROM m a JOIN m b USING (conv_id)
  WHERE a.e < b.e GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT ent, count(*) AS d FROM (
    SELECT src AS ent FROM pairs UNION ALL SELECT dst FROM pairs
  ) x GROUP BY ent
),
e AS (
  SELECT CASE WHEN (ds.d < dd.d) OR (ds.d = dd.d AND src < dst)
              THEN src ELSE dst END AS u,
         CASE WHEN (ds.d < dd.d) OR (ds.d = dd.d AND src < dst)
              THEN dst ELSE src END AS v
  FROM pairs
  JOIN deg ds ON ds.ent = src
  JOIN deg dd ON dd.ent = dst
),
tri AS (
  SELECT w1.u AS a, w1.v AS b, w2.v AS c
  FROM e w1
  JOIN e w2 ON w1.v = w2.u
  JOIN e w3 ON w3.u = w1.u AND w3.v = w2.v
)
SELECT ent, count(*) AS n_triangles FROM (
  SELECT a AS ent FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) corners GROUP BY ent"""


def kg_entity_neighbor_similarity_oracle() -> str:
    t = transcripts_oracle_cte("lineitem")
    return f"""
WITH t AS ({t}),
m AS (
  SELECT DISTINCT conv_id, mm AS e
  FROM t, unnest(regexp_extract_all(text, 'ENT_[0-9]{{4}}')) AS u(mm)
),
pairs AS (
  SELECT a.e AS src, b.e AS dst
  FROM m a JOIN m b USING (conv_id)
  WHERE a.e < b.e GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
deg AS (SELECT src AS ent, count(*) AS d FROM adj GROUP BY src),
shared AS (
  SELECT w1.dst AS ent_a, w2.dst AS ent_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM adj w1 JOIN adj w2 ON w1.src = w2.src
  WHERE w1.dst < w2.dst
  GROUP BY w1.dst, w2.dst HAVING count(*) >= 2
)
SELECT s.ent_a, s.ent_b, s.n_shared,
       CAST((s.n_shared * 1000000) // (da.d + db.d - s.n_shared) AS BIGINT)
         AS jaccard_ppm
FROM shared s
JOIN deg da ON da.ent = s.ent_a
JOIN deg db ON db.ent = s.ent_b"""


def kg_bgp_entity_mention_stats_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_aggregate_oracle_sql

    return bgp_aggregate_oracle_sql(
        kg_triples_oracle(),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        group_by=["entity"],
        aggs={
            "n_mentions": ("count", None),
            "n_turns": ("count_distinct", "turn"),
            "first_turn": ("min", "turn"),
            "last_turn": ("max", "turn"),
        },
    )


# SPARQL ASK batch under the gate: one pattern that matches (tool turns
# mentioning entities exist at every sf) and one that cannot (no
# "moderator" role in the vocabulary) — both boolean rows gated.
BGP_ASKS: dict[str, list[tuple[str, str, str]]] = {
    "tool_turns_mention_entities": [
        ("?turn", f"<{VOCAB}role>", '"tool"'),
        ("?turn", f"<{VOCAB}mentions>", "?entity"),
    ],
    "moderator_turns_exist": [("?turn", f"<{VOCAB}role>", '"moderator"')],
}


def kg_bgp_ask_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_ask_oracle_sql

    return bgp_ask_oracle_sql(kg_triples_oracle(), BGP_ASKS)


# FILTERed BGP under the gate: mention edges restricted to late turns
# (numeric FILTER on the turn_idx literal) and a lexical entity-IRI
# regex — both filter forms compiled below the join.
BGP_FILTERED_MENTIONS_PATTERNS: list[tuple[str, str, str]] = [
    ("?turn", f"<{VOCAB}turn_idx>", "?idx"),
    ("?turn", f"<{VOCAB}mentions>", "?entity"),
]
BGP_FILTERED_MENTIONS_FILTERS: list[tuple[str, str, object]] = [
    ("idx", "gt", 5),
    ("entity", "regex", "E00[0-4][0-9]$"),
]


# Subquery gate query (round-6): tool-turn mentions of globally-hot
# entities.  The threshold keeps the result a strict, non-empty subset
# at BOTH gate scales (sf0.001: 10/137 entities qualify; sf0.01:
# 82/211).  One kwargs dict feeds bgp_select AND bgp_oracle_sql so the
# two engines compile the identical query AST.
SUBQUERY_MIN_MENTIONS = 250
BGP_SUBQUERY_HOT_KW = dict(
    patterns=[
        ("?turn", f"<{VOCAB}role>", '"tool"'),
        ("?turn", f"<{VOCAB}mentions>", "?entity"),
    ],
    subqueries=[
        dict(
            patterns=[("?t2", f"<{VOCAB}mentions>", "?entity")],
            group_by=["entity"],
            aggs={"total": ("count", None)},
            having=[("total", "ge", SUBQUERY_MIN_MENTIONS)],
        )
    ],
    project=["turn", "entity", "total"],
)


# String-function + multi-variable-VALUES gate query (round-6): parse
# conversation keys out of turn IRIs and entity codes out of entity
# IRIs, over an inline (role, entity) VALUES table.
BGP_EXPR_TURN_KEYS_KW = dict(
    patterns=[
        ("?turn", f"<{VOCAB}mentions>", "?entity"),
        ("?turn", f"<{VOCAB}role>", "?role"),
    ],
    values_rows=(
        ["role", "entity"],
        [
            ("tool", f"{ENTITY_NS}E0000"),
            ("assistant", f"{ENTITY_NS}E0001"),
            ("tool", f"{ENTITY_NS}E0002"),
            ("assistant", f"{ENTITY_NS}E0003"),
        ],
    ),
    bind={
        "conv": ("strbefore", ("strafter", ("str", "turn"), "urn:turn:"), ":"),
        "ecode": ("replace", ("strafter", "entity", "/entity/"), "E", "ent-"),
    },
    project=["turn", "role", "entity", "conv", "ecode"],
)


def kg_bgp_expr_turn_keys_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(kg_triples_oracle(), **BGP_EXPR_TURN_KEYS_KW)


def kg_bgp_subquery_hot_entities_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(kg_triples_oracle(), **BGP_SUBQUERY_HOT_KW)


def kg_bgp_page_entities_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import (
        bgp_oracle_sql,
        bgp_order_limit_oracle_sql,
    )
    from jsonld_ex_spark.operators.kg_queries import ENTITY_PAGE_SIZE

    inner = bgp_oracle_sql(
        kg_triples_oracle(), BGP_TOOL_MENTIONS_PATTERNS, project=["entity"]
    )
    return bgp_order_limit_oracle_sql(
        inner, [("entity", "asc")], limit=ENTITY_PAGE_SIZE,
        offset=ENTITY_PAGE_SIZE, distinct=True,
    )


def kg_update_typed_delete_oracle() -> str:
    """Relational mirror of kg_update_typed_delete: the typed '3'
    scores and the typed probe note are deleted exact-term; every
    identical-lexical plain (xsd:string) literal survives.  The plain
    rows' normalized datatype is xsd:string (RDF 1.1 term identity —
    same normalization as graph_update._norm_dt_col)."""
    from jsonld_ex_spark.operators.jsonld_ops import DOC_NS
    from jsonld_ex_spark.operators.jsonld_ops import VOCAB as DOC_VOCAB  # noqa: F401

    return f"""
WITH survivors AS (
  SELECT '{DOC_NS}' || CAST(doc_id AS VARCHAR) AS subj,
         CAST(doc_id % 7 AS VARCHAR) AS obj,
         '{XSD}integer' AS dt
  FROM documents WHERE doc_id % 7 <> 3
  UNION ALL
  SELECT '{DOC_NS}' || CAST(doc_id AS VARCHAR),
         CAST(doc_id % 7 AS VARCHAR),
         '{XSD}string'
  FROM documents
  UNION ALL
  SELECT 'urn:probe:1', 'p', '{XSD}string'
)
SELECT obj, dt, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT subj) AS BIGINT) AS n_docs
FROM survivors GROUP BY obj, dt"""


def kg_bgp_top_entities_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import (
        bgp_aggregate_oracle_sql,
        bgp_order_limit_oracle_sql,
    )
    from jsonld_ex_spark.operators.kg_queries import TOP_ENTITIES_LIMIT

    inner = bgp_aggregate_oracle_sql(
        kg_triples_oracle(),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        group_by=["entity"],
        aggs={"n_mentions": ("count", None)},
    )
    return bgp_order_limit_oracle_sql(
        inner, [("n_mentions", "desc"), ("entity", "asc")], TOP_ENTITIES_LIMIT
    )


# ``?conv v:turns/rdf:rest*/rdf:first ?turn``, every turn of every
# conversation: shared with operators/kg_queries.py like the BGP
# pattern lists above
CONV_TURNS_PATH = ("seq", f"<{VOCAB}turns>", ("star", f"<{RDF}rest>"), f"<{RDF}first>")


def kg_path_conv_turns_oracle() -> str:
    from jsonld_ex_spark.operators.property_paths import path_oracle_sql

    return path_oracle_sql(kg_triples_oracle(), "?conv", CONV_TURNS_PATH, "?turn")


def kg_path_tool_turns_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(
        kg_triples_oracle(),
        [("?turn", f"<{VOCAB}tool>", "?toolname")],
        project=["conv", "turn", "toolname"],
        paths=[("?conv", CONV_TURNS_PATH, "?turn")],
    )


BGP_VALUES_ENTITIES = [f"{ENTITY_NS}E{i:04d}" for i in range(3)]


def kg_bgp_values_mentions_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(
        kg_triples_oracle(),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        project=["turn", "entity"],
        values={"entity": BGP_VALUES_ENTITIES},
    )


def kg_entity_components_oracle() -> str:
    """Components via an independent WITH RECURSIVE reachability
    closure (UNION = set fixpoint) + min-reachable-label, over the same
    >=2-convs co-occurrence pair derivation."""
    return f"""
WITH RECURSIVE p AS ({kg_entity_cooccurrence_oracle()}),
e AS (
  SELECT ent_a AS src, ent_b AS dst FROM p
  UNION ALL SELECT ent_b, ent_a FROM p
),
n AS (SELECT DISTINCT src AS ent FROM e),
r(ent, reach) AS (
  SELECT ent, ent FROM n
  UNION
  SELECT r.ent, e.dst FROM r JOIN e ON e.src = r.reach
),
comp AS (SELECT ent, min(reach) AS component FROM r GROUP BY ent),
sizes AS (SELECT component, count(*) AS n_members FROM comp GROUP BY component)
SELECT c.ent, c.component, s.n_members
FROM comp c JOIN sizes s USING (component)"""


def kg_path_filtered_nontool_turns_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(
        kg_triples_oracle(),
        [("?turn", f"<{VOCAB}role>", "?role")],
        project=["conv", "turn", "role"],
        paths=[("?conv", CONV_TURNS_PATH, "?turn")],
        filters=[("conv", "regex", "[0-4]$")],
        not_exists=[[("?turn", f"<{VOCAB}tool>", "?tname")]],
    )


# BIND expressions under the gate: ONE args dict shared verbatim by the
# Spark query (kg_queries.kg_bgp_bind_mention_labels) and the oracle
# below, so the two sides can never drift
BGP_BIND_MENTION_ARGS = dict(
    patterns=[
        ("?turn", f"<{VOCAB}mentions>", "?entity"),
        ("?turn", f"<{VOCAB}turn_idx>", "?idx"),
    ],
    project=["turn", "entity", "ename", "slot", "label"],
    bind={
        "ename": ("localname", "entity"),
        "slot": ("add", ("mul", "idx", 100), ("strlen", "entity")),
        "label": ("concat", ("localname", "entity"), ("lit", "#"), "idx"),
    },
)


def kg_bgp_bind_mention_labels_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(kg_triples_oracle(), **BGP_BIND_MENTION_ARGS)


def kg_update_tool_redaction_oracle() -> str:
    """The DELETE/INSERT-WHERE mutation applied relationally: drop
    tool-pred rows, add one redacted marker per formerly-tool-attached
    turn, then the standard per-pred stats."""
    return f"""
WITH t AS ({kg_triples_oracle()}),
final AS (
  SELECT subj, pred FROM t WHERE pred <> '{VOCAB}tool'
  UNION ALL
  SELECT DISTINCT subj, '{VOCAB}redacted' AS pred FROM t
  WHERE pred = '{VOCAB}tool'
)
SELECT pred, count(*) AS n, count(DISTINCT subj) AS n_subj
FROM final GROUP BY pred"""


def kg_describe_convs_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_describe_oracle_sql

    return bgp_describe_oracle_sql(
        kg_triples_oracle(),
        f"SELECT DISTINCT subj AS root FROM triples "
        f"WHERE pred = '{VOCAB}turns' AND subj LIKE '%00'",
    )


def kg_bgp_entity_idx_sum_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_aggregate_oracle_sql

    return bgp_aggregate_oracle_sql(
        kg_triples_oracle(),
        [
            ("?turn", f"<{VOCAB}mentions>", "?entity"),
            ("?turn", f"<{VOCAB}turn_idx>", "?idx"),
        ],
        group_by=["entity"],
        aggs={"n_mentions": ("count", None), "idx_sum": ("sum", "idx")},
    )


def kg_bgp_avg_idx_having_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_aggregate_oracle_sql

    return bgp_aggregate_oracle_sql(
        kg_triples_oracle(),
        [
            ("?turn", f"<{VOCAB}mentions>", "?entity"),
            ("?turn", f"<{VOCAB}turn_idx>", "?idx"),
        ],
        group_by=["entity"],
        aggs={
            "n_mentions": ("count", None),
            "idx_avg_pm": ("avg", "idx"),
            "witness_turn": ("sample", "turn"),
        },
        having=[("n_mentions", "ge", 3)],
    )


def kg_bgp_turn_entity_lists_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_aggregate_oracle_sql

    return bgp_aggregate_oracle_sql(
        kg_triples_oracle(),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        group_by=["turn"],
        aggs={"n_mentions": ("count", None), "entities": ("group_concat", "entity")},
    )


def kg_bgp_filtered_mentions_oracle() -> str:
    from jsonld_ex_spark.operators.bgp import bgp_oracle_sql

    return bgp_oracle_sql(
        kg_triples_oracle(),
        BGP_FILTERED_MENTIONS_PATTERNS,
        project=["turn", "idx", "entity"],
        filters=BGP_FILTERED_MENTIONS_FILTERS,
    )


# --- Textual SPARQL gate queries (round 6) ---------------------------------
# ONE query string per gate entry, compiled BOTH ways: sparql_query()
# parses it into the audited BGP compiler for the Spark plan, and
# sparql_oracle_sql() parses the SAME text into the oracle SQL
# generators — the strongest witness that the parser adds no semantics
# of its own.

SPARQL_TEXT_MENTIONS = """
PREFIX v: <https://sparkld.dev/vocab#>
SELECT ?turn ?entity ?idx ?label WHERE {
  ?turn v:mentions ?entity ; v:turn_idx ?idx .
  OPTIONAL { ?turn v:tool ?tname }
  BIND(IF(BOUND(?tname), CONCAT("tool:", ?tname), "plain") AS ?label)
  FILTER(?idx > 5)
  FILTER(STRENDS(?entity, "7"))
} ORDER BY ?turn ?entity ?label ?idx LIMIT 500
"""

SPARQL_TEXT_ENTITY_STATS = """
PREFIX v: <https://sparkld.dev/vocab#>
SELECT ?entity (COUNT(?turn) AS ?n_mentions) (COUNT(DISTINCT ?role) AS ?n_roles)
WHERE { ?turn v:mentions ?entity ; v:role ?role . }
GROUP BY ?entity HAVING(?n_mentions >= 8)
ORDER BY DESC(?n_mentions) ?entity LIMIT 50
"""


def kg_sparql_text_mentions_oracle() -> str:
    from jsonld_ex_spark.operators.sparql_text import sparql_oracle_sql

    return sparql_oracle_sql(kg_triples_oracle(), SPARQL_TEXT_MENTIONS)


def kg_sparql_text_entity_stats_oracle() -> str:
    from jsonld_ex_spark.operators.sparql_text import sparql_oracle_sql

    return sparql_oracle_sql(kg_triples_oracle(), SPARQL_TEXT_ENTITY_STATS)


SPARQL_TEXT_PATH_EDGES = """
PREFIX v: <https://sparkld.dev/vocab#>
SELECT ?turn ?x WHERE {
  ?turn (v:mentions|v:tool) ?x .
  FILTER(STRLEN(?x) >= 3)
} ORDER BY ?turn ?x LIMIT 300
"""


def kg_sparql_text_path_edges_oracle() -> str:
    from jsonld_ex_spark.operators.sparql_text import sparql_oracle_sql

    return sparql_oracle_sql(kg_triples_oracle(), SPARQL_TEXT_PATH_EDGES)


SPARQL_TEXT_OPTIONAL_TOOLS = """
PREFIX v: <https://sparkld.dev/vocab#>
SELECT ?idx ?tool_label WHERE {
  _:t v:turn_idx ?idx ; v:role "tool" .
  OPTIONAL { _:t v:tool ?tn . FILTER(?tn != "kb_search") }
  BIND(COALESCE(?tn, "none") AS ?tool_label)
  FILTER(?idx > 8)
} ORDER BY ?idx ?tool_label LIMIT 200
"""


def kg_sparql_text_optional_tools_oracle() -> str:
    from jsonld_ex_spark.operators.sparql_text import sparql_oracle_sql

    return sparql_oracle_sql(kg_triples_oracle(), SPARQL_TEXT_OPTIONAL_TOOLS)


SPARQL_TEXT_UNION_STATS = """
PREFIX v: <https://sparkld.dev/vocab#>
SELECT ?entity (COUNT(?turn) AS ?n_edges) WHERE {
  { ?turn v:role "user" . ?turn v:mentions ?entity } UNION
  { ?turn v:role "assistant" . ?turn v:mentions ?entity }
} GROUP BY ?entity HAVING(?n_edges >= 6)
ORDER BY DESC(?n_edges) ?entity LIMIT 40
"""


def kg_sparql_text_union_stats_oracle() -> str:
    from jsonld_ex_spark.operators.sparql_text import sparql_oracle_sql

    return sparql_oracle_sql(kg_triples_oracle(), SPARQL_TEXT_UNION_STATS)

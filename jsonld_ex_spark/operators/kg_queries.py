"""Spark DataFrame queries for the KG pipeline (paired with plans.oracles).

Each function takes (spark, sf_dir) and returns a DataFrame whose column
names/types match the corresponding DuckDB oracle exactly (driver
correctness gate hashes values after sorting columns by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_ex_spark.functions.partitioning import capped_shuffle_width, session_memo
from jsonld_ex_spark.operators.kg_pipeline import MENTION_RE, kg_triples
from jsonld_ex_spark.sources.transcripts import entity_dict_df, transcripts_df


def kg_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcripts_df(spark, sf_dir)


def kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention detection: JVM-side regexp over turn text (no Python UDF).

    Dedup is per-ROW ``array_distinct`` before the explode, not a
    ``dropDuplicates`` after it: (conv_id, turn_idx) is unique by
    construction (row_number), so duplicate (conv_id, turn_idx,
    surface) tuples can only come from repeats WITHIN one turn's text —
    identical output, one full shuffle of every mention row removed
    (guide §2.4; plan went 2 Exchanges → 1)."""
    t = transcripts_df(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        F.explode(
            F.array_distinct(F.expr(f"regexp_extract_all(text, '{MENTION_RE}', 0)"))
        ).alias("surface_norm"),
    )


def kg_entity_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking: aggregate mentions per surface, THEN ⋈
    broadcast(entity_dict).

    EQUIVALENCE INVARIANT: the dictionary is a BIJECTION — one row per
    surface_norm AND one surface per (entity_id, canonical_iri)
    (tests/test_kg_pipeline.py::test_entity_dict_is_bijective guards
    it).  Uniqueness per surface means the join multiplies nothing;
    uniqueness per entity means per-surface groups ARE per-entity
    groups.  A future alias dictionary (several surfaces → one entity)
    would need the old aggregate-after-join form back, because
    countDistinct over conv_id is not mergeable across surfaces.
    Aggregating first is then exactly equivalent (a surface missing
    from the dict drops its one aggregate row instead of its raw rows)
    — and the
    countDistinct's two exchanges now carry (surface, conv) keys
    instead of (entity_id, canonical_iri, conv) and the broadcast join
    probes ~|dict| aggregate rows instead of every mention row (guide
    §2.3: shuffle fewer bytes; aggregate before you shuffle).  The
    broadcast dictionary join itself is the only viable shape at
    10^12-turn scale."""
    mentions = kg_mentions(spark, sf_dir)
    dict_df = entity_dict_df(spark)
    agg = mentions.groupBy("surface_norm").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("conv_id").alias("n_convs"),
    )
    return agg.join(F.broadcast(dict_df), on="surface_norm", how="inner").select(
        "entity_id", "canonical_iri", "n_mentions", "n_convs"
    )


def kg_triple_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATE form: aggregates the per-process shared checkpointed triple
    table (_checkpointed_triples — the pipeline runs once per session,
    every gate query scans the materialized result).  Production jobs
    use kg_triple_stats_from_table over a persisted triple table —
    stats then cost one aggregate over a column-pruned parquet scan."""
    return _triple_stats(_checkpointed_triples(spark, sf_dir))


def _triple_stats(triples: DataFrame) -> DataFrame:
    return triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("subj").alias("n_subj")
    )


def kg_triple_stats_from_table(spark: SparkSession, table_path: str) -> DataFrame:
    """PRODUCTION form of kg_triple_stats: aggregate the PERSISTED
    triple table (write_triples → scan).  Identical output to the gate
    form (tests/test_kg_pipeline.py proves persisted == recomputed);
    at 100 TB the difference is one partial+final hash aggregate over a
    column-pruned parquet scan vs re-running the whole pipeline."""
    return _triple_stats(
        spark.read.parquet(table_path).select("pred", "subj")
    )


def kg_nquads_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-GATED N-Quads round trip: the full triple table is written
    through the JVM-side N-Quads serializer (operators/triples.py::
    write_nquads) and read back through the distributed parser
    (read_nquads), then aggregated — the same oracle as kg_triple_stats
    proves the text round trip is LOSSLESS for every subject/predicate
    (control-char escaping, bnode labels, datatypes, graphs included).
    """
    import atexit
    import shutil
    import tempfile

    from jsonld_ex_spark.operators.triples import read_nquads, write_nquads

    tdir = tempfile.mkdtemp(prefix="nq_rt_")
    atexit.register(shutil.rmtree, tdir, ignore_errors=True)
    write_nquads(_checkpointed_triples(spark, sf_dir), tdir)
    return _triple_stats(read_nquads(spark, tdir))


def kg_frame_tool_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-GATED framing over the REAL conversation pipeline — the
    'give me conversations matching this pattern' query framing exists
    for: each conversation's JSON-LD document is framed with a pattern
    that keeps ONLY tool-using turns (@requireAll turn pattern inside
    the @list container, @explicit projection), and the emitted rows
    are read from the FRAMED trees.  The DuckDB oracle derives the same
    rows relationally from the transcript synthesis — an independent
    derivation of match+project+list-filter semantics on pipeline data.
    """
    import json

    import pandas as pd

    from jsonld_ex_spark.operators.kg_pipeline import (
        CONV_CONTEXT,
        build_conversation_doc,
    )

    tool_frame = {
        "@context": CONV_CONTEXT,
        "@type": "Conversation",
        "turns": {
            "@explicit": True,
            "@requireAll": True,
            "turn_idx": {},
            "role": {},
            "tool": {},
        },
    }
    frame_json = json.dumps(tool_frame)
    assembled = _checkpointed_assembled(spark, sf_dir).select(
        "conv_id", F.to_json("turns").alias("turns_json")
    )

    def run(batches):
        from jsonld_ex_spark.core.api import expand as expand_api
        from jsonld_ex_spark.core.context import Options
        from jsonld_ex_spark.core.expansion import expand as expand_algo
        from jsonld_ex_spark.core.framing import frame_expanded
        from jsonld_ex_spark.operators.kg_pipeline import _pipeline_context

        # per-task one-time work: expand the shared frame, reuse the
        # per-executor processed pipeline context for both the document
        # expansion and the output compaction — NO per-document context
        # processing or frame expansion (the distributed framing hot path)
        frame_doc = json.loads(frame_json)
        options = Options()
        import dataclasses

        expanded_frame = expand_api(
            frame_doc, dataclasses.replace(options, frame_expansion=True)
        )
        active = _pipeline_context()
        for pdf in batches:
            conv_ids, idxs, roles, tools = [], [], [], []
            for conv_id, turns_json in zip(pdf["conv_id"], pdf["turns_json"]):
                turns = json.loads(turns_json)
                # to_json omits null struct fields → .get for nullables
                td = [
                    {"turn_idx": t["turn_idx"], "role": t["role"], "text": t["text"],
                     "tool": t.get("tool"), "ts": t["ts_str"],
                     "mentions": t.get("mentions") or []}
                    for t in turns
                ]
                doc = build_conversation_doc(conv_id, td)
                expanded = expand_algo(active, None, doc, options)
                if expanded is None:
                    expanded = []
                elif not isinstance(expanded, list):
                    expanded = [expanded]
                framed = frame_expanded(
                    expanded, expanded_frame, CONV_CONTEXT, options,
                    compact_active=active,
                )
                turns_out = framed.get("turns") or []
                if isinstance(turns_out, dict):
                    turns_out = [turns_out]
                for t in turns_out:
                    conv_ids.append(conv_id)
                    idxs.append(int(t["turn_idx"]))
                    roles.append(t["role"])
                    tools.append(t["tool"])
            yield pd.DataFrame(
                {"conv_id": conv_ids, "turn_idx": idxs, "role": roles, "tool": tools}
            )

    return assembled.mapInPandas(
        run, schema="conv_id string, turn_idx int, role string, tool string"
    )


def kg_graph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH-level exact dedup: fingerprint each conversation's RDF
    graph in conv-abstracted canonical form and group identical graphs
    — dedup at the KNOWLEDGE-GRAPH level (two conversations are dups
    iff their emitted triple sets are identical up to the conversation
    identifier), complementing the text/media dedup family.

    Canonicalization is a plain SORT here — no URDNA-style color
    refinement needed — because the pipeline's blank-node labels are
    already deterministic functions of (conv_id, ordinal); abstracting
    conv_id ('X') makes the labels content-canonical.  All JVM-side
    after the pipeline (replace/concat_ws/sort_array/md5); the DuckDB
    oracle reproduces every fingerprint bit-exactly from its own
    relational triple derivation.  (Line sort is byte-order on ASCII
    content — the synthesized transcripts are ASCII by construction.)
    """
    return graph_fingerprints(_checkpointed_triples(spark, sf_dir))


def graph_fingerprints(t: DataFrame) -> DataFrame:
    """Conv-abstracted canonical graph fingerprint + dedup grouping over
    any triple table with (conv_id, subj, pred, obj, obj_is_iri,
    obj_dt, obj_lang) — see kg_graph_dedup for semantics."""
    from pyspark.sql.window import Window

    lines = t.select(
        "conv_id",
        F.concat_ws(
            "\x1f",
            F.expr("replace(subj, conv_id, 'X')"),
            F.col("pred"),
            F.expr("CASE WHEN obj_is_iri THEN replace(obj, conv_id, 'X') ELSE obj END"),
            F.coalesce("obj_dt", F.lit("")),
            F.coalesce("obj_lang", F.lit("")),
        ).alias("line"),
    )
    fp = lines.groupBy("conv_id").agg(
        F.md5(F.concat_ws("\n", F.sort_array(F.collect_list("line")))).alias("graph_md5")
    )
    w = Window.partitionBy("graph_md5")
    return fp.select(
        "conv_id",
        "graph_md5",
        F.count(F.lit(1)).over(w).alias("group_size"),
        F.min("conv_id").over(w).alias("canonical_conv_id"),
    )


def kg_turn_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row invariant surface: stable (conv_id, turn_idx) ordering.

    expected_idx is computed with a window over the restored order; the
    oracle checks it equals turn_idx for every row end-to-end.
    """
    from pyspark.sql.window import Window

    t = transcripts_df(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return t.select(
        "conv_id",
        "turn_idx",
        (F.row_number().over(w) - F.lit(1)).alias("expected_idx"),
        "text",
    )


def kg_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-algorithm-stack round trip per conversation, inside the UDF:
    doc → expand → toRdf → fromRdf → compact → expand → toRdf must be
    isomorphic to the first quad set.  Exercises Serialize-RDF-as-JSON-LD
    and Compaction (SURVEY.md §2.1 #13-17) on pipeline-shaped data under
    the driver's oracle gate (oracle: every conversation passes).
    """
    import pandas as pd

    from jsonld_ex_spark.core.api import compact as compact_api
    from jsonld_ex_spark.core.api import expand as expand_api
    from jsonld_ex_spark.core.api import from_rdf as from_rdf_api
    from jsonld_ex_spark.core.context import Options
    from jsonld_ex_spark.core.expansion import expand as expand_algo
    from jsonld_ex_spark.core.flattening import BlankNodeGenerator
    from jsonld_ex_spark.core.nquads import isomorphic
    from jsonld_ex_spark.core.to_rdf import expanded_to_rdf
    from jsonld_ex_spark.operators.kg_pipeline import (
        CONV_CONTEXT,
        _pipeline_context,
        build_conversation_doc,
    )

    def check(batches):
        active = _pipeline_context()
        options = Options()
        for pdf in batches:
            ids, oks = [], []
            for conv_id, turns in zip(pdf["conv_id"], pdf["turns"]):
                td = [
                    {"turn_idx": int(t["turn_idx"]), "role": t["role"], "text": t["text"],
                     "tool": t["tool"], "ts": t["ts_str"],
                     "mentions": list(t["mentions"]) if t["mentions"] is not None else []}
                    for t in turns
                ]
                doc = build_conversation_doc(conv_id, td)
                expanded = expand_algo(active, None, doc, options)
                quads = expanded_to_rdf(expanded, options, BlankNodeGenerator(skolem_prefix=f"{conv_id}."))
                docs = from_rdf_api(quads, options)
                compacted = compact_api(docs, {"@context": CONV_CONTEXT}, options)
                quads2 = expanded_to_rdf(expand_api(compacted, options), options)
                ids.append(conv_id)
                oks.append(bool(isomorphic(quads, quads2)))
            yield pd.DataFrame({"conv_id": ids, "ok": oks})

    return _checkpointed_assembled(spark, sf_dir).mapInPandas(
        check, schema="conv_id string, ok boolean"
    )


# --- BGP pattern queries over the constructed graph ------------------------


def _checkpointed_assembled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session shared ASSEMBLED conversations (the groupBy +
    sort_array(collect_list) stage, before any rendering): kg_frame_tool_turns
    and kg_roundtrip_check each run their own per-document algorithm
    stack but share the identical assembly prefix — materialize it once
    per (session, sf_dir).  kg_triples itself (the headline pipeline
    measurement) deliberately does NOT use this memo."""
    from jsonld_ex_spark.operators.kg_pipeline import assemble_conversations

    return session_memo(
        spark, ("assembled", sf_dir),
        lambda: assemble_conversations(transcripts_df(spark, sf_dir)).localCheckpoint(eager=False),
    )


def _checkpointed_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-contained gate form: run the construction pipeline ONCE PER
    PROCESS per (session, sf_dir) and localCheckpoint the triples so
    every gate query in the BGP/analytics/stats family scans the same
    materialized table instead of re-running the pipeline per query
    (cache() would not truncate lineage — CLAUDE.md).  This is exactly
    the production shape — write the triple table once, every downstream
    query scans it — expressed inside the driver's self-containment
    constraint (round-3 verdict 'Next round' #6).  A new session (new
    executors → dead checkpoint) recomputes; results are bit-identical
    either way, only the per-query pipeline recompute disappears.
    Production BGP queries read the PERSISTED triple table
    (write_triples → scan), where each pattern is a column-pruned
    parquet scan with pushed subject/predicate filters."""
    return session_memo(
        spark, ("triples", sf_dir),
        lambda: kg_triples(spark, sf_dir).localCheckpoint(eager=False),
    )


def _chain_positions_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every conversation's rdf:list as (head, position, member),
    evaluated ONCE per (session, sf_dir): kg_list_walk,
    kg_conversation_text and the three kg_path_* queries read the
    IDENTICAL relation over the (already memoized) triple table.  The
    pipeline's list cells carry positional labels, so
    graph_paths.chain_positions reads the positions off them (its label
    tier, no doubling superstep).  Production form: persist the walk
    output next to the triple table like the path closure
    (ensure_path_closure) and let every consumer scan it."""
    from jsonld_ex_spark.operators.graph_paths import chain_positions

    def build() -> DataFrame:
        triples = _checkpointed_triples(spark, sf_dir)
        return chain_positions(triples, _list_heads(triples)).localCheckpoint(eager=False)

    return session_memo(spark, ("chain_positions", sf_dir), build)


def _conv_turn_path_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``?conv v:turns/rdf:rest*/rdf:first ?turn`` node-pair
    relation (plans.oracles.CONV_TURNS_PATH): a projection of the list
    walk that _chain_positions_rel evaluates ONCE per (session,
    sf_dir).  Over an rdf:list spine this path's pair set is EXACTLY
    the walk's (head, member) relation — rest* from the entry cell
    visits the cells the walk positions, and rdf:first is functional
    per cell, so the pairs are already distinct.  Three gated path
    queries and the two list-walk queries thus share one materialized
    walk.  The generic path algebra (property_paths.eval_path) still
    executes under the gate via kg_sparql_text_path_edges and the
    persisted closure build (ensure_path_closure), and across the full
    pytest path-AST suite."""
    return _chain_positions_rel(spark, sf_dir).select(
        F.col("head").alias("s"), F.col("member").alias("o")
    )


def _persisted_triples_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write-once persisted triple table per (session, sf_dir): both
    persisted-form gate queries (kg_bgp_persisted_tool_mentions,
    kg_path_persisted_tool_turns) scan ONE salted subject-bucketed
    table instead of each writing its own copy — the write is the
    one-time deployment cost, exactly like production."""
    import atexit
    import shutil
    import tempfile

    from jsonld_ex_spark.operators.triples import write_triples

    def build() -> str:
        # the removal covers the whole root: ensure_path_closure writes
        # its closure tables beside the triples
        root = tempfile.mkdtemp(prefix="bgp_tbl_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        tdir = root + "/triples"
        write_triples(_checkpointed_triples(spark, sf_dir), tdir, mode="overwrite")
        return tdir

    return session_memo(spark, ("persisted_triples", sf_dir), build)


def _persisted_conv_turn_closure_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the ``turns/rdf:rest*/rdf:first`` closure as a
    parquet table NEXT TO the persisted triple table (one fixpoint at
    deployment time; fingerprint-guarded rebuild when the triples
    change — property_paths.ensure_path_closure).  Repeat calls are a
    local file stat."""
    from jsonld_ex_spark.operators.property_paths import ensure_path_closure
    from jsonld_ex_spark.plans.oracles import CONV_TURNS_PATH

    return ensure_path_closure(
        spark, _persisted_triples_dir(spark, sf_dir), "conv_turns", CONV_TURNS_PATH
    )


def _list_heads(triples: DataFrame) -> DataFrame:
    """(head, cell) rows for every conversation's rdf:list entry."""
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return triples.filter(F.col("pred") == f"{VOCAB}turns").select(
        F.col("subj").alias("head"), F.col("obj").alias("cell")
    )


def kg_bgp_tool_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-pattern star BGP: ?turn role "tool" . ?turn mentions ?entity —
    compiled by operators/bgp.py into an equi-join of two filtered
    pattern scans; the oracle compiles the SAME pattern list to SQL
    over the relationally-derived triples (plans/oracles.py)."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.plans.oracles import BGP_TOOL_MENTIONS_PATTERNS

    return bgp_select(
        _checkpointed_triples(spark, sf_dir),
        BGP_TOOL_MENTIONS_PATTERNS,
        project=["turn", "entity"],
    )


def kg_bgp_bridge_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entities mentioned by BOTH an assistant turn and a tool turn,
    with per-role distinct turn counts.

    This is the count-distinct aggregate of the 4-pattern BGP
    { ?t1 role "assistant" . ?t1 mentions ?e .
      ?t2 role "tool"      . ?t2 mentions ?e }
    FACTORIZED through the shared variable: the naive bag join
    materializes Σ|A_e|·|T_e| rows (12.4M at sf0.01, ~1.2B at sf0.1 —
    hot entities make it quadratic), while the factorized form
    aggregates each 2-pattern arm first and joins per-entity counts —
    identical output, linear cost.  The oracle derives the same counts
    independently from the transcript CTE (no BGP compiler, no triple
    oracle)."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.sources.transcripts import VOCAB

    triples = _checkpointed_triples(spark, sf_dir)

    def arm(role: str, out: str) -> DataFrame:
        b = bgp_select(
            triples,
            [
                ("?t", f"<{VOCAB}role>", f'"{role}"'),
                ("?t", f"<{VOCAB}mentions>", "?entity"),
            ],
            project=["entity", "t"],
        )
        return b.groupBy("entity").agg(F.countDistinct("t").alias(out))

    return arm("assistant", "n_assistant_turns").join(
        arm("tool", "n_tool_turns"), on="entity", how="inner"
    )


# --- Incremental maintenance: snapshot delta -------------------------------

_DELTA_PARTICIPATE = "substr(md5(conv_id), 1, 1) IN ('0','1','2','3')"
_DELTA_GROWING = "substr(md5(conv_id), 1, 1) IN ('0','1')"


def _delta_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The deterministic (new, old) triple tables of the delta scenario,
    built ONCE per (session, sf_dir): kg_triples_delta and
    kg_triples_delta_snapshot derive the identical two graphs, and each
    derivation is a full pipeline run (transcript window, conv_id
    shuffle, triple rendering) — four runs per bench/gate session
    before this memo, two after."""
    from pyspark.sql import Window

    from jsonld_ex_spark.operators.kg_pipeline import conversation_triples

    def build() -> tuple[DataFrame, DataFrame]:
        t = transcripts_df(spark, sf_dir).filter(F.expr(_DELTA_PARTICIPATE))
        mx = F.max("turn_idx").over(Window.partitionBy("conv_id"))
        old_t = (
            t.withColumn("_mx", mx)
            .filter(~(F.expr(_DELTA_GROWING) & (F.col("turn_idx") == F.col("_mx"))))
            .drop("_mx")
        )
        return (
            conversation_triples(t).localCheckpoint(eager=False),
            conversation_triples(old_t).localCheckpoint(eager=False),
        )

    return session_memo(spark, ("delta_inputs", sf_dir), build)


def _delta_key(df: DataFrame) -> DataFrame:
    """Null-safe full-width triple identity key (chr(30) null marker,
    chr(31) field separator — same bytes as the DuckDB oracle)."""
    rs = F.lit("\x1e")
    key = F.md5(
        F.concat_ws(
            "\x1f",
            F.col("subj"),
            F.col("pred"),
            F.col("obj"),
            F.col("obj_is_iri").cast("string"),
            F.coalesce(F.col("obj_dt"), rs),
            F.coalesce(F.col("obj_lang"), rs),
            F.coalesce(F.col("graph"), rs),
        )
    )
    return df.select("pred", key.alias("k"))


def kg_triples_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance: per-predicate added/removed triple
    counts between yesterday's snapshot (convs md5-prefixed 0/1 are
    missing their final turn) and today's.  At 100 TB you never
    recompute the full graph — you diff snapshots: both triple tables
    bucketed by subject make the two anti-joins co-partitioned
    (zero-shuffle); here both sides are pipeline runs over a
    deterministic 25% conv subset, localCheckpointed so each side's
    pipeline executes exactly once across the two anti-joins.

    Dropping a conversation's last turn removes the old rdf:rest→nil
    cell triple and adds the whole new turn (type/role/text/ts/
    turn_idx/mentions + list cell), so BOTH delta directions are
    non-empty — no vacuous pass."""
    new_t, old_triples = _delta_inputs(spark, sf_dir)
    newk = _delta_key(new_t).localCheckpoint(eager=False)
    oldk = _delta_key(old_triples).localCheckpoint(eager=False)
    added = (
        newk.join(oldk.select("k"), on="k", how="left_anti")
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n_added"))
    )
    removed = (
        oldk.join(newk.select("k"), on="k", how="left_anti")
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    return added.join(removed, on="pred", how="full").select(
        "pred",
        F.coalesce("n_added", F.lit(0).cast("long")).alias("n_added"),
        F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
    )


def kg_triples_delta_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION incremental-maintenance shape under the gate
    (kg_triples_delta's docstring promise delivered): yesterday's
    graph is committed as snapshot v1 of a snapshot table, today's as
    an OVERWRITE commit v2, and the per-predicate added/removed counts
    are computed by diffing ``read_snapshot(v1)`` against
    ``read_snapshot(v2)`` — TIME TRAVEL feeding the anti-join diff, so
    at 100 TB you diff two persisted snapshots instead of recomputing
    either graph.  Same deterministic old/new derivation and the SAME
    oracle as kg_triples_delta: storage round-trip + manifest read
    path + overwrite semantics all sit under the hash gate."""
    import atexit
    import shutil
    import tempfile

    from jsonld_ex_spark.sources.snapshot_table import (
        read_snapshot,
        write_triples_snapshot,
    )

    new_t, old_triples = _delta_inputs(spark, sf_dir)
    tdir = tempfile.mkdtemp(prefix="delta_snap_")
    atexit.register(shutil.rmtree, tdir, ignore_errors=True)
    write_triples_snapshot(old_triples, tdir, operation="append")
    write_triples_snapshot(new_t, tdir, operation="overwrite")
    oldk = _delta_key(read_snapshot(spark, tdir, 1))
    newk = _delta_key(read_snapshot(spark, tdir, 2))
    added = (
        newk.join(oldk.select("k"), on="k", how="left_anti")
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n_added"))
    )
    removed = (
        oldk.join(newk.select("k"), on="k", how="left_anti")
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    return added.join(removed, on="pred", how="full").select(
        "pred",
        F.coalesce("n_added", F.lit(0).cast("long")).alias("n_added"),
        F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
    )


def kg_bgp_turn_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with an OPTIONAL group (SPARQL left join): every typed turn
    with its role, plus the tool name when the turn has one — NULL
    toolname for the ~2/3 of turns without, so the left-join path is
    non-vacuous at every scale."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.plans.oracles import (
        BGP_TURN_TOOLS_OPTIONAL,
        BGP_TURN_TOOLS_PATTERNS,
    )

    return bgp_select(
        _checkpointed_triples(spark, sf_dir),
        BGP_TURN_TOOLS_PATTERNS,
        project=["turn", "role", "toolname"],
        optional=BGP_TURN_TOOLS_OPTIONAL,
    )


def kg_list_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recover each conversation's turn ORDER purely from the graph:
    walk the rdf:first/rest list cells (graph_paths.chain_positions,
    which reads positions off the pipeline's positional cell labels
    and falls back to pointer doubling on any other graph) — no appeal
    to the transcript table's turn_idx.  The oracle re-derives
    positions with a DuckDB recursive CTE over the relational triple
    derivation, so agreement proves the @list serialization AND the
    walker."""
    return _chain_positions_rel(spark, sf_dir).select(
        F.col("head").alias("conv_iri"), "position", F.col("member").alias("turn_iri")
    )


def kg_construct_entity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style CONSTRUCT over the built graph: invert mention
    edges (?ent v:mentionedBy ?turn) and type every mentioned entity —
    the distinct-set semantics collapse the type template to one row
    per entity.  Output is standard triple schema, so it feeds straight
    back into write_triples (query → enrichment loop)."""
    from jsonld_ex_spark.operators.bgp import bgp_construct
    from jsonld_ex_spark.operators.graph_paths import RDF_NS
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_construct(
        _checkpointed_triples(spark, sf_dir),
        [("?turn", f"<{VOCAB}mentions>", "?ent")],
        [
            ("?ent", f"<{RDF_NS}type>", f"<{VOCAB}Entity>"),
            ("?ent", f"<{VOCAB}mentionedBy>", "?turn"),
        ],
    )


def kg_conversation_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text fidelity, derived PURELY from the graph: take
    each conversation's turns from the shared list walk
    (_chain_positions_rel), join the v:text literal of every turn, and
    fingerprint the position-ordered, newline-joined conversation
    text.  The oracle rebuilds the same fingerprint from the
    TRANSCRIPTS (string_agg ORDER BY turn_idx), so agreement proves the
    north star's per-turn-text-equality criterion at conversation
    granularity: nothing was lost, reordered or altered between the
    source table and the materialized graph."""
    from jsonld_ex_spark.sources.transcripts import VOCAB

    triples = _checkpointed_triples(spark, sf_dir)
    walk = _chain_positions_rel(spark, sf_dir)
    texts = triples.filter(F.col("pred") == f"{VOCAB}text").select(
        F.col("subj").alias("member"), F.col("obj").alias("text")
    )
    return (
        walk.join(texts, on="member", how="inner")
        .groupBy(F.col("head").alias("conv_iri"))
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("position", "text"))),
                        lambda s: s["text"],
                    ),
                    "\n",
                )
            ).alias("text_md5"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )


def kg_bgp_nontool_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with MINUS (SPARQL negation as left-anti join): mention
    edges whose turn is NOT a tool turn — the complement of
    kg_bgp_tool_mentions within the same pattern vocabulary."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_select(
        _checkpointed_triples(spark, sf_dir),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        project=["turn", "entity"],
        minus=[[("?turn", f"<{VOCAB}role>", '"tool"')]],
    )


PR_SCALE = 10 ** 12   # fixed-point PageRank mass (integers end to end)
PR_ITERS = 3
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85 as a ratio


def _capped_materialize(df: DataFrame) -> DataFrame:
    """Materialize an iterative/analytics plan under
    ``capped_shuffle_width`` (functions/partitioning.py): the EAGER
    localCheckpoint executes the plan INSIDE the capped window, and
    consumers scan the materialized result."""
    with capped_shuffle_width(df.sparkSession):
        return df.localCheckpoint(eager=True)


def _cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric entity co-occurrence edges: the gated
    kg_entity_cooccurrence pair set (entity_linking.py — single source
    of truth for mention extraction, dedup key and the n_convs >= 2
    threshold), symmetrized into both directions.  Memoized per
    (session, sf_dir): the pagerank / triangles / neighbor-similarity
    gate family shares ONE materialized edge set instead of re-deriving
    the co-occurrence pipeline per query."""
    from jsonld_ex_spark.operators.entity_linking import kg_entity_cooccurrence

    def build() -> DataFrame:
        pairs = kg_entity_cooccurrence(spark, sf_dir)
        return (
            pairs.select(F.col("ent_a").alias("src"), F.col("ent_b").alias("dst"))
            .unionByName(
                pairs.select(F.col("ent_b").alias("src"), F.col("ent_a").alias("dst"))
            )
            .localCheckpoint(eager=False)
        )

    return session_memo(spark, ("cooccur_edges", sf_dir), build)


def kg_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the constructed KG: PR_ITERS PageRank
    iterations on the entity co-occurrence graph, in FIXED-POINT
    integer arithmetic so every intermediate is engine-portable
    (PR_SCALE mass units; 'a div b' on non-negative operands floors
    identically in Spark and DuckDB — CLAUDE.md portable floor
    division).  Each iteration is one contribs equi-join + one
    map-side-combined sum — the standard distributed PageRank shape;
    the oracle unrolls the same three iterations as CTEs (the k-means
    oracle pattern), so convergence-free bit-exact comparison.  The
    3-iteration unrolled plan materializes via _capped_materialize so
    its ~10 shuffles run at core-count width, not the session's."""
    edges = _cooccur_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("ent")).distinct()
    deg = edges.groupBy(F.col("src").alias("ent")).agg(
        F.count(F.lit(1)).alias("d")
    )
    n_row = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = F.expr(f"{PR_SCALE} div n")
    pr = nodes.crossJoin(F.broadcast(n_row)).select(
        "ent", base.alias("pr")
    )
    for _ in range(PR_ITERS):
        contrib = pr.join(deg, on="ent", how="inner").select(
            F.col("ent").alias("src"), F.expr("pr div d").alias("c")
        )
        msgs = (
            edges.join(contrib, on="src", how="inner")
            .groupBy(F.col("dst").alias("ent"))
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            nodes.join(msgs, on="ent", how="left")
            .crossJoin(F.broadcast(n_row))
            .select(
                "ent",
                F.expr(
                    f"({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_SCALE} div n) "
                    f"+ {PR_DAMP_NUM} * coalesce(s, 0)) div {PR_DAMP_DEN}"
                ).alias("pr"),
            )
        )
    return _capped_materialize(pr.select("ent", F.col("pr").cast("long").alias("pr")))


def _kg_shapes() -> list[dict]:
    from jsonld_ex_spark.sources.transcripts import VOCAB

    XSD = "http://www.w3.org/2001/XMLSchema#"
    return [
        {"rule_id": "conv_turns_exactly_one", "rule": "cardinality",
         "cls": f"{VOCAB}Conversation", "pred": f"{VOCAB}turns",
         "min_count": 1, "max_count": 1},
        {"rule_id": "turn_role_exactly_one", "rule": "cardinality",
         "cls": f"{VOCAB}Turn", "pred": f"{VOCAB}role",
         "min_count": 1, "max_count": 1},
        {"rule_id": "turn_ts_exactly_one", "rule": "cardinality",
         "cls": f"{VOCAB}Turn", "pred": f"{VOCAB}ts",
         "min_count": 1, "max_count": 1},
        {"rule_id": "ts_is_datetime", "rule": "datatype",
         "pred": f"{VOCAB}ts", "dt": f"{XSD}dateTime"},
        {"rule_id": "mentions_are_iris", "rule": "node_kind",
         "pred": f"{VOCAB}mentions", "is_iri": True},
        {"rule_id": "role_value_set", "rule": "value_in",
         "pred": f"{VOCAB}role", "values": ("user", "assistant", "tool")},
        {"rule_id": "turn_idx_is_digits", "rule": "pattern",
         "pred": f"{VOCAB}turn_idx", "regex": "^[0-9]+$"},
        {"rule_id": "list_cells_link_typed_turns", "rule": "class_range",
         "pred": "http://www.w3.org/1999/02/22-rdf-syntax-ns#first",
         "cls": f"{VOCAB}Turn"},
    ]


def kg_shape_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite validation of the constructed graph: eight shape
    rules (cardinality / datatype / node-kind / value-set, plus r4's
    sh:pattern regex and sh:class object-typing) compiled to
    aggregations and one equi-join (operators/shapes.py).  The report
    carries n_checked so a clean graph is a NON-vacuous assertion
    (large checked counts, zero violations) — planted-violation tests
    prove each rule fires."""
    from jsonld_ex_spark.operators.shapes import validate_shapes

    return validate_shapes(_checkpointed_triples(spark, sf_dir), _kg_shapes())


def kg_bgp_persisted_tool_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION BGP path under the gate: write the triple table
    (salted, subject-bucketed parquet — the real deployment layout),
    then run the tool-mention BGP via bgp_over_table so each pattern is
    a column-pruned parquet scan with PUSHED constant filters
    (plan-asserted in tests/test_bgp.py).  Must hash-equal the same
    oracle as the in-memory kg_bgp_tool_mentions — proving the
    write→scan→query path is lossless, not just the in-memory one."""
    from jsonld_ex_spark.operators.bgp import bgp_over_table
    from jsonld_ex_spark.plans.oracles import BGP_TOOL_MENTIONS_PATTERNS

    tdir = _persisted_triples_dir(spark, sf_dir)
    return bgp_over_table(
        spark, tdir, BGP_TOOL_MENTIONS_PATTERNS, project=["turn", "entity"]
    )


def kg_bgp_human_or_assistant_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION under the gate: user-role turns UNION assistant-role
    turns, each alternative binding (turn, role) — together the exact
    complement of the tool-role turns."""
    from jsonld_ex_spark.operators.bgp import bgp_union
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_union(
        _checkpointed_triples(spark, sf_dir),
        [
            [("?turn", f"<{VOCAB}role>", '"user"')],
            [("?turn", f"<{VOCAB}role>", '"assistant"')],
        ],
        project=["turn"],
    )


def kg_entity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts per entity over the co-occurrence graph, via the
    DEGREE-ORDERED edge orientation: every edge points from its
    (degree, id)-smaller endpoint to the larger, so each triangle is
    enumerated exactly once and per-node out-degree is bounded by
    O(sqrt(E)) — the standard arboricity bound that keeps the wedge
    join from exploding on hot entities at web scale (lexicographic
    orientation would give the hottest entity its full degree as
    out-degree).  The ordering key (deg, ent) is deterministic, so the
    DuckDB oracle reproduces the identical orientation, wedges and
    counts."""
    pairs = (
        _cooccur_edges(spark, sf_dir)
        .filter(F.col("src") < F.col("dst"))
        .localCheckpoint(eager=False)
    )
    deg = (
        pairs.select(F.col("src").alias("ent"))
        .unionByName(pairs.select(F.col("dst").alias("ent")))
        .groupBy("ent")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        pairs.join(deg.withColumnRenamed("ent", "src").withColumnRenamed("d", "ds"), on="src")
        .join(deg.withColumnRenamed("ent", "dst").withColumnRenamed("d", "dd"), on="dst")
        .select(
            F.when(
                (F.col("ds") < F.col("dd"))
                | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
            )
            .otherwise(F.struct(F.col("dst").alias("u"), F.col("src").alias("v")))
            .alias("o")
        )
        .select(F.col("o.u").alias("u"), F.col("o.v").alias("v"))
        .localCheckpoint(eager=False)
    )
    w1, w2, w3 = e.alias("w1"), e.alias("w2"), e.alias("w3")
    tri = (
        w1.join(w2, F.col("w1.v") == F.col("w2.u"))
        .join(
            w3,
            (F.col("w1.u") == F.col("w3.u")) & (F.col("w2.v") == F.col("w3.v")),
        )
        .select(
            F.col("w1.u").alias("a"), F.col("w1.v").alias("b"), F.col("w2.v").alias("c")
        )
    )
    corners = (
        tri.select(F.col("a").alias("ent"))
        .unionByName(tri.select(F.col("b").alias("ent")))
        .unionByName(tri.select(F.col("c").alias("ent")))
    )
    return _capped_materialize(
        corners.groupBy("ent").agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def kg_entity_neighbor_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural entity similarity: Jaccard of co-occurrence
    NEIGHBORHOODS (shared neighbors / union), in integer ppm.  This is
    graph-based entity resolution — two surface forms that co-occur
    with the same entities are merge candidates even when their own
    texts never meet.  Shape: one wedge join through the shared
    neighbor (each wedge b: a—b—c emits candidate pair (a, c)), then a
    count aggregate and a degree join — no all-pairs comparison; pairs
    with < 2 shared neighbors are dropped before the degree join."""
    pairs = (
        _cooccur_edges(spark, sf_dir)
        .filter(F.col("src") < F.col("dst"))
        .localCheckpoint(eager=False)
    )
    adj = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("ent")).agg(F.count(F.lit(1)).alias("d"))
    w1, w2 = adj.alias("w1"), adj.alias("w2")
    shared = (
        w1.join(w2, F.col("w1.src") == F.col("w2.src"))
        .filter(F.col("w1.dst") < F.col("w2.dst"))
        .groupBy(
            F.col("w1.dst").alias("ent_a"), F.col("w2.dst").alias("ent_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    da = deg.select(F.col("ent").alias("ent_a"), F.col("d").alias("da"))
    db = deg.select(F.col("ent").alias("ent_b"), F.col("d").alias("db"))
    return _capped_materialize(
        shared.join(da, on="ent_a")
        .join(db, on="ent_b")
        .select(
            "ent_a",
            "ent_b",
            "n_shared",
            F.expr("(n_shared * 1000000) div (da + db - n_shared)").alias(
                "jaccard_ppm"
            ),
        )
    )


def kg_triple_stats_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-GATED snapshot-table sink (sources/snapshot_table.py —
    the explicit Iceberg re-scope): the triple table is committed as
    TWO successive appends (a deterministic conv-hash split) through
    the manifest/O_EXCL/atomic-pointer commit protocol, then the
    CURRENT snapshot is read back and aggregated under the SAME oracle
    as kg_triple_stats — proving two atomic commits compose losslessly
    to the full table through the manifest read path.  Time travel,
    overwrite, orphan invisibility and commit races are unit-tested
    (tests/test_snapshot_table.py)."""
    import atexit
    import shutil
    import tempfile

    from jsonld_ex_spark.sources.snapshot_table import (
        read_snapshot,
        write_triples_snapshot,
    )

    t = _checkpointed_triples(spark, sf_dir)
    tdir = tempfile.mkdtemp(prefix="snap_tbl_")
    atexit.register(shutil.rmtree, tdir, ignore_errors=True)
    half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    write_triples_snapshot(t.filter(half), tdir, operation="append")
    write_triples_snapshot(t.filter(~half), tdir, operation="append")
    return _triple_stats(read_snapshot(spark, tdir).select("pred", "subj"))


TOP_ENTITIES_LIMIT = 20
# kg_bgp_page_entities: page size for the DISTINCT/OFFSET paging query
ENTITY_PAGE_SIZE = 25


def kg_bgp_top_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL solution modifiers under the gate: ORDER BY n_mentions
    DESC, entity ASC LIMIT 20 over the per-entity mention aggregate —
    a total order (entity is unique within groups), so the selected
    prefix is deterministic and oracle-reproducible.  Plan-asserted as
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    from jsonld_ex_spark.operators.bgp import bgp_aggregate, bgp_order_limit
    from jsonld_ex_spark.sources.transcripts import VOCAB

    agg = bgp_aggregate(
        _checkpointed_triples(spark, sf_dir),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        group_by=["entity"],
        aggs={"n_mentions": ("count", None)},
    )
    return bgp_order_limit(
        agg, [("n_mentions", "desc"), ("entity", "asc")], TOP_ENTITIES_LIMIT
    )


def kg_path_conv_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 PROPERTY PATH under the gate (round-4 algebra
    completion): ``?conv v:turns/rdf:rest*/rdf:first ?turn`` — the
    idiomatic SPARQL form of "every turn of every conversation",
    traversing the @list encoding with a sequence path containing a
    zero-or-more closure.  The Spark side answers from the session's
    shared list walk (:func:`_conv_turn_path_rel`, the same pair set),
    whose label tier reads the runs off these skolem-labelled cells
    with the same positional closure eval_path would run.  The
    DuckDB oracle evaluates the path AST with a WITH RECURSIVE
    fixpoint — two independent engines must agree pair-for-pair."""
    from jsonld_ex_spark.operators.property_paths import path_select

    return path_select(
        _checkpointed_triples(spark, sf_dir),
        "?conv",
        _conv_turn_path_rel(spark, sf_dir),
        "?turn",
    )


def kg_path_tool_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED path + triple-pattern query under the gate — how real
    SPARQL is written: the property path walks each conversation's
    @list to its turns, the plain pattern restricts to turns carrying
    a v:tool literal and binds the tool name:

        ?conv v:turns/rdf:rest*/rdf:first ?turn .
        ?turn v:tool ?toolname

    The path relation (set semantics) inner-joins the pattern bindings
    on ?turn inside the one compiled plan; the oracle composes the
    recursive path CTEs with the pattern CTEs in the same WITH."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_select(
        _checkpointed_triples(spark, sf_dir),
        [("?turn", f"<{VOCAB}tool>", "?toolname")],
        project=["conv", "turn", "toolname"],
        paths=[("?conv", _conv_turn_path_rel(spark, sf_dir), "?turn")],
    )


def kg_bgp_values_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES clause under the gate: mention edges restricted to
    an inline list of three (hot) entity IRIs — the parameterized-query
    shape every SPARQL endpoint user writes (VALUES ?entity { ... })."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.plans.oracles import BGP_VALUES_ENTITIES
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_select(
        _checkpointed_triples(spark, sf_dir),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        project=["turn", "entity"],
        values={"entity": BGP_VALUES_ENTITIES},
    )


def kg_bgp_subquery_hot_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SUBQUERY under the gate (round-6 verdict item 2) — the
    nested SELECT-with-aggregation idiom:

        SELECT ?turn ?entity ?total WHERE {
          ?turn v:role "tool" . ?turn v:mentions ?entity .
          { SELECT ?entity (COUNT(*) AS ?total)
            WHERE { ?t2 v:mentions ?entity }
            GROUP BY ?entity HAVING (?total >= 250) }
        }

    — tool-turn mentions of GLOBALLY HOT entities (total mention count
    across all roles >= SUBQUERY_MIN_MENTIONS).  The sub-aggregate is a
    map-side-combined groupBy whose tiny output AQE broadcasts into the
    outer join; the oracle nests the same aggregate as a WITH
    subselect."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.plans.oracles import BGP_SUBQUERY_HOT_KW

    return bgp_select(_checkpointed_triples(spark, sf_dir), **BGP_SUBQUERY_HOT_KW)


def kg_bgp_expr_turn_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 STRING-FUNCTION library + MULTI-VARIABLE VALUES
    under the gate:

        SELECT ?turn ?role ?entity ?conv ?ecode WHERE {
          ?turn v:mentions ?entity . ?turn v:role ?role .
          VALUES (?role ?entity) { ("tool" E0000) ("assistant" E0001)
                                   ("tool" E0002) ("assistant" E0003) }
          BIND(STRBEFORE(STRAFTER(STR(?turn), "urn:turn:"), ":") AS ?conv)
          BIND(REPLACE(STRAFTER(?entity, "/entity/"), "E", "ent-") AS ?ecode)
        }

    — key-parsing over IRIs (the everyday endpoint idiom) plus the
    VALUES table form joined on the full (?role, ?entity) tuple; both
    compiled to Spark AND DuckDB from one kwargs dict."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.plans.oracles import BGP_EXPR_TURN_KEYS_KW

    return bgp_select(_checkpointed_triples(spark, sf_dir), **BGP_EXPR_TURN_KEYS_KW)


def kg_bgp_page_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT + OFFSET solution modifiers under the gate (round-6
    verdict item 3): page 2 of the alphabetically-ordered DISTINCT
    entities mentioned by tool turns —

        SELECT DISTINCT ?entity WHERE {
          ?turn v:role "tool" . ?turn v:mentions ?entity }
        ORDER BY ?entity LIMIT 25 OFFSET 25

    ?entity alone is a total order after DISTINCT, so the page is
    deterministic; the oracle's LIMIT/OFFSET must reproduce it
    element-for-element (pages 1 and 2 tile without overlap —
    tests/test_bgp_exprs.py proves the tiling on a controlled graph)."""
    from jsonld_ex_spark.operators.bgp import bgp_order_limit, bgp_select
    from jsonld_ex_spark.plans.oracles import BGP_TOOL_MENTIONS_PATTERNS

    b = bgp_select(
        _checkpointed_triples(spark, sf_dir),
        BGP_TOOL_MENTIONS_PATTERNS,
        project=["entity"],
    )
    return bgp_order_limit(
        b, [("entity", "asc")], limit=ENTITY_PAGE_SIZE,
        offset=ENTITY_PAGE_SIZE, distinct=True,
    )


def kg_entity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTED COMPONENTS of the entity co-occurrence graph — the
    graph-analytics completion next to PageRank/triangles: component id
    = min entity label reachable (min-label propagation WITH pointer
    doubling, O(log diameter) supersteps — dedup_ops.
    _connected_components, the same kernel that clusters near-dup
    docs), plus per-component size.  The DuckDB oracle recomputes
    components via a WITH RECURSIVE reachability closure + min — an
    independent fixpoint against Spark's label propagation."""
    from pyspark.sql.window import Window

    from jsonld_ex_spark.functions.dedup_ops import _connected_components

    edges = _cooccur_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    result, _ = _connected_components(labels, edges)
    w = Window.partitionBy("component")
    return _capped_materialize(
        result.select(
            F.col("doc_id").alias("ent"), F.col("cluster_id").alias("component")
        )
        .withColumn("n_members", F.count(F.lit(1)).over(w))
    )


def kg_bgp_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK under the gate (round-3 verdict item #2): one batch
    of named ASKs — a pattern that matches (tool turns mentioning
    entities) and one that cannot (no 'moderator' role exists) — so
    BOTH boolean outcomes sit under the EXISTS-based DuckDB oracle."""
    from jsonld_ex_spark.operators.bgp import bgp_ask_df
    from jsonld_ex_spark.plans.oracles import BGP_ASKS

    return bgp_ask_df(_checkpointed_triples(spark, sf_dir), BGP_ASKS)


def kg_bgp_filtered_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER expressions in the BGP compiler under the gate (round-3
    verdict item #3): mention edges restricted to turns with
    FILTER(?idx > 5) — numeric comparison on the turn_idx literal —
    AND FILTER(regex(?entity, 'E00[0-4][0-9]$')) on the entity IRI.
    Both conditions compile into the pattern scans BELOW the join
    (plan-asserted in tests/test_bgp.py); the oracle compiles the same
    filters into its pattern CTEs."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.plans.oracles import (
        BGP_FILTERED_MENTIONS_FILTERS,
        BGP_FILTERED_MENTIONS_PATTERNS,
    )

    return bgp_select(
        _checkpointed_triples(spark, sf_dir),
        BGP_FILTERED_MENTIONS_PATTERNS,
        project=["turn", "idx", "entity"],
        filters=BGP_FILTERED_MENTIONS_FILTERS,
    )


def kg_path_filtered_nontool_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 verdict item 3 under the gate: FILTER over a PATH-BOUND
    variable + NOT EXISTS.  The property path walks each conversation's
    @list to its turns; FILTER(regex(?conv, '[0-4]$')) applies to ?conv
    — a variable bound ONLY by the path, which round-4's compiler
    rejected — and FILTER NOT EXISTS { ?turn v:tool ?tname } keeps only
    turns with no tool attachment (left-anti join; the oracle compiles
    the same group to a NOT EXISTS subquery)."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_select(
        _checkpointed_triples(spark, sf_dir),
        [("?turn", f"<{VOCAB}role>", "?role")],
        project=["conv", "turn", "role"],
        paths=[("?conv", _conv_turn_path_rel(spark, sf_dir), "?turn")],
        filters=[("conv", "regex", "[0-4]$")],
        not_exists=[[("?turn", f"<{VOCAB}tool>", "?tname")]],
    )


def kg_path_persisted_tool_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the mixed path+pattern query (round-4
    item 4; round-6 item 5 promotes the closure itself to a table):
    the triple table is persisted (salted, subject-bucketed parquet)
    AND the conv→turn path closure is MATERIALIZED next to it
    (property_paths.ensure_path_closure, fingerprint-guarded against
    source-table change), so the measured query is two column-pruned
    parquet scans + one join — no per-query fixpoint.  This is the
    deployment layout the closure-memo docstrings promised: closure
    evaluation is a write-once job beside the triple write; every
    traversal query scans it.  Must hash-equal kg_path_tool_turns'
    oracle — write→scan→join is lossless."""
    from jsonld_ex_spark.operators.bgp import bgp_over_table
    from jsonld_ex_spark.operators.property_paths import read_path_closure
    from jsonld_ex_spark.sources.transcripts import VOCAB

    tdir = _persisted_triples_dir(spark, sf_dir)
    cdir = _persisted_conv_turn_closure_dir(spark, sf_dir)
    return bgp_over_table(
        spark, tdir,
        [("?turn", f"<{VOCAB}tool>", "?toolname")],
        project=["conv", "turn", "toolname"],
        paths=[("?conv", read_path_closure(spark, cdir), "?turn")],
    )


def kg_bgp_bind_mention_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL BIND under the gate (round-4 verdict item 5): computed
    columns over bound variables — IRI local-name extraction, BIGINT
    arithmetic over the strict-integer-guarded turn_idx lexical, string
    concatenation, strlen — each compiled to a Spark Column AND to
    engine-portable SQL (the oracle evaluates the same expressions in
    DuckDB)."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.plans.oracles import BGP_BIND_MENTION_ARGS

    return bgp_select(_checkpointed_triples(spark, sf_dir), **BGP_BIND_MENTION_ARGS)


def kg_update_tool_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UPDATE under the gate (round-5 — the WRITE side of the
    query stack): stage the triple graph as snapshot v1, run ONE atomic
    DELETE/INSERT-WHERE modify —

        DELETE { ?turn v:tool ?tn }
        INSERT { ?turn v:redacted "true" }
        WHERE  { ?turn v:tool ?tn }

    (the tool-redaction pass a training-data pipeline runs before
    export) — and aggregate per-predicate stats over the CURRENT
    snapshot.  Exercises binding-driven template instantiation, the
    anti-join removal, insert dedup against the surviving graph, and
    the atomic overwrite commit; the pre-update snapshot remains
    time-travel readable.  The DuckDB oracle applies the same mutation
    relationally to the independently-derived triple relation."""
    import atexit
    import shutil
    import tempfile

    from jsonld_ex_spark.operators.graph_update import delete_insert
    from jsonld_ex_spark.sources.snapshot_table import (
        read_snapshot,
        write_triples_snapshot,
    )
    from jsonld_ex_spark.sources.transcripts import VOCAB

    tdir = tempfile.mkdtemp(prefix="kg_update_")
    atexit.register(shutil.rmtree, tdir, ignore_errors=True)
    write_triples_snapshot(
        _checkpointed_triples(spark, sf_dir), tdir, operation="append"
    )
    delete_insert(
        spark, tdir,
        delete_template=[("?turn", f"<{VOCAB}tool>", "?tn")],
        insert_template=[("?turn", f"<{VOCAB}redacted>", '"true"')],
        where=[("?turn", f"<{VOCAB}tool>", "?tn")],
    )
    return _triple_stats(read_snapshot(spark, tdir).select("pred", "subj"))


def kg_update_typed_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-TERM deletion under the gate (round-6 verdict item 6):
    stage a store where every document carries the SAME LEXICAL score
    twice — once as ``"k"^^xsd:integer``, once as a plain (xsd:string)
    literal — plus one fixed probe pair, then run both exact-term
    forms:

        DELETE { ?d v:score "3"^^xsd:integer } WHERE { ?d v:score ?x }
        DELETE DATA { <urn:probe:1> v:note "p"^^xsd:integer }

    The typed literals die; the identical-lexical plain literals
    survive — the spec-true behavior the lexical matching key cannot
    express.  Output: per-(obj, normalized-datatype) counts over the
    final snapshot; the oracle applies both deletions relationally."""
    import atexit
    import shutil
    import tempfile

    from jsonld_ex_spark.operators.graph_update import delete_data, delete_insert
    from jsonld_ex_spark.operators.jsonld_ops import DOC_NS
    from jsonld_ex_spark.operators.jsonld_ops import VOCAB as DOC_VOCAB
    from jsonld_ex_spark.sources.snapshot_table import (
        read_snapshot,
        write_triples_snapshot,
    )

    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.select(
        F.concat(F.lit(DOC_NS), F.col("doc_id").cast("string")).alias("subj"),
        F.lit(f"{DOC_VOCAB}score").alias("pred"),
        (F.col("doc_id") % 7).cast("string").alias("obj"),
        F.lit(False).alias("obj_is_iri"),
    )
    typed = base.withColumns({
        "obj_dt": F.lit(xsd_int), "obj_lang": F.lit(None).cast("string"),
        "graph": F.lit(None).cast("string"),
    })
    plain = base.withColumns({
        "obj_dt": F.lit(None).cast("string"), "obj_lang": F.lit(None).cast("string"),
        "graph": F.lit(None).cast("string"),
    })
    probes = spark.createDataFrame(
        [
            ("urn:probe:1", f"{DOC_VOCAB}note", "p", False, xsd_int, None, None),
            ("urn:probe:1", f"{DOC_VOCAB}note", "p", False, None, None, None),
        ],
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_dt string, obj_lang string, graph string",
    )
    tdir = tempfile.mkdtemp(prefix="kg_typed_del_")
    atexit.register(shutil.rmtree, tdir, ignore_errors=True)
    write_triples_snapshot(
        typed.unionByName(plain).unionByName(probes), tdir, operation="append"
    )
    delete_insert(
        spark, tdir,
        delete_template=[("?d", f"<{DOC_VOCAB}score>", f'"3"^^<{xsd_int}>')],
        insert_template=[],
        where=[("?d", f"<{DOC_VOCAB}score>", "?x")],
    )
    delete_data(
        spark, tdir, [("<urn:probe:1>", f"<{DOC_VOCAB}note>", f'"p"^^<{xsd_int}>')]
    )
    from jsonld_ex_spark.operators.graph_update import _norm_dt_col

    return (
        read_snapshot(spark, tdir)
        .select("subj", "obj", _norm_dt_col().alias("dt"))
        .groupBy("obj", "dt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("subj").alias("n_docs"),
        )
    )


def kg_describe_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE under the gate (round-5 — completes the query-
    form family next to SELECT/ASK/CONSTRUCT): Concise Bounded
    Description of every conversation whose IRI ends in '00' (a
    deterministic ~1% sample).  Each conversation's CBD pulls its own
    triples plus — through the blank-node closure — its ENTIRE rdf:list
    spine (rest/first cells are blank nodes), so the description is the
    full reassembly a SPARQL client expects.  The pipeline's skolem
    labels keep every blank node inside its conversation and number
    the list cells by position, so the closure takes the positional
    path (property_paths._seeded_closure): each sampled conversation's
    spine is read off its cell labels in Catalyst, not by O(log
    list-length) doubling supersteps over the whole graph's blank-node
    edges.  The roots need no dedup:
    bgp_describe's output is a set.  The DuckDB oracle recomputes the
    same CBD with a WITH RECURSIVE bnode walk."""
    from jsonld_ex_spark.operators.bgp import bgp_describe
    from jsonld_ex_spark.sources.transcripts import VOCAB

    t = _checkpointed_triples(spark, sf_dir)
    roots = t.filter(
        (F.col("pred") == f"{VOCAB}turns") & F.col("subj").rlike("00$")
    ).select("subj")
    return bgp_describe(t, roots)


def kg_bgp_entity_idx_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SUM aggregate under the gate (round-5): per-entity sum of
    the mentioning turns' turn_idx lexicals — numeric aggregation over
    string-typed objects, safe cross-engine ONLY under the
    strict-integer guard (Spark try_cast vs DuckDB TRY_CAST diverge on
    fractional forms) with the oracle's outer CAST defeating DuckDB's
    sum→HUGEINT→float64 rendering."""
    from jsonld_ex_spark.operators.bgp import bgp_aggregate
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_aggregate(
        _checkpointed_triples(spark, sf_dir),
        [
            ("?turn", f"<{VOCAB}mentions>", "?entity"),
            ("?turn", f"<{VOCAB}turn_idx>", "?idx"),
        ],
        group_by=["entity"],
        aggs={"n_mentions": ("count", None), "idx_sum": ("sum", "idx")},
    )


def kg_bgp_avg_idx_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL AVG + SAMPLE + HAVING under the gate (round-5 late): the
    per-entity mean mention position as an integer per-mille floor (the
    only engine-exact rendering of a fractional mean — Spark DOUBLE and
    DuckDB float64 render differently), a deterministic SAMPLE witness
    turn (always the minimum — a legal SPARQL SAMPLE choice), and
    HAVING n_mentions >= 3 filtering the groups post-aggregation.
    Completes the SPARQL aggregate family next to COUNT/COUNT
    DISTINCT/MIN/MAX/SUM/GROUP_CONCAT (operators/bgp.py)."""
    from jsonld_ex_spark.operators.bgp import bgp_aggregate
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_aggregate(
        _checkpointed_triples(spark, sf_dir),
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


def kg_bgp_turn_entity_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP_CONCAT under the gate (round-5): each turn's
    mentioned entities joined SORTED with a fixed separator — the
    order-sensitive aggregate made deterministic (SPARQL leaves
    solution order undefined), mirrored by string_agg ... ORDER BY in
    the oracle.  Groups are per-turn (a few elements each), never
    per-entity — a hot entity's million-mention concat would be a
    driver-killing string at 10^12 triples."""
    from jsonld_ex_spark.operators.bgp import bgp_aggregate
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_aggregate(
        _checkpointed_triples(spark, sf_dir),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        group_by=["turn"],
        aggs={"n_mentions": ("count", None), "entities": ("group_concat", "entity")},
    )


def kg_bgp_entity_mention_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic BGP aggregation compiler under the gate: per-entity
    distinct mentioning turns + first/last turn IRI, straight from
    { ?turn v:mentions ?entity } — SPARQL's SELECT ... GROUP BY form."""
    from jsonld_ex_spark.operators.bgp import bgp_aggregate
    from jsonld_ex_spark.plans.oracles import BGP_TOOL_MENTIONS_PATTERNS  # noqa: F401
    from jsonld_ex_spark.sources.transcripts import VOCAB

    return bgp_aggregate(
        _checkpointed_triples(spark, sf_dir),
        [("?turn", f"<{VOCAB}mentions>", "?entity")],
        group_by=["entity"],
        aggs={
            "n_mentions": ("count", None),
            "n_turns": ("count_distinct", "turn"),
            "first_turn": ("min", "turn"),
            "last_turn": ("max", "turn"),
        },
    )


def kg_sparql_text_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 textual SPARQL front-end under the gate: the query
    arrives as a SPARQL STRING (operators/sparql_text.py) — prefixes,
    ``;`` elision, OPTIONAL, BIND(IF/BOUND/CONCAT), a pushed-down
    numeric FILTER, STRENDS, and an ORDER/LIMIT page — and is parsed
    into the same audited compiler every programmatic query uses.  The
    oracle parses the IDENTICAL text through sparql_oracle_sql, so a
    parser divergence in either direction breaks the hash."""
    from jsonld_ex_spark.operators.sparql_text import sparql_query
    from jsonld_ex_spark.plans.oracles import SPARQL_TEXT_MENTIONS

    return sparql_query(_checkpointed_triples(spark, sf_dir), SPARQL_TEXT_MENTIONS)


def kg_sparql_text_entity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textual SPARQL aggregation under the gate: GROUP BY + COUNT +
    COUNT(DISTINCT) + HAVING + ORDER BY DESC paging, all from one query
    string — the grouped-aggregate half of the parser surface (the
    SELECT half is kg_sparql_text_mentions)."""
    from jsonld_ex_spark.operators.sparql_text import sparql_query
    from jsonld_ex_spark.plans.oracles import SPARQL_TEXT_ENTITY_STATS

    return sparql_query(
        _checkpointed_triples(spark, sf_dir), SPARQL_TEXT_ENTITY_STATS
    )


def kg_sparql_text_path_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textual PROPERTY PATH under the gate: the alternative path
    ``(v:mentions|v:tool)`` and a numeric STRLEN filter arrive as query
    text, compile through the parser to the path engine's union
    relation plus a num_cmp condition, and page deterministically —
    the third leg of the one-text-both-engines contract (SELECT,
    aggregate, path)."""
    from jsonld_ex_spark.operators.sparql_text import sparql_query
    from jsonld_ex_spark.plans.oracles import SPARQL_TEXT_PATH_EDGES

    return sparql_query(_checkpointed_triples(spark, sf_dir), SPARQL_TEXT_PATH_EDGES)


def kg_sparql_text_optional_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth textual-SPARQL gate witness: a blank-node label as the
    scoped joining variable (``_:t`` — per SPARQL a non-projectable
    variable; this engine additionally shares the label across the
    OPTIONAL group), an OPTIONAL group with an INTERNAL scalar FILTER
    (the LeftJoin(A, Filter(C, P)) algebra — kb_search attachments are
    filtered inside the group, the turn keeps its solution with ?tn
    unbound), COALESCE over the optional binding, a pushed numeric
    FILTER, and a deterministic page."""
    from jsonld_ex_spark.operators.sparql_text import sparql_query
    from jsonld_ex_spark.plans.oracles import SPARQL_TEXT_OPTIONAL_TOOLS

    return sparql_query(
        _checkpointed_triples(spark, sf_dir), SPARQL_TEXT_OPTIONAL_TOOLS
    )


def kg_sparql_text_union_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth textual witness — EMBEDDED UNION composing with
    aggregation: the two role arms evaluate as one UNION ALL relation
    (bag semantics) that feeds GROUP BY + COUNT + HAVING + DESC paging,
    all from one query string compiled to both engines."""
    from jsonld_ex_spark.operators.sparql_text import sparql_query
    from jsonld_ex_spark.plans.oracles import SPARQL_TEXT_UNION_STATS

    return sparql_query(
        _checkpointed_triples(spark, sf_dir), SPARQL_TEXT_UNION_STATS
    )

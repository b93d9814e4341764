"""End-to-end KG pipeline correctness vs the DuckDB relational oracle.

This is the repo-local mirror of the driver's gate: every kg_* query is
compared row-for-row (order-insensitive) against pure-SQL oracles at
sf0.001.  kg_triples is the load-bearing one: it validates transcript
synthesis + doc assembly + expand + flatten + toRdf + skolemization in
one shot.
"""

from __future__ import annotations

import threading
from datetime import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from jsonld_ex_spark.operators import kg_queries
from jsonld_ex_spark.operators.kg_pipeline import (
    TRIPLE_SCHEMA,
    _extract_triples,
    assemble_conversations,
    conversation_triples,
    kg_triples,
)
from jsonld_ex_spark.plans import oracles
from jsonld_ex_spark.sources.transcripts import transcripts_df

from tests.spark_fixtures import SF_DIR as SF, compare_with_oracle, spark  # noqa: F401

pytestmark = pytest.mark.spark


def test_transcripts_match_oracle(spark):  # noqa: F811
    compare_with_oracle(kg_queries.kg_transcripts(spark, "/root/testdata/sf0.001"),
                        oracles.transcripts_oracle())


def test_mentions_match_oracle(spark):  # noqa: F811
    compare_with_oracle(kg_queries.kg_mentions(spark, "/root/testdata/sf0.001"),
                        oracles.kg_mentions_oracle())


def test_entity_links_match_oracle(spark):  # noqa: F811
    compare_with_oracle(kg_queries.kg_entity_links(spark, "/root/testdata/sf0.001"),
                        oracles.kg_entity_links_oracle())


def test_triples_match_oracle(spark):  # noqa: F811
    compare_with_oracle(kg_triples(spark, "/root/testdata/sf0.001"),
                        oracles.kg_triples_oracle())


def test_triple_stats_match_oracle(spark):  # noqa: F811
    compare_with_oracle(kg_queries.kg_triple_stats(spark, "/root/testdata/sf0.001"),
                        oracles.kg_triple_stats_oracle())


def test_turn_order_invariant(spark):  # noqa: F811
    df = kg_queries.kg_turn_order(spark, "/root/testdata/sf0.001")
    bad = df.where("expected_idx <> turn_idx").count()
    assert bad == 0
    compare_with_oracle(df, oracles.kg_turn_order_oracle())


def test_skolem_ids_stable_across_runs(spark):  # noqa: F811
    """north_star: deterministic skolemization — two independent runs
    produce the identical triple set (incl. blank-node labels)."""
    a = sorted(map(tuple, kg_triples(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(tuple, kg_triples(spark, "/root/testdata/sf0.001").collect()))
    assert a == b


def test_triple_stats_persisted_equals_recomputed(spark, tmp_path):  # noqa: F811
    """Production form: write_triples → kg_triple_stats_from_table must
    equal the self-contained gate form exactly (the persisted table is
    the real downstream input; the gate recomputes only because gated
    queries must be self-contained)."""
    from jsonld_ex_spark.operators.triples import write_triples

    sf = "/root/testdata/sf0.001"
    path = str(tmp_path / "triples")
    write_triples(kg_triples(spark, sf), path, mode="overwrite")
    persisted = sorted(
        map(tuple, kg_queries.kg_triple_stats_from_table(spark, path).collect())
    )
    recomputed = sorted(map(tuple, kg_queries.kg_triple_stats(spark, sf).collect()))
    assert persisted == recomputed
    # and the persisted plan is scan→agg: no Python stage, column-pruned
    plan = kg_queries.kg_triple_stats_from_table(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "obj" not in read_schema  # only (pred, subj) read


def test_graph_fingerprints_detect_duplicate_conversations(spark):  # noqa: F811
    """Two conversations with IDENTICAL turn content but different
    conv_ids must fingerprint identically (graph-level dedup catches
    them); changing one character must change the fingerprint."""
    from datetime import datetime

    from jsonld_ex_spark.operators.kg_pipeline import conversation_triples
    from jsonld_ex_spark.operators.kg_queries import graph_fingerprints

    def turns(conv_id, text1):
        return [
            (conv_id, 0, "user", text1, None, datetime(2024, 1, 1, 0, 0, 0)),
            (conv_id, 1, "assistant", "reply with ENT_0042", "search", datetime(2024, 1, 1, 0, 1, 0)),
        ]

    rows = turns("convA", "hello world") + turns("convB", "hello world") + turns("convC", "hello mars")
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    fp = {r["conv_id"]: r for r in graph_fingerprints(conversation_triples(df)).collect()}
    assert fp["convA"]["graph_md5"] == fp["convB"]["graph_md5"]
    assert fp["convC"]["graph_md5"] != fp["convA"]["graph_md5"]
    assert fp["convA"]["group_size"] == 2 and fp["convC"]["group_size"] == 1
    assert fp["convB"]["canonical_conv_id"] == "convA"


def test_entity_dict_is_bijective(spark):  # noqa: F811
    """Guards the r7 kg_entity_links aggregate-before-join rewrite: it
    is only equivalent to the old aggregate-after-join form while the
    entity dictionary maps surfaces and entities 1:1 in BOTH directions
    (per-surface groups == per-entity groups; countDistinct(conv) is
    not mergeable across alias surfaces).  If aliases are ever added,
    this fails loudly instead of the query silently changing shape."""
    from pyspark.sql import functions as F

    from jsonld_ex_spark.sources.transcripts import entity_dict_df

    d = entity_dict_df(spark)
    n = d.count()
    assert d.select("surface_norm").distinct().count() == n
    assert d.select("entity_id", "canonical_iri").distinct().count() == n


# --- template rendering vs the reference kernel ----------------------------

TURNS_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
_TS = datetime(2024, 1, 1, 12, 0, 0)
ILL_FORMED_CONV_IDS = ["a b", "a#b#c"]
WELL_FORMED_CONV_IDS = ["a#b", "é"]
EDGE_TURNS = [
    ("nulls", 0, None, None, None, None),  # NULL role, text, tool and ts
    ("nulls", 1, "tool", "", "kb_search", _TS),  # empty text
    ("utf8", 0, "user", "Zürich café — ENT_0001, ENT_0002 and ENT_0001 again", None, _TS),
    ("one", 0, "assistant", "the only turn", None, _TS),
    ("gaps", 3, "user", "about ENT_0003", None, _TS),  # non-contiguous turn_idx
    ("gaps", 7, "tool", "lookup", "kb_search", _TS),
    ("gaps", -1, "user", "before the start", None, _TS),  # negative turn_idx
    ("rep", 2, "user", "a ENT_0004", None, _TS),  # repeated turn_idx
    ("rep", 2, "assistant", "b ENT_0004 ENT_0005", "kb_search", _TS),
    ("rep", 2, "user", "a ENT_0004", None, _TS),
    ("rep", 5, "user", "after", None, None),
] + [(c, 0, "user", "x ENT_0006", None, _TS) for c in ILL_FORMED_CONV_IDS + WELL_FORMED_CONV_IDS]


def _reference_triples(transcripts):
    """The generic path the template rendering shortcuts: assembled
    conversations → to_json → mapInPandas(_extract_triples)."""
    assembled = assemble_conversations(transcripts).select(
        "conv_id", F.to_json("turns").alias("turns_json")
    )
    return assembled.mapInPandas(_extract_triples, schema=TRIPLE_SCHEMA)


def _assert_matches_reference(transcripts) -> int:
    """conversation_triples equals the reference kernel as a row
    multiset; returns the row count."""
    got = conversation_triples(transcripts).localCheckpoint()
    want = _reference_triples(transcripts).localCheckpoint()
    extra, missing = got.exceptAll(want), want.exceptAll(got)
    assert (extra.count(), missing.count()) == (0, 0), (
        extra.limit(5).collect(), missing.limit(5).collect()
    )
    return got.count()


def test_template_matches_reference_kernel_on_corpus(spark):  # noqa: F811
    assert _assert_matches_reference(transcripts_df(spark, SF)) > 0


def test_template_matches_reference_kernel_on_edge_conversations(spark):  # noqa: F811
    df = spark.createDataFrame(EDGE_TURNS, TURNS_DDL)
    assert _assert_matches_reference(df) > 0
    per_conv = {
        r["conv_id"]: r["count"]
        for r in conversation_triples(df).groupBy("conv_id").count().collect()
    }
    # toRdf drops every IRI of an ill-formed conv_id: no row at all
    assert not set(ILL_FORMED_CONV_IDS) & set(per_conv)
    assert set(WELL_FORMED_CONV_IDS) <= set(per_conv)


_conversation = st.tuples(
    st.sampled_from(["c1", "c.2", "k:3", "a b", "x#y", "x#y#z", "é", "p%20q"]),
    st.lists(
        st.tuples(
            st.integers(min_value=-2, max_value=6),
            st.one_of(st.none(), st.sampled_from(["user", "assistant", "tool"])),
            st.one_of(st.none(), st.lists(
                st.sampled_from(["hi", "ENT_0001", "ENT_0002", "café", ""]), max_size=4,
            ).map(" ".join)),
            st.one_of(st.none(), st.just("kb_search")),
            st.one_of(st.none(), st.just(_TS)),
        ),
        min_size=1, max_size=5,
    ),
)


@settings(max_examples=10, deadline=None)
@given(convs=st.lists(_conversation, min_size=1, max_size=3, unique_by=lambda c: c[0]))
def test_template_matches_reference_kernel_property(spark, convs):  # noqa: F811
    rows = [(conv_id, *turn) for conv_id, turns in convs for turn in turns]
    _assert_matches_reference(spark.createDataFrame(rows, TURNS_DDL))


def test_template_rendering_is_linear_in_conversation_length(spark):  # noqa: F811
    """One 20,000-turn conversation: a linear rendering takes seconds;
    deduplicating its ~180k rows as structs (pairwise) takes minutes."""
    n = 20_000
    i = F.col("id")
    df = spark.range(n).select(
        F.lit("long").alias("conv_id"),
        i.cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.format_string("turn %d cites ENT_%04d and ENT_0001", i, i % 211).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(i + 1704067200).alias("ts"),
    )
    sc, group, errors = spark.sparkContext, "linear-rendering-guard", []

    def render():
        sc.setJobGroup(group, f"{n}-turn conversation", interruptOnCancel=True)
        try:
            conversation_triples(df).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    worker = threading.Thread(target=render)
    worker.start()
    worker.join(timeout=30)
    if worker.is_alive():  # fail now instead of waiting out a quadratic job
        sc.cancelJobGroup(group)
        worker.join(timeout=60)
        pytest.fail(f"{n}-turn conversation not rendered within 30 s")
    assert not errors, errors
    assert _assert_matches_reference(df) > 8 * n


def test_transcripts_df_binds_its_source_per_call(spark, tmp_path):  # noqa: F811
    """Two threads building transcripts from different inputs on one
    session each get their sequential result (a fixed session-global
    temp view for the source lets one analyse the other's input)."""
    half = tmp_path / "half"
    spark.read.parquet(f"{SF}/lineitem.parquet").where("l_orderkey % 2 = 0").write.parquet(
        str(half / "lineitem.parquet")
    )
    dirs = [SF, str(half)]
    want = [transcripts_df(spark, d).count() for d in dirs]
    assert want[0] != want[1]
    rounds = 6
    barrier = threading.Barrier(len(dirs))
    got: list[list] = [[] for _ in dirs]

    def run(k):
        for _ in range(rounds):
            barrier.wait(timeout=120)
            try:
                got[k].append(transcripts_df(spark, dirs[k]).count())
            except Exception as e:  # noqa: BLE001 — a failed build is a wrong result
                got[k].append(repr(e))

    threads = [threading.Thread(target=run, args=(k,)) for k in range(len(dirs))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert got == [[w] * rounds for w in want]

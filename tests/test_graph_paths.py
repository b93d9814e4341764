"""The pointer-doubling list walk (chain_positions' fallback, taken
here because ``c<i>`` cells carry no positional label): superstep
bound and cycle guard; and cross-validation of graph-derived positions
against the turn indices embedded in the IRIs (which the walker never
looks at).  tests/test_property_paths.py compares the two tiers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonld_ex_spark.operators.graph_paths import RDF_NS, chain_positions
from tests.spark_fixtures import SF_DIR, spark  # noqa: F401


def _chain_df(spark, n, cyclic=False):  # noqa: F811
    rows = []
    for i in range(n - 1):
        rows.append((f"c{i}", f"{RDF_NS}rest", f"c{i + 1}", True))
    rows.append(
        (f"c{n - 1}", f"{RDF_NS}rest", "c0" if cyclic else f"{RDF_NS}nil", True)
    )
    for i in range(n):
        rows.append((f"c{i}", f"{RDF_NS}first", f"m{i}", True))
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean"
    )


def test_long_chain_converges_in_log_supersteps(spark):  # noqa: F811
    """1000-node chain must finish within ceil(log2(1000))+2 = 12
    supersteps — the whole point of doubling over one-hop iteration."""
    n = 1000
    triples = _chain_df(spark, n)
    heads = spark.createDataFrame([("L", "c0")], "head string, cell string")
    out = chain_positions(triples, heads, max_iters=12)
    got = {(r["position"], r["member"]) for r in out.collect()}
    assert got == {(i, f"m{i}") for i in range(n)}


def test_known_bound_walk_matches_detection_loop(spark):  # noqa: F811
    """The superstep bound the walk derives from the rest-edge count
    must yield the full position set for exact powers of two and
    off-by-one lengths, and when the bound is looser than the walked
    chain (an unreached 39-edge chain inflates the count)."""
    heads = spark.createDataFrame([("L", "c0")], "head string, cell string")
    for n in (1, 2, 8, 9):
        out = chain_positions(_chain_df(spark, n), heads)
        got = {(r["position"], r["member"]) for r in out.collect()}
        assert got == {(i, f"m{i}") for i in range(n)}, n
    unreached = _chain_df(spark, 40).withColumn(
        "subj", F.concat(F.lit("y"), F.col("subj"))
    ).withColumn(
        "obj",
        F.when(F.col("obj").startswith("c"), F.concat(F.lit("y"), F.col("obj")))
        .otherwise(F.col("obj")),
    )
    out = chain_positions(_chain_df(spark, 5).unionByName(unreached), heads)
    got = {(r["position"], r["member"]) for r in out.collect()}
    assert got == {(i, f"m{i}") for i in range(5)}


def test_cycle_raises_instead_of_hanging(spark):  # noqa: F811
    triples = _chain_df(spark, 8, cyclic=True)
    heads = spark.createDataFrame([("L", "c0")], "head string, cell string")
    with pytest.raises(RuntimeError, match="did not converge"):
        chain_positions(triples, heads, max_iters=6)


def test_graph_positions_match_iri_turn_indices(spark):  # noqa: F811
    """The walker sees only first/rest edges; the recovered position
    must equal the turn_idx the pipeline embedded in each turn IRI."""
    from jsonld_ex_spark.operators.kg_queries import kg_list_walk

    out = kg_list_walk(spark, SF_DIR)
    mismatch = out.filter(
        F.col("position")
        != F.regexp_extract("turn_iri", r":(\d+)$", 1).cast("int")
    ).count()
    assert mismatch == 0
    assert out.count() > 0


def test_pagerank_mass_and_hot_entities(spark):  # noqa: F811
    """Fixed-point PageRank: total mass stays within floor-rounding of
    PR_SCALE, and the corpus's planted hot entities dominate the top."""
    from jsonld_ex_spark.operators.kg_queries import (
        PR_SCALE,
        kg_entity_pagerank,
    )
    from jsonld_ex_spark.sources.transcripts import HOT_ENTITIES

    rows = kg_entity_pagerank(spark, SF_DIR).collect()
    total = sum(r["pr"] for r in rows)
    # each div floors; mass loss bounded well under 0.1%
    assert 0.999 * PR_SCALE <= total <= PR_SCALE
    top = [r["ent"] for r in sorted(rows, key=lambda r: -r["pr"])[:HOT_ENTITIES]]
    hot = {f"ENT_{i:04d}" for i in range(HOT_ENTITIES)}
    assert sum(1 for e in top if e in hot) >= HOT_ENTITIES - 2


def test_triangle_counting_on_known_graph(spark, monkeypatch):  # noqa: F811
    """K4 minus one edge has exactly 2 triangles; every triangle
    increments all three corners once (degree-ordered enumeration must
    count each triangle exactly once, never 0 or 3 times)."""
    from jsonld_ex_spark.operators import kg_queries

    edges = [("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D")]
    df = spark.createDataFrame(edges, "src string, dst string")
    sym = df.unionByName(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    monkeypatch.setattr(kg_queries, "_cooccur_edges", lambda s, d: sym)
    out = {
        r["ent"]: r["n_triangles"]
        for r in kg_queries.kg_entity_triangles(spark, "ignored").collect()
    }
    # triangles: ABC and ABD (ACD and BCD are open — CD edge missing)
    assert out == {"A": 2, "B": 2, "C": 1, "D": 1}


def test_no_bound_walk_derives_bound_without_per_round_probe(spark):  # noqa: F811
    """The doubling walk derives its superstep count from ONE edge-count
    aggregation (round-4 verdict item 7) — the old fallback issued a
    per-superstep rdd.isEmpty() driver action.  Two chains of different
    lengths under one call must both complete."""
    t1 = _chain_df(spark, 6)
    t2 = _chain_df(spark, 3).withColumn(
        "subj", F.concat(F.lit("x"), F.col("subj"))
    ).withColumn(
        "obj",
        F.when(F.col("obj").startswith("c"), F.concat(F.lit("x"), F.col("obj")))
        .otherwise(F.col("obj")),
    )
    triples = t1.unionByName(t2)
    heads = spark.createDataFrame(
        [("L1", "c0"), ("L2", "xc0")], "head string, cell string"
    )
    out = chain_positions(triples, heads)
    got = {(r["head"], r["position"], r["member"]) for r in out.collect()}
    expect = {("L1", i, f"m{i}") for i in range(6)}
    # the x-chain's first-edges still point at unprefixed members m0..m2
    expect |= {("L2", i, f"m{i}") for i in range(3)}
    assert got == expect

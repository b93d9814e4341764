"""rdf:list positions over the triple graph.

RDF lists (rdf:first / rdf:rest chains — how toRdf serializes @list
containers) are the canonical "recursive structure Spark lacks an
operator for": recovering *position in list* requires walking a
pointer chain.  :func:`chain_positions` is the one place that turns
lists into ``(head, position, member)`` rows, in one of two tiers:

* LABELS: the KG pipeline labels cell i of a conversation
  ``_:<conv_id>.<i>``.  When the rest edges are positional
  (``property_paths._chain_check``) and every cell a walk can enter
  carries such a label, ``property_paths._chain_closure`` reads each
  head's run of cells off the labels in Catalyst (one prefix
  aggregate, one join, a ``sequence`` explode), and a position is the
  difference of two labels.
* POINTER DOUBLING (:func:`_walk_fixed`), the fallback for every other
  graph and the reference the label tier is tested against: alongside
  the reachability frontier it squares a jump table
  (``src →(2^k hops)→ dst``) each superstep, so a length-L chain
  completes in ceil(log2 L) + 1 supersteps, not L.  Both the frontier
  and the jump table are localCheckpointed each superstep: each
  references itself twice per iteration, so the logical plan would
  otherwise double per superstep and Catalyst OOMs on even small
  inputs (cache() does NOT truncate lineage — CLAUDE.md, same lesson
  as dedup_ops._connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonld_ex_spark.functions.partitioning import capped_shuffle_width
from jsonld_ex_spark.operators import property_paths

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_FIRST, _REST, _NIL = f"{RDF_NS}first", f"{RDF_NS}rest", f"{RDF_NS}nil"


def chain_positions(
    triples: DataFrame, heads: DataFrame, max_iters: int = 40
) -> DataFrame:
    """Walk rdf:first/rest chains distributively.

    ``heads`` must have columns (head, cell): one row per list with its
    owning key and entry cell.  Returns (head, position, member) with
    0-based positions.

    The label tier is taken when the rest edges pass ``_chain_check``
    and every head cell and rest object other than rdf:nil carries a
    positional label, so that every cell a walk reaches is a labelled
    blank node of its head's run: two cheap jobs decide it, and the
    walk is one Catalyst plan with no superstep, checkpoint or
    shuffle-width cap.  Otherwise pointer doubling bounds its
    superstep count with one aggregation (the rest-edge count + 1
    bounds any chain's length) and raises when that bound exceeds
    ``max_iters`` supersteps, or when its verification superstep finds
    a cycle."""
    rest = triples.filter(F.col("pred") == _REST).select(
        F.col("subj").alias("s"), F.col("obj").alias("o")
    )
    position = property_paths._position
    # the cells a walk enters: _chain_check vets the blank-node rest
    # objects, this the head cells and the other rest objects
    entered = heads.select(F.col("cell").alias("o")).unionByName(
        rest.filter(~F.col("o").startswith("_:")).select("o")
    )
    if property_paths._chain_check(rest).positional and entered.filter(
        (F.col("o") != _NIL) & position("o").isNull()
    ).isEmpty():
        starts = heads.select(F.col("cell").alias("s"), F.col("cell").alias("o")).distinct()
        reach = (
            property_paths._chain_closure(starts, rest)
            .filter(F.col("o").startswith("_:"))
            .join(heads, F.col("s") == F.col("cell"))
            .select(
                "head",
                F.col("o").alias("cell"),
                (position("o") - position("s")).cast("int").alias("position"),
            )
        )
    else:
        n_steps = rest.filter(F.col("o") != _NIL).count().bit_length()  # 2^k >= edges + 1
        if n_steps > max_iters:
            raise RuntimeError(
                f"chain bound 2^{n_steps} exceeds max_iters={max_iters} supersteps"
            )
        reach = _walk_fixed(rest, heads, n_steps)
    firsts = triples.filter(F.col("pred") == _FIRST).select(
        F.col("subj").alias("cell"), F.col("obj").alias("member")
    )
    return reach.join(firsts, "cell").select("head", "position", "member")


def _walk_fixed(rest: DataFrame, heads: DataFrame, n_steps: int) -> DataFrame:
    """Pointer-doubling walk of the rest edges ``(s, o)`` from the heads
    in exactly ``n_steps`` supersteps, with no emptiness probe between
    them; returns the materialized (head, cell, position) reach.

    The whole walk MATERIALIZES (eager final localCheckpoint) under
    ``capped_shuffle_width`` (functions/partitioning.py): frontier/jump
    tables are tiny relative to the triple table, and at the bench's
    128 shuffle partitions each of ~6 supersteps would run several
    shuffles of 128 near-empty tasks."""
    with capped_shuffle_width(rest.sparkSession):
        edges = rest.filter(F.col("o") != _NIL).select(
            F.col("s").alias("src"),
            F.col("o").alias("dst"),
            F.lit(1).cast("int").alias("step"),
        )
        reach = heads.select("head", "cell", F.lit(0).cast("int").alias("position"))
        jump = edges.localCheckpoint(eager=False)
        for s in range(n_steps):
            nxt = (
                reach.join(jump, reach["cell"] == jump["src"], "inner")
                .select(
                    "head",
                    F.col("dst").alias("cell"),
                    (F.col("position") + F.col("step")).alias("position"),
                )
            )
            reach = reach.unionByName(nxt).localCheckpoint(eager=False)
            if s == n_steps - 1:
                break  # the doubled jump table would never be read
            j2 = jump.alias("a").join(
                jump.alias("b"), F.col("a.dst") == F.col("b.src"), "inner"
            ).select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                (F.col("a.step") + F.col("b.step")).alias("step"),
            )
            j2 = j2.groupBy("src").agg(
                F.max(F.struct("step", "dst")).alias("m")
            ).select("src", F.col("m.dst").alias("dst"), F.col("m.step").alias("step"))
            jump = j2.localCheckpoint(eager=False)
        # materialize NOW, while the capped conf is active (the caller's
        # subsequent plan executes under the restored conf)
        reach = reach.localCheckpoint(eager=True)
        # verification superstep (one driver action on a tiny join): the
        # walk covers positions 0 .. 2^n_steps - 1; a cell AT the max
        # position with an outgoing rest edge means the chain continues
        # past what the bound covered, which only a cycle (positions
        # grow forever) can cause.  A complete chain of exactly
        # 2^n_steps cells ends AT the max position with no outgoing
        # edge, so the check is exact.
        max_pos = (1 << n_steps) - 1
        truncated = (
            reach.filter(F.col("position") == max_pos)
            .join(edges.select("src"), F.col("cell") == F.col("src"), "inner")
            .limit(1)
            .count()
        )
        if truncated:
            raise RuntimeError(
                f"chain_positions did not converge within {n_steps} doubling "
                f"supersteps (positions >= {max_pos + 1} exist) — rest-chain cycle"
            )
    return reach

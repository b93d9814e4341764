"""``kg_query``: write the triple table once, then query it cold and warm.

Set-up generates a lineitem-shaped input with long conversations
(1-64 turns, so list walks take several pointer-doubling supersteps) and
writes the persisted triple table once with ``triples.write_triples``
(the subject-bucketed layout the graph queries read).  The triples come
from DuckDB ``kg_triples_oracle``, cast to the pipeline's
``TRIPLE_SCHEMA``: ``kg_build`` checks that the pipeline writes exactly
these rows, and leaving the kernel out keeps this workload's set-up and
passes on the read path.  Every query's expected result is computed by
DuckDB from ``sparql_oracle_sql`` over the same persisted parquet.

A pass reads the table back fresh with ``spark.read.parquet`` and runs
the query mix through ``sparql_text.sparql_query``; each query's result
is consumed by a fingerprint aggregate (every column, every row) that is
compared with the expected one.  The first pass runs in the fresh
session with the predicate-statistics memo still empty: it is the cold
pass.
"""

from __future__ import annotations

import math
import os
import time
from collections import Counter

import numpy as np

import check
import gen
from wl_build import table_sql as table_sql_of

N_CONVS = 256
MAX_TURNS = 32
N_BUCKETS = 16

QUERIES = ("mentions", "entity_stats", "path_edges", "optional_tools", "union_stats",
           "list_walk", "describe")

LIST_WALK = """
PREFIX v: <https://sparkld.dev/vocab#>
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
SELECT ?c ?t WHERE { ?c v:turns/rdf:rest*/rdf:first ?t . }
"""

DESCRIBE = """
PREFIX v: <https://sparkld.dev/vocab#>
DESCRIBE ?c WHERE {{ ?c v:turns ?l . FILTER({cond}) }}
"""

# the DESCRIBE sample: one conversation of each of these lengths, so its
# blank-node closure (the whole rdf:list spine) has the same depth and
# size for every seed
DESCRIBE_LENGTHS = (32, 16, 8)


def _seeded(text: str, old: str, new: str) -> str:
    if old not in text:
        raise ValueError(f"query text no longer contains {old!r}")
    return text.replace(old, new)


def query_mix(seed: int, turns_per_conv: dict[int, int]) -> dict[str, str]:
    """The five gated SPARQL texts with seeded constants, the list walk
    and a DESCRIBE of seeded conversations (``DESCRIBE_LENGTHS``),
    selected by their id suffix."""
    from jsonld_ex_spark.plans import oracles as O

    rng = np.random.default_rng([seed, 4])
    sample = []
    for length in DESCRIBE_LENGTHS:
        keys = sorted(k for k, n in turns_per_conv.items() if n == length)
        sample.append(keys[int(rng.integers(0, len(keys)))])
    cond = " || ".join(f'STRENDS(STR(?c), "{k:010d}")' for k in sample)
    return {
        "mentions": _seeded(
            _seeded(O.SPARQL_TEXT_MENTIONS, "FILTER(?idx > 5)", f"FILTER(?idx > {int(rng.integers(3, 9))})"),
            'STRENDS(?entity, "7")', f'STRENDS(?entity, "{int(rng.integers(0, 10))}")',
        ),
        "entity_stats": _seeded(
            O.SPARQL_TEXT_ENTITY_STATS, "HAVING(?n_mentions >= 8)",
            f"HAVING(?n_mentions >= {int(rng.integers(4, 12))})",
        ),
        "path_edges": O.SPARQL_TEXT_PATH_EDGES,
        "optional_tools": _seeded(
            O.SPARQL_TEXT_OPTIONAL_TOOLS, "FILTER(?idx > 8)", f"FILTER(?idx > {int(rng.integers(6, 13))})"
        ),
        "union_stats": _seeded(
            O.SPARQL_TEXT_UNION_STATS, "HAVING(?n_edges >= 6)", f"HAVING(?n_edges >= {int(rng.integers(3, 9))})"
        ),
        "list_walk": LIST_WALK,
        "describe": DESCRIBE.format(cond=cond),
    }


class KgQuery:
    name = "kg_query"
    # the fewest warm passes a run makes; one, because a pass costs
    # about 15 s and the run budget holds no second
    WARM_PASSES = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.sf_dir = os.path.join(work, "input")
        self.table = os.path.join(work, "table")
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # --- set-up -------------------------------------------------------------

    @property
    def items(self) -> int:
        """Queries one pass runs."""
        return len(QUERIES)

    def setup(self) -> None:
        import duckdb

        from pyspark.sql import functions as F

        from jsonld_ex_spark.operators.kg_pipeline import TRIPLE_SCHEMA
        from jsonld_ex_spark.operators.sparql_text import sparql_oracle_sql
        from jsonld_ex_spark.operators.triples import write_triples
        from jsonld_ex_spark.plans.oracles import kg_triples_oracle
        from jsonld_ex_spark.sources.transcripts import transcripts_oracle_cte

        n_turns = gen.write_lineitem(self.sf_dir, self.seed, N_CONVS, MAX_TURNS)
        turns_per_conv = Counter(
            gen.lineitem_table(self.seed, N_CONVS, MAX_TURNS).column("l_orderkey").to_pylist()
        )
        self.queries = query_mix(self.seed, turns_per_conv)
        self.info.update(turns=n_turns, conversations=N_CONVS)

        con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "tmp")})
        try:
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{self.sf_dir}/lineitem.parquet'")
            rows = os.path.join(self.work, "oracle_triples.parquet")
            con.execute(f"COPY ({kg_triples_oracle(transcripts_oracle_cte('lineitem'))}) TO '{rows}' "
                        "(FORMAT PARQUET)")
            triples = self.spark.read.parquet(rows).select(
                *[F.col(f.name).cast(f.dataType) for f in TRIPLE_SCHEMA.fields]
            )
            write_triples(triples, self.table, n_buckets=N_BUCKETS, mode="overwrite")
            table_sql = table_sql_of(self.table)
            self.expected = {
                q: check.duckdb_fingerprint(con, sparql_oracle_sql(table_sql, text))
                for q, text in self.queries.items()
            }
        finally:
            con.close()
        self.info["expected_rows"] = {q: e[1][0] for q, e in self.expected.items()}

    # --- measurement --------------------------------------------------------

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    def run_pass(self, traced: str | None = None) -> list[float]:
        """One pass of the mix; returns per-query latencies (seconds).
        A traced pass (``traced`` names it) splits each query into parse,
        compile and a ``noop``-sink execution, each a span and a job
        label ``<traced>.<query>.<step>``."""
        from jsonld_ex_spark.operators import bgp
        from jsonld_ex_spark.operators.sparql_text import parse_sparql, sparql_query

        tr = self.tracer
        tr.new_trace()
        triples = self.spark.read.parquet(self.table)
        lat = []
        if traced and "bgp.predicate_stats_s" not in self.layer:
            with tr.span(f"{traced}.predicate_stats") as sp:
                bgp.predicate_stats(triples)
            self.layer["bgp.predicate_stats_s"] = sp["s"]
        for q, text in self.queries.items():
            self.attempted += 1
            try:
                if traced:
                    with tr.span(f"{traced}.{q}") as whole:
                        with tr.span(f"{traced}.{q}.parse"):
                            parse_sparql(text)
                        with tr.span(f"{traced}.{q}.compile"):
                            df = sparql_query(triples, text)
                        with tr.span(f"{traced}.{q}.exec"):
                            df.write.format("noop").mode("overwrite").save()
                    lat.append(whole["s"])
                    continue
                t = time.perf_counter()
                df = sparql_query(triples, text)
                got = check.spark_fingerprint(df)
                lat.append(time.perf_counter() - t)
                cols, want = self.expected[q]
                if sorted(df.columns) != cols or got != want:
                    self._fail(f"{q}: columns {sorted(df.columns)} fingerprint {got}, expected {cols} {want}")
            except Exception as e:  # noqa: BLE001 — a failed query is counted, the loop goes on
                self._fail(f"{q}: {type(e).__name__}: {e}")
                lat.append(math.inf)
        return lat

    def trace_layers(self) -> None:
        """Every layer of this workload is traced inside its passes."""

    def per_layer(self, summarize) -> dict[str, float]:
        """Layer metrics from the spans and the event log; ``summarize``
        totals the stages of the given job labels."""
        out = dict(self.layer)
        spans = {s["name"]: s["s"] for s in self.tracer.spans}
        for q in QUERIES:
            out[f"sparql_text.parse_ms.{q}"] = spans[f"warm.{q}.parse"] * 1e3
            out[f"bgp.compile_ms.{q}"] = spans[f"cold.{q}.compile"] * 1e3
            out[f"bgp.exec_s.{q}"] = spans[f"warm.{q}.exec"]
            s = summarize([f"warm.{q}.compile", f"warm.{q}.exec"])
            out[f"spark.{q}.jobs"] = s["jobs"]
            out[f"spark.{q}.stages"] = s["stages"]
            out[f"spark.{q}.tasks"] = s["tasks"]
            out[f"spark.{q}.shuffle_bytes"] = s["shuffle_write_bytes"]
            out[f"spark.{q}.input_bytes"] = s["input_bytes"]
            out[f"spark.{q}.task_s"] = s["task_s"]
        out["property_paths.jobs.list_walk"] = out["spark.list_walk.jobs"]
        return out

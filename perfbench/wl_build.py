"""``kg_build``: the production write path, timed pass by pass.

Set-up generates a lineitem-shaped input (conversations of 1-7 turns;
the transcript SQL keeps its hot-entity skew) and computes the expected
triple table with DuckDB ``kg_triples_oracle`` (row count + canonical
hash, the ``scripts/gate_check.py`` rule).  A pass runs
``transcripts_df`` → ``lineage.run_with_lineage(conversation_triples)``
into a fresh output and ledger directory — what ``jobs/build_triples.py``
runs — and the written table is checked against the oracle after the
clock stops.  The first pass starts the session's Python workers: it is
the cold pass.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import check
import gen

N_CONVS = 6144
MAX_TURNS = 7
N_BUCKETS = 16
# conversations the no-Spark kernel microbench times (an even stride
# over all of them): enough for a steady per-conversation figure
MICROBENCH_CONVS = 1024

TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_iri", "obj_dt", "obj_lang", "graph", "conv_id", "turn_idx"]

PHASES = ("kg_pipeline.json_decode_us", "kg_pipeline.build_doc_us", "core.expand_us",
          "core.node_map_us", "core.to_rdf_us", "kg_pipeline.row_emit_us")


def table_sql(table_dir: str) -> str:
    """A written triple table (one partition level) as DuckDB SQL."""
    return (
        f"SELECT {', '.join(TRIPLE_COLS)} FROM read_parquet('{table_dir}/*/*.parquet', "
        "hive_partitioning = false)"
    )


def conversations_json(con, sf_dir: str) -> list[tuple[str, str]]:
    """(conv_id, turns JSON) per conversation, shaped like the
    ``to_json`` column the pipeline hands its kernel (null fields
    dropped), from the same transcript SQL run by DuckDB."""
    from jsonld_ex_spark.sources.transcripts import transcripts_oracle_cte

    rows = con.execute(
        f"""SELECT conv_id, turn_idx, role, text, tool,
                   strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_str,
                   regexp_extract_all(text, 'ENT_[0-9]{{4}}') AS mentions
            FROM ({transcripts_oracle_cte('lineitem')}) AS t
            ORDER BY conv_id, turn_idx"""
    ).fetchall()
    convs: dict[str, list] = {}
    for conv_id, idx, role, text, tool, ts_str, mentions in rows:
        turn = {"turn_idx": idx, "role": role, "text": text}
        if tool is not None:
            turn["tool"] = tool
        turn.update(ts_str=ts_str, mentions=mentions)
        convs.setdefault(conv_id, []).append(turn)
    return [(c, json.dumps(t, ensure_ascii=False)) for c, t in convs.items()]


def kernel_microbench(convs: list[tuple[str, str]], warmup: int = 20) -> dict[str, float]:
    """No-Spark timing of the per-document kernel's public steps over
    the same conversations, in µs per conversation.  Each conversation
    goes through the steps in order, as in the pipeline's kernel;
    ``row_emit`` is ``doc_to_triple_rows`` minus its expand, node-map
    and toRdf steps, timed on the same document."""
    from jsonld_ex_spark.core.context import Context, Options, process_context
    from jsonld_ex_spark.core.expansion import expand as expand_algo
    from jsonld_ex_spark.core.flattening import BlankNodeGenerator, node_map
    from jsonld_ex_spark.core.to_rdf import to_rdf_from_node_map
    from jsonld_ex_spark.operators.kg_pipeline import (
        CONV_CONTEXT,
        build_conversation_doc,
        doc_to_triple_rows,
    )

    active = process_context(Context(), CONV_CONTEXT, Options())
    options = Options()
    acc = dict.fromkeys(PHASES, 0.0)
    clock = time.perf_counter
    for i, (conv_id, turns_json) in enumerate(convs[:warmup] + convs):
        t0 = clock()
        turns = [{"turn_idx": int(x["turn_idx"]), "role": x.get("role"), "text": x.get("text", ""),
                  "tool": x.get("tool"), "ts": x.get("ts_str"), "mentions": x.get("mentions") or []}
                 for x in json.loads(turns_json)]
        t1 = clock()
        doc = build_conversation_doc(conv_id, turns)
        t2 = clock()
        expanded = expand_algo(active, None, doc, options)
        t3 = clock()
        gen_ = BlankNodeGenerator(skolem_prefix=f"{conv_id}.")
        nm = node_map(expanded, gen_)
        t4 = clock()
        to_rdf_from_node_map(nm, options, gen_)
        t5 = clock()
        doc_to_triple_rows(conv_id, doc, active, options)
        t6 = clock()
        if i < warmup:
            continue
        for name, dt in zip(PHASES, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4,
                                     max((t6 - t5) - (t5 - t2), 0.0))):
            acc[name] += dt
    return {k: v * 1e6 / len(convs) for k, v in acc.items()}


class KgBuild:
    name = "kg_build"
    # the fewest warm passes a run makes; the throughput takes the
    # fastest, and one build alone varies by a fifth from run to run
    WARM_PASSES = 2

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.sf_dir = os.path.join(work, "input")
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._passes = 0

    @property
    def items(self) -> int:
        """Turns one pass processes."""
        return self.info["turns"]

    def setup(self) -> None:
        import duckdb

        from jsonld_ex_spark.plans.oracles import kg_triples_oracle
        from jsonld_ex_spark.sources.transcripts import transcripts_oracle_cte

        turns = gen.write_lineitem(self.sf_dir, self.seed, N_CONVS, MAX_TURNS)
        self.info.update(turns=turns, conversations=N_CONVS, buckets=N_BUCKETS)
        con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "tmp")})
        try:
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{self.sf_dir}/lineitem.parquet'")
            self.expected = tuple(con.execute(
                check.canon_sql(kg_triples_oracle(transcripts_oracle_cte("lineitem")), TRIPLE_COLS)
            ).fetchone())
            if self.tracer.enabled:
                convs = conversations_json(con, self.sf_dir)
                sample = convs[::max(1, len(convs) // MICROBENCH_CONVS)]
                self.layer.update(kernel_microbench(sample))
                self.info["microbench_conversations"] = len(sample)
        finally:
            con.close()
        self.info["triples"] = int(self.expected[0])

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    def _production(self, out_path: str, ledger_path: str) -> dict:
        from jsonld_ex_spark.operators.kg_pipeline import conversation_triples
        from jsonld_ex_spark.sources.transcripts import transcripts_df
        from jsonld_ex_spark.streaming import lineage

        return lineage.run_with_lineage(
            transcripts_df(self.spark, self.sf_dir), self.spark, conversation_triples,
            out_path=out_path, ledger_path=ledger_path, run_id=f"seed-{self.seed}",
            n_buckets=N_BUCKETS,
        )

    def run_pass(self, traced: str | None = None) -> list[float]:
        """One production build into fresh directories; returns its wall
        time.  The written table is then checked against the oracle and
        deleted.  A traced pass runs under the span and job label
        ``<traced>.build``."""
        import duckdb

        self._passes += 1
        root = os.path.join(self.work, f"pass{self._passes}")
        out, ledger = os.path.join(root, "out"), os.path.join(root, "ledger")
        self.tracer.new_trace()
        self.attempted += 1
        try:
            with self.tracer.span(f"{traced or 'untraced'}.build") as sp:
                got_metrics = self._production(out, ledger)
            con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "tmp")})
            try:
                got = tuple(con.execute(check.canon_sql(table_sql(out), TRIPLE_COLS)).fetchone())
            finally:
                con.close()
            if got != self.expected or int(got_metrics["n_triples"]) != self.info["triples"]:
                self._fail(f"pass {self._passes}: table {got}, ledger {got_metrics}, oracle {self.expected}")
            self.info["build_metrics"] = {k: int(v) for k, v in got_metrics.items()}
            return [sp["s"]]
        except Exception as e:  # noqa: BLE001 — a failed pass is counted, the loop goes on
            self._fail(f"pass {self._passes}: {type(e).__name__}: {e}")
            return [float("inf")]
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def trace_layers(self) -> None:
        """The build's plan run again by prefixes to the ``noop`` sink,
        then the bucketed write and the full production call; each step
        is a span and a job label.  A layer's self time is its prefix
        time minus the previous prefix's."""
        from pyspark.sql import functions as F

        from jsonld_ex_spark.operators.kg_pipeline import (
            QUARANTINE_PRED,
            assemble_conversations,
            conversation_triples,
        )
        from jsonld_ex_spark.sources.transcripts import transcripts_df
        from jsonld_ex_spark.streaming import lineage

        spark, tr = self.spark, self.tracer
        root = os.path.join(self.work, "prefixes")

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def triples():
            return conversation_triples(transcripts_df(spark, self.sf_dir))

        def write() -> None:
            lineage.write_bucketed(
                triples().withColumn("_bucket", lineage.bucket_of("conv_id", N_BUCKETS)),
                os.path.join(root, "write"), spark,
            )

        table = os.path.join(root, "table")
        steps = [
            ("build.p1.transcripts", lambda: noop(transcripts_df(spark, self.sf_dir))),
            ("build.p2.assemble", lambda: noop(assemble_conversations(transcripts_df(spark, self.sf_dir)))),
            ("build.p3.triples", lambda: noop(triples())),
            ("build.p4.write", write),
            ("build.p5.run_with_lineage", lambda: self._production(table, os.path.join(root, "ledger"))),
        ]
        tr.new_trace()
        p = []
        for name, fn in steps:
            with tr.span(name) as sp:
                fn()
            p.append(sp["s"])
        self.layer.update({
            "sources.transcripts_s": p[0],
            "kg_pipeline.assemble_s": p[1] - p[0],
            "kg_pipeline.kernel_s": p[2] - p[1],
            "lineage.write_s": p[3] - p[2],
            "lineage.ledger_s": p[4] - p[3],
        })
        files = [os.path.join(r, f) for r, _, fs in os.walk(table) for f in fs if f.endswith(".parquet")]
        self.layer["triples.files_written"] = len(files)
        self.layer["triples.bytes_written"] = sum(os.path.getsize(f) for f in files)
        quarantined = spark.read.parquet(table).where(F.col("pred") == QUARANTINE_PRED).count()
        self.layer["kg_pipeline.quarantine_ratio"] = quarantined / N_CONVS
        self.layer["kg_pipeline.triples_per_turn"] = self.info["triples"] / self.info["turns"]
        shutil.rmtree(root, ignore_errors=True)

    def per_layer(self, summarize) -> dict[str, float]:
        """Layer metrics from the spans and the event log; ``summarize``
        totals the stages of the given job labels."""
        out = dict(self.layer)
        kernel = summarize(["build.p3.triples"], scope="MapInPandas")
        out["kg_pipeline.kernel_stage_task_s"] = kernel["task_s"]
        out["kg_pipeline.shuffle_bytes"] = summarize(["build.p3.triples"])["shuffle_write_bytes"]
        build = summarize(["warm.build"])
        for k in ("tasks", "stages", "spill_bytes", "gc_s"):
            out[f"spark.build.{k}"] = build[k]
        phase_sum_s = sum(self.layer[p] for p in PHASES) * N_CONVS / 1e6
        out["kg_pipeline.kernel_phase_sum_s"] = phase_sum_s
        if kernel["task_s"] > 0:
            out["kg_pipeline.kernel_coverage"] = phase_sum_s / kernel["task_s"]
        return out

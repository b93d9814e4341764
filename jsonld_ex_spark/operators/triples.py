"""Triple-table sink: salted repartitioning, dedup, partitioned writes.

north_rule requirements covered here:
* salted repartitioning on subject hash — hot entities (Zipf mentions)
  concentrate a few subjects; a plain repartition("subj") puts all of a
  hot subject's triples in one task.  We salt with
  ``xxhash64(subj, salt_id)`` where salt_id = pmod(xxhash64(pred, obj),
  n_salts) so the hot subject's rows spread over n_salts tasks while
  staying deterministic (no rand(): retries produce identical layout).
* subject-hash bucket column for the sink layout — downstream
  subject-grouped reads prune by bucket (Iceberg/parquet partition
  column); AQE remains the runtime backstop for residual skew.
* exact dedup on the triple key (dropDuplicates — Catalyst partial/final
  hash aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_KEY = ["subj", "pred", "obj", "obj_dt", "obj_lang", "graph"]


def salted_repartition(triples: DataFrame, n_salts: int = 16, partitions: int | None = None) -> DataFrame:
    """Deterministically spread hot subjects across ``n_salts`` shuffle keys."""
    salt = F.pmod(F.xxhash64("pred", "obj"), F.lit(n_salts))
    key = F.xxhash64(F.col("subj"), salt)
    if partitions:
        return triples.repartition(partitions, key)
    return triples.repartition(key)


def with_subject_bucket(triples: DataFrame, n_buckets: int = 256) -> DataFrame:
    """Stable subject-hash bucket column for partitioned sink layout."""
    return triples.withColumn("subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(n_buckets)))


def bucket_clustered(
    triples: DataFrame, n_buckets: int = 64, n_salts: int = 16,
    partitions: int | None = None,
) -> DataFrame:
    """Sink-shape repartition: shuffle on (subj_bucket, salt) so each
    write task holds rows of FEW bucket partitions.  The unclustered
    salted shuffle gives every task rows of ~all n_buckets directories
    — tasks × buckets output files (8,192 files / 18.5s for 5.5M
    triples at sf0.1); clustering by the partition column cuts that to
    ~n_buckets × n_salts files (961 / 4.7s measured — 4x faster, 8.5x
    fewer files, and at 100 TB the file-count explosion is the real
    operational cost).  Hot-subject skew stays defused: a hot SUBJECT
    still spreads over n_salts shuffle keys via the (pred, obj) salt,
    deterministic across retries (no rand())."""
    salt = F.pmod(F.xxhash64("pred", "obj"), F.lit(n_salts))
    w = with_subject_bucket(triples, n_buckets)
    if partitions:
        return w.repartition(partitions, F.col("subj_bucket"), salt)
    return w.repartition(F.col("subj_bucket"), salt)


def dedup_triples(triples: DataFrame) -> DataFrame:
    return triples.dropDuplicates(TRIPLE_KEY)


def iceberg_available(spark) -> bool:
    """True iff the Iceberg Spark runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001 — ClassNotFound via py4j
        return False


def write_triples_iceberg(triples: DataFrame, table: str, mode: str = "append") -> None:
    """Iceberg sink (SURVEY.md §2.2): writeTo(table).append() against a
    configured catalog, partitioned by the same subj_bucket layout as
    the parquet sink, so partition evolution / snapshot isolation come
    from the table format instead of directory layout.  Requires the
    iceberg-spark-runtime jar + a catalog in the session conf, e.g.::

        spark.sql.catalog.local = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.local.type = hadoop
        spark.sql.catalog.local.warehouse = /path/wh

    SANDBOX BLOCKER (rounds 2-3): this path has never executed here —
    the image ships no Iceberg jar, has no network (maven.org DNS fails)
    and no ~/.ivy2 / ~/.m2 cache, so there is no way to obtain
    ``org.apache.iceberg:iceberg-spark-runtime-4.0_2.13`` (the
    coordinate matching pyspark 4.1's Spark 4.x / Scala 2.13).  The
    end-to-end test (tests/test_lineage_resume.py::
    test_iceberg_sink_roundtrip) is skip-gated on iceberg_available()
    and will drive create/append/read-back the moment a jar is present
    via ``spark.jars``/``spark.jars.packages``.

    ROUND-4 RE-SCOPE (explicit, SURVEY §2.2): since the jar is
    unobtainable here, the Iceberg TABLE SEMANTICS (atomic commits,
    snapshot isolation, time travel, append/overwrite) are delivered
    and GATED by sources/snapshot_table.py (manifest + O_EXCL version
    claim + atomic CURRENT pointer — Iceberg's own commit model), via
    the kg_triple_stats_snapshot driver query.
    """
    w = bucket_clustered(triples)
    writer = w.writeTo(table)
    if mode == "create":
        writer.partitionedBy(F.col("subj_bucket")).createOrReplace()
    elif mode == "overwrite_partitions":
        writer.overwritePartitions()
    else:
        writer.append()


def write_triples(
    triples: DataFrame, path: str, n_buckets: int = 64, mode: str = "append"
) -> None:
    """Triple-table sink.  ``path`` with slashes → partitioned parquet;
    a catalog table name → Iceberg writeTo (when the runtime has the
    jar — see write_triples_iceberg; the sandbox image has no Iceberg
    jar, so parquet is the tested path and keeps the same layout)."""
    if "/" not in path:
        spark = triples.sparkSession
        if not iceberg_available(spark):
            raise RuntimeError(
                f"{path!r} looks like a catalog table but the Iceberg runtime "
                "jar is not on the classpath; pass a filesystem path for the "
                "parquet sink or add iceberg-spark-runtime to spark.jars"
            )
        write_triples_iceberg(triples, path, mode="append" if mode == "append" else mode)
        return
    (
        bucket_clustered(triples, n_buckets)
        .write.mode(mode)
        .partitionBy("subj_bucket")
        .parquet(path)
    )


def write_triples_bucketed(
    triples: DataFrame, table: str, path: str, n_buckets: int = 64
) -> None:
    """Bucketed + sorted table sink: ``bucketBy(n_buckets, subj)`` with
    per-bucket sort.  This is the CO-LOCATION contract for downstream
    subject-keyed work: two tables bucketed the same way join/aggregate
    on subj with NO shuffle on either side (Spark reads bucket i of both
    sides into the same task).  At 100 TB this converts every
    subject-keyed join from a full shuffle into a local merge — the
    single biggest repeated-join saving the layout can buy.  (Parquet
    external table at ``path``; on Iceberg the equivalent is a bucket
    partition transform.)"""
    (
        triples.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, "subj")
        .sortBy("subj")
        .saveAsTable(table)
    )


def nquads_lines(triples):
    """Render the triple table as N-Quads lines - entirely JVM-side
    (string escaping via chained regexp_replace; no Python in the plan).

    Serialization parity with the reference's N-Quads output surface
    (its test harness round-trips through RDF.NQuads)."""
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    langstring = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

    def node(col):
        return F.when(F.col(col).startswith("_:"), F.col(col)).otherwise(
            F.concat(F.lit("<"), F.col(col), F.lit(">"))
        )

    escaped = F.regexp_replace(F.col("obj"), "\\\\", "\\\\\\\\")
    escaped = F.regexp_replace(escaped, "\"", "\\\\\"")
    escaped = F.regexp_replace(escaped, "\n", "\\\\n")
    escaped = F.regexp_replace(escaped, "\r", "\\\\r")
    escaped = F.regexp_replace(escaped, "\t", "\\\\t")
    # remaining control chars + NEL/LS/PS → \uXXXX, exactly like
    # core/nquads._escape (the repo's own parse_nquads splits on
    # str.splitlines(), which treats \x0b/\x0c/\x1c-\x1e/\x85/ /
    #   as line breaks — raw occurrences would mis-split the file)
    for _cp in [c for c in range(0x00, 0x20) if chr(c) not in "\n\r\t"] + [0x85, 0x2028, 0x2029]:
        escaped = F.regexp_replace(escaped, f"\\x{{{_cp:X}}}", f"\\\\u{_cp:04X}")
    literal = F.concat(
        F.lit("\""), escaped, F.lit("\""),
        F.when(F.col("obj_lang").isNotNull(), F.concat(F.lit("@"), F.col("obj_lang")))
        .when(
            F.col("obj_dt").isNotNull()
            & (F.col("obj_dt") != xsd_string)
            & (F.col("obj_dt") != langstring),
            F.concat(F.lit("^^<"), F.col("obj_dt"), F.lit(">")),
        )
        .otherwise(F.lit("")),
    )
    obj_term = F.when(F.col("obj_is_iri"), node("obj")).otherwise(literal)
    graph_part = F.when(
        F.col("graph").isNotNull(), F.concat(F.lit(" "), node("graph"))
    ).otherwise(F.lit(""))

    return triples.select(
        F.concat(
            node("subj"), F.lit(" "),
            F.lit("<"), F.col("pred"), F.lit("> "),
            obj_term, graph_part, F.lit(" ."),
        ).alias("line")
    )


def write_nquads(triples, path):
    """N-Quads text sink for the triple table."""
    nquads_lines(triples).write.mode("overwrite").text(path)


NQUADS_READ_SCHEMA = (
    "subj string, pred string, obj string, obj_is_iri boolean, "
    "obj_dt string, obj_lang string, graph string"
)


# one-token-per-group N-Quads line shape (escape-free fast path):
# subj_tok, pred_iri, obj_tok, optional graph_tok
_NQ_LINE_RE = (
    r'^\s*(<[^>]*>|_:\S+)\s+<([^>]*)>\s+'
    r'(<[^>]*>|_:\S+|"[^"]*"(?:\^\^<[^>]*>|@[A-Za-z0-9-]+)?)'
    r'(?:\s+(<[^>]*>|_:\S+))?\s*\.\s*$'
)
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


def read_nquads(spark, path, jvm_fast_path: bool = True) -> DataFrame:
    """N-Quads text SOURCE → triple table (the inverse of write_nquads —
    reference parity: the rdf-elixir ecosystem reads N-Quads through
    RDF.NQuads; this is the distributed form).

    ``spark.read.text`` is line-splittable, so parsing parallelizes by
    file split with NO shuffle.  Two tiers:

    * FAST PATH (JVM codegen): lines with no backslash that match the
      one-token-per-term grammar are parsed entirely with regexp
      expressions — escape-free literals cannot contain a quote, so
      ``"[^"]*"`` is exact.  This is the overwhelming majority of real
      triple data (the 100-TB ingest path; ~26s → JVM for the 5.5M-line
      round-trip bench).
    * FALLBACK (Arrow-batched Python): any line containing a backslash
      OR not matching the fast grammar goes through the same
      grammar-complete parser the W3C-suite oracles use (core/nquads.py
      — full \\uXXXX/\\UXXXXXXXX unescaping, comments, blank/malformed
      lines).  Routing non-matching lines to the fallback (instead of
      dropping) makes the fast path a pure optimization: byte-identical
      output to jvm_fast_path=False (tested).
    """
    import pandas as pd

    lines = spark.read.text(path)
    cols = ["subj", "pred", "obj", "obj_is_iri", "obj_dt", "obj_lang", "graph"]

    def parse(batches):
        from jsonld_ex_spark.core.nquads import parse_nquads
        from jsonld_ex_spark.core.rdf import quad_row

        for pdf in batches:
            rows = [quad_row(q) for line in pdf["value"] for q in parse_nquads(line)]
            yield pd.DataFrame(rows, columns=cols)

    if not jvm_fast_path:
        return lines.mapInPandas(parse, schema=NQUADS_READ_SCHEMA)

    is_fast = (~F.col("value").contains("\\")) & F.col("value").rlike(_NQ_LINE_RE)
    slow = lines.where(~is_fast).mapInPandas(parse, schema=NQUADS_READ_SCHEMA)

    def tok(i):
        return F.regexp_extract("value", _NQ_LINE_RE, i)

    subj_tok, pred, obj_tok, graph_tok = tok(1), tok(2), tok(3), tok(4)
    # '<iri>' → iri (strip the angle brackets); '_:label' stays verbatim
    unwrap = lambda c: c.substr(F.lit(2), F.length(c) - 2)  # noqa: E731
    obj_is_node = obj_tok.startswith("<") | obj_tok.startswith("_:")
    lex = F.regexp_extract(obj_tok, r'^"([^"]*)"', 1)
    dt = F.regexp_extract(obj_tok, r"\^\^<([^>]*)>$", 1)
    lang = F.regexp_extract(obj_tok, r'@([A-Za-z0-9-]+)$', 1)
    fast = lines.where(is_fast).select(
        F.when(subj_tok.startswith("<"), unwrap(subj_tok)).otherwise(subj_tok).alias("subj"),
        pred.alias("pred"),
        F.when(obj_tok.startswith("<"), unwrap(obj_tok))
        .when(obj_tok.startswith("_:"), obj_tok)
        .otherwise(lex)
        .alias("obj"),
        obj_is_node.alias("obj_is_iri"),
        F.when(obj_is_node, F.lit(None).cast("string"))
        .when(lang != "", F.lit(_RDF_LANGSTRING))
        .when(dt != "", dt)
        .otherwise(F.lit(_XSD_STRING))
        .alias("obj_dt"),
        F.when(~obj_is_node & (lang != ""), lang).otherwise(F.lit(None).cast("string")).alias("obj_lang"),
        F.when(graph_tok == "", F.lit(None).cast("string"))
        .when(graph_tok.startswith("<"), unwrap(graph_tok))
        .otherwise(graph_tok)
        .alias("graph"),
    )
    return fast.unionByName(slow)

"""Deduplication operators for training-data pipelines (documents table).

* exact          — md5 fingerprint groupBy (hash-partitioned, scales linearly)
* ngram jaccard  — word-trigram shingles (document-frequency-capped to
                   kill hot-shingle skew), candidate pairs via shingle
                   co-occurrence join, exact set-overlap Jaccard
* minhash LSH    — md5-based minhash signatures (engine-portable), banded
                   bucketing, candidate pairs via bucket join
* simhash        — 64-bit TF-weighted simhash, numpy-vectorized Arrow
                   kernel; md5-bit-exact DuckDB oracle
* embedding near-dup — banded sign-LSH candidates + quantized-integer
                   dot scoring (bit-exact across engines); fully
                   distributed, no driver-side table materialization

Scale notes (100 TB): every operator here is a shuffle-on-key pipeline —
shingle/bucket joins are the standard LSH scale path (band count bounds
candidate pairs); nothing collects to the driver; exact dedup is a
single hash aggregate.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jsonld_ex_spark.functions.vector_buckets import sign_buckets

N_MINHASH_SEEDS = 12
N_BANDS = 4  # 3 rows per band
JACCARD_THRESHOLD = 0.5
COSINE_Q = 1000  # embedding quantization factor
SHINGLE_DF_CAP = 100  # drop shingles present in > CAP docs (boilerplate)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# shared input-spreading helper (functions/partitioning.py — also used
# by ann_ops and the jsonld_ops document kernels)
from jsonld_ex_spark.functions.partitioning import capped_shuffle_width, spread_input as _spread  # noqa: E402


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: fingerprint → group size + canonical (min) doc_id."""
    d = _docs(spark, sf_dir)
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    d = d.select("doc_id", fp.alias("fingerprint"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("fingerprint")
    return d.select(
        "doc_id",
        "fingerprint",
        F.count(F.lit(1)).over(w).alias("group_size"),
        F.min("doc_id").over(w).alias("canonical_doc_id"),
    )


def _shingles(spark: SparkSession, sf_dir: str, df_cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Distinct word-trigram shingles per document (JVM higher-order fns),
    with a document-frequency cap: shingles present in > df_cap documents
    (boilerplate headers/footers) are dropped BEFORE any self-join.

    Scale rationale: the candidate self-join is keyed on shingle, so one
    hot shingle makes a quadratic bucket.  The anti-join against the
    hot list is left UNHINTED: at test scale Catalyst broadcasts it
    (few rows), while at web scale the absolute count of >cap shingles
    can reach GBs and AQE picks a shuffle anti-join on the same shingle
    key the DF aggregation already uses — forcing broadcast here would
    be the wrong call at exactly the scale the cap exists for.
    """
    d = _spread(_docs(spark, sf_dir), "doc_id")
    words = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    d = d.select("doc_id", words.alias("words"))
    shingles = F.expr(
        "CASE WHEN size(words) >= 3 THEN transform(sequence(1, size(words) - 2),"
        " i -> concat_ws(' ', words[i-1], words[i], words[i+1]))"
        " ELSE array() END"
    )
    base = (
        d.select("doc_id", F.explode(shingles).alias("shingle"))
        .dropDuplicates(["doc_id", "shingle"])
    )
    hot = (
        base.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
    )
    return base.join(hot, "shingle", "left_anti")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with word-trigram Jaccard ≥ 0.5.

    Candidate pairs come from a co-occurring-shingle self-join (only
    pairs sharing ≥1 shingle are scored — at scale the shingle key is
    the shuffle key and hot shingles are the skew risk; a frequency cap
    would be added for web-scale corpora).
    """
    sh = _shingles(spark, sf_dir).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("sb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .where(F.col("n_common") * (1 / JACCARD_THRESHOLD) >= F.col("sa") + F.col("sb") - F.col("n_common"))
        .select(
            "doc_a", "doc_b", "n_common",
            (F.col("sa") + F.col("sb") - F.col("n_common")).alias("n_union"),
        )
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs.

    Signature: for seed s, minhash_s(doc) = min(md5(s || shingle)) —
    md5 is identical across engines, so the DuckDB oracle reproduces
    signatures bit-exactly.  Banding: N_BANDS bands × 3 rows; a pair is
    a candidate iff some band agrees on all rows (bucket join on the
    band fingerprint — the classic distributed LSH shape).
    """
    sh = _shingles(spark, sf_dir)
    rows_per_band = N_MINHASH_SEEDS // N_BANDS
    # all signatures in ONE aggregation pass (12 codegen min() columns —
    # no seed crossJoin, no 12x row explosion)
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"mh{s}")
            for s in range(N_MINHASH_SEEDS)
        ]
    )
    band_structs = []
    for band in range(N_BANDS):
        seeds = sorted(range(band * rows_per_band, (band + 1) * rows_per_band), key=str)
        bucket = F.md5(
            F.concat_ws("|", *[F.concat(F.lit(f"{s}:"), F.col(f"mh{s}")) for s in seeds])
        )
        band_structs.append(F.struct(F.lit(band).alias("band"), bucket.alias("bucket")))
    # materialize the bucket table ONCE before the self-join: the two
    # join sides are not recognized as a shared exchange (one side gets
    # broadcast), so without this the whole shingle→minhash pipeline —
    # tokenize, explode, dedup, DF-cap anti-join, 12 md5-min aggregates —
    # executes TWICE (plan showed 8 parquet scans; guide §3.3/§5:
    # localCheckpoint truncates the duplicated subtree)
    buckets = (
        mh.select("doc_id", F.explode(F.array(*band_structs)).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .localCheckpoint(eager=True)
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


_SIMHASH_BITS = 64


def _simhash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib
    import re

    import numpy as np

    token_re = re.compile(r"[a-z0-9]+")
    for pdf in batches:
        out_ids, out_sigs = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            words = token_re.findall((text or "").lower())
            if not words:
                out_ids.append(doc_id)
                out_sigs.append(-(1 << 63))
                continue
            uniq, tf = np.unique(np.asarray(words, dtype=object), return_counts=True)
            # first 8 md5 bytes per unique word, little-endian bit order:
            # bit j of the uint64 == np.unpackbits(bitorder='little') col j
            digests = np.frombuffer(
                b"".join(hashlib.md5(w.encode()).digest()[:8] for w in uniq),
                dtype=np.uint8,
            ).reshape(-1, 8)
            bits = np.unpackbits(digests, axis=1, bitorder="little").astype(np.int64)
            counts = ((2 * bits - 1) * tf[:, None]).sum(axis=0)
            sig = sum(1 << int(j) for j in np.nonzero(counts > 0)[0])
            out_ids.append(doc_id)
            out_sigs.append(int(sig - (1 << 63)))  # shift into signed int64
        yield pd.DataFrame({"doc_id": out_ids, "simhash": out_sigs})


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit term-frequency-weighted SimHash per document.

    Kernel is an Arrow-batched mapInPandas stage with numpy bit
    unpacking (one unpackbits over the per-word digest matrix instead
    of a per-word × 64-bit Python loop).  Tokens are ``[a-z0-9]+`` of
    lower(text) and the per-word hash is the little-endian uint64 of
    ``md5(word)[:8]`` — both reproducible in SQL, so the DuckDB oracle
    extracts the same 64 bits from the md5 hex (see oracle_sql()).
    """
    d = _spread(_docs(spark, sf_dir).select("doc_id", "text"), "doc_id")
    return d.mapInPandas(_simhash_batch, schema="doc_id long, simhash long")


COS_PLANES = 16  # sign-LSH hyperplanes (first COS_PLANES vectors of the table)
COS_BANDS = 4  # 4 bands × 4 planes; P(miss | cos ≥ 0.9) ≈ (1 − 0.857⁴)⁴ ≈ 4.6%

_DOT_EXPR = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as long), (acc, v) -> acc + v)"


def _qvecs_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT _spread: cosine's per-vector work (quantize +
    # norm + 16 sign dots) is trivial; the heavy work — pair scoring —
    # runs after the candidate exchanges and is parallel regardless.
    # Measured A/B at sf0.1: spreading cost ~1.8 s (extra exchange +
    # wider checkpoint) with zero compute spread in return
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(round(cast(x as double) * {COSINE_Q}) as long))"
        ).alias("qv"),
    )
    return q.withColumn("qnorm", F.expr(_DOT_EXPR.format(a="qv", b="qv")))


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs by quantized dot product (cosine ≥ 0.9),
    candidates from banded sign-LSH — fully distributed, NO driver-side
    materialization of the table (the only broadcast is the 16 plane
    vectors).

    * Quantization: round(x*1000) per element → all scores integer-exact
      across engines (cosine ≥ 0.9  ⟺  100·dot² ≥ 81·|a|²·|b|², dot>0).
    * Candidates: COS_BANDS bands × (COS_PLANES/COS_BANDS) hyperplane
      sign bits each; a pair is a candidate iff some band's sign-bucket
      matches (bucket equi-join — the same distributed LSH shape as
      dedup_minhash_lsh, shuffle keyed on (band, bucket)).  Planes are
      the first COS_PLANES vectors of the table (deterministic), so the
      DuckDB oracle reproduces buckets and therefore pairs exactly.
    * Scoring: candidates join back to the quantized vectors; the
      64-element dot is a JVM higher-order expression (no Python).

    At 100 TB: the O(n²) score space never materializes — candidate
    volume is bounded by bucket sizes; skewed buckets fall to AQE.
    Expected recall at cosine 0.9 is ≈95% (per-plane agreement
    p = 1 − acos(0.9)/π ≈ 0.857; 1 − (1 − p⁴)⁴).
    """
    # materialize the quantized vectors ONCE: q feeds the bucket pipeline
    # and BOTH sides of the scoring join — without this the scan +
    # transform + norm subtree executes four times (plan showed 12
    # parquet scans across the bucket self-join and the qa/qb joins)
    q = _qvecs_with_norm(spark, sf_dir).localCheckpoint(eager=True)
    rows_per_band = COS_PLANES // COS_BANDS
    # planes broadcast as ONE collect_list(struct) row; all band buckets
    # computed per-vector in a single higher-order projection — zero
    # shuffle on the vector side (see vector_buckets.py).  The bucket
    # projection itself is NOT checkpointed: from the materialized q it
    # is a cheap per-row expression, and an eager checkpoint here costs
    # a sequential job barrier worth more than the duplicated projection
    buckets = sign_buckets(q.select("vec_id", "qv"), COS_PLANES, rows_per_band)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    qa = q.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qv_a"), F.col("qnorm").alias("qnorm_a"))
    qb = q.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qv_b"), F.col("qnorm").alias("qnorm_b"))
    scored = (
        cand.join(qa, "vec_a")
        .join(qb, "vec_b")
        .withColumn("qdot", F.expr(_DOT_EXPR.format(a="qv_a", b="qv_b")))
    )
    return scored.where(
        (F.col("qdot") > 0)
        & (F.lit(100) * F.col("qdot") * F.col("qdot") >= F.lit(81) * F.col("qnorm_a") * F.col("qnorm_b"))
    ).select("vec_a", "vec_b", "qdot", "qnorm_a", "qnorm_b")


def dedup_clusters(spark: SparkSession, sf_dir: str, max_iters: int = 20) -> DataFrame:
    """Near-duplicate CLUSTER assignment: connected components over the
    MinHash-LSH candidate-pair graph.  Every document gets
    cluster_id = min(doc_id) of its component (singletons cluster with
    themselves); is_canonical marks the representative to KEEP — the
    actual deliverable of a dedup pipeline (drop rows where
    NOT is_canonical).

    Execution is iterative min-label propagation WITH pointer-doubling
    shortcutting — the standard driver-coordinated superstep shape
    (GraphX/GraphFrames CC), hardened for long chains: each superstep a
    node takes min(own label, neighbors' labels, label-of-its-label).
    The extra label(label) hop is pointer jumping over the min-parent
    forest, so convergence is O(log diameter) supersteps instead of
    O(diameter) — a planted 1,000-node chain converges in ≤12 supersteps
    (tests/test_dedup_scale.py).  Each superstep is two shuffles keyed
    on doc_id; the convergence check is a count() action, not a data
    collect; raises RuntimeError if max_iters passes without a fixpoint
    (partially-propagated labels would silently corrupt is_canonical,
    which jobs/curate_corpus.py uses to DROP documents).  Deterministic
    at any parallelism — the fixpoint is the unique per-component min.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst")
    labels = _docs(spark, sf_dir).select("doc_id", F.col("doc_id").alias("cluster_id"))
    result, _ = _connected_components(labels, edges, max_iters=max_iters)
    return result


def _connected_components(
    labels: DataFrame, edges: DataFrame, max_iters: int = 20
) -> tuple[DataFrame, int]:
    """Min-label propagation + pointer-doubling over a symmetric edge
    list.  ``labels``: (doc_id, cluster_id=doc_id); ``edges``:
    (src, dst) with both directions present.  Returns (labels with
    is_canonical, supersteps used); raises on non-convergence.

    Lineage is truncated per superstep with localCheckpoint: the
    pointer-doubling self-join references the superstep plan TWICE, so
    without truncation the logical plan doubles every iteration and
    Catalyst itself OOMs long before the data does.  (For
    fault-tolerant production runs swap in reliable checkpointing via
    sparkContext.setCheckpointDir — same plan shape.)

    The supersteps run under ``capped_shuffle_width``
    (functions/partitioning.py), like every iterative loop."""
    with capped_shuffle_width(labels.sparkSession):
        return _cc_supersteps(labels, edges, max_iters)


def _cc_supersteps(
    labels: DataFrame, edges: DataFrame, max_iters: int
) -> tuple[DataFrame, int]:
    edges = edges.repartition("dst").cache()
    labels = labels.localCheckpoint(eager=True)
    changed = -1
    used = 0
    for it in range(max_iters):
        used = it + 1
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        cand = labels.join(
            neighbor_min, labels["doc_id"] == neighbor_min["dst"], "left"
        ).select(
            "doc_id",
            F.least(F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))).alias(
                "cluster_id"
            ),
        )
        # pointer doubling: follow the label chain one extra hop
        # (label(label) ≤ label since labels only decrease) — this is
        # what makes long chains converge in O(log diameter)
        parent = cand.select(
            F.col("doc_id").alias("p_doc"), F.col("cluster_id").alias("p_lbl")
        )
        new_labels = (
            cand.join(parent, cand["cluster_id"] == parent["p_doc"], "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce("p_lbl", F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") < F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected components did not converge in {max_iters} supersteps "
            f"({changed} labels still changing) — raise max_iters"
        )
    return (
        labels.select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        ),
        used,
    )


SUBSTR_K = 6          # token-gram width for the diagonal chaining
SUBSTR_MIN_SPAN = 10  # report pairs sharing a run of >= this many tokens
SUBSTR_DF_CAP = 50    # drop k-grams present in more docs (boilerplate)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring dedup (the "Deduplicating Training Data" form,
    distributed): find document pairs sharing a verbatim token run of
    >= SUBSTR_MIN_SPAN tokens.  MinHash/Jaccard treat documents as
    bags and miss long copied passages inside otherwise-different
    documents; suffix arrays find them but don't distribute.  The
    Spark shape: per-doc k-token-gram fingerprints WITH positions (one
    JVM transform+explode, no Python), a document-frequency cap that
    drops boilerplate grams BEFORE the self-join (same skew insurance
    as dedup_ngram_jaccard), an equi-join on fingerprint, then
    gaps-and-islands per (pair, diagonal): consecutive positions on
    the same diagonal pa-pb chain into maximal shared runs of length
    run+k-1.  Every stage is a hash shuffle on uniform keys — no
    all-pairs comparison anywhere."""
    k, cap = SUBSTR_K, SUBSTR_DF_CAP
    toks = _spread(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", F.split("text", "\\s+").alias("t")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                # documents shorter than k tokens contribute no grams:
                # sequence(1, 0) DESCENDS in Spark and slice(t, 0, k)
                # throws INVALID_PARAMETER_VALUE.START
                f"transform(if(size(t) >= {k}, sequence(1, size(t) - {k} + 1), array()), "
                f"i -> struct(i AS pos, md5(array_join(slice(t, i, {k}), ' ')) AS fp))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.fp").alias("fp"))
    hot = (
        grams.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > cap)
        .select("fp")
    )
    # materialize the capped gram table ONCE before the self-join (both
    # sides otherwise re-run tokenize+explode+DF-cap — guide §3.3)
    g = grams.join(hot, on="fp", how="left_anti").localCheckpoint(eager=True)
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(b, on="fp", how="inner")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pa"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = pairs.withColumn("island", F.col("pa") - F.row_number().over(w))
    spans = isl.groupBy("doc_a", "doc_b", "diag", "island").agg(
        (F.count(F.lit(1)) + F.lit(k - 1)).alias("span")
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(F.max("span").alias("max_span_tokens"))
        .filter(F.col("max_span_tokens") >= SUBSTR_MIN_SPAN)
    )


_Q_SUBSTR = f"""
WITH docs AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(t[i:i+{SUBSTR_K - 1}], ' ')) AS fp
  FROM docs, unnest(generate_series(1, greatest(len(t) - {SUBSTR_K} + 1, 0))) AS u(i)
),
hot AS (
  SELECT fp FROM (
    SELECT fp, count(DISTINCT doc_id) AS df FROM grams GROUP BY fp
  ) d WHERE df > {SUBSTR_DF_CAP}
),
g AS (SELECT * FROM grams WHERE fp NOT IN (SELECT fp FROM hot)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
         a.pos - b.pos AS diag
  FROM g a JOIN g b USING (fp) WHERE a.doc_id < b.doc_id
),
isl AS (
  SELECT doc_a, doc_b, diag,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
  FROM pairs
),
spans AS (
  SELECT doc_a, doc_b, CAST(count(*) + {SUBSTR_K - 1} AS BIGINT) AS span
  FROM isl GROUP BY doc_a, doc_b, diag, island
)
SELECT doc_a, doc_b, CAST(max(span) AS BIGINT) AS max_span_tokens
FROM spans GROUP BY doc_a, doc_b
HAVING max(span) >= {SUBSTR_MIN_SPAN}
"""


def queries():
    return {
        "dedup_exact": dedup_exact,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_simhash": dedup_simhash,
        "dedup_embedding_cosine": dedup_embedding_cosine,
        "dedup_clusters": dedup_clusters,
        "dedup_substring_spans": dedup_substring_spans,
    }


_SHINGLES_CTE = f"""
shingles0 AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           concat_ws(' ', words[i], words[i+1], words[i+2]) AS shingle
    FROM (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS words
      FROM documents
    ), unnest(CASE WHEN len(words) >= 3
                   THEN range(1, len(words) - 1)
                   ELSE [] END) AS t(i)
  )
),
hot AS (SELECT shingle FROM shingles0 GROUP BY shingle HAVING count(*) > {SHINGLE_DF_CAP}),
shingles AS (
  SELECT * FROM shingles0 WHERE shingle NOT IN (SELECT shingle FROM hot)
)
"""


def _minhash_pairs_cte() -> str:
    rows_per_band = N_MINHASH_SEEDS // N_BANDS
    return f"""{_SHINGLES_CTE},
mh AS (
  SELECT doc_id, seed,
         min(md5(concat(CAST(seed AS VARCHAR), '|', shingle))) AS mh
  FROM shingles, unnest(range(0, {N_MINHASH_SEEDS})) AS s(seed)
  GROUP BY doc_id, seed
),
buckets AS (
  SELECT doc_id, CAST(seed // {rows_per_band} AS INT) AS band,
         md5(array_to_string(list_sort(list(concat(CAST(seed AS VARCHAR), ':', mh))), '|')) AS bucket
  FROM mh GROUP BY doc_id, band
),
mh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
)"""


def oracle_sql():
    return {
        "dedup_substring_spans": _Q_SUBSTR,
        "dedup_exact": """
            WITH f AS (
              SELECT doc_id,
                     md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
              FROM documents
            )
            SELECT doc_id, fingerprint,
                   count(*) OVER (PARTITION BY fingerprint) AS group_size,
                   min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc_id
            FROM f""",
        "dedup_ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM shingles a JOIN shingles b USING (shingle)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, n_common, sa.n + sb.n - n_common AS n_union
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common * {1 / JACCARD_THRESHOLD} >= sa.n + sb.n - n_common""",
        "dedup_minhash_lsh": f"""
            WITH {_minhash_pairs_cte()}
            SELECT doc_a, doc_b FROM mh_pairs""",
        # connected components as a recursive transitive closure: a node's
        # cluster id is the min doc_id reachable over the symmetric pair
        # graph (exact mirror of the Spark label-propagation fixpoint)
        "dedup_clusters": f"""
            WITH RECURSIVE {_minhash_pairs_cte()},
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM mh_pairs
            ),
            reach(doc_id, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id
            )
            SELECT doc_id, min(lbl) AS cluster_id,
                   (doc_id = min(lbl)) AS is_canonical
            FROM reach GROUP BY doc_id""",
        "dedup_embedding_cosine": f"""
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {COSINE_Q}) AS BIGINT)) AS qv
              FROM embeddings
            ),
            n AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS qnorm FROM q),
            planes AS (SELECT vec_id AS plane_id, qv AS p_qv FROM q WHERE vec_id < {COS_PLANES}),
            bits AS (
              SELECT q.vec_id, CAST(p.plane_id // {COS_PLANES // COS_BANDS} AS INT) AS band,
                     CASE WHEN list_dot_product(q.qv, p.p_qv) > 0
                          THEN (CAST(1 AS BIGINT) << CAST(p.plane_id % {COS_PLANES // COS_BANDS} AS INT))
                          ELSE CAST(0 AS BIGINT) END AS bv
              FROM q CROSS JOIN planes p
            ),
            buckets AS (SELECT vec_id, band, CAST(sum(bv) AS BIGINT) AS bucket FROM bits GROUP BY vec_id, band),
            cand AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM buckets a JOIN buckets b USING (band, bucket)
              WHERE a.vec_id < b.vec_id
            )
            SELECT vec_a, vec_b, qdot, qnorm_a, qnorm_b FROM (
              SELECT c.vec_a, c.vec_b,
                     CAST(list_dot_product(na.qv, nb.qv) AS BIGINT) AS qdot,
                     na.qnorm AS qnorm_a, nb.qnorm AS qnorm_b
              FROM cand c
              JOIN n na ON na.vec_id = c.vec_a
              JOIN n nb ON nb.vec_id = c.vec_b
            ) WHERE qdot > 0 AND 100 * qdot * qdot >= 81 * qnorm_a * qnorm_b""",
        # bit j of the little-endian uint64 of md5(word)[:8] lives in hex
        # pair (j//8) of the md5 hex string; signed int64 = sig - 2^63 is
        # assembled without overflow by handling bit 63 as the sign part.
        "dedup_simhash": """
            WITH words AS (
              SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
              FROM documents
            ),
            wbits AS (
              SELECT doc_id, b.bit,
                     CASE WHEN (
                       ((strpos('0123456789abcdef', substring(md5(w), CAST((b.bit // 8) * 2 + 1 AS INT), 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substring(md5(w), CAST((b.bit // 8) * 2 + 2 AS INT), 1)) - 1)
                       ) >> CAST(b.bit % 8 AS INT)
                     ) % 2 = 1 THEN 1 ELSE -1 END AS v
              FROM words, unnest(range(0, 64)) AS b(bit)
            ),
            counts AS (SELECT doc_id, bit, sum(v) AS c FROM wbits GROUP BY doc_id, bit),
            sigs AS (
              SELECT doc_id,
                     COALESCE(sum(CASE WHEN bit < 63 AND c > 0
                                       THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
                                       ELSE CAST(0 AS BIGINT) END), 0)
                     + CASE WHEN max(CASE WHEN bit = 63 AND c > 0 THEN 1 ELSE 0 END) = 1
                            THEN 0 ELSE -9223372036854775807 - 1 END AS simhash
              FROM counts GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.simhash, -9223372036854775807 - 1) AS BIGINT) AS simhash
            FROM documents d LEFT JOIN sigs s USING (doc_id)""",
    }

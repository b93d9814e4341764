"""Seeded input generators for the benchmark workloads.

Every input the program sees is written here from ``--seed``: the same
seed gives byte-identical files, a different seed gives the same row
counts (sizes are fixed per workload; only the values move).

* ``write_lineitem`` — a lineitem-shaped parquet table with exactly the
  columns ``sources.transcripts.transcripts_sql`` reads.  One order is
  one conversation, one line one turn.  Orderkeys are sparse and random
  but stay below 2·10^9: the transcript timestamp is
  ``EPOCH + orderkey * 100`` seconds, and from orderkey ≈ 2.5·10^9 on it
  passes the year 9999, where Spark renders ``+10190-…`` and DuckDB
  ``10190-…`` (so the oracle check would fail on every such turn).
  Mentions come from part/supplier keys, which the transcript SQL skews
  towards a few hot entities.
* ``write_docs`` — generic JSON-LD documents of varied shape (nested
  nodes, ``@list``/``@set``, language and index maps, ``@reverse``,
  ``@graph``, typed values), each with its ``@context`` drawn from a
  seeded pool, plus planted malformed documents whose expected JSON-LD
  error code is recorded next to them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_ORDERKEY = 2 * 10**9

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
    ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()),
])


def turn_counts(rng: np.random.Generator, n_convs: int, max_turns: int) -> np.ndarray:
    """Turns per conversation: 1..max_turns cycled, then shuffled, so the
    total is the same for every seed."""
    counts = (np.arange(n_convs) % max_turns) + 1
    rng.shuffle(counts)
    return counts


def lineitem_table(seed: int, n_convs: int, max_turns: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    counts = turn_counts(rng, n_convs, max_turns)
    keys = np.sort(rng.choice(MAX_ORDERKEY - 1, size=n_convs, replace=False)) + 1
    n = int(counts.sum())
    orderkey = np.repeat(keys, counts)
    linenumber = np.concatenate([np.arange(1, c + 1) for c in counts]).astype(np.int32)
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    flags = np.array(["A", "N", "R"])
    status = np.array(["F", "O"])
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, 20_000, size=n),
        "l_suppkey": rng.integers(0, 1_000, size=n),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2000.0, size=n), 2),
        "l_returnflag": flags[rng.integers(0, 3, size=n)],
        "l_linestatus": status[rng.integers(0, 2, size=n)],
    }, schema=LINEITEM_SCHEMA)


def write_lineitem(sf_dir: str, seed: int, n_convs: int, max_turns: int) -> int:
    """Write ``<sf_dir>/lineitem.parquet``; returns the number of turns."""
    os.makedirs(sf_dir, exist_ok=True)
    table = lineitem_table(seed, n_convs, max_turns)
    pq.write_table(table, os.path.join(sf_dir, "lineitem.parquet"))
    return table.num_rows


# --- generic JSON-LD documents ----------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"

# planted malformed shapes and the error code the JSON-LD API must raise
PLANTED = {
    "bad_id": ({"@id": 5, "name": "x"}, "invalid @id value"),
    "bad_type": ({"@type": 5, "name": "x"}, "invalid type value"),
    "bad_language": ({"name": {"@value": "x", "@language": 5}}, "invalid language-tagged string"),
    "bad_vocab": ({"@context": {"@vocab": 5}, "name": "x"}, "invalid vocab mapping"),
    "bad_reverse": ({"@reverse": "x", "name": "x"}, "invalid @reverse value"),
}

SHARED_CONTEXT = {
    "@vocab": "https://ex.org/v0#",
    "xsd": XSD,
    "knows": {"@type": "@id"},
    "tags": {"@container": "@set"},
    "steps": {"@container": "@list"},
}


def context_pool(seed: int, k: int) -> list[dict]:
    """K distinct contexts; each varies the vocabulary, term IRIs and
    which keys carry containers, coercion or a default language."""
    rng = np.random.default_rng([seed, 2])
    pool = []
    for i in range(k):
        ctx = {
            "@vocab": f"https://ex.org/v{i}#",
            "xsd": XSD,
            "knows": {"@id": f"https://ex.org/rel{i % 3}#knows", "@type": "@id"},
            "tags": {"@container": "@set"},
            "steps": {"@container": "@list"},
            "label": {"@container": "@language"},
            "byKey": {"@container": "@index"},
            "parentOf": {"@reverse": "childOf"},
            "born": {"@type": "xsd:date"},
            "score": {"@type": "xsd:integer" if rng.random() < 0.5 else "xsd:decimal"},
        }
        if rng.random() < 0.5:
            ctx["@language"] = ["en", "de", "fr"][int(rng.integers(0, 3))]
        pool.append(ctx)
    return pool


def _node(rng: np.random.Generator, i: int, shape: int, depth: int) -> dict:
    """One node.  ``shape`` fixes its structure (which keys, how many
    values, how deep); ``rng`` only fills in the values, so the work per
    document does not depend on the seed."""
    node = {
        "@id": f"https://ex.org/item/{i}",
        "@type": ["Thing", "Person", "Place"][shape % 3],
        "name": f"item {i} " + "x" * (shape % 24),
        "score": str(int(rng.integers(0, 1000))),
        "born": f"19{int(rng.integers(10, 99))}-0{int(rng.integers(1, 9))}-1{int(rng.integers(0, 9))}",
    }
    bits = shape // 3
    if bits & 1:
        node["tags"] = [f"t{int(rng.integers(0, 50))}" for _ in range(1 + shape % 4)]
    if bits & 2:
        node["steps"] = [f"step {j}" for j in range(1 + shape % 5)]
    if bits & 4:
        node["label"] = {"en": f"label {i}", "de": f"Etikett {i}"}
    if bits & 8:
        node["byKey"] = {f"k{j}": f"v{j}" for j in range(1 + shape % 3)}
    if bits & 16:
        node["parentOf"] = {"@id": f"https://ex.org/item/{i}-child"}
    if depth > 0 and bits & 32:
        node["knows"] = _node(rng, i * 10 + 1, shape // 7 + 5, depth - 1)
    elif bits & 64:
        node["knows"] = f"https://ex.org/item/{int(rng.integers(0, 10**6))}"
    return node


def docs_table(seed: int, n_docs: int, k_contexts: int, planted_every: int) -> tuple[pa.Table, dict]:
    """Documents as (doc_id, doc) rows plus ``{doc_id: expected_code}``
    for the planted malformed ones.  Each document's shape, context and
    plantedness come from its slot in a seeded permutation of
    ``range(n_docs)``, so every seed yields the same mix of shapes,
    contexts used ``n_docs / k_contexts`` times each, and
    ``n_docs / planted_every`` planted documents."""
    rng = np.random.default_rng([seed, 3])
    pool = context_pool(seed, k_contexts)
    slots = rng.permutation(n_docs)
    kinds = sorted(PLANTED)
    expected: dict[int, str] = {}
    docs = []
    for doc_id, slot in enumerate(int(x) for x in slots):
        ctx = pool[slot % k_contexts]
        shape = slot // k_contexts
        if slot % planted_every == 0:
            body, code = PLANTED[kinds[(slot // planted_every) % len(kinds)]]
            doc = {"@context": ctx, **body}
            expected[doc_id] = code
        elif shape % 7 == 1:
            doc = {"@context": ctx, "@graph": [_node(rng, doc_id * 100 + j, shape + j, 1) for j in range(2)]}
        else:
            doc = {"@context": ctx, **_node(rng, doc_id, shape, 2)}
        docs.append(json.dumps(doc, sort_keys=True))
    table = pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "doc": pa.array(docs, pa.string())})
    return table, expected


def write_docs(
    docs_dir: str, seed: int, n_docs: int, k_contexts: int, planted_every: int, n_files: int
) -> tuple[list[tuple[int, str]], dict]:
    """Write the documents as ``n_files`` parquet files (a well-split
    input); returns the rows and the planted ``{doc_id: code}``."""
    os.makedirs(docs_dir, exist_ok=True)
    table, expected = docs_table(seed, n_docs, k_contexts, planted_every)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step), os.path.join(docs_dir, f"part-{f:03d}.parquet"))
    rows = list(zip(table.column("doc_id").to_pylist(), table.column("doc").to_pylist()))
    return rows, expected

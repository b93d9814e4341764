"""Generators: same seed, same bytes; another seed, same sizes."""

import hashlib
import os

import pyarrow.parquet as pq

import gen


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_lineitem_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert gen.write_lineitem(a, 7, 64, 64) == gen.write_lineitem(b, 7, 64, 64)
    assert _digest(a) == _digest(b)
    n_other = gen.write_lineitem(c, 8, 64, 64)
    assert _digest(a) != _digest(c)
    assert n_other == pq.read_table(f"{a}/lineitem.parquet").num_rows == 64 * 65 // 2


def test_lineitem_shape(tmp_path):
    t = gen.lineitem_table(3, 70, 7)
    keys = t.column("l_orderkey").to_pylist()
    assert max(keys) < gen.MAX_ORDERKEY
    assert len(set(keys)) == 70
    per_order = {}
    for k, ln in zip(keys, t.column("l_linenumber").to_pylist()):
        per_order.setdefault(k, []).append(ln)
    assert sorted(len(v) for v in per_order.values()) == sorted([i % 7 + 1 for i in range(70)])
    assert all(v == list(range(1, len(v) + 1)) for v in per_order.values())


def test_docs_are_deterministic_with_fixed_planted_count(tmp_path):
    rows_a, planted_a = gen.write_docs(str(tmp_path / "a"), 5, 500, 8, 100, 4)
    rows_b, planted_b = gen.write_docs(str(tmp_path / "b"), 5, 500, 8, 100, 4)
    rows_c, planted_c = gen.write_docs(str(tmp_path / "c"), 6, 500, 8, 100, 4)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert rows_a == rows_b and planted_a == planted_b
    assert rows_a != rows_c
    assert len(rows_c) == len(rows_a) == 500
    assert len(planted_c) == len(planted_a) == 5
    assert set(planted_a.values()) <= {code for _, code in gen.PLANTED.values()}
    assert len(os.listdir(tmp_path / "a")) == 4


def test_planted_codes_are_what_the_api_raises():
    import json

    from jsonld_ex_spark.core import api
    from jsonld_ex_spark.core.errors import JsonLdError

    rows, planted = gen.docs_table(9, 300, 8, 50)
    docs = dict(zip(rows.column("doc_id").to_pylist(), rows.column("doc").to_pylist()))
    for doc_id, code in planted.items():
        try:
            api.expand(json.loads(docs[doc_id]))
        except JsonLdError as e:
            assert e.code == code
        else:
            raise AssertionError(f"planted doc {doc_id} expanded without error")

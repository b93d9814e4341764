"""The pipeline over a REAL transcript table (parquet with the
input_hint schema) — the 10^12-turn production path, where the
synthesis stage is replaced by a plain scan — must produce exactly the
same triples as the synthesized path."""

from __future__ import annotations

import shutil
import tempfile

import duckdb
import pytest

from jsonld_ex_spark.operators.kg_pipeline import conversation_triples
from jsonld_ex_spark.sources.transcripts import transcripts_df

from tests.spark_fixtures import spark  # noqa: F401

pytestmark = pytest.mark.spark
SF = "/root/testdata/sf0.001"


def test_pipeline_on_materialized_transcript_table(spark):  # noqa: F811
    tmp = tempfile.mkdtemp()
    try:
        transcripts_df(spark, SF).write.parquet(f"{tmp}/transcripts")
        real_table = spark.read.parquet(f"{tmp}/transcripts")
        assert [f.name for f in real_table.schema.fields] == [
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
        ]
        a = sorted(map(tuple, conversation_triples(real_table).collect()))
        b = sorted(map(tuple, conversation_triples(transcripts_df(spark, SF)).collect()))
        assert a == b
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _lineitem_with_orderkeys(path: str, keys: list[int]) -> None:
    rows = " UNION ALL ".join(
        f"SELECT * REPLACE ({k}::BIGINT AS l_orderkey) FROM (SELECT * FROM '{SF}/lineitem.parquet' LIMIT 1)"
        for k in keys
    )
    with duckdb.connect() as con:
        con.execute(f"COPY ({rows}) TO '{path}/lineitem.parquet' (FORMAT PARQUET)")


def test_orderkey_wider_than_conv_id_fails(spark, tmp_path):  # noqa: F811
    """conv_id left-pads the orderkey to 10 characters, and lpad
    truncates a longer rendering: 10^10 would become 'conv-1000000000',
    the conv_id of order 10^9.  The source must fail, not merge the two."""
    _lineitem_with_orderkeys(str(tmp_path), [10**9, 10**10 - 1])
    ids = sorted(r["conv_id"] for r in transcripts_df(spark, str(tmp_path)).select("conv_id").collect())
    assert ids == ["conv-1000000000", "conv-9999999999"]

    wide = tmp_path / "wide"
    wide.mkdir()
    _lineitem_with_orderkeys(str(wide), [10**9, 10**10])
    with pytest.raises(Exception, match="l_orderkey 10000000000 does not fit"):
        transcripts_df(spark, str(wide)).select("conv_id").collect()

"""JSONL-with-quarantine ingest source (the crawl pipeline's entry
edge)."""

from __future__ import annotations

from pyspark.sql.types import LongType, StringType, StructField, StructType

from osmart_etl_spark.io.sources import read_jsonl

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def test_read_jsonl_splits_good_and_corrupt(spark, tmp_path):
    p = tmp_path / "shard.jsonl"
    lines = [
        '{"doc_id": 1, "text": "hello world", "lang": "en"}',
        "this is not json at all",
        '{"doc_id": 2, "text": "hola", "lang": "es"}',
        '{"doc_id": 3, "text": "unterminated',
        '{"doc_id": 4, "text": null, "lang": "fr"}',  # valid: null field
        "",  # blank line: quarantine, NOT a phantom all-null row
        "   ",  # whitespace-only line: same
    ]
    p.write_text("\n".join(lines) + "\n")

    good, quarantine = read_jsonl(spark, str(p), DOC_SCHEMA)
    g = {r.doc_id: (r.text, r.lang) for r in good.collect()}
    q = [r._corrupt_record for r in quarantine.collect()]

    assert g == {1: ("hello world", "en"), 2: ("hola", "es"), 4: (None, "fr")}
    assert sorted(q) == sorted(
        ["this is not json at all", '{"doc_id": 3, "text": "unterminated', "", "   "]
    )
    # nothing silently dropped: good + quarantine == input lines
    assert len(g) + len(q) == len(lines)

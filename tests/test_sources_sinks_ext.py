"""EXT source/sink breadth: JSONL document ingestion with quarantine,
materialized MinHash signature indexes."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    read_documents_jsonl,
)
from dbt_metrics_ingestion_script_spark.sources.tables import load_table


def test_jsonl_quarantine_splits_malformed_lines(spark, tmp_path):
    """Well-formed lines parse against the explicit schema (missing
    fields null), malformed lines land in the quarantine frame
    verbatim, and neither aborts the read."""
    p = tmp_path / "docs.jsonl"
    p.write_text(
        "\n".join(
            [
                '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s1", "n_chars": 11}',
                '{"doc_id": 2, "text": "missing fields ok"}',
                "{not json at all",
                '["an", "array", "line"]',
                '{"doc_id": 3, "text": "fine", "lang": "de", "source": "s2", "n_chars": 4}',
            ]
        )
    )
    good, bad = read_documents_jsonl(spark, str(p))
    rows = {r["doc_id"]: r for r in good.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["lang"] is None and rows[2]["n_chars"] is None
    bad_lines = sorted(r["raw_line"] for r in bad.collect())
    assert bad_lines == ['["an", "array", "line"]', "{not json at all"]
    with pytest.raises(ValueError, match="_corrupt_record"):
        from pyspark.sql.types import StringType, StructField, StructType

        read_documents_jsonl(
            spark,
            str(p),
            StructType([StructField("_corrupt_record", StringType())]),
        )


def test_read_documents_jsonl_leaves_nothing_persisted(spark, tmp_path):
    """A long-lived session reads batch after batch: counting both
    frames must persist no RDD (compared by id, as in
    test_pipeline_leaves_nothing_persisted)."""
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        "{broken\n"
        "\n"
        '{"doc_id": "not a number", "text": "type mismatch"}\n'
    )
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    good, bad = read_documents_jsonl(spark, str(p))
    assert good.count() == 1
    assert sorted(r["raw_line"] for r in bad.collect()) == [
        '{"doc_id": "not a number", "text": "type mismatch"}',
        "{broken",
    ]
    assert persisted() - before == set()


def test_jsonl_round_trip_matches_parquet_table(spark, sf_dir, tmp_path):
    """The fixture documents table written as JSONL and read back
    through the quarantine source must reproduce the table exactly
    (schema-stable ingestion path)."""
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_jsonl")
    docs.coalesce(1).write.mode("overwrite").json(out)
    good, bad = read_documents_jsonl(spark, out)
    assert bad.isEmpty()
    a = sorted(tuple(r) for r in good.select(*docs.columns).collect())
    b = sorted(tuple(r) for r in docs.collect())
    assert a == b


# ---------------------------------------------------------------------------
# materialized signature indexes
# ---------------------------------------------------------------------------


def test_minhash_index_roundtrip_matches_inline(spark, sf_dir, tmp_path):
    """Incremental near-dedup against the MATERIALIZED index must equal
    the inline-signatured path row for row -- signatures are pure
    functions of content, so materialization cannot change decisions."""
    from pyspark.sql import functions as F

    from dbt_metrics_ingestion_script_spark.operators import dedup
    from dbt_metrics_ingestion_script_spark.sinks import signature_index as si
    from dbt_metrics_ingestion_script_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 4 == 0)
    batch = docs.where(F.col("doc_id") % 4 != 0)
    d = str(tmp_path / "mh_index")
    si.write_minhash_index(corpus, d, k=16, bands=4)
    banded, shingles = si.read_minhash_index(spark, d, k=16, bands=4)
    got = sorted(
        r["doc_id"]
        for r in dedup.near_dedup_against_corpus_index(
            batch, banded, shingles, k=16, bands=4, threshold=0.8
        ).collect()
    )
    expected = sorted(
        r["doc_id"]
        for r in dedup.near_dedup_against_corpus(
            batch, corpus, k=16, bands=4, threshold=0.8
        ).collect()
    )
    assert got == expected and 0 < len(got) <= batch.count()


def test_signature_index_geometry_mismatch_is_loud(spark, sf_dir, tmp_path):
    """Geometry drift must raise, never silently return an index whose
    signatures can't match the batch's (recall collapse = everything
    passes the dedup gate)."""
    import pytest

    from dbt_metrics_ingestion_script_spark.sinks import signature_index as si
    from dbt_metrics_ingestion_script_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = str(tmp_path / "geom_index")
    si.write_minhash_index(docs, d, k=16, bands=4)
    with pytest.raises(ValueError, match="geometry mismatch"):
        si.read_minhash_index(spark, d, k=32, bands=8)
    with pytest.raises(ValueError, match="no signature index"):
        si.read_minhash_index(spark, str(tmp_path / "nowhere"), k=16, bands=4)
    # band partitioning on disk: one directory per band
    import os

    bands = [p for p in os.listdir(d + "/banded") if p.startswith("band=")]
    assert len(bands) == 4


def test_minhash_index_append_grows_coverage(spark, sf_dir, tmp_path):
    """The documented index-growth path: appending a second corpus
    slice's signatures (mode='append') makes its near-dups start
    dropping from subsequent batches, without rewriting slice one."""
    from pyspark.sql import functions as F

    from dbt_metrics_ingestion_script_spark.operators import dedup
    from dbt_metrics_ingestion_script_spark.sinks import signature_index as si
    from dbt_metrics_ingestion_script_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    slice1 = docs.where(F.col("doc_id") % 4 == 0)
    slice2 = docs.where(F.col("doc_id") % 4 == 1)
    batch = docs.where(F.col("doc_id") % 4 >= 2)
    d = str(tmp_path / "grow_index")

    si.write_minhash_index(slice1, d, k=16, bands=4)
    banded, shingles = si.read_minhash_index(spark, d, k=16, bands=4)
    surv1 = {
        r["doc_id"]
        for r in dedup.near_dedup_against_corpus_index(
            batch, banded, shingles, k=16, bands=4, threshold=0.8
        ).collect()
    }
    si.write_minhash_index(slice2, d, k=16, bands=4, mode="append")
    banded2, shingles2 = si.read_minhash_index(spark, d, k=16, bands=4)
    surv2 = {
        r["doc_id"]
        for r in dedup.near_dedup_against_corpus_index(
            batch, banded2, shingles2, k=16, bands=4, threshold=0.8
        ).collect()
    }
    # appending history can only remove batch survivors, never add
    assert surv2 <= surv1
    expected = {
        r["doc_id"]
        for r in dedup.near_dedup_against_corpus(
            batch, slice1.unionByName(slice2), k=16, bands=4, threshold=0.8
        ).collect()
    }
    assert surv2 == expected

"""Resumable batch checkpointing (per-partition lineage) and incremental
Structured Streaming ingest."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from gmx import checkpoints as ck
from gmx import pipeline, streaming


def test_resumable_extract_survives_failure(spark, sf_dir, tmp_path, metadata):
    out = str(tmp_path / "extracted")

    # first run dies after 3 committed buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        ck.resumable_extract(spark, sf_dir, out, buckets=8, fail_after=3)
    assert len(ck.completed_buckets(out)) == 3

    # resume: processes ONLY the remaining 5 buckets
    written = ck.resumable_extract(spark, sf_dir, out, buckets=8)
    assert len(written) == 5
    assert len(ck.completed_buckets(out)) == 8

    # third run is a no-op (idempotent)
    assert ck.resumable_extract(spark, sf_dir, out, buckets=8) == []

    # lineage carries metrics and the total matches the one-shot pipeline
    recs = ck.lineage_records(out)
    assert all(r["rows"] >= 0 and r["wall_sec"] > 0 and r["code_version"] for r in recs)
    assert sum(r["rows"] for r in recs) == metadata.count()
    got = ck.read_extracted(spark, out)
    assert got.count() == metadata.count()
    assert got.select(F.sum(F.length("title"))).first()[0] == \
        metadata.select(F.sum(F.length("title"))).first()[0]


def test_streaming_incremental_ingest(spark, sf_dir, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus = pipeline.corpus_df(spark, sf_dir).persist()
    total = corpus.count()
    meta_total = corpus.filter(~F.col("doc_id").startswith("cat-")).count()

    first = corpus.filter(F.xxhash64("doc_id") % 2 == 0)
    second = corpus.filter(F.xxhash64("doc_id") % 2 != 0)

    # batch 1 arrives -> drain
    first.write.mode("overwrite").parquet(corpus_dir)
    streaming.ingest_available(spark, corpus_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert 0 < n1 < meta_total

    # batch 2 arrives as new files -> drain processes ONLY the new files
    second.write.mode("append").parquet(corpus_dir)
    streaming.ingest_available(spark, corpus_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.count() == meta_total  # no duplicates -> no reprocessing

    # a third drain with nothing new is a no-op
    streaming.ingest_available(spark, corpus_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == meta_total
    corpus.unpersist()
    shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_xml_directory_incremental(spark, tmp_path):
    """Raw-XML streaming ingest is incremental: a second batch of files is
    processed without reprocessing the first (checkpointed file source)."""
    from gmx.corpus import make_record, standard_of
    from gmx.serialize import serialize
    from gmx.streaming import ingest_xml_available

    xml_dir = tmp_path / "in"; xml_dir.mkdir()
    out = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")

    (xml_dir / "a.xml").write_text(serialize(make_record(0), standard_of(0)))  # fgdc
    ingest_xml_available(spark, str(xml_dir), out, ckpt)
    first = spark.read.parquet(out)
    assert {r.doc_id.rsplit("/", 1)[-1] for r in first.select("doc_id").collect()} == {"a"}

    (xml_dir / "b.xml").write_text(serialize(make_record(1), standard_of(1)))  # iso
    ingest_xml_available(spark, str(xml_dir), out, ckpt)
    both = spark.read.parquet(out)
    got = {r.doc_id.rsplit("/", 1)[-1]: (r.standard, r.title)
           for r in both.select("doc_id", "standard", "title").collect()}
    assert got == {"a": ("fgdc", make_record(0)["title"]), "b": ("iso", make_record(1)["title"])}
    assert both.count() == 2  # the first file was not reprocessed

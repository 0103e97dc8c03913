"""Incremental corpus ingest: cross-batch dedup semantics, replay
idempotence, and the real streaming shell end to end."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fhir_to_lakehouse_spark.streaming.corpus_ingest import (
    CorpusIngestConfig,
    IncrementalDedupIngest,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture
def ingest(spark, tmp_path):
    cfg = CorpusIngestConfig(
        corpus_dir=str(tmp_path / "corpus"),
        fingerprint_dir=str(tmp_path / "fps"),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    return IncrementalDedupIngest(spark, cfg)


def test_cross_batch_dedup(spark, ingest):
    b1 = _mk(spark, [(1, "alpha beta", "en"), (2, "alpha beta", "en"),
                     (3, "gamma", "en")])
    ingest.process_batch(b1, 1)
    got = {r["doc_id"] for r in ingest.admitted().collect()}
    assert got == {1, 3}  # in-batch dup of doc 1 dropped, min doc_id wins

    b2 = _mk(spark, [(4, "ALPHA   beta", "en"),   # dup of 1 after normalize
                     (5, "delta", "en")])
    ingest.process_batch(b2, 2)
    got = {r["doc_id"] for r in ingest.admitted().collect()}
    assert got == {1, 3, 5}  # historical dup rejected across batches


def test_replay_is_idempotent(spark, ingest):
    b1 = _mk(spark, [(1, "alpha", "en"), (2, "beta", "en")])
    ingest.process_batch(b1, 1)
    before = sorted(ingest.admitted().collect())
    ingest.process_batch(b1, 1)  # crash-replay of the same batch
    after = sorted(ingest.admitted().collect())
    assert before == after


def test_crash_between_appends_never_double_admits(spark, ingest, monkeypatch):
    """A batch whose second append fails, then replayed, admits no
    document twice: the first append must be the fingerprint index."""
    from pyspark.sql.readwriter import DataFrameWriter

    ingest.process_batch(_mk(spark, [(0, "zero", "en")]), 0)
    real_parquet = DataFrameWriter.parquet
    calls = []

    def second_append_fails(self, path, *args, **kwargs):
        calls.append(path)
        if len(calls) == 2:
            raise OSError("simulated crash between the two appends")
        return real_parquet(self, path, *args, **kwargs)

    b1 = _mk(spark, [(1, "alpha", "en"), (2, "beta", "en")])
    monkeypatch.setattr(DataFrameWriter, "parquet", second_append_fails)
    with pytest.raises(OSError, match="simulated"):
        ingest.process_batch(b1, 1)
    monkeypatch.undo()
    ingest.process_batch(b1, 1)  # the replay after the crash
    ids = [r["doc_id"] for r in ingest.admitted().collect()]
    assert len(ids) == len(set(ids)), sorted(ids)


def test_streaming_shell_end_to_end(spark, ingest, tmp_path):
    src = str(tmp_path / "src")
    _mk(
        spark,
        [(1, "alpha", "en"), (2, "alpha", "en"), (3, "beta", "en")],
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = ingest.start_stream(stream, "t_corpus_ingest", available_now=True)
    q.awaitTermination()
    got = {r["doc_id"] for r in ingest.admitted().collect()}
    assert got == {1, 3}
    # restart over the same source: checkpoint skips consumed files,
    # corpus unchanged
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = ingest.start_stream(stream2, "t_corpus_ingest2", available_now=True)
    q2.awaitTermination()
    assert {r["doc_id"] for r in ingest.admitted().collect()} == {1, 3}
    assert os.path.isdir(ingest.config.fingerprint_dir)

"""Incremental corpus ingest with cross-batch dedup — the streaming
twin of ``dedup_incremental_new_docs``: admit only documents whose
content fingerprint has never been seen, across batches and restarts.

No reference analog (the reference pipeline ingests FHIR bundles, not
corpus documents; its dedup is within-batch only — SURVEY §2.8). This
is the daily-ingest pattern of a training-data lakehouse: the admitted
corpus and its fingerprint index grow append-only, and re-deduping
never touches the historical corpus, only its 32-byte/doc index.

Exactly-once economics: appends are NOT transactional here (plain
parquet), but the pipeline is REPLAY-IDEMPOTENT by construction —
a re-delivered batch's fingerprints already sit in the index, so the
anti-join admits nothing the second time (verified in
tests/test_corpus_ingest.py). The index is appended BEFORE the
documents, so the worst case after a crash between the two appends is
a fingerprint row without its document, which under-admits, never
double-admits; on Delta the two appends become one txn.

Scale shape: the in-batch first-occurrence pick is a min_by hash
aggregate on the fingerprint (hot-key safe, no window sort); the
history probe is an anti join keyed on the md5 fingerprint — uniform,
skew-free — against an index that is fingerprints only, never bodies.
Batch cost is O(batch x log(index)), never O(corpus). At 100 TB the
index anti-join is pre-pruned by Spark's runtime Bloom filter (see
tests/test_scale.py::test_runtime_bloom_filter_prunes_shuffle_join).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_to_lakehouse_spark.functions.cache import (
    persist_scope,
    scoped_local_checkpoint,
)
from fhir_to_lakehouse_spark.functions.text import fingerprint


@dataclass
class CorpusIngestConfig:
    corpus_dir: str
    fingerprint_dir: str
    checkpoint_dir: str


class IncrementalDedupIngest:
    """foreachBatch corpus ingest: batch -> in-batch first-occurrence
    -> anti-join vs the fingerprint index -> append index, then docs."""

    def __init__(self, spark: SparkSession, config: CorpusIngestConfig):
        self.spark = spark
        self.config = config

    # -- index access -------------------------------------------------

    def _known_fingerprints(self) -> DataFrame | None:
        path = self.config.fingerprint_dir
        if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return None
        return self.spark.read.parquet(path).select("fp").distinct()

    # -- core ---------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        cols = batch.columns
        fp = batch.withColumn("fp", fingerprint("text"))
        # in-batch first occurrence: one hash aggregate, no window sort
        first = (
            fp.groupBy("fp")
            .agg(F.min_by(F.struct(*cols), F.col("doc_id")).alias("d"))
            .select("fp", "d.*")
        )
        known = self._known_fingerprints()
        if known is not None:
            first = first.join(known, "fp", "left_anti")
        # index first: a crash before the documents land leaves their
        # fingerprints known, so a replay under-admits, never
        # double-admits. The admitted set is pinned by a local
        # checkpoint, not persist(): appending to the index re-caches
        # every cached plan that reads it, which would re-run the
        # anti-join against the new fingerprints and admit nothing
        with persist_scope():
            first = scoped_local_checkpoint(first, eager=False)
            first.select("fp").write.mode("append").parquet(
                self.config.fingerprint_dir
            )
            first.select(*cols).write.mode("append").parquet(
                self.config.corpus_dir
            )

    # -- shell --------------------------------------------------------

    def start_stream(
        self,
        stream: DataFrame,
        query_name: str = "corpus_ingest",
        available_now: bool = False,
    ):
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.config.checkpoint_dir)
            .queryName(query_name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def admitted(self) -> DataFrame:
        return self.spark.read.parquet(self.config.corpus_dir)

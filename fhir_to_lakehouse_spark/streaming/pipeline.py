"""Micro-batch pipeline orchestration (foreachBatch core + stream shell).

Reference parity: process_batch / _process_df_of_single_resource_type
(the reference's src/bundle_processor.py:79-238) — dedup, encode,
upsert, delete, periodic upkeep — as one micro-batch sink:

- ONE streaming query, not N+1: the reference starts a query per hot
  resource type, each re-reading and re-parsing the whole Kafka stream
  (its src/main.py:119-124 documents the starvation risk). Here every
  type is routed inside one foreachBatch.
- Two caches per batch: the envelope parse, and the winners of ONE
  batch-wide last-writer-wins dedup keyed by request_url (``<type>/<id>``,
  so it equals a per-type dedup), flagged ``invalid`` where a PUT's
  resource has no parseable id.
- One count: a single groupBy(resource_type, request_method, invalid)
  over the winners gives the exact numbers behind every write decision
  (merge, delete, dead-letter), so no per-type probe job runs (the
  reference re-counts 4x per batch, :82, :229, :248, :279).
- The types of a batch maintain disjoint tables, so a small driver
  thread pool runs them side by side over the shared caches.
- Table handles are cached across batches (the reference re-runs
  createIfNotExists + detail() every batch; its own `XXX: not necessary
  for every batch` at :211).
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_to_lakehouse_spark.operators.bundles import (
    encode_resources,
    latest_per_key,
    split_by_method,
)
from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable
from fhir_to_lakehouse_spark.streaming.metrics import (
    DELTA_OPERATION_SECONDS,
    HistogramSnapshot,
    MeasureElapsed,
)

# resource types of one batch processed at once (2-3 in flight is
# plenty to fill the executors between one type's jobs)
TYPE_POOL_SIZE = 3


@dataclass
class PipelineConfig:
    """Settings of one BundlePipeline. Every batch runs the same shape
    whatever is set here: one parse cache, one winners cache, one count;
    the options below add work only where their comment says so."""

    warehouse_dir: str = "/tmp/fhir-warehouse"
    checkpoint_dir: str = "/tmp/fhir-checkpoints"
    # reference settings.py:39 — OPTIMIZE+VACUUM every N batches
    upkeep_interval: int = 50
    vacuum_retention_hours: float = 24.0
    # liquid-clustering columns per resource type (reference README:19-23)
    clustering_columns: dict[str, list[str]] = field(
        default_factory=lambda: {
            "Patient": ["id"],
            "Condition": ["id"],
            "Observation": ["id"],
        }
    )
    # print each batch's winners per (type, method, invalid) — the
    # counts the batch already collected, so no extra job
    log_batch_stats: bool = False
    # reference settings: log_resource_count_by_source_topic — one
    # groupBy(resource_type, topic) job over the winners per batch
    log_topic_counts: bool = False
    # reference: register tables in the catalog when metastore configured
    register_schema: str | None = None
    # delta.* properties applied at table create (None = reference
    # defaults, settings.py:43-49); flows from Settings.delta
    table_properties: dict[str, str] | None = None
    # EXPLICITLY OFF by default (ADVICE r5): the stored tables keep
    # Reference.reference strings verbatim, byte-compatible with what
    # the reference's Pathling encoder writes — normalization is a
    # query-time concern (operators.bundles.resolve_references).
    # Turning this on is a table-format version change: existing rows
    # keep prefixed references while new merges write bare ids, so
    # only enable it on fresh tables or after a one-off rewrite.
    normalize_references_at_write: bool = False
    # Pathling `enableExtensions` analog (OFF like Pathling's
    # default): widen every stored table with the shared typed FHIR
    # `extension` element (schemas.EXTENSION_SCHEMA) so compiled
    # views can answer extension('url') paths from columns instead of
    # resource_json. Turning it on widens the table schema — the
    # keyed-table MERGE path already handles additive widening, so an
    # existing deployment can flip it and old rows read NULL
    # extensions.
    encode_extensions: bool = False
    # profile-validation specs (operators/validation.py), applied to
    # each batch's encoded valid PUT rows for their resource type (the
    # rows the merge writes; invalid ones are dead-lettered): per-rule
    # violation/checked counts accumulate on
    # BundlePipeline.validation_stats (data-quality monitoring inside
    # the ETL — one extra map-side-combinable aggregate per matching
    # batch, O(batch) not O(table)). Binding rules additionally need
    # `validation_valuesets` (an expand_valueset frame).
    validation_specs: list[dict] = field(default_factory=list)
    validation_valuesets: object | None = None
    # (ViewDefinition dict, destination path) pairs: each view is
    # materialized flat and refreshed INCREMENTALLY at the upkeep
    # cadence (operators/materialized_view.py — per-resource
    # post-image recompile off the change feed). Configuring a view
    # turns the change feed on for its resource type's table.
    materialized_views: list[tuple[dict, str]] = field(default_factory=list)


class BundlePipeline:
    """Stream/batch-agnostic engine core: feed it a Kafka-shaped
    DataFrame (streaming micro-batch or static test frame) and it
    maintains one keyed table per resource type."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig | None = None):
        self.spark = spark
        self.cfg = cfg or PipelineConfig()
        self._tables: dict[str, KeyedTable] = {}
        # per-operation latency histogram, labeled (operation,
        # resource_type) — reference delta_operations_timer
        # (the reference's src/bundle_processor.py:213-233)
        self.op_timer = HistogramSnapshot()
        # cumulative {(resource_type, rule): [violations, checked]}
        # fed by cfg.validation_specs via _validate_batch
        self.validation_stats: dict[tuple[str, str], list[int]] = {}
        # serializes the few cross-type shared effects under the
        # per-type thread pool: appends to the ONE dead-letter path
        # (two concurrent append jobs would race on the same
        # _temporary staging dir) and catalog DDL
        self._shared_sink_lock = threading.Lock()

    # -- table access ----------------------------------------------------

    def table(self, resource_type: str) -> KeyedTable:
        if resource_type not in self._tables:
            viewed = {
                v.get("resource") for v, _ in self.cfg.materialized_views
            }
            self._tables[resource_type] = KeyedTable(
                self.spark,
                self._path(f"{resource_type}.parquet"),
                key="id",
                # W1 dedup (latest_per_key) runs before every merge, so
                # the source is key-unique by construction — skip the
                # fallback's duplicate-key probe job
                verify_unique_source=False,
                # a configured materialized view consumes this table's
                # change feed — turn it on
                changelog=resource_type in viewed,
                table_properties=self.cfg.table_properties,
            )
        return self._tables[resource_type]

    # -- the foreachBatch callback --------------------------------------

    def _validate_batch(self, resource_type: str, encoded) -> None:
        """Apply the configured validation specs to this batch's
        encoded PUT rows and fold the per-rule counts into
        ``validation_stats``. One small global aggregate per matching
        spec; skipped entirely when no spec targets the type."""
        specs = [
            sp
            for sp in self.cfg.validation_specs
            if sp.get("resource") == resource_type
        ]
        if not specs:
            return
        from fhir_to_lakehouse_spark.operators.validation import (
            validation_summary,
        )

        for sp in specs:
            rows = validation_summary(
                sp, encoded, valuesets=self.cfg.validation_valuesets
            ).collect()
            # the fold is read-modify-write on state the type pool
            # shares; the collect() above stays outside the lock
            with self._shared_sink_lock:
                for r in rows:
                    slot = self.validation_stats.setdefault(
                        (resource_type, r["rule"]), [0, 0]
                    )
                    slot[0] += r["violations"] or 0
                    slot[1] += r["checked"]
            if self.cfg.log_batch_stats:
                for r in rows:
                    print(
                        f"validation {resource_type}.{r['rule']}: "
                        f"{r['violations']}/{r['checked']}"
                    )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch (the reference's process_batch,
        src/bundle_processor.py:79-155): parse, dedup, count once, then
        per type dead-letter -> upsert -> delete. Rows whose payload
        fails the envelope parse (malformed JSON / not a bundle) are
        appended to a ``_corrupt`` table with provenance instead of
        vanishing — silent drops are how streaming pipelines lose data
        unnoticed.
        """
        from fhir_to_lakehouse_spark.operators.bundles import (
            explode_entries,
            parse_bundles,
        )

        # one envelope parse, read by the corrupt probe and the explode
        parsed = parse_bundles(batch_df).persist()
        # W1 (partition asc, offset desc) over every entry at once:
        # request_url is <type>/<id>, so this is the per-type dedup.
        # `invalid` marks a PUT whose resource has no parseable id —
        # exactly the rows the curated encode turns into a null key
        winners = (
            latest_per_key(explode_entries(parsed))
            .withColumn(
                "invalid",
                (F.col("request_method") == "PUT")
                & F.from_json("resource", "struct<id:string>")["id"].isNull(),
            )
            .persist()
        )
        try:
            # the ONE count: the types present and each one's exact
            # valid-PUT / invalid-PUT / DELETE winners. It runs first so
            # one parallel job fills both caches; the corrupt probe then
            # counts against the warm parse.
            counts = {
                (r["resource_type"], r["request_method"], r["invalid"]): r["count"]
                for r in winners.groupBy(
                    "resource_type", "request_method", "invalid"
                )
                .count()
                .collect()
            }
            # corrupt = the JSON failed to parse, the envelope is not a
            # Bundle, or it HAS an "entry" key whose shape from_json could
            # not read (Spark 4 partial-result parsing nulls just that
            # field, so probe the raw string). A valid Bundle with no
            # entry array is NOT corrupt: like the reference, it yields
            # no rows.
            corrupt = parsed.filter(
                F.col("parsed_bundle").isNull()
                | (
                    F.col("parsed_bundle.entry").isNull()
                    & (
                        ~F.col("parsed_bundle.resourceType").eqNullSafe("Bundle")
                        | F.get_json_object(
                            F.col("value").cast("string"), "$.entry"
                        ).isNotNull()
                    )
                )
            )
            if corrupt.count():
                self._dead_letter(corrupt, batch_id)
            types = sorted({rt for rt, _, _ in counts if rt})
            if not types:
                return
            if self.cfg.log_batch_stats:
                for (rt, method, invalid), n in sorted(counts.items(), key=str):
                    print(f"batch {batch_id}: {rt} {method} invalid={invalid}: {n}")
            if self.cfg.log_topic_counts:
                # reference log_resource_count_by_source_topic
                # (src/bundle_processor.py:131)
                winners.groupBy("resource_type", "topic").count().show(
                    truncate=False
                )

            def _one(rt: str) -> None:
                self._process_single_type(
                    winners.filter(F.col("resource_type") == rt),
                    rt,
                    n_valid=counts.get((rt, "PUT", False), 0),
                    n_invalid=counts.get((rt, "PUT", True), 0),
                    n_deletes=counts.get((rt, "DELETE", False), 0),
                    batch_id=batch_id,
                )

            # inheritable_thread_target carries the thread locals (job
            # group/description, the session's job tags) into the pool
            target = inheritable_thread_target(batch_df.sparkSession)(_one)
            with ThreadPoolExecutor(min(TYPE_POOL_SIZE, len(types))) as pool:
                list(pool.map(target, types))
            if batch_id % self.cfg.upkeep_interval == 0:
                self.upkeep(types)
        finally:
            parsed.unpersist()
            winners.unpersist()

    def _process_single_type(
        self,
        winners: DataFrame,
        resource_type: str,
        n_valid: int,
        n_invalid: int,
        n_deletes: int,
        batch_id: int,
    ) -> None:
        """Dead-letter -> upsert -> delete for one type's winners, whose
        exact counts the caller already holds (upsert FIRST, then
        deletes, like the reference at src/bundle_processor.py:221-234)."""
        puts, deletes = split_by_method(winners)
        tbl = self.table(resource_type)
        # deletes can only hit rows that existed BEFORE this batch (a
        # key has one winner): on a table created now the delete pass
        # would rewrite it to remove nothing
        existed_before = tbl.exists()
        encoded = encode_resources(
            puts.filter(~F.col("invalid")),
            resource_type,
            normalize_refs=self.cfg.normalize_references_at_write,
            include_extensions=self.cfg.encode_extensions,
        )
        self._validate_batch(resource_type, encoded)
        # table creation is unconditional once a type appears — the
        # reference creates the (possibly empty) table before merging,
        # so a DELETE-only first batch still materializes the table
        # (src/bundle_processor.py:172-204); the curated schema is
        # static, so no rows are needed to derive it
        tbl.create_if_not_exists(
            encoded.schema,
            cluster_by=self.cfg.clustering_columns.get(resource_type),
        )
        if self.cfg.register_schema:
            with self._timed("register", resource_type):
                self._register(resource_type)
        if n_invalid:
            # a PUT whose inner resource JSON fails the parse would
            # plant a null-key row: dead-letter its raw resource instead
            # (the reference's Pathling encoder throws for these; silent
            # nulls are worse than either)
            self._dead_letter_resources(
                puts.filter(F.col("invalid")), resource_type, batch_id
            )
        if n_valid:  # an all-invalid type leaves its table untouched
            with self._timed("merge", resource_type):
                tbl.merge_upsert(encoded)
        if n_deletes and existed_before:
            with self._timed("delete", resource_type):
                tbl.merge_delete(
                    deletes.select(F.col("request_resource_id").alias("id"))
                )

    def _timed(self, operation: str, resource_type: str) -> MeasureElapsed:
        return MeasureElapsed(
            self.op_timer,
            DELTA_OPERATION_SECONDS,
            operation=operation,
            resource_type=resource_type,
        )

    def _dead_letter(self, corrupt: DataFrame, batch_id: int) -> None:
        """Append unparseable records (raw payload + Kafka provenance +
        batch id) to the corrupt-records table."""
        out = corrupt.select(
            F.col("bundle").alias("raw_value"),
            "partition",
            "offset",
            "topic",
            "timestamp",
            F.lit(batch_id).alias("batch_id"),
        )
        out.write.mode("append").parquet(self._path("_corrupt.parquet"))

    def corrupt_records(self) -> DataFrame:
        return self.spark.read.parquet(self._path("_corrupt.parquet"))

    def _dead_letter_resources(
        self, invalid: DataFrame, resource_type: str, batch_id: int
    ) -> None:
        """Append entry-level failures (valid envelope, unparseable
        inner resource) to the resource corrupt table."""
        out = invalid.select(
            F.col("resource").alias("raw_resource"),
            F.lit(resource_type).alias("resource_type"),
            F.lit(batch_id).alias("batch_id"),
        )
        with self._shared_sink_lock:
            out.write.mode("append").parquet(
                self._path("_corrupt_resources.parquet")
            )

    def corrupt_resources(self) -> DataFrame:
        return self.spark.read.parquet(self._path("_corrupt_resources.parquet"))

    def _path(self, name: str) -> str:
        return os.path.join(self.cfg.warehouse_dir, name)

    def _register(self, resource_type: str) -> None:
        """Catalog registration at table-create time (reference
        _register_table_in_metastore,
        src/bundle_processor.py:330-357)."""
        from fhir_to_lakehouse_spark.session import delta_available

        schema = self.cfg.register_schema
        fmt = "DELTA" if delta_available() else "PARQUET"
        path = self.table(resource_type).path
        with self._shared_sink_lock:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {schema}.`{resource_type}` "
                f"USING {fmt} LOCATION '{path}'"
            )

    # -- maintenance (reference :236-238 + lakehousekeeper) --------------

    def upkeep(self, resource_types: list[str]) -> None:
        for rt in resource_types:
            tbl = self.table(rt)
            if tbl.exists():
                tbl.optimize()
                tbl.vacuum(self.cfg.vacuum_retention_hours)
        self.refresh_views()

    def refresh_views(self) -> list[dict]:
        """Refresh every configured materialized flat view from its
        table's change feed (incremental after the first build) —
        runs at the upkeep cadence, so analyst-facing flat tables
        track the stream within ``upkeep_interval`` batches."""
        from fhir_to_lakehouse_spark.operators.materialized_view import (
            MaterializedFlatView,
        )

        stats = []
        for view, dest in self.cfg.materialized_views:
            src = self.table(view.get("resource"))
            if src.exists():
                stats.append(MaterializedFlatView(view, src, dest).refresh())
        return stats

    # -- streaming shell -------------------------------------------------

    def start_stream(
        self,
        source_df: DataFrame,
        query_name: str = "bundles",
        available_now: bool = False,
    ):
        """Single streaming query over the whole source (fixes the
        reference's per-type fan-out, its src/main.py:157-188
        — one Kafka read, per-type routing inside the batch).

        ``available_now=True`` switches to the bounded-backfill trigger:
        process everything currently in the source (rate limits still
        apply per batch), then stop — the pattern for catch-up runs and
        scheduled incremental jobs.

        The source carries a named ``observe`` set (Spark Observation
        API): per-batch input rows and null/empty-payload counts ride
        the SAME job foreachBatch runs — no extra pass, exactly-once
        per batch — and surface through
        ``StreamingQueryProgress.observedMetrics["bundle_ingest"]``,
        which ThroughputListener exports as gauges next to the
        reference's row-rate metrics."""
        observed = source_df.observe(
            "bundle_ingest",
            F.count(F.lit(1)).alias("input_rows"),
            F.count_if(
                F.col("value").isNull() | (F.length("value") == 0)
            ).alias("empty_payloads"),
        )
        writer = (
            observed.writeStream.outputMode("append")
            .option(
                "checkpointLocation",
                os.path.join(self.cfg.checkpoint_dir, query_name),
            )
            .queryName(query_name)
            .foreachBatch(self.process_batch)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime="0 seconds")  # settings.py:40
        return writer.start()

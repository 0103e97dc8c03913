"""Stream/batch-agnostic bundle transforms (the engine core).

Pure DataFrame -> DataFrame functions, exactly like the reference's
BundleProcessor methods (/root/reference/src/bundle_processor.py:39-128)
— the same code path serves a streaming micro-batch and a static test
DataFrame (SURVEY §3.3). No actions, no collect: everything stays lazy
so foreachBatch decides when to execute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fhir_to_lakehouse_spark.schemas import (
    BUNDLE_SCHEMA,
    normalize_references,
    schema_for,
)


def parse_bundles(df: DataFrame) -> DataFrame:
    """Kafka value (binary) -> parsed envelope struct.

    Parity: /root/reference/src/bundle_processor.py:65-67 (P1+P2).
    The partial BUNDLE_SCHEMA keeps the inner resource as a raw string —
    column pruning means Spark never materializes fields routing doesn't
    need.
    """
    return df.withColumn("bundle", F.col("value").cast("string")).withColumn(
        "parsed_bundle", F.from_json(F.col("bundle"), BUNDLE_SCHEMA)
    )


def explode_entries(df: DataFrame) -> DataFrame:
    """Envelope -> one row per bundle entry with routing columns.

    Parity: /root/reference/src/bundle_processor.py:68-75 (P3-P7):
    explode entries, pull method/url from the request struct, split the
    url into resource_type / request_resource_id.

    Unlike the reference, the parse intermediates (raw ``value``, its
    string cast, the parsed envelope, the exploded ``entry`` struct)
    are DROPPED here: nothing downstream reads them, and keeping them
    ships four extra copies of every payload through the W1 dedup
    shuffle and the batch cache (measured at sf0.1: the post-explode
    cache shrinks 54 MB -> 4 MB, ~13x). Where the envelope parse is not
    separately cached, the drop also lets Catalyst prune the
    ``from_json`` to just ``.entry``. Dead-lettering reads the raw
    payload from the PRE-explode frame, which still has it.
    """
    url_split = F.split(F.col("request_url"), "/")
    return (
        df.withColumn("entry", F.explode("parsed_bundle.entry"))
        .withColumn("resource", F.col("entry.resource"))
        .withColumn("full_url", F.col("entry.fullUrl"))
        .withColumn("request_method", F.col("entry.request.method"))
        .withColumn("request_url", F.col("entry.request.url"))
        .withColumn("resource_type", url_split.getItem(0))
        .withColumn("request_resource_id", url_split.getItem(1))
        .drop("value", "bundle", "parsed_bundle", "entry")
    )


def prepare_stream(df: DataFrame) -> DataFrame:
    """Full input chain: parse + explode (reference prepare_stream,
    /root/reference/src/bundle_processor.py:39-77)."""
    return explode_entries(parse_bundles(df))


def latest_per_key(df: DataFrame, key: str = "request_url") -> DataFrame:
    """Last-writer-wins dedup (W1): keep the single latest event per key.

    Ordering parity with /root/reference/src/bundle_processor.py:114-128:
    ``partition ASC, offset DESC`` — the highest offset within the
    LOWEST Kafka partition wins ties (offset order, not timestamp
    order). This resolves PUT/DELETE races inside a batch; cross-batch
    correctness comes from merge idempotency.

    Scale: the ordering runs as ``min_by`` over the rank struct
    (partition, -offset) — an aggregate, not a window. The partial
    aggregate collapses each key's rows map-side before the Exchange,
    so a hot key (one resource updated millions of times in a batch)
    ships one row per upstream task instead of millions into one
    reducer. Physically Spark plans it as SortAggregate (a struct-typed
    agg buffer is not hash-aggregable), so each task sorts its input by
    ``key`` alone; shuffle volume and map-side collapse are the same as
    the row_number window form (whose WindowGroupLimit pushdown also
    limits map-side on Spark 3.5+), with a narrower sort key and no
    rank column materialized.
    """
    # (partition ASC, offset DESC) first row == argmin of the rank
    # struct (partition, -offset); struct comparison is lexicographic.
    # Kafka guarantees (partition, offset) uniqueness, so no ties.
    rank = F.struct(F.col("partition"), (-F.col("offset")).alias("neg_offset"))
    winner = F.min_by(F.struct(*df.columns), rank).alias("w")
    return df.groupBy(key).agg(winner).select("w.*")


def split_by_method(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(puts, deletes) — reference filters at
    /root/reference/src/bundle_processor.py:160 and :227."""
    return (
        df.filter(F.col("request_method") == "PUT"),
        df.filter(F.col("request_method") == "DELETE"),
    )


def encode_resources(
    df: DataFrame,
    resource_type: str,
    normalize_refs: bool = False,
    include_extensions: bool = False,
) -> DataFrame:
    """FHIR JSON string column -> typed columns (Pathling replacement).

    ``from_json`` with the curated schema for the type (SURVEY §7.3),
    plus ``resource_json`` carrying the full raw document so nothing
    outside the curated schema is lost. Replaces the JVM Pathling call
    at /root/reference/src/bundle_processor.py:162-166.

    Reference strings are stored VERBATIM by default — the same table
    format the reference's Pathling encoder writes (reference
    resolution there is a query-time concern), so tables written by an
    existing deployment and by this pipeline stay byte-compatible
    under the merge-upsert path with no migration. Normalization is a
    READ-side transform: apply :func:`resolve_references` to an
    encoded/stored frame when a query needs bare-id joins.

    ``normalize_refs=True`` opts in to encode-time normalization
    (every Reference's ``reference`` string drops its ``urn:uuid:`` /
    ``Type/`` prefix, the stripped type is recorded in the struct's
    ``type`` field) for pipelines that deliberately version their
    table format that way; the original form always survives in
    ``resource_json``. The pipeline writer exposes this as the
    explicitly-off ``normalize_references_at_write`` setting.

    ``include_extensions=True`` widens the curated schema with the
    shared FHIR ``extension`` element (the Pathling
    ``enableExtensions`` analog, schemas.EXTENSION_SCHEMA) — opt-in
    so default stored layouts never change; the view compiler's
    ``extension('url')`` paths need frames encoded this way.
    """
    schema = schema_for(resource_type, include_extensions)
    base = df.select(
        F.from_json(F.col("resource"), schema).alias("r"),
        F.col("resource").alias("resource_json"),
    )
    r = F.col("r")
    if normalize_refs:
        r = normalize_references(r, schema)
    return base.select(r.alias("r"), "resource_json").select(
        "r.*", "resource_json"
    )


def resolve_references(df: DataFrame, resource_type: str) -> DataFrame:
    """Query-time reference resolution over an encoded (or stored)
    resource frame: rebuild every FHIR Reference struct so its
    ``reference`` field is the bare target id ('urn:uuid:X' and
    'Type/X' -> 'X') and the stripped type lands in the struct's
    ``type`` field — making ``Observation.subject.reference`` join
    ``Patient.id`` with no string surgery, the way Pathling resolves
    references at query time in the reference deployment.

    Pure projection: only Reference-bearing top-level columns are
    rebuilt (schemas.normalize_references), everything else — and any
    extra columns such as ``resource_json`` — passes through
    untouched, so Catalyst still prunes unread columns and pushes
    filters below it. Ids are unique only per type: joins on the
    resolved id must keep the ``type IS NULL OR type = '<Target>'``
    guard (null type = globally-unique urn form).
    """
    schema = schema_for(resource_type)
    by_name = {f.name: f.dataType for f in schema.fields}
    cols = []
    for name in df.columns:
        dtype = by_name.get(name)
        if dtype is None:
            cols.append(F.col(name))
        else:
            cols.append(normalize_references(F.col(name), dtype).alias(name))
    return df.select(*cols)

"""Gauge-export parity with reference metrics.py (processedRowsPerSecond
+ per-topic/partition source offsets)."""

from __future__ import annotations

import time
from types import SimpleNamespace

from fhir_to_lakehouse_spark.streaming.metrics import (
    ROWS_PER_SECOND,
    SOURCE_OFFSET,
    ThroughputListener,
)


def _kafka_progress(name: str, rps: float):
    """A progress event shaped like a real Kafka-source query's."""
    src = SimpleNamespace(
        startOffset='{"fhir.msg": {"0": 10, "1": 7}}',
        endOffset='{"fhir.msg": {"0": 42, "1": 9}}',
        latestOffset='{"fhir.msg": {"0": 50, "1": 9}}',
    )
    progress = SimpleNamespace(
        name=name,
        id="qid",
        processedRowsPerSecond=rps,
        numInputRows=74,
        sources=[src],
    )
    return SimpleNamespace(progress=progress)


def test_kafka_offsets_become_labeled_gauges():
    listener = ThroughputListener()
    listener.onQueryProgress(_kafka_progress("bundles", 123.5))
    g = listener.gauges
    assert g.get(ROWS_PER_SECOND, query_name="bundles") == 123.5
    # reference exports one gauge per (type, query, topic, partition):
    # /root/reference/src/metrics.py:113-127
    assert g.get(
        SOURCE_OFFSET, type="start", query_name="bundles",
        topic="fhir.msg", partition="0",
    ) == 10.0
    assert g.get(
        SOURCE_OFFSET, type="end", query_name="bundles",
        topic="fhir.msg", partition="0",
    ) == 42.0
    assert g.get(
        SOURCE_OFFSET, type="latest", query_name="bundles",
        topic="fhir.msg", partition="1",
    ) == 9.0
    # 2 partitions x 3 kinds
    assert len(g.with_metric(SOURCE_OFFSET)) == 6
    # last-value-wins on the next batch
    listener.onQueryProgress(_kafka_progress("bundles", 99.0))
    assert g.get(ROWS_PER_SECOND, query_name="bundles") == 99.0


def test_non_kafka_offsets_kept_raw_not_gauged():
    listener = ThroughputListener()
    src = SimpleNamespace(
        startOffset='{"logOffset": 3}', endOffset="4", latestOffset=None
    )
    ev = SimpleNamespace(
        progress=SimpleNamespace(
            name="files", id="q2", processedRowsPerSecond=1.0,
            numInputRows=5, sources=[src],
        )
    )
    listener.onQueryProgress(ev)
    assert listener.offsets["files/src0/startOffset"] == {"logOffset": 3}
    assert listener.gauges.with_metric(SOURCE_OFFSET) == {}


def test_gauges_populate_from_real_micro_batch(spark, tmp_path):
    """End-to-end: a real streaming query drives the listener and the
    throughput gauge is set for the query by name."""
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.json").write_text('{"v": 1}\n{"v": 2}\n')
        stream = spark.readStream.schema("v long").json(str(src))
        q = (
            stream.writeStream.format("memory")
            .queryName("gauge_e2e")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            deadline = time.time() + 15
            while (
                time.time() < deadline
                and listener.gauges.get(ROWS_PER_SECOND, query_name="gauge_e2e")
                is None
            ):
                time.sleep(0.2)
        finally:
            q.stop()
    finally:
        spark.streams.removeListener(listener)
    assert listener.gauges.get(ROWS_PER_SECOND, query_name="gauge_e2e") is not None
    assert listener.input_rows["gauge_e2e"] == 2


def test_prometheus_bridge_is_cleanly_gated():
    """prometheus_client is absent in this container: the bridge must
    raise ImportError at construction, not fail at first push."""
    import pytest

    from fhir_to_lakehouse_spark.streaming.metrics import (
        GaugeSnapshot,
        PrometheusBridge,
    )

    try:
        import prometheus_client  # noqa: F401

        pytest.skip("prometheus_client installed; bridge is live")
    except ImportError:
        pass
    with pytest.raises(ImportError):
        PrometheusBridge(GaugeSnapshot())


def test_offset_gauges_from_kafka_double_stream(spark, tmp_path):
    """Integration: a streaming query over the Kafka semantics double
    reports Kafka-shaped offsets in progress events, and the listener
    turns them into per-topic/partition gauges — the full reference
    metrics path without a broker."""
    import time

    from fhir_to_lakehouse_spark.sources import kafka_double
    from fhir_to_lakehouse_spark.sources.kafka_double import produce

    broker = tmp_path / "broker"
    for p in (0, 1):
        produce(
            str(broker),
            "fhir.msg",
            [{"value": f"m{p}-{i}", "timestamp": 100.0 + i} for i in range(3)],
            partition=p,
        )
    kafka_double.register(spark)
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.format("kafka_double")
            .option("kafka.bootstrap.servers", str(broker))
            .option("subscribe", "fhir.msg")
            .option("startingOffsets", "earliest")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("kd_gauges")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            deadline = time.time() + 15
            while (
                time.time() < deadline
                and listener.gauges.get(
                    SOURCE_OFFSET, type="end", query_name="kd_gauges",
                    topic="fhir.msg", partition="0",
                )
                is None
            ):
                time.sleep(0.2)
        finally:
            q.stop()
    finally:
        spark.streams.removeListener(listener)
    for partition in ("0", "1"):
        assert listener.gauges.get(
            SOURCE_OFFSET, type="end", query_name="kd_gauges",
            topic="fhir.msg", partition=partition,
        ) == 3.0
    assert listener.input_rows["kd_gauges"] == 6


def test_delta_operation_timer_records_merge_and_delete(spark, tmp_path):
    """Reference delta_operations_timer parity (bundle_processor.py:
    213-233): per-operation latency lands in the pipeline's histogram,
    labeled (operation, resource_type)."""
    from tests.fixtures import KAFKA_SCHEMA, delete_bundle, kafka_row, put_bundle

    from fhir_to_lakehouse_spark.streaming.metrics import (
        DELTA_OPERATION_SECONDS,
    )
    from fhir_to_lakehouse_spark.streaming.pipeline import (
        BundlePipeline,
        PipelineConfig,
    )

    pipe = BundlePipeline(
        spark,
        PipelineConfig(
            warehouse_dir=str(tmp_path / "wh"),
            checkpoint_dir=str(tmp_path / "ck"),
            upkeep_interval=10_000,
        ),
    )
    batch1 = spark.createDataFrame(
        [kafka_row(put_bundle("Patient", "a", active=True), offset=1)],
        KAFKA_SCHEMA,
    )
    pipe.process_batch(batch1, batch_id=1)
    merge = pipe.op_timer.get(
        DELTA_OPERATION_SECONDS, operation="merge", resource_type="Patient"
    )
    assert merge is not None and merge["count"] == 1 and merge["sum"] > 0

    batch2 = spark.createDataFrame(
        [kafka_row(delete_bundle("Patient", "a"), offset=2)], KAFKA_SCHEMA
    )
    pipe.process_batch(batch2, batch_id=2)
    delete = pipe.op_timer.get(
        DELTA_OPERATION_SECONDS, operation="delete", resource_type="Patient"
    )
    assert delete is not None and delete["count"] == 1
    # no register configured -> no register series
    assert (
        pipe.op_timer.get(
            DELTA_OPERATION_SECONDS,
            operation="register",
            resource_type="Patient",
        )
        is None
    )


def test_measure_elapsed_records_on_failure():
    """A merge that throws after N seconds is exactly the observation
    an operator needs — the timer must record on the error path too."""
    import pytest as _pytest

    from fhir_to_lakehouse_spark.streaming.metrics import (
        HistogramSnapshot,
        MeasureElapsed,
    )

    h = HistogramSnapshot()
    with _pytest.raises(RuntimeError):
        with MeasureElapsed(h, "m", operation="merge"):
            raise RuntimeError("boom")
    s = h.get("m", operation="merge")
    assert s["count"] == 1 and s["sum"] >= 0


def test_observed_metrics_become_gauges(spark, tmp_path):
    """Observation-API counters attached with df.observe ride the
    batch's own job and surface through observedMetrics -> gauges
    (zero extra scans; the §2.8g path the pipeline's bundle_ingest
    observation uses)."""
    import pyspark.sql.functions as F

    from fhir_to_lakehouse_spark.streaming.metrics import OBSERVED_METRIC

    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.json").write_text('{"v": 1}\n{"v": null}\n{"v": 3}\n')
        stream = (
            spark.readStream.schema("v long")
            .json(str(src))
            .observe(
                "qa",
                F.count(F.lit(1)).alias("rows"),
                F.count_if(F.col("v").isNull()).alias("null_v"),
            )
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("observe_e2e")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            deadline = time.time() + 15
            while (
                time.time() < deadline
                and listener.gauges.get(
                    OBSERVED_METRIC,
                    query_name="observe_e2e",
                    observation="qa",
                    field="rows",
                )
                is None
            ):
                time.sleep(0.2)
        finally:
            q.stop()
    finally:
        spark.streams.removeListener(listener)
    assert (
        listener.gauges.get(
            OBSERVED_METRIC,
            query_name="observe_e2e",
            observation="qa",
            field="rows",
        )
        == 3.0
    )
    assert (
        listener.gauges.get(
            OBSERVED_METRIC,
            query_name="observe_e2e",
            observation="qa",
            field="null_v",
        )
        == 1.0
    )
    assert listener.observed["observe_e2e"]["qa"]["rows"] == 3


def test_histogram_snapshot_is_thread_safe():
    """The pipeline's per-type pool times merges from several driver
    threads into ONE histogram (VERDICT r12 item 8): hammer a shared
    series from 3 workers and assert no increment is lost — the
    read-modify-write in observe() is locked."""
    from concurrent.futures import ThreadPoolExecutor

    from fhir_to_lakehouse_spark.streaming.metrics import HistogramSnapshot

    hist = HistogramSnapshot()
    n, workers = 2000, 3

    def hammer(w: int) -> None:
        for i in range(n):
            # mixed types: a shared series plus a per-worker one
            hist.observe("op_seconds", 1.0, operation="merge")
            hist.observe("op_seconds", 0.5, operation="merge", rt=str(w))

    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(hammer, range(workers)))

    shared = hist.get("op_seconds", operation="merge")
    assert shared["count"] == n * workers
    assert shared["sum"] == n * workers * 1.0
    for w in range(workers):
        s = hist.get("op_seconds", operation="merge", rt=str(w))
        assert s["count"] == n and s["sum"] == n * 0.5


def test_histogram_snapshot_reads_are_copies():
    """get() and items() hand out copies taken under the lock: a caller
    mutating what it read leaves the store unchanged, and an
    observe() racing a reader cannot change the reader's view."""
    from fhir_to_lakehouse_spark.streaming.metrics import HistogramSnapshot

    hist = HistogramSnapshot()
    hist.observe("op_seconds", 2.0, operation="merge")
    got = hist.get("op_seconds", operation="merge")
    got["count"] = 99
    got["sum"] = -1.0
    [(key, series)] = hist.items()
    series["max"] = 1e9
    hist.observe("op_seconds", 1.0, operation="delete")
    assert hist.get("op_seconds", operation="merge") == {
        "count": 1, "sum": 2.0, "min": 2.0, "max": 2.0,
    }
    assert key == ("op_seconds", (("operation", "merge"),))
    assert series == {"count": 1, "sum": 2.0, "min": 2.0, "max": 1e9}
    assert len(hist.items()) == 2
    assert hist.get("op_seconds", operation="absent") is None


def test_gauge_items_survive_a_new_label_set_mid_export():
    """The listener thread may add a label set (a new query, topic or
    partition) while PrometheusBridge.push iterates items() on another
    thread: the export must read a copy, not the live dict."""
    from fhir_to_lakehouse_spark.streaming.metrics import GaugeSnapshot

    g = GaugeSnapshot()
    g.set(ROWS_PER_SECOND, 1.0, query_name="a")
    g.set(ROWS_PER_SECOND, 2.0, query_name="b")
    exported = []
    for key, value in g.items():
        g.set(ROWS_PER_SECOND, 3.0, query_name=f"new{len(exported)}")
        exported.append((key, value))
    assert [v for _, v in exported] == [1.0, 2.0]
    assert len(g.with_metric(ROWS_PER_SECOND)) == 4

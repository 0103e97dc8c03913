"""Streaming observability — reference metrics.py parity.

The reference (/root/reference/src/metrics.py:37-127) registers a
StreamingQueryListener that exports two OpenTelemetry gauges:

- ``spark-streaming-query-processed-rows-per-second`` labeled by
  query_name;
- ``spark-streaming-query-kafka-offset`` labeled by (type ∈
  start/end/latest, query_name, topic, partition).

This module keeps the exact same gauge model in-process: a
:class:`GaugeSnapshot` of {(metric, labels): value} that any exporter
can scrape, an optional per-sample callback, and a gated
prometheus_client bridge (the client isn't in this container; when it
is installed, the same snapshot becomes real Prometheus gauges).
"""

from __future__ import annotations

import json
from collections import defaultdict
from typing import Callable

from pyspark.sql.streaming import StreamingQueryListener

ROWS_PER_SECOND = "spark_streaming_query_processed_rows_per_second"
SOURCE_OFFSET = "spark_streaming_query_source_offset"
OBSERVED_METRIC = "spark_streaming_query_observed_metric"

# labels: a tuple of (key, value) pairs, sorted — hashable + stable
Labels = tuple[tuple[str, str], ...]


def _labels(**kv: str) -> Labels:
    return tuple(sorted((k, str(v)) for k, v in kv.items()))


class GaugeSnapshot:
    """Last-value-wins gauge store, the in-process stand-in for the
    reference's OTel meter. ``get(metric, **labels)`` reads one gauge;
    ``items()`` lists them for export.

    Single writer: only the owning ``ThroughputListener``'s listener
    thread calls ``set()``. Readers such as ``PrometheusBridge.push``
    run on other threads, so ``items()`` and ``with_metric()`` return
    copies: iterating the live dict while the listener adds a new
    label set raises "dictionary changed size during iteration"."""

    def __init__(self):
        self._values: dict[tuple[str, Labels], float] = {}

    def set(self, metric: str, value: float, **labels: str) -> None:
        self._values[(metric, _labels(**labels))] = value

    def get(self, metric: str, **labels: str) -> float | None:
        return self._values.get((metric, _labels(**labels)))

    def items(self) -> list[tuple[tuple[str, Labels], float]]:
        return list(self._values.items())

    def with_metric(self, metric: str) -> dict[Labels, float]:
        return {
            labels: v for (m, labels), v in self.items() if m == metric
        }


class ThroughputListener(StreamingQueryListener):
    """Tracks per-query throughput + per-topic/partition source offsets
    (reference QueryProgressListener,
    /root/reference/src/metrics.py:70-127)."""

    def __init__(self, export: Callable[[str, str, float], None] | None = None):
        self.rows_per_second: dict[str, float] = {}
        self.input_rows: dict[str, int] = defaultdict(int)
        self.batches: dict[str, int] = defaultdict(int)
        self.offsets: dict[str, dict] = {}
        self.observed: dict[str, dict] = {}
        self.gauges = GaugeSnapshot()
        self._export = export or (lambda name, metric, value: None)

    # -- listener API ----------------------------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        name = p.name or str(p.id)
        self.rows_per_second[name] = p.processedRowsPerSecond or 0.0
        self.input_rows[name] += int(p.numInputRows or 0)
        self.batches[name] += 1
        self.gauges.set(
            ROWS_PER_SECOND, self.rows_per_second[name], query_name=name
        )
        self._export(name, "processedRowsPerSecond", self.rows_per_second[name])
        # observedMetrics: the Observation-API counters attached with
        # df.observe(...) — computed inside the batch's own job
        # (exactly once per batch, zero extra scans). Each numeric
        # field becomes a gauge labeled by observation + metric name.
        observed = getattr(p, "observedMetrics", None) or {}
        for obs_name, row in observed.items():
            try:
                fields = row.asDict()
            except AttributeError:
                continue
            self.observed.setdefault(name, {})[obs_name] = fields
            for field, value in fields.items():
                if isinstance(value, (int, float)):
                    self.gauges.set(
                        OBSERVED_METRIC,
                        float(value),
                        query_name=name,
                        observation=obs_name,
                        field=field,
                    )
                    self._export(name, f"{obs_name}.{field}", float(value))
        # source offsets: Kafka's are {"topic": {"partition": offset}};
        # other sources expose scalars or custom dicts. Kafka-shaped
        # offsets become per-topic/partition gauges exactly like the
        # reference (/root/reference/src/metrics.py:100-127); anything
        # else is kept raw in self.offsets for inspection.
        for i, src in enumerate(p.sources or []):
            for kind, label in (
                ("startOffset", "start"),
                ("endOffset", "end"),
                ("latestOffset", "latest"),
            ):
                raw = getattr(src, kind, None)
                if raw is None or raw == "None":
                    continue
                try:
                    parsed = json.loads(raw) if isinstance(raw, str) else raw
                except (TypeError, ValueError):
                    parsed = raw
                self.offsets[f"{name}/src{i}/{kind}"] = parsed
                self._gauge_offsets(name, label, parsed)

    def _gauge_offsets(self, query_name: str, kind: str, parsed) -> None:
        if not isinstance(parsed, dict):
            return
        for topic, partitions in parsed.items():
            if not isinstance(partitions, dict):
                continue
            for partition, offset in partitions.items():
                if isinstance(offset, (int, float)):
                    self.gauges.set(
                        SOURCE_OFFSET,
                        float(offset),
                        type=kind,
                        query_name=query_name,
                        topic=topic,
                        partition=partition,
                    )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class PrometheusBridge:
    """Optional Prometheus exporter over a GaugeSnapshot. Gated on
    prometheus_client being installed (it is not in this container);
    construction raises ImportError otherwise, so callers opt in with
    a try/except, never pay for it silently.

    Reference parity: start_http_server + the two gauges the reference
    registers at /root/reference/src/metrics.py:39-49 & main.py.
    """

    def __init__(self, snapshot: GaugeSnapshot, port: int = 8000,
                 addr: str = "127.0.0.1"):
        import prometheus_client  # gated import

        self._client = prometheus_client
        self._snapshot = snapshot
        self._gauges: dict[tuple[str, tuple[str, ...]], object] = {}
        # a private registry per bridge: registering gauges in the
        # process-global default registry makes the SECOND bridge in a
        # process (stream restart, two queries) die with "Duplicated
        # timeseries in CollectorRegistry"
        self._registry = prometheus_client.CollectorRegistry()
        prometheus_client.start_http_server(port, addr, registry=self._registry)

    def push(self) -> None:
        """Publish every snapshot gauge to the Prometheus registry."""
        for (metric, labels), value in self._snapshot.items():
            names = tuple(k for k, _ in labels)
            key = (metric, names)
            if key not in self._gauges:
                self._gauges[key] = self._client.Gauge(
                    metric, metric.replace("_", " "), names,
                    registry=self._registry,
                )
            gauge = self._gauges[key]
            if names:
                gauge = gauge.labels(*(v for _, v in labels))
            gauge.set(value)


DELTA_OPERATION_SECONDS = "delta_operation_duration_seconds"


class HistogramSnapshot:
    """In-process histogram store (count/sum/min/max per labeled
    series) — the stand-in for the reference's OTel histogram
    ``delta-operation-duration`` (/root/reference/src/metrics.py:21-34),
    same design as :class:`GaugeSnapshot`."""

    def __init__(self):
        import threading

        self._series: dict[tuple[str, Labels], dict[str, float]] = {}
        # observe() is read-modify-write; the pipeline's per-type
        # thread pool (BundlePipeline.process_batch) times merges from
        # several driver threads into ONE histogram, and two types
        # sharing a (metric, labels) series would race the increments.
        # Lock here, in the metrics object, so every caller is safe —
        # the critical section is a dict update, contention is nil.
        self._lock = threading.Lock()

    def observe(self, metric: str, value: float, **labels: str) -> None:
        key = (metric, _labels(**labels))
        with self._lock:
            s = self._series.get(key)
            if s is None:
                self._series[key] = {
                    "count": 1, "sum": value, "min": value, "max": value,
                }
            else:
                s["count"] += 1
                s["sum"] += value
                s["min"] = min(s["min"], value)
                s["max"] = max(s["max"], value)

    # readers get copies taken under the lock: a live dict would change
    # (or fail to iterate) while a pool thread observes into it
    def get(self, metric: str, **labels: str) -> dict[str, float] | None:
        with self._lock:
            s = self._series.get((metric, _labels(**labels)))
            return dict(s) if s is not None else None

    def items(self) -> list[tuple[tuple[str, Labels], dict[str, float]]]:
        with self._lock:
            return [(k, dict(v)) for k, v in self._series.items()]


class MeasureElapsed:
    """Context manager timing a block into a HistogramSnapshot series
    (reference metrics.py:17-34: MeasureElapsed over an OTel
    histogram). Records on BOTH success and failure — a merge that
    throws after 30 s is exactly the observation an operator needs."""

    def __init__(self, hist: HistogramSnapshot, metric: str, **labels: str):
        self._hist = hist
        self._metric = metric
        self._labels = labels

    def __enter__(self):
        import time

        self._t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        import time

        self._hist.observe(
            self._metric,
            time.perf_counter() - self._t0,
            **self._labels,
        )
        return False

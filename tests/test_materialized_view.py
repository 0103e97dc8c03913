"""MaterializedFlatView: incremental view maintenance off the change
feed equals a from-scratch recompute after every kind of change
(insert, update, delete), the refresh reads only the delta, and the
guardrails hold."""

from __future__ import annotations

import json

import pytest

from fhir_to_lakehouse_spark.operators.bundles import encode_resources
from fhir_to_lakehouse_spark.operators.materialized_view import (
    MaterializedFlatView,
)
from fhir_to_lakehouse_spark.operators.view_definition import (
    ViewCompileError,
    compile_view,
)
from fhir_to_lakehouse_spark.sinks.keyed_table import KeyedTable
from tests.conftest import jobs_in

VIEW = {
    "name": "patient_flat",
    "resource": "Patient",
    "select": [
        {
            "column": [
                {"name": "pid", "path": "getResourceKey()"},
                {"name": "gender", "path": "gender"},
            ]
        },
        {
            # multi-row-per-resource: exercises whole-key-group swap
            "forEachOrNull": "name",
            "column": [{"name": "family", "path": "family"}],
        },
    ],
}


def _patient(pid, gender="female", families=("A",)):
    return {
        "resourceType": "Patient",
        "id": pid,
        "gender": gender,
        "name": [{"family": f} for f in families],
    }


def _enc(spark, patients):
    return encode_resources(
        spark.createDataFrame(
            [(json.dumps(p),) for p in patients], "resource string"
        ),
        "Patient",
    ).select("id", "gender", "name", "resource_json")


def _rows(df):
    return sorted(
        (r.pid, r.gender, r.family) for r in df.collect()
    )


def test_incremental_equals_recompute(spark, tmp_path):
    src = KeyedTable(spark, str(tmp_path / "Patient.parquet"), changelog=True)
    src.merge_upsert(_enc(spark, [_patient("p1"), _patient("p2", "male")]))

    mv = MaterializedFlatView(VIEW, src, str(tmp_path / "patient_flat"))
    stats = mv.refresh()
    assert stats["mode"] == "full"
    assert _rows(mv.read()) == _rows(compile_view(VIEW, src.to_df()))

    # refresh with no new commits is a no-op
    assert mv.refresh()["mode"] == "noop"

    # insert + update in one commit: only 2 resources recompiled
    src.merge_upsert(
        _enc(
            spark,
            [
                _patient("p3", "other", families=("X", "Y")),
                _patient("p1", "female", families=("A2",)),
            ],
        )
    )
    stats = mv.refresh()
    assert stats["mode"] == "incremental"
    assert stats["resources"] == 2
    assert _rows(mv.read()) == _rows(compile_view(VIEW, src.to_df()))
    # the update replaced p1's whole key-group (old family gone)
    fams = {r.family for r in mv.read().collect() if r.pid == "p1"}
    assert fams == {"A2"}

    # delete drops the key-group
    src.merge_delete(spark.createDataFrame([("p2",)], "id string"))
    stats = mv.refresh()
    assert stats["mode"] == "incremental"
    assert stats["resources"] == 1
    assert _rows(mv.read()) == _rows(compile_view(VIEW, src.to_df()))
    assert not [r for r in mv.read().collect() if r.pid == "p2"]


def test_refresh_never_scans_source_table(spark, tmp_path, monkeypatch):
    """After the initial build, refresh derives new rows from the
    change feed's post-images — to_df() must not be called again."""
    src = KeyedTable(spark, str(tmp_path / "Patient.parquet"), changelog=True)
    src.merge_upsert(_enc(spark, [_patient("p1")]))
    mv = MaterializedFlatView(VIEW, src, str(tmp_path / "v"))
    mv.refresh()

    def boom():
        raise AssertionError("refresh scanned the source table")

    src.merge_upsert(_enc(spark, [_patient("p9", "male")]))
    monkeypatch.setattr(src, "to_df", boom)
    stats = mv.refresh()
    assert stats["resources"] == 1
    assert ("p9", "male", "A") in _rows(mv.read())


def test_read_after_refresh_runs_no_job(spark, tmp_path):
    """read() of the materialization a refresh just published passes
    the schema the publish recorded: no schema-inference job."""
    src = KeyedTable(spark, str(tmp_path / "Patient.parquet"), changelog=True)
    src.merge_upsert(_enc(spark, [_patient("p1"), _patient("p2", "male")]))
    mv = MaterializedFlatView(VIEW, src, str(tmp_path / "v"))
    mv.refresh()
    src.merge_upsert(_enc(spark, [_patient("p1", "other")]))
    assert mv.refresh()["mode"] == "incremental"
    with jobs_in(spark) as jobs:
        out = mv.read()
    assert jobs == []
    assert out.schema == spark.read.parquet(mv.path).schema
    assert _rows(out) == _rows(compile_view(VIEW, src.to_df()))


def test_guardrails(spark, tmp_path):
    src_nolog = KeyedTable(spark, str(tmp_path / "t.parquet"))
    with pytest.raises(ValueError, match="changelog=True"):
        MaterializedFlatView(VIEW, src_nolog, str(tmp_path / "v"))

    src = KeyedTable(spark, str(tmp_path / "t2.parquet"), changelog=True)
    keyless = {
        "resource": "Patient",
        "select": [{"column": [{"name": "g", "path": "gender"}]}],
    }
    with pytest.raises(ViewCompileError, match="getResourceKey"):
        MaterializedFlatView(keyless, src, str(tmp_path / "v2"))


def test_crash_leaves_old_materialization(spark, tmp_path, monkeypatch):
    """A refresh that dies mid-write must leave the previous
    materialization readable (tmp-dir + rename atomicity)."""
    import os

    src = KeyedTable(spark, str(tmp_path / "Patient.parquet"), changelog=True)
    src.merge_upsert(_enc(spark, [_patient("p1")]))
    mv = MaterializedFlatView(VIEW, src, str(tmp_path / "v"))
    mv.refresh()
    before = _rows(mv.read())

    real_rename = os.rename

    def failing_rename(a, b):
        # fail only the swap-in of the NEW data; the restore rename
        # (.tmp-old- source) must keep working, as it would in a real
        # failure of just that one syscall
        if ".tmp-" in a and ".tmp-old-" not in a and str(tmp_path / "v") == b:
            raise OSError("simulated crash at swap")
        return real_rename(a, b)

    src.merge_upsert(_enc(spark, [_patient("p2", "male")]))
    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated"):
        mv.refresh()
    monkeypatch.undo()
    # old data intact, version NOT advanced -> next refresh catches up
    assert _rows(mv.read()) == before
    stats = mv.refresh()
    assert stats["mode"] == "incremental"
    assert _rows(mv.read()) == _rows(compile_view(VIEW, src.to_df()))


def test_pipeline_upkeep_refreshes_views(spark, tmp_path):
    """End-to-end stream story: bundles through the pipeline, flat
    view refreshed at the upkeep cadence — insert, update, and delete
    all land in the materialization."""
    from fhir_to_lakehouse_spark.streaming.pipeline import (
        BundlePipeline,
        PipelineConfig,
    )
    from tests.fixtures import delete_bundle, kafka_row, put_bundle

    view = {
        "name": "patient_flat",
        "resource": "Patient",
        "select": [
            {
                "column": [
                    {"name": "pid", "path": "getResourceKey()"},
                    {"name": "gender", "path": "gender"},
                ]
            }
        ],
    }
    dest = str(tmp_path / "patient_flat")
    cfg = PipelineConfig(
        warehouse_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ck"),
        materialized_views=[(view, dest)],
    )
    pipe = BundlePipeline(spark, cfg)
    # the view's table gets its change feed turned on automatically
    assert pipe.table("Patient").changelog is True
    assert pipe.table("Condition").changelog is False

    def batch(rows):
        from tests.fixtures import KAFKA_SCHEMA

        return spark.createDataFrame(rows, KAFKA_SCHEMA)

    pipe.process_batch(
        batch(
            [
                kafka_row(
                    put_bundle("Patient", "p1", gender="female"),
                    offset=0,
                ),
                kafka_row(
                    put_bundle("Patient", "p2", gender="male"), offset=1
                ),
            ]
        ),
        batch_id=0,
    )
    # batch 0 hits the upkeep cadence, which already built the view —
    # the pipeline refreshes without being asked
    import os

    assert os.path.exists(dest)
    got = {r.pid: r.gender for r in spark.read.parquet(dest).collect()}
    assert got == {"p1": "female", "p2": "male"}
    assert pipe.refresh_views()[0]["mode"] == "noop"

    pipe.process_batch(
        batch(
            [
                kafka_row(
                    put_bundle("Patient", "p1", gender="other"), offset=2
                ),
                kafka_row(delete_bundle("Patient", "p2"), offset=3),
            ]
        ),
        batch_id=1,
    )
    stats = pipe.refresh_views()
    assert stats[0]["mode"] == "incremental"
    got = {r.pid: r.gender for r in spark.read.parquet(dest).collect()}
    assert got == {"p1": "other"}
